package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SurrogateKeysSpec extends SparkTestBase {
  import spark.implicits._

  test("scalable id equals window id on the same ordering") {
    val df = spark.range(0, 10000).select(
      (col("id") * 2654435761L % 9973).as("k"),
      col("id").as("orig"))
    val windowed = SurrogateKeys.withWindowId(df, "sid", Seq(col("k"), col("orig")))
      .select("orig", "sid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scaled = SurrogateKeys.withScalableId(df, "sid", Seq(col("k"), col("orig")), numPartitions = 7)
      .select("orig", "sid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(windowed === scaled)
  }

  test("incremental ids preserve existing assignments across successive loads") {
    val round1 = Seq("b", "d").toDF("k")
    val empty = Seq.empty[(String, Long)].toDF("k", "dim_id")
    val dim1 = SurrogateKeys.withIncrementalId(empty, round1, "dim_id", Seq("k"))
    val m1 = dim1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m1 === Map("b" -> 1L, "d" -> 2L))
    // round 2 re-delivers old keys plus new ones, in an order that would
    // re-key b and d if the load were a fresh dense 1..n
    val round2 = Seq("a", "b", "c", "d", "e").toDF("k")
    val dim2 = SurrogateKeys.withIncrementalId(dim1, round2, "dim_id", Seq("k"))
    val m2 = dim2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m2("b") === 1L && m2("d") === 2L, "existing ids must survive")
    assert(m2 === Map("b" -> 1L, "d" -> 2L, "a" -> 3L, "c" -> 4L, "e" -> 5L))
    // idempotent: replaying round 2 changes nothing
    val dim3 = SurrogateKeys.withIncrementalId(dim2, round2, "dim_id", Seq("k"))
    assert(dim3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === m2)
  }

  test("incremental ids treat a null natural key as one stable entity") {
    // a plain equi-anti-join would classify the null key as "new" every
    // load (null = null is not true) — one duplicate null row per round
    // with a fresh id each time
    val empty = Seq.empty[(String, Long)].toDF("k", "dim_id")
    val withNull = Seq(Some("a"), None).map(_.orNull).toDF("k")
    val dim1 = SurrogateKeys.withIncrementalId(empty, withNull, "dim_id", Seq("k"))
    val m1 = dim1.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(m1.size === 2 && m1.contains(None))
    val dim2 = SurrogateKeys.withIncrementalId(dim1, withNull, "dim_id", Seq("k"))
    val m2 = dim2.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(m2 === m1, "replay must not re-key or duplicate the null entity")
  }

  test("ids are dense 1..n") {
    val df = Seq("c", "a", "b").toDF("v")
    val out = SurrogateKeys.withScalableId(df, "id", Seq(col("v"))).collect()
      .map(r => r.getAs[String]("v") -> r.getAs[Long]("id")).toMap
    assert(out === Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("scalable id output carries the exact row count and a finite size") {
    // a relation without statistics reads as spark.sql.defaultSizeInBytes,
    // which sends every size-driven layout downstream to its clamp
    val df = spark.range(0, 1234).select(col("id"), (col("id") % 7).as("k"))
    val stats = SurrogateKeys.withScalableId(df, "sid", Seq(col("k"), col("id")), numPartitions = 3)
      .queryExecution.optimizedPlan.stats
    assert(stats.rowCount === Some(BigInt(1234)))
    assert(stats.sizeInBytes > 0 &&
      stats.sizeInBytes < spark.sessionState.conf.defaultSizeInBytes,
      s"sizeInBytes=${stats.sizeInBytes}")
  }

  test("string (with nulls), double, date and long columns round-trip through the id pass") {
    val rows = (0 until 500).map { i =>
      (i.toLong,
       if (i % 5 == 0) null else s"s${i % 37}",
       if (i % 11 == 0) null else "ÁÑ-" * (i % 4),
       i * 0.25 - 3.0,
       java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i % 400L)))
    }
    val df = rows.toDF("l", "s", "u", "d", "dt")
    val out = SurrogateKeys.withScalableId(df, "sid", Seq(col("s"), col("l")), numPartitions = 4)
    assert(out.schema === df.schema.add("sid", "long", nullable = false))
    def key(r: org.apache.spark.sql.Row) = r.getLong(0)
    assert(out.drop("sid").collect().sortBy(key).toSeq === df.collect().sortBy(key).toSeq)
    val ids = out.select("sid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (1L to 500L))
  }
}
