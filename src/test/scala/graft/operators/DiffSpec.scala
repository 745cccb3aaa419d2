package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DiffSpec extends SparkTestBase {

  test("classifies added / removed / changed / unchanged on a known pair") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "A", 10.0), // unchanged
      (2L, "B", 20.0), // changed (value)
      (3L, "C", 30.0)  // removed
    ).toDF("k", "s", "v")
    val newSnap = Seq(
      (1L, "A", 10.0),
      (2L, "B", 21.0),
      (4L, "D", 40.0)  // added
    ).toDF("k", "s", "v")
    val out = Diff.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change")).toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("null vs empty-string and field-boundary shifts are CHANGES, null==null is not") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, Option.empty[String], Option("x")),
      (2L, Option("ab"), Option("c")),
      (3L, Option.empty[String], Option.empty[String])
    ).toDF("k", "a", "b")
    val newSnap = Seq(
      (1L, Option(""), Option("x")),   // null -> '' must be 'changed'
      (2L, Option("a"), Option("bc")), // ("ab","c") vs ("a","bc") must differ
      (3L, Option.empty[String], Option.empty[String]) // null==null: unchanged
    ).toDF("k", "a", "b")
    val out = Diff.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("a", "b"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change")).toMap
    assert(out === Map(1L -> "changed", 2L -> "changed", 3L -> "unchanged"))
  }

  test("composite keys and identity diff") {
    import spark.implicits._
    val snap = Seq((1L, "x", 1.0), (1L, "y", 2.0), (2L, "x", 3.0)).toDF("k1", "k2", "v")
    val out = Diff.snapshotDiff(snap, snap, Seq("k1", "k2"), Seq("v"))
    assert(out.count() === 3)
    assert(out.where(col("change") =!= "unchanged").count() === 0)
  }

  test("diff over equal-bucketed snapshots plans with zero Exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_diff_bucket").toString
    val wh = graft.etl.ParquetWarehouse(spark, dir)
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    wh.writeBucketed("d_old", orders.where(pmod(col("o_orderkey"), lit(10)) =!= 3),
      4, Seq("o_orderkey"), Seq("o_orderkey"))
    wh.writeBucketed("d_new", orders.where(pmod(col("o_orderkey"), lit(10)) =!= 7),
      4, Seq("o_orderkey"), Seq("o_orderkey"))
    try {
      val diff = Diff.snapshotDiff(wh.readTable("d_old"), wh.readTable("d_new"),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      val counts = diff.groupBy("change").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts("added") > 0 && counts("removed") > 0 && counts("unchanged") > 0)
      // the digest projection preserves the bucketed distribution, so the
      // full-outer sort-merge join needs NO shuffle on either snapshot
      val joinPlan = diff.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange"),
        s"bucketed snapshot diff must not shuffle either side:\n$joinPlan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS d_old")
      spark.sql("DROP TABLE IF EXISTS d_new")
    }
  }

  test("result is invariant to input partitioning") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val oldSnap = orders.where(pmod(col("o_orderkey"), lit(10)) =!= 3)
    val newSnap = orders.where(pmod(col("o_orderkey"), lit(10)) =!= 7)
    val a = Diff.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"), Seq("o_totalprice"))
    val b = Diff.snapshotDiff(oldSnap.repartition(13), newSnap.repartition(7),
      Seq("o_orderkey"), Seq("o_totalprice"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
