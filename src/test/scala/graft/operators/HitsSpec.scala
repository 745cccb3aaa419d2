package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class HitsSpec extends SparkTestBase {
  import spark.implicits._

  // 1→{10,11}, 2→{10}: node 1 is the better hub (points at both
  // authorities), node 10 the better authority (pointed at by both hubs)
  private val edges = Seq(1L -> 10L, 1L -> 11L, 2L -> 10L).toDF("s", "d")

  test("two unrolled iterations land on the hand-computed 9-decimal grid") {
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val out = Hits.hits(edges, "s", "d", iterations = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the result reads the last hub and authority generations; the edge
    // table and every superseded generation are freed
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore + 2)
    // iter 1: a_raw=(2,1) S=3 → a=(0.666666667, 0.333333333);
    //         h_raw=(1.0, 0.666666667) S=1.666666667 → h=(0.6, 0.4)
    // iter 2: a_raw=(1.0, 0.6) S=1.6 → a=(0.625, 0.375);
    //         h_raw=(1.0, 0.625) S=1.625 → h=(0.615384615, 0.384615385)
    assert(out(("authority", 10L)) === 0.625)
    assert(out(("authority", 11L)) === 0.375)
    assert(out(("hub", 1L)) === 0.615384615)
    assert(out(("hub", 2L)) === 0.384615385)
  }

  test("duplicate edges collapse — multiplicity is not signal") {
    val dup = edges.unionByName(Seq(2L -> 10L, 2L -> 10L).toDF("s", "d"))
    val a = Hits.hits(dup, "s", "d", 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val b = Hits.hits(edges, "s", "d", 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(a === b)
  }

  test("scores are L1-normalized per side and invariant to input partitioning") {
    val out = Hits.hits(edges.repartition(7), "s", "d", 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("hub", 1L)) === 0.615384615)
    val hubSum = out.collect { case (("hub", _), v) => v }.sum
    val authSum = out.collect { case (("authority", _), v) => v }.sum
    assert(math.abs(hubSum - 1.0) < 1e-8 && math.abs(authSum - 1.0) < 1e-8)
  }

  test("a node on both sides of edges gets one row per kind") {
    val chain = Seq(1L -> 2L, 2L -> 3L).toDF("s", "d")
    val rows = Hits.hits(chain, "s", "d", 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows === Set(("hub", 1L), ("hub", 2L), ("authority", 2L), ("authority", 3L)))
  }
}
