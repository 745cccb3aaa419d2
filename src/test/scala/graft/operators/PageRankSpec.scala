package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  test("regular graph is a fixpoint: every rank stays exactly 1.0") {
    // 4-cycle: every vertex has degree 2 and two in-neighbors each
    // contributing rank/2 -> new rank = 0.15 + 0.85·1 = 1.0 forever
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val ranks = PageRank.pageRank(cycle, "a", "b", iterations = 5).collect()
    assert(ranks.length === 4)
    ranks.foreach(r => assert(r.getAs[Double]("rank") === 1.0))
  }

  test("star graph: the hub out-ranks the leaves, mass is conserved-ish") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("a", "b")
    val ranks = PageRank.pageRank(star, "a", "b", iterations = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap
    assert(ranks.size === 5)
    val leafRanks = (1L to 4L).map(ranks)
    assert(leafRanks.distinct.size === 1, "symmetric leaves must tie exactly")
    assert(ranks(0L) > leafRanks.head, "hub must out-rank leaves")
    // damped total stays near n (no dangling mass on an undirected graph)
    assert(math.abs(ranks.values.sum - 5.0) < 0.2)
  }

  test("deterministic on any partitioning; only edge-endpoint vertices appear") {
    val edges = Seq((10L, 20L), (20L, 30L), (10L, 30L), (40L, 50L)).toDF("a", "b")
    val a = PageRank.pageRank(edges, "a", "b", iterations = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val b = PageRank.pageRank(edges.repartition(7), "a", "b", iterations = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(a === b)
    assert(a.map(_._1) === Set(10L, 20L, 30L, 40L, 50L))
    // the triangle is regular (deg 2 all) -> ranks exactly 1.0; the
    // isolated pair is regular too
    a.foreach { case (_, r) => assert(r === 1.0) }

    // disjoint copies never interact: every vertex of an id-shifted copy
    // of a non-regular graph carries its base vertex's rank exactly
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L)).toDF("a", "b")
    def ranks(g: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      PageRank.pageRank(g, "a", "b", iterations = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val base = ranks(star)
    assert(base.values.toSet.size > 1, "the base graph must not be regular")
    assert(ranks(star.union(star.select($"a" + 100L, $"b" + 100L))) ===
      base ++ base.map { case (v, r) => (v + 100L) -> r })
  }

  test("hand-stepped path graph matches the decimal-quantized arithmetic") {
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    def step(r1: Double, r2: Double, r3: Double): (Double, Double, Double) = {
      def q(x: Double): BigDecimal =
        BigDecimal(x.toString).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      def rnd(x: Double): Double =
        BigDecimal(x.toString).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val n1 = rnd((1.0 - 0.85) + 0.85 * q(r2 / 2).toDouble)
      val n2 = rnd((1.0 - 0.85) + 0.85 * (q(r1 / 1) + q(r3 / 1)).toDouble)
      val n3 = rnd((1.0 - 0.85) + 0.85 * q(r2 / 2).toDouble)
      (n1, n2, n3)
    }
    var state = (1.0, 1.0, 1.0)
    (1 to 3).foreach(_ => state = step(state._1, state._2, state._3))
    val got = PageRank.pageRank(path, "a", "b", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === state._1)
    assert(got(2L) === state._2)
    assert(got(3L) === state._3)
  }

  test("personalized: hand-computed path graph, teleport pinned to seed 1") {
    // path 1-2-3, seed {1}, t = [1,0,0], r0 = t; hand-unrolled:
    //   r1 = [0.15, 0.85, 0]
    //   r2 = [0.51125, 0.1275, 0.36125]
    //   r3 = [0.2041875, 0.741625, 0.0541875]
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = PageRank.personalizedPageRank(path, "a", "b",
        Seq(1L).toDF("doc_id"), "doc_id", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 0.2041875)
    assert(got(2L) === 0.741625)
    assert(got(3L) === 0.0541875)
  }

  test("personalized: rank decays with graph distance from the seed") {
    // path 0-1-2-3-4-5, seed {0}: monotone decay along the path after
    // enough iterations for mass to reach the far end
    val path = (0L to 4L).map(i => (i, i + 1)).toDF("a", "b")
    val got = PageRank.personalizedPageRank(path, "a", "b",
        Seq(0L).toDF("id"), "id", iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === 6)
    assert(got(5L) > 0.0, "mass must reach the far end after 6 iterations")
    assert(got(1L) > got(3L) && got(3L) > got(5L),
      s"rank must decay with distance from the seed: $got")
  }

  test("personalized: a component with no seed drains to zero") {
    // two disjoint edges; seed only in the first component
    val g = Seq((1L, 2L), (10L, 11L)).toDF("a", "b")
    val got = PageRank.personalizedPageRank(g, "a", "b",
        Seq(1L).toDF("id"), "id", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(10L) === 0.0 && got(11L) === 0.0)
    assert(got(1L) > 0.0 && got(2L) > 0.0)
  }

  test("personalized: deterministic across repartitioning") {
    val edges = (1L to 60L).map(i => (i, i % 20)).toDF("a", "b")
    val seeds = Seq(0L, 7L).toDF("id")
    val a = PageRank.personalizedPageRank(edges, "a", "b", seeds, "id", 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val b = PageRank.personalizedPageRank(edges.repartition(7), "a", "b",
        seeds, "id", 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(a === b)
  }
}
