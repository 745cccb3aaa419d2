package graft.operators

import graft.SparkTestBase

class GraphStatsSpec extends SparkTestBase {
  import spark.implicits._

  private def stats(edges: Seq[(Long, Long)]) =
    GraphStats.triangleStats(edges.toDF("a", "b"), "a", "b").head

  test("a triangle is one triangle, three wedges, clustering 1") {
    val r = stats(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(r.getAs[Long]("n_vertices") === 3L)
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Long]("n_wedges") === 3L)
    assert(r.getAs[Long]("n_triangles") === 1L)
    assert(r.getAs[Double]("global_clustering") === 1.0)
  }

  test("a star has wedges but no triangles; clustering 0") {
    val r = stats(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    assert(r.getAs[Long]("n_wedges") === 6L)
    assert(r.getAs[Long]("n_triangles") === 0L)
    assert(r.getAs[Double]("global_clustering") === 0.0)
  }

  test("K4: 4 triangles, 12 wedges, clustering 1") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val r = stats(k4)
    assert(r.getAs[Long]("n_edges") === 6L)
    assert(r.getAs[Long]("n_triangles") === 4L)
    assert(r.getAs[Long]("n_wedges") === 12L)
    assert(r.getAs[Double]("global_clustering") === 1.0)
  }

  test("duplicate, reversed, and self edges collapse; result is partition-invariant") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 2L))
    val a = stats(messy).toSeq
    val b = GraphStats.triangleStats(
      messy.toDF("a", "b").repartition(7), "a", "b").head.toSeq
    assert(a === b)
    assert(a(3) === 1L) // still exactly one triangle
  }

  test("an empty pair table reports all-zero stats, never an NPE") {
    val r = stats(Seq.empty)
    assert(r.toSeq === Seq(0L, 0L, 0L, 0L, 0.0))
  }

  test("bowtie: two triangles sharing a vertex — the shared hub closes nothing extra") {
    val r = stats(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)))
    assert(r.getAs[Long]("n_triangles") === 2L)
    // wedges: deg(3)=4 -> 6, four deg-2 vertices -> 1 each = 10
    assert(r.getAs[Long]("n_wedges") === 10L)
    assert(r.getAs[Double]("global_clustering") === 0.6)
  }

  test("assortativity: star is perfectly disassortative, cycle degenerate, mixed hand value") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val s = GraphStats.assortativity(star, "a", "b").head
    assert(s.getLong(0) === 4L && s.getLong(1) === 3L && s.getDouble(2) === -1.0)
    // a cycle is degree-regular: zero variance → null, never NaN
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    assert(GraphStats.assortativity(cycle, "a", "b").head.isNullAt(2))
    // triangle + pendant: r = -20/28 = -0.714285714 by hand
    val mixed = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    assert(GraphStats.assortativity(mixed, "a", "b").head.getDouble(2) === -0.714285714)
    // duplicate/reversed/self edges collapse first
    val messy = mixed.unionByName(Seq((2L, 1L), (3L, 3L)).toDF("a", "b"))
    assert(GraphStats.assortativity(messy.repartition(5), "a", "b").head.getDouble(2)
      === -0.714285714)
  }

  test("kCorePeel: triangle survives 2-core, pendant peels, convergence flags") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val (out, cached) = leftCached(GraphStats.kCorePeel(edges, "a", "b", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
    // the result reads the last survivor and edge generations only
    assert(cached <= 2)
    assert(out === Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((2L, 1L))),
      "the triangle is the 2-core; degree excludes the peeled pendant edge")
  }

  test("kCorePeel: a chain cascades away round by round; unconverged flags 0") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r1 = GraphStats.kCorePeel(chain, "a", "b", 2, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(r1.keySet === Set(2L, 3L), "one peel keeps the middle")
    assert(r1.values.forall(_ === 0L), "rounds=1 cannot certify convergence")
    val r2 = GraphStats.kCorePeel(chain, "a", "b", 2, 2).collect()
    assert(r2.isEmpty, "the second peel empties the chain")
  }

  test("kCorePeel: duplicate and self edges collapse; partition invariance") {
    import spark.implicits._
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (1L, 3L), (1L, 2L))
      .toDF("a", "b")
    val a = GraphStats.kCorePeel(messy.repartition(5), "a", "b", 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === Set((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
  }
}
