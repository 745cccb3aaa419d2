package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DbscanSpec extends SparkTestBase {
  import spark.implicits._

  private def run(points: Seq[Long], pairs: Seq[(Long, Long)], minPts: Int) = {
    val pts = points.toDF("id")
    val p = pairs.toDF("id_a", "id_b")
    Dbscan.fromPairs(pts, "id", p, "id_a", "id_b", minPts)
      .as[(Long, String, Option[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("cores cluster by component, borders attach, isolated points are noise") {
    // 1-2-3 chain plus 3-4; with minPts=2 cores are {2,3}; 1 and 4 are
    // borders of the {2,3} cluster; 9 has one neighbor 10 (both non-core
    // with no core neighbor -> noise); 42 is fully isolated.
    val got = run(
      points = Seq(1L, 2L, 3L, 4L, 9L, 10L, 42L),
      pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)),
      minPts = 2)
    assert(got(2L) == (("core", Some(2L))))
    assert(got(3L) == (("core", Some(2L))))
    assert(got(1L) == (("border", Some(2L))))
    assert(got(4L) == (("border", Some(2L))))
    assert(got(9L) == (("noise", None)))
    assert(got(10L) == (("noise", None)))
    assert(got(42L) == (("noise", None)))
  }

  test("isolated core (no core neighbor) seeds its own cluster") {
    // 5 has neighbors 6 and 7 (degree 2 = core); 6 and 7 have degree 1
    // (border). No core-core edge exists, so 5 labels itself.
    val got = run(Seq(5L, 6L, 7L), Seq((5L, 6L), (5L, 7L)), minPts = 2)
    assert(got(5L) == (("core", Some(5L))))
    assert(got(6L) == (("border", Some(5L))))
    assert(got(7L) == (("border", Some(5L))))
  }

  test("border adjacent to two clusters takes the min cluster label") {
    // two triangles {1,2,3} and {11,12,13} (all cores at minPts=2), plus
    // point 20 adjacent to core 3 and core 11 only (degree 2 WOULD make it
    // core at minPts=2, so use minPts=3: triangle members keep degree
    // >= 3 via 20's extra edges? no — raise triangle density instead).
    // Simplest: minPts=2, give 20 exactly one edge into each cluster ->
    // degree 2 = core. To keep 20 a BORDER use minPts=3 and make the
    // triangles 4-cliques.
    val clique = (base: Long) => for {
      a <- 0 to 3; b <- (a + 1) to 3
    } yield (base + a, base + b)
    val pairs = (clique(1L) ++ clique(11L) ++ Seq((3L, 20L), (11L, 20L))).distinct
    val got = run((1L to 4L) ++ (11L to 14L) :+ 20L, pairs, minPts = 3)
    // 4-clique members: degree 3 (+1 for 3 and 11) -> all core
    assert((1L to 4L).forall(i => got(i) == (("core", Some(1L)))))
    assert((11L to 14L).forall(i => got(i) == (("core", Some(11L)))))
    // 20: degree 2 < 3 -> border; adjacent cores have labels 1 and 11 -> min 1
    assert(got(20L) == (("border", Some(1L))))
  }

  test("a planted self-pair cannot promote a border point to core") {
    // 1-2-3 chain at minPts=2: 1 has degree 1 -> border of {2,3}'s
    // cluster. A self-pair (1,1) from an arbitrary pair table would
    // add 2 to 1's doubled-edge degree (3 >= 2) and silently flip it to
    // core; the src =!= dst filter must drop it. Null endpoints are also
    // planted to pin the same defensive filter.
    val got = run(
      points = Seq(1L, 2L, 3L),
      pairs = Seq((1L, 2L), (2L, 3L), (1L, 1L)),
      minPts = 2)
    assert(got(1L) == (("border", Some(2L))), s"self-pair inflated a degree: $got")
    assert(got(2L) == (("core", Some(2L))))
    assert(got(3L) == (("border", Some(2L))))
  }

  test("minPts=1 makes every endpoint of any edge core") {
    val got = run(Seq(1L, 2L, 3L), Seq((1L, 2L)), minPts = 1)
    assert(got(1L) == (("core", Some(1L))))
    assert(got(2L) == (("core", Some(1L))))
    assert(got(3L) == (("noise", None)))
  }

  test("increment-only pair generation: stored edges + increment edges == full pair set, each pair once") {
    // deterministic pseudo-random 24 vectors of dim 8; split even/odd
    def vec(seed: Long): Array[Float] =
      Array.tabulate(8)(j => (((seed * 31 + j * 17) % 13) - 6).toFloat / 6f)
    val rows = (0L until 24L).map(i => (i, vec(i)))
    val all = rows.toDF("vec_id", "embedding")
    val stored = all.where(col("vec_id") % 2 === 0)
    val inc = all.where(col("vec_id") % 2 === 1)
    val full = Dedup.embeddingNearDupsDet(all, "embedding", "vec_id",
        threshold = 0.2, planes = 2, dim = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val storedEdges = Dedup.embeddingNearDupsDet(stored, "embedding", "vec_id",
        threshold = 0.2, planes = 2, dim = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val idx = Dedup.signPlaneIndex(stored, "embedding", "vec_id", planes = 2, dim = 8)
    val newEdges = Dedup.embeddingNearDupsDetIncrement(idx, inc, "embedding", "vec_id",
        threshold = 0.2, planes = 2, dim = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    // no duplicates within or across the two sides, and the union is exact
    assert(storedEdges.distinct.size == storedEdges.size)
    assert(newEdges.distinct.size == newEdges.size)
    assert((storedEdges ++ newEdges).sorted == full.sorted,
      s"stored=$storedEdges new=$newEdges full=$full")
    assert(newEdges.forall { case (a, b) => a % 2 == 1 || b % 2 == 1 },
      "an increment edge must touch the increment")
  }

  test("rejects non-positive minPts") {
    val pts = Seq(1L).toDF("id")
    val p = Seq((1L, 2L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dbscan.fromPairs(pts, "id", p, "id_a", "id_b", 0)
    }
  }
}
