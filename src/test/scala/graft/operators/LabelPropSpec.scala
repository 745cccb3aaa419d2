package graft.operators

import graft.SparkTestBase

class LabelPropSpec extends SparkTestBase {
  import spark.implicits._

  // path 1-2-3-4 seeded A...B, pair 5-6 seeded A, unreachable pair 7-8
  private val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 6L, 7L -> 8L)
    .toDF("a", "b")
  private val seeds = Seq(1L -> "A", 4L -> "B", 5L -> "A").toDF("id", "lbl")

  private def run(iters: Int) = {
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val out = LabelProp.propagate(edges, "a", "b", seeds, "id", "lbl", iters)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2)))).toMap
    // the result reads only the last generation
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore + 1)
    out
  }

  test("hand-traced rounds: spread, carry, clamping, and the min-label tiebreak") {
    // round 1: 2←{1:A}→A; 3←{4:B}→B (synchronous: 2 was null LAST round);
    //          6←{5:A}→A; seeds carry
    val r1 = run(1)
    assert(r1(2L) === ((Some("A"), 0L)) && r1(3L) === ((Some("B"), 0L)))
    assert(r1(6L) === ((Some("A"), 0L)))
    assert(r1(7L) === ((None, 0L)) && r1(8L) === ((None, 0L)))
    // round 2: 2←{1:A, 3:B} tie → min label A; 3←{2:A, 4:B} tie → A
    // (a tie FLIPS 3 off its round-1 label — deterministic, not sticky);
    // 4 stays clamped B even though its only neighbor now says A
    val r2 = run(2)
    assert(r2(2L) === ((Some("A"), 0L)))
    assert(r2(3L) === ((Some("A"), 0L)))
    assert(r2(1L) === ((Some("A"), 1L)) && r2(4L) === ((Some("B"), 1L)))
    assert(r2(5L) === ((Some("A"), 1L)) && r2(6L) === ((Some("A"), 0L)))
  }

  test("labels never evaporate: a labeled node with no labeled neighbors carries") {
    // star: 10 seeded, leaf 11 labeled round 1; round 2's votes for 11
    // still come only from 10 — but remove 10's label reach by seeding
    // nothing else: 11 must keep its label through extra rounds
    val e = Seq(10L -> 11L).toDF("a", "b")
    val s = Seq(10L -> "X").toDF("id", "lbl")
    val out = LabelProp.propagate(e, "a", "b", s, "id", "lbl", 4)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out === Map(10L -> Some("X"), 11L -> Some("X")))
  }

  test("duplicate seeds collapse to the smallest label; duplicate edges collapse") {
    val s = Seq(1L -> "B", 1L -> "A", 4L -> "B", 5L -> "A").toDF("id", "lbl")
    val e = edges.unionByName(Seq(1L -> 2L, 2L -> 1L).toDF("a", "b"))
    val out = LabelProp.propagate(e, "a", "b", s, "id", "lbl", 1)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L) === Some("A"), "min seed label wins")
    assert(out(2L) === Some("A"), "reversed duplicate edge adds no second vote")
  }

  test("invariant to input partitioning") {
    val a = LabelProp.propagate(edges.repartition(7), "a", "b",
        seeds.repartition(3), "id", "lbl", 2)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    val b = LabelProp.propagate(edges, "a", "b", seeds, "id", "lbl", 2)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(a === b)
  }
}
