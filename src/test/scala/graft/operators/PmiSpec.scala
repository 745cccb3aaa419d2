package graft.operators

import graft.SparkTestBase

class PmiSpec extends SparkTestBase {
  import spark.implicits._

  test("hand-computed PMI on a tiny corpus") {
    // doc: "a b a b" window 1 → positional pairs: (a,b),(a,b),(a,b)
    // n_ab=3, n_p=3, n_a=n_b=2, n_t=4 → pmi = ln(3·16/(3·4)) = ln 4
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val (out, cached) = leftCached(TextAnalysis.pmiCooccurrence(docs, "text", "doc_id",
        window = 1, minPairCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))))
    // the result checkpoint is the only cache entry the call leaves
    assert(cached <= 1)
    assert(out.toSeq === Seq(("a", "b", 3L, BigDecimal(math.log(4.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("window widens the pair set; pairs are canonically unordered") {
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val w1 = TextAnalysis.pmiCooccurrence(docs, "text", "doc_id", 1, 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val w2 = TextAnalysis.pmiCooccurrence(docs, "text", "doc_id", 2, 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(w1 === Set(("x", "y"), ("y", "z")))
    assert(w2 === Set(("x", "y"), ("y", "z"), ("x", "z")))
    // "z x" order in text still lands as (x, z)
    val rev = TextAnalysis.pmiCooccurrence(
        Seq((1L, "z x")).toDF("doc_id", "text"), "text", "doc_id", 1, 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rev === Set(("x", "z")))
  }

  test("single-token and null docs contribute no pairs; counts stay exact") {
    val docs = Seq((1L, "solo"), (2L, null.asInstanceOf[String]), (3L, "p q p q"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiCooccurrence(docs, "text", "doc_id", 1, 1)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out === Map(("p", "q") -> 3L))
  }

  test("minPairCount prunes before the joins; association beats chance") {
    // "c d" always adjacent, "c" and "e" never: pmi(c,d) > 0 > pmi picks
    val docs = (1L to 20L).map(i => (i, "c d e f g h")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCooccurrence(docs, "text", "doc_id", 2, 20)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(out.contains(("c", "d")) && !out.contains(("c", "f")),
      "c-f at distance 3 is outside the window")
    assert(out(("c", "d")) > 0.0)
  }

  test("invariant to input partitioning") {
    val docs = (1L to 50L).map(i => (i, s"w${i % 5} common w${i % 7} tail common"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.pmiCooccurrence(docs.repartition(13), "text", "doc_id", 3, 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val b = TextAnalysis.pmiCooccurrence(docs, "text", "doc_id", 3, 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(a === b)
  }
}
