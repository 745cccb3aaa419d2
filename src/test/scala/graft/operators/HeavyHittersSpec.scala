package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class HeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  /** deterministic pseudo-random token stream with planted skew */
  private def stream(n: Int, planted: Map[String, Int]): Seq[String] = {
    val rare = (0 until n).map(i => s"rare${(i * 2654435761L % 997).toInt}")
    val heavy = planted.toSeq.sortBy(_._1).flatMap { case (t, c) => Seq.fill(c)(t) }
    // deterministic interleave (no Random): position by multiplicative hash
    (rare ++ heavy).zipWithIndex
      .sortBy { case (t, i) => (i * 2654435761L + t.hashCode) }
      .map(_._1)
  }

  private def exactHitters(toks: Seq[String], k: Int): Seq[(String, Long)] = {
    val n = toks.size.toLong
    toks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .filter { case (_, c) => c * (k + 1) > n }
      .sortBy { case (t, c) => (-c, t) }
  }

  test("Misra–Gries kernel retains every token above the n/(k+1) guarantee") {
    for (k <- Seq(2, 5, 16)) {
      val toks = stream(400, Map("alpha" -> 300, "beta" -> 120, "gamma" -> 40))
      val survivors = HeavyHitters.misraGries(toks.iterator, k).keySet
      val must = exactHitters(toks, k).map(_._1).toSet
      assert(must.subsetOf(survivors),
        s"k=$k lost true heavy hitters: ${must.diff(survivors)}")
      assert(survivors.size <= k, s"k=$k summary exceeded k: ${survivors.size}")
    }
  }

  test("ofTokens == exact GROUP BY + HAVING, invariant to partitioning") {
    val toks = stream(600, Map("alpha" -> 500, "beta" -> 200, "gamma" -> 90))
    val want = exactHitters(toks, 8).zipWithIndex
      .map { case ((t, c), i) => (t, c, (i + 1).toLong) }
    assert(want.nonEmpty && want.size < 8) // the fixture actually exercises both sides
    for (parts <- Seq(1, 3, 7)) {
      val got = HeavyHitters.ofTokens(
          toks.toDF("tok").repartition(parts), "tok", k = 8)
        .orderBy("rank").as[(String, Long, Long)].collect().toSeq
      assert(got == want, s"parts=$parts got=$got want=$want")
    }
  }

  test("no token above the 1/(k+1) share means an empty result") {
    val toks = (0 until 300).map(i => s"t${i % 50}") // 50 tokens × 6 each
    val got = HeavyHitters.ofTokens(toks.toDF("tok"), "tok", k = 4)
    assert(got.count() == 0) // 6 * 5 = 30 <= 300
  }

  test("ofText lowers, trims, and splits on whitespace runs") {
    val docs = Seq(
      (1L, "  The THE the\tthe  "),
      (2L, "the miss"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = HeavyHitters.ofText(docs, "text", k = 2)
      .as[(String, Long, Long)].collect().toSeq
    // 7 tokens total: the×5, miss×1; threshold cnt*3 > 6 keeps only "the"
    assert(got == Seq(("the", 5L, 1L)), got.toString)
  }

  test("rejects non-positive k") {
    intercept[IllegalArgumentException] {
      HeavyHitters.ofTokens(Seq("a").toDF("tok"), "tok", 0)
    }
    intercept[IllegalArgumentException] {
      HeavyHitters.fromSegments(
        Seq(("s", "a", 1L)).toDF("seg", "tok", "cnt"), 0)
    }
  }

  test("fromSegments == ofTokens under ANY segmentation (segment pigeonhole)") {
    val toks = stream(600, Map("alpha" -> 500, "beta" -> 200, "gamma" -> 90))
    val want = HeavyHitters.ofTokens(toks.toDF("tok"), "tok", k = 8)
      .orderBy("rank").as[(String, Long, Long)].collect().toSeq
    assert(want.nonEmpty)
    // three adversarial segmentations: one lump, balanced thirds, and a
    // skewed split that starves the heavy tokens in one segment
    val splits = Seq[Seq[Seq[String]]](
      Seq(toks),
      toks.grouped((toks.size + 2) / 3).toSeq,
      Seq(toks.take(10), toks.slice(10, 30), toks.drop(30)))
    for ((segsOfToks, si) <- splits.zipWithIndex) {
      val segments = segsOfToks.zipWithIndex.flatMap { case (ts, i) =>
        ts.groupBy(identity).map { case (t, xs) => (s"seg$i", t, xs.size.toLong) }
      }.toDF("seg", "tok", "cnt")
      val got = HeavyHitters.fromSegments(segments, k = 8)
        .orderBy("rank").as[(String, Long, Long)].collect().toSeq
      assert(got == want, s"split=$si got=$got want=$want")
    }
  }

  test("a token can be globally heavy while below the local share in some segment") {
    // seg0: alpha 4 of 40 (below 1/4 local share, k=3) — seg1: alpha 26
    // of 40 (above). Global: alpha 30 of 80 > 80/4. The candidate filter
    // must recover alpha via seg1 (pigeonhole) and the verify sum must
    // report the EXACT global 30, not seg1's 26.
    val seg0 = Seq.fill(4)("alpha") ++ (0 until 36).map(i => s"r$i")
    val seg1 = Seq.fill(26)("alpha") ++ (0 until 14).map(i => s"s$i")
    assert(seg0.count(_ == "alpha") * 4 <= seg0.size) // fixture really is below-local-share
    val segments = Seq(("seg0", seg0), ("seg1", seg1)).flatMap { case (s, ts) =>
      ts.groupBy(identity).map { case (t, xs) => (s, t, xs.size.toLong) }
    }.toDF("seg", "tok", "cnt")
    val got = HeavyHitters.fromSegments(segments, k = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("alpha", 30L, 1L)), got.toString)
  }

  test("perGroup == per-group exact recompute, invariant to partitioning") {
    // gA: alpha heavy; gB: alpha present but light, beta heavy; gC: tiny
    // group where a 3-count token IS heavy (group-local shares — an
    // ungrouped pass over the union would find none of these)
    val pairs =
      (Seq.fill(40)("alpha") ++ (0 until 60).map(i => s"a$i")).map(("gA", _)) ++
      (Seq.fill(2)("alpha") ++ Seq.fill(40)("beta") ++ (0 until 70).map(i => s"b$i")).map(("gB", _)) ++
      Seq(("gC", "tiny"), ("gC", "tiny"), ("gC", "tiny"), ("gC", "other"))
    val k = 4
    val want = pairs.groupBy(_._1).toSeq.flatMap { case (g, ps) =>
      val n = ps.size.toLong
      ps.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
        .filter { case (_, c) => c * (k + 1) > n }
        .sortBy { case (t, c) => (-c, t) }.zipWithIndex
        .map { case ((t, c), i) => (g, t, c, (i + 1).toLong) }
    }.sortBy(r => (r._1, r._4))
    assert(want.map(_._1).distinct.size == 3) // every group contributes
    val ungrouped = HeavyHitters.ofTokens(pairs.map(_._2).toDF("tok"), "tok", k).count()
    assert(ungrouped == 0L) // group-local shares invisible to the global pass
    for (parts <- Seq(1, 5)) {
      val got = HeavyHitters.perGroup(
          pairs.toDF("grp", "tok").repartition(parts), "grp", "tok", k)
        .orderBy("grp", "rank").as[(String, String, Long, Long)].collect().toSeq
      assert(got == want, s"parts=$parts got=$got want=$want")
    }
  }

  test("ofTextPerGroup normalizes text and drops null groups and texts") {
    val docs = Seq(
      ("en", "THE the\tthe miss"),
      ("en", "the x"),
      (null.asInstanceOf[String], "the the the"),
      ("de", null.asInstanceOf[String]),
      ("de", "der der zzz")).toDF("lang", "text")
    val got = HeavyHitters.ofTextPerGroup(docs, "lang", "text", k = 2)
      .orderBy("lang", "rank").as[(String, String, Long, Long)].collect().toSeq
    // en: 6 toks, the=4 (4*3>6); de: 3 toks, der=2 (2*3>3)
    assert(got == Seq(("de", "der", 2L, 1L), ("en", "the", 4L, 1L)), got.toString)
  }

  test("the per-(seg,tok)-unique input contract is load-bearing") {
    // one segment, alpha 30 of 40 (heavy at k=3): as ONE row the filter
    // sees it; split into 30 unit sub-rows every piece is below the
    // local share and the true heavy hitter is silently lost — which is
    // exactly why fromSegments documents the writer-side contract
    val rare = (0 until 10).map(i => ("s0", s"r$i", 1L))
    val whole = (("s0", "alpha", 30L) +: rare).toDF("seg", "tok", "cnt")
    val split = ((0 until 30).map(_ => ("s0", "alpha", 1L)) ++ rare).toDF("seg", "tok", "cnt")
    val gotWhole = HeavyHitters.fromSegments(whole, k = 3)
      .as[(String, Long, Long)].collect().toSeq
    val gotSplit = HeavyHitters.fromSegments(split, k = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(gotWhole == Seq(("alpha", 30L, 1L)), gotWhole.toString)
    assert(gotSplit.isEmpty, s"contract violation should lose the hitter (doc'd): $gotSplit")
  }

  test("textTokenCounts segments merge to q203's batch answer (incremental == full)") {
    val docs = Seq(
      (0L, "the quick the lazy the"),
      (1L, "the miss quick"),
      (2L, "THE  the\tquick"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val stored = HeavyHitters.textTokenCounts(docs.where($"doc_id" % 2 === 0), "text")
      .select(lit("stored").as("seg"), $"tok", $"cnt")
    val inc = HeavyHitters.textTokenCounts(docs.where($"doc_id" % 2 === 1), "text")
      .select(lit("inc").as("seg"), $"tok", $"cnt")
    val got = HeavyHitters.fromSegments(stored.unionByName(inc), k = 4)
      .orderBy("rank").as[(String, Long, Long)].collect().toSeq
    val want = HeavyHitters.ofText(docs, "text", k = 4)
      .orderBy("rank").as[(String, Long, Long)].collect().toSeq
    assert(got == want && want.nonEmpty, s"got=$got want=$want")
  }
}
