package graft.operators

import graft.SparkTestBase

/** SuffixDedup vs a brute-force longest-common-substring oracle: the
  * relational bounded-depth suffix array must agree with the O(n²·m)
  * all-position-pairs answer on a corpus engineered to hit every edge —
  * cross-doc spans, within-doc self-repeats, spans longer than depth
  * (saturation), docs at/below minLen, null/empty/whitespace text.
  */
class SuffixDedupSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private val minLen = 3
  private val depth = 6

  // (doc_id, text)
  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog tonight",       // shares 5-token span with 2
    2L -> "yesterday the quick brown fox jumps high above everything", // span: "the quick brown fox jumps"
    3L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",  // shares ALL 10 tokens with 4 (> depth → saturates)
    4L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    5L -> "go go go go go go",                                         // within-doc self-repeat only
    6L -> "completely unique words nobody else ever wrote here",       // no dup ≥ minLen
    7L -> "too short",                                                 // < minLen tokens → 0/0
    8L -> "  The   QUICK brown fox JUMPS over nothing  ",              // case/whitespace-normalized overlap with 1
    9L -> null.asInstanceOf[String],                                   // null text → 0/0
    10L -> ""                                                          // empty → 0/0
  )

  private def tokens(t: String): Array[String] =
    if (t == null) Array.empty
    else {
      val trimmed = t.trim.toLowerCase
      if (trimmed.isEmpty) Array("") else trimmed.split("\\s+")
    }

  /** Brute force: for every candidate start (doc, pos) with ≥ minLen
    * tokens remaining, the max depth-truncated common prefix with every
    * OTHER candidate start; per-doc max and count of starts ≥ minLen.
    */
  private def brute(minLen: Int, depth: Int): Map[Long, (Long, Long)] = {
    val toks = corpus.map { case (id, t) => id -> tokens(t) }
    val starts = for {
      (id, ts) <- toks
      pos <- 0 to ts.length - minLen
    } yield (id, pos, ts.slice(pos, math.min(pos + depth, ts.length)))
    def common(a: Array[String], b: Array[String]): Long = {
      var i = 0
      while (i < a.length && i < b.length && a(i) == b(i)) i += 1
      i.toLong
    }
    val perDoc = starts.map { case (id, pos, sfx) =>
      val best = starts.collect {
        case (id2, pos2, sfx2) if (id2, pos2) != (id, pos) => common(sfx, sfx2)
      }.maxOption.getOrElse(0L)
      (id, best)
    }
    corpus.map { case (id, _) =>
      val mine = perDoc.filter(d => d._1 == id && d._2 >= minLen).map(_._2)
      id -> (if (mine.isEmpty) (0L, 0L) else (mine.max, mine.size.toLong))
    }.toMap
  }

  test("longestDupPerDoc matches the brute-force longest-common-substring oracle") {
    val df = corpus.toDF("doc_id", "text")
    val got = SuffixDedup.longestDupPerDoc(df, "text", "doc_id", minLen, depth)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = brute(minLen, depth)
    assert(got.keySet === want.keySet)
    for ((id, w) <- want)
      assert(got(id) === w, s"doc $id: got ${got(id)}, brute-force says $w")
  }

  test("a shared span longer than depth saturates at exactly depth") {
    val df = corpus.toDF("doc_id", "text")
    val got = SuffixDedup.longestDupPerDoc(df, "text", "doc_id", minLen, depth)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 3/4 share 10 tokens; bounded depth must report exactly `depth`,
    // not 10 and not depth-ish
    assert(got(3L) === depth.toLong)
    assert(got(4L) === depth.toLong)
  }

  test("within-doc self-repeats count as duplication (Lee et al. semantics)") {
    val df = corpus.toDF("doc_id", "text")
    val got = SuffixDedup.longestDupPerDoc(df, "text", "doc_id", minLen, depth)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "go go go go go go": suffix at pos 1 (6 tokens) vs pos 2 (5 tokens)
    // share 5 leading tokens
    assert(got(5L) === 5L)
  }

  test("cross-doc span is reported at its true length, not the shingle size") {
    val df = corpus.toDF("doc_id", "text")
    val got = SuffixDedup.longestDupPerDoc(df, "text", "doc_id", minLen, depth)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 2 shares "the quick brown fox jumps" = 5 tokens with docs 1/8;
    // doc 1 additionally shares "... jumps over" = 6 tokens with doc 8
    // (case/whitespace-normalized). The fixed-k inventory can only say
    // "a 3-gram repeats"; this reports the true span lengths.
    assert(got(1L) === 6L)
    assert(got(2L) === 5L)
    assert(got(8L) === 6L)
  }

  test("short, null, and empty documents report 0/0 but stay in the report") {
    val df = corpus.toDF("doc_id", "text")
    val got = SuffixDedup.longestDupPerDoc(df, "text", "doc_id", minLen, depth)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(7L) === ((0L, 0L)))
    assert(got(9L) === ((0L, 0L)))
    assert(got(10L) === ((0L, 0L)))
  }

  test("stripAllButFirst removes later occurrences, keeps the first, rebuilds text") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "intro words then the quick brown fox jumps over the end"),  // shares 7-token span
      (3L, "the quick brown fox jumps over the lazy dog"),              // exact dup of 1 → strips empty
      (4L, "totally unrelated content with no shared spans here"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = SuffixDedup.stripAllButFirst(df, "text", "doc_id", minLen = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getString(3))).toMap
    // doc 1 is the first occurrence everywhere → untouched
    assert(got(1L) === ((9L, 0L, "the quick brown fox jumps over the lazy dog")))
    // doc 3 duplicates doc 1 exactly → strips to empty
    assert(got(3L) === ((9L, 9L, "")))
    // doc 2's shared "the quick brown fox jumps over the" (7 tokens,
    // positions 4..10) strips; intro and tail survive
    assert(got(2L) === ((11L, 7L, "intro words then end")))
    // untouched docs pass through; null text stays null
    assert(got(4L)._2 === 0L && got(4L)._3.nonEmpty)
    assert(got(5L) === ((0L, 0L, null)))
  }

  test("strip: later occurrence with NO earlier adjacent neighbor still strips " +
      "(earliest occurrence sorts last in the block)") {
    // block "p q": sorted continuations m < x < z, and the EARLIEST
    // occurrence (doc 1, "p q z") sorts LAST. A pairwise-adjacent
    // precedence rule misses doc 2 ("p q m"): its only neighbor in
    // sorted order is doc 3, which does not precede it. The exact
    // run-minimum rule strips both docs 2 and 3.
    val df = Seq(
      (1L, "p q z"),
      (2L, "p q m"),
      (3L, "p q x")
    ).toDF("doc_id", "text")
    val got = SuffixDedup.stripAllButFirst(df, "text", "doc_id", minLen = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) === ((3L, 0L, "p q z")))
    assert(got(2L) === ((3L, 2L, "m")))
    assert(got(3L) === ((3L, 2L, "x")))
  }

  /** True-contract brute force for the strip: a position is a loser iff
    * its depth-truncated suffix shares ≥ minLen leading tokens with ANY
    * strictly earlier (doc, pos) suffix; it covers its FULL max shared
    * prefix. The engine strips exactly minLen per loser — the covered
    * unions must coincide (the scaladoc telescoping argument).
    */
  private def bruteStrip(corpus: Seq[(Long, String)], minLen: Int, depth: Int)
      : Map[Long, (Long, Long, String)] = {
    val toks = corpus.map { case (id, t) => id -> tokens(t) }.toMap
    val starts = for {
      (id, ts) <- toks.toSeq
      pos <- 1 to ts.length - minLen + 1
      if ts.length >= minLen && !(ts.length == 1 && ts(0).isEmpty)
    } yield (id, pos, ts.slice(pos - 1, math.min(pos - 1 + depth, ts.length)))
    def common(a: Array[String], b: Array[String]): Int = {
      var i = 0
      while (i < a.length && i < b.length && a(i) == b(i)) i += 1
      i
    }
    val covered = scala.collection.mutable.Set.empty[(Long, Int)]
    for ((id, pos, sfx) <- starts) {
      val best = starts.collect {
        case (id2, pos2, sfx2) if id2 < id || (id2 == id && pos2 < pos) =>
          common(sfx, sfx2)
      }
      val strip = if (best.isEmpty) 0 else best.max
      if (strip >= minLen) (pos until pos + strip).foreach(p => covered += ((id, p)))
    }
    corpus.map { case (id, t) =>
      val ts = toks(id)
      if (t == null) id -> ((0L, 0L, null: String))
      else if (ts.length == 1 && ts(0).isEmpty) id -> ((0L, 0L, ""))
      else {
        val kept = ts.zipWithIndex.collect {
          case (tok, i) if !covered.contains((id, i + 1)) => tok }
        id -> ((ts.length.toLong, (ts.length - kept.length).toLong, kept.mkString(" ")))
      }
    }.toMap
  }

  test("stripAllButFirst matches the true keep-first contract on randomized corpora") {
    val rnd = new scala.util.Random(42)
    val vocab = Array("a", "b", "c", "d")
    for (trial <- 1 to 8) {
      val shared = Array.fill(rnd.nextInt(6) + 3)(vocab(rnd.nextInt(vocab.length)))
      val corpus = (1L to 8L).map { id =>
        val n = rnd.nextInt(12) + 1
        val own = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
        // half the docs embed the shared span at a random offset, so
        // cross-doc runs with shuffled (id, pos) orderings are common
        val t = if (rnd.nextBoolean()) {
          val cut = rnd.nextInt(own.length + 1)
          (own.take(cut) ++ shared ++ own.drop(cut)).mkString(" ")
        } else own.mkString(" ")
        (id, t)
      }
      val got = SuffixDedup.stripAllButFirst(
          corpus.toDF("doc_id", "text"), "text", "doc_id", minLen = 3)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getString(3))).toMap
      val want = bruteStrip(corpus, minLen = 3, depth = 5)
      for ((id, w) <- want)
        assert(got(id) === w,
          s"trial $trial doc $id: got ${got(id)}, true contract says $w " +
            s"(corpus: ${corpus.toMap.get(id)})")
    }
  }

  test("whitespace-only and empty documents report 0 tokens and empty stripped text") {
    val df = Seq((1L, "some real tokens here okay"), (2L, ""), (3L, "   \t  "),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = SuffixDedup.stripAllButFirst(df, "text", "doc_id", minLen = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(got(2L) === ((0L, 0L, "")))
    assert(got(3L) === ((0L, 0L, "")))
    assert(got(4L) === ((0L, 0L, null)))
    assert(got(1L) === ((5L, 0L, "some real tokens here okay")))
  }

  test("a non-positive maxBlockDf is rejected up front") {
    // with maxBlockDf = 0 a SINGLETON gram block (df = 1) would route hot
    // and tier 2's ">= 2 rows share the gram" floor proof would not hold —
    // a never-duplicated suffix would be reported as dup_len = minLen
    // (ADVICE r13). The guard must reject it before any scan runs.
    val df = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    for (bad <- Seq(0L, -1L)) {
      val e1 = intercept[IllegalArgumentException] {
        SuffixDedup.longestDupPrefix(df, "text", "doc_id", 3, 10, bad)
      }
      assert(e1.getMessage.contains("maxBlockDf"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        SuffixDedup.longestDupPerDoc(df, "text", "doc_id", 3, 10, bad)
      }
      assert(e2.getMessage.contains("maxBlockDf"), e2.getMessage)
    }
    // and the smallest legal cap still computes (everything routes hot,
    // twins stay exact, uniques floor-and-account — soundly, since df >= 2)
    assert(SuffixDedup.longestDupPerDoc(df, "text", "doc_id", 3, 10, 1L)
      .count() === 1L)
  }

  test("df-capped hot blocks: identical twins stay exact, unique suffixes " +
      "floor at minLen and are accounted") {
    // Planted hot block at maxBlockDf = 4: the 3-gram "c c c" occurs in
    // six documents (df = 6 > 4). Docs 1-5 carry VERBATIM boilerplate —
    // their suffixes have identical twins, so the capped path still
    // reports the exact span. Doc 6 diverges after 4 shared tokens —
    // its suffix is unique within the hot block, so the capped path
    // floors it at minLen and flags it. Docs 7-8 share a span in a COLD
    // block and must be untouched by the cap.
    val df = ((1L to 5L).map(id => (id, "c c c b1 b2")) ++ Seq(
      (6L, "c c c b1 x"),
      (7L, "z1 z2 z3 z4"),
      (8L, "z1 z2 z3 z4"))).toDF("doc_id", "text")
    val capped = SuffixDedup.longestDupPerDoc(df, "text", "doc_id",
        minLen = 3, depth = 6, maxBlockDf = 4L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // boilerplate docs: every suffix has a twin -> exact, nothing capped
    for (id <- 1L to 5L)
      assert(capped(id) === ((5L, 3L, 0L)), s"doc $id under cap")
    // divergent doc: true longest is 4 ("c c c b1"), floored to minLen=3,
    // both qualifying starts accounted as capped
    assert(capped(6L) === ((3L, 2L, 2L)))
    // cold block: exact neighbor answer, no capping
    assert(capped(7L) === ((4L, 2L, 0L)))
    assert(capped(8L) === ((4L, 2L, 0L)))
    // with the default (high) cap the same corpus reports doc 6's true
    // 4-token span and zero capped starts anywhere
    val uncapped = SuffixDedup.longestDupPerDoc(df, "text", "doc_id",
        minLen = 3, depth = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(uncapped(6L) === ((4L, 0L)))
    assert(uncapped.values.forall(_._2 === 0L))
  }

  test("stripIncrement == full stripAllButFirst restricted to the increment") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c", "d")
    for (trial <- 1 to 5) {
      val shared = Array.fill(rnd.nextInt(5) + 3)(vocab(rnd.nextInt(vocab.length)))
      val corpus = (1L to 10L).map { id =>
        val own = Array.fill(rnd.nextInt(10) + 1)(vocab(rnd.nextInt(vocab.length)))
        val t = if (rnd.nextBoolean()) {
          val cut = rnd.nextInt(own.length + 1)
          (own.take(cut) ++ shared ++ own.drop(cut)).mkString(" ")
        } else own.mkString(" ")
        (id, t)
      }
      val all = corpus.toDF("doc_id", "text")
      // EVEN ids are the stored corpus, ODD the increment — deliberately
      // interleaved, the merged per-gram min needs no id ordering
      val stored = SuffixDedup.gramFirsts(
        all.where(col("doc_id") % 2 === 0), "text", "doc_id", minLen = 3)
      val inc = all.where(col("doc_id") % 2 === 1)
      val got = SuffixDedup.stripIncrement(stored, inc, "text", "doc_id", minLen = 3)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      val want = SuffixDedup.stripAllButFirst(all, "text", "doc_id", minLen = 3)
        .where(col("doc_id") % 2 === 1)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(got === want, s"trial $trial: incremental != full-restricted")
    }
  }

  test("stripIncrement handles increment-only grams and null/short docs") {
    val stored = SuffixDedup.gramFirsts(
      Seq((2L, "x y z w")).toDF("doc_id", "text"), "text", "doc_id", minLen = 3)
    val inc = Seq(
      (5L, "x y z w tail"),          // stored gram "x y z" earlier at doc 2 → strips
      (7L, "p q r p q r"),           // increment-only self-repeat → later occurrence strips
      (9L, null.asInstanceOf[String]),
      (11L, "too short")
    ).toDF("doc_id", "text")
    val got = SuffixDedup.stripIncrement(stored, inc, "text", "doc_id", minLen = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getString(3))).toMap
    // doc 5: positions 1..2 are losers vs the stored corpus ("x y z",
    // "y z w" both first-seen in doc 2) → covered 1..4, "tail" survives
    assert(got(5L) === ((5L, 4L, "tail")))
    // doc 7: the second "p q r" loses to the first WITHIN the increment
    assert(got(7L) === ((6L, 3L, "p q r")))
    assert(got(9L) === ((0L, 0L, null)))
    assert(got(11L) === ((2L, 0L, "too short")))
  }

  test("suffix rows emit only candidate starts with >= minLen tokens, depth-truncated") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val rows = SuffixDedup.suffixRows(df, "text", "doc_id", minLen = 2, depth = 3)
      .orderBy("pos").collect()
    assert(rows.map(_.getInt(2)).toSeq === Seq(1, 2, 3, 4))
    assert(rows.map(_.getSeq[String](1).mkString(" ")).toSeq ===
      Seq("a b c", "b c d", "c d e", "d e"))
  }
}
