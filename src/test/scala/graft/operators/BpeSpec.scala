package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class BpeSpec extends SparkTestBase {
  import spark.implicits._

  // the classic BPE teaching corpus (word-frequency form):
  // low×5, lower×2, newest×6, widest×3
  private def classic = Seq(
    (1L, "low low low low low"),
    (2L, "lower lower"),
    (3L, "newest newest newest newest newest newest"),
    (4L, "widest widest widest")
  ).toDF("doc_id", "text")

  test("wordTable counts words and splits to characters") {
    val out = Bpe.wordTable(classic, "text").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[String](2))))
      .toMap
    assert(out("low") === ((5L, Seq("l", "o", "w"))))
    assert(out("newest") === ((6L, Seq("n", "e", "w", "e", "s", "t"))))
    assert(out.keySet === Set("low", "lower", "newest", "widest"))
  }

  test("pairCounts weights pairs by word frequency") {
    val out = Bpe.pairCounts(Bpe.wordTable(classic, "text")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // es: newest(6) + widest(3) = 9; st: same 9; lo: low(5) + lower(2) = 7
    assert(out(("e", "s")) === 9L)
    assert(out(("s", "t")) === 9L)
    assert(out(("l", "o")) === 7L)
    assert(out(("e", "r")) === 2L)
    // single-character adjacency only — no cross-word pairs
    assert(!out.contains(("w", "l")) && !out.contains(("t", "n")))
  }

  test("train reproduces the textbook merge sequence") {
    val merges = Bpe.train(classic, "text", nMerges = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // rank 1: (e,s)=9 ties (s,t)=9 → lexicographic picks (e,s)
    assert(merges(0) === ((1, "e", "s", "es", 9L)))
    // after es: (es,t)=9 beats everything
    assert(merges(1) === ((2, "es", "t", "est", 9L)))
    // then (l,o)=7
    assert(merges(2) === ((3, "l", "o", "lo", 7L)))
    // then (lo,w)=7
    assert(merges(3) === ((4, "lo", "w", "low", 7L)))
  }

  test("mergePair fold is leftmost-first greedy on overlapping runs") {
    val d = Seq(
      (1L, Seq("a", "a", "a")),        // (a,a): leftmost pair merges → [aa, a]
      (2L, Seq("a", "a", "a", "a")),   // → [aa, aa]
      (3L, Seq("b", "a", "a"))         // → [b, aa]
    ).toDF("id", "symbols")
    val out = d.select(col("id"), Bpe.mergePair(col("symbols"), "a", "a").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) === Seq("aa", "a"))
    assert(out(2L) === Seq("aa", "aa"))
    assert(out(3L) === Seq("b", "aa"))
  }

  test("encode replays merges in rank order and stitches words per document") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val out = Bpe.encode(classic, "text", "doc_id", merges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) === Seq.fill(5)(Seq("low")).flatten)
    assert(out(2L) === Seq("low", "e", "r", "low", "e", "r"))
    assert(out(3L) === Seq.fill(6)(Seq("n", "e", "w", "est")).flatten)
    assert(out(4L) === Seq.fill(3)(Seq("w", "i", "d", "est")).flatten)
    // lossless: concatenating tokens reconstructs each document's words
    val joined = out(2L).mkString
    assert(joined === "lowerlower")
  }

  test("replayMerges kernel is element-identical to the mergePair fold") {
    // encode's Scala kernel must replay EXACTLY the expression fold's
    // greedy-leftmost semantics — pin them against each other on every
    // distinct word of real docs, through a 6-merge chain incl. overlaps
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"),
      ("a", "a"), ("t", "h"))
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val words = Bpe.wordTable(d, "text").select("word", "symbols")
    val viaFold = merges.foldLeft(words) { case (acc, (a, b)) =>
      acc.withColumn("symbols", Bpe.mergePair(col("symbols"), a, b))
    }.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val mergesArr = merges.toArray
    val viaKernel = words.select("word").collect().map(_.getString(0))
      .map(w => w -> Bpe.replayMerges(w, mergesArr).toSeq).toMap
    assert(viaFold.nonEmpty && viaFold === viaKernel)
  }

  test("encode handles a 1,000-merge table (no expression-depth blowup)") {
    // the round-6 hazard: one nested aggregate() HOF per merge rank blew
    // Catalyst's analyzer past ~100 merges. The kernel path must take a
    // real tokenizer's merge-table size in stride.
    val manyMerges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")) ++
      (1 to 996).map(i => (s"zz$i", s"qq$i")) // never-matching tail ranks
    val out = Bpe.encode(classic, "text", "doc_id", manyMerges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) === Seq.fill(5)(Seq("low")).flatten)
    assert(out(3L) === Seq.fill(6)(Seq("n", "e", "w", "est")).flatten)
  }

  test("train is invariant to input partitioning on real docs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Bpe.train(d, "text", nMerges = 3).collect().map(_.toString).toSeq
    val b = Bpe.train(d.repartition(13), "text", nMerges = 3).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a === b)
  }

  test("curate → BPE-encode → packed export is deterministic under repartitioning") {
    // the full production chain (q83-verdict curation → q121's tokenizer
    // path → packed sequences) must emit byte-identical sequences no
    // matter how the input was partitioned — the q105 reproducibility
    // contract extended through the CLI's keep set and the BPE kernel
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def chain(d: org.apache.spark.sql.DataFrame): Seq[String] = {
      val (kept, _) = graft.CurateMain.curate(spark, d, numShards = 4)
      val bpe = Bpe.encode(kept, "text", "doc_id", graft.queries.DocQueries.q121Merges)
        .select(col("doc_id"), array_join(col("bpe_tokens"), " ").as("bpe_text"))
        .persist()
      val vocab = TextAnalysis.buildVocab(bpe, "bpe_text", vocabSize = 16)
      val out = Sharding.packedTokenSequencesWithVocab(
          bpe, "bpe_text", "doc_id", vocab, numShards = 8, seqLen = 64)
        .collect().map(_.toString).sorted.toSeq
      bpe.unpersist()
      out
    }
    val a = chain(docs)
    val b = chain(docs.repartition(17))
    assert(a.nonEmpty, "expected at least one full 64-token sequence")
    assert(a === b)
  }

  test("trainSampled == train on the deterministic md5 sample, and the " +
      "sample genuinely shrinks the training corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sample = Sampling.deterministicSample(docs, "doc_id", 0.5)
    val nAll = docs.count()
    val nSample = sample.count()
    assert(nSample > 0 && nSample < nAll,
      s"sample must be a proper subset: $nSample of $nAll")
    val viaWrapper = Bpe.trainSampled(docs, "text", "doc_id",
        nMerges = 4, fraction = 0.5)
      .collect().map(_.toString).toSeq
    val direct = Bpe.train(sample, "text", nMerges = 4)
      .collect().map(_.toString).toSeq
    assert(viaWrapper === direct)
    // determinism under partitioning: the md5 sample is a pure row
    // function, so the trained merges cannot depend on layout
    val repart = Bpe.trainSampled(docs.repartition(13), "text", "doc_id",
        nMerges = 4, fraction = 0.5)
      .collect().map(_.toString).toSeq
    assert(viaWrapper === repart)
  }

  test("driver-path train == distributed-path train on real docs") {
    // r17 opt: train takes the Components-style adaptive driver path when
    // the distinct-word table fits driverThreshold. The two paths must
    // produce the IDENTICAL merge table — same counts, same tie-breaks,
    // same early-exhaustion — pinned here by forcing the distributed loop
    // (driverThreshold = 0) against the default driver path.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaDriver = Bpe.train(d, "text", nMerges = 6).collect().map(_.toString).toSeq
    val (viaDistributed, cached) = leftCached(
      Bpe.train(d, "text", nMerges = 6, driverThreshold = 0).collect().map(_.toString).toSeq)
    // the merge table is a local frame: every word-table generation is freed
    assert(cached === 0)
    assert(viaDriver.nonEmpty && viaDriver === viaDistributed)
  }

  test("driver-path tie-break is Spark's BINARY string order, not UTF-16") {
    // U+1D11E (musical clef) encodes UTF-8 F0 9D 84 9E / UTF-16 D834 DD1E;
    // U+FFFD encodes UTF-8 EF BF BD / UTF-16 FFFD. Under Spark's binary
    // (UTF-8 byte) collation U+FFFD < U+1D11E, under java.lang.String
    // (UTF-16 unit) order U+1D11E < U+FFFD — a driver argmax using
    // String.compareTo would break ties DIFFERENTLY from the distributed
    // orderBy. Both paths must pick the U+FFFD pair first.
    val clef = new String(Character.toChars(0x1D11E))
    val repl = "�"
    val docs = Seq((1L, s"${clef}a ${repl}a")).toDF("doc_id", "text")
    for (threshold <- Seq(1L << 21, 0L)) {
      val m = Bpe.train(docs, "text", nMerges = 1, driverThreshold = threshold)
        .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
      assert(m.head === ((repl, "a", 1L)),
        s"threshold=$threshold picked ${m.head} — tie-break must be UTF-8 binary")
    }
  }

  test("driver-path early exhaustion matches the distributed loop") {
    // every word single-character: no pair ever exists, both paths stop
    // with an empty merge table instead of erroring
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    for (threshold <- Seq(1L << 21, 0L)) {
      val m = Bpe.train(docs, "text", nMerges = 3, driverThreshold = threshold).collect()
      assert(m.isEmpty, s"threshold=$threshold expected exhaustion, got ${m.toSeq}")
    }
  }

  test("pair counting plans row-local pair explosion — no window, no extra exchange") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Bpe.pairCounts(Bpe.wordTable(d, "text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"pair adjacency must be a row-local zip, not a window:\n$plan")
    // exactly two exchanges: word count, then pair count — both preceded
    // by map-side partial aggregation
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2, plan)
  }
}
