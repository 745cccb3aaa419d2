package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("unigram LM score: common-token text beats rare-token soup, exact on a known corpus") {
    // corpus: "a" appears 4x, "b" 2x, each of x/y/z once; N=9
    val d = Seq((1L, "a a a a"), (2L, "b b"), (3L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 4L)
    assert(out(1L)._2 === math.round(math.log(4.0 / 9) * 1e4) / 1e4)
    assert(out(2L)._2 === math.round(math.log(2.0 / 9) * 1e4) / 1e4)
    assert(out(3L)._2 === math.round(math.log(1.0 / 9) * 1e4) / 1e4)
    assert(out(1L)._2 > out(2L)._2 && out(2L)._2 > out(3L)._2,
      "more common tokens must score higher")
  }

  test("repeated spans: cross-doc k-token windows found, unique spans dropped") {
    val d = Seq(
      (1L, "common header line here x y z"),
      (2L, "common header line here p q"),
      (3L, "totally different content words")).toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpans(d, "text", "doc_id", k = 4, minDocs = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("common header line here") === ((2L, 2L)))
    assert(!out.keys.exists(_.contains("different")), "unique spans must not appear")
  }

  test("repeated spans: within-doc repetition counts occurrences but needs 2 docs") {
    val d = Seq(
      (1L, "a b a b a b"), // span "a b" (k=2) occurs 3x but only in doc 1
      (2L, "c d")).toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpans(d, "text", "doc_id", k = 2, minDocs = 2)
    assert(out.count() === 0, "single-doc repetition is not a cross-doc span")
    val one = TextAnalysis.repeatedSpans(d, "text", "doc_id", k = 2, minDocs = 1)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(one("a b") === 3L)
  }

  test("bigram LM: exact conditional probabilities on a known corpus") {
    // bigrams: doc1: (a b), (b a), (a b); doc2: (a c)
    // c(a,b)=2 c(b,a)=1 c(a,c)=1; c(a,·)=3 c(b,·)=1
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exp1 = (math.log(2.0 / 3) + math.log(1.0 / 1) + math.log(2.0 / 3)) / 3
    assert(out(1L)._1 === 3L)
    assert(out(1L)._2 === math.round(exp1 * 1e4) / 1e4)
    assert(out(2L) === ((1L, math.round(math.log(1.0 / 3) * 1e4) / 1e4)))
  }

  test("bigram LM: sub-2-token documents are absent; order sensitivity") {
    val d = Seq((1L, "one"), (2L, "the cat sat"), (3L, "sat cat the"),
      (4L, "the cat sat")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!out.contains(1L), "one-token doc has no bigrams")
    assert(out(2L) > out(3L),
      "the twice-seen word order must outscore its scramble")
  }

  test("document chunking: overlapping fixed windows, short tail, short docs") {
    // 10 tokens, window 4, overlap 1 -> starts 1,4,7 over max(10-1,1)=9
    val d = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(d, "text", "doc_id", windowSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(out((1L, 0L)) === ((4L, "t1 t2 t3 t4")))
    assert(out((1L, 1L)) === ((4L, "t4 t5 t6 t7")))
    assert(out((1L, 2L)) === ((4L, "t7 t8 t9 t10")))
    assert(out((2L, 0L)) === ((2L, "a b")), "short doc yields one short window")
    assert(out.size === 4)
  }

  test("token count: whitespace runs collapse") {
    val d = Seq((1L, "one two  three\t four"), (2L, "single")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 4L)
    assert(out(2L) === 1L)
  }

  test("subword count splits letters/digits/punct") {
    val d = Seq((1L, "abc123!x")).toDF("doc_id", "text")
    // "abc", "1", "2", "3", "!", "x" → 6
    val out = d.select(TextAnalysis.subwordCount(col("text"))).collect()(0).getLong(0)
    assert(out === 6L)
  }

  test("language id picks the language with most marker hits") {
    val d = Seq(
      (1L, "the cat and the dog of the house to go in style"),
      (2L, "el perro y la casa de que el gato y la luna"),
      (3L, "der hund und die katze das ist und der haus")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withLanguageId(d, "text").select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "es")
    assert(out(3L) === "de")
  }

  test("quality signals compute deterministic ratios") {
    val d = Seq((1L, "the cat!!")).toDF("doc_id", "text")
    val r = TextAnalysis.withQualitySignals(d, "text").collect()(0)
    assert(r.getAs[Long]("n_chars") === 9L)
    assert(r.getAs[Long]("n_tokens") === 2L)
    assert(r.getAs[Long]("n_punct") === 2L)
    assert(r.getAs[Long]("n_stop") === 1L)  // 'the'
    // 1/2 - 2/9 = 0.2778
    assert(math.abs(r.getAs[Double]("quality_score") - 0.2778) < 1e-9)
  }

  test("fingerprint is stable and edit-sensitive only near the minimal shingle") {
    val d = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w v u t"))
      .toDF("doc_id", "text")
    val fps = d.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("repetition signals: uniform text scores 0, single-token spam near 1") {
    val d = Seq((1L, "a b c d"), (2L, "spam spam spam spam spam"), (3L, "x x y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) === ((4L, 4L, 1L, 0.0)))
    assert(out(2L) === ((5L, 1L, 5L, 0.8)))
    assert(out(3L) === ((3L, 2L, 2L, 0.3333)))
  }

  test("contamination counts distinct shared shingles, excluding self-pairs") {
    val d = Seq(
      (1L, "one two three four five six"),     // shares both 5-shingles with 10
      (2L, "totally unrelated words here now im"),
      (10L, "one two three four five six")     // the "benchmark" doc
    ).toDF("doc_id", "text")
    val bench = d.where(col("doc_id") === 10L)
    val out = TextAnalysis.contamination(d, bench, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 10L, 2L)), s"got ${out.toSeq}")
  }

  test("explodedShingles matches a lead-window reference on every edge case") {
    import org.apache.spark.sql.expressions.Window
    // the kernel's original windowed definition, kept here as the
    // independent cross-check of the exchange-free generate+slice form
    def windowed(d: org.apache.spark.sql.DataFrame, k: Int) = {
      val words = d.where(col("text").isNotNull).select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("__p", "__w")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("__p"))
      val leads = (1 until k).map(i => lead(col("__w"), i).over(w))
      val full = if (leads.isEmpty) lit(true) else leads.last.isNotNull
      words.select(col("doc_id"), col("__p"),
          concat_ws(" ", (col("__w") +: leads): _*).as("__sh"), full.as("__full"))
        .where(col("__full") || col("__p") === 0)
        .select(col("doc_id"), col("__sh"))
    }
    // full shingles, a doc shorter than k (one truncated position-1 row),
    // a doc of exactly k words, multi-space runs, null text excluded
    val d = Seq(
      (1L, "one two three four five six"),
      (2L, "short doc"),
      (3L, "exactly five words here now"),
      (4L, "spaced    out     words a b c"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 5, 7)) {
      val fast = TextAnalysis.explodedShingles(d, "text", "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val ref = windowed(d, k)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(fast === ref, s"k=$k")
    }
  }

  test("explodedShingles plans with zero exchange and zero window") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextAnalysis.explodedShingles(d, "text", "doc_id", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"),
      s"shingling must be scan-local:\n$plan")
  }

  test("contaminationAtScale equals the exact-join form on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (k <- Seq(5, 7)) {
      val bench = docs.where(pmod(col("doc_id"), lit(89)) === 0)
      val exact = TextAnalysis.contamination(docs, bench, "text", "doc_id", k)
        .orderBy("doc_id", "bench_id").collect().map(_.toString).toSeq
      val scale = TextAnalysis.contaminationAtScale(docs, bench, "text", "doc_id", k)
        .orderBy("doc_id", "bench_id").collect().map(_.toString).toSeq
      assert(exact.nonEmpty, s"k=$k: vacuous fixture")
      assert(scale === exact, s"k=$k")
    }
  }

  test("contaminationAtScale plan: clean corpus never shuffles before the prefilter") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.where(pmod(col("doc_id"), lit(89)) === 0)
    val plan = TextAnalysis.contaminationAtScale(docs, bench, "text", "doc_id", 7)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val semis = root.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.nonEmpty, s"expected a broadcast LEFT SEMI prefilter:\n$root")
    val streamedSideShuffles = semis.head.left.collect { case e: ShuffleExchangeLike => e } ++
      semis.head.left.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(streamedSideShuffles.isEmpty,
      s"corpus side of the prefilter must be exchange- and window-free:\n$root")
  }

  test("digit-run redaction scrubs and counts") {
    val d = Seq((1L, "Customer#000000042 called 5551234 twice, ext 12")).toDF("id", "s")
    val r = d.select(
      TextAnalysis.redactDigitRuns(col("s")).as("red"),
      TextAnalysis.redactionCount(col("s")).as("n")).head
    assert(r.getString(0) === "Customer#[ID] called [ID] twice, ext 12")
    assert(r.getLong(1) === 2L)
  }

  test("redactPii scrubs emails, IPs, phones, then residual digit runs — in that order") {
    val d = Seq(
      (1L, "mail bob.smith+x@sub.example.org ip 10.0.255.3 tel +1-555-0042 acct 123456"),
      (2L, "bare digits 9876543 and a short run 123 and v1.2 stay put"),
      (3L, "two mails a1@b.co c2@d.io and 555-123-4567 local")).toDF("id", "s")
    val out = d.select(col("id"), TextAnalysis.redactPii(col("s")).as("r"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) === "mail [EMAIL] ip [IP] tel [PHONE] acct [ID]")
    assert(out(1) === "bare digits [ID] and a short run 123 and v1.2 stay put")
    assert(out(2) === "two mails [EMAIL] [EMAIL] and [PHONE] local")
    // ORDER: the email's digits and the IP's octets must never leak into
    // the digit-run catch-all — assert by counting placeholders
    val counts = d.where(col("id") === 1).select(
      TextAnalysis.piiCount(col("s"), TextAnalysis.piiEmailPattern).as("e"),
      TextAnalysis.piiCount(col("s"), TextAnalysis.piiIpv4Pattern).as("i"),
      TextAnalysis.piiCount(col("s"), TextAnalysis.piiPhonePattern).as("p"),
      TextAnalysis.redactionCount(col("s")).as("d")).head
    assert((counts.getLong(0), counts.getLong(1), counts.getLong(2)) === ((1L, 1L, 1L)))
    // the audit counter runs on the ORIGINAL text: the phone's 4-digit
    // tail and the account number both count as digit runs there
    assert(counts.getLong(3) === 2L)
  }

  test("tfidf construction launches zero Spark jobs (N is in-plan, not eager)") {
    // the round-6 defect: an eager countDistinct().collect() at query
    // CONSTRUCTION ran a full corpus pass per call and froze a stale N.
    // Pin the fix: building the tfidf frame must not start any job; a
    // sentinel job flushes the listener bus so the assertion is ordered.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sentinelSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (j.properties != null &&
            "tfidf-sentinel" == j.properties.getProperty("spark.jobGroup.id"))
          sentinelSeen = true
        else jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val d = Seq((1L, "a b a"), (2L, "b a")).toDF("doc_id", "text")
      val df = TextAnalysis.tfidf(d, "text", "doc_id")
      spark.sparkContext.setJobGroup("tfidf-sentinel", "flush")
      spark.range(1).count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10e9.toLong
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "listener bus never delivered the sentinel job")
      assert(jobs.get() === 0, "tfidf construction must not launch Spark jobs")
      // and the frame still computes the right scores when executed
      val out = df.where(col("doc_id") === 1L && col("term") === "b").collect()
      assert(out.length === 1 && out(0).getAs[Long]("df") === 2L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tfidf is exact and stays term-partitioned under a corpus-dominating hot term") {
    // VERDICT r16 #2 / r17 worklist #6: df comes from `count(*) over
    // (partition by term)` on the (doc,term)-unique tf table, and a
    // stopword-like term owning half the corpus is the WindowExec skew
    // worst case (one term's whole group buffers in one partition's
    // ExternalAppendOnlyUnsafeRowArray — spillable, linear, but worth a
    // fixture). The salted-two-level-aggregate alternative was REJECTED:
    // a df table joined back on term either broadcasts (the pre-r16
    // vocabulary-sized-broadcast scale problem) or re-tokenizes the
    // corpus (per-branch column pruning makes the two exchanges
    // canonicalize differently, so ReuseExchange never fires — measured
    // in r16). This fixture pins (a) exact df/tfidf under 50%-document
    // term concentration and (b) that every window in the plan is
    // term-partitioned, so the buffered group is one term's postings,
    // never the corpus.
    val n = 2000
    val docs = (0 until n).map { i =>
      (i.toLong, if (i % 2 == 0) s"hot u$i" else s"u$i cold$i")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "text", "doc_id")
    val hot = out.where(col("term") === "hot")
      .agg(count(lit(1)).as("n"), countDistinct(col("df")).as("ndf"),
        max(col("df")).as("df"), max(col("tfidf")).as("s"),
        min(col("tfidf")).as("s2")).head
    assert(hot.getAs[Long]("n") === 1000L)
    assert(hot.getAs[Long]("ndf") === 1L && hot.getAs[Long]("df") === 1000L)
    val expected = BigDecimal(1.0 * math.log(n / 1000.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(hot.getAs[Double]("s") === expected && hot.getAs[Double]("s2") === expected)
    // a unique term: df 1, tfidf = ln(N)
    val uniq = out.where(col("term") === "cold1").head
    assert(uniq.getAs[Long]("df") === 1L)
    val windows = out.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "tfidf's df window must stay term-partitioned")
  }

  test("word frequencies count the corpus multiset") {
    val d = Seq((1L, "a b a"), (2L, "b a")).toDF("doc_id", "text")
    val out = TextAnalysis.wordFrequencies(d, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 3L, "b" -> 2L))
  }

  test("LM score means are invariant to input partitioning (decimal-sum determinism)") {
    // the floating-point failure mode: avg() over doubles sums in
    // partition order, so repartitioning can flip the 4th decimal; the
    // decimal-quantized mean must produce IDENTICAL bits regardless
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def uni(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.unigramLogProb(df, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def bi(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bigramLogProb(df, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(d) === uni(d.repartition(31)))
    assert(bi(d) === bi(d.repartition(31)))
  }

  test("groupContainment shingles per document, never across doc boundaries") {
    import spark.implicits._
    // g1 = two docs "a b" and "c d": with k=2 its shingle set is exactly
    // {"a b","c d"} — a cross-doc chain would also produce "b c"
    val d = Seq(
      (1L, "a b", "g1"),
      (2L, "c d", "g1"),
      (3L, "a b", "g2")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.groupContainment(d, "text", "doc_id", "source", k = 2)
      .collect().map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_shared"), r.getAs[Double]("containment"))).toMap
    assert(out(("g1", "g2")) === ((2L, 1L, 0.5)), "g1 must have exactly 2 shingles (no chain)")
    assert(out(("g2", "g1")) === ((1L, 1L, 1.0)))
    assert(out.size === 2)
  }

  test("groupContainment is invariant to input partitioning") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = TextAnalysis.groupContainment(d, "text", "doc_id", "source")
    val b = TextAnalysis.groupContainment(d.repartition(13), "text", "doc_id", "source")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("fingerprintAgg equals the inline-HOF fingerprint on real docs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
      .union(Seq((9001L, "one two three", "en", "t", 13L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val hof = d.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val agg = TextAnalysis.fingerprintAgg(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(agg === hof, "explode+min-agg plan must reproduce the HOF column exactly (incl. short docs)")
  }

  test("encodeTokens assigns frequency-ranked ids with OOV = 0, in token order") {
    import spark.implicits._
    val d = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    // freqs: a=2 b=2 c=1 -> vocab order (cnt desc, tok asc): a=1, b=2; c is OOV
    val out = TextAnalysis.encodeTokens(d, "text", "doc_id", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(out(1L) === ((3L, Seq(1L, 2L, 1L))))
    assert(out(2L) === ((2L, Seq(2L, 0L))))
  }

  test("encodeTokens plans a TakeOrderedAndProject vocab head and a broadcast encode join") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextAnalysis.encodeTokens(d, "text", "doc_id", vocabSize = 64)
      .queryExecution.executedPlan.toString
    // the vocab head must be a per-partition-heap top-k, not a global sort,
    // and the encode must broadcast the <=V-row vocab, not shuffle the stream
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$plan")
  }

  test("encodeTokens tokenizes the corpus ONCE: both consumers read the cached stream") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextAnalysis.encodeTokens(d, "text", "doc_id", vocabSize = 64)
      .queryExecution.executedPlan.toString
    // Spark does not share subtrees across join sides, so without the
    // persist the scan + posexplode chain runs twice (once per consumer);
    // with it, BOTH the vocab head and the encode join read InMemoryTableScan
    val cachedReads = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cachedReads >= 2, s"expected both consumers on the cached token stream:\n$plan")
  }

  test("frozen-vocab encoding: stored vocab reproduces encodeTokens, and keeps increment ids stable") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = TextAnalysis.buildVocab(d, "text", vocabSize = 64)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    // fed its own corpus's vocab, the frozen path == the one-shot path
    val frozen = asMap(TextAnalysis.encodeTokensWithVocab(d, "text", "doc_id", vocab))
    val oneShot = asMap(TextAnalysis.encodeTokens(d, "text", "doc_id", vocabSize = 64))
    assert(frozen === oneShot)
    // the tokenizer-freeze property: an INCREMENT encoded against the
    // stored vocab gets exactly the full-corpus ids — whereas re-deriving
    // the vocab from the increment alone would shift the id space
    val increment = d.where(col("doc_id") % 5 === 0)
    val incFrozen = asMap(TextAnalysis.encodeTokensWithVocab(increment, "text", "doc_id", vocab))
    incFrozen.foreach { case (id, enc) => assert(enc === oneShot(id), s"doc $id drifted") }
    val incDerived = asMap(TextAnalysis.encodeTokens(increment, "text", "doc_id", vocabSize = 64))
    assert(incDerived.exists { case (id, enc) => enc != oneShot(id) },
      "increment-derived vocab should shift ids (else the freeze property is vacuous here)")
  }

  test("encodeTokens ids stay in [0, vocabSize] and are partitioning-invariant") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = TextAnalysis.encodeTokens(d, "text", "doc_id", vocabSize = 64)
    val rows = a.collect()
    assert(rows.forall(r => r.getLong(1) === r.getSeq[Long](2).size.toLong))
    assert(rows.forall(_.getSeq[Long](2).forall(id => id >= 0L && id <= 64L)))
    val b = TextAnalysis.encodeTokens(d.repartition(13), "text", "doc_id", vocabSize = 64)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("charEntropy: zero for single-letter docs, ln 2 for two balanced letters") {
    import spark.implicits._
    val d = Seq((1L, "aaaa"), (2L, "abab"), (3L, "AaB1 b!"), (4L, "123 .,")).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === ((4L, 0.0)))
    assert(out(2L) === ((4L, r4(math.log(2)))))
    assert(out(3L) === ((4L, r4(math.log(2)))), "case-folded, digits/punct ignored")
    assert(!out.contains(4L), "no letters -> no row")
  }

  test("charEntropy is bounded by ln 26 and partitioning-invariant on real docs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = TextAnalysis.charEntropy(d, "text", "doc_id")
    assert(a.where(col("char_entropy") < 0 || col("char_entropy") > math.log(26)).isEmpty)
    val b = TextAnalysis.charEntropy(d.repartition(13), "text", "doc_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("fused charEntropy is bitwise identical to the exploded cross-check on real docs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fused = TextAnalysis.charEntropy(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val exploded = TextAnalysis.charEntropyExploded(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(fused.keySet === exploded.keySet)
    fused.foreach { case (id, (n, h)) =>
      val (ne, he) = exploded(id)
      assert(n === ne, s"n_alpha mismatch for doc $id")
      assert(java.lang.Double.doubleToLongBits(h) === java.lang.Double.doubleToLongBits(he),
        s"entropy not bitwise equal for doc $id: fused=$h exploded=$he")
    }
  }

  test("fused charEntropy plans as a pure projection: no explode, no exchange") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextAnalysis.charEntropy(d, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"explode survived the fusion:\n$plan")
    assert(!plan.contains("Exchange"), s"per-doc entropy must not shuffle:\n$plan")
  }

  test("positional shingles: positions/lengths on normal, short and null docs") {
    import graft.functions.WordShingles.wordShinglesWithPos
    val d = Seq((1L, Option("a b c d")), (2L, Option("x y")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"), wordShinglesWithPos(col("text"), 3))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(out === Set(
      (1L, "a b c", 1, 3), (1L, "b c d", 2, 3), // full windows at 1-based starts
      (2L, "x y", 1, 2)), // short doc: single truncated shingle, len < k
      s"got $out")
  }

  test("stripRepeatedSpans removes cross-doc boilerplate, keeps unique text") {
    // docs 1 and 2 share the 4-token header; doc 3 is untouched
    val d = Seq(
      (1L, "legal header boiler plate alpha beta"),
      (2L, "legal header boiler plate gamma"),
      (3L, "completely original content stands alone here")).toDF("doc_id", "text")
    val out = TextAnalysis.stripRepeatedSpans(d, "text", "doc_id", k = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((6L, 4L, "alpha beta")))
    assert(out(2L) === ((5L, 4L, "gamma")))
    assert(out(3L) === ((6L, 0L, "completely original content stands alone here")))
  }

  test("stripRepeatedSpans: overlapping hits coalesce; all-boilerplate doc stays as an empty row") {
    // "a b c d e" in both docs: with k=3 the windows (a b c), (b c d),
    // (c d e) all recur, covering positions 1..5 with overlaps — every
    // token goes exactly once
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "x a b c d e y")).toDF("doc_id", "text")
    val out = TextAnalysis.stripRepeatedSpans(d, "text", "doc_id", k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((5L, "")), "fully-boilerplate doc must remain as an empty-text row")
    assert(out(2L) === ((5L, "")))
    assert(out(3L) === ((5L, "x y")), "unique flank tokens survive around the stripped middle")
  }

  test("stripRepeatedSpans matches a brute-force reference and is partition-invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") < 120)
    val k = 5
    val rows = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq).toMap
    // brute force: inventory of k-windows in >=2 docs, then positional strip
    val windows = rows.toSeq.flatMap { case (id, w) =>
      val last = math.max(w.length - k + 1, 1)
      (1 to last).map(p => (id, p, w.slice(p - 1, math.min(p - 1 + k, w.length))))
    }
    val inv = windows.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val expected = rows.map { case (id, w) =>
      val rem = windows.filter(t => t._1 == id && inv(t._3))
        .flatMap(t => t._2 until math.min(t._2 + k, w.length + 1)).toSet
      val keptW = w.zipWithIndex.collect { case (word, i) if !rem(i + 1) => word }
      id -> ((w.length.toLong, (w.length - keptW.length).toLong, keptW.mkString(" ")))
    }
    val run1 = TextAnalysis.stripRepeatedSpans(docs, "text", "doc_id", k, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(run1 === expected)
    val run2 = TextAnalysis.stripRepeatedSpans(docs.repartition(7, col("text")),
        "text", "doc_id", k, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(run2 === expected, "result must not depend on input partitioning")
  }

  test("noveltyScore: copies score 0, fresh text scores 1, half-overlap is exact") {
    import spark.implicits._
    val ref = Seq(
      (1L, "a b c d e f g h")).toDF("doc_id", "text")
    // k=3 shingles of ref: "a b c","b c d",...,"f g h" (6 shingles)
    val docs = Seq(
      (10L, "a b c d e f g h"),            // exact copy: novelty 0
      (11L, "x y z w v u"),                // disjoint: novelty 1
      (12L, "a b c d x")                   // shingles: abc,bcd,cdx -> 2 seen of 3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScore(docs, ref, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(10L).getAs[Double]("novelty") == 0.0)
    assert(out(11L).getAs[Double]("novelty") == 1.0)
    assert(out(12L).getAs[Long]("n_shingles") == 3L)
    assert(out(12L).getAs[Long]("n_seen") == 2L)
    assert(out(12L).getAs[Double]("novelty") == math.rint((1.0 - 2.0 / 3.0) * 1e9) / 1e9)
  }

  test("noveltyScore: short documents fall back to the single whole-text shingle") {
    import spark.implicits._
    val ref = Seq((1L, "a b")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b"), (11L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScore(docs, ref, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(10L).getAs[Long]("n_shingles") == 1L && out(10L).getAs[Double]("novelty") == 0.0)
    assert(out(11L).getAs[Double]("novelty") == 1.0)
  }
}
