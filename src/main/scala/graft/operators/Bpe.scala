package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING as a distributed program — the
  * step that turns a curated corpus into the merge table a tokenizer
  * ships with (the reference pipeline stops at word counts; an LLM data
  * pipeline has to produce the tokenizer too).
  *
  * The pivotal scale idea: BPE statistics live on the DISTINCT-WORD
  * table, not the corpus. One corpus-cardinality aggregation builds
  * (word, count) — identical shape to the q47 Zipf head — and every
  * merge iteration after that runs over vocabulary-cardinality rows
  * (≤ a few million for 100 TB of text), each carrying its corpus count.
  * Word-internal adjacency never crosses documents, so no iteration
  * touches the corpus again.
  *
  * Training is built-in HOFs (zip_with / aggregate / slice). NOTE on
  * execution mode: Spark evaluates HOF lambdas INTERPRETED
  * (CodegenFallback), not codegen'd — ~60× slower than a codegen'd
  * expression per element (shingling plans measured in docs/PLANS.md,
  * q106_decontaminate). That is acceptable
  * here, and ONLY here, because every fold runs over the distinct-WORD
  * table (vocabulary cardinality, short arrays), never the corpus; do
  * not copy the aggregate-fold pattern into a corpus-cardinality path.
  * The pair explosion is row-local, the per-iteration merge is a left
  * fold over each symbol array, and the only shuffle per iteration is
  * the map-side-combinable pair-count aggregation. The driver collects
  * exactly ONE row per iteration (the winning pair); the word table of
  * each round is an [[Iterate]] generation.
  */
object Bpe {

  /** (word, cnt, symbols): distinct whitespace words of the lowercased
    * corpus with their corpus counts, symbols initialized to the word's
    * character sequence — BPE's starting state.
    */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("symbols", filter(split(col("word"), ""), s => s =!= ""))

  /** Adjacent-symbol pair counts over a [[wordTable]]-shaped frame,
    * weighted by word count: (lhs, rhs, pair_count). Row-local zip of the
    * symbol array with its own tail — single-symbol words contribute
    * nothing — then ONE map-side-combinable aggregation on the pair.
    */
  def pairCounts(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    // r16 opt: a typed flatMap kernel instead of the zip_with/slice HOF
    // explode — HOF lambdas run INTERPRETED per element (the object doc's
    // 60× note), and BPE training replays this on the word table once per
    // merge round. The kernel emits the identical (lhs, rhs, cnt) pair
    // stream; the map-side-combinable aggregation is unchanged.
    words.select(col("cnt").cast("long"), col("symbols"))
      .as[(Long, Seq[String])]
      .flatMap { case (c, syms) =>
        if (syms == null || syms.length < 2) Iterator.empty
        else syms.iterator.zip(syms.iterator.drop(1)).map { case (a, b) => (a, b, c) }
      }
      .toDF("lhs", "rhs", "cnt")
      .groupBy(col("lhs"), col("rhs"))
      .agg(sum(col("cnt")).as("pair_count"))
  }

  /** Leftmost-first greedy merge of adjacent pair (a, b) → a+b, as a pure
    * fold over the symbol array (an `aggregate` HOF — interpreted, see
    * the object doc for why that is bounded-safe on the word table).
    * Greedy-correctness falls out of the fold: once a merge fires, the
    * accumulated last element becomes a+b, which can never equal `a`
    * again (strictly longer), so overlapping occurrences ("a a a" under
    * (a,a)) merge exactly as a left-to-right scan would.
    */
  def mergePair(symbols: Column, a: String, b: String): Column =
    aggregate(symbols, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(element_at(acc, -1), s))))
          .otherwise(concat(acc, array(s))))

  /** Train `nMerges` BPE merges: per iteration, ONE pair-count aggregation
    * + a 1-row driver collect picks the most frequent pair (count desc,
    * then lexicographic — fully deterministic), and the fold rewrites the
    * symbol column. Returns the merge table (merge_rank, lhs, rhs, merged,
    * pair_count) — the artifact a tokenizer consumes, in merge order.
    * Stops early if no pair remains (every word fully merged).
    */
  def train(df: DataFrame, textCol: String, nMerges: Int,
            driverThreshold: Long = 1L << 21): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    // Adaptive driver path (r17 opt, the [[Components]] driverThreshold
    // philosophy): BPE statistics live on the DISTINCT-WORD table (object
    // doc), and the driver already coordinates every round (one argmax
    // collect per merge). When that table is small enough to hold in
    // driver memory — vocabulary cardinality, NOT corpus cardinality; the
    // collect ships (cnt, symbols) rows, ~100 bytes/word — the
    // nMerges-round job cascade (each round: a full-table aggregation job
    // + a full-table rewrite) collapses into ONE count + ONE collect, and
    // the merge loop runs as local compute in milliseconds. Above the
    // threshold the distributed loop below runs unchanged (the 100-TB
    // escape hatch for vocabularies past ~2M words).
    // [[BpeSpec]] pins the two paths' merge tables identical, including
    // the count-desc/lhs/rhs tie-break (UTF8-binary string order, exactly
    // Spark's binary string collation) and multibyte symbols.
    Iterate { it =>
      // a generation, not a checkpoint: the distributed loop frees it once
      // the first rewrite has materialized
      var words = it.generation(wordTable(df, textCol))
      if (words.count() <= driverThreshold) {
        val rows = words.select(col("cnt").cast("long"), col("symbols"))
          .as[(Long, Seq[String])].collect()
        trainDriver(rows, nMerges).toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      } else {
        val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
        var exhausted = false
        for (i <- 1 to nMerges if !exhausted) {
          // ONE pass per round: the argmax scalar materializes the current
          // generation. The minimum of (-count, lhs, rhs) is the pair with
          // the highest count, then the lowest lhs and rhs: structs compare
          // field by field, strings in UTF-8 binary order.
          val top = it.scalar(pairCounts(words),
            min(struct((-col("pair_count")).as("c"), col("lhs"), col("rhs"))))
          if (top.isNullAt(0)) exhausted = true
          else {
            val t = top.getStruct(0)
            val (a, b) = (t.getString(1), t.getString(2))
            merges += ((i, a, b, a + b, -t.getLong(0)))
            // r16 opt: apply the merge with the Scala kernel ([[applyMerge]],
            // the replayMerges inner loop — spec-pinned identical to the
            // mergePair fold) instead of the interpreted `aggregate` HOF;
            // same greedy-leftmost rewrite, vocabulary-cardinality rows
            words = it.generation(words.select(col("word"), col("cnt").cast("long"), col("symbols"))
              .as[(String, Long, Seq[String])]
              .map { case (w, cnt, syms) =>
                // the hasAdjacentPair gate skips the ArrayBuffer rebuild for
                // the (vast) majority of words the winning pair never
                // touches; applyMerge is the identity on those
                (w, cnt,
                  if (syms == null) null
                  else if (hasAdjacentPair(syms, a, b)) applyMerge(syms, a, b)
                  else syms) }
              .toDF("word", "cnt", "symbols"))
          }
        }
        merges.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      }
    }
  }

  /** [[train]] on a deterministic md5-bucket document sample — the
    * 100-TB lever for BPE training. `train`'s data side is already
    * vocabulary-bounded, but each merge is a driver-coordinated round
    * over the FULL corpus's distinct-word table; at cluster scale the
    * per-round latency (and the word table's size) dominates. Pair
    * statistics are frequency ESTIMATES by nature — a ~10% sample ranks
    * frequent pairs nearly identically (BPE quality is insensitive to
    * corpus subsampling; tokenizers are routinely trained on corpus
    * slices) — so sample documents with [[Sampling.deterministicSample]]
    * (pure md5 row function: same sample on any partitioning, any
    * engine), train on the sample, and encode the full corpus with the
    * resulting merge table. Sampling is BEFORE wordTable, so the
    * per-round word table shrinks with the sample, not the corpus.
    */
  def trainSampled(df: DataFrame, textCol: String, idCol: String,
                   nMerges: Int, fraction: Double,
                   driverThreshold: Long = 1L << 21): DataFrame =
    train(Sampling.deterministicSample(df, idCol, fraction), textCol, nMerges,
      driverThreshold)

  /** Replay a merge table over one word's character symbols — the exact
    * greedy-leftmost semantics of [[mergePair]] (same accumulator scan,
    * same overlap behavior), as a plain Scala loop. Runs on executors
    * inside [[encode]]'s typed map over the DISTINCT-word table.
    */
  /** One greedy-leftmost merge application — the replayMerges inner loop,
    * shared by [[train]]'s per-round kernel rewrite. Exactly
    * [[mergePair]]'s accumulator scan (same overlap behavior).
    */
  private[operators] def applyMerge(cur: Seq[String], a: String, b: String): Seq[String] = {
    val buf = new scala.collection.mutable.ArrayBuffer[String](cur.length)
    var i = 0
    while (i < cur.length) {
      val s = cur(i)
      if (buf.nonEmpty && buf.last == a && s == b) buf(buf.length - 1) = a + s
      else buf += s
      i += 1
    }
    buf.toSeq
  }

  /** Adjacent (a, b) occurrence test — the cheap gate that lets a merge
    * round skip rewriting the (vast majority of) words the winning pair
    * never touches. Sound because [[applyMerge]] is the identity on a
    * symbol sequence with no adjacent (a, b).
    */
  private[operators] def hasAdjacentPair(s: Seq[String], a: String, b: String): Boolean = {
    var i = 0
    while (i < s.length - 1) {
      if (s(i) == a && s(i + 1) == b) return true
      i += 1
    }
    false
  }

  /** Spark's binary string collation (UTF8String.compareTo: unsigned
    * byte-wise comparison of the UTF-8 encoding) — the driver path must
    * break pair-count ties EXACTLY like the distributed orderBy, and
    * java.lang.String.compareTo (UTF-16 code units) disagrees with it on
    * supplementary-plane characters.
    */
  private def utf8BinaryCmp(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** The driver-side merge loop of [[train]]'s adaptive small-vocabulary
    * path: identical semantics to the distributed rounds — exact weighted
    * pair counts, argmax by (count desc, lhs, rhs) under binary string
    * order, greedy-leftmost [[applyMerge]] rewrite, early exhaustion when
    * no pair remains — as plain local compute over the collected
    * (cnt, symbols) rows.
    */
  private[operators] def trainDriver(rows: Array[(Long, Seq[String])],
                                     nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    val syms: Array[Seq[String]] = rows.map(_._2)
    val cnts: Array[Long] = rows.map(_._1)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      var w = 0
      while (w < syms.length) {
        val s = syms(w)
        if (s != null && s.length >= 2) {
          val c = cnts(w)
          var j = 0
          while (j < s.length - 1) {
            counts.merge((s(j), s(j + 1)), c, (x, y) => x + y)
            j += 1
          }
        }
        w += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestK: (String, String) = null
        var bestV = 0L
        counts.forEach { (k, v) =>
          if (bestK == null || v > bestV ||
            (v == bestV && {
              val c1 = utf8BinaryCmp(k._1, bestK._1)
              c1 < 0 || (c1 == 0 && utf8BinaryCmp(k._2, bestK._2) < 0)
            })) { bestK = k; bestV = v }
        }
        val (a, b) = bestK
        merges += ((r, a, b, a + b, bestV))
        var w2 = 0
        while (w2 < syms.length) {
          val s = syms(w2)
          if (s != null && hasAdjacentPair(s, a, b)) syms(w2) = applyMerge(s, a, b)
          w2 += 1
        }
      }
    }
    merges.toSeq
  }

  private[operators] def replayMerges(
      word: String, merges: Array[(String, String)]): Array[String] = {
    // String.split("") splits at code-point boundaries (regex-based, like
    // Spark's split expression), so the kernel and mergePair agree on
    // multibyte text
    var cur: Seq[String] = word.split("").filter(_.nonEmpty).toSeq
    var m = 0
    while (m < merges.length) {
      val (a, b) = merges(m)
      cur = applyMerge(cur, a, b)
      m += 1
    }
    cur.toArray
  }

  /** Encode the corpus with a trained merge table: replay the merges in
    * rank order over each word's character sequence, then stitch words
    * back per document. Returns (idCol, bpe_tokens: array<string>).
    *
    * Scale shape: the replay runs once per DISTINCT word (vocabulary
    * cardinality), not per occurrence, and as a Scala kernel
    * ([[replayMerges]]) in a typed map — NOT as a per-merge expression
    * fold. A real tokenizer ships thousands of merge ranks; nesting one
    * interpreted `aggregate` HOF per rank builds an expression tree that
    * blows Catalyst's analyzer/codegen stack limits long before 1k
    * merges (and would replay per word OCCURRENCE besides). The kernel
    * has no depth limit, costs O(|vocab| × |merges| × |word|), and the
    * corpus pays one equi-join on the word (broadcast-sized dict side
    * for any real vocabulary) — spec-pinned identical to the fold and
    * exercised at 1,000 merges.
    */
  def encode(df: DataFrame, textCol: String, idCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(trim(lower(col(textCol))), "\\s+")).as(Seq("__pos", "__w")))
      .where(col("__w") =!= "")
    // broadcast, not closure capture (VERDICT r15 item 6): a GPT-scale
    // merge table captured in the closure re-ships with every task binary
    val bcMerges = spark.sparkContext.broadcast(merges.toArray)
    val encodedWords = words.select(col("__w")).distinct().as[String]
      .mapPartitions(it => it.map(w => (w, replayMerges(w, bcMerges.value))))
      .toDF("__w", "__syms")
    words.join(encodedWords, Seq("__w"))
      .select(col(idCol), col("__pos"), col("__syms"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__syms")))),
        p => p.getField("__syms"))).as("bpe_tokens"))
  }
}
