package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus analysis operators for LLM-training-data pipelines.
  *
  * Everything here is pure Catalyst expression work over a string column:
  * no UDFs, no driver-side loops, so each operator scales linearly with
  * partition count and stays inside whole-stage codegen (regexp/string
  * functions are codegen'd builtins).
  */
object TextAnalysis {

  /** Whitespace token count (the cheap, language-agnostic baseline). */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish subword count: splits on word boundaries AND digit/letter
    * transitions, approximating byte-pair tokenizer granularity without a
    * vocab file. Deterministic, codegen'd.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** Language markers: tiny per-language stopword inventories. An n-gram /
    * stopword-hit heuristic — the classic cheap language-ID at scale (one
    * regexp scan per language, no model artifact).
    */
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in)\\b",
    "es" -> "\\b(el|la|de|que|y)\\b",
    "de" -> "\\b(der|die|und|das|ist)\\b",
    "fr" -> "\\b(le|les|et|des|une)\\b"
  )

  /** Per-language marker hit counts + argmax prediction (ties break in
    * declaration order en > es > de > fr, fixed so results are reproducible).
    * Adds columns `score_<lang>`... and `lang_pred`.
    */
  def withLanguageId(df: DataFrame, textCol: String): DataFrame = {
    val lowered = lower(col(textCol))
    val scored = langMarkers.foldLeft(df) { case (d, (lang, pat)) =>
      d.withColumn(s"score_$lang", size(regexp_extract_all(lowered, lit(pat), lit(0))).cast("long"))
    }
    val Seq(en, es, de, fr) = langMarkers.map { case (l, _) => col(s"score_$l") }
    scored.withColumn(
      "lang_pred",
      when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
  }

  /** Quality-scoring signals: length, punctuation density, stopword ratio.
    * Mirrors the usual pretraining-corpus filters (C4/Gopher-style rules)
    * with fully deterministic arithmetic.
    */
  def withQualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_punct", length(regexp_replace(t, "[a-zA-Z0-9\\s]", "")).cast("long"))
      .withColumn("n_stop", size(regexp_extract_all(lower(t), lit("\\b(the|a|of|and|in)\\b"), lit(0))).cast("long"))
      .withColumn(
        "quality_score",
        // explicit zero-denominator guard: Spark non-ANSI x/0 is NULL but
        // DuckDB returns NaN — align both engines on NULL
        when(col("n_tokens") === 0 || col("n_chars") === 0, lit(null))
          .otherwise(round(col("n_stop").cast("double") / col("n_tokens") -
            col("n_punct").cast("double") / col("n_chars"), 4))
      )
  }

  /** TF-IDF scores per (document, term): tf = in-document term count,
    * idf = ln(N / df) over the whole corpus. Two aggregations (both
    * map-side combinable: (doc, term) counts and per-term distinct-doc
    * counts) plus a broadcast-friendly join of the tiny df table — the
    * corpus is never shuffled whole.
    */
  def tfidf(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df(term) = number of DISTINCT docs containing term = row count per
    // term of the (doc, term)-unique tf table — a term-partitioned window
    // count over tf instead of a SECOND tokenize+distinct pass over the
    // corpus (r16 opt: the old two-branch form exploded every token twice
    // and paid a second (doc, term)-keyed exchange; deriving df from tf
    // via a plain aggregation does not survive the optimizer — count on a
    // non-null column rewrites to count(1) and prunes back to a distinct,
    // so the subtrees never canonicalize equal and ReuseExchange cannot
    // fire). One corpus pass, one term-keyed exchange of the tf table,
    // identical (idCol, term, tf, df, tfidf) output.
    val withDf = tf.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("term"))))
    // corpus size N stays INSIDE the plan (broadcast 1-row cross join, the
    // unigramLogProb pattern): an eager count at construction would run an
    // extra full corpus pass per call and freeze a stale N if the source
    // grows before execution — df and N must come from the same snapshot
    val total = df.agg(countDistinct(col(idCol)).cast("double").as("__N"))
    withDf
      .crossJoin(broadcast(total))
      .select(
        col(idCol), col("term"), col("tf"),
        col("df"),
        round(col("tf") * log(col("__N") / col("df")), 4).as("tfidf"))
  }

  /** Document fingerprint: minimum md5 over word 5-shingles (a 1-permutation
    * MinHash — stable under small edits away from the minimal shingle, cheap
    * to compute, joinable for near-dup candidate detection).
    */
  def fingerprint(text: Column, shingle: Int = 5): Column = {
    val words = split(trim(lower(text)), "\\s+")
    array_min(
      transform(
        sequence(lit(1), greatest(size(words) - (shingle - 1), lit(1))),
        i => md5(concat_ws(" ", slice(words, i, lit(shingle))))
      )
    )
  }

  /** Corpus-wide term frequencies (the Zipf profile): explode tokens, one
    * map-side-combining count per term. The caller takes the head via
    * orderBy+limit, which Spark plans as TakeOrderedAndProject (per-
    * partition top-k + driver merge — no global sort of the vocabulary).
    */
  def wordFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))

  /** Vocabulary coverage curve — the tokenizer-design measurement: what
    * fraction of all token OCCURRENCES does a top-`k` vocabulary cover,
    * for each requested k. Everything below the vocabulary never sees a
    * dedicated token and falls to fallback/byte pieces, so this curve is
    * what sizes a vocab.
    *
    * Plan shape: one corpus token aggregation (map-side combinable), then
    * PER K a TakeOrderedAndProject over the frequency table + a 1-row
    * sum — no corpus-wide or vocabulary-wide window anywhere; the total
    * is a 1-row broadcast cross join (the q43/q58 constant shape).
    * Output: (vocab_k, covered_occurrences, coverage) one row per k.
    */
  def vocabCoverage(df: DataFrame, textCol: String, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be positive, got $ks")
    val freq = wordFrequencies(df, textCol).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = freq.agg(sum(col("freq")).as("__total"))
    val perK = ks.map { k =>
      freq.orderBy(col("freq").desc, col("term")).limit(k)
        .agg(sum(col("freq")).as("covered_occurrences"))
        .select(lit(k.toLong).as("vocab_k"), col("covered_occurrences"))
    }.reduce(_.unionByName(_))
    perK.crossJoin(broadcast(total))
      .select(col("vocab_k"), col("covered_occurrences"),
        round(col("covered_occurrences").cast("double") / col("__total"), 4)
          .as("coverage"))
  }

  /** Within-document repetition signals — the boilerplate/spam filter of a
    * pretraining pipeline. Two stacked aggregations, both map-side
    * combinable: (doc, token) counts, then per-doc rollup to total tokens,
    * distinct tokens, the dominant token's count, and
    * repetition_ratio = 1 - distinct/total (0 = all unique, → 1 = one token
    * repeated). Adds no row blowup beyond the token explode.
    */
  def repetitionSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))
    val perTok = toks.groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__cnt"))
    perTok.groupBy(col(idCol)).agg(
      sum(col("__cnt")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("__cnt")).as("top_freq")
    ).withColumn("repetition_ratio",
      round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 4))
  }

  /** Exploded word k-shingles, one row per (id, shingle occurrence) — THE
    * shared shingling kernel for minhash signatures, fingerprints, and
    * contamination (one definition so the subtle edge cases — short-doc
    * truncated shingle, k=1 — cannot drift between operators). The
    * engine is the native [[graft.functions.WordShingles]] generator:
    * one compiled pass per document emitting narrow shingle rows — ZERO
    * exchange, and none of the structural taxes the relational
    * formulations pay (the lead-window form shuffles the corpus before
    * a single shingle exists, 13.1 s; explode-beside-the-array
    * serializes the whole word array into every generated row, O(words²)
    * per doc, 141.8 s; the transform-HOF form runs interpreted lambdas,
    * 148.3 s; this generator: 7.5 s — 12M shingles, identical sink
    * hashes; docs/PLANS.md q106_decontaminate). Documents with NULL
    * text are EXCLUDED (a null document has no shingles); the DuckDB
    * oracles filter `text IS NOT NULL` to pin the same contract.
    */
  def explodedShingles(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.WordShingles.wordShingles(col(textCol), k))

  /** Distinct word k-shingles as rows (id, shingle) — the join-ready form
    * for contamination checks.
    */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, k: Int = 5): DataFrame =
    explodedShingles(df, textCol, idCol, k)
      .withColumnRenamed("__sh", "shingle")
      .distinct()

  /** N-gram novelty vs a reference corpus — what fraction of a document's
    * k-shingles has the accepted corpus NEVER seen? The memorization-risk
    * / freshness gauge of an intake pipeline (novelty ≈ 0: the document
    * re-states existing data; ≈ 1: genuinely new text), the per-document
    * complement of [[contamination]]'s pairwise overlap counts.
    *
    * Scale shape: both sides shingle through the zero-exchange
    * [[explodedShingles]] kernel; the reference reduces to its DISTINCT
    * shingle set once, and the only exchange is the shingle equi-join +
    * the doc-keyed count — shuffle ∝ shingle rows, never |docs|×|ref|.
    * (For a reference that fits the broadcast budget, hint
    * `broadcast(ref)` upstream; for repeated daily runs, store the
    * reference's distinct-shingle table and join that — the q72
    * stored-index pattern.)
    */
  def noveltyScore(docs: DataFrame, ref: DataFrame, textCol: String,
                   idCol: String, k: Int = 5): DataFrame = {
    val d = shingleRows(docs, textCol, idCol, k)
    val r = shingleRows(ref, textCol, idCol, k)
      .select(col("shingle")).distinct()
      .withColumn("__seen", lit(1L))
    d.join(r, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
      .select(col(idCol), col("n_shingles"), col("n_seen"),
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles").cast("double"), 9)
          .as("novelty"))
  }

  /** Benchmark-contamination check: for every (document, benchmark doc)
    * pair sharing at least one word k-shingle, the number of distinct
    * shared shingles. The join is an equi-join on the shingle string —
    * shuffle ∝ shingle rows, never |docs|×|bench| — and when the benchmark
    * side is small (it always is) Spark broadcasts it, so the corpus
    * never shuffles at all.
    */
  def contamination(docs: DataFrame, bench: DataFrame, textCol: String,
                    idCol: String, k: Int = 5): DataFrame = {
    val d = shingleRows(docs, textCol, idCol, k)
    val b = shingleRows(bench, textCol, idCol, k)
      .withColumnRenamed(idCol, "bench_id")
    // explicit hint: the bench side's plan-time size estimate equals its
    // full input (filter/explode/distinct don't shrink sizeInBytes under
    // the size-only estimator), so auto-broadcast would NOT fire and the
    // corpus would shuffle
    d.join(broadcast(b), Seq("shingle"))
      .where(col(idCol) =!= col("bench_id"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Benchmark decontamination, 100-TB form — output-identical to
    * [[contamination]] but the CLEAN corpus never shuffles:
    *
    *   1. bench shingles (tiny) reduce to a distinct xxhash64 set — a
    *      fixed-width 8-byte-per-shingle broadcast, ~4-5× smaller than
    *      the shingle strings themselves.
    *   2. corpus shingle occurrences come straight off the (exchange-
    *      free) [[explodedShingles]] kernel and are prefiltered by a
    *      broadcast LEFT SEMI join on the hash BEFORE any distinct — so
    *      the exchange that [[contamination]] pays over every corpus
    *      shingle (its `.distinct()`) here runs over contaminated
    *      occurrences only, a vanishing fraction of a real corpus.
    *   3. survivors dedup to (doc, shingle) and confirm against the exact
    *      bench shingle STRINGS (broadcast) — any xxhash64 collision from
    *      step 2 is eliminated here, which is why the output is exactly
    *      [[contamination]]'s, not "probably".
    *
    * The bench shingle table feeds both the hash set and the confirm
    * join, so it is persisted across the two consumers.
    */
  def contaminationAtScale(docs: DataFrame, bench: DataFrame, textCol: String,
                           idCol: String, k: Int = 5): DataFrame = {
    val b = shingleRows(bench, textCol, idCol, k)
      .withColumnRenamed(idCol, "bench_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val benchHashes = b.select(xxhash64(col("shingle")).as("__h")).distinct()
    val survivors = explodedShingles(docs, textCol, idCol, k)
      .withColumnRenamed("__sh", "shingle")
      .join(broadcast(benchHashes), xxhash64(col("shingle")) === col("__h"), "left_semi")
      .distinct()
    survivors.join(broadcast(b), Seq("shingle"))
      .where(col(idCol) =!= col("bench_id"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-group content overlap: for every ORDERED pair of groups
    * (e.g. crawl sources), directional shingle containment
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| — the corpus-level twin
    * of per-document Jaccard. This is how a curation pipeline decides
    * which sources duplicate each other (mirror detection) and how much
    * a new source would actually add.
    *
    * Plan shape: shingles dedup straight to the GROUP key (never
    * materializing per-document shingle sets), so the self-join on the
    * shingle string fans out at most |groups|² rows per distinct shingle
    * — bounded by the group count, not the corpus. Intersection and
    * per-group sizes are map-side-combinable counts; the tiny size table
    * broadcasts back.
    *
    * Output: (src_a, src_b, n_a, n_shared, containment) for a ≠ b pairs
    * with at least one shared shingle.
    */
  def groupContainment(df: DataFrame, textCol: String, idCol: String,
                       groupCol: String, k: Int = 5): DataFrame = {
    // shingle within each DOCUMENT (the kernel's lead-window partitions by
    // the key — a bare group key would chain words across doc boundaries),
    // then dedup straight to (group, shingle). The deduped stream feeds
    // both sides of the self-join plus the size table, so it is persisted
    // MEMORY_AND_DISK (the semanticDedup pattern) — without it Spark
    // recomputes the explode+window chain three times.
    val sh = explodedShingles(
        df.withColumn("__gid", struct(col(groupCol), col(idCol))),
        textCol, "__gid", k)
      .select(col("__gid").getField(groupCol).as(groupCol), col("__sh").as("shingle"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col(groupCol)).agg(count(lit(1)).as("n_a"))
      .withColumnRenamed(groupCol, "src_a")
    sh.withColumnRenamed(groupCol, "src_a").as("a")
      .join(sh.withColumnRenamed(groupCol, "src_b").as("b"), Seq("shingle"))
      .where(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_a"), 4).as("containment"))
  }

  /** PII-style scrubbing: replace digit runs of `minRun`+ with a
    * placeholder (account numbers, phone-like ids). Codegen'd regex, no
    * UDF; pairs with [[redactionCount]] for audit metrics.
    */
  def redactDigitRuns(c: Column, minRun: Int = 4, placeholder: String = "[ID]"): Column =
    regexp_replace(c, s"[0-9]{$minRun,}", placeholder)

  /** Number of digit runs [[redactDigitRuns]] would replace. */
  def redactionCount(c: Column, minRun: Int = 4): Column =
    size(regexp_extract_all(c, lit(s"[0-9]{$minRun,}"), lit(0))).cast("long")

  /** PII patterns shared by [[redactPii]] and its audit counters.
    * Deliberately restricted to the Java-regex ∩ RE2 common subset
    * (character classes, bounded repeats, `\b`, optional groups — no
    * lookaround, no backrefs) so the DuckDB oracle replays the CHAIN
    * with the byte-identical pattern strings.
    */
  val piiEmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4Pattern: String = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val piiPhonePattern: String = "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{4})?"

  /** Full PII scrub — the curation-pipeline form of [[redactDigitRuns]]:
    * emails → `[EMAIL]`, dotted-quad IPs → `[IP]`, phone-shaped separator
    * groups → `[PHONE]`, then residual digit runs of `minIdRun`+ →
    * `[ID]`. ORDER IS LOAD-BEARING: emails carry digits and dots (must go
    * before IP/ID), IPs are dot-separated short digit runs (before
    * PHONE/ID), and the digit-run catch-all is last so it only sees what
    * no structured pattern claimed. One codegen'd regexp_replace chain —
    * four passes over the string, zero UDFs, zero shuffles: a pure row
    * map that scales embarrassingly.
    */
  def redactPii(c: Column, minIdRun: Int = 4): Column =
    redactDigitRuns(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, piiEmailPattern, "[EMAIL]"),
          piiIpv4Pattern, "[IP]"),
        piiPhonePattern, "[PHONE]"),
      minIdRun, "[ID]")

  /** Per-pattern match count over the ORIGINAL text (audit metrics for
    * [[redactPii]] — counted before any replacement so the structured
    * patterns aren't masked by earlier passes).
    */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")

  /** [[fingerprint]] as a whole-DataFrame aggregation: posexplode + lead
    * window + min-agg, the same plan shape as MinHash signatures. The HOF
    * column formulation above is convenient inline but its array lambdas
    * are interpreted per element (measured ~6× slower at sf0.1); this one
    * keeps md5/concat/min inside codegen and combines map-side, so the
    * shuffle carries one partial min per (partition, doc). Semantics are
    * identical: min md5 over full word shingles, plus the position-0
    * truncated shingle for documents shorter than `shingle` words.
    * Returns (idCol, fingerprint).
    */
  def fingerprintAgg(df: DataFrame, textCol: String, idCol: String,
                     shingle: Int = 5): DataFrame =
    explodedShingles(df, textCol, idCol, shingle)
      .groupBy(col(idCol))
      .agg(min(md5(col("__sh"))).as("fingerprint"))

  /** Fixed-window document chunking with overlap — the training-window /
    * RAG-passage splitter: each document's token stream becomes windows of
    * `size` tokens starting every `size - overlap` tokens (the final
    * window may be short; documents shorter than `size` yield one window).
    * One posexplode of the window starts per doc — rows out ≈ tokens/stride,
    * the token array is carried once per window and sliced by codegen'd
    * `slice`, no interpreted lambdas. Returns
    * (idCol, chunk_idx, chunk_tokens, chunk_text).
    */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
                     windowSize: Int = 64, overlap: Int = 8): DataFrame = {
    require(windowSize > overlap && overlap >= 0,
      s"need windowSize > overlap >= 0, got $windowSize/$overlap")
    val step = windowSize - overlap
    val words = split(trim(lower(col(textCol))), "\\s+")
    df.where(col(textCol).isNotNull)
      .select(col(idCol), words.as("__w"))
      .select(col(idCol), col("__w"),
        posexplode(sequence(lit(1), greatest(size(col("__w")) - overlap, lit(1)), lit(step)))
          .as(Seq("chunk_idx", "__start")))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(windowSize), size(col("__w")) - col("__start") + 1).cast("long").as("chunk_tokens"),
        concat_ws(" ", slice(col("__w"), col("__start"), lit(windowSize))).as("chunk_text"))
  }

  /** Repeated-span inventory — the exact-substring dedup primitive
    * (dedup-train-data style: fixed-length token windows that recur across
    * documents are boilerplate/licence headers/templates). Every k-token
    * window of every document is grouped corpus-wide; spans occurring in at
    * least `minDocs` DISTINCT documents are returned with their spread.
    * Plan shape: the shared [[explodedShingles]] kernel is scanned ONCE,
    * into a single aggregation keyed on the span string with both measures
    * (count(*) map-side-combinable; the distinct-doc count planned by
    * Catalyst as a two-phase partial-distinct Expand) — the shuffle
    * carries (span, id) pairs, never documents, and skew is bounded
    * because a span's multiplicity is capped by corpus repetition itself.
    * At 100 TB, run it on span HASHES (xxhash64) and join back the text of
    * the survivors; the string form stays oracle-replayable.
    * Returns (span, n_docs, n_occurrences).
    */
  def repeatedSpans(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 8, minDocs: Int = 2): DataFrame =
    explodedShingles(df, textCol, idCol, k)
      .groupBy(col("__sh"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .where(col("n_docs") >= minDocs)
      .select(col("__sh").as("span"), col("n_docs"), col("n_occurrences"))

  /** Exact-substring dedup REWRITE — the pass that actually removes the
    * boilerplate [[repeatedSpans]] flags (dedup-train-data style: strip
    * every k-token window that recurs in >= `minDocs` distinct documents,
    * overlapping hits coalescing naturally because removal is by token
    * position). Returns one row per document with non-null text (null-text
    * rows are filtered out, matching [[repeatedSpans]]' implicit contract):
    * (idCol, n_tokens, n_removed, clean_text) with clean_text the
    * surviving tokens rejoined in order ('' when everything was
    * boilerplate; tokenization is the shared trim-lower-\s+ contract).
    *
    * Plan shape: the positional shingle generator emits (id, span, pos,
    * len) in one compiled pass (no exchange); the inventory is the same
    * single aggregation as [[repeatedSpans]]; hits are an equi-join on
    * the span string (shuffle ∝ span occurrences — at real duplication
    * rates the surviving inventory is tiny and broadcasts); hit windows
    * explode into at most k (id, pos) removal rows each, so removal
    * volume is bounded by k × repeated-window occurrences, never the
    * corpus. The rebuild is one per-doc aggregation of (pos, word)
    * structs — array_sort inside the agg, no corpus-wide window, and the
    * per-doc array is bounded by document length exactly like chunking.
    * At 100 TB: identical shapes, with the inventory join keyed on
    * xxhash64(span) to keep the shuffle narrow.
    */
  def stripRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 8, minDocs: Int = 2): DataFrame = {
    import graft.functions.WordShingles.wordShinglesWithPos
    val base = df.where(col(textCol).isNotNull)
    val posShingles = base.select(col(idCol),
      wordShinglesWithPos(col(textCol), k))
    val inventory = repeatedSpans(df, textCol, idCol, k, minDocs)
      .select(col("span"))
    // removed carries a RENAMED id: both sides of the anti-join descend
    // from the same scan, and dataframe-reference disambiguation
    // (tokens(idCol) === removed(idCol)) degenerates to a trivially-true
    // self-equality there — the rename makes the join keys unambiguous
    val removed = posShingles
      .join(inventory, posShingles("__sh") === inventory("span"))
      .select(col(idCol).as("__rid"),
        explode(sequence(col("__pos"), col("__pos") + col("__len") - 1)).as("__rp"))
      .distinct()
    val tokens = base.select(col(idCol),
        wordShinglesWithPos(col(textCol), 1))
      .select(col(idCol), col("__sh").as("__w"), col("__pos"))
    val kept = tokens.join(removed,
      col(idCol) === col("__rid") && col("__pos") === col("__rp"),
      "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__w")))),
          s => s("__w"))).as("clean_text"))
    base.select(col(idCol),
        size(split(trim(lower(col(textCol))), "\\s+")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CCNet-style BIGRAM language-model score: per-doc mean of
    * ln(c(w1,w2) / c(w1,·)) over the document's adjacent token pairs,
    * with both counts taken over the corpus's own bigram stream (so every
    * observed bigram has positive probability — no smoothing needed, and
    * the conditional normalizes over bigrams actually seen). A sharper
    * fluency signal than [[unigramLogProb]]: scrambled word order scores
    * low even when every unigram is common. Documents with fewer than two
    * tokens have no bigrams and are absent from the output.
    * Plan shape: one posexplode + lead window builds the (id, w1, w2)
    * stream once; corpus bigram counts and prefix counts are two
    * map-side-combinable aggregations over it; the per-doc mean joins them
    * back on the bigram key. The prefix count derives from the bigram
    * count table (sum per w1), so the token stream is aggregated once.
    * Returns (idCol, n_bigrams, avg_logprob).
    */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = df.where(col(textCol).isNotNull).select(col(idCol),
      posexplode(split(trim(lower(col(textCol))), "\\s+")).as(Seq("__p", "__w1")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    val bigrams = words
      .select(col(idCol), col("__w1"), lead(col("__w1"), 1).over(w).as("__w2"))
      .where(col("__w2").isNotNull)
    val cnt12 = bigrams.groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__c12"))
    val cnt1 = cnt12.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"))
    bigrams
      .join(cnt12, Seq("__w1", "__w2"))
      .join(cnt1, Seq("__w1"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        detMeanLog(col("__c12").cast("double") / col("__c1")).as("avg_logprob"))
  }

  /** Order-independent 4-decimal mean of ln(x): each term is quantized to
    * DECIMAL(28,9) (a deterministic per-value rounding), summed EXACTLY in
    * decimal arithmetic — decimal addition is associative, so partition
    * count, partial-agg order, and AQE re-plans cannot flip the last
    * digit the way a floating-point `avg` can — then divided once in
    * double. The 1e-9 quantization is far below the 1e-4 presentation
    * rounding. Used by the LM scores whose oracle hash-compares floats.
    */
  private def detMeanLog(x: Column): Column =
    round(
      sum(log(x).cast("decimal(28,9)")).cast("double") / count(lit(1)),
      4)

  /** CCNet-style language-model quality score with a UNIGRAM model trained
    * on the corpus itself: per-doc mean token log-probability
    * avg(ln(count(tok)/N)) over the doc's token stream (repeats counted).
    * Gibberish and rare-token soup scores low, common fluent text high —
    * the cheap first-pass filter before an external LM. Two map-side-
    * combinable aggregations (corpus term counts, per-doc mean) and one
    * equi-join on the token; every token is in the vocabulary by
    * construction, so no smoothing term is needed. Returns
    * (idCol, n_tokens, avg_logprob).
    */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // corpus size N stays INSIDE the plan (a broadcast 1-row cross join):
    // an eager count() here would both run a full tokenize job at
    // construction and freeze a stale N if the source grows before
    // execution — cnt and N must come from the same snapshot
    val total = freq.agg(sum(col("cnt")).as("__N"))
    toks.join(freq, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        detMeanLog(col("cnt").cast("double") / col("__N")).as("avg_logprob"))
  }

  /** Token→id encoding against a corpus-derived vocabulary — the
    * tokenize-to-ids step that turns a curated text corpus into model
    * input. The vocabulary is the `vocabSize` most frequent whitespace
    * tokens (count desc, token asc — a total order, so the vocab is
    * reproducible on any engine); ids are dense 1..vocabSize in that
    * order, with 0 as the out-of-vocabulary id. Returns
    * (idCol, n_tokens, token_ids: array<long>) with ids in original token
    * order.
    *
    * Plan shape: ONE posexplode of the token stream feeds both consumers —
    * and because Spark does not share subtrees across join sides, the
    * stream is persisted MEMORY_AND_DISK (the [[groupContainment]]
    * precedent) so the corpus is scanned and tokenized exactly once, not
    * once per consumer. The vocabulary is a map-side-combinable term count
    * + TakeOrderedAndProject head (per-partition heaps, no global sort),
    * and the encode is a broadcast join of that ≤vocabSize-row table back
    * onto the cached stream followed by ONE doc-keyed shuffle that
    * reassembles (pos, id) pairs with array_sort — collect_list's
    * partition-order nondeterminism is neutralized by sorting on the
    * carried position.
    *
    * The id-assignment window is global but runs AFTER the limit, over at
    * most `vocabSize` rows — bounded by construction, never
    * corpus-cardinality.
    */
  def encodeTokens(df: DataFrame, textCol: String, idCol: String,
                   vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("__id"),
        posexplode(split(trim(lower(col(textCol))), "\\s+")).as(Seq("__pos", "__tok")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__tok"))
      .limit(vocabSize)
      .withColumn("__tid",
        row_number().over(Window.orderBy(col("__cnt").desc, col("__tok"))).cast("long"))
      .select(col("__tok").as("token"), col("__tid").as("token_id"))
    encodeStream(toks, idCol, vocab)
  }

  /** The `vocabSize` most frequent whitespace tokens of the corpus as a
    * STORABLE (token, token_id) table — ids dense 1..V by (count desc,
    * token asc), the exact table [[encodeTokens]] derives internally.
    * Persist it to the warehouse to FREEZE the tokenizer; see
    * [[encodeTokensWithVocab]].
    */
  def buildVocab(df: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    import org.apache.spark.sql.expressions.Window
    df.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__tok"))
      .limit(vocabSize)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("__cnt").desc, col("__tok"))).cast("long"))
      .select(col("__tok").as("token"), col("token_id"))
  }

  /** [[encodeTokens]] against a STORED (token, token_id) vocabulary — the
    * frozen-tokenizer serving form (the [[graft.operators.Index
    * .bm25TopKFromIndex]] symmetry): a model trained on ids from one
    * corpus snapshot must encode every future increment with the SAME
    * mapping, so production builds the vocab once ([[buildVocab]] → the
    * warehouse) and every increment runs only this — one tokenize pass,
    * one broadcast join, one doc-keyed reassembly, NO vocab aggregation
    * and no persist (the token stream has a single consumer here).
    * Fed its own corpus's vocab it equals [[encodeTokens]] row for row
    * (spec-asserted).
    */
  def encodeTokensWithVocab(df: DataFrame, textCol: String, idCol: String,
                            vocab: DataFrame): DataFrame =
    encodeStream(
      df.select(col(idCol).as("__id"),
        posexplode(split(trim(lower(col(textCol))), "\\s+")).as(Seq("__pos", "__tok"))),
      idCol, vocab)

  /** Shared encode tail: broadcast the ≤V-row (token, token_id) table onto
    * the exploded stream, reassemble per-doc id sequences in carried
    * token order (array_sort neutralizes collect_list nondeterminism),
    * OOV → 0.
    */
  private def encodeStream(toks: DataFrame, idCol: String, vocab: DataFrame): DataFrame =
    toks.join(broadcast(vocab.select(col("token").as("__tok"),
        col("token_id").as("__tid"))), Seq("__tok"), "left")
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        array_sort(collect_list(struct(col("__pos"),
          coalesce(col("__tid"), lit(0L)).as("__t")))).as("__ps"))
      .select(col("__id").as(idCol), col("n_tokens"),
        transform(col("__ps"), _.getField("__t")).as("token_ids"))

  /** Character-distribution entropy of the letters [a-z] in the lowercased
    * text — a language-agnostic quality signal: natural prose sits near
    * the letter-frequency entropy of its language (~2.8–3 nats), while
    * keyboard mash, base64 blobs, and single-char repetition fall far
    * outside. Returns (idCol, n_alpha, char_entropy) for documents with at
    * least one letter; entropy uses H = ln(n) − Σ c·ln(c) / n so no
    * per-term probability needs the total before the sum.
    *
    * Plan shape: a PURE PROJECTION — entropy is per-document, so nothing
    * here needs a shuffle at all. [[graft.functions.CharDistEntropy]]
    * (a native codegen expression, the Int8Stats pattern) computes the 26
    * letter counts and the decimal-quantized entropy in one byte scan per
    * row; results are bitwise identical to [[charEntropyExploded]]
    * (spec-asserted), which this replaced as the default.
    */
  def charEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import graft.functions.CharDistEntropy.charDistEntropy
    df.select(col(idCol), charDistEntropy(lower(col(textCol))).as("__s"))
      .where(col("__s").isNotNull)
      .select(col(idCol),
        col("__s").getField("n_alpha").as("n_alpha"),
        round(col("__s").getField("char_entropy"), 4).as("char_entropy"))
  }

  /** The pre-[[graft.functions.CharDistEntropy]] relational formulation —
    * retained as the spec cross-check for the native expression (and as
    * the portable spelling for engines without extension expressions):
    * one letter explode, then (doc, char)-keyed counts. Both aggregations
    * are map-side combinable and the per-doc state after the first agg is
    * bounded by the 26-letter alphabet, so the doc-keyed shuffle carries
    * ≤26 rows per document — the cost is not the shuffle but the
    * corpus-character cardinality of per-row explode CPU, which the fused
    * expression deletes. The c·ln(c) terms are quantized to DECIMAL(28,9)
    * before summing so partition order cannot perturb the result (the q71
    * rule) — the fused form replays exactly that quantization.
    */
  def charEntropyExploded(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(regexp_extract_all(lower(col(textCol)), lit("[a-z]"), lit(0))).as("__ch"))
      .groupBy(col("__id"), col("__ch"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__id"))
      .agg(
        sum(col("__c")).as("__n"),
        sum((col("__c").cast("double") * log(col("__c").cast("double")))
          .cast("decimal(28,9)")).as("__clnc"))
      .select(col("__id").as(idCol),
        col("__n").as("n_alpha"),
        round(log(col("__n").cast("double")) -
          col("__clnc").cast("double") / col("__n").cast("double"), 4).as("char_entropy"))

  /** Windowed PMI co-occurrence — the word-association statistic
    * (Church & Hanks, CL 1990) that seeds collocation mining, phrase
    * detection and embedding-training diagnostics:
    *
    *   pmi(a,b) = ln( P(a,b) / (P(a)·P(b)) )
    *            = ln( n_ab·n_t² / (n_p·n_a·n_b) )
    *
    * over unordered token pairs within `window` positions of each other
    * (every positional pair counts — the standard sliding-window corpus
    * count). All counts are exact integers; the single ln's argument is
    * the same left-associated double product in the engine and the
    * DuckDB oracle, and the result rounds to 9 (the q71 ln doctrine).
    *
    * Scale shape: pair generation is a pure PROJECTION — a codegen'd
    * array-HOF over each document's token array (fan-out ≤ window per
    * token, zero exchange until the count) — then one (a,b)-bounded
    * aggregation, one vocabulary-bounded aggregation, two equi-joins of
    * the pair table against the vocabulary table, and the two corpus
    * totals as in-plan 1-row broadcasts. Nothing is corpus² anywhere.
    * Low-count pairs drop at `minPairCount` BEFORE the joins.
    */
  /** Sentence-aware chunking — the RAG/packing sibling of the token-
    * window chunker (q73): text splits into sentences on terminal
    * punctuation runs (`[.!?]+\s+`, terminators dropped — RE2 has no
    * lookbehind, so keeping them would fork the engines; the boundary
    * is what matters for chunking), and consecutive sentences pack into
    * chunks by the STANDARD running-total assignment: sentence s joins
    * chunk ⌊tokens_before_s / budget⌋. A chunk may exceed the budget by
    * its last sentence — the documented price of a fully relational
    * (window cumsum, no sequential scan) assignment; no sentence is
    * ever split mid-way, which is the property RAG retrieval needs.
    *
    * Plan shape: one posexplode (rows ∝ sentences), one doc-partitioned
    * cumsum window, one ordered string_agg rebuild per (doc, chunk) —
    * shuffle ∝ sentences, every window doc-bounded.
    *
    * Returns (idCol, chunk_id, n_sentences, n_tokens, text).
    */
  def sentenceChunks(df: DataFrame, textCol: String, idCol: String,
                     tokenBudget: Int = 64): DataFrame = {
    require(tokenBudget >= 1, s"tokenBudget must be >= 1, got $tokenBudget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__sidx"))
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), "[.!?]+\\s+")).as(Seq("__sidx", "__sent")))
      .where(trim(col("__sent")) =!= "")
      .withColumn("__sent", trim(regexp_replace(col("__sent"), "[.!?]+$", "")))
      .withColumn("__ntok", size(split(col("__sent"), "\\s+")).cast("long"))
      .withColumn("__before",
        coalesce(sum(col("__ntok")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("chunk_id", floor(col("__before") / tokenBudget).cast("long"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("__ntok")).as("n_tokens"),
        concat_ws(" ", sort_array(collect_list(
          struct(col("__sidx"), col("__sent")))).getField("__sent")).as("text"))
  }

  /** HTML → visible text — the first pass of every web-corpus cleaning
    * pipeline: drop script/style payloads whole (their CONTENT is code,
    * not text), drop comments, drop tags, decode the six ubiquitous
    * entities, collapse whitespace. A deliberate REGEX stripper, not a
    * DOM parser: at corpus scale the input is mostly malformed tag soup
    * where a strict parser rejects and a lenient one allocates a tree
    * per document; the regex chain is a pure codegen'd projection
    * (six `regexp_replace` + trim — zero exchange, zero allocation
    * beyond the string) and its known blind spot (a literal `>` inside
    * a quoted attribute value) is vanishingly rare in real crawl and
    * merely leaks a tag fragment, never loses body text.
    *
    * Entity order: `&amp;` decodes LAST, so double-encoded `&amp;lt;`
    * correctly yields the TEXT "&lt;", not "<" (the classic
    * double-decode bug reversed).
    *
    * Returns (idCol, text, n_chars_in, n_chars_out). The DuckDB oracle
    * replays the identical chain — both engines' regex dialects agree
    * on this pattern class ((?is) flags, lazy quantifiers, [^>], \s).
    */
  def stripHtml(df: DataFrame, htmlCol: String, idCol: String): DataFrame = {
    val raw = col(htmlCol)
    var t: org.apache.spark.sql.Column = raw
    t = regexp_replace(t, "(?is)<script[^>]*>.*?</script>", " ")
    t = regexp_replace(t, "(?is)<style[^>]*>.*?</style>", " ")
    t = regexp_replace(t, "(?s)<!--.*?-->", " ")
    t = regexp_replace(t, "<[^>]+>", " ")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foreach { case (e, r) => t = regexp_replace(t, e, r) }
    t = trim(regexp_replace(t, "\\s+", " "))
    df.where(raw.isNotNull)
      .select(col(idCol), t.as("text"),
        length(raw).cast("long").as("n_chars_in"),
        length(t).cast("long").as("n_chars_out"))
  }

  /** Collocation merge — the word2phrase retokenization step (Mikolov et
    * al., NIPS 2013 §4): adjacent token pairs whose PMI and support clear
    * the thresholds become single `a_b` tokens, so downstream vocabulary /
    * embedding / packing stages treat "new york" as one unit.
    *
    * Merging is GREEDY LEFTMOST NON-OVERLAPPING — the sequential scan
    * semantics ("a b c" with both (a,b) and (b,c) phrases merges (a,b)
    * and leaves c) — expressed relationally: candidate positions group
    * into maximal consecutive runs (pos − row_number is constant within
    * a run — the gaps-and-islands identity), and within each run exactly
    * the even offsets merge. Deterministic on any partitioning; no
    * sequential per-doc code anywhere.
    *
    * Plan shape: the phrase inventory is [[pmiCooccurrence]]-style
    * counts over ADJACENT ORDERED pairs (zero-exchange lead projection),
    * thresholded BEFORE anything joins; docs explode to (id, pos, tok),
    * join the inventory on the ordered bigram (inventory ≪ vocab² —
    * broadcastable), two doc-partitioned windows resolve the runs, and
    * one ordered string_agg rebuilds each document (the q122 rebuild
    * shape). Shuffle ∝ tokens, bounded fan-out everywhere.
    *
    * Returns (idCol, n_tokens, n_merged, text) — n_merged counts merges
    * performed (each removes one token).
    */
  def mergeCollocations(df: DataFrame, textCol: String, idCol: String,
                        minPairCount: Int = 5, minPmi: Double = 2.0): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val toks = df.where(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(trim(lower(col(textCol))), "\\s+"))
        .as(Seq("__pos", "__tok")))
      // eager localCheckpoint, not persist: the result is consumed AFTER
      // this function returns, so there is no safe point to unpersist —
      // checkpoint blocks are instead freed by the ContextCleaner when
      // the caller drops the plan, so a long-lived driver (the 174-query
      // bench sweep) does not accumulate cached blocks.
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ORDERED adjacent-bigram inventory (direction matters for rewrite,
    // unlike pmiCooccurrence's unordered statistics)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val bigrams = toks
      .withColumn("__next", lead(col("__tok"), 1).over(w))
      .where(col("__next").isNotNull)
    val pairCounts = bigrams.groupBy(col("__tok").as("__a"), col("__next").as("__b"))
      .agg(count(lit(1)).as("__nab"))
    val uni = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__n"))
    val nTok = uni.agg(sum(col("__n")).as("__nt"))
    val nPair = pairCounts.agg(sum(col("__nab")).as("__np"))
    val inventory = pairCounts.where(col("__nab") >= minPairCount)
      .join(uni.select(col("__tok").as("__a"), col("__n").as("__na")), Seq("__a"))
      .join(uni.select(col("__tok").as("__b"), col("__n").as("__nb")), Seq("__b"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .where(round(log(
        col("__nab").cast("double") * col("__nt") * col("__nt")
          / (col("__np").cast("double") * col("__na") * col("__nb"))), 9) >= minPmi)
      .select(col("__a"), col("__b"))
    // candidate positions → runs → greedy even offsets
    val cand = bigrams
      .join(inventory, col("__tok") === col("__a") && col("__next") === col("__b"), "left_semi")
      .select(col(idCol), col("__pos"))
    val runs = cand.withColumn("__grp",
        col("__pos") - row_number().over(w))
      .withColumn("__off", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol), col("__grp")).orderBy(col("__pos"))) - 1)
      .where(col("__off") % 2 === 0)
      .select(col(idCol), col("__pos").as("__mstart"))
    // rebuild: a merge start emits "a_b"; the merged-away successor drops.
    // runs re-aliases its columns first — it descends from toks, and a
    // raw join would trip Spark's ambiguous-self-join detection.
    val starts = runs.select(col(idCol).as("__rid"), col("__mstart"))
      .withColumn("__m", lit(1))
    val marked = toks
      .join(starts,
        col(idCol) === col("__rid") && col("__pos") === col("__mstart"), "left")
      .select(col(idCol), col("__pos"), col("__tok"), col("__m"))
      .withColumn("__prev_m", lag(col("__m"), 1).over(w))
      .withColumn("__next_tok", lead(col("__tok"), 1).over(w))
      .where(col("__prev_m").isNull) // drop tokens consumed by a merge
      .withColumn("__out",
        when(col("__m") === 1, concat(col("__tok"), lit("_"), col("__next_tok")))
          .otherwise(col("__tok")))
    marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept"),
        sum(coalesce(col("__m"), lit(0))).as("n_merged"),
        concat_ws(" ", sort_array(collect_list(
          struct(col("__pos"), col("__out")))).getField("__out")).as("text"))
      .select(col(idCol), (col("__kept") + col("n_merged")).cast("long").as("n_tokens"),
        col("n_merged").cast("long").as("n_merged"), col("text"))
  }

  def pmiCooccurrence(df: DataFrame, textCol: String, idCol: String,
                      window: Int = 3, minPairCount: Int = 5): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    // LAZY persists + run-at-call-time (the driftFromCounts contract):
    // the intermediates cache on first use inside the result's own
    // materialization (an eager checkpoint of the token stream here cost
    // q165 ~1s of pure up-front serialization), and BOTH unpersist
    // before returning — the result is eagerly checkpointed, so nothing
    // downstream ever re-reads them and no cache entry outlives the call.
    val toks = df.where(col(textCol).isNotNull)
      .select(split(trim(lower(col(textCol))), "\\s+").as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pairs from positions i < j <= i+window, canonically unordered —
    // sequence() steps DOWNWARD when start > stop, so the size<2 case
    // must short-circuit to an empty array rather than trust the bounds
    val pairs = toks.select(explode(expr(
        s"""CASE WHEN size(__toks) >= 2 THEN
           |  flatten(transform(sequence(0, size(__toks) - 2), i ->
           |    transform(sequence(i + 1, least(i + $window, size(__toks) - 1)), j ->
           |      struct(least(__toks[i], __toks[j]) AS a,
           |             greatest(__toks[i], __toks[j]) AS b))))
           |ELSE array() END""".stripMargin)).as("__p"))
      .select(col("__p.a").as("__a"), col("__p.b").as("__b"))
    val pairCounts = pairs.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("n_pair"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // uni has THREE consumers (both join sides + the nTok total); the
    // vocab-bounded table is checkpointed eagerly so the token-stream
    // aggregation behind it runs once, not once per consumer
    val uni = toks.select(explode(col("__toks")).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val nTok = uni.agg(sum(col("__n")).as("__nt"))
    val nPair = pairCounts.agg(sum(col("n_pair")).as("__np"))
    val out = pairCounts.where(col("n_pair") >= minPairCount)
      .join(uni.select(col("__tok").as("__a"), col("__n").as("__na")), Seq("__a"))
      .join(uni.select(col("__tok").as("__b"), col("__n").as("__nb")), Seq("__b"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .select(col("__a").as("term_a"), col("__b").as("term_b"), col("n_pair"),
        round(log(
          col("n_pair").cast("double") * col("__nt") * col("__nt")
            / (col("__np").cast("double") * col("__na") * col("__nb"))), 9).as("pmi"))
    // materialize the (minPairCount-filtered, pair-bounded) result, then
    // release the corpus-sized caches and the unigram checkpoint
    val result = out.localCheckpoint(true)
    toks.unpersist(); pairCounts.unpersist(); Iterate.free(uni)
    result
  }
}
