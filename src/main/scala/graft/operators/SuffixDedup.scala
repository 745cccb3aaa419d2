package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Suffix-array longest-match substring dedup — the any-length complement
  * of the fixed-k [[TextAnalysis.repeatedSpans]] inventory (Lee et al.
  * 2022, "Deduplicating Training Data Makes Language Models Better", §4).
  * Fixed k-token windows can say "a k-gram repeats" but cannot report the
  * LENGTH of the longest shared span, and a 3k-token boilerplate block
  * shows up as 2k+1 separate hits instead of one unit. A suffix array
  * answers both: sort all suffixes; the longest duplicated prefix of any
  * suffix is its longest common prefix (LCP) with a sorted NEIGHBOR.
  *
  * The construction is fully relational — no in-memory index:
  *
  *   1. [[graft.functions.WordSuffixes]] emits one `(doc, pos, sfx)` row
  *      per candidate match start, `sfx` truncated to `depth` tokens
  *      (bounded-depth suffix array: spans ≥ depth saturate at depth).
  *   2. Suffixes sort WITHIN `minLen`-prefix blocks, not globally: any
  *      two suffixes with LCP ≥ minLen share their first minLen tokens,
  *      so they land in the same block, where sorted order clusters them
  *      exactly as a global suffix sort would — the SA adjacency
  *      property survives, and the sort window is `partitionBy(block)`,
  *      never a single-partition global window. Cross-block neighbors
  *      have LCP < minLen by construction, i.e. below the report
  *      threshold — losing them loses nothing.
  *   3. Per suffix row: longest duplicated prefix = max(LCP with the
  *      previous row, LCP with the next row) in block-sorted order, the
  *      standard SA identity (the nearest sorted neighbors maximize
  *      prefix agreement).
  *
  * Shuffle ∝ suffix rows = O(tokens × depth) bytes — the documented
  * price of the bounded depth; partition grain = distinct minLen-grams
  * (block skew only for a minLen-gram with pathological df — raise
  * `minLen` or pre-filter boilerplate with the q74 inventory).
  * Within-doc repeats count as duplication, exactly as in the paper
  * (self-overlap included: "a a a a" repeats "a a a").
  */
object SuffixDedup {

  /** Bounded-depth suffix-array rows: one `(idCol, pos, sfx)` row per
    * candidate match start (positions that still have ≥ minLen tokens).
    */
  def suffixRows(df: DataFrame, textCol: String, idCol: String,
                 minLen: Int, depth: Int): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.WordSuffixes.wordSuffixes(col(textCol), minLen, depth))
      .withColumnRenamed("__sfx", "sfx")
      .withColumnRenamed("__pos", "pos")

  /** Token-wise longest common prefix of two string arrays: count of
    * leading pairwise-equal elements. `zip_with` pads the shorter side
    * with nulls; the null-safe inequality marks those as mismatches, so
    * the first `true` in the mismatch mask IS the LCP (0-based), and an
    * all-false mask means one array is a prefix of the other.
    */
  private[operators] def lcp(a: Column, b: Column): Column = {
    val mismatch = zip_with(a, b, (x, y) => !(x <=> y))
    val firstBad = array_position(mismatch, true)
    when(a.isNull || b.isNull, lit(0L))
      .when(firstBad > 0, firstBad - 1)
      .otherwise(least(size(a), size(b)).cast("long"))
  }

  /** Per suffix row, the length (in tokens, saturated at `depth`) of the
    * longest prefix that occurs ANYWHERE else in the corpus (another
    * document or another position of the same document):
    * `(idCol, pos, dup_len, dup_len_capped)`. Rows below `minLen`
    * agreement report their raw neighbor LCP (< minLen); consumers
    * threshold.
    *
    * Block-skew guard (`maxBlockDf`): the sorted-neighbor window
    * partitions by minLen-prefix block, so ONE pathologically frequent
    * minLen-gram (the boilerplate sentence of a 100-TB crawl) would
    * otherwise buffer-and-sort its whole block in one task. Blocks whose
    * suffix count exceeds `maxBlockDf` never enter the sort; their rows
    * resolve in two exact-or-bounded tiers instead:
    *
    *   - a row whose FULL depth-truncated suffix occurs ≥ 2 times has an
    *     identical twin, so dup_len = size(sfx) EXACTLY (this is the
    *     common pathology: verbatim boilerplate). The twin count is a
    *     map-side-combinable groupBy on the suffix itself — identical
    *     suffixes collapse before the shuffle, no skew survives.
    *   - a unique-suffix row in a hot block still shares its first
    *     minLen tokens with every other block row, so dup_len ≥ minLen
    *     is PROVEN; it reports that lower bound with
    *     `dup_len_capped = true` — quarantine-style accounting, not a
    *     silent truncation.
    *
    * The hot-block key set is tiny by construction (only pathological
    * grams exceed the cap), so the routing join broadcasts.
    */
  def longestDupPrefix(df: DataFrame, textCol: String, idCol: String,
                       minLen: Int = 5, depth: Int = 50,
                       maxBlockDf: Long = 1L << 20): DataFrame = {
    // Tier 2's dup_len >= minLen floor is proven by ">= 2 rows share the
    // hot block's gram", which needs df > maxBlockDf to imply df >= 2: a
    // non-positive cap would route SINGLETON blocks hot and report a
    // never-duplicated suffix as dup_len = minLen (ADVICE r13).
    require(maxBlockDf >= 1,
      s"maxBlockDf must be >= 1 (got $maxBlockDf): the hot-block floor is " +
        "only sound when a hot block provably holds >= 2 suffix rows")
    // Hot-block probe, two sound layers (the Components eager-gate
    // precedent: cheap driver-side cardinalities decide the plan):
    //
    //   1. A block's df can never exceed the corpus's TOTAL suffix-row
    //      count, so if that total is <= maxBlockDf — one scan-and-sum,
    //      no explode, no shuffle beyond a 1-row agg — no block can be
    //      hot and the plain single-window plan runs untouched. This is
    //      the common case at test scales and keeps the guard ~free.
    //   2. Otherwise, count dfs on minLen-SHINGLES, not full suffixes:
    //      the block df equals the gram df (one suffix row per position
    //      with >= minLen tokens left) and a depth=minLen generator is
    //      ~depth/minLen times lighter. Map-side-combinable count, so a
    //      hot gram collapses per map partition before the shuffle.
    val totalPositions = df
      .where(col(textCol).rlike("\\S"))
      .agg(coalesce(sum(greatest(
        size(split(trim(lower(col(textCol))), "\\s+")) - lit(minLen - 1),
        lit(0))), lit(0L)))
      .head().getLong(0)
    // The probe COLLECTS the hot keys — at most totalPositions/maxBlockDf
    // of them, the same driver-size contract a broadcast of the plan
    // would carry — so the aggregation runs exactly once; re-reading
    // `hot` as a live plan from the routing joins below would re-run the
    // probe scan per consumer.
    val hotKeys: Array[String] =
      if (totalPositions <= maxBlockDf) Array.empty
      else suffixRows(df, textCol, idCol, minLen, minLen)
        .select(concat_ws(" ", col("sfx")).as("__block"))
        .groupBy(col("__block")).agg(count(lit(1)).as("__df"))
        .where(col("__df") > maxBlockDf)
        .select(col("__block"))
        .collect().map(_.getString(0))
    val sfx = suffixRows(df, textCol, idCol, minLen, depth)
      // block key: the first minLen tokens, space-joined (tokens carry no
      // whitespace post-split, so the join is injective on exactly-minLen
      // token sequences)
      .withColumn("__block", concat_ws(" ", slice(col("sfx"), 1, minLen)))
    val w = Window.partitionBy(col("__block"))
      .orderBy(col("sfx"), col(idCol), col("pos"))
    // bind the neighbors ONCE: lcp() references its argument four times,
    // and inlining the window function there would make the physical
    // Window evaluate the same lag/lead of a depth-token array four times
    def sorted(rows: DataFrame): DataFrame =
      rows.select(col(idCol), col("pos"), col("sfx"),
          lag(col("sfx"), 1).over(w).as("__prv"),
          lead(col("sfx"), 1).over(w).as("__nxt"))
        .select(col(idCol), col("pos"),
          greatest(
            lcp(col("sfx"), col("__prv")),
            lcp(col("sfx"), col("__nxt"))).as("dup_len"),
          lit(false).as("dup_len_capped"))
    if (hotKeys.isEmpty) sorted(sfx)
    else {
      import df.sparkSession.implicits._
      val hot = broadcast(hotKeys.toSeq.toDF("__block"))
      val cold = sfx.join(hot, Seq("__block"), "left_anti")
      // hotRows derives from a FULL corpus suffix scan; it feeds two
      // consumers (the twin count and the output probe), so materialize
      // it once rather than paying the scan twice
      val hotRows = sfx.join(hot, Seq("__block"), "left_semi")
        .localCheckpoint(true)
      // tier 1: an identical depth-truncated twin (>= 2 occurrences of
      // the full suffix) pins dup_len = size(sfx) exactly — and the
      // sorted-neighbor answer could never exceed it. The count groups
      // by the suffix itself, so identical boilerplate collapses
      // map-side; no skew reaches the shuffle.
      val twins = hotRows.groupBy(col("sfx")).agg(count(lit(1)).as("__n"))
      val hotOut = hotRows.join(twins, Seq("sfx"))
        .select(col(idCol), col("pos"),
          when(col("__n") >= 2, size(col("sfx")).cast("long"))
            // tier 2: unique suffix in a hot block — sharing the block's
            // minLen-gram with > maxBlockDf other rows proves
            // dup_len >= minLen; report the bound, flag it capped
            .otherwise(lit(minLen.toLong)).as("dup_len"),
          (col("__n") < 2).as("dup_len_capped"))
      sorted(cold).unionByName(hotOut)
    }
  }

  /** Substring-dedup STRIP (the purpose of the suffix array in Lee et
    * al. 2022): every position whose suffix shares ≥ `minLen` leading
    * tokens with an EARLIER occurrence is a LOSER and loses duplicated
    * content, where "earlier" = smaller (idCol, pos) — the keep-first
    * policy — and the document's text rebuilds from the surviving token
    * positions.
    *
    * The loser test is exact and SORT-FREE: two suffixes share ≥ minLen
    * leading tokens iff they carry the same minLen-gram, so "has an
    * earlier occurrence sharing ≥ minLen" is exactly "is not the
    * (idCol, pos)-minimum of its minLen-gram group". No suffix sorting,
    * no LCP, no depth-token arrays — the operator needs only each
    * position's minLen-token shingle. The FIRST occurrence of duplicated
    * content always survives; every later occurrence strips (an
    * exact-duplicate document strips to the empty string).
    *
    * Each loser covers exactly `minLen` positions, which yields the SAME
    * covered-position union as stripping the full shared-prefix length:
    * if a suffix at `pos` truly shares `s ≥ minLen` tokens with an
    * earlier occurrence, then for every `q` in `[pos, pos+s)` the window
    * `[q-minLen+1, q]` lies inside the shared span, so the suffix at
    * `q-minLen+1` shares ≥ minLen with the earlier occurrence shifted by
    * the same offset — itself earlier — and is therefore also a loser
    * covering `q`. The union telescopes to the full span; no position of
    * non-duplicated content is ever covered because every loser's minLen
    * window is inside a true shared span. This is also why no `depth`
    * parameter exists: span length never enters the computation.
    * Overlapping span families resolve toward MORE stripping, never
    * against the first occurrence — the same overlap fuzziness as the
    * paper's byte-range cuts. Null and whitespace-only documents pass
    * through as null / 0-token empty.
    *
    * Scale shape — deliberately skew-proof for boilerplate-heavy
    * corpora: the first-occurrence-per-gram table is a
    * map-side-combinable min (a gram occurring 10M times contributes ONE
    * row per map partition to the shuffle), singleton grams drop before
    * the join (most grams are unique), the losers join is an equi-join
    * AQE can skew-split, covered positions explode exactly minLen rows
    * per loser, and the rebuild is one anti-join plus a sorted per-doc
    * aggregation — everything keys on doc or gram; no global step, no
    * sort, no window.
    */
  def stripAllButFirst(df: DataFrame, textCol: String, idCol: String,
                       minLen: Int = 5): DataFrame = {
    val grams = gramRows(df, textCol, idCol, minLen)
    val firsts = grams.groupBy(col("__gram"))
      .agg(min(struct(col(idCol).as("i"), col("pos").as("p"))).as("__kmin"),
        count(lit(1)).as("__df"))
      .where(col("__df") >= 2) // a gram seen once has no later occurrence
      .select(col("__gram"), col("__kmin"))
    rebuildStripped(df, textCol, idCol,
      coveredPositions(grams, firsts, idCol, minLen))
  }

  /** One `(idCol, pos, __gram)` row per candidate start — the shared
    * shingle feed of both strip forms.
    */
  private def gramRows(df: DataFrame, textCol: String, idCol: String,
                       minLen: Int): DataFrame =
    suffixRows(df, textCol, idCol, minLen, minLen)
      .select(col(idCol), col("pos"), concat_ws(" ", col("sfx")).as("__gram"))

  /** The shared loser rule of both strip forms: a position is covered
    * iff it falls in the minLen window of a row that is NOT the
    * `__kmin` first occurrence of its gram (grams absent from `firsts`
    * have no earlier occurrence and survive via the inner join).
    */
  private def coveredPositions(grams: DataFrame, firsts: DataFrame,
                               idCol: String, minLen: Int): DataFrame =
    grams.join(firsts, Seq("__gram"))
      .where(col(idCol) =!= col("__kmin.i") || col("pos") =!= col("__kmin.p"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(minLen - 1))).as("pos"))
      .distinct()

  /** Rebuild each document from its uncovered token positions:
    * `(idCol, n_tokens_before, n_tokens_removed, text_stripped)` — the
    * shared tail of [[stripAllButFirst]] and [[stripIncrement]]. One
    * anti-join plus a sorted per-doc aggregation.
    */
  private def rebuildStripped(df: DataFrame, textCol: String, idCol: String,
                              covered: DataFrame): DataFrame = {
    val toks = df
      // rlike("\\S"): drop null AND whitespace-only text (trim() only
      // strips spaces, so a tab-only doc would otherwise tokenize to
      // phantom empty tokens and report a nonzero count)
      .where(col(textCol).rlike("\\S"))
      .select(col(idCol), posexplode(split(trim(lower(col(textCol))), "\\s+")))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("__stripped"),
        count(lit(1)).as("__kept"))
    // __before is a ROW-LOCAL projection (r16 opt): the token count per doc
    // is size(split(...)) on the document row itself — the old form
    // re-exploded the whole corpus into toks a second time and paid an
    // aggregation exchange plus a join to recover a number each row already
    // knows. Same rlike gate as toks, so the counts are identical (null /
    // whitespace-only docs fall to the 0 coalesce exactly as the left join
    // did).
    df.select(col(idCol), col(textCol))
      .withColumn("__before",
        when(col(textCol).rlike("\\S"),
          size(split(trim(lower(col(textCol))), "\\s+")).cast("long")))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__before"), lit(0L)).as("n_tokens_before"),
        (coalesce(col("__before"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .as("n_tokens_removed"),
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__stripped"), lit(""))).as("text_stripped"))
  }

  /** The STORABLE substring-dedup state for [[stripIncrement]]: the
    * first (idCol, pos) occurrence of every minLen-gram in the corpus —
    * `(gram, first_id, first_pos)`. One map-side-combinable min per
    * gram; singletons are KEPT (unlike the batch strip's df ≥ 2 pruning)
    * because a gram seen once in the stored corpus must still defeat a
    * later occurrence arriving in an increment. Write it to the
    * warehouse next to the corpus; tomorrow's batch strips against it
    * without touching today's documents.
    */
  def gramFirsts(df: DataFrame, textCol: String, idCol: String,
                 minLen: Int = 5): DataFrame =
    gramRows(df, textCol, idCol, minLen)
      .groupBy(col("__gram").as("gram"))
      .agg(min(struct(col(idCol).as("i"), col("pos").as("p"))).as("__f"))
      .select(col("gram"), col("__f.i").as("first_id"), col("__f.p").as("first_pos"))

  /** Incremental keep-first substring-dedup STRIP — [[stripAllButFirst]]
    * for a NEW batch against a stored corpus, in O(increment) work: the
    * increment never re-reads yesterday's documents, only the stored
    * [[gramFirsts]] table. A position in the increment is a loser iff
    * the global first occurrence of its minLen-gram — the minimum of the
    * stored first and the increment's own first, one left join on the
    * gram — is not itself. This is EXACT (incremental == full recompute
    * restricted to increment documents) with no id-ordering assumption
    * for the increment's own results: the merged min IS the global min.
    * (Reusing yesterday's stored OUTPUTS unchanged does assume increment
    * ids sort after stored ids — the monotone-ingest snapshot contract
    * of the other incremental families.)
    *
    * Scale shape: the increment's grams join the stored firsts on the
    * gram (broadcast or shuffle join by size, AQE skew-split applies);
    * shuffle ∝ increment tokens + touched stored grams, never the
    * corpus.
    */
  def stripIncrement(storedFirsts: DataFrame, inc: DataFrame,
                     textCol: String, idCol: String,
                     minLen: Int = 5): DataFrame = {
    val grams = gramRows(inc, textCol, idCol, minLen)
    val incFirsts = grams.groupBy(col("__gram"))
      .agg(min(struct(col(idCol).as("i"), col("pos").as("p"))).as("__n"))
    // least() skips nulls, so a gram the stored corpus never saw
    // resolves to the increment's own first
    val combined = incFirsts
      .join(storedFirsts.select(col("gram").as("__gram"),
        struct(col("first_id").as("i"), col("first_pos").as("p")).as("__s")),
        Seq("__gram"), "left")
      .select(col("__gram"), least(col("__s"), col("__n")).as("__kmin"))
    rebuildStripped(inc, textCol, idCol,
      coveredPositions(grams, combined, idCol, minLen))
  }

  /** Per-document substring-dedup report:
    * `(idCol, longest_dup_tokens, n_dup_starts, n_capped_starts)` — the
    * longest span (in tokens, ≥ minLen, saturated at depth) shared with
    * any other occurrence in the corpus, how many token positions start
    * such a span (the Lee-et-al strip-candidate count), and how many of
    * those starts carry a capped lower-bound answer because their
    * minLen-gram block exceeded `maxBlockDf` (see [[longestDupPrefix]] —
    * 0 everywhere unless the corpus has a pathologically frequent gram).
    * Documents with no qualifying span — including those shorter than
    * minLen — report 0/0/0.
    */
  def longestDupPerDoc(df: DataFrame, textCol: String, idCol: String,
                       minLen: Int = 5, depth: Int = 50,
                       maxBlockDf: Long = 1L << 20): DataFrame = {
    require(maxBlockDf >= 1,
      s"maxBlockDf must be >= 1 (got $maxBlockDf); see longestDupPrefix")
    val dup = longestDupPrefix(df, textCol, idCol, minLen, depth, maxBlockDf)
      .where(col("dup_len") >= minLen)
      .groupBy(col(idCol))
      .agg(max(col("dup_len")).as("__longest"), count(lit(1)).as("__starts"),
        sum(when(col("dup_len_capped"), 1L).otherwise(0L)).as("__capped"))
    df.select(col(idCol)).join(dup, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__longest"), lit(0L)).as("longest_dup_tokens"),
        coalesce(col("__starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("__capped"), lit(0L)).as("n_capped_starts"))
  }
}
