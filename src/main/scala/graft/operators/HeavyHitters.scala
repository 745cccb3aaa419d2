package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT heavy hitters with Misra–Gries candidate pruning (Misra & Gries
  * 1982; the "candidate + exact verify" production pattern) — the
  * bounded-state sibling of the count-min sketch ([[Sketch]]): CMS
  * answers "roughly how often does THIS token occur" from a fixed-size
  * summary; this operator answers "which tokens dominate the corpus,
  * with EXACT counts" while never shuffling the distinct-token table.
  * Reference scope: the reference ETL (dags/sri_vehiculos_etl_dag.py)
  * has no frequency mining; this extends the LLM-training-data shelf
  * (stopword discovery, boilerplate token detection, vocabulary-cap
  * planning) the engine adds on top of it.
  *
  * Scale shape — why not just groupBy(token).count().orderBy? That
  * shuffles ONE ROW PER DISTINCT TOKEN (map-side combined, but at 100 TB
  * the distinct cardinality is billions). Here:
  *
  *   1. '''candidates''': one pass of Misra–Gries with k counters PER
  *      PARTITION (`mapPartitions` — genuinely procedural streaming
  *      state, the rare case the relational API cannot express), each
  *      partition emitting <= k surviving tokens. Shuffle ∝ partitions×k,
  *      independent of distinct cardinality.
  *   2. '''verify''': the token stream counts ONLY the broadcast
  *      candidate set (semi-join filter before the aggregation), so the
  *      exact-count shuffle is also ∝ candidates, and the count is
  *      map-side combinable.
  *   3. '''threshold''': keep tokens with exact cnt·(k+1) > n (pure
  *      integer — no division, no float), rank (cnt desc, tok asc). At
  *      most k such tokens exist, so the rank window is the q88-bounds
  *      class of global window.
  *
  * Correctness THEOREM (what makes the pruning safe under ANY
  * partitioning, spec-pinned): Misra–Gries with k counters retains every
  * token whose local count exceeds n_i/(k+1) (its estimate undercounts
  * by at most n_i/(k+1) < its true count, so the counter is positive at
  * partition end). If a token's GLOBAL count exceeds n/(k+1) = Σn_i/(k+1),
  * then by pigeonhole its local count exceeds n_i/(k+1) in at least one
  * partition — so it survives there and reaches the candidate union.
  * Candidates ⊇ true heavy hitters for EVERY partitioning; the verify
  * join then makes the OUTPUT exactly "all tokens with cnt·(k+1) > n,
  * exact counts" — a data-defined set, independent of partitioning,
  * which is what lets DuckDB replay it as a plain GROUP BY … HAVING.
  */
object HeavyHitters {

  /** The Misra–Gries kernel: stream `it` through k counters, return the
    * surviving (token, residual count) pairs. Residuals are NOT true
    * counts (undercounted by <= n_i/(k+1)); only survival matters here.
    */
  private[operators] def misraGries(it: Iterator[String], k: Int): Map[String, Long] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val t = it.next()
      counters.get(t) match {
        case Some(c) => counters.update(t, c + 1)
        case None =>
          if (counters.size < k) counters.update(t, 1L)
          else {
            // decrement-all step; drop zeros. Amortized O(1) per element
            // (each decrement pays back an earlier increment).
            val dead = new scala.collection.mutable.ArrayBuffer[String]
            counters.mapValuesInPlace((_, c) => c - 1)
            counters.foreach { case (key, c) => if (c == 0L) dead += key }
            dead.foreach(counters.remove)
          }
      }
    }
    counters.toMap
  }

  /** The shared tail: threshold candidate counts against the stream
    * total with the pure-integer test cnt·(k+1) > n, rank (cnt desc,
    * tok asc). `counted` must carry exact (tok, cnt); `total` is the
    * 1-row exact stream length. At most k rows can pass (fewer than
    * k+1 tokens can each hold more than a 1/(k+1) share), so the rank
    * window is the q88-bounds class of global window.
    */
  private def thresholdAndRank(counted: DataFrame, total: DataFrame, k: Int): DataFrame =
    counted
      .crossJoin(broadcast(total))
      .where(col("cnt") * (k + 1) > col("__n"))
      .select(col("tok"), col("cnt"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok"))).cast("long").as("rank"))

  /** Exact heavy hitters of a single-column token frame: all tokens with
    * exact count·(k+1) > total tokens, with exact counts, ranked
    * (cnt desc, tok asc). Output: (tok STRING, cnt LONG, rank LONG) —
    * at most k rows.
    */
  def ofTokens(toks: DataFrame, tokCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = toks.sparkSession
    import spark.implicits._
    // materialize the token projection once: the candidate pass and the
    // verify count both read it, and upstream may be an expensive split
    val t = toks.select(col(tokCol).cast("string").as("tok"))
      .where(col("tok").isNotNull)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = t.as[String]
      .mapPartitions(it => misraGries(it, k).keysIterator)
      .toDF("tok").distinct()
    val total = t.groupBy().agg(count(lit(1)).as("__n"))
    thresholdAndRank(
      t.join(broadcast(candidates), Seq("tok")) // semi-join shape: candidate tokens only
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      total, k)
  }

  /** The additive count-state for the incremental forms: exact
    * (tok, cnt) of one corpus segment — DISTINCT-token cardinality (the
    * same state class as [[WordPiece.substringCounts]] / the unigram
    * word counts), map-side combined, never corpus-cardinality. Exact
    * counts are what make [[fromSegments]]'s output a data-defined set.
    */
  def tokenCounts(toks: DataFrame, tokCol: String): DataFrame =
    toks.select(col(tokCol).cast("string").as("tok"))
      .where(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("cnt"))

  /** [[tokenCounts]] over a text column with the [[ofText]] tokenization. */
  def textTokenCounts(df: DataFrame, textCol: String): DataFrame =
    tokenCounts(textTokens(df, textCol), "tok")

  /** Exact heavy hitters off stored count segments (seg, tok, cnt) —
    * the O(state) serving read for the incremental forms, and
    * the SAME pigeonhole theorem lifted from partitions to segments:
    * if a token's global count exceeds n/(k+1) = Σn_i/(k+1), then in at
    * least one segment its count exceeds that segment's n_i/(k+1) — so
    * the per-segment local-share filter (cnt_i·(k+1) > n_i, at most k
    * survivors per segment, pure integers) yields candidates ⊇ the true
    * heavy hitters under ANY segmentation, and the broadcast verify sum
    * recounts the candidates exactly. Output is byte-identical to
    * [[ofTokens]] over the concatenated segments — which is what makes
    * incremental == full a theorem, not a heuristic. Never shuffles the
    * distinct-token state: the only shuffles are the S-row per-segment
    * totals and the ≤ S·k candidate verify. Segments are expected to be
    * stored tables (LSM); compaction = per-tok sum of any subset of
    * segments, which only TIGHTENS the candidate filter (pigeonhole
    * holds over every coarsening).
    *
    * INPUT CONTRACT (load-bearing, spec-pinned): rows must be
    * per-(seg, tok) UNIQUE — the shape [[tokenCounts]] and every
    * LSM writer produce. The candidate filter tests ROW counts; a
    * token's within-segment count split across duplicate sub-rows can
    * sit below the local share in every piece while the segment total
    * is above it, silently dropping a true heavy hitter. (The safe
    * repair — pre-aggregating (seg, tok) on read — would shuffle the
    * entire distinct-token state, the exact cost this operator exists
    * to avoid, so the contract is on the writer.)
    */
  def fromSegments(segments: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val segs = segments.select(col("seg"), col("tok"), col("cnt").cast("long").as("cnt"))
    val perSegTotal = segs.groupBy(col("seg")).agg(sum(col("cnt")).as("__ni"))
    val candidates = segs
      .join(broadcast(perSegTotal), Seq("seg"))
      .where(col("cnt") * (k + 1) > col("__ni"))
      .select(col("tok")).distinct()
    val total = segs.groupBy().agg(sum(col("cnt")).as("__n"))
    thresholdAndRank(
      segs.join(broadcast(candidates), Seq("tok"))
        .groupBy(col("tok")).agg(sum(col("cnt")).as("cnt")),
      total, k)
  }

  /** PER-GROUP exact heavy hitters — the per-language stopword-discovery
    * form: for every group, all tokens holding more than a 1/(k+1) share
    * of THAT GROUP's token stream, exact counts, ranked within the
    * group. The pigeonhole theorem holds per group (a token above group
    * g's global share exceeds g's LOCAL share in some partition, because
    * group streams partition independently), so one pass of per-group
    * Misra–Gries counters per partition (shuffle ∝ partitions·groups·k)
    * + one broadcast (group, tok) verify pass gives the exact
    * data-defined answer — the rank window is partitioned by group over
    * ≤ k pre-thresholded rows per group, never a global window. Group
    * cardinality is assumed dimension-like (languages, sources): the
    * per-group totals broadcast at G rows.
    * Output: (<groupCol>, tok, cnt, rank).
    */
  def perGroup(pairs: DataFrame, groupCol: String, tokCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = pairs.sparkSession
    import spark.implicits._
    val t = pairs.select(col(groupCol).cast("string").as("grp"),
        col(tokCol).cast("string").as("tok"))
      .where(col("grp").isNotNull && col("tok").isNotNull)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = t.as[(String, String)]
      .mapPartitions { it =>
        // one incremental MG per group key (buffering each group's
        // sub-stream to reuse the single-stream kernel would hold the
        // whole partition in memory)
        val counters = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashMap[String, Long]]
        it.foreach { case (g, tok) =>
          val c = counters.getOrElseUpdate(g, scala.collection.mutable.HashMap.empty)
          c.get(tok) match {
            case Some(n) => c.update(tok, n + 1)
            case None =>
              if (c.size < k) c.update(tok, 1L)
              else {
                val dead = new scala.collection.mutable.ArrayBuffer[String]
                c.mapValuesInPlace((_, n) => n - 1)
                c.foreach { case (key, n) => if (n == 0L) dead += key }
                dead.foreach(c.remove)
              }
          }
        }
        counters.iterator.flatMap { case (g, c) => c.keysIterator.map(g -> _) }
      }
      .toDF("grp", "tok").distinct()
    val totals = t.groupBy(col("grp")).agg(count(lit(1)).as("__n"))
    perGroupThreshold(
      t.join(broadcast(candidates), Seq("grp", "tok"))
        .groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("cnt")),
      totals, groupCol, k)
  }

  /** The per-group tail: threshold exact (grp, tok, cnt) against the
    * per-group totals, rank within each group. */
  private def perGroupThreshold(counted: DataFrame, totals: DataFrame,
                                groupCol: String, k: Int): DataFrame =
    counted
      .join(broadcast(totals), Seq("grp"))
      .where(col("cnt") * (k + 1) > col("__n"))
      .select(col("grp").as(groupCol), col("tok"), col("cnt"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp")).orderBy(col("cnt").desc, col("tok")))
          .cast("long").as("rank"))

  /** [[perGroup]] over a text column with the [[ofText]] tokenization. */
  def ofTextPerGroup(df: DataFrame, groupCol: String, textCol: String, k: Int): DataFrame =
    perGroup(
      df.where(col(textCol).isNotNull)
        .select(col(groupCol),
          explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
        .where(col("tok") =!= ""),
      groupCol, "tok", k)

  /** The [[ofText]] tokenization: whitespace-lowered tokens, the
    * [[Bpe.wordTable]] normalization — shared by the batch path and the
    * count-state builders so the two can never drift.
    */
  private def textTokens(df: DataFrame, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .where(col("tok") =!= "")

  /** Convenience form over a text column: whitespace-lowered tokens, the
    * [[Bpe.wordTable]] normalization.
    */
  def ofText(df: DataFrame, textCol: String, k: Int): DataFrame =
    ofTokens(textTokens(df, textCol), "tok", k)
}
