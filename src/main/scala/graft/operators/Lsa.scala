package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Latent semantic analysis without a linear-algebra library: the top
  * right-singular vector of a SPARSE (row, col, value) matrix — e.g. the
  * TF-IDF term–document matrix — by power iteration on AᵀA, where each
  * half-step is ONE relational matvec:
  *
  *     u = A v    ⟺  join on col, sum per row
  *     w = Aᵀ u   ⟺  join on row, sum per col
  *
  * The (row, col, value) table IS the matrix; nothing is ever
  * densified, shuffle ∝ nnz per half-step, and the matvec aggregations
  * are map-side combinable — the same relational-linear-algebra shape as
  * [[Pca]]'s covariance accumulation and PageRank's rank push, here on
  * an arbitrary rectangular sparse matrix. Each half-step normalizes
  * (keeping magnitudes O(1) so the decimal accumulators never
  * overflow), dividing by a norm fetched as a 1-row scalar.
  *
  * Determinism doctrine (PageRank/q71, hardened round 9): matrix values
  * quantize to a 4-decimal grid on ingest (DECIMAL(18,4) — ≤5e-5
  * relative error on tf-idf-scaled weights, far below power-iteration
  * tolerance) and iterates live on a 9-decimal grid, so every matvec
  * product is EXACT at 13 decimals and only the per-key sum rounds
  * (HALF_UP, in decimal) to 9. Quantizing the DOUBLE product instead
  * (the round-8 doctrine) hit exact .5e-9 ties at ~1e-4 per value,
  * where Spark rounds the shortest decimal repr and DuckDB the binary
  * value — 1-ulp divergences. Squared norms still round to 6 before
  * the DECIMAL(38,12) sum (tie probability there is ~1e-9: the summand
  * is not grid-aligned at the rounding scale), every emitted value
  * rounds to 9 — the DuckDB oracle replays the full unrolled iteration
  * bit-for-bit.
  *
  * Arithmetic doctrine (round 10): the exact products run in SCALED
  * LONG arithmetic, not BigDecimal — both factors sit on fixed grids,
  * so each product is the hardware multiply of the two unscaled longs
  * (grid 1e-4 × grid 1e-9 = exact integer at 1e-13), the per-key sum
  * accumulates those integers in DECIMAL(38,0) (compact-long adds),
  * and ONE division per output key rescales — planned as
  * decimal(25,0)/decimal(14,0) → decimal(38,13), scale 13, so the
  * quotient is exact and the single HALF_UP round lands bit-for-bit
  * where the round-9 decimal(18,4)×decimal(10,9) product-sum did. The
  * decimal(29,13) BigDecimal multiply this replaces was a 3–4×
  * constant factor on the hottest arithmetic in the repo (the LSA
  * family was 16.6% of the 174-query bench). Inputs with
  * |value| > 8e5 (beyond any tf-idf scale; unscaled-long products
  * could overflow at ~9.2e18) fall back to the identical-result
  * exact-decimal path — the choice is invisible in the output.
  *
  * Runs AT CALL TIME (the fit contract) inside one [[Iterate]] call,
  * which owns every checkpoint the matrix and the iterates make.
  * Starting vector: all-ones over the columns (deterministic; for a
  * non-negative matrix like TF-IDF the iterate stays non-negative and
  * converges to the dominant component for generic spectra).
  */
object Lsa {
  import org.apache.spark.sql.Column

  /** The prepped sparse matrix: (__r, __c, __v double, __vl unscaled
    * long of the decimal(18,4) quantization), checkpointed, plus whether
    * every |__vl| is small enough (≤ 8e9, i.e. |value| ≤ 8e5) that
    * unscaled-long products cannot overflow (8e9 × 1.1e9 < 2^63).
    */
  private case class Mat(df: DataFrame, scaledLongSafe: Boolean)

  private def prep(it: Iterate, matrix: DataFrame, rowCol: String, colCol: String,
                   valCol: String): Mat = {
    val a = it.checkpoint(matrix.select(col(rowCol).as("__r"), col(colCol).as("__c"),
        col(valCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .withColumn("__vl", unscaled4(col("__v"))))
    // one cheap agg decides the arithmetic path (and warms the cache the
    // first iteration would have warmed anyway); an empty or
    // out-of-range matrix takes the exact-decimal path — same results
    val mx = a.agg(max(abs(col("__vl")))).head()
    Mat(a, !mx.isNullAt(0) && mx.getLong(0) <= 8000000000L)
  }

  /** Unscaled long of the decimal(18,4) quantization of a double: the
    * decimal cast IS the HALF_UP grid snap (shared with the oracle);
    * ×10⁴ in decimal keeps it exact, the long cast drops the .0000.
    * Values beyond decimal(18,4) go null — exactly the rows the old
    * decimal product silently dropped.
    */
  private def unscaled4(v: Column): Column =
    (v.cast("decimal(18,4)") * lit(10000L).cast("decimal(5,0)")).cast("long")

  /** Unscaled long of a 9-grid double with |x| ≲ 1: x is the double
    * nearest a k·1e-9 decimal, so |x·1e9 − k| ≤ ~2.3e-7 — never within
    * reach of a .5 tie, so the HALF_UP round recovers k exactly.
    * Non-finite x goes NULL — a long cast of Infinity saturates at
    * Long.MaxValue, which would silently poison the scaled-long
    * products where the decimal fallback (whose cast nulls) drops the
    * row; both paths must degrade identically.
    */
  private def unscaled9(x: Column): Column =
    when(!isnan(x) && abs(x) < lit(Double.PositiveInfinity),
      round(x * lit(1e9)).cast("long"))

  /** round(Σ v·x, 9) as double with exact scaled-long products: long
    * multiplies per row, DECIMAL(38,0) sum, one rescaling division per
    * group — decimal(25,0)/decimal(14,0) plans as decimal(38,13)
    * (scale 13 ⇒ exact quotient), so the HALF_UP round is bit-for-bit
    * the old decimal product-sum's. |Σ v·x| ≤ 1e11 is the documented
    * magnitude bound (the decimal(25,0) downcast).
    */
  private def matvecSum9Long(vl: Column, xl: Column): Column =
    round(sum((vl * xl).cast("decimal(38,0)")).cast("decimal(25,0)")
        / lit(10000000000000L).cast("decimal(14,0)"), 9)
      .cast("double")

  /** The exact-decimal fallback (round-9 doctrine, same result). */
  private def matvecSum9Dec(v: Column, x: Column): Column =
    round(sum(v.cast("decimal(18,4)") * x.cast("decimal(10,9)")), 9)
      .cast("double")

  /** One relational matvec against the prepped matrix: join on
    * `keyCol`, Σ value·x per `outKey`. `vec` must carry (keyCol, __x)
    * with __x on the 9-grid.
    */
  private def matvec(m: Mat, vec: DataFrame, keyCol: String,
                     outKey: String, outVal: String): DataFrame =
    sums(m, m.df.join(vec.select(col(keyCol), col("__x")), Seq(keyCol)), outKey, outVal)

  /** Σ value·x per `outKey` over matrix entries that carry their vector
    * component __x, on whichever exact arithmetic path the matrix admits.
    */
  private def sums(m: Mat, entries: DataFrame, outKey: String, outVal: String): DataFrame =
    entries.groupBy(col(outKey))
      .agg((if (m.scaledLongSafe) matvecSum9Long(col("__vl"), unscaled9(col("__x")))
            else matvecSum9Dec(col("__v"), col("__x"))).as(outVal))

  /** Top-k columns of the leading right-singular direction after
    * `iterations` power steps: (term, loading), loading descending with
    * column-name tiebreak.
    */
  def topTermVector(matrix: DataFrame, rowCol: String, colCol: String,
                    valCol: String, iterations: Int = 2, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    termVector(matrix, rowCol, colCol, valCol, iterations)
      .orderBy(col("loading").desc, col("term")).limit(k)
  }

  /** Fold-in: every row projected onto the topic — score(row) =
    * Σ value·loading over its nonzeros, ONE more relational matvec.
    * Returns the top-k rows (row, topic_score), descending with row-id
    * tiebreak — the serving side ("which documents define this topic?").
    */
  def docScores(matrix: DataFrame, rowCol: String, colCol: String,
                valCol: String, iterations: Int = 2, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Iterate { it =>
      val m = prep(it, matrix, rowCol, colCol, valCol)
      // the result is its own generation: the matrix and the iterate it
      // folds in are freed once it has materialized
      it.generation(matvec(m, powerIterate(it, m, iterations, Nil), "__c", "__r", "topic_score")
        .select(col("__r").as(rowCol), col("topic_score"))
        .orderBy(col("topic_score").desc, col(rowCol)).limit(k))
    }
  }

  /** The FULL leading-direction estimate (term, loading) after
    * `iterations` power steps.
    */
  def termVector(matrix: DataFrame, rowCol: String, colCol: String,
                 valCol: String, iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    Iterate { it =>
      powerIterate(it, prep(it, matrix, rowCol, colCol, valCol), iterations, Nil)
        .select(col("__c").as("term"), col("__x").as("loading"))
    }
  }

  /** First `nTopics` right-singular directions by DEFLATED power
    * iteration — the multi-topic LSA. Deflating by rewriting the
    * residual rows is unaffordable on a sparse term–document matrix
    * (A − σuvᵀ is DENSE), so deflation moves into the ITERATE instead —
    * Hotelling orthogonal iteration on AᵀA: after every AᵀA application
    * the column-space iterate subtracts its projection onto each
    * previously-fitted topic
    *
    *     w ← w − (w·v_s)·v_s    for s < t, then normalize,
    *
    * which is one column-keyed join + a broadcast 1-row dot product per
    * prior topic — nothing densifies, shuffle stays ∝ nnz per half-step
    * plus ∝ |columns| per deflation. Topic 1 is exactly [[termVector]]'s
    * direction (empty deflation set).
    *
    * Determinism: the dot product quantizes products to DECIMAL(28,9)
    * and rounds to 9, the subtraction rounds to 9, then the standard
    * normalization — the DuckDB oracle (q159) replays the k=2 unroll
    * hash-exact. Every w-aggregation's support is the full distinct
    * column set of the matrix (each column groups whenever any of its
    * rows carries a u value, even 0.0 after rounding), so the deflation
    * joins are inner joins with no lost columns.
    *
    * Returns (topic, term, loading), topic = 1..nTopics.
    */
  def topicVectors(matrix: DataFrame, rowCol: String, colCol: String,
                   valCol: String, iterations: Int = 2, nTopics: Int = 2): DataFrame = {
    require(nTopics >= 1, s"nTopics must be >= 1, got $nTopics")
    Iterate { it =>
      val m = prep(it, matrix, rowCol, colCol, valCol)
      val topics = (1 to nTopics).foldLeft(Seq.empty[DataFrame]) { (prior, _) =>
        prior :+ powerIterate(it, m, iterations, prior)
      }
      topics.zipWithIndex.map { case (t, i) =>
        t.select(lit((i + 1).toLong).as("topic"),
          col("__c").as("term"), col("__x").as("loading"))
      }.reduce(_ unionByName _)
    }
  }

  /** Top-k terms per topic of [[topicVectors]]: (topic, term, loading),
    * loading descending with term tiebreak within each topic. The rank
    * window partitions by topic — vocabulary-bounded, never corpus-bounded.
    */
  def topTopicVectors(matrix: DataFrame, rowCol: String, colCol: String,
                      valCol: String, iterations: Int = 2, nTopics: Int = 2,
                      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    topicVectors(matrix, rowCol, colCol, valCol, iterations, nTopics)
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("topic"))
          .orderBy(col("loading").desc, col("term"))))
      .where(col("__rank") <= k).drop("__rank")
      .orderBy(col("topic"), col("loading").desc, col("term"))
  }

  /** `iterations` power steps on AᵀA starting from all-ones over the
    * columns, orthogonalizing each column-space iterate against
    * `deflate` (previously-fitted topic vectors) before normalizing.
    * Returns the final (__c, __x) as a projection over the last raw
    * generation, which `it` keeps alive for the caller (fold-in, the
    * next deflation round). Every scalar keeps `deflate` alive too.
    */
  private def powerIterate(it: Iterate, m: Mat, iterations: Int,
                           deflate: Seq[DataFrame]): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // EVERY matvec executes exactly once: each raw half-step vector —
    // O(|rows|) or O(|columns|), tiny beside the nnz join that builds
    // it — is a generation that the norm scalar right after it
    // materializes, and the normalization is a cheap projection over it.
    // The round-9 in-plan form (crossJoin(broadcast(norm agg))) paid
    // every matvec TWICE: the norm's broadcast subtree and the
    // consuming plan are separate exchanges and Spark never CSEs across
    // them. The all-ones start vector needs no join: every entry with a
    // column meets x = 1 exactly once.
    var entries = m.df.where(col("__c").isNotNull).withColumn("__x", lit(1.0))
    var v: DataFrame = null
    (1 to iterations).foreach { _ =>
      // EXACT matvec products on the value/iterate grids (scaled-long
      // fast path or exact-decimal fallback — see the arithmetic
      // doctrine above; both are bit-for-bit the same result).
      val uRaw = it.generation(sums(m, entries, "__r", "__u"))
      val u = uRaw.select(col("__r"),
        round(col("__u") / lit(norm2(it, uRaw, "__u", deflate)), 9).as("__x"))
      val wRaw = it.generation(matvec(m, u, "__r", "__c", "__w"))
      // Hotelling deflation: strip each prior topic's component out of
      // the raw column iterate, one scalar dot per topic. FULLY decimal
      // arithmetic, rounding in DECIMAL, double only at the end: w, d
      // and p are 9-decimal grid values, so w − d·p lands EXACTLY on
      // the .5e-9 half-grid for many components — rounding the DOUBLE
      // there is engine-dependent (Spark rounds the shortest decimal
      // repr, DuckDB the binary value) and diverged by 1 ulp at sf0.01.
      // decimal(20,9) × decimal(10,9) → decimal(31,18) stays exact in
      // BOTH engines (no precision-loss adjustment below 38); |w|, |d|
      // < 10^11 is the documented magnitude bound. The (w ⋈ p) join is
      // |columns|-bounded; as a generation it lets the dot and the
      // subtraction share one execution.
      val wDef = deflate.foldLeft(wRaw) { (w, p) =>
        val pp = p.select(col("__c"), col("__x").as("__p"))
        val joined = it.generation(w.join(pp, Seq("__c")))
        val dRow = it.scalar(joined,
          round(sum(col("__w").cast("decimal(20,9)") * col("__p").cast("decimal(10,9)")), 9)
            .cast("double"), deflate: _*)
        val d = if (dRow.isNullAt(0)) 0.0 else dRow.getDouble(0)
        joined.select(col("__c"),
          round(col("__w").cast("decimal(20,9)")
            - lit(d).cast("decimal(20,9)") * col("__p").cast("decimal(10,9)"), 9)
            .cast("double").as("__w"))
      }
      v = wDef.select(col("__c"),
        round(col("__w") / lit(norm2(it, wDef, "__w", deflate)), 9).as("__x"))
      entries = m.df.join(v, Seq("__c"))
    }
    v
  }

  /** √Σ round(x², 6) over the (generation-backed, key-bounded) vector,
    * as the 1-row scalar the normalization projection divides by — the
    * same expression the round-9 in-plan broadcast computed, collected
    * once. `keep` stays cached past the fetch.
    */
  private def norm2(it: Iterate, vec: DataFrame, c: String, keep: Seq[DataFrame]): Double = {
    val r = it.scalar(vec,
      sqrt(sum(round(col(c) * col(c), 6).cast("decimal(38,12)"))
        .cast("double")), keep: _*)
    if (r.isNullAt(0)) 0.0 // empty vector: the division never sees a row
    else {
      val n = r.getDouble(0)
      // A NON-empty iterate whose 6-round squared norm collapsed to 0
      // (every |component| below ~7.1e-4) cannot be normalized: the
      // division would mint ±Infinity/NaN that the two arithmetic
      // paths treat differently. Fail loudly — the caller must rescale
      // the input matrix (the documented |value| grid contract).
      if (n == 0.0) throw new IllegalStateException(
        s"[lsa] power iterate degenerate: non-empty '$c' vector has 6-round " +
          "squared norm 0 (every |component| < ~7.1e-4) — cannot normalize; " +
          "rescale the input matrix")
      n
    }
  }
}
