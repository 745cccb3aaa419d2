package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed PCA by power iteration — the dominant-direction probe of an
  * embedding corpus (what single axis carries the most variance, how much
  * of the total it explains). LLM-data uses: embedding-drift detection
  * between corpus snapshots, whitening diagnostics before cosine dedup
  * (a corpus whose top component explains most of the variance cosines
  * everything against everything), and cheap 1-D projections for
  * curriculum/stratification.
  *
  * The scale shape is the [[LogReg]] gradient pattern, NOT a covariance
  * materialization: C·v is computed per iteration as ONE pass — a narrow
  * per-row projection `s_i = Σ_j v_j·(x_ij − μ_j)` plus a posexplode into
  * (dim, s·c) partials aggregated map-side per dimension (`y_j = Σ_i
  * s_i·(x_ij − μ_j)`, the q94 dimStats layout; see [[dimMeans]] for why
  * not d fused wide sums). Row state never shuffles (the exchange carries
  * d×partitions decimal partials), no d² covariance explode ever happens
  * (that is a 4096×-per-row write amplification at d=64), and each
  * iteration collects exactly d scalars. 1000 executors see the same plan
  * as local[32].
  *
  * Determinism / engine parity (the LogReg doctrine): all per-row
  * arithmetic is IEEE add/multiply on identical doubles in a PINNED left-associated
  * order (the l2Sq unroll precedent), cross-row accumulation quantizes to
  * DECIMAL(28,9) (partition-order-invariant exact addition), and every
  * driver-side update (means, normalized loadings) rounds to 9 decimals
  * half-away-from-zero. sqrt and division are correctly-rounded IEEE ops
  * both engines agree on — no transcendental enters the chain — so the
  * DuckDB oracle replays the whole trajectory unrolled, hash-exact.
  */
object Pca {

  /** Top principal component of `vecCol` (static width `dim`) after
    * `iters` power iterations from the uniform unit start v0 = 1/√d:
    * one row per dimension `(dim, mu, loading)` (1-based dim index,
    * 9-decimal mean and unit-eigenvector coordinate) with the
    * corpus-constant measurement columns `(explained_var,
    * explained_ratio, n_vecs)` carried on every row.
    *
    * Runs AT CALL TIME (2 + iters Spark jobs — means, iterations, final
    * variance split); the returned frame is a local literal, the fit/
    * BPE-train contract. `exact = false` swaps the decimal accumulators
    * for native double sums (see [[fitOn]]); the oracle runs the exact
    * form.
    */
  def topComponent(df: DataFrame, vecCol: String, dim: Int,
                   iters: Int = 3, exact: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = df
      .select(col(vecCol).cast("array<double>").as("__v"))
      .where(size(col("__v")) === dim)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val (mu, v) = fitOn(base, dim, iters, exact)

    // one final pass splits the variance: projected onto v vs total —
    // per-row s² and Σ_j c_j² are left-associated doubles, sums decimal
    val sFin = sExpr(mu, v, dim).as("__s")
    def acc(c: Column) = if (exact) sum(c.cast("decimal(28,9)")).cast("decimal(38,9)")
                         else sum(c).cast("decimal(38,9)")
    val row = base.select(sFin, totSqExpr(mu).as("__t"))
      .agg(
        acc(col("__s") * col("__s")).as("vp"),
        acc(col("__t")).as("vt"),
        count(lit(1)).as("n"))
      .head
    val n = row.getLong(2)
    val varProj = roundHalfAway(decOf(row, 0, "projected-variance").doubleValue / n, 9)
    val varTot = roundHalfAway(decOf(row, 1, "total-variance").doubleValue / n, 9)
    base.unpersist()

    import spark.implicits._
    (1 to dim).map(j => (j.toLong, mu(j - 1), v(j - 1)))
      .toDF("dim", "mu", "loading")
      .withColumn("explained_var", lit(varProj))
      .withColumn("explained_ratio",
        if (varTot > 0) lit(roundHalfAway(varProj / varTot, 9)) else lit(null).cast("double"))
      .withColumn("n_vecs", lit(n))
  }

  /** Fit the top component, then score EVERY vector: `(idCol, pca1)`
    * with pca1 = round(Σ_j v_j·(x_j − μ_j), 9) — the corpus's 1-D
    * maximum-variance feature (curriculum stratification, per-snapshot
    * drift tracking via [[Drift.numericDrift]] on the projection). The
    * scoring pass is the [[LogReg.scoreAll]] shape: the fitted (μ, v)
    * ride back in as literals, so after training the plan is a pure
    * scan→project — no join, no exchange.
    */
  def scoreTopComponent(df: DataFrame, vecCol: String, idCol: String, dim: Int,
                        iters: Int = 3, exact: Boolean = true): DataFrame = {
    val base = df
      .select(col(vecCol).cast("array<double>").as("__v"))
      .where(size(col("__v")) === dim)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (mu, v) = fitOn(base, dim, iters, exact)
    base.unpersist()
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .where(size(col("__v")) === dim)
      .select(col(idCol), round(sExpr(mu, v, dim), 9).as("pca1"))
  }

  /** Means + `iters` power iterations over an already-persisted base
    * projection — the fit kernel behind [[topComponent]] and
    * [[scoreTopComponent]].
    *
    * `exact = true` is the oracle doctrine (DECIMAL(28,9) accumulation:
    * partition-order-invariant, engine-replayable). `exact = false` is
    * the double-sum twin: same plan shape, loadings agreeing to ~1e-9 on
    * real data but carrying last-ulp partition-order sensitivity. Post-codegen-fix the
    * decimal contract is a MODEST surcharge, not a regime change
    * (SCALEPROOF_r8c ledgers both at 2M like for like) — prefer exact
    * unless profiling says otherwise.
    */
  private def fitOn(base: DataFrame, dim: Int, iters: Int,
                    exact: Boolean): (Array[Double], Array[Double]) = {
    val mu = dimMeans(base, dim, exact)
    val v = iterate(base, mu, Array.fill(dim)(1.0 / math.sqrt(dim.toDouble)), dim, iters, exact)
    (mu, v)
  }

  /** Per-dimension 9-decimal means via one posexplode + dim-keyed
    * aggregation (the q94 dimStats shape). d fused wide sums would save
    * the explode, but 64 decimal aggregates each carrying CheckOverflow
    * codegen blow the generated method into janino-minutes territory —
    * measured on the 2M-vector scale proof; the narrow-row explode
    * compiles in milliseconds and map-side combine still reduces each
    * task to d partials before the (tiny, d-group) shuffle.
    */
  private[operators] def dimMeans(base: DataFrame, dim: Int,
                                  exact: Boolean = true): Array[Double] = {
    val rows = base
      .select(posexplode(col("__v")).as(Seq("__j", "__x")))
      .groupBy("__j")
      .agg(accum(col("__x"), exact).as("__s"), count(lit(1)).as("__n"))
      .collect()
    require(rows.nonEmpty, "Pca: input has no rows of the declared width")
    val byDim = rows.map(r => r.getInt(0) -> r).toMap
    (0 until dim).map { j =>
      val r = byDim(j)
      roundHalfAway(decOf(r, 1, s"dim ${j + 1} mean").doubleValue / r.getLong(2), 9)
    }.toArray
  }

  /** One power-iteration ladder: `iters` rounds of y_j = Σ_i s_i·c_ij
    * — the per-row projection s computes once in a narrow column, then
    * the same posexplode + dim-keyed decimal aggregation as [[dimMeans]]
    * (decimal addition is order-independent, so the grouping layout does
    * not change the totals the oracle replays); normalize, round to 9.
    */
  private def iterate(base: DataFrame, mu: Array[Double], v0: Array[Double],
                      dim: Int, iters: Int, exact: Boolean): Array[Double] = {
    val muArr = array(mu.map(lit): _*)
    var v = v0
    var i = 0
    while (i < iters) {
      // materialize (s, v) BEFORE the explode: column pruning rewires a
      // projection under a Generate to recompute above it, so an inline
      // __s would re-evaluate per exploded element — measured 64× the
      // work (36s vs 2.3s per pass at 2M×64)
      val withS = base.select(sExpr(mu, v, dim).as("__s"), col("__v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val rows = withS
        .select(col("__s"), posexplode(col("__v")).as(Seq("__j", "__x")))
        .groupBy("__j")
        .agg(accum(col("__s") * (col("__x") - element_at(muArr, col("__j") + 1)), exact)
          .as("__y"), count(lit(1)).as("__n"))
        .collect()
      withS.unpersist()
      require(rows.nonEmpty, "Pca: input has no rows of the declared width")
      val byDim = rows.map(r => r.getInt(0) -> r).toMap
      val n = byDim(0).getLong(2)
      val yh = (0 until dim).map(j =>
        decOf(byDim(j), 1, s"dim ${j + 1} power step").doubleValue / n)
      val norm = math.sqrt(yh.map(x => x * x).reduceLeft(_ + _))
      require(norm > 0,
        "Pca: power iteration collapsed to the zero vector — constant input along v?")
      v = yh.map(x => roundHalfAway(x / norm, 9)).toArray
      i += 1
    }
    v
  }

  /** s = Σ_j v_j·(x_j − μ_j), left-associated, j ascending — the pinned
    * per-row projection both engines replay bit for bit.
    *
    * Shape note: expressed as a zip_with/aggregate LOOP, not d unrolled
    * `element_at` terms. The values are BITWISE identical (same IEEE ops
    * in the same order; the fold's 0.0 seed is absorbed by the first
    * add), but the unrolled form generates a method past HotSpot's JIT
    * size limit, demoting the whole stage to the bytecode interpreter —
    * measured 304s vs 0.8s for one 2M-row pass of this expression.
    */
  private def sExpr(mu: Array[Double], v: Array[Double], dim: Int): Column = {
    val wArr = array(v.map(lit): _*)
    val mArr = array(mu.map(lit): _*)
    aggregate(
      zip_with(zip_with(col("__v"), mArr, (x, m) => x - m), wArr, (c, w) => c * w),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Σ_j (x_j − μ_j)², same loop shape and association order. */
  private def totSqExpr(mu: Array[Double]): Column = {
    val mArr = array(mu.map(lit): _*)
    aggregate(
      zip_with(col("__v"), mArr, (x, m) => (x - m) * (x - m)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** exact: per-term DECIMAL(28,9) quantization + exact sum (the oracle
    * doctrine); fast: native double sum cast to the same output type so
    * the driver-side reads are shared.
    */
  private def accum(c: Column, exact: Boolean): Column =
    if (exact) sum(c.cast("decimal(28,9)")).cast("decimal(38,9)")
    else sum(c).cast("decimal(38,9)")

  private def decOf(row: org.apache.spark.sql.Row, i: Int, what: String): java.math.BigDecimal =
    Option(row.getDecimal(i)).getOrElse(throw new IllegalArgumentException(
      s"Pca: decimal sum for $what is null — all-null values or decimal(28,9) overflow"))

  private def roundHalfAway(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}
