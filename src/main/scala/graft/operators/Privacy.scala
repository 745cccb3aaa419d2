package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-anonymity audit — the structured-data privacy gate beside the
  * text-side PII redaction (q48): a release is k-anonymous when every
  * combination of quasi-identifier values is shared by at least k rows,
  * so no combination singles out fewer than k people.
  * Groups below k must be suppressed (or generalized) before export —
  * the standard pre-release check on training-data metadata tables
  * (Sweeney, IJUFKS 2002; the reference has no privacy surface at all).
  *
  * Scale shape: ONE map-side-combinable aggregation over the
  * quasi-identifier key (shuffle bounded by distinct combinations, not
  * rows); nothing here is row-pairwise.
  */
object Privacy {

  /** Per-equivalence-class audit: one row per distinct quasi-identifier
    * combination with its size and verdict (`anonymous` = 1 iff size ≥ k).
    * Null quasi values form their own class (a null combo is as
    * identifying as any other).
    */
  def kAnonymityClasses(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("anonymous", when(col("n") >= k, 1L).otherwise(0L))
  }

  /** Distinct l-diversity audit — k-anonymity's necessary complement: a
    * class can hold k rows yet leak the sensitive attribute completely
    * if all k share one value (the homogeneity attack). One row per
    * quasi combination: class size, distinct sensitive values, and the
    * verdict at `l`. Same single-aggregation scale shape as
    * [[kAnonymityClasses]]; the distinct count plans as Catalyst's
    * two-phase partial-distinct Expand.
    */
  def lDiversityClasses(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 1, s"l must be >= 1, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("diverse", when(col("n_sensitive") >= l, 1L).otherwise(0L))
  }

  /** t-closeness audit — the distributional gate l-diversity misses: a
    * class can hold l distinct sensitive values yet still leak (a 99/1
    * skew against a 50/50 corpus tells the attacker plenty). Per
    * equivalence class, the Earth-Mover's Distance between the class's
    * sensitive-value distribution and the corpus distribution must stay
    * ≤ t (Li, Li & Venkatasubramanian, ICDE 2007). For ORDERED values
    * with interchange distance |i−j|/(m−1) the 1-D EMD reduces to the
    * prefix-sum of distribution differences over the sorted value table
    * (the q134 ECDF shape):  EMD = Σᵢ |Σ_{j≤i} (p_j − q_j)| / (m−1).
    * The equal-distance (categorical) EMD — total variation,
    * ½ Σ|p_v − q_v| — falls out of the same grid for free; both emit.
    *
    * Determinism doctrine — STRONGER than the round-to-9 family: the
    * ratios never materialize. p_j − q_j = cnt_cv/n_c − cnt_v/n scales
    * by n_c·n to the exact integer cnt_cv·n − cnt_v·n_c, prefixes and
    * their |·| sums stay exact integers (DECIMAL(38,0): counts ≤ 1e12
    * keep products ≤ 1e24 and sums ≤ ~1e28), and the ONLY floating
    * step is one final unrounded division of exact integers — IEEE-
    * identical in every engine, no half-grid tie exists to straddle.
    * The verdict never touches doubles at all: close ⇔
    * emd_int ≤ t · n_c·n·(m−1), compared in exact decimal.
    *
    * Scale shape: three aggregations bounded by classes, values, and
    * classes×values (never rows²); the corpus value table broadcasts
    * (sensitive cardinality ≪ rows — quantize first if not, as q160
    * does with acctbal bands); the prefix window partitions by class and
    * is value-bounded. Null sensitive values are excluded from both
    * distributions (they carry no attribute to disclose); null quasi
    * combos are their own class, as in [[kAnonymityClasses]].
    *
    * Returns one row per class: quasi cols, `n` (non-null-sensitive
    * class size), `m` (corpus distinct values), `emd` (ordered),
    * `tvd` (categorical), `close` (1 iff ordered EMD ≤ t).
    */
  def tClosenessClasses(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String, t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(t > 0 && t <= 1, s"t must be in (0, 1], got $t")
    val nonNull = df.where(col(sensitiveCol).isNotNull)
    require(!nonNull.isEmpty,
      s"tClosenessClasses: no non-null $sensitiveCol rows to audit")
    val corpus = nonNull.groupBy(col(sensitiveCol).as("__v"))
      .agg(count(lit(1)).as("__cnt_v"))
    val total = nonNull.agg(count(lit(1)).as("__n"))
    val classCnt = nonNull.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n_c"))
    val classVal = nonNull
      .groupBy(quasiCols.map(col) :+ col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__cnt_cv"))
    // full classes × values grid (absent combos count 0 — they still
    // shift mass in the prefix), corpus table + total broadcast.
    // Null-safe equality on the quasi keys: a NULL quasi combo is its
    // own class (as in kAnonymityClasses) and must match its own value
    // counts — a plain equi-join would leave it with cnt_cv = 0
    // everywhere and report it maximally distant. <=> still plans as a
    // hash-join key (EqualNullSafe is join-key-extractable).
    val classValA = classVal.select(
      quasiCols.map(c => col(c).as(s"__cv_$c"))
        ++ Seq(col("__v").as("__cv_v"), col("__cnt_cv")): _*)
    // The sensitive value compares null-safely too: today `nonNull`
    // filters NULL sensitive values out of the audit entirely, but if
    // that policy ever admits them, an === here would give a NULL value
    // cnt_cv = 0 in its OWN class — the exact failure mode <=> fixes
    // for the quasi keys above.
    val gridCond = (quasiCols.map(c => col(c) <=> col(s"__cv_$c"))
      :+ (col("__v") <=> col("__cv_v"))).reduce(_ && _)
    val grid = classCnt
      .crossJoin(broadcast(corpus)).crossJoin(broadcast(total))
      .join(classValA, gridCond, "left")
      .withColumn("__cnt_cv", coalesce(col("__cnt_cv"), lit(0L)))
      .drop(quasiCols.map(c => s"__cv_$c") :+ "__cv_v": _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))
    val tDec = lit(t).cast("decimal(10,9)")
    grid
      .withColumn("__diff",
        col("__cnt_cv").cast("decimal(19,0)") * col("__n")
          - col("__cnt_v").cast("decimal(19,0)") * col("__n_c"))
      .withColumn("__prefix", sum(col("__diff")).over(w))
      .groupBy(quasiCols.map(col) :+ col("__n_c") :+ col("__n"): _*)
      .agg(count(lit(1)).as("m"),
        sum(abs(col("__prefix"))).as("__emd_int"),
        sum(abs(col("__diff"))).as("__tvd_int"))
      .select(quasiCols.map(col) ++ Seq(
        col("__n_c").as("n"), col("m"),
        when(col("m") > 1, col("__emd_int").cast("double")
            / (col("__n_c") * col("__n") * (col("m") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("emd"),
        (col("__tvd_int").cast("double")
          / (lit(2L) * col("__n_c") * col("__n")).cast("double")).as("tvd"),
        when(col("__emd_int").cast("decimal(38,0)").cast("decimal(38,9)")
            <= tDec * (col("__n_c") * col("__n") * (col("m") - 1)).cast("decimal(28,0)"),
          1L).otherwise(0L).as("close")): _*)
  }
}
