package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling.
  *
  * `df.sample()` draws from a seeded RNG whose stream depends on partition
  * layout — rerun with different parallelism and the sample changes. For
  * reproducible pipelines (train/validation splits, profiling subsets)
  * sample membership must be a pure function of the ROW: hash the id into
  * buckets and keep a bucket range. Same rows selected on any cluster, any
  * partitioning, any engine that can md5.
  */
object Sampling {

  val Buckets = 10000

  /** Bucket in [0, 10000) from the md5 of the id's string form (md5 rather
    * than xxhash64 so non-Spark engines reproduce the same assignment).
    */
  def bucket(idCol: Column): Column =
    (conv(substring(md5(idCol.cast("string")), 1, 6), 16, 10) % Buckets).cast("long")

  /** Cutoff bucket for a rate: math.round, not truncation — a double
    * product that lands epsilon below the intended integer (0.57 * 10000 =
    * 5699.999...) must not silently drop one bucket vs an engine that
    * computes the cutoff in exact arithmetic.
    */
  private def cutoff(rate: Double): Long = math.round(rate * Buckets)

  /** Keep ~`fraction` of rows, deterministically. */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1], got $fraction")
    df.where(bucket(col(idCol)) < cutoff(fraction))
  }

  /** Disjoint deterministic split: (train, holdout) with ~`holdoutFraction`
    * in the second part. Union of the two is exactly `df`.
    */
  def split(df: DataFrame, idCol: String, holdoutFraction: Double): (DataFrame, DataFrame) = {
    val cut = cutoff(holdoutFraction)
    (df.where(bucket(col(idCol)) >= cut), df.where(bucket(col(idCol)) < cut))
  }

  /** Deterministic NAMED multi-way split: every row gets a split label
    * (train/validation/test/...) from the same pure md5-bucket function as
    * [[deterministicSample]] — membership is a row function, so the split
    * is identical on any partitioning, any cluster, any engine, and a row
    * can never land in two splits. Cutoffs come from CUMULATIVE weights
    * (round(cumWeight · buckets)), not per-split rounds, so the pieces
    * tile [0, Buckets) exactly and weights that don't divide the bucket
    * count cleanly never orphan or double-count a bucket.
    *
    * Scale: a projection — no shuffle, no per-split pass, one scan
    * regardless of split count.
    */
  def assignSplits(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
                   splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(splits.map(_._1).distinct.size == splits.size, "split names must be unique")
    splits.foreach { case (n, w) => require(w > 0, s"split '$n' must have weight > 0, got $w") }
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val cuts = splits.map(_._2).scanLeft(0.0)(_ + _).tail.map(c => math.round(c * Buckets))
    val b = bucket(col(idCol))
    // nest from the LAST split outward so the outermost `when` tests the
    // smallest cutoff — CASE order is the split order
    val expr = splits.init.map(_._1).zip(cuts.init).reverse
      .foldLeft(lit(splits.last._1): Column) {
        case (acc, (name, cut)) => when(b < lit(cut), lit(name)).otherwise(acc)
      }
    df.withColumn(splitCol, expr)
  }

  /** Stratified deterministic sampling: each stratum keeps its own rate
    * (corpus rebalancing — downsample the dominant language, keep the long
    * tail). Membership stays a pure per-row function: the cutoff is a CASE
    * over the stratum column, the bucket the same md5 hash — no shuffle, no
    * per-stratum pass, one scan regardless of stratum count.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(f =>
      require(f >= 0 && f <= 1, s"rates must be in [0,1], got $f"))
    val cut = rates.foldLeft(lit(cutoff(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol) === stratum, lit(cutoff(rate))).otherwise(acc)
    }
    df.where(bucket(col(idCol)) < cut)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * each row draws key = ln(u)/w from a DETERMINISTIC uniform u — the
    * md5 of its id, so the "random" draw is a pure row function, same on
    * any partitioning or engine — and the global top-`n` keys win.
    * Inclusion probability is proportional to weight, exactly the
    * quality-weighted subsampling a curation pipeline uses to keep a
    * token budget while favoring high-score documents.
    *
    * u = (h + 0.5) / 16^12 with h the first 12 md5 hex digits (48 bits —
    * exact in a double on every engine), so u ∈ (0,1) and ln(u) is
    * finite. Rows with weight <= 0 are excluded (A-ES requires positive
    * weights).
    *
    * Scale: no shuffle — the key is a projection and the top-n plans as
    * TakeOrderedAndProject (per-partition heads + driver merge of
    * n·partitions rows, no global sort). Output keeps all columns plus
    * the selection key as `__es_key`.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    df.where(col(weightCol).cast("double") > 0)
      .withColumn("__es_key", esKey(col(idCol), col(weightCol)))
      .orderBy(col("__es_key").desc, col(idCol))
      .limit(n)
  }

  /** The Efraimidis–Spirakis selection key ln(u)/w with the deterministic
    * md5-uniform u of [[weightedSample]] — factored out so per-group and
    * global sampling draw IDENTICAL keys for the same row.
    */
  def esKey(idCol: Column, weightCol: Column): Column = {
    val h = conv(substring(md5(idCol.cast("string")), 1, 12), 16, 10).cast("double")
    val u = (h + 0.5) / lit(281474976710656.0) // 16^12 = 2^48
    log(u) / weightCol.cast("double")
  }

  /** [[weightedSample]] per group: an independent A-ES draw of `nPerGroup`
    * rows WITHIN each `groupCol` value — stratified weighted subsampling
    * (keep 100 quality-weighted documents per language/source). Keys are
    * the same pure row function as [[weightedSample]], so the per-group
    * draw is reproducible on any partitioning and any engine.
    *
    * One shuffle on the group key; the row_number-≤-n filter plans as
    * partial+final `WindowGroupLimit` (the q87 shape), so map tasks
    * pre-prune to `nPerGroup` rows per group before the exchange — a
    * dominant group never ships more than nPerGroup·mapTasks rows.
    */
  def weightedSamplePerGroup(df: DataFrame, idCol: String, weightCol: String,
                             groupCol: String, nPerGroup: Int): DataFrame = {
    require(nPerGroup >= 1, s"nPerGroup must be >= 1, got $nPerGroup")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__es_key").desc, col(idCol))
    df.where(col(weightCol).cast("double") > 0)
      .withColumn("__es_key", esKey(col(idCol), col(weightCol)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= nPerGroup)
      .drop("__rn")
  }

  /** Per-group quota cap: keep at most `quota` rows per `groupCol` value,
    * chosen by `preference` order (append the id column for a total order
    * — ties otherwise make the kept set partition-dependent). The
    * source-mixing rule of web-corpus curation: no single domain may
    * contribute more than N documents.
    *
    * One shuffle on the group key. Spark (≥3.5) plans the rank filter as
    * partial+final `WindowGroupLimit`, so every MAP task pre-prunes to
    * `quota` rows per group before the exchange — a head group that is
    * half the crawl ships quota·mapTasks rows, not half the corpus
    * (plan-pinned in SamplingSpec).
    */
  def quotaPerGroup(df: DataFrame, groupCol: String, quota: Int,
                    preference: Seq[Column]): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    val w = Window.partitionBy(col(groupCol)).orderBy(preference: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= quota)
      .drop("__rn")
  }
}
