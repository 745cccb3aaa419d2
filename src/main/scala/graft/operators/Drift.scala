package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distribution-drift monitoring between two corpus snapshots — the gate
  * a production data pipeline runs before accepting a new crawl/dump into
  * training (did document lengths, quality scores, or any numeric feature
  * shift under the incoming batch?). Two standard measures in one pass:
  *
  *   - **PSI** (population stability index): Σ_b (p_cur − p_base)·
  *     ln(p_cur/p_base) over `buckets` quantile buckets fenced on the
  *     BASELINE's exact interpolated percentiles (the q92 fence shape;
  *     <0.1 stable, 0.1–0.25 drifting, >0.25 shifted by the usual rule of
  *     thumb). Zero-count buckets floor at ε=1e-6, the standard smoothing.
  *   - **KS** (two-sample Kolmogorov–Smirnov statistic): max |ECDF_base −
  *     ECDF_cur| over the merged value domain.
  *
  * Scale shape: values quantize to `quantizeDecimals` first (bounding the
  * distinct-value domain — the ClassifierEval windowed-rank contract),
  * then BOTH measures run off ONE (value → per-side counts) aggregation:
  * the corpus shuffles once, persisted across its two consumers; the KS
  * window and the PSI bucket fold run over the distinct-value / bucket
  * tables, never the corpus. Baseline fences stay IN-PLAN as a broadcast
  * 1-row frame (never a driver collect); the PSI per-bucket terms round
  * to 9 decimals before the decimal sum (ln is transcendental — the
  * sigmoid9 doctrine), so the whole measurement replays exactly in the
  * DuckDB oracle.
  */
object Drift {

  /** One row: `(n_base, n_cur, n_distinct, psi, ks)` for `valueCol`
    * compared between `base` and `cur`. Null values are excluded (a
    * missing measurement, not a zero).
    */
  def numericDrift(base: DataFrame, cur: DataFrame, valueCol: String,
                   buckets: Int = 10, quantizeDecimals: Int = 6): DataFrame = {
    val v = round(col(valueCol).cast("double"), quantizeDecimals).as("__v")
    val tagged = base.select(v, lit(0).as("__side"))
      .unionAll(cur.select(v, lit(1).as("__side")))
      .where(col("__v").isNotNull)
    val byv = tagged
      .groupBy("__v")
      .agg(
        sum(when(col("__side") === 0, 1L).otherwise(0L)).as("cb"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("cc"))
    driftFromCounts(byv, buckets)
  }

  /** Both measures off an already-built `(__v double, cb long, cc long)`
    * value-level per-side count table — the entry point for stored-
    * histogram state (a caller that keeps exactly this table per side
    * never revisits the corpora): measuring cost is O(distinct values),
    * independent of corpus size.
    *
    * Runs AT CALL TIME and returns the 1-row report as a local literal
    * (the fit contract): the count table is persisted across its three
    * consumers (totals, KS, PSI) and MUST be unpersisted before
    * returning — a lazily-returned plan over a still-cached byv would
    * poison Spark's plan-equality cache for the NEXT measurement over
    * the same paths (two reads of one root are sameResult even after
    * new files land, so a later call would silently get this call's
    * data).
    */
  def driftFromCounts(counts: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val byv = counts
      .select(col("__v").cast("double").as("__v"),
        col("cb").cast("long").as("cb"), col("cc").cast("long").as("cc"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val totals = byv.agg(
      sum(col("cb")).as("nb"), sum(col("cc")).as("nc"),
      count(lit(1)).as("nd"))

    // KS off the distinct-value table: cumulative per-side fractions
    val w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ks = byv
      .select(sum(col("cb")).over(w).as("ab"), sum(col("cc")).over(w).as("ac"))
      .crossJoin(broadcast(totals))
      .agg(round(max(abs(col("ab").cast("double") / col("nb").cast("double") -
        col("ac").cast("double") / col("nc").cast("double"))), 9).as("ks"))

    // PSI: baseline-quantile fences (exact interpolated, frequency-
    // weighted — the multiset percentile) broadcast onto the value table
    val ps = (1 until buckets).map(i => i.toDouble / buckets)
    val fences = byv.agg(expr(
      s"percentile(__v, array(${ps.mkString(", ")}), cb)").as("__f"))
    val bucket = (1 until buckets).map(i =>
      when(col("__v") > element_at(col("__f"), i), 1).otherwise(0))
      .reduce(_ + _)
    val eps = lit(1e-6)
    val psi = byv
      .crossJoin(broadcast(fences))
      .groupBy(bucket.as("__b"))
      .agg(sum(col("cb")).as("bb"), sum(col("cc")).as("bc"))
      .crossJoin(broadcast(totals))
      .select(
        greatest(col("bb").cast("double") / col("nb").cast("double"), eps).as("pb"),
        greatest(col("bc").cast("double") / col("nc").cast("double"), eps).as("pc"))
      .select(round((col("pc") - col("pb")) * log(col("pc") / col("pb")), 9).as("__t"))
      .agg(round(sum(col("__t").cast("decimal(28,12)")).cast("double"), 9).as("psi"))

    val out = totals
      .crossJoin(psi)
      .crossJoin(ks)
      .select(col("nb").as("n_base"), col("nc").as("n_cur"),
        col("nd").as("n_distinct"), col("psi"), col("ks"))
    val report = out.collect()
    byv.unpersist()
    byv.sparkSession.createDataFrame(
      java.util.Arrays.asList(report: _*), out.schema)
  }

  /** Categorical drift between two snapshots of a label column — the
    * discrete sibling of [[numericDrift]] for event types, languages,
    * source tags: one row `(n_base, n_cur, n_categories, chi2,
    * js_divergence)`.
    *
    *   - **χ²** over the 2×k contingency table (expected_ij =
    *     rowTotal_i · colTotal_j / N) — no smoothing needed: every
    *     category present on either side has a positive expectation.
    *   - **Jensen–Shannon divergence** between the two category
    *     distributions (natural log; 0·ln0 ≡ 0, so one-sided categories
    *     contribute only their present side) — bounded by ln 2,
    *     symmetric, the standard "how different are these mixtures"
    *     gauge.
    *
    * Scale shape: ONE map-side-combinable aggregation per side bounded
    * by distinct categories, a category-keyed full-outer join of the two
    * count tables, and the per-category terms round to 9 decimals before
    * the decimal sum (ln is transcendental — the PSI doctrine), so the
    * DuckDB oracle replays both statistics exactly. Null categories form
    * their own class ("missing" drifting counts as drift).
    */
  def categoricalDrift(base: DataFrame, cur: DataFrame, valueCol: String): DataFrame = {
    // An accidentally-empty snapshot must fail loudly: with nb or nc = 0
    // the chi-square expectations and p = cb/nb divide by zero and the
    // audit would silently report NaN/null statistics.
    require(!base.isEmpty, s"categoricalDrift: base snapshot has no rows (column $valueCol)")
    require(!cur.isEmpty, s"categoricalDrift: current snapshot has no rows (column $valueCol)")
    val b = base.select(coalesce(col(valueCol).cast("string"), lit("__null__")).as("__c"))
      .groupBy("__c").agg(count(lit(1)).as("cb"))
    val c = cur.select(coalesce(col(valueCol).cast("string"), lit("__null__")).as("__c"))
      .groupBy("__c").agg(count(lit(1)).as("cc"))
    val joined = b.join(c, Seq("__c"), "full_outer")
      .select(col("__c"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        coalesce(col("cc"), lit(0L)).as("cc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totals = joined.agg(
      sum(col("cb")).as("nb"), sum(col("cc")).as("nc"),
      count(lit(1)).as("k")).persist(StorageLevel.MEMORY_AND_DISK)
    val withT = joined.crossJoin(broadcast(totals))
    // chi-square: e_side = (cb+cc) * n_side / (nb+nc)
    val chi = withT
      .select(
        (((col("cb") + col("cc")) * col("nb")).cast("double") /
          (col("nb") + col("nc")).cast("double")).as("eb"),
        (((col("cb") + col("cc")) * col("nc")).cast("double") /
          (col("nb") + col("nc")).cast("double")).as("ec"),
        col("cb"), col("cc"))
      .select(round(
        (col("cb").cast("double") - col("eb")) * (col("cb").cast("double") - col("eb")) / col("eb")
          + (col("cc").cast("double") - col("ec")) * (col("cc").cast("double") - col("ec")) / col("ec"),
        9).as("__t"))
      .agg(round(sum(col("__t").cast("decimal(28,12)")).cast("double"), 9).as("chi2"))
    // JS: p = cb/nb, q = cc/nc, m = (p+q)/2; 0·ln0 = 0
    val js = withT
      .select(
        (col("cb").cast("double") / col("nb").cast("double")).as("p"),
        (col("cc").cast("double") / col("nc").cast("double")).as("q"))
      .select(round(
        when(col("p") > 0, lit(0.5) * col("p") * log(col("p") / ((col("p") + col("q")) / 2)))
          .otherwise(0.0)
          + when(col("q") > 0, lit(0.5) * col("q") * log(col("q") / ((col("p") + col("q")) / 2)))
          .otherwise(0.0), 9).as("__t"))
      .agg(round(sum(col("__t").cast("decimal(28,12)")).cast("double"), 9).as("js_divergence"))
    val out = totals.crossJoin(chi).crossJoin(js)
      .select(col("nb").as("n_base"), col("nc").as("n_cur"),
        col("k").as("n_categories"), col("chi2"), col("js_divergence"))
    val report = out.collect()
    joined.unpersist(); totals.unpersist()
    out.sparkSession.createDataFrame(
      java.util.Arrays.asList(report: _*), out.schema)
  }
}
