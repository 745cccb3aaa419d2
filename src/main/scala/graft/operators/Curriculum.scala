package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-order construction: curriculum phases and budgeted selection —
  * the two ordering decisions a training run makes after curation ends
  * (what order to feed documents, and which documents fit the token
  * budget at all).
  *
  * Neither operator materializes a corpus-wide dense rank: a global
  * `row_number` window collapses to one partition and is exactly the
  * single-partition-sort trap rrfFuse guards against. Phases come from
  * VALUE-based quantile fences (a 1-row aggregate broadcast back — the
  * q92 fence shape), and prefix sums are two-level (per-bucket windows +
  * bucket offsets), so every window in the plan is partitioned.
  */
object Curriculum {

  /** Escaped column reference for the generated percentile expression. */
  private def q(colName: String): String = s"`${colName.replace("`", "``")}`"

  /** Exact quantile fences at i/n for i = 1..n-1 as a 1-row DataFrame
    * with an array column `__fences` (ascending). Exact percentiles hold
    * sorted state on the agg side; at 100 TB swap percentile_approx into
    * the same plan — fences are cutoffs, not query answers (q92 rule).
    */
  private def fences(df: DataFrame, scoreCol: String, n: Int): DataFrame = {
    val ps = (1 until n).map(i => i.toDouble / n).mkString(", ")
    df.agg(expr(
      s"percentile(CAST(${q(scoreCol)} AS DOUBLE), array($ps))").as("__fences"))
  }

  /** Curriculum ordering manifest: assign each row a difficulty PHASE
    * (1 = easiest = lowest score quantile) from exact value fences, and a
    * deterministic within-phase shuffle key (md5 of the id — the
    * [[Sharding.shuffleKey]] function), so consumers stream the corpus
    * `ORDER BY phase, shuffle_key, id`: phases in difficulty order,
    * documents shuffled reproducibly inside each phase. The manifest
    * carries the sort KEY rather than a materialized global rank — rank
    * would need a corpus-wide single-partition window; the key needs one
    * broadcast join and no shuffle at all.
    */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String,
                      nPhases: Int): DataFrame = {
    require(nPhases >= 2, s"nPhases must be >= 2, got $nPhases")
    val s = col(scoreCol).cast("double")
    df.where(s.isNotNull)
      .crossJoin(broadcast(fences(df.where(s.isNotNull), scoreCol, nPhases)))
      .select(
        col(idCol),
        // phase = 1 + number of fences strictly below the score: ties on a
        // fence value land in the LOWER phase on both engines
        (lit(1) + aggregate(col("__fences"),
          lit(0L), (acc, f) => acc + (s > f).cast("long"))).as("phase"),
        Sharding.shuffleKey(col(idCol)).as("shuffle_key"))
  }

  /** Budgeted selection: feed documents in (score desc, id) order and keep
    * every row whose RUNNING cost total stays within `budget` — the
    * take-until-overflow greedy of "best data first, stop at the token
    * budget".
    *
    * The prefix sum is TWO-LEVEL so no window spans the corpus: rows
    * bucket by value fences over the score (monotone in the global order,
    * so bucket boundaries never split the ordering), each bucket runs its
    * own partitioned cumulative window, and bucket offsets come from a
    * bucket-cardinality aggregate window (nBuckets rows) broadcast back.
    * Output: (id, score, cost, running_total) for the selected rows.
    */
  def budgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                   costCol: String, budget: Long, nBuckets: Int = 16): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val s = col(scoreCol).cast("double")
    val rows = df.where(s.isNotNull && col(costCol).isNotNull)
    // bucket 0 holds the TOP scores (score >= every fence); value-based,
    // so equal scores share a bucket and bucketing is monotone with the
    // (score desc, id) consumption order
    val bucketed = rows
      .crossJoin(broadcast(fences(rows, scoreCol, nBuckets)))
      .select(col(idCol), s.as("__s"), col(costCol).cast("long").as("__c"),
        aggregate(col("__fences"), lit(0L),
          (acc, f) => acc + (s <= f).cast("long")).as("__b"))
    val offsets = bucketed.groupBy(col("__b")).agg(sum(col("__c")).as("__bt"))
      .select(col("__b"),
        (sum(col("__bt")).over(Window.orderBy(col("__b"))) - col("__bt"))
          .as("__off"))
    val withinBucket = Window.partitionBy(col("__b"))
      .orderBy(col("__s").desc, col(idCol))
    bucketed
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("running_total",
        col("__off") + sum(col("__c")).over(withinBucket))
      .where(col("running_total") <= budget)
      .select(col(idCol), col("__s").as("score"), col("__c").as("cost"),
        col("running_total"))
  }
}
