package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators — multi-dimensional clustering for 100-TB scans.
  *
  * A table queried by TWO independent predicates (e.g. order key ranges
  * AND part key ranges) cannot serve both from a single-column sort.
  * Z-ordering interleaves the bits of both keys into one sort key, so a
  * range-sorted file layout keeps rows close in BOTH dimensions and either
  * predicate prunes most files via min/max statistics — the same layout
  * trick Delta/Iceberg `OPTIMIZE ZORDER BY` applies, expressed here as a
  * plain Catalyst column so it works on any writer.
  */
object Layout {

  /** Morton (Z-curve) interleave of the low `bits` bits of two non-negative
    * integer columns: bit i of `a` lands at output bit 2i+1, bit i of `b`
    * at 2i. A plan-time-unrolled chain of shift/and/or builtins — fully
    * codegen'd, no UDF, and the identical arithmetic replays on any engine
    * with 64-bit integers (the DuckDB oracle generates the same chain).
    * Inputs are masked to their low `bits` bits after the long widening,
    * so a negative input contributes its low bits exactly like
    * `pmod(x, 1L << bits)` would — never a sign-extended interleave that
    * silently collapses the curve (values wider than `bits` likewise
    * wrap rather than corrupt neighbouring bit positions).
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    // widen first: shifting an IntegerType past bit 31 would wrap
    val mask = (1L << bits) - 1
    val (al, bl) = (a.cast("long").bitwiseAND(mask), b.cast("long").bitwiseAND(mask))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(1), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(1), 2 * i))
    }.reduce(_.bitwiseOR(_)).cast("long")
  }

  /** Size-aware compaction — the small-files rewrite every long-lived
    * warehouse needs (a daily-partitioned 100-TB table accretes millions
    * of KB-sized files; scans then pay per-file open/listing costs that
    * dwarf the reads). Targets ~`targetFileBytes` per output partition
    * using Catalyst's plan-time size statistic (actual on-disk bytes for
    * file sources — no action, no sampling pass), so a writer producing
    * one file per partition lands near the target. Round-robin
    * repartition, not coalesce: coalesce(n) would also CAP the scan's
    * parallelism upstream (it removes the exchange), while compaction
    * must keep reading wide and only narrow at the write.
    */
  def compactBySize(df: DataFrame, targetFileBytes: Long): DataFrame =
    df.repartition(fileCount(df, targetFileBytes))

  /** Output file count for ~`targetFileBytes` files: ceil(plan bytes /
    * target) from Catalyst's plan-time size statistic, at least 1. The
    * statistic is the true size for file sources and for
    * [[graft.etl.SurrogateKeys.withScalableId]] output (projections over
    * them scale it by row width). On other transform plans it can be
    * garbage-large: an RDD-backed relation without statistics reads as
    * `spark.sql.defaultSizeInBytes`, and without CBO join size estimates
    * MULTIPLY (a 92k-row fact plan estimating petabytes once drove a
    * 10^6-reducer range shuffle writing 10^5 files). The count is
    * therefore CLAMPED to max(64, 8 × shuffle partitions) as a backstop:
    * at local test scale that is a handful of files, on a 1000-executor
    * cluster (shuffle.partitions in the thousands) it still allows tens
    * of thousands of files, and a caller wanting more makes that an
    * explicit act by raising shuffle partitions. A caller that knows a
    * better size source than the frame it lays out (a join that only adds
    * a sort key) sizes from that source rather than lean on the clamp.
    */
  def fileCount(df: DataFrame, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = math.max(64, df.sparkSession.sessionState.conf.numShufflePartitions * 8)
    ((planBytes + targetFileBytes - 1) / targetFileBytes)
      .min(BigInt(cap)).max(BigInt(1)).toInt
  }

  /** BigQuery-style SORTED clustering for a (possibly partitioned)
    * write: range-partition on the cluster columns (equi-depth via the
    * range partitioner's sampling, so skew still yields balanced files)
    * and sort within tasks, so each task — hence each written file —
    * holds one contiguous lexicographic slice and carries tight min/max
    * on the cluster columns for row-group pruning. This is the faithful
    * realization of BigQuery `clustering_fields` (lexicographic block
    * sort), as distinct from [[zOrderBy]] (interleaved-bit layout for
    * independent per-column pruning). File count targets
    * ~`targetFileBytes` via [[fileCount]], as in [[compactBySize]].
    */
  def clusterBySize(df: DataFrame, clusterCols: Seq[String],
                    targetFileBytes: Long,
                    tiebreakCol: Option[String] = None): DataFrame =
    clusterBy(df, clusterCols, fileCount(df, targetFileBytes), tiebreakCol)

  /** [[clusterBySize]]'s layout into exactly `numFiles` range partitions. */
  def clusterBy(df: DataFrame, clusterCols: Seq[String], numFiles: Int,
                tiebreakCol: Option[String] = None): DataFrame = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    // The tiebreak is LOAD-BEARING at scale: a range partitioner can
    // never split EQUAL keys, so low-cardinality cluster columns (one
    // year, a handful of brands) would land each whole (year, brand)
    // group in a single task — the skew this layout exists to avoid.
    // Appending a high-cardinality tiebreak (the row id) lets equal
    // cluster values split across consecutive partitions while keeping
    // the lexicographic contiguity that gives files tight min/max: a
    // run of equal values spanning two files still yields
    // non-overlapping ranges.
    val keyCols = (clusterCols ++ tiebreakCol).map(col)
    df.repartitionByRange(numFiles, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
  }

  /** Rewrite `df` into a Z-ordered layout: range-partition on the
    * interleaved key (equi-depth via Spark's range-partitioner sampling,
    * so skewed key distributions still yield balanced files) and sort
    * within partitions. Each output partition then covers a tight
    * rectangle in (a, b) space — a writer producing one file per
    * partition gives min/max pruning on BOTH columns. `numFiles` is the
    * target file count: at 100 TB, input bytes / target file size.
    */
  def zOrderBy(df: DataFrame, a: String, b: String, numFiles: Int,
               bits: Int = 16): DataFrame = {
    val z = zValue(col(a), col(b), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }
}
