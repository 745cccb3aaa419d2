package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-provided parquet testdata (see /root/repo/TESTDATA.md).
  *
  * One parquet file per table; schemas are stable across scale factors, so the
  * engine infers each from its footer. That inference is one Spark job, so
  * [[Parquet.read]] runs it once per file and parquet settings and
  * reuses the schema after. All downstream operators rely on Catalyst pushing
  * filters/column pruning into these scans.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Parquet.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")

  /** events.parquet's `ts` encoding has varied across driver testdata
    * generations — TIMESTAMP(NANOS) (which Spark 4 cannot represent
    * natively; sessions set spark.sql.legacy.parquet.nanosAsLong=true and
    * read it as LONG) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (which
    * Spark reads as TIMESTAMP_NTZ). This loader normalizes BOTH to a
    * session-local TIMESTAMP so downstream operators see one type:
    * nanos convert with integral `div` (Column `/` is DOUBLE division and
    * corrupts above 2^53 ns); NTZ casts — with the engine's pinned UTC
    * session timezone that cast is instant-preserving, the same wall
    * clock the nanos generation produced.
    */
  def events: DataFrame = {
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType           => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType   =>
        // the NTZ→TIMESTAMP cast reinterprets the wall clock in the SESSION
        // timezone — it is instant-preserving only under the engine's pinned
        // UTC. Fail loudly rather than silently shift every instant if a
        // session ever reaches here without the pin.
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "Tables.events: NTZ→TIMESTAMP cast requires spark.sql.session.timeZone=UTC " +
            s"(got '${spark.conf.get("spark.sql.session.timeZone")}')")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                  => raw
    }
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}
