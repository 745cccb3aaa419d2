package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter build + membership probe — the serving-side set-membership
  * artifact of the sketch family (count–min q137, KMV q58): "has this key
  * ever been seen?" with zero false negatives and a bounded false-positive
  * rate, in m bits instead of the key set itself.
  *
  * The reference has no sketch surface at all (its whole pipeline is
  * small-sample pandas, `dags/sri_vehiculos_etl_dag.py:146-161` just
  * dedups in memory); at 100 TB a "was this URL / doc digest already
  * ingested" check against the full key set is a giant shuffle-join per
  * batch, while a Bloom probe is a broadcast of at most m bit positions.
  *
  * Representation: the DISTRIBUTED build emits one row per SET BIT
  * (`pos` ∈ [0, mBits)) — at most mBits rows regardless of input size,
  * produced by one map-side-combinable distinct over the k-position
  * fan-out. That row form is what the oracle replays and what a probe
  * broadcasts: probing joins the probe fan-out against the broadcast bit
  * table, and a key is a member iff ALL k of its positions are set —
  * `n_hit = k`. No false negatives by construction; false
  * positives ≈ (1 - e^(-kn/m))^k.
  *
  * Hashing is the engine-independent salted-md5 family (Sketch.cmsBucket's
  * shape): 12 hex chars = 48 uniform bits, mod m — so DuckDB replays the
  * filter bit-for-bit.
  */
object Bloom {

  /** The i-th salted bit position of a key, in [0, mBits). */
  def bitPos(i: Int, key: Column, mBits: Int): Column =
    (conv(substring(md5(concat(lit(i.toString), lit("_"), key)), 1, 12), 16, 10)
      .cast("long") % mBits).cast("long")

  private def positions(key: Column, k: Int, mBits: Int): Column =
    array((0 until k).map(i => bitPos(i, key, mBits)): _*)

  /** Build: the distinct set-bit positions of `keyCol` over `df`.
    * One narrow k-way fan-out then a distinct aggregation whose result —
    * and whose per-partition partial state — is bounded by mBits rows,
    * independent of input cardinality. Returns one `pos` column, sorted
    * ascending for a stable export.
    */
  def build(df: DataFrame, keyCol: String, k: Int = 3, mBits: Int = 8192): DataFrame = {
    require(k >= 1 && mBits >= 2, s"bad bloom shape: k=$k m=$mBits")
    // null keys are dropped on BOTH build and probe (a null never hashes,
    // so it would otherwise plant a spurious null `pos` row here and
    // probe as perpetually-new downstream)
    df.where(col(keyCol).isNotNull)
      .select(explode(positions(col(keyCol).cast("string"), k, mBits)).as("pos"))
      .distinct()
  }

  /** Probe: for each distinct probe key, how many of its k positions are
    * set and the resulting membership verdict. The bit table (≤ mBits
    * rows) broadcasts; the probe side never shuffles beyond its own
    * distinct. Guaranteed: `member` is true for every key that went into
    * the build (no false negatives).
    */
  def probe(bits: DataFrame, probes: DataFrame, keyCol: String,
            k: Int = 3, mBits: Int = 8192): DataFrame = {
    val fan = probes.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
      .select(col(keyCol),
        explode(positions(col(keyCol).cast("string"), k, mBits)).as("pos"))
    fan.join(broadcast(bits.withColumn("__set", lit(1))), Seq("pos"), "left")
      .groupBy(col(keyCol))
      .agg(sum(coalesce(col("__set"), lit(0))).cast("long").as("n_hit"))
      .withColumn("member", col("n_hit") === k)
  }
}
