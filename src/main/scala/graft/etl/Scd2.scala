package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-Changing-Dimension Type 2 maintenance — validity-interval
  * history for dimension attributes (Kimball's SCD2), the warehouse
  * pattern the reference's truncate-reload dims (ref
  * `dags/sri_vehiculos_etl_dag.py` dim tasks) throw away: every reload
  * there overwrites history, so "which segment was this customer in
  * when the order shipped" is unanswerable. Here each natural key keeps
  * a chain of (valid_from, valid_to] rows, exactly one open
  * (is_current = 1) per live key.
  *
  * Merge semantics per natural key, against the OPEN generation only:
  *   - tracked attributes unchanged → open row passes through;
  *   - changed → open row CLOSES at `loadDate` and a new open row
  *     starts there (the two-row handover);
  *   - key new in the snapshot → new open row at `loadDate`;
  *   - key missing from the snapshot → open row closes at `loadDate`
  *     (`closeMissing = false` keeps it open instead — for partial
  *     snapshot feeds);
  *   - already-closed history rows pass through untouched, always.
  *
  * Null-safe equality everywhere: a tracked NULL→NULL is unchanged,
  * NULL→value is a change, and NULL natural-key components match
  * themselves.
  *
  * Fully discrete (dates, strings, a null-safe compare — no floats), so
  * the DuckDB oracle replays the merge with no rounding doctrine.
  *
  * Scale shape: ONE full-outer shuffle join of the open generation
  * against the snapshot on the natural key (history rows never join
  * anything — they union straight through), map-side projections for
  * the four categories, no window, no row-pairwise work. At 100 TB the
  * open generation is |live keys| rows and the join co-partitions both
  * sides on the key — the minimal possible exchange for the semantics.
  */
object Scd2 {

  /** First load: every snapshot row opens at `loadDate`. The snapshot
    * must be key-unique (the dim contract; enforced by the reference's
    * dedup step upstream — compose with A10 `distinct` if unsure).
    */
  def initial(snapshot: DataFrame, keyCols: Seq[String], trackedCols: Seq[String],
              loadDate: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one natural-key column")
    require(trackedCols.nonEmpty, "need at least one tracked column")
    snapshot.select((keyCols ++ trackedCols).map(col): _*)
      .withColumn("valid_from", lit(loadDate).cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(1L))
  }

  /** Merge a new key-unique snapshot into an SCD2 table previously built
    * by [[initial]]/[[merge]]. Returns the full updated table.
    */
  def merge(current: DataFrame, snapshot: DataFrame, keyCols: Seq[String],
            trackedCols: Seq[String], loadDate: String,
            closeMissing: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "need at least one natural-key column")
    require(trackedCols.nonEmpty, "need at least one tracked column")
    val outCols = keyCols ++ trackedCols ++ Seq("valid_from", "valid_to", "is_current")
    val history = current.where(col("is_current") === 0).select(outCols.map(col): _*)
    val open = current.where(col("is_current") === 1)
    val snap = snapshot.select((keyCols ++ trackedCols).map(c => col(c).as(s"__s_$c")): _*)
      .withColumn("__s_present", lit(1))
    val keyEq = keyCols.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _)
    val joined = open.withColumn("__o_present", lit(1)).join(snap, keyEq, "full")
    // explicit presence markers, not key-null checks: a fully-null
    // natural key still matches itself under <=>, so nullness of key
    // columns cannot distinguish "absent side" from "null-keyed row"
    val openPresent = col("__o_present").isNotNull
    val snapPresent = col("__s_present").isNotNull
    val unchanged = trackedCols.map(c => col(c) <=> col(s"__s_$c")).reduce(_ && _)
    val d = lit(loadDate).cast("date")
    // 1. unchanged open rows pass through
    val kept = joined.where(openPresent && snapPresent && unchanged)
      .select(outCols.map(col): _*)
    // 2. changed: the old row closes...
    val closedChanged = joined.where(openPresent && snapPresent && !unchanged)
      .select(keyCols.map(col) ++ trackedCols.map(col) ++
        Seq(col("valid_from"), d.as("valid_to"), lit(0L).as("is_current")): _*)
    // ...and the new version opens
    val openedChanged = joined.where(openPresent && snapPresent && !unchanged)
      .select(keyCols.map(k => col(s"__s_$k").as(k)) ++
        trackedCols.map(c => col(s"__s_$c").as(c)) ++
        Seq(d.as("valid_from"), lit(null).cast("date").as("valid_to"),
          lit(1L).as("is_current")): _*)
    // 3. new keys open
    val openedNew = joined.where(!openPresent)
      .select(keyCols.map(k => col(s"__s_$k").as(k)) ++
        trackedCols.map(c => col(s"__s_$c").as(c)) ++
        Seq(d.as("valid_from"), lit(null).cast("date").as("valid_to"),
          lit(1L).as("is_current")): _*)
    // 4. keys missing from the snapshot close (or stay open)
    val missing = joined.where(openPresent && !snapPresent)
    val missingOut =
      if (closeMissing)
        missing.select(keyCols.map(col) ++ trackedCols.map(col) ++
          Seq(col("valid_from"), d.as("valid_to"), lit(0L).as("is_current")): _*)
      else missing.select(outCols.map(col): _*)
    history.unionByName(kept).unionByName(closedChanged)
      .unionByName(openedChanged).unionByName(openedNew).unionByName(missingOut)
  }
}
