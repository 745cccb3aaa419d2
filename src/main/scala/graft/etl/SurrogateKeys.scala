package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.graftbridge.RowsBridge
import org.apache.spark.sql.types.LongType

/** Dense sequential surrogate keys (1..n) — the reference's
  * `range(1, len(df)+1)` (ref dags/sri_vehiculos_etl_dag.py:70,161,245,534).
  *
  * pandas numbers rows in CSV file order, which no distributed engine can
  * reproduce cheaply; the engine instead DEFINES a canonical ordering
  * (caller-supplied sort columns) and documents the deviation (SURVEY §7.4
  * #3). All cross-table semantics survive because fact lookups join on
  * natural keys, never on the surrogate ids.
  */
object SurrogateKeys {

  /** Window-based id: simple, total-order correct — but a single-partition
    * sort. Use ONLY for dimension-sized tables (dims are small by
    * definition: ≤ thousands of rows).
    */
  def withWindowId(df: DataFrame, idName: String, order: Seq[Column]): DataFrame = {
    val w = Window.orderBy(order: _*)
    df.withColumn(idName, row_number().over(w).cast("long"))
  }

  /** Incremental allocation for a warehouse dim that loads in rounds: keys
    * already in `existing` KEEP their ids (re-keying would break every fact
    * FK already written), and only natural keys new in `incoming` get fresh
    * ids, allocated densely from max(existing)+1 via the two-phase scalable
    * path. Returns the merged dim (`naturalKey` columns + `idName`).
    *
    * Id stability across loads holds whatever order new keys arrive in;
    * the ids of one round's NEW keys follow the canonical natural-key
    * ordering within that round (same contract as a fresh load's 1..n).
    */
  def withIncrementalId(existing: DataFrame, incoming: DataFrame, idName: String,
                        naturalKey: Seq[String], numPartitions: Int = 0): DataFrame = {
    val keyCols = naturalKey.map(col)
    val maxId = existing.agg(coalesce(max(col(idName)), lit(0L))).head.getLong(0)
    val inc = incoming.select(keyCols: _*).distinct()
    val exK = existing.select(keyCols: _*)
    // null-SAFE anti join: a plain equi-anti never matches a null key
    // (null = null is not true), which would classify a null natural key
    // as "new" on every load — one duplicate null row per round and a
    // different id each time, breaking the id-stability contract
    val cond = naturalKey.map(k => inc(k) <=> exK(k)).reduce(_ && _)
    val newKeys = inc.join(exK, cond, "left_anti")
    val keyed = withScalableId(newKeys, idName, keyCols, numPartitions)
      .withColumn(idName, col(idName) + maxId)
    existing.select(keyCols :+ col(idName): _*)
      .unionByName(keyed.select(keyCols :+ col(idName): _*))
  }

  /** Scale path: dense ids over an arbitrarily large table without a global
    * single-partition sort. Three steps, all on Catalyst's `InternalRow`s
    * (no conversion to and from external `Row`s):
    *   1. range-repartition + intra-partition sort on the key (a true total
    *      order across partitions, each partition sorted locally);
    *   2. count rows and their bytes per partition (one tiny job),
    *      prefix-sum the counts on the driver (numPartitions values —
    *      trivially small);
    *   3. mapPartitions joins each row with offset + local index through
    *      an `UnsafeProjection`; the second pass reuses step 1's shuffle.
    * The result is a `LogicalRDD` carrying the EXACT row count and size
    * from step 2, so size-driven planning downstream (broadcast choices,
    * [[graft.operators.Layout.fileCount]]) sees the table's real size
    * rather than `spark.sql.defaultSizeInBytes`.
    * Cost: one extra pass over the data; no 2 GB single-partition ceiling.
    */
  def withScalableId(df: DataFrame, idName: String, order: Seq[Column], numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
                else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)
    val schema = sorted.schema
    val n = schema.length
    // one RDD for both passes, so the id pass reads the shuffle files the
    // count pass wrote instead of shuffling again
    val rows = sorted.queryExecution.toRdd
    // a sort emits UnsafeRows; the id adds one 8-byte slot and, every 64
    // fields, one null-bitset word
    val idBytes = 8L + UnsafeRow.calculateBitSetWidthInBytes(n + 1) -
      UnsafeRow.calculateBitSetWidthInBytes(n)
    val (counts, sizes) = rows.mapPartitions { it =>
      var rowsIn, bytes = 0L
      it.foreach { r => rowsIn += 1; bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes + idBytes }
      Iterator((rowsIn, bytes))
    }.collect().unzip
    val offsets = counts.scanLeft(1L)(_ + _) // ids start at 1
    val outFields = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    } :+ BoundReference(n, LongType, nullable = false)
    val withId = rows.mapPartitionsWithIndex[InternalRow] { (i, it) =>
      val project = UnsafeProjection.create(outFields)
      val id = new SpecificInternalRow(Seq(LongType))
      val joined = new JoinedRow
      var next = offsets(i)
      it.map { r =>
        id.setLong(0, next)
        next += 1
        project(joined(r, id))
      }
    }
    RowsBridge.fromInternalRows(df.sparkSession, schema.add(idName, LongType, nullable = false),
      withId, rowCount = counts.sum, sizeInBytes = sizes.sum)
  }
}
