package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data-quality validation (ref dags/sri_vehiculos_etl_dag.py:647-760):
  * per-table profile aggregates + referential-integrity star-join count.
  *
  * Unlike the reference — which only LOGS results — this enforces the
  * thresholds that config/variables.yaml:44-48 declares but never wires
  * (D5): max null percentage, minimum record count.
  */
object Validation {

  final case class TableProfile(
      table: String, rows: Long, distincts: Map[String, Long],
      nullCounts: Map[String, Long])

  final case class Report(
      profiles: Seq[TableProfile],
      factRows: Long,
      factNullTiempo: Long,
      factNullUbicacion: Long,
      integrityJoinCount: Long,
      violations: Seq[String]) {
    def passed: Boolean = violations.isEmpty
  }

  /** One-pass profile: COUNT(*), COUNT(DISTINCT c), null counts per column
    * (A1-A4 + the null-% check). All computed in a single aggregation job
    * per table — no per-column passes.
    */
  def profile(df: DataFrame, table: String, distinctCols: Seq[String]): TableProfile = {
    val aggs =
      Seq(count(lit(1)).as("__rows")) ++
        distinctCols.map(c => countDistinct(col(c)).as(s"__d_$c")) ++
        df.columns.toSeq.map(c => count(when(col(c).isNull, 1)).as(s"__n_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    TableProfile(
      table,
      row.getAs[Long]("__rows"),
      distinctCols.map(c => c -> row.getAs[Long](s"__d_$c")).toMap,
      df.columns.toSeq.map(c => c -> row.getAs[Long](s"__n_$c")).toMap)
  }

  /** Full validation over the 5-table star (A5 ref :715-723 + J5 ref
    * :735-746), with threshold enforcement.
    */
  def validate(
      dimTiempo: DataFrame, dimVehiculo: DataFrame, dimTransaccion: DataFrame,
      dimUbicacion: DataFrame, fact: DataFrame,
      maxNullPct: Double = 10.0, minRecords: Long = 1000L): Report = {

    // One pass over the fact answers both the profile and the referential
    // integrity star join (ref :735-746): each dim's distinct keys are
    // broadcast and left-joined with a match marker, so a fact row is
    // integral iff all four markers are set. Surrogate keys are unique per
    // dim, so this equals the reference's 4-way inner join count; the
    // distinct keeps a duplicated dim key from inflating the fact counts,
    // and runs in one partition (dims are broadcast-sized) so it needs no
    // shuffle.
    val keys = Seq(dimTiempo -> "ID_Tiempo", dimVehiculo -> "ID_Vehiculo",
      dimTransaccion -> "ID_Transaccion", dimUbicacion -> "ID_Ubicacion")
    val marked = keys.foldLeft(fact) { case (df, (dim, k)) =>
      val dimKeys = dim.select(k).coalesce(1).distinct().withColumn(s"__m_$k", lit(true))
      df.join(broadcast(dimKeys), Seq(k), "left")
    }

    // the four dim profiles and the fact aggregate are independent
    // single-agg jobs: submit them concurrently — on small inputs per-job
    // latency, not compute, dominates the validation step
    val (profiles, factAggs) = Concurrency.inParallel[Either[TableProfile, Row]](Seq(
      () => Left(profile(dimTiempo, "dim_tiempo", Seq("Anio"))),
      () => Left(profile(dimVehiculo, "dim_vehiculo", Seq("Marca", "Clase"))),
      () => Left(profile(dimTransaccion, "dim_transaccion", Seq("TipoTransaccion"))),
      () => Left(profile(dimUbicacion, "dim_ubicacion", Seq("Provincia", "Region"))),
      () => Right(marked.agg(
        count(lit(1)).as("rows"),
        count(when(col("ID_Tiempo").isNull, 1)).as("null_t"),
        count(when(col("ID_Ubicacion").isNull, 1)).as("null_u"),
        count(when(keys.map { case (_, k) => col(s"__m_$k").isNotNull }.reduce(_ && _), 1))
          .as("integrity")
      ).collect()(0))
    ), spark = Some(dimTiempo.sparkSession)).partitionMap(identity)
    val factAgg = factAggs.head

    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    val factRows = factAgg.getAs[Long]("rows")
    if (factRows < minRecords)
      violations += s"fact has $factRows rows < min_records_threshold $minRecords"
    profiles.foreach { p =>
      p.nullCounts.foreach { case (c, n) =>
        val pct = if (p.rows == 0) 0.0 else 100.0 * n / p.rows
        if (pct > maxNullPct)
          violations += f"${p.table}.$c null%% $pct%.1f > $maxNullPct%.1f"
      }
    }

    Report(profiles, factRows,
      factAgg.getAs[Long]("null_t"), factAgg.getAs[Long]("null_u"),
      factAgg.getAs[Long]("integrity"), violations.toSeq)
  }
}
