package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end SRI vehicle-registry ETL (ref DAG wiring
  * dags/sri_vehiculos_etl_dag.py:913-922: inicio >> [4 dims] >> fact >>
  * validate >> metrics).
  *
  * The four dim builds are independent lazy plans — Spark runs their jobs
  * when the warehouse writes trigger them; on a cluster they can be
  * submitted concurrently (scheduler pools), though dims are so small that
  * sequencing is irrelevant next to the fact build.
  */
object SriPipeline {

  final case class Result(
      dimTiempo: DataFrame, dimVehiculo: DataFrame, dimTransaccion: DataFrame,
      dimUbicacion: DataFrame, fact: DataFrame, validation: Validation.Report)

  /** Read the source CSV with the explicit schema (S1; one scan, cached —
    * the reference re-downloads and re-parses the same blob 4× per run).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")
      .schema(Schemas.csvSchema)
      .csv(path)

  def run(
      spark: SparkSession,
      csvPath: String,
      warehouse: Warehouse,
      clock: java.time.LocalDate = java.time.LocalDate.now(),
      maxNullPct: Double = 10.0,
      minRecords: Long = 1000L,
      parallelDims: Boolean = false,
      retry: Retry.Policy = Retry.Policy(retries = 0),
      sleeper: scala.concurrent.duration.Duration => Unit = d => Thread.sleep(d.toMillis)): Result =
    runRaw(spark, readCsv(spark, csvPath), warehouse, clock, maxNullPct,
      minRecords, parallelDims, retry, sleeper)

  /** The DAG over an already-loaded source frame — for callers whose raw
    * data is not the positional-schema CSV (a parquet landing table, a
    * stream batch, or headers corrected to the probed date-column names:
    * [[readCsv]]'s EXPLICIT schema names columns by position, so a
    * CSV-sourced run can never match the 'FECHA PROCESO' date probe and
    * always takes the clock fallback, exactly like the reference on its
    * own sample — ref dags/sri_vehiculos_etl_dag.py:447-463).
    */
  def runRaw(
      spark: SparkSession,
      rawIn: DataFrame,
      warehouse: Warehouse,
      clock: java.time.LocalDate = java.time.LocalDate.now(),
      maxNullPct: Double = 10.0,
      minRecords: Long = 1000L,
      parallelDims: Boolean = false,
      retry: Retry.Policy = Retry.Policy(retries = 0),
      sleeper: scala.concurrent.duration.Duration => Unit = d => Thread.sleep(d.toMillis)): Result = {

    // D2: per-STAGE retry, the ref's Airflow task contract (retries 2 @
    // 5 min — SriMain passes those; library callers default to 0).
    // Stage re-runs are safe because every warehouse write is
    // truncate-and-reload (S2).
    def staged[T](name: String)(body: => T): T =
      Retry.withRetries(name, retry, sleeper)(body)

    val raw = rawIn.cache()

    val tiempo = DimTiempo.build(spark)
    val vehiculo = Dims.vehiculo(raw)
    val transaccion = Dims.transaccion(raw)
    val ubicacion = Dims.ubicacion(raw, spark)

    val dimWrites: Seq[(String, DataFrame)] = Seq(
      "dim_tiempo" -> tiempo, "dim_vehiculo" -> vehiculo,
      "dim_transaccion" -> transaccion, "dim_ubicacion" -> ubicacion)
    if (parallelDims) {
      // the reference DAG fans the 4 dim builds out in parallel (ref
      // :913-922); the four independent write jobs share the cached
      // `raw` scan. Retries wrap each task INSIDE the fan-out, as
      // Airflow's are per-task, not per-fan.
      Concurrency.inParallel(
        dimWrites.map { case (n, df) => () => staged(n)(warehouse.write(n, df)) },
        spark = Some(spark))
    } else {
      dimWrites.foreach { case (n, df) => staged(n)(warehouse.write(n, df)) }
    }

    // Fact reads dims back from the warehouse (ref :421-434 does the same
    // round-trip through BigQuery) — keeps the fact build decoupled from
    // the dim builds' in-memory plans.
    val t = warehouse.read("dim_tiempo")
    val v = warehouse.read("dim_vehiculo")
    val tr = warehouse.read("dim_transaccion")
    val u = warehouse.read("dim_ubicacion")

    val fact = FactRegistro.build(spark, raw, t, v, tr, u, clock)
    staged("fact_registro_vehiculos")(
      warehouse.write("fact_registro_vehiculos", layoutFact(fact, v)))
    val factBack = warehouse.read("fact_registro_vehiculos")

    val report = staged("validation")(
      Validation.validate(t, v, tr, u, factBack, maxNullPct, minRecords))
    raw.unpersist()
    Result(t, v, tr, u, factBack, report)
  }

  /** Physical layout for the fact write — the clustering half of the
    * reference's declared-but-never-wired intent
    * (config/variables.yaml:19-20: partition `FechaRegistro`, cluster
    * `["Anio","Marca"]`). The warehouse's `partitionCols` handles the
    * year directories (SriMain wires `Anio`); within them, BigQuery
    * "clustering" is lexicographic sorted layout, so the fact is
    * range-partitioned and sorted on (Anio, Marca) before the write —
    * each file then carries tight (Anio, Marca) min/max for row-group
    * pruning. Marca is a dim attribute (functionally dependent on
    * ID_Vehiculo), broadcast-joined in for the sort key only and dropped
    * before writing: rows, values, and schema are untouched (left join
    * on the dim's unique surrogate key — no fan-out). The file count is
    * therefore sized from the fact's own statistics (exact, from the
    * surrogate-key pass), never from the joined frame, whose estimate
    * without CBO is the product of both sides' sizes.
    */
  private[etl] def layoutFact(fact: DataFrame, dimVehiculo: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (!fact.columns.contains("Anio")) return fact
    val keyed =
      if (fact.columns.contains("ID_Vehiculo") && dimVehiculo.columns.contains("Marca"))
        fact.join(
          broadcast(dimVehiculo.select(col("ID_Vehiculo"), col("Marca").as("__marca"))),
          Seq("ID_Vehiculo"), "left")
      else fact.withColumn("__marca", org.apache.spark.sql.functions.lit(null).cast("string"))
    val numFiles = graft.operators.Layout.fileCount(fact, targetFileBytes = 128L << 20)
    graft.operators.Layout
      .clusterBy(keyed, Seq("Anio", "__marca"), numFiles, tiebreakCol = Some("ID_Registro"))
      .drop("__marca")
      .select(fact.columns.map(col): _*)
  }
}
