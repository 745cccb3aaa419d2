package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Golden end-to-end test on the reference's real sample CSV
  * (read-only at /root/reference/csv_file/VEHICULOS_SRI.csv).
  * Expected cardinalities are the verified anchors from FIXTURES.md §1:
  * dim_tiempo=2192, dim_vehiculo=883 (882 distinct codes),
  * dim_transaccion=133 (4 distinct join-key pairs incl. one NAN-service),
  * dim_ubicacion=88, fact = 91,986 via the J2+J3 fan-outs (exact value
  * verified by replicating the reference's pandas merges directly on the
  * sample; SURVEY's ~91,726 estimate ignored the J2 vehicle fan-out).
  */
class SriPipelineSpec extends SparkTestBase {

  private val csv = "/root/reference/csv_file/VEHICULOS_SRI.csv"
  private lazy val out = java.nio.file.Files.createTempDirectory("graft-wh").toString
  private lazy val result = SriPipeline.run(
    spark, csv, ParquetWarehouse(spark, out),
    clock = java.time.LocalDate.of(2026, 1, 15), // outside dim_tiempo range → FK fill path
    minRecords = 1000L)

  test("dim_tiempo: 2192 daily rows with Spanish names") {
    assert(result.dimTiempo.count() === 2192L)
    val first = result.dimTiempo.orderBy("ID_Tiempo").limit(1).collect()(0)
    assert(first.getAs[Long]("ID_Tiempo") === 1L)
    assert(first.getAs[java.sql.Date]("FechaCompleta").toString === "2020-01-01")
    assert(first.getAs[String]("NombreMes") === "Enero")
    assert(first.getAs[String]("NombreDiaSemana") === "Miércoles") // 2020-01-01 was a Wednesday
    val years = result.dimTiempo.select(countDistinct("Anio")).collect()(0).getLong(0)
    assert(years === 6L)
  }

  test("dim_vehiculo: 883 rows, 882 distinct codes (raw-dedup-before-clean quirk)") {
    assert(result.dimVehiculo.count() === 883L)
    val codes = result.dimVehiculo.select(countDistinct("CodigoVehiculo")).collect()(0).getLong(0)
    assert(codes === 882L)
    // pandas astype(str) quirk: null MARCA → literal 'NAN'
    val nan = result.dimVehiculo.where(col("Marca") === "NAN").count()
    assert(nan === 1L)
    // ids are dense 1..n
    val stats = result.dimVehiculo.agg(min("ID_Vehiculo"), max("ID_Vehiculo"),
      countDistinct("ID_Vehiculo")).collect()(0)
    assert(stats.getLong(0) === 1L && stats.getLong(1) === 883L && stats.getLong(2) === 883L)
  }

  test("dim_transaccion: 133 rows, 3 distinct lookup-key pairs") {
    assert(result.dimTransaccion.count() === 133L)
    val pairs = result.dimTransaccion.select("TipoTransaccion", "TipoServicio")
      .distinct().count()
    assert(pairs === 4L) // 3 real pairs + (COMPRA LOCAL, NAN) from a null TIPO SERVICIO row
    val realPairs = result.dimTransaccion.select("TipoTransaccion", "TipoServicio")
      .where(col("TipoTransaccion") =!= "NAN" && col("TipoServicio") =!= "NAN")
      .distinct().count()
    assert(realPairs === 3L)
  }

  test("dim_ubicacion: 88 cantons, float-string codes, CANTON_ fallback everywhere") {
    assert(result.dimUbicacion.count() === 88L)
    // '10701.0'-style keys mean the hard-coded integer-keyed map never matches
    val dotted = result.dimUbicacion.where(col("CodigoCanton").endsWith(".0")).count()
    assert(dotted === 88L)
    val fallback = result.dimUbicacion.where(col("NombreCanton").startsWith("CANTON_")).count()
    assert(fallback === 88L)
  }

  test("fact: J3 fan-out multiplicity preserved; FK nulls filled with 1") {
    assert(result.fact.count() === 91986L)
    // date probe misses the real header → clock fallback (2026) → outside
    // dim_tiempo → every ID_Tiempo null-filled to 1
    val t = result.fact.select(countDistinct("ID_Tiempo")).collect()(0).getLong(0)
    assert(t === 1L)
    assert(result.fact.where(col("ID_Tiempo") === 1L).count() === 91986L)
    val nullCnt = result.fact.where(col("ID_Vehiculo").isNull || col("ID_Transaccion").isNull
      || col("ID_Ubicacion").isNull).count()
    assert(nullCnt === 0L)
  }

  test("validation report: thresholds enforced, integrity join computed") {
    val r = result.validation
    assert(r.factRows === 91986L)
    assert(r.factNullTiempo === 0L)
    assert(r.integrityJoinCount > 0L)
    assert(r.passed, s"violations: ${r.violations}")
  }

  test("strictLookup=true collapses the fan-out to one row per source record with a date") {
    val raw = SriPipeline.readCsv(spark, csv)
    val strict = FactRegistro.build(spark, raw,
      result.dimTiempo, result.dimVehiculo, result.dimTransaccion, result.dimUbicacion,
      clock = java.time.LocalDate.of(2026, 1, 15), strictLookup = true)
    // 1131 source rows; one duplicated vehicle code doubles 2 rows
    val n = strict.count()
    assert(n >= 1131L && n <= 1140L, s"got $n")
  }

  test("parallelDims=true produces the identical warehouse state") {
    val out2 = java.nio.file.Files.createTempDirectory("graft-wh-par").toString
    val r2 = SriPipeline.run(
      spark, csv, ParquetWarehouse(spark, out2),
      clock = java.time.LocalDate.of(2026, 1, 15),
      minRecords = 1000L, parallelDims = true)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             name: String): Unit = {
      assert(a.except(b).isEmpty && b.except(a).isEmpty, s"$name contents differ")
      assert(a.count() === b.count(), s"$name cardinality differs") // except() is set-wise
    }
    same(r2.dimTiempo, result.dimTiempo, "dim_tiempo")
    same(r2.dimVehiculo, result.dimVehiculo, "dim_vehiculo")
    same(r2.dimTransaccion, result.dimTransaccion, "dim_transaccion")
    same(r2.dimUbicacion, result.dimUbicacion, "dim_ubicacion")
    same(r2.fact, result.fact, "fact")
  }

  test("metrics queries run and respect top-k") {
    val top = Metrics.topMarcas(result.fact, result.dimVehiculo).collect()
    assert(top.length === 10)
    assert(top(0).getAs[Long]("total_registros") >= top(9).getAs[Long]("total_registros"))
    val dash = Metrics.dashboard(result.fact, result.dimTiempo, result.dimVehiculo,
      result.dimUbicacion).collect()
    assert(dash.length === 10)
  }

  test("hermetic: a year-partitioned fact is one file per Anio with dense ID_Registro") {
    // In-memory raw frame, no sample CSV: 300 source rows whose dates
    // PARSE (the probed 'FECHA PROCESO' header) across 2021-2023. A fact
    // this small must be written as one file per year; a layout sized from
    // a statistic-less or join-shaped plan hits the 64-file backstop at
    // any size.
    val rows = (0 until 300).map { i =>
      val date = s"${1 + i % 12}/${1 + i % 28}/${2021 + i % 3}"
      org.apache.spark.sql.Row(
        (i % 3).toLong, 1000L + i, Seq("COMPRA LOCAL", "IMPORTACION")(i % 2),
        Seq("TOYOTA", "KIA", "CHEVROLET", "HYUNDAI")(i % 4), s"M${i % 9}", "JAPON",
        2015.0 + i % 8, "AUTOMOVIL", "SEDAN", "LIVIANO", 10000.0 + i, date,
        Seq("PARTICULAR", "PUBLICO")(i / 2 % 2), 1600.0, "GASOLINA", date,
        10701.0 + i % 5 * 100, "BLANCO", if (i % 5 == 0) null else "NEGRO",
        Seq("NATURAL", "JURIDICA")(i / 3 % 2))
    }
    val raw = spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.csvSchema)
      .withColumnRenamed("FECHA PROCESO (DD/MM/AA)", "FECHA PROCESO")
    val outH = java.nio.file.Files.createTempDirectory("graft-wh-hermetic").toString
    val wh = ParquetWarehouse(spark, outH,
      partitionCols = Map("fact_registro_vehiculos" -> Seq("Anio")))
    val res = SriPipeline.runRaw(spark, raw, wh,
      clock = java.time.LocalDate.of(2026, 1, 15), minRecords = 1L)
    val yearDirs = new java.io.File(s"$outH/fact_registro_vehiculos").listFiles()
      .filter(_.getName.startsWith("Anio="))
    assert(yearDirs.map(_.getName).sorted.toSeq === Seq("Anio=2021", "Anio=2022", "Anio=2023"))
    yearDirs.foreach { d =>
      val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName} holds ${files.length} parquet files")
    }
    val ids = res.fact.select("ID_Registro").collect().map(_.getLong(0)).sorted
    assert(ids.length > 300, "the J3 fan-out multiplies source rows")
    assert(ids.toSeq === (1L to ids.length.toLong))

    // the one-pass validation equals the reference's 4-way inner star-join
    // count, also on a fact carrying a dangling key on each dim and a null
    // ID_Tiempo
    val dangling = Seq("ID_Tiempo" -> 1L, "ID_Vehiculo" -> 3L, "ID_Transaccion" -> 4L,
      "ID_Ubicacion" -> 5L)
    val probe = dangling.foldLeft(res.fact.orderBy("ID_Registro").limit(5)) { case (df, (k, id)) =>
      df.withColumn(k, when(col("ID_Registro") === id, -col(k)).otherwise(col(k)))
    }.withColumn("ID_Tiempo", when(col("ID_Registro") =!= 2L, col("ID_Tiempo")))
    val fact2 = res.fact.union(probe)
    val v = Validation.validate(res.dimTiempo, res.dimVehiculo, res.dimTransaccion,
      res.dimUbicacion, fact2, minRecords = 1L)
    val inner = fact2
      .join(res.dimTiempo.select("ID_Tiempo"), "ID_Tiempo")
      .join(res.dimVehiculo.select("ID_Vehiculo").distinct(), "ID_Vehiculo")
      .join(res.dimTransaccion.select("ID_Transaccion"), "ID_Transaccion")
      .join(res.dimUbicacion.select("ID_Ubicacion"), "ID_Ubicacion")
      .count()
    assert(v.factRows === ids.length + 5L)
    assert(v.factNullTiempo === 1L)
    assert(v.integrityJoinCount === inner)
    assert(v.integrityJoinCount === ids.length.toLong)
    assert(res.validation.integrityJoinCount === ids.length.toLong)
  }

  test("year-partitioned fact: a year-filtered metrics query SKIPS files at read time") {
    // The CSV read names columns POSITIONALLY (explicit schema), so a
    // CSV-sourced run always takes the clock date fallback (one Anio
    // value — reference parity), and the sample itself is a single-period
    // extract (every FECHA PROCESO is 2024). Rename the date column to
    // the probed name so dates PARSE, and spread the year 2020-2024
    // deterministically by vehicle code — the multi-year landing table
    // the SriMain wiring (fact partitioned by Anio, clustered
    // (Anio, Marca)) faces in production.
    val rawDated = SriPipeline.readCsv(spark, csv)
      .withColumnRenamed("FECHA PROCESO (DD/MM/AA)", "FECHA PROCESO")
      .withColumn("FECHA PROCESO",
        regexp_replace(col("FECHA PROCESO"), lit("2024$"),
          (lit(2020) + pmod(col("CÓDIGO DE VEHÍCULO").cast("long"), lit(5)))
            .cast("string")))
    val outP = java.nio.file.Files.createTempDirectory("graft-wh-part").toString
    val wh = ParquetWarehouse(spark, outP,
      partitionCols = Map("fact_registro_vehiculos" -> Seq("Anio")))
    val res = SriPipeline.runRaw(spark, rawDated, wh,
      clock = java.time.LocalDate.of(2026, 1, 15), minRecords = 1000L)
    val factDir = new java.io.File(s"$outP/fact_registro_vehiculos")
    val yearDirs = factDir.listFiles().map(_.getName).filter(_.startsWith("Anio="))
    assert(yearDirs.length > 1, s"expected multiple year directories, got ${yearDirs.toSeq}")

    val fact = wh.read("fact_registro_vehiculos")
    val fullCount = fact.count()
    val allFiles = fact.inputFiles.length
    val year = fact.groupBy("Anio").count().orderBy(col("count").desc)
      .head().getAs[Number]("Anio").intValue

    // the year-filtered metrics query: that year's top brands
    val q = Metrics.topMarcas(fact.where(col("Anio") === year), res.dimVehiculo)
    val rows = q.collect()
    assert(rows.nonEmpty)
    // AQE nests finalized stages as leaf QueryStageExec nodes — walk
    // through them (and reused exchanges) to reach the physical scans
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: allNodes(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          qs +: allNodes(qs.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          r +: allNodes(r.child)
        case other => Seq(other)
      }
    val scan = allNodes(q.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("fact_registro_vehiculos")) => f
    }.getOrElse(fail(s"no fact FileSourceScanExec in the executed plan:\n" +
      allNodes(q.queryExecution.executedPlan).map(_.getClass.getSimpleName).mkString(", ")))
    // 1. directory pruning selected exactly the one year partition
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned Anio partition, scanned ${scan.selectedPartitions.partitionCount} of ${yearDirs.length}")
    // 2. the scan READ fewer files than the table holds (files skipped,
    //    not merely filtered after reading)
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead >= 1 && filesRead < allFiles,
      s"scan read $filesRead of $allFiles files — nothing was skipped")
    // 3. and fewer rows than the full table (the scan itself, pre-join)
    val rowsRead = scan.metrics("numOutputRows").value
    assert(rowsRead > 0 && rowsRead < fullCount,
      s"scan emitted $rowsRead of $fullCount rows — no row skipping")
    // 4. pruning did not change the answer: abs(Anio) blocks the partition
    //    filter, forcing a full-scan-then-filter baseline over the SAME table
    val baseline = Metrics.topMarcas(fact.where(abs(col("Anio")) === year),
      res.dimVehiculo).collect()
    assert(rows.map(_.toString).toSeq === baseline.map(_.toString).toSeq)
  }
}
