package graftbench

import java.io.File

import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{CurateMain, SparkEntry}
import graft.etl.{Metrics, ParquetWarehouse, Retry, SriPipeline, Validation, Warehouse}

/** What one op returns: an order-independent digest of its output (computed
  * lazily, after the op's clock stops), the output's row count, the
  * per-layer figures only the op can see and, for queries, the collected
  * output the warm-up hands to the DuckDB oracle.
  */
final class OpResult(digestOf: => String, val rows: Long, val layers: Map[String, Double] = Map.empty,
                     val output: Option[(StructType, Array[Row])] = None) {
  lazy val digest: String = digestOf
}

/** One op of a round; `metric` names its per-layer figures (`<metric>_s`, ...). */
final case class Op(name: String, metric: String, run: () => OpResult)

final case class Inputs(work: File, csv: File, sourceRows: Long, tables: File,
                        expected: Map[String, Long])

abstract class Workload(val in: Inputs) {
  var spark: SparkSession = _
  var traced = false
  /** Set when set-up built something that disagrees with the replica. */
  var setupError: Option[String] = None
  /** Per-op checks against figures derived without graft (None = pass). */
  def check(op: Op, r: OpResult): Option[String] = None
  /** Builds derived inputs once, on the run's first session, untimed. */
  def buildInputs(): Unit = ()
  /** Opens what the ops read; runs on a fresh session per set-up. */
  def prepare(): Unit = ()
  def ops: Seq[Op]
  /** Bytes this workload stores over the bytes of its source. */
  def storedBytesRatio: Double
  /** Extra files the oracle check reads (table name -> path). */
  def oracleTables: Map[String, String] = Map.empty

  protected def query(name: String, metric: String)(frame: => DataFrame): Op =
    Op(name, metric, () => Digest.collect(frame))
  protected def sparkEntry(name: String): Op =
    query(name, s"queries.$name")(SparkEntry.queries(name)(spark, in.tables.getPath))
}

object Workload {
  val Fact = "fact_registro_vehiculos"
  val DimTables = Seq("dim_tiempo", "dim_vehiculo", "dim_transaccion", "dim_ubicacion")
  /** The replica's fixed clock: outside dim_tiempo, so every fact row
    * takes the ID_Tiempo fallback exactly as the reference does.
    */
  val Clock = java.time.LocalDate.parse("2026-01-15")

  def apply(name: String, in: Inputs): Workload = name match {
    case "sri_etl" => new SriEtl(in)
    case "sri_queries" => new SriQueries(in)
    case "doc_ops" => new DocOps(in)
    case other => sys.error(s"unknown workload '$other'")
  }

  def dirBytes(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.getName.endsWith(".parquet")) (f.length, 1L)
    else (0L, 0L)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** One full `runRaw` into `dir`: the sri_etl op and sri_queries' set-up.
    * Returns the warehouse it wrote, which keeps the written schemas.
    */
  def runEtl(w: Workload, dir: File): (ParquetWarehouse, OpResult) = {
    val spark = w.spark
    val sc = spark.sparkContext
    val base = ParquetWarehouse(spark, dir.getPath, Map(Fact -> Seq("Anio")))
    val traced = if (w.traced) Some(new TracedWarehouse(base, sc, Fact)) else None
    val wh: Warehouse = traced.getOrElse(base)
    var retries = 0
    val t0 = System.nanoTime()
    val res = SriPipeline.runRaw(spark, SriPipeline.readCsv(spark, w.in.csv.getPath), wh, Clock,
      parallelDims = true, retry = Retry.Policy(retries = 2, delay = 5.minutes),
      sleeper = _ => retries += 1)
    val t1 = System.nanoTime()
    val report = res.validation
    val (bytes, files) = dirBytes(dir)
    val layers = traced.fold(Map.empty[String, Double]) { t =>
      def s(ns: Long) = ns / 1e9
      val log = t.log
      val writes = log.filter(_.kind == "write")
      val dimsEnd = writes.filter(c => DimTables.contains(c.table)).map(_.endNs).max
      val readNs = log.filter(_.kind == "read").map(c => c.endNs - c.startNs).sum
      val factWrite = writes.find(_.table == Fact).get
      // the fact's lookup joins and layout are planned (and partly run)
      // between the dim readbacks and the fact write
      val buildNs = factWrite.startNs - log.filter(_.endNs <= factWrite.startNs).map(_.endNs).max
      val validateNs = t1 - log.filter(c => c.kind == "read" && c.table == Fact).map(_.endNs).max
      val covered = (dimsEnd - t0) + readNs + buildNs + (factWrite.endNs - factWrite.startNs) + validateNs
      writes.map(c => s"etl.write.${c.table}_s" -> s(c.endNs - c.startNs)).toMap ++ Map(
        "etl.dims_s" -> s(dimsEnd - t0),
        "etl.read_s" -> s(readNs),
        "etl.build_fact_s" -> s(buildNs),
        "etl.validate_s" -> s(validateNs),
        "etl.uncovered_s" -> s(t1 - t0 - covered))
    } ++ Map(
      "etl.write_bytes" -> bytes.toDouble,
      "etl.write_files" -> files.toDouble,
      "etl.fact_rows" -> report.factRows.toDouble,
      "etl.fanout" -> report.factRows.toDouble / w.in.sourceRows,
      "etl.retries" -> retries.toDouble)
    (base, new OpResult(reportDigest(report), report.factRows, layers))
  }

  /** Table row counts and the verdict of a validation report. */
  def reportDigest(r: Validation.Report): String =
    (r.profiles.map(p => p.table -> p.rows) :+ (Fact -> r.factRows)).sorted
      .map { case (k, v) => s"$k=$v" }.mkString(",") + s",passed=${r.passed}"

  /** Mismatches between a run's table counts and the replica's. */
  def countErrors(expected: Map[String, Long], digest: String): Option[String] = {
    val got = digest.split(",").map(_.split("=")).map(a => a(0) -> a(1)).toMap
    val bad = expected.collect { case (k, v) if got.get(k).forall(_ != v.toString) =>
      s"$k=${got.getOrElse(k, "missing")} (replica $v)" }
    val failed = if (got.get("passed").contains("true")) Nil else Seq("validation did not pass")
    Some(bad.toSeq ++ failed).filter(_.nonEmpty).map(_.mkString("; "))
  }
}

/** Repeated full SRI ETL runs: write-heavy (dim fan-out, J2/J3 fan-out
  * joins, fact layout sort, partitioned write).
  */
final class SriEtl(in: Inputs) extends Workload(in) {
  private var runs = 0
  private val ratios = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def check(op: Op, r: OpResult): Option[String] = Workload.countErrors(in.expected, r.digest)

  def ops: Seq[Op] = Seq(Op("etl_run", "etl.run", () => {
    runs += 1
    val dir = new File(in.work, s"warehouse-$runs")
    try {
      val (_, r) = Workload.runEtl(this, dir)
      ratios += r.layers("etl.write_bytes") / in.csv.length
      r
    } finally Workload.delete(dir)
  }))

  def storedBytesRatio: Double = Stats.median(ratios.toSeq)
}

/** The reference's analytics and DQ suite on a star schema that the ETL
  * built before set-up, plus the star/aggregate SparkEntry queries and
  * HITS, the job-count-bound iterative query over the same order tables.
  */
final class SriQueries(in: Inputs) extends Workload(in) {
  private val starDir = new File(in.work, "star")
  private var wh: Warehouse = _
  private var ratio = 0.0

  /** The star schema, written once by the ETL's own code. */
  override def buildInputs(): Unit = {
    val (_, r) = Workload.runEtl(this, starDir)
    setupError = Workload.countErrors(in.expected, r.digest)
    ratio = r.layers("etl.write_bytes") / in.csv.length
  }

  /** Opens the star through the warehouse layer (one schema read per table). */
  override def prepare(): Unit = {
    wh = ParquetWarehouse(spark, starDir.getPath, Map(Workload.Fact -> Seq("Anio")))
    (Workload.Fact +: Workload.DimTables).foreach(wh.read)
  }

  private def t(name: String): DataFrame = wh.read(name)

  override def check(op: Op, r: OpResult): Option[String] =
    if (op.name == "validate") Workload.countErrors(in.expected, r.digest) else None

  def ops: Seq[Op] = Seq(
    query("top_marcas", "queries.top_marcas")(Metrics.topMarcas(t(Workload.Fact), t("dim_vehiculo"))),
    query("registros_por_anio", "queries.registros_por_anio")(
      Metrics.registrosPorAnio(t(Workload.Fact), t("dim_tiempo"))),
    query("top_provincias", "queries.top_provincias")(
      Metrics.topProvincias(t(Workload.Fact), t("dim_ubicacion"))),
    query("dashboard", "queries.dashboard")(
      Metrics.dashboard(t(Workload.Fact), t("dim_tiempo"), t("dim_vehiculo"), t("dim_ubicacion"))),
    Op("validate", "etl.validate", () => {
      val r = Validation.validate(t("dim_tiempo"), t("dim_vehiculo"), t("dim_transaccion"),
        t("dim_ubicacion"), t(Workload.Fact))
      new OpResult(Workload.reportDigest(r), r.factRows)
    }),
    sparkEntry("q04_join_lookup"),
    sparkEntry("q05_star_join"),
    sparkEntry("q18_rollup"),
    sparkEntry("q35_sql_star_join"),
    sparkEntry("q162_hits"))

  def storedBytesRatio: Double = ratio

  override def oracleTables: Map[String, String] =
    (Workload.Fact +: Workload.DimTables).map(n => n -> new File(starDir, n).getPath).toMap
}

/** Curation plus the iterative / dedup / fuzzy document and graph
  * queries; bypasses the ETL layer entirely. q187 runs q121's
  * encode-and-pack chain after training its merges, so it stands for both.
  */
final class DocOps(in: Inputs) extends Workload(in) {
  private var runs = 0
  private val ratios = scala.collection.mutable.ArrayBuffer.empty[Double]
  private def docsFile = new File(in.tables, "documents.parquet")

  def ops: Seq[Op] = Op("curate", "operators.curate_op", () => curate()) +:
    Seq("q126_fuzzy_name_join_t2", "q159_lsa_topics", "q116_pagerank",
      "q187_bpe_sampled_train").map(sparkEntry)

  /** `CurateMain.curate` and the CLI's split/shard parquet write. */
  private def curate(): OpResult = {
    runs += 1
    val out = new File(in.work, s"curated-$runs")
    try {
      val t0 = System.nanoTime()
      val (sharded, counts) = CurateMain.curate(spark, spark.read.parquet(docsFile.getPath), 8)
      val t1 = System.nanoTime()
      sharded.write.mode("overwrite").partitionBy("split", "shard").parquet(out.getPath)
      val t2 = System.nanoTime()
      ratios += Workload.dirBytes(out)._1.toDouble / docsFile.length
      val input = counts("input").toDouble
      new OpResult(counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","), counts("kept"), Map(
        "operators.curate_s" -> (t1 - t0) / 1e9,
        "operators.curate_write_s" -> (t2 - t1) / 1e9,
        "operators.near_dup_frac" -> counts.getOrElse("dropped_near_dup", 0L) / input,
        "operators.kept_frac" -> counts("kept") / input))
    } finally Workload.delete(out)
  }

  override def check(op: Op, r: OpResult): Option[String] =
    if (op.name != "curate") None
    else {
      // drops are accounted: every input row is kept or has one reason
      val c = r.digest.split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
      val accounted = c.filter(_._1.startsWith("dropped_")).values.sum + c("kept")
      if (accounted == c("input")) None else Some(s"curate manifest does not add up: $c")
    }

  def storedBytesRatio: Double = Stats.median(ratios.toSeq)
}

object Digest {
  /** Collects `df` and hashes its rows order-independently. Doubles are
    * rounded to 9 significant digits so last-bit summation-order noise
    * cannot flip the digest.
    */
  def collect(df: DataFrame): OpResult = {
    val rows = df.collect()
    new OpResult({
      var h = 0L
      rows.foreach(r => h += scala.util.hashing.MurmurHash3.stringHash(canon(r)))
      s"${rows.length}:$h"
    }, rows.length.toLong, output = Some((df.schema, rows)))
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
      .sorted.mkString("{", "\u0001", "}")
    case other => other.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
