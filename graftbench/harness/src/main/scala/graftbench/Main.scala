package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM, a single closed-loop client:
  *
  *   1. inputs: the first session, plus whatever the workload derives
  *      from the generated files (sri_queries' star schema), untimed;
  *   2. set-up, `setup-reps` times: a fresh SparkSession plus the
  *      workload's `prepare` (the median is `setup_s`);
  *   3. an untimed warm-up round, its ops run concurrently: each op's
  *      digest becomes the reference for the timed ops, it is checked
  *      against figures derived without graft, and query outputs are
  *      written for the DuckDB oracle;
  *   4. timed rounds for `seconds` (at least one). Untraced (`trace 0`)
  *      they give the end-to-end metrics. With `trace 1` traced and
  *      untraced rounds alternate, traced first; the traced ones give the
  *      per-layer metrics, and the pair bounds the trace's own overhead
  *      from above (the later round has had more JIT warm-up).
  *
  * Writes `result.json` into `work`; progress goes to stderr.
  * Usage: Main --workload W --work DIR --seconds S --trace 0|1 --cpus N
  *   --setup-reps K --csv F --source-rows N --tables DIR --expected F
  */
object Main {

  final case class Timed(op: Op, secs: Double, startMs: Long, endMs: Long,
                         result: Either[String, OpResult])

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def cpuNs = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def peakRssMb: Double = scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) {
    _.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
  /** Restarts the kernel's peak-RSS count, so it covers the timed rounds only. */
  private def resetPeakRss(): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")

  def progress(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work"))
    val traceMode = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val cpus = opt("cpus").toInt
    val expected = Json.parseCounts(scala.util.Using.resource(scala.io.Source.fromFile(opt("expected")))(_.mkString))
    val w = Workload(opt("workload"), Inputs(work, new File(opt("csv")), opt("source-rows").toLong,
      new File(opt("tables")), expected))

    // 1. inputs
    val t0 = System.nanoTime()
    w.spark = Sessions.start(cpus, work)
    w.buildInputs()
    progress(f"inputs: ${(System.nanoTime() - t0) / 1e9}%.2f s (first session included)")

    // 2. set-up
    val setups = (1 to opt("setup-reps").toInt).map { i =>
      Sessions.stop(w.spark)
      val (gc0, jit0, t0) = (gcMs, jitMs, System.nanoTime())
      w.spark = Sessions.start(cpus, work)
      val t1 = System.nanoTime()
      w.prepare()
      val t2 = System.nanoTime()
      progress(f"set-up $i: ${(t2 - t0) / 1e9}%.3f s (session ${(t1 - t0) / 1e9}%.3f s)")
      Map("setup_s" -> (t2 - t0) / 1e9, "sessions.start_s" -> (t1 - t0) / 1e9,
        "jvm.gc_s" -> (gcMs - gc0) / 1e3, "jvm.jit_s" -> (jitMs - jit0) / 1e3)
    }
    def setupMedian(k: String) = Stats.median(setups.map(_(k)))
    val spark = w.spark
    val sc = spark.sparkContext

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val attemptsByOp = mutable.LinkedHashMap.empty[String, Long]
    w.setupError.foreach(e => failures += s"inputs: $e")

    def runOp(op: Op, traced: Boolean): Timed = {
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val body = () => try Right(op.run()) catch {
        case scala.util.control.NonFatal(e) => Left(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val res =
        if (traced) Trace.withProperty(sc, Trace.OpKey, op.name)(Trace.withProperty(sc, Trace.SpanKey, op.metric)(body()))
        else body()
      Timed(op, (System.nanoTime() - t0) / 1e9, startMs, System.currentTimeMillis(), res)
    }
    def count(t: Timed): Unit = {
      attempted += 1
      attemptsByOp(t.op.name) = attemptsByOp.getOrElse(t.op.name, 0L) + 1
    }

    // 3. warm-up and verification
    val reference = mutable.HashMap.empty[String, String]
    val dumped = mutable.ArrayBuffer.empty[String]
    val warmPool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, cpus - 1))
    val warm = {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(warmPool)
      val all = scala.concurrent.Future.traverse(w.ops)(op => scala.concurrent.Future(runOp(op, traced = false)))
      try scala.concurrent.Await.result(all, scala.concurrent.duration.Duration.Inf)
      finally warmPool.shutdown()
    }
    warm.foreach { t =>
      count(t)
      t.result match {
        case Left(err) => failures += s"warm-up $err"
        case Right(r) =>
          reference(t.op.name) = r.digest
          w.check(t.op, r).foreach(e => failures += s"warm-up ${t.op.name}: $e")
          r.output.foreach { case (schema, rows) =>
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
              .write.mode("overwrite").parquet(new File(work, s"verify/${t.op.name}").getPath)
            dumped += t.op.name
          }
      }
      progress(f"warm-up ${t.op.name}: ${t.secs}%.2f s")
    }
    Trace.cleanup(spark)
    resetPeakRss()

    // 4. timed rounds
    val listener = new SpanListener
    final case class Round(traced: Boolean, wall: Double, cpu: Double, opSecs: Seq[Double],
                           layers: Map[String, Double])
    def round(traced: Boolean): Round = {
      if (traced) { listener.reset(); sc.addSparkListener(listener) }
      w.traced = traced
      val (cpu0, t0) = (cpuNs, System.nanoTime())
      val timed = w.ops.map(runOp(_, traced))
      timed.foreach(count)
      val (wall, cpu) = ((System.nanoTime() - t0) / 1e9, (cpuNs - cpu0) / 1e9)
      timed.foreach { t =>
        t.result match {
          case Left(err) => failures += err
          case Right(r) =>
            if (!reference.get(t.op.name).contains(r.digest))
              failures += s"${t.op.name}: digest ${r.digest} differs from the verified warm-up"
            else w.check(t.op, r).foreach(e => failures += s"${t.op.name}: $e")
        }
      }
      val cached = sc.getPersistentRDDs.size
      Trace.cleanup(spark)
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          Trace.drain(sc)
          sc.removeSparkListener(listener)
          val perOp = timed.flatMap { t =>
            val gap = listener.gapSeconds(s"op:${t.op.name}", t.startMs, t.endMs)
            val rows = t.result.toOption.filter(_.output.isDefined)
              .map(r => s"${t.op.metric}_rows" -> r.rows.toDouble)
            val record = Seq(s"${t.op.metric}_s" -> t.secs,
              s"${t.op.metric}_jobs" -> listener.get(s"op:${t.op.name}").jobs.toDouble,
              s"${t.op.metric}_gap_s" -> gap) ++ rows ++ t.result.toOption.toSeq.flatMap(_.layers)
            progress("trace " + Json.obj(("op" -> t.op.name) +: record.map { case (k, v) => k -> v }))
            record
          }
          val gapTotal = timed.map(t => listener.gapSeconds(s"op:${t.op.name}", t.startMs, t.endMs)).sum
          val a = listener.get("total")
          perOp.toMap ++ Map[String, Double](
            "driver.jobs" -> a.jobs, "driver.stages" -> a.stages, "driver.tasks" -> a.tasks,
            "driver.gap_s" -> gapTotal, "driver.result_bytes" -> a.resultBytes,
            "driver.cached_rdds_after" -> cached,
            "exec.task_run_s" -> a.runMs / 1e3, "exec.task_cpu_s" -> a.cpuNs / 1e9,
            "exec.gc_s" -> a.gcMs / 1e3,
            "exec.task_skew" -> (if (a.skewStages == 0) 1.0 else a.skewSum / a.skewStages),
            "exec.peak_task_mem_bytes" -> a.peakTaskMem, "exec.failed_tasks" -> a.failedTasks,
            "exchange.shuffle_write_bytes" -> a.shuffleWrite, "exchange.shuffle_read_bytes" -> a.shuffleRead,
            "exchange.fetch_wait_s" -> a.fetchWaitMs / 1e3, "exchange.spill_bytes" -> a.spill,
            "scan.input_bytes" -> a.inputBytes, "scan.input_rows" -> a.inputRows)
        }
      progress(f"round (${if (traced) "traced" else "untraced"}): $wall%.2f s wall, $cpu%.2f s cpu; " +
        timed.map(t => f"${t.op.name} ${t.secs}%.2f").mkString(", "))
      Round(traced, wall, cpu, timed.map(_.secs), layers)
    }

    val rounds = mutable.ArrayBuffer.empty[Round]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var nextTraced = traceMode
    while (elapsed < seconds || rounds.isEmpty || (traceMode && rounds.size < 2)) {
      rounds += round(nextTraced)
      if (traceMode) nextTraced = !nextTraced
    }

    val plain = rounds.filterNot(_.traced).toSeq
    val metrics: Map[String, Double] =
      if (!traceMode) Map(
        "setup_s" -> setupMedian("setup_s"),
        "wall_s" -> Stats.median(plain.map(_.wall)),
        "op_p50_s" -> Stats.median(plain.flatMap(_.opSecs)),
        "cpu_s" -> Stats.median(plain.map(_.cpu)),
        "peak_rss_mb" -> peakRssMb,
        "stored_bytes_ratio" -> w.storedBytesRatio)
      else {
        val traced = rounds.filter(_.traced).toSeq
        val keys = traced.flatMap(_.layers.keys).distinct
        keys.map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap ++ Map(
          "sessions.start_s" -> setupMedian("sessions.start_s"),
          "jvm.gc_s" -> setupMedian("jvm.gc_s"),
          "jvm.jit_s" -> setupMedian("jvm.jit_s"),
          "trace.overhead_frac" ->
            (Stats.median(traced.map(_.wall)) / Stats.median(plain.map(_.wall)) - 1),
          "trace.listener_s" -> listener.busySeconds)
      }

    val out = Json.obj(Seq(
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.toSeq,
      "attempts_by_op" -> attemptsByOp.toSeq,
      "verify" -> dumped.toSeq,
      "oracle_sql" -> dumped.toSeq.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)),
      "oracle_tables" -> w.oracleTables.toSeq,
      "rounds" -> rounds.size,
      "metrics" -> metrics.toSeq.sortBy(_._1)))
    java.nio.file.Files.writeString(new File(work, "result.json").toPath, out)
    Sessions.stop(spark)
  }
}

/** Minimal JSON writer and the one reader the harness needs. */
object Json {
  def obj(fields: Seq[(String, Any)]): String = fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Parses a flat `{"name": count, ...}` object. */
  def parseCounts(s: String): Map[String, Long] =
    "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap
}
