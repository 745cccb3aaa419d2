package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.Warehouse

/** Tracing from outside the engine. Every op runs with two thread-local
  * Spark properties: `graftbench.op` (the op) and `graftbench.span` (the
  * layer inside it). Spark copies local properties into threads created
  * by the submitting thread (the engine's fan-out pools) and onto the
  * jobs they submit, so [[SpanListener]] can attribute every job, stage
  * and task to the op and span that caused it.
  */
object Trace {
  val OpKey = "graftbench.op"
  val SpanKey = "graftbench.span"

  def withProperty[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** Drops whatever an op left cached, so every round starts alike. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Block until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.Bus.drain(sc)
}

/** Engine counters per op, per span, and in total. Events arrive on the
  * listener-bus thread; readers call [[Trace.drain]] first.
  */
final class SpanListener extends SparkListener {

  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRows, resultBytes = 0L
    var peakTaskMem = 0L
    var skewSum = 0.0
    var skewStages = 0
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.HashMap.empty[String, Acc]
  private val jobKeys = mutable.HashMap.empty[Int, (Seq[String], Long)]
  private val stageKeys = mutable.HashMap.empty[Int, Seq[String]]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def acc(k: String): Acc = accs.getOrElseUpdate(k, new Acc)

  /** Time the listener itself has spent in callbacks: the trace's own cost. */
  @volatile private var busyNs = 0L
  def busySeconds: Double = busyNs / 1e9
  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  def reset(): Unit = synchronized {
    accs.clear(); jobKeys.clear(); stageKeys.clear(); stageTaskMs.clear()
  }

  /** Counters for `"total"`, `"op:<name>"` or `"span:<name>"`. */
  def get(key: String): Acc = synchronized(accs.getOrElse(key, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val keys = Seq("total") ++ prop(Trace.OpKey).map("op:" + _) ++ prop(Trace.SpanKey).map("span:" + _)
    jobKeys(e.jobId) = (keys, e.time)
    e.stageIds.foreach(s => stageKeys(s) = keys)
    keys.foreach(acc(_).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobKeys.remove(e.jobId).foreach { case (keys, start) =>
      keys.foreach(acc(_).jobIntervals += ((start, e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val id = e.stageInfo.stageId
    val keys = stageKeys.getOrElse(id, Seq("total"))
    keys.foreach(acc(_).stages += 1)
    stageTaskMs.remove(id).filter(_.size >= 4).foreach { ms =>
      val mean = ms.sum.toDouble / ms.size
      if (mean > 0) keys.foreach { k => val a = acc(k); a.skewSum += ms.max / mean; a.skewStages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val keys = stageKeys.getOrElse(e.stageId, Seq("total"))
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    if (m != null) stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    keys.foreach { k =>
      val a = acc(k)
      a.tasks += 1
      if (failed) a.failedTasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        a.resultBytes += m.resultSize
        a.peakTaskMem = math.max(a.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  /** Seconds of [start, end] (epoch ms) during which no job of `key` ran. */
  def gapSeconds(key: String, startMs: Long, endMs: Long): Double = {
    val clipped = get(key).jobIntervals
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    math.max(0L, endMs - startMs - busy) / 1000.0
  }
}

/** Times every `write`/`read` that `SriPipeline.runRaw` makes through the
  * public [[Warehouse]] trait and tags the Spark jobs each call submits
  * with an `etl.*` span. Calls can come from the dim fan-out's threads.
  * The fact readback is the last warehouse call of a run: everything
  * after it is validation, so the span switches to `etl.validate`.
  */
final class TracedWarehouse(inner: Warehouse, sc: SparkContext, factTable: String) extends Warehouse {
  final case class Call(kind: String, table: String, startNs: Long, endNs: Long)
  private val calls = mutable.ArrayBuffer.empty[Call]

  def log: Seq[Call] = calls.synchronized(calls.toList)

  private def timed[T](kind: String, table: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.withProperty(sc, Trace.SpanKey, s"etl.$kind.$table")(body)
    finally {
      val t1 = System.nanoTime()
      calls.synchronized(calls += Call(kind, table, t0, t1))
    }
  }

  override def write(name: String, df: DataFrame): Unit = timed("write", name)(inner.write(name, df))

  override def read(name: String): DataFrame = {
    val df = timed("read", name)(inner.read(name))
    if (name == factTable) sc.setLocalProperty(Trace.SpanKey, "etl.validate")
    df
  }
}

object Sessions {
  /** A fresh local session configured like the engine's bench main. */
  def start(cpus: Int, work: java.io.File): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
