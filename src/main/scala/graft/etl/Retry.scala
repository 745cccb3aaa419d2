package graft.etl

import scala.concurrent.duration.{Duration, DurationInt}

/** Per-task retry policy — the D2 row of SURVEY §2.11 (ref
  * `dags/sri_vehiculos_etl_dag.py:26-27`: every Airflow task runs with
  * `retries: 2, retry_delay: 5 minutes`). The reference delegates this to
  * the orchestrator; the engine carries its own executor-side equivalent
  * so a scheduled run without Airflow (cron + [[SriMain]]) gets the same
  * at-most-(1+retries) semantics per STAGE.
  *
  * Semantics, matching Airflow's task contract:
  *   - a task is retried only on failure, up to `retries` additional
  *     attempts, sleeping `delay` between attempts (fixed delay — what
  *     the reference declares; no exponential creep it never asked for);
  *   - each attempt is logged with its attempt number and cause;
  *   - the LAST failure propagates when attempts are exhausted — never a
  *     swallowed error (a pipeline must fail loudly, ref D3/D4);
  *   - fatal JVM errors (OOM etc.) are NOT retried — rerunning a task in
  *     a poisoned JVM hides the real failure.
  *
  * The sleeper is injectable (the F10 fixed-clock doctrine) so specs
  * assert the retry schedule without wall-clock sleeps. Idempotence of
  * the retried work comes from the warehouse layer: every write is
  * truncate-and-reload (S2), so a stage that failed mid-write re-runs
  * cleanly — the same property the reference's WRITE_TRUNCATE loads
  * give its Airflow retries.
  */
object Retry {

  final case class Policy(retries: Int = 2, delay: Duration = 5.minutes) {
    require(retries >= 0, s"retries must be >= 0, got $retries")
  }

  /** True when the failure is a deliberate cancellation rather than a
    * task fault: an [[InterruptedException]] anywhere in the cause chain
    * (the pool's cancel-on-first-failure interrupt), or a SparkException
    * raised by job/job-group cancellation. Retrying a cancelled sibling
    * stage would re-run a write the caller just asked to abandon — and
    * sleeping 5 minutes on it first.
    */
  private def isCancellation(e: Throwable): Boolean = {
    var t: Throwable = e
    val seen = scala.collection.mutable.Set.empty[Throwable]
    while (t != null && seen.add(t)) {
      t match {
        case _: InterruptedException => return true
        // structured signal first: Spark 4 tags cancellations with an
        // error condition; only exceptions WITHOUT one (older message-only
        // shapes) fall back to the wording heuristic, so a task fault
        // whose structured condition merely mentions "cancel" in prose
        // keeps its retries
        case s: org.apache.spark.SparkThrowable if s.getCondition != null =>
          val c = s.getCondition
          if (c == "SPARK_JOB_CANCELLED" || c == "OPERATION_CANCELED") return true
        case s: org.apache.spark.SparkException
            if Option(s.getMessage).exists(_.toLowerCase.contains("cancel")) =>
          return true
        case _ =>
      }
      t = t.getCause
    }
    false
  }

  /** Run `task`, retrying per `policy`. Returns the first successful
    * result; throws the final failure once attempts are exhausted.
    * `onAttempt(attempt, error)` fires before each RETRY sleep — attempt
    * numbering is 1-based over the failed attempt being reported.
    *
    * Only [[scala.util.control.NonFatal]] failures are retried — fatal
    * JVM errors propagate untouched, and [[InterruptedException]] is
    * rethrown with the interrupt flag RESTORED (a cancelled task must
    * stay cancelled, never be swallowed into a retry sleep). Spark
    * job-cancellation exceptions are likewise non-retryable (see
    * [[isCancellation]]).
    */
  def withRetries[T](name: String, policy: Policy = Policy(),
                     sleeper: Duration => Unit = d => Thread.sleep(d.toMillis),
                     onAttempt: (Int, Throwable) => Unit = (_, _) => ())(task: => T): T = {
    val log = org.apache.log4j.Logger.getLogger(getClass)
    var attempt = 1
    while (true) {
      try return task
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case scala.util.control.NonFatal(e) =>
          if (isCancellation(e)) {
            log.warn(s"[retry] task '$name' was cancelled; not retrying", e)
            throw e
          }
          if (attempt > policy.retries) {
            log.error(s"[retry] task '$name' failed attempt $attempt/${policy.retries + 1}; giving up", e)
            throw e
          }
          log.warn(s"[retry] task '$name' failed attempt $attempt/${policy.retries + 1}; " +
            s"retrying in ${policy.delay}", e)
          onAttempt(attempt, e)
          sleeper(policy.delay)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
