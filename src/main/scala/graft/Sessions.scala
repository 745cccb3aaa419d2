package graft

import org.apache.spark.sql.SparkSession

/** Session ownership for CLI `main`s.
  *
  * `SparkSession.builder().getOrCreate()` JOINS an already-active session
  * when one exists in the JVM (it does NOT build a fresh one) — and it
  * also APPLIES the builder's `.config()` values onto that session's
  * runtime conf. So a `main` embedded in a host JVM (a test runner, an
  * application calling the CLI programmatically) must neither stop the
  * host's session NOR reconfigure it: an unconditional `spark.stop()`
  * kills the host's work, and a joined `getOrCreate` silently clobbers
  * host settings like `spark.sql.shuffle.partitions` for everything that
  * runs afterwards. Every graft entrypoint therefore acquires its session
  * through [[acquire]] — which returns a pre-existing live session
  * UNTOUCHED (the builder is never consulted) and only builds when no
  * session is live — and releases through [[release]], which stops ONLY a
  * session the entrypoint itself created.
  */
object Sessions {

  /** The live session of this JVM, if any (active on this thread or
    * registered as the JVM-wide default).
    */
  def liveSession: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filter(s => !s.sparkContext.isStopped)

  /** Acquire a session: returns `(session, owned)`. If a session is live,
    * it is returned AS IS — not stopped later, and not reconfigured (the
    * builder's configs are deliberately ignored; a guest does not edit
    * its host's conf). Otherwise the builder creates one and the caller
    * owns it.
    */
  def acquire(builder: SparkSession.Builder): (SparkSession, Boolean) =
    liveSession match {
      case Some(s) => (s, false)
      case None => (builder.getOrCreate(), true)
    }

  /** Stop `spark` iff `owned`. A joined (host-owned) session is left
    * running untouched.
    */
  def release(spark: SparkSession, owned: Boolean): Unit =
    if (owned) spark.stop()
}
