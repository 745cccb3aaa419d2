package graft

/** Round-6 regression pin: `CurateMain.main`'s `getOrCreate` JOINED the
  * test JVM's shared session and then stopped it, cascading "stopped
  * SparkContext" failures across 21 suites (and the same hazard applies
  * to any host application embedding a CLI main). Every graft `main` now
  * acquires its session through [[Sessions.acquire]] and releases only a
  * session it created. Pin that: each main, called TWICE inside a JVM
  * whose session is live, must leave that session running and usable.
  */
class MainSessionSafetySpec extends SparkTestBase {

  private val sf0001 = "/root/testdata/sf0.001"

  private def assertSessionUsable(label: String): Unit = {
    assert(!spark.sparkContext.isStopped, s"$label stopped the host session")
    assert(spark.range(3).count() === 3L, s"host session unusable after $label")
    // a joined main must not RECONFIGURE the host either: getOrCreate
    // applies builder configs onto an existing session's runtime conf
    // (the round-7 bucketed-scan flake: a main silently flipped the
    // shared session's shuffle.partitions from 4 to 32 for every suite
    // that ran after it) — Sessions.acquire never consults the builder
    // when a live session exists, so the host conf stays untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4",
      s"$label reconfigured the host session's shuffle partitions")
  }

  test("CurateMain.main twice leaves the host session usable") {
    val docs = s"$sf0001/documents.parquet"
    val out1 = java.nio.file.Files.createTempDirectory("curate-safety-a").toString
    val out2 = java.nio.file.Files.createTempDirectory("curate-safety-b").toString
    CurateMain.main(Array(docs, out1, "2"))
    CurateMain.main(Array(docs, out2, "2"))
    assertSessionUsable("CurateMain.main")
  }

  test("SriMain.main twice leaves the host session usable") {
    val csv = "/root/reference/csv_file/VEHICULOS_SRI.csv"
    val wh1 = java.nio.file.Files.createTempDirectory("sri-safety-a").toString
    val wh2 = java.nio.file.Files.createTempDirectory("sri-safety-b").toString
    graft.etl.SriMain.main(Array(csv, wh1, "2026-01-15"))
    graft.etl.SriMain.main(Array(csv, wh2, "2026-01-15"))
    assertSessionUsable("SriMain.main")
  }

  test("ScaleUp.main twice leaves the host session usable") {
    val out1 = java.nio.file.Files.createTempDirectory("scaleup-safety-a").toString
    val out2 = java.nio.file.Files.createTempDirectory("scaleup-safety-b").toString
    graft.tools.ScaleUp.main(Array(sf0001, out1, "2"))
    graft.tools.ScaleUp.main(Array(sf0001, out2, "2"))
    assertSessionUsable("ScaleUp.main")
  }

  test("Explain.main twice leaves the host session usable") {
    Explain.main(Array("q01_scalar_agg"))
    Explain.main(Array("q15_case_bucket"))
    assertSessionUsable("Explain.main")
  }
}
