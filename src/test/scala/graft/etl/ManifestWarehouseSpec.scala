package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The object-store layout warehouse: generation prefixes + atomic
  * manifest commit must give WRITE_TRUNCATE-equivalent semantics —
  * readers always see exactly one complete committed generation, an
  * uncommitted (failed) write is invisible, and the ETL pipeline runs
  * against it unchanged with the golden counts intact.
  */
class ManifestWarehouseSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("write/read roundtrip preserves declared schema across instances") {
    val root = tmp("mwh-rt")
    val df = Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "name", "v")
    ManifestWarehouse(spark, root).write("t", df)
    // a FRESH instance (new session in production) must read the declared
    // schema from the manifest, not re-infer it (names, types, order;
    // nullability relaxes through cast, as in any parquet roundtrip)
    val back = ManifestWarehouse(spark, root).read("t")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().map(_.toString).toSeq ===
      df.orderBy("id").collect().map(_.toString).toSeq)
  }

  test("partitioned table keeps column order and types through the manifest") {
    val root = tmp("mwh-part")
    val wh = ManifestWarehouse(spark, root,
      partitionCols = Map("f" -> Seq("anio")))
    val df = Seq((1L, 2020L, "x"), (2L, 2021L, "y")).toDF("id", "anio", "tag")
    wh.write("f", df)
    val back = wh.read("f")
    // partition-column readback normally re-infers long→int and moves the
    // column to the end; the manifest schema restores both
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.where(col("anio") === 2020L).count() === 1L)
  }

  test("an uncommitted generation is invisible; commit flips atomically; vacuum reclaims") {
    val root = tmp("mwh-gen")
    val wh = ManifestWarehouse(spark, root)
    wh.write("t", Seq((1L, "old")).toDF("id", "tag"))
    // simulate a crashed writer: a newer generation prefix full of data
    // that never reached the manifest flip
    Seq((9L, "torn")).toDF("id", "tag")
      .write.parquet(s"$root/t/gen-000002")
    assert(wh.read("t").select("tag").collect().map(_.getString(0)).toSeq === Seq("old"),
      "reader must resolve the manifest, not the newest prefix")
    // a successful write claims the NEXT generation number and commits
    wh.write("t", Seq((2L, "new")).toDF("id", "tag"))
    assert(wh.read("t").select("tag").collect().map(_.getString(0)).toSeq === Seq("new"))
    wh.vacuum("t")
    val dirs = new java.io.File(s"$root/t").listFiles().map(_.getName).sorted.toSeq
    assert(dirs.filter(_.startsWith("gen-")) === Seq("gen-000003"),
      s"vacuum must keep only the committed generation, saw $dirs")
    assert(wh.read("t").count() === 1L, "vacuum must not touch the live generation")
  }

  test("vacuum retention: keepLast horizon holds for a lagging reader; in-flight prefixes survive") {
    val root = tmp("mwh-vac")
    val wh = ManifestWarehouse(spark, root)
    (1 to 3).foreach(i => wh.write("t", Seq((i.toLong, s"v$i")).toDF("id", "tag")))
    // a lagging reader resolves the CURRENT manifest (gen-3) and holds its
    // plan while a newer generation commits under it
    val lagging = wh.read("t")
    wh.write("t", Seq((4L, "v4")).toDF("id", "tag"))
    // an in-flight concurrent writer: a prefix ABOVE the live generation
    // that has not reached its manifest flip yet
    Seq((9L, "inflight")).toDF("id", "tag").write.parquet(s"$root/t/gen-000007")

    // keepLast=2 keeps gen-3 (the lagging reader's) + live gen-4; gen-1/2
    // collect; gen-7 must survive — it may be mid-write
    wh.vacuum("t", keepLast = 2)
    def gens() = new java.io.File(s"$root/t").listFiles().map(_.getName)
      .filter(_.startsWith("gen-")).sorted.toSeq
    assert(gens() === Seq("gen-000003", "gen-000004", "gen-000007"),
      s"retention horizon 2 + in-flight protection, saw ${gens()}")
    assert(lagging.select("tag").collect().map(_.getString(0)).toSeq === Seq("v3"),
      "the lagging reader's generation must still be fully readable after vacuum")
    assert(wh.read("t").select("tag").collect().map(_.getString(0)).toSeq === Seq("v4"))

    // tightening to keepLast=1 reclaims the lagging generation but STILL
    // never touches the in-flight prefix above live
    wh.vacuum("t", keepLast = 1)
    assert(gens() === Seq("gen-000004", "gen-000007"))
    // the orphan stays protected until the live generation PASSES it:
    // commits claim 5 and 6, then the claim loop skips the existing
    // gen-7 prefix and commits 8 — only now is the orphan below live
    // and collectable by a policy vacuum
    (5 to 7).foreach(i => wh.write("t", Seq((i.toLong, s"v$i")).toDF("id", "tag")))
    wh.vacuum("t", keepLast = 1)
    assert(gens() === Seq("gen-000008"), s"orphan collected once below live, saw ${gens()}")
    assert(wh.read("t").select("tag").collect().map(_.getString(0)).toSeq === Seq("v7"))
  }

  test("SriPipeline runs unchanged against the manifest warehouse; golden counts hold") {
    val root = tmp("mwh-sri")
    val wh = ManifestWarehouse(spark, root,
      partitionCols = Map("fact_registro_vehiculos" -> Seq("Anio")))
    val res = SriPipeline.run(spark, "/root/reference/csv_file/VEHICULOS_SRI.csv",
      wh, clock = java.time.LocalDate.of(2026, 1, 15))
    assert(res.validation.factRows === 91986L)
    assert(wh.read("fact_registro_vehiculos").count() === 91986L)
    // every table is readable back through its committed manifest
    for (t <- Seq("dim_tiempo", "dim_vehiculo", "dim_transaccion", "dim_ubicacion"))
      assert(wh.read(t).count() > 0L, s"$t unreadable through manifest")
  }
}
