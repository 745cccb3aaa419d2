package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.SparkTestBase
import graft.etl.{ManifestWarehouse, ParquetWarehouse}

/** The schema cache of [[Parquet.read]]: a repeated read runs no job, and
  * it never serves a schema the files or the settings no longer give.
  */
class ParquetSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-parquet").toString

  /** `f`'s value and the Spark jobs it started, counted on a drained bus. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = f
      ListenerBridge.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  test("a second read of the same files runs no Spark job") {
    val p = s"$tmp/again"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(p)
    val (first, inferJobs) = jobsOf(Parquet.read(spark, p).schema)
    assert(inferJobs > 0, "the first read infers the footer with a job")
    val (second, jobs) = jobsOf(Parquet.read(spark, p).schema)
    assert(jobs === 0)
    assert(second === first)
    // the schema follows from the files and settings, not the session
    assert(jobsOf(Parquet.read(spark.newSession(), p).schema) === (first, 0))
    assert(rows(Parquet.read(spark, p)) === Set(Seq(1L, "a"), Seq(2L, "b")))
  }

  test("overwriting the path with another schema is read with the new schema") {
    val p = s"$tmp/rewrite"
    Seq((1L, "a")).toDF("id", "s").write.parquet(p)
    assert(Parquet.read(spark, p).schema.map(f => (f.name, f.dataType)) ===
      Seq("id" -> LongType, "s" -> StringType))
    Seq(("x", 7)).toDF("name", "n").write.mode("overwrite").parquet(p)
    val back = Parquet.read(spark, p)
    assert(back.schema.map(f => (f.name, f.dataType)) === Seq("name" -> StringType, "n" -> IntegerType))
    assert(rows(back) === Set(Seq("x", 7)))
  }

  test("an Anio-partitioned directory reads like spark.read.parquet") {
    val p = s"$tmp/partitioned"
    spark.range(0, 40).select(col("id").as("ID_Registro"), (col("id") % 3 + 2019).as("Anio"),
      (col("id") * 1.5).as("Monto")).write.partitionBy("Anio").parquet(p)
    val expected = spark.read.parquet(p)
    val miss = Parquet.read(spark, p)
    val hit = Parquet.read(spark, p)
    assert(expected.columns.toSeq === Seq("ID_Registro", "Monto", "Anio"))
    assert(miss.schema === expected.schema)
    assert(hit.schema === expected.schema)
    assert(rows(hit) === rows(expected))
    assert(hit.where(col("Anio") === 2020).count() === expected.where(col("Anio") === 2020).count())
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-infers the schema") {
    val p = s"$tmp/nanos"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(s"$p/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Parquet.read(spark, p).schema("ts").dataType === LongType)
      assert(jobsOf(Parquet.read(spark, p).schema)._2 === 0)
      spark.conf.set(key, "false")
      // Spark cannot type TIMESTAMP(NANOS) without the flag: the re-inferred
      // read fails exactly as an inferring read does, instead of serving LONG
      val fresh = intercept[AnalysisException](spark.read.parquet(p))
      val cached = intercept[AnalysisException](Parquet.read(spark, p))
      assert(cached.getCondition === fresh.getCondition)
      spark.conf.set(key, "true")
      assert(Parquet.read(spark, p).collect().map(_.getLong(0)).toSeq === Seq(1700000000123456789L))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a missing path raises Spark's own error") {
    val p = s"$tmp/absent"
    val plain = intercept[AnalysisException](spark.read.parquet(p))
    val ours = intercept[AnalysisException](Parquet.read(spark, p))
    assert(ours.getCondition === "PATH_NOT_FOUND")
    assert(ours.getCondition === plain.getCondition)
  }

  test("a warehouse reads back what it wrote with the written schema and no job") {
    val fact = spark.range(0, 30).select(col("id").as("ID_Registro"),
      (col("id") % 3 + 2019).as("Anio"), col("id").cast("string").as("Placa"))
    val declared = fact.schema.map(f => (f.name, f.dataType))
    val pw = ParquetWarehouse(spark, s"$tmp/wh", Map("fact" -> Seq("Anio")))
    pw.write("fact", fact)
    val (back, jobs) = jobsOf(pw.read("fact"))
    assert(jobs === 0)
    assert(back.schema.map(f => (f.name, f.dataType)) === declared)
    assert(rows(back) === rows(fact))
    // nullability too equals an inferring read cast to the declared types
    val inferred = spark.read.parquet(s"$tmp/wh/fact")
    assert(back.schema === inferred.select(fact.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*).schema)

    val mw = ManifestWarehouse(spark, s"$tmp/mwh", Map("fact" -> Seq("Anio")))
    mw.write("fact", fact)
    val (mback, mjobs) = jobsOf(mw.read("fact"))
    assert(mjobs === 0)
    assert(mback.schema.map(f => (f.name, f.dataType)) === declared)
  }
}
