package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference interleave in plain Scala. */
  private def zRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).map { i =>
      (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
    }.reduce(_ | _)

  test("zValue matches the bit-interleave reference on edge values") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L), (0L, 65535L),
      (65535L, 65535L), (12345L, 54321L))
    val out = cases.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue(col("a"), col("b"), 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (a, b) =>
      assert(out((a, b)) === zRef(a, b, 16), s"($a,$b)")
    }
    // full 16-bit interleave peaks at 2^32-1
    assert(out((65535L, 65535L)) === (1L << 32) - 1)
  }

  test("zValue on IntegerType input does not wrap at high bits") {
    val out = Seq((65535, 65535)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 16)).collect().head.getLong(0)
    assert(out === (1L << 32) - 1, "int inputs must widen before shifting")
  }

  test("fileCount targets the file size: the count tracks plan bytes") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val bytes = li.queryExecution.optimizedPlan.stats.sizeInBytes
    // huge target -> exactly one file
    assert(Layout.fileCount(li, Long.MaxValue) === 1)
    // small target -> ceil(bytes/target) files
    val target = (bytes / 4).toLong.max(1L)
    val want = ((bytes + target - 1) / target).toInt
    assert(Layout.fileCount(li, target) === want, s"planBytes=$bytes target=$target")
  }

  test("fileCount clamps a statistic-less plan to the shared backstop") {
    // an RDD-backed relation without statistics reads as
    // spark.sql.defaultSizeInBytes: unclamped, a 1 KB target asks for
    // millions of partitions
    val rdd = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)))
    val df = spark.createDataFrame(rdd, new org.apache.spark.sql.types.StructType().add("x", "long"))
    val cap = math.max(64, spark.sessionState.conf.numShufflePartitions * 8)
    assert(Layout.fileCount(df, 1024L) === cap)
  }

  test("clusterBy: files within a partitioned write carry disjoint cluster ranges") {
    // fact-shaped table: 4 years × skewed marcas; cluster on (anio, marca),
    // then write partitioned by anio — every file inside a year directory
    // must cover a contiguous, non-overlapping marca slice (the BigQuery
    // clustering_fields contract: lexicographic block sort)
    val marcas = Seq("AUDI", "BMW", "CHEVROLET", "FIAT", "FORD", "HYUNDAI", "KIA", "TOYOTA")
    val df = spark.range(0, 8000).select(
      col("id"),
      (col("id") % 4 + 2020).as("anio"),
      element_at(typedLit(marcas), (pmod(col("id") * 37, lit(8)) + 1).cast("int")).as("marca"))
    // tiny target size forces multiple range partitions (files)
    val out = Layout.clusterBy(df, Seq("anio", "marca"), Layout.fileCount(df, 16 * 1024))
    assert(out.count() === 8000L, "clustering must not drop or duplicate rows")
    val tmp = s"${java.nio.file.Files.createTempDirectory("graft-cluster")}/fact"
    out.write.partitionBy("anio").parquet(tmp)
    for (yearDir <- new java.io.File(tmp).listFiles().filter(_.getName.startsWith("anio="))) {
      val files = yearDir.listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
      val ranges = files.map { f =>
        val r = spark.read.parquet(f).agg(min("marca"), max("marca")).head()
        (r.getString(0), r.getString(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) =>
          assert(lo2 >= hi, s"overlapping marca ranges in $yearDir: $hi vs $lo2")
        case _ =>
      }
    }
  }

  test("clusterBy tiebreak splits a dominant equal key across tasks (skew-proof)") {
    // 95% of rows share ONE (anio, marca) value — without the tiebreak a
    // range partitioner puts the whole group in a single task (equal keys
    // are unsplittable); with it, the group spreads while files keep
    // non-overlapping (anio, marca) ranges
    val df = spark.range(0, 20000).select(
      col("id"),
      lit(2024L).as("anio"),
      when(col("id") % 20 === 0, lit("ZOTYE")).otherwise(lit("CHEVROLET")).as("marca"))
    val out = Layout.clusterBy(df, Seq("anio", "marca"),
      Layout.fileCount(df, 32 * 1024), tiebreakCol = Some("id"))
    val perPartition = out.groupBy(spark_partition_id().as("p"))
      .agg(count(lit(1)).as("n"), countDistinct(col("marca")).as("m"))
      .collect()
    assert(perPartition.length > 2, "the dominant key must spread over several tasks")
    val biggest = perPartition.map(_.getAs[Long]("n")).max
    assert(biggest < 19000L * 0.95,
      s"one task still holds nearly the whole dominant group ($biggest rows)")
  }
}
