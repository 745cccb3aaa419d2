package graft.operators

import graft.SparkTestBase

class ProfileSpec extends SparkTestBase {
  import spark.implicits._

  private val df = Seq(
    (1L, Some("a"), Some(10.5)),
    (2L, Some("b"), None),
    (3L, None, Some(2.0)),
    (4L, Some("a"), Some(10.5))
  ).toDF("id", "s", "v")

  test("profile: counts, nulls, distincts, typed min/max per column") {
    val out = Profile.profile(df, Seq("id", "s", "v")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out("id") === ((4L, 0L, 4L, "1", "4")))
    assert(out("s") === ((4L, 1L, 2L, "a", "b")))
    // numeric min/max computed on the DOUBLE, then stringified — not
    // lexicographic ("10.5" < "2.0" as strings)
    assert(out("v") === ((4L, 1L, 2L, "2.0", "10.5")))
  }

  test("profile: approx mode keeps schema and exact null counts") {
    val out = Profile.profile(df, Seq("s"), exact = false).collect().head
    assert(out.getString(0) === "s")
    assert(out.getLong(1) === 4L && out.getLong(2) === 1L)
    // HLL on 2 distincts is exact in practice
    assert(out.getLong(3) === 2L)
    // the approx form swaps in HLL: it must NOT plan the multi-distinct
    // Expand the exact form needs
    val plan = Profile.profile(df, Seq("s", "v"), exact = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"approx profile regressed to the Expand multi-distinct plan:\n$plan")
  }

  test("profile plans a single scan of the input") {
    val plan = Profile.profile(df, Seq("id", "s", "v"))
      .queryExecution.executedPlan.toString
    val scans = "LocalTableScan".r.findAllIn(plan).length
    assert(scans === 1, s"expected one scan, plan:\n$plan")
  }

  test("histogram: known values land in the right buckets, max in the last") {
    import spark.implicits._
    val d = Seq(0.0, 1.0, 2.5, 5.0, 9.9, 10.0).toDF("x")
    val out = Profile.histogram(d, "x", 4).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Double]("lo_edge"), r.getAs[Double]("hi_edge"), r.getAs[Long]("n_rows"))).toMap
    // range [0,10], width 2.5: 0,1→b0; 2.5→b1; 5.0→b2; 9.9,10.0→b3
    assert(out(0L) === ((0.0, 2.5, 2L)))
    assert(out(1L) === ((2.5, 5.0, 1L)))
    assert(out(2L) === ((5.0, 7.5, 1L)))
    assert(out(3L) === ((7.5, 10.0, 2L)))
  }

  test("histogram: constant column degenerates to one bucket, nulls excluded") {
    import spark.implicits._
    val d = Seq(Some(5.0), Some(5.0), None).toDF("x")
    val out = Profile.histogram(d, "x", 10).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("bucket") === 0L)
    assert(out.head.getAs[Long]("n_rows") === 2L)
  }

  test("histogram counts sum to the non-null row count") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val out = Profile.histogram(orders, "o_totalprice", 20)
    val total = out.agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0)
    assert(total === orders.where("o_totalprice IS NOT NULL").count())
  }

  test("iqrOutlierStats: Tukey fences from exact interpolated quartiles") {
    import spark.implicits._
    // 1..100 plus one far point: p25 = 26, p75 = 76 (linear interpolation
    // at rank (n-1)*q over n=101 sorted values), IQR = 50 -> fences
    // [-49, 151]; only 1000 falls outside
    val d = ((1 to 100).map(v => ("g", v)) :+ (("g", 1000))).toDF("grp", "v")
    val out = Profile.iqrOutlierStats(d, "grp", "v").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_rows") === 101L)
    assert(r.getAs[Long]("n_outliers") === 1L)
    assert(r.getAs[Double]("lo_fence") === -49.0)
    assert(r.getAs[Double]("hi_fence") === 151.0)
  }

  test("iqrOutlierStats: nulls excluded, k=0 degenerates to the IQR itself") {
    import spark.implicits._
    val d = Seq(("a", Some(1)), ("a", Some(2)), ("a", Some(3)), ("a", Some(4)), ("a", None))
      .toDF("grp", "v")
    val out = Profile.iqrOutlierStats(d, "grp", "v", k = 0.0).collect()
    assert(out.length === 1)
    val r = out.head
    // p25 = 1.75, p75 = 3.25; with k=0 the fences ARE the quartiles:
    // values 1 and 4 fall outside, nulls don't count
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Long]("n_outliers") === 2L)
    assert(r.getAs[Double]("lo_fence") === 1.75)
    assert(r.getAs[Double]("hi_fence") === 3.25)
  }

  test("robustScale: hand-computed median/MAD z-scores; the outlier cannot move them") {
    // [1..9, 1000]: med = 5.5, MAD = 2.5 → z(1000) = 397.8, z(1) = -1.8
    val df = ((1L to 9L).map(i => (i, i.toDouble)) ++ Seq((10L, 1000.0)))
      .toDF("id", "v")
    val out = Profile.robustScale(df, "id", "v", fence = 3.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getAs[java.lang.Double]("z"), r.getLong(3)))).toMap
    assert(out(10L) === ((1000.0, 397.8, 1L)))
    assert(out(1L) === ((1.0, -1.8, 0L)))
    assert(out(9L) === ((9.0, 1.4, 0L)))
    assert(out.values.count(_._3 == 1L) === 1, "only the planted outlier flags")
  }

  test("robustScale: zero MAD yields null z and no flags; nulls are excluded") {
    def d(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
    val df = Seq((1L, d(5.0)), (2L, d(5.0)), (3L, d(5.0)), (4L, d(1.0)),
      (5L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "v")
    val out = Profile.robustScale(df, "id", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[java.lang.Double]("z"), r.getLong(3)))).toMap
    assert(out.size === 4, "the null row drops")
    assert(out.values.forall { case (z, f) => z == null && f == 0L },
      "degenerate MAD=0 fails visibly, never divides")
  }
}
