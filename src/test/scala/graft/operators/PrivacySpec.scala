package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PrivacySpec extends SparkTestBase {
  import spark.implicits._

  // 3 classes: ("US", "A") x 5 rows, ("US", "B") x 2, ("FR", "A") x 3
  private def fixture = (
    (1 to 5).map(i => (i, "US", "A")) ++
    (6 to 7).map(i => (i, "US", "B")) ++
    (8 to 10).map(i => (i, "FR", "A"))
  ).toDF("id", "country", "segment")

  test("classes report size and verdict at k") {
    val got = Privacy.kAnonymityClasses(fixture, Seq("country", "segment"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(("US", "A")) === ((5L, 1L)))
    assert(got(("US", "B")) === ((2L, 0L)))
    assert(got(("FR", "A")) === ((3L, 1L)))
  }

  test("a null quasi combination is its own class and gets judged") {
    val withNulls = fixture.unionByName(
      Seq((11, null.asInstanceOf[String], "A"), (12, null.asInstanceOf[String], "A"))
        .toDF("id", "country", "segment"))
    def nullClass(k: Int) = Privacy.kAnonymityClasses(withNulls, Seq("country", "segment"), k)
      .where(col("country").isNull).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // the two (null, "A") rows form one size-2 class: anonymous at k=2,
    // not at k=3, and never left without a verdict
    assert(nullClass(2) === Seq(("A", 2L, 1L)))
    assert(nullClass(3) === Seq(("A", 2L, 0L)))
  }

  test("l-diversity flags the homogeneous class k-anonymity would pass") {
    // ("US","A") x 5 all share sensitive "x" — k-anonymous at k=3 but
    // NOT 2-diverse; ("FR","A") x 3 carries two sensitive values
    val df = (
      (1 to 5).map(i => (i, "US", "A", "x")) ++
      Seq((8, "FR", "A", "x"), (9, "FR", "A", "y"), (10, "FR", "A", "y"))
    ).toDF("id", "country", "segment", "sensitive")
    val kOk = Privacy.kAnonymityClasses(df, Seq("country", "segment"), k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(kOk("US") === 1L && kOk("FR") === 1L)
    val lv = Privacy.lDiversityClasses(df, Seq("country", "segment"), "sensitive", l = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(lv("US") === ((1L, 0L)), "homogeneous class must fail diversity")
    assert(lv("FR") === ((2L, 1L)))
  }

  test("t-closeness: hand-computed ordered EMD, TVD, and verdicts") {
    // corpus values {1,2,3} uniform (2 each, n=6, m=3)
    //   class A [1,1,2,2]: p=(1/2,1/2,0), prefixes 1/6,1/3,0 -> EMD=1/4, TVD=1/3
    //   class B [3,3]:     p=(0,0,1),     prefixes -1/3,-2/3,0 -> EMD=1/2, TVD=2/3
    val df = Seq(
      ("A", 1L), ("A", 1L), ("A", 2L), ("A", 2L),
      ("B", 3L), ("B", 3L)).toDF("grp", "v")
    val out = Privacy.tClosenessClasses(df, Seq("grp"), "v", t = 0.3)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("m"), r.getAs[Double]("emd"),
          r.getAs[Double]("tvd"), r.getAs[Long]("close")))).toMap
    assert(out("A") === ((4L, 3L, 0.25, 1.0 / 3.0, 1L)))
    assert(out("B") === ((2L, 3L, 0.5, 2.0 / 3.0, 0L)))
  }

  test("t-closeness: ordered EMD sees distance where TVD cannot") {
    // both classes concentrate ALL mass on one value, so TVD is equal —
    // but the edge value is farther from the uniform corpus than the
    // middle value, and only the ordered prefix metric notices
    val df = Seq(
      ("edge", 1L), ("edge", 1L), ("mid", 2L), ("mid", 2L),
      ("pad", 1L), ("pad", 2L), ("pad", 3L), ("pad", 3L), ("pad", 3L)
    ).toDF("grp", "v") // corpus uniform: 3 of each value, n=9
    val rows = Privacy.tClosenessClasses(df, Seq("grp"), "v", t = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("emd"), r.getAs[Double]("tvd")))).toMap
    assert(rows("edge")._2 === rows("mid")._2, "TVD blind to value order")
    assert(rows("edge")._1 > rows("mid")._1, "ordered EMD is not")
  }

  test("t-closeness: null sensitive values are excluded; m=1 degenerates to close") {
    val withNull = Seq(("A", java.lang.Long.valueOf(1L)),
      ("A", null.asInstanceOf[java.lang.Long]), ("B", java.lang.Long.valueOf(1L)))
      .toDF("grp", "v")
    val out = Privacy.tClosenessClasses(withNull, Seq("grp"), "v", t = 0.1)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("m"), r.getAs[Double]("emd"),
          r.getAs[Long]("close")))).toMap
    // the null row drops from class A's size; single corpus value => m=1,
    // every class trivially close with emd 0
    assert(out("A") === ((1L, 1L, 0.0, 1L)))
    assert(out("B") === ((1L, 1L, 0.0, 1L)))
  }

  test("t-closeness: a NULL quasi class matches its own value counts (null-safe grid join)") {
    // class NULL has the same [1,1,2,2] distribution as the hand-computed
    // class A above; a plain equi-join on the quasi key would leave it
    // with cnt_cv = 0 everywhere and report it maximally distant
    val df = Seq(
      (Option("A"), 1L), (Option("A"), 1L), (Option("A"), 2L), (Option("A"), 2L),
      (Option.empty[String], 1L), (Option.empty[String], 1L),
      (Option.empty[String], 2L), (Option.empty[String], 2L),
      (Option("B"), 3L), (Option("B"), 3L), (Option("B"), 3L), (Option("B"), 3L)
    ).toDF("grp", "v")
    val out = Privacy.tClosenessClasses(df, Seq("grp"), "v", t = 0.5)
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("emd"), r.getAs[Double]("tvd")))).toMap
    assert(out(Option("A")) === out(Option.empty[String]),
      "identical distributions must score identically regardless of NULL quasi keys")
    assert(out(Option.empty[String])._3 < 1.0,
      "a NULL class overlapping the corpus must not be reported maximally distant")
  }

  test("single quasi column and k=1 degenerate cases") {
    val classes = Privacy.kAnonymityClasses(fixture, Seq("country"), k = 1)
    assert(classes.where(col("anonymous") === 0L).count() === 0)
    assert(classes.count() === 2)
  }
}
