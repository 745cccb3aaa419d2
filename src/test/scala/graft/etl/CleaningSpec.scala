package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class CleaningSpec extends SparkTestBase {
  import spark.implicits._

  test("upperTrim reproduces pandas astype(str) artifacts") {
    val df = Seq(Some("  hola "), Some("x"), None, Some("2025.0")).toDF("s")
    val out = df.select(Cleaning.upperTrim(col("s"))).collect().map(_.getString(0))
    assert(out.toSeq === Seq("HOLA", "X", "NAN", "2025.0"))
  }

  test("floatKeyToString matches pandas float64 repr") {
    val df = Seq(Some(10701.0), Some(101.5), None).toDF("x")
    val out = df.select(Cleaning.floatKeyToString(col("x"))).collect().map(_.getString(0))
    assert(out.toSeq === Seq("10701.0", "101.5", "nan"))
  }

  test("safeDate coerces M/d/yyyy and nulls bad values") {
    val df = Seq("12/28/2024", "1/5/2023", "garbage", "31/12/2024").toDF("d")
    val out = df.select(Cleaning.safeDate(col("d"))).collect()
      .map(r => if (r.isNullAt(0)) null else r.getDate(0).toString)
    assert(out.toSeq === Seq("2024-12-28", "2023-01-05", null, null))
  }
}
