package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session per suite; config mirrors Verify/Bench. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** `f`'s value and how many cache entries made while it ran are still
    * cached after it. Entries of earlier calls may leave the map
    * meanwhile (it holds RDDs weakly), so the change in the size of
    * `getPersistentRDDs` alone would under-count.
    */
  def leftCached[T](f: => T): (T, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = f
    (out, (spark.sparkContext.getPersistentRDDs.keySet -- before).size)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
