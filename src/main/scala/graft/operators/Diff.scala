package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot diff — the data-versioning primitive: classify every key of
  * two table snapshots as added / removed / changed / unchanged. What a
  * warehouse uses to audit a reload (the reference's truncate-reload
  * pattern destroys this information; diffing old vs new recovers it),
  * to build a CDC feed out of full snapshots, and to verify a migration.
  *
  * Plan shape: each side reduces to (key, row-digest) in its scan
  * projection, then ONE full-outer equi-join on the key decides the
  * class. The digest is a single md5 over the null-sentineled compare
  * columns, so the join carries 2 columns per row regardless of table
  * width, and the comparison is one string equality instead of N
  * null-safe column compares.
  *
  * Scale: one key-shuffle per side (or NO exchange when both snapshots
  * are bucketed by the key on disk — the [[graft.etl.Warehouse]] bucketed
  * path gives a zipped sort-merge join with zero shuffles). Output is
  * key + class; the caller aggregates or filters `unchanged` out before
  * materializing — at 100 TB the interesting classes are a tiny
  * fraction, the join never materializes more than the digest stream.
  */
object Diff {

  /** One column per row: md5 over the compare columns with nulls mapped
    * to a sentinel no real cast-to-string value produces, and a
    * field separator so ("ab","c") never collides with ("a","bc").
    */
  private def rowDigest(compareCols: Seq[String]): Column =
    md5(concat_ws("",
      compareCols.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*))

  /** (keyCols..., change) for every key present in either snapshot;
    * change ∈ added | removed | changed | unchanged (relative to `oldDf`
    * → `newDf`). Keys must be unique per snapshot (enforce upstream —
    * duplicate keys make "the row for key k" ill-defined).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val o = oldDf.select(keyCols.map(col) :+ rowDigest(compareCols).as("__old_h"): _*)
    val n = newDf.select(keyCols.map(col) :+ rowDigest(compareCols).as("__new_h"): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("change",
        when(col("__old_h").isNull, "added")
          .when(col("__new_h").isNull, "removed")
          .when(col("__old_h") =!= col("__new_h"), "changed")
          .otherwise("unchanged"))
      .select(keyCols.map(col) :+ col("change"): _*)
  }
}
