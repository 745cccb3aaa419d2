package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` / `array<double>` embedding columns.
  *
  * Built on Spark's higher-order functions (`zip_with`, `aggregate`) so the
  * whole computation stays inside Catalyst (no UDF serialization, no Python
  * boundary) and is distributed per-row. Elements are cast to double BEFORE
  * multiplying so the math is float32-exact-promoted and the left-to-right
  * fold order is deterministic — this makes results reproducible against a
  * DuckDB oracle computing the same double-precision fold.
  *
  * The query paths use the codegen'd [[CosineSimilarity]] Expression;
  * [[cosine]] stays as the higher-order-function reference it is checked
  * against.
  */
object VectorFunctions {

  /** Elementwise-fold dot product of two equal-length numeric arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x
    )

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null/zero-norm safe (returns null on zero vectors). */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(na === 0.0 || nb === 0.0, lit(null)).otherwise(d / (na * nb))
  }
}
