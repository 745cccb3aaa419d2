package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PcaSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(rows: Seq[Seq[Double]]) =
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")

  test("loadings form a unit vector and the dominant planted axis wins") {
    // variance concentrated on axis 0 (values ±10), noise-free elsewhere
    val d = vecs((0 until 40).map { i =>
      Seq(if (i % 2 == 0) 10.0 else -10.0, 1.0 + (i % 4) * 0.1, 0.5)
    })
    val out = Pca.topComponent(d, "v", 3).collect().sortBy(_.getLong(0))
    val loadings = out.map(_.getAs[Double]("loading"))
    val norm = loadings.map(x => x * x).sum
    assert(math.abs(norm - 1.0) < 1e-6, s"unit vector expected, |v|^2 = $norm")
    assert(math.abs(loadings(0)) > 0.999,
      s"axis 0 carries ~all variance, got loading ${loadings(0)}")
    val ratio = out.head.getAs[Double]("explained_ratio")
    assert(ratio > 0.99, s"explained ratio should be ~1 on this fixture, got $ratio")
  }

  test("matches a driver-side reference power iteration exactly") {
    // small real slice; the reference replays the same doctrine in plain
    // Scala (BigDecimal 9-digit quantized sums, 9-decimal rounding)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val rows = emb.collect().map(_.getSeq[Double](1).toArray)
    val dim = 64
    def round9(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    def decSum(xs: Iterator[Double]): Double = {
      var acc = java.math.BigDecimal.ZERO
      xs.foreach { x =>
        acc = acc.add(java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP))
      }
      acc.doubleValue
    }
    val n = rows.length
    val mu = (0 until dim).map(j => round9(decSum(rows.iterator.map(_(j))) / n)).toArray
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to 3) {
      val s = rows.map(r => (0 until dim).map(j => v(j) * (r(j) - mu(j))).reduceLeft(_ + _))
      val yh = (0 until dim).map(j =>
        decSum(rows.iterator.zip(s.iterator).map { case (r, si) => si * (r(j) - mu(j)) }) / n)
      val norm = math.sqrt(yh.map(x => x * x).reduceLeft(_ + _))
      v = yh.map(x => round9(x / norm)).toArray
    }
    val out = Pca.topComponent(emb, "v", dim).collect().sortBy(_.getLong(0))
    val engineV = out.map(_.getAs[Double]("loading"))
    val engineMu = out.map(_.getAs[Double]("mu"))
    assert(engineMu.toSeq == mu.toSeq, "means must replay the decimal doctrine exactly")
    assert(engineV.toSeq == v.toSeq, "loadings must replay the reference trajectory exactly")
  }

  test("result is invariant to input partitioning") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      Pca.topComponent(df, "embedding", 64).collect()
        .sortBy(_.getLong(0)).map(_.toSeq).toSeq
    assert(run(emb) == run(emb.repartition(13, col("vec_id"))),
      "decimal-quantized accumulation must not see partitioning")
  }

  test("scoreTopComponent: projection-only scoring plan whose values recompute from the fitted component") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scored = Pca.scoreTopComponent(emb, "embedding", "vec_id", 64)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"scoring must be scan->project once fitted:\n$plan")
    val fit = Pca.topComponent(emb, "embedding", 64).collect().sortBy(_.getLong(0))
    val mu = fit.map(_.getAs[Double]("mu"))
    val v = fit.map(_.getAs[Double]("loading"))
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def round9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val scores = scored.collect().map(r => r.getLong(0) -> r.getAs[Double]("pca1")).toMap
    vecs.take(20).foreach { case (id, x) =>
      val s = round9((0 until 64).map(j => v(j) * (x(j) - mu(j))).reduceLeft(_ + _))
      assert(scores(id) == s, s"vec $id: engine ${scores(id)} vs reference $s")
    }
  }

  test("the fast (double-sum) twin agrees with the exact decimal path to 1e-6") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ex = Pca.topComponent(emb, "embedding", 64).collect().sortBy(_.getLong(0))
    val fa = Pca.topComponent(emb, "embedding", 64, exact = false).collect().sortBy(_.getLong(0))
    ex.zip(fa).foreach { case (e, f) =>
      assert(math.abs(e.getAs[Double]("loading") - f.getAs[Double]("loading")) < 1e-6,
        s"dim ${e.getLong(0)}: ${e.getAs[Double]("loading")} vs ${f.getAs[Double]("loading")}")
      assert(math.abs(e.getAs[Double]("mu") - f.getAs[Double]("mu")) < 1e-6)
    }
    assert(math.abs(ex.head.getAs[Double]("explained_ratio") -
      fa.head.getAs[Double]("explained_ratio")) < 1e-6)
  }

  test("zero-variance input fails loudly instead of emitting NaN loadings") {
    val d = vecs(Seq.fill(5)(Seq(1.0, 2.0, 3.0)))
    val e = intercept[IllegalArgumentException] {
      Pca.topComponent(d, "v", 3)
    }
    assert(e.getMessage.contains("zero vector"))
  }

  test("rows of the wrong width are excluded by the declared-width filter") {
    val d = Seq((1L, Seq(1.0, 5.0)), (2L, Seq(2.0, -5.0)), (3L, Seq(1.0, 2.0, 3.0)))
      .toDF("id", "v")
    val out = Pca.topComponent(d, "v", 2).collect()
    assert(out.head.getAs[Long]("n_vecs") == 2L)
  }
}
