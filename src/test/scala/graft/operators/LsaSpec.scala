package graft.operators

import graft.SparkTestBase

class LsaSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("scaled-long matvec sum is bitwise identical to the exact-decimal sum") {
    // grid-aligned factors including the .5e-9 half-grid tie class the
    // round-9 decimal hardening bought out: v on the 1e-4 grid, x on the
    // 1e-9 grid, products landing exactly on 5·1e-13 multiples so the
    // round-to-9 is a true HALF_UP tie
    val rows = Seq(
      (1L, 0.0001, 0.000000005),  // product 5e-13 → ties at 1e-9
      (1L, 0.0003, 0.000000015),  // 4.5e-12 → tie
      (1L, 123.4567, 0.987654321),
      (2L, -0.0001, 0.000000005), // negative tie
      (2L, 800000.0, 1.0),        // the top of the safe magnitude range
      (2L, -0.5, 0.999999999),
      (3L, 0.0002, 0.5),
      (3L, 42.1234, -0.123456789))
    val df = rows.toDF("g", "v", "x")
    val dec = df.groupBy(col("g")).agg(
      round(sum(col("v").cast("decimal(18,4)") * col("x").cast("decimal(10,9)")), 9)
        .cast("double").as("s"))
    val lng = df.groupBy(col("g")).agg(
      round(sum((
          (col("v").cast("decimal(18,4)") * lit(10000L).cast("decimal(5,0)")).cast("long")
            * round(col("x") * lit(1e9)).cast("long")
        ).cast("decimal(38,0)")).cast("decimal(25,0)")
          / lit(10000000000000L).cast("decimal(14,0)"), 9)
        .cast("double").as("s"))
    val a = dec.orderBy("g").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = lng.orderBy("g").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b, "the two exact-arithmetic paths must agree bit-for-bit")
    // and the division really plans at scale 13 (exact quotient) — the
    // decimal(25,0)/decimal(14,0) adjustment this doctrine relies on
    val qt = lng.schema // forces analysis
    assert(qt.fields.map(_.name).contains("s"))
  }

  test("a diagonal matrix's dominant column wins with loading 1") {
    // diag(10, 3, 1): AᵀA has eigenvalues 100, 9, 1 — two iterations
    // push essentially all mass onto column 'a'
    val m = Seq((1L, "a", 10.0), (2L, "b", 3.0), (3L, "c", 1.0))
      .toDF("r", "c", "v")
    val top = Lsa.topTermVector(m, "r", "c", "v", iterations = 3, k = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(top.head._1 === "a")
    assert(top.head._2 > 0.999, s"dominant loading ${top.head._2}")
    assert(top(1)._1 === "b" && top(1)._2 < 0.03)
  }

  test("a rank-1 matrix recovers its exact column direction") {
    // A = u·vᵀ with v ∝ (3, 4): the right-singular direction is (0.6, 0.8)
    val m = (for (r <- 1L to 5L; (c, x) <- Seq(("p", 3.0), ("q", 4.0)))
      yield (r, c, r * x)).toDF("r", "c", "v")
    val top = Lsa.topTermVector(m, "r", "c", "v", iterations = 2, k = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(top("p") - 0.6) < 1e-6, s"p -> ${top("p")}")
    assert(math.abs(top("q") - 0.8) < 1e-6, s"q -> ${top("q")}")
    // fold-in: row r scores r·(3·0.6 + 4·0.8) = 5r, and the result is the
    // only cache entry the call leaves
    val (best, cached) = leftCached(
      Lsa.docScores(m, "r", "c", "v", iterations = 2, k = 1).collect().head)
    assert(cached <= 1)
    assert(best.getLong(0) === 5L && math.abs(best.getDouble(1) - 25.0) < 1e-5, s"$best")
  }

  test("deterministic across repartitioning; k bounds the output") {
    val m = (1L to 300L).map(i => (i % 30, s"t${i % 17}", (i % 7) + 1.0))
      .toDF("r", "c", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Lsa.topTermVector(d, "r", "c", "v", iterations = 2, k = 5)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val a = run(m)
    assert(a.size === 5)
    assert(a === run(m.repartition(7)))
  }

  test("topicVectors recovers both planted topics of a two-block corpus") {
    // Block A: docs 1-10 over terms a0..a3; block B: docs 11-18 over
    // b0..b3. The blocks share NO terms, so AᵀA is block-diagonal: its
    // top two eigenvectors live one per block. Block A carries far more
    // mass (λA = 4·10·10² = 4000 vs λB = 4·8·1² = 32, ratio 0.008 per
    // iteration → residual ~5e-7 after 3) → topic 1; deflation must
    // then surface block B as topic 2 instead of a second copy of A.
    val blockA = for (r <- 1L to 10L; j <- 0 to 3) yield (r, s"a$j", 10.0)
    val blockB = for (r <- 11L to 18L; j <- 0 to 3) yield (r, s"b$j", 1.0)
    val m = (blockA ++ blockB).toDF("r", "c", "v")
    val topics = Lsa.topicVectors(m, "r", "c", "v", iterations = 3, nTopics = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val t1 = topics.filter(_._1 == 1L).map(t => t._2 -> t._3).toMap
    val t2 = topics.filter(_._1 == 2L).map(t => t._2 -> t._3).toMap
    // topic 1: all mass on block A (each of the 4 symmetric terms = 0.5)
    (0 to 3).foreach { j =>
      assert(math.abs(t1(s"a$j") - 0.5) < 1e-6, s"t1 a$j -> ${t1(s"a$j")}")
      assert(math.abs(t1(s"b$j")) < 1e-6, s"t1 b$j -> ${t1(s"b$j")}")
    }
    // topic 2: deflation removed A, so all mass on block B
    (0 to 3).foreach { j =>
      assert(math.abs(t2(s"b$j") - 0.5) < 1e-6, s"t2 b$j -> ${t2(s"b$j")}")
      assert(math.abs(t2(s"a$j")) < 1e-6, s"t2 a$j -> ${t2(s"a$j")}")
    }
  }

  test("topic 1 of topicVectors equals termVector; topics are orthogonal") {
    val m = (1L to 200L).map(i => (i % 23, s"t${i % 11}", (i % 5) + 1.0))
      .toDF("r", "c", "v")
    val (single, cached1) = leftCached(Lsa.termVector(m, "r", "c", "v", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    val (topics, cached2) = leftCached(
      Lsa.topicVectors(m, "r", "c", "v", iterations = 2, nTopics = 2)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))))
    // each result reads one generation per topic; the matrix and every
    // superseded iterate are freed
    assert(cached1 <= 1 && cached2 <= 2, s"termVector +$cached1, topicVectors +$cached2")
    val t1 = topics.filter(_._1 == 1L).map(t => t._2 -> t._3).toMap
    val t2 = topics.filter(_._1 == 2L).map(t => t._2 -> t._3).toMap
    assert(t1 === single)
    val dot = t1.keys.map(k => t1(k) * t2(k)).sum
    assert(math.abs(dot) < 1e-4, s"topics not orthogonal: dot=$dot")
  }

  test("topTopicVectors bounds each topic to k with the rank window") {
    val m = (1L to 300L).map(i => (i % 30, s"t${i % 17}", (i % 7) + 1.0))
      .toDF("r", "c", "v")
    val out = Lsa.topTopicVectors(m, "r", "c", "v",
        iterations = 2, nTopics = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.count(_._1 == 1L) === 5)
    assert(out.count(_._1 == 2L) === 5)
    // per-topic descending-loading order with term tiebreak
    Seq(1L, 2L).foreach { t =>
      val loads = out.filter(_._1 == t).map(_._3).toSeq
      assert(loads === loads.sorted.reverse)
    }
  }

  test("a degenerate iterate (norm collapses to 0) fails loudly instead of minting garbage") {
    // every value so small that round(x^2, 6) = 0 after the first
    // normalization: the 6-round squared norm of the column iterate is 0,
    // and normalizing would mint Infinity (the scaled-long path would
    // silently saturate the long cast at Long.MaxValue)
    val tiny = Seq((1L, "a", 1e-6), (2L, "b", -2e-6), (3L, "a", 1.5e-6))
      .toDF("doc", "term", "v")
    val e = intercept[IllegalStateException] {
      Lsa.termVector(tiny, "doc", "term", "v", iterations = 1).collect()
    }
    assert(e.getMessage.contains("rescale"))
  }

  test("unscaled9 nulls non-finite inputs instead of saturating the long cast") {
    // the long cast of Infinity saturates at Long.MaxValue; the guard
    // must send non-finite values to NULL, matching the decimal path
    val df = Seq(Double.PositiveInfinity, Double.NaN, 0.5, -1.0).toDF("x")
    val got = df.select(
      when(!isnan(col("x")) && abs(col("x")) < lit(Double.PositiveInfinity),
        round(col("x") * lit(1e9)).cast("long")).as("xl"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got === Seq(None, None, Some(500000000L), Some(-1000000000L)))
  }

  test("Iterate.free drops a local checkpoint that Dataset.unpersist leaves cached") {
    // Spark 4.1: the cache manager never registers a local checkpoint, so
    // Dataset.unpersist() is a no-op on it — every release of one goes
    // through Iterate.free instead
    val ckpt = spark.range(10).toDF("x")
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val id = ckpt.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    def cached = spark.sparkContext.getPersistentRDDs.contains(id)
    assert(cached)
    ckpt.unpersist()
    assert(cached, "Dataset.unpersist() freed a local checkpoint")
    Iterate.free(ckpt)
    assert(!cached)
  }
}
