package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("cosine matches hand-computed values") {
    val d = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
                (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
                (Seq(1.0f, 1.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
    val out = d.select(VectorFunctions.cosine(col("a"), col("b")).as("c")).collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 0.0) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
    assert(math.abs(out(2) - math.sqrt(0.5)) < 1e-12)
  }

  test("zero vector → null cosine, not NaN") {
    val d = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
    val out = d.select(VectorFunctions.cosine(col("a"), col("b")).as("c")).collect()(0)
    assert(out.isNullAt(0))
  }

  test("brute-force top-k returns the true nearest neighbors on sf0.001") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(queries, emb, "embedding", "vec_id", 3).collect()
    assert(top.length === 3)
    assert(top.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L))
    val sims = top.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_sim"))
    assert(sims(0) >= sims(1) && sims(1) >= sims(2))
    assert(!top.exists(_.getAs[Long]("neighbor_id") == 0L), "self excluded")
  }

  test("deterministic sign-plane LSH buckets collide and rank correctly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    val queries = emb.where(pmod(col("vec_id"), lit(40)) === 0)
    val lsh = Similarity.lshTopKDet(queries, emb, "embedding", "vec_id",
      k = 3, planes = 4, dim = 64)
    val rows = lsh.collect()
    assert(rows.forall(_.getAs[Long]("rank") <= 3L))
    assert(rows.nonEmpty, "planes=4 → 16 buckets over 200 vecs must produce collisions")
    // bucket assignment is a pure function of the vector: identical vectors
    // always share a bucket, so a self-copy under a new id must be rank 1
    val withCopy = emb.union(emb.where(col("vec_id") === 0)
      .withColumn("vec_id", lit(99999L)))
    val q0 = withCopy.where(col("vec_id") === 0)
    val top = Similarity.lshTopKDet(q0, withCopy, "embedding", "vec_id",
      k = 1, planes = 4, dim = 64).collect()
    assert(top.head.getAs[Long]("neighbor_id") === 99999L,
      "the planted exact copy must be the nearest bucket-mate")
  }

  test("sign-plane component is deterministic ±1") {
    val vals = for (p <- 0 until 6; j <- 0 until 64)
      yield Similarity.signPlaneComponent(p, j)
    assert(vals.forall(v => v == 1.0 || v == -1.0))
    assert(vals.toSet.size === 2, "both signs occur")
    assert(Similarity.signPlaneComponent(0, 0) === Similarity.signPlaneComponent(0, 0))
  }

  test("IVF with full probing equals brute force exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(120)
    val queries = emb.where(pmod(col("vec_id"), lit(30)) === 0)
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = asSet(Similarity.bruteForceTopK(queries, emb, "embedding", "vec_id", 5))
    val ivfFull = asSet(Similarity.ivfTopK(queries, emb, "embedding", "vec_id", 5,
      numCentroids = 8, numProbe = 8))
    assert(ivfFull === brute)
  }

  test("IVF with partial probing returns valid ranked subsets") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    val queries = emb.where(pmod(col("vec_id"), lit(40)) === 0)
    val out = Similarity.ivfTopK(queries, emb, "embedding", "vec_id", 5,
      numCentroids = 16, numProbe = 3).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("rank") <= 5L))
    val perQuery = out.groupBy(_.getAs[Long]("query_id"))
    perQuery.values.foreach { rows =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted
      assert(ranks.toSeq === (1L to ranks.length).toSeq, "dense ranks per query")
    }
  }

  test("stored IVF index: incremental union equals the full rebuild exactly, serving included") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(300)
    val base = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val inc = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val cents = Similarity.seedCentroids(base, "embedding", "vec_id", 8)
    // the theorem: assignment is per-row independent given FIXED stored
    // centroids, so indexing the increment alone and unioning equals
    // re-indexing the whole corpus
    val incremental = Similarity.ivfIndex(base, "embedding", "vec_id", cents)
      .unionByName(Similarity.ivfIndex(inc, "embedding", "vec_id", cents))
    val full = Similarity.ivfIndex(emb, "embedding", "vec_id", cents)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("list_id"), r.getAs[Long]("vec_id"))
    assert(incremental.collect().map(key).sorted.toSeq === full.collect().map(key).sorted.toSeq)
    // and serving from the incrementally-built lists equals serving from
    // the rebuild — which itself equals the one-shot ivfTopKWithCentroids
    val queries = emb.where(pmod(col("vec_id"), lit(50)) === 0)
    def served(ix: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKFromIndex(queries, "embedding", "vec_id", ix, cents, k = 5, numProbe = 3)
        .select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(served(incremental) === served(full))
    val oneShot = Similarity.ivfTopKWithCentroids(queries, emb, "embedding", "vec_id",
        k = 5, cents, numProbe = 3)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(served(incremental) === oneShot)
  }

  test("IVF recall@5 over seeded lists stays above its floor") {
    // deterministic end to end: seeds are the lowest-id vectors — no RNG
    // anywhere
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val truth = asSet(Similarity.bruteForceTopK(queries, emb, "embedding", "vec_id", 5))
    val seeds = Similarity.seedCentroids(emb, "embedding", "vec_id", 8)
    val found = asSet(
      Similarity.ivfTopKWithCentroids(queries, emb, "embedding", "vec_id", 5, seeds, numProbe = 2))
    val recall = (found & truth).size.toDouble / truth.size
    info(f"recall@5 (numProbe=2 of 8 seeded lists): $recall%.3f")
    // measured 0.436; the measurement has no RNG, so the floor is stable
    assert(recall > 0.4, f"IVF recall@5 implausibly low: $recall%.3f")
  }

  test("pqTopK ADC recall@5 vs exact L2 is deterministic and above floor") {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    // exact L2 ground truth (same broadcast cross shape as bruteForceTopK)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("__nv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__d"), col("neighbor_id"))
    val truth = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__d", Quantize.l2Sq(col("__qv"), col("__nv"), 64))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(queries, emb, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (pq & truth).size.toDouble / truth.size
    // this synthetic corpus is near-uniform random — PQ's adversarial case
    // (no cluster structure for the codebook to exploit), so raw ADC@5 is
    // genuinely modest; measured 0.092 at m=4, k=8. Fully deterministic
    // (lowest-id seeds, no RNG), so the floor is stable, not flaky.
    info(f"raw ADC recall@5 (m=4, k=8/subspace): $recall%.3f")
    assert(recall > 0.05, f"ADC recall@5 implausibly low: $recall%.3f")
    // the SERVING configuration — ADC top-50 shortlist, exact rerank —
    // is what production runs; measured 0.348 on the same corpus
    val rr = Similarity.pqTopKReranked(queries, emb, "embedding", "vec_id",
        k = 5, shortlist = 50, dim = 64)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val rerankRecall = (rr & truth).size.toDouble / truth.size
    info(f"reranked recall@5 (shortlist=50): $rerankRecall%.3f")
    assert(rerankRecall > 0.3, f"reranked recall@5 regressed: $rerankRecall%.3f")
    assert(rerankRecall > recall, "exact rerank must not lose recall vs raw ADC")
    // determinism: a second run returns the identical set
    val again = Similarity.pqTopK(queries, emb, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(pq === again)
  }

  test("hard negatives: top-k by similarity strictly among OTHER labels") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val anchors = emb.where(col("vec_id") === 0)
    val anchorLabel = anchors.select("label").head.getInt(0)
    val negs = Similarity.hardNegativesTopK(anchors, emb, "embedding", "vec_id", "label", k = 5)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(negs.length === 5)
    assert(negs.map(_.getAs[Long]("rnk")).toSeq === (1L to 5L))
    negs.foreach { r =>
      assert(r.getAs[Int]("negative_label") !== anchorLabel, "same-label row leaked in")
      assert(r.getAs[Int]("anchor_label") === anchorLabel)
    }
    // cross-check against the unfiltered brute-force ranking: the rank-1
    // hard negative must be the FIRST different-label row of the full
    // nearest-neighbor list
    val brute = Similarity.bruteForceTopK(anchors, emb, "embedding", "vec_id", k = 200)
      .collect().sortBy(_.getAs[Long]("rank"))
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val firstOtherLabel = brute
      .find(r => labelOf(r.getAs[Long]("neighbor_id")) != anchorLabel).get
      .getAs[Long]("neighbor_id")
    assert(negs.head.getAs[Long]("negative_id") === firstOtherLabel)
  }

  test("semi-hard band keeps only negatives inside [simLo, simHi]") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    val anchors = emb.where(pmod(col("vec_id"), lit(40)) === 0)
    val banded = Similarity.hardNegativesTopK(anchors, emb, "embedding", "vec_id", "label",
      k = 5, simLo = 0.0, simHi = 0.5)
    // recompute each surviving pair's cosine and assert it sits in band
    val vecOf = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = banded.collect()
    assert(rows.nonEmpty, "band [0, 0.5] must keep some negatives on this corpus")
    rows.foreach { r =>
      val s = cos(vecOf(r.getAs[Long]("anchor_id")), vecOf(r.getAs[Long]("negative_id")))
      assert(s >= 0.0 - 1e-12 && s <= 0.5 + 1e-12, s"sim $s outside the semi-hard band")
    }
  }

  test("bucketed hard negatives agree with exact on shared buckets; identical twin ranks 1") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    val anchors = emb.where(pmod(col("vec_id"), lit(40)) === 0)
    val lsh = Similarity.hardNegativesLsh(anchors, emb, "embedding", "vec_id", "label",
      k = 3, planes = 4, dim = 64)
    val rows = lsh.collect()
    assert(rows.nonEmpty, "planes=4 → 16 buckets over 200 vecs must collide")
    assert(rows.forall(_.getAs[Long]("rnk") <= 3L))
    assert(rows.forall(r => r.getAs[Int]("negative_label") != r.getAs[Int]("anchor_label")))
    // an identical vector under a new id and a DIFFERENT label shares every
    // bucket (bucket is a pure function of the vector) and has cosine 1 →
    // must surface at rank 1
    val a0 = emb.where(col("vec_id") === 0)
    val a0Label = a0.select("label").head.getInt(0)
    val twin = a0.withColumn("vec_id", lit(99999L))
      .withColumn("label", lit(a0Label + 1))
    val withTwin = emb.union(twin)
    val top = Similarity.hardNegativesLsh(a0, withTwin, "embedding", "vec_id", "label",
      k = 3, planes = 4, dim = 64)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(top.head.getAs[Long]("negative_id") === 99999L, "identical twin must rank first")
  }
}
