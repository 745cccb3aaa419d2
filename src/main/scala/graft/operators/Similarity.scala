package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.CosineSimilarity.cosineSim

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, one pass
  * over the corpus, per-query top-k via window). Scale path: sign-plane
  * LSH bucketing so each query only scans its bucket — the
  * bucket join is an equi-join (shuffle on bucket id, or broadcast if the
  * query side is small), never an O(n·q) cross product.
  */
object Similarity {

  /** Brute-force cosine top-k. `queries` and `corpus` both carry
    * (idCol, vecCol). Returns (query_id, rank, neighbor_id, cos_sim).
    *
    * The query side is broadcast (it is the small side by construction), so
    * the corpus is scanned exactly once with no shuffle before the top-k.
    * Top-k per query uses a rank window partitioned by query — the shuffle
    * carries only (query_id, neighbor_id, sim) triples, not vectors.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineSim(col("__qv"), col("__nv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** The (plane, dim) component of the deterministic ±1 sign-plane family:
    * +1 when the first md5 hex digit of "p_j" is odd, else -1. Rademacher
    * (±1) projections are a standard SRP instantiation, and md5 is
    * available in any engine — the DuckDB oracle regenerates the identical
    * matrix, so bucket assignments are replayable end to end.
    */
  def signPlaneComponent(plane: Int, dim: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_${dim}".getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 1) 1.0 else -1.0
  }

  /** Sign-plane LSH bucket with the deterministic ±1 family: the dot
    * products are unrolled into explicit left-associated sums of
    * `element_at` terms — plain codegen'd arithmetic (no interpreted
    * higher-order lambdas), bit-identical to the oracle's generated SQL
    * which uses the same association order.
    */
  def signPlaneBucket(vec: Column, planes: Int, dim: Int): Column = {
    val v = vec.cast("array<double>")
    (0 until planes).map { p =>
      val dot = (0 until dim).map { j =>
        element_at(v, j + 1) * lit(signPlaneComponent(p, j))
      }.reduce(_ + _)
      when(dot >= 0.0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** SRP-LSH ANN top-k on the deterministic ±1 sign-plane family
    * ([[signPlaneBucket]]): each query scans only the corpus vectors in
    * its bucket — an equi-join on bucket id, never n·q — with exact cosine
    * inside the bucket. Recall tunes via `planes` (fewer planes → bigger
    * buckets → higher recall, more compute). The projection matrix
    * regenerates from md5, so the search replays on any md5-capable
    * engine. `dim` is the embedding width (a plan-time constant: the
    * unrolled dot products need a static term count). Returns
    * (query_id, rank, neighbor_id, cos_sim).
    */
  def lshTopKDet(queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String,
                 k: Int, planes: Int, dim: Int): DataFrame = {
    val bucket = signPlaneBucket(col(vecCol), planes, dim)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      bucket.as("__bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"),
      bucket.as("__bucket"))
    val scored = c.join(q, Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineSim(col("__qv"), col("__nv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** IVF (inverted-file) ANN top-k: the corpus is coarse-quantized into
    * `numCentroids` inverted lists (each vector assigned to its nearest
    * centroid); a query probes only its `numProbe` nearest lists and runs
    * exact cosine inside them. Corpus work per query drops from n to
    * ~n·numProbe/numCentroids.
    *
    * Centroids are the `numCentroids` lowest-id corpus vectors — a real
    * deployment would k-means them for better list balance, but
    * deterministic selection keeps results reproducible with no stored
    * model artifact, and the probe/search machinery (the scale-relevant
    * part) is identical. With numProbe == numCentroids the result is
    * EXACTLY brute force (spec-asserted).
    *
    * Scale shape: centroids broadcast twice (assignment + probing); the
    * list search is an equi-join on centroid id — shuffle ∝ probed pairs,
    * never n·q.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String,
              k: Int, numCentroids: Int = 16, numProbe: Int = 4): DataFrame =
    ivfTopKWithCentroids(queries, corpus, vecCol, idCol, k,
      seedCentroids(corpus, vecCol, idCol, numCentroids), numProbe)

  /** Deterministic untrained centroid seeds: the `numCentroids` lowest-id
    * corpus vectors as (__cid, __cv) — the table [[ivfTopKWithCentroids]]
    * probes.
    */
  def seedCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                    numCentroids: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(numCentroids)
      .select(col(idCol).as("__cid"), col(vecCol).as("__cv"))

  /** [[ivfTopK]] against a caller-supplied centroid table (__cid, __cv).
    * Same plan shape (centroids broadcast twice, list search an equi-join
    * on centroid id).
    */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame, vecCol: String,
                           idCol: String, k: Int, centroids: DataFrame,
                           numProbe: Int): DataFrame =
    ivfTopKFromIndex(queries, vecCol, idCol,
      ivfIndex(corpus, vecCol, idCol, centroids), centroids, k, numProbe)

  /** Build the IVF inverted lists as a STORED warehouse artifact:
    * (list_id, vec_id, vec) — every corpus vector assigned to its most
    * cosine-similar centroid. Persist this beside the centroid table
    * ((__cid, __cv)) and serving becomes [[ivfTopKFromIndex]] with no
    * assignment pass over the corpus; NEW vectors index incrementally by
    * running [[ivfIndex]] on the increment alone against the SAME stored
    * centroids and unioning the lists — assignment is per-row
    * independent given fixed centroids, so
    * `ivfIndex(base) ∪ ivfIndex(increment) == ivfIndex(base ∪ increment)`
    * EXACTLY (the q107/q146 incremental==full theorem, spec-pinned; the
    * increment costs O(|increment|·numCentroids), never a re-cluster).
    *
    * Scale shape: centroids broadcast; the per-vector nearest-centroid
    * window partitions by vec_id with fan-in bounded by numCentroids.
    */
  def ivfIndex(corpus: DataFrame, vecCol: String, idCol: String,
               centroids: DataFrame): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val byVec = Window.partitionBy(col("__vid")).orderBy(col("__csim").desc, col("__cid"))
    corpus
      .select(col(idCol).as("__vid"), col(vecCol).as("__nv"))
      .join(broadcast(centroids))
      .withColumn("__csim", cosineSim(col("__nv"), col("__cv")))
      .withColumn("__rn", row_number().over(byVec))
      .where(col("__rn") === 1)
      .select(col("__cid").as("list_id"), col("__vid").as("vec_id"), col("__nv").as("vec"))
  }

  /** ANN serving against a STORED IVF index ([[ivfIndex]]'s
    * (list_id, vec_id, vec) artifact + its centroid table): queries probe
    * their `numProbe` nearest centroids (broadcast) and run exact cosine
    * inside the probed lists only — an equi-join on list_id, shuffle ∝
    * probed pairs. The corpus itself is never touched: rebuild-free
    * serving over an index that grows by union (see [[ivfIndex]]).
    */
  def ivfTopKFromIndex(queries: DataFrame, vecCol: String, idCol: String,
                       index: DataFrame, centroids: DataFrame,
                       k: Int, numProbe: Int): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val byVec = Window.partitionBy(col("__vid")).orderBy(col("__csim").desc, col("__cid"))
    val probes = queries
      .select(col(idCol).as("__vid"), col(vecCol).as("__qv"))
      .join(broadcast(centroids))
      .withColumn("__csim", cosineSim(col("__qv"), col("__cv")))
      .withColumn("__rn", row_number().over(byVec))
      .where(col("__rn") <= numProbe)
      .select(col("__vid").as("query_id"), col("__qv"), col("__cid"))
    val lists = index.select(col("list_id").as("__cid"),
      col("vec_id").as("neighbor_id"), col("vec").as("__nv"))
    val scored = probes.join(lists, Seq("__cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineSim(col("__qv"), col("__nv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** IVF-PQ-style ANN via asymmetric distance computation (ADC): the
    * corpus is stored only as [[Quantize.pqCodes]] m-byte codes; a query
    * never touches a corpus vector again. Per query, the exact squared-L2
    * from each of its m subvectors to every codebook centroid forms a
    * (query, subspace, code) → distance TABLE (|q|·m·k rows — tiny), and a
    * corpus vector's approximate distance is the sum of its m table
    * lookups. This is the FAISS serving shape: scan cost per query drops
    * from n·dim multiplies to n·m additions.
    *
    * Plan shape: the distance table BROADCASTS onto the codes table — the
    * (subspace, code) equi-join ships zero corpus rows — and the
    * per-(query, vector) sum is ONE map-side-combinable aggregation of
    * decimal-quantized lookups (partition-order invariant, the q71 rule).
    * Per-query top-k is the rank-window / WindowGroupLimit shape. Nothing
    * is corpus-cardinality but the codes scan itself.
    *
    * Output: (query_id, rank, neighbor_id, adc_dist) — rank by
    * (adc_dist asc, neighbor_id), self-pairs excluded, adc_dist rounded
    * to 6 decimals before ranking so any engine ranks identically.
    */
  def pqTopKWithCodes(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
                      vecCol: String, idCol: String, k: Int,
                      m: Int, subDim: Int): DataFrame = {
    val dt = Quantize.sliced(queries, vecCol, idCol, m, subDim)
      .join(broadcast(Quantize.pqCodebookArrays(codebooks)), Seq("__ss"))
      .select(col("__vid").as("query_id"),
        col("__ss").cast("long").as("subspace"),
        col("__cid").as("code"),
        Quantize.l2Sq(col("__sv"), col("__cv"), subDim).cast("decimal(28,9)").as("__qd"))
    val scored = codes
      .join(broadcast(dt), Seq("subspace", "code"))
      .where(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("__qd")).cast("double"), 6).as("adc_dist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_dist"), col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"), col("adc_dist"))
  }

  /** [[pqTopKWithCodes]] end to end: train [[Quantize.pqCodebooks]] on the
    * corpus, assign [[Quantize.pqCodes]], then ADC-score the queries — the
    * one-call form for ad-hoc use; production stores the codebook + codes
    * once and serves many query batches through [[pqTopKWithCodes]].
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String,
             k: Int, m: Int = 4, subDim: Int = 16, numCentroids: Int = 8): DataFrame = {
    // the trained codebook feeds BOTH code assignment and the distance
    // table; persist the tiny (m·k·subDim rows) result so training's
    // corpus pass runs once, not once per consumer
    val cb = Quantize.pqCodebooks(corpus, vecCol, idCol, m, subDim, numCentroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pqTopKWithCodes(queries, Quantize.pqCodes(corpus, vecCol, idCol, cb, m, subDim),
      cb, vecCol, idCol, k, m, subDim)
  }

  /** Two-stage PQ serving — ADC shortlist, then EXACT rerank (the
    * standard FAISS pattern, and the reason coarse-PQ recall is
    * acceptable in production): [[pqTopK]] produces a `shortlist`-sized
    * candidate set per query from codes alone, then only the
    * |queries|·shortlist surviving pairs fetch their real vectors for an
    * exact unrolled-L2 re-sort. Corpus-cardinality work stays in the code
    * scan; the float vectors are touched for the shortlist only.
    *
    * Plan shape: the shortlist (an aggregation output, small by
    * construction) broadcasts onto the corpus vector table — an equi-join
    * on the neighbor id, no shuffle of the corpus — and the query vectors
    * broadcast as in [[bruteForceTopK]]. `dim` is the full vector width (a
    * plan-time constant: the unrolled distance needs a static term count).
    * Output: (query_id, rank, neighbor_id, l2_dist) with l2_dist rounded
    * to 6 decimals BEFORE ranking so any engine ranks identically.
    */
  def pqTopKReranked(queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String,
                     k: Int, shortlist: Int, dim: Int,
                     m: Int = 4, subDim: Int = 16, numCentroids: Int = 8): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val short = pqTopK(queries, corpus, vecCol, idCol, shortlist, m, subDim, numCentroids)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val nv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__nv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("l2_dist"), col("neighbor_id"))
    broadcast(short).join(nv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("l2_dist", round(Quantize.l2Sq(col("__qv"), col("__nv"), dim), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("l2_dist"))
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * k most cosine-similar corpus vectors carrying a DIFFERENT label — the
    * negatives a contrastive loss learns most from (the FaceNet/DPR mining
    * step). Exact form: the anchor set is small by construction (a
    * per-step sample of the training batch), so it broadcasts and the
    * corpus is scanned exactly once; the rank window shuffles only
    * (anchor, negative, sim) triples, never vectors. An optional
    * similarity band [simLo, simHi] restricts to SEMI-hard negatives
    * (informative but unlikely to be label noise); the default band is
    * the whole range and adds no filter, keeping the oracle float-free.
    * Returns (anchor_id, anchor_label, rnk, negative_id, negative_label).
    *
    * Scale path at 100 TB: [[hardNegativesLsh]] — identical contract
    * through the deterministic sign-plane bucket join, corpus work per
    * anchor ∝ bucket size instead of n.
    */
  def hardNegativesTopK(anchors: DataFrame, corpus: DataFrame, vecCol: String,
                        idCol: String, labelCol: String, k: Int,
                        simLo: Double = -1.0, simHi: Double = 1.0): DataFrame = {
    val q = anchors.select(col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("negative_id"),
      col(labelCol).as("negative_label"), col(vecCol).as("__nv"))
    val scored = c
      .join(broadcast(q), col("anchor_id") =!= col("negative_id") &&
        col("anchor_label") =!= col("negative_label"))
      .withColumn("__sim", cosineSim(col("__qv"), col("__nv")))
    val banded =
      if (simLo == -1.0 && simHi == 1.0) scored
      else scored.where(col("__sim") >= simLo && col("__sim") <= simHi)
    rankNegatives(banded, k)
  }

  /** [[hardNegativesTopK]]'s bucketed scale form: both sides carry the
    * deterministic sign-plane bucket, the candidate join is an equi-join
    * on bucket id (shuffle ∝ colliding pairs, never n·q), and the label
    * filter prunes same-label candidates BEFORE the similarity compute.
    * Approximate exactly like [[lshTopKDet]]: a negative outside every
    * shared bucket is unseen — recall tunes via `planes`.
    */
  def hardNegativesLsh(anchors: DataFrame, corpus: DataFrame, vecCol: String,
                       idCol: String, labelCol: String, k: Int,
                       planes: Int, dim: Int): DataFrame = {
    val bucket = signPlaneBucket(col(vecCol), planes, dim)
    val q = anchors.select(col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"), col(vecCol).as("__qv"), bucket.as("__bucket"))
    val c = corpus.select(col(idCol).as("negative_id"),
      col(labelCol).as("negative_label"), col(vecCol).as("__nv"), bucket.as("__bucket"))
    val scored = c.join(q, Seq("__bucket"))
      .where(col("anchor_id") =!= col("negative_id") &&
        col("anchor_label") =!= col("negative_label"))
      .withColumn("__sim", cosineSim(col("__qv"), col("__nv")))
    rankNegatives(scored, k)
  }

  /** Shared top-k tail of the hard-negative paths — one definition so the
    * contract (sim-desc order, negative_id tiebreak, long rank, output
    * columns without the float sim) cannot drift between the exact and
    * bucketed forms.
    */
  private def rankNegatives(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__sim").desc, col("negative_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("anchor_id", "anchor_label", "rnk", "negative_id", "negative_label")
  }
}
