package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Diversity-aware re-ranking of bounded candidate lists.
  *
  * Maximal Marginal Relevance (MMR, Carbonell & Goldstein 1998): greedily
  * pick the candidate maximizing `λ·relevance − (1−λ)·max_sim_to_already_
  * selected` — the standard dedup of near-identical results before
  * serving a retrieval page or building training pairs from it.
  *
  * Scale shape: MMR is greedy-sequential, but only WITHIN one query's
  * candidate list, and candidate lists are pre-truncated (top-m from a
  * first-stage retriever, m ≤ ~100). So the right distribution is one
  * shuffle on query_id carrying (candidate, relevance, vector) rows —
  * q·m rows total — followed by a ROW-LOCAL greedy per group
  * (flatMapGroups). Nothing iterates across the cluster, no driver loop,
  * no per-step join; cost is q·m·k·dim multiplications spread over the
  * query partitioning. A formulation that joined selected-so-far back to
  * candidates per step would be k shuffles of the same data for no
  * benefit at ANY scale.
  *
  * Determinism: cosine accumulates in element order with double
  * precision (the [[graft.functions.CosineSimilarity]] loop), scores are
  * compared as exact doubles with ties broken on the lower candidate id,
  * so the selection replays identically on any partitioning and any
  * engine computing the same arithmetic (the DuckDB oracle unrolls the
  * same greedy for fixed k).
  */
object Rerank {

  /** MMR-select `k` of each query's candidates. Input columns: query_id,
    * neighbor_id, relevance (the first-stage score, higher = better),
    * __nv (the candidate's vector, float or double array). Output:
    * (query_id, mmr_rank, neighbor_id) — rank 1 is the pure-relevance
    * argmax, each later pick trades relevance against redundancy.
    */
  def mmrSelect(candidates: DataFrame, lambda: Double, k: Int): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = candidates.sparkSession
    import spark.implicits._
    val slim = candidates.select(
      col("query_id").cast("long"),
      col("neighbor_id").cast("long"),
      col("relevance").cast("double"),
      col("__nv").cast("array<double>"))
    slim
      .groupByKey(_.getLong(0))
      .flatMapGroups { (qid: Long, rows: Iterator[Row]) =>
        val cands = rows.map { r =>
          (r.getLong(1), r.getDouble(2), r.getSeq[Double](3).toArray)
        }.toArray
        greedyMmr(cands, lambda, k).zipWithIndex.map { case (nid, i) =>
          (qid, (i + 1).toLong, nid)
        }
      }
      .toDF("query_id", "mmr_rank", "neighbor_id")
  }

  /** The per-query greedy: pick argmax(λ·rel − (1−λ)·max cos to selected),
    * score ties to the LOWER candidate id. Pure function of the candidate
    * array — unit-testable without Spark. NaN safety: mmrSelect is public
    * and relevance/vectors are caller-supplied, and every comparison
    * against NaN is false — an unguarded NaN score would leave bestId=-1
    * and crash the task. NaN scores are therefore treated as −∞ (a NaN
    * candidate is ranked worst but still selectable via the lowest-id
    * tie-break, so the function always returns min(k, n) picks).
    */
  private[operators] def greedyMmr(cands: Array[(Long, Double, Array[Double])],
                                   lambda: Double, k: Int): Seq[Long] = {
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val used = scala.collection.mutable.HashSet.empty[Long]
    while (picked.length < math.min(k, cands.length)) {
      var bestId = -1L; var bestScore = Double.NegativeInfinity
      cands.foreach { case (nid, rel, v) =>
        if (!used.contains(nid)) {
          var maxSim = 0.0
          var first = true
          picked.foreach { case (_, pv) =>
            val s = cos(v, pv)
            if (first || s > maxSim) { maxSim = s; first = false }
          }
          val raw = if (picked.isEmpty) lambda * rel
                    else lambda * rel - (1.0 - lambda) * maxSim
          val score = if (raw.isNaN) Double.NegativeInfinity else raw
          if (score > bestScore || (score == bestScore && (bestId == -1L || nid < bestId))) {
            bestScore = score; bestId = nid
          }
        }
      }
      val (_, _, bv) = cands.find(_._1 == bestId).get
      picked += ((bestId, bv)); used += bestId
    }
    picked.map(_._1).toSeq
  }

  /** Element-order double cosine — the exact arithmetic of the
    * CosineSimilarity expression and DuckDB's list_dot_product formula,
    * so greedy decisions replay bit-identically on both engines.
    */
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** End-to-end MMR over a vector corpus: first-stage = exact cosine
    * top-m ([[Similarity.bruteForceTopK]] — swap in the LSH/IVF form at
    * corpus scale), relevance = that cosine, then [[mmrSelect]]. The
    * candidate VECTORS are fetched by one equi-join of the q·m top rows
    * back against the corpus — a deliberate second scan: riding vectors
    * through the first stage's rank window would ship every scored
    * vector through the shuffle, while the join back ships only the
    * survivors (scan bandwidth is cheap, shuffle bytes are not).
    */
  def mmrDiversifyTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
                       idCol: String, m: Int, k: Int, lambda: Double): DataFrame = {
    val top = Similarity.bruteForceTopK(queries, corpus, vecCol, idCol, m)
    mmrOverCandidates(top, corpus, vecCol, idCol, k, lambda)
  }

  /** [[mmrDiversifyTopK]] with the deterministic sign-plane LSH first
    * stage ([[Similarity.lshTopKDet]]) — the 100-TB form: candidate
    * generation is a bucket equi-join (corpus work per query ∝ bucket
    * size, never n·q), the greedy re-rank is identical. Replayable in
    * the DuckDB oracle via the same sign-plane bucket unroll as q29/q178.
    */
  def mmrDiversifyTopKLsh(queries: DataFrame, corpus: DataFrame, vecCol: String,
                          idCol: String, m: Int, k: Int, lambda: Double,
                          planes: Int, dim: Int): DataFrame = {
    val top = Similarity.lshTopKDet(queries, corpus, vecCol, idCol, m, planes, dim)
    mmrOverCandidates(top, corpus, vecCol, idCol, k, lambda)
  }

  /** Shared second stage of both MMR forms: fetch the surviving
    * candidates' vectors by one equi-join back against the corpus (ship
    * q·m survivors, not every scored vector), then the greedy select.
    */
  private def mmrOverCandidates(top: DataFrame, corpus: DataFrame, vecCol: String,
                                idCol: String, k: Int, lambda: Double): DataFrame = {
    val withVec = top.join(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv")),
      Seq("neighbor_id"))
    mmrSelect(
      withVec.select(col("query_id"), col("neighbor_id"),
        col("cos_sim").as("relevance"), col("__nv")),
      lambda, k)
  }
}
