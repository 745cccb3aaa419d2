package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank centrality over an undirected candidate-pair graph — the
  * canonicalization signal of a dedup pipeline: inside a near-duplicate
  * cluster, the most central document is the one most other variants
  * derive from, which is a better "keep" choice than lowest-id when
  * variants differ in quality.
  *
  * Classic damped formulation, fixed iteration count:
  * `r'(v) = (1-d) + d · Σ r(u)/deg(u)` over in-neighbors u. On an
  * undirected graph every endpoint has degree ≥ 1, so there are no
  * dangling nodes and the iteration is total.
  *
  * Scale shape: one edge-keyed equi-join + one map-side-combinable
  * aggregation PER ITERATION — shuffle ∝ edges, never vertices². The
  * generations follow the [[Iterate]] policy: lazy local checkpoints,
  * materialized every few rounds and on return, superseded ones freed.
  *
  * Determinism / engine parity: each edge contribution `r(u)/deg(u)`
  * quantizes to DECIMAL(28,9) BEFORE the sum (partition-order-invariant
  * exact addition — the q71/q75 rule), the damping arithmetic is written
  * as `(1.0 - d)·t + d · s` with teleport t = 1.0 (bit-identical to
  * `(1.0 - d) + d · s`) so another engine computing the same expression
  * gets the same doubles, and each generation rounds to 9 decimals. The
  * DuckDB oracle replays 3 unrolled iterations hash-exactly.
  */
object PageRank {

  /** Run `iterations` damped PageRank steps over the undirected edge list
    * `(aCol, bCol)` (one row per pair; both directions are derived).
    * Returns (id, rank) for every vertex that appears in an edge.
    */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
               iterations: Int, damping: Double = 0.85): DataFrame =
    ranked(edges, aCol, bCol, None, iterations, damping)

  /** Personalized PageRank: teleport mass goes ONLY to the seed set —
    * `r'(v) = (1-d)·t(v) + d · Σ r(u)/deg(u)` with t(v) = 1 for seeds,
    * 0 otherwise (unnormalized on purpose: rank is then comparable
    * across seed-set sizes, and the arithmetic replays engine-exactly
    * without a 1/|S| division). Rank concentrates around the seeds with
    * graph distance — the trusted-seed expansion signal of a curation
    * pipeline ("find everything that clusters near this vetted corpus"),
    * the graph-side analogue of q109's embedding hard-negative mining.
    *
    * Same per-iteration shape and determinism doctrine as [[pageRank]];
    * the seed table joins the vertex set once, broadcast-sized.
    */
  def personalizedPageRank(edges: DataFrame, aCol: String, bCol: String,
                           seeds: DataFrame, seedIdCol: String,
                           iterations: Int, damping: Double = 0.85): DataFrame =
    ranked(edges, aCol, bCol, Some(seeds.select(col(seedIdCol).as("id"))), iterations, damping)

  /** The one loop behind both: [[pageRank]] is the personalized form with
    * every vertex a seed, since `(1-d)·1.0 + d·s` is bit-identical to
    * `(1-d) + d·s`.
    */
  private def ranked(edges: DataFrame, aCol: String, bCol: String, seeds: Option[DataFrame],
                     iterations: Int, damping: Double): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    Iterate { it =>
      // The checkpoint cuts the input lineage: the driver re-analyzes the
      // full input plan for every job the iteration generates, so a deep
      // upstream chain (a 64-hash minhash pipeline, say) would cost seconds
      // of PLANNING per iteration even when the data is cached.
      val base = it.checkpoint(edges.select(col(aCol).as("__src"), col(bCol).as("__dst")))
      val directed = base
        .union(base.select(col("__dst").as("__src"), col("__src").as("__dst")))
      val degrees = directed.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
      val withDeg = it.checkpoint(directed.join(degrees, Seq("__src")))
      val vertices = directed.select(col("__src").as("id")).distinct()
      val teleport = it.checkpoint(seeds match {
        case None => vertices.withColumn("t", lit(1.0))
        case Some(s) => vertices
          .join(broadcast(s.distinct().withColumn("__t", lit(1.0))), Seq("id"), "left")
          .select(col("id"), coalesce(col("__t"), lit(0.0)).as("t"))
      })
      it.rounds(teleport.select(col("id"), col("t").as("rank")), iterations) { ranks =>
        val contrib = withDeg
          .join(ranks.withColumnRenamed("id", "__src"), Seq("__src"))
          .select(col("__dst").as("id"),
            (col("rank") / col("__deg")).cast("decimal(28,9)").as("__c"))
          .groupBy(col("id"))
          .agg(sum(col("__c")).cast("double").as("__s"))
        teleport
          .join(contrib, Seq("id"), "left")
          .select(col("id"),
            round(lit(1.0 - damping) * col("t")
              + lit(damping) * coalesce(col("__s"), lit(0.0)), 9).as("rank"))
      }
    }
  }
}
