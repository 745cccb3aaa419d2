package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs & authorities, Kleinberg JACM 1999) over a DIRECTED edge
  * list — the centrality pair PageRank's single score can't express: a
  * good hub points at good authorities, a good authority is pointed at
  * by good hubs. On a bipartite interaction graph (customer→part,
  * user→document, query→url) the two sides get separately meaningful
  * scores, which is the curation signal for "power consumers" vs
  * "canonical items".
  *
  * Mutual-reinforcement iteration, fixed count:
  *   a(d) = Σ_{s→d} h(s)   then L1-normalize,
  *   h(s) = Σ_{s→d} a(d)   then L1-normalize.
  *
  * L1 (sum) normalization instead of the textbook L2 — deliberately:
  * scores live on a 9-decimal grid, so every Σ h and Σ a is EXACT in
  * decimal (partition-order-invariant), and the normalizer Σ a_raw is
  * itself an exact decimal sum — no squared terms to round (the L2
  * norm's x² either quantizes in double, which hits rounding ties, or
  * overflows DECIMAL(38) once raw sums exceed ~1e9). The only float
  * step per half-iteration is ONE division of two exactly-cast decimals
  * rounded to 9 — not grid-aligned, so the .5e-9 tie the LSA doctrine
  * hardened against structurally cannot occur. The DuckDB oracle
  * (q162) replays the unrolled iterations hash-exactly.
  *
  * Scale shape (the PageRank contract): one edge-keyed equi-join + one
  * map-side-combinable exact-decimal aggregation per half-iteration —
  * shuffle ∝ edges, never vertices²; the normalizer is one fetched
  * scalar per half-iteration; the edge list and the generations follow
  * the [[Iterate]] policy, each L1 fetch materializing its raw iterate.
  */
object Hits {

  /** Run `iterations` hub/authority rounds over the directed edge list
    * `(srcCol, dstCol)` (duplicate edges collapse first — multiplicity
    * is not signal in HITS). Returns (kind: hub|authority, id, score);
    * a node appearing on both sides of edges gets one row per kind.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    Iterate { it =>
      val e = it.checkpoint(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d")).distinct())
      // Each half-step's edge-join aggregation runs exactly ONCE: the raw
      // vertex table (O(|vertices|), tiny beside the edge join that builds
      // it) is a checkpointed generation and its L1 normalizer is read back
      // as a 1-row scalar, which materializes it. A crossJoin(broadcast(
      // norm-agg)) form would recompute the matvec twice — the broadcast
      // subtree and the consuming plan are separate exchanges and Spark
      // never CSEs across them (the round-10 Lsa doctrine). The
      // cast-to-double happens in the collected plan, so the scalar is
      // bit-identical to an in-plan cast. The normalized vector is a
      // scalar-division PROJECTION of the raw generation and stays lazy.
      def l1(raw: DataFrame, c: String, keep: DataFrame*): Double = {
        val r = it.scalar(raw, sum(col(c)).cast("double"), keep: _*)
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      var h = it.generation(e.select(col("__s")).distinct().withColumn("__h", lit(1.0)))
      var a: DataFrame = null
      (1 to iterations).foreach { _ =>
        val aRaw = it.generation(e.join(h, Seq("__s"))
          .groupBy(col("__d"))
          .agg(sum(col("__h").cast("decimal(20,9)")).as("__ar")))
        a = aRaw.select(col("__d"),
          round(col("__ar").cast("double") / lit(l1(aRaw, "__ar")), 9).as("__a"))
        val hRaw = it.generation(e.join(a, Seq("__d"))
          .groupBy(col("__s"))
          .agg(sum(col("__a").cast("decimal(20,9)")).as("__hr")))
        // `a` stays live past hRaw's fetch: the result reads the last one
        h = hRaw.select(col("__s"),
          round(col("__hr").cast("double") / lit(l1(hRaw, "__hr", a)), 9).as("__h"))
      }
      h.select(lit("hub").as("kind"), col("__s").as("id"), col("__h").as("score"))
        .unionByName(
          a.select(lit("authority").as("kind"), col("__d").as("id"), col("__a").as("score")))
    }
  }
}
