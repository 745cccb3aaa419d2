package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation over an undirected graph — the
  * label-spreading primitive of a curation pipeline: a small audited
  * seed set (domain, quality tier, topic) extends to the whole corpus
  * along the near-duplicate / similarity graph, because documents that
  * cluster together overwhelmingly share labels (Zhu & Ghahramani,
  * CMU-CALD-02-107; the hard-label variant of Raghavan et al.'s LPA).
  *
  * Synchronous clamped iteration, fixed count:
  *   - a SEED node keeps its seed label forever (clamping — the
  *     semi-supervised contract; without it labels drift off the
  *     audited ground truth);
  *   - every other node takes the MAJORITY label among its labeled
  *     neighbors' previous-round labels, ties broken by the smallest
  *     label (then nothing — count+label is a total order per node);
  *   - a node with no labeled neighbor this round CARRIES its previous
  *     label (labels only ever spread, never evaporate).
  *
  * Fully discrete — counts, strings, a deterministic tiebreak; no
  * floats exist anywhere, so the DuckDB oracle (q163) replays the
  * unrolled rounds hash-exactly with no rounding doctrine at all.
  *
  * Scale shape: per round ONE edge-keyed equi-join (labeled frontier ⋈
  * edges, shuffle ∝ edges) + one (node, label)-bounded aggregation +
  * one node-partitioned, label-bounded window for the argmax. Each
  * generation carries its node's seed label, so clamping needs no
  * per-round seed join; generations follow the [[Iterate]] policy.
  */
object LabelProp {

  /** Run `iterations` synchronous rounds over the undirected edge list
    * `(aCol, bCol)`, seeding from `seeds(idCol, labelCol)` (duplicate
    * seed ids collapse to their smallest label). Returns one row per
    * graph node: (id, label, is_seed) — label null if never reached.
    */
  def propagate(edges: DataFrame, aCol: String, bCol: String,
                seeds: DataFrame, idCol: String, labelCol: String,
                iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    Iterate { it =>
      val base = it.checkpoint(
        edges.select(col(aCol).as("__src"), col(bCol).as("__dst")).distinct())
      val directed = base
        .union(base.select(col("__dst").as("__src"), col("__src").as("__dst")))
      val seedTbl = seeds
        .select(col(idCol).as("id"), col(labelCol).cast("string").as("__seed_label"))
        .where(col("__seed_label").isNotNull)
        .groupBy(col("id")).agg(min(col("__seed_label")).as("__seed_label"))
      val init = it.generation(directed.select(col("__src").as("id")).distinct()
        .join(seedTbl, Seq("id"), "left")
        .select(col("id"), col("__seed_label").as("label"), col("__seed_label")))
      it.rounds(init, iterations) { labels =>
        val neighborVotes = directed
          .join(labels.where(col("label").isNotNull)
            .select(col("id").as("__src"), col("label")), Seq("__src"))
          .groupBy(col("__dst").as("id"), col("label"))
          .agg(count(lit(1)).as("__votes"))
        val winner = neighborVotes
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("id"))
              .orderBy(col("__votes").desc, col("label"))))
          .where(col("__rn") === 1)
          .select(col("id"), col("label").as("__win"))
        labels
          .join(winner, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("__seed_label"), col("__win"), col("label")).as("label"),
            col("__seed_label"))
      }.select(col("id"), col("label"),
        when(col("__seed_label").isNotNull, 1L).otherwise(0L).as("is_seed"))
    }
  }
}
