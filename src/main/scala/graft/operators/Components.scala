package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the final stage of
  * every near-dup dedup pipeline: LSH/SimHash/embedding passes emit PAIRS,
  * but retention decisions need CLUSTERS (keep one canonical doc per
  * component, drop the rest). The reference has nothing like it; at 100 TB
  * it is mandatory — transitive closure ("A~B, B~C ⇒ drop two of three")
  * cannot be expressed as any single join.
  *
  * Two execution paths, chosen by measured edge count (the same adaptive
  * philosophy as broadcast-join thresholds):
  *
  *   - small graphs (≤ `driverThreshold` edges): union-find on the driver.
  *     Near-dup graphs are usually tiny relative to the corpus — pairs are
  *     what survived LSH + verification — and a 4M-edge union-find is
  *     milliseconds, while even one distributed iteration costs several
  *     scheduled jobs. Collecting the EDGE LIST is not collecting the
  *     corpus.
  *   - large graphs: iterative min-label propagation with pointer jumping
  *     (lbl := lbl(lbl) each round), converging in O(log diameter) rounds;
  *     each round's labels are an [[Iterate]] generation, so the plan
  *     stays shallow and superseded rounds are freed.
  *     Per round: one edges⋈labels shuffle + map-side-combinable min-agg +
  *     a label-forest self-join. For adversarial diameters the same round
  *     structure admits the large-star/small-star variant ("Connected
  *     Components in MapReduce and Beyond", Kiveris et al. 2014).
  *
  * Node ids must be integral (cast to long internally); `component` is the
  * minimum id of the node's component on both paths.
  */
object Components {

  /** Components of the undirected graph given by `pairs` (srcCol, dstCol).
    * Returns (id LONG, component LONG): one row per distinct endpoint,
    * `component` = the smallest node id reachable from `id`. Deterministic
    * for any edge order. Throws if the distributed path doesn't reach the
    * fixpoint in `maxIter` rounds.
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25,
                          driverThreshold: Long = 1L << 22): DataFrame = Iterate { it =>
    val spark = pairs.sparkSession
    // the path-deciding count below is the action that materializes the
    // edge checkpoint, so it costs no separate job
    val fwd = it.checkpoint(pairs
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      // a null endpoint is not an edge: drop up front so both paths agree
      // (the distributed equi-join would drop it silently; the driver
      // union-find would NPE on unboxing)
      .where(col("src").isNotNull && col("dst").isNotNull))
    if (fwd.count() <= driverThreshold) {
      // driver union-find (union by min root + path compression)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { x = p; p = parent.getOrDefault(x, x) }
        var y = x0 // path compression
        while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
        x
      }
      val rows = fwd.collect()
      val nodes = new java.util.HashSet[Long]()
      rows.foreach { r =>
        val (x, y) = (r.getLong(0), r.getLong(1))
        nodes.add(x); nodes.add(y)
        val (a, b) = (find(x), find(y))
        if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
      }
      import scala.jdk.CollectionConverters._
      import spark.implicits._
      nodes.asScala.toSeq.sorted.map(id => (id, find(id))).toDF("id", "component")
    } else distributedComponents(it, fwd, maxIter)
  }

  /** The large-graph path: min-label propagation + pointer jumping.
    * MEMORY_AND_DISK generations ([[Iterate]]): an adversarial edge count
    * must spill, not OOM.
    */
  private def distributedComponents(it: Iterate, fwd: DataFrame, maxIter: Int): DataFrame = {
    // `edges` and the initial `labels` both materialize inside the first
    // label-sum job (labels derives from edges)
    val edges = it.checkpoint(fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = it.generation(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")))
    // decimal(38,0) keeps the sum exact for any realistic node count even
    // with 60-bit hash ids — a wrapped long sum could (astronomically
    // rarely) alias across an iteration and stop one round early. Each
    // round's sum is the action that materializes its generation.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      Option(it.scalar(df, sum(col("lbl").cast("decimal(38,0)"))).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty graph: sum is null
    var prevSum = lblSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // propagate: each node also receives every neighbor's current label
      val received = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      val stepped = it.generation(labels.union(received)
        .groupBy("id").agg(min("lbl").as("lbl")))
      // pointer jumping: follow one extra hop through the label forest
      // (lbl := lbl(lbl)). Every lbl value is itself a node id, so the
      // inner self-join is total; lbl(lbl) <= lbl by monotonicity. Left
      // LAZY over the checkpointed `stepped`: checkpointing a
      // join-projection hands its stale constraints to the next round's
      // union, which Spark 4.1 fails to rewrite (key-not-found in
      // UnionBase.rewriteConstraints); recomputing this two-small-table
      // join per consumer is cheaper than that bug.
      val next = stepped.join(
          stepped.select(col("id").as("__pid"), col("lbl").as("__plbl")),
          col("lbl") === col("__pid"))
        .select(col("id"), col("__plbl").as("lbl"))
      // each node's label is monotonically non-increasing, so the label sum
      // strictly decreases until the fixpoint — an O(1)-output scalar agg
      // detects convergence without a labels⋈labels diff join
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id"), col("lbl").as("component"))
  }
}
