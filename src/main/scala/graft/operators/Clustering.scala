package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding clustering — one Lloyd (k-means) iteration as a declarative
  * program: assign every vector to its nearest centroid by cosine, then
  * recompute each centroid as its members' per-dimension mean. Iterating
  * this to a fixpoint is the k-means loop a corpus-clustering /
  * SemDeDup-prep pipeline runs; the step itself is the unit worth auditing.
  *
  * Plan shape: the centroid table BROADCASTS (k rows), so assignment is a
  * broadcast join + per-vector argmax window over (vector × k) — the
  * corpus never shuffles for assignment. The update explodes members to
  * (cluster, dim, value) and runs ONE map-side-combinable aggregation; the
  * only shuffle in the whole step carries (cluster, dim) partial sums,
  * bounded by k · dim · partitions, independent of corpus size.
  *
  * Determinism: per-dimension means quantize each value to DECIMAL(28,9)
  * and sum exactly before one double division (the q71 detMean pattern),
  * so the result is partition-order invariant and replayable on any engine
  * with decimal arithmetic — a naive double sum would drift with Spark's
  * combine order and could never hash-match an oracle.
  */
object Clustering {

  /** One Lloyd iteration from [[Similarity.seedCentroids]] seeds (the
    * `numCentroids` lowest-id vectors — deterministic on any engine).
    * Output: (cluster_id, dim, n_members, centroid) with `dim` 0-based and
    * `centroid` the member mean of that dimension rounded to `roundTo`
    * decimals. Clusters that attract no members (possible once iterated
    * past step one) simply emit no rows — callers carry forward the old
    * centroid, the standard empty-cluster policy.
    */
  def lloydStep(df: DataFrame, vecCol: String, idCol: String,
                numCentroids: Int, roundTo: Int = 6): DataFrame = {
    val assigned = assignToSeedCentroids(df, vecCol, idCol, numCentroids)
    assigned
      .select(col("__cid"), posexplode(col("__v")).as(Seq("dim", "__val")))
      .groupBy(col("__cid"), col("dim"))
      .agg(
        count(lit(1)).as("n_members"),
        round(
          (sum(col("__val").cast("double").cast("decimal(28,9)")).cast("double") /
            count(lit(1))),
          roundTo).as("centroid"))
      .select(col("__cid").cast("long").as("cluster_id"),
        col("dim").cast("long").as("dim"),
        col("n_members"), col("centroid"))
  }

  /** Per-label prototype centroids — the supervised twin of [[lloydStep]]'s
    * update: every label's per-dimension member mean, decimal-quantized
    * before the sum (partition-order invariant, engine-replayable) and
    * rounded to `roundTo` decimals. Output (proto_label, dim, c), one row
    * per (label, dimension).
    *
    * Scale shape: ONE map-side-combinable aggregation; the only shuffle
    * carries (label, dim) partial sums — bounded by labels · dim ·
    * partitions, independent of corpus size.
    */
  def labelCentroids(df: DataFrame, vecCol: String, labelCol: String,
                     roundTo: Int = 6): DataFrame =
    df.select(col(labelCol).as("proto_label"),
        posexplode(col(vecCol)).as(Seq("dim", "__val")))
      .groupBy(col("proto_label"), col("dim"))
      .agg(
        count(lit(1)).as("n_members"),
        round(
          (sum(col("__val").cast("double").cast("decimal(28,9)")).cast("double") /
            count(lit(1))),
          roundTo).as("c"))

  /** [[labelCentroids]] reassembled to array form: (proto_label, proto_vec)
    * with proto_vec ordered by dimension — the broadcastable prototype
    * table assignment joins against.
    */
  def labelPrototypes(df: DataFrame, vecCol: String, labelCol: String,
                      roundTo: Int = 6): DataFrame =
    labelCentroids(df, vecCol, labelCol, roundTo)
      .groupBy(col("proto_label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x("c")).as("proto_vec"))

  /** Per-label prototype drift between two embedding snapshots — "did any
    * class's representation move?" (the embedding-space counterpart of
    * [[Drift.numericDrift]]'s value-distribution gauge; run it between an
    * accepted corpus and an incoming crawl, or across encoder versions).
    * For every label present in BOTH snapshots: member counts, the L2
    * distance and the cosine similarity between its decimal-exact
    * prototypes.
    *
    * Scale shape: each side is ONE (label, dim)-bounded map-side-
    * combinable aggregation (the [[labelCentroids]] shuffle bound — never
    * corpus-sized); the final join holds one row per label on each side.
    * Distances use the unrolled left-associated [[Quantize.l2Sq]] chain
    * and the codegen cosine kernel, both engine-replayable.
    */
  def prototypeDrift(a: DataFrame, b: DataFrame, vecCol: String, labelCol: String,
                     dim: Int, roundTo: Int = 6): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    def protos(df: DataFrame, nCol: String, vCol: String) =
      labelCentroids(df, vecCol, labelCol, roundTo)
        .groupBy(col("proto_label"))
        .agg(
          max(col("n_members")).as(nCol),
          transform(array_sort(collect_list(struct(col("dim"), col("c")))),
            x => x("c")).as(vCol))
    protos(a, "n_a", "__va")
      .join(protos(b, "n_b", "__vb"), Seq("proto_label"))
      .select(col("proto_label").as("label"), col("n_a"), col("n_b"),
        round(sqrt(Quantize.l2Sq(col("__va"), col("__vb"), dim)), 9).as("l2_dist"),
        round(cosineSim(col("__va"), col("__vb")), 9).as("cos_sim"))
  }

  /** Nearest-prototype evaluation — the standard embedding-quality probe
    * (a "prototype classifier"): build per-label centroids, assign every
    * vector to its most cosine-similar prototype, and return the confusion
    * counts (true_label, pred_label, n). The diagonal mass over the total
    * is prototype accuracy; off-diagonal cells show which label pairs the
    * embedding space confuses.
    *
    * Plan shape: prototypes BROADCAST (one row per label), so assignment
    * is a broadcast join + per-vector argmax window — the corpus is
    * scanned once and never shuffles vectors; the confusion aggregation
    * shuffles at most labels² count rows after map-side partials. Cosine
    * ties break on the lower label, making the argmax deterministic on
    * any engine.
    */
  def nearestPrototypeConfusion(df: DataFrame, vecCol: String, idCol: String,
                                labelCol: String, roundTo: Int = 6): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val protos = labelPrototypes(df, vecCol, labelCol, roundTo)
    val byVec = Window.partitionBy(col("__vid")).orderBy(col("__psim").desc, col("proto_label"))
    df.select(col(idCol).as("__vid"), col(labelCol).as("true_label"), col(vecCol).as("__v"))
      .join(broadcast(protos))
      .withColumn("__psim", cosineSim(col("__v"), col("proto_vec")))
      .withColumn("__rn", row_number().over(byVec))
      .where(col("__rn") === 1)
      .groupBy(col("true_label"), col("proto_label").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Nearest-seed-centroid assignment: (__vid, __v, __cid), one row per
    * input vector. Broadcast join + argmax window — the same shape q76's
    * SemDeDup assignment and the IVF probe stage use (cosine ties break on
    * the lower centroid id).
    */
  def assignToSeedCentroids(df: DataFrame, vecCol: String, idCol: String,
                            numCentroids: Int): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val cents = Similarity.seedCentroids(df, vecCol, idCol, numCentroids)
    val byVec = Window.partitionBy(col("__vid")).orderBy(col("__csim").desc, col("__cid"))
    df.select(col(idCol).as("__vid"), col(vecCol).as("__v"))
      .join(broadcast(cents))
      .withColumn("__csim", cosineSim(col("__v"), col("__cv")))
      .withColumn("__rn", row_number().over(byVec))
      .where(col("__rn") === 1)
      .select(col("__vid"), col("__v"), col("__cid"))
  }
}
