package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Triangle counting + global clustering coefficient over an undirected
  * pair graph — the cohesion gauge of a near-dup/match graph: a high
  * clustering coefficient says candidate pairs close into genuine
  * duplicate groups; a low one says the pair generator is chaining
  * unrelated documents (the q118 dedup-eval theme at the graph level).
  *
  * Scale shape — the degree-ordered orientation (the standard
  * distributed-triangle trick): every undirected edge orients from its
  * (degree, id)-smaller endpoint to the larger, so each triangle is
  * counted EXACTLY once and the wedge join's fan-out is bounded by
  * out-degrees, which the orientation caps at O(√m) amortized — join
  * volume O(m^{3/2}) worst case instead of Σ deg² on the raw graph
  * (hub-proof: a star graph generates ZERO oriented wedges from its
  * hub). Two equi-joins + map-side-combinable aggregations; nothing
  * driver-side.
  *
  * Returns one row: (n_vertices, n_edges, n_wedges, n_triangles,
  * global_clustering) where global_clustering = 3·triangles / wedges
  * (0 when wedge-free) and wedges = Σ deg·(deg−1)/2 over the
  * UNDIRECTED degrees.
  */
object GraphStats {

  def triangleStats(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val und = base.unionByName(base.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // orient by (deg, id): src is the smaller endpoint under that order
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .where(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("src"), col("b").as("dst"),
        col("db").as("ddst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at src: unordered out-neighbor pairs, closing edge oriented
    // (deg, id)-ascending between them — exactly how `oriented` stores it
    val e1 = oriented.select(col("src"), col("dst").as("v1"), col("ddst").as("d1"))
    val e2 = oriented.select(col("src"), col("dst").as("v2"), col("ddst").as("d2"))
    val openWedges = e1.join(e2, Seq("src"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    val closing = oriented.select(col("src").as("v1"), col("dst").as("v2"))
    val nTriangles = openWedges.join(closing, Seq("v1", "v2"))
      .agg(count(lit(1)).as("n")).head.getLong(0)
    // coalesce: on an EMPTY graph the sums come back null (ansi off) and
    // a bare getLong would NPE — an empty pair table is a legal input
    val stats = deg.agg(
      count(lit(1)).as("n_vertices"),
      coalesce((sum(col("deg")) / 2).cast("long"), lit(0L)).as("n_edges"),
      coalesce(sum(col("deg") * (col("deg") - 1) / 2).cast("long"), lit(0L))
        .as("n_wedges")).head
    base.unpersist(); deg.unpersist(); oriented.unpersist()
    val spark = pairs.sparkSession
    import spark.implicits._
    Seq((stats.getLong(0), stats.getLong(1), stats.getLong(2), nTriangles,
      if (stats.getLong(2) == 0L) 0.0
      else BigDecimal(3.0 * nTriangles / stats.getLong(2))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_vertices", "n_edges", "n_wedges", "n_triangles", "global_clustering")
  }

  /** Degree assortativity — Newman's r (PRL 2002): the Pearson
    * correlation of endpoint degrees over every directed edge
    * orientation. Positive = hubs attach to hubs (social shape),
    * negative = hubs attach to leaves (star/broadcast shape) — the
    * one-number diagnosis of whether a near-dup graph is clustered
    * communities or hub-and-spoke template explosions.
    *
    * Determinism: every moment (Σx, Σxy, Σx², n) is an exact integer
    * sum in DECIMAL(38,0) (degrees are integers); the final Pearson
    * expression computes once from exactly-cast doubles, identically
    * written in the oracle, rounded to 9. A degree-regular graph has
    * zero variance → null r (degenerate, not NaN).
    *
    * Scale shape: one degree aggregation + one edge-keyed join per
    * endpoint (shuffle ∝ edges) + one scalar aggregation. Returns one
    * row: (n_vertices, n_edges, assortativity).
    */
  def assortativity(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .where(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__a"),
        greatest(col("__a"), col("__b")).as("__b"))
      .distinct()
      // eager localCheckpoint, not persist: the caller runs the returned
      // aggregation AFTER this function exits, so a persist + unpersist
      // here would evict the blocks before the expensive final pass and
      // force the whole upstream lineage (minhash chains in q170) to
      // recompute. Checkpointed blocks survive until the plan is GC'd.
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val directed = base.unionAll(
      base.select(col("__b").as("__a"), col("__a").as("__b")))
    val deg = directed.groupBy(col("__a").as("__v"))
      .agg(count(lit(1)).as("__d"))
    val xy = directed
      .join(deg.select(col("__v").as("__a"), col("__d").as("__x")), Seq("__a"))
      .join(deg.select(col("__v").as("__b"), col("__d").as("__y")), Seq("__b"))
    val m = xy.agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast("decimal(38,0)")).as("__sx"),
      sum(col("__y").cast("decimal(38,0)")).as("__sy"),
      sum((col("__x") * col("__y")).cast("decimal(38,0)")).as("__sxy"),
      sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("__sxx"),
      sum((col("__y") * col("__y")).cast("decimal(38,0)")).as("__syy"))
    val nV = deg.count()
    val nE = base.count()
    val n = col("__n").cast("double")
    val (sx, sy, sxy, sxx, syy) = (col("__sx").cast("double"),
      col("__sy").cast("double"), col("__sxy").cast("double"),
      col("__sxx").cast("double"), col("__syy").cast("double"))
    val den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    m.select(lit(nV).as("n_vertices"), lit(nE).as("n_edges"),
      when(den > 0.0,
        round((n * sxy - sx * sy) / sqrt(den), 9)).as("assortativity"))
  }

  /** k-core extraction by FIXED-ROUND peeling — the dense-cohesion
    * filter of graph curation (Seidman, Social Networks 1983): repeat
    * `rounds` times, drop every vertex whose degree in the surviving
    * subgraph is < k. The fixpoint of this peel is the k-core; a fixed
    * round count keeps the computation exactly replayable in unrolled
    * SQL (a data-dependent loop count could not be), and the emitted
    * `converged` flag — round R's survivor count equals round R−1's —
    * says whether the fixpoint was reached; callers re-run with more
    * rounds when it is 0. Each round is one semi-join of the edge list
    * against the survivor set + one degree aggregation: shuffle ∝
    * surviving edges, monotonically shrinking.
    *
    * Fully discrete (degrees, counts) — no rounding doctrine exists.
    * Returns survivors after `rounds` peels: (id, degree) in the
    * surviving subgraph, plus `converged` (same 0/1 on every row).
    */
  def kCorePeel(pairs: DataFrame, aCol: String, bCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    Iterate { it =>
      var edges = it.checkpoint(pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
        .where(col("__a") =!= col("__b"))
        .select(least(col("__a"), col("__b")).as("__a"),
          greatest(col("__a"), col("__b")).as("__b"))
        .distinct())
      var survivors: DataFrame = null
      var prevCount = -1L
      var lastCount = -1L
      (1 to rounds).foreach { _ =>
        survivors = it.generation(edges.select(col("__a").as("__v"))
          .unionAll(edges.select(col("__b").as("__v")))
          .groupBy(col("__v")).agg(count(lit(1)).as("degree"))
          .where(col("degree") >= k))
        prevCount = lastCount
        // the count materializes `survivors` and, through it, `edges`;
        // `edges` stays cached because the next generation reads it
        lastCount = it.scalar(survivors, count(lit(1)), edges).getLong(0)
        edges = it.generation(edges
          .join(survivors.select(col("__v").as("__a")), Seq("__a"), "left_semi")
          .join(survivors.select(col("__v").as("__b")), Seq("__b"), "left_semi"))
      }
      // degrees restricted to the FINAL surviving subgraph (round R's edge
      // set), not the degrees that justified survival — re-derive once
      val finalDeg = edges.select(col("__a").as("__v"))
        .unionAll(edges.select(col("__b").as("__v")))
        .groupBy(col("__v")).agg(count(lit(1)).as("degree"))
      survivors.select(col("__v").as("id"))
        .join(finalDeg.withColumnRenamed("__v", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"),
          lit(if (prevCount == lastCount) 1L else 0L).as("converged"))
    }
  }
}
