package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Density-based clustering (DBSCAN, Ester et al. 1996) over an embedding
  * corpus — the curation clustering that finds dense regions WITHOUT
  * fixing k up front (k-means q86 and SemDeDup q76 both need k; density
  * templates, outlier mining, and "how many near-identical families does
  * this crawl contain" don't have one).
  *
  * Factored the way a Spark pipeline should be: the NEIGHBOR-PAIR table is
  * an INPUT (any candidate generator works — the exact all-pairs scan is
  * the oracle baseline, the sign-plane bucket join is the 100-TB path;
  * exactly the q32/q68 split), and the clustering itself is three bounded
  * relational stages on that pair set:
  *
  *   1. '''degree''': ONE map-side-combinable count over the doubled edge
  *      list → core points (neighbor count >= minPts; the point itself is
  *      NOT counted — the usual "|N_eps(p)| >= minPts" with p excluded).
  *   2. '''clusters''': connected components over the CORE-CORE edge
  *      subset ([[Components.connectedComponents]] — driver union-find
  *      small, min-label propagation at scale). Cluster label = the min
  *      core id of the component; an isolated core (>= minPts neighbors,
  *      none of them core) labels itself.
  *   3. '''border attach''': a non-core endpoint adjacent to >= 1 core
  *      takes the MIN cluster label among its core neighbors — one
  *      equi-join against the core-label table + one min-agg. Classic
  *      DBSCAN leaves border assignment scan-order-dependent; taking the
  *      min makes it deterministic on any engine (the [[Components]] tie
  *      policy), which is what lets DuckDB replay it.
  *
  * Everything after pair generation is linear in edges; nothing here is
  * quadratic in corpus size. Points that appear in no pair row, and
  * endpoints failing both the core and border tests, report role='noise'
  * with a NULL cluster.
  */
object Dbscan {

  /** Cluster `points` given the undirected neighbor relation `pairs`.
    *
    * @param points one row per point; only `idCol` is read (the full point
    *               set is needed so isolated points can report as noise)
    * @param pairs  one row per undirected neighbor pair (idA, idB) — the
    *               output shape of [[Dedup.embeddingNearDupsExact]] /
    *               [[Dedup.embeddingNearDupsDet]]. Duplicate rows would
    *               inflate degrees; generators emitting id_a < id_b once
    *               per pair (both of the above) are safe by construction.
    *               Self-loops (idA = idB) are dropped defensively below.
    * @param minPts core threshold: a point is core iff it has >= minPts
    *               neighbors (itself excluded)
    * @return (vid LONG, role STRING in core|border|noise, cluster LONG
    *         nullable) — cluster is the min core id reachable through
    *         core-core edges (cores), the min such label over adjacent
    *         cores (borders), NULL for noise
    */
  def fromPairs(points: DataFrame, idCol: String, pairs: DataFrame,
                idA: String, idB: String, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    // materialize the pair set ONCE: the three consumers below (degree
    // count, core-core edge pruning, border attach) each read it 1-2
    // times, and pair GENERATION is the expensive stage (a cosine
    // candidate join) — without this checkpoint the generator re-executes
    // five times per run. Bounded by neighbor-pair cardinality, the same
    // bound Components' own edge checkpoint lives under.
    val e = pairs
      .select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      // self-loops (src = dst) would add 2 to a point's degree and could
      // silently promote it to core — the in-repo pair generators emit
      // id_a < id_b and cannot produce one, but fromPairs accepts ANY
      // pair table, so drop them here (ADVICE r14)
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val directed = e.union(e.select(col("dst").as("src"), col("src").as("dst")))

    // stage 1: degrees — map-side combinable, shuffle carries one count
    // per distinct endpoint
    val core = directed.groupBy(col("src").as("__pt"))
      .agg(count(lit(1)).as("__deg"))
      .where(col("__deg") >= minPts)
      .select(col("__pt"))

    // stage 2: components over core-core edges only (two semi-join-shaped
    // equi-joins prune the edge list before the iterative stage ever runs)
    val coreEdges = e
      .join(core.select(col("__pt").as("src")), Seq("src"))
      .join(core.select(col("__pt").as("dst")), Seq("dst"))
      .select(col("src"), col("dst"))
    val comp = Components.connectedComponents(coreEdges, "src", "dst")
    val coreLabeled = core
      .join(comp, core("__pt") === comp("id"), "left")
      // an isolated core never reaches the edge list: it seeds its own cluster
      .select(col("__pt"), coalesce(col("component"), col("__pt")).as("__cluster"))

    // stage 3: borders — non-core endpoints adjacent to a core take the
    // min cluster label among their core neighbors
    val border = directed
      .join(coreLabeled.select(col("__pt").as("dst"), col("__cluster")), Seq("dst"))
      .join(coreLabeled.select(col("__pt").as("src")), Seq("src"), "left_anti")
      .groupBy(col("src").as("__pt"))
      .agg(min(col("__cluster")).as("__cluster"))

    points
      .select(col(idCol).cast("long").as("vid"))
      .join(coreLabeled.select(col("__pt").as("vid"), col("__cluster").as("__core_cl")),
        Seq("vid"), "left")
      .join(border.select(col("__pt").as("vid"), col("__cluster").as("__border_cl")),
        Seq("vid"), "left")
      .select(
        col("vid"),
        when(col("__core_cl").isNotNull, "core")
          .when(col("__border_cl").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("__core_cl"), col("__border_cl")).cast("long").as("cluster"))
  }
}
