package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town near the old stone bridge every single morning"

  test("exact dedup groups identical normalized texts") {
    val d = docs(1L -> "Hello World", 2L -> "  hello world ", 3L -> "different")
    val out = Dedup.exact(d, "text", "doc_id").collect()
    assert(out.length === 2)
    val dupGroup = out.find(_.getAs[Long]("n_dups") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") === 1L)
    assert(Dedup.exactDedup(d, "text", "doc_id").count() === 2L)
  }

  test("md5 minhash LSH finds planted near-duplicates, not unrelated docs") {
    val nearDup = base.replace("quick", "swift")
    val unrelated = "completely different content about spark catalyst optimizer rules and physical plans for distributed joins at large scale with many executors running"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> base)
    val pairs = Dedup.minhashCandidatePairsMd5(d, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact copies must collide")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)), "near-dup should collide in some band")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("simhashNearDupPairs banded join equals all-pairs hamming filter") {
    val nearDup = base.replace("quick", "swift")
    val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> base)
    val banded = Dedup.simhashNearDupPairs(d, "text", "doc_id", maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force reference over the same md5 signatures
    val sig = Dedup.simhashMd5(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sig.keys; b <- sig.keys if a < b
      h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(banded === brute, "pigeonhole banding must reproduce the exact all-pairs result")
    assert(banded.exists { case (a, b, h) => a == 1L && b == 4L && h == 0L },
      "exact copies are hamming-0 pairs")
  }

  test("simhash: identical docs equal, near-dups close, unrelated far") {
    val nearDup = base.replace("quick", "swift")
    val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> base)
    val sig = Dedup.simhash(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) === sig(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)),
      s"near-dup hamming ${ham(sig(1L), sig(2L))} should beat unrelated ${ham(sig(1L), sig(3L))}")
    assert(ham(sig(1L), sig(2L)) <= 16)
  }

  test("jaccard is exact on known shingle sets") {
    // k=1 shingles: {a b c} vs {a b d} → |∩|=2, |∪|=4 → 0.5
    val d = docs(1L -> "a b c", 2L -> "a b d")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardOnPairs(pairs, d, "text", "doc_id", k = 1)
      .collect()(0).getAs[Double]("jaccard")
    assert(j === 0.5)
    // default 5-shingles: an exact copy scores 1.0, a one-word edit less
    val nearDup = base.replace("quick", "swift")
    val d5 = docs(1L -> base, 2L -> nearDup, 3L -> base)
    val j5 = Dedup.jaccardOnPairs(Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b"),
        d5, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j5((1L, 3L)) === 1.0)
    assert(j5((1L, 2L)) >= 0.5 && j5((1L, 2L)) < 0.999, s"near-dup jaccard ${j5((1L, 2L))}")
  }

  test("duplicate input ids never emit self-pairs") {
    // an id appearing twice in the input must not yield an (id, id) pair —
    // the old self-join's id_a < id_b excluded it silently, the unrolled
    // bucket formulation filters it explicitly (ADVICE r02)
    val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(1L -> base, 2L -> base, 3L -> unrelated, 3L -> unrelated)
    val mh = Dedup.minhashCandidatePairsMd5(d, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.forall { case (a, b) => a != b }, s"self-pair in ${mh.toSeq}")
    assert(mh.contains((1L, 2L)), "distinct exact-copy ids must still pair")
    val sh = Dedup.simhashNearDupPairs(d, "text", "doc_id", maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sh.forall { case (a, b) => a != b }, s"self-pair in ${sh.toSeq}")
    assert(sh.contains((1L, 2L)), "distinct exact-copy ids must still pair")
  }

  test("retainCanonical keeps the preferred member per cluster and all singletons") {
    // clusters: {1,2,3} (chain via pairs), {10,11}, singleton {4};
    // quality = len
    val d = Seq((1L, "short", 5L), (2L, "longest text", 12L), (3L, "medium!", 7L),
      (4L, "alone", 5L), (10L, "twin", 4L), (11L, "twin", 4L))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.retainCanonical(d, pairs, "doc_id",
        preference = Seq(col("n_chars").desc, col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    // exactly one row per cluster: the longest member, the lower id on a
    // quality tie, and the singleton
    assert(kept.sorted === Seq(2L, 4L, 10L), s"one member per cluster, got $kept")
  }

  test("incremental candidates equal full-corpus candidates restricted to the increment") {
    val nearDup = base.replace("quick", "swift")
    val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    // even ids = stored corpus, odd ids = today's increment; dups planted
    // both across the split (1~2, 1~6) and within the increment (1~3)
    val d = docs(1L -> base, 2L -> base, 3L -> base, 4L -> unrelated,
      5L -> nearDup, 6L -> base)
    val full = Dedup.minhashCandidatePairsMd5(d, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 2 == 1 || b % 2 == 1 }
    val index = Dedup.minhashBandIndexMd5(d.where(col("doc_id") % 2 === 0), "text", "doc_id")
    val inc = Dedup.incrementalCandidatePairsMd5(
        d.where(col("doc_id") % 2 === 1), index, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === expected)
    assert(inc.contains((1L, 2L)) && inc.contains((1L, 3L)),
      "cross-split and within-increment dups must both surface")
  }

  test("hashed and content-memoized jaccard equal the string-shingle jaccard") {
    val nearDup = base.replace("quick", "swift")
    // duplicated content across distinct ids exercises the memoization
    val d = docs(1L -> base, 2L -> nearDup, 3L -> base, 4L -> nearDup, 5L -> "a b c d e f g h i j")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (1L, 5L)).toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> math.round(r.getDouble(2) * 1e9)).toMap
    val ref = asMap(Dedup.jaccardOnPairs(pairs, d, "text", "doc_id"))
    assert(asMap(Dedup.jaccardOnPairsHashed(pairs, d, "text", "doc_id")) === ref)
    assert(asMap(Dedup.jaccardOnPairsByContent(pairs, d, "text", "doc_id")) === ref)
  }

  test("semanticDedup: within-cluster lower-id dominance, clusters isolate") {
    // centroids = two lowest ids: 1 → (1,0), 2 → (0,1)
    val d = Seq(
      (1L, Seq(1f, 0f)),         // centroid/cluster 1, keeper
      (2L, Seq(0f, 1f)),         // centroid/cluster 2, keeper
      (3L, Seq(0.99f, 0.1f)),    // cluster 1, near 1 → dup
      (4L, Seq(0.1f, 0.99f)),    // cluster 2, near 2 → dup
      (5L, Seq(-1f, 0.1f))       // assigned cluster 2 (cos vs (0,1) beats (1,0)) but far → kept
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(d, "embedding", "vec_id", numCentroids = 2, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1L, false)) && out(3L) === ((1L, true)))
    assert(out(2L) === ((2L, false)) && out(4L) === ((2L, true)))
    assert(out(5L)._2 === false, "far member of a cluster is kept")
    assert(out.size === 5, "every vector gets a decision")
  }

  test("semanticDedup: cross-cluster near-dups are missed by design") {
    // two distant centroids; ids 3/4 are near-identical but land in
    // different clusters — SemDeDup's documented approximation
    val d = Seq(
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0.71f, 0.70f, 0f)),
      (4L, Seq(0.70f, 0.71f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(d, "embedding", "vec_id", numCentroids = 2, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(3L)._1 === 1L && out(4L)._1 === 2L, "the pair splits across clusters")
    assert(!out(3L)._2 && !out(4L)._2)
  }

  test("embedding near-dups finds the planted duplicate vector") {
    val v = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val vDup = v.map(x => x * 1.001f)
    val vOther = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val d = Seq((1L, v.toSeq), (2L, vDup.toSeq), (3L, vOther.toSeq)).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupsExact(d, "embedding", "vec_id", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L)))
  }
}
