package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for LLM-training-data pipelines.
  *
  * Four tiers, all shuffle-conscious:
  *   - exact: hash-groupBy on a content digest (one shuffle on a 16-byte key,
  *     map-side partial agg).
  *   - MinHash + LSH banding: near-dup candidate pairs without the O(n²)
  *     cross join — codegen'd signatures, then candidates from a per-bucket
  *     group + in-bucket pair unroll (one shuffle of (band, hash, id)
  *     triples; see bucketPairs). At 100 TB this is THE way: cost is
  *     proportional to bucket collisions, not to n².
  *   - SimHash: 64-bit bitwise signature via 64 partial-aggregable bit sums
  *     (map-side combine; no row blowup).
  *   - n-gram Jaccard verification: exact similarity on candidate pairs only.
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the smallest id per group.
    * Returns (digest, keep_id, n_dups). The digest shuffle key keeps skew
    * bounded even when one document dominates the corpus.
    */
  def exact(df: DataFrame, textCol: String, idCol: String, normalize: Boolean = true): DataFrame = {
    val content = if (normalize) lower(trim(col(textCol))) else col(textCol)
    df.groupBy(md5(content).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Rows of `df` surviving exact dedup (first id per digest wins). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(lower(trim(col(textCol))))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Word k-shingles of a text column (lowercased, whitespace-tokenized). */
  def shingles(text: Column, k: Int = 5): Column = {
    val words = split(trim(lower(text)), "\\s+")
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(words) - (k - 1), lit(1))),
        i => concat_ws(" ", slice(words, i, lit(k)))
      )
    )
  }

  /** splitmix64 finalizer — used to derive the affine MinHash family
    * constants deterministically at plan-build time (plain Scala, not per
    * row).
    */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** MinHash signatures over a DuckDB-expressible hash family: the base
    * shingle hash is the first 7 md5 hex chars (28 bits) and the i-th hash
    * function is the affine map `(a_i*h + b_i) mod (2^31-1)` — products stay
    * under 2^59 so the identical arithmetic runs on any engine with 64-bit
    * integers and no wraparound (DuckDB raises on BIGINT overflow, which
    * rules out a mod-2^64 affine family there).
    *
    * PRECONDITION (since the r16 fused kernel): `idCol` must be unique —
    * the kernel emits ONE signature row per INPUT row, where the previous
    * relational form's groupBy(id) would have merged duplicate-id rows
    * into one min-signature. Every in-repo caller feeds distinct ids
    * (warehouse contract); an external caller with duplicate ids gets one
    * row per duplicate. Signature elements are non-null longs (the old
    * min-agg typed them nullable).
    */
  def minhashSignaturesMd5(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, shingleK: Int = 5): DataFrame = {
    // r16 opt: the fused per-document kernel ([[graft.functions
    // .MinHashSigsMd5]]) computes all `numHashes` minima in ONE row-local
    // pass — replacing the explodedShingles → md5 → min-agg pipeline that
    // paid a generator row, an UnsafeRow conversion and a 64-expression
    // agg-map probe PER SHINGLE, plus a groupBy(id) exchange, to maintain
    // 64 longs of per-document state. Bit-identical (same UTF8String
    // tokenize walk, same md5-prefix arithmetic, same coefficients —
    // spec-pinned against the relational formulation); callers must pass
    // one row per id, which every caller does (the old groupBy would have
    // merged duplicate ids instead). The two-Project split below stays
    // un-collapsed (a 64-reference non-cheap alias), so the kernel runs
    // once per row — pinned by MinHashSigsMd5Spec's plan assertion.
    val sigs = df.where(col(textCol).isNotNull)
      .select(col(idCol), graft.functions.MinHashSigsMd5
        .minhashSigsMd5(col(textCol), shingleK, numHashes).as("__sigs"))
    sigs.select(col(idCol) +:
      (0 until numHashes).map(i => col("__sigs")(i).as(s"mh$i")): _*)
  }

  /** The i-th affine coefficients of the md5 MinHash family — shared with
    * the DuckDB oracle generator so both engines run the same arithmetic.
    * a in [1, 2^31-2] (never ≡ 0 mod P), b in [0, 2^31-2].
    */
  def minhashMd5Coeffs(i: Int): (Long, Long) = {
    val P = 2147483647L
    val a = (splitmix64(i.toLong * 2 + 1) >>> 33) % (P - 1) + 1
    val b = (splitmix64(i.toLong * 2 + 2) >>> 33) % P
    (a, b)
  }

  /** LSH banding on the md5 MinHash family: candidate pairs sharing at
    * least one band, where the band key is the band's signature values
    * joined with '_' (a plain string both engines build identically — no
    * engine-specific band hash). The join carries (band, key, id), never
    * documents or signatures.
    */
  def minhashCandidatePairsMd5(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5): DataFrame =
    bucketPairs(minhashBandIndexMd5(df, textCol, idCol, numHashes, bands, shingleK),
      "band", "band_key", "__id")

  /** The md5-family LSH BAND INDEX as data: (band, band_key, __id) rows —
    * the persistable form of a corpus's near-dup state. Write it to the
    * warehouse once and each daily increment joins it instead of
    * re-signing the corpus ([[incrementalCandidatePairsMd5]]). One row per
    * (doc, band); at 100 TB this is the difference between an O(increment)
    * daily dedup and an O(corpus) one.
    */
  def minhashBandIndexMd5(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    val sigs = minhashSignaturesMd5(df, textCol, idCol, numHashes, shingleK)
      .withColumnRenamed(idCol, "__id")
    val bandKeys = array((0 until bands).map { b =>
      val bandCols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"mh$i").cast("string"))
      concat_ws("_", bandCols: _*)
    }: _*)
    sigs.select(col("__id"), posexplode(bandKeys).as(Seq("band", "band_key")))
  }

  /** Incremental near-dup candidates: NEW docs against an existing corpus
    * [[minhashBandIndexMd5]] band index, plus pairs within the increment —
    * signatures are computed ONLY for the increment, and the corpus
    * contributes its stored index through one (band, band_key) equi-join.
    * Band membership is a pure per-doc function, so the result equals
    * exactly the full-corpus candidate set restricted to pairs touching
    * the increment (spec-asserted). Output (id_a, id_b), id_a < id_b.
    */
  def incrementalCandidatePairsMd5(
      newDocs: DataFrame, index: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5): DataFrame = {
    val newBands = minhashBandIndexMd5(newDocs, textCol, idCol, numHashes, bands, shingleK)
    val cross = newBands
      .join(index.withColumnRenamed("__id", "__cid"), Seq("band", "band_key"))
      .where(col("__id") =!= col("__cid"))
      .select(least(col("__id"), col("__cid")).as("id_a"),
        greatest(col("__id"), col("__cid")).as("id_b"))
      .distinct()
    val within = bucketPairs(newBands, "band", "band_key", "__id")
    cross.unionByName(within).distinct()
  }

  /** Pairs of ids sharing a bucket, WITHOUT a self-join: group ids per
    * bucket and unroll the in-bucket 2-combinations with two Generates.
    * A self-join would recompute the (expensive) signature subtree once
    * per side — Spark's ReuseExchange cannot unify them because the sides
    * differ by output aliases. This shape computes signatures once and
    * shuffles each (bucket, id) exactly once. LSH buckets are small by
    * design, so the per-bucket id list is bounded; a degenerate corpus
    * (everything identical) would hot-spot one task here exactly as it
    * would hot-spot one join key in the self-join formulation.
    *
    * Duplicate ids in the input land twice in one bucket and would emit a
    * self-pair (the old self-join's `id_a < id_b` silently excluded them);
    * the explicit `id_a =!= id_b` filter keeps the two formulations
    * equivalent whatever the caller feeds in.
    */
  private def bucketPairs(banded: DataFrame, bandCol: String, keyCol: String,
                          idCol: String): DataFrame =
    banded.groupBy(col(bandCol), col(keyCol))
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .where(size(col("__ids")) > 1)
      .select(posexplode(col("__ids")).as(Seq("__i", "id_a")), col("__ids"))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__i") + 2, size(col("__ids")))).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .distinct()

  /** All pairs within `maxHamming` bits on the md5 SimHash signature,
    * found WITHOUT the O(n²) cross join: the `bits`-wide signature splits
    * into `bands` equal bit-bands, and by pigeonhole any pair differing in
    * ≤ bands-1 bits agrees exactly on at least one band — so a self
    * equi-join on (band, bandBits) + exact Hamming filter returns
    * EXACTLY the all-pairs result (requires maxHamming < bands). The join
    * shuffles only (band, bits, id, sig) tuples.
    * Returns (id_a, id_b, hamming), deduplicated across bands.
    */
  def simhashNearDupPairs(
      df: DataFrame, textCol: String, idCol: String,
      bits: Int = 60, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits % bands == 0, "bits must be divisible by bands")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands (got $maxHamming >= $bands)")
    val bandBits = bits / bands
    val sigs = simhashMd5(df, textCol, idCol, bits)
      .select(col(idCol).as("__id"), col("simhash"))
    val bandVals = array((0 until bands).map { b =>
      shiftright(col("simhash"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
    }: _*)
    val banded = sigs.select(col("__id"), col("simhash"),
      posexplode(bandVals).as(Seq("band", "band_val")))
    // same no-self-join shape as bucketPairs, carrying the signature along
    // so the Hamming filter needs no join back
    banded.groupBy(col("band"), col("band_val"))
      .agg(sort_array(collect_list(struct(col("__id"), col("simhash")))).as("__ms"))
      .where(size(col("__ms")) > 1)
      .select(posexplode(col("__ms")).as(Seq("__i", "__a")), col("__ms"))
      .select(col("__a"),
        explode(slice(col("__ms"), col("__i") + 2, size(col("__ms")))).as("__b"))
      .select(
        col("__a.__id").as("id_a"), col("__b.__id").as("id_b"),
        bit_count(col("__a.simhash").bitwiseXOR(col("__b.simhash"))).cast("long").as("hamming"))
      // duplicate input ids would otherwise emit hamming=0 self-pairs
      // (see bucketPairs)
      .where(col("hamming") <= maxHamming && col("id_a") =!= col("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs.
    * `pairs` has (id_a, id_b); `docs` has (idCol, textCol). Joins the text
    * back (broadcast-friendly if candidates are few) and computes
    * |A∩B| / |A∪B| over distinct shingle sets.
    */
  def jaccardOnPairs(pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String, k: Int = 5): DataFrame = {
    val withSh = docs.select(col(idCol).as("__jid"), shingles(col(textCol), k).as("__sh"))
    pairs
      .join(withSh.withColumnRenamed("__jid", "id_a").withColumnRenamed("__sh", "sh_a"), Seq("id_a"))
      .join(withSh.withColumnRenamed("__jid", "id_b").withColumnRenamed("__sh", "sh_b"), Seq("id_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))
      )
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard on candidate pairs over HASHED shingle sets —
    * the scale variant of [[jaccardOnPairs]]: each doc is reduced to a set
    * of distinct xxhash64(shingle) longs (8 bytes per shingle instead of
    * the k-word string), so the two text-joins ship long arrays and the
    * shuffled payload drops ~6×, at the identical join shape. Jaccard over
    * the hashed sets equals Jaccard over the string sets unless xxhash64
    * collides within one document pair (probability ~n²/2⁶⁴ — negligible);
    * it is not replayable on engines lacking xxhash64, so the oracle path
    * keeps [[jaccardOnPairs]].
    */
  def jaccardOnPairsHashed(pairs: DataFrame, docs: DataFrame, textCol: String,
                           idCol: String, k: Int = 5): DataFrame = {
    val withSh = TextAnalysis.explodedShingles(docs, textCol, idCol, k)
      .groupBy(col(idCol))
      .agg(collect_set(xxhash64(col("__sh"))).as("__sh"))
      .select(col(idCol).as("__jid"), col("__sh"))
    pairs
      .join(withSh.withColumnRenamed("__jid", "id_a").withColumnRenamed("__sh", "sh_a"), Seq("id_a"))
      .join(withSh.withColumnRenamed("__jid", "id_b").withColumnRenamed("__sh", "sh_b"), Seq("id_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard on candidate pairs, memoized by CONTENT — the
    * high-duplication scale path. Jaccard is a pure function of the two
    * texts, and the corpora that need near-dup at 100 TB are precisely the
    * ones full of repeated content, so the candidate list maps each id pair
    * to its (xxhash64(text)_a, xxhash64(text)_b) digest pair, each DISTINCT
    * digest pair is verified once via a representative doc per digest
    * ([[jaccardOnPairsHashed]], long-array payloads), and the small verdict
    * table broadcasts back onto the id pairs. The wide candidate join thus
    * ships 8-byte digests instead of shingle sets; verification work scales
    * with distinct content, not with pair multiplicity. Values equal
    * [[jaccardOnPairs]] exactly (same shingle arithmetic, modulo the
    * negligible in-pair xxhash64-collision caveat of the hashed variant).
    */
  def jaccardOnPairsByContent(pairs: DataFrame, docs: DataFrame, textCol: String,
                              idCol: String, k: Int = 5): DataFrame = {
    val digests = docs.select(col(idCol).as("__jid"), xxhash64(col(textCol)).as("__dig"))
    val withDigs = pairs
      .join(digests.withColumnRenamed("__jid", "id_a").withColumnRenamed("__dig", "dig_a"), Seq("id_a"))
      .join(digests.withColumnRenamed("__jid", "id_b").withColumnRenamed("__dig", "dig_b"), Seq("id_b"))
    // one representative id per distinct content
    val reps = docs
      .select(xxhash64(col(textCol)).as("__dig"), col(idCol), col(textCol))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__dig")).orderBy(col(idCol))))
      .where(col("__rn") === 1)
    val repPairs = withDigs.select(col("dig_a"), col("dig_b")).distinct()
      .join(reps.select(col("__dig").as("dig_a"), col(idCol).as("__ra")), Seq("dig_a"))
      .join(reps.select(col("__dig").as("dig_b"), col(idCol).as("__rb")), Seq("dig_b"))
    val verdicts = jaccardOnPairsHashed(
        repPairs.select(col("__ra").as("id_a"), col("__rb").as("id_b")),
        docs, textCol, idCol, k)
      .join(reps.select(col(idCol).as("id_a"), col("__dig").as("dig_a")), Seq("id_a"))
      .join(reps.select(col(idCol).as("id_b"), col("__dig").as("dig_b")), Seq("id_b"))
      .select(col("dig_a"), col("dig_b"), col("jaccard"))
    // NO broadcast hint: verdict count is bounded by distinct content
    // pairs, which on a LOW-duplication corpus approaches the candidate
    // count — let Spark broadcast when small and shuffle when not, instead
    // of forcing an unbounded table through the driver
    withDigs.join(verdicts, Seq("dig_a", "dig_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash of the token stream, computed with 64 partially
    * aggregable bit-sum columns — the per-token explode shuffles only
    * (id, tokenHash) pairs and the aggregation combines map-side, so there
    * is no 64× row amplification and no per-doc array state.
    * Returns (idCol, simhash LONG).
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))
      .withColumn("__h", xxhash64(col("__tok")))
    val bitSums = (0 until 64).map { b =>
      sum((shiftright(col("__h"), b).bitwiseAND(1) * 2 - 1)).as(s"__b$b")
    }
    val agged = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"__b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agged.select(col(idCol), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash variant with md5-derived 60-bit token hashes — functionally
    * interchangeable with [[simhash]] (xxhash64 is faster) but expressible
    * in ANSI-ish SQL, so the full pipeline is oracle-checkable end to end.
    * Same partial-aggregable bit-sum formulation.
    */
  def simhashMd5(df: DataFrame, textCol: String, idCol: String, bits: Int = 60): DataFrame = {
    // the token hash is the first 15 md5 hex chars = 60 usable bits; more
    // would silently yield always-zero signature bits (dead bands)
    require(bits >= 1 && bits <= 60, s"bits must be in [1,60], got $bits")
    val toks = df.select(col(idCol), explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))
      .withColumn("__h", conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until bits).map { b =>
      sum(shiftright(col("__h"), b).bitwiseAND(1) * 2 - 1).as(s"__b$b")
    }
    val agged = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { b =>
      when(col(s"__b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agged.select(col(idCol), sig.as("simhash"))
  }

  /** Cluster-canonical retention with a caller-chosen PREFERENCE ORDER —
    * the retention policy stage between "pairs" and "kept corpus". q61
    * keeps each cluster's minimum id; real pipelines usually keep the
    * BEST member (longest text, highest quality score — the C4/
    * RefinedWeb-style policy), which this generalizes: connected
    * components over `pairs`, singletons implicitly their own cluster,
    * then one row per cluster ranked by `preference` (append the id
    * column for a total order). One labels join + one rank window on the
    * cluster key — no extra shuffle beyond the components themselves.
    */
  def retainCanonical(docs: DataFrame, pairs: DataFrame, idCol: String,
                      preference: Seq[Column]): DataFrame = {
    val labels = Components.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val withComp = docs.join(labels, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
    val w = Window.partitionBy(col("__comp")).orderBy(preference: _*)
    withComp.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__comp", "component")
  }

  /** Brute-force exact embedding near-dup: all pairs with cosine >=
    * threshold. O(n²) — the verification baseline and oracle target;
    * [[embeddingNearDupsDet]] (LSH-bucketed) is the scale path.
    */
  def embeddingNearDupsExact(df: DataFrame, vecCol: String, idCol: String,
                             threshold: Double): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosineSim(col("__va"), col("__vb")))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Embedding near-dup: pairs with cosine >= threshold among candidates
    * sharing a deterministic ±1 sign-plane LSH bucket
    * ([[Similarity.signPlaneBucket]]) — a single bucket equi-join, never
    * n², and the projection matrix regenerates from md5 on any engine, so
    * the whole LSH pipeline is oracle-replayable (q68). `dim` is the
    * embedding width, a plan-time constant for the unrolled dot products.
    * Output (id_a, id_b, cos_sim rounded to 4) over pairs whose UNROUNDED
    * cosine clears `threshold`.
    */
  def embeddingNearDupsDet(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, planes: Int, dim: Int): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val withB = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      Similarity.signPlaneBucket(col(vecCol), planes, dim).as("__bucket"))
    val l = withB.select(col("__bucket"), col("__id").as("id_a"), col("__v").as("v_a"))
    val r = withB.select(col("__bucket"), col("__id").as("id_b"), col("__v").as("v_b"))
    l.join(r, Seq("__bucket")).where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosineSim(col("v_a"), col("v_b")))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** The stored-state side of the INCREMENTAL sign-plane pipeline: the
    * bucket index [[embeddingNearDupsDetIncrement]] probes —
    * (__id, __v, __bucket), one row per stored vector. Persist it once;
    * every increment joins against it without touching stored vectors'
    * pairwise structure again.
    */
  def signPlaneIndex(df: DataFrame, vecCol: String, idCol: String,
                     planes: Int, dim: Int): DataFrame =
    df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      Similarity.signPlaneBucket(col(vecCol), planes, dim).as("__bucket"))

  /** Increment-only near-dup pair generation: every
    * [[embeddingNearDupsDet]] pair with AT LEAST ONE endpoint in `inc`,
    * found by joining the increment's buckets against the stored
    * [[signPlaneIndex]] plus the increment itself — never against stored
    * × stored (those pairs are yesterday's state). Each qualifying pair
    * emits exactly once: stored×inc pairs appear once by construction
    * (the increment is always the probe side), and inc×inc pairs keep
    * only the probe-id < build-id orientation. Shuffle ∝ increment
    * buckets + touched stored buckets — O(increment), the q72/q146/q188
    * incremental shape.
    */
  def embeddingNearDupsDetIncrement(
      storedIndex: DataFrame, inc: DataFrame, vecCol: String, idCol: String,
      threshold: Double, planes: Int, dim: Int): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val incB = signPlaneIndex(inc, vecCol, idCol, planes, dim)
    val probe = incB.select(col("__bucket"), col("__id").as("__idx"), col("__v").as("__vx"))
    val build = storedIndex
      .select(col("__bucket"), col("__id").as("__idy"), col("__v").as("__vy"),
        lit(true).as("__old"))
      .unionByName(incB.select(col("__bucket"), col("__id").as("__idy"),
        col("__v").as("__vy"), lit(false).as("__old")))
    probe.join(build, Seq("__bucket"))
      .where(col("__old") || (col("__idx") < col("__idy")))
      .where(col("__idx") =!= col("__idy"))
      .withColumn("cos_sim", cosineSim(col("__vx"), col("__vy")))
      .where(col("cos_sim") >= threshold)
      .select(least(col("__idx"), col("__idy")).as("id_a"),
        greatest(col("__idx"), col("__idy")).as("id_b"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** SemDeDup-style semantic dedup decision: cluster embeddings around
    * `numCentroids` deterministic seed centroids
    * ([[Similarity.seedCentroids]] — replayable on any engine), then mark a
    * vector a duplicate when some LOWER-id vector in the SAME cluster has
    * cosine >= `threshold`. The within-cluster self-join is the SemDeDup
    * scale design: the pair blowup is bounded by the largest cluster, not
    * the corpus (at 100 TB, sized via centroid count so clusters stay in
    * task memory), and the centroid table broadcasts — the corpus shuffles
    * once, on the cluster id. Cross-cluster near-dups are missed by
    * construction — that is the approximation SemDeDup trades for never
    * computing n² cosines. Returns (idCol, cluster_id, is_dup).
    *
    * The centroid-assignment subtree (broadcast cross join + per-vector
    * argmax window over the whole corpus) feeds the self-join twice AND
    * the final left join, so it is persisted MEMORY_AND_DISK here —
    * without it Spark recomputes the assignment three times. The cached
    * relation is (id, vector, cluster) for the corpus: disk-backed, and
    * freed by Spark's cache eviction / context shutdown (callers running
    * many corpora through one session can `spark.catalog.clearCache()`).
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    numCentroids: Int, threshold: Double): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val cents = Similarity.seedCentroids(df, vecCol, idCol, numCentroids)
    val byVec = Window.partitionBy(col("__vid")).orderBy(col("__csim").desc, col("__cid"))
    val assigned = df
      .select(col(idCol).as("__vid"), col(vecCol).as("__v"))
      .join(broadcast(cents))
      .withColumn("__csim", cosineSim(col("__v"), col("__cv")))
      .withColumn("__rn", row_number().over(byVec))
      .where(col("__rn") === 1)
      .select(col("__vid"), col("__v"), col("__cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = assigned.select(col("__cid"), col("__vid").as("__ida"), col("__v").as("__va"))
    val r = assigned.select(col("__cid"), col("__vid").as("__idb"), col("__v").as("__vb"))
    val dups = l.join(r, Seq("__cid"))
      .where(col("__ida") < col("__idb") &&
        cosineSim(col("__va"), col("__vb")) >= threshold)
      .select(col("__idb")).distinct()
    assigned.join(dups, assigned("__vid") === dups("__idb"), "left")
      .select(col("__vid").as(idCol), col("__cid").cast("long").as("cluster_id"),
        col("__idb").isNotNull.as("is_dup"))
  }
}
