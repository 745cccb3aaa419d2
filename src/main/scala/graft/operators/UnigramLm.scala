package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Unigram-LM (SentencePiece; Kudo 2018) subword TRAINING — the third
  * member of the tokenizer shelf: [[Bpe]] trains a merge table, [[WordPiece]]
  * induces a count-ranked vocabulary, and the unigram LM fits PIECE
  * PROBABILITIES by EM over all segmentations, then prunes to a target
  * vocabulary. Reference scope: the reference ETL
  * (dags/sri_vehiculos_etl_dag.py) has no tokenizer; this extends the
  * LLM-training-data shelf the engine adds on top of it.
  *
  * Scale shape (the [[Bpe.train]] / [[LogReg.fitWeights]] driver-round
  * doctrine): the E-step is a per-DISTINCT-WORD kernel over a
  * broadcast-sized probability map — the corpus is never rescanned (word
  * counts come from one [[Bpe.wordTable]] aggregation), the only shuffle
  * per iteration is one map-side-combinable per-piece sum, and the driver
  * collects exactly vocabulary-cardinality scalars for the M-step. 1000
  * executors see the same plan as local[32].
  *
  * Determinism / engine parity — the q198 "integers instead of float
  * log-probs" idea carried all the way through TRAINING: the entire EM
  * trajectory is INTEGER-EXACT, floats exist only in the final report
  * column. Probabilities are integer thousandths (`p3` = max(1,
  * round½(p·10³))), so forward/backward path weights are exact BigInt
  * sums (order-independent, replayable in DuckDB HUGEINT); the
  * per-(word, piece) expected count is an integer count of BILLIONTHS,
  * γ9 = ⌊(2·num·10⁹ + Z) / (2Z)⌋ (round-half-up of num·10⁹/Z computed in
  * integer arithmetic — no engine's `round(double)` is ever consulted,
  * which is the whole trick: DuckDB rounds doubles by `x·10⁹` tricks,
  * the JVM by decimal expansion, and they disagree near 9-dp boundaries);
  * the M-step is the same integer rounding, p3' = max(1,
  * ⌊(2·e9·10³ + Σe9) / (2·Σe9)⌋). The max(·, 1) floor keeps every piece
  * segmentable (a single-char path always exists), so Z > 0 for every
  * word whose characters are in the vocabulary — and [[seedCounts]]
  * includes every occurring character by construction.
  *
  * HUGEINT headroom (the oracle's 128-bit bound, documented not assumed):
  * with edge weights w = p3·10³⁽ˡ⁻¹⁾ ≤ 10³ˡ, every n-char path weight is
  * ≤ 10³ⁿ and an n-char word has < 2ⁿ⁻¹ segmentations, so Z < 2ⁿ⁻¹·10³ⁿ;
  * the largest oracle intermediate is the γ9 numerator
  * 2·(Σ_occ alpha·w·beta)·10⁹ ≤ 2·8·Z·10⁹ ≈ 2e36 at the oracle's n ≤ 8
  * guard — under HUGEINT's 1.7e38. The Scala kernel uses BigInt and has
  * no bound; the oracle error()s loudly on longer words rather than
  * silently truncating (the q198 lguard rule).
  */
object UnigramLm {

  /** Seed vocabulary with corpus-weighted counts, from (piece, cnt)
    * substring counts ([[WordPiece.substringCounts]]'s statistic, length
    * 1..maxPieceLen, multiplicity kept): the top `seedSize` pieces by
    * (count desc, piece asc) UNIONED with every single-character piece
    * that occurs, so every word stays segmentable after any amount of EM
    * re-weighting. Bounded by seedSize + alphabet size; the top-k plans
    * as TakeOrderedAndProject. Not persisted: [[trainFromCounts]] — the
    * hot path — persists and frees the counts it passes in.
    */
  def seedCounts(pieceCounts: DataFrame, seedSize: Int): DataFrame = {
    val top = pieceCounts.orderBy(col("cnt").desc, col("piece")).limit(seedSize)
    val chars = pieceCounts.where(length(col("piece")) === 1)
    top.unionByName(chars).groupBy(col("piece")).agg(max(col("cnt")).as("cnt"))
  }

  /** Round-half-up of num/den in pure integer arithmetic:
    * ⌊(2·num + den) / (2·den)⌋ for non-negative num, positive den.
    */
  private def divRoundHalfUp(num: BigInt, den: BigInt): BigInt =
    (num * 2 + den) / (den * 2)

  /** p3 = max(1, round½((cnt·10³) / total)) — integer arithmetic, no
    * float ever. The floor keeps zero-probability pieces segmentable.
    */
  def initProb3(seed: Seq[(String, Long)]): Map[String, Long] = {
    val total = seed.map(c => BigInt(c._2)).sum
    require(total.signum > 0, "seed counts must be positive")
    seed.map { case (piece, cnt) =>
      piece -> divRoundHalfUp(BigInt(cnt) * 1000, total).toLong.max(1L)
    }.toMap
  }

  /** A piece's DP edge weight at the COMMON DENOMINATOR: a k-piece path
    * of an n-char word has true probability Π(p3ᵢ/10³) = Πp3ᵢ / 10³ᵏ, so
    * raw Πp3 products of different k are NOT comparable (a spec fixture
    * caught the unscaled form silently favoring many-piece paths).
    * Scaling each piece by 10³⁽ˡ⁻¹⁾ makes every path weight
    * Πp3 · 10³⁽ⁿ⁻ᵏ⁾ — the numerator over the shared denominator 10³ⁿ —
    * and keeps the bound Z < 2ⁿ⁻¹·10³ⁿ of the scaladoc.
    */
  private def edgeWeight(p3: Long, pieceLen: Int): BigInt =
    BigInt(p3) * BigInt(1000).pow(pieceLen - 1)

  /** One word's E-step: exact integer forward/backward over all
    * segmentations into vocabulary pieces (lengths 1..maxPieceLen) with
    * [[edgeWeight]] path weights, then the per-piece expected count in
    * integer BILLIONTHS, γ9 = round½(num·10⁹ / Z) where num =
    * Σ_occurrences alpha(p)·w·beta(p+l) — the total path weight through
    * each occurrence. Emits one row per piece occurring in the word with
    * a positive-weight path through it (γ9 itself may round to 0; the
    * row still exists, mirroring the oracle's option join). A word with
    * an out-of-vocabulary character has Z = 0 and contributes nothing —
    * impossible for [[seedCounts]]-seeded vocabularies, which carry
    * every occurring character.
    */
  private[graft] def expectedCounts(word: String, prob3: Map[String, Long],
                                    maxPieceLen: Int): Seq[(String, Long)] = {
    val n = word.length
    def w(piece: String): BigInt = prob3.get(piece) match {
      case Some(p3) if p3 > 0 => edgeWeight(p3, piece.length)
      case _ => BigInt(0)
    }
    val alpha = new Array[BigInt](n + 1)
    alpha(0) = BigInt(1)
    var j = 1
    while (j <= n) {
      var s = BigInt(0)
      var l = math.min(maxPieceLen, j)
      while (l >= 1) {
        val ew = w(word.substring(j - l, j))
        if (ew.signum > 0 && alpha(j - l).signum != 0) s += alpha(j - l) * ew
        l -= 1
      }
      alpha(j) = s
      j += 1
    }
    val z = alpha(n)
    if (z.signum == 0) return Seq.empty
    val beta = new Array[BigInt](n + 1)
    beta(n) = BigInt(1)
    var p = n - 1
    while (p >= 0) {
      var s = BigInt(0)
      var l = math.min(maxPieceLen, n - p)
      while (l >= 1) {
        val ew = w(word.substring(p, p + l))
        if (ew.signum > 0 && beta(p + l).signum != 0) s += beta(p + l) * ew
        l -= 1
      }
      beta(p) = s
      p -= 1
    }
    val num = scala.collection.mutable.HashMap.empty[String, BigInt]
    p = 0
    while (p < n) {
      var l = math.min(maxPieceLen, n - p)
      while (l >= 1) {
        val piece = word.substring(p, p + l)
        val ew = w(piece)
        if (ew.signum > 0 && alpha(p).signum != 0 && beta(p + l).signum != 0)
          num.update(piece,
            num.getOrElse(piece, BigInt(0)) + alpha(p) * ew * beta(p + l))
        l -= 1
      }
      p += 1
    }
    num.toSeq.map { case (piece, nm) =>
      piece -> divRoundHalfUp(nm * 1000000000L, z).toLong
    }
  }

  /** One EM iteration over a (word, cnt) table: E-step kernel per
    * distinct word (broadcast probabilities), one map-side-combinable
    * DECIMAL(38,0) sum of γ9·cnt per piece (exact — the billionths stay
    * integers), vocabulary-cardinality collect, then the integer M-step
    * on the driver. Returns (expected counts in billionths by piece,
    * updated p3 map).
    */
  def emIterate(words: DataFrame, prob3: Map[String, Long],
                maxPieceLen: Int): (Seq[(String, BigInt)], Map[String, Long]) = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(prob3)
    val contrib = words.select(col("word").cast("string"), col("cnt").cast("long"))
      .as[(String, Long)]
      .flatMap { case (w, c) =>
        expectedCounts(w, bc.value, maxPieceLen).map { case (piece, g9) => (piece, g9, c) }
      }
      .toDF("piece", "g9", "cnt")
    val rows = contrib
      .groupBy(col("piece"))
      .agg(sum((col("g9").cast("decimal(38,0)") * col("cnt")).cast("decimal(38,0)"))
        .as("e9"))
      .collect()
    // the E-step is complete once the collect returns; without this every
    // iteration leaves one vocabulary-sized broadcast to the
    // ContextCleaner's leisure (ADVICE r15)
    bc.destroy()
    val e9 = rows.map(r => r.getString(0) -> BigInt(r.getDecimal(1).toBigIntegerExact)).toSeq
    val tot9 = e9.map(_._2).sum
    require(tot9.signum > 0, "unigram EM: zero total expected count — empty corpus?")
    val next = e9.map { case (piece, ev) =>
      piece -> divRoundHalfUp(ev * 1000, tot9).toLong.max(1L)
    }.toMap
    (e9, next)
  }

  /** `iters` EM rounds from the [[seedCounts]] initialization. Returns the
    * trained table as a local literal (the [[LogReg.fit]] contract):
    * (piece, p3 — probability in thousandths after the last M-step,
    * e9 — the last E-step's expected count in billionths, DECIMAL(38,0)).
    * Pieces the EM starved keep p3 = 1 (the floor), so the output always
    * carries the full seed vocabulary: pruning is [[prune]]'s job, not a
    * side effect.
    */
  def train(df: DataFrame, textCol: String, maxPieceLen: Int, seedSize: Int,
            iters: Int): DataFrame =
    trainFromCounts(
      WordPiece.substringCounts(df, textCol, maxPieceLen),
      Bpe.wordTable(df, textCol).select(col("word"), col("cnt")),
      maxPieceLen, seedSize, iters)

  /** [[train]] from pre-aggregated state — the INCREMENTAL entry point:
    * both inputs are ADDITIVE over any document partition (substring
    * counts are the q197 theorem; word counts are one groupBy sum), so
    * training on merged stored+increment counts is EXACTLY the full
    * retrain while touching only count-state, never stored documents.
    * `pieceCounts` is (piece, cnt) — [[WordPiece.substringCounts]]'s
    * shape; `words` is (word, cnt) — [[Bpe.wordTable]]'s.
    */
  def trainFromCounts(pieceCounts: DataFrame, words: DataFrame,
                      maxPieceLen: Int, seedSize: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    val spark = pieceCounts.sparkSession
    import spark.implicits._
    val pc = pieceCounts.persist(StorageLevel.MEMORY_AND_DISK)
    val seed = seedCounts(pc, seedSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    pc.unpersist()
    var p3 = initProb3(seed)
    val w = words.persist(StorageLevel.MEMORY_AND_DISK)
    var e9: Seq[(String, BigInt)] = Seq.empty
    var i = 0
    while (i < iters) {
      val (ei, ni) = emIterate(w, p3, maxPieceLen)
      e9 = ei; p3 = ni
      i += 1
    }
    w.unpersist()
    e9.map { case (piece, ev) => (piece, p3(piece), new java.math.BigDecimal(ev.bigInteger)) }
      .toDF("piece", "p3", "e9")
      .select(col("piece"), col("p3"), col("e9").cast("decimal(38,0)").as("e9"))
  }

  /** Merge stored word-count state with an increment's — the same
    * additive full-outer sum as [[WordPiece.mergeCounts]], keyed on
    * `word`. O(stored words ∪ increment words).
    */
  def mergeWordCounts(stored: DataFrame, inc: DataFrame): DataFrame =
    stored.select(col("word"), col("cnt").as("__s"))
      .join(inc.select(col("word"), col("cnt").as("__n")), Seq("word"), "full_outer")
      .select(col("word"),
        (coalesce(col("__s"), lit(0L)) + coalesce(col("__n"), lit(0L))).as("cnt"))

  /** One word's Viterbi (max-probability) segmentation under a trained
    * p3 table: backward DP maximizing the integer path weight
    * Π p3·1000^(len-1) — exact BigInt comparisons, so the argmax is a
    * total order: ties break to the SHORTEST piece at each position
    * (ascending-l scan with strict >), and at a fixed (position, length)
    * at most one option exists (vocab pieces are unique; the single-char
    * OOV fallback, weight one quantum, is only generated when that char
    * is NOT in the vocabulary — a vocab char always beats-or-ties its
    * own fallback, and the tie would flip only the oov flag, so the
    * fallback simply never coexists with it). Returns
    * (pieces, n_oov, path weight).
    */
  private[operators] def viterbiSegment3(word: String, prob3: Map[String, Long],
                                         maxPieceLen: Int): (Array[String], Int, BigInt) = {
    val n = word.length
    val best = new Array[BigInt](n + 1)
    val choicePiece = new Array[String](n)
    val choiceOov = new Array[Boolean](n)
    best(n) = BigInt(1)
    var p = n - 1
    while (p >= 0) {
      var bs = BigInt(-1)
      var bp: String = null
      var bo = false
      val charInVocab = prob3.get(word.substring(p, p + 1)).exists(_ > 0)
      if (!charInVocab) {
        // OOV fallback: one quantum, flagged
        bs = best(p + 1); bp = word.substring(p, p + 1); bo = true
      }
      var l = 1
      val lMax = math.min(maxPieceLen, n - p)
      while (l <= lMax) {
        val piece = word.substring(p, p + l)
        val p3 = prob3.getOrElse(piece, 0L)
        if (p3 > 0) {
          val score = edgeWeight(p3, l) * best(p + l)
          if (score > bs) { bs = score; bp = piece; bo = false }
        }
        l += 1
      }
      best(p) = bs; choicePiece(p) = bp; choiceOov(p) = bo
      p -= 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[String](n)
    var oov = 0
    var q = 0
    while (q < n) {
      out += choicePiece(q)
      if (choiceOov(q)) oov += 1
      q += choicePiece(q).length
    }
    (out.toArray, oov, best(0))
  }

  /** Encode the corpus by max-probability segmentation against a TRAINED
    * p3 table — how a SentencePiece model serves ([[train]] → [[prune]] →
    * here completes the unigram chain the way BPE's q121 merges →
    * vocab → encode does). Same scale shape as [[WordPiece.encode]]: the
    * DP runs once per DISTINCT word over the broadcast p3 map, the
    * corpus pays one equi-join on the word. Output: (idCol, n_pieces,
    * n_oov, weight — the summed integer path weights as DOUBLE, pieces).
    * The path weight leaves the kernel as a STRING (a java BigDecimal
    * would hit the encoder's default (38,18) scale and overflow at
    * 1000⁸-scale weights) and is cast to DECIMAL(38,0) for the exact
    * per-document sum.
    */
  def viterbiEncode3(df: DataFrame, textCol: String, idCol: String,
                     prob3: Seq[(String, Long)], maxPieceLen: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val probs = prob3.toMap
    require(probs.size == prob3.size, "vocab pieces must be unique")
    // broadcast, not closure capture (VERDICT r15 item 6): at BERT-scale
    // vocabularies a captured map re-ships with every task binary; the
    // broadcast ships once per executor — emIterate's existing discipline
    val bcProbs = spark.sparkContext.broadcast(probs)
    val words = df.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(trim(lower(col(textCol))), "\\s+")).as(Seq("__pos", "__w")))
      .where(col("__w") =!= "")
    val encoded = words.select(col("__w")).distinct().as[String]
      .mapPartitions { it =>
        it.map { w =>
          val (pieces, oov, weight) = viterbiSegment3(w, bcProbs.value, maxPieceLen)
          (w, pieces, oov, weight.toString)
        }
      }
      .toDF("__w", "__pieces", "__oov", "__weight")
    words.join(encoded, Seq("__w"))
      .groupBy(col(idCol))
      .agg(
        sum(size(col("__pieces"))).cast("long").as("n_pieces"),
        sum(col("__oov")).cast("long").as("n_oov"),
        sum(col("__weight").cast("decimal(38,0)")).cast("double").as("weight"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("__pos"), col("__pieces")))),
          p => p.getField("__pieces"))), " ").as("pieces"))
  }

  /** Prune a [[train]] output to the top `keep` pieces by
    * (e9 desc, piece asc) PLUS every single-character piece (coverage is
    * non-negotiable — dropping a character makes some word
    * unsegmentable), re-ranked 1..m by the same order. Monotone by
    * construction: the retained set at keep=k is a subset of the
    * retained set at any k' > k (top-k by a fixed total order nests),
    * which the spec pins. Bounded input (vocabulary-cardinality), so the
    * rank window is the q88-bounds class of global window.
    */
  def prune(trained: DataFrame, keep: Int): DataFrame = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("e9").desc, col("piece"))
    trained
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= keep || length(col("piece")) === 1)
      .withColumn("rank", row_number().over(w).cast("long"))
      .drop("__r")
  }
}
