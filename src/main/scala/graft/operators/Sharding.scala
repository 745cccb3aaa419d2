package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard export — the "global shuffle + split into N files" step
  * that turns a curated corpus into the shard set a data loader streams
  * (cf. the reference's per-table warehouse writes, generalized to the
  * sharded layout LLM training jobs consume; reference writes one table
  * per load — `dags/sri_vehiculos_etl_dag.py` write paths).
  *
  * A training run needs (a) an order that is STATISTICALLY shuffled —
  * neighbouring source documents must not land adjacently — and
  * (b) bit-for-bit REPRODUCIBILITY: re-exporting the same corpus on a
  * different cluster must produce identical shard contents in identical
  * order, or a resumed run silently trains on a different stream. Spark's
  * `repartition(n)` satisfies (a) but not (b): round-robin assignment
  * depends on input partition layout. Here both come from a pure per-row
  * function — an md5-derived 60-bit key (md5, not xxhash64, so any engine
  * reproduces it; same idiom as [[Sampling.bucket]]).
  *
  * Scale shape: ONE hash shuffle on the shard id, then a per-shard window
  * sort for positions. Shards ≫ executors (e.g. 100k shards at 100 TB →
  * ~1 GB each) keeps every window partition task-memory-sized; no global
  * sort, no single-partition window, no driver involvement.
  */
object Sharding {

  /** 60-bit nonnegative shuffle key: first 15 hex digits of md5 of the
    * id's string form. Engine-portable (DuckDB:
    * `CAST('0x'||substr(md5(CAST(id AS VARCHAR)),1,15) AS BIGINT)`).
    */
  def shuffleKey(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10).cast("long")

  /** Assign every row a (shard, pos) address: shard = key mod `numShards`,
    * pos = 1-based rank of the key within the shard (ties broken by id —
    * md5 collisions are astronomically unlikely but determinism must not
    * depend on that). Returns the input columns plus (shard, pos).
    */
  def assignShards(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val key = shuffleKey(col(idCol))
    val w = Window.partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    df.withColumn("__key", key)
      .withColumn("shard", (col("__key") % numShards).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__key")
  }

  /** GPT-style sequence-packing PLAN: conceptually, each shard's documents
    * are concatenated in their [[assignShards]] shuffle order and the
    * token stream is cut into fixed `seqLen`-token training sequences;
    * this emits every document's ADDRESS in that packing — the shard, its
    * token offset in the shard stream, and the first/last sequence index
    * it lands in — without materializing a single token. The export job
    * that actually writes packed sequences groups by (shard, seq) and
    * slices each doc's token_ids ([[graft.operators.TextAnalysis
    * .encodeTokens]]) against this plan; the plan IS the shuffle- and
    * boundary-defining step, and it is bit-reproducible on any engine
    * (md5 keys) so re-exports and resumed runs cut identical sequences.
    *
    * Plan shape: composes [[assignShards]] — ONE shard-keyed exchange —
    * and adds a running-sum window over the SAME partitioning (no second
    * exchange; Catalyst reuses the shard hash partitioning and only
    * re-sorts). Per-shard window state is a single running sum. Rows with
    * `tokensCol` <= 0 or null contribute nothing and are excluded.
    *
    * Output: input columns + (shard, pos, start_offset, start_seq,
    * end_seq, n_seqs) with offsets 0-based within the shard and sequence
    * indices = floor(offset / seqLen) of the doc's first/last token.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    numShards: Int, seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"))
    assignShards(df.where(col(tokensCol) > 0), idCol, numShards)
      .withColumn("__cum", sum(col(tokensCol)).over(w))
      .withColumn("start_offset", (col("__cum") - col(tokensCol)).cast("long"))
      .withColumn("start_seq", floor(col("start_offset") / seqLen).cast("long"))
      .withColumn("end_seq", floor((col("__cum") - 1) / seqLen).cast("long"))
      .withColumn("n_seqs", (col("end_seq") - col("start_seq") + 1).cast("long"))
      .drop("__cum")
  }

  /** The packed-sequence EXPORT itself — the end deliverable of the whole
    * training-data pipeline: documents → vocabulary token ids
    * ([[graft.operators.TextAnalysis.encodeTokens]]) → the
    * [[packSequences]] address plan → materialized fixed-`seqLen`
    * training sequences per shard, each serialized as a comma-joined id
    * list (the engine-portable q41/q95 convention). Each shard's trailing
    * partial sequence is DROPPED (the standard drop-last policy; the
    * count of full sequences per shard is exactly
    * ⌊shard_tokens / seqLen⌋).
    *
    * Plan shape: the plan's window carries token_ids through unchanged
    * (no extra exchange), then the ONE unavoidable export shuffle
    * co-locates tokens by (shard, seq_idx) — group state bounded by
    * seqLen ids; array_sort on the carried in-sequence offset neutralizes
    * collect_list order. Everything upstream (vocab head, encode join,
    * address plan) keeps its pinned shape.
    */
  def packedTokenSequences(df: DataFrame, textCol: String, idCol: String,
                           vocabSize: Int, numShards: Int, seqLen: Int): DataFrame =
    packEncoded(
      graft.operators.TextAnalysis.encodeTokens(df, textCol, idCol, vocabSize),
      idCol, numShards, seqLen)

  /** [[packedTokenSequences]] against a STORED (token, token_id)
    * vocabulary ([[graft.operators.TextAnalysis.encodeTokensWithVocab]]) —
    * the production export: curation verdicts pick the kept documents,
    * the frozen vocab keeps the id space stable across corpus versions,
    * and this cuts the sequences. Same plan as the one-shot form minus
    * the vocab aggregation.
    */
  def packedTokenSequencesWithVocab(df: DataFrame, textCol: String, idCol: String,
                                    vocab: DataFrame, numShards: Int,
                                    seqLen: Int): DataFrame =
    packEncoded(
      graft.operators.TextAnalysis.encodeTokensWithVocab(df, textCol, idCol, vocab),
      idCol, numShards, seqLen)

  /** Shared export tail: address-plan the encoded docs, explode ids to
    * global shard positions, regroup into full sequences.
    */
  private def packEncoded(enc: DataFrame, idCol: String,
                          numShards: Int, seqLen: Int): DataFrame = {
    val plan = packSequences(enc, idCol, "n_tokens", numShards, seqLen)
    plan
      .select(col("shard"), col("start_offset"),
        posexplode(col("token_ids")).as(Seq("__i", "__tid")))
      .select(col("shard"), (col("start_offset") + col("__i")).as("__gpos"), col("__tid"))
      .withColumn("seq_idx", floor(col("__gpos") / seqLen).cast("long"))
      .withColumn("__off", pmod(col("__gpos"), lit(seqLen.toLong)))
      .groupBy(col("shard"), col("seq_idx"))
      .agg(count(lit(1)).as("__n"),
        array_sort(collect_list(struct(col("__off"), col("__tid")))).as("__ps"))
      .where(col("__n") === seqLen)
      .select(col("shard"), col("seq_idx"),
        array_join(transform(col("__ps"), p => p.getField("__tid").cast("string")), ",")
          .as("token_ids"))
  }
}
