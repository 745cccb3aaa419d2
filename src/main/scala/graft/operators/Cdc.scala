package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-defined chunking (Rabin-style rolling hash — the storage/
  * transfer dedup primitive behind rsync, LBFS, and every dedup store):
  * split each document at positions where a fixed-window polynomial
  * hash of the trailing characters hits a residue class, so chunk
  * boundaries follow CONTENT, not offsets — an insertion early in a
  * document shifts every fixed-size block but leaves all later
  * content-defined chunks identical, which is what makes chunk-level
  * dedup survive edits. Reference scope: the reference ETL
  * (dags/sri_vehiculos_etl_dag.py) has no chunking; this extends the
  * LLM-training-data shelf (near-identical crawl snapshots, versioned
  * documents) beside whole-doc dedup ([[Dedup]]) and substring dedup
  * ([[SuffixDedup]]).
  *
  * Determinism doctrine: the hash is an EXACT integer polynomial —
  * H(i) = Σ_{j=0..w-1} code(t[i−j])·B^j with B = 101, w = 8, every term
  * ≤ 127·101⁷ so the sum stays far inside a 64-bit long with NO modular
  * reduction — and a boundary is H(i) % D == 0 (D = 61, expected chunk
  * ≈ 61 chars). B and D are PRIME and coprime so the B^j residues mix
  * (the classic B=31/D=64 pairing degenerates: 31² ≡ 1 mod 64 collapses
  * the hash to two alternating buckets and boundaries may never fire on
  * structured text — caught by this operator's spec before it shipped).
  * No min/max chunk clamps: clamps couple a boundary to
  * its predecessor and the replay stops being position-local. The
  * whole construction is therefore replayable position by position in
  * DuckDB (q208's oracle) — with the documented ASCII assumption
  * (`ascii` agrees across engines on code points < 128; the driver
  * corpus is verified all-ASCII, and the oracle guards it with an
  * error() CTE rather than silently diverging).
  *
  * Scale shape: chunking is a ROW-LOCAL array-HOF projection — split
  * to chars, one transform for the rolling hashes, one filter for
  * boundaries, one zip_with for the slices, posexplode — zero exchange
  * until a consumer aggregates; [[chunkDedupStats]] shuffles one
  * md5 DIGEST per chunk (never chunk text) for the cross-document
  * sharing counts, the [[Dedup]] content-digest doctrine.
  */
object Cdc {

  val DefaultWindow = 8
  val DefaultBase = 101L
  val DefaultDivisor = 61L

  /** Per-document content-defined chunks:
    * (<idCol>, chunk_ix LONG from 0, chunk STRING non-empty).
    */
  def chunks(docs: DataFrame, textCol: String, idCol: String,
             window: Int = DefaultWindow, base: Long = DefaultBase,
             divisor: Long = DefaultDivisor): DataFrame =
    // the per-document kernel is the native generator
    // [[graft.functions.CdcChunks]]: one compiled pass per row. The
    // equivalent array-HOF formulation (split → transform codes →
    // filter hash → zip_with slices → posexplode) is semantically
    // identical but its lambdas evaluate interpreted per element —
    // measured 14 s for 5k documents on one input partition, a ~50×
    // constant-factor tax this operator's own history documents
    // (see CdcChunks scaladoc).
    docs.where(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.CdcChunks.cdcChunks(col(textCol), window, base, divisor))
      .select(col(idCol), col("chunk_ix"), col("chunk"))

  /** Cross-document chunk sharing per document: (<idCol>, n_chunks,
    * n_shared) where a chunk is shared iff its md5 digest occurs in at
    * least 2 DISTINCT documents — the "how much of this document is
    * redundant storage" report. Only digests shuffle, never chunk text.
    */
  def chunkDedupStats(docs: DataFrame, textCol: String, idCol: String,
                      window: Int = DefaultWindow, base: Long = DefaultBase,
                      divisor: Long = DefaultDivisor): DataFrame = {
    val ch = chunks(docs, textCol, idCol, window, base, divisor)
      .select(col(idCol), md5(col("chunk")).as("__d"))
    val sharing = ch.select(col(idCol), col("__d")).distinct()
      .groupBy(col("__d")).agg(count(lit(1)).as("__docs"))
    ch.join(sharing, Seq("__d"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
  }
}
