package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Curriculum, Dedup, Multimodal, Sampling, Sharding, TextAnalysis}
import graft.sources.Parquet

/** End-to-end curation CLI — the product surface of the LLM-data half of
  * the engine, the way [[graft.etl.SriMain]] is for the star-schema ETL
  * half. One command takes a raw documents table and produces
  * training-ready, split-assigned, sharded parquet plus a run manifest:
  *
  *   1. exact dedup (content digest, keep lowest id);
  *   2. near-dup retention (banded minhash → Jaccard ≥ 0.8 confirm →
  *      keep the longest variant per cluster — the q83 verdict chain);
  *   3. quality gate (token count ≥ 20, supported language);
  *   4. train/validation/test assignment (md5-bucket row function);
  *   5. curriculum phase from length quantiles + deterministic shard
  *      assignment — output is ready to stream in training order;
  *   6. a JSON manifest recording every stage's row count (the
  *      audit-record discipline of SriMain's run ledger): drops are
  *      accounted, not silent.
  *
  * Everything is a composition of the oracle-checked operators; the CLI
  * adds sequencing, persistence, and the manifest. Deterministic end to
  * end: rerunning over the same input writes byte-identical splits and
  * manifest counts (spec-asserted).
  *
  * With a fourth argument the run also curates a MEDIA corpus: every
  * asset decode-verifies through the real [[graft.operators.Multimodal]]
  * kernels, undecodable payloads quarantine as `dropped_undecodable` in
  * the same manifest, and the genuinely-decoded feature rows land in
  * `outDir/media_features`.
  *
  * Usage: `runMain graft.CurateMain <docsParquetDir> <outDir> [numShards] [mediaParquetDir]`
  */
object CurateMain {

  /** The curation verdict chain (q83's rules) + split/phase/shard columns.
    * Returns the KEPT rows only, with (split, phase, shuffle_key, shard)
    * appended, plus the per-stage counts for the manifest.
    */
  def curate(spark: SparkSession, docs: DataFrame, numShards: Int):
      (DataFrame, Map[String, Long]) = {
    val input = docs.persist(StorageLevel.MEMORY_AND_DISK)
    val nInput = input.count()

    val cand = Dedup.minhashCandidatePairsMd5(input, "text", "doc_id",
      numHashes = 64, bands = 16)
    val nearDups = Dedup.jaccardOnPairsByContent(cand, input, "text", "doc_id", k = 5)
      .where(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"))
    val canonical = Dedup.retainCanonical(input, nearDups, "doc_id",
        preference = Seq(col("n_chars").desc, col("doc_id")))
      .select(col("doc_id"), lit(1L).as("__canon"))
    val exactKeep = Dedup.exactDedup(input, "text", "doc_id")
      .select(col("doc_id"), lit(1L).as("__exact"))

    val judged = input
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .join(exactKeep, Seq("doc_id"), "left")
      .join(canonical, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("__exact").isNull, "exact_dup")
          .when(col("__canon").isNull, "near_dup")
          .when(col("n_tokens") < 20, "too_short")
          .when(!col("lang").isin("en", "es", "de", "fr"), "lang_filtered")
          // curriculumOrder scores by n_chars and filters null scores: a
          // null-n_chars row surviving to that inner join would vanish
          // from the output while still counting as "kept" — account it
          // as an explicit drop instead (drops are accounted, not silent)
          .when(col("n_chars").isNull, "no_score")
          .otherwise("keep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val byReason = judged.groupBy(col("reason")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val kept = judged.where(col("reason") === "keep")
      .drop("__exact", "__canon", "reason")
    val withSplit = Sampling.assignSplits(kept, "doc_id",
      Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05))
    val withPhase = Curriculum.curriculumOrder(withSplit.select("doc_id", "n_chars"),
        "doc_id", "n_chars", nPhases = 4)
      .join(withSplit, Seq("doc_id"))
    val sharded = Sharding.assignShards(withPhase, "doc_id", numShards)
    val counts = Map("input" -> nInput) ++
      byReason.map { case (k, v) => s"dropped_$k" -> v } - "dropped_keep" +
      ("kept" -> byReason.getOrElse("keep", 0L))
    input.unpersist()
    (sharded, counts)
  }

  /** The media-bearing corpus path: decode-verify every asset through the
    * REAL [[Multimodal.extractFeatures]] kernels and quarantine what does
    * not decode. The stub marker plane (feature(0) == −1: no real kernel
    * for the mime type, or a malformed payload of a decodable type) is
    * exactly the decode-failure signal, so the curation gate turns it
    * into an accounted `dropped_undecodable` manifest reason — the media
    * kernels plugged into the product surface, with the same
    * drops-are-accounted discipline as the text chain. Returns (kept
    * feature rows — every one genuinely decoded — and the manifest
    * counts).
    */
  def curateMedia(spark: SparkSession, media: org.apache.spark.sql.Dataset[Multimodal.MediaRecord]):
      (DataFrame, Map[String, Long]) = {
    val feats = Multimodal.extractFeatures(media).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nInput = feats.count()
    val kept = feats.where(element_at(col("feature"), 1) =!= -1.0f)
    val nKept = kept.count()
    val counts = Map(
      "media_input" -> nInput,
      "media_kept" -> nKept,
      "media_dropped_undecodable" -> (nInput - nKept))
    (kept, counts)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurateMain <docsParquetDir> <outDir> [numShards] [mediaParquetDir]")
    val (docsPath, outDir) = (args(0), args(1))
    val numShards = args.lift(2).map(_.toInt).getOrElse(8)
    val mediaPath = args.lift(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // Sessions.acquire, not bare getOrCreate: in a host JVM with a live
    // session (tests, embedders) getOrCreate JOINS it, and stopping a
    // joined session would kill the host's — release() below only stops
    // a session this main itself created.
    val (spark, owned) = Sessions.acquire(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true"))
    spark.sparkContext.setLogLevel("WARN")

    val docs = Parquet.read(spark, docsPath)
    val (sharded, textCounts) = curate(spark, docs, numShards)

    // one directory per split, shard-partitioned, training-order sort key
    // in the data (phase, shuffle_key) — a consumer streams ORDER BY them
    sharded.write.mode("overwrite")
      .partitionBy("split", "shard")
      .parquet(s"$outDir/curated")

    // optional media-bearing corpus: decode-verify + quarantine, kept
    // feature rows land next to the curated text splits
    val counts = mediaPath match {
      case Some(path) =>
        import spark.implicits._
        val media = Parquet.read(spark, path).as[Multimodal.MediaRecord]
        val (keptFeats, mediaCounts) = curateMedia(spark, media)
        keptFeats.write.mode("overwrite").parquet(s"$outDir/media_features")
        textCounts ++ mediaCounts
      case None => textCounts
    }

    val manifest = counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/manifest.json"), manifest + "\n")
    println(manifest)
    Sessions.release(spark, owned)
  }
}
