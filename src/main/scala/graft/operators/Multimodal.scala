package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads travel as opaque `binary` columns next to typed metadata,
  * the standard Spark pattern for petabyte media corpora: parquet stores the
  * bytes inline (small assets) or a URI (large assets), partitioning and
  * shuffles treat the payload as a blob, and per-record decode runs inside
  * `mapPartitions` so each task amortizes codec initialization across its
  * whole partition (the JVM-side equivalent of `mapInPandas` batching).
  *
  * Decode kernels come in two honesty classes:
  *   - REAL, pure-JVM ([[MediaCodecs]]): PCM WAV audio (RIFF chunk walk →
  *     sample rate, duration, RMS, peak, zero-cross rate), binary PPM
  *     (P6) images (header + raster), PNG/JPEG through the JDK's own
  *     `javax.imageio` — real dimensions, channel means, luminance —
  *     MP4 CONTAINER demux via the
  *     ISO BMFF box walk (duration, dimensions, track count), and
  *     Motion-JPEG video FRAME decode end-to-end (AVI RIFF demux →
  *     per-frame JPEG decode → frame count, luma, temporal motion).
  *     No fakes.
  *   - NOT DECODED only for H.264/H.265 FRAME payloads (the codec bytes
  *     inside mdat): frame decode is behind the pluggable [[FrameDecoder]]
  *     seam, and the JDK registers no decoder for those codecs — so they
  *     take the explicit -1 marker plane ("no decoder registered", not a
  *     fake of ours). A deployment with a real codec registers it via
  *     [[FrameDecoder.register]] and these paths light up untouched.
  *     The stub kernel still emits fake-but-stable features so the
  *     surrounding plumbing (schema, batching, partitioning, joins) stays
  *     testable and is real.
  * [[extractFeatures]] dispatches by mime type: decodable payloads get the
  * real kernel, everything else falls back to the stub; a malformed
  * payload of a decodable type yields the stub features too (quarantine
  * semantics — never a task failure).
  */
object Multimodal {

  /** A media asset row: payload + typed metadata. */
  case class MediaRecord(
      media_id: Long,
      modality: String,          // "image" | "audio" | "video"
      content: Array[Byte],
      mime_type: String,
      width: Option[Int],        // images/video
      height: Option[Int],
      sample_rate: Option[Int],  // audio
      duration_ms: Option[Long]  // audio/video
  )

  /** Extracted feature row (decode output). */
  case class MediaFeatures(
      media_id: Long,
      modality: String,
      n_bytes: Long,
      content_digest: String,
      feature: Array[Float]      // fixed-size feature vector
  )

  val FeatureDim = 16

  /** STUB decode kernel: a real implementation would MP4-demux and run a
    * vision encoder here. This deterministic fake hashes byte windows into
    * a fixed-size float vector so tests can assert exact values.
    *
    * Slot 0 is the marker plane and the stub claims it EXPLICITLY
    * (-1.0f): real kernels write 1.0 (audio) / 2.0 (image) there, and an
    * accumulated byte sum could land on exactly those values by
    * coincidence (it did, 6 times in 16,666 at the ×10 scale proof) —
    * a consumer must never have to guess whether a feature row was
    * really decoded. Byte content accumulates into slots 1..15 only.
    */
  private[operators] def stubDecodeFeatures(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    out(0) = -1.0f // stub marker plane: honestly not-decoded
    var i = 0
    while (i < bytes.length) {
      val slot = 1 + i % (FeatureDim - 1)
      out(slot) = out(slot) + (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }

  private def hexDigest(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  /** REAL feature vector for a decoded WAV: normalized rate, duration,
    * RMS, peak, zero-cross rate, sample count — analytically checkable
    * signal statistics (a sine of amplitude a has RMS a/√2).
    */
  private[operators] def wavFeatures(info: MediaCodecs.WavInfo): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    out(0) = 1.0f // decoded-for-real marker plane: audio
    out(1) = info.sampleRate / 48000.0f
    out(2) = info.durationMs / 1000.0f
    out(3) = info.rms.toFloat
    out(4) = info.peak.toFloat
    out(5) = info.zeroCrossRate.toFloat
    out(6) = info.nSamples / 1e6f
    out
  }

  /** REAL feature vector for a decoded P6 image: normalized dimensions,
    * channel means, Rec.601 luminance.
    */
  private[operators] def ppmFeatures(info: MediaCodecs.PpmInfo): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    out(0) = 2.0f // decoded-for-real marker plane: image
    out(1) = info.width / 4096.0f
    out(2) = info.height / 4096.0f
    out(3) = (info.meanR / 255.0).toFloat
    out(4) = (info.meanG / 255.0).toFloat
    out(5) = (info.meanB / 255.0).toFloat
    out(6) = (info.meanLuma / 255.0).toFloat
    out
  }

  /** REAL feature vector for a demuxed MP4 container: duration,
    * presentation dimensions, track count — container metadata from the
    * actual box walk. Frame-content planes stay zero (frame decode for
    * H.264/H.265 payloads needs codecs the JVM lacks).
    */
  private[operators] def mp4Features(info: MediaCodecs.Mp4Info): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    out(0) = 3.0f // decoded-for-real marker plane: video container
    out(1) = info.durationMs / 1000.0f
    out(2) = info.width / 4096.0f
    out(3) = info.height / 4096.0f
    out(4) = info.nTracks.toFloat
    out
  }

  /** REAL feature vector for a FRAME-DECODED Motion-JPEG video: frame
    * count, fps, dimensions from the decoded rasters, mean luma across
    * frames, and the temporal motion statistic (mean consecutive-frame
    * luma delta) — none of which exist without actually decoding every
    * frame.
    */
  private[operators] def mjpegFeatures(info: MediaCodecs.MjpegInfo): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    out(0) = 4.0f // decoded-for-real marker plane: video FRAMES
    out(1) = info.nFrames / 1000.0f
    out(2) = info.fps.toFloat / 60.0f
    out(3) = info.width / 4096.0f
    out(4) = info.height / 4096.0f
    out(5) = (info.meanLuma / 255.0).toFloat
    out(6) = (info.motion / 255.0).toFloat
    out
  }

  /** Decode + feature-extract over a partitioned media Dataset. Runs in
    * `mapPartitions` so codec state is initialized once per task; output
    * is a columnar-friendly fixed-width feature table. Dispatch: WAV and
    * P6 payloads run the REAL [[MediaCodecs]] kernels; compressed/unknown
    * formats (and malformed decodable payloads) fall back to the stub.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    // frame decoders resolve on the DRIVER and travel in the closure —
    // executors never consult the registry (registration is a driver act)
    val mjpegDecoder = FrameDecoder.forCodec("MJPEG")
    media.mapPartitions { it =>
      // real impl for compressed codecs would initialize decoder context
      // here, once per partition; the pure-JVM kernels need no state
      it.map { m =>
        val feature = m.mime_type match {
          case "audio/wav" | "audio/x-wav" =>
            MediaCodecs.decodeWav(m.content).map(wavFeatures)
              .getOrElse(stubDecodeFeatures(m.content))
          case "image/x-portable-pixmap" =>
            MediaCodecs.decodePpm(m.content).map(ppmFeatures)
              .getOrElse(stubDecodeFeatures(m.content))
          case "image/png" | "image/jpeg" =>
            MediaCodecs.decodeCompressedImage(m.content).map(ppmFeatures)
              .getOrElse(stubDecodeFeatures(m.content))
          case "video/mp4" =>
            MediaCodecs.decodeMp4Meta(m.content).map(mp4Features)
              .getOrElse(stubDecodeFeatures(m.content))
          case "video/x-msvideo" =>
            MediaCodecs.decodeAviMjpeg(m.content, mjpegDecoder).map(mjpegFeatures)
              .getOrElse(stubDecodeFeatures(m.content))
          case _ => stubDecodeFeatures(m.content)
        }
        MediaFeatures(
          media_id = m.media_id,
          modality = m.modality,
          n_bytes = m.content.length.toLong,
          content_digest = hexDigest(m.content),
          feature = feature
        )
      }
    }
  }

  /** Oracle-checkable slice of the MJPEG frame decoder: one row per
    * Motion-JPEG asset with the REALLY-demuxed-and-decoded frame count,
    * raster dimensions and fps, plus a quarantine flag (undecodable
    * assets surface as decoded=false with −1 stats rather than vanish —
    * the manifest-accounting contract). Against [[mediaRealAssets]] the
    * numbers are independently predictable from the synthesis formula,
    * which is exactly what makes the real decode oracle-checkable.
    */
  def mjpegFrameStats(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    val dec = FrameDecoder.forCodec("MJPEG")
    media.filter(_.mime_type == "video/x-msvideo")
      .map { m =>
        MediaCodecs.decodeAviMjpeg(m.content, dec) match {
          case Some(i) => (m.media_id, true, i.nFrames.toLong, i.width.toLong, i.height.toLong, i.fps)
          case None    => (m.media_id, false, -1L, -1L, -1L, -1.0)
        }
      }.toDF("media_id", "decoded", "n_frames", "width", "height", "fps")
  }

  /** [[mjpegFrameStats]]'s MP4 twin: one row per video/mp4 asset with the
    * frame count / dimensions / fps REALLY resolved through the ISO-BMFF
    * sample tables (stco × stsc × stsz) and JPEG-decoded per sample —
    * same schema, same quarantine contract (decoded=false, −1 stats).
    */
  def mp4FrameStats(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    val dec = FrameDecoder.forCodec("MJPEG")
    media.filter(_.mime_type == "video/mp4")
      .map { m =>
        MediaCodecs.decodeMp4Mjpeg(m.content, dec) match {
          case Some(i) => (m.media_id, true, i.nFrames.toLong, i.width.toLong, i.height.toLong, i.fps)
          case None    => (m.media_id, false, -1L, -1L, -1L, -1.0)
        }
      }.toDF("media_id", "decoded", "n_frames", "width", "height", "fps")
  }

  /** Planted MJPEG-in-MP4 corpus — [[mediaRealAssets]]'s video slice in
    * the OTHER container: one real faststart MP4 per doc_id ≡ 2 (mod 3),
    * 3 + id%5 JPEG frames at 32×24, 10 fps, frame rasters from the same
    * rotate-and-brighten formula as the AVI plant. Every 5th such asset
    * (id % 5 == 4) ships TAIL-TRUNCATED by 10 bytes — faststart order
    * puts mdat last, so the cut severs the final SAMPLE and the
    * stco/stsz bounds check must quarantine the whole asset (never a
    * silently shorter video).
    */
  def mediaMp4Videos(spark: SparkSession, documents: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .filter(_._1 % 3 == 2)
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val (w, h) = (32, 24)
          val nFrames = (3 + id % 5).toInt
          val full = MediaCodecs.syntheticMp4Mjpeg(text.getBytes("UTF-8"), w, h, nFrames, 10)
          val payload = if (id % 5 == 4) full.dropRight(10) else full
          MediaRecord(id, "video", payload, "video/mp4",
            Some(w), Some(h), None, Some(nFrames * 100L))
        }
      }
  }

  /** Build a media table of GENUINELY DECODABLE assets from the documents
    * table: every "image" row carries a real raster seeded from the text
    * bytes — alternating uncompressed P6 PPM and compressed PNG, so both
    * the byte-arithmetic and the javax.imageio kernels decode well-formed
    * files at every scale factor — every "audio" row a real PCM WAV sine
    * tone seeded from the doc id, and every "video" row alternating a
    * real Motion-JPEG AVI (3 + id % 5 genuinely JPEG-encoded frames the
    * frame decoder reads back END-TO-END) and a real minimal ISO BMFF
    * tree (ftyp + moov) whose mvhd/tkhd the container demux parses —
    * the H.264-shaped case where container metadata is the honest
    * ceiling. Runs the synthesis in mapPartitions (same shape as decode).
    */
  def mediaRealAssets(spark: SparkSession, documents: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        it.map { case (id, text, nChars) =>
          (id % 3) match {
            case 0 =>
              val (w, h) = (32, 24)
              if ((id / 3) % 2 == 0)
                MediaRecord(id, "image",
                  MediaCodecs.syntheticPpm(text.getBytes("UTF-8"), w, h),
                  "image/x-portable-pixmap", Some(w), Some(h), None, None)
              else
                MediaRecord(id, "image",
                  MediaCodecs.syntheticPng(text.getBytes("UTF-8"), w, h),
                  "image/png", Some(w), Some(h), None, None)
            case 1 =>
              val rate = 16000
              val n = math.max(1600, math.min(16000, nChars.toInt * 8))
              MediaRecord(id, "audio", MediaCodecs.syntheticWav(id, n, rate),
                "audio/wav", None, None, Some(rate), Some(n * 1000L / rate))
            case _ =>
              if ((id / 3) % 2 == 0) {
                val (w, h) = (32, 24)
                val nFrames = (3 + id % 5).toInt
                val fps = 10
                MediaRecord(id, "video",
                  MediaCodecs.syntheticAviMjpeg(text.getBytes("UTF-8"), w, h, nFrames, fps),
                  "video/x-msvideo", Some(w), Some(h), None,
                  Some(nFrames * 1000L / fps))
              } else {
                val (w, h) = (64, 48)
                MediaRecord(id, "video",
                  MediaCodecs.syntheticMp4(nChars * 10, w, h), "video/mp4",
                  Some(w), Some(h), None, Some(nChars * 10))
              }
          }
        }
      }
  }

  /** Sibling ids in [[mediaBlockImages]] live 1e9 above their original —
    * far past any documents doc_id at every shipped scale factor.
    */
  val BlockSiblingOffset = 1000000000L

  /** Planted block-image corpus for the perceptual-hash family: one
    * 32×32 two-level block PPM per document ([[MediaCodecs
    * .syntheticBlockPpm]] — aHash known by construction), plus, for
    * every 10th document, a NEAR-DUPLICATE sibling with blocks 1 and 2
    * flipped (exactly 2 Hamming bits away) at id + [[BlockSiblingOffset]].
    */
  def mediaBlockImages(spark: SparkSession, documents: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].flatMap { id =>
      val orig = MediaRecord(id, "image", MediaCodecs.syntheticBlockPpm(id),
        "image/x-portable-pixmap", Some(32), Some(32), None, None)
      if (id % 10 == 0)
        Seq(orig, MediaRecord(id + BlockSiblingOffset, "image",
          MediaCodecs.syntheticBlockPpm(id, flips = Seq(1, 2)),
          "image/x-portable-pixmap", Some(32), Some(32), None, None))
      else Seq(orig)
    }
  }

  /** Planted block-audio corpus — the audio twin of [[mediaBlockImages]]:
    * one 64-window two-level WAV per document ([[MediaCodecs
    * .syntheticBlockWav]] — fingerprint known by construction), plus a
    * 2-window-flipped near-dup sibling for every 10th document at
    * id + [[BlockSiblingOffset]].
    */
  def mediaBlockAudio(spark: SparkSession, documents: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].flatMap { id =>
      val orig = MediaRecord(id, "audio", MediaCodecs.syntheticBlockWav(id),
        "audio/wav", None, None, Some(16000), Some(1000L))
      if (id % 10 == 0)
        Seq(orig, MediaRecord(id + BlockSiblingOffset, "audio",
          MediaCodecs.syntheticBlockWav(id, flips = Seq(1, 2)),
          "audio/wav", None, None, Some(16000), Some(1000L)))
      else Seq(orig)
    }
  }

  /** aHash row: decoded=false (hash 0) quarantines undecodable payloads
    * — the marker-plane doctrine, a consumer never guesses.
    */
  case class AHashRow(media_id: Long, decoded: Boolean, ahash: Long)

  /** Per-asset 64-bit audio fingerprint ([[MediaCodecs
    * .audioFingerprint64]]) — the audio near-dup signature, same row
    * contract as [[imageAHash]].
    */
  def audioFingerprint(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.modality == "audio").map { m =>
      MediaCodecs.audioFingerprint64(m.content) match {
        case Some(h) => AHashRow(m.media_id, decoded = true, h)
        case None    => AHashRow(m.media_id, decoded = false, 0L)
      }
    }.toDF()
      // materialize the ~17-byte/asset hash rows ONCE (r16 opt): the
      // decode kernel is an opaque typed map, so every downstream consumer
      // — the band self-join's two scans, retention's verdict join, even a
      // final orderBy's range-partition SAMPLE pass — would otherwise
      // re-decode the whole corpus per scan. The guide-§8 proxy-rows rule:
      // heavy bytes decode once, every decision reads the tiny hash table.
      // LIFECYCLE NOTE (ADVICE r16): the checkpoint's MEMORY_AND_DISK
      // blocks are freed only when the ContextCleaner GCs the owning RDD —
      // neither this operator nor its callers unpersist (the consumers
      // hold the frame through lazy multi-job pipelines, so no caller owns
      // a safe unpersist point). Per invocation the retained state is
      // ~17 bytes/asset; long-lived sessions invoking it repeatedly rely
      // on GC-driven cleanup (Bench clears between runs; a service would
      // localCheckpoint onto a bounded session or call reliable
      // checkpoint with a managed directory instead).
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Build the image-hash and audio-fingerprint tables with their
    * decode-materializing checkpoint jobs submitted CONCURRENTLY (r17
    * opt, guide §2.6 "overlap independent jobs"): the two eager decode
    * kernels are independent single-pass scans whose task counts are
    * bounded by the media table's input splits, so running them back to
    * back serializes two under-parallelized jobs (measured 1.28 s + 0.92 s
    * sequential for q154 at sf0.1; overlapped, wall = the larger one).
    * Actions are submitted from two driver threads — Spark schedules the
    * two jobs' tasks side by side, on a cluster exactly as locally.
    */
  def imageAndAudioHashes(images: Dataset[MediaRecord],
                          audio: Dataset[MediaRecord]): (DataFrame, DataFrame) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fi = scala.concurrent.Future(imageAHash(images))
      val fa = scala.concurrent.Future(audioFingerprint(audio))
      (scala.concurrent.Await.result(fi, scala.concurrent.duration.Duration.Inf),
        scala.concurrent.Await.result(fa, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** Per-image 64-bit average hash ([[MediaCodecs.aHash64]]) — the
    * perceptual signature the image near-dup pipeline keys on. A typed
    * map over the partition-local decode kernel: per-row pure CPU,
    * nothing corpus-sized in memory.
    */
  def imageAHash(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.modality == "image").map { m =>
      MediaCodecs.aHash64(m.content) match {
        case Some(h) => AHashRow(m.media_id, decoded = true, h)
        case None    => AHashRow(m.media_id, decoded = false, 0L)
      }
    }.toDF()
      // one decode pass per corpus — see [[audioFingerprint]]'s note
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** All (id_a < id_b) pairs within `maxHamming` bits of a 64-bit
    * perceptual hash (image aHash, audio fingerprint), via banded
    * blocking — the simhash pigeonhole (Dedup.simhashNearDupPairs)
    * applied to the media hashes: the 64-bit hash splits into
    * maxHamming+1 disjoint bands, a pair within the threshold must agree
    * on at least one whole band, so candidates come from maxHamming+1
    * equi-joins on (band, value) — shuffle ∝ n·bands, never n² — and the
    * exact `bit_count(xor)` confirm prunes the over-admits. Returns
    * (id_a, id_b, hamming).
    */
  /** The maxHamming+1-band decomposition of a 64-bit hash table —
    * (__id, __h, band, v), the joinable/STORABLE blocking index of the
    * perceptual-hash family (the fuzzy-join variant-table analogue):
    * a pair within the threshold must agree on at least one whole band
    * (pigeonhole), so candidates come from (band, v) equi-joins.
    */
  def bandedHashes(hashes: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 7,
      s"maxHamming must be in [1,7], got $maxHamming")
    val bands = maxHamming + 1
    val width = 64 / bands
    hashes
      .select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .select(col("__id"), col("__h"),
        explode(array((0 until bands).map { i =>
          val lo = i * width
          val w = if (i == bands - 1) 64 - lo else width
          struct(lit(i).as("band"),
            shiftrightunsigned(col("__h"), lo)
              .bitwiseAND(lit((1L << w) - 1)).as("v"))
        }: _*)).as("__b"))
      .select(col("__id"), col("__h"),
        col("__b.band").as("band"), col("__b.v").as("v"))
  }

  def hamming64NearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                            maxHamming: Int = 3): DataFrame = {
    val banded = bandedHashes(hashes, idCol, hashCol, maxHamming)
    val a = banded.select(col("__id").as("id_a"), col("__h").as("__ha"),
      col("band"), col("v"))
    val b = banded.select(col("__id").as("id_b"), col("__h").as("__hb"),
      col("band"), col("v"))
    a.join(b, Seq("band", "v"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Incremental near-dup pairs: new hashes against a STORED band index
    * ([[bandedHashes]] of the existing corpus) plus the in-batch unroll —
    * every pair touching the increment, at O(increment·bands) join
    * volume; the corpus is never re-banded (the q72 incremental-dedup
    * doctrine for the media family).
    */
  def hamming64NearDupsIncremental(newHashes: DataFrame, index: DataFrame,
                                   idCol: String, hashCol: String,
                                   maxHamming: Int = 3): DataFrame = {
    val inc = bandedHashes(newHashes, idCol, hashCol, maxHamming)
    val a = inc.select(col("__id").as("id_a"), col("__h").as("__ha"),
      col("band"), col("v"))
    val b = index.select(col("__id").as("id_b"), col("__h").as("__hb"),
      col("band"), col("v"))
    val cross = a.join(b, Seq("band", "v"))
      .where(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
    cross.unionByName(
      hamming64NearDupPairs(newHashes, idCol, hashCol, maxHamming))
      .distinct()
  }

  /** Build a synthetic media table from the documents table: encodes text as
    * the binary payload. This stands in for reading real assets and gives
    * every scale factor a media corpus with knowable contents.
    */
  def mediaFromDocuments(spark: SparkSession, documents: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(
      col("doc_id").as("media_id"),
      when(pmod(col("doc_id"), lit(3)) === 0, "image")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
        .otherwise("video").as("modality"),
      encode(col("text"), "UTF-8").as("content"),
      when(pmod(col("doc_id"), lit(3)) === 0, "image/png")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio/wav")
        .otherwise("video/mp4").as("mime_type"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(640)).otherwise(lit(null).cast("int")).as("width"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(480)).otherwise(lit(null).cast("int")).as("height"),
      when(pmod(col("doc_id"), lit(3)) === 1, lit(16000)).otherwise(lit(null).cast("int")).as("sample_rate"),
      when(pmod(col("doc_id"), lit(3)) =!= lit(0), col("n_chars") * 10).otherwise(lit(null).cast("long")).as("duration_ms")
    ).as[MediaRecord]
  }
}
