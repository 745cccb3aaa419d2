package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val media = Multimodal.mediaFromDocuments(spark, docs)

  test("media table: binary payload + typed metadata per modality") {
    val rows = media.toDF().limit(500).cache()
    assert(rows.count() === 500L)
    val img = rows.where(col("modality") === "image").limit(1).collect()(0)
    assert(img.getAs[String]("mime_type") === "image/png")
    assert(img.getAs[Int]("width") === 640)
    val aud = rows.where(col("modality") === "audio").limit(1).collect()(0)
    assert(aud.getAs[Int]("sample_rate") === 16000)
    assert(aud.isNullAt(aud.fieldIndex("width")))
  }

  test("feature extraction: deterministic fixed-width vectors via mapPartitions") {
    val feats = Multimodal.extractFeatures(media).toDF().cache()
    assert(feats.count() === 500L)
    val r = feats.orderBy("media_id").limit(1).collect()(0)
    assert(r.getAs[scala.collection.Seq[Float]]("feature").length === Multimodal.FeatureDim)
    // deterministic: rerun matches
    val r2 = Multimodal.extractFeatures(media).toDF().orderBy("media_id").limit(1).collect()(0)
    assert(r.getAs[scala.collection.Seq[Float]]("feature").toList === r2.getAs[scala.collection.Seq[Float]]("feature").toList)
    assert(r.getAs[String]("content_digest").length === 32)
  }

  test("WAV codec: encode/decode roundtrip recovers real signal statistics") {
    val rate = 16000
    val freq = 440.0
    val amp = 0.5
    val n = 16000 // one second
    val samples = Array.tabulate(n)(i =>
      (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toShort)
    val wav = MediaCodecs.encodeWavPcm16(samples, rate)
    val info = MediaCodecs.decodeWav(wav).get
    assert(info.sampleRate === rate && info.channels === 1 && info.bitsPerSample === 16)
    assert(info.nSamples === n.toLong && info.durationMs === 1000L)
    // REAL signal arithmetic: a sine of amplitude a has RMS a/sqrt(2) and
    // zero-cross rate 2f/rate
    assert(math.abs(info.rms - amp / math.sqrt(2)) < 0.005, s"rms=${info.rms}")
    assert(math.abs(info.peak - amp) < 0.01, s"peak=${info.peak}")
    assert(math.abs(info.zeroCrossRate - 2 * freq / rate) < 0.002, s"zcr=${info.zeroCrossRate}")
    // malformed payloads quarantine as None, never throw
    assert(MediaCodecs.decodeWav("not a wav at all".getBytes).isEmpty)
    assert(MediaCodecs.decodeWav(wav.take(30)).isEmpty)
    // adversarial data-chunk sizes: with 32-bit offset arithmetic
    // 0x80000000 wrapped the walk offset NEGATIVE (task-killing
    // ArrayIndexOutOfBounds); the long walk clamps to the bytes actually
    // present instead, decoding exactly the pristine payload's samples
    val evil = wav.clone()
    evil(40) = 0; evil(41) = 0; evil(42) = 0; evil(43) = 0x80.toByte
    assert(MediaCodecs.decodeWav(evil) === Some(info))
    val evil2 = wav.clone()
    evil2(40) = 0xff.toByte; evil2(41) = 0xff.toByte
    evil2(42) = 0xff.toByte; evil2(43) = 0xff.toByte
    assert(MediaCodecs.decodeWav(evil2) === Some(info))
  }

  test("PPM codec: decode means are exact; headers parse; truncation quarantines") {
    // 2x2: red, green / blue, white
    val rgb: Array[Byte] = Array(
      255.toByte, 0, 0, 0, 255.toByte, 0,
      0, 0, 255.toByte, 255.toByte, 255.toByte, 255.toByte)
    val ppm = MediaCodecs.encodePpm(2, 2, rgb)
    val info = MediaCodecs.decodePpm(ppm).get
    assert(info.width === 2 && info.height === 2)
    assert(info.meanR === 127.5 && info.meanG === 127.5 && info.meanB === 127.5)
    // comment-bearing headers parse; truncated rasters quarantine
    val commented = ("P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII") ++ rgb)
    assert(MediaCodecs.decodePpm(commented).get.width === 2)
    assert(MediaCodecs.decodePpm(ppm.dropRight(3)).isEmpty)
    // an absurd dimension field must quarantine, not overflow toInt
    assert(MediaCodecs.decodePpm(
      ("P6\n99999999999 2\n255\n".getBytes("US-ASCII") ++ rgb)).isEmpty)
  }

  test("PNG codec: lossless roundtrip recovers exact means; quarantine") {
    // same 2x2 raster as the PPM test: red, green / blue, white
    val rgb: Array[Byte] = Array(
      255.toByte, 0, 0, 0, 255.toByte, 0,
      0, 0, 255.toByte, 255.toByte, 255.toByte, 255.toByte)
    val png = MediaCodecs.encodeImage(2, 2, rgb, "png")
    assert(MediaCodecs.sniffImageFormat(png) === Some("png"))
    val info = MediaCodecs.decodeCompressedImage(png).get
    assert(info.width === 2 && info.height === 2)
    // PNG is lossless: decoded means are EXACT, same as the P6 payload
    assert(info.meanR === 127.5 && info.meanG === 127.5 && info.meanB === 127.5)
    // truncated stream and non-image bytes quarantine as None, never throw
    assert(MediaCodecs.decodeCompressedImage(png.take(20)).isEmpty)
    assert(MediaCodecs.decodeCompressedImage("not an image".getBytes).isEmpty)
  }

  test("JPEG codec: real lossy decode — dimensions exact, means approximate") {
    // a flat gray image survives JPEG with near-identical means
    val (w, h) = (16, 16)
    val rgb = Array.fill[Byte](w * h * 3)(100.toByte)
    val jpg = MediaCodecs.encodeImage(w, h, rgb, "jpeg")
    assert(MediaCodecs.sniffImageFormat(jpg) === Some("jpeg"))
    val info = MediaCodecs.decodeCompressedImage(jpg).get
    assert(info.width === w && info.height === h)
    assert(math.abs(info.meanR - 100.0) < 3.0, s"meanR=${info.meanR}")
    assert(math.abs(info.meanG - 100.0) < 3.0)
    assert(math.abs(info.meanB - 100.0) < 3.0)
    // a PNG mislabeled as JPEG still decodes: dispatch sniffs bytes
    val png = MediaCodecs.encodeImage(2, 2, Array.fill[Byte](12)(7), "png")
    assert(MediaCodecs.decodeCompressedImage(png).get.width === 2)
  }

  test("MP4 demux: box walk recovers duration/dims/tracks; hostile headers quarantine") {
    val mp4 = MediaCodecs.syntheticMp4(durationMs = 12345L, width = 640, height = 360)
    val info = MediaCodecs.decodeMp4Meta(mp4).get
    assert(info.durationMs === 12345L)
    assert(info.timescale === 1000L)
    assert(info.width === 640 && info.height === 360)
    assert(info.nTracks === 1)
    // truncation mid-tree loses moov -> quarantine, never a crash
    assert(MediaCodecs.decodeMp4Meta(mp4.take(20)).isEmpty)
    assert(MediaCodecs.decodeMp4Meta("plain text, not a container".getBytes).isEmpty)
    assert(MediaCodecs.decodeMp4Meta(Array.empty[Byte]).isEmpty)
    // adversarial size fields: zero-size box (extends-to-end), a size
    // pointing past the buffer, and a sub-8 size must all terminate the
    // walk without reading out of bounds
    val zeroSize = mp4.clone(); zeroSize(0) = 0; zeroSize(1) = 0; zeroSize(2) = 0; zeroSize(3) = 0
    MediaCodecs.decodeMp4Meta(zeroSize) // must not throw
    val hugeSize = mp4.clone(); hugeSize(0) = 0x7f.toByte
    assert(MediaCodecs.decodeMp4Meta(hugeSize).isEmpty)
    val tinySize = mp4.clone(); tinySize(0) = 0; tinySize(1) = 0; tinySize(2) = 0; tinySize(3) = 3
    MediaCodecs.decodeMp4Meta(tinySize) // must not throw or spin
  }

  test("real-asset corpus: every modality decodes for real (WAV, PPM/PNG, MP4 demux)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    val assets = Multimodal.mediaRealAssets(spark, docs)
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length === 60)
    val byModality = feats.groupBy(_.modality)
    // audio: marker plane 1, rate 16k, rms ~ 0.5/sqrt(2) for every row
    byModality("audio").foreach { f =>
      assert(f.feature(0) === 1.0f, "real WAV decode marker")
      assert(math.abs(f.feature(1) - 16000 / 48000.0f) < 1e-6)
      assert(math.abs(f.feature(3) - 0.3535f) < 0.01f, s"rms=${f.feature(3)}")
    }
    // image: marker plane 2, real 32x24 dimensions from the decoded raster
    // — both the P6 (byte-arithmetic) and PNG (javax.imageio) rows
    byModality("image").foreach { f =>
      assert(f.feature(0) === 2.0f, "real image decode marker")
      assert(math.abs(f.feature(1) - 32 / 4096.0f) < 1e-6)
      assert(math.abs(f.feature(2) - 24 / 4096.0f) < 1e-6)
    }
    // the corpus genuinely carries BOTH image containers
    val mimes = assets.filter(_.modality == "image").collect().map(_.mime_type).toSet
    assert(mimes === Set("image/x-portable-pixmap", "image/png"))
    // video rows alternate: MJPEG assets FRAME-decode for real (marker 4,
    // 32x24 from the decoded rasters, genuine temporal motion); MP4
    // assets get the real container demux (marker 3, tkhd 64x48) — the
    // honest ceiling for JDK-undecodable codecs
    val videoMime = assets.filter(_.modality == "video").collect()
      .map(m => m.media_id -> m.mime_type).toMap
    assert(videoMime.values.toSet === Set("video/x-msvideo", "video/mp4"),
      "the corpus must carry both video containers")
    byModality("video").foreach { f =>
      if (videoMime(f.media_id) == "video/x-msvideo") {
        assert(f.feature(0) === 4.0f, "real MJPEG frame-decode marker")
        assert(f.feature(1) === (3 + f.media_id % 5) / 1000.0f, "exact demuxed frame count")
        assert(math.abs(f.feature(3) - 32 / 4096.0f) < 1e-6)
        assert(math.abs(f.feature(4) - 24 / 4096.0f) < 1e-6)
        assert(f.feature(6) > 0.0f, "consecutive frames differ: real temporal motion")
      } else {
        assert(f.feature(0) === 3.0f, "real MP4 container demux marker")
        assert(math.abs(f.feature(2) - 64 / 4096.0f) < 1e-6)
        assert(math.abs(f.feature(3) - 48 / 4096.0f) < 1e-6)
        assert(f.feature(4) === 1.0f, "one track written, one parsed")
      }
    }
  }

  test("MJPEG codec: encode/demux/decode roundtrip recovers exact frame count, dims, fps, motion") {
    val avi = MediaCodecs.syntheticAviMjpeg("seedbytes".getBytes("UTF-8"), 32, 24,
      nFrames = 5, fps = 10)
    val info = MediaCodecs.decodeAviMjpeg(avi).get
    assert(info.nFrames === 5, "every planted 00dc sample demuxes")
    assert(info.width === 32 && info.height === 24,
      "dimensions come from the DECODED rasters, not headers")
    assert(info.fps === 10.0)
    assert(info.motion > 0.0, "rotated-seed frames genuinely differ")
    assert(info.meanLuma > 0.0 && info.meanLuma < 255.0)
    // determinism: byte-identical synthesis, identical statistics
    assert(MediaCodecs.decodeAviMjpeg(
      MediaCodecs.syntheticAviMjpeg("seedbytes".getBytes("UTF-8"), 32, 24, 5, 10)).get === info)
  }

  test("MJPEG quarantine: truncation, hostile sizes, and corrupt frames all yield None") {
    val avi = MediaCodecs.syntheticAviMjpeg("x".getBytes("UTF-8"), 16, 12, 3, 10)
    // truncated mid-frame: the movi walk sees a chunk overrunning the buffer
    assert(MediaCodecs.decodeAviMjpeg(java.util.Arrays.copyOf(avi, avi.length - 7)).isEmpty,
      "truncated sample file must quarantine whole")
    // hostile chunk size: plant 0xFFFFFFFF into the first movi chunk header
    val hostile = avi.clone()
    val moviAt = { // find '00dc'
      var i = 12; while (!(hostile(i) == '0' && hostile(i + 1) == '0' &&
        hostile(i + 2) == 'd' && hostile(i + 3) == 'c')) i += 1
      i
    }
    hostile(moviAt + 4) = 0xff.toByte; hostile(moviAt + 5) = 0xff.toByte
    hostile(moviAt + 6) = 0xff.toByte; hostile(moviAt + 7) = 0x7f.toByte
    assert(MediaCodecs.decodeAviMjpeg(hostile).isEmpty,
      "size field past the buffer must quarantine, not read out of bounds")
    // corrupt frame payload: valid container, one sample not a JPEG
    val badFrame = avi.clone()
    badFrame(moviAt + 8) = 0 // JPEG magic FFD8FF destroyed
    assert(MediaCodecs.decodeAviMjpeg(badFrame).isEmpty,
      "an undecodable frame poisons the asset — never a shorter video")
    // non-AVI bytes
    assert(MediaCodecs.decodeAviMjpeg("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    // zero-frame AVI (headers only, empty movi) is not a video
    assert(MediaCodecs.demuxAviMjpeg(avi).get._2.size === 3)
  }

  test("MP4 MJPEG codec: sample-table roundtrip recovers exact frame count, dims, fps, motion") {
    val mp4 = MediaCodecs.syntheticMp4Mjpeg("seedbytes".getBytes("UTF-8"), 32, 24,
      nFrames = 5, fps = 10)
    val info = MediaCodecs.decodeMp4Mjpeg(mp4).get
    assert(info.nFrames === 5, "stco x stsc x stsz resolved every sample")
    assert(info.width === 32 && info.height === 24,
      "dimensions come from the DECODED rasters, not headers")
    assert(info.fps === 10.0)
    assert(info.motion > 0.0, "rotated-seed frames genuinely differ")
    // the SAME plant formula as the AVI container: identical per-frame
    // rasters, so identical decoded statistics across containers
    val avi = MediaCodecs.decodeAviMjpeg(
      MediaCodecs.syntheticAviMjpeg("seedbytes".getBytes("UTF-8"), 32, 24, 5, 10)).get
    assert(info.meanLuma === avi.meanLuma && info.motion === avi.motion)
    // the run-length stsc (chunk 1 holds 2 samples, the rest 1) really is
    // in the file: 2 entries, 4 chunks for 5 frames
    val (ts, dur, samples) = MediaCodecs.demuxMp4Jpeg(mp4).get
    assert(ts === 10 && dur === 5 && samples.size === 5)
    // container metadata demux still reads the same tree
    val meta = MediaCodecs.decodeMp4Meta(mp4).get
    assert(meta.durationMs === 500 && meta.width === 32 && meta.height === 24)
    // single- and two-frame files take the one-chunk stsc path
    assert(MediaCodecs.decodeMp4Mjpeg(
      MediaCodecs.syntheticMp4Mjpeg("x".getBytes, 16, 12, 1, 10)).get.nFrames === 1)
    assert(MediaCodecs.decodeMp4Mjpeg(
      MediaCodecs.syntheticMp4Mjpeg("x".getBytes, 16, 12, 2, 10)).get.nFrames === 2)
  }

  test("MP4 MJPEG quarantine: truncation, hostile tables, and corrupt samples all yield None") {
    val mp4 = MediaCodecs.syntheticMp4Mjpeg("x".getBytes("UTF-8"), 16, 12, 3, 10)
    // faststart layout: tail truncation severs the LAST SAMPLE (moov is
    // intact) — the stco/stsz bounds check must quarantine whole
    assert(MediaCodecs.decodeMp4Mjpeg(java.util.Arrays.copyOf(mp4, mp4.length - 10)).isEmpty,
      "sample range past the buffer must quarantine, not read out of bounds")
    // metadata-only MP4 (no jpeg track at all) is not a decodable video
    assert(MediaCodecs.decodeMp4Mjpeg(MediaCodecs.syntheticMp4(1000, 32, 24)).isEmpty)
    // corrupt sample payload: valid tables, first sample not a JPEG
    val (_, _, samples) = MediaCodecs.demuxMp4Jpeg(mp4).get
    val firstSampleOff = { // locate the first sample's bytes (mdat holds them verbatim)
      var i = 0
      while (!(i + samples.head.length <= mp4.length &&
        java.util.Arrays.equals(java.util.Arrays.copyOfRange(mp4, i, i + samples.head.length),
          samples.head))) i += 1
      i
    }
    val bad = mp4.clone(); bad(firstSampleOff) = 0 // JPEG magic destroyed
    assert(MediaCodecs.decodeMp4Mjpeg(bad).isEmpty,
      "an undecodable sample poisons the asset — never a shorter video")
    // non-BMFF bytes
    assert(MediaCodecs.decodeMp4Mjpeg("RIFFxxxxAVI ....".getBytes("US-ASCII")).isEmpty)
  }

  test("mediaMp4Videos corpus: plant formula holds and truncated assets quarantine") {
    val docs = spark.range(0, 60).selectExpr("id AS doc_id", "repeat('t', 40) AS text")
    val stats = Multimodal.mp4FrameStats(Multimodal.mediaMp4Videos(spark, docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(stats.keySet === (0L until 60L).filter(_ % 3 == 2).toSet)
    stats.foreach { case (id, (decoded, n, w, h, fps)) =>
      if (id % 5 == 4) assert(!decoded && n === -1L && w === -1L && h === -1L && fps === -1.0)
      else assert(decoded && n === 3 + id % 5 && w === 32L && h === 24L && fps === 10.0)
    }
  }

  test("aHash of a planted block image equals the packed plant bits, through the real codec") {
    (0L to 20L).foreach { id =>
      val expected = (0 until 64).foldLeft(0L) { (acc, b) =>
        acc | (MediaCodecs.blockBit(id, b).toLong << b)
      }
      val got = MediaCodecs.aHash64(MediaCodecs.syntheticBlockPpm(id))
      assert(got === Some(expected), s"pattern $id")
    }
  }

  test("aHash survives a lossless PNG round-trip bit-for-bit") {
    // encode the identical raster as PNG: same pixels -> same hash, now
    // through the javax.imageio decode path instead of the P6 parser
    val ppm = MediaCodecs.syntheticBlockPpm(7L)
    val info = MediaCodecs.decodePpm(ppm)
    assert(info.isDefined)
    // rebuild raw rgb from the ppm payload (skip the text header)
    val headerEnd = ppm.length - 32 * 32 * 3
    val rgb = java.util.Arrays.copyOfRange(ppm, headerEnd, ppm.length)
    val png = MediaCodecs.encodeImage(32, 32, rgb, "png")
    assert(MediaCodecs.aHash64(png) === MediaCodecs.aHash64(ppm))
  }

  test("a flipped sibling is exactly 2 Hamming bits away; corrupt and tiny payloads quarantine") {
    val a = MediaCodecs.aHash64(MediaCodecs.syntheticBlockPpm(3L)).get
    val b = MediaCodecs.aHash64(MediaCodecs.syntheticBlockPpm(3L, flips = Seq(1, 2))).get
    assert(java.lang.Long.bitCount(a ^ b) === 2)
    assert(MediaCodecs.aHash64("not an image".getBytes) === None)
    // 4x4 raster is smaller than the 8x8 grid -> refuse, never mis-hash
    val tiny = MediaCodecs.encodePpm(4, 4, Array.fill(48)(100.toByte))
    assert(MediaCodecs.aHash64(tiny) === None)
  }

  test("audio fingerprint of a planted block WAV equals the packed plant bits, through the real codec") {
    (0L to 20L).foreach { id =>
      val expected = (0 until 64).foldLeft(0L) { (acc, b) =>
        acc | (MediaCodecs.blockBit(id, b).toLong << b)
      }
      assert(MediaCodecs.audioFingerprint64(MediaCodecs.syntheticBlockWav(id))
        === Some(expected), s"pattern $id")
    }
    // same planted truth as the image path: two independent kernels agree
    assert(MediaCodecs.audioFingerprint64(MediaCodecs.syntheticBlockWav(5L))
      === MediaCodecs.aHash64(MediaCodecs.syntheticBlockPpm(5L)))
    // sibling distance, quarantine
    val a = MediaCodecs.audioFingerprint64(MediaCodecs.syntheticBlockWav(3L)).get
    val b = MediaCodecs.audioFingerprint64(MediaCodecs.syntheticBlockWav(3L, Seq(1, 2))).get
    assert(java.lang.Long.bitCount(a ^ b) === 2)
    assert(MediaCodecs.audioFingerprint64("not audio".getBytes) === None)
    assert(MediaCodecs.audioFingerprint64(
      MediaCodecs.encodeWavPcm16(Array.fill(10)(100.toShort), 16000)) === None)
  }

  test("fingerprint is level-shift invariant (the envelope, not the gain)") {
    // halving every amplitude moves no bits: thresholds scale with the mean
    val loud = MediaCodecs.syntheticBlockWav(11L)
    val samples = (0 until 64 * 250).map { i =>
      val s = ((loud(44 + 2 * i + 1) << 8) | (loud(44 + 2 * i) & 0xff)).toShort
      (s / 2).toShort
    }.toArray
    val half = MediaCodecs.encodeWavPcm16(samples, 16000)
    assert(MediaCodecs.audioFingerprint64(half) ===
      MediaCodecs.audioFingerprint64(loud))
  }

  test("banded near-dup join finds exactly the planted sibling pairs") {
    val docs = (0L to 99L).map(i => (i, s"t$i", 2L)).toSeq
    import spark.implicits._
    val docsDf = docs.toDF("doc_id", "text", "n_chars")
    val blocks = Multimodal.mediaBlockImages(spark, docsDf)
    val hashes = Multimodal.imageAHash(blocks)
    assert(hashes.where(!col("decoded")).count() === 0)
    val pairs = Multimodal.hamming64NearDupPairs(hashes, "media_id", "ahash", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val expected = (0L to 99L).filter(_ % 10 == 0)
      .map(i => (i, i + Multimodal.BlockSiblingOffset, 2L)).sorted
    assert(pairs.toSeq === expected)
  }
}
