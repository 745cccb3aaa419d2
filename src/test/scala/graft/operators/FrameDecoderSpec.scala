package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The pluggable frame-decode seam: MJPEG routes through the registered
  * built-in kernel; absent codecs quarantine as "no decoder registered";
  * an external decoder passed to the decode drops in without touching the
  * demux.
  */
class FrameDecoderSpec extends AnyFunSuite {

  private def sampleAvi: Array[Byte] =
    MediaCodecs.syntheticAviMjpeg("frame-seam".getBytes("UTF-8"), 32, 24, nFrames = 4, fps = 10)

  test("MJPEG resolves from the registry and decodes end-to-end") {
    assert(FrameDecoder.forCodec("mjpeg").isDefined, "built-in MJPEG must be registered")
    val info = MediaCodecs.decodeAviMjpeg(sampleAvi)
    assert(info.isDefined && info.get.nFrames === 4 && info.get.width === 32)
  }

  test("no decoder registered quarantines the asset — demux alone is not a decode") {
    assert(FrameDecoder.forCodec("AVC1").isEmpty, "no JDK H.264 codec exists")
    // the same well-formed container with the codec unavailable: None,
    // exactly the not-decoded marker extractFeatures reports
    assert(MediaCodecs.decodeAviMjpeg(sampleAvi, decoder = None).isEmpty)
    assert(MediaCodecs.demuxAviMjpeg(sampleAvi).isDefined, "demux stays real regardless")
  }

  test("an external decoder drops in through the trait without touching the demux") {
    // a fake 'codec' that accepts every payload as a 1×1 mid-gray raster —
    // standing in for a JNI H.264 bridge
    object Gray extends FrameDecoder {
      val codecs = Set("FAKE")
      def decodeFrame(p: Array[Byte]) =
        Some(MediaCodecs.PpmInfo(1, 1, 128.0, 128.0, 128.0, 128.0))
    }
    val via = MediaCodecs.decodeAviMjpeg(sampleAvi, Some(Gray))
    assert(via.isDefined && via.get.nFrames === 4 && via.get.width === 1,
      "frame payloads must route through the passed decoder")
    // a decoder rejecting any frame quarantines the whole asset
    object Reject extends FrameDecoder {
      val codecs = Set("REJ")
      def decodeFrame(p: Array[Byte]) = None
    }
    assert(MediaCodecs.decodeAviMjpeg(sampleAvi, Some(Reject)).isEmpty)
  }
}
