package graft.operators

/** Pluggable video FRAME-decode seam. Container demux (the AVI RIFF walk,
  * the MP4 box/sample-table walk — [[MediaCodecs.demuxAviMjpeg]] /
  * [[MediaCodecs.demuxMp4Jpeg]]) is pure JVM and always real; decoding the
  * frame PAYLOADS depends on an available codec. A decoder advertises the
  * codec names it handles and is looked up through [[FrameDecoder.forCodec]]
  * at plan-build time on the driver, then shipped inside the task closure
  * (the trait is Serializable).
  *
  * MJPEG routes through the built-in ImageIO JPEG kernel
  * ([[FrameDecoder.Mjpeg]], the one decoder [[FrameDecoder.forCodec]]
  * knows). H.264/H.265 have NO decoder — the JDK ships no codec for them —
  * so their assets take the explicit not-decoded marker ("no decoder
  * registered", not a stub of ours). A real codec (JNI/ffmpeg bridge)
  * implements this trait; the AVI frame decode takes one through
  * [[MediaCodecs.decodeAviMjpeg]]'s `decoder` parameter, and the demux
  * does not change.
  */
trait FrameDecoder extends Serializable {

  /** Upper-case codec names this decoder handles (e.g. "MJPEG", "AVC1"). */
  def codecs: Set[String]

  /** One encoded frame payload → decoded raster summary; None = the frame
    * is malformed FOR THIS CODEC (the whole asset then quarantines, per
    * the all-frames-or-nothing contract of the MJPEG paths).
    */
  def decodeFrame(payload: Array[Byte]): Option[MediaCodecs.PpmInfo]
}

object FrameDecoder {

  /** The built-in Motion-JPEG frame kernel: each sample is a complete
    * JPEG image, decoded by the same ImageIO path as still images.
    */
  object Mjpeg extends FrameDecoder {
    val codecs: Set[String] = Set("MJPEG", "JPEG")
    def decodeFrame(payload: Array[Byte]): Option[MediaCodecs.PpmInfo] =
      MediaCodecs.decodeCompressedImage(payload)
  }

  private val registered: Map[String, FrameDecoder] =
    Mjpeg.codecs.map(_ -> (Mjpeg: FrameDecoder)).toMap

  /** The decoder for `codec`, if any is registered (case-insensitive).
    * None means "no decoder registered" — the honest unavailability the
    * not-decoded marker reports, distinct from a malformed payload.
    */
  def forCodec(codec: String): Option[FrameDecoder] =
    registered.get(codec.toUpperCase)
}
