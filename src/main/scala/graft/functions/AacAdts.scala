package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** AAC ADTS FRAME-SYNC WALK as row-local byte math — the missing
  * audio header family next to mp3 (G22), FLAC and Opus: AAC is the
  * most common audio codec inside the G16 mp4s, and its raw-stream
  * transport (ADTS) is the mp3 idea with an explicit length field —
  * every frame header CARRIES its own byte length, so the whole
  * per-frame read plan (offsets, sizes, object type, samplerate,
  * channel map, exact duration at 1024 samples per raw block) falls
  * out of a linear scan of 7-to-9-byte HEADERS, never decoding a
  * spectral coefficient.
  *
  * Wire format (public spec, ISO/IEC 14496-3 §1.6.2, inherited from
  * ISO/IEC 13818-7): 12-bit syncword 0xFFF, MPEG version bit, layer
  * (must be 00), protection_absent; then profile (2 bits, object
  * type minus 1), sampling_frequency_index (4 bits, 0–12 valid),
  * channel_configuration (3 bits), and the 13-bit aac_frame_length
  * that INCLUDES the header and the optional 16-bit CRC; 2 bits of
  * raw-data-block count (minus 1) close the header.
  *
  * Scope whitelist (the ctts lesson): sampling_frequency_index ≤ 12,
  * channel_configuration 1–7 (0 = "defined in an in-band PCE" needs
  * a payload parse — quarantine, never guess a channel map).
  * Malformed input — lost sync, non-zero layer, reserved frequency,
  * a frame length smaller than its own header, a frame running past
  * EOF, or trailing garbage — returns an EMPTY array, never throws
  * and never a partial answer (the Mp4Demux quarantine contract). */
object AacAdts {

  /** ISO/IEC 14496-3 §1.6.3.4 sampling_frequency_index ladder. */
  private val SampleHz: Array[Int] = Array(
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350)

  private val empty = new GenericArrayData(Array.empty[Any])

  /** Frame table: array<struct<frame_idx, offset, frame_bytes, aot,
    * sample_rate, channels, crc_present, n_blocks>> — empty on
    * malformation. `aot` is the audio object type (profile bits + 1:
    * 1 Main, 2 LC, 3 SSR, 4 LTP); `n_blocks` raw data blocks (each
    * 1024 samples), so duration = Σ n_blocks · 1024 / sample_rate. */
  def frames(bytes: Array[Byte]): ArrayData = {
    if (bytes == null) return empty
    val len = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 0
    var idx = 0L
    while (p < len) {
      if (p + 7 > len) return empty
      val b0 = bytes(p) & 0xff
      val b1 = bytes(p + 1) & 0xff
      val b2 = bytes(p + 2) & 0xff
      val b3 = bytes(p + 3) & 0xff
      val b4 = bytes(p + 4) & 0xff
      val b5 = bytes(p + 5) & 0xff
      val b6 = bytes(p + 6) & 0xff
      if (b0 != 0xff || (b1 & 0xf0) != 0xf0) return empty // syncword
      if ((b1 & 0x06) != 0) return empty // layer must be 00
      val crcPresent = if ((b1 & 0x01) == 0) 1L else 0L
      val profile = (b2 >> 6) & 3
      val sfi = (b2 >> 2) & 15
      if (sfi > 12) return empty // reserved/forbidden frequency
      val channels = ((b2 & 1) << 2) | ((b3 >> 6) & 3)
      if (channels == 0 || channels > 7) return empty // PCE: out of scope
      val frameLen = ((b3 & 3) << 11) | (b4 << 3) | ((b5 >> 5) & 7)
      val nBlocks = (b6 & 3) + 1
      val hdr = if (crcPresent == 1L) 9 else 7
      if (frameLen < hdr) return empty // length can't cover its header
      if (p + frameLen > len) return empty // truncated frame
      out += InternalRow(idx, p.toLong, frameLen.toLong,
        profile.toLong + 1L, SampleHz(sfi).toLong, channels.toLong,
        crcPresent, nBlocks.toLong)
      idx += 1L
      p += frameLen
    }
    new GenericArrayData(out.toArray)
  }

  /** `aac_frames(payload)`: the parser entry and its Column builder. */
  val aacFrames: ByteParser = ByteParser("aac_frames", ArrayType(StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("frame_bytes", LongType, nullable = false),
    StructField("aot", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("crc_present", LongType, nullable = false),
    StructField("n_blocks", LongType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(frames)
}
