package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** MPEG-1 Layer III (mp3) FRAME-SYNC WALK as row-local byte math —
  * the audio twin of the mp4 box walk (G16): an mp3 has no container
  * directory, the "sample table" IS the frame sequence, and every
  * frame header carries enough (bitrate index, samplerate index,
  * padding bit) to compute its own length, so the whole per-frame
  * read plan — offsets, sizes, bitrate ladder, exact duration —
  * falls out of a single linear scan of HEADERS, never decoding a
  * granule. That is precisely what a 100 TB audio curator needs
  * first: CBR/VBR classification, true duration (the ID3 header
  * lies; the frame walk cannot), and per-frame byte ranges for a
  * downstream decoder pool.
  *
  * Wire format (public spec, ISO/IEC 11172-3 §2.4.1 and the ID3
  * informal standards id3v2.3/id3v1):
  *  - optional ID3v2 prefix: "ID3", 2 version bytes, 1 flag byte,
  *    4 SYNCSAFE size bytes (7 bits each, high bit must be clear) —
  *    the tag body is skipped, never parsed;
  *  - frames: 4-byte header `FF FB ..` — 11 sync bits, version
  *    (MPEG-1 only here), layer (III only), protection bit, then
  *    bitrate index (1-14; 0=free and 15=bad are malformed for this
  *    walk), samplerate index (0-2), padding bit; frame length =
  *    144000·kbps / hz + padding (integer division — the spec's
  *    floor(144 · bitrate / samplerate));
  *  - optional ID3v1 trailer: exactly 128 bytes starting "TAG".
  *
  * Malformed input — bad syncsafe bytes, a non-MPEG1/Layer-III
  * header, free/bad bitrate, reserved samplerate, a frame running
  * past EOF, or trailing bytes that are neither a frame nor an ID3v1
  * trailer — returns an EMPTY array, never throws and never a
  * partial answer: the walk runs before any quality gate, and a
  * truncated asset must degrade to "no frames", not a wrong
  * duration (the Mp4Demux quarantine contract). */
object MpegAudio {

  /** MPEG-1 Layer III bitrate ladder, kbps, index 1-14. */
  private val BitrateKbps: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-1 samplerate ladder, Hz, index 0-2 (3 is reserved). */
  private val SampleHz: Array[Int] = Array(44100, 48000, 32000)

  private val empty = new GenericArrayData(Array.empty[Any])

  /** Frame table: array<struct<frame_idx, offset, frame_bytes,
    * bitrate_kbps, sample_rate, padding>> — empty on malformation. */
  def frames(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    var p = 0
    // ID3v2 prefix: "ID3" + ver(2) + flags(1) + syncsafe size(4)
    if (len >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      var sz = 0
      var k = 6
      while (k < 10) {
        val b = bytes(k) & 0xff
        if ((b & 0x80) != 0) return empty // syncsafe bytes are 7-bit
        sz = (sz << 7) | b
        k += 1
      }
      p = 10 + sz
      if (p > len) return empty
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var idx = 0L
    while (p < len) {
      // ID3v1 trailer: exactly 128 bytes of "TAG..." ends the walk
      if (len - p == 128 && bytes(p) == 'T' && bytes(p + 1) == 'A' &&
          bytes(p + 2) == 'G')
        return new GenericArrayData(out.toArray)
      if (p + 4 > len) return empty
      val b0 = bytes(p) & 0xff
      val b1 = bytes(p + 1) & 0xff
      val b2 = bytes(p + 2) & 0xff
      if (b0 != 0xff || (b1 & 0xe0) != 0xe0) return empty
      if (((b1 >> 3) & 3) != 3) return empty // MPEG-1 only
      if (((b1 >> 1) & 3) != 1) return empty // Layer III only
      val brIdx = (b2 >> 4) & 15
      if (brIdx == 0 || brIdx == 15) return empty // free/bad bitrate
      val srIdx = (b2 >> 2) & 3
      if (srIdx == 3) return empty // reserved samplerate
      val pad = (b2 >> 1) & 1
      val kbps = BitrateKbps(brIdx)
      val hz = SampleHz(srIdx)
      val fLen = 144000 * kbps / hz + pad
      if (p + fLen > len) return empty // truncated frame
      out += InternalRow(idx, p.toLong, fLen.toLong, kbps.toLong,
        hz.toLong, pad.toLong)
      idx += 1L
      p += fLen
    }
    new GenericArrayData(out.toArray)
  }

  /** `mp3_frames(payload)`: the parser entry and its Column builder. */
  val mp3Frames: ByteParser = ByteParser("mp3_frames", ArrayType(StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("frame_bytes", LongType, nullable = false),
    StructField("bitrate_kbps", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("padding", LongType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(frames)

  /** ID3v2 TEXT-FRAME walk (G30; the id3v2.3/2.4 informal
    * standards): the ID3 tag the G22 frame walk SKIPS is itself the
    * audio catalog's metadata source — title (TIT2), artist (TPE1)
    * and friends are 10-byte-headered frames inside the tag body,
    * terminated by zero padding. Version matters: v2.3 frame sizes
    * are plain be32, v2.4 sizes are SYNCSAFE — a v2.4 file read
    * with v2.3 size math overruns frames whenever a size byte
    * exceeds 0x7F. Only ISO-8859-1 text frames (encoding byte 0,
    * frame id starting 'T') are decoded — other encodings and
    * non-text frames are skipped structurally (their size still
    * walks). Malformation — bad magic/version, syncsafe violation,
    * frame overrunning the tag — returns EMPTY, never wrong. */
  def id3Frames(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    if (len < 10 || bytes(0) != 'I' || bytes(1) != 'D' || bytes(2) != '3')
      return empty
    val v = bytes(3) & 0xff
    if (v < 3 || v > 4) return empty
    var sz = 0
    var k = 6
    while (k < 10) {
      val b = bytes(k) & 0xff
      if ((b & 0x80) != 0) return empty
      sz = (sz << 7) | b
      k += 1
    }
    val tagEnd = math.min(10 + sz, len)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 10
    while (p + 10 <= tagEnd && bytes(p) != 0) {
      var ok = true
      var c = 0
      while (c < 4 && ok) {
        val ch = bytes(p + c) & 0xff
        ok = (ch >= 'A' && ch <= 'Z') || (ch >= '0' && ch <= '9')
        c += 1
      }
      if (!ok) return empty
      val fSize =
        if (v == 4) {
          var s = 0L
          var i = p + 4
          while (i < p + 8) {
            val b = bytes(i) & 0xff
            if ((b & 0x80) != 0) return empty
            s = (s << 7) | b
            i += 1
          }
          s
        } else {
          ((bytes(p + 4) & 0xffL) << 24) | ((bytes(p + 5) & 0xffL) << 16) |
            ((bytes(p + 6) & 0xffL) << 8) | (bytes(p + 7) & 0xffL)
        }
      if (fSize < 0L || p + 10 + fSize > tagEnd) return empty
      if (bytes(p) == 'T' && fSize >= 1L && bytes(p + 10) == 0) {
        var end = p + 10 + fSize.toInt
        while (end > p + 11 && bytes(end - 1) == 0) end -= 1
        out += InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            new String(bytes, p, 4, "US-ASCII")),
          org.apache.spark.unsafe.types.UTF8String.fromString(
            new String(bytes, p + 11, end - (p + 11), "ISO-8859-1")))
      }
      p += 10 + fSize.toInt
    }
    new GenericArrayData(out.toArray)
  }

  /** `id3_frames(payload)`: the parser entry and its Column builder. */
  val id3FramesCol: ByteParser = ByteParser("id3_frames",
    ArrayType(StructType(Seq(
    StructField("frame_id", StringType, nullable = false),
    StructField("content", StringType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(id3Frames)
}
