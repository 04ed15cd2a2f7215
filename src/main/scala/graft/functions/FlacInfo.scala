package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** FLAC STREAMINFO parse as row-local BIT math — the lossless-audio
  * leg of the header-demux family (G16 mp4 boxes, G22 mp3 frames):
  * a FLAC file opens with "fLaC" and a chain of metadata blocks
  * (1-bit LAST flag, 7-bit type, 24-bit big-endian length), and the
  * mandatory FIRST block is STREAMINFO (type 0, 34 bytes) whose
  * fields are bit-packed — sample rate is 20 bits, channels-1 is 3,
  * bits-per-sample-1 is 5, total samples is 36 — so the EXACT
  * duration, channel layout and sample width of a multi-GB asset
  * come from a ~50-byte ranged header read, no frame ever decoded.
  * That is the whole audio-curation triage signal (keep/route/skip)
  * at 100 TB cost zero.
  *
  * Wire format is the public FLAC format spec (RFC 9639 §8.2): the
  * walker verifies the magic, requires STREAMINFO first (the spec
  * mandates it), then SKIPS every remaining block by its declared
  * length, counting blocks until the LAST flag — a chain that
  * overruns EOF, a wrong first-block type/length, or a zero sample
  * rate returns NULL (the quarantine convention: corrupt assets
  * degrade to "no info", never a wrong duration). */
object FlacInfo {

  private def u16(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 8) | (b(p + 1) & 0xffL)

  private def u24(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 16) | ((b(p + 1) & 0xffL) << 8) | (b(p + 2) & 0xffL)

  /** STREAMINFO row, or null on any malformation. */
  def info(b: Array[Byte]): InternalRow = {
    val len = b.length
    if (len < 8 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' ||
        b(3) != 'C') return null
    // first block MUST be STREAMINFO: last-flag bit free, type 0,
    // declared length exactly 34 (RFC 9639 §8.2)
    val h0 = b(4) & 0xff
    if ((h0 & 0x7f) != 0 || u24(b, 5) != 34L || 8 + 34 > len) return null
    val p = 8
    val minBs = u16(b, p)
    val maxBs = u16(b, p + 2)
    val minFs = u24(b, p + 4)
    val maxFs = u24(b, p + 7)
    // 8 packed bytes at p+10: sr(20) | ch-1(3) | bps-1(5) | ts(36)
    val b0 = b(p + 10) & 0xffL; val b1 = b(p + 11) & 0xffL
    val b2 = b(p + 12) & 0xffL; val b3 = b(p + 13) & 0xffL
    val sr = (b0 << 12) | (b1 << 4) | (b2 >> 4)
    val ch = ((b2 >> 1) & 0x7L) + 1L
    val bps = (((b2 & 1L) << 4) | (b3 >> 4)) + 1L
    val ts = ((b3 & 0xfL) << 32) |
      ((b(p + 14) & 0xffL) << 24) | ((b(p + 15) & 0xffL) << 16) |
      ((b(p + 16) & 0xffL) << 8) | (b(p + 17) & 0xffL)
    if (sr == 0L) return null // invalid: duration undefined
    // walk the remaining block chain (skip payloads, count blocks)
    var nBlocks = 1L
    var q = p + 34
    var last = (h0 & 0x80) != 0
    while (!last) {
      if (q + 4 > len) return null // chain overruns EOF
      val h = b(q) & 0xff
      val bl = u24(b, q + 1)
      if (q + 4 + bl > len) return null
      last = (h & 0x80) != 0
      nBlocks += 1L
      q = (q + 4 + bl).toInt
    }
    InternalRow(minBs, maxBs, minFs, maxFs, sr, ch, bps, ts, nBlocks,
      ts * 1000L / sr)
  }

  /** `flac_info(payload)`: the parser entry and its Column builder. */
  val flacInfo: ByteParser = ByteParser("flac_info", StructType(Seq(
    StructField("min_blocksize", LongType, nullable = false),
    StructField("max_blocksize", LongType, nullable = false),
    StructField("min_framesize", LongType, nullable = false),
    StructField("max_framesize", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("bits_per_sample", LongType, nullable = false),
    StructField("total_samples", LongType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false))),
    nullOnMalformed = true)(info)
}
