package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** FRAGMENTED-mp4 (fMP4 / CMAF / DASH-segment) sample walk — the
  * movie-fragment half of the ISO-BMFF demux (Mp4Demux covers the
  * progressive `moov/stbl` layout; streaming-era corpora overwhelmingly
  * ship the OTHER layout, where the sample tables arrive interleaved
  * as `moof` boxes, one per fragment, and the stbl is empty). Walks
  * `moov→mvex→trex` for the per-track defaults, then every top-level
  * `moof`: `mfhd` (fragment sequence), each `traf`'s `tfhd`
  * (track id + per-fragment default overrides), `tfdt` (base decode
  * time) and `trun` runs (per-sample size/duration/flags/cts), and
  * resolves EVERY sample to its absolute (offset, size, dts, pts,
  * sync) — the same ranged-read plan the progressive walk emits, from
  * the fragmented wire format a CDN actually serves.
  *
  * Reference boxes: ISO/IEC 14496-12 §8.8 (public spec); CMAF =
  * ISO/IEC 23000-19 constrains fragments to exactly the shapes
  * enforced here (tfdt present, explicit trun data_offset,
  * default-base-is-moof or explicit base_data_offset).
  *
  * Scope is enforced, never misparsed past (the ctts-version lesson):
  * quarantine (EMPTY array, no throw) on a tfhd with NEITHER
  * base_data_offset NOR default-base-is-moof (the legacy implicit
  * previous-traf chaining), a trun without an explicit data_offset,
  * a missing tfdt, an unknown FullBox version, a needed default
  * absent from both tfhd and trex, or any table overrun. */
object Mp4Frag {

  private val empty = new GenericArrayData(Array.empty[Any])

  import Mp4Demux.{be32, be64, bounds, findBox, hiOf, loOf, typIs}

  /** Per-track trex defaults: track_id → (duration, size, flags).
    * trex always carries all four fields (§8.8.3); absence of the
    * BOX leaves the track with no defaults at all. */
  private def trexDefaults(b: Array[Byte]): Map[Long, (Long, Long, Long)] = {
    val moov = findBox(b, 0, b.length, "moov")
    if (moov < 0L) return Map.empty
    val mvex = findBox(b, loOf(moov), hiOf(moov), "mvex")
    if (mvex < 0L) return Map.empty
    val out = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    var p = loOf(mvex)
    val end = hiOf(mvex)
    while (p + 8 <= end) {
      val bd = bounds(b, p, end)
      if (bd < 0L) return out.toMap
      if (typIs(b, p + 4, "trex")) {
        val lo = loOf(bd)
        if (lo + 24 <= hiOf(bd)) {
          val tid = be32(b, lo + 4)
          out.put(tid, (be32(b, lo + 12), be32(b, lo + 16), be32(b, lo + 20)))
        }
      }
      val next = hiOf(bd)
      if (next <= p) return out.toMap
      p = next
    }
    out.toMap
  }

  /** Fragment sample table: array<struct<seq, track_id, sample_idx,
    * file_offset, sample_size, dts, pts, duration, is_sync>>; empty
    * on any malformation or out-of-scope layout. */
  def fragSamples(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.length < 16) return empty
    val len = bytes.length
    val trex = trexDefaults(bytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 0
    while (p + 8 <= len) {
      val bd = bounds(bytes, p, len)
      if (bd < 0L) return empty
      if (typIs(bytes, p + 4, "moof")) {
        if (!walkMoof(bytes, p, loOf(bd), hiOf(bd), trex, out)) return empty
      }
      val next = hiOf(bd)
      if (next <= p) return empty
      p = next
    }
    new GenericArrayData(out.toArray)
  }

  /** One moof: false → quarantine the whole asset. */
  private def walkMoof(b: Array[Byte], moofStart: Int, lo: Int, hi: Int,
      trex: Map[Long, (Long, Long, Long)],
      out: scala.collection.mutable.ArrayBuffer[Any]): Boolean = {
    val mfhd = findBox(b, lo, hi, "mfhd")
    if (mfhd < 0L || loOf(mfhd) + 8 > hiOf(mfhd)) return false
    if (Mp4Demux.ver(b, loOf(mfhd)) != 0) return false
    val seq = be32(b, loOf(mfhd) + 4)
    var p = lo
    while (p + 8 <= hi) {
      val bd = bounds(b, p, hi)
      if (bd < 0L) return false
      if (typIs(b, p + 4, "traf")) {
        if (!walkTraf(b, moofStart, loOf(bd), hiOf(bd), seq, trex, out))
          return false
      }
      val next = hiOf(bd)
      if (next <= p) return false
      p = next
    }
    true
  }

  // tfhd flag bits (§8.8.7) and trun flag bits (§8.8.8)
  private final val TfBaseDataOffset = 0x000001
  private final val TfSampleDescIdx = 0x000002
  private final val TfDefaultDuration = 0x000008
  private final val TfDefaultSize = 0x000010
  private final val TfDefaultFlags = 0x000020
  private final val TfDefaultBaseIsMoof = 0x020000
  private final val TrDataOffset = 0x000001
  private final val TrFirstFlags = 0x000004
  private final val TrSampleDuration = 0x000100
  private final val TrSampleSize = 0x000200
  private final val TrSampleFlags = 0x000400
  private final val TrSampleCts = 0x000800
  private final val NonSyncBit = 0x00010000L

  private def walkTraf(b: Array[Byte], moofStart: Int, lo: Int, hi: Int,
      seq: Long, trex: Map[Long, (Long, Long, Long)],
      out: scala.collection.mutable.ArrayBuffer[Any]): Boolean = {
    val tfhd = findBox(b, lo, hi, "tfhd")
    if (tfhd < 0L) return false
    var c = loOf(tfhd)
    val tfhdEnd = hiOf(tfhd)
    if (c + 8 > tfhdEnd || Mp4Demux.ver(b, c) != 0) return false
    val flags = (be32(b, c) & 0xffffffL).toInt
    val trackId = be32(b, c + 4)
    c += 8
    var baseOff = -1L
    if ((flags & TfBaseDataOffset) != 0) {
      if (c + 8 > tfhdEnd) return false
      baseOff = be64(b, c); c += 8
    }
    if ((flags & TfSampleDescIdx) != 0) c += 4
    val td = trex.get(trackId)
    var defDur = td.map(_._1).getOrElse(-1L)
    var defSz = td.map(_._2).getOrElse(-1L)
    var defFl = td.map(_._3).getOrElse(-1L)
    if ((flags & TfDefaultDuration) != 0) {
      if (c + 4 > tfhdEnd) return false
      defDur = be32(b, c); c += 4
    }
    if ((flags & TfDefaultSize) != 0) {
      if (c + 4 > tfhdEnd) return false
      defSz = be32(b, c); c += 4
    }
    if ((flags & TfDefaultFlags) != 0) {
      if (c + 4 > tfhdEnd) return false
      defFl = be32(b, c); c += 4
    }
    if (c > tfhdEnd) return false
    if (baseOff < 0L) {
      if ((flags & TfDefaultBaseIsMoof) == 0) return false // legacy chain: out of scope
      baseOff = moofStart.toLong
    }
    // tfdt: CMAF-mandatory; v0 32-bit, v1 64-bit decode time
    val tfdt = findBox(b, lo, hi, "tfdt")
    if (tfdt < 0L) return false
    val dl = loOf(tfdt)
    var dts = Mp4Demux.ver(b, dl) match {
      case 0 => if (dl + 8 > hiOf(tfdt)) return false else be32(b, dl + 4)
      case 1 => if (dl + 12 > hiOf(tfdt)) return false else be64(b, dl + 4)
      case _ => return false
    }
    // every trun in traf order; sample_idx continues across truns
    var sampleIdx = 0L
    var p = lo
    while (p + 8 <= hi) {
      val bd = bounds(b, p, hi)
      if (bd < 0L) return false
      if (typIs(b, p + 4, "trun")) {
        var q = loOf(bd)
        val qEnd = hiOf(bd)
        if (q + 8 > qEnd) return false
        val tver = Mp4Demux.ver(b, q)
        if (tver > 1) return false
        val tf = (be32(b, q) & 0xffffffL).toInt
        val count = be32(b, q + 4)
        // Sanity cap (the Mp4Demux nSamples lesson): when no
        // per-sample trun fields are present (CMAF steady state,
        // flags 0x01|0x04) the emit loop below has no per-iteration
        // bounds check, so a corrupt count=0xFFFFFFFF would append
        // ~4.3e9 rows and OOM. Quarantine instead — degrade to no
        // samples, never kill the scan. Cumulative cap across truns
        // bounds the whole traf the same way.
        if (count > (1L << 24) || sampleIdx + count > (1L << 24))
          return false
        q += 8
        if ((tf & TrDataOffset) == 0) return false // implicit offset: out of scope
        if (q + 4 > qEnd) return false
        val dataOff = be32(b, q).toInt // signed 32
        q += 4
        var firstFl = -1L
        if ((tf & TrFirstFlags) != 0) {
          if (q + 4 > qEnd) return false
          firstFl = be32(b, q); q += 4
        }
        val perDur = (tf & TrSampleDuration) != 0
        val perSz = (tf & TrSampleSize) != 0
        val perFl = (tf & TrSampleFlags) != 0
        val perCts = (tf & TrSampleCts) != 0
        if (!perDur && defDur < 0L) return false
        if (!perSz && defSz < 0L) return false
        var off = baseOff + dataOff
        var i = 0L
        while (i < count) {
          var dur = defDur
          var sz = defSz
          var fl = if (i == 0L && firstFl >= 0L) firstFl else defFl
          var cts = 0L
          if (perDur) { if (q + 4 > qEnd) return false; dur = be32(b, q); q += 4 }
          if (perSz) { if (q + 4 > qEnd) return false; sz = be32(b, q); q += 4 }
          if (perFl) { if (q + 4 > qEnd) return false; fl = be32(b, q); q += 4 }
          if (perCts) {
            if (q + 4 > qEnd) return false
            cts = if (tver == 1) be32(b, q).toInt.toLong else be32(b, q)
            q += 4
          }
          if (fl < 0L) return false // no flags from any level: out of scope
          val isSync = if ((fl & NonSyncBit) == 0L) 1L else 0L
          out += InternalRow(seq, trackId, sampleIdx, off, sz, dts,
            dts + cts, dur, isSync)
          off += sz
          dts += dur
          sampleIdx += 1L
          i += 1L
        }
      }
      val next = hiOf(bd)
      if (next <= p) return false
      p = next
    }
    true
  }

  /** `mp4_frag_samples(payload)`: the parser entry and its Column builder. */
  val mp4FragSamples: ByteParser = ByteParser("mp4_frag_samples",
    ArrayType(StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("track_id", LongType, nullable = false),
    StructField("sample_idx", LongType, nullable = false),
    StructField("file_offset", LongType, nullable = false),
    StructField("sample_size", LongType, nullable = false),
    StructField("dts", LongType, nullable = false),
    StructField("pts", LongType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("is_sync", LongType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(fragSamples)
}
