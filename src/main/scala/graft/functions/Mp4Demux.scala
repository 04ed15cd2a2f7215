package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ISO-BMFF (mp4/mov/m4a) SAMPLE-TABLE demux as row-local byte math —
  * the buildable half of video support in an offline image (the JPEG
  * marker-walk precedent, G4): container demux needs no codec, only
  * the box tree. Walks ftyp→moov→trak→mdia→minf→stbl, reads the
  * stsc (sample-to-chunk runs), stsz (sizes, uniform or per-sample)
  * and stco/co64 (32/64-bit chunk offsets) tables, and resolves
  * EVERY sample to its absolute (chunk, file_offset, size) — exactly
  * the per-sample read plan a downstream decoder pool consumes, so a
  * 100 TB video corpus can be frame-ranged WITHOUT decoding a single
  * frame. The input need only be the metadata PREFIX of the file
  * (ftyp + moov, a few KB): nothing here touches mdat, so the plan
  * for a multi-GB asset comes from a ranged read of its header —
  * co64 offsets beyond 4 GiB and 64-bit `largesize` boxes are
  * first-class for exactly that reason.
  *
  * Reference boxes: ISO/IEC 14496-12 §8.4-8.7 (public spec).
  * [[samples]]/[[timing]] walk the FIRST trak;
  * [[samplesFor]]/[[timingFor]] route by the hdlr handler type
  * ('vide'/'soun'/…) for multi-track containers, and [[tracks]]
  * lists every trak's metadata (handler, mdhd timescale/duration
  * v0 AND v1, sample/chunk counts) for routing policy above this
  * seam. Malformed input — truncated boxes, missing stbl, table
  * overruns, unknown FullBox versions — returns an EMPTY array,
  * never throws: sniffing/demux run before any quality gate, so a
  * corrupt asset must degrade to "no samples", not kill the scan. */
object Mp4Demux {

  private[functions] def be32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  private[functions] def be64(b: Array[Byte], p: Int): Long =
    (be32(b, p) << 32) | be32(b, p + 4)

  /** FullBox version byte (first payload byte). */
  private[functions] def ver(b: Array[Byte], lo: Int): Int = b(lo) & 0xff

  private[functions] def typIs(b: Array[Byte], p: Int, t: String): Boolean =
    b(p) == t.charAt(0).toByte && b(p + 1) == t.charAt(1).toByte &&
      b(p + 2) == t.charAt(2).toByte && b(p + 3) == t.charAt(3).toByte

  /** Bounds of the box headered at `p` within an enclosure ending at
    * `end`, honoring the three size forms (ISO 14496-12 §4.2):
    * size ≥ 8 plain, size == 1 → 64-bit largesize follows the type,
    * size == 0 → box extends to the end of the enclosure. Packed as
    * (payloadLo << 32) | boxEnd, or -1 on malformation/overrun. */
  private[functions] def bounds(b: Array[Byte], p: Int, end: Int): Long = {
    if (p + 8 > end) return -1L
    val size = be32(b, p)
    if (size == 0L) return ((p + 8).toLong << 32) | end.toLong
    if (size == 1L) {
      if (p + 16 > end) return -1L
      val big = be64(b, p + 8)
      if (big < 16L || p + big > end) return -1L
      return ((p + 16).toLong << 32) | (p + big)
    }
    if (size < 8L || p + size > end) return -1L
    ((p + 8).toLong << 32) | (p + size)
  }

  /** First box of type `t` among the siblings in [start, end),
    * packed as (payloadLo << 32) | boxEnd; -1 if absent. Starting
    * `from` past the previous box's end iterates siblings. */
  private[functions] def findBox(b: Array[Byte], start: Int, end: Int,
      t: String): Long = {
    var p = start
    while (p + 8 <= end) {
      val bd = bounds(b, p, end)
      if (bd < 0L) return -1L
      if (typIs(b, p + 4, t)) return bd
      val next = (bd & 0xffffffffL).toInt
      if (next <= p) return -1L
      p = next
    }
    -1L
  }

  private[functions] def loOf(packed: Long): Int = (packed >>> 32).toInt
  private[functions] def hiOf(packed: Long): Int = (packed & 0xffffffffL).toInt

  /** (lo, hi) payload bounds of the FIRST trak's stbl, or null. */
  private def stblBounds(bytes: Array[Byte]): (Int, Int) = {
    var lo = 0
    var hi = bytes.length
    for (container <- Seq("moov", "trak", "mdia", "minf", "stbl")) {
      val bd = findBox(bytes, lo, hi, container)
      if (bd < 0L) return null
      lo = loOf(bd); hi = hiOf(bd)
    }
    (lo, hi)
  }

  /** Payload bounds of every trak under moov, in file order. */
  private def trakList(bytes: Array[Byte]): Seq[(Int, Int)] = {
    val moov = findBox(bytes, 0, bytes.length, "moov")
    if (moov < 0L) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var p = loOf(moov)
    val end = hiOf(moov)
    while (p + 8 <= end) {
      val bd = bounds(bytes, p, end)
      if (bd < 0L) return out.toSeq
      if (typIs(bytes, p + 4, "trak")) out += ((loOf(bd), hiOf(bd)))
      val next = hiOf(bd)
      if (next <= p) return out.toSeq
      p = next
    }
    out.toSeq
  }

  /** hdlr handler_type 4CC of the trak at (lo, hi), or null: FullBox
    * ver/flags, pre_defined, then the 4CC (ISO 14496-12 §8.4.3). */
  private def trakHandler(bytes: Array[Byte], lo: Int, hi: Int): String = {
    val mdia = findBox(bytes, lo, hi, "mdia")
    if (mdia < 0L) return null
    val hdlr = findBox(bytes, loOf(mdia), hiOf(mdia), "hdlr")
    if (hdlr < 0L) return null
    val hl = loOf(hdlr)
    if (hl + 12 > hiOf(hdlr) || ver(bytes, hl) != 0) return null
    new String(bytes, hl + 8, 4, "US-ASCII")
  }

  /** stbl payload bounds of the FIRST trak whose hdlr matches
    * `handler`, or null — the multi-track routing selector. */
  private def stblBoundsFor(bytes: Array[Byte],
      handler: String): (Int, Int) = {
    for ((tLo, tHi) <- trakList(bytes)) {
      if (handler == trakHandler(bytes, tLo, tHi)) {
        var lo = tLo
        var hi = tHi
        var ok = true
        for (container <- Seq("mdia", "minf", "stbl")) {
          if (ok) {
            val bd = findBox(bytes, lo, hi, container)
            if (bd < 0L) ok = false
            else { lo = loOf(bd); hi = hiOf(bd) }
          }
        }
        if (ok) return (lo, hi)
      }
    }
    null
  }

  /** Per-sample read plan of the stbl at (lo, hi): array of
    * (sample_idx, chunk_idx 1-based, absolute file offset, size).
    * Chunk offsets come from stco or, when absent, the 64-bit co64
    * table (assets past 4 GiB). Empty on any malformation. */
  private def samplesOf(bytes: Array[Byte], b: (Int, Int)): ArrayData = {
    val empty = new GenericArrayData(Array.empty[Any])
    if (b == null) return empty
    val (lo, hi) = b
    val stsc = findBox(bytes, lo, hi, "stsc")
    val stsz = findBox(bytes, lo, hi, "stsz")
    val stco = findBox(bytes, lo, hi, "stco")
    val co64 = if (stco < 0L) findBox(bytes, lo, hi, "co64") else -1L
    if (stsc < 0L || stsz < 0L || (stco < 0L && co64 < 0L)) return empty
    val (scLo, scHi) = (loOf(stsc), hiOf(stsc))
    val (szLo, szHi) = (loOf(stsz), hiOf(stsz))
    val wide = stco < 0L
    val coLo = if (wide) loOf(co64) else loOf(stco)
    val coHi = if (wide) hiOf(co64) else hiOf(stco)
    // Only version 0 is defined for stsc/stsz/stco/co64
    // (ISO 14496-12) — an unknown version means unknown layout, so
    // quarantine rather than misparse
    if (ver(bytes, scLo) != 0 || ver(bytes, szLo) != 0 ||
        ver(bytes, coLo) != 0) return empty
    // stsz payload: ver/flags, uniform sample_size, sample_count[, sizes]
    val uniform = be32(bytes, szLo + 4)
    val nSamples = be32(bytes, szLo + 8).toInt
    if (nSamples < 0 || nSamples > (1 << 24)) return empty
    if (uniform == 0 && szLo + 12 + 4L * nSamples > szHi) return empty
    def sizeOf(i: Int): Long =
      if (uniform != 0) uniform else be32(bytes, szLo + 12 + 4 * i)
    // stco payload: ver/flags, entry_count, 32-bit offsets;
    // co64 is identical with 64-bit offsets
    val nChunks = be32(bytes, coLo + 4).toInt
    val entryW = if (wide) 8L else 4L
    if (nChunks <= 0 || coLo + 8 + entryW * nChunks > coHi) return empty
    def chunkOff(j: Int): Long =
      if (wide) be64(bytes, coLo + 8 + 8 * j)
      else be32(bytes, coLo + 8 + 4 * j)
    // stsc payload: ver/flags, entry_count, (first_chunk, spc, sdi) runs
    val nRuns = be32(bytes, scLo + 4).toInt
    if (nRuns <= 0 || scLo + 8 + 12L * nRuns > scHi) return empty
    def runFirst(r: Int): Long = be32(bytes, scLo + 8 + 12 * r)
    def runSpc(r: Int): Long = be32(bytes, scLo + 8 + 12 * r + 4)
    val out = new Array[Any](nSamples)
    var i = 0        // sample index
    var run = 0      // current stsc run
    var chunk = 1L   // 1-based chunk index
    while (i < nSamples) {
      if (chunk > nChunks) return empty // tables disagree
      while (run + 1 < nRuns && runFirst(run + 1) <= chunk) run += 1
      val spc = runSpc(run)
      if (spc <= 0) return empty
      var within = 0L
      var off = chunkOff((chunk - 1).toInt)
      while (within < spc && i < nSamples) {
        val sz = sizeOf(i)
        out(i) = InternalRow(i.toLong, chunk, off, sz)
        off += sz
        within += 1
        i += 1
      }
      chunk += 1
    }
    new GenericArrayData(out)
  }

  /** First-trak read plan (single-track assets). */
  def samples(bytes: Array[Byte]): ArrayData =
    samplesOf(bytes, stblBounds(bytes))

  /** Read plan of the first trak whose hdlr handler matches —
    * 'vide', 'soun', … Empty when no trak carries that handler. */
  def samplesFor(bytes: Array[Byte], handler: UTF8String): ArrayData =
    samplesOf(bytes, stblBoundsFor(bytes, handler.toString))

  /** Per-sample TIMING plan from stts (decode timestamps) + ctts
    * (composition offsets — the B-frame presentation reorder) + stss
    * (sync samples): array of (sample_idx, dts, pts, duration,
    * is_sync 0/1). Absent stss means EVERY sample is a sync sample;
    * absent ctts means pts = dts (ISO 14496-12 §8.6 — both boxes are
    * only written when needed). Empty on any malformation. This is
    * what a keyframe-aware frame sampler consumes: seek targets are
    * sync samples, presentation windows come from the pts ladder. */
  private def timingOf(bytes: Array[Byte], b: (Int, Int)): ArrayData = {
    val empty = new GenericArrayData(Array.empty[Any])
    if (b == null) return empty
    val (lo, hi) = b
    val stts = findBox(bytes, lo, hi, "stts")
    val stsz = findBox(bytes, lo, hi, "stsz")
    if (stts < 0L || stsz < 0L) return empty
    val (stLo, stHi) = (loOf(stts), hiOf(stts))
    val szLo = loOf(stsz)
    if (ver(bytes, stLo) != 0 || ver(bytes, szLo) != 0) return empty
    val nSamples = be32(bytes, szLo + 8).toInt
    if (nSamples < 0 || nSamples > (1 << 24)) return empty
    val nRuns = be32(bytes, stLo + 4).toInt
    if (nRuns <= 0 || stLo + 8 + 8L * nRuns > stHi) return empty
    // stss is optional; a present-but-corrupt table quarantines
    val stss = findBox(bytes, lo, hi, "stss")
    var sync: Array[Boolean] = null
    if (stss >= 0L) {
      val (ssLo, ssHi) = (loOf(stss), hiOf(stss))
      if (ver(bytes, ssLo) != 0) return empty
      val nk = be32(bytes, ssLo + 4).toInt
      if (nk < 0 || ssLo + 8 + 4L * nk > ssHi) return empty
      sync = new Array[Boolean](nSamples)
      var k = 0
      while (k < nk) {
        val idx = be32(bytes, ssLo + 8 + 4 * k) // 1-based
        if (idx >= 1 && idx <= nSamples) sync((idx - 1).toInt) = true
        k += 1
      }
    }
    // ctts is optional (pts = dts without it); a present-but-corrupt
    // table quarantines. Version 0 offsets are UNSIGNED, version 1
    // offsets are SIGNED (real muxers emit v1 for B-frame reorder
    // where early samples present before they decode) — reading a
    // v1 negative as unsigned be32 would make pts ≈ dts + 4.29e9,
    // silently wrong; unknown versions quarantine.
    val ctts = findBox(bytes, lo, hi, "ctts")
    var cttsRuns = 0
    var cttsSigned = false
    var ctLo = 0
    if (ctts >= 0L) {
      ctLo = loOf(ctts)
      val v = ver(bytes, ctLo)
      if (v > 1) return empty
      cttsSigned = v == 1
      cttsRuns = be32(bytes, ctLo + 4).toInt
      if (cttsRuns <= 0 || ctLo + 8 + 8L * cttsRuns > hiOf(ctts))
        return empty
    }
    def cttsOff(p: Int): Long = {
      val raw = be32(bytes, p)
      if (cttsSigned) raw.toInt.toLong else raw
    }
    val out = new Array[Any](nSamples)
    var i = 0
    var run = 0
    var left = be32(bytes, stLo + 8) // samples left in current run
    var delta = be32(bytes, stLo + 12)
    var cRun = 0
    var cLeft = if (ctts >= 0L) be32(bytes, ctLo + 8) else Long.MaxValue
    var cOff = if (ctts >= 0L) cttsOff(ctLo + 12) else 0L
    var dts = 0L
    while (i < nSamples) {
      while (left <= 0) {
        run += 1
        if (run >= nRuns) return empty // stts covers fewer samples
        left = be32(bytes, stLo + 8 + 8 * run)
        delta = be32(bytes, stLo + 12 + 8 * run)
      }
      while (cLeft <= 0) {
        cRun += 1
        if (cRun >= cttsRuns) return empty // ctts covers fewer samples
        cLeft = be32(bytes, ctLo + 8 + 8 * cRun)
        cOff = cttsOff(ctLo + 12 + 8 * cRun)
      }
      val isSync = if (sync == null) 1L else if (sync(i)) 1L else 0L
      out(i) = InternalRow(i.toLong, dts, dts + cOff, delta, isSync)
      dts += delta
      left -= 1
      cLeft -= 1
      i += 1
    }
    new GenericArrayData(out)
  }

  /** First-trak timing plan (single-track assets). */
  def timing(bytes: Array[Byte]): ArrayData =
    timingOf(bytes, stblBounds(bytes))

  /** Timing plan routed by hdlr handler type. */
  def timingFor(bytes: Array[Byte], handler: UTF8String): ArrayData =
    timingOf(bytes, stblBoundsFor(bytes, handler.toString))

  /** Track directory: one row per trak — (track_idx, handler,
    * timescale, duration, n_samples, n_chunks). handler comes from
    * hdlr (null when absent/opaque); timescale/duration from mdhd,
    * honoring BOTH layouts (version 0: 32-bit times at payload
    * +12/+16; version 1: 64-bit creation/modification push timescale
    * to +20 and a 64-bit duration to +24 — ISO 14496-12 §8.4.2);
    * counts from stsz and stco/co64. A field whose box is absent or
    * malformed is null — the directory DESCRIBES tracks for routing,
    * it is not a read plan, so partial metadata beats dropping the
    * row (the read-plan calls keep the quarantine contract). */
  def tracks(bytes: Array[Byte]): ArrayData = {
    val traks = trakList(bytes)
    val out = new Array[Any](traks.length)
    var t = 0
    for ((tLo, tHi) <- traks) {
      val handler = trakHandler(bytes, tLo, tHi)
      var timescale: Any = null
      var duration: Any = null
      val mdia = findBox(bytes, tLo, tHi, "mdia")
      if (mdia >= 0L) {
        val mdhd = findBox(bytes, loOf(mdia), hiOf(mdia), "mdhd")
        if (mdhd >= 0L) {
          val (mLo, mHi) = (loOf(mdhd), hiOf(mdhd))
          ver(bytes, mLo) match {
            case 0 if mLo + 20 <= mHi =>
              timescale = be32(bytes, mLo + 12)
              duration = be32(bytes, mLo + 16)
            case 1 if mLo + 32 <= mHi =>
              timescale = be32(bytes, mLo + 20)
              duration = be64(bytes, mLo + 24)
            case _ => ()
          }
        }
      }
      var nSamples: Any = null
      var nChunks: Any = null
      if (mdia >= 0L) {
        val minf = findBox(bytes, loOf(mdia), hiOf(mdia), "minf")
        if (minf >= 0L) {
          val stbl = findBox(bytes, loOf(minf), hiOf(minf), "stbl")
          if (stbl >= 0L) {
            val (sLo, sHi) = (loOf(stbl), hiOf(stbl))
            val stsz = findBox(bytes, sLo, sHi, "stsz")
            if (stsz >= 0L && ver(bytes, loOf(stsz)) == 0 &&
                loOf(stsz) + 12 <= hiOf(stsz))
              nSamples = be32(bytes, loOf(stsz) + 8)
            val stco = findBox(bytes, sLo, sHi, "stco")
            val co = if (stco >= 0L) stco else findBox(bytes, sLo, sHi, "co64")
            if (co >= 0L && ver(bytes, loOf(co)) == 0 &&
                loOf(co) + 8 <= hiOf(co))
              nChunks = be32(bytes, loOf(co) + 4)
          }
        }
      }
      out(t) = InternalRow(t.toLong,
        if (handler == null) null else UTF8String.fromString(handler),
        timescale, duration, nSamples, nChunks)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** EDIT LIST (trak/edts/elst — ISO 14496-12 §8.6.6): the table
    * that maps media time onto the presentation timeline. Entry
    * semantics: media_time == −1 is an EMPTY edit (a presentation
    * delay of segment_duration movie-timescale ticks); otherwise the
    * edit presents media starting at media_time — the demuxed pts
    * ladder (G17) shifts by exactly these values, so a sampler that
    * ignores elst misaligns every A/V sync downstream. Both FullBox
    * layouts: v0 = u32 duration + s32 media_time; v1 = u64 + s64.
    * Rate exports as ppm (u16.16 fixed point · 10⁶ / 2¹⁶). Routed by
    * hdlr handler; a trak without edts yields the identity (empty
    * array — callers treat no-edit as pass-through); malformation
    * quarantines to empty. */
  def editsFor(bytes: Array[Byte], handler: UTF8String): ArrayData = {
    val empty = new GenericArrayData(Array.empty[Any])
    val want = handler.toString
    for ((tLo, tHi) <- trakList(bytes)) {
      if (want.isEmpty || want == trakHandler(bytes, tLo, tHi)) {
        val edts = findBox(bytes, tLo, tHi, "edts")
        if (edts < 0L) return empty // no edit list: identity
        val elst = findBox(bytes, loOf(edts), hiOf(edts), "elst")
        if (elst < 0L) return empty
        val (lo, hi) = (loOf(elst), hiOf(elst))
        if (lo + 8 > hi) return empty
        val v = ver(bytes, lo)
        if (v > 1) return empty // unknown layout: quarantine
        val n = be32(bytes, lo + 4).toInt
        val entryLen = if (v == 0) 12 else 20
        if (n < 0 || lo + 8 + n.toLong * entryLen > hi) return empty
        val out = new Array[Any](n)
        var i = 0
        while (i < n) {
          val p = lo + 8 + i * entryLen
          val (dur, mt, rp) =
            if (v == 0)
              (be32(bytes, p),
                be32(bytes, p + 4).toInt.toLong, // sign-extend s32
                p + 8)
            else (be64(bytes, p), be64(bytes, p + 8), p + 16)
          val rateInt = ((bytes(rp) & 0xffL) << 8) | (bytes(rp + 1) & 0xffL)
          val rateFrac = ((bytes(rp + 2) & 0xffL) << 8) | (bytes(rp + 3) & 0xffL)
          out(i) = InternalRow(i.toLong, dur, mt,
            rateInt * 1000000L + rateFrac * 1000000L / 65536L)
          i += 1
        }
        return new GenericArrayData(out)
      }
    }
    empty
  }

  /** `mp4_samples(payload[, handler])`: the per-sample read plan. */
  val mp4Samples: ByteParser = ByteParser.routed("mp4_samples",
    ArrayType(StructType(Seq(
      StructField("sample_idx", LongType, nullable = false),
      StructField("chunk_idx", LongType, nullable = false),
      StructField("file_offset", LongType, nullable = false),
      StructField("sample_size", LongType, nullable = false))),
      containsNull = false)) { h =>
    if (h.isEmpty) samples
    else { val u = UTF8String.fromString(h); samplesFor(_, u) }
  }

  /** `mp4_timing(payload[, handler])`: the per-sample timing plan. */
  val mp4Timing: ByteParser = ByteParser.routed("mp4_timing",
    ArrayType(StructType(Seq(
      StructField("sample_idx", LongType, nullable = false),
      StructField("dts", LongType, nullable = false),
      StructField("pts", LongType, nullable = false),
      StructField("duration", LongType, nullable = false),
      StructField("is_sync", LongType, nullable = false))),
      containsNull = false)) { h =>
    if (h.isEmpty) timing
    else { val u = UTF8String.fromString(h); timingFor(_, u) }
  }

  /** `mp4_edits(payload[, handler])`: the edit list ("" = first trak). */
  val mp4Edits: ByteParser = ByteParser.routed("mp4_edits",
    ArrayType(StructType(Seq(
      StructField("edit_idx", LongType, nullable = false),
      StructField("segment_duration", LongType, nullable = false),
      StructField("media_time", LongType, nullable = false),
      StructField("rate_ppm", LongType, nullable = false))),
      containsNull = false)) { h =>
    val u = UTF8String.fromString(h); editsFor(_, u)
  }

  /** `mp4_tracks(payload)`: the per-trak directory a routing policy
    * consumes (G18). */
  val mp4Tracks: ByteParser = ByteParser("mp4_tracks",
    ArrayType(StructType(Seq(
      StructField("track_idx", LongType, nullable = false),
      StructField("handler", StringType, nullable = true),
      StructField("timescale", LongType, nullable = true),
      StructField("duration", LongType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("n_chunks", LongType, nullable = true))),
      containsNull = false),
    nullOnMalformed = false)(tracks)
}
