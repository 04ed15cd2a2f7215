package graft.functions

/** MSB-first bit reader over the RBSP of an H.264 or H.265 NAL unit
  * (the two SPS parses share it). Reading past the end parks `pos`
  * at Int.MaxValue and returns -1, so `ok` turns false. */
private[functions] final class NalBitReader(val b: Array[Byte]) {
  var pos = 0 // bit position
  def u(n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) {
      val byteIdx = pos >> 3
      if (byteIdx >= b.length) { pos = Int.MaxValue; return -1L }
      v = (v << 1) | ((b(byteIdx) >> (7 - (pos & 7))) & 1)
      pos += 1
      i += 1
    }
    v
  }
  /** Advance n bits without decoding (sub-layer PTL blocks exceed
    * 63 bits, so u() can't skip them). Returns false on overrun. */
  def skip(n: Int): Boolean = {
    // compare BEFORE advancing: a prior overrun parks pos at
    // Int.MaxValue, and pos += n would wrap negative
    if (pos > b.length * 8 - n) { pos = Int.MaxValue; false }
    else { pos += n; true }
  }
  def ue(): Long = {
    var zeros = 0
    while (zeros <= 31) {
      val byteIdx = pos >> 3
      if (byteIdx >= b.length) { pos = Int.MaxValue; return -1L }
      val bit = (b(byteIdx) >> (7 - (pos & 7))) & 1
      pos += 1
      if (bit == 1) {
        if (zeros == 0) return 0L
        val rest = u(zeros)
        if (rest < 0) return -1L
        return (1L << zeros) - 1L + rest
      }
      zeros += 1
    }
    pos = Int.MaxValue
    -1L
  }
  def ok: Boolean = pos <= b.length * 8
}

private[functions] object NalBitReader {

  /** Reader over `nal` minus its `header`-byte NAL header (1 byte in
    * H.264, 2 in H.265) and its emulation-prevention bytes
    * (00 00 03 → 00 00). */
  def apply(nal: Array[Byte], header: Int): NalBitReader = {
    val out = new Array[Byte](nal.length - header)
    var n = 0
    var i = header
    var zeros = 0
    while (i < nal.length) {
      val v = nal(i)
      if (zeros >= 2 && v == 3) {
        zeros = 0 // skip the emulation-prevention byte
      } else {
        out(n) = v; n += 1
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    new NalBitReader(java.util.Arrays.copyOf(out, n))
  }
}
