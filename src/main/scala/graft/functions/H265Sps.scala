package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** H.265/HEVC Sequence Parameter Set parse — the modern-codec leg of
  * the header-demux family next to [[H264Sps]]: today's video corpora
  * are HEVC-dominant, so the same "route 4K to the resize pool, drop
  * sub-360p" triage needs this header read too. Unlike H.264, the
  * HEVC SPS carries chroma format and bit depth EXPLICITLY (no
  * profile-conditional layout), but prefixes them with the
  * profile_tier_level block (ITU-T H.265 §7.3.3) whose sub-layer
  * entries must be walked bit-exactly to reach the geometry.
  *
  * Wire format is the public ITU-T H.265 spec §7.3.2.2.1 (also
  * ISO/IEC 23008-2): 2-byte NAL header (type must be 33 = SPS_NUT,
  * base layer only), emulation-prevention unescape (00 00 03 →
  * 00 00, §7.4.2), profile_tier_level, then ue(v) geometry fields.
  *
  * Scope is a WHITELIST (the H264Sps round-9 lesson): only
  * general_profile_space 0 with general_profile_idc ∈ {1 Main,
  * 2 Main 10, 3 Main Still Picture, 4 Rext} parses; reserved/future
  * profile values, non-zero profile space, nuh_layer_id != 0,
  * chroma_format_idc > 3, and bit depths beyond 16 all QUARANTINE —
  * corrupt or out-of-scope assets degrade to "no info", never a
  * wrong resolution. */
object H265Sps {

  private val KnownProfiles: Set[Long] = Set(1L, 2L, 3L, 4L)

  /** SPS row (profile_idc, tier_flag, level_idc, chroma_format,
    * bit_depth_luma, bit_depth_chroma, width, height), or null on
    * any malformation / out-of-scope layout. */
  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 16) return null
    if ((bytes(0) & 0x80) != 0) return null // forbidden_zero_bit
    if (((bytes(0) >> 1) & 0x3f) != 33) return null // SPS_NUT
    val layerId = ((bytes(0) & 1) << 5) | ((bytes(1) >> 3) & 0x1f)
    if (layerId != 0) return null // base layer only — whitelist
    if ((bytes(1) & 7) == 0) return null // temporal_id_plus1 != 0
    val r = NalBitReader(bytes, 2)
    r.u(4) // sps_video_parameter_set_id
    val maxSubLayersMinus1 = r.u(3)
    if (maxSubLayersMinus1 > 6) return null // spec ceiling (§7.4.3.2.1)
    r.u(1) // sps_temporal_id_nesting_flag
    // --- profile_tier_level(1, maxSubLayersMinus1), §7.3.3 ---
    val profileSpace = r.u(2)
    if (profileSpace != 0) return null // reserved spaces: quarantine
    val tier = r.u(1)
    val profile = r.u(5)
    if (profile < 0 || !KnownProfiles.contains(profile)) return null
    // 32 compat flags + 4 source/constraint flags + 44 reserved bits
    if (!r.skip(32 + 4 + 44)) return null
    val level = r.u(8)
    if (level < 0) return null
    val n = maxSubLayersMinus1.toInt
    val profPresent = new Array[Boolean](n)
    val levelPresent = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      profPresent(i) = r.u(1) == 1L
      levelPresent(i) = r.u(1) == 1L
      i += 1
    }
    if (n > 0 && !r.skip(2 * (8 - n))) return null // alignment bits
    i = 0
    while (i < n) {
      if (profPresent(i) && !r.skip(88)) return null
      if (levelPresent(i) && !r.skip(8)) return null
      i += 1
    }
    // --- geometry, §7.3.2.2.1 ---
    val spsId = r.ue()
    if (spsId < 0 || spsId > 15) return null
    val chroma = r.ue()
    if (chroma < 0 || chroma > 3) return null
    if (chroma == 3) r.u(1) // separate_colour_plane_flag
    val picW = r.ue()
    val picH = r.ue()
    if (picW <= 0 || picH <= 0 || picW > 65536 || picH > 65536)
      return null
    var cl = 0L; var cr = 0L; var ct = 0L; var cb = 0L
    if (r.u(1) == 1L) { // conformance_window_flag
      cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue()
      if (cl < 0 || cr < 0 || ct < 0 || cb < 0) return null
    }
    val bdLuma = r.ue()
    val bdChroma = r.ue()
    if (bdLuma < 0 || bdLuma > 8 || bdChroma < 0 || bdChroma > 8)
      return null // bit_depth_*_minus8 ∈ [0, 8] per spec
    if (!r.ok) return null
    // conformance window offsets are in chroma sub-sampling units:
    // SubWidthC = 2 for 4:2:0/4:2:2, SubHeightC = 2 for 4:2:0 only
    // (§6.1 Table 6-1); 4:4:4 and monochrome crop in luma samples
    val subW = if (chroma == 1 || chroma == 2) 2L else 1L
    val subH = if (chroma == 1) 2L else 1L
    val width = picW - subW * (cl + cr)
    val height = picH - subH * (ct + cb)
    if (width <= 0 || height <= 0) return null
    InternalRow(profile, tier, level, chroma, bdLuma + 8, bdChroma + 8,
      width, height)
  }

  /** `h265_sps(payload)`: the parser entry and its Column builder. */
  val spsCol: ByteParser = ByteParser("h265_sps", StructType(Seq(
    StructField("profile_idc", LongType, nullable = false),
    StructField("tier_flag", LongType, nullable = false),
    StructField("level_idc", LongType, nullable = false),
    StructField("chroma_format", LongType, nullable = false),
    StructField("bit_depth_luma", LongType, nullable = false),
    StructField("bit_depth_chroma", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false))),
    nullOnMalformed = true)(parse)
}
