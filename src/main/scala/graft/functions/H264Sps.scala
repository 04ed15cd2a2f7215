package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** H.264/AVC Sequence Parameter Set parse — the CODEC leg of the
  * header-demux family (G16/G27 found WHERE the video samples are;
  * this reads WHAT they are): the SPS NAL carries the coded width,
  * height, profile/level and reference-frame budget of the whole
  * stream in ~20 BYTES of Exp-Golomb bitfields, so the resolution
  * triage of a 100 TB video corpus ("route 4K to the resize pool,
  * drop sub-360p") costs a header read per asset, no frame decoded.
  *
  * Wire format is the public ITU-T H.264 spec §7.3.2.1 (also ISO/IEC
  * 14496-10): NAL header byte (type must be 7), emulation-prevention
  * unescape (00 00 03 → 00 00, §7.4.1), then ue(v) Exp-Golomb
  * fields. Scope is the Baseline/Main/Extended header layout,
  * enforced as a WHITELIST (profile_idc 66/77/88): every other
  * value — the §7.3.2.1.1 chroma-block profiles, the legacy 144,
  * and all reserved/future values — QUARANTINES explicitly (the
  * ctts-version lesson: enforce the scope, never misparse past it).
  * pic_order_cnt_type 1 (the delta-table variant) likewise
  * quarantines; types 0 and 2 parse.
  *
  * Quarantine contract: wrong NAL type, ue(v) running past the
  * payload, a leading-zero run > 31, or an out-of-scope branch all
  * return NULL — corrupt assets degrade to "no info", never a wrong
  * resolution. */
object H264Sps {

  /** profile_idc values whose SPS provably LACKS the
    * chroma_format_idc block (H.264 §7.3.2.1.1): Baseline (66),
    * Main (77), Extended (88). A WHITELIST, not a blacklist — the
    * legacy 2005-era High 4:4:4 profile (144) and every reserved /
    * future value carry (or may carry) the chroma block, and parsing
    * it as the baseline layout would read chroma fields as
    * frame_num/width: the silent misparse the ctts lesson forbids.
    * Everything not on this list quarantines. */
  private val BaselineLayoutProfiles: Set[Long] = Set(66L, 77L, 88L)

  /** SPS row (profile_idc, level_idc, sps_id, log2_max_frame_num,
    * poc_type, max_ref_frames, frame_mbs_only, width, height), or
    * null on any malformation / out-of-scope layout. */
  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 5) return null
    if ((bytes(0) & 0x80) != 0) return null // forbidden_zero_bit
    if ((bytes(0) & 0x1f) != 7) return null // nal_unit_type SPS
    val r = NalBitReader(bytes, 1)
    val profile = r.u(8)
    r.u(8) // constraint flags + reserved
    val level = r.u(8)
    if (profile < 0 || level < 0) return null
    // Parsing a chroma-block (or unknown) profile as the baseline
    // layout would read the chroma fields as frame_num/width —
    // quarantine everything not provably baseline-layout.
    if (!BaselineLayoutProfiles.contains(profile)) return null
    val spsId = r.ue()
    val log2mfn = r.ue()
    val pocType = r.ue()
    if (spsId < 0 || log2mfn < 0 || pocType < 0) return null
    if (pocType == 0) {
      if (r.ue() < 0) return null // log2_max_pic_order_cnt_lsb_minus4
    } else if (pocType != 2) {
      return null // poc type 1 delta table: out of scope, quarantine
    }
    val maxRef = r.ue()
    r.u(1) // gaps_in_frame_num_value_allowed_flag
    val wMbs = r.ue()
    val hMap = r.ue()
    if (maxRef < 0 || wMbs < 0 || hMap < 0) return null
    val frameMbsOnly = r.u(1)
    if (frameMbsOnly == 0) r.u(1) // mb_adaptive_frame_field_flag
    r.u(1) // direct_8x8_inference_flag
    val crop = r.u(1)
    var cl = 0L; var cr = 0L; var ct = 0L; var cb = 0L
    if (crop == 1) {
      cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue()
      if (cl < 0 || cr < 0 || ct < 0 || cb < 0) return null
    }
    if (!r.ok || frameMbsOnly < 0) return null
    // 4:2:0 crop units: 2 px horizontal, 2·(2 − frame_mbs_only) vertical
    val width = (wMbs + 1) * 16 - 2 * (cl + cr)
    val height = (2 - frameMbsOnly) * (hMap + 1) * 16 -
      2 * (2 - frameMbsOnly) * (ct + cb)
    if (width <= 0 || height <= 0) return null
    InternalRow(profile, level, spsId, log2mfn + 4, pocType, maxRef,
      frameMbsOnly, width, height)
  }

  /** `h264_sps(payload)`: the parser entry and its Column builder. */
  val spsCol: ByteParser = ByteParser("h264_sps", StructType(Seq(
    StructField("profile_idc", LongType, nullable = false),
    StructField("level_idc", LongType, nullable = false),
    StructField("sps_id", LongType, nullable = false),
    StructField("log2_max_frame_num", LongType, nullable = false),
    StructField("poc_type", LongType, nullable = false),
    StructField("max_ref_frames", LongType, nullable = false),
    StructField("frame_mbs_only", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false))),
    nullOnMalformed = true)(parse)
}
