package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** G2: the batched binary-decode pipeline (stubbed codec, real
  * mapPartitions plumbing). */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val sf = GraftTestSession.sf

  test("decodeAssets emits one typed row per document, deterministically") {
    val a = Multimodal.decodeAssets(spark, sf).collect().sortBy(_.doc_id)
    val b = Multimodal.decodeAssets(spark, sf).collect().sortBy(_.doc_id)
    assert(a.length == spark.read.parquet(s"$sf/documents.parquet").count())
    assert(a.toSeq == b.toSeq) // decode is deterministic
    assert(a.forall(d => d.n_bytes > 0 && d.width >= 0 && d.width < 1920))
  }

  test("G3 frame sampling fans out n frames per asset inside the partition") {
    val frames = Multimodal.sampleFrames(spark, sf, n = 4).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(frames.length == 4 * nDocs) // every doc ≥ 4 bytes → 4 frames
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc.values.forall(_.map(_.frame_idx).sorted.toSeq == Seq(0, 1, 2, 3)))
    // deterministic
    val again = Multimodal.sampleFrames(spark, sf, n = 4).collect()
    assert(frames.sortBy(f => (f.doc_id, f.frame_idx)).toSeq ==
      again.sortBy(f => (f.doc_id, f.frame_idx)).toSeq)
  }

  test("metadata-only queries never read the payload column (pruning)") {
    val out = java.nio.file.Files.createTempDirectory("graft_mm").toString
    Multimodal.binaryMeta(spark, sf).write.mode("overwrite")
      .parquet(s"$out/assets")
    val metaOnly = spark.read.parquet(s"$out/assets")
      .select("doc_id", "mime", "n_bytes")
      .filter(org.apache.spark.sql.functions.col("n_bytes") > 200)
    val plan = metaOnly.queryExecution.executedPlan.toString
    // the multimodal contract's point: metadata scans skip the bytes
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("payload"), plan.take(1200))
    assert(metaOnly.count() > 0)
  }

  test("decode output checksum matches a local reference computation") {
    val doc = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().head
    val bytes = doc.getString(1).getBytes("UTF-8")
    val expect = Multimodal.FakeCodec.decode(doc.getLong(0), bytes)
    val got = Multimodal.decodeAssets(spark, sf)
      .filter(_.doc_id == doc.getLong(0)).collect().head
    assert(got == expect)
  }

  test("G2 ImageIoCodec really decodes PNG and BMP pixels; corrupt bytes quarantine") {
    import spark.implicits._
    // craft real images in-memory: a 7x5 gradient PNG and a 4x3 BMP
    def img(w: Int, h: Int): java.awt.image.BufferedImage = {
      val b = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        b.setRGB(x, y, (x * 40 << 16) | (y * 50 << 8) | (x + y))
      b
    }
    def bytes(i: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(i, fmt, out), s"no $fmt writer")
      out.toByteArray
    }
    val png = bytes(img(7, 5), "png"); val bmp = bytes(img(4, 3), "bmp")
    val assets = Seq(
      (1L, png), (2L, bmp),
      (3L, "definitely not an image".getBytes("UTF-8")),
      (4L, png.take(10).toArray)) // truncated header
      .toDF("doc_id", "payload")
    val got = Multimodal.decodeWith(assets, Multimodal.ImageIoCodec)
      .collect().map(d => d.doc_id -> d).toMap
    assert(got(1L).width == 7 && got(1L).height == 5 &&
      got(1L).mime == "image/png", s"${got(1L)}")
    assert(got(2L).width == 4 && got(2L).height == 3 &&
      got(2L).mime == "image/bmp", s"${got(2L)}")
    // checksum equals a direct driver-side pixel walk of the SAME image
    def pixelChecksum(i: java.awt.image.BufferedImage): Long = {
      var cs = 1125899906842597L
      for (y <- 0 until i.getHeight; x <- 0 until i.getWidth)
        cs = cs * 31 + i.getRGB(x, y)
      cs
    }
    assert(got(1L).checksum == pixelChecksum(img(7, 5)))
    assert(got(2L).checksum == pixelChecksum(img(4, 3)))
    // PNG and BMP of the SAME pixels agree on the pixel identity
    assert(pixelChecksum(img(4, 3)) == Multimodal.ImageIoCodec
      .decode(0L, bytes(img(4, 3), "png")).checksum,
      "pixel checksum must be format-independent")
    // corrupt payloads quarantine instead of killing the scan
    for (id <- Seq(3L, 4L))
      assert(got(id).width == -1 && got(id).height == -1 &&
        got(id).mime == "application/octet-stream", s"${got(id)}")
  }

  test("G9 BMP round trip: hand-built 2x2 pixels exact, padding rows honored, corrupt drops") {
    import spark.implicits._
    // 2x2 needs no padding (stride 8 > 6 does: w=2 → 6 bytes → pad 2);
    // 3x2 strides 9→12; both shapes must decode to the formula pixels
    val assets = Seq(
      (7L, Multimodal.bmpBytes(7L, 2, 2)),
      (8L, Multimodal.bmpBytes(8L, 3, 2)),
      (9L, "not a bitmap".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val got = Multimodal.imagePixels(assets)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2, t._3) -> ((t._4, t._5, t._6))).toMap
    for (id <- Seq(7L, 8L); y <- 0 until 2; x <- 0 until (if (id == 7L) 2 else 3)) {
      val want = ((Multimodal.bmpChannel(id, x, y, 0).toLong,
        Multimodal.bmpChannel(id, x, y, 1).toLong,
        Multimodal.bmpChannel(id, x, y, 2).toLong))
      assert(got((id, x.toLong, y.toLong)) == want,
        s"pixel ($id, $x, $y): got ${got((id, x.toLong, y.toLong))}, want $want")
    }
    assert(got.size == 4 + 6, "corrupt payload must contribute no rows")
  }

  test("G11 PNG round trip: ImageIO-encoded pixels replay the formula, corrupt drops") {
    import spark.implicits._
    // the PNG path exercises zlib + row filters, which G9's raw BMP
    // never touches; losslessness means the formula must replay
    val assets = Seq(
      (3L, Multimodal.pngBytes(3L, 3, 2)),
      (4L, Multimodal.pngBytes(4L, 4, 3)),
      (5L, Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 0)))
      .toDF("doc_id", "payload")
    val got = Multimodal.imagePixels(assets)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2, t._3) -> ((t._4, t._5, t._6))).toMap
    for (id <- Seq(3L, 4L); y <- 0 until (if (id == 3L) 2 else 3);
        x <- 0 until (if (id == 3L) 3 else 4)) {
      val want = ((Multimodal.pngChannel(id, x, y, 0).toLong,
        Multimodal.pngChannel(id, x, y, 1).toLong,
        Multimodal.pngChannel(id, x, y, 2).toLong))
      assert(got((id, x.toLong, y.toLong)) == want,
        s"pixel ($id, $x, $y): got ${got((id, x.toLong, y.toLong))}")
    }
    assert(got.size == 6 + 12, "corrupt payload must contribute no rows")
  }

  test("G13 GIF round trip: palette gray ramp exact at h>=5, corrupt drops") {
    import spark.implicits._
    val assets = ((0L until 6L).map(id =>
        (id, Multimodal.gifBytes(id, (2 + id % 6).toInt, (5 + id % 4).toInt)))
      :+ (99L, "GIF89a but not really".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val got = Multimodal.imagePixels(assets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(!got.keys.exists(_._1 == 99L), "corrupt GIF must quarantine")
    for (id <- 0L until 6L; x <- 0 until (2 + id % 6).toInt;
         y <- 0 until (5 + id % 4).toInt) {
      val g = Multimodal.gifGray(id, x, y).toLong
      assert(got((id, x.toLong, y.toLong)) == ((g, g, g)),
        s"pixel ($id,$x,$y): ${got((id, x.toLong, y.toLong))} want $g")
    }
  }

  test("G14 animated GIF frames: every frame exact and in order, corrupt drops") {
    import spark.implicits._
    val assets = ((0L until 4L).map(id =>
        (id, Multimodal.animGifBytes(id, (3 + id % 4).toInt,
          (5 + id % 3).toInt, (2 + id % 3).toInt)))
      :+ (99L, "GIF89a three frames of lies".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val got = Multimodal.gifFramePixels(assets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
        r.getLong(4)).toMap
    assert(!got.keys.exists(_._1 == 99L), "corrupt GIF must quarantine")
    for (id <- 0L until 4L; f <- 0 until (2 + id % 3).toInt;
         x <- 0 until (3 + id % 4).toInt; y <- 0 until (5 + id % 3).toInt) {
      val want = (Multimodal.gifGray(id, x, y) + f * 101) % 256
      assert(got((id, f.toLong, x.toLong, y.toLong)) == want.toLong,
        s"pixel ($id,f$f,$x,$y): ${got((id, f.toLong, x.toLong, y.toLong))}")
    }
    // frame counts exact per doc
    val nf = got.keys.groupBy(_._1).map { case (d, ks) =>
      d -> (ks.map(_._2).max + 1) }
    assert(nf == (0L until 4L).map(id => id -> (2L + id % 3)).toMap)
  }

  test("G5 perceptual near-dup finds edited copies, not unrelated assets") {
    import spark.implicits._
    // strong region contrast (alternating dark/bright 10-byte tiles):
    // the robust regime for an average-hash — like real images, unlike
    // uniform noise where every region sits at the global mean
    def pat(parity: Int): Array[Byte] = Array.tabulate(640) { i =>
      val r = i / 10
      ((((r + parity) % 2) * 150 + 50 + (i * 3) % 7) & 0xff).toByte
    }
    val base = pat(0)
    val dup = base.clone() // exact copy → identical fingerprint
    val edited = base.clone() // one dark tile brightened past the mean
    (100 until 110).foreach(i => edited(i) = (edited(i) + 100).toByte)
    val inv = pat(1) // parity-swapped: all 64 bits inverted
    val assets = Seq(0L -> base, 1L -> dup, 2L -> edited, 3L -> inv)
      .toDF("doc_id", "payload")
    val res = Multimodal.imageNearDup(assets).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(res.get((0L, 1L)).contains(0L))
    assert(res.contains((0L, 2L)) && res((0L, 2L)) <= 7L)
    assert(!res.contains((0L, 3L)) && !res.contains((1L, 3L)))
  }

  test("G5 real-decode near-dup: brightness twins surface, bucketing equals all-pairs") {
    import spark.implicits._
    // 20 docs + saturating +16 twins for every 5th — the graded
    // mm_phash_dedup corpus in miniature, through the REAL decode
    val ids = (0L until 20L)
    val assets = (ids.map(id => (id, Multimodal.bmpBytes(id, 8, 8))) ++
      ids.filter(_ % 5 == 0)
        .map(id => (id + 1000000L, Multimodal.bmpBytes(id, 8, 8, brighten = 16))))
      .toDF("doc_id", "payload")
    val got = Multimodal.imageNearDupReal(assets).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // every planted twin must be found: a saturating +16 exposure
    // shift moves region means and the global mean almost together,
    // so the fingerprint drifts by at most the clamp-affected bits
    ids.filter(_ % 5 == 0).foreach { id =>
      assert(got.contains((id, id + 1000000L)),
        s"planted twin of $id not surfaced: ${got.keySet}")
    }
    // bucketed join ≡ brute force: recompute hamming all-pairs from
    // the same decoded fingerprints and compare the ≤7 pair sets
    val px = Multimodal.imagePixels(assets)
      .withColumn("gray", org.apache.spark.sql.functions.expr("(r+g+b) div 3"))
    val tot = px.groupBy($"doc_id")
      .agg(org.apache.spark.sql.functions.sum($"gray").as("sg"))
    val hs = px.join(tot, "doc_id").groupBy($"doc_id")
      .agg(org.apache.spark.sql.functions.expr(
        """bit_or(CASE WHEN gray*64 > sg
          |  THEN shiftleft(cast(1 as bigint), cast(y*8+x as int))
          |  ELSE 0 END)""".stripMargin).as("h"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield ((a, b), d.toLong)).toMap
    assert(got == brute, "pigeonhole bucketing lost or invented a pair")
  }

  test("G6 WAV walker: known samples exact, extra chunks skipped, garbage quarantined") {
    import spark.implicits._
    // hand-known samples: peak picks |−32768|, sum_sq exact
    val samples = Array[Short](0, 1000, -32768, 32767, -1)
    val canonical = Multimodal.wavBytes(samples, rate = 44100)
    // same data chunk but with a LIST chunk (odd size → pad byte)
    // between fmt and data — a chunk walker must skip it, a fixed
    // 44-byte-offset reader would misparse
    val listBody = Array[Byte]('I', 'N', 'F', 'O', 7)
    val canonicalData = canonical.drop(36) // "data" + len + samples
    val fancy = {
      val bb = java.nio.ByteBuffer
        .allocate(36 + 8 + listBody.length + 1 + canonicalData.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(canonical, 0, 36) // RIFF..fmt chunk
      bb.put("LIST".getBytes("US-ASCII")).putInt(listBody.length)
      bb.put(listBody).put(0.toByte) // pad to even
      bb.put(canonicalData)
      bb.array()
    }
    val assets = Seq(
      (1L, canonical), (2L, fancy),
      (3L, "not a wav at all".getBytes("US-ASCII")),
      (4L, canonical.take(30))) // truncated
      .toDF("doc_id", "payload")
    val got = Multimodal.wavPcmStats(assets).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(6)))).toMap
    val sumSq = samples.map(s => s.toLong * s).sum
    assert(got.keySet == Set(1L, 2L), s"garbage must quarantine: ${got.keySet}")
    assert(got(1L) == ((44100L, 5L, 32768L, sumSq, 5L * 1000000L / 44100L)),
      s"canonical: ${got(1L)}")
    assert(got(2L) == got(1L), "extra LIST chunk must not change the stats")
  }

  test("G4 header sniffing parses real PNG/GIF/WAV headers and detects JPEG") {
    import spark.implicits._
    // genuine container headers: PNG signature + IHDR length/type +
    // 640x480 BE dims; GIF89a + 320x200 LE screen; JPEG SOI; junk
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x02, 0x80, 0x00, 0x00, 0x01, 0xE0).map(_.toByte)
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array(0x40, 0x01, 0xC8, 0x00, 0xF7, 0x00, 0x00).map(_.toByte))
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)
    val junk = "not an image".getBytes("US-ASCII")
    // baseline JPEG: SOI, APP0/JFIF (len 16), SOF0 with 768x1024
    val jpegSof0 = Array(0xFF, 0xD8,
      0xFF, 0xE0, 0x00, 0x10, 'J', 'F', 'I', 'F', 0x00,
      0x01, 0x01, 0x00, 0x00, 0x48, 0x00, 0x48, 0x00, 0x00,
      0xFF, 0xC0, 0x00, 0x11, 0x08, 0x03, 0x00, 0x04, 0x00,
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
      .map(_.toInt.toByte)
    // progressive JPEG: SOI, APP1/EXIF (len 8), DQT (len 5), SOF2
    // with 600x800 — SOF at a different hop depth than jpegSof0
    val jpegSof2 = Array(0xFF, 0xD8,
      0xFF, 0xE1, 0x00, 0x08, 'E', 'x', 'i', 'f', 0x00, 0x00,
      0xFF, 0xDB, 0x00, 0x05, 0x01, 0x02, 0x03,
      0xFF, 0xC2, 0x00, 0x11, 0x08, 0x02, 0x58, 0x03, 0x20,
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
      .map(_.toInt.toByte)
    // canonical 44.1 kHz stereo PCM WAV header
    val wav = ("RIFF".getBytes("US-ASCII") ++
      Array(0x24, 0x00, 0x00, 0x00).map(_.toByte) ++
      "WAVEfmt ".getBytes("US-ASCII") ++
      Array(0x10, 0, 0, 0, 1, 0, 2, 0, 0x44, 0xAC, 0x00, 0x00).map(_.toByte))
    // BITMAPINFOHEADER BMP: 800 wide, TOP-DOWN (-600) tall — the
    // signed-height case; 14-byte file header + DIB size 40
    val bmp = ("BM".getBytes("US-ASCII") ++
      Array(0x36, 0x10, 0x0E, 0x00, 0, 0, 0, 0, 0x36, 0, 0, 0,
        0x28, 0, 0, 0,
        0x20, 0x03, 0x00, 0x00,
        0xA8, 0xFD, 0xFF, 0xFF).map(_.toByte))
    // ISO-BMFF: 24-byte ftyp box, major brand 'isom'
    val mp4 = (Array(0x00, 0x00, 0x00, 0x18).map(_.toByte) ++
      "ftypisom".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 2, 0) ++ "isomiso2".getBytes("US-ASCII"))
    // flac: fLaC + STREAMINFO-first header, sr 44100 / 2ch packed at
    // bytes 18-20 (0x0A 0xC4 0x42); mp3: bare frame sync FF FB with
    // srIdx 1 (48000) in byte 2, and an ID3v2-prefixed stream (rate
    // unknown to a 32-byte sniff)
    val flac = "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x00, 0x00, 0x00, 34) ++ Array.fill(10)(0.toByte) ++
      Array[Byte](0x0a, 0xc4.toByte, 0x42, 0, 0, 0, 0, 0)
    val mp3 = Array[Byte](0xff.toByte, 0xfb.toByte, 0x94.toByte,
      0xc0.toByte)
    val id3 = "ID3".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0, 0, 0, 9)
    val assets = Seq((1L, png), (2L, gif), (3L, jpeg), (4L, junk), (5L, wav),
      (6L, jpegSof0), (7L, jpegSof2), (8L, bmp), (9L, mp4),
      (10L, flac), (11L, mp3), (12L, id3))
      .toDF("doc_id", "payload")
    val got = Multimodal.sniffHeaders(assets)
      .collect().map(r => r.getLong(0) -> ((r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.get(6)).map(_.asInstanceOf[String])))).toMap
    assert(got(1L) == (("png", Some(640L), Some(480L), None, None, None)),
      s"got ${got(1L)}")
    assert(got(2L) == (("gif", Some(320L), Some(200L), None, None, None)),
      s"got ${got(2L)}")
    assert(got(3L) == (("jpeg", None, None, None, None, None)))
    assert(got(4L) == (("unknown", None, None, None, None, None)))
    assert(got(5L) == (("wav", None, None, Some(44100L), Some(2L), None)),
      s"got ${got(5L)}")
    assert(got(6L) == (("jpeg", Some(1024L), Some(768L), None, None, None)),
      s"got ${got(6L)}")
    assert(got(7L) == (("jpeg", Some(800L), Some(600L), None, None, None)),
      s"got ${got(7L)}")
    assert(got(8L) == (("bmp", Some(800L), Some(600L), None, None, None)),
      s"got ${got(8L)}")
    assert(got(9L) == (("mp4", None, None, None, None, Some("isom"))),
      s"got ${got(9L)}")
    assert(got(10L) == (("flac", None, None, Some(44100L), Some(2L), None)),
      s"got ${got(10L)}")
    assert(got(11L) == (("mp3", None, None, Some(48000L), None, None)),
      s"got ${got(11L)}")
    assert(got(12L) == (("mp3", None, None, None, None, None)),
      s"got ${got(12L)}")
  }

  test("G7 wav features: alternation maxes crossings per frame, zero never crosses") {
    import spark.implicits._
    // doc 1: ±1 alternating ×20 — frame 0 (samples 0..15) holds the
    // 15 right-endpoint crossings at idx 1..15; frame 1 (16..19)
    // holds 4 (incl. the boundary pair 15→16). doc 2: a zero sample
    // kills both adjacent crossings.
    val alt = Array.tabulate(20)(i => if (i % 2 == 0) 1 else -1)
      .map(_.toShort)
    val zero = Array[Short](0, 5, -5, 0)
    val assets = Seq(
      (1L, Multimodal.wavBytes(alt)),
      (2L, Multimodal.wavBytes(zero)),
      (3L, Array[Byte](1, 2, 3))) // malformed: dropped
    val got = Multimodal.wavFeatures(assets.toDF("doc_id", "payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got((1L, 0L)) == ((16L, 16L, 15L, 1.0)), s"${got((1L, 0L))}")
    assert(got((1L, 1L)) == ((4L, 4L, 4L, 1.0)), s"${got((1L, 1L))}")
    assert(got((2L, 0L)) == ((4L, 50L, 1L,
      BigDecimal(math.sqrt(50.0 / 4.0)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)), s"${got((2L, 0L))}")
    assert(!got.keySet.exists(_._1 == 3L), "malformed payload must drop")
  }
  test("G20 wav vad: integer energy gate, islands fuse, partial tail frame weighs by its own width") {
    import spark.implicits._
    // frames of 4 over [20×4 | 0×4 | 20×4 | 30×2]: sum_sq =
    // 1600, 0, 1600, 1800(n=2); tot_sq = 5000, n_tot = 14. Active
    // iff sum_sq·14 ≥ 5000·n_win: f0 22400≥20000 ✓, f1 ✗,
    // f2 ✓, f3 25200≥10000 ✓ → segments {0} and {2,3}.
    val s = (Array.fill(4)(20) ++ Array.fill(4)(0) ++
      Array.fill(4)(20) ++ Array.fill(2)(30)).map(_.toShort)
    val df = Seq((1L, Multimodal.wavBytes(s))).toDF("doc_id", "payload")
    val got = Multimodal.wavVad(df, win = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 0L, 0L, 1L, 1600L),
      (1L, 2L, 2L, 3L, 2L, 3400L)), s"segments: $got")
    // an all-equal file is ONE full-length segment (every frame sits
    // exactly at the mean)
    val flat = Seq((2L, Multimodal.wavBytes(Array.fill(8)(7.toShort))))
      .toDF("doc_id", "payload")
    val gotF = Multimodal.wavVad(flat, win = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(gotF == Seq((2L, 1L, 0L, 1L, 2L, 8L * 49L)), s"flat: $gotF")
  }

  test("G8 resample: pair means floor on negatives, odd tail drops") {
    import spark.implicits._
    // (1,2) -> 1; (-5,-4) -> -9 >> 1 = -5 (FLOOR, not toward zero);
    // trailing 7 has no partner and drops
    val df = Seq(
      (1L, Multimodal.wavBytes(Array[Short](1, 2, -5, -4, 7))))
      .toDF("doc_id", "payload")
    val got = Multimodal.wavResample(df).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((4000L, 2L, 5L, 26L, 500L)),
      s"got ${r.mkString(",")}")
  }
  test("G15 image entropy: decoded histogram fold equals the formula fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, sum, expr}
    val ids = 0L until 6L
    val assets = ids.map(id =>
        (id, Multimodal.gifBytes(id, (2 + id % 6).toInt, (5 + id % 4).toInt)))
      .toDF("doc_id", "payload")
    val got = Multimodal.imagePixels(assets)
      .groupBy($"doc_id", $"r").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"), expr(
        """round(aggregate(transform(
          |    sort_array(collect_list(struct(r, c))), x ->
          |    - ((cast(x.c as double) / cast(sum(c) as double))
          |      * ln(cast(x.c as double) / cast(sum(c) as double)))),
          |  0D, (acc, x) -> acc + x), 6)""".stripMargin).as("ent"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    for (id <- ids) {
      val w = (2 + id % 6).toInt; val h = (5 + id % 4).toInt
      val px = for (x <- 0 until w; y <- 0 until h)
        yield Multimodal.gifGray(id, x, y)
      val n = px.size.toDouble
      val ent = px.groupBy(identity).toSeq.sortBy(_._1)
        .foldLeft(0.0) { case (acc, (_, g)) =>
          acc + (-(g.size / n) * math.log(g.size / n)) }
      assert(got(id) == ((px.size.toLong, r6(ent))),
        s"doc $id: ${got(id)} want (${px.size}, ${r6(ent)})")
    }
  }

  test("G16 mp4 demux: crafted box tree hand-checked, uniform stsz, unknown boxes skipped, malformed quarantines") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, size}
    import graft.functions.Mp4Demux
    def be32(v: Int): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    // hand-built: 3 samples sized 10/20/30, stsc = one run of 2 per
    // chunk (so chunk1 = s0,s1; chunk2 = s2 PARTIAL), stco = 100, 200
    def full(v: Int*) = v.flatMap(be32).toArray
    val stbl = box("stbl",
      box("free", Array.fill(4)(0x55.toByte)) ++ // must be skipped
      box("stsc", full(0, 1, /*run*/ 1, 2, 1)) ++
      box("stsz", full(0, 0, 3, 10, 20, 30)) ++
      box("stco", full(0, 2, 100, 200)))
    val mp4 = box("ftyp", "isomxxxxisom".getBytes("US-ASCII")) ++
      box("moov", box("mvhd", full(0, 0)) ++
        box("trak", box("mdia", box("minf", stbl))))
    val got = Seq((1L, mp4)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Samples($"payload")).as("s"))
      .select($"s.sample_idx", $"s.chunk_idx", $"s.file_offset",
        $"s.sample_size")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((0L, 1L, 100L, 10L), (1L, 1L, 110L, 20L),
      (2L, 2L, 200L, 30L)), s"got $got")
    // uniform stsz (sample_size != 0, no per-sample table)
    val stblU = box("stbl",
      box("stsc", full(0, 1, 1, 2, 1)) ++
      box("stsz", full(0, 7, 3)) ++
      box("stco", full(0, 2, 100, 200)))
    val mp4U = box("moov",
      box("trak", box("mdia", box("minf", stblU))))
    val gotU = Seq((1L, mp4U)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Samples($"payload")).as("s"))
      .select($"s.file_offset", $"s.sample_size")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(gotU == Seq((100L, 7L), (107L, 7L), (200L, 7L)), s"got $gotU")
    // malformed inputs quarantine to zero samples, never throw:
    // truncated box, missing stbl, stco table overrun, garbage
    val noStbl = box("moov", box("trak", box("mdia", box("minf",
      box("vmhd", full(0))))))
    val overrun = box("moov", box("trak", box("mdia", box("minf",
      box("stbl",
        box("stsc", full(0, 1, 1, 2, 1)) ++
        box("stsz", full(0, 0, 3, 10, 20, 30)) ++
        box("stco", full(0, 99))))))) // claims 99 chunks, holds 0
    for (bad <- Seq(mp4.take(40), noStbl, overrun,
        "garbage".getBytes("US-ASCII"))) {
      val n = Seq((1L, bad)).toDF("doc_id", "payload")
        .select(size(Mp4Demux.mp4Samples($"payload")).as("n"))
        .as[Int].collect().head
      assert(n == 0, s"malformed payload yielded $n samples")
    }
    // the synthesized corpus shape: offsets are mdat-contiguous and
    // chunk boundaries honor the 3-then-2 stsc runs
    val syn = Seq((3L, graft.operators.Multimodal.mp4Bytes(3L)))
      .toDF("doc_id", "payload")
    val rows = graft.operators.Multimodal.mp4SampleTable(syn)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    val n = 5 + 2 * (3L % 4) // 11 samples, 5 chunks
    assert(rows.length == n)
    assert(rows.map(_._3).toSeq ==
      Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L, 5L, 5L),
      s"chunking ${rows.map(_._3).toSeq}")
    assert(rows.sliding(2).forall { case Array(a, b) =>
      b._4 == a._4 + a._5 }, "offsets must be mdat-contiguous")
  }

  test("G17 mp4 timing: stts run boundary exact, absent stss means all-sync, corrupt quarantines") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, size}
    import graft.functions.Mp4Demux
    def be32(v: Int): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    def full(v: Int*) = v.flatMap(be32).toArray
    def wrap(stbl: Array[Byte]) = box("moov",
      box("trak", box("mdia", box("minf", box("stbl", stbl)))))
    // 4 samples: stts runs (2 @ 100 ticks, 2 @ 7), stss = {1, 4},
    // ctts runs (1 sample @ +5, 3 samples @ +0) — the B-frame reorder
    val timed = wrap(
      box("stts", full(0, 2, 2, 100, 2, 7)) ++
      box("ctts", full(0, 2, 1, 5, 3, 0)) ++
      box("stss", full(0, 2, 1, 4)) ++
      box("stsz", full(0, 0, 4, 10, 10, 10, 10)))
    val got = Seq((1L, timed)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Timing($"payload")).as("t"))
      .select($"t.sample_idx", $"t.dts", $"t.pts", $"t.duration",
        $"t.is_sync")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((0L, 0L, 5L, 100L, 1L), (1L, 100L, 100L, 100L, 0L),
      (2L, 200L, 200L, 7L, 0L), (3L, 207L, 207L, 7L, 1L)), s"got $got")
    // no stss box: every sample is a sync sample (ISO 14496-12)
    val noStss = wrap(
      box("stts", full(0, 1, 2, 50)) ++
      box("stsz", full(0, 0, 2, 10, 10)))
    val gotNs = Seq((1L, noStss)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Timing($"payload")).as("t"))
      .select($"t.is_sync", $"t.dts", $"t.pts")
      .as[(Long, Long, Long)].collect().toSeq
    assert(gotNs.map(_._1) == Seq(1L, 1L),
      s"absent stss must mean all-sync: $gotNs")
    assert(gotNs.forall(r => r._2 == r._3),
      s"absent ctts must mean pts = dts: $gotNs")
    // stts covering fewer samples than stsz claims -> quarantine;
    // corrupt stss table length -> quarantine
    val short = wrap(
      box("stts", full(0, 1, 1, 50)) ++
      box("stsz", full(0, 0, 3, 10, 10, 10)))
    val badStss = wrap(
      box("stts", full(0, 1, 2, 50)) ++
      box("stss", full(0, 99)) ++
      box("stsz", full(0, 0, 2, 10, 10)))
    val shortCtts = wrap( // ctts covers 1 of 2 samples
      box("stts", full(0, 1, 2, 50)) ++
      box("ctts", full(0, 1, 1, 5)) ++
      box("stsz", full(0, 0, 2, 10, 10)))
    for (bad <- Seq(short, badStss, shortCtts)) {
      val n = Seq((1L, bad)).toDF("doc_id", "payload")
        .select(size(Mp4Demux.mp4Timing($"payload")).as("n"))
        .as[Int].collect().head
      assert(n == 0, s"malformed timing yielded $n rows")
    }
    // ctts VERSION 1 carries SIGNED offsets (B-frame reorder from
    // real muxers): -5 must sign-extend, not become ~4.29e9
    def fullV1(version: Int, v: Int*) =
      be32(version << 24) ++ v.flatMap(be32).toArray
    val v1Ctts = wrap(
      box("stts", full(0, 1, 2, 50)) ++
      box("ctts", fullV1(1, 2, 1, -5, 1, 3)) ++
      box("stsz", full(0, 0, 2, 10, 10)))
    val gotV1 = Seq((1L, v1Ctts)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Timing($"payload")).as("t"))
      .select($"t.sample_idx", $"t.dts", $"t.pts")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(gotV1 == Seq((0L, 0L, -5L), (1L, 50L, 53L)),
      s"v1 ctts must sign-extend: $gotV1")
    // unknown FullBox versions quarantine instead of misparsing:
    // ctts v2, stts v1 (timing), stsz v1 (sample plan)
    val v2Ctts = wrap(
      box("stts", full(0, 1, 2, 50)) ++
      box("ctts", fullV1(2, 1, 2, 5)) ++
      box("stsz", full(0, 0, 2, 10, 10)))
    val v1Stts = wrap(
      box("stts", fullV1(1, 1, 2, 50)) ++
      box("stsz", full(0, 0, 2, 10, 10)))
    for (bad <- Seq(v2Ctts, v1Stts)) {
      val n = Seq((1L, bad)).toDF("doc_id", "payload")
        .select(size(Mp4Demux.mp4Timing($"payload")).as("n"))
        .as[Int].collect().head
      assert(n == 0, s"unknown-version timing box yielded $n rows")
    }
    val v1Stsz = wrap(
      box("stsc", full(0, 1, 1, 2, 1)) ++
      box("stsz", fullV1(1, 0, 2, 10, 10)) ++
      box("stco", full(0, 1, 100)))
    val nV1 = Seq((1L, v1Stsz)).toDF("doc_id", "payload")
      .select(size(Mp4Demux.mp4Samples($"payload")).as("n"))
      .as[Int].collect().head
    assert(nV1 == 0, s"v1 stsz yielded $nV1 samples")
    // synthesized corpus: two runs and the 1,4,7,... keyframe ladder
    val syn = Seq((5L, graft.operators.Multimodal.mp4Bytes(5L)))
      .toDF("doc_id", "payload")
    val rows = graft.operators.Multimodal.mp4TimingTable(syn)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    val (dd1, dd2) = (100 * (1 + 5 % 3), 40 + 5 % 7) // 300, 45
    assert(rows.length == 7) // n = 5 + 2*(5%4)
    assert(rows.map(_._5).toSeq ==
      Seq(dd1, dd1, dd1, dd2, dd2, dd2, dd2).map(_.toLong))
    assert(rows.map(_._6).toSeq == Seq(1L, 0L, 0L, 1L, 0L, 0L, 1L))
    assert(rows.map(_._3).toSeq ==
      Seq(0L, 300L, 600L, 900L, 945L, 990L, 1035L))
    // pts = dts + ((i*7) % 3)*10 — the synthesized ctts ladder
    assert(rows.map(r => r._4 - r._3).toSeq ==
      (0 until 7).map(i => (((i * 7) % 3) * 10).toLong))
  }

  test("G21 keyframe plan: the zip composition equals the explicit timing-samples join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{arrays_zip, col, explode}
    import graft.functions.Mp4Demux
    val payloads = Seq(5L, 6L)
      .map(id => (id, graft.operators.Multimodal.mp4Bytes(id)))
      .toDF("doc_id", "payload")
    // the one-scan zip form (what the graded entry plans)
    val z = payloads.select($"doc_id", explode(arrays_zip(
        Mp4Demux.mp4Timing($"payload"),
        Mp4Demux.mp4Samples($"payload"))).as("z"))
      .filter(col("z").getField("0").getField("is_sync") === 1)
      .select($"doc_id",
        col("z").getField("0").getField("sample_idx").as("sample_idx"),
        col("z").getField("0").getField("pts").as("pts"),
        col("z").getField("1").getField("file_offset").as("file_offset"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // the explicit join of the two tables
    val t = graft.operators.Multimodal.mp4TimingTable(payloads)
      .filter($"is_sync" === 1).select($"doc_id", $"sample_idx", $"pts")
    val sm = graft.operators.Multimodal.mp4SampleTable(payloads)
      .select($"doc_id", $"sample_idx", $"file_offset")
    val joined = t.join(sm, Seq("doc_id", "sample_idx"))
      .select($"doc_id", $"sample_idx", $"pts", $"file_offset")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(z == joined && z.nonEmpty, s"zip $z\njoin $joined")
    // keyframes are the 1,4,7,… ladder: sample_idx ≡ 0 (mod 3)
    assert(z.forall(_._2 % 3 == 0))
  }

  test("G18/G19 multi-track mp4: track directory, handler routing, co64 past 4 GiB, largesize skip, mdhd v0+v1") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, size}
    import graft.functions.Mp4Demux
    // the synthesized two-trak header prefix, id = 7:
    //   video: n1 = 4+7%3 = 5, d1 = 100·(1+1) = 200, ts1 = 600·2 = 1200
    //   audio: n2 = 6+7%4 = 9, u2 = 20+7 = 27, d2 = 30+2 = 32,
    //          ts2 = 8000+4000 = 12000, c2 = 5
    val mt = graft.operators.Multimodal.mp4MultiTrackBytes(7L)
    val tracks = Seq((7L, mt)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Tracks($"payload")).as("t"))
      .select($"t.track_idx", $"t.handler", $"t.timescale",
        $"t.duration", $"t.n_samples", $"t.n_chunks")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
      .sortBy(_._1)
    assert(tracks == Seq(
      (0L, "vide", 1200L, 1000L, 5L, 1L),   // mdhd v0: 5·200 ticks
      (1L, "soun", 12000L, 288L, 9L, 5L)),  // mdhd v1: 9·32 ticks
      s"track directory: $tracks")
    // handler routing: 'soun' walks the SECOND trak through co64 —
    // offsets beyond 4 GiB (2^33 + 7·10^5 + chunk·65536), two
    // uniform-27 samples per chunk
    val base = (1L << 33) + 700000L
    val audio = Seq((7L, mt)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Samples($"payload", "soun")).as("s"))
      .select($"s.sample_idx", $"s.chunk_idx", $"s.file_offset",
        $"s.sample_size")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(audio.length == 9)
    assert(audio.forall(_._3 >= (1L << 33)), "co64 offsets must be > 4 GiB")
    assert(audio.take(4) == Seq(
      (0L, 1L, base, 27L), (1L, 1L, base + 27L, 27L),
      (2L, 2L, base + 65536L, 27L), (3L, 2L, base + 65536L + 27L, 27L)),
      s"audio plan head: ${audio.take(4)}")
    assert(audio.last == (8L, 5L, base + 4L * 65536L, 27L),
      s"odd tail sample: ${audio.last}")
    // 'vide' routes to the first trak: per-sample sizes, 32-bit stco
    val video = Seq((7L, mt)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Samples($"payload", "vide")).as("s"))
      .select($"s.sample_idx", $"s.file_offset", $"s.sample_size")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(video.length == 5)
    assert(video.head._2 == 4096L + 7L % 512L)
    assert(video.map(_._3) ==
      (0 until 5).map(k => 80L + (7L * 7 + k * 13) % 100),
      s"video sizes: ${video.map(_._3)}")
    // first-trak default (no handler) == the 'vide' plan
    val first = Seq((7L, mt)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Samples($"payload")).as("s"))
      .select($"s.sample_idx", $"s.file_offset", $"s.sample_size")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(first == video, "first-trak default diverged from 'vide'")
    // timing routes too: audio trak is one stts run of 9 @ 32 ticks,
    // no stss/ctts — all sync, pts = dts
    val at = Seq((7L, mt)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Timing($"payload", "soun")).as("t"))
      .select($"t.dts", $"t.pts", $"t.duration", $"t.is_sync")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(at.length == 9 && at.forall(r =>
      r._1 == r._2 && r._3 == 32L && r._4 == 1L),
      s"audio timing: $at")
    // an absent handler quarantines to zero rows (no wrong-trak read)
    val none = Seq((7L, mt)).toDF("doc_id", "payload")
      .select(size(Mp4Demux.mp4Samples($"payload", "text")).as("n"))
      .as[Int].collect().head
    assert(none == 0, s"absent handler yielded $none samples")
    // malformed largesize (declared past EOF) degrades to empty
    val cut = mt.take(40) // truncates inside the largesize free box
    val nCut = Seq((7L, cut)).toDF("doc_id", "payload")
      .select(size(Mp4Demux.mp4Tracks($"payload")).as("n"))
      .as[Int].collect().head
    assert(nCut == 0, s"truncated largesize yielded $nCut tracks")
  }

  test("G22 mp3 frame walk: hand-built stream, syncsafe skip, ID3v1 stop, malformed quarantines") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, size}
    import graft.functions.MpegAudio
    def frame(b2: Int, bodyTo: Int): Array[Byte] =
      Array(0xff.toByte, 0xfb.toByte, b2.toByte, 0xc0.toByte) ++
        Array.fill(bodyTo - 4)(0x11.toByte)
    // hand-computed: brIdx 9 = 128 kbps @ 44100 pad 1 → 418 bytes;
    // brIdx 4 = 56 kbps pad 0 → 182 bytes
    val f0 = frame((9 << 4) | 2, 144000 * 128 / 44100 + 1)
    val f1 = frame(4 << 4, 144000 * 56 / 44100)
    // ID3v2 prefix: tagLen 300 spans two syncsafe bytes (2, 44)
    val id3 = "ID3".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 0, 2, 44) ++ Array.fill(300)(0x22.toByte)
    val trailer = "TAG".getBytes("US-ASCII") ++ Array.fill(125)(0.toByte)
    val mp3 = id3 ++ f0 ++ f1 ++ trailer
    val got = Seq((1L, mp3)).toDF("doc_id", "payload")
      .select(explode(MpegAudio.mp3Frames($"payload")).as("f"))
      .select($"f.frame_idx", $"f.offset", $"f.frame_bytes",
        $"f.bitrate_kbps", $"f.sample_rate", $"f.padding")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      .sortBy(_._1)
    assert(got == Seq((0L, 310L, 418L, 128L, 44100L, 1L),
      (1L, 728L, 182L, 56L, 44100L, 0L)), s"got $got")
    // a bare stream (no ID3v2, no trailer) walks from byte 0
    val bare = Seq((1L, f1)).toDF("doc_id", "payload")
      .select(explode(MpegAudio.mp3Frames($"payload")).as("f"))
      .select($"f.offset", $"f.frame_bytes")
      .as[(Long, Long)].collect().toSeq
    assert(bare == Seq((0L, 182L)), s"bare $bare")
    // malformed inputs quarantine to zero frames, never throw:
    // syncsafe high bit, MPEG-2 header, Layer II, free bitrate, bad
    // bitrate, reserved samplerate, truncated frame, trailing junk
    val badSyncsafe = "ID3".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 0, 0x80.toByte, 1) ++ f0
    val mpeg2 = f0.clone(); mpeg2(1) = 0xf3.toByte
    val layer2 = f0.clone(); layer2(1) = 0xfd.toByte
    val freeBr = f0.clone(); freeBr(2) = 0x02.toByte
    val badBr = f0.clone(); badBr(2) = 0xf2.toByte
    val badSr = f0.clone(); badSr(2) = 0x9e.toByte
    for (bad <- Seq(badSyncsafe, mpeg2, layer2, freeBr, badBr, badSr,
        f0.take(100), f0 ++ "junk".getBytes("US-ASCII"),
        "garbage".getBytes("US-ASCII"))) {
      val n = Seq((1L, bad)).toDF("doc_id", "payload")
        .select(size(MpegAudio.mp3Frames($"payload")).as("n"))
        .as[Int].collect().head
      assert(n == 0, s"malformed payload yielded $n frames")
    }
    // the synthesized corpus shape: walker == closed-form layout
    val id = 3L
    val syn = Seq((id, graft.operators.Multimodal.mp3Bytes(id)))
      .toDF("doc_id", "payload")
    val rows = graft.operators.Multimodal.mp3FrameTable(syn)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._2)
    val brTab = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
      192, 224, 256, 320)
    val n = (4 + id % 5).toInt
    assert(rows.length == n, s"${rows.length} frames, want $n")
    var off = 10L + 130 + id % 200
    for (i <- 0 until n) {
      val kbps = brTab((1 + (id + 5L * i) % 14).toInt)
      val flen = 144000 * kbps / 44100 + ((id + i) % 2).toInt
      assert(rows(i) == ((id, i.toLong, off, flen.toLong, kbps.toLong,
        44100L, (id + i) % 2)), s"frame $i: ${rows(i)}")
      off += flen
    }
  }

  test("G30 id3 text frames: v2.4 syncsafe sizes diverge from v2.3 at 128+, non-text frames skip, malformed quarantines") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, size}
    import graft.functions.MpegAudio
    def tag(ver: Int, body: Array[Byte]): Array[Byte] = {
      val sz = body.length
      "ID3".getBytes("US-ASCII") ++ Array[Byte](ver.toByte, 0, 0,
        ((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
        ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte) ++ body
    }
    // v2.4 TIT2 with content 200 bytes: syncsafe size (0,0,1,0x48)
    // — a v2.3 be32 read would see 328 and overrun the tag
    val longTitle = Array[Byte](0) ++ Array.fill(199)('x'.toByte)
    val f24 = "TIT2".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 1, 0x48, 0, 0) ++ longTitle
    val got24 = Seq((1L, tag(4, f24)))
      .toDF("doc_id", "payload")
      .select(explode(MpegAudio.id3FramesCol($"payload")).as("f"))
      .select($"f.frame_id", $"f.content")
      .as[(String, String)].collect().toSeq
    assert(got24 == Seq(("TIT2", "x" * 199)), s"v2.4: $got24")
    // the same bytes under version 3 claim size 328 > tag: quarantine
    assert(Seq((1L, tag(3, f24))).toDF("doc_id", "payload")
      .select(size(MpegAudio.id3FramesCol($"payload")).as("n"))
      .as[Int].collect().head == 0, "v2.3 misread must quarantine")
    // a non-text frame is skipped structurally; a UTF-16 text frame
    // (encoding 1) is skipped; the later latin1 frame still lands
    val priv = "PRIV".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 3, 0, 0, 9, 9, 9)
    val utf16 = "TALB".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 3, 0, 0, 1, 0x41, 0)
    val tit = "TIT2".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 3, 0, 0, 0) ++ "hi".getBytes("ISO-8859-1")
    val mixed = Seq((1L, tag(3, priv ++ utf16 ++ tit)))
      .toDF("doc_id", "payload")
      .select(explode(MpegAudio.id3FramesCol($"payload")).as("f"))
      .select($"f.frame_id", $"f.content")
      .as[(String, String)].collect().toSeq
    assert(mixed == Seq(("TIT2", "hi")), s"mixed: $mixed")
    // malformed: bad frame-id bytes, v2.4 size with a high bit set
    val badId = "ti!2".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 3, 0, 0, 0, 65, 66)
    val badSync = "TIT2".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0x80.toByte, 0, 0, 0)
    for ((v, bad) <- Seq((3, badId), (4, badSync))) {
      assert(Seq((1L, tag(v, bad))).toDF("doc_id", "payload")
        .select(size(MpegAudio.id3FramesCol($"payload")).as("n"))
        .as[Int].collect().head == 0, "malformed tag yielded frames")
    }
    // the synthesized corpus: both versions replay the closed form
    for (id <- Seq(6L, 7L)) {
      val syn = Seq((id, graft.operators.Multimodal.mp3Bytes(id)))
        .toDF("doc_id", "payload")
        .select(explode(MpegAudio.id3FramesCol($"payload")).as("f"))
        .select($"f.frame_id", $"f.content")
        .as[(String, String)].collect().toSeq.sorted
      assert(syn == Seq(("TIT2", "t" + id % 1000),
        ("TPE1", "artist" + id % 7)), s"id $id: $syn")
    }
  }

  test("G27 mp4 edit list: v0 and v1 layouts, signed media_time, no-edts identity, malformed quarantines") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, size}
    import graft.functions.Mp4Demux
    def be32(v: Int): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    def full(v: Int*) = v.flatMap(be32).toArray
    def hdlr(h: String) = box("hdlr",
      full(0, 0) ++ h.getBytes("US-ASCII") ++ full(0))
    // v1 elst: one 20-byte entry — u64 duration, s64 media_time −2,
    // rate 0.5 (0x0000.8000 → 500000 ppm)
    val elstV1 = box("elst", Array[Byte](1, 0, 0, 0) ++ full(1) ++
      full(0, 700) ++ full(-1, -2) ++
      Array[Byte](0, 0, 0x80.toByte, 0))
    val mt = box("moov", box("trak",
      box("edts", elstV1) ++ box("mdia", hdlr("vide"))))
    val got = Seq((1L, mt)).toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Edits($"payload", "vide")).as("e"))
      .select($"e.edit_idx", $"e.segment_duration", $"e.media_time",
        $"e.rate_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 700L, -2L, 500000L)), s"v1: $got")
    // the synthesized corpus: planted v0 entries replay closed-form
    val id = 5L
    val syn = Seq((id, graft.operators.Multimodal.mp4MultiTrackBytes(id)))
      .toDF("doc_id", "payload")
      .select(explode(Mp4Demux.mp4Edits($"payload", "vide")).as("e"))
      .select($"e.edit_idx", $"e.segment_duration", $"e.media_time",
        $"e.rate_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val n1d1 = (4 + id % 3) * 100 * (1 + id % 3)
    assert(syn == Seq((0L, 500L * (1 + id % 4), -1L, 1000000L),
      (1L, n1d1, 100L * (id % 3), 1000000L)), s"syn: $syn")
    // a trak WITHOUT edts yields the identity (empty), and the audio
    // trak of the synthesis has no edit list
    val none = Seq((id, graft.operators.Multimodal.mp4MultiTrackBytes(id)))
      .toDF("doc_id", "payload")
      .select(size(Mp4Demux.mp4Edits($"payload", "soun")).as("n"))
      .as[Int].collect().head
    assert(none == 0, s"audio trak has no elst, got $none edits")
    // malformed: entry table overruns the box, unknown version
    val overrun = box("moov", box("trak",
      box("edts", box("elst", Array[Byte](0, 0, 0, 0) ++ full(9))) ++
        box("mdia", hdlr("vide"))))
    val badVer = box("moov", box("trak",
      box("edts", box("elst", Array[Byte](2, 0, 0, 0) ++ full(0))) ++
        box("mdia", hdlr("vide"))))
    for (bad <- Seq(overrun, badVer)) {
      val n = Seq((1L, bad)).toDF("doc_id", "payload")
        .select(size(Mp4Demux.mp4Edits($"payload", "vide")).as("n"))
        .as[Int].collect().head
      assert(n == 0, s"malformed elst yielded $n edits")
    }
  }

  test("G28 srt cues: hour-scale timestamps parse exactly, short blocks drop, formatter round-trips") {
    import spark.implicits._
    val srt = "1\n01:02:03,456 --> 01:02:05,000\nhello world\n\n" +
      "2\n10:00:00,001 --> 10:00:00,999\nsecond cue\n\n" +
      "junkblock" // no time line: must drop, not crash
    val got = graft.operators.Multimodal.srtCues(
        Seq((1L, srt)).toDF("doc_id", "text"))
      .select($"cue_idx", $"start_ms", $"end_ms", $"caption", $"dur_ms")
      .as[(Long, Long, Long, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 3723456L, 3725000L, "hello world", 1544L),
      (2L, 36000001L, 36000999L, "second cue", 998L)), s"got $got")
    // the synthesized corpus round-trips the formatter
    val id = 7L
    val syn = graft.operators.Multimodal.srtCues(
        Seq((id, graft.operators.Multimodal.srtText(id)))
          .toDF("doc_id", "text"))
      .select($"cue_idx", $"start_ms", $"end_ms")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val want = (0 until (3 + id % 4).toInt).map { i =>
      val s = 300L * i + id % 100
      ((i + 1).toLong, s, s + 250 + id % 120)
    }
    assert(syn == want, s"syn $syn")
  }

  test("G24 flac streaminfo: hand-packed bits exact, chain walk counts blocks, malformed quarantines") {
    import spark.implicits._
    import graft.functions.FlacInfo
    import org.apache.spark.sql.functions.col
    // hand-packed: sr 44100, 2 ch, 16 bps, 1,234,567 total samples
    val streaminfo = Array[Byte](
      0x04, 0x00, 0x10, 0x00, // min/max blocksize 1024/4096
      0x00, 0x00, 0x64, 0x00, 0x10, 0x00, // min/max framesize 100/4096
      0x0a, 0xc4.toByte, 0x42, 0xf0.toByte, // sr|ch|bps packing
      0x00, 0x12, 0xd6.toByte, 0x87.toByte) ++ // ts = 1234567
      Array.fill(16)(0.toByte) // md5
    val good = "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x00, 0x00, 0x00, 34) ++ streaminfo ++
      Array[Byte](0x81.toByte, 0x00, 0x00, 0x03, 0, 0, 0)
    val got = Seq((1L, good)).toDF("doc_id", "payload")
      .select(FlacInfo.flacInfo($"payload").as("fi"))
      .select(col("fi.*"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert(got == ((1024L, 4096L, 100L, 4096L, 44100L, 2L, 16L,
      1234567L, 2L, 1234567L * 1000L / 44100L)), s"got $got")
    // malformed inputs parse to NULL, never throw: bad magic, first
    // block not STREAMINFO, wrong length, truncated, chain overrun,
    // missing LAST flag, zero sample rate
    val notFirst = good.clone(); notFirst(4) = 0x01
    val badLen = good.clone(); badLen(7) = 35
    val overrun = good.clone(); overrun(45) = 99 // padding len 99 > EOF
    val noLast = good.clone(); noLast(42) = 0x01 // padding not LAST
    val zeroSr = good.clone()
    zeroSr(18) = 0; zeroSr(19) = 0; zeroSr(20) = (zeroSr(20) & 0x0f).toByte
    for (bad <- Seq("fLaX".getBytes("US-ASCII") ++ good.drop(4),
        notFirst, badLen, good.take(30), overrun, noLast, zeroSr,
        Array[Byte](1, 2, 3))) {
      val n = Seq((1L, bad)).toDF("doc_id", "payload")
        .select(FlacInfo.flacInfo($"payload").isNull.as("n"))
        .as[Boolean].collect().head
      assert(n, "malformed payload parsed to a non-null row")
    }
    // the synthesized corpus shape: walker == closed form
    val id = 7L
    val syn = Seq((id, graft.operators.Multimodal.flacBytes(id)))
      .toDF("doc_id", "payload")
      .select(FlacInfo.flacInfo($"payload").as("fi"))
      .select(col("fi.*"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    val ts = 100000L + (id * 7919L) % 1000000L
    val sr = 32000L + (id % 5) * 4000L
    assert(syn == ((1024L + id % 1024, 1024L + id % 1024 + id % 512,
      100L + id % 1000, 100L + id % 1000 + id % 5000, sr, 1L + id % 2,
      16L + 8L * (id % 2), ts, 2L, ts * 1000L / sr)), s"syn $syn")
  }

  test("G25 exif ifd walk: hand-built LE, synthesized MM, partial tags null, malformed quarantines") {
    import spark.implicits._
    import graft.functions.TiffIfd
    import org.apache.spark.sql.functions.col
    // hand-built little-endian: SHORT width 800, orientation 6,
    // no Make/XResolution → those fields null, row present
    def exifJpeg(tiff: Array[Byte]): Array[Byte] = {
      val l = 2 + 6 + tiff.length
      Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe1.toByte,
        ((l >> 8) & 0xff).toByte, (l & 0xff).toByte) ++
        "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff ++
        Array(0xff.toByte, 0xd9.toByte)
    }
    val tiffLe = "II".getBytes("US-ASCII") ++ Array[Byte](
      0x2a, 0x00, 8, 0, 0, 0,
      2, 0, // two entries
      0x00, 0x01, 3, 0, 1, 0, 0, 0, 0x20, 0x03, 0, 0, // width 800
      0x12, 0x01, 3, 0, 1, 0, 0, 0, 6, 0, 0, 0, // orientation 6
      0, 0, 0, 0) // next IFD
    def parse(bytes: Array[Byte]): Seq[(String, Long, Option[Long],
        Option[Long], Option[String], Option[Long], Option[Long])] =
      Seq((1L, bytes)).toDF("doc_id", "payload")
        .select(TiffIfd.exifMetaCol($"payload").as("ex"))
        .filter($"ex".isNotNull).select(col("ex.*"))
        .as[(String, Long, Option[Long], Option[Long], Option[String],
          Option[Long], Option[Long])].collect().toSeq
    assert(parse(exifJpeg(tiffLe)) ==
      Seq(("II", 2L, Some(800L), Some(6L), None, None, None)))
    // a well-formed IFD whose Make offset runs out of bounds keeps
    // the row, nulls the field (directory semantics)
    val tiffBadMake = "II".getBytes("US-ASCII") ++ Array[Byte](
      0x2a, 0x00, 8, 0, 0, 0,
      1, 0,
      0x0f, 0x01, 2, 0, 6, 0, 0, 0, 0x0f, 0x27, 0, 0, // offset 9999
      0, 0, 0, 0)
    assert(parse(exifJpeg(tiffBadMake)) ==
      Seq(("II", 1L, None, None, None, None, None)))
    // structural malformation → NULL row: no SOI, SOS before APP1,
    // bad TIFF magic, IFD offset past segment, entry table overrun
    val noApp1 = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xda.toByte, 0, 4, 0, 0)
    val badMagic = tiffLe.clone(); badMagic(2) = 0x2b
    val farIfd = tiffLe.clone(); farIfd(4) = 99.toByte
    val overrun = tiffLe.clone(); overrun(8) = 50 // claims 50 entries
    for (bad <- Seq(Array[Byte](1, 2, 3), noApp1, exifJpeg(badMagic),
        exifJpeg(farIfd), exifJpeg(overrun))) {
      assert(parse(bad).isEmpty, "malformed payload parsed non-null")
    }
    // the synthesized corpus shape, BOTH endians (id 4 = II with a
    // JFIF prefix to skip; id 7 = MM)
    for (id <- Seq(4L, 7L)) {
      val syn = Seq((id, graft.operators.Multimodal.exifBytes(id)))
        .toDF("doc_id", "payload")
        .select(TiffIfd.exifMetaCol($"payload").as("ex"))
        .select(col("ex.*"))
        .as[(String, Long, Option[Long], Option[Long], Option[String],
          Option[Long], Option[Long])].collect().head
      val mk = "CAM" + ('0' + (id % 10).toInt).toChar +
        ('A' + (id % 7).toInt).toChar
      assert(syn == (((if (id % 2 == 0) "II" else "MM"), 4L,
        Some(640L + id % 1280), Some(1L + id % 8), Some(mk),
        Some(72L + id % 9), Some(1L + id % 3))), s"id $id: $syn")
    }
  }

  test("G31 tar member walk: layout round-trip, quarantine, prefix field") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.TarWalk
    def parse(b: Array[Byte]): Seq[(Long, String, Long, Long, String)] =
      Seq(Tuple1(b)).toDF("payload")
        .select(explode(TarWalk.tarMembers(col("payload"))).as("m"))
        .select(col("m.entry_idx"), col("m.name"), col("m.offset"),
          col("m.size"), col("m.typeflag"))
        .as[(Long, String, Long, Long, String)].collect().toSeq

    // synthesized shard round-trips to the closed-form layout
    val id = 5L
    val got = parse(graft.operators.Multimodal.tarBytes(id))
    val nsamp = 2 + (id % 3).toInt
    var off = 512L
    val want = (0 until nsamp).flatMap { i =>
      val tlen = 300L + (id * 7 + i * 13) % 700
      val t = (2L * i, s"d${id}_s$i.txt", off, tlen, "0")
      off += 512L * ((tlen + 511) / 512) + 512L
      val c = (2L * i + 1, s"d${id}_s$i.cls", off, 1L, "0")
      off += 512L + 512L
      Seq(t, c)
    }
    assert(got == want, s"layout mismatch: $got")

    // corruption quarantines to EMPTY: flipped checksum byte, bad
    // magic, base-256 size, data past EOF
    val ok = graft.operators.Multimodal.tarBytes(id)
    val badSum = ok.clone(); badSum(0) = 'z'   // name changes, sum stale
    val badMagic = ok.clone(); badMagic(257) = 'X'
    val b256 = ok.clone(); b256(124) = 0x80.toByte
    val cut = ok.take(700) // header claims more data than remains
    for (bad <- Seq(badSum, badMagic, b256, cut))
      assert(parse(bad).isEmpty, "malformed shard parsed non-empty")

    // clean EOF without the two zero blocks still yields the members
    val dataEnd = ok.length - 1024
    assert(parse(ok.take(dataEnd)) == want)

    // POSIX prefix field joins onto the name
    val pfx = ok.clone()
    val pb = "shard/part0".getBytes("US-ASCII")
    System.arraycopy(pb, 0, pfx, 345, pb.length)
    // re-checksum the first header after the edit
    java.util.Arrays.fill(pfx, 148, 156, ' '.toByte)
    var s0 = 0; var k = 0
    while (k < 512) { s0 += pfx(k) & 0xff; k += 1 }
    val cs = f"$s0%06o".getBytes("US-ASCII")
    System.arraycopy(cs, 0, pfx, 148, 6); pfx(154) = 0; pfx(155) = ' '
    assert(parse(pfx).head._2 == s"shard/part0/d${id}_s0.txt")
  }

  test("G31 tar PAX and GNU long-name headers: applied, skipped, never indexed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.TarWalk
    def parse(b: Array[Byte]): Seq[(Long, String, Long, Long, String)] =
      Seq(Tuple1(b)).toDF("payload")
        .select(explode(TarWalk.tarMembers(col("payload"))).as("m"))
        .select(col("m.entry_idx"), col("m.name"), col("m.offset"),
          col("m.size"), col("m.typeflag"))
        .as[(Long, String, Long, Long, String)].collect().toSeq
    def hdr(name: String, size: Long, tf: Char): Array[Byte] = {
      val b = new Array[Byte](512)
      val nb = name.getBytes("UTF-8")
      System.arraycopy(nb, 0, b, 0, math.min(nb.length, 100))
      val sz = f"$size%011o".getBytes("US-ASCII")
      System.arraycopy(sz, 0, b, 124, 11)
      b(156) = tf.toByte
      System.arraycopy("ustar".getBytes("US-ASCII"), 0, b, 257, 5)
      java.util.Arrays.fill(b, 148, 156, ' '.toByte)
      var s = 0; var i = 0
      while (i < 512) { s += b(i) & 0xff; i += 1 }
      val cs = f"$s%06o".getBytes("US-ASCII")
      System.arraycopy(cs, 0, b, 148, 6); b(154) = 0; b(155) = ' '
      b
    }
    def member(name: String, data: Array[Byte], tf: Char = '0'): Array[Byte] =
      hdr(name, data.length.toLong, tf) ++ data ++
        new Array[Byte]((512 - data.length % 512) % 512)
    def paxRecord(key: String, value: String): Array[Byte] = {
      val body = s" $key=$value\n".getBytes("UTF-8")
      var l = body.length + 1
      while (l.toString.length + body.length != l) l += 1
      (l.toString.getBytes("US-ASCII") ++ body)
    }
    val longName = "very/deep/dataset/layout/" + ("seg/" * 22) +
      "sample_00042.jsonl" // > 100 bytes
    val utf8Name = "shard/données_εξ.txt"
    val paxArchive =
      member("PaxHeaders.0/trunc", paxRecord("path", longName), 'x') ++
      member(longName.take(100), "payload-A".getBytes("US-ASCII")) ++
      member("ignored-global", paxRecord("path", "never/applies"), 'g') ++
      member("plain.txt", "payload-B".getBytes("US-ASCII")) ++
      member("././@LongLink", (utf8Name + "\u0000").getBytes("UTF-8"), 'L') ++
      member(utf8Name.take(20), "payload-C".getBytes("US-ASCII")) ++
      member("././@LongLink", ("link/target\u0000").getBytes("UTF-8"), 'K') ++
      member("linked.bin", "payload-D".getBytes("US-ASCII")) ++
      new Array[Byte](1024)
    val got = parse(paxArchive)
    // four REAL members, none of the metadata blocks indexed
    assert(got.map(_._2) ==
      Seq(longName, "plain.txt", utf8Name, "linked.bin"), got)
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L))
    // offsets address the actual payloads
    got.zip(Seq("payload-A", "payload-B", "payload-C", "payload-D"))
      .foreach { case (r, want) =>
        val data = new String(paxArchive, r._3.toInt, r._4.toInt, "UTF-8")
        assert(data == want, s"offset of ${r._2} points at '$data'")
      }
    // a malformed PAX record (no terminating newline) quarantines
    val badPax =
      member("PaxHeaders.0/x", "9 path=ab".getBytes("US-ASCII"), 'x') ++
      member("a.txt", "z".getBytes("US-ASCII")) ++ new Array[Byte](1024)
    assert(parse(badPax).isEmpty, "malformed PAX parsed non-empty")
    // PAX header without a path record: following member keeps its own name
    val noPath =
      member("PaxHeaders.0/y", paxRecord("mtime", "1700000000.5"), 'x') ++
      member("own-name.txt", "q".getBytes("US-ASCII")) ++ new Array[Byte](1024)
    assert(parse(noPath).map(_._2) == Seq("own-name.txt"))
  }

  test("G33 zip directory walk: JDK-writer interop, comment scan, quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.ZipWalk
    def parse(b: Array[Byte]): Seq[(Long, String, Long, Long, Long, Long)] =
      Seq(Tuple1(b)).toDF("payload")
        .select(explode(ZipWalk.zipDir(col("payload"))).as("m"))
        .select(col("m.entry_idx"), col("m.name"), col("m.method"),
          col("m.csize"), col("m.usize"), col("m.data_offset"))
        .as[(Long, String, Long, Long, Long, Long)].collect().toSeq

    // interop: an archive written by the JDK's OWN ZipOutputStream
    // (stored entries) parses to the right names/sizes, and the
    // data_offset really addresses the bytes
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    // JDK writes UTF-8 names with the EFS flag (GP bit 11) set — the
    // non-ASCII key must round-trip, not decode to replacement chars
    val payloads = Seq("alpha" -> "hello world", "beta/x" -> "0123456789abcdef",
      "shard/clé_数据.txt" -> "utf8 sample")
    payloads.foreach { case (n, s) =>
      val d = s.getBytes("US-ASCII")
      val e = new java.util.zip.ZipEntry(n)
      e.setMethod(java.util.zip.ZipOutputStream.STORED)
      e.setSize(d.length); e.setCompressedSize(d.length)
      val c = new java.util.zip.CRC32(); c.update(d); e.setCrc(c.getValue)
      zos.putNextEntry(e); zos.write(d); zos.closeEntry()
    }
    zos.close()
    val jdk = bos.toByteArray
    val got = parse(jdk)
    assert(got.map(r => (r._2, r._5)) ==
      payloads.map(p => (p._1, p._2.length.toLong)), got)
    got.zip(payloads).foreach { case (r, (_, s)) =>
      val data = new String(jdk, r._6.toInt, r._5.toInt, "US-ASCII")
      assert(data == s, s"data_offset points at '$data', want '$s'")
    }

    // the synthesized corpus shape round-trips, also under a
    // trailing comment (EOCD backward scan)
    val syn = graft.operators.Multimodal.zipBytes(7L)
    val want = parse(syn)
    assert(want.nonEmpty && want.map(_._2) ==
      (0 until 2 + 7 % 3).map(i => s"f7_$i.txt"))
    val commented = syn.dropRight(2) ++
      Array[Byte](9, 0) ++ "comment!x".getBytes("US-ASCII")
    assert(parse(commented) == want, "comment scan broke the walk")

    // quarantine: bad local sig, truncation, garbage
    val badLocal = syn.clone(); badLocal(0) = 'X'
    for (bad <- Seq(badLocal, syn.take(syn.length - 3),
        Array[Byte](1, 2, 3)))
      assert(parse(bad).isEmpty, "malformed zip parsed non-empty")
  }

  test("G34 h264 SPS: exp-golomb round-trip, crop math, scope quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.H264Sps
    def parse(b: Array[Byte]): Option[(Long, Long, Long, Long, Long,
        Long, Long, Long, Long)] = {
      val r = Seq(Tuple1(b)).toDF("payload")
        .select(H264Sps.spsCol(col("payload")).as("s"))
        .select(col("s.profile_idc"), col("s.level_idc"),
          col("s.sps_id"), col("s.log2_max_frame_num"),
          col("s.poc_type"), col("s.max_ref_frames"),
          col("s.frame_mbs_only"), col("s.width"), col("s.height"))
        .collect().head
      if (r.isNullAt(0)) None
      else Some((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)))
    }
    // synthesized corpus shape, both poc branches
    for (id <- Seq(4L, 7L)) {
      val got = parse(graft.operators.Multimodal.spsBytes(id))
      assert(got.contains((66L, 30 + (id % 3) * 10, id % 4,
        id % 5 + 4, (id % 2) * 2, 1 + id % 4, 1L,
        (40 + id % 40) * 16, (22 + id % 20) * 16)), s"id $id: $got")
    }
    // local bit-writer for the crafted cases
    def sps(fields: ((Int, Long) => Unit, Long => Unit) => Unit): Array[Byte] = {
      val bits = scala.collection.mutable.ArrayBuffer[Int]()
      def u(n: Int, v: Long): Unit =
        (n - 1 to 0 by -1).foreach(i => bits += ((v >> i) & 1L).toInt)
      def ue(v: Long): Unit = {
        val z = 63 - java.lang.Long.numberOfLeadingZeros(v + 1)
        (1 to z).foreach(_ => bits += 0); u(z + 1, v + 1)
      }
      fields(u, ue)
      bits += 1
      while (bits.length % 8 != 0) bits += 0
      val rb = bits.grouped(8)
        .map(g => g.foldLeft(0)((a, b) => (a << 1) | b).toByte).toArray
      val out = new java.io.ByteArrayOutputStream(); out.write(0x67)
      var zeros = 0
      rb.foreach { b =>
        if (zeros >= 2 && (b & 0xff) <= 3) { out.write(3); zeros = 0 }
        out.write(b); zeros = if (b == 0) zeros + 1 else 0
      }
      out.toByteArray
    }
    // frame cropping: 4:2:0 units shave 2 px per horizontal crop and
    // 2·(2−fmo) per vertical — 40x23 mbs cropped (1,2,3,0) →
    // 656−2·3=650 wide, 368−2·3·1... fmo=1: 2·(ct+cb)·1 = 6 → 362
    val cropped = sps { (u, ue) =>
      u(8, 66); u(8, 0); u(8, 30)
      ue(0); ue(0); ue(2) // sps_id, log2mfn, poc 2
      ue(1); u(1, 0)      // max_ref, gaps
      ue(40); ue(22)      // 41x23 mbs → 656x368
      u(1, 1); u(1, 1)    // fmo, direct8x8
      u(1, 1)             // cropping
      ue(1); ue(2); ue(1); ue(2) // left right top bottom
      u(1, 0)             // vui
    }
    val c = parse(cropped).get
    assert((c._8, c._9) == ((656L - 2 * 3, 368L - 2 * 3)), c)
    // interlaced: fmo=0 doubles the map-unit height (and needs the
    // adaptive flag bit)
    val interlaced = sps { (u, ue) =>
      u(8, 77); u(8, 0); u(8, 40)
      ue(0); ue(0); ue(2); ue(1); u(1, 0)
      ue(39); ue(14)      // 40x15 map units
      u(1, 0); u(1, 0)    // fmo=0, mb_adaptive
      u(1, 1); u(1, 0); u(1, 0)
    }
    val i = parse(interlaced).get
    assert((i._7, i._8, i._9) == ((0L, 640L, 480L)), i)
    // quarantine: every chroma-block profile (H.264 §7.3.2.1.1 —
    // including the sub-100 ones 44/83/86), poc_type 1, wrong NAL
    // type, truncation
    // 144 is the 2005-era High 4:4:4 (chroma block, pre-FRExt
    // renumber); 155/200 stand in for reserved/future values — the
    // gate is a baseline-layout WHITELIST, so these must quarantine
    // rather than misparse chroma fields as frame_num/width.
    val chromaProfiles = Seq(44, 83, 86, 100, 110, 118, 122, 128,
      134, 135, 138, 139, 144, 155, 200, 244)
    val highs = chromaProfiles.map { pr =>
      sps { (u, ue) => u(8, pr); u(8, 0); u(8, 40); ue(0) }
    }
    val poc1 = sps { (u, ue) =>
      u(8, 66); u(8, 0); u(8, 30); ue(0); ue(0); ue(1)
    }
    val ok = graft.operators.Multimodal.spsBytes(4L)
    val wrongType = ok.clone(); wrongType(0) = 0x61 // type 1, not SPS
    for (bad <- highs ++ Seq(poc1, wrongType, ok.take(6),
        Array[Byte](0x67)))
      assert(parse(bad).isEmpty, "out-of-scope SPS parsed non-null")
  }

  test("G44 h265 SPS: PTL walk, chroma-unit crop, scope quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.H265Sps
    def parse(b: Array[Byte]): Option[(Long, Long, Long, Long, Long,
        Long, Long, Long)] = {
      val r = Seq(Tuple1(b)).toDF("payload")
        .select(H265Sps.spsCol(col("payload")).as("s"))
        .select(col("s.profile_idc"), col("s.tier_flag"),
          col("s.level_idc"), col("s.chroma_format"),
          col("s.bit_depth_luma"), col("s.bit_depth_chroma"),
          col("s.width"), col("s.height"))
        .collect().head
      if (r.isNullAt(0)) None
      else Some((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    }
    // synthesized corpus shape: id 4 (window absent, no sub-layers),
    // id 10 (sub-layer PTL branch: id%5==0, window present: id%3==1),
    // id 7 (window present, 4:2:2 — SubHeightC = 1)
    for (id <- Seq(4L, 10L, 7L)) {
      val profile = 1 + id % 2
      val chroma = 1 + (id % 3) % 2
      val win = if (id % 3 == 1) 1L else 0L
      val subH = if (chroma == 1) 2L else 1L
      val got = parse(graft.operators.Multimodal.h265SpsBytes(id))
      assert(got.contains((profile, (id / 2) % 2, 90 + (id % 4) * 30,
        chroma, 8 + (profile - 1) * 2, 8 + (profile - 1) * 2,
        320 + (id % 40) * 16 - win * 6,
        240 + (id % 20) * 16 - win * subH * 2)), s"id $id: $got")
    }
    // local bit-writer for crafted cases (2-byte HEVC NAL header)
    def sps(hdr: (Int, Int) = (33 << 1, 0x01))(
        fields: ((Long, Int) => Unit, Long => Unit) => Unit): Array[Byte] = {
      val bits = scala.collection.mutable.ArrayBuffer[Int]()
      def u(v: Long, n: Int): Unit =
        (n - 1 to 0 by -1).foreach(i => bits += ((v >> i) & 1L).toInt)
      def ue(v: Long): Unit = {
        val z = 63 - java.lang.Long.numberOfLeadingZeros(v + 1)
        (1 to z).foreach(_ => bits += 0); u(v + 1, z + 1)
      }
      fields(u, ue)
      bits += 1
      while (bits.length % 8 != 0) bits += 0
      val rb = bits.grouped(8)
        .map(g => g.foldLeft(0)((a, b) => (a << 1) | b).toByte).toArray
      val out = new java.io.ByteArrayOutputStream()
      out.write(hdr._1); out.write(hdr._2)
      var zeros = 0
      rb.foreach { b =>
        if (zeros >= 2 && (b & 0xff) <= 3) { out.write(3); zeros = 0 }
        out.write(b); zeros = if (b == 0) zeros + 1 else 0
      }
      out.toByteArray
    }
    def body(profile: Long, chroma: Long, bdM8: Long = 0,
        space: Long = 0)(u: (Long, Int) => Unit,
        ue: Long => Unit): Unit = {
      u(0, 4); u(0, 3); u(1, 1)
      u(space, 2); u(0, 1); u(profile, 5)
      u(0, 32); u(1, 1); u(0, 47); u(120, 8)
      ue(0); ue(chroma)
      if (chroma == 3) u(0, 1) // separate_colour_plane_flag
      ue(640); ue(480)
      u(1, 1); ue(2); ue(4); ue(2); ue(2) // window l r t b
      ue(bdM8); ue(bdM8); ue(0)
    }
    // 4:4:4 (Rext): crop units are LUMA samples — width 640−6=634,
    // height 480−4=476, not the 4:2:0 doubled units
    val rext = sps()((u, ue) => body(4, 3)(u, ue))
    assert(parse(rext).contains((4L, 0L, 120L, 3L, 8L, 8L, 634L, 476L)),
      parse(rext).toString)
    // quarantines: wrong NAL type (VPS 32), non-base layer, zero
    // temporal id, reserved profile space, unknown profiles (0, 9,
    // 24), chroma 4, bit depth beyond minus8 ceiling, truncation
    val bads = Seq(
      sps(hdr = (32 << 1, 0x01))((u, ue) => body(1, 1)(u, ue)),
      sps(hdr = ((33 << 1) | 1, 0x01))((u, ue) => body(1, 1)(u, ue)),
      sps(hdr = (33 << 1, 0x08))((u, ue) => body(1, 1)(u, ue)),
      sps(hdr = (33 << 1, 0x00))((u, ue) => body(1, 1)(u, ue)),
      sps()((u, ue) => body(1, 1, space = 1)(u, ue)),
      sps()((u, ue) => body(0, 1)(u, ue)),
      sps()((u, ue) => body(9, 1)(u, ue)),
      sps()((u, ue) => body(24, 1)(u, ue)),
      sps()((u, ue) => body(1, 4)(u, ue)),
      sps()((u, ue) => body(1, 1, bdM8 = 9)(u, ue)),
      sps()((u, ue) => body(1, 1)(u, ue)).take(9),
      Array[Byte](0x42, 0x01))
    for ((bad, i) <- bads.zipWithIndex)
      assert(parse(bad).isEmpty, s"out-of-scope SPS #$i parsed non-null")
  }

  test("G46 jpeg SOF scan: marker walk, fill bytes, scope quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.JpegSof
    def parse(b: Array[Byte]): Option[(Long, Long, Long, Long, Long,
        Long)] = {
      val r = Seq(Tuple1(b)).toDF("payload")
        .select(JpegSof.sofCol(col("payload")).as("s"))
        .select(col("s.progressive"), col("s.precision"),
          col("s.width"), col("s.height"), col("s.n_components"),
          col("s.n_dqt"))
        .collect().head
      if (r.isNullAt(0)) None
      else Some((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    }
    // synthesized corpus: id 10 (two DQTs: 10%5==0, baseline,
    // 2 components), id 7 (progressive, 2 components)
    for (id <- Seq(10L, 7L)) {
      val got = parse(graft.operators.Multimodal.jpegSofBytes(id))
      assert(got.contains((id % 2, 8L, 320 + (id % 40) * 8,
        240 + (id % 20) * 8, 1 + id % 3,
        if (id % 5 == 0) 2L else 1L)), s"id $id: $got")
    }
    val ok = graft.operators.Multimodal.jpegSofBytes(3L)
    // fill bytes before a marker are legal: inject FF padding before
    // the SOF marker (T.81 §B.1.1.2) — same answer
    val sofAt = ok.length - (8 + 3 * (1 + 3 % 3).toInt) - 2
    assert((ok(sofAt) & 0xff) == 0xff, "sof offset math off")
    val padded = ok.take(sofAt) ++ Array(0xff.toByte, 0xff.toByte) ++
      ok.drop(sofAt)
    assert(parse(padded) == parse(ok), "fill bytes changed the parse")
    // quarantines: missing SOI, lost sync, RST in header, EOI/SOS
    // before SOF, non-whitelisted SOF codings (SOF1 extended, SOF3
    // lossless, SOF9 arithmetic), truncation, length lies
    def patchMarker(src: Array[Byte], at: Int, m: Int): Array[Byte] = {
      val b = src.clone(); b(at + 1) = m.toByte; b
    }
    val noSoi = ok.drop(2)
    val lostSync = ok.clone(); lostSync(2) = 0x00.toByte
    val rst = patchMarker(ok, 2, 0xd0)
    val eoi = patchMarker(ok, 2, 0xd9)
    val sos = patchMarker(ok, 2, 0xda)
    val sof1 = patchMarker(ok, sofAt, 0xc1)
    val sof3 = patchMarker(ok, sofAt, 0xc3)
    val sof9 = patchMarker(ok, sofAt, 0xc9)
    val lenLies = ok.clone() // SOF claims 9 components but carries 1
    lenLies(sofAt + 9) = 9.toByte
    // header region ending IN the fill bytes (FF D8 FF FF …FF): the
    // fill-skip loop must not read past the end — ADVICE r11 (high)
    val endsInFill = Array(0xff, 0xd8, 0xff, 0xff).map(_.toByte)
    val endsInFillLong = Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xff)
      .map(_.toByte)
    for ((bad, i) <- Seq(noSoi, lostSync, rst, eoi, sos, sof1, sof3,
        sof9, lenLies, ok.dropRight(1), ok.take(2),
        Array[Byte](0xff.toByte, 0xd8.toByte), endsInFill,
        endsInFillLong, ok.take(sofAt) ++ Array.fill(3)(0xff.toByte))
        .zipWithIndex)
      assert(parse(bad).isEmpty, s"out-of-scope JPEG #$i parsed non-null")
  }

  test("G48 heif dims walk: box math, property extraction, scope quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.HeifDims
    def parse(b: Array[Byte]): Option[(String, Long, Long, Long, Long,
        Long)] = {
      val r = Seq(Tuple1(b)).toDF("payload")
        .select(HeifDims.dimsCol(col("payload")).as("d"))
        .select(col("d.brand"), col("d.n_items"), col("d.primary_id"),
          col("d.width"), col("d.height"), col("d.rot_angle"))
        .collect().head
      if (r.isNullAt(0)) None
      else Some((r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    }
    // synthesized corpus round-trip: id 4 (heic), id 7 (avif)
    for (id <- Seq(4L, 7L)) {
      val got = parse(graft.operators.Multimodal.heifBytes(id))
      assert(got.contains((if (id % 2 == 0) "heic" else "avif",
        1 + id % 3, 1 + id % 3, 640 + (id % 50) * 16,
        480 + (id % 25) * 16, id % 4)), s"id $id: $got")
    }
    val ok = graft.operators.Multimodal.heifBytes(6L)
    // quarantines, each a distinct failure of the scope contract:
    def patch(at: Int, v: Int): Array[Byte] = {
      val b = ok.clone(); b(at) = v.toByte; b
    }
    val wrongBrand = ok.clone() // 'isom' major brand
    "isom".getBytes("US-ASCII").copyToArray(wrongBrand, 8)
    val metaAt = 20
    val sizeZero = patch(metaAt + 3, 0) // meta size -> huge/0 path
    val sizeZero2 = { // top-level box size 0 (to-EOF form): overrun
      val b = ok.clone(); b(metaAt) = 0; b(metaAt + 1) = 0
      b(metaAt + 2) = 0; b(metaAt + 3) = 0; b
    }
    val metaV1 = patch(metaAt + 8, 1) // meta FullBox version 1
    // pitm v1 (6-byte item id layout is out of scope)
    val pitmAt = metaAt + 12 + 33
    assert(new String(ok, pitmAt + 4, 4, "US-ASCII") == "pitm",
      "pitm offset math off")
    val pitmV1 = patch(pitmAt + 8, 1)
    // iinf v1 (4-byte entry_count layout is out of scope)
    val iinfAt = pitmAt + 14
    assert(new String(ok, iinfAt + 4, 4, "US-ASCII") == "iinf",
      "iinf offset math off")
    val iinfV1 = patch(iinfAt + 8, 1)
    // drop ispe: retype it (walk must quarantine, never guess dims)
    val iprpAt = iinfAt + java.nio.ByteBuffer.wrap(ok, iinfAt, 4).getInt
    assert(new String(ok, iprpAt + 4, 4, "US-ASCII") == "iprp",
      "iprp offset math off")
    val noIspe = ok.clone()
    "free".getBytes("US-ASCII").copyToArray(noIspe, iprpAt + 16 + 4)
    // child overrun: ispe claims more bytes than ipco holds
    val overrun = patch(iprpAt + 16 + 3, 120)
    for ((bad, i) <- Seq(ok.take(12), ok.take(30), wrongBrand,
        sizeZero, sizeZero2, metaV1, pitmV1, iinfV1, noIspe, overrun,
        ok.dropRight(1), Array[Byte](0, 0, 0, 8, 'f', 't', 'y', 'p'))
        .zipWithIndex)
      assert(parse(bad).isEmpty, s"out-of-scope HEIF #$i parsed non-null")
    // fill survives: an unknown top-level box between ftyp and meta
    // is legal ISOBMFF — splice one in, same answer
    val spliced = ok.take(20) ++
      Array[Byte](0, 0, 0, 9, 'f', 'r', 'e', 'e', 0) ++ ok.drop(20)
    assert(parse(spliced) == parse(ok), "unknown box changed the parse")
  }

  test("G50 png chunk walk: CRC gate, critical-vs-ancillary, field math") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.PngChunks
    def parse(b: Array[Byte]): Option[Seq[Long]] = {
      val r = Seq(Tuple1(b)).toDF("payload")
        .select(PngChunks.chunksCol(col("payload")).as("c"))
        .select(col("c.width"), col("c.height"), col("c.bit_depth"),
          col("c.color_type"), col("c.interlace"), col("c.n_chunks"),
          col("c.n_text"), col("c.idat_bytes"), col("c.ppm_x"))
        .collect().head
      if (r.isNullAt(0)) None else Some((0 to 8).map(r.getLong))
    }
    for (id <- Seq(6L, 7L)) {
      val got = parse(graft.operators.Multimodal.pngChunkBytes(id))
      assert(got.contains(Seq(16 + id % 32, 8 + id % 16, 8L,
        Seq(0L, 2L, 6L)((id % 3).toInt), id % 2, 5 + id % 3,
        1 + id % 3, 10 + id % 50, 2835 + (id % 10) * 100)),
        s"id $id: $got")
    }
    val ok = graft.operators.Multimodal.pngChunkBytes(9L)
    // CRC gate: flip one byte inside the first tEXt payload
    val ihdrEnd = 8 + 12 + 13
    val physEnd = ihdrEnd + 12 + 9
    assert(new String(ok, physEnd + 4, 4, "US-ASCII") == "tEXt",
      "tEXt offset math off")
    val badCrc = ok.clone(); badCrc(physEnd + 9) =
      (badCrc(physEnd + 9) ^ 0x01).toByte
    // unknown ANCILLARY chunk ("teST"-style lowercase first letter):
    // tolerated — retype tEXt to "zzAT" (crc recomputed)
    def retype(src: Array[Byte], at: Int, t: String): Array[Byte] = {
      val b = src.clone()
      t.getBytes("US-ASCII").copyToArray(b, at + 4)
      val len = java.nio.ByteBuffer.wrap(b, at, 4).getInt
      val crc = new java.util.zip.CRC32()
      crc.update(b, at + 4, 4 + len)
      java.nio.ByteBuffer.wrap(b, at + 8 + len, 4)
        .putInt(crc.getValue.toInt)
      b
    }
    val ancillary = retype(ok, physEnd, "zzAT")
    val gotAnc = parse(ancillary)
    assert(gotAnc.isDefined && gotAnc.get(6) == (1 + 9 % 3) - 1,
      "ancillary unknown must be skipped, not fatal")
    // unknown CRITICAL chunk (uppercase first letter): quarantine
    val critical = retype(ok, physEnd, "ZZAT")
    // IHDR not first: swap in a valid pHYs before IHDR
    val swapped = ok.take(8) ++ ok.slice(ihdrEnd, physEnd) ++
      ok.slice(8, ihdrEnd) ++ ok.drop(physEnd)
    val badColor = ok.clone(); badColor(8 + 8 + 9) = 5.toByte
    // color-type byte patched -> CRC fails first; also recompute CRC
    // so the COLOR whitelist itself is exercised
    val badColorCrc = {
      val b = badColor.clone()
      val crc = new java.util.zip.CRC32(); crc.update(b, 8 + 4, 4 + 13)
      java.nio.ByteBuffer.wrap(b, 8 + 8 + 13, 4)
        .putInt(crc.getValue.toInt); b
    }
    for ((bad, i) <- Seq(badCrc, critical, swapped, badColor,
        badColorCrc, ok.dropRight(1), ok.take(20),
        ok ++ Array[Byte](0), Array[Byte](1, 2, 3)).zipWithIndex)
      assert(parse(bad).isEmpty, s"out-of-scope PNG #$i parsed non-null")
  }

  test("G49 webvtt cues: header skip, dot-millis times, settings") {
    import spark.implicits._
    val text = graft.operators.Multimodal.webvttText(5L)
    val got = graft.operators.Multimodal.webvttCues(
        Seq((5L, text)).toDF("doc_id", "text"))
      .orderBy("cue_idx")
      .select("cue_idx", "cue_id", "start_ms", "end_ms", "settings",
        "payload", "dur_ms")
      .collect()
    assert(got.length == 3 + 5 % 4)
    val first = got.head
    assert(first.getLong(0) == 0L && first.getString(1) == "c0")
    assert(first.getLong(2) == 5 % 90 &&
      first.getLong(3) == 5 % 90 + 300 + 5 % 150)
    assert(first.isNullAt(4), "even cue must carry no settings")
    val second = got(1)
    assert(second.getString(4) == "align:center line:10%")
    assert(second.getString(5) == "vtt 5 1")
    // header-only doc yields zero cues, not a crash
    assert(graft.operators.Multimodal.webvttCues(
      Seq((1L, "WEBVTT\n\nnote\nx")).toDF("doc_id", "text"))
      .filter($"start_ms".isNotNull).count() >= 0)
  }

  test("G45 aac adts walk: frame-length chain, CRC branch, scope quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.AacAdts
    def parse(b: Array[Byte]): Seq[(Long, Long, Long, Long, Long, Long,
        Long, Long)] =
      Seq(Tuple1(b)).toDF("payload")
        .select(explode(AacAdts.aacFrames(col("payload"))).as("f"))
        .select(col("f.frame_idx"), col("f.offset"),
          col("f.frame_bytes"), col("f.aot"), col("f.sample_rate"),
          col("f.channels"), col("f.crc_present"), col("f.n_blocks"))
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq
    // synthesized corpus round-trip: id 6 (CRC present: 6%3==0),
    // id 7 (CRC absent)
    for (id <- Seq(6L, 7L)) {
      val crc = if (id % 3 == 0) 1L else 0L
      val hdr = if (crc == 1L) 9L else 7L
      val n = (3 + id % 4).toInt
      val lens = (0 until n).map(i => hdr + 64 + (id * 13 + i * 7) % 100)
      val offs = lens.scanLeft(0L)(_ + _)
      val hz = Seq(48000L, 44100L, 32000L, 24000L, 22050L)((id % 5).toInt)
      val want = (0 until n).map(i => (i.toLong, offs(i), lens(i),
        1 + id % 3, hz, 1 + id % 2, crc, i % 2 + 1L))
      assert(parse(graft.operators.Multimodal.aacBytes(id)) == want,
        s"id $id")
    }
    // crafted two-frame stream: frame 0 CRC-PRESENT (9-byte header,
    // protection_absent=0), frame 1 CRC-ABSENT — the chain must land
    // exactly on frame 1's syncword through frame 0's length field
    def frame(crc: Boolean, prof: Int, sfi: Int, ch: Int, payload: Int,
        blocks: Int): Array[Byte] = {
      val hdr = if (crc) 9 else 7
      val flen = hdr + payload
      val b = java.nio.ByteBuffer.allocate(flen)
      b.put(0xff.toByte).put((0xf0 | (if (crc) 0 else 1)).toByte)
        .put(((prof << 6) | (sfi << 2) | ((ch >> 2) & 1)).toByte)
        .put((((ch & 3) << 6) | ((flen >> 11) & 3)).toByte)
        .put(((flen >> 3) & 0xff).toByte)
        .put((((flen & 7) << 5) | 0x10).toByte)
        .put((0x3c | (blocks - 1)).toByte)
      if (crc) b.putShort(0xBEEF.toShort)
      (0 until payload).foreach(j => b.put((j % 97).toByte))
      b.array()
    }
    val two = frame(crc = true, 1, 4, 2, 50, 1) ++
      frame(crc = false, 1, 4, 2, 33, 2)
    assert(parse(two) == Seq(
      (0L, 0L, 59L, 2L, 44100L, 2L, 1L, 1L),
      (1L, 59L, 40L, 2L, 44100L, 2L, 0L, 2L)), parse(two).toString)
    // 6-channel (5.1) layout exercises the channel bit split across
    // header bytes 2 and 3
    val six = frame(crc = false, 0, 3, 6, 20, 1)
    assert(parse(six).map(r => (r._4, r._5, r._6)) ==
      Seq((1L, 48000L, 6L)), parse(six).toString)
    // quarantines: lost sync, non-zero layer, reserved frequency,
    // PCE channel config 0, length under its own header, a frame
    // running past EOF, trailing garbage, short tail
    val ok = frame(crc = false, 1, 4, 2, 30, 1)
    val badSync = ok.clone(); badSync(0) = 0xfe.toByte
    val badLayer = ok.clone(); badLayer(1) = (badLayer(1) | 0x02).toByte
    val badFreq = frame(crc = false, 1, 13, 2, 30, 1)
    val pce = frame(crc = false, 1, 4, 0, 30, 1)
    // length 3 < 7-byte header: bytes 3..5 rewritten for flen=3
    val tiny = ok.clone()
    tiny(3) = (tiny(3) & 0xfc).toByte; tiny(4) = 0.toByte
    tiny(5) = ((3 << 5) | (tiny(5) & 0x1f)).toByte
    for (bad <- Seq(badSync, badLayer, badFreq, pce, tiny,
        ok.dropRight(1), ok ++ Array[Byte](0, 1, 2), ok.take(5)))
      assert(parse(bad).isEmpty, "out-of-scope ADTS parsed non-empty")
  }

  test("G38 fmp4 fragment walk: trun field mixes, explicit base offset, scope quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.Mp4Frag
    def parse(b: Array[Byte]): Seq[(Long, Long, Long, Long, Long, Long,
        Long, Long, Long)] =
      Seq(Tuple1(b)).toDF("payload")
        .select(explode(Mp4Frag.mp4FragSamples(col("payload"))).as("m"))
        .select(col("m.seq"), col("m.track_id"), col("m.sample_idx"),
          col("m.file_offset"), col("m.sample_size"), col("m.dts"),
          col("m.pts"), col("m.duration"), col("m.is_sync"))
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq

    // synthesized corpus shape round-trips to the closed form (id 5:
    // F=4 fragments — covers every trun field mix: f0 dur+size,
    // f1 cts + tfhd size override, f2 size-only, f3 dur-less override)
    val id = 5L
    val got = parse(graft.operators.Multimodal.mp4FragBytes(id))
    val nF = (2 + id % 3).toInt
    def n(f: Int) = (3 + (id + f) % 4).toInt
    def k(f: Int) = (if (f % 3 == 0) 1 else 0) +
      (if (f % 2 == 0) 1 else 0) + (if (f % 3 == 1) 1 else 0)
    def sz(f: Int, i: Int) =
      if (f % 2 == 0) (20 + (id * 31 + f * 17 + i * 7) % 180)
      else 30 + (id + f) % 50
    def dur(f: Int, i: Int) = if (f % 3 == 0) 500L + 10 * i else 1000L
    def cts(f: Int, i: Int) = if (f % 3 == 1) ((i % 3) - 1) * 100L else 0L
    def moofSize(f: Int) = 92 + (if (f % 2 == 1) 4 else 0) + n(f) * 4 * k(f)
    var fragStart = 68L
    var base = 0L
    val want = (0 until nF).flatMap { f =>
      var off = fragStart + moofSize(f) + 8
      var dts = base
      val rows = (0 until n(f)).map { i =>
        val r = (f + 1L, 1L, i.toLong, off, sz(f, i), dts,
          dts + cts(f, i), dur(f, i), if (i == 0) 1L else 0L)
        off += sz(f, i); dts += dur(f, i); r
      }
      fragStart = off
      base = dts
      rows
    }
    assert(got == want, s"layout mismatch:\n$got\nvs\n$want")

    // explicit 64-bit base_data_offset (tfhd flag 0x01) overrides the
    // moof-relative default: minimal hand-built fragment
    def bb(n: Int) = java.nio.ByteBuffer.allocate(n)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def frag(tfhdFlags: Int, baseOff: Long, trunFlags: Int,
        withTfdt: Boolean = true, trunVer: Int = 0): Array[Byte] = {
      val tfhdSz = 16 + (if ((tfhdFlags & 1) != 0) 8 else 0) +
        (if ((tfhdFlags & 8) != 0) 4 else 0) +
        (if ((tfhdFlags & 0x10) != 0) 4 else 0) +
        (if ((tfhdFlags & 0x20) != 0) 4 else 0)
      val trunSz = 16 + (if ((trunFlags & 1) != 0) 4 else 0) +
        (if ((trunFlags & 4) != 0) 4 else 0) +
        2 * (4 * Integer.bitCount(trunFlags & 0xf00))
      val tfdtSz = if (withTfdt) 20 else 0
      val trafSz = 8 + tfhdSz + tfdtSz + trunSz
      val moofSz = 8 + 16 + trafSz
      val b = bb(moofSz)
      b.putInt(moofSz).put("moof".getBytes("US-ASCII"))
      b.putInt(16).put("mfhd".getBytes("US-ASCII")).putInt(0).putInt(1)
      b.putInt(trafSz).put("traf".getBytes("US-ASCII"))
      b.putInt(tfhdSz).put("tfhd".getBytes("US-ASCII"))
        .putInt(tfhdFlags).putInt(7) // track 7
      if ((tfhdFlags & 1) != 0) b.putLong(baseOff)
      if ((tfhdFlags & 8) != 0) b.putInt(1000)
      if ((tfhdFlags & 0x10) != 0) b.putInt(55)
      if ((tfhdFlags & 0x20) != 0) b.putInt(0x00010000) // non-sync default
      if (withTfdt)
        b.putInt(20).put("tfdt".getBytes("US-ASCII"))
          .putInt(0x01000000).putLong(9000L)
      b.putInt(trunSz).put("trun".getBytes("US-ASCII"))
        .putInt((trunVer << 24) | trunFlags).putInt(2) // two samples
      if ((trunFlags & 1) != 0) b.putInt(400)
      if ((trunFlags & 4) != 0) b.putInt(0x02000000)
      var i = 0
      while (i < 2) {
        if ((trunFlags & 0x100) != 0) b.putInt(100 + i)
        if ((trunFlags & 0x200) != 0) b.putInt(10 + i)
        if ((trunFlags & 0x400) != 0) b.putInt(0x00010000)
        i += 1
      }
      b.array()
    }
    val explicitBase = frag(0x01 | 0x10 | 0x20, 1L << 33, 0x01 | 0x100)
    val gotB = parse(explicitBase)
    assert(gotB.map(r => (r._2, r._4, r._5, r._6, r._8)) == Seq(
      (7L, (1L << 33) + 400L, 55L, 9000L, 100L),
      (7L, (1L << 33) + 455L, 55L, 9100L, 101L)), gotB)
    // per-sample flags override first_sample_flags absent: both non-sync
    assert(parse(frag(0x01 | 0x10, 0L, 0x01 | 0x100 | 0x400))
      .map(_._9) == Seq(0L, 0L))

    // scope quarantine: legacy implicit base (neither flag), trun
    // without data_offset, missing tfdt, trun version 2, truncation,
    // and a default needed but absent at every level
    for (bad <- Seq(
        frag(0x10, 0L, 0x01 | 0x100),              // no base, no moof-base
        frag(0x01 | 0x10, 0L, 0x100),              // no data_offset
        frag(0x01 | 0x10, 0L, 0x01 | 0x100, withTfdt = false),
        frag(0x01 | 0x10, 0L, 0x01 | 0x100, trunVer = 2),
        frag(0x01 | 0x10, 0L, 0x01 | 0x100).dropRight(3),
        frag(0x01, 0L, 0x01 | 0x100),              // size: no tfhd/trex
        frag(0x01 | 0x10, 0L, 0x01)))              // duration: no default
      assert(parse(bad).isEmpty, "out-of-scope fragment parsed non-empty")

    // corrupt-count quarantine: the CMAF steady state (all defaults
    // from tfhd, flags 0x01-only trun — NO per-sample fields, so the
    // emit loop has no per-iteration bounds check) with the trun
    // sample count patched to 0xFFFFFFFF must quarantine via the
    // sanity cap, never attempt 4.3e9 rows. The sane twin (count=2)
    // must parse — proving the cap, not a layout reject, is the gate.
    val cmaf = frag(0x01 | 0x08 | 0x10 | 0x20, 256L, 0x01)
    assert(parse(cmaf).map(r => (r._5, r._8)) == Seq((55L, 1000L),
      (55L, 1000L)), "sane CMAF defaults-only fragment must parse")
    val countOff = cmaf.length - 8 // ...[ver|flags][COUNT][data_off]
    val corrupt = cmaf.clone()
    corrupt(countOff) = 0xff.toByte; corrupt(countOff + 1) = 0xff.toByte
    corrupt(countOff + 2) = 0xff.toByte; corrupt(countOff + 3) = 0xff.toByte
    assert(parse(corrupt).isEmpty, "corrupt trun count must quarantine")
  }

  test("G39 ogg page walk: offsets address payloads, CRC gate, quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.OggWalk
    def parse(b: Array[Byte]): Seq[(Long, Long, Long, Long, Long, Long)] =
      Seq(Tuple1(b)).toDF("payload")
        .select(explode(OggWalk.oggPages(col("payload"))).as("m"))
        .select(col("m.page_idx"), col("m.is_continued"),
          col("m.n_segments"), col("m.n_packets"), col("m.data_offset"),
          col("m.payload_size"))
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val id = 7L // page 0's LAST lacing is 255 → page 1 is continued
    val ok = graft.operators.Multimodal.oggBytes(id)
    val got = parse(ok)
    assert(got.nonEmpty && got.map(_._1) == got.indices.map(_.toLong), got)
    // data_offset really addresses the first payload byte of the page
    got.foreach { case (p, _, _, _, off, pl) =>
      assert(pl == 0 || (ok(off.toInt) & 0xff) == ((id + p) % 251).toInt,
        s"page $p data_offset points at the wrong byte")
    }
    // the page BEFORE a continued page ends with a 255 lacing, so it
    // completes fewer packets than it has segments
    val cont = got.find(_._2 == 1L)
    assert(cont.isDefined, "no continued page in the synthesized stream")
    val before = got(cont.get._1.toInt - 1)
    assert(before._4 < before._3,
      s"pre-continuation page completed every packet: $before")
    // quarantine: flipped payload byte (CRC gate), bad capture, bad
    // version, truncated lacing table, trailing garbage
    val crcBad = ok.clone(); crcBad(ok.length - 1) =
      (crcBad(ok.length - 1) ^ 0x5a).toByte
    val capBad = ok.clone(); capBad(1) = 'X'
    val verBad = ok.clone(); verBad(4) = 1
    for (bad <- Seq(crcBad, capBad, verBad, ok.take(20),
        ok ++ Array[Byte](1, 2, 3)))
      assert(parse(bad).isEmpty, "malformed ogg parsed non-empty")
  }

  test("G40 ebml track walk: both segment size forms, vint edges, quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.EbmlWalk
    def parse(b: Array[Byte]): Seq[(Long, Long, Long, String, Long,
        Long, Long, Long)] =
      Seq(Tuple1(b)).toDF("payload")
        .select(explode(EbmlWalk.mkvTracks(col("payload"))).as("t"))
        .select(col("t.track_idx"), col("t.track_number"),
          col("t.track_type"), col("t.codec_id"), col("t.detail"),
          col("t.timescale_ns"), col("t.n_clusters"),
          col("t.cluster0_ts"))
        .as[(Long, Long, Long, String, Long, Long, Long, Long)]
        .collect().toSeq
    // both segment-size forms round-trip (even id: unknown-size 0xFF
    // to EOF; odd id: known 2-byte size)
    for (id <- Seq(4L, 7L)) {
      val got = parse(graft.operators.Multimodal.mkvBytes(id))
      val ts = 100000L * (10 + id % 5)
      val c0 = 1000L + id % 300
      assert(got == Seq(
        (0L, 1L, 1L, "V_MPEG4/ISO/AVC",
          33000000L + (id % 10) * 1000000L, ts, 1L, c0),
        (1L, 2L, 2L, "A_OPUS", 1L + id % 2, ts, 1L, c0)), s"id $id: $got")
    }
    // quarantine: zero VINT lead byte, truncation, wrong first
    // element, unknown size on a non-Segment element
    val ok = graft.operators.Multimodal.mkvBytes(4L)
    val zeroLead = ok.clone()
    // the Tracks element's 2-byte size starts right after its 4-byte
    // id — locate by the registry bytes 0x16 0x54 0xAE 0x6B
    val tOff = ok.indices.find(i => (ok(i) & 0xff) == 0x16 &&
      (ok(i + 1) & 0xff) == 0x54 && (ok(i + 2) & 0xff) == 0xAE &&
      (ok(i + 3) & 0xff) == 0x6B).get
    zeroLead(tOff + 4) = 0 // size VINT lead byte 0x00: malformed
    val unkChild = ok.clone()
    unkChild(tOff + 4) = 0xff.toByte // unknown size on Tracks
    unkChild(tOff + 5) = 0xff.toByte
    val badFirst = ok.clone(); badFirst(0) = 0x18
    for (bad <- Seq(zeroLead, unkChild, badFirst, ok.take(30),
        Array[Byte](0x1a, 0x45)))
      assert(parse(bad).isEmpty, "malformed ebml parsed non-empty")
  }

  test("G43 pdf xref walk: trailer scan, offsets address objects, scope quarantine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.PdfXref
    def parse(b: Array[Byte]): Seq[(Long, Long, Long, Long)] =
      Seq(Tuple1(b)).toDF("payload")
        .select(explode(PdfXref.pdfXref(col("payload"))).as("x"))
        .select(col("x.obj_num"), col("x.offset"),
          col("x.generation"), col("x.in_use"))
        .as[(Long, Long, Long, Long)].collect().toSeq
    val id = 9L
    val ok = graft.operators.Multimodal.pdfBytes(id)
    val got = parse(ok)
    val n = (3 + id % 5).toInt
    assert(got.length == n + 1)
    assert(got.head == ((0L, 0L, 65535L, 0L)), got.head)
    // every in-use offset addresses the "<i> 0 obj" keyword itself
    got.tail.foreach { case (num, off, gen, used) =>
      assert(gen == 0L && used == 1L)
      val at = new String(ok, off.toInt, 8, "US-ASCII")
      assert(at.startsWith(s"$num 0 obj"), s"obj $num offset points at '$at'")
    }
    // scope: an xref STREAM (startxref → an object, not the keyword)
    // quarantines — rewrite the startxref target to object 1's offset
    val s = new String(ok, "US-ASCII")
    val obj1Off = got(1)._2
    val streamy = s.replaceAll("startxref\n\\d+",
      s"startxref\n$obj1Off").getBytes("US-ASCII")
    assert(parse(streamy).isEmpty, "xref-stream layout parsed non-empty")
    // malformed: no header, truncated table, corrupted entry letter
    val noHdr = ok.drop(2)
    val cut = ok.take(ok.length - 40)
    val badLetter = ok.clone()
    val xIdx = s.indexOf("00000 n\r")
    badLetter(xIdx + 6) = 'q'
    for (bad <- Seq(noHdr, cut, badLetter))
      assert(parse(bad).isEmpty, "malformed pdf parsed non-empty")
  }

  test("sniffer routes the shard containers: zip, tar, webp") {
    import spark.implicits._
    val rows = Seq(
      (1L, graft.operators.Multimodal.zipBytes(3L)),
      (2L, graft.operators.Multimodal.tarBytes(3L)),
      (3L, "just text, no container".getBytes("US-ASCII")),
      (4L, graft.operators.Multimodal.webpBytes(4L)),
      (5L, graft.operators.Multimodal.oggBytes(5L)),
      (6L, graft.operators.Multimodal.mkvBytes(6L)),
      (7L, graft.operators.Multimodal.pdfBytes(7L)))
      .toDF("doc_id", "payload")
    val got = Multimodal.sniffHeaders(rows)
      .select("doc_id", "format").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "zip", 2L -> "tar", 3L -> "unknown",
      4L -> "webp", 5L -> "ogg", 6L -> "mkv", 7L -> "pdf"), got)
  }

  test("G37 webp dims: all three layouts, quarantine on the rest") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.WebpDims
    def parse(b: Array[Byte]): Option[(String, Long, Long)] = {
      val r = Seq(Tuple1(b)).toDF("payload")
        .select(WebpDims.dimsCol(col("payload")).as("d"))
        .select(col("d.variant"), col("d.width"), col("d.height"))
        .collect().head
      if (r.isNullAt(0)) None
      else Some((r.getString(0), r.getLong(1), r.getLong(2)))
    }
    for (id <- Seq(3L, 4L, 5L)) { // one of each variant
      val want = (Seq("vp8", "vp8l", "vp8x")((id % 3).toInt),
        200L + id % 300, 100L + id % 200)
      assert(parse(graft.operators.Multimodal.webpBytes(id))
        .contains(want), s"id $id")
    }
    // the VP8 scale bits must be masked off the 14-bit dims
    val scaled = graft.operators.Multimodal.webpBytes(3L).clone()
    scaled(27) = (scaled(27) | 0xc0).toByte // upscale 3x in width
    assert(parse(scaled).exists(_._2 == 200L + 3 % 300),
      "scale bits leaked into the width")
    // quarantine: bad start code, VP8L version != 0, unknown chunk,
    // WAVE-not-WEBP, truncation
    val badStart = graft.operators.Multimodal.webpBytes(3L).clone()
    badStart(23) = 0x11
    val badVer = graft.operators.Multimodal.webpBytes(4L).clone()
    badVer(24) = (badVer(24) | 0xe0).toByte // version bits 3b111
    val unk = graft.operators.Multimodal.webpBytes(5L).clone()
    unk(12) = 'X'
    val wave = graft.operators.Multimodal.webpBytes(3L).clone()
    wave(8) = 'W'; wave(9) = 'A'; wave(10) = 'V'; wave(11) = 'E'
    for (bad <- Seq(badStart, badVer, unk, wave,
        graft.operators.Multimodal.webpBytes(3L).take(20)))
      assert(parse(bad).isEmpty, "malformed webp parsed non-null")
  }
}
