package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Custom-expression SQL registration + bucketed co-located join. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  test("dot_product is callable from SQL and matches the Scala API") {
    val sql = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(sql == 11.0)
    import spark.implicits._
    val viaApi = Tables.embeddings(spark, GraftTestSession.sf)
      .limit(1)
      .select(graft.functions.VectorFunctions.dot($"embedding", $"embedding"))
      .collect().head.getDouble(0)
    val viaSql = Tables.embeddings(spark, GraftTestSession.sf)
      .limit(1).createOrReplaceTempView("emb1")
    val s = spark.sql("SELECT dot_product(embedding, embedding) FROM emb1")
      .collect().head.getDouble(0)
    assert(viaApi == s)
  }

  test("minhash_sig from SQL produces a numPerm-length signature") {
    Tables.documents(spark, GraftTestSession.sf).limit(50)
      .createOrReplaceTempView("docs50")
    val sig = spark.sql(
      """SELECT minhash_sig(text, 16) AS sig FROM docs50""")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 16)
    assert(sig.forall(_ != Long.MaxValue))
  }

  test("minhash_sig rejects a non-literal numPerm at analysis time") {
    Tables.documents(spark, GraftTestSession.sf).limit(5)
      .createOrReplaceTempView("docs5")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_sig(text, n_chars) FROM docs5").collect()
    }
    assert(ex.getMessage.contains("literal numPerm"))
  }

  test("minhash_sig rejects a null, string, fractional or sub-1 numPerm") {
    Tables.documents(spark, GraftTestSession.sf).limit(5)
      .createOrReplaceTempView("docs5")
    for (n <- Seq("NULL", "'16'", "0", "-1", "2.5")) {
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT minhash_sig(text, $n) FROM docs5").collect()
      }
      assert(ex.getMessage.contains("literal numPerm"), s"$n: ${ex.getMessage}")
    }
  }

  test("SQL builders reject a wrong argument count, naming the function") {
    import spark.implicits._
    Seq((graft.operators.Multimodal.webpBytes(7L),
      graft.operators.Multimodal.mp4MultiTrackBytes(7L)))
      .toDF("webp", "mp4").createOrReplaceTempView("arity_assets")
    for ((call, name) <- Seq(
        "webp_dims(webp, 1)" -> "webp_dims",
        "webp_dims()" -> "webp_dims",
        "mp4_samples(mp4, 'vide', 'x')" -> "mp4_samples",
        "dot_product(array(1.0d))" -> "dot_product",
        "dot_product(array(1.0d), array(2.0d), array(3.0d))" ->
          "dot_product")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call FROM arity_assets").collect()
      }
      assert(e.getMessage.contains(name), s"$call: ${e.getMessage}")
    }
  }

  test("every byte parser is callable from SQL and matches its builder") {
    import spark.implicits._
    import graft.functions.ByteParser
    import graft.operators.Multimodal._
    val payloads = Map(
      "aac_frames" -> aacBytes(7L), "exif_meta" -> exifBytes(7L),
      "flac_info" -> flacBytes(7L), "h264_sps" -> spsBytes(7L),
      "h265_sps" -> h265SpsBytes(7L), "heif_dims" -> heifBytes(7L),
      "id3_frames" -> mp3Bytes(7L), "jpeg_sof" -> jpegSofBytes(7L),
      "jpeg_sof_dims" -> jpegSofBytes(7L), "mkv_tracks" -> mkvBytes(7L),
      "mp3_frames" -> mp3Bytes(7L), "mp4_edits" -> mp4MultiTrackBytes(7L),
      "mp4_frag_samples" -> mp4FragBytes(7L), "mp4_samples" -> mp4Bytes(7L),
      "mp4_timing" -> mp4Bytes(7L), "mp4_tracks" -> mp4Bytes(7L),
      "ogg_pages" -> oggBytes(7L), "pdf_xref" -> pdfBytes(7L),
      "png_chunks" -> pngChunkBytes(7L), "tar_members" -> tarBytes(7L),
      "webp_dims" -> webpBytes(7L), "zip_dir" -> zipBytes(7L))
    assert(ByteParser.all.map(_.sqlName).sorted == payloads.keys.toSeq.sorted)
    for (p <- ByteParser.all) {
      val df = Seq(payloads(p.sqlName)).toDF("payload")
      df.createOrReplaceTempView("parser_in")
      val viaSql = spark.sql(s"SELECT ${p.sqlName}(payload) FROM parser_in")
      val viaCol = df.select(p($"payload"))
      assert(viaSql.columns.toSeq == Seq(s"${p.sqlName}(payload)"))
      def fields(d: org.apache.spark.sql.DataFrame) =
        d.schema.map(f => (f.name, f.dataType, f.nullable))
      assert(fields(viaSql) == fields(viaCol), p.sqlName)
      val rows = viaSql.collect().toSeq
      assert(rows == viaCol.collect().toSeq, p.sqlName)
      assert(rows.head.get(0) match {
        case null => false
        case s: Seq[_] => s.nonEmpty
        case _ => true
      }, s"${p.sqlName} parsed nothing from its format's payload")
      // two calls on one payload are one expression to CSE
      val twice = df.select(p($"payload"), p($"payload"))
        .queryExecution.analyzed.expressions.map(_.children.head)
      assert(twice.head.semanticEquals(twice(1)), p.sqlName)
      for (bad <- Seq("", "payload, payload, payload")) {
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          spark.sql(s"SELECT ${p.sqlName}($bad) FROM parser_in")
        }
        assert(e.getMessage.contains(p.sqlName), e.getMessage)
      }
    }
  }

  test("bucketed tables join without a shuffle") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // the in-memory metastore forgets tables between JVM runs but the
    // warehouse dirs survive — clear them or CTAS refuses the location
    Seq("li_b", "ord_b").foreach { t =>
      val d = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    Tables.lineitem(spark, GraftTestSession.sf)
      .select($"l_orderkey", $"l_quantity")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_b")
    Tables.orders(spark, GraftTestSession.sf)
      .select($"o_orderkey", $"o_totalprice")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_b")
    // force the SMJ path (broadcast would bypass bucketing on data
    // this small; at scale both sides are too big to broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange"), plan.take(1500))
      assert(joined.count() ==
        Tables.lineitem(spark, GraftTestSession.sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("adc_sum equals the composed element_at fold bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic tables/codes; fold order must match exactly
    val df = spark.range(100).select($"id",
      expr("""transform(sequence(0, 7), j ->
             |  transform(sequence(0, 15), c ->
             |    cast(xxhash64(id, j, c) % 1000 as double) / 7.0))"""
        .stripMargin).as("tbls"),
      expr("transform(sequence(0, 7), j -> cast(abs(xxhash64(id, j)) % 16 as int))")
        .as("codes"))
    val both = df.select(
      graft.functions.AdcSum.adc($"tbls", $"codes").as("fast"),
      (0 until 8).map(j => element_at(element_at($"tbls", j + 1),
        element_at($"codes", j + 1) + 1)).reduce(_ + _).as("slow"))
    assert(both.filter($"fast" =!= $"slow").count() == 0,
      "adc_sum diverged from the composed fold")
  }

  test("rolling_poly_hash equals the k-term polynomial fold, edge lengths included") {
    import spark.implicits._
    import graft.functions.TextHash
    val k = 12
    val docs = Seq(
      "",                                  // empty → empty array
      "abcdefghijk",                       // k-1 chars → empty array
      "abcdefghijkl",                      // exactly k → one hash
      "the quick brown fox jumps over the lazy dog 0123456789",
      "aaaaaaaaaaaaaaaaaaaaaaaaaa")        // repeated chars stress the slide
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "txt")
    // reference: the direct Σ c_j·257^(k-1-j) mod p per position,
    // computed with interpreted HOFs over codepoints
    val P = 1000000007L
    val coefs = (0 until k)
      .map(j => BigInt(257).modPow(k - 1 - j, P).toLong)
    val slowExpr = expr(
      s"""CASE WHEN length(txt) >= $k THEN
         |  transform(sequence(1, length(txt) - ${k - 1}), i ->
         |    (${coefs.zipWithIndex.map { case (cf, j) =>
             s"ascii(substring(txt, i + $j, 1)) * ${cf}L" }
             .mkString(" + ")}) % $P)
         |ELSE array() END""".stripMargin.replace("\n", " "))
    val both = docs
      .select($"id", TextHash.rollingPolyHash($"txt", k).as("fast"),
        slowExpr.cast("array<long>").as("slow"))
    assert(both.filter(not($"fast" <=> $"slow")).count() == 0,
      "rolling hash diverged from the polynomial reference")
    // empty-array edges explicit
    val sizes = both.orderBy($"id").select(size($"fast")).as[Int].collect()
    assert(sizes(0) == 0 && sizes(1) == 0 && sizes(2) == 1)
  }

  test("graft table functions: the whole registry is callable from pure SQL") {
    import spark.implicits._
    val sf = GraftTestSession.sf
    // the ergonomic alias runs the flagship ranked query end to end
    val topk = spark.sql(s"SELECT * FROM graft_topk('$sf')").collect()
    assert(topk.length == 10, s"graft_topk returned ${topk.length} rows")
    // graft_q dispatches ANY registry key; result == the Scala API
    val viaSql = spark.sql(s"SELECT * FROM graft_q('q_agg', '$sf')")
      .collect().map(_.toString).sorted.toSeq
    val viaApi = SparkEntry.queries("q_agg")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(viaSql == viaApi, "SQL TVF diverged from the Scala API")
    // and it composes with arbitrary SQL on top
    val n = spark.sql(
      s"""SELECT count(*) FROM graft_q('q_topk', '$sf') t
         |JOIN graft_q('q_topk', '$sf') u ON t.c_custkey = u.c_custkey
         |""".stripMargin).collect().head.getLong(0)
    assert(n == 10L, s"TVF self-join returned $n rows")
    // unknown keys and non-literal args fail at ANALYSIS time
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft_q('no_such_query', '$sf')")
    }
    assert(e1.getMessage.contains("unknown graft query"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_topk(42)")
    }
    assert(e2.getMessage.contains("literal string"))
    // a foldable typed NULL folds to null — must raise the same
    // usage error at analysis time, never an NPE
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft_q(CAST(NULL AS STRING), '$sf')")
    }
    assert(e3.getMessage.contains("literal string"), e3.getMessage)
    val e4 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_topk(CAST(NULL AS STRING))")
    }
    assert(e4.getMessage.contains("literal string"), e4.getMessage)
  }

  test("graft_shock: user-supplied shock pct/horizon from pure SQL == Scala API") {
    val sf = GraftTestSession.sf
    // the reference's headline interactive feature, reachable from a
    // JDBC client: shock percentage and horizon are USER inputs
    val viaSql = spark.sql(s"SELECT * FROM graft_shock('$sf', 0.25, 3)")
      .collect().map(_.toString).sorted.toSeq
    val viaApi = graft.operators.Resilience
      .shockSimParams(spark, sf, 0.25, 3)
      .collect().map(_.toString).sorted.toSeq
    assert(viaSql.nonEmpty, "graft_shock returned no rows")
    assert(viaSql == viaApi, "graft_shock TVF diverged from the Scala API")
    // decimal-vs-double literal spelling must not change the answer
    val viaSqlD = spark.sql(
      s"SELECT * FROM graft_shock('$sf', 0.25e0, 3)")
      .collect().map(_.toString).sorted.toSeq
    assert(viaSqlD == viaSql, "decimal vs double pct literal diverged")
    // a DIFFERENT pct must actually change the shocked projection
    val alt = spark.sql(s"SELECT * FROM graft_shock('$sf', 0.5, 3)")
      .collect().map(_.toString).sorted.toSeq
    assert(alt != viaSql, "pct parameter had no effect")
    // analysis-error paths: non-literal args, out-of-range pct,
    // fractional / out-of-range horizon, wrong arity
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft_shock('$sf', rand(), 3)")
    }
    assert(e1.getMessage.contains("literal"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft_shock('$sf', 1.5, 3)")
    }
    assert(e2.getMessage.contains("(0, 1)"), e2.getMessage)
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft_shock('$sf', 0.25, 2.5)")
    }
    assert(e3.getMessage.contains("integer in [1, 1000]"), e3.getMessage)
    val e4 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft_shock('$sf', 0.25)")
    }
    assert(e4.getMessage.contains("graft_shock(dir, pct, horizon)"),
      e4.getMessage)
    val e5 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_shock(42, 0.25, 3)")
    }
    assert(e5.getMessage.contains("literal string"), e5.getMessage)
  }

  test("graft_catalog lists the whole registry with oracle flags") {
    import spark.implicits._
    val rows = spark.sql(
      "SELECT query_key, has_oracle FROM graft_catalog()")
      .as[(String, Boolean)].collect().toSeq
    assert(rows.length == SparkEntry.queries.size)
    assert(rows.map(_._1).toSet == SparkEntry.queries.keySet)
    val byKey = rows.toMap
    assert(byKey("ann_rq") && byKey("q_topk"), "oracled keys flagged")
    assert(!byKey("q_sketches") && !byKey("text_compress"),
      "rows-only keys must show has_oracle = false")
    // composes: count the oracle-less keys in SQL
    val n = spark.sql(
      "SELECT count(*) FROM graft_catalog() WHERE NOT has_oracle")
      .collect().head.getLong(0)
    assert(n == 2L, s"rows-only count $n")
  }

  test("mp4 demux family is callable from SQL, handler routing included") {
    import spark.implicits._
    Seq((7L, graft.operators.Multimodal.mp4MultiTrackBytes(7L)))
      .toDF("doc_id", "payload").createOrReplaceTempView("mt_assets")
    val tracks = spark.sql(
      """SELECT t.track_idx, t.handler, t.n_samples
        |FROM mt_assets LATERAL VIEW explode(mp4_tracks(payload)) AS t
        |ORDER BY t.track_idx""".stripMargin)
      .as[(Long, String, Long)].collect().toSeq
    assert(tracks == Seq((0L, "vide", 5L), (1L, "soun", 9L)),
      s"SQL mp4_tracks: $tracks")
    val nAudio = spark.sql(
      "SELECT size(mp4_samples(payload, 'soun')) FROM mt_assets")
      .as[Int].collect().head
    assert(nAudio == 9, s"SQL routed mp4_samples: $nAudio")
    val nTiming = spark.sql(
      "SELECT size(mp4_timing(payload)) FROM mt_assets")
      .as[Int].collect().head
    assert(nTiming == 5, s"SQL mp4_timing: $nTiming")
    // a non-literal handler is an analysis error, not a runtime cast
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT mp4_samples(payload, doc_id) FROM mt_assets").collect()
    }
    assert(e.getMessage.contains("literal handler"), e.getMessage)
  }

  test("audio/image header demux family is callable from SQL") {
    import spark.implicits._
    Seq((7L, graft.operators.Multimodal.mp4MultiTrackBytes(7L)))
      .toDF("doc_id", "payload").createOrReplaceTempView("mt_assets")
    val edits = spark.sql(
      """SELECT e.edit_idx, e.media_time
        |FROM mt_assets LATERAL VIEW
        |  explode(mp4_edits(payload, 'vide')) AS e
        |ORDER BY e.edit_idx""".stripMargin)
      .as[(Long, Long)].collect().toSeq
    assert(edits == Seq((0L, -1L), (1L, 100L * (7L % 3))),
      s"SQL mp4_edits: $edits")
    Seq((3L, graft.operators.Multimodal.mp3Bytes(3L)),
      (4L, graft.operators.Multimodal.flacBytes(4L)),
      (5L, graft.operators.Multimodal.exifBytes(5L)))
      .toDF("doc_id", "payload").createOrReplaceTempView("av_assets")
    val nFrames = spark.sql(
      "SELECT size(mp3_frames(payload)) FROM av_assets WHERE doc_id = 3")
      .as[Int].collect().head
    assert(nFrames == (4 + 3 % 5), s"SQL mp3_frames: $nFrames")
    val sr = spark.sql(
      "SELECT flac_info(payload).sample_rate FROM av_assets WHERE doc_id = 4")
      .as[Long].collect().head
    assert(sr == 32000L + (4 % 5) * 4000L, s"SQL flac_info: $sr")
    val orient = spark.sql(
      "SELECT exif_meta(payload).orientation FROM av_assets WHERE doc_id = 5")
      .as[Long].collect().head
    assert(orient == 1L + 5 % 8, s"SQL exif_meta: $orient")
    // the round-11 codec legs: HEVC SPS, ADTS frames, JPEG SOF
    Seq((6L, graft.operators.Multimodal.h265SpsBytes(6L)),
      (7L, graft.operators.Multimodal.aacBytes(7L)),
      (8L, graft.operators.Multimodal.jpegSofBytes(8L)))
      .toDF("doc_id", "payload").createOrReplaceTempView("r11_assets")
    val hw = spark.sql(
      """SELECT h265_sps(payload).width, h265_sps(payload).height
        |FROM r11_assets WHERE doc_id = 6""".stripMargin)
      .as[(Long, Long)].collect().head
    assert(hw == ((320L + (6 % 40) * 16, 240L + (6 % 20) * 16)),
      s"SQL h265_sps: $hw")
    val aacN = spark.sql(
      "SELECT size(aac_frames(payload)) FROM r11_assets WHERE doc_id = 7")
      .as[Int].collect().head
    assert(aacN == (3 + 7 % 4), s"SQL aac_frames: $aacN")
    val sof = spark.sql(
      """SELECT jpeg_sof(payload).progressive, jpeg_sof(payload).width
        |FROM r11_assets WHERE doc_id = 8""".stripMargin)
      .as[(Long, Long)].collect().head
    assert(sof == ((8L % 2, 320L + (8 % 40) * 8)), s"SQL jpeg_sof: $sof")
  }
}
