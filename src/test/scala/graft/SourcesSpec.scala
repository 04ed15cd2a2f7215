package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Csv, Sink, Tables}
import java.nio.file.Files

/** H2/H3: CSV permissive ingestion and partitioned parquet sink. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  test("H2: permissive CSV read parses clean rows and quarantines bad ones") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "in.csv")
    Files.writeString(f.toPath,
      """industry,year,value
        |Satellites,2019,1234.5
        |Launch,2020,not_a_number
        |Ground,2021,99.0
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("industry", StringType),
      StructField("year", IntegerType),
      StructField("value", DoubleType)))
    val df = Csv.read(spark, f.getAbsolutePath, schema).cache()
    assert(Csv.clean(df).count() == 2)
    assert(Csv.quarantine(df).count() == 1)
    val q = Csv.quarantine(df).collect().head.getAs[String](Csv.CorruptCol)
    assert(q.contains("not_a_number"))
    df.unpersist()
  }

  /** Minimal xlsx writer for the tests: shared strings for text,
    * inline numerics, sparse `r=` cell refs (skipping null cells) —
    * the same feature set Business.xlsx exercises. */
  private def makeXlsx(sheets: Seq[(String, Seq[Seq[Any]])]): Array[Byte] = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val strings = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sstIdx(s: String): Int =
      strings.getOrElseUpdate(s, strings.size)
    def colRef(i: Int): String = {
      var n = i + 1; var s = ""
      while (n > 0) { s = ('A' + (n - 1) % 26).toChar.toString + s; n = (n - 1) / 26 }
      s
    }
    val sheetXmls = sheets.map { case (_, rows) =>
      val body = rows.zipWithIndex.map { case (row, ri) =>
        val cells = row.zipWithIndex.collect {
          case (v, ci) if v != null =>
            val ref = s"${colRef(ci)}${ri + 1}"
            v match {
              case s: String => s"""<c r="$ref" t="s"><v>${sstIdx(s)}</v></c>"""
              case n => s"""<c r="$ref"><v>$n</v></c>"""
            }
        }.mkString
        s"""<row r="${ri + 1}">$cells</row>"""
      }.mkString
      s"""<?xml version="1.0"?><worksheet><sheetData>$body</sheetData></worksheet>"""
    }
    val wbXml = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="$name" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString(
      """<?xml version="1.0"?><workbook xmlns:r="http://r"><sheets>""",
      "", "</sheets></workbook>")
    val relsXml = sheets.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="ws" Target="worksheets/sheet${i + 1}.xml"/>"""
    }.mkString("""<?xml version="1.0"?><Relationships>""", "", "</Relationships>")
    val sstXml = strings.keys.map(s => s"<si><t>$s</t></si>")
      .mkString("""<?xml version="1.0"?><sst>""", "", "</sst>")
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    put("xl/workbook.xml", wbXml)
    put("xl/_rels/workbook.xml.rels", relsXml)
    put("xl/sharedStrings.xml", sstXml)
    sheetXmls.zipWithIndex.foreach { case (x, i) =>
      put(s"xl/worksheets/sheet${i + 1}.xml", x)
    }
    z.close()
    bos.toByteArray
  }

  /** The Business.xlsx shape: 5 preamble rows, then header
    * (numbering col blank, industry col blank-ish, year columns),
    * then data with a numbering column and one missing cell. */
  private def businessTwin(values: Boolean): Seq[Seq[Any]] = {
    val junk = Seq.fill(5)(Seq[Any]("U.S. Space Economy", null, null, null, null))
    val header = Seq[Any](null, "Line", "2019", "2020", "2021")
    def v(base: Double) = if (values) base else base / 2
    val data = Seq(
      Seq[Any](1, "Manufacturing", v(100.0), v(80.0), v(105.0)),
      Seq[Any](2, "Information", v(50.0), null, v(60.0)), // missing cell
      Seq[Any](3, "Government", v(200.0), v(150.0), v(210.0)))
    junk ++ (header +: data)
  }

  test("H5: xlsx ingest reproduces the reference's skiprows/drop/rename flow") {
    import spark.implicits._
    import graft.sources.Excel
    val dir = Files.createTempDirectory("graft_xlsx").toFile
    val f = new java.io.File(dir, "business.xlsx")
    Files.write(f.toPath, makeXlsx(Seq(
      "Table 2" -> businessTwin(values = true),
      "Table 3" -> businessTwin(values = false))))

    def longForm(sheet: String, valueName: String) = {
      val t = Excel.dropAndRename(
        Excel.read(spark, f.getAbsolutePath, sheet, skipRows = 5), "Industry")
      assert(t.columns.toSeq == Seq("Industry", "2019", "2020", "2021"))
      t.unpivot(Array($"Industry"), Array($"2019", $"2020", $"2021"),
          "Year", valueName)
    }
    // ipynb cell 3: inner merge, dropna, real value, year coercion
    val merged = longForm("Table 2", "Nominal_Value")
      .join(longForm("Table 3", "Price_Index"), Seq("Industry", "Year"))
      .na.drop(Seq("Nominal_Value", "Price_Index"))
      .withColumn("Nominal_Value", $"Nominal_Value".cast("double"))
      .withColumn("Price_Index", $"Price_Index".cast("double"))
      .withColumn("Real_Value", $"Nominal_Value" * 100.0 / $"Price_Index")
      .withColumn("Year", $"Year".cast("int"))
      .filter($"Year" >= 2012 && $"Year" <= 2023)
    val rows = merged.select("Industry", "Year", "Real_Value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    // Price_Index = Nominal/2 everywhere → Real_Value = 200 for every
    // surviving row; the Information/2020 row drops (missing cell)
    assert(rows.size == 8)
    assert(!rows.exists(t => t._1 == "Information" && t._2 == 2020))
    assert(rows.forall(_._3 == 200.0))
  }

  test("H5b: distributed readMany parses a lake of workbooks on executors") {
    import graft.sources.Excel
    val dir = Files.createTempDirectory("graft_xlsx_many").toFile
    val bytes = makeXlsx(Seq("Table 2" -> businessTwin(values = true)))
    for (i <- 0 until 4)
      Files.write(new java.io.File(dir, s"export_$i.xlsx").toPath, bytes)
    val df = Excel.readMany(spark, dir.getAbsolutePath, "Table 2", skipRows = 5)
    assert(df.columns.length == 5)
    assert(df.count() == 12) // 3 data rows × 4 files
  }

  test("H23: xlsx export round-trips through the native reader") {
    import spark.implicits._
    import graft.sources.Excel
    val dir = Files.createTempDirectory("graft_xlsxw").toFile
    val f = new java.io.File(dir, "out.xlsx").getAbsolutePath
    // strings that stress the writer: XML specials, unicode, spaces
    // needing preservation, a null cell, plus typed columns the
    // writer must stringify
    val df = Seq(
      ("a & b <c>", Some(1L), Some(2.5)),
      ("  padded  ", Some(-7L), None),
      ("quote\"d", None, Some(0.125)),
      ("naïve ünïcode", Some(0L), Some(-3.0)))
      .toDF("label", "n", "x")
    Excel.write(df, f, sheetName = "Metrics")
    val back = Excel.read(spark, f, "Metrics")
    assert(back.columns.toSeq == Seq("label", "n", "x"))
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select(d.columns.map(c => org.apache.spark.sql.functions
        .col(c).cast("string")): _*)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(rows(back) == rows(df), "xlsx round trip mutated the frame")
  }

  test("H6: CSV sink round-trips the resilience hand-off table") {
    val dir = Files.createTempDirectory("graft_csvout").toFile.getAbsolutePath
    val metrics = graft.operators.Resilience
      .queries("q_resilience_join")(spark, GraftTestSession.sf)
    Sink.csv(metrics, s"$dir/out", single = true)
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length == 1) // single=true → one part, Streamlit-ready
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() == metrics.count())
    assert(back.columns.toSeq == metrics.columns.toSeq)
  }

  test("H3: partitioned sink enables partition pruning on read") {
    val out = Files.createTempDirectory("graft_sink").toFile.getAbsolutePath + "/ev"
    Sink.partitioned(
      Tables.events(spark, GraftTestSession.sf), out, Seq("event_type"))
    val back = spark.read.parquet(out)
    val one = back.filter(col("event_type") === "purchase")
    // pruning: the physical scan carries a partition filter (so only
    // the purchase= directory is read)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), plan.take(2000))
    assert(one.count() ==
      Tables.events(spark, GraftTestSession.sf)
        .filter(col("event_type") === "purchase").count())
  }

  test("H9: ORC sink round-trips with partition pruning and pushdown") {
    val out = Files.createTempDirectory("graft_orc").toFile.getAbsolutePath + "/docs"
    val docs = Tables.documents(spark, GraftTestSession.sf)
    Sink.orc(docs, out, Seq("lang"))
    val back = spark.read.orc(out)
    val one = back.filter(col("lang") === "en").filter(col("n_chars") > 100)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      plan.take(2000))
    // predicate pushdown reaches the ORC scan for the data column too
    assert(plan.contains("PushedFilters") && plan.contains("n_chars"),
      plan.take(2000))
    assert(one.count() ==
      docs.filter(col("lang") === "en" && col("n_chars") > 100).count())
  }

  test("H8: compaction rewrites a fragmented dataset into few files") {
    val base = Files.createTempDirectory("graft_compact").toString
    val ev = Tables.events(spark, GraftTestSession.sf)
    ev.repartition(200).write.parquet(s"$base/frag")
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts(s"$base/frag") == 200)
    Sink.compact(spark, s"$base/frag", s"$base/tidy", targetMB = 512)
    assert(parts(s"$base/tidy") <= 4,
      s"compaction left ${parts(s"$base/tidy")} files")
    assert(spark.read.parquet(s"$base/tidy").count() == ev.count())
  }

  test("H7: permissive JSONL read parses clean lines, quarantines bad ones") {
    val dir = Files.createTempDirectory("graft_jsonl").toFile
    val f = new java.io.File(dir, "docs.jsonl")
    Files.writeString(f.toPath,
      """{"doc_id": 1, "text": "the quick brown fox", "lang": "en"}
        |{"doc_id": 2, "text": "le renard brun", "lang": "fr"}
        |{"doc_id": 3, "text": "truncated line no closing brace
        |{"doc_id": "not_a_number", "text": "x", "lang": "en"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)))
    // deliberately UNCACHED: neither path may trip Spark's
    // only-corrupt-column restriction on a raw permissive read
    val df = graft.sources.Jsonl.read(spark, f.getAbsolutePath, schema)
    assert(graft.sources.Jsonl.clean(df).count() == 2)
    val bad = graft.sources.Jsonl.quarantine(df)
    assert(bad.count() == 2)
    assert(bad.collect().exists(
      _.getAs[String](graft.sources.Jsonl.CorruptCol).contains("not_a_number")))
    // the clean frame feeds the text operators unchanged
    val toks = graft.operators.TextAnalysis.tokenCounts(
      graft.sources.Jsonl.clean(df))
    assert(toks.filter(col("doc_id") === 1).collect()(0)
      .getAs[Long]("n_ws_tokens") == 4)
  }

  test("H22: training shards cover every doc once, manifest matches the written files") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, GraftTestSession.sf)
    val out = Files.createTempDirectory("graft_shards").toString
    val manifest = graft.sources.Sink
      .trainingShards(spark, docs, out, blockTokens = 512L,
        blocksPerShard = 4L)
      .cache()
    val written = spark.read.parquet(out)
      .withColumn("shard_id", col("shard_id").cast("long"))
    // lossless: every doc exactly once, same total token mass as the
    // packer's own accounting
    assert(written.count() == docs.count())
    assert(written.select("doc_id").distinct().count() == docs.count())
    val packed = graft.operators.TextAnalysis.packBlocks(docs, 512)
    assert(written.agg(sum($"n_tok")).as[Long].head() ==
      packed.agg(sum($"n_tok")).as[Long].head())
    // manifest is the truth of the files, not the in-flight frame
    val recount = written.groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    manifest.collect().foreach { r =>
      assert(recount(r.getLong(0)) == ((r.getLong(1), r.getLong(2))),
        s"manifest drift at shard ${r.getLong(0)}") }
    // block-aligned cuts: shard token mass ≤ shard capacity + one
    // doc's carry-over (the spanning-doc bound)
    val maxDoc = written.agg(max($"n_tok")).as[Long].head()
    recount.values.foreach { case (_, toks) =>
      assert(toks <= 4L * 512L + maxDoc, s"oversize shard: $toks") }
    // the seeded order is deterministic and a real permutation
    val ord1 = written.orderBy($"shard_id", $"ord").select($"doc_id")
      .as[Long].collect().toSeq
    val manifest2 = graft.sources.Sink.trainingShards(spark, docs,
      out + "_b", blockTokens = 512L, blocksPerShard = 4L)
    val ord2 = spark.read.parquet(out + "_b")
      .orderBy($"shard_id", $"ord").select($"doc_id")
      .as[Long].collect().toSeq
    assert(ord1 == ord2, "seeded shard order must replay identically")
    assert(ord1 != ord1.sorted, "ord must actually shuffle doc order")
    manifest.unpersist()
  }

  test("H21: permissive XML read splits rowTags, quarantines malformed records") {
    val dir = Files.createTempDirectory("graft_xml").toFile
    val f = new java.io.File(dir, "docs.xml")
    Files.writeString(f.toPath,
      """<docs>
        |  <doc><doc_id>1</doc_id><text>the quick brown fox</text>
        |    <lang>en</lang></doc>
        |  <doc><doc_id>2</doc_id>
        |    <text>le renard brun</text><lang>fr</lang></doc>
        |  <doc><doc_id>not_a_number</doc_id><text>x</text>
        |    <lang>en</lang></doc>
        |</docs>
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)))
    // cached: quarantine-only queries are disallowed on raw XML
    // relations (see Xml.read's caveat)
    val df = graft.sources.Xml.read(spark, f.getAbsolutePath, "doc", schema)
      .cache()
    // multi-line records parse (the StaxXmlParser path a text scan
    // cannot replicate), the bad-typed record lands in quarantine
    assert(graft.sources.Jsonl.clean(df).count() == 2)
    assert(graft.sources.Jsonl.quarantine(df).count() == 1)
    val clean = graft.sources.Jsonl.clean(df)
    assert(clean.filter(col("doc_id") === 1).collect()(0)
      .getAs[String]("text") == "the quick brown fox")
    // column-parse twin: XML fragments inside an envelope frame
    import spark.implicits._
    val env = Seq(
      (10L, "<r><doc_id>7</doc_id><text>ok</text><lang>en</lang></r>"),
      (11L, "<r><doc_id>8</doc_id><text>unclosed"),
      (12L, null.asInstanceOf[String]))
      .toDF("offset", "payload")
    val parsed = graft.sources.Xml.parse(env, "payload", schema)
    assert(graft.sources.Jsonl.clean(parsed)
      .filter(col("doc_id") === 7).count() == 1)
    // malformed fragment quarantined with the raw payload; a null
    // payload is NOT quarantined (nothing to repair)
    val q = graft.sources.Jsonl.quarantine(parsed).collect()
    assert(q.length == 1 &&
      q(0).getString(0).contains("unclosed"), s"q: ${q.toSeq}")
  }

  test("H11: JSONL sink round-trips the corpus through the permissive reader") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_jsonl_sink").toString
    val docs = Tables.documents(spark, GraftTestSession.sf)
      .select($"doc_id", $"text", $"lang")
    Sink.jsonl(docs, s"$base/out")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)))
    val back = graft.sources.Jsonl.clean(
      graft.sources.Jsonl.read(spark, s"$base/out", schema))
    assert(back.count() == docs.count())
    val orig = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val round = back.select($"doc_id", $"text", $"lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(round == orig, "JSONL round-trip must preserve every row")
  }

  test("H10: schema-evolution read merges parquet generations; late column filters push down") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_evolve").toString
    // generation 1: (id, a); generation 2 adds `score`
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.parquet(s"$base/gen1")
    Seq((3L, "z", 10L), (4L, "w", 20L)).toDF("id", "a", "score")
      .write.parquet(s"$base/gen2")
    val merged = graft.sources.Lake.parquetEvolved(
      spark, s"$base/gen1", s"$base/gen2")
    assert(merged.columns.toSet == Set("id", "a", "score"))
    // old-generation rows surface the late column as null
    val rows = merged.orderBy($"id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2)))
    assert(rows.toSeq == Seq((1L, true), (2L, true), (3L, false), (4L, false)))
    // filters on the late-added column push to the scan and still
    // return the right rows (missing column reads as all-null)
    val q = merged.filter($"score" >= 20)
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull(score), GreaterThanOrEqual(score,20)]"),
      "late-column filter must reach the scan")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(4L))
    // the default single-footer read is exactly the trap this guards:
    // without mergeSchema the surviving schema depends on file order
    val unmerged = spark.read.parquet(s"$base/gen1", s"$base/gen2")
    assert(unmerged.columns.length <= 3)
  }

  test("H13: copy-on-write merge rewrites only touched partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cow").toString + "/t"
    // target: 5 partitions × 3 rows
    val rows = for (p <- 0 until 5; i <- 0 until 3)
      yield (p.toLong * 10 + i, s"v${p}_$i", p)
    rows.toDF("id", "payload", "part")
      .write.partitionBy("part").parquet(dir)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = files()
    // delta: update id=10 (part 1), delete id=30 (part 3), insert id=99 (part 3)
    val delta = Seq(
      (10L, "v1_0_NEW", 1, "u"),
      (30L, null.asInstanceOf[String], 3, "d"),
      (99L, "v3_new", 3, "u")).toDF("id", "payload", "part", "op")
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    graft.sources.Lake.mergeIntoPartitioned(spark, dir, "part", "id", delta)
    // dynamic overwrite rides the writer option: the session-wide conf
    // (shared with every other write on the session) is never touched
    assert(spark.conf.getOption(modeKey) == modeBefore,
      "merge changed the session's partitionOverwriteMode")
    val after = files()
    // untouched partitions (0, 2, 4): byte-identical files
    def untouched(m: Map[String, Long]) =
      m.filter { case (p, _) => Seq("part=0", "part=2", "part=4").exists(p.contains) }
    assert(untouched(before) == untouched(after),
      "untouched partitions must not be rewritten")
    // touched partitions actually rewritten
    assert(before.keySet.filter(_.contains("part=1")) !=
      after.keySet.filter(_.contains("part=1")), "part=1 must be rewritten")
    // semantics: update applied, delete gone, insert present, rest intact
    val got = spark.read.parquet(dir).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 15) // 15 - 1 delete + 1 insert
    assert(got(10L) == "v1_0_NEW" && got(99L) == "v3_new" && !got.contains(30L))
    assert(got(11L) == "v1_1" && got(32L) == "v3_2")
  }

  test("H13: a merge that deletes every row of a touched partition removes them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cow_empty").toString + "/t"
    Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1)).toDF("id", "payload", "part")
      .write.partitionBy("part").parquet(dir)
    // delta: delete 1 (the only row of part 0), update 2 (part 1)
    val delta = Seq(
      (1L, null.asInstanceOf[String], 0, "d"),
      (2L, "b2", 1, "u")).toDF("id", "payload", "part", "op")
    graft.sources.Lake.mergeIntoPartitioned(spark, dir, "part", "id", delta)
    val got = spark.read.parquet(dir).orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((2L, "b2", 1), (3L, "c", 1)))
  }

  /** The parquet files of each `part=` directory under `dir`. */
  private def filesByPart(dir: String): Map[String, Seq[String]] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map { d =>
      d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq.sorted
    }.toMap

  test("H13: a merge writes each touched partition as one file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cow_files").toString + "/t"
    val rows = for (p <- 0 until 4; i <- 0 until 40)
      yield (p.toLong * 100 + i, s"v${p}_$i", p)
    rows.toDF("id", "payload", "part").repartition(4)
      .write.partitionBy("part").parquet(dir)
    val before = filesByPart(dir)
    assert(before.values.forall(_.size > 1), s"seed layout: $before")
    val delta = Seq(
      (1L, "v0_1_NEW", 0, "u"),
      (202L, null.asInstanceOf[String], 2, "d"),
      (299L, "v2_new", 2, "u")).toDF("id", "payload", "part", "op")
    graft.sources.Lake.mergeIntoPartitioned(spark, dir, "part", "id", delta)
    val after = filesByPart(dir)
    assert(after("part=0").size == 1 && after("part=2").size == 1,
      s"touched partitions: ${after("part=0")} ${after("part=2")}")
    assert(after("part=1") == before("part=1") && after("part=3") == before("part=3"))
    val got = spark.read.parquet(dir).select($"id", $"payload").as[(Long, String)]
      .collect().toMap
    assert(got.size == 160 && got(1L) == "v0_1_NEW" && got(299L) == "v2_new" &&
      !got.contains(202L) && got(203L) == "v2_3")
  }

  test("H13: a delta with duplicated keys merges like the deduplicated delta") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cow_dup").toString
    val rows = for (p <- 0 until 3; i <- 0 until 4)
      yield (p.toLong * 10 + i, s"v${p}_$i", p)
    val delta = Seq(
      (0L, "v0_0_NEW", 0, "u"),
      (11L, null.asInstanceOf[String], 1, "d"),
      (12L, null.asInstanceOf[String], 1, "d")).toDF("id", "payload", "part", "op")
    // the same delete keys again: a key set of duplicates
    val dup = delta.unionByName(delta.filter($"op" === "d"))
      .unionByName(delta.filter($"op" === "d"))
    def merged(name: String, d: org.apache.spark.sql.DataFrame) = {
      val dir = s"$base/$name"
      rows.toDF("id", "payload", "part").write.partitionBy("part").parquet(dir)
      graft.sources.Lake.mergeIntoPartitioned(spark, dir, "part", "id", d)
      spark.read.parquet(dir).as[(Long, String, Int)].collect().toSeq.sorted
    }
    val once = merged("once", delta)
    assert(once.size == 10 && once.contains((0L, "v0_0_NEW", 0)))
    assert(merged("dup", dup) == once)
  }

  test("H13: a merge into the null partition keeps that partition's other rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cow_null").toString + "/t"
    // ids 1 and 2 sit in the null partition (__HIVE_DEFAULT_PARTITION__)
    Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(1)))
      .toDF("id", "payload", "part").write.partitionBy("part").parquet(dir)
    def rows() = spark.read.parquet(dir).as[(Long, String, Option[Int])]
      .collect().toSeq.sortBy(_._1)
    def merge(d: Seq[(Long, String, Option[Int], String)]): Unit =
      graft.sources.Lake.mergeIntoPartitioned(spark, dir, "part", "id",
        d.toDF("id", "payload", "part", "op"))
    merge(Seq((1L, "a2", None, "u")))
    assert(rows() == Seq((1L, "a2", None), (2L, "b", None), (3L, "c", Some(1))))
    // a lone delete there must not empty the partition
    merge(Seq((1L, null, None, "d")))
    assert(rows() == Seq((2L, "b", None), (3L, "c", Some(1))))
  }

  test("H14: z-order layout prunes row groups on BOTH box dimensions") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_z").toString
    // 200k rows, two independent uniform dims
    val data = spark.range(200000).select(
      $"id",
      expr("cast(abs(xxhash64(id, 1)) % 100000 as double)").as("x"),
      expr("cast(abs(xxhash64(id, 2)) % 100000 as double)").as("y"))
    // unclustered baseline: same file count, insertion order
    data.repartition(16).write.parquet(s"$base/plain")
    graft.sources.Lake.zorderWrite(data, s"$base/z", Seq("x", "y"), 16)
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path)
        .filter($"x" < 10000 && $"y" < 10000) // ~1% box
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .find(_.nodeName.contains("Scan")).get
      scan.metrics("numOutputRows").value
    }
    val plain = scanRows(s"$base/plain")
    val z = scanRows(s"$base/z")
    // unclustered: every row group intersects the box → scan reads ~all
    // z-ordered: only the box corner's curve segments survive stats
    assert(plain > 150000L, s"baseline unexpectedly pruned: $plain")
    assert(z < plain / 4, s"z-order must prune most row groups: z=$z plain=$plain")
    // layout change must not change content
    assert(spark.read.parquet(s"$base/z").count() == 200000L)
  }

  test("H15: dynamic partition pruning reaches a partitioned fact through a dim join") {
    import spark.implicits._
    // at 100 TB the date/segment dimension filter must prune the FACT
    // scan at runtime (DPP) — without it, a WHERE on the dim side
    // still reads every fact partition
    val base = Files.createTempDirectory("graft_dpp").toString
    Tables.orders(spark, "/root/testdata/sf0.001")
      .write.partitionBy("o_orderpriority").parquet(s"$base/fact")
    Seq(("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
      ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold"))
      .toDF("o_orderpriority", "tier")
      .write.parquet(s"$base/dim") // a real scan: the tier filter must
    val dim = spark.read.parquet(s"$base/dim") // survive as a predicate
    // the injector's cost model vetoes DPP on a KB-sized test fact
    // (pruning benefit < subquery overhead — correct at this scale);
    // disable the stats veto so the test exercises the production-
    // scale decision
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      // static plan so the scan leaf (and its metrics) are reachable
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = spark.read.parquet(s"$base/fact")
        .join(dim.filter($"tier" === "hot"), "o_orderpriority")
        .groupBy($"o_orderpriority").count()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"),
        s"no DPP filter on the fact scan:\n${plan.take(2000)}")
      // and it actually prunes: only the 2 hot partitions' rows survive
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .find(_.nodeName.contains("Scan")).get
      val total = spark.read.parquet(s"$base/fact").count()
      val read = scan.metrics("numOutputRows").value
      assert(read < total, s"DPP read all $total rows")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("H12: bucketed tables join and aggregate with zero Exchange") {
    import spark.implicits._
    val confs = Seq(
      // force the shuffle-join regime (the one bucketing exists for);
      // AQE off so the pinned plan is the static one
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      graft.sources.Sink.bucketed(
        graft.sources.Tables.orders(spark, "/root/testdata/sf0.001"), "b_orders", 8, Seq("o_custkey"))
      graft.sources.Sink.bucketed(
        graft.sources.Tables.customer(spark, "/root/testdata/sf0.001"), "b_customer", 8, Seq("c_custkey"))
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(org.apache.spark.sql.functions.sum($"o_totalprice").as("rev"))
      val plan = joined.queryExecution.executedPlan.toString
      // the join AND the partial-agg-to-final boundary would each be a
      // shuffle on unbucketed reads; co-located buckets erase the join
      // one (the groupBy re-keys on a different column, so exactly the
      // one unavoidable Exchange survives)
      assert(plan.split("Exchange").length - 1 == 1,
        s"expected exactly 1 Exchange (the re-key agg), got:\n$plan")
      assert(plan.contains("SortMergeJoin"), "bucketed join must be SMJ")
      assert(plan.contains("SelectedBucketsCount"),
        "scan must report bucket pruning capability")
      // same-key aggregation needs NO shuffle at all
      val agg = spark.table("b_orders").groupBy($"o_custkey")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val aplan = agg.queryExecution.executedPlan.toString
      assert(!aplan.contains("Exchange"),
        s"bucketed same-key agg must not shuffle:\n$aplan")
      // and the answers are right
      assert(joined.count() > 0 && agg.count() > 0)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("H19 stats sidecar skips files; pruning never changes the answer") {
    import spark.implicits._
    import graft.sources.Lake.Manifest
    val dir = Files.createTempDirectory("graft_stats").toString
    // 800 cents values range-clustered into 8 files → each covers
    // ~100; a narrow predicate must touch few files
    val v1 = Manifest.publishAppendStats(
      (0L until 800L).map(c => (c, s"k$c")).toDF("cents", "k"), dir, "cents")
    assert(v1 == 1L)
    val (kept1, tot1) = Manifest.pruneFiles(spark, dir, 150L, 249L)
    assert(tot1 >= 8, s"expected >= 8 clustered files, got $tot1")
    assert(kept1.size < tot1 && kept1.size <= 3,
      s"narrow range must skip most files: ${kept1.size} of $tot1")
    // correctness: pruned read == full read + filter, exactly
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.select("cents").collect().map(_.getLong(0)).toSet
    val pruned = vals(Manifest.readPrunedRange(spark, dir, "cents", 150L, 249L))
    assert(pruned == (150L to 249L).toSet, s"pruned read wrong: ${pruned.size}")
    // a second append accretes stats; old + new files both skippable
    Manifest.publishAppendStats(
      (1000L until 1800L).map(c => (c, s"k$c")).toDF("cents", "k"), dir, "cents")
    val (kept2, tot2) = Manifest.pruneFiles(spark, dir, 1050L, 1149L)
    assert(kept2.size < tot2 && kept2.size <= 3,
      s"second-version range must skip v1 files entirely: ${kept2.size}/$tot2")
    assert(vals(Manifest.readPrunedRange(spark, dir, "cents", 1050L, 1149L))
      == (1050L until 1150L).toSet)
    // disjoint range refuses (no silent empty scan)
    intercept[IllegalArgumentException] {
      Manifest.readPrunedRange(spark, dir, "cents", 5000L, 6000L)
    }
  }

  test("H17 manifest publish: orphans invisible, crashes leave the old version, time travel") {
    import spark.implicits._
    import graft.sources.Lake.Manifest
    val dir = Files.createTempDirectory("graft_manifest").toString
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet

    val v1 = Manifest.publishAppend(Seq(1L, 2L, 3L).toDF("id"), dir)
    assert(v1 == 1L && ids(Manifest.readPublished(spark, dir)) == Set(1L, 2L, 3L))

    // a dead writer's orphan part-file is INVISIBLE — this is the
    // append→marker crash window the marker-gated paths acknowledge
    Seq(99L).toDF("id").write.parquet(s"$dir/data/orphan")
    assert(ids(Manifest.readPublished(spark, dir)) == Set(1L, 2L, 3L))

    val v2 = Manifest.publishAppend(Seq(4L, 5L).toDF("id"), dir)
    assert(v2 == 2L)
    assert(ids(Manifest.readPublished(spark, dir)) == Set(1L, 2L, 3L, 4L, 5L))
    // time travel
    assert(ids(Manifest.readPublishedVersion(spark, dir, 1L)) == Set(1L, 2L, 3L))

    // crash AFTER manifest write but BEFORE the pointer swap: craft a
    // v3 manifest by hand — readers must stay on v2
    val m3 = new java.io.File(s"$dir/_manifests/v00000003.manifest")
    java.nio.file.Files.write(m3.toPath, "data/orphan\n".getBytes)
    assert(Manifest.latestVersion(spark, dir) == 2L)
    assert(ids(Manifest.readPublished(spark, dir)) == Set(1L, 2L, 3L, 4L, 5L))
    m3.delete()

    // snapshot-publish logically replaces; the old version stays readable
    val v3 = Manifest.publishSnapshot(Seq(7L).toDF("id"), dir)
    assert(v3 == 3L && ids(Manifest.readPublished(spark, dir)) == Set(7L))
    assert(ids(Manifest.readPublishedVersion(spark, dir, 2L)) ==
      Set(1L, 2L, 3L, 4L, 5L))

    // H18 vacuum: keep only the newest version — old manifests AND
    // every unreferenced data file (incl. the planted orphan) go;
    // the current version stays byte-complete
    def parquetFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/data"))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }
    assert(parquetFiles().exists(_.contains("orphan")))
    Manifest.vacuum(spark, dir, keepVersions = 1)
    assert(ids(Manifest.readPublished(spark, dir)) == Set(7L))
    assert(!parquetFiles().exists(_.contains("orphan")), "orphan survived")
    assert(parquetFiles().forall(_.contains("data/v00000003")),
      s"stale files survived: ${parquetFiles()}")
    intercept[Exception] { // old manifests are gone
      Manifest.readPublishedVersion(spark, dir, 2L).collect()
    }
    // vacuumed table still accepts new publishes
    val v4 = Manifest.publishAppend(Seq(8L).toDF("id"), dir)
    assert(v4 == 4L && ids(Manifest.readPublished(spark, dir)) == Set(7L, 8L))
  }

  test("H17b a missing _latest (pointer swap in flight or crashed) reads through _latest.tmp") {
    import spark.implicits._
    import graft.sources.Lake.Manifest
    val dir = Files.createTempDirectory("graft_manifest_swap").toString
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    Manifest.publishAppend(Seq(1L, 2L).toDF("id"), dir)
    assert(Manifest.publishAppend(Seq(3L).toDF("id"), dir) == 2L)
    // the window FileContext.rename(OVERWRITE) opens: `_latest` deleted,
    // `_latest.tmp` not yet renamed over it (FileContext builds its own
    // local FS, so a crashing FileSystem cannot stop it there)
    Files.move(java.nio.file.Paths.get(s"$dir/_latest"),
      java.nio.file.Paths.get(s"$dir/_latest.tmp"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Manifest.latestVersion(spark, dir) == 2L)
    assert(ids(Manifest.readPublished(spark, dir)) == Set(1L, 2L, 3L))
    assert(Manifest.publishAppend(Seq(4L).toDF("id"), dir) == 3L)
    assert(ids(Manifest.readPublished(spark, dir)) == Set(1L, 2L, 3L, 4L))
    assert(ids(Manifest.readPublishedVersion(spark, dir, 2L)) == Set(1L, 2L, 3L))
    // a pointer whose manifest never landed, or a first commit that has
    // not swapped yet, is not a version
    val fresh = Files.createTempDirectory("graft_manifest_first").toString
    Files.writeString(java.nio.file.Paths.get(s"$fresh/_latest.tmp"), "1")
    assert(Manifest.latestVersion(spark, fresh) == 0L)
    Files.writeString(java.nio.file.Paths.get(s"$fresh/_latest.tmp"), "7")
    assert(Manifest.latestVersion(spark, fresh) == 0L)
  }

  test("Tables.open: schema == a bare read for every table and every manifest reader; repeat opens infer nothing") {
    import spark.implicits._
    import graft.sources.Lake.Manifest
    def bare(files: Seq[String]) = spark.read.parquet(files: _*).schema
    val sf = GraftTestSession.sf
    for (n <- Tables.names) {
      val p = Tables.path(sf, n)
      assert(Tables.open(spark, Seq(p)).schema == spark.read.parquet(p).schema, n)
    }
    // the memo hit: a repeat open of an unchanged table runs no job,
    // where a bare read runs its 1-task inference job
    val li = Tables.path(sf, "lineitem")
    Tables.open(spark, Seq(li))
    assert(EngineEvents.jobsRun(spark)(Tables.open(spark, Seq(li)).schema).isEmpty)
    assert(EngineEvents.jobsRun(spark)(spark.read.parquet(li).schema).nonEmpty)
    // Spark still lists the files of every open, and above
    // spark.sql.sources.parallelPartitionDiscovery.threshold (32) paths
    // that listing is a job of its own; inference is the job that goes
    def inferenceJobs(block: => Unit) = EngineEvents.jobsRun(spark)(block)
      .filterNot(_.startsWith("Listing leaf files and directories"))
    val rows = (1L to 40L).map(i => (i, s"s$i", (i % 4).toInt, i * 0.5))
    for (partitioned <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft_open_manifest").toString
      val by = if (partitioned) Seq("p") else Nil
      for (part <- Seq(rows.take(20), rows.drop(20)))
        Manifest.publishAppend(part.toDF("id", "s", "p", "x"), dir, by)
      val all = Manifest.readPublished(spark, dir)
      val v1 = Manifest.readPublishedVersion(spark, dir, 1L)
      val kept = Manifest.readPublishedPruned(spark, dir, "p", Seq("1", "2"))
      // no file under a wanted value: the typed-empty limit(0) branch
      val none = Manifest.readPublishedPruned(spark, dir, "p", Seq("9"))
      for ((df, files) <- Seq(all -> all.inputFiles, v1 -> v1.inputFiles,
          kept -> kept.inputFiles, none -> all.inputFiles))
        assert(df.schema == bare(files.toIndexedSeq), s"partitioned=$partitioned")
      assert(all.count() == 40L && v1.count() == 20L)
      assert(none.count() == (if (partitioned) 0L else 40L))
      assert(inferenceJobs(Manifest.readPublished(spark, dir).schema).isEmpty)
    }
  }

  test("Tables.open: a table rewritten in place is opened at its new version") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_open_rewrite").toString
    val p = Tables.path(d, "nation")
    spark.read.parquet(Tables.path(GraftTestSession.sf, "nation")).write.parquet(p)
    val before = Tables.open(spark, Seq(p))
    val cols = before.columns.toSeq
    val old = before.collect()
    assert(Tables.nation(spark, d).count() == old.length)
    // same path, new rows and a new column
    Seq((900, "ATLANTIS", 9, "x"))
      .toDF(cols :+ "extra": _*)
      .write.mode("overwrite").parquet(p)
    val after = Tables.open(spark, Seq(p))
    assert(after.columns.toSeq == cols :+ "extra")
    assert(after.collect().map(_.getAs[String]("extra")).toSeq == Seq("x"))
    val req = Tables.nation(spark, d).filter($"extra" === "x")
      .select(cols.head).collect().map(_.getInt(0))
    assert(req.toSeq == Seq(900))
  }

  test("Tables.open: the inference confs are part of the schema key") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    // events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false) with no Spark
    // schema in the footer, so the conf alone decides its type
    val p = Tables.path(GraftTestSession.sf, "events")
    val prior = spark.conf.getOption(key)
    try {
      for (v <- Seq("true", "false", "true")) {
        spark.conf.set(key, v)
        val want = spark.read.parquet(p).schema("ts").dataType
        assert(want == (if (v == "true") TimestampNTZType else TimestampType))
        assert(Tables.open(spark, Seq(p)).schema("ts").dataType == want, s"$key=$v")
      }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("H20 binaryFile ingest: real files to asset rows, glob pruning, content-stable ids") {
    import graft.operators.Multimodal
    // two REAL images written as files plus a sidecar the glob excludes
    def img(w: Int, h: Int): java.awt.image.BufferedImage = {
      val b = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        b.setRGB(x, y, (x * 41 + y * 17) & 0xffffff)
      b
    }
    def bytes(i: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(i, fmt, out); out.toByteArray
    }
    val dir = java.nio.file.Files.createTempDirectory("binsrc")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("nested"))
    val png = bytes(img(7, 5), "png"); val bmp = bytes(img(4, 3), "bmp")
    java.nio.file.Files.write(dir.resolve("a.png"), png)
    java.nio.file.Files.write(sub.resolve("b.bmp"), bmp) // recursion
    java.nio.file.Files.write(dir.resolve("ignore.txt"),
      "not media".getBytes)
    val assets = Multimodal.readBinaryDir(spark, dir.toString, "*.{png,bmp}")
    val rows = assets.collect().map(r => r.getString(2) ->
      ((r.getLong(0), r.getAs[Array[Byte]](1), r.getLong(3)))).toMap
    assert(rows.keySet == Set("a.png", "b.bmp"), s"glob: ${rows.keySet}")
    assert(rows("a.png")._2.toSeq == png.toSeq && rows("a.png")._3 == png.length)
    // content-stable id: a byte-identical copy under a new name gets
    // the SAME doc_id (the dedup-friendly property)
    java.nio.file.Files.write(dir.resolve("copy.png"), png)
    val again = Multimodal.readBinaryDir(spark, dir.toString, "*.png")
      .collect().map(r => r.getString(2) -> r.getLong(0)).toMap
    assert(again("a.png") == again("copy.png"), "copy must share doc_id")
    // composes with the G4 sniffer and the G2 real codec
    val sniffed = Multimodal.sniffHeaders(assets)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byId = assets.collect().map(r => r.getString(2) -> r.getLong(0)).toMap
    assert(sniffed(byId("a.png")) == "png" && sniffed(byId("b.bmp")) == "bmp",
      s"sniff: $sniffed")
    val decoded = Multimodal.decodeWith(assets, Multimodal.ImageIoCodec)
      .collect().map(d => d.doc_id -> d).toMap
    assert(decoded(byId("a.png")).width == 7 &&
      decoded(byId("b.bmp")).width == 4, "real pixel decode through ingest")
  }

  test("H25 gz jsonl: read(write(docs)) is byte-exact, files really gzip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{to_json, struct, col}
    val docs = Seq(
      (1L, "plain text", "en"),
      (2L, "esc \"quotes\" and\nnewline and\ttab", "en"),
      (3L, "unicode: héllo wörld — ≤≥ 中文", "zh"),
      (4L, "", "und"))
      .toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_gzspec").toString + "/d"
    docs.select(to_json(struct(col("doc_id"), col("text"),
        col("lang"))).as("value"))
      .coalesce(1).write.option("compression", "gzip").text(tmp)
    // the files on disk are really gzip members
    val files = new java.io.File(tmp).listFiles
      .filter(_.getName.endsWith(".gz"))
    assert(files.nonEmpty, "no .gz part files written")
    val head = new Array[Byte](2)
    val fis = new java.io.FileInputStream(files.head)
    fis.read(head); fis.close()
    assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b,
      "not a gzip magic")
    // byte-exact round trip, including escapes and unicode
    val back = graft.sources.Jsonl.clean(
        graft.sources.Jsonl.read(spark, tmp, docs.schema))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(back == docs.as[(Long, String, String)].collect()
      .sortBy(_._1).toSeq, s"roundtrip diverged: $back")
  }

  test("H29b: multiline CSV round-trip survives embedded quotes (RFC 4180 both ways)") {
    import spark.implicits._
    // the exact parser edge the graded query exists to prove: a
    // value with literal '"' must serialize as a DOUBLED quote
    // (write escape='"'), not Spark's default backslash escape —
    // a \"-escaped value read back with escape='"' corrupts.
    val docs = Seq(
      (1L, "she said \"hello\" twice", "en"),
      (2L, "quoted \"multi\nline\" with a\nnewline", "en"),
      (3L, "trailing quote\"", "de"),
      (4L, "\"leading, with comma", "fr"),
      (5L, "plain", "en"))
      .toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_csvq").toString + "/d"
    docs.write.option("header", "true").option("quoteAll", "true")
      .option("escape", "\"").csv(tmp)
    val back = spark.read.option("header", "true")
      .option("multiLine", "true").option("escape", "\"")
      .schema("doc_id LONG, text STRING, lang STRING").csv(tmp)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(back == docs.as[(Long, String, String)].collect()
      .sortBy(_._1).toSeq, s"quote round-trip diverged: $back")
  }
}
