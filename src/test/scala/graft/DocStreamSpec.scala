package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import graft.operators.Dedup
import graft.sources.Jsonl
import graft.streaming.DocStream

/** Top-level so the Dataset encoder's generated code can reach it. */
case class StreamDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

/** Streaming document-ingest dedup (the D-track ↔ C-track bridge):
  * the streamed survivors must agree with batch [[Dedup.exact]] on
  * document identity over the same input — same normalization, same
  * hash, first-arrival-wins within the watermark. */
class DocStreamSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming exact dedup across micro-batches matches Dedup.exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val b1 = Seq(
      StreamDoc(1L, "Hello  World", ts(0)),
      StreamDoc(2L, "other text entirely", ts(1)),
      StreamDoc(3L, "hello world", ts(2)),   // same-batch dup of 1 (normalized)
      StreamDoc(4L, "a third document", ts(3)))
    val b2 = Seq(
      StreamDoc(5L, "OTHER text  entirely", ts(10)), // cross-batch dup of 2
      StreamDoc(6L, "fresh in batch two", ts(11)),
      StreamDoc(7L, "hello world", ts(12)))          // cross-batch dup of 1
    val in = MemoryStream[StreamDoc]
    val q = DocStream.dedupDocs(in.toDF(), "ts", "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("doc_dedup").start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val kept = spark.table("doc_dedup")
        .select($"doc_id", $"content_hash").as[(Long, String)].collect()
      // one survivor per distinct content, cross- and within-batch
      assert(kept.map(_._2).distinct.length == kept.length)
      // batch twin on the identical input: same identity partition
      val all = (b1 ++ b2).toDF()
      val exact = Dedup.exact(all)
        .select($"content_hash", $"n_copies").as[(String, Long)].collect()
      assert(kept.map(_._2).toSet == exact.map(_._1).toSet,
        "streamed survivors and batch keepers disagree on content identity")
      assert(kept.length == exact.length)
      // cross-batch duplicates never survive; batch-2's genuine new doc does
      val ids = kept.map(_._1).toSet
      assert(!ids.contains(5L) && !ids.contains(7L))
      assert(ids.contains(6L) && ids.contains(2L) && ids.contains(4L))
      // exactly one of the same-batch pair (1, 3) survived
      assert(ids.contains(1L) ^ ids.contains(3L))
    } finally q.stop()
  }

  test("jsonl drop zone -> quarantine -> streaming dedup, file-source twin parity") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_docstream").toString
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, ts TIMESTAMP")
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.write(p,
        String.join("\n", lines: _*).getBytes("UTF-8"))
    }
    writeFile("drop1.jsonl", Seq(
      """{"doc_id": 1, "text": "spark merge window", "ts": "2024-01-01 10:00:00"}""",
      """{"doc_id": 2, "text": "join the big table", "ts": "2024-01-01 10:01:00"}""",
      """this line is not json at all""",
      """{"doc_id": 3, "text": "SPARK  merge   window", "ts": "2024-01-01 10:02:00"}"""))
    val q = DocStream.ingestJsonl(spark, dir, schema, "ts", "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("jsonl_dedup").start()
    try {
      q.processAllAvailable()
      // second drop arrives as its own micro-batch
      writeFile("drop2.jsonl", Seq(
        """{"doc_id": 4, "text": "spark merge window", "ts": "2024-01-01 10:10:00"}""",
        """{"doc_id": 5, "text": "brand new content here", "ts": "2024-01-01 10:11:00"}"""))
      q.processAllAvailable()
      val kept = spark.table("jsonl_dedup")
        .select($"doc_id", $"content_hash").as[(Long, String)].collect()
      // batch twin over the same landed files (clean rows only)
      val batch = Jsonl.clean(Jsonl.read(spark, dir, schema))
      val exact = Dedup.exact(batch)
        .select($"content_hash").as[String].collect()
      assert(kept.map(_._2).toSet == exact.toSet,
        "file-source stream and batch reader disagree on content identity")
      assert(kept.length == exact.length)
      val ids = kept.map(_._1).toSet
      // doc 3 (case/whitespace variant of 1) and doc 4 (cross-batch
      // copy) are duplicates; the corrupt line was quarantined out
      assert(ids == Set(1L, 2L, 5L), s"unexpected survivors: $ids")
    } finally q.stop()
  }

  // ---- streaming NEAR-dup (minhash) bridge ----

  /** Distinctive per-cluster vocabulary so shingle sets are disjoint
    * across clusters and DF caps never bite. */
  private def docText(cluster: Int, words: Int = 30): String =
    (0 until words).map(i => s"w${cluster}_$i").mkString(" ")

  /** Same text with the last two words edited: shingle Jaccard ≈ 0.86
    * vs the original — a near-dup, not an exact dup. */
  private def docTextEdited(cluster: Int, words: Int = 30): String =
    ((0 until words - 2).map(i => s"w${cluster}_$i") ++
      Seq(s"x${cluster}_a", s"x${cluster}_b")).mkString(" ")

  test("row-local minhash signature == MinHashAgg over the same shingles") {
    import spark.implicits._
    val sf = GraftTestSession.sf
    val docs = graft.sources.Tables.documents(spark, sf)
      .withColumn("sh", Dedup.shingleArrCol($"text"))
    val local = docs.select($"doc_id", Dedup.minhashSigCol($"sh", 32).as("sig"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    val agg = docs.select($"doc_id", explode($"sh").as("shingle"))
      .groupBy($"doc_id")
      .agg(graft.functions.MinHashAgg.minhashSig($"shingle", 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(agg.nonEmpty)
    agg.foreach { case (id, sig) =>
      assert(local(id).contains(sig), s"sig mismatch for doc $id")
    }
    // docs the aggregate never sees (no shingles) are NULL locally
    local.filter(_._2.isEmpty).keys.foreach(id => assert(!agg.contains(id)))
  }

  test("streaming near-dup pairs match the batch minhash dup decision") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val b1 = Seq(
      StreamDoc(10L, docText(1), ts(0)),
      StreamDoc(20L, docText(2), ts(1)),
      StreamDoc(30L, docText(3), ts(2)))
    val b2 = Seq(
      StreamDoc(11L, docText(1), ts(10)),        // cross-batch exact copy
      StreamDoc(12L, docTextEdited(1), ts(11)),  // cross-batch near-dup
      StreamDoc(21L, docText(2), ts(12)),        // cross-batch exact copy
      StreamDoc(31L, "too short for shingles", ts(13)))
    val in = MemoryStream[StreamDoc]
    val q = DocStream.nearDupPairs(in.toDF(), "ts", "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("near_dup").start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val pairs = spark.table("near_dup")
        .select($"doc_a", $"doc_b", $"est_jaccard")
        .as[(Long, Long, Double)].collect().toSeq
      // every hit names the earlier doc first and clears the threshold
      pairs.foreach { case (a, b, j) =>
        assert(a < b && j >= 0.5, s"bad pair ($a,$b,$j)")
      }
      val streamDups = pairs.map(_._2).toSet
      // batch twin over the identical input: a doc is a dup iff some
      // verified pair names it second (arrival order == id order here)
      val batchDups = Dedup.minhashLsh((b1 ++ b2).toDF())
        .select($"doc_b").as[Long].collect().toSet
      assert(streamDups == batchDups,
        s"stream=$streamDups batch=$batchDups")
      assert(streamDups == Set(11L, 12L, 21L))
      // exact copies estimate 1.0 from identical signatures
      assert(pairs.filter(_._2 == 11L).forall(_._3 == 1.0))
    } finally q.stop()
  }

  test("near-dup bucket state ages out past the watermark (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamDoc]
    val q = DocStream.nearDupPairs(in.toDF(), "ts", "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("near_dup_ttl").start()
    try {
      in.addData(Seq(StreamDoc(40L, docText(4), ts(0))))
      q.processAllAvailable()
      // unrelated traffic 3 hours later advances the watermark far past
      // doc 40's bucket TTL; its reps time out and are removed
      in.addData(Seq(StreamDoc(50L, docText(5),
        java.sql.Timestamp.valueOf("2024-01-01 13:00:00"))))
      q.processAllAvailable()
      // a copy of doc 40 arriving after expiry finds no representative
      in.addData(Seq(StreamDoc(41L, docText(4),
        java.sql.Timestamp.valueOf("2024-01-01 13:05:00"))))
      q.processAllAvailable()
      val dups = spark.table("near_dup_ttl")
        .select($"doc_b").as[Long].collect().toSet
      assert(!dups.contains(41L),
        "expired bucket state still matched — state is not bounded")
    } finally q.stop()
  }

  test("C57 streaming curation gate: verdicts match batch bit-for-bit, junk dies, PII dies") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      StreamDoc(1L, "the cat and the dog of the house is here to stay " +
        "in peace with all of the other animals around the block", ts(0)),
      StreamDoc(2L, "%%% ### !!!", ts(1)),
      StreamDoc(3L, "der Hund und die Katze und das Haus und der Baum " +
        "und die Sonne und der Mond und das Meer und der Wald", ts(2)),
      StreamDoc(4L, "contact me at jane.doe@example.com or the phone " +
        "555-867-5309 for all of the details about the offer", ts(3)))
    val in = MemoryStream[StreamDoc]
    in.addData(docs: _*)
    val q = DocStream.curationGate(in.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("curation_gate").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("curation_gate").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      // one code path, two execution modes: the batch projection of
      // the SAME frame must agree on every column
      val batch = DocStream.curationGate(docs.toDF()).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(streamed == batch, "stream/batch verdict drift")
      // junk fails the gate, prose passes, German routes to de
      def f(id: Long) = spark.table("curation_gate")
        .filter($"doc_id" === id).collect()(0)
      assert(f(1L).getBoolean(5) && f(1L).getString(4) == "en")
      assert(!f(2L).getBoolean(5), "junk must not pass the gate")
      assert(f(3L).getString(4) == "de")
      // PII scrubbed from the emitted text
      val scrubbed = f(4L).getString(1)
      assert(!scrubbed.contains("jane.doe@example.com") &&
        !scrubbed.contains("555-867-5309"), s"PII leaked: $scrubbed")
    } finally q.stop()
  }

  test("F46 incremental BM25 index: base+deltas == batch bm25, pruned serve, replay exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    import graft.sources.{Lake, Tables}
    val sf = GraftTestSession.sf
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    // base = doc_id % 3 == 0; two streamed deltas cover the rest
    TextAnalysis.publishBm25Index(docs.filter($"doc_id" % 3 === 0), dir)
    val in = MemoryStream[(Long, String)]
    val d1 = docs.filter($"doc_id" % 3 === 1)
      .as[(Long, String)].collect().toSeq
    val d2 = docs.filter($"doc_id" % 3 === 2)
      .as[(Long, String)].collect().toSeq
    in.addData(d1); in.addData(d2)
    val q = DocStream.maintainBm25(
      in.toDF().toDF("doc_id", "text"), dir,
      java.nio.file.Files.createTempDirectory("graft_bm25_ck").toString)
    q.awaitTermination()
    // the served ranking equals the one-shot batch operator
    val want = TextAnalysis.bm25(docs).collect().map(_.toString).toSeq
    val got = TextAnalysis.queryBm25Index(spark, dir)
      .collect().map(_.toString).toSeq
    assert(got == want, s"served:\n$got\nbatch:\n$want")
    // serve is partition-pruned: fewer posting files opened than
    // published (64 hash buckets, 3 query terms)
    val all = Lake.Manifest.readPublished(spark, s"$dir/postings")
      .inputFiles.length
    val opened = TextAnalysis.queryBm25Index(spark, dir).inputFiles
      .count(_.contains("postings"))
    assert(opened < all, s"pruning opened $opened of $all posting files")
    // meta-gated full replay; untagged duplicate is a semantic no-op
    assert(DocStream.streamBm25Batch(dir,
      d1.toDF("doc_id", "text"), 0L) == -1L)
    assert(TextAnalysis.appendBm25Docs(spark, dir,
      d2.toDF("doc_id", "text")) == 0L)
    // crash-window replay: postings+docs landed for batch 9 but meta
    // did not — the tagged replay must complete ONLY the meta fold.
    // Simulate the half-applied state with the SAME frame builder
    // the operator uses, tag included.
    val extra = Seq((900001L, "spark window spark"),
      (900002L, "lone")).toDF("doc_id", "text")
    val tag = "batch=9"
    val (tcounts, dl) = TextAnalysis.bm25Frames(extra)
    Lake.Manifest.publishAppend(
      tcounts.select($"term", $"doc_id", $"tf",
        pmod(xxhash64($"term"), lit(64L)).as("tb")),
      s"$dir/postings", partitionBy = Seq("tb"), meta = tag)
    Lake.Manifest.publishAppend(dl.withColumn("src", lit(tag)),
      s"$dir/docs", meta = tag)
    val metaBefore = Lake.Manifest.readPublished(spark, s"$dir/meta")
      .as[(Long, Long)].collect().head
    val vP = Lake.Manifest.latestVersion(spark, s"$dir/postings")
    val vD = Lake.Manifest.latestVersion(spark, s"$dir/docs")
    assert(DocStream.streamBm25Batch(dir, extra, 9L) == 2L)
    // postings/docs untouched (tag gates), meta folded exactly once
    assert(Lake.Manifest.latestVersion(spark, s"$dir/postings") == vP)
    assert(Lake.Manifest.latestVersion(spark, s"$dir/docs") == vD)
    val metaAfter = Lake.Manifest.readPublished(spark, s"$dir/meta")
      .as[(Long, Long)].collect().head
    assert(metaAfter == ((metaBefore._1 + 2L, metaBefore._2 + 4L)),
      s"meta $metaBefore -> $metaAfter")
    // and a full replay of batch 9 now gates out entirely
    assert(DocStream.streamBm25Batch(dir, extra, 9L) == -1L)
  }

  test("F46 text_bm25_serve builds one index per documents version; every call serves it") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import graft.sources.{Lake, Tables}
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def indexDirs(): Set[String] = tmp.listFiles().map(_.getName)
      .filter(_.startsWith("graft_bm25_v1_")).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val docs = Tables.documents(spark, GraftTestSession.sf)
    // two datasets under the SAME basename; b holds one extra document
    val base = java.nio.file.Files.createTempDirectory("graft_bm25_fp")
    val a = base.resolve("a/corpus").toString
    val b = base.resolve("b/corpus").toString
    docs.write.parquet(Tables.path(a, "documents"))
    val extraId = docs.agg(max($"doc_id")).as[Long].collect().head + 1L
    docs.union(docs.limit(1)
        .withColumn("doc_id", lit(extraId))
        .withColumn("text", lit("spark window scan spark")))
      .write.parquet(Tables.path(b, "documents"))
    val serve = TextAnalysis.queries("text_bm25_serve")
    val before = indexDirs()
    val runsA = (1 to 3).map(_ => rows(serve(spark, a)))
    val madeA = indexDirs() -- before
    val fpA = Lake.fingerprint(spark, Seq(Tables.path(a, "documents")))
    assert(madeA == Set(s"graft_bm25_v1_$fpA"),
      s"three serves of one dataset made index dirs $madeA")
    val wantA = rows(TextAnalysis.bm25(Tables.documents(spark, a)))
    runsA.foreach(r => assert(r == wantA, s"served:\n$r\nbatch:\n$wantA"))
    // the same basename with new content gets its own index
    val servedB = rows(serve(spark, b))
    val madeB = indexDirs() -- before -- madeA
    assert(madeB.size == 1, s"second dataset made index dirs $madeB")
    val wantB = rows(TextAnalysis.bm25(Tables.documents(spark, b)))
    assert(servedB == wantB, s"served:\n$servedB\nbatch:\n$wantB")
    assert(servedB.exists(_.startsWith(s"[$extraId,")),
      s"the extra document is missing from the new index's ranking: $servedB")
    (madeA ++ madeB).foreach(n =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp, n)))
  }

  test("D23 chunk store: base+deltas == one-shot chunk set, refresh prices known bytes, replay exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    import graft.sources.{Lake, Tables}
    val docs = Tables.documents(spark, GraftTestSession.sf)
      .select($"doc_id", $"text").localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft_cs").toString
    Dedup.publishChunkStore(docs.filter($"doc_id" % 3 === 0), dir)
    val in = MemoryStream[(Long, String)]
    in.addData(docs.filter($"doc_id" % 3 === 1)
      .as[(Long, String)].collect().toSeq)
    in.addData(docs.filter($"doc_id" % 3 === 2)
      .as[(Long, String)].collect().toSeq)
    val q = DocStream.maintainChunkStore(
      in.toDF().toDF("doc_id", "text"), dir,
      java.nio.file.Files.createTempDirectory("graft_cs_ck").toString)
    q.awaitTermination()
    // streamed store == the one-shot chunk set of the union
    val got = Lake.Manifest.readPublished(spark, dir)
      .select($"h").as[Long].collect().toSet
    val want = Dedup.cdcChunks(docs)
      .select(xxhash64($"chunk").as("h")).as[Long].collect().toSet
    assert(got == want,
      s"store diverged: ${got.size} vs ${want.size} hashes")
    // an already-ingested batch prices at 100% known
    val (n, known, bytes) = Dedup.chunkBatchReport(spark, dir,
      docs.filter($"doc_id" % 3 === 1))
    assert(n > 0 && known == n && bytes > 0,
      s"re-offered batch must be fully known: $n/$known")
    // meta-gated replay skips; an untagged duplicate appends nothing
    assert(DocStream.streamChunkBatch(dir,
      docs.filter($"doc_id" % 3 === 1), 0L) == -1L)
    val before = Lake.Manifest.readPublished(spark, dir).count()
    Dedup.appendChunkDocs(spark, dir, docs.filter($"doc_id" % 3 === 2))
    assert(Lake.Manifest.readPublished(spark, dir).count() == before)
  }

  test("G26 asset catalog: base+deltas == one-shot sniff, format-pruned read, replay exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.sources.Lake
    // a mixed binary feed: mp3 / flac / exif-jpeg / mp4 by id
    def payload(id: Long): Array[Byte] = (id % 4) match {
      case 0 => Multimodal.mp3Bytes(id)
      case 1 => Multimodal.flacBytes(id)
      case 2 => Multimodal.exifBytes(id)
      case _ => Multimodal.mp4Bytes(id)
    }
    val all = (0L until 60L).map(i => (i, payload(i)))
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    Multimodal.publishAssetCatalog(
      all.filter(_._1 % 3 == 0).toDF("doc_id", "payload"), dir)
    val in = MemoryStream[(Long, Array[Byte])]
    in.addData(all.filter(_._1 % 3 == 1))
    in.addData(all.filter(_._1 % 3 == 2))
    val q = DocStream.maintainAssetCatalog(
      in.toDF().toDF("doc_id", "payload"), dir,
      java.nio.file.Files.createTempDirectory("graft_cat_ck").toString)
    q.awaitTermination()
    // streamed catalog == the one-shot sniff of the union
    val got = Multimodal.readAssetCatalog(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val want = Multimodal.catalogRows(all.toDF("doc_id", "payload"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, s"catalog diverged:\n${got.take(3)}\nvs\n${want.take(3)}")
    assert(got.size == 60)
    // format-routed read: only the mp3 partition's files open
    val mp3s = Multimodal.readAssetCatalogFormat(spark, dir, "mp3")
    assert(mp3s.count() == all.count(_._1 % 4 == 0))
    val allFiles = Multimodal.readAssetCatalog(spark, dir)
      .inputFiles.length
    assert(mp3s.inputFiles.length < allFiles,
      s"format read opened ${mp3s.inputFiles.length} of $allFiles")
    // meta-gated replay skips; an untagged duplicate is a semantic
    // no-op (anti-join adds zero rows)
    assert(DocStream.streamAssetBatch(dir,
      all.filter(_._1 % 3 == 1).toDF("doc_id", "payload"), 0L) == -1L)
    Multimodal.appendAssetCatalog(spark, dir,
      all.filter(_._1 % 3 == 2).toDF("doc_id", "payload"))
    assert(Multimodal.readAssetCatalog(spark, dir).count() == 60L)
  }

  test("G35 shard catalog: streamed member index, pruned sample fetch, replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    // mixed feed: tar shards, zip shards, one garbage blob (walks to
    // zero rows by the quarantine contract)
    def payload(id: Long): Array[Byte] = (id % 3) match {
      case 0 => Multimodal.tarBytes(id)
      case 1 => Multimodal.zipBytes(id)
      case _ => s"not a shard $id".getBytes("US-ASCII")
    }
    val all = (0L until 30L).map(i => (i, payload(i)))
    val dir = java.nio.file.Files.createTempDirectory("graft_shard").toString
    Multimodal.publishShardCatalog(
      all.filter(_._1 < 10).toDF("doc_id", "payload"), dir)
    val in = MemoryStream[(Long, Array[Byte])]
    in.addData(all.filter(t => t._1 >= 10 && t._1 < 20))
    in.addData(all.filter(_._1 >= 20))
    val q = DocStream.maintainShardCatalog(
      in.toDF().toDF("doc_id", "payload"), dir,
      java.nio.file.Files.createTempDirectory("graft_shard_ck").toString)
    q.awaitTermination()
    // streamed index == the one-shot walk of the union
    val got = graft.sources.Lake.Manifest.readPublished(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val want = Multimodal.shardMemberRows(all.toDF("doc_id", "payload"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, s"index diverged:\n${got.take(3)}\nvs\n${want.take(3)}")
    // a sample fetch prunes to its bucket and returns real ranges:
    // tar shard 3 sample 0's .txt member must be addressable
    val key = "d3_s0"
    val ranges = Multimodal.readSampleRanges(spark, dir, key)
      .select($"fmt", $"name", $"offset", $"size").collect()
    assert(ranges.map(_.getString(1)).sorted.toSeq ==
      Seq(s"$key.cls", s"$key.txt"), ranges.toSeq)
    val txt = ranges.find(_.getString(1).endsWith(".txt")).get
    val shard3 = Multimodal.tarBytes(3L)
    val dataAt = new String(shard3, txt.getLong(2).toInt,
      txt.getLong(3).toInt, "US-ASCII")
    assert(dataAt.forall(c => c >= 'a' && c <= 'z'),
      "offset does not address the member data")
    val allFiles = graft.sources.Lake.Manifest.readPublished(spark, dir)
      .inputFiles.length
    val prunedFiles = Multimodal.readSampleRanges(spark, dir, key)
      .inputFiles.length
    assert(prunedFiles < allFiles,
      s"sample fetch opened $prunedFiles of $allFiles")
    // meta-gated replay skips; an untagged duplicate is a semantic
    // no-op
    assert(DocStream.streamShardBatch(dir,
      all.filter(_._1 >= 20).toDF("doc_id", "payload"), 0L) == -1L)
    val before = graft.sources.Lake.Manifest.readPublished(spark, dir).count()
    Multimodal.appendShardCatalog(spark, dir,
      all.filter(_._1 < 10).toDF("doc_id", "payload"))
    assert(graft.sources.Lake.Manifest.readPublished(spark, dir)
      .count() == before)
  }
}
