package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.{Lake, Tables}

/** C28 atomic streaming index maintenance (VERDICT r6 #1): the code
  * table lives under [[Lake.Manifest]], so each micro-batch append is
  * ONE manifest commit that both publishes the files and records the
  * batch id as a carried commit-log meta. A crash at any point before
  * the pointer swap leaves readers on the previous version and the
  * replayed batch re-applies cleanly.
  *
  * Uniform embeddings corpus; assertions are bit-identical result
  * comparisons against the frozen-model twin (the IvfPqIndexSpec
  * bar), plus direct crash injection into the commit protocol.
  */
class ManifestIndexSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val sf = GraftTestSession.sf

  private def collectAll(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  private def queriesOf = {
    import spark.implicits._
    Tables.embeddings(spark, sf).filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
  }

  /** Frozen-model twin: score a one-shot encode of `vecs` with the
    * model persisted under `dir` — what a single batch build of the
    * same corpus would serve. */
  private def frozenTwin(dir: String,
      vecs: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val m = Similarity.loadIvfPqModel(spark, dir)
    collectAll(Similarity.ivfPqScore(
      Similarity.ivfPqEncode(vecs.select($"vec_id",
        $"embedding".cast("array<double>").as("v")), m),
      Similarity.ivfPqProbe(queriesOf, m, nProbe = 2)))
  }

  test("streamed appends are atomic manifest commits; replay is a version-level no-op") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = java.nio.file.Files.createTempDirectory("graft_mi_st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mi_ck").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs.filter($"vec_id" % 2 === 0), d)
    val odd = vecs.filter($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    // two RUNS off one checkpoint: batch 0, then a restart with new
    // data → batch 1 (AvailableNow drains everything available, so a
    // single run would fold both adds into one batch)
    val in = MemoryStream[(Long, Array[Float])]
    in.addData(odd.take(odd.length / 2).toIndexedSeq)
    val q1 = graft.streaming.VecStream.appendToIndex(
      in.toDF().toDF("vec_id", "embedding"), d, ckpt, maxFiles = 0)
    q1.awaitTermination(60000); q1.stop()
    in.addData(odd.drop(odd.length / 2).toIndexedSeq)
    val q2 = graft.streaming.VecStream.appendToIndex(
      in.toDF().toDF("vec_id", "embedding"), d, ckpt, maxFiles = 0)
    q2.awaitTermination(60000); q2.stop()
    // each batch committed exactly one manifest version with its meta
    val metas = Lake.Manifest.publishedMetas(spark, s"$d/codes")
    assert(metas.contains("batch=0") && metas.contains("batch=1"), metas)
    // serve == frozen-model twin over the union
    assert(collectAll(Similarity.queryIvfPqIndex(spark, d, queriesOf))
      == frozenTwin(d, vecs))
    // replayed batchId: no new version, no new rows
    val v = Lake.Manifest.latestVersion(spark, s"$d/codes")
    val rows = Lake.Manifest.readPublished(spark, s"$d/codes").count()
    assert(!graft.streaming.VecStream.streamAppendBatch(
      d, vecs.filter($"vec_id" % 2 === 1).limit(3), 0L))
    assert(Lake.Manifest.latestVersion(spark, s"$d/codes") == v)
    assert(Lake.Manifest.readPublished(spark, s"$d/codes").count() == rows)
  }

  test("crash between data write and pointer swap: serve stays on the previous version, retry applies cleanly") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_mi_cr").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs.filter($"vec_id" % 2 === 0), d)
    assert(graft.streaming.VecStream.streamAppendBatch(
      d, vecs.filter($"vec_id" % 4 === 1), 0L))
    val committed = collectAll(Similarity.queryIvfPqIndex(spark, d, queriesOf))
    val vBefore = Lake.Manifest.latestVersion(spark, s"$d/codes")
    // CRASH INJECTION: run the full batch-1 commit, then roll the
    // pointer file back — the on-disk state is exactly a commit that
    // died after writing data files + manifest but BEFORE the atomic
    // pointer swap (the swap is the last step, so every earlier crash
    // point is a strict subset of this state)
    assert(graft.streaming.VecStream.streamAppendBatch(
      d, vecs.filter($"vec_id" % 4 === 3), 1L))
    // roll the pointer back through the SAME (checksummed) Hadoop FS
    // the Manifest writes through, so the sidecar .crc stays coherent
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(
      new org.apache.hadoop.fs.Path(s"$d/codes/_latest"), true)
    try out.write(vBefore.toString.getBytes("UTF-8")) finally out.close()
    // readers: previous version only — the half-committed batch is
    // invisible (no duplicate-capable state exists)
    assert(Lake.Manifest.latestVersion(spark, s"$d/codes") == vBefore)
    assert(!Lake.Manifest.publishedMetas(spark, s"$d/codes")
      .contains("batch=1"))
    assert(collectAll(Similarity.queryIvfPqIndex(spark, d, queriesOf))
      == committed)
    // replay of the crashed batch APPLIES (it never committed) and
    // overwrites the orphan attempt rather than double-counting it
    assert(graft.streaming.VecStream.streamAppendBatch(
      d, vecs.filter($"vec_id" % 4 === 3), 1L),
      "crashed (uncommitted) batch must re-apply on replay")
    assert(collectAll(Similarity.queryIvfPqIndex(spark, d, queriesOf))
      == frozenTwin(d, vecs))
    val expectRows = vecs.count()
    assert(Lake.Manifest.readPublished(spark, s"$d/codes").count()
      == expectRows, "retry duplicated code rows")
    // and a SECOND delivery of the now-committed batch is a no-op
    assert(!graft.streaming.VecStream.streamAppendBatch(
      d, vecs.filter($"vec_id" % 4 === 3), 1L))
  }

  test("serve prunes the manifest file list to probed cells (driver-side, no FS listing)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_mi_pr").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs, d)
    val served = Similarity.queryIvfPqIndex(spark, d, queriesOf)
    assert(served.count() > 0)
    val all = Lake.Manifest.readPublished(spark, s"$d/codes").inputFiles
    val read = served.inputFiles.filter(_.contains("__p_cell="))
    val readCells = read.map(_.split("__p_cell=")(1).split("/")(0)).distinct
    val allCells = all.filter(_.contains("__p_cell="))
      .map(_.split("__p_cell=")(1).split("/")(0)).distinct
    // 5 queries × nProbe=2 ≤ 10 of the 16 trained cells
    assert(allCells.length >= 10, s"expected ≥10 cells, got ${allCells.length}")
    assert(readCells.length <= 10 && readCells.length < allCells.length,
      s"read ${readCells.length} of ${allCells.length} cells")
  }

  test("pruned read matches escaped partition paths and keeps null partitions") {
    // Spark percent-escapes ':' '=' '%' '#' in partition directory
    // names and writes nulls as __HIVE_DEFAULT_PARTITION__; the pruned
    // read must still find those files — pruning is an optimization,
    // never a filter
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_mi_esc").toString
    val df = Seq(
      ("a=1:b", 1L), ("a=1:b", 2L), ("plain", 3L), (null: String, 4L))
      .toDF("tag", "v")
    Lake.Manifest.publishSnapshot(df, d, partitionBy = Seq("tag"))
    // the written path segment is escaped — raw-string matching would
    // find nothing here
    val files = Lake.Manifest.readPublished(spark, d).inputFiles
    // URI encoding on top of Hive escaping: ':' → %3A → %253A
    assert(files.exists(f => f.contains("%3A") || f.contains("%253A")),
      s"expected an escaped ':' in the partition paths:\n${files.mkString("\n")}")
    val pruned = Lake.Manifest.readPublishedPruned(spark, d, "tag",
      Seq("a=1:b"))
    val got = pruned.filter($"tag" === "a=1:b").select($"v")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L), s"escaped-value partition dropped: $got")
    // null-partition files are never pruned away
    val nulls = pruned.filter($"tag".isNull).count()
    assert(nulls == 1L, "null partition (__HIVE_DEFAULT_PARTITION__) was pruned")
    // a non-ASCII value whose manifest path carries UTF-8 percent
    // pairs (Hadoop Path URI-encodes é → %C3%A9) must unescape back
    // to 'é', not to the two byte-wise mojibake chars — a char-wise
    // decode false-drops such a partition entirely. (The write
    // itself can't run here: this container's JVM file encoding is
    // ASCII-only, so the decode is pinned at the function level.)
    assert(Lake.Manifest.unescapePathName("caf%C3%A9") == "café")
    assert(Lake.Manifest.unescapePathName("%E6%97%A5%E6%9C%AC") == "日本")
    assert(Lake.Manifest.unescapePathName("caf%25C3%25A9") == "caf%C3%A9")
    assert(Lake.Manifest.unescapePathName("a%3Ab%ZZ") == "a:b%ZZ")
    // and a plain value still prunes: the 'plain' partition is dropped
    assert(pruned.inputFiles.length < files.length,
      "pruning kept every file — no pruning happened at all")
  }

  test("compaction is one snapshot commit: serve results and applied-batch metas survive, file count shrinks") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_mi_co").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs.filter($"vec_id" % 2 === 0), d)
    assert(graft.streaming.VecStream.streamAppendBatch(
      d, vecs.filter($"vec_id" % 4 === 1), 0L))
    assert(graft.streaming.VecStream.streamAppendBatch(
      d, vecs.filter($"vec_id" % 4 === 3), 1L))
    val before = collectAll(Similarity.queryIvfPqIndex(spark, d, queriesOf))
    val nBefore = Lake.Manifest.readPublished(spark, s"$d/codes")
      .inputFiles.length
    Similarity.compactIvfPqIndex(spark, d, maxFiles = 1)
    val nAfter = Lake.Manifest.readPublished(spark, s"$d/codes")
      .inputFiles.length
    assert(nAfter < nBefore, s"compact did not shrink ($nBefore -> $nAfter)")
    val metas = Lake.Manifest.publishedMetas(spark, s"$d/codes")
    assert(metas.contains("batch=0") && metas.contains("batch=1"),
      s"compaction lost applied-batch metas: $metas")
    assert(collectAll(Similarity.queryIvfPqIndex(spark, d, queriesOf))
      == before)
    // a post-compaction replay is still a no-op
    assert(!graft.streaming.VecStream.streamAppendBatch(
      d, vecs.filter($"vec_id" % 4 === 1), 0L))
  }

  test("batch gate: a batch runs unless its tag is in every table; unseen-key append") {
    import spark.implicits._
    val M = Lake.Manifest
    val d = java.nio.file.Files.createTempDirectory("graft_gate").toString
    val (a, b) = (s"$d/a", s"$d/b")
    def once(batchId: Long) = M.applyBatchOnce(spark, Seq(a, b), batchId)(identity)
    assert(once(0L) == Some("batch=0"), "never-published tables must run")
    M.publishAppend(Seq(1L).toDF("k"), a, meta = "batch=0")
    M.publishAppend(Seq(1L).toDF("k"), b, meta = "batch=7")
    assert(once(0L) == Some("batch=0"), "a tag in one table only must run")
    M.publishAppend(Seq(2L).toDF("k"), b, meta = "batch=0")
    assert(once(0L).isEmpty, "a tag in every table must skip")
    assert(M.publishedMetas(spark, b) == Seq("batch=7", "batch=0"))
    // unseen-key append: the first batch lands whole, later ones only
    // the rows of keys not yet published
    val c = s"$d/c"
    def rows = M.readPublished(spark, c).as[(Long, String)].collect().sorted.toSeq
    M.publishUnseen(Seq((1L, "x"), (2L, "y")).toDF("k", "v"), c, "k", meta = "batch=0")
    assert(rows == Seq((1L, "x"), (2L, "y")))
    M.publishUnseen(Seq((2L, "y2"), (3L, "z"), (3L, "z2")).toDF("k", "v"), c, "k",
      meta = "batch=1")
    assert(rows == Seq((1L, "x"), (2L, "y"), (3L, "z"), (3L, "z2")))
    assert(M.publishedMetas(spark, c) == Seq("batch=0", "batch=1"))
  }

  test("replace-partition: one swap drops and adds, off-target rows append, unattributable tables refuse") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_repl").toString
    val base = Seq((1L, 1), (2L, 1), (3L, 2), (4L, 2))
      .toDF("id", "p")
    Lake.Manifest.publishSnapshot(base, d, partitionBy = Seq("p"))
    val v0 = Lake.Manifest.latestVersion(spark, d)
    val p2Files = Lake.Manifest.readPublishedPruned(spark, d, "p",
      Seq("2")).inputFiles.toSet
    // replacement: p=1 shrinks to one REWRITTEN row, and one row
    // lands in a NEW partition p=3 (an ordinary append)
    val repl = Seq((10L, 1), (11L, 3)).toDF("id", "p")
    Lake.Manifest.publishReplacePartitions(repl, d, "p", Seq("1"))
    assert(Lake.Manifest.latestVersion(spark, d) == v0 + 1,
      "replace must be exactly one commit")
    val after = Lake.Manifest.readPublished(spark, d)
      .select($"id", $"p").as[(Long, Int)].collect().toSet
    assert(after == Set((10L, 1), (3L, 2), (4L, 2), (11L, 3)),
      s"after replace: $after")
    // the untouched partition's files are byte-identical
    val p2Now = Lake.Manifest.readPublishedPruned(spark, d, "p",
      Seq("2")).inputFiles.toSet
    assert(p2Files.subsetOf(p2Now), "p=2 files rewritten")
    // time travel still serves the pre-replace content
    assert(Lake.Manifest.readPublishedVersion(spark, d, v0)
      .select($"id", $"p").as[(Long, Int)].collect().toSet ==
      Set((1L, 1), (2L, 1), (3L, 2), (4L, 2)))
    // a table holding any file NOT attributable to the partition
    // column refuses the replace (a kept unattributable file could
    // still hold dropped rows — replacement is load-bearing)
    val dU = java.nio.file.Files.createTempDirectory("graft_repl_u")
      .toString
    Lake.Manifest.publishSnapshot(base, dU) // unpartitioned commit
    intercept[IllegalArgumentException] {
      Lake.Manifest.publishReplacePartitions(repl, dU, "p", Seq("1"))
    }
  }

  test("H24 schema evolution: appends may grow columns; the evolved read unions, old rows null") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_evo").toString
    Lake.Manifest.publishSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), d)
    // a later append carries an extra column the early files lack
    Lake.Manifest.publishAppend(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "score"), d)
    val evolved = Lake.Manifest.readPublishedEvolved(spark, d)
    assert(evolved.columns.toSet == Set("id", "v", "score"),
      s"union schema: ${evolved.columns.toSeq}")
    val rows = evolved.select($"id", $"v", $"score")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((1L, "a", -1L), (2L, "b", -1L),
      (3L, "c", 30L), (4L, "d", 40L)), s"rows $rows")
    // and an append MISSING an early column still unions
    Lake.Manifest.publishAppend(Seq((5L, 50L)).toDF("id", "score"), d)
    val evolved2 = Lake.Manifest.readPublishedEvolved(spark, d)
    assert(evolved2.count() == 5L &&
      evolved2.filter($"id" === 5L && $"v".isNull).count() == 1L)
  }
}
