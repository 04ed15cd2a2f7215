package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** E8 persisted IVF-PQ index (VERDICT r3 #1: split build from serve).
  * The build half is a batch job writing centroids + codebooks + a
  * manifest-published, cell-partitioned code table; the serve half
  * must (a) return results bit-identical to the in-memory `annIvfPq`
  * path, and (b) read only the probed cells' code files with no
  * training stage and no vector scan. */
class IvfPqIndexSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val sf = GraftTestSession.sf
  private val M = graft.sources.Lake.Manifest

  /** The `__p_cell=` value of each code file in `files`. */
  private def cellsOf(files: Seq[String]): Set[String] =
    files.map(_.split("__p_cell=")(1).split("/")(0)).toSet

  /** Current code files of the index under `d`, with their mtimes. */
  private def codeFiles(d: String): Map[String, Long] =
    M.readPublished(spark, s"$d/codes").inputFiles.map(f =>
      f -> new java.io.File(new java.net.URI(f)).lastModified()).toMap

  private lazy val idxDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    Similarity.buildIvfPqIndex(Tables.embeddings(spark, sf), d)
    d
  }

  private def collectAll(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("query-after-reload parity: served results == in-memory annIvfPq") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
    val q = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    val served = collectAll(Similarity.queryIvfPqIndex(spark, idxDir, q))
    val inMem = collectAll(Similarity.annIvfPq(vecs))
    assert(served == inMem)
  }

  test("serve plan prunes to probed cell partitions; no training, no vector scan") {
    import spark.implicits._
    // literal query vectors: the only parquet in this plan can be the
    // code table — any embeddings/vector scan would be a regression
    val q = Seq((0L, Array.fill(64)(0.5)), (1L, Array.fill(64)(-0.25)))
      .toDF("q_id", "qv")
    val df = Similarity.queryIvfPqIndex(spark, idxDir, q)
    val plan = df.queryExecution.executedPlan.toString
    // every file the scan reads sits under a probed `__p_cell=` dir
    val probed = Similarity.ivfPqProbe(q,
        Similarity.loadIvfPqModel(spark, idxDir), nProbe = 2)
      .select($"cell").as[Int].collect().map(_.toString).toSet
    val read = df.inputFiles.toSeq
    assert(read.nonEmpty && read.forall(_.contains("__p_cell=")),
      s"serve read files outside the cell partitions: $read")
    assert(cellsOf(read).subsetOf(probed),
      s"read cells ${cellsOf(read)} beyond the probed $probed")
    assert(!plan.contains("embeddings.parquet"), "serve path scans vectors")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      "serve path should read exactly one table: the cell-partitioned codes")
    assert(df.count() > 0)
  }

  // E9 incremental append: build on the even half, append the odd half
  // in two delta batches — the deployment's daily-ingest shape.
  private lazy val apDir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpq_ap").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs.filter($"vec_id" % 2 === 0), d)
    Similarity.appendIvfPqIndex(d, vecs.filter($"vec_id" % 4 === 1))
    Similarity.appendIvfPqIndex(d, vecs.filter($"vec_id" % 4 === 3))
    d
  }

  test("append encodes deltas with the frozen model: codes == frozen-model encode of the union") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
    val m = Similarity.loadIvfPqModel(spark, apDir)
    val expected = Similarity.ivfPqEncode(
      vecs.select($"vec_id", $"embedding".cast("array<double>").as("v")), m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val onDisk = M.readPublished(spark, s"$apDir/codes")
      .select($"vec_id", $"cell", $"codes")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(onDisk == expected)
  }

  test("append never rewrites existing code files (delta-only cost)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpq_ro").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs.filter($"vec_id" % 2 === 0), d)
    val before = codeFiles(d)
    Similarity.appendIvfPqIndex(d, vecs.filter($"vec_id" % 2 === 1))
    val after = codeFiles(d)
    assert(before.keySet.subsetOf(after.keySet), "append removed base files")
    before.foreach { case (p, ts) =>
      assert(after(p) == ts, s"append rewrote base file $p") }
    assert(after.size > before.size, "append added no files")
  }

  test("serve-after-append == serve of a single frozen-model index; compact preserves it") {
    import spark.implicits._
    val q = Tables.embeddings(spark, sf).filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    val served = collectAll(Similarity.queryIvfPqIndex(spark, apDir, q))
    // expected: score the frozen-model union encode directly
    val m = Similarity.loadIvfPqModel(spark, apDir)
    val coded = Similarity.ivfPqEncode(
      Tables.embeddings(spark, sf)
        .select($"vec_id", $"embedding".cast("array<double>").as("v")), m)
    val qprobe = Similarity.ivfPqProbe(q, m, nProbe = 2)
    val expected = collectAll(Similarity.ivfPqScore(coded, qprobe))
    assert(served == expected)
    // compaction: fewer files, byte-identical serve results
    def nFiles(): Int = codeFiles(apDir).size
    val before = nFiles()
    Similarity.compactIvfPqIndex(spark, apDir, maxFiles = 1)
    val after = nFiles()
    assert(after < before, s"compact did not shrink file count ($before -> $after)")
    assert(collectAll(Similarity.queryIvfPqIndex(spark, apDir, q)) == expected)
  }

  test("C28: streamed appends serve identically to batch appends; replays are skipped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpq_st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfpq_ck").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs.filter($"vec_id" % 2 === 0), d)
    // stream the odd half in as two micro-batches
    val odd = vecs.filter($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    val in = MemoryStream[(Long, Array[Float])]
    in.addData(odd.take(odd.length / 2).toIndexedSeq)
    in.addData(odd.drop(odd.length / 2).toIndexedSeq)
    val q = graft.streaming.VecStream.appendToIndex(
      in.toDF().toDF("vec_id", "embedding"), d, ckpt, maxFiles = 0)
    q.awaitTermination(60000); q.stop()
    // served results == one frozen-model index over the union
    val queries = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    val m = Similarity.loadIvfPqModel(spark, d)
    val expected = collectAll(Similarity.ivfPqScore(
      Similarity.ivfPqEncode(vecs.select($"vec_id",
        $"embedding".cast("array<double>").as("v")), m),
      Similarity.ivfPqProbe(queries, m, nProbe = 2)))
    assert(collectAll(Similarity.queryIvfPqIndex(spark, d, queries)) == expected)
    // a replayed batchId must be a no-op (the crash-recovery path)
    val rows = M.readPublished(spark, s"$d/codes").count()
    val replay = vecs.filter($"vec_id" % 2 === 1).limit(3)
    assert(!graft.streaming.VecStream.streamAppendBatch(d, replay, 0L),
      "replayed batch 0 must be skipped")
    assert(M.readPublished(spark, s"$d/codes").count() == rows,
      "replay appended duplicate code rows")
  }

  test("E11 served rerank == in-memory rerank; vector lookups push an IN filter") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val vecs = Tables.embeddings(spark, sf)
    val q = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    val served = Similarity.queryIvfPqIndexRerank(spark, idxDir, q, vecs)
    val got = collectAll(served)
    assert(got == collectAll(Similarity.annIvfPqRerank(vecs)))
    // the exact stage must be id lookups, not a corpus pass: the
    // vector scan carries the shortlist IN filter
    val plan = served.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(plan).isDefined,
      s"shortlist IN filter missing from vector scan:\n$plan")
    // single pass: the ADC shortlist ran once, at the call; the
    // returned plan reads it from a local relation and never recomputes
    // the top-k over the code table
    val opt = served.queryExecution.optimizedPlan
    assert(opt.collect { case l: LocalRelation => l }.nonEmpty,
      s"shortlist is not a local relation:\n$opt")
    assert(opt.flatMap(_.expressions.flatMap(_.collect {
      case t: graft.functions.TopKAgg => t })).isEmpty,
      s"returned plan recomputes the ADC top-k:\n$opt")
    assert(!plan.contains(s"$idxDir/codes"),
      s"returned plan rescans the code table:\n$plan")
  }

  test("served rerank runs no global sort: the collected shortlist skips the range exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val vecs = Tables.embeddings(spark, sf)
    val q = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    Similarity.loadIvfPqModel(spark, idxDir)
    var served: org.apache.spark.sql.DataFrame = null
    val plans = EngineEvents.plansRun(spark) {
      served = Similarity.queryIvfPqIndexRerank(spark, idxDir, q, vecs)
    }
    // the call itself runs the probe and the shortlist
    assert(plans.size >= 2, s"expected the probe and shortlist runs, got ${plans.size}")
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    for (qe <- plans) {
      val ranges = helper.collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.isEmpty, s"a served rerank step sorts globally:\n${qe.executedPlan}")
    }
    assert(collectAll(served) == collectAll(Similarity.annIvfPqRerank(vecs)))
  }

  test("compact below the file bound is a no-op") {
    val before = codeFiles(idxDir)
    val v = M.latestVersion(spark, s"$idxDir/codes")
    Similarity.compactIvfPqIndex(spark, idxDir, maxFiles = 10000)
    assert(codeFiles(idxDir) == before)
    assert(M.latestVersion(spark, s"$idxDir/codes") == v)
  }

  // E33 cell split: a 3-cluster corpus trained at k=2 leaves one cell
  // holding two true clusters — the post-append skew shape.
  private def splitCorpus(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    val rows = (0 until 10).map(i =>
      (i.toLong, Array(10.0 + 0.01 * i, 0, 0, 0, 0, 0, 0, 0))) ++
      (10 until 20).map(i =>
        (i.toLong, Array(-10.0 - 0.01 * i, 0, 0, 0, 0, 0, 0, 0))) ++
      (20 until 30).map(i =>
        (i.toLong, Array(0.0, 10.0 + 0.01 * i, 0, 0, 0, 0, 0, 0)))
    rows.toDF("vec_id", "embedding")
  }

  test("E33 split: one atomic commit re-homes only the hot cell, model rides the manifest, untouched cells byte-identical") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_split").toString
    val vecs = splitCorpus(spark)
    Similarity.buildIvfPqIndex(vecs, d, k = 2, iters = 2,
      pqM = 2, pqK = 4)
    val sizes = Similarity.ivfCellSizes(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fat = sizes.maxBy(t => (t._2, t._1))._1
    val cold = sizes.keySet - fat
    val m0 = Similarity.loadIvfPqModel(spark, d)
    val vBefore = M.latestVersion(spark, s"$d/codes")
    val coldFilesBefore = cold.map(c => c -> M.readPublishedPruned(
      spark, s"$d/codes", "cell", Seq(c.toString))
      .inputFiles.toSet).toMap
    val memberIds = M.readPublishedPruned(spark, s"$d/codes", "cell",
        Seq(fat.toString)).filter($"cell" === fat)
      .select($"vec_id").as[Long].collect().toSet
    assert(memberIds.size == 20, s"fat cell should hold 2 clusters: $sizes")

    val newId = Similarity.splitIvfCell(spark, d, vecs, fat)
    assert(newId == m0.maxCell + 1, s"child id $newId")
    // exactly ONE commit covers codes + model
    assert(M.latestVersion(spark, s"$d/codes") == vBefore + 1)
    // model: parent redefined, child added, reload idempotent
    val m1 = Similarity.loadIvfPqModel(spark, d)
    val m2 = Similarity.loadIvfPqModel(spark, d)
    assert(m1.maxCell == newId)
    assert(!java.util.Arrays.equals(m1.centByCell(fat), m0.centByCell(fat)),
      "parent centroid must be redefined")
    assert(m1.centroids.map(_._1).toSeq == m2.centroids.map(_._1).toSeq &&
      m1.centroids.zip(m2.centroids).forall { case ((_, x), (_, y)) =>
        java.util.Arrays.equals(x, y) }, "reload must be idempotent")
    // row conservation: every vec_id exactly once
    val after = M.readPublished(spark, s"$d/codes")
    assert(after.count() == 30L)
    assert(after.groupBy($"vec_id").count().filter($"count" > 1).count() == 0)
    // member rows == frozen re-encode against the split model
    val got = after.filter($"vec_id".isin(memberIds.toSeq: _*))
      .select($"vec_id", $"cell", $"codes")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Int](2).toSeq)).toSet
    val want = Similarity.ivfPqEncode(
        vecs.filter($"vec_id".isin(memberIds.toSeq: _*))
          .select($"vec_id", $"embedding".cast("array<double>").as("v")),
        m1)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Int](2).toSeq)).toSet
    assert(got == want, "split rows must equal the frozen-model re-encode")
    // both children non-empty (the two merged clusters separate)
    val childSizes = Similarity.ivfCellSizes(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(childSizes.getOrElse(fat, 0L) > 0L &&
      childSizes.getOrElse(newId, 0L) > 0L, s"children: $childSizes")
    // cold cells byte-untouched
    for (c <- cold) {
      val now = M.readPublishedPruned(spark, s"$d/codes", "cell",
        Seq(c.toString)).inputFiles.toSet
      assert(coldFilesBefore(c).subsetOf(now),
        s"cold cell $c files rewritten")
    }
    // serve end-to-end: a query at each cluster center finds an
    // in-cluster top-1 with all cells probed
    val q = Seq((0L, Array(10.05, 0, 0, 0, 0, 0, 0, 0)),
      (1L, Array(0.0, 10.05, 0, 0, 0, 0, 0, 0)))
      .toDF("q_id", "qv")
    val served = Similarity.queryIvfPqIndex(spark, d, q,
      nProbe = m1.centroids.length)
    val top1 = served.filter($"rank" === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1(0L) < 10L, s"query 0 top-1 off-cluster: $top1")
    assert(top1(1L) >= 20L, s"query 1 top-1 off-cluster: $top1")
  }

  test("model cache: an unchanged index reuses its model; a split, an append or a tombstone commit reloads it") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_mcache").toString
    val vecs = splitCorpus(spark)
    Similarity.buildIvfPqIndex(vecs, d, k = 2, iters = 2,
      pqM = 2, pqK = 4)
    def vec(x: Double, y: Double) = Array(x, y, 0.0, 0, 0, 0, 0, 0)
    val q = Seq((0L, vec(10.05, 0)), (1L, vec(0, 10.05)),
      (2L, vec(-10.05, 0))).toDF("q_id", "qv")
    // nProbe = 1: a stale model probes the wrong cell and scores
    // residuals against the wrong centroid
    def served() = collectAll(Similarity.queryIvfPqIndex(spark, d, q,
      nProbe = 1))
    // the serve core replayed over a FRESH (uncached) model read
    def expected() = {
      val m = Similarity.readIvfPqModel(spark, d)
      val codes = M.readPublished(spark, s"$d/codes")
        .select($"vec_id", $"cell", $"codes")
      val live = if (!M.isManaged(spark, s"$d/tombs")) codes
        else codes.join(M.readPublished(spark, s"$d/tombs"),
          Seq("vec_id"), "left_anti")
      collectAll(Similarity.ivfPqScore(live,
        Similarity.ivfPqProbe(q, m, nProbe = 1)))
    }
    assert(served() == expected())
    val m0 = Similarity.loadIvfPqModel(spark, d)
    assert(Similarity.loadIvfPqModel(spark, d) eq m0,
      "an unchanged index must serve from the cached model")
    // E33 split: the model itself changes
    val fat = Similarity.ivfCellSizes(spark, d).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).maxBy(t => (t._2, t._1))._1
    assert(Similarity.splitIvfCell(spark, d, vecs, fat) >= 0)
    val m1 = Similarity.loadIvfPqModel(spark, d)
    assert(!(m1 eq m0) && m1.centroids.length == m0.centroids.length + 1)
    assert(served() == expected(), "serve after a split")
    // E9 append commit
    Similarity.appendIvfPqIndex(d,
      Seq((100L, vec(10.3, 0.2)), (101L, vec(0.2, 10.3)))
        .toDF("vec_id", "embedding"))
    assert(!(Similarity.loadIvfPqModel(spark, d) eq m1))
    assert(served() == expected(), "serve after an append")
    // E38 tombstone commit
    val m2 = Similarity.loadIvfPqModel(spark, d)
    val victims = served().map(_._3).distinct.take(2)
    Similarity.deleteFromIvfPqIndex(spark, d, victims.toDF("vec_id"))
    assert(!(Similarity.loadIvfPqModel(spark, d) eq m2))
    val masked = served()
    assert(masked == expected(), "serve after a tombstone commit")
    assert(masked.forall(r => !victims.contains(r._3)))
  }

  test("E33 degenerate cells refuse; a rebalance pass splits every oversized cell atomically") {
    import spark.implicits._
    // all-identical corpus: the single cell cannot split
    val dDeg = java.nio.file.Files.createTempDirectory("graft_split_deg")
      .toString
    // ids 0/29/58/87 pass the codebook sample gate (7·i mod 101 < 4),
    // so the books hold >1 code and the encode argmin stays n-ary;
    // k=2 over identical vectors still collapses to one cell
    val same = Seq(0L, 29L, 58L, 87L, 1L, 2L, 3L, 4L).map(i =>
      (i, Array(1.0, 2, 3, 4, 5, 6, 7, 8)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfPqIndex(same, dDeg, k = 2, iters = 1,
      pqM = 2, pqK = 4)
    val v0 = M.latestVersion(spark, s"$dDeg/codes")
    val cell0 = Similarity.ivfCellSizes(spark, dDeg)
      .collect().head.getInt(0)
    assert(Similarity.splitIvfCell(spark, dDeg, same, cell0) == -1)
    assert(M.latestVersion(spark, s"$dDeg/codes") == v0,
      "degenerate split must commit nothing")
    // rebalance: cap 12 forces exactly the fat cell to split
    val d = java.nio.file.Files.createTempDirectory("graft_rebal").toString
    val vecs = splitCorpus(spark)
    Similarity.buildIvfPqIndex(vecs, d, k = 2, iters = 2,
      pqM = 2, pqK = 4)
    val n = Similarity.rebalanceIvfIndex(spark, d, vecs, cap = 12L)
    assert(n == 1, s"expected exactly one oversized cell, split $n")
    val after = Similarity.ivfCellSizes(spark, d)
      .collect().map(r => r.getLong(1))
    assert(after.forall(_ <= 12L), s"sizes after rebalance: ${after.toSeq}")
    assert(after.sum == 30L)
  }

  test("E33 streamed appends skew a cell past cap; the balanced maintainer splits it in the loop") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def vec(x: Double, y: Double) =
      Array(x, y, 0.0, 0, 0, 0, 0, 0)
    // base: two balanced 20-vector blobs; the stream then dumps 30
    // more into blob A's region (with spread, so a 2-means split
    // separates them) — the post-append skew shape
    val base = ((0L until 20L).map(i => (i, vec(10.0 + 0.01 * i, 0))) ++
      (20L until 40L).map(i => (i, vec(-10.0 - 0.01 * i, 0))))
      .toDF("vec_id", "embedding")
    val delta = (100L until 130L)
      .map(i => (i, vec(8.0 + 0.1 * (i - 100), 1.0)))
      .toDF("vec_id", "embedding")
    val d = java.nio.file.Files.createTempDirectory("graft_bal").toString
    Similarity.buildIvfPqIndex(base, d, k = 2, iters = 2,
      pqM = 2, pqK = 4)
    val lake = java.nio.file.Files.createTempDirectory("graft_bal_lake")
      .toString
    base.union(delta).write.mode("overwrite").parquet(lake)
    val in = MemoryStream[(Long, Array[Double])]
    in.addData(delta.as[(Long, Array[Double])].collect().toSeq)
    val q = graft.streaming.VecStream.appendToIndexBalanced(
      in.toDF().toDF("vec_id", "embedding"), d,
      java.nio.file.Files.createTempDirectory("graft_bal_ck").toString,
      () => spark.read.parquet(lake), cap = 30L)
    q.awaitTermination()
    // no cell exceeds the cap and every vector survives exactly once
    val sizes = Similarity.ivfCellSizes(spark, d)
      .collect().map(r => r.getLong(1))
    assert(sizes.forall(_ <= 30L), s"post-stream sizes: ${sizes.toSeq}")
    assert(sizes.sum == 70L)
    val codes = M.readPublished(spark, s"$d/codes")
    assert(codes.groupBy($"vec_id").count()
      .filter($"count" > 1).count() == 0)
    // the split rode the stream loop: a split= meta exists and the
    // model reload sees the child centroid
    val m = Similarity.loadIvfPqModel(spark, d)
    assert(M.publishedMetas(spark, s"$d/codes")
      .exists(_.startsWith("split=")), "no split committed in-loop")
    assert(m.centroids.length >= 3, s"cells: ${m.centroids.length}")
    // serve still answers from the balanced index
    val qdf = Seq((900000L, vec(10.0, 0.0))).toDF("q_id", "qv")
    assert(Similarity.queryIvfPqIndex(spark, d, qdf,
      nProbe = m.centroids.length).count() > 0)
  }

  test("served path scans fewer code files than the index holds (pruning is real)") {
    import spark.implicits._
    val allCells = cellsOf(codeFiles(idxDir).keys.toSeq).size
    val q = Tables.embeddings(spark, sf).filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    val served = Similarity.queryIvfPqIndex(spark, idxDir, q)
    // 5 queries × nProbe=2 probe ≤ 10 distinct cells of the 16 built
    val n = cellsOf(served.inputFiles.toSeq).size
    assert(allCells >= 10, s"expected ≥10 cells, found $allCells")
    assert(n > 0 && n <= 10 && n < allCells, s"read $n of $allCells cells")
  }

  test("E38 tombstoned delete: immediate serve mask, compaction preserves results") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpq_del").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs, d)
    val q = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    val before = collectAll(Similarity.queryIvfPqIndex(spark, d, q))
    // delete every id the pre-delete top lists actually served, plus
    // one id that never existed (idempotent no-op territory)
    val victims = before.map(_._3).distinct.take(4)
    Similarity.deleteFromIvfPqIndex(spark, d,
      (victims :+ 999999999L).toDF("vec_id"))
    val masked = collectAll(Similarity.queryIvfPqIndex(spark, d, q))
    assert(masked.nonEmpty)
    assert(masked.forall(r => !victims.contains(r._3)),
      "tombstoned id still served")
    // the mask equals a from-scratch serve over the reduced code set:
    // same frozen model, codes re-published without the victims
    val d2 = java.nio.file.Files.createTempDirectory("graft_ivfpq_del2").toString
    Similarity.buildIvfPqIndex(vecs, d2)
    Similarity.deleteFromIvfPqIndex(spark, d2,
      victims.toDF("vec_id"))
    assert(collectAll(Similarity.queryIvfPqIndex(spark, d2, q)) == masked,
      "extra no-op tombstone changed results")
    // compaction: physical rewrite of only the hit cells, identical
    // serve, empty mask afterwards
    val rewritten = Similarity.compactIvfPqIndex(spark, d)
    assert(rewritten > 0, "no cells rewritten despite live tombstones")
    val after = collectAll(Similarity.queryIvfPqIndex(spark, d, q))
    assert(after == masked, "compaction changed served results")
    assert(graft.sources.Lake.Manifest
      .readPublished(spark, s"$d/tombs").count() == 0L,
      "compaction left tombstones behind")
    // and the physically-deleted ids are gone from the code table
    val left = graft.sources.Lake.Manifest
      .readPublished(spark, s"$d/codes")
      .filter($"vec_id".isin(victims: _*)).count()
    assert(left == 0L, s"$left tombstoned rows survived compaction")
  }

  test("a rebuild replaces the whole index: no stale split, batch or tombstone survives") {
    import spark.implicits._
    val vecs = splitCorpus(spark)
    def build(d: String) =
      Similarity.buildIvfPqIndex(vecs, d, k = 2, iters = 2, pqM = 2, pqK = 4)
    val d = java.nio.file.Files.createTempDirectory("graft_rebuild").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_rebuild_f")
      .toString
    build(d)
    // leave every kind of commit-log state behind: an E33 split, an
    // applied stream batch and a tombstone
    val fat = Similarity.ivfCellSizes(spark, d).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).maxBy(t => (t._2, t._1))._1
    assert(Similarity.splitIvfCell(spark, d, vecs, fat) >= 0)
    assert(graft.streaming.VecStream.streamAppendBatch(d,
      Seq((100L, Array(10.3, 0.2, 0, 0, 0, 0, 0, 0)))
        .toDF("vec_id", "embedding"), 0L))
    Similarity.deleteFromIvfPqIndex(spark, d, Seq(0L).toDF("vec_id"))
    build(d)
    build(fresh)
    val m = Similarity.loadIvfPqModel(spark, d)
    assert(m.centroids.length ==
      Similarity.loadIvfPqModel(spark, fresh).centroids.length,
      s"rebuilt model has ${m.centroids.length} cells")
    assert(M.publishedMetas(spark, s"$d/codes").isEmpty,
      "the rebuild carried the old commit log")
    assert(!M.isManaged(spark, s"$d/tombs"), "the rebuild kept old tombstones")
    // nProbe = 1: a replayed stale split probes the wrong cell
    val q = Seq((0L, Array(0.0, 10.05, 0, 0, 0, 0, 0, 0)),
      (1L, Array(-10.05, 0.0, 0, 0, 0, 0, 0, 0)),
      (2L, Array(10.05, 0.0, 0, 0, 0, 0, 0, 0))).toDF("q_id", "qv")
    val got = collectAll(Similarity.queryIvfPqIndex(spark, d, q, nProbe = 1))
    assert(got.nonEmpty && got.map(_._1).toSet == Set(0L, 1L, 2L), got)
    assert(got == collectAll(Similarity.queryIvfPqIndex(spark, fresh, q,
      nProbe = 1)), "rebuild serves differently from a fresh-dir build")
    // the old stream's batch 0 no longer gates a new stream's batch 0
    assert(graft.streaming.VecStream.streamAppendBatch(d,
      vecs.filter($"vec_id" === 5L), 0L))
  }

  test("registry IVF-PQ entries publish one index dir per embeddings version and leave no build dir") {
    import spark.implicits._
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_once")
    val vecs = Tables.embeddings(spark, sf)
    vecs.write.parquet(Tables.path(base.toString, "embeddings"))
    val fp = graft.sources.Lake.fingerprint(spark,
      Seq(Tables.path(base.toString, "embeddings")))
    def made(): Set[String] = tmp.listFiles().map(_.getName)
      .filter(n => n.startsWith("graft_ivfpq_") && n.contains(fp)).toSet
    val serve = Similarity.queries("ann_ivfpq_index")
    val runs = (1 to 2).map(_ => collectAll(serve(spark, base.toString)))
    assert(made() == Set(s"graft_ivfpq_v1_$fp"),
      s"two serves of one dataset left dirs ${made()}")
    runs.foreach(r => assert(r == collectAll(Similarity.annIvfPq(vecs))))
    // the delete-serve entry publishes its own index the same way
    val del = collectAll(Similarity.queries("ann_delete_serve")(spark,
      base.toString))
    assert(del.nonEmpty && del.forall(_._3 % 7 != 3), del)
    assert(made() == Set(s"graft_ivfpq_v1_$fp", s"graft_ivfpq_del_v1_$fp"),
      s"dirs ${made()}")
    made().foreach(n =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp, n)))
  }

  test("pqK = 1: one-codeword books build, encode every code to 0 and serve top-k") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ivfpq_k1").toString
    val vecs = Tables.embeddings(spark, sf)
    Similarity.buildIvfPqIndex(vecs, d, pqK = 1)
    val codes = M.readPublished(spark, s"$d/codes").select($"codes")
      .as[Seq[Int]].collect()
    assert(codes.length == vecs.count() && codes.forall(_.forall(_ == 0)),
      "a one-codeword book must code every subspace as 0")
    val q = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    val got = collectAll(Similarity.queryIvfPqIndex(spark, d, q))
    val perQuery = got.groupBy(_._1).map { case (k, v) => k -> v.size }
    assert(perQuery == (0L until 5L).map(_ -> 3).toMap, perQuery) // TopK = 3
  }
}
