package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.CdcStream

/** Streaming soak (SURVEY §7 round-2 item 1 / VERDICT item 8): a 20×
  * event stream (200k events, 20 files) through the watermarked
  * windowed aggregation on the RocksDB state store, killed mid-stream
  * and restarted from the checkpoint. Exactly-once is verified the way
  * production would: the parquet file sink's metadata log makes the
  * output transactional across restarts, and the final contents must
  * equal a batch aggregation of the full input — no lost windows, no
  * double-counted windows.
  *
  * `value` is generated in exact binary quarters (n/4.0) so the
  * batch/stream double sums are bit-identical regardless of partial-
  * aggregation order.
  */
object CrashOnce {
  @volatile var armed = true
}

@org.scalatest.tags.Slow // soak: excluded from the default budgeted run (SPARK_GRAFT_FULL_TESTS=1 restores)
class StreamingSoakSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  test("idempotent foreachBatch sink survives an injected MID-BATCH crash") {
    import spark.implicits._
    // the hard exactly-once case: the sink has already written batch 1
    // when the query dies, the checkpoint has NOT committed it, and the
    // restart replays the same batch. An idempotent sink (overwrite by
    // batchId) makes the replay harmless — the pattern a production
    // foreachBatch sink must follow.
    val base = java.nio.file.Files.createTempDirectory("graft_crash").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    def writeFile(i: Int): Unit =
      Seq.tabulate(100)(j => (i.toLong * 100 + j, t(i * 2)))
        .toDF("event_id", "ts")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    def startQuery() = spark.readStream
      .schema("event_id long, ts timestamp").parquet(s"$base/in")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        df.write.mode("overwrite").parquet(s"$base/out/batch=$batchId")
        if (batchId >= 1 && CrashOnce.armed) {
          CrashOnce.armed = false
          throw new RuntimeException("injected mid-batch crash")
        }
      }
      .start()
    CrashOnce.armed = true
    writeFile(0)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    writeFile(1) // this batch's sink write lands, then the query dies
    val q2 = startQuery()
    intercept[Exception] { q2.processAllAvailable(); q2.awaitTermination() }
    assert(!CrashOnce.armed, "crash must have fired inside the sink")
    val q3 = startQuery() // recovery: replays the uncommitted batch
    q3.processAllAvailable(); q3.stop()
    val out = spark.read.parquet(s"$base/out").select("event_id")
      .as[Long].collect().sorted
    assert(out.length == 200 && out.toSeq == (0L until 200L),
      s"exactly-once violated after mid-batch crash: ${out.length} rows")
  }

  test("20x windowed-agg stream survives kill/restart with exactly-once output (RocksDB)") {
    import spark.implicits._
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val baseSec = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
    val perFile = 10000L

    // file i covers hour i with deterministic ±1h jitter: bounded
    // disorder, always above the 2h watermark at the restart boundary
    def writeFile(i: Int): Unit =
      spark.range(i * perFile, (i + 1) * perFile).select(
        concat(lit("t"), col("id") % 5).as("event_type"),
        timestamp_seconds(lit(baseSec) + lit(i * 3600L) +
          xxhash64(col("id")) % 3600L).as("ts"),
        ((col("id") % 100).cast("double") / 4.0).as("value")
      ).coalesce(1).write.mode("append").parquet(s"$base/in")

    def startQuery() = {
      val src = spark.readStream
        .schema("event_type string, ts timestamp, value double")
        .parquet(s"$base/in")
      CdcStream.hourlyCounts(src)
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    }

    try {
      (0 until 10).foreach(writeFile)
      val q1 = startQuery()
      q1.processAllAvailable()
      val ops1 = q1.lastProgress.stateOperators
      assert(ops1.nonEmpty && ops1(0).numRowsTotal > 0,
        "state store must hold open windows before the kill")
      info(s"pre-kill state rows=${ops1(0).numRowsTotal} " +
        s"mem=${ops1(0).memoryUsedBytes}B " +
        s"rocksdb=${ops1(0).customMetrics.keySet.toString.contains("rocksdb")}")
      assert(ops1(0).customMetrics.keySet.toArray.mkString(",").contains("rocksdb"),
        "state-store metrics must come from the RocksDB provider")
      // restart boundary: 10 of 21 files processed, checkpoint at a
      // batch boundary (processAllAvailable drained, then stop). A
      // mid-BATCH crash — task dying between sink file write and
      // commit-log append — is the file sink's own guarantee (readers
      // only see files recorded in _spark_metadata); what THIS spec
      // proves is no loss/duplication across query incarnations.
      q1.stop()

      (10 until 20).foreach(writeFile)
      // sentinel far in the future closes every real window via watermark
      Seq(("sentinel", new java.sql.Timestamp((baseSec + 720 * 3600L) * 1000), 0.0))
        .toDF("event_type", "ts", "value")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
      val q2 = startQuery()
      q2.processAllAvailable()
      val ops2 = q2.lastProgress.stateOperators
      info(s"post-restart state rows=${ops2(0).numRowsTotal} " +
        s"updated=${ops2(0).numRowsUpdated} mem=${ops2(0).memoryUsedBytes}B")
      q2.stop()

      // batch reads of a streaming sink honor the _spark_metadata
      // commit log — only transactionally committed files count
      val got = spark.read.parquet(s"$base/out")
        .collect().map(_.toSeq).toSet
      val expected = spark.read.parquet(s"$base/in")
        .where($"event_type" =!= "sentinel")
        .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
        .select(unix_micros($"win.start").as("hour_us"), $"event_type",
          $"n", $"sum_value")
        .collect().map(_.toSeq).toSet
      assert(expected.size > 100, s"soak must close >100 windows, got ${expected.size}")
      assert(got == expected,
        s"exactly-once violated: ${(got -- expected).size} extra, " +
          s"${(expected -- got).size} missing of ${expected.size} windows")
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("E9/E33/E38 soak: mixed append/split/delete stream == the batch-API replay, bit-identical") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    val M = graft.sources.Lake.Manifest
    def vec(x: Double, y: Double) = Array(x, y, 0.0, 0, 0, 0, 0, 0.0)
    // base: two balanced 20-vector blobs (the E33 geometry); three
    // mixed rounds then drive all three maintenance ops against a
    // SERVED index — the real 100 TB regime the isolated specs
    // approximate one op at a time
    val base = ((0L until 20L).map(i => (i, vec(10.0 + 0.01 * i, 0))) ++
      (20L until 40L).map(i => (i, vec(-10.0 - 0.01 * i, 0))))
      .toDF("vec_id", "embedding")
    val deltas = Seq(
      (100L until 130L).map(i => (i, vec(8.0 + 0.1 * (i - 100), 1.0))),
      (200L until 225L).map(i => (i, vec(-8.0 - 0.1 * (i - 200), -1.0))),
      (300L until 320L).map(i => (i, vec(0.5 * (i - 310), 2.0))))
    val dels = Seq(
      Seq(3L, 105L, 110L, 27L, 999999L), // incl. a never-existed id
      Seq(210L, 3L, 115L),               // incl. an already-deleted id
      Seq(305L, 31L))
    val cap = 30L
    val lake = java.nio.file.Files
      .createTempDirectory("graft_soak_lake").toString
    val all = base.union(deltas.flatten.toDF("vec_id", "embedding"))
    all.write.mode("overwrite").parquet(lake)
    val vectors = () => spark.read.parquet(lake)

    // --- the STREAMED side: one checkpoint, three AvailableNow ticks,
    // a delete commit between ticks
    val d1 = java.nio.file.Files.createTempDirectory("graft_soak_s").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_soak_ck").toString
    Similarity.buildIvfPqIndex(base, d1, k = 2, iters = 2,
      pqM = 2, pqK = 4)
    val in = MemoryStream[(Long, Array[Double])]
    deltas.zip(dels).foreach { case (delta, del) =>
      in.addData(delta)
      graft.streaming.VecStream.appendToIndexBalanced(
        in.toDF().toDF("vec_id", "embedding"), d1, ck, vectors, cap)
        .awaitTermination()
      Similarity.deleteFromIvfPqIndex(spark, d1,
        del.toDF("vec_id"))
    }
    // replay idempotence mid-soak: round 1's data re-delivered under
    // a FRESH checkpoint gates out on its batch meta — state untouched
    val codesBefore = M.readPublished(spark, s"$d1/codes")
      .collect().map(_.toString).sorted.toSeq
    val in2 = MemoryStream[(Long, Array[Double])]
    in2.addData(deltas.head)
    graft.streaming.VecStream.appendToIndexBalanced(
      in2.toDF().toDF("vec_id", "embedding"), d1,
      java.nio.file.Files.createTempDirectory("graft_soak_ck2").toString,
      vectors, cap).awaitTermination()
    val codesAfter = M.readPublished(spark, s"$d1/codes")
      .collect().map(_.toString).sorted.toSeq
    assert(codesAfter == codesBefore, "a replayed batch mutated the index")

    // --- the BATCH-API replay: the identical op sequence, no stream
    val d2 = java.nio.file.Files.createTempDirectory("graft_soak_b").toString
    Similarity.buildIvfPqIndex(base, d2, k = 2, iters = 2,
      pqM = 2, pqK = 4)
    deltas.zip(dels).zipWithIndex.foreach { case ((delta, del), i) =>
      Similarity.appendIvfPqIndex(d2,
        delta.toDF("vec_id", "embedding"), meta = s"batch=$i")
      Similarity.rebalanceIvfIndex(spark, d2, vectors(), cap,
        maxPasses = 8)
      Similarity.compactIvfPqIndex(spark, d2, 64)
      Similarity.deleteFromIvfPqIndex(spark, d2,
        del.toDF("vec_id"))
    }

    // bit-identical state: codes table content AND the evolved model
    val c1 = M.readPublished(spark, s"$d1/codes")
      .collect().map(_.toString).sorted.toSeq
    val c2 = M.readPublished(spark, s"$d2/codes")
      .collect().map(_.toString).sorted.toSeq
    assert(c1 == c2, "streamed and batch-replayed code tables diverge")
    val m1 = Similarity.loadIvfPqModel(spark, d1)
    val m2 = Similarity.loadIvfPqModel(spark, d2)
    assert(m1.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq ==
      m2.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq,
      "evolved centroids diverge")
    assert(m1.centroids.length >= 3, "the soak never split a cell")

    // bit-identical serve, full probe fan: every surviving id
    // reachable, every tombstoned id masked, no duplicates
    val q = Seq((9001L, vec(9.0, 0.5)), (9002L, vec(-9.0, -0.5)),
      (9003L, vec(0.0, 2.0))).toDF("q_id", "qv")
    val s1 = Similarity.queryIvfPqIndex(spark, d1, q,
      nProbe = m1.centroids.length).collect().map(_.toString).sorted.toSeq
    val s2 = Similarity.queryIvfPqIndex(spark, d2, q,
      nProbe = m2.centroids.length).collect().map(_.toString).sorted.toSeq
    assert(s1 == s2, "streamed and batch-replayed serves diverge")
    val deleted = dels.flatten.toSet
    val served = Similarity.queryIvfPqIndex(spark, d1, q,
      nProbe = m1.centroids.length)
      .select($"vec_id").as[Long].collect().toSeq
    assert(served.forall(!deleted.contains(_)), "tombstoned id served")
    // per-cell sizes honor the cap and nothing was lost or duplicated
    val sizes = Similarity.ivfCellSizes(spark, d1)
      .collect().map(_.getLong(1))
    assert(sizes.forall(_ <= cap), s"cap violated: ${sizes.toSeq}")
    val ids = M.readPublished(spark, s"$d1/codes")
      .select($"vec_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size, "duplicate vec_id in codes")
    assert(ids.size == 40 + deltas.map(_.size).sum,
      "a vector was lost before physical compaction")

    // physical tombstone compaction preserves the serve on both sides
    assert(Similarity.compactIvfPqIndex(spark, d1) > 0)
    assert(Similarity.compactIvfPqIndex(spark, d2) > 0)
    val s1c = Similarity.queryIvfPqIndex(spark, d1, q,
      nProbe = m1.centroids.length).collect().map(_.toString).sorted.toSeq
    assert(s1c == s1, "tombstone compaction changed streamed serve")
    assert(Similarity.queryIvfPqIndex(spark, d2, q,
      nProbe = m2.centroids.length).collect().map(_.toString).sorted.toSeq
      == s2, "tombstone compaction changed batch serve")
    val survivors = M.readPublished(spark, s"$d1/codes")
      .select($"vec_id").as[Long].collect().toSet
    assert(survivors.intersect(deleted).isEmpty,
      "tombstoned rows survived physical compaction")
  }
}
