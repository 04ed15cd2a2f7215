package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.CdcStream
import graft.streaming.CdcStream.{Change, UserState}

/** Streaming CDC semantics (SURVEY.md §2.C6-C7): the streaming
  * operators must agree with their batch twins. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("file-source streaming ingestion: readStream over parquet drives hourlyCounts") {
    import spark.implicits._
    // stage the events table as a stream-source directory
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val batch = graft.sources.Tables.events(spark, GraftTestSession.sf)
      .select($"ts", $"event_type", $"value")
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = CdcStream.hourlyCounts(stream)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("file_hourly").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_hourly")
        .agg(org.apache.spark.sql.functions.sum($"n")).as[Long].head()
      assert(streamed == batch.count(), "streaming ingested every row")
    } finally q.stop()
  }

  test("C56 streaming count-min: state equals a hand-replayed sketch after every prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // independent oracle: replay the literal hash lanes in plain Scala
    def handSketch(ids: Seq[Long]): Map[(Long, Long), Long] = {
      val a = Seq(1299721L, 15485863L, 179424673L, 982451653L)
      val b = Seq(7L, 131071L, 524287L, 98765431L)
      val p = 2147483647L
      ids.flatMap(u => a.indices.map(i =>
          (i.toLong, ((a(i) * (u % p) + b(i)) % p) % 256)))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    }
    val in = MemoryStream[Long]
    val q = CdcStream.cmsStream(
        in.toDF.withColumnRenamed("value", "user_id"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cms_stream").start()
    try {
      def sketch(): Map[(Long, Long), Long] = spark.table("cms_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val b1 = Seq.fill(10)(7L) ++ (1L to 20L)
      in.addData(b1: _*); q.processAllAvailable()
      assert(sketch() == handSketch(b1))
      // second micro-batch folds INTO the same bounded counter table
      val b2 = Seq.fill(5)(7L) ++ (100L to 110L)
      in.addData(b2: _*); q.processAllAvailable()
      assert(sketch() == handSketch(b1 ++ b2))
      // forever-bound: the table can never exceed d·w rows
      assert(sketch().size <= 4 * 256)
    } finally q.stop()
  }

  test("C76 streaming mSPRT: batch-split invariant, sticky one-shot crossing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def lln(s: Long, v: Long, tau2: Double = 10000.0): Double =
      0.5 * math.log(v.toDouble / (v + tau2)) +
        tau2 * (s.toDouble * s) / (2.0 * v * (v + tau2))
    val in = MemoryStream[(String, Long)]
    val q = CdcStream.msprtStream(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("msprt_stream").start()
    def latest(): Map[String, (Long, Long, Double, Boolean, Option[Long])] =
      spark.table("msprt_stream").collect()
        .map(r => (r.getString(0), (r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getBoolean(5),
          if (r.isNullAt(6)) None else Some(r.getLong(6)))))
        .groupBy(_._1).map { case (k, rs) =>
          k -> rs.maxBy(_._2._2)._2 } // highest V = latest emission
    try {
      // balanced arms: S hovers near 0, no crossing
      val b1 = (1L to 40L).map(u => ("click", u))
      in.addData(b1: _*); q.processAllAvailable()
      val p1 = latest()("click")
      assert(p1._1 == 0L && p1._2 == 40L && !p1._4)
      assert(math.abs(p1._3 - lln(0L, 40L)) < 1e-12)
      // heavy drift in a second type: even ids only → S = V, crosses
      val drift = (1L to 300L).map(u => ("buy", 2L * u))
      in.addData(drift.take(150): _*); q.processAllAvailable()
      in.addData(drift.drop(150): _*); q.processAllAvailable()
      val p2 = latest()("buy")
      assert(p2._1 == 300L && p2._2 == 300L)
      assert(p2._4, s"300/300 one-arm events did not cross: $p2")
      val firstN = p2._5.get
      assert(lln(firstN, firstN) >= math.log(20.0) &&
        (firstN == 1L || lln(firstN - 1, firstN - 1) < math.log(20.0)),
        s"first_cross_n=$firstN is not the FIRST crossing")
      // sticky: pile the opposite arm on until lnΛ drops below the
      // boundary — crossed and first_cross_n must not revise
      in.addData((1L to 300L).map(u => ("buy", 2L * u + 1)): _*)
      q.processAllAvailable()
      val p3 = latest()("buy")
      assert(p3._1 == 0L && p3._2 == 600L)
      assert(p3._3 < math.log(20.0), "test setup: should be sub-boundary")
      assert(p3._4 && p3._5.contains(firstN),
        s"crossing un-stuck on mean reversion: $p3")
      // batch-split invariance: same data in one batch == the above
      val in2 = MemoryStream[(String, Long)]
      val q2 = CdcStream.msprtStream(in2.toDS())
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("msprt_stream2").start()
      try {
        in2.addData((drift ++ (1L to 300L).map(u =>
          ("buy", 2L * u + 1))): _*)
        q2.processAllAvailable()
        val one = spark.table("msprt_stream2").collect()
          .map(r => (r.getLong(2), r.getLong(3), r.getBoolean(5))).head
        assert(one == ((0L, 600L, true)), s"split-sensitivity: $one")
      } finally q2.stop()
    } finally q.stop()
  }

  test("end-to-end file->transform->parquet-sink streaming pipeline") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val batch = graft.sources.Tables.events(spark, GraftTestSession.sf)
      .select($"ts", $"event_type", $"value")
    batch.write.mode("overwrite").parquet(s"$base/in")
    val q = CdcStream.hourlyCounts(
        spark.readStream.schema(batch.schema).parquet(s"$base/in"))
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-finalized windows; the last
      // 2h of event time stays open, everything earlier must be there
      val out = spark.read.parquet(s"$base/out")
      assert(out.count() > 0)
      assert(out.columns.toSeq ==
        Seq("hour_us", "event_type", "n", "sum_value"))
      // restart from the checkpoint: no reprocessing, no duplicates
      val n1 = out.count()
      val q2 = CdcStream.hourlyCounts(
          spark.readStream.schema(batch.schema).parquet(s"$base/in"))
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q2.processAllAvailable() finally q2.stop()
      assert(spark.read.parquet(s"$base/out").count() == n1,
        "checkpoint restart must not duplicate output")
    } finally q.stop()
  }

  test("C6 latest-state store applies upserts and tombstones across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Change]
    val q = CdcStream.latestState(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cdc_state").start()
    try {
      in.addData(
        Change(1L, 1L, ts(0), "I", 10.0),
        Change(2L, 2L, ts(1), "I", 20.0))
      q.processAllAvailable()
      in.addData(
        Change(1L, 3L, ts(5), "U", 11.0), // newer update wins
        Change(2L, 4L, ts(6), "D", 0.0),  // tombstone
        Change(2L, 5L, ts(2), "U", 21.0)) // older than tombstone: ignored
      q.processAllAvailable()
      val state = spark.table("cdc_state").as[UserState].collect()
        .groupBy(_.user_id).map { case (_, v) => v.maxBy(_.last_event_id) }
        .toSeq.sortBy(_.user_id)
      assert(state.map(_.user_id) == Seq(1L, 2L))
      val u1 = state.head
      assert(u1.last_value == 11.0 && !u1.deleted && u1.last_event_id == 3L)
      val u2 = state(1)
      assert(u2.deleted && u2.last_event_id == 4L,
        s"tombstone must win over older update: $u2")
    } finally q.stop()
  }

  test("C6 a micro-batch of many appends runs at most shuffle.partitions input tasks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val reducers = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // 24 appends (one input partition each) over 6 keys: inserts,
    // updates, tombstones on the odd keys, then updates on the odd
    // keys that are older than their tombstone
    val appends = (0 until 24).map { a =>
      val uid = (a % 6 + 1).toLong
      val op = if (a < 6) "I" else if (a >= 12 && a < 18 && uid % 2 == 1) "D" else "U"
      val minute = if (a >= 18 && uid % 2 == 1) a - 17 else a
      Change(uid, (a + 1).toLong, ts(minute), op, a.toDouble)
    }
    assert(appends.size > reducers)
    val in = MemoryStream[Change]
    appends.foreach(c => in.addData(c)) // before start: one micro-batch
    val w = CdcStream.latestState(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cdc_state_coalesced")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      val stages = EngineEvents.stagesRun(spark) {
        q = w.start()
        q.processAllAvailable()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == 1)
      val input = stages.filter(_.parentIds.isEmpty) // the ones reading the source
      assert(input.nonEmpty, s"no input stage ran: ${stages.map(_.name)}")
      assert(input.forall(_.numTasks <= reducers),
        s"input stage tasks ${input.map(_.numTasks)} > $reducers")
      // the C6 rules: newest (ts, event_id) wins, a tombstone stays
      val want = appends.groupBy(_.user_id).map { case (uid, cs) =>
        val c = cs.maxBy(c => (c.ts.getTime, c.event_id))
        uid -> (c.op, c.value, c.event_id, c.op == "D")
      }
      val got = spark.table("cdc_state_coalesced").as[UserState].collect()
        .groupBy(_.user_id).map { case (uid, v) =>
          val s = v.maxBy(_.last_event_id)
          uid -> (s.last_op, s.last_value, s.last_event_id, s.deleted)
        }
      assert(got == want)
      assert(want.values.exists(_._4) && want.values.exists(!_._4))
    } finally if (q != null) q.stop()
  }

  test("C43 forget stream erases state (unlike D), confirms scrubbed, allows later re-create") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Change]
    val q = CdcStream.forgetStream(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("forget_state").start()
    try {
      in.addData(
        Change(1L, 1L, ts(0), "I", 10.0),
        Change(2L, 2L, ts(1), "I", 20.0),
        Change(3L, 3L, ts(2), "I", 30.0))
      q.processAllAvailable()
      in.addData(
        Change(1L, 4L, ts(5), "F", 99.0), // erasure request; value ignored
        Change(3L, 5L, ts(6), "D", 0.0))  // ordinary tombstone for contrast
      q.processAllAvailable()
      val afterForget = spark.table("forget_state").as[UserState].collect()
      val u1rows = afterForget.filter(_.user_id == 1L)
      // confirmation is scrubbed: op F, value 0.0, never 10.0 again
      val conf = u1rows.maxBy(_.last_event_id)
      assert(conf.last_op == "F" && conf.last_value == 0.0 && conf.deleted,
        s"confirmation: $conf")
      assert(!u1rows.exists(r => r.last_event_id > 1L && r.last_value == 10.0),
        "pre-forget value must not be re-emitted after the request")
      // D keeps state (emitted as deleted), F leaves none: a later
      // OLDER-than-tombstone update for u3 is still blocked, while u1
      // re-creates cleanly
      in.addData(
        Change(1L, 6L, ts(9), "I", 12.0),
        Change(3L, 7L, ts(3), "U", 31.0)) // older than u3's tombstone
      q.processAllAvailable()
      val fin = spark.table("forget_state").as[UserState].collect()
        .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.last_event_id) }
      assert(fin(1L).last_value == 12.0 && !fin(1L).deleted,
        s"re-created after forget: ${fin(1L)}")
      assert(fin(3L).deleted && fin(3L).last_event_id == 5L,
        s"tombstone must still block older updates: ${fin(3L)}")
    } finally q.stop()
  }

  test("C43 forget orders by FULL microseconds: same-millisecond F-then-U re-creates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // F at .000200us (event_id 20) precedes U at .000500us (event_id
    // 10) in true (ts, event_id) order; a millisecond-truncated sort
    // would apply U first (smaller event_id) and then erase it
    def us(micros: Int): java.sql.Timestamp = {
      val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      t.setNanos(micros * 1000); t
    }
    val in = MemoryStream[Change]
    val q = CdcStream.forgetStream(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("forget_us").start()
    try {
      in.addData(
        Change(1L, 20L, us(200), "F", 0.0),
        Change(1L, 10L, us(500), "U", 42.0))
      q.processAllAvailable()
      val fin = spark.table("forget_us").as[UserState].collect()
        .filter(s => !s.deleted)
      assert(fin.nonEmpty && fin.head.last_value == 42.0,
        s"U after F must survive: ${spark.table("forget_us").collect().toSeq}")
    } finally q.stop()
  }

  test("C45 streaming heavy hitters: survival across batches, k-bounded state, undercounts only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val k = 5
    val q = CdcStream.heavyHittersStream(in.toDS(), k = k, shards = 2)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("hh_stream").start()
    try {
      // two batches of a skewed stream: "hot" appears 60×, "warm"
      // 20×, plus 80 distinct singletons spread over both batches
      def batch(tag: String) =
        Seq.fill(30)("hot") ++ Seq.fill(10)("warm") ++
          (1 to 40).map(i => s"noise_${tag}_$i")
      in.addData(batch("a"): _*); q.processAllAvailable()
      in.addData(batch("b"): _*); q.processAllAvailable()
      val rows = spark.table("hh_stream")
        .as[CdcStream.HeavyHitter].collect()
      // latest emission per (shard, token)
      val latest = rows.groupBy(r => (r.shard, r.token))
        .map { case (_, v) => v.maxBy(_.est) }
      val byTok = latest.groupBy(_.token).map { case (t, v) =>
        t -> v.map(_.est).max }
      // survival: each shard saw ≤ 160 tokens; 160/(k+1) ≈ 26.7 —
      // hot (60) and warm (20 on its shard ≥ its shard bound? hot
      // is guaranteed; warm is best-effort) — assert the guaranteed
      assert(byTok.contains("hot"), s"hot evicted: ${byTok.keySet}")
      assert(byTok("hot") <= 60L, "estimates must be undercounts")
      // k-bound per shard at every emission batch
      val perShardBatch = rows.groupBy(_.shard).values
      assert(perShardBatch.forall(_.map(_.token).distinct.size <= 2 * k),
        "shard emissions exceed the counter bound")
    } finally q.stop()
  }

  test("C81 streaming bottom-k sample == batch bottom-k, replays no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Long)]
    val k = 8
    val q = CdcStream.bottomKSampleStream(in.toDS(), k = k)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("bk_stream").start()
    try {
      val idsA = (1L to 40L).map(i => ("click", i * 7))
      val idsB = (41L to 90L).map(i => ("click", i * 7)) ++
        (1L to 5L).map(i => ("view", i * 11))
      in.addData(idsA: _*); q.processAllAvailable()
      in.addData(idsB: _*); q.processAllAvailable()
      // replay batch A verbatim: state must not change
      in.addData(idsA: _*); q.processAllAvailable()
      val rows = spark.table("bk_stream")
        .as[CdcStream.SamplePoint].collect()
      val clickIds = (1L to 90L).map(_ * 7)
      val expected = clickIds.map(i => (CdcStream.mix64(i), i))
        .sorted.take(k)
      // the LAST emission per type carries the final state; since the
      // replay emitted the same sample again, collect the final k by
      // smallest hashes among the latest rows
      val lastClick = rows.filter(_.event_type == "click")
        .groupBy(r => (r.hash, r.event_id)).keys.toSeq.sorted.take(k)
      assert(lastClick == expected,
        s"stream sample != batch bottom-k: $lastClick vs $expected")
      val viewRows = rows.filter(_.event_type == "view")
      assert(viewRows.map(_.event_id).distinct.size == 5,
        "small key must keep all its ids")
      assert(rows.forall(_.n_state <= k), "state exceeded k")
    } finally q.stop()
  }

  test("C82 streaming HLL registers == batch-computed, estimate in band") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Long)]
    val q = CdcStream.hllStream(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("hll_stream").start()
    try {
      val ids = (1L to 500L).map(i => ("click", i * 13))
      val (a, b) = ids.splitAt(200)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      in.addData(a.take(50): _*); q.processAllAvailable() // replay
      val rows = spark.table("hll_stream")
        .as[CdcStream.HllPoint].collect()
        .filter(_.event_type == "click")
      val fin = rows.last
      // batch twin: the same registers computed directly in Scala
      val regs = new Array[Int](64)
      for ((_, id) <- ids) {
        val h = CdcStream.mix64(id)
        val j = (h & 63).toInt
        val w = h >>> 6
        val rho = if (w == 0L) 59
          else java.lang.Long.numberOfLeadingZeros(w) - 6 + 1
        if (rho > regs(j)) regs(j) = rho
      }
      assert(fin.registers == regs.toSeq,
        "streamed registers != batch-computed registers")
      val err = math.abs(fin.estimate - 500.0) / 500.0
      assert(err < 0.25, s"HLL estimate ${fin.estimate} off by $err")
    } finally q.stop()
  }

  test("C64 streaming completeness: per-bucket bitmap holes exact, replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val q = CdcStream.completenessStream(in.toDS(), bucketSize = 64)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cmp_stream").start()
    try {
      // batch 1: bucket 0 gets 0..9 minus {4, 7}; bucket 2 gets 130
      in.addData((0L to 9L).filterNot(Set(4L, 7L)) :+ 130L: _*)
      q.processAllAvailable()
      // batch 2: the hole at 4 fills, 7 stays missing; 130 REPLAYS
      in.addData(4L, 130L)
      q.processAllAvailable()
      val rows = spark.table("cmp_stream")
        .as[CdcStream.BucketCompleteness].collect()
      val latest = rows.groupBy(_.bucket).map { case (b, v) =>
        b -> v.maxBy(_.n_seen) }
      assert(latest(0L) == CdcStream.BucketCompleteness(0L, 9L, 0L, 9L, 1L),
        s"bucket0: ${latest(0L)}")
      assert(latest(2L) == CdcStream.BucketCompleteness(2L, 1L, 130L, 130L, 0L),
        "replayed id must be a bitmap no-op")
      // batch-1 emission for bucket 0 showed both holes
      assert(rows.exists(r => r.bucket == 0L && r.n_missing_interior == 2L))
    } finally q.stop()
  }

  test("C62 streaming lag quantiles: exact running percentiles across batches, cap clamps") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Long)]
    val q = CdcStream.lagQuantileStream(in.toDS(), maxBuckets = 100)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("lag_stream").start()
    try {
      // batch 1: lags 1..10 ms (as µs) -> p50 = 5, p90 = 9, p99 = 10
      in.addData((1 to 10).map(i => ("a", i * 1000L)): _*)
      q.processAllAvailable()
      // batch 2: ten more at 90 ms + one monster 10 s (clamps to
      // bucket 99): n = 21, p50 = ceil(10.5) = 11th -> 90,
      // p99 = ceil(20.79) = 21st -> 99 (the clamp bucket)
      in.addData(((1 to 10).map(_ => ("a", 90000L)) :+ ("a", 10000000L)): _*)
      q.processAllAvailable()
      val rows = spark.table("lag_stream")
        .as[CdcStream.LagQuantilePoint].collect().sortBy(_.n_events)
      assert(rows.length == 2)
      assert(rows(0) == CdcStream.LagQuantilePoint("a", 10L, 5L, 9L, 10L, 10L),
        s"batch1: ${rows(0)}")
      assert(rows(1) == CdcStream.LagQuantilePoint("a", 21L, 90L, 90L, 99L, 99L),
        s"batch2: ${rows(1)}")
    } finally q.stop()
  }

  test("C39 MV delta stream folds to the batch recompute across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Change]
    val q = CdcStream.mvDeltaStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("mv_deltas").start()
    try {
      // batch 1: inserts + an in-batch upsert (latest commit wins)
      in.addData(
        Change(1L, 1L, ts(0), "I", 1.00), Change(2L, 2L, ts(1), "I", 2.00),
        Change(3L, 3L, ts(2), "I", 3.00), Change(3L, 4L, ts(3), "U", 3.50))
      q.processAllAvailable()
      // batch 2: upsert, tombstone, revive, fresh insert, heartbeat
      in.addData(
        Change(1L, 11L, ts(10), "U", 1.50), // upsert
        Change(2L, 12L, ts(11), "D", 0.0),  // tombstone
        Change(4L, 14L, ts(12), "I", 4.00), // new key
        Change(5L, 15L, ts(13), "I", 5.00)) // new key
      q.processAllAvailable()
      // batch 3: revive key 2, no-op heartbeat on key 5
      in.addData(
        Change(2L, 21L, ts(20), "I", 2.25),
        Change(5L, 22L, ts(21), "U", 5.00)) // same cents → zero delta
      q.processAllAvailable()
      val deltas = spark.table("mv_deltas").as[CdcStream.MvKeyDelta].collect()
      // zero-deltas suppressed (key 5's heartbeat)
      assert(!deltas.exists(d => d.d_keys == 0 && d.d_cents == 0),
        s"zero deltas must be suppressed: ${deltas.mkString(",")}")
      // fold all deltas per cohort == batch full recompute of live state
      val folded = deltas.groupBy(_.cohort)
        .map { case (c, ds) => c -> ((ds.map(_.d_keys).sum, ds.map(_.d_cents).sum)) }
        .filter { case (_, (k, _)) => k > 0 }
      val want = Map(1L -> ((1L, 150L)), 2L -> ((1L, 225L)),
        3L -> ((1L, 350L)), 4L -> ((1L, 400L)), 5L -> ((1L, 500L)))
      assert(folded == want, s"folded $folded != $want")
    } finally q.stop()
  }

  test("C7 streaming hourly counts match the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = CdcStream.hourlyCounts(events)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cdc_hourly").start()
    try {
      in.addData(
        (ts(5), "click", 1.5), (ts(10), "click", 2.5),
        (ts(20), "view", 3.0),
        (java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("cdc_hourly")
        .orderBy("hour_us", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val h10 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000
      val h11 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00").getTime * 1000
      assert(got.toSeq == Seq(
        (h10, "click", 2L, 4.0), (h10, "view", 1L, 3.0), (h11, "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("C7 watermark drops data later than the bound (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = CdcStream.hourlyCounts(events)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_out").start()
    try {
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      in.addData((t(10, 5), "click", 1.0), (t(10, 10), "click", 2.0))
      q.processAllAvailable()
      // advance event time far enough (watermark = max - 2h) to close 10:00
      in.addData((t(13, 30), "view", 9.0))
      q.processAllAvailable()
      // now a straggler inside the already-closed 10:00 window: must be dropped
      in.addData((t(10, 20), "click", 99.0))
      q.processAllAvailable()
      // and one more advance so everything finalizable is emitted
      in.addData((t(16, 0), "view", 1.0))
      q.processAllAvailable()
      val h10 = spark.table("wm_out")
        .filter($"event_type" === "click")
        .collect().map(r => (r.getLong(2), r.getDouble(3)))
      // the 10:00 click window finalized with the 2 on-time rows only
      assert(h10.toSeq == Seq((2L, 3.0)), h10.toSeq.toString)
    } finally q.stop()
  }

  test("C12 stream-static enrichment joins a dim onto a change stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq(("click", "engagement"), ("purchase", "revenue"))
      .toDF("event_type", "category")
    val in = MemoryStream[(String, Double)]
    val stream = in.toDF().toDF("event_type", "value")
    val q = CdcStream.enrich(stream, dim, "event_type")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enriched").start()
    try {
      in.addData(("click", 1.0), ("error", 2.0), ("purchase", 3.0))
      q.processAllAvailable()
      val got = spark.table("enriched")
        .collect().map(r => (r.getString(0), Option(r.getString(2))))
        .sortBy(_._1).toSeq
      assert(got == Seq(("click", Some("engagement")),
        ("error", None), ("purchase", Some("revenue"))))
    } finally q.stop()
  }

  test("C11 streaming SCD2 emits closed versions matching the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Change]
    val q = CdcStream.scd2Stream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("scd2_out").start()
    try {
      in.addData(Change(1L, 1L, ts(0), "I", 1.0))
      q.processAllAvailable()
      in.addData(Change(1L, 2L, ts(10), "U", 2.0),
        Change(1L, 3L, ts(20), "U", 3.0))
      q.processAllAvailable()
      val closed = spark.table("scd2_out")
        .as[CdcStream.Scd2Row].collect().sortBy(_.event_id)
      // versions 1 and 2 are closed; version 3 is open (in state only)
      assert(closed.map(_.event_id).toSeq == Seq(1L, 2L))
      assert(closed.forall(r => !r.is_current && r.valid_to_us.isDefined))
      assert(closed(0).valid_to_us.get == closed(1).valid_from_us)
      // batch twin agreement on the closing timestamps
      val batch = graft.operators.Cdc.scd2(graft.sources.Tables.events(spark, GraftTestSession.sf))
      assert(batch.columns.toSeq ==
        Seq("user_id", "event_id", "valid_from_us", "valid_to_us", "is_current"))
    } finally q.stop()
  }

  /** `us` microseconds past 2024-01-01 10:00:00, all in one millisecond
    * while `us` < 1000. */
  private def atUs(us: Int) = { val t = ts(0); t.setNanos(us * 1000); t }

  test("C11 streaming SCD2 orders one millisecond's changes by microsecond like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the later microsecond carries the lower event_id
    val pair = Seq(Change(1L, 2L, atUs(100), "U", 1.0), Change(1L, 1L, atUs(500), "U", 2.0))
    val in = MemoryStream[Change]
    val q = CdcStream.scd2Stream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("scd2_same_ms").start()
    try {
      in.addData(pair: _*); q.processAllAvailable()
      val got = spark.table("scd2_same_ms").as[CdcStream.Scd2Row].collect()
        .map(r => (r.user_id, r.event_id, r.valid_from_us, r.valid_to_us)).toSeq
      val batch = graft.operators.Cdc.scd2(pair.toDF())
        .filter($"valid_to_us".isNotNull)
        .select($"user_id", $"event_id", $"valid_from_us", $"valid_to_us")
        .as[(Long, Long, Long, Option[Long])].collect().toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      assert(batch.map(_._2) == Seq(2L))
    } finally q.stop()
  }

  test("C35 streaming changelog compaction orders one millisecond's changes by microsecond like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val first = Change(1L, 1L, atUs(0), "U", 1.00)
    // µs 100 moves to 2.00; µs 500, with the lower event_id, back to 1.00
    val pair = Seq(Change(1L, 3L, atUs(100), "U", 2.00), Change(1L, 2L, atUs(500), "U", 1.00))
    val in = MemoryStream[Change]
    val q = CdcStream.compactChangelogStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("compact_same_ms").start()
    try {
      in.addData(first); q.processAllAvailable()
      in.addData(pair: _*); q.processAllAvailable()
      val got = spark.table("compact_same_ms").as[Change]
        .collect().map(_.event_id).sorted.toSeq
      val batch = graft.operators.Cdc.compactChangelog((first +: pair).toDF())
        .collect().map(_.getLong(1)).sorted.toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      assert(batch == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("C6/C4 twin parity: streaming latest-state equals batch window on events table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // feed the real events table through the streaming op in two chunks
    val ev = graft.sources.Tables.events(spark, GraftTestSession.sf)
      .withColumn("op", when($"event_type" === "signup", "I")
        .when($"event_type" === "error", "D").otherwise("U"))
      .select($"user_id", $"event_id",
        $"ts".cast("timestamp").as("ts"), $"op", $"value")
      .as[Change].collect().sortBy(_.event_id)
    val (first, second) = ev.splitAt(ev.length / 2)
    val in = MemoryStream[Change]
    val q = CdcStream.latestState(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cdc_state_full").start()
    try {
      in.addData(first.toSeq); q.processAllAvailable()
      in.addData(second.toSeq); q.processAllAvailable()
      val streamed = spark.table("cdc_state_full").as[UserState].collect()
        .groupBy(_.user_id).map { case (_, v) => v.maxBy(s => (s.last_ts.getTime, s.last_event_id)) }
      val batch = graft.operators.Cdc.latestState(graft.sources.Tables.events(spark, GraftTestSession.sf))
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_ts_us"))).toMap
      streamed.foreach { st =>
        assert(batch(st.user_id) == st.last_ts.getTime * 1000 +
          (st.last_ts.getNanos / 1000) % 1000,
          s"user ${st.user_id}: batch=${batch(st.user_id)} stream=${st.last_ts}")
      }
    } finally q.stop()
  }

  test("C20 streaming session windows equal the batch session_window twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = graft.sources.Tables.events(spark, GraftTestSession.sf)
      .select($"user_id", $"ts")
    val rows = events.as[(Long, java.sql.Timestamp)].collect().toSeq
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = CdcStream.sessionWindows(in.toDF().toDF("user_id", "ts"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_win").start()
    try {
      in.addData(rows)
      q.processAllAvailable()
      // far-future sentinel advances the watermark past every real
      // session; its own (still-open) session is filtered out below
      in.addData(Seq((-1L, java.sql.Timestamp.valueOf("2031-01-01 00:00:00"))))
      q.processAllAvailable()
      val streamed = spark.table("sess_win").filter($"user_id" >= 0)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batchTwin = events
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", unix_micros($"sw.start").as("start_us"),
          unix_micros($"sw.end").as("end_us"), $"n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batchTwin,
        s"streamed ${streamed.size} sessions, batch ${batchTwin.size}")
    } finally q.stop()
  }

  test("C27 watermark drop metric counts a late row the aggregate silently excludes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = CdcStream.hourlyCounts(
        in.toDS().toDF("ts", "event_type", "value"))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("late_counts").start()
    try {
      // advance the watermark far past 10:xx: max event 14:00 - 2h = 12:00
      in.addData((ts(0), "view", 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), "view", 1.0))
      q.processAllAvailable()
      val before = CdcStream.rowsDroppedByWatermark(q)
      // this event is hours older than the watermark -> dropped
      in.addData((ts(5), "view", 100.0))
      q.processAllAvailable()
      val dropped = CdcStream.rowsDroppedByWatermark(q) - before
      assert(dropped == 1L, s"late row must be counted, got $dropped")
      // and the aggregate really did exclude it: the 10:00 window keeps n=1
      val n10 = spark.table("late_counts")
        .filter($"hour_us" === java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
          .getTime * 1000)
        .agg(max($"n")).as[Long].collect().headOption.getOrElse(0L)
      assert(n10 == 1L, s"late row leaked into the closed window: n=$n10")
    } finally q.stop()
  }

  test("C26 envelope stream feeds the latest-state store; corrupt bytes survive") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val changes = CdcStream.envelopeChanges(
      in.toDS().toDF("event_id", "env"))
    val q = CdcStream.latestState(changes)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("env_state").start()
    try {
      in.addData(
        (1L, """{"op":"I","ts_ms":1000,"after":{"user_id":7,"value":1.5}}"""),
        (2L, """broken { bytes"""),
        (3L, """{"op":"U","ts_ms":2000,"after":{"user_id":7,"value":2.5}}"""))
      q.processAllAvailable()
      in.addData(
        (4L, """{"op":"D","ts_ms":3000,"before":{"user_id":7,"value":2.5}}"""))
      q.processAllAvailable()
      val state = spark.table("env_state").as[UserState].collect()
        .groupBy(_.user_id).map { case (_, v) => v.maxBy(_.last_event_id) }
      assert(state.size == 1)
      val u = state.head
      assert(u.user_id == 7L && u.deleted && u.last_op == "D" &&
        u.last_event_id == 4L, s"got $u")
    } finally q.stop()
  }

  test("C35 streaming changelog compaction == batch twin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s)
    val all = Seq(
      Change(1L, 1L, t(1), "U", 2.50), Change(1L, 2L, t(2), "U", 2.50),
      Change(1L, 3L, t(3), "U", 3.00), Change(1L, 4L, t(4), "U", 3.00),
      Change(1L, 5L, t(5), "U", 3.00), Change(1L, 6L, t(6), "U", 2.50),
      Change(2L, 7L, t(1), "U", 9.99))
    val in = MemoryStream[Change]
    val q = CdcStream.compactChangelogStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("compact_stream").start()
    try {
      // split INSIDE a heartbeat run: the dedup must hold across the
      // batch boundary through state, not within-batch lag alone
      in.addData(all.take(4): _*); q.processAllAvailable()
      in.addData(all.drop(4): _*); q.processAllAvailable()
      val got = spark.table("compact_stream").as[Change]
        .collect().map(_.event_id).sorted.toSeq
      val batch = graft.operators.Cdc.compactChangelog(
          all.map(c => (c.user_id, c.event_id, c.ts, c.value))
            .toDF("user_id", "event_id", "ts", "value"))
        .collect().map(_.getLong(1)).sorted.toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got == Seq(1L, 3L, 6L, 7L))
    } finally q.stop()
  }

  test("C54 streaming anomaly flags == batch twin across mid-window batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    // steady 2.00s with spikes planted after the warm-up window
    val vals = Seq(2.0, 2.0, 2.0, 2.0, 2.1, 1.9, 2.0, 2.0, 9.0, 2.0,
      2.0, 2.0, 2.1, 1.9, 2.0, 2.0, -5.0, 2.0)
    val all = vals.zipWithIndex.map { case (v, i) =>
      Change(1L, i.toLong, t(i.toLong), "U", v) }
    val in = MemoryStream[Change]
    val q = CdcStream.anomalyStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("anomaly_stream").start()
    try {
      // split INSIDE the rolling window around the first spike
      in.addData(all.take(7): _*); q.processAllAvailable()
      in.addData(all.slice(7, 12): _*); q.processAllAvailable()
      in.addData(all.drop(12): _*); q.processAllAvailable()
      val got = spark.table("anomaly_stream")
        .as[CdcStream.AnomalyAlert].collect()
        .map(a => (a.event_id, a.vc)).toSet
      val batch = graft.operators.Resilience.anomalies(
          all.map(c => (c.user_id, c.event_id, c.ts, c.value))
            .toDF("user_id", "event_id", "ts", "value"))
        .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.map(_._2) == Set(900L, -500L),
        s"both planted spikes must flag: $got")
    } finally q.stop()
  }

  test("C55 streaming rolling median == driver fold across mid-window splits, spike-robust") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    // steady 2.00s with one 9.00 spike: the MEDIAN emitted while the
    // spike sits inside the window must stay 200 (mean would jump)
    val vals = Seq(2.0, 2.0, 2.0, 2.1, 1.9, 2.0, 2.0, 9.0, 2.0, 2.0,
      2.0, 2.1, 1.9, 2.0, 2.0)
    val all = vals.zipWithIndex.map { case (v, i) =>
      Change(1L, i.toLong, t(i.toLong), "U", v) }
    val in = MemoryStream[Change]
    val q = CdcStream.medianStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("median_stream").start()
    try {
      // split INSIDE the rolling window around the spike
      in.addData(all.take(6): _*); q.processAllAvailable()
      in.addData(all.slice(6, 10): _*); q.processAllAvailable()
      in.addData(all.drop(10): _*); q.processAllAvailable()
      val got = spark.table("median_stream")
        .as[CdcStream.MedianPoint].collect()
        .map(p => p.event_id -> p.median_cents).toMap
      val cents = vals.map(v => math.round(v * 100))
      val want = (7 until vals.length).map { i =>
        i.toLong -> cents.slice(i - 7, i).sorted.apply(3)
      }.toMap
      assert(got == want, s"stream $got vs fold $want")
      assert((8L to 14L).forall(got(_) == 200L),
        "median must hold 200 through the spike window")
    } finally q.stop()
  }

  test("C51 streaming schema drift: new key flags once, registry matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(day: Int) = new java.sql.Timestamp(
      java.sql.Date.valueOf(f"2022-05-$day%02d").getTime + 3600000L)
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val q = CdcStream.schemaDriftStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("drift_stream").start()
    try {
      in.addData(("k", t(1)), ("k", t(2))); q.processAllAvailable()
      in.addData(("k", t(3)), ("new_field", t(3))); q.processAllAvailable()
      val rows = spark.table("drift_stream")
        .as[CdcStream.KeyDrift].collect()
      // batch 1: k is new; batch 2: k updates (not new), new_field new
      val kRows = rows.filter(_.key == "k").sortBy(_.n_rows)
      assert(kRows.map(r => (r.n_rows, r.is_new)).toSeq ==
        Seq((2L, true), (3L, false)), s"got ${kRows.toSeq}")
      assert(kRows.last.first_day == "2022-05-01" &&
        kRows.last.last_day == "2022-05-03")
      val nf = rows.filter(_.key == "new_field")
      assert(nf.map(r => (r.n_rows, r.is_new, r.first_day)).toSeq ==
        Seq((1L, true, "2022-05-03")), s"got ${nf.toSeq}")
      // final registry rows agree with the batch operator on the feed
      val batch = graft.operators.Cdc.schemaDrift(
        Seq((t(1), """{"k":1}"""), (t(2), """{"k":1}"""),
            (t(3), """{"k":1,"new_field":2}"""))
          .toDF("ts", "props"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getString(2), r.getLong(4))).toSet
      val streamFinal = rows.groupBy(_.key).map { case (k, rs) =>
        val last = rs.maxBy(_.n_rows)
        (k, last.first_day, last.last_day, last.n_rows)
      }.toSet
      assert(streamFinal == batch, s"stream $streamFinal vs batch $batch")
    } finally q.stop()
  }

  test("C72 streaming slo burn: sliding windows carry exact counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(day: Int, sec: Int) = new java.sql.Timestamp(
      86400000L * (19723 + day) + sec * 1000L)  // 2024-01-01 + day
    // day0: 1/4 errors, day1: 3/4 — split mid-day1 across batches
    val all = Seq((0, 0, "error"), (0, 1, "view"), (0, 2, "view"),
      (0, 3, "view"), (1, 0, "error"), (1, 1, "error"),
      (1, 2, "error"), (1, 3, "view"))
      .zipWithIndex.map { case ((d, s0, ty), i) =>
        (i.toLong, 1L, ty, t(d, s0)) }
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val q = CdcStream.sloBurnStream(in.toDS()
        .toDF("event_id", "user_id", "event_type", "ts"))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("slo_stream").start()
    try {
      in.addData(all.take(6): _*); q.processAllAvailable()
      in.addData(all.drop(6): _*); q.processAllAvailable()
      // the window ENDING after day1 (covers days -5..1) must hold
      // the exact totals 4/8 across both batches
      val rows = spark.table("slo_stream")
        .groupBy($"win_end_us")
        .agg(org.apache.spark.sql.functions.max(org.apache.spark.sql
          .functions.struct($"n_events", $"n_errors", $"rate7_ppm",
            $"burning")).as("s"))
        .select($"win_end_us", $"s.*").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      val endDay2 = (19723L + 2) * 86400000000L
      assert(rows(endDay2) == ((8L, 4L, 500000L, 1L)),
        s"window ending day2: ${rows.get(endDay2)} of ${rows.keys}")
      // the window ending after day0 holds only day0's 1/4
      val endDay1 = (19723L + 1) * 86400000000L
      assert(rows(endDay1) == ((4L, 1L, 250000L, 0L)),
        s"window ending day1: ${rows.get(endDay1)}")
    } finally q.stop()
  }

  test("C67 streaming interarrival across batches == batch twin on exact-double gaps") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)  // seconds
    // one type, gaps 10s, 0s, 30s, 60s — small enough that every
    // double product is exact, so stream == batch bit-for-bit
    val all = Seq(0L, 10L, 10L, 40L, 100L).zipWithIndex
      .map { case (sec, i) => ("a", t(sec), i.toLong) }
    val in = MemoryStream[(String, java.sql.Timestamp, Long)]
    val q = CdcStream.interarrivalStream(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ia_stream").start()
    try {
      in.addData(all.take(3): _*); q.processAllAvailable()
      in.addData(all.drop(3): _*); q.processAllAvailable()
      val last = spark.table("ia_stream")
        .as[CdcStream.InterarrivalPoint].collect().maxBy(_.n_gaps)
      assert(last.n_gaps == 4L)
      val batch = graft.operators.Cdc.interarrival(
          all.map { case (ty, ts, id) => (id, 1L, ty, ts) }
            .toDF("event_id", "user_id", "event_type", "ts"))
        .collect().head
      def r6(x: Double) = BigDecimal(x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert((batch.getLong(1), batch.getDouble(2), batch.getDouble(3),
        batch.getDouble(4)) == ((last.n_gaps, r6(last.mean_us),
        r6(last.cv), r6(last.burstiness))),
        s"batch $batch vs stream $last")
    } finally q.stop()
  }

  test("C34 streaming CUSUM across batches == batch closed form (n-scaled)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s)
    // 4 x 1.00 then 4 x 3.00: mean 2.00 exactly -> target 200 cents;
    // split mid-shift across two micro-batches
    val all = (0 until 4).map(i => Change(1L, i.toLong, t(i), "U", 1.0)) ++
      (4 until 8).map(i => Change(1L, i.toLong, t(i), "U", 3.0))
    val in = MemoryStream[Change]
    val q = CdcStream.cusumStream(in.toDS(), targetCents = 200L)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("cusum_stream").start()
    try {
      in.addData(all.take(5): _*); q.processAllAvailable()
      in.addData(all.drop(5): _*); q.processAllAvailable()
      val rows = spark.table("cusum_stream").as[CdcStream.Drift]
        .collect().maxBy(_.n_events)
      assert(rows.n_events == 8L)
      // batch closed form over the same series (data-derived mean ==
      // the target here) scales every deviation by n
      val batch = graft.operators.Resilience.cusumDrift(
          all.map(c => (c.user_id, c.event_id, c.ts, c.value))
            .toDF("user_id", "event_id", "ts", "value"))
        .collect().head
      assert(batch.getLong(2) == 8L * rows.drift_up,
        s"batch ${batch.getLong(2)} vs 8 x ${rows.drift_up}")
      assert(batch.getLong(3) == 8L * rows.drift_down)
      assert(rows.drift_up > 0)
    } finally q.stop()
  }

  test("C31 kafka-schema envelope ingest == file-shaped twin (source independence)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the connector's exact wire schema: key/value binary, topic,
    // partition, offset, timestamp, timestampType — no broker needed
    // to prove the projection + parse, which is pure column math and
    // plans identically on the real kafka relation
    val envs = Seq(
      (0, 0L, """{"op":"I","ts_ms":1000,"after":{"user_id":7,"value":1.5}}"""),
      (0, 1L, """{"op":"U","ts_ms":2000,"after":{"user_id":7,"value":2.5}}"""),
      (1, 0L, """{"op":"I","ts_ms":1500,"after":{"user_id":9,"value":9.0}}"""),
      (1, 1L, """not json at all"""),
      (1, 2L, """{"op":"D","ts_ms":3000,"before":{"user_id":9,"value":9.0}}"""))
    val kIn = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long,
      java.sql.Timestamp, Int)]
    val kafkaShaped = kIn.toDS().toDF("key", "value", "topic", "partition",
      "offset", "timestamp", "timestampType")
    val q = CdcStream.kafkaEnvelopeChanges(kafkaShaped)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("kafka_changes").start()
    try {
      kIn.addData(envs.map { case (p, o, e) =>
        (Array.empty[Byte], e.getBytes("UTF-8"), "cdc", p, o,
          new java.sql.Timestamp(0L), 0) })
      q.processAllAvailable()
      val got = spark.table("kafka_changes").as[Change].collect()
        .sortBy(_.event_id)
      // file-shaped twin over the same envelope bytes, event_id built
      // with the same partition-stride encoding
      val fileTwin = CdcStream.envelopeChanges(
        envs.map { case (p, o, e) => (p.toLong * (1L << 44) + o, e) }
          .toDF("event_id", "env"))
        .collect().sortBy(_.event_id)
      assert(got.toSeq == fileTwin.toSeq, s"got ${got.toSeq}")
      assert(got.length == 4, "corrupt record must drop, not kill")
      // encoding: unique across partitions, monotone within one
      val ids = got.map(_.event_id)
      assert(ids.distinct.length == ids.length)
      assert(ids.filter(_ >= (1L << 44)).sorted.sameElements(
        ids.filter(_ >= (1L << 44))))
    } finally q.stop()
  }

  test("I15 streaming component maintenance: edge feed trails to the full labeling; replays are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files.createTempDirectory("graft_gs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gs_ck").toString
    val base = Seq((5L, 6L), (9L, 10L), (20L, 21L)).toDF("src", "dst")
    graft.operators.Graph.publishComponents(base,
      base.select($"src".as("id")).union(base.select($"dst".as("id"))), dir)
    val in = MemoryStream[(Long, Long)]
    in.addData((6L, 10L), (30L, 20L)) // batch 0: merge + new node
    in.addData((3L, 10L))             // batch 1: dethroning new min
    val q = graft.streaming.GraphStream.maintainComponents(
      in.toDF().toDF("src", "dst"), dir, ckpt)
    q.awaitTermination()
    val all = base.union(
      Seq((6L, 10L), (30L, 20L), (3L, 10L)).toDF("src", "dst"))
    def cc(df: DataFrame) =
      graft.operators.Graph.connectedComponentsAltStar(df,
          df.select($"src".as("id")).union(df.select($"dst".as("id"))))
        .as[(Long, Long)].collect().toMap
    val want = cc(all)
    def read() = graft.operators.Graph.readComponents(spark, dir)
      .as[(Long, Long)].collect()
    val got = read()
    assert(got.toMap == want && got.length == got.map(_._1).distinct.length,
      s"streamed ${got.toMap}\nfull $want")
    // full replay of an applied batch is a meta-gated skip
    val replay = Seq((6L, 10L), (30L, 20L)).toDF("src", "dst")
    assert(graft.streaming.GraphStream.streamEdgeBatch(dir, replay, 0L)
      == (-1L, -1L))
    // half-applied crash replay: batch 2's remap commit landed but the
    // labels commit did not — the replayed batch must skip the merge
    // (endpoints already share a component) and still add the node
    val halfDelta = Seq((100L, 3L)).toDF("src", "dst")
    val preMap = Seq((20L, 3L)).toDF("from_cid", "to_cid") // 20 -> 3
    graft.sources.Lake.Manifest.publishAppend(preMap, s"$dir/remaps",
      meta = "batch=2")
    // (20's component merging into 3 is exactly what (100,3)+(100,20)
    // would do; simulate the un-committed half by replaying the full
    // delta that produces it)
    val (m2, n2) = graft.streaming.GraphStream.streamEdgeBatch(dir,
      Seq((100L, 3L), (100L, 20L)).toDF("src", "dst"), 2L)
    assert(m2 == 0L && n2 == 1L, s"half-replay counts ($m2, $n2)")
    val fin = read()
    val wantFin = cc(all.union(halfDelta)
      .union(Seq((100L, 20L)).toDF("src", "dst")))
    assert(fin.toMap == wantFin &&
      fin.length == fin.map(_._1).distinct.length,
      s"half-replay ${fin.toMap}\nfull $wantFin")
  }

  test("I15 one-sided tagged batches register as applied: merge-only, newnode-only and no-op replays all meta-gate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gs1").toString
    val base = Seq((5L, 6L), (9L, 10L)).toDF("src", "dst")
    graft.operators.Graph.publishComponents(base,
      base.select($"src".as("id")).union(base.select($"dst".as("id"))), dir)
    // merge-only batch (no new nodes): the labels table still carries
    // the tag (empty commit), so a restart SKIPS instead of re-running
    val mergeOnly = Seq((6L, 10L)).toDF("src", "dst")
    assert(graft.streaming.GraphStream.streamEdgeBatch(dir, mergeOnly, 0L)
      == (1L, 0L))
    assert(graft.streaming.GraphStream.streamEdgeBatch(dir, mergeOnly, 0L)
      == (-1L, -1L), "merge-only batch did not register as applied")
    // newnode-only batch (no merges): same gate via the remaps side
    val nodeOnly = Seq((50L, 5L)).toDF("src", "dst")
    assert(graft.streaming.GraphStream.streamEdgeBatch(dir, nodeOnly, 1L)
      == (0L, 1L))
    assert(graft.streaming.GraphStream.streamEdgeBatch(dir, nodeOnly, 1L)
      == (-1L, -1L), "newnode-only batch did not register as applied")
    // fully-no-op batch (intra-component duplicate edge) too
    val nop = Seq((5L, 6L)).toDF("src", "dst")
    assert(graft.streaming.GraphStream.streamEdgeBatch(dir, nop, 2L)
      == (0L, 0L))
    assert(graft.streaming.GraphStream.streamEdgeBatch(dir, nop, 2L)
      == (-1L, -1L), "no-op batch did not register as applied")
    // and the labeling is still exact
    val all = base.union(mergeOnly).union(nodeOnly)
    val want = graft.operators.Graph.connectedComponentsAltStar(all,
        all.select($"src".as("id")).union(all.select($"dst".as("id"))))
      .as[(Long, Long)].collect().toMap
    val got = graft.operators.Graph.readComponents(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"got $got want $want")
  }

  test("I17 streaming triangle maintenance: edge feed trails to the exact full counts; replays skip") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gtr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gtr_ck").toString
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    graft.operators.Graph.publishTriangles(base, dir)
    val in = MemoryStream[(Long, Long)]
    in.addData((2L, 4L), (4L, 1L)) // closes {2,3,4}, {1,2,4}, {1,3,4}
    in.addData((5L, 1L), (5L, 2L)) // closes {1,2,5}
    val q = graft.streaming.GraphStream.maintainTriangles(
      in.toDF().toDF("src", "dst"), dir, ckpt)
    q.awaitTermination()
    val all = base.union(Seq((2L, 4L), (4L, 1L), (5L, 1L), (5L, 2L))
      .toDF("src", "dst"))
    val want = graft.operators.Graph.triangleCounts(all)
      .as[(Long, Long)].collect().toMap
    val got = graft.operators.Graph.readTriangles(spark, dir)
      .as[(Long, Long)].collect()
    assert(got.toMap == want &&
      got.length == got.map(_._1).distinct.length,
      s"streamed ${got.toMap}\nfull $want")
    // meta-gated full replay; un-gated replay is a semantic no-op
    assert(graft.streaming.GraphStream.streamTriangleBatch(dir,
      Seq((2L, 4L), (4L, 1L)).toDF("src", "dst"), 0L) == -1L)
    assert(graft.streaming.GraphStream.streamTriangleBatch(dir,
      Seq((5L, 2L)).toDF("src", "dst"), 99L) == 0L)
  }

  test("I16 streaming PageRank maintenance: edge feed trails to the exact full ranks; replays skip") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gpr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gpr_ck").toString
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
      .toDF("src", "dst")
    graft.operators.Graph.publishPageRank(base, dir)
    val in = MemoryStream[(Long, Long)]
    in.addData((9L, 2L), (4L, 1L)) // batch 0: new node + outdeg change
    in.addData((2L, 4L))           // batch 1: downstream ripple
    val q = graft.streaming.GraphStream.maintainPageRank(
      in.toDF().toDF("src", "dst"), dir, ckpt)
    q.awaitTermination()
    val all = base.union(
      Seq((9L, 2L), (4L, 1L), (2L, 4L)).toDF("src", "dst"))
    val want = graft.operators.Graph.pageRank(all, 5)
      .as[(Long, Long)].collect().toMap
    val got = graft.operators.Graph.readPageRank(spark, dir)
      .as[(Long, Long)].collect()
    assert(got.toMap == want &&
      got.length == got.map(_._1).distinct.length,
      s"streamed ${got.toMap}\nfull $want")
    // meta-gated full replay (batch 0 certainly ran; AvailableNow may
    // have folded both addData calls into it)
    assert(graft.streaming.GraphStream.streamPageRankBatch(dir,
      Seq((9L, 2L), (4L, 1L)).toDF("src", "dst"), 0L) == -1L)
    // un-gated replay of already-present edges: semantic no-op
    assert(graft.streaming.GraphStream.streamPageRankBatch(dir,
      Seq((2L, 4L)).toDF("src", "dst"), 99L) == 0L)
  }
}
