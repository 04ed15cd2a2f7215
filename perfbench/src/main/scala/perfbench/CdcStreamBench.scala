package perfbench

import java.nio.file.{Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sources.{Lake, Sink}
import graft.streaming.CdcStream
import graft.streaming.CdcStream.{Change, UserState}

/** `cdc_stream`: an open-loop change feed through
  * [[graft.streaming.CdcStream.latestState]] into a bucket-partitioned
  * parquet table maintained by [[graft.sources.Lake.mergeIntoPartitioned]].
  *
  * One generator thread appends to a `MemoryStream` on a fixed schedule.
  * Event k of a phase at rate r is due at phase start + k / r and its
  * latency runs from that due time to the end of the `foreachBatch` that
  * merged it into the table, so a stall also charges the events queued
  * behind it. */
object CdcStreamBench {
  val Users = 5000
  val Buckets = 4
  val ZipfS = 1.1
  val DeleteShare = 0.08
  val OutOfOrderShare = 0.05
  val MaxLagUs = 2000000L
  /** Latency is measured at this one rate on every commit; the seed
    * commit keeps up with it with a bounded backlog. */
  val RefRate = 2000.0
  /** Catch-up bursts: events appended at once, after the stream is idle. */
  val BurstEvents = 20000
  val Bursts = 2
  /** Micro-batches the query completes before anything is measured. */
  val LeadBatches = 2
  /** Seconds at the reference rate before latency is measured. */
  val SettleS = 2.0
  /** The generator appends once per tick. Each append becomes one
    * `MemoryStream` input partition (one task), as one poll of a
    * partitioned log would; events wait for their tick, and that wait
    * counts in their latency. */
  val TickMs = 20L

  private val Epoch0Us = 1704067200000000L // 2024-01-01T00:00:00Z
  private def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Seeded change generator; it also keeps its own last-writer-wins
    * map, ordered by (ts, event_id), as the reference for the check. */
  final class Gen(seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Users)(i => 1.0 / math.pow(i + 1, ZipfS))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    // a seed-drawn permutation, so hot keys are spread over buckets
    private val perm: Array[Int] = {
      val p = Array.range(0, Users)
      for (i <- Users - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    private val deleted = new Array[Boolean](Users)
    val lwTs: Array[Long] = Array.fill(Users)(Epoch0Us - 3600L * 1000000L)
    val lwId: Array[Long] = Array.tabulate(Users)(u => -1L - u)
    val lwOp: Array[String] = Array.fill(Users)("I")
    val lwVal: Array[Double] = Array.tabulate(Users)(u => (u % 1000) / 10.0)
    val perKey = new Array[Long](Users)
    var nextId = 0L
    var nIns, nUpd, nDel, nOoo = 0L

    def snapshot: Seq[(Long, String, Double, Timestamp, Long, Int)] =
      (0 until Users).map(u => (u.toLong, "I", lwVal(u), ts(lwTs(u)), lwId(u), u % Buckets))

    def next(dueUs: Long): Change = {
      val r = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, r)
      if (i < 0) i = -i - 1
      val u = perm(math.min(i, Users - 1))
      val op =
        if (deleted(u)) "I"
        else if (rng.nextDouble() < DeleteShare) "D" else "U"
      op match { case "I" => nIns += 1; case "D" => nDel += 1; case _ => nUpd += 1 }
      deleted(u) = op == "D"
      val late = rng.nextDouble() < OutOfOrderShare
      val tUs = Epoch0Us + dueUs - (if (late) { nOoo += 1; 1 + rng.nextLong(MaxLagUs) } else 0L)
      val v = math.rint(rng.nextDouble() * 100000) / 100.0
      val id = nextId; nextId += 1
      perKey(u) += 1
      if (tUs > lwTs(u) || (tUs == lwTs(u) && id > lwId(u))) {
        lwTs(u) = tUs; lwId(u) = id; lwOp(u) = op; lwVal(u) = v
      }
      Change(u.toLong, id, ts(tUs), op, v)
    }

    /** Expected table: the newest change per key, deletes removed. */
    def expected: Map[Long, (String, Double, Long, Long)] =
      (0 until Users).filter(u => lwOp(u) != "D")
        .map(u => u.toLong -> (lwOp(u), lwVal(u), lwTs(u), lwId(u))).toMap

    def report: Seq[(String, Any)] = {
      val n = (nIns + nUpd + nDel).toDouble
      val top = perKey.sorted(Ordering[Long].reverse).take(math.max(1, Users / 100)).sum
      Seq("events" -> n.toLong, "top1pct_key_share" -> top / n,
        "delete_share" -> nDel / n, "insert_share" -> nIns / n,
        "out_of_order_share" -> nOoo / n)
    }
  }


  /** What one stream run measured. */
  final case class Pass(leadS: Double, latMs: Array[Double], burstEps: Seq[Double],
      progress: Seq[StreamingQueryProgress], mergeMs: Seq[Double],
      backlogMax: Long, backlogSlope: Double, latenessMaxMs: Double,
      mismatches: Seq[String], report: Seq[(String, Any)],
      changedRows: Long, tableBytes: Long, tableRows: Long)

  private def offsetOf(json: String): Long =
    if (json == null || json == "null") -1L else json.trim.toLong

  /** One stream run on a fresh table: a lead-in until `LeadBatches`
    * micro-batches have completed (the query's own warm-up, at a tenth
    * of the reference rate), `bursts` catch-up bursts, then `latencyS`
    * seconds at the reference rate, each followed by a drain. */
  def pass(spark: SparkSession, tracer: Tracer, dir: Path, seed: Long,
      latencyS: Double, bursts: Int): Pass = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Env.deleteRecursively(dir)
    val wall0 = System.nanoTime()
    val lake = dir.resolve("lake").toString
    val gen = new Gen(seed)
    tracer.span("Sink.partitioned") {
      Sink.partitioned(gen.snapshot.toDF("user_id", "last_op", "last_value",
        "last_ts", "last_event_id", "bucket"), lake, Seq("bucket"))
    }

    val applied = new AtomicLong(0)
    val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()
    val batchEnd = new ConcurrentHashMap[Long, java.lang.Long]()
    val mergeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val changed = new AtomicLong(0)
    val input = MemoryStream[Change]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0 && progress.putIfAbsent(p.batchId, p) == null)
          applied.addAndGet(p.numInputRows)
      }
    }
    spark.streams.addListener(listener)
    val sink: (Dataset[UserState], Long) => Unit = (b, id) => {
      // persisted: the merge reads its delta several times, and the
      // stateful operator must run once per batch
      val delta = b.toDF().select($"user_id",
        pmod($"user_id", lit(Buckets.toLong)).cast("int").as("bucket"),
        $"last_op", $"last_value", $"last_ts", $"last_event_id",
        when($"deleted", lit("d")).otherwise(lit("u")).as("op")).persist()
      val t0 = System.nanoTime()
      tracer.span("Lake.mergeIntoPartitioned", id) {
        Lake.mergeIntoPartitioned(spark, lake, "bucket", "user_id", delta)
      }
      val t1 = System.nanoTime()
      changed.addAndGet(delta.count())
      delta.unpersist()
      mergeMs.add((t1 - t0) / 1e6)
      batchEnd.put(id, t1)
    }
    val q = CdcStream.latestState(input.toDS()).writeStream
      .outputMode("update")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .foreachBatch(sink)
      .start()

    // offset of each append -> (first event's due time, ns per event, count)
    val ticks = mutable.HashMap[Long, (Long, Double, Int)]()
    val latencyOffsets = mutable.HashSet[Long]()
    var appended = 0L
    var backlogMax = 0L
    var latenessMax = 0L
    var leadEnd = 0L
    var latencyFrom = Long.MaxValue
    val samples = mutable.ArrayBuffer[(Double, Double)]()
    val burstSpans = mutable.ArrayBuffer[(Long, Long)]() // (append time, offset)
    /** Appends at `r` events/s from `t0`, one append per tick, until
      * `done`; each event is due at t0 + k / r. */
    def openLoop(r: Double, t0: Long, done: Long => Boolean, measure: Boolean): Unit = {
      val periodNs = 1e9 / r
      var k = 0L
      var now = t0
      while (!done(now)) {
        val due = ((now - t0) / periodNs).toLong + 1
        if (due > k) {
          val batch = (k until due).map(j => gen.next((t0 - wall0) / 1000 + (j * periodNs / 1000).toLong))
          val off = input.addData(batch).json().trim.toLong
          ticks(off) = (t0 + (k * periodNs).toLong, periodNs, (due - k).toInt)
          appended += due - k
          if (measure) {
            latenessMax = math.max(latenessMax, System.nanoTime() - (t0 + (k * periodNs).toLong))
            latencyOffsets += off
          }
          k = due
        }
        if (measure) {
          val backlog = appended - applied.get
          backlogMax = math.max(backlogMax, backlog)
          samples += (((now - t0) / 1e9, backlog.toDouble))
        }
        val next = t0 + ((now - t0) / (TickMs * 1000000L) + 1) * TickMs * 1000000L
        Thread.sleep(math.max(1L, (next - System.nanoTime()) / 1000000L))
        now = System.nanoTime()
      }
    }
    def drain(): Unit = {
      val d0 = System.nanoTime()
      while (applied.get < appended && System.nanoTime() - d0 < 60e9.toLong) Thread.sleep(5)
    }
    try {
      // lead-in: the query's first micro-batches at a tenth of the rate
      val start = System.nanoTime()
      openLoop(RefRate / 10, start, _ => progress.size >= LeadBatches || System.nanoTime() - start > 120e9.toLong,
        measure = false)
      drain()
      leadEnd = System.nanoTime()
      // catch-up bursts: a stall's worth of events lands in one append
      for (_ <- 0 until bursts) {
        val batch = (0 until BurstEvents).map(_ => gen.next((System.nanoTime() - wall0) / 1000))
        val b0 = System.nanoTime()
        val off = input.addData(batch).json().trim.toLong
        appended += batch.size
        ticks(off) = (b0, 0.0, batch.size)
        burstSpans += ((b0, off))
        drain()
      }
      // open loop at the reference rate; events due in the first
      // `SettleS` are not measured, so the window starts in the rate's
      // steady batch rhythm rather than on an idle stream
      val t0 = System.nanoTime()
      val from = t0 + (SettleS * 1e9).toLong
      latencyFrom = from
      openLoop(RefRate, t0, now => now >= from + (latencyS * 1e9).toLong, measure = true)
      drain()
      q.processAllAvailable()
    } finally {
      q.stop()
    }
    val w0 = System.nanoTime()
    while (progress.values.asScala.map(_.numInputRows).sum < appended &&
        System.nanoTime() - w0 < 10e9.toLong) Thread.sleep(10)
    spark.streams.removeListener(listener)

    // each offset's applying batch end
    val appliedAt = mutable.HashMap[Long, Long]()
    progress.values.asScala.foreach { p =>
      val end = batchEnd.get(p.batchId)
      val s = p.sources.head
      if (end != null)
        for (off <- offsetOf(s.startOffset) + 1 to offsetOf(s.endOffset)) appliedAt(off) = end
    }
    val lat = mutable.ArrayBuffer[Double]()
    var measured = 0L
    latencyOffsets.foreach { off =>
      val (due0, per, c) = ticks(off)
      var j = 0
      while (j < c) {
        val due = due0 + (j * per).toLong
        if (due >= latencyFrom) {
          measured += 1
          appliedAt.get(off).foreach(end => lat += (end - due) / 1e6)
        }
        j += 1
      }
    }
    val burstEps = burstSpans.toSeq.flatMap { case (b0, off) =>
      appliedAt.get(off).map(end => BurstEvents / ((end - b0) / 1e9))
    }

    // correctness: the table equals the generator's last-writer-wins map
    val table = spark.read.parquet(lake)
    val got = table
      .select($"user_id", $"last_op", $"last_value", $"last_ts", $"last_event_id")
      .collect().map { r =>
        val t = r.getTimestamp(3)
        r.getLong(0) -> (r.getString(1), r.getDouble(2),
          t.getTime * 1000 + (t.getNanos / 1000) % 1000, r.getLong(4))
      }
    val exp = gen.expected
    val mism = mutable.ArrayBuffer[String]()
    if (got.length != got.map(_._1).distinct.length) mism += "duplicate keys in the table"
    val gotMap = got.toMap
    (exp.keySet ++ gotMap.keySet).toSeq.sorted.foreach { u =>
      if (exp.get(u) != gotMap.get(u) && mism.size < 5)
        mism += s"user $u: expected ${exp.get(u)}, table ${gotMap.get(u)}"
    }
    if (lat.size != measured) mism += s"${measured - lat.size} events never applied"
    if (burstEps.size != bursts) mism += "a burst was not applied"
    Pass((leadEnd - wall0) / 1e9, lat.toArray, burstEps, progress.values.asScala.toSeq.sortBy(_.batchId),
      mergeMs.asScala.toSeq, backlogMax, Stats.slope(samples.toSeq), latenessMax / 1e6,
      mism.toSeq, gen.report, changed.get, Env.dirBytes(Paths.get(lake))._1, got.length.toLong)
  }

  def run(args: Args): Outcome = {
    val tracer = new Tracer(args.trace)
    val master = s"local[${args.cores}]"
    val (spark0, repS) = Main.setup(args, tracer, master, args.cores)
    var spark = spark0
    val latencyS = args.seconds * 0.8
    def measure(t: Tracer, tag: String) =
      pass(spark, t, args.work.resolve(s"cdc/$tag"), args.seed, latencyS, Bursts)
    val p = measure(new Tracer(false), "main")
    val m = mutable.LinkedHashMap[String, Metric]()
    val report = mutable.LinkedHashMap[String, Any]()
    p.report.foreach { case (k, v) => report("gen." + k) = v }
    report("gen.lateness_ms_max") = p.latenessMaxMs
    report("latency_samples") = p.latMs.length
    report("catch_up_events_per_s") = p.burstEps
    report("batches") = p.progress.size
    report("batch_ms") = p.progress.map(_.durationMs.getOrDefault("triggerExecution", 0L))
    report("setup_reps_s") = repS
    report("lead_in_s") = p.leadS
    val failures = mutable.ArrayBuffer[String]() ++ p.mismatches
    if (!args.trace) {
      m("setup_s") = Metric(Stats.median(repS) + p.leadS, "s")
      m("peak_rss_mb") = Metric(Env.peakRssMb(), "MB")
      m("work_per_s") = Metric(Stats.median(p.burstEps), "1/s")
      m("latency_p50_ms") = Metric(Stats.pct(p.latMs, 50), "ms")
      m("latency_p95_ms") = Metric(Stats.pct(p.latMs, 95), "ms")
    } else {
      val a = tracer.mark()
      val t = measure(tracer, "traced")
      val b = tracer.mark()
      failures ++= t.mismatches
      val batches = t.progress.size.toLong
      m ++= tracer.engineMetrics(a, b, batches, args.cores,
        Some(Stats.median(t.progress.map(_.durationMs.getOrDefault("queryPlanning", 0L).toDouble))))
      def dur(k: String) = Stats.median(t.progress.map(_.durationMs.getOrDefault(k, 0L).toDouble))
      def st[T](f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        t.progress.flatMap(_.stateOperators.headOption).map(f)
      m("GraftSession.create_ms") = Metric(Stats.median(tracer.durations("GraftSession.create")), "ms")
      m("setup.warmup_ms") = Metric(p.leadS * 1000, "ms")
      m("Lake.mergeIntoPartitioned_ms") = Metric(Stats.median(t.mergeMs), "ms",
        Map("batches" -> t.mergeMs.size.toDouble))
      val mergeAcc = tracer.inclusive(_.name == "Lake.mergeIntoPartitioned")
      val rowBytes = t.tableBytes.toDouble / math.max(t.tableRows, 1L)
      val changedBytes = t.changedRows * rowBytes
      m("Lake.write_amp") = Metric(mergeAcc.outputBytes / math.max(changedBytes, 1.0), "ratio",
        Map("bytes_rewritten" -> mergeAcc.outputBytes.toDouble, "changed_row_bytes" -> changedBytes,
          "changed_rows" -> t.changedRows.toDouble, "table_bytes_per_row" -> rowBytes))
      m("CdcStream.trigger_ms") = Metric(dur("triggerExecution"), "ms")
      m("CdcStream.queryPlanning_ms") = Metric(dur("queryPlanning"), "ms")
      m("CdcStream.commit_ms") = Metric(Stats.median(t.progress.map(x =>
        (x.durationMs.getOrDefault("walCommit", 0L) + x.durationMs.getOrDefault("commitOffsets", 0L)).toDouble)), "ms")
      m("CdcStream.addBatch_ms") = Metric(dur("addBatch"), "ms")
      m("CdcStream.state_rows") = Metric(st(_.numRowsTotal.toDouble).lastOption.getOrElse(0.0), "count")
      m("CdcStream.state_bytes") = Metric(st(_.memoryUsedBytes.toDouble).lastOption.getOrElse(0.0), "bytes")
      m("CdcStream.state_commit_ms") = Metric(Stats.median(st(_.commitTimeMs.toDouble)), "ms")
      m("CdcStream.rows_per_batch") = Metric(Stats.median(t.progress.map(_.numInputRows.toDouble)), "count")
      m("CdcStream.backlog_rows_max") = Metric(t.backlogMax.toDouble, "count")
      m("CdcStream.backlog_slope") = Metric(t.backlogSlope, "1/s")
      m("gen.lateness_ms_max") = Metric(t.latenessMaxMs, "ms")
      // untraced again, so the traced pass is bracketed by untraced ones
      // and JIT warm-up over the run does not read as tracing overhead
      val p2 = measure(new Tracer(false), "main2")
      failures ++= p2.mismatches
      val up50 = (Stats.pct(p.latMs, 50) + Stats.pct(p2.latMs, 50)) / 2
      val tp50 = Stats.pct(t.latMs, 50)
      m("trace.overhead_frac") = Metric(tp50 / up50 - 1, "ratio",
        Map("traced_latency_p50_ms" -> tp50, "untraced_latency_p50_ms" -> up50))
      // single-core reference: the same stream at the reference rate
      spark.stop()
      spark = Env.session("local[1]", 1, args.work)
      val r1 = pass(spark, new Tracer(false), args.work.resolve("cdc/local1"), args.seed,
        latencyS, 0)
      failures ++= r1.mismatches
      m("ref1.cdc_latency_p50_ms") = Metric(Stats.pct(r1.latMs, 50), "ms",
        Map("cores" -> 1.0, "rate" -> RefRate))
      m("ref1.cdc_speedup") = Metric(Stats.pct(r1.latMs, 50) / up50, "ratio",
        Map("local1_latency_p50_ms" -> Stats.pct(r1.latMs, 50), "latency_p50_ms" -> up50))
      tracer.writeSpans(args.work.resolve("../trace/cdc_stream.spans.jsonl").normalize)
    }
    spark.stop()
    Outcome(p.progress.size.toLong, if (failures.isEmpty) 0 else 1, failures.toSeq, m, report)
  }
}
