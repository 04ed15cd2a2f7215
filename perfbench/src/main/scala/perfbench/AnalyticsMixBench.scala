package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators.Similarity

/** `analytics_mix`: one closed-loop client sends a seed-drawn sequence of
  * requests from a fixed weighted menu over the generated tables. Each
  * request is timed from building its DataFrame until its whole result
  * has been collected and checksummed — never a `count()`, which lets
  * Catalyst prune whole subtrees. */
object AnalyticsMixBench {
  final case class Req(cls: String, key: String, weight: Int, fixed: Boolean,
      build: SparkSession => DataFrame)

  // A subset of the registry per class: every distinct request costs a
  // cold first run of a few seconds in the warm-up pass, and a run's
  // time budget holds seven.
  val Relational = Seq("q_clean_real", "q_join_agg")
  val Resilience = Seq("q_drawdown")
  val CdcBatch = Seq("cdc_latest_state")
  val ShockPct = (1 to 10).map(_ * 0.05)
  val ShockHorizon = 1 to 5
  /** Pool of seed-drawn query batches for the similarity serve path. */
  val ServeBatches = 6
  val ServeQueries = 4

  final class Menu(dir: String, indexDir: String, seed: Long, vecs: Array[(Long, Array[Float])],
      vecsDf: DataFrame) {
    private def registry(cls: String, q: String, w: Int) =
      Req(cls, q, w, fixed = true, s => SparkEntry.queries(q)(s, dir))
    private val rng = new SplittableRandom(seed ^ 0x5eed)
    /** q_id, query vector */
    val serveBatches: IndexedSeq[Seq[(Long, Array[Double])]] = (0 until ServeBatches).map { b =>
      (0 until ServeQueries).map { i =>
        val base = vecs(rng.nextInt(vecs.length))._2
        (b * 100L + i, base.map(x => x + rng.nextGaussian() * 0.05))
      }
    }
    def shock(pct: Double, h: Int) = Req("GraftExtensions", f"graft_shock($pct%.2f,$h)", 0, fixed = false,
      s => s.sql(f"SELECT * FROM graft_shock('$dir', $pct%.2f, $h)"))
    def serve(b: Int) = Req("Similarity", s"serve($b)", 0, fixed = false, s => {
      import s.implicits._
      Similarity.queryIvfPqIndexRerank(s, indexDir, serveBatches(b).toDF("q_id", "qv"), vecsDf)
    })
    val fixed: Seq[Req] = Relational.map(registry("Relational", _, 1)) ++
      Resilience.map(registry("Resilience", _, 1)) ++
      CdcBatch.map(registry("Cdc", _, 1)) ++
      Seq(registry("TextAnalysis", "text_bm25_serve", 2))
    /** Copies of the parameterized requests per round. */
    val shocksPerRound = 2
    val servesPerRound = 2
    val roundSize: Int = fixed.map(_.weight).sum + shocksPerRound + servesPerRound

    /** The request sequence: rounds that each hold every fixed request
      * `weight` times and the parameterized ones with seed-drawn
      * parameters, in seed-shuffled order, so every whole round has the
      * same mix. */
    def sequence(r: SplittableRandom): Iterator[Req] = Iterator.continually {
      val round = mutable.ArrayBuffer[Req]()
      fixed.foreach(q => for (_ <- 0 until q.weight) round += q)
      for (_ <- 0 until shocksPerRound)
        round += shock(ShockPct(r.nextInt(ShockPct.size)), ShockHorizon(r.nextInt(ShockHorizon.size)))
      for (_ <- 0 until servesPerRound) round += serve(r.nextInt(ServeBatches))
      for (i <- round.indices.reverse) {
        val j = r.nextInt(i + 1); val t = round(i); round(i) = round(j); round(j) = t
      }
      round
    }.flatten
  }

  /** Order-independent checksum of a collected result. */
  def checksum(rows: Array[Row]): Long = {
    var s = 0L
    var i = 0
    while (i < rows.length) { s += scala.util.hashing.MurmurHash3.seqHash(rows(i).toSeq).toLong * 0x9E3779B97F4A7C15L; i += 1 }
    s ^ rows.length
  }

  final case class Done(req: Req, ms: Double, rows: Array[Row], df: DataFrame)

  def exec(spark: SparkSession, tracer: Tracer, req: Req, id: Long): Done = {
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val rows = tracer.span(s"${req.cls}.${req.key}", id) {
      df = req.build(spark)
      val r = df.collect()
      tracer.note("plan_ms", df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
      r
    }
    Done(req, (System.nanoTime() - t0) / 1e6, rows, df)
  }

  /** Exact cosine of every served (q_id, vec_id, cos) row, recomputed
    * from the vectors, and ranks in descending cosine order. */
  def checkServe(rows: Array[Row], batch: Seq[(Long, Array[Double])],
      vecs: Map[Long, Array[Float]]): Option[String] = {
    val qs = batch.toMap
    for (r <- rows) {
      val (q, v, cos) = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))
      val a = qs(q); val b = vecs(v)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i).toDouble * b(i) }
      val exact = dot / (math.sqrt(na) * math.sqrt(nb))
      if (math.abs(exact - cos) > 2e-6) return Some(s"serve q=$q vec=$v cos=$cos exact=$exact")
    }
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.collectFirst { case (q, rs) if rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos"))
        .sliding(2).exists(p => p.length == 2 && p(0) < p(1)) => s"serve q=$q ranks not by cosine" }
  }

  def run(args: Args): Outcome = {
    val dir = sys.props.getOrElse("perfbench.tables", sys.error("no tables"))
    val tracer = new Tracer(args.trace)
    val indexDir = args.work.resolve("ivfpq").toString
    val master = s"local[${args.cores}]"
    val (spark, repS) = Main.setup(args, tracer, master, args.cores)
    val vecsDf = graft.sources.Tables.embeddings(spark, dir)
    val vecs = vecsDf.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val vecMap = vecs.toMap
    val menu = new Menu(dir, indexDir, args.seed, vecs, vecsDf)
    val failures = mutable.ArrayBuffer[String]()
    val sums = mutable.HashMap[String, Long]()
    val oracle = mutable.ArrayBuffer[Map[String, String]]()
    val dumpDir = args.work.resolve("oracle")
    Env.deleteRecursively(dumpDir)

    /** Checks one result; the first result of each fixed request is
      * also dumped for the DuckDB oracle. Returns false on a failure. */
    def check(d: Done): Boolean = {
      val sum = checksum(d.rows)
      val first = !sums.contains(d.req.key)
      val prev = sums.getOrElseUpdate(d.req.key, sum)
      var ok = prev == sum
      if (!ok) failures += s"${d.req.key}: checksum differs between repeats"
      if (d.req.cls == "Similarity") {
        val b = d.req.key.stripPrefix("serve(").stripSuffix(")").toInt
        checkServe(d.rows, menu.serveBatches(b), vecMap).foreach { f => failures += f; ok = false }
      }
      if (d.rows.isEmpty) { failures += s"${d.req.key}: empty result"; ok = false }
      if (first && d.req.fixed && SparkEntry.oracleSql.contains(d.req.key)) {
        val p = dumpDir.resolve(d.req.key).toString
        d.df.coalesce(1).write.parquet(p)
        oracle += Map("name" -> d.req.key, "path" -> p, "sql" -> SparkEntry.oracleSql(d.req.key))
      }
      ok
    }

    // warm-up pass: the index build, then every distinct request once;
    // the first results are what repeats and the oracle are checked against
    var primed: Seq[Done] = Nil
    val warmS = Main.warmup(tracer) {
      tracer.span("Similarity.buildIvfPqIndex")(Similarity.buildIvfPqIndex(vecsDf, indexDir))
      primed = (menu.fixed :+ menu.shock(0.25, 3) :+ menu.serve(0)).map(r => exec(spark, new Tracer(false), r, -1))
    }
    primed.foreach(check)

    /** Whole rounds until `seconds` have passed (at least one). */
    def loop(t: Tracer, seconds: Double): (Seq[Done], Double) = {
      val reqs = menu.sequence(new SplittableRandom(args.seed))
      val out = mutable.ArrayBuffer[Done]()
      val t0 = System.nanoTime()
      var id = 0L
      while (id % menu.roundSize != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val d = exec(spark, t, reqs.next(), id)
        out += (if (check(d)) d.copy(rows = Array.empty) else d.copy(ms = Double.NaN, rows = Array.empty))
        id += 1
      }
      (out.toSeq, (System.nanoTime() - t0) / 1e9)
    }
    val (done, wallS) = loop(new Tracer(false), args.seconds)
    val ok = done.filterNot(_.ms.isNaN)
    val m = mutable.LinkedHashMap[String, Metric]()
    val report = mutable.LinkedHashMap[String, Any]()
    report("requests") = done.size
    report("requests_per_class") = done.groupBy(_.req.cls).map { case (k, v) => k -> v.size }
    report("p50_ms_per_class") = ok.groupBy(_.req.cls).map { case (k, v) => k -> Stats.pct(v.map(_.ms), 50) }
    report("setup_reps_s") = repS
    report("warmup_pass_s") = warmS
    report("oracle_checks") = oracle.size
    if (!args.trace) {
      m("setup_s") = Metric(Stats.median(repS) + warmS, "s")
      m("peak_rss_mb") = Metric(Env.peakRssMb(), "MB")
      m("work_per_s") = Metric(done.size / wallS, "1/s")
      m("latency_p50_ms") = Metric(Stats.pct(ok.map(_.ms), 50), "ms")
      m("latency_p95_ms") = Metric(Stats.pct(ok.map(_.ms), 95), "ms")
    } else {
      val a = tracer.mark()
      val (tdone, tWall) = loop(tracer, args.seconds)
      val b = tracer.mark()
      val reqSpans = tracer.all.filter(s => s.req >= 0 && s.start >= a.wallNs && s.end <= b.wallNs)
      m ++= tracer.engineMetrics(a, b, tdone.size.toLong, args.cores,
        Some(Stats.median(reqSpans.flatMap(_.notes.get("plan_ms")))))
      m("GraftSession.create_ms") = Metric(Stats.median(tracer.durations("GraftSession.create")), "ms")
      m("setup.warmup_ms") = Metric(warmS * 1000, "ms")
      m("Similarity.buildIvfPqIndex_ms") = Metric(tracer.totalMs("Similarity.buildIvfPqIndex"), "ms")
      def p50(cls: String) = Stats.pct(tdone.filter(_.req.cls == cls).map(_.ms), 50)
      Seq("Relational", "Resilience", "Cdc").foreach(c => m(s"$c.p50_ms") = Metric(p50(c), "ms"))
      m("GraftExtensions.shock_p50_ms") = Metric(p50("GraftExtensions"), "ms")
      m("TextAnalysis.bm25_p50_ms") = Metric(p50("TextAnalysis"), "ms")
      m("Similarity.serve_p50_ms") = Metric(p50("Similarity"), "ms")
      val inputs = reqSpans.map(s => s -> tracer.inclusive(_.id == s.id).inputBytes)
      m("Tables.input_bytes") = Metric(Stats.median(inputs.map(_._2.toDouble)), "bytes")
      m("Tables.input_files") = Metric(Stats.median(tdone.map(_.df.inputFiles.length.toDouble)), "count")
      m("Similarity.serve_input_bytes") = Metric(Stats.median(inputs.filter(_._1.name.startsWith("Similarity."))
        .map(_._2.toDouble)), "bytes")
      // recall of the served top-k against exact brute force, for the
      // corpus vectors Similarity.bruteforce uses as its queries
      val bf = Similarity.bruteforce(vecsDf).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      val qids = bf.map(_._1).distinct.sorted
      import spark.implicits._
      val served = Similarity.queryIvfPqIndexRerank(spark, indexDir,
        qids.toSeq.map(q => (q, vecMap(q).map(_.toDouble))).toDF("q_id", "qv"), vecsDf).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).filter { case (q, v) => q != v }
      val hit = bf.count(served.toSet)
      m("Similarity.recall_at_3") = Metric(hit.toDouble / math.max(bf.length, 1), "ratio",
        Map("hits" -> hit.toDouble, "exact" -> bf.length.toDouble))
      // untraced again, so the traced round is bracketed by untraced ones
      // and JIT warm-up over the run does not read as tracing overhead
      val (done2, wall2) = loop(new Tracer(false), args.seconds)
      val uQps = (done.size / wallS + done2.size / wall2) / 2
      val tQps = tdone.size / tWall
      m("trace.overhead_frac") = Metric(1 - tQps / uQps, "ratio",
        Map("traced_req_per_s" -> tQps, "untraced_req_per_s" -> uQps))
      failures ++= CorpusPipeline.traced(spark, tracer, args, m, report)
      tracer.writeSpans(args.work.resolve("../trace/analytics_mix.spans.jsonl").normalize)
    }
    spark.stop()
    Outcome(done.size.toLong, done.count(_.ms.isNaN).toLong, failures.toSeq, m, report,
      Map("oracle" -> oracle.toSeq, "oracle_tables" -> dir))
  }
}
