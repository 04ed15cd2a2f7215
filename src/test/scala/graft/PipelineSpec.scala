package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.sources.Lake.Manifest

/** End-to-end pipeline: dedup → quality → split → partitioned write. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  test("cleanCorpus produces a partitioned, consistent output corpus") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val docs = Tables.documents(spark, GraftTestSession.sf)
    val r = Pipeline.cleanCorpus(spark, docs, out)
    assert(r.kept == r.train + r.`val` + r.test)
    assert(r.kept + r.dropped_dupes + r.dropped_quality == docs.count())
    // written corpus round-trips with the split partition column
    val back = spark.read.parquet(s"$out/corpus")
    assert(back.count() == r.kept)
    assert(back.columns.contains("split"))
    val dirs = new java.io.File(s"$out/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs.forall(_.startsWith("split=")))
    // pipeline is deterministic end to end
    val out2 = java.nio.file.Files.createTempDirectory("graft_pipe2").toString
    assert(Pipeline.cleanCorpus(spark, docs, out2) == r)
  }

  /** (doc_id, split, md5 of text) of the plain `dir/corpus` that
    * cleanCorpus and incrementalCorpus write. */
  private def cleanCorpusRows(dir: String) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.md5
    spark.read.parquet(s"$dir/corpus")
      .select($"doc_id", $"split", md5($"text").as("fp"))
      .as[(Long, String, String)].collect().toSet
  }

  test("incrementalCorpus: base + deltas equals one full recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, GraftTestSession.sf)
    val n = docs.count()
    val base = docs.filter($"doc_id" < n / 2)
    // delta 1: next quarter of the corpus, plus a re-send of a base
    // doc's content under a NEW (higher) id — the daily-ingest dup
    val resend = base.filter($"doc_id" === 3)
      .withColumn("doc_id", lit(n + 1))
    val d1 = docs.filter($"doc_id" >= n / 2 && $"doc_id" < 3 * n / 4)
      .unionByName(resend)
    // delta 2: the rest, plus a re-send of a DELTA-1 doc's content
    val resend2 = docs.filter($"doc_id" === n / 2 + 1)
      .withColumn("doc_id", lit(n + 2))
    val d2 = docs.filter($"doc_id" >= 3 * n / 4).unionByName(resend2)

    val incOut = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val state = s"$incOut/state"
    val r0 = Pipeline.incrementalCorpus(spark, base, state, incOut)
    val r1 = Pipeline.incrementalCorpus(spark, d1, state, incOut)
    val r2 = Pipeline.incrementalCorpus(spark, d2, state, incOut)
    assert(r0.dropped_seen == 0)
    assert(r1.dropped_seen >= 1, "re-sent base content must be dropped by state")
    assert(r2.dropped_seen >= 1, "re-sent delta-1 content must be dropped by state")

    // one full batch recompute over everything ever ingested
    val fullOut = java.nio.file.Files.createTempDirectory("graft_full").toString
    val all = base.unionByName(d1).unionByName(d2)
    val rf = Pipeline.cleanCorpus(spark, all, fullOut)
    assert(r0.appended + r1.appended + r2.appended == rf.kept)

    // identical corpus: same (doc_id, split, text-fingerprint) rows
    assert(cleanCorpusRows(incOut) == cleanCorpusRows(fullOut),
      "incremental corpus diverged from full recompute")

    // a second run of an already-seen delta is a no-op on the corpus
    val r3 = Pipeline.incrementalCorpus(spark, d2, state, incOut)
    assert(r3.appended == 0 && r3.dropped_seen == d2.count())
    assert(cleanCorpusRows(incOut) == cleanCorpusRows(fullOut))
  }

  test("trainingCorpus: clusters, gates, scrubs and splits end to end") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_train").toString
    val base = Tables.documents(spark, GraftTestSession.sf)
    val n = base.count()
    // adversarial rows: a PII doc, a replica of doc 0 (must cluster
    // away), and a degenerate repetition doc (must gate away)
    val extra = Seq(
      (n + 1, "reach me at alice@example.com or 555-867-5309 " +
        "the quick brown fox jumps over the lazy dog in the morning"),
      (n + 3, "spam " * 60)) // 60x one token -> top_token_ppm 1e6
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
      .withColumn("n_chars", length($"text"))
    val replica = base.filter($"doc_id" === 0)
      .withColumn("doc_id", lit(n + 2))
    val docs = base.unionByName(extra.select(base.columns.map(col): _*))
      .unionByName(replica)
    val r = Pipeline.trainingCorpus(spark, docs, out)
    assert(r.kept == r.train + r.`val` + r.test)
    assert(r.kept + r.dropped_cluster_dupes + r.dropped_quality +
      r.dropped_repetition == docs.count())
    assert(r.dropped_cluster_dupes >= 1, "replica must cluster away")
    assert(r.dropped_repetition >= 1, "degenerate doc must gate away")
    val back = spark.read.parquet(s"$out/corpus")
    assert(back.count() == r.kept)
    // no unredacted PII anywhere in the written corpus
    assert(back.filter($"text".rlike(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count() == 0)
    val pii = back.filter($"doc_id" === n + 1)
    if (pii.count() == 1) { // survives gates -> must be scrubbed
      val t = pii.select("text").as[String].head()
      assert(t.contains("[EMAIL]") && t.contains("[PHONE]"), t)
    }
  }

  // ---- incremental near-dup canonicalization (VERDICT r3 #4/#5) ----

  /** Distinct-vocabulary word blocks: every shingle is unique to its
    * block, so the stop-shingle DF cap never bites and pair structure
    * is fully controlled. Quality score for such text is
    * min(words × 10000, 10⁶) / 2 — keep gate (≥ 200000) needs ≥ 40
    * words. */
  private def blk(tag: String, n: Int): Seq[String] =
    (0 until n).map(i => s"${tag}q$i")

  private def mkDocs(rows: Seq[(Long, Seq[String])]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
      .withColumn("n_chars", length($"text"))
  }

  /** The base + two deltas of the incrementalTraining equality spec:
    * d1 dethrones emitted keepers and merges two clusters (a
    * non-empty remap log); d2 re-sends doc 5's text under id 120. */
  private def deltaCorpora = {
    val a = blk("a", 20); val b = blk("b", 20); val c = blk("c", 20)
    val x = blk("x", 50); val d = blk("d", 30)
    val base = mkDocs(Seq(
      1L -> x,                                  // keeper of cluster X
      2L -> (x.dropRight(1) :+ "xvariant"),     // near-dup of 1, same score
      5L -> (a ++ b),                           // cluster Y keeper
      6L -> (b ++ c),                           // cluster Z keeper (j(5,6)≈0.29)
      7L -> d))                                 // canonical but FAILS quality
    val d1 = mkDocs(Seq(
      100L -> (x ++ blk("e", 10)),   // dethrones 1 (higher score, j≈0.82)
      101L -> (a ++ b ++ c),         // BRIDGES Y and Z, wins merged cluster
      110L -> blk("f", 40)))         // fresh singleton
    val d2 = mkDocs(Seq(
      120L -> (a ++ b),              // exact copy of 5's text: member only
      121L -> (d ++ blk("g", 15))))  // dethrones never-emitted keeper 7
    (base, d1, d2)
  }

  private def corpusRows(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select($"doc_id", $"text", $"n_chars".cast("long"), $"split")
      .as[(Long, String, Long, String)].collect().toSet
  }

  test("incrementalTraining: base + deltas == full trainingCorpus recompute") {
    val (base, d1, d2) = deltaCorpora
    val incOut = java.nio.file.Files.createTempDirectory("graft_itr").toString
    val state = s"$incOut/state"
    val r0 = Pipeline.incrementalTraining(spark, base, state, incOut)
    val r1 = Pipeline.incrementalTraining(spark, d1, state, incOut)
    val r2 = Pipeline.incrementalTraining(spark, d2, state, incOut)
    assert(r0.tombstoned == 0 && r0.merged_clusters == 0)
    assert(r1.tombstoned == 3, s"1, 5 and 6 dethroned: $r1") // by 100 and 101
    assert(r1.merged_clusters >= 1, s"Y+Z must merge: $r1")
    assert(r2.appended == 1 && r2.tombstoned == 0,
      s"121 appended, 7 was never emitted: $r2")

    val inc = corpusRows(Pipeline.trainingSnapshot(spark, incOut))
    val full = fullTrainingRows(base, d1, d2)
    assert(inc == full, s"inc=${inc.map(_._1)} full=${full.map(_._1)}")
    assert(inc.map(_._1) == Set(100L, 101L, 110L, 121L))
  }

  /** trainingCorpus over base ∪ d1 ∪ d2 — what every incremental run
    * over the three, interrupted or not, must equal. */
  private def fullTrainingRows(base: org.apache.spark.sql.DataFrame,
      d1: org.apache.spark.sql.DataFrame,
      d2: org.apache.spark.sql.DataFrame) = {
    val fullOut = java.nio.file.Files.createTempDirectory("graft_cfull").toString
    Pipeline.trainingCorpus(spark, base.unionByName(d1).unionByName(d2),
      fullOut)
    corpusRows(spark.read.parquet(s"$fullOut/corpus"))
  }

  // ---- crash injection: every compaction is commit-then-delete ----

  test("a crash inside compactRemaps or compactTrainingCorpus loses nothing") {
    val (base, d1, d2) = deltaCorpora
    val incOut = java.nio.file.Files.createTempDirectory("graft_crt").toString
    val state = s"$incOut/state"
    Pipeline.incrementalTraining(spark, base, state, incOut)
    Pipeline.incrementalTraining(spark, d1, state, incOut)
    // the fold dies at its first delete of pre-existing state; the
    // retried fold and every later run must see all of it
    CrashingLocalFs.crashIn(spark, incOut)(
      Pipeline.compactRemaps(spark, state, maxRemapRows = 0L))
    Pipeline.compactRemaps(spark, state, maxRemapRows = 0L)
    CrashingLocalFs.crashIn(spark, incOut)(
      Pipeline.compactTrainingCorpus(spark, incOut))
    val r2 = Pipeline.incrementalTraining(spark, d2, state, incOut)
    assert(r2.appended == 1 && r2.tombstoned == 0, s"$r2")
    Pipeline.compactTrainingCorpus(spark, incOut)
    val inc = corpusRows(Pipeline.trainingSnapshot(spark, incOut))
    val full = fullTrainingRows(base, d1, d2)
    assert(inc == full, s"inc=${inc.map(_._1)} full=${full.map(_._1)}")
    assert(inc.map(_._1) == Set(100L, 101L, 110L, 121L))
  }

  test("compactRemaps ignores a members__compact left by a crashed fold") {
    val (base, d1, d2) = deltaCorpora
    val incOut = java.nio.file.Files.createTempDirectory("graft_crl").toString
    val state = s"$incOut/state"
    Pipeline.incrementalTraining(spark, base, state, incOut)
    Pipeline.incrementalTraining(spark, d1, state, incOut)
    val before = corpusRows(Pipeline.trainingSnapshot(spark, incOut))
    spark.range(1).write.parquet(s"$state/members__compact")
    Pipeline.compactRemaps(spark, state, maxRemapRows = 0L)
    assert(Manifest.readPublished(spark, s"$state/remaps").count() == 0)
    assert(corpusRows(Pipeline.trainingSnapshot(spark, incOut)) == before)
    Pipeline.incrementalTraining(spark, d2, state, incOut)
    assert(corpusRows(Pipeline.trainingSnapshot(spark, incOut)) ==
      fullTrainingRows(base, d1, d2))
  }

  test("a crash inside incrementalCorpus's state compaction loses nothing") {
    val (base, d1, d2) = deltaCorpora
    val out = java.nio.file.Files.createTempDirectory("graft_crc").toString
    val state = s"$out/state"
    Pipeline.incrementalCorpus(spark, base, state, out)
    CrashingLocalFs.crashIn(spark, out)(
      Pipeline.incrementalCorpus(spark, d1, state, out, maxStateFiles = 0))
    // the next delta run: doc 120 re-sends doc 5's text
    val r2 = Pipeline.incrementalCorpus(spark, d2, state, out)
    assert(r2.dropped_seen == 1 && r2.appended == 1, s"$r2")
    val fullOut = java.nio.file.Files.createTempDirectory("graft_crcf").toString
    Pipeline.cleanCorpus(spark, base.unionByName(d1).unionByName(d2), fullOut)
    assert(cleanCorpusRows(out) == cleanCorpusRows(fullOut))
  }

  test("compactRemaps bounds the remap log across many merging runs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 5 disjoint-vocabulary cluster pairs (a_i++b_i, b_i++c_i); each
    // delta run bridges one pair (a_i++b_i++c_i), producing >=1 merge
    // and so >=1 remap row per run
    val pairs = (0 until 5).map { i =>
      (blk(s"a$i", 20), blk(s"b$i", 20), blk(s"c$i", 20)) }
    val base = mkDocs(pairs.zipWithIndex.flatMap { case ((a, b, c), i) =>
      Seq((10L + 2 * i) -> (a ++ b), (11L + 2 * i) -> (b ++ c)) })
    val incOut = java.nio.file.Files.createTempDirectory("graft_rmc").toString
    val state = s"$incOut/state"
    Pipeline.incrementalTraining(spark, base, state, incOut)
    pairs.zipWithIndex.foreach { case ((a, b, c), i) =>
      val r = Pipeline.incrementalTraining(spark,
        mkDocs(Seq((100L + i) -> (a ++ b ++ c))), state, incOut)
      assert(r.merged_clusters >= 1, s"run $i produced no merge: $r")
      // zero bound forces the fold every run (production default only
      // folds past 100k log rows); the log must be empty afterwards
      Pipeline.compactRemaps(spark, state, maxRemapRows = 0L)
      assert(Manifest.readPublished(spark, s"$state/remaps").count() == 0,
        s"run $i: remap log not truncated")
    }
    // base + 5 deltas ACROSS 5 folds still equals one full recompute
    val fullOut = java.nio.file.Files.createTempDirectory("graft_rmf").toString
    val all = base.unionByName(mkDocs(
      pairs.zipWithIndex.map { case ((a, b, c), i) =>
        (100L + i) -> (a ++ b ++ c) }))
    Pipeline.trainingCorpus(spark, all, fullOut)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text", $"n_chars".cast("long"), $"split")
        .as[(Long, String, Long, String)].collect().toSet
    val inc = rows(Pipeline.trainingSnapshot(spark, incOut))
    val full = rows(spark.read.parquet(s"$fullOut/corpus"))
    assert(inc == full, s"inc=${inc.map(_._1)} full=${full.map(_._1)}")
    assert(inc.map(_._1) == (0 until 5).map(100L + _).toSet)
    // idempotence: folding again with an already-empty log is a no-op
    Pipeline.compactRemaps(spark, state, maxRemapRows = 0L)
    assert(rows(Pipeline.trainingSnapshot(spark, incOut)) == full)
  }

  test("compactRemaps resolves a 120k-row deep-chain remap log distributively (no driver materialization)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a merge STORM between compactions: 2000 chains, 60 hops each —
    // 120k log rows (past the 100k production bound), chain terminals
    // at c*1000. The resolver is pointer doubling, so this needs ~6
    // self-join rounds; the old driver fold collected all 120k rows
    val state = java.nio.file.Files.createTempDirectory("graft_rms").toString
    val nChains = 2000L
    val hops = 60
    Manifest.publishSnapshot(spark.range(nChains)
      .select($"id".as("c"), explode(expr(s"sequence(1, $hops)")).as("p"))
      .selectExpr("c*1000 + p as from_cid", "c*1000 + p - 1 as to_cid"),
      s"$state/remaps")
    // members point at arbitrary chain DEPTHS; keepers at others
    Manifest.publishSnapshot(spark.range(nChains)
      .selectExpr("5000000 + id as doc_id",
        s"id*1000 + ${hops} as cid0", "1L as run"), s"$state/members")
    Manifest.publishSnapshot(spark.range(nChains)
      .selectExpr("id*1000 + 37 as cid", "6000000 + id as keeper_doc_id",
        "500000L as score_ppm", "false as emitted", "1L as run"),
      s"$state/keepers")
    def st(sub: String) = Manifest.readPublished(spark, s"$state/$sub")
    // unit check of the resolver itself: every key lands on its
    // chain's terminal
    val closure = Pipeline.resolveRemapClosure(st("remaps"))
    assert(closure.count() == nChains * hops)
    assert(closure.filter($"__eff" =!= ($"__from" - $"__from" % 1000))
      .count() == 0, "some chain did not resolve to its terminal")
    // the production entry point at its default 100k bound
    Pipeline.compactRemaps(spark, state)
    assert(st("remaps").count() == 0, "log not truncated after fold")
    assert(st("members").filter($"cid0" % 1000 =!= 0).count() == 0,
      "members carry unresolved cids")
    assert(st("keepers").filter($"cid" % 1000 =!= 0).count() == 0,
      "keepers carry unresolved cids")
    assert(st("members").count() == nChains &&
      st("keepers").count() == nChains)
  }

  test("resilienceReport replays the reference notebook end-to-end from xlsx") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Table 2/Table 3-shaped workbooks synthesized FROM the
    // reference's own cleaned data: wide Industry × Year sheets with
    // a numbering column, deduped keep-first like pandas .values[0]
    // (the dup-label industries appear once, as their first rows)
    val path = getClass.getResource("/reference/clean_va_price.csv").getPath
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Industry",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("Year",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("Nominal_Value",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("Price_Index",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("Real_Value",
        org.apache.spark.sql.types.DoubleType)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"Industry", $"Year").orderBy($"_ord")
    val deduped = graft.sources.Csv.clean(
        graft.sources.Csv.read(spark, path, schema))
      .withColumn("_ord", monotonically_increasing_id())
      .withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1).drop("_rn", "_ord")
      .localCheckpoint()
    def wide(valueCol: String) = deduped
      .groupBy($"Industry".as("Line")).pivot("Year")
      .agg(first(col(valueCol)))
      .orderBy($"Line")
      .withColumn("num", monotonically_increasing_id())
      .select(($"num" +: $"Line" +: deduped.select($"Year").distinct()
        .orderBy($"Year").collect().map(r => col(r.getLong(0).toString))
        .toSeq): _*)
    val dir = java.nio.file.Files.createTempDirectory("graft_report")
    val t2 = dir.resolve("table2.xlsx").toString
    val t3 = dir.resolve("table3.xlsx").toString
    graft.sources.Excel.write(wide("Nominal_Value"), t2, "Table 2")
    graft.sources.Excel.write(wide("Price_Index"), t3, "Table 3")
    val outX = dir.resolve("metrics.xlsx").toString
    val outC = dir.resolve("metrics_csv").toString
    val got = Pipeline.resilienceReport(spark, t2, t3, "Table 2", "Table 3",
      skipRows = 0, baseYear = 2019L, shockYear = 2020L, horizon = 4L,
      outXlsx = Some(outX), outCsv = Some(outC))
    // expected: the validated B23 replay twin over the same deduped
    // frame with the same recomputed deflation — equality is exact
    val expected = graft.operators.Resilience.resilienceReplayOn(
      graft.operators.Resilience.Series(
        deduped.withColumn("Real_Value",
          $"Nominal_Value" * 100.0 / $"Price_Index"),
        "Industry", "Year", "Real_Value"),
      "Year", 2019L, 2020L, 4L)
    def strRows(d: org.apache.spark.sql.DataFrame) = d
      .select(d.columns.map(c => col(c).cast("string")): _*)
      .collect().map(_.toSeq.map(Option(_))).toSet
    val g = strRows(got)
    assert(g.size == 93 && g == strRows(expected))
    // both hand-off artifacts re-read intact
    assert(graft.sources.Excel.read(spark, outX, "Metrics").count() == 93)
    assert(spark.read.option("header", "true").csv(outC).count() == 93)
  }

  test("incrementalCorpus bounds its hash-state file count under compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, GraftTestSession.sf)
    val out = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    val state = s"$out/state"
    val slices = (0 until 5).map(k =>
      docs.filter($"doc_id" % 5 === k))
    slices.foreach(s =>
      Pipeline.incrementalCorpus(spark, s, state, out, maxStateFiles = 3))
    val files = Manifest.readPublished(spark, state).inputFiles.length
    assert(files <= 3, s"state not compacted: $files files published")
    // the vacuum deleted every superseded file
    val onDisk = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get(state, "data")))(
      _.filter(_.toString.endsWith(".parquet")).count())
    assert(onDisk <= 3, s"state not vacuumed: $onDisk parquet files")
    // state still correct after in-place compaction: a re-send of an
    // already-ingested doc's content is dropped
    val resend = docs.filter($"doc_id" === 1)
      .withColumn("doc_id", lit(10000000L))
    val r = Pipeline.incrementalCorpus(spark, resend, state, out,
      maxStateFiles = 3)
    assert(r.dropped_seen == 1 && r.appended == 0, s"$r")
  }

  test("observedWrite QA counters ride the write and match recomputed truth") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, GraftTestSession.sf)
      .withColumn("lang", when(col("doc_id") % 7 === 0, lit(null)
        .cast("string")).otherwise(col("lang")))
    val out = java.nio.file.Files.createTempDirectory("graft_obs").toString
    val m = Pipeline.observedWrite(docs, s"$out/corpus", Seq("source"),
      Seq("lang", "text"))
    val truthRows = docs.count()
    val truthNullLang = docs.filter(col("lang").isNull).count()
    assert(m("n_rows") == truthRows, s"$m")
    assert(m("nulls_lang") == truthNullLang && m("nulls_lang") > 0, s"$m")
    assert(m("nulls_text") == 0, s"$m")
    // the written corpus is complete and partitioned
    assert(spark.read.parquet(s"$out/corpus").count() == truthRows)
  }
}
