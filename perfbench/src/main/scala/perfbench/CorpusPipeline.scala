package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Pipeline
import graft.operators.{Dedup, Graph, TextAnalysis}
import graft.sources.Sink

/** The LLM training-data pipeline on a seed-generated corpus with planted
  * duplicates, near-duplicates, low-quality and repetitive documents and
  * PII strings; part of the traced run of `analytics_mix`.
  *
  * An iteration runs [[graft.Pipeline.trainingCorpus]] on base ∪ delta,
  * then [[graft.Pipeline.incrementalTraining]] on the base (building the
  * persisted state) and on the fixed-size delta. Every step ends in a
  * parquet write, so each timing covers its whole result. */
object CorpusPipeline {
  val BaseDocs = 400
  val DeltaDocs = 50
  val BaseFiles = 4
  /** `Dedup`'s stop-shingle document-frequency cap; the incremental
    * pipeline equals the batch one only while no shingle reaches it. */
  val DfCap = 50
  private val Ws = "[ \t\n\f\r]+"
  private val Stop = Array("the", "a", "and", "of", "to", "in", "is")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** The seeded corpus and what was planted in it. */
  final class Corpus(seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val vocab: Array[String] = Array.tabulate(4000) { i =>
      val sb = new StringBuilder("w")
      var x = i
      do { sb += ('a' + x % 26).toChar; x /= 26 } while (x > 0)
      sb.toString
    }
    val docs = mutable.ArrayBuffer[Doc]()
    /** (original doc_id, copy doc_id, kind) for each planted duplicate. */
    val planted = mutable.ArrayBuffer[(Long, Long, String)]()
    val kinds = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)

    private def words(n: Int): Array[String] = Array.fill(n) {
      if (rng.nextDouble() < 0.15) Stop(rng.nextInt(Stop.length)) else vocab(rng.nextInt(vocab.length))
    }
    private def add(text: String, kind: String): Long = {
      val id = docs.size.toLong
      docs += Doc(id, text, if (rng.nextDouble() < 0.6) "en" else "de",
        s"src${rng.nextInt(20)}", text.length.toLong)
      kinds(kind) += 1
      id
    }
    private def pick(from: Int): Doc = docs(from + rng.nextInt(docs.size - from))

    /** Appends `n` documents; planted copies refer to documents with
      * ids ≥ `from`, so delta copies can reach back into the base. */
    def generate(n: Int, from: Int): Unit = for (_ <- 0 until n) {
      val r = rng.nextDouble()
      if (r < 0.06 && docs.size > from) {
        val o = pick(from)
        // same normalized text: case and whitespace differ
        val t = o.text.split(" ").map(w => if (rng.nextDouble() < 0.3) w.toUpperCase else w)
          .mkString("  ")
        planted += ((o.doc_id, add(t, "exact_dup"), "exact"))
      } else if (r < 0.12 && docs.size > from) {
        val o = pick(from)
        val w = o.text.split(" ")
        if (w.length >= 40) {
          for (_ <- 0 until 2) w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.length))
          planted += ((o.doc_id, add(w.mkString(" "), "near_dup"), "near"))
        } else add(words(60).mkString(" "), "plain")
      } else if (r < 0.17) add(words(8 + rng.nextInt(12)).mkString(" "), "low_quality")
      else if (r < 0.20) {
        val hot = vocab(rng.nextInt(vocab.length))
        add(words(60).map(w => if (rng.nextDouble() < 0.45) hot else w).mkString(" "), "repetitive")
      } else if (r < 0.25) {
        val w = words(50 + rng.nextInt(40))
        w(rng.nextInt(w.length)) = s"user${rng.nextInt(10000)}@example.com"
        w(rng.nextInt(w.length)) = f"${200 + rng.nextInt(700)}-${rng.nextInt(1000)}%03d-${rng.nextInt(10000)}%04d"
        add(w.mkString(" "), "pii")
      } else add(words(45 + rng.nextInt(75)).mkString(" "), "plain")
    }

    /** Highest number of documents sharing one word 5-gram shingle. */
    def maxShingleDf: Int = {
      val df = mutable.HashMap[String, Int]().withDefaultValue(0)
      docs.foreach { d =>
        val w = d.text.trim.split(Ws)
        if (w.length >= 5) (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString(" "))
          .distinct.foreach(s => df(s) += 1)
      }
      if (df.isEmpty) 0 else df.values.max
    }
  }

  def normalized(t: String): String = t.replaceAll(Ws, " ").trim.toLowerCase

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  final case class Iter(trainMs: Double, baseMs: Double, deltaMs: Double,
      failures: Seq[String], kept: Set[Long])

  /** One pipeline iteration in fresh output directories. */
  def iteration(spark: SparkSession, tracer: Tracer, dir: Path, base: DataFrame,
      delta: DataFrame): Iter = {
    import spark.implicits._
    val out = dir.resolve("iteration")
    Env.deleteRecursively(out)
    def timed(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      tracer.span(name)(f)
      (System.nanoTime() - t0) / 1e6
    }
    val full = out.resolve("full").toString
    val inc = out.resolve("inc").toString
    val state = out.resolve("inc/state").toString
    val train = timed("Pipeline.trainingCorpus")(
      Pipeline.trainingCorpus(spark, base.unionByName(delta), full))
    val baseMs = timed("Pipeline.incrementalTraining")(Pipeline.incrementalTraining(spark, base, state, inc))
    val deltaMs = timed("Pipeline.incrementalTraining")(Pipeline.incrementalTraining(spark, delta, state, inc))

    // the incremental result equals the batch result on the same corpus
    def rows(df: DataFrame) = df.select($"doc_id", $"text", $"n_chars".cast("long"), $"split")
      .as[(Long, String, Long, String)].collect().toSet
    val fullRows = rows(spark.read.parquet(s"$full/corpus"))
    val incRows = rows(Pipeline.trainingSnapshot(spark, inc))
    val failures = mutable.ArrayBuffer[String]()
    if (fullRows != incRows)
      failures += "incremental snapshot differs from trainingCorpus " +
        s"(${(fullRows -- incRows).size} missing, ${(incRows -- fullRows).size} extra)"
    val texts = fullRows.toSeq.map(r => normalized(r._2))
    if (texts.distinct.size != texts.size)
      failures += "kept documents share normalized text"
    Iter(train, baseMs, deltaMs, failures.toSeq, fullRows.map(_._1))
  }

  /** The pipeline's public parts on the same corpus, each materialized,
    * as children of one traced step. */
  def parts(spark: SparkSession, tracer: Tracer, dir: Path, docs: DataFrame): Unit = {
    import spark.implicits._
    tracer.span("Pipeline.parts") {
      val pairs = tracer.span("Dedup.ngramJaccard") {
        val p = Dedup.ngramJaccard(docs).localCheckpoint(); p.count(); p
      }
      tracer.span("Graph.connectedComponents") {
        materialize(Graph.connectedComponents(
          pairs.select($"doc_a".as("src"), $"doc_b".as("dst")), docs.select($"doc_id".as("id"))))
      }
      tracer.span("Dedup.nearDupClusters")(materialize(Dedup.nearDupClusters(docs)))
      tracer.span("TextAnalysis.quality")(materialize(TextAnalysis.quality(docs)))
      tracer.span("TextAnalysis.repetition")(materialize(TextAnalysis.repetition(docs)))
      tracer.span("Sink.partitioned") {
        Sink.partitioned(docs.join(TextAnalysis.splitAssign(docs), Seq("doc_id")),
          dir.resolve("parts/corpus").toString, Seq("split"))
      }
    }
  }

  final case class Input(base: DataFrame, delta: DataFrame, corpus: Corpus,
      report: Seq[(String, Any)])

  /** Generates the corpus, writes it as several parquet files and checks
    * the incremental pipeline's documented preconditions. */
  def input(spark: SparkSession, dir: Path, seed: Long): Input = {
    import spark.implicits._
    val c = new Corpus(seed)
    c.generate(BaseDocs, 0)
    c.generate(DeltaDocs, 0)
    val baseDocs = c.docs.take(BaseDocs).toSeq
    val deltaDocs = c.docs.drop(BaseDocs).toSeq
    Env.deleteRecursively(dir.resolve("input"))
    def write(ds: Seq[Doc], name: String, files: Int): DataFrame = {
      val p = dir.resolve(s"input/$name").toString
      spark.createDataset(ds).repartition(files).write.parquet(p)
      spark.read.parquet(p)
    }
    val base = write(baseDocs, "base", BaseFiles)
    val delta = write(deltaDocs, "delta", 1)
    val maxDf = c.maxShingleDf
    val rising = deltaDocs.map(_.doc_id).min > baseDocs.map(_.doc_id).max
    val report = Seq("docs" -> c.docs.size, "base_docs" -> baseDocs.size,
      "delta_docs" -> deltaDocs.size,
      "planted_exact" -> c.planted.count(_._3 == "exact"),
      "planted_near" -> c.planted.count(_._3 == "near"),
      "kinds" -> c.kinds, "max_shingle_df" -> maxDf, "df_cap" -> DfCap,
      "doc_ids_rise_base_to_delta" -> rising)
    if (maxDf >= DfCap) throw new Refused(s"a shingle occurs in $maxDf documents (cap $DfCap)")
    if (!rising) throw new Refused("delta doc_ids do not all exceed the base's")
    Input(base, delta, c, report)
  }

  /** The traced run's corpus section: one pipeline iteration with its
    * checks, the pipeline's parts, and one `trainingCorpus` at
    * `local[1]` as the single-core reference. Adds the per-layer
    * metrics to `m`; returns check failures. */
  def traced(spark0: SparkSession, tracer: Tracer, args: Args,
      m: mutable.LinkedHashMap[String, Metric],
      report: mutable.LinkedHashMap[String, Any]): Seq[String] = {
    val dir = args.work.resolve("corpus")
    val in = input(spark0, dir, args.seed)
    in.report.foreach { case (k, v) => report("corpus." + k) = v }
    val it = iteration(spark0, tracer, dir, in.base, in.delta)
    val nDocs = in.corpus.docs.size.toDouble
    m("Pipeline.trainingCorpus_ms") = Metric(it.trainMs, "ms", Map("docs" -> nDocs))
    m("Pipeline.incrementalTraining_ms") = Metric(it.deltaMs, "ms",
      Map("delta_docs" -> DeltaDocs.toDouble, "base_run_ms" -> it.baseMs))
    parts(spark0, tracer, dir, in.base.unionByName(in.delta))
    val names = Seq("Dedup.ngramJaccard", "Graph.connectedComponents", "Dedup.nearDupClusters",
      "TextAnalysis.quality", "TextAnalysis.repetition", "Sink.partitioned")
    names.foreach(n => m(n + "_ms") = Metric(tracer.totalMs(n), "ms"))
    val (bytes, files) = Env.dirBytes(dir.resolve("parts/corpus"))
    m("Sink.bytes_written") = Metric(bytes.toDouble, "bytes")
    m("Sink.files_written") = Metric(files.toDouble, "count")
    val partsSum = names.map(tracer.totalMs).sum
    m("Pipeline.parts_coverage") = Metric(partsSum / it.trainMs, "ratio",
      Map("parts_ms" -> partsSum, "trainingCorpus_ms" -> it.trainMs))
    // planted duplicates removed ÷ planted: a pair counts as removed
    // unless both of its documents are kept
    val removed = in.corpus.planted.count { case (o, c, _) => !(it.kept(o) && it.kept(c)) }
    m("Dedup.planted_recall") = Metric(removed.toDouble / math.max(in.corpus.planted.size, 1),
      "ratio", Map("removed" -> removed.toDouble, "planted" -> in.corpus.planted.size.toDouble))
    m("Pipeline.docs_per_s") = Metric(nDocs / (it.trainMs / 1000), "1/s", Map("docs" -> nDocs))
    // single-core reference
    spark0.stop()
    val s1 = Env.session("local[1]", 1, args.work)
    val in1 = input(s1, args.work.resolve("corpus1"), args.seed)
    val t0 = System.nanoTime()
    Pipeline.trainingCorpus(s1, in1.base.unionByName(in1.delta),
      args.work.resolve("corpus1/full").toString)
    val ms1 = (System.nanoTime() - t0) / 1e6
    m("ref1.corpus_docs_per_s") = Metric(nDocs / (ms1 / 1000), "1/s", Map("cores" -> 1.0, "docs" -> nDocs))
    m("ref1.corpus_speedup") = Metric(ms1 / it.trainMs, "ratio",
      Map("local1_trainingCorpus_ms" -> ms1, "trainingCorpus_ms" -> it.trainMs))
    s1.stop()
    it.failures
  }
}
