package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators for LLM training-data pipelines
  * (SURVEY.md §2.F), over the `documents` table.
  *
  * Everything is per-row column math (regexp + array functions) —
  * embarrassingly parallel, whole-stage-codegen friendly, no shuffle
  * except the final profile aggregation in F5. All regexes are chosen
  * to evaluate identically under Java regex (Spark) and RE2-ish
  * (DuckDB) so the oracles compare exactly.
  */
object TextAnalysis {

  private val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  // Dedup.Ws: explicit whitespace class (Java \s ⊃ RE2 \s on \x0B)
  private def tokens(c: Column): Column = split(trim(c), Dedup.Ws)

  /** F1 token counting: whitespace tokens + a BPE-ish word/punct
    * regex count. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id",
        size(tokens($"text")).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))
          .cast("long").as("n_re_tokens"),
        length($"text").cast("long").as("n_chars_calc"))
      .orderBy($"doc_id")
  }

  /** F2 quality scoring: length/punct/stopword signals + keep filter —
    * the classic pre-training quality gate shape. Ratios and the
    * composite score are integer parts-per-million (floor division on
    * BIGINT), so the result is bit-exact across engines — no float
    * rounding ties. */
  /** Appends the F2 quality columns (through `score_ppm`) to any frame
    * with a `text` column — shared by `quality` and `qualityPrune`. */
  private[graft] def withQualityCols(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sw = Stopwords.mkString("|")
    docs
      .withColumn("n_tok", size(tokens($"text")).cast("long"))
      .withColumn("n_chars_d", greatest(length($"text").cast("long"), lit(1L)))
      .withColumn("n_punct",
        size(expr("regexp_extract_all(text, '[.,!?;:()]', 0)")).cast("long"))
      .withColumn("n_stop",
        size(expr(s"regexp_extract_all(text, '\\\\b($sw)\\\\b', 0)")).cast("long"))
      .withColumn("punct_ppm", expr("(n_punct * 1000000) div n_chars_d"))
      .withColumn("stop_ppm", expr("(n_stop * 1000000) div greatest(n_tok, 1)"))
      .withColumn("score_ppm", expr(
        "least(n_tok * 10000, 1000000) div 2 + stop_ppm div 2 - punct_ppm div 5"))
  }

  def quality(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    withQualityCols(docs)
      .withColumn("keep", $"score_ppm" >= 200000L)
      .select($"doc_id", $"n_tok", $"punct_ppm", $"stop_ppm",
        $"score_ppm", $"keep")
      .orderBy($"doc_id")
  }

  /** F49 Gopher quality rules (Rae et al. 2021, Table A1 — the
    * published repetition-free heuristic gate nearly every LLM
    * corpus pipeline since has reused, distinct from [[quality]]'s
    * blended score: Gopher is a conjunction of HARD thresholds):
    * word count in [50, 100000], mean word length in [3, 10],
    * <90% of lines bullet-led, <30% of lines ellipsis-ended, >80%
    * of words containing an alphabetic character, and ≥2 distinct
    * stopword hits ("the be to of and that have with"). Every rule
    * is evaluated as an INTEGER cross-multiplication (len_sum ≥ 3n
    * rather than len_sum/n ≥ 3, bullet·10 < lines·9, alpha·5 >
    * words·4) so there is no float and no engine disagreement at the
    * threshold. Shape: ONE projection pass over the corpus (all
    * signals are row-local HOF/regex counts inside codegen), no
    * shuffle before the export sort — on 100 TB this is a pure
    * map-stage filter, the cheapest possible gate. */
  def gopherRules(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val stops = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    val t = docs
      .select($"doc_id", tokens($"text").as("w"),
        split($"text", "\n").as("lines"))
      .select($"doc_id",
        size($"w").cast("long").as("n_words"),
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x))")
          .as("len_sum"),
        size(expr("filter(w, x -> x rlike '[a-zA-Z]')")).cast("long")
          .as("alpha_words"),
        size($"lines").cast("long").as("n_lines"),
        size(expr(
          "filter(lines, x -> x like '-%' or x like '*%')"))
          .cast("long").as("bullet_lines"),
        size(expr("filter(lines, x -> x like '%...')")).cast("long")
          .as("ellipsis_lines"),
        stops.map(sw => when(array_contains($"w", sw), 1L)
          .otherwise(0L)).reduce(_ + _).as("stop_hits"))
    t.select($"doc_id", $"n_words", $"len_sum", $"alpha_words",
        $"n_lines", $"bullet_lines", $"ellipsis_lines", $"stop_hits",
        ($"n_words" >= 50L && $"n_words" <= 100000L &&
          $"len_sum" >= $"n_words" * 3 &&
          $"len_sum" <= $"n_words" * 10 &&
          $"bullet_lines" * 10 < $"n_lines" * 9 &&
          $"ellipsis_lines" * 10 < $"n_lines" * 3 &&
          $"alpha_words" * 5 > $"n_words" * 4 &&
          $"stop_hits" >= 2L).as("keep"))
      .orderBy($"doc_id")
  }

  /** F3 language-ID by marker profiles (n-gram-heuristic family):
    * per-language marker counts, argmax with fixed precedence.
    * Latin-script languages count `\b`-delimited marker WORDS; zh
    * counts CJK-Unified-Ideograph CHARS (`[\x{4E00}-\x{9FFF}]`) —
    * Chinese has no word boundaries, so `\b` markers would be
    * systematically blind to it (char-class counts are the standard
    * fix). zh wins ties first: any ideograph present is decisive in a
    * way shared Latin stopwords are not. */
  /** Projection-only langid core (no sort, no label compare) —
    * shared by the batch report and the C57 streaming gate. */
  private[graft] def withLangPred(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val markers = Map(
      "en" -> "the|a|of",
      "es" -> "la|el|los|de",
      "fr" -> "le|la|les|des",
      "de" -> "der|die|das|und")
    val scored = markers.foldLeft(docs) {
      case (df, (lang, pat)) => df.withColumn(s"s_$lang",
        size(expr(s"regexp_extract_all(text, '\\\\b($pat)\\\\b', 0)")).cast("long"))
    }.withColumn("s_zh",
      size(expr("regexp_extract_all(text, '[\\\\x{4E00}-\\\\x{9FFF}]', 0)"))
        .cast("long"))
    scored
      .withColumn("best", greatest($"s_en", $"s_es", $"s_fr", $"s_de", $"s_zh"))
      .withColumn("lang_pred",
        when($"best" === 0, "und")
          .when($"s_zh" === $"best", "zh")
          .when($"s_en" === $"best", "en")
          .when($"s_es" === $"best", "es")
          .when($"s_fr" === $"best", "fr")
          .otherwise("de"))
  }

  def langId(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    withLangPred(docs)
      .select($"doc_id", $"s_en", $"s_es", $"s_fr", $"s_de", $"s_zh",
        $"lang_pred", ($"lang_pred" === $"lang").as("matches_label"))
      .orderBy($"doc_id")
  }

  /** F4 document fingerprinting: md5 of normalized text (stable
    * content address) + coarse length bucket. */
  def fingerprint(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id",
        substring(md5(lower(trim(regexp_replace($"text", Dedup.Ws, " ")))), 1, 16)
          .as("fp16"),
        floor(length($"text") / 100).cast("long").as("len_bucket"))
      .orderBy($"doc_id")
  }

  /** F5 corpus n-gram profile: top-20 word bigrams (count desc,
    * bigram asc) — partial-aggregated explode, one shuffle. */
  def ngramProfile(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(split(trim($"text"), Dedup.Ws).as("w"))
      .filter(size($"w") >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"""
          .stripMargin)).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(20)
  }

  /** F6 TF-IDF top terms per document. Inverted-index shape: one
    * explode, two hash aggregates, one size-adaptive join of the df
    * table (AQE broadcasts it while small, shuffle-joins a web-scale
    * vocabulary) — no cross-product. Oracle note: ln() is
    * libm-evaluated on both engines; scores are ranked on the shared
    * doubles and exported rounded to 4, which absorbs any last-ulp
    * libm skew — verified hash-stable at sf0.001/0.01/0.1. */
  def tfidf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val n = docs.count()
    val terms = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = terms.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
    // no broadcast hint: Catalyst/AQE broadcasts the df table while it
    // fits autoBroadcastJoinThreshold and shuffle-joins a web-scale
    // vocabulary — the hint would pin an unbounded table to the driver
    tf.join(df, "term")
      .withColumn("score", $"tf" * log(lit(n.toDouble) / $"df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df",
        round($"score", 4).as("score"))
      .orderBy($"doc_id", $"rank")
  }

  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75
  private[graft] val Bm25Query = Seq("spark", "window", "scan")

  /** F15 BM25 ranked retrieval (Robertson & Spärck Jones probabilistic
    * weighting in the Lucene practical form) — the retrieval twin of
    * F6's TF-IDF, and the scoring a training-data pipeline uses for
    * query-targeted corpus selection (e.g. quality-proxy retrieval
    * against a seed query set):
    * idf(t) = ln(1 + (N − df + ½)/(df + ½)) — never negative, unlike
    * the raw log-odds form; tf-norm = tf·(k1+1)/(tf + k1·(1 − b +
    * b·dl/avgdl)) saturates term frequency and penalizes long docs;
    * score(d) = Σ_{t ∈ q} idf·tfnorm over the fixed query terms.
    * Plan shape: one explode, the per-doc length aggregate, a
    * query-term filter BEFORE the tf aggregate (work ∝ posting lists
    * of the query terms, not the corpus vocabulary), df over the same
    * filtered frame, top-k via orderBy+limit (TakeOrderedAndProject —
    * no global sort). All counts BIGINT; avgdl is one double ratio of
    * two exact BIGINTs; ln is libm on both engines and the score is
    * ranked on shared doubles then exported rounded to 4 — the F6
    * precedent, hash-stable. */
  def bm25(docs: DataFrame, queryTerms: Seq[String] = Bm25Query,
      k: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val n = docs.count()
    // ONE tokenization pass: every downstream frame (doc lengths,
    // query-term tf, df) derives from the per-doc term counts, which
    // are materialized (doc × distinct-term rows, far smaller than
    // the corpus text) — without the checkpoint each consumer would
    // re-scan and re-tokenize the corpus
    val tcounts = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val dl = tcounts.groupBy($"doc_id").agg(sum($"c").as("dl"))
    val totTok = dl.agg(sum($"dl")).collect()(0).getLong(0)
    val avgdl = totTok.toDouble / n
    val tf = tcounts.filter($"term".isin(queryTerms: _*))
      .select($"doc_id", $"term", $"c".as("tf"))
    // tcounts is already distinct per (doc, term): df = row count
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .join(dl, "doc_id")
      .withColumn("idf",
        log(lit(1.0) + (lit(n.toDouble) - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("part", $"idf" * ($"tf" * lit(Bm25K1 + 1.0)) /
        ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
          lit(Bm25B) * $"dl" / lit(avgdl))))
      .groupBy($"doc_id")
      .agg(sum($"part").as("raw"), count(lit(1)).as("n_terms_hit"))
      .select($"doc_id", round($"raw", 4).as("score"), $"n_terms_hit")
      .orderBy(round($"raw", 4).desc, $"doc_id")
      .limit(k)
  }

  // ---------------------------------------------------------------
  // F46 INCREMENTAL BM25 INDEX — the C×F bridge (the fourth leg
  // next to I15/I16/I17): a document CDC feed maintains a SERVED
  // retrieval index without retokenizing the corpus. State under
  // `dir` is three Manifest tables — `postings` (term, doc_id, tf)
  // laid out by term-hash bucket so a query's serve read is
  // PARTITION-PRUNED to its terms' buckets (the E8 pruned-serve
  // shape, applied to text); `docs` (doc_id, dl) with EVERY doc
  // (dl = 0 for token-less ones — N and avgdl must count them
  // exactly as the batch operator does); and a single-row `meta`
  // (n_docs, total_len) snapshot folded forward per batch. Appends
  // are both SEMANTICALLY idempotent (new docs anti-join the docs
  // table, so a full replay of an applied untagged batch commits
  // nothing) and, when tagged, PER-TABLE gated (each table skips
  // its commit if its metas already carry the tag) — so a crash
  // between the three commits replays cleanly: committed tables
  // skip, the missing ones complete, exactly once end to end.
  // Served scores replay the bm25() arithmetic verbatim, so
  // base+deltas == the one-shot batch ranking (spec-pinned).
  // ---------------------------------------------------------------

  import graft.sources.Lake

  private val Bm25Buckets = 64
  private def termBucket(c: Column): Column =
    pmod(xxhash64(c), lit(Bm25Buckets.toLong))

  /** Per-doc term counts and EVERY doc's length (0 when token-less). */
  private[graft] def bm25Frames(docs: DataFrame): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    val tcounts = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = docs.select($"doc_id")
      .join(tcounts.groupBy($"doc_id").agg(sum($"tf").as("l")),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"l", lit(0L)).as("dl"))
      .localCheckpoint()
    (tcounts, dl)
  }

  /** Publish the BM25 index base state for `docs` under `dir`. */
  def publishBm25Index(docs: DataFrame, dir: String): Unit = {
    import docs.sparkSession.implicits._
    val (tcounts, dl) = bm25Frames(docs)
    Lake.Manifest.publishSnapshot(
      tcounts.select($"term", $"doc_id", $"tf", termBucket($"term").as("tb")),
      s"$dir/postings", partitionBy = Seq("tb"))
    Lake.Manifest.publishSnapshot(dl.withColumn("src", lit("")),
      s"$dir/docs")
    Lake.Manifest.publishSnapshot(
      dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("total_len")),
      s"$dir/meta")
  }

  /** Apply one batch of NEW documents (doc_id, text): tokenize only
    * the batch, append its postings (bucket-partitioned) and doc
    * lengths, fold the meta row forward. Returns the number of docs
    * added (0 = replay/no-op).
    *
    * Replay exactness: docs rows carry the tag that committed them
    * (`src`), and a TAGGED call anti-joins against every doc NOT
    * from its own tag — so a crash-window replay (e.g. postings and
    * docs landed, meta did not) recomputes the identical `added`
    * set, the already-committed tables skip via their tag gates, and
    * the missing commit completes with the right delta. */
  def appendBm25Docs(spark: SparkSession, dir: String, batch: DataFrame,
      meta: String = ""): Long = {
    import spark.implicits._
    def gated(table: String): Boolean = meta.nonEmpty &&
      Lake.Manifest.carriesMeta(spark, Seq(s"$dir/$table"), meta)
    val docsTbl = Lake.Manifest.readPublished(spark, s"$dir/docs")
    val existing = (if (meta.nonEmpty) docsTbl.filter($"src" =!= meta)
      else docsTbl).select($"doc_id")
    val added = batch.select($"doc_id", $"text")
      .join(existing, Seq("doc_id"), "left_anti").localCheckpoint()
    val nNew = added.count()
    if (nNew == 0L) return 0L
    val (tcounts, dl) = bm25Frames(added)
    // postings FIRST, docs second (docs is the anti-join gate for
    // untagged replays), meta last; each commit skips if its tag
    // already landed, so any crash window replays exactly once
    if (!gated("postings"))
      Lake.Manifest.publishAppend(
        tcounts.select($"term", $"doc_id", $"tf",
          termBucket($"term").as("tb")),
        s"$dir/postings", partitionBy = Seq("tb"), meta = meta)
    if (!gated("docs"))
      Lake.Manifest.publishAppend(dl.withColumn("src", lit(meta)),
        s"$dir/docs", meta = meta)
    if (!gated("meta")) {
      val old = Lake.Manifest.readPublished(spark, s"$dir/meta")
        .collect()(0)
      val d = dl.agg(count(lit(1)), sum($"dl")).collect()(0)
      Lake.Manifest.publishSnapshot(
        Seq((old.getLong(0) + d.getLong(0), old.getLong(1) + d.getLong(1)))
          .toDF("n_docs", "total_len"),
        s"$dir/meta", meta = meta)
    }
    nNew
  }

  /** Serve a BM25 query from the published index: the postings read
    * is driver-side PRUNED to the query terms' hash buckets (at
    * corpus scale: |terms|/64 of the posting files opened, the rest
    * never touched), df comes from the pruned postings, N/avgdl from
    * the one-row meta — the corpus text is NEVER read or tokenized
    * at query time. Arithmetic is bm25()'s, verbatim. */
  def queryBm25Index(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Bm25Query, k: Int = 10): DataFrame = {
    import spark.implicits._
    val m = Lake.Manifest.readPublished(spark, s"$dir/meta").collect()(0)
    val n = m.getLong(0)
    val avgdl = m.getLong(1).toDouble / n
    val buckets = queryTerms.toDF("term")
      .select(termBucket($"term")).as[Long].collect().distinct
    val posts = Lake.Manifest.readPublishedPruned(spark,
        s"$dir/postings", "tb", buckets.map(_.toString).toSeq)
      .filter($"term".isin(queryTerms: _*))
      .select($"doc_id", $"term", $"tf")
    val df = posts.groupBy($"term").agg(count(lit(1)).as("df"))
    val dl = Lake.Manifest.readPublished(spark, s"$dir/docs")
      .select($"doc_id", $"dl")
    posts.join(df, "term")
      .join(dl, "doc_id")
      .withColumn("idf",
        log(lit(1.0) + (lit(n.toDouble) - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("part", $"idf" * ($"tf" * lit(Bm25K1 + 1.0)) /
        ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
          lit(Bm25B) * $"dl" / lit(avgdl))))
      .groupBy($"doc_id")
      .agg(sum($"part").as("raw"), count(lit(1)).as("n_terms_hit"))
      .select($"doc_id", round($"raw", 4).as("score"), $"n_terms_hit")
      .orderBy(round($"raw", 4).desc, $"doc_id")
      .limit(k)
  }

  /** The serve state behind the `text_bm25_serve` entry: the BM25
    * index of `dir`'s documents, built ONCE per input version and
    * reused by every later call, which is then serve-only
    * ([[queryBm25Index]]). The index lives in
    * `java.io.tmpdir/graft_bm25_v1_<fingerprint>`, keyed by
    * [[Lake.fingerprint]] of the documents files — one dir per input
    * version, not per call: rewriting the documents in place, adding a
    * file or reading a copy at another path yields a new fingerprint
    * and so a new index; an unchanged corpus keeps its published one.
    * [[Lake.publishOnce]] builds it in a sibling dir and renames it
    * into place; it counts as complete once `meta`, published last,
    * is manifest-managed. */
  private[graft] def servedBm25Index(s: SparkSession, dir: String): String =
    Lake.publishOnce(s, "graft_bm25_v1", Seq(Tables.path(dir, "documents")),
      "meta")(publishBm25Index(Tables.documents(s, dir), _))

  /** F16 unigram language-model scoring — the CCNet/CC-Net-style
    * perplexity proxy for corpus quality filtering: train add-one-
    * smoothed unigram probabilities ON the corpus itself (p(t) =
    * (c(t)+1)/(T+V)), score each document by its mean token log-prob
    * Σ c_d(t)·ln p(t) / len(d). Low scores = rare-token-heavy docs
    * (OCR noise, codes, gibberish); high = stopword-heavy boilerplate
    * — both tails are what a quality gate trims. (A real deployment
    * swaps the self-trained table for a reference-corpus one — same
    * plan, different join input.)
    * Determinism: per-doc contributions are folded in SORTED TERM
    * ORDER via an explicit left-associated `aggregate` fold (the
    * B16/B18 precedent) — a bare sum() would expose partial-agg
    * ordering across engines. One tokenization pass (the F15 tcounts
    * shape); the term-probability table joins size-adaptively (AQE
    * broadcasts while it fits). */
  def lmScore(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tcounts = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tc = tcounts.groupBy($"term").agg(sum($"c").as("ct"))
    val stats = tc.agg(sum($"ct"), count(lit(1))).collect()(0)
    val denom = (stats.getLong(0) + stats.getLong(1)).toDouble // T + V
    tcounts.join(tc, "term")
      .withColumn("contrib", $"c" * log(($"ct" + lit(1.0)) / lit(denom)))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"term", $"contrib"))).as("parts"),
        sum($"c").as("n_tokens"))
      .withColumn("lp",
        expr("aggregate(transform(parts, x -> x.contrib), 0D, (acc, x) -> acc + x)"))
      .select($"doc_id", $"n_tokens",
        round($"lp" / $"n_tokens", 4).as("lm_score"))
      .orderBy($"doc_id")
  }

  /** F12 repetition metrics (the Gopher-style quality signals of
    * Rae et al. 2021, "Scaling Language Models: ... Gopher", table A1):
    * per document, the fraction of tokens taken by the single most
    * frequent token, the fraction of bigram slots taken by the most
    * frequent word bigram, and the distinct-token ratio — repetitive
    * boilerplate scores high top-ngram fractions and low diversity.
    * All ratios are exact integer ppm (BIGINT floor division), so the
    * oracle compares bit-exactly. Two hash aggregates per signal, no
    * window, no shuffle beyond the groupBys — linear at any corpus. */
  def repetition(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val uni = docs.select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(sum($"c").as("n_tokens"),
        max($"c").as("top_tok"), count(lit(1)).as("n_distinct"))
    val bi = docs.select($"doc_id", tokens($"text").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"""
          .stripMargin)).as("bigram"))
      .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_bi"))
    uni.join(bi, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        expr("(n_distinct * 1000000) div n_tokens").as("distinct_ppm"),
        expr("(top_tok * 1000000) div n_tokens").as("top_token_ppm"),
        coalesce(expr("(top_bi * 1000000) div greatest(n_tokens - 1, 1)"),
          lit(0L)).as("top_bigram_ppm"))
      .orderBy($"doc_id")
  }

  // RE2-safe PII patterns (no lookaround/backrefs — identical under
  // Java regex and DuckDB RE2). Scrub order matters and is fixed:
  // email, then phone, then IPv4 (a NANP dotted phone would otherwise
  // half-match the IPv4 pattern).
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  private val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** F13 PII detection + redaction: per-document counts of emails /
    * NANP phones / IPv4 literals and a fingerprint of the scrubbed
    * text (placeholders substituted in a fixed order). A training
    * pipeline runs this as a pre-release gate; per-row regex column
    * math, embarrassingly parallel. The full scrubbed text is emitted
    * for pipeline use; the compact fingerprint is what the oracle
    * hash-compares. */
  /** The redaction expression itself (email → phone → IPv4, fixed
    * order) — exposed so pipelines can rewrite the text column
    * in place. */
  def scrubText(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"), Ipv4Re, "[IP]")

  def piiScrub(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val scrubbed = scrubText($"text")
    // Spark SQL string literals unescape backslashes, so the pattern
    // must be double-escaped when embedded in expr() SQL text (the
    // Column-API regexp_replace above takes the pattern verbatim)
    def extractAll(re: String) =
      expr(s"regexp_extract_all(text, '${re.replace("\\", "\\\\")}', 0)")
    docs
      .select($"doc_id",
        size(extractAll(EmailRe)).cast("long").as("n_email"),
        size(extractAll(PhoneRe)).cast("long").as("n_phone"),
        size(extractAll(Ipv4Re)).cast("long").as("n_ipv4"),
        substring(md5(scrubbed), 1, 16).as("scrubbed_fp16"))
      .orderBy($"doc_id")
  }

  /** F7 deterministic train/val/test split by key modulus — the
    * reproducible-split contract a training pipeline needs (stable
    * across runs, engines, and cluster sizes; no RNG). 80/10/10. */
  def splitAssign(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      when(pmod($"doc_id", lit(10L)) < 8, "train")
        .when(pmod($"doc_id", lit(10L)) < 9, "val")
        .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** F8 column profiler: per-column row/null/distinct counts over the
    * documents table — the schema-quality report that gates ingest. */
  def profile(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val per = cols.map { c =>
      docs.select(
        lit(c).as("column_name"),
        count(lit(1)).as("n_rows"),
        count(lit(1)).minus(count(col(c))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"))
    }
    per.reduce(_.unionByName(_)).orderBy($"column_name")
  }

  /** Stratified sample with per-stratum fractions (seeded, spec-tested;
    * sampling RNGs are engine-specific so there is no SQL oracle). */
  def stratifiedSample(docs: DataFrame, strataCol: String,
      fractions: Map[String, Double], seed: Long): DataFrame =
    docs.stat.sampleBy(strataCol, fractions, seed)

  /** F10 per-domain quality pruning (the FineWeb/Gopher "drop the
    * bottom tail of each domain" gate): keep every doc whose quality
    * score clears its domain's 70%-coverage threshold.
    *
    * Scale shape — deliberately NOT `row_number() OVER (PARTITION BY
    * source)`, which would funnel a whole domain through one task at
    * 100 TB. Instead: map-side-combinable count per (source,
    * score_ppm), a window over that AGGREGATED frame (rows = distinct
    * scores per domain, ≤ 10⁶ by ppm construction), and a broadcast
    * threshold join back — the corpus is scanned once, never
    * shuffled. All-integer rule (`cum·10 ≥ keepTenths·n`, threshold =
    * max qualifying score), so the keep-set is ≥ the target fraction
    * with minimal over-keep at score granularity — bit-exact across
    * engines. */
  def qualityPrune(docs: DataFrame, keepTenths: Int = 7): DataFrame = {
    import docs.sparkSession.implicits._
    val scored = withQualityCols(docs)
      .select($"doc_id", $"source", $"score_ppm")
    val counts = scored.groupBy($"source", $"score_ppm")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"source").orderBy($"score_ppm".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // n from a full-partition window over the SAME aggregated frame —
    // one corpus scan feeds both cum and n (a separate groupBy would
    // re-scan the corpus for its own aggregate)
    val wAll = Window.partitionBy($"source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val thr = counts
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(wAll))
      .filter($"cum" * 10 >= lit(keepTenths.toLong) * $"n")
      .groupBy($"source").agg(max($"score_ppm").as("threshold_ppm"))
    scored.join(broadcast(thr), Seq("source"))
      .filter($"score_ppm" >= $"threshold_ppm")
      .select($"doc_id", $"source", $"score_ppm", $"threshold_ppm")
      .orderBy($"doc_id")
  }

  /** Static domain mixture weights (tenths) for the graded query —
    * library users pass their own; unlisted sources weight 0 (drop). */
  private val MixWeightsTenths: Seq[(String, Int)] = Seq(
    "src0" -> 3, "src1" -> 2, "src2" -> 2,
    "src3" -> 1, "src4" -> 1, "src5" -> 1)

  /** F11 domain-mixture sampling: downsample over-represented domains
    * toward target mixture weights (the static-weight data-mixing step
    * of Pile-style corpus assembly; under-represented domains keep all
    * rows — matching upward would require duplication). Deterministic
    * integer hash keep rule — `hash·10·n_source < w·n_total·M`, all
    * BIGINT with every factor bounded (hash < M = 1000003, doc_id
    * pre-reduced mod M before the multiply so nothing overflows at
    * 10¹⁰ docs) — reproducible across engines and runs, no RNG.
    * Scale shape: two tiny broadcast aggregates (per-source counts,
    * total), one corpus scan-and-filter — zero corpus shuffle. */
  def sampleMixture(docs: DataFrame,
      weightsTenths: Seq[(String, Int)] = MixWeightsTenths): DataFrame = {
    import docs.sparkSession.implicits._
    val wCol = weightsTenths.foldLeft(lit(0L)) { case (acc, (s, t)) =>
      when($"source" === s, lit(t.toLong)).otherwise(acc)
    }
    val M = 1000003L
    val n = docs.groupBy($"source").agg(count(lit(1)).as("n_source"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    docs.select($"doc_id", $"source")
      .withColumn("w_tenths", wCol)
      .join(broadcast(n), Seq("source"))
      .crossJoin(broadcast(total))
      .withColumn("hash_mod",
        pmod(pmod($"doc_id", lit(M)) * lit(2654435761L), lit(M)))
      .filter($"hash_mod" * lit(10L) * $"n_source" <
        $"w_tenths" * $"n_total" * lit(M))
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  /** F14 sequence packing (the GPT-2/3 concat-and-chunk step): the
    * corpus is one virtual token stream — docs in doc_id order, one
    * EOS separator after each — cut into fixed `blockTokens` training
    * blocks. Emits each doc's global token span and the block range
    * it lands in (a doc crossing a boundary spans several blocks; the
    * loader reads exactly those).
    *
    * Scale shape: a NAIVE global cumulative sum would be one window
    * over an unpartitioned ORDER BY — a single-task sort of the whole
    * corpus. Instead the classic two-phase split: doc_ids bucket by
    * range (order-preserving), the in-bucket cumsum partitions by
    * bucket, and the cross-bucket offsets come from a bucket-count-
    * sized aggregate (N/10⁴ rows — ITS global window is driver-scale)
    * broadcast back. All integer math (`div`), so the decomposition
    * is exactly the single-window result. */
  def packBlocks(docs: DataFrame, blockTokens: Int = 512,
      bucketSize: Long = 10000L): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.select($"doc_id",
        size(tokens($"text")).cast("long").as("n_tok"))
      .withColumn("b", expr(s"doc_id div $bucketSize"))
    val wIn = Window.partitionBy($"b").orderBy($"doc_id")
    val inBucket = toks.withColumn("cum_in", sum($"n_tok" + 1L).over(wIn))
    val bsums = toks.groupBy($"b").agg(sum($"n_tok" + 1L).as("bt"))
    val wB = Window.orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, -1)
    // no broadcast hint: offsets is corpus/10⁴-sized, so it SCALES —
    // AQE broadcasts it while it fits and degrades gracefully past
    // the limit (the round-3 no-hint-on-scaling-frames rule)
    val offsets = bsums
      .withColumn("off", coalesce(sum($"bt").over(wB), lit(0L)))
      .select($"b", $"off")
    inBucket.join(offsets, Seq("b"))
      .withColumn("tok_end", $"off" + $"cum_in")
      .withColumn("tok_start", $"tok_end" - ($"n_tok" + 1L))
      .withColumn("first_block", expr(s"tok_start div $blockTokens"))
      .withColumn("last_block", expr(s"(tok_end - 1) div $blockTokens"))
      .select($"doc_id", $"n_tok", $"tok_start", $"tok_end",
        $"first_block", $"last_block",
        ($"last_block" - $"first_block" + 1L).as("n_blocks"))
      .orderBy($"doc_id")
  }

  /** F17 fixed-window token CHUNKING with overlap — the RAG /
    * pretraining segmentation step (LangChain-style sliding window):
    * windows of `width` whitespace tokens starting every `stride`
    * (width−stride tokens of overlap), the last window clamped to the
    * document tail; a document at or under one window (including an
    * empty one) is a single chunk, so no text is ever silently
    * dropped. n_chunks = 1 + ⌈max(0, n−width)/stride⌉, all integer
    * `div` math. Contrast F14: PACKING bin-fills fixed blocks ACROSS
    * documents (needs a global cumsum); chunking windows WITHIN each
    * document — pure row-local column math (computed offset sequence
    * explode + slice/join), zero shuffle, zero state, so it
    * pipelines into whatever scan precedes it at any scale. */
  def chunk(docs: DataFrame, width: Int = 50, stride: Int = 40): DataFrame = {
    require(width >= stride && stride > 0, "need width >= stride > 0")
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id",
        filter(tokens($"text"), t => t =!= "").as("toks"))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("n_chunks", expr(
        s"1 + (greatest(n_tokens - $width, 0) + ${stride - 1}) div $stride"))
      .withColumn("chunk_id", explode(sequence(lit(0L), $"n_chunks" - 1)))
      .withColumn("start_tok", $"chunk_id" * stride)
      .withColumn("len", least(lit(width.toLong), $"n_tokens" - $"start_tok"))
      .select($"doc_id", $"chunk_id", $"start_tok",
        $"len".as("n_chunk_tokens"),
        array_join(slice($"toks", ($"start_tok" + 1).cast("int"),
          $"len".cast("int")), " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** F18 character-entropy quality signal (the Shannon-entropy
    * gibberish/compression detector every corpus quality gate pairs
    * with F12's repetition ratios: base64 blobs and key-mash score
    * HIGH, single-char runs score 0): H = −Σ pᵢ·ln pᵢ over the
    * document's character distribution.
    * Determinism: per-char contributions fold in SORTED CHARACTER
    * ORDER with a 0-init left fold (0+x₁ = x₁ bitwise, so Spark's
    * 0D-init `aggregate` equals DuckDB's first-element-init
    * `list_reduce` — the F16 precedent); ln is the one
    * library-dependent op, so the result rounds to 4 decimals like
    * F15/F16. Two hash aggregates; per-doc state is the distinct-char
    * histogram (alphabet-bounded, not length-bounded). */
  def charEntropy(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", explode(split($"text", "")).as("ch"))
      .filter($"ch" =!= "")
      .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_chars"), count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct($"ch", $"c"))).as("cs"))
      .withColumn("entropy", round(expr(
        """aggregate(transform(cs, x ->
          |    - ((cast(x.c as double) / cast(n_chars as double))
          |      * ln(cast(x.c as double) / cast(n_chars as double)))),
          |  0D, (acc, x) -> acc + x)""".stripMargin), 4))
      .select($"doc_id", $"n_chars", $"n_distinct", $"entropy")
      .orderBy($"doc_id")
  }

  /** F19 bigram language-model scoring — the next LM rung above F16's
    * unigram: train add-one-smoothed bigram probabilities ON the
    * corpus (p(t₂|t₁) = (c(t₁t₂)+1)/(c(t₁·)+V), V = unigram vocab),
    * score each document by its mean bigram log-prob. Unlike the
    * unigram score, this separates "right words, wrong order"
    * (shuffled/template text) from natural phrasing — the repetition
    * and fluency signal in one number. Determinism: contributions
    * fold in sorted (t₁,t₂) order (the F16 ordered-fold precedent).
    * Shape: one tokenization pass into per-doc bigram counts
    * (localCheckpointed — the hybrid_rrf HOF-collapse lesson), two
    * derived count tables that join back size-adaptively, one
    * driver-side scalar (vocab size). Docs with <2 tokens carry no
    * bigram and are absent, matching the twin. */
  def bigramLm(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bi = docs.select($"doc_id", tokens($"text").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> struct(t as t1, w[i + 1] as t2))"))
        .as("b"))
      .select($"doc_id", $"b.t1".as("t1"), $"b.t2".as("t2"))
      .groupBy($"doc_id", $"t1", $"t2").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cb = bi.groupBy($"t1", $"t2").agg(sum($"c").as("cb"))
    val cf = cb.groupBy($"t1").agg(sum($"cb").as("cf"))
    val vocab = docs.select(explode(tokens($"text")).as("t"))
      .agg(countDistinct($"t")).collect()(0).getLong(0)
    bi.join(cb, Seq("t1", "t2")).join(cf, Seq("t1"))
      .withColumn("contrib",
        $"c" * log(($"cb" + lit(1.0)) / ($"cf" + lit(vocab.toDouble))))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"t1", $"t2", $"contrib")))
          .as("parts"),
        sum($"c").as("n_bigrams"))
      .withColumn("lp",
        expr("aggregate(transform(parts, x -> x.contrib), 0D, (acc, x) -> acc + x)"))
      .select($"doc_id", $"n_bigrams",
        round($"lp" / $"n_bigrams", 4).as("bigram_lm"))
      .orderBy($"doc_id")
  }

  /** F47 interpolated KNESER-NEY bigram scoring (Kneser & Ney 1995;
    * Chen & Goodman 1998 — the smoothing that made count-based LMs
    * competitive, and the model class CCNet-style quality filters
    * actually deploy): per corpus bigram,
    * P(t₂|t₁) = max(c₁₂ − D, 0)/c₁ + (D·N₁₊(t₁,•)/c₁)·P_cont(t₂)
    * with D = 0.75 and P_cont(t₂) = N₁₊(•,t₂)/N₁₊(••) — the
    * CONTINUATION probability ("how many contexts does t₂ follow")
    * that add-one smoothing lacks; per doc, the mean bigram log
    * probability. Absolute discounting beats the F19 add-one
    * baseline exactly where curation needs it: frequent-but-
    * context-bound tokens stop looking probable everywhere.
    * Exactness: every count is an exact corpus BIGINT; the float
    * composition A + B·C (A, B, C each one division) is mirrored
    * with IDENTICAL parenthesization and fold order (sorted (t₁,t₂)
    * contributions) in the twin, ln is correctly-rounded libm both
    * engines (the F16 precedent), rounded at export.
    * Shape: one tokenization pass (localCheckpointed), corpus
    * bigram/context/continuation aggregates are vocabulary-sized,
    * the distinct-bigram total collects as ONE driver long, and the
    * per-doc fold is map-side combinable. */
  def knLm(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bi = docs.select($"doc_id", tokens($"text").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> struct(t as t1, w[i + 1] as t2))"))
        .as("b"))
      .select($"doc_id", $"b.t1".as("t1"), $"b.t2".as("t2"))
      .groupBy($"doc_id", $"t1", $"t2").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cb = bi.groupBy($"t1", $"t2").agg(sum($"c").as("cb"))
      .localCheckpoint()
    val cf = cb.groupBy($"t1")
      .agg(sum($"cb").as("cf"), count(lit(1)).as("n1f"))
    val bw = cb.groupBy($"t2").agg(count(lit(1)).as("n1b"))
    val nbb = cb.count()
    bi.join(cb, Seq("t1", "t2")).join(cf, Seq("t1")).join(bw, Seq("t2"))
      .withColumn("contrib", $"c" * log(
        greatest($"cb" - lit(0.75), lit(0.0)) / $"cf" +
          lit(0.75) * $"n1f" / $"cf" * ($"n1b" / lit(nbb.toDouble))))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"t1", $"t2", $"contrib")))
          .as("parts"),
        sum($"c").as("n_bigrams"))
      .withColumn("lp",
        expr("aggregate(transform(parts, x -> x.contrib), 0D, (acc, x) -> acc + x)"))
      .select($"doc_id", $"n_bigrams",
        round($"lp" / $"n_bigrams", 4).as("kn_lm"))
      .orderBy($"doc_id")
  }

  private val CoocWindow = 4
  private val CoocTopK = 20

  /** F48 windowed CO-OCCURRENCE counts (the skip-gram statistic —
    * Mikolov et al. 2013's training input, and the raw table behind
    * PMI embeddings à la Levy & Goldberg 2014): ordered token pairs
    * (t₁ → t₂ at distance 1..4) counted corpus-wide, with the
    * minimum observed distance per pair — where F20's collocations
    * see only ADJACENT bigrams, the ±k window captures the looser
    * association an embedding model actually trains on. Shape: per
    * doc the pair frame is built by ONE flattened transform over
    * the token array (|doc|·k struct rows, no self-join, no array
    * carried through the explode), one corpus groupBy, and an
    * orderBy+limit top-k (TakeOrderedAndProject — never a window
    * over the vocabulary² frame); the rank window then runs on the
    * k-row result only. All counts BIGINT. */
  def cooc(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = docs.select($"doc_id", tokens($"text").as("w"))
      .filter(size($"w") >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, $CoocWindow), o ->
           |  transform(slice(w, 1, greatest(size(w) - o, 0)),
           |    (t, i) -> struct(t as t1, w[i + o] as t2, o as dist))))"""
          .stripMargin)).as("p"))
      .select($"p.t1".as("t1"), $"p.t2".as("t2"), $"p.dist".as("dist"))
    val counted = pairs.groupBy($"t1", $"t2")
      .agg(count(lit(1)).as("n"), min($"dist").cast("long").as("min_dist"))
    counted.orderBy($"n".desc, $"t1", $"t2").limit(CoocTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy($"n".desc, $"t1", $"t2")).cast("long"))
      .select($"rank", $"t1", $"t2", $"n", $"min_dist")
      .orderBy($"rank")
  }

  /** F50 TEXTRANK keyword extraction (Mihalcea & Tarau 2004 — the
    * unsupervised keyword ranker: PageRank over the word
    * co-occurrence graph, "a word matters if it co-occurs with words
    * that matter"; the keyphrase-vocabulary step of a corpus pipeline
    * where F20's PMI finds PAIRS and this finds the global lexicon):
    * candidate words are alphabetic length ≥ 4 (the standard
    * POS-filter proxy, documented), windows of ±2 over the FILTERED
    * sequence (the common simplification), the graph is undirected
    * (each canonical pair symmetrized), and the rank recurrence is
    * the I4 integer fixed-point [[Graph.pageRank]] — every engine
    * disagreement the float formulation invites is gone. Top-30 by
    * (rank desc, word). Shape: one tokenization pass → a flattened
    * in-row offset expansion (the F48 plan — no self-join) → one
    * distinct on canonical pairs → 5 broadcast-joined PageRank
    * iterations on the vocabulary-sized graph; the corpus is read
    * ONCE, everything after is vocabulary-scale. */
  def textrank(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    // the Ws class must NOT ride through a SQL string literal — the
    // parser eats the unknown '\f' escape and the class gains a
    // literal 'f' delimiter ('filter' tokenized as 'ilter'); the
    // Column-API lambda keeps the regex out of literal parsing
    val toks = docs.select($"doc_id",
      org.apache.spark.sql.functions.filter(tokens($"text"),
        x => x.rlike("^[a-zA-Z]{4,}$")).as("w"))
    val pairs = toks.filter(size($"w") >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, 2), o ->
          |  transform(slice(w, 1, greatest(size(w) - o, 0)),
          |    (t, i) -> struct(t as t1, w[i + o] as t2))))"""
          .stripMargin)).as("p"))
      .select($"p.t1".as("t1"), $"p.t2".as("t2"))
      .filter($"t1" =!= $"t2")
    val edges = pairs
      .select(least($"t1", $"t2").as("a"),
        greatest($"t1", $"t2").as("b"))
      .distinct()
      .localCheckpoint() // consumed by both directions of the sym
    val sym = edges.select($"a".as("src"), $"b".as("dst"))
      .union(edges.select($"b".as("src"), $"a".as("dst")))
    Graph.pageRank(sym, 5)
      .orderBy($"r".desc, $"node").limit(30)
      .withColumn("rank", row_number().over(
        Window.orderBy($"r".desc, $"node")).cast("long"))
      .select($"rank", $"node".as("word"), $"r".as("rank_fp"),
        round($"r".cast("double") / 1e12, 6).as("score"))
      .orderBy($"rank")
  }

  /** F51 HEAPS' LAW fit (Heaps 1978 — vocabulary growth V(n) ≈ K·n^β:
    * the corpus-statistics twin of F16's Zipf; β tells a tokenizer/
    * dedup planner how fast NEW types keep arriving — β near 1 means
    * an open vocabulary (ids, hashes — dedup keys explode), β ≪ 1 a
    * closing one): the vocabulary-growth curve is sampled at 10
    * doc-id prefix cuts — n_j = tokens in docs below cut j, v_j =
    * distinct words whose FIRST document lies below cut j (one
    * min-aggregate per word, no per-prefix rescan) — then log-log
    * OLS over the 10 points. Exactness: every (n_j, v_j) is an exact
    * integer (they hash as output columns); the OLS runs over TEN
    * values pivoted to columns and summed LEFT-TO-RIGHT as an
    * explicit expression tree — a parse-tree-pinned fold, so the
    * float sums are order-identical in both engines (the B43
    * pinned-fold posture without a list accumulator). Shape: one
    * tokenization pass, one word-level min-aggregate, two broadcast
    * joins of a 10-row cut frame, one pivot row. */
  def heapsLaw(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    val toks = docs.select($"doc_id", tokens($"text").as("w"))
      .select($"doc_id", size($"w").cast("long").as("len"),
        $"w")
      .localCheckpoint() // token counts AND first-doc both read it
    val nDocs = toks.count()
    val firstDoc = toks.select(explode($"w").as("t"), $"doc_id")
      .groupBy($"t").agg(min($"doc_id").as("fd"))
    // integer floor-div: a double /10 here would round vs truncate
    // differently across engines on non-multiples
    val cuts = spark.range(1, 11).select($"id".as("j"),
      expr(s"${nDocs}L * id div 10").as("cut"))
    val nj = cuts.join(toks, $"doc_id" < $"cut")
      .groupBy($"j").agg(sum($"len").as("n_tokens"))
    val vj = cuts.join(firstDoc, $"fd" < $"cut")
      .groupBy($"j").agg(count(lit(1)).as("vocab"))
    val pts = nj.join(vj, "j").localCheckpoint()
    // pivot the 10 points to columns; the OLS sums are then explicit
    // left-to-right expression trees (order-pinned in both engines)
    val aggCols = (1 to 10).flatMap(j => Seq(
      max(when($"j" === j, $"n_tokens")).as(s"n$j"),
      max(when($"j" === j, $"vocab")).as(s"v$j")))
    val pivoted = pts.groupBy().agg(aggCols.head, aggCols.tail: _*)
    val sx = (1 to 10).map(j => log(col(s"n$j").cast("double")))
      .reduceLeft(_ + _)
    val sy = (1 to 10).map(j => log(col(s"v$j").cast("double")))
      .reduceLeft(_ + _)
    val sxx = (1 to 10).map { j =>
      val l = log(col(s"n$j").cast("double")); l * l
    }.reduceLeft(_ + _)
    val sxy = (1 to 10).map { j =>
      log(col(s"n$j").cast("double")) *
        log(col(s"v$j").cast("double"))
    }.reduceLeft(_ + _)
    val beta = (lit(10.0) * sxy - sx * sy) /
      (lit(10.0) * sxx - sx * sx)
    val fit = pivoted.select(round(beta, 6).as("beta"),
      round(exp((sy - beta * sx) / 10.0), 6).as("k_hat"))
    pts.crossJoin(broadcast(fit))
      .select($"j", $"n_tokens", $"vocab", $"beta", $"k_hat")
      .orderBy($"j")
  }

  /** F53 SCRIPT/CHARSET PROFILE per document (the routing signal
    * beside F22's mojibake detector: a tokenizer/langid pipeline
    * wants "what is this doc MADE of" before any model runs —
    * ascii-letter/digit/punct/CJK/other-nonspace counts and the
    * DOMINANT class with a fixed tie precedence): pure regex counts
    * in one codegen projection; the dominant-class argmax is a
    * greatest() over integers with CJK-first precedence (any
    * ideograph presence is decisive the way shared Latin classes are
    * not — the F3 rule). Integer-exact throughout. */
  def scriptProfile(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val t = docs.select($"doc_id",
      size(expr("regexp_extract_all(text, '[A-Za-z]', 0)"))
        .cast("long").as("n_alpha"),
      size(expr("regexp_extract_all(text, '[0-9]', 0)"))
        .cast("long").as("n_digit"),
      size(expr("regexp_extract_all(text, '[.,!?;:()\\'\"-]', 0)"))
        .cast("long").as("n_punct"),
      size(expr("regexp_extract_all(text, '[\\\\x{4E00}-\\\\x{9FFF}]', 0)"))
        .cast("long").as("n_cjk"),
      length($"text").cast("long").as("n_chars"))
    t.select($"doc_id", $"n_alpha", $"n_digit", $"n_punct", $"n_cjk",
        $"n_chars",
        when($"n_cjk" > 0L, "cjk")
          .when($"n_alpha" >= $"n_digit" &&
            $"n_alpha" >= $"n_punct", "latin")
          .when($"n_digit" >= $"n_punct", "numeric")
          .otherwise("punct").as("dominant"))
      .orderBy($"doc_id")
  }

  /** F52 VOCABULARY COVERAGE curve (the tokenizer-budget dial: what
    * fraction of corpus token OCCURRENCES does a k-type vocabulary
    * cover — the number a BPE/vocab-size decision actually trades
    * on, and Zipf's integral in empirical form): terms ranked by
    * (count desc, term), cumulative coverage read at k ∈ {100, 1000,
    * 10000}. Exactness: counts, cumulative sums and the ppm are all
    * integer. Shape: one tokenization pass to term counts (map-side
    * combinable), ONE vocabulary-sized rank window (the vocabulary
    * is orders smaller than the corpus; at open-vocabulary 100 TB
    * scale the same read comes from a bounded-heap top-k per cut —
    * the TopKAgg path — since only the k cuts are consumed), a
    * 3-row cut join. */
  def vocabCoverage(docs: DataFrame,
      cuts: Seq[Long] = Seq(100L, 1000L, 10000L)): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val tc = docs.select(explode(tokens($"text")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
    val w = Window.orderBy($"c".desc, $"t")
    val ranked = tc.select($"c",
        row_number().over(w).cast("long").as("r"),
        sum($"c").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("cum"))
      .localCheckpoint() // totals and every cut read it
    val tot = ranked.agg(max($"cum").as("total"),
      max($"r").as("vocab_size"))
    val kf = docs.sparkSession.createDataset(cuts).toDF("k")
    kf.crossJoin(broadcast(tot))
      .join(ranked, $"r" === least($"k", $"vocab_size"))
      .select($"k", $"vocab_size", $"cum".as("covered_tokens"),
        $"total".as("total_tokens"),
        expr("cum * 1000000 div total").as("coverage_ppm"))
      .orderBy($"k")
  }

  private val CollocMinCount = 5
  private val CollocTopK = 20

  /** F20 collocation mining — PMI-ranked corpus bigrams (Church &
    * Hanks 1990; the phrase-vocabulary step of a tokenizer/data
    * pipeline — "new york" is one unit, "the the" is noise): pmi =
    * ln(p(t₁t₂)/(p(t₁)p(t₂))) over corpus bigram/unigram frequencies,
    * min-count-filtered (PMI is unstable on rare pairs), top-20 by
    * (rounded pmi, t₁, t₂). Exactness: all counts BIGINT; the PMI
    * ratio is computed as ONE division of two exact integer products
    * — c₁₂·N² and B·c₁·c₂ in decimal(38,0) (Spark) / HUGEINT (twin),
    * exact to 10³⁸-scale corpora — then one ln (correctly-rounded
    * libm both engines, the F16 precedent) rounded at export; ranking
    * uses the rounded value with the bigram itself as tie-break.
    * Shape: one tokenization pass feeds both the bigram and unigram
    * aggregates (localCheckpointed — the hybrid_rrf HOF-collapse
    * lesson), two corpus-vocabulary-sized joins, an orderBy+limit
    * top-k (TakeOrderedAndProject) over the min-count survivors. */
  def collocations(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select($"doc_id", tokens($"text").as("w"))
      .localCheckpoint()
    val uni = toks.select(explode($"w").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
    val nTot = toks.select(sum(size($"w")).as("n"))
    val bi0 = toks.filter(size($"w") >= 2)
      .select(explode(expr(
        "transform(slice(w, 1, size(w) - 1), (t, i) -> struct(t as t1, w[i + 1] as t2))"))
        .as("b"))
      .select($"b.t1".as("t1"), $"b.t2".as("t2"))
      .groupBy($"t1", $"t2").agg(count(lit(1)).as("c12"))
    // B counts ALL bigrams (the probability denominator), computed
    // before the min-count filter; one-row frame, broadcast joined
    val bTot = bi0.agg(sum($"c12").as("btot"))
    val bi = bi0.filter($"c12" >= CollocMinCount).crossJoin(bTot)
    val scored = bi
      .join(uni.select($"t".as("t1"), $"c".as("c1")), Seq("t1"))
      .join(uni.select($"t".as("t2"), $"c".as("c2")), Seq("t2"))
      .crossJoin(nTot)
      .withColumn("pmi", round(log(
        ($"c12".cast("decimal(38,0)") * $"n" * $"n").cast("double") /
          (($"btot".cast("decimal(38,0)") * $"c1" * $"c2").cast("double"))),
        4))
    // top-k via orderBy+limit (TakeOrderedAndProject — the
    // countMinOn/cdc_paths pattern: never an unpartitioned window
    // over the vocabulary² bigram frame); the rank window then runs
    // on the k-row result only
    scored.orderBy($"pmi".desc, $"t1", $"t2").limit(CollocTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy($"pmi".desc, $"t1", $"t2")).cast("long"))
      .select($"rank", $"t1", $"t2", $"c12", $"pmi")
      .orderBy($"rank")
  }

  /** F21 per-domain document cap (the anti-domination rule every
    * web-corpus recipe applies — no single host may contribute more
    * than K documents, C4/RefinedWeb-style): keep each source's top-K
    * by the F2 integer quality score, ties broken by doc_id, so the
    * selection is bit-deterministic. ONE window pass partitioned by
    * source over the integer score — at 100 TB this is a top-K per
    * group, never a global sort; a pathological mega-domain still
    * bounds its partition at its own doc count, and the F14 bucketed
    * decomposition applies if one source exceeds a task. */
  def domainCap(docs: DataFrame, k: Int = 3): DataFrame = {
    import docs.sparkSession.implicits._
    withQualityCols(docs)
      .withColumn("rk", row_number().over(
          Window.partitionBy($"source")
            .orderBy($"score_ppm".desc, $"doc_id")).cast("long"))
      .filter($"rk" <= k)
      .select($"source", $"doc_id", $"score_ppm", $"rk")
      .orderBy($"source", $"rk")
  }

  /** F22 RAKE keyword extraction (Rose et al. 2010 — the
    * stopword-boundary phrase scorer; the cheap unsupervised keyword
    * pass a corpus labeler runs before anything neural): candidate
    * phrases are the maximal runs between stopwords/punctuation;
    * word score = degree/frequency over within-doc co-occurrence
    * (degree counts each containing phrase's full length, with
    * multiplicity); phrase score = Σ member word scores. The
    * degree/frequency RATIO is quantized to integer ppm
    * (deg·10⁶ div freq) BEFORE summing, so phrase scores are exact
    * BIGINTs and cross-engine ranking has no float tie ambiguity —
    * a documented quantization (<1 ppm per word) rather than IEEE
    * drift. Everything is per-document: the only shuffles are
    * doc-keyed aggregates, so the operator scales with docs, not
    * vocabulary. Top-3 phrases per doc, ties by phrase text. */
  def rake(docs: DataFrame, topK: Int = 3): DataFrame = {
    import docs.sparkSession.implicits._
    val sw = Stopwords.mkString("|")
    val phrases = docs
      .select($"doc_id",
        expr(s"regexp_replace(regexp_replace(lower(text), " +
          s"'[.,!?;:()]', '|'), '\\\\b($sw)\\\\b', '|')").as("marked"))
      .select($"doc_id", explode(split($"marked", "\\|")).as("rawp"))
      // Dedup.Ws, not \s: Java \s ⊃ RE2 \s on \x0B — the engines
      // must squeeze the identical whitespace class
      .select($"doc_id",
        trim(regexp_replace($"rawp", Dedup.Ws, " ")).as("phrase"))
      .filter(length($"phrase") > 0)
      .withColumn("wlen", size(split($"phrase", " ")).cast("long"))
    val words = phrases
      .select($"doc_id", $"phrase", $"wlen",
        explode(split($"phrase", " ")).as("word"))
    val wordScore = words
      .groupBy($"doc_id", $"word")
      .agg(count(lit(1)).as("freq"), sum($"wlen").as("deg"))
      .withColumn("score_ppm", expr("deg * 1000000 div freq"))
    // every occurrence of a (doc, phrase) has the same member-word
    // scores, so score once per DISTINCT phrase and carry the
    // occurrence count; a repeated word inside one phrase counts per
    // instance (RAKE sums member instances)
    val scored = phrases
      .groupBy($"doc_id", $"phrase").agg(count(lit(1)).as("n_occ"))
      .select($"doc_id", $"phrase", $"n_occ",
        explode(split($"phrase", " ")).as("word"))
      .join(wordScore, Seq("doc_id", "word"))
      .groupBy($"doc_id", $"phrase", $"n_occ")
      .agg(sum($"score_ppm").as("score_ppm"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id")
          .orderBy($"score_ppm".desc, $"phrase")).cast("long"))
      .filter($"rk" <= topK)
      .select($"doc_id", $"rk", $"phrase", $"score_ppm", $"n_occ")
      .orderBy($"doc_id", $"rk")
  }

  /** F23 heavy-hitter tokens — sketch-accelerated AND exactly
    * correct: pass 1 runs the Misra-Gries summary
    * ([[graft.functions.MisraGriesAgg]], ≤ k counters per partition
    * regardless of vocabulary size — the aggregate an exact groupBy
    * over an unbounded token domain can't be at 100 TB); pass 2
    * re-counts ONLY the ≤ k surviving candidates exactly (broadcast
    * semi-join) and applies the frequency threshold to the EXACT
    * counts. Because every token with true frequency > n/(k+1) is
    * guaranteed to survive pass 1 whatever the partitioning, and
    * minPpm > 10⁶/(k+1), the final output is the same rows an exact
    * full groupBy would produce — bit-deterministic, oracle-checked
    * against the sketch-free SQL — while per-executor state stays
    * k-bounded. */
  def heavyHitters(docs: DataFrame, k: Int = 255,
      minPpm: Long = 5000L): DataFrame = {
    require(minPpm > 1000000L / (k + 1),
      s"minPpm $minPpm below the MG guarantee 1e6/(k+1); raise k")
    import docs.sparkSession.implicits._
    val toks = docs
      .select(explode(tokens(lower($"text"))).as("token"))
      .filter(length($"token") > 0)
    val cand = toks
      .agg(graft.functions.MisraGriesAgg.sketch($"token", k).as("sk"))
      .select(explode($"sk").as("e"))
      .select($"e.item".as("token"))
    val tot = toks.agg(count(lit(1)).as("total"))
    toks.join(broadcast(cand), Seq("token"), "left_semi")
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .crossJoin(tot)
      .filter($"cnt" * 1000000L > $"total" * minPpm)
      .select($"token", $"cnt", expr("cnt * 1000000 div total").as("freq_ppm"))
      .orderBy($"token")
  }

  /** F24 Jensen-Shannon divergence between corpus slices (the
    * mixture-drift gate: "is the en slice's token distribution
    * moving away from the rest?" — what a pretraining-mixture
    * monitor alarms on): distributions over the TOP-64 global
    * tokens (deterministic (count DESC, token) rank) plus one
    * "other" mass bucket, so the statistic is vocabulary-bounded no
    * matter the corpus. Probabilities are exact-integer ratios
    * (c/n — both operands BIGINT, one division each), m = (p+q)/2,
    * and the ≤ 130 p·log₂(p/m) terms fold in TOKEN ORDER (empty
    * string = the other-bucket sorts first in both engines). The
    * one cross-engine caveat lives here by design: log₂ is the
    * single libm call in the whole suite — inputs are identical
    * doubles, a last-ulp library disagreement would shift the FINAL
    * 6dp-rounded sum only if it lands within ~1e-9 of a rounding
    * boundary (term magnitudes ≤ 1; no per-term rounding
    * anywhere). */
  def jsdSlices(docs: DataFrame, vocab: Int = 64): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs
      .select(when($"lang" === "en", "en").otherwise("rest").as("grp"),
        explode(tokens(lower($"text"))).as("token"))
      .filter(length($"token") > 0)
    val counts = toks.groupBy($"token")
      .agg(sum(when($"grp" === "en", 1L).otherwise(0L)).as("ce"),
        sum(when($"grp" === "rest", 1L).otherwise(0L)).as("cr"))
    // distributed TakeOrderedAndProject — NOT an unpartitioned
    // row_number window, which would single-task the whole
    // vocabulary-sized counts frame
    val top = counts
      .orderBy(($"ce" + $"cr").desc, $"token")
      .limit(vocab)
      .select($"token", $"ce", $"cr")
    val tot = counts.groupBy().agg(sum($"ce").as("ne"), sum($"cr").as("nr"))
    val topTot = top.groupBy()
      .agg(sum($"ce").as("ve"), sum($"cr").as("vr"))
    val other = tot.crossJoin(topTot)
      .select(lit("").as("token"),
        ($"ne" - $"ve").as("ce"), ($"nr" - $"vr").as("cr"))
    val terms = top.unionByName(other).crossJoin(tot)
      .select($"token", $"ce", $"cr",
        expr("ce * 1000000 div ne").as("p_en_ppm"),
        expr("cr * 1000000 div nr").as("p_rest_ppm"),
        ($"ce".cast("double") / $"ne".cast("double")).as("pe"),
        ($"cr".cast("double") / $"nr".cast("double")).as("pr"))
      .withColumn("m", ($"pe" + $"pr") / lit(2.0))
      .withColumn("contrib",
        when($"pe" > 0, $"pe" * log2($"pe" / $"m")).otherwise(lit(0.0)) +
          when($"pr" > 0, $"pr" * log2($"pr" / $"m")).otherwise(lit(0.0)))
    val jsd = terms.groupBy()
      .agg(round(
        aggregate(sort_array(collect_list(struct($"token", $"contrib"))),
          lit(0.0), (acc, x) => acc + x("contrib")) / lit(2.0), 6)
        .as("jsd_bits"))
    terms.select($"token", $"p_en_ppm", $"p_rest_ppm")
      .crossJoin(jsd)
      .orderBy($"token")
  }

  /** F25 lexical diversity per document — type-token ratio and hapax
    * share (the vocabulary-richness pair every corpus-quality recipe
    * carries: template/boilerplate text scores low TTR, OCR noise
    * scores pathological hapax): n_types = distinct tokens, both
    * ratios integer ppm floor-divs — nothing floats. One per-doc
    * token aggregate (doc-keyed shuffle only); empty docs emit a
    * zero row rather than vanishing. */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs
      .select($"doc_id", explode(tokens(lower($"text"))).as("token"))
      .filter(length($"token") > 0)
    val perType = toks.groupBy($"doc_id", $"token")
      .agg(count(lit(1)).as("c"))
    val agg = perType.groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("n_hapax"))
    docs.select($"doc_id").distinct()
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_types", lit(0L)).as("n_types"),
        coalesce(expr("n_types * 1000000 div n_tokens"), lit(0L))
          .as("ttr_ppm"),
        coalesce(expr("n_hapax * 1000000 div n_tokens"), lit(0L))
          .as("hapax_ppm"))
      .orderBy($"doc_id")
  }

  /** F55 YULE'S K + SIMPSON'S D per source (Yule 1944 / Simpson 1949
    * — the stylometric repetitiveness constants that, unlike F25's
    * length-sensitive TTR, are (asymptotically) invariant to sample
    * size, which is what makes them comparable ACROSS sources of
    * different volume — the per-SOURCE quality fingerprint next to
    * F26's Zipf slope): K = 10⁴·(Σc² − N)/N² and D = Σc(c−1)/(N(N−1))
    * over the per-source token frequency spectrum. Σc² and Σc(c−1)
    * are exact decimal(38,0); D exports as the exact integer ppb
    * floor-div, K as one round-6 division. One (source, token)
    * aggregate — token-keyed shuffle only. */
  def yuleK(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    def dec(c: Column) = c.cast("decimal(38,0)")
    val perType = docs
      .select($"source", explode(tokens(lower($"text"))).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"source", $"token")
      .agg(count(lit(1)).as("c"))
    perType.groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(dec($"c") * $"c").as("sc2"),
        sum(dec($"c") * ($"c" - 1)).as("scc"))
      .select($"source", $"n_tokens", $"n_types",
        round(lit(1e4) * ($"sc2" - $"n_tokens").cast("double") /
          ($"n_tokens".cast("double") * $"n_tokens".cast("double")), 6)
          .as("yule_k"),
        expr("cast(scc * 1000000000 div " +
          "(cast(n_tokens as decimal(38,0)) * (n_tokens - 1)) " +
          "as bigint)").as("simpson_ppb"))
      .orderBy($"source")
  }

  private def onDocs(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables.documents(s, dir))

  /** F33 COHEN'S KAPPA between two heuristic keep/drop raters — the
    * inter-rater agreement QA a labeling pipeline runs before
    * trusting any single filter (raw percent agreement flatters
    * imbalanced labels; kappa discounts the agreement chance would
    * produce from the margins): rater A keeps length ≥ 250 chars,
    * rater B keeps ≥ 46 whitespace tokens — the same "long enough"
    * judgment measured two ways, the classic moderate-agreement
    * setup.
    *
    * κ = (n·Σdiag − Σᵢ rᵢcᵢ) / (n² − Σᵢ rᵢcᵢ) — the po/pe form
    * cleared of its inner divisions: cells and margins are exact
    * BIGINTs, the margin products ride decimal(38,0)/HUGEINT (n² at
    * corpus scale outgrows int64 — the C18 posture), and the ONLY
    * float op is the final division, rounded at export. Percent
    * agreement ships as integer ppm. One scan, one
    * map-side-combined aggregate to a single row. */
  def raterKappa(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val flags = docs.select(
      (length($"text") >= 250).cast("long").as("a"),
      (size(tokens($"text")) >= 46).cast("long").as("b"))
    val cells = flags.agg(
      count(lit(1)).as("n_docs"),
      sum($"a" * $"b").as("n11"),
      sum($"a" * (lit(1L) - $"b")).as("n10"),
      sum((lit(1L) - $"a") * $"b").as("n01"),
      sum((lit(1L) - $"a") * (lit(1L) - $"b")).as("n00"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val k = cells
      .withColumn("pe_sum",
        (dec($"n11") + $"n10") * (dec($"n11") + $"n01") +
          (dec($"n01") + $"n00") * (dec($"n10") + $"n00"))
      .withColumn("kden", dec($"n_docs") * $"n_docs" - $"pe_sum")
    k.select($"n_docs", $"n11", $"n10", $"n01", $"n00",
      expr("(n11 + n00) * 1000000 div n_docs").as("po_ppm"),
      when($"kden" =!= 0, round(
        (dec($"n_docs") * (dec($"n11") + $"n00") - $"pe_sum")
          .cast("double") / $"kden".cast("double"), 6)).as("kappa"))
  }

  /** F34 BPE-MERGE TRAINING — the first `rounds` byte-pair-encoding
    * merges learned from the corpus (Sennrich et al. 2016; the
    * tokenizer-training step of an LLM data pipeline, distributed the
    * way HF `tokenizers` trains: pre-tokenize to WORDS once, then all
    * merge rounds run over the word-frequency VOCABULARY — corpus
    * cost is ONE tokenization scan + one hash aggregate regardless of
    * round count; each round is a vocabulary-bounded pair-count
    * aggregate, never a corpus pass — the 100 TB posture).
    *
    * Per round: adjacent symbol pairs weighted by word count (every
    * adjacent position counts, the HF convention), winner = highest
    * count with the lexicographically smallest (left, right) tie rule
    * — binary string order in both engines; the winner joins back
    * (broadcast 1-row frame, no driver collect) and merges LEFT-TO-
    * RIGHT GREEDILY via a functional `aggregate` fold (a fresh merge
    * result never re-merges in the same round — "aaa" → [aa, a]).
    * The twin unrolls the identical fold per round with list-typed
    * accumulators (the B41 single-element-list trick; DuckDB's
    * INCLUSIVE slice end makes drop-last `acc[:-2]`). Vocab is
    * `localCheckpoint`ed between rounds to truncate lineage. Emits
    * (round, left, right, pair_count). */
  def bpeTrain(docs: DataFrame, rounds: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    val (merges, _) = bpeLearn(globalVocab(docs), rounds)
    merges.reduce(_ union _).orderBy($"round")
  }

  /** Corpus → (w, wc, syms) word-frequency vocabulary, the ONLY
    * corpus-scan of the BPE pair (F34/F35). */
  private def globalVocab(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("wc"))
      .withColumn("syms", expr("filter(split(w, ''), x -> x <> '')"))
  }

  /** The merge loop shared by F34 (emits the merges) and F35 (emits
    * the final segmentation): vocabulary-bounded per round, winner
    * broadcast back, greedy left-to-right fold, lineage truncated. */
  private def bpeLearn(vocab0: DataFrame,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    val s = vocab0.sparkSession
    import s.implicits._
    var vocab = vocab0.localCheckpoint()
    val merges = (1 to rounds).map { r =>
      val pc = vocab
        .filter(size($"syms") >= 2)
        .select($"wc", explode(expr(
          """zip_with(slice(syms, 1, size(syms) - 1),
            |  slice(syms, 2, size(syms) - 1),
            |  (x, y) -> named_struct('l', x, 'r', y))""".stripMargin))
          .as("p"))
        .groupBy($"p.l".as("a"), $"p.r".as("b"))
        .agg(sum($"wc").as("cnt"))
      val best = pc.orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
        .localCheckpoint()
      vocab = vocab
        .crossJoin(broadcast(
          best.select($"a".as("ma"), $"b".as("mb"))))
        .withColumn("syms", expr(
          """aggregate(syms, cast(array() as array<string>),
            |  (acc, x) -> CASE WHEN size(acc) > 0
            |      AND element_at(acc, -1) = ma AND x = mb
            |    THEN concat(slice(acc, 1, size(acc) - 1),
            |      array(concat(ma, mb)))
            |    ELSE concat(acc, array(x)) END)""".stripMargin))
        .select($"w", $"wc", $"syms")
        .localCheckpoint()
      best.select(lit(r.toLong).as("round"), $"a".as("left"),
        $"b".as("right"), $"cnt".as("pair_count"))
    }
    (merges, vocab)
  }

  /** Driver-side twin of [[bpeLearn]] — the REALISTIC-VOCAB path.
    * The distributed loop is correct at any corpus size but costs ~3
    * Spark jobs per merge round: at a production 32k-merge vocabulary
    * that is ~10⁵ scheduler round-trips of pure latency over
    * kilobyte-sized frames (hours of wall-clock, zero data). The
    * standard fix (HF `tokenizers`, Sennrich's learn_bpe): after the
    * ONE corpus tokenization scan the word-frequency vocabulary is
    * small — Heaps' law (the F51 frame) bounds it far below driver
    * memory — so collect it and run the merges driver-side with
    * INCREMENTAL pair-count maintenance: a full position scan once,
    * then each round touches only the words containing the winning
    * pair (lazy-staleness candidate index; counts stay exact because
    * every rewrite subtracts the word's old pairs and adds its new
    * ones). Cost ≈ O(Σ|w| + rounds·avg_affected), independent of
    * corpus size and of the scheduler.
    *
    * Semantics are pinned EQUAL to the distributed loop by spec:
    * same every-adjacent-position pair weighting, same
    * highest-count-then-lexicographically-smallest winner (symbols
    * are ASCII by construction — globalVocab tokenizes [a-z0-9]+ —
    * so Java String order == the engines' binary order), same greedy
    * left-to-right fold in which a fresh merge result never
    * re-merges within its own round ("aaa" → [aa, a]). */
  private def bpeLearnLocal(vocab0: Seq[(String, Long)], rounds: Int)
      : (Seq[(Long, String, String, Long)], Seq[(String, Long, Long)]) = {
    import scala.collection.mutable
    val words = vocab0.toArray
    val syms: Array[Array[String]] =
      words.map(_._1.split("").filter(_.nonEmpty))
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addPairs(idx: Int, ss: Array[String], sign: Long): Unit = {
      val wc = words(idx)._2
      var i = 0
      while (i < ss.length - 1) {
        val k = (ss(i), ss(i + 1))
        val nv = pairCounts.getOrElse(k, 0L) + sign * wc
        if (nv == 0L) pairCounts.remove(k) else pairCounts(k) = nv
        if (sign > 0)
          pairWords.getOrElseUpdate(k, mutable.Set.empty[Int]) += idx
        i += 1
      }
    }
    var i = 0
    while (i < words.length) { addPairs(i, syms(i), 1L); i += 1 }
    def mergeWord(ss: Array[String], ma: String, mb: String): Array[String] = {
      val acc = mutable.ArrayBuffer.empty[String]
      ss.foreach { x =>
        if (acc.nonEmpty && acc.last == ma && x == mb)
          acc(acc.length - 1) = ma + mb
        else acc += x
      }
      acc.toArray
    }
    val merges = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      if (pairCounts.isEmpty) {
        // distributed twin: an empty best frame cross-joined into the
        // vocab EMPTIES it and emits no merge row — replicate exactly
        dry = true
      } else {
        val ((ma, mb), cnt) = pairCounts.min(Ordering.by {
          (e: ((String, String), Long)) => (-e._2, e._1._1, e._1._2)
        })
        merges += ((r.toLong, ma, mb, cnt))
        val candidates = pairWords.remove((ma, mb))
          .map(_.toArray).getOrElse(Array.empty[Int])
        candidates.foreach { idx =>
          val old = syms(idx)
          // lazy staleness: the index may list words whose adjacency
          // was destroyed by an earlier round — rescan confirms
          var has = false
          var j = 0
          while (!has && j < old.length - 1) {
            has = old(j) == ma && old(j + 1) == mb; j += 1
          }
          if (has) {
            addPairs(idx, old, -1L)
            val nw = mergeWord(old, ma, mb)
            syms(idx) = nw
            addPairs(idx, nw, 1L)
          }
        }
      }
      r += 1
    }
    val finalVocab =
      if (dry) Seq.empty[(String, Long, Long)]
      else words.indices
        .map(i => (words(i)._1, words(i)._2, syms(i).length.toLong))
    (merges.toSeq, finalVocab)
  }

  /** F34 fast path: [[bpeLearnLocal]] when the collected vocabulary
    * fits the cap (the steady state — Heaps' law bounds it), the
    * distributed [[bpeLearn]] otherwise. Same output contract. */
  def bpeTrainFast(docs: DataFrame, rounds: Int = 4,
      localVocabCap: Long = 2000000L): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val vocab = globalVocab(docs).localCheckpoint()
    if (vocab.count() <= localVocabCap) {
      val local = vocab.select($"w", $"wc").as[(String, Long)].collect()
      val (merges, _) = bpeLearnLocal(local.toSeq, rounds)
      merges.toDF("round", "left", "right", "pair_count")
        .orderBy($"round")
    } else bpeTrain(docs, rounds)
  }

  /** F35 fast path: merges learned driver-side, the vocab-sized
    * final segmentation parallelized back for the per-source join —
    * corpus cost stays the one tokenization scan. */
  def bpeFertilityFast(docs: DataFrame, rounds: Int = 4,
      localVocabCap: Long = 2000000L): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bySource = docs
      .select($"source", explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("wc"))
      .localCheckpoint()
    val global = bySource.groupBy($"w").agg(sum($"wc").as("wc"))
      .localCheckpoint()
    if (global.count() <= localVocabCap) {
      val local = global.as[(String, Long)].collect()
      val (_, finalVocab) = bpeLearnLocal(local.toSeq, rounds)
      val seg = finalVocab.map { case (w, _, n) => (w, n) }
        .toDF("w", "n_tok")
      bySource.join(seg, "w")
        .groupBy($"source")
        .agg(sum($"wc").as("n_words"),
          sum($"wc" * $"n_tok").as("n_tokens"))
        .select($"source", $"n_words", $"n_tokens",
          expr("n_tokens * 1000000 div n_words").as("fertility_ppm"))
        .orderBy($"source")
    } else bpeFertility(docs, rounds)
  }

  /** F35 TOKENIZER FERTILITY — the APPLY side of F34 (train without
    * apply is half a tokenizer): re-segment the corpus with the
    * learned merges and report tokens-per-word per source — the
    * fertility metric tokenizer teams track per language/domain
    * (high fertility = this slice pays more sequence length per word
    * than the tokenizer was trained for).
    *
    * The per-source word table and the global vocabulary come out of
    * the SAME corpus scan shape; merges train on GLOBAL counts (the
    * F34 chain verbatim), the final segmentation joins back to the
    * per-source counts by word — corpus cost stays one tokenization
    * pass, everything after is vocabulary-bounded. Fertility ships
    * as integer floor-div ppm of exact BIGINT token/word counts. */
  def bpeFertility(docs: DataFrame, rounds: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    val bySource = docs
      .select($"source", explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("wc"))
      .localCheckpoint()
    val global = bySource.groupBy($"w").agg(sum($"wc").as("wc"))
      .withColumn("syms", expr("filter(split(w, ''), x -> x <> '')"))
    val (_, finalVocab) = bpeLearn(global, rounds)
    val seg = finalVocab
      .select($"w", size($"syms").cast("long").as("n_tok"))
    bySource.join(seg, "w")
      .groupBy($"source")
      .agg(sum($"wc").as("n_words"),
        sum($"wc" * $"n_tok").as("n_tokens"))
      .select($"source", $"n_words", $"n_tokens",
        expr("n_tokens * 1000000 div n_words").as("fertility_ppm"))
      .orderBy($"source")
  }

  /** F32 COMPRESSION-RATIO quality signal (the Gopher/FineWeb
    * "too compressible = repetitive boilerplate, incompressible =
    * binary noise" filter — the deflate oracle that catches what
    * F12's exact ratios and F18's character entropy each miss, e.g.
    * long-range repetition past the bigram horizon): per doc,
    * deflated size over raw size in integer ppm, flagged outside
    * [150000, 900000]. zlib (JVM `Deflater`, fixed level 6) runs
    * row-locally inside the G2-style partition boundary — one scan,
    * zero shuffle. Rows-only by design (no SQL engine deflates);
    * the spec pins determinism under repartitioning, the repetitive/
    * random ordering property, and exact ratios on crafted docs. */
  def compressionRatio(docs: DataFrame, lo: Long = 150000L,
      hi: Long = 900000L): DataFrame = {
    import docs.sparkSession.implicits._
    val rows = docs.select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          (id, in.length.toLong, out)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflated")
    rows
      .withColumn("ratio_ppm",
        expr("CASE WHEN n_bytes > 0 THEN n_deflated * 1000000 div n_bytes ELSE 1000000 END"))
      .withColumn("flagged", $"ratio_ppm" < lo || $"ratio_ppm" > hi)
      .orderBy($"doc_id")
  }

  /** F31 token BURSTINESS — the index of dispersion (variance-to-mean
    * ratio, Church & Gale's burstiness) of each token's per-document
    * count, zeros included: content words burst (VMR ≫ 1 — absent
    * from most docs, repeated where present), function words spread
    * (VMR ≈ 1), and a HIGH-VMR high-frequency token is the signature
    * of template/boilerplate text the F12/D10 scrubbers then chase.
    * Exact integers end to end: with tf = Σc, s2 = Σc² over one
    * (doc, token) count frame and N docs, VMR = (N·s2 − tf²)/(N·tf)
    * emitted as ppm with the numerator a decimal(38,0) product —
    * zeros contribute nothing to either sum, so the per-doc zero
    * rows NEVER materialize. Top-20 by (vmr desc, token) over a
    * tf ≥ 10 floor via TakeOrderedAndProject; one tokenization pass,
    * two map-side-combined aggregates, vocabulary-bounded output. */
  def burstiness(docs: DataFrame, minTf: Long = 10L,
      topK: Int = 20): DataFrame = {
    import docs.sparkSession.implicits._
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tc = docs
      .select($"doc_id", explode(tokens(lower($"text"))).as("token"))
      .filter($"token" =!= "")
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("c"))
    tc.groupBy($"token")
      .agg(count(lit(1)).as("df"), sum($"c").as("tf"),
        sum($"c" * $"c").as("s2"))
      .filter($"tf" >= minTf)
      .crossJoin(broadcast(nDocs))
      .withColumn("vmr_ppm", expr(
        """(cast(n_docs as decimal(38,0)) * s2 - cast(tf as decimal(38,0)) * tf)
          | * 1000000 div (cast(n_docs as decimal(38,0)) * tf)"""
          .stripMargin).cast("long"))
      .select($"token", $"df", $"tf", $"vmr_ppm")
      .orderBy($"vmr_ppm".desc, $"token")
      .limit(topK)
  }

  /** F28 readability scoring (Flesch reading ease + Flesch-Kincaid
    * grade) — the classic "is this text readable prose" gate a
    * curriculum/quality pipeline keys on (very low FRE flags legal
    * boilerplate and gibberish; negative FK grades flag fragmentary
    * text). Counts are exact BIGINTs from engine-identical regexes:
    * words = `[a-z0-9]+` runs of the lowercased text, syllables =
    * `[aeiouy]+` vowel groups plus one for each vowel-free word (the
    * standard floor — every word carries ≥ 1 syllable), sentences =
    * `[.!?]+` terminator runs floored at 1. The two scores are one
    * short pinned IEEE sequence over those integers (two divisions,
    * two multiply-adds), rounded at export — bit-identical across
    * engines (the A40 scalar-tail precedent). One scan, zero shuffle
    * beyond the per-doc projection. */
  def readability(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("words", expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
      .withColumn("n_words", size($"words").cast("long"))
      .withColumn("n_vgroups",
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
          .cast("long"))
      .withColumn("n_novowel",
        size(expr(
          "filter(words, w -> w rlike '^[b-df-hj-np-tv-xz0-9]+$')"))
          .cast("long"))
      .withColumn("n_syllables", $"n_vgroups" + $"n_novowel")
      .withColumn("n_sentences",
        greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)"))
          .cast("long"), lit(1L)))
      .withColumn("wps",
        $"n_words".cast("double") / $"n_sentences".cast("double"))
      .withColumn("spw",
        $"n_syllables".cast("double") /
          greatest($"n_words", lit(1L)).cast("double"))
      .select($"doc_id", $"n_words", $"n_syllables", $"n_sentences",
        round(lit(206.835) - lit(1.015) * $"wps" - lit(84.6) * $"spw", 4)
          .as("fre"),
        round(lit(0.39) * $"wps" + lit(11.8) * $"spw" - lit(15.59), 4)
          .as("fk_grade"))
      .orderBy($"doc_id")
  }

  /** F29 code-vs-prose detection — the corpus-routing signal a
    * pretraining mixer needs before weighting code separately (and a
    * prose-quality pipeline needs to NOT punish code for "bad
    * punctuation"): per-doc integer-ppm structural signals — lines
    * ending in `;`/`{`/`}`, indented lines (2+ spaces or tab),
    * code-symbol character share, reserved-keyword token share — and
    * one integer-predicate flag over their weighted sum. All counts
    * BIGINT from engine-identical regexes, all ratios floor-div ppm,
    * so the flag is bit-deterministic (the B22 integer-flag
    * precedent). Pure per-row column math: one scan, zero shuffle. */
  def codeDetect(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("lines", split($"text", "\n"))
      .withColumn("n_lines", size($"lines").cast("long"))
      .withColumn("n_stmt",
        size(expr("filter(lines, l -> trim(l) rlike '[;{}]$')"))
          .cast("long"))
      .withColumn("n_indent",
        size(expr("filter(lines, l -> l rlike '^(  |\\t)')")).cast("long"))
      .withColumn("n_sym",
        size(expr("regexp_extract_all(text, '[{}()=<>;\\\\[\\\\]]', 0)"))
          .cast("long"))
      .withColumn("n_kw",
        size(expr("regexp_extract_all(text, " +
          "'\\\\b(def|class|return|import|function|var|const|void|int|for|while|if|else)\\\\b', 0)"))
          .cast("long"))
      .withColumn("n_tok", greatest(size(tokens($"text")).cast("long"), lit(1L)))
      .withColumn("n_ch", greatest(length($"text").cast("long"), lit(1L)))
      .withColumn("stmt_ppm", expr("n_stmt * 1000000 div n_lines"))
      .withColumn("indent_ppm", expr("n_indent * 1000000 div n_lines"))
      .withColumn("sym_ppm", expr("n_sym * 1000000 div n_ch"))
      .withColumn("kw_ppm", expr("n_kw * 1000000 div n_tok"))
      .select($"doc_id", $"stmt_ppm", $"indent_ppm", $"sym_ppm", $"kw_ppm",
        (($"stmt_ppm" * 2 + $"indent_ppm" + $"sym_ppm" * 10 + $"kw_ppm" * 3)
          >= 400000L).as("is_code"))
      .orderBy($"doc_id")
  }

  /** F26 Zipf slope per source (the power-law fit a corpus curator
    * reads as "is this slice natural language or generated sludge" —
    * natural text sits near −1, templated/spammy text flattens): OLS
    * of ln(freq) on ln(rank) over each source's top-200 terms. Sums
    * fold in PINNED rank order (sorted-struct aggregate, the A36
    * precedent); ln is libm on both engines and the export rounds to
    * 4 dp, which absorbs last-ulp libm skew (the F6 precedent,
    * hash-stable at all tested SFs). Shape: one token aggregate, one
    * bounded per-source window over the term-count table, one
    * 200-row fold per source. */
  /** F54 DISTINCT-N diversity (Li et al. 2016 — THE standard
    * repetitiveness metric of the generation era: distinct-1/2/3 =
    * unique n-grams / total n-grams over the corpus; collapsing
    * distinct-2 is the classic symptom of mode-collapsed or
    * over-deduplicated synthetic data, so a training-data pipeline
    * reports it next to F12's within-doc repetition): exact
    * distinct/total counts per n ∈ {1,2,3} — two integer aggregates
    * per n over the exploded n-gram frame, one division at export.
    * The n-gram frame is the F5/F20 shape (posexplode-free word
    * slide via transform over the token array). */
  def distinctN(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = docs.select(tokens($"text").as("w"))
    val grams = (1 to 3).map { n =>
      val g =
        if (n == 1) tok.select(explode($"w").as("gram"))
        else tok
          .filter(size($"w") >= n)
          .select(explode(expr(
            s"transform(sequence(0, size(w) - $n), " +
              s"i -> concat_ws(' ', slice(w, i + 1, $n)))")).as("gram"))
      g.agg(count(lit(1)).as("total_ngrams"),
          countDistinct($"gram").as("distinct_ngrams"))
        .select(lit(n.toLong).as("n"), $"total_ngrams", $"distinct_ngrams",
          round($"distinct_ngrams".cast("double") /
            $"total_ngrams".cast("double"), 6).as("distinct_ratio"))
    }
    grams.reduce(_ unionByName _).orderBy($"n")
  }

  def zipfSlope(docs: DataFrame, topN: Int = 200): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val tc = docs.select($"source", explode(tokens($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"source").orderBy($"n".desc, $"term")
    val top = tc.withColumn("rank", row_number().over(w))
      .filter($"rank" <= topN)
      .select($"source", $"rank",
        expr("ln(cast(rank as double))").as("x"),
        expr("ln(cast(n as double))").as("y"))
    top.groupBy($"source")
      .agg(count(lit(1)).as("n_terms"),
        sort_array(collect_list(struct($"rank", $"x", $"y"))).as("ps"))
      .select($"source", $"n_terms",
        expr("aggregate(ps, 0D, (a, p) -> a + p.x)").as("sx"),
        expr("aggregate(ps, 0D, (a, p) -> a + p.y)").as("sy"),
        expr("aggregate(ps, 0D, (a, p) -> a + p.x * p.y)").as("sxy"),
        expr("aggregate(ps, 0D, (a, p) -> a + p.x * p.x)").as("sxx"))
      .withColumn("slope_raw",
        ($"n_terms" * $"sxy" - $"sx" * $"sy") /
          ($"n_terms" * $"sxx" - $"sx" * $"sx"))
      .select($"source", $"n_terms",
        round($"slope_raw", 4).as("slope"),
        round(($"sy" - $"slope_raw" * $"sx") / $"n_terms", 4)
          .as("intercept"))
      .orderBy($"source")
  }

  /** F27 language-ID confusion matrix (the QA table a curator reads
    * before trusting F3's router: which declared languages leak into
    * which predicted buckets): F3's prediction joined back to the
    * declared label, counted per (declared, predicted) cell with the
    * per-declared share in integer ppm. Cell count output is r·c
    * rows; the margin window runs over the CELL table. */
  def langConfusion(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val pred = langId(docs).select($"doc_id", $"lang_pred")
    docs.select($"doc_id", $"lang").join(pred, "doc_id")
      .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum($"n").over(Window.partitionBy($"lang")))
      .withColumn("share_ppm", expr("n * 1000000 div row_total"))
      .orderBy($"lang", $"lang_pred")
  }

  /** F36 DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the standard
    * recipe for tilting a raw crawl toward a target domain): score
    * every raw document by the log-likelihood ratio of its tokens
    * under two add-one-smoothed unigram LMs, one trained on the
    * TARGET set (the deterministic doc_id % 50 = 0 stand-in the
    * decontamination pair D9/D14 already uses — library users pass
    * their own target frame) and one on the raw corpus itself:
    * logw(d) = Σ_t c_d(t)·[ln p_tgt(t) − ln p_raw(t)]. Positive
    * means "more target-like than crawl-like" — the resampling
    * weight a curation run feeds into its sampler.
    *
    * Determinism: per-(doc, term) contributions are one identical
    * IEEE sequence in both engines and fold per doc in SORTED TERM
    * ORDER with a 0-init left fold (the F16/F19 precedent); the
    * result rounds to 4 decimals, the `selected` flag compares the
    * UNROUNDED fold in both engines. Scale shape: one tokenize →
    * per-doc term counts (localCheckpointed, three consumers), two
    * term-count aggregates that join back size-adaptively, three
    * driver-side scalars (token totals + vocab — counters, not
    * data). No per-doc state beyond its own distinct terms. */
  def dsirWeights(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = docs.select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tgt = tok.filter($"doc_id" % 50 === 0)
      .groupBy($"term").agg(sum($"c").as("ct"))
    val raw = tok.filter($"doc_id" % 50 =!= 0)
      .groupBy($"term").agg(sum($"c").as("cr"))
    val nt = tgt.agg(coalesce(sum($"ct"), lit(0L))).collect()(0).getLong(0)
    val nr = raw.agg(coalesce(sum($"cr"), lit(0L))).collect()(0).getLong(0)
    val v = tok.select($"term").distinct().count()
    tok.filter($"doc_id" % 50 =!= 0)
      .join(raw, Seq("term"))
      .join(tgt, Seq("term"), "left")
      .withColumn("contrib", $"c" * (
        log((coalesce($"ct", lit(0L)) + lit(1.0)) / lit((nt + v).toDouble)) -
          log(($"cr" + lit(1.0)) / lit((nr + v).toDouble))))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sort_array(collect_list(struct($"term", $"contrib"))).as("ps"))
      .withColumn("lw", expr(
        "aggregate(transform(ps, x -> x.contrib), 0D, (acc, x) -> acc + x)"))
      .select($"doc_id", $"n_tokens", round($"lw", 4).as("dsir_logw"),
        ($"lw" > 0).cast("long").as("selected"))
      .orderBy($"doc_id")
  }

  /** F37 n-gram NOVELTY curve — per-document fraction of word
    * 5-grams never seen in any EARLIER document (doc_id as ingestion
    * order): the "how much new text does each increment add"
    * diagnostic a continuously-crawled corpus publishes, and the
    * complement of D17's duplicated-span fraction (that scores
    * corpus-repeated mass anywhere; this scores first-appearance by
    * order). novelty_ppm = n_novel·10⁶ div n_shingles over the
    * per-doc DISTINCT shingle set; a shingle is novel in exactly the
    * doc that min(doc_id)-owns it.
    *
    * Scale shape: row-local distinct shingle arrays
    * (localCheckpointed before the explode — the D2/D18 Generate
    * lesson), ONE map-side-combined min aggregate for first-owners,
    * one join back on shingle (both sides shuffle-partitioned by
    * shingle — no corpus-sized broadcast), one per-doc count
    * aggregate. All integer; docs under 5 words carry no shingles
    * and are absent by design (the twin drops them identically). */
  def novelty(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ex = Dedup.distinctShingleArr(docs).localCheckpoint()
      .select($"doc_id", explode($"sh").as("shingle"))
    val first = ex.groupBy($"shingle").agg(min($"doc_id").as("first_doc"))
    ex.join(first, "shingle")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_shingles"))
      .select($"doc_id", $"n_shingles", $"n_novel", $"novelty_ppm")
      .orderBy($"doc_id")
  }

  /** F38 multinomial NAIVE-BAYES quality classifier (the fastText /
    * CCNet-style distillation step every large curation run performs:
    * an expensive or hand-written quality rule labels a corpus once,
    * a bag-of-words classifier learns it, and the CLASSIFIER runs at
    * crawl scale; here the teacher is F2's integer-exact
    * `score_ppm ≥ 200000` gate, so labels are bit-deterministic):
    * add-one-smoothed class-conditional term models, per-doc decision
    * logodds(d) = ln(n₁/n₀) + Σ_t c_t·[ln((c₁ₜ+1)/(N₁+V)) −
    * ln((c₀ₜ+1)/(N₀+V))], predicted class = sign, plus the
    * teacher-agreement flag — the confusion readout that tells a
    * curator whether the distilled filter is safe to deploy.
    *
    * Determinism: per-(doc, term) contributions are one identical
    * IEEE sequence in both engines and fold per doc in SORTED TERM
    * ORDER with a 0-init left fold (the F36 recipe); the export
    * rounds to 4, the pred/correct flags compare the unrounded fold.
    * Scale shape: one tokenize → per-doc term counts
    * (localCheckpointed), two term-level class aggregates joined back
    * by term, four driver scalars (class token totals, vocab, doc
    * priors — counters, not data). */
  def nbQuality(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val lab = withQualityCols(docs)
      .select($"doc_id", ($"score_ppm" >= 200000L).cast("long").as("y"))
    val tok = docs.select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
      .join(lab, "doc_id")
      .localCheckpoint()
    val cls = tok.groupBy($"term")
      .agg(sum(when($"y" === 1, $"c").otherwise(0L)).as("c1"),
        sum(when($"y" === 0, $"c").otherwise(0L)).as("c0"))
    val tot = tok.agg(
      sum(when($"y" === 1, $"c").otherwise(0L)),
      sum(when($"y" === 0, $"c").otherwise(0L))).collect()(0)
    val (n1tok, n0tok) = (tot.getLong(0), tot.getLong(1))
    val v = tok.select($"term").distinct().count()
    val priors = lab.agg(sum(when($"y" === 1, 1L).otherwise(0L)),
      sum(when($"y" === 0, 1L).otherwise(0L))).collect()(0)
    val (nd1, nd0) = (priors.getLong(0), priors.getLong(1))
    require(nd1 > 0 && nd0 > 0,
      s"nbQuality needs both classes in the corpus (got $nd1/$nd0)")
    tok.join(cls, Seq("term"))
      .withColumn("contrib", $"c" * (
        log(($"c1" + lit(1.0)) / lit((n1tok + v).toDouble)) -
          log(($"c0" + lit(1.0)) / lit((n0tok + v).toDouble))))
      .groupBy($"doc_id", $"y")
      .agg(sum($"c").as("n_tokens"),
        sort_array(collect_list(struct($"term", $"contrib"))).as("ps"))
      .withColumn("lo",
        log(lit(nd1.toDouble) / lit(nd0.toDouble)) + expr(
          "aggregate(transform(ps, x -> x.contrib), 0D, (acc, x) -> acc + x)"))
      .select($"doc_id", $"y", $"n_tokens",
        round($"lo", 4).as("nb_logodds"),
        ($"lo" > 0).cast("long").as("pred"),
        (($"lo" > 0).cast("long") === $"y").cast("long").as("correct"))
      .orderBy($"doc_id")
  }

  /** F39 Kish EFFECTIVE SAMPLE SIZE of the F36 DSIR weights
    * (Kish 1965, ESS = (Σw)²/Σw² — the one-number sanity gate run
    * BEFORE importance resampling: a tilt whose ESS collapses toward
    * 1 means a handful of documents would dominate the resample and
    * the target LM is too far from the crawl to trust): weights are
    * exp(logw − max logw) — ESS is scale-invariant, so the max-shift
    * costs nothing and keeps exp in (0, 1] — quantized to integer
    * micros via the explicit half-up floor(x·10⁶ + 0.5) (the E12
    * rule: engines' round() tie conventions differ), making Σw and
    * Σw² EXACT integer aggregates — order-free, no corpus-sized
    * fold anywhere (the e12-style quantization is what makes this
    * scale-safe where a naive float Σ would need a pinned order).
    * Σw² sums as decimal(38,0) (overflows int64 past ~9·10⁶ docs).
    * Inputs are the F36 EXPORT's round-4 logw — bit-identical across
    * engines; exp is libm both sides (F6 precedent; the integer
    * quantization boundary is the only theoretical ulp seam).
    * Output: one row — n_docs, ess, ess_ratio. */
  def dsirEss(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = dsirWeights(docs).select($"doc_id", $"dsir_logw")
      .localCheckpoint()
    val mxRow = w.agg(max($"dsir_logw")).collect()(0)
    require(!mxRow.isNullAt(0), "dsirEss needs a non-empty crawl side")
    val mx = mxRow.getDouble(0)
    w.withColumn("wq",
        floor(exp($"dsir_logw" - lit(mx)) * 1000000.0 + 0.5).cast("long"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"wq".cast("decimal(38,0)")).as("sw"),
        sum(($"wq" * $"wq").cast("decimal(38,0)")).as("sww"))
      .select($"n_docs",
        round(($"sw".cast("double") * $"sw".cast("double")) /
          $"sww".cast("double"), 4).as("ess"),
        round((($"sw".cast("double") * $"sw".cast("double")) /
          $"sww".cast("double")) / $"n_docs".cast("double"), 6)
          .as("ess_ratio"))
  }

  /** F40 MOJIBAKE / encoding-artifact audit (the ftfy-class crawl
    * hygiene check: double-decoded UTF-8 shows up as 'Ã©'/'â€™'-style
    * lead-byte pairs, failed decodes leave U+FFFD replacement chars,
    * and binary bleed-through leaves C0 controls — all three survive
    * F2's quality gate because they score as ordinary punctuation-free
    * tokens, so a real pipeline screens them separately): per-doc
    * counts of (a) UTF-8 double-decode markers (Â/Ã/â followed by a
    * continuation-range char — the ftfy core heuristic), (b) U+FFFD,
    * (c) C0 controls excluding \t\n\r, plus the artifacts-per-10k-char
    * rate and a flag at ≥ 10/10k. ALL integer (regexp_extract_all
    * counts, floor-div rate) — RE2-safe patterns, so the twin replays
    * them verbatim. One projection, no shuffle. */
  def mojibake(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val dd = size(expr(
      "regexp_extract_all(text, " +
        "'[\\\\x{00C2}\\\\x{00C3}\\\\x{00E2}][\\\\x{0080}-\\\\x{00BF}]', 0)"))
      .cast("long")
    val repl = size(expr(
      "regexp_extract_all(text, '\\\\x{FFFD}', 0)")).cast("long")
    val ctrl = size(expr(
      "regexp_extract_all(text, '[\\\\x{0001}-\\\\x{0008}\\\\x{000B}" +
        "\\\\x{000C}\\\\x{000E}-\\\\x{001F}]', 0)")).cast("long")
    docs.select($"doc_id", dd.as("n_double_dec"), repl.as("n_replacement"),
        ctrl.as("n_control"),
        greatest(length($"text").cast("long"), lit(1L)).as("n_chars_d"))
      .withColumn("artifacts_per_10k", expr(
        "((n_double_dec + n_replacement + n_control) * 10000) div n_chars_d"))
      .select($"doc_id", $"n_double_dec", $"n_replacement", $"n_control",
        $"artifacts_per_10k",
        ($"artifacts_per_10k" >= 10L).cast("long").as("flagged"))
      .orderBy($"doc_id")
  }

  /** F41 corpus LENGTH PROFILE per source — the log₂-binned size
    * histogram every curation report opens with (doc-length
    * distributions are the first thing that shifts when a crawl
    * source degrades; F2's per-doc gate can't show the SHAPE):
    * bucket = ⌊log₂ n_chars⌋ computed EXACTLY as the binary-digit
    * count `length(bin(n)) − 1` — n_chars lands on powers of 2, so
    * a libm log2 would be one ulp from flipping buckets (the F24
    * boundary-risk argument, dodged instead of argued); shares as
    * floor-div ppm of the source's docs. One hash aggregate + one
    * source-keyed window over the BUCKET table. */
  def lengthProfile(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val b = docs
      .groupBy($"source",
        expr("cast(length(bin(n_chars)) - 1 as bigint)").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
    b.withColumn("src_docs",
        sum($"n_docs").over(Window.partitionBy($"source")))
      .select($"source", $"len_bucket", $"n_docs", $"total_chars",
        expr("n_docs * 1000000 div src_docs").as("share_ppm"))
      .orderBy($"source", $"len_bucket")
  }

  /** F42 CODE-SWITCH / language-mix audit per document (the
    * mixed-language gate a monolingual pretraining slice runs after
    * F3's argmax labels the PRIMARY language — an argmax is blind to
    * a 40% second-language tail, which poisons tokenizer stats and
    * eval splits): marker totals from the F3 profiles, minority mass
    * as floor-div ppm, and the mixed flag as the EXACT integer
    * predicate total ≥ 5 ∧ (total−best)·10 ≥ 3·total (≥30% minority —
    * the B22/B63 no-float-decision posture). */
  def codeSwitch(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    withLangPred(docs)
      .withColumn("total",
        $"s_en" + $"s_es" + $"s_fr" + $"s_de" + $"s_zh")
      .select($"doc_id", $"lang_pred", $"total".as("total_markers"),
        $"best".as("best_markers"),
        when($"total" > 0L,
          expr("(total - best) * 1000000 div total")).as("minor_ppm"),
        ($"total" >= 5L && ($"total" - $"best") * 10L >= $"total" * 3L)
          .cast("long").as("code_switched"))
      .orderBy($"doc_id")
  }

  /** F43 URL-DENSITY / link-spam gate per document (the C4-style
    * "mostly links" filter: link farms and nav pages score fine on
    * F2's punctuation ratios but are worthless training text; URL
    * density is the cheap decisive signal): URL count from ONE
    * RE2-safe regexp, density as floor-div ppm of the token count,
    * and the spam flag as the EXACT integer predicate n_urls ≥ 3 ∧
    * n_urls·20 ≥ n_tok (≥5% of tokens are links — the B22/B63
    * posture). Pure per-row column math, zero shuffle. */
  def urlDensity(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id",
        size(expr("regexp_extract_all(text, 'https?://[^ \\\\t\\\\n]+', 0)"))
          .cast("long").as("n_urls"),
        size(split(trim($"text"), Dedup.Ws)).cast("long").as("n_tok"))
      .withColumn("url_ppm",
        expr("n_urls * 1000000 div greatest(n_tok, 1)"))
      .withColumn("link_spam",
        ($"n_urls" >= 3L && $"n_urls" * 20L >= $"n_tok").cast("long"))
      .orderBy($"doc_id")
  }

  /** F45 DETERMINISTIC k-SAMPLE per source — the reproducible audit
    * sample every corpus review pulls ("send me 5 docs from each
    * source", and the SAME 5 next week, with no RNG state anywhere):
    * sample = the k docs with the smallest Knuth multiplicative hash
    * key (id·2654435761 mod 2³¹ — exact integer, uniform enough for
    * sampling, replayable in any engine), i.e. a bottom-k ORDER
    * STATISTIC, not a rand() filter.
    *
    * Scale shape: NO per-source corpus sort. Rank = two-level
    * decomposition (the A57/C46 pattern): keys bucket by key div 2²¹,
    * per-source bucket counts give each bucket's preceding-rank
    * offset through a bucket-table window (thousands of rows), and
    * the within-bucket rank is a window over (source, bucket) —
    * bucket-sized partitions, never source-sized. All exact
    * integers. */
  def sampleK(docs: DataFrame, k: Int = 5): DataFrame = {
    import docs.sparkSession.implicits._
    val keyed = docs.select($"source", $"doc_id")
      .withColumn("key", expr("(doc_id * 2654435761) % 2147483648"))
      .withColumn("bkt", expr("key div 2097152"))
    val bcounts = keyed.groupBy($"source", $"bkt")
      .agg(count(lit(1)).as("bc"))
    val wB = Window.partitionBy($"source").orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bcounts.withColumn("off",
      coalesce(sum($"bc").over(wB), lit(0L)))
    val wIn = Window.partitionBy($"source", $"bkt")
      .orderBy($"key", $"doc_id")
    keyed
      .join(offs.select($"source", $"bkt", $"off"), Seq("source", "bkt"))
      .withColumn("rk", $"off" + row_number().over(wIn))
      .filter($"rk" <= k)
      .select($"source", $"rk", $"doc_id", $"key")
      .orderBy($"source", $"rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_sample_k" -> onDocs(d => sampleK(d)),
    "text_url_density" -> onDocs(urlDensity),
    "text_length_profile" -> onDocs(lengthProfile),
    "text_codeswitch" -> onDocs(codeSwitch),
    "text_mojibake" -> onDocs(mojibake),
    "text_dsir_ess" -> onDocs(dsirEss),
    "text_nb_quality" -> onDocs(nbQuality),
    "text_dsir" -> onDocs(dsirWeights),
    "text_novelty" -> onDocs(novelty),
    "text_kappa" -> onDocs(raterKappa),
    // graded on the FAST path (driver-side merge loop; spec-pinned
    // == the distributed loop, which stays the unbounded-vocab
    // fallback inside the same entry points)
    "text_bpe_train" -> onDocs(d => bpeTrainFast(d)),
    "text_bpe_fertility" -> onDocs(d => bpeFertilityFast(d)),
    "text_readability" -> onDocs(readability),
    "text_burstiness" -> onDocs(d => burstiness(d)),
    // rows-only by design: no SQL engine replays zlib; property-spec'd
    "text_compress" -> onDocs(d => compressionRatio(d)),
    "text_code_detect" -> onDocs(codeDetect),
    "text_lang_confusion" -> onDocs(langConfusion),
    "text_zipf" -> onDocs(d => zipfSlope(d)),
    "text_distinct_n" -> onDocs(distinctN),
    "text_lexdiv" -> onDocs(lexicalDiversity),
    "text_yule_k" -> onDocs(yuleK),
    "text_jsd" -> onDocs(d => jsdSlices(d)),
    "text_heavy_hitters" -> onDocs(d => heavyHitters(d)),
    "text_rake" -> onDocs(d => rake(d)),
    "text_domain_cap" -> onDocs(d => domainCap(d)),
    "text_split_assign" -> onDocs(splitAssign),
    "text_profile" -> onDocs(profile),
    "text_tfidf" -> onDocs(tfidf),
    "text_bm25" -> onDocs(d => bm25(d)),
    // the F46 SERVED path under the same oracle as the batch
    // ranking: the index is built once per documents version
    // (servedBm25Index), every call answers from postings alone
    "text_bm25_serve" -> ((s, dir) => queryBm25Index(s, servedBm25Index(s, dir))),
    "text_lm_score" -> onDocs(lmScore),
    "text_bigram_lm" -> onDocs(bigramLm),
    "text_kn_lm" -> onDocs(knLm),
    "text_collocations" -> onDocs(collocations),
    "text_cooc" -> onDocs(cooc),
    "text_textrank" -> onDocs(textrank),
    "text_heaps" -> onDocs(heapsLaw),
    "text_vocab_coverage" -> onDocs(v => vocabCoverage(v)),
    "text_script_profile" -> onDocs(scriptProfile),
    "text_chunk" -> onDocs(d => chunk(d)),
    "text_entropy" -> onDocs(charEntropy),
    "text_tokens" -> onDocs(tokenCounts),
    "text_quality" -> onDocs(quality),
    "text_gopher" -> onDocs(gopherRules),
    "text_langid" -> onDocs(langId),
    "text_fingerprint" -> onDocs(fingerprint),
    "text_ngram_profile" -> onDocs(ngramProfile),
    "text_repetition" -> onDocs(repetition),
    "text_pii_scrub" -> onDocs(piiScrub),
    "text_quality_prune" -> onDocs(d => qualityPrune(d)),
    "text_sample_mix" -> onDocs(d => sampleMixture(d)),
    "text_pack_blocks" -> onDocs(d => packBlocks(d)))

  /** Shared quality-score CTE (`sc(doc_id, source, score_ppm)`) —
    * the text_quality formula with `source` carried through. */
  private val scoreCteSql =
    """sc AS (
      |  SELECT doc_id, source,
      |    least(n_tok * 10000, 1000000) // 2
      |      + (n_stop * 1000000) // greatest(n_tok, 1) // 2
      |      - ((n_punct * 1000000) // n_chars_d) // 5 AS score_ppm
      |  FROM (
      |    SELECT doc_id, source,
      |      len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok,
      |      len(regexp_extract_all(text, '[.,!?;:()]'))::BIGINT AS n_punct,
      |      len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is)\b'))::BIGINT AS n_stop,
      |      greatest(length(text)::BIGINT, 1) AS n_chars_d
      |    FROM documents))""".stripMargin

  /** F34 twin: identical word aggregate, per-round pair count via
    * lateral position unnest, the same (cnt DESC, a, b) winner, and
    * the identical greedy fold with list-typed accumulators (B41
    * trick; DuckDB's inclusive slice end makes drop-last [:-2]). */
  private def bpeCtes(rounds: Int, withFinal: Boolean): String = {
    val iters = (1 to rounds).map { r =>
      val merge =
        if (r == rounds && !withFinal) ""
        else s""",
           |v$r AS (
           |  SELECT w, wc,
           |    list_reduce(
           |      list_prepend([]::VARCHAR[],
           |        list_transform(syms, x -> [x])),
           |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = a
           |          AND x[1] = b
           |        THEN list_append(acc[:-2], a || b)
           |        ELSE list_append(acc, x[1]) END) AS syms
           |  FROM v${r - 1}, m$r)""".stripMargin
      s"""p$r AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b, sum(wc)::BIGINT AS cnt
         |  FROM v${r - 1}, unnest(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2),
         |m$r AS (SELECT a, b, cnt FROM p$r
         |  ORDER BY cnt DESC, a, b LIMIT 1)$merge""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT w, count(*)::BIGINT AS wc FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |      AS w
       |    FROM documents) GROUP BY 1),
       |v0 AS (SELECT w, wc, string_split(w, '') AS syms FROM w0),
       |$iters""".stripMargin
  }

  private def bpeSql(rounds: Int): String = {
    val out = (1 to rounds).map(r =>
      s"SELECT $r::BIGINT AS round, a AS \"left\", b AS \"right\", " +
        s"cnt AS pair_count FROM m$r").mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(rounds, withFinal = false)}
       |$out
       |ORDER BY round""".stripMargin
  }

  /** F35 twin: the F34 chain with the final vocabulary kept, joined
    * back to per-source word counts — same floor-div ppm. */
  private def bpeFertilitySql(rounds: Int): String =
    s"""WITH ${bpeCtes(rounds, withFinal = true)},
       |ws AS (
       |  SELECT source, w, count(*)::BIGINT AS wc FROM (
       |    SELECT source,
       |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents) GROUP BY 1, 2),
       |seg AS (SELECT w, len(syms)::BIGINT AS n_tok FROM v$rounds),
       |agg AS (
       |  SELECT source, sum(ws.wc)::BIGINT AS n_words,
       |    sum(ws.wc * seg.n_tok)::BIGINT AS n_tokens
       |  FROM ws JOIN seg USING (w) GROUP BY 1)
       |SELECT source, n_words, n_tokens,
       |  n_tokens * 1000000 // n_words AS fertility_ppm
       |FROM agg ORDER BY source""".stripMargin

  /** F36 oracle CTE chain through the per-doc unrounded logw fold —
    * shared by the text_dsir export and the F39 ESS tail. */
  private val dsirCtesSql =
    """tok AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS c FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(trim(text), '\s+')) AS term
      |    FROM documents) GROUP BY 1, 2),
      |tgt AS (SELECT term, sum(c)::BIGINT AS ct FROM tok
      |        WHERE doc_id % 50 = 0 GROUP BY 1),
      |raw AS (SELECT term, sum(c)::BIGINT AS cr FROM tok
      |        WHERE doc_id % 50 <> 0 GROUP BY 1),
      |s AS (SELECT
      |  (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt,
      |  (SELECT coalesce(sum(cr), 0) FROM raw) AS nr,
      |  (SELECT count(DISTINCT term) FROM tok) AS v),
      |parts AS (
      |  SELECT t.doc_id, t.term, t.c,
      |    t.c * (ln((coalesce(g.ct, 0) + 1.0) / (s.nt + s.v)::DOUBLE)
      |         - ln((r.cr + 1.0) / (s.nr + s.v)::DOUBLE)) AS contrib
      |  FROM tok t JOIN raw r USING (term) LEFT JOIN tgt g USING (term), s
      |  WHERE t.doc_id % 50 <> 0),
      |agg AS (
      |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list(contrib ORDER BY term)), (acc, x) -> acc + x) AS lw
      |  FROM parts GROUP BY 1)""".stripMargin

  /** Shared by text_bm25 and text_bm25_serve (F46): the served
    * index must reproduce the batch ranking exactly. */
  private def bm25OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
       |stats AS (
       |  SELECT (SELECT count(*)::BIGINT FROM documents) AS n,
       |    (SELECT sum(dl)::DOUBLE / (SELECT count(*) FROM documents)
       |     FROM dl) AS avgdl),
       |qt AS (SELECT doc_id, term FROM toks
       |  WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(", ")})),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM qt GROUP BY 1, 2),
       |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM qt GROUP BY 1),
       |parts AS (
       |  SELECT tf.doc_id,
       |    ln(1.0 + (s.n::DOUBLE - df.df + 0.5) / (df.df + 0.5))
       |      * (tf.tf * ${Bm25K1 + 1.0}) /
       |      (tf.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl.dl / s.avgdl))
       |      AS part
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats s),
       |agg AS (
       |  SELECT doc_id, sum(part) AS raw, count(*)::BIGINT AS n_terms_hit
       |  FROM parts GROUP BY 1)
       |SELECT doc_id, round(raw, 4) AS score, n_terms_hit
       |FROM agg ORDER BY round(raw, 4) DESC, doc_id LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    // F46 serve twin: the SERVED index must reproduce the batch
    // ranking exactly, so it grades against the same SQL
    "text_bm25_serve" -> bm25OracleSql,
    // F45 twin: same multiplicative-hash keys; the oracle uses ONE
    // per-source window — equal to the two-level rank exactly in
    // integers (keys are distinct because the multiplier is odd and
    // ids < 2^31, so both ranks are over a strict order)
    "text_sample_k" ->
      """WITH keyed AS (
        |  SELECT source, doc_id,
        |    (doc_id * 2654435761) % 2147483648 AS key
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, key,
        |    row_number() OVER (PARTITION BY source ORDER BY key, doc_id)
        |      ::BIGINT AS rk
        |  FROM keyed)
        |SELECT source, rk, doc_id, key FROM r
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    // F43 twin: same RE2 URL pattern, same token convention, same
    // exact integer spam predicate
    "text_url_density" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, 'https?://[^ \t\n]+'))::BIGINT
        |    AS n_urls,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok,
        |  (len(regexp_extract_all(text, 'https?://[^ \t\n]+')) * 1000000
        |    // greatest(len(string_split_regex(trim(text), '\s+')), 1))
        |    ::BIGINT AS url_ppm,
        |  (CASE WHEN len(regexp_extract_all(text, 'https?://[^ \t\n]+')) >= 3
        |    AND len(regexp_extract_all(text, 'https?://[^ \t\n]+')) * 20
        |      >= len(string_split_regex(trim(text), '\s+'))
        |    THEN 1 ELSE 0 END)::BIGINT AS link_spam
        |FROM documents ORDER BY doc_id""".stripMargin,
    // F41 twin: the identical exact binary-digit bucket, same
    // floor-div shares
    "text_length_profile" ->
      """WITH b AS (
        |  SELECT source, (length(bin(n_chars)) - 1)::BIGINT AS len_bucket,
        |    count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
        |  FROM documents GROUP BY 1, 2),
        |s AS (
        |  SELECT *, (sum(n_docs) OVER (PARTITION BY source))::BIGINT
        |    AS src_docs
        |  FROM b)
        |SELECT source, len_bucket, n_docs, total_chars,
        |  (n_docs * 1000000 // src_docs)::BIGINT AS share_ppm
        |FROM s ORDER BY source, len_bucket""".stripMargin,
    // F42 twin: the F3 marker regexes verbatim, same integer
    // minority-mass predicate
    "text_codeswitch" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\b(the|a|of)\b'))::BIGINT AS s_en,
        |    len(regexp_extract_all(text, '\b(la|el|los|de)\b'))::BIGINT AS s_es,
        |    len(regexp_extract_all(text, '\b(le|la|les|des)\b'))::BIGINT AS s_fr,
        |    len(regexp_extract_all(text, '\b(der|die|das|und)\b'))::BIGINT AS s_de,
        |    len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]'))::BIGINT AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT *, greatest(s_en, s_es, s_fr, s_de, s_zh) AS best,
        |    s_en + s_es + s_fr + s_de + s_zh AS total
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN best = 0 THEN 'und'
        |    WHEN s_zh = best THEN 'zh'
        |    WHEN s_en = best THEN 'en'
        |    WHEN s_es = best THEN 'es'
        |    WHEN s_fr = best THEN 'fr'
        |    ELSE 'de' END AS lang_pred,
        |  total AS total_markers, best AS best_markers,
        |  CASE WHEN total > 0 THEN
        |    ((total - best) * 1000000 // total)::BIGINT END AS minor_ppm,
        |  (CASE WHEN total >= 5 AND (total - best) * 10 >= total * 3
        |    THEN 1 ELSE 0 END)::BIGINT AS code_switched
        |FROM p ORDER BY doc_id""".stripMargin,
    // F40 twin: the identical RE2 \x{}-class patterns, exact counts,
    // floor-div rate, same flag threshold
    "text_mojibake" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[\x{00C2}\x{00C3}\x{00E2}][\x{0080}-\x{00BF}]'))::BIGINT
        |    AS n_double_dec,
        |  len(regexp_extract_all(text, '\x{FFFD}'))::BIGINT
        |    AS n_replacement,
        |  len(regexp_extract_all(text,
        |    '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]'))
        |    ::BIGINT AS n_control,
        |  ((len(regexp_extract_all(text,
        |      '[\x{00C2}\x{00C3}\x{00E2}][\x{0080}-\x{00BF}]'))
        |    + len(regexp_extract_all(text, '\x{FFFD}'))
        |    + len(regexp_extract_all(text,
        |      '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]')))
        |    * 10000) // greatest(length(text)::BIGINT, 1)
        |    AS artifacts_per_10k,
        |  (((len(regexp_extract_all(text,
        |      '[\x{00C2}\x{00C3}\x{00E2}][\x{0080}-\x{00BF}]'))
        |    + len(regexp_extract_all(text, '\x{FFFD}'))
        |    + len(regexp_extract_all(text,
        |      '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]')))
        |    * 10000) // greatest(length(text)::BIGINT, 1) >= 10)::BIGINT
        |    AS flagged
        |FROM documents ORDER BY doc_id""".stripMargin,
    // F38 twin: the same F2 integer teacher label, the same add-one
    // class models over the shared vocab, the identical per-term IEEE
    // contribution folded per doc in sorted term order, prior added
    // once up front; pred/correct compare the unrounded fold
    "text_nb_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok,
        |    len(regexp_extract_all(text, '[.,!?;:()]'))::BIGINT
        |      AS n_punct,
        |    len(regexp_extract_all(text,
        |      '\b(the|a|and|of|to|in|is)\b'))::BIGINT AS n_stop,
        |    greatest(length(text)::BIGINT, 1) AS n_chars_d
        |  FROM documents),
        |lab AS (
        |  SELECT doc_id,
        |    (CASE WHEN least(n_tok * 10000, 1000000) // 2
        |      + (n_stop * 1000000) // greatest(n_tok, 1) // 2
        |      - (n_punct * 1000000) // n_chars_d // 5 >= 200000
        |     THEN 1 ELSE 0 END)::BIGINT AS y
        |  FROM t),
        |tok AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS c FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '\s+')) AS term
        |    FROM documents) GROUP BY 1, 2),
        |tk AS (
        |  SELECT tok.doc_id, term, c, y FROM tok JOIN lab USING (doc_id)),
        |cls AS (
        |  SELECT term,
        |    sum(CASE WHEN y = 1 THEN c ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN y = 0 THEN c ELSE 0 END)::BIGINT AS c0
        |  FROM tk GROUP BY 1),
        |s AS (SELECT
        |  (SELECT sum(CASE WHEN y = 1 THEN c ELSE 0 END) FROM tk) AS n1,
        |  (SELECT sum(CASE WHEN y = 0 THEN c ELSE 0 END) FROM tk) AS n0,
        |  (SELECT count(DISTINCT term) FROM tk) AS v,
        |  (SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) FROM lab)
        |    AS nd1,
        |  (SELECT sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) FROM lab)
        |    AS nd0),
        |parts AS (
        |  SELECT tk.doc_id, tk.y, tk.term, tk.c,
        |    tk.c * (ln((cls.c1 + 1.0) / (s.n1 + s.v)::DOUBLE)
        |          - ln((cls.c0 + 1.0) / (s.n0 + s.v)::DOUBLE)) AS contrib
        |  FROM tk JOIN cls USING (term), s),
        |agg AS (
        |  SELECT doc_id, y, sum(c)::BIGINT AS n_tokens,
        |    ln((SELECT nd1 FROM s)::DOUBLE / (SELECT nd0 FROM s)::DOUBLE)
        |      + list_reduce(list_prepend(0.0::DOUBLE,
        |          list(contrib ORDER BY term)), (acc, x) -> acc + x) AS lo
        |  FROM parts GROUP BY 1, 2)
        |SELECT doc_id, y, n_tokens, round(lo, 4) AS nb_logodds,
        |  (lo > 0)::BIGINT AS pred,
        |  ((lo > 0)::BIGINT = y)::BIGINT AS correct
        |FROM agg ORDER BY doc_id""".stripMargin,
    // F36 twin: same smoothed unigram LMs (target = doc_id % 50 = 0,
    // raw = rest, shared corpus vocab V), the identical per-term IEEE
    // sequence c·(ln a − ln b), folded per doc in the SAME sorted term
    // order via list(... ORDER BY term) with a 0-prepend left fold;
    // `selected` compares the unrounded fold in both engines
    "text_dsir" ->
      s"""WITH $dsirCtesSql
         |SELECT doc_id, n_tokens, round(lw, 4) AS dsir_logw,
         |  (lw > 0)::BIGINT AS selected
         |FROM agg ORDER BY doc_id""".stripMargin,
    // F39 twin: the F36 CTEs verbatim through the round-4 logw
    // export, the same max-shift, the same explicit half-up micro
    // quantization, exact integer sums, two IEEE divisions
    "text_dsir_ess" ->
      s"""WITH $dsirCtesSql,
         |w AS (SELECT doc_id, round(lw, 4) AS lg FROM agg),
         |m AS (SELECT max(lg) AS mx FROM w),
         |q AS (
         |  SELECT floor(exp(lg - m.mx) * 1000000.0 + 0.5)::BIGINT AS wq
         |  FROM w, m)
         |SELECT count(*)::BIGINT AS n_docs,
         |  round((sum(wq)::DOUBLE * sum(wq)::DOUBLE)
         |    / sum(wq * wq)::DOUBLE, 4) AS ess,
         |  round(((sum(wq)::DOUBLE * sum(wq)::DOUBLE)
         |    / sum(wq * wq)::DOUBLE) / count(*)::DOUBLE, 6) AS ess_ratio
         |FROM q""".stripMargin,
    // F37 twin: same per-doc DISTINCT 5-gram set, min(doc_id) first
    // owner, integer floor-div ppm
    "text_novelty" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS shingle
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        |        FROM w WHERE len(w) >= 5)),
        |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
        |  sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::BIGINT
        |    AS n_novel,
        |  ((sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::BIGINT
        |    * 1000000) // count(*))::BIGINT AS novelty_ppm
        |FROM sh s JOIN f USING (shingle)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // F33 twin: same flags, exact HUGEINT margin products, the one
    // final division
    "text_kappa" ->
      """WITH f AS (
        |  SELECT (length(text) >= 250)::BIGINT AS a,
        |    (len(string_split_regex(trim(text), '[ \t\n\f\r]+')) >= 46)
        |      ::BIGINT AS b
        |  FROM documents),
        |c AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    sum(a * b)::BIGINT AS n11, sum(a * (1 - b))::BIGINT AS n10,
        |    sum((1 - a) * b)::BIGINT AS n01,
        |    sum((1 - a) * (1 - b))::BIGINT AS n00
        |  FROM f),
        |k AS (
        |  SELECT *,
        |    (n11::HUGEINT + n10) * (n11::HUGEINT + n01)
        |      + (n01::HUGEINT + n00) * (n10::HUGEINT + n00) AS pe_sum,
        |    n_docs::HUGEINT * n_docs
        |      - ((n11::HUGEINT + n10) * (n11::HUGEINT + n01)
        |        + (n01::HUGEINT + n00) * (n10::HUGEINT + n00)) AS kden
        |  FROM c)
        |SELECT n_docs, n11, n10, n01, n00,
        |  (n11 + n00) * 1000000 // n_docs AS po_ppm,
        |  CASE WHEN kden <> 0 THEN round(
        |    (n_docs::HUGEINT * (n11::HUGEINT + n00) - pe_sum)::DOUBLE
        |      / kden::DOUBLE, 6) END AS kappa
        |FROM k""".stripMargin,
    "text_bpe_train" -> bpeSql(4),
    "text_bpe_fertility" -> bpeFertilitySql(4),
    // F31 twin: same tokenizer, same exact HUGEINT VMR numerator and
    // floor-div ppm, same (vmr desc, token) top-20
    "text_burstiness" ->
      """WITH nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |tc AS (
        |  SELECT doc_id, t AS token, count(*)::BIGINT AS c FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\f\r]+')) AS t FROM documents)
        |  WHERE t <> '' GROUP BY 1, 2),
        |agg AS (
        |  SELECT token, count(*)::BIGINT AS df, sum(c)::BIGINT AS tf,
        |    sum(c * c)::BIGINT AS s2
        |  FROM tc GROUP BY 1)
        |SELECT token, df, tf,
        |  ((n_docs::HUGEINT * s2 - tf::HUGEINT * tf) * 1000000
        |    // (n_docs::HUGEINT * tf))::BIGINT AS vmr_ppm
        |FROM agg, nd WHERE tf >= 10
        |ORDER BY vmr_ppm DESC, token LIMIT 20""".stripMargin,
    // F28 twin: same word/vowel-group/sentence regexes, same integer
    // floors, same pinned two-division IEEE tail, round-4 export
    "text_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT
        |      AS n_words,
        |    (len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |     + len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |         w -> regexp_matches(w, '^[b-df-hj-np-tv-xz0-9]+$'))))::BIGINT
        |      AS n_syllables,
        |    greatest(len(regexp_extract_all(text, '[.!?]+'))::BIGINT, 1)
        |      AS n_sentences
        |  FROM documents),
        |r AS (
        |  SELECT *,
        |    n_words::DOUBLE / n_sentences::DOUBLE AS wps,
        |    n_syllables::DOUBLE / greatest(n_words, 1)::DOUBLE AS spw
        |  FROM c)
        |SELECT doc_id, n_words, n_syllables, n_sentences,
        |  round(206.835 - 1.015 * wps - 84.6 * spw, 4) AS fre,
        |  round(0.39 * wps + 11.8 * spw - 15.59, 4) AS fk_grade
        |FROM r ORDER BY doc_id""".stripMargin,
    // F29 twin: same line/symbol/keyword regexes, floor-div ppm, the
    // identical integer flag predicate
    "text_code_detect" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    string_split(text, chr(10)) AS lines,
        |    len(string_split(text, chr(10)))::BIGINT AS n_lines,
        |    len(regexp_extract_all(text, '[{}()=<>;\[\]]'))::BIGINT AS n_sym,
        |    len(regexp_extract_all(text,
        |      '\b(def|class|return|import|function|var|const|void|int|for|while|if|else)\b'))::BIGINT
        |      AS n_kw,
        |    greatest(len(string_split_regex(trim(text),
        |      '[ \t\n\f\r]+'))::BIGINT, 1) AS n_tok,
        |    greatest(length(text)::BIGINT, 1) AS n_ch
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, n_lines, n_sym, n_kw, n_tok, n_ch,
        |    len(list_filter(lines,
        |      l -> regexp_matches(trim(l), '[;{}]$')))::BIGINT AS n_stmt,
        |    len(list_filter(lines,
        |      l -> regexp_matches(l, '^(  |\t)')))::BIGINT AS n_indent
        |  FROM c),
        |p AS (
        |  SELECT doc_id,
        |    n_stmt * 1000000 // n_lines AS stmt_ppm,
        |    n_indent * 1000000 // n_lines AS indent_ppm,
        |    n_sym * 1000000 // n_ch AS sym_ppm,
        |    n_kw * 1000000 // n_tok AS kw_ppm
        |  FROM d)
        |SELECT doc_id, stmt_ppm, indent_ppm, sym_ppm, kw_ppm,
        |  (stmt_ppm * 2 + indent_ppm + sym_ppm * 10 + kw_ppm * 3)
        |    >= 400000 AS is_code
        |FROM p ORDER BY doc_id""".stripMargin,
    // F27 twin: the F3 prediction CTEs + one grouped count and an
    // integer ppm margin share
    "text_lang_confusion" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '\b(the|a|of)\b'))::BIGINT AS s_en,
        |    len(regexp_extract_all(text, '\b(la|el|los|de)\b'))::BIGINT AS s_es,
        |    len(regexp_extract_all(text, '\b(le|la|les|des)\b'))::BIGINT AS s_fr,
        |    len(regexp_extract_all(text, '\b(der|die|das|und)\b'))::BIGINT AS s_de,
        |    len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]'))::BIGINT AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT *, greatest(s_en, s_es, s_fr, s_de, s_zh) AS best FROM t),
        |q AS (
        |  SELECT *, CASE WHEN best = 0 THEN 'und'
        |    WHEN s_zh = best THEN 'zh'
        |    WHEN s_en = best THEN 'en'
        |    WHEN s_es = best THEN 'es'
        |    WHEN s_fr = best THEN 'fr'
        |    ELSE 'de' END AS lang_pred
        |  FROM p),
        |c AS (
        |  SELECT lang, lang_pred, count(*)::BIGINT AS n
        |  FROM q GROUP BY 1, 2),
        |ct AS (
        |  SELECT lang, lang_pred, n,
        |    (sum(n) OVER (PARTITION BY lang))::BIGINT AS row_total
        |  FROM c)
        |SELECT lang, lang_pred, n, row_total,
        |  n * 1000000 // row_total AS share_ppm
        |FROM ct ORDER BY lang, lang_pred""".stripMargin,
    // F26 twin: same tokenizer, same (n desc, term) rank, same
    // rank-ordered folds of the same libm lns, round-4 export
    // F54 twin: same whitespace tokens, same word-slide n-grams,
    // exact integer counts, one division at export
    "text_distinct_n" ->
      """WITH w AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |g1 AS (SELECT unnest(w) AS gram FROM w),
        |g2 AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM w WHERE len(w) >= 2),
        |g3 AS (
        |  SELECT unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM w WHERE len(w) >= 3)
        |SELECT 1::BIGINT AS n, count(*)::BIGINT AS total_ngrams,
        |  count(DISTINCT gram)::BIGINT AS distinct_ngrams,
        |  round(count(DISTINCT gram)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS distinct_ratio
        |FROM g1
        |UNION ALL
        |SELECT 2::BIGINT, count(*)::BIGINT, count(DISTINCT gram)::BIGINT,
        |  round(count(DISTINCT gram)::DOUBLE / count(*)::DOUBLE, 6)
        |FROM g2
        |UNION ALL
        |SELECT 3::BIGINT, count(*)::BIGINT, count(DISTINCT gram)::BIGINT,
        |  round(count(DISTINCT gram)::DOUBLE / count(*)::DOUBLE, 6)
        |FROM g3
        |ORDER BY n""".stripMargin,
    "text_zipf" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tc AS (SELECT source, term, count(*)::BIGINT AS n
        |       FROM toks GROUP BY 1, 2),
        |top AS (
        |  SELECT source, rank, ln(rank::DOUBLE) AS x, ln(n::DOUBLE) AS y
        |  FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY source ORDER BY n DESC, term) AS rank
        |    FROM tc) WHERE rank <= 200),
        |s AS (
        |  SELECT source, count(*)::BIGINT AS n_terms,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(x ORDER BY rank)),
        |      (a, b) -> a + b) AS sx,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(y ORDER BY rank)),
        |      (a, b) -> a + b) AS sy,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(x * y ORDER BY rank)),
        |      (a, b) -> a + b) AS sxy,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(x * x ORDER BY rank)),
        |      (a, b) -> a + b) AS sxx
        |  FROM top GROUP BY 1),
        |r AS (
        |  SELECT source, n_terms, sx, sy,
        |    (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)
        |      AS slope_raw
        |  FROM s)
        |SELECT source, n_terms, round(slope_raw, 4) AS slope,
        |  round((sy - slope_raw * sx) / n_terms, 4) AS intercept
        |FROM r ORDER BY source""".stripMargin,
    // F25 twin: same tokenizer, integer ppm ratios, zero row for
    // token-free docs
    // F55 twin: same spectrum sums in HUGEINT, D the exact integer
    // ppb floor-div, K one round-6 division
    "text_yule_k" ->
      """WITH toks AS (
        |  SELECT source, t AS token FROM (
        |    SELECT source, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\f\r]+')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |pt AS (
        |  SELECT source, token, count(*)::BIGINT AS c
        |  FROM toks GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, sum(c)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS n_types,
        |    sum(c::HUGEINT * c)::HUGEINT AS sc2,
        |    sum(c::HUGEINT * (c - 1))::HUGEINT AS scc
        |  FROM pt GROUP BY 1)
        |SELECT source, n_tokens, n_types,
        |  round(1e4 * (sc2 - n_tokens)::DOUBLE /
        |    (n_tokens::DOUBLE * n_tokens::DOUBLE), 6) AS yule_k,
        |  (scc * 1000000000 // (n_tokens::HUGEINT * (n_tokens - 1)))
        |    ::BIGINT AS simpson_ppb
        |FROM agg ORDER BY source""".stripMargin,
    "text_lexdiv" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\f\r]+')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |pt AS (
        |  SELECT doc_id, token, count(*)::BIGINT AS c
        |  FROM toks GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS n_types,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
        |  FROM pt GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(n_types, 0) AS n_types,
        |  coalesce(n_types * 1000000 // n_tokens, 0) AS ttr_ppm,
        |  coalesce(n_hapax * 1000000 // n_tokens, 0) AS hapax_ppm
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // F24 twin: same top-64 vocabulary rank, same exact-integer
    // probability ratios, same token-ordered fold ('' other-bucket
    // first); log2 the one libm call — see the operator note
    "text_jsd" ->
      """WITH toks AS (
        |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'rest' END AS grp,
        |    t AS token
        |  FROM (SELECT lang, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\f\r]+')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |counts AS (
        |  SELECT token,
        |    sum(CASE WHEN grp = 'en' THEN 1 ELSE 0 END)::BIGINT AS ce,
        |    sum(CASE WHEN grp = 'rest' THEN 1 ELSE 0 END)::BIGINT AS cr
        |  FROM toks GROUP BY 1),
        |top AS (
        |  SELECT token, ce, cr FROM (
        |    SELECT token, ce, cr, row_number() OVER (
        |      ORDER BY ce + cr DESC, token) AS rk FROM counts)
        |  WHERE rk <= 64),
        |tot AS (SELECT sum(ce)::BIGINT AS ne, sum(cr)::BIGINT AS nr
        |        FROM counts),
        |vt AS (SELECT sum(ce)::BIGINT AS ve, sum(cr)::BIGINT AS vr
        |       FROM top),
        |terms AS (
        |  SELECT token, ce, cr FROM top
        |  UNION ALL
        |  SELECT '' AS token, ne - ve AS ce, nr - vr AS cr FROM tot, vt),
        |scored AS (
        |  SELECT token,
        |    ce * 1000000 // ne AS p_en_ppm,
        |    cr * 1000000 // nr AS p_rest_ppm,
        |    ce::DOUBLE / ne::DOUBLE AS pe,
        |    cr::DOUBLE / nr::DOUBLE AS pr
        |  FROM terms, tot),
        |con AS (
        |  SELECT token, p_en_ppm, p_rest_ppm,
        |    (CASE WHEN pe > 0
        |       THEN pe * log2(pe / ((pe + pr) / 2.0)) ELSE 0.0 END)
        |    + (CASE WHEN pr > 0
        |       THEN pr * log2(pr / ((pe + pr) / 2.0)) ELSE 0.0 END)
        |      AS contrib
        |  FROM scored),
        |jsd AS (
        |  SELECT round(list_reduce(
        |      list_prepend(0.0::DOUBLE, list(contrib ORDER BY token)),
        |      (a, b) -> a + b) / 2.0, 6) AS jsd_bits
        |  FROM con)
        |SELECT token, p_en_ppm, p_rest_ppm, jsd_bits
        |FROM con, jsd ORDER BY token""".stripMargin,
    // F23 twin: the sketch-FREE exact plan — pass-1 MG candidates ⊇
    // everything above threshold, so the exact-recount filter yields
    // identical rows
    "text_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT t AS token FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\f\r]+')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |tot AS (SELECT count(*)::BIGINT AS total FROM toks),
        |g AS (SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY 1)
        |SELECT token, cnt, cnt * 1000000 // total AS freq_ppm
        |FROM g, tot WHERE cnt * 1000000 > total * 5000
        |ORDER BY token""".stripMargin,
    // F22 twin: same boundary marking, same ppm-quantized word
    // scores, same (score DESC, phrase) rank — all BIGINT
    "text_rake" ->
      """WITH marked AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(lower(text),
        |    '[.,!?;:()]', '|', 'g'),
        |    '\b(the|a|and|of|to|in|is)\b', '|', 'g') AS m
        |  FROM documents),
        |ph AS (
        |  SELECT doc_id, phrase,
        |    len(string_split(phrase, ' '))::BIGINT AS wlen
        |  FROM (
        |    SELECT doc_id, trim(regexp_replace(p, '[ \t\n\f\r]+', ' ',
        |      'g')) AS phrase
        |    FROM (SELECT doc_id, unnest(string_split(m, '|')) AS p
        |          FROM marked))
        |  WHERE length(phrase) > 0),
        |ws AS (
        |  SELECT doc_id, word, count(*)::BIGINT AS freq,
        |    sum(wlen)::BIGINT AS deg
        |  FROM (SELECT doc_id, wlen, unnest(string_split(phrase, ' '))
        |          AS word FROM ph)
        |  GROUP BY 1, 2),
        |wsc AS (
        |  SELECT doc_id, word, deg * 1000000 // freq AS score_ppm FROM ws),
        |dp AS (
        |  SELECT doc_id, phrase, count(*)::BIGINT AS n_occ
        |  FROM ph GROUP BY 1, 2),
        |sc AS (
        |  SELECT d.doc_id, d.phrase, d.n_occ,
        |    sum(w.score_ppm)::BIGINT AS score_ppm
        |  FROM (SELECT doc_id, phrase, n_occ,
        |          unnest(string_split(phrase, ' ')) AS word FROM dp) d
        |  JOIN wsc w ON d.doc_id = w.doc_id AND d.word = w.word
        |  GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT doc_id, phrase, score_ppm, n_occ,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_ppm DESC, phrase)::BIGINT AS rk
        |  FROM sc)
        |SELECT doc_id, rk, phrase, score_ppm, n_occ
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // F21 twin: same integer score, same (score DESC, doc_id) rank
    "text_domain_cap" ->
      s"""WITH $scoreCteSql,
         |r AS (
         |  SELECT source, doc_id, score_ppm,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY score_ppm DESC, doc_id)::BIGINT AS rk
         |  FROM sc)
         |SELECT source, doc_id, score_ppm, rk
         |FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    // the oracle uses the one-window form; the Spark side's bucketed
    // two-phase decomposition is exact integer math, so they agree
    // bit-for-bit
    "text_pack_blocks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    sum(n_tok + 1) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS tok_end
        |  FROM t)
        |SELECT doc_id, n_tok,
        |  tok_end - (n_tok + 1) AS tok_start, tok_end,
        |  (tok_end - (n_tok + 1)) // 512 AS first_block,
        |  (tok_end - 1) // 512 AS last_block,
        |  (tok_end - 1) // 512 - (tok_end - (n_tok + 1)) // 512 + 1
        |    AS n_blocks
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_quality_prune" ->
      s"""WITH $scoreCteSql,
         |counts AS (
         |  SELECT source, score_ppm, count(*) AS c FROM sc GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, score_ppm, sum(c) OVER (
         |    PARTITION BY source ORDER BY score_ppm DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM counts),
         |n AS (SELECT source, sum(c) AS n FROM counts GROUP BY source),
         |thr AS (
         |  SELECT source, max(score_ppm) AS threshold_ppm
         |  FROM cum JOIN n USING (source)
         |  WHERE cum * 10 >= 7 * n GROUP BY source)
         |SELECT sc.doc_id, sc.source, sc.score_ppm, thr.threshold_ppm
         |FROM sc JOIN thr USING (source)
         |WHERE sc.score_ppm >= thr.threshold_ppm
         |ORDER BY doc_id""".stripMargin,
    "text_sample_mix" ->
      """WITH n AS (
        |  SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n_total FROM documents),
        |d AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
        |      WHEN 'src2' THEN 2 WHEN 'src3' THEN 1 WHEN 'src4' THEN 1
        |      WHEN 'src5' THEN 1 ELSE 0 END AS w_tenths,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS hash_mod
        |  FROM documents)
        |SELECT d.doc_id, d.source
        |FROM d JOIN n USING (source) CROSS JOIN t
        |WHERE d.hash_mod * 10 * n.n_source < d.w_tenths * t.n_total * 1000003
        |ORDER BY doc_id""".stripMargin,
    "text_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 < 8 THEN 'train'
        |       WHEN doc_id % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_profile" ->
      """SELECT 'doc_id' AS column_name, count(*) AS n_rows,
        |  count(*) - count(doc_id) AS n_null,
        |  count(DISTINCT doc_id) AS n_distinct FROM documents
        |UNION ALL SELECT 'text', count(*), count(*) - count(text),
        |  count(DISTINCT text) FROM documents
        |UNION ALL SELECT 'lang', count(*), count(*) - count(lang),
        |  count(DISTINCT lang) FROM documents
        |UNION ALL SELECT 'source', count(*), count(*) - count(source),
        |  count(DISTINCT source) FROM documents
        |UNION ALL SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |  count(DISTINCT n_chars) FROM documents
        |ORDER BY column_name""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_ws_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]'))::BIGINT AS n_re_tokens,
        |  length(text)::BIGINT AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok,
        |    len(regexp_extract_all(text, '[.,!?;:()]'))::BIGINT AS n_punct,
        |    len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is)\b'))::BIGINT AS n_stop,
        |    greatest(length(text)::BIGINT, 1) AS n_chars_d
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tok,
        |    (n_punct * 1000000) // n_chars_d AS punct_ppm,
        |    (n_stop * 1000000) // greatest(n_tok, 1) AS stop_ppm
        |  FROM t)
        |SELECT doc_id, n_tok, punct_ppm, stop_ppm,
        |  least(n_tok * 10000, 1000000) // 2 + stop_ppm // 2
        |    - punct_ppm // 5 AS score_ppm,
        |  (least(n_tok * 10000, 1000000) // 2 + stop_ppm // 2
        |    - punct_ppm // 5 >= 200000) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // F49 twin: identical tokenization (the text_quality split), the
    // same integer cross-multiplied thresholds — list HOFs mirror
    // Spark's filter/aggregate lambdas
    "text_gopher" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS w,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(w)::BIGINT AS n_words,
        |    coalesce(list_sum(list_transform(w, x -> length(x))),
        |      0)::BIGINT AS len_sum,
        |    len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::BIGINT
        |      AS alpha_words,
        |    len(lines)::BIGINT AS n_lines,
        |    len(list_filter(lines,
        |      x -> x LIKE '-%' OR x LIKE '*%'))::BIGINT AS bullet_lines,
        |    len(list_filter(lines, x -> x LIKE '%...'))::BIGINT
        |      AS ellipsis_lines,
        |    (list_contains(w, 'the')::INT + list_contains(w, 'be')::INT
        |     + list_contains(w, 'to')::INT + list_contains(w, 'of')::INT
        |     + list_contains(w, 'and')::INT + list_contains(w, 'that')::INT
        |     + list_contains(w, 'have')::INT
        |     + list_contains(w, 'with')::INT)::BIGINT AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words, len_sum, alpha_words, n_lines,
        |  bullet_lines, ellipsis_lines, stop_hits,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND len_sum >= n_words * 3 AND len_sum <= n_words * 10
        |   AND bullet_lines * 10 < n_lines * 9
        |   AND ellipsis_lines * 10 < n_lines * 3
        |   AND alpha_words * 5 > n_words * 4
        |   AND stop_hits >= 2) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '\b(the|a|of)\b'))::BIGINT AS s_en,
        |    len(regexp_extract_all(text, '\b(la|el|los|de)\b'))::BIGINT AS s_es,
        |    len(regexp_extract_all(text, '\b(le|la|les|des)\b'))::BIGINT AS s_fr,
        |    len(regexp_extract_all(text, '\b(der|die|das|und)\b'))::BIGINT AS s_de,
        |    len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]'))::BIGINT AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT *, greatest(s_en, s_es, s_fr, s_de, s_zh) AS best FROM t),
        |q AS (
        |  SELECT *, CASE WHEN best = 0 THEN 'und'
        |    WHEN s_zh = best THEN 'zh'
        |    WHEN s_en = best THEN 'en'
        |    WHEN s_es = best THEN 'es'
        |    WHEN s_fr = best THEN 'fr'
        |    ELSE 'de' END AS lang_pred
        |  FROM p)
        |SELECT doc_id, s_en, s_es, s_fr, s_de, s_zh, lang_pred,
        |  (lang_pred = lang) AS matches_label
        |FROM q ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16)
        |    AS fp16,
        |  floor(length(text) / 100)::BIGINT AS len_bucket
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_ngram_profile" ->
      """WITH w AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS w FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS bigram
        |  FROM w)
        |SELECT bigram, count(*) AS n FROM bg
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
        |df AS (
        |  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * ln(n.n / df.df) AS raw
        |  FROM tf JOIN df USING (term), n),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY raw DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, df, round(raw, 4) AS score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // F15 twin: identical BM25 op sequence — BIGINT counts, one avgdl
    // ratio, libm ln, rank on shared doubles, export rounded (the F6
    // precedent)
    "text_bm25" -> bm25OracleSql,
    // F18 twin: same per-char contribs folded in sorted char order;
    // list_reduce's first-element init == Spark's 0-init (0+x₁ = x₁)
    "text_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch
        |  WHERE ch <> '' GROUP BY 1, 2),
        |tot AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_chars,
        |    count(*)::BIGINT AS n_distinct
        |  FROM cc GROUP BY 1),
        |parts AS (
        |  SELECT cc.doc_id, cc.ch,
        |    - ((cc.c::DOUBLE / t.n_chars::DOUBLE)
        |      * ln(cc.c::DOUBLE / t.n_chars::DOUBLE)) AS contrib
        |  FROM cc JOIN tot t USING (doc_id)),
        |agg AS (
        |  SELECT doc_id,
        |    list_reduce(list(contrib ORDER BY ch), (acc, x) -> acc + x)
        |      AS ent
        |  FROM parts GROUP BY 1)
        |SELECT t.doc_id, t.n_chars, t.n_distinct, round(agg.ent, 4)
        |  AS entropy
        |FROM tot t JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // F17 twin: same integer offset math (// = Spark's div), list
    // slice with inclusive 1-based ends, space re-join
    "text_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, toks, length(toks)::BIGINT AS n_tokens,
        |    1 + (greatest(length(toks) - 50, 0) + 39) // 40 AS n_chunks
        |  FROM toks),
        |c AS (
        |  SELECT doc_id, toks, n_tokens,
        |    unnest(range(n_chunks)) AS chunk_id
        |  FROM base)
        |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
        |  (chunk_id * 40)::BIGINT AS start_tok,
        |  least(50, n_tokens - chunk_id * 40)::BIGINT AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 40 + 1,
        |    chunk_id * 40 + least(50, n_tokens - chunk_id * 40)), ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // F20 twin: same one-pass bigram/unigram counts, same exact
    // integer products (HUGEINT == the Spark side's decimal(38,0)),
    // one ln, ranked on the shared rounded double with (t1,t2) ties
    // F48 twin: the same flattened offset expansion (1-based list
    // indexing), corpus counts, deterministic top-k
    "text_cooc" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, w, unnest(range(1, length(w) + 1)) AS i
        |  FROM toks WHERE length(w) >= 2),
        |offs AS (
        |  SELECT doc_id, w, i, unnest(range(1, 5)) AS o FROM pos),
        |pairs AS (
        |  SELECT w[i] AS t1, w[i + o] AS t2, o AS dist
        |  FROM offs WHERE i + o <= length(w)),
        |counted AS (
        |  SELECT t1, t2, count(*)::BIGINT AS n,
        |    min(dist)::BIGINT AS min_dist
        |  FROM pairs GROUP BY 1, 2),
        |top AS (
        |  SELECT t1, t2, n, min_dist,
        |    row_number() OVER (ORDER BY n DESC, t1, t2) AS rk
        |  FROM counted)
        |SELECT rk::BIGINT AS rank, t1, t2, n, min_dist
        |FROM top WHERE rk <= 20 ORDER BY rank""".stripMargin,
    // F53 twin: same regex classes, same CJK-first precedence
    "text_script_profile" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z]'))::BIGINT
        |      AS n_alpha,
        |    len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_digit,
        |    len(regexp_extract_all(text, '[.,!?;:()''"-]'))::BIGINT
        |      AS n_punct,
        |    len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]'))::BIGINT
        |      AS n_cjk,
        |    length(text)::BIGINT AS n_chars
        |  FROM documents)
        |SELECT doc_id, n_alpha, n_digit, n_punct, n_cjk, n_chars,
        |  CASE WHEN n_cjk > 0 THEN 'cjk'
        |    WHEN n_alpha >= n_digit AND n_alpha >= n_punct
        |      THEN 'latin'
        |    WHEN n_digit >= n_punct THEN 'numeric'
        |    ELSE 'punct' END AS dominant
        |FROM t ORDER BY doc_id""".stripMargin,
    // F52 twin: same (count desc, term) rank, same cumulative sum,
    // same clamped cut lookup
    "text_vocab_coverage" ->
      """WITH tc AS (
        |  SELECT t, count(*)::BIGINT AS c FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) s
        |  GROUP BY 1),
        |ranked AS MATERIALIZED (
        |  SELECT c,
        |    row_number() OVER (ORDER BY c DESC, t)::BIGINT AS r,
        |    sum(c) OVER (ORDER BY c DESC, t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum
        |  FROM tc),
        |tot AS (
        |  SELECT max(cum)::BIGINT AS total, max(r)::BIGINT AS vocab_size
        |  FROM ranked),
        |kf AS (SELECT unnest([100, 1000, 10000])::BIGINT AS k)
        |SELECT kf.k, tot.vocab_size, ranked.cum AS covered_tokens,
        |  tot.total AS total_tokens,
        |  (ranked.cum * 1000000 // tot.total)::BIGINT AS coverage_ppm
        |FROM kf CROSS JOIN tot
        |JOIN ranked ON ranked.r = least(kf.k, tot.vocab_size)
        |ORDER BY kf.k""".stripMargin,
    // F51 twin: same prefix cuts (integer floor-div), same pivot,
    // the OLS written as the SAME left-to-right expression tree
    "text_heaps" -> {
      def lnn(j: Int) = s"ln(n$j::DOUBLE)"
      def lnv(j: Int) = s"ln(v$j::DOUBLE)"
      val sx = (1 to 10).map(lnn).mkString(" + ")
      val sy = (1 to 10).map(lnv).mkString(" + ")
      val sxx = (1 to 10).map(j => s"${lnn(j)} * ${lnn(j)}")
        .mkString(" + ")
      val sxy = (1 to 10).map(j => s"${lnn(j)} * ${lnv(j)}")
        .mkString(" + ")
      val beta = s"(10.0 * ($sxy) - ($sx) * ($sy)) " +
        s"/ (10.0 * ($sxx) - ($sx) * ($sx))"
      val pivCols = (1 to 10).flatMap(j => Seq(
        s"max(CASE WHEN j = $j THEN n_tokens END) AS n$j",
        s"max(CASE WHEN j = $j THEN vocab END) AS v$j"))
        .mkString(",\n    ")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |fd AS MATERIALIZED (
         |  SELECT t, min(doc_id) AS fd FROM (
         |    SELECT doc_id, unnest(w) AS t FROM toks) s GROUP BY 1),
         |cc AS (
         |  SELECT j::BIGINT AS j,
         |    ((SELECT count(*) FROM toks) * j) // 10 AS cut
         |  FROM (SELECT unnest(range(1, 11)) AS j) u),
         |nj AS (
         |  SELECT c.j, sum(length(t.w))::BIGINT AS n_tokens
         |  FROM cc c JOIN toks t ON t.doc_id < c.cut GROUP BY 1),
         |vj AS (
         |  SELECT c.j, count(*)::BIGINT AS vocab
         |  FROM cc c JOIN fd f ON f.fd < c.cut GROUP BY 1),
         |pts AS MATERIALIZED (
         |  SELECT nj.j, n_tokens, vocab FROM nj JOIN vj USING (j)),
         |piv AS (
         |  SELECT
         |    $pivCols
         |  FROM pts),
         |fit AS (
         |  SELECT round($beta, 6) AS beta,
         |    round(exp((($sy) - ($beta) * ($sx)) / 10.0), 6) AS k_hat
         |  FROM piv)
         |SELECT p.j, p.n_tokens, p.vocab, f.beta, f.k_hat
         |FROM pts p CROSS JOIN fit f ORDER BY p.j""".stripMargin
    },
    // F50 twin: same candidate filter, same ±2 offset expansion, the
    // unrolled integer-PageRank chain (the I4 oracle pattern; edges
    // MATERIALIZED — deg/nodes/every iteration reference it)
    "text_textrank" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> regexp_matches(x, '^[a-zA-Z]{4,}$')) AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, w, unnest(range(1, length(w) + 1)) AS i
        |  FROM toks WHERE length(w) >= 2),
        |offs AS (
        |  SELECT doc_id, w, i, unnest(range(1, 3)) AS o FROM pos),
        |cand AS (
        |  SELECT w[i] AS t1, w[i + o] AS t2
        |  FROM offs WHERE i + o <= length(w) AND w[i] <> w[i + o]),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT least(t1, t2) AS a, greatest(t1, t2) AS b
        |  FROM cand),
        |sym AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM edges
        |  UNION ALL SELECT b, a FROM edges),
        |deg AS (
        |  SELECT src, count(*)::BIGINT AS outdeg FROM sym GROUP BY 1),
        |nodes AS (
        |  SELECT src AS node FROM sym UNION SELECT dst FROM sym),
        |r0 AS (SELECT node, 1000000000000::BIGINT AS r FROM nodes),
        |r1 AS (
        |  SELECT n.node,
        |    (150000000000 + coalesce(c.s, 0) * 17 // 20)::BIGINT AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, sum(rr.r // d.outdeg)::BIGINT AS s
        |    FROM sym e JOIN deg d ON e.src = d.src
        |    JOIN r0 rr ON rr.node = e.src GROUP BY e.dst) c
        |    ON n.node = c.dst),
        |r2 AS (
        |  SELECT n.node,
        |    (150000000000 + coalesce(c.s, 0) * 17 // 20)::BIGINT AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, sum(rr.r // d.outdeg)::BIGINT AS s
        |    FROM sym e JOIN deg d ON e.src = d.src
        |    JOIN r1 rr ON rr.node = e.src GROUP BY e.dst) c
        |    ON n.node = c.dst),
        |r3 AS (
        |  SELECT n.node,
        |    (150000000000 + coalesce(c.s, 0) * 17 // 20)::BIGINT AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, sum(rr.r // d.outdeg)::BIGINT AS s
        |    FROM sym e JOIN deg d ON e.src = d.src
        |    JOIN r2 rr ON rr.node = e.src GROUP BY e.dst) c
        |    ON n.node = c.dst),
        |r4 AS (
        |  SELECT n.node,
        |    (150000000000 + coalesce(c.s, 0) * 17 // 20)::BIGINT AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, sum(rr.r // d.outdeg)::BIGINT AS s
        |    FROM sym e JOIN deg d ON e.src = d.src
        |    JOIN r3 rr ON rr.node = e.src GROUP BY e.dst) c
        |    ON n.node = c.dst),
        |r5 AS (
        |  SELECT n.node,
        |    (150000000000 + coalesce(c.s, 0) * 17 // 20)::BIGINT AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, sum(rr.r // d.outdeg)::BIGINT AS s
        |    FROM sym e JOIN deg d ON e.src = d.src
        |    JOIN r4 rr ON rr.node = e.src GROUP BY e.dst) c
        |    ON n.node = c.dst),
        |top AS (
        |  SELECT node, r,
        |    row_number() OVER (ORDER BY r DESC, node) AS rk
        |  FROM r5)
        |SELECT rk::BIGINT AS rank, node AS word, r AS rank_fp,
        |  round(r::DOUBLE / 1e12, 6) AS score
        |FROM top WHERE rk <= 30 ORDER BY rank""".stripMargin,
    "text_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |uni AS (
        |  SELECT t, count(*)::BIGINT AS c FROM (
        |    SELECT unnest(w) AS t FROM toks) GROUP BY 1),
        |ntot AS (SELECT sum(length(w))::BIGINT AS n FROM toks),
        |pos AS (
        |  SELECT doc_id, w, unnest(range(1, length(w))) AS i FROM toks),
        |bi0 AS (
        |  SELECT w[i] AS t1, w[i + 1] AS t2, count(*)::BIGINT AS c12
        |  FROM pos GROUP BY 1, 2),
        |btot AS (SELECT sum(c12)::BIGINT AS btot FROM bi0),
        |scored AS (
        |  SELECT b.t1, b.t2, b.c12,
        |    round(ln((b.c12::HUGEINT * nt.n * nt.n)::DOUBLE
        |      / (bt.btot::HUGEINT * u1.c * u2.c)::DOUBLE), 4) AS pmi
        |  FROM bi0 b
        |  JOIN uni u1 ON b.t1 = u1.t
        |  JOIN uni u2 ON b.t2 = u2.t
        |  CROSS JOIN btot bt CROSS JOIN ntot nt
        |  WHERE b.c12 >= 5),
        |r AS (
        |  SELECT *, (row_number() OVER (ORDER BY pmi DESC, t1, t2))::BIGINT
        |    AS rank
        |  FROM scored)
        |SELECT rank, t1, t2, c12, pmi FROM r WHERE rank <= 20
        |ORDER BY rank""".stripMargin,
    // F19 twin: same 1-based bigram construction (DuckDB lists are
    // 1-based; Spark's transform index is 0-based — both read
    // (w[i], w[i+1]) pairs), same smoothed probability sequence,
    // same sorted-(t1,t2) fold
    "text_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, w, unnest(range(1, length(w))) AS i FROM toks),
        |bigr AS (
        |  SELECT doc_id, w[i] AS t1, w[i + 1] AS t2 FROM pos),
        |bi AS (
        |  SELECT doc_id, t1, t2, count(*)::BIGINT AS c
        |  FROM bigr GROUP BY 1, 2, 3),
        |cb AS (SELECT t1, t2, sum(c)::BIGINT AS cb FROM bi GROUP BY 1, 2),
        |cf AS (SELECT t1, sum(cb)::BIGINT AS cf FROM cb GROUP BY 1),
        |voc AS (
        |  SELECT count(DISTINCT term)::BIGINT AS v FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |    FROM documents)),
        |parts AS (
        |  SELECT b.doc_id, b.t1, b.t2, b.c,
        |    b.c * ln((cb.cb + 1.0) / (cf.cf + voc.v)::DOUBLE) AS contrib
        |  FROM bi b JOIN cb USING (t1, t2) JOIN cf USING (t1), voc),
        |agg AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(contrib ORDER BY t1, t2)), (acc, x) -> acc + x) AS lp
        |  FROM parts GROUP BY 1)
        |SELECT doc_id, n_bigrams, round(lp / n_bigrams, 4) AS bigram_lm
        |FROM agg ORDER BY doc_id""".stripMargin,
    // F47 twin: the identical KN composition A + B·C with identical
    // parenthesization (each of A, B, C one division), contributions
    // folded in the same sorted (t1, t2) order
    "text_kn_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, w, unnest(range(1, length(w))) AS i FROM toks),
        |bigr AS (
        |  SELECT doc_id, w[i] AS t1, w[i + 1] AS t2 FROM pos),
        |bi AS (
        |  SELECT doc_id, t1, t2, count(*)::BIGINT AS c
        |  FROM bigr GROUP BY 1, 2, 3),
        |cb AS (SELECT t1, t2, sum(c)::BIGINT AS cb FROM bi GROUP BY 1, 2),
        |cf AS (
        |  SELECT t1, sum(cb)::BIGINT AS cf, count(*)::BIGINT AS n1f
        |  FROM cb GROUP BY 1),
        |bw AS (SELECT t2, count(*)::BIGINT AS n1b FROM cb GROUP BY 1),
        |nb AS (SELECT count(*)::BIGINT AS nbb FROM cb),
        |parts AS (
        |  SELECT b.doc_id, b.t1, b.t2, b.c,
        |    b.c * ln(greatest(cb.cb - 0.75, 0.0) / cf.cf
        |      + 0.75 * cf.n1f / cf.cf * (bw.n1b / nb.nbb)) AS contrib
        |  FROM bi b JOIN cb USING (t1, t2) JOIN cf USING (t1)
        |    JOIN bw USING (t2), nb),
        |agg AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(contrib ORDER BY t1, t2)), (acc, x) -> acc + x) AS lp
        |  FROM parts GROUP BY 1)
        |SELECT doc_id, n_bigrams, round(lp / n_bigrams, 4) AS kn_lm
        |FROM agg ORDER BY doc_id""".stripMargin,
    // F16 twin: same smoothed probabilities, contributions folded in
    // the SAME sorted term order via list(... ORDER BY term) +
    // list_reduce (left fold; DuckDB's scalar-accumulator reduce is
    // safe — the B18 aliasing caveat applies to struct accumulators)
    "text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tcounts AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
        |tc AS (SELECT term, sum(c)::BIGINT AS ct FROM tcounts GROUP BY 1),
        |stats AS (
        |  SELECT (SELECT sum(ct) FROM tc) + (SELECT count(*) FROM tc)
        |    AS denom),
        |parts AS (
        |  SELECT t.doc_id, t.term, t.c,
        |    t.c * ln((tc.ct + 1.0) / s.denom::DOUBLE) AS contrib
        |  FROM tcounts t JOIN tc USING (term), stats s),
        |agg AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |    list_reduce(list(contrib ORDER BY term), (acc, x) -> acc + x)
        |      AS lp
        |  FROM parts GROUP BY 1)
        |SELECT doc_id, n_tokens, round(lp / n_tokens, 4) AS lm_score
        |FROM agg ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |uc AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
        |u AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c)::BIGINT AS top_tok,
        |    count(*)::BIGINT AS n_distinct
        |  FROM uc GROUP BY doc_id),
        |w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS bigram
        |  FROM w),
        |bc AS (
        |  SELECT doc_id, bigram, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
        |bi AS (SELECT doc_id, max(c)::BIGINT AS top_bi FROM bc GROUP BY doc_id)
        |SELECT u.doc_id, u.n_tokens,
        |  (u.n_distinct * 1000000) // u.n_tokens AS distinct_ppm,
        |  (u.top_tok * 1000000) // u.n_tokens AS top_token_ppm,
        |  coalesce((bi.top_bi * 1000000) // greatest(u.n_tokens - 1, 1), 0)::BIGINT
        |    AS top_bigram_ppm
        |FROM u LEFT JOIN bi ON u.doc_id = bi.doc_id
        |ORDER BY u.doc_id""".stripMargin,
    // the test corpus carries no PII (counts 0, fingerprint = md5 of
    // the unchanged text) — the oracle still pins the schema and the
    // no-match regex/md5 behavior; crafted-text semantics are pinned
    // by the hand-computed unit spec (OperatorsSpec)
    "text_pii_scrub" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_email,
         |  len(regexp_extract_all(text, '$PhoneRe'))::BIGINT AS n_phone,
         |  len(regexp_extract_all(text, '$Ipv4Re'))::BIGINT AS n_ipv4,
         |  substr(md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'),
         |    '$Ipv4Re', '[IP]', 'g')), 1, 16) AS scrubbed_fp16
         |FROM documents ORDER BY doc_id""".stripMargin)
}
