package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2.D).
  *
  * DataFrame-first API: every operator's core takes the input frame
  * (`docs` with (doc_id, text, …) / `vecs` with (vec_id, embedding)),
  * so library users run them on their own tables; the `(session, dir)`
  * overloads are the driver-contract adapters over the test corpus.
  *
  * Scale design: nothing here is O(n²) over the corpus.
  * - exact dedup: one hash aggregate.
  * - n-gram Jaccard: inverted-index join (explode shingles → equi-join
  *   on shingle) with a document-frequency cap that drops
  *   "stop-shingles" so no posting list explodes — the standard
  *   candidate-pair bound for near-dup at web scale.
  * - MinHash/LSH: constant-size signatures (32 mins, 8 bands), band
  *   bucket equi-join; candidate verification only on bucket
  *   collisions.
  * - SimHash: 64-bit fingerprints, 8×8-bit chunk buckets (pigeonhole
  *   guarantees recall for hamming ≤ 7), verify via bit_count.
  */
object Dedup {

  private val ShingleN = 5
  private val DfCap = 50        // stop-shingle document-frequency cap
  private val JaccardT = 0.5

  /** Whitespace class written out explicitly: Java's \s includes
    * vertical tab (\x0B), RE2's (DuckDB) does not — an explicit class
    * keeps hashing/tokenization engine-identical even on \x0B text. */
  private[operators] val Ws = "[ \\t\\n\\f\\r]+"

  /** Normalized text: lowercase, whitespace-squeezed. */
  private def norm(c: Column): Column =
    lower(trim(regexp_replace(c, Ws, " ")))

  /** Word 5-gram array over a `w` words column — the row-local shingle
    * builder shared by the exploded and array-valued forms. */
  private def shingleExpr: Column = expr(
    s"""transform(sequence(1, size(w) - ${ShingleN - 1}),
       |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
       |    element_at(w, i + 2), element_at(w, i + 3),
       |    element_at(w, i + 4)))""".stripMargin)

  /** doc_id + word 5-gram shingles (with duplicates — cheap, no
    * shuffle; distinct only where set semantics are needed). */
  private def rawShingles(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", split(trim($"text"), Ws).as("w"))
      .filter(size($"w") >= ShingleN)
      .select($"doc_id", explode(shingleExpr).as("shingle"))
  }

  /** doc_id + DISTINCT shingle array, deduplicated row-locally
    * (`array_distinct`) — per-doc set semantics with zero shuffle,
    * where an explode→distinct would shuffle every corpus shingle.
    * Docs with < ShingleN words get an empty array. */
  private[operators] def distinctShingleArr(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", split(trim($"text"), Ws).as("w"))
      .select($"doc_id", array_distinct(
        when(size($"w") >= ShingleN, shingleExpr)
          .otherwise(typedlit(Array.empty[String]))).as("sh"))
  }

  /** Row-local shingle array directly from a text column (empty array
    * for docs under ShingleN words) — the streaming-safe form of the
    * shingle builder: no aggregation, no shuffle, usable in a
    * continuous query plan. */
  private[graft] def shingleArrCol(text: Column): Column = {
    val w = split(trim(text), Ws)
    when(size(w) >= ShingleN,
      transform(sequence(lit(1), size(w) - (ShingleN - 1)),
        i => concat_ws(" ",
          (0 until ShingleN).map(o => element_at(w, i + o)): _*)))
      .otherwise(typedlit(Array.empty[String]))
  }

  /** Row-local MinHash signature from a (materialized) shingle-array
    * column: per permutation i, min over shingles of the seeded poly
    * hash (codepoint fold mod 2⁶³, seed = golden-gamma multiple i) —
    * the IDENTICAL per-shingle hash [[graft.functions.MinHashAgg]]
    * computes, so streaming signatures agree bit-for-bit with the
    * batch aggregate (pinned by DocStreamSpec) AND with the DuckDB
    * oracle replay (see [[graft.functions.PolyHash]]). NULL when the
    * doc has no shingles.
    *
    * Pass an already-selected column (e.g. `withColumn("sh", …)`), not
    * the [[shingleArrCol]] expression inline: the signature references
    * the shingles 33 times and the alias keeps shingle construction a
    * once-per-row cost (CollapseProject leaves non-cheap multi-use
    * aliases alone). */
  private[graft] def minhashSigCol(sh: Column, numPerm: Int): Column = {
    val mins = (0 until numPerm).map { i =>
      array_min(transform(sh, s =>
        graft.functions.PolyHash.polyHash64(s, graft.functions.PolyHash.seed(i))))
    }
    when(size(sh) > 0, array(mins: _*))
  }

  /** Row-local DISTINCT hashed shingle set (xxhash64 of each word
    * 5-gram) — the derived per-doc state the incremental pipeline
    * persists instead of text: 8 bytes per distinct shingle, and
    * Jaccard over these hash sets equals Jaccard over the string sets
    * (modulo 64-bit collisions). Deliberately UNCAPPED — see
    * [[graft.Pipeline.incrementalTraining]]'s contract note on the
    * stop-shingle cap. */
  private[graft] def hashedShingleCol(text: Column): Column =
    array_distinct(transform(shingleArrCol(text), s => xxhash64(s)))

  /** The verified-pair Jaccard threshold shared with the incremental
    * pipeline's delta pair generation. */
  private[graft] def jaccardThreshold: Double = JaccardT

  /** DF cap over a prebuilt DISTINCT (doc_id, shingle) frame: drop
    * shingles appearing in more than DfCap docs (boilerplate) so every
    * posting list — and with it the Σ df² candidate work — is bounded. */
  private def dfCapped(sh0: DataFrame): DataFrame = {
    import sh0.sparkSession.implicits._
    val rare = sh0.groupBy($"shingle").count()
      .filter($"count" <= DfCap).select($"shingle")
    sh0.join(rare, "shingle").select($"doc_id", $"shingle")
  }

  /** doc_id + distinct word 5-gram shingles, DF-capped. */
  private def shingles(docs: DataFrame): DataFrame =
    dfCapped(rawShingles(docs).distinct())

  /** Exact Jaccard pairs ≥ t from a (doc_id, shingle) set via
    * inverted-index join — shared by D2 (full) and D3 (candidates). */
  private def jaccardPairs(sh: DataFrame, t: Double,
      candidates: Option[DataFrame] = None): DataFrame = {
    import sh.sparkSession.implicits._
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.select($"doc_id".as("doc_a"), $"shingle")
    val b = sh.select($"doc_id".as("doc_b"), $"shingle")
    val matched = a.join(b, "shingle").filter($"doc_a" < $"doc_b")
    // LSH path: drop non-candidate pairs BEFORE the count aggregate,
    // so verification work is bounded by bucket collisions.
    val restricted = candidates.fold(matched)(c =>
      matched.join(c, Seq("doc_a", "doc_b"), "left_semi"))
    restricted
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sz_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("sz_b")), "doc_b")
      .withColumn("jac",
        $"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter").cast("double"))
      .filter($"jac" >= t)
      // raw quotient: both engines divide the same exact integers, so
      // the doubles are bit-identical — rounding would only reintroduce
      // engine-specific decimal-tie behavior
      .select($"doc_a", $"doc_b", $"jac".as("jaccard"))
  }

  /** D19 CROSS-CORPUS near-dup audit — pairs (a ∈ A, b ∈ B) with
    * 5-gram Jaccard ≥ t, and ONLY cross pairs (the question a crawl
    * refresh, a vendor data delivery, or a licensed-set intake asks:
    * "how much of the NEW corpus is already in the old one?" —
    * within-corpus duplication is D2's separate report; D9 answers
    * the same cross question for exact/near-exact eval contamination
    * at a containment threshold, this measures symmetric overlap at
    * dedup strength). Doc ids must be disjoint across sides (ids ARE
    * identity downstream).
    *
    * Shape: ONE shingle pass over A∪B with the D2 DF cap computed on
    * the UNION (a shingle hot in either side is blocked, so the
    * Σ df² candidate bound covers the cross join too); the inverted-
    * index join is side-restricted BEFORE the count aggregate, so no
    * within-side pair is ever materialized. */
  def crossCorpusDups(corpusA: DataFrame, corpusB: DataFrame,
      t: Double = JaccardT): DataFrame = {
    import corpusA.sparkSession.implicits._
    val docs = corpusA.select($"doc_id", $"text")
      .withColumn("is_a", lit(true))
      .union(corpusB.select($"doc_id", $"text")
        .withColumn("is_a", lit(false)))
    val sh = shingles(docs.select($"doc_id", $"text"))
    val sides = docs.select($"doc_id", $"is_a")
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.join(sides.filter($"is_a"), "doc_id")
      .select($"doc_id".as("doc_a"), $"shingle")
    val b = sh.join(sides.filter(!$"is_a"), "doc_id")
      .select($"doc_id".as("doc_b"), $"shingle")
    a.join(b, "shingle")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sz_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("sz_b")), "doc_b")
      .withColumn("jaccard", $"inter".cast("double") /
        ($"sz_a" + $"sz_b" - $"inter").cast("double"))
      .filter($"jaccard" >= t)
      .select($"doc_a", $"doc_b", $"inter", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** dedup_cross driver entry: sources src0–src9 as the standing
    * corpus, src10–src19 as the incoming delivery. */
  def crossCorpusOnSources(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = graft.sources.Tables.documents(s, dir)
    val isA = expr("cast(substring(source, 4, 10) as int) < 10")
    crossCorpusDups(d.filter(isA), d.filter(!isA))
  }

  /** D13 URL canonicalization — the web-crawl twin of [[norm]]'s text
    * normalization, and the FIRST dedup key a crawl pipeline applies
    * (URL identity is free; content identity costs a fetch + hash):
    * fragment stripped; scheme + host lowercased; leading `www.`
    * dropped; default port removed (`:80` for http else `:443`);
    * trailing path slashes trimmed; query params split, `utm_*`
    * tracking params dropped, the rest SORTED (param order is
    * serving-side noise). Pure codegen'd column math — regexes are
    * RE2-safe (no lookarounds), so the DuckDB twin replays the exact
    * same patterns; parity is proven by the graded query's hash, not
    * assumed. Canonical collisions are CANDIDATES in a real pipeline
    * (dynamic pages change under one URL) — pair with D1 content
    * hashing downstream, which is why the op emits the key rather
    * than dropping rows. */
  def urlCanonical(url: Column): Column = {
    val base = regexp_replace(url, "#.*", "")
    val scheme = lower(regexp_extract(base, "^([a-zA-Z]+)://", 1))
    val rest = regexp_replace(base, "^[a-zA-Z]+://", "")
    val hostRaw = regexp_extract(rest, "^[^/?]+", 0)
    val hostL = regexp_replace(lower(hostRaw), "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(hostL, ":80$", ""))
      .otherwise(regexp_replace(hostL, ":443$", ""))
    val pathq = rest.substr(length(hostRaw) + 1, length(rest))
    val path = regexp_replace(regexp_extract(pathq, "^[^?]*", 0), "/+$", "")
    val qs = regexp_extract(pathq, "\\?(.*)$", 1)
    val params = array_sort(filter(split(qs, "&"),
      p => p =!= lit("") && not(p.startsWith("utm_"))))
    concat(scheme, lit("://"), host, path,
      when(size(params) === 0, lit(""))
        .otherwise(concat(lit("?"), array_join(params, "&"))))
  }

  /** D13 grouped URL dedup over a (doc_id, url) frame: one hash
    * aggregate on the canonical key — the D1 shape, so the same
    * map-side-combined single-shuffle scale posture. */
  def urlDedup(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    pages
      .withColumn("canon_url", urlCanonical($"url"))
      .groupBy($"canon_url")
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_docs"))
      .orderBy($"canon_url")
  }

  /** The engine's canonical content address: md5 of the normalized
    * text. Shared by batch exact dedup and the streaming ingest twin
    * ([[graft.streaming.DocStream]]) so both agree on what "the same
    * document" means. */
  def contentHash(text: Column): Column = md5(norm(text))

  /** D1 exact dedup by normalized-text hash: keeper = min doc_id per
    * content hash (one aggregate — the only sane shape at 100 TB). */
  def exact(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", contentHash($"text").as("content_hash"))
      .groupBy($"content_hash")
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"content_hash")
  }

  /** D2 n-gram Jaccard near-dup pairs (inverted-index join, no
    * cross-product). */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    jaccardPairs(shingles(docs), JaccardT)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Per document pair (doc_a < doc_b) sharing a shingle of `sh`, the
    * count of shared shingles as `name`: D2's inverted-index join. */
  private def sharedShingles(sh: DataFrame, name: String): DataFrame = {
    import sh.sparkSession.implicits._
    val a = sh.select($"doc_id".as("doc_a"), $"shingle")
    val b = sh.select($"doc_id".as("doc_b"), $"shingle")
    a.join(b, "shingle").filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as(name))
  }

  /** D25 JACCARD HISTOGRAM over the D2 candidate pairs — the
    * threshold-SENSITIVITY curve a dedup rollout decides on ("at 0.5
    * we merge 400 pairs; dropping to 0.4 adds 2,100 — is the corpus
    * bimodal or a smear?"): every shingle-sharing pair bucketed by
    * ⌊10·j⌋ via the INTEGER cross-multiply 10·inter div union (j = 1
    * exact dups land in their own bucket 10 — the decision-relevant
    * split), counts per bucket. Same DF-capped inverted-index join
    * as D2 — the histogram costs exactly one aggregate more than the
    * candidate enumeration it audits. */
  def jaccardHist(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = shingles(docs)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    sharedShingles(sh, "i")
      .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sa")),
        "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("sb")),
        "doc_b")
      .select(expr("i * 10 div (sa + sb - i)").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_pairs"))
      .orderBy($"bucket")
  }

  private val ContainThresh = 0.9

  /** D11 containment near-dup (asymmetric): |A∩B| / min(|A|,|B|) —
    * the signal for a short doc copied INTO a longer one (quote
    * inclusion, template embedding, article + boilerplate wrapper),
    * which symmetric Jaccard under-scores because the union is
    * dominated by the long side (a 100-shingle doc fully contained in
    * a 10000-shingle doc has j ≈ 0.01 but containment = 1.0). Same
    * DF-capped inverted-index join as D2 — only the denominator
    * changes, so the scale bound (Σ df² candidate work) is identical.
    * `inter` rides along so consumers can re-threshold without a
    * recompute. */
  def ngramContainment(docs: DataFrame,
      t: Double = ContainThresh): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = shingles(docs)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    sharedShingles(sh, "inter")
      .join(sizes.select($"doc_id".as("doc_a"), $"sz".as("sz_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"sz".as("sz_b")), "doc_b")
      .withColumn("containment",
        $"inter".cast("double") / least($"sz_a", $"sz_b").cast("double"))
      .filter($"containment" >= t)
      .select($"doc_a", $"doc_b", $"inter", $"containment")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Per document, the `numPerm`-lane MinHash signature `sig` of its
    * shingles in `sh`. */
  private def minhashSigs(sh: DataFrame, numPerm: Int): DataFrame = {
    import sh.sparkSession.implicits._
    sh.groupBy($"doc_id")
      .agg(graft.functions.MinHashAgg.minhashSig($"shingle", numPerm).as("sig"))
  }

  /** D3's banded LSH candidates: the distinct document pairs
    * (doc_a < doc_b) whose signatures agree on all `rows` lanes of
    * at least one of `bands` bands. */
  private def bandCandidates(sigs: DataFrame, bands: Int,
      rows: Int): DataFrame = {
    import sigs.sparkSession.implicits._
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => element_at($"sig", b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    val buckets = sigs.select($"doc_id", explode(array(bandCols: _*)).as("bb"))
      .select($"doc_id", $"bb.band", $"bb.bucket")
      .distinct()
    buckets.as("x").join(buckets.as("y"), Seq("band", "bucket"))
      .filter($"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
  }

  /** D3 MinHash + LSH banding: 32 permutations, 8 bands × 4 rows;
    * docs sharing any band bucket are candidates, then exact-verified.
    * Candidate generation is an equi-join on (band, bucket) — bounded
    * work per bucket, no corpus self-join. */
  def minhashLsh(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val numPerm = 32
    val bands = 8
    val rows = numPerm / bands
    // ONE shingle pass serves both stages (the old shape scanned and
    // tokenized the corpus twice — once raw for signatures, once
    // distinct for the verify): the distinct (doc_id, shingle) frame
    // is localCheckpointed, then feeds (a) the signature aggregate —
    // min over hashes is idempotent, so distinct input yields the
    // same signature as the raw stream — and (b) the DF-capped
    // exact-Jaccard verify. At 100 TB that's one corpus scan plus one
    // tokenization instead of two of each; the checkpoint holds
    // 8-byte-hashable shingle rows, not text.
    // signatures: one TypedImperativeAggregate holding all numPerm
    // mins in a single primitive buffer (graft.functions.MinHashAgg).
    val sh0 = rawShingles(docs).distinct().localCheckpoint()
    val sigs = minhashSigs(sh0, numPerm)
    val cand = bandCandidates(sigs, bands, rows)
    jaccardPairs(dfCapped(sh0), JaccardT, Some(cand))
      .orderBy($"doc_a", $"doc_b")
  }

  /** D26 MINHASH CALIBRATION — the estimator-quality curve of the D3
    * machinery (the tuning question every LSH deployment asks before
    * trusting bands as a filter: how tight is sig-agreement/32 around
    * TRUE Jaccard on MY corpus? The binomial theory says sd ≈
    * √(j(1−j)/32); this measures it): per banded candidate pair, the
    * lane-agreement estimate eq/32 next to the exact DF-capped
    * Jaccard, profiled per true-jaccard decile — n_pairs, mean
    * estimate, mean truth, mean |error|. Determinism: eq/32 is exact
    * binary; the per-pair error fixes to round(|err|·10⁹) BIGINT
    * before summing (the A82 convention — integer sums are
    * order-free), divisions only at export. Cost: the D3 shapes
    * (signature aggregate, banded join, capped verify) + one
    * signature equi-join over the candidate set. */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val numPerm = 32
    val bands = 8
    val rows = numPerm / bands
    val sh0 = rawShingles(docs).distinct().localCheckpoint()
    val sigs = minhashSigs(sh0, numPerm).localCheckpoint()
    val cand = bandCandidates(sigs, bands, rows)
    val truth = jaccardPairs(dfCapped(sh0), 0.0, Some(cand))
    val est = cand
      .join(sigs.select($"doc_id".as("doc_a"), $"sig".as("siga")), "doc_a")
      .join(sigs.select($"doc_id".as("doc_b"), $"sig".as("sigb")), "doc_b")
      .withColumn("eq", expr(
        "aggregate(zip_with(siga, sigb, (x, y) -> if(x = y, 1, 0)), " +
          "0, (a, b) -> a + b)").cast("long"))
      .select($"doc_a", $"doc_b", $"eq")
    // bucket-collision candidates with zero common shingles carry
    // jaccard 0 (left join), so the curve sees its own false positives
    val scored = est.join(truth, Seq("doc_a", "doc_b"), "left")
      .na.fill(0.0, Seq("jaccard"))
      .withColumn("est_j", $"eq".cast("double") / lit(32.0))
      .withColumn("bucket",
        least(lit(9L), floor($"jaccard" * 10).cast("long")))
      .withColumn("err_fp",
        round(abs($"est_j" - $"jaccard") * lit(1e9)).cast("long"))
      .withColumn("est_fp", round($"est_j" * lit(1e9)).cast("long"))
      .withColumn("true_fp", round($"jaccard" * lit(1e9)).cast("long"))
    scored.groupBy($"bucket")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum($"est_fp").cast("double") /
          (count(lit(1)).cast("double") * 1e9), 6).as("mean_est"),
        round(sum($"true_fp").cast("double") /
          (count(lit(1)).cast("double") * 1e9), 6).as("mean_true"),
        round(sum($"err_fp").cast("double") /
          (count(lit(1)).cast("double") * 1e9), 6).as("mean_abs_err"))
      .orderBy($"bucket")
  }

  /** D4 SimHash near-dup: 64-bit fingerprint from token hashes,
    * candidates via 8×8-bit chunk buckets (pigeonhole ⇒ every pair
    * with hamming ≤ 7 collides on some chunk), verified with
    * bit_count(xor). */
  def simhash(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val hamT = 7
    // one-pass fingerprint via the SimHashAgg imperative aggregate
    // (single 64-int bit-balance buffer instead of 64 sum() columns).
    // Features are the 5-gram shingles, not unigram tokens: on
    // low-entropy text (small vocab) token-level simhash collapses —
    // measured 16M false-positive pairs at a 100k-doc stress corpus —
    // while shingle features keep fingerprints distinctive.
    val fps = rawShingles(docs)
      .groupBy($"doc_id")
      .agg(graft.functions.SimHashAgg.simhash($"shingle").as("fp"))
    val chunks = fps.select($"doc_id", $"fp", explode(array(
      (0 until 8).map(c =>
        struct(lit(c).as("c"), shiftright($"fp", c * 8).bitwiseAND(lit(255L))
          .as("v"))): _*)).as("ch"))
      .select($"doc_id", $"fp", $"ch.c", $"ch.v")
    chunks.as("x").join(chunks.as("y"), Seq("c", "v"))
      .filter($"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        bit_count($"x.fp".bitwiseXOR($"y.fp")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= hamT)
      .orderBy($"doc_a", $"doc_b")
  }

  private[graft] val EmbTables = 16  // LSH tables for embedding blocking
  private[graft] val EmbBits = 4     // sign bits per table
  private val EmbCosT = 0.5

  /** D5 embedding-cosine near-dup pairs (cos ≥ 0.5, rounded), LSH
    * sign-bit BLOCKED: candidates are pairs sharing a bucket in some
    * hash table (equi-join on (table, bucket)); exact double-precision
    * cosine verifies only those. Candidate work is Σ bucket² instead
    * of n² — `bits` scales with log(corpus) so buckets stay bounded at
    * 10⁹ vectors. Collision probability per table for a pair at angle
    * θ is (1−θ/π)^bits, so a 0.5-cosine (60°) threshold needs many
    * tables — the defaults (16×4) deterministically recover every
    * ≥0.5 pair of the test corpus (verified against exact all-pairs at
    * all three SFs); recall is property-spec'd. The oracle replays the
    * SAME blocking (plane literals generated into the SQL), so parity
    * proves the whole blocked pipeline, not just the cosine. */
  def embeddingCosine(vecs: DataFrame): DataFrame =
    embeddingCosine(vecs, EmbTables, EmbBits)

  def embeddingCosine(vecs: DataFrame, tables: Int, bits: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    import graft.functions.VectorFunctions
    val e = vecs
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("n", VectorFunctions.norm($"v"))
    val bucketed = Similarity.lshBuckets(e.select($"vec_id", $"v"), tables, bits)
    val cand = bucketed.as("x").join(bucketed.as("y"), Seq("t", "bucket"))
      .filter($"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("vec_a"), $"y.vec_id".as("vec_b"))
      .distinct()
    cosinePairs(cand
      .join(e.select($"vec_id".as("vec_a"), $"v".as("va"), $"n".as("na")), "vec_a")
      .join(e.select($"vec_id".as("vec_b"), $"v".as("vb"), $"n".as("nb")), "vec_b"))
  }

  /** The embedding near-dup pairs of `pairs` (vec_a, va, na, vec_b,
    * vb, nb): round-6 cosine at or above [[EmbCosT]]. Zero-norm guard:
    * 0/0 = NaN sorts ABOVE every double in both Spark and DuckDB, so
    * an unguarded `cos >= T` admits NaN pairs. */
  private def cosinePairs(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    import graft.functions.VectorFunctions
    pairs
      .filter($"na" > 0 && $"nb" > 0)
      .withColumn("cos",
        round(VectorFunctions.dot($"va", $"vb") / ($"na" * $"nb"), 6))
      .filter($"cos" >= EmbCosT)
      .select($"vec_a", $"vec_b", $"cos")
      .orderBy($"vec_a", $"vec_b")
  }

  /** Exact all-pairs variant — explicitly a SMALL-BLOCK API (≤10⁵
    * vectors: 10⁹ pairs is one task-hour; anything larger must go
    * through the blocked form above or Similarity.annLsh/annIvf). */
  def embeddingCosineExactSmallBlock(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    import graft.functions.VectorFunctions
    val e = vecs
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("n", VectorFunctions.norm($"v"))
    val a = e.select($"vec_id".as("vec_a"), $"v".as("va"), $"n".as("na"))
    val b = e.select($"vec_id".as("vec_b"), $"v".as("vb"), $"n".as("nb"))
    cosinePairs(a.join(b, $"vec_a" < $"vec_b"))
  }

  /** D12 semantic dedup (SemDeDup, Abbas et al. 2023): cluster-blocked
    * embedding near-dup — k-means cells bound the candidate space
    * (the paper's blocking: only same-cluster pairs are compared, an
    * explicit approximation — cross-cell near-dups are missed by
    * design), then exact cosine within the cell drops every vector
    * that has a lower-id neighbor above the threshold. Complements
    * D5's LSH blocking: clusters adapt to corpus density where
    * hyperplane buckets are data-oblivious, and the same trained
    * centroids serve the E5/E7 indexes. Per dropped vector the output
    * carries its smallest-id kept neighbor and that pair's cosine
    * (struct-min — deterministic under any partitioning).
    * Scale shape: candidate work is Σ cell², controlled by k
    * (k ≈ corpus/10⁵ keeps cells bounded); centroid state is k×dim
    * doubles on the driver — the E-track contract. */
  def semanticDedup(vecs: DataFrame, k: Int = 8, iters: Int = 3,
      threshold: Double = 0.40): DataFrame = {
    import vecs.sparkSession.implicits._
    import graft.functions.VectorFunctions
    // cluster on L2-NORMALIZED vectors (the paper's setup): euclidean
    // cells over unit vectors partition by direction — the geometry
    // cosine scores by — so scaled near-dups co-locate; raw-vector
    // cells would split by norm (the IvfRecallSpec norm-mismatch
    // regime) and miss them. Zero vectors stay raw for assignment but
    // are EXCLUDED from pairing below: cos against a zero norm is
    // 0/0 = NaN, and both Spark and DuckDB order NaN ABOVE all doubles,
    // so `cos >= threshold` would be TRUE — a zero vector would
    // spuriously "absorb" every cell-mate. Undefined similarity is not
    // similarity; zero vectors are never dropped and never keepers.
    val unit = vecs.select($"vec_id",
        $"embedding".cast("array<double>").as("v"))
      .withColumn("n", VectorFunctions.norm($"v"))
      .withColumn("embedding",
        expr("CASE WHEN n > 0 THEN transform(v, x -> x / n) ELSE v END"))
      .select($"vec_id", $"embedding")
      // Lloyd's scans this iters+1 times — persist so normalization
      // (64 mults + sqrt + 64 divs per row) is paid once, not per pass
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids =
      try Similarity.kmeansCentroids(unit, k, iters)
      finally unit.unpersist()
    val e = vecs
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("n", VectorFunctions.norm($"v"))
      .withColumn("u",
        expr("CASE WHEN n > 0 THEN transform(v, x -> x / n) ELSE v END"))
      .withColumn("cell", Similarity.assignColOn(centroids, $"u"))
      .drop("u")
    val a = e.select($"cell", $"vec_id".as("ka"), $"v".as("va"), $"n".as("na"))
    val b = e.select($"cell", $"vec_id".as("kb"), $"v".as("vb"), $"n".as("nb"))
    a.join(b, Seq("cell")).filter($"ka" < $"kb")
      .filter($"na" > 0 && $"nb" > 0)
      .withColumn("cos",
        round(VectorFunctions.dot($"va", $"vb") / ($"na" * $"nb"), 6))
      .filter($"cos" >= threshold)
      .groupBy($"kb".as("vec_id"))
      .agg(min(struct($"ka", $"cos")).as("m"))
      .select($"vec_id", $"m.ka".as("kept_id"), $"m.cos".as("cos"))
      .orderBy($"vec_id")
  }

  /** D6 end-to-end clean corpus: documents surviving exact dedup
    * (keeper per content hash), i.e. what a pipeline actually feeds
    * downstream. */
  def dedupedCorpus(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val keepers = exact(docs).select($"keeper_doc_id".as("doc_id"))
    docs
      .join(keepers, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** D8 near-dup CLUSTERS: the grouping step a real pipeline runs
    * after pair generation — connected components over the union of
    * EXACT-duplicate pairs (content-hash groups: doc ↔ group keeper)
    * and verified n-gram Jaccard pairs ([[ngramJaccard]]); one row per
    * document with its cluster id (min doc_id in the component),
    * whether it is the canonical keeper, and the cluster size.
    * Exact pairs matter: the DF cap deliberately drops ultra-common
    * boilerplate shingles, so a document made ENTIRELY of them can
    * lose its posting lists — its byte-identical copies must still
    * co-cluster, and the content hash guarantees that (measured on the
    * 20x replicated stress corpus). Singleton documents are their own
    * cluster. Component search is distributed min-label propagation
    * ([[Graph.connectedComponents]]) — no driver-side graph, rounds =
    * duplicate-cluster diameter (≤ ~3 in practice). */
  def nearDupClusters(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // one definition of the exact-dup keeper: reuse exact() so the
    // hash/normalization can never drift between D1 and D8
    val exactPairs = docs.select($"doc_id", md5(norm($"text")).as("h"))
      .join(exact(docs).select($"content_hash".as("h"),
        $"keeper_doc_id".as("src")), "h")
      .filter($"doc_id" =!= $"src")
      .select($"src", $"doc_id".as("dst"))
    val pairs = jaccardPairs(shingles(docs), JaccardT)
      .select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(exactPairs)
    val comp = Graph.connectedComponents(pairs, docs.select($"doc_id".as("id")))
      .select($"id".as("doc_id"), $"component".as("cluster_id"))
    val sizes = comp.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
    comp.join(sizes, "cluster_id")
      .select($"doc_id", $"cluster_id",
        ($"doc_id" === $"cluster_id").cast("long").as("is_canonical"),
        $"n_members")
      .orderBy($"doc_id")
  }

  /** D7 fuzzy key matching by edit distance — entity-resolution style
    * dedup for short keys (names/brands), BLOCKED by deletion
    * neighborhoods (the SymSpell/FastSS scheme): if dist(a,b) ≤ d then
    * the sets of strings reachable by ≤ d character deletions from a
    * and from b intersect, so an equi-join on deletion variants yields
    * an EXACT candidate superset — no recall loss, and work is
    * Σ(posting list²) over variants instead of |distinct keys|².
    * Each key emits O(len^d) variants (len+1 for d=1), so a
    * 10⁸-distinct-key column is ~10⁹ variant rows — one ordinary
    * equi-join, vs the 10¹⁶-pair self-join it replaces. levenshtein
    * verification is integer so the oracle compares exactly (and the
    * oracle can stay the plain quadratic form: blocked output is
    * provably identical). */
  def fuzzyKeys(df: DataFrame, keyCol: String, maxDist: Int): DataFrame = {
    import df.sparkSession.implicits._
    require(maxDist >= 1 && maxDist <= 3, "maxDist must be in 1..3")
    val keys = df.select(col(keyCol).as("k")).distinct()
    // deletion variants of `s`: s plus every string with one char
    // removed, applied maxDist times (distinct at each level)
    val del1 = "transform(sequence(1, length(%s)), i -> " +
      "concat(substring(%s, 1, i - 1), substring(%s, i + 1, length(%s))))"
    var varExpr = "array(k)"
    for (_ <- 0 until maxDist) {
      val d1 = del1.format("s", "s", "s", "s")
      varExpr = s"array_distinct(flatten(transform($varExpr, " +
        s"s -> array_union(array(s), ${d1}))))"
    }
    val variants = keys.select($"k", explode(expr(varExpr)).as("variant"))
    val cand = variants.as("x").join(variants.as("y"), Seq("variant"))
      .filter($"x.k" < $"y.k")
      .select($"x.k".as("key_a"), $"y.k".as("key_b"))
      .distinct()
    cand
      .withColumn("dist", levenshtein($"key_a", $"key_b").cast("long"))
      .filter($"dist" <= maxDist)
      .orderBy($"key_a", $"key_b")
  }

  private val ContamT = 0.5

  /** Each training document's distinct shingles `sh` and their count
    * `n_shingles`: the decontamination prelude of D9 and its Bloom
    * fast path. */
  private def trainShingles(train: DataFrame): DataFrame = {
    import train.sparkSession.implicits._
    distinctShingleArr(train)
      .withColumn("n_shingles", size($"sh").cast("long"))
  }

  /** The decontamination report over [[trainShingles]] `t` and the
    * per-document matched-shingle counts `hits` (doc_id, n_matched):
    * the matched fraction and the flag at [[ContamT]]. */
  private def contamination(t: DataFrame, hits: DataFrame): DataFrame = {
    import t.sparkSession.implicits._
    t.select($"doc_id", $"n_shingles")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_matched", lit(0L)).as("n_matched"))
      .withColumn("contam_frac",
        when($"n_shingles" === 0, lit(0.0))
          .otherwise($"n_matched".cast("double") / $"n_shingles".cast("double")))
      .withColumn("is_contaminated",
        ($"contam_frac" >= ContamT).cast("long"))
      .orderBy($"doc_id")
  }

  /** D9 benchmark decontamination (the GPT-3-appendix / PaLM-style
    * n-gram collision scrub): score every training document by its
    * word-shingle overlap with an evaluation set, so contaminated
    * docs can be dropped before training.
    *
    * Scale shape: eval benchmarks are tiny next to a training corpus
    * (~10⁵ examples vs ~10¹⁰ docs), so the eval side's distinct
    * shingle set is broadcast; per-doc shingle sets are deduplicated
    * ROW-LOCALLY (`array_distinct` — so `n_shingles` costs zero
    * shuffle, where an explode→distinct would shuffle every corpus
    * shingle), and the only aggregate is over matched shingles —
    * map-side combined to one row per contaminated doc. The corpus
    * text is never shuffled and no inverted index is built.
    *
    * `contam_frac` is the raw quotient of two engine-identical
    * integers (bit-identical across engines — same precedent as
    * jaccard); the flag thresholds that exact double. */
  def decontaminate(train: DataFrame, evalSet: DataFrame): DataFrame = {
    import train.sparkSession.implicits._
    val evalSh = rawShingles(evalSet).select($"shingle").distinct()
    val t = trainShingles(train)
    val hits = t.select($"doc_id", explode($"sh").as("shingle"))
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_matched"))
    contamination(t, hits)
  }

  private val TfCosT = 0.5

  /** D15 TF-COSINE near-dup over the DF-capped vocabulary — the
    * bag-of-words sibling of D2's set-Jaccard (SpotSigs/related-work
    * shape: Jaccard ignores how OFTEN terms repeat, cosine weights
    * it, so template pages with different repetition factors separate
    * where Jaccard ties): vectors are raw term frequencies over the
    * DF ≤ cap vocabulary (hot terms are stopwords for near-dup
    * purposes — dropping them is the same contract as D2's DfCap, and
    * it is also what BOUNDS the posting-list join: Σ df² with
    * df ≤ cap, never an all-pairs stage).
    * Exactness: dot products and norm-squares are BIGINT sums of
    * integer products (order-free), so the only floats are
    * sqrt·sqrt·divide on exact integers — bit-identical both engines;
    * the threshold tests that exact double, output rounds to 6. */
  def tfCosine(docs: DataFrame, threshold: Double = TfCosT): DataFrame = {
    import docs.sparkSession.implicits._
    val tc = docs
      .select($"doc_id", explode(split(trim($"text"), Ws)).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val rare = tc.groupBy($"term").agg(count(lit(1)).as("df"))
      .filter($"df" <= DfCap).select($"term")
    val v = tc.join(rare, Seq("term")).localCheckpoint()
    val norms = v.groupBy($"doc_id").agg(sum($"tf" * $"tf").as("nsq"))
    v.as("a").join(v.as("b"), Seq("term"))
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(sum($"a.tf" * $"b.tf").as("dot"))
      .join(norms.select($"doc_id".as("doc_a"), $"nsq".as("na")), Seq("doc_a"))
      .join(norms.select($"doc_id".as("doc_b"), $"nsq".as("nb")), Seq("doc_b"))
      .withColumn("cosx", $"dot".cast("double") /
        (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))))
      .filter($"cosx" >= threshold)
      .select($"doc_a", $"doc_b", $"dot", round($"cosx", 6).as("cos"))
      .orderBy($"doc_a", $"doc_b")
  }

  private val BloomM = 1 << 18 // bits (32 KB of words)
  private val BloomK = 4       // probes per key

  /** Bloom membership probe as PURE COLUMN MATH against a broadcast
    * word-array literal: k = [[BloomK]] independent xxhash64 draws
    * (seeded by probe index — no h1+i·h2 arithmetic, which could
    * overflow under ANSI), each tests one bit of the m = [[BloomM]]
    * bit array. Codegen'd end to end (hash, element_at, shift, mask)
    * — no UDF, no driver round-trip per row. */
  private def mightContain(shingle: Column, bits: Column): Column =
    (0 until BloomK).map { i =>
      val pos = pmod(xxhash64(shingle, lit(i)), lit(BloomM.toLong))
      val word = element_at(bits, floor(pos / 64).cast("int") + 1)
      call_function("shiftright", word, (pos % 64).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  /** D14 decontamination behind a BLOOM-FILTER prefilter — D9's exact
    * scrub with the corpus-side join volume cut before the shuffle:
    * the eval set's distinct shingles are folded into an m-bit Bloom
    * array (built with ONE aggregate over the tiny eval side; the
    * collected state is the 32 KB word array — centroid-sized driver
    * state, not corpus-sized), every corpus shingle probes the
    * broadcast array row-locally, and only Bloom-passing shingles
    * (true matches + the ~0.5% false positives at these m/k) enter
    * the exact verify join that D9 runs on everything. False
    * positives die in the verify join; false negatives cannot exist
    * (every eval shingle sets its own bits) — so the OUTPUT IS
    * BIT-IDENTICAL TO D9 and the graded oracle is the exact D9 twin.
    * At 100 TB this is the difference between shuffling every corpus
    * shingle that happens to hash-match and shuffling ~the true
    * contamination volume; the same broadcast-bitset shape is what
    * Spark's own InjectRuntimeFilter emits for selective joins. */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame): DataFrame = {
    import train.sparkSession.implicits._
    val evalSh = rawShingles(evalSet).select($"shingle").distinct()
      .localCheckpoint()
    val positions = evalSh
      .select(explode(array((0 until BloomK).map(i =>
        pmod(xxhash64($"shingle", lit(i)), lit(BloomM.toLong))): _*)).as("pos"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](BloomM / 64)
    positions.foreach(p => words(p.toInt / 64) |= (1L << (p.toInt % 64)))
    val bits = typedlit(words)
    val t = trainShingles(train)
    val hits = t.select($"doc_id", explode($"sh").as("shingle"))
      .filter(mightContain($"shingle", bits))
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_matched"))
    contamination(t, hits)
  }

  /** D10 corpus-level LINE dedup (the C4/RefinedWeb boilerplate
    * scrub): drop every line whose normalized form (lowercase,
    * space-trimmed) occurs in more than `maxDocs` distinct documents
    * — nav bars, cookie banners, licence footers — and reassemble
    * each document from its surviving lines in original order. Blank
    * lines are document structure, not boilerplate: always kept and
    * never counted.
    *
    * Scale shape: TWO corpus scans total — one explode feeding the
    * offending-line aggregate (count-distinct doc_id partially
    * aggregated map-side), one explode marked by a left-outer join
    * against that (small, high-DF-tail-sized) set — AQE broadcasts
    * it, no hint pinned — then ONE doc-keyed aggregate computing
    * totals, removals, and the reassembly together (collect_list
    * skips the nulled-out dropped lines, so all-dropped docs survive
    * with empty text and no third scan is needed for totals). No
    * all-pairs stage; memory per task is line-sized.
    *
    * Output: (doc_id, n_lines, n_removed, text_clean). */
  def lineDedup(docs: DataFrame, maxDocs: Int = 1): DataFrame = {
    import docs.sparkSession.implicits._
    val lines = docs
      .select($"doc_id", posexplode(split($"text", "\n")).as(Seq("pos", "line")))
      .withColumn("k", lower(trim($"line")))
    // blank lines carry k = '' which is never counted → auto-kept
    val bad = lines.filter($"k" =!= "")
      .groupBy($"k").agg(countDistinct($"doc_id").as("ndocs"))
      .filter($"ndocs" > maxDocs)
      .select($"k", lit(1).as("__bad"))
    lines.join(bad, Seq("k"), "left")
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_lines"),
        sum(when($"__bad".isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when($"__bad".isNull, struct($"pos", $"line")))),
          x => x.getField("line")), "\n").as("text_clean"))
      .select($"doc_id", $"n_lines", $"n_removed", $"text_clean")
      .orderBy($"doc_id")
  }

  /** The test corpus is single-line docs, so the graded `dedup_lines`
    * first derives a line-structured corpus deterministically: each
    * doc re-chunked into non-overlapping 10-word segments joined by
    * newlines (a page whose "lines" are the segments). Near-dup docs
    * share verbatim segments, which is exactly the repetition
    * [[lineDedup]] scrubs. Library users with real multi-line text
    * call [[lineDedup]] directly. */
  private[graft] def chunkedPages(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", split(trim($"text"), Ws).as("w"))
      .select($"doc_id", expr(
        """array_join(transform(sequence(1, cast((size(w) + 9) div 10 as int)),
          |  s -> array_join(slice(w, (s - 1) * 10 + 1, 10), ' ')), '\n')"""
          .stripMargin).as("text"))
  }

  private def onDocs(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables.documents(s, dir))

  /** D16 winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS — the
    * plagiarism-detector's local fingerprint selection, the missing
    * rung between whole-doc hashing (F4) and full shingle indexes
    * (D2)): normalize to [a-z0-9 ] (first 1000 chars — documented
    * cap), hash every 12-char gram with a polynomial rolling hash mod
    * 10⁹+7 (SQL-expressible in both engines — no engine-private hash),
    * then in every window of 8 consecutive gram hashes select the
    * MINIMUM, rightmost on ties — encoded as min over the single
    * BIGINT key h·1024 + (1024 − pos), so the tie rule is integer
    * arithmetic, not an arg_min contract. Selection keeps ~2/w of the
    * grams (guarantee: any ≥ k+w−1 = 19-char shared substring yields
    * a shared fingerprint), so the inverted index is ~8× smaller than
    * D2's. Pairs share ≥ 5 selected hashes; posting lists DF-capped
    * at 20 (the D2 stop-shingle bound), so candidate work stays
    * Σ df²-bounded at corpus scale. */
  /** D22 CONTENT-DEFINED CHUNKING dedup (the LBFS/FastCDC family —
    * Muthitacharoen et al. 2001; the storage-level dedup every blob
    * store and backup system runs, and at 100 TB the first question
    * about a crawl refresh is "how many chunks are actually new"):
    * cut points come from CONTENT, not offsets — a position ends a
    * chunk iff its k-gram rolling hash ≡ 0 (mod 64) — so an edit
    * moves only ITS chunk's boundaries and every chunk outside the
    * edited region keeps its identity (the insertion-locality
    * property fixed-size blocking lacks; spec-pinned by prepending
    * text and watching the tail chunks survive). Chunks dedup by
    * exact content across docs; per doc the report is (n_chunks,
    * chunks shared with ≥1 other doc, dedup ppm) — the new-bytes
    * estimate a storage tier prices. Unconstrained cut points (no
    * min/max clamp): the clamp adds a sequential dependency between
    * cuts for ~nothing at the analysis level, and the expected
    * chunk length is the mask density (64) either way.
    * Shape: gram hashes ride the SAME codegen'd RollingPolyHash
    * pass as D16, cut lists are doc-local and bounded (~len/64),
    * chunk assembly is one in-row boundary zip — no char explode,
    * no window over the corpus. */
  def cdcChunks(docs: DataFrame, k: Int = 8): DataFrame = {
    import docs.sparkSession.implicits._
    val norm = docs.select($"doc_id",
      substring(regexp_replace(regexp_replace(lower($"text"),
        "[^a-z0-9 ]", ""), Ws, " "), 1, 2000).as("txt"))
    val cuts = norm.filter(length($"txt") >= k)
      .select($"doc_id", posexplode(
        graft.functions.TextHash.rollingPolyHash($"txt", k))
        .as(Seq("pos0", "h")))
      .filter(pmod($"h", lit(64)) === 0)
      .select($"doc_id", ($"pos0" + lit(k + 1)).cast("long").as("b"))
    val bounds = norm
      .join(cuts.groupBy($"doc_id")
        .agg(sort_array(collect_set($"b")).as("bs")),
        Seq("doc_id"), "left")
      .select($"doc_id", $"txt", expr(
        """concat(array(1L),
          |  coalesce(filter(bs, x -> x <= length(txt)), array()),
          |  array(cast(length(txt) + 1 as bigint)))""".stripMargin)
        .as("bs"))
    bounds.select($"doc_id", $"txt", explode(expr(
        """filter(transform(slice(bs, 1, size(bs) - 1),
          |  (s, i) -> struct(s as s, bs[i + 1] as e)),
          |  p -> p.e > p.s)""".stripMargin)).as("c"))
      .select($"doc_id", $"c.s".as("start"),
        ($"c.e" - $"c.s").as("chunk_len"),
        expr("substring(txt, c.s, c.e - c.s)").as("chunk"))
  }

  /** D22 graded entry: the per-doc storage-dedup report. */
  def cdcChunkReport(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ch = cdcChunks(docs).localCheckpoint()
    val shared = ch.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("nd"))
    ch.join(shared, "chunk")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"nd" >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum($"chunk_len").as("n_bytes"))
      .select($"doc_id", $"n_chunks", $"dup_chunks", $"n_bytes",
        expr("dup_chunks * 1000000 div n_chunks").as("dedup_ppm"))
      .orderBy($"doc_id")
  }

  /** D23 CHUNK STORE — the C×D bridge (the storage-layer leg next to
    * F46's BM25 and G26's catalog): a continuously-ingested corpus
    * prices each refresh by "how many D22 chunks are actually NEW",
    * and at 100 TB that answer must come from a maintained store,
    * never by re-chunking history. State = ONE Manifest table of
    * distinct (chunk hash, length) rows PARTITIONED BY HASH BUCKET
    * (64 — the BM25-postings shape, so point membership probes prune
    * to one bucket's files); appends are batch-tag-gated AND
    * semantically idempotent (known hashes anti-join to nothing).
    * Chunk identity is xxhash64 of the content — a 64-bit content
    * address (collision odds ~n²/2⁶⁵; the store prices storage, it
    * does not serve bytes, so a collision costs an undercount not a
    * corruption). */
  def publishChunkStore(docs: DataFrame, dir: String): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.sources.Lake.Manifest.publishSnapshot(
      chunkRows(docs), dir, partitionBy = Seq("hb"))
  }

  private def chunkRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    cdcChunks(docs)
      .select(xxhash64($"chunk").as("h"), $"chunk_len")
      .groupBy($"h").agg(min($"chunk_len").as("chunk_len"))
      .withColumn("hb", pmod($"h", lit(64L)))
  }

  /** Price an incoming batch BEFORE applying it: how many of its
    * chunks (and bytes) the store already holds. */
  def chunkBatchReport(spark: SparkSession, dir: String,
      docs: DataFrame): (Long, Long, Long) = {
    import spark.implicits._
    val incoming = chunkRows(docs).localCheckpoint()
    val known = incoming.join(
      graft.sources.Lake.Manifest.readPublished(spark, dir)
        .select($"h"), Seq("h"), "left_semi")
    val (n, b) = incoming.agg(count(lit(1)), sum($"chunk_len"))
      .as[(Long, Option[Long])].collect().head match {
        case (c, s) => (c, s.getOrElse(0L))
      }
    val kn = known.count()
    (n, kn, b)
  }

  /** Append a delta batch: only UNSEEN chunk hashes commit. */
  def appendChunkDocs(spark: SparkSession, dir: String,
      docs: DataFrame, meta: String = ""): Long =
    graft.sources.Lake.Manifest.publishUnseen(chunkRows(docs), dir, "h",
      partitionBy = Seq("hb"), meta = meta)

  /** D24 CONTRASTIVE TRAINING PAIRS mined from the D8 near-dup
    * clusters (the SimCSE/contrastive-pretraining data shape: a
    * near-duplicate IS a natural positive — same content, different
    * surface — and dedup output is exactly where they live; the
    * mining step every embedding-model pipeline runs on top of its
    * dedup pass): anchor = a cluster's canonical doc, positive =
    * each other member, negative = the NEXT canonical doc id
    * cyclically (deterministic and twin-replayable — a DEMO sampler;
    * production swaps in hash-random or E26-style hard negatives,
    * which the ann_hard_negatives operator already provides). The
    * cyclic-next windows run over the CANONICAL frame
    * (cluster-count-sized, not corpus-sized). */
  def trainingPairs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val comp = nearDupClusters(docs).localCheckpoint()
    val canon = comp.filter($"is_canonical" === 1L)
      .select($"cluster_id".as("anchor"))
    val wOrd = Window.orderBy($"anchor")
    val wAll = Window.orderBy($"anchor")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // Degenerate single-cluster frame: the cyclic fallback would
    // make negative == anchor — emit NULL instead (same guard in
    // the DuckDB twin) so a one-cluster corpus never trains on its
    // own anchor as a negative.
    val negs = canon.select($"anchor",
      nullif(coalesce(lead($"anchor", 1).over(wOrd),
        first($"anchor").over(wAll)), $"anchor").as("negative"))
    val pos = comp.filter($"doc_id" =!= $"cluster_id")
      .select($"cluster_id".as("anchor"), $"doc_id".as("positive"))
    pos.join(negs, "anchor")
      .select($"anchor", $"positive", $"negative")
      .orderBy($"anchor", $"positive")
  }

  def winnow(docs: DataFrame, k: Int = 12, w: Int = 8): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val norm = docs.select($"doc_id",
      substring(regexp_replace(regexp_replace(lower($"text"),
        "[^a-z0-9 ]", ""), Ws, " "), 1, 1000).as("txt"))
    // Gram hashes via the codegen'd RollingPolyHash expression: one
    // row-local byte pass per doc, then ONE posexplode of the gram
    // array — no char explode, no lead() windows (the previous
    // window form carried every CHARACTER of the corpus through the
    // window Exchange just to compute hashes; history: the original
    // aggregate-in-transform form was O(len·k) interpreted with
    // O(len²) substring seeks — 200+ s at sf0.1, the round-9 driver
    // bench-timeout culprit). Same integers: the rolling update is
    // the canonical residue of the same polynomial mod 10⁹+7, and
    // the D16 normalizer emits pure ASCII so byte == codepoint.
    val grams = norm
      .filter(length($"txt") >= k)
      .select($"doc_id", posexplode(
        graft.functions.TextHash.rollingPolyHash($"txt", k))
        .as(Seq("pos0", "h")))
      .select($"doc_id", ($"pos0" + 1).as("pos"),
        expr("h * 1024 + (1024 - (pos0 + 1))").as("key"))
    val wWin = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(-(w - 1), Window.currentRow)
    val sel = grams
      .withColumn("nw", count(lit(1)).over(wWin))
      .withColumn("sel_key", min($"key").over(wWin))
      .filter($"nw" === w)
      .select($"doc_id", expr("sel_key div 1024").as("h"))
      .distinct()
    val df = sel.groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" <= 20)
    val kept = sel.join(df.select($"h"), "h")
    kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter($"shared" >= 5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** D17 duplicated-span fraction (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the per-document
    * HOW-MUCH-is-duplicated statistic the pair operators D2/D3 don't
    * emit): fraction of a doc's word 5-gram WINDOWS (positional, with
    * in-doc repeats — spans, not the distinct set) whose shingle also
    * appears in ≥ 2 distinct documents, plus a flag at ≥ 50%. A
    * near-dup pair says "these two match"; this says "60% of THIS doc
    * is corpus-repeated text" — the signal for trimming or dropping
    * heavily-templated documents regardless of which partner they
    * duplicate.
    *
    * Scale shape: one shingle aggregate (countDistinct per shingle —
    * map-side combined), one equi-join back on shingle, one doc-keyed
    * aggregate. No pair join at all, so no Σ df² term — this is
    * CHEAPER than D2 and needs no DF cap (hot shingles cost one
    * counter row, not a posting-list explosion). Short docs
    * (< 5 words) carry zero windows and emit dup_ppm 0 via the
    * left join from the corpus frame. */
  def dupSpans(docs: DataFrame, minDf: Int = 2): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = rawShingles(docs)
    val hot = sh.groupBy($"shingle")
      .agg(countDistinct($"doc_id").as("ndocs"))
      .filter($"ndocs" >= minDf).select($"shingle")
    val dup = sh.join(hot, "shingle")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
    docs.select($"doc_id",
        greatest(size(split(trim($"text"), Ws)) - (ShingleN - 1), lit(0))
          .cast("long").as("n_windows"))
      .join(dup, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce($"n_dup", lit(0L)))
      .withColumn("dup_ppm",
        expr("CASE WHEN n_windows > 0 THEN n_dup * 1000000 div n_windows ELSE 0 END"))
      .select($"doc_id", $"n_windows", $"n_dup", $"dup_ppm",
        ($"dup_ppm" >= 500000L).as("flagged"))
      .orderBy($"doc_id")
  }

  /** D18 BOILERPLATE PHRASE MINING — names WHAT is repeated (D17
    * scores how much of each doc is corpus-repeated, D10 strips
    * repeated lines; this ranks the most-repeated word-5-gram
    * passages for a curator to READ — the "top boilerplate" report a
    * crawl-cleaning run publishes before choosing filters): phrase
    * document-frequency over per-doc DISTINCT shingles, top-`topK`
    * by (df DESC, phrase), smallest holder doc as the citation.
    *
    * Scale shape: the per-doc shingle set dedups ROW-LOCALLY
    * (`array_distinct`, zero shuffle), then ONE map-side-combined
    * phrase aggregate + TakeOrderedAndProject. No pair join, no DF
    * cap — a hot phrase is one counter row (D17's cost argument
    * verbatim). */
  def phraseMine(docs: DataFrame, topK: Int = PhraseTopK,
      minDf: Long = PhraseMinDf): DataFrame = {
    import docs.sparkSession.implicits._
    // checkpoint before exploding: the Generate consumer re-derives
    // its child expression per OUTPUT row, so exploding the raw
    // transform+array_distinct tree costs O(shingles × build) — the
    // same 27 s→0.3 s pathology the D2 postings explode hit
    distinctShingleArr(docs).localCheckpoint()
      .select($"doc_id", explode($"sh").as("shingle"))
      .groupBy($"shingle")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("example_doc"))
      .filter($"df" >= minDf)
      .orderBy(desc("df"), $"shingle")
      .limit(topK)
  }

  /** D20 PREFIX-duplication detector (the CCNet/crawl head-dedup
    * rule: boilerplate pages share their normalized opening even when
    * tails differ — cookie banners, templated intros, mirrored
    * headers; D1 misses them because the tail varies and D2 pays a
    * shingle join for what one hash aggregate answers): group by the
    * first `n` chars of the normalized text, keep groups of ≥ 2,
    * keeper = lowest id. ONE hash aggregate — the D1 cost shape;
    * prefixes shorter than `minLen` are skipped (short-doc noise,
    * stated). Exported as a 16-hex prefix hash + sample. */
  def prefixDups(docs: DataFrame, n: Int = 100,
      minLen: Int = 20): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", substring(norm($"text"), 1, n).as("pfx"))
      .filter(length($"pfx") >= minLen)
      .groupBy($"pfx")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keeper_doc_id"))
      .filter($"n_docs" >= 2)
      .select(substring(md5($"pfx"), 1, 16).as("pfx16"),
        substring($"pfx", 1, 24).as("sample"),
        $"n_docs", $"keeper_doc_id")
      .orderBy($"pfx16")
  }

  /** D21 SUFFIX-duplication detector — D20's mirror for TAIL
    * boilerplate (footers, cookie banners, "© …" blocks and share
    * bars sit at the END of pages as often as templated intros sit
    * at the top; a head-only rule misses them): group by the LAST
    * `n` chars of the normalized text. Same one-hash-aggregate cost
    * shape; same ≥ 2 / min-length rules. */
  def suffixDups(docs: DataFrame, n: Int = 100,
      minLen: Int = 20): DataFrame = {
    import docs.sparkSession.implicits._
    // explicit positive positions: negative-start substring clips
    // differently across engines, so the window is computed as
    // greatest(len − n + 1, 1) in both
    docs
      .select($"doc_id", norm($"text").as("t"))
      .withColumn("len", length($"t"))
      .filter($"len" >= minLen)
      .select($"doc_id",
        expr(s"substring(t, greatest(len - $n + 1, 1), $n)").as("sfx"))
      .groupBy($"sfx")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keeper_doc_id"))
      .filter($"n_docs" >= 2)
      .select(substring(md5($"sfx"), 1, 16).as("sfx16"),
        substring($"sfx", 1, 24).as("sample"),
        $"n_docs", $"keeper_doc_id")
      .orderBy($"sfx16")
  }

  /** The planted boilerplate footer for the D21 graded corpus — 124
    * normalized chars, longer than the 100-char suffix window, so
    * every footered doc's window is footer-only and the cluster is
    * exact (the test corpus's own near-dups salt their TAILS, so the
    * raw table has no natural suffix dups — the planted footer makes
    * the graded query carry signal; the real detector is the
    * operator, exercised unplanted in the spec). */
  private[operators] val FooterText =
    " — © example holdings incorporated all rights reserved" +
    " terms of service privacy policy cookie settings contact" +
    " support careers"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_suffix" -> ((s, dir) => {
      import s.implicits._
      val d = graft.sources.Tables.documents(s, dir)
      suffixDups(d.withColumn("text",
        when($"doc_id" % 7 === 0, concat($"text", lit(FooterText)))
          .otherwise($"text")))
    }),
    "dedup_prefix" -> onDocs(d => prefixDups(d)),
    "dedup_phrase" -> onDocs(d => phraseMine(d)),
    "dedup_spans" -> onDocs(d => dupSpans(d)),
    "dedup_winnow" -> onDocs(d => winnow(d)),
    "dedup_cdc_chunks" -> onDocs(cdcChunkReport),
    "dedup_corpus" -> onDocs(dedupedCorpus),
    "dedup_exact" -> onDocs(exact),
    "dedup_cross" -> crossCorpusOnSources _,
    "dedup_ngram_jaccard" -> onDocs(ngramJaccard),
    "dedup_minhash" -> onDocs(minhashLsh),
    "dedup_minhash_calibration" -> onDocs(minhashCalibration),
    "dedup_simhash" -> onDocs(simhash),
    "dedup_embedding" -> ((s, dir) => embeddingCosine(Tables.embeddings(s, dir))),
    "dedup_semantic" -> ((s, dir) => semanticDedup(Tables.embeddings(s, dir))),
    "dedup_fuzzy_brand" -> ((s, dir) =>
      fuzzyKeys(Tables.part(s, dir), "p_brand", maxDist = 1)),
    "dedup_clusters" -> onDocs(nearDupClusters),
    "dedup_training_pairs" -> onDocs(trainingPairs),
    "dedup_jaccard_hist" -> onDocs(jaccardHist),
    // deterministic eval stand-in: every 50th doc is the "benchmark";
    // library users pass their own eval frame
    "dedup_decontam" -> onDocs(d => decontaminate(
      d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0))),
    "dedup_bloom" -> onDocs(d => decontaminateBloom(
      d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0))),
    "dedup_tf_cosine" -> onDocs(d => tfCosine(d)),
    "dedup_lines" -> onDocs(d => lineDedup(chunkedPages(d))),
    "dedup_containment" -> onDocs(d => ngramContainment(d)),
    // D13 synthetic crawl frame: five URL spellings per page (case,
    // default port, www, param order, tracking params, fragment)
    // derived deterministically from doc_id; the oracle constructs the
    // IDENTICAL frame, so the hash proves construction AND
    // canonicalization agree across engines
    "dedup_url" -> onDocs(d => urlDedup(
      d.select(col("doc_id"), expr(UrlVariantSql).as("url")))))

  /** The five URL spellings — valid in BOTH Spark SQL and DuckDB
    * except integer division (`div` vs `//`), substituted per engine. */
  private def urlVariantSql(intDiv: String): String =
    s"""CASE doc_id % 5
       |  WHEN 0 THEN 'https://Example.COM/d/' || (doc_id $intDiv 5) || '?b=2&a=1'
       |  WHEN 1 THEN 'https://example.com:443/d/' || (doc_id $intDiv 5) || '?a=1&b=2'
       |  WHEN 2 THEN 'https://www.example.com/d/' || (doc_id $intDiv 5) || '/?a=1&b=2&utm_source=x'
       |  WHEN 3 THEN 'HTTPS://example.com/d/' || (doc_id $intDiv 5) || '?a=1&b=2#sec'
       |  ELSE 'http://example.com:80/d/' || (doc_id $intDiv 5) || '?a=1&b=2&utm_campaign=y'
       |END""".stripMargin
  private val UrlVariantSql = urlVariantSql("div")

  private val shinglesSql =
    s"""w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |sh0 AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, len(w) - ${ShingleN - 2}),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
       |           w[i+3] || ' ' || w[i+4])) AS shingle
       |    FROM w WHERE len(w) >= $ShingleN)),
       |rare AS (
       |  SELECT shingle FROM sh0 GROUP BY shingle
       |  HAVING count(*) <= $DfCap),
       |sh AS (
       |  SELECT sh0.doc_id, sh0.shingle FROM sh0
       |  JOIN rare USING (shingle))""".stripMargin

  /** Exact D9 twin, shared verbatim by D14 (whose Bloom prefilter is
    * output-invariant by construction). */
  private val decontamOracleSql =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |sh0 AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, len(w) - ${ShingleN - 2}),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
       |           w[i+3] || ' ' || w[i+4])) AS shingle
       |    FROM w WHERE len(w) >= $ShingleN)),
       |esh AS (SELECT DISTINCT shingle FROM sh0 WHERE doc_id % 50 = 0),
       |tsh AS (SELECT doc_id, shingle FROM sh0 WHERE doc_id % 50 <> 0),
       |tot AS (SELECT doc_id, count(*) AS n_shingles FROM tsh
       |        GROUP BY doc_id),
       |hits AS (SELECT doc_id, count(*) AS n_matched
       |         FROM tsh JOIN esh USING (shingle) GROUP BY doc_id),
       |f AS (
       |  SELECT d.doc_id,
       |    coalesce(t.n_shingles, 0) AS n_shingles,
       |    coalesce(h.n_matched, 0) AS n_matched
       |  FROM documents d
       |  LEFT JOIN tot t ON d.doc_id = t.doc_id
       |  LEFT JOIN hits h ON d.doc_id = h.doc_id
       |  WHERE d.doc_id % 50 <> 0)
       |SELECT doc_id, n_shingles, n_matched,
       |  CASE WHEN n_shingles = 0 THEN 0.0
       |       ELSE n_matched::DOUBLE / n_shingles::DOUBLE END AS contam_frac,
       |  (CASE WHEN n_shingles = 0 THEN 0.0
       |        ELSE n_matched::DOUBLE / n_shingles::DOUBLE END
       |    >= $ContamT)::BIGINT AS is_contaminated
       |FROM f ORDER BY doc_id""".stripMargin

  /** D18 graded defaults — the ONE place the phrase-report knobs live;
    * both [[phraseMine]] and its oracle derive from these. */
  private[graft] val PhraseTopK = 20
  private[graft] val PhraseMinDf = 2L

  /** D18 oracle, parametrized by the same knobs as [[phraseMine]]. */
  private[graft] def phraseSql(topK: Int, minDf: Long): String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])
       |      AS shingle
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
       |        FROM w WHERE len(w) >= 5))
       |SELECT shingle, count(*)::BIGINT AS df,
       |  min(doc_id)::BIGINT AS example_doc
       |FROM sh GROUP BY 1 HAVING count(*) >= $minDf
       |ORDER BY df DESC, shingle LIMIT $topK""".stripMargin

  /** The 32 MinHash permutation seeds as a DuckDB HUGEINT[] literal
    * (golden-gamma multiples, [[graft.functions.PolyHash.seed]]). */
  private def minhashSeedList: String =
    (0 until 32).map(graft.functions.PolyHash.seed).mkString(", ")
  private def PolyMod = graft.functions.PolyHash.ModSql

  val oracles: Map[String, String] = Map(
    // D3 twin — the WHOLE LSH pipeline replayed bit-for-bit (the A62
    // exactly-graded-sketch principle): per-shingle seeded poly hash
    // h = fold(codepoints, seed·B^n + Σc·B^j mod 2⁶³) with the SAME 32
    // golden-gamma seed literals, per-permutation mins, 8 bands × 4
    // rows joined on the RAW 4-tuple (Spark buckets by xxhash64 of the
    // tuple — equality of tuples is the same relation), then the exact
    // DF-capped Jaccard verify of dedup_ngram_jaccard on candidates
    "dedup_minhash" ->
      s"""WITH $shinglesSql,
        |perms AS (
        |  SELECT unnest(range(0, 32))::INT AS perm,
        |    unnest([$minhashSeedList]::HUGEINT[]) AS seed),
        |hp AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::HUGEINT, cps),
        |      (a, c) -> (a * 1000003 + c) % $PolyMod) AS base,
        |    list_reduce(list_prepend(1::HUGEINT, cps),
        |      (a, c) -> (a * 1000003) % $PolyMod) AS pw
        |  FROM (SELECT doc_id, list_transform(range(1, len(shingle) + 1),
        |          i -> unicode(shingle[i])::HUGEINT) AS cps FROM sh0)),
        |sig AS (
        |  SELECT doc_id, perm,
        |    min((seed * pw + base) % $PolyMod)::BIGINT AS mh
        |  FROM hp CROSS JOIN perms GROUP BY doc_id, perm, seed),
        |bandkey AS (
        |  SELECT doc_id, perm // 4 AS band, list(mh ORDER BY perm) AS tup
        |  FROM sig GROUP BY doc_id, band),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.tup = b.tup AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= $JaccardT
        |ORDER BY doc_a, doc_b""".stripMargin,
    // D26 twin: the D3 signature chain + a lane-agreement join, true
    // jaccard LEFT-joined (bucket-collision pairs score 0), errors
    // fixed-point summed (the A82 order-free convention)
    "dedup_minhash_calibration" ->
      s"""WITH $shinglesSql,
        |perms AS (
        |  SELECT unnest(range(0, 32))::INT AS perm,
        |    unnest([$minhashSeedList]::HUGEINT[]) AS seed),
        |hp AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::HUGEINT, cps),
        |      (a, c) -> (a * 1000003 + c) % $PolyMod) AS base,
        |    list_reduce(list_prepend(1::HUGEINT, cps),
        |      (a, c) -> (a * 1000003) % $PolyMod) AS pw
        |  FROM (SELECT doc_id, list_transform(range(1, len(shingle) + 1),
        |          i -> unicode(shingle[i])::HUGEINT) AS cps FROM sh0)),
        |sig AS (
        |  SELECT doc_id, perm,
        |    min((seed * pw + base) % $PolyMod)::BIGINT AS mh
        |  FROM hp CROSS JOIN perms GROUP BY doc_id, perm, seed),
        |bandkey AS (
        |  SELECT doc_id, perm // 4 AS band, list(mh ORDER BY perm) AS tup
        |  FROM sig GROUP BY doc_id, band),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.tup = b.tup AND a.doc_id < b.doc_id),
        |eqc AS (
        |  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS eq
        |  FROM cand c
        |  JOIN sig a ON a.doc_id = c.doc_a
        |  JOIN sig b ON b.doc_id = c.doc_b
        |    AND b.perm = a.perm AND b.mh = a.mh
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT c.doc_a, c.doc_b, coalesce(eq, 0)::BIGINT AS eq
        |  FROM cand c LEFT JOIN eqc USING (doc_a, doc_b)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
        |  GROUP BY 1, 2),
        |tj AS (
        |  SELECT e.doc_a, e.doc_b, e.eq,
        |    coalesce(i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE, 0.0) AS j
        |  FROM est e
        |  LEFT JOIN inter ON e.doc_a = inter.doc_a
        |    AND e.doc_b = inter.doc_b
        |  LEFT JOIN sizes sa ON e.doc_a = sa.doc_id
        |  LEFT JOIN sizes sb ON e.doc_b = sb.doc_id),
        |fp AS (
        |  SELECT least(9, floor(j * 10)::BIGINT)::BIGINT AS bucket,
        |    round(abs(eq::DOUBLE / 32.0 - j) * 1e9)::BIGINT AS err_fp,
        |    round((eq::DOUBLE / 32.0) * 1e9)::BIGINT AS est_fp,
        |    round(j * 1e9)::BIGINT AS true_fp
        |  FROM tj)
        |SELECT bucket, count(*)::BIGINT AS n_pairs,
        |  round(sum(est_fp)::DOUBLE / (count(*)::DOUBLE * 1e9), 6)
        |    AS mean_est,
        |  round(sum(true_fp)::DOUBLE / (count(*)::DOUBLE * 1e9), 6)
        |    AS mean_true,
        |  round(sum(err_fp)::DOUBLE / (count(*)::DOUBLE * 1e9), 6)
        |    AS mean_abs_err
        |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin,
    // D4 twin — fingerprint replayed bit-for-bit: RAW (non-distinct)
    // shingles weight the 64 bit balances, h's bit 63 is always 0
    // (63-bit hash) so bits 0..62 suffice, sign rule b > 0, pigeonhole
    // chunk join on (c, byte) and bit_count(xor) verify
    "dedup_simhash" ->
      s"""WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        |  FROM documents),
        |shr AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, len(w) - ${ShingleN - 2}),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |         w[i+3] || ' ' || w[i+4])) AS shingle
        |  FROM w WHERE len(w) >= $ShingleN),
        |hp AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(${graft.functions.SimHashAgg.Seed}::HUGEINT,
        |      list_transform(range(1, len(shingle) + 1),
        |        i -> unicode(shingle[i])::HUGEINT)),
        |    (a, c) -> (a * 1000003 + c) % $PolyMod)::BIGINT AS h
        |  FROM shr),
        |bal AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS b
        |  FROM hp CROSS JOIN (SELECT unnest(range(0, 63))::INT AS j) bits
        |  GROUP BY doc_id, j),
        |fp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN b > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
        |      AS fp
        |  FROM bal GROUP BY doc_id),
        |chunks AS (
        |  SELECT doc_id, fp, c, (fp >> (c * 8)) & 255 AS v
        |  FROM fp CROSS JOIN (SELECT unnest(range(0, 8))::INT AS c) cs),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    bit_count(xor(x.fp, y.fp))::BIGINT AS hamming
        |  FROM chunks x JOIN chunks y
        |    ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, hamming FROM pairs
        |WHERE hamming <= 7 ORDER BY doc_a, doc_b""".stripMargin,
    // D21 twin: same normalization, same explicit-position suffix
    // window, same >= 2 group rule
    "dedup_suffix" ->
      s"""WITH ft AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || '$FooterText'
        |    ELSE text END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
        |  FROM ft),
        |p AS (
        |  SELECT doc_id,
        |    substr(t, greatest(length(t) - 100 + 1, 1), 100) AS sfx
        |  FROM t WHERE length(t) >= 20),
        |g AS (
        |  SELECT sfx, count(*)::BIGINT AS n_docs,
        |    min(doc_id)::BIGINT AS keeper_doc_id
        |  FROM p GROUP BY 1)
        |SELECT substr(md5(sfx), 1, 16) AS sfx16,
        |  substr(sfx, 1, 24) AS sample, n_docs, keeper_doc_id
        |FROM g WHERE n_docs >= 2 ORDER BY sfx16""".stripMargin,
    // D20 twin: same normalization (the F4 fingerprint pair), same
    // prefix length, same >= 2 group rule
    "dedup_prefix" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
        |      1, 100) AS pfx
        |  FROM documents),
        |g AS (
        |  SELECT pfx, count(*)::BIGINT AS n_docs,
        |    min(doc_id)::BIGINT AS keeper_doc_id
        |  FROM p WHERE length(pfx) >= 20 GROUP BY 1)
        |SELECT substr(md5(pfx), 1, 16) AS pfx16,
        |  substr(pfx, 1, 24) AS sample, n_docs, keeper_doc_id
        |FROM g WHERE n_docs >= 2 ORDER BY pfx16""".stripMargin,
    // D17 twin: same positional 5-gram windows (with in-doc repeats),
    // same ndocs >= 2 hot set, same floor-div ppm and 50% flag
    // D18 twin: same 5-gram build, per-doc DISTINCT set, one phrase
    // aggregate, the same (df DESC, phrase) top-K — generated from the
    // SAME topK/minDf defaults phraseMine uses (the lpaSql pattern),
    // so a non-default call cannot silently break parity
    "dedup_phrase" -> phraseSql(PhraseTopK, PhraseMinDf),
    "dedup_spans" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])
        |    AS shingle
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        |        FROM w WHERE len(w) >= 5)),
        |hot AS (
        |  SELECT shingle FROM sh GROUP BY shingle
        |  HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_dup
        |  FROM sh JOIN hot USING (shingle) GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, greatest(len(w) - 4, 0)::BIGINT AS n_windows
        |  FROM w)
        |SELECT b.doc_id, b.n_windows,
        |  coalesce(d.n_dup, 0)::BIGINT AS n_dup,
        |  CASE WHEN b.n_windows > 0
        |    THEN coalesce(d.n_dup, 0) * 1000000 // b.n_windows
        |    ELSE 0 END::BIGINT AS dup_ppm,
        |  (CASE WHEN b.n_windows > 0
        |    THEN coalesce(d.n_dup, 0) * 1000000 // b.n_windows
        |    ELSE 0 END) >= 500000 AS flagged
        |FROM base b LEFT JOIN dup d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // D16 twin: same normalization (note DuckDB needs the 'g' flag
    // where Spark replaces all matches by default), same polynomial
    // hash fold, same min-key window selection, same DF cap
    // D22 twin: the same rolling polynomial (the D16 fold), the same
    // mask-64 cut rule, chunks assembled by lead() over boundary
    // rows, dedup by exact chunk content
    "dedup_cdc_chunks" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), '[ \t\n\f\r]+', ' ', 'g'),
        |      1, 2000) AS txt
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, txt, unnest(range(1, length(txt) - 6)) AS i
        |  FROM norm WHERE length(txt) >= 8),
        |grams AS (
        |  SELECT doc_id, i,
        |    list_reduce(
        |      list_prepend(0::BIGINT, list_transform(range(0, 8), j -> j)),
        |      (a, j) -> (a * 257
        |        + ascii(substring(txt, (i + j)::INT, 1))) % 1000000007)
        |      AS h
        |  FROM pos),
        |cuts AS (
        |  SELECT doc_id, (i + 8)::BIGINT AS b FROM grams
        |  WHERE h % 64 = 0),
        |bset AS (
        |  SELECT n.doc_id, n.txt, b FROM norm n JOIN cuts c
        |    ON n.doc_id = c.doc_id AND c.b <= length(n.txt)
        |  UNION
        |  SELECT doc_id, txt, 1::BIGINT FROM norm
        |  UNION
        |  SELECT doc_id, txt, (length(txt) + 1)::BIGINT FROM norm),
        |pairs AS (
        |  SELECT doc_id, txt, b AS s,
        |    lead(b) OVER (PARTITION BY doc_id ORDER BY b) AS e
        |  FROM bset),
        |chunks AS (
        |  SELECT doc_id, (e - s)::BIGINT AS chunk_len,
        |    substring(txt, s::INT, (e - s)::INT) AS chunk
        |  FROM pairs WHERE e IS NOT NULL AND e > s),
        |shared AS (
        |  SELECT chunk, count(DISTINCT doc_id) AS nd
        |  FROM chunks GROUP BY chunk)
        |SELECT c.doc_id, count(*)::BIGINT AS n_chunks,
        |  sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0
        |    END)::BIGINT AS dup_chunks,
        |  sum(c.chunk_len)::BIGINT AS n_bytes,
        |  (sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) * 1000000
        |    // count(*))::BIGINT AS dedup_ppm
        |FROM chunks c JOIN shared s USING (chunk)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "dedup_winnow" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), '[ \t\n\f\r]+', ' ', 'g'),
        |      1, 1000) AS txt
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, txt, unnest(range(1, length(txt) - 10)) AS i
        |  FROM norm WHERE length(txt) >= 12),
        |grams AS (
        |  SELECT doc_id, i AS pos,
        |    list_reduce(
        |      list_prepend(0::BIGINT, list_transform(range(0, 12), j -> j)),
        |      (a, j) -> (a * 257
        |        + ascii(substring(txt, (i + j)::INT, 1))) % 1000000007)
        |      AS h
        |  FROM pos),
        |keyed AS (
        |  SELECT doc_id, pos, h * 1024 + (1024 - pos) AS key FROM grams),
        |sel AS (
        |  SELECT DISTINCT doc_id, sel_key // 1024 AS h FROM (
        |    SELECT doc_id, count(*) OVER win AS nw,
        |      min(key) OVER win AS sel_key
        |    FROM keyed
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |  WHERE nw = 8),
        |dfc AS (SELECT h FROM sel GROUP BY h HAVING count(*) <= 20),
        |kept AS (SELECT s.doc_id, s.h FROM sel s JOIN dfc USING (h))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*)::BIGINT AS shared
        |FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // D13 twin: identical variant construction (// is DuckDB int div)
    // and the same RE2-safe canonicalization patterns step for step
    "dedup_url" ->
      s"""WITH urls AS (
         |  SELECT doc_id, ${urlVariantSql("//").replace("\n", "\n  ")} AS u
         |  FROM documents),
         |c AS (SELECT doc_id, regexp_replace(u, '#.*', '') AS base FROM urls),
         |p AS (SELECT doc_id,
         |    lower(regexp_extract(base, '^([a-zA-Z]+)://', 1)) AS scheme,
         |    regexp_replace(base, '^[a-zA-Z]+://', '') AS rest FROM c),
         |h AS (SELECT doc_id, scheme,
         |    regexp_replace(
         |      regexp_replace(lower(regexp_extract(rest, '^[^/?]+', 0)),
         |        '^www\\.', ''),
         |      CASE WHEN scheme = 'http' THEN ':80$$' ELSE ':443$$' END,
         |      '') AS host,
         |    substr(rest, length(regexp_extract(rest, '^[^/?]+', 0)) + 1)
         |      AS pathq FROM p),
         |pq AS (SELECT doc_id, scheme, host,
         |    regexp_replace(regexp_extract(pathq, '^[^?]*', 0), '/+$$', '')
         |      AS path,
         |    regexp_extract(pathq, '\\?(.*)$$', 1) AS qs FROM h),
         |f AS (SELECT doc_id, scheme || '://' || host || path ||
         |    CASE WHEN len(params) = 0 THEN ''
         |      ELSE '?' || array_to_string(params, '&') END AS canon_url
         |  FROM (SELECT *, list_sort(list_filter(string_split(qs, '&'),
         |      x -> x <> '' AND NOT starts_with(x, 'utm_'))) AS params
         |    FROM pq))
         |SELECT canon_url, min(doc_id) AS keeper_doc_id,
         |  count(*)::BIGINT AS n_docs
         |FROM f GROUP BY 1 ORDER BY canon_url""".stripMargin,
    // same unrolled Lloyd's as the kmeans oracles but trained on
    // L2-NORMALIZED vectors (SemDeDup clusters by direction), then
    // exact cosine over the RAW vectors within the learned cell and a
    // min-ka keeper per dropped vector
    "dedup_semantic" ->
      s"""WITH ${Similarity.lloydAssignCtesSql(k = 8, iters = 3, evSql =
           """SELECT vec_id,
             |    CASE WHEN n0 > 0 THEN list_transform(v0, x -> x / n0)
             |      ELSE v0 END AS v
             |  FROM (
             |    SELECT vec_id, embedding::DOUBLE[] AS v0,
             |      sqrt(list_dot_product(embedding::DOUBLE[],
             |        embedding::DOUBLE[])) AS n0
             |    FROM embeddings)""".stripMargin)},
         |rawv AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_dot_product(embedding::DOUBLE[],
         |      embedding::DOUBLE[])) AS n
         |  FROM embeddings),
         |en AS (
         |  SELECT a.vec_id, a.cell, r.v, r.n
         |  FROM asg a JOIN rawv r USING (vec_id)),
         |pairs AS (
         |  SELECT x.vec_id AS ka, y.vec_id AS kb,
         |    round(list_dot_product(x.v, y.v) / (x.n * y.n), 6) AS cos
         |  FROM en x JOIN en y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |    AND x.n > 0 AND y.n > 0),
         |hits AS (SELECT * FROM pairs WHERE cos >= 0.4),
         |r AS (
         |  SELECT kb AS vec_id, ka AS kept_id, cos,
         |    row_number() OVER (PARTITION BY kb ORDER BY ka) AS rn
         |  FROM hits)
         |SELECT vec_id, kept_id, cos FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    "dedup_fuzzy_brand" ->
      """WITH k AS (SELECT DISTINCT p_brand AS k FROM part)
        |SELECT x.k AS key_a, y.k AS key_b,
        |  levenshtein(x.k, y.k)::BIGINT AS dist
        |FROM k x JOIN k y ON x.k < y.k
        |WHERE levenshtein(x.k, y.k) <= 1
        |ORDER BY key_a, key_b""".stripMargin,
    "dedup_corpus" ->
      """WITH keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shinglesSql,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= $JaccardT
         |ORDER BY doc_a, doc_b""".stripMargin,
    // D19 twin: the SAME union shingle/DF-cap frame, pairs
    // side-restricted by the same source predicate
    "dedup_cross" ->
      s"""WITH $shinglesSql,
         |sides AS (
         |  SELECT doc_id, (substring(source, 4, 10)::INT < 10) AS is_a
         |  FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a
         |  JOIN sides xa ON a.doc_id = xa.doc_id AND xa.is_a
         |  JOIN sh b ON a.shingle = b.shingle
         |  JOIN sides xb ON b.doc_id = xb.doc_id AND NOT xb.is_a
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, i::BIGINT AS inter,
         |  i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= $JaccardT
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding" -> embeddingOracleSql,
    "dedup_containment" ->
      s"""WITH $shinglesSql,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, i AS inter,
         |  i::DOUBLE / least(sa.sz, sb.sz)::DOUBLE AS containment
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE i::DOUBLE / least(sa.sz, sb.sz)::DOUBLE >= $ContainThresh
         |ORDER BY doc_a, doc_b""".stripMargin,
    // chunk → zipped-unnest lines with ordinality → offending-line set
    // (normalized, >1 distinct doc) → reassemble survivors in order
    "dedup_lines" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |pages AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |    generate_series(1, (len(w) + 9) // 10),
        |    s -> array_to_string(w[(s-1)*10+1 : s*10], ' ')),
        |    chr(10)) AS text
        |  FROM w),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
        |  FROM pages),
        |bad AS (
        |  SELECT lower(trim(line)) AS k FROM lines WHERE trim(line) <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
        |kept AS (
        |  SELECT doc_id, pos, line FROM lines
        |  WHERE trim(line) = ''
        |     OR lower(trim(line)) NOT IN (SELECT k FROM bad)),
        |re AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS text_clean
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
        |SELECT t.doc_id, t.n_lines,
        |  t.n_lines - coalesce(re.n_kept, 0) AS n_removed,
        |  coalesce(re.text_clean, '') AS text_clean
        |FROM tot t LEFT JOIN re USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // D15 twin: BIGINT dot/norm sums over the same DF-capped
    // vocabulary; sqrt·sqrt·divide on exact integers both engines
    "dedup_tf_cosine" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+'))
         |    AS term
         |  FROM documents),
         |tc AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
         |  GROUP BY 1, 2),
         |rare AS (SELECT term FROM tc GROUP BY term
         |         HAVING count(*) <= $DfCap),
         |v AS (SELECT tc.* FROM tc JOIN rare USING (term)),
         |norms AS (SELECT doc_id, sum(tf * tf)::BIGINT AS nsq FROM v
         |          GROUP BY 1),
         |dots AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    sum(a.tf * b.tf)::BIGINT AS dot
         |  FROM v a JOIN v b USING (term)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, dot,
         |  round(dot::DOUBLE / (sqrt(na.nsq::DOUBLE) * sqrt(nb.nsq::DOUBLE)),
         |    6) AS cos
         |FROM dots
         |JOIN norms na ON doc_a = na.doc_id
         |JOIN norms nb ON doc_b = nb.doc_id
         |WHERE dot::DOUBLE / (sqrt(na.nsq::DOUBLE) * sqrt(nb.nsq::DOUBLE))
         |  >= $TfCosT
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_decontam" -> decontamOracleSql,
    // D14: the Bloom prefilter is output-invariant (false positives
    // die in the exact verify join, false negatives are impossible),
    // so the oracle IS the exact D9 twin
    "dedup_bloom" -> decontamOracleSql,
    // components via recursive CTE: min reachable id == component min
    // (reachability is symmetric because edges are emitted both ways)
    "dedup_clusters" ->
      s"""WITH RECURSIVE $clustersCoreSql
         |SELECT c.id AS doc_id, c.cluster_id,
         |  (c.id = c.cluster_id)::BIGINT AS is_canonical, cs.n_members
         |FROM comp c JOIN cs USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // D25 twin: same candidate enumeration, same integer bucket
    "dedup_jaccard_hist" ->
      s"""WITH $shinglesSql,
         |sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh
         |          GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*)::BIGINT AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |bk AS (
         |  SELECT (i * 10 // (sa.sz + sb.sz - i))::BIGINT AS bucket
         |  FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id)
         |SELECT bucket, count(*)::BIGINT AS n_pairs
         |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin,
    // D24 twin: the D8 cluster core + the cyclic-next negative rule
    "dedup_training_pairs" ->
      s"""WITH RECURSIVE $clustersCoreSql,
         |canon AS (
         |  SELECT cluster_id AS anchor FROM comp WHERE id = cluster_id),
         |negs AS (
         |  SELECT anchor,
         |    nullif(coalesce(lead(anchor) OVER (ORDER BY anchor),
         |      (SELECT min(anchor) FROM canon)), anchor) AS negative
         |  FROM canon),
         |pos AS (
         |  SELECT cluster_id AS anchor, id AS positive
         |  FROM comp WHERE id <> cluster_id)
         |SELECT p.anchor, p.positive, n.negative
         |FROM pos p JOIN negs n USING (anchor)
         |ORDER BY anchor, positive""".stripMargin)

  /** The D8 near-dup cluster derivation (shingle-jaccard ∪ exact-dup
    * pairs → recursive min-label components) shared by the
    * dedup_clusters and dedup_training_pairs twins. Yields `comp(id,
    * cluster_id)` and `cs(cluster_id, n_members)`. */
  private lazy val clustersCoreSql: String =
    s"""$shinglesSql,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= $JaccardT),
       |hs AS (
       |  SELECT doc_id,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
       |  FROM documents),
       |ex AS (SELECT h, min(doc_id) AS keeper FROM hs GROUP BY h),
       |epairs AS (
       |  SELECT e.keeper AS doc_a, hs.doc_id AS doc_b
       |  FROM hs JOIN ex e USING (h) WHERE hs.doc_id <> e.keeper),
       |allp AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_a, doc_b FROM epairs),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM allp
       |  UNION ALL SELECT doc_b, doc_a FROM allp),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, re.r FROM reach re JOIN edges e ON e.a = re.id),
       |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |cs AS (SELECT cluster_id, count(*) AS n_members FROM comp
       |       GROUP BY cluster_id)""".stripMargin

  /** DuckDB twin of the LSH-blocked embedding dedup: the ±1 plane
    * literals are generated from the SAME MurmurHash3 derivation the
    * Spark side uses (Similarity.planeArray), and both engines
    * accumulate dot products sequentially in double, so bucket signs
    * — and therefore the candidate set — are bit-identical. */
  private def embeddingOracleSql: String = {
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
       |  FROM embeddings),
       |bk AS (
       |${Similarity.lshBucketSqlUnion(EmbTables, EmbBits)}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id)
       |SELECT c.vec_a, c.vec_b,
       |  round(list_dot_product(ea.v, eb.v) / (ea.n * eb.n), 6) AS cos
       |FROM cand c
       |JOIN e ea ON c.vec_a = ea.vec_id
       |JOIN e eb ON c.vec_b = eb.vec_id
       |WHERE ea.n > 0 AND eb.n > 0
       |  AND round(list_dot_product(ea.v, eb.v) / (ea.n * eb.n), 6) >= $EmbCosT
       |ORDER BY vec_a, vec_b""".stripMargin
  }
}
