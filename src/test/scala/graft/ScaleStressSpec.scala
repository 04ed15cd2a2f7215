package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

/** Dedup correctness under heavy duplication: a synthetic corpus with
  * a known duplicate structure (each base doc replicated k times with
  * fresh ids) — the exact shape a crawl corpus has at scale.
  *
  * Tagged Slow (~11 min of the suite's ~33): the driver's test budget
  * is 30 min, so the default `sbt test` excludes Slow specs (see
  * build.sbt); run the FULL suite with SPARK_GRAFT_FULL_TESTS=1. */
@org.scalatest.tags.Slow
class ScaleStressSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  test("exact dedup recovers the known duplicate structure at 20x corpus") {
    import spark.implicits._
    val base = Tables.documents(spark, GraftTestSession.sf)
    val n = base.count()
    val k = 20
    // replicate every doc k times with distinct ids (id + copy*n)
    val big = base.crossJoin(
        spark.range(k).select($"id".as("copy")))
      .select(($"doc_id" + $"copy" * n).as("doc_id"), $"text",
        $"lang", $"source", $"n_chars")
    assert(big.count() == n * k)
    val groups = Dedup.exact(big)
    // every content hash now has exactly k copies (base corpus has no
    // exact dups), keeper = the lowest id (the original)
    assert(groups.count() == n)
    assert(groups.filter($"n_copies" =!= k).count() == 0)
    assert(groups.filter($"keeper_doc_id" >= n).count() == 0)
    // and the deduped corpus is exactly the original size
    assert(Dedup.dedupedCorpus(big).count() == n)
  }

  test("line dedup at 20x replication scrubs every replicated segment") {
    import spark.implicits._
    // every page replicated 20x -> every one of its lines appears in
    // >= 20 distinct docs -> at maxDocs = 1 ALL content lines drop and
    // every doc survives as an empty-text row (the all-dropped path)
    val base = Dedup.chunkedPages(Tables.documents(spark, GraftTestSession.sf))
    val n = base.count()
    val k = 20
    val big = base.crossJoin(spark.range(k).select($"id".as("copy")))
      .select(($"doc_id" + $"copy" * n).as("doc_id"), $"text")
    val out = Dedup.lineDedup(big)
    assert(out.count() == n * k, "one output row per input doc")
    assert(out.filter($"n_removed" =!= $"n_lines").count() == 0,
      "every line of a replicated page must be scrubbed")
    assert(out.filter($"text_clean" =!= "").count() == 0)
  }

  test("dup spans at 20x corpus: every replica fully flagged, cost stays aggregate-shaped") {
    import spark.implicits._
    val base = Tables.documents(spark, GraftTestSession.sf)
    val n = base.count()
    val k = 20
    val big = base.crossJoin(spark.range(k).select($"id".as("copy")))
      .select(($"doc_id" + $"copy" * n).as("doc_id"), $"text")
    val t0 = System.nanoTime()
    val out = Dedup.dupSpans(big).cache()
    // every window of every replicated doc appears in >= 20 docs →
    // dup_ppm = 1e6 for every doc that has windows at all
    assert(out.filter($"n_windows" > 0 && $"dup_ppm" =!= 1000000L)
      .count() == 0)
    assert(out.filter($"n_windows" > 0 && !$"flagged").count() == 0)
    assert(out.count() == n * k, "one row per doc incl. window-less")
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"dup-span stats over ${n * k} docs in $secs%.1f s")
    // no pair join: runtime must stay far under the D2 pair-query
    // cost on the same corpus (~24 s measured in SURVEY §5)
    assert(secs < 20.0, s"aggregate-shaped op too slow: $secs s")
    out.unpersist()
  }

  test("CDC apply at 10M changes / 1M keys: exact state, key-local window cost") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    // synthetic changelog: 10 changes per key, deterministic values;
    // the highest (ts, event_id) per key carries value = key % 1000
    val n = 10_000_000L
    val keys = 1_000_000L
    val big = spark.range(n).select(
      ($"id" % keys).as("user_id"),
      $"id".as("event_id"),
      expr("timestamp_micros(1700000000000000 + (id div 1000000) * " +
        "3600000000 + id % 1000000)").as("ts"),
      expr("CASE WHEN id % 3 = 0 THEN 'update' ELSE 'insert' END")
        .as("event_type"),
      expr("cast(id % 1000 as double)").as("value"))
    val t0 = System.nanoTime()
    val state = graft.operators.Cdc.latestState(big).cache()
    // exactly one row per key
    assert(state.count() == keys)
    // the winner is the max event_id for the key: event_id = key +
    // (nPerKey-1)*keys → value = that id % 1000
    val bad = state.filter(
      expr(s"last_value <> cast((user_id + ${keys * 9}) % 1000 as double)"))
      .count()
    assert(bad == 0, s"$bad keys materialized a non-final value")
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"latest-state over $n%,d changes / $keys%,d keys in $secs%.1f s")
    state.unpersist()
    // SCD2 at the same volume: every key gets one open version and
    // version intervals tile (count check: n rows, keys open)
    val t1 = System.nanoTime()
    val hist = graft.operators.Cdc.scd2(big).cache()
    assert(hist.count() == n)
    assert(hist.filter($"is_current").count() == keys)
    val secs2 = (System.nanoTime() - t1) / 1e9
    info(f"scd2 over $n%,d changes in $secs2%.1f s")
    hist.unpersist()
  }

  test("winnow at 10x corpus: every sufficiently-inked clone clique surfaces, window-pass cost") {
    import spark.implicits._
    val base = Tables.documents(spark, GraftTestSession.sf)
    val n = base.count()
    val k = 10 // keeps per-fingerprint df at 10 ≤ the 20 cap
    val big = base.crossJoin(spark.range(k).select($"id".as("copy")))
      .select(($"doc_id" + $"copy" * n).as("doc_id"), $"text")
    val t0 = System.nanoTime()
    val pairs = Dedup.winnow(big).cache()
    val total = pairs.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // clone pairs: same residue mod n (replicas of one base doc).
    // A base doc with ≥5 selected fingerprints yields its FULL
    // C(k,2) clique; docs too short for 5 fingerprints yield none —
    // so the clone-pair count is a multiple of C(k,2) covering most
    // of the corpus
    val clone = pairs.filter($"doc_a" % n === $"doc_b" % n).count()
    val cliquePairs = k.toLong * (k - 1) / 2
    assert(clone % cliquePairs == 0, s"partial clique: $clone")
    val cliques = clone / cliquePairs
    assert(cliques >= (0.8 * n).toLong,
      s"only $cliques/$n clone cliques surfaced")
    info(f"$total pairs ($cliques cliques) over ${n * k} docs in $secs%.1f s")
    // the window-lead gram hash is one explode + one window pass; the
    // round-9 interpreted-fold form took ~25 s per 500 docs — a
    // regression would blow this bound by an order of magnitude
    assert(secs < 60.0, s"winnow no longer window-pass-shaped: $secs s")
    pairs.unpersist()
  }

  test("BPE training at 20x corpus: merges invariant, counts scale exactly, vocab-bounded time") {
    import spark.implicits._
    val base = Tables.documents(spark, GraftTestSession.sf)
    val n = base.count()
    val k = 20
    val big = base.crossJoin(spark.range(k).select($"id".as("copy")))
      .select(($"doc_id" + $"copy" * n).as("doc_id"), $"text")
    val t0 = System.nanoTime()
    val bigM = graft.operators.TextAnalysis.bpeTrain(big).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    val secs = (System.nanoTime() - t0) / 1e9
    val baseM = graft.operators.TextAnalysis
      .bpeTrain(base.select($"doc_id", $"text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // replication scales every word count by k, so every pair count
    // scales by k and the argmax sequence is IDENTICAL — the merge
    // rounds never touch the corpus, only the vocabulary
    assert(bigM.map(m => (m._1, m._2, m._3)) ==
      baseM.map(m => (m._1, m._2, m._3)), s"$bigM vs $baseM")
    assert(bigM.map(_._4) == baseM.map(_._4 * k),
      "pair counts must scale exactly with replication")
    info(f"4 merges over ${n * k} docs in $secs%.1f s")
    assert(secs < 30.0, s"vocab-bounded training too slow: $secs s")
  }

  test("decontamination flags every replica of an eval doc at 20x corpus") {
    import spark.implicits._
    val base = Tables.documents(spark, GraftTestSession.sf)
    val n = base.count()
    val k = 20
    val evalSet = base.filter($"doc_id" % 50 === 0)
    val train = base.crossJoin(
        spark.range(1, k).select($"id".as("copy")))
      .select(($"doc_id" + $"copy" * n).as("doc_id"), $"text",
        $"lang", $"source", $"n_chars")
    val t0 = System.nanoTime()
    val res = Dedup.decontaminate(train, evalSet).cache()
    assert(res.count() == n * (k - 1))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"decontam over ${n * (k - 1)} docs vs ${n / 50} eval docs: $secs%.1f s")
    // replicas of eval docs are exact copies: every shingle collides,
    // so contam_frac is exactly 1.0 whenever the doc has shingles
    val er = res.filter(pmod($"doc_id", lit(n)) % 50 === 0)
      .filter($"n_shingles" > 0)
    assert(er.count() > 0)
    assert(er.filter($"is_contaminated" =!= 1L || $"contam_frac" =!= 1.0)
      .count() == 0)
    res.unpersist()
  }

  test("near-dup clustering groups every replica with its base at 20x corpus") {
    import spark.implicits._
    val base = Tables.documents(spark, GraftTestSession.sf)
    val n = base.count()
    val k = 20
    val big = base.crossJoin(spark.range(k).select($"id".as("copy")))
      .select(($"doc_id" + $"copy" * n).as("doc_id"), $"text",
        $"lang", $"source", $"n_chars")
    val t0 = System.nanoTime()
    val clusters = Dedup.nearDupClusters(big)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"clustered ${n * k} docs in $secs%.1f s, " +
      s"${clusters.map(_._2).distinct.length} clusters")
    val byDoc = clusters.toMap
    assert(byDoc.size == n * k)
    // identical replicas (jaccard 1.0) must always share their base's
    // cluster; distinct bases may additionally merge via true near-dups
    byDoc.foreach { case (doc, cid) =>
      assert(cid == byDoc(doc % n), s"doc $doc split from base ${doc % n}")
    }
    assert(clusters.map(_._2).distinct.length <= n)
  }

  test("incremental MV merge at 8M-key base: delta-sized cost, recompute parity") {
    import spark.implicits._
    import graft.operators.Cdc
    // 8M keys in the base changelog, then a ~10^3-key delta touching
    // upserts + tombstones + inserts. The merge must (a) equal the
    // full recompute exactly and (b) cost like the DELTA: its
    // wall-clock must beat re-aggregating base+delta from scratch
    // once the base key-state and aggregate are materialized (the
    // C37 run-cost contract at scale).
    val nBase = 8000000L
    val base = spark.range(nBase).select($"id".as("user_id"),
      $"id".as("event_id"), ($"id" % 10000L * 7L).as("cents"),
      ($"id" % 97L === 0L).cast("int").as("del"))
    val delta = spark.range(1000L).select(
      ($"id" * 8000L).as("user_id"),            // spread over base keys
      ($"id" + nBase).as("event_id"),
      ($"id" * 13L % 10000L).as("cents"),
      ($"id" % 5L === 0L).cast("int").as("del")) // some tombstones
      .union(spark.range(500L).select(          // brand-new keys
        ($"id" + nBase * 2L).as("user_id"), ($"id" + nBase + 10000L).as("event_id"),
        lit(4200L).as("cents"), lit(0).as("del")))
    // both contenders read from DISK, as deployed: the incremental
    // path owns a materialized state/agg table, the recompute owns
    // the raw changelog — neither side gets to re-generate its input
    // for free from an in-memory range
    val dir = java.nio.file.Files.createTempDirectory("mv_stress").toString
    base.write.parquet(s"$dir/changelog")
    Cdc.keyState(base).write.parquet(s"$dir/state")
    Cdc.cohortAgg(Cdc.keyState(base)).write.parquet(s"$dir/agg")
    val bState = spark.read.parquet(s"$dir/state")
    val bAgg = spark.read.parquet(s"$dir/agg")
    val changelog = spark.read.parquet(s"$dir/changelog")
    // best-of-2 per path (the Bench protocol): the first run of
    // either pays file-listing + codegen first-touch costs that
    // would otherwise be attributed to whichever path runs first
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val t1 = (System.nanoTime() - t0) / 1e9
      val t2 = System.nanoTime(); f
      (r, math.min(t1, (System.nanoTime() - t2) / 1e9))
    }
    val (merged, tMerge) = timed {
      Cdc.incrAggMerge(bState, bAgg, delta).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    val (full, tFull) = timed {
      Cdc.cohortAgg(Cdc.keyState(changelog.union(delta))).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    assert(merged == full, "merge must equal the full recompute")
    assert(merged.size == 100, s"all cohorts live: ${merged.size}")
    // delta-sized vs corpus-sized: generous 0.9x bar to stay
    // noise-proof on a busy host; typical ratio is far lower
    assert(tMerge < tFull * 0.9,
      f"merge $tMerge%.2fs must beat recompute $tFull%.2fs")
  }

  test("keyed range join handles 10^6 intervals with zero driver materialization") {
    import spark.implicits._
    // 100k keys × 10 intervals each = 10^6 intervals — far past the
    // broadcast guard; only the shuffled per-key variant can run this.
    val nKeys = 100000L
    val iv = spark.range(nKeys * 10).select(
      ($"id" / 10).cast("long").as("k"),
      ($"id" % 10 * 100).as("lo"),
      ($"id" % 10 * 100 + 50).as("hi"))
    // one probe per key at t=125 → falls only in interval j=1 [100,150]
    val pts = spark.range(nKeys).select($"id".as("k2"), lit(125L).as("p"))
    // guard set far below the interval count: a broadcast path would
    // refuse outright, so a green run proves the shuffled exec never
    // takes the interval side to the driver
    spark.conf.set(graft.plans.RangeJoin.BroadcastRowLimitKey, "1000")
    try {
      val joined = graft.plans.RangeJoin.joinKeyed(pts, iv,
        pts("k2"), iv("k"), pts("p"), iv("lo"), iv("hi"))
      assert(joined.count() == nKeys) // exactly one matching interval/key
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledRangeJoin"), plan.take(800))
    } finally spark.conf.unset(graft.plans.RangeJoin.BroadcastRowLimitKey)
  }

  test("embedding LSH blocking at 10^6 vectors: candidate fraction << n^2") {
    import spark.implicits._
    val n = 1000000L
    // deterministic pseudo-random 64-dim vectors in (-0.5, 0.5)
    val vecs = spark.range(n).select(
      $"id".as("vec_id"),
      expr("transform(sequence(0, 63), " +
        "i -> cast(xxhash64(id * 64 + i) % 1000 as double) / 2000.0)")
        .as("v"))
    // bits scales with log2(n): 16 bits → 65536 buckets/table keeps
    // bucket sizes bounded; candidate pairs = Σ C(bucket, 2)
    val buckets = graft.operators.Similarity.lshBuckets(vecs, tables = 2, bits = 16)
    val cands = buckets.groupBy($"t", $"bucket")
      .agg(count(lit(1)).as("c"))
      .agg(sum($"c" * ($"c" - 1)).as("pairs2"), max($"c").as("maxBucket"))
      .collect()(0)
    val pairs = cands.getLong(0) / 2
    val allPairs = n * (n - 1) / 2
    // candidate fraction must be a vanishing share of all-pairs —
    // this is the property that makes the blocked form 100 TB-viable
    assert(pairs > 0)
    assert(pairs.toDouble / allPairs < 1e-3,
      s"candidate fraction ${pairs.toDouble / allPairs} too high " +
        s"($pairs of $allPairs; max bucket ${cands.getLong(1)})")
    info(s"candidates=$pairs of allPairs=$allPairs " +
      f"(fraction ${pairs.toDouble / allPairs}%.2e), " +
      s"max bucket=${cands.getLong(1)}")
  }

  test("fuzzy-key dedup blocks on deletion variants at 10^5 distinct keys") {
    import spark.implicits._
    // 100k random hex keys + 100 planted one-substitution variants
    val base = spark.range(100000)
      .select(substring(md5($"id".cast("string")), 1, 12).as("k"))
    val planted = spark.range(100)
      .select(concat(lit("z"),
        substring(md5($"id".cast("string")), 2, 11)).as("k"))
    val df = base.unionByName(planted)
    val t0 = System.nanoTime()
    val pairs = graft.operators.Dedup.fuzzyKeys(df, "k", maxDist = 1)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // every planted (original, z-variant) pair must be present — the
    // deletion-neighborhood blocking is exact, not approximate
    val got = pairs.map(r => Set(r.getString(0), r.getString(1))).toSet
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (0 until 100).foreach { i =>
      val h = md5hex(i.toString)
      // planted key differs from the base key only in char 1
      assert(got.contains(Set(h.take(12), "z" + h.substring(1, 12))),
        s"missing planted pair #$i")
    }
    assert(pairs.forall(_.getLong(2) <= 1))
    info(f"found ${pairs.length} pairs over 100100 distinct keys in $secs%.1f s")
  }

  test("kmeans-refined IVF at 10^6 vectors: train, assign, probe, full recall") {
    import spark.implicits._
    import graft.operators.Similarity
    val n = 1000000
    val dim = 32
    val vecs = spark.range(n).select($"id".as("vec_id"),
      expr(s"""transform(sequence(0, ${dim - 1}), j ->
              |  cast(xxhash64(id, j) % 1000 as double) / 1000.0)"""
        .stripMargin).as("embedding")).persist()
    try {
      val t0 = System.nanoTime()
      val approx = Similarity.annIvfKmeans(vecs, k = 32, iters = 2, nProbe = 2)
        .select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"1M-vector IVF (train 2 rounds + assign + probe 2/32 cells): $secs%.1f s")
      val exact = Similarity.bruteforce(vecs)
        .select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recall = exact.map { case (q, ex) =>
        (ex intersect approx.getOrElse(q, Set.empty)).size / 3.0
      }.sum / exact.size
      info(f"recall@3 vs exact = $recall%.2f")
      assert(recall >= 0.9, s"direction-regime recall collapsed: $recall")
    } finally vecs.unpersist()
  }

  test("IVF-PQ at 10^6 vectors: twin retrieval through codes-only ADC") {
    import spark.implicits._
    import graft.operators.Similarity
    // Gate design: on blob corpora, the exact top-3 among thousands of
    // cluster-mates is decided by margins at the noise scale — no
    // 16-code quantizer can (or should) resolve that, measured recall
    // there is ~0. The property ADC search is deployed for (near-dup /
    // twin retrieval over compressed codes) IS testable: plant 3
    // near-copies of each query (offset 50× below cluster noise) among
    // 10⁶ vectors in 32 natural clusters; ADC must surface the twins
    // above ~31k same-cluster mates, reading only probed cells' codes.
    val n = 1000000
    val vecs = spark.range(n + 15)
      .select($"id".as("vec_id"),
        expr(s"case when id >= $n then (id - $n) div 3 else id end").as("bid"))
      .select($"vec_id",
        expr(s"""transform(sequence(0, 63), j ->
                |  cast(xxhash64(bid % 32, j) % 1000 as double) / 1000.0
                |  + cast(xxhash64(bid, j) % 1000 as double) / 20000.0
                |  + (case when vec_id >= $n
                |     then cast(xxhash64(vec_id, j) % 1000 as double) / 1000000.0
                |     else 0.0 end))""".stripMargin).as("embedding"))
      .persist()
    try {
      // sanity: exact search finds exactly the 3 planted twins per query
      val exact = Similarity.bruteforce(vecs)
        .select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      (0L until 5L).foreach { q =>
        assert(exact(q) == Set(n + 3 * q, n + 3 * q + 1, n + 3 * q + 2),
          s"exact top-3 of $q is not its twins: ${exact(q)}")
      }
      val t0 = System.nanoTime()
      val approx = Similarity.annIvfPq(vecs, k = 32, iters = 2, nProbe = 4)
        .select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"1M-vector IVF-PQ (train + encode + ADC over 4/32 cells): $secs%.1f s")
      val recall = exact.map { case (q, ex) =>
        (ex intersect approx.getOrElse(q, Set.empty)).size / 3.0
      }.sum / exact.size
      info(f"IVF-PQ twin recall@3 = $recall%.2f")
      // a twin ties a cluster-mate only if all 8 subspace codes
      // collide — rare but possible, and ties break to lower ids, so
      // gate at 0.8 rather than 1.0
      assert(recall >= 0.8, s"twin retrieval through ADC collapsed: $recall")
    } finally vecs.unpersist()
  }

  test("incremental training at 20k docs: delta run beats full recompute, parity holds") {
    import spark.implicits._
    // 4000 near-dup clusters x 5 variants, distinct vocab per cluster
    // (the DF cap never bites -> the incremental equality contract)
    def w(c: Int, j: Int) = s"c${c}w$j"
    def variant(c: Int, v: Int): String =
      ((0 until 40 - v).map(w(c, _)) ++
        (0 until v).map(k => s"d${c}v${v}k$k")).mkString(" ")
    val base = (for { c <- 0 until 4000; v <- 0 until 5 }
      yield ((c * 5 + v).toLong, variant(c, v)))
    // delta: 250 higher-quality near-dups (dethrone 250 keepers) +
    // 250 fresh singletons
    val delta = (0 until 250).map { c =>
      (100000L + c,
        ((0 until 40).map(w(c, _)) ++ (0 until 5).map(k => s"e${c}k$k"))
          .mkString(" "))
    } ++ (0 until 250).map { i =>
      (200000L + i, (0 until 40).map(j => s"s${i}w$j").mkString(" "))
    }
    def mk(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
      .withColumn("n_chars", length($"text"))
    val out = java.nio.file.Files.createTempDirectory("graft_itr20k").toString
    val state = s"$out/state"
    Pipeline.incrementalTraining(spark, mk(base), state, out)
    val t0 = System.nanoTime()
    val rd = Pipeline.incrementalTraining(spark, mk(delta), state, out)
    val tDelta = (System.nanoTime() - t0) / 1e9
    assert(rd.appended == 500 && rd.tombstoned == 250, s"$rd")

    val fullOut = java.nio.file.Files.createTempDirectory("graft_ftr20k").toString
    val t1 = System.nanoTime()
    Pipeline.trainingCorpus(spark, mk(base ++ delta), fullOut)
    val tFull = (System.nanoTime() - t1) / 1e9
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_chars".cast("long"), $"split")
        .as[(Long, Long, String)].collect().toSet
    val inc = rows(Pipeline.trainingSnapshot(spark, out))
    assert(inc == rows(spark.read.parquet(s"$fullOut/corpus")))
    // the point of the delta mode: a 500-doc delta run must not cost a
    // 20.5k-doc recompute (ratio is far larger at real scale; the gap
    // here is bounded by fixed plan overheads)
    assert(tDelta < tFull,
      f"delta run $tDelta%.1f s vs full recompute $tFull%.1f s")

    // CDC-style compaction: corpus becomes the snapshot, tombstones reset
    Pipeline.compactTrainingCorpus(spark, out)
    val M = graft.sources.Lake.Manifest
    assert(M.readPublished(spark, s"$out/tombstones").isEmpty)
    assert(rows(M.readPublished(spark, s"$out/corpus")) == inc)
    assert(rows(Pipeline.trainingSnapshot(spark, out)) == inc)
  }

  test("minhash LSH finds replicated near-identical docs in the 20x corpus") {
    import spark.implicits._
    val base = Tables.documents(spark, GraftTestSession.sf).limit(50)
    // two copies of each doc under different ids → 50 known dup pairs
    val big = base.select($"doc_id", $"text")
      .unionByName(base.select(($"doc_id" + 1000).as("doc_id"), $"text"))
    val pairs = Dedup.minhashLsh(big)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every (d, d+1000) identical pair must be found (jaccard = 1.0)
    (0L until 50L).foreach { d =>
      assert(pairs.contains((d, d + 1000)), s"missing identical pair $d")
    }
  }

  test("exact quantiles at 10^7 rows: histogram bound holds, values match the definition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 10M rows, 8 groups, values uniform over 10k DISTINCT cents —
    // the cumulative window runs over ≤ 10k rows per group no matter
    // the corpus size (the operator's whole point)
    val n = 10000000L
    val df = spark.range(n).select(
      concat(lit("g"), ($"id" % 8)).as("o_orderpriority"),
      (expr("abs(xxhash64(id)) % 10000").cast("double") / 100.0)
        .as("o_totalprice"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_qs").toString
    df.write.parquet(s"$tmp/orders.parquet")
    val t0 = System.nanoTime()
    val got = graft.operators.Relational.quantiles(spark, tmp).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.length == 8)
    // uniform over [0, 9999] cents: type-1 quantiles land within a
    // tight band of p·10000 (law-of-large-numbers at 1.25M rows/group)
    for (r <- got; (p, i) <- Seq(0.25 -> 2, 0.5 -> 3, 0.9 -> 4, 0.99 -> 5)) {
      val v = r.getLong(i)
      assert(math.abs(v - p * 10000) < 100,
        s"${r.getString(0)} p$p = $v drifted from uniform expectation")
    }
    assert(secs < 120, s"10M-row quantiles took ${secs}s")
  }

  test("PageRank at 2x10^6 edges: fixed-point ranks, mass bound, bounded time") {
    import spark.implicits._
    // scale-free-ish synthetic graph: 2M directed edges over 100k
    // nodes, destinations skewed by xxhash64 mod a square so hubs
    // exist (max in-degree ~thousands) — the shape a web graph has
    val edges = spark.range(2000000L).select(
      expr("abs(xxhash64(id)) % 100000").as("src"),
      expr("pmod(abs(xxhash64(id + 7)), 317) * pmod(abs(xxhash64(id + 13)), 317)")
        .as("dst"))
    val t0 = System.nanoTime()
    val ranks = graft.operators.Graph.pageRank(edges, 5)
    val agg = ranks.agg(count(lit(1)), sum($"r"), max($"r")).collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    val (n, total, top) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    info(s"2M-edge PageRank 5 iters: ${secs}s, $n nodes, " +
      s"top rank ${top / 1e12}")
    // every node holds at least the reset mass; total mass can't
    // exceed the dangling-free upper bound n·10^12; hubs must
    // accumulate well above reset
    assert(total >= n * 150000000000L && total <= n * 1000000000000L)
    assert(top > 10L * 1000000000000L, s"no hub accumulated mass: $top")
    assert(secs < 120, s"2M-edge PageRank took ${secs}s")
  }

  test("triangle counting at 10^6 edges: degree orientation keeps wedges bounded") {
    import spark.implicits._
    // random graph, 1M canonical edges over 50k nodes (avg degree
    // 40); the degree-oriented wedge count must stay near the
    // O(E^1.5) bound rather than the hub-quadratic naive count
    val edges = spark.range(1000000L).select(
      expr("abs(xxhash64(id)) % 50000").as("src"),
      expr("abs(xxhash64(id + 3)) % 50000").as("dst"))
    val t0 = System.nanoTime()
    val tri = graft.operators.Graph.triangleCounts(edges)
    val agg = tri.agg(count(lit(1)), sum($"triangles")).collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    info(s"1M-edge triangles: ${secs}s, ${agg.getLong(0)} nodes, " +
      s"${agg.getLong(1)} triangle-incidences")
    assert(agg.getLong(1) > 0, "a 40-avg-degree random graph has triangles")
    assert(secs < 120, s"1M-edge triangle count took ${secs}s")
  }

  test("I30 local clustering at 10^6 edges: planted cliques top the ppm report, one wedge pass") {
    import spark.implicits._
    // 40 planted 8-cliques (clustering exactly 1.0) on a dedicated id
    // range above 10^6 chaff edges over 50k nodes (avg degree 40 —
    // dense enough that no chaff node reaches ppm 10^6). The round-12
    // rewrite runs ONE explode-based wedge pipeline with zero
    // persisted state — this pins the top-k exactness AND that the
    // cold lazy plan stays wedge-bounded at 10^6 edges.
    val cliq = spark.range(40L)
      .select($"id".as("c"), explode(expr("sequence(0, 7)")).as("i"))
      .select($"c", $"i", explode(expr("sequence(0, 7)")).as("j"))
      .filter($"i" < $"j")
      .select(($"c" * 8 + 9000000L).plus($"i").as("src"),
        ($"c" * 8 + 9000000L).plus($"j").as("dst"))
    val chaff = spark.range(1000000L).select(
      expr("abs(xxhash64(id)) % 50000").as("src"),
      expr("abs(xxhash64(id + 3)) % 50000").as("dst"))
    val t0 = System.nanoTime()
    val top = graft.operators.Graph
      .localClusteringOn(cliq.union(chaff), minDeg = 5L, topK = 320)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"1M-edge local clustering in $secs%.1f s, ${top.length} rows")
    // every planted clique node (degree 7, 21 triangles, ppm 10^6)
    // must fill the head of the report
    val cliqueRows = top.filter(_.getLong(0) >= 9000000L)
    assert(cliqueRows.length == 320,
      s"expected all 320 clique nodes on top, got ${cliqueRows.length}")
    assert(cliqueRows.forall(r => r.getLong(3) == 1000000L),
      "planted clique ppm must be exactly 10^6")
    assert(cliqueRows.forall(r => r.getLong(1) == 7L &&
      r.getLong(2) == 21L), "clique degree/triangle math off")
    assert(secs < 120, s"1M-edge clustering took $secs s")
  }

  test("k-truss at 500k edges + 20k-star hub: planted cliques exact, peel rounds bounded") {
    import spark.implicits._
    // 500 planted 12-cliques (66 edges each, every edge support 10)
    // + 450k random chaff edges over a disjoint 1M-node id range
    // (avg degree <1 → almost no triangles, all peeled) + one 20k-
    // edge star hub (zero triangles; degree orientation must keep
    // its wedge count at 0 instead of hub-quadratic)
    val cliq = spark.range(500L)
      .select($"id".as("c"), explode(expr("sequence(0, 11)")).as("i"))
      .select($"c", $"i", explode(expr("sequence(0, 11)")).as("j"))
      .filter($"i" < $"j")
      .select(($"c" * 12 + $"i").as("src"), ($"c" * 12 + $"j").as("dst"))
    val chaff = spark.range(450000L).select(
      (expr("abs(xxhash64(id))") % 1000000L + 100000L).as("src"),
      (expr("abs(xxhash64(id + 7))") % 1000000L + 100000L).as("dst"))
    val star = spark.range(20000L).select(
      lit(5000000L).as("src"), ($"id" + 5000001L).as("dst"))
    val t0 = System.nanoTime()
    val out = graft.operators.Graph
      .ktruss(cliq.union(chaff).union(star), k = 6, rounds = 2)
      .cache()
    val n = out.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"6-truss over ~520k edges in $secs%.1f s, $n surviving edges")
    // exactly the clique edges survive, each with full support 10
    assert(n == 500L * 66L, s"expected 33000 clique edges, got $n")
    assert(out.filter($"support" =!= 10L).count() == 0)
    assert(out.filter($"a" >= 6000L).count() == 0,
      "a chaff or star edge survived the peel")
    out.unpersist()
    // cost model: each peel round is one degree-oriented support
    // pass (O(E^1.5) wedges); the hub and chaff must die in round 1
    // without quadratic wedge work
    assert(secs < 90, s"k-truss peel too slow: $secs s")
  }

  test("basket lift at 200k baskets / 12.8M wedge pairs: planted pair tops, ppm exact") {
    import spark.implicits._
    // 200k baskets × 8 pseudo-random items from a 2k catalog
    // (Σ basket² ≈ 12.8M candidate wedges — the D2-style bound made
    // empirical) + a planted pair in 5k dedicated baskets. Catalog
    // sized so noise items occur ~800× each: the strongest noise
    // pair tops out near lift ≈ 12 while the planted pair sits at
    // exactly 41 — rank 1 by construction, not by luck
    val noise = spark.range(200000L)
      .select($"id".as("o"), explode(expr("sequence(0, 7)")).as("i"))
      .select($"o".as("l_orderkey"),
        (expr("abs(xxhash64(o * 8 + i))") % 2000L).as("l_partkey"))
    val planted = spark.range(5000L)
      .select(($"id" + 1000000L).as("l_orderkey"),
        explode(array(lit(999991L), lit(999992L))).as("l_partkey"))
    val li = noise.union(planted).distinct()
    val nOrders = li.select($"l_orderkey").distinct()
      .agg(count(lit(1)).as("n_orders"))
    val t0 = System.nanoTime()
    val out = graft.operators.Relational.basketLiftOn(li, nOrders).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"basket lift over 205k baskets in $secs%.1f s")
    // the planted pair co-occurs in ALL of its owners' baskets →
    // lift = N / 5000 = 41 exactly (205k baskets), rank 1
    val top = out.head
    assert((top.getLong(0), top.getLong(1)) == ((999991L, 999992L)),
      s"planted pair not top: $top")
    assert(top.getLong(2) == 5000L && top.getLong(7) == 41000000L,
      s"exact ppm broke: $top")
    assert(secs < 60, s"basket lift too slow: $secs s")
  }

  test("cross-corpus dedup at 10x replication: every cross pair found, none within-side") {
    import spark.implicits._
    // standing corpus A = 5 replicas of every base doc, delivery B =
    // 5 more replicas: 25 true cross pairs per base doc, zero
    // within-side pairs may surface. Cost tracks the TRUE cross pair
    // count (the D2 bound side-restricted before the aggregate).
    val base = Tables.documents(spark, GraftTestSession.sf)
      .select($"doc_id", $"text")
    val n = base.count()
    def side(copies: Range, offset: Long) = base.crossJoin(
        spark.range(copies.start, copies.end).select($"id".as("copy")))
      .select(($"doc_id" + $"copy" * n + offset).as("doc_id"), $"text")
    val a = side(0 until 5, 0L)
    val b = side(0 until 5, 10000000L)
    val t0 = System.nanoTime()
    val out = Dedup.crossCorpusDups(a, b).cache()
    val cnt = out.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"cross-corpus over ${10 * n} docs in $secs%.1f s, $cnt pairs")
    // every (a-replica, b-replica) pair of the same base doc at
    // jaccard 1.0 — 25 per base doc with >=1 surviving shingle
    val same = out.filter(($"doc_a" % n) === ($"doc_b" % n))
    val withShingle = same.select(($"doc_a" % n).as("bid")).distinct().count()
    assert(same.count() == withShingle * 25,
      s"expected ${withShingle * 25} replica pairs, got ${same.count()}")
    assert(same.filter($"jaccard" < 1.0).count() == 0,
      "replica pair below jaccard 1.0")
    // pairs across DIFFERENT base docs are the corpus's own planted
    // near-dups; identical text replicas make each base-level pair
    // appear for all 25 replica combos, deterministically
    val crossBase = out.filter(($"doc_a" % n) =!= ($"doc_b" % n))
    val basePairs = crossBase
      .select(($"doc_a" % n).as("x"), ($"doc_b" % n).as("y"))
      .distinct().count()
    assert(crossBase.count() == basePairs * 25,
      s"base near-dup pairs must replicate 25x: ${crossBase.count()} vs $basePairs")
    assert(out.filter($"doc_a" >= 10000000L || $"doc_b" < 10000000L)
      .count() == 0, "side restriction leaked a within-side pair")
    out.unpersist()
    assert(secs < 120, s"cross-corpus dedup too slow: $secs s")
  }

  test("boruvka MSF at 200k edges / 40k nodes: exact Kruskal equality, log-round bound") {
    import spark.implicits._
    val es = spark.range(200000L).select(
        (expr("abs(xxhash64(id))") % 40000L).as("src"),
        (expr("abs(xxhash64(id + 11))") % 40000L).as("dst"),
        (expr("abs(xxhash64(id + 23))") % 1000000L).as("w"))
      .filter($"src" =!= $"dst")
      .localCheckpoint()
    val t0 = System.nanoTime()
    val got = graft.operators.Graph.boruvkaMst(es)
      .as[(Long, Long, Long)].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"boruvka over 200k edges in $secs%.1f s, ${got.size} MSF edges")
    // driver Kruskal under the same (w, a, b) order — exact equality
    val canon = es.as[(Long, Long, Long)].collect()
      .map { case (s, d, w) => (math.min(s, d), math.max(s, d), w) }
      .groupBy(t => (t._1, t._2))
      .map { case ((a, b), v) => (a, b, v.map(_._3).min) }.toSeq
      .sortBy(t => (t._3, t._1, t._2))
    val parent = new Array[Long](40000)
    java.util.Arrays.setAll(parent, (i: Int) => i.toLong)
    def find(x: Long): Long = {
      var r = x; while (parent(r.toInt) != r) r = parent(r.toInt)
      var c = x
      while (parent(c.toInt) != r) {
        val n = parent(c.toInt); parent(c.toInt) = r; c = n
      }
      r
    }
    val kruskal = canon.flatMap { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None
      else { parent(ra.toInt) = rb; Some((a, b, w)) }
    }.toSet
    assert(got == kruskal,
      s"MSF diverged: +${(got -- kruskal).take(3)} -${(kruskal -- got).take(3)}")
    assert(secs < 300, s"boruvka too slow: $secs s")
  }
  test("binary quantization at 10^6 vectors: 8-byte cascade bounded and informative") {
    import spark.implicits._
    import graft.operators.Similarity
    val n = 1000000
    val vecs = spark.range(n).select($"id".as("vec_id"),
      expr("""transform(sequence(0, 63), j ->
              |  cast(xxhash64(id, j) % 1000 as double) / 1000.0)"""
        .stripMargin).as("embedding")).persist()
    try {
      val t0 = System.nanoTime()
      val got = Similarity.annBq(vecs, shortlist = 100).collect()
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"1M-vector BQ (64-bit codes + hamming-100 + rerank): $secs%.1f s")
      assert(got.length == 15, s"5 queries x top-3, got ${got.length}")
      // informativeness: the reranked winners' true cosine must beat
      // the corpus mean by a wide margin (the E20 selection test)
      val meanTop = got.filter(_.getLong(1) == 1L)
        .map(_.getDouble(3)).sum / 5.0
      assert(meanTop > 0.4, s"top-1 mean cosine $meanTop on random corpus")
      assert(secs < 120.0, f"BQ cascade must stay bounded, took $secs%.1f s")
    } finally vecs.unpersist()
  }

  test("rich club at 2x10^6 edges: histogram profile equals the driver replica") {
    import spark.implicits._
    val es = spark.range(2000000L).select(
        concat(lit("n"), (expr("abs(xxhash64(id))") % 40000L).cast("string")).as("src"),
        concat(lit("n"), (expr("abs(xxhash64(id + 7))") % 40000L).cast("string")).as("dst"))
      .filter($"src" =!= $"dst").distinct().localCheckpoint()
    val ks = Seq(1L, 4L, 16L, 64L, 256L)
    val t0 = System.nanoTime()
    val got = graft.operators.Graph.richClub(es, ks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"rich club over ${es.count()} distinct edges in $secs%.1f s")
    // driver replica: exact degrees and min-endpoint counts
    val edges = es.as[(String, String)].collect()
    val deg = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val want = ks.map { k =>
      val nk = deg.valuesIterator.count(_ > k).toLong
      val ek = edges.count { case (a, b) =>
        math.min(deg(a), deg(b)) > k }.toLong
      val phi = if (nk >= 2) 2L * ek * 1000000L / (nk * (nk - 1L))
        else -1L
      (k, nk, ek, phi)
    }
    assert(got.toSeq == want, s"got ${got.toSeq.take(3)}... want ${want.take(3)}...")
  }

  test("pettitt at 10^5 days: telescoped U equals the driver replica, no pair frame") {
    import spark.implicits._
    // one event per day, counts 1..5 cycling, level shift at day 60k
    val nDays = 100000
    val ev = spark.range(nDays.toLong).select($"id".as("d"))
      .withColumn("y", expr("1 + cast(d % 5 as bigint) + " +
        "case when d >= 60000 then 3 else 0 end"))
      .select($"d", explode(expr("sequence(1, y)")).as("j"))
      .select(($"d" * 100 + $"j").as("event_id"), lit(1L).as("user_id"),
        lit("a").as("event_type"),
        expr("to_timestamp('2000-01-01') + make_interval(0, 0, 0, " +
          "cast(d as int), 0, 0, j)").as("ts"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val r = graft.operators.Resilience.pettitt(ev).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"pettitt over $nDays%d days in $secs%.1f s: K=${r.getLong(3)}")
    // driver replica of K via the same V identity
    val ys = (0 until nDays).map(d =>
      1L + d % 5 + (if (d >= 60000) 3L else 0L))
    val freq = ys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sorted = freq.keys.toSeq.sorted
    val less = sorted.scanLeft(0L)((acc, v) => acc + freq(v))
      .zip(sorted).map { case (l, v) => v -> l }.toMap
    val vOf = ys.map(y => 2L * less(y) + freq(y) - nDays)
    var u = 0L; var k = 0L; var tau = -1
    for (t <- 0 until nDays - 1) {
      u -= vOf(t)
      if (math.abs(u) > k) { k = math.abs(u); tau = t }
    }
    assert(r.getLong(3) == k, s"K: ${r.getLong(3)} vs driver $k")
    assert(secs < 120.0, f"pettitt must stay frame-bounded, took $secs%.1f s")
  }

  test("I15 incremental components at 10^6 edges / 1% delta: base+delta == full recompute, delta-scaled cost") {
    import spark.implicits._
    // 10^6 undirected edges over 200k nodes; the ~99% base edges stay
    // INSIDE 10-node cells (so the base labeling has ~20k components),
    // the ~1% delta edges are global (so they genuinely merge
    // components) — the daily CDC edge-feed shape
    val all = spark.range(1000000L).select(
        expr("abs(xxhash64(id)) % 200000").as("src"),
        expr("case when pmod(xxhash64(id, 29L), 100) = 0 " +
          "then abs(xxhash64(id + 3)) % 200000 " +
          "else (abs(xxhash64(id)) % 200000) " +
          "- pmod(abs(xxhash64(id)) % 200000, 10) " +
          "+ abs(xxhash64(id + 3)) % 10 end").as("dst"),
        expr("pmod(xxhash64(id, 29L), 100) = 0").as("is_delta"))
      .localCheckpoint()
    val base = all.filter(!$"is_delta").select($"src", $"dst")
    val delta = all.filter($"is_delta").select($"src", $"dst")
      .localCheckpoint()
    val nDelta = delta.count()
    assert(nDelta > 5000 && nDelta < 20000, s"delta size $nDelta")
    val verts = all.select($"src".as("id")).union(all.select($"dst".as("id")))
    val dir = java.nio.file.Files.createTempDirectory("graft_icc_big").toString
    val t0 = System.nanoTime()
    graft.operators.Graph.publishComponents(base, verts, dir)
    val fullSecs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (nMerges, nNew) =
      graft.operators.Graph.appendComponentDelta(spark, dir, delta)
    val deltaSecs = (System.nanoTime() - t1) / 1e9
    info(f"full publish $fullSecs%.1f s; 1%% delta apply $deltaSecs%.1f s " +
      f"($nMerges merges, $nNew new nodes)")
    // correctness: base+delta labeling == one-shot full recompute
    val want = graft.operators.Graph
      .connectedComponentsAltStar(all, verts)
      .agg(count(lit(1)), countDistinct($"component"),
        sum($"component"), bit_xor(xxhash64($"id", $"component")))
      .collect().head
    val got = graft.operators.Graph.readComponents(spark, dir)
      .agg(count(lit(1)), countDistinct($"component"),
        sum($"component"), bit_xor(xxhash64($"id", $"component")))
      .collect().head
    assert(got == want, s"incremental $got vs full $want")
    assert(nMerges > 0, "the 1% delta should merge at least one component")
    // the whole point of the bridge: applying the delta must cost a
    // fraction of the full recompute (the converge loop runs on the
    // delta-sized component graph only)
    assert(deltaSecs < fullSecs * 0.75,
      f"delta apply $deltaSecs%.1f s did not beat full recompute $fullSecs%.1f s")
  }

  test("I17 incremental triangles at 10^6 edges / 0.1% delta: delta-scaled patch, equal to the full recompute") {
    import spark.implicits._
    // cell-local edges (10-node cells, so triangles are plentiful
    // and every delta edge's common-neighbor probe stays inside one
    // cell); ~0.1% of edges form the delta — the daily feed shape
    val all = spark.range(1000000L).select(
        expr("abs(xxhash64(id)) % 200000").as("src"),
        expr("(abs(xxhash64(id)) % 200000) " +
          "- pmod(abs(xxhash64(id)) % 200000, 10) " +
          "+ abs(xxhash64(id + 3)) % 10").as("dst"),
        expr("pmod(xxhash64(id, 37L), 1000) = 0").as("is_delta"))
      .localCheckpoint()
    val base = all.filter(!$"is_delta").select($"src", $"dst")
    val delta = all.filter($"is_delta").select($"src", $"dst")
      .localCheckpoint()
    val nDelta = delta.count()
    assert(nDelta > 400 && nDelta < 2000, s"delta size $nDelta")
    val dir = java.nio.file.Files.createTempDirectory("graft_itr_big").toString
    val t0 = System.nanoTime()
    graft.operators.Graph.publishTriangles(base, dir)
    val fullSecs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val patched = graft.operators.Graph.appendTriangleDelta(spark, dir, delta)
    val deltaSecs = (System.nanoTime() - t1) / 1e9
    info(f"full publish $fullSecs%.1f s; delta apply $deltaSecs%.1f s " +
      f"($patched patched rows)")
    // delta-scaled: each delta edge touches at most its 10-node cell
    assert(patched > 0 && patched <= nDelta * 10,
      s"patch exploded: $patched rows for $nDelta delta edges")
    // equality with the one-shot full recompute
    val want = graft.operators.Graph
      .triangleCounts(all.select($"src", $"dst"))
      .agg(count(lit(1)), sum($"triangles"),
        bit_xor(xxhash64($"node", $"triangles")))
      .collect().head
    val got = graft.operators.Graph.readTriangles(spark, dir)
      .agg(count(lit(1)), sum($"triangles"),
        bit_xor(xxhash64($"node", $"triangles")))
      .collect().head
    assert(got == want, s"incremental $got vs full $want")
    // the delta apply must not approach the full recompute's cost
    assert(deltaSecs < fullSecs,
      f"delta apply $deltaSecs%.1f s did not beat full $fullSecs%.1f s")
  }

  test("I16 incremental PageRank at 10^6 edges: cone-bounded delta apply, bit-equal to the full recompute") {
    import spark.implicits._
    // cell-local base edges (out-neighborhoods stay inside 10-node
    // cells, so the affected cone of a delta is the cells it touches,
    // not the graph); ~0.05% of edges are global and form the delta
    val all = spark.range(1000000L).select(
        expr("abs(xxhash64(id)) % 200000").as("src"),
        expr("case when pmod(xxhash64(id, 31L), 2000) = 0 " +
          "then abs(xxhash64(id + 3)) % 200000 " +
          "else (abs(xxhash64(id)) % 200000) " +
          "- pmod(abs(xxhash64(id)) % 200000, 10) " +
          "+ abs(xxhash64(id + 3)) % 10 end").as("dst"),
        expr("pmod(xxhash64(id, 31L), 2000) = 0").as("is_delta"))
      .localCheckpoint()
    val base = all.filter(!$"is_delta").select($"src", $"dst")
    val delta = all.filter($"is_delta").select($"src", $"dst")
      .localCheckpoint()
    val nDelta = delta.count()
    assert(nDelta > 200 && nDelta < 2000, s"delta size $nDelta")
    val dir = java.nio.file.Files.createTempDirectory("graft_ipr_big").toString
    val t0 = System.nanoTime()
    graft.operators.Graph.publishPageRank(base, dir)
    val fullSecs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val patched = graft.operators.Graph.appendPageRankDelta(spark, dir, delta)
    val deltaSecs = (System.nanoTime() - t1) / 1e9
    val nNodes = 200000L
    info(f"full publish $fullSecs%.1f s; delta apply $deltaSecs%.1f s " +
      f"($patched patched rows over 5 iters, " +
      f"${patched * 100.0 / (5 * nNodes)}%.1f%% of the state)")
    // cone-bounded: the patch log must stay a small fraction of the
    // full 5-iteration state
    assert(patched > 0 && patched < nNodes * 5 / 4,
      s"cone exploded: $patched patched rows")
    // bit-equality with the one-shot full recompute
    val want = graft.operators.Graph
      .pageRank(all.select($"src", $"dst"), 5)
      .agg(count(lit(1)), sum($"r"), bit_xor(xxhash64($"node", $"r")))
      .collect().head
    val got = graft.operators.Graph.readPageRank(spark, dir)
      .agg(count(lit(1)), sum($"r"), bit_xor(xxhash64($"node", $"r")))
      .collect().head
    assert(got == want, s"incremental $got vs full $want")
  }

  test("E33 split of the dominant hot cell at 2x10^5 vectors: cell-local cost beats the rebuild, blobs separate exactly, cold cell untouched") {
    import spark.implicits._
    import graft.operators.Similarity
    val M = graft.sources.Lake.Manifest
    // 200k vectors, three separated blobs: A (30k at +10x) and
    // B (30k at +10y) land in ONE trained cell at k=2; C (140k at
    // −10x) gets its own. The merged 60k cell is the hot-cell shape
    // a streamed index develops.
    val vecs = spark.range(200000L).select($"id".as("vec_id"),
      expr("""case
        |  when id < 30000 then
        |    array(10.0 + 0.00001 * id, 0D, 0D, 0D, 0D, 0D, 0D, 0D)
        |  when id < 60000 then
        |    array(0D, 10.0 + 0.00001 * id, 0D, 0D, 0D, 0D, 0D, 0D)
        |  else array(-10.0 - 0.00001 * id, 0D, 0D, 0D, 0D, 0D, 0D, 0D)
        |end""".stripMargin).as("embedding")).localCheckpoint()
    val d = java.nio.file.Files.createTempDirectory("graft_split_scale")
      .toString
    val t0 = System.nanoTime()
    Similarity.buildIvfPqIndex(vecs, d, k = 2, iters = 2,
      pqM = 2, pqK = 4)
    val publishSecs = (System.nanoTime() - t0) / 1e9
    // k=2 over three blobs always merges two of them: the hot cell
    // is the larger one (which pair merges depends on the trained
    // local optimum — derive it, don't assume it)
    val blobOf = when($"vec_id" < 30000L, "A")
      .when($"vec_id" < 60000L, "B").otherwise("C")
    val sizes = Similarity.ivfCellSizes(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hot = sizes.maxBy(t => (t._2, t._1))._1
    val hotBlobs = M.readPublished(spark, s"$d/codes")
      .filter($"cell" === hot).select(blobOf.as("b"))
      .distinct().as[String].collect().toSet
    assert(hotBlobs.size == 2, s"hot cell should merge 2 blobs: $hotBlobs")
    val coldCells = (sizes.keySet - hot).map(_.toString).toSeq
    val coldFiles = M.readPublishedPruned(spark, s"$d/codes", "cell",
      coldCells).inputFiles.toSet
    val t1 = System.nanoTime()
    val newId = Similarity.splitIvfCell(spark, d, vecs, hot)
    val splitSecs = (System.nanoTime() - t1) / 1e9
    info(f"publish(200k) $publishSecs%.1f s; split of the hot cell " +
      f"$splitSecs%.1f s")
    assert(newId >= 0)
    // the STRUCTURAL cell-locality gate is the cold-file check below;
    // this wall-clock compare only guards against a full-rebuild
    // regression, so it carries a 2x margin for shared-host noise
    // (observed: 2.1 s vs 1.8 s under a concurrently loaded host)
    assert(splitSecs < publishSecs * 2,
      f"split must be cell-local: $splitSecs%.1f vs $publishSecs%.1f")
    // deterministic 2-means on separated blobs: each child is PURE
    // (one blob per child, every member accounted for)
    val purity = M.readPublished(spark, s"$d/codes")
      .filter($"cell".isin(hot, newId))
      .select($"cell", blobOf.as("blob"))
      .groupBy($"cell").agg(countDistinct($"blob").as("nb"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val wantSizes = hotBlobs.map(b =>
      if (b == "C") 140000L else 30000L)
    assert(purity.map(_._1).forall(_ == 1L) &&
      purity.map(_._2).toSet == wantSizes,
      s"children must separate the blobs exactly: ${purity.toSeq}")
    // cold cell files byte-untouched; row conservation
    val coldNow = M.readPublishedPruned(spark, s"$d/codes", "cell",
      coldCells).inputFiles.toSet
    assert(coldFiles.subsetOf(coldNow), "cold cell rewritten")
    assert(M.readPublished(spark, s"$d/codes").count() == 200000L)
    // serve end-to-end after the split: query at the center of the
    // SMALLER merged blob (the one the split just isolated)
    val small = (hotBlobs - "C").headOption.getOrElse("A")
    val (qv, lo, hi) =
      if (small == "A") (Array(10.0001, 0, 0, 0, 0, 0, 0, 0), 0L, 30000L)
      else (Array(0.0, 10.0001, 0, 0, 0, 0, 0, 0), 30000L, 60000L)
    val q = Seq((900000L, qv)).toDF("q_id", "qv")
    val top1 = Similarity.queryIvfPqIndex(spark, d, q, nProbe = 2)
      .filter($"rank" === 1).collect().head.getLong(2)
    assert(top1 >= lo && top1 < hi, s"post-split serve off-blob: $top1")
  }

  test("G31 tar walk at a 20k-member shard: one pass, exact offsets, bounded time") {
    import spark.implicits._
    // one ~34 MB archive with 20k 1-KiB members — the walk must be a
    // single linear byte pass (512-byte header hops), never quadratic
    val n = 20000
    val bos = new java.io.ByteArrayOutputStream(40 << 20)
    def put(h: Array[Byte], v: String, off: Int): Unit = {
      val b = v.getBytes("US-ASCII")
      System.arraycopy(b, 0, h, off, b.length)
    }
    val data = Array.fill[Byte](1024)('x')
    (0 until n).foreach { i =>
      val h = new Array[Byte](512)
      put(h, f"m$i%05d.bin", 0)
      put(h, "0000644", 100); put(h, "0000000", 108)
      put(h, "0000000", 116); put(h, f"${1024}%011o", 124)
      put(h, "00000000000", 136); h(156) = '0'
      put(h, "ustar", 257); put(h, "00", 263)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var s = 0; var k = 0
      while (k < 512) { s += h(k) & 0xff; k += 1 }
      put(h, f"$s%06o", 148); h(154) = 0; h(155) = ' '
      bos.write(h); bos.write(data)
    }
    bos.write(new Array[Byte](1024))
    val shard = bos.toByteArray
    val t0 = System.nanoTime()
    val got = Seq((0L, shard)).toDF("doc_id", "payload")
      .select(explode(graft.functions.TarWalk.tarMembers($"payload"))
        .as("m"))
      .select($"m.entry_idx", $"m.offset", $"m.size")
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"20k-member walk: $secs%.2f s")
    assert(got.length == n)
    // every offset is the closed-form 1536·i + 512
    assert(got.forall(r =>
      r.getLong(1) == 1536L * r.getLong(0) + 512L && r.getLong(2) == 1024L))
    assert(secs < 30, s"20k-member walk took ${secs}s")
  }

  test("E37 cell-pruned kNN graph at 10^5 vectors: n^2/k candidate cut holds") {
    import spark.implicits._
    // 100k dim-8 vectors in 256 well-separated shells; the same-cell
    // pair count must track sum(|cell|^2) ~ n^2/k, not n^2
    val vecs = spark.range(100000L).select($"id".as("vec_id"),
      expr("""transform(sequence(0, 7), j ->
        |  cast(CASE WHEN j = cast(id % 8 as int)
        |    THEN 10.0 + double(id % 97) / 97.0
        |    ELSE double((id * 31 + j * 17) % 100) / 1000.0
        |  END as float))""".stripMargin).as("embedding"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val g = graft.operators.Similarity.knnGraphIvf(vecs, cells = 64,
      iters = 1)
    val rows = g.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"100k-vector cell-pruned graph: $secs%.1f s, $rows rows")
    assert(rows > 0)
    // n^2 would be 10^10 pair dots — tens of minutes even unloaded;
    // the pruned build must land in the n^2/k regime. Bound sized for
    // a full-suite run sharing the host with the 2M-edge graph
    // stresses (46 s quiet, 184 s measured under suite load) — the
    // regime gap to n^2 stays >3x either way.
    assert(secs < 300, s"cell-pruned graph took ${secs}s")
  }

  test("I20 HITS at 2x10^6 edges: per-iteration cost bounded, scores sane") {
    import spark.implicits._
    val edges = spark.range(2000000L).select(
      concat(lit("s"), expr("abs(xxhash64(id)) % 50000")).as("src"),
      concat(lit("c"), expr("abs(xxhash64(id + 7)) % 50000")).as("dst"))
    val t0 = System.nanoTime()
    val h = graft.operators.Graph.hits(edges, 3)
    val agg = h.agg(count(lit(1)), max($"hub_fp"), max($"auth_fp"))
      .collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"2M-edge HITS(3): $secs%.1f s, ${agg.getLong(0)} nodes")
    // L-inf renorm pins the top node at exactly 10^6 on both sides
    assert(agg.getLong(1) == 1000000L && agg.getLong(2) == 1000000L)
    assert(secs < 180, s"2M-edge HITS took ${secs}s")
  }

  test("G38 fmp4 walk at a 10k-fragment asset: one linear pass, exact offsets") {
    import spark.implicits._
    // a DASH-recording-shaped asset: 10k fragments x 4 samples, all
    // sizes/durations from trex defaults (the CMAF steady state) — the
    // walk must hop moof->mdat linearly, never rescan
    val nF = 10000
    val spc = 4 // samples per fragment
    val dsz = 32
    // trun: 24 fixed bytes (data_offset + first_sample_flags, no
    // per-sample fields); moof = 8+16+8+16+20+24 = 92; mdat = 8+128
    val fragBytes = 92 + 8 + spc * dsz
    val bb = java.nio.ByteBuffer.allocate(68 + nF * fragBytes)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def box(size: Int, typ: String): Unit = {
      bb.putInt(size); bb.put(typ.getBytes("US-ASCII")); ()
    }
    box(20, "styp")
    bb.put("msdh".getBytes("US-ASCII")).putInt(0)
      .put("msdh".getBytes("US-ASCII"))
    box(48, "moov"); box(40, "mvex"); box(32, "trex")
    bb.putInt(0).putInt(1).putInt(1).putInt(1000).putInt(dsz)
      .putInt(0x00010000)
    var f = 0
    while (f < nF) {
      box(92, "moof")
      box(16, "mfhd"); bb.putInt(0).putInt(f + 1)
      box(68, "traf")
      box(16, "tfhd"); bb.putInt(0x020000).putInt(1)
      box(20, "tfdt"); bb.putInt(0x01000000).putLong(f * 4000L)
      box(24, "trun"); bb.putInt(0x01 | 0x04).putInt(spc)
        .putInt(100).putInt(0x02000000)
      box(8 + spc * dsz, "mdat")
      var b = 0
      while (b < spc * dsz) { bb.put('x'.toByte); b += 1 }
      f += 1
    }
    val asset = bb.array()
    val t0 = System.nanoTime()
    val got = Seq(Tuple1(asset)).toDF("payload")
      .select(explode(graft.functions.Mp4Frag
        .mp4FragSamples($"payload")).as("m"))
      .select($"m.seq", $"m.sample_idx", $"m.file_offset", $"m.dts")
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"10k-fragment walk: $secs%.2f s, ${got.length} samples")
    assert(got.length == nF * spc)
    // closed-form: fragment f starts at 68 + f*fragBytes; data_offset
    // 100 from moof start; sample i at +i*dsz; dts = f*4000 + i*1000
    assert(got.forall { r =>
      val fr = r.getLong(0) - 1; val i = r.getLong(1)
      r.getLong(2) == 68 + fr * (92 + 8 + spc * dsz) + 100 + i * dsz &&
        r.getLong(3) == fr * 4000L + i * 1000L
    })
    assert(secs < 30, s"10k-fragment walk took ${secs}s")
  }

  test("I24 landmark betweenness at 10^6 edges: K-landmark cost, not all-pairs") {
    import spark.implicits._
    // 10^6 edges over 2x10^5 nodes; 3 landmarks, radius 2 — the cost
    // model is K frontier joins + K backward level joins, so the wall
    // clock must sit in the q_harmonic class, nowhere near all-pairs
    val edges = spark.range(1000000L).select(
      concat(lit("n"), expr("abs(xxhash64(id)) % 200000")).as("src"),
      concat(lit("n"), expr("abs(xxhash64(id + 13)) % 200000")).as("dst"))
    val seeds = Seq("n0", "n1", "n2").toDF("seed")
    val t0 = System.nanoTime()
    val bw = graft.operators.Graph.landmarkBetweenness(edges, seeds, 3)
    val agg = bw.agg(count(lit(1)), sum($"bw")).collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"1M-edge 3-landmark betweenness(r=3): $secs%.1f s, " +
      f"${agg.getLong(0)} nodes scored")
    // mean sym-degree 10 → per-seed reach ~deg^r (coverage grows with
    // the radius, cost with the sym-frame joins — the bound under
    // test is the COST)
    assert(agg.getLong(0) > 2000L, "BFS failed to expand")
    assert(agg.getDouble(1) > 0.0)
    assert(secs < 240, s"1M-edge betweenness took ${secs}s")
  }

  test("I25 louvain at 2.2x10^6 edges: planted blocks dominate modularity, sweep-shaped cost") {
    import spark.implicits._
    // 100k nodes in 2000 planted blocks of 50: 20 intra-block edges
    // per node + 2 inter-block noise edges (~91% intra) — the shape
    // community detection exists for. Per-sweep cost is a handful of
    // sym-frame-sized keyed joins (no pair enumeration), so 2 sweeps
    // at 2.2M directed edges must sit in the PageRank class.
    val edges = spark.range(100000L).crossJoin(
        spark.range(22L).select($"id".as("j")))
      .select($"id".as("src"),
        when($"j" < 20,
          ($"id" - $"id" % 50) +
            ($"id" + 1 + ($"id" * ($"j" + 2)) % 49) % 50)
          .otherwise(expr("abs(xxhash64(id * 31 + j)) % 100000"))
          .as("dst"))
      .filter($"src" =!= $"dst")
    val t0 = System.nanoTime()
    val comm = graft.operators.Graph.louvainMoves(edges, sweeps = 2)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val q = comm.head.getDouble(5)
    info(f"2.2M-edge louvain 2 sweeps: $secs%.1f s, q_total=$q%.4f, " +
      s"top community ${comm.head.getLong(1)} nodes")
    // with 91% intra-block edges the move sweeps must find strong
    // structure; a label-less or degenerate pass scores ~0
    assert(q > 0.2 && q <= 1.0, s"modularity out of range: $q")
    assert(comm.head.getLong(1) >= 10L,
      "top community failed to coalesce a planted block")
    assert(secs < 240, s"2.2M-edge louvain took ${secs}s")
  }

  test("I26 random walks at 2x10^6 edges: every hop a real edge, frontier-join cost") {
    import spark.implicits._
    // the PageRank stress graph (2M directed edges, hub-skewed); 500
    // seeds, 4 hops. Cost shape under test: the adjacency builds ONCE
    // (one window), then each hop is ONE frontier-sized equi-join —
    // wall clock must not scale with steps x corpus.
    val edges = spark.range(2000000L).select(
      expr("abs(xxhash64(id)) % 100000").as("src"),
      expr("pmod(abs(xxhash64(id + 7)), 317) * pmod(abs(xxhash64(id + 13)), 317)")
        .as("dst"))
    val seeds = spark.range(500L).select($"id".as("node"))
    val t0 = System.nanoTime()
    val walks = graft.operators.Graph.randomWalks(edges, seeds, steps = 4)
      .cache()
    val n = walks.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // every surviving walk has exactly steps+1 rows, steps 0..4
    val perWalk = walks.groupBy($"walk_id")
      .agg(count(lit(1)).as("n"), max($"step").as("mx"))
    assert(perWalk.filter($"n" =!= 5 || $"mx" =!= 4).count() == 0,
      "a walk lost steps mid-stream")
    val nWalks = perWalk.count()
    assert(n == nWalks * 5, s"$n rows for $nWalks walks")
    assert(nWalks >= 490, s"only $nWalks of 500 seeds had edges")
    // every consecutive (cur -> next) hop is a real symmetric edge
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst"))).distinct()
    val hops = walks.as("w")
      .join(walks.as("x"), $"w.walk_id" === $"x.walk_id" &&
        $"w.step" + 1 === $"x.step")
      .select($"w.node".as("src"), $"x.node".as("dst"))
    assert(hops.join(sym, Seq("src", "dst"), "left_anti").count() == 0,
      "a walk hopped along a non-edge")
    info(f"2M-edge 500-seed 4-hop walks: $secs%.1f s, $nWalks walks")
    assert(secs < 180, s"2M-edge random walks took ${secs}s")
    walks.unpersist()
  }

  test("I27 adamic-adar at 2x10^6 edges: planted pair tops, wedge frame degree-bounded") {
    import spark.implicits._
    // 2M directed edges over 200k nodes (bounded sym degree ~20 →
    // the wedge frame is Σd²/2 ≈ 4x10^7, the aggregate-shaped cost
    // the operator is designed around) + a PLANTED non-edge pair
    // (500000, 500001) sharing exactly 200 hub neighbors — it must
    // out-score every organic pair
    val noise = spark.range(2000000L).select(
      expr("abs(xxhash64(id)) % 200000").as("u"),
      expr("abs(xxhash64(id + 5)) % 200000").as("v"))
    val planted = spark.range(200L).select($"id".as("hub"))
      .select(explode(array(lit(500000L), lit(500001L))).as("u"),
        $"hub".as("v"))
    val canon = noise.union(planted)
      .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
      .filter($"a" =!= $"b").distinct()
    val t0 = System.nanoTime()
    val top = graft.operators.Graph.adamicAdar(canon, topK = 10).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"2M-edge adamic-adar: $secs%.1f s, top=" +
      s"(${top.head.getLong(0)},${top.head.getLong(1)}) " +
      s"cn=${top.head.getLong(2)}")
    assert((top.head.getLong(0), top.head.getLong(1)) ==
      ((500000L, 500001L)), "planted pair did not top the ranking")
    assert(top.head.getLong(2) == 200L,
      s"planted common-neighbor count off: ${top.head.getLong(2)}")
    assert(secs < 240, s"2M-edge adamic-adar took ${secs}s")
  }
}
