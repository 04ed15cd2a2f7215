package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Distributed graph primitives needed by the dedup pipeline
  * (SURVEY.md §2.D8): near-dup PAIRS are only half the job — a
  * training pipeline must group pairs into duplicate CLUSTERS and keep
  * one canonical document per cluster.
  *
  * Implementation is min-label propagation over DataFrames: each round
  * every vertex takes the min label among itself and its neighbors
  * (one equi-join + one aggregate, both plain shuffles on the vertex
  * id — no driver-side graph state, so it runs at any vertex count).
  * Rounds needed = graph diameter. Near-dup graphs are near-cliques
  * around a common source document (diameter ≤ ~3 in every corpus we
  * measured), so this converges in 2-4 rounds. For adversarial
  * long-path graphs the alternating large-star/small-star scheme of
  * Kiveris et al., "Connected Components in MapReduce and Beyond"
  * (SoCC 2014) converges in O(log²) rounds — the documented upgrade
  * path if a workload ever shows deep components.
  */
object Graph {

  /** Lineage truncation for iterative loops: reliable `checkpoint()`
    * when the session has a checkpoint dir configured (the cluster
    * posture — survives executor loss), `localCheckpoint()` otherwise
    * (test/local posture — faster, blocks die with executors).
    * The reliable path persists before checkpointing — `checkpoint()`
    * alone computes the plan TWICE (once for its eager count, once
    * when writing the checkpoint files) — and un-persists afterwards.
    * Reliable-dir sessions should also set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
    * superseded per-round checkpoint files are garbage-collected. */
  private def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val cached = df.persist()
      val out = cached.checkpoint()
      cached.unpersist()
      out
    } else df.localCheckpoint(eager = false)
    // eager = false: the plan is truncated to a LogicalRDD either way,
    // but the materialization job is DEFERRED into whatever action
    // consumes the frame next (the RDD is checkpoint-marked, so it is
    // still computed exactly once and cached). Iterative operators
    // call truncate once or twice per round; the eager variant paid
    // one extra Spark job + driver round-trip per call — measured
    // ~40% of q_hits/q_bfs_hops wall at sf0.1 was these
    // materialization jobs' scheduling, not their tasks.

  /** Force a lazily-truncated frame's checkpoint chain to compute NOW
    * (one job), while any persisted inputs the chain references are
    * still cached. Operators that persist() their edge/degree frames
    * and unpersist() them on exit MUST call this on the frame they
    * return: a lazy checkpoint materialized only by the caller's
    * first action would otherwise recompute the whole iterative
    * lineage with the caches gone — once per reference per round.
    * No-op in the reliable-checkpoint posture (truncate is eager
    * there). The count runs over a LogicalRDD-rooted plan, so no
    * column pruning can skip the checkpoint computation. */
  private def materialize(df: DataFrame): DataFrame = {
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.count()
    df
  }

  /** Cache for LOOP-INVARIANT inputs (edge lists, degree frames) that
    * every iteration re-reads. Local posture: a lazy localCheckpoint —
    * raw UnsafeRow block cache. The InMemoryRelation `persist()` used
    * before measured 15-20 µs/row on string-keyed edge frames (columnar
    * encode on write + decode on EVERY per-iteration scan — the
    * dominant per-iteration cost in pageRank/hits at sf0.1), where the
    * checkpoint-RDD scan is a plain row copy; its plans also feed AQE
    * partition coalescing where scans of the 32-partition cache did
    * not. Cluster posture (checkpoint dir set): plain persist() — a
    * reliable checkpoint would force a full disk write of the edge
    * list, which a cache must not. Callers keep their unpersist()
    * pairing (a no-op on the local branch) and MUST materialize()
    * any lazily-truncated result before unpersisting. */
  private def stash(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.persist()
    else df.localCheckpoint(eager = false)

  /** Connected components of an undirected graph.
    *
    * Each round truncates lineage (see [[truncate]]): the round's plan
    * references the previous labels twice (union + join), so without
    * truncation the logical tree — and Spark's un-shared
    * plan-description string — grows exponentially with rounds and
    * downstream composition hangs in plan stringification long before
    * any data moves. Truncation keeps every plan one round deep.
    *
    * @param edges    (src, dst) pairs, either orientation, duplicates ok
    * @param vertices (id) — every vertex, including isolated ones;
    *                 duplicates are collapsed, and edge endpoints
    *                 missing from `vertices` are labeled anyway
    * @return (id, component) where component = min vertex id reachable
    *         (checkpoint-backed: one row per vertex, no propagation
    *         lineage attached)
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      maxIter: Int = 25): DataFrame = {
    import edges.sparkSession.implicits._
    // persist the symmetric edge list: every round joins against it,
    // and without the cache each round would recompute the whole
    // upstream pair-generation pipeline (measured 4x the operator cost
    // on the near-dup clustering path)
    val sym = stash(edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst"))))
    // FRONTIER-optimized propagation: only vertices whose label
    // improved last round re-send. Round 1 sends everything; on the
    // near-clique graphs this operator targets, the frontier then
    // collapses to the few boundary vertices, so rounds 2+ shuffle a
    // shrinking fraction of the graph instead of every label again.
    val ids = vertices.select($"id")
      .union(sym.select($"src".as("id")))
      .distinct()
    var labels = truncate(ids.select($"id", $"id".as("label")))
    var frontier = labels
    var active = 1L
    var iter = 0
    while (active > 0 && iter < maxIter) {
      val msgs = sym.join(frontier.withColumnRenamed("id", "src"), "src")
        .select($"dst".as("id"), $"label".as("cand"))
      val improved = truncate(msgs.groupBy($"id").agg(min($"cand").as("cand"))
        .join(labels, "id").filter($"cand" < $"label")
        .select($"id", $"cand".as("label")))
      active = improved.count()
      if (active > 0) {
        labels = truncate(labels.join(
            improved.withColumnRenamed("label", "better"), Seq("id"), "left")
          .select($"id", coalesce($"better", $"label").as("label")))
        frontier = improved
      }
      iter += 1
    }
    sym.unpersist()
    require(active == 0, s"connectedComponents did not converge in " +
      s"$maxIter rounds — component diameter exceeds the near-dup " +
      "regime; use connectedComponentsAltStar for deep graphs")
    labels.select($"id", $"label".as("component"))
  }

  /** Connected components by the ALTERNATING large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014): each round rewires every node toward its
    * neighborhood minimum, converging in O(log²) rounds regardless of
    * component DIAMETER — the variant for deep graphs (paths, linked
    * chains) where min-label propagation's diameter-many rounds are
    * intractable. Same contract as [[connectedComponents]]; each round
    * is two grouped-min aggregates + joins, all shuffles on node ids,
    * no driver-side graph state. Fixpoint is detected by an edge-set
    * signature (count + hash sum), one tiny aggregate per round.
    *
    * For near-dup clustering the propagation variant is faster (those
    * graphs are near-cliques, 2-4 rounds); this one is the general-
    * graph fallback — equivalence on random graphs is property-tested
    * in GraphSpec. */
  def connectedComponentsAltStar(edges: DataFrame, vertices: DataFrame,
      maxIter: Int = 50): DataFrame = {
    import edges.sparkSession.implicits._

    // canonical working set: (a, b) with a > b, no self-loops, distinct
    var e = truncate(edges
      .select(greatest($"src", $"dst").as("a"), least($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct())
    val e0 = e // initial edge set (checkpointed): endpoint universe

    def largeStar(es: DataFrame): DataFrame = {
      val sym = es.select($"a".as("u"), $"b".as("v"))
        .union(es.select($"b".as("u"), $"a".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      // connect every strictly-larger neighbor to the neighborhood min:
      // v > u >= m, so the (a > b) canonical form is preserved
      sym.join(mins, "u").filter($"v" > $"u")
        .select($"v".as("a"), $"m".as("b")).distinct()
    }

    def smallStar(es: DataFrame): DataFrame = {
      // each edge assigned to its larger endpoint; m = min of the
      // strictly-smaller neighborhood (all v < u here)
      val mins = es.groupBy($"a").agg(min($"b").as("m"))
      val nbrs = es.join(mins, "a").filter($"b" =!= $"m")
        .select($"b".as("a"), $"m".as("b"))
      val self = mins.select($"a", $"m".as("b"))
      nbrs.union(self).filter($"a" =!= $"b").distinct()
    }

    def signature(es: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and overflow-free under ANSI mode
      // (a hash SUM overflows Long on large edge sets)
      val r = es.agg(count(lit(1)),
        bit_xor(xxhash64($"a", $"b"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = truncate(smallStar(largeStar(e)))
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      e = next
      iter += 1
    }
    require(converged,
      s"alternating-star did not converge in $maxIter rounds")
    // fixpoint = disjoint stars centered at component minima: every
    // non-root appears exactly once as `a`, pointing at its root.
    // Same vertex contract as connectedComponents: duplicates
    // collapsed, edge-only endpoints labeled.
    vertices.select($"id")
      .union(e0.select($"a".as("id")))
      .union(e0.select($"b".as("id")))
      .distinct()
      .join(e.select($"a".as("id"), $"b".as("c")), Seq("id"), "left")
      .select($"id", coalesce($"c", $"id").as("component"))
  }

  // ---------------------------------------------------------------
  // I15 INCREMENTAL connected components — the C×I bridge: an
  // edge-delta CDC feed maintains the component labeling WITHOUT
  // recomputing the graph. Mirrors the E9 frozen-state + delta-apply
  // shape: the labeling is a Lake.Manifest-published table plus an
  // append-only REMAP log (old_component → new_component); every
  // delta batch is ONE atomic manifest commit per table, and readers
  // resolve labels through the pointer-doubled remap closure (the
  // Pipeline remap-chain machinery, reused). Append cost scales with
  // the DELTA: the alternating-star re-convergence runs only on the
  // delta-sized component graph (touched components), never the
  // corpus; the only full-frame contact is one equi-join probing the
  // delta endpoints' base labels — broadcast-delta, zero shuffle of
  // the label frame, and pruned further if labels are published
  // partitioned. Correctness: labels are component-min node ids, and
  // a merge maps every absorbed label to the strictly smaller min —
  // so the log is acyclic by construction and base+deltas equals the
  // full recompute bit-for-bit (GraphSpec; 10⁶-edge/1% delta
  // ScaleStressSpec with measured delta-scaled cost).
  // ---------------------------------------------------------------

  import graft.sources.Lake

  /** Publish the component labeling of `edges` ∪ `vertices` under
    * `dir` as the incremental-maintenance base state: `dir/labels`
    * (id, component) and an empty `dir/remaps` (from_cid, to_cid)
    * log. */
  def publishComponents(edges: DataFrame, vertices: DataFrame,
      dir: String): Unit = {
    import edges.sparkSession.implicits._
    val labels = connectedComponentsAltStar(edges, vertices)
    Lake.Manifest.publishSnapshot(labels, s"$dir/labels")
    Lake.Manifest.publishSnapshot(
      labels.select($"id".as("from_cid"), $"component".as("to_cid"))
        .limit(0), s"$dir/remaps")
  }

  /** Current labeling under `dir`: base labels resolved through the
    * remap-log closure. One broadcast join — the log is merge-event
    * sized, compacted away by [[compactComponents]]. */
  def readComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Lake.Manifest.readPublished(spark, s"$dir/labels")
    val remaps = Lake.Manifest.readPublished(spark, s"$dir/remaps")
    val closure = graft.Pipeline.resolveRemapClosure(
      remaps.select($"from_cid", $"to_cid"))
    base
      .join(broadcast(closure.select($"__from".as("component"), $"__eff")),
        Seq("component"), "left")
      .select($"id", coalesce($"__eff", $"component").as("component"))
  }

  /** Apply one batch of edge deltas (src, dst — additions; undirected)
    * to the published labeling: re-converge ONLY the touched
    * components and commit (a) the merge remaps to the log and (b)
    * labels for never-seen nodes, each as one atomic manifest append.
    * Returns (n_merges, n_new_nodes) for feed monitoring. */
  def appendComponentDelta(spark: SparkSession, dir: String,
      delta: DataFrame, meta: String = ""): (Long, Long) = {
    import spark.implicits._
    val canon = delta.select($"src", $"dst").filter($"src" =!= $"dst")
      .localCheckpoint()
    val ends = canon.select($"src".as("id"))
      .union(canon.select($"dst".as("id"))).distinct()
    val base = Lake.Manifest.readPublished(spark, s"$dir/labels")
    val remaps = Lake.Manifest.readPublished(spark, s"$dir/remaps")
    val closure = graft.Pipeline.resolveRemapClosure(
      remaps.select($"from_cid", $"to_cid"))
    // endpoint labels: base label (own id for new nodes) resolved
    // through the existing closure — delta-sized frame throughout
    val cur = ends
      .join(base, Seq("id"), "left")
      .select($"id", coalesce($"component", $"id").as("c0"))
      .join(broadcast(closure.select($"__from".as("c0"), $"__eff")),
        Seq("c0"), "left")
      .select($"id", coalesce($"__eff", $"c0").as("c"))
      .localCheckpoint()
    val ce = canon
      .join(cur.select($"id".as("src"), $"c".as("ca")), "src")
      .join(cur.select($"id".as("dst"), $"c".as("cb")), "dst")
      .filter($"ca" =!= $"cb")
      .select($"ca".as("src"), $"cb".as("dst"))
    val m = connectedComponentsAltStar(ce, cur.select($"c".as("id")).distinct())
      .localCheckpoint()
    // log only remaps of EXISTING component labels — a new node
    // absorbed at birth gets its final label in the labels append
    // directly, so a from_cid for its own-id label would be redundant
    // log growth (the log must stay merge-event sized)
    val existingComps = cur
      .join(base.select($"id"), Seq("id"), "left_semi")
      .select($"c".as("from_cid")).distinct()
    val mapping = m.filter($"id" =!= $"component")
      .select($"id".as("from_cid"), $"component".as("to_cid"))
      .join(existingComps, Seq("from_cid"), "left_semi")
      .localCheckpoint()
    val nMerges = mapping.count()
    // a TAGGED batch commits to BOTH tables even when one side is
    // empty (the commit is just a meta line then): the streaming
    // full-replay gate requires the tag in both metas, so a
    // merge-only or newnode-only batch must still register as
    // applied — otherwise every restart re-runs its delta compute
    // (correct via semantic idempotency, pure waste)
    if (nMerges > 0 || meta.nonEmpty)
      Lake.Manifest.publishAppend(mapping, s"$dir/remaps", meta = meta)
    val newNodes = cur
      .join(base.select($"id"), Seq("id"), "left_anti")
      .join(m.select($"id".as("c"), $"component".as("nc")), Seq("c"), "left")
      .select($"id", coalesce($"nc", $"c").as("component"))
      .localCheckpoint()
    val nNew = newNodes.count()
    if (nNew > 0 || meta.nonEmpty)
      Lake.Manifest.publishAppend(newNodes, s"$dir/labels", meta = meta)
    (nMerges, nNew)
  }

  /** Fold the remap log into the label table (one linear pass —
    * the periodic table service, exactly the compactRemaps posture):
    * labels snapshot to the resolved view, log resets to empty.
    * Read results are unchanged before/after. */
  def compactComponents(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val resolved = readComponents(spark, dir).localCheckpoint()
    Lake.Manifest.publishSnapshot(resolved, s"$dir/labels")
    Lake.Manifest.publishSnapshot(
      resolved.select($"id".as("from_cid"), $"component".as("to_cid"))
        .limit(0), s"$dir/remaps")
  }

  // ---------------------------------------------------------------
  // I17 INCREMENTAL triangle counts — the third leg of the C×I
  // bridge (I15 labels, I16 quality prior, this: the local
  // clustering signal feeding spam/community features). EXACT: a
  // triangle appears in G∪Δ but not G iff it contains ≥1 delta
  // edge, so the per-node count delta is computable from the delta
  // alone — for each genuinely-new edge (a,b), every common
  // neighbor w of a and b in G∪Δ closes one new triangle {a,b,w};
  // a triangle containing TWO or THREE new edges is generated once
  // per new edge, so triangles dedup by their sorted node triple
  // before counting (the spec plants both cases). Cost ∝
  // Σ_new-edges |N(a) ∩ N(b)| — delta-sized against a broadcast of
  // the delta's endpoints; the only full-frame contacts are the
  // two endpoint-neighborhood probes of the edge table (prunable
  // under a bucketed layout), never a corpus shuffle.
  //
  // State mirrors I15/I16: Manifest tables `edges` (canonical a<b,
  // appended), `tri` (node, triangles — base snapshot) and an
  // append-only `tpatch` (node, triangles, seq) log; reads resolve
  // last-writer-wins via a broadcast anti-join; compaction folds
  // the log. Replay is semantically idempotent: a re-delivered
  // batch finds its edges already present and commits nothing.
  // ---------------------------------------------------------------

  /** Publish the incremental triangle-count state for `edges`. */
  def publishTriangles(edges: DataFrame, dir: String): Unit = {
    import edges.sparkSession.implicits._
    val canon = edges
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct().localCheckpoint()
    Lake.Manifest.publishSnapshot(canon, s"$dir/edges")
    val tri = triangleCounts(canon.select($"a".as("src"), $"b".as("dst")))
      .localCheckpoint()
    Lake.Manifest.publishSnapshot(tri, s"$dir/tri")
    Lake.Manifest.publishSnapshot(
      tri.select($"node", $"triangles", lit(0L).as("seq")).limit(0),
      s"$dir/tpatch")
  }

  /** Effective (node, triangles): base overridden by the latest
    * patch per node (one broadcast anti-join — the I16 read). */
  def readTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Lake.Manifest.readPublished(spark, s"$dir/tri")
    val log = Lake.Manifest.readPublished(spark, s"$dir/tpatch")
    val latest = log.groupBy($"node")
      .agg(expr("max_by(triangles, seq)").as("triangles"))
    base.join(broadcast(latest.select($"node")), Seq("node"), "left_anti")
      .unionByName(latest)
  }

  /** Apply one batch of edge additions: enumerate ONLY the
    * delta-closed triangles, dedup by node triple, and append the
    * patched counts + the new edges, each as one atomic manifest
    * commit. Returns the number of patched node rows (0 =
    * replay/no-op; nothing is committed). */
  def appendTriangleDelta(spark: SparkSession, dir: String,
      delta: DataFrame, meta: String = ""): Long = {
    import spark.implicits._
    val oldE = Lake.Manifest.readPublished(spark, s"$dir/edges")
    val added = delta
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
      .join(oldE, Seq("a", "b"), "left_anti")
      .localCheckpoint()
    if (added.isEmpty) return 0L
    val allE = oldE.unionByName(added).persist()
    val nbrs = allE.select($"a".as("u"), $"b".as("w"))
      .union(allE.select($"b".as("u"), $"a".as("w")))
    // common neighbors of each new edge's endpoints — both probes
    // are broadcast-delta equi-joins against the edge table
    val cand = added
      .join(nbrs.select($"u".as("a"), $"w"), Seq("a"))
      .join(nbrs.select($"u".as("b"), $"w"), Seq("b", "w"), "left_semi")
    // one row per NEW TRIANGLE: a triangle with 2-3 delta edges is
    // generated once per delta edge — dedup by the sorted triple
    val tris = cand
      .select(array_sort(array($"a", $"b", $"w")).as("t")).distinct()
      .localCheckpoint()
    val dtri = tris.select(explode($"t").as("node"))
      .groupBy($"node").agg(count(lit(1)).as("dt"))
    // touched = new-edge endpoints (zeros-included contract for
    // never-seen nodes) ∪ triangle members (counts changed)
    val touched = added.select($"a".as("node"))
      .union(added.select($"b".as("node")))
      .union(dtri.select($"node")).distinct()
    val cur = readTriangles(spark, dir)
    val patch = touched
      .join(cur.withColumnRenamed("triangles", "old"), Seq("node"), "left")
      .join(dtri, Seq("node"), "left")
      .select($"node",
        (coalesce($"old", lit(0L)) + coalesce($"dt", lit(0L)))
          .as("triangles"))
      .localCheckpoint()
    val seq = Lake.Manifest.latestVersion(spark, s"$dir/tpatch") + 1L
    val out = patch.withColumn("seq", lit(seq))
    val n = out.count()
    Lake.Manifest.publishAppend(out, s"$dir/tpatch", meta = meta)
    Lake.Manifest.publishAppend(added, s"$dir/edges", meta = meta)
    allE.unpersist()
    n
  }

  /** Fold the patch log into the base snapshot (read-invariant). */
  def compactTriangles(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val folded = readTriangles(spark, dir).localCheckpoint()
    Lake.Manifest.publishSnapshot(folded, s"$dir/tri")
    Lake.Manifest.publishSnapshot(
      folded.select($"node", $"triangles", lit(0L).as("seq")).limit(0),
      s"$dir/tpatch")
  }

  // ---------------------------------------------------------------
  // I16 INCREMENTAL PageRank — the second half of the C×I bridge
  // (I15 maintains components; this maintains the quality prior).
  // EXACT, not approximate: the fixed-iteration integer PageRank is
  // a deterministic function of the edge set, and after an edge
  // delta only the delta's downstream AFFECTED CONE can change —
  //   Δ₀ = endpoints of genuinely-new edges (outdegs/existence
  //        changed), Δ_k = Δ₀ ∪ outNbrs(Δ_{k-1})
  // — because r_k(v) depends only on in-neighbors' r_{k-1}, their
  // outdegs, and v's in-edge set (the differential-dataflow
  // observation). Each iteration recomputes r_k ONLY over Δ_k using
  // the SAME integer arithmetic as [[pageRank]], so base+deltas is
  // BIT-EQUAL to the full recompute (GraphSpec pins it; Δ_k is a
  // safe overapproximation — recomputing an unchanged node yields
  // its old value).
  //
  // State mirrors I15: Manifest tables `edges` (appended),
  // `ranks` (iter, node, r — the per-iteration base snapshot; the
  // per-iteration frames ARE the incremental state) and an
  // append-only `rpatch` (iter, node, r, seq) log; reads resolve
  // last-writer-wins via a broadcast anti-join; compaction folds the
  // log. Write cost ∝ cone size; the full-frame contacts are
  // broadcast-filtered probes of the edges/ranks tables (prunable
  // under a bucketed layout), never a corpus shuffle. Replay is
  // semantically idempotent: a re-delivered batch finds its edges
  // already present and commits nothing.
  // ---------------------------------------------------------------

  /** [[pageRank]] that returns EVERY iteration's frame —
    * (iter, node, r) for iter = 1..iters — the state an incremental
    * maintainer needs (identical arithmetic, shared scan). */
  def pageRankAllIters(edges: DataFrame, iters: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val e = stash(edges.select($"src", $"dst").distinct())
    val deg = stash(e.groupBy($"src").agg(count(lit(1)).as("outdeg")))
    val nodes = stash(e.select($"src".as("node"))
      .union(e.select($"dst".as("node"))).distinct())
    var ranks = nodes.select($"node", lit(1000000000000L).as("r"))
    var out: DataFrame = null
    for (i <- 1 to iters) {
      val w = deg.join(ranks.withColumnRenamed("node", "src"), "src")
        .select($"src", expr("r div outdeg").as("contrib"))
      val sums = e.join(w, "src")
        .groupBy($"dst").agg(sum($"contrib").as("s"))
      ranks = truncate(nodes
        .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select($"node",
          (lit(150000000000L) +
            expr("coalesce(s, 0L) * 17 div 20")).as("r")))
      val tagged = ranks.select(lit(i.toLong).as("iter"), $"node", $"r")
      out = if (out == null) tagged else out.unionByName(tagged)
    }
    // ranks_i chain through each other, so materializing the last one
    // computes every iteration while e/deg/nodes are still cached
    materialize(ranks)
    deg.unpersist(); nodes.unpersist(); e.unpersist()
    out
  }

  /** Publish the incremental-PageRank state for `edges` under `dir`. */
  def publishPageRank(edges: DataFrame, dir: String, iters: Int = 5): Unit = {
    import edges.sparkSession.implicits._
    val e = edges.select($"src", $"dst").distinct().localCheckpoint()
    Lake.Manifest.publishSnapshot(e, s"$dir/edges")
    val ranks = pageRankAllIters(e, iters).localCheckpoint()
    Lake.Manifest.publishSnapshot(ranks, s"$dir/ranks")
    Lake.Manifest.publishSnapshot(
      ranks.select($"iter", $"node", $"r", lit(0L).as("seq")).limit(0),
      s"$dir/rpatch")
  }

  /** Effective (node, r) at iteration `k`: base snapshot overridden
    * by the latest patch per node (one broadcast anti-join). */
  def readPageRankIter(spark: SparkSession, dir: String,
      k: Long): DataFrame = {
    import spark.implicits._
    val base = Lake.Manifest.readPublished(spark, s"$dir/ranks")
      .filter($"iter" === k).select($"node", $"r")
    val log = Lake.Manifest.readPublished(spark, s"$dir/rpatch")
      .filter($"iter" === k)
    val latest = log.groupBy($"node")
      .agg(expr("max_by(r, seq)").as("r"))
    base.join(broadcast(latest.select($"node")), Seq("node"), "left_anti")
      .unionByName(latest)
  }

  /** Effective final-iteration ranks (node, r). */
  def readPageRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iters = Lake.Manifest.readPublished(spark, s"$dir/ranks")
      .agg(max($"iter")).collect()(0).getLong(0)
    readPageRankIter(spark, dir, iters)
  }

  /** Apply one batch of edge additions: recompute ONLY the affected
    * cone per iteration and append the patches + the new edges, each
    * as one atomic manifest commit. Returns the number of patched
    * (iter, node) rows (0 = replay/no-op; nothing is committed). */
  def appendPageRankDelta(spark: SparkSession, dir: String,
      delta: DataFrame, meta: String = ""): Long = {
    import spark.implicits._
    val oldE = Lake.Manifest.readPublished(spark, s"$dir/edges")
    val added = delta.select($"src", $"dst").distinct()
      .join(oldE, Seq("src", "dst"), "left_anti")
      .localCheckpoint()
    if (added.isEmpty) return 0L
    val allE = oldE.unionByName(added).persist()
    val outdeg = allE.groupBy($"src")
      .agg(count(lit(1)).as("outdeg")).persist()
    // resolve the published state ONCE — the loop below must not
    // re-list manifests or re-broadcast the full patch-log node set
    // every iteration (cost grew with log size × iters per batch).
    // ranks stays a lazy pruned parquet scan (iter is a pushed
    // filter); the patch log is delta-event sized, so one
    // materialization covers all iterations.
    val baseRanks = Lake.Manifest.readPublished(spark, s"$dir/ranks")
    val patchLog = Lake.Manifest.readPublished(spark, s"$dir/rpatch")
      .localCheckpoint()
    def effIter(k: Long): DataFrame = {
      val b = baseRanks.filter($"iter" === k).select($"node", $"r")
      val latest = patchLog.filter($"iter" === k).groupBy($"node")
        .agg(expr("max_by(r, seq)").as("r"))
      b.join(broadcast(latest.select($"node")), Seq("node"), "left_anti")
        .unionByName(latest)
    }
    val iters = baseRanks.agg(max($"iter")).collect()(0).getLong(0)
    val d0 = added.select($"src".as("node"))
      .union(added.select($"dst".as("node"))).distinct().localCheckpoint()
    var deltaK = d0
    var prevPatch: DataFrame = null // recomputed (node, r) at k-1
    var patches: DataFrame = null
    for (k <- 1L to iters) {
      deltaK = d0.unionByName(
          allE.join(broadcast(deltaK.select($"node".as("src"))), "src")
            .select($"dst".as("node")))
        .distinct().localCheckpoint()
      // effective r_{k-1} for the cone's in-neighbors: k=1 is the
      // uniform init; otherwise stored state overridden by the rows
      // recomputed in the previous loop round
      val inE = allE.join(broadcast(deltaK.select($"node".as("dst"))), "dst")
      val contrib =
        if (k == 1L)
          inE.join(outdeg, "src")
            .select($"dst", expr("1000000000000 div outdeg").as("contrib"))
        else {
          val stored = effIter(k - 1)
          val eff = stored
            .join(broadcast(prevPatch.select($"node")), Seq("node"),
              "left_anti")
            .unionByName(prevPatch)
          inE.join(eff.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select($"dst", expr("r div outdeg").as("contrib"))
        }
      val sums = contrib.groupBy($"dst").agg(sum($"contrib").as("s"))
      val rk = deltaK
        .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select($"node",
          (lit(150000000000L) +
            expr("coalesce(s, 0L) * 17 div 20")).as("r"))
        .localCheckpoint()
      val tagged = rk.select(lit(k).as("iter"), $"node", $"r")
      patches = if (patches == null) tagged else patches.unionByName(tagged)
      prevPatch = rk
    }
    val seq = Lake.Manifest.latestVersion(spark, s"$dir/rpatch") + 1L
    val out = patches.withColumn("seq", lit(seq)).localCheckpoint()
    val n = out.count()
    Lake.Manifest.publishAppend(out, s"$dir/rpatch", meta = meta)
    Lake.Manifest.publishAppend(added, s"$dir/edges", meta = meta)
    allE.unpersist(); outdeg.unpersist()
    n
  }

  /** Fold the patch log into the per-iteration base snapshot (the
    * periodic table service; read results unchanged). */
  def compactPageRank(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val iters = Lake.Manifest.readPublished(spark, s"$dir/ranks")
      .agg(max($"iter")).collect()(0).getLong(0)
    val folded = (1L to iters).map { k =>
      readPageRankIter(spark, dir, k)
        .select(lit(k).as("iter"), $"node", $"r")
    }.reduce(_ unionByName _).localCheckpoint()
    Lake.Manifest.publishSnapshot(folded, s"$dir/ranks")
    Lake.Manifest.publishSnapshot(
      folded.select($"iter", $"node", $"r", lit(0L).as("seq")).limit(0),
      s"$dir/rpatch")
  }

  /** PageRank over a directed edge list (Brin/Page 1998 — the quality
    * prior a web-corpus pipeline feeds into sampling weights) in
    * FIXED-POINT integer arithmetic: ranks live in 10⁻¹² units
    * (r₀ = 10¹², reset 0.15 = 1.5·10¹¹), contributions are r div
    * outdeg and the damping step is (Σ·17) div 20 — every operation
    * is exact BIGINT, so the incoming-contribution sum is ASSOCIATIVE
    * and COMMUTATIVE and the usual floating determinism problem (sum
    * order across engines/partitions) vanishes without ordered folds:
    * each iteration is ONE broadcast-joined scan of the cached edge
    * list + ONE map-side-combinable long-sum aggregate shuffled on
    * node id, the plan you want on a 10¹¹-edge web graph. (The div
    * floors shave < 10⁻¹² per term vs the real-valued recurrence —
    * a documented quantization, not drift: both engines compute the
    * identical integers. Near 10⁹ in-edges per node the Σ·17 product
    * approaches int64; switch the sum to decimal(38,0) — the C18
    * posture.) Dangling mass is NOT redistributed (per-node formula
    * variant, documented contract). Per-source weights are computed
    * on the SOURCE-sized frame so AQE broadcasts them; the edge list
    * never shuffles for the join. Lineage checkpoint-truncated per
    * round ([[truncate]]).
    *
    * @param edges (src, dst) directed pairs; duplicates collapsed
    * @return (node, r_fp) fixed-point 10⁻¹² rank per node
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val e = stash(edges.select($"src", $"dst").distinct())
    val deg = stash(e.groupBy($"src")
      .agg(count(lit(1)).as("outdeg")))
    val nodes = stash(e.select($"src".as("node"))
      .union(e.select($"dst".as("node"))).distinct())
    var ranks = nodes.select($"node", lit(1000000000000L).as("r"))
    for (i <- 1 to iters) {
      val w = deg.join(ranks.withColumnRenamed("node", "src"), "src")
        .select($"src", expr("r div outdeg").as("contrib"))
      val sums = e.join(w, "src")
        .groupBy($"dst").agg(sum($"contrib").as("s"))
      ranks = nodes
        .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select($"node",
          (lit(150000000000L) +
            expr("coalesce(s, 0L) * 17 div 20")).as("r"))
      // each round references the previous ranks ONCE, so the plan
      // grows linearly, not exponentially — truncate every 4th round
      // (and on exit) to bound optimizer time without paying an eager
      // materialization job per round
      if (i % 4 == 0 || i == iters) ranks = truncate(ranks)
    }
    // compute the chain while e/deg/nodes are still cached (see
    // materialize), then release the cluster-posture caches
    ranks = materialize(ranks)
    deg.unpersist(); nodes.unpersist(); e.unpersist()
    ranks
  }

  /** PERSONALIZED PageRank (Page et al. 1999 §6; the proximity prior
    * behind seed-anchored corpus curation — "weight documents by
    * their link proximity to a trusted seed set", the TrustRank
    * shape): identical integer fixed-point recurrence to [[pageRank]]
    * except the teleport term lands ONLY on seed nodes — r₀ = 10¹²
    * on seeds / 0 elsewhere, and the per-iteration reset 1.5·10¹¹
    * multiplies the seed indicator. Mass therefore flows outward
    * from the seeds along edges and decays by 0.85 per hop; nodes
    * unreachable from the seed set stay at exactly 0 (a useful
    * audit: the nonzero support IS the seed cone). Same plan shape
    * per iteration as [[pageRank]] — one broadcast-joined scan of
    * the cached edge list + one map-side-combinable long-sum — so
    * the 10¹¹-edge posture carries over unchanged.
    *
    * @param edges (src, dst) directed pairs; duplicates collapsed
    * @param seeds (node) seed rows; intersected with graph nodes
    * @return (node, r) fixed-point 10⁻¹² rank, zeros included
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val e = stash(edges.select($"src", $"dst").distinct())
    val deg = stash(e.groupBy($"src").agg(count(lit(1)).as("outdeg")))
    val nodes = e.select($"src".as("node"))
      .union(e.select($"dst".as("node"))).distinct()
    // seed indicator folded onto the node frame once; the seed set
    // is tiny by construction, so the join broadcasts
    val marked = stash(nodes
      .join(seeds.select($"node", lit(1L).as("s_flag")).distinct(),
        Seq("node"), "left")
      .select($"node", coalesce($"s_flag", lit(0L)).as("is_seed")))
    var ranks = marked.select($"node",
      (lit(1000000000000L) * $"is_seed").as("r"))
    for (i <- 1 to iters) {
      val w = deg.join(ranks.withColumnRenamed("node", "src"), "src")
        .select($"src", expr("r div outdeg").as("contrib"))
      val sums = e.join(w, "src")
        .groupBy($"dst").agg(sum($"contrib").as("s"))
      ranks = marked
        .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select($"node", $"is_seed",
          (lit(150000000000L) * $"is_seed" +
            expr("coalesce(s, 0L) * 17 div 20")).as("r"))
        .select($"node", $"r")
      if (i % 4 == 0 || i == iters) ranks = truncate(ranks)
    }
    ranks = materialize(ranks) // before the unpersists — see pageRank
    deg.unpersist(); marked.unpersist(); e.unpersist()
    ranks
  }

  /** HITS hubs & authorities (Kleinberg 1999 — the bipartite quality
    * prior of a link corpus: a hub is good because it points at good
    * authorities and vice versa; on a buyer→seller or page→resource
    * graph the two scores separate the curator side from the content
    * side, which PageRank's single score conflates) in EXACT integer
    * fixed point: scores live in 10⁻⁶ units and each half-iteration
    * is (a) one broadcast-joined scan of the cached edge list + one
    * map-side-combinable long-sum shuffled on node id, then (b) an
    * L∞ (max) renormalization s ← s·10⁶ div max(s) — max instead of
    * the textbook L2 because max of integers is EXACT and
    * order-independent where a float sqrt-of-sum-of-squares is not;
    * the normalized fixed point is the same dominant eigenvector
    * direction, just scaled so the top node reads exactly 10⁶. Every
    * op is exact BIGINT, so the usual floating determinism problem
    * vanishes. Sum magnitude is indeg·10⁶ — near 10¹² in-edges per
    * node switch the sum to decimal(38,0) (the C18 posture). The max
    * is a 1-row aggregate broadcast back (AQE turns the join against
    * it into a BroadcastNestedLoop of one row — constant cost).
    *
    * @param edges (src, dst) directed pairs; duplicates collapsed
    * @return (node, hub_fp, auth_fp) fixed-point 10⁻⁶ scores
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val e = stash(edges.select($"src", $"dst").distinct())
    val nodes = stash(e.select($"src".as("node"))
      .union(e.select($"dst".as("node"))).distinct())
    val unit = 1000000L
    var hubs = nodes.select($"node", lit(unit).as("h"))
    var auths = nodes.select($"node", lit(unit).as("a"))
    // Each half-step is consumed twice (max + rescale) and again by the
    // next half-step, so it checkpoints once (plan stays one round
    // deep — a persist-only variant was MEASURED 1.7× slower: the
    // logical plan deepens every half-step and the optimizer pass per
    // action goes quadratic). The L∞ max then lands in the plan as a
    // LITERAL via a 1-row collect over the checkpointed frame instead
    // of a broadcast-crossJoin — one broadcast exchange build per
    // half-step removed (guide §2.4), and the rescale becomes a free
    // lazy projection. Driver state: one Long per half-step — bounded
    // at any graph size.
    def renorm(df: DataFrame, c: String): DataFrame = {
      val cut = truncate(df)
      val row = cut.agg(max(col(c)).as("mx")).head(1)
      val mx = if (row.isEmpty || row(0).isNullAt(0)) 1L
        else row(0).getLong(0)
      cut.select($"node", expr(s"$c * ${unit}L div ${mx}L").as(c))
    }
    for (i <- 1 to iters) {
      val a = nodes
        .join(e.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy($"dst".as("node")).agg(sum($"h").as("s")),
          Seq("node"), "left")
        .select($"node", coalesce($"s", lit(0L)).as("a"))
      auths = renorm(a, "a")
      val h = nodes
        .join(e.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy($"src".as("node")).agg(sum($"a").as("s")),
          Seq("node"), "left")
        .select($"node", coalesce($"s", lit(0L)).as("h"))
      hubs = renorm(h, "h")
    }
    val out = hubs.join(auths, "node")
      .select($"node", $"h".as("hub_fp"), $"a".as("auth_fp"))
    nodes.unpersist(); e.unpersist()
    out
  }

  /** The supplier→customer trade graph: one (src, dst) edge per line
    * item, from `s<suppkey>` to `c<custkey>` of its order (duplicates
    * kept; the prefixes keep the two key spaces disjoint). */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select(concat(lit("s"), $"l_suppkey".cast("string")).as("src"),
        concat(lit("c"), $"o_custkey".cast("string")).as("dst"))
  }

  /** The supplier↔part supply graph: distinct (src, dst) edges from
    * `s<suppkey>` to `p<partkey>`. */
  private def supplyEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select(concat(lit("s"), $"l_suppkey".cast("string")).as("src"),
        concat(lit("p"), $"l_partkey".cast("string")).as("dst"))
      .distinct()
  }

  /** Line items that cross a border: each with its price in whole
    * `cents`, its supplier's nation `sn` and its customer's nation
    * `cn`, where the two differ; the rows the nation trade flows
    * aggregate. */
  private def crossBorderLines(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_suppkey",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.supplier(s, dir)
        .select($"s_suppkey", $"s_nationkey".as("sn")),
        $"l_suppkey" === $"s_suppkey")
      .join(Tables.customer(s, dir)
        .select($"c_custkey", $"c_nationkey".as("cn")),
        $"o_custkey" === $"c_custkey")
      .filter($"sn" =!= $"cn")
  }

  /** The co-order part graph's raw pairs: line items `x` and `y` of
    * one order with x's part key below y's (columns qualified by
    * `x`/`y`). */
  private def coOrderPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
  }

  /** The REPEATED co-order part graph: part pairs (as columns `a`,
    * `b`, both long) that at least two orders share. */
  private def repeatedCoOrder(s: SparkSession, dir: String, a: String,
      b: String): DataFrame =
    coOrderPairs(s, dir)
      .groupBy(col("x.l_partkey").cast("long").as(a),
        col("y.l_partkey").cast("long").as(b))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col(a), col(b))

  /** q_ppr: 5 personalized-PageRank iterations over the
    * supplier→customer trade graph, seeded at every 20th supplier
    * (the BFS seed convention) — the proximity-to-trusted-sellers
    * prior over the customer space. */
  def pprTrade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val seeds = Tables.supplier(s, dir)
      .filter($"s_suppkey" % 20 === 1)
      .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"))
    personalizedPageRank(edges, seeds, 5)
      .select($"node", $"r".as("ppr_fp"),
        round($"r".cast("double") / 1e12, 6).as("ppr"))
      .orderBy($"node")
  }

  /** Each undirected edge of `edges` (src, dst) once, as (a, b) with
    * a < b; self-loops dropped. */
  private def canonical(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
  }

  /** (node, d): the degree of every endpoint of a canonical edge set. */
  private def degrees(canon: DataFrame): DataFrame = {
    import canon.sparkSession.implicits._
    canon.select($"a".as("node"))
      .union(canon.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
  }

  /** The degree-oriented edge set of [[triangleCounts]]: each
    * canonical edge directed from its (degree, id)-smaller endpoint
    * `u` to `v`, with `dv` = deg(v); `deg` is [[degrees]] of `canon`. */
  private def oriented(canon: DataFrame, deg: DataFrame): DataFrame = {
    import canon.sparkSession.implicits._
    val withDeg = canon
      .join(deg.select($"node".as("a"), $"d".as("da")), "a")
      .join(deg.select($"node".as("b"), $"d".as("db")), "b")
    withDeg.select(
      when(struct($"da", $"a") < struct($"db", $"b"), $"a").otherwise($"b")
        .as("u"),
      when(struct($"da", $"a") < struct($"db", $"b"), $"b").otherwise($"a")
        .as("v"),
      when(struct($"da", $"a") < struct($"db", $"b"), $"db").otherwise($"da")
        .as("dv"))
  }

  /** The wedges (u, x, dx, y, dy) of an [[oriented]] edge set: pairs
    * of out-neighbors of u in (degree, id) order, so each triangle is
    * generated exactly once. */
  private def wedgesOf(fwd: DataFrame): DataFrame = {
    import fwd.sparkSession.implicits._
    fwd.select($"u", $"v".as("x"), $"dv".as("dx"))
      .join(fwd.select($"u", $"v".as("y"), $"dv".as("dy")), Seq("u"))
      .filter(struct($"dx", $"x") < struct($"dy", $"y"))
  }

  /** The closed wedges of [[oriented]] `fwd` over the canonical edge
    * set `canon`: the triangles (u, x, y), each once. A Bloom
    * pre-filter (guide §3.2) runs before the closing semi-join: the
    * wedge frame measured 41M rows shuffled at sf0.1 with only 0.5 %
    * surviving as closed triangles; probes drop definitely-open
    * wedges BEFORE the exchange (measured 41M -> 2.7M rows written).
    * No false negatives, and the semi-join still decides — result
    * identical, just a ~15x smaller shuffle. Counts `canon` and
    * builds the filter from it, two eager passes. */
  private def closedWedges(canon: DataFrame, fwd: DataFrame): DataFrame = {
    import canon.sparkSession.implicits._
    val wedges = wedgesOf(fwd)
    val nPairs = math.max(canon.count(), 1L)
    val bf = canon.stat.bloomFilter(xxhash64($"a", $"b"), nPairs, 0.02)
    val bfB = canon.sparkSession.sparkContext.broadcast(bf)
    val mightBeEdge = udf((h: Long) => bfB.value.mightContainLong(h))
    wedges
      .filter(mightBeEdge(xxhash64(least($"x", $"y"), greatest($"x", $"y"))))
      .join(fwd.select($"u".as("x"), $"v".as("y")),
        Seq("x", "y"), "left_semi")
  }

  /** Per-node triangle counts by DEGREE-ORIENTED wedge enumeration
    * (Schank/Wagner "forward" / Latapy compact-forward — the standard
    * O(E^{3/2}) bound): every undirected edge is directed from its
    * (degree, id)-smaller endpoint to the larger, so each node's
    * out-neighborhood is O(√E) even at power-law hubs and the wedge
    * join never explodes on a high-degree node — THE property that
    * lets triangle counting survive a web-scale co-occurrence graph.
    * Wedges pair two out-neighbors of u (ordered by the same
    * (degree, id) key so each triangle is generated exactly once) and
    * close via one semi-join against the oriented edge set. All
    * integer counts — no float anywhere.
    *
    * @param edges (src, dst) pairs, either orientation, dupes/loops ok
    * @return (node, triangles) for every edge endpoint, zeros included
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val canon = canonical(edges)
    val deg = degrees(canon)
    val fwd = oriented(canon, deg).persist()
    val tri = wedgesOf(fwd).join(fwd.select($"u".as("x"), $"v".as("y")),
      Seq("x", "y"), "left_semi")
    val perNode = tri.select($"u".as("node"))
      .union(tri.select($"x".as("node")))
      .union(tri.select($"y".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("triangles"))
    val out = deg.select($"node")
      .join(perNode, Seq("node"), "left")
      .select($"node", coalesce($"triangles", lit(0L)).as("triangles"))
    fwd.unpersist()
    out
  }

  /** I30 LOCAL CLUSTERING COEFFICIENT (Watts/Strogatz 1998 — the
    * per-node reading of I5: the triangle count says how many closed
    * wedges a node has, this normalizes by how many it COULD have,
    * c(v) = 2T(v)/(d(v)(d(v)−1)) — the signal spam/community features
    * are built from, and the local complement of I14's global rich
    * club): integer ppm floor-div so both engines agree exactly; the
    * top-k rides (ppm DESC, node) — a total order. Degree floor
    * `minDeg` keeps the report off trivial d=2 nodes. Cost = the I5
    * degree-oriented triangle count + one degree join. */
  def localClusteringOn(edges: DataFrame, minDeg: Long = 5L,
      topK: Int = 20): DataFrame = {
    import edges.sparkSession.implicits._
    // FULLY LAZY, ZERO persisted state (the ADVICE-r11 leak fix,
    // measured end to end at sf0.1 this round):
    //  - the per-node triangle count EXPLODES each closed wedge into
    //    its three corners instead of the triangleCounts-style triple
    //    union, so the expensive wedge join appears exactly ONCE in
    //    the plan and nothing depends on AQE stage reuse across
    //    branches;
    //  - no cache anywhere: materializing canon/deg/fwd/joined
    //    through InMemoryRelation was SLOWER than recomputing the
    //    fused lazy legs (cache write + unfused SMJs over cache scans
    //    measured 20-25 s; AQE materializes cached subplans without
    //    the broadcast legs), and the round-11 cache was never
    //    released — it pinned a node-count frame for the session
    //    lifetime and made every later bench rep a cache-reuse
    //    artifact (best-of-4 0.87 s vs ~8 s honest steady-state);
    //  - shared legs (canon x4 sites, deg x3, fwd x3) are left to
    //    AQE exchange reuse inside the ONE action; the measured
    //    honest cost is ~8 s steady / ~14 s cold at sf0.1, and the
    //    BASELINE.md row is superseded to the honest figure.
    // canon is checkpoint-backed: the Bloom build below needs one
    // materialized pass anyway, and the main plan's four canon legs
    // then scan the cached RDD instead of relying on exchange reuse
    val canon = truncate(canonical(edges))
    val deg = degrees(canon)
    val tri = closedWedges(canon, oriented(canon, deg))
    val perNode = tri
      .select(explode(array($"u", $"x", $"y")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .filter($"d" >= minDeg)
      .select($"node", $"d".as("degree"),
        coalesce($"triangles", lit(0L)).as("triangles"))
      .withColumn("clustering_ppm",
        expr("2 * triangles * 1000000 div (degree * (degree - 1))"))
      .orderBy(desc("clustering_ppm"), $"node")
      .limit(topK)
  }

  /** q_clustering: top-20 most locally-clustered parts (degree ≥ 5)
    * of the I5 co-order part graph. */
  def localClusteringCoOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = coOrderPairs(s, dir)
      .select(col("x.l_partkey").cast("long").as("src"),
        col("y.l_partkey").cast("long").as("dst"))
    localClusteringOn(edges)
      .select($"node".as("part"), $"degree", $"triangles",
        $"clustering_ppm")
      .orderBy(desc("clustering_ppm"), $"part")
  }

  /** I31 KATZ CENTRALITY, 3-term truncation (Katz 1953 — the
    * walk-count centrality between degree and PageRank: PageRank
    * splits a node's vote across its out-edges, Katz lets every walk
    * vote at geometric discount α^length, so high-degree neighbors
    * AMPLIFY rather than dilute — the classic choice for influence
    * on co-occurrence graphs): katz(v) = Σ_{k≤3} α^k·paths_k(v) with
    * α = 0.05, carried as EXACT integers — α^k·10⁶ = 50000/2500/125
    * are integer weights, paths_k(v) = Σ_{(u,v)} paths_{k−1}(u) is
    * one edge-frame equi-join + keyed sum per hop (never a matrix,
    * never a driver loop). Both engines replay the identical integer
    * recursion; the top-k rides (katz_fp DESC, node). */
  def katzCoOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canon = coOrderPairs(s, dir)
      .select(col("x.l_partkey").cast("long").as("a"),
        col("y.l_partkey").cast("long").as("b"))
      .distinct().transform(truncate) // lazy: consumed 2x, computed once
    val sym = canon.select($"a".as("src"), $"b".as("dst"))
      .union(canon.select($"b".as("src"), $"a".as("dst")))
    val p1 = sym.groupBy($"dst".as("node")).agg(count(lit(1)).as("p1"))
    val p2 = sym.join(p1.select($"node".as("src"), $"p1".as("w")), "src")
      .groupBy($"dst".as("node")).agg(sum($"w").as("p2"))
    val p3 = sym.join(p2.select($"node".as("src"), $"p2".as("w")), "src")
      .groupBy($"dst".as("node")).agg(sum($"w").as("p3"))
    p1.join(p2, Seq("node"), "left").join(p3, Seq("node"), "left")
      .select($"node".as("part"), $"p1".as("degree"),
        ($"p1" * 50000L + coalesce($"p2", lit(0L)) * 2500L +
          coalesce($"p3", lit(0L)) * 125L).as("katz_fp"))
      .orderBy(desc("katz_fp"), $"part")
      .limit(20)
  }

  /** Multi-source BFS hop counts by min-label propagation: each round
    * every labeled vertex offers `hop+1` to its neighbors and labels
    * fold by min — one equi-join + one min-agg per round, both plain
    * shuffles on the vertex id (the D8 shape; no driver-side graph
    * state, so any vertex count works). `rounds` bounds the explored
    * radius: vertices farther than `rounds` hops are ABSENT from the
    * output by design (the caller budgets radius = graph diameter of
    * interest; each round's labels are lineage-truncated so plan depth
    * stays constant regardless of radius).
    *
    * @param edges (src, dst) pairs treated as UNDIRECTED; dupes ok
    * @param seeds (node) hop-0 vertices — need not appear in `edges`
    *              (isolated seeds surface with hop 0)
    * @return (node, hop) minimal hop count per reached vertex
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val sym = stash(edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst"))))
    var labels = seeds.select($"node").distinct()
      .select($"node", lit(0L).as("hop"))
    for (i <- 1 to rounds) {
      val offers = sym.join(labels.withColumnRenamed("node", "src"), "src")
        .select($"dst".as("node"), ($"hop" + 1).as("hop"))
      labels = labels.union(offers)
        .groupBy($"node").agg(min($"hop").as("hop"))
      if (i % 2 == 0 || i == rounds) labels = truncate(labels)
    }
    labels = materialize(labels) // before sym.unpersist — see pageRank
    sym.unpersist()
    labels
  }

  /** I19 SHORTEST-PATH COUNTING from a seed set — the forward pass of
    * Brandes' betweenness (Brandes 2001 §3): multi-source BFS where
    * each newly-reached node's σ = Σ σ(predecessors at the previous
    * hop) counts the number of DISTINCT shortest paths from the seed
    * set. Path multiplicity is the redundancy/robustness signal hop
    * distance alone misses (hops says "reachable in 3", σ says "via
    * 1 route or via 4,000"). All-integer: σ is an exact BIGINT sum
    * along the BFS DAG — no float, so the unrolled SQL twin hashes.
    * Per round: one frontier equi-join + one sum aggregate + one
    * anti-join against the settled set (frontier-sized, the
    * [[bfsHops]] plan); the frontier localCheckpoints per round (it
    * is consumed twice).
    *
    * @param edges (src, dst) treated as undirected; deduplicated
    *              (parallel edges would double-count paths)
    * @return (node, hop, sigma) for every node settled within
    *         `rounds` hops of a seed
    */
  def pathCounts(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val sym = stash(edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .distinct())
    var levels = seeds.select($"node").distinct()
      .select($"node", lit(0L).as("hop"), lit(1L).as("sigma"))
    var frontier = levels
    for (k <- 1 to rounds) {
      val fresh = truncate(sym
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .groupBy($"dst").agg(sum($"sigma").as("sig"))
        .select($"dst".as("node"), $"sig")
        .join(levels.select($"node"), Seq("node"), "left_anti")
        .select($"node", lit(k.toLong).as("hop"), $"sig".as("sigma")))
      levels = levels.union(fresh)
      frontier = fresh
    }
    materialize(frontier) // chained rounds: one job, before unpersist
    sym.unpersist()
    levels
  }

  /** q_betweenness: 3-landmark Brandes dependency scores over the
    * supplier↔part supply graph (the q_bfs_hops graph), landmarks
    * s1/s21/s41, radius 3. */
  def betweennessSupplyChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = supplyEdges(s, dir)
    val seeds = Tables.supplier(s, dir)
      .filter($"s_suppkey" % 20 === 1 && $"s_suppkey" <= 41)
      .select(concat(lit("s"), $"s_suppkey".cast("string")).as("seed"))
    landmarkBetweenness(sp, seeds, 3)
  }

  /** q_random_walks: 4-hop deterministic walks from every 20th
    * supplier over the NUMERIC supplier↔part supply graph (parts
    * offset by 2³² to keep the key spaces disjoint — the hash hop
    * needs integer nodes, and s_suppkey scales as 10⁴·SF so a small
    * offset would silently merge supplier and part nodes at high SF). */
  def randomWalksSupplyChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = Tables.lineitem(s, dir)
      .select($"l_suppkey".cast("long").as("src"),
        ($"l_partkey".cast("long") + (1L << 32)).as("dst"))
      .distinct()
    val seeds = Tables.supplier(s, dir)
      .filter($"s_suppkey" % 20 === 1)
      .select($"s_suppkey".cast("long").as("node"))
    randomWalks(sp, seeds, 4)
  }

  /** q_path_counts: shortest-path multiplicity from every 20th
    * supplier over the supplier↔part supply graph (the q_bfs_hops
    * graph and seeds), 4 rounds. */
  def pathCountsSupplyChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = supplyEdges(s, dir)
    val seeds = Tables.supplier(s, dir)
      .filter($"s_suppkey" % 20 === 1)
      .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"))
    pathCounts(sp, seeds, 4)
      .select($"node", $"hop".as("hops"), $"sigma".as("n_paths"))
      .orderBy($"node")
  }

  /** I24 LANDMARK BETWEENNESS — the backward half of Brandes (2001)
    * that I19's forward σ pass was missing: per landmark seed s, the
    * dependency δ_s(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w))
    * accumulated DOWN the BFS DAG (level h+1 → h), then betweenness
    * ≈ Σ_s δ_s(v) over the K landmarks — the standard sampling
    * estimator (Brandes-Pich 2007): exact per landmark, scaled by
    * K/n for the global figure, and the ONLY viable shape at scale
    * (exact betweenness is all-pairs). BFS truncation at `rounds`
    * makes the deepest level's δ = 0 — the landmark-radius semantics,
    * stated, not hidden.
    *
    * Determinism: σ is exact BIGINT (I19); δ is float but EVERY fold
    * is pinned — per (seed, v) the successor contributions accumulate
    * by an ordered window cumsum over w (positive terms: the running
    * max IS the final total), and the cross-seed sum folds the ≤K
    * seed rows by the same ordered-cumsum trick. Both engines run the
    * identical IEEE sequence; the export round absorbs the ulp.
    * Per level: one frontier equi-join + one window over the
    * level-frame + one aggregate — the I10/I19 plan, K seeds wide. */
  def landmarkBetweenness(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    // persist, not stash: see harmonicFromSeeds — the frontier joins
    // must stay shuffle-based, which needs the cache's honest stats
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .distinct().persist()
    // forward: multi-landmark σ, keyed (seed, node) — each landmark's
    // BFS runs independently in one frame (the q_harmonic shape)
    var levels = seeds.select($"seed").distinct()
      .select($"seed", $"seed".as("node"), lit(0L).as("hop"),
        lit(1L).as("sigma"))
    var frontier = levels
    for (k <- 1 to rounds) {
      val fresh = truncate(sym
        .join(frontier.select($"seed", $"node".as("src"), $"sigma"), "src")
        .groupBy($"seed", $"dst").agg(sum($"sigma").as("sig"))
        .select($"seed", $"dst".as("node"), $"sig")
        .join(levels.select($"seed", $"node"), Seq("seed", "node"),
          "left_anti")
        .select($"seed", $"node", lit(k.toLong).as("hop"),
          $"sig".as("sigma")))
      // no checkpoint on the union: its members are all checkpointed
      // frontiers, so recomputing it is a cached-RDD concat (the
      // harmonicFromSeeds argument); the old eager checkpoint here
      // paid TWO materialization jobs per forward round
      levels = levels.union(fresh)
      frontier = fresh
    }
    val lev = stash(levels)
    // backward: δ = 0 at the truncation level, then one level up per
    // pass; succ(v) = BFS-DAG neighbors one hop deeper. The forward
    // pass's persisted sym is reused — the edge frame is the
    // dominant input and recomputing its distinct per level tripled
    // the backward cost.
    var deltaNext = lev.filter($"hop" === rounds)
      .select($"seed", $"node", lit(0.0).as("delta"))
    var all = deltaNext
    val symE = sym
    for (h <- rounds - 1 to 0 by -1) {
      val vset = lev.filter($"hop" === h)
        .select($"seed", $"node".as("v"), $"sigma".as("sv"))
      val wset = lev.filter($"hop" === h + 1)
        .select($"seed".as("sw_seed"), $"node".as("w"), $"sigma".as("sw"))
        .join(deltaNext.select($"seed".as("sw_seed"),
          $"node".as("w"), $"delta".as("dw")), Seq("sw_seed", "w"))
      val contrib = symE
        .join(vset, symE("src") === vset("v"))
        .join(wset, symE("dst") === wset("w") &&
          vset("seed") === wset("sw_seed"))
        .select($"seed", $"v", $"w",
          ($"sv".cast("double") / $"sw".cast("double") *
            (lit(1.0) + $"dw")).as("c"))
      val wOrd = Window.partitionBy($"seed", $"v").orderBy($"w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dv = contrib
        .withColumn("cum", sum($"c").over(wOrd))
        .groupBy($"seed", $"v")
        // positive terms: the ordered running sum is nondecreasing,
        // so max IS the final total — one deterministic fold
        .agg(max($"cum").as("delta"))
        .select($"seed", $"v".as("node"), $"delta")
      deltaNext = truncate(vset.select($"seed", $"v".as("node"))
        .join(dv, Seq("seed", "node"), "left")
        .na.fill(0.0, Seq("delta")))
      all = all.union(deltaNext)
    }
    // backward levels chain through deltaNext, so one job computes
    // them all — and it must run while sym/lev are still cached
    materialize(deltaNext)
    sym.unpersist()
    lev.unpersist()
    // cross-seed fold in seed order (≤ K rows per node); seeds
    // themselves (hop 0, node == seed) are endpoints — excluded
    val wSeed = Window.partitionBy($"node").orderBy($"seed")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all.filter($"node" =!= $"seed")
      .withColumn("cum", sum($"delta").over(wSeed))
      .groupBy($"node")
      .agg(count(lit(1)).as("n_seeds"), round(max($"cum"), 6).as("bw"))
      .orderBy($"node")
  }

  /** I26 DETERMINISTIC RANDOM WALKS (the DeepWalk/node2vec corpus
    * step — Perozzi et al. 2014: graph-embedding training data IS a
    * corpus of walks, so the walk sampler is a training-data
    * operator, not an analytics one): from each seed, `steps` hops
    * where step t leaves node c through its
    * (1 + (c·2654435761 + t·40503) mod p mod deg(c))-th neighbor in
    * dst order — a HASH-driven choice, so the "random" walk is a
    * pure function of (graph, seed, t): reproducible across runs,
    * engines, and re-partitioning (Spark's rand() is none of those).
    * Per step: one equi-join against the rank-indexed adjacency
    * (built once, localCheckpointed) — frontier-sized, the I3 plan;
    * the adjacency index is one window over the edge frame. All
    * integers; the SQL twin replays identical hops. */
  def randomWalks(edges: DataFrame, seeds: DataFrame,
      steps: Int): DataFrame = {
    import edges.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
    val wAdj = Window.partitionBy($"src").orderBy($"dst")
    val adj = sym
      .withColumn("rn", row_number().over(wAdj).cast("long"))
      .withColumn("deg",
        count(lit(1)).over(Window.partitionBy($"src")))
      .transform(truncate) // lazy: one job materializes adj + all steps
    var walks = seeds.select($"node".as("walk_id"))
      .join(adj.select($"src").distinct(),
        $"walk_id" === $"src", "left_semi")
      .select($"walk_id", lit(0L).as("step"), $"walk_id".as("cur"))
    var all = walks
    for (t <- 1 to steps) {
      val w = walks.select($"walk_id", $"cur".as("wcur"))
      // reduce cur mod p BEFORE the Knuth multiply: node ids may use
      // high disjoint offsets (≥2³²), and (2³³−1)·2654435761 would
      // overflow BIGINT — an ANSI-mode error, a silent wrap otherwise.
      // (p−1)·2654435761 ≈ 2.7e18 stays in range.
      val pick = (((col("wcur") % lit(1000000007L)) * lit(2654435761L) +
        lit(t.toLong) * lit(40503L)) % lit(1000000007L)) % col("deg")
      walks = truncate(w.join(adj,
          col("wcur") === col("src") && col("rn") === lit(1L) + pick)
        .select($"walk_id", lit(t.toLong).as("step"),
          $"dst".as("cur")))
      all = all.union(walks)
    }
    all.select($"walk_id", $"step", $"cur".as("node"))
      .orderBy($"walk_id", $"step")
  }

  /** Bounded k-core peeling: `rounds` passes of "drop every vertex of
    * degree < k, restrict edges to survivors". The true k-core is this
    * process run to fixpoint; each pass costs one degree aggregate and
    * two semi-joins on the edge frame (linear shuffles, no driver
    * state), and since every non-converged pass removes at least one
    * vertex, `rounds` ≥ the graph's peel depth yields the exact core
    * (GraphSpec pins a crafted graph at convergence). Parity with the
    * SQL twin is exact at ANY pass budget because the oracle unrolls
    * the SAME passes.
    *
    * @param edges (src, dst) pairs treated as UNDIRECTED; dupes count
    *              toward degree (pre-distinct if that is not wanted)
    * @return (node, core_deg) degree within the surviving edge set
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    var sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
    for (i <- 1 to rounds) {
      val keep = sym.groupBy($"src").agg(count(lit(1)).as("d"))
        .filter($"d" >= k).select($"src")
      sym = sym.join(keep, Seq("src"), "left_semi")
        .join(keep.select($"src".as("dst")), Seq("dst"), "left_semi")
        .select($"src", $"dst")
      if (i % 2 == 0 || i == rounds) sym = truncate(sym)
    }
    sym.groupBy($"src").agg(count(lit(1)).as("core_deg"))
      .select($"src".as("node"), $"core_deg")
  }

  // ------------------------------------------------------------------
  // Driver-contract adapters (SURVEY.md §2 — graded graph queries)
  // ------------------------------------------------------------------

  /** q_pagerank: 5 PageRank iterations over the supplier→customer
    * trade graph (edges = distinct (l_suppkey, o_custkey) pairs via
    * the order key; 's'/'c' prefixes keep the two key spaces
    * disjoint). */
  def pageRankTrade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    pageRank(edges, 5)
      .select($"node", $"r".as("rank_fp"),
        round($"r".cast("double") / 1e12, 6).as("rank"))
      .orderBy($"node")
  }

  /** STRONGLY connected components by transitive-closure pointer
    * doubling (R₀ = E, R_{k+1} = R_k ∪ R_k∘R_k — paths up to 2^k
    * after k doublings; Valiant 1975's parallel closure): node u and
    * v share an SCC iff u→v AND v→u in the closure, and the SCC id
    * is the member minimum. Closure is Θ(n²) OUTPUT — this operator
    * is for the COARSE entity tier (nations, categories, datacenter
    * zones: the "does money cycle between regions" audit), never the
    * raw web graph; at that tier n² is a few thousand rows and every
    * doubling is one self-equi-join + a distinct, each shuffled on
    * the join key. (The web-scale SCC path is forward-backward label
    * propagation — out of scope while no graded corpus needs it.)
    *
    * @param edges (src, dst) directed pairs
    * @param doublings closure radius 2^doublings ≥ graph diameter
    * @return (node, scc_id, scc_size), every graph node covered
    */
  def stronglyConnected(edges: DataFrame, doublings: Int): DataFrame = {
    import edges.sparkSession.implicits._
    var r = edges.select($"src", $"dst").distinct()
    for (_ <- 1 to doublings) {
      val j = r.as("a").join(r.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      r = truncate(r.union(j).distinct())
    }
    val nodes = edges.select($"src".as("node"))
      .union(edges.select($"dst".as("node"))).distinct()
    val mutual = r.as("f").join(r.as("g"),
        col("f.src") === col("g.dst") && col("f.dst") === col("g.src"))
      .select(col("f.src").as("node"), col("f.dst").as("m"))
      .union(nodes.select($"node", $"node".as("m"))) // trivially mutual
    mutual.groupBy($"node")
      .agg(min($"m").as("scc_id"),
        countDistinct($"m").as("scc_size"))
  }

  /** q_scc: strongly connected components of the nation-level trade
    * graph — nation u → v when the u→v trade flow clears the mean
    * pair flow (an integer cross-multiplied threshold: cents·n_pairs
    * ≥ total — no float, no SF-tuned constant). "Does value CYCLE
    * between these economies, and in which blocs?" */
  def sccTrade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val flows = crossBorderLines(s, dir)
      .groupBy($"sn".as("src"), $"cn".as("dst"))
      .agg(sum($"cents").as("cents"))
      .localCheckpoint() // consumed by the threshold AND the filter
    val tot = flows.agg(sum($"cents").as("t"),
      count(lit(1)).as("np"))
    val edges = flows.crossJoin(broadcast(tot))
      .filter($"cents" * $"np" >= $"t")
      .select($"src", $"dst")
    stronglyConnected(edges, 5)
      .select($"node".cast("long").as("nation"),
        $"scc_id".cast("long").as("scc_id"), $"scc_size")
      .orderBy($"nation")
  }

  /** MIN-PLUS distance closure by doubling (the tropical-semiring
    * matrix squaring — D_{k+1}(u,v) = min(D_k(u,v),
    * min_x D_k(u,x) + D_k(x,v)); k doublings close paths of 2^k
    * edges): all-pairs hop distances on a COARSE graph. Same n²
    * output contract and tier as [[stronglyConnected]]. */
  def hopClosure(edges: DataFrame, doublings: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .filter($"src" =!= $"dst").distinct()
    val nodes = sym.select($"src".as("n")).distinct()
    var d = sym.select($"src", $"dst", lit(1L).as("dist"))
      .union(nodes.select($"n".as("src"), $"n".as("dst"),
        lit(0L).as("dist")))
    for (_ <- 1 to doublings) {
      val via = d.as("p").join(d.as("q"),
          col("p.dst") === col("q.src"))
        .select(col("p.src").as("src"), col("q.dst").as("dst"),
          (col("p.dist") + col("q.dist")).as("dist"))
      d = truncate(d.union(via).groupBy($"src", $"dst")
        .agg(min($"dist").as("dist")))
    }
    d
  }

  /** q_eccentricity: per-nation ECCENTRICITY (max hop distance to
    * any reached nation) over the undirected thresholded trade graph
    * (the [[sccTrade]] edge derivation symmetrized), plus the graph
    * RADIUS (min ecc) and DIAMETER (max ecc) — the "how far is the
    * farthest economy" audit; unreached pairs are EXCLUDED and
    * n_reached says so (the harmonic-centrality convention). */
  def eccentricityTrade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val flows = crossBorderLines(s, dir)
      .groupBy($"sn".as("src"), $"cn".as("dst"))
      .agg(sum($"cents").as("cents"))
      .localCheckpoint()
    val tot = flows.agg(sum($"cents").as("t"), count(lit(1)).as("np"))
    val edges = flows.crossJoin(broadcast(tot))
      .filter($"cents" * $"np" >= $"t")
      .select($"src", $"dst")
    val ecc = hopClosure(edges, 5)
      .groupBy($"src".as("nation"))
      .agg(max($"dist").as("ecc"),
        count(lit(1)).as("n_reached"))
    ecc.withColumn("radius", min($"ecc").over(Window.partitionBy()))
      .withColumn("diameter", max($"ecc").over(Window.partitionBy()))
      .select($"nation".cast("long").as("nation"), $"ecc",
        $"n_reached", $"radius", $"diameter")
      .orderBy($"nation")
  }

  /** q_mst: minimum spanning tree of the undirected nation trade
    * graph (weights = pair trade cents, made DISTINCT by the
    * (cents, a, b) composite key w = cents·1000 + a·30 + b — nation
    * keys < 25, so the key is injective and order-preserving on
    * cents). The MST is the "cheapest backbone" — which n−1 trade
    * relationships span every economy at minimum flow. The oracle
    * computes the SAME unique tree by a completely different
    * algorithm (minimax-path closure: an edge is in the MST iff no
    * path between its endpoints has all edges lighter — the cycle
    * property), so a hash match is algorithm-independent evidence.
    * Runs the I13 [[boruvkaMst]] engine (spec'd against Kruskal). */
  def mstTrade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pair = crossBorderLines(s, dir)
      .groupBy(least($"sn", $"cn").as("a"),
        greatest($"sn", $"cn").as("b"))
      .agg(sum($"cents").as("cents"))
    // consumed by the MST run AND the cents re-join: checkpoint so
    // the 4-way pair aggregation runs once
    val edges = pair.select($"a", $"b", $"cents",
      ($"cents" * 1000L + $"a" * 30L + $"b").as("w"))
      .localCheckpoint()
    boruvkaMst(edges.select($"a".as("src"), $"b".as("dst"), $"w"))
      .join(edges.select($"a", $"b", $"cents", $"w".as("w2")),
        Seq("a", "b"))
      .select($"a".cast("long").as("a"), $"b".cast("long").as("b"),
        $"cents", $"w2".as("w"))
      .orderBy($"w")
  }

  /** q_hits: 5 HITS iterations over the supplier→customer trade
    * graph (the [[pageRankTrade]] edge derivation) — suppliers are
    * the hub side (they point), customers the authority side. */
  def hitsTrade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    hits(edges, 5)
      .select($"node", $"hub_fp", $"auth_fp",
        round($"hub_fp".cast("double") / 1e6, 6).as("hub"),
        round($"auth_fp".cast("double") / 1e6, 6).as("auth"))
      .orderBy($"node")
  }

  /** q_triangles: per-part triangle counts over the co-order graph
    * (parts are adjacent when some order contains both). */
  def trianglesCoOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = coOrderPairs(s, dir)
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    triangleCounts(edges)
      .select($"node".cast("long").as("part"), $"triangles")
      .orderBy($"part")
  }

  /** q_bfs_hops: supply-chain reach — minimal hop distance from a
    * seed supplier cohort (every 20th supplier) through the
    * supplier↔part bipartite graph ('s'/'p' prefixes keep the key
    * spaces disjoint). Hop 1 = parts the cohort ships, hop 2 = its
    * co-supplier competitors, hop 3 = the competitors' other parts;
    * radius 4 covers the graph (propagation is converged on the test
    * corpus — round 4 adds nothing). */
  def bfsSupplyChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = supplyEdges(s, dir)
    val seeds = Tables.supplier(s, dir)
      .filter($"s_suppkey" % 20 === 1)
      .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"))
    bfsHops(sp, seeds, 4)
      .select($"node", $"hop".as("hops"))
      .orderBy($"node")
  }

  /** q_kcore: 3-core of the REPEATED co-order part graph (parts
    * adjacent when ≥2 order lines pair them — the ≥2 support floor
    * keeps the graph sparse where the raw co-order graph is
    * near-complete). 6 peel passes; the survivors are the stable
    * frequently-bundled cohort, each with its within-core degree —
    * the "bundle strength" a recommender or sampling prior consumes. */
  def kcoreCoOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canon = coOrderPairs(s, dir)
      .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .filter($"w" >= 2)
      .select($"src", $"dst")
    kCorePeel(canon, 3, 6)
      .select($"node".cast("long").as("part"), $"core_deg")
      .orderBy($"part")
  }

  /** I5 link prediction: common-neighbor and Jaccard scores for the
    * top non-adjacent vertex pairs (the "you might also bundle"
    * candidate list a recommender reads). Wedge enumeration through
    * each center (every common neighbor of (x, y) contributes exactly
    * one ordered wedge x < y), one grouped count per pair, adjacency
    * removed by an anti-join, Jaccard as the INTEGER ppm
    * cn·10⁶ div (dx+dy−cn). Top-k via orderBy+limit →
    * TakeOrderedAndProject, no global sort. Cost is Σ deg² wedges —
    * on a power-law graph cap hub degrees first (the D2 DF-cap
    * pattern); the ≥2-support co-order graph is already sparse.
    *
    * @param edges canonical (a, b) pairs, a < b, distinct
    */
  def linkPrediction(edges: DataFrame, topK: Int = 100): DataFrame = {
    import edges.sparkSession.implicits._
    val canon = edges.select($"a", $"b").localCheckpoint()
    val sym = canon.select($"a".as("u"), $"b".as("v"))
      .union(canon.select($"b".as("u"), $"a".as("v")))
    val deg = sym.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
    val wedges = sym.select($"u".as("c"), $"v".as("x"))
      .join(sym.select($"u".as("c"), $"v".as("y")), Seq("c"))
      .filter($"x" < $"y")
    val cn = wedges.groupBy($"x", $"y").agg(count(lit(1)).as("cn"))
    cn.join(canon.select($"a".as("x"), $"b".as("y")),
        Seq("x", "y"), "left_anti")
      .join(deg.select($"node".as("x"), $"d".as("dx")), "x")
      .join(deg.select($"node".as("y"), $"d".as("dy")), "y")
      .withColumn("jaccard_ppm", expr("cn * 1000000 div (dx + dy - cn)"))
      .select($"x", $"y", $"cn", $"dx", $"dy", $"jaccard_ppm")
      .orderBy($"cn".desc, $"jaccard_ppm".desc, $"x", $"y")
      .limit(topK)
  }

  /** q_link_predict: top-100 predicted part pairs over the same
    * ≥2-support co-order graph q_kcore peels. */
  def linkPredictCoOrder(s: SparkSession, dir: String): DataFrame = {
    val canon = repeatedCoOrder(s, dir, "a", "b")
    linkPrediction(canon, 100)
  }

  /** The wedge-weighted link predictors (I27, I28) over canonical
    * (a, b) `edges`: every non-edge pair (x, y) with a common
    * neighbor c of degree ≥ 2, its common-neighbor count `cn` and
    * the sum `fp` of the centers' integer `weight` (a column over the
    * center degree `d`), top-`topK` by (fp desc, x, y), exported as
    * `out` = fp / 10⁹ at round 6. */
  private def wedgeWeightTopK(edges: DataFrame, weight: Column, fp: String,
      out: String, topK: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val canon = edges.select($"a", $"b").localCheckpoint()
    val sym = canon.select($"a".as("u"), $"b".as("v"))
      .union(canon.select($"b".as("u"), $"a".as("v")))
    val deg = sym.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
    val wdeg = deg.filter($"d" >= 2)
      .withColumn("w", weight)
    val wedges = sym.select($"u".as("c"), $"v".as("x"))
      .join(sym.select($"u".as("c"), $"v".as("y")), Seq("c"))
      .filter($"x" < $"y")
      .join(wdeg.select($"node".as("c"), $"w"), "c")
    val scored = wedges.groupBy($"x", $"y")
      .agg(count(lit(1)).as("cn"), sum($"w").as(fp))
    scored.join(canon.select($"a".as("x"), $"b".as("y")),
        Seq("x", "y"), "left_anti")
      .orderBy(col(fp).desc, $"x", $"y")
      .limit(topK)
      .select($"x", $"y", $"cn",
        round(col(fp).cast("double") / 1e9, 6).as(out))
  }

  /** I27 ADAMIC-ADAR link prediction (Adamic-Adar 2003 — the
    * frequency-weighted upgrade of I5's common neighbors: a shared
    * RARE neighbor is strong evidence, a shared hub is none, so each
    * common neighbor z scores 1/ln(deg z); the standard baseline
    * every link-prediction paper reports next to CN/Jaccard): same
    * wedge enumeration as I5, each wedge weighted at its CENTER by
    * the fixed-point integer round(10⁹/ln(deg c)) — the A82
    * convention keeps the per-pair sum an exact BIGINT fold — then
    * the non-edge top-k rides orderBy().limit() (TakeOrdered). A
    * wedge center has ≥ 2 neighbors by construction, so ln ≥ ln 2 —
    * the deg-1 pole cannot enter a wedge.
    *
    * SCALE CONTRACT: the wedge frame is Σ deg(c)² over centers —
    * aggregate-shaped and fine on bounded-degree graphs (stressed at
    * 2·10⁶ edges / Σd²≈4·10⁷), but a 10⁵-degree hub alone yields
    * 10¹⁰ wedges; hub-skewed graphs need a degree cap (drop or
    * sample centers above it — hubs score ~1/ln(deg) ≈ nothing
    * anyway) or the E37-style cell prune before this operator. */
  def adamicAdar(edges: DataFrame, topK: Int = 100): DataFrame = {
    import edges.sparkSession.implicits._
    wedgeWeightTopK(edges,
      round(lit(1e9) / log($"d".cast("double"))).cast("long"),
      "aa_fp", "adamic_adar", topK)
  }

  /** q_adamic_adar: top-100 AA-predicted part pairs over the I5
    * graph. */
  def adamicAdarCoOrder(s: SparkSession, dir: String): DataFrame = {
    val canon = repeatedCoOrder(s, dir, "a", "b")
    adamicAdar(canon, 100)
  }

  /** I6 degree assortativity (Newman 2002) — ARE hubs wired to hubs?
    * The one-number mixing diagnostic read before trusting any
    * sampling/pruning policy on a derived graph: social-like graphs
    * assort (r > 0, hub-hub), dependency/co-purchase graphs usually
    * disassort (r < 0, hubs bind leaves), and which regime holds
    * decides whether hub-capping (the D2/I5 bound) removes noise or
    * structure. r = Pearson correlation of endpoint degrees over the
    * SYMMETRIC directed edge list (each undirected edge counted both
    * ways, so Σj = Σk and one sum set suffices).
    *
    * Exactness: every sufficient statistic is an exact decimal(38,0)
    * sum of BIGINT degree products (the C18/A39 posture — clears
    * int64 at hub degrees ≫ 10⁶), the denominator-zero regular-graph
    * case nulls EXPLICITLY (Spark doubles divide to ±Inf where
    * decimals null — the guard keeps both engines on the same
    * branch), and the one division is the export. Cost: one degree
    * aggregate + two broadcast-or-shuffle joins back + one global
    * fold — all shuffles on the node key. */
  def assortativity(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val canon = edges.select($"a", $"b").localCheckpoint()
    val sym = canon.select($"a".as("u"), $"b".as("v"))
      .union(canon.select($"b".as("u"), $"a".as("v")))
    val deg = sym.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
    val je = sym
      .join(deg.select($"node".as("u"), $"d".as("j")), "u")
      .join(deg.select($"node".as("v"), $"d".as("k")), "v")
    val s = je.agg(
      count(lit(1)).as("m"),
      sum($"j".cast("decimal(38,0)") * $"k").as("sjk"),
      sum($"j".cast("decimal(38,0)")).as("sj"),
      sum($"j".cast("decimal(38,0)") * $"j").as("sjj"))
    val counts = deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(canon.agg(count(lit(1)).as("n_edges")))
    counts.crossJoin(s)
      .withColumn("num", $"m" * $"sjk" - $"sj" * $"sj")
      .withColumn("den", $"m" * $"sjj" - $"sj" * $"sj")
      .select($"n_nodes", $"n_edges",
        when($"den" =!= 0,
          round($"num".cast("double") / $"den".cast("double"), 6))
          .as("assortativity"))
  }

  /** I7 local clustering coefficient — per node, how close its
    * neighborhood is to a clique: cc = 2·T(v) / (d(v)·(d(v)−1)),
    * the Watts-Strogatz statistic that separates clustered
    * community structure from hub-spoke sprawl (a corpus-derived
    * graph with high degree but near-zero clustering is co-occurrence
    * noise, not community signal — the audit before trusting D8's
    * components as topical clusters). Triangle counts come from the
    * I2 degree-oriented enumeration (O(E^{3/2}) wedges); the
    * coefficient is integer ppm over exact BIGINTs (swap to
    * decimal(38,0) past 10⁹-triangle hubs), deg < 2 nulls by
    * definition. One extra node-keyed join over I2's cost. */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val deg = degrees(canonical(edges))
    triangleCounts(edges).join(deg, "node")
      .select($"node", $"d", $"triangles",
        when($"d" >= 2,
          expr("triangles * 2000000 div (d * (d - 1))")).as("cc_ppm"))
      .orderBy($"node")
  }

  /** q_clustering_coeff: local clustering over the ≥2-support
    * co-order part graph (the q_kcore graph — the raw co-order graph
    * is near-complete, where clustering is trivially ~1). */
  def ccCoOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canon = repeatedCoOrder(s, dir, "src", "dst")
    clusteringCoeff(canon)
      .select($"node".cast("long").as("part"), $"d", $"triangles",
        $"cc_ppm")
      .orderBy($"part")
  }

  /** I9 community detection by deterministic SYNCHRONOUS label
    * propagation (Raghavan et al. 2007 made reproducible: all nodes
    * update simultaneously from neighbor labels, winner = highest
    * neighbor-vote count with the SMALLEST-LABEL tie rule — the A28
    * struct-extremum, so no random visit order anywhere), plus the
    * MODULARITY audit of the resulting partition (Newman-Girvan Q —
    * "are these communities denser than chance?" — the companion
    * check to I7: clustering says the graph HAS local structure,
    * Q says the partition FOUND it).
    *
    * `rounds` fixed sweeps, each one symmetric-edge join + one
    * (node, label) vote aggregate + one struct-max per node — the
    * I1/I3 per-round shape, lineage truncated per round; cost per
    * round is O(E) shuffled on node keys. Q assembles from EXACT
    * decimal(38,0) numerators — Q = (2·(2m)·Σe_c − Σd_c²)/(2m)²
    * with (2m)² past int64 at ~1.5·10⁹ edges — and takes ONE double
    * division for the total plus one per exported row, round-6.
    * Output: top-`topK` communities by (size DESC, label) with
    * (n_nodes, e_in, d_sum, contrib) + the global q_total repeated;
    * communities beyond the top-K still count inside q_total. */
  def labelPropagation(edges: DataFrame, rounds: Int,
      topK: Int = 10): DataFrame = {
    import edges.sparkSession.implicits._
    val canon = truncate(canonical(edges))
    val sym = truncate(
      canon.union(canon.select($"b".as("a"), $"a".as("b"))))
    var labels = sym.select($"a".as("v")).distinct()
      .withColumn("lab", $"v")
    for (_ <- 1 to rounds) {
      val votes = sym.join(labels, sym("b") === labels("v"))
        .groupBy(sym("a").as("node"), $"lab")
        .agg(count(lit(1)).as("c"))
      labels = truncate(votes.groupBy($"node")
        .agg(max(struct($"c", (-$"lab").as("nl"))).as("m"))
        .select($"node".as("v"), (-$"m.nl").as("lab")))
    }
    modularitySummary(canon, sym, labels, topK)
  }

  /** The I9 modularity audit tail shared by the community detectors:
    * per-community (n_nodes, e_in, d_sum, contrib) + the global Q,
    * EXACT decimal(38,0) numerators, one double division per row. */
  private def modularitySummary(canon: DataFrame, sym: DataFrame,
      labels: DataFrame, topK: Int): DataFrame = {
    import canon.sparkSession.implicits._
    val deg = sym.groupBy($"a".as("node")).agg(count(lit(1)).as("d"))
    val members = labels.join(deg, $"v" === $"node")
      .groupBy($"lab".as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum($"d").as("d_sum"))
    val ein = canon
      .join(labels.select($"v".as("av"), $"lab".as("la")), $"a" === $"av")
      .join(labels.select($"v".as("bv"), $"lab".as("lb")), $"b" === $"bv")
      .filter($"la" === $"lb")
      .groupBy($"la".as("community")).agg(count(lit(1)).as("e_in"))
    val comm = members.join(ein, Seq("community"), "left")
      .na.fill(0L, Seq("e_in"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val totals = comm.agg(
      sum($"e_in").as("se"),
      sum(dec($"d_sum") * $"d_sum").as("sdd"),
      sum($"d_sum").as("t2m"))
    comm.crossJoin(broadcast(totals))
      .withColumn("den", (dec($"t2m") * $"t2m").cast("double"))
      .select($"community", $"n_nodes", $"e_in", $"d_sum",
        round((lit(2).cast("decimal(38,0)") * $"t2m" * $"e_in" -
          dec($"d_sum") * $"d_sum").cast("double") / $"den", 6)
          .as("contrib"),
        round((lit(2).cast("decimal(38,0)") * $"t2m" * $"se" - $"sdd")
          .cast("double") / $"den", 6).as("q_total"))
      .orderBy(desc("n_nodes"), $"community")
      .limit(topK)
  }

  /** I25 LOUVAIN MOVE PASSES (Blondel et al. 2008, the local-move
    * half, run as SYNCHRONOUS parallel sweeps — the distributed
    * convention, e.g. GraphX/Grappolo-style; classic Louvain's
    * sequential visit order does not exist on a cluster): each sweep
    * every node considers its neighbor communities and takes the
    * modularity-argmax move. The gain comparison is INTEGER-EXACT by
    * clearing the 1/(2m) denominators: argmax_c of
    * ΔQ ∝ 2m·k_in(i,c) − k_i·Σtot′(c), with Σtot′(c) excluding i
    * when c is its current community — BIGINT throughout (switch to
    * decimal(38,0) past ~10⁹ edges), ties to the LOWER community id,
    * so both engines pick identical moves with zero float anywhere
    * in the loop. Output: the I9 modularity summary of the final
    * partition. Per sweep: one sym-frame join (k_in), one bounded
    * label aggregate (Σtot), one struct-argmax — the LPA cost class,
    * O(E) shuffled on node keys. */
  def louvainMoves(edges: DataFrame, sweeps: Int,
      topK: Int = 10): DataFrame = {
    import edges.sparkSession.implicits._
    val canon = truncate(canonical(edges))
    val sym = truncate(
      canon.union(canon.select($"b".as("a"), $"a".as("b"))))
    val deg = truncate(
      sym.groupBy($"a".as("node")).agg(count(lit(1)).as("d")))
    val m2 = deg.agg(sum($"d")).head.getLong(0) // 2m: one bounded agg
    var labels = sym.select($"a".as("v")).distinct()
      .withColumn("lab", $"v")
    for (_ <- 1 to sweeps) {
      val tot = labels.join(deg, $"v" === $"node")
        .groupBy($"lab".as("c")).agg(sum($"d").as("tot"))
      val kin = sym.join(labels.select($"v", $"lab".as("nc")),
          sym("b") === $"v")
        .groupBy(sym("a").as("node"), $"nc".as("c"))
        .agg(count(lit(1)).as("kin"))
      // the stay option must exist even with no same-community
      // neighbor: a zero row merges via max (true k_in ≥ 0)
      val cand = kin
        .unionByName(labels.select($"v".as("node"), $"lab".as("c"),
          lit(0L).as("kin")))
        .groupBy($"node", $"c").agg(max($"kin").as("kin"))
      val scored = cand
        .join(labels.select($"v".as("node"), $"lab".as("cur")), "node")
        .join(deg, "node")
        .join(tot, "c")
        .withColumn("totadj",
          $"tot" - when($"c" === $"cur", $"d").otherwise(lit(0L)))
        .withColumn("score", lit(m2) * $"kin" - $"d" * $"totadj")
      labels = truncate(scored.groupBy($"node")
        .agg(max(struct($"score", (-$"c").as("nc"))).as("m"))
        .select($"node".as("v"), (-$"m.nc").as("lab")))
    }
    modularitySummary(canon, sym, labels, topK)
  }

  /** q_louvain: 2 synchronous Louvain move sweeps + modularity over
    * the ≥2-support co-order part graph (the q_communities graph —
    * same input, gain-driven moves instead of plurality votes). */
  def louvainCoOrder(s: SparkSession, dir: String): DataFrame = {
    val canon = repeatedCoOrder(s, dir, "src", "dst")
    louvainMoves(canon, 2)
  }

  /** q_communities: 3 LPA sweeps + modularity over the ≥2-support
    * co-order part graph (the q_kcore/I5/I6/I7 graph). */
  def communitiesCoOrder(s: SparkSession, dir: String): DataFrame = {
    val canon = repeatedCoOrder(s, dir, "src", "dst")
    labelPropagation(canon, 3)
  }

  /** I8 power-law degree-distribution fit (Clauset/Shalizi/Newman's
    * discrete MLE with the standard −½ continuity correction):
    * α = 1 + n_tail / Σ_{d ≥ dmin} ln(d / (dmin − ½)) — the
    * scale-free diagnostic that decides whether hub-capping policies
    * (the D2/I5 Σdeg² bounds) face a heavy tail at all, and the
    * exponent they must budget for. Exact integer degrees; the ln
    * terms fold in NODE order (F26 precedent); α, the tail share,
    * and d_max export rounded/integer. One degree aggregate + one
    * bounded fold. */
  def powerlawFit(edges: DataFrame, dMin: Long = 2L): DataFrame = {
    import edges.sparkSession.implicits._
    val deg = degrees(canonical(edges))
    val tail = deg.filter($"d" >= dMin)
    val all = deg.agg(count(lit(1)).as("n_nodes"), max($"d").as("d_max"))
    val t = tail.agg(count(lit(1)).as("n_tail"),
      sort_array(collect_list(struct($"node", $"d"))).as("ps"))
    all.crossJoin(t)
      .withColumn("lsum", expr(
        s"aggregate(ps, 0D, (a, p) -> a + ln(cast(p.d as double) / ${dMin - 0.5}))"))
      .select($"n_nodes", $"n_tail", $"d_max",
        expr("n_tail * 1000000 div n_nodes").as("tail_ppm"),
        when($"lsum" > 0,
          round(lit(1.0) + $"n_tail".cast("double") / $"lsum", 4))
          .as("alpha"))
  }

  /** q_powerlaw: degree-tail fit of the raw co-order part graph (the
    * hub-heavy q_triangles graph — the ≥2-support floor would
    * truncate exactly the tail being measured). */
  def powerlawCoOrder(s: SparkSession, dir: String): DataFrame = {
    val edges = coOrderPairs(s, dir)
      .select(col("x.l_partkey").cast("long").as("src"),
        col("y.l_partkey").cast("long").as("dst"))
    powerlawFit(edges)
  }

  /** q_assortativity: degree mixing of the ≥2-support co-order part
    * graph (the q_kcore/q_link_predict graph). */
  def assortativityCoOrder(s: SparkSession, dir: String): DataFrame = {
    val canon = repeatedCoOrder(s, dir, "a", "b")
    assortativity(canon)
  }

  /** Weighted single/multi-source shortest paths by bounded
    * Bellman-Ford min-plus propagation (the weighted generalization
    * of [[bfsHops]] — Cormen et al. §24.1, and the standard
    * Pregel-style SSSP every graph engine ships): each round every
    * labeled vertex offers dist+w over its out-edges and labels fold
    * by min. One equi-join + one min-agg per round, both plain
    * shuffles on the vertex id — no driver-side state, any vertex
    * count. `rounds` bounds explored PATH LENGTH (edge count): with
    * nonneg weights, rounds ≥ the hop-diameter of interest yields
    * the converged distance (a non-converged budget is still exact
    * parity — the oracle unrolls the SAME rounds). All-integer
    * distances; lineage truncated every 2nd round like the D8/I4
    * iterators.
    *
    * @param edges (src, dst, w) DIRECTED weighted edges (symmetrize
    *              before calling for undirected semantics); w ≥ 0
    * @param seeds (node) distance-0 vertices
    * @return (node, dist) minimal path weight per reached vertex
    */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val e = stash(edges.select($"src", $"dst", $"w"))
    var labels = seeds.select($"node").distinct()
      .select($"node", lit(0L).as("dist"))
    for (i <- 1 to rounds) {
      val offers = e.join(labels.withColumnRenamed("node", "src"), "src")
        .select($"dst".as("node"), ($"dist" + $"w").as("dist"))
      labels = labels.union(offers)
        .groupBy($"node").agg(min($"dist").as("dist"))
      if (i % 2 == 0 || i == rounds) labels = truncate(labels)
    }
    labels = materialize(labels) // before e.unpersist — see pageRank
    e.unpersist()
    labels
  }

  /** q_sssp: cheapest supply-chain reach — minimal total-quantity
    * path from the every-20th-supplier cohort through the
    * supplier↔part bipartite graph (the q_bfs_hops graph, weighted:
    * edge cost = the smallest line quantity ever shipped on that
    * supplier–part lane). 4 rounds covers the radius the BFS twin
    * established. */
  def ssspSupplyChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spw = Tables.lineitem(s, dir)
      .groupBy(concat(lit("s"), $"l_suppkey".cast("string")).as("src"),
        concat(lit("p"), $"l_partkey".cast("string")).as("dst"))
      .agg(min($"l_quantity").cast("long").as("w"))
    val sym = spw.union(spw.select($"dst".as("src"), $"src".as("dst"), $"w"))
    val seeds = Tables.supplier(s, dir)
      .filter($"s_suppkey" % 20 === 1)
      .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"))
    sssp(sym, seeds, 4)
      .select($"node", $"dist")
      .orderBy($"node")
  }

  /** Per-edge triangle SUPPORT over a canonical (a < b) edge set —
    * the edge-level analogue of [[triangleCounts]], same
    * degree-ordered wedge enumeration (each triangle found exactly
    * once, Σ out-deg² work bound), then each triangle credits its
    * three edges. Edges in no triangle are ABSENT (support 0) —
    * callers coalesce. */
  private def edgeSupport(canon: DataFrame): DataFrame = {
    import canon.sparkSession.implicits._
    // canon is checkpoint-backed in every caller, so the count + bloom
    // passes of closedWedges read the cached RDD
    val fwd = oriented(canon, degrees(canon))
      .transform(truncate) // lazy: consumed 3x, computed once
    val tri = closedWedges(canon, fwd)
    tri.select(explode(array(
        struct(least($"u", $"x").as("a"), greatest($"u", $"x").as("b")),
        struct(least($"u", $"y").as("a"), greatest($"u", $"y").as("b")),
        struct(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))))
        .as("e"))
      .groupBy($"e.a".as("a"), $"e.b".as("b"))
      .agg(count(lit(1)).as("sup"))
  }

  /** I11 K-TRUSS decomposition, bounded rounds (Cohen 2008 — the
    * EDGE-level cohesion rung above I4's k-core: a k-core node needs
    * k neighbors, a k-truss edge needs k−2 triangles through it, so
    * trusses are the "every tie is multiply witnessed" communities
    * spam/fraud and community-core analyses peel to): repeatedly
    * drop edges with support < k−2, recomputing support on the
    * survivor graph each round. `rounds` bounds the peel depth — a
    * non-converged budget is still exact parity (the oracle unrolls
    * the SAME rounds, the I10/I4 budget contract). Per round: one
    * support computation (degree-ordered triangle enumeration — two
    * equi-joins + one semi-join + one count, all shuffles on node
    * ids) and one filter; edge set localCheckpointed per round so
    * plans stay constant-size. ALL integer — no float anywhere. */
  def ktruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    var canon = truncate(canonical(edges))
    for (_ <- 1 to rounds) {
      val sup = edgeSupport(canon)
      canon = truncate(sup.filter($"sup" >= k - 2).select($"a", $"b"))
    }
    canon.join(edgeSupport(canon), Seq("a", "b"), "left")
      .select($"a", $"b", coalesce($"sup", lit(0L)).as("support"))
      .orderBy($"a", $"b")
  }

  /** q_ktruss: 5-truss of the raw co-order part graph (the
    * q_triangles graph — the ≥2-support thresholded variant has no
    * nontrivial truss at small SF; the raw graph's per-order cliques
    * are exactly the multiply-witnessed ties trusses formalize) —
    * 2 peel rounds, converged on the test corpus. */
  def ktrussCoOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .filter($"l_partkey" % 2 === 0)
      .select($"l_orderkey", $"l_partkey")
    val canon = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").cast("long").as("src"),
        col("y.l_partkey").cast("long").as("dst"))
    ktruss(canon, 5, 2)
      .select($"a".as("part_a"), $"b".as("part_b"), $"support")
  }

  /** I13 distributed MINIMUM SPANNING FOREST via Borůvka (1926; the
    * provably O(log V)-round member of the MST family and the one
    * that distributes — Kruskal's global edge sort and Prim's single
    * frontier do not): every component picks its lightest outgoing
    * edge under the STRICT total order (w, a, b) — a total order
    * makes the MSF unique, so no tie can create a cycle and the
    * result is deterministically comparable against a driver-side
    * Kruskal — then picked components CONTRACT via the alternating
    * star-contraction CC (conjoined-tree chains can be path-deep, the
    * regime label propagation cannot touch). Components at least
    * halve per round ⇒ ⌈log₂V⌉ rounds; each round is two comp joins,
    * one min-struct aggregate, and a component-graph contraction —
    * all shuffles on node/component ids, no driver-side graph state.
    * Spec-verified (iterative contraction is not SQL-expressible;
    * correctness is pinned by exact Kruskal equality on random
    * graphs + a planted-structure case). Weights BIGINT. */
  def boruvkaMst(edges: DataFrame, rounds: Int = 16): DataFrame = {
    import edges.sparkSession.implicits._
    val canon = truncate(edges
      .select(least($"src", $"dst").as("a"),
        greatest($"src", $"dst").as("b"), $"w")
      .filter($"a" =!= $"b")
      .groupBy($"a", $"b").agg(min($"w").as("w")))
    val verts = canon.select($"a".as("id"))
      .union(canon.select($"b".as("id"))).distinct()
    var comp = truncate(verts.select($"id", $"id".as("c")))
    var mst = truncate(canon.limit(0))
    var done = false
    var r = 0
    while (!done && r < rounds) {
      // lazy truncates throughout: the per-round isEmpty is the ONE
      // action, and it materializes the whole round's chain (ec plus
      // last round's chosen/comp/mst checkpoints) in a single job
      val ec = truncate(canon
        .join(comp.select($"id".as("a"), $"c".as("ca")), "a")
        .join(comp.select($"id".as("b"), $"c".as("cb")), "b")
        .filter($"ca" =!= $"cb"))
      if (ec.isEmpty) done = true
      else {
        val halves = ec.select($"ca".as("g"), $"w", $"a", $"b")
          .union(ec.select($"cb".as("g"), $"w", $"a", $"b"))
        val chosen = truncate(halves.groupBy($"g")
          .agg(min(struct($"w", $"a", $"b")).as("e"))
          .select($"e.a".as("a"), $"e.b".as("b"), $"e.w".as("w"))
          .distinct())
        mst = truncate(mst.union(chosen))
        val cedges = ec.join(chosen, Seq("a", "b", "w"), "left_semi")
          .select($"ca".as("src"), $"cb".as("dst"))
        val mapping = connectedComponentsAltStar(cedges,
            comp.select($"c".as("id")).distinct())
          .select($"id".as("c"), $"component".as("nc"))
        comp = truncate(comp.join(mapping, Seq("c"), "left")
          .select($"id", coalesce($"nc", $"c").as("c")))
      }
      r += 1
    }
    // components only HALVE per round, so >~2^rounds initial
    // components can exhaust the budget — fail loudly (the
    // resolveRemapClosure posture) instead of silently returning a
    // partial spanning forest
    require(done,
      s"boruvkaMst did not converge within $rounds rounds; " +
        "raise the rounds budget (components halve per round)")
    mst.orderBy($"w", $"a", $"b")
  }

  /** I12 LANDMARK HARMONIC centrality (Marchiori-Latora harmonic
    * sums from a seed cohort — the Eppstein-Wang landmark shape: at
    * graph scale nobody runs all-pairs BFS, they pick K landmarks
    * and sum 1/d from those; harmonic rather than closeness so
    * UNREACHED pairs contribute 0 instead of poisoning the mean —
    * the right convention on disconnected commerce graphs): per-seed
    * min-hop labels propagate exactly like I3 but keyed (node, seed),
    * then H(v) = Σ_seeds 1/d(s,v). The reciprocal sum is EXACT
    * integer ppm — 10⁶ div hop per term (hop ≤ radius, so the floor
    * values are a fixed small set) — making the aggregate
    * order-free where a double Σ1/d would depend on fold order.
    * State is nodes × K labels (landmark-bounded, the I3 budget
    * argument per seed); radius caps each propagation. */
  def harmonicFromSeeds(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    // persist (InMemoryRelation), NOT stash: the checkpoint RDD's
    // PROPAGATED origin stats underestimate the string-keyed sym frame
    // (~8 MB est for 1.18M rows), so the planner broadcast sym and
    // streamed the 1-partition frontier — a single-threaded exploding
    // join measured at 23 s for one round. The cache's honest
    // materialized size keeps the per-round joins shuffle-based.
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst"))).persist()
    // FRONTIER propagation (the Pregel/BFS-wave shape): only nodes
    // first reached last round offer this round — correct because
    // hops are round numbers, so a (node, seed) pair's FIRST reach is
    // its minimum and every re-offer is dominated. Work per round is
    // frontier×degree, not labels×degree (measured 1.6× on the
    // graded query vs re-offering the full label set every round);
    // labels is a union of already-checkpointed frontiers, so it
    // needs no checkpoint of its own.
    var labels = seeds.select($"node").distinct()
      .select($"node", $"node".as("seed"), lit(0L).as("hop"))
      .transform(truncate)
    var frontier = labels
    for (i <- 1 to rounds) {
      val offers = sym.join(frontier.withColumnRenamed("node", "src"), "src")
        .select($"dst".as("node"), $"seed", ($"hop" + 1).as("hop"))
      frontier = truncate(offers.groupBy($"node", $"seed")
        .agg(min($"hop").as("hop"))
        .join(labels.select($"node", $"seed"), Seq("node", "seed"),
          "left_anti"))
      labels = labels.union(frontier)
    }
    // frontiers chain (each reads the previous), so ONE job computes
    // all rounds — replacing the old eager checkpoint-per-round, which
    // paid a driver round-trip per round; runs before sym.unpersist
    materialize(frontier)
    sym.unpersist()
    labels.filter($"hop" >= 1)
      .groupBy($"node")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div hop")).as("harmonic_ppm"))
      .orderBy($"node")
  }

  /** q_harmonic: landmark harmonic centrality over the I3
    * supplier↔part graph from every 40th supplier, radius 4 —
    * "which parts and suppliers sit closest to the cohort"
    * (a supply-chain criticality ranking). */
  def harmonicSupplyChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = supplyEdges(s, dir)
    val seeds = Tables.supplier(s, dir)
      .filter($"s_suppkey" % 40 === 2)
      .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"))
    harmonicFromSeeds(sp, seeds, 4)
  }

  /** I14 RICH-CLUB connectivity profile (Zhou & Mondragón 2004 —
    * "do the hubs trade with EACH OTHER or only fan out?": for each
    * degree threshold k, φ(k) = 2·E_{>k}/(N_{>k}(N_{>k}−1)), the
    * edge density among nodes of degree > k; a rising φ(k) means an
    * oligarchic core, the structural fact behind skew planning —
    * C10's salting exists because rich clubs exist).
    *
    * 100 TB shape: NO per-threshold corpus pass — degrees and
    * per-edge min-endpoint-degrees reduce once into VALUE-DOMAIN
    * histograms, and every threshold reads the histograms (a
    * broadcast inequality join against the literal k ladder); all
    * counts and the φ ppm stay exact integers. */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    import edges.sparkSession.implicits._
    val deg = edges.select($"src".as("node"))
      .unionByName(edges.select($"dst".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val em = edges
      .join(deg.select($"node".as("src"), $"deg".as("ds")), "src")
      .join(deg.select($"node".as("dst"), $"deg".as("dt")), "dst")
      .select(least($"ds", $"dt").as("m"))
    val degH = deg.groupBy($"deg").agg(count(lit(1)).as("c"))
    val emH = em.groupBy($"m").agg(count(lit(1)).as("c"))
    val kdf = ks.toDF("k")
    val nk = kdf.join(broadcast(degH), $"deg" > $"k", "left")
      .groupBy($"k").agg(coalesce(sum($"c"), lit(0L)).as("n_nodes"))
    val ek = kdf.join(broadcast(emH), $"m" > $"k", "left")
      .groupBy($"k").agg(coalesce(sum($"c"), lit(0L)).as("n_edges"))
    nk.join(ek, "k")
      .select($"k", $"n_nodes", $"n_edges",
        when($"n_nodes" >= 2L, expr(
          "2 * n_edges * 1000000 div (n_nodes * (n_nodes - 1))"))
          .as("phi_ppm"))
      .orderBy($"k")
  }

  /** q_rich_club: rich-club profile of the supplier↔customer trade
    * graph over the k = 1..64 doubling ladder ('s'/'c' prefixes keep
    * the key spaces disjoint; the graph is bipartite, so φ includes
    * the same-side pairs a null model would exclude — stated: this
    * grades hub-hub CONNECTIVITY concentration, not a z-score). */
  def richClubTrade(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir).distinct()
    richClub(edges, Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L))
  }

  /** I28 RESOURCE-ALLOCATION link prediction (Zhou, Lü & Zhang 2009
    * — the third classical wedge-weighted predictor next to I5's
    * common neighbors and I27's Adamic-Adar, and on co-occurrence
    * graphs usually the strongest of the three: each common neighbor
    * z contributes 1/deg(z) — it "allocates one unit of resource"
    * across its links, so a hub's endorsement dilutes LINEARLY where
    * AA only discounts logarithmically): same wedge enumeration as
    * I5/I27, center weight = the EXACT integer 10⁹ div deg(c) (pure
    * floor division — unlike AA's round(10⁹/ln d) there is no libm
    * call anywhere), per-pair sums exact BIGINT, non-edge top-k on
    * the (ra desc, x, y) total order via TakeOrdered. Same Σdeg²
    * scale contract as I27 (hub cap / E37 prune past bounded
    * degree). */
  def resourceAllocation(edges: DataFrame, topK: Int = 100): DataFrame = {
    wedgeWeightTopK(edges, expr("1000000000 div d"), "ra_fp",
      "resource_alloc", topK)
  }

  /** q_resource_alloc: top-100 RA-predicted part pairs over the I27
    * graph. */
  def resourceAllocCoOrder(s: SparkSession, dir: String): DataFrame = {
    val canon = repeatedCoOrder(s, dir, "a", "b")
    resourceAllocation(canon, 100)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_resource_alloc" -> resourceAllocCoOrder,
    "q_rich_club" -> richClubTrade,
    "q_harmonic" -> harmonicSupplyChain,
    "q_ktruss" -> ktrussCoOrder,
    "q_sssp" -> ssspSupplyChain,
    "q_communities" -> communitiesCoOrder,
    "q_clustering_coeff" -> ccCoOrder,
    "q_powerlaw" -> powerlawCoOrder,
    "q_assortativity" -> assortativityCoOrder,
    "q_pagerank" -> pageRankTrade,
    "q_hits" -> hitsTrade,
    "q_scc" -> sccTrade,
    "q_mst" -> mstTrade,
    "q_eccentricity" -> eccentricityTrade,
    "q_ppr" -> pprTrade,
    "q_triangles" -> trianglesCoOrder,
    "q_bfs_hops" -> bfsSupplyChain,
    "q_path_counts" -> pathCountsSupplyChain,
    "q_betweenness" -> betweennessSupplyChain,
    "q_louvain" -> louvainCoOrder,
    "q_random_walks" -> randomWalksSupplyChain,
    "q_clustering" -> localClusteringCoOrder,
    "q_katz" -> katzCoOrder,
    "q_link_predict" -> linkPredictCoOrder,
    "q_adamic_adar" -> adamicAdarCoOrder,
    "q_kcore" -> kcoreCoOrder)

  /** Unrolled 5-iteration PageRank CTE chain — the identical
    * fixed-point integer recurrence, so every rank is the same
    * BIGINT with no float anywhere until the export division. */
  private def pageRankSql(iters: Int): String = {
    val base =
      """WITH edges AS (
        |  SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (
        |  SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
        |nodes AS (
        |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |r0 AS (SELECT node, 1000000000000::BIGINT AS r FROM nodes)"""
        .stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    (150000000000 + coalesce(c.s, 0) * 17 // 20)::BIGINT AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, sum(rr.r // d.outdeg)::BIGINT AS s
         |    FROM edges e
         |    JOIN deg d ON e.src = d.src
         |    JOIN r${i - 1} rr ON rr.node = e.src
         |    GROUP BY e.dst) c ON n.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iterCtes
       |SELECT node, r AS rank_fp,
       |  round(r::DOUBLE / 1e12, 6) AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Unrolled closure twin for q_scc — MATERIALIZED base (each
    * doubling references the prior level twice, so the inlined tree
    * holds 2^k copies of the base: materialization keeps the 4-way
    * join single-scan), k doublings, the mutual join, the min/count
    * aggregate. Same integers as the Spark side. */
  private def sccSql(doublings: Int): String = {
    val base =
      """WITH flows AS MATERIALIZED (
        |  SELECT s_nationkey AS src, c_nationkey AS dst,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT sum(cents) AS t, count(*) AS np FROM flows),
        |e AS MATERIALIZED (
        |  SELECT src, dst FROM flows, tot WHERE cents * np >= t),
        |r0 AS (SELECT DISTINCT src, dst FROM e)""".stripMargin
    val lv = (1 to doublings).map { i =>
      s"""r$i AS (
         |  SELECT src, dst FROM r${i - 1}
         |  UNION
         |  SELECT a.src, b.dst
         |  FROM r${i - 1} a JOIN r${i - 1} b ON a.dst = b.src)"""
        .stripMargin
    }.mkString(",\n")
    s"""$base,
       |$lv,
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |mu AS (
       |  SELECT f.src AS node, f.dst AS m
       |  FROM r$doublings f JOIN r$doublings g
       |    ON f.src = g.dst AND f.dst = g.src
       |  UNION
       |  SELECT node, node FROM nodes)
       |SELECT node::BIGINT AS nation, min(m)::BIGINT AS scc_id,
       |  count(DISTINCT m)::BIGINT AS scc_size
       |FROM mu GROUP BY node ORDER BY nation""".stripMargin
  }

  /** Min-plus closure twin for q_eccentricity — the q_scc MATERIALIZED
    * base symmetrized, k min-plus doublings, per-node max + the
    * radius/diameter window. */
  private def eccentricitySql(doublings: Int): String = {
    val base =
      """WITH flows AS MATERIALIZED (
        |  SELECT s_nationkey AS src, c_nationkey AS dst,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT sum(cents) AS t, count(*) AS np FROM flows),
        |e AS MATERIALIZED (
        |  SELECT src, dst FROM flows, tot WHERE cents * np >= t),
        |sym AS (
        |  SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |nodes AS (SELECT DISTINCT src AS n FROM sym),
        |d0 AS (
        |  SELECT src, dst, 1::BIGINT AS dist FROM sym
        |  WHERE src <> dst
        |  UNION
        |  SELECT n, n, 0::BIGINT FROM nodes)""".stripMargin
    val lv = (1 to doublings).map { i =>
      s"""d$i AS (
         |  SELECT src, dst, min(dist)::BIGINT AS dist FROM (
         |    SELECT src, dst, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT p.src, q.dst, p.dist + q.dist
         |    FROM d${i - 1} p JOIN d${i - 1} q ON p.dst = q.src) s
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$lv,
       |ecc AS (
       |  SELECT src AS nation, max(dist)::BIGINT AS ecc,
       |    count(*)::BIGINT AS n_reached
       |  FROM d$doublings GROUP BY 1)
       |SELECT nation::BIGINT AS nation, ecc, n_reached,
       |  (min(ecc) OVER ())::BIGINT AS radius,
       |  (max(ecc) OVER ())::BIGINT AS diameter
       |FROM ecc ORDER BY nation""".stripMargin
  }

  /** Minimax-closure twin for q_mst — a DIFFERENT algorithm than the
    * Spark side's Borůvka: with distinct weights the MST is unique
    * and equals { e=(u,v,w) : minimax-path(u,v) = w } (cycle
    * property), and minimax distances close under doubling —
    * m_{k+1}(u,v) = min(m_k(u,v), min_x max(m_k(u,x), m_k(x,v))).
    * Agreement is therefore algorithm-independent evidence. */
  private def mstSql(doublings: Int): String = {
    val base =
      """WITH pair AS MATERIALIZED (
        |  SELECT least(s_nationkey, c_nationkey) AS a,
        |    greatest(s_nationkey, c_nationkey) AS b,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT a, b, cents,
        |    (cents * 1000 + a * 30 + b)::BIGINT AS w
        |  FROM pair),
        |m0 AS (
        |  SELECT a AS u, b AS v, w FROM e
        |  UNION ALL SELECT b, a, w FROM e)""".stripMargin
    val lv = (1 to doublings).map { i =>
      s"""m$i AS (
         |  SELECT u, v, min(w) AS w FROM (
         |    SELECT u, v, w FROM m${i - 1}
         |    UNION ALL
         |    SELECT p.u AS u, q.v AS v, greatest(p.w, q.w) AS w
         |    FROM m${i - 1} p JOIN m${i - 1} q
         |      ON p.v = q.u AND p.u <> q.v) s
         |  GROUP BY u, v)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$lv
       |SELECT e.a::BIGINT AS a, e.b::BIGINT AS b, e.cents, e.w
       |FROM e JOIN m$doublings m ON m.u = e.a AND m.v = e.b
       |  AND m.w = e.w
       |ORDER BY e.w""".stripMargin
  }

  /** Unrolled HITS twin — per iteration four CTEs: the in-edge sum,
    * its max-normalization (window max — a scalar subquery would
    * reference the prior CTE twice and double the inlined plan tree
    * per iteration), the out-edge sum, its normalization. Same exact
    * integers as the Spark side. */
  private def hitsSql(iters: Int): String = {
    val base =
      """WITH edges AS (
        |  SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (
        |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |h0 AS (SELECT node, 1000000::BIGINT AS h FROM nodes)"""
        .stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""a${i}r AS (
         |  SELECT n.node, coalesce(c.s, 0)::BIGINT AS a
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, sum(hh.h)::BIGINT AS s
         |    FROM edges e JOIN h${i - 1} hh ON hh.node = e.src
         |    GROUP BY e.dst) c ON n.node = c.dst),
         |a$i AS (
         |  SELECT node,
         |    (a * 1000000 // max(a) OVER ())::BIGINT AS a
         |  FROM a${i}r),
         |h${i}r AS (
         |  SELECT n.node, coalesce(c.s, 0)::BIGINT AS h
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.src, sum(aa.a)::BIGINT AS s
         |    FROM edges e JOIN a$i aa ON aa.node = e.dst
         |    GROUP BY e.src) c ON n.node = c.src),
         |h$i AS (
         |  SELECT node,
         |    (h * 1000000 // max(h) OVER ())::BIGINT AS h
         |  FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iterCtes
       |SELECT h.node, h.h AS hub_fp, a.a AS auth_fp,
       |  round(h.h::DOUBLE / 1e6, 6) AS hub,
       |  round(a.a::DOUBLE / 1e6, 6) AS auth
       |FROM h$iters h JOIN a$iters a ON h.node = a.node
       |ORDER BY h.node""".stripMargin
  }

  /** Unrolled personalized-PageRank twin — the [[pageRankSql]] chain
    * with the teleport term gated on the seed indicator. */
  private def pprSql(iters: Int): String = {
    val base =
      """WITH edges AS (
        |  SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (
        |  SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
        |nodes AS (
        |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |seeds AS (
        |  SELECT DISTINCT 's' || s_suppkey AS node FROM supplier
        |  WHERE s_suppkey % 20 = 1),
        |m AS (
        |  SELECT n.node,
        |    (CASE WHEN s.node IS NULL THEN 0 ELSE 1 END)::BIGINT
        |      AS is_seed
        |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
        |r0 AS (
        |  SELECT node, (1000000000000 * is_seed)::BIGINT AS r FROM m)"""
        .stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT m.node,
         |    (150000000000 * m.is_seed
         |      + coalesce(c.s, 0) * 17 // 20)::BIGINT AS r
         |  FROM m LEFT JOIN (
         |    SELECT e.dst, sum(rr.r // d.outdeg)::BIGINT AS s
         |    FROM edges e
         |    JOIN deg d ON e.src = d.src
         |    JOIN r${i - 1} rr ON rr.node = e.src
         |    GROUP BY e.dst) c ON m.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iterCtes
       |SELECT node, r AS ppr_fp,
       |  round(r::DOUBLE / 1e12, 6) AS ppr
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Unrolled path-count twin — per round, σ sums over the previous
    * FRONTIER only (f_{k-1}), with the settled set excluded. */
  /** Unrolled walk twin: identical hash hops over the identical
    * rank-indexed adjacency. */
  private def randomWalksSql(steps: Int): String = {
    val iters = (1 to steps).map { t =>
      s"""w$t AS (
         |  SELECT w.walk_id, $t::BIGINT AS step, a.dst AS cur
         |  FROM w${t - 1} w JOIN adj a ON a.src = w.cur
         |    AND a.rn = 1 + ((w.cur % 1000000007) * 2654435761
         |      + $t * 40503) % 1000000007 % a.deg)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to steps).map(t => s"SELECT * FROM w$t")
      .mkString("\nUNION ALL\n")
    s"""WITH sp AS (
       |  SELECT DISTINCT l_suppkey::BIGINT AS src,
       |    (4294967296 + l_partkey)::BIGINT AS dst
       |  FROM lineitem),
       |sym AS (SELECT src, dst FROM sp UNION SELECT dst, src FROM sp),
       |adj AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst)::BIGINT AS rn,
       |    count(*) OVER (PARTITION BY src)::BIGINT AS deg
       |  FROM sym),
       |w0 AS (
       |  SELECT s_suppkey::BIGINT AS walk_id, 0::BIGINT AS step,
       |    s_suppkey::BIGINT AS cur
       |  FROM supplier WHERE s_suppkey % 20 = 1
       |    AND EXISTS (SELECT 1 FROM sym WHERE src = s_suppkey)),
       |$iters
       |SELECT walk_id, step, cur AS node FROM (
       |$unions)
       |ORDER BY walk_id, step""".stripMargin
  }

  /** Unrolled Brandes twin: the I19 forward σ CTE chain keyed by
    * seed, then per-level backward dependency CTEs whose float folds
    * are the SAME ordered window cumsums (successors in w order, the
    * running max as the final total), then the seed-ordered fold. */
  private def betweennessSql(rounds: Int): String = {
    val base =
      """WITH sp AS (
        |  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
        |  FROM lineitem),
        |sym AS (SELECT src, dst FROM sp UNION SELECT dst, src FROM sp),
        |l0 AS (
        |  SELECT DISTINCT 's' || s_suppkey AS seed,
        |    's' || s_suppkey AS node, 0::BIGINT AS hop, 1::BIGINT AS sigma
        |  FROM supplier WHERE s_suppkey % 20 = 1 AND s_suppkey <= 41),
        |f0 AS (SELECT seed, node, sigma FROM l0)""".stripMargin
    val fwd = (1 to rounds).map { i =>
      s"""f$i AS (
         |  SELECT f.seed, e.dst AS node, sum(f.sigma)::BIGINT AS sigma
         |  FROM sym e JOIN f${i - 1} f ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM l${i - 1} l
         |    WHERE l.seed = f.seed AND l.node = e.dst)
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT * FROM l${i - 1}
         |  UNION ALL
         |  SELECT seed, node, $i::BIGINT, sigma FROM f$i)""".stripMargin
    }.mkString(",\n")
    val dInit =
      s"""d$rounds AS (
         |  SELECT seed, node, 0.0::DOUBLE AS delta
         |  FROM l$rounds WHERE hop = $rounds)""".stripMargin
    val bwd = (rounds - 1 to 0 by -1).map { h =>
      s"""c$h AS (
         |  SELECT v.seed, v.node AS v, w.node AS w,
         |    v.sigma::DOUBLE / w.sigma::DOUBLE * (1.0 + dw.delta) AS c
         |  FROM sym e
         |  JOIN (SELECT * FROM l$rounds WHERE hop = $h) v
         |    ON e.src = v.node
         |  JOIN (SELECT * FROM l$rounds WHERE hop = ${h + 1}) w
         |    ON e.dst = w.node AND w.seed = v.seed
         |  JOIN d${h + 1} dw ON dw.seed = w.seed AND dw.node = w.node),
         |a$h AS (
         |  SELECT seed, v, max(cum) AS delta FROM (
         |    SELECT seed, v,
         |      sum(c) OVER (PARTITION BY seed, v ORDER BY w
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM c$h) GROUP BY 1, 2),
         |d$h AS (
         |  SELECT v.seed, v.node, coalesce(a.delta, 0.0)::DOUBLE AS delta
         |  FROM (SELECT seed, node FROM l$rounds WHERE hop = $h) v
         |  LEFT JOIN a$h a ON a.seed = v.seed AND a.v = v.node)""".stripMargin
    }.mkString(",\n")
    val allD = (0 to rounds).map(h => s"SELECT * FROM d$h")
      .mkString("\nUNION ALL\n")
    s"""$base,
       |$fwd,
       |$dInit,
       |$bwd,
       |alld AS (
       |$allD)
       |SELECT node, count(*)::BIGINT AS n_seeds,
       |  round(max(cum), 6) AS bw
       |FROM (
       |  SELECT node, seed,
       |    sum(delta) OVER (PARTITION BY node ORDER BY seed
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM alld WHERE node <> seed)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  private def pathCountsSql(rounds: Int): String = {
    val base =
      """WITH sp AS (
        |  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
        |  FROM lineitem),
        |sym AS (SELECT src, dst FROM sp UNION SELECT dst, src FROM sp),
        |l0 AS (
        |  SELECT DISTINCT 's' || s_suppkey AS node, 0::BIGINT AS hop,
        |    1::BIGINT AS sigma
        |  FROM supplier WHERE s_suppkey % 20 = 1),
        |f0 AS (SELECT node, sigma FROM l0)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""f$i AS (
         |  SELECT e.dst AS node, sum(f.sigma)::BIGINT AS sigma
         |  FROM sym e JOIN f${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM l${i - 1})
         |  GROUP BY e.dst),
         |l$i AS (
         |  SELECT * FROM l${i - 1}
         |  UNION ALL
         |  SELECT node, $i::BIGINT, sigma FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT node, hop AS hops, sigma AS n_paths
       |FROM l$rounds ORDER BY node""".stripMargin
  }

  /** Unrolled BFS twin — the identical per-round min-fold. */
  private def bfsSql(rounds: Int): String = {
    val base =
      """WITH sp AS (
        |  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
        |  FROM lineitem),
        |sym AS (SELECT src, dst FROM sp UNION ALL SELECT dst, src FROM sp),
        |h0 AS (
        |  SELECT DISTINCT 's' || s_suppkey AS node, 0::BIGINT AS hop
        |  FROM supplier WHERE s_suppkey % 20 = 1)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""h$i AS (
         |  SELECT node, min(hop)::BIGINT AS hop FROM (
         |    SELECT node, hop FROM h${i - 1}
         |    UNION ALL
         |    SELECT e.dst, h.hop + 1 FROM sym e
         |    JOIN h${i - 1} h ON e.src = h.node)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT node, hop AS hops FROM h$rounds ORDER BY node""".stripMargin
  }

  /** Unrolled k-core twin — the identical peel passes. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val base =
      """WITH canon AS (
        |  SELECT x.l_partkey::BIGINT AS src, y.l_partkey::BIGINT AS dst
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS (SELECT src, dst FROM canon
        |       UNION ALL SELECT dst, src FROM canon)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""k$i AS (
         |  SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
         |e$i AS (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON e.src = a.src
         |  JOIN k$i b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT src AS part, count(*)::BIGINT AS core_deg
       |FROM e$rounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** I9 twin: the identical synchronous sweeps unrolled — per round
    * one neighbor-label vote aggregate and the same
    * (count, −label) struct-max — then the exact-HUGEINT modularity
    * assembly. */
  /** Unrolled Louvain twin: per sweep the same integer-exact gain
    * argmax (2m·k_in − k_i·Σtot′, ties to the lower community id),
    * then the shared modularity tail. */
  private def louvainSql(sweeps: Int): String = {
    val iters = (1 to sweeps).map { r =>
      s"""tot$r AS (
         |  SELECT l.lab AS c, sum(deg.d)::BIGINT AS tot
         |  FROM l${r - 1} l JOIN deg ON deg.node = l.v GROUP BY 1),
         |kin$r AS (
         |  SELECT s.a AS node, l.lab AS c, count(*)::BIGINT AS kin
         |  FROM sym s JOIN l${r - 1} l ON s.b = l.v GROUP BY 1, 2),
         |cand$r AS (
         |  SELECT node, c, max(kin)::BIGINT AS kin FROM (
         |    SELECT node, c, kin FROM kin$r
         |    UNION ALL SELECT v, lab, 0 FROM l${r - 1})
         |  GROUP BY 1, 2),
         |sc$r AS (
         |  SELECT cd.node, cd.c,
         |    m2.m2 * cd.kin - deg.d *
         |      (t.tot - CASE WHEN cd.c = l.lab THEN deg.d ELSE 0 END)
         |      AS score
         |  FROM cand$r cd
         |  JOIN l${r - 1} l ON cd.node = l.v
         |  JOIN deg ON deg.node = cd.node
         |  JOIN tot$r t ON t.c = cd.c
         |  CROSS JOIN m2),
         |l$r AS (
         |  SELECT node AS v,
         |    (-(max(struct_pack(s := score, nc := -c)).nc))::BIGINT AS lab
         |  FROM sc$r GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH canon AS (
       |  SELECT x.l_partkey::BIGINT AS a, y.l_partkey::BIGINT AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |sym AS (
       |  SELECT a, b FROM canon UNION ALL SELECT b, a FROM canon),
       |deg AS (SELECT a AS node, count(*)::BIGINT AS d
       |        FROM sym GROUP BY 1),
       |m2 AS (SELECT sum(d)::BIGINT AS m2 FROM deg),
       |l0 AS (SELECT DISTINCT a AS v, a AS lab FROM sym),
       |$iters,
       |mem AS (
       |  SELECT l.lab AS community, count(*)::BIGINT AS n_nodes,
       |    sum(deg.d)::BIGINT AS d_sum
       |  FROM l$sweeps l JOIN deg ON deg.node = l.v GROUP BY 1),
       |ein AS (
       |  SELECT la.lab AS community, count(*)::BIGINT AS e_in
       |  FROM canon JOIN l$sweeps la ON canon.a = la.v
       |    JOIN l$sweeps lb ON canon.b = lb.v
       |  WHERE la.lab = lb.lab GROUP BY 1),
       |cm AS (
       |  SELECT community, n_nodes, d_sum,
       |    coalesce(e_in, 0)::BIGINT AS e_in
       |  FROM mem LEFT JOIN ein USING (community)),
       |tt AS (
       |  SELECT sum(e_in)::HUGEINT AS se,
       |    sum(d_sum::HUGEINT * d_sum)::HUGEINT AS sdd,
       |    sum(d_sum)::HUGEINT AS t2m
       |  FROM cm)
       |SELECT community, n_nodes, e_in, d_sum,
       |  round((2::HUGEINT * t2m * e_in - d_sum::HUGEINT * d_sum)::DOUBLE
       |    / (t2m * t2m)::DOUBLE, 6) AS contrib,
       |  round((2::HUGEINT * t2m * se - sdd)::DOUBLE
       |    / (t2m * t2m)::DOUBLE, 6) AS q_total
       |FROM cm, tt
       |ORDER BY n_nodes DESC, community LIMIT 10""".stripMargin
  }

  private def lpaSql(rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      s"""c$r AS (
         |  SELECT s.a AS node, l.lab, count(*)::BIGINT AS c
         |  FROM sym s JOIN l${r - 1} l ON s.b = l.v
         |  GROUP BY 1, 2),
         |l$r AS (
         |  SELECT node AS v,
         |    (-(max(struct_pack(c := c, nl := -lab)).nl))::BIGINT AS lab
         |  FROM c$r GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH canon AS (
       |  SELECT x.l_partkey::BIGINT AS a, y.l_partkey::BIGINT AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |sym AS (
       |  SELECT a, b FROM canon UNION ALL SELECT b, a FROM canon),
       |l0 AS (SELECT DISTINCT a AS v, a AS lab FROM sym),
       |$iters,
       |deg AS (SELECT a AS node, count(*)::BIGINT AS d
       |        FROM sym GROUP BY 1),
       |mem AS (
       |  SELECT l.lab AS community, count(*)::BIGINT AS n_nodes,
       |    sum(deg.d)::BIGINT AS d_sum
       |  FROM l$rounds l JOIN deg ON deg.node = l.v GROUP BY 1),
       |ein AS (
       |  SELECT la.lab AS community, count(*)::BIGINT AS e_in
       |  FROM canon JOIN l$rounds la ON canon.a = la.v
       |    JOIN l$rounds lb ON canon.b = lb.v
       |  WHERE la.lab = lb.lab GROUP BY 1),
       |cm AS (
       |  SELECT community, n_nodes, d_sum,
       |    coalesce(e_in, 0)::BIGINT AS e_in
       |  FROM mem LEFT JOIN ein USING (community)),
       |tot AS (
       |  SELECT sum(e_in)::HUGEINT AS se,
       |    sum(d_sum::HUGEINT * d_sum)::HUGEINT AS sdd,
       |    sum(d_sum)::HUGEINT AS t2m
       |  FROM cm)
       |SELECT community, n_nodes, e_in, d_sum,
       |  round((2::HUGEINT * t2m * e_in - d_sum::HUGEINT * d_sum)::DOUBLE
       |    / (t2m * t2m)::DOUBLE, 6) AS contrib,
       |  round((2::HUGEINT * t2m * se - sdd)::DOUBLE
       |    / (t2m * t2m)::DOUBLE, 6) AS q_total
       |FROM cm, tot
       |ORDER BY n_nodes DESC, community LIMIT 10""".stripMargin
  }

  /** Unrolled weighted-SSSP twin — the identical per-round min-plus
    * fold over the same min-quantity-weighted lanes. */
  private def ssspSql(rounds: Int): String = {
    val base =
      """WITH spw AS (
        |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst,
        |    min(l_quantity)::BIGINT AS w
        |  FROM lineitem GROUP BY 1, 2),
        |sym AS (SELECT src, dst, w FROM spw
        |        UNION ALL SELECT dst, src, w FROM spw),
        |d0 AS (
        |  SELECT DISTINCT 's' || s_suppkey AS node, 0::BIGINT AS dist
        |  FROM supplier WHERE s_suppkey % 20 = 1)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT node, min(dist)::BIGINT AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst, h.dist + e.w FROM sym e
         |    JOIN d${i - 1} h ON e.src = h.node)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT node, dist FROM d$rounds ORDER BY node""".stripMargin
  }

  /** Unrolled k-truss twin: per round the same integer support
    * (common-neighbor count ≡ triangles through the edge) and the
    * same ≥ k−2 filter; the final left join mirrors the coalesce-0
    * export. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""sym${i - 1} AS (
         |  SELECT a AS u, b AS v FROM e${i - 1}
         |  UNION ALL SELECT b, a FROM e${i - 1}),
         |s$i AS (
         |  SELECT e.a, e.b, count(*)::BIGINT AS sup
         |  FROM e${i - 1} e
         |  JOIN sym${i - 1} n1 ON n1.u = e.a
         |  JOIN sym${i - 1} n2 ON n2.u = e.b AND n2.v = n1.v
         |  GROUP BY 1, 2),
         |e$i AS (SELECT a, b FROM s$i WHERE sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH canon AS (
       |  SELECT DISTINCT x.l_partkey::BIGINT AS a,
       |    y.l_partkey::BIGINT AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  WHERE x.l_partkey % 2 = 0 AND y.l_partkey % 2 = 0),
       |e0 AS (SELECT a, b FROM canon),
       |$iters,
       |symf AS (
       |  SELECT a AS u, b AS v FROM e$rounds
       |  UNION ALL SELECT b, a FROM e$rounds),
       |sf AS (
       |  SELECT e.a, e.b, count(*)::BIGINT AS sup
       |  FROM e$rounds e
       |  JOIN symf n1 ON n1.u = e.a
       |  JOIN symf n2 ON n2.u = e.b AND n2.v = n1.v
       |  GROUP BY 1, 2)
       |SELECT e.a AS part_a, e.b AS part_b,
       |  coalesce(sf.sup, 0)::BIGINT AS support
       |FROM e$rounds e LEFT JOIN sf ON e.a = sf.a AND e.b = sf.b
       |ORDER BY part_a, part_b""".stripMargin
  }

  /** I12 twin: the I3 unrolled propagation carrying the seed column,
    * then the same exact 10⁶ div hop reciprocal sum. */
  private def harmonicSql(rounds: Int): String = {
    val base =
      """WITH sp AS (
        |  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
        |  FROM lineitem),
        |sym AS (SELECT src, dst FROM sp UNION ALL SELECT dst, src FROM sp),
        |h0 AS (
        |  SELECT DISTINCT 's' || s_suppkey AS node,
        |    's' || s_suppkey AS seed, 0::BIGINT AS hop
        |  FROM supplier WHERE s_suppkey % 40 = 2)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""h$i AS (
         |  SELECT node, seed, min(hop)::BIGINT AS hop FROM (
         |    SELECT node, seed, hop FROM h${i - 1}
         |    UNION ALL
         |    SELECT e.dst, h.seed, h.hop + 1 FROM sym e
         |    JOIN h${i - 1} h ON e.src = h.node)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT node, count(*)::BIGINT AS n_reached,
       |  sum(1000000 // hop)::BIGINT AS harmonic_ppm
       |FROM h$rounds WHERE hop >= 1 GROUP BY 1 ORDER BY node""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // I14 twin: same distinct edges, same two histogram-free counts
    // per threshold (oracle-scale direct sums), same integer ppm
    "q_rich_club" ->
      """WITH ed AS (
        |  SELECT DISTINCT 's' || l_suppkey AS src,
        |    'c' || o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS deg FROM (
        |    SELECT src AS node FROM ed
        |    UNION ALL SELECT dst AS node FROM ed)
        |  GROUP BY 1),
        |em AS (
        |  SELECT least(d1.deg, d2.deg) AS m
        |  FROM ed JOIN deg d1 ON ed.src = d1.node
        |  JOIN deg d2 ON ed.dst = d2.node),
        |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64]::BIGINT[]) AS k),
        |nk AS (
        |  SELECT ks.k,
        |    sum(CASE WHEN deg.deg > ks.k THEN 1 ELSE 0 END)::BIGINT
        |      AS n_nodes
        |  FROM ks, deg GROUP BY 1),
        |ek AS (
        |  SELECT ks.k,
        |    sum(CASE WHEN em.m > ks.k THEN 1 ELSE 0 END)::BIGINT
        |      AS n_edges
        |  FROM ks, em GROUP BY 1)
        |SELECT nk.k, n_nodes, n_edges,
        |  CASE WHEN n_nodes >= 2 THEN
        |    2 * n_edges * 1000000 // (n_nodes * (n_nodes - 1))
        |  END AS phi_ppm
        |FROM nk JOIN ek USING (k) ORDER BY k""".stripMargin,
    "q_harmonic" -> harmonicSql(4),
    "q_ktruss" -> ktrussSql(5, 2),
    "q_sssp" -> ssspSql(4),
    "q_communities" -> lpaSql(3),
    "q_louvain" -> louvainSql(2),
    "q_random_walks" -> randomWalksSql(4),
    // I30 twin: the q_triangles tri CTE + a degree join, integer ppm
    // floor-div, the same (ppm DESC, part) total order
    "q_clustering" ->
      """WITH canon AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey)::BIGINT AS a,
        |    greatest(x.l_partkey, y.l_partkey)::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT a AS node FROM canon
        |    UNION ALL SELECT b FROM canon) GROUP BY 1),
        |fwd AS (
        |  SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS dv
        |  FROM canon
        |  JOIN deg da ON da.node = a
        |  JOIN deg db ON db.node = b),
        |tri AS (
        |  SELECT e1.u, e1.v AS x, e2.v AS y
        |  FROM fwd e1 JOIN fwd e2
        |    ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
        |  WHERE EXISTS (SELECT 1 FROM fwd f
        |    WHERE f.u = e1.v AND f.v = e2.v)),
        |per_node AS (
        |  SELECT node, count(*)::BIGINT AS triangles FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT x FROM tri
        |    UNION ALL SELECT y FROM tri) GROUP BY 1)
        |SELECT deg.node AS part, deg.d AS degree,
        |  coalesce(triangles, 0)::BIGINT AS triangles,
        |  2 * coalesce(triangles, 0) * 1000000 // (deg.d * (deg.d - 1))
        |    AS clustering_ppm
        |FROM deg LEFT JOIN per_node ON per_node.node = deg.node
        |WHERE deg.d >= 5
        |ORDER BY clustering_ppm DESC, part LIMIT 20""".stripMargin,
    // I31 twin: the identical integer hop recursion with the literal
    // α^k·10⁶ weights, the same (katz_fp DESC, part) order
    "q_katz" ->
      """WITH canon AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey)::BIGINT AS a,
        |    greatest(x.l_partkey, y.l_partkey)::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |sym AS (SELECT a AS src, b AS dst FROM canon
        |  UNION ALL SELECT b, a FROM canon),
        |p1 AS (SELECT dst AS node, count(*)::BIGINT AS p1
        |  FROM sym GROUP BY 1),
        |p2 AS (SELECT s.dst AS node, sum(p.p1)::BIGINT AS p2
        |  FROM sym s JOIN p1 p ON p.node = s.src GROUP BY 1),
        |p3 AS (SELECT s.dst AS node, sum(p.p2)::BIGINT AS p3
        |  FROM sym s JOIN p2 p ON p.node = s.src GROUP BY 1)
        |SELECT p1.node AS part, p1.p1 AS degree,
        |  (p1.p1 * 50000 + coalesce(p2.p2, 0) * 2500
        |    + coalesce(p3.p3, 0) * 125)::BIGINT AS katz_fp
        |FROM p1 LEFT JOIN p2 ON p2.node = p1.node
        |LEFT JOIN p3 ON p3.node = p1.node
        |ORDER BY katz_fp DESC, part LIMIT 20""".stripMargin,
    // I8 twin: same degree aggregate, same node-ordered ln fold and
    // continuity-corrected MLE tail
    "q_powerlaw" ->
      """WITH canon AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey)::BIGINT AS a,
        |    greatest(x.l_partkey, y.l_partkey)::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT a AS node FROM canon
        |    UNION ALL SELECT b FROM canon) GROUP BY 1),
        |allx AS (
        |  SELECT count(*)::BIGINT AS n_nodes, max(d)::BIGINT AS d_max
        |  FROM deg),
        |t AS (
        |  SELECT count(*)::BIGINT AS n_tail,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(ln(d::DOUBLE / 1.5) ORDER BY node)), (a, b) -> a + b)
        |      AS lsum
        |  FROM deg WHERE d >= 2)
        |SELECT n_nodes, n_tail, d_max,
        |  n_tail * 1000000 // n_nodes AS tail_ppm,
        |  CASE WHEN lsum > 0
        |    THEN round(1.0 + n_tail::DOUBLE / lsum, 4) END AS alpha
        |FROM allx, t""".stripMargin,
    // I7 twin: the I2 degree-oriented triangle CTEs on the
    // ≥2-support graph + the same integer ppm coefficient
    "q_clustering_coeff" ->
      """WITH canon AS (
        |  SELECT x.l_partkey::BIGINT AS a, y.l_partkey::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT a AS node FROM canon
        |    UNION ALL SELECT b FROM canon) GROUP BY 1),
        |fwd AS (
        |  SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS dv
        |  FROM canon
        |  JOIN deg da ON da.node = a
        |  JOIN deg db ON db.node = b),
        |tri AS (
        |  SELECT e1.u, e1.v AS x, e2.v AS y
        |  FROM fwd e1 JOIN fwd e2
        |    ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
        |  WHERE EXISTS (SELECT 1 FROM fwd f
        |    WHERE f.u = e1.v AND f.v = e2.v)),
        |per_node AS (
        |  SELECT node, count(*)::BIGINT AS triangles FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT x FROM tri
        |    UNION ALL SELECT y FROM tri) GROUP BY 1)
        |SELECT deg.node AS part, deg.d,
        |  coalesce(triangles, 0)::BIGINT AS triangles,
        |  CASE WHEN deg.d >= 2 THEN
        |    coalesce(triangles, 0) * 2000000 // (deg.d * (deg.d - 1))
        |  END::BIGINT AS cc_ppm
        |FROM deg LEFT JOIN per_node ON deg.node = per_node.node
        |ORDER BY part""".stripMargin,
    // I6 twin: same symmetric edge list, HUGEINT == decimal(38,0)
    // sums, the same explicit zero-denominator null branch
    "q_assortativity" ->
      """WITH canon AS (
        |  SELECT x.l_partkey::BIGINT AS a, y.l_partkey::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT a AS u, b AS v FROM canon
        |  UNION ALL SELECT b, a FROM canon),
        |deg AS (SELECT u AS node, count(*)::BIGINT AS d
        |        FROM sym GROUP BY 1),
        |je AS (
        |  SELECT du.d AS j, dv.d AS k
        |  FROM sym JOIN deg du ON sym.u = du.node
        |    JOIN deg dv ON sym.v = dv.node),
        |s AS (
        |  SELECT count(*)::HUGEINT AS m,
        |    sum(j::HUGEINT * k)::HUGEINT AS sjk,
        |    sum(j::HUGEINT)::HUGEINT AS sj,
        |    sum(j::HUGEINT * j)::HUGEINT AS sjj
        |  FROM je)
        |SELECT
        |  (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
        |  (SELECT count(*) FROM canon)::BIGINT AS n_edges,
        |  CASE WHEN m * sjj - sj * sj <> 0
        |    THEN round((m * sjk - sj * sj)::DOUBLE
        |      / (m * sjj - sj * sj)::DOUBLE, 6)
        |  END AS assortativity
        |FROM s""".stripMargin,
    // I5 twin: same wedge counting, same anti-join, same integer ppm,
    // same total-order top-k
    // I27 twin: same wedge frame, center-weighted by the identical
    // fixed-point 10^9/ln(deg) integers, same TakeOrdered tie order
    // I28 twin: same wedge walk with pure-integer floor-division
    // weights — no libm anywhere, exact BIGINT end to end
    "q_resource_alloc" ->
      """WITH canon AS (
        |  SELECT x.l_partkey::BIGINT AS a, y.l_partkey::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT a AS u, b AS v FROM canon
        |        UNION ALL SELECT b, a FROM canon),
        |deg AS (SELECT u AS node, count(*)::BIGINT AS d
        |        FROM sym GROUP BY 1),
        |wdeg AS (
        |  SELECT node, (1000000000 // d)::BIGINT AS w
        |  FROM deg WHERE d >= 2),
        |wedges AS (
        |  SELECT e1.v AS x, e2.v AS y, wd.w
        |  FROM sym e1 JOIN sym e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN wdeg wd ON wd.node = e1.u),
        |ra AS (SELECT x, y, count(*)::BIGINT AS cn,
        |         sum(w)::BIGINT AS ra_fp
        |       FROM wedges GROUP BY 1, 2),
        |cand AS (
        |  SELECT ra.x, ra.y, ra.cn, ra.ra_fp FROM ra
        |  WHERE NOT EXISTS (SELECT 1 FROM canon c
        |    WHERE c.a = ra.x AND c.b = ra.y))
        |SELECT x, y, cn, round(ra_fp::DOUBLE / 1e9, 6) AS resource_alloc
        |FROM cand
        |ORDER BY ra_fp DESC, x, y
        |LIMIT 100""".stripMargin,
    "q_adamic_adar" ->
      """WITH canon AS (
        |  SELECT x.l_partkey::BIGINT AS a, y.l_partkey::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT a AS u, b AS v FROM canon
        |        UNION ALL SELECT b, a FROM canon),
        |deg AS (SELECT u AS node, count(*)::BIGINT AS d
        |        FROM sym GROUP BY 1),
        |wdeg AS (
        |  SELECT node, round(1e9 / ln(d::DOUBLE))::BIGINT AS w
        |  FROM deg WHERE d >= 2),
        |wedges AS (
        |  SELECT e1.v AS x, e2.v AS y, wd.w
        |  FROM sym e1 JOIN sym e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN wdeg wd ON wd.node = e1.u),
        |aa AS (SELECT x, y, count(*)::BIGINT AS cn,
        |         sum(w)::BIGINT AS aa_fp
        |       FROM wedges GROUP BY 1, 2),
        |cand AS (
        |  SELECT aa.x, aa.y, aa.cn, aa.aa_fp FROM aa
        |  WHERE NOT EXISTS (SELECT 1 FROM canon c
        |    WHERE c.a = aa.x AND c.b = aa.y))
        |SELECT x, y, cn, round(aa_fp::DOUBLE / 1e9, 6) AS adamic_adar
        |FROM cand
        |ORDER BY aa_fp DESC, x, y
        |LIMIT 100""".stripMargin,
    "q_link_predict" ->
      """WITH canon AS (
        |  SELECT x.l_partkey::BIGINT AS a, y.l_partkey::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT a AS u, b AS v FROM canon
        |        UNION ALL SELECT b, a FROM canon),
        |deg AS (SELECT u AS node, count(*)::BIGINT AS d
        |        FROM sym GROUP BY 1),
        |wedges AS (
        |  SELECT e1.v AS x, e2.v AS y
        |  FROM sym e1 JOIN sym e2 ON e1.u = e2.u AND e1.v < e2.v),
        |cnt AS (SELECT x, y, count(*)::BIGINT AS cn
        |        FROM wedges GROUP BY 1, 2),
        |cand AS (
        |  SELECT cnt.x, cnt.y, cnt.cn FROM cnt
        |  WHERE NOT EXISTS (SELECT 1 FROM canon c
        |    WHERE c.a = cnt.x AND c.b = cnt.y))
        |SELECT cand.x, cand.y, cand.cn, dx.d AS dx, dy.d AS dy,
        |  cand.cn * 1000000 // (dx.d + dy.d - cand.cn) AS jaccard_ppm
        |FROM cand
        |JOIN deg dx ON dx.node = cand.x
        |JOIN deg dy ON dy.node = cand.y
        |ORDER BY cand.cn DESC, jaccard_ppm DESC, cand.x, cand.y
        |LIMIT 100""".stripMargin,
    "q_pagerank" -> pageRankSql(5),
    "q_hits" -> hitsSql(5),
    "q_scc" -> sccSql(5),
    "q_mst" -> mstSql(5),
    "q_eccentricity" -> eccentricitySql(5),
    "q_ppr" -> pprSql(5),
    "q_bfs_hops" -> bfsSql(4),
    "q_path_counts" -> pathCountsSql(4),
    "q_betweenness" -> betweennessSql(3),
    "q_kcore" -> kcoreSql(3, 6),
    // degree-oriented forward counting, integer-exact throughout
    "q_triangles" ->
      """WITH canon AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey)::BIGINT AS a,
        |    greatest(x.l_partkey, y.l_partkey)::BIGINT AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT a AS node FROM canon
        |    UNION ALL SELECT b FROM canon) GROUP BY 1),
        |fwd AS (
        |  SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS dv
        |  FROM canon
        |  JOIN deg da ON da.node = a
        |  JOIN deg db ON db.node = b),
        |tri AS (
        |  SELECT e1.u, e1.v AS x, e2.v AS y
        |  FROM fwd e1 JOIN fwd e2
        |    ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
        |  WHERE EXISTS (SELECT 1 FROM fwd f
        |    WHERE f.u = e1.v AND f.v = e2.v)),
        |per_node AS (
        |  SELECT node, count(*)::BIGINT AS triangles FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT x FROM tri
        |    UNION ALL SELECT y FROM tri) GROUP BY 1)
        |SELECT deg.node AS part, coalesce(triangles, 0)::BIGINT AS triangles
        |FROM deg LEFT JOIN per_node ON deg.node = per_node.node
        |ORDER BY part""".stripMargin)
}
