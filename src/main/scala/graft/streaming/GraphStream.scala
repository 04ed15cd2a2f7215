package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Graph
import graft.sources.Lake.Manifest.applyBatchOnce

/** I15 × C-track: CONTINUOUS component maintenance — the edge-delta
  * CDC feed drives [[graft.operators.Graph.appendComponentDelta]]
  * from a Structured Streaming query, so the published labeling
  * trails the edge stream by one trigger without ever recomputing
  * the graph (the VecStream/E9 continuous-maintenance shape).
  *
  * Replay semantics: each batch is applied exactly once by the one
  * batch gate, [[graft.sources.Lake.Manifest.applyBatchOnce]]; the
  * edge batch gates on `remaps` AND `labels`, the PageRank and
  * triangle batches on `edges`. The delta-applies are also
  * SEMANTICALLY idempotent — a replayed edge batch finds its
  * endpoints already merged and its new nodes already labeled, so a
  * crash BETWEEN the two component commits re-applies cleanly
  * (GraphSpec pins the double-apply and the half-applied replay).
  *
  * Compaction: pass `compactEvery > 0` to fold the patch log into
  * the state table every N applied batches — read cost stays one
  * broadcast join across an unbounded stream (the A24
  * state-compaction posture).
  */
object GraphStream {

  /** Apply ONE edge micro-batch exactly once: (merges, newNodes), or
    * (-1, -1) for a full-replay skip. Both tables get the tag (an
    * empty side commits meta-only), so a crash between the two
    * commits replays. */
  def streamEdgeBatch(dir: String, batch: DataFrame,
      batchId: Long): (Long, Long) = {
    val spark = batch.sparkSession
    applyBatchOnce(spark, Seq(s"$dir/remaps", s"$dir/labels"), batchId)(
      Graph.appendComponentDelta(spark, dir, batch, _)).getOrElse((-1L, -1L))
  }

  /** Apply ONE edge micro-batch to the I16 PageRank state exactly
    * once: patched-row count, or -1 for a full-replay skip. */
  def streamPageRankBatch(dir: String, batch: DataFrame,
      batchId: Long): Long = {
    val spark = batch.sparkSession
    applyBatchOnce(spark, Seq(s"$dir/edges"), batchId)(
      Graph.appendPageRankDelta(spark, dir, batch, _)).getOrElse(-1L)
  }

  /** Apply ONE edge micro-batch to the I17 triangle-count state
    * exactly once: patched-row count, or -1 for a full-replay skip. */
  def streamTriangleBatch(dir: String, batch: DataFrame,
      batchId: Long): Long = {
    val spark = batch.sparkSession
    applyBatchOnce(spark, Seq(s"$dir/edges"), batchId)(
      Graph.appendTriangleDelta(spark, dir, batch, _)).getOrElse(-1L)
  }

  /** Continuous triangle-count maintenance over an edge stream (the
    * local clustering signal): each batch patches only the nodes in
    * delta-closed triangles (I17). */
  def maintainTriangles(edges: DataFrame, dir: String,
      checkpoint: String, compactEvery: Int = 0): StreamingQuery =
    VecStream.maintain(edges, checkpoint, compactEvery,
      Graph.compactTriangles(_, dir))(
      (batch, batchId) => streamTriangleBatch(dir, batch, batchId) >= 0)

  /** Continuous quality-prior maintenance over an edge stream: the
    * published PageRank trails the feed by one trigger, each batch
    * patching only its affected cone (I16). */
  def maintainPageRank(edges: DataFrame, dir: String,
      checkpoint: String, compactEvery: Int = 0): StreamingQuery =
    VecStream.maintain(edges, checkpoint, compactEvery,
      Graph.compactPageRank(_, dir))(
      (batch, batchId) => streamPageRankBatch(dir, batch, batchId) >= 0)

  /** Continuous labeling maintenance over an edge stream. */
  def maintainComponents(edges: DataFrame, dir: String,
      checkpoint: String, compactEvery: Int = 0): StreamingQuery =
    VecStream.maintain(edges, checkpoint, compactEvery,
      Graph.compactComponents(_, dir))(
      (batch, batchId) => streamEdgeBatch(dir, batch, batchId)._1 >= 0)
}
