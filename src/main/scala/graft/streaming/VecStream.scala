package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Similarity

/** C28 streaming ANN index maintenance — the continuous-ingest twin
  * of E9: embedding vectors land as a stream (crawler output, CDC
  * feed) and each micro-batch is encoded against the FROZEN persisted
  * IVF-PQ model and appended into the index's cell partitions, so the
  * served index (E8/E11 read path) trails the stream by one trigger
  * without ever retraining or rewriting existing codes.
  *
  * Replay semantics: `foreachBatch` re-delivers a batch after a crash,
  * and a blind re-append would duplicate code rows (top-k could then
  * return a vector twice). Each applied batch is ONE atomic manifest
  * commit ([[graft.operators.Similarity.appendIvfPqIndex]]) that both
  * adds the code files and records `batch=<id>` as a carried
  * commit-log meta — data visibility and replay bookkeeping cannot
  * diverge, so a crash at ANY point leaves the served index on the
  * previous version and the replayed batch re-applies cleanly
  * (exactly-once by idempotent commit). Serving still prunes to
  * probed cells: the manifest commit lays files out under `__p_cell=`
  * dirs and [[graft.sources.Lake.Manifest.readPublishedPruned]]
  * prunes the file LIST driver-side, the Delta/Iceberg
  * partition-pruning-from-the-log shape.
  *
  * Compaction: pass `maxFiles` to run E9's atomic
  * `compactIvfPqIndex` after each applied batch — the file count stays
  * bounded across an unbounded stream (the A24 state-compaction
  * posture). At 100 TB/day the per-trigger cost is encode(delta) +
  * one append; the corpus is never re-read.
  */
object VecStream {

  /** Apply ONE micro-batch exactly once: returns true if the batch
    * was applied, false if it was a replay skip. The apply is one
    * atomic commit carrying `batch=<id>` (no crash window). */
  def streamAppendBatch(dir: String, batch: DataFrame,
      batchId: Long): Boolean = {
    val tag = s"batch=$batchId"
    if (graft.sources.Lake.Manifest
        .publishedMetas(batch.sparkSession, s"$dir/codes").contains(tag)) false
    else {
      Similarity.appendIvfPqIndex(dir, batch, meta = tag)
      true
    }
  }

  /** Continuous maintenance with CELL BALANCE (E33 composed into the
    * stream loop — the FreshDiskANN posture): append each trigger,
    * then split any cell the batch pushed past `cap`, then compact
    * on fragmentation. Each split is its OWN atomic commit, so a
    * crash between splits loses nothing and the replayed batch gates
    * out while the next tick resumes the rebalance (cap checks are
    * idempotent). `vectors` supplies the TRUE vectors for the
    * re-encode at split time — the landed vector lake, read lazily
    * per tick; the index alone cannot re-encode (codes are residual
    * to their cell centroid). */
  def appendToIndexBalanced(vecs: DataFrame, dir: String,
      checkpoint: String, vectors: () => DataFrame, cap: Long,
      maxFiles: Int = 64): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (streamAppendBatch(dir, batch, batchId)) {
          val spark = batch.sparkSession
          // fixpoint within the tick (bounded at 8 passes ≈ 256×
          // skew): one batch can push a cell far past cap, and the
          // 2-means halving is rarely even
          Similarity.rebalanceIvfIndex(spark, dir, vectors(),
            cap, maxPasses = 8)
          if (maxFiles > 0)
            Similarity.compactIvfPqIndex(spark, dir, maxFiles)
        }
      }
      .start()

  /** Continuous index maintenance: encode-and-append every trigger,
    * compacting when the code files fragment past `maxFiles`. */
  def appendToIndex(vecs: DataFrame, dir: String, checkpoint: String,
      maxFiles: Int = 64): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (streamAppendBatch(dir, batch, batchId) && maxFiles > 0)
          Similarity.compactIvfPqIndex(batch.sparkSession, dir, maxFiles)
      }
      .start()
}
