package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Similarity
import graft.sources.Lake.Manifest.applyBatchOnce

/** C28 streaming ANN index maintenance — the continuous-ingest twin
  * of E9: embedding vectors land as a stream (crawler output, CDC
  * feed) and each micro-batch is encoded against the FROZEN persisted
  * IVF-PQ model and appended into the index's cell partitions, so the
  * served index (E8/E11 read path) trails the stream by one trigger
  * without ever retraining or rewriting existing codes.
  *
  * Replay semantics: `foreachBatch` re-delivers a batch after a crash,
  * and a blind re-append would duplicate code rows (top-k could then
  * return a vector twice). Each batch passes the one batch gate,
  * [[graft.sources.Lake.Manifest.applyBatchOnce]] on `codes`, and is
  * ONE atomic manifest commit
  * ([[graft.operators.Similarity.appendIvfPqIndex]]) that both adds
  * the code files and records its `batch=<id>` tag — data visibility
  * and replay bookkeeping cannot diverge. Serving still prunes to
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
    * was applied, false if it was a replay skip. */
  def streamAppendBatch(dir: String, batch: DataFrame,
      batchId: Long): Boolean =
    applyBatchOnce(batch.sparkSession, Seq(s"$dir/codes"), batchId)(
      Similarity.appendIvfPqIndex(dir, batch, _)).isDefined

  /** The one loop of every table maintained from a stream: `apply`
    * each micro-batch of `feed` under `checkpoint`, draining what is
    * available (`Trigger.AvailableNow`). `apply` answers whether it
    * applied the batch (false: a replay the batch gate skipped);
    * `compact` runs after every `compactEvery`-th applied batch, and
    * never when `compactEvery <= 0`. */
  private[streaming] def maintain(feed: DataFrame, checkpoint: String,
      compactEvery: Int = 0, compact: SparkSession => Unit = _ => ())(
      apply: (DataFrame, Long) => Boolean): StreamingQuery = {
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (apply(batch, batchId) && compactEvery > 0 &&
            applied.incrementAndGet() % compactEvery == 0)
          compact(batch.sparkSession)
      }
      .start()
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
    maintain(vecs, checkpoint, 1, { spark =>
      // fixpoint within the tick (bounded at 8 passes ≈ 256× skew):
      // one batch can push a cell far past cap, and the 2-means
      // halving is rarely even
      Similarity.rebalanceIvfIndex(spark, dir, vectors(), cap, maxPasses = 8)
      if (maxFiles > 0) Similarity.compactIvfPqIndex(spark, dir, maxFiles)
    })(streamAppendBatch(dir, _, _))

  /** Continuous index maintenance: encode-and-append every trigger,
    * compacting when the code files fragment past `maxFiles`. */
  def appendToIndex(vecs: DataFrame, dir: String, checkpoint: String,
      maxFiles: Int = 64): StreamingQuery =
    maintain(vecs, checkpoint, if (maxFiles > 0) 1 else 0,
      Similarity.compactIvfPqIndex(_, dir, maxFiles))(
      streamAppendBatch(dir, _, _))
}
