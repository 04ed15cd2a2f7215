package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.operators.Dedup
import graft.sources.Jsonl
import graft.sources.Lake.Manifest.applyBatchOnce

/** Streaming ingestion for LLM training corpora (SURVEY.md §2.C/D
  * bridge): the continuous-ingest twin of the batch D-track, so the
  * same engine that batch-dedups a 100 TB corpus also dedups the
  * daily drop-zone feed as it lands.
  *
  * Shape: jsonl files land in a directory (crawler/CDC drop zone) →
  * permissive parse with quarantine ([[Jsonl.readStream]] — same
  * parser expression as the batch reader) → content-hash exact dedup
  * with WATERMARK-BOUNDED state: `dropDuplicatesWithinWatermark` keys
  * the state store on [[Dedup.contentHash]], so a duplicate arriving
  * within the watermark delay is dropped and the per-key state ages
  * out afterwards — state is bounded by the ingest rate × delay, not
  * by corpus size (the only viable form at 100 TB/day; exact
  * cross-history dedup stays a batch job over the landed corpus,
  * which [[Dedup.exact]] already is).
  *
  * The hash column is the SAME expression batch dedup groups on, so
  * stream-kept docs and batch keepers agree on document identity —
  * spec-pinned parity (DocStreamSpec) between the streamed survivors
  * and `Dedup.exact` over the identical input.
  */
object DocStream {

  /** Append the canonical content address to a (streaming or batch)
    * document frame. */
  def withContentHash(docs: DataFrame): DataFrame =
    docs.withColumn("content_hash", Dedup.contentHash(col("text")))

  /** C57 streaming CURATION GATE — the F-track quality screen run on
    * the ingest feed itself (the production posture: junk that will
    * never survive curation should die at the drop zone, before it
    * costs storage and batch passes): F2 integer quality scoring +
    * F3 langid + F13 PII scrub composed as ONE stateless projection,
    * so it pipelines into any micro-batch at any rate with ZERO
    * state store. The expressions are the BATCH operators' own
    * (`withQualityCols` / `withLangPred` / `scrubText` — one code
    * path, two execution modes), so stream and batch agree
    * bit-for-bit on every flag — spec-pinned by running the SAME
    * frame through both modes. Emits every doc with its verdict
    * (keep = the F2 gate) and the scrubbed text; callers filter —
    * dropped docs stay observable for drop-rate monitoring. */
  def curationGate(docs: DataFrame): DataFrame = {
    import graft.operators.TextAnalysis
    val scored = TextAnalysis.withLangPred(
      TextAnalysis.withQualityCols(docs))
    scored.select(col("doc_id"),
      TextAnalysis.scrubText(col("text")).as("text_scrubbed"),
      col("n_tok"), col("score_ppm"), col("lang_pred"),
      (col("score_ppm") >= 200000L).as("keep"))
  }

  /** Streaming exact dedup: first doc per content hash within the
    * watermark wins; later copies are dropped, and each hash's state
    * entry is discarded once the watermark passes it. `tsCol` is the
    * event-time column (ingest/crawl timestamp). */
  def dedupDocs(docs: DataFrame, tsCol: String, delay: String): DataFrame =
    withContentHash(docs)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** End-to-end drop-zone pipeline: tail a jsonl landing directory,
    * quarantine malformed lines, dedup the clean docs on content
    * hash. Returns the deduped stream (write it with `writeStream`
    * Append to the corpus sink). */
  def ingestJsonl(spark: SparkSession, path: String, schema: StructType,
      tsCol: String, delay: String): DataFrame =
    dedupDocs(Jsonl.clean(Jsonl.readStream(spark, path, schema)),
      tsCol, delay)

  /** One doc-band row entering the near-dup state store. */
  case class BandRow(doc_id: Long, ts: java.sql.Timestamp, band: Int,
      bucket: Long, sig: Array[Long])

  /** Per-bucket state: the representative (first-arrived) doc's id and
    * 32-long MinHash signature — 256 B + id per live bucket, aged out
    * by event-time timeout. */
  case class BucketRep(doc_id: Long, sig: Array[Long])

  /** A verified near-dup hit: `doc_b` arrived after `doc_a` and their
    * signatures estimate Jaccard ≥ threshold. */
  case class NearDupPair(doc_a: Long, doc_b: Long, band: Int,
      est_jaccard: Double)

  private def intervalMs(s: String): Long = {
    val parts = s.trim.toLowerCase.split("\\s+")
    require(parts.length == 2, s"expected '<n> <unit>', got '$s'")
    val base = parts(1) match {
      case u if u.startsWith("second") => 1000L
      case u if u.startsWith("minute") => 60000L
      case u if u.startsWith("hour")   => 3600000L
      case u if u.startsWith("day")    => 86400000L
      case u => throw new IllegalArgumentException(s"unit $u")
    }
    parts(0).toLong * base
  }

  /** Streaming NEAR-dup detection (the D3↔C-track bridge for fuzzy
    * dupes in the drop zone, VERDICT r3 #7): MinHash signatures are
    * computed ROW-LOCALLY (per-perm seeded XXH64 over the doc's own
    * shingle array — bit-identical to the batch `MinHashAgg`, no
    * aggregation in the continuous plan), banded into the same
    * 8×(4-row) buckets batch `Dedup.minhashLsh` joins on, and each
    * (band, bucket) key holds ONE representative signature in the
    * state store. A later doc colliding with the representative and
    * matching ≥ threshold of its 32 mins (the unbiased MinHash
    * Jaccard estimate) is emitted as a [[NearDupPair]].
    *
    * State: 256 B per live bucket, aged out by event-time timeout
    * `delay` past the watermark — bounded by ingest-rate × delay like
    * C23's exact dedup, never by corpus size. Docs with < 5 words
    * have no signature and pass through unexamined (same contract as
    * the batch path, which never buckets them). Full-clique pairing
    * and cross-history dedup remain batch jobs ([[Dedup.minhashLsh]]);
    * the stream answers "does this landing doc near-duplicate
    * something recently ingested" with one stateful operator. */
  def nearDupPairs(docs: DataFrame, tsCol: String, delay: String,
      threshold: Double = 0.5): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    val numPerm = 32
    val bands = 8
    val rows = numPerm / bands
    val ttlMs = intervalMs(delay)
    val sigd = docs
      .withColumn("sh", Dedup.shingleArrCol(col("text")))
      .withColumn("sig", Dedup.minhashSigCol(col("sh"), numPerm))
      .filter(col("sig").isNotNull)
      .withWatermark(tsCol, delay)
    // same band derivation as the batch LSH: xxhash64 over each band's
    // 4 signature rows
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    val exploded = sigd
      .select(col("doc_id"), col(tsCol).as("ts"), col("sig"),
        explode(array(bandCols: _*)).as("bb"))
      .select($"doc_id", $"ts", $"bb.band".as("band"),
        $"bb.bucket".as("bucket"), $"sig")
      .as[BandRow]
    exploded.groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketRep, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), it: Iterator[BandRow],
            state: GroupState[BucketRep]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // deterministic arrival order within the micro-batch
            val ordered = it.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            var rep = state.getOption
            val out = Seq.newBuilder[NearDupPair]
            for (r <- ordered) rep match {
              case None => rep = Some(BucketRep(r.doc_id, r.sig))
              case Some(p) if p.doc_id != r.doc_id =>
                var m = 0
                var i = 0
                while (i < numPerm) { if (p.sig(i) == r.sig(i)) m += 1; i += 1 }
                val est = m.toDouble / numPerm
                if (est >= threshold)
                  out += NearDupPair(p.doc_id, r.doc_id, key._1, est)
              case _ => ()
            }
            rep.foreach(state.update)
            val floor = math.max(state.getCurrentWatermarkMs(),
              ordered.last.ts.getTime)
            state.setTimeoutTimestamp(floor + ttlMs)
            out.result().iterator
          }
      }
  }

  /** Apply ONE document micro-batch to the F46 BM25 index exactly
    * once, by the one batch gate
    * ([[graft.sources.Lake.Manifest.applyBatchOnce]]) on `postings`,
    * `docs` and `meta`: docs added, or -1 for a full-replay skip.
    * Partial crash-window replays complete via the per-table tag
    * tests and the src-tagged anti-join inside appendBm25Docs. */
  def streamBm25Batch(dir: String, batch: DataFrame,
      batchId: Long): Long = {
    val spark = batch.sparkSession
    applyBatchOnce(spark, Seq("postings", "docs", "meta").map(t => s"$dir/$t"),
      batchId)(graft.operators.TextAnalysis.appendBm25Docs(spark, dir, batch, _))
      .getOrElse(-1L)
  }

  /** Continuous BM25 index maintenance over a document feed: the
    * served retrieval index trails the drop zone by one trigger,
    * each batch tokenizing only ITS documents — the corpus is never
    * retokenized (the VecStream/E9 continuous-maintenance shape,
    * applied to text retrieval). */
  def maintainBm25(docs: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    VecStream.maintain(docs, checkpoint)(
      (batch, batchId) => streamBm25Batch(dir, batch, batchId) >= 0)

  /** One asset-feed micro-batch into the G26 catalog: exactly-once
    * by the batch gate on the catalog dir plus semantic idempotence
    * (re-delivered doc_ids anti-join to nothing). Returns -1 when
    * skipped. */
  def streamAssetBatch(dir: String, batch: DataFrame,
      batchId: Long): Long = {
    val spark = batch.sparkSession
    applyBatchOnce(spark, Seq(dir), batchId)(
      graft.operators.Multimodal.appendAssetCatalog(spark, dir, batch, _))
      .getOrElse(-1L)
  }

  /** One chunk-store micro-batch: exactly-once by the batch gate on
    * the store dir plus semantic idempotence (known chunk hashes
    * anti-join to nothing). Returns -1 when skipped. */
  def streamChunkBatch(dir: String, batch: DataFrame,
      batchId: Long): Long = {
    val spark = batch.sparkSession
    applyBatchOnce(spark, Seq(dir), batchId)(
      Dedup.appendChunkDocs(spark, dir, batch, _)).getOrElse(-1L)
  }

  /** C×D: continuous CHUNK-STORE maintenance over a document feed —
    * each batch chunks only ITS documents and appends only UNSEEN
    * content addresses, so the store prices every refresh ("how many
    * chunks are actually new") without ever re-chunking history. */
  def maintainChunkStore(docs: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    VecStream.maintain(docs, checkpoint)(
      (batch, batchId) => streamChunkBatch(dir, batch, batchId) >= 0)

  /** One shard-catalog micro-batch: exactly-once by the batch gate on
    * the catalog dir plus semantic idempotence (known shard ids
    * anti-join to nothing). Returns -1 when skipped. */
  def streamShardBatch(dir: String, batch: DataFrame,
      batchId: Long): Long = {
    val spark = batch.sparkSession
    applyBatchOnce(spark, Seq(dir), batchId)(
      graft.operators.Multimodal.appendShardCatalog(spark, dir, batch, _))
      .getOrElse(-1L)
  }

  /** C×G (G35): continuous SHARD-CATALOG maintenance over a shard
    * feed — each landed tar/zip shard is walked ONCE, in its
    * micro-batch, and the sample-bucket-partitioned member index
    * trails the drop zone by one trigger; a sample fetch then reads
    * byte ranges off the index without ever re-opening archives. */
  def maintainShardCatalog(shards: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    VecStream.maintain(shards, checkpoint)(
      (batch, batchId) => streamShardBatch(dir, batch, batchId) >= 0)

  /** C×G: continuous ASSET-CATALOG maintenance over a binary feed —
    * each landed asset is header-sniffed ONCE, in its micro-batch,
    * and the format-partitioned catalog trails the drop zone by one
    * trigger; decoder pools route off the catalog without touching
    * payload bytes (the F46/E9 continuous-maintenance shape, applied
    * to multimodal routing). */
  def maintainAssetCatalog(assets: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    VecStream.maintain(assets, checkpoint)(
      (batch, batchId) => streamAssetBatch(dir, batch, batchId) >= 0)
}
