package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Output sinks (reference: ipynb cell 5 `df.to_excel(...)`,
  * resilience.py:82 `merged.to_csv(...)` — re-expressed as columnar,
  * partition-pruned layouts). */
object Sink {

  /** Plain parquet (the Verify contract uses this shape). */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Hive-style partitioned parquet: readers filtering on the
    * partition columns scan only matching directories (partition
    * pruning — the difference between reading 100 TB and reading one
    * key's slice). */
  def partitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Append-mode partitioned parquet: the daily-increment write of an
    * ingest loop — new files land inside the existing hive-style
    * partition directories, so the corpus grows without rewriting
    * history (pair with [[compact]] when small files accumulate). */
  def partitionedAppend(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(cols: _*).parquet(path)

  /** CSV export (the `merged.to_csv(...)` twin, resilience.py:82) —
    * headered, one part per task. At 100 TB this stays distributed;
    * `single = true` coalesces to one file for the reference's
    * hand-off shape (Streamlit reads a single CSV) — only sane for
    * driver-scale result tables like the 25-row resilience metrics. */
  def csv(df: DataFrame, path: String, single: Boolean = false): Unit =
    (if (single) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** ORC export — columnar interchange with the Hive/Trino side of a
    * lake. Same layout contract as the parquet sinks (hive-style
    * partition directories when `cols` given), and Spark's ORC reader
    * does the same predicate pushdown + partition pruning on the way
    * back in. */
  def orc(df: DataFrame, path: String, cols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (cols.nonEmpty) w.partitionBy(cols: _*) else w).orc(path)
  }

  /** JSONL export — the interchange format LLM corpus tooling speaks
    * (one JSON object per line; pairs with [[Jsonl.read]] on the way
    * back in). Distributed one-file-per-task by default; `single`
    * coalesces for small hand-off tables only — a 100 TB corpus
    * export stays parallel and gets compacted downstream instead. */
  def jsonl(df: DataFrame, path: String, single: Boolean = false): Unit =
    (if (single) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).json(path)

  /** Bucketed + sorted parquet table (H12) — the co-location layout
    * for repeated big joins/aggregations on a stable key: both sides
    * hash into the same `buckets` files at WRITE time, so every later
    * join or groupBy on `keys` reads matching buckets instead of
    * shuffling the corpus (plan shows a join with ZERO Exchange —
    * spec-pinned). At 100 TB this converts the recurring fact⋈fact
    * shuffle (the single most expensive stage in a daily pipeline)
    * into a one-time write cost; size `buckets` so one bucket of the
    * LARGER table fits an executor (e.g. 4096 for a 10 TB fact at
    * ~2.5 GB/bucket). Registered through the session catalog because
    * bucket metadata lives in the table definition, not the files. */
  def bucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)

  /** H22 training-shard export — the last-mile writer of a curation
    * run: the F14-packed corpus lands as FIXED-SIZE shards (the
    * WebDataset/Megatron dataset shape: a trainer's data loader
    * claims whole shards, so shard count × shard size is the unit of
    * training-time parallelism and resumability) plus a manifest the
    * loader trusts.
    *
    *  - shard_id = first_block div blocksPerShard (block-aligned
    *    cuts; a block-spanning doc follows its FIRST block, so every
    *    doc lands in exactly one shard and per-shard token mass is
    *    bounded by blocksPerShard·blockTokens + one max-doc carry);
    *  - `ord` = xxhash64(doc_id, seed): a deterministic, seeded
    *    within-shard shuffle order, so epoch randomization needs no
    *    training-time RNG state — re-running with the same seed
    *    replays the same stream (the F7 split-assign determinism
    *    argument applied to iteration order);
    *  - the manifest (one row per shard: n_docs, n_tokens,
    *    first/last block) is recomputed FROM THE WRITTEN FILES, not
    *    from the in-flight frame — the H16 truthful-metrics rule.
    *
    * Write cost: the F14 packing pass + one partitioned write; the
    * manifest pass reads only shard_id/n_tok columns (pruned scan). */
  def trainingShards(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, path: String, blockTokens: Long = 512L,
      blocksPerShard: Long = 8L, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.functions._
    val packed = graft.operators.TextAnalysis
      .packBlocks(docs, blockTokens.toInt)
    val sharded = packed
      .withColumn("shard_id", expr(s"first_block div $blocksPerShard"))
      .withColumn("ord", xxhash64(col("doc_id"), lit(seed)))
    sharded.write.mode(SaveMode.Overwrite)
      .partitionBy("shard_id").parquet(path)
    // bare read: the shards were written just above, so a schema keyed
    // by their version would miss every time and add a listing
    spark.read.parquet(path)
      // partition-column inference narrows shard_id to int; pin long
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("first_block")).as("first_block"),
        max(col("last_block")).as("last_block"))
      .orderBy(col("shard_id"))
  }

  /** Small-file compaction: rewrite a parquet dataset into ~targetMB
    * files. The operational fix for streaming sinks and over-
    * partitioned writes — a million tiny files turn a 100 TB scan
    * into a listing/open() storm long before any byte is read. */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetMB: Int = 512): Unit =
    // bare read: compaction reads each input version once, so a schema
    // keyed by it would miss every time and add a listing
    compacted(spark.read.parquet(inPath), targetMB)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** `df` repartitioned into ~targetMB pieces — the sizing rule of
    * [[compact]], shared by every compaction that writes elsewhere
    * (a manifest snapshot). The partition count derives from the
    * input's on-disk size, so the same call is right at 1 GB and at
    * 100 TB. */
  def compacted(df: DataFrame, targetMB: Int = 512): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = ((bytes / (targetMB.toLong * 1024 * 1024)) + 1)
      .min(BigInt(1 << 20)).toInt
    df.repartition(parts)
  }
}
