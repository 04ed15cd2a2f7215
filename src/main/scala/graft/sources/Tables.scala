package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet loaders for the test corpus (TESTDATA.md), and the one way
  * the engine opens an input table ([[open]]).
  *
  * Every read is a parquet scan with the schema supplied, so Catalyst
  * owns predicate pushdown and column pruning — downstream operators
  * keep filters/projections in `Column` form, so scans show
  * `PushedFilters` + pruned `ReadSchema` — and a repeated request
  * against an unchanged table runs no schema-inference job.
  * Mirrors the reference's ingest step (reference:
  * CDCPROJECT_(code_for_cleaning_data_set).ipynb cell 1,
  * `pd.read_excel(..., skiprows=5)` + column fixes) re-expressed as a
  * columnar, splittable source suitable for 100 TB scans.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Where table `name` of the corpus under `dir` lives. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Open the parquet files or directories `paths` as one table. The
    * schema is inferred once per input version ([[Lake.fingerprint]]
    * of `paths`) and then supplied to the reader, so a later open of
    * the same files skips the 1-task inference job; a rewrite in
    * place is a new version and is inferred afresh. */
  def open(spark: SparkSession, paths: Seq[String]): DataFrame =
    openVersion(spark, paths, Lake.fingerprint(spark, paths))

  /** The session confs that change what parquet schema inference
    * returns for the same files; part of every schema key. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema")

  /** [[open]] with the caller naming the version of `paths` — for
    * write-once files (a manifest version's data files) the ordered
    * file list itself, which needs no listing. The order is part of
    * the key: inference without schema merging reads one file. */
  private[sources] def openVersion(spark: SparkSession, paths: Seq[String],
      version: String): DataFrame = {
    val confs = InferenceConfs.map(k => spark.conf.getOption(k).getOrElse(""))
    val schema = Lake.derived("schema", (version +: confs).mkString("\t")) {
      spark.read.parquet(paths: _*).schema
    }
    spark.read.schema(schema).parquet(paths: _*)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = open(spark, Seq(path(dir, name)))
    // events.ts has shipped as two parquet physical types across
    // testdata generations: TIMESTAMP(NANOS) (surfaces as Long nanos
    // under spark.sql.legacy.parquet.nanosAsLong=true — truncate to
    // µs exactly like DuckDB reading the same file) and plain
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaces as
    // TIMESTAMP_NTZ — re-type to the session-UTC instant type, a
    // wall-clock no-op under the UTC session, so unix_micros/window
    // functions downstream see the type they expect). Oracles compare
    // bit-equal under both: DuckDB's naive µs values match either way.
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast(org.apache.spark.sql.types.TimestampType))
    else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
