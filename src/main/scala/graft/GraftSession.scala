package graft

import org.apache.spark.sql.SparkSession

/** Canonical session config for the engine. One place for the knobs
  * that matter at scale (AQE, shuffle partitions) and for oracle
  * parity (UTC, nanos handling). */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the generated-class cache defaults to 100 entries; a session
      // serving the full 438-query registry compiles a few thousand
      // distinct codegen units, so every re-run recompiled everything
      // (Janino ~50-200 ms per unit). Size it to hold the registry's
      // working set — a long-lived production session wants the same.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as Long nanos and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // without its native library, Hadoop's local file system starts a
      // chmod, readlink or ls process for calls that every checkpoint
      // and lake commit make; sources.LocalFs answers them in the JVM.
      // FileContext has its own key: streaming checkpoints write through it.
      .config("spark.hadoop.fs.file.impl", classOf[sources.LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[sources.LocalFs.Context].getName)

  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
