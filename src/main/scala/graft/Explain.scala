package graft

/** Execution-inspection entrypoint: runs one or more registry queries
  * against a table dir and prints each job's and stage's time, task
  * count and record counts, then the final adaptive plan
  * (`runMain graft.Explain <sfDir> <key>[,<key>…]`; the plans alone
  * before execution are what [[Plans]] prints). Dev tool; not part of
  * the driver contract. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    // ad-hoc conf injection for plan experiments:
    // SPARK_GRAFT_CONF=key=value[;key=value…]
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    keys.foreach { k =>
      println(s"===== $k =====")
      // listener attaches BEFORE construction: iterative operators run
      // eager jobs (localCheckpoint / persist-materialize) while the
      // DataFrame is being BUILT, and the bench's timed region covers
      // construction + count — so must this tool's.
      val jobMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(e.jobId, e.time)
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(starts.get(e.jobId)).foreach { t0 =>
            jobMs.addAndGet(e.time - t0)
            println(f"[job ${e.jobId}] ${(e.time - t0) / 1000.0}%.2f s")
          }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val si = e.stageInfo
          val wall = (for { a <- si.completionTime; b <- si.submissionTime }
            yield (a - b) / 1000.0).getOrElse(-1.0)
          val m = si.taskMetrics
          println(f"[stage ${si.stageId}] $wall%.2f s  " +
            f"tasks=${si.numTasks}  run=${m.executorRunTime / 1000.0}%.2f " +
            f"deser=${m.executorDeserializeTime / 1000.0}%.2f " +
            f"gc=${m.jvmGCTime / 1000.0}%.2f " +
            f"in=${m.inputMetrics.recordsRead} " +
            f"sr=${m.shuffleReadMetrics.recordsRead} " +
            f"sw=${m.shuffleWriteMetrics.recordsWritten}  " +
            f"${si.name.takeWhile(_ != '(').trim}")
        }
      }
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val n = df.count()
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(l)
      println(f"[exec] $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        f" (build $tBuild%.2f s, jobs ${jobMs.get() / 1000.0}%.2f s)")
      // the FINAL adaptive plan (post-AQE re-optimization)
      println(df.queryExecution.executedPlan.toString.take(20000))
    }
    spark.stop()
  }
}
