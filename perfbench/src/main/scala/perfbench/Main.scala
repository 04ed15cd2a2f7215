package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A seed whose generated input breaks a documented precondition of the
  * code under test; such a seed is reported and not measured. */
final class Refused(msg: String) extends Exception(msg)

/** Entry point of the benchmark JVM. `perfbench/run.py` builds the
  * harness, starts this class once per run and turns the result file
  * into the benchmark's result line. */
object Main {
  def main(a: Array[String]): Unit = {
    val args = Args.parse(a)
    val code = try {
      val o = args.workload match {
        case "cdc_stream" => CdcStreamBench.run(args)
        case "analytics_mix" => AnalyticsMixBench.run(args)
        case w => sys.error(s"unknown workload $w")
      }
      Json.write(args.out, mutable.LinkedHashMap[String, Any](
        "workload" -> args.workload, "seed" -> args.seed,
        "attempted" -> o.attempted, "failed" -> o.failed,
        "failures" -> o.failures.take(20),
        "metrics" -> o.metrics.map { case (k, m) =>
          k -> (mutable.LinkedHashMap[String, Any]("value" -> m.value, "unit" -> m.unit) ++
            (if (m.base.isEmpty) Nil else Seq("base" -> m.base)))
        },
        "report" -> o.report) ++ o.extra)
      0
    } catch {
      case r: Refused =>
        Json.write(args.out, Map("refused" -> r.getMessage))
        3
      case e: Throwable =>
        e.printStackTrace()
        4
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly.
    Runtime.getRuntime.halt(code)
  }

  /** Session set-up, repeated three times in one JVM, each on a fresh
    * session: session creation plus one small aggregation that loads
    * the scan, shuffle and codegen paths. Returns the last (kept)
    * session and each repetition's wall time in seconds. */
  def setup(args: Args, tracer: Tracer, master: String,
      partitions: Int): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      spark = tracer.span("GraftSession.create") {
        Env.session(master, partitions, args.work)
      }
      tracer.attach(spark)
      spark.range(100000).selectExpr("id % 97 AS k", "id").groupBy("k").sum("id").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) spark.stop()
      dt
    }
    (spark, times)
  }

  /** Runs `warm` once as the workload's warm-up pass; returns its wall
    * time in seconds. */
  def warmup(tracer: Tracer)(warm: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span("setup.warmup")(warm)
    (System.nanoTime() - t0) / 1e9
  }
}
