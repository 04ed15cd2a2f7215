package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line settings of one harness run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, out: Path, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, need("cores").toInt)
  }
}

/** A tiny JSON writer: the harness only emits flat objects, arrays and
  * numbers, so a dependency-free encoder keeps the output exact. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, (value(v) + "\n").getBytes(UTF_8))
  }
}

object Stats {
  /** Percentile (p in 0..100) of a sample, linear between order
    * statistics (numpy's default). */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return Double.NaN
    val h = (s.length - 1) * p / 100.0
    val i = math.floor(h).toInt
    if (i + 1 >= s.length) s(i) else s(i) + (h - i) * (s(i + 1) - s(i))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val n = pts.size.toDouble
    if (n < 2) return 0.0
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0
    else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}

/** One measured metric with its unit; `base` records the numerator and
  * denominator of a ratio so a reader can re-derive it. */
final case class Metric(value: Double, unit: String,
    base: Map[String, Double] = Map.empty)

/** What a workload hands back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    metrics: mutable.LinkedHashMap[String, Metric],
    report: mutable.LinkedHashMap[String, Any],
    extra: Map[String, Any] = Map.empty)

object Env {
  /** Every session of the benchmark is the engine's canonical session
    * ([[graft.GraftSession.builder]]); only the warehouse directory is
    * moved into the benchmark's work directory, so a run writes nothing
    * outside its checkout. */
  def session(master: String, shufflePartitions: Int, work: Path): SparkSession = {
    val s = graft.GraftSession.builder(master, shufflePartitions)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def dirBytes(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      var bytes = 0L; var files = 0L
      s.filter(x => Files.isRegularFile(x) && x.getFileName.toString.endsWith(".parquet"))
        .forEach { x => bytes += Files.size(x); files += 1 }
      (bytes, files)
    } finally s.close()
  }
}
