package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Local file system that simulates a process dying inside a delete:
  * while armed, the first `delete` of a path that existed when it was
  * armed completes and then throws [[CrashingLocalFs.InjectedCrash]],
  * so whatever the caller meant to do next never happens. Paths made
  * after arming — Spark's `_temporary` dirs and other scratch — never
  * trip it. Installed only inside [[CrashingLocalFs.crashIn]]. Built
  * on the engine's own `file:` file system, so a crash spec runs the
  * code the engine runs. */
class CrashingLocalFs extends graft.sources.LocalFs {
  override def delete(f: Path, recursive: Boolean): Boolean = {
    val done = super.delete(f, recursive)
    CrashingLocalFs.afterDelete(f)
    done
  }
}

object CrashingLocalFs {
  final class InjectedCrash(val path: String)
    extends java.io.IOException(s"injected crash after deleting $path")

  // paths (scheme-less) that existed when armed; empty = disarmed
  @volatile private var armed: Set[String] = Set.empty

  private def key(f: Path): String = f.toUri.getPath.stripSuffix("/")

  private def afterDelete(f: Path): Unit = synchronized {
    if (armed.contains(key(f))) {
      armed = Set.empty
      throw new InjectedCrash(key(f))
    }
  }

  /** Run `body` with this file system serving `file:` paths (through
    * `fs.file.impl`, uncached so every lookup gets an instance) and
    * armed over everything under `root`. Returns the crash `body`
    * died of; fails when `body` finished without one. Both settings
    * are put back as they were and the trap disarmed on the way out. */
  def crashIn(spark: SparkSession, root: String)(body: => Unit): InjectedCrash = {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    armed = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)))(
      _.iterator().asScala.map(_.toString.stripSuffix("/")).toSet)
    conf.set("fs.file.impl", classOf[CrashingLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      body
      throw new AssertionError(s"no delete under $root crashed")
    } catch {
      case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case c: InjectedCrash => c }
          .getOrElse(throw e)
    } finally {
      before.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
      armed = Set.empty
    }
  }
}
