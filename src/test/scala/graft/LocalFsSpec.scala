package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Lake, LocalFs}
import graft.streaming.CdcStream
import graft.streaming.CdcStream.{Change, UserState}

/** The engine's `file:` file system ([[graft.sources.LocalFs]]): a
  * session resolves to it, it answers what Hadoop's stock local file
  * system answers, and a stream's micro-batches through it start no
  * process. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val root = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(root, new Configuration())
    fs
  }

  private def context(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(root, conf)
  }

  private def drain[T](it: RemoteIterator[T]): Seq[T] = {
    val b = Seq.newBuilder[T]
    while (it.hasNext) b += it.next()
    b.result()
  }

  private def describe(s: FileStatus): String =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else "-", s.getPermission, s.getOwner,
      s.getGroup, s.getModificationTime).mkString(" ")

  /** The statuses in path order, or the exception's class. */
  private def outcome(statuses: => Seq[FileStatus]): String =
    Try(statuses.map(describe).sorted.mkString("; "))
      .fold(_.getClass.getName, identity)

  /** An octal mode (Scala has no octal literals). */
  private def oct(digits: String): Int = Integer.parseInt(digits, 8)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  /** A file, a dir with a file in it, a link to a 0600 file and a
    * dangling link. */
  private def tree(): JPath = {
    val d = Files.createTempDirectory("graft_localfs_tree")
    Files.write(d.resolve("file.txt"), "bytes".getBytes)
    Files.write(Files.createDirectory(d.resolve("dir")).resolve("inner.txt"),
      "x".getBytes)
    Files.setAttribute(Files.write(d.resolve("secret.txt"), "s".getBytes),
      "unix:mode", Integer.valueOf(oct("600")))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("secret.txt"))
    Files.createSymbolicLink(d.resolve("dangling"), JPath.of("missing"))
    d
  }

  /** Each entry of the tree (and one missing name), plain and as a
    * qualified `file:` path. */
  private def paths(d: JPath): Seq[Path] =
    Seq("file.txt", "dir", "link", "dangling", "missing").flatMap { n =>
      val s = d.resolve(n).toString
      Seq(new Path(s), new Path(s"file:$s"))
    }

  private def assertSame(stock: Seq[(String, String)],
      ours: Seq[(String, String)]): Unit = {
    val diff = stock.zip(ours).collect {
      case ((call, a), (_, b)) if a != b => s"$call\n  stock: $a\n  ours:  $b"
    }
    assert(diff.isEmpty, diff.mkString("\n"))
  }

  test("a session resolves file: to the engine's file system in both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).getClass == classOf[LocalFs])
    assert(FileSystem.get(root, conf).asInstanceOf[LocalFileSystem]
      .getRaw.getClass == classOf[LocalFs.Raw])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass
      == classOf[LocalFs.Context])
  }

  test("statuses, listings and link statuses equal the stock file system's, both APIs") {
    val d = tree()
    def viaFileSystem(fs: FileSystem): Seq[(String, String)] =
      paths(d).flatMap(p => Seq(
        s"getFileStatus $p" -> outcome(Seq(fs.getFileStatus(p))),
        s"getFileLinkStatus $p" -> outcome(Seq(fs.getFileLinkStatus(p))),
        s"listStatus $p" -> outcome(fs.listStatus(p).toSeq))) ++ Seq(
        "listStatus tree" -> outcome(fs.listStatus(new Path(d.toString)).toSeq),
        "listFiles tree" ->
          outcome(drain(fs.listFiles(new Path(d.toString), true))))
    def viaFileContext(fc: FileContext): Seq[(String, String)] =
      paths(d).flatMap(p => Seq(
        s"getFileStatus $p" -> outcome(Seq(fc.getFileStatus(p))),
        s"getFileLinkStatus $p" -> outcome(Seq(fc.getFileLinkStatus(p))),
        s"listStatus $p" -> outcome(drain(fc.listStatus(p))))) ++ Seq(
        "listStatus tree" -> outcome(drain(fc.listStatus(new Path(d.toString)))),
        "listFiles tree" ->
          outcome(drain(fc.util.listFiles(new Path(d.toString), true))))
    val stockRaw = viaFileSystem(init(new RawLocalFileSystem))
    // the link reports its target's 0600: `ls -ld` runs on the canonical path
    assert(stockRaw.exists { case (c, r) =>
      c.startsWith("getFileStatus /") && c.endsWith("/link") && r.contains(" rw------- ")
    }, stockRaw.mkString("\n"))
    assertSame(stockRaw, viaFileSystem(init(new LocalFs.Raw)))
    assertSame(viaFileSystem(init(new LocalFileSystem)),
      viaFileSystem(init(new LocalFs)))
    assertSame(viaFileContext(context("org.apache.hadoop.fs.local.LocalFs")),
      viaFileContext(context(classOf[LocalFs.Context].getName)))
  }

  test("setPermission 0644, 0755, 0700 and a sticky mode land as the stock chmod lands them") {
    val d = Files.createTempDirectory("graft_localfs_chmod")
    val sides = Seq("stock" -> init(new RawLocalFileSystem),
      "ours" -> init(new LocalFs.Raw))
    // a plain node, a setgid one (a directory keeps setgid) and a sticky one
    val cases = for {
      dir <- Seq(false, true)
      from <- Seq("750", "2750", "1750").map(oct)
      to <- Seq("644", "755", "700", "1755").map(oct)
    } yield (dir, from, to)
    for (((dir, from, to), i) <- cases.zipWithIndex) {
      val landed = sides.map { case (side, fs) =>
        val p = d.resolve(s"$i-$side")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        Files.setAttribute(p, "unix:mode", Integer.valueOf(from))
        fs.setPermission(new Path(p.toString), new FsPermission(to.toShort))
        (mode(p), fs.getFileStatus(new Path(p.toString)).getPermission)
      }
      assert(landed.distinct.size == 1,
        f"${if (dir) "dir" else "file"} $from%o -> $to%o: stock, ours = $landed")
    }
  }

  test("three CDC micro-batches into the lake, a manifest publish and read and a fingerprint start no chmod, readlink, ls or stat") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_localfs_batches")
    val lake = base.resolve("lake").toString
    val published = base.resolve("published").toString
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    def bucketed(df: Dataset[UserState]) = df.toDF().select($"user_id",
      pmod($"user_id", lit(4L)).cast("int").as("bucket"), $"last_op",
      $"last_value", $"last_ts", $"last_event_id",
      when($"deleted", lit("d")).otherwise(lit("u")).as("op"))
    bucketed(Seq(UserState(0L, "I", 0.0, ts(0), 0L, deleted = false)).toDS())
      .drop("op").write.partitionBy("bucket").parquet(lake)
    val in = MemoryStream[Change]
    var publishedRows = 0L
    val started = ProcessStarts.during {
      val q = CdcStream.latestState(in.toDS()).writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (b: Dataset[UserState], _: Long) =>
          val delta = bucketed(b).persist()
          try Lake.mergeIntoPartitioned(spark, lake, "bucket", "user_id", delta)
          finally delta.unpersist()
        }
        .start()
      try (1 to 3).foreach { i =>
        in.addData((1 to 20).map(u =>
          Change(u.toLong, i * 100L + u, ts(i), if (i == 1) "I" else "U", i + u / 100.0)): _*)
        q.processAllAvailable()
      } finally q.stop()
      Lake.Manifest.publishSnapshot(spark.read.parquet(lake), published)
      publishedRows = Lake.Manifest.readPublished(spark, published).count()
      Lake.fingerprint(spark, Seq(lake))
      // the recording's own check: a start it must see
      new ProcessBuilder("true").start().waitFor()
    }
    assert(started.contains("true"), s"the recording saw no process start: $started")
    val forks = started.filter(Set("chmod", "readlink", "ls", "stat"))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(forks.isEmpty, s"process starts by program, of ${started.size} in all")
    assert(spark.read.parquet(lake).filter($"last_value" > 3.0).count() == 20)
    assert(publishedRows == 21)
  }
}
