package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.functions.{DotProduct, MinHashAgg}

/** SparkSessionExtensions hook: registers the engine's custom
  * expressions AND table functions for SQL users, so a pure-SQL
  * client (JDBC/thrift) can run the library without a line of Scala:
  *
  *  - scalar/agg expressions: `dot_product(a, b)`, `minhash_sig(s, n)`
  *  - `graft_q('<query key>', '<table dir>')` — the WHOLE operator
  *    registry as one table-valued function: every key in
  *    [[SparkEntry.queries]] becomes
  *    `SELECT * FROM graft_q('q_topk', '/data/sf1')`, composable with
  *    arbitrary SQL on top (joins, filters, CTEs).
  *  - `graft_topk(dir)` — ergonomic alias for the flagship ranked
  *    revenue query.
  *
  * Activate with `.withExtensions(new GraftExtensions)` (GraftSession
  * does) or `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Foldable-string TVF argument or analysis error (a column here
    * would otherwise surface as a runtime ClassCastException; a
    * foldable typed null — CAST(NULL AS STRING) — folds to null and
    * must raise the same usage error, not NPE). */
  private def litString(args: Seq[Expression], i: Int,
      usage: String): String = {
    if (i >= args.length || !args(i).foldable ||
        args(i).dataType != org.apache.spark.sql.types.StringType)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" -> usage))
    val v = args(i).eval()
    if (v == null)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" -> usage))
    v.toString
  }

  /** Foldable numeric TVF argument or analysis error (same contract
    * as [[litString]]; SQL numeric literals arrive as int/long/
    * double/decimal depending on how the user wrote them, so all
    * four shapes normalize to a double here). */
  private def litNumber(args: Seq[Expression], i: Int,
      usage: String): Double = {
    import org.apache.spark.sql.types._
    def fail() = throw new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> usage))
    if (i >= args.length || !args(i).foldable ||
        !args(i).dataType.isInstanceOf[NumericType]) fail()
    args(i).eval() match {
      case null => fail()
      case d: Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case _ => fail()
    }
  }

  /** Resolve a registry key against a table dir into the operator's
    * logical plan — the analysis-time body of the graft TVFs.
    *
    * Contract note: the registry builder runs at ANALYSIS time, so
    * the handful of operators whose construction is eager (e.g.
    * `q_abc`'s localCheckpointed shared aggregate, the served-index
    * queries that read a model) execute those Spark jobs while the
    * SQL statement is being analyzed, not when it runs. The planned
    * query is still byte-identical to the Scala API's; the cost just
    * lands earlier. Purely declarative entries (the majority) build
    * a lazy plan here at zero runtime cost. */
  private def registryPlan(name: String, dir: String): LogicalPlan = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" ->
          (s"unknown graft query '$name'; keys: " +
            SparkEntry.queries.keys.toSeq.sorted.take(8).mkString(", ") +
            s", ... (${SparkEntry.queries.size} total)"))))
    fn(org.apache.spark.sql.SparkSession.active, dir)
      .queryExecution.logical
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    e.injectTableFunction((
      new FunctionIdentifier("graft_q"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_q"),
      (args: Seq[Expression]) => {
        val usage = "graft_q(name, dir) requires two literal strings"
        registryPlan(litString(args, 0, usage), litString(args, 1, usage))
      }))
    // discoverability for SQL clients: the registry AS a table —
    // `SELECT * FROM graft_catalog()` lists every query key and
    // whether it carries a DuckDB oracle (rows-only ops don't)
    e.injectTableFunction((
      new FunctionIdentifier("graft_catalog"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_catalog"),
      (_: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        SparkEntry.queries.keys.toSeq.sorted
          .map(k => (k, SparkEntry.oracleSql.contains(k)))
          .toDF("query_key", "has_oracle").queryExecution.logical
      }))
    e.injectTableFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_topk"),
      (args: Seq[Expression]) => registryPlan("q_topk",
        litString(args, 0, "graft_topk(dir) requires a literal string"))))
    // the reference's headline INTERACTIVE feature (README.md:5 —
    // "Users can input a shock percentage to simulate future
    // downturns") as a PARAMETERIZED TVF: unlike graft_q's pinned
    // registry constants, the shock fraction and horizon come from
    // the SQL user. `SELECT * FROM graft_shock('/data/sf1', 0.25, 3)`
    e.injectTableFunction((
      new FunctionIdentifier("graft_shock"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_shock"),
      (args: Seq[Expression]) => {
        val usage = "graft_shock(dir, pct, horizon) requires a " +
          "literal string dir, a literal shock fraction in (0, 1), " +
          "and a literal horizon in [1, 1000] years"
        if (args.length != 3)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "USER_RAISED_EXCEPTION",
            messageParameters = Map("errorMessage" -> usage))
        val dir = litString(args, 0, usage)
        val pct = litNumber(args, 1, usage)
        val horizon = litNumber(args, 2, usage)
        if (!(pct > 0.0 && pct < 1.0))
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "USER_RAISED_EXCEPTION",
            messageParameters = Map("errorMessage" ->
              s"graft_shock pct must be a fraction in (0, 1), got $pct"))
        if (horizon < 1.0 || horizon > 1000.0 || horizon != horizon.floor)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "USER_RAISED_EXCEPTION",
            messageParameters = Map("errorMessage" ->
              (s"graft_shock horizon must be an integer in [1, 1000], " +
                s"got $horizon")))
        graft.operators.Resilience.shockSimParams(
          org.apache.spark.sql.SparkSession.active, dir, pct,
          horizon.toInt).queryExecution.logical
      }))
    // the mp4 demux family for pure-SQL clients: a second optional
    // literal-string argument routes by hdlr handler type
    e.injectFunction((
      new FunctionIdentifier("mp4_samples"),
      new ExpressionInfo(classOf[graft.functions.Mp4SampleTable].getName,
        "mp4_samples"),
      (args: Seq[Expression]) =>
        if (args.length <= 1) graft.functions.Mp4SampleTable(args.head)
        else graft.functions.Mp4SampleTable(args.head, litString(args, 1,
          "mp4_samples(payload[, handler]) requires a literal handler"))))
    e.injectFunction((
      new FunctionIdentifier("mp4_timing"),
      new ExpressionInfo(classOf[graft.functions.Mp4TimingTable].getName,
        "mp4_timing"),
      (args: Seq[Expression]) =>
        if (args.length <= 1) graft.functions.Mp4TimingTable(args.head)
        else graft.functions.Mp4TimingTable(args.head, litString(args, 1,
          "mp4_timing(payload[, handler]) requires a literal handler"))))
    e.injectFunction((
      new FunctionIdentifier("mp4_tracks"),
      new ExpressionInfo(classOf[graft.functions.Mp4TrackDir].getName,
        "mp4_tracks"),
      (args: Seq[Expression]) => graft.functions.Mp4TrackDir(args.head)))
    e.injectFunction((
      new FunctionIdentifier("mp4_edits"),
      new ExpressionInfo(classOf[graft.functions.Mp4EditList].getName,
        "mp4_edits"),
      (args: Seq[Expression]) =>
        if (args.length <= 1) graft.functions.Mp4EditList(args.head)
        else graft.functions.Mp4EditList(args.head, litString(args, 1,
          "mp4_edits(payload[, handler]) requires a literal handler"))))
    e.injectFunction((
      new FunctionIdentifier("mp4_frag_samples"),
      new ExpressionInfo(classOf[graft.functions.Mp4FragTable].getName,
        "mp4_frag_samples"),
      (args: Seq[Expression]) => graft.functions.Mp4FragTable(args.head)))
    e.injectFunction((
      new FunctionIdentifier("pdf_xref"),
      new ExpressionInfo(classOf[graft.functions.PdfXrefTable].getName,
        "pdf_xref"),
      (args: Seq[Expression]) => graft.functions.PdfXrefTable(args.head)))
    e.injectFunction((
      new FunctionIdentifier("mkv_tracks"),
      new ExpressionInfo(classOf[graft.functions.MkvTrackDir].getName,
        "mkv_tracks"),
      (args: Seq[Expression]) => graft.functions.MkvTrackDir(args.head)))
    e.injectFunction((
      new FunctionIdentifier("ogg_pages"),
      new ExpressionInfo(classOf[graft.functions.OggPageTable].getName,
        "ogg_pages"),
      (args: Seq[Expression]) => graft.functions.OggPageTable(args.head)))
    // the audio/image header-demux family (G22/G24/G25)
    e.injectFunction((
      new FunctionIdentifier("mp3_frames"),
      new ExpressionInfo(classOf[graft.functions.Mp3FrameTable].getName,
        "mp3_frames"),
      (args: Seq[Expression]) => graft.functions.Mp3FrameTable(args.head)))
    e.injectFunction((
      new FunctionIdentifier("flac_info"),
      new ExpressionInfo(classOf[graft.functions.FlacStreamInfo].getName,
        "flac_info"),
      (args: Seq[Expression]) => graft.functions.FlacStreamInfo(args.head)))
    e.injectFunction((
      new FunctionIdentifier("tar_members"),
      new ExpressionInfo(classOf[graft.functions.TarMemberTable].getName,
        "tar_members"),
      (args: Seq[Expression]) => graft.functions.TarMemberTable(args.head)))
    e.injectFunction((
      new FunctionIdentifier("zip_dir"),
      new ExpressionInfo(classOf[graft.functions.ZipDirTable].getName,
        "zip_dir"),
      (args: Seq[Expression]) => graft.functions.ZipDirTable(args.head)))
    e.injectFunction((
      new FunctionIdentifier("h264_sps"),
      new ExpressionInfo(classOf[graft.functions.H264SpsInfo].getName,
        "h264_sps"),
      (args: Seq[Expression]) => graft.functions.H264SpsInfo(args.head)))
    e.injectFunction((
      new FunctionIdentifier("h265_sps"),
      new ExpressionInfo(classOf[graft.functions.H265SpsInfo].getName,
        "h265_sps"),
      (args: Seq[Expression]) => graft.functions.H265SpsInfo(args.head)))
    e.injectFunction((
      new FunctionIdentifier("jpeg_sof"),
      new ExpressionInfo(classOf[graft.functions.JpegSofInfo].getName,
        "jpeg_sof"),
      (args: Seq[Expression]) => graft.functions.JpegSofInfo(args.head)))
    e.injectFunction((
      new FunctionIdentifier("aac_frames"),
      new ExpressionInfo(classOf[graft.functions.AacFrameTable].getName,
        "aac_frames"),
      (args: Seq[Expression]) => graft.functions.AacFrameTable(args.head)))
    e.injectFunction((
      new FunctionIdentifier("webp_dims"),
      new ExpressionInfo(classOf[graft.functions.WebpDimsInfo].getName,
        "webp_dims"),
      (args: Seq[Expression]) => graft.functions.WebpDimsInfo(args.head)))
    e.injectFunction((
      new FunctionIdentifier("exif_meta"),
      new ExpressionInfo(classOf[graft.functions.ExifMeta].getName,
        "exif_meta"),
      (args: Seq[Expression]) => graft.functions.ExifMeta(args.head)))
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        // the permutation count must be a compile-time constant — a
        // column here would otherwise surface as an obscure runtime
        // ClassCastException instead of an analysis error
        if (args.length != 2 || !args(1).foldable) {
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "USER_RAISED_EXCEPTION",
            messageParameters = Map("errorMessage" ->
              "minhash_sig(col, numPerm) requires a literal numPerm"))
        }
        val n = args(1).eval().asInstanceOf[Number].intValue()
        MinHashAgg(args.head, n).toAggregateExpression()
      }))
  }
}
