package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.functions.{ByteParser, DotProduct, MinHashAgg, ParseBytes}

/** SparkSessionExtensions hook: registers the engine's custom
  * expressions AND table functions for SQL users, so a pure-SQL
  * client (JDBC/thrift) can run the library without a line of Scala:
  *
  *  - scalar/agg expressions: `dot_product(a, b)`, `minhash_sig(s, n)`
  *  - every byte parser in [[graft.functions.ByteParser.all]] under
  *    its SQL name: `webp_dims(payload)`, `mp4_samples(payload[,
  *    handler])`, … — one builder loop, one arity check
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

  /** The analysis error every builder raises on a bad call. */
  private def usageError(usage: String) =
    new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> usage))

  /** Foldable-string TVF argument or analysis error (a column here
    * would otherwise surface as a runtime ClassCastException; a
    * foldable typed null — CAST(NULL AS STRING) — folds to null and
    * must raise the same usage error, not NPE). */
  private def litString(args: Seq[Expression], i: Int,
      usage: String): String = {
    if (i >= args.length || !args(i).foldable ||
        args(i).dataType != org.apache.spark.sql.types.StringType)
      throw usageError(usage)
    val v = args(i).eval()
    if (v == null) throw usageError(usage)
    v.toString
  }

  /** Foldable numeric TVF argument or analysis error (same contract
    * as [[litString]]; SQL numeric literals arrive as int/long/
    * double/decimal depending on how the user wrote them, so all
    * four shapes normalize to a double here). */
  private def litNumber(args: Seq[Expression], i: Int,
      usage: String): Double = {
    import org.apache.spark.sql.types._
    def fail() = throw usageError(usage)
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
      throw usageError(s"unknown graft query '$name'; keys: " +
        SparkEntry.queries.keys.toSeq.sorted.take(8).mkString(", ") +
        s", ... (${SparkEntry.queries.size} total)"))
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
        if (args.length != 3) throw usageError(usage)
        val dir = litString(args, 0, usage)
        val pct = litNumber(args, 1, usage)
        val horizon = litNumber(args, 2, usage)
        if (!(pct > 0.0 && pct < 1.0))
          throw usageError(
            s"graft_shock pct must be a fraction in (0, 1), got $pct")
        if (horizon < 1.0 || horizon > 1000.0 || horizon != horizon.floor)
          throw usageError(
            s"graft_shock horizon must be an integer in [1, 1000], " +
              s"got $horizon")
        graft.operators.Resilience.shockSimParams(
          org.apache.spark.sql.SparkSession.active, dir, pct,
          horizon.toInt).queryExecution.logical
      }))
    // every byte parser of the multimodal family, one builder each;
    // the mp4 demux parsers take a second, optional literal handler
    for (p <- ByteParser.all) {
      val usage =
        if (p.routed) s"${p.sqlName}(payload[, handler]) requires a " +
          "binary payload and an optional literal handler"
        else s"${p.sqlName}(payload) requires one binary payload"
      e.injectFunction((
        new FunctionIdentifier(p.sqlName),
        new ExpressionInfo(classOf[ParseBytes].getName, p.sqlName),
        (args: Seq[Expression]) => args match {
          case Seq(payload) => ParseBytes(p, payload)
          case Seq(payload, _) if p.routed =>
            ParseBytes(p, payload, litString(args, 1, usage))
          case _ => throw usageError(usage)
        }))
    }
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw usageError("dot_product(a, b) requires two arrays")
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        // the permutation count must be a compile-time constant — a
        // column here would otherwise surface as an obscure runtime
        // ClassCastException instead of an analysis error
        val usage = "minhash_sig(col, numPerm) requires a literal " +
          "numPerm, an integer >= 1"
        if (args.length != 2) throw usageError(usage)
        val n = litNumber(args, 1, usage)
        if (n < 1 || n != n.floor || n > Int.MaxValue)
          throw usageError(usage)
        MinHashAgg(args.head, n.toInt).toAggregateExpression()
      }))
  }
}
