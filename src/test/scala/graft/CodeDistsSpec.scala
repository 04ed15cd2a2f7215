package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Similarity

/** The nearest-codeword kernel (`CodeDists`) and the picks built on
  * it: distances bit-identical to the per-codeword literal form they
  * replace, the same argmin / top-n under ties, signed zeros, NaN and
  * sparse ids, and a plan whose generated code does not depend on the
  * model it carries. */
class CodeDistsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  // sparse ids (as after Lloyd's drops an empty cell); codewords 3 and 7
  // are identical, so equal biases tie them exactly
  private val book: Array[(Int, Array[Double])] = Array(
    0 -> Array(1.0, 0.0), 3 -> Array(0.0, 1.0),
    7 -> Array(0.0, 1.0), 9 -> Array(1.0, 1.0))
  private val nan = Double.NaN

  /** (case, v, per-codeword bias) rows. */
  private val cases: Seq[(String, Array[Double], Array[Double])] = Seq(
    ("exact tie 3 = 7", Array(0.0, 2.0), Array(1.0, 1.0, 1.0, 2.0)),
    ("0.0 at 3, -0.0 at 7", Array(0.0, 0.0), Array(5.0, 0.0, -0.0, 1.0)),
    ("-0.0 at 3, 0.0 at 7", Array(0.0, 0.0), Array(5.0, -0.0, 0.0, 1.0)),
    ("-0.0 at 9 below 0.0 at 7", Array(0.0, 0.0), Array(5.0, 3.0, 0.0, -0.0)),
    ("NaN vs 5.0", Array(0.0, 0.0), Array(nan, 5.0, nan, 6.0)),
    ("NaN amid a tie", Array(0.0, 0.0), Array(2.0, nan, 1.0, 1.0)),
    ("all NaN", Array(nan, 0.0), Array(1.0, 1.0, 1.0, 1.0)),
    ("plain", Array(3.0, -1.0), Array(1.0, 1.0, 4.0, 2.0)))

  private def frame(interpreted: Boolean): DataFrame = {
    import spark.implicits._
    val df = cases.toDF("name", "v", "bias")
    // a local relation folds the projection on the driver (interpreted
    // eval); a shuffle puts it back into whole-stage codegen
    if (interpreted) df else df.repartition(1)
  }

  /** The replaced form: one (bias − 2·v·c, id) struct per codeword. */
  private def literalStructs: Seq[Column] = book.indices.map { i =>
    val (id, c) = book(i)
    struct((element_at(col("bias"), i + 1) -
      lit(2.0) * VectorFunctions.dot(col("v"), typedlit(c))).as("d"),
      lit(id).as("id"))
  }

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  for (interpreted <- Seq(true, false)) {
    val mode = if (interpreted) "interpreted" else "codegen"
    test(s"kernel picks == least / array_sort over literal structs ($mode)") {
      val d = Similarity.bookDists(col("v"), book, col("bias"))
      val rows = frame(interpreted).select(col("name"), d.as("d"),
          array(literalStructs: _*).as("old"),
          Similarity.nearestId(d, book).as("arg"),
          least(literalStructs: _*).getField("id").as("arg_old"),
          Similarity.nearestIds(d, book, 3).getField("id").as("top"),
          slice(array_sort(array(literalStructs: _*)), 1, 3)
            .getField("id").as("top_old"))
        .collect()
      assert(rows.length == cases.length)
      rows.foreach { r =>
        val name = r.getString(0)
        val kd = r.getSeq[Double](1)
        val od = r.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(0))
        assert(kd.map(bits) == od.map(bits), s"$name: distances $kd vs $od")
        assert(r.getInt(3) == r.getInt(4), s"$name: argmin")
        assert(r.getSeq[Int](5) == r.getSeq[Int](6), s"$name: top-3")
      }
      val arg = rows.map(r => r.getString(0) -> r.getInt(3)).toMap
      assert(arg == Map("exact tie 3 = 7" -> 3, "0.0 at 3, -0.0 at 7" -> 3,
        "-0.0 at 3, 0.0 at 7" -> 3, "-0.0 at 9 below 0.0 at 7" -> 7,
        "NaN vs 5.0" -> 3, "NaN amid a tie" -> 7, "all NaN" -> 0,
        "plain" -> 0), arg)
    }
  }

  test("a one-codeword book picks its only id; pqEncode codes it as 0") {
    import spark.implicits._
    val one = Array(4 -> Array(1.0, 2.0))
    val got = frame(interpreted = false).select(Similarity.nearestId(
      Similarity.bookDists(col("v"), one, typedlit(Array(0.5))), one))
      .as[Int].collect()
    assert(got.toSeq == Seq.fill(cases.length)(4))
    val vecs = Seq((0L, Array.fill(4)(0.5f)), (1L, Array.fill(4)(-1f)))
      .toDF("vec_id", "embedding").repartition(1)
    val books = Array.tabulate(2)(_ => Array(0 -> Array(0.25, 0.75)))
    val codes = Similarity.pqEncode(vecs, books).select($"codes")
      .as[Seq[Int]].collect()
    assert(codes.toSeq == Seq(Seq(0, 0), Seq(0, 0)))
  }

  /** The generated code of `df`'s plan — `codegenString` less each
    * subtree's plan text, which prints the literals' values. */
  private def codeOf(df: DataFrame): Seq[String] =
    org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._2)

  private val Dim = 8

  /** (vec_id, v) rows computed from a range, so the projection under
    * test stays inside whole-stage codegen. */
  private def vectors: DataFrame =
    spark.range(16).select(col("id").as("vec_id"),
      array((0 until Dim).map(i => sin(col("id") * (i + 1))): _*).as("v"))

  private def model(seed: Int): Similarity.IvfPqModel = {
    val r = new scala.util.Random(seed)
    def vec(n: Int) = Array.fill(n)(r.nextGaussian())
    Similarity.IvfPqModel(Array.tabulate(4)(i => i -> vec(Dim)),
      Array.tabulate(2)(_ => Array.tabulate(3)(c => c -> vec(Dim / 2))))
  }

  test("two models of one geometry compile to the same code") {
    val (a, b) = (model(1), model(2))
    def assign(m: Similarity.IvfPqModel) =
      vectors.withColumn("cell", Similarity.assignColOn(m.centroids, col("v")))
    for ((name, plan) <- Seq[(String, Similarity.IvfPqModel => DataFrame)](
        "assignment" -> assign,
        "ivfPqEncode" -> (m => Similarity.ivfPqEncode(vectors, m)))) {
      val (ca, cb) = (codeOf(plan(a)), codeOf(plan(b)))
      assert(ca.nonEmpty && ca == cb,
        s"$name: the generated code depends on the model")
      assert(ca.exists(_.contains("codewords")),
        s"$name: the kernel is not in the generated code")
      assert(plan(a).collect().toSeq != plan(b).collect().toSeq,
        s"$name: the two models should assign differently")
    }
  }
}
