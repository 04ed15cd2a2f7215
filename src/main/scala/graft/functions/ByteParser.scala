package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** One pure `Array[Byte] → value` parser of the multimodal family:
  * its SQL name, its output type, whether malformed input yields NULL
  * (the struct and long parsers) or an empty value (the array
  * parsers, null only on a null payload), and the parse function.
  *
  * The entry is also the Column builder — `WebpDims.dimsCol($"payload")`
  * — and [[ByteParser.all]] is the table `GraftExtensions` registers
  * for SQL. A `routed` parser (the mp4 demux family) takes an optional
  * literal hdlr handler: `bind(handler)` returns the parse function
  * for that handler, once per expression, so no row converts it.
  *
  * Entries compare by SQL name: an expression's equality never
  * compares function objects, so CSE merges two calls of one parser
  * on one payload. */
final class ByteParser private (
    val sqlName: String,
    val dataType: DataType,
    val nullOnMalformed: Boolean,
    val routed: Boolean,
    bind: String => Array[Byte] => Any) extends Serializable {

  private[functions] def parseFor(handler: String): Array[Byte] => Any =
    bind(handler)

  def apply(payload: Column): Column = apply(payload, "")

  /** Handler-routed form (`routed` parsers only; "" is the first trak). */
  def apply(payload: Column, handler: String): Column = {
    require(routed || handler.isEmpty, s"$sqlName takes no handler")
    GraftSqlBridge.column(
      ParseBytes(this, GraftSqlBridge.expression(payload), handler))
  }

  override def equals(o: Any): Boolean = o match {
    case p: ByteParser => p.sqlName == sqlName
    case _ => false
  }
  override def hashCode: Int = sqlName.hashCode
  override def toString: String = sqlName
}

object ByteParser {

  private[functions] def apply(sqlName: String, dataType: DataType,
      nullOnMalformed: Boolean)(parse: Array[Byte] => Any): ByteParser =
    new ByteParser(sqlName, dataType, nullOnMalformed, false, _ => parse)

  /** An array parser with an optional hdlr handler argument. */
  private[functions] def routed(sqlName: String, dataType: DataType)(
      bind: String => Array[Byte] => Any): ByteParser =
    new ByteParser(sqlName, dataType, false, true, bind)

  /** Every parser, in SQL-name order. Lazy: each entry lives in its
    * format's object, whose initialization builds it through this
    * companion. */
  lazy val all: Seq[ByteParser] = Seq(
    AacAdts.aacFrames, EbmlWalk.mkvTracks, FlacInfo.flacInfo,
    H264Sps.spsCol, H265Sps.spsCol, HeifDims.dimsCol,
    MpegAudio.id3FramesCol, JpegSof.sofCol, JpegSofDims.dims,
    MpegAudio.mp3Frames, Mp4Demux.mp4Edits, Mp4Frag.mp4FragSamples,
    Mp4Demux.mp4Samples, Mp4Demux.mp4Timing, Mp4Demux.mp4Tracks,
    OggWalk.oggPages, PdfXref.pdfXref, PngChunks.chunksCol,
    TarWalk.tarMembers, WebpDims.dimsCol, TiffIfd.exifMetaCol,
    ZipWalk.zipDir)
}

/** The one Catalyst expression over a [[ByteParser]]: binary → the
  * parser's type. It prints as `<sql_name>(payload)` (plus the
  * handler when one is set), and codegen makes one call per row to
  * the same function `eval` calls. */
case class ParseBytes(parser: ByteParser, child: Expression,
    handler: String = "") extends UnaryExpression {

  @transient private lazy val parse = parser.parseFor(handler)

  override def dataType: DataType = parser.dataType
  override def nullable: Boolean = parser.nullOnMalformed || child.nullable
  override def prettyName: String = parser.sqlName

  override protected def flatArguments: Iterator[Any] =
    if (handler.isEmpty) Iterator(child) else Iterator(child, handler)

  override def sql: String =
    if (handler.isEmpty) super.sql
    else s"$prettyName(${child.sql}, ${Literal(handler).sql})"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a binary " +
      s"input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("parse", parse, "scala.Function1")
    val t = CodeGenerator.boxedType(dataType)
    if (!parser.nullOnMalformed)
      defineCodeGen(ctx, ev, in => s"($t) $f.apply($in)")
    else {
      val r = ctx.freshName("parsed")
      nullSafeCodeGen(ctx, ev, in => s"""
        |Object $r = $f.apply($in);
        |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = ($t) $r; }
        |""".stripMargin)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
