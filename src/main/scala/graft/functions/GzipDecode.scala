package graft.functions

import graft.contentops.Fixture
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen gzip→UTF-8 decode of a BinaryType column — the reference's
  * record decode (`zlib.decompress(data, 15+32)` then UTF-8,
  * /root/reference/docs/user-guide.md:28; GZIPInputStream auto-detects the
  * header like wbits 15+32). Returns null on malformed input, matching the
  * reference's log-and-skip error tolerance (:36-39): the downstream
  * `isNotNull` filter is the skip. The read loop is the wire codec's
  * own [[graft.contentops.Fixture.gunzip]], which throws instead.
  *
  * SURVEY.md §4 flagged the UDF version as a Catalyst black box; this
  * expression keeps the decode inside whole-stage codegen (null-tracking
  * handled by nullSafeCodeGen, one virtual call per row). */
case class GzipDecode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = "gzip_decode"

  def compute(bytes: Array[Byte]): UTF8String =
    try UTF8String.fromBytes(Fixture.gunzip(bytes))
    catch { case _: java.io.IOException => null }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gzipDecode", this, classOf[GzipDecode].getName)
    val result = ctx.freshName("decoded")
    nullSafeCodeGen(ctx, ev, c =>
      s"""UTF8String $result = $ref.compute($c);
         |if ($result == null) { ${ev.isNull} = true; } else { ${ev.value} = $result; }
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): GzipDecode =
    copy(child = newChild)
}
