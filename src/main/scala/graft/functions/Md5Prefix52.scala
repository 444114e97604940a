package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** First 52 bits of md5 as a BIGINT — the sketch-hash convention every
  * KMV/sampling path uses (52 bits so h/2^52 is FP-exact; see
  * [[KmvState.Norm]]). Bit-identical to the built-in composition
  * `conv(substring(md5(x), 1, 13), 16, 10) CAST long` (the first 13 hex
  * digits ARE the first 52 bits, big-endian), which is also what the
  * DuckDB oracle replays — but without materializing the 32-char hex
  * string and re-parsing it per row.
  *
  * Unlike the CodegenFallback natives (MinHashSig — heavy per-row
  * loops where dispatch cost vanishes, in operators that leave
  * whole-stage codegen), this one is
  * FULLY CODEGEN'D: `doGenCode` emits a static call inside the
  * surrounding whole-stage projection, the per-row work is one digest,
  * and the digest object is thread-local (no per-row allocation).
  */
case class Md5Prefix52(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_prefix52 needs a string child, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix52.hash52(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix52.hash52($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix52 =
    copy(child = newChild)
}

object Md5Prefix52 {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Thread-local digest for callers that STREAM bytes into the hash
    * (the fused signature path feeds token bytes + separators without
    * materializing the joined string). */
  private[functions] def digest(): java.security.MessageDigest = digests.get()

  /** First 52 bits of a 16-byte md5 digest — bytes 0..5 whole + the high
    * nibble of byte 6 (= the first 13 hex digits, big-endian). */
  private[functions] def fold52(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(6) >> 4) & 0xfL)
  }

  /** Static entry the generated code calls. */
  def hash52(s: UTF8String): Long = {
    val md = digest()
    md.reset()
    fold52(md.digest(s.getBytes))
  }

  def md5Prefix52(c: Column): Column =
    GraftShim.column(Md5Prefix52(GraftShim.expression(c)))
}
