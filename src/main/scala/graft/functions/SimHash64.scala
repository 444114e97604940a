package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** SimHash-64 over a token array as a native Catalyst expression: md5 each
  * token once, every digest bit votes ±1, sign of each bit's vote sum sets
  * the output bit.
  *
  * Semantics match the built-in composition in Dedup.simhash64's previous
  * form (two 32-bit halves of the first 16 md5 hex chars) — but one pass
  * per row instead of 64 interpreted aggregate folds, each of which
  * re-walked the token array. Generated code calls the same
  * [[SimHash64.hash]], so the expression stays inside whole-stage codegen
  * (a CodegenFallback expression splits its operator out of the stage and
  * compiles a projection or predicate of its own).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects array<string>, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash64.hash(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimHash64.hash($a)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def hash(arr: ArrayData): Long = {
    val n     = arr.numElements()
    val votes = new Array[Int](64)
    val md    = java.security.MessageDigest.getInstance("MD5")
    var j = 0
    while (j < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(j).getBytes)
      // first 8 digest bytes = the 64-bit hash (== first 16 hex chars)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      j += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  def simhash64(tokens: Column): Column =
    GraftShim.column(SimHash64(GraftShim.expression(tokens)))
}
