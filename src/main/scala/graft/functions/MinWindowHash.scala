package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing min-window polynomial hash as a native Catalyst expression:
  * the minimum over all `window`-char windows of
  * fold(chars, 0, (h, c) => (h·31 + codepoint) mod 1e9+7).
  *
  * Value-identical to the built-in composition it replaces
  * (TextOps.minWindowHash's transform(sequence)+aggregate form, still
  * mirrored by the DuckDB oracle) but O(len) per row via incremental
  * Rabin-Karp — slide the window with
  * h' = ((h − c_out·31^(w−1)) mod p + p) mod p · 31 + c_in mod p —
  * instead of O(len·window) with a per-window substring split + fold
  * (r2 bench: q29 was the #1 line at 7.7s under the HOF form).
  *
  * Matches the HOF form's edge semantics: empty → 0; shorter than one
  * window → hash of the whole text. Char iteration is by UTF-16 code unit,
  * which equals Spark's split("")+ascii() per-character codepoints for BMP
  * text (the engine portability contract already assumes BMP — DuckDB
  * enumerates by codepoint).
  *
  * CodegenFallback, the same trade as [[MinHashSig]]: the arithmetic
  * loop dwarfs the dispatch cost, and the operator holding it leaves
  * whole-stage codegen.
  */
case class MinWindowHash(child: Expression, window: Int)
    extends UnaryExpression with CodegenFallback {

  require(window > 0, "window must be positive")

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"min_window_hash expects string, got $other")
    }

  private val Mod = 1000000007L
  // 31^(window-1) mod p — the out-sliding character's positional weight
  private val powW: Long = {
    var pow = 1L; var k = 0
    while (k < window - 1) { pow = pow * 31L % Mod; k += 1 }
    pow
  }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    if (n == 0) return java.lang.Long.valueOf(0L)
    var h = 0L
    var i = 0
    val w = if (n < window) n else window
    while (i < w) { h = (h * 31L + s.charAt(i)) % Mod; i += 1 }
    var min = h
    while (i < n) {
      h = ((h - s.charAt(i - window) * powW) % Mod + Mod) % Mod
      h = (h * 31L + s.charAt(i)) % Mod
      if (h < min) min = h
      i += 1
    }
    java.lang.Long.valueOf(min)
  }

  override protected def withNewChildInternal(newChild: Expression): MinWindowHash =
    copy(child = newChild)
}

object MinWindowHash {
  def min_window_hash(text: Column, window: Int): Column =
    GraftShim.column(MinWindowHash(GraftShim.expression(text), window))
}
