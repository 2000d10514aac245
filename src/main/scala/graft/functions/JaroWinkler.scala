package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity — the record-linkage precision scorer, as a
  * native Catalyst expression (Spark ships levenshtein but no Jaro
  * family; a Scala UDF here would box two strings per row and fall out
  * of whole-stage codegen).
  *
  * Semantics pinned to DuckDB's `jaro_winkler_similarity` (verified
  * empirically, FIXTURES.md probes):
  *  - either side empty → 0.0 (even when BOTH are empty — checked before
  *    the equality shortcut, which would say 1.0);
  *  - match window ⌊max(|a|,|b|)/2⌋ − 1 (so two 1-char strings never
  *    match unless equal);
  *  - transpositions = half the mismatches along the matched sequences,
  *    floored (integer `trans / 2`: 'abcdefgh' vs 'bcadefgh' has 3
  *    mismatches, so 1 transposition and jaro 0.958333);
  *  - Winkler prefix boost ℓ·0.1·(1−jaro) only when jaro > 0.7, prefix
  *    capped at 4 — DuckDB applies the classic boost threshold.
  *
  * The double formula (m/|a| + m/|b| + (m−t)/m)/3 runs on integer-derived
  * operands in a fixed order; consumers still round (+1e-9 nudge) before
  * comparing cross-engine, the repo's standard float-boundary hygiene.
  * Comparison is per-UTF-16-unit, which coincides with DuckDB's
  * per-codepoint walk on ASCII fixture text. */
object JaroWinklerAlgo {
  def jw(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString; val b = ub.toString
    val n = a.length; val m0 = b.length
    if (n == 0 || m0 == 0) return 0.0
    if (a == b) return 1.0
    val window = math.max(n, m0) / 2 - 1
    val aM = new Array[Boolean](n)
    val bM = new Array[Boolean](m0)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - window)
      val hi = math.min(m0 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && b.charAt(j) == a.charAt(i)) {
          bM(j) = true; aM(i) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var k = 0; var trans = 0
    i = 0
    while (i < n) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    val jaro = (m / n + m / m0 + (m - trans / 2) / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val maxL = math.min(4, math.min(n, m0))
      var l = 0
      while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }
}

case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerAlgo.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  /** The algorithm is allocation-bearing (two flag arrays), so unlike
    * CosineSimilarity it is NOT inlined into the generated source —
    * codegen emits one static call, which keeps the row pipeline inside
    * whole-stage codegen (no boxing, no virtual dispatch; the same shape
    * Spark's own levenshtein uses). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinklerAlgo.jw($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
