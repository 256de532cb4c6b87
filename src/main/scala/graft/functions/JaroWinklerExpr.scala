package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity (Jaro 1989; Winkler 1990) — the
  * record-linkage string comparator: Jaro's match/transposition score
  * (matches confined to a ⌊max(|a|,|b|)/2⌋−1 window, transpositions =
  * half the out-of-order matches) plus Winkler's common-prefix boost
  * (≤ 4 chars, weight 0.1) applied only above the 0.7 threshold.
  *
  * Semantics are pinned to DuckDB's `jaro_winkler_similarity` so the
  * oracle can use the NATIVE function: the comparison runs on UTF-8
  * BYTES (multi-byte code points count per byte, exactly like
  * DuckDB), either side empty scores 0 (including both-empty), the
  * boost threshold is strict (score > 0.7), and the prefix cap is 4
  * bytes. FunctionsSpec pins byte-level parity on a generated corpus.
  */
object JaroWinklerHelper {
  private def jaro(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aFlags = new Array[Boolean](la)
    val bFlags = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bFlags(j) && a(i) == b(j)) {
          aFlags(i) = true
          bFlags(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aFlags(i)) {
        while (!bFlags(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val tr = t / 2
    (m.toDouble / la + m.toDouble / lb + (m - tr).toDouble / m) / 3.0
  }

  def sim(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.getBytes
    val b = ub.getBytes
    val j = jaro(a, b)
    if (j <= 0.7) j
    else {
      val cap = math.min(4, math.min(a.length, b.length))
      var p = 0
      while (p < cap && a(p) == b(p)) p += 1
      j + p * 0.1 * (1.0 - j)
    }
  }
}

/** Native `jaro_winkler(a, b)` → Double in [0, 1]. A narrow per-row
  * kernel (two byte arrays, one O(|a|·window) flag pass) fused into
  * whole-stage codegen — the verify comparator for blocked
  * record-linkage joins. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerHelper.sim(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val helper = JaroWinklerHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $helper.sim($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  def column(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaroWinkler(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
