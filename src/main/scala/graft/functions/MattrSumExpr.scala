package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Native MATTR numerator: the summed distinct-type count over every
  * width-`w` sliding token window (Covington & McFall 2010's
  * moving-average type-token ratio — THE length-robust lexical
  * diversity feature; plain TTR decays with document length, so a
  * TTR quality cut silently biases against long documents). The
  * denominator (windows · width) is left to the caller so the gate
  * hashes an exact integer and the final MATTR is ONE IEEE division.
  *
  * The Column formulation — `transform(sequence(1, n-w+1), i =>
  * size(array_distinct(slice(toks, i, w))))` — is the interpreted-HOF
  * anti-pattern ([[WordShingles]] note): it re-slices and re-dedups
  * every window from scratch, O(n·w) with per-window allocation. This
  * kernel tokenizes once and SLIDES: a token-count map updated with
  * the one entering and one leaving token per step keeps a running
  * distinct counter, O(n) total, fused into whole-stage codegen.
  *
  * Docs with n ≤ w emit the whole-document distinct count (the
  * standard MATTR fallback to plain TTR — one window of width n).
  * Tokenization is [[graft.llm.TextAnalysis.tokens]] verbatim (the
  * WordShingles discipline), so "" tokenizes to the single empty
  * token, never an empty array. */
object MattrSumHelper {
  private val Ws = Pattern.compile("\\s+")

  def eval(text: UTF8String, w: Int): Long = {
    val toks = Ws.split(text.trim().toLowerCase.toString, -1)
    val n = toks.length
    val counts = new java.util.HashMap[String, Integer](math.min(n, w) * 2)
    var distinct = 0
    def add(t: String): Unit = {
      val c = counts.get(t)
      if (c == null) { counts.put(t, 1); distinct += 1 }
      else counts.put(t, c + 1)
    }
    def remove(t: String): Unit = {
      val c = counts.get(t)
      if (c == 1) { counts.remove(t); distinct -= 1 }
      else counts.put(t, c - 1)
    }
    if (n <= w) {
      var i = 0
      while (i < n) { add(toks(i)); i += 1 }
      return distinct.toLong
    }
    var i = 0
    while (i < w) { add(toks(i)); i += 1 }
    var sum = distinct.toLong
    while (i < n) {
      add(toks(i))
      remove(toks(i - w))
      sum += distinct
      i += 1
    }
    sum
  }
}

/** Native `mattr_sum_w(text)` → bigint; see [[MattrSumHelper]]. */
case class MattrSum(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"window width must be positive, got $w")
  override def dataType: DataType = LongType
  override def prettyName: String = s"mattr_sum_$w"

  override def nullSafeEval(v: Any): Any =
    MattrSumHelper.eval(v.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = MattrSumHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.eval($c, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): MattrSum =
    copy(child = newChild)
}

object MattrSum {
  def column(c: Column, w: Int): Column =
    GraftSqlBridge.column(MattrSum(GraftSqlBridge.expression(c), w))
}
