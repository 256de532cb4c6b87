package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Static entry point for generated code: count of DISTINCT word
  * n-grams of `text` present in the (broadcast-by-reference) eval
  * shingle set. Shingle formation matches the SQL formulation
  * exactly: whitespace tokens of trim(lower(text)), n-token windows
  * joined by single spaces. */
object SharedNgramsHelper {
  def count(evalSet: java.util.HashSet[String], s: UTF8String, n: Int): Long = {
    // Normalization must match the SQL path (`split(trim(lower(text)),
    // "\\s+")`) byte for byte: Spark's trim strips ONLY ' ' (U+0020),
    // not the \t/\n/controls Java String.trim removes, and Spark's
    // lower is locale-independent — so trim spaces by hand and
    // lowercase under Locale.ROOT (a Turkish-locale JVM would
    // otherwise map I→ı and diverge from the join path / oracle).
    val str = s.toString
    var b = 0; var e = str.length
    while (b < e && str.charAt(b) == ' ') b += 1
    while (e > b && str.charAt(e - 1) == ' ') e -= 1
    val toks = str.substring(b, e)
      .toLowerCase(java.util.Locale.ROOT).split("\\s+")
    if (toks.length < n) return 0L
    var seen: java.util.HashSet[String] = null
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val sh = sb.toString
      if (evalSet.contains(sh)) {
        if (seen == null) seen = new java.util.HashSet[String]()
        seen.add(sh)
      }
      i += 1
    }
    if (seen == null) 0L else seen.size.toLong
  }
}

/** Native codegen'd `shared_ngrams(text)` → count of distinct word
  * n-grams shared with a driver-collected eval set. The 100 TB shape
  * for contamination scans when the benchmark side fits the driver
  * (real eval suites always do): the corpus is never exploded,
  * shuffled, or joined — one narrow map fused into the scan replaces
  * a corpus-wide (doc, shingle) explode + join + countDistinct
  * aggregate. */
case class SharedNgrams(child: Expression,
    evalSet: java.util.HashSet[String], n: Int)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "shared_ngrams"

  override def nullSafeEval(v: Any): Any =
    SharedNgramsHelper.count(evalSet, v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SharedNgramsHelper.getClass.getName.stripSuffix("$")
    val ref = ctx.addReferenceObj("evalNgrams", evalSet,
      classOf[java.util.HashSet[String]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.count($ref, $c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): SharedNgrams =
    copy(child = newChild)
}

object SharedNgrams {
  def column(text: Column, evalSet: java.util.HashSet[String], n: Int): Column =
    GraftSqlBridge.column(SharedNgrams(GraftSqlBridge.expression(text), evalSet, n))
}
