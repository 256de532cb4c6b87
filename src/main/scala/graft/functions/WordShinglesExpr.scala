package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram builder: the hot first stage of every
  * shingle-family operator (novelty, contamination, containment). The
  * Column formulation — `transform(sequence(...), i => concat_ws(" ",
  * slice(toks, i, n)))` — runs as interpreted higher-order functions
  * (CodegenFallback) and re-slices the token array per gram: measured
  * 3.8 s of q190's 5.5 s at sf0.1 before the winnow kernel replaced
  * it, and the same tax sat under q174. This kernel tokenizes once,
  * walks a reused StringBuilder over the token window, and fuses into
  * whole-stage codegen.
  *
  * `distinct = true` folds the PER-DOCUMENT dedup into the kernel
  * (first-occurrence order): an explode-consumer that previously ran
  * a corpus-wide `(id, shingle) DISTINCT` shuffle just to collapse
  * within-doc repeats can skip that exchange entirely — identical
  * result, one less shuffle (the q174 rewrite).
  *
  * Tokenization is [[graft.llm.TextAnalysis.tokens]] verbatim
  * (UTF8String.trim strips only spaces; locale-free lowercase — the
  * SharedNgrams discipline). Docs with fewer than n tokens emit an
  * EMPTY array — the correct semantic (and what DuckDB's
  * `generate_series(1, len-n+1)` yields), where the old HOF's
  * `sequence(1, 0)` would have run DOWNWARD and errored on slice(0). */
object WordShinglesHelper {
  private val Ws = Pattern.compile("\\s+")

  def eval(text: UTF8String, n: Int, distinct: Boolean): GenericArrayData = {
    val s = text.trim().toLowerCase.toString
    val toks = Ws.split(s, -1)
    val g = toks.length - n + 1
    if (g <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val sb = new java.lang.StringBuilder
    val seen: java.util.LinkedHashSet[String] =
      if (distinct) new java.util.LinkedHashSet[String](g * 2) else null
    val out: java.util.ArrayList[AnyRef] =
      if (distinct) null else new java.util.ArrayList[AnyRef](g)
    var i = 0
    while (i < g) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      if (distinct) seen.add(sb.toString)
      else out.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    if (!distinct) return new GenericArrayData(out.toArray)
    val arr = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(arr)
  }
}

/** Native `word_shingles_n[_d](text)` → array<string>; see
  * [[WordShinglesHelper]]. */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = false)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String =
    s"word_shingles_$n${if (distinct) "_d" else ""}"

  override def nullSafeEval(v: Any): Any =
    WordShinglesHelper.eval(v.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = WordShinglesHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.eval($c, $n, $distinct);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  def column(c: Column, n: Int, distinct: Boolean = false): Column =
    GraftSqlBridge.column(WordShingles(GraftSqlBridge.expression(c), n, distinct))
}
