package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass kernel for the word-unigram entropy quality signal
  * (RedPajama-v2's `rps_doc_unigram_entropy` family): per document,
  * the Shannon entropy −Σ (c/n)·ln(c/n) over its own word counts,
  * plus the token and type counts (whose ratio is the classic
  * type-token lexical-diversity measure).
  *
  * Scale shape: a narrow map fused into the scan — the whole signal
  * is computed inside one row, so at 100 TB it adds NOTHING to
  * shuffle volume (the Column-composed alternative explodes every
  * token into a (doc, word) shuffle just to count within-doc
  * frequencies the row already contains).
  *
  * Determinism discipline (the dsum/q125 contract): each entropy term
  * is a double built from the same primitives the DuckDB oracle uses
  * (integer-ratio division, shared-libm `ln`, one multiply, one
  * negate), then rounded to DECIMAL scale 12 exactly the way Spark's
  * own double→decimal Cast does (`BigDecimal.valueOf`, i.e. the
  * shortest-string repr, HALF_UP) and summed EXACTLY — so the hash
  * can't move with word-iteration order, and the oracle mirrors it
  * with `SUM(CAST(term AS DECIMAL(30,12)))`.
  *
  * Tokenization is [[graft.llm.TextAnalysis.tokens]] verbatim:
  * whitespace split of trimmed lowercased text (empty text → the
  * single empty token, matching both engines' split semantics). */
object UnigramEntropyHelper {
  private val Ws = Pattern.compile("\\s+")

  def eval(text: UTF8String): InternalRow = {
    val s = text.trim().toLowerCase.toString
    val toks = Ws.split(s, -1)
    val n = toks.length
    val counts = new java.util.HashMap[String, Integer](
      math.min(n * 2, 1 << 16))
    var i = 0
    while (i < n) {
      val prev = counts.get(toks(i))
      counts.put(toks(i), if (prev == null) 1 else prev + 1)
      i += 1
    }
    var sum = JBigDecimal.ZERO
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().intValue()
      val p = c.toDouble / n
      val term = -(p * Math.log(p))
      sum = sum.add(
        JBigDecimal.valueOf(term).setScale(12, RoundingMode.HALF_UP))
    }
    InternalRow(n.toLong, counts.size().toLong, sum.doubleValue())
  }
}

/** Native `unigram_entropy(text)` → struct of
  * (n_tokens, n_types, entropy). See [[UnigramEntropyHelper]]. */
case class UnigramEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_types", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def prettyName: String = "unigram_entropy"

  override def nullSafeEval(v: Any): Any =
    UnigramEntropyHelper.eval(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = UnigramEntropyHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.eval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEntropy =
    copy(child = newChild)
}

object UnigramEntropy {
  def column(c: Column): Column =
    GraftSqlBridge.column(UnigramEntropy(GraftSqlBridge.expression(c)))
}
