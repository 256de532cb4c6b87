package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document char-bigram COUNTER: one codegen pass emitting
  * each document's distinct bigrams WITH their in-doc counts
  * (first-occurrence order), so the downstream explode ships one row
  * per DISTINCT bigram instead of one per character position. The
  * Column formulation — `explode(transform(sequence(...), i =>
  * substr(i, 2)))` — allocates a 2-char string per position and
  * shuffles every occurrence into the group aggregate (measured:
  * most of q237's 4.6 s at sf0.1); folding the in-doc count into the
  * kernel cuts the exploded volume to the per-doc distinct-bigram
  * cardinality, which a ~30-symbol alphabet caps near 900 regardless
  * of document length.
  *
  * Semantics mirror the Column original exactly: trim + locale-free
  * lowercase (the WordShingles discipline), grams =
  * `substringSQL(i, 2)` for i in 1..numChars−1, and a sub-2-char doc
  * contributes its WHOLE text as one gram (the shingle convention —
  * `substringSQL(1, 2)` of a short string is the string itself). */
object CharGramCountsHelper {
  private val Schema = ArrayType(StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  def dataType: DataType = Schema

  def eval(text: UTF8String): GenericArrayData = {
    val s = text.trim().toLowerCase
    val n = s.numChars()
    val g = if (n < 2) 1 else n - 1
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]](64)
    var i = 1
    while (i <= g) {
      val gram = s.substringSQL(i, 2)
      val c = m.get(gram)
      if (c == null) m.put(gram, Array(1L)) else c(0) += 1L
      i += 1
    }
    val arr = new Array[AnyRef](m.size)
    val it = m.entrySet().iterator()
    var o = 0
    while (it.hasNext) {
      val e = it.next()
      arr(o) = InternalRow(e.getKey, e.getValue()(0))
      o += 1
    }
    new GenericArrayData(arr)
  }
}

/** Native `char_gram_counts(text)` → array<struct<g: string, c: long>>;
  * see [[CharGramCountsHelper]]. */
case class CharGramCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = CharGramCountsHelper.dataType
  override def prettyName: String = "char_gram_counts"

  override def nullSafeEval(v: Any): Any =
    CharGramCountsHelper.eval(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = CharGramCountsHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.eval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramCounts =
    copy(child = newChild)
}

object CharGramCounts {
  def column(c: Column): Column =
    GraftSqlBridge.column(CharGramCounts(GraftSqlBridge.expression(c)))
}
