package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** SimHash over a token array, ONE md5 per token, both widths read
  * from the same 16 digest bytes (the digest is the whole cost of a
  * simhash):
  *
  *  - `sh16`: the 16-bit locality SORT key — bit j is set by hex char
  *    j of md5(token) being one of "89abcdef"; value-identical to the
  *    HOF formulation graft.llm.Dedup.simhash16 (LlmSpec pins it),
  *    which re-digests each token once per bit.
  *  - `sh60`: the 60-bit Manku-Jain-Das Sarma fingerprint (WWW'07)
  *    whose blocks pigeonhole near-duplicates — bit j is bit
  *    (3 − j mod 4) of hex nibble ⌊j/4⌋, i.e. the first 15 hex chars
  *    of md5(token) read big-endian nibble-wise, the md5-prefix family
  *    of the 60-bit shingle hashes (DuckDB replays it with
  *    strpos('0123456789abcdef', …) arithmetic).
  *
  * Vote rule for both: a null token casts no votes but stays in the
  * denominator (the HOF form's md5(null) → null drops it from the
  * filter while size(toks) still counts it); bit set ⇔ 2·votes ≥ n.
  * Callers that need one width project it (`getField("sh16")`). */
object SimHash1660Helper {
  def hash(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val c16 = new Array[Int](16)
    val c60 = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val b = toks.getUTF8String(i).getBytes
        val d = Md5Hashing.digest(b, 0, b.length)
        var j = 0
        while (j < 16) {
          val nib =
            if ((j & 1) == 0) (d(j >> 1) & 0xF0) >> 4
            else d(j >> 1) & 0x0F
          if (nib >= 8) c16(j) += 1
          // simhash60 bit j (j < 60): bit (3 - (j & 3)) of nibble
          // (j >> 2) — unrolled here nibble-wise: this nibble j
          // carries the four 60-bit positions 4j .. 4j+3
          if (j < 15) {
            if (((nib >> 3) & 1) == 1) c60(4 * j) += 1
            if (((nib >> 2) & 1) == 1) c60(4 * j + 1) += 1
            if (((nib >> 1) & 1) == 1) c60(4 * j + 2) += 1
            if ((nib & 1) == 1) c60(4 * j + 3) += 1
          }
          j += 1
        }
      }
      i += 1
    }
    var r16 = 0L
    var j = 0
    while (j < 16) {
      if (c16(j) * 2 >= n) r16 |= (1L << j)
      j += 1
    }
    var r60 = 0L
    j = 0
    while (j < 60) {
      if (c60(j) * 2 >= n) r60 |= (1L << j)
      j += 1
    }
    InternalRow(r16, r60)
  }
}

case class SimHash1660(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("sh16", LongType, nullable = false),
    StructField("sh60", LongType, nullable = false)))
  override def prettyName: String = "simhash1660"

  override def nullSafeEval(v: Any): Any =
    SimHash1660Helper.hash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SimHash1660Helper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.hash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash1660 =
    copy(child = newChild)
}

object SimHash1660 {
  def column(tokens: Column): Column =
    GraftSqlBridge.column(SimHash1660(GraftSqlBridge.expression(tokens)))
}
