package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen entry point for [[MinHashSig]]. One MD5 per shingle, all
  * `k` affine hashes derived from it — value-identical to the
  * HOF/explode formulations in graft.llm.Dedup (LlmSpec asserts it),
  * but computed in a single narrow pass with NO shuffle and no
  * per-seed re-hashing. */
object MinHashSigHelper {
  val P = 2147483647L // 2^31 - 1, matches Dedup.MinhashP

  def sig(input: UTF8String, k: Int, shingleLen: Int): ArrayData = {
    val nChars = input.numChars()
    val nShingles = math.max(nChars - shingleLen + 1, 1)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    // code-point byte windows over ONE buffer (r19): digests the same
    // bytes substringSQL(i+1, len).getBytes produced, without the
    // per-shingle UTF8String + byte-array allocations
    val bytes = input.getBytes
    val offs = Md5Hashing.charOffsets(bytes, nChars)
    var i = 0
    while (i < nShingles) {
      val start = offs(i)
      val end = offs(math.min(i + shingleLen, nChars))
      val d = Md5Hashing.digest(bytes, start, end - start)
      // first/second 4 digest bytes as unsigned big-endian ints ==
      // conv(substr(md5, 1|9, 8), 16, 10)
      val a = Md5Hashing.u32(d, 0)
      val b = Md5Hashing.u32(d, 4)
      var j = 0
      while (j < k) {
        val h = (a + j * b) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native MinHash signature expression: `minhash_sig(text)` →
  * Array[Long] of `numHashes` components. The 100 TB shape for bulk
  * signatures — a narrow map fused into the scan stage (whole-stage
  * codegen), versus the explode→groupBy form's full shuffle of every
  * (doc, shingle) pair. */
case class MinHashSig(child: Expression, numHashes: Int = 12, shingleLen: Int = 5)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(v: Any): Any =
    MinHashSigHelper.sig(v.asInstanceOf[UTF8String], numHashes, shingleLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = MinHashSigHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.sig($c, $numHashes, $shingleLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Idempotent per-session registration for SQL text in sessions
    * built without [[graft.GraftExtensions]]; Column code uses
    * [[column]], which needs no registration. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinHashSig(exprs.head), "scala_udf")

  def column(c: Column, numHashes: Int = 12): Column =
    GraftSqlBridge.column(MinHashSig(GraftSqlBridge.expression(c), numHashes))
}

/** Combined pass for the LSH pipeline: ONE digest per shingle yields
  * both the minhash signature AND the distinct 60-bit hashed shingle
  * set (the exact-Jaccard verify input). The split formulation
  * (minhash_sig + a hashedShingles HOF) digests every shingle twice;
  * at minhash's cost profile (the digest IS the work) this halves the
  * signature stage. */
object MinHashShinglesHelper {
  import org.apache.spark.sql.catalyst.InternalRow

  def eval(input: UTF8String, k: Int, shingleLen: Int): InternalRow = {
    val nChars = input.numChars()
    val nShingles = math.max(nChars - shingleLen + 1, 1)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val seen = new java.util.HashSet[Long](nShingles * 2)
    // same one-buffer byte-window walk as [[MinHashSigHelper.sig]]
    val bytes = input.getBytes
    val offs = Md5Hashing.charOffsets(bytes, nChars)
    var i = 0
    while (i < nShingles) {
      val start = offs(i)
      val end = offs(math.min(i + shingleLen, nChars))
      val d = Md5Hashing.digest(bytes, start, end - start)
      val a = Md5Hashing.u32(d, 0)
      val b = Md5Hashing.u32(d, 4)
      var j = 0
      while (j < k) {
        val h = (a + j * b) % MinHashSigHelper.P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      seen.add(Md5Hashing.h60(d))
      i += 1
    }
    val sh = new Array[Long](seen.size)
    val it = seen.iterator(); var n = 0
    while (it.hasNext) { sh(n) = it.next(); n += 1 }
    InternalRow(new GenericArrayData(mins), new GenericArrayData(sh))
  }
}

case class MinHashShingles(child: Expression, numHashes: Int = 12, shingleLen: Int = 5)
  extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{StructField, StructType}
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "minhash_shingles"

  override def nullSafeEval(v: Any): Any =
    MinHashShinglesHelper.eval(v.asInstanceOf[UTF8String], numHashes, shingleLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = MinHashShinglesHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.eval($c, $numHashes, $shingleLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashShingles =
    copy(child = newChild)
}

object MinHashShingles {
  def column(c: Column, numHashes: Int): Column =
    GraftSqlBridge.column(MinHashShingles(GraftSqlBridge.expression(c), numHashes))

  /** Source-compatible form for existing callers; `spark` is unused. */
  def column(spark: SparkSession, c: Column, numHashes: Int = 12): Column =
    column(c, numHashes)
}
