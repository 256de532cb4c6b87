package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Shared allocation-free MD5 plumbing for the digest-derived hash
  * family. Every hash in the engine is an md5-prefix read (engine-
  * portable: DuckDB replays it with ('0x'||substr(md5(x),…))::BIGINT),
  * and the built-in chain `conv(substring(md5(x),1,15),16,10)` pays
  * for a 32-char hex string, a substring and a radix parse per value
  * on top of the digest. These helpers read the SAME bits straight
  * from the digest bytes (bit-identity is the
  * [[MinHashShinglesHelper]] argument, asserted in LlmSpec), with one
  * thread-local digest instance and one thread-local output buffer —
  * zero per-value allocation (guide §4: make the per-row work cheap;
  * the digest IS the work, everything else is overhead). */
object Md5Hashing {
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val Out = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  /** md5(bytes[off, off+len)) into the thread-local buffer. */
  def digest(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val md = Md5.get(); val out = Out.get()
    md.reset(); md.update(bytes, off, len); md.digest(out, 0, 16); out
  }

  /** Digest bytes i..i+3 as one unsigned big-endian int — bit-identical
    * to conv(substring(md5(x), 2i+1, 8), 16, 10). */
  def u32(d: Array[Byte], i: Int): Long =
    ((d(i) & 0xFFL) << 24) | ((d(i + 1) & 0xFFL) << 16) |
      ((d(i + 2) & 0xFFL) << 8) | (d(i + 3) & 0xFFL)

  /** First 15 hex chars of the digest as one 60-bit positive long —
    * bit-identical to conv(substring(md5(x),1,15),16,10). */
  def h60(d: Array[Byte]): Long =
    ((d(0) & 0xFFL) << 52) | ((d(1) & 0xFFL) << 44) |
      ((d(2) & 0xFFL) << 36) | ((d(3) & 0xFFL) << 28) |
      ((d(4) & 0xFFL) << 20) | ((d(5) & 0xFFL) << 12) |
      ((d(6) & 0xFFL) << 4) | ((d(7) & 0xF0L) >>> 4)

  /** Byte offsets of each code point (offsets(nChars) = numBytes), so
    * code-point substrings become (start, len) windows over one byte
    * array — no per-shingle UTF8String/copy. ASCII inputs short-
    * circuit to identity offsets. */
  def charOffsets(bytes: Array[Byte], nChars: Int): Array[Int] = {
    val offs = new Array[Int](nChars + 1)
    if (bytes.length == nChars) { // pure ASCII: 1 byte per code point
      var i = 0
      while (i <= nChars) { offs(i) = i; i += 1 }
    } else {
      var i = 0; var b = 0
      while (i < nChars) {
        offs(i) = b
        b += UTF8String.numBytesForFirstByte(bytes(b))
        i += 1
      }
      offs(nChars) = bytes.length
    }
    offs
  }

  /** 60-bit hash of one whole string value. */
  def h60Of(input: UTF8String): Long = {
    val b = input.getBytes
    h60(digest(b, 0, b.length))
  }

  /** Deterministic ±1 from md5(salt): +1 iff the digest's first hex
    * char is one of "89abcdef" (its top bit is set). The sign source
    * of the SRP hyperplanes and the JL projection matrix — the DuckDB
    * oracles inline the same values. */
  def sign(salt: String): Double = {
    val b = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if ((digest(b, 0, b.length)(0) & 0x80) != 0) 1.0 else -1.0
  }
}

/** Native `md5prefix60(str)` → Long in [0, 2^60): the engine's
  * portable string hash (= Dedup.shingleHash) without the hex-string
  * detour. */
case class Md5Prefix60(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5prefix60"

  override def nullSafeEval(v: Any): Any =
    Md5Hashing.h60Of(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = Md5Hashing.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.h60Of($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

object Md5Prefix60 {
  def column(c: Column): Column =
    GraftSqlBridge.column(Md5Prefix60(GraftSqlBridge.expression(c)))
}

/** Native distinct hashed shingle set: `hashed_shingles(text, k)` →
  * Array[Long] — value-identical INCLUDING element order to
  * `array_distinct(transform(sequence(1, greatest(len-k+1, 1)),
  * i => conv(substring(md5(substr(text,i,k)),1,15),16,10)))` (the
  * Dedup.hashedShingles HOF form, LlmSpec-pinned): one digest per
  * shingle over a byte window of the single input buffer, distinct by
  * FIRST OCCURRENCE. The HOF form re-slices a UTF8String and
  * hex-encodes per shingle; at minhash cost profiles the digest is
  * the work and this removes everything else. */
object HashedShinglesHelper {
  /** HOF null parity: `array_distinct(transform(sequence(1,1), i =>
    * conv(substring(md5(substr(NULL, i, k)), …))))` is the ONE-ELEMENT
    * array [null] (length(NULL) → null, greatest(null, 1) → 1, the
    * element hash of a null slice → null), NOT a null array — the
    * native form replicates that exactly. */
  def nullResult(): GenericArrayData = new GenericArrayData(Array[Any](null))

  def eval(input: UTF8String, k: Int): GenericArrayData = {
    val bytes = input.getBytes
    val nChars = input.numChars()
    val nShingles = math.max(nChars - k + 1, 1)
    val offs = Md5Hashing.charOffsets(bytes, nChars)
    val seen = new java.util.LinkedHashSet[java.lang.Long](nShingles * 2)
    var i = 0
    while (i < nShingles) {
      val start = offs(i)
      val end = offs(math.min(i + k, nChars))
      val d = Md5Hashing.digest(bytes, start, end - start)
      seen.add(Md5Hashing.h60(d))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var n = 0
    while (it.hasNext) { out(n) = it.next(); n += 1 }
    new GenericArrayData(out)
  }
}

case class HashedShingles(child: Expression, shingleLen: Int = 5)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "hashed_shingles"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) HashedShinglesHelper.nullResult()
    else HashedShinglesHelper.eval(v.asInstanceOf[UTF8String], shingleLen)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = HashedShinglesHelper.getClass.getName.stripSuffix("$")
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${c.isNull} ? $helper.nullResult() : $helper.eval(${c.value}, $shingleLen);
        """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

object HashedShingles {
  def column(c: Column, k: Int = 5): Column =
    GraftSqlBridge.column(HashedShingles(GraftSqlBridge.expression(c), k))
}
