package graft.functions

import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scalar function library (SURVEY.md §2.1 S8/S9/S14/S18 + helpers).
  *
  * Everything here prefers codegen'd `org.apache.spark.sql.functions`
  * built-ins; the strict hex→UTF-8 decoder, whose null-on-invalid
  * semantics (reference: omni_rpc_client.py:100-114,
  * `codecs.decode(data, "hex")` + strict UTF-8 decode, null + log on
  * failure) Spark's lenient `decode` (U+FFFD substitution) cannot match,
  * is the native [[HexDecodeUtf8]] expression.
  */
object GraftFunctions {

  // ---------------------------------------------------------------- S8
  /** Strict hex→UTF-8 decode; returns null for odd-length / non-hex
    * input and for byte sequences that are not valid UTF-8 (parity with
    * Python `codecs.decode(x, 'hex')` then `.decode('utf-8')`,
    * omni_rpc_client.py:105,111-113). */
  def hexDecodeUtf8Strict(hexStr: String): String = {
    if (hexStr == null) return null
    val s = hexStr // no trim: binascii.unhexlify rejects whitespace too
    if (s.length % 2 != 0) return null
    val bytes = new Array[Byte](s.length / 2)
    var i = 0
    while (i < bytes.length) {
      val hi = Character.digit(s.charAt(2 * i), 16)
      val lo = Character.digit(s.charAt(2 * i + 1), 16)
      if (hi < 0 || lo < 0) return null
      bytes(i) = ((hi << 4) | lo).toByte
      i += 1
    }
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try dec.decode(ByteBuffer.wrap(bytes)).toString
    catch { case _: CharacterCodingException => null }
  }

  /** Strict hex→UTF-8 decode as a Column: the native [[HexDecodeUtf8]]
    * expression, which stays inside whole-stage codegen;
    * [[hexDecodeUtf8Strict]] is its reference. */
  def hexDecodeUtf8(c: Column): Column = HexDecodeUtf8.column(c)

  /** Lenient variant built purely from codegen'd built-ins — use when
    * inputs are known-valid (stays inside whole-stage codegen). */
  def hexDecodeUtf8Lenient(c: Column): Column = decode(unhex(c), "UTF-8")

  // ---------------------------------------------------------------- S9
  /** Epoch-seconds → ISO-8601 string, null-safe on missing input
    * (reference: utcfromtimestamp(blocktime).isoformat(),
    * omni_rpc_client.py:106-110). Session TZ is pinned UTC. */
  def epochToIso(epochSeconds: Column): Column =
    when(epochSeconds.isNotNull,
      date_format(timestamp_seconds(epochSeconds), "yyyy-MM-dd'T'HH:mm:ss"))

  /** Timestamp → ISO-8601 second-resolution string. */
  def tsToIso(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")

  // --------------------------------------------------------------- S14
  /** i-th fixed-size chunk (1-based) of a string
    * (reference chunk_string, slack_utils.py:16-19). */
  def chunk(c: Column, size: Int, i: Int): Column =
    substring(c, (i - 1) * size + 1, size)

  /** Number of `size`-char chunks. */
  def numChunks(c: Column, size: Int): Column =
    ceil(length(c).cast("double") / size).cast("long")

  // --------------------------------------------------------------- S18
  /** Round for display (reference --decimals, dbt_query.py:30-34,149). */
  def roundTo(c: Column, decimals: Int): Column = round(c, decimals)

  // ------------------------------------------------- numeric stability
  /** Order-independent double aggregation: cast each value to an exact
    * DECIMAL before summing (decimal addition is associative and
    * commutative, so parallel partial aggregation is deterministic and
    * bit-identical to any single-threaded oracle), then return double.
    *
    * This is the 100 TB-safe way to make a distributed SUM over doubles
    * reproducible: plain double sums reorder under shuffles/AQE and
    * drift in the last ulps run-to-run. */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  /** Matching order-independent AVG: exact decimal sum → double, then a
    * single IEEE division (decimal÷int scale rules differ across
    * engines; double division does not). */
  def davg(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double") / count(c)

  /** DuckDB-oracle SQL text for [[dsum]] — keep in lockstep. */
  def dsumSql(expr: String, scale: Int = 6): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(30,$scale))) AS DOUBLE)"

  def davgSql(expr: String, scale: Int = 6): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(30,$scale))) AS DOUBLE) / COUNT($expr)"
}
