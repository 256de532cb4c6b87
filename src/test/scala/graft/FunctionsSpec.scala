package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Property-style tests (seeded random corpus) for the S8/S9 scalar ops
  * (SURVEY.md §7.4: decode parity with Python codecs.decode + strict
  * UTF-8 truth table). */
class FunctionsSpec extends AnyFunSuite {
  import GraftFunctions.hexDecodeUtf8Strict

  private def toHex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  private val rnd = new scala.util.Random(42)

  test("decode(hex(s)) round-trips strings") {
    for (_ <- 1 to 200) {
      val s = rnd.alphanumeric.take(rnd.nextInt(40)).mkString
      assert(hexDecodeUtf8Strict(toHex(s.getBytes("UTF-8"))) == s)
    }
    assert(hexDecodeUtf8Strict(toHex("héllo wörld ✓".getBytes("UTF-8"))) == "héllo wörld ✓")
  }

  test("odd-length hex -> null") {
    assert(hexDecodeUtf8Strict("abc") == null)
    assert(hexDecodeUtf8Strict("f") == null)
  }

  test("non-hex characters -> null") {
    assert(hexDecodeUtf8Strict("zz") == null)
    assert(hexDecodeUtf8Strict("68g9") == null)
  }

  test("invalid UTF-8 byte sequences -> null (not U+FFFD)") {
    assert(hexDecodeUtf8Strict("ff") == null)   // never valid in UTF-8
    assert(hexDecodeUtf8Strict("80") == null)   // lone continuation byte
    assert(hexDecodeUtf8Strict("c328") == null) // truncated 2-byte seq
  }

  test("null/empty input") {
    assert(hexDecodeUtf8Strict(null) == null)
    assert(hexDecodeUtf8Strict("") == "")
  }

  test("random bytes: decode matches strict JVM charset semantics") {
    for (_ <- 1 to 500) {
      val arr = Array.fill(rnd.nextInt(24))(rnd.nextInt(256).toByte)
      val got = hexDecodeUtf8Strict(toHex(arr))
      val strict =
        try {
          val d = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          d.decode(java.nio.ByteBuffer.wrap(arr)).toString
        } catch { case _: Exception => null }
      assert(got == strict, s"hex=${toHex(arr)}")
    }
  }

  test("uppercase hex accepted") {
    assert(hexDecodeUtf8Strict("48454C4C4F") == "HELLO")
  }

  private def acMatch(patterns: Seq[String], text: String): Seq[Int] = {
    val a = new graft.functions.AhoAutomaton(patterns)
    val arr = a.matched(org.apache.spark.unsafe.types.UTF8String.fromString(text))
    (0 until arr.numElements()).map(arr.getInt)
  }

  test("aho-corasick: classic overlapping-suffix worked example") {
    // the textbook he/she/his/hers automaton: "ushers" must fire
    // she (via goto), he and hers (via the fail/emit chains), not his
    assert(acMatch(Seq("he", "she", "his", "hers"), "ushers") == Seq(0, 1, 3))
    assert(acMatch(Seq("he", "she", "his", "hers"), "uhis") == Seq(2))
    assert(acMatch(Seq("he", "she", "his", "hers"), "xyz").isEmpty)
  }

  test("aho-corasick: distinct ascending ids, repeats counted once") {
    assert(acMatch(Seq("ab", "b", "abc"), "zababcab") == Seq(0, 1, 2))
  }

  test("aho-corasick: case-insensitive on both sides") {
    assert(acMatch(Seq("Scan", "JOIN"), "full SCAN then join") == Seq(0, 1))
  }

  test("aho-corasick: matches equal brute-force contains on random text") {
    val pats = Seq("aa", "ab", "ba", "aab", "bba", "abab", "b")
    for (_ <- 1 to 300) {
      val s = Array.fill(rnd.nextInt(30))(if (rnd.nextBoolean()) 'a' else 'b').mkString
      val want = pats.zipWithIndex.filter { case (p, _) => s.contains(p) }.map(_._2)
      assert(acMatch(pats, s) == want, s"text=$s")
    }
  }

  test("aho-corasick: empty or blank pattern list rejected") {
    intercept[IllegalArgumentException](new graft.functions.AhoAutomaton(Nil))
    intercept[IllegalArgumentException](new graft.functions.AhoAutomaton(Seq("ok", "")))
  }

  test("winnow kernel: nibble-assembled 60-bit hash equals the hex-parse reference") {
    import graft.functions.WinnowFingerprintsHelper
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val words = Seq.fill(4)(Array.fill(1 + rnd.nextInt(6))(
        ('a' + rnd.nextInt(26)).toChar).mkString)
      val gram = words.mkString(" ")
      // k = token count and w = 1 → the single gram IS the fingerprint
      val row = WinnowFingerprintsHelper.eval(UTF8String.fromString(gram), 4, 1)
      assert(row.getLong(0) == 1L)
      assert(row.getArray(1).toLongArray().toSeq ==
        Seq(WinnowFingerprintsHelper.hash60Reference(gram)), gram)
    }
  }

  test("jaroWinkler: DuckDB-pinned hand values, byte semantics, edge cases") {
    import graft.functions.JaroWinklerHelper
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      JaroWinklerHelper.sim(UTF8String.fromString(a), UTF8String.fromString(b))
    // values pinned from DuckDB 1.0 jaro_winkler_similarity
    val pinned = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("duane", "dwayne", 0.8400000000000001),
      ("crate", "trace", 0.7333333333333334),       // prefix 0: no boost
      ("prefix", "prefixxxxx", 0.92),               // prefix capped at 4
      ("abcdxxxx", "abcdyyyy", 0.6666666666666666), // <= 0.7: no boost
      ("ab", "abcdefgh", 0.8),
      ("abc", "acb", 0.5555555555555555),
      ("ab", "ba", 0.0),                            // window 0
      ("héllo", "hello", 0.8400000000000001))       // BYTE semantics
    for ((a, b, want) <- pinned)
      assert(jw(a, b) == want, s"jw($a,$b) = ${jw(a, b)}, want $want")
    // symmetry + bounds on a random corpus; empty contract
    val r = new scala.util.Random(11)
    for (_ <- 1 to 300) {
      val a = Array.fill(r.nextInt(8))(('a' + r.nextInt(4)).toChar).mkString
      val b = Array.fill(r.nextInt(8))(('a' + r.nextInt(4)).toChar).mkString
      val s1 = jw(a, b)
      assert(s1 == jw(b, a), s"asymmetric on ($a,$b)")
      assert(s1 >= 0.0 && s1 <= 1.0)
      if (a == b && a.nonEmpty) assert(s1 == 1.0)
    }
    assert(jw("", "") == 0.0 && jw("", "abc") == 0.0, "empty scores 0")
    // Column path (codegen) agrees with the helper
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("martha", "marhta"), ("ab", "ba"), ("x", "x"))
      .toDF("a", "b")
    val got = df.select(graft.functions.JaroWinkler.column(col("a"), col("b")))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.9611111111111111, 0.0, 1.0))
  }

  test("intersect_count_long == size(array_intersect) incl. duplicates, null elements, null arrays") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd2 = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      def arr(n: Int) = (0 until n).map(_ => rnd2.nextInt(40).toLong)
      (i.toLong, arr(rnd2.nextInt(30)), arr(rnd2.nextInt(30)))
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"),
        // exercise both raw (duplicate-bearing) and distinct inputs
        col("a"), col("b"),
        array_distinct(col("a")).as("ad"), array_distinct(col("b")).as("bd"))
    val out = df.select(
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"),
      graft.functions.IntersectCountLong.column(col("a"), col("b")).as("nat"),
      size(array_intersect(col("ad"), col("bd"))).cast("long").as("refd"),
      graft.functions.IntersectCountLong.column(col("ad"), col("bd")).as("natd"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), r.toString)
      assert(r.getLong(2) == r.getLong(3), r.toString)
    }
    // null elements: present on both sides -> counted once; one side -> not
    val e = Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](null, 3L)),
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L)))
      .toDF("a", "b")
      .select(
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"),
        graft.functions.IntersectCountLong.column(col("a"), col("b")).as("nat"))
      .collect()
    e.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // null array -> null, matching size(array_intersect)=null semantics
    val n = Seq(Tuple1(Seq(1L))).toDF("a")
      .select(
        size(array_intersect(col("a"), lit(null).cast("array<long>"))).as("ref"),
        graft.functions.IntersectCountLong.column(col("a"),
          lit(null).cast("array<long>")).as("nat"))
      .collect()(0)
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("intersect_count_long rejects array<int> inputs when the frame is built") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((Seq(1, 2), Seq(2, 3))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.IntersectCountLong.column(col("a"), col("b")))
    }
  }

  test("kernel columns leave the session's function registry unchanged") {
    import graft.llm.{BloomFilter, Bpe, Dedup, TextAnalysis}
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    import spark.implicits._
    val registry = spark.sessionState.functionRegistry
    def names = registry.listFunction().map(_.unquotedString).sorted
    val before = names
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "lorem ipsum dolor sit amet consectetur")).toDF("doc_id", "text")
    val codec = Bpe.trainOnCorpus(docs, "text", 5)
    val sketch = BloomFilter.build(docs, col("text"), k = 3, m = 1 << 10)
    Seq(
      BloomFilter.mightContain(sketch, docs, "doc_id", col("text"), 3, 1 << 10),
      TextAnalysis.blocklist(docs, "doc_id", "text", Seq("fox", "amet")),
      docs.select(Bpe.encodeColumn(codec, col("text"))),
      TextAnalysis.contaminatedDocsFast(docs, docs, "doc_id", "text", n = 3),
      docs.select(Dedup.hashedShingles(col("text"))),
      docs.select(graft.functions.SimHash1660.column(TextAnalysis.tokens(col("text")))))
      .foreach(df => assert(df.collect().nonEmpty))
    assert(names == before)
  }

  test("kernel columns built under one session resolve in another") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    val s2 = spark.newSession()
    // built while `spark` is the active session
    val srp = graft.functions.SrpBucket.column(col("emb"))
    val shs = graft.llm.Dedup.hashedShingles(col("text"))
    val rows = (1 to 4).map(i => (i.toLong,
      Seq.tabulate(64)(d => math.sin(i * (d + 1)).toFloat), s"document number $i"))
    def run(s: SparkSession): Seq[(Long, Long, Seq[Long])] = {
      val df: DataFrame = s.createDataFrame(rows).toDF("id", "emb", "text")
      df.select(col("id"), srp, shs).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq
    }
    val onS2 = run(s2)
    assert(onS2.map(_._2).distinct.size > 1, s"degenerate buckets: $onS2")
    assert(onS2 == run(spark))
  }
}
