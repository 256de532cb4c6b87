package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Engine-portable Bloom filter: fixed-size set membership for
  * seen-before probes over unbounded key domains — the membership
  * companion to the HLL distinct sketch ([[HllSketch]]) and the
  * count-min frequency sketch ([[CountMin]]). Classic use in a
  * training-data pipeline: a "have we ingested this fingerprint /
  * URL / n-gram window before?" prefilter that answers from `m` bits
  * of state instead of a corpus-sized join — no false negatives,
  * false positives at the standard (1 − e^(−kn/m))^k rate, so a
  * `true` is verified exactly and a `false` skips the expensive path
  * outright.
  *
  * Unlike Spark's built-in `BloomFilterAggregate` (whose bit layout
  * is engine-private), every bit here is md5-derived and reproducible
  * on any engine — the DuckDB oracle recomputes the identical filter
  * in SQL and hash-matches (q132).
  *
  * Scale shape: the sketch is a table of 32-bit words,
  * `(word_idx, word)`, at most m/32 rows REGARDLESS of corpus size
  * (m = 2^24 → 512 K rows ≈ 4 MB) — built by one explode (×k) + one
  * `bit_or` hash aggregate (map-side combine collapses each partition
  * to ≤ m/32 rows before the shuffle), merged across shards by the
  * same `bit_or` (associative), and broadcast to the probe side so a
  * membership probe is a broadcast join + bit test: NO shuffle of the
  * probed stream, which is the whole point at 100 TB.
  */
object BloomFilter {

  /** Bits per sketch word. 32 (not 64) so `1 << (bit % 32)` stays in
    * positive BIGINT range on every engine — DuckDB's `<<` on BIGINT
    * and Spark's `shiftleft` agree with no sign games. */
  val WordBits = 32

  /** (word_idx INT, mask BIGINT) of one bit position. The mask is a
    * BIGINT so bit 31 stays positive (an INT mask would wrap negative
    * on the JVM but not in DuckDB); Spark's `functions.shiftleft` only
    * takes a literal shift, so the column-shift goes through the SQL
    * form. */
  private val wordIdx: Column = (col("bit") / WordBits).cast("int").as("word_idx")
  private val wordMask: Column =
    expr(s"shiftleft(CAST(1 AS BIGINT), CAST(bit % $WordBits AS INT))").as("mask")

  /** All k bit positions of a key (array of longs in [0, m)), via
    * Kirsch–Mitzenmacher double hashing: ONE md5 per key split into
    * two 32-bit halves h1/h2, bit j = (h1 + j·h2) mod m. Same
    * asymptotic FP rate as k independent digests (Kirsch &
    * Mitzenmacher 2006) at 1/k the digest cost — md5 dominates the
    * build/probe, so this is the k× hot-path saving. Subexpression
    * elimination computes the shared md5 once per row; h1 + 15·h2 <
    * 2^36 so the arithmetic never overflows BIGINT.
    * DuckDB twin: h1 = ('0x' || substr(md5('bloom:' || x), 1, 8))::BIGINT,
    * h2 = same with substr(.., 9, 8); bit = (h1 + j*h2) % m. */
  def bitPositions(x: Column, k: Int, m: Int): Column = {
    val d = md5(concat(lit("bloom:"), x.cast("string")))
    val h1 = conv(substring(d, 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(d, 9, 8), 16, 10).cast("long")
    array((0 until k).map(j => (h1 + lit(j.toLong) * h2) % m): _*)
  }

  /** Build the filter from a key column: (word_idx INT, word INT)
    * rows, only non-zero words present (≤ m/32 rows). One explode ×k
    * + one bit_or aggregate — shuffle volume is word-count, not
    * row-count. */
  def build(df: DataFrame, key: Column, k: Int = 7, m: Int = 1 << 24): DataFrame =
    df.select(explode(bitPositions(key, k, m)).as("bit"))
      .select(wordIdx, wordMask)
      .groupBy("word_idx")
      .agg(expr("bit_or(mask)").as("word"))

  /** Merge filters built with the same (k, m) — cell-wise bit_or,
    * associative, so shard-local filters combine in any order. */
  def merge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionAll _)
      .groupBy("word_idx").agg(expr("bit_or(word)").as("word"))

  /** Collect a built sketch's `(word_idx, word)` rows into a dense
    * `long[]` bitmap and broadcast it. The collect is bounded by the
    * SKETCH size (≤ m/32 longs — 4 MB at m = 2^24), never the data,
    * so it is driver-safe at any corpus scale; TorrentBroadcast ships
    * it once per executor. */
  def broadcastWords(sketch: DataFrame, m: Int)
      : org.apache.spark.broadcast.Broadcast[Array[Long]] = {
    val words = new Array[Long](m / WordBits)
    sketch.collect().foreach { r =>
      words(r.getAs[Int]("word_idx")) = r.getAs[Long]("word")
    }
    sketch.sparkSession.sparkContext.broadcast(words)
  }

  /** Membership probe: for each item row, `might_contain` = all k bit
    * positions set. The sketch collapses to a broadcast `long[]`
    * bitmap ([[broadcastWords]]) and the probe runs as ONE codegen
    * expression ([[graft.functions.BloomProbe]]) — k bit tests per
    * row inside whole-stage codegen, zero extra rows, ZERO shuffle of
    * the probed stream (the r8 row-form probe paid a ×k explode plus
    * a per-id regroup exchange). Output keeps one row per input item
    * row. No false negatives; `true` at the documented FP rate. */
  def mightContain(sketch: DataFrame, items: DataFrame, idCol: String,
      keyCol: Column, k: Int = 7, m: Int = 1 << 24): DataFrame = {
    val bcast = broadcastWords(sketch, m)
    items.select(col(idCol),
      graft.functions.BloomProbe.column(keyCol, k, m, bcast)
        .as("might_contain"))
  }

  /** Seen-window membership stats per document: the bloom-prefilter
    * pattern at n-gram-window granularity (the cheap front half of a
    * substring-dedup / contamination scan — see
    * [[Dedup.substringStats]] for the exact back half). Builds a
    * filter over the `windowTokens`-token window hashes of
    * `existing`, probes every window of `batch`, and emits per batch
    * doc: distinct windows, bloom-hit windows, and exact-hit windows
    * (ground truth via join against the existing windows), so the
    * false-positive overhead is directly visible as
    * `n_bloom_hits − n_exact_hits ≥ 0` (never negative: no false
    * negatives).
    *
    * Scale shape: the existing side's DISTINCT window hashes are
    * computed once and persisted — they feed BOTH the filter build
    * (explode + bit_or agg, word-count shuffle, collected into a
    * broadcast `long[]` bitmap at construction time) and the exact
    * ground-truth join in the returned plan. The probe itself is one
    * codegen expression per batch window ([[graft.functions
    * .BloomProbe]]) — no ×k row explosion, no regroup exchange; the
    * batch stream shuffles only for its own (id, wh) DISTINCT and the
    * exact join. That exact join exists HERE because the gate pins FP
    * behavior; a production prefilter would run only the bloom side
    * and verify just the hits. The persisted intermediate is pinned by
    * the returned plan (same contract as [[Dedup.clusters]]); it is
    * sketch-adjacent in size (distinct 60-bit hashes), evicted LRU. */
  def seenWindowStats(existing: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, windowTokens: Int = 8,
      k: Int = 7, m: Int = 1 << 24): DataFrame = {
    val w = windowTokens
    def windows(df: DataFrame): DataFrame = {
      val toks = TextAnalysis.tokens(col(textCol))
      val starts = sequence(lit(1), greatest(size(toks) - (w - 1), lit(1)))
      // parallelism floor (the lshPairs rule, r19): one md5 per token
      // window is the compute-dense stage of this operator and must
      // not serialize onto one core behind an unsplittable input file
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(col(idCol), explode(
          transform(starts, i =>
            Dedup.shingleHash(concat_ws(" ", slice(toks, i, lit(w)))))).as("wh"))
    }
    val exWins = windows(existing).select(col("wh")).distinct().persist()
    val bcast = broadcastWords(build(exWins, col("wh"), k, m), m)
    // DISTINCT (id, wh): distinct windows are the right unit for "how
    // much of this doc was seen before" (and what the oracle counts)
    val batchWins = windows(batch).distinct()
      .withColumn("bloom_hit",
        graft.functions.BloomProbe.column(col("wh"), k, m, bcast))
    val exact = exWins.withColumn("__seen", lit(1))
    batchWins.join(exact, Seq("wh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(when(col("__seen").isNotNull, 1L).otherwise(0L)).as("n_exact_hits"))
  }
}
