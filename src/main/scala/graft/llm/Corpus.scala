package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-management operators for a training-data pipeline:
  * deterministic splits, stratified sampling, PII redaction and
  * duplicate-cluster resolution. Everything is a narrow map or a
  * key-bounded shuffle, and every pseudo-random decision is an
  * md5-of-key derivation — reproducible on any cluster size, no RNG
  * state, and expressible verbatim in the DuckDB oracle.
  */
object Corpus {

  /** Uniform [0, 100) bucket from the row key: md5 → first 8 hex chars
    * → mod 100. Engine-portable (DuckDB:
    * ('0x'||substr(md5(CAST(k AS VARCHAR)),1,8))::BIGINT % 100). */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** Deterministic train/val/test assignment by key hash — the
    * standard leakage-safe split: membership depends only on the key,
    * so re-runs, late-arriving shards and cluster resizing can never
    * move a document across splits. */
  def split(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(key)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Deterministic stratified k-fold assignment — the
    * cross-validation prep [[split]]'s percentage buckets cannot
    * give: hash-bucket folds are only APPROXIMATELY balanced (a
    * small stratum can land 30/70), while rank-mod-k is EXACTLY
    * balanced within every stratum (fold sizes differ by ≤ 1), which
    * is what per-fold metric variance estimates assume. Assignment
    * depends only on (key, salt, the stratum's membership), so
    * re-runs reproduce folds; unlike [[split]], ADDING documents to a
    * stratum can renumber its folds — k-fold is an evaluation-time
    * construct over a FROZEN set, not an ingest-time split (use
    * [[split]] for that; the scaladoc contrast is the point).
    *
    * Scale shape: md5 rides the scan; ONE stratum-keyed rank window
    * is the only data-sized shuffle (the curriculumOrder shape; a
    * mega-stratum takes the budgetSelect banded-rank construction if
    * it ever dominates). */
  def stratifiedKFold(df: DataFrame, stratumCol: String, keyCol: String,
      k: Int, salt: String = "fold"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val h = conv(substring(md5(concat(col(keyCol).cast("string"),
      lit(":" + salt))), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__kh"), col(keyCol))
    df.withColumn("__kh", h)
      .withColumn("fold",
        ((row_number().over(w) - 1) % k).cast("long"))
      .drop("__kh")
  }

  /** Deterministic stratified sample: within each stratum, keep the
    * `frac` fraction of rows with the smallest md5(key) — an
    * order-free, reproducible "random" sample per group (ceil so a
    * non-empty stratum always contributes ≥ 1 row). One shuffle on the
    * stratum key; the window is a top-k per group, not a global sort. */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
      frac: Double): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    val cw = Window.partitionBy(col(stratumCol))
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .filter(col("__rk") <= ceil(col("__n") * frac))
      .drop("__rk", "__n")
  }

  /** Per-domain document cap (the RefinedWeb/C4 "no domain dominates"
    * rule: at most `k` documents per source/domain, chosen
    * deterministically). Keeps the `k` rows with the smallest
    * md5(key) within each domain — order-free and reproducible on any
    * cluster size, and because the rank is md5-based the kept set is
    * an unbiased "random" k, not the first k by ingest order (which
    * would be time-correlated). ONE shuffle on the domain key; the
    * window is top-k per group, never a global sort. Skew note: a
    * giant domain makes a giant partition — for web-scale corpora
    * pre-aggregate obvious megadomains or raise shuffle partitions;
    * the per-row state inside the window is O(1) (rank counter). */
  def domainCap(df: DataFrame, domainCol: String, keyCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * "A-ES", Inf. Proc. Letters 2006): per stratum, keep the `n` rows
    * with the largest u^(1/w) — equivalently, in log space, the
    * largest ln(u)/w — where u is a md5-derived uniform in (0,1) and
    * w the row's weight. Longer/heavier rows win proportionally more
    * often, yet every selection is a deterministic pure function of
    * the key (reproducible on any cluster size, no RNG state).
    *
    * This is THE distributed weighted-reservoir algorithm: the key is
    * computed row-local (narrow), so the only shuffle is the
    * per-stratum top-n window — identical shape to [[domainCap]].
    * Exposes the sort key as `aes_key` so the q141 oracle hash-pins
    * the whole computation (md5→uniform→ln→divide are all
    * bit-reproducible in DuckDB — the q125 ln-parity precedent).
    * Skew note: as with domainCap, a mega-stratum means a big window
    * partition; the in-window state is O(1). */
  def weightedSample(df: DataFrame, stratumCol: String, keyCol: String,
      weightCol: String, n: Int, salt: String = "aes"): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // 52-bit md5 prefix → exact double; +0.5 keeps u off both endpoints
    val k52 = conv(substring(md5(concat(col(keyCol).cast("string"),
      lit(":" + salt))), 1, 13), 16, 10).cast("double")
    val u = (k52 + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__aes").desc, col(keyCol))
    df.filter(col(weightCol) > 0)
      .withColumn("__aes", log(u) / col(weightCol).cast("double"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .withColumnRenamed("__aes", "aes_key")
      .drop("__rk")
  }

  /** Neyman-allocated stratified sample: the audit-sampling design
    * (Neyman 1934; every survey-sampling text since) that minimizes
    * the variance of a whole-corpus mean estimate for a fixed sample
    * budget — allocate the `totalN` budget across strata
    * ∝ N_h·σ_h (stratum size × stratum std-dev of `valCol`), so
    * heterogeneous strata get audited harder and near-constant strata
    * barely at all. THE right way to spend a fixed human-review
    * budget across crawl sources before trusting a quality metric.
    *
    * Quotas round by largest remainder (floor everything, hand the
    * leftover out by descending fractional part, ties → stratum asc)
    * so the allocation sums to exactly `totalN`; a quota above its
    * stratum's size clamps to N_h (the total then undershoots —
    * documented, mirroring [[temperatureMixture]]'s cap rule). Rows
    * are chosen within a stratum by md5 rank ([[domainCap]]'s
    * unbiased deterministic pick).
    *
    * Determinism (q125/q151 discipline): Σx and Σx² per stratum are
    * exact DECIMAL sums cast to double once; σ_h and the weight
    * N_h·σ_h are fixed-shape IEEE expressions of those doubles
    * (variance clamped at 0 — fp cancellation on constant strata);
    * the weight TOTAL re-enters exact decimal so stratum order can't
    * move it. Degenerate corpus (every stratum constant → total
    * weight 0) raises — Neyman is undefined there, and a silent
    * fallback would mask a broken stat column.
    *
    * Scale shape: one (stratum)-keyed moment aggregate (map-side
    * combined, |strata| rows), quota arithmetic + the remainder rank
    * on that |strata|-row frame (the only unpartitioned window —
    * bounded by stratum count, never data), the allocation broadcast
    * back, one md5-rank window per stratum. */
  def neymanAllocate(df: DataFrame, stratumCol: String, keyCol: String,
      valCol: String, totalN: Long): DataFrame = {
    require(totalN > 0, s"totalN must be positive, got $totalN")
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val x = col(valCol).cast("double")
    val st = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"),
        sum(x.cast(dec)).cast("double").as("__sx"),
        sum((x * x).cast(dec)).cast("double").as("__sxx"))
      .withColumn("__sd", sqrt(greatest(
        col("__sxx") / col("__n") -
          (col("__sx") / col("__n")) * (col("__sx") / col("__n")),
        lit(0.0))))
      .withColumn("__w", col("__n").cast("double") * col("__sd"))
    val tot = st.agg(sum(col("__w").cast(dec)).cast("double").as("__tw"))
    val quotas = st.crossJoin(broadcast(tot))
      .withColumn("__q", when(col("__tw") <= 0.0, raise_error(lit(
          "Corpus.neymanAllocate: every stratum is constant (total " +
            "Neyman weight 0) — allocation undefined")))
        .otherwise(lit(totalN.toDouble) * col("__w") / col("__tw")))
      .withColumn("__fl", floor(col("__q")).cast("long"))
      .withColumn("__fr", col("__q") - col("__fl"))
    val wr = Window.orderBy(col("__fr").desc, col(stratumCol))
    val alloc = quotas
      .crossJoin(broadcast(quotas.agg(sum("__fl").as("__sfl"))))
      .withColumn("__rk", row_number().over(wr).cast("long"))
      .withColumn("n_alloc", least(col("__n"), col("__fl") +
        when(col("__rk") <= lit(totalN) - col("__sfl"), 1L).otherwise(0L)))
      .select(col(stratumCol), col("__n").as("n_stratum"),
        col("__sd").as("stratum_stddev"), col("n_alloc"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.join(broadcast(alloc), Seq(stratumCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("n_alloc"))
      .drop("__rk")
  }

  /** Data-constrained scaling readout (Muennighoff et al. 2023,
    * arXiv:2305.16264): how much is each source's REPETITION actually
    * worth under a fixed training-token budget split uniformly across
    * sources? The paper's fit: repeated tokens decay, effective data
    * D' = U·(1 + R*·(1 − e^(−R/R*))) with U unique tokens, R repeat
    * epochs beyond the first, and R* ≈ 15.4 the decay constant — a
    * 5th epoch is worth far less than the 1st, and past ~15 epochs
    * repetition is worthless. Sources whose allocation fits inside
    * their unique tokens (epochs ≤ 1) use alloc fresh tokens,
    * utilization 1; small sources that must repeat show utilization
    * < 1 — the table a mixture owner reads before buying more data
    * vs more compute.
    *
    * Determinism: token counts are exact longs; epochs/alloc are
    * fixed-shape IEEE doubles of those; the one transcendental
    * (1 − e^(−R/R*)) is decimal-rounded before re-entering the chain
    * (the q125/q151 shared-libm discipline).
    *
    * Scale shape: ONE source-keyed token-count aggregate (map-side
    * combined); every other step runs on the |sources|-row frame. */
  def effectiveTokens(df: DataFrame, sourceCol: String, textCol: String,
      budgetTokens: Long, rStar: Double = 15.4): DataFrame = {
    require(budgetTokens >= 1, s"budget must be positive, got $budgetTokens")
    require(rStar > 0, s"rStar must be positive, got $rStar")
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val u = df.groupBy(col(sourceCol))
      .agg(sum(graft.llm.TextAnalysis.tokenCount(col(textCol)))
        .as("n_tokens"))
    val k = u.agg(count(lit(1)).as("__nsrc"))
    val decay = (lit(1.0) - exp((col("__rep") * lit(-1.0)) / lit(rStar)))
      .cast(dec).cast("double")
    u.crossJoin(broadcast(k))
      .withColumn("alloc_tokens",
        lit(budgetTokens).cast("double") / col("__nsrc").cast("double"))
      .withColumn("epochs",
        col("alloc_tokens") / col("n_tokens").cast("double"))
      .withColumn("__rep", greatest(col("epochs") - lit(1.0), lit(0.0)))
      .withColumn("effective_tokens",
        when(col("epochs") <= 1.0, col("alloc_tokens"))
          .otherwise(col("n_tokens").cast("double") *
            (lit(1.0) + lit(rStar) * decay)))
      .withColumn("utilization",
        col("effective_tokens") / col("alloc_tokens"))
      .select(col(sourceCol), col("n_tokens"), col("alloc_tokens"),
        col("epochs"), col("effective_tokens"), col("utilization"))
  }

  /** Temperature-scaled source mixture (the XLM-R/mT5 α-sampling rule
    * for multi-source corpora): per-source sampling mass ∝ n_s^α, so
    * α = 1 keeps natural proportions, α → 0 flattens toward uniform —
    * the standard fix for web-scale source skew where the biggest
    * crawl would otherwise drown every minority source/language.
    * Selects `ceil(totalDocs · p_s)` docs per source (capped at the
    * source's size — upsampling beyond it is [[epochRepeat]]'s job),
    * chosen by md5 rank so the kept set is an unbiased deterministic
    * sample.
    *
    * Determinism at the arithmetic level (the q125 discipline):
    * n_s^α is computed as exp(α·ln n_s) — the shared-libm pair the
    * perplexity gate already pins across engines — and the mass total
    * goes through the exact-decimal sum so source ORDER can't move a
    * double; per-source targets are then bit-identical in the DuckDB
    * replay and the whole selection hash-gates (q151). One tiny
    * aggregate (|sources| rows, broadcast back) + one md5-rank window
    * per source — the domainCap shuffle shape, nothing corpus-global. */
  def temperatureMixture(df: DataFrame, sourceCol: String, keyCol: String,
      alpha: Double, totalDocs: Long): DataFrame = {
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("w", exp(lit(alpha) * log(col("n_src").cast("double"))))
    val tot = counts.agg(
      graft.functions.GraftFunctions.dsum(col("w"), 12).as("tw"))
    val targets = counts.crossJoin(broadcast(tot))
      .withColumn("tgt", least(col("n_src"),
        ceil(lit(totalDocs.toDouble) * (col("w") / col("tw")))))
      .select(col(sourceCol), col("tgt"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.join(broadcast(targets), Seq(sourceCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("tgt"))
      .drop("__rk", "tgt")
  }

  /** Deterministic data-mixture sampling (the "mixture weights" step
    * of corpus assembly — e.g. The Pile / LLaMA-style per-source
    * sampling rates): keep each row with probability
    * `weights(source)`, decided by the row key's md5 — order-free,
    * reproducible on any cluster size, ZERO shuffle (a pure filter
    * riding the scan). Weights > 1 mean "keep all" (epoch-repetition
    * upsampling is a separate explode step, kept out of this filter
    * so the op stays a filter). */
  def mixtureSample(df: DataFrame, sourceCol: String, keyCol: String,
      weights: Map[String, Double], defaultWeight: Double = 0.0): DataFrame = {
    // uniform [0,1) at 2^-24 resolution from the first 6 md5 hex chars
    val u = conv(substring(md5(col(keyCol).cast("string")), 1, 6), 16, 10)
      .cast("double") / (1 << 24)
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (s, wt)) => when(col(sourceCol) === s, lit(wt)).otherwise(acc)
    }
    df.filter(u < w)
  }

  /** Epoch-repetition upsampling — the other half of mixture
    * weighting (LLaMA-style "N epochs of source X"): each row is
    * emitted `floor(w)` times plus one more with probability
    * `frac(w)`, md5-decided, with an `epoch` index column. Weight 2.5
    * means every doc appears twice and half the docs (deterministic by
    * key) a third time. A narrow explode — output volume is exactly
    * the mixture's token budget, no shuffle. */
  def epochRepeat(df: DataFrame, sourceCol: String, keyCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0): DataFrame = {
    val u = conv(substring(md5(col(keyCol).cast("string")), 1, 6), 16, 10)
      .cast("double") / (1 << 24)
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (s, wt)) => when(col(sourceCol) === s, lit(wt)).otherwise(acc)
    }
    val n = (floor(w) + when(u < w - floor(w), 1).otherwise(0)).cast("int")
    // sequence(1, 0) would DESCEND in Spark (default step -1): guard
    // the n=0 case to an empty array so the row drops out
    df.withColumn("epoch",
      explode(when(n >= 1, sequence(lit(1), n))
        .otherwise(array().cast("array<int>"))))
  }

  /** Token-budget shard packing: assign documents to fixed-token-size
    * training shards by global running token count in a deterministic
    * md5 order. The running sum is a TWO-LEVEL distributed prefix sum
    * — within-bucket window cumsum (256 hash buckets, partitioned
    * shuffle) plus a 256-row bucket-offset table — never the
    * single-partition global window that would funnel 100 TB through
    * one task. Documents straddling a boundary belong to the shard
    * their first token lands in (packing tolerance is ±1 doc). */
  def tokenShards(df: DataFrame, idCol: String, textCol: String,
      tokensPerShard: Long, buckets: Int = 256): DataFrame = {
    val rank = md5(col(idCol).cast("string"))
    val base = df.select(col(idCol),
      TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
      rank.as("__rk"),
      (conv(substring(rank, 1, 2), 16, 10).cast("int") % buckets).as("__bk"))
    val w = Window.partitionBy(col("__bk")).orderBy(col("__rk"), col(idCol))
    val withCum = base.withColumn("__cum_in", sum(col("n_tokens")).over(w))
    // 256-row offset table: the only unpartitioned window runs over
    // bucket TOTALS, bounded by the bucket count, never the data
    val wb = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("__bk").agg(sum("n_tokens").as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wb), lit(0L)))
      .select(col("__bk"), col("__off"))
    withCum.join(broadcast(offsets), "__bk")
      .select(col(idCol), col("n_tokens"),
        floor((col("__off") + col("__cum_in") - col("n_tokens"))
          / tokensPerShard).cast("long").as("shard_id"))
  }

  /** GPT-style sequence packing (sample packing): the corpus token
    * stream, concatenated in ascending doc-id order, cut into fixed
    * `seqLen`-token training sequences. Emits one row per (sequence,
    * document) SEGMENT — a doc spanning a cut contributes a segment to
    * each sequence it crosses — with the in-doc token offset, segment
    * length, and segment text, so a loader can reassemble sequences
    * or build attention-boundary masks.
    *
    * Scale shape: the global prefix sum is the two-level trick
    * ([[tokenShards]] discipline) with ORDER-PRESERVING buckets —
    * contiguous doc-id ranges (width from one O(1) max-id scalar), so
    * ascending bucket = ascending corpus order; the in-bucket window
    * shuffles once on the bucket key and the only unpartitioned
    * window runs over `buckets` bucket totals, never the data.
    * Everything downstream is narrow. Deterministic → q139 hash-gates
    * the full output including boundary-spanning segments. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int, buckets: Int = 256): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val base = docs.select(col(idCol).as("doc_id"),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
      .withColumn("n", size(col("__toks")).cast("long"))
      .filter(col("n") > 0)
    // cast in the aggregate so any numeric id type (int, short, decimal)
    // reads back as a long instead of ClassCastException-ing
    val maxIdRow = base.agg(max(col("doc_id")).cast("long")).head
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    val width = math.max(1L, (maxId + buckets) / buckets)
    val withBk = base.withColumn("__bk", (col("doc_id") / width).cast("long"))
    val w = Window.partitionBy(col("__bk")).orderBy(col("doc_id"))
    val wb = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withBk.groupBy("__bk").agg(sum("n").as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wb), lit(0L)))
      .select(col("__bk"), col("__off"))
    val segA = greatest(col("start"), col("seq_id") * seqLen) - col("start")
    val segLen = least(col("start") + col("n"), (col("seq_id") + 1) * seqLen) -
      greatest(col("start"), col("seq_id") * seqLen)
    withBk
      .withColumn("__cum", sum(col("n")).over(w))
      .join(broadcast(offsets), "__bk")
      .withColumn("start", col("__off") + col("__cum") - col("n"))
      .select(col("doc_id"), col("__toks"), col("n"), col("start"),
        explode(sequence((col("start") / seqLen).cast("long"),
          ((col("start") + col("n") - 1) / seqLen).cast("long"))).as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        segA.as("doc_offset"),
        segLen.as("n_seg_tokens"),
        array_join(slice(col("__toks"), (segA + 1).cast("int"),
          segLen.cast("int")), " ").as("seg_text"))
  }

  /** PII redaction: emails, URLs and long digit runs replaced with
    * typed placeholder tokens (the standard pre-training scrub). Pure
    * regexp_replace — rides the scan, codegen'd, no UDF. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), lit("<EMAIL>"))
    val url = regexp_replace(email, lit("https?://[^\\s]+"), lit("<URL>"))
    regexp_replace(url, lit("[0-9]{4,}"), lit("<NUM>"))
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    * components with min-id labels. Input: (id_a, id_b) pairs; output:
    * (id, cluster_id) where cluster_id = min id of the component —
    * deterministic, so a DuckDB recursive-CTE oracle checks it exactly.
    *
    * Two paths, gated on estimated edge-list BYTES (like Spark's
    * broadcast threshold — a row count says nothing about driver
    * memory): below `localMaxBytes` (16 bytes/edge) the edge list is
    * collected and solved with union-find on the driver, collapsing the
    * round loop into one job; above it, the large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") runs fully distributed and converges in O(log n) rounds
    * even on adversarial chain-shaped graphs — where plain min-label
    * propagation needs O(diameter) rounds. */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      localMaxBytes: Long = 16L << 20): DataFrame = {
    // Small-graph fast path: near-dup edge lists are pair-verified
    // output, so at 100 TB they are orders of magnitude smaller than
    // the corpus; most fit the driver comfortably.
    // Self-pairs (a == b) are dropped BEFORE the size gate so both
    // paths agree on degenerate input: previously the driver path
    // emitted (x, x) while the distributed path's canon() dropped the
    // id entirely — the same input could yield different memberships
    // depending only on which side of the byte gate it landed.
    // Singletons are excluded from the output by contract: an id
    // appears iff it shares a component with at least one OTHER id.
    // persist() before the byte-gate count: the gate and the follow-up
    // (driver collect OR the distributed path's first edge
    // materialization) are TWO actions over the same upstream pair
    // pipeline — without the cache an un-persisted caller pays the
    // full LSH/cosine pipeline twice. Unpersisted in the finally:
    // both exits are independent of the input by then (the collect
    // has happened / bigStarClusters eagerly truncated round 0).
    val pairRows = pairs.select(col(idA).cast("long"), col(idB).cast("long"))
      .filter(col(idA).cast("long") =!= col(idB).cast("long"))
      .persist()
    try {
    if (pairRows.count() * 16L <= localMaxBytes) {
      val es = pairRows.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min root wins → deterministic labels
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      return parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "cluster_id")
    }
    bigStarClusters(pairRows.toDF("id_a", "id_b"))._1
    } finally pairRows.unpersist(blocking = false)
  }

  /** Distributed connected components: alternating large-star /
    * small-star rounds (Kiveris et al.). Each phase is ONE shuffle
    * (groupBy the edge head + a partitioning-reusing join); the edge
    * set contracts toward stars rooted at component minima in O(log n)
    * rounds regardless of graph shape. Returns (labels, rounds run).
    *
    *  - large-star: every neighbor LARGER than u re-points to
    *    m = min(N(u) ∪ {u}) — long chains fold in half;
    *  - small-star: every neighbor ≤ u re-points to the min — stars
    *    flatten to depth 1.
    * Convergence = the canonical edge set stops changing (exact
    * set-difference check, not a checksum: a false early stop would
    * silently merge/split clusters). */
  def bigStarClusters(pairs: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val both = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = both.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      both.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // edges directed large→small; m = min neighbor (all < u)
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins.select(col("u"), col("m").as("v")))
    }

    // Per-round lineage TRUNCATION is mandatory for iterative
    // algorithms — persist() keeps the logical plan, which doubles
    // every round and OOMs the driver after ~15 rounds long before the
    // data is large. Lineage.pin truncates: with a context checkpoint
    // dir each round's edge set is a reliable file any executor can
    // re-read after a loss (the mode to run with 1000 executors),
    // without one it is an executor-local block.
    var edges = Lineage.pin(canon(
      pairs.select(col("id_a").cast("long").as("u"),
        col("id_b").cast("long").as("v"))))
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val next = Lineage.pin(canon(smallStar(canon(largeStar(edges)))))
      rounds += 1
      // exact set equality in ONE action (r19; was two exceptAll
      // actions per round): both frames are canonical DISTINCT edge
      // sets, so the symmetric difference is empty iff they are
      // equal — same exactness, half the per-round job barriers
      done = next.exceptAll(edges)
        .unionAll(edges.exceptAll(next)).isEmpty
      edges = next
    }
    // converged edges are stars (u → component min): label members
    // by their root, roots by themselves
    val labels = edges.select(col("u").as("id"), col("v").as("label"))
      .unionAll(edges.select(col("v").as("id"), col("v").as("label")))
      .groupBy("id").agg(min(col("label")).as("cluster_id"))
    (labels, rounds)
  }

  /** Padding-waste accounting for batch composition — the number
    * that justifies length-sorted batching: with per-group batches of
    * `batchSize` rows padded to the batch max (capped at `maxLen`),
    * what fraction of token slots is padding under ARRIVAL order
    * (deterministic md5 shuffle — the honest i.i.d. baseline) vs
    * LENGTH-SORTED order? The gap is the compute a trainer burns on
    * pad tokens; production loaders sort-batch precisely to close it
    * (the packSequences alternative when sequences must stay whole
    * and unconcatenated).
    *
    * pad_frac = Σ_rows (batch_max − len) / Σ_rows batch_max, exact
    * longs into one IEEE division; lengths are truncated at `maxLen`
    * first (a megadoc pads the cap, not the sky).
    *
    * Scale shape: two group-partitioned rank windows (arrival = md5
    * order, sorted = length order) over (group, id, len) rows — the
    * curriculumOrder shape, nothing corpus-wide; per-batch maxima are
    * a (group, batch) keyed aggregate, map-side combined. */
  def paddingWaste(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, batchSize: Int = 8, maxLen: Int = 512): DataFrame = {
    require(batchSize >= 1 && maxLen >= 1,
      s"bad params batchSize=$batchSize maxLen=$maxLen")
    // null text counts as a ZERO-token row, not a maxLen one:
    // least() skips nulls (both engines), so without the coalesce a
    // missing-text row would silently score as a full maxLen-token
    // document and inflate both pad fractions
    val base = docs.select(col(groupCol).as("__g"), col(idCol).as("__id"),
      least(coalesce(
        size(graft.llm.TextAnalysis.tokens(col(textCol))).cast("long"),
        lit(0L)), lit(maxLen.toLong)).as("__len"),
      conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
        .cast("long").as("__h"))
    def frac(orderCols: Seq[Column], name: String): DataFrame = {
      val w = Window.partitionBy(col("__g")).orderBy(orderCols: _*)
      val batched = base
        .withColumn("__b", ((row_number().over(w) - 1) / batchSize)
          .cast("long"))
      val perBatch = batched.groupBy("__g", "__b")
        .agg(max(col("__len")).as("__mx"), sum(col("__len")).as("__s"),
          count(lit(1)).as("__n"))
      perBatch.groupBy("__g").agg(
        sum(col("__n")).cast("long").as("n_docs"),
        ((sum(col("__n") * col("__mx")) - sum(col("__s"))).cast("double") /
          sum(col("__n") * col("__mx")).cast("double")).as(name))
    }
    val arrival = frac(Seq(col("__h"), col("__id")), "pad_frac_arrival")
    val sorted = frac(Seq(col("__len").desc, col("__id")), "pad_frac_sorted")
    arrival.join(sorted.drop("n_docs"), Seq("__g"))
      .select(col("__g").as(groupCol), col("n_docs"),
        col("pad_frac_arrival"), col("pad_frac_sorted"),
        (col("pad_frac_arrival") - col("pad_frac_sorted"))
          .as("saved_frac"))
  }

  /** k-anonymity risk readout over quasi-identifier columns: group
    * sizes of every observed quasi-identifier combination, flagging
    * combinations rarer than k — the standard re-identification risk
    * screen run on metadata BEFORE a corpus (or its stats) is shared:
    * a (source, lang, …) combo observed twice points at two specific
    * documents no aggregate can hide. Combos ordered risky-first.
    *
    * Scale shape: ONE map-side-combined group count — the frame is
    * combination-cardinality-sized, never row-sized; the flag is a
    * narrow compare. */
  def kAnonymity(docs: DataFrame, quasiCols: Seq[String],
      k: Long = 5L): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2, got $k")
    docs.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .withColumn("at_risk", col("n_docs") < k)
      // riskiest-first as documented: rarest combos lead, quasi cols
      // break ties deterministically (combo-cardinality-sized sort)
      .orderBy(col("n_docs").asc +: quasiCols.map(c => col(c).asc): _*)
  }

  /** l-diversity risk readout (Machanavajjhala et al., ICDE 2006) —
    * the screen k-anonymity cannot do: a quasi-identifier group can
    * be large (k-safe) yet expose its members anyway when every row
    * in it shares the SAME sensitive value. Per quasi-combination:
    * group size, DISTINCT sensitive values (distinct l-diversity),
    * and the sensitive-distribution Shannon entropy in nats (entropy
    * l-diversity — a group counts as entropy-ℓ-diverse when
    * entropy ≥ ln ℓ, so publish the nats and let the caller pick ℓ).
    * `at_risk` flags groups with fewer than `l` distinct values.
    * Risky-first ordering, same contract as [[kAnonymity]].
    *
    * Scale shape: ONE (quasi, sensitive) map-side-combined count —
    * the largest frame is combination-cardinality-sized — then a
    * combo-keyed re-aggregate. Entropy terms go through the exact
    * DECIMAL(30,12) sum (the dsum discipline) so the double hashes
    * cross-engine. */
  def lDiversity(docs: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long = 3L): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"l must be >= 2, got $l")
    val qc = quasiCols.map(col)
    val cell = docs.groupBy((qc :+ col(sensitiveCol)): _*)
      .agg(count(lit(1)).cast("long").as("__c"))
    val wn = Window.partitionBy(qc: _*)
    val withP = cell
      .withColumn("__n", sum(col("__c")).over(wn))
      .withColumn("__p", col("__c").cast("double") / col("__n").cast("double"))
    withP.groupBy(qc: _*)
      .agg(
        max(col("__n")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_sensitive"),
        graft.functions.GraftFunctions
          .dsum(-col("__p") * log(col("__p")), 12).as("entropy_nats"))
      .withColumn("at_risk", col("n_sensitive") < l)
      .orderBy(col("n_sensitive").asc +: col("n_docs").asc +:
        quasiCols.map(c => col(c).asc): _*)
  }

  /** t-closeness risk readout (Li, Li & Venkatasubramanian, ICDE
    * 2007) for a categorical sensitive attribute: per quasi-group,
    * the total-variation distance between the group's sensitive-value
    * distribution and the corpus-global one —
    * TVD = ½ Σ_v |p(v | group) − p(v)|, summed over the GLOBAL value
    * domain so values absent from the group still contribute their
    * global mass. Groups whose distribution drifts more than `t` from
    * global are flagged: even a large, diverse group leaks when its
    * sensitive mix is sharply skewed vs the population. Completes the
    * release-screen triad with [[kAnonymity]] and [[lDiversity]].
    *
    * Scale shape: the only row-grain pass is the (quasi, sensitive)
    * count; everything after joins combination-cardinality frames
    * (groups × values), with the global-domain completion a
    * |groups|×|values| crossJoin of two AGGREGATE frames — never
    * data-sized. |diff| terms go through the exact DECIMAL(30,12)
    * sum so the TVD double hashes cross-engine. */
  def tCloseness(docs: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, t: Double = 0.2): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(t > 0 && t < 1, s"t must be in (0,1), got $t")
    val qc = quasiCols.map(col)
    val cell = docs.groupBy((qc :+ col(sensitiveCol)): _*)
      .agg(count(lit(1)).cast("long").as("__c"))
    val groups = cell.groupBy(qc: _*)
      .agg(sum(col("__c")).cast("long").as("__n"))
    val global = cell.groupBy(col(sensitiveCol))
      .agg(sum(col("__c")).cast("long").as("__cv"))
      .crossJoin(cell.agg(sum(col("__c")).cast("long").as("__tot")))
    // complete (group × global-value) grid, absent cells count 0
    groups.crossJoin(global)
      .join(cell, quasiCols :+ sensitiveCol, "left")
      .withColumn("__pg",
        coalesce(col("__c"), lit(0L)).cast("double") / col("__n").cast("double"))
      .withColumn("__pv", col("__cv").cast("double") / col("__tot").cast("double"))
      .groupBy(qc: _*)
      .agg(
        max(col("__n")).cast("long").as("n_docs"),
        (graft.functions.GraftFunctions
          .dsum(abs(col("__pg") - col("__pv")), 12) / 2.0).as("tvd"))
      .withColumn("at_risk", col("tvd") > t)
      .orderBy(col("tvd").desc +: quasiCols.map(c => col(c).asc): _*)
  }

  /** Curriculum training order with round-robin source interleaving:
    * rank documents within each group by a difficulty/quality score
    * (best first by default), then assign the GLOBAL position
    * (rank−1)·|groups| + group_index + 1 — so consecutive training
    * positions rotate through the sources while each source streams
    * its own best-first curriculum. The deterministic data-ordering
    * op in front of sequence packing: loss curves are
    * order-sensitive, and "balanced source exposure within any
    * prefix" is the property mixture owners actually want from an
    * interleave. Positions are globally unique and monotone within a
    * group; once a short group exhausts, its slots simply go unused
    * (consumers order by position — gaps are harmless).
    *
    * Scale shape: one group-keyed rank window (the only data-sized
    * shuffle), one |groups|-row index frame (its ordering window runs
    * on |groups| rows) broadcast back, position = pure arithmetic —
    * NO global sort: the interleave formula IS the global order. */
  def curriculumOrder(docs: DataFrame, idCol: String, groupCol: String,
      scoreCol: String, bestFirst: Boolean = true): DataFrame = {
    // Contract: non-null group keys. A null group would still order,
    // but null placement differs across engines (Spark sorts nulls
    // first ascending, DuckDB last), so the group INDEX — and with it
    // every position — would silently disagree with an oracle replay.
    // Fail loudly instead.
    val checkedGroup = when(col(groupCol).isNull, raise_error(lit(
      s"curriculumOrder: null $groupCol (group keys must be non-null)")))
      .otherwise(col(groupCol))
    val ord =
      if (bestFirst) Seq(col(scoreCol).desc, col(idCol).asc)
      else Seq(col(scoreCol).asc, col(idCol).asc)
    val w = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
    val ranked = docs
      .select(col(idCol), checkedGroup.as(groupCol), col(scoreCol))
      .withColumn("grp_rank", row_number().over(w).cast("long"))
    val gidx = docs.select(col(groupCol)).distinct()
      .withColumn("__gi",
        (row_number().over(Window.orderBy(col(groupCol))) - 1).cast("long"))
    val ng = gidx.agg(count(lit(1)).as("__ng"))
    ranked.join(broadcast(gidx), Seq(groupCol))
      .crossJoin(broadcast(ng))
      .select(col(idCol), col(groupCol), col(scoreCol), col("grp_rank"),
        ((col("grp_rank") - 1) * col("__ng") + col("__gi") + 1)
          .cast("long").as("position"))
  }
}
