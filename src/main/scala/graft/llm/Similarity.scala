package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k, O(Q·N) — the correctness
  *    baseline. All math in double via codegen'd higher-order functions
  *    (`zip_with` + `aggregate`); fixed left-to-right summation order so
  *    results are bit-reproducible.
  *  - [[lshTopK]]: sign-random-projection (SimHash-for-vectors) bucketed
  *    ANN — the 100 TB scale path. Hyperplanes are derived
  *    deterministically from md5, so no RNG state ships to executors;
  *    the candidate join shuffles on the bucket key only, cutting the
  *    candidate set by ~2^bits before exact rescoring.
  */
object Similarity {

  /** Element-wise double dot product with deterministic fold order.
    * Backed by the native codegen expression
    * [[graft.functions.DotProduct]] — a primitive double loop fused
    * into whole-stage codegen. The HOF formulation it replaced
    * (`aggregate(zip_with(...))`) is CodegenFallback in Spark and was
    * the interpreted inner loop of every pair-scoring stage; results
    * are bit-identical (same left fold, same double widening). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.column(a, b)

  /** The pre-round-3 higher-order-function formulation, kept as the
    * reference implementation LlmSpec checks the native expression
    * against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** cos from precomputed norms. Per PAIR this is one dot product
    * instead of three (`cosine` recomputes both norms every time);
    * norms are computed once per ROW in the narrow prep stage. The
    * floating-point result is bit-identical — same dot, same sqrt,
    * same multiply, only factored out of the pair loop. At N·Q pair
    * volume this is the difference between 3·N·Q and N·Q + N + Q
    * vector traversals. */
  private def cosPre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  private def par(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Nearest-centroid pick WITHOUT a window: the candidate rows (one
    * per id × centroid, with similarity/distance in `__d`) collapse
    * to the per-`ids` winner via ONE min_by/max_by hash aggregate.
    * The tie-break (best `__d`, then LOWEST cid) is folded into the
    * ordering key, so the winner is unique and bit-identical to the
    * former `row_number() = 1` window — but the aggregate is MAP-SIDE
    * COMBINABLE: the ×k candidates of one vector collapse locally
    * before the exchange (they are produced consecutively by the
    * broadcast cross join), so the shuffle moves one row per vector
    * instead of k, with no sort. At corpus scale that is a k-fold
    * shuffle-volume cut on every Lloyd round and assignment pass. */
  private def pick1(cand: DataFrame, ids: Seq[String], keep: Seq[String],
      maximize: Boolean): DataFrame = {
    val key =
      if (maximize) struct(col("__d"), (-col("cid")).as("__tb"))
      else struct(col("__d"), col("cid").as("__tb"))
    val value = struct((Seq("cid", "__d") ++ keep).map(col): _*)
    val agg = if (maximize) max_by(value, key) else min_by(value, key)
    cand.groupBy(ids.map(col): _*).agg(agg.as("__best"))
      .select(ids.map(col) ++ (Seq("cid", "__d") ++ keep)
        .map(f => col(s"__best.$f").as(f)): _*)
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Queries are broadcast (small side);
    * ranking is a per-query window top-k (TakeOrdered shape, no global
    * sort). Corpus gets a parallelism floor — the pair scoring is the
    * compute-dense stage and must not be serialized by unsplittable
    * input files. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm")))
    val c = corpus.repartition(par(corpus))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("c_nrm"))
    val scored = c.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPre(col("q_emb"), col("embedding"), col("q_nrm"), col("c_nrm")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim d): ±1 from one md5 nibble — reproducible on any engine or
    * cluster size, no RNG broadcast needed. Computed DRIVER-side
    * (java MessageDigest ≡ Spark md5) and shipped as literals: the
    * plane matrix is a plan-time constant, so executors never digest
    * `bits × dims` md5s per row the way a column-expression
    * formulation would. */
  def planeSign(p: Int, d: Int): Double =
    graft.functions.SrpBucketHelper.planeSign(p, d)

  /** Sign-random-projection bucket id: `bits` sign bits of the vector
    * against deterministic ±1 hyperplanes. `dims` is the embedding
    * width (the fixture corpus is 64-wide). Backed by the native
    * [[graft.functions.SrpBucket]] expression — a primitive double
    * loop with a cached plane matrix; the flat Column formulation
    * ([[srpBucketFlat]], ~4,000 expression nodes at 8×64) measured
    * ~0.3 ms/row and dominated every SRP consumer. Values are
    * bit-identical (LlmSpec pins it). */
  def srpBucket(emb: Column, bits: Int = 8, dims: Int = 64): Column =
    graft.functions.SrpBucket.column(emb, bits, dims)

  /** The flat Column formulation, kept as the reference implementation
    * the native expression is checked against (and the shape the
    * DuckDB oracle mirrors term by term). */
  def srpBucketFlat(emb: Column, bits: Int = 8, dims: Int = 64): Column = {
    val bitCols = (0 until bits).map { p =>
      val proj = (0 until dims).map(d =>
        element_at(emb, d + 1).cast("double") * lit(planeSign(p, d)))
        .reduce(_ + _)
      when(proj >= 0, pow(lit(2), p).cast("long")).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Johnson–Lindenstrauss random projection: shrink an embedding to
    * `outDims` dimensions against a deterministic ±1 (Rademacher)
    * matrix, scaled by 1/sqrt(outDims) so expected squared norm — and
    * pairwise squared distances, the JL lemma — are preserved.
    *
    * This is the embedding-compression step BEFORE the index: at
    * 100 TB a 64→16 projection cuts every downstream ANN / k-means /
    * SemDeDup shuffle and cache by 4× while keeping neighbor structure
    * (distance distortion concentrates at ~1/sqrt(outDims)). A narrow
    * per-row map — zero shuffle — backed by the native codegen
    * expression [[graft.functions.JlProject]]; ±1 entries (Achlioptas
    * 2003) rather than Gaussians keep the arithmetic
    * transcendental-free, so the DuckDB oracle replays the identical
    * fold and the operator hash-gates (q148). */
  def jlProject(emb: Column, outDims: Int = 16, dims: Int = 64): Column =
    graft.functions.JlProject.column(emb, outDims, dims)

  /** The flat Column formulation of [[jlProject]], kept as the
    * reference implementation the native expression is pinned against
    * (and the shape the DuckDB oracle mirrors term by term). */
  def jlProjectFlat(emb: Column, outDims: Int = 16, dims: Int = 64): Column = {
    val comps = (0 until outDims).map { j =>
      (0 until dims).map(d =>
        element_at(emb, d + 1).cast("double") * lit(jlSign(j, d)))
        .reduce(_ + _) / lit(math.sqrt(outDims.toDouble))
    }
    when(emb.isNull, lit(null)).otherwise(array(comps: _*))
  }

  /** Deterministic ±1 JL matrix entry — delegates to the native
    * expression's single source of truth (oracle SQL inlines these). */
  def jlSign(j: Int, d: Int): Double =
    graft.functions.JlProjectHelper.jlSign(j, d)

  /** JL-compressed ANN: candidate generation in the projected space,
    * exact rescore in the original — the classic reduce-then-rerank
    * composition that makes [[jlProject]] a working search path.
    *
    * Candidates are the `cands` nearest corpus vectors per query by
    * squared L2 in the projected space (L2 on UNIT vectors = 2 − 2·cos,
    * so candidate order tracks the cosine ground truth up to JL noise);
    * survivors are re-scored with the full-width exact cosine and the
    * top `k` returned. `outDims` is the quality/width knob: per-pair
    * distance noise ~ 1/sqrt(outDims), so size it to the corpus's
    * neighbor gap — the fixture's true neighbors sit at cos ≈ 0.32
    * against a ≈ 0 background, which needs outDims = 32 (2× width cut,
    * recall 0.86 at cands = 100); a real embedding corpus with top-1
    * cos ≥ 0.7 sustains 16 or 8. The projection is a narrow map on
    * BOTH sides and candidate scoring folds `outDims`-term dots
    * instead of 64; at 100 TB it stacks under any bucketed index
    * (project first, then IVF/LSH the projected space) rather than
    * replacing one. Everything is deterministic (±1 matrix, ascending
    * folds, id tie-breaks), so the whole pipeline — projection,
    * candidate ranking, rescore — hash-gates against a DuckDB replay
    * (q150). */
  def jlTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      cands: Int = 100, outDims: Int = 32, dims: Int = 64): DataFrame = {
    // project the UNIT vector, not the raw embedding: ground truth is
    // cosine, and on unit vectors projected L2² = 2 − 2·cos(+JL noise)
    // — monotone in the target metric. Projecting raw vectors ranks by
    // raw L2, which disagrees with cosine wherever norms vary (recall
    // collapsed to 0.2 on the fixture before this).
    def unitP(emb: Column): Column =
      jlProject(transform(emb, x => x.cast("double") / norm(emb)),
        outDims, dims)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      unitP(col("embedding")).as("q_p"),
      norm(col("embedding")).as("q_nrm")))
    val c = corpus.repartition(par(corpus))
      .select(col("vec_id"), col("embedding"),
        unitP(col("embedding")).as("c_p"),
        norm(col("embedding")).as("c_nrm"))
    val scored = c.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("d2",
        dot(col("q_p"), col("q_p")) + dot(col("c_p"), col("c_p"))
          - lit(2.0) * dot(col("q_p"), col("c_p")))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    val rescored = scored.withColumn("__r", row_number().over(wc))
      .filter(col("__r") <= cands)
      .select(col("query_id"), col("vec_id"),
        cosPre(col("q_emb"), col("embedding"), col("q_nrm"), col("c_nrm"))
          .as("cos"))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    rescored.withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** IVF-style ANN: corpus vectors are assigned to their nearest
    * "centroid" (training-free variant: the first `nlist` corpus
    * vectors serve as seeds — a real build swaps in k-means centroids
    * without touching the plan); a query probes its `nprobe` nearest
    * lists and rescans only those lists exactly.
    *
    * Scale shape: assignment is a broadcast (nlist tiny) + narrow map;
    * the probe join shuffles on the list id — candidate volume is
    * corpus/nlist × nprobe per query instead of the whole corpus.
    * Determinism: distances tie-break on centroid id; all math is
    * fixed-order double folds, so the DuckDB oracle matches exactly. */
  /** Deterministic Lloyd's k-means over the embedding column: seeds =
    * first `k` corpus vectors (stable), each iteration assigns every
    * vector to its nearest centroid (cosine, centroid-id tie-break)
    * and recomputes centroids as element-wise means. One broadcast +
    * one narrow assignment map + one k-sized aggregate per iteration —
    * the classic scalable shape (never an n×n distance matrix). Lists
    * that lose all members drop out (k shrinks rather than producing
    * empty lists). Returns (cid, c_emb double-array).
    *
    * `exactMeans` routes the per-element centroid means through the
    * exact-decimal fold (the dsum discipline): sums are
    * shuffle-order-independent, so the trained centroids — and
    * everything downstream of them — become bit-reproducible across
    * engines and partitionings. The default float-avg path is kept for
    * q75's rows-only IVF gate; [[semDedup]] trains with exact means so
    * the WHOLE operator (clustering included) hash-gates. */
  def kmeansCentroids(corpus: DataFrame, k: Int = 16, iters: Int = 2,
      dims: Int = 64, exactMeans: Boolean = false): DataFrame = {
    // Per-round lineage truncation (Lineage.pin): without it every
    // iteration's plan embeds the previous one's — analysis/
    // optimization cost and recompute depth grow superlinearly in
    // `iters`. The centroid table is k rows, so truncation is O(k)
    // per round.
    // one corpus pass TOTAL, not one per round: the prepped
    // (vec_id, embedding, nrm) frame is persisted so every Lloyd
    // round's eager truncation re-reads cached columnar blocks
    // instead of re-scanning + re-projecting the corpus — at 100 TB
    // this is the difference between iters corpus scans and one
    // (the iteration itself only ever moves k-row centroid tables)
    val prep = kmeansPrep(corpus).persist()
    try kmeansOnPrep(prep, k, iters, dims, exactMeans)
    finally prep.unpersist(blocking = false)
  }

  /** Prepped (vec_id, embedding, nrm) frame shared by k-means rounds
    * and any caller-side assignment pass. */
  private def kmeansPrep(corpus: DataFrame): DataFrame =
    corpus.repartition(par(corpus))
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))

  /** Training memos (the [[Pca.topComponent]] discipline): a session
    * that trains the same quantizer on the same corpus plan twice —
    * the q134/q143/q145/q147 family's exact situation, and any
    * notebook re-running an index build — pays Lloyd's iterations
    * once. Keyed on (session, canonicalized analyzed plan, input-file
    * snapshot, params): `sameResult` semantics, so
    * `.filter`/`.repartition` variants key
    * separately while repeated reads of the same table share. The
    * cached artifact is the COLLECTED centroid/codebook table —
    * k·dims (≤ a few thousand) doubles, the same bounded-driver-state
    * argument as the BPE vocab and the PCA grid — replayed as a local
    * relation, so a memo hit costs zero jobs. Values are identical by
    * construction (training is deterministic given the plan: seeded
    * from the first vectors, exact-decimal means).
    *
    * ==Staleness==
    * The key ALSO carries [[Lineage.inputSnapshot]] — a fingerprint of
    * the leaf files' (path, size, mtime) — so overwriting the corpus
    * in place and retraining keys a MISS and retrains (LlmSpec pins
    * this). Non-file corpora (in-memory, JDBC) have an empty snapshot
    * and fall back to plan-only keying: for those, data mutated behind
    * an identical plan within one session serves the memoized result —
    * the relation-cache caveat, now scoped to exactly the sources
    * where file identity doesn't exist. [[clearTrainingMemo]] resets
    * unconditionally. */
  private val TrainMemoCap = 32
  private val kmMemo = new java.util.LinkedHashMap[
      (SparkSession, LogicalPlan, Long, Int, Int, Int, Boolean),
      Array[(Long, Seq[Double])]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(SparkSession, LogicalPlan, Long, Int, Int, Int, Boolean),
          Array[(Long, Seq[Double])]]): Boolean = size > TrainMemoCap
  }
  private val pqMemo = new java.util.LinkedHashMap[
      (SparkSession, LogicalPlan, Long, Int, Int, Int, Int),
      Array[(Int, Int, Seq[Double])]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(SparkSession, LogicalPlan, Long, Int, Int, Int, Int),
          Array[(Int, Int, Seq[Double])]]): Boolean = size > TrainMemoCap
  }

  def clearTrainingMemo(): Unit = {
    kmMemo.synchronized(kmMemo.clear())
    pqMemo.synchronized(pqMemo.clear())
  }

  /** (k-means entries, PQ entries) — test observability for the memo
    * hit/miss contract. */
  private[graft] def trainingMemoSizes: (Int, Int) =
    (kmMemo.synchronized(kmMemo.size), pqMemo.synchronized(pqMemo.size))

  /** Lloyd's body over an already-prepped (ideally persisted) frame —
    * the caller owns the cache (the [[pqTrainOnSubs]] contract).
    * Memoized per (session, prep plan, params) — see [[kmMemo]]. */
  private def kmeansOnPrep(prep: DataFrame, k: Int, iters: Int,
      dims: Int, exactMeans: Boolean): DataFrame = {
    val sp = prep.sparkSession
    val key = (sp, prep.queryExecution.analyzed.canonicalized,
      Lineage.inputSnapshot(prep), k, iters, dims, exactMeans)
    kmMemo.synchronized(Option(kmMemo.get(key))) match {
      case Some(rows) =>
        sp.createDataFrame(rows.toIndexedSeq).toDF("cid", "c_emb")
      case None =>
        val cents = kmeansOnPrepUncached(prep, k, iters, dims, exactMeans)
        val rows = cents.collect().map(r =>
          (r.getLong(0), r.getSeq[Double](1)))
        kmMemo.synchronized(kmMemo.put(key, rows))
        sp.createDataFrame(rows.toIndexedSeq).toDF("cid", "c_emb")
    }
  }

  private def kmeansOnPrepUncached(prep: DataFrame, k: Int, iters: Int,
      dims: Int, exactMeans: Boolean): DataFrame = {
    var cents = prep.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("c_emb"))
    for (_ <- 1 to iters) {
      val c = broadcast(cents.select(col("cid"), col("c_emb"),
        norm(col("c_emb")).as("c_nrm")))
      val assigned = pick1(prep.crossJoin(c)
        .withColumn("__d", cosPre(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm"))),
        Seq("vec_id"), Seq("embedding"), maximize = true)
      def mean(i: Int): Column =
        if (exactMeans)
          sum(element_at(col("embedding"), i + 1).cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(30, 12))).cast("double") /
            count(lit(1))
        else avg(element_at(col("embedding"), i + 1).cast("double"))
      cents = Lineage.pin(assigned.groupBy(col("cid"))
        .agg(array((0 until dims).map(mean): _*).as("c_emb")))
    }
    cents
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication. K-means-cluster the embedding space, call two
    * documents duplicates when their within-cluster cosine exceeds
    * `tau`, and keep the member of each duplicate pair with the LOWER
    * cosine to its centroid — the paper's diversity-preserving keeper
    * rule (the more atypical example survives; ties break to the lower
    * id). Returns every input row as (idCol, cid, cent_cos, kept).
    *
    * Scale shape: the clustering IS the scalability — the pair join
    * shuffles on the cluster id and candidate volume is Σ cluster²,
    * never corpus²; grow `k` with the corpus (the paper runs 50k
    * clusters at web scale) so clusters stay bounded, and AQE's
    * skew-join splits the odd monster cluster. Training goes through
    * [[kmeansCentroids]] with `exactMeans = true`, so centroids —
    * hence assignments, pair sets, and keeper choices — are
    * bit-reproducible and the whole operator hash-gates against a
    * DuckDB replay of the full training run (q134). */
  def semDedup(vectors: DataFrame, idCol: String, embCol: String,
      tau: Double, k: Int = 8, iters: Int = 2, dims: Int = 64): DataFrame = {
    val v = vectors.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    // one prep pass serves training (eager rounds warm the cache) AND
    // the final assignment (lazy — the returned plan pins the cache,
    // the pqTopK/seenWindowStats contract)
    val prep = kmeansPrep(v).persist()
    val cents = kmeansOnPrep(prep, k, iters, dims, exactMeans = true)
    val c = broadcast(cents.select(col("cid"), col("c_emb"),
      norm(col("c_emb")).as("c_nrm")))
    val assigned = pick1(prep
      .crossJoin(c)
      .withColumn("__d", cosPre(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm"))),
      Seq("vec_id"), Seq("embedding", "nrm"), maximize = true)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
        col("__d").as("cent_cos"))
    val a = assigned.select(col("cid"), col("vec_id").as("ia"),
      col("embedding").as("ea"), col("nrm").as("na"), col("cent_cos").as("ca"))
    val b = assigned.select(col("cid"), col("vec_id").as("ib"),
      col("embedding").as("eb"), col("nrm").as("nb"), col("cent_cos").as("cb"))
    // loser of each duplicate pair = the member closer to its centroid
    // (higher cent_cos); join emits each unordered pair once (ia < ib)
    val losers = a.join(b, Seq("cid"))
      .filter(col("ia") < col("ib"))
      .filter(cosPre(col("ea"), col("eb"), col("na"), col("nb")) >= tau)
      .select(when(col("ca") < col("cb") ||
          (col("ca") === col("cb") && col("ia") < col("ib")), col("ib"))
        .otherwise(col("ia")).as("vec_id"))
      .distinct()
    assigned
      .join(losers.withColumn("__lost", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id").as(idCol), col("cid"), col("cent_cos"),
        col("__lost").isNull.as("kept"))
  }

  /** (vec_id, sub, sv): each vector split into `m` contiguous
    * subvectors of `dims/m` doubles — the product-quantization
    * decomposition. Narrow (explode of an m-element array built from
    * a slice), no shuffle. */
  private def subVectors(vectors: DataFrame, m: Int, dims: Int): DataFrame = {
    val dsub = dims / m
    vectors.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => transform(slice(col("embedding"), s * dsub + 1, lit(dsub)),
          x => x.cast("double")))).as(Seq("sub", "sv")))
  }

  /** Squared L2 distance by dot products: |x|² + |c|² - 2·x·c, every
    * dot the native ascending-fold [[graft.functions.DotProduct]] —
    * the exact operation order the DuckDB oracle replays, so distances
    * (hence assignments and codes) are bit-identical across engines.
    * `xx`/`cc` are precomputed once per row/centroid; reusing the
    * value is bitwise-free. */
  private def l2ByDots(xx: Column, cc: Column, x: Column, c: Column): Column =
    xx + cc - lit(2.0) * dot(x, c)

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search", IEEE TPAMI 33(1)):
    * `m` independent L2 k-means quantizers of `ksub` centroids each,
    * one per `dims/m`-dim subspace. Returns (sub, cid, c).
    *
    * All `m` subspaces train in the SAME Spark jobs — the subspace id
    * rides the rows (one narrow explode, centroid table m·ksub rows
    * broadcast back), so training cost is one corpus pass per Lloyd's
    * round regardless of `m`, not m sequential k-means runs. Centroid
    * means go through the exact-decimal fold (the
    * [[kmeansCentroids]] `exactMeans` discipline), making the full
    * training run — codebooks, codes, ADC scores — bit-reproducible
    * and hash-gateable (q136). Seeds are the first `ksub` vectors'
    * subvectors (deterministic, engine-portable). */
  /** Prepped subvector table shared by PQ train and encode:
    * (vec_id, sub, sv, xx). ONE corpus pass builds it; callers that
    * run both stages persist it once. */
  private def pqSubs(corpus: DataFrame, m: Int, dims: Int): DataFrame =
    subVectors(corpus.repartition(par(corpus)), m, dims)
      .withColumn("xx", dot(col("sv"), col("sv")))

  /** Training body over an already-prepped (ideally persisted)
    * subvector table — the caller owns the cache. Memoized per
    * (session, subs plan, params) — see [[kmMemo]]'s rationale. */
  private def pqTrainOnSubs(subs: DataFrame, m: Int, ksub: Int,
      iters: Int, dims: Int): DataFrame = {
    val sp = subs.sparkSession
    val key = (sp, subs.queryExecution.analyzed.canonicalized,
      Lineage.inputSnapshot(subs), m, ksub, iters, dims)
    pqMemo.synchronized(Option(pqMemo.get(key))) match {
      case Some(rows) =>
        sp.createDataFrame(rows.toIndexedSeq).toDF("sub", "cid", "c")
      case None =>
        val books = pqTrainOnSubsUncached(subs, m, ksub, iters, dims)
        val rows = books.collect().map(r =>
          (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        pqMemo.synchronized(pqMemo.put(key, rows))
        sp.createDataFrame(rows.toIndexedSeq).toDF("sub", "cid", "c")
    }
  }

  private def pqTrainOnSubsUncached(subs: DataFrame, m: Int, ksub: Int,
      iters: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val dsub = dims / m
    var books = subs.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").cast("int").as("cid"),
        col("sv").as("c"))
    for (_ <- 1 to iters) {
      val b = broadcast(books.withColumn("cc", dot(col("c"), col("c"))))
      val assigned = pick1(subs.join(b, Seq("sub"))
        .withColumn("__d", l2ByDots(col("xx"), col("cc"), col("sv"), col("c"))),
        Seq("vec_id", "sub"), Seq("sv"), maximize = false)
      // per-element exact-decimal mean; a cell that loses every
      // member KEEPS its previous centroid (left join + coalesce) —
      // unlike kmeansCentroids' shrink-k behavior, PQ's flattened
      // ADC lookup (s·ksub + code) requires a dense m×ksub codebook
      val upd = assigned.groupBy(col("sub"), col("cid"))
        .agg(array((0 until dsub).map(i =>
          sum(element_at(col("sv"), i + 1)
            .cast(org.apache.spark.sql.types.DecimalType(30, 12))).cast("double") /
            count(lit(1))): _*).as("cNew"))
      books = Lineage.pin(books.select(col("sub"), col("cid"), col("c"))
        .join(upd, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("cNew"), col("c")).as("c")))
    }
    books
  }

  def pqTrain(corpus: DataFrame, m: Int = 4, ksub: Int = 8,
      iters: Int = 2, dims: Int = 64): DataFrame = {
    // one corpus pass TOTAL (the kmeansCentroids rule): the subvector
    // table feeds every Lloyd round's eager truncation — persist it so
    // rounds re-read cached blocks instead of re-scanning the corpus
    // and re-exploding the subvectors per round
    val subs = pqSubs(corpus, m, dims).persist()
    try pqTrainOnSubs(subs, m, ksub, iters, dims)
    finally subs.unpersist(blocking = false)
  }

  /** PQ-encode: each vector → `m` codebook ids (its nearest centroid
    * per subspace), i.e. dims·4 bytes of floats compressed to m small
    * ints — the representation that lets a 100 TB corpus's index fit
    * in memory. Returns (vec_id, codes array<int> ordered by sub).
    * One broadcast join + one shuffle of (vec_id, sub, cid) rows —
    * the embeddings themselves never shuffle. */
  private def pqEncodeOnSubs(subs: DataFrame,
      books: DataFrame): DataFrame = {
    val b = broadcast(books.withColumn("cc", dot(col("c"), col("c"))))
    pick1(subs
      .join(b, Seq("sub"))
      .withColumn("__d", l2ByDots(col("xx"), col("cc"), col("sv"), col("c"))),
      Seq("vec_id", "sub"), Nil, maximize = false)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        x => x.getField("cid")).as("codes"))
  }

  def pqEncode(corpus: DataFrame, books: DataFrame, m: Int = 4,
      dims: Int = 64): DataFrame =
    pqEncodeOnSubs(pqSubs(corpus, m, dims), books)

  /** PQ ANN top-k by asymmetric distance computation (ADC): the query
    * stays exact, the corpus is its codes, and each pair's
    * approximate distance is m table lookups — Σ_s lut[s·ksub +
    * codes_s] where lut holds the query-to-centroid squared L2 per
    * (sub, cid), flattened in (sub, cid) order.
    *
    * Scale shape: the per-query LUT is Q·m·ksub rows folded to one
    * m·ksub-double array per query and BROADCAST; the corpus side
    * touches only (vec_id, codes) — m ints per vector, the embeddings
    * never reshuffle or rescan — and the fold is an ordered O(m)
    * aggregate inside the scan, so pair scoring is memory-bandwidth
    * on codes, the whole point of PQ. Ranking is the per-query
    * window top-k (TakeOrdered shape). Deterministic end-to-end:
    * trained via [[pqTrain]], distances via [[l2ByDots]], fold order
    * ascending in sub — q136 hash-gates the full run. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 4,
      ksub: Int = 8, iters: Int = 2, dims: Int = 64): DataFrame = {
    // ONE subvector pass serves both training (eager rounds warm the
    // cache) and encoding (lazy — the returned plan pins the cache,
    // same contract as BloomFilter.seenWindowStats; sized
    // corpus×m×(dsub doubles), LRU-evicted)
    val subs = pqSubs(corpus, m, dims).persist()
    val books = pqTrainOnSubs(subs, m, ksub, iters, dims)
    val codes = pqEncodeOnSubs(subs, books)
    val b = broadcast(books.withColumn("cc", dot(col("c"), col("c"))))
    val lut = subVectors(
      queries.select(col("vec_id"), col("embedding")), m, dims)
      .withColumnRenamed("vec_id", "query_id")
      .withColumn("xx", dot(col("sv"), col("sv")))
      .join(b, Seq("sub"))
      .withColumn("__d", l2ByDots(col("xx"), col("cc"), col("sv"), col("c")))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cid"), col("__d")))),
        x => x.getField("__d")).as("lut"))
    val scored = codes.crossJoin(broadcast(lut))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, s) => acc +
          element_at(col("lut"), s * ksub + element_at(col("codes"), s + 1) + 1)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame =
    // training-free default: the first `nlist` corpus vectors seed the
    // lists; pass kmeansCentroids(...) output for a trained index —
    // the query plan is identical either way
    ivfTopKOnPrep(queries, kmeansPrep(corpus), k, nlist, nprobe, centroids)

  /** Trained-IVF ANN over ONE corpus prep: calling [[kmeansCentroids]]
    * then [[ivfTopK]] back-to-back preps (repartition + norm) the same
    * corpus twice — here training's eager Lloyd rounds warm a
    * persisted prep that the lazy probe plan pins (the semDedup cache
    * contract), so the corpus is scanned and normed once for
    * train + assign. Bit-identical to the two-call composition. */
  def ivfTrainedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 2, iters: Int = 2, dims: Int = 64,
      exactMeans: Boolean = true): DataFrame = {
    val prep = kmeansPrep(corpus).persist()
    val cents = kmeansOnPrep(prep, nlist, iters, dims, exactMeans)
    ivfTopKOnPrep(queries, prep, k, nlist, nprobe, Some(cents))
  }

  /** [[ivfTopK]] body over an already-prepped (vec_id, embedding, nrm)
    * frame — the corpus-side norm rides the prep instead of being
    * recomputed per call. */
  private def ivfTopKOnPrep(queries: DataFrame, prep: DataFrame, k: Int,
      nlist: Int, nprobe: Int, centroids: Option[DataFrame]): DataFrame = {
    val cents = broadcast(centroids.getOrElse(
      prep.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))
      .select(col("cid"), col("c_emb"), norm(col("c_emb")).as("c_nrm")))

    // corpus → nearest list (rank 1, windowless map-side-combinable
    // pick), queries → nprobe nearest lists (window top-n); each row's
    // own norm is computed once, not per centroid pair
    val assigned = pick1(prep.crossJoin(cents)
        .withColumn("__d",
          cosPre(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm"))),
      Seq("vec_id"), Seq("embedding", "nrm"), maximize = true).drop("__d")
    val w0 = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").desc, col("cid").asc)
    val probed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("q_nrm", norm(col("q_emb")))
      .crossJoin(cents)
      .withColumn("__d",
        cosPre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
      .withColumn("__r", row_number().over(w0))
      .filter(col("__r") <= nprobe)
      .drop("c_emb", "c_nrm", "__d", "__r")

    val scored = assigned.join(probed, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPre(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** IVF-PQ composed ANN (the IVFADC scheme of Jégou et al. 2011,
    * non-residual variant): the coarse quantizer from [[ivfTopK]]
    * assigns every corpus vector to ONE inverted list and each query
    * probes its `nprobe` nearest lists, so the [[pqTopK]] asymmetric
    * distance computation runs only over the codes IN PROBED LISTS —
    * query cost drops from a full code-table scan to
    * nprobe/nlist of it, which is the piece that makes PQ an index
    * rather than a compressed brute force.
    *
    * Scale shape: codebooks (m·ksub rows) and the per-query
    * (cid, lut) probe table (Q·nprobe rows, m·ksub doubles each) are
    * BROADCAST; the corpus side touches (cid, vec_id, codes) — m
    * ints per vector, embeddings never reach pair scoring — and the
    * list restriction is the equi-join on `cid`, so the scored stream
    * is Σ probed-list sizes, never corpus×queries. One shuffle
    * co-locates codes with their list id (vec_id equi-join).
    * Deterministic end-to-end (seed centroids = first `nlist`
    * vectors, [[pqTrain]] exact-decimal means, ordered ADC fold) →
    * the q142 oracle replays the entire run and hash-matches. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 2, m: Int = 4, ksub: Int = 8,
      iters: Int = 2, dims: Int = 64,
      centroids: Option[DataFrame] = None): DataFrame =
    ivfPqTopKOnPrep(queries, kmeansPrep(corpus), k, nlist, nprobe, m,
      ksub, iters, dims, centroids)

  /** Trained-coarse IVF-PQ: the production composition — exact-decimal
    * k-means trains the coarse quantizer AND product quantization
    * trains the codebooks, over ONE persisted corpus prep (coarse
    * training's eager rounds warm it; the subvector split, corpus
    * assignment, and probe plan all pin it). Bit-identical to
    * training the coarse quantizer separately and passing it via
    * `centroids`.
    *
    * The two trainings are INDEPENDENT job chains (coarse reads prep,
    * PQ reads the subvector table), so they are submitted from two
    * driver threads and run concurrently — each chain is a sequence
    * of small eager rounds (k-row aggregates + checkpoints) whose
    * scheduling/barrier latency the other chain hides. Results are
    * order-independent: concurrent first materialization of the
    * shared caches is block-locked by Spark, and each chain's
    * determinism is internal to it. */
  def ivfPqTrainedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 2, m: Int = 4, ksub: Int = 8,
      pqIters: Int = 2, coarseIters: Int = 2, dims: Int = 64): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val prep = kmeansPrep(corpus).persist()
    val subs = pqPrepSubs(prep, m, dims).persist()
    val centsF = Future(kmeansOnPrep(prep, nlist, coarseIters, dims,
      exactMeans = true))
    val booksF = Future(pqTrainOnSubs(subs, m, ksub, pqIters, dims))
    val cents = Await.result(centsF, Duration.Inf)
    val books = Await.result(booksF, Duration.Inf)
    ivfPqScore(queries, prep, subs, books,
      resolveCents(prep, nlist, Some(cents)), k, nprobe, m, ksub, dims)
  }

  /** [[ivfPqTopK]] body over an already-prepped (vec_id, embedding,
    * nrm) frame: the coarse assignment reuses the prep's norm, and the
    * PQ subvector split derives from the same frame (prep already
    * carries the parallelism floor). */
  private def ivfPqTopKOnPrep(queries: DataFrame, prep: DataFrame,
      k: Int, nlist: Int, nprobe: Int, m: Int, ksub: Int, iters: Int,
      dims: Int, centroids: Option[DataFrame]): DataFrame = {
    // shared subvector pass, as in [[pqTopK]] (train warms, encode
    // pins); prep already carries the parallelism floor
    val subs = pqPrepSubs(prep, m, dims).persist()
    val books = pqTrainOnSubs(subs, m, ksub, iters, dims)
    ivfPqScore(queries, prep, subs, books,
      resolveCents(prep, nlist, centroids), k, nprobe, m, ksub, dims)
  }

  /** Broadcast (cid, c_emb, c_nrm) coarse-centroid table — from the
    * caller's trained centroids or the first-`nlist` seeds. */
  private def resolveCents(prep: DataFrame, nlist: Int,
      centroids: Option[DataFrame]): DataFrame =
    broadcast(centroids.getOrElse(
      prep.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))
      .select(col("cid"), col("c_emb"), norm(col("c_emb")).as("c_nrm")))

  /** Prepped (vec_id, sub, sv, xx) subvector table from an
    * already-prepped frame (no extra repartition). */
  private def pqPrepSubs(prep: DataFrame, m: Int, dims: Int): DataFrame =
    subVectors(prep, m, dims)
      .withColumn("xx", dot(col("sv"), col("sv")))

  /** Scoring tail shared by [[ivfPqTopKOnPrep]] and
    * [[ivfPqTrainedTopK]]: encode, assign corpus to lists, build
    * per-query LUTs, probe, ADC-score within probed lists, rank. */
  private def ivfPqScore(queries: DataFrame, prep: DataFrame,
      subs: DataFrame, books: DataFrame, cents: DataFrame, k: Int,
      nprobe: Int, m: Int, ksub: Int, dims: Int): DataFrame = {
    val codes = pqEncodeOnSubs(subs, books)
    val assigned = pick1(prep.crossJoin(cents)
        .withColumn("__d",
          cosPre(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm"))),
      Seq("vec_id"), Nil, maximize = true).drop("__d")
    val listCodes = codes.join(assigned, Seq("vec_id"))
    val b = broadcast(books.withColumn("cc", dot(col("c"), col("c"))))
    val lut = subVectors(
      queries.select(col("vec_id"), col("embedding")), m, dims)
      .withColumnRenamed("vec_id", "query_id")
      .withColumn("xx", dot(col("sv"), col("sv")))
      .join(b, Seq("sub"))
      .withColumn("__d", l2ByDots(col("xx"), col("cc"), col("sv"), col("c")))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cid"), col("__d")))),
        x => x.getField("__d")).as("lut"))
    val w0 = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").desc, col("cid").asc)
    val probed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("q_nrm", norm(col("q_emb")))
      .crossJoin(cents)
      .withColumn("__d",
        cosPre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
      .withColumn("__r", row_number().over(w0))
      .filter(col("__r") <= nprobe)
      .drop("c_emb", "c_nrm", "__d", "__r", "q_nrm", "q_emb")
      .join(lut, Seq("query_id"))
    val scored = listCodes.join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, s) => acc +
          element_at(col("lut"), s * ksub + element_at(col("codes"), s + 1) + 1)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
  }

  /** Persisted IVF index: centroids + corpus-to-list assignments
    * written as parquet, so index build cost is paid ONCE and every
    * query run probes the stored index — the production vector-search
    * shape (build offline, serve online). The assignment table is
    * written partitioned by list id: a probe reads only its `nprobe`
    * list directories (directory-pruned scan), never the whole corpus.
    */
  def buildIvfIndex(corpus: DataFrame, indexPath: String, k: Int = 16,
      iters: Int = 2, dims: Int = 64,
      centroids: Option[DataFrame] = None): Unit = {
    // one prep for training + assignment; both consumers are eager
    // writes, so the cache is released on return (no lazy-escape
    // hazard here). `centroids` overrides training entirely (seed or
    // externally-trained (cid, c_emb) — the deterministic build the
    // oracle gate replays).
    val prep = kmeansPrep(corpus).persist()
    try {
      val cents = centroids.getOrElse(kmeansOnPrep(prep, k, iters, dims,
        exactMeans = false))
      cents.write.mode("overwrite").parquet(s"$indexPath/centroids")
      val c = broadcast(cents.select(col("cid"), col("c_emb"),
        norm(col("c_emb")).as("c_nrm")))
      pick1(prep.crossJoin(c)
        .withColumn("__d", cosPre(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm"))),
        Seq("vec_id"), Seq("embedding", "nrm"), maximize = true)
        .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$indexPath/assignments")
    } finally prep.unpersist(blocking = false)
  }

  /** ANN over a persisted index: queries probe their `nprobe` nearest
    * stored centroids and rescore exactly within those lists only. The
    * assignment read carries a `cid IN (...)`-shaped join, so with the
    * partitioned layout the scan touches probed list directories. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame = {
    val cents = broadcast(spark.read.parquet(s"$indexPath/centroids")
      .select(col("cid"), col("c_emb"), norm(col("c_emb")).as("c_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").desc, col("cid").asc)
    val probed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .crossJoin(cents)
      .withColumn("__d", cosPre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nprobe)
      .drop("c_emb", "c_nrm", "__d", "__r")
    val assigned = spark.read.parquet(s"$indexPath/assignments")
    val scored = assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPre(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Persisted IVF-PQ index (the production twin of [[ivfPqTopK]],
    * same build-offline/serve-online pattern as [[buildIvfIndex]]):
    * coarse seed centroids + trained PQ codebooks + the m-int code
    * table written partitioned by list id, so a probe's scan reads
    * only its `nprobe` list directories (directory pruning) and
    * touches m ints per vector — the full corpus of embeddings is
    * never stored in the index at all, which is the PQ memory story:
    * the whole serving artifact is codes + two tiny broadcast
    * tables. */
  def buildIvfPqIndex(corpus: DataFrame, indexPath: String,
      nlist: Int = 16, m: Int = 4, ksub: Int = 8, iters: Int = 2,
      dims: Int = 64): Unit = {
    val cents = corpus.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
    cents.write.mode("overwrite").parquet(s"$indexPath/coarse")
    // build is eager end-to-end, so the shared subvector pass is
    // persisted for training AND encoding and released on exit
    val subs = pqSubs(corpus, m, dims).persist()
    try {
      val books = pqTrainOnSubs(subs, m, ksub, iters, dims)
      books.write.mode("overwrite").parquet(s"$indexPath/books")
      val c = broadcast(cents
        .select(col("cid"), col("c_emb"), norm(col("c_emb")).as("c_nrm")))
      val assigned = pick1(corpus.repartition(par(corpus))
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
        .crossJoin(c)
        .withColumn("__d",
          cosPre(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm"))),
        Seq("vec_id"), Nil, maximize = true)
        .select(col("vec_id"), col("cid"))
      pqEncodeOnSubs(subs, books).join(assigned, Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("codes"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$indexPath/codes")
    } finally subs.unpersist(blocking = false)
  }

  /** ANN over a persisted IVF-PQ index: value-identical to
    * [[ivfPqTopK]] on the same corpus (asserted in LlmSpec), but the
    * query run reads codes from the probed list directories only and
    * rebuilds nothing. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int, nprobe: Int = 2,
      m: Int = 4, ksub: Int = 8, dims: Int = 64): DataFrame = {
    val cents = broadcast(spark.read.parquet(s"$indexPath/coarse")
      .select(col("cid"), col("c_emb"), norm(col("c_emb")).as("c_nrm")))
    val books = spark.read.parquet(s"$indexPath/books")
    val b = broadcast(books.withColumn("cc", dot(col("c"), col("c"))))
    val lut = subVectors(
      queries.select(col("vec_id"), col("embedding")), m, dims)
      .withColumnRenamed("vec_id", "query_id")
      .withColumn("xx", dot(col("sv"), col("sv")))
      .join(b, Seq("sub"))
      .withColumn("__d", l2ByDots(col("xx"), col("cc"), col("sv"), col("c")))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cid"), col("__d")))),
        x => x.getField("__d")).as("lut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").desc, col("cid").asc)
    val probed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .crossJoin(cents)
      .withColumn("__d",
        cosPre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nprobe)
      .select(col("query_id"), col("cid"))
      .join(lut, Seq("query_id"))
    val codes = spark.read.parquet(s"$indexPath/codes")
    val scored = codes.join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, s) => acc +
          element_at(col("lut"), s * ksub + element_at(col("codes"), s + 1) + 1)))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
  }

  /** Filtered ANN over a persisted IVF index: top-k among the vectors
    * in `allowed` only — the vector-search + metadata-predicate shape
    * every production system needs (search within a tenant, a language,
    * a license class). The filter is a semi-join on the assignment
    * stream BEFORE pair scoring, so disallowed vectors never reach the
    * rescore; because nearest-centroid assignment is per-vector,
    * filtering commutes with indexing and the result is EXACTLY
    * `ivfTopK` over the pre-filtered corpus under the same centroids
    * (LlmSpec pins the equivalence). `allowed` is a (vec_id) frame —
    * broadcast when it's a small allowlist, shuffle-joined when it's
    * itself corpus-scale (Spark picks by size; at 100 TB a
    * tenant/language predicate is usually a column you'd instead bake
    * into the index layout as a partition key — this is the ad-hoc
    * path). Recall caveat is the standard one: k-of-list AFTER
    * filtering means sparse allowlists want a higher nprobe. */
  def ivfTopKIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, allowed: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame = {
    val cents = broadcast(spark.read.parquet(s"$indexPath/centroids")
      .select(col("cid"), col("c_emb"), norm(col("c_emb")).as("c_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").desc, col("cid").asc)
    val probed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .crossJoin(cents)
      .withColumn("__d",
        cosPre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nprobe)
      .drop("c_emb", "c_nrm", "__d", "__r")
    val assigned = spark.read.parquet(s"$indexPath/assignments")
      .join(allowed.select(col("vec_id")), Seq("vec_id"), "left_semi")
    val scored = assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPre(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm"))
          .as("cos"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Incremental IVF index maintenance: assign a batch of NEW vectors
    * to the index's EXISTING centroids and append them to the
    * partitioned assignment table — no retrain, no rewrite of what's
    * already there. This is how a production vector index absorbs a
    * daily ingest at 100 TB: the append touches only the new batch
    * (one broadcast of the k-row centroid table, one narrow assignment
    * pass, one partitioned write), while a rebuild would re-scan the
    * whole corpus. Centroids drift as the distribution shifts —
    * re-train on a schedule (rebuild) when probe recall degrades; in
    * between, appended batches are served identically to built ones
    * (LlmSpec pins build(half)+append(half) ≡ build-on-full with the
    * same centroids, value-for-value). */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      newVectors: DataFrame, indexPath: String, dims: Int = 64): Unit = {
    val cents = broadcast(spark.read.parquet(s"$indexPath/centroids")
      .select(col("cid"), col("c_emb"), norm(col("c_emb")).as("c_nrm")))
    val prep = kmeansPrep(newVectors)
    pick1(prep.crossJoin(cents)
      .withColumn("__d",
        cosPre(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm"))),
      Seq("vec_id"), Seq("embedding", "nrm"), maximize = true)
      .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.mode("append").partitionBy("cid")
      .parquet(s"$indexPath/assignments")
  }

  /** Incremental IVF-PQ index maintenance ([[appendToIvfIndex]] for
    * the compressed index): encode the new batch with the STORED
    * codebooks, assign to the STORED coarse centroids, append codes to
    * the probed-list layout. Quantizers are frozen between rebuilds —
    * the standard IVFADC serving pattern (codebook drift, like
    * centroid drift, is a scheduled-retrain concern, not a per-batch
    * one). */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      newVectors: DataFrame, indexPath: String, m: Int = 4,
      ksub: Int = 8, dims: Int = 64): Unit = {
    val books = spark.read.parquet(s"$indexPath/books")
    val c = broadcast(spark.read.parquet(s"$indexPath/coarse")
      .select(col("cid"), col("c_emb"), norm(col("c_emb")).as("c_nrm")))
    val subs = pqSubs(newVectors, m, dims).persist()
    try {
      val assigned = pick1(newVectors.repartition(par(newVectors))
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
        .crossJoin(c)
        .withColumn("__d",
          cosPre(col("embedding"), col("c_emb"), col("nrm"), col("c_nrm"))),
        Seq("vec_id"), Nil, maximize = true)
        .select(col("vec_id"), col("cid"))
      pqEncodeOnSubs(subs, books).join(assigned, Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("codes"))
        .write.mode("append").partitionBy("cid")
        .parquet(s"$indexPath/codes")
    } finally subs.unpersist(blocking = false)
  }

  /** Embedding-cosine near-duplicate pairs: SRP-bucket the corpus
    * (`bits` sign bits → 2^bits buckets), self-join within buckets
    * only, verify with exact cosine ≥ `threshold`. The bucket join is
    * the ONLY shuffle and carries (id, embedding, norm) — candidate
    * volume is Σ bucket² instead of corpus², which is what makes a
    * cosine-threshold dedup feasible at 100 TB (recall follows the SRP
    * collision curve: P[same bucket] = (1 − θ/π)^bits for angle θ —
    * raise recall with fewer bits or multi-probe, tighten candidates
    * with more bits). Fully deterministic (md5-derived planes, fixed
    * fold order) → DuckDB-oracle-checkable. */
  def nearDupPairs(vectors: DataFrame, idCol: String, embCol: String,
      threshold: Double, bits: Int = 8): DataFrame = {
    // no repartition floor: see [[bucketIndex]] — bucketing is cheaper
    // than the exchange it would take to parallelize it, and the
    // bucket join shuffles both sides on the bucket key anyway
    val c = bucketIndex(vectors, idCol, embCol, bits)
    c.select(col("bucket"), col("id").as("id_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"))
      .join(c.select(col("bucket"), col("id").as("id_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosPre(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Semantic eval-set contamination screen — the embedding twin of
    * the n-gram [[graft.llm.TextAnalysis.contaminatedDocs]] family:
    * training vectors whose cosine to ANY eval vector clears
    * `threshold` are the paraphrased leakage an exact/n-gram
    * decontamination pass cannot see (reworded eval questions share
    * no 4-grams but sit next to the original in embedding space).
    * Emits every (train_id, eval_id, cos) above the threshold so the
    * caller can drop, down-weight, or audit.
    *
    * Scale shape: ASYMMETRIC [[nearDupPairs]] — the train side is
    * SRP-bucketed in one narrow pass (the only data-sized work); the
    * eval side is eval-benchmark-sized by contract (thousands, not
    * billions), so its bucketed form BROADCASTS and the probe is a
    * map-side hash join on the bucket key: no shuffle of the train
    * corpus at all, candidates follow the SRP collision curve. */
  def evalContamination(train: DataFrame, evalSet: DataFrame,
      idCol: String, embCol: String, threshold: Double,
      bits: Int = 8): DataFrame = {
    val tr = bucketIndex(train, idCol, embCol, bits)
    val ev = bucketIndex(evalSet, idCol, embCol, bits)
    tr.select(col("bucket"), col("id").as("train_id"),
        col("emb").as("emb_t"), col("nrm").as("nrm_t"))
      .join(broadcast(ev.select(col("bucket"), col("id").as("eval_id"),
        col("emb").as("emb_e"), col("nrm").as("nrm_e"))), Seq("bucket"))
      .select(col("train_id"), col("eval_id"),
        cosPre(col("emb_t"), col("emb_e"), col("nrm_t"), col("nrm_e"))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SRP bucket-index table for INCREMENTAL embedding dedup:
    * (id, emb, nrm, bucket) per vector — the artifact a production
    * pipeline persists (parquet, partitioned by `bucket` so a batch
    * probe reads only its colliding bucket directories), symmetric
    * with [[Dedup.signatureTable]] on the MinHash side. Norms and
    * buckets are computed ONCE at index-build time; every later batch
    * reuses them instead of re-projecting the whole corpus. */
  def bucketIndex(vectors: DataFrame, idCol: String, embCol: String,
      bits: Int = 8): DataFrame =
    // no parallelism floor here (unlike the md5-digest text ops):
    // SRP bucketing is ~bits×dims flops per row — cheaper than
    // shuffling the embedding itself — so an extra exchange would
    // cost more than it parallelizes, and the downstream bucket join
    // repartitions anyway
    vectors.select(col(idCol).as("id"), col(embCol).as("emb"),
      norm(col(embCol)).as("nrm"), srpBucket(col(embCol), bits).as("bucket"))

  /** Incremental embedding near-dup pairs: verified pairs involving at
    * least one NEW vector — new×existing and new×new, never
    * existing×existing (that work was done when those vectors
    * arrived). The batch side is bucketed with the SAME deterministic
    * SRP planes as the stored index, so per batch the bucket join
    * probes only the new vectors' buckets: cost scales with BATCH size
    * against index size, not corpus². Pair orientation follows the
    * min-id keeper convention (id_a < id_b), so survivors compose
    * across batches — same contract as [[Dedup.incrementalLshPairs]].
    * `existingIdx` is a [[bucketIndex]] frame (or its parquet
    * read-back); with a bucket-partitioned layout the probe join
    * prunes to the batch's bucket directories. */
  def incrementalNearDupPairs(newVecs: DataFrame, existingIdx: DataFrame,
      idCol: String, embCol: String, threshold: Double,
      bits: Int = 8): DataFrame = {
    val newIdx = bucketIndex(newVecs, idCol, embCol, bits)
    def side(df: DataFrame, s: String) = df.select(col("bucket"),
      col("id").as(s"id_$s"), col("emb").as(s"emb_$s"), col("nrm").as(s"nrm_$s"))
    def verify(pairs: DataFrame) = pairs.select(col("id_a"), col("id_b"),
        cosPre(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") >= threshold)
    // REPLAY SAFETY: a retried/backfilled batch may already be in the
    // stored index; without this anti-join those ids would self-pair
    // (id, id, cos=1 — a min-id survivors pass would then drop the doc
    // as a duplicate of itself) and batch∩index pairs would emit
    // multiple times. Excluding batch ids from the index side makes a
    // replay behave exactly like the first ingest of that batch. The
    // batch id set is broadcast (a micro-batch is small by
    // construction), so the index scan itself is untouched.
    val existingOnly = existingIdx.join(
      org.apache.spark.sql.functions.broadcast(newIdx.select(col("id"))),
      Seq("id"), "left_anti")
    // TWO joins, not one join against (existing ∪ new): each pair is
    // emitted exactly once by construction (new×old probes the index
    // once; new×new is a strict-inequality self-join), so no
    // double-emit dedup pass is needed — and the stored index scan
    // sits DIRECTLY on a join side keyed by its partition column, the
    // canonical dynamic-partition-pruning shape (a scan reached
    // through a union defeats DPP, and Spark's runtime can even fail
    // the unprepared pruning subquery — LlmSpec's parquet round-trip
    // pins this).
    val crossBatch = verify(side(newIdx, "x").join(side(existingOnly, "y"), Seq("bucket"))
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        when(col("id_x") < col("id_y"), col("emb_x")).otherwise(col("emb_y")).as("emb_a"),
        when(col("id_x") < col("id_y"), col("emb_y")).otherwise(col("emb_x")).as("emb_b"),
        when(col("id_x") < col("id_y"), col("nrm_x")).otherwise(col("nrm_y")).as("nrm_a"),
        when(col("id_x") < col("id_y"), col("nrm_y")).otherwise(col("nrm_x")).as("nrm_b")))
    val withinBatch = verify(side(newIdx, "a").join(side(newIdx, "b"), Seq("bucket"))
      .filter(col("id_a") < col("id_b")))
    crossBatch.unionAll(withinBatch)
  }

  /** Survivors after embedding-cosine dedup: greedy min-id keeper over
    * [[nearDupPairs]] (same contract as Dedup.lshSurvivors). */
  def nearDupSurvivors(vectors: DataFrame, idCol: String, embCol: String,
      threshold: Double, bits: Int = 8): DataFrame = {
    val dead = nearDupPairs(vectors, idCol, embCol, threshold, bits)
      .select(col("id_b").as("drop_id")).distinct()
    vectors.join(dead, vectors(idCol) === dead("drop_id"), "left_anti")
      .select(col(idCol))
  }

  /** ANN top-k: candidates restricted to the query's SRP bucket, then
    * exact cosine rescoring within the bucket. Recall < 1 by design;
    * pair with multi-probe (flip one bit) if recall matters more than
    * throughput. */
  /** Multi-probe SRP ANN: each query probes its own bucket PLUS every
    * one-bit-flipped neighbor bucket (the bits most likely to be on
    * the wrong side of a hyperplane for near-boundary vectors) —
    * recall rises toward brute force at (bits+1)× candidate volume,
    * with zero extra index state. Buckets are disjoint, so a corpus
    * vector meets a query at most once — no dedup join needed. */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 8): DataFrame = {
    val qb = srpBucket(col("embedding"), bits)
    val probes = array(qb +: (0 until bits).map(p =>
      qb.bitwiseXOR(lit(1L << p))): _*)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm"),
      explode(probes).as("bucket")))
    val c = corpus.repartition(par(corpus))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("c_nrm"),
        srpBucket(col("embedding"), bits).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPre(col("q_emb"), col("embedding"), col("q_nrm"), col("c_nrm")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 8): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm"),
      srpBucket(col("embedding"), bits).as("bucket")))
    val c = corpus.repartition(par(corpus))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("c_nrm"),
        srpBucket(col("embedding"), bits).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPre(col("q_emb"), col("embedding"), col("q_nrm"), col("c_nrm")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Per-dimension (min, max) over the corpus — the stats pass of
    * scalar quantization. posexplode → hash aggregate: partial
    * (map-side) aggregation collapses every partition to `dim` rows
    * before the exchange, so the shuffle is partitions×dim rows no
    * matter how many vectors the corpus holds. */
  def dimStats(corpus: DataFrame, embCol: String): DataFrame =
    corpus.select(posexplode(col(embCol)).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))

  /** Scalar int8 quantization of an embedding column (the storage tier
    * below PQ: 4× smaller than float32 with per-dimension affine
    * codes; what vector stores call SQ8). Each dimension maps
    * [mn_d, mx_d] affinely onto [-127, 127]; a flat dimension
    * (mn = mx) codes to 0. Emits the codes plus `max_abs_err`, the
    * row's worst-dimension reconstruction error — max, not mean, so
    * the parity gate never depends on a float summation order.
    *
    * Scale shape: stats pass ([[dimStats]]) shuffles partitions×dim
    * rows; the quantize pass is a narrow map under a broadcast of one
    * dim-sized stats row. Codes are exact integers (round of an exact
    * double ratio), so q142 hash-pins them plus the error doubles. */
  def int8Quantize(corpus: DataFrame, idCol: String, embCol: String): DataFrame = {
    val stats = dimStats(corpus, embCol)
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx"))))
        .as("s"))
      .select(transform(col("s"), e => e.getField("mn")).as("__mn"),
        transform(col("s"), e => e.getField("mx")).as("__mx"))
    def mnAt(i: Column) = element_at(col("__mn"), i + 1).cast("double")
    def mxAt(i: Column) = element_at(col("__mx"), i + 1).cast("double")
    val codes = transform(col(embCol), (x, i) =>
      when(mxAt(i) === mnAt(i), lit(0)).otherwise(
        (round((x.cast("double") - mnAt(i)) * lit(254.0)
          / (mxAt(i) - mnAt(i)))).cast("int") - lit(127)))
    corpus.crossJoin(broadcast(stats))
      .withColumn("codes", codes)
      .withColumn("__err", transform(col("codes"), (c, i) =>
        abs(mnAt(i) + (c.cast("double") + lit(127.0)) * (mxAt(i) - mnAt(i))
          / lit(254.0) - element_at(col(embCol), i + 1).cast("double"))))
      .select(col(idCol), col("codes"),
        array_max(col("__err")).as("max_abs_err"))
  }

  /** k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal, the greedy 2-approximation): pick k points that
    * maximize the minimum pairwise distance — the diversity-driven
    * data-selection pass (coreset seeding, eval-set picking, cluster
    * init) that complements SemDeDup's redundancy REMOVAL with
    * coverage-preserving SELECTION. Seed = the minimum `vec_id` (no
    * RNG ships anywhere); each next pick is the point farthest (squared
    * L2, tie → lower id) from everything picked so far.
    *
    * Scale shape: the corpus is prepped ONCE ((id, emb, |x|²),
    * persisted); each of the k−1 rounds is a narrow `least` update
    * against the single broadcast-as-literal new center plus a
    * TakeOrdered(1) argmax (partial per-partition top-1, k−1 one-row
    * driver collects total — bounded, never a corpus collect). Each
    * round persists and drops its predecessor (prep itself is dropped
    * once round 1 materializes), so executor storage holds one live
    * corpus-sized frame plus the one being built; every
    * `truncateEvery` rounds the plan is cut at the cached frame
    * (persist caches data but not lineage), keeping large-k selection
    * linear instead of O(k²) in analysis and bounding the recompute
    * chain behind an evicted cache. k rounds of sequential driver
    * scheduling is inherent to
    * the greedy (each pick depends on the last) — at 100 TB the knob
    * is k, not the corpus.
    *
    * Determinism: distances are |x|² + |c|² − 2·x·c over the native
    * [[dot]] (ascending-dim left fold, floats widened to double), the
    * exact expression the DuckDB oracle replays round-for-round
    * (q169), so every selection — including FP-tie breaks — hashes
    * cross-engine. Returns (sel_rank, vec_id, min_dist) in selection
    * order; the seed's min_dist is NULL. */
  def kCenterCoreset(corpus: DataFrame, k: Int = 8,
      truncateEvery: Int = 64): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(truncateEvery >= 1, s"truncateEvery must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    val prep = corpus.repartition(par(corpus))
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("xx"))
      .persist()
    val picked = scala.collection.mutable.ListBuffer
      .empty[(Long, Long, Option[Double])]
    var live: Option[DataFrame] = None
    try {
      val seed = prep.orderBy(col("vec_id")).limit(1).collect()(0)
      picked += ((1L, seed.getLong(0), None))
      def centerLit(r: org.apache.spark.sql.Row): Column =
        // element-type-agnostic (float OR double corpora, like [[dot]]);
        // float→double widening is exact, so the literal is the same
        // value the executor-side fold would produce. A null ELEMENT in
        // a selected center can only mean the seed row is malformed
        // (null-element rows have null ‖x‖²/dmin, so the argmax never
        // picks them) — fail with the contract, not a MatchError.
        array(r.getSeq[Any](1).map {
          case f: Float => lit(f.toDouble)
          case d: Double => lit(d)
          case other => throw new IllegalArgumentException(
            s"kCenterCoreset: embedding elements must be float/double " +
              s"and non-null, got $other for vec_id ${r.getLong(0)}")
        }: _*)
      def dTo(r: org.apache.spark.sql.Row): Column =
        col("xx") + lit(r.getDouble(2)) -
          lit(2.0) * dot(col("embedding"), centerLit(r))
      var cur = prep.filter(col("vec_id") =!= seed.getLong(0))
        .withColumn("dmin", dTo(seed))
      var r = 2
      var exhausted = false // k > corpus size: stop at corpus size
      while (r <= k && !exhausted) {
        val c = cur.persist()
        // null-dmin rows (null embedding elements) are unpickable by
        // contract — the desc-nulls-last sort alone would still hand
        // one back when ONLY null rows remain, and the getDouble
        // below would NPE; filtering makes that case plain exhaustion
        val rows = c.filter(col("dmin").isNotNull)
          .orderBy(col("dmin").desc, col("vec_id")).limit(1)
          .collect()
        // prep's cache is dead once round 1 has materialized into c —
        // dropping it here keeps peak executor storage at one live
        // corpus-sized frame (+ the one being built), not three
        if (r == 2) prep.unpersist(blocking = false)
        live.foreach(_.unpersist(blocking = false))
        live = Some(c)
        if (rows.isEmpty) exhausted = true
        else {
          val top = rows(0)
          picked += ((r.toLong, top.getLong(0), Some(top.getDouble(3))))
          // persist() caches data but does NOT truncate lineage: by
          // round r the plan is O(r) nodes deep, so analysis across
          // the loop is O(k²) and an evicted cache recomputes the
          // whole least()-chain from the scan. Every `truncateEvery`
          // rounds, cut the plan at the cached frame (the
          // kmeansOnPrep/Bpe.train discipline) — large-k selection
          // (coreset sizes in the thousands) stays linear. Values are
          // untouched: localCheckpoint writes the exact rows.
          val base =
            if ((r - 1) % truncateEvery == 0) c.localCheckpoint(true) else c
          cur = base.filter(col("vec_id") =!= top.getLong(0))
            .withColumn("dmin", least(col("dmin"), dTo(top)))
        }
        r += 1
      }
    } finally {
      live.foreach(_.unpersist(blocking = false))
      prep.unpersist(blocking = false)
    }
    picked.toSeq.toDF("sel_rank", "vec_id", "min_dist")
  }

  /** Pairwise cosine between per-group embedding centroids — the
    * domain-similarity matrix a mixture designer reads before setting
    * sampling weights (two sources whose centroid directions nearly
    * coincide are redundant; an outlier direction is a coverage gap).
    * The cosine of the SUM vectors equals the cosine of the means —
    * the 1/n scalings cancel — so no division touches the aggregate.
    *
    * Scale shape: one posexplode + (group, dim)-keyed exact decimal
    * sum (map-side combined; shuffle ≤ |groups|·dims rows), then the
    * |groups|²-pair fold runs on a frame of |groups| rows — broadcast
    * territory no matter the corpus size. Determinism: per-dim sums
    * are exact DECIMAL(30,12) (the q167/Pca dsum discipline), cast to
    * double once; the pair fold is the ascending-dim native
    * [[dot]]. */
  def groupCentroidCosine(vectors: DataFrame, groupCol: String,
      embedCol: String = "embedding", dims: Int = 64): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    val sums = vectors
      .select(col(groupCol).as("grp"),
        posexplode(slice(col(embedCol), 1, dims)).as(Seq("dim", "v")))
      .groupBy("grp", "dim")
      .agg(sum(col("v").cast("double")
        .cast(org.apache.spark.sql.types.DecimalType(30, 12))).as("s"))
    val cent = sums.groupBy("grp")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("s")))),
        e => e.getField("s").cast("double")).as("cvec"))
    val a = cent.select(col("grp").as("grp_a"), col("cvec").as("va"))
    val b = cent.select(col("grp").as("grp_b"), col("cvec").as("vb"))
    a.join(b, col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        (dot(col("va"), col("vb")) /
          (norm(col("va")) * norm(col("vb")))).as("cosine"))
  }

  /** Within-group embedding dispersion via the sum-vector identity:
    * over unit-normalized vectors, Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖Σv̂‖² − n, so the
    * MEAN PAIRWISE COSINE of a group is (‖Σv̂‖² − n)/(n(n−1)) — an
    * O(n·dims) aggregate instead of the O(n²) pair join. The
    * mixture-owner's diversity readout per source/label: a collapsed
    * or templated slice shows mean cosine near 1 (every doc is the
    * same doc semantically), a healthy one sits low; the centroid
    * norm ‖μ‖ is the same signal in isotropy units (1 = all vectors
    * identical, → 0 = perfectly spread). Complements
    * [[groupCentroidCosine]] (BETWEEN-group similarity) with the
    * WITHIN-group spread.
    *
    * Determinism: per-row normalization is the native dot kernel's
    * fixed-order IEEE fold; each û_d goes through DECIMAL(30,12)
    * before the (group, dim) sum (shuffle-order-free), and the final
    * dims-sized square fold re-enters exact decimal — so the three
    * output doubles hash cross-engine. Singleton groups emit null
    * mean_cos (no pairs). A ZERO-NORM vector has no direction — it
    * would count in n while contributing nothing to Σv̂, silently
    * violating the identity — so it raises (the kCenterCoreset
    * malformed-embedding contract). Null embedding elements silently
    * drop from the sums (the secondMoment caveat) — guard upstream
    * if ragged.
    *
    * Scale shape: ONE (group, dim)-keyed map-side-combined aggregate
    * (shuffle ≤ partitions·|groups|·dims rows); everything after runs
    * on |groups|·dims rows. */
  def groupDispersion(vectors: DataFrame, groupCol: String,
      embedCol: String = "embedding", dims: Int = 64): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val sums = vectors
      .select(col(groupCol).as("grp"),
        norm(slice(col(embedCol), 1, dims)).as("__nrm"),
        posexplode(slice(col(embedCol), 1, dims)).as(Seq("dim", "v")))
      .select(col("grp"),
        (col("v").cast("double") /
          when(col("__nrm") === 0.0,
            raise_error(concat(lit("groupDispersion: zero-norm embedding in group "),
              col("grp").cast("string"))).cast("double"))
            .otherwise(col("__nrm"))).as("__u"), col("dim"))
      .groupBy("grp", "dim")
      .agg(sum(col("__u").cast(dec)).as("sd"),
        count(lit(1)).as("cnt"))
    val g = sums.groupBy("grp")
      .agg(sum((col("sd").cast("double") * col("sd").cast("double"))
          .cast(dec)).cast("double").as("__ssq"),
        max(col("cnt")).as("n_vecs"))
    val nD = col("n_vecs").cast("double")
    g.select(col("grp").as(groupCol), col("n_vecs"),
      (sqrt(col("__ssq")) / nD).as("centroid_norm"),
      when(col("n_vecs") >= 2,
        (col("__ssq") - nD) / (nD * (nD - lit(1.0)))).as("mean_cos"))
  }

  /** Per-dimension z-score standardization of an embedding column —
    * the whitening-lite isotropy prep (each dimension centered on its
    * corpus mean and scaled to unit variance) that sits beside
    * all-but-the-top in the embedding-conditioning toolbox: rogue
    * high-variance dimensions stop dominating distances, and
    * downstream quantizers (SQ8/PQ) see comparable per-dim ranges.
    * Constant dimensions (σ = 0) standardize to 0.
    *
    * Scale shape: the stats pass is a (dim)-keyed exact-decimal
    * aggregate (map-side combined; shuffle ≤ partitions·dims rows),
    * collapsed to ONE dims-wide stats row that broadcasts onto the
    * narrow apply map — the int8Quantize shape. Determinism: Σx and
    * Σx² are exact DECIMAL(30,12) sums cast to double once; μ, σ and
    * every z are fixed-shape IEEE expressions of those two doubles,
    * so the output hashes cross-engine (variance is clamped at 0
    * before the sqrt — fp cancellation on a constant dim can land
    * epsilon-negative). */
  def standardizeDims(corpus: DataFrame, idCol: String,
      embCol: String = "embedding", dims: Int = 64): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    // ragged corpus = silently different populations per dim (half
    // the dims averaged over N rows, half over N-1) — raise instead
    // (the Pca.secondMoment contract from the same advice item). The
    // guard lives INSIDE the consumed __v expression (an unused
    // assert column would be pruned by Catalyst) and posexplode_outer
    // keeps even zero-length arrays visible to it.
    val sums = corpus
      .select(size(col(embCol)).as("__sz"),
        posexplode_outer(slice(col(embCol), 1, dims)).as(Seq("__d", "__v")))
      // a NULL embedding column keeps its documented silent-drop;
      // empty ARRAYS (size 0, still __sz-visible) reach the raise
      .filter(col("__sz").isNotNull)
      .select(col("__d"),
        when(col("__sz") < dims,
          raise_error(concat(lit("standardizeDims: embedding has "),
            col("__sz").cast("string"), lit(s" elements, need >= $dims")))
            .cast("double"))
          .otherwise(col("__v").cast("double")).as("__v"))
      .groupBy("__d")
      .agg(sum(col("__v").cast(dec)).cast("double").as("__sx"),
        sum((col("__v") * col("__v")).cast(dec)).cast("double").as("__sxx"),
        count(lit(1)).cast("double").as("__n"))
    val stats = sums
      .agg(array_sort(collect_list(struct(col("__d"), col("__sx"),
        col("__sxx"), col("__n")))).as("__s"))
      .select(
        transform(col("__s"), e =>
          e.getField("__sx") / e.getField("__n")).as("__mu"),
        transform(col("__s"), e => sqrt(greatest(
          e.getField("__sxx") / e.getField("__n")
            - (e.getField("__sx") / e.getField("__n"))
            * (e.getField("__sx") / e.getField("__n")),
          lit(0.0)))).as("__sd"))
    def muAt(i: Column) = element_at(col("__mu"), i + 1)
    def sdAt(i: Column) = element_at(col("__sd"), i + 1)
    corpus.crossJoin(broadcast(stats))
      .select(col(idCol),
        transform(slice(col(embCol), 1, dims), (v, i) =>
          when(sdAt(i) === lit(0.0), lit(0.0))
            .otherwise((v.cast("double") - muAt(i)) / sdAt(i))).as("z"))
  }

  /** Matryoshka truncation quality: recall@k of brute-force cosine
    * top-k computed on only the FIRST `truncDims` dimensions against
    * the full-width top-k — the readout that decides how far an
    * MRL-style embedding can be truncated (2-4× ANN-index shrink)
    * before retrieval quality pays (Kusupati et al., *Matryoshka
    * Representation Learning*). Run it on a sampled query set per
    * candidate width; the knee of the recall curve is the serving
    * width.
    *
    * Scale shape: two [[bruteForceTopK]] passes (broadcast queries ×
    * corpus scan — the exact-baseline shape; swap in the IVF variant
    * for production widths) whose k·|queries|-row outputs join on
    * (query, neighbor) — bounded by the sample, never the corpus.
    * Determinism: both rankings use the (cos desc, vec_id) total
    * order, so recall counts are exact integers; `recall` is one IEEE
    * division. */
  def truncatedRecall(queries: DataFrame, corpus: DataFrame, k: Int,
      truncDims: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(truncDims >= 1, s"truncDims must be positive, got $truncDims")
    def truncate(df: DataFrame): DataFrame =
      df.withColumn("embedding", slice(col("embedding"), 1, truncDims))
    val full = bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("vec_id"))
    val trunc = bruteForceTopK(truncate(queries), truncate(corpus), k)
      .select(col("query_id"), col("vec_id"))
    // both rankings are ≤ k·|queries| rows — broadcast, never sort-merge
    val overlap = full.join(broadcast(trunc), Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).cast("long").as("n_overlap"))
    queries.select(col("vec_id").as("query_id"))
      // ≤ |queries| rows by construction — broadcast beats the SMJ the
      // static planner picks for a stats-free aggregate side
      .join(broadcast(overlap), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("recall"))
  }

  /** 60-bit sign code for binary quantization: bit i set ⇔
    * embedding[i+1] > 0 (the first 60 dims — BIGINT-safe on every
    * engine, the repo's 60-bit convention). One HOF fold per ROW
    * (not per pair — pairs compare codes with xor+popcount). */
  def binarySignCode(emb: Column, bits: Int = 60): Column = {
    require(bits >= 1 && bits <= 60, s"bits must be in [1,60], got $bits")
    aggregate(sequence(lit(0), lit(bits - 1)), lit(0L),
      (acc, i) => acc + when(element_at(emb, i + 1) > 0f,
        pow(lit(2.0), i).cast("long")).otherwise(lit(0L)))
  }

  /** Binary-quantization retrieval quality: recall@k of HAMMING
    * ranking over 1-bit sign codes against exact cosine top-k — the
    * readout that decides whether a serving index can drop to
    * 1 bit/dim (32× smaller than float32, xor+popcount distance; the
    * aggressive end of the quantization ladder after [[pqTopK]] and
    * [[int8QuantStats]], and what vector stores ship as "BQ"). Run
    * on a query sample per corpus snapshot; BQ serves when recall@k
    * at rerank-depth k holds.
    *
    * Scale shape: codes are a per-row fold riding the scan (8 bytes
    * per vector — the index that fits in memory at any corpus size);
    * the hamming ranking broadcasts the |queries|-row code table and
    * scores with one xor+popcount per (query, vector); both top-k
    * frames join on (query, neighbor) — k·|queries| rows.
    * Determinism: hamming is an exact integer; both rankings break
    * ties by (distance, vec_id). */
  def binaryQuantRecall(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 60): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      binarySignCode(col("embedding"), bits).as("q_code")))
    val c = corpus.repartition(par(corpus))
      .select(col("vec_id"), binarySignCode(col("embedding"), bits).as("code"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
    val bq = c.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("code").bitwiseXOR(col("q_code"))).cast("long")
          .as("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
    val exact = bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("vec_id"))
    val overlap = exact.join(broadcast(bq), Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).cast("long").as("n_overlap"))
    queries.select(col("vec_id").as("query_id"))
      .join(broadcast(overlap), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("recall"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR'09):
    * combine two rankings of the same id space per query by
    * score(id) = Σ_r 1/(k0 + rank_r(id)) — THE standard hybrid-
    * retrieval combiner (lexical BM25 + dense ANN) because it needs
    * no score normalization across heterogeneous scorers, only
    * ranks, and k0 ≈ 60 damps the head so one list's top hit can't
    * drown the other's consensus. Ids present in only one list
    * contribute that one term (the SQL coalesce-0 convention).
    * Output per query: the fused top-k with both source ranks kept
    * nullable for debuggability.
    *
    * Scale shape: both inputs are ALREADY top-k frames (|queries|·k
    * rows — the retrieval operators did the data-sized work), so the
    * fuse is a keyed outer join + one per-query window on a
    * candidate set of ≤ 2k rows. Determinism: each term is one IEEE
    * division of exact integers, summed in fixed (a, b) order. */
  def rrfFuse(a: DataFrame, b: DataFrame, queryCol: String = "query_id",
      idCol: String = "id", rankCol: String = "rank", k0: Int = 60,
      topK: Int = 10): DataFrame = {
    require(k0 >= 1 && topK >= 1, s"bad rrf params k0=$k0 topK=$topK")
    val fa = a.select(col(queryCol), col(idCol),
      col(rankCol).cast("long").as("rank_a"))
    val fb = b.select(col(queryCol), col(idCol),
      col(rankCol).cast("long").as("rank_b"))
    def term(r: Column): Column =
      coalesce(lit(1.0) / (lit(k0.toDouble) + r.cast("double")), lit(0.0))
    val fused = fa.join(fb, Seq(queryCol, idCol), "full_outer")
      .withColumn("rrf_score", term(col("rank_a")) + term(col("rank_b")))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(queryCol), col("rank"), col(idCol), col("rrf_score"),
        col("rank_a"), col("rank_b"))
  }

  /** ONE-CALL hybrid retrieval over the full serving stack: BM25
    * lexical top-k over the document table
    * ([[graft.llm.TextAnalysis.bm25TopK]]) fused by [[rrfFuse]] with
    * dense ANN top-k probed from a PERSISTED IVF index
    * ([[ivfTopKIndexed]]) — the end-to-end request path of a hybrid
    * retrieval service (build the index offline with
    * [[buildIvfIndex]], serve queries online with this). q251 gates
    * the fusion over pre-cut candidate lists; this is the whole
    * stack in one call, gated end-to-end (q257).
    *
    * `queries` carries (query_id, query_text); `queryVecs` carries
    * (vec_id, embedding) over the SAME id space (a production caller
    * passes each request's text plus its embedding).
    *
    * Scale shape: each leg keeps its own 100 TB contract — BM25 is a
    * broadcast query-term semi-join over postings with a per-query
    * top-k window (shuffle = matching postings only); the IVF probe
    * broadcasts centroids and scans the `nprobe` probed list
    * directories only. The fuse adds one (query, id) full-outer join
    * on two k-row-per-query frames and one query-partitioned top-k
    * window — request-sized, never corpus-sized. */
  def hybridSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryVecs: DataFrame, k: Int = 10,
      nprobe: Int = 2, k0: Int = 60): DataFrame = {
    val lex = graft.llm.TextAnalysis.bm25TopK(docs, queries, idCol,
        textCol, k)
      .select(col("query_id"), col("doc_id").as("id"), col("rank"))
    val den = ivfTopKIndexed(spark, indexPath, queryVecs, k, nprobe)
      .select(col("query_id"), col("vec_id").as("id"), col("rank"))
    rrfFuse(lex, den, k0 = k0, topK = k)
  }

  /** Quantized-serving top-k: exact cosine ranking over the INT8
    * CODES ([[graft.functions.Int8Codes]], the FAISS-SQ8 scheme whose
    * round-trip error q241 reads out) — what an int8-quantized index
    * actually serves: 4× smaller vectors, integer dot products. The
    * quantized cosine is EXACT in IEEE (|q_i·q_j| ≤ 127², partials
    * are integers well inside 2⁵³, norms are sqrt of exact integers),
    * so unlike float-sum ANN this ranking hash-gates directly against
    * the DuckDB replay with no decimal laundering (q261). Compare
    * with [[bruteForceTopK]] (float baseline) via [[rankingQuality]]
    * to read the quantization's ranking cost.
    *
    * Scale shape: [[bruteForceTopK]]'s — queries broadcast, codes
    * ride the scan through the native kernel (per-row, codegen), one
    * per-query window top-k. The scale path composes the same way IVF
    * does for floats: quantize within probed lists only. */
  def int8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      dims: Int = 64): DataFrame = {
    def codes(df: DataFrame): DataFrame = df.select(col("vec_id"),
      graft.functions.Int8Codes.column(col("embedding"), dims).as("q8"))
    val q = broadcast(codes(queries)
      .select(col("vec_id").as("query_id"), col("q8").as("qc"))
      .withColumn("q_nrm", norm(col("qc"))))
    val c = codes(corpus.repartition(par(corpus)))
      .withColumn("c_nrm", norm(col("q8")))
    val scored = c.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPre(col("qc"), col("q8"), col("q_nrm"), col("c_nrm")).as("cos_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_q"))
  }

  /** Ranking-quality evaluation of a candidate ranking against a
    * ground-truth relevant set (binary gains) — the standard ANN /
    * retrieval acceptance readout BESIDE set-overlap recall (q254):
    * recall says how much of the truth the index returns at all,
    * these say where it puts it. Per query: hits@k, MRR (1/rank of
    * the first relevant result, 0 when none lands), DCG@k with
    * binary gains (Σ_rel 1/log₂(rank+1)), the ideal DCG@k
    * (Σ_{i≤min(k,|rel|)} 1/log₂(i+1)), and nDCG@k = DCG/IDCG
    * (Järvelin & Kekäläinen 2002).
    *
    * Determinism: every discount term is ln(x)/ln(2) — the SAME
    * expression the DuckDB oracle evaluates — and both DCG sums fold
    * through DECIMAL(30,12) fixed-point (the dsum discipline), so
    * partial-aggregation order cannot drift the gate hash.
    *
    * Scale shape: one (query, id) equi-join of two ≤k-row-per-query
    * frames, one query-keyed aggregate, and an ideal-DCG spine of
    * ≤ k exploded rows per query — request-sized, never
    * corpus-sized. */
  def rankingQuality(ranking: DataFrame, truth: DataFrame, k: Int,
      queryCol: String = "query_id", idCol: String = "vec_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    def discount(r: Column): Column =
      lit(1.0) / (log(r.cast("double") + lit(1.0)) / log(lit(2.0)))
    val r = ranking.select(col(queryCol).as("__q"), col(idCol).as("__id"),
        col(rankCol).cast("long").as("__r"))
      .filter(col("__r") <= k)
    val rel = truth.select(col(queryCol).as("__q"), col(idCol).as("__id"))
      .distinct().withColumn("__rel", lit(1L))
    val perQ = r.join(rel, Seq("__q", "__id"), "left")
      .groupBy(col("__q"))
      .agg(count(lit(1)).cast("long").as("n_ranked"),
        sum(coalesce(col("__rel"), lit(0L))).cast("long").as("hits"),
        min(when(col("__rel") === 1L, col("__r"))).as("__fr"),
        sum(when(col("__rel") === 1L, discount(col("__r")))
          .otherwise(lit(0.0)).cast(dec)).cast("double").as("dcg"))
    val ideal = rel.groupBy(col("__q"))
      .agg(count(lit(1)).as("__nrel"))
      .select(col("__q"), explode(sequence(lit(1L),
        least(col("__nrel"), lit(k.toLong)))).as("__i"))
      .groupBy(col("__q"))
      .agg(sum(discount(col("__i")).cast(dec)).cast("double").as("idcg"))
    perQ.join(ideal, Seq("__q"), "left")
      .select(col("__q").as(queryCol), col("n_ranked"), col("hits"),
        when(col("__fr").isNotNull,
          lit(1.0) / col("__fr").cast("double")).otherwise(lit(0.0))
          .as("mrr"),
        col("dcg"), col("idcg"),
        when(col("idcg") > 0.0, col("dcg") / col("idcg")).as("ndcg"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): greedily re-order each query's top-`poolSize`
    * retrieval pool so consecutive picks balance relevance against
    * redundancy — pick t maximizes
    * λ·rel(c) − (1−λ)·max_{s∈picked} cos(c, s) (the first pick is
    * pure relevance; empty-set max contributes 0, so its score is
    * λ·rel). The de-duplicating re-ranker behind "diverse top-k"
    * retrieval UIs and RAG context packing — rrfFuse merges rankings,
    * this keeps the merged page from showing five near-copies.
    *
    * The greedy recursion runs as k−1 UNROLLED dataframe steps (no
    * driver loop over rows, no UDF): each step is an anti-join
    * (pool minus picked), one (query, candidate)-keyed max over the
    * precomputed pool-pair similarities, and a per-query top-1
    * window. All ties break on vec_id, so the output is fully
    * deterministic and oracle-replayable.
    *
    * Scale shape: two data-sized passes (the brute-force pool scan +
    * one keyed embedding fetch), both materialized ONCE via
    * localCheckpoint; everything after runs on request-sized frames —
    * the pool (nq·poolSize rows), its pairwise-cosine table
    * (nq·poolSize² rows), and the picked set, re-checkpointed per
    * step so plan depth stays linear in k. Queries whose pool is
    * smaller than k simply emit fewer picks. */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      poolSize: Int = 16, lambdaRel: Double = 0.7): DataFrame = {
    require(poolSize >= k, s"poolSize ($poolSize) must be >= k ($k)")
    mmrRerankPool(
      bruteForceTopK(queries, corpus, poolSize)
        .select(col("query_id"), col("vec_id"), col("cos").as("rel")),
      corpus, k, lambdaRel)
  }

  /** [[mmrRerank]] over a CALLER-SUPPLIED retrieval pool
    * (query_id, vec_id, rel) — the form the serving chain actually
    * needs: the pool can come from any retriever (brute cosine, IVF,
    * hybrid RRF), and `rel` is whatever that retriever's score is.
    * `corpus` supplies the embeddings for the pairwise-redundancy
    * term. Same unrolled greedy recursion, same determinism and
    * request-sized scale shape. */
  def mmrRerankPool(pool0: DataFrame, corpus: DataFrame, k: Int,
      lambdaRel: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(lambdaRel > 0.0 && lambdaRel <= 1.0,
      s"lambdaRel must be in (0,1], got $lambdaRel")
    val pool = pool0.select(col("query_id"), col("vec_id"), col("rel"))
      .localCheckpoint(true)
    val emb = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("__nrm"))
    val poolEmb = pool.join(emb, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        col("__nrm"))
    val a = poolEmb.select(col("query_id"), col("vec_id").as("__va"),
      col("embedding").as("__ea"), col("__nrm").as("__na"))
    val b = poolEmb.select(col("query_id"), col("vec_id").as("__vb"),
      col("embedding").as("__eb"), col("__nrm").as("__nb"))
    val pairs = a.join(b, Seq("query_id"))
      .filter(col("__va") =!= col("__vb"))
      .select(col("query_id"), col("__va"), col("__vb"),
        cosPre(col("__ea"), col("__eb"), col("__na"), col("__nb"))
          .as("__sim"))
      .localCheckpoint(true)
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id").asc)
    var selected = pool.withColumn("__rn", row_number().over(wRel))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("vec_id"), col("rel"),
        lit(1L).as("mmr_rank"),
        (lit(lambdaRel) * col("rel")).as("mmr_score"))
    for (t <- 2 to k) {
      val picked = selected.select(col("query_id"), col("vec_id"))
      val remaining = pool.join(picked, Seq("query_id", "vec_id"),
        "left_anti")
      val maxSim = pairs
        .join(picked.withColumnRenamed("vec_id", "__vb"),
          Seq("query_id", "__vb"))
        .groupBy(col("query_id"), col("__va"))
        .agg(max(col("__sim")).as("__ms"))
        .withColumnRenamed("__va", "vec_id")
      val scoredT = remaining.join(maxSim, Seq("query_id", "vec_id"))
        .withColumn("mmr_score", lit(lambdaRel) * col("rel") -
          lit(1.0 - lambdaRel) * col("__ms"))
      val wPick = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr_score").desc, col("vec_id").asc)
      val pick = scoredT.withColumn("__rn", row_number().over(wPick))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("vec_id"), col("rel"),
          lit(t.toLong).as("mmr_rank"), col("mmr_score"))
      selected = selected.unionByName(pick).localCheckpoint(true)
    }
    selected
  }

  /** END-TO-END retrieval evaluation over the full serving stack —
    * the one-call readout a retrieval owner runs after every index
    * rebuild: persisted-IVF dense probe + BM25 lexical top-k fused by
    * RRF ([[hybridSearchIndexed]], the request path), the fused pool
    * diversity-reranked by MMR ([[mmrRerankPool]], the presentation
    * path), and the reranked page scored against a ground-truth
    * relevant set with hits/MRR/nDCG ([[rankingQuality]], the
    * acceptance gate). Chains q257 → q269 → q260 as one call so the
    * measured numbers are of the PIPELINE users actually hit, not of
    * each stage in isolation.
    *
    * Scale shape: each stage keeps its own contract (probed lists +
    * posting-list top-k; request-sized MMR pool; ≤k-row-per-query
    * eval joins) — the chain adds no new data-sized work. */
  def retrievalEvalIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, docs: DataFrame, idCol: String,
      textCol: String, queries: DataFrame, queryVecs: DataFrame,
      corpusEmb: DataFrame, truth: DataFrame, k: Int,
      poolSize: Int = 10, nprobe: Int = 2, lambdaRel: Double = 0.7,
      k0: Int = 60): DataFrame = {
    require(poolSize >= k, s"poolSize ($poolSize) must be >= k ($k)")
    val fused = hybridSearchIndexed(spark, indexPath, docs, idCol,
      textCol, queries, queryVecs, k = poolSize, nprobe = nprobe,
      k0 = k0)
    val pool = fused.select(col("query_id"), col("id").as("vec_id"),
      col("rrf_score").as("rel"))
    val reranked = mmrRerankPool(pool, corpusEmb, k, lambdaRel)
    rankingQuality(
      reranked.withColumnRenamed("mmr_rank", "rank"), truth, k)
  }

  /** Hard + random negative mining for contrastive training pairs
    * (the DPR/SimCSE data recipe): for each anchor in `positives`
    * (query_id, pos_id), emit two disjoint negative channels from the
    * corpus — `hard` = the `kHard` highest-cosine non-positives (the
    * near-misses that actually move a contrastive loss) and `random`
    * = `kRandom` ids drawn by DETERMINISTIC md5 order (seedless,
    * engine-portable, reproducible on any cluster size), excluding
    * the anchor's positives, itself, and the already-chosen hard set.
    * Both channels carry the true cosine so downstream curricula can
    * bucket by difficulty.
    *
    * Scale shape: one corpus scoring pass per channel (broadcast
    * anchors × corpus — the bruteForceTopK shape; swap in the IVF
    * probe for planet-scale corpora — deliberately re-scanned rather
    * than materializing the anchors×corpus scored frame), then a
    * per-anchor window and anchor-keyed anti-joins — nothing
    * corpus². Multiple positives per anchor are excluded as a
    * set. */
  def hardNegatives(positives: DataFrame, corpus: DataFrame,
      kHard: Int = 5, kRandom: Int = 0): DataFrame = {
    require(kHard >= 1, s"kHard must be positive, got $kHard")
    require(kRandom >= 0, s"kRandom must be >= 0, got $kRandom")
    val pos = positives.select(col("query_id"), col("pos_id"))
      .localCheckpoint(true)
    val anchors = pos.select(col("query_id")).distinct()
      .join(corpus, col("query_id") === col("vec_id"))
      .select(col("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
    val scored = corpus
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("c_nrm"))
      .join(broadcast(anchors), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPre(col("q_emb"), col("embedding"), col("q_nrm"),
          col("c_nrm")).as("cos"))
      .join(pos.withColumnRenamed("pos_id", "vec_id"),
        Seq("query_id", "vec_id"), "left_anti")
    val wHard = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val hard = scored.withColumn("neg_rank",
        row_number().over(wHard).cast("long"))
      .filter(col("neg_rank") <= kHard)
      .select(col("query_id"), col("vec_id").as("neg_id"), col("cos"),
        lit("hard").as("kind"), col("neg_rank"))
    if (kRandom == 0) hard.orderBy(col("query_id"), col("neg_rank"))
    else {
      val hardIds = hard.select(col("query_id"),
        col("neg_id").as("vec_id")).localCheckpoint(true)
      val wRand = Window.partitionBy(col("query_id"))
        .orderBy(md5(concat(col("query_id").cast("string"), lit(":"),
          col("vec_id").cast("string"))).asc, col("vec_id").asc)
      val random = scored
        .join(hardIds, Seq("query_id", "vec_id"), "left_anti")
        .withColumn("neg_rank", row_number().over(wRand).cast("long"))
        .filter(col("neg_rank") <= kRandom)
        .select(col("query_id"), col("vec_id").as("neg_id"), col("cos"),
          lit("random").as("kind"), col("neg_rank"))
      hard.unionByName(random)
        .orderBy(col("query_id"), col("kind"), col("neg_rank"))
    }
  }

  /** Prefix rank-biased overlap at depth k (Webber, Moffat & Zobel
    * 2010, "A similarity measure for indefinite rankings"):
    * RBO@k = (1−p) Σ_{d=1..k} p^{d−1}·|A₁..d ∩ B₁..d|/d — the
    * top-weighted ranking agreement beside [[rankingQuality]]'s
    * truth-anchored nDCG: nDCG scores one ranking against relevance,
    * RBO compares two RANKINGS to each other with geometrically
    * decaying depth weight (p ≈ how deep the user reads) — the
    * readout for "did swapping the index change what users see",
    * where plain set overlap ignores order entirely.
    *
    * Determinism: a matched (query, id) pair entering at depth
    * d₀ = max(rank_a, rank_b) contributes Σ_{d=d₀..k} p^{d−1}/d;
    * each term is DECIMAL(30,12)-rounded then summed exactly (the
    * charBigramEntropy rule — absorbs last-ulp `pow` differences
    * between engines), and the (1−p) factor is evaluated as the SAME
    * floating expression on both engines. Queries with zero prefix
    * overlap emit rbo = 0 (never dropped).
    *
    * Scale shape: one (query, id) equi-join of two ≤k-row-per-query
    * prefixes, a ≤k-row explode per matched pair, one query-keyed
    * fold — request-sized. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int,
      p: Double = 0.9, queryCol: String = "query_id",
      idCol: String = "vec_id", rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0,1), got $p")
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    def prefix(df: DataFrame, rn: String): DataFrame =
      df.select(col(queryCol).as("__q"), col(idCol).as("__id"),
        col(rankCol).cast("long").as(rn)).filter(col(rn) <= k)
    val fa = prefix(a, "__ra")
    val fb = prefix(b, "__rb")
    val matched = fa.join(fb, Seq("__q", "__id"))
      .select(col("__q"), greatest(col("__ra"), col("__rb")).as("__d0"))
    val contrib = matched
      .select(col("__q"),
        explode(sequence(col("__d0"), lit(k.toLong))).as("__d"))
      .select(col("__q"),
        (pow(lit(p), col("__d").cast("double") - lit(1.0)) /
          col("__d").cast("double")).cast(dec).as("__term"))
    val perQ = contrib.groupBy(col("__q"))
      .agg(count(lit(1)).cast("long").as("__n"),
        (sum(col("__term")).cast("double") * (lit(1.0) - lit(p)))
          .as("__rbo"))
    val hits = fa.join(fb, Seq("__q", "__id"))
      .groupBy(col("__q")).agg(count(lit(1)).cast("long").as("__hits"))
    fa.select(col("__q")).distinct()
      .join(perQ.select(col("__q"), col("__rbo")), Seq("__q"), "left")
      .join(hits, Seq("__q"), "left")
      .select(col("__q").as(queryCol),
        coalesce(col("__hits"), lit(0L)).as("n_overlap"),
        coalesce(col("__rbo"), lit(0.0)).as("rbo"))
  }

  /** Symmetric per-vector int8 quantization round-trip quality: for
    * each embedding, scale = max |e_i|, q_i = ⌊e_i·127/scale + ½⌋
    * (clamped to ±127 against fp edge cases), dequantized error
    * readouts mse and max-abs — the numbers that decide whether a
    * serving index can store int8 (4× smaller, SIMD-dot-friendly)
    * instead of float32. This is SCALAR quantization, the complement
    * of [[pqTrain]]'s vector quantization: PQ compresses by codebook
    * (lossy in direction), int8 by precision (lossy in magnitude) —
    * production ANN stacks (FAISS `SQ8`) quantize residuals with
    * exactly this scheme.
    *
    * An all-zero vector quantizes to all zeros with scale 0 and zero
    * error (the CASE both engines share).
    *
    * Determinism: scale is an exact max of float-widened doubles;
    * each q_i is one floor of an IEEE expression, identical in
    * DuckDB; mse sums 64 squared errors left-to-right — reorder drift
    * is bounded by dims·ulp·Σerr² ≈ 1e-17, seven orders inside the
    * gate's 1e-9 rounding.
    *
    * Scale shape: a pure per-row map riding the scan — zero shuffle,
    * zero state; at 100 TB this is a column writer, not a job. The
    * arithmetic runs in the native [[graft.functions.Int8Quant]]
    * kernel: the Column-composed formulation re-inlined the scale
    * subtree into ~7 interpreted-HOF use sites per row via projection
    * collapsing (15.96 s at sf0.1 → 0.6 s; same bit-exact values —
    * the kernel's scaladoc carries the argument). */
  def int8QuantStats(vectors: DataFrame, idCol: String,
      embCol: String = "embedding", dims: Int = 64): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    val st = graft.functions.Int8Quant.column(col(embCol), dims)
    vectors.select(col(idCol), st.as("__q"))
      .select(col(idCol), col("__q.scale").as("scale"),
        col("__q.mse").as("mse"),
        col("__q.max_abs_err").as("max_abs_err"))
  }
}
