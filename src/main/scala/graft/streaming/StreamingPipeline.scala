package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ingest.IncrementalPipeline
import graft.sinks.Sinks

/** Structured Streaming re-expression of the reference's cron-driven
  * incremental model (SURVEY.md §2.3): the 15-minute Airflow DAG with a
  * MAX(block) watermark becomes a streaming query whose offsets live in
  * the checkpoint; `Trigger.AvailableNow` reproduces the per-run batch
  * increment, `Trigger.ProcessingTime` the cron cadence; `foreachBatch`
  * carries the side-effecting sinks (append + notify) exactly-once per
  * epoch with an idempotent key.
  */
object StreamingPipeline {

  /** Test seam: invoked at named points inside streaming batch bodies
    * so a spec can kill a query mid-batch (simulated crash between
    * the non-transactional sink writes and the checkpoint commit). */
  @volatile private[graft] var failpoint: String => Unit = _ => ()

  /** Committed (`_SUCCESS`-marked) `epoch=N` partition dirs under an
    * epoch-partitioned sink — a torn partition from a crashed epoch
    * write is not committed data. */
  private[graft] def committedEpochs(spark: SparkSession,
      dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch=") &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.toString)
  }

  /** Read only the committed epochs of an epoch-partitioned sink;
    * torn partitions are invisible. The `epoch` partition column is
    * retained (callers drop it if irrelevant). */
  def readCommitted(spark: SparkSession, dir: String): DataFrame = {
    val dirs = committedEpochs(spark, dir)
    require(dirs.nonEmpty, s"no committed epochs under $dir")
    spark.read.option("basePath", dir).parquet(dirs: _*)
  }

  /** Committed-epoch readers for the corpus-ingest chain's three sinks
    * — THE supported way to consume them. A bare
    * `spark.read.parquet(dir)` over these dirs can surface a torn
    * `epoch=N` from a batch that crashed mid-write (data files landed,
    * no `_SUCCESS`); these readers see committed epochs only, so the
    * torn window between a crash and its replay is invisible
    * downstream. The `epoch` bookkeeping column is dropped. */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame =
    readCommitted(spark, corpusDir).drop("epoch")

  /** Committed packed-sequence shards (see [[readCorpus]]). */
  def readPacked(spark: SparkSession, packDir: String): DataFrame =
    readCommitted(spark, packDir).drop("epoch")

  /** Committed signature-store rows (see [[readCorpus]]) — the same
    * view [[corpusIngestBatch]]'s own dedup consults. */
  def readSignatures(spark: SparkSession, sigDir: String): DataFrame =
    readCommitted(spark, sigDir).drop("epoch")

  /** Per-epoch filter-cascade funnel over the COMMITTED corpus sink —
    * the observability table the streaming chain publishes so a
    * mixture owner can watch residual quality per ingest epoch (which
    * epoch landed repetition-heavy survivors, where the junk floor
    * bites) without re-running the batch cascade. The sink carries no
    * declared-language column, so the lang_match stage is omitted
    * (`langCol = None` — stages all → repetition → quality).
    *
    * Stage predicates are per-document, so these rows are ADDITIVE:
    * summing a stage across epochs reproduces the whole-corpus funnel
    * exactly (spec-asserted) — per-epoch publication loses nothing.
    *
    * Scale shape: one committed-epochs scan, per-doc keyed flag
    * joins, ONE epoch-keyed conditional-sum aggregate (map-side
    * combined) → O(epochs · stages) rows. */
  def epochFunnel(spark: SparkSession, corpusDir: String,
      minDistinctRatio: Double = 0.3,
      maxDigitRuns: Long = 5L): DataFrame =
    graft.llm.TextAnalysis.filterFunnelBy(
      readCommitted(spark, corpusDir), "doc_id", "clean_text",
      langCol = None, groupCols = Seq("epoch"),
      minDistinctRatio = minDistinctRatio, maxDigitRuns = maxDigitRuns)

  /** Per-epoch total-variation distance of each COMMITTED epoch's
    * unigram distribution from the whole committed corpus — the
    * content-mix drift alarm for a long-running ingest: an epoch
    * whose TVD jumps changed what it is feeding the corpus (crawl
    * shift, a source going bad) and needs a quality audit before the
    * next retrain. Same exact-BIGINT fold as
    * [[graft.llm.TextAnalysis.sourceTvd]], keyed on the epoch
    * partition instead of a source column. */
  def epochTvd(spark: SparkSession, corpusDir: String): DataFrame =
    graft.llm.TextAnalysis.sourceTvd(
      readCommitted(spark, corpusDir), "epoch", "clean_text")

  /** Per-epoch Population Stability Index of document length against
    * the EARLIEST committed epoch's deciles — the numeric-feature
    * drift gate beside [[epochTvd]]'s token-level distance: token TVD
    * catches a vocabulary shift, PSI on length catches a shape shift
    * (truncation bug upstream, a new source of stubs) that can leave
    * the vocabulary untouched. Reference = min committed epoch (the
    * chain's own baseline; one tiny LIST, no data scan). */
  def epochPsi(spark: SparkSession, corpusDir: String,
      bins: Int = 10): DataFrame = {
    val docs = readCommitted(spark, corpusDir)
      .withColumn("__len", length(col("clean_text")).cast("long"))
    val ref = committedEpochs(spark, corpusDir)
      .map(_.split("epoch=").last.toLong).min
    graft.llm.TextAnalysis.psiDrift(docs, "epoch", "__len",
      refGroup = ref.toString, bins = bins)
  }

  /** Per-epoch n-gram novelty over the COMMITTED corpus: for each
    * ingest epoch, the fraction of its distinct word shingles whose
    * FIRST committed occurrence (lowest epoch, ties broken by the
    * epoch itself) is that epoch — the incremental-crawl value
    * readout beside [[epochTvd]]/[[epochPsi]]: an epoch whose novelty
    * craters is re-crawling what the corpus already holds, and the
    * budget it burns buys no new tokens. Epochs are additive with the
    * corpus-wide view by construction: the sum of n_new over epochs
    * equals the corpus's total distinct shingle count
    * (spec-asserted).
    *
    * Scale shape: the [[graft.llm.TextAnalysis.ngramNovelty]] shape
    * keyed on the epoch instead of the doc — distinct (epoch,
    * shingle) via the native kernel, one shingle-keyed min-aggregate,
    * one keyed join-back, one epoch-keyed fold. */
  def epochNovelty(spark: SparkSession, corpusDir: String,
      n: Int = 5): DataFrame = {
    val sh = readCommitted(spark, corpusDir)
      .select(col("epoch"),
        explode(graft.functions.WordShingles.column(
          col("clean_text"), n, distinct = true)).as("shingle"))
      .distinct()
    val first = sh.groupBy("shingle").agg(min(col("epoch")).as("first_epoch"))
    sh.join(first, Seq("shingle"))
      .groupBy("epoch")
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("first_epoch") === col("epoch"), 1L).otherwise(0L))
          .cast("long").as("n_new"))
      .withColumn("novelty",
        when(col("n_shingles") > 0, col("n_new").cast("double")
          / col("n_shingles").cast("double")))
  }

  /** CUSUM sustained-shift detection on per-epoch ingest VOLUME over
    * the COMMITTED corpus sink — the streaming sibling of
    * [[graft.ops.EventOps.cusumShift]] (q247) and the third member of
    * the continuous drift triad beside [[epochTvd]] (content mix) and
    * [[epochPsi]] (length shape): TVD/PSI flag WHAT an epoch feeds
    * the corpus, CUSUM flags a sustained change in HOW MUCH — a
    * source quietly dying (S⁻ accumulates) or a crawler runaway (S⁺)
    * that no single epoch's z-score trips.
    *
    * Epochs are their own spine: committed epochs only (torn epochs
    * invisible, the [[readCommitted]] contract), ordered by epoch
    * index, NOT zero-densified — unlike calendar days, a missing
    * epoch index means "not committed yet", not "zero traffic", so
    * inventing a zero row would fire a false S⁻ alarm on every
    * out-of-order commit window.
    *
    * Scale shape: ONE epoch-keyed count (map-side combined) over the
    * committed scan; the detector itself runs on the |epochs|-row
    * series ([[graft.ops.EventOps.cusumOnSeries]] — closed-form Page
    * recursion, two chained windows, no driver fold). */
  def epochCusum(spark: SparkSession, corpusDir: String,
      k: Double = 0.5, h: Double = 4.0): DataFrame =
    graft.ops.EventOps.cusumOnSeries(
      readCommitted(spark, corpusDir)
        .groupBy(col("epoch"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .withColumn("__series", lit("corpus")),
      "__series", "epoch", "n_docs", k, h)
      .drop("__series")

  /** EWMA control chart over committed ingest epochs — the smoothed
    * per-epoch volume trajectory with startup-tight control limits,
    * the continuous companion to [[epochCusum]] exactly as
    * [[graft.ops.EventOps.ewmaChart]] companions cusumShift on daily
    * volume. Same [[readCommitted]] epoch-additivity contract. */
  def epochEwma(spark: SparkSession, corpusDir: String,
      lambda: Double = 0.2, nSigma: Double = 3.0,
      maxLag: Int = 64): DataFrame =
    graft.ops.EventOps.ewmaOnSeries(
      readCommitted(spark, corpusDir)
        .groupBy(col("epoch"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .withColumn("__series", lit("corpus")),
      "__series", "epoch", "n_docs", lambda, nSigma, maxLag)
      .drop("__series")

  /** Raw tx schema as landed by the source (FIXTURES.md A1). */
  val txSchema: StructType = StructType(Seq(
    StructField("txid", StringType),
    StructField("block", LongType),
    StructField("blocktime", LongType),
    StructField("type_int", IntegerType),
    StructField("fee", StringType),
    StructField("data", StringType)))

  /** File-landed stream → transform → idempotent append + report,
    * checkpointed. `availableNow = true` mirrors one cron run
    * (catchup=False, max_active_runs=1 → single query instance).
    *
    * The sink is the same [[IncrementalPipeline.TxSink]] the batch
    * pipeline uses — parquet (optionally block-bucketed) or JDBC. The
    * per-epoch anti-join guards checkpoint replay; it reads only sink
    * txids at/above the batch's own minimum block, so the guard scan
    * prunes to the replay window instead of history. */
  /** Per-epoch ingest body, shared by the file-landed and RPC-native
    * streams: transform → in-batch dedup → horizon-pruned anti-join
    * against the sink → idempotent append + report. */
  private def ingestBatch(batch: DataFrame, sink: IncrementalPipeline.TxSink,
      webhook: Sinks.Webhook): Unit = {
    var out = IncrementalPipeline.transform(batch).dropDuplicates("txid")
    val lo = out.agg(coalesce(min(col("block")), lit(Long.MaxValue)))
      .first().getLong(0) - 1
    sink.existingTxids(lo).foreach { existing =>
      out = out.join(existing, Seq("txid"), "left_anti")
    }
    val cached = out.withColumn("insert_dt", current_timestamp()).cache()
    try {
      if (cached.count() > 0) {
        sink.append(cached)
        Sinks.notifyReport(cached,
          Seq("txid", "fee", "decoded_data", "blockdate"), webhook)
      }
    } finally cached.unpersist()
  }

  def startIngest(spark: SparkSession, landingDir: String,
      sink: IncrementalPipeline.TxSink, checkpoint: String,
      webhook: Sinks.Webhook, availableNow: Boolean): StreamingQuery = {
    val raw = spark.readStream.schema(txSchema).parquet(landingDir)
    raw.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else
        Trigger.ProcessingTime("15 minutes"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, sink, webhook)
      }
      .start()
  }

  /** Streaming-NATIVE RPC ingestion: the `graft-rpc` MicroBatchStream
    * source (offsets = block heights, see [[RpcTableProvider]]) driven
    * into the same idempotent sink body as the file stream. The
    * checkpoint carries the committed height — a restart resumes
    * after it, and a replayed uncommitted epoch re-fetches the same
    * height range where the anti-join drops what already landed:
    * exactly-once end to end. */
  def startRpcIngest(spark: SparkSession, endpoint: String,
      sink: IncrementalPipeline.TxSink, checkpoint: String,
      webhook: Sinks.Webhook, availableNow: Boolean = true,
      startBlock: Long = 0L, maxBlocksPerTrigger: Option[Long] = None,
      numPartitions: Int = 4, maxConcurrency: Int = 8): StreamingQuery = {
    var reader = spark.readStream.format("graft-rpc")
      .option("endpoint", endpoint)
      .option("startBlock", startBlock)
      .option("numPartitions", numPartitions)
      .option("maxConcurrency", maxConcurrency)
    maxBlocksPerTrigger.foreach(n => reader = reader.option("maxBlocksPerTrigger", n))
    reader.load().writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else
        Trigger.ProcessingTime("15 minutes"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, sink, webhook)
      }
      .start()
  }

  def startIngest(spark: SparkSession, landingDir: String, sinkPath: String,
      checkpoint: String, webhook: Sinks.Webhook,
      availableNow: Boolean = true): StreamingQuery =
    startIngest(spark, landingDir,
      new IncrementalPipeline.ParquetTxSink(spark, sinkPath), checkpoint,
      webhook, availableNow)

  /** Document schema for the corpus-ingest stream (the fixture
    * `documents` shape minus derived columns). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)))

  /** END-TO-END training-corpus ingest: file-landed document stream →
    * C4 page/line cleaning → deterministic mixture sampling →
    * INCREMENTAL MinHash near-dup dedup against the signature store of
    * everything already ingested → audited append of the survivors and
    * of their signatures. One `foreachBatch` body, exactly the offline
    * pipeline's operators — the streaming and batch paths share code,
    * not just semantics.
    *
    * Scale shape per micro-batch: cleaning and mixture sampling are
    * zero-shuffle filters riding the scan; dedup probes batch ×
    * signature-store (never corpus²); the store grows by survivors
    * only, so it mirrors the corpus exactly. Offsets live in the
    * checkpoint: a restart resumes after the last committed file, and
    * an UNcommitted batch that already appended (crash between append
    * and commit) is neutralized on re-execution by the exact-id
    * anti-join against the signature store (StreamingSpec pins both
    * resume-across-restart and the double-run). */
  def startCorpusIngest(spark: SparkSession, landingDir: String,
      corpusDir: String, sigDir: String, checkpoint: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0,
      threshold: Double = 0.5, availableNow: Boolean = true,
      packDir: Option[String] = None, packTopN: Int = 8,
      seqLen: Int = 128): StreamingQuery = {
    val raw = spark.readStream.schema(docSchema).parquet(landingDir)
    raw.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else
        Trigger.ProcessingTime("15 minutes"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        corpusIngestBatch(batch, corpusDir, sigDir, weights, defaultWeight,
          threshold, packDir, packTopN, seqLen, batchId)
      }
      .start()
  }

  /** Per-epoch corpus-ingest body (package-visible so the spec can
    * drive a single batch without a stream).
    *
    * Idempotence — exactly-once on a non-transactional store: every
    * sink (corpus, pack shards, signature store) lands its epoch
    * under its own `epoch=<batchId>` partition with OVERWRITE, and
    * the signature store — written LAST — is the commit record the
    * retry consults (the exact-id anti-join). A replay therefore
    * lands on one of two sides: the sig epoch committed (crash after
    * all writes) → anti-join empties the batch, every epoch dir
    * untouched; or it didn't (crash anywhere earlier, including torn
    * or duplicate corpus/pack writes) → the batch recomputes
    * deterministically and overwrites its own partitions in place.
    * Plain appends would duplicate corpus rows in the second window.
    * One checkpoint lineage owns a sink directory (epoch = that
    * stream's batchId — same contract as the metric-state `v=N`
    * versioning); StreamingSpec pins the mid-batch kill + restart. */
  private[graft] def corpusIngestBatch(batch: DataFrame,
      corpusDir: String, sigDir: String, weights: Map[String, Double],
      defaultWeight: Double, threshold: Double,
      packDir: Option[String] = None, packTopN: Int = 8,
      seqLen: Int = 128, shardId: Long = 0L): Unit = {
    import graft.llm.{Corpus, Dedup, Lineage, TextAnalysis}
    val spark = batch.sparkSession
    // mixture first (pure filter, cheapest), then C4 cleaning; the
    // clean frame re-attaches `source` for the corpus sink
    val sampled = Corpus.mixtureSample(batch, "source", "doc_id",
      weights, defaultWeight)
    val cleaned0 = TextAnalysis.c4Clean(sampled, "doc_id", "text")
      .join(sampled.select(col("doc_id"), col("source")), Seq("doc_id"))
    // committed sig epochs only: a torn sig partition from a crashed
    // write must not count as "already landed" (it would drop docs
    // forever); no committed epochs → empty frame with the store
    // schema. A transient LIST/read failure still fails the batch
    // loudly rather than silently dedup against nothing.
    val sigEpochs = committedEpochs(spark, sigDir)
    val existing =
      if (sigEpochs.isEmpty)
        Dedup.signatureTable(cleaned0.limit(0), "doc_id", "clean_text")
      else spark.read.option("basePath", sigDir).parquet(sigEpochs: _*)
        .drop("epoch")
    // exact-id idempotence: a RETRIED batch's survivors are already in
    // the store under their own ids — drop them before near-dup work
    val cleaned = cleaned0.join(
      existing.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    val newSigs = Dedup.signatureTable(cleaned, "doc_id", "clean_text")
      .persist()
    try {
      // the (small) verified pair set comes back pinned with every
      // intermediate block released; the pin itself is released below
      // once the dead set and the writes are done, so a long-running
      // stream holds no per-epoch block
      val pairs = Dedup.incrementalLshPairs(newSigs, existing, threshold)
      // keeper orientation: the STORE always wins — a stored doc can't
      // be un-appended, so when a pair touches the store the batch
      // member dies regardless of id order (a backfilled batch can
      // carry ids SMALLER than stored near-dups); within-batch pairs
      // keep the min id. Pair volume ∝ duplicates, so these two small
      // joins are cheap.
      val batchIds = newSigs.select(col("id"))
      val dead = pairs
        .join(batchIds, pairs("id_b") === batchIds("id"), "left_semi")
        .select(col("id_b").as("doc_id")) // id_b in batch: min-id rule
        .unionAll(pairs
          .join(batchIds, pairs("id_b") === batchIds("id"), "left_anti")
          .select(col("id_a").as("doc_id"))) // id_b stored: batch side dies
        .distinct()
      val survivors = cleaned.join(dead, Seq("doc_id"), "left_anti").cache()
      try {
        if (survivors.count() > 0) {
          survivors.withColumn("insert_dt", current_timestamp())
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$corpusDir/epoch=$shardId")
          failpoint("corpus:after-corpus-write")
          // training-shard prep tail (opt-in): per-source A-ES
          // weighted sample of THIS epoch's deduped survivors (weight
          // = clean char count — heavier docs win proportionally more
          // often, deterministically), packed into fixed seqLen-token
          // training sequences and appended under the epoch's shard
          // id. Shard ids are the streaming epoch, so (shard_id,
          // seq_id) is globally unique; a RETRIED epoch reaches this
          // point with zero survivors (the exact-id anti-join above),
          // so the pack append is as idempotent as the corpus append.
          // ORDER MATTERS: this must run BEFORE the signature-store
          // append below — `survivors` reads the store through the
          // exact-id anti-join, and writing to the store triggers
          // cache invalidation + recompute by path, under which the
          // epoch's own fresh signatures would anti-join its
          // survivors away (epoch-0 escapes only because the
          // first-batch empty-store fallback never touches the path).
          for (pd <- packDir) {
            val picked = Corpus.weightedSample(
              survivors.withColumn("__w",
                length(col("clean_text")).cast("long")),
              "source", "doc_id", "__w", packTopN)
              .drop("__w", "aes_key")
            Corpus.packSequences(picked, "doc_id", "clean_text", seqLen)
              .withColumn("shard_id", lit(shardId))
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(s"$pd/epoch=$shardId")
          }
          failpoint("corpus:after-pack-write")
          newSigs.join(dead, newSigs("id") === dead("doc_id"), "left_anti")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$sigDir/epoch=$shardId")
        }
      } finally { survivors.unpersist(); Lineage.unpin(pairs) }
    } finally newSigs.unpersist(blocking = false)
  }

  /** Epoch ids whose SIGNATURE partition committed — the commit
    * record of the blocked ingest chain's multi-store epoch (the sig
    * store is written last; see [[blockedCorpusIngestBatch]]). */
  private def sigCommittedEpochIds(spark: SparkSession,
      sigDir: String): Seq[String] =
    committedEpochs(spark, sigDir).map(_.split("epoch=").last)

  /** An artifact store of the blocked ingest chain, restricted to
    * SIG-committed epochs: a crash between this store's write and the
    * sig write leaves a torn (even `_SUCCESS`-marked) partition that
    * must stay invisible until its replay commits the epoch. */
  private def readSigCommitted(spark: SparkSession, dir: String,
      sigDir: String): DataFrame = {
    val ids = sigCommittedEpochIds(spark, sigDir)
    require(ids.nonEmpty, s"no sig-committed epochs for $dir")
    spark.read.option("basePath", dir)
      .parquet(ids.map(e => s"$dir/epoch=$e"): _*).drop("epoch")
  }

  /** Committed sort-key-store rows of the BLOCKED ingest chain — THE
    * supported view (consistency is keyed on the sig store's commit
    * record, see [[blockedCorpusIngestBatch]]). */
  def readSortKeys(spark: SparkSession, sortKeyDir: String,
      sigDir: String): DataFrame =
    readSigCommitted(spark, sortKeyDir, sigDir)

  /** Committed simhash-fingerprint-store rows of the BLOCKED ingest
    * chain (see [[readSortKeys]]). */
  def readFingerprints(spark: SparkSession, fpDir: String,
      sigDir: String): DataFrame =
    readSigCommitted(spark, fpDir, sigDir)

  /** Committed VERIFIED-PAIR-LOG rows of the BLOCKED ingest chain —
    * the fourth artifact (r16 verdict): every epoch persists the
    * (id_a, id_b) near-dup pairs its three-blocker probe verified,
    * under the same sig-commit rule as the sort-key/fingerprint
    * stores. This is the same pair-log contract the nightly
    * [[graft.llm.Dedup.incrementalBlockedDedupClusters]] call
    * consumes as `existingPairs` — so a nightly re-close over a
    * stream-fed corpus reads the pairs the stream already verified
    * instead of re-probing, and streaming admission decisions are
    * auditable against backfill clusters post-hoc (a rejected doc's
    * pair evidence survives its rejection). */
  def readPairs(spark: SparkSession, pairsDir: String,
      sigDir: String): DataFrame =
    readSigCommitted(spark, pairsDir, sigDir)

  /** Committed corpus rows of the BLOCKED ingest chain — the
    * sig-keyed counterpart of [[readCorpus]]. The plain reader keys
    * on each corpus partition's own `_SUCCESS`, the right contract
    * for the single-store chain but NOT for generation cutover: a
    * [[compactBlockedStores]] run that dies after the dst-corpus
    * write leaves a readable corpus generation with no sig commit,
    * and only a reader keyed on the SIG store's commit record refuses
    * it (r17 ADVICE). Blocked-chain consumers read the corpus through
    * this. */
  def readBlockedCorpus(spark: SparkSession, corpusDir: String,
      sigDir: String): DataFrame =
    readSigCommitted(spark, corpusDir, sigDir)

  /** Filesystem pressure of a blocked-ingest chain — the
    * when-to-compact readout: committed (sig-keyed) epoch count plus
    * data-file count and bytes across the store roots. Driver-side
    * metadata listing only (one listStatus per committed epoch dir,
    * no data read) — the same listing cost every reader of the chain
    * pays per query, measured once to decide when to stop paying it. */
  final case class StorePressure(committedEpochs: Int, dataFiles: Long,
      bytes: Long)

  def blockedStorePressure(spark: SparkSession, sigDir: String,
      storeDirs: Seq[String]): StorePressure = {
    val ids = sigCommittedEpochIds(spark, sigDir)
    val conf = spark.sessionState.newHadoopConf()
    var files = 0L; var bytes = 0L
    for (dir <- storeDirs; e <- ids) {
      val p = new org.apache.hadoop.fs.Path(s"$dir/epoch=$e")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        if (st.isFile && !st.getPath.getName.startsWith("_")) {
          files += 1; bytes += st.getLen
        }
      }
    }
    StorePressure(ids.length, files, bytes)
  }

  /** When-to-compact policy for [[compactBlockedStores]] (r17 verdict):
    * compact when the committed-epoch count or the chain-wide
    * data-file count crosses its ceiling. Defaults: 96 epochs = one
    * day at the 15-minute streaming cadence (bounds the per-reader
    * listing fan-out to a day's partitions); 4096 files ≈ where
    * many-small-file open/seek overhead starts dominating a scan of
    * this chain's file sizes. A single committed generation is never
    * re-compacted (the rewrite would be a byte-for-byte no-op). The
    * ingest path logs this readout per committed epoch; the operator
    * (or a scheduler) calls the predicate and runs the quiesce →
    * compact → pointer-swap cutover documented on
    * [[compactBlockedStores]]. */
  def shouldCompact(p: StorePressure, maxEpochs: Int = 96,
      maxFiles: Long = 4096): Boolean =
    p.committedEpochs > 1 &&
      (p.committedEpochs >= maxEpochs || p.dataFiles >= maxFiles)

  /** COMPACT the blocked-ingest artifact chain: rewrite every
    * SIG-COMMITTED epoch of the corpus and the four stores into ONE
    * `epoch=c0` partition each under FRESH destination roots. A
    * 15-minute streaming cadence writes ~35k epoch partitions per
    * store per year — at 100 TB the file-count pressure on the
    * nightly readers (and the name-node/listing cost) is the
    * operational limit, and this is the standard answer: periodic
    * consolidation into one generation.
    *
    * Crash-safe by CONSTRUCTION, not by protocol: nothing in the
    * source chain is touched (no in-place deletes to tear), the
    * destination is a new generation whose own sig partition is
    * written LAST — a compaction that dies mid-way leaves dst's sig
    * store without a commit record, every SIG-KEYED dst reader
    * ([[readSortKeys]]/[[readFingerprints]]/[[readPairs]]/
    * [[readBlockedCorpus]]) refuses it, and the retry simply
    * overwrites. Note the scope: the plain [[readCorpus]] keys on the
    * corpus partition's OWN `_SUCCESS` and would see a torn
    * generation's corpus — blocked-chain consumers read the corpus
    * through the sig-keyed [[readBlockedCorpus]] (r17 ADVICE).
    * Cutover is the caller's pointer swap (the
    * SnapshotTable manifest pattern): quiesce the stream, compact,
    * resume against dst with a fresh checkpoint — the `c0` epoch id
    * can never collide with a numeric stream batchId, and a fresh
    * checkpoint re-reading old landing files is neutralized by the
    * exact-id anti-join against the compacted sig store (the standard
    * worst-case-retry contract, spec-pinned). */
  def compactBlockedStores(spark: SparkSession,
      srcCorpus: String, srcSig: String, srcSk: String, srcFp: String,
      srcPairs: String, dstCorpus: String, dstSig: String,
      dstSk: String, dstFp: String, dstPairs: String): Unit = {
    val ids = sigCommittedEpochIds(spark, srcSig)
    require(ids.nonEmpty, s"nothing to compact: no committed epochs in $srcSig")
    def committedView(dir: String): DataFrame =
      spark.read.option("basePath", dir)
        .parquet(ids.map(e => s"$dir/epoch=$e"): _*).drop("epoch")
    def write(df: DataFrame, dst: String): Unit =
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dst/epoch=c0")
    // the corpus compacts through the SAME sig-committed restriction
    // as the stores (a torn trailing epoch must not be frozen into
    // the new generation — its replay belongs to the old chain)
    write(committedView(srcCorpus), dstCorpus)
    write(committedView(srcPairs), dstPairs)
    write(committedView(srcSk), dstSk)
    write(committedView(srcFp), dstFp)
    failpoint("compact:before-sig")
    write(committedView(srcSig), dstSig)
  }

  /** THREE-BLOCKER streaming dedup admission: the [[startCorpusIngest]]
    * chain with [[graft.llm.Dedup.incrementalBlockedDedupPairsFromArtifacts]]
    * in place of the single LSH probe — every epoch probes the
    * incoming batch against the PERSISTED signature, sort-key, and
    * simhash stores (minhash-LSH band agreement ∪ sorted-neighborhood
    * locality ∪ Manku hamming blocks), and all three stores grow by
    * the epoch's survivors. This is the streaming steady state of the
    * composed dedup family: q256/[[graft.llm.Dedup.blockedDedupClusters]]
    * is the backfill, q292/incrementalBlockedDedupClusters the nightly
    * batch, THIS the continuous admission path — one shared digest
    * scan per epoch feeds all three probes and all four store
    * appends (signature/sort-key/fingerprint stores plus the
    * verified-pair log the nightly re-close consumes, see
    * [[readPairs]]).
    *
    * Scale shape per micro-batch: the digest prep is one narrow pass
    * over the batch; each probe keeps its incremental contract
    * (batch band-keys / batch blocks / bare-key re-rank with
    * batch-involving verification only) — nothing corpus²; the
    * stores grow by survivors so they mirror the corpus exactly. */
  def startBlockedCorpusIngest(spark: SparkSession, landingDir: String,
      corpusDir: String, sigDir: String, sortKeyDir: String,
      fpDir: String, pairsDir: String, checkpoint: String,
      weights: Map[String, Double],
      defaultWeight: Double = 1.0, threshold: Double = 0.5,
      snWindow: Int = 4, maxHamming: Int = 3,
      availableNow: Boolean = true): StreamingQuery = {
    val raw = spark.readStream.schema(docSchema).parquet(landingDir)
    raw.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else
        Trigger.ProcessingTime("15 minutes"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        blockedCorpusIngestBatch(batch, corpusDir, sigDir, sortKeyDir,
          fpDir, pairsDir, weights, defaultWeight, threshold, snWindow,
          maxHamming, batchId)
      }
      .start()
  }

  /** Per-epoch body of [[startBlockedCorpusIngest]] (package-visible
    * so the spec can drive a single batch without a stream).
    *
    * Idempotence with FOUR artifact stores: every sink lands its
    * epoch under `epoch=<batchId>` with OVERWRITE, and the signature
    * store — written LAST — is the single commit record (the exact-id
    * anti-join consults IT alone, and the pair-log/sort-key/
    * fingerprint stores are read restricted to SIG-committed epoch
    * ids). A crash after the pair/sort-key/fingerprint writes but
    * before the sig write leaves torn partitions that are invisible
    * to every probe and are overwritten in place by the replay — the
    * [[corpusIngestBatch]] contract extended to a multi-store
    * commit. */
  private[streaming] def blockedCorpusIngestBatch(batch: DataFrame,
      corpusDir: String, sigDir: String, sortKeyDir: String,
      fpDir: String, pairsDir: String, weights: Map[String, Double],
      defaultWeight: Double, threshold: Double, snWindow: Int,
      maxHamming: Int, shardId: Long = 0L): Unit = {
    import graft.llm.{Corpus, TextAnalysis}
    val sampled = Corpus.mixtureSample(batch, "source", "doc_id",
      weights, defaultWeight)
    val cleaned0 = TextAnalysis.c4Clean(sampled, "doc_id", "text")
      .join(sampled.select(col("doc_id"), col("source")), Seq("doc_id"))
    blockedAdmitBatch(cleaned0, corpusDir, sigDir, sortKeyDir, fpDir,
      pairsDir, threshold, snWindow, maxHamming, shardId)
  }

  /** The admission + multi-store-commit core of
    * [[blockedCorpusIngestBatch]], operating on ALREADY-CLEANED docs
    * (`doc_id`, `clean_text`, `source`) — split out so the q299 gate
    * can drive the real store/commit/pair-log machinery on fixture
    * text directly (the sampling/cleaning front has its own gates,
    * q118/q121). */
  private[graft] def blockedAdmitBatch(cleaned0: DataFrame,
      corpusDir: String, sigDir: String, sortKeyDir: String,
      fpDir: String, pairsDir: String, threshold: Double,
      snWindow: Int, maxHamming: Int, shardId: Long): Unit = {
    import graft.llm.{Dedup, Lineage}
    val spark = cleaned0.sparkSession
    // the sig store is the commit record for ALL FOUR stores: only
    // epoch ids whose sig partition committed are read from the
    // sort-key/fingerprint/pair dirs, so the four views are always
    // mutually consistent (same ids, same epochs)
    val epochIds = sigCommittedEpochIds(spark, sigDir)
    def store(dir: String, empty: => DataFrame): DataFrame =
      if (epochIds.isEmpty) empty
      else readSigCommitted(spark, dir, sigDir)
    val existingSigs = store(sigDir,
      Dedup.signatureTable(cleaned0.limit(0), "doc_id", "clean_text"))
    val existingSk = store(sortKeyDir,
      Dedup.sortKeyTable(cleaned0.limit(0), "doc_id", "clean_text"))
    val existingFps = store(fpDir,
      Dedup.simhashTable(cleaned0.limit(0), "doc_id", "clean_text"))
    // exact-id idempotence: a retried batch's survivors are already
    // in the store under their own ids
    val cleaned = cleaned0.join(
      existingSigs.select(col("id").as("doc_id")), Seq("doc_id"),
      "left_anti")
    // ONE digest pass per epoch computes all three fingerprint
    // families (the q292 shared-prep shape on the streaming delta)
    val prep = Dedup.fingerprintPrep(cleaned, "doc_id", "clean_text")
      .persist()
    try {
      val (newSigs, newSk, newFps) = Dedup.prepArtifacts(prep)
      // eager, cache-released pair probe (the q292 call); its pin is
      // released with the survivors below
      val pairs = Dedup.incrementalBlockedDedupPairsFromArtifacts(
        newSigs, newSk, newFps, existingSigs, existingSk, existingFps,
        threshold, snWindow, threshold, maxHamming)
      // keeper orientation: the STORE always wins (a stored doc can't
      // be un-appended); within-batch pairs keep the min id — the
      // corpusIngestBatch rule over the three-blocker pair union
      val batchIds = prep.select(col("id"))
      val dead = pairs
        .join(batchIds, pairs("id_b") === batchIds("id"), "left_semi")
        .select(col("id_b").as("doc_id"))
        .unionAll(pairs
          .join(batchIds, pairs("id_b") === batchIds("id"), "left_anti")
          .select(col("id_a").as("doc_id")))
        .distinct()
      val survivors = cleaned.join(dead, Seq("doc_id"), "left_anti").cache()
      try {
        // The survivor gate is LOAD-BEARING for fresh-checkpoint
        // replays: a restarted stream reprocessing old landing files
        // re-sees previously-REJECTED docs (they are not in the sig
        // store, so the anti-join keeps them), recomputes zero
        // survivors, and must not overwrite committed epoch
        // partitions under its misaligned batch ids. The cost is a
        // documented limit: an epoch whose batch is ALL-dead commits
        // nothing, including its pair evidence — acceptable because
        // such an epoch contributes no corpus rows, and at streaming
        // batch sizes an all-rejected epoch is degenerate.
        if (survivors.count() > 0) {
          survivors.withColumn("insert_dt", current_timestamp())
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$corpusDir/epoch=$shardId")
          failpoint("blocked-corpus:after-corpus-write")
          // the epoch's verified pairs — the FOURTH sig-committed
          // artifact (NOT survivor-filtered: a rejected doc's pair is
          // exactly the evidence that justified rejecting it, and the
          // nightly re-close wants it)
          pairs.select(col("id_a"), col("id_b"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$pairsDir/epoch=$shardId")
          failpoint("blocked-corpus:after-pairs-write")
          val keep = survivors.select(col("doc_id").as("id"))
          // artifact stores BEFORE the sig commit record; every read
          // here comes off the prep/survivors caches, so the writes
          // never re-digest the batch
          newSk.join(keep, Seq("id"), "left_semi")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$sortKeyDir/epoch=$shardId")
          newFps.join(keep, Seq("id"), "left_semi")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$fpDir/epoch=$shardId")
          failpoint("blocked-corpus:after-artifact-writes")
          newSigs.join(keep, Seq("id"), "left_semi")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$sigDir/epoch=$shardId")
          // per-epoch pressure readout (r17 verdict): the file-count/
          // bytes growth this epoch added, plus whether the default
          // compaction policy has tripped — the operational signal a
          // 15-min cadence needs surfaced from the run itself, not
          // re-derived from a name-node audit
          val pressure = blockedStorePressure(spark, sigDir,
            Seq(corpusDir, sigDir, sortKeyDir, fpDir, pairsDir))
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"blocked-store pressure after epoch=$shardId: " +
            s"epochs=${pressure.committedEpochs} files=${pressure.dataFiles} " +
            s"bytes=${pressure.bytes} shouldCompact=${shouldCompact(pressure)}")
        }
      } finally { survivors.unpersist(); Lineage.unpin(pairs) }
    } finally prep.unpersist(blocking = false)
  }

  /** Raw event schema as landed by the source (the `events` fixture
    * shape). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** STREAMING incremental metric maintenance: file-landed event
    * stream → per-batch [[graft.planner.MetricState]] partial build →
    * merge into a versioned parquet state table. The streaming twin of
    * the batch q152 path — each micro-batch is one ingest delta, the
    * state table holds (dims, grain)-cardinality rows, and
    * [[currentMetrics]] renders the finalized values on demand.
    *
    * Idempotence without transactions: each epoch writes the FULL
    * merged state to `stateDir/v=<batchId>` with overwrite. A batch
    * re-executed after a crash rewrites the same version directory
    * with the same content (prior version + same input batch, and
    * exact-decimal partials make the fold deterministic), so replay is
    * a no-op — the version-by-batchId trick that makes a
    * non-transactional store exactly-once. Older versions are pruned
    * after commit (crash between write and prune leaves only extra
    * history, never a wrong answer).
    *
    * Scale shape: the batch scan is the only row-grain work; the merge
    * reads the prior state (group-cardinality) and shuffles state rows
    * only. At 100 TB the state table is orders of magnitude smaller
    * than one day's facts — the rewrite-per-epoch cost is the state
    * size, and a deployment where even that dominates shards the state
    * write by a dims prefix. */
  def startMetricStateIngest(spark: SparkSession, landingDir: String,
      stateDir: String, checkpoint: String,
      dims: Seq[String], measures: Seq[graft.planner.MetricState.Measure],
      availableNow: Boolean = true): StreamingQuery = {
    val raw = spark.readStream.schema(eventSchema).parquet(landingDir)
    raw.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else
        Trigger.ProcessingTime("15 minutes"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        metricStateBatch(batch, stateDir, dims, measures, batchId)
      }
      .start()
  }

  /** Per-epoch metric-state fold (graft-visible so the spec can
    * drive single batches and replay them). */
  private[graft] def metricStateBatch(batch: DataFrame,
      stateDir: String, dims: Seq[String],
      measures: Seq[graft.planner.MetricState.Measure],
      batchId: Long): Unit = {
    import graft.planner.MetricState
    val spark = batch.sparkSession
    val prepped = batch.withColumn("day", to_date(col("ts")))
    val delta = MetricState.buildState(prepped, dims, measures)
    val prior = stateVersions(spark, stateDir).filter(_ < batchId)
      .sorted.lastOption
      .map(v => spark.read.parquet(s"$stateDir/v=$v"))
    val merged = prior.map(p => MetricState.mergeStates(Seq(p, delta)))
      .getOrElse(MetricState.mergeStates(Seq(delta)))
    merged.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
    failpoint("state:after-state-write")
    // prune everything but the two newest committed versions
    val keep = stateVersions(spark, stateDir).sorted.takeRight(2).toSet
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    stateVersions(spark, stateDir).filterNot(keep).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v=$v"), true)
    }
  }

  /** Committed state versions only: a `v=N` directory counts ONLY
    * when Spark's job-commit marker (`_SUCCESS`) is present. A crash
    * mid-write leaves a torn `v=N` with data files but no marker —
    * without this filter the torn version reads as the newest state
    * (a wrong-answer window until the batch replays); with it, torn
    * dirs are invisible to reads, merges, and pruning, and the replay
    * overwrites them in place. */
  private def stateVersions(spark: SparkSession, stateDir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v=") &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
  }

  /** Finalized metric values from the newest committed state version —
    * the read side of [[startMetricStateIngest]]. */
  def currentMetrics(spark: SparkSession, stateDir: String): DataFrame = {
    val vs = stateVersions(spark, stateDir)
    require(vs.nonEmpty, s"no committed state under $stateDir")
    graft.planner.MetricState.render(
      spark.read.parquet(s"$stateDir/v=${vs.max}"))
  }

  /** Event-time windowed aggregation with a watermark: 5-minute tumbling
    * windows on the events-stream shape. Late data beyond 10 minutes is
    * dropped and state is bounded — the 100 TB-safe default. */
  def windowedEventAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Event-time SESSION windows (gap-based, the streaming twin of the
    * batch sessionization in q38): a session closes after `gap` of
    * user inactivity; the watermark bounds open-session state. Spark's
    * session_window merges adjacent windows inside the state store —
    * no per-event shuffle amplification. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-static enrichment: the streaming fact joined to a static
    * dimension snapshot. The static side is planned per micro-batch
    * (broadcast when small), so dimension updates between batches are
    * picked up — the standard shape for slowly-changing dims at
    * streaming time; no state is kept for the join. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming dedup with BOUNDED state: duplicates arriving within the
    * watermark horizon are dropped and state older than the watermark is
    * evicted — the 100 TB answer to "dedup forever" (exact state within
    * the horizon; pair with the sketch-based offline dedup for history).
    */
  def dedupWithinWatermark(tx: DataFrame, horizon: String = "1 hour"): DataFrame =
    tx.withColumn("event_time", timestamp_seconds(col("blocktime")))
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark("txid")

  /** STREAM-STREAM inner join with bounded state: correlate two live
    * streams (e.g. document arrivals with their metadata/embedding
    * events) on a key, accepting matches only within a time band
    * (`right.ts ∈ [left.ts, left.ts + maxDelay]`). Both sides carry a
    * watermark AND the join condition bounds event-time distance —
    * together they let Spark evict buffered rows once no future match
    * is possible, so state is O(in-horizon traffic), never unbounded.
    * Without the time-range conjunct Spark would have to keep every
    * row forever — the canonical stream-join state leak at scale. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      maxDelay: String = "1 hour", horizon: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", horizon)
    val r = right
      .withColumnRenamed(key, s"${key}_r").withColumnRenamed("ts", "ts_r")
      .withWatermark("ts_r", horizon)
    l.join(r,
      col(key) === col(s"${key}_r") &&
        col("ts_r") >= col("ts") &&
        col("ts_r") <= col("ts") + expr(s"INTERVAL $maxDelay"))
      .drop(s"${key}_r")
  }

  /** §2.3 failure/report callbacks as a StreamingQueryListener: fires
    * every configured [[graft.sinks.Sinks.AlertChannel]] (Slack webhook
    * and/or email) on query termination with error — parity with the
    * Airflow on_failure_callback → slack alert plus `email_on_failure`
    * (transactions_dag.py:52-54,76-77). A channel that itself throws is
    * swallowed so one dead alert transport can't mute the others. */
  final class AlertListener(channels: Seq[graft.sinks.Sinks.AlertChannel])
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
    def this(webhook: graft.sinks.Sinks.Webhook) =
      this(Seq(graft.sinks.Sinks.WebhookAlerts(webhook)))
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      e.exception.foreach { err =>
        channels.foreach { ch =>
          try ch.alertFailure(s"query=${e.id}", err)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
  }

  // ------------------------------------------------- stateful session
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(n: Long, total: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, n_events: Long, total_value: Double)

  /** Custom per-key state via mapGroupsWithState: running per-user
    * session stats with a processing-time TTL — the engine's primitive
    * for stateful operators the built-ins don't cover. */
  def sessionStats(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](
        GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val old = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
          var n = old.n; var total = old.total; var last = old.lastTs
          evs.foreach { e =>
            n += 1; total += e.value
            last = math.max(last, e.ts.getTime)
          }
          state.update(SessionState(n, total, last))
          state.setTimeoutDuration("30 minutes")
          SessionOut(userId, n, total)
      }
  }
}
