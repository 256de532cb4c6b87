package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.api.GraftClient
import graft.catalog.{MetricQueryRequest, SemanticRegistry}
import graft.functions.{GraftFunctions, IntersectCountLong, MinHashShingles}
import graft.ingest.IncrementalPipeline
import graft.ingest.IncrementalPipeline.{BlockSource, ParquetTxSink, TxSink}
import graft.llm.Dedup
import graft.planner.MetricPlanner
import graft.sources.Tables
import graft.sql.StatementRunner

/** What a workload's output checks found: the ops whose output was
  * wrong, and why. */
final case class Check(failedOps: Set[Int], messages: Seq[String])

/** One closed-loop workload. The runner calls `setup`, then `op` for
  * each request, pass or cycle until the run's time is up (timing only
  * `op`), `afterOp` after each one (untimed), and `check` at the end. In
  * the traced run it also calls `side` once and reads `layerMetrics`. */
trait Workload {
  /** (phase, seconds) of every setup so far, in order. */
  val setupLog: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer()
  protected def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupLog += name -> Workload.ms(t0) / 1000
  }

  def setup(spark: SparkSession, seed: Long, warmSeed: Long): Unit
  /** Op `i` is of kind `i % opKinds`. Every kind weighs the same in the
    * latency and throughput figures, and by default ([[minOps]]) each
    * phase of the loop lasts until it has timed every kind once, so the
    * figures do not depend on which kinds a run happened to reach. */
  def opKinds: Int = 1
  /** Ops each phase of the loop runs at the least, whatever the time. */
  def minOps: Int = opKinds
  /** Runs op `i` and returns the number of items it processed. */
  def op(i: Int): Long
  def afterOp(i: Int): Unit = ()
  /** True when the inputs hold no further op; the loop then ends early. */
  def exhausted: Boolean = false
  def check(ops: Seq[Int]): Check
  /** Extra calls into single layers, made once in the traced run. */
  def side(): Map[String, Double] = Map.empty
  /** Per-layer numbers from the traced ops; `spans(name)` is the mean
    * time per traced op (ms) spent in spans of that name. */
  def layerMetrics(spans: String => Double, traced: Seq[Int],
      counts: Int => SparkProbe.Counts): Map[String, Double]
  /** Measured properties of the inputs the run actually used. */
  def properties(ops: Seq[Int]): Map[String, Any]
  /** End-to-end figures under this workload's own names. */
  def named(ops: Seq[OpRec]): Map[String, Any] = Map.empty
  /** Files the Python side checks against DuckDB, if any. */
  def oracle: Map[String, Any] = Map.empty
}

final case class OpRec(i: Int, startMs: Long, endMs: Long, ns: Long, items: Long,
    traced: Boolean, ok: Boolean, codegen: Long) {
  def ms: Double = ns / 1e6
}

object Workload {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** One weight per op: 1 ÷ the ops of its kind. */
  def kindWeights(ops: Seq[OpRec], kinds: Int): Seq[Double] = {
    val n = ops.groupMapReduce(_.i % kinds)(_ => 1)(_ + _)
    ops.map(o => 1.0 / n(o.i % kinds))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Executes a frame fully and discards the rows. */
  def drainRows(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Rows per second of `build(frame)` over a frame materialized first,
    * so only the kernel's projection is timed. */
  def kernelRate(tracer: Tracer, name: String, frame: DataFrame)(build: DataFrame => DataFrame): Double = {
    val pinned = frame.localCheckpoint(eager = true)
    val rows = pinned.count()
    val t0 = System.nanoTime()
    tracer.span(name)(drainRows(build(pinned)))
    val s = (System.nanoTime() - t0) / 1e9
    pinned.unpersist(blocking = true)
    rows / s
  }
}

// ---------------------------------------------------------------------------

/** Analyst dashboard: a Zipf-skewed stream of metric queries through
  * `GraftClient.query`, one client waiting for each answer. */
final class MetricInteractive(out: File, manifest: String, tracer: Tracer) extends Workload {
  import MetricInteractive._
  private val dataDir = new File(out, "data/tables").getAbsolutePath
  private var spark: SparkSession = _
  private var client: GraftClient = _
  private var planner: MetricPlanner = _
  private var stream: IndexedSeq[MetricQueryRequest] = _
  private var manifestLoadMs = 0.0
  private var warmupFailures = 0
  /** Row count and text table the last op presented. */
  private var last: (Long, String) = _
  /** What the first timed call of each distinct request presented. */
  private val presented = mutable.Map[MetricQueryRequest, (Long, String)]()
  private val loadsPerOp = mutable.Map[Int, Int]()
  private var oracleShapes = Seq.empty[Map[String, Any]]

  /** The dashboard's panels: op i queries panel i % panels. */
  override def opKinds: Int = Gen.panels.size

  def setup(spark: SparkSession, seed: Long, warmSeed: Long): Unit = {
    this.spark = spark
    val t0 = System.nanoTime()
    val registry = SemanticRegistry.fromFile(manifest)
    manifestLoadMs = Workload.ms(t0)
    client = new GraftClient(registry)
    planner = new MetricPlanner(registry)
    phase("generate") {
      Gen.writeMetricTables(spark, dataDir, seed)
      stream = Gen.requestStream(seed, StreamLength)
    }
    warmupFailures = 0
    phase("warmup") {
      for (req <- Gen.requestStream(warmSeed, WarmupQueries)) {
        try client.query(spark, dataDir, req)
        catch { case scala.util.control.NonFatal(_) => warmupFailures += 1 }
      }
    }
  }

  def op(i: Int): Long = {
    val req = stream(i % stream.size)
    last =
      if (!tracer.enabled) {
        val r = client.query(spark, dataDir, req)
        (r.rowCount, r.textTable)
      } else {
        tracer.span("planner.render_sql")(planner.renderSql(req, withDescriptions = false))
        val compiled = tracer.span("planner.compile")(planner.compile(spark, dataDir, req))
        val plan = compiled.df.queryExecution.analyzed
        loadsPerOp(i) = plan.collectLeaves().count(_.getClass.getSimpleName == "LogicalRelation")
        for (t <- compiled.df.inputFiles.map(f => new File(f).getParentFile.getName.stripSuffix(".parquet")).distinct)
          tracer.span("sources.load")(Tables.load(spark, dataDir, t))
        tracer.span("spark.execute")(present(compiled.df))
      }
    1L
  }

  override def afterOp(i: Int): Unit = presented.getOrElseUpdate(stream(i % stream.size), last)

  /** The presentation step of `GraftClient.query`, replayed so the
    * traced run can time planning and execution apart. */
  private def present(df: DataFrame): (Long, String) = {
    val rounded = df.select(df.schema.fields.map { f =>
      if (f.dataType == DoubleType) round(col(f.name), 2).as(f.name) else col(f.name)
    }.toSeq: _*)
    val rows = rounded.limit(MaxRows + 1).collect()
    val text =
      if (rows.isEmpty) "🔍 Query returned no results."
      else (rounded.columns.mkString(" | ") +: rows.take(MaxRows).map(
        _.toSeq.map(v => if (v == null) "" else v.toString).mkString(" | "))).mkString("\n")
    (math.min(rows.length, MaxRows).toLong, text)
  }

  /** Hands the DuckDB comparison, which runs after the JVM exits, what
    * the first timed call of each distinct request presented, with the
    * SQL `MetricPlanner.renderSql` gives for that request. */
  def check(ops: Seq[Int]): Check = {
    val failed = mutable.Set[Int]()
    val messages = mutable.ArrayBuffer[String]()
    val byShape = ops.groupBy(i => stream(i % stream.size)).toSeq.sortBy(_._2.min)
    oracleShapes = byShape.zipWithIndex.flatMap { case ((req, shapeOps), k) =>
      try {
        val (rowCount, text) = presented(req)
        Some(Map("sql" -> planner.renderSql(req, withDescriptions = false), "text" -> text,
          "ops" -> shapeOps, "row_count" -> rowCount, "max_rows" -> MaxRows,
          "ordered" -> req.orderBy.nonEmpty, "request" -> req.toString))
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed ++= shapeOps
          messages += s"shape $k ($req): ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }
    Check(failed.toSet, messages.toSeq)
  }

  override def oracle: Map[String, Any] = Map(
    "tables" -> Tables.names.filter(t => new File(dataDir, s"$t.parquet").exists())
      .map(t => t -> new File(dataDir, s"$t.parquet").getAbsolutePath).toMap,
    "shapes" -> oracleShapes)

  def layerMetrics(spans: String => Double, traced: Seq[Int],
      counts: Int => SparkProbe.Counts): Map[String, Double] = Map(
    "planner.compile_ms" -> spans("planner.compile"),
    "planner.render_sql_ms" -> spans("planner.render_sql"),
    "sources.load_ms" -> spans("sources.load"),
    "sources.loads_per_query" -> (if (traced.isEmpty) 0.0
      else traced.map(i => loadsPerOp.getOrElse(i, 0)).sum.toDouble / traced.size),
    "catalog.manifest_load_ms" -> manifestLoadMs)

  def properties(ops: Seq[Int]): Map[String, Any] = {
    val reqs = ops.map(i => stream(i % stream.size))
    Map("requests" -> reqs.size, "distinct_shapes" -> reqs.distinct.size,
      "repeat_share" -> Gen.repeatShare(reqs), "warmup_queries" -> WarmupQueries,
      "warmup_failures" -> warmupFailures)
  }

  override def named(ops: Seq[OpRec]): Map[String, Any] = {
    val ms = ops.map(_.ms)
    val w = Workload.kindWeights(ops, opKinds)
    Map("query_p50_ms" -> Stats.quantile(ms, 0.5, w), "query_tail_ms" -> Stats.tail(ms, w))
  }
}

object MetricInteractive {
  val StreamLength = 20000
  val WarmupQueries = 3
  val MaxRows = 100
}

// ---------------------------------------------------------------------------

/** Near-duplicate backfill over a seeded corpus with planted duplicates:
  * exact set-similarity pairs at t = 0.5 and three-blocker keep/drop. */
final class DedupBackfill(out: File, tracer: Tracer) extends Workload {
  /** A fifth of the documents fixture: one pass over all 5,000 takes
    * longer than a run (perfbench/README.md, "Calibration"). */
  private val CorpusDocs = 1000

  /** A run's first pass pays more JIT warm-up than the next; with two
    * passes in every run, every run's figures hold the same mix. */
  override def minOps: Int = 2
  private val Threshold = 0.5
  /** Copies of the corpus the kernel-throughput side calls run over. */
  private val KernelCopies = 20L
  private var spark: SparkSession = _
  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var lastPairs: DataFrame = _
  private var lastKeep: Array[Row] = _
  private val failed = mutable.Set[Int]()
  private val messages = mutable.ArrayBuffer[String]()
  private val pairCounts = mutable.Map[Int, Long]()
  private lazy val shingleSets = corpus.docs.map(d => d.doc_id -> Gen.shingles(d.text)).toMap
  private lazy val mustFind: Set[(Long, Long)] = corpus.planted.collect {
    case p if Gen.jaccard(shingleSets(p.orig), shingleSets(p.dup)) >= Threshold =>
      (math.min(p.orig, p.dup), math.max(p.orig, p.dup))
  }.toSet

  private def load(spark: SparkSession, c: Gen.Corpus, name: String): DataFrame = {
    import spark.implicits._
    val path = new File(out, s"data/$name.parquet").getAbsolutePath
    c.docs.toDF().coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def setup(spark: SparkSession, seed: Long, warmSeed: Long): Unit = {
    this.spark = spark
    val warm = phase("generate") {
      corpus = Gen.corpus(seed, CorpusDocs)
      docs = load(spark, corpus, "docs")
      load(spark, Gen.corpus(warmSeed, CorpusDocs / 4), "warm_docs")
    }
    phase("warmup")(pass(warm))
  }

  private def pass(d: DataFrame): Unit = {
    lastPairs = tracer.span("llm.setsim")(Dedup.setSimJoinPairs(d, "doc_id", "text", Threshold))
    lastKeep = tracer.span("llm.keepers")(Dedup.blockedClusterKeepers(d, "doc_id", "text", "score")
      .select("doc_id", "cluster_id", "kept").collect())
  }

  def op(i: Int): Long = { pass(docs); corpus.docs.size.toLong }

  /** Checks this pass's output: every emitted pair recomputes to Jaccard
    * >= t over 5-char shingles, every planted pair at or above t is
    * found, and keep/drop keeps exactly one document per cluster. */
  override def afterOp(i: Int): Unit = {
    val pairs = lastPairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pairCounts(i) = pairs.length
    val bad = mutable.ArrayBuffer[String]()
    for ((a, b, j) <- pairs) {
      val exact = Gen.jaccard(shingleSets(a), shingleSets(b))
      if (exact < Threshold || math.abs(exact - j) > 1e-9) bad += s"pair ($a,$b) reports $j, recomputes to $exact"
    }
    val found = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val missed = mustFind -- found
    if (missed.nonEmpty) bad += s"${missed.size} planted pairs at or above $Threshold not found, e.g. ${missed.head}"
    val ids = lastKeep.map(_.getLong(0))
    if (ids.length != corpus.docs.size || ids.distinct.length != ids.length)
      bad += s"keep/drop has ${ids.length} rows for ${corpus.docs.size} documents"
    val keptPerCluster = lastKeep.groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.count(_.getBoolean(2)) }
    keptPerCluster.find(_._2 != 1).foreach { case (c, n) => bad += s"cluster $c keeps $n documents" }
    if (bad.nonEmpty) { failed += i; messages ++= bad.take(3).map(m => s"pass $i: $m") }
  }

  def check(ops: Seq[Int]): Check = Check(failed.toSet, messages.toSeq)

  override def side(): Map[String, Double] = {
    val sigT0 = System.nanoTime()
    tracer.span("llm.signature")(Workload.drainRows(Dedup.signatureTable(docs, "doc_id", "text")))
    val sigMs = Workload.ms(sigT0)
    val bpT0 = System.nanoTime()
    val blocked = tracer.span("llm.blocked_pairs")(Dedup.blockedDedupPairs(docs, "doc_id", "text").count())
    val bpMs = Workload.ms(bpT0)
    val clT0 = System.nanoTime()
    val clusters = tracer.span("llm.clusters")(Dedup.blockedDedupClusters(docs, "doc_id", "text")
      .select("cluster_id").distinct().count())
    val clMs = Workload.ms(clT0)
    val big = docs.select(col("text")).crossJoin(spark.range(KernelCopies).select(col("id").as("copy")))
    val sets = docs.select(col("doc_id"), array_sort(Dedup.hashedShingles(col("text"))).as("s"))
    val pairs = sets.as("a").join(sets.as("b"), pmod(col("a.doc_id"), lit(40L)) === pmod(col("b.doc_id"), lit(40L)))
      .select(col("a.s").as("sa"), col("b.s").as("sb"))
    Map(
      "llm.signature_ms" -> sigMs, "llm.blocked_pairs_ms" -> bpMs, "llm.blocked_pairs" -> blocked.toDouble,
      "llm.clusters_ms" -> clMs, "llm.clusters" -> clusters.toDouble,
      "functions.hashed_shingles_rows_per_s" -> Workload.kernelRate(tracer, "functions.hashed_shingles", big)(
        f => f.select(Dedup.hashedShingles(col("text")))),
      "functions.minhash_rows_per_s" -> Workload.kernelRate(tracer, "functions.minhash", big)(
        f => f.select(MinHashShingles.column(spark, col("text"), 12))),
      "functions.intersect_pairs_per_s" -> Workload.kernelRate(tracer, "functions.intersect", pairs)(
        f => f.select(IntersectCountLong.column(spark, col("sa"), col("sb")))))
  }

  def layerMetrics(spans: String => Double, traced: Seq[Int],
      counts: Int => SparkProbe.Counts): Map[String, Double] = {
    val cands = traced.map(i => counts(i).observedSum("_cands", "cand_rows_post")).sum.toDouble
    val found = traced.map(i => pairCounts.getOrElse(i, 0L)).sum.toDouble
    val n = math.max(traced.size, 1)
    Map("llm.setsim_ms" -> spans("llm.setsim"), "llm.keepers_ms" -> spans("llm.keepers"),
      "llm.setsim_candidates" -> cands / n, "llm.setsim_pairs" -> found / n,
      "llm.setsim_yield" -> (if (cands > 0) found / cands else 0.0))
  }

  /** The corpus figures the calibration compares with the documents
    * fixture (perfbench/README.md, "Calibration"). */
  def properties(ops: Seq[Int]): Map[String, Any] = {
    val df = shingleSets.values.flatten.groupMapReduce(identity)(_ => 1)(_ + _).values.toSeq.map(_.toDouble)
    val words = corpus.docs.map(_.text.count(_ == ' ') + 1.0)
    Map("corpus_docs" -> corpus.docs.size,
      "planted_share" -> corpus.planted.size.toDouble / corpus.docs.size,
      "planted_at_or_above_t" -> mustFind.size,
      "words_per_doc_p50" -> Stats.median(words), "distinct_shingles" -> df.size,
      "shingle_df_max" -> df.max, "shingle_df_p99" -> Stats.quantile(df, 0.99),
      "passes" -> ops.size)
  }

  override def named(ops: Seq[OpRec]): Map[String, Any] = Map(
    "dedup_docs_per_s" -> ops.map(_.items).sum / ops.map(_.ns).sum.toDouble * 1e9)
}

// ---------------------------------------------------------------------------

/** A block source whose head the benchmark advances every cycle, over a
  * pre-generated raw transaction stream. */
final class StreamSource(spark: SparkSession, path: String) extends BlockSource {
  @volatile var head: Long = 0L
  private lazy val df = spark.read.parquet(path)
  override def currentBlock(): Long = head
  override def fetchRange(fromExclusive: Long, toInclusive: Long): DataFrame =
    df.filter(col("block") > fromExclusive && col("block") <= toInclusive)
}

/** Times each call into the sink it wraps. */
final class TimedSink(inner: TxSink, tracer: Tracer) extends TxSink {
  override def watermark(): Long = tracer.span("sinks.watermark")(inner.watermark())
  override def existingTxids(fromExclusive: Long): Option[DataFrame] =
    tracer.span("sinks.existing_txids")(inner.existingTxids(fromExclusive))
  override def append(df: DataFrame): Unit = tracer.span("sinks.append")(inner.append(df))
}

/** Incremental watermark ingestion: each cycle advances the source head,
  * runs `IncrementalPipeline.runOnce` into a bucketed parquet sink, then
  * runs a report script over the sink through `StatementRunner`. */
final class IncrementalIngest(out: File, tracer: Tracer) extends Workload {
  import IncrementalIngest._
  private var spark: SparkSession = _
  private var stream: Gen.TxStream = _
  private var rowsPerBlock: Array[Int] = _
  private var source: StreamSource = _
  private var sink: TxSink = _
  private val sinkDir = new File(out, "data/sink")
  private var prevHead = 0L
  private var last: IncrementalPipeline.RunResult = _
  private var lastReport: Array[Row] = _
  private var lastReportMs = 0.0
  private val reportMs = mutable.Map[Int, Double]()
  private val fetched = mutable.Map[Int, Long]()
  private val appended = mutable.Map[Int, Long]()
  private val failed = mutable.Set[Int]()
  private val messages = mutable.ArrayBuffer[String]()

  private def report(dir: File): String =
    s"""CREATE OR REPLACE TEMPORARY VIEW perfbench_tx AS SELECT * FROM parquet.`${dir.getAbsolutePath}`;
       |SELECT substr(blockdate, 1, 10) AS day, COUNT(*) AS txs, COUNT(decoded_data) AS decoded,
       |  MAX(block) AS max_block
       |FROM perfbench_tx GROUP BY substr(blockdate, 1, 10) ORDER BY day""".stripMargin

  private def prepare(s: Gen.TxStream, name: String, sinkAt: File): (StreamSource, TxSink) = {
    val session = spark
    import session.implicits._
    val path = new File(out, s"data/$name.parquet").getAbsolutePath
    s.rows.toDF().coalesce(1).write.mode("overwrite").parquet(path)
    Workload.deleteTree(sinkAt)
    (new StreamSource(spark, path),
      new TimedSink(new ParquetTxSink(spark, sinkAt.getAbsolutePath, Some(BucketBlocks)), tracer))
  }

  private def cycle(src: StreamSource, snk: TxSink, dir: File): Unit = {
    src.head += BlocksPerCycle
    last = tracer.span("ingest.run_once")(IncrementalPipeline.runOnce(spark, src, snk))
    val t0 = System.nanoTime()
    lastReport = tracer.span("sql.report")(
      StatementRunner.execute(spark, report(dir), fetch = true).fetched.get.collect())
    lastReportMs = Workload.ms(t0)
  }

  def setup(spark: SparkSession, seed: Long, warmSeed: Long): Unit = {
    this.spark = spark
    val warmSink = new File(out, "data/warm_sink")
    val (warmSrc, warmSnk) = phase("generate") {
      stream = Gen.txStream(seed, BlocksPerCycle * MaxCycles)
      rowsPerBlock = new Array[Int](stream.blocks.toInt + 1)
      stream.rows.foreach(r => rowsPerBlock(r.block.toInt) += 1)
      val (src, snk) = prepare(stream, "stream", sinkDir)
      source = src; sink = snk; prevHead = 0L
      prepare(Gen.txStream(warmSeed, BlocksPerCycle * WarmupCycles), "warm_stream", warmSink)
    }
    phase("warmup")(for (_ <- 0 until WarmupCycles) cycle(warmSrc, warmSnk, warmSink))
  }

  private def rowsIn(fromExclusive: Long, toInclusive: Long): Long =
    ((fromExclusive + 1) to math.min(toInclusive, stream.blocks)).map(b => rowsPerBlock(b.toInt).toLong).sum

  override def exhausted: Boolean = source.head + BlocksPerCycle > stream.blocks

  def op(i: Int): Long = {
    prevHead = source.head
    cycle(source, sink, sinkDir)
    rowsIn(prevHead, source.head)
  }

  /** Checks the cycle: it appended exactly the new valid distinct
    * transactions, and the report matches the stream up to the head. */
  override def afterOp(i: Int): Unit = {
    val head = source.head
    reportMs(i) = lastReportMs
    fetched(i) = rowsIn(math.max(last.lastBlock - 1, 0L), last.currentBlock)
    appended(i) = last.appended
    val want = stream.expected.count(e => e.block > prevHead && e.block <= head)
    val bad = mutable.ArrayBuffer[String]()
    if (last.appended != want) bad += s"appended ${last.appended} rows, expected $want"
    val expectedReport = stream.expected.filter(_.block <= head).groupBy(_.blocktime.map(day))
      .map { case (d, es) => (d.orNull, es.size.toLong, es.count(_.decoded.isDefined).toLong, es.map(_.block).max) }
      .toSeq.sortBy(r => Option(r._1).getOrElse(""))
    val gotReport = lastReport.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(r => Option(r._1).getOrElse(""))
    if (gotReport != expectedReport) bad += s"report differs from the stream: ${gotReport.take(2)} vs ${expectedReport.take(2)}"
    if (bad.nonEmpty) { failed += i; messages ++= bad.map(m => s"cycle $i: $m") }
  }

  private def day(epochSeconds: Long): String =
    java.time.Instant.ofEpochSecond(epochSeconds).atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** The final sink holds exactly the stream's valid distinct txids up to
    * the head, once each, with the right decoded payload, and its
    * watermark is the newest block among them. A wrong final state fails
    * every cycle, since each one built it. */
  def check(ops: Seq[Int]): Check = {
    val head = source.head
    val want = stream.expected.filter(_.block <= head)
    val got = spark.read.parquet(sinkDir.getAbsolutePath)
      .select("txid", "block", "decoded_data").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
    val bad = mutable.ArrayBuffer[String]()
    if (got.map(_._1).distinct.length != got.length) bad += "sink holds duplicate txids"
    val wantSet = want.map(e => (e.txid, e.block, e.decoded)).toSet
    val gotSet = got.toSet
    if (gotSet != wantSet)
      bad += s"sink differs from the stream: ${(gotSet -- wantSet).size} unexpected, ${(wantSet -- gotSet).size} missing rows"
    val wm = sink.watermark()
    val wantWm = if (want.isEmpty) 0L else want.map(_.block).max
    if (wm != wantWm) bad += s"watermark $wm, expected $wantWm (head $head)"
    val all = if (bad.nonEmpty) ops.toSet else Set.empty[Int]
    Check(failed.toSet ++ all, messages.toSeq ++ bad)
  }

  override def side(): Map[String, Double] = {
    val data = spark.read.parquet(new File(out, "data/stream.parquet").getAbsolutePath)
      .select("data").crossJoin(spark.range(KernelCopies).select(col("id").as("copy")))
    Map("functions.hex_decode_rows_per_s" -> Workload.kernelRate(tracer, "functions.hex_decode", data)(
      f => f.select(GraftFunctions.hexDecodeUtf8(col("data")))))
  }

  private def sinkFiles: Seq[File] = {
    def walk(f: File): Seq[File] = Option(f.listFiles()).toSeq.flatten.flatMap(c =>
      if (c.isDirectory) walk(c) else Seq(c))
    walk(sinkDir).filter(_.getName.endsWith(".parquet"))
  }

  private def sinkRows: Long = spark.read.parquet(sinkDir.getAbsolutePath).count()

  def bytesPerRow: Double = sinkFiles.map(_.length).sum.toDouble / math.max(sinkRows, 1L)

  def layerMetrics(spans: String => Double, traced: Seq[Int],
      counts: Int => SparkProbe.Counts): Map[String, Double] = {
    val f = traced.map(i => fetched.getOrElse(i, 0L)).sum.toDouble
    val a = traced.map(i => appended.getOrElse(i, 0L)).sum.toDouble
    Map("sinks.watermark_ms" -> spans("sinks.watermark"),
      "sinks.existing_txids_ms" -> spans("sinks.existing_txids"),
      "sinks.append_ms" -> spans("sinks.append"),
      "sinks.files" -> sinkFiles.size.toDouble, "sinks.bytes_per_row" -> bytesPerRow,
      "ingest.run_once_ms" -> spans("ingest.run_once"), "sql.report_ms" -> spans("sql.report"),
      "ingest.fetch_rows" -> f / math.max(traced.size, 1),
      "ingest.useful_ratio" -> (if (f > 0) a / f else 0.0))
  }

  def properties(ops: Seq[Int]): Map[String, Any] = Map(
    "cycles" -> ops.size, "blocks_per_cycle" -> BlocksPerCycle, "bucket_blocks" -> BucketBlocks,
    "replay_share" -> stream.replayShare,
    "valid_share" -> stream.expected.size.toDouble / stream.rows.size)

  override def named(ops: Seq[OpRec]): Map[String, Any] = {
    val ms = ops.map(_.ms)
    Map("ingest_rows_per_s" -> ops.map(_.items).sum / ops.map(_.ns).sum.toDouble * 1e9,
      "ingest_cycle_p50_ms" -> Stats.quantile(ms, 0.5), "ingest_cycle_tail_ms" -> Stats.tail(ms),
      "report_p50_ms" -> Stats.quantile(ops.flatMap(o => reportMs.get(o.i)), 0.5),
      "sink_bytes_per_row" -> bytesPerRow)
  }
}

object IncrementalIngest {
  /** The reference pipeline runs every 15 min; at one block per 600 s
    * that is 1.5 blocks a cycle (perfbench/README.md, "Calibration"). */
  val BlocksPerCycle = 2
  val BucketBlocks = 32L
  val MaxCycles = 400
  /** The first warm-up cycle meets an empty sink; the second also runs
    * the paths of a non-empty one (watermark, txid anti-join), which the
    * first timed cycles would otherwise pay for. */
  val WarmupCycles = 2
  val KernelCopies = 20L
}
