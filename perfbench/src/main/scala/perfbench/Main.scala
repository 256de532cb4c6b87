package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time in one JVM and writes the result
  * file the Python runner turns into the benchmark's output line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --out <dir> --manifest <yml> [--conf key=value]...
  * }}}
  *
  * A run sets up [[Setups]] times (session start, input generation from
  * the seed, warm-up on inputs from a separate warm-up seed) and keeps the
  * last session. It then runs closed-loop ops with one client thread until
  * the time is up. With `--trace 1` the first half of the time runs
  * untraced and the second half traced, so the tracing overhead is the
  * difference between the two halves. */
object Main {
  val Workloads: Seq[String] = Seq("metric_interactive", "dedup_backfill", "incremental_ingest")

  /** End-to-end metrics, reported by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "items_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  /** Layers with spans inside the ops, for the self-time summary. The
    * catalog is only read at set-up and the kernels only in side calls,
    * so they have no self time per op. */
  val Layers: Seq[String] =
    Seq("bench", "planner", "sources", "spark", "llm", "ingest", "sinks", "sql")

  /** Per-layer metrics, reported by every traced run (0 where the
    * workload does not use the layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "planner.compile_ms" -> "ms", "planner.render_sql_ms" -> "ms",
    "sources.load_ms" -> "ms", "sources.loads_per_query" -> "count",
    "catalog.manifest_load_ms" -> "ms",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.codegen_compiles" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_wall_ms" -> "ms", "spark.driver_gap_ms" -> "ms", "spark.task_time_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.parallelism" -> "ratio",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.tasks_failed" -> "count", "spark.persisted_rdds_after" -> "count",
    "spark.cached_plans_after" -> "count",
    "functions.hashed_shingles_rows_per_s" -> "1/s", "functions.minhash_rows_per_s" -> "1/s",
    "functions.intersect_pairs_per_s" -> "1/s", "functions.hex_decode_rows_per_s" -> "1/s",
    "llm.signature_ms" -> "ms", "llm.blocked_pairs_ms" -> "ms", "llm.blocked_pairs" -> "count",
    "llm.clusters_ms" -> "ms", "llm.clusters" -> "count", "llm.keepers_ms" -> "ms",
    "llm.setsim_ms" -> "ms", "llm.setsim_candidates" -> "count", "llm.setsim_pairs" -> "count",
    "llm.setsim_yield" -> "ratio",
    "sinks.watermark_ms" -> "ms", "sinks.existing_txids_ms" -> "ms", "sinks.append_ms" -> "ms",
    "sinks.files" -> "count", "sinks.bytes_per_row" -> "B/row",
    "ingest.run_once_ms" -> "ms", "ingest.fetch_rows" -> "count", "ingest.useful_ratio" -> "ratio",
    "sql.report_ms" -> "ms") ++
    Layers.map(l => s"self.${l}_ms" -> "ms") ++ Seq(
    "trace.op_p50_untraced_ms" -> "ms", "trace.op_p50_traced_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.spans_per_op" -> "count")

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: File, manifest: String, conf: Seq[(String, String)])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).toSeq.map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    def one(k: String): String = kv.filter(_._1 == k).map(_._2).lastOption
      .getOrElse(sys.error(s"missing --$k"))
    val w = one("workload")
    require(Workloads.contains(w), s"unknown workload $w; known: ${Workloads.mkString(", ")}")
    Opts(w, one("seed").toLong, one("seconds").toDouble, one("trace") == "1",
      new File(one("out")), one("manifest"),
      kv.filter(_._1 == "conf").map { case (_, s) =>
        val i = s.indexOf('='); require(i > 0, s"bad --conf $s"); s.take(i) -> s.drop(i + 1)
      })
  }

  def session(o: Opts): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    // every file the session writes stays inside the run directory
    val b = SparkSession.builder().appName("perfbench")
      .config("spark.local.dir", new File(o.out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.out, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(o.out, "hadoop-tmp").getAbsolutePath)
    o.conf.foreach { case (k, v) => b.config(k, v.replace("{cores}", cores)) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def quietLogs(): Unit =
    try {
      import org.apache.logging.log4j.Level
      import org.apache.logging.log4j.core.config.Configurator
      Configurator.setRootLevel(Level.WARN)
      Seq("org.apache.spark.sql.execution.window.WindowExec",
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
        "org.apache.spark.sql.execution.CacheManager")
        .foreach(Configurator.setLevel(_, Level.ERROR))
    } catch { case NonFatal(_) => () }

  /** Heap in use after a full collection: state that outlives the ops.
    * Spark's context cleaner frees broadcast and shuffle blocks only
    * after a collection finds them unreachable, so this collects five
    * times with a pause for the cleaner between, and keeps the least. */
  def retainedHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    quietLogs()
    o.out.mkdirs()
    val tracer = new Tracer(false)
    val workload: Workload = o.workload match {
      case "metric_interactive" => new MetricInteractive(o.out, o.manifest, tracer)
      case "dedup_backfill" => new DedupBackfill(o.out, tracer)
      case "incremental_ingest" => new IncrementalIngest(o.out, tracer)
    }
    val warmSeed = o.seed * 1000003L + 7919L

    var spark: SparkSession = null
    val setupS = (0 until Setups).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(o)
      workload.setupLog += "session" -> (System.nanoTime() - t0) / 1e9
      workload.setup(spark, o.seed, warmSeed)
      (System.nanoTime() - t0) / 1e9
    }

    val probe = if (o.trace) Some(new SparkProbe(spark).install()) else None
    val recs = mutable.ArrayBuffer[OpRec]()
    val messages = mutable.ArrayBuffer[String]()
    val phases = if (o.trace) Seq(false -> o.seconds / 2, true -> o.seconds / 2) else Seq(false -> o.seconds)
    for ((traced, seconds) <- phases) {
      tracer.enabled = traced
      val start = System.nanoTime()
      val first = recs.size
      while ((System.nanoTime() - start < seconds * 1e9 || recs.size - first < workload.minOps) &&
          !workload.exhausted) {
        val i = recs.size
        tracer.op = i
        val cg0 = SparkProbe.codegenCompiles
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (items, ok) =
          try (tracer.span("bench.op")(workload.op(i)), true)
          catch { case NonFatal(e) =>
            messages += s"op $i failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
            (0L, false)
          }
        val ns = System.nanoTime() - t0
        recs += OpRec(i, startMs, System.currentTimeMillis(), ns, items, traced, ok,
          SparkProbe.codegenCompiles - cg0)
        if (ok) try workload.afterOp(i) catch { case NonFatal(e) =>
          messages += s"check of op $i failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          recs(i) = recs(i).copy(ok = false)
        }
      }
    }
    tracer.enabled = false

    val (persisted, cachedPlans) = SparkProbe.leftover(spark)
    val heapMb = retainedHeapMb()
    probe.foreach(_.drain())
    // side calls are traced under op id -1, apart from the loop's ops
    tracer.op = -1L
    tracer.enabled = o.trace
    val side = if (o.trace) workload.side() else Map.empty[String, Double]
    tracer.enabled = false
    val okOps = recs.filter(_.ok)
    val checkT0 = System.nanoTime()
    val check = workload.check(okOps.map(_.i).toSeq)
    val checkS = (System.nanoTime() - checkT0) / 1e9
    messages ++= check.messages
    val failedOps = recs.filterNot(_.ok).map(_.i).toSet ++ check.failedOps

    val untraced = okOps.filterNot(_.traced).toSeq
    val tracedOps = okOps.filter(_.traced).toSeq
    require(untraced.nonEmpty, s"no op completed: ${messages.take(3).mkString("; ")}")
    val lat = untraced.map(_.ms)
    val w = Workload.kindWeights(untraced, workload.opKinds)
    val endToEnd: Map[String, Double] = Map(
      "setup_s" -> Stats.median(setupS), "op_p50_ms" -> Stats.quantile(lat, 0.5, w), "op_tail_ms" -> Stats.tail(lat, w),
      "items_per_s" -> untraced.zip(w).map { case (r, x) => r.items * x }.sum /
        untraced.zip(w).map { case (r, x) => r.ns * x }.sum * 1e9,
      "retained_heap_mb" -> heapMb)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) EndToEnd.map { case (n, u) => (n, endToEnd(n), u) }
      else {
        val layer = perLayer(workload, tracer, probe.get, untraced, tracedOps, side, persisted, cachedPlans)
        PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }

    val detail = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "seconds" -> o.seconds,
      "cores" -> Runtime.getRuntime.availableProcessors, "settings" -> o.conf.map { case (k, v) => s"$k=$v" },
      "setup_s_each" -> setupS, "check_s" -> checkS,
      "setup_phases_s" -> workload.setupLog.map { case (k, v) => s"$k=${"%.2f".format(v)}" },
      "ops" -> recs.size, "ops_untraced" -> untraced.size, "ops_traced" -> tracedOps.size,
      "inputs_exhausted" -> workload.exhausted, "tail_quantile" -> Stats.TailQ,
      "op_ms" -> recs.map(r => math.round(r.ms * 10) / 10.0),
      "failed_share" -> failedOps.size.toDouble / recs.size,
      "end_to_end" -> endToEnd, "named" -> workload.named(untraced),
      "inputs" -> workload.properties(okOps.map(_.i).toSeq),
      "leftover" -> Map("persisted_rdds" -> persisted, "cached_plans" -> cachedPlans)) ++
      metrics.collect { case (n, v, _) if n.startsWith("trace.") || n.startsWith("self.") => n -> v }

    if (o.trace) tracer.write(new File(o.out, "spans.jsonl"))
    val result = Map(
      "attempted" -> recs.size, "failed_ops" -> failedOps.toSeq.sorted,
      "messages" -> messages.take(20),
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "detail" -> detail, "oracle" -> workload.oracle)
    java.nio.file.Files.writeString(new File(o.out, "result.json").toPath, Json.write(result))
    probe.foreach(_.uninstall())
    spark.stop()
  }

  private def perLayer(workload: Workload, tracer: Tracer, probe: SparkProbe,
      untraced: Seq[OpRec], traced: Seq[OpRec], side: Map[String, Double],
      persisted: Int, cachedPlans: Int): Map[String, Double] = {
    val n = math.max(traced.size, 1).toDouble
    val ids = traced.map(_.i).toSet
    val inOps = tracer.all.filter(s => ids.contains(s.op.toInt))
    val spanMs = inOps.groupMapReduce(_.name)(_.durNs / 1e6)(_ + _)
    val counts = traced.map(r => r.i -> probe.window(r.startMs, r.endMs)).toMap
    val c = counts.values.toSeq
    val jobWall = c.map(_.jobWallMs).sum.toDouble
    val spark = Map(
      "spark.analysis_ms" -> c.map(_.analysisMs).sum / n,
      "spark.optimization_ms" -> c.map(_.optimizationMs).sum / n,
      "spark.planning_ms" -> c.map(_.planningMs).sum / n,
      "spark.codegen_compiles" -> traced.map(_.codegen).sum / n,
      "spark.jobs" -> c.map(_.jobs).sum / n, "spark.stages" -> c.map(_.stages).sum / n,
      "spark.tasks" -> c.map(_.tasks).sum / n, "spark.job_wall_ms" -> jobWall / n,
      "spark.driver_gap_ms" -> traced.map(r => r.ms - counts(r.i).jobWallMs).sum / n,
      "spark.task_time_ms" -> c.map(_.taskMs).sum / n, "spark.task_cpu_ms" -> c.map(_.taskCpuMs).sum / n,
      "spark.gc_ms" -> c.map(_.gcMs).sum / n,
      "spark.parallelism" -> (if (jobWall > 0) c.map(_.taskMs).sum / jobWall else 0.0),
      "spark.shuffle_write_bytes" -> c.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> c.map(_.shuffleRead).sum / n,
      "spark.spill_bytes" -> c.map(_.spill).sum / n,
      "spark.tasks_failed" -> c.map(_.tasksFailed).sum / n,
      "spark.persisted_rdds_after" -> persisted.toDouble, "spark.cached_plans_after" -> cachedPlans.toDouble)
    val self = tracer.selfTimeByLayer(s => ids.contains(s.op.toInt))
    def p50(ops: Seq[OpRec]): Double =
      if (ops.isEmpty) 0.0 else Stats.quantile(ops.map(_.ms), 0.5, Workload.kindWeights(ops, workload.opKinds))
    val untracedP50 = p50(untraced)
    val tracedP50 = p50(traced)
    spark ++ side ++
      workload.layerMetrics(name => spanMs.getOrElse(name, 0.0) / n, traced.map(_.i), counts) ++
      Layers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0L) / 1e6 / n) ++ Map(
      "trace.op_p50_untraced_ms" -> untracedP50, "trace.op_p50_traced_ms" -> tracedP50,
      "trace.overhead_ms" -> (tracedP50 - untracedP50), "trace.spans_per_op" -> inOps.size / n)
  }
}
