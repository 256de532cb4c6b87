package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. `op` is shared by the
  * spans of one request, pass or cycle; `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. When disabled,
  * `span` runs its body and records nothing. Spans are written out once,
  * at the end of the run. */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  var op: Long = -1L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span closes
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer (ns): each span's duration minus the part of its
    * interval covered by its child spans. */
  def selfTimeByLayer(keep: Span => Boolean): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.filter(keep).groupMapReduce(_.layer) { s =>
      val covered = Intervals.union(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq)
      s.durNs - covered
    }(_ + _)
  }

  def write(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.write(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

object Intervals {
  /** Total length covered by a set of [start, end] intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- xs.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counts observed through Spark's public listener APIs:
  * jobs, stages and task metrics from a `SparkListener`, planning phase
  * times and observed metrics from a `QueryExecutionListener`. Events
  * arrive asynchronously; [[drain]] waits until every event posted
  * before it has been delivered. Each event is attributed to the op
  * whose wall-clock interval contains it. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import SparkProbe._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  private val failedTasks = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val markersSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val markerSeq = new AtomicLong()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val marker = Option(e.properties).flatMap(p => Option(p.getProperty(MarkerProperty)))
    marker match {
      case Some(m) => markersSeen.add("job:" + m)
      case None => jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.merge(i.stageId, Stage(i.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled),
      (a, b) => Stage(a.tasks + b.tasks, a.runMs + b.runMs, a.cpuNs + b.cpuNs,
        a.gcMs + b.gcMs, a.shuffleWrite + b.shuffleWrite, a.shuffleRead + b.shuffleRead,
        a.spill + b.spill))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success)
      failedTasks.computeIfAbsent(e.stageId, _ => new AtomicLong()).incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val text = qe.logical.toString
    if (text.contains(MarkerPrefix))
      MarkerRe.findFirstIn(text).foreach(m => markersSeen.add("qe:" + m))
    else {
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      qes.add(Qe(start, phases.map { case (k, v) => k -> v.durationMs }, qe.observedMetrics))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Runs a marker query and waits (up to 30 s) until both listeners
    * have seen it, so every earlier event has been delivered. */
  def drain(): Unit = {
    val m = s"$MarkerPrefix${markerSeq.incrementAndGet()}x"
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerProperty, m)
    try spark.range(1).select(org.apache.spark.sql.functions.lit(m)).collect()
    finally sc.setLocalProperty(MarkerProperty, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!(markersSeen.contains("job:" + m) && markersSeen.contains("qe:" + m)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(2)
  }

  /** Spark counts of the events inside the wall-clock interval
    * [startMs, endMs]. Call [[drain]] first. */
  def window(startMs: Long, endMs: Long): Counts = {
    def inside(t: Long) = t >= startMs && t <= endMs
    val js = jobs.values.asScala.filter(j => inside(j.startMs)).toSeq
    val ss = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
    val q = qes.asScala.filter(x => inside(x.startMs)).toSeq
    def phase(n: String) = q.map(_.phasesMs.getOrElse(n, 0L)).sum
    Counts(
      jobs = js.size, stages = ss.size, tasks = ss.map(_.tasks.toLong).sum,
      jobWallMs = Intervals.union(js.map(j => (j.startMs, if (j.endMs < 0) endMs else j.endMs))),
      taskMs = ss.map(_.runMs).sum, taskCpuMs = ss.map(_.cpuNs).sum / 1e6, gcMs = ss.map(_.gcMs).sum,
      shuffleWrite = ss.map(_.shuffleWrite).sum, shuffleRead = ss.map(_.shuffleRead).sum,
      spill = ss.map(_.spill).sum,
      tasksFailed = js.flatMap(_.stageIds).distinct.map(id => Option(failedTasks.get(id)).map(_.get).getOrElse(0L)).sum,
      analysisMs = phase("analysis"), optimizationMs = phase("optimization"),
      planningMs = phase("planning"), observed = q.flatMap(_.observed.toSeq))
  }
}

object SparkProbe {
  val MarkerProperty = "perfbench.marker"
  val MarkerPrefix = "perfbench-marker-"
  private val MarkerRe = (MarkerPrefix + "[0-9]+x").r

  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int], var endMs: Long = -1L)
  final case class Stage(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class Qe(startMs: Long, phasesMs: Map[String, Long], observed: Map[String, Row])

  final case class Counts(jobs: Int, stages: Int, tasks: Long, jobWallMs: Long,
      taskMs: Long, taskCpuMs: Double, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, tasksFailed: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, observed: Seq[(String, Row)]) {
    /** Sum of an observed metric over every `CollectMetrics` node whose
      * name ends with `suffix`. */
    def observedSum(suffix: String, field: String): Long =
      observed.collect { case (n, r) if n.endsWith(suffix) => r.getAs[Long](field) }.sum
  }

  /** Total compilations of generated code in this JVM so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** State that outlives the workload: persisted RDDs and cached plans. */
  def leftover(spark: SparkSession): (Int, Int) = {
    val cm = spark.sharedState.cacheManager
    // CacheManager.numCachedEntries is not part of Spark's Scala API;
    // read it reflectively and fall back to empty/non-empty.
    val cached = try cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
      catch { case _: ReflectiveOperationException => if (cm.isEmpty) 0 else 1 }
    (spark.sparkContext.getPersistentRDDs.size, cached)
  }
}
