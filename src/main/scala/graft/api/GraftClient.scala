package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{MetricQueryRequest, SemanticRegistry}
import graft.planner.{ExplainResult, MetricPlanner}
import graft.sinks.Sinks

/** The engine's top-level entry point — end-to-end mirror of the
  * reference's `mf query` lifecycle (SURVEY.md §3.1):
  *
  *   request (IR #1) → rendered SQL (IR #3) → dataflow plan (IR #2 =
  *   the Catalyst plan of that SQL) → execute → present (text table /
  *   CSV / empty message), plus the compile-only `dumpQueries` fan-out
  *   (§3.2).
  *
  * The process→warehouse boundary of the reference collapses to
  * driver→executors at each shuffle/action.
  */
final class GraftClient(val registry: SemanticRegistry) {
  private val planner = new MetricPlanner(registry)

  final case class QueryResult(
      df: DataFrame,
      rowCount: Long,
      columnNames: Seq[String],
      textTable: String)

  /** Execute a metric query and present it (rounding parity with
    * --decimals, dbt_query.py:30-34,149). */
  def query(spark: SparkSession, dir: String, req: MetricQueryRequest,
      decimals: Int = 2, maxRows: Int = 100): QueryResult = {
    val compiled = planner.compile(spark, dir, req)
    val rounded = compiled.df.select(compiled.df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        round(col(f.name), decimals).as(f.name)
      else col(f.name)
    }.toSeq: _*)
    val rows = rounded.limit(maxRows + 1).collect()
    val shown = rows.take(maxRows)
    val text =
      if (rows.isEmpty) "🔍 Query returned no results." // empty-set message parity
      else {
        val header = rounded.columns.mkString(" | ")
        (header +: shown.map(_.toSeq.map(v => if (v == null) "" else v.toString)
          .mkString(" | "))).mkString("\n")
      }
    QueryResult(compiled.df, rows.length.toLong.min(maxRows.toLong),
      rounded.columns.toSeq, text)
  }

  /** Explain without executing (§3.1 steps 3–4 stop). */
  def explain(spark: SparkSession, dir: String, req: MetricQueryRequest): ExplainResult =
    planner.explain(spark, dir, req)

  /** CSV sink presentation path (dbt_query.py:141-147). */
  def queryToCsv(spark: SparkSession, dir: String, req: MetricQueryRequest,
      outPath: String): Unit =
    Sinks.csv(planner.compile(spark, dir, req).df, outPath)

  /** Compile-only per-dimension fan-out → one `.sql` file per dimension
    * (§3.2, dbt_query2.py:46-80). Returns written paths. */
  def dumpQueries(metricName: String, outDir: String): Seq[String] =
    Sinks.sqlDump(outDir, planner.dumpQueries(metricName).map(d => (d._1, d._3)))

  /** Catalog introspection (`mf list metrics` / `mf list dimensions`
    * parity): every metric with its accompanying dimensions, and every
    * dimension with its owner. Registry-only — no Spark session, no
    * data touched. */
  def listMetrics: Seq[(String, String, Seq[String])] =
    (registry.metrics.map(m => (m.name, m.description,
      registry.dimensionsForMetric(m.name).map(_.name))) ++
     registry.derivedMetrics.map(d => (d.name, d.description,
       registry.dimensionsForMetric(
         registry.baseMetricsFor(Seq(d.name)).head).map(_.name))))

  def listDimensions: Seq[(String, String, Boolean)] =
    for (m <- registry.models; d <- m.dimensions)
      yield (d.name, m.name, d.isTime)

  def listSavedQueries: Seq[String] = registry.savedQueries.keys.toSeq.sorted

  /** Render the plan DAG as an SVG file (full display_dag_as_svg
    * parity, dbt_query.py:127-132 — graphviz-free). Returns the path. */
  def explainSvg(spark: SparkSession, dir: String, req: MetricQueryRequest,
      outPath: String): String = {
    val svg = graft.planner.PlanDot.toSvg(planner.compile(spark, dir, req).df)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), svg)
    outPath
  }
}

object GraftClient {
  /** Client over a declarative manifest file — the reference's
    * project-root flow: definitions live in data, not code. */
  def fromManifest(path: String): GraftClient =
    new GraftClient(SemanticRegistry.fromFile(path))
}
