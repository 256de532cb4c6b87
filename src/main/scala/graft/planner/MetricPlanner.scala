package graft.planner

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions.broadcast

import graft.catalog._
import graft.sources.Tables

/** Compiled form of a metric query: the rendered SQL text (IR #3, parity
  * with `rendered_sql`, dbt_query.py:100-104) and `df`, the analyzed
  * Catalyst plan of exactly that text (IR #2 — parity with the
  * reference's dataflow plan, dbt_query.py:117). The SQL is in the
  * portable Spark∩DuckDB subset, so the text Spark runs is the text the
  * DuckDB oracle checks. */
final case class CompiledMetricQuery(df: DataFrame, sql: String)

final case class ExplainResult(
    sql: String,
    sqlWithDescriptions: String,
    planText: String,
    dot: String)

/** Request → SQL → DataFrame planner (SURVEY.md §2.2 M1–M11).
  *
  * Deliberately a *plain Scala* planner: it renders each request once as
  * declarative SQL, and [[compile]] runs that text. Catalyst then does
  * predicate pushdown, column pruning, join selection and AQE
  * re-planning with zero custom rules. Table names in the text bind to
  * the request's own `Tables.load` frames — no session views — and
  * dimension tables flagged `small` carry an explicit `broadcast()`
  * hint: at 100 TB the fact side never moves for those joins; non-small
  * joins shuffle on their entity keys, which is the correct distributed
  * plan.
  */
final class MetricPlanner(val registry: SemanticRegistry) {

  /** Parse `dim` or `dim__granularity`. `metric_time__<gran>` resolves
    * to `timeDim` — the queried metric's own time dimension (MetricFlow's
    * virtual metric_time, which names "the metric's time axis" without
    * the caller knowing the physical column). */
  private def parseGroupBy(g: String,
      timeDim: Option[Dimension] = None): (Dimension, Option[String], String) = {
    val (base, gran) = g.split("__") match {
      case Array(b, gr) => (b, Some(gr.toLowerCase))
      case Array(b)     => (b, None)
      case _            => sys.error(s"bad group-by: $g")
    }
    val (dim, outBase) =
      if (base == "metric_time")
        (timeDim.getOrElse(sys.error("metric_time requires a metric with a time dimension")),
          "metric_time")
      else
        (registry.dimensionByName.getOrElse(base, sys.error(s"unknown dimension: $base")),
          base)
    gran.foreach { gr =>
      require(dim.isTime, s"granularity on non-time dimension: $g")
      require(granularities(gr), s"bad granularity: $gr")
    }
    (dim, gran, outBase)
  }

  /** Supported time granularities (MetricFlow exposes sub-day grains —
    * the reference's event pipelines run on 15-minute cadence). */
  private val granularities =
    Set("minute", "hour", "day", "week", "month", "quarter", "year")
  private def subDayGrain(g: String): Boolean = g == "minute" || g == "hour"

  /** Portable SQL for a time-grain bucket of `inner`. Day-and-coarser
    * buckets are DATEs; sub-day buckets stay TIMESTAMPs (an hour bucket
    * cast to DATE would collapse the day's 24 buckets into one).
    * `date_trunc` + `CAST AS DATE` parse identically in Spark and
    * DuckDB. */
  private def timeKeySql(gran: String, inner: String): String =
    if (subDayGrain(gran)) s"date_trunc('$gran', $inner)"
    else s"CAST(date_trunc('$gran', $inner) AS DATE)"

  /** Portable SQL expression for a (dimension, granularity) pair. */
  private def dimExpr(dim: Dimension, gran: Option[String]): String = gran match {
    case Some(g) => timeKeySql(g, dim.expr)
    case None    => dim.expr
  }

  /** Time key `k` shifted forward by n grains — the offset self-join
    * condition. DATE keys need the cast back (date + interval is a
    * timestamp in both engines); sub-day TIMESTAMP keys don't. */
  private def shiftKeySql(k: String, n: Int, grain: String): String =
    if (subDayGrain(grain)) s"$k + ${intervalSql(n, grain)}"
    else s"CAST($k + ${intervalSql(n, grain)} AS DATE)"

  private def outName(base: String, gran: Option[String]): String =
    gran.map(g => s"${base}__$g").getOrElse(base)

  /** Portable interval literal for shifting a date by `n` `grain`s.
    * week/quarter normalize to day/month counts (INTERVAL WEEK/QUARTER
    * literals are not portable across engines). */
  private def intervalSql(n: Int, grain: String): String = grain match {
    case "week"    => s"INTERVAL ${7 * n} DAY"
    case "quarter" => s"INTERVAL ${3 * n} MONTH"
    case g         => s"INTERVAL $n ${g.toUpperCase}"
  }

  /** Offset inputs required by the requested metrics, with the derived
    * metrics that use them. */
  private def offsetsFor(req: MetricQueryRequest): Seq[OffsetInput] =
    req.metrics.flatMap(registry.derivedByName.get).flatMap(_.offsetInputs).distinct

  /** The single time-granularity group-by key an offset metric shifts
    * on; offsets require exactly one (MetricFlow: offset metrics are
    * queried against metric_time). Returns (outName, granularity). */
  private def offsetTimeKey(groupBys: Seq[(Dimension, Option[String], String)],
      offsets: Seq[OffsetInput]): (String, String) = {
    val timeKeys = groupBys.collect { case (d, Some(g), b) if d.isTime => (outName(b, Some(g)), g) }
    require(timeKeys.size == 1,
      s"offset metrics require exactly one time-granularity group-by, got: ${timeKeys.map(_._1).mkString(",") }")
    val tk = timeKeys.head
    offsets.foreach { o =>
      require(o.grain == tk._2,
        s"offset grain '${o.grain}' must match the query's time granularity '${tk._2}'")
    }
    tk
  }

  /** Models whose dimensions appear (as whole words) in a predicate. */
  private def modelsReferenced(text: String): Seq[String] = {
    val owners = for {
      (dimName, owner) <- registry.dimensionOwner.toSeq
      if ("\\b" + java.util.regex.Pattern.quote(dimName) + "\\b").r
        .findFirstIn(text).isDefined
    } yield owner
    owners.distinct
  }

  def resolve(req: MetricQueryRequest): MetricQueryRequest =
    req.savedQuery match {
      case Some(name) =>
        registry.savedQueries.getOrElse(name, sys.error(s"unknown saved query: $name"))
      case None => req
    }

  /** Compile a request: render its SQL once ([[renderSql]]) and run that
    * text. The session's SQL parser parses it, and every model-table name
    * in it — in the main query, in CTE bodies and in subquery
    * expressions — binds to this request's own `Tables.load` frame,
    * `broadcast()`-hinted when the model is `small`. Each table loads
    * once per request, and nothing is registered in the session, so
    * requests over different `dir`s never see each other's tables. CTE
    * names never collide with model tables.
    *
    * One CTE binds differently: the offset shape's grain aggregate
    * ([[OffsetCte]]), which both self-join sides read, binds to ONE lazy
    * local checkpoint of its own bound body. Spark inlines a CTE per
    * reference, and plan-level exchange reuse can't match the two copies
    * (the join pushes an extra null-filter under the shifted side and
    * re-aliases it), so without the checkpoint the FACT would be
    * aggregated once per side. The checkpoint holds grain-cardinality
    * rows (dozens), and being lazy it costs nothing until the query
    * actually runs. */
  def compile(spark: SparkSession, dir: String, req: MetricQueryRequest): CompiledMetricQuery = {
    val sql = renderSql(req, withDescriptions = false)
    val loaded = mutable.Map[String, LogicalPlan]()
    // Plain load: metric plans are probe+aggregate shaped — a
    // parallelism-floor exchange here costs more than the single-
    // partition probe saves (measured at sf0.1; see Tables.loadP docs
    // for where the floor DOES pay).
    def table(name: String): Option[LogicalPlan] =
      registry.models.find(_.table == name).map { m =>
        loaded.getOrElseUpdate(name, {
          val df = Tables.load(spark, dir, name)
          (if (m.small) broadcast(df) else df).queryExecution.analyzed
        })
      }
    def bind(plan: LogicalPlan, ctes: Map[String, LogicalPlan]): LogicalPlan = plan match {
      case u @ UnresolvedRelation(Seq(name), _, _) =>
        ctes.get(name).orElse(table(name)).map(SubqueryAlias(name, _)).getOrElse(u)
      case w: UnresolvedWith =>
        val (offset, rest) = w.cteRelations.partition(_._1 == OffsetCte)
        val inner = ctes ++ offset.map { case (name, body, _) =>
          name -> GraftSqlBridge.ofRows(spark, bind(body.child, ctes))
            .localCheckpoint(false).queryExecution.analyzed
        }
        val child = bind(w.child, inner)
        if (rest.isEmpty) child
        else w.copy(child = child, cteRelations = rest.map { case (name, body, depth) =>
          (name, body.copy(child = bind(body.child, inner)), depth)
        })
      case p => p.mapChildren(bind(_, ctes)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(bind(s.plan, ctes))
      }
    }
    val plan = bind(GraftSqlBridge.parsePlan(spark, sql), Map.empty)
    CompiledMetricQuery(GraftSqlBridge.ofRows(spark, plan), sql)
  }

  /** The offset shape's grain-aggregate CTE (see [[compile]]). */
  private val OffsetCte = "agg"

  /** Grains of a cross-model or conversion request (`what` names the
    * kind in errors). Group-bys must be `metric_time__<gran>`; `where`
    * is rejected, because a raw predicate can name neither a single
    * owning fact nor base vs conversion rows. */
  private def metricTimeGrans(req: MetricQueryRequest, what: String): Seq[String] = {
    require(req.where.isEmpty,
      s"$what support metric_time group-bys and time constraints only")
    req.groupBy.map { g =>
      g.split("__") match {
        case Array("metric_time", gr) if granularities(gr.toLowerCase) => gr.toLowerCase
        case _ => sys.error(s"$what group by metric_time__<granularity>, got: $g")
      }
    }
  }

  /** The request's time-range predicates on `col` (midnight bounds,
    * inclusive); `col` is evaluated only when a bound is set. */
  private def timeRangeSql(req: MetricQueryRequest, col: => String): Seq[String] =
    req.startTime.map(s => s"$col >= TIMESTAMP '$s 00:00:00'").toSeq ++
      req.endTime.map(e => s"$col <= TIMESTAMP '$e 00:00:00'")

  /** `ORDER BY` — requested keys first, then every group key as a
    * tie-breaker so the output order is total (oracle-hash stable) —
    * and `LIMIT`, each followed by its description note. */
  private def orderLimitSql(req: MetricQueryRequest, keyNames: Seq[String],
      orderNote: String = "", limitNote: String = ""): String = {
    val items = req.orderBy.map { o =>
      if (o.startsWith("-")) s"${o.drop(1)} DESC" else s"$o ASC"
    } ++ keyNames.map(k => s"$k ASC")
    (if (items.nonEmpty) s"\nORDER BY ${items.mkString(", ")}$orderNote" else "") +
      req.limit.map(n => s"\nLIMIT $n$limitNote").getOrElse("")
  }

  /** One aggregate per (fact model, metric filter) pair — metric
    * filters sub-split a model's metrics exactly like the single-model
    * path; in cross-model mode a filter may reference only the fact's
    * own columns (no dimension joins inside the per-fact aggregates).
    * Each group carries its shared time dimension. */
  private def crossModelGroups(ms: Seq[Metric]): Seq[(String, Option[String], Seq[Metric], Dimension)] =
    ms.map(m => (m.model, m.filterSql)).distinct.map { case (model, f) =>
      val group = ms.filter(m => m.model == model && m.filterSql == f)
      val tds = group.map(m => m.timeDim.getOrElse(
        sys.error(s"metric ${m.name} has no time dimension"))).distinct
      require(tds.size == 1,
        s"metrics on $model disagree on time dimension: ${tds.mkString(",")}")
      (model, f, group, registry.dimensionByName(tds.head))
    }

  // ------------------------------------------------------ conversion
  /** The funnel a conversion metric counts over. Distinct funnels among
    * the requested metrics are each aggregated once, even when both
    * `conversions` and `conversion_rate` are requested over one. */
  private def funnel(m: ConversionMetric) =
    (m.model, m.entity, m.timeDim, m.baseFilterSql, m.conversionFilterSql, m.windowDays)

  /** Conversion metrics (MetricFlow's fifth metric type): BASE events
    * with an `EXISTS` over CONVERSION events of the same entity inside
    * the attribution window — a left-semi join, so a base event with ≥1
    * conversion counts exactly once however many conversions follow —
    * counted at the requested grain and LEFT-joined back to the base
    * counts. Every requested metric must be a conversion metric (no
    * mixing).
    *
    * Scale shape: the semi-join shuffles base and conversion rows on
    * the ENTITY key — the minimum possible co-location for funnel
    * attribution — and everything after it is grain-cardinality. The
    * base and conversion rows are column-pruned slices of one fact scan
    * each (predicate pushed); no row ever carries more than
    * (entity, time). */
  private def renderConversionSql(req: MetricQueryRequest,
      withDescriptions: Boolean): String = {
    val cms = req.metrics.map(n => registry.conversionByName.getOrElse(n,
      sys.error(s"cannot mix conversion metrics with other metrics: $n")))
    val grans = metricTimeGrans(req, "conversion metric queries")
    val keyNames = grans.map(gr => s"metric_time__$gr")
    val defs = cms.map(funnel).distinct
    def desc(s: String): String = if (withDescriptions) s"  -- $s" else ""

    val ctes = defs.zipWithIndex.flatMap { case ((model, entity, timeDim, bf, cf, w), i) =>
      val table = registry.modelByName(model).table
      val baseWhere = (bf +: timeRangeSql(req, timeDim)).mkString(" AND ")
      val keyItems = grans.map(gr =>
        s"${timeKeySql(gr, "ts")} AS metric_time__$gr")
      def groupBy(n: Int): String =
        if (n > 0) s"\n  GROUP BY ${(1 to n).map(_.toString).mkString(", ")}" else ""
      Seq(
        s"base$i AS (\n  SELECT $entity AS entity, $timeDim AS ts FROM $table" +
          s"\n  WHERE $baseWhere)" + desc("base events (time-ranged)"),
        s"conv$i AS (\n  SELECT $entity AS entity, $timeDim AS ts FROM $table" +
          s"\n  WHERE $cf)" + desc("conversion events"),
        s"b$i AS (\n  SELECT ${(keyItems :+ s"CAST(COUNT(*) AS BIGINT) AS base_events").mkString(",\n         ")}" +
          s"\n  FROM base$i${groupBy(grans.length)})",
        s"c$i AS (\n  SELECT ${(keyItems :+ s"CAST(COUNT(*) AS BIGINT) AS conversions").mkString(",\n         ")}" +
          s"\n  FROM base$i b\n  WHERE EXISTS (\n    SELECT 1 FROM conv$i cv" +
          s"\n    WHERE cv.entity = b.entity AND cv.ts > b.ts" +
          s"\n      AND cv.ts <= b.ts + INTERVAL $w DAY)${groupBy(grans.length)})" +
          desc("base events with >=1 conversion in the window, counted once"))
    }
    def metricItem(m: ConversionMetric): String = {
      val i = defs.indexOf(funnel(m))
      val item = m.calculation match {
        case "conversions" => s"COALESCE(c$i.conversions, 0) AS ${m.name}"
        case "conversion_rate" =>
          s"CAST(COALESCE(c$i.conversions, 0) AS DOUBLE) / b$i.base_events AS ${m.name}"
      }
      item + (if (withDescriptions && m.description.nonEmpty) s"  -- ${m.description}" else "")
    }
    // Grain keys must survive a key present in only ONE funnel's b_i:
    // COALESCE across every b_i, as a USING join coalesces its key
    // (b0.k alone would be NULL for such keys).
    def keyExpr(k: String): String =
      if (defs.length == 1) s"b0.$k"
      else s"COALESCE(${defs.indices.map(i => s"b$i.$k").mkString(", ")})"
    val selectItems = keyNames.map(k => s"${keyExpr(k)} AS $k") ++ cms.map(metricItem)
    val joins = defs.indices.flatMap { i =>
      val cJoin =
        if (keyNames.isEmpty) Seq(s"CROSS JOIN c$i")
        else Seq(s"LEFT JOIN c$i ON ${keyNames.map(k => s"b$i.$k = c$i.$k").mkString(" AND ")}")
      val bJoin =
        if (i == 0) Nil
        else if (keyNames.isEmpty) Seq(s"CROSS JOIN b$i")
        else {
          // Progressive key coalescing ≡ chained USING joins: b_i must
          // match keys introduced by ANY earlier funnel.
          def priorKey(k: String): String =
            if (i == 1) s"b0.$k"
            else s"COALESCE(${(0 until i).map(j => s"b$j.$k").mkString(", ")})"
          Seq(s"FULL OUTER JOIN b$i ON ${keyNames.map(k => s"${priorKey(k)} = b$i.$k").mkString(" AND ")}")
        }
      bJoin ++ cJoin
    }.mkString("\n")
    s"WITH ${ctes.mkString(",\n")}" +
      s"\nSELECT ${selectItems.mkString(",\n       ")}\nFROM b0\n$joins" +
      desc("funnel attribution at grain cardinality") + orderLimitSql(req, keyNames)
  }

  /** Cross-model metric queries — MetricFlow's `metric_time` join:
    * metrics from DIFFERENT fact models are each aggregated to the
    * shared time grain over their OWN time dimension, then the per-fact
    * aggregates are FULL OUTER JOINed on the grain key (a month where
    * only one fact has rows keeps the other metric NULL, exactly
    * MetricFlow's semantics).
    *
    * Scale shape: each fact aggregates independently with partial aggs
    * (no fact-to-fact shuffle — the facts never join at row grain);
    * the outer join runs at GRAIN cardinality (dozens of rows), which
    * is why cross-model metrics stay cheap at 100 TB. */
  private def renderCrossModelSql(req: MetricQueryRequest, ms: Seq[Metric],
      withDescriptions: Boolean): String = {
    val grans = metricTimeGrans(req, "cross-model metric queries")
    require(grans.nonEmpty, "cross-model queries need a metric_time group-by")
    val keyNames = grans.map(gr => s"metric_time__$gr")
    def desc(s: String): String = if (withDescriptions) s"  -- $s" else ""

    val groups = crossModelGroups(ms)
    val ctes = groups.zipWithIndex.map { case ((model, mf, group, td), i) =>
      val timeParts = timeRangeSql(req, td.expr) ++ mf
      val keyItems = grans.map(gr =>
        s"${timeKeySql(gr, td.expr)} AS metric_time__$gr")
      val aggItems = group.map(m => s"${m.aggSql} AS ${m.name}")
      val where = if (timeParts.nonEmpty) s"\n  WHERE ${timeParts.mkString(" AND ")}" else ""
      s"m$i AS (\n  SELECT ${(keyItems ++ aggItems).mkString(",\n         ")}" +
        s"\n  FROM ${registry.modelByName(model).table}$where" +
        s"\n  GROUP BY ${grans.indices.map(_ + 1).mkString(", ")})"
    }
    def metricExpr(name: String): String = registry.derivedByName.get(name)
      .map(_.exprSql).getOrElse(name)
    val selectItems = keyNames ++ req.metrics.map(n =>
      if (registry.isDerived(n)) s"${metricExpr(n)} AS $n" else n)
    val joins = groups.indices.tail.map(i =>
      s"FULL OUTER JOIN m$i USING (${keyNames.mkString(", ")})").mkString("\n")
    s"WITH ${ctes.mkString(",\n")}" + desc("one aggregate per fact model") +
      s"\nSELECT ${selectItems.mkString(", ")}" +
      s"\nFROM m0\n$joins" + desc("metric_time join at grain cardinality") +
      orderLimitSql(req, keyNames)
  }

  /** Render the request as SQL (IR #3). With `withDescriptions`, inline
    * `-- comments` annotate each clause (parity with the reference's
    * rendered_sql vs rendered_sql_without_descriptions,
    * dbt_query.py:36-40,100-104). */
  def renderSql(req0: MetricQueryRequest, withDescriptions: Boolean): String = {
    val req = resolve(req0)
    require(req.metrics.nonEmpty, "at least one metric required")
    if (req.metrics.exists(registry.conversionByName.contains))
      return renderConversionSql(req, withDescriptions)
    val ms = registry.baseMetricsFor(req.metrics).map(registry.metric)
    if (ms.map(_.model).distinct.size > 1)
      return renderCrossModelSql(req, ms, withDescriptions)
    val factModel = ms.head.model
    val timeDim = ms.head.timeDim.map(registry.dimensionByName)
    val groupBys = req.groupBy.map(parseGroupBy(_, timeDim))
    val needed: Seq[String] =
      (Seq(factModel) ++
        groupBys.map { case (d, _, _) => registry.dimensionOwner(d.name) } ++
        req.where.toSeq.flatMap(modelsReferenced) ++
        ms.flatMap(_.filterSql).flatMap(modelsReferenced)).distinct
    val linksInOrder = needed.flatMap(m => registry.joinPath(factModel, m)).distinct

    def desc(s: String): String = if (withDescriptions) s"  -- $s" else ""

    // a derived metric renders as its expression with each input name
    // substituted by that input's aggregate SQL — the query stays a
    // single SELECT, portable to both engines
    def metricSql(name: String): String = registry.derivedByName.get(name) match {
      case Some(dm) =>
        dm.inputs.foldLeft(dm.exprSql) { (e, in) =>
          e.replaceAll("\\b" + java.util.regex.Pattern.quote(in) + "\\b",
            s"(${registry.metric(in).aggSql})")
        }
      case None => registry.metric(name).aggSql
    }
    def metricDesc(name: String): String = {
      val d = registry.derivedByName.get(name).map(_.description)
        .getOrElse(registry.metric(name).description)
      if (withDescriptions && d.nonEmpty) s"  -- $d" else ""
    }
    val selectItems =
      groupBys.map { case (d, g, b) => s"${dimExpr(d, g)} AS ${outName(b, g)}" } ++
      req.metrics.map(n => s"${metricSql(n)} AS $n" + metricDesc(n))

    // base filters (request where + time range) apply to every metric;
    // a metric's own filterSql applies to its input rows only
    val baseWhere = req.where.toSeq ++ timeRangeSql(req, timeDim.getOrElse(
      sys.error("time constraint but metric has no time dimension")).expr)
    val groupExprs = groupBys.map { case (d, g, _) => dimExpr(d, g) }
    val keyNames = groupBys.map { case (_, g, b) => outName(b, g) }

    def fromJoins: String = {
      val sb = new StringBuilder
      sb ++= s"FROM ${registry.modelByName(factModel).table}" + desc("fact model")
      for (l <- linksInOrder) {
        val m = registry.modelByName(l.toModel)
        sb ++= s"\nJOIN ${m.table} ON ${l.fromCol} = ${m.key}" +
          desc(s"dimension join (M3)${if (m.small) ", broadcast" else ""}")
      }
      sb.result()
    }

    val filterGroups: Seq[(Option[String], Seq[Metric])] =
      ms.map(_.filterSql).distinct.map(f => f -> ms.filter(_.filterSql == f))

    val offsets = offsetsFor(req)
    if (offsets.nonEmpty) {
      // offset metrics: aggregate once in a CTE, LEFT-join it to itself
      // with the time key shifted — the prior-period value appears on
      // the current row under the offset alias (MetricFlow's compiled
      // offset_window shape)
      require(filterGroups.size == 1,
        "offset metrics cannot mix with differently-filtered metrics in one request")
      val (timeKey, _) = offsetTimeKey(groupBys, offsets)
      val shifts = offsets.groupBy(o => (o.n, o.grain)).toSeq.sortBy(_._1)
      val aliasFrame: Map[String, String] = (for {
        (((_, _), os), i) <- shifts.zipWithIndex
        o <- os
      } yield o.alias -> s"p$i").toMap
      val aggItems =
        groupBys.map { case (d, g, b) => s"${dimExpr(d, g)} AS ${outName(b, g)}" } ++
        ms.map(m => s"${m.aggSql} AS ${m.name}")
      val where = baseWhere ++ filterGroups.head._1
      val cte = s"$OffsetCte AS (\n  SELECT ${aggItems.mkString(",\n         ")}" +
        s"\n  ${fromJoins.replace("\n", "\n  ")}" +
        (if (where.nonEmpty) s"\n  WHERE ${where.mkString(" AND ")}" else "") +
        (if (groupBys.nonEmpty)
          s"\n  GROUP BY ${groupBys.indices.map(_ + 1).mkString(", ")}" else "") + ")"
      def offsetMetricSql(name: String): String =
        registry.derivedByName.get(name) match {
          case Some(dm) =>
            val withAliases = dm.offsetInputs.foldLeft(dm.exprSql) { (e, o) =>
              e.replaceAll("\\b" + java.util.regex.Pattern.quote(o.alias) + "\\b",
                s"${aliasFrame(o.alias)}.${o.input}")
            }
            // (?<![.\w]) keeps qualified names intact: after the alias
            // pass, `p0.revenue` must not re-match the input `revenue`
            dm.inputs.foldLeft(withAliases) { (e, in) =>
              e.replaceAll("(?<![.\\w])" + java.util.regex.Pattern.quote(in) + "\\b", s"a.$in")
            } + s" AS $name" + metricDesc(name)
          case None => s"a.$name AS $name" + metricDesc(name)
        }
      val outItems = keyNames.map(k => s"a.$k AS $k") ++ req.metrics.map(offsetMetricSql)
      val joins = shifts.zipWithIndex.map { case (((n, grain), _), i) =>
        val conds = s"a.$timeKey = ${shiftKeySql(s"p$i.$timeKey", n, grain)}" +:
          keyNames.filter(_ != timeKey).map(k => s"a.$k = p$i.$k")
        s"LEFT JOIN $OffsetCte p$i ON ${conds.mkString(" AND ")}" +
          desc(s"prior-period self-join (offset $n $grain, grain cardinality)")
      }.mkString("\n")
      return s"WITH $cte" + desc("one aggregate pass; offsets join it to itself") +
        s"\nSELECT ${outItems.mkString(", ")}\nFROM $OffsetCte a\n$joins" +
        orderLimitSql(req, keyNames)
    }

    if (filterGroups.size > 1) {
      // one aggregate subquery per metric filter group, joined on the
      // group keys — MetricFlow's compiled shape for filtered metrics
      val ctes = filterGroups.zipWithIndex.map { case ((f, group), i) =>
        val items =
          groupBys.map { case (d, g, b) => s"${dimExpr(d, g)} AS ${outName(b, g)}" } ++
          group.map(m => s"${m.aggSql} AS ${m.name}" + metricDesc(m.name))
        val where = baseWhere ++ f
        s"f$i AS (\n  SELECT ${items.mkString(",\n         ")}" +
          s"\n  ${fromJoins.replace("\n", "\n  ")}" +
          (if (where.nonEmpty) s"\n  WHERE ${where.mkString(" AND ")}" +
            desc("base constraints + this group's metric filter") else "") +
          (if (groupExprs.nonEmpty)
            s"\n  GROUP BY ${groupBys.indices.map(_ + 1).mkString(", ")}" else "") +
          ")"
      }
      val outItems = keyNames ++ req.metrics.map { n =>
        registry.derivedByName.get(n).map(dm => s"${dm.exprSql} AS $n")
          .getOrElse(n) + metricDesc(n)
      }
      val joins = filterGroups.indices.tail.map { i =>
        if (keyNames.nonEmpty) s"FULL OUTER JOIN f$i USING (${keyNames.mkString(", ")})"
        else s"CROSS JOIN f$i"
      }.mkString("\n")
      return s"WITH ${ctes.mkString(",\n")}" +
        desc("one aggregate per metric-filter group") +
        s"\nSELECT ${outItems.mkString(", ")}\nFROM f0\n$joins" +
        orderLimitSql(req, keyNames)
    }

    val whereParts = baseWhere ++ filterGroups.head._1
    val sb = new StringBuilder
    sb ++= "SELECT" + desc("metric projection (dbt_query.py:77-86 surface)") + "\n  "
    sb ++= selectItems.mkString(",\n  ")
    sb ++= "\n" + fromJoins
    if (whereParts.nonEmpty)
      sb ++= s"\nWHERE ${whereParts.mkString(" AND ")}" + desc("where + time constraints (M4/M5)")
    if (groupExprs.nonEmpty)
      sb ++= s"\nGROUP BY ${groupExprs.mkString(", ")}" + desc("dimensions (M2)")
    sb ++= orderLimitSql(req, keyNames, desc("order (M6)"), desc("limit (M7)"))
    sb.result()
  }

  /** M9/M10 explain surface: SQL, optimizer plan text, DOT graph —
    * without executing (parity with dbt_query.py:91-133). */
  def explain(spark: SparkSession, dir: String, req: MetricQueryRequest): ExplainResult = {
    val c = compile(spark, dir, req)
    ExplainResult(c.sql, renderSql(req, withDescriptions = true),
      c.df.queryExecution.optimizedPlan.treeString,
      PlanDot.toDot(c.df))
  }

  /** M11: per-dimension query fan-out for one metric — one grouped query
    * per accompanying dimension (parity with dbt_query.py:156-183 /
    * dbt_query2.py:46-80, which write one `<metric>_by_<dim>.sql` each). */
  def dumpQueries(metricName: String): Seq[(String, MetricQueryRequest, String)] =
    for (d <- registry.dimensionsForMetric(metricName) if !d.isTime) yield {
      val req = MetricQueryRequest(metrics = Seq(metricName), groupBy = Seq(d.name))
      (s"${metricName}_by_${d.name}", req, renderSql(req, withDescriptions = false))
    }
}

/** Tiny DOT emitter over the optimized logical plan (M10 parity with
  * display_dag_as_svg, dbt_query.py:127-132 — we emit DOT text; SVG
  * rendering is a presentation concern). */
object PlanDot {
  def toDot(df: DataFrame): String = {
    val plan = df.queryExecution.optimizedPlan
    val sb = new StringBuilder("digraph plan {\n  node [shape=box];\n")
    var id = 0
    def walk(node: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      val me = id; id += 1
      val label = node.nodeName
      sb ++= s"""  n$me [label="$label"];\n"""
      node.children.foreach { ch =>
        val c = walk(ch)
        sb ++= s"  n$c -> n$me;\n"
      }
      me
    }
    walk(plan)
    sb ++= "}\n"
    sb.result()
  }

  /** Self-contained SVG rendering of the plan DAG (full parity with
    * the reference's display_dag_as_svg, dbt_query.py:127-132, which
    * shells out to graphviz; here a pure-Scala layered tree layout —
    * no external renderer). Leaves on top, root at the bottom; each
    * node a labeled box, each edge a line. Driver-side presentation
    * over the LOGICAL plan: O(plan nodes), never touches data. */
  def toSvg(df: DataFrame): String = {
    final case class N(id: Int, label: String, x: Double, y: Int)
    val nodes = scala.collection.mutable.ArrayBuffer[N]()
    val edges = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var id = 0
    var leafX = 0
    var maxDepth = 0
    def walk(node: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        depth: Int): N = {
      val me = id; id += 1
      maxDepth = math.max(maxDepth, depth)
      val kids = node.children.map(walk(_, depth + 1))
      val x = if (kids.isEmpty) { leafX += 1; leafX - 1.0 }
        else kids.map(_.x).sum / kids.size
      val n = N(me, node.nodeName, x, depth)
      nodes += n
      kids.foreach(k => edges += ((k.id, me)))
      n
    }
    walk(df.queryExecution.optimizedPlan, 0)
    val (bw, bh, gx, gy, pad) = (150, 28, 30, 50, 20)
    def px(n: N): Double = pad + n.x * (bw + gx)
    def py(n: N): Int = pad + (maxDepth - n.y) * (bh + gy)
    val byId = nodes.map(n => n.id -> n).toMap
    val w = pad * 2 + math.max(leafX, 1) * (bw + gx) - gx
    val h = pad * 2 + (maxDepth + 1) * (bh + gy) - gy
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;")
    val sb = new StringBuilder(
      s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h">\n""")
    for ((c, p) <- edges) {
      val (a, b) = (byId(c), byId(p))
      sb ++= s"""  <line x1="${px(a) + bw / 2}" y1="${py(a) + bh}" """ +
        s"""x2="${px(b) + bw / 2}" y2="${py(b)}" stroke="black"/>\n"""
    }
    for (n <- nodes) {
      sb ++= s"""  <rect x="${px(n)}" y="${py(n)}" width="$bw" height="$bh" """ +
        "fill=\"white\" stroke=\"black\"/>\n"
      sb ++= s"""  <text x="${px(n) + bw / 2}" y="${py(n) + bh / 2 + 4}" """ +
        s"""text-anchor="middle" font-size="11">${esc(n.label)}</text>\n"""
    }
    sb ++= "</svg>\n"
    sb.result()
  }
}
