package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.catalog._
import graft.planner.{MetricPlanner, PlanDot}
import graft.sources.Tables

class PlannerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  private val planner = new MetricPlanner(DefaultRegistry.registry)

  /** Two DISTINCT conversion funnels with disjoint-ish base slices, so
    * some grain keys exist in only one funnel's base aggregate. */
  private lazy val multiFunnel = {
    val reg = DefaultRegistry.registry
    new MetricPlanner(new SemanticRegistry(
      models = reg.models, links = reg.links, metrics = reg.metrics,
      conversionMetrics = Seq(
        ConversionMetric("conv_a", "events", "user_id", "ts",
          "event_type = 'view' AND pmod(user_id, 7) = 0",
          "event_type = 'purchase'", windowDays = 1, calculation = "conversions"),
        ConversionMetric("conv_b", "events", "user_id", "ts",
          "event_type = 'view' AND pmod(user_id, 7) = 3",
          "event_type = 'purchase'", windowDays = 1, calculation = "conversions"),
        ConversionMetric("rate_b", "events", "user_id", "ts",
          "event_type = 'view' AND pmod(user_id, 7) = 3",
          "event_type = 'purchase'", windowDays = 1, calculation = "conversion_rate"))))
  }
  private val multiFunnelReq = MetricQueryRequest(
    metrics = Seq("conv_a", "conv_b", "rate_b"), groupBy = Seq("metric_time__day"))

  test("registry rejects duplicate dimension names across models") {
    val ex = intercept[IllegalArgumentException] {
      new SemanticRegistry(
        models = Seq(
          SemanticModel("a", "ta", "k", Seq(Dimension("dup", "dup"))),
          SemanticModel("b", "tb", "k", Seq(Dimension("dup", "dup")))),
        links = Nil, metrics = Nil)
    }
    assert(ex.getMessage.contains("dup"))
  }

  test("saved query resolves and runs (flagship slice)") {
    val df = planner.compile(spark, dir,
      MetricQueryRequest(metrics = Seq("revenue"), savedQuery = Some("revenue_by_month"))).df
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(df.columns.toSeq == Seq("o_orderdate__month", "revenue"))
    // descending revenue order
    val revs = rows.map(_.getDouble(1))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("rendered SQL executes in Spark and matches the DataFrame result") {
    Tables.registerAll(spark, dir)
    val shapes = Seq(
      MetricQueryRequest(metrics = Seq("revenue"), savedQuery = Some("revenue_by_month")),
      MetricQueryRequest(metrics = Seq("revenue", "order_count"),
        groupBy = Seq("r_name", "n_name"), orderBy = Seq("-revenue")),
      MetricQueryRequest(metrics = Seq("total_qty"), groupBy = Seq("p_brand"),
        where = Some("p_type LIKE '%ECONOMY%'")),
      // derived ratio metric, alone and next to a base input
      MetricQueryRequest(metrics = Seq("avg_order_value"),
        groupBy = Seq("o_orderpriority")),
      MetricQueryRequest(metrics = Seq("avg_order_value", "revenue"),
        groupBy = Seq("l_returnflag")),
      // offset (bound to its checkpointed aggregate), ordered by a base metric
      MetricQueryRequest(metrics = Seq("revenue", "revenue_mom_growth"),
        groupBy = Seq("metric_time__month"),
        startTime = Some("1995-01-01"), endTime = Some("1996-06-01"),
        orderBy = Seq("-revenue"), limit = Some(10)),
      // cross-model metric_time join, with a derived metric
      MetricQueryRequest(metrics = Seq("revenue", "event_value", "avg_order_value"),
        groupBy = Seq("metric_time__quarter"), startTime = Some("1995-01-01")),
      // percentile measures
      MetricQueryRequest(metrics = Seq("median_event_value", "p90_event_value"),
        groupBy = Seq("event_type")),
      // one aggregate per metric-filter group, outer-joined
      MetricQueryRequest(metrics = Seq("revenue", "returned_revenue", "urgent_revenue"),
        groupBy = Seq("c_mktsegment"), orderBy = Seq("-revenue")),
      // sub-day grain
      MetricQueryRequest(metrics = Seq("event_value"), groupBy = Seq("metric_time__hour"),
        startTime = Some("2024-01-02"), endTime = Some("2024-01-03"))
    ).map(planner -> _) :+ (multiFunnel -> multiFunnelReq)
    for ((p, req) <- shapes) {
      val c = p.compile(spark, dir, req)
      val viaSql = spark.sql(c.sql).collect().map(_.toString)
      val viaDf = c.df.collect().map(_.toString)
      assert(viaSql.sameElements(viaDf), s"sql/df mismatch for $req")
      assert(viaDf.nonEmpty, s"empty result compares nothing for $req")
    }
  }

  test("compile binds model tables to its dir, never to session views of the same names") {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val reqs = Seq(
      MetricQueryRequest(metrics = Seq("revenue"), groupBy = Seq("r_name", "n_name"),
        where = Some("l_suppkey IN (SELECT s_suppkey FROM supplier WHERE pmod(s_suppkey, 2) = 0)")),
      MetricQueryRequest(metrics = Seq("revenue", "revenue_mom_growth"),
        groupBy = Seq("metric_time__month", "r_name"),
        startTime = Some("1995-01-01"), endTime = Some("1995-12-31")),
      MetricQueryRequest(metrics = Seq("revenue", "event_value"),
        groupBy = Seq("metric_time__month")),
      MetricQueryRequest(metrics = Seq("view_to_purchase_count", "view_to_purchase_rate"),
        groupBy = Seq("metric_time__day")))
    val expected = reqs.map(r => planner.compile(spark, dir, r).df.collect().toSeq)
    // views of every model table over a 20-row copy in another directory
    val other = java.nio.file.Files.createTempDirectory("graft-other-fixture").toString
    val models = DefaultRegistry.registry.models.map(_.table)
    val before = spark.catalog.listTables().collect().map(t => (t.name, t.isTemporary)).toSet
    try {
      for (t <- models) {
        Tables.load(spark, dir, t).limit(20).write.parquet(s"$other/$t.parquet")
        Tables.load(spark, other, t).createOrReplaceTempView(t)
      }
      val views = spark.catalog.listTables().collect().map(t => (t.name, t.isTemporary)).toSet
      def file(uri: String) = new java.io.File(new java.net.URI(uri)).getCanonicalFile
      val root = new java.io.File(dir).getCanonicalPath + java.io.File.separator
      for ((req, want) <- reqs.zip(expected)) {
        val c = planner.compile(spark, dir, req)
        // CTE bodies and subqueries bind too: no file outside dir, and
        // the answer (the offset's checkpointed body included) is dir's
        val outside = c.df.inputFiles.filterNot(file(_).getPath.startsWith(root))
        assert(outside.isEmpty, s"$req read ${outside.mkString(", ")}")
        assert(c.df.collect().toSeq == want, s"$req answered from the views")
      }
      assert(spark.catalog.listTables().collect().map(t => (t.name, t.isTemporary)).toSet == views,
        "compile must leave the session catalog as it found it")
      // small dimensions carry a broadcast hint in the bound plan
      val hinted = planner.compile(spark, dir, reqs.head).df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          GraftSqlBridge.ofRows(spark, h.child).inputFiles.toSeq
      }.flatten.map(file(_).getName)
      assert(hinted.toSet == Set("nation.parquet", "region.parquet"), hinted)
    } finally {
      for (t <- models) {
        if (before((t, true))) Tables.load(spark, dir, t).createOrReplaceTempView(t)
        else spark.catalog.dropTempView(t)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(other))
    }
  }

  test("explain produces SQL, plan text and DOT without executing") {
    val e = planner.explain(spark, dir,
      MetricQueryRequest(metrics = Seq("revenue"), groupBy = Seq("n_name")))
    assert(e.sql.contains("GROUP BY"))
    assert(e.sqlWithDescriptions.contains("--"))
    assert(!e.sql.contains("--"))
    assert(e.planText.nonEmpty)
    assert(e.dot.startsWith("digraph") && e.dot.contains("->"))
  }

  test("per-dimension fan-out covers all reachable non-time dimensions") {
    val dumps = planner.dumpQueries("revenue")
    val names = dumps.map(_._1)
    assert(names.contains("revenue_by_o_orderpriority"))
    assert(names.contains("revenue_by_r_name"))
    assert(names.contains("revenue_by_p_brand"))
    assert(dumps.forall(_._3.contains("GROUP BY")))
  }

  test("unknown metric / dimension fail fast") {
    intercept[RuntimeException] {
      planner.compile(spark, dir, MetricQueryRequest(metrics = Seq("nope")))
    }
    intercept[RuntimeException] {
      planner.compile(spark, dir,
        MetricQueryRequest(metrics = Seq("revenue"), groupBy = Seq("nope")))
    }
    // no metric: the renderer's own check, for compile and every render
    for (run <- Seq[() => Any](
        () => planner.renderSql(MetricQueryRequest(Nil), withDescriptions = false),
        () => planner.compile(spark, dir, MetricQueryRequest(Nil)))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("at least one metric required"), e.getMessage)
    }
  }

  test("time granularity only on time dimensions") {
    intercept[IllegalArgumentException] {
      planner.compile(spark, dir,
        MetricQueryRequest(metrics = Seq("revenue"), groupBy = Seq("n_name__month")))
    }
  }

  test("where clause referencing a foreign dimension pulls in its join") {
    // no groupBy on nation, but the predicate references n_name — the
    // planner must include the lineitem→…→nation join path
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue"), where = Some("n_name = 'NATION_7'")))
    assert(c.sql.contains("JOIN nation"))
    assert(c.df.collect().length == 1) // global agg, one row
  }

  test("second fact model (events) compiles and aggregates") {
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("event_value"), groupBy = Seq("event_type"),
      orderBy = Seq("-event_value")))
    val rows = c.df.collect()
    assert(rows.nonEmpty)
    assert(c.df.columns.toSeq == Seq("event_type", "event_value"))
    val vals = rows.map(_.getDouble(1))
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b })
    // events is its own island in the join graph — no star joins rendered
    assert(!c.sql.contains("JOIN"))
  }

  test("derived metric: ratio equals inputs' quotient, inputs don't leak") {
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("avg_order_value"), groupBy = Seq("o_orderpriority")))
    assert(c.df.columns.toSeq == Seq("o_orderpriority", "avg_order_value"))
    val full = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue", "order_count", "avg_order_value"),
      groupBy = Seq("o_orderpriority"))).df.collect()
    full.foreach { r =>
      assert(r.getDouble(3) == r.getDouble(1) / r.getLong(2), r.toString)
    }
  }

  test("manifest file reproduces the compiled-in registry exactly") {
    val loaded = SemanticRegistry.fromFile("manifests/semantic_manifest.yml")
    val ref = DefaultRegistry.registry
    assert(loaded.models == ref.models)
    assert(loaded.links == ref.links)
    assert(loaded.metrics == ref.metrics)
    assert(loaded.derivedMetrics == ref.derivedMetrics)
    assert(loaded.savedQueries == ref.savedQueries)
  }

  test("planner over the file-loaded registry matches the compiled-in planner") {
    val filePlanner = new MetricPlanner(
      SemanticRegistry.fromFile("manifests/semantic_manifest.yml"))
    val reqs = Seq(
      MetricQueryRequest(metrics = Seq("revenue"),
        savedQuery = Some("revenue_by_month")),
      MetricQueryRequest(metrics = Seq("revenue", "order_count"),
        groupBy = Seq("r_name", "n_name"), orderBy = Seq("-revenue")),
      MetricQueryRequest(metrics = Seq("avg_order_value"),
        groupBy = Seq("o_orderpriority")))
    for (req <- reqs) {
      val a = planner.compile(spark, dir, req)
      val b = filePlanner.compile(spark, dir, req)
      assert(a.sql == b.sql)
      assert(a.df.collect().toSeq == b.df.collect().toSeq)
    }
  }

  test("plan DAG renders as well-formed SVG with plan nodes and edges") {
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue"), groupBy = Seq("r_name")))
    val svg = PlanDot.toSvg(c.df)
    assert(svg.startsWith("<svg "))
    // well-formed XML: the JDK parser accepts it whole
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(svg.getBytes("UTF-8")))
    val rects = doc.getElementsByTagName("rect").getLength
    val lines = doc.getElementsByTagName("line").getLength
    assert(rects >= 3, s"expected a multi-node plan, got $rects boxes")
    assert(lines == rects - 1, "tree: one edge per non-root node")
    assert(svg.contains("Aggregate") && svg.contains("Join"), svg.take(500))
  }

  test("metric_time resolves to the metric's own time dimension (single model)") {
    val viaVirtual = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue"), groupBy = Seq("metric_time__month")))
    val viaPhysical = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue"), groupBy = Seq("l_shipdate__month")))
    assert(viaVirtual.df.columns.toSeq == Seq("metric_time__month", "revenue"))
    // same rows, only the group column name differs
    assert(viaVirtual.df.collect().map(r => r.getDate(0) -> r.getDouble(1)).toSeq ==
      viaPhysical.df.collect().map(r => r.getDate(0) -> r.getDouble(1)).toSeq)
    // a different metric resolves metric_time to ITS time dimension
    val ev = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("event_value"), groupBy = Seq("metric_time__day")))
    assert(ev.sql.contains("date_trunc('day', ts)"), ev.sql)
  }

  test("metric filter scopes only its own metric's input rows") {
    import org.apache.spark.sql.functions.{expr, sum}
    // single filtered metric: compiles to a plain WHERE
    val solo = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("returned_revenue"), groupBy = Seq("l_linestatus")))
    val manual = Tables.load(spark, dir, "lineitem")
      .filter(expr("l_returnflag = 'R'")).groupBy("l_linestatus")
      .agg(sum(expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))"))
        .cast("double").as("returned_revenue"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (r <- solo.df.collect())
      assert(r.getDouble(1) == manual(r.getString(0)), r.getString(0))
    assert(solo.sql.contains("l_returnflag = 'R'"))

    // mixed filters: one subquery per filter group, outer-joined; the
    // unfiltered metric must see ALL rows (not any metric's filter)
    val mixed = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue", "returned_revenue", "urgent_revenue"),
      groupBy = Seq("c_mktsegment"), orderBy = Seq("-revenue")))
    assert(mixed.df.columns.toSeq ==
      Seq("c_mktsegment", "revenue", "returned_revenue", "urgent_revenue"))
    val unfiltered = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue"), groupBy = Seq("c_mktsegment")))
      .df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (r <- mixed.df.collect()) {
      assert(r.getDouble(1) == unfiltered(r.getString(0)), "unfiltered drifted")
      assert(r.getDouble(2) < r.getDouble(1) && r.getDouble(3) < r.getDouble(1),
        "filtered metrics must be strict subsets here")
    }
    assert(mixed.sql.contains("FULL OUTER JOIN") && mixed.sql.contains("WITH f0"))
    // the urgent_revenue group's subquery must join orders in for its filter
    assert(mixed.sql.contains("o_orderpriority = '1-URGENT'"))

    // manifest round-trip carries the filter
    val fileReg = SemanticRegistry.fromFile("manifests/semantic_manifest.yml")
    assert(fileReg.metric("urgent_revenue").filterSql.contains("o_orderpriority = '1-URGENT'"))
  }

  test("cross-model metrics: per-fact aggregation joined at metric_time grain") {
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue", "event_value"),
      groupBy = Seq("metric_time__month")))
    assert(c.df.columns.toSeq ==
      Seq("metric_time__month", "revenue", "event_value"))
    val rows = c.df.collect()
    assert(rows.nonEmpty)
    // fixture facts live in disjoint eras: every grain row carries
    // exactly one non-null metric — the outer-join semantics visible
    assert(rows.forall(r => r.isNullAt(1) ^ r.isNullAt(2)))
    // rendered SQL is the CTE + FULL OUTER JOIN shape
    assert(c.sql.contains("FULL OUTER JOIN"))
    assert(c.sql.contains("metric_time__month"))
    // per-fact totals survive the join unchanged
    val viaSingle = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue"), groupBy = Seq("l_shipdate__month"))).df.collect()
      .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
    val viaCross = rows.filter(!_.isNullAt(1))
      .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
    assert(viaCross == viaSingle)
    // errors are explicit, not silent mis-plans
    intercept[RuntimeException] {
      planner.compile(spark, dir, MetricQueryRequest(
        metrics = Seq("revenue", "event_value"), groupBy = Seq("r_name")))
    }
  }

  test("small dims are planned as broadcast joins") {
    val c = planner.compile(spark, dir,
      MetricQueryRequest(metrics = Seq("revenue"), groupBy = Seq("r_name")))
    val physical = c.df.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), physical.take(2000))
  }

  test("offset metric: prior-period self-join matches a hand-shifted check") {
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue", "revenue_mom_growth"),
      groupBy = Seq("metric_time__month"),
      startTime = Some("1995-01-01"), endTime = Some("1995-12-31")))
    assert(c.df.columns.toSeq ==
      Seq("metric_time__month", "revenue", "revenue_mom_growth"))
    val rows = c.df.collect()
    assert(rows.length == 12)
    val rev = rows.map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
    // first month has no prior period → NULL growth; every other month
    // must equal the exact expression over the base metric values
    for (r <- rows) {
      val m = r.getDate(0).toLocalDate
      val prev = rev.get(m.minusMonths(1).toString)
      prev match {
        case None => assert(r.isNullAt(2), s"$m should have NULL growth")
        case Some(p) =>
          assert(r.getDouble(2) == (r.getDouble(1) - p) / p, s"$m growth drifted")
      }
    }
    // compiled shape: one aggregate, self-joined — not a second fact scan
    assert(c.sql.contains("WITH agg AS") && c.sql.contains("LEFT JOIN agg"),
      c.sql)
    // manifest round-trip carries the offset definition
    val fileReg = SemanticRegistry.fromFile("manifests/semantic_manifest.yml")
    assert(fileReg.derivedByName("revenue_mom_growth").offsetInputs ==
      DefaultRegistry.registry.derivedByName("revenue_mom_growth").offsetInputs)
  }

  test("offset SQL aliases every selected column, so ORDER BY a base metric is unambiguous") {
    // the request DuckDB rejected while the offset SQL selected
    // `a.revenue` unaliased from `agg a LEFT JOIN agg p0` and ordered
    // by `revenue` ("Ambiguous reference to column name")
    Tables.registerAll(spark, dir)
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue", "revenue_mom_growth"),
      groupBy = Seq("l_shipdate__month"),
      startTime = Some("1995-06-01"), endTime = Some("1996-06-01"),
      orderBy = Seq("-revenue"), limit = Some(20)))
    assert(c.sql.contains("LEFT JOIN agg p0") && c.sql.contains("ORDER BY revenue DESC"),
      c.sql)
    val selectList = c.sql.split("\nSELECT ")(1).split("\nFROM agg a")(0)
    // split on top-level commas only (derived expressions nest calls)
    val parts = scala.collection.mutable.Buffer(new StringBuilder)
    var depth = 0
    for (ch <- selectList) ch match {
      case ',' if depth == 0 => parts += new StringBuilder
      case _ =>
        if (ch == '(') depth += 1 else if (ch == ')') depth -= 1
        parts.last += ch
    }
    val items = parts.map(_.toString.trim).toSeq
    assert(items.size == 3, items.toString)
    items.foreach(i => assert(i.matches("(?s).+ AS \\w+"), s"unaliased select item: $i"))
    val viaSql = spark.sql(c.sql).collect().map(_.toString)
    val viaDf = c.df.collect().map(_.toString)
    assert(viaSql.nonEmpty && viaSql.sameElements(viaDf), s"sql/df mismatch:\n${c.sql}")
  }

  test("conversion metric: semi-join attribution matches a hand-computed funnel") {
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("view_to_purchase_count", "view_to_purchase_rate"),
      groupBy = Seq("metric_time__day")))
    assert(c.df.columns.toSeq ==
      Seq("metric_time__day", "view_to_purchase_count", "view_to_purchase_rate"))
    val rows = c.df.collect()
    assert(rows.nonEmpty)
    // hand-compute the funnel for one day from the raw table
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
    val someDay = rows.head.getDate(0)
    val dayStart = someDay.toLocalDate.atStartOfDay()
    def inDay(t: Long): Boolean = {
      val ms = java.sql.Timestamp.valueOf(dayStart).getTime
      t >= ms && t < ms + 86400000L
    }
    val purchases = ev.filter(_._3 == "purchase")
    val views = ev.filter(e => e._3 == "view" && inDay(e._2))
    val converted = views.count { case (u, t, _) =>
      purchases.exists(p => p._1 == u && p._2 > t && p._2 <= t + 86400000L)
    }
    assert(rows.head.getLong(1) == converted.toLong,
      s"day $someDay: expected $converted conversions")
    assert(rows.head.getDouble(2) == converted.toDouble / views.length)
    // a base event with MULTIPLE conversions in window counts once
    // (semi-join): total conversions can never exceed base events
    rows.foreach(r => assert(r.getDouble(2) <= 1.0, r.toString))
    // manifest parity carries conversion metrics
    val fileReg = SemanticRegistry.fromFile("manifests/semantic_manifest.yml")
    assert(fileReg.conversionMetrics == DefaultRegistry.registry.conversionMetrics)
    // mixing conversion and plain metrics is an explicit error
    intercept[RuntimeException] {
      planner.compile(spark, dir, MetricQueryRequest(
        metrics = Seq("view_to_purchase_rate", "event_value"),
        groupBy = Seq("metric_time__day")))
    }
  }

  test("sub-day grains: hour and minute buckets stay timestamps; SQL and DataFrame agree") {
    Tables.registerAll(spark, dir)
    for (gran <- Seq("hour", "minute")) {
      val req = MetricQueryRequest(metrics = Seq("event_value"),
        groupBy = Seq(s"metric_time__$gran"),
        startTime = Some("2024-01-02"), endTime = Some("2024-01-03"))
      val c = planner.compile(spark, dir, req)
      val key = s"metric_time__$gran"
      assert(c.df.schema(key).dataType.typeName.startsWith("timestamp"),
        s"$gran bucket must stay a timestamp, got ${c.df.schema(key).dataType}")
      val viaDf = c.df.collect().map(_.toString)
      val viaSql = spark.sql(c.sql).collect().map(_.toString)
      assert(viaDf.nonEmpty && viaDf.sameElements(viaSql), s"$gran df/sql mismatch")
    }
    // finer grain ⇒ at least as many buckets
    def buckets(g: String) = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("event_value"), groupBy = Seq(s"metric_time__$g"),
      startTime = Some("2024-01-02"), endTime = Some("2024-01-03"))).df.count()
    val (d, h, m) = (buckets("day"), buckets("hour"), buckets("minute"))
    assert(d <= h && h <= m, s"bucket counts not monotone: day=$d hour=$h minute=$m")
    // cross-model metric_time join accepts an hour grain too
    val cm = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("revenue", "event_value"), groupBy = Seq("metric_time__hour"),
      startTime = Some("2024-01-02"), endTime = Some("2024-01-03")))
    assert(cm.df.columns.toSeq ==
      Seq("metric_time__hour", "revenue", "event_value"))
    assert(cm.df.collect().nonEmpty)
  }

  test("multi-funnel conversion: DataFrame and rendered SQL agree when funnels cover different keys") {
    // Two DISTINCT funnels with disjoint-ish base slices so some grain
    // keys exist in only one funnel's base aggregate — the case where
    // a naive SELECT b0.key after FULL OUTER JOIN diverges from a
    // USING join's key coalescing.
    val c = multiFunnel.compile(spark, dir, multiFunnelReq)
    Tables.registerAll(spark, dir)
    val viaDf = c.df.collect().map(_.toString).sorted
    val viaSql = spark.sql(c.sql).collect().map(_.toString).sorted
    assert(viaDf.nonEmpty && viaDf.sameElements(viaSql),
      s"df/sql mismatch:\n${viaDf.take(5).mkString("\n")}\nvs\n${viaSql.take(5).mkString("\n")}\n${c.sql}")
    // the divergence case must actually occur: at least one key missing
    // from one funnel (NULL rate denominator), counts coalesced to 0
    val rows = c.df.collect()
    val oneSided = rows.filter(r => r.isNullAt(3)) // rate_b NULL ⇒ no b-funnel base
    assert(oneSided.nonEmpty, "test data produced no funnel-disjoint grain key; widen the slices")
    oneSided.foreach { r =>
      assert(!r.isNullAt(0), "grain key must survive via key coalescing")
      assert(r.getLong(2) == 0L, s"conv_b must coalesce to 0, got $r")
    }
  }

  test("percentile measures: planner median/p90 equal hand-sorted elements per group") {
    val c = planner.compile(spark, dir, MetricQueryRequest(
      metrics = Seq("median_event_value", "p90_event_value"),
      groupBy = Seq("event_type")))
    val got = c.df.collect().map(r => r.getString(0) ->
      (r.getDouble(1), r.getDouble(2))).toMap
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // percentile_disc(p): first element at cumulative fraction >= p
    def disc(xs: Array[Double], p: Double): Double =
      xs(math.ceil(p * xs.length).toInt - 1)
    ev.foreach { case (et, xs) =>
      assert(got(et)._1 == disc(xs, 0.5), s"$et median")
      assert(got(et)._2 == disc(xs, 0.9), s"$et p90")
    }
  }

  test("cross-model saved query resolves to the metric_time join") {
    val c = planner.compile(spark, dir,
      MetricQueryRequest(metrics = Nil, savedQuery = Some("weekly_revenue_vs_events")))
    assert(c.df.columns.toSeq ==
      Seq("metric_time__week", "revenue", "event_value"))
    assert(c.df.collect().nonEmpty)
    assert(c.sql.contains("FULL OUTER JOIN"))
  }
}
