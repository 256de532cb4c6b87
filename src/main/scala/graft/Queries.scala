package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{DefaultRegistry, MetricQueryRequest}
import graft.functions.GraftFunctions._
import graft.planner.MetricPlanner
import graft.sources.Tables

/** The operator-inventory query catalog (SURVEY.md §2 coverage).
  *
  * Each entry: name → (runner, optional DuckDB oracle SQL). Runners
  * compose declarative DataFrame chains (Catalyst optimizes; shuffles
  * only at declared aggregation/join keys); oracle SQL is the DuckDB
  * dialect equivalent the driver hash-compares against at sf0.01.
  *
  * Determinism rules used throughout (100 TB-safe AND oracle-safe):
  *  - double SUM/AVG via exact-decimal accumulation ([[graft.functions
  *    .GraftFunctions.dsum]]) — associative, so AQE/shuffle reorderings
  *    can't drift the result;
  *  - every output totally ordered (explicit tie-breakers) so the
  *    row-hash is stable;
  *  - hashes that must match the oracle use md5 (identical everywhere),
  *    never engine-local hash functions.
  */
object Queries {

  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private val planner = new MetricPlanner(DefaultRegistry.registry)

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  // =====================================================================
  // §2.2 MetricFlow surface: M1–M7 (agg, group-by, join, where, time,
  // order, limit)
  // =====================================================================

  /** TPC-H Q1-shaped pricing summary: M1 partial+final hash agg, M2
    * group-by, S18 rounding-stable measures. */
  private val q1 = Q("q1_pricing_summary",
    (s, dir) => t(s, dir, "lineitem")
      .filter(expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .as("sum_charge"),
        davg(col("l_quantity"), 2).as("avg_qty"),
        davg(col("l_extendedprice"), 2).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${dsumSql("l_quantity", 2)} AS sum_qty,
        ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
        ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
        ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
        ${davgSql("l_quantity", 2)} AS avg_qty,
        ${davgSql("l_extendedprice", 2)} AS avg_price,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** The flagship minimum slice (SURVEY.md §7.2 slice 0) through the
    * semantic-layer planner: metric revenue by order month, where
    * priority filter, time-bounded, ordered desc, limit 10 — M1–M8 in
    * one chain; oracle is the planner's own rendered SQL (M9). */
  private val savedReq = MetricQueryRequest(metrics = Seq("revenue"),
    savedQuery = Some("revenue_by_month"))
  private val q2 = Q("q2_revenue_by_month",
    (s, dir) => planner.compile(s, dir, savedReq).df,
    Some(planner.renderSql(savedReq, withDescriptions = false)))

  /** Star-schema rollup to region/nation via the planner: M3 dimension
    * joins (broadcast small dims). */
  private val q3Req = MetricQueryRequest(
    metrics = Seq("revenue", "order_count"),
    groupBy = Seq("r_name", "n_name"),
    orderBy = Seq("-revenue"))
  private val q3 = Q("q3_region_revenue",
    (s, dir) => planner.compile(s, dir, q3Req).df,
    Some(planner.renderSql(q3Req, withDescriptions = false)))

  /** TPC-H Q6-shaped flat filter + global agg: M4 where constraint,
    * S7 predicate filter — Catalyst pushes all three predicates into the
    * parquet scan. */
  private val q4 = Q("q4_promo_revenue",
    (s, dir) => t(s, dir, "lineitem")
      .filter(expr(
        """l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""))
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("promo_revenue"),
        count(lit(1)).as("n_rows")),
    Some(s"""
      SELECT ${dsumSql("l_extendedprice * l_discount")} AS promo_revenue,
             COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""))

  /** Time-range constraint (M5) + count by priority. */
  private val q5 = Q("q5_orders_by_priority",
    (s, dir) => t(s, dir, "orders")
      .filter(expr(
        """o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'"""))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy("o_orderpriority"),
    Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_orders,
             ${dsumSql("o_totalprice", 2)} AS sum_price
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Top-N after sort (M6 order-by + M7 limit → TakeOrderedAndProject,
    * a distributed top-k with no global sort). */
  private val q6 = Q("q6_top_customers",
    (s, dir) => t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice"), 2).as("total_spent"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("total_spent").desc, col("o_custkey").asc)
      .limit(10),
    Some(s"""
      SELECT o_custkey, ${dsumSql("o_totalprice", 2)} AS total_spent,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
      ORDER BY total_spent DESC, o_custkey ASC LIMIT 10"""))

  /** Exact COUNT DISTINCT (M1 distinct aggregation — expand+two-phase in
    * Spark; at 100 TB prefer approx_count_distinct, kept as a separate
    * non-oracle query since HLL sketches differ across engines). */
  private val q7 = Q("q7_distinct_counts",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Sketch-based distinct at scale (no oracle: HLL implementations are
    * engine-specific; driver records a rows-only check). */
  private val q7a = Q("q7a_approx_distinct",
    (s, dir) => t(s, dir, "lineitem")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_orderkey")).as("approx_orders")),
    None)

  /** ROLLUP + GROUPING (M2/M11 grouping sets family). Sort keys include
    * the grouping level so no null-vs-value comparison ever decides
    * order (Spark sorts NULLS FIRST, DuckDB NULLS LAST — avoided). */
  private val q8 = Q("q8_rollup_nation",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      c.join(n, expr("c_nationkey = n_nationkey"))
        .join(r, expr("n_regionkey = r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal"), 2).as("sum_bal"),
          (grouping(col("r_name")) * 2 + grouping(col("n_name"))).cast("int").as("lvl"))
        .orderBy(col("lvl"), col("r_name"), col("n_name"))
    },
    Some(s"""
      SELECT r_name, n_name, COUNT(*) AS n_cust,
             ${dsumSql("c_acctbal", 2)} AS sum_bal,
             CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INTEGER) AS lvl
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY lvl, r_name, n_name"""))

  // =====================================================================
  // §2.1 reference-implemented operators (S-series)
  // =====================================================================

  /** S10 MAX-watermark read with null→0 coalesce
    * (transactions_dag.py:22-25). */
  private val q13 = Q("q13_watermark_max",
    (s, dir) => t(s, dir, "events")
      .agg(coalesce(max(col("event_id")), lit(0L)).as("last_block")),
    Some("SELECT COALESCE(MAX(event_id), 0) AS last_block FROM events"))

  /** S9 epoch→ISO derivation round-trip (omni_rpc_client.py:106-110):
    * timestamp → epoch seconds → ISO-8601 string. */
  private val q12 = Q("q12_epoch_iso",
    (s, dir) => t(s, dir, "events")
      .select(col("event_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        epochToIso(unix_timestamp(col("ts"))).as("blockdate"))
      .orderBy("event_id"),
    Some("""
      SELECT event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
             strftime(make_timestamp(CAST(floor(epoch(ts)) AS BIGINT) * 1000000),
                      '%Y-%m-%dT%H:%M:%S') AS blockdate
      FROM events ORDER BY event_id"""))

  /** S8 hex→UTF-8 decode round-trip on real text, through the native
    * codegen'd Catalyst expression (graft.functions.HexDecodeUtf8 —
    * UDF-free hot path; strict-null semantics for invalid input are
    * property-tested in ScalaTest; the oracle path uses valid hex only
    * since DuckDB's decode throws on invalid). */
  private val q11 = Q("q11_hex_decode",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        lower(hex(substring(col("text"), 1, 32).cast("binary"))).as("hex32"),
        graft.functions.HexDecodeUtf8.column(
          lower(hex(substring(col("text"), 1, 32).cast("binary"))))
          .as("decoded"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             lower(hex(substring(text, 1, 32))) AS hex32,
             decode(unhex(lower(hex(substring(text, 1, 32))))) AS decoded
      FROM documents ORDER BY doc_id"""))

  /** S13 projection + S14 fixed-size chunking + S18 rounding
    * (slack_utils.py:16-19,83-87; dbt_query.py:149). */
  private val q15 = Q("q15_chunked_report",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        concat_ws(" | ", col("doc_id"), col("source"), col("lang")).as("line"),
        chunk(col("text"), 100, 1).as("chunk_1"),
        chunk(col("text"), 100, 2).as("chunk_2"),
        numChunks(col("text"), 100).as("n_chunks"),
        roundTo(col("n_chars") / lit(7.0), 2).as("est_tokens"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             concat_ws(' | ', doc_id, source, lang) AS line,
             substring(text, 1, 100) AS chunk_1,
             substring(text, 101, 100) AS chunk_2,
             CAST(ceil(length(text) / 100.0) AS BIGINT) AS n_chunks,
             round(n_chars / 7.0, 2) AS est_tokens
      FROM documents ORDER BY doc_id"""))

  /** S11 incremental delta detection: rows strictly above a watermark
    * computed from the sink side (transactions_dag.py:30-34). The
    * watermark scalar stays distributed via a broadcast cross-join —
    * no driver-side collect in the plan. */
  private val q14 = Q("q14_incremental_delta",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val wm = ev.filter(expr("ts < TIMESTAMP '2024-01-10 00:00:00'"))
        .agg(coalesce(max(col("event_id")), lit(0L)).as("wm"))
      ev.crossJoin(broadcast(wm))
        .filter(col("event_id") > col("wm"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_new"), dsum(col("value"), 2).as("sum_value"))
        .orderBy("event_type")
    },
    Some(s"""
      SELECT event_type, COUNT(*) AS n_new,
             ${dsumSql("value", 2)} AS sum_value
      FROM events
      WHERE event_id > (SELECT COALESCE(MAX(event_id), 0) FROM events
                        WHERE ts < TIMESTAMP '2024-01-10 00:00:00')
      GROUP BY event_type ORDER BY event_type"""))

  /** M11 per-dimension fan-out via EAGER AGGREGATION: the fact table
    * is partially aggregated by each join KEY first (exact decimal
    * partial sums), and only those key-cardinality aggregates travel —
    * broadcast INTO the dimension scans, rolled up once per dimension.
    *
    * Why not the single-pass GROUPING SETS star join (round-1 plan):
    * that plan broadcasts every dim table into a full-width fact probe
    * and then Expands the joined rows ×ndims before aggregating — at
    * 100 TB that is ndims × fact-rows through the partial aggregate
    * and a multi-GB broadcast of `orders`. Here the fact is reduced to
    * |orderkey|+|partkey|+|suppkey| partial rows (orders of magnitude
    * smaller, and the three aggregates SHARE one scan via exchange
    * reuse); every later join carries key-cardinality rows only, and
    * the chain o_custkey → nation → region rolls up progressively
    * (15k → 25 → 5 rows). Same exact-decimal result, no Expand, no
    * wide-table broadcast. `planner.dumpQueries` remains the
    * per-query API surface. */
  private val q16 = Q("q16_dim_fanout",
    (s, dir) => {
      val pRev = sum(expr("CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(30,6))"))
      val li = t(s, dir, "lineitem")
      // one GROUPING SETS pass per frame: all of a frame's dims in a
      // single Expand+aggregate (the frames are key-cardinality-sized
      // by then, so the Expand is cheap) — 4 aggregate stages total
      // instead of 10, which matters because fan-out latency is
      // stage-count-bound once shuffle volume is small
      def gsFanout(df: DataFrame, dims: Seq[String], rev: Column): DataFrame =
        df.groupingSets(dims.map(d => Seq(col(d))), dims.map(col): _*)
          .agg(rev.as("revenue"))
          .select(
            dims.map(d => when(col(d).isNotNull, lit(d))).reduce(coalesce(_, _))
              .as("dim_name"),
            coalesce(dims.map(col(_).cast("string")): _*).as("dim_value"),
            col("revenue"))

      // by-key partial aggregates: no broadcast hints — at gate scale
      // AQE converts these joins to broadcast after seeing the actual
      // (tiny) partial sizes; at 100 TB the same plan stays a
      // co-partitioned shuffle join on the key, which is exactly what
      // you want when |orderkey| partials no longer fit an executor.
      val byOrder = li.groupBy(col("l_orderkey")).agg(pRev.as("p"))
      val byPart = li.groupBy(col("l_partkey")).agg(pRev.as("p"))
      val bySupp = li.groupBy(col("l_suppkey")).agg(pRev.as("p"))
      // customer enriched with nation/region names builds in PARALLEL
      // with the fact partials (flat dependency chain, not a
      // progressive rollup ladder — stage-latency matters as much as
      // shuffle volume)
      val custDim = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("n_name"), col("r_name"))
      // loadP: this probe side carries the 5-dim grouping-sets Expand —
      // keep it full-width
      val ordJ = t(s, dir, "orders")
        .join(byOrder, col("o_orderkey") === col("l_orderkey"))
        .join(custDim, col("o_custkey") === col("c_custkey"))
      val partJ = t(s, dir, "part")
        .join(byPart, col("p_partkey") === col("l_partkey"))
      val suppJ = t(s, dir, "supplier")
        .join(bySupp, col("s_suppkey") === col("l_suppkey"))

      val pSum = sum(col("p")).cast("double")
      Seq(
        gsFanout(li, Seq("l_returnflag", "l_linestatus"),
          expr(planner.registry.metric("revenue").aggSql)),
        gsFanout(ordJ, Seq("o_orderpriority", "o_orderstatus",
          "c_mktsegment", "n_name", "r_name"), pSum),
        gsFanout(partJ, Seq("p_brand", "p_type"), pSum),
        gsFanout(suppJ, Seq("s_name"), pSum))
        .reduce(_ unionAll _)
        .orderBy("dim_name", "dim_value")
    },
    Some {
      val dims = DefaultRegistry.registry.dimensionsForMetric("revenue").filterNot(_.isTime)
      dims.map { d =>
        val inner = planner.renderSql(
          MetricQueryRequest(metrics = Seq("revenue"), groupBy = Seq(d.name)),
          withDescriptions = false)
        s"SELECT '${d.name}' AS dim_name, CAST(${d.name} AS VARCHAR) AS dim_value, revenue FROM ($inner)"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY dim_name, dim_value")
    })

  /** Derived (ratio) metric through the planner: `avg_order_value =
    * revenue / order_count`, inputs aggregated once, the ratio derived
    * on the aggregated frame (MetricFlow derived-metric surface). The
    * oracle is the planner's own rendered single-SELECT SQL with the
    * inputs substituted inline. */
  private val q71Req = MetricQueryRequest(
    metrics = Seq("avg_order_value", "revenue"),
    groupBy = Seq("o_orderpriority"))
  private val q71 = Q("q71_derived_metric",
    (s, dir) => planner.compile(s, dir, q71Req).df,
    Some(planner.renderSql(q71Req, withDescriptions = false)))

  /** The semantic layer compiled from the DECLARATIVE manifest file
    * (manifests/semantic_manifest.yml) instead of compiled-in Scala —
    * parity with the reference building its manifest from the dbt
    * project root (dbt_query2.py:36). The request exercises the whole
    * file-defined surface in one query: a file-defined derived metric
    * (ratio), its file-defined inputs, and a file-defined 4-hop join
    * path to the region dimension. Oracle = the planner's own rendered
    * SQL from the same file-loaded registry. */
  private lazy val filePlanner = {
    val p = Seq("manifests/semantic_manifest.yml",
      "/root/repo/manifests/semantic_manifest.yml")
      .find(f => new java.io.File(f).exists())
      .getOrElse(sys.error("semantic_manifest.yml not found"))
    new MetricPlanner(graft.catalog.SemanticRegistry.fromFile(p))
  }
  private lazy val q80Req = MetricQueryRequest(
    metrics = Seq("avg_order_value", "revenue", "order_count"),
    groupBy = Seq("r_name"),
    orderBy = Seq("-revenue", "r_name"))
  private lazy val q80 = Q("q80_manifest_metrics",
    (s, dir) => filePlanner.compile(s, dir, q80Req).df,
    Some(filePlanner.renderSql(q80Req, withDescriptions = false)))

  /** Cross-model metric query (MetricFlow metric_time semantics):
    * revenue (lineitem fact, l_shipdate) and event_value (events fact,
    * ts) in ONE request, each aggregated to month grain over its own
    * time dimension, full-outer-joined on metric_time__month. Months
    * present in only one fact carry NULL for the other metric. The
    * facts never join at row grain — the outer join runs at grain
    * cardinality. Oracle = the planner's rendered CTE SQL. */
  private val q89Req = MetricQueryRequest(
    metrics = Seq("revenue", "event_value"),
    groupBy = Seq("metric_time__month"),
    startTime = Some("1997-06-01"))
  private val q89 = Q("q89_cross_model_metrics",
    (s, dir) => planner.compile(s, dir, q89Req).df,
    Some(planner.renderSql(q89Req, withDescriptions = false)))

  /** Metric-level filters (MetricFlow `filter:`): three revenue metrics
    * over the same fact, one unfiltered, one filtered on a fact column,
    * one filtered on a column of a JOINED model (orders), in one
    * request. Compiles to one aggregate subquery per filter group
    * FULL-OUTER-joined on the group key — each group's scan stays
    * scoped to its own predicate (no filter widens another metric's
    * input), which is the plan you want when a filtered metric's
    * predicate is selective at 100 TB. Oracle = rendered CTE SQL. */
  private val q98Req = MetricQueryRequest(
    metrics = Seq("revenue", "returned_revenue", "urgent_revenue"),
    groupBy = Seq("c_mktsegment"),
    orderBy = Seq("-revenue"))
  private val q98 = Q("q98_filtered_metrics",
    (s, dir) => planner.compile(s, dir, q98Req).df,
    Some(planner.renderSql(q98Req, withDescriptions = false)))

  /** Offset metric (MetricFlow's offset_window): month-over-month
    * revenue growth queried alongside its base metric on the
    * metric_time axis. Compiles to ONE aggregate pass plus a LEFT
    * self-join of the aggregate with the month key shifted — the join
    * runs at grain cardinality (12 rows here, dozens at 100 TB), so
    * the offset costs nothing regardless of fact size. First month's
    * growth is NULL (no prior period). Oracle = rendered CTE SQL. */
  private val q110Req = MetricQueryRequest(
    metrics = Seq("revenue", "revenue_mom_growth"),
    groupBy = Seq("metric_time__month"),
    startTime = Some("1995-01-01"), endTime = Some("1995-12-31"))
  private val q110 = Q("q110_metric_offset",
    (s, dir) => planner.compile(s, dir, q110Req).df,
    Some(planner.renderSql(q110Req, withDescriptions = false)))

  /** Cross-model SAVED query: the stored request spans two fact models
    * (revenue over lineitem, event_value over events) on the shared
    * metric_time axis at week grain — saved queries are fact-agnostic,
    * resolving through the same registry surface as single-model ones.
    * Oracle = rendered cross-model CTE SQL of the resolved request. */
  private val q111Req = MetricQueryRequest(
    metrics = Nil, savedQuery = Some("weekly_revenue_vs_events"))
  private val q111 = Q("q111_saved_crossmodel",
    (s, dir) => planner.compile(s, dir, q111Req).df,
    Some(planner.renderSql(q111Req, withDescriptions = false)))

  /** Conversion metrics (MetricFlow's fifth and last metric type —
    * the metric-type matrix is now complete: simple, ratio/derived,
    * cumulative, offset, conversion): daily view→purchase funnel,
    * count and rate from ONE attribution pass. The semi-join on the
    * entity key is the only row-grain work; both outputs are then
    * grain-cardinality. Oracle = rendered CTE SQL (EXISTS form). */
  private val q113Req = MetricQueryRequest(
    metrics = Seq("view_to_purchase_count", "view_to_purchase_rate"),
    groupBy = Seq("metric_time__day"))
  private val q113 = Q("q113_conversion_metric",
    (s, dir) => planner.compile(s, dir, q113Req).df,
    Some(planner.renderSql(q113Req, withDescriptions = false)))

  /** Incremental metric maintenance ([[graft.planner.MetricState]]):
    * the fact is split at a time boundary, each half folded into
    * mergeable partial state SEPARATELY (as ingest batches would be),
    * the states merged and finalized — and the result must equal a
    * one-shot aggregate over all rows, which is exactly what the
    * oracle computes. Refresh cost at 100 TB: O(delta batch) + a
    * state-cardinality merge shuffle, vs the reference's O(history)
    * recompute per 15-min cron tick. Exact-decimal partials make the
    * merge order (batch boundaries, AQE) immaterial to the hash. */
  private val q152 = {
    import graft.planner.MetricState
    val dims = Seq("event_type", "day")
    val ms = Seq(MetricState.Measure("value", "value"))
    Q("q152_incr_metrics",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          to_date(col("ts")).as("day"), col("value"))
        val cut = to_date(lit("2024-01-16"))
        val stateA = MetricState.buildState(ev.filter(col("day") < cut), dims, ms)
        val stateB = MetricState.buildState(ev.filter(col("day") >= cut), dims, ms)
        MetricState.render(MetricState.mergeStates(Seq(stateA, stateB)))
          .orderBy("event_type", "day")
      },
      Some(MetricState.renderSql(
        "(SELECT event_type, CAST(ts AS DATE) AS day, value FROM events) e",
        dims, ms)))
  }

  /** Z-order (Morton) clustering key ([[graft.operators.ZOrderLayout]],
    * the key `clusteredWrite` sorts files by): normalize both keys to
    * 4-bit ranks against their observed domains, interleave the bits.
    * The gate emits the per-cell histogram with each cell's key
    * bounds — pinning the exact normalize/interleave arithmetic. The
    * normalize chain is IEEE ops only (sub/div/mul/floor, each
    * correctly rounded and identical across engines — the q125
    * contract), so the oracle derives the same domains from the same
    * rows and replays it bit-for-bit with `>> & <<`. ScaleToolsSpec
    * holds the file-skipping assertion (per-file min/max spans stay
    * narrow on BOTH dimensions; single-key sort leaves the second
    * wide open). */
  private val q153 = {
    import graft.operators.ZOrderLayout
    val bits = 4
    Q("q153_zorder",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val (z, _) = ZOrderLayout.zvalueWithStats(
          li, Seq("l_orderkey", "l_partkey"), bits)
        li.withColumn("zval", z)
          .groupBy("zval")
          .agg(count(lit(1)).as("n_rows"),
            min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
            min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"))
          .orderBy("zval")
      },
      Some {
        // normalize(c, lo, hi) = clamp(floor((c - lo) / span * maxV))
        // — keep in lockstep with ZOrderLayout.normalize/interleave.
        val maxV = (1L << bits) - 1
        def norm(c: String, lo: String, hi: String) =
          s"""LEAST(GREATEST(CAST(floor((CAST($c AS DOUBLE) - $lo)
             | / GREATEST($hi - $lo, 2.2250738585072014e-308)
             | * $maxV) AS BIGINT), 0), $maxV)""".stripMargin.replace("\n", "")
        // interleave: result bit (b*2 + c) = bit b of column c
        // (c=0 → l_orderkey even bits, c=1 → l_partkey odd bits)
        val z = (for { b <- 0 until bits; c <- 0 to 1 } yield
          s"(((n${c} >> $b) & 1) << ${b * 2 + c})").mkString("(", " | ", ")")
        s"""
        WITH s AS (SELECT CAST(min(l_orderkey) AS DOUBLE) AS alo,
                          CAST(max(l_orderkey) AS DOUBLE) AS ahi,
                          CAST(min(l_partkey) AS DOUBLE) AS blo,
                          CAST(max(l_partkey) AS DOUBLE) AS bhi
                   FROM lineitem),
        nrm AS (SELECT l_orderkey, l_partkey,
                       ${norm("l_orderkey", "s.alo", "s.ahi")} AS n0,
                       ${norm("l_partkey", "s.blo", "s.bhi")} AS n1
                FROM lineitem CROSS JOIN s)
        SELECT $z AS zval, CAST(count(*) AS BIGINT) AS n_rows,
               min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
               min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
        FROM nrm
        GROUP BY 1 ORDER BY zval"""
      })
  }

  /** dbt-style generic data tests ([[graft.ops.DataChecks]]): the
    * schema-test surface a dbt project declares per model — not_null,
    * accepted_values, unique, relationships — with dbt's exact failure
    * semantics. The fixture exercises both outcomes: o_orderstatus
    * against {O,F} FAILS on every 'P' row (a real nonzero count, not a
    * vacuous all-green run); keys and references pass. Per-table
    * not_null+accepted fold into ONE aggregate scan; unique is one
    * hash agg on the key; relationships one keys-only anti join. */
  private val q155 = {
    import graft.ops.DataChecks._
    Q("q155_data_checks",
      (s, dir) => {
        val orders = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
        val cust = t(s, dir, "customer"); val ev = t(s, dir, "events")
        suite(Seq(
          tableChecks(orders, "orders",
            notNullCols = Seq("o_orderkey", "o_custkey"),
            accepted = Map("o_orderstatus" -> Seq("O", "F"))),
          tableChecks(li, "lineitem", notNullCols = Seq("l_quantity"),
            accepted = Map("l_returnflag" -> Seq("A", "N", "R"))),
          unique(orders, "orders", Seq("o_orderkey")),
          unique(li, "lineitem", Seq("l_orderkey", "l_linenumber")),
          unique(ev, "events", Seq("event_id")),
          relationships(li, "lineitem", "l_orderkey", orders, "o_orderkey"),
          relationships(orders, "orders", "o_custkey", cust, "c_custkey"),
          relationships(ev, "events", "user_id", cust, "c_custkey")))
      },
      Some("""
        SELECT tbl, chk, target, failures, failures = 0 AS pass FROM (
          SELECT 'orders' AS tbl, 'not_null' AS chk, 'o_orderkey' AS target,
                 CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS failures
          FROM orders
          UNION ALL
          SELECT 'orders', 'not_null', 'o_custkey',
                 CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'orders', 'accepted_values', 'o_orderstatus',
                 CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                                AND o_orderstatus NOT IN ('O', 'F')
                               THEN 1 ELSE 0 END) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'lineitem', 'not_null', 'l_quantity',
                 CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT 'lineitem', 'accepted_values', 'l_returnflag',
                 CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
                                AND l_returnflag NOT IN ('A', 'N', 'R')
                               THEN 1 ELSE 0 END) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT 'orders', 'unique', 'o_orderkey',
                 CAST(COUNT(*) AS BIGINT)
          FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
          UNION ALL
          SELECT 'lineitem', 'unique', 'l_orderkey,l_linenumber',
                 CAST(COUNT(*) AS BIGINT)
          FROM (SELECT l_orderkey, l_linenumber FROM lineitem
                GROUP BY 1, 2 HAVING COUNT(*) > 1)
          UNION ALL
          SELECT 'events', 'unique', 'event_id',
                 CAST(COUNT(*) AS BIGINT)
          FROM (SELECT event_id FROM events GROUP BY 1 HAVING COUNT(*) > 1)
          UNION ALL
          SELECT 'lineitem', 'relationships', 'l_orderkey -> o_orderkey',
                 CAST(COUNT(*) AS BIGINT)
          FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
          UNION ALL
          SELECT 'orders', 'relationships', 'o_custkey -> c_custkey',
                 CAST(COUNT(*) AS BIGINT)
          FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
          UNION ALL
          SELECT 'events', 'relationships', 'user_id -> c_custkey',
                 CAST(COUNT(*) AS BIGINT)
          FROM events e WHERE e.user_id IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        ORDER BY tbl, chk, target"""))
  }

  /** dbt snapshots — SCD Type 2 `check` strategy
    * ([[graft.ops.Scd2]]): a per-customer order-volume tier dimension
    * snapshotted at mid-1995, then folded with the end-of-history
    * state. Tier changes close the open version and insert a new one;
    * unchanged tiers keep their ORIGINAL row including the stale
    * untracked n_orders payload (exactly dbt's check-strategy
    * behavior — only check_cols drive versioning); customers first
    * seen later insert fresh open versions. `asOf` timestamps are
    * explicit, so the whole two-run history replays deterministically
    * in DuckDB. Merge joins open ⋈ delta (current-cardinality both
    * sides); closed history passes through untouched. */
  private val q156 = {
    import graft.ops.Scd2
    def tiers(df: DataFrame): DataFrame = df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .select(col("o_custkey"),
        when(col("n_orders") >= 10, "high")
          .when(col("n_orders") >= 5, "mid").otherwise("low").as("tier"),
        col("n_orders"))
    Q("q156_scd2_snapshot",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val s1 = tiers(orders.filter(
          col("o_orderdate") < lit("1995-07-01").cast("timestamp")))
        val s2 = tiers(orders)
        val snap0 = Scd2.initial(s1, lit("1995-07-01"))
        val snap1 = Scd2.apply(snap0, s2, "o_custkey", Seq("tier"),
          lit("1998-12-31"))
        snap1.select("o_custkey", "tier", "n_orders", "valid_from", "valid_to")
          .orderBy("o_custkey", "valid_from")
      },
      Some("""
        WITH s1 AS (
          SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CASE WHEN COUNT(*) >= 10 THEN 'high'
                      WHEN COUNT(*) >= 5 THEN 'mid' ELSE 'low' END AS tier
          FROM orders
          WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
          GROUP BY 1),
        s2 AS (
          SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CASE WHEN COUNT(*) >= 10 THEN 'high'
                      WHEN COUNT(*) >= 5 THEN 'mid' ELSE 'low' END AS tier
          FROM orders GROUP BY 1)
        SELECT o_custkey, tier, n_orders, valid_from, valid_to FROM (
          SELECT s1.o_custkey, s1.tier, s1.n_orders,
                 TIMESTAMP '1995-07-01 00:00:00' AS valid_from,
                 CAST(NULL AS TIMESTAMP) AS valid_to
          FROM s1 JOIN s2 USING (o_custkey) WHERE s1.tier = s2.tier
          UNION ALL
          SELECT s1.o_custkey, s1.tier, s1.n_orders,
                 TIMESTAMP '1995-07-01 00:00:00',
                 TIMESTAMP '1998-12-31 00:00:00'
          FROM s1 JOIN s2 USING (o_custkey) WHERE s1.tier <> s2.tier
          UNION ALL
          SELECT s2.o_custkey, s2.tier, s2.n_orders,
                 TIMESTAMP '1998-12-31 00:00:00', CAST(NULL AS TIMESTAMP)
          FROM s2 LEFT JOIN s1 USING (o_custkey)
          WHERE s1.o_custkey IS NULL OR s1.tier <> s2.tier)
        ORDER BY o_custkey, valid_from"""))
  }

  /** dbt incremental `merge` materialization ([[graft.ops.Upsert]]):
    * a per-customer rollup maintained incrementally — the delta
    * recomputes ONLY the customers the new period touched, and those
    * rows REPLACE their target rows (MERGE-INTO semantics) while
    * untouched customers survive from the prior build. The result
    * must equal what it replaces at 1/Nth the cost: full-history
    * values for touched keys, prior values elsewhere. One key-shuffle
    * anti join whose build side is the delta's key set
    * (delta-sized → broadcastable in the normal incremental case). */
  private val q157 = {
    import graft.ops.Upsert
    Q("q157_incremental_merge",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val cut = lit("1995-07-01").cast("timestamp")
        def rollup(df: DataFrame): DataFrame = df.groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            max("o_orderdate").as("last_order"))
        val target = rollup(orders.filter(col("o_orderdate") < cut))
        val touched = orders.filter(col("o_orderdate") >= cut)
          .select("o_custkey").distinct()
        val delta = rollup(orders.join(touched, Seq("o_custkey")))
        Upsert.merge(target, delta, Seq("o_custkey")).orderBy("o_custkey")
      },
      Some("""
        WITH touched AS (
          SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'),
        full_agg AS (
          SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                 max(o_orderdate) AS last_order
          FROM orders GROUP BY 1),
        pre_agg AS (
          SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                 max(o_orderdate) AS last_order
          FROM orders
          WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00' GROUP BY 1)
        SELECT o_custkey, n_orders, last_order FROM (
          SELECT p.o_custkey, p.n_orders, p.last_order FROM pre_agg p
          WHERE p.o_custkey NOT IN (SELECT o_custkey FROM touched)
          UNION ALL
          SELECT f.o_custkey, f.n_orders, f.last_order
          FROM full_agg f JOIN touched t USING (o_custkey))
        ORDER BY o_custkey"""))
  }

  /** Blocked fuzzy-match JOIN across two tables
    * ([[graft.operators.FuzzyJoin]], record linkage): left = 24-char
    * document-name prefixes, right = deterministically corrupted
    * variants (1 deletion for doc_id%3=0, 2 deletions for %3=1,
    * reversed — far — otherwise). The engine blocks with pigeonhole
    * segments (PassJoin: k = maxDist+1 disjoint segments, a true pair
    * shares one verbatim within ±maxDist positions) and verifies
    * survivors with exact levenshtein; the ORACLE is the brute-force
    * cross product, so the hash-match PROVES the blocking loses no
    * true pair within maxDist — the lemma holding on real data, not
    * just in the comment. */
  private val q158 = {
    import graft.operators.FuzzyJoin
    val corrupt = """
      CASE
        WHEN doc_id % 3 = 0 THEN concat(
          substring(nm, 1, doc_id % 20 + 1), substring(nm, doc_id % 20 + 3))
        WHEN doc_id % 3 = 1 THEN concat(
          substring(concat(substring(nm, 1, doc_id % 15 + 1),
                           substring(nm, doc_id % 15 + 3)), 1, doc_id % 7 + 1),
          substring(concat(substring(nm, 1, doc_id % 15 + 1),
                           substring(nm, doc_id % 15 + 3)), doc_id % 7 + 3))
        ELSE reverse(nm)
      END"""
    Q("q158_fuzzy_join",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), expr("substring(lower(trim(text)), 1, 24)").as("nm"))
        val left = base.select(col("doc_id").as("id_a"), col("nm").as("name_a"))
        val right = base.select(col("doc_id").as("id_b"),
          expr(corrupt).as("name_b"))
        FuzzyJoin.join(left, "id_a", "name_a", right, "id_b", "name_b",
          maxDist = 2, q = 3)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, substring(lower(trim(text)), 1, 24) AS nm
          FROM documents),
        a AS (SELECT doc_id AS id_a, nm AS name_a FROM base),
        b AS (SELECT doc_id AS id_b, $corrupt AS name_b FROM base)
        SELECT id_a, id_b,
               CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
        FROM a CROSS JOIN b
        WHERE levenshtein(name_a, name_b) <= 2
        ORDER BY id_a, id_b"""))
  }

  /** Linear gap interpolation over a date spine: sparse daily metric
    * (high-value events only) densified to every (type, day) cell,
    * interior gaps filled by linear interpolation between the
    * neighboring present days, leading/trailing gaps left null. The
    * neighbor search is two windows (max/min of the present-day
    * column — null-skipping by SQL semantics, no IGNORE NULLS
    * dialect dependence) + two joins back to the actuals; state per
    * partition is one row, movement is spine-cardinality. */
  private val q159 = Q("q159_interpolate",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val act = t(s, dir, "events")
        .filter(col("value") > 200)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(dsum(col("value")).as("v"))
      val days = s.range(1).select(explode(sequence(
        to_date(lit("2024-01-01")), to_date(lit("2024-01-30")))).as("day"))
      val spine = act.select("event_type").distinct().crossJoin(days)
      val w = Window.partitionBy("event_type").orderBy("day")
      val j = spine.join(act, Seq("event_type", "day"), "left")
        .withColumn("pd", max(when(col("v").isNotNull, col("day")))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("nd", min(when(col("v").isNotNull, col("day")))
          .over(w.rowsBetween(0, Window.unboundedFollowing)))
      val p = act.select(col("event_type"), col("day").as("pd"), col("v").as("pv"))
      val n = act.select(col("event_type"), col("day").as("nd"), col("v").as("nv"))
      j.join(p, Seq("event_type", "pd"), "left")
        .join(n, Seq("event_type", "nd"), "left")
        .select(col("event_type"), col("day"),
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                (datediff(col("day"), col("pd")).cast("double") /
                  datediff(col("nd"), col("pd")).cast("double")))
            .as("value_filled"),
          (col("v").isNull && col("pv").isNotNull && col("nv").isNotNull)
            .as("interpolated"))
        .orderBy("event_type", "day")
    },
    Some(s"""
      WITH act AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ${dsumSql("value")} AS v
        FROM events WHERE value > 200 GROUP BY 1, 2),
      days AS (SELECT CAST(unnest(generate_series(DATE '2024-01-01',
                 DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day),
      spine AS (SELECT t.event_type, d.day
                FROM (SELECT DISTINCT event_type FROM act) t
                CROSS JOIN days d),
      j AS (
        SELECT s.event_type, s.day, a.v,
               max(CASE WHEN a.v IS NOT NULL THEN s.day END)
                 OVER (PARTITION BY s.event_type ORDER BY s.day
                       ROWS UNBOUNDED PRECEDING) AS pd,
               min(CASE WHEN a.v IS NOT NULL THEN s.day END)
                 OVER (PARTITION BY s.event_type ORDER BY s.day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM spine s LEFT JOIN act a USING (event_type, day))
      SELECT j.event_type, j.day,
             CASE WHEN j.v IS NOT NULL THEN j.v
                  WHEN p.v IS NOT NULL AND n.v IS NOT NULL THEN
                    p.v + (n.v - p.v) *
                      (CAST(j.day - j.pd AS DOUBLE) / CAST(j.nd - j.pd AS DOUBLE))
                  ELSE NULL END AS value_filled,
             (j.v IS NULL AND p.v IS NOT NULL AND n.v IS NOT NULL)
               AS interpolated
      FROM j
      LEFT JOIN act p ON p.event_type = j.event_type AND p.day = j.pd
      LEFT JOIN act n ON n.event_type = j.event_type AND n.day = j.nd
      ORDER BY j.event_type, j.day"""))

  /** Retention cohort matrix: users grouped by FIRST-activity week,
    * tracked by distinct activity across subsequent weeks; retention =
    * actives / cohort size (every member is active in week 0 by
    * construction, so the size is the matrix diagonal). Two key-grain
    * aggregates + a cohort-cardinality join — the standard cohort
    * analysis every analytics engine ships. */
  private val q160 = Q("q160_retention_cohorts",
    (s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val mat = uw.join(cohort, Seq("user_id"))
        .groupBy("cohort_wk", "wk")
        .agg(countDistinct(col("user_id")).as("n_active"))
      val size = mat.filter(col("wk") === col("cohort_wk"))
        .select(col("cohort_wk"), col("n_active").as("cohort_size"))
      mat.join(size, Seq("cohort_wk"))
        .select(col("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("long").as("week_n"),
          col("n_active"), col("cohort_size"),
          (col("n_active").cast("double") / col("cohort_size")).as("retention"))
        .orderBy("cohort_wk", "week_n")
    },
    Some("""
      WITH uw AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events),
      cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1),
      mat AS (
        SELECT c.cohort_wk, u.wk, CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
               AS n_active
        FROM uw u JOIN cohort c USING (user_id)
        GROUP BY 1, 2),
      sz AS (SELECT cohort_wk, n_active AS cohort_size FROM mat
             WHERE wk = cohort_wk)
      SELECT m.cohort_wk,
             CAST((m.wk - m.cohort_wk) / 7 AS BIGINT) AS week_n,
             m.n_active, s.cohort_size,
             CAST(m.n_active AS DOUBLE) / s.cohort_size AS retention
      FROM mat m JOIN sz s USING (cohort_wk)
      ORDER BY m.cohort_wk, week_n"""))

  /** Ordered funnel levels (view → click → signup → purchase), greedy
    * earliest-chain semantics: t1 = first view, each later step = its
    * first occurrence strictly after the previous step; level = chain
    * length completed. Four key-grain min-aggregates chained by
    * broadcast-size joins — each stage's input is user-cardinality,
    * the fact is scanned once per step with the step predicate pushed
    * down. (The q113 conversion metric is the 2-step windowed variant;
    * this is the N-step level readout.) */
  private val q161 = Q("q161_funnel_levels",
    (s, dir) => {
      val ev = t(s, dir, "events").select("user_id", "event_type", "ts")
      def step(prev: DataFrame, prevT: String, typ: String, out: String) =
        ev.filter(col("event_type") === typ)
          .join(prev, Seq("user_id"))
          .filter(col("ts") > col(prevT))
          .groupBy("user_id")
          .agg(min("ts").as(out))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = step(s1, "t1", "click", "t2")
      val s3 = step(s2, "t2", "signup", "t3")
      val s4 = step(s3, "t3", "purchase", "t4")
      s1.join(s2.select("user_id", "t2"), Seq("user_id"), "left")
        .join(s3.select("user_id", "t3"), Seq("user_id"), "left")
        .join(s4.select("user_id", "t4"), Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1) + when(col("t2").isNotNull, 1).otherwise(0)
            + when(col("t3").isNotNull, 1).otherwise(0)
            + when(col("t4").isNotNull, 1).otherwise(0)).cast("long")
            .as("funnel_level"))
        .orderBy("user_id")
    },
    Some("""
      WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                  WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2
             FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3
             FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'signup' AND e.ts > s2.t2 GROUP BY 1),
      s4 AS (SELECT e.user_id, min(e.ts) AS t4
             FROM events e JOIN s3 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
      SELECT s1.user_id,
             CAST(1 + (s2.user_id IS NOT NULL)::INT
                    + (s3.user_id IS NOT NULL)::INT
                    + (s4.user_id IS NOT NULL)::INT AS BIGINT)
               AS funnel_level
      FROM s1
      LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id)
      LEFT JOIN s4 USING (user_id)
      ORDER BY user_id"""))

  /** Event-transition matrix (path analysis): per-user time-ordered
    * event stream, count each (event_type → next event_type) pair plus
    * the share among transitions leaving the source state. One window
    * pass (lead over user_id, ts — the q9/q38 shuffle key) + one
    * small aggregate; the matrix is |types|² rows at any data size. */
  private val q162 = Q("q162_event_transitions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val steps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
      val m = steps.groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val out = m.groupBy("from_type").agg(sum("n").as("n_out"))
      m.join(out, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("n_out")).as("share"))
        .orderBy("from_type", "to_type")
    },
    Some("""
      WITH steps AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS next_type
        FROM events),
      m AS (SELECT event_type AS from_type, next_type AS to_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM steps WHERE next_type IS NOT NULL GROUP BY 1, 2),
      o AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out
            FROM m GROUP BY 1)
      SELECT m.from_type, m.to_type, m.n,
             CAST(m.n AS DOUBLE) / o.n_out AS share
      FROM m JOIN o USING (from_type)
      ORDER BY m.from_type, m.to_type"""))

  // =====================================================================

  val all: Seq[Q] =
    Seq(q1, q2, q3, q4, q5, q6, q7, q7a, q8, q11, q12, q13, q14, q15, q16,
      q71, q80, q89, q98, q110, q111, q113, q152, q153, q155, q156, q157,
      q158, q159, q160, q161, q162) ++
      QueriesLlm.all ++ QueriesSql.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  // NB: no stripMargin here — oracle SQL legitimately contains lines
  // starting with `||` (string concat), which stripMargin would corrupt.
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
