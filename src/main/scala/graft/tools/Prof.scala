package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ad-hoc stage profiler: times named sub-plans of the bench tail so
  * optimization targets the measured bottleneck, not a guess. Run:
  * `sbt "runMain graft.tools.Prof [sfDir] [what]"`. Dev tool — not part
  * of the driver contract. */
object Prof {
  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"PROF $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "all"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Tables
    def t(n: String): DataFrame = Tables.load(spark, sfDir, n)

    // warmup the JVM/scheduler
    t("documents").count(); t("lineitem").agg(sum("l_quantity")).collect()

    if (what == "all" || what == "q23") {
      import graft.llm.Dedup
      val par = spark.sparkContext.defaultParallelism
      val docs = t("documents")
      time("q23.hashed-shingles") {
        docs.repartition(par).select(Dedup.hashedShingles(col("text")).as("sh"))
          .agg(sum(size(col("sh")))).collect()
      }
      time("q23.minhash-par") {
        docs.repartition(par)
          .select(graft.functions.MinHashSig.column(col("text"), 12)
            .as("sig")).agg(sum(size(col("sig")))).collect()
      }
      val base = docs.repartition(par).select(col("doc_id").as("id"),
        Dedup.hashedShingles(col("text")).as("sh"),
        graft.functions.MinHashSig.column(col("text"), 12).as("sig")).persist()
      time("q23.base-materialize") { base.count() }
      val sigs = base.select(col("id"), col("sig"))
      val banded = sigs.select(col("id"),
        posexplode(Dedup.bandHashes(col("sig"), 4, 3)).as(Seq("band_idx", "band_hash")))
      val candidates = banded.select(col("band_idx"), col("band_hash"), col("id").as("id_a"))
        .join(banded.select(col("band_idx"), col("band_hash"), col("id").as("id_b")),
          Seq("band_idx", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct().persist()
      time("q23.candidates") { println("  n_cand=" + candidates.count()) }
      val prefiltered = candidates
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .withColumn("est",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b)))
        .filter(col("est") >= 6)
        .select("id_a", "id_b").persist()
      time("q23.prefiltered") { println("  n_pre=" + prefiltered.count()) }
      val scored = prefiltered
        .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard")).persist()
      time("q23.jaccard-verify") { scored.count() }
    }

    def full(name: String): Unit = {
      time(s"$name.cold") { graft.Queries.queries(name)(spark, sfDir).count() }
      time(s"$name.warm") { graft.Queries.queries(name)(spark, sfDir).count() }
    }

    if (what == "plan") {
      // print the executed plan skeleton of a named query (arg 3)
      val name = if (args.length > 2) args(2) else "q74_tpch_q5_shape"
      val df = graft.Queries.queries(name)(spark, sfDir)
      df.collect()
      println(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
        .linesIterator.filter(l => l.contains("Join") || l.contains("Exchange")
          || l.contains("Scan") || l.contains("Aggregate"))
        .mkString("\n"))
    }

    if (what == "noaqe") {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Seq("q23_lsh_pairs", "q16_dim_fanout", "q53_correlated_subquery",
        "q3_region_revenue", "q2_revenue_by_month", "q54_in_subquery",
        "q44_ivf_topk", "q10_setops")
        .foreach(full)
    }

    if (what == "all" || what == "full") {
      Seq("q23_lsh_pairs", "q24_lsh_survivors", "q16_dim_fanout",
        "q26_embed_topk", "q44_ivf_topk", "q27_ann_lsh",
        "q53_correlated_subquery", "q54_in_subquery", "q10_setops",
        "q3_region_revenue", "q38_sessionize", "q33_sql_script",
        "q43_asof_join", "q2_revenue_by_month", "q55_range_frame")
        .foreach(full)
    }

    if (what == "q16y") {
      import graft.sources.Tables
      val pRev = sum(expr("CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(30,6))"))
      val li = Tables.loadP(spark, sfDir, "lineitem")
      val byOrder = li.groupBy(col("l_orderkey")).agg(pRev.as("p"))
      val byPart = li.groupBy(col("l_partkey")).agg(pRev.as("p"))
      val bySupp = li.groupBy(col("l_suppkey")).agg(pRev.as("p"))
      val custDim = t("customer")
        .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("n_name"), col("r_name"))
      val ordJ = Tables.loadP(spark, sfDir, "orders")
        .join(byOrder, col("o_orderkey") === col("l_orderkey"))
        .join(custDim, col("o_custkey") === col("c_custkey"))
      for (r <- 1 to 2) {
        time(s"q16y.byOrder.$r") { byOrder.count() }
        time(s"q16y.byPart.$r") { byPart.count() }
        time(s"q16y.bySupp.$r") { bySupp.count() }
        time(s"q16y.ordJ.$r") { ordJ.count() }
        time(s"q16y.ordJ-gs.$r") {
          ordJ.groupingSets(Seq("o_orderpriority", "o_orderstatus",
            "c_mktsegment", "n_name", "r_name").map(d => Seq(col(d))),
            Seq(col("o_orderpriority"), col("o_orderstatus"),
              col("c_mktsegment"), col("n_name"), col("r_name")): _*)
            .agg(sum(col("p")).cast("double").as("revenue")).count()
        }
        time(s"q16y.li-gs.$r") {
          li.groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
            col("l_returnflag"), col("l_linestatus"))
            .agg(pRev.cast("double").as("revenue")).count()
        }
      }
    }

    if (what == "q16x") {
      val dims = graft.catalog.DefaultRegistry.registry.dimensionsForMetric("revenue")
        .filterNot(_.isTime).map(_.name)
      println("  dims=" + dims.mkString(","))
      var df = Tables.loadP(spark, sfDir, "lineitem")
      for ((tb, lk, rk, small) <- Seq(
        ("orders", "l_orderkey", "o_orderkey", false),
        ("customer", "o_custkey", "c_custkey", false),
        ("nation", "c_nationkey", "n_nationkey", true),
        ("region", "n_regionkey", "r_regionkey", true),
        ("part", "l_partkey", "p_partkey", false),
        ("supplier", "l_suppkey", "s_suppkey", false))) {
        val d0 = t(tb)
        df = df.join(if (small) broadcast(d0) else d0, expr(s"$lk = $rk"))
      }
      time("q16x.join-count") { df.agg(count(lit(1))).collect() }
      time("q16x.join-count2") { df.agg(count(lit(1))).collect() }
      val g = df.groupingSets(dims.map(d => Seq(col(d))), dims.map(col): _*)
        .agg(expr(graft.catalog.DefaultRegistry.registry.metric("revenue").aggSql).as("revenue"))
      time("q16x.groupingsets") { g.count() }
      time("q16x.groupingsets2") { g.count() }
      df.agg(count(lit(1))).explain("formatted")
    }
    spark.stop()
  }
}
