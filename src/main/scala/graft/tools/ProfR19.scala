package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-19 stage profiler: decomposes the board's most expensive
  * query paths into named sub-stages so optimization targets the
  * measured bottleneck (guide §1.1/§1.2). Run:
  *   sbt "runMain graft.tools.ProfR19 [sfDir] [section]"
  * Dev tool — not part of the driver contract. */
object ProfR19 {
  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"PROF $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
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
    graft.Bench.quietKnownLogFloods()
    import graft.sources.Tables
    def t(n: String): DataFrame = Tables.load(spark, sfDir, n)
    def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def q(name: String): DataFrame =
      graft.SparkEntry.queries(name)(spark, sfDir)

    // Job accounting: wall seconds inside jobs vs between them (driver
    // planning/codegen gaps), plus executor task-time sum.
    val jobWall = new java.util.concurrent.atomic.AtomicLong(0)
    val taskTime = new java.util.concurrent.atomic.AtomicLong(0)
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStarts.put(s.jobId, System.nanoTime())
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = jobStarts.remove(e.jobId)
          if (t0 != 0L) jobWall.addAndGet(System.nanoTime() - t0)
          nJobs.incrementAndGet(); ()
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskInfo != null) {
            taskTime.addAndGet(e.taskInfo.duration * 1000000L); ()
          }
      })
    def whole(name: String, reps: Int = 2): Unit =
      for (i <- 1 to reps) {
        val (j0, w0, tt0) = (nJobs.get(), jobWall.get(), taskTime.get())
        time(s"$name.whole.$i") { exec(q(name)) }
        // listener events are async; settle briefly
        Thread.sleep(300)
        println(f"  jobs=${nJobs.get() - j0}%3d inJobWall=${(jobWall.get() - w0) / 1e9}%7.3f s taskSum=${(taskTime.get() - tt0) / 1e9}%8.3f s")
      }

    // warmup the JVM/scheduler
    t("documents").count(); t("lineitem").agg(sum("l_quantity")).collect()

    if (what == "q256" || what == "dedup") {
      import graft.llm.Dedup
      val docs = t("documents")
      val prep = Dedup.fingerprintPrep(docs, "doc_id", "text").persist()
      time("q256.prep-materialize") { prep.count() }
      // the three public blockers (blockedPairsWithCaches runs the
      // same constructions over the shared prep)
      time("q256.lshPairs") {
        exec(Dedup.lshPairs(docs, "doc_id", "text", 0.5)) }
      time("q256.sortedNeighborPairs") {
        exec(Dedup.sortedNeighborPairs(docs, "doc_id", "text")) }
      time("q256.simhashPairs") {
        exec(Dedup.simhashPairs(docs, "doc_id", "text")) }
      val (pairs, caches) = Dedup.blockedPairsWithCaches(docs, "doc_id",
        "text", 0.5, 4, 0.5, 3)
      time("q256.pairs-union(all3,shared)") { exec(pairs) }
      time("q256.dupClusters(pairs)") {
        exec(graft.llm.Corpus.dupClusters(pairs)) }
      caches.foreach(_.unpersist(blocking = false))
      prep.unpersist(blocking = false)
      whole("q256_blocked_dedup")
      whole("q259_blocked_keepers")
    }

    if (what == "q292" || what == "dedup") {
      import graft.llm.Dedup
      // build the artifacts exactly where the query's indexDir puts
      // them (first whole-run builds them; later sections reuse)
      whole("q292_incr_blocked_dedup", reps = 1)
      val canonical = new java.io.File(sfDir).getCanonicalPath
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-idx-ibd-" +
        java.lang.Integer.toHexString(canonical.hashCode) + "-" +
        new java.io.File(sfDir).getName
      val batch = t("documents").filter(col("doc_id") % 4 === 0)
      def sig = spark.read.parquet(s"$idx/sig")
      def sk = spark.read.parquet(s"$idx/sk")
      def fp = spark.read.parquet(s"$idx/fp")
      def pl = spark.read.parquet(s"$idx/pairs")
      def cl = spark.read.parquet(s"$idx/clusters")
      time("q292.artifact-read-counts") {
        (sig.count(), sk.count(), fp.count(), pl.count(), cl.count()) }
      val prep = Dedup.fingerprintPrep(batch, "doc_id", "text").persist()
      time("q292.batch-prep") { prep.count() }
      val (newSigs, newSk, newFps) = Dedup.prepArtifacts(prep)
      time("q292.incr-lsh") {
        exec(Dedup.incrementalLshPairs(newSigs, sig, 0.5, 4, 6)) }
      time("q292.incr-sn") {
        exec(Dedup.incrementalSortedNeighborPairs(sk, newSk, 4, 0.5)) }
      time("q292.incr-simhash") {
        exec(Dedup.incrementalSimhashPairs(newFps, fp, 3)) }
      val delta = time("q292.delta-pairs(all3)") {
        val d = Dedup.incrementalBlockedDedupPairsFromArtifacts(
          newSigs, newSk, newFps, sig, sk, fp)
        exec(d); d }
      time("q292.delta-close") {
        val (touchedEdges, passThrough) =
          Dedup.deltaCloseSplit(pl, cl, delta)
        val reclosed = graft.llm.Corpus.dupClusters(
          touchedEdges.unionByName(delta.select(col("id_a"), col("id_b")))
            .distinct())
        exec(passThrough.unionByName(reclosed)) }
      prep.unpersist(blocking = false)
      whole("q292_incr_blocked_dedup")
    }

    if (what == "q262") {
      import graft.llm.Dedup
      val docs = t("documents")
      val base = Dedup.signatureTable(docs, "doc_id", "text").persist()
      time("q262.base") { base.count() }
      base.unpersist(blocking = false)
      val (lazyPlan, caches) = Dedup.bbitJaccardEstWithCaches(docs,
        "doc_id", "text", 4, 12, 4)
      time("q262.lazy-whole") { exec(lazyPlan) }
      caches.foreach(_.unpersist(blocking = false))
      whole("q262_bbit_minhash")
    }

    if (what == "graph") {
      val li = t("lineitem")
      val pairs = graft.operators.MarketBasket.pairRules(
        li, "l_orderkey", "l_partkey", minPairCount = 2L)
        .select(col("item_a"), col("item_b"))
      time("graph.pairRules-edges") { exec(pairs) }
      time("graph.pairRules-edges.2") { exec(pairs) }
      time("graph.lpa-rounds4") {
        exec(graft.operators.GraphOps.labelPropagation(pairs,
          "item_a", "item_b", rounds = 4)) }
      whole("q284_label_prop")
      whole("q286_seed_distance")
      whole("q270_pagerank")
      whole("q273_hits")
      whole("q275_ppr")
      whole("q291_assortativity")
      whole("q293_bigstar_clusters")
      whole("q281_market_basket")
    }

    if (what == "q299") {
      whole("q299_streamed_pair_log", reps = 1)
      val canonical = new java.io.File(sfDir).getCanonicalPath
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-idx-spl-" +
        java.lang.Integer.toHexString(canonical.hashCode) + "-" +
        new java.io.File(sfDir).getName
      val c = s"$idx/c"
      val spx = graft.streaming.StreamingPipeline
      time("q299.readers") {
        (spx.readSignatures(spark, s"$c/sig").count(),
         spx.readSortKeys(spark, s"$c/sk", s"$c/sig").count(),
         spx.readFingerprints(spark, s"$c/fp", s"$c/sig").count(),
         spx.readPairs(spark, s"$c/pairs", s"$c/sig").count()) }
      whole("q299_streamed_pair_log")
    }

    if (what == "misc") {
      whole("q294_retrieval_eval", reps = 1)
      whole("q294_retrieval_eval")
      whole("q149_ppl_tiers")
      whole("q132_bloom_seen")
      whole("q136_pq_topk", reps = 1)
      whole("q136_pq_topk")
      whole("q143_ivfpq_topk", reps = 1)
      whole("q143_ivfpq_topk")
      whole("q280_rake_keywords")
      whole("q263_rbo")
      whole("q158_fuzzy_join")
      whole("q274_incr_sorted_neighbors")
      whole("q220_effective_dim")
      whole("q80_manifest_metrics")
      whole("q16_dim_fanout")
    }

    if (what == "q293x") {
      import graft.llm.Dedup
      val docs = t("documents")
      Dedup.withLshPairs(docs, "doc_id", "text") { pairs =>
        val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
        time("q293.lsh-pairs-pin") { p.count() }
        time("q293.bigstar(pinned-pairs)") {
          exec(graft.llm.Corpus.dupClusters(p, localMaxBytes = 0L)) }
        time("q293.bigstar(pinned-pairs).2") {
          exec(graft.llm.Corpus.dupClusters(p, localMaxBytes = 0L)) }
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        time("q293.bigstar(shufpart=2)") {
          exec(graft.llm.Corpus.dupClusters(p, localMaxBytes = 0L)) }
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
        time("q293.bigstar(aqe-coalesce)") {
          exec(graft.llm.Corpus.dupClusters(p, localMaxBytes = 0L)) }
        spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        time("q293.driver-uf(pinned-pairs)") {
          exec(graft.llm.Corpus.dupClusters(p)) }
        p
      }
      whole("q293_bigstar_clusters")
    }

    if (what == "mb") {
      val li = t("lineitem")
      val items0 = li
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("__b"), col("l_partkey").as("__i"))
        .distinct()
      time("mb.items0-distinct") { exec(items0) }
      val items = time("mb.items-checkpoint") {
        val sizes = items0.groupBy(col("__b"))
          .agg(count(lit(1)).as("__sz"))
          .filter(col("__sz") <= 100)
          .select(col("__b"))
        items0.join(sizes, Seq("__b")).localCheckpoint(true)
      }
      val pairs = items.select(col("__b"), col("__i").as("item_a"))
        .join(items.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
        .filter(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).cast("long").as("pair_count"))
        .filter(col("pair_count") >= 2L)
      time("mb.pair-selfjoin-count") { exec(pairs) }
      whole("q281_market_basket")
      whole("q284_label_prop")
      whole("q291_assortativity")
    }

    if (what == "q149") {
      val docs = t("documents")
      time("q149.lmPerplexity") {
        exec(graft.llm.TextAnalysis.lmPerplexity(docs, "doc_id", "text")) }
      whole("q125_lm_perplexity")
      whole("q149_ppl_tiers")
    }

    spark.stop()
  }
}
