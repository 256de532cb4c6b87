package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ingest.IncrementalPipeline
import graft.ingest.IncrementalPipeline.FileBlockSource

/** Reference-shaped fixture A1 (FIXTURES.md): incremental watermark
  * ingestion semantics — delta detection, filter/decode/derive, dedup,
  * idempotent append. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkSource(rows: Seq[(String, Long, java.lang.Long, Int, String, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-src").toString + "/txs"
    rows.toDF("txid", "block", "blocktime", "type_int", "fee", "data")
      .write.parquet(dir)
    dir
  }

  private def hex(s: String): String =
    s.getBytes("UTF-8").map("%02x".format(_)).mkString

  /** Spark jobs started by `body` on this thread. A sentinel job closes
    * the window: listener events arrive in order, so once its start is
    * seen every job of `body` has been counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.ingest.probe")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.ingest.probe", tag)
    try {
      val out = body
      sc.setLocalProperty("graft.ingest.probe", tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(tag + "-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(tag + "-end"), "sentinel job never reached the listener")
      (out, seen.toArray.count(_ == tag))
    } finally {
      sc.setLocalProperty("graft.ingest.probe", null)
      sc.removeSparkListener(listener)
    }
  }

  /** Valid type-200 rows `t<b>` at blocks `bs`. */
  private def validRows(bs: Seq[Long]): Seq[(String, Long, java.lang.Long, Int, String, String)] =
    bs.map(b => (s"t$b", b, java.lang.Long.valueOf(1700000000L + b * 60), 200, "0.1", hex(s"p$b")))

  test("first run ingests only type 200 with data; decode + blockdate derived") {
    val src = mkSource(Seq(
      ("t1", 10L, 1700000000L, 200, "0.1", hex("hello")),
      ("t2", 11L, 1700000060L, 200, "0.2", null),          // dropped: null data
      ("t3", 12L, null, 200, "0.3", hex("wörld")),          // null blocktime ok
      ("t4", 13L, 1700000120L, 100, "0.4", hex("nope")),    // dropped: type
      ("t5", 14L, 1700000180L, 200, "0.5", "zzzz")))        // invalid hex -> null decode
    val sink = Files.createTempDirectory("graft-sink").toString + "/txs"
    val r = IncrementalPipeline.runOnce(spark, new FileBlockSource(spark, src), sink)
    assert(r.lastBlock == 0L && r.currentBlock == 14L && r.appended == 3L)

    val out = spark.read.parquet(sink).orderBy("block").collect()
    assert(out.map(_.getAs[String]("txid")).toSeq == Seq("t1", "t3", "t5"))
    val byId = out.map(x => x.getAs[String]("txid") -> x).toMap
    assert(byId("t1").getAs[String]("decoded_data") == "hello")
    assert(byId("t1").getAs[String]("blockdate") == "2023-11-14T22:13:20")
    assert(byId("t3").getAs[String]("blockdate") == null)
    assert(byId("t3").getAs[String]("decoded_data") == "wörld")
    assert(byId("t5").getAs[String]("decoded_data") == null)
    assert(out.forall(_.getAs[java.sql.Timestamp]("insert_dt") != null))
  }

  test("no-delta run early-exits; re-run never double-inserts") {
    val src = mkSource(Seq(
      ("a1", 5L, 1700000000L, 200, "0.1", hex("x")),
      ("a1", 5L, 1700000000L, 200, "0.1", hex("x")), // in-batch duplicate
      ("a2", 6L, 1700000300L, 200, "0.2", hex("y"))))
    val sink = Files.createTempDirectory("graft-sink2").toString + "/txs"
    val source = new FileBlockSource(spark, src)

    val r1 = IncrementalPipeline.runOnce(spark, source, sink)
    assert(r1.appended == 2L, "in-batch dedup by txid")

    val r2 = IncrementalPipeline.runOnce(spark, source, sink)
    assert(r2.appended == 0L && r2.lastBlock == 6L, "watermark blocks re-ingest")
    assert(spark.read.parquet(sink).count() == 2L)
  }

  test("jdbc sink: watermark + idempotent append cycle against in-process Derby") {
    // Derby ships in /opt/spark/jars (Spark's Hive-metastore dep) — an
    // embedded JDBC database with zero extra dependencies.
    System.setProperty("derby.stream.error.file",
      Files.createTempDirectory("derby-log").toString + "/derby.log")
    val dbDir = Files.createTempDirectory("graft-derby").toString + "/db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new IncrementalPipeline.JdbcTxSink(spark, url, "txs", opts)
    assert(sink.watermark() == 0L, "missing table reads as watermark 0")

    val src = mkSource(Seq(
      ("j1", 5L, 1700000000L, 200, "0.1", hex("x")),
      ("j2", 6L, 1700000300L, 200, "0.2", hex("y"))))
    val source = new FileBlockSource(spark, src)
    val r1 = IncrementalPipeline.runOnce(spark, source, sink)
    assert(r1.appended == 2L)
    assert(sink.watermark() == 6L)

    // retry with no new blocks: early exit, nothing double-inserted
    val r2 = IncrementalPipeline.runOnce(spark, source, sink)
    assert(r2.appended == 0L && r2.lastBlock == 6L)

    // source advances but overlaps the horizon: anti-join runs IN the
    // database and drops the already-present txid
    val src2 = mkSource(Seq(
      ("j2", 6L, 1700000300L, 200, "0.2", hex("y")),
      ("j3", 7L, 1700000600L, 200, "0.3", hex("z"))))
    val r3 = IncrementalPipeline.runOnce(spark, new FileBlockSource(spark, src2), sink)
    assert(r3.appended == 1L)

    val rows = graft.sources.Tables.loadJdbc(spark, url, "txs", opts)
      .orderBy("block").collect()
    assert(rows.map(_.getAs[String]("txid")).toSeq == Seq("j1", "j2", "j3"))
    assert(rows.forall(_.getAs[java.sql.Timestamp]("insert_dt") != null))

    // partitioned JDBC read returns the same rows across range slices
    val sliced = graft.sources.Tables.loadJdbcPartitioned(
      spark, url, "txs", "block", 0L, 9L, 3, opts)
    assert(sliced.rdd.getNumPartitions == 3)
    assert(sliced.count() == 3L)
  }

  test("bucketed parquet sink: idempotency scan prunes partitions to the horizon") {
    import spark.implicits._
    val sinkDir = Files.createTempDirectory("graft-sinkb").toString + "/txs"
    val sink = new IncrementalPipeline.ParquetTxSink(spark, sinkDir,
      bucketBlocks = Some(10L))
    // seed three buckets: blocks 1..25 → block_bucket 0,1,2
    sink.append((1L to 25L).map(b => (s"t$b", b)).toDF("txid", "block"))

    val scan = sink.existingTxids(fromExclusive = 24L).get
    assert(scan.collect().map(_.getString(0)).toSeq == Seq("t25"))
    val plan = scan.queryExecution.executedPlan.toString
    // directory-level pruning: only bucket >= 2 is read ...
    assert(plan.contains("PartitionFilters") && plan.contains("block_bucket"),
      plan.take(2000))
    // ... and the block predicate reaches the parquet row groups
    val pushed = plan.split("PushedFilters: ")(1).split("]")(0)
    assert(pushed.contains("GreaterThan(block"), plan.take(2000))
  }

  test("jdbc sink: a non-'missing table' probe failure throws instead of resetting the watermark") {
    // unreachable database: the probe fails with a connection-level
    // error (Derby XJ004), NOT table-not-found — treating that as
    // "table missing" would return watermark 0 and skip the anti-join
    // guard, bulk-duplicating history on the next run
    val sink = new IncrementalPipeline.JdbcTxSink(spark,
      "jdbc:derby:/nonexistent-graft-db-path/db", "txs",
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val e = intercept[IllegalStateException] { sink.watermark() }
    assert(e.getMessage.contains("refusing"), e.getMessage)
    intercept[IllegalStateException] { sink.existingTxids(0L) }
  }

  test("parquet sink: layout mismatch fails fast instead of mis-pruning") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sinkl").toString
    // written bucketed with n=10 ...
    val dir1 = base + "/a"
    new IncrementalPipeline.ParquetTxSink(spark, dir1, bucketBlocks = Some(10L))
      .append(Seq(("t1", 1L)).toDF("txid", "block"))
    // ... read with a different width → the horizon prune would list
    // the wrong directories; must fail, not silently miss duplicates
    val wrongN = new IncrementalPipeline.ParquetTxSink(spark, dir1, bucketBlocks = Some(5L))
    assert(intercept[IllegalStateException] { wrongN.existingTxids(0L) }
      .getMessage.contains("layout mismatch"))
    // ... and a flat-configured reader over a bucketed sink also fails
    val flat = new IncrementalPipeline.ParquetTxSink(spark, dir1)
    assert(intercept[IllegalStateException] { flat.watermark() }
      .getMessage.contains("layout mismatch"))
    // written flat, read bucketed → same refusal
    val dir2 = base + "/b"
    new IncrementalPipeline.ParquetTxSink(spark, dir2)
      .append(Seq(("t1", 1L)).toDF("txid", "block"))
    val bucketed = new IncrementalPipeline.ParquetTxSink(spark, dir2, bucketBlocks = Some(10L))
    assert(intercept[IllegalStateException] { bucketed.existingTxids(0L) }
      .getMessage.contains("layout mismatch"))
    // pre-sidecar bucketed data: the true width is unknowable, so EVERY
    // configured width must be refused (accepting one on faith — and then
    // recording it — is the exact mis-prune the check exists to prevent)
    val dir3 = base + "/c"
    new IncrementalPipeline.ParquetTxSink(spark, dir3, bucketBlocks = Some(10L))
      .append(Seq(("t1", 1L)).toDF("txid", "block"))
    assert(new java.io.File(dir3, "_graft_bucket_blocks").delete())
    for (n <- Seq(10L, 5L)) {
      val s = new IncrementalPipeline.ParquetTxSink(spark, dir3, bucketBlocks = Some(n))
      val e = intercept[IllegalStateException] { s.watermark() }
      assert(e.getMessage.contains("no _graft_bucket_blocks sidecar"), e.getMessage)
      intercept[IllegalStateException] {
        s.append(Seq(("t2", 2L)).toDF("txid", "block"))
      }
      // the refused append must NOT have legitimized the width
      assert(!new java.io.File(dir3, "_graft_bucket_blocks").exists())
    }
  }

  test("rpc source: bounded fan-out fetch with retry against an in-JVM HTTP stub") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import java.util.concurrent.atomic.AtomicInteger

    val inFlight = new AtomicInteger(0)
    val peakInFlight = new AtomicInteger(0)
    val retried = new AtomicInteger(0)
    val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

    // local-loopback stub, ephemeral port — no external network
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16))
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val cur = inFlight.incrementAndGet()
        peakInFlight.accumulateAndGet(cur, math.max)
        try {
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          def respond(code: Int, s: String): Unit = {
            val b = s.getBytes("UTF-8")
            ex.sendResponseHeaders(code, b.length)
            ex.getResponseBody.write(b); ex.close()
          }
          // proper JSON-RPC envelope — a bare-number reply here once
          // masked a client bug (currentBlock parsed the raw body)
          if (body.contains("getblockcount"))
            respond(200, """{"jsonrpc":"2.0","id":1,"result":6}""")
          else {
            val h = body.split("\"params\":\\[")(1).split("]")(0).toLong
            // every height fails its FIRST request: the client must retry
            if (failedOnce.add(h)) { retried.incrementAndGet(); respond(500, "transient") }
            else {
              Thread.sleep((h % 3) * 20) // out-of-order completion
              val time = if (h == 3) "null" else (1700000000L + h * 60).toString
              respond(200,
                s"""{"jsonrpc":"2.0","id":1,"result":[
                    {"txid":"h${h}a","block":$h,"blocktime":$time,"type_int":200,"fee":"0.1","data":"${hex(s"tx$h")}"},
                    {"txid":"h${h}b","block":$h,"blocktime":$time,"type_int":100,"fee":"0.2","data":null}]}""")
            }
          }
        } finally inFlight.decrementAndGet()
      }
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val source = new IncrementalPipeline.RpcBlockSource(spark, endpoint,
        maxConcurrency = 2, maxRetries = 3, numPartitions = 2, backoffMs = 5)
      assert(source.currentBlock() == 6L)

      val sink = Files.createTempDirectory("graft-sinkr").toString + "/txs"
      val r = IncrementalPipeline.runOnce(spark, source, sink)
      assert(r.currentBlock == 6L)
      // heights 1..6, one type-200 tx each survives the transform
      assert(r.appended == 6L)
      val rows = spark.read.parquet(sink).orderBy("block").collect()
      assert(rows.map(_.getAs[String]("txid")).toSeq ==
        (1 to 6).map(h => s"h${h}a"))
      assert(rows.forall(_.getAs[Int]("type_int") == 200))
      assert(rows.find(_.getAs[Long]("block") == 3L).get
        .getAs[java.lang.Long]("blocktime") == null)
      assert(rows.find(_.getAs[Long]("block") == 2L).get
        .getAs[String]("decoded_data") == "tx2")

      assert(retried.get() >= 6, "every height's first request got a 500")
      // 2 partitions x 2 workers: the stub never saw more than 4 in flight
      assert(peakInFlight.get() <= 4, s"peak=${peakInFlight.get()}")
    } finally server.stop(0)
  }

  test("delta run picks up only blocks above the watermark") {
    val sink = Files.createTempDirectory("graft-sink3").toString + "/txs"
    val src1 = mkSource(Seq(("b1", 1L, 1700000000L, 200, "0", hex("a"))))
    IncrementalPipeline.runOnce(spark, new FileBlockSource(spark, src1), sink)

    // same sink, source advanced: one old block (already seen) + one new
    val src2 = mkSource(Seq(
      ("b1", 1L, 1700000000L, 200, "0", hex("a")),
      ("b2", 2L, 1700000900L, 200, "0", hex("b"))))
    val r = IncrementalPipeline.runOnce(spark, new FileBlockSource(spark, src2), sink)
    assert(r.appended == 1L)
    assert(spark.read.parquet(sink).agg(max(col("block"))).first().getLong(0) == 2L)
  }

  test("transform decodes with the native expression, no Scala UDF") {
    val src = mkSource(validRows(Seq(1L)))
    val plan = IncrementalPipeline.transform(spark.read.parquet(src)).queryExecution.analyzed
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(!exprs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]),
      plan.toString)
    assert(exprs.exists(_.isInstanceOf[graft.functions.HexDecodeUtf8]), plan.toString)
  }

  test("parquet sink: watermark reads the commit marker with no Spark job; cycles cost the same jobs") {
    val sinkDir = Files.createTempDirectory("graft-sinkm").toString + "/txs"
    val sink = new IncrementalPipeline.ParquetTxSink(spark, sinkDir, bucketBlocks = Some(4L))
    val jobs = (1 to 6).map { c =>
      val src = new FileBlockSource(spark, mkSource(validRows(1L to 3L * c)))
      val (r, n) = jobsDuring(IncrementalPipeline.runOnce(spark, src, sink))
      assert(r.appended == 3L && r.currentBlock == 3L * c)
      n
    }
    assert(new java.io.File(sinkDir, "_graft_commit").exists())
    val (wm, wmJobs) = jobsDuring(sink.watermark())
    assert(wm == 18L && wmJobs == 0, s"watermark $wm ran $wmJobs jobs")
    // the first cycle meets an empty sink (no anti-join); from then on a
    // cycle's job count does not grow with the sink
    assert(jobs.tail.distinct.size == 1, s"jobs per cycle: $jobs")
    assert(spark.read.parquet(sinkDir).count() == 18L)
  }

  test("parquet sink: a stale-low marker (crash before the marker) re-appends nothing twice") {
    for (bucket <- Seq(None, Some(4L))) {
      val sinkDir = Files.createTempDirectory("graft-sinkc").toString + "/txs"
      val marker = new java.io.File(sinkDir, "_graft_commit").toPath
      val sink = new IncrementalPipeline.ParquetTxSink(spark, sinkDir, bucket)
      def run(head: Long) = IncrementalPipeline.runOnce(spark,
        new FileBlockSource(spark, mkSource(validRows(1L to head))), sink)
      assert(run(3L).appended == 3L)
      val old = Files.readAllBytes(marker)
      assert(run(6L).appended == 3L && sink.watermark() == 6L)
      // the files of blocks 4..6 landed, the marker did not
      Files.write(marker, old)
      assert(sink.watermark() == 3L)
      val r = run(8L)
      assert(r.lastBlock == 3L && r.appended == 2L, s"$bucket: $r")
      val txids = spark.read.parquet(sinkDir).select("txid").collect().map(_.getString(0))
      assert(txids.sorted.toSeq == (1 to 8).map(b => s"t$b").sorted, s"$bucket")
      assert(sink.watermark() == 8L)
    }
  }

  test("parquet sink: a sink without a marker is scanned once, then reads the marker") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sinkp").toString
    val rows = Seq(("a", 4L), ("b", 9L), ("c", 7L)).toDF("txid", "block")
    val flat = base + "/flat"
    rows.write.parquet(flat)
    val bucketed = base + "/bucketed"
    rows.withColumn("block_bucket", floor(col("block") / 4L))
      .write.partitionBy("block_bucket").parquet(bucketed)
    Files.write(new java.io.File(bucketed, "_graft_bucket_blocks").toPath, "4".getBytes("UTF-8"))
    for ((dir, bucket) <- Seq(flat -> None, bucketed -> Some(4L))) {
      val sink = new IncrementalPipeline.ParquetTxSink(spark, dir, bucket)
      val marker = new java.io.File(dir, "_graft_commit")
      assert(!marker.exists())
      val (wm, scanJobs) = jobsDuring(sink.watermark())
      assert(wm == 9L && scanJobs >= 1 && marker.exists(), s"$dir: $wm / $scanJobs")
      assert(jobsDuring(sink.watermark()) == (9L, 0))
      assert(sink.existingTxids(5L).get.collect().map(_.getString(0)).sorted.toSeq ==
        Seq("b", "c"))
      // deleting the marker forces the rescan
      assert(marker.delete())
      assert(jobsDuring(sink.watermark())._2 >= 1 && marker.exists())
    }
  }

  test("parquet sink: an empty delta appends 0 rows and leaves the sink and watermark as they were") {
    val base = Files.createTempDirectory("graft-sinke").toString
    // rows that the transform filters away (type 100) or that the anti-join drops
    val invalid = Seq(("x1", 3L, java.lang.Long.valueOf(1700000000L), 100, "0", hex("x")))
    for (bucket <- Seq(None, Some(4L))) {
      val dir = base + "/" + bucket.fold("flat")(n => s"b$n")
      val sink = new IncrementalPipeline.ParquetTxSink(spark, dir, bucket)
      def run(rows: Seq[(String, Long, java.lang.Long, Int, String, String)]) =
        IncrementalPipeline.runOnce(spark, new FileBlockSource(spark, mkSource(rows)), sink)
      // new sink: no directory is left behind
      val r0 = run(invalid)
      assert(r0.currentBlock == 3L && r0.appended == 0L)
      assert(sink.watermark() == 0L && sink.existingTxids(0L).isEmpty)
      assert(!new java.io.File(dir).exists(), s"$bucket")
      // existing sink: filtered away, then anti-joined away
      assert(run(validRows(Seq(1L, 2L))).appended == 2L)
      val files = new java.io.File(dir).list().toSet
      val r1 = run(validRows(Seq(1L, 2L)) ++ invalid)
      assert(r1.lastBlock == 2L && r1.appended == 0L)
      val replay = ("t2", 4L, java.lang.Long.valueOf(1700000000L), 200, "0", hex("p2"))
      val r2 = run(validRows(Seq(1L, 2L)) :+ replay)
      assert(r2.lastBlock == 2L && r2.appended == 0L)
      assert(sink.watermark() == 2L)
      assert(new java.io.File(dir).list().toSet == files, s"$bucket")
      assert(spark.read.parquet(dir).count() == 2L, s"$bucket")
    }
  }
}
