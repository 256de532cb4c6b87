package graft.ingest

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.GraftFunctions

/** Incremental watermark ingestion (SURVEY.md §2.1 S5–S12, §2.3).
  *
  * Batch re-expression of the reference's cron pipeline
  * (helix-flow/dags/omni/transactions_dag.py:14-46): read the MAX(block)
  * watermark from the sink, detect a delta, fetch the `(last, current]`
  * key range from the source, filter `type_int == 200 AND data IS NOT
  * NULL`, hex-decode, derive blockdate, then append with an `insert_dt`
  * audit column. Two deliberate upgrades over the reference (SURVEY.md
  * §7.4): dedup by txid before the append, and an idempotent anti-join
  * against the sink so a retried run can never double-insert
  * (postgres_client.py:34-48 has no such key).
  *
  * At scale: the watermark read is one small commit-marker file the
  * parquet sink keeps beside its data (a MAX pushed into the database
  * on JDBC); the delta fetch is a key-range predicate pushed to the
  * source; the anti-join shuffles only the delta, never the sink
  * history.
  */
object IncrementalPipeline {

  /** Source abstraction over the reference's RPC client
    * (omni_rpc_client.py:56-69): head block + key-range fetch. The
    * production impl would wrap an HTTP/JSON-RPC connector via
    * mapPartitions with bounded per-partition concurrency (S6); tests
    * use a parquet-backed source. */
  trait BlockSource {
    def currentBlock(): Long
    /** All raw tx rows with block ∈ (fromExclusive, toInclusive]. */
    def fetchRange(fromExclusive: Long, toInclusive: Long): DataFrame
  }

  final class FileBlockSource(spark: SparkSession, path: String) extends BlockSource {
    private lazy val df = spark.read.parquet(path)
    override def currentBlock(): Long =
      df.agg(coalesce(max(col("block")), lit(0L))).first().getLong(0)
    override def fetchRange(fromExclusive: Long, toInclusive: Long): DataFrame =
      df.filter(col("block") > fromExclusive && col("block") <= toInclusive)
  }

  /** Raw transaction row as fetched from the RPC endpoint — the sparse
    * JSON-RPC dict shape (absent keys → null). */
  final case class RawTx(txid: String, block: Long, blocktime: Option[Long],
      type_int: Int, fee: String, data: String)

  /** HTTP/JSON-RPC block source (S4+S6): the reference's RPC client
    * re-expressed for executors (omni_rpc_client.py:36-51 request shape,
    * :71-98 bounded fan-out with retry).
    *
    * Scale shape: the block-height range is a `spark.range` split into
    * `numPartitions` slices; each PARTITION runs its own HTTP client
    * with a bounded pool of `maxConcurrency` workers, so total cluster
    * fan-out = partitions × maxConcurrency — an explicit, tunable cap
    * instead of the reference's single-process thread pool. Results
    * complete in ANY order (completion order never affects output:
    * downstream is declarative). Each height is fetched with
    * `maxRetries` attempts and linear backoff; a height that exhausts
    * retries fails the task (Spark then retries the task — at-least-
    * once, made exactly-once by the sink's idempotent anti-join).
    *
    * `currentBlock` is ONE driver-side call (head probe); the range
    * fetch is the only executor-side network work.
    */
  final class RpcBlockSource(spark: SparkSession, endpoint: String,
      maxConcurrency: Int = 8, maxRetries: Int = 3,
      numPartitions: Int = 0, backoffMs: Long = 50) extends BlockSource {

    override def currentBlock(): Long = {
      // Same JSON-RPC envelope as the range fetch: a conforming server
      // replies {"jsonrpc":"2.0","id":1,"result":N} for getblockcount
      // too — parsing the raw body as a bare number only ever worked
      // against a non-conforming stub.
      val body = RpcBlockSource.rpcCall(
        java.net.http.HttpClient.newHttpClient(), endpoint, "getblockcount",
        "", maxRetries, backoffMs)
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(body).get("result").asLong()
    }

    override def fetchRange(fromExclusive: Long, toInclusive: Long): DataFrame = {
      import spark.implicits._
      val parts = if (numPartitions > 0) numPartitions
        else spark.sparkContext.defaultParallelism
      val (ep, conc, retries, backoff) = (endpoint, maxConcurrency, maxRetries, backoffMs)
      spark.range(fromExclusive + 1, toInclusive + 1)
        .repartition(parts).as[Long]
        .mapPartitions(hs => RpcBlockSource.fetchPartition(hs, ep, conc, retries, backoff))
        .toDF()
    }
  }

  object RpcBlockSource {
    import scala.jdk.CollectionConverters._

    /** One synchronous JSON-RPC call with retry + linear backoff.
      * Retries on IOException and any non-200 status. The client is
      * caller-owned: each HttpClient carries a selector thread and a
      * connection pool, so it must be created once per partition (or
      * once on the driver), never per call — a per-call client leaks
      * threads/sockets and defeats keep-alive at thousands of heights
      * per partition. */
    private[graft] def rpcCall(client: java.net.http.HttpClient,
        endpoint: String, method: String,
        params: String, maxRetries: Int, backoffMs: Long): String = {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"jsonrpc":"2.0","id":1,"method":"$method","params":[$params]}"""))
        .build()
      var attempt = 0
      while (true) {
        try {
          val resp = client.send(req,
            java.net.http.HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() == 200) return resp.body()
          if (attempt >= maxRetries)
            sys.error(s"$method($params): HTTP ${resp.statusCode()} after $attempt retries")
        } catch {
          case e: java.io.IOException =>
            if (attempt >= maxRetries) throw e
        }
        attempt += 1
        Thread.sleep(backoffMs * attempt)
      }
      throw new IllegalStateException("unreachable")
    }

    /** Partition body: a bounded worker pool drains the height slice;
      * rows are emitted in COMPLETION order (unordered by design). */
    private[graft] def fetchPartition(heights: Iterator[Long], endpoint: String,
        maxConcurrency: Int, maxRetries: Int, backoffMs: Long): Iterator[RawTx] = {
      val hs = heights.toVector
      if (hs.isEmpty) return Iterator.empty
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrency, hs.size))
      try {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        // one client per PARTITION, shared by the worker pool (HttpClient
        // is thread-safe) — connection reuse across all heights here
        val client = java.net.http.HttpClient.newHttpClient()
        val out = new java.util.concurrent.ConcurrentLinkedQueue[RawTx]()
        val tasks = hs.map { h =>
          (() => {
            val body = rpcCall(client, endpoint, "getblocktxs", h.toString,
              maxRetries, backoffMs)
            val root = mapper.readTree(body)
            val txs = root.get("result")
            val it = txs.elements()
            while (it.hasNext) {
              val t = it.next()
              def s(f: String): String = {
                val n = t.get(f)
                if (n == null || n.isNull) null else n.asText()
              }
              out.add(RawTx(
                txid = s("txid"),
                block = t.get("block").asLong(),
                blocktime = Option(t.get("blocktime")).filter(!_.isNull).map(_.asLong()),
                type_int = t.get("type_int").asInt(),
                fee = s("fee"),
                data = s("data")))
            }
          }): java.util.concurrent.Callable[Unit]
        }
        // invokeAll = run all under the bounded pool; .get() rethrows
        // the first exhausted-retry failure and fails the task
        pool.invokeAll(tasks.asJava).forEach(_.get())
        out.iterator().asScala.toVector.iterator
      } finally pool.shutdown()
    }
  }

  /** Sink abstraction for the incremental append target. The pruning
    * contract is the point: `existingTxids(from)` must return only
    * txids with `block > from`, and implementations must make that a
    * PRUNED read — partition/row-group pruning on parquet, a WHERE
    * pushed into the database on JDBC — never a full-history scan.
    * (Round-2 shipped a full sink scan per batch; at 100 TB the
    * idempotency check would have cost more than the ingest.)
    *
    * `watermark()` may read LOW, never high: a watermark below the
    * sink's true MAX(block) only makes the next run refetch blocks the
    * horizon anti-join then drops, so an implementation may answer
    * from recorded state (the parquet sink's commit marker) instead of
    * scanning. `append` must run exactly one action over `df`, so an
    * observation the caller placed on it reports exactly once. */
  trait TxSink {
    def watermark(): Long
    /** txids already in the sink with block > fromExclusive, or None if
      * the sink doesn't exist yet. */
    def existingTxids(fromExclusive: Long): Option[DataFrame]
    def append(df: DataFrame): Unit
  }

  /** Parquet sink. With `bucketBlocks = Some(n)` the sink is laid out
    * as `block_bucket=<block/n>/` partition directories — the
    * idempotency read then prunes at the DIRECTORY level (only the
    * buckets overlapping the refetch horizon are listed), and rows are
    * sorted by block within files so row-group stats prune the rest.
    * The flat layout (None) keeps the original single-directory shape
    * and still gets row-group pruning from the sort.
    *
    * Commit marker: after each append that lands rows, `_graft_commit`
    * records the sink's watermark (MAX(block) over every row committed
    * through the sink, observed on the write itself) and its read
    * schema (the written frame's, plus `block_bucket` when bucketed).
    * `watermark()` then reads one small file and runs no Spark job, and
    * the layout check and the horizon read use the recorded schema
    * instead of inferring it from the files. The marker is replaced by
    * an atomic rename after the data files land, so a crash between
    * the two (or an append that bypasses this class) leaves it
    * stale-LOW: the next run refetches from (stale watermark − overlap)
    * and the horizon anti-join drops the rows that already landed —
    * the partial-append argument of [[runOnce]]. A sink without a
    * marker (written before markers existed) is scanned once for
    * MAX(block) and its schema, and the marker is written then; delete
    * `_graft_commit` to force that rescan. Spark's file listing skips
    * names starting with `_`, so readers of the directory never see it. */
  final class ParquetTxSink(spark: SparkSession, path: String,
      bucketBlocks: Option[Long] = None) extends TxSink {
    private def exists = new java.io.File(path).exists()

    /** The bucket width is part of the sink's on-disk LAYOUT: a reader
      * configured with a different width would prune the wrong
      * directories and silently miss duplicates, and a flat-configured
      * reader over a bucketed sink (or vice versa) fails confusingly
      * deep in Spark. The width is recorded in a sidecar file on first
      * append and validated (against both the sidecar and the schema)
      * on every subsequent read/append. */
    private val sidecarName = "_graft_bucket_blocks"
    private def sidecar = new java.io.File(path, sidecarName)

    private def recordedBucketBlocks: Option[Long] =
      if (!sidecar.exists()) None
      else Some(new String(java.nio.file.Files.readAllBytes(sidecar.toPath),
        "UTF-8").trim.toLong)

    private def marker = new java.io.File(path, ParquetTxSink.MarkerName)

    /** The sink's committed state, or None if the sink doesn't exist.
      * Falls back to one scan (recorded as the marker) when the sink has
      * no marker. */
    private def committed(): Option[ParquetTxSink.Commit] =
      if (!exists) None
      else if (marker.exists()) Some(ParquetTxSink.Commit.read(marker))
      else {
        val df = spark.read.parquet(path)
        val c = ParquetTxSink.Commit(
          df.agg(coalesce(max(col("block")), lit(0L))).first().getLong(0),
          df.schema)
        c.write(marker)
        Some(c)
      }

    /** [[committed]], after checking the configured layout against the
      * sidecar and the committed schema. */
    private def validated(): Option[ParquetTxSink.Commit] = committed().map { c =>
      val hasBucketCol = c.schema.fieldNames.contains("block_bucket")
      (bucketBlocks, recordedBucketBlocks) match {
        case (Some(n), Some(m)) if n != m =>
          throw new IllegalStateException(
            s"sink $path layout mismatch: written with bucketBlocks=$m, configured $n")
        case (Some(n), None) if !hasBucketCol =>
          throw new IllegalStateException(
            s"sink $path layout mismatch: configured bucketBlocks=$n but the " +
              "existing data is flat (no block_bucket column)")
        case (Some(n), None) =>
          // Bucketed data with NO sidecar: the true width is unknowable
          // from the data alone, and pruning with a guessed width would
          // silently miss duplicates — the exact failure this check
          // exists to prevent. Refuse; migration = write the sidecar
          // explicitly after verifying the width out of band.
          throw new IllegalStateException(
            s"sink $path has bucketed data (block_bucket column) but no " +
              s"$sidecarName sidecar recording its width; refusing to assume " +
              s"bucketBlocks=$n. Verify the layout and write the sidecar to migrate.")
        case (None, recorded) if hasBucketCol =>
          throw new IllegalStateException(
            s"sink $path layout mismatch: existing data is bucketed" +
              recorded.fold("")(m => s" (bucketBlocks=$m)") +
              " but this sink is configured flat")
        case _ => ()
      }
      c
    }

    override def watermark(): Long = validated().fold(0L)(_.watermark)

    override def existingTxids(fromExclusive: Long): Option[DataFrame] =
      validated().map { c =>
        var df = spark.read.schema(c.schema).parquet(path)
        bucketBlocks.foreach { n =>
          df = df.filter(col("block_bucket") >= lit(fromExclusive / n))
        }
        df.filter(col("block") > fromExclusive).select("txid")
      }

    override def append(df: DataFrame): Unit = {
      val before = validated()
      val dir = new java.io.File(path)
      val present = Option(dir.list()).fold(Set.empty[String])(_.toSet)
      val written = Observation()
      val observed = df.observe(written, max(col("block")).as("wm"), count(lit(1)).as("n"))
      val frame = bucketBlocks.fold(observed)(n =>
        observed.withColumn("block_bucket", floor(col("block") / n)))
      val w = frame.sortWithinPartitions("block").write.mode(SaveMode.Append)
      (if (bucketBlocks.isDefined) w.partitionBy("block_bucket") else w).parquet(path)
      val m = written.get
      if (m("n") == 0L) {
        // nothing landed, so undo what the write added: Spark leaves an
        // empty file in a flat sink, and a new bucketed sink would not
        // even be readable. The marker and watermark stay as they were.
        Option(dir.listFiles()).toSeq.flatten.filterNot(f => present(f.getName))
          .foreach(ParquetTxSink.deleteTree)
        if (before.isEmpty) dir.delete()
        return
      }
      bucketBlocks.foreach { n =>
        if (!sidecar.exists())
          java.nio.file.Files.write(sidecar.toPath,
            n.toString.getBytes("UTF-8"))
      }
      val wm = Option(m("wm")).fold(0L)(_.asInstanceOf[Number].longValue)
      ParquetTxSink.Commit(math.max(before.fold(0L)(_.watermark), wm),
        frame.schema).write(marker)
    }
  }

  object ParquetTxSink {
    private val MarkerName = "_graft_commit"

    /** The commit marker's content: `{"watermark": N, "schema": <Spark
      * schema JSON>}`. */
    private[ingest] final case class Commit(watermark: Long, schema: StructType) {
      /** Write-then-rename, so a reader sees the old marker or the new
        * one, never a torn file. */
      def write(to: java.io.File): Unit = {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.createObjectNode()
        node.put("watermark", watermark)
        node.set[com.fasterxml.jackson.databind.JsonNode]("schema", mapper.readTree(schema.json))
        val tmp = new java.io.File(to.getParentFile, to.getName + ".tmp")
        java.nio.file.Files.write(tmp.toPath, mapper.writeValueAsBytes(node))
        java.nio.file.Files.move(tmp.toPath, to.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

    private[ingest] object Commit {
      def read(from: java.io.File): Commit = {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(from)
        Commit(node.get("watermark").asLong(),
          DataType.fromJson(node.get("schema").toString).asInstanceOf[StructType])
      }
    }

    private def deleteTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete()
    }
  }

  /** JDBC sink (S12's production target — the reference appends to
    * Postgres, postgres_client.py:34-52). Watermark and idempotency
    * queries run IN the database (`option("query", ...)`), so the
    * engine ships no history over the wire; the append is a plain
    * batched INSERT. Works against any DriverManager-visible driver —
    * IngestSpec drives it with in-process Apache Derby. */
  final class JdbcTxSink(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty) extends TxSink {

    private def reader(query: String) =
      spark.read.format("jdbc").options(options)
        .option("url", url).option("query", query)

    /** True if the sink table answers a zero-row probe. ONLY a
      * "table/view does not exist" error (SQLState class 42, or an
      * unambiguous not-found message) maps to `false` — any other
      * failure (connection refused, auth, timeout) is rethrown.
      * Swallowing a transient probe error here would reset the
      * watermark to 0 and skip the anti-join guard, bulk-duplicating
      * history into an existing table on the next run — the exact
      * failure the idempotent cycle exists to prevent. */
    private def tableExists: Boolean =
      try { reader(s"SELECT 1 AS one FROM $table WHERE 1=0").load(); true }
      catch {
        case e: Exception =>
          val chain = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).take(16).toList
          val notFound = chain.exists {
            case s: java.sql.SQLException =>
              // 42X05 (Derby), 42P01 (Postgres), 42S02 (MySQL/H2): class
              // 42 = the statement referenced a missing object
              Option(s.getSQLState).exists(_.startsWith("42"))
            case _ => false
          } || chain.exists(t => Option(t.getMessage).exists(m =>
            m.matches("(?is).*(table|view|relation).*(does not exist|not found|doesn't exist).*")))
          if (notFound) false
          else throw new IllegalStateException(
            s"probe of JDBC sink table $table failed with a non-'missing table' error; " +
              "refusing to treat the sink as empty (would reset the watermark)", e)
      }

    // ANSI-quoted identifiers: Spark's JDBC writer CREATEs the table
    // with quoted (case-exact) column names, so unquoted references
    // would fold to uppercase and miss (Derby/Postgres semantics).
    override def watermark(): Long =
      if (!tableExists) 0L
      else reader(s"""SELECT COALESCE(MAX("block"), 0) AS wm FROM $table""")
        .load().first().getLong(0)

    override def existingTxids(fromExclusive: Long): Option[DataFrame] =
      if (!tableExists) None
      else Some(reader(
        s"""SELECT "txid" FROM $table WHERE "block" > $fromExclusive""").load())

    override def append(df: DataFrame): Unit =
      df.write.format("jdbc").options(options)
        .option("url", url).option("dbtable", table)
        .mode(SaveMode.Append).save()
  }

  /** S7+S8+S9: the row transform — filter, strict hex decode (the
    * native expression), blockdate derivation
    * (omni_rpc_client.py:100-126). */
  def transform(raw: DataFrame): DataFrame =
    raw.filter(col("type_int") === 200 && col("data").isNotNull)
      .withColumn("decoded_data", GraftFunctions.hexDecodeUtf8(col("data")))
      .withColumn("blockdate", GraftFunctions.epochToIso(col("blocktime")))

  final case class RunResult(lastBlock: Long, currentBlock: Long, appended: Long)

  /** One incremental run (the body of check_and_append_transactions,
    * transactions_dag.py:14-46). Returns what was appended; a no-delta
    * run is an early exit with zero work shipped to executors.
    *
    * `overlap` is the refetch horizon in blocks: the delta is fetched
    * from `watermark - overlap` and the idempotency anti-join reads
    * only sink txids above that point. This closes the partial-append
    * hole (a crashed append can leave the BOUNDARY block half-written;
    * refetching it and anti-joining the horizon makes the retry exact)
    * while keeping both the source fetch and the sink scan pruned to a
    * bounded window — duplicates are structurally impossible outside
    * it, so scanning history beyond the horizon buys nothing. The same
    * argument covers a sink whose watermark reads stale-low (the
    * parquet sink's marker after a crash between its data files and
    * the marker): the refetch starts lower and the anti-join drops
    * what already landed.
    *
    * The appended count is observed on the frame the sink writes, so
    * the delta is computed once, by the write itself; an empty delta
    * still reaches `sink.append`, which must leave the sink as it was. */
  def runOnce(spark: SparkSession, source: BlockSource, sink: TxSink,
      overlap: Long = 1L): RunResult = {
    val last = sink.watermark()
    val current = source.currentBlock()
    if (current <= last) return RunResult(last, current, 0L) // S11 early exit

    val from = math.max(last - overlap, 0L)
    var delta = transform(source.fetchRange(from, current))
      .dropDuplicates("txid") // §2.3 upgrade: in-batch dedup

    // idempotent append: never re-insert txids already in the sink —
    // the read is horizon-bounded, so it prunes to the recent buckets
    sink.existingTxids(from).foreach { existing =>
      delta = delta.join(existing, Seq("txid"), "left_anti")
    }
    val appended = Observation()
    sink.append(delta
      .withColumn("insert_dt", current_timestamp()) // S12 audit column
      .observe(appended, count(lit(1)).as("n")))
    RunResult(last, current, appended.get("n").asInstanceOf[Long])
  }

  def runOnce(spark: SparkSession, source: BlockSource, sinkPath: String): RunResult =
    runOnce(spark, source, new ParquetTxSink(spark, sinkPath))
}
