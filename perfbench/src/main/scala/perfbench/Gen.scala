package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.MetricQueryRequest

/** Seeded input generators for the three workloads. Every generator is a
  * pure function of its seed: the same seed gives identical inputs on any
  * machine and any partition count, a different seed gives different
  * ones. The engine only ever sees what these produce. */
object Gen {

  /** Zipf sampler over ranks 0 until n with exponent 1. */
  private final class Zipf(n: Int) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1.0))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def pick[A](rnd: SplittableRandom, xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
  private def chance(rnd: SplittableRandom, p: Double): Boolean = rnd.nextDouble() < p

  // ------------------------------------------------------------ metric tables

  // Row counts and date ranges of the star schema, as in the sf0.1
  // fixture (perfbench/README.md, "Calibration").
  private val Customers = 15000
  private val Suppliers = 1000
  private val Parts = 20000
  private val Orders = 150000
  private val Events = 100000
  private val Users = 1500
  /** Order dates span 1995-01-01 .. 2001-08-01. */
  private val OrderDays = 2404L

  val regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val nations: Seq[(String, Int)] = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
    "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  val segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val eventTypes: Seq[String] = Seq("signup", "click", "error", "view", "purchase")
  private val typeWords = Seq(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"),
    Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"),
    Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"))

  /** Writes the star schema the semantic manifest names, as one parquet
    * directory per table under `dir` (`<dir>/<table>.parquet`). */
  def writeMetricTables(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    // uniform integer in [0, n) from (seed, salt, key): partition-independent
    def u(n: Long, salt: Int, key: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: key): _*), lit(n))
    def choose(xs: Seq[String], salt: Int, key: Column*): Column =
      element_at(array(xs.map(lit): _*), (u(xs.size.toLong, salt, key: _*) + 1).cast("int"))
    def day(base: String, span: Long, salt: Int, key: Column*): Column =
      timestamp_seconds(unix_timestamp(lit(s"$base 00:00:00")) + u(span, salt, key: _*) * 86400L)
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    write("nation", nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    val id = col("id")
    write("customer", spark.range(1, Customers + 1L).select(
      id.as("c_custkey"), format_string("Customer#%09d", id).as("c_name"),
      u(25, 1, id).cast("int").as("c_nationkey"),
      (u(1100000, 2, id) / 100.0 - 999.99).as("c_acctbal"),
      choose(segments, 3, id).as("c_mktsegment")))
    write("supplier", spark.range(1, Suppliers + 1L).select(
      id.as("s_suppkey"), format_string("Supplier#%09d", id).as("s_name"),
      u(25, 4, id).cast("int").as("s_nationkey"),
      (u(1100000, 5, id) / 100.0 - 999.99).as("s_acctbal")))
    write("part", spark.range(1, Parts + 1L).select(
      id.as("p_partkey"), format_string("part %d", id).as("p_name"),
      format_string("Brand#%d%d", u(5, 6, id) + 1, u(5, 7, id) + 1).as("p_brand"),
      concat_ws(" ", choose(typeWords(0), 8, id), choose(typeWords(1), 9, id),
        choose(typeWords(2), 10, id)).as("p_type"),
      (u(50, 11, id) + 1).cast("int").as("p_size"),
      (u(100000, 12, id) / 100.0 + 900.0).as("p_retailprice")))
    def orderDate(k: Column): Column = day("1995-01-01", OrderDays, 13, k)
    write("orders", spark.range(1, Orders + 1L).select(
      id.as("o_orderkey"), (u(Customers.toLong, 14, id) + 1).as("o_custkey"),
      choose(Seq("F", "O", "P"), 15, id).as("o_orderstatus"),
      (u(50000000, 16, id) / 100.0 + 850.0).as("o_totalprice"),
      orderDate(id).as("o_orderdate"),
      choose(priorities, 17, id).as("o_orderpriority")))
    // 1..7 lines per order
    val ok = (id / 7 + 1).as("l_orderkey")
    val ln = (pmod(id, lit(7L)) + 1).cast("int")
    val lines = spark.range(0, Orders * 7L)
      .filter(ln <= u(7, 18, id / 7 + 1) + 1)
      .select(ok, ln.as("l_linenumber"), id.as("lid"))
    val qty = (u(50, 19, col("lid")) + 1).cast("double")
    write("lineitem", lines.select(col("l_orderkey"),
      (u(Parts.toLong, 20, col("lid")) + 1).as("l_partkey"),
      (u(Suppliers.toLong, 21, col("lid")) + 1).as("l_suppkey"),
      col("l_linenumber"), qty.as("l_quantity"),
      (qty * (u(100000, 22, col("lid")) / 100.0 + 900.0)).as("l_extendedprice"),
      (u(11, 23, col("lid")) / 100.0).as("l_discount"),
      (u(9, 24, col("lid")) / 100.0).as("l_tax"),
      choose(Seq("R", "A", "N"), 25, col("lid")).as("l_returnflag"),
      choose(Seq("O", "F"), 26, col("lid")).as("l_linestatus"),
      timestamp_seconds(unix_timestamp(orderDate(col("l_orderkey"))) +
        (u(121, 27, col("lid")) + 1) * 86400L).as("l_shipdate")))
    write("events", spark.range(1, Events + 1L).select(
      id.as("event_id"),
      timestamp_seconds(unix_timestamp(lit("2024-01-01 00:00:00")) +
        u(30L * 86400, 28, id)).as("ts"),
      (u(Users.toLong, 29, id) + 1).as("user_id"),
      choose(eventTypes, 30, id).as("event_type"),
      (u(100000, 31, id) / 100.0).as("value"),
      lit("{}").as("props")))
  }

  // --------------------------------------------------------- metric requests

  private val eventWhere: Seq[String] =
    Seq("event_type IN ('view','click')", "event_type <> 'error'", "event_type = 'purchase'")

  /** A two-year window on the lineitem facts. Its width is fixed, so
    * every seed's requests aggregate about the same number of rows; the
    * seed draws where it starts. */
  private def lineitemRange(rnd: SplittableRandom): (Option[String], Option[String]) = {
    val y = 1995 + rnd.nextInt(5)
    val m = 1 + rnd.nextInt(12)
    (Some(f"$y%04d-$m%02d-01"), Some(f"${y + 2}%04d-$m%02d-01"))
  }

  /** A one-week window on the events, placed by the seed. */
  private def eventRange(rnd: SplittableRandom): (Option[String], Option[String]) = {
    val d = 1 + rnd.nextInt(20)
    (Some(f"2024-01-$d%02d"), Some(f"2024-01-${d + 7}%02d"))
  }

  private def descBy(rnd: SplittableRandom, metrics: Seq[String]): Seq[String] =
    Seq("-" + pick(rnd, metrics))

  /** The panels of the dashboard the stream refreshes, one per kind of
    * metric the manifest defines: simple, multi-metric, percentile,
    * derived ratio, offset, conversion, filtered, cross-model,
    * count-distinct and saved queries, with 0–3 group-bys, time grains,
    * where clauses, time ranges, order-by and limit. Like the query
    * templates of TPC-H, a panel fixes the request's structure (its
    * metrics, which models it joins, the keys and grains it groups by),
    * so every seed costs about the same; the seed draws the parameters:
    * predicate literals, time ranges, order-by columns and limits. */
  val panels: IndexedSeq[(String, SplittableRandom => MetricQueryRequest)] = IndexedSeq(
    "simple" -> { rnd =>
      val (start, end) = lineitemRange(rnd)
      MetricQueryRequest(Seq("revenue"), Seq("metric_time__month", "l_returnflag"), None, start, end)
    },
    "multi_metric" -> { rnd =>
      val metrics = Seq("revenue", "order_count")
      MetricQueryRequest(metrics, Seq("o_orderpriority"),
        Some(s"l_returnflag = '${pick(rnd, Seq("R", "A", "N"))}'"),
        orderBy = descBy(rnd, metrics), limit = Some(pick(rnd, Seq(3, 5, 10))))
    },
    "percentile" -> { rnd =>
      val (start, end) = eventRange(rnd)
      MetricQueryRequest(Seq("p90_event_value"), Seq("event_type", "ts__day"),
        Some(pick(rnd, eventWhere)), start, end)
    },
    "derived" -> { rnd =>
      val metrics = Seq("avg_order_value", "revenue")
      MetricQueryRequest(metrics, Seq("c_mktsegment"),
        Some(pick(rnd, Seq("o_orderpriority IN ('1-URGENT','2-HIGH')", "o_orderstatus = 'F'",
          "o_orderstatus = 'O'"))), orderBy = descBy(rnd, metrics))
    },
    "offset" -> { rnd =>
      val (start, end) = lineitemRange(rnd)
      val ordered = chance(rnd, 0.5)
      // Ordered by the growth only: for an offset request ordered by
      // `-revenue`, MetricPlanner.renderSql emits an ORDER BY that DuckDB
      // rejects as ambiguous, so the output check has no reference
      // (perfbench/README.md, "Known defect").
      MetricQueryRequest(Seq("revenue", "revenue_mom_growth"), Seq("metric_time__month"),
        None, start, end, if (ordered) Seq("-revenue_mom_growth") else Nil,
        if (ordered) Some(pick(rnd, Seq(5, 10, 20))) else None)
    },
    "conversion" -> { rnd =>
      val (start, end) = eventRange(rnd)
      MetricQueryRequest(Seq("view_to_purchase_count", "view_to_purchase_rate"),
        Seq("metric_time__day"), None, start, end)
    },
    "filtered" -> { rnd =>
      MetricQueryRequest(Seq("urgent_revenue"), Seq("n_name", "r_name", "l_linestatus"), None,
        orderBy = Seq("-urgent_revenue"), limit = Some(pick(rnd, Seq(5, 10, 20))))
    },
    "cross_model" -> { rnd =>
      // open-ended, so the 2024 events fall in it too; starting within
      // one year keeps the lineitem rows it takes within a factor of 1.7
      MetricQueryRequest(Seq("revenue", "event_value"), Seq("metric_time__quarter"),
        startTime = Some(f"2000-${1 + rnd.nextInt(12)}%02d-01"))
    },
    "count_distinct" -> { rnd =>
      val (start, end) = lineitemRange(rnd)
      MetricQueryRequest(Seq("order_count"), Nil,
        Some(s"p_brand = 'Brand#${1 + rnd.nextInt(5)}${1 + rnd.nextInt(5)}'"), start, end)
    },
    "saved" -> (_ => MetricQueryRequest(Nil, savedQuery = Some("weekly_revenue_vs_events"))))

  /** Parameter sets per panel, drawn with Zipf popularity. */
  private val PoolSize = 4

  /** A closed-loop request stream of `length` requests: the dashboard's
    * panels in order, refreshed again and again. Each panel has a seeded
    * pool of [[PoolSize]] parameter sets with Zipf popularity, so a
    * refresh repeats part of the previous one exactly. */
  def requestStream(seed: Long, length: Int): IndexedSeq[MetricQueryRequest] = {
    val rnd = new SplittableRandom(seed)
    val pools = panels.map { case (_, draw) => Vector.fill(PoolSize)(draw(rnd)) }
    val zipf = new Zipf(PoolSize)
    IndexedSeq.tabulate(length)(i => pools(i % pools.size)(zipf.draw(rnd)))
  }

  /** Share of stream positions that repeat an earlier shape. */
  def repeatShare(xs: Seq[Any]): Double =
    if (xs.isEmpty) 0.0 else 1.0 - xs.distinct.size.toDouble / xs.size

  // ------------------------------------------------------------ dedup corpus

  final case class Doc(doc_id: Long, text: String, score: Double)
  /** A planted near-duplicate: `dup` is `orig` with a share `editRate`
    * of its words replaced. */
  final case class Planted(orig: Long, dup: Long, editRate: Double)
  final case class Corpus(docs: IndexedSeq[Doc], planted: IndexedSeq[Planted])

  /** Word edit rates of the planted copies. The fixture's own copies are
    * exact (rate 0); the others span the t = 0.5 threshold. */
  val editRates: Seq[Double] = Seq(0.0, 0.02, 0.05, 0.1, 0.2, 0.3, 0.45)

  // The shape of the sf0.1 documents fixture (perfbench/README.md,
  // "Calibration"): 30 words drawn uniformly, 10 to 100 words a document,
  // and 5 % of the documents copies of earlier ones that end in " dup".
  private val Vocabulary = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  private val MinWords = 10
  private val MaxWords = 100
  private val PlantedShare = 0.05
  /** Shingle length of `Dedup.setSimJoinPairs`. */
  private val ShingleChars = 5

  /** A corpus of `size` documents shaped like the documents fixture. The
    * planted copies replace a share of their original's words, at the
    * rates in [[editRates]]. */
  def corpus(seed: Long, size: Int): Corpus = {
    val rnd = new SplittableRandom(seed)
    def word(): String = Vocabulary(rnd.nextInt(Vocabulary.size))
    val docs = IndexedSeq.newBuilder[Doc]
    val planted = IndexedSeq.newBuilder[Planted]
    val originals = scala.collection.mutable.ArrayBuffer[(Long, Array[String])]()
    for (i <- 0 until size) {
      val score = rnd.nextInt(1000000) / 1000000.0
      if (originals.nonEmpty && chance(rnd, PlantedShare)) {
        val (orig, words) = originals(rnd.nextInt(originals.size))
        val rate = pick(rnd, editRates)
        val edited = words.map(w => if (chance(rnd, rate)) word() else w)
        docs += Doc(i, (edited :+ "dup").mkString(" "), score)
        planted += Planted(orig, i, rate)
      } else {
        val words = Array.fill(MinWords + rnd.nextInt(MaxWords - MinWords + 1))(word())
        originals += i.toLong -> words
        docs += Doc(i, words.mkString(" "), score)
      }
    }
    Corpus(docs.result(), planted.result())
  }

  /** Distinct 5-char shingles of a text, as `Dedup.shingles` defines them. */
  def shingles(text: String): Set[String] =
    if (text.length <= ShingleChars) Set(text)
    else (0 to text.length - ShingleChars).iterator.map(i => text.substring(i, i + ShingleChars)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  // ------------------------------------------------------ transaction stream

  final case class Tx(txid: String, block: Long, blocktime: Option[Long], type_int: Int,
      fee: String, data: String)
  /** What the sink must hold for one valid transaction. */
  final case class Expected(txid: String, block: Long, blocktime: Option[Long], decoded: Option[String])
  final case class TxStream(rows: IndexedSeq[Tx], expected: IndexedSeq[Expected],
      blocks: Long) {
    /** Share of rows that replay an earlier row. */
    def replayShare: Double = 1.0 - rows.map(r => (r.txid, r.block)).distinct.size.toDouble / rows.size
  }

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  private val payloadWords = Seq("send", "mint", "burn", "grant", "swap", "pay", "vote",
    "é", "naïve", "→", "数据", "token", "wallet", "fee")

  /** Share of rows that replay an earlier row of the same block. */
  private val ReplayShare = 0.06
  /** Rows per block, the same in every block, so that the rows a cycle
    * fetches, and with them `items_per_s`, do not vary with the seed. */
  private val RowsPerBlock = 20

  /** A raw transaction stream of `blocks` blocks, 600 s apart, with
    * [[RowsPerBlock]] rows each. Rows carry valid hex payloads, invalid UTF-8, odd-length
    * and non-hex payloads, null payloads, null blocktimes, non-200 types,
    * and a [[ReplayShare]] of exact replays of an earlier row of the same
    * block (an RPC node re-serving a transaction). */
  def txStream(seed: Long, blocks: Long): TxStream = {
    val rnd = new SplittableRandom(seed)
    val rows = IndexedSeq.newBuilder[Tx]
    val expected = IndexedSeq.newBuilder[Expected]
    for (b <- 1L to blocks) {
      val inBlock = scala.collection.mutable.ArrayBuffer[Tx]()
      val blocktime = if (chance(rnd, 0.05)) None else Some(1700000000L + b * 600L)
      for (_ <- 0 until RowsPerBlock) {
        if (inBlock.nonEmpty && chance(rnd, ReplayShare)) {
          inBlock += inBlock(rnd.nextInt(inBlock.size))
        } else {
          val txid = Iterator.fill(4)(f"${rnd.nextLong()}%016x").mkString
          val typeInt = if (chance(rnd, 0.15)) pick(rnd, Seq(0, 50, 51, 199, 201)) else 200
          val text = Iterator.fill(1 + rnd.nextInt(6))(pick(rnd, payloadWords)).mkString(" ")
          val valid = hex(text.getBytes("UTF-8"))
          val (data, decoded) = rnd.nextInt(100) match {
            case k if k < 8  => (valid + "c328", None)          // invalid UTF-8
            case k if k < 13 => (valid + "a", None)             // odd length
            case k if k < 16 => ("zz" + valid, None)            // not hex
            case k if k < 19 => (null, None)                    // no payload
            case _           => (valid, Some(text))
          }
          val tx = Tx(txid, b, blocktime, typeInt, f"${rnd.nextInt(100000) / 1e5}%.5f", data)
          inBlock += tx
          if (typeInt == 200 && data != null) expected += Expected(txid, b, blocktime, decoded)
        }
      }
      rows ++= inBlock
    }
    TxStream(rows.result(), expected.result(), blocks)
  }
}
