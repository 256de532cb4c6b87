package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Self-test of the benchmark's seeded generators and helpers: the same
  * seed gives identical inputs, a different seed gives different ones. */
class GenSpec extends AnyFunSuite {

  test("request stream: same seed identical, other seed different") {
    val a = Gen.requestStream(7L, 400)
    assert(a == Gen.requestStream(7L, 400))
    assert(a != Gen.requestStream(8L, 400))
  }

  test("request stream: every panel in each refresh, refreshes repeat part of the last") {
    val a = Gen.requestStream(7L, 400)
    assert(a.take(Gen.panels.size).distinct.size == Gen.panels.size)
    assert(Gen.repeatShare(a.take(4 * Gen.panels.size)) > 0.1)
    assert(a.exists(_.groupBy.isEmpty) && a.exists(_.groupBy.size == 3))
    assert(a.exists(_.savedQuery.isDefined))
    assert(a.exists(_.metrics.contains("revenue_mom_growth")))
    assert(a.exists(_.metrics.contains("view_to_purchase_rate")))
    assert(a.exists(r => r.metrics.contains("event_value") && r.metrics.size == 2 &&
      r.groupBy.forall(_.startsWith("metric_time__"))))
  }

  test("corpus: same seed identical, other seed different, planted pairs recorded") {
    val a = Gen.corpus(3L, 1000)
    assert(a == Gen.corpus(3L, 1000))
    assert(a.docs != Gen.corpus(4L, 1000).docs)
    assert(a.planted.nonEmpty)
    val byId = a.docs.map(d => d.doc_id -> d.text).toMap
    // exact and lightly edited copies stay near-duplicates
    assert(a.planted.exists(_.editRate == 0.0))
    assert(a.planted.filter(_.editRate <= 0.05).forall(p =>
      Gen.jaccard(Gen.shingles(byId(p.orig)), Gen.shingles(byId(p.dup))) >= 0.5))
  }

  test("tx stream: same seed identical, other seed different, every row class present") {
    val a = Gen.txStream(5L, 40)
    assert(a == Gen.txStream(5L, 40))
    assert(a.rows != Gen.txStream(6L, 40).rows)
    assert(a.replayShare > 0.0)
    assert(a.rows.exists(_.blocktime.isEmpty))
    assert(a.rows.exists(_.type_int != 200))
    assert(a.rows.exists(_.data == null))
    assert(a.rows.exists(r => r.data != null && r.data.length % 2 == 1))
    assert(a.expected.exists(_.decoded.isEmpty) && a.expected.exists(_.decoded.isDefined))
    assert(a.expected.map(_.txid).distinct.size == a.expected.size)
  }

  test("metric tables: same seed identical, other seed different") {
    val dir = new java.io.File("target/gen-spec").getAbsoluteFile
    Workload.deleteTree(dir)
    val spark = SparkSession.builder().master("local[2]").appName("GenSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(dir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // (rows, xor of row hashes) per table: equal for equal row sets
      def digest(seed: Long, sub: String): Map[String, (Long, Long)] = {
        val d = new java.io.File(dir, sub).getAbsolutePath
        Gen.writeMetricTables(spark, d, seed)
        Seq("customer", "orders", "lineitem", "events").map { t =>
          val df = spark.read.parquet(s"$d/$t.parquet")
          val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head()
          t -> (r.getLong(0), r.getLong(1))
        }.toMap
      }
      val a = digest(1L, "a")
      assert(a == digest(1L, "b"))
      val c = digest(2L, "c")
      assert(a.keys.forall(t => a(t) != c(t)))
      assert(a("orders")._1 == 150000 && a("lineitem")._1 > 150000)
    } finally {
      spark.stop()
      Workload.deleteTree(dir)
    }
  }

  test("tail and interval helpers") {
    val xs = (1 to 100).map(_.toDouble)
    assert(math.abs(Stats.tail(xs) - 90.9) < 0.5)
    assert(math.abs(Stats.median(Seq(3.0, 1.0, 2.0)) - 2.0) < 1e-9)
    assert(Stats.tail(Seq(1.0, 2.0, 3.0)) > 2.5)
    // equal weights give the unweighted estimate; a light sample pulls less
    assert(math.abs(Stats.quantile(xs, 0.5, xs.map(_ => 3.0)) - Stats.quantile(xs, 0.5)) < 1e-9)
    assert(Stats.quantile(Seq(1.0, 2.0, 9.0), 0.5, Seq(1.0, 1.0, 0.2)) < Stats.quantile(Seq(1.0, 2.0, 9.0), 0.5))
    assert(Intervals.union(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
  }
}
