package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Upsert
import graft.sinks.SnapshotTable

/** dbt incremental merge / insert_overwrite: replace-by-key
  * semantics, atomic snapshot commit, and the partition-pruned
  * rewrite leaving untouched partitions byte-identical. */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("merge: delta replaces matched keys, inserts new, target survivors keep") {
    import spark.implicits._
    val target = Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("k", "v")
    val delta = Seq((2L, "new2"), (4L, "new4")).toDF("k", "v")
    val got = Upsert.merge(target, delta, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "old1"), (2L, "new2"), (3L, "old3"), (4L, "new4")))
  }

  test("mergeParquet commits atomically; prior snapshot time-travels to pre-merge") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-upsert").toString
    val s0 = SnapshotTable.append(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Upsert.mergeParquet(spark, t, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val now = SnapshotTable.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(now == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    val before = SnapshotTable.read(spark, t, Some(s0)).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(before == Seq((1L, "a"), (2L, "b")))
  }

  test("insert_overwrite rewrites ONLY the delta's partitions") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-iow").toString + "/t"
    Seq((1L, "x", "2024-01-01"), (2L, "y", "2024-01-02"), (3L, "z", "2024-01-03"))
      .toDF("k", "v", "day").write.partitionBy("day").parquet(path)
    def files(day: String) = {
      val d = new java.io.File(s"$path/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before1 = files("2024-01-01"); val before3 = files("2024-01-03")
    val modeBefore = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    // delta touches only day=2024-01-02
    Upsert.insertOverwrite(spark,  path,
      Seq((2L, "Y2", "2024-01-02"), (9L, "new", "2024-01-02"))
        .toDF("k", "v", "day"), "day")
    // untouched partitions: same files, same mtimes
    assert(files("2024-01-01") == before1)
    assert(files("2024-01-03") == before3)
    // partition values read back type-inferred (DATE here) — compare as text
    val got = spark.read.parquet(path)
      .select(col("k"), col("v"), col("day").cast("string").as("day"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1L, "x", "2024-01-01"), (2L, "Y2", "2024-01-02"),
      (3L, "z", "2024-01-03"), (9L, "new", "2024-01-02")))
    // the session's overwrite-mode conf is left as it was
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") == modeBefore)
  }
}
