package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dbt incremental materializations beyond append: `merge` (upsert by
  * unique_key) and `insert_overwrite` (partition-replacing).
  *
  * - [[merge]]: the MERGE-INTO semantics dbt compiles for warehouses —
  *   delta rows REPLACE target rows with the same key, everything else
  *   survives. Expressed as one left-anti join (target minus matched
  *   keys) plus the delta: the single shuffle is on the key, and the
  *   anti join's build side is the delta's key set — delta-sized, so
  *   broadcastable whenever the increment is small, which is the
  *   normal case for an incremental model.
  * - [[mergeParquet]]: merge committed atomically as a
  *   [[graft.sinks.SnapshotTable]] overwrite — readers keep the prior
  *   snapshot until the commit lands; a crashed run leaves orphans,
  *   never a half-merged table.
  * - [[insertOverwrite]]: dbt's partition-replacing strategy — at
  *   100 TB rewriting the whole table per increment is the thing to
  *   avoid, and when the unique key is bound inside a partition
  *   column (e.g. facts keyed by day), replacing ONLY the partitions
  *   the delta touches turns the merge into O(touched partitions).
  *   Uses Spark's dynamic partition overwrite so untouched partition
  *   directories are left byte-identical.
  */
object Upsert {

  /** MERGE by unique key: delta rows win, unmatched target rows
    * survive. Pure frame transform (the gate-able core). */
  def merge(target: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    target.join(delta.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(delta)

  /** Merge into a snapshot-committed parquet table, atomically.
    * Returns the new snapshot id. */
  def mergeParquet(spark: SparkSession, table: String, delta: DataFrame,
      keys: Seq[String]): Long = {
    val current = graft.sinks.SnapshotTable.read(spark, table)
    graft.sinks.SnapshotTable.overwrite(spark, table,
      merge(current, delta, keys))
  }

  /** insert_overwrite: replace exactly the partitions (`partCol`
    * values) present in the delta; untouched partition directories are
    * not rewritten. The table must be hive-partitioned on `partCol`
    * (as written by a previous call or `df.write.partitionBy`). The
    * dynamic mode is a writer option, so the session conf is never
    * touched. */
  def insertOverwrite(spark: SparkSession, path: String, delta: DataFrame,
      partCol: String): Unit =
    delta.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
}
