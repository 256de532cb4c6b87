package graft.llm

import org.apache.spark.sql.DataFrame

/** Lineage plumbing shared by the iterative operators and the pinned
  * pair artifacts of the dedup family. */
object Lineage {

  /** The ONE pin rule. Every iterative operator's per-round truncation
    * (Corpus.bigStarClusters, Similarity's k-means and PQ rounds, the
    * GraphOps iterations) and every eager pair artifact (the public
    * Dedup pair functions, the loan consumers, winnowPairs) pins
    * through here:
    *
    *   - a reliable eager `checkpoint` when the context has a
    *     checkpoint dir (`sc.setCheckpointDir` or `spark.checkpoint.dir`)
    *     — the deployment setting for a real cluster, where
    *     executor-local blocks die with their executor and a lost one
    *     leaves no lineage to recompute, while the files survive it;
    *   - an eager `localCheckpoint` otherwise — zero setup, right for
    *     local mode and short jobs.
    *
    * The choice is Spark's own deployment-level setting, read per
    * call: no operator takes a dir, and nothing here changes the
    * context's checkpoint dir, so concurrent pins never serialize.
    * Both forms are eager (the rows are computed by return) and cut
    * the lineage, so a caller may release the caches the pinned plan
    * read as soon as this returns. */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true)

  /** Release the blocks [[pin]] holds for a result that nothing reads
    * any more: every local-checkpoint RDD under `df` (a reliable
    * checkpoint holds none; its files stay). */
  def unpin(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Freshness fingerprint of a frame's FILE inputs: one 64-bit fold
    * over the sorted (path, length, modificationTime) of every leaf
    * file the plan reads. The training memos (Similarity.kmMemo/
    * pqMemo, Pca.memo) add this to their plan-canonicalization key so
    * an in-place overwrite — same path, same canonicalized plan, new
    * bytes — keys a MISS and retrains instead of silently serving
    * stale centroids (a plan-only key has Spark-relation-cache
    * staleness; REFRESH TABLE never reaches a driver-side memo, so
    * the key itself must carry input identity).
    *
    * Non-file inputs (in-memory relations, JDBC) contribute nothing —
    * `inputFiles` is empty — and those memo entries fall back to
    * plan-only keying, which is stated in each memo's scaladoc.
    * A file unlistable at snapshot time (deleted mid-overwrite) folds
    * a sentinel, which still changes the fingerprint → miss.
    *
    * Cost: one driver `getFileStatus` RPC per leaf file, paid once
    * per TRAINING call (not per query) — noise next to the Lloyd
    * iterations the memo exists to skip. */
  def inputSnapshot(df: DataFrame): Long = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    var h = 1125899906842597L
    def mix(x: Long): Unit = { h = h * 6364136223846793005L + x }
    // Leaf files from the ANALYZED plan, not Dataset.inputFiles: that
    // helper reads the OPTIMIZED plan, where a persisted frame (the
    // training preps always are) is already substituted by its
    // InMemoryRelation and the file scan — hence the listing — is
    // gone, which would silently degrade every snapshot to the empty
    // fold and bring the stale-hit right back.
    val files = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.inputFiles
          case _ => Array.empty[String]
        }
    }.flatten
    files.sorted.foreach { f =>
      mix(f.hashCode.toLong)
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        mix(st.getLen); mix(st.getModificationTime)
      } catch { case _: java.io.IOException => mix(-1L) }
    }
    h
  }
}
