package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Same known-benign flood silencing as the bench harness (r19,
    // verdict item 8): the bounded global windows (banded ranks,
    // llm.Stats) fire a WindowExec "No Partition Defined" warning per
    // operator execution — thousands of lines that drown the driver's
    // bounded test-output tail. Known-bounded by construction;
    // test-harness-level only.
    Bench.quietKnownLogFloods()
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the shared context's checkpoint dir set to `dir`
    * — the deployment setting [[graft.llm.Lineage.pin]] reads, so every
    * pin inside `body` is a reliable checkpoint under `dir` — asserts
    * the engine left that setting as it found it, and restores the
    * previous setting afterwards (unset when it was unset). */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try {
      val set = sc.getCheckpointDir
      val out = body
      assert(sc.getCheckpointDir == set,
        s"the engine changed the checkpoint dir: $set -> ${sc.getCheckpointDir}")
      out
    } finally sc.setCheckpointDir(prev.orNull)
  }
}
