package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.Sinks
import graft.streaming.StreamingPipeline

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def hex(s: String): String =
    s.getBytes("UTF-8").map("%02x".format(_)).mkString

  test("streaming ingest: AvailableNow run lands transformed, deduped rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream").toString
    val landing = s"$base/landing"; val sink = s"$base/sink"; val cp = s"$base/cp"

    Seq(
      ("s1", 1L, 1700000000L, 200, "0.1", hex("one")),
      ("s2", 2L, 1700000060L, 100, "0.2", hex("skip")),
      ("s3", 3L, 1700000120L, 200, "0.3", hex("three")))
      .toDF("txid", "block", "blocktime", "type_int", "fee", "data")
      .write.parquet(landing)

    val wh = new Sinks.CollectingWebhook
    val q = StreamingPipeline.startIngest(spark, landing, sink, cp, wh)
    q.awaitTermination(120000)

    val out = spark.read.parquet(sink)
    assert(out.count() == 2)
    assert(out.filter(col("txid") === "s1").select("decoded_data")
      .first().getString(0) == "one")
    assert(wh.posted.nonEmpty, "report webhook fired")
    assert(wh.posted.head.contains("s1") || wh.posted.head.contains("s3"))

    // second micro-batch: one duplicate + one new row; checkpoint + anti-join
    Seq(
      ("s3", 3L, 1700000120L, 200, "0.3", hex("three")),
      ("s4", 4L, 1700000180L, 200, "0.4", hex("four")))
      .toDF("txid", "block", "blocktime", "type_int", "fee", "data")
      .write.mode("append").parquet(landing)
    val q2 = StreamingPipeline.startIngest(spark, landing, sink, cp, wh)
    q2.awaitTermination(120000)
    val out2 = spark.read.parquet(sink)
    assert(out2.count() == 3, "idempotent: s3 not re-inserted")
    assert(out2.filter(col("txid") === "s4").count() == 1)
  }

  test("corpus ingest e2e: clean -> sample -> incremental dedup -> audited append, resumes across restart") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-corpus-stream").toString
    val landing = s"$base/landing"; val corpus = s"$base/corpus"
    val sigs = s"$base/sigs"; val cp = s"$base/cp"
    val packed = s"$base/packed"
    val weights = Map("keep" -> 1.0, "drop" -> 0.0)
    // three C4-surviving lines each (terminal punctuation, >= 3 words,
    // no javascript/lorem/braces); texts mutually dissimilar so the
    // only near-dup pair is the planted identical one
    val text1 = "the quick brown fox jumps over fences.\nmorning rain fell on the quiet harbor town!\nseven sailors counted stars above deck?"
    val text2 = "bakers knead dough before sunrise daily.\ncopper kettles whistle in the old kitchen!\nchildren chase autumn leaves down lanes?"
    val text11 = "glaciers carve valleys over countless years.\nlibraries hold voices from distant ages!\ngardeners plant tulips beside stone walls?"
    def run(): Unit = {
      val q = StreamingPipeline.startCorpusIngest(spark, landing, corpus,
        sigs, cp, weights, packDir = Some(packed), packTopN = 8, seqLen = 8)
      assert(q.awaitTermination(120000), "AvailableNow drain timed out")
    }

    Seq(
      (1L, text1, "keep"),                             // survives
      (2L, text2, "keep"),                             // survives
      (3L, "function f() {\nthe cat sat down.\nthe dog ran fast.\nbirds can fly.", "keep"), // C4 page filter drops
      (4L, text11, "drop"))                            // mixture weight 0 drops
      .toDF("doc_id", "text", "source").write.parquet(landing)
    run()
    val out1 = StreamingPipeline.readCorpus(spark, corpus)
    assert(out1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L), out1.collect().mkString("; "))
    assert(out1.columns.contains("clean_text") && out1.columns.contains("insert_dt"))
    assert(StreamingPipeline.readSignatures(spark, sigs).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // training-shard tail: epoch-0 survivors weighted-sampled and
    // packed into 8-token sequences under shard_id 0; segment tokens
    // reassemble the full clean token stream of the sampled docs
    val pack1 = StreamingPipeline.readPacked(spark, packed)
    assert(pack1.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L), pack1.collect().mkString("; "))
    assert(pack1.select("shard_id").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    val totalToks1 = out1.select(
      sum(size(split(trim(col("clean_text")), "\\s+"))).cast("long"))
      .first().getLong(0)
    assert(pack1.agg(sum("n_seg_tokens")).first().getLong(0) == totalToks1,
      "packed segments must cover every sampled token exactly once")
    assert(pack1.filter(col("n_seg_tokens") > 8).count() == 0)
    val pack1Count = pack1.count()

    // batch 2: a near-dup of doc 1 must be dropped AGAINST THE STORE
    // (doc 1 is not in this batch), a new doc appended; the restart on
    // the same checkpoint must not re-process batch-1 files
    Seq(
      (10L, text1, "keep"),   // identical to ingested doc 1 -> dead
      (11L, text11, "keep"))  // new content -> survives
      .toDF("doc_id", "text", "source")
      .write.mode("append").parquet(landing)
    run()
    val out2 = StreamingPipeline.readCorpus(spark, corpus)
    assert(out2.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "restart must not re-append already-committed docs")
    assert(out2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 11L), out2.collect().mkString("; "))
    assert(StreamingPipeline.readSignatures(spark, sigs).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 11L),
      "signature store mirrors the corpus")
    // epoch 1's survivor packs under its own shard id; epoch-0 shards
    // untouched → (shard_id, seq_id) globally unique
    val pack2 = StreamingPipeline.readPacked(spark, packed)
    assert(pack2.filter(col("shard_id") === 1L).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(11L), pack2.collect().mkString("; "))
    assert(pack2.filter(col("shard_id") === 0L).count() == pack1Count)

    // nothing new landed: a catch-up run is a clean no-op
    run()
    assert(StreamingPipeline.readCorpus(spark, corpus).count() == 3)
    val packCountBeforeRetry = StreamingPipeline.readPacked(spark, packed).count()

    // RETRY idempotence: a crash between the corpus append and the
    // streaming commit re-executes the batch. Simulate the worst case
    // (a fresh checkpoint reprocesses EVERY landing file as one
    // uncommitted batch): the exact-id anti-join against the signature
    // store must neutralize all of it — no duplicate doc_ids, no new
    // rows
    val q2 = StreamingPipeline.startCorpusIngest(spark, landing, corpus,
      sigs, s"$base/cp-retry", weights,
      packDir = Some(packed), packTopN = 8, seqLen = 8)
    assert(q2.awaitTermination(120000))
    val out3 = StreamingPipeline.readCorpus(spark, corpus)
    assert(out3.count() == 3 &&
      out3.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "re-executed batch must be a no-op: " + out3.collect().mkString("; "))
    assert(StreamingPipeline.readPacked(spark, packed).count() == packCountBeforeRetry,
      "a neutralized retry must not re-pack")

    // BACKFILL: a batch doc with an id SMALLER than its stored
    // near-dup — the store must win (doc 0 dies, stored doc 1 stays)
    Seq((0L, text1, "keep")).toDF("doc_id", "text", "source")
      .write.mode("append").parquet(landing)
    val q3 = StreamingPipeline.startCorpusIngest(spark, landing, corpus,
      sigs, s"$base/cp-retry", weights)
    assert(q3.awaitTermination(120000))
    assert(StreamingPipeline.readCorpus(spark, corpus).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 11L),
      "backfilled near-dup with a smaller id must lose to the store")
  }

  test("blocked corpus ingest: three-blocker admission, sig-committed store consistency, torn artifact epoch invisible") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-blocked-stream").toString
    val landing = s"$base/landing"; val corpus = s"$base/corpus"
    val sigs = s"$base/sigs"; val sks = s"$base/sks"; val fps = s"$base/fps"
    val prs = s"$base/pairs"
    val weights = Map("keep" -> 1.0)
    val text1 = "the quick brown fox jumps over fences.\nmorning rain fell on the quiet harbor town!\nseven sailors counted stars above deck?"
    val text2 = "bakers knead dough before sunrise daily.\ncopper kettles whistle in the old kitchen!\nchildren chase autumn leaves down lanes?"
    val text3 = "glaciers carve valleys over countless years.\nlibraries hold voices from distant ages!\ngardeners plant tulips beside stone walls?"
    def run(cp: String): Unit = {
      val q = StreamingPipeline.startBlockedCorpusIngest(spark, landing,
        corpus, sigs, sks, fps, prs, cp, weights)
      assert(q.awaitTermination(120000), "AvailableNow drain timed out")
    }
    def pairSet(): Set[(Long, Long)] =
      StreamingPipeline.readPairs(spark, prs, sigs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def storeIds(read: => org.apache.spark.sql.DataFrame): Set[Long] =
      read.select("id").collect().map(_.getLong(0)).toSet

    Seq((1L, text1, "keep"), (2L, text2, "keep"))
      .toDF("doc_id", "text", "source").write.parquet(landing)
    run(s"$base/cp")
    assert(StreamingPipeline.readCorpus(spark, corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // all three artifact stores mirror the corpus, consistently
    assert(storeIds(StreamingPipeline.readSignatures(spark, sigs)) == Set(1L, 2L))
    assert(storeIds(StreamingPipeline.readSortKeys(spark, sks, sigs)) == Set(1L, 2L))
    assert(storeIds(StreamingPipeline.readFingerprints(spark, fps, sigs)) == Set(1L, 2L))

    // the landing batch had no near-dups: the pair log's first epoch
    // committed EMPTY (the sig commit still records it)
    assert(pairSet().isEmpty, "no-dup epoch must commit an empty pair log")

    // epoch 1: an exact near-dup of STORED doc 1 dies against the
    // store (store-wins, doc 1 not in this batch); fresh content
    // survives and lands in all three stores
    Seq((10L, text1, "keep"), (11L, text3, "keep"))
      .toDF("doc_id", "text", "source").write.mode("append").parquet(landing)
    run(s"$base/cp")
    assert(StreamingPipeline.readCorpus(spark, corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 11L))
    for ((nm, ids) <- Seq(
      "sig" -> storeIds(StreamingPipeline.readSignatures(spark, sigs)),
      "sortkey" -> storeIds(StreamingPipeline.readSortKeys(spark, sks, sigs)),
      "fp" -> storeIds(StreamingPipeline.readFingerprints(spark, fps, sigs))))
      assert(ids == Set(1L, 2L, 11L), s"$nm store must mirror the corpus: $ids")
    // the pair log keeps the REJECTED doc's evidence: (1, 10) is the
    // verified pair that killed doc 10, persisted although 10 never
    // entered the corpus — the nightly re-close consumes exactly this
    assert(pairSet().contains((1L, 10L)),
      s"rejection evidence must be in the pair log: ${pairSet()}")

    // the admission probe IS the q292 batch call: replaying the dead
    // doc against the stores through the public batch API finds the
    // same kill
    val probe = graft.llm.TextAnalysis.c4Clean(
      Seq((10L, text1)).toDF("doc_id", "text"), "doc_id", "text")
    val pairs = graft.llm.Dedup.incrementalBlockedDedupPairs(
      StreamingPipeline.readSignatures(spark, sigs),
      StreamingPipeline.readSortKeys(spark, sks, sigs),
      StreamingPipeline.readFingerprints(spark, fps, sigs),
      probe, "doc_id", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 10L)),
      s"batch API must find the stored near-dup: $pairs")

    // worst-case retry: a fresh checkpoint reprocesses every landing
    // file; the exact-id anti-join against the sig store neutralizes
    // all of it
    run(s"$base/cp-retry")
    val out = StreamingPipeline.readCorpus(spark, corpus)
    assert(out.count() == 3 &&
      out.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "re-executed batches must be a no-op")

    // TORN ARTIFACT EPOCH: crash after the sort-key/fp writes but
    // before the sig commit record — the torn partitions (even with
    // _SUCCESS) must stay invisible to the sig-keyed readers, and the
    // replay must overwrite them in place
    @volatile var fired = false
    StreamingPipeline.failpoint = { pt =>
      if (pt == "blocked-corpus:after-artifact-writes" && !fired) {
        fired = true
        throw new RuntimeException("simulated crash before sig commit")
      }
    }
    try {
      Seq((20L, "mountain trails wind through silent pines.\nrivers braid silver paths across the plain!\nowls watch dusk settle over the ridge?", "keep"))
        .toDF("doc_id", "text", "source").write.mode("append").parquet(landing)
      val qKill = StreamingPipeline.startBlockedCorpusIngest(spark, landing,
        corpus, sigs, sks, fps, prs, s"$base/cp", weights)
      intercept[Exception] { qKill.awaitTermination(120000) }
      assert(fired, "failpoint must have fired")
      // torn epoch: sortkey/fp partitions exist but sig does not —
      // the sig-keyed views must NOT show doc 20
      assert(!storeIds(StreamingPipeline.readSortKeys(spark, sks, sigs))
        .contains(20L), "torn sort-key epoch must be invisible")
      assert(!storeIds(StreamingPipeline.readFingerprints(spark, fps, sigs))
        .contains(20L), "torn fp epoch must be invisible")
      StreamingPipeline.failpoint = _ => ()
      run(s"$base/cp")
      assert(StreamingPipeline.readCorpus(spark, corpus).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 11L, 20L))
      for ((nm, ids) <- Seq(
        "sig" -> storeIds(StreamingPipeline.readSignatures(spark, sigs)),
        "sortkey" -> storeIds(StreamingPipeline.readSortKeys(spark, sks, sigs)),
        "fp" -> storeIds(StreamingPipeline.readFingerprints(spark, fps, sigs))))
        assert(ids == Set(1L, 2L, 11L, 20L),
          s"$nm store must be consistent after replay: $ids")

      // TORN PAIR EPOCH: a batch whose pair log is NONEMPTY (doc 30
      // is a dup of stored doc 11; doc 31 is fresh so the epoch has a
      // survivor and commits), killed after the pair write but before
      // the sig commit — the torn pair partition must stay invisible
      // to the sig-keyed reader until the replay commits
      val pairsBefore = pairSet()
      fired = false
      StreamingPipeline.failpoint = { pt =>
        if (pt == "blocked-corpus:after-pairs-write" && !fired) {
          fired = true
          throw new RuntimeException("simulated crash after pair write")
        }
      }
      Seq((30L, text3, "keep"),
        (31L, "candles flicker inside the paper lantern.\nfrost patterns spread across the window glass!\npigeons gather near the station clock?", "keep"))
        .toDF("doc_id", "text", "source")
        .write.mode("append").parquet(landing)
      val qKill2 = StreamingPipeline.startBlockedCorpusIngest(spark,
        landing, corpus, sigs, sks, fps, prs, s"$base/cp", weights)
      intercept[Exception] { qKill2.awaitTermination(120000) }
      assert(fired, "pair failpoint must have fired")
      assert(pairSet() == pairsBefore,
        "torn pair epoch must be invisible to the sig-keyed reader")
      StreamingPipeline.failpoint = _ => ()
      run(s"$base/cp")
      assert(pairSet().contains((11L, 30L)),
        s"replayed epoch must commit the pair evidence: ${pairSet()}")
      assert(StreamingPipeline.readCorpus(spark, corpus).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq ==
          Seq(1L, 2L, 11L, 20L, 31L),
        "the duplicate doc 30 must stay rejected after the replay")
    } finally StreamingPipeline.failpoint = _ => ()
  }

  test("an admitted epoch releases its pair pin: both admission paths leave the persisted RDDs as they found them") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-admit-pins").toString
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    // three C4-surviving lines each; doc 3 copies doc 1, so each epoch
    // verifies one pair, kills doc 3 and writes the two survivors
    val text1 = "the quick brown fox jumps over fences.\nmorning rain fell on the quiet harbor town!\nseven sailors counted stars above deck?"
    val text2 = "bakers knead dough before sunrise daily.\ncopper kettles whistle in the old kitchen!\nchildren chase autumn leaves down lanes?"
    val raw = Seq((1L, text1), (2L, text2), (3L, text1))
      .toDF("doc_id", "text").withColumn("source", lit("keep"))
    // single-probe LSH admission (startCorpusIngest's epoch body)
    val before = persisted
    StreamingPipeline.corpusIngestBatch(raw, s"$base/lsh/corpus",
      s"$base/lsh/sig", Map("keep" -> 1.0), 1.0, 0.5)
    assert(persisted == before, s"LSH admission left ${persisted -- before}")
    assert(StreamingPipeline.readCorpus(spark, s"$base/lsh/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // three-blocker admission (startBlockedCorpusIngest's epoch body)
    val before2 = persisted
    StreamingPipeline.blockedAdmitBatch(
      raw.withColumnRenamed("text", "clean_text"), s"$base/b/corpus",
      s"$base/b/sig", s"$base/b/sk", s"$base/b/fp", s"$base/b/pairs",
      0.5, 4, 3, 0L)
    assert(persisted == before2,
      s"blocked admission left ${persisted -- before2}")
    assert(spark.read.parquet(s"$base/b/pairs").select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 3L)))
  }

  test("compactBlockedStores: one generation per store, views identical, probe-equivalent, torn compaction invisible") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-compact").toString
    val (sc, ss, sk, sf, sp) = (s"$base/src/corpus", s"$base/src/sig",
      s"$base/src/sk", s"$base/src/fp", s"$base/src/pairs")
    val (dc, ds, dk, df2, dp) = (s"$base/dst/corpus", s"$base/dst/sig",
      s"$base/dst/sk", s"$base/dst/fp", s"$base/dst/pairs")
    val t1 = "the quick brown fox jumps over fences near the harbor town tonight"
    val t2 = "bakers knead dough before sunrise while copper kettles whistle daily"
    val t3 = "glaciers carve valleys over countless years beside old stone walls"
    def admit(docs: Seq[(Long, String)], id: Long): Unit =
      StreamingPipeline.blockedAdmitBatch(
        docs.toDF("doc_id", "clean_text").withColumn("source", lit("k")),
        sc, ss, sk, sf, sp, 0.5, 4, 3, id)
    admit(Seq((1L, t1), (2L, t2)), 0L)
    admit(Seq((10L, t1), (11L, t3)), 1L) // 10 dies against stored 1
    def compact(): Unit = StreamingPipeline.compactBlockedStores(spark,
      sc, ss, sk, sf, sp, dc, ds, dk, df2, dp)
    // TORN compaction: die before the dst sig commit — every dst
    // reader must refuse the half-written generation
    StreamingPipeline.failpoint = { pt =>
      if (pt == "compact:before-sig")
        throw new RuntimeException("simulated compaction crash")
    }
    try intercept[Exception] { compact() }
    finally StreamingPipeline.failpoint = _ => ()
    intercept[Exception] { StreamingPipeline.readSignatures(spark, ds) }
    intercept[Exception] { StreamingPipeline.readPairs(spark, dp, ds) }
    // the corpus generation IS readable by the plain per-partition
    // reader at this point (its own _SUCCESS landed before the crash)
    // — only the sig-keyed corpus reader refuses the torn generation,
    // which is why blocked-chain consumers must use it (r17 ADVICE)
    intercept[Exception] { StreamingPipeline.readBlockedCorpus(spark, dc, ds) }
    // retry overwrites in place and commits
    compact()
    def ids(read: => org.apache.spark.sql.DataFrame): Set[Long] =
      read.select("id").collect().map(_.getLong(0)).toSet
    def prSet(dir: String, sig: String): Set[(Long, Long)] =
      StreamingPipeline.readPairs(spark, dir, sig).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids(StreamingPipeline.readSignatures(spark, ds)) ==
      ids(StreamingPipeline.readSignatures(spark, ss)))
    assert(ids(StreamingPipeline.readSortKeys(spark, dk, ds)) ==
      ids(StreamingPipeline.readSortKeys(spark, sk, ss)))
    assert(ids(StreamingPipeline.readFingerprints(spark, df2, ds)) ==
      ids(StreamingPipeline.readFingerprints(spark, sf, ss)))
    assert(prSet(dp, ds) == prSet(sp, ss) &&
      prSet(dp, ds).contains((1L, 10L)),
      "rejection evidence must survive compaction")
    assert(StreamingPipeline.readBlockedCorpus(spark, dc, ds).select("doc_id")
      .collect().map(_.getLong(0)).toSet ==
      StreamingPipeline.readBlockedCorpus(spark, sc, ss).select("doc_id")
        .collect().map(_.getLong(0)).toSet)
    // exactly one committed generation per dst store
    for (d <- Seq(dc, ds, dk, df2, dp))
      assert(StreamingPipeline.committedEpochs(spark, d).size == 1, d)
    // trigger policy (r17 verdict): the pressure readout counts the
    // chain's committed epochs/files/bytes, and shouldCompact trips on
    // either ceiling — but never on a single committed generation
    // (re-compacting one generation is a byte-for-byte no-op)
    val srcP = StreamingPipeline.blockedStorePressure(spark, ss,
      Seq(sc, ss, sk, sf, sp))
    assert(srcP.committedEpochs == 2 && srcP.dataFiles > 0 && srcP.bytes > 0,
      s"src pressure: $srcP")
    assert(StreamingPipeline.shouldCompact(srcP, maxEpochs = 2))
    assert(StreamingPipeline.shouldCompact(srcP, maxEpochs = 99,
      maxFiles = srcP.dataFiles))
    assert(!StreamingPipeline.shouldCompact(srcP, maxEpochs = 99,
      maxFiles = srcP.dataFiles + 1))
    val dstP = StreamingPipeline.blockedStorePressure(spark, ds,
      Seq(dc, ds, dk, df2, dp))
    assert(dstP.committedEpochs == 1, s"dst pressure: $dstP")
    assert(!StreamingPipeline.shouldCompact(dstP, maxEpochs = 1, maxFiles = 1),
      "a single committed generation must never re-compact")
    // probe equivalence: a new batch finds the same pairs against the
    // compacted generation as against the epoch-partitioned source
    val probe = Seq((20L, t3)).toDF("doc_id", "clean_text")
    def probePairs(sig: String, sortk: String, fp: String): Set[(Long, Long)] =
      graft.llm.Dedup.incrementalBlockedDedupPairs(
        StreamingPipeline.readSignatures(spark, sig),
        StreamingPipeline.readSortKeys(spark, sortk, sig),
        StreamingPipeline.readFingerprints(spark, fp, sig),
        probe, "doc_id", "clean_text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDst = probePairs(ds, dk, df2)
    assert(viaDst == probePairs(ss, sk, sf) && viaDst.contains((11L, 20L)),
      s"compacted probe must agree: $viaDst")
    // fresh-checkpoint resume against dst: batchId 0 replaying every
    // old landing doc is neutralized by the exact-id anti-join (the
    // numeric epoch id cannot collide with c0)
    StreamingPipeline.blockedAdmitBatch(
      Seq((1L, t1), (2L, t2), (10L, t1), (11L, t3))
        .toDF("doc_id", "clean_text").withColumn("source", lit("k")),
      dc, ds, dk, df2, dp, 0.5, 4, 3, 0L)
    assert(StreamingPipeline.readBlockedCorpus(spark, dc, ds).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 11L),
      "replayed docs must be neutralized against the compacted store")
  }

  test("mid-batch kill in the corpus+pack chain: restart from checkpoint is exactly-once") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-crash-stream").toString
    val landing = s"$base/landing"; val corpus = s"$base/corpus"
    val sigs = s"$base/sigs"; val cp = s"$base/cp"; val packed = s"$base/packed"
    val weights = Map("keep" -> 1.0)
    val text1 = "the quick brown fox jumps over fences.\nmorning rain fell on the quiet harbor town!\nseven sailors counted stars above deck?"
    val text2 = "bakers knead dough before sunrise daily.\ncopper kettles whistle in the old kitchen!\nchildren chase autumn leaves down lanes?"
    val text3 = "glaciers carve valleys over countless years.\nlibraries hold voices from distant ages!\ngardeners plant tulips beside stone walls?"
    Seq((1L, text1, "keep"), (2L, text2, "keep"))
      .toDF("doc_id", "text", "source").write.parquet(landing)

    // kill AFTER the corpus and pack writes but BEFORE the sig-store
    // commit record: the window where a plain append would duplicate
    // every survivor on replay
    @volatile var fired = false
    StreamingPipeline.failpoint = { pt =>
      if (pt == "corpus:after-pack-write" && !fired) {
        fired = true
        throw new RuntimeException("simulated mid-batch crash")
      }
    }
    try {
      val q = StreamingPipeline.startCorpusIngest(spark, landing, corpus,
        sigs, cp, weights, packDir = Some(packed), seqLen = 8)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(120000)
      }
      assert(ex.toString.contains("simulated mid-batch crash"), ex.toString)
    } finally StreamingPipeline.failpoint = _ => ()
    // the crashed attempt landed corpus+pack epochs without the commit
    // record — the wrong-answer shape a replay must repair in place
    assert(StreamingPipeline.readCorpus(spark, corpus).count() == 2, "crashed attempt staged its epoch")

    val q2 = StreamingPipeline.startCorpusIngest(spark, landing, corpus,
      sigs, cp, weights, packDir = Some(packed), seqLen = 8)
    assert(q2.awaitTermination(120000), "restart drain timed out")
    val out = StreamingPipeline.readCorpus(spark, corpus)
    assert(out.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "crash replay duplicated corpus rows: " + out.collect().mkString("; "))
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    assert(StreamingPipeline.readSignatures(spark, sigs).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L), "sig store mirrors the corpus")
    // pack shards: no duplicated sequences — token coverage is exact
    val pack = StreamingPipeline.readPacked(spark, packed)
    assert(pack.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val totalToks = out.select(
      sum(size(split(trim(col("clean_text")), "\\s+"))).cast("long"))
      .first().getLong(0)
    assert(pack.agg(sum("n_seg_tokens")).first().getLong(0) == totalToks,
      "replayed pack epoch must cover every token exactly once")

    // the restarted lineage keeps streaming normally
    Seq((11L, text3, "keep")).toDF("doc_id", "text", "source")
      .write.mode("append").parquet(landing)
    val q3 = StreamingPipeline.startCorpusIngest(spark, landing, corpus,
      sigs, cp, weights, packDir = Some(packed), seqLen = 8)
    assert(q3.awaitTermination(120000))
    assert(StreamingPipeline.readCorpus(spark, corpus).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 11L))
  }

  test("a planted torn epoch partition is invisible to the committed corpus/pack readers") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-torn-stream").toString
    val landing = s"$base/landing"; val corpus = s"$base/corpus"
    val sigs = s"$base/sigs"; val cp = s"$base/cp"; val packed = s"$base/packed"
    val text1 = "the quick brown fox jumps over fences.\nmorning rain fell on the quiet harbor town!\nseven sailors counted stars above deck?"
    val text2 = "bakers knead dough before sunrise daily.\ncopper kettles whistle in the old kitchen!\nchildren chase autumn leaves down lanes?"
    Seq((1L, text1, "keep"), (2L, text2, "keep"))
      .toDF("doc_id", "text", "source").write.parquet(landing)
    val q = StreamingPipeline.startCorpusIngest(spark, landing, corpus,
      sigs, cp, Map("keep" -> 1.0), packDir = Some(packed), seqLen = 8)
    assert(q.awaitTermination(120000))
    val committedDocs = StreamingPipeline.readCorpus(spark, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(committedDocs == Set(1L, 2L))
    val packBefore = StreamingPipeline.readPacked(spark, packed).count()

    // plant a torn epoch under BOTH sinks: a crashed batch's data files
    // with no _SUCCESS marker (copy the committed epoch, strip the
    // marker) — exactly what a kill mid-job-commit leaves behind
    def plantTorn(dir: String): Unit = {
      val src = java.nio.file.Paths.get(dir, "epoch=0")
      val dst = java.nio.file.Paths.get(dir, "epoch=99")
      Files.createDirectories(dst)
      Files.list(src).forEach { f =>
        if (f.getFileName.toString != "_SUCCESS")
          Files.copy(f, dst.resolve(f.getFileName.toString))
      }
      assert(Files.list(dst).count() > 0, s"torn plant under $dir is empty")
      assert(!Files.exists(dst.resolve("_SUCCESS")))
    }
    plantTorn(corpus); plantTorn(packed)

    // the committed readers must not surface the torn epochs' rows
    val after = StreamingPipeline.readCorpus(spark, corpus)
    assert(after.select("doc_id").collect().map(_.getLong(0)).toSet
      == committedDocs, "torn corpus epoch leaked into the committed read")
    assert(StreamingPipeline.readPacked(spark, packed).count() == packBefore,
      "torn pack epoch leaked into the committed read")
  }

  test("rpc micro-batch source: offsets are block heights, restart resumes from the checkpoint") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import scala.jdk.CollectionConverters._
    val head = new java.util.concurrent.atomic.AtomicLong(6L)
    val fetched = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        def respond(s: String): Unit = {
          val b = s.getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b); ex.close()
        }
        if (body.contains("getblockcount"))
          respond(s"""{"jsonrpc":"2.0","id":1,"result":${head.get()}}""")
        else {
          val h = body.split("\"params\":\\[")(1).split("]")(0).toLong
          fetched.add(h)
          respond(
            s"""{"jsonrpc":"2.0","id":1,"result":[
                {"txid":"h${h}a","block":$h,"blocktime":${1700000000L + h * 60},"type_int":200,"fee":"0.1","data":"${hex(s"tx$h")}"},
                {"txid":"h${h}b","block":$h,"blocktime":${1700000000L + h * 60},"type_int":100,"fee":"0.2","data":null}]}""")
        }
      }
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val base = Files.createTempDirectory("graft-rpcstream").toString
      val sinkPath = s"$base/sink"; val cp = s"$base/cp"
      val wh = new Sinks.CollectingWebhook
      def run(): Unit = {
        val q = StreamingPipeline.startRpcIngest(spark, endpoint,
          new graft.ingest.IncrementalPipeline.ParquetTxSink(spark, sinkPath),
          cp, wh, availableNow = true, maxBlocksPerTrigger = Some(2L),
          numPartitions = 2, maxConcurrency = 2)
        assert(q.awaitTermination(120000), "AvailableNow drain timed out")
      }
      run()
      // heights 1..6 fetched in capped batches; one type-200 tx each lands
      assert(fetched.asScala.toSet == (1L to 6L).toSet)
      val out = spark.read.parquet(sinkPath)
      assert(out.count() == 6)
      assert(out.select("txid").collect().map(_.getString(0)).toSet ==
        (1 to 6).map(h => s"h${h}a").toSet)
      assert(wh.posted.nonEmpty, "report webhook fired")

      // chain advances while the query is DOWN; the restart must resume
      // from the checkpointed height — refetching nothing below it
      fetched.clear(); head.set(9L)
      run()
      assert(fetched.asScala.toSet == Set(7L, 8L, 9L),
        s"expected only new heights, refetched ${fetched.asScala.toSet}")
      val out2 = spark.read.parquet(sinkPath)
      assert(out2.count() == 9, "no duplicates across restart")
      assert(out2.select("txid").distinct().count() == 9)

      // head unchanged: an empty catch-up run is a clean no-op
      fetched.clear()
      run()
      assert(fetched.isEmpty && spark.read.parquet(sinkPath).count() == 9)
    } finally server.stop(0)
  }

  test("streaming ingest into the JDBC sink: idempotent across epochs") {
    import spark.implicits._
    import graft.ingest.IncrementalPipeline
    val base = Files.createTempDirectory("graft-streamj").toString
    val landing = s"$base/landing"; val cp = s"$base/cp"
    val url = s"jdbc:derby:$base/db;create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new IncrementalPipeline.JdbcTxSink(spark, url, "stream_txs", opts)

    Seq(
      ("j1", 1L, 1700000000L, 200, "0.1", hex("one")),
      ("j2", 2L, 1700000060L, 200, "0.2", hex("two")))
      .toDF("txid", "block", "blocktime", "type_int", "fee", "data")
      .write.parquet(landing)
    val wh = new Sinks.CollectingWebhook
    StreamingPipeline.startIngest(spark, landing, sink, cp, wh, availableNow = true)
      .awaitTermination(120000)
    assert(sink.watermark() == 2L)

    // next epoch: one already-landed txid + one new — the in-DB
    // anti-join drops the duplicate, checkpoint advances
    Seq(
      ("j2", 2L, 1700000060L, 200, "0.2", hex("two")),
      ("j3", 3L, 1700000120L, 200, "0.3", hex("three")))
      .toDF("txid", "block", "blocktime", "type_int", "fee", "data")
      .write.mode("append").parquet(landing)
    StreamingPipeline.startIngest(spark, landing, sink, cp, wh, availableNow = true)
      .awaitTermination(120000)

    val rows = graft.sources.Tables.loadJdbc(spark, url, "stream_txs", opts).collect()
    assert(rows.map(_.getAs[String]("txid")).sorted.toSeq == Seq("j1", "j2", "j3"))
  }

  test("windowed agg with watermark over a streamed events sample") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream2").toString
    // stream the real events table shape through a memory sink
    val ev = graft.sources.Tables.load(spark, TestSpark.sfDir, "events")
    ev.limit(500).write.parquet(s"$base/events")
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$base/events").schema)
      .parquet(s"$base/events")
    val agg = StreamingPipeline.windowedEventAgg(streamed)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append-mode watermark holds back open windows; the plan must be a
    // valid streaming agg (exactly the structure matters here)
    assert(spark.table("win_out").columns.toSeq ==
      Seq("window_start", "event_type", "n_events", "sum_value"))
  }

  test("session windows: gap-separated activity closes into sessions") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-sess").toString
    // one user, two bursts separated by > 30 min, plus a second user;
    // a far-future row advances the watermark so sessions emit in
    // append mode
    val t0 = 1700000000L
    (Seq((1L, t0, 1.0), (1L, t0 + 60, 2.0),        // session A (2 events)
      (1L, t0 + 7200, 4.0),                        // session B (1 event)
      (2L, t0 + 30, 8.0),                          // user 2    (1 event)
      (99L, t0 + 999999, 0.0))                     // watermark pusher
      .map { case (u, ts, v) => (u, new java.sql.Timestamp(ts * 1000), v) })
      .toDF("user_id", "ts", "value")
      .write.parquet(s"$base/ev")
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$base/ev").schema).parquet(s"$base/ev")
    val q = StreamingPipeline.sessionWindowAgg(streamed)
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_out")
      .filter(col("user_id") < 99)
      .select("user_id", "n_events", "sum_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)), got.toString)
  }

  test("stream-static enrichment joins each micro-batch to the dim snapshot") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-enrich").toString
    graft.sources.Tables.load(spark, TestSpark.sfDir, "events")
      .limit(200).write.parquet(s"$base/ev")
    val dim = Seq(("click", "ui"), ("error", "ops"), ("purchase", "rev"))
      .toDF("event_type", "team")
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$base/ev").schema).parquet(s"$base/ev")
    val q = StreamingPipeline.enrichWithDim(streamed, dim, "event_type")
      .writeStream.outputMode("append").format("memory").queryName("enrich_out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("enrich_out")
    assert(out.count() == 200)
    // left semantics: every streamed row survives; known types get a team
    assert(out.filter(col("event_type") === "error")
      .select("team").distinct().collect().map(_.getString(0)).toSeq == Seq("ops"))
  }

  test("streaming dedup within watermark drops in-horizon duplicates") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream3").toString
    Seq(
      ("d1", 1L, 1700000000L, 200, "0.1", hex("a")),
      ("d1", 1L, 1700000000L, 200, "0.1", hex("a")), // dup within horizon
      ("d2", 2L, 1700000100L, 200, "0.2", hex("b")))
      .toDF("txid", "block", "blocktime", "type_int", "fee", "data")
      .write.parquet(s"$base/in")
    val streamed = spark.readStream.schema(StreamingPipeline.txSchema)
      .parquet(s"$base/in")
    val q = StreamingPipeline.dedupWithinWatermark(streamed)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_out").select("txid").collect().map(_.getString(0))
    assert(got.sorted.toSeq == Seq("d1", "d2"))
  }

  test("stream-stream join matches within the time band, drops out-of-band rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-ssj").toString
    val t0 = 1700000000L
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // left: doc arrivals; right: metadata events. m1 arrives 10 min
    // after d1 (in band), m2 arrives 2 h after d2 (out of band), m3
    // has no matching doc; far-future rows push both watermarks.
    Seq((10L, ts(t0), "d1"), (20L, ts(t0), "d2"), (99L, ts(t0 + 999999), "wm"))
      .toDF("doc_id", "ts", "payload").write.parquet(s"$base/left")
    Seq((10L, ts(t0 + 600), "m1"), (20L, ts(t0 + 7200), "m2"),
      (30L, ts(t0 + 600), "m3"), (98L, ts(t0 + 999999), "wm"))
      .toDF("doc_id", "ts", "meta").write.parquet(s"$base/right")
    val l = spark.readStream
      .schema(spark.read.parquet(s"$base/left").schema).parquet(s"$base/left")
    val r = spark.readStream
      .schema(spark.read.parquet(s"$base/right").schema).parquet(s"$base/right")
    val q = StreamingPipeline.streamStreamJoin(l, r, "doc_id")
      .select(col("doc_id"), col("payload"), col("meta"))
      .writeStream.outputMode("append").format("memory").queryName("ssj_out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj_out").collect()
      .map(row => (row.getLong(0), row.getString(1), row.getString(2))).toSet
    // only the in-band pair joins: d2's metadata is 2h late, m3 has no doc
    assert(got == Set((10L, "d1", "m1")), got.toString)
  }

  test("alert listener fires webhook AND email channels when a query dies") {
    import spark.implicits._
    val wh = new Sinks.CollectingWebhook
    val mt = new Sinks.CollectingMailTransport
    val listener = new StreamingPipeline.AlertListener(Seq(
      Sinks.WebhookAlerts(wh),
      Sinks.EmailAlerts(mt, Seq("ops@example.com"))))
    spark.streams.addListener(listener)
    try {
      val base = Files.createTempDirectory("graft-stream4").toString
      Seq(("x", 1L)).toDF("txid", "block").write.parquet(s"$base/in")
      val streamed = spark.readStream
        .schema(spark.read.parquet(s"$base/in").schema).parquet(s"$base/in")
      // foreachBatch that always throws -> query terminates with error
      val q = streamed.writeStream
        .option("checkpointLocation", s"$base/cp")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("boom-sink")
        }
        .trigger(Trigger.AvailableNow()).start()
      intercept[Exception] { q.awaitTermination(120000) }
      // listener events are async
      var waited = 0
      while ((wh.posted.isEmpty || mt.sent.isEmpty) && waited < 10000) {
        Thread.sleep(200); waited += 200
      }
      assert(wh.posted.exists(_.contains("ALERT")))
      assert(mt.sent.exists(m => m.subject.contains("FAILURE") &&
        m.to == Seq("ops@example.com")))
    } finally spark.streams.removeListener(listener)
  }

  test("mapGroupsWithState session stats accumulate per user") {
    import spark.implicits._
    val evs = Seq(
      StreamingPipeline.Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      StreamingPipeline.Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0),
      StreamingPipeline.Ev(2L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 5.0))
      .toDS()
    val out = StreamingPipeline.sessionStats(evs).collect()
      .map(o => o.user_id -> o).toMap
    assert(out(1L).n_events == 2 && math.abs(out(1L).total_value - 3.0) < 1e-9)
    assert(out(2L).n_events == 1)
  }

  test("epochFunnel/epochTvd: per-epoch observability, additive, torn epochs invisible") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-epoch-obs").toString
    val corpus = s"$base/corpus"
    // epoch 0: two clean docs; epoch 1: one repetition-heavy doc that
    // the funnel must kill at stage 1, one clean doc
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "clean_text").write.parquet(s"$corpus/epoch=0")
    // the spam doc is both repetition-heavy (funnel stage 1) and LONG
    // (59 chars vs the reference median 46 — shifts epoch 1's length
    // mix into the upper PSI bin)
    Seq((3L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (4L, "red orange yellow green blue indigo violet shade"))
      .toDF("doc_id", "clean_text").write.parquet(s"$corpus/epoch=1")
    // a TORN epoch (no _SUCCESS) must stay invisible to both readouts
    Seq((9L, "torn torn torn torn torn torn torn torn"))
      .toDF("doc_id", "clean_text").write.parquet(s"$corpus/epoch=2")
    Files.delete(java.nio.file.Paths.get(s"$corpus/epoch=2/_SUCCESS"))

    val fun = StreamingPipeline.epochFunnel(spark, corpus).collect()
    assert(fun.map(_.getAs[Int]("epoch")).toSet == Set(0, 1),
      "torn epoch leaked into the funnel")
    assert(fun.map(_.getAs[String]("stage_name")).toSet
      == Set("all", "repetition", "quality"), "sink has no lang column")
    def stageDocs(epoch: Int, stage: String): Long =
      fun.find(r => r.getAs[Int]("epoch") == epoch &&
        r.getAs[String]("stage_name") == stage).get.getAs[Long]("n_docs")
    assert(stageDocs(0, "all") == 2 && stageDocs(0, "quality") == 2)
    assert(stageDocs(1, "all") == 2 && stageDocs(1, "repetition") == 1,
      "the spam doc must die at the repetition stage")
    // additivity: per-epoch stage sums equal the whole-corpus funnel
    val whole = graft.llm.TextAnalysis.filterFunnelBy(
      StreamingPipeline.readCorpus(spark, corpus),
      "doc_id", "clean_text", None, Nil).collect()
      .map(r => r.getAs[String]("stage_name") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    for ((st, (nd, nt)) <- whole) {
      assert(fun.filter(_.getAs[String]("stage_name") == st)
        .map(_.getAs[Long]("n_docs")).sum == nd, s"stage $st docs")
      assert(fun.filter(_.getAs[String]("stage_name") == st)
        .map(_.getAs[Long]("n_tokens")).sum == nt, s"stage $st tokens")
    }

    val tvd = StreamingPipeline.epochTvd(spark, corpus).collect()
      .map(r => r.getAs[Int]("epoch") ->
        r.getAs[Double]("tvd")).toMap
    assert(tvd.keySet == Set(0, 1), "torn epoch leaked into the TVD")
    // disjoint vocabularies collapse TVD to 1 − S/G (S = epoch tokens,
    // G = 38 corpus tokens): epoch 0 has 18, epoch 1 has 20
    assert(math.abs(tvd(0) - (1.0 - 18.0 / 38)) < 1e-9, tvd.toString)
    assert(math.abs(tvd(1) - (1.0 - 20.0 / 38)) < 1e-9, tvd.toString)

    // epochPsi: the earliest committed epoch is its own reference
    // (psi exactly 0); the later epoch's length mix differs -> psi > 0
    val psi = StreamingPipeline.epochPsi(spark, corpus, bins = 2)
      .collect().map(r => r.getAs[Int]("epoch") ->
        r.getAs[Double]("psi")).toMap
    assert(psi.keySet == Set(0, 1), "torn epoch leaked into the PSI")
    assert(psi(0) == 0.0, s"reference epoch must score exactly 0: $psi")
    assert(psi(1) > 0.0, psi.toString)
  }

  test("epochCusum: sustained volume shift alarms, Page recursion matches driver replay, torn epoch invisible") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-epoch-cusum").toString
    val corpus = s"$base/corpus"
    // five quiet epochs then a sustained 4x jump — the shape a single
    // epoch's z-score never trips but CUSUM accumulates
    val sizes = Seq(2, 2, 2, 2, 2, 8, 8, 8)
    sizes.zipWithIndex.foreach { case (n, e) =>
      (0 until n).map(i => (e * 100L + i, s"epoch $e doc $i body words"))
        .toDF("doc_id", "clean_text").write.parquet(s"$corpus/epoch=$e")
    }
    Seq((999L, "torn torn torn")).toDF("doc_id", "clean_text")
      .write.parquet(s"$corpus/epoch=8")
    Files.delete(java.nio.file.Paths.get(s"$corpus/epoch=8/_SUCCESS"))

    val k = 0.5; val h = 1.5
    val out = StreamingPipeline.epochCusum(spark, corpus, k = k, h = h)
      .collect().map(r => r.getAs[Int]("epoch") -> r).toMap
    assert(out.keySet == sizes.indices.toSet, "torn epoch leaked")
    // additivity with the committed corpus: the detector's input
    // series IS the per-epoch committed volume, summing to the whole
    assert(out.values.map(_.getAs[Long]("n_docs")).sum ==
      StreamingPipeline.readCorpus(spark, corpus).count())
    sizes.zipWithIndex.foreach { case (n, e) =>
      assert(out(e).getAs[Long]("n_docs") == n.toLong, s"epoch $e") }
    // exact driver replay of the standardization + Page recursion —
    // the closed-form windows must reproduce the textbook fold
    val xs = sizes.map(_.toDouble)
    val mean = xs.sum / xs.size
    val sd = math.sqrt(
      xs.map(x => (x - mean) * (x - mean)).sum / (xs.size - 1))
    var sp = 0.0; var sn = 0.0
    sizes.zipWithIndex.foreach { case (n, e) =>
      val z = (n - mean) / sd
      sp = math.max(0.0, sp + z - k)
      sn = math.max(0.0, sn - z - k)
      val r = out(e)
      assert(math.abs(r.getAs[Double]("z") - z) < 1e-9, s"z epoch $e")
      assert(math.abs(r.getAs[Double]("cusum_pos") - sp) < 1e-9,
        s"cusum_pos epoch $e")
      assert(math.abs(r.getAs[Double]("cusum_neg") - sn) < 1e-9,
        s"cusum_neg epoch $e")
      assert(r.getAs[Boolean]("alarm") == (sp > h || sn > h), s"epoch $e")
    }
    // the sustained up-shift alarms on the POSITIVE side only, and
    // only once enough shifted epochs accumulated (not at the jump)
    assert(!out(5).getAs[Boolean]("alarm") && !out(6).getAs[Boolean]("alarm"))
    assert(out(7).getAs[Boolean]("alarm") &&
      out(7).getAs[Double]("cusum_pos") > h)
    assert(out.values.forall(_.getAs[Double]("cusum_neg") <= h),
      "quiet stretch must not trip the negative side")
  }

  test("epochEwma: smoothed trajectory tracks the recursion, sustained shift leaves the band, torn epoch invisible") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-epoch-ewma").toString
    val corpus = s"$base/corpus"
    val sizes = Seq(2, 2, 2, 2, 2, 8, 8, 8)
    sizes.zipWithIndex.foreach { case (n, e) =>
      (0 until n).map(i => (e * 100L + i, s"epoch $e doc $i body words"))
        .toDF("doc_id", "clean_text").write.parquet(s"$corpus/epoch=$e")
    }
    Seq((999L, "torn torn torn")).toDF("doc_id", "clean_text")
      .write.parquet(s"$corpus/epoch=8")
    Files.delete(java.nio.file.Paths.get(s"$corpus/epoch=8/_SUCCESS"))

    val lam = 0.4
    val out = StreamingPipeline.epochEwma(spark, corpus, lambda = lam,
      nSigma = 1.5, maxLag = 64)
      .collect().map(r => r.getAs[Int]("epoch") -> r).toMap
    assert(out.keySet == sizes.indices.toSet, "torn epoch leaked")
    // driver replay of the textbook recursion (maxLag > series length)
    val xs = sizes.map(_.toDouble)
    val mu = xs.sum / xs.size
    var z = mu
    sizes.indices.foreach { e =>
      z = lam * xs(e) + (1 - lam) * z
      assert(math.abs(out(e).getAs[Double]("ewma") - z) < 1e-9,
        s"ewma epoch $e: ${out(e).getAs[Double]("ewma")} vs $z")
    }
    // quiet stretch inside the band; the sustained shift leaves it
    assert((0 to 4).forall(e => !out(e).getAs[Boolean]("alarm")),
      "quiet epochs must not alarm")
    assert((5 to 7).exists(e => out(e).getAs[Boolean]("alarm")),
      "sustained 4x shift must push the EWMA over the limit")
    // alarm bit is consistent with the emitted limits
    for ((e, r) <- out) {
      val a = r.getAs[Double]("ewma") > r.getAs[Double]("ucl") ||
        r.getAs[Double]("ewma") < r.getAs[Double]("lcl")
      assert(r.getAs[Boolean]("alarm") == a, s"epoch $e alarm bit")
    }
  }

  test("epochNovelty: first epoch fully novel, recrawl scores zero, torn epoch invisible") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-epoch-novelty").toString
    val corpus = s"$base/corpus"
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota"
    val textB = "one two three four five six seven eight nine ten"
    Seq((1L, textA), (2L, textB))
      .toDF("doc_id", "clean_text").write.parquet(s"$corpus/epoch=0")
    // epoch 1 re-crawls textA verbatim and adds one genuinely new doc
    Seq((3L, textA),
      (4L, "red orange yellow green blue indigo violet shade amber"))
      .toDF("doc_id", "clean_text").write.parquet(s"$corpus/epoch=1")
    // epoch 2 is a PURE recrawl — zero novelty is the alarm condition
    Seq((5L, textB)).toDF("doc_id", "clean_text")
      .write.parquet(s"$corpus/epoch=2")
    Seq((9L, "torn torn torn torn torn torn torn torn"))
      .toDF("doc_id", "clean_text").write.parquet(s"$corpus/epoch=3")
    Files.delete(java.nio.file.Paths.get(s"$corpus/epoch=3/_SUCCESS"))

    val nov = StreamingPipeline.epochNovelty(spark, corpus).collect()
      .map(r => r.getAs[Int]("epoch") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_new"),
          r.getAs[Double]("novelty")))).toMap
    assert(nov.keySet == Set(0, 1, 2), "torn epoch leaked into novelty")
    assert(nov(0)._3 == 1.0, s"first epoch must be fully novel: $nov")
    assert(nov(2)._2 == 0L && nov(2)._3 == 0.0,
      s"pure recrawl must score zero: $nov")
    assert(nov(1)._3 > 0.0 && nov(1)._3 < 1.0,
      s"mixed epoch strictly between: $nov")
    // additivity: per-epoch n_new sums to the corpus's distinct count
    val total = StreamingPipeline.readCorpus(spark, corpus)
      .select(explode(graft.functions.WordShingles.column(
        col("clean_text"), 5, distinct = true)).as("s"))
      .distinct().count()
    assert(nov.values.map(_._2).sum == total)
  }
}
