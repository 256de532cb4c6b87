package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Corpus, Dedup, Similarity}
import graft.sources.Tables

/** Corpus-management operators: deterministic split, stratified
  * sampling, PII redaction, duplicate clustering, embedding near-dup. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  test("hash split: deterministic, total, and roughly 80/10/10") {
    val docs = Tables.load(spark, dir, "documents")
    val splits = docs.select(col("doc_id"), Corpus.split(col("doc_id")).as("s"))
    val counts = splits.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts("train") > n * 6 / 10, counts.toString) // loose at small n
    // determinism: second evaluation assigns identically
    val again = docs.select(col("doc_id"), Corpus.split(col("doc_id")).as("s"))
    assert(splits.except(again).isEmpty && again.except(splits).isEmpty)
  }

  test("stratified sample: ~frac per stratum, deterministic, subset") {
    val docs = Tables.load(spark, dir, "documents")
    val sampled = Corpus.stratifiedSample(docs, "lang", "doc_id", 0.2)
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, n) <- perLang)
      assert(sampLang(lang) == math.ceil(n * 0.2).toLong, s"$lang: $sampLang vs $n")
    assert(sampled.join(docs, Seq("doc_id"), "left_anti").isEmpty)
  }

  test("neymanAllocate: variance-heavy strata get the budget, constants get none, total exact") {
    // stratum a: constant (σ=0) — Neyman gives it nothing;
    // b: spread 10; c: same size, spread 100 → c gets ~10× b's share
    val rows = (1 to 30).map(i => (i.toLong, "a", 50.0)) ++
      (31 to 60).map(i => (i.toLong, "b", (i % 3) * 10.0)) ++
      (61 to 90).map(i => (i.toLong, "c", (i % 3) * 100.0))
    val d = rows.toDF("doc_id", "stratum", "v")
    val out = Corpus.neymanAllocate(d, "stratum", "doc_id", "v", 22L)
    val alloc = out.select("stratum", "n_alloc").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!alloc.contains("a"), s"constant stratum drew budget: $alloc")
    assert(alloc("b") == 2 && alloc("c") == 20, alloc.toString)
    assert(out.count() == 22, "largest remainder must hit the budget exactly")
    // selected rows are a subset chosen by md5 rank — deterministic
    val again = Corpus.neymanAllocate(d, "stratum", "doc_id", "v", 22L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("neymanAllocate: quota above stratum size clamps; all-constant corpus raises") {
    // tiny high-variance stratum: quota wants more rows than exist
    val d = ((1 to 3).map(i => (i.toLong, "hot", i * 1000.0)) ++
      (4 to 40).map(i => (i.toLong, "mild", (i % 2) * 1.0)))
      .toDF("doc_id", "stratum", "v")
    val out = Corpus.neymanAllocate(d, "stratum", "doc_id", "v", 20L)
    val alloc = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(alloc("hot") == 3, s"clamp at stratum size: $alloc")
    val const = Seq((1L, "x", 5.0), (2L, "x", 5.0), (3L, "y", 7.0))
      .toDF("doc_id", "stratum", "v")
    val e = intercept[Exception] {
      Corpus.neymanAllocate(const, "stratum", "doc_id", "v", 2L).collect()
    }
    assert(e.getMessage.contains("neymanAllocate") ||
      e.getCause != null, e.getMessage)
  }

  test("domain cap: at most k per domain, deterministic, unbiased by ingest order") {
    val docs = Tables.load(spark, dir, "documents")
    val capped = Corpus.domainCap(docs, "source", "doc_id", 7)
    val per = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, n) <- full)
      assert(per(src) == math.min(n, 7L), s"$src: ${per(src)} of $n")
    // md5 rank, not ingest order: the kept set must not be the first k ids
    val keptIds = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val firstK = docs.orderBy("doc_id").limit(per.values.sum.toInt)
      .collect().map(_.getLong(0)).toSet
    assert(keptIds != firstK, "cap should not be ingest-order-biased")
    // deterministic across evaluations
    val again = Corpus.domainCap(docs, "source", "doc_id", 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == keptIds)
  }

  test("temperatureMixture: α=1 keeps natural shares, α→0 flattens, caps at source size") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val n = docs.count()
    val bySrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def shares(alpha: Double, total: Long): Map[String, Long] =
      Corpus.temperatureMixture(docs, "source", "doc_id", alpha, total)
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // α = 1: targets ∝ n_s (ceil'd) — natural proportions within 1 doc
    val nat = shares(1.0, 200)
    bySrc.foreach { case (s, ns) =>
      val expect = math.ceil(200.0 * ns / n).toLong
      assert(math.abs(nat(s) - expect) <= 1, s"$s: ${nat(s)} vs $expect") }
    // α = 0.5 flattens — assert on a deliberately skewed corpus (the
    // fixture's sources are near-uniform, so its flattening shift is
    // sub-1-doc): 300 A docs vs 20 B docs, budget 100. α=1 gives B
    // ceil(100·20/320)=7; α=0.5 gives B 100·√20/(√300+√20)≈21.
    val skewed = ((1 to 300).map(i => (i.toLong, "A")) ++
      (301 to 320).map(i => (i.toLong, "B"))).toDF("doc_id", "source")
    def skewShare(alpha: Double): Long =
      Corpus.temperatureMixture(skewed, "source", "doc_id", alpha, 100)
        .filter(col("source") === "B").count()
    assert(skewShare(0.5) > skewShare(1.0),
      s"flattening failed: ${skewShare(0.5)} !> ${skewShare(1.0)}")
    // budget beyond the corpus: capped at source size, nothing invented
    val all = shares(0.5, n * 10)
    assert(all == bySrc, s"$all vs $bySrc")
    // deterministic under repartition
    val a = Corpus.temperatureMixture(docs.repartition(13), "source",
      "doc_id", 0.5, 200).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Corpus.temperatureMixture(docs, "source", "doc_id", 0.5, 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("pii redaction replaces emails, urls and digit runs") {
    val out = Seq(
      "mail me at a.b@example.com or see https://x.io/path?q=1 ref 123456")
      .toDF("text").select(Corpus.redactPii(col("text")).as("r"))
      .head().getString(0)
    assert(out == "mail me at <EMAIL> or see <URL> ref <NUM>", out)
  }

  test("dupClusters: connected components with min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (3L, 9L))
      .toDF("id_a", "id_b")
    val got = Corpus.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("dupClusters distributed path agrees with the union-find fast path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (3L, 9L), (4L, 9L))
      .toDF("id_a", "id_b")
    val local = Corpus.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Corpus.dupClusters(pairs, localMaxBytes = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, s"$local vs $dist")
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L))
  }

  test("property: packSequences segments equal a single-threaded global-stream walk") {
    // The segment arithmetic (global prefix start, the seq_id explode
    // range, greatest/least clipping of doc_offset and n_seg_tokens,
    // the +1 slice base) is ±1 logic across THREE coordinate systems
    // (corpus stream, sequence grid, in-doc offsets). Sparse ids with
    // gaps stress the contiguous-range bucketing; buckets=4 forces
    // many docs per bucket, 64 mostly-empty buckets; seqLen=5 makes
    // nearly every doc span a cut. Empty docs must vanish entirely.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def draw[A](g: Gen[A], seed: Long, n: Int): Seq[A] = {
      var s = Seed(seed)
      (0 until n).map { _ =>
        val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
      }
    }
    val gDoc = for {
      id <- Gen.choose(0L, 200L); nw <- Gen.choose(0, 12)
    } yield (id, nw)
    for ((buckets, trial) <- Seq((4, 0), (64, 1))) {
      val docs = draw(gDoc, 71L * buckets + trial, 60)
        .groupBy(_._1).map(_._2.head).toSeq // distinct ids, gaps kept
        .map { case (id, nw) =>
          (id, (0 until nw).map(j => s"t$id-$j").mkString(" ")) }
      val seqLen = 5
      val got = Corpus.packSequences(docs.toDF("doc_id", "text"),
          "doc_id", "text", seqLen = seqLen, buckets = buckets)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      var start = 0L
      val expect = scala.collection.mutable.Set
        .empty[(Long, Long, Long, Long, String)]
      docs.sortBy(_._1).foreach { case (id, text) =>
        val toks = "\\S+".r.findAllIn(text).toSeq
        val n = toks.length.toLong
        if (n > 0) {
          for (seq <- start / seqLen to (start + n - 1) / seqLen) {
            val a = math.max(start, seq * seqLen) - start
            val len = math.min(start + n, (seq + 1) * seqLen) -
              math.max(start, seq * seqLen)
            expect += ((seq, id, a, len,
              toks.slice(a.toInt, (a + len).toInt).mkString(" ")))
          }
          start += n
        }
      }
      assert(got == expect.toSet, s"buckets=$buckets trial=$trial")
    }
  }

  test("property: substringStats coverage equals direct token marking") {
    // The engine reconstructs duplicated-token coverage from sorted
    // dup-window positions as w + Σ min(gap, w) capped at n_tokens;
    // the reference marks covered token indices directly. A tiny
    // vocabulary maximizes window collisions; doc lengths straddle the
    // short-doc boundary (m < w → one whole-doc pseudo-window).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def draw[A](g: Gen[A], seed: Long, n: Int): Seq[A] = {
      var s = Seed(seed)
      (0 until n).map { _ =>
        val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
      }
    }
    val w = 4
    val gDoc = for {
      nw <- Gen.choose(1, 14)
      ts <- Gen.listOfN(nw, Gen.oneOf("a", "b"))
    } yield ts.mkString(" ")
    for (trial <- 0 until 3) {
      val docs = draw(gDoc, 7000L + trial, 30).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val got = graft.llm.Dedup.substringStats(
          docs.toDF("doc_id", "text"), "doc_id", "text", windowTokens = w)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toMap
      // reference: same window construction on strings, global count,
      // direct coverage marking
      val toksOf = docs.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+", -1).toSeq }.toMap
      val wins = docs.flatMap { case (id, _) =>
        val toks = toksOf(id)
        val starts = 0 until math.max(toks.length - (w - 1), 1)
        starts.map(p => (id, p, toks.slice(p, p + w).mkString(" ")))
      }
      val cnt = wins.groupBy(_._3).view.mapValues(_.size).toMap
      docs.foreach { case (id, _) =>
        val toks = toksOf(id)
        val n = toks.length
        val dups = wins.filter(x => x._1 == id && cnt(x._3) > 1).map(_._2)
        val covered = dups.flatMap(p => p until math.min(p + w, n)).toSet
        val (gn, gwin, gdup, gcov) = got(id)
        assert(gn == n.toLong, s"doc $id trial=$trial")
        assert(gwin == math.max(n - (w - 1), 1).toLong, s"doc $id")
        assert(gdup == dups.size.toLong, s"doc $id trial=$trial")
        assert(gcov == covered.size.toLong,
          s"doc $id trial=$trial dups=$dups n=$n")
      }
    }
  }

  test("property: random graphs — distributed components equal union-find across shapes") {
    // large-star/small-star's correctness argument is per-round edge
    // rewriting toward component minima; the shapes that stress it are
    // exactly the ones a generator mixes: long chains (worst case for
    // naive min-propagation), random sparse edges (irregular merge
    // order), and duplicate/reversed edges (canon() must collapse
    // them). The driver union-find is the oracle; labels must match
    // EXACTLY (same min-id labeling), not just partition-equivalently.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def draw[A](g: Gen[A], seed: Long, n: Int): Seq[A] = {
      var s = Seed(seed)
      (0 until n).map { _ =>
        val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
      }
    }
    val edge = for {
      a <- Gen.choose(0L, 40L); b <- Gen.choose(0L, 40L)
    } yield (a, b)
    for (trial <- 0 until 2) {
      val rand = draw(edge, 17L + trial, 45)
      val chain = (100L until 115L).map(i => (i, i + 1)) // diameter 15
      val dupsRev = rand.take(8).map(_.swap) // reversed duplicates
      val pairs = (rand ++ chain ++ dupsRev).toDF("id_a", "id_b")
      val local = Corpus.dupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Corpus.dupClusters(pairs, localMaxBytes = 0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"trial=$trial")
      // independent check of the labeling invariant: every label is
      // its component's minimum and a member of the component
      val comp = local.groupBy(_._2).view.mapValues(_.keys.toSet)
      comp.foreach { case (label, members) =>
        assert(members.min == label, s"trial=$trial label=$label")
      }
    }
  }

  test("weightedSample: A-ES keys favor heavy rows, deterministic, zero-weight excluded") {
    // one stratum, extreme weights: doc 1 weighs 10000x doc 2..4 —
    // with n=1 it must win for (almost) any uniform draw; verify the
    // winner IS the argmax of ln(u)/w computed independently here
    val d = Seq((1L, "s", 1000000L), (2L, "s", 100L), (3L, "s", 100L),
      (4L, "s", 100L), (5L, "s", 0L)).toDF("doc_id", "src", "w")
    def key(id: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:aes".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4503599627370496.0
      math.log(u) / (if (id == 1L) 1000000L else 100L)
    }
    val expectWinner = Seq(1L, 2L, 3L, 4L).maxBy(key)
    val got = Corpus.weightedSample(d, "src", "doc_id", "w", n = 1)
    val row = got.collect().head
    assert(row.getAs[Long]("doc_id") == expectWinner)
    assert(math.abs(row.getAs[Double]("aes_key") - key(expectWinner)) == 0.0,
      "engine key must equal the locally computed A-ES key bit-for-bit")
    // zero-weight rows can never be sampled
    assert(Corpus.weightedSample(d, "src", "doc_id", "w", n = 5)
      .filter(col("doc_id") === 5L).isEmpty)
    // fixture-wide: per-stratum counts capped at n, selection
    // deterministic across evaluations, and the kept set is the
    // top-n by key within each stratum (no cross-stratum leakage)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val s1 = Corpus.weightedSample(docs, "source", "doc_id", "n_chars", n = 7)
    val s2 = Corpus.weightedSample(docs, "source", "doc_id", "n_chars", n = 7)
    assert(s1.select("doc_id").except(s2.select("doc_id")).isEmpty)
    val perStratum = s1.groupBy("source").count().collect()
    assert(perStratum.forall(_.getLong(1) <= 7))
  }

  test("packSequences: boundary spans exact, sequences full, docs reassemble") {
    // L=8; token counts 5,4,7,2 -> starts 0,5,9,16. Doc 2 straddles the
    // first cut: 3 tokens close seq 0, 1 token opens seq 1.
    val d = Seq(
      (1L, "a0 a1 a2 a3 a4"),
      (2L, "b0 b1 b2 b3"),
      (3L, "c0 c1 c2 c3 c4 c5 c6"),
      (4L, "d0 d1"),
      (5L, "   ")).toDF("doc_id", "text")
    val segs = Corpus.packSequences(d, "doc_id", "text", seqLen = 8).collect()
      .map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("doc_offset"), r.getAs[Long]("n_seg_tokens"),
          r.getAs[String]("seg_text"))).toMap
    assert(segs == Map(
      (0L, 1L) -> (0L, 5L, "a0 a1 a2 a3 a4"),
      (0L, 2L) -> (0L, 3L, "b0 b1 b2"),
      (1L, 2L) -> (3L, 1L, "b3"),
      (1L, 3L) -> (0L, 7L, "c0 c1 c2 c3 c4 c5 c6"),
      (2L, 4L) -> (0L, 2L, "d0 d1")))
    // fixture-wide invariants: every sequence except the last holds
    // exactly seqLen tokens, and a doc's segments reassemble its
    // whitespace-split token stream in doc_offset order
    val docs = Tables.load(spark, dir, "documents")
    val packed = Corpus.packSequences(docs, "doc_id", "text", seqLen = 128)
    val bySeq = packed.groupBy("seq_id").agg(sum("n_seg_tokens").as("tot"))
      .collect().map(r => r.getAs[Long]("seq_id") -> r.getAs[Long]("tot")).toMap
    val lastSeq = bySeq.keys.max
    assert(bySeq.filter(_._1 != lastSeq).values.forall(_ == 128L))
    assert(bySeq(lastSeq) <= 128L && bySeq(lastSeq) > 0L)
    val rebuilt = packed
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("doc_offset"), col("seg_text")))),
        x => x.getField("seg_text")), " ").as("whole"))
    val orig = docs.select(col("doc_id"),
      array_join(regexp_extract_all(col("text"), lit("\\S+"), lit(0)), " ")
        .as("whole"))
      .filter(length(col("whole")) > 0)
    assert(rebuilt.except(orig).isEmpty && orig.except(rebuilt).isEmpty)
  }

  test("dupClusters: self-pairs dropped identically on both sides of the byte gate") {
    // (5,5) must not surface 5 as a singleton cluster in EITHER path —
    // previously the driver path emitted (5,5) while the distributed
    // path dropped it, so output depended on which side of the size
    // gate the input landed
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("id_a", "id_b")
    val local = Corpus.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Corpus.dupClusters(pairs, localMaxBytes = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == Map(1L -> 1L, 2L -> 1L), local.toString)
    assert(dist == local, s"$dist vs $local")
  }

  test("large-star/small-star: 10k-node chain converges in O(log n) rounds") {
    // the adversarial shape for min-label propagation: a chain has
    // diameter n, so label propagation needs ~n rounds; star
    // contraction must fold it in O(log n)
    val n = 10000
    val pairs = spark.range(0, n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (labels, rounds) = Corpus.bigStarClusters(pairs)
    assert(rounds <= 20, s"expected O(log n) rounds, took $rounds")
    val got = labels.collect()
    assert(got.length == n)
    assert(got.forall(_.getLong(1) == 0L), "single component rooted at 0")
  }

  test("reliable-checkpoint mode: same labels, survives losing every persisted block") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val n = 2000
    val pairs = spark.range(0, n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (labels, rounds) =
      TestSpark.withCheckpointDir(dir)(Corpus.bigStarClusters(pairs))
    assert(rounds <= 20)
    // rounds actually wrote reliable checkpoints to the dir
    val written = new java.io.File(dir).listFiles()
    assert(written != null && written.nonEmpty, s"no checkpoint data in $dir")
    // Simulate total storage loss (the thing an executor crash does to
    // localCheckpoint blocks): drop EVERY persisted RDD block, then
    // evaluate the result. Reliable checkpoints re-read from files, so
    // the labels must still come back complete and correct.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val got = labels.collect()
    assert(got.length == n)
    assert(got.forall(_.getLong(1) == 0L), "single component rooted at 0")
    // same answer as the default localCheckpoint mode
    val (viaLocal, _) = Corpus.bigStarClusters(pairs)
    assert(viaLocal.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .sameElements(got.map(r => (r.getLong(0), r.getLong(1))).sorted))
    // dupClusters pins the same way (big-path via byte gate 0)
    val viaDup = TestSpark.withCheckpointDir(dir)(
      Corpus.dupClusters(pairs, localMaxBytes = 0L).collect())
    assert(viaDup.length == n && viaDup.forall(_.getLong(1) == 0L))
  }

  test("dupClusters over lshPairs covers exactly the paired doc ids") {
    val docs = Tables.load(spark, dir, "documents")
    val pairs = Dedup.lshPairs(docs, "doc_id", "text").select("id_a", "id_b")
    val clustered = Corpus.dupClusters(pairs)
    val pairIds = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    assert(clustered.count() == pairIds.count())
    // every cluster label is a member of its own cluster
    val labels = clustered.select(col("cluster_id")).distinct()
    assert(labels.join(clustered.select(col("id").as("cluster_id")).distinct(),
      Seq("cluster_id"), "left_anti").isEmpty)
  }

  test("embedding near-dup pairs: symmetric-free, above threshold, deterministic") {
    val emb = Tables.load(spark, dir, "embeddings")
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.2, bits = 4)
      .collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.2))
  }

  test("property: tokenShards two-level prefix sum equals a single-threaded scan") {
    // The distributed machinery under test is the two-level prefix sum:
    // per-bucket window cumsum + the broadcast bucket-offset table.
    // A single-threaded walk in the SAME global order (bucket asc, then
    // md5-rank asc, then id) must land every doc at the identical shard
    // — any off-by-one in the offset join (e.g. counting the doc's own
    // tokens into its start) or a bucket-assignment mismatch between
    // the two windows shifts shard ids. Token counts are taken from the
    // engine's own output so the test isolates the prefix arithmetic.
    // buckets=4 forces many docs per bucket (offset pressure);
    // buckets=256 with 80 docs forces mostly-empty buckets.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def draw[A](g: Gen[A], seed: Long, n: Int): Seq[A] = {
      var s = Seed(seed)
      (0 until n).map { _ =>
        val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
      }
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((buckets, trial) <- Seq((4, 0), (16, 1), (256, 2))) {
      val docs = draw(Gen.choose(0, 12), 31L * buckets + trial, 80).zipWithIndex
        .map { case (nw, i) => (i.toLong, Seq.fill(nw)("w").mkString(" ")) }
      val out = Corpus.tokenShards(docs.toDF("doc_id", "text"),
          "doc_id", "text", tokensPerShard = 10L, buckets = buckets)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nTokens = out.map(r => r._1 -> r._2).toMap
      val ordered = docs.map(_._1).sortBy { id =>
        val h = md5hex(id.toString)
        (Integer.parseInt(h.substring(0, 2), 16) % buckets, h, id)
      }
      var cum = 0L
      val expect = ordered.map { id =>
        val start = cum; cum += nTokens(id); id -> start / 10L
      }.toMap
      out.foreach { case (id, _, shard) =>
        assert(shard == expect(id), s"doc $id buckets=$buckets trial=$trial")
      }
    }
  }

  test("effectiveTokens: fresh allocation is worth itself, repetition decays per Muennighoff") {
    import spark.implicits._
    // S1: 100 unique tokens, S2: 10; budget 40 split uniformly -> 20 each
    val docs = (
      (1 to 10).map(i => (i.toLong, "S1", ("w" + i + " ") * 10)) ++
      Seq((100L, "S2", ("x " * 10).trim))
    ).map { case (id, s, t) => (id, s, t.trim) }.toDF("doc_id", "source", "text")
    val out = Corpus.effectiveTokens(docs, "source", "text",
        budgetTokens = 40L).orderBy("source").collect()
    val s1 = out(0); val s2 = out(1)
    assert(s1.getAs[Long]("n_tokens") == 100L)
    assert(s2.getAs[Long]("n_tokens") == 10L)
    // S1: epochs 0.2 <= 1 -> every allocated token fresh, utilization 1
    assert(math.abs(s1.getAs[Double]("epochs") - 0.2) < 1e-12)
    assert(math.abs(s1.getAs[Double]("effective_tokens") - 20.0) < 1e-12)
    assert(math.abs(s1.getAs[Double]("utilization") - 1.0) < 1e-12)
    // S2: epochs 2 -> one repeat epoch, decayed by 1 - e^(-1/15.4)
    // (decimal-rounded at scale 12, HALF_UP — the engine's cast)
    assert(math.abs(s2.getAs[Double]("epochs") - 2.0) < 1e-12)
    val decay = BigDecimal(1.0 - math.exp(-1.0 / 15.4))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expectEff = 10.0 * (1.0 + 15.4 * decay)
    assert(math.abs(s2.getAs[Double]("effective_tokens") - expectEff) < 1e-12,
      s"got ${s2.getAs[Double]("effective_tokens")} expect $expectEff")
    assert(s2.getAs[Double]("utilization") < 1.0)
    // budget inside every source's unique tokens -> utilization 1 everywhere
    val small = Corpus.effectiveTokens(docs, "source", "text",
        budgetTokens = 10L).collect()
    assert(small.forall(r => math.abs(r.getAs[Double]("utilization") - 1.0) < 1e-12))
  }

  test("curriculumOrder: best-first within group, round-robin interleave, unique positions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "X", 5L), (2L, "X", 3L), (3L, "X", 1L),
      (4L, "Y", 9L), (5L, "Y", 2L)
    ).toDF("doc_id", "source", "score")
    val out = Corpus.curriculumOrder(docs, "doc_id", "source", "score")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3), r.getLong(4))))
      .toMap
    // X is group 0 (alphabetical), Y group 1; positions interleave
    assert(out(1L) == (("X", 1L, 1L)) && out(4L) == (("Y", 1L, 2L)))
    assert(out(2L) == (("X", 2L, 3L)) && out(5L) == (("Y", 2L, 4L)))
    assert(out(3L) == (("X", 3L, 5L)))
    assert(out.values.map(_._3).toSeq.distinct.size == 5, "positions unique")
    // fixture: positions stay unique corpus-wide and every prefix of
    // the order is group-balanced while all groups are live
    val fix = Tables.load(spark, dir, "documents")
    val ord = Corpus.curriculumOrder(fix, "doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(4), r.getString(1)))
    assert(ord.map(_._1).distinct.length == ord.length)
    val nSrc = ord.map(_._2).distinct.length
    val firstRound = ord.sortBy(_._1).take(nSrc).map(_._2)
    assert(firstRound.distinct.length == nSrc,
      "the first |sources| positions must hit every source once")
    // bestFirst=false reverses the within-group order
    val asc = Corpus.curriculumOrder(docs, "doc_id", "source", "score",
      bestFirst = false).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(asc(3L) == 1L && asc(1L) == 3L)
    // null group keys fail loudly (engine null-ordering divergence)
    val nullGrp = Seq((1L, Some("X"), 1L), (2L, None, 2L))
      .toDF("doc_id", "source", "score")
    val ex = intercept[Exception] {
      Corpus.curriculumOrder(nullGrp, "doc_id", "source", "score").collect()
    }
    assert(ex.getMessage.contains("non-null"))
  }

  test("kAnonymity: rare combos flagged, mass conserved, parameters validated") {
    import spark.implicits._
    val d = (Seq.fill(6)(("s1", "en")) ++ Seq.fill(2)(("s1", "fr")) ++
      Seq(("s2", "en"))).zipWithIndex
      .map { case ((s, l), i) => (i.toLong, s, l) }
      .toDF("doc_id", "source", "lang")
    val out = Corpus.kAnonymity(d, Seq("source", "lang"), k = 5L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(("s1", "en")) == ((6L, false)))
    assert(out(("s1", "fr")) == ((2L, true)))
    assert(out(("s2", "en")) == ((1L, true)))
    assert(out.values.map(_._1).sum == 9L, "every doc in exactly one combo")
    intercept[IllegalArgumentException] {
      Corpus.kAnonymity(d, Nil)
    }
    intercept[IllegalArgumentException] {
      Corpus.kAnonymity(d, Seq("source"), k = 1L)
    }
  }

  test("lDiversity: distinct counts, entropy, risky-first order") {
    import spark.implicits._
    val d = (Seq.fill(6)(("s1", "en")) ++ Seq.fill(2)(("s1", "fr")) ++
      Seq(("s2", "en"))).zipWithIndex
      .map { case ((s, l), i) => (i.toLong, s, l) }
      .toDF("doc_id", "source", "lang")
    val rows = Corpus.lDiversity(d, Seq("source"), "lang", l = 2L).collect()
    // risky-first: the single-language source leads
    assert(rows.map(_.getString(0)).toSeq == Seq("s2", "s1"))
    val bySrc = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(bySrc("s2") == ((1L, 1L, 0.0, true)))
    val (n1, d1, e1, r1) = bySrc("s1")
    assert(n1 == 8L && d1 == 2L && !r1)
    // H = -(0.75 ln 0.75 + 0.25 ln 0.25)
    val expected = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(e1 - expected) < 1e-9, s"entropy $e1 vs $expected")
    intercept[IllegalArgumentException] {
      Corpus.lDiversity(d, Nil, "lang")
    }
    intercept[IllegalArgumentException] {
      Corpus.lDiversity(d, Seq("source"), "lang", l = 1L)
    }
  }

  test("tCloseness: TVD vs global incl. absent values, worst-first order") {
    import spark.implicits._
    val d = (Seq.fill(6)(("s1", "en")) ++ Seq.fill(2)(("s1", "fr")) ++
      Seq(("s2", "en"))).zipWithIndex
      .map { case ((s, l), i) => (i.toLong, s, l) }
      .toDF("doc_id", "source", "lang")
    val rows = Corpus.tCloseness(d, Seq("source"), "lang", t = 0.1).collect()
    // worst-first: s2 (all-en vs global 7/9 en) leads
    assert(rows.map(_.getString(0)).toSeq == Seq("s2", "s1"))
    val bySrc = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // s2: |1 - 7/9| + |0 - 2/9| = 4/9 → tvd 2/9; fr contributes though absent
    assert(math.abs(bySrc("s2")._2 - 2.0 / 9) < 1e-9)
    assert(bySrc("s2")._1 == 1L && bySrc("s2")._3)
    // s1: |6/8 - 7/9| + |2/8 - 2/9| = 2/36 → tvd 1/36
    assert(math.abs(bySrc("s1")._2 - 1.0 / 36) < 1e-9)
    assert(!bySrc("s1")._3)
    intercept[IllegalArgumentException] {
      Corpus.tCloseness(d, Seq("source"), "lang", t = 0.0)
    }
  }

  test("stratifiedKFold: exactly balanced per stratum, deterministic, salt-sensitive") {
    val d = ((1L to 23L).map(i => (i, "en")) ++
      (100L to 104L).map(i => (i, "fr"))).toDF("doc_id", "lang")
    val out = Corpus.stratifiedKFold(d, "lang", "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // exact balance: fold sizes within a stratum differ by <= 1
    for ((_, rows) <- out.groupBy(_._2)) {
      val sizes = rows.groupBy(_._3).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"unbalanced: $sizes")
      assert(rows.map(_._3).forall(f => f >= 0 && f < 5))
    }
    // en: 23 docs -> folds sized {5,5,5,4,4}; fr: 5 docs -> one each
    assert(out.filter(_._2 == "fr").map(_._3).sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))
    // deterministic across invocations
    val again = Corpus.stratifiedKFold(d, "lang", "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a different salt reshuffles at least one assignment
    val salted = Corpus.stratifiedKFold(d, "lang", "doc_id", k = 5,
      salt = "other").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq != salted.sortBy(_._1).toSeq)
  }

  test("paddingWaste: hand-computed fractions, sorted batching never worse") {
    // one group, batch 2, lengths 1/1/9/9 (texts of n tokens):
    // sorted batches {9,9},{1,1} -> zero padding;
    // any order pairing a 1 with a 9 wastes 8 slots of 20
    val d = Seq((1L, "a"), (2L, "b"),
      (3L, Seq.fill(9)("w").mkString(" ")),
      (4L, Seq.fill(9)("v").mkString(" ")))
      .map { case (i, t) => (i, "g1", t) }
      .toDF("doc_id", "source", "text")
    val out = Corpus.paddingWaste(d, "source", "doc_id", "text",
      batchSize = 2, maxLen = 512).collect().head
    assert(out.getAs[Long]("n_docs") == 4L)
    assert(out.getAs[Double]("pad_frac_sorted") == 0.0)
    val arr = out.getAs[Double]("pad_frac_arrival")
    // arrival order is the md5 shuffle: either zero (lucky pairing)
    // or exactly 16/36
    assert(arr == 0.0 || math.abs(arr - 16.0 / 36.0) < 1e-15, s"arr=$arr")
    assert(out.getAs[Double]("saved_frac") == arr - 0.0)
    // truncation: a megadoc pads to the cap, not its own length
    val mega = Seq((1L, "g", "short doc"),
      (2L, "g", Seq.fill(50)("x").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val m = Corpus.paddingWaste(mega, "source", "doc_id", "text",
      batchSize = 2, maxLen = 10).collect().head
    // batch max = 10 (capped), lens 2 and 10 -> waste 8/20
    assert(math.abs(m.getAs[Double]("pad_frac_sorted") - 8.0 / 20.0) < 1e-15)
  }
}
