package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

class LlmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  private def docs = Tables.load(spark, dir, "documents")
  private def emb = Tables.load(spark, dir, "embeddings")

  /** The pre-r19 built-in-chain form of `Dedup.shingleHash`: the
    * independent reference the native kernel is pinned against. */
  private def shingleHashSql(x: org.apache.spark.sql.Column) =
    conv(substring(md5(x), 1, 15), 16, 10).cast("long")

  /** The pre-r19 higher-order-function form of `Dedup.hashedShingles`. */
  private def hashedShinglesHof(text: org.apache.spark.sql.Column, k: Int = 5) =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => shingleHashSql(text.substr(i, lit(k)))))

  test("exact dedup groups identical texts under one keeper") {
    import spark.implicits._
    val d = Seq((1L, "hello world"), (2L, "hello  world"), (3L, "bye"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(d, "doc_id", "text").collect()
    // whitespace-normalized: rows 1 and 2 collapse
    val grp = out.find(_.getAs[Long]("n_members") == 2L)
    assert(grp.isDefined && grp.get.getAs[Long]("keeper_id") == 1L)
    assert(out.length == 2)
  }

  test("lsh pairs find planted near-duplicates, survivors exclude them") {
    val pairs = Dedup.lshPairs(docs, "doc_id", "text").collect()
    assert(pairs.nonEmpty, "expected planted near-dups at sf0.001")
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5))
    val survivors = Dedup.lshSurvivors(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val dropped = pairs.map(_.getAs[Long]("id_b")).toSet
    assert(dropped.forall(d => !survivors.contains(d)))
    assert(survivors.size == docs.count() - dropped.size)
  }

  test("withLshPairs: loan result matches lshPairs, caches released after") {
    // direct (lazy-contract) call FIRST: its caches legitimately stay
    // pinned, so snapshot the persistent-RDD set after it and assert
    // the loan adds nothing beyond that baseline
    val direct = Dedup.lshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val loaned = Dedup.withLshPairs(docs, "doc_id", "text") { pairs =>
      pairs.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(loaned == direct)
    assert(loaned.nonEmpty)
    // unpersist is async — poll briefly
    val deadline = System.currentTimeMillis() + 10000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(leaked.isEmpty, s"withLshPairs leaked cached RDDs: $leaked")
  }

  test("minhash signature: HOF, explode/groupBy, and native expression forms value-identical") {
    import spark.implicits._
    val texts = Seq((1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"), (3L, "a different doc entirely"),
      (4L, "héllo wörld unicode ✓ text"), (5L, "tiny"))
    val df = texts.toDF("doc_id", "text")
    val viaColumn = df
      .select(col("doc_id"),
        concat_ws(",", Dedup.minhashSignature(Dedup.shingles(col("text")), 12)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaBulk = Dedup.minhashSignatures(
      df.select(col("doc_id").as("id"), Dedup.shingles(col("text")).as("sh")), 12)
      .select(col("id"), concat_ws(",", col("sig")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaExpr = df
      .select(col("doc_id"),
        concat_ws(",", graft.functions.MinHashSig.column(col("text"), 12)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaColumn == viaBulk)
    assert(viaColumn == viaExpr)
    assert(viaColumn(1L) == viaColumn(2L))
    assert(viaColumn(1L) != viaColumn(3L))
    assert(viaColumn(1L).split(",").length == 12)
  }

  test("simhash: identical texts same hash; disjoint vocab differs") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zq xw vv uu tt ss rr qq pp oo nn mm"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simhash16(col("text")).as("h"))
    val hs = d.collect().map(r => r.getLong(1))
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
    assert(hs.forall(h => h >= 0 && h < 65536))
  }

  test("native srp_bucket is value-identical to the flat Column formulation on real vectors") {
    val both = emb.select(
      Similarity.srpBucketFlat(col("embedding"), 8).as("flat"),
      Similarity.srpBucket(col("embedding"), 8).as("nat"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // null-array parity: the when/otherwise chain maps NULL to bucket 0
    val n = emb.limit(1).select(
      Similarity.srpBucketFlat(lit(null).cast("array<float>"), 8).as("flat"),
      Similarity.srpBucket(lit(null).cast("array<float>"), 8).as("nat"))
      .collect()(0)
    assert(n.getLong(0) == 0L && n.getLong(1) == 0L, n.toString)
  }

  test("native simhash16 is value-identical to the HOF formulation on real docs") {
    val both = docs.select(
      Dedup.simhash16(col("text")).as("hof"),
      graft.functions.SimHash1660.column(TextAnalysis.tokens(col("text")))
        .getField("sh16").as("nat"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("native md5prefix60 + hashed_shingles are value-identical (incl. order) to the SQL-chain HOF forms") {
    import spark.implicits._
    val edge = Seq((100001L, ""), (100002L, "ab"), (100003L, "héllo wörld ✓ unicode"),
      (100004L, "aaaaaaaaaa"), (100005L, "ababababab xy ababababab")).toDF("doc_id", "text")
    for (df <- Seq(docs.select(col("doc_id"), col("text")), edge)) {
      val both = df.select(
        shingleHashSql(col("text")).as("sqlh"),
        Dedup.shingleHash(col("text")).as("nath"),
        concat_ws(",", hashedShinglesHof(col("text"))).as("hof"),
        concat_ws(",", Dedup.hashedShingles(col("text"))).as("nat"))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(r.getLong(0) == r.getLong(1), r.toString)
        assert(r.getString(2) == r.getString(3), r.toString)
      }
    }
    // null-text parity: scalar hash → null; the shingle SET is the
    // one-element [null] array on BOTH paths (the HOF's
    // greatest(null,1)=1 window over a null slice)
    val n = docs.limit(1).select(
      shingleHashSql(lit(null).cast("string")).as("a"),
      Dedup.shingleHash(lit(null).cast("string")).as("b"),
      size(hashedShinglesHof(lit(null).cast("string"))).as("c"),
      size(Dedup.hashedShingles(lit(null).cast("string"))).as("d"),
      hashedShinglesHof(lit(null).cast("string")).getItem(0).as("e"),
      Dedup.hashedShingles(lit(null).cast("string")).getItem(0).as("f"))
      .collect()(0)
    assert(n.isNullAt(0) && n.isNullAt(1))
    assert(n.getInt(2) == 1 && n.getInt(3) == 1)
    assert(n.isNullAt(4) && n.isNullAt(5))
  }

  test("native simhash1660 sh60 equals the md5-nibble reference") {
    import spark.implicits._
    // bit j of the 60-bit fingerprint is bit (3 - j % 4) of hex char
    // j / 4 of md5(token), set when at least half the tokens vote for it
    def sh60Ref(toks: Seq[String]): Long = {
      val votes = new Array[Int](60)
      for (t <- toks) {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        for (j <- 0 until 60)
          if (((Character.digit(hex.charAt(j / 4), 16) >> (3 - j % 4)) & 1) == 1)
            votes(j) += 1
      }
      (0 until 60).foldLeft(0L)((acc, j) =>
        if (votes(j) * 2 >= toks.size) acc | (1L << j) else acc)
    }
    val edge = Seq((100001L, ""), (100002L, "one"),
      (100003L, "héllo wörld ✓ unicode mixed ascii")).toDF("doc_id", "text")
    for (df <- Seq(docs.select(col("doc_id"), col("text")), edge)) {
      val toks = TextAnalysis.tokens(col("text"))
      val rows = df.select(toks.as("toks"),
        graft.functions.SimHash1660.column(toks).getField("sh60").as("sh60"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getLong(1) == sh60Ref(r.getSeq[String](0)), r.toString)
      }
    }
  }

  test("quality classifier: in-engine GD separates planted classes, training is bit-deterministic") {
    import spark.implicits._
    import graft.llm.QualityClassifier
    val stop = Seq("the", "a", "of", "and", "is")
    // planted separable corpus: "english" docs are stopword-dense,
    // "other" docs have zero stopwords and longer tokens
    val docs = ((0 until 40).map { i =>
      (i.toLong, s"the cat $i is one of the best and the dog is a pal", "en")
    } ++ (40 until 80).map { i =>
      (i.toLong, s"zxqwv$i bbbbbbb ccccccc ddddddd eeeeeee fffffff ggggggg", "xx")
    }).toDF("doc_id", "text", "lang")
    val feat = QualityClassifier.features(
      docs, "doc_id", "text", col("lang") === "en", stop)
    val w1 = QualityClassifier.train(feat, iters = 10, lr = 1.0)
    val w2 = QualityClassifier.train(feat, iters = 10, lr = 1.0)
    // determinism to the last bit: decimal-exact gradient sums make
    // the training loop order-independent
    assert(w1.toSeq == w2.toSeq, s"${w1.toSeq} vs ${w2.toSeq}")
    val scored = QualityClassifier.score(feat, "doc_id", w1).collect()
    val acc = scored.count(r =>
      r.getBoolean(2) == (r.getDouble(3) == 1.0)).toDouble / scored.length
    assert(acc >= 0.95, s"accuracy $acc on a linearly separable corpus")
    // scoring is a zero-shuffle map over the feature frame
    val plan = QualityClassifier.score(feat, "doc_id", w1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("substring rewrite: first occurrence kept, later occurrence's span dropped, bystander untouched") {
    import spark.implicits._
    val span = (1 to 10).map(i => s"dup$i").mkString(" ") // 10-token span, > window=8
    val d = Seq(
      (1L, s"alpha beta gamma $span delta epsilon zeta eta theta"),
      (2L, s"one two three four five six seven $span eight nine ten eleven"),
      (3L, "totally unrelated words nobody repeats anywhere else here today"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDedupTexts(d, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 is the global first occurrence of every dup window: intact
    assert(out(1L)._2 == 0L, out(1L).toString)
    assert(out(1L)._3.contains("dup1") && out(1L)._3.contains("dup10"))
    // doc 2 loses exactly the 10 span tokens, keeps its own words
    assert(out(2L)._2 == 10L, out(2L).toString)
    assert(!out(2L)._3.contains("dup"), out(2L)._3)
    assert(out(2L)._3 == "one two three four five six seven eight nine ten eleven")
    // doc 3 shares no window: untouched
    assert(out(3L)._2 == 0L && out(3L)._3.startsWith("totally unrelated"))
  }

  test("url canonicalization maps spelling variants to one key, each rule exercised") {
    import spark.implicits._
    val cases = Seq(
      // fragment dropped; scheme/host lowered; www + :443 stripped;
      // trailing slash stripped; utm_* dropped; survivors sorted
      ("https://www.Example.COM:443/path/?utm_source=x&b=2&a=1#frag",
        "https://example.com/path?a=1&b=2"),
      // :80 stripped, double trailing slash stripped
      ("HTTP://example.com:80/a//", "http://example.com/a"),
      // NON-default port survives: https on :80 is a distinct endpoint
      ("https://example.com:80/a", "https://example.com:80/a"),
      ("http://example.com:443/a", "http://example.com:443/a"),
      // no query, no fragment: identity modulo nothing
      ("https://example.com/a", "https://example.com/a"),
      // tracking-only query disappears entirely (no dangling '?')
      ("https://example.com/a?utm_campaign=z&fbclid=1&gclid=2&ref=r",
        "https://example.com/a"),
      // 'referrer' is NOT 'ref' — prefix match must not overreach
      ("https://example.com/a?referrer=x", "https://example.com/a?referrer=x"),
      // root URL with bare trailing slash
      ("https://example.com/", "https://example.com"),
      // path/query case is preserved (only scheme+host fold)
      ("https://Example.com/CaseSensitive?Q=V",
        "https://example.com/CaseSensitive?Q=V"))
    val out = cases.map(_._1).toDF("url")
      .select(TextAnalysis.urlCanonicalize(col("url")).as("c"))
      .collect().map(_.getString(0))
    out.zip(cases).foreach { case (got, (in, want)) =>
      assert(got == want, s"canonicalize($in)") }
  }

  test("brute-force topk: k rows per query, descending cosine, no self") {
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 3).collect()
    assert(out.length == 15)
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    for ((q, rows) <- byQ) {
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      val cosines = sorted.map(_.getAs[Double]("cos"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
      assert(!rows.exists(_.getAs[Long]("vec_id") == q))
      assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  test("native vec_dot is bit-identical to the HOF formulation (float, double, mixed)") {
    import spark.implicits._
    // real float embeddings vs themselves and vs a double-widened copy
    val base = emb.select(col("vec_id"), col("embedding").as("f"),
      transform(col("embedding"), x => x.cast("double")).as("d"))
    val rows = base.select(
      Similarity.dot(col("f"), col("f")).as("nat_ff"),
      Similarity.dotHof(col("f"), col("f")).as("hof_ff"),
      Similarity.dot(col("f"), col("d")).as("nat_fd"),
      Similarity.dotHof(col("f"), col("d")).as("hof_fd"),
      Similarity.dot(col("d"), col("d")).as("nat_dd"),
      Similarity.dotHof(col("d"), col("d")).as("hof_dd")).collect()
    for (r <- rows; i <- Seq(0, 2, 4)) {
      // bit-exact, not approximate: same fold order, same widening
      assert(java.lang.Double.doubleToLongBits(r.getDouble(i)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(i + 1)), r.toString)
    }
    // null / length-mismatch semantics match zip_with padding
    val edge = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f), Array(2.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("nat"),
        Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(edge(0).isNullAt(0) && edge(0).isNullAt(1))
    assert(edge(1).getDouble(0) == 2.0 && edge(1).getDouble(1) == 2.0)
  }

  test("ann lsh results are a subset of same-bucket exact rescoring") {
    val ann = Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb, 3, bits = 2)
    val rows = ann.collect()
    // every returned neighbor must carry a valid cosine and rank ordering
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    for ((_, rs) <- byQ) {
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.zipWithIndex.forall { case (r, i) => r == i + 1 })
    }
  }

  test("incremental LSH: batch-vs-index pairs equal the full-corpus pairs touching the batch") {
    val docsAll = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val cut = 400L
    val existing = Dedup.signatureTable(docsAll.filter(col("doc_id") < cut), "doc_id", "text")
    val fresh = Dedup.signatureTable(docsAll.filter(col("doc_id") >= cut), "doc_id", "text")
    val incremental = Dedup.incrementalLshPairs(fresh, existing)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.lshPairs(docsAll, "doc_id", "text")
      .filter(col("id_a") >= cut || col("id_b") >= cut)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incremental == full,
      s"only-incremental=${incremental -- full}, only-full=${full -- incremental}")
    assert(full.nonEmpty) // the fixture plants near-dups across the cut
  }

  test("kmeans-trained IVF: k rows per query and nonzero recall vs exact") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val cents = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val ivf = Similarity.ivfTopK(queries, emb, 5, nlist = 8, nprobe = 3,
      centroids = Some(cents)).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.groupBy(_._1).forall(_._2.size <= 5))
    val recall = (ivf intersect exact).size.toDouble / exact.size
    assert(recall > 0.2, s"recall=$recall")
  }

  test("ivfTrainedTopK: one-prep fusion is value-identical to train-then-probe") {
    val queries = emb.filter(col("vec_id") < 5)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val cents = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      exactMeans = true)
    val twoCall = key(Similarity.ivfTopK(queries, emb, 5, nlist = 8,
      nprobe = 3, centroids = Some(cents)).collect())
    val fused = key(Similarity.ivfTrainedTopK(queries, emb, 5, nlist = 8,
      nprobe = 3, iters = 2, exactMeans = true).collect())
    assert(fused == twoCall)
  }

  test("ivfPqTrainedTopK: trained-coarse fusion equals ivfPqTopK given the same centroids") {
    val queries = emb.filter(col("vec_id") < 5)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val cents = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      exactMeans = true)
    val composed = key(Similarity.ivfPqTopK(queries, emb, 5, nlist = 8,
      nprobe = 2, centroids = Some(cents)).collect())
    val fused = key(Similarity.ivfPqTrainedTopK(queries, emb, 5, nlist = 8,
      nprobe = 2).collect())
    assert(fused == composed)
  }

  test("ivfPqTopK: k rows per query, results within probed lists, nonzero recall") {
    val queries = emb.filter(col("vec_id") < 5)
    val out = Similarity.ivfPqTopK(queries, emb, 5, nlist = 16, nprobe = 4)
      .collect()
    assert(out.nonEmpty)
    assert(out.groupBy(_.getLong(0)).forall(_._2.length <= 5))
    // ADC distances are approximate L2 — nonnegative up to fp noise
    assert(out.forall(_.getAs[Double]("d2") > -1e-9))
    // probe restriction is real: widening nprobe to nlist (= flat PQ
    // over all lists) can only improve or keep each query's top-1
    val restricted = out.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getLong(0) -> r.getAs[Double]("d2")).toMap
    val flat = Similarity.ivfPqTopK(queries, emb, 5, nlist = 16, nprobe = 16)
      .collect().filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getLong(0) -> r.getAs[Double]("d2")).toMap
    for ((q, d) <- flat) restricted.get(q).foreach(rd =>
      assert(rd >= d - 1e-9, s"query $q: probed top-1 $rd beat full-scan $d"))
    // recall vs the exact cosine baseline (ADC ranks by L2 over norm-
    // varying fixture vectors, so parity with cosine is loose by design)
    val exact = Similarity.bruteForceTopK(queries, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall > 0.1, s"recall=$recall")
  }

  test("ivfPq index: persisted probe is value-identical to the in-memory run") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.buildIvfPqIndex(emb, idx, nlist = 16)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Int]("rank"), r.getLong(2),
        r.getAs[Double]("d2"))).toSet
    val indexed = rows(Similarity.ivfPqTopKIndexed(spark, idx, queries,
      k = 5, nprobe = 2))
    val inMemory = rows(Similarity.ivfPqTopK(queries, emb, 5,
      nlist = 16, nprobe = 2))
    assert(indexed == inMemory,
      s"onlyIndexed=${indexed -- inMemory}, onlyInMemory=${inMemory -- indexed}")
    assert(indexed.nonEmpty)
    // the stored code table holds m ints per vector, never embeddings
    val codeCols = spark.read.parquet(s"$idx/codes").columns.toSet
    assert(codeCols == Set("cid", "vec_id", "codes"), codeCols.toString)
  }

  test("semDedup: planted clique keeps the most atypical member, loner untouched") {
    import spark.implicits._
    // 4-dim geometry: cluster A (seed id 0 = e1) holds a duplicate
    // chain 0≈2≈3≈4 whose middle member 3 is the closest to the
    // centroid. The keeper rule ("lowest cosine to centroid survives a
    // pair") drops the exact copy 2 (tie with 0 → higher id loses) and
    // the central 3 (loses BOTH its pairs), keeping the chain's two
    // extremes 0 and 4 — the paper's diversity-preserving behavior.
    // Cluster B (seed id 1 = e2) holds the non-duplicate 5
    // (cos(1,5) = 0.8 < tau) — both kept.
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(1f, 0f, 0f, 0f),
      3L -> Array(0.95f, 0.31f, 0f, 0f),
      4L -> Array(0.9f, 0.43f, 0f, 0f),
      5L -> Array(0.6f, 0.8f, 0f, 0f)).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
      tau = 0.95, k = 2, iters = 2, dims = 4).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(out.size == 6, "every input row comes back exactly once")
    assert(out.filter(_._2).keySet == Set(0L, 1L, 4L, 5L), s"kept=${out.filter(_._2).keySet}")
  }

  test("semDedup: exact-decimal training makes the full run repartition-invariant") {
    def runOn(v: org.apache.spark.sql.DataFrame) =
      Similarity.semDedup(v, "vec_id", "embedding", tau = 0.3, k = 8, iters = 2)
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
          r.getAs[Double]("cent_cos"), r.getAs[Boolean]("kept"))).toSet
    val base = runOn(emb)
    // bit-exact equality, not tolerance: centroid means go through the
    // decimal fold, so no shuffle order can move any double downstream
    assert(runOn(emb.repartition(7)) == base)
    val n = emb.count()
    assert(base.size == n && base.map(_._1).size == n)
    assert(base.exists(_._4) && base.exists(!_._4), "fixture yields a kept/dropped mix")
  }

  test("semDedup at realistic k≈√n: pair join keyed on cid, candidate volume bounded") {
    // the paper's scaling rule: grow k with the corpus so clusters stay
    // bounded (50k clusters at web scale). Here k = √n, the same ratio.
    val n = emb.count()
    val k = math.max(2, math.round(math.sqrt(n.toDouble)).toInt)
    val out = Similarity.semDedup(emb, "vec_id", "embedding",
      tau = 0.3, k = k, iters = 2)
    // plan shape: the duplicate-pair join is an EQUI-join keyed on the
    // cluster id — that key is what caps candidate volume at
    // Σ cluster² instead of corpus²
    val cidJoins = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name == "cid")) => j
    }
    assert(cidJoins.nonEmpty, "pair join must be keyed on cid")
    val rows = out.collect()
    assert(rows.length == n, "every input row comes back exactly once")
    val sizes = rows.groupBy(_.getAs[Long]("cid")).map(_._2.length.toLong).toSeq
    assert(sizes.size > 1, "realistic k must actually partition the space")
    // Σ cluster² — the pair-join candidate volume — must sit near the
    // balanced n²/k bound, far under the corpus² a flat all-pairs scan
    // would pay (8× slack absorbs fixture skew)
    val sumSq = sizes.map(s => s * s).sum
    assert(sumSq <= 8L * n * n / k,
      s"candidate volume $sumSq vs bound ${8L * n * n / k} (n=$n k=$k)")
    assert(rows.exists(_.getAs[Boolean]("kept")) &&
      rows.exists(r => !r.getAs[Boolean]("kept")))
  }

  test("int8Quantize: codes in [-127,127], error under half a step, constant dim -> 0") {
    import spark.implicits._
    val v = Seq(
      1L -> Array(0.0f, -1.0f, 5.0f, 2.5f),
      2L -> Array(1.0f, 1.0f, 5.0f, -2.5f),
      3L -> Array(0.5f, 3.0f, 5.0f, 0.0f)).toDF("vec_id", "embedding")
    val out = Similarity.int8Quantize(v, "vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[scala.collection.Seq[Int]]("codes"),
          r.getAs[Double]("max_abs_err"))).toMap
    assert(out.size == 3)
    // per-dim ranges: d0 [0,1], d1 [-1,3], d2 constant 5, d3 [-2.5,2.5]
    for ((_, (codes, err)) <- out) {
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(codes(2) == 0, "constant dim must encode to 0")
      // affine over 254 steps: reconstruction error <= half a step of
      // the widest range (5/254 here), with float-cast slack
      assert(err <= 0.5 * 5.0 / 254.0 + 1e-6, s"err=$err")
    }
    // range endpoints hit the extreme codes
    assert(out(1L)._1(0) == -127 && out(2L)._1(0) == 127)
    assert(out(2L)._1(3) == -127 && out(1L)._1(3) == 127)
  }

  test("blocklist: one AC pass over fixture docs equals per-pattern contains; null text propagates") {
    import spark.implicits._
    val pats = Seq("scan", "can", "slow join", "zebra")
    val got = TextAnalysis.blocklist(docs, "doc_id", "text", pats)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](1).toList).toMap
    val want = docs.select("doc_id", "text").collect().map { r =>
      val t = r.getString(1).toLowerCase(java.util.Locale.ROOT)
      r.getLong(0) -> pats.zipWithIndex.filter(p => t.contains(p._1)).map(_._2).toList
    }.toMap
    assert(got == want)
    assert(got.values.exists(_.contains(1)), "fail-chain emit: 'can' inside 'scan'")
    assert(got.values.forall(!_.contains(3)), "'zebra' must not match the fixture")
    val nulls = TextAnalysis.blocklist(
      Seq((1L, null: String), (2L, "a full scan")).toDF("doc_id", "text"),
      "doc_id", "text", pats).orderBy("doc_id").collect()
    assert(nulls(0).isNullAt(1))
    assert(nulls(1).getSeq[Int](1).toList == List(0, 1))
    // 100 TB shape: a scan rider — one narrow map, no exchange anywhere
    val plan = TextAnalysis.blocklist(docs, "doc_id", "text", pats)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklist must be zero-shuffle:\n${plan.take(800)}")
  }

  test("property: AC blocklist equals per-pattern contains on adversarial pattern sets") {
    // The Aho-Corasick failure-link construction is where multi-match
    // implementations break: patterns that are proper prefixes/suffixes
    // of each other, overlapping occurrences, single-char patterns. A
    // two-letter alphabet maximizes all three; the naive per-pattern
    // contains scan is the oracle.
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def draw[A](g: Gen[A], seed: Long, n: Int): Seq[A] = {
      var s = Seed(seed)
      (0 until n).map { _ =>
        val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
      }
    }
    val gStr = for {
      len <- Gen.choose(1, 4); cs <- Gen.listOfN(len, Gen.oneOf('a', 'b'))
    } yield cs.mkString
    val gText = for {
      len <- Gen.choose(0, 30); cs <- Gen.listOfN(len, Gen.oneOf('a', 'b'))
    } yield cs.mkString
    for (trial <- 0 until 3) {
      val pats = draw(gStr, 40L + trial, 8).distinct
      val texts = draw(gText, 4000L + trial, 40).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val got = TextAnalysis.blocklist(
          texts.toDF("doc_id", "text"), "doc_id", "text", pats)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](1).toList).toMap
      texts.foreach { case (id, t) =>
        val want = pats.zipWithIndex
          .filter(p => t.toLowerCase(java.util.Locale.ROOT).contains(p._1))
          .map(_._2).toList
        assert(got(id) == want, s"trial=$trial doc=$id text='$t' pats=$pats")
      }
    }
  }

  test("htmlToText: blocks dropped, tags stripped, entities decoded once, title found") {
    import spark.implicits._
    val html =
      """<HTML><head><TITLE>My  Page</TITLE>
        |<style type="text/css">body { color: red; }
        |h1 { x: y; }</style></head>
        |<body><h1 class="big">Hello</h1>
        |<script>if (1 < 2 && 3 > 0) { alert("</p>"); }</script>
        |<p>Fish &amp; chips &mdash; 1 &lt; 2, &amp;lt; stays, &quot;it&#39;s&quot;&nbsp;fine</p>
        |<!-- multi
        |line comment --><div
        |  data-x="1">split tag</div></body></HTML>""".stripMargin
    val out = TextAnalysis.htmlToText(
      Seq((1L, html), (2L, null: String)).toDF("doc_id", "html"),
      "doc_id", "html").orderBy("doc_id").collect()
    assert(out(0).getAs[String]("title") == "My  Page")
    // the script body's stray "</p>" string closes the script block at
    // the first </script>-free simplification level we DOCUMENT: the
    // non-greedy block regex ends at the real </script>; entities
    // decode exactly once (&amp;lt; -> &lt;, NOT <); unknown &mdash;
    // passes through verbatim
    assert(out(0).getAs[String]("text_clean") ==
      "Hello Fish & chips &mdash; 1 < 2, &lt; stays, \"it's\" fine split tag")
    assert(out(1).isNullAt(1) && out(1).isNullAt(2), "null html propagates")
    // scan rider: no exchange anywhere in the plan
    val plan = TextAnalysis.htmlToText(
      docs.select(col("doc_id"), col("text").as("html")), "doc_id", "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"htmlToText must be zero-shuffle")
  }

  test("tokenWindows: full coverage, overlap, short last chunk, integer chunk count") {
    import spark.implicits._
    val d = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 toks
      (2L, "a b c d"),                        // exactly one window
      (3L, "  \n\t "),                        // whitespace only -> dropped
      (4L, "x")                               // single token
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenWindows(d, "doc_id", "text",
      window = 4, stride = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens"))).toMap
    assert(!out.keys.exists(_._1 == 3L), "whitespace-only doc emits nothing")
    assert(out((4L, 0L)) == ("x", 1L))
    assert(out((2L, 0L)) == ("a b c d", 4L), "n == window emits exactly one chunk")
    assert(!out.contains((2L, 1L)))
    // 10 tokens, w=4, s=3: chunks at 0,3,6 — 6..9 covers the tail
    assert(out((1L, 0L)) == ("t0 t1 t2 t3", 4L))
    assert(out((1L, 1L)) == ("t3 t4 t5 t6", 4L), "w-s tokens of overlap")
    assert(out((1L, 2L)) == ("t6 t7 t8 t9", 4L))
    assert(!out.contains((1L, 3L)))
    // 11 tokens: last chunk short, never empty
    val o11 = TextAnalysis.tokenWindows(
      Seq((9L, (0 to 10).map("w" + _).mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", window = 4, stride = 3).collect()
    assert(o11.length == 4 && o11.map(_.getAs[Long]("n_tokens")).sorted.toSeq
      == Seq(2L, 4L, 4L, 4L))
    // fixture-wide invariant: chunk count follows the integer formula
    val counts = TextAnalysis.tokenWindows(docs, "doc_id", "text", 64, 48)
      .groupBy("doc_id").count()
      .join(docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n")), "doc_id")
      .collect()
    assert(counts.nonEmpty)
    for (r <- counts) {
      val n = r.getAs[Int]("n"); val c = r.getAs[Long]("count")
      val want = if (n <= 64) 1L else 1L + (n - 64 + 47) / 48
      assert(c == want, s"doc ${r.getAs[Long]("doc_id")}: n=$n chunks=$c")
    }
  }

  test("pq: dense codebook, bounded codes, ADC equals reconstruction L2") {
    val books = Similarity.pqTrain(emb, m = 4, ksub = 8, iters = 2)
    assert(books.count() == 32, "dense m×ksub codebook")
    val bk = books.collect().map(r => (r.getAs[Int]("sub"), r.getAs[Int]("cid"))
      -> r.getSeq[Double](2)).toMap
    val codes = Similarity.pqEncode(emb, books).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 8)))
    // ADC is m table lookups, but it must EQUAL the L2² between the
    // query and the decoded (reconstructed) vector — the PQ contract
    val q42 = emb.filter(col("vec_id") === 42).collect()(0)
      .getSeq[Float](1).map(_.toDouble)
    val top = Similarity.pqTopK(emb.filter(col("vec_id") === 42), emb, 10).collect()
    assert(top.length == 10)
    for (r <- top) {
      val rec = (0 until 4).flatMap(s => bk((s, codes(r.getAs[Long]("vec_id"))(s))))
      val want = q42.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum
      val got = r.getAs[Double]("d2")
      assert(math.abs(got - want) <= 1e-9 * math.max(1.0, want.abs),
        s"vec ${r.getAs[Long]("vec_id")}: adc=$got recon=$want")
    }
  }

  test("pq: exact copy shares codes and reaches the ADC floor; duplicate seed leaves a kept empty cell") {
    import spark.implicits._
    val extra = emb.filter(col("vec_id") === 7)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).union(extra)
    val books = Similarity.pqTrain(corpus)
    val codes = Similarity.pqEncode(corpus, books).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(codes(9999L) == codes(7L), "identical vectors must encode identically")
    // the copy's codes are the query's own per-sub argmins, so its ADC
    // distance is the global floor — rank 1 carries exactly that d2
    val top = Similarity.pqTopK(corpus.filter(col("vec_id") === 9999), corpus,
      corpus.count().toInt).collect()
    val d1 = top.filter(_.getAs[Int]("rank") == 1).head.getAs[Double]("d2")
    val dCopy = top.filter(_.getAs[Long]("vec_id") == 7L).head.getAs[Double]("d2")
    assert(d1 == dCopy)
    // duplicate seeds: every assignment tie-breaks to the lower cid, so
    // the higher seed's cell empties — it must KEEP its seed centroid
    // (dense codebook), and the run must stay consistent end-to-end
    val vs = Seq(
      0L -> Array(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f),
      1L -> Array(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f, 1f, 0f, 0f, 0f),
      3L -> Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f),
      4L -> Array(0.9f, 0.1f, 0f, 0f, 0f, 0.9f, 0.1f, 0f),
      5L -> Array(0f, 0.9f, 0.1f, 0f, 0.9f, 0f, 0f, 0.1f),
      6L -> Array(0f, 0f, 0.9f, 0.1f, 0.1f, 0f, 0.9f, 0f),
      7L -> Array(0.5f, 0.5f, 0f, 0f, 0f, 0.5f, 0.5f, 0f)
    ).toDF("vec_id", "embedding")
    val tiny = Similarity.pqTrain(vs, m = 2, ksub = 4, iters = 2, dims = 8)
    assert(tiny.count() == 8, "empty cell kept, codebook stays m×ksub")
    val t = Similarity.pqTopK(vs.filter(col("vec_id") === 0), vs, 3,
      m = 2, ksub = 4, iters = 2, dims = 8).collect()
    assert(t.head.getAs[Long]("vec_id") == 1L, "the exact duplicate ranks first")
  }

  test("pq: full run bit-identical under repartition") {
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(c.filter(col("vec_id") < 10), c, 5).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("d2"))).toSet
    assert(run(emb.repartition(7)) == run(emb))
  }

  test("persisted IVF index: indexed probe equals in-memory IVF, scan prunes to lists") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.buildIvfIndex(emb, idx, k = 8, iters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    val viaIndex = Similarity.ivfTopKIndexed(spark, idx, queries, 5, nprobe = 3)
    val cents = spark.read.parquet(s"$idx/centroids")
    val viaMemory = Similarity.ivfTopK(queries, emb, 5, nlist = 8, nprobe = 3,
      centroids = Some(cents)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = viaIndex.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == viaMemory)
    // list-partitioned layout: the assignment scan is partition-filtered
    // by cid after the probe join (dynamic pruning or join-side filter)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("cid"), plan.take(1500))
  }

  test("count-min: est >= exact, and exact when width >> distinct keys") {
    import spark.implicits._
    val df = Seq.fill(10)("a").toDF("k")
      .unionAll(Seq.fill(3)("b").toDF("k"))
      .unionAll(Seq("c").toDF("k"))
    val sketch = llm.CountMin.build(df, col("k"), depth = 4, width = 64)
    val est = llm.CountMin.estimate(sketch, df.select(col("k")).distinct(), "k",
      depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 3 keys in 64 buckets x 4 rows: collisions essentially impossible
    assert(est == Map("a" -> 10L, "b" -> 3L, "c" -> 1L), est.toString)
  }

  test("multi-probe SRP: recall at least matches single-probe") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      (df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        intersect exact).size.toDouble / exact.size
    val single = recall(Similarity.lshTopK(queries, emb, 3, bits = 4))
    val multi = recall(Similarity.lshTopKMultiProbe(queries, emb, 3, bits = 4))
    assert(multi >= single, s"multi=$multi single=$single")
    assert(multi > 0.0)
  }

  test("histogram sketch: estimates within one bucket width of exact; state merges") {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val (lo, hi, bins) = (0.0, 110000.0, 64)
    val est = llm.HistogramSketch.estimate(li, "l_extendedprice", "l_returnflag",
      lo, hi, bins, Seq("p50" -> 0.5, "p90" -> 0.9)).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val width = (hi - lo) / bins
    for (flag <- est.keys) {
      val exact = li.filter(col("l_returnflag") === flag)
        .stat.approxQuantile("l_extendedprice", Array(0.5, 0.9), 0.0)
      assert(math.abs(est(flag)._1 - exact(0)) <= width, s"$flag p50")
      assert(math.abs(est(flag)._2 - exact(1)) <= width, s"$flag p90")
    }
    // mergeable state: building on two halves and adding counters
    // equals building once
    val whole = llm.HistogramSketch.build(li, "l_extendedprice", "l_returnflag",
      lo, hi, bins)
    val halves = llm.HistogramSketch.build(li.filter(col("l_orderkey") % 2 === 0),
        "l_extendedprice", "l_returnflag", lo, hi, bins)
      .unionAll(llm.HistogramSketch.build(li.filter(col("l_orderkey") % 2 === 1),
        "l_extendedprice", "l_returnflag", lo, hi, bins))
      .groupBy("grp", "bucket").agg(sum(col("cnt")).as("cnt"))
    val a = whole.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val b = halves.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(a == b)
  }

  test("langId picks the marked language deterministically") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat and the dog is a pet"),
      (2L, "der hund und die katze ist das tier"),
      (3L, "xyz qrs tuv")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
    val got = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en"); assert(got(2L) == "de"); assert(got(3L) == "und")
  }

  test("tfidf: tf counts in-doc occurrences, df counts docs with the term") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdf(docs, "doc_id", "text")
      .select("doc_id", "term", "tf", "df", "n_docs").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got((1L, "a")) == ((2L, 2L, 2L)))
    assert(got((1L, "b")) == ((1L, 1L, 2L)))
    assert(got((2L, "c")) == ((1L, 1L, 2L)))
  }

  test("bm25: rare-term match outranks common-term match, k bound holds") {
    import spark.implicits._
    // 'rare' appears in one doc, 'common' in all four; BM25's idf must
    // rank the rare-term hit first for a query containing both.
    val corpus = Seq(
      (1L, "rare common filler words here"),
      (2L, "common filler words here again"),
      (3L, "common words and more common words"),
      (4L, "common filler")).toDF("doc_id", "text")
    val queries = Seq((1L, "rare common")).toDF("query_id", "query_text")
    val got = TextAnalysis.bm25TopK(corpus, queries, "doc_id", "text", k = 3)
      .orderBy("rank").collect()
    assert(got.length == 3, "k bound")
    assert(got.head.getAs[Long]("doc_id") == 1L,
      "rare-term doc must rank first")
    assert(got.head.getAs[Long]("n_terms") == 2L)
    assert(got.map(_.getAs[Double]("score")).sliding(2)
      .forall(p => p(0) >= p(1)), "scores descend with rank")
    assert(got.forall(_.getAs[Double]("score") > 0.0))
  }

  test("bm25: out-of-vocabulary terms contribute nothing; all-OOV query returns no rows") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val queries = Seq(
      (1L, "alpha zzz_unseen"), (2L, "qqq_unseen zzz_unseen"))
      .toDF("query_id", "query_text")
    val got = TextAnalysis.bm25TopK(corpus, queries, "doc_id", "text", k = 5)
      .collect()
    // query 1: only 'alpha' matches (doc 1); the unseen term adds no
    // score and no candidate. query 2: nothing matches → zero rows,
    // not a null-scored explosion.
    assert(got.forall(_.getAs[Long]("query_id") == 1L))
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
    assert(got.head.getAs[Long]("n_terms") == 1L)
  }

  test("bm25: shorter doc outranks longer at equal tf (length norm)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "target alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "target alpha beta")).toDF("doc_id", "text")
    val queries = Seq((1L, "target")).toDF("query_id", "query_text")
    val got = TextAnalysis.bm25TopK(corpus, queries, "doc_id", "text", k = 2)
      .orderBy("rank").collect()
    assert(got.head.getAs[Long]("doc_id") == 2L,
      "shorter doc wins at equal tf")
  }

  test("bigrams: consecutive pairs only, single-token docs contribute none") {
    import spark.implicits._
    val docs = Seq(("x y z"), ("x y"), ("solo")).toDF("text")
    val got = TextAnalysis.bigramCounts(docs, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("x y" -> 2L, "y z" -> 1L))
  }

  test("text stats: token count and ratios on a known string") {
    import spark.implicits._
    val d = Seq((1L, "The quick, brown fox!")).toDF("doc_id", "text")
      .select(
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.punctCount(col("text")).as("p"),
        TextAnalysis.regexTokenCount(col("text")).as("b"))
    val r = d.collect()(0)
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("p") == 2L)  // ',' and '!'
    assert(r.getAs[Long]("b") == 6L)  // 4 words + 2 symbols
  }

  test("gopher repetition stats: degenerate docs flagged, diverse docs pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam eggs"), // one token dominates
      (2L, "to be or not to be that is the question"),           // diverse
      (3L, "one two one two one two one two one two"),           // repeated phrase
      (4L, "lonely")                                             // single token: no bigrams
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionStats(docs, "doc_id", "text").collect()
    assert(rows.length == 4, "short docs must not be silently dropped")
    val got = rows.map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("top_token_frac"),
          Option(r.getAs[java.lang.Double]("dup_bigram_frac")),
          r.getAs[Boolean]("repetition_flagged"))).toMap
    assert(got(1L)._1 == 0.9 && got(1L)._3, got(1L).toString)
    assert(!got(2L)._3, got(2L).toString)
    // doc 3: 9 bigrams, only 2 distinct -> dup fraction 7/9
    assert(got(3L)._2.exists(_ > 0.7) && got(3L)._3, got(3L).toString)
    // doc 4: 1 token = 100% top-token (flagged), NULL bigram stats
    assert(got(4L)._1 == 1.0 && got(4L)._2.isEmpty && got(4L)._3, got(4L).toString)
  }

  test("contamination: planted n-gram overlap found, clean docs absent") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),  // shares a 4-gram with eval
      (11L, "one two three four five six seven")     // clean
    ).toDF("doc_id", "text")
    val eval = Seq(
      (900L, "prefix words then alpha beta gamma delta and more")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.contaminatedDocs(corpus, eval, "doc_id", "text", n = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shared_ngrams")).toMap
    assert(got == Map(10L -> 1L), got.toString)
  }

  test("contamination fast path: codegen'd set-membership equals the join formulation") {
    val corpus = docs.filter(col("doc_id") % 40 =!= 0)
    val eval = docs.filter(col("doc_id") % 40 === 0)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shared_ngrams")).toMap
    val viaJoin = toMap(TextAnalysis.contaminatedDocs(corpus, eval, "doc_id", "text", n = 4))
    val viaExpr = toMap(TextAnalysis.contaminatedDocsFast(corpus, eval, "doc_id", "text", n = 4))
    assert(viaJoin.nonEmpty && viaExpr == viaJoin,
      s"join=${viaJoin.size} expr=${viaExpr.size}")
  }

  test("c4 filters: each line and page rule fires on its planted case") {
    import spark.implicits._
    val d = Seq(
      // 1: all three lines clean and terminal-punctuated -> kept
      (1L, "the cat sat down.\nthe dog ran fast!\nbirds can fly high?"),
      // 2: line 2 has no terminal punct, line 3 too short -> 1 kept line -> page dropped
      (2L, "a good first line.\nno terminal punctuation here\ntoo short."),
      // 3: javascript line removed -> below min kept lines -> dropped
      (3L, "click here javascript needed.\nthe rest is fine.\nanother good line here."),
      // 4: lorem ipsum page-level removal despite clean lines
      (4L, "lorem ipsum dolor sit.\nthe cat sat down.\nthe dog ran fast.\nbirds can fly."),
      // 5: curly brace page-level removal
      (5L, "function f() {\nthe cat sat down.\nthe dog ran fast.\nbirds can fly.")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Stats(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_kept_lines"), r.getAs[Boolean]("c4_kept"))).toMap
    assert(got(1L) == (3L, true), got(1L).toString)
    assert(got(2L) == (1L, false), got(2L).toString)
    assert(got(3L) == (2L, false), got(3L).toString)
    assert(got(4L)._2 == false && got(4L)._1 == 4L, got(4L).toString)
    assert(got(5L)._2 == false, got(5L).toString)
    val clean = TextAnalysis.c4Clean(d, "doc_id", "text").collect()
    assert(clean.length == 1 && clean.head.getAs[Long]("doc_id") == 1L)
    assert(clean.head.getAs[String]("clean_text") ==
      "the cat sat down.\nthe dog ran fast!\nbirds can fly high?")
  }

  test("c4 native kernel reproduces the Column formulation bit-for-bit (incl. edges)") {
    import spark.implicits._
    val edge = Seq(
      (10L, "plain clean line here.\nsecond good line too!\na third one, yes?"),
      (11L, ""),                                   // empty page -> 1 empty line
      (12L, "trailing newline keeps empty.\n"),    // split keeps trailing ""
      (13L, "  padded with spaces.  \n\ttab-led line stays untrimmed.\n"),
      (14L, "ends with CR.\r\nwindows line two!\r"), // \r survives trim
      (15L, "café résumé voilà.\nJAVASCRIPT upper gets lowered.\nunicode 世界 line kept?"),
      (16L, "one.\n\n\nthree.\nfive words make this fine."),
      (17L, "a.\nb!\nc?"),                          // kept lines below minWords
      (18L, "\"quoted line passes here.\"\n'single quotes do not pass'")
    ).toDF("doc_id", "text")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(200).union(edge.toDF())
    val native = TextAnalysis.c4Stats(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val cols = TextAnalysis.c4StatsColumns(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(native == cols)
  }

  test("lm perplexity: hand-computed bigram LM on a tiny corpus; short docs kept") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b"),   // bigrams: ab, ba, ab
      (2L, "a b c"),     // ab, bc
      (3L, "z")          // no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lmPerplexity(d, "doc_id", "text", flagAbove = 3.0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // corpus: c(a)=3 c(b)=3 c(c)=1 c(z)=1, V=4
    // c(ab)=3 c(ba)=1 c(bc)=1
    // P(b|a)=(3+1)/(3+4)=4/7; P(a|b)=(1+1)/(3+4)=2/7; P(c|b)=2/7
    val pAB = 4.0 / 7; val pBA = 2.0 / 7; val pBC = 2.0 / 7
    val d1 = (-math.log(pAB) - math.log(pBA) - math.log(pAB)) / 3
    val d2 = (-math.log(pAB) - math.log(pBC)) / 2
    assert(got(1L).getAs[Long]("n_bigrams") == 3L)
    assert(math.abs(got(1L).getAs[Double]("avg_neg_logprob") - d1) < 1e-9)
    assert(math.abs(got(2L).getAs[Double]("avg_neg_logprob") - d2) < 1e-9)
    // perplexity = exp(score); doc 2 contains the rare c -> higher ppl
    assert(got(2L).getAs[Double]("perplexity") > got(1L).getAs[Double]("perplexity"))
    // short doc present with NULL scores, never flagged
    assert(got.contains(3L) && got(3L).isNullAt(got(3L).fieldIndex("perplexity")))
    assert(!got(3L).getAs[Boolean]("perplexity_flagged"))
    assert(got(3L).getAs[Long]("n_bigrams") == 0L)
  }

  test("backoffScore: held-out stupid backoff matches a single-threaded reference") {
    import spark.implicits._
    // deterministic synthetic corpus: shared pool + id-specific rare
    // tokens so held-out docs contain bigrams the train split missed
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps")
    val rows = (1L to 60L).map { id =>
      val toks = (0 until 8).map(j => pool(((id * 7 + j * 3) % 5).toInt)) :+
        s"rare$id" :+ pool((id % 5).toInt)
      (id, toks.mkString(" "))
    }
    val got = TextAnalysis.backoffScore(rows.toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    // reference: same md5-bucket split, same formula, plain Scala
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 100
    }
    val (train, held) = rows.partition { case (id, _) => bucket(id) < 80 }
    assert(held.nonEmpty && train.nonEmpty)
    val trainToks = train.flatMap(_._2.split("\\s+"))
    val ca = trainToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = trainToks.size.toLong
    val v = ca.size.toLong
    val cab = train.flatMap(_._2.split("\\s+").sliding(2).map(w => (w(0), w(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var sawBackoff = false
    held.foreach { case (id, text) =>
      val bgs = text.split("\\s+").sliding(2).map(w => (w(0), w(1))).toSeq
      val scores = bgs.map { bg =>
        cab.get(bg) match {
          case Some(c) => c.toDouble / ca(bg._1)
          case None => 0.4 * (ca.getOrElse(bg._2, 0L) + 1).toDouble / (n + v)
        }
      }
      val nBack = bgs.count(bg => !cab.contains(bg))
      if (nBack > 0) sawBackoff = true
      val r = got(id)
      assert(r.getAs[Long]("n_bigrams") == bgs.size.toLong, s"doc $id")
      assert(r.getAs[Long]("n_backoff") == nBack.toLong, s"doc $id backoff")
      val want = scores.map(s => -math.log(s)).sum / bgs.size
      assert(math.abs(r.getAs[Double]("avg_neg_logscore") - want) < 1e-9,
        s"doc $id score")
      assert(math.abs(r.getAs[Double]("backoff_rate")
        - nBack.toDouble / bgs.size) < 1e-12)
    }
    assert(sawBackoff, "fixture should exercise the backoff branch")
    assert(got.keySet == held.map(_._1).toSet,
      "exactly the held-out docs are scored")
  }

  test("winsorStats: hand-computed clamped/trimmed means on a skewed group") {
    import spark.implicits._
    // values 1..9 plus a 1000 outlier; p05/p95 via linear interpolation
    val vals = (1L to 9L) :+ 1000L
    val d = vals.map(v => ("g", v)).toDF("grp", "v")
    val got = TextAnalysis.winsorStats(d, "grp", "v", 0.05, 0.95)
      .collect().head
    // sorted: 1..9,1000; p05 = 1 + 0.45*(2-1) = 1.45
    // p95 = idx 8.55 -> 9 + 0.55*(1000-9) = 554.05
    assert(math.abs(got.getAs[Double]("p_lo") - 1.45) < 1e-9)
    assert(math.abs(got.getAs[Double]("p_hi") - 554.05) < 1e-9)
    assert(got.getAs[Long]("n") == 10L && got.getAs[Long]("n_clipped") == 2L)
    val winsor = (1.45 + (2 to 9).sum + 554.05) / 10
    val trimmed = (2 to 9).sum.toDouble / 8
    assert(math.abs(got.getAs[Double]("mean_winsor") - winsor) < 1e-9)
    assert(math.abs(got.getAs[Double]("mean_trimmed") - trimmed) < 1e-9)
    assert(math.abs(got.getAs[Double]("mean_raw") - vals.sum.toDouble / 10) < 1e-9)
    // the robust pair sits far below the raw mean on this fixture
    assert(got.getAs[Double]("mean_trimmed") < got.getAs[Double]("mean_raw"))
  }

  test("sourceOverlap: hand-computed jaccard/containment on planted shingle sets") {
    import spark.implicits._
    // srcA shingles {a b c, b c d}; srcB {a b c, b c d, c d e} (superset);
    // srcC {x y z} (disjoint); within-source duplicates collapse
    val d = Seq(
      ("A", "a b c d"), ("A", "a b c"), // A: {abc, bcd} (dup abc collapses)
      ("B", "a b c d e"),               // B: {abc, bcd, cde}
      ("C", "x y z")                    // C: {xyz}
    ).toDF("source", "text")
    val out = TextAnalysis.sourceOverlap(d, "source", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // only the (A, B) pair shares shingles; C is disjoint from both
    assert(out.keySet == Set(("A", "B")))
    val ab = out(("A", "B"))
    assert(ab.getAs[Long]("n_a") == 2L && ab.getAs[Long]("n_b") == 3L)
    assert(ab.getAs[Long]("shared") == 2L)
    assert(math.abs(ab.getAs[Double]("jaccard") - 2.0 / 3) < 1e-15)
    assert(math.abs(ab.getAs[Double]("containment") - 1.0) < 1e-15,
      "A is contained in B")
  }

  test("oovRate: matches a single-threaded reference per n-gram order") {
    import spark.implicits._
    val pool = Vector("red", "blue", "green", "gold")
    val rows = (1L to 50L).map { id =>
      val toks = (0 until 6).map(j => pool(((id * 5 + j * 7) % 4).toInt)) :+
        s"uniq$id"
      (id, toks.mkString(" "))
    }
    val got = TextAnalysis.oovRate(rows.toDF("doc_id", "text"),
      "doc_id", "text", maxN = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 100
    }
    val (train, held) = rows.partition { case (id, _) => bucket(id) < 80 }
    for (k <- 1 to 2) {
      def grams(t: String) = t.split("\\s+").sliding(k).map(_.mkString(" ")).toSeq
      val seen = train.flatMap(r => grams(r._2)).toSet
      val heldGrams = held.flatMap(r => grams(r._2))
      val oov = heldGrams.count(g => !seen.contains(g))
      assert(got(k.toLong) == ((heldGrams.size.toLong, oov.toLong)),
        s"order $k")
    }
    // the per-doc unique token makes order-1 OOV strictly positive
    assert(got(1L)._2 > 0L)
  }

  test("hapaxStats and logNormalFit: hand-computed per-group values") {
    import spark.implicits._
    val d = Seq(
      ("s1", "a a b c"),  // s1 terms: a:2 b:1 c:1 -> hapax 2, dis 0
      ("s1", "b d"),      //   merged: a:2 b:2 c:1 d:1 -> hapax 2, dis 2
      ("s2", "x")
    ).toDF("source", "text")
    val h = TextAnalysis.hapaxStats(d, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(h("s1").getAs[Long]("n_tokens") == 6L)
    assert(h("s1").getAs[Long]("n_terms") == 4L)
    assert(h("s1").getAs[Long]("n_hapax") == 2L)
    assert(h("s1").getAs[Long]("n_dis") == 2L)
    assert(math.abs(h("s1").getAs[Double]("hapax_ratio") - 0.5) < 1e-15)
    assert(h("s2").getAs[Long]("n_hapax") == 1L)

    val v = Seq(("g", 10L), ("g", 100L), ("g", 1000L), ("g", 0L))
      .toDF("grp", "v")
    val f = TextAnalysis.logNormalFit(v, "grp", "v").collect().head
    assert(f.getAs[Long]("n") == 3L && f.getAs[Long]("n_nonpos") == 1L)
    val ls = Seq(10.0, 100.0, 1000.0).map(math.log)
    val mu = ls.sum / 3
    val sig = math.sqrt(ls.map(x => x * x).sum / 3 - mu * mu)
    assert(math.abs(f.getAs[Double]("mu_log") - mu) < 1e-9)
    assert(math.abs(f.getAs[Double]("sigma_log") - sig) < 1e-9)
    assert(math.abs(f.getAs[Double]("median_fit") - math.exp(mu)) < 1e-6)
  }

  test("dedupSavings: token mass conserved and keeper-consistent on the fixture") {
    val d = docs
    val out = Dedup.dedupSavings(d, "doc_id", "text", "source", "n_chars")
      .collect()
    val totTokens = d.select(
      sum(size(TextAnalysis.tokens(col("text")))).cast("long"))
      .collect().head.getLong(0)
    assert(out.map(_.getAs[Long]("n_tokens")).sum == totTokens)
    assert(out.map(_.getAs[Long]("n_docs")).sum == d.count())
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_kept_docs") <= r.getAs[Long]("n_docs"))
    }
    // keeper count must equal clusterKeepers' kept count
    val kept = Dedup.clusterKeepers(d, "doc_id", "text", "n_chars")
      .filter(col("kept")).count()
    assert(out.map(_.getAs[Long]("n_kept_docs")).sum == kept)
    // the fixture has planted dups -> some group loses token mass
    assert(out.exists(_.getAs[Double]("dup_token_frac") > 0.0))
  }

  test("clusterSizeDist: histogram mass equals the corpus, sizes match dupClusters") {
    val d = docs
    val hist = Dedup.clusterSizeDist(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every doc appears exactly once across the histogram
    assert(hist.values.map(_._2).sum == d.count())
    hist.foreach { case (sz, (nc, nd)) => assert(nd == sz * nc, s"size $sz") }
    // non-singleton rows replay dupClusters' size distribution
    val ref = Dedup.withLshPairs(d, "doc_id", "text") { p =>
      graft.llm.Corpus.dupClusters(p).groupBy("cluster_id").count()
        .groupBy("count").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    ref.foreach { case (sz, nc) =>
      assert(hist(sz)._1 == nc, s"size $sz clusters") }
    assert(hist.contains(1L) && hist(1L)._1 > 0, "singletons present")
  }

  test("sourceConcentration: hand-computed HHI; uniform corpus maxes eff_groups") {
    import spark.implicits._
    // s1: 6 tokens, s2: 2 tokens -> shares .75/.25, HHI = .625
    val d = Seq(("s1", "a b c d e f"), ("s2", "x y")).toDF("source", "text")
    val got = TextAnalysis.sourceConcentration(d, "source", "text")
      .collect().head
    assert(got.getAs[Long]("n_groups") == 2L)
    assert(got.getAs[Long]("n_tokens") == 8L)
    assert(math.abs(got.getAs[Double]("hhi") - 0.625) < 1e-12)
    assert(math.abs(got.getAs[Double]("top_share") - 0.75) < 1e-15)
    assert(math.abs(got.getAs[Double]("eff_groups") - 1.6) < 1e-9)
    // perfectly uniform: eff_groups = n_groups
    val u = Seq(("a", "w w"), ("b", "w w"), ("c", "w w")).toDF("source", "text")
    val gu = TextAnalysis.sourceConcentration(u, "source", "text")
      .collect().head
    assert(math.abs(gu.getAs[Double]("eff_groups") - 3.0) < 1e-9)
  }

  test("distinctN: hand-computed diversity per order; repetition craters distinct-2") {
    import spark.implicits._
    val d = Seq(
      ("rep", "go go go go"),       // 1-grams: 4 occ 1 distinct; 2-grams: 3 occ 1 distinct
      ("div", "a b c d")            // 4/4; 3/3
    ).toDF("source", "text")
    val got = TextAnalysis.distinctN(d, "source", "text", maxN = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(("rep", 1L)) == ((4L, 1L)) && got(("rep", 2L)) == ((3L, 1L)))
    assert(got(("div", 1L)) == ((4L, 4L)) && got(("div", 2L)) == ((3L, 3L)))
  }

  test("lshTuningCurve: analytic values, monotone in t, band/row trade-off") {
    val got = Dedup.lshTuningCurve(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getDouble(2)), r.getDouble(3)))
      .toMap
    // engine default 4x3 at t=0.5: 1 - (1 - 0.125)^4
    val q = 1.0 - 0.5 * 0.5 * 0.5
    assert(math.abs(got((4L, 3L, 0.5)) - (1.0 - q * q * q * q)) < 1e-15)
    // monotone nondecreasing in threshold for every config
    got.keys.map(k => (k._1, k._2)).foreach { case (b, r) =>
      val curve = (1 to 19).map(k => got((b, r, k / 20.0)))
      assert(curve.zip(curve.tail).forall { case (a, c) => c >= a }, s"($b,$r)")
    }
    // many-bands/short-rows catches more LOW-similarity pairs than
    // few-bands/long-rows (same 12 hashes): 6x2 dominates 2x6 at t=0.2
    assert(got((6L, 2L, 0.2)) > got((2L, 6L, 0.2)))
    // and every config is near-certain on true near-dups
    assert(got((6L, 2L, 0.95)) > 0.9 && got((2L, 6L, 0.95)) > 0.9)
  }

  test("logOddsTerms: planted exclusive term tops its source; shared filler never ranks") {
    import spark.implicits._
    // every doc shares filler; srcA additionally repeats "anchor",
    // srcB repeats "beacon"; one rare typo appears once in srcA
    val filler = "the quick brown fox and the lazy dog again"
    val d = (
      (1 to 10).map(i => (i.toLong, "srcA", s"$filler anchor anchor")) ++
      (11 to 20).map(i => (i.toLong, "srcB", s"$filler beacon beacon")) :+
      ((21L, "srcA", s"$filler typo"))
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.logOddsTerms(d, "source", "text", topK = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got(("srcA", 1L)) == "anchor", s"got $got")
    assert(got(("srcB", 1L)) == "beacon")
    // the single-occurrence typo must NOT outrank the repeated anchor
    // (the Dirichlet prior shrinks hapaxes — the point of the method)
    val typoRank = got.collectFirst {
      case ((s, rk), t) if s == "srcA" && t == "typo" => rk }
    assert(typoRank.forall(_ > 1L), s"typo ranked $typoRank")
    // shared filler words never top either source
    val fillerWords = filler.split(" ").toSet
    assert(!fillerWords.contains(got(("srcA", 1L))))
    assert(!fillerWords.contains(got(("srcB", 1L))))
  }

  test("minKProb: matches a single-threaded bottom-k reference; memorized text scores low") {
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog"
    val d = Seq(
      (1L, common), (2L, common), (3L, common),  // memorized span
      (4L, "zeta xylem quartz vortex glyph nymph"), // all-rare bigrams
      (5L, "x")                                     // no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.minKProb(d, "doc_id", "text", kPct = 0.4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // reference: add-one bigram LM over the whole corpus, bottom-40%
    val texts = Seq(1L -> common, 2L -> common, 3L -> common,
      4L -> "zeta xylem quartz vortex glyph nymph", 5L -> "x")
    val toks = texts.map { case (id, t) => id -> t.split("\\s+").toSeq }
    val ca = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val v = ca.size
    val cab = toks.flatMap(_._2.sliding(2).filter(_.size == 2)
        .map(w => (w(0), w(1))))
      .groupBy(identity).view.mapValues(_.size).toMap
    toks.filter(_._2.size >= 2).foreach { case (id, ts) =>
      val lps = ts.sliding(2).map { w =>
        -math.log((cab((w(0), w(1))) + 1).toDouble / (ca(w(0)) + v))
      }.toSeq.sortBy(-_)
      val n = lps.size
      val m = math.ceil(n * 0.4).toLong
      val want = lps.take(m.toInt)
        .map(x => BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / m
      val r = got(id)
      assert(r.getAs[Long]("n_bigrams") == n.toLong, s"doc $id")
      assert(r.getAs[Long]("k_used") == m, s"doc $id k")
      assert(math.abs(r.getAs[Double]("mink_score") - want) < 1e-9, s"doc $id")
    }
    // membership signal: the memorized doc's WORST bigrams are still
    // common -> lower score than the all-rare doc
    assert(got(1L).getAs[Double]("mink_score")
      < got(4L).getAs[Double]("mink_score"))
    // bigram-less doc present with null score
    assert(got(5L).getAs[Long]("n_bigrams") == 0L &&
      got(5L).isNullAt(got(5L).fieldIndex("mink_score")))
  }

  test("langConfusion: mass conserved, per-declared shares sum to 1, cells match per-doc predictions") {
    val d = docs
    val cm = TextAnalysis.langConfusion(d, "lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(cm.values.map(_._1).sum == d.count())
    cm.keys.map(_._1).toSeq.distinct.foreach { l =>
      val s = cm.filter(_._1._1 == l).values.map(_._2).sum
      assert(math.abs(s - 1.0) < 1e-9, s"shares for declared $l sum to $s")
    }
    // cells agree with the per-doc q18 projection
    val perDoc = d.select(col("lang"),
        TextAnalysis.langId(col("text")).as("p")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(cm.view.mapValues(_._1).toMap == perDoc)
  }

  test("charBigramEntropy: hand-computed entropy, zero for pure repetition") {
    import spark.implicits._
    val d = Seq(("rep", "aaaa"), ("mix", "abab"), ("tiny", "x"))
      .toDF("source", "text")
    val got = TextAnalysis.charBigramEntropy(d, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("rep").getAs[Long]("n_grams") == 3L)
    assert(got("rep").getAs[Double]("entropy_nats") == 0.0)
    // "abab": grams ab, ba, ab -> p = (2/3, 1/3)
    def rnd(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val want = (rnd(-(2.0 / 3) * math.log(2.0 / 3))
      + rnd(-(1.0 / 3) * math.log(1.0 / 3))).toDouble
    assert(math.abs(got("mix").getAs[Double]("entropy_nats") - want) < 1e-12)
    assert(math.abs(got("mix").getAs[Double]("entropy_bits")
      - want / 0.6931471805599453) < 1e-12)
    // sub-2-char doc contributes its whole text as one gram
    assert(got("tiny").getAs[Long]("n_grams") == 1L &&
      got("tiny").getAs[Long]("n_distinct") == 1L)
    // kernel edges: empty text -> one empty gram; trim+lower folded in
    val edge = Seq(("e", ""), ("t", "  AbAb  ")).toDF("source", "text")
    val ge = TextAnalysis.charBigramEntropy(edge, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(ge("e").getAs[Long]("n_grams") == 1L)
    // "abab" after trim+lower: ab, ba, ab -> same entropy as "mix"
    assert(math.abs(ge("t").getAs[Double]("entropy_nats") - want) < 1e-12)
  }

  test("sortedNeighborPairs: equals the single-threaded window walk over the simhash order") {
    val d = docs
    val got = Dedup.sortedNeighborPairs(d, "doc_id", "text", window = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // reference: engine simhash values, driver-side sort + window walk,
    // exact Jaccard of the distinct 5-code-point shingle sets
    def shingleJaccard(a: String, b: String, k: Int = 5): Double = {
      def sh(s: String): Set[String] = {
        val cps = s.codePoints().toArray
        (0 until math.max(cps.length - k + 1, 1))
          .map(i => new String(cps, i, math.min(k, cps.length - i))).toSet
      }
      val (sa, sb) = (sh(a), sh(b))
      val inter = (sa & sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }
    val rows = d.select(col("doc_id"), col("text"),
        Dedup.simhash16(col("text")).as("sh")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    val want = scala.collection.mutable.Map[(Long, Long), Double]()
    for (i <- rows.indices; dd <- 1 until 4; if i + dd < rows.length) {
      val a = rows(i); val b = rows(i + dd)
      val j = shingleJaccard(a._2, b._2)
      if (j >= 0.5) want((math.min(a._1, b._1), math.max(a._1, b._1))) = j
    }
    assert(got.keySet == want.keySet,
      s"pair sets differ: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    got.foreach { case (k, v) => assert(v == want(k), s"pair $k") }
    assert(got.nonEmpty, "planted near-dups should land adjacent in simhash order")
    // bandBits granularity must not change the pair set (global rank
    // is exact regardless of banding)
    val coarse = Dedup.sortedNeighborPairs(d, "doc_id", "text",
      window = 4, bandBits = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(coarse == got.keySet)
  }

  test("mixture sample: per-source rates honored, selection deterministic") {
    val d = docs
    val weights = Map("src0" -> 1.0, "src1" -> 0.0)
    val got = graft.llm.Corpus.mixtureSample(d, "source", "doc_id",
      weights, defaultWeight = 0.5)
    val bySrc = got.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == totals("src0"), "weight 1.0 keeps everything")
    assert(!bySrc.contains("src1"), "weight 0.0 keeps nothing")
    // default-weight sources land near 50% (md5 is uniform)
    val defKept = bySrc.filterKeys(s => s != "src0" && s != "src1").values.sum
    val defTotal = totals.filterKeys(s => s != "src0" && s != "src1").values.sum
    assert(math.abs(defKept.toDouble / defTotal - 0.5) < 0.15, s"$defKept/$defTotal")
    // determinism: same inputs, same selection
    val again = graft.llm.Corpus.mixtureSample(d, "source", "doc_id",
      weights, defaultWeight = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("epoch repeat: integer part always, fractional epoch md5-decided, zero drops") {
    val got = graft.llm.Corpus.epochRepeat(docs, "source", "doc_id",
      Map("src0" -> 2.5, "src1" -> 0.0), defaultWeight = 1.0).collect()
    val perDoc = got.groupBy(_.getAs[Long]("doc_id"))
      .map { case (k, rs) => k -> rs.length }
    val srcOf = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    // src1 (weight 0) vanishes entirely
    assert(got.forall(_.getAs[String]("source") != "src1"))
    // src0: every doc 2 or 3 times, and BOTH counts occur (frac 0.5)
    val src0Counts = perDoc.filter(kv => srcOf(kv._1) == "src0").values.toSeq
    assert(src0Counts.forall(c => c == 2 || c == 3), src0Counts.distinct.toString)
    assert(src0Counts.contains(2) && src0Counts.contains(3))
    // default weight 1.0: exactly once, epoch column is 1
    val others = got.filter(r => {
      val s = r.getAs[String]("source"); s != "src0" && s != "src1"
    })
    assert(others.forall(_.getAs[Int]("epoch") == 1))
    val expectOthers = srcOf.count(kv => kv._2 != "src0" && kv._2 != "src1")
    assert(others.length == expectOthers)
  }

  test("token shards: contiguous budget packing, every doc assigned exactly once") {
    val shards = graft.llm.Corpus.tokenShards(docs, "doc_id", "text", 2000L)
      .collect()
    assert(shards.length == docs.count())
    val totalToks = shards.map(_.getAs[Long]("n_tokens")).sum
    val maxShard = shards.map(_.getAs[Long]("shard_id")).max
    // shard count matches the budget arithmetic
    assert(maxShard == (totalToks - 1) / 2000,
      s"maxShard=$maxShard totalToks=$totalToks")
    // every shard except the last carries at least the budget minus
    // one straddling doc's tokens; none exceeds budget + max doc size
    val byShard = shards.groupBy(_.getAs[Long]("shard_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n_tokens")).sum }
    val maxDoc = shards.map(_.getAs[Long]("n_tokens")).max
    byShard.foreach { case (k, tot) =>
      if (k < maxShard) assert(tot >= 2000 - maxDoc && tot <= 2000 + maxDoc,
        s"shard $k total $tot")
    }
  }

  test("substring dedup: span straddling a chunk boundary invisible to paragraphStats, caught by substringStats") {
    import spark.implicits._
    def filler(p: String) = (1 to 6).map(i => s"$p$i").mkString(" ")
    val span8 = (1 to 8).map(i => s"s$i").mkString(" ")
    val span12 = (1 to 12).map(i => s"t$i").mkString(" ")
    val d = Seq(
      // docs 1+2: 8-token duplicated span at tokens 7..14 — straddles
      // the 10-token paragraph-chunk boundary
      (1L, s"${filler("u")} $span8 ${filler("v")}"),
      (2L, s"${filler("w")} $span8 ${filler("x")}"),
      // docs 3+4: 12-token span -> 5 overlapping dup windows whose
      // union must count 12 tokens, not 5*8 (exercises the gap fold)
      (3L, s"${filler("p")} $span12 ${filler("q")}"),
      (4L, s"${filler("r")} $span12 ${filler("m")}")
    ).toDF("doc_id", "text")
    // paragraphStats chunks each 20/24-token doc at token 10 (and 20):
    // every chunk mixes span tokens with doc-unique filler, so no
    // paragraph repeats corpus-wide — the duplicate span is INVISIBLE
    val para = Dedup.paragraphStats(d, "doc_id", "text").collect()
    assert(para.length == 4 &&
      para.forall(_.getAs[Long]("n_dup_paragraphs") == 0L),
      para.mkString("; "))
    // substringStats (8-token stride-1 windows) reconstructs the spans
    val sub = Dedup.substringStats(d, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(1L, 2L)) {
      val r = sub(id)
      assert(r.getAs[Long]("n_windows") == 13L, r.toString)    // 20-8+1
      assert(r.getAs[Long]("n_dup_windows") == 1L, r.toString) // the span window
      assert(r.getAs[Long]("dup_tokens") == 8L, r.toString)
      assert(r.getAs[Boolean]("substr_dup_flagged"), r.toString) // 8/20 > 0.2
    }
    for (id <- Seq(3L, 4L)) {
      val r = sub(id)
      assert(r.getAs[Long]("n_windows") == 17L, r.toString)    // 24-8+1
      assert(r.getAs[Long]("n_dup_windows") == 5L, r.toString) // 12-8+1
      assert(r.getAs[Long]("dup_tokens") == 12L, r.toString)   // interval union
      assert(r.getAs[Boolean]("substr_dup_flagged"), r.toString)
    }
  }

  test("incremental embedding near-dup: batch-vs-index pairs equal full-corpus pairs touching the batch") {
    val batchPred = col("vec_id") % 10 === 0
    val existingMem = Similarity.bucketIndex(emb.filter(!batchPred),
      "vec_id", "embedding")
    // production shape: the index is persisted partitioned by bucket
    // (probe reads prune to colliding bucket dirs) and read back —
    // partition-column round-trip must not change the pair set
    val idxDir = java.nio.file.Files.createTempDirectory("graft-srp-idx").toString
    existingMem.write.mode("overwrite").partitionBy("bucket").parquet(idxDir)
    val existing = spark.read.parquet(idxDir)
      .select(col("id"), col("emb"), col("nrm"), col("bucket").cast("long"))
    val batch = emb.filter(batchPred)
    def toSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incremental = toSet(Similarity.incrementalNearDupPairs(
      batch, existing, "vec_id", "embedding", threshold = 0.3))
    val full = toSet(Similarity.nearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.3)
      .filter(col("id_a") % 10 === 0 || col("id_b") % 10 === 0))
    assert(incremental == full,
      s"only-incremental=${incremental -- full}, only-full=${full -- incremental}")
    assert(full.nonEmpty, "fixture must have near-dups touching the batch")
    // REPLAY SAFETY: probing an index that ALREADY CONTAINS the batch
    // (a retried micro-batch) must behave exactly like the first
    // ingest — no self-pairs (id, id, cos=1), no double-emitted pairs
    val fullIdx = Similarity.bucketIndex(emb, "vec_id", "embedding")
    val replayed = toSet(Similarity.incrementalNearDupPairs(
      batch, fullIdx, "vec_id", "embedding", threshold = 0.3))
    assert(replayed == full,
      s"replay diverged: extra=${replayed -- full}, missing=${full -- replayed}")
  }

  test("evalContamination: verbatim leak flagged at cos 1, scaled copy flagged, orthogonal clean; equals restricted nearDupPairs on the fixture") {
    import spark.implicits._
    // constructed vectors: train 1 IS eval 100 (verbatim leak, cos 1);
    // train 2 = 2× eval 100 (paraphrase stand-in — same direction, so
    // same SRP bucket and cos 1); train 3 ⟂ eval 100 on the axis pair
    def v(a: Double, b: Double): Array[Float] = {
      val arr = Array.fill(64)(0.0f); arr(0) = a.toFloat; arr(1) = b.toFloat
      arr
    }
    val train = Seq((1L, v(1, 1)), (2L, v(2, 2)), (3L, v(1, -1)))
      .toDF("vec_id", "embedding")
    val evalSet = Seq((100L, v(1, 1))).toDF("vec_id", "embedding")
    val got = Similarity.evalContamination(train, evalSet, "vec_id",
        "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 100L), (2L, 100L)),
      s"verbatim + same-direction copies must flag, orthogonal must not: ${got.toSeq}")
    assert(got.forall(t => math.abs(t._3 - 1.0) < 1e-6), got.toSeq.toString)
    // and on the real fixture the asymmetric screen is EXACTLY the
    // symmetric near-dup pair set restricted to train×eval (same
    // buckets, same cosine, same threshold)
    val evalPred = col("vec_id") % 40 === 0
    val screen = Similarity.evalContamination(emb.filter(!evalPred),
        emb.filter(evalPred), "vec_id", "embedding", threshold = 0.1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val restricted = Similarity.nearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .collect {
        case (a, b, c) if a % 40 == 0 && b % 40 != 0 => (b, a, c)
        case (a, b, c) if b % 40 == 0 && a % 40 != 0 => (a, b, c)
      }.toSet
    assert(screen == restricted,
      s"only-screen=${screen -- restricted}, only-pairs=${restricted -- screen}")
    assert(screen.nonEmpty, "fixture must have cross-split near-dups")
  }

  test("imageNearDupScreen: the decode gate restricts the SRP screen to large-enough rasters, and is load-bearing") {
    import graft.llm.Multimodal
    def toSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val screen = toSet(Multimodal.imageNearDupScreen(docs, emb,
      "vec_id", "embedding", threshold = 0.3, minPixels = 100L))
    // equals the plain near-dup screen restricted to the ids whose
    // DECODED raster clears the floor — the decode leg contributes
    // membership, the vector leg contributes the pairs (the pngImage
    // fixture's dims are 8+id%9 × 8+id%7, so the kept set is exactly
    // this arithmetic predicate — same derivation the oracle uses)
    val kept = (lit(8) + col("vec_id") % 9) * (lit(8) + col("vec_id") % 7) >= 100
    val restricted = toSet(Similarity.nearDupPairs(emb.filter(kept),
      "vec_id", "embedding", threshold = 0.3))
    assert(screen == restricted,
      s"only-screen=${screen -- restricted}, only-restricted=${restricted -- screen}")
    assert(screen.nonEmpty, "fixture must have near-dups among kept images")
    // the gate is load-bearing: admitting every raster adds pairs
    val ungated = toSet(Multimodal.imageNearDupScreen(docs, emb,
      "vec_id", "embedding", threshold = 0.3, minPixels = 0L))
    assert(screen.subsetOf(ungated) && screen != ungated,
      s"minPixels must change the pair set: ${ungated.size} vs ${screen.size}")
  }

  test("kmeans: 10-iteration plan stays truncated; checkpointDir is scoped and value-identical") {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    // lineage truncation: without it the analyzed plan embeds every
    // prior round and grows superlinearly in iters; truncated it is a
    // single leaf regardless of iteration count
    val deep = Similarity.kmeansCentroids(emb, k = 8, iters = 10)
    val nodes = deep.queryExecution.analyzed.collect { case p => p }.size
    assert(nodes <= 4, s"analyzed plan has $nodes nodes after 10 rounds")
    // reliable-checkpoint mode (the context's checkpoint dir set):
    // same centroids, checkpoint files land under that dir, and the
    // engine leaves the context's setting as it found it
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans-ckpt").toString
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("cid") -> r.getSeq[Double](1)).toMap
    val viaCkpt = TestSpark.withCheckpointDir(dir)(
      toMap(Similarity.kmeansCentroids(emb, k = 8, iters = 3)))
    assert(sc.getCheckpointDir == prev,
      s"global checkpoint dir changed: $prev -> ${sc.getCheckpointDir}")
    assert(new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty, "no checkpoint written under dir")
    val viaLocal = toMap(Similarity.kmeansCentroids(emb, k = 8, iters = 3))
    assert(viaCkpt.keySet == viaLocal.keySet)
    for (cid <- viaCkpt.keySet) {
      val (a, b) = (viaCkpt(cid), viaLocal(cid))
      assert(a.length == b.length &&
        a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 },
        s"cid=$cid differs")
    }
  }

  test("paragraph dedup: shared 10-token chunks counted corpus-wide") {
    import spark.implicits._
    val p1 = "a b c d e f g h i j"   // 10 tokens = one paragraph
    val p2 = "k l m n o p q r s t"
    val p3 = "u v w x y z aa bb cc dd"
    val d = Seq(
      (1L, s"$p1 $p2"),  // paragraphs p1, p2
      (2L, s"$p1 $p3"),  // shares p1 with doc 1
      (3L, p3)           // shares p3 with doc 2
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphStats(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_paragraphs"), r.getAs[Long]("n_dup_paragraphs"),
          r.getAs[Boolean]("para_dup_flagged"))).toMap
    assert(got(1L) == (2L, 1L, true), got(1L).toString)   // p1 dup, 1/2 > 0.3
    assert(got(2L) == (2L, 2L, true), got(2L).toString)   // both paragraphs shared
    assert(got(3L) == (1L, 1L, true), got(3L).toString)
    // a corpus of unique docs has zero duplicate paragraphs
    val uniq = Seq((1L, p1), (2L, p2)).toDF("doc_id", "text")
    val u = Dedup.paragraphStats(uniq, "doc_id", "text").collect()
    assert(u.forall(r => r.getAs[Long]("n_dup_paragraphs") == 0L &&
      !r.getAs[Boolean]("para_dup_flagged")))
  }

  test("normalizeText: NFC composes/reorders, controls stripped, ascii zero-copy") {
    import spark.implicits._
    // decomposed acute composes; dakuten composes; acute+dot-below
    // REORDERS canonically then composes the dot (U+1EA1 + U+0301);
    // the fi ligature is NFC-invariant (compatibility, not canonical);
    // C0/VT/DEL controls vanish; runs of whitespace collapse
    val messy = "é が  ạ́\tx\u0007y\u000Bz\u007F ﬁ "
    val out = graft.llm.TextAnalysis.normalizeText(
      Seq((1L, messy), (2L, "plain ascii"), (3L, null: String))
        .toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    val norm = out(0).getAs[String]("norm_text")
    assert(norm == "é が ạ́ xyz ﬁ",
      norm.map(c => f"${c.toInt}%04x").mkString(" "))
    assert(out(0).getAs[Boolean]("changed"))
    assert(out(1).getAs[String]("norm_text") == "plain ascii" &&
      !out(1).getAs[Boolean]("changed"))
    assert(out(2).isNullAt(1), "null text propagates")
    // the ASCII fast path must return the input buffer itself — on a
    // web corpus that's nearly every row, and it's what makes a
    // normalize-everything policy free at 100 TB
    val ascii = org.apache.spark.unsafe.types.UTF8String.fromString("hello")
    assert(graft.functions.NfcNormalizeHelper.normalize(ascii) eq ascii)
    val nonAscii = org.apache.spark.unsafe.types.UTF8String.fromString("é")
    assert(graft.functions.NfcNormalizeHelper.normalize(nonAscii).toString == "é")
    // scan rider: narrow map, no exchange anywhere in the plan
    val plan = graft.llm.TextAnalysis.normalizeText(
      docs, "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "normalizeText must be zero-shuffle")
    assert(plan.contains("*("), "normalizeText must stay in whole-stage codegen")
  }

  test("jlProject: native ≡ flat bit-for-bit, norms preserved, null semantics, zero-shuffle") {
    import spark.implicits._
    val nat = emb.select(col("vec_id"),
      Similarity.jlProject(col("embedding")).as("p"))
    val flat = emb.select(col("vec_id"),
      Similarity.jlProjectFlat(col("embedding")).as("pf"))
    val rows = nat.join(flat, Seq("vec_id")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getSeq[Double](1); val b = r.getSeq[Double](2)
      assert(a.length == 16 && b.length == 16)
      a.indices.foreach(i => assert(
        java.lang.Double.doubleToLongBits(a(i)) ==
          java.lang.Double.doubleToLongBits(b(i)),
        s"vec ${r.getLong(0)} component $i: ${a(i)} vs ${b(i)}"))
    }
    // JL lemma: E[||proj||²] = ||x||² — the corpus-mean ratio
    // concentrates hard (per-vector std ≈ sqrt(2/16) ≈ 0.35, mean over
    // the fixture ≈ ±0.02), so [0.9, 1.1] is a 5-sigma-wide gate
    val ratio = emb.select(
      (Similarity.dot(Similarity.jlProject(col("embedding")),
        Similarity.jlProject(col("embedding"))) /
        Similarity.dot(col("embedding"), col("embedding"))).as("r"))
      .agg(avg("r")).head.getDouble(0)
    assert(ratio > 0.9 && ratio < 1.1, s"mean norm ratio $ratio")
    // null array → null; short array → non-null array of null components
    val edge = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val e = edge.select(col("vec_id"),
      Similarity.jlProject(col("embedding")).as("p")).orderBy("vec_id").collect()
    assert(e(0).getSeq[Any](1).forall(_ == null), "short array poisons components")
    assert(e(1).isNullAt(1), "null array → null projection")
    // narrow scan rider: compression before ANN must not cost a shuffle
    val plan = nat.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "jlProject must be zero-shuffle")
  }

  test("incremental IVF append: build(half)+append(rest) ≡ one-shot assignment on the same centroids") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    val first = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    Similarity.buildIvfIndex(first, idx, k = 8, iters = 2)
    Similarity.appendToIvfIndex(spark, rest, idx)
    val queries = emb.filter(col("vec_id") < 5)
    val got = Similarity.ivfTopKIndexed(spark, idx, queries, 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // reference: in-memory IVF over the FULL corpus against the
    // STORED (first-half-trained) centroids — appended batches must be
    // served exactly as if they had been in the build
    val cents = spark.read.parquet(s"$idx/centroids")
    val ref = Similarity.ivfTopK(queries, emb, 5, nlist = 8, nprobe = 3,
      centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == ref, s"onlyIdx=${got -- ref}, onlyRef=${ref -- got}")
    // the append really landed in the partitioned layout (no rewrite
    // of the build's rows, both halves present)
    val stored = spark.read.parquet(s"$idx/assignments")
    assert(stored.count() == emb.count())
  }

  test("filtered ANN: indexed top-k within an allowlist ≡ IVF over the pre-filtered corpus") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-filt").toString
    Similarity.buildIvfIndex(emb, idx, k = 8, iters = 2)
    val allowed = emb.filter(col("label") === 1).select(col("vec_id"))
    val queries = emb.filter(col("vec_id") < 5)
    val got = Similarity.ivfTopKIndexedFiltered(spark, idx, queries,
      allowed, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    // every hit is allowed
    val allowSet = allowed.collect().map(_.getLong(0)).toSet
    assert(got.forall(t => allowSet.contains(t._3)))
    // per-vector assignment commutes with filtering: identical to
    // in-memory IVF over the filtered corpus under the same centroids
    val cents = spark.read.parquet(s"$idx/centroids")
    val ref = Similarity.ivfTopK(queries,
      emb.join(allowed, Seq("vec_id"), "left_semi"), 5, nlist = 8,
      nprobe = 3, centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == ref, s"onlyIdx=${got -- ref}, onlyRef=${ref -- got}")
  }

  test("incremental IVF-PQ append: stored-codebook encoding, appended duplicate searchable at the ADC floor") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString
    val first = emb.filter(col("vec_id") < 250)
    Similarity.buildIvfPqIndex(first, idx, nlist = 16)
    // appended batch: the rest of the corpus plus a planted exact copy
    // of query 3 under a fresh id
    val dup = emb.filter(col("vec_id") === 3L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val rest = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") >= 250).unionByName(dup)
    Similarity.appendToIvfPqIndex(spark, rest, idx)
    // encoding parity: appended codes are exactly pqEncode under the
    // STORED books — the frozen-quantizer contract
    val books = spark.read.parquet(s"$idx/books")
    val expected = Similarity.pqEncode(rest, books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val storedCodes = spark.read.parquet(s"$idx/codes")
      .filter(col("vec_id") >= 250).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[scala.collection.Seq[Int]]("codes")))
    assert(storedCodes.nonEmpty && storedCodes.length == expected.size)
    storedCodes.foreach { case (id, codes) =>
      assert(codes == expected(id), s"codes drifted for appended vec $id") }
    // the appended exact copy shares query 3's codes and list, so it
    // must surface at rank 1 with the ADC floor distance
    val queries = emb.filter(col("vec_id") === 3L)
    val top = Similarity.ivfPqTopKIndexed(spark, idx, queries, k = 3,
      nprobe = 2).orderBy("rank").collect()
    assert(top.head.getLong(2) == 10003L,
      s"appended duplicate not at rank 1: ${top.map(_.getLong(2)).mkString(",")}")
    assert(top.head.getDouble(3) == top.map(_.getDouble(3)).min)
  }

  test("jlTopK: reduce-then-rerank recall vs exact; rescored cosines are exact") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jl = Similarity.jlTopK(queries, emb, 5).collect()
    val got = jl.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // deterministic pipeline → recall is a FIXED number on the fixture
    // (measured 0.86 at outDims=32, cands=100 against the ≈0.32-gap
    // corpus); 0.8 leaves margin only for fixture regeneration
    assert(recall >= 0.8, s"jl recall $recall vs exact top-5")
    // every returned cosine is the EXACT full-width score (rescore,
    // not the projected approximation): spot-check against bruteForce
    val exactCos = Similarity.bruteForceTopK(queries, emb, 5)
      .collect().map(r => ((r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")),
        r.getAs[Double]("cos"))).toMap
    jl.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      exactCos.get(key).foreach(c =>
        assert(c == r.getAs[Double]("cos"), s"rescore mismatch at $key"))
    }
  }

  test("perplexity tiers: per-language thirds ordered by perplexity; approx form agrees") {
    import spark.implicits._
    val exact = TextAnalysis.perplexityTiers(docs, "doc_id", "text", "lang")
      .persist()
    // tier sizes within a language differ by ≤ 1 (ntile contract)
    val sizes = exact.groupBy("lang", "tier").count()
      .groupBy("lang").agg((max("count") - min("count")).as("spread"))
      .collect()
    assert(sizes.nonEmpty && sizes.forall(_.getAs[Long]("spread") <= 1L))
    // monotone: every head perplexity ≤ every middle ≤ every tail (per lang)
    val bounds = exact.filter(col("perplexity").isNotNull)
      .groupBy("lang").agg(
        max(when(col("tier") === 1, col("perplexity"))).as("h_max"),
        min(when(col("tier") === 2, col("perplexity"))).as("m_min"),
        max(when(col("tier") === 2, col("perplexity"))).as("m_max"),
        min(when(col("tier") === 3, col("perplexity"))).as("t_min"))
      .collect()
    bounds.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2), s"head>middle in ${r.getString(0)}")
      assert(r.getDouble(3) <= r.getDouble(4), s"middle>tail in ${r.getString(0)}")
    }
    // a doc too short to score lands in the tail (NULLS LAST), never head
    val planted = docs.select(col("doc_id"), col("text"), col("lang"))
      .union(Seq((100000L, "solo", docs.select("lang").head.getString(0)))
        .toDF("doc_id", "text", "lang"))
    val shortDoc = TextAnalysis.perplexityTiers(planted, "doc_id", "text", "lang")
      .filter(col("doc_id") === 100000L).head
    assert(shortDoc.isNullAt(2) && shortDoc.getAs[String]("tier_label") == "tail")
    // the 100 TB swap-in: approx-threshold assignment agrees ≥ 95%
    val approx = TextAnalysis.perplexityTiersApprox(docs, "doc_id", "text", "lang")
      .select(col("doc_id"), col("tier").as("ta"))
    val agree = exact.select(col("doc_id"), col("tier")).join(approx, Seq("doc_id"))
      .agg(avg(when(col("tier") === col("ta"), 1.0).otherwise(0.0)))
      .head.getDouble(0)
    exact.unpersist(blocking = false)
    assert(agree >= 0.95, s"approx/exact tier agreement $agree")
  }

  test("containmentPairs: prefix doc flagged as contained in its extension, direction right") {
    import spark.implicits._
    val long = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    val short = long.substring(0, (long.length * 0.9).toInt)
    val d = Seq((1L, short), (2L, long),
      (3L, "completely different content entirely unrelated words without overlap"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, "doc_id", "text").collect()
    val hit = out.find(r => r.getAs[Long]("contained_id") == 1L &&
      r.getAs[Long]("container_id") == 2L)
    assert(hit.isDefined, out.mkString(","))
    assert(hit.get.getAs[Double]("containment") >= 0.9)
    assert(out.forall(r => r.getAs[Long]("contained_id") != 3L &&
      r.getAs[Long]("container_id") != 3L))
  }

  test("containmentPairs scores the smaller side against its own size") {
    // fixture planted near-dups: every emitted containment is a valid
    // ratio and at least the pair's jaccard (|A∩B|/min ≥ |A∩B|/|A∪B|)
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cont.nonEmpty, "expected planted near-dups to clear 0.5 containment")
    assert(cont.values.forall(c => c > 0.0 && c <= 1.0))
    val jac = Dedup.lshPairs(docs, "doc_id", "text").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    jac.foreach { case ((a, b), j) =>
      val c = cont.get((a, b)).orElse(cont.get((b, a)))
      assert(c.exists(_ >= j), s"pair ($a,$b): containment $c < jaccard $j")
    }
  }

  test("sparseCosinePairs: rare-term overlap pairs, ubiquitous terms pruned") {
    import spark.implicits._
    // every doc shares "common word" (df = 20 > maxDf → pruned); only
    // docs 1 and 2 share the rare "word rare"/"rare marker" bigrams
    val filler = (3 to 20).map(i =>
      (i.toLong, s"common word common word unique$i tail$i"))
    val d = (Seq(
      (1L, "common word rare marker common word"),
      (2L, "common word rare marker tail two")) ++ filler)
      .toDF("doc_id", "text")
    val out = TextAnalysis.sparseCosinePairs(d, "doc_id", "text").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)),
      out.mkString(","))
    // pruned vectors: doc1 {word rare, rare marker, marker common},
    // doc2 {word rare, rare marker, marker tail, tail two} → 2/√12
    assert(math.abs(out.head.getDouble(2) - 2.0 / math.sqrt(12.0)) < 1e-15)
  }

  test("sourceTvd: single source is 0, disjoint halves are 0.5, hand case exact") {
    import spark.implicits._
    val solo = Seq((1L, "s", "a b a")).toDF("doc_id", "source", "text")
    val r0 = TextAnalysis.sourceTvd(solo, "source", "text").collect()
    assert(r0.length == 1 && r0.head.getAs[Double]("tvd") == 0.0)
    // A = {a,b}, B = {c,d}, equal sizes: each source owns half the mass
    val halves = Seq((1L, "A", "a b"), (2L, "B", "c d"))
      .toDF("doc_id", "source", "text")
    val rh = TextAnalysis.sourceTvd(halves, "source", "text").collect()
    assert(rh.forall(_.getAs[Double]("tvd") == 0.5), rh.mkString(","))
    // A = "a a b" vs corpus {a:3,b:1,c:1}: ½(|2/3−3/5| + |1/3−1/5| + 1/5) = 0.2
    val mixed = Seq((1L, "A", "a a b"), (2L, "B", "a c"))
      .toDF("doc_id", "source", "text")
    val ra = TextAnalysis.sourceTvd(mixed, "source", "text")
      .filter(col("source") === "A").head
    assert(ra.getAs[Long]("n_tokens") == 3L)
    assert(math.abs(ra.getAs[Double]("tvd") - 0.2) < 1e-15)
  }

  test("budgetSelect: best-first order, straddle kept, budget-exhausted dropped") {
    import spark.implicits._
    // scores: d1 = 1.0 (4 distinct/4), d2 = 0.75, d3 = 0.5, d4 = 0.25
    val d = Seq(
      (1L, "a b c d"), (2L, "a a b c"), (3L, "a a b b"), (4L, "a a a b"))
      .toDF("doc_id", "text")
    // budget 10: cum 4, 8, 12, 16 → d3 straddles (8 < 10) and is kept,
    // d4 starts at 12 ≥ 10 and is dropped
    val out = TextAnalysis.budgetSelect(d, "doc_id", "text", 10L)
      .orderBy(col("score").desc, col("doc_id")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[Long]("cum_tokens")).toSeq == Seq(4L, 8L, 12L))
    assert(out.map(_.getAs[Double]("score")).toSeq == Seq(1.0, 0.75, 0.5))
    // exact-boundary budget: cum-before == budget is exhausted, not straddle
    val out8 = TextAnalysis.budgetSelect(d, "doc_id", "text", 8L).collect()
    assert(out8.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("budgetSelect fixture run matches the single-pass window reference") {
    val got = TextAnalysis.budgetSelect(docs, "doc_id", "text", 15000L)
      .orderBy("doc_id").collect()
    // reference: plain global window, no banding
    val toks = split(trim(lower(col("text"))), "\\s+")
    val base = docs.select(col("doc_id"),
      size(toks).cast("long").as("n"),
      (size(array_distinct(toks)).cast("double") /
        size(toks).cast("double")).as("sc"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("sc").desc, col("doc_id"))
    val want = base.withColumn("cum", sum("n").over(w))
      .filter(col("cum") - col("n") < 15000L).orderBy("doc_id").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, e) =>
      assert(g.getLong(0) == e.getLong(0))
      assert(g.getAs[Long]("cum_tokens") == e.getAs[Long]("cum"))
    }
  }

  test("property: budgetSelect banded prefix sum equals the single-threaded greedy walk") {
    // The band arithmetic (floor(score·bands) bucketing, descending
    // offset table, straddle rule) is the ±1 kernel; bands=8 forces
    // many docs per band, random short texts force score ties that
    // must break on doc id identically in both formulations.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def draw[A](g: Gen[A], seed: Long, n: Int): Seq[A] = {
      var s = Seed(seed)
      (0 until n).map { _ =>
        val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
      }
    }
    val gDoc = for {
      nw <- Gen.choose(1, 10)
      ts <- Gen.listOfN(nw, Gen.oneOf("a", "b", "c", "d"))
    } yield ts.mkString(" ")
    for (trial <- 0 to 2) {
      val texts = draw(gDoc, 977L + trial, 50).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val budget = Seq(30L, 90L, 100000L)(trial)
      val got = TextAnalysis.budgetSelect(texts.toDF("doc_id", "text"),
          "doc_id", "text", budget, bands = 8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val scored = texts.map { case (id, t) =>
        val toks = t.trim.toLowerCase.split("\\s+").toSeq
        (id, toks.length.toLong, toks.distinct.length.toDouble / toks.length)
      }.sortBy { case (id, _, sc) => (-sc, id) }
      var cum = 0L
      val expect = scored.flatMap { case (id, n, sc) =>
        val before = cum
        cum += n
        if (before < budget) Some((id, n, sc, cum)) else None
      }.toSet
      assert(got == expect, s"trial $trial budget $budget: " +
        s"got-extra=${got -- expect} missing=${expect -- got}")
    }
  }

  test("property: vocabCoverage banded ranking equals the single-threaded curve") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def draw[A](g: Gen[A], seed: Long, n: Int): Seq[A] = {
      var s = Seed(seed)
      (0 until n).map { _ =>
        val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
      }
    }
    // zipf-ish: few hot terms + a long unique tail → counts straddle
    // several binary-magnitude bands, incl. exact powers of two
    val gTok = Gen.frequency(
      (6, Gen.oneOf("the", "of")), (3, Gen.oneOf("x", "y", "z")),
      (2, Gen.choose(0, 400).map(i => s"w$i")))
    for (trial <- 0 to 1) {
      val texts = draw(gTok, 1409L + trial, 600)
        .grouped(12).zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toSeq
      val pcts = Seq(1, 37, 50, 99, 100)
      val got = TextAnalysis.vocabCoverage(texts.toDF("doc_id", "text"),
          "text", pcts).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val counts = texts.flatMap(_._2.trim.toLowerCase.split("\\s+"))
        .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
        .toSeq.sortBy { case (t, c) => (-c, t) }
      val total = counts.map(_._2).sum
      var cum = 0L
      val curve = counts.zipWithIndex.map { case ((_, c), i) =>
        cum += c; (i + 1L, cum)
      }
      val expect = pcts.map { p =>
        val (rk, cv) = curve.find { case (_, cv) => cv * 100 >= p * total }.get
        (p.toLong, rk, cv, cv.toDouble / total.toDouble)
      }.toSet
      assert(got == expect, s"trial $trial: got-extra=${got -- expect} " +
        s"missing=${expect -- got}")
    }
  }

  test("vocabCoverage: hand-computed curve on a:3 b:2 c:1") {
    import spark.implicits._
    val d = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(d, "text", Seq(50, 80, 90, 99))
      .orderBy("pct").collect()
    // total 6: 50% → a (cum 3), 80% → a,b (cum 5), 90%/99% → all 3 (cum 6)
    assert(out.map(r => (r.getLong(0), r.getAs[Long]("vocab_size"),
      r.getAs[Long]("covered_tokens"))).toSeq ==
      Seq((50L, 1L, 3L), (80L, 2L, 5L), (90L, 3L, 6L), (99L, 3L, 6L)))
    assert(out.head.getAs[Double]("coverage") == 0.5)
    // count-desc/term-asc tie-break: equal counts rank alphabetically
    val ties = Seq((1L, "b a b a")).toDF("doc_id", "text")
    val t50 = TextAnalysis.vocabCoverage(ties, "text", Seq(50)).head
    assert(t50.getAs[Long]("vocab_size") == 1L &&
      t50.getAs[Long]("covered_tokens") == 2L)
  }

  test("groupCentroidCosine: aligned, diagonal, and orthogonal centroids") {
    import spark.implicits._
    val d = Seq(
      (1L, 1, Array(1.0f, 0.0f)), (2L, 1, Array(1.0f, 0.0f)),
      (3L, 2, Array(1.0f, 1.0f)),
      (4L, 3, Array(0.0f, 2.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.groupCentroidCosine(d, "label", "embedding", dims = 2)
      .orderBy("grp_a", "grp_b").collect()
    val m = out.map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // label1 sum (2,0); label2 (1,1); label3 (0,2)
    assert(math.abs(m((1, 2)) - 1.0 / math.sqrt(2.0)) < 1e-15)
    assert(m((1, 3)) == 0.0)
    assert(math.abs(m((2, 3)) - 1.0 / math.sqrt(2.0)) < 1e-15)
  }

  test("filterFunnel: each stage removes exactly its planted offender") {
    import spark.implicits._
    val d = Seq(
      // clean: passes everything
      (1L, "en", "the cat and the dog is happy today and more"),
      // repetition: one token is the whole doc
      (2L, "en", "spam spam spam spam"),
      // declared de, reads en → lang_match kills it
      (3L, "de", "the house of stuff and things is new"),
      // en but six long digit runs → quality kills it
      (4L, "en",
        "the code 12345 67890 11111 22222 33333 44444 of the file is here and now"))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.filterFunnel(d, "doc_id", "text", "lang")
      .orderBy("stage").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((0L, "all", 4L), (1L, "repetition", 3L),
        (2L, "lang_match", 2L), (3L, "quality", 1L)), out.mkString(","))
    // token mass tracks the survivors, frac is vs the full corpus
    assert(out(0).getAs[Double]("doc_frac") == 1.0)
    assert(out(3).getAs[Double]("doc_frac") == 0.25)
    assert(out(3).getAs[Long]("n_tokens") == 10L)
  }

  test("madOutliers flags only far-from-median rows, robust to the outlier itself") {
    import spark.implicits._
    val d = ((1 to 9).map(i => (i.toLong, "s", 100 + i)) :+ ((10L, "s", 10000)))
      .toDF("doc_id", "source", "n_chars")
    val out = TextAnalysis.madOutliers(d, "doc_id", "source", "n_chars")
      .orderBy("doc_id").collect()
    // 101..109 + 10000: median 105.5; MAD of absdevs 2.5 → cut at 7.5
    assert(out.head.getAs[Double]("med") == 105.5)
    assert(out.head.getAs[Double]("mad") == 2.5)
    assert(out.filter(_.getAs[Boolean]("is_outlier")).map(_.getLong(0)).toSeq
      == Seq(10L))
  }

  test("madOutliersApprox: GK flags agree with exact on discrete stats") {
    import spark.implicits._
    val d = ((1 to 9).map(i => (i.toLong, "s", 100 + i)) :+ ((10L, "s", 10000)))
      .toDF("doc_id", "source", "n_chars")
    val exact = TextAnalysis.madOutliers(d, "doc_id", "source", "n_chars")
      .select("doc_id", "is_outlier").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val approx = TextAnalysis.madOutliersApprox(d, "doc_id", "source", "n_chars")
      .select("doc_id", "is_outlier").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(approx == exact, s"approx $approx vs exact $exact")
  }

  test("madOutliers groups independently per source") {
    import spark.implicits._
    // same value is an outlier in a tight group, inlier in a wide one
    val tight = (1 to 9).map(i => (i.toLong, "tight", 100))
    val wide = (11 to 19).map(i => (i.toLong, "wide", (i - 10) * 100))
    val d = (tight ++ wide ++ Seq((10L, "tight", 500), (20L, "wide", 500)))
      .toDF("doc_id", "source", "n_chars")
    val out = TextAnalysis.madOutliers(d, "doc_id", "source", "n_chars").collect()
    val byId = out.map(r => r.getLong(0) -> r.getAs[Boolean]("is_outlier")).toMap
    assert(byId(10L), "500 in the all-100 group must flag (MAD 0)")
    assert(!byId(20L), "500 inside the wide group's spread must not flag")
  }

  test("jsDivergence: identical sources 0, disjoint sources ln 2") {
    import spark.implicits._
    val d = Seq((1L, "a", "x y x"), (2L, "b", "x y x"), (3L, "c", "p q"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.jsDivergence(d, "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size == 3)
    val (abShared, abJs) = out(("a", "b"))
    assert(abShared == 2L && abJs == 0.0, s"identical pair: $abJs")
    val (acShared, acJs) = out(("a", "c"))
    assert(acShared == 0L)
    assert(math.abs(acJs - math.log(2.0)) < 1e-12, s"disjoint pair: $acJs")
  }

  test("jsDivergence matches a driver-side replay on a mixed pair") {
    import spark.implicits._
    // A: a a b ; B: a b b  → shared terms {a, b}, no absent mass
    val d = Seq((1L, "A", "a a b"), (2L, "B", "a b b"))
      .toDF("doc_id", "source", "text")
    val js = TextAnalysis.jsDivergence(d, "source", "text")
      .collect().head.getDouble(3)
    def half(p: Double, q: Double) = 0.5 * (p * math.log(2 * p / (p + q)))
    val expect = // term a: pA=2/3 pB=1/3; term b: pA=1/3 pB=2/3
      half(2.0 / 3, 1.0 / 3) + half(1.0 / 3, 2.0 / 3) +
        half(1.0 / 3, 2.0 / 3) + half(2.0 / 3, 1.0 / 3)
    assert(math.abs(js - expect) < 1e-9, s"js $js vs $expect")
    assert(js > 0.0 && js < math.log(2.0))
  }

  test("zipfSlope: an exact 1/r frequency law fits slope -1") {
    import spark.implicits._
    // counts 12, 6, 4, 3 = 12/r for ranks 1..4 → ln c = ln 12 − ln r
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++ Seq.fill(4)("c")
      ++ Seq.fill(3)("d")).mkString(" ")
    val d = Seq((1L, "s", text)).toDF("doc_id", "source", "text")
    val out = TextAnalysis.zipfSlope(d, "source", "text").collect().head
    assert(out.getAs[Long]("n_terms") == 4L)
    assert(math.abs(out.getAs[Double]("slope") - (-1.0)) < 1e-9,
      s"slope ${out.getAs[Double]("slope")}")
  }

  test("zipfSlope: single-term source has no slope; topN prunes ranks") {
    import spark.implicits._
    val d = Seq((1L, "mono", "w w w"),
      (2L, "duo", "x x y z z z")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.zipfSlope(d, "source", "text", topN = 2)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_terms"), Option(r.get(2)))).toMap
    assert(out("mono")._1 == 1L && out("mono")._2.isEmpty)
    assert(out("duo")._1 == 2L && out("duo")._2.isDefined) // y pruned at topN=2
  }

  test("heapsCurve: cumulative tokens/types by hand, banding-invariant") {
    import spark.implicits._
    val d = Seq((1L, "a b a"), (2L, "b c"), (3L, "c c d"))
      .toDF("doc_id", "text")
    def run(band: Long) =
      TextAnalysis.heapsCurve(d, "doc_id", "text", band = band)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    val expect = Seq((1L, 3L, 2L, 3L, 2L), (2L, 2L, 1L, 5L, 3L),
      (3L, 3L, 1L, 8L, 4L))
    assert(run(100L) == expect)
    assert(run(1L) == expect, "band width must not change the curve")
  }

  test("rankNormalize: percent_rank shares tied ranks, ntile splits rows") {
    import spark.implicits._
    val d = Seq((1L, "g", 10L), (2L, "g", 20L), (3L, "g", 20L),
      (4L, "g", 30L)).toDF("doc_id", "source", "n_chars")
    val out = TextAnalysis.rankNormalize(d, "doc_id", "source", "n_chars")
      .orderBy("doc_id").collect()
      .map(r => (r.getDouble(3), r.getLong(4))).toSeq
    assert(out == Seq((0.0, 1L), (1.0 / 3, 2L), (1.0 / 3, 3L), (1.0, 4L)),
      out.toString)
  }

  test("truncatedRecall: full-width truncation is perfect recall") {
    val q = emb.filter(col("vec_id") < 5)
    val out = Similarity.truncatedRecall(q, emb, k = 5, truncDims = 64)
      .collect()
    assert(out.length == 5)
    assert(out.forall(_.getAs[Double]("recall") == 1.0))
  }

  test("truncatedRecall: a planted flip drops recall to 0") {
    import spark.implicits._
    // full 2-dim top-1 of q is id 3; first-dim-only ties, lower id 2 wins
    val d = Seq((1L, Seq(1f, 0f)), (2L, Seq(1f, 1f)), (3L, Seq(1f, -0.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.truncatedRecall(
      d.filter(col("vec_id") === 1L), d, k = 1, truncDims = 1).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_overlap") == 0L)
    assert(out.head.getAs[Double]("recall") == 0.0)
  }

  private def md5Hash60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  test("winnowFingerprints matches a driver-side MOSS replica") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(d, "doc_id", "text",
      k = 4, w = 4).collect().head
    val toks = text.split("\\s+").toSeq
    val grams = toks.sliding(4).map(_.mkString(" ")).toSeq
    val hashes = grams.map(md5Hash60)
    val wins = hashes.sliding(4).map(_.min).toSeq.distinct.sorted
    assert(out.getAs[Long]("n_grams") == grams.length.toLong)
    assert(out.getSeq[Long](out.fieldIndex("fingerprints")) == wins)
    assert(out.getAs[Long]("n_fingerprints") == wins.length.toLong)
  }

  test("psiDrift: reference 0, identical group 0, psi grows with shift") {
    import spark.implicits._
    def rows(src: String, off: Long) =
      (1 to 40).map(i => (src + i, src, (i % 10) * 10 + off))
    val d = (rows("r", 0) ++ rows("same", 0) ++ rows("mild", 10)
      ++ rows("wild", 500))
      .toDF("doc_id", "source", "n_chars")
    val psi = TextAnalysis.psiDrift(d, "source", "n_chars", refGroup = "r")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(psi("r") == 0.0, s"reference psi ${psi("r")}")
    assert(psi("same") == 0.0, s"identical-distribution psi ${psi("same")}")
    assert(psi("mild") > 0.0 && psi("wild") > psi("mild"),
      s"mild ${psi("mild")} wild ${psi("wild")}")
  }

  test("psiDrift matches a driver-side replay with add-one smoothing") {
    import spark.implicits._
    // ref [1,2,3,4] with 2 bins → edge at median 2.5 → p = (3/6, 3/6);
    // shifted [3,4,5,6] → all above → q = (1/6, 5/6)
    val d = ((1 to 4).map(i => (i.toLong, "ref", i.toLong))
      ++ (5 to 8).map(i => (i.toLong, "hi", (i - 2).toLong)))
      .toDF("doc_id", "source", "n_chars")
    val psi = TextAnalysis.psiDrift(d, "source", "n_chars",
      refGroup = "ref", bins = 2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expect = (1.0 / 6 - 0.5) * math.log((1.0 / 6) / 0.5) +
      (5.0 / 6 - 0.5) * math.log((5.0 / 6) / 0.5)
    assert(math.abs(psi("hi") - expect) < 1e-9, s"${psi("hi")} vs $expect")
    assert(psi("ref") == 0.0)
  }

  test("standardizeDims: hand stats, constant dim maps to 0") {
    import spark.implicits._
    val d = Seq((1L, Seq(1f, 5f)), (2L, Seq(3f, 5f)), (3L, Seq(5f, 5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.standardizeDims(d, "vec_id", dims = 2)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val sd = math.sqrt(35.0 / 3 - 9.0)
    for ((id, x) <- Seq((1L, 1.0), (2L, 3.0), (3L, 5.0))) {
      assert(math.abs(out(id)(0) - (x - 3.0) / sd) < 1e-9, s"vec $id dim 1")
      assert(out(id)(1) == 0.0, s"constant dim must standardize to 0")
    }
  }

  test("standardizeDims: fixture z-scores have mean 0, variance 1 per dim") {
    val z = Similarity.standardizeDims(emb, "vec_id").collect()
      .map(_.getSeq[Double](1))
    val n = z.length.toDouble
    for (d <- 0 until 64) {
      val m = z.map(_(d)).sum / n
      val v = z.map(r => r(d) * r(d)).sum / n - m * m
      assert(math.abs(m) < 1e-6, s"dim $d mean $m")
      assert(math.abs(v - 1.0) < 1e-6, s"dim $d var $v")
    }
  }

  test("thresholdCurve: monotone, anchored at the verified pair count, full spine") {
    val curve = Dedup.thresholdCurve(docs, "doc_id", "text")
      .orderBy("threshold").collect()
      .map(r => r.getDouble(0) -> r.getLong(1))
    assert(curve.map(_._1).toSeq == Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    assert(curve.sliding(2).forall(p => p(0)._2 >= p(1)._2),
      curve.mkString(","))
    val base = Dedup.lshPairs(docs, "doc_id", "text").count()
    assert(curve.head._2 == base)
  }

  test("thresholdCurve: a dup-free corpus still emits the zero spine") {
    import spark.implicits._
    val d = Seq((1L, "alpha bravo charlie delta echo foxtrot"),
      (2L, "golf hotel india juliet kilo lima"))
      .toDF("doc_id", "text")
    val curve = Dedup.thresholdCurve(d, "doc_id", "text")
      .orderBy("threshold").collect()
    assert(curve.length == 5 && curve.forall(_.getLong(1) == 0L))
  }

  test("winnowFingerprints guarantee: a shared >= w+k-1 word run shares a fingerprint") {
    import spark.implicits._
    val run = "one two three four five six seven" // w+k-1 = 7 words
    val d = Seq((1L, s"alpha beta $run gamma delta"),
      (2L, s"x y z $run p q r s t")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](3).toSet)
      .toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
  }

  test("winnowFingerprints edges: sub-k doc empty, single-window doc one fp") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "a b c d e")) // 0 grams; 2 grams < w
      .toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_grams") == 0L)
    assert(out(0).getSeq[Long](out(0).fieldIndex("fingerprints")).isEmpty)
    assert(out(1).getAs[Long]("n_grams") == 2L)
    assert(out(1).getAs[Long]("n_fingerprints") == 1L)
  }

  test("dupFlowMatrix: pair total matches lshPairs; means are true jaccards") {
    val m = Dedup.dupFlowMatrix(docs, "doc_id", "text", "source").collect()
    assert(m.forall(r => r.getAs[String]("source_a") <= r.getAs[String]("source_b")),
      "matrix keys must be unordered-canonical")
    assert(m.map(_.getAs[Long]("n_pairs")).sum
      == Dedup.lshPairs(docs, "doc_id", "text").count(),
      "every verified pair lands in exactly one cell")
    assert(m.forall { r =>
      val mj = r.getAs[Double]("mean_jaccard"); mj >= 0.5 && mj <= 1.0
    }, m.mkString(";"))
  }

  test("freqSpectrum: hand spectrum with Good-Turing estimates, null where N_{r+1}=0") {
    import spark.implicits._
    val d = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = TextAnalysis.freqSpectrum(d, "text").orderBy("r").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(out(0).getDouble(2) == 2.0, "r*=2·N2/N1")
    assert(out(1).getDouble(2) == 3.0, "r*=3·N3/N2")
    assert(out(2).isNullAt(2), "no N4 -> raw GT undefined")
    // the maxR cut bounds OUTPUT rows but reads the r+1 neighbor first
    val cut = TextAnalysis.freqSpectrum(d, "text", maxR = 2L)
      .orderBy("r").collect()
    assert(cut.length == 2 && cut(1).getDouble(2) == 3.0)
  }

  test("calibrationBins: hand bins, closed top, exact gap arithmetic") {
    import spark.implicits._
    val d = Seq((0.05, 0.0), (0.12, 0.0), (0.18, 1.0), (0.95, 1.0), (1.0, 1.0))
      .toDF("quality_score", "label")
    val out = graft.llm.QualityClassifier.calibrationBins(d)
      .orderBy("bin").collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    assert(out.keySet == Set(0L, 1L, 9L))
    assert(out(0L).getAs[Long]("n") == 1 &&
      out(0L).getAs[Double]("frac_pos") == 0.0)
    assert(out(1L).getAs[Long]("n") == 2 &&
      out(1L).getAs[Double]("frac_pos") == 0.5 &&
      math.abs(out(1L).getAs[Double]("mean_p") - 0.15) < 1e-12)
    assert(out(9L).getAs[Long]("n") == 2,
      "a score of exactly 1.0 folds into the top bin")
    assert(math.abs(out(9L).getAs[Double]("gap")
      - (1.0 - 0.975)) < 1e-12)
  }

  test("ece: weighted gap fold over the hand calibration frame") {
    import spark.implicits._
    val d = Seq((0.05, 0.0), (0.12, 0.0), (0.18, 1.0), (0.95, 1.0), (1.0, 1.0))
      .toDF("quality_score", "label")
    val out = graft.llm.QualityClassifier.ece(d).collect().head
    assert(out.getAs[Long]("n_total") == 5L)
    // bins: 0 -> gap .05 (n=1), 1 -> gap .35 (n=2), 9 -> gap .025 (n=2)
    assert(math.abs(out.getAs[Double]("ece") - 0.16) < 1e-12,
      out.toString)
  }

  test("agreementKappa: hand 2x2 grids — chance-corrected, perfect, degenerate") {
    import spark.implicits._
    def kappa(rows: Seq[(Boolean, Boolean)]) =
      graft.llm.QualityClassifier.agreementKappa(
        rows.toDF("a", "b"), "a", "b").collect().head
    val r = kappa(Seq.fill(4)((true, true)) ++ Seq((true, false)) ++
      Seq((false, true)) ++ Seq.fill(4)((false, false)))
    assert(r.getAs[Long]("n_tt") == 4 && r.getAs[Long]("n_ff") == 4)
    assert(math.abs(r.getAs[Double]("p_o") - 0.8) < 1e-12)
    assert(math.abs(r.getAs[Double]("p_e") - 0.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("kappa") - 0.6) < 1e-12)
    val perfect = kappa(Seq.fill(3)((true, true)) ++ Seq.fill(2)((false, false)))
    assert(math.abs(perfect.getAs[Double]("kappa") - 1.0) < 1e-12)
    val degen = kappa(Seq.fill(3)((true, true)))
    assert(degen.isNullAt(degen.fieldIndex("kappa")),
      "constant marginals (p_e = 1) must yield null, not NaN")
  }

  test("filterFunnelBy: per-source funnels are additive with the global funnel") {
    val bySrc = TextAnalysis.filterFunnelBy(docs, "doc_id", "text",
      Some("lang"), Seq("source"))
    val global = TextAnalysis.filterFunnel(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("stage") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    val sums = bySrc.groupBy("stage")
      .agg(org.apache.spark.sql.functions.sum("n_docs").as("nd"),
        org.apache.spark.sql.functions.sum("n_tokens").as("nt"))
      .collect().map(r => r.getAs[Long]("stage") ->
        (r.getAs[Long]("nd"), r.getAs[Long]("nt"))).toMap
    assert(sums == global, s"per-source sums $sums vs global $global")
    val stages = bySrc.select("stage_name").distinct()
      .collect().map(_.getString(0)).toSet
    assert(stages == Set("all", "repetition", "lang_match", "quality"))
  }

  test("filterFunnelBy without a lang column: three stages, quality chains from repetition") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "spam spam spam spam spam spam spam spam"),
      (3L, "one two three 12345 67890 111213 141516 171819 202122 232425"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.filterFunnelBy(d, "doc_id", "text", None, Nil,
        maxDigitRuns = 2L)
      .orderBy("stage").collect()
    assert(out.map(_.getAs[String]("stage_name")).toSeq
      == Seq("all", "repetition", "quality"))
    assert(out.map(_.getAs[Long]("stage")).toSeq == Seq(0L, 1L, 2L))
    // doc 2 dies at repetition; doc 3 survives repetition but dies at
    // the digit-run floor; doc 1 survives everything
    assert(out.map(_.getAs[Long]("n_docs")).toSeq == Seq(3L, 2L, 1L))
  }

  test("readability: hand-computed Flesch and FK grade, vowelless floor") {
    import spark.implicits._
    val d = Seq((1L, "Hello world. This is fun!"), (2L, "xyz qrt"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.readability(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: 5 words, 2 sentence runs, vowel runs h[e]ll[o] w[o]rld
    // th[i]s [i]s f[u]n = 6 >= 5 words
    assert(out(0).getAs[Long]("n_words") == 5L)
    assert(out(0).getAs[Long]("n_sents") == 2L)
    assert(out(0).getAs[Long]("n_syll") == 6L)
    val wps = 5.0 / 2.0; val spw = 6.0 / 5.0
    assert(math.abs(out(0).getAs[Double]("flesch")
      - (206.835 - 1.015 * wps - 84.6 * spw)) < 1e-12)
    assert(math.abs(out(0).getAs[Double]("fk_grade")
      - (0.39 * wps + 11.8 * spw - 15.59)) < 1e-12)
    // doc 2: zero vowel runs floors at the 2-word count; no sentence
    // punctuation floors sentences at 1
    assert(out(1).getAs[Long]("n_sents") == 1L)
    assert(out(1).getAs[Long]("n_syll") == 2L)
  }

  test("mattr: hand windows, TTR fallback, length-robust vs plain TTR") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a b"),               // w=2 windows: aa=1 aa=1 ab=2 -> 4
      (2L, "a b a"),                 // n=3 <= w=5 -> distinct 2, TTR 2/3
      (3L, ("a b c " * 40).trim))    // cyclic: every w=3 window distinct
      .toDF("doc_id", "text")
    val w2 = TextAnalysis.mattr(d.filter(col("doc_id") === 1L),
      "doc_id", "text", w = 2).collect().head
    assert(w2.getAs[Long]("mattr_sum") == 4L)
    assert(w2.getAs[Long]("n_windows") == 3L)
    assert(math.abs(w2.getAs[Double]("mattr") - 4.0 / 6.0) < 1e-12)
    val w5 = TextAnalysis.mattr(d.filter(col("doc_id") === 2L),
      "doc_id", "text", w = 5).collect().head
    assert(w5.getAs[Long]("mattr_sum") == 2L)
    assert(w5.getAs[Long]("n_windows") == 1L)
    assert(w5.getAs[Long]("width") == 3L)
    assert(math.abs(w5.getAs[Double]("mattr") - 2.0 / 3.0) < 1e-12)
    // the length-robustness claim itself: a 120-token cyclic doc keeps
    // MATTR = 1 at w=3 while its plain TTR has decayed to 3/120
    val w3 = TextAnalysis.mattr(d.filter(col("doc_id") === 3L),
      "doc_id", "text", w = 3).collect().head
    assert(w3.getAs[Long]("n_tokens") == 120L)
    assert(math.abs(w3.getAs[Double]("mattr") - 1.0) < 1e-12)
  }

  test("property: mattr kernel equals the brute-force sliding windows") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def draw[A](g: Gen[A], seed: Long, n: Int): Seq[A] = {
      var s = Seed(seed)
      (0 until n).map { _ =>
        val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v
      }
    }
    val gDoc = for {
      nw <- Gen.choose(0, 30)
      ts <- Gen.listOfN(nw, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield ts.mkString(" ")
    for (w <- Seq(1, 2, 5, 20)) {
      val texts = draw(gDoc, 1300L + w, 60).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val got = TextAnalysis.mattr(texts.toDF("doc_id", "text"),
          "doc_id", "text", w = w)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("mattr_sum")).toMap
      texts.foreach { case (id, t) =>
        val toks = t.trim.toLowerCase.split("\\s+", -1).toSeq
        val expect =
          if (toks.length <= w) toks.distinct.length.toLong
          else toks.sliding(w).map(_.distinct.length.toLong).sum
        assert(got(id) == expect, s"w=$w doc=$id text='$t'")
      }
    }
  }

  test("quantileNormalize: hand mapping onto the pooled distribution") {
    import spark.implicits._
    val d = Seq((1L, "X", 0L), (2L, "X", 10L), (3L, "Y", 1L), (4L, "Y", 2L),
      (5L, "Y", 3L), (6L, "Y", 4L), (7L, "Y", 5L), (8L, "Y", 6L))
      .toDF("doc_id", "source", "n_chars")
    val out = TextAnalysis.quantileNormalize(d, "doc_id", "source", "n_chars")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("q_norm")).toMap
    // pooled sorted: 0,1,2,3,4,5,6,10 (N=8)
    // X (n_g=2): r=1 -> pos ceil(8/2)=4 -> 3; r=2 -> pos 8 -> 10
    // Y (n_g=6): r=1..6 -> pos 2,3,4,6,7,8 -> 1,2,3,5,6,10
    assert(out == Map(1L -> 3L, 2L -> 10L, 3L -> 1L, 4L -> 2L,
      5L -> 3L, 6L -> 5L, 7L -> 6L, 8L -> 10L), out.toString)
  }

  test("quantileNormalize: single group is the identity; repartition-invariant; negatives raise") {
    import spark.implicits._
    val d = (1L to 37L).map(i => (i, "S", (i * 7) % 23))
      .toDF("doc_id", "source", "n_chars")
    val out = TextAnalysis.quantileNormalize(d, "doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getAs[Long]("q_norm")))
    // one group: within-group rank r targets pooled pos ceil(r*N/N) = r
    // under the SAME (value, id) order -> the row's own value
    assert(out.forall { case (_, v, q) => q == v }, out.mkString(","))
    val rep = TextAnalysis.quantileNormalize(d.repartition(7),
        "doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getAs[Long]("q_norm")))
    assert(rep.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    val neg = Seq((1L, "S", -3L), (2L, "S", 4L))
      .toDF("doc_id", "source", "n_chars")
    val e = intercept[Exception] {
      TextAnalysis.quantileNormalize(neg, "doc_id", "source", "n_chars")
        .collect()
    }
    assert(e.getMessage.contains("negative value") ||
      Option(e.getCause).exists(_.getMessage.contains("negative value")),
      e.toString)
  }

  test("sourceTermMi: disjoint vocabularies give MI = H(S), shared give 0, identity holds") {
    import spark.implicits._
    val disj = Seq((1L, "S1", "a a b"), (2L, "S2", "c d d"))
      .toDF("doc_id", "source", "text")
    val d = TextAnalysis.sourceTermMi(disj, "source", "text").collect().head
    // term determines source -> MI = H(S) = ln 2; H(T) > ln 2 -> NMI = 1
    assert(math.abs(d.getAs[Double]("mi") - math.log(2.0)) < 1e-9)
    assert(math.abs(d.getAs[Double]("h_source") - math.log(2.0)) < 1e-9)
    assert(math.abs(d.getAs[Double]("nmi") - 1.0) < 1e-9)
    // identity H(S,T) = H(S) + H(T) - MI
    assert(math.abs(d.getAs[Double]("h_joint") -
      (d.getAs[Double]("h_source") + d.getAs[Double]("h_term")
        - d.getAs[Double]("mi"))) < 1e-8)
    // identical per-source distributions -> every ln term is ln(1) = 0
    val same = Seq((1L, "S1", "a b"), (2L, "S2", "a b"))
      .toDF("doc_id", "source", "text")
    val s0 = TextAnalysis.sourceTermMi(same, "source", "text").collect().head
    assert(math.abs(s0.getAs[Double]("mi")) < 1e-15)
  }

  test("tokenGini: hand skew, uniform counts = 0, midrank ties") {
    import spark.implicits._
    // counts {a:3, b:2, c:1}: ranks asc 1,2,3 of counts 1,2,3 ->
    // G = (2*14 - 4*6) / (3*6) = 4/18
    val skew = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val g = TextAnalysis.tokenGini(skew, "text").collect().head
    assert(g.getAs[Long]("n_terms") == 3L && g.getAs[Long]("n_tokens") == 6L)
    assert(math.abs(g.getAs[Double]("gini") - 4.0 / 18.0) < 1e-15)
    // equal counts (all ties, midrank): perfectly equal -> 0
    val flat = Seq((1L, "a a b b c c d d")).toDF("doc_id", "text")
    assert(math.abs(TextAnalysis.tokenGini(flat, "text").collect().head
      .getAs[Double]("gini")) < 1e-15)
  }

  test("winnowPairs: identical docs pair at overlap 1, unrelated don't, maxDf prunes boilerplate") {
    import spark.implicits._
    val run = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"alt$i").mkString(" ")
    val d = Seq((1L, run), (2L, run), (3L, other)).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("shared"), r.getAs[Double]("overlap")))
    assert(pairs.length == 1 && pairs.head._1 == 1L && pairs.head._2 == 2L)
    assert(math.abs(pairs.head._4 - 1.0) < 1e-15)
    // five clones with maxDf = 3: every fingerprint df = 5 > 3 ->
    // pruned, zero pairs; with the default cap all 10 pairs survive
    val clones = (1L to 5L).map(i => (i, run)).toDF("doc_id", "text")
    assert(TextAnalysis.winnowPairs(clones, "doc_id", "text",
      maxDf = 3).count() == 0L)
    assert(TextAnalysis.winnowPairs(clones, "doc_id", "text").count() == 10L)
  }

  test("groupDispersion: identical pair = 1, orthogonal pair = 0, singleton null, matches brute force") {
    import spark.implicits._
    def vec(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(4 - xs.length)(0.0)).map(_.toFloat).toArray
    val d = Seq(
      ("same", vec(1, 2, 3)), ("same", vec(1, 2, 3)),
      ("orth", vec(1, 0, 0)), ("orth", vec(0, 1, 0)),
      ("solo", vec(5, 5)),
      ("mix", vec(1, 0, 0)), ("mix", vec(1, 1, 0)), ("mix", vec(0, 0, 1)))
      .toDF("label", "embedding")
    val out = graft.llm.Similarity.groupDispersion(d, "label",
        "embedding", dims = 4)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("centroid_norm"),
          Option(r.getAs[java.lang.Double]("mean_cos")).map(_.doubleValue)))
      .toMap
    assert(out("same")._1 == 2L)
    assert(math.abs(out("same")._2 - 1.0) < 1e-9)
    assert(math.abs(out("same")._3.get - 1.0) < 1e-9)
    assert(math.abs(out("orth")._3.get - 0.0) < 1e-9)
    assert(math.abs(out("orth")._2 - math.sqrt(2.0) / 2.0) < 1e-9)
    assert(out("solo")._3.isEmpty && math.abs(out("solo")._2 - 1.0) < 1e-9)
    // brute-force mean pairwise cosine over the 3-vector group
    val vs = Seq(Array(1.0, 0, 0), Array(1.0, 1, 0), Array(0.0, 0, 1))
      .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val pairs = for (i <- vs.indices; j <- vs.indices if i < j)
      yield vs(i).zip(vs(j)).map { case (a, b) => a * b }.sum
    assert(math.abs(out("mix")._3.get - pairs.sum / pairs.length) < 1e-9,
      s"got ${out("mix")._3} expect ${pairs.sum / pairs.length}")
    // a zero-norm vector has no direction: raise, never silently bias
    val zero = Seq(("z", vec(1, 2)), ("z", vec(0, 0)))
      .toDF("label", "embedding")
    val e = intercept[Exception] {
      graft.llm.Similarity.groupDispersion(zero, "label", "embedding",
        dims = 4).collect()
    }
    assert(e.getMessage.contains("zero-norm") ||
      Option(e.getCause).exists(_.getMessage.contains("zero-norm")),
      e.toString)
  }

  test("scriptMix: exact class counts, precedence tie-break, empty doc nulls") {
    import spark.implicits._
    val d = Seq(
      (1L, "ab1 2\tX"),  // 3 latin, 2 digit, 2 space
      (2L, ""),           // empty: zero counts, null fracs/dominant
      (3L, "12 ab"),      // 2 latin, 2 digit, 1 space: tie -> latin
      (4L, "@@@@"))       // all other
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptMix(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Long]("n_chars_total") == 7L)
    assert(r1.getAs[Long]("n_latin") == 3L &&
      r1.getAs[Long]("n_digit") == 2L && r1.getAs[Long]("n_space") == 2L &&
      r1.getAs[Long]("n_other") == 0L)
    assert(r1.getAs[String]("dominant") == "latin")
    val r2 = out(1)
    assert(r2.getAs[Long]("n_chars_total") == 0L)
    assert(r2.isNullAt(r2.fieldIndex("latin_frac")) &&
      r2.isNullAt(r2.fieldIndex("dominant")))
    assert(out(2).getAs[String]("dominant") == "latin",
      "latin wins the fixed precedence on ties")
    val r4 = out(3)
    assert(r4.getAs[Long]("n_other") == 4L &&
      r4.getAs[String]("dominant") == "other")
    assert(math.abs(r4.getAs[Double]("other_frac") - 1.0) < 1e-15)
  }

  test("binaryQuantRecall: sign codes exact, identical-sign query recalls its cosine twin") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] = {
      // pad to 60 dims alternating tiny +/- so codes are well-defined
      val pad = (xs.size until 60).map(i => if (i % 2 == 0) 0.01f else -0.01f)
      xs.map(_.toFloat) ++ pad
    }
    // code check: bits follow element signs exactly
    val d0 = Seq((1L, vec(1.0, -1.0, 2.0, -0.5))).toDF("vec_id", "embedding")
    val code = d0.select(graft.llm.Similarity
      .binarySignCode(col("embedding"), bits = 4).as("c"))
      .collect().head.getLong(0)
    assert(code == ((1L << 0) | (1L << 2)), s"got $code")
    // recall: query 1's nearest by cosine is its scaled twin (same
    // signs everywhere -> hamming 0) so BQ top-1 == exact top-1
    val d = Seq(
      (1L, vec(1.0, 1.0, -1.0, 1.0)),
      (2L, vec(2.0, 2.0, -2.0, 2.0)),   // scaled twin of 1
      (3L, vec(-1.0, -1.0, 1.0, -1.0))) // antipode
      .toDF("vec_id", "embedding")
    val out = graft.llm.Similarity.binaryQuantRecall(
      d.filter(col("vec_id") === 1L), d, k = 1).collect().head
    assert(out.getAs[Long]("n_overlap") == 1L &&
      out.getAs[Double]("recall") == 1.0)
  }

  test("simhashPairs: recall 1 vs brute-force hamming scan on the fixture, exact dups at 0") {
    val d = docs.limit(200)
    val got = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // brute-force reference over the SAME kernel fingerprints: every
    // pair within hamming 3 MUST be found (the 4-block pigeonhole
    // guarantee is exact, not probabilistic), none beyond it, and
    // reported distances match
    val sh = d.select(col("doc_id"), graft.functions.SimHash1660.column(
        TextAnalysis.tokens(col("text"))).getField("sh60").as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib) -> h.toLong).toMap
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture's exact dups must pair at hamming 0")
    assert(want.values.exists(_ == 0L))
  }

  test("mmrRerank: pure-relevance limit, redundancy penalty, monotone marginal scores") {
    import spark.implicits._
    // q = id0; id1 ≡ id2 exact duplicates (most relevant); id3 diverse
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.6f, 0.5f))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    // λ = 1: MMR degenerates to the relevance ranking
    val pure = graft.llm.Similarity.mmrRerank(q, vecs, k = 3,
      poolSize = 3, lambdaRel = 1.0).orderBy("mmr_rank").collect()
    val brute = graft.llm.Similarity.bruteForceTopK(q, vecs, 3)
      .orderBy("rank").collect()
    assert(pure.map(_.getLong(1)).toSeq == brute.map(r =>
      r.getAs[Long]("vec_id")).toSeq, "λ=1 must equal pure relevance")
    // λ = 0.2: after picking one duplicate, the OTHER duplicate is
    // maximally penalized (sim = 1) — the diverse id3 must rank 2nd
    val div = graft.llm.Similarity.mmrRerank(q, vecs, k = 3,
      poolSize = 3, lambdaRel = 0.2).orderBy("mmr_rank").collect()
    assert(div.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L),
      s"diversity pick order wrong: ${div.map(_.getLong(1)).toSeq}")
    // structural invariants on the real corpus: unique picks, dense
    // ranks, non-increasing marginal scores per query
    val real = graft.llm.Similarity.mmrRerank(
      emb.filter(col("vec_id") < 3), emb, k = 4, poolSize = 8,
      lambdaRel = 0.7).collect()
    for ((_, rows) <- real.groupBy(_.getLong(0))) {
      val sorted = rows.sortBy(_.getAs[Long]("mmr_rank"))
      assert(sorted.map(_.getAs[Long]("mmr_rank")).toSeq == (1L to 4L))
      assert(sorted.map(_.getLong(1)).distinct.length == 4, "no repeats")
      val scores = sorted.map(_.getAs[Double]("mmr_score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-12 },
        s"marginal scores must be non-increasing: ${scores.toSeq}")
    }
    intercept[IllegalArgumentException] {
      graft.llm.Similarity.mmrRerank(q, vecs, k = 5, poolSize = 3)
    }
  }

  test("hardNegatives: positives excluded as a set, hard = true top-k, channels disjoint & deterministic") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 4)
    // two positives for anchor 0, one for the rest
    val p1 = graft.llm.Similarity.bruteForceTopK(queries, emb, 1)
      .select(col("query_id"), col("vec_id").as("pos_id"))
    val extra = Seq((0L, 40L)).toDF("query_id", "pos_id")
    val pos = p1.unionByName(extra)
    val out = graft.llm.Similarity.hardNegatives(pos, emb,
      kHard = 5, kRandom = 4).collect()
    val posSet = pos.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no positive and no self in any channel
    assert(out.forall(r => !posSet.contains((r.getLong(0), r.getLong(1)))),
      "positives must be excluded from both channels")
    assert(out.forall(r => r.getLong(0) != r.getLong(1)), "no self")
    // hard channel = brute top-5 after removing the positive set
    val brute = graft.llm.Similarity.bruteForceTopK(queries, emb, 8)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("vec_id"), r.getAs[Int]("rank")))
    for (q <- 0L until 4L) {
      val want = brute.filter(_._1 == q).sortBy(_._3).map(_._2)
        .filterNot(v => posSet.contains((q, v))).take(5).toSeq
      val got = out.filter(r => r.getLong(0) == q &&
        r.getString(3) == "hard").sortBy(_.getAs[Long]("neg_rank"))
        .map(_.getLong(1)).toSeq
      assert(got == want, s"anchor $q hard channel: $got vs $want")
    }
    // channels disjoint per anchor; random count honored
    for ((q, rows) <- out.groupBy(_.getLong(0))) {
      val (h, r) = rows.partition(_.getString(3) == "hard")
      assert(h.map(_.getLong(1)).toSet.intersect(
        r.map(_.getLong(1)).toSet).isEmpty, s"anchor $q channels overlap")
      assert(h.length == 5 && r.length == 4)
    }
    // determinism: a second run yields the identical random draw
    val again = graft.llm.Similarity.hardNegatives(pos, emb,
      kHard = 5, kRandom = 4).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .toSeq == again.map(r => (r.getLong(0), r.getLong(1),
        r.getString(3))).toSeq)
    intercept[IllegalArgumentException] {
      graft.llm.Similarity.hardNegatives(pos, emb, kHard = 0)
    }
  }

  test("rrfFuse: consensus beats either head, single-list ids fuse with one term") {
    import spark.implicits._
    // list A ranks: x=1, y=2, z=3; list B: y=1, w=2, x=3.
    // y (2,1) and x (1,3) are consensus; z and w appear once.
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("query_id", "id", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 40L, 2L), (1L, 10L, 3L))
      .toDF("query_id", "id", "rank")
    val out = graft.llm.Similarity.rrfFuse(a, b, k0 = 60, topK = 10)
      .orderBy("rank").collect()
    def t(r: Long) = 1.0 / (60.0 + r)
    // y: 1/62 + 1/61 beats x: 1/61 + 1/63
    assert(out(0).getAs[Long]("id") == 20L)
    assert(math.abs(out(0).getAs[Double]("rrf_score") - (t(2) + t(1))) == 0.0)
    assert(out(1).getAs[Long]("id") == 10L)
    // single-list ids carry one term and null source rank
    val z = out.find(_.getAs[Long]("id") == 30L).get
    assert(z.getAs[Double]("rrf_score") == t(3) &&
      z.isNullAt(z.fieldIndex("rank_b")))
    assert(out.length == 4)
  }

  test("isotonicCalibration: classic PAV pools, monotone, equals brute-force minimax") {
    import spark.implicits._
    // textbook case: rates [0, 1, 0, 1] -> PAV pools the middle
    // violator pair: [0, 1/2, 1/2, 1]
    val d = Seq((0.1, 0L), (0.2, 1L), (0.3, 0L), (0.4, 1L))
      .toDF("quality_score", "label")
    val out = graft.llm.QualityClassifier.isotonicCalibration(d)
      .orderBy("quality_score").collect()
    assert(out.map(_.getAs[Double]("iso_prob")).toSeq ==
      Seq(0.0, 0.5, 0.5, 1.0))
    // pseudo-random discrete case: monotone AND equal to the minimax
    // closed form iso_j = max_{i<=j} min_{k>=j} avg(i..k)
    val rnd = new scala.util.Random(7)
    val cells = (1 to 25).map(i =>
      (i / 100.0, rnd.nextInt(5) + 1L, rnd.nextInt(4).toLong))
      .map { case (p, w, pos) => (p, w, math.min(pos, w)) }
    val rows = cells.flatMap { case (p, w, pos) =>
      Seq.fill(pos.toInt)((p, 1L)) ++ Seq.fill((w - pos).toInt)((p, 0L)) }
    val got = graft.llm.QualityClassifier.isotonicCalibration(
      rows.toDF("quality_score", "label"))
      .orderBy("quality_score").collect()
      .map(r => (r.getDouble(0), r.getAs[Double]("iso_prob")))
    assert(got.sliding(2).forall(s => s.head._2 <= s.last._2), "monotone")
    val n = cells.length
    val wArr = cells.map(_._2).toArray
    val pArr = cells.map(_._3).toArray
    def avg(i: Int, k: Int): Double =
      (i to k).map(pArr).sum.toDouble / (i to k).map(wArr).sum.toDouble
    val minimax = (0 until n).map(j =>
      (0 to j).map(i => (j until n).map(k => avg(i, k)).min).max)
    got.map(_._2).zip(minimax).zipWithIndex.foreach { case ((a, b), j) =>
      assert(math.abs(a - b) < 1e-12, s"pos $j: pav=$a minimax=$b")
    }
    // least-squares property spot check: the fit never exceeds the
    // pooled total rate at the top and never undercuts at the bottom
    val totalRate = pArr.sum.toDouble / wArr.sum.toDouble
    assert(got.head._2 <= totalRate && got.last._2 >= totalRate)
  }

  test("prCurve: hand-computed confusion at a threshold, degenerate labels null") {
    import spark.implicits._
    val scored = Seq((0.9, 1L), (0.8, 0L), (0.6, 1L), (0.3, 0L))
      .toDF("quality_score", "label")
    val r = graft.llm.QualityClassifier.prCurve(scored,
      thresholds = Seq(0.5)).collect().head
    assert(r.getAs[Long]("tp") == 2L && r.getAs[Long]("fp") == 1L)
    assert(r.getAs[Long]("fn") == 0L && r.getAs[Long]("tn") == 1L)
    assert(math.abs(r.getAs[Double]("precision") - 2.0 / 3.0) < 1e-15)
    assert(r.getAs[Double]("recall") == 1.0)
    assert(math.abs(r.getAs[Double]("f1") - 0.8) < 1e-15)
    // no positives: recall/f1 null; precision still defined if tp+fp>0
    val neg = Seq((0.9, 0L), (0.2, 0L)).toDF("quality_score", "label")
    val rn = graft.llm.QualityClassifier.prCurve(neg,
      thresholds = Seq(0.5)).collect().head
    assert(rn.isNullAt(rn.fieldIndex("recall")) &&
      rn.isNullAt(rn.fieldIndex("f1")))
    assert(rn.getAs[Double]("precision") == 0.0)
  }

  test("prCurveByGroup: hand-computed per-slice confusion; every slice equals prCurve on that slice") {
    import spark.implicits._
    val scored = Seq(
      ("s1", 0.9, 1L), ("s1", 0.8, 0L), ("s1", 0.6, 1L), ("s1", 0.3, 0L),
      ("s2", 0.9, 0L), ("s2", 0.2, 0L))
      .toDF("source", "quality_score", "label")
    val out = graft.llm.QualityClassifier.prCurveByGroup(scored, "source",
      thresholds = Seq(0.5)).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val r1 = out("s1")
    assert(r1.getAs[Long]("tp") == 2L && r1.getAs[Long]("fp") == 1L &&
      r1.getAs[Long]("fn") == 0L && r1.getAs[Long]("tn") == 1L)
    assert(math.abs(r1.getAs[Double]("precision") - 2.0 / 3.0) < 1e-15 &&
      r1.getAs[Double]("recall") == 1.0 &&
      math.abs(r1.getAs[Double]("f1") - 0.8) < 1e-15)
    // the no-positive slice keeps its own degenerate nulls — the
    // global sweep (q248) would have averaged it away
    val r2 = out("s2")
    assert(r2.isNullAt(r2.fieldIndex("recall")) &&
      r2.isNullAt(r2.fieldIndex("f1")) &&
      r2.getAs[Double]("precision") == 0.0)
    // slice-equality across all default thresholds: each group's rows
    // must equal prCurve run on that slice alone
    val grouped = graft.llm.QualityClassifier.prCurveByGroup(scored, "source")
      .collect()
      .groupBy(_.getAs[String]("source"))
      .map { case (g, rows) =>
        g -> rows.map(r => r.getAs[Double]("threshold") ->
          (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"),
            r.getAs[Long]("tn"))).toMap }
    for (src <- Seq("s1", "s2")) {
      val slice = graft.llm.QualityClassifier.prCurve(
        scored.filter(col("source") === src)).collect()
        .map(r => r.getAs[Double]("threshold") ->
          (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"),
            r.getAs[Long]("tn"))).toMap
      assert(grouped(src) == slice, s"slice $src must match prCurve")
    }
  }

  test("hybridSearchIndexed: equals RRF over the two legs computed independently") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-hyb").toString
    Similarity.buildIvfIndex(emb, tmp,
      centroids = Some(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))))
    val queries = Seq((1L, "dup key scan"), (2L, "hash join merge"))
      .toDF("query_id", "query_text")
    val qv = emb.filter(col("vec_id").isin(1L, 2L))
    val k = 5
    val got = Similarity.hybridSearchIndexed(spark, tmp, docs,
      "doc_id", "text", queries, qv, k = k, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("id"), r.getAs[Double]("rrf_score"))).toMap
    // independent replay: collect each leg, fold RRF on the driver
    val lex = TextAnalysis.bm25TopK(docs, queries, "doc_id", "text", k)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("doc_id")) -> r.getAs[Long]("rank")).toMap
    val den = Similarity.ivfTopKIndexed(spark, tmp, qv, k, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("vec_id")) -> r.getAs[Int]("rank").toLong).toMap
    for (q <- Seq(1L, 2L)) {
      val ids = (lex.keySet ++ den.keySet).filter(_._1 == q).map(_._2)
      val want = ids.toSeq.map { id =>
        val s = lex.get((q, id)).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
          den.get((q, id)).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
        (id, s)
      }.sortBy { case (id, s) => (-s, id) }.take(k)
      want.zipWithIndex.foreach { case ((id, s), i) =>
        val (gid, gs) = got((q, i + 1L))
        assert(gid == id && math.abs(gs - s) < 1e-12,
          s"query $q rank ${i + 1}: got ($gid, $gs) want ($id, $s)")
      }
    }
  }

  test("rankingQuality: hand-computed nDCG/MRR/hits, perfect ranking scores exactly 1") {
    import spark.implicits._
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    // q1: ranks [10,20,30], truth {20,30,40} -> hits 2, first hit at 2
    // q2: no overlap; q3: ranking IS the truth in order -> ndcg = 1
    val ranking = Seq(
      (1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (2L, 50L, 1L), (2L, 60L, 2L),
      (3L, 70L, 1L), (3L, 80L, 2L))
      .toDF("query_id", "vec_id", "rank")
    val truth = Seq(
      (1L, 20L), (1L, 30L), (1L, 40L),
      (2L, 99L),
      (3L, 70L), (3L, 80L))
      .toDF("query_id", "vec_id")
    val out = Similarity.rankingQuality(ranking, truth, k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("hits") == 2L && r1.getAs[Double]("mrr") == 0.5)
    val dcg1 = 1.0 / lg2(3.0) + 1.0 / lg2(4.0)
    val idcg1 = 1.0 + 1.0 / lg2(3.0) + 1.0 / lg2(4.0)
    assert(math.abs(r1.getAs[Double]("dcg") - dcg1) < 1e-9)
    assert(math.abs(r1.getAs[Double]("idcg") - idcg1) < 1e-9)
    assert(math.abs(r1.getAs[Double]("ndcg") - dcg1 / idcg1) < 1e-9)
    // zero overlap: everything zero, idcg still from the truth size
    val r2 = out(2L)
    assert(r2.getAs[Long]("hits") == 0L && r2.getAs[Double]("mrr") == 0.0 &&
      r2.getAs[Double]("dcg") == 0.0 && r2.getAs[Double]("ndcg") == 0.0)
    assert(math.abs(r2.getAs[Double]("idcg") - 1.0) < 1e-12,
      "singleton truth: idcg = 1/log2(2) = 1")
    // perfect ranking: dcg and idcg are the SAME decimal fold -> 1.0
    val r3 = out(3L)
    assert(r3.getAs[Double]("ndcg") == 1.0 && r3.getAs[Double]("mrr") == 1.0)
  }

  test("rankBiasedOverlap: geometric closed form, swapped prefix, disjoint scores zero") {
    import spark.implicits._
    def rk(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("query_id", "vec_id", "rank")
    // identical rankings: A_d = 1 at every depth -> rbo = 1 - p^k
    val a1 = rk(Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L)))
    val r1 = Similarity.rankBiasedOverlap(a1, a1, k = 3, p = 0.5)
      .collect().head
    assert(r1.getAs[Long]("n_overlap") == 3L)
    assert(math.abs(r1.getAs[Double]("rbo") - (1.0 - 0.125)) < 1e-9)
    // swapped top-2 (A=[x,y], B=[y,x], k=2, p=.5): A_1=0, A_2=1
    // -> rbo = (1-p)*p = 0.25
    val ax = rk(Seq((1L, 10L, 1L), (1L, 20L, 2L)))
    val bx = rk(Seq((1L, 20L, 1L), (1L, 10L, 2L)))
    val r2 = Similarity.rankBiasedOverlap(ax, bx, k = 2, p = 0.5)
      .collect().head
    assert(math.abs(r2.getAs[Double]("rbo") - 0.25) < 1e-9)
    // disjoint rankings: the query survives with rbo exactly 0
    val cy = rk(Seq((1L, 90L, 1L), (1L, 91L, 2L)))
    val r3 = Similarity.rankBiasedOverlap(ax, cy, k = 2, p = 0.5)
      .collect().head
    assert(r3.getAs[Long]("n_overlap") == 0L &&
      r3.getAs[Double]("rbo") == 0.0)
  }

  test("vocabRichness: hand-computed spectrum, Good-Turing mass and Chao1") {
    import spark.implicits._
    // counts: a=3, b=2, c=1, d=1 -> N=7 V=4 n1=2 n2=1
    val d = Seq("a a b", "a b c d").toDF("text")
    val r = TextAnalysis.vocabRichness(d, "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 7L && r.getAs[Long]("vocab") == 4L)
    assert(r.getAs[Long]("n1") == 2L && r.getAs[Long]("n2") == 1L)
    assert(math.abs(r.getAs[Double]("unseen_mass") - 2.0 / 7.0) < 1e-15)
    // chao1 = 4 + 2*1/(2*2) = 4.5
    assert(math.abs(r.getAs[Double]("chao1") - 4.5) < 1e-15)
    // saturated corpus: no singletons -> zero unseen mass, chao1 = V
    val sat = Seq("x x y y", "x y").toDF("text")
    val rs = TextAnalysis.vocabRichness(sat, "text").collect().head
    assert(rs.getAs[Double]("unseen_mass") == 0.0)
    assert(rs.getAs[Double]("chao1") == 2.0)
  }

  test("winnowHeads: shared span surfaces, unique docs don't") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, shared + " unique1 tail1"),
      (2L, shared + " unique2 tail2"),
      (3L, "totally different words with no overlap at all here"))
      .toDF("doc_id", "text")
    val heads = TextAnalysis.winnowHeads(d, "doc_id", "text").collect()
    // the >= w+k-1 = 7-word shared run guarantees >= 1 shared
    // fingerprint between docs 1 and 2; doc 3 shares nothing
    assert(heads.nonEmpty, "shared span must leave a shared fingerprint")
    assert(heads.forall(_.getAs[Long]("n_docs") == 2L))
    // cross-check: heads are exactly the intersection of the two
    // docs' fingerprint sets, minus doc 3's
    val fps = TextAnalysis.winnowFingerprints(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](3).toSet).toMap
    val wantHeads = (fps(1L) & fps(2L)) -- fps(3L)
    assert(heads.map(_.getAs[Long]("fingerprint")).toSet == wantHeads)
  }

  test("kmeans training memo: same plan+params hits, different params miss, values identical") {
    Similarity.clearTrainingMemo()
    assert(Similarity.trainingMemoSizes == ((0, 0)))
    val c1 = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      exactMeans = true)
    val rows1 = c1.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(Similarity.trainingMemoSizes._1 == 1)
    // fresh DataFrame over the same table, same params -> memo HIT
    // (no new entry) served as a collected local relation — the
    // Pca.topComponent contract: repeat training costs zero jobs
    val c2 = Similarity.kmeansCentroids(
      graft.sources.Tables.load(spark, dir, "embeddings"),
      k = 8, iters = 2, exactMeans = true)
    assert(Similarity.trainingMemoSizes._1 == 1, "same plan must hit")
    assert(c2.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
      c2.queryExecution.optimizedPlan.toString.take(500))
    val rows2 = c2.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(rows1.map(_._1).sameElements(rows2.map(_._1)))
    rows1.zip(rows2).foreach { case ((_, a), (_, b)) => assert(a == b) }
    // different params -> miss -> a second entry, trained fresh
    Similarity.kmeansCentroids(emb, k = 4, iters = 2, exactMeans = true)
      .collect()
    assert(Similarity.trainingMemoSizes._1 == 2, "new params must miss")
    Similarity.clearTrainingMemo()
  }

  test("blockedDedupClusters: exactly CC(min-id) over the union of all three blockers' pairs") {
    // The composed pipeline must equal a driver union-find replay
    // over the three individually-verified pair streams — exact map
    // equality, so a blocker dropped from the union, a lost pair, or
    // a wrong label all fail loudly.
    val lsh = Dedup.withLshPairs(docs, "doc_id", "text") { p =>
      p.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val sn = Dedup.sortedNeighborPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sim = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val union = (lsh ++ sn ++ sim).toSet
    assert(lsh.nonEmpty && sim.nonEmpty,
      "fixture must trip at least LSH and simhash for a meaningful test")
    // driver union-find with min-root labels (the dupClusters rule)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    union.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val want = parent.keys.map(id => id -> find(id)).toMap
    val got = Dedup.blockedDedupClusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      s"cluster map mismatch: got ${got.size} rows, want ${want.size}")
    // the composed pair set is exactly the three public blockers' union
    val composed = Dedup.blockedDedupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(composed == union,
      s"composed pairs (${composed.size}) must equal lsh ∪ sn ∪ sim (${union.size})")
    // and the union genuinely adds over LSH alone on this fixture —
    // otherwise the composition gate would be vacuous
    assert(union.size > lsh.length || sn.nonEmpty || sim.nonEmpty)
  }

  test("blocker entry points: the only persisted RDD a call adds is its own result") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    def pinned(df: org.apache.spark.sql.DataFrame) = df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    val before = persisted
    val keepers = Dedup.blockedClusterKeepers(docs, "doc_id", "text", "n_chars")
    assert(keepers.count() == docs.count())
    // the keeper frame is lazy over the eager clusters: nothing pinned
    assert(persisted -- before == Set.empty, "blockedClusterKeepers")
    val existing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    for ((name, call) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "lshPairs" -> (() => Dedup.lshPairs(docs, "doc_id", "text")),
        "lshSurvivors" -> (() => Dedup.lshSurvivors(docs, "doc_id", "text")),
        "containmentPairs" -> (() =>
          Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.5)),
        "incrementalLshPairs" -> (() => Dedup.incrementalLshPairs(
          Dedup.signatureTable(batch, "doc_id", "text"),
          Dedup.signatureTable(existing, "doc_id", "text"))),
        "bbitJaccardEst" -> (() => Dedup.bbitJaccardEst(docs, "doc_id", "text")),
        "sortedNeighborPairs" -> (() =>
          Dedup.sortedNeighborPairs(docs, "doc_id", "text")),
        "setSimJoinPairs" -> (() =>
          Dedup.setSimJoinPairs(docs, "doc_id", "text", 0.5)),
        "incrementalSortedNeighborPairs" -> (() =>
          Dedup.incrementalSortedNeighborPairs(
            Dedup.sortKeyTable(existing, "doc_id", "text"),
            Dedup.sortKeyTable(batch, "doc_id", "text"))),
        "blockedDedupPairs" -> (() => Dedup.blockedDedupPairs(docs, "doc_id", "text")),
        "incrementalBlockedDedupPairs" -> (() =>
          Dedup.incrementalBlockedDedupPairs(
            Dedup.signatureTable(existing, "doc_id", "text"),
            Dedup.sortKeyTable(existing, "doc_id", "text"),
            Dedup.simhashTable(existing, "doc_id", "text"),
            batch, "doc_id", "text")))) {
      val before = persisted
      val result = call()
      // counted first: a lazily built cache registers its RDD only
      // when an action runs
      assert(result.count() > 0, s"$name found no pairs")
      val added = persisted -- before
      assert(added.size == 1 && added == pinned(result),
        s"$name left $added, its result pins ${pinned(result)}")
      added.foreach(id => sc.getPersistentRDDs(id).unpersist(false))
    }
  }

  test("bbitJaccardEst: identical docs estimate exactly 1, estimate tracks exact jaccard on candidates") {
    import spark.implicits._
    // two identical docs: all 12 minima equal -> all b-bit coords
    // agree -> P=1 -> est = (1-C)/(1-C) = exactly 1.0; jaccard 1.0
    val twin = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val tw = Dedup.bbitJaccardEst(twin, "doc_id", "text").collect()
    assert(tw.length == 1)
    assert(tw.head.getAs[Long]("n_agree") == 12L &&
      tw.head.getAs[Double]("j_bbit_est") == 1.0 &&
      tw.head.getAs[Double]("jaccard") == 1.0)
    // fixture candidates: the estimate is noisy at 12 hashes but must
    // (a) stay in its algebraic range, (b) track the exact jaccard
    // closely enough to be the store-sizing readout it claims to be
    val est = Dedup.bbitJaccardEst(docs, "doc_id", "text").collect()
    assert(est.nonEmpty, "fixture must produce band candidates")
    val lo = -(1.0 / 16.0) / (1.0 - 1.0 / 16.0) - 1e-12
    est.foreach { r =>
      val e = r.getAs[Double]("j_bbit_est")
      assert(e >= lo && e <= 1.0 + 1e-12, s"estimate out of range: $e")
    }
    val mae = est.map(r => math.abs(r.getAs[Double]("j_bbit_est") -
      r.getAs[Double]("jaccard"))).sum / est.length
    assert(mae < 0.35, s"b-bit estimate too far from exact: mae=$mae")
  }

  test("incrementalSimhashPairs: equals the full run restricted to batch-involving pairs") {
    val cut = col("doc_id") % 3 === 0
    val incr = Dedup.incrementalSimhashPairs(
        Dedup.simhashTable(docs.filter(cut), "doc_id", "text"),
        Dedup.simhashTable(docs.filter(!cut), "doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("hamming"))
      .toMap
    val full = Dedup.simhashPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("hamming"))
      .filter { case ((a, b), _) => a % 3 == 0 || b % 3 == 0 }
      .toMap
    assert(incr == full,
      s"incremental (${incr.size}) must equal restricted full (${full.size})")
    assert(incr.nonEmpty, "fixture must trip simhash pairs across the cut")
    // existing x existing pairs never re-emitted
    assert(incr.keys.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 })
  }

  test("rakeKeywords: hand deg/freq scores, dedup of repeated phrases, stopword-only docs vanish") {
    import spark.implicits._
    val stop = Seq("the", "a", "of", "and", "is")
    val d = Seq(
      (1L, "deep learning networks of deep learning and fast inference"),
      (2L, "alpha beta of alpha beta"),
      (3L, "the a of and is")).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis
      .rakeKeywords(d, "doc_id", "text", stop, topK = 3).collect()
    val d1 = out.filter(_.getLong(0) == 1L).sortBy(_.getLong(1))
    // freq: deep 2, learning 2, networks 1, fast 1, inference 1
    // deg:  deep 5, learning 5, networks 3, fast 2, inference 2
    // "deep learning networks" = 2.5+2.5+3 = 8; "deep learning" = 5;
    // "fast inference" = 4
    assert(d1.map(_.getString(2)).toSeq ==
      Seq("deep learning networks", "deep learning", "fast inference"))
    assert(math.abs(d1(0).getDouble(3) - 8.0) < 1e-9)
    assert(math.abs(d1(1).getDouble(3) - 5.0) < 1e-9)
    assert(math.abs(d1(2).getDouble(3) - 4.0) < 1e-9)
    // repeated phrase dedupes to ONE candidate
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getString(2) == "alpha beta")
    // all-stopword doc emits nothing
    assert(!out.exists(_.getLong(0) == 3L))
    intercept[IllegalArgumentException] {
      graft.llm.TextAnalysis.rakeKeywords(d, "doc_id", "text", Nil)
    }
  }

  /** Every id-ordered pair of `corpus` with Jaccard ≥ `t` over its
    * hashed shingle sets: the brute-force completeness reference. */
  private def bruteSetSim(corpus: org.apache.spark.sql.DataFrame,
      t: Double): Map[(Long, Long), Double] = {
    import org.apache.spark.sql.functions.{size => asize}
    val sets = corpus.select(col("doc_id"),
      Dedup.hashedShingles(col("text")).as("shs"))
    val inter = asize(array_intersect(col("sa"), col("sb")))
    pairMap(sets.select(col("doc_id").as("ia"), col("shs").as("sa"))
      .join(sets.select(col("doc_id").as("ib"), col("shs").as("sb")),
        col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (inter.cast("double") /
          (asize(col("sa")) + asize(col("sb")) - inter).cast("double"))
          .as("j"))
      .filter(col("j") >= t))
  }

  private def pairMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("setSimJoinPairs: equals brute force on the corpus, exact at the threshold boundary") {
    val corpus = SetSimCorpora.diverse(spark)
    assert(!Dedup.setSimGate(corpus, "doc_id", "text", 0.5).blocked,
      "a diverse corpus must take the prefix path")
    val brute = bruteSetSim(corpus, 0.5)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val got = pairMap(Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.5))
    val kept = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the loan releases the sorted sets, the frequency table and the
    // prefix frame: the result's local checkpoint is all that is left
    assert(kept.size == 1, s"loan left $kept")
    kept.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(false))
    assert(got == brute,
      s"prefix filter must lose no pair: got ${got.size}, brute ${brute.size}")
    assert(brute.nonEmpty, "fixture must contain similar pairs")
    // threshold boundary: identical docs (J = 1) and an exactly-t pair
    import spark.implicits._
    val planted = Seq(
      (1L, "aaaaabbbbb"), (2L, "aaaaabbbbb"),       // J = 1
      (3L, "cccccddddd"), (4L, "ccccceeeee"),       // J = 1/11 < t
      (5L, "zzzzz"), (6L, "zzzzz"))
      .toDF("doc_id", "text")
    assert(!Dedup.setSimGate(planted, "doc_id", "text", 0.9).blocked)
    val pp = Dedup.setSimJoinPairs(planted, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp == Set((1L, 2L), (5L, 6L)), pp.toString)
  }

  test("setSimJoinPairs: the cost gate verifies length-compatible pairs directly on a low-diversity corpus") {
    val corpus = SetSimCorpora.lowDiversity(spark)
    val gate = Dedup.setSimGate(corpus, "doc_id", "text", 0.5)
    assert(gate.blocked && gate.lb > gate.pairs && gate.pairs == 200L * 199 / 2,
      gate.toString)
    // C recounted pair by pair with the join's own length comparisons
    val sizes = corpus.select(col("doc_id"),
        org.apache.spark.sql.functions.size(Dedup.hashedShingles(col("text"))))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1).toDouble)
    val compatible = (for ((ia, na) <- sizes; (ib, nb) <- sizes
      if ia < ib && nb >= 0.5 * na && 0.5 * nb <= na) yield 1L).sum
    assert(gate.c == compatible, s"gate C ${gate.c} vs recount $compatible")
    val brute = bruteSetSim(corpus, 0.5)
    assert(brute.get((198L, 199L)).contains(0.5) && brute.contains((3L, 197L)),
      s"fixture must hold an exact copy and a pair exactly at t: $brute")
    val got = pairMap(Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.5))
    assert(got == brute, s"blocked verify must equal brute force: got $got, brute $brute")
    // the documents fixture has the same shape and takes the same path
    assert(Dedup.setSimGate(docs, "doc_id", "text", 0.5).blocked)
    val fixtureBrute = bruteSetSim(docs, 0.5)
    assert(fixtureBrute.nonEmpty)
    assert(pairMap(Dedup.setSimJoinPairs(docs, "doc_id", "text", 0.5)) == fixtureBrute)
  }

  test("setSimJoinPairs blocked path: the loan keeps only the result; a reliable checkpoint works") {
    val corpus = SetSimCorpora.lowDiversity(spark)
    assert(Dedup.setSimGate(corpus, "doc_id", "text", 0.5).blocked)
    val brute = bruteSetSim(corpus, 0.5)
    def added(before: Set[Int]) = spark.sparkContext.getPersistentRDDs.keySet -- before
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val local = Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.5)
    // the local checkpoint of the result is the one persisted RDD left
    assert(added(before).size == 1, s"loan left ${added(before)}")
    assert(pairMap(local) == brute)
    added(before).foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(false))
    val dir = java.nio.file.Files.createTempDirectory("setsim-ckpt").toString
    val before2 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val reliable = TestSpark.withCheckpointDir(dir)(
      Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.5))
    assert(added(before2).isEmpty, s"reliable checkpoint left ${added(before2)}")
    assert(pairMap(reliable) == brute)
  }

  test("setSimJoinPairs blocked path: observations report the gate and the pairs the kernel verifies") {
    val corpus = SetSimCorpora.lowDiversity(spark)
    val gate = Dedup.setSimGate(corpus, "doc_id", "text", 0.5)
    assert(gate.blocked)
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          seen.put(name, row.getValuesMap[Any](row.schema.fieldNames))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.5)
      def byTag(suffix: String): Seq[Map[String, Any]] = {
        import scala.jdk.CollectionConverters._
        seen.asScala.collect { case (k, v) if k.endsWith(suffix) => v }.toSeq
      }
      // listener delivery is async
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
             (byTag("_gate").isEmpty || byTag("_cands").isEmpty))
        Thread.sleep(50)
      val g = byTag("_gate")
      assert(g.exists(m => m("path") == "blocked" &&
        m("c").asInstanceOf[Number].longValue == gate.c &&
        m("pairs").asInstanceOf[Number].longValue == gate.pairs &&
        m("lb").asInstanceOf[Number].doubleValue == gate.lb), s"gate observation: $g")
      val cands = byTag("_cands")
      assert(cands.exists(m => m("cand_rows_post").asInstanceOf[Number].longValue == gate.c),
        s"the blocked verify runs the kernel on C pairs: $cands vs ${gate.c}")
      assert(byTag("_cold").isEmpty && byTag("_hot_prefix").isEmpty,
        s"no prefix join runs on the blocked path: ${seen.keySet()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("setSimJoinPairs: no float-ceil false negative at an exactly-at-threshold pair (t = 0.2)") {
    import spark.implicits._
    // The regression corpus for the ceil cliff: at t = 0.2 the
    // positional bound t/(1+t)·(na+nb) = 0.2/1.2·12 evaluates to
    // 2.0000000000000004 in double, so the old ceil() form demanded
    // overlap ≥ 3 where the exact bound is 2. Docs 1 and 2 share
    // EXACTLY their two globally-frequent shingles (J = 2/10 = 0.2,
    // at the threshold), and the filler docs 3-5 make those shared
    // shingles the most frequent — forcing them to the BACK of the
    // rarity order, where the only common prefix token sits at rank
    // (5, 5) of (6, 6): overlap upper bound 1 + min(1, 1) = 2, which
    // the buggy filter pruned. Brute force is the completeness
    // oracle.
    val corpus = Seq(
      (1L, "abcdefghij"),  // shingles: abcde bcdef cdefg defgh efghi fghij
      (2L, "abcdefklmn"),  // shares exactly {abcde, bcdef} with doc 1
      (3L, "abcdefpqrst"),
      (4L, "abcdefuvwxy"),
      (5L, "abcdefzyxwv"))
      .toDF("doc_id", "text")
    val brute = bruteSetSim(corpus, 0.2)
    assert(!Dedup.setSimGate(corpus, "doc_id", "text", 0.2).blocked,
      "the ceiling regression lives on the prefix path")
    val got = Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(brute.contains((1L, 2L)) && brute((1L, 2L)) == 0.2,
      s"fixture must place (1,2) exactly at the threshold: $brute")
    assert(got == brute,
      s"exact join must keep the at-threshold pair: got $got, brute $brute")
  }

  test("setSimJoinPairs: hot-token salted grid preserves completeness on a hyper-frequent shingle") {
    import spark.implicits._
    // every doc contains the same 9-char core (5 shared shingles —
    // hyper-frequent, df = corpus size, guaranteed to enter short
    // prefixes), plus a per-doc tail; consecutive docs share tails so
    // real near-dup pairs exist. With hotTokenDf = 2 every shared
    // shingle is HOT and similar pairs can only meet through the
    // salted grid — equality with brute force proves the grid loses
    // nothing (same-bucket, cross-bucket, and at-threshold pairs).
    val core = "commoncor"
    val corpus = (0 until 40).map { i =>
      val g = i / 2
      val tail = s"${('a' + g % 7).toChar}${('a' + (g / 7) % 7).toChar}xyz${i % 2}"
      (i.toLong, core + tail) // (2k, 2k+1) differ in the LAST char only: J = 10/12
    }.toDF("doc_id", "text")
    val brute = bruteSetSim(corpus, 0.5)
    assert(brute.nonEmpty, "fixture must contain similar pairs")
    assert(!Dedup.setSimGate(corpus, "doc_id", "text", 0.5).blocked,
      "the salted grid lives on the prefix path")
    val gridded = Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.5,
      hotTokenDf = 2, saltBuckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(gridded == brute,
      s"salted grid must lose no pair: got ${gridded.size}, brute ${brute.size}")
    // and the guard-off path agrees (hot threshold above every df)
    val unguarded = Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.5,
      hotTokenDf = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(unguarded == brute)
  }

  test("setSimJoinPairs: observed metrics surface the grid arming decision and filter selectivity") {
    import spark.implicits._
    // the salted-grid fixture again: a hyper-frequent 9-char core so
    // hotTokenDf = 2 arms the grid — the observed metrics must show
    // hot tokens and the positional filter's pre/post counts
    val corpus = (0 until 40).map { i =>
      val g = i / 2
      val tail = s"${('a' + g % 7).toChar}${('a' + (g / 7) % 7).toChar}xyz${i % 2}"
      (i.toLong, "commoncor" + tail)
    }.toDF("doc_id", "text")
    assert(!Dedup.setSimGate(corpus, "doc_id", "text", 0.5).blocked,
      "the grid and positional-filter metrics live on the prefix path")
    val seen = new java.util.concurrent.ConcurrentHashMap[String,
      Map[String, Any]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          seen.put(name, row.getValuesMap[Any](row.schema.fieldNames))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // the eager pin runs through withAction, so the listener sees
      // the pair query's metrics
      Dedup.setSimJoinPairs(corpus, "doc_id", "text", 0.5,
        hotTokenDf = 2, saltBuckets = 3)
      // listener delivery is async — wait for the prefix observation
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def byTag(suffix: String): Seq[Map[String, Any]] = {
        val it = seen.entrySet().iterator()
        val out = scala.collection.mutable.Buffer[Map[String, Any]]()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey.endsWith(suffix)) out += e.getValue
        }
        out.toSeq
      }
      while (System.nanoTime() < deadline && (byTag("_hot_prefix").isEmpty ||
             byTag("_cold_prefix").isEmpty || byTag("_cands").isEmpty))
        Thread.sleep(50)
      def lng(m: Map[String, Any], k: String): Long =
        m(k).asInstanceOf[Number].longValue()
      // per-branch observations (r17 ADVICE): cold prefix rows and the
      // hot arming readout each sit on an exactly-once branch, so the
      // counts are exact — not inflated by self-join re-execution
      val pfxCold = byTag("_cold_prefix")
      assert(pfxCold.nonEmpty, s"cold prefix metrics missing: ${seen.keySet()}")
      assert(pfxCold.exists(m => lng(m, "prefix_rows") >= 1),
        s"cold prefix count missing: $pfxCold")
      // the metrics read what actually JOINS (prefix rows after the
      // rare-first cut — the df-40 core shingles rank last and never
      // enter prefixes; the hot tokens here are the df 3-7 tail
      // shingles): the arming readout must show hot tokens above the
      // threshold and a max-df strictly over hotTokenDf = 2
      val pfx = byTag("_hot_prefix")
      assert(pfx.nonEmpty, s"hot prefix metrics missing: ${seen.keySet()}")
      assert(pfx.exists(m => lng(m, "hot_tokens") >= 1 &&
        lng(m, "max_token_df") > 2 && lng(m, "hot_prefix_rows") >= 2),
        s"grid arming metrics wrong: $pfx")
      val cold = byTag("_cold"); val cands = byTag("_cands")
      assert(cold.nonEmpty && cands.nonEmpty, s"missing: ${seen.keySet()}")
      val pre = cold.map(lng(_, "cand_rows_pre")).max +
        byTag("_hot").map(lng(_, "hot_cand_rows_pre")).max
      val post = cands.map(lng(_, "cand_rows_post")).max
      assert(post <= pre && post >= 1,
        s"positional filter selectivity must be visible: pre=$pre post=$post")
    } finally spark.listenerManager.unregister(listener)
  }

  test("incrementalSortedNeighborPairs: equals the full run restricted to batch-involving pairs") {
    val cut = col("doc_id") % 3 === 0
    val incr = Dedup.incrementalSortedNeighborPairs(
        Dedup.sortKeyTable(docs.filter(!cut), "doc_id", "text"),
        Dedup.sortKeyTable(docs.filter(cut), "doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard"))
      .toMap
    val full = Dedup.sortedNeighborPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard"))
      .filter { case ((a, b), _) => a % 3 == 0 || b % 3 == 0 }
      .toMap
    assert(incr == full,
      s"incremental (${incr.size}) must equal restricted full (${full.size})")
    assert(incr.nonEmpty, "fixture must trip neighbor pairs across the cut")
    assert(incr.keys.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 },
      "existing x existing pairs never re-emitted")
  }

  test("tfidfCosineTopK: exact self-retrieval, idf downweights stopwords, OOV query empty") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana banana"),
      (3L, "the the the common words"),
      (4L, "cherry orchard harvest")).toDF("doc_id", "text")
    val qs = Seq(
      (1L, "apple banana cherry"), // doc 1 verbatim -> cos exactly 1 at rank 1
      (2L, "zzz qqq")              // fully out-of-vocabulary -> no rows
    ).toDF("query_id", "query_text")
    val out = graft.llm.TextAnalysis
      .tfidfCosineTopK(corpus, qs, "doc_id", "text", k = 4).collect()
    val q1 = out.filter(_.getLong(0) == 1L)
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    val top1 = out.filter(r => r.getLong(0) == 1L && r.getLong(1) == 1L).head
    assert(top1.getLong(2) == 1L, s"verbatim doc must rank first: $top1")
    assert(math.abs(top1.getDouble(3) - 1.0) < 1e-9, "self-cosine = 1")
    assert(q1.values.forall(c => c > 0.0 && c <= 1.0 + 1e-12))
    // doc 2 shares apple+banana, doc 4 shares only cherry; banana is
    // rarer than nothing special here but overlap count dominates
    assert(q1.contains(2L) && q1.contains(4L) && q1(2L) > q1(4L))
    assert(!out.exists(_.getLong(0) == 2L), "OOV-only query retrieves nothing")
  }

  test("incrementalBlockedDedupPairs: equals full-run three-blocker pairs restricted to batch-involving; clusters equal prior+delta closure") {
    val cut = col("doc_id") % 4 === 0
    val existing = docs.filter(!cut)
    val batch = docs.filter(cut)
    val sig = Dedup.signatureTable(existing, "doc_id", "text")
    val sk = Dedup.sortKeyTable(existing, "doc_id", "text")
    val fp = Dedup.simhashTable(existing, "doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch ≡ backfill on the union: the incremental composed pairs
    // are EXACTLY the full-run three-blocker pairs on existing ∪
    // batch that involve a batch doc (per-blocker contracts compose:
    // LSH/simhash decompose pairwise, sorted-neighborhood ranks over
    // the combined order)
    val full = pairSet(Dedup.blockedDedupPairs(docs, "doc_id", "text"))
    val incr = pairSet(Dedup.incrementalBlockedDedupPairs(
      sig, sk, fp, batch, "doc_id", "text"))
    val restricted = full.filter { case (a, b) => a % 4 == 0 || b % 4 == 0 }
    assert(incr == restricted,
      s"incremental (${incr.size}) must equal restricted full (${restricted.size})")
    assert(incr.nonEmpty, "fixture must trip pairs across the cut")
    assert(incr.forall { case (a, b) => a % 4 == 0 || b % 4 == 0 },
      "existing x existing pairs never re-emitted")
    // cluster deltas: closure over (prior pair log ∪ delta)
    val prior = Dedup.blockedDedupPairs(existing, "doc_id", "text")
    val got = Dedup.incrementalBlockedDedupClusters(
      sig, sk, fp, prior, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spark2 = spark
    import spark2.implicits._
    val replayEdges = (pairSet(prior) ++ incr).toSeq.toDF("id_a", "id_b")
    val replay = graft.llm.Corpus.dupClusters(replayEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == replay, "clusters must be the prior ∪ delta closure")
  }

  test("incrementalBlockedDedupClustersFromState: delta-aware close equals the full re-close across a multi-epoch sequence") {
    // steady-state chain: backfill state → nightly epoch 1 → its
    // output BECOMES the cluster artifact for nightly epoch 2; after
    // each epoch the delta-aware close must be value-identical to the
    // full-log re-close the q292 oracle replays
    def cmap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e0 = docs.filter(col("doc_id") % 4 =!= 0)
    val b1 = docs.filter(col("doc_id") % 8 === 0)
    val b2 = docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 8 =!= 0)
    assert(b1.count() > 0 && b2.count() > 0)
    val sig0 = Dedup.signatureTable(e0, "doc_id", "text")
    val sk0 = Dedup.sortKeyTable(e0, "doc_id", "text")
    val fp0 = Dedup.simhashTable(e0, "doc_id", "text")
    val pairs0 = Dedup.blockedDedupPairs(e0, "doc_id", "text")
    val clusters0 = graft.llm.Corpus.dupClusters(pairs0)
    // epoch 1
    val got1 = Dedup.incrementalBlockedDedupClustersFromState(
      sig0, sk0, fp0, pairs0, clusters0, b1, "doc_id", "text")
    val full1 = cmap(Dedup.incrementalBlockedDedupClusters(
      sig0, sk0, fp0, pairs0, b1, "doc_id", "text"))
    assert(cmap(got1) == full1,
      "epoch-1 delta-aware close must equal the full re-close")
    // epoch 2: log grows by epoch-1's delta, artifacts by the batch,
    // and got1 is the cluster state — the production artifact chain
    val delta1 = Dedup.incrementalBlockedDedupPairs(
      sig0, sk0, fp0, b1, "doc_id", "text")
    val pairs1 = pairs0.select(col("id_a"), col("id_b"))
      .unionByName(delta1.select(col("id_a"), col("id_b"))).distinct()
    val e1 = docs.filter(col("doc_id") % 4 =!= 0 || col("doc_id") % 8 === 0)
    val sig1 = Dedup.signatureTable(e1, "doc_id", "text")
    val sk1 = Dedup.sortKeyTable(e1, "doc_id", "text")
    val fp1 = Dedup.simhashTable(e1, "doc_id", "text")
    val got2 = cmap(Dedup.incrementalBlockedDedupClustersFromState(
      sig1, sk1, fp1, pairs1, got1, b2, "doc_id", "text"))
    val full2 = cmap(Dedup.incrementalBlockedDedupClusters(
      sig1, sk1, fp1, pairs1, b2, "doc_id", "text"))
    assert(got2 == full2,
      "epoch-2 delta-aware close over epoch-1's OUTPUT state must equal the full re-close")
    assert(got2.nonEmpty && got2 != cmap(clusters0),
      "fixture must actually change clusters across the epochs")
  }

  test("blockedClusterKeepers: one keeper per cluster, keep-longest, singletons keep themselves") {
    val out = Dedup.blockedClusterKeepers(docs, "doc_id", "text", "n_chars")
      .collect()
    assert(out.length == docs.count(), "every input doc must be emitted")
    out.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      val kept = rows.filter(_.getAs[Boolean]("kept"))
      assert(kept.length == 1, s"cluster $cid must keep exactly one")
      val maxScore = rows.map(_.getAs[Long]("n_chars")).max
      assert(kept.head.getAs[Long]("n_chars") == maxScore,
        s"cluster $cid keeper must be longest")
      assert(kept.head.getAs[Long]("doc_id") ==
        rows.filter(_.getAs[Long]("n_chars") == maxScore)
          .map(_.getAs[Long]("doc_id")).min,
        s"cluster $cid tie must break to the lower id")
    }
    // membership must be exactly the blocked clustering, with
    // singletons resolving to themselves through the left join
    val clusters = Dedup.blockedDedupClusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("cluster_id") == clusters.getOrElse(id, id))
    }
    assert(clusters.nonEmpty, "fixture must produce non-trivial clusters")
  }

  test("training memo staleness: overwrite-in-place keys a MISS and retrains fresh") {
    // The r14 ADVICE item: a plan-only key has relation-cache
    // staleness (InMemoryFileIndex equality is rootPaths-only, so an
    // in-place overwrite canonicalizes to the SAME plan). The key now
    // carries Lineage.inputSnapshot — (path, size, mtime) of the leaf
    // files — so the overwrite must key a miss and retrain on the new
    // bytes, never serve the old centroids.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("memo-stale")
      .toString
    def write(shift: Double): Unit =
      (0 until 32).map(i =>
        (i.toLong, Seq.tabulate(4)(j => i * 0.25 + j * 1.5 + shift)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(tmp)
    def train(): Array[(Long, Seq[Double])] =
      Similarity.kmeansCentroids(spark.read.parquet(tmp), k = 4,
        iters = 2, dims = 4, exactMeans = true)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    Similarity.clearTrainingMemo()
    write(0.0)
    val before = train()
    assert(Similarity.trainingMemoSizes._1 == 1)
    write(100.0) // same path, same canonicalized plan, new bytes
    val after = train()
    assert(Similarity.trainingMemoSizes._1 == 2,
      "overwrite-in-place must key a memo MISS (fresh snapshot)")
    assert(before.map(_._2) != after.map(_._2),
      "retrain must reflect the new data, not the memoized centroids")
    // unchanged files still hit: a third read of the same (new) data
    // adds no entry
    train()
    assert(Similarity.trainingMemoSizes._1 == 2,
      "unchanged files must still memo-hit")
    Similarity.clearTrainingMemo()
    assert(Similarity.trainingMemoSizes == ((0, 0)))
  }

  test("int8TopK: codes hand-computed, quantized ranking close to the float baseline") {
    import spark.implicits._
    // (1,-2,4,0.5): scale 4 -> floor(x*127/4 + .5) = (32, -63, 127, 16)
    val d = Seq((1L, Seq(1.0f, -2.0f, 4.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val cs = d.orderBy("vec_id").select(
      graft.functions.Int8Codes.column(col("embedding"), 4))
      .collect().map(_.getSeq[Double](0))
    assert(cs(0) == Seq(32.0, -63.0, 127.0, 16.0))
    assert(cs(1) == Seq(0.0, 0.0, 0.0, 0.0), "zero vector -> zero codes")
    // quantized serving vs the float baseline on the fixture: 8-bit
    // symmetric quantization barely moves a 64-dim cosine ranking —
    // read the cost with rankingQuality, assert it stays small
    val q = emb.filter(col("vec_id") < 10)
    val rq = Similarity.rankingQuality(
      Similarity.int8TopK(q, emb, 10),
      Similarity.bruteForceTopK(q, emb, 10), k = 10).collect()
    val meanNdcg = rq.map(_.getAs[Double]("ndcg")).sum / rq.length
    val meanHits = rq.map(_.getAs[Long]("hits")).sum.toDouble / rq.length
    assert(meanNdcg > 0.8, s"quantized ndcg collapsed: $meanNdcg")
    assert(meanHits > 7.0, s"quantized top-10 overlap collapsed: $meanHits")
  }

  test("int8QuantStats: hand-computed round-trip errors, zero vector exact") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(1.0f, -2.0f, 4.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.int8QuantStats(d, "vec_id", dims = 4)
      .orderBy("vec_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Double]("scale") == 4.0)
    // replicate the exact scheme in driver doubles
    val v = Seq(1.0, -2.0, 4.0, 0.5)
    val errs = v.map { x =>
      val q = math.max(-127.0, math.min(127.0,
        math.floor((x * 127.0) / 4.0 + 0.5)))
      val dd = x - q * 4.0 / 127.0
      dd * dd
    }
    assert(math.abs(r1.getAs[Double]("mse") - errs.sum / 4.0) < 1e-15)
    assert(math.abs(r1.getAs[Double]("max_abs_err") -
      math.sqrt(errs.max)) < 1e-15)
    val r2 = out(1)
    assert(r2.getAs[Double]("scale") == 0.0 &&
      r2.getAs[Double]("mse") == 0.0 &&
      r2.getAs[Double]("max_abs_err") == 0.0)
    // malformed-embedding contract: a null element nulls the whole
    // readout (the kernel refuses, never NaN-soups)
    val bad = Seq((1L, Seq(Some(1.0f), None, Some(2.0f), Some(0.1f))))
      .toDF("vec_id", "embedding")
    val rb = Similarity.int8QuantStats(bad, "vec_id", dims = 4)
      .collect().head
    assert(rb.isNullAt(rb.fieldIndex("scale")) &&
      rb.isNullAt(rb.fieldIndex("mse")))
  }
}
