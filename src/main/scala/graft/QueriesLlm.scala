package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Queries.Q
import graft.functions.GraftFunctions._
import graft.llm.{Corpus, Dedup, Multimodal, Pca, QualityClassifier, Similarity, TextAnalysis}
import graft.sources.Tables

/** Inventory batch 2: window functions, set ops, JSON, and the
  * north-star LLM-pipeline operators (text analysis, dedup families,
  * similarity search). Shared determinism rules in [[Queries]]. */
object QueriesLlm {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  // ---------------------------------------------------------- windows
  /** Window functions over the event stream: row_number, lag, running
    * decimal-sum (all computed in one shuffle on user_id). */
  private val q9 = Q("q9_window_events",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        sum(col("value").cast(DecimalType(30, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id,
             row_number() OVER w AS rn,
             lag(value) OVER w AS prev_value,
             CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id"""))

  // ---------------------------------------------------------- set ops
  private def segA(s: SparkSession, dir: String) =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
  private def segB(s: SparkSession, dir: String) =
    t(s, dir, "customer").filter(col("c_acctbal") > 7000)
      .select(col("c_custkey"))

  private val setopSqlA = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
  private val setopSqlB = "SELECT c_custkey FROM customer WHERE c_acctbal > 7000"

  /** UNION / INTERSECT / EXCEPT in one tagged pass. */
  private val q10 = Q("q10_setops",
    (s, dir) => {
      val a = segA(s, dir); val b = segB(s, dir)
      a.union(b).distinct().select(lit("union").as("op"), col("c_custkey"))
        .unionAll(a.intersect(b).select(lit("intersect").as("op"), col("c_custkey")))
        .unionAll(a.except(b).select(lit("except").as("op"), col("c_custkey")))
        .orderBy("op", "c_custkey")
    },
    Some(s"""
      SELECT 'union' AS op, c_custkey FROM ($setopSqlA UNION $setopSqlB)
      UNION ALL
      SELECT 'intersect' AS op, c_custkey FROM ($setopSqlA INTERSECT $setopSqlB)
      UNION ALL
      SELECT 'except' AS op, c_custkey FROM ($setopSqlA EXCEPT $setopSqlB)
      ORDER BY op, c_custkey"""))

  // ----------------------------------------------------- time buckets
  /** Hourly event-time windowed aggregation (batch shape of the
    * Structured Streaming windowed agg in graft.streaming). */
  private val q29 = Q("q29_hourly_events",
    (s, dir) => t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value"), 2).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("hour"),
    Some(s"""
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             COUNT(*) AS n_events,
             ${dsumSql("value", 2)} AS sum_value,
             COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1 ORDER BY hour"""))

  // -------------------------------------------------------------- json
  /** Semi-structured JSON property extraction (reference ingests sparse
    * JSON-RPC dicts, omni_rpc_client.py:100-114). */
  private val q30 = Q("q30_json_props",
    (s, dir) => t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("k_bucket"),
    Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
             COUNT(*) AS n,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
               AS sum_k
      FROM events GROUP BY 1 ORDER BY k_bucket"""))

  // ------------------------------------------------------ text analysis
  private val enStop = Seq("the", "a", "of", "and", "is")

  private val q17 = Q("q17_text_stats",
    (s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(txt).as("n_tokens"),
        TextAnalysis.meanTokenLen(txt).as("mean_token_len"),
        TextAnalysis.punctCount(txt).as("n_punct"),
        TextAnalysis.stopwordRatio(txt, enStop).as("stopword_ratio"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / len(toks) AS mean_token_len,
             length(text) - length(regexp_replace(text, '[.,!?;:''"-]', '', 'g'))
               AS n_punct,
             CAST(len(list_filter(toks, t ->
               t IN ('the','a','of','and','is'))) AS DOUBLE) / len(toks)
               AS stopword_ratio
      FROM (SELECT doc_id, text,
              regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents)
      ORDER BY doc_id"""))

  private val q18 = Q("q18_lang_id",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("predicted_lang"))
      .orderBy("doc_id"),
    Some {
      val markers = TextAnalysis.langMarkers
      val scoreDefs = markers.map { case (l, ms) =>
        s"len(list_filter(toks, t -> t IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$l"
      }.mkString(",\n               ")
      val best = s"greatest(${markers.map(m => s"s_${m._1}").mkString(", ")})"
      val cases = markers.map { case (l, _) =>
        s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'"
      }.mkString("\n               ")
      s"""
      SELECT doc_id, lang,
             CASE $cases
               ELSE 'und' END AS predicted_lang
      FROM (SELECT doc_id, lang, $scoreDefs
            FROM (SELECT doc_id, lang,
                    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                  FROM documents))
      ORDER BY doc_id"""
    })

  private val q19 = Q("q19_token_regex",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.regexTokenCount(col("text")).as("n_bpe_tokens"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
               AS n_bpe_tokens,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
               AS n_ws_tokens
      FROM documents ORDER BY doc_id"""))

  private val q20 = Q("q20_fingerprint",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      FROM documents ORDER BY doc_id"""))

  // ------------------------------------------------------------- dedup
  private val q21 = Q("q21_dedup_exact",
    (s, dir) => Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("fp"),
    Some("""
      SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
             MIN(doc_id) AS keeper_id, COUNT(*) AS n_members
      FROM documents GROUP BY 1 ORDER BY fp"""))

  /** Shared DuckDB CTEs for the minhash pipeline. `dstr` = distinct
    * string shingles (drives the signature, identical to the native
    * MinHashSig expression); `d` = the 60-bit HASHED shingle sets the
    * exact-Jaccard verify runs on (mirrors Dedup.hashedShingles —
    * list_distinct AFTER the transform, so hash collisions collapse
    * identically on both engines). */
  private val duckMinhashCtes = """
      WITH dstr AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(length(text) - 4, 1)),
                 i -> substring(text, i, 5))) AS shs
        FROM documents),
      d AS (
        SELECT doc_id,
               list_distinct(list_transform(shs, x ->
                 ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
        FROM dstr),
      s AS (
        SELECT doc_id,
               list_transform(generate_series(0, 11), i ->
                 list_min(list_transform(shs, x ->
                   (('0x' || substr(md5(x), 1, 8))::BIGINT
                    + i * ('0x' || substr(md5(x), 9, 8))::BIGINT)
                   % 2147483647)))
                 AS sig
        FROM dstr)"""

  private val duckBandCte = """
      b AS (
        SELECT doc_id, gs.b AS band_idx,
               md5(sig[3 * gs.b + 1]::VARCHAR || '|' || sig[3 * gs.b + 2]::VARCHAR
                   || '|' || sig[3 * gs.b + 3]::VARCHAR) AS band_hash
        FROM s, generate_series(0, 3) gs(b)),
      p AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM b x JOIN b y USING (band_idx, band_hash)
        WHERE x.doc_id < y.doc_id),
      pre AS (
        SELECT id_a, id_b
        FROM p JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
        WHERE len(list_filter(generate_series(1, 12),
                  i -> sa.sig[i] = sb.sig[i])) >= 6),
      verified AS (
        SELECT id_a, id_b,
               len(list_intersect(da.sh, db.sh)) * 1.0
                 / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
                 AS jaccard
        FROM pre JOIN d da ON da.doc_id = id_a JOIN d db ON db.doc_id = id_b)"""

  private val q22 = Q("q22_minhash_sig",
    // parallelism floor (the lshPairs rule): the digest pass is the
    // whole cost and must not serialize onto one core behind an
    // unsplittable input file
    (s, dir) => t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        concat_ws(",",
          graft.functions.MinHashSig.column(col("text"), 12)).as("sig"))
      .orderBy("doc_id"),
    Some(s"""$duckMinhashCtes
      SELECT doc_id, array_to_string(sig, ',') AS sig FROM s ORDER BY doc_id"""))

  private val q23 = Q("q23_lsh_pairs",
    (s, dir) => Dedup.lshPairs(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("id_a", "id_b"),
    Some(s"""$duckMinhashCtes,$duckBandCte
      SELECT id_a, id_b, jaccard FROM verified
      WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""))

  private val q24 = Q("q24_lsh_survivors",
    (s, dir) => Dedup.lshSurvivors(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"""$duckMinhashCtes,$duckBandCte,
      dead AS (
        SELECT DISTINCT id_b AS drop_id FROM verified WHERE jaccard >= 0.5)
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT drop_id FROM dead)
      ORDER BY doc_id"""))

  private val q25 = Q("q25_simhash",
    // native one-digest-per-token expression + parallelism floor; the
    // HOF Dedup.simhash16 is the reference formulation (16 digests per
    // token — LlmSpec pins value-equality between the two)
    (s, dir) => t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), graft.functions.SimHash1660
        .column(graft.llm.TextAnalysis.tokens(col("text"))).getField("sh16")
        .as("simhash"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(0, 15), j ->
               CASE WHEN 2 * len(list_filter(toks, t ->
                      strpos('89abcdef', substring(md5(t), j + 1, 1)) > 0))
                    >= len(toks)
                    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)
               AS simhash
      FROM (SELECT doc_id,
              regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents)
      ORDER BY doc_id"""))

  // -------------------------------------------------------- similarity
  private val q26 = Q("q26_embed_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                 FROM embeddings WHERE vec_id < 10),
      s AS (
        SELECT query_id, vec_id,
               list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                    CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))
               AS cos
        FROM embeddings JOIN q ON vec_id <> query_id)
      SELECT query_id, rank, vec_id, cos FROM (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rank
        FROM s)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  private def duckCos(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> " +
        s"CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** IVF-bucketed ANN (the scale path next to q26's exact baseline):
    * nlist=16 seed centroids, corpus assigned to nearest list, queries
    * probe 2 lists, exact rescoring within. Fully deterministic →
    * oracle-checked. */
  /** Shared by q44 (in-memory ivfTopK) and q165 (the persisted index
    * grown by an incremental append): assignment is per-vector under
    * fixed seed centroids, so build(half)+append(rest) serves
    * value-identically to one full build — one replay oracles both. */
  private lazy val ivfSeedReplaySql: String = s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS c_emb
                 FROM embeddings WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${duckCos("e.embedding", "c.c_emb")} DESC, c.cid ASC)
                   AS r
          FROM embeddings e CROSS JOIN c)
        WHERE r = 1),
      probed AS (
        SELECT query_id, q_emb, cid FROM (
          SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckCos("q.embedding", "c.c_emb")} DESC, c.cid ASC)
                   AS r
          FROM embeddings q CROSS JOIN c WHERE q.vec_id < 10)
        WHERE r <= 2),
      scored AS (
        SELECT query_id, vec_id, ${duckCos("q_emb", "embedding")} AS cos
        FROM assigned JOIN probed USING (cid)
        WHERE vec_id <> query_id)
      SELECT query_id, rank, vec_id, cos FROM (
        SELECT query_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""

  private val q44 = Q("q44_ivf_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5, nlist = 16, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(ivfSeedReplaySql))

  /** IVF with a TRAINED index: deterministic Lloyd's k-means centroids
    * instead of q44's seed vectors — the same probe plan over a better
    * space partition. One refinement iteration in the gate (a real
    * build tunes `iters` offline and persists the index — see
    * Dedup.signatureTable for the same pattern). Rows-only (k-means
    * means are shuffle-order-dependent doubles); recall vs the exact
    * baseline is asserted in ScalaTest. */
  private val q75 = Q("q75_ivf_kmeans",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTrainedTopK(emb.filter(col("vec_id") < 10), emb, 5,
        nlist = 16, nprobe = 2, iters = 1, exactMeans = false)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    None)

  /** ANN via sign-random-projection buckets — scale path, recall < 1 by
    * design; no SQL oracle (rows-only check), validated against the
    * brute-force baseline in ScalaTest. */
  private val q27 = Q("q27_ann_lsh",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, 5, bits = 4)
        .orderBy("query_id", "rank")
    },
    None)

  // -------------------------------------------------------- multimodal
  /** Multimodal metadata plumbing: typed media table from opaque binary
    * payloads — the SQL-expressible half (kind/byte_len/frame count);
    * feature extraction itself is q32 (mapPartitions, rows-only). */
  private val q31 = Q("q31_media_meta",
    (s, dir) => {
      val media = Multimodal.mediaTable(t(s, dir, "documents"))
      media.select(
        col("media_id"), col("meta.kind").as("kind"),
        length(col("payload")).cast("long").as("byte_len"),
        size(Multimodal.frameOffsets(col("payload"), 32)).cast("long").as("n_frames"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             CAST(greatest((octet_length(encode(text)) - 1) // 32, 0) + 1 AS BIGINT)
               AS n_frames
      FROM documents ORDER BY doc_id"""))

  /** Feature extraction through the typed mapPartitions batch path,
    * now oracle-checked end to end: the corpus is REAL decodable
    * payloads of all three kinds (PNG via ImageIO, WAV via javax.sound,
    * AVI via the RIFF muxer), extractFeatures sniffs each payload's
    * magic bytes and routes it to the matching real decoder, and the
    * DuckDB oracle recomputes every normalized histogram from the
    * generator formulas alone. Float parity: both engines divide an
    * exact integer count by an exact integer total in float32, then
    * widen to double — bit-identical (q26 established the pattern). */
  private val q32 = Q("q32_media_features",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      def meta(kind: String) = Multimodal.MediaMeta(kind, 0, 0, 0)
      val img = Multimodal.pngImageTable(docs.filter(col("doc_id") % 3 === 0))
        .map(r => Multimodal.MediaRow(r.media_id, r.payload, meta("image")))
      val aud = Multimodal.wavAudioTable(docs.filter(col("doc_id") % 3 === 1))
        .map(r => Multimodal.MediaRow(r.media_id, r.payload, meta("audio")))
      val vid = Multimodal.aviVideoTable(docs.filter(col("doc_id") % 3 === 2))
        .map(r => Multimodal.MediaRow(r.media_id, r.payload, meta("video")))
      Multimodal.extractFeatures(img.union(aud).union(vid)).toDF()
        .select(Seq(col("media_id"), col("kind")) ++
          (0 until 8).map(i =>
            element_at(col("features"), i + 1).cast("double").as(s"f$i")): _*)
        .orderBy("media_id")
    },
    Some {
      val bins = (0 until 8).map(i =>
        s"SUM(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS c$i").mkString(",\n               ")
      val feats = (0 until 8).map(i =>
        s"CAST(CAST(c$i AS REAL) / CAST(n AS REAL) AS DOUBLE) AS f$i").mkString(",\n             ")
      s"""
      WITH imgs AS (
        SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        FROM documents WHERE doc_id % 3 = 0),
      ixs AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM imgs),
      ipx AS (
        SELECT media_id, w, h,
               ((media_id * 31 + x * 7 + unnest(range(0, h)) * 13) % 256) // 32 AS bin
        FROM ixs),
      ihist AS (
        SELECT media_id, w * h AS n,
               $bins
        FROM ipx GROUP BY media_id, w * h),
      clips AS (
        SELECT doc_id AS media_id, 400 + doc_id % 100 AS n
        FROM documents WHERE doc_id % 3 = 1),
      apx AS (
        SELECT media_id, n,
               ((media_id * 31 + unnest(range(0, n)) * 7) % 65536) // 8192 AS bin
        FROM clips),
      ahist AS (
        SELECT media_id, n,
               $bins
        FROM apx GROUP BY media_id, n),
      vids AS (
        SELECT doc_id AS media_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
               2 + doc_id % 4 AS nf
        FROM documents WHERE doc_id % 3 = 2),
      vfs AS (SELECT media_id, w, h, nf, unnest(range(0, nf)) AS f FROM vids),
      vxs AS (SELECT media_id, w, h, nf, f, unnest(range(0, w)) AS x FROM vfs),
      vpx AS (
        SELECT media_id, w * h * nf AS n,
               ((media_id * 31 + f * 17 + x * 7 + unnest(range(0, h)) * 13) % 256) // 32
                 AS bin
        FROM vxs),
      vhist AS (
        SELECT media_id, n,
               $bins
        FROM vpx GROUP BY media_id, n)
      SELECT media_id, 'image' AS kind,
             $feats
      FROM ihist
      UNION ALL
      SELECT media_id, 'audio' AS kind,
             $feats
      FROM ahist
      UNION ALL
      SELECT media_id, 'video' AS kind,
             $feats
      FROM vhist
      ORDER BY media_id"""
    })

  /** REAL image resize gate: decode (ImageIO) → scale (Graphics2D, 2×
    * nearest-neighbor) → re-encode (PNG) → decode AGAIN — the reported
    * histogram comes from the re-decoded RESIZED bytes, so the hash
    * passes only if the whole codec→raster→codec chain is exact. At 2×
    * nearest, every source pixel becomes a 2×2 block: the oracle is
    * the q81 pixel formula with doubled dimensions and 4× counts. */
  private val q116 = Q("q116_image_resize",
    (s, dir) => {
      import s.implicits._
      val media = Multimodal.pngImageTable(t(s, dir, "documents"))
        .map(r => Multimodal.MediaRow(r.media_id, r.payload,
          Multimodal.MediaMeta("image", 0, 0, 0)))
      val resized = Multimodal.resizeBy(media, 2, "nearest")
        .map(r => Multimodal.ImageRow(r.media_id, r.payload))
      Multimodal.decodeImageFeatures(resized).toDF().select(
        Seq(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height")) ++
        (0 until 8).map(i => element_at(col("hist"), i + 1).as(s"b$i")): _*)
        .orderBy("media_id")
    },
    Some("""
      WITH imgs AS (
        SELECT doc_id AS media_id,
               8 + doc_id % 9 AS w,
               8 + doc_id % 7 AS h
        FROM documents),
      xs AS (
        SELECT media_id, w, h, unnest(range(0, w)) AS x
        FROM imgs),
      px AS (
        SELECT media_id, w, h,
               ((media_id * 31 + x * 7 + unnest(range(0, h)) * 13) % 256) // 32
                 AS bin
        FROM xs)
      SELECT media_id,
             CAST(w * 2 AS BIGINT) AS width,
             CAST(h * 2 AS BIGINT) AS height,
             CAST(4 * SUM(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             CAST(4 * SUM(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(4 * SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
             CAST(4 * SUM(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
             CAST(4 * SUM(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
             CAST(4 * SUM(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
             CAST(4 * SUM(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
             CAST(4 * SUM(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
      FROM px
      GROUP BY media_id, w, h
      ORDER BY media_id"""))

  /** REAL image decode, oracle-proven: the corpus is deterministic
    * grayscale PNGs (encoded by the JDK's actual PNG writer), the
    * Spark side decodes the BYTES with javax.imageio and reports
    * width/height/8-bin luminance histogram, and the DuckDB oracle
    * recomputes the same numbers from the pixel FORMULA alone — the
    * hash-compare passes only if a real codec round-trip is exact.
    * (PNG is lossless, so it is.) Audio/video stay stubbed; this
    * retires the stub for the image kind. */
  private val q81 = Q("q81_image_decode",
    (s, dir) => {
      import s.implicits._
      val feats = Multimodal.decodeImageFeatures(
        Multimodal.pngImageTable(t(s, dir, "documents")))
      feats.toDF().select(
        Seq(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height")) ++
        (0 until 8).map(i => element_at(col("hist"), i + 1).as(s"b$i")): _*)
        .orderBy("media_id")
    },
    Some("""
      WITH imgs AS (
        SELECT doc_id AS media_id,
               CAST(8 + doc_id % 9 AS BIGINT) AS width,
               CAST(8 + doc_id % 7 AS BIGINT) AS height
        FROM documents),
      xs AS (
        SELECT media_id, width, height, unnest(range(0, width)) AS x
        FROM imgs),
      px AS (
        SELECT media_id, width, height,
               ((media_id * 31 + x * 7 + unnest(range(0, height)) * 13) % 256) // 32
                 AS bin
        FROM xs)
      SELECT media_id, width, height,
             CAST(SUM(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             CAST(SUM(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
             CAST(SUM(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
             CAST(SUM(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
             CAST(SUM(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
             CAST(SUM(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
             CAST(SUM(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
      FROM px
      GROUP BY media_id, width, height
      ORDER BY media_id"""))

  /** REAL audio decode, oracle-proven (the q81 pattern for sound): the
    * corpus is deterministic 16-bit PCM WAV clips written by the JDK's
    * real WAV encoder; Spark decodes the BYTES with javax.sound.sampled
    * and reports rate/frames/8-bin amplitude histogram; the oracle
    * recomputes the sample formula arithmetically. PCM is lossless, so
    * the hash-compare proves the codec round-trip. Video remains the
    * one documented stub (no JDK video codec exists). */
  private val q86 = Q("q86_audio_decode",
    (s, dir) => {
      import s.implicits._
      val feats = Multimodal.decodeAudioFeatures(
        Multimodal.wavAudioTable(t(s, dir, "documents")))
      feats.toDF().select(
        Seq(col("media_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("n_frames")) ++
        (0 until 8).map(i => element_at(col("hist"), i + 1).as(s"b$i")): _*)
        .orderBy("media_id")
    },
    Some("""
      WITH clips AS (
        SELECT doc_id AS media_id,
               CAST(8000 AS BIGINT) AS sample_rate,
               CAST(400 + doc_id % 100 AS BIGINT) AS n_frames
        FROM documents),
      px AS (
        SELECT media_id, sample_rate, n_frames,
               ((media_id * 31 + unnest(range(0, n_frames)) * 7) % 65536) // 8192
                 AS bin
        FROM clips)
      SELECT media_id, sample_rate, n_frames,
             CAST(SUM(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             CAST(SUM(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
             CAST(SUM(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
             CAST(SUM(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
             CAST(SUM(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
             CAST(SUM(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
             CAST(SUM(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
      FROM px
      GROUP BY media_id, sample_rate, n_frames
      ORDER BY media_id"""))

  /** Fuzzy string matching for dedup candidates: levenshtein distance
    * and a normalized similarity ratio over planted near-duplicate
    * pairs — the classic record-linkage verify step (both engines
    * implement the identical DP edit distance; integer output, so the
    * ratio divides exactly the same doubles). Candidates come from the
    * LSH band join, so at 100 TB this scores candidate pairs only,
    * never the cross product. */
  private val q88 = Q("q88_edit_distance",
    (s, dir) => {
      val pairs = Dedup.lshPairs(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      pairs
        .join(docs.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
        .join(docs.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"),
          (lit(1.0) - levenshtein(col("text_a"), col("text_b")).cast("double") /
            greatest(length(col("text_a")), length(col("text_b"))).cast("double"))
            .as("sim_ratio"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""$duckMinhashCtes,$duckBandCte,
      pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5)
      SELECT p.id_a, p.id_b,
             CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
             1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
               CAST(greatest(length(a.text), length(b.text)) AS DOUBLE)
               AS sim_ratio
      FROM pairs p
      JOIN documents a ON a.doc_id = p.id_a
      JOIN documents b ON b.doc_id = p.id_b
      ORDER BY p.id_a, p.id_b"""))

  /** Histogram quantile sketch (fixed-size mergeable state — the scale
    * path for percentiles; exact quantiles are q50): 64-bucket
    * equal-width sketch over l_extendedprice per returnflag, p50/p90/
    * p99 read out as bucket left edges. The DuckDB oracle implements
    * the identical sketch arithmetic, so ESTIMATES hash-match. */
  private val q90 = Q("q90_hist_quantiles",
    (s, dir) => graft.llm.HistogramSketch.estimate(
      t(s, dir, "lineitem"), "l_extendedprice", "l_returnflag",
      lo = 0.0, hi = 110000.0, bins = 64,
      ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .orderBy("grp"),
    Some("""
      WITH b AS (
        SELECT l_returnflag AS grp,
               least(greatest(CAST(FLOOR(
                 (CAST(l_extendedprice AS DOUBLE) - 0.0) * 64 / (110000.0 - 0.0))
                 AS BIGINT), 0), 63) AS bucket,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2),
      c AS (
        SELECT grp, bucket, cnt,
               SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
               SUM(cnt) OVER (PARTITION BY grp) AS n
        FROM b)
      SELECT grp,
             0.0 + (110000.0 - 0.0) / 64 * MIN(CASE WHEN cum >= ceil(0.5 * n) THEN bucket END) AS p50,
             0.0 + (110000.0 - 0.0) / 64 * MIN(CASE WHEN cum >= ceil(0.9 * n) THEN bucket END) AS p90,
             0.0 + (110000.0 - 0.0) / 64 * MIN(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END) AS p99
      FROM c GROUP BY grp ORDER BY grp"""))

  /** Engine-portable HLL distinct sketch (graft.llm.HllSketch): unlike
    * approx_count_distinct (q7a, engine-private sketch → rows-only),
    * this one is md5-derived and exact-arithmetic, so the DuckDB oracle
    * implements the identical sketch and the ESTIMATES hash-match.
    * Both the sketch and the exact check derive from ONE shared
    * distinct() of (flag, key): a register's value is max(rank) over
    * DISTINCT keys — duplicates cannot change a max — so the two md5
    * digests run per distinct key, not per raw row (at corpus scale
    * that's hash work ∝ cardinality, orders of magnitude below row
    * count), and the partial-distinct exchange feeds both consumers
    * (runtime exchange reuse). Estimates are value-identical to the
    * per-row formulation. */
  private val q46 = Q("q46_hll_distinct",
    (s, dir) => {
      import graft.llm.HllSketch._
      val d = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey")).distinct()
      val regs = d.select(col("l_returnflag"),
          bucket(col("l_partkey")).as("b"), rank(col("l_partkey")).as("r"))
        .groupBy("l_returnflag", "b").agg(max(col("r")).as("mr"))
      val est = regs.groupBy("l_returnflag")
        .agg((lit(Alpha * M * M) /
          (sum(expr("1.0 / shiftleft(1L, mr)")) + (lit(M) - count(lit(1)))))
          .as("hll_distinct"))
      val exact = d.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("l_returnflag")).orderBy("l_returnflag")
    },
    Some("""
      WITH h AS (
        SELECT l_returnflag,
               ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 2))::INT AS b,
               CASE WHEN ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 3, 6))::BIGINT = 0
                    THEN 25
                    ELSE 25 - length(bin(
                      ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 3, 6))::BIGINT))
               END AS r
        FROM lineitem),
      regs AS (SELECT l_returnflag, b, max(r) AS mr FROM h GROUP BY 1, 2),
      est AS (
        SELECT l_returnflag,
               0.7213 / (1 + 1.079 / 256) * 256 * 256
                 / (SUM(1.0 / (1::BIGINT << mr)) + (256 - COUNT(*)))
                 AS hll_distinct
        FROM regs GROUP BY 1)
      SELECT e.l_returnflag, e.hll_distinct, d.n_exact
      FROM est e JOIN (SELECT l_returnflag,
                              COUNT(DISTINCT l_partkey) AS n_exact
                       FROM lineitem GROUP BY 1) d USING (l_returnflag)
      ORDER BY l_returnflag"""))

  /** Training-chunk explosion: split each document into fixed-size
    * character chunks (the pre-tokenization sharding step of an LLM
    * data pipeline) — one output row per chunk, computed with
    * posexplode over a generated index (no UDF, rides the scan). */
  private val q51 = Q("q51_chunk_explode",
    (s, dir) => {
      val chunkLen = 120
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0),
            greatest(floor((length(col("text")) - 1) / chunkLen).cast("int"), lit(0))))
            .as(Seq("chunk_idx", "off")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          expr(s"substring(text, chunk_idx * $chunkLen + 1, $chunkLen)").as("chunk"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             substring(text, CAST(i * 120 + 1 AS INT), 120) AS chunk
      FROM (SELECT doc_id, text,
              unnest(generate_series(0,
                CAST(greatest((length(text) - 1) // 120, 0) AS BIGINT))) AS i
            FROM documents)
      ORDER BY doc_id, chunk_idx"""))

  /** Quality-flag family: repetition ratio, distinct-token ratio,
    * PII-ish pattern counts (emails/URLs/digit runs) — standard
    * training-data filters, all portable regex/array math. */
  private val q52 = Q("q52_quality_flags",
    (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        (size(array_distinct(toks)).cast("double") / size(toks))
          .as("distinct_ratio"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), lit(0))).cast("long")
          .as("n_emails"),
        size(regexp_extract_all(col("text"),
          lit("https?://[^\\s]+"), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(col("text"), lit("[0-9]{4,}"), lit(0)))
          .cast("long").as("n_long_digit_runs"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               AS distinct_ratio,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
               AS n_urls,
             CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS BIGINT)
               AS n_long_digit_runs
      FROM (SELECT doc_id, text,
              regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents)
      ORDER BY doc_id"""))

  /** Corpus-curation CAPSTONE — the operators composed as a real
    * training-data pipeline in ONE query: quality gate (token count,
    * distinct-token ratio, no URLs) → near-dup removal (MinHash LSH
    * survivors) → deterministic hash split → per-(split, lang) doc and
    * token counts. Every stage is the already-oracle-proven operator;
    * this gate proves they COMPOSE with unchanged semantics. Scale
    * shape: quality gate rides the scan, dedup is the bucketed band
    * join, split is a narrow md5 map — the one shuffle beyond dedup is
    * the final small aggregate. */
  private val q92 = Q("q92_corpus_pipeline",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      def toks = TextAnalysis.tokens(col("text"))
      val quality = docs.filter(
        size(toks) >= 5 &&
        (size(array_distinct(toks)).cast("double") / size(toks)) >= 0.5 &&
        size(regexp_extract_all(col("text"), lit("https?://[^\\s]+"), lit(0))) === 0)
      val dead = Dedup.lshPairs(docs, "doc_id", "text")
        .select(col("id_b").as("doc_id")).distinct()
      quality.join(dead, Seq("doc_id"), "left_anti")
        .select(graft.llm.Corpus.split(col("doc_id")).as("split"), col("lang"),
          size(toks).cast("long").as("n_toks"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("total_tokens"))
        .orderBy("split", "lang")
    },
    Some(s"""$duckMinhashCtes,$duckBandCte,
      dead AS (SELECT DISTINCT id_b FROM verified WHERE jaccard >= 0.5),
      toked AS (
        SELECT doc_id, lang, text,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents),
      kept AS (
        SELECT doc_id, lang, len(toks) AS n_toks
        FROM toked
        WHERE len(toks) >= 5
          AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.5
          AND len(regexp_extract_all(text, 'https?://[^\\s]+')) = 0
          AND doc_id NOT IN (SELECT id_b FROM dead)),
      labeled AS (
        SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 100 < 80 THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split,
               lang, n_toks
        FROM kept)
      SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS total_tokens
      FROM labeled
      GROUP BY split, lang
      ORDER BY split, lang"""))

  // ------------------------------------------- corpus management ops
  /** Embedding-cosine near-duplicate pairs (the vector-space member of
    * the dedup family, next to exact/MinHash/SimHash): SRP buckets →
    * in-bucket self-join → exact cosine ≥ τ. Oracle replicates the
    * deterministic md5-derived plane matrix as ±1 literals (generated
    * by the SAME Scala function the engine uses). */
  private def duckSrp(embCol: String, bits: Int = 8, dims: Int = 64): String =
    (0 until bits).map { p =>
      val terms = (0 until dims).map(d =>
        s"CAST($embCol[${d + 1}] AS DOUBLE) * (${Similarity.planeSign(p, d)})")
        .mkString(" + ")
      s"CASE WHEN ($terms) >= 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("(", "\n + ", ")")

  private val q56 = Q("q56_embed_neardup",
    (s, dir) => Similarity.nearDupPairs(t(s, dir, "embeddings"),
      "vec_id", "embedding", threshold = 0.3, bits = 8)
      .orderBy("id_a", "id_b"),
    Some(s"""
      WITH n AS (
        SELECT vec_id, embedding,
               ${duckSrp("embedding")} AS bucket,
               sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                 AS nrm
        FROM embeddings)
      SELECT id_a, id_b, cos FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (a.nrm * b.nrm) AS cos
        FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      WHERE cos >= 0.3 ORDER BY id_a, id_b"""))

  /** Near-dup PAIRS resolved into duplicate CLUSTERS (connected
    * components, min-id label) — the step between pair detection and
    * keeper selection in a real dedup pipeline. Oracle: recursive-CTE
    * transitive closure over the same verified pair list. Pairs are
    * consumed through the [[Dedup.withLshPairs]] loan — dupClusters
    * is eager on both its paths (driver union-find collect /
    * round-0-truncated big-star), so every LSH intermediate cache is
    * released the moment clustering returns instead of lingering
    * until LRU eviction. */
  private val q57 = Q("q57_dup_clusters",
    (s, dir) => Dedup.withLshPairs(t(s, dir, "documents"), "doc_id", "text") {
      pairs => graft.llm.Corpus.dupClusters(pairs)
    }.select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,
      p2 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p2
                UNION ALL SELECT id_b, id_a FROM p2),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst)
      SELECT id AS doc_id, MIN(r) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** The same clustering through the DISTRIBUTED large-star/small-star
    * path (Kiveris et al.): q57's pairs resolve through the byte-gated
    * driver union-find at gate scale, so `localMaxBytes = 0` forces
    * [[graft.llm.Corpus.bigStarClusters]] — making the code path a
    * 100 TB pair stream actually takes itself an oracle-checked
    * CORRECTNESS row (CorpusSpec pins fast-path agreement; this pins
    * the distributed path against the independent DuckDB closure). */
  private val q293 = Q("q293_bigstar_clusters",
    (s, dir) => Dedup.withLshPairs(t(s, dir, "documents"), "doc_id", "text") {
      pairs => graft.llm.Corpus.dupClusters(pairs, localMaxBytes = 0L)
    }.select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,
      p2 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p2
                UNION ALL SELECT id_b, id_a FROM p2),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst)
      SELECT id AS doc_id, MIN(r) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** Canonical-keeper resolution over the q57 cluster chain: the
    * keep-longest rule (argmax n_chars, tie → lower id) decided per
    * near-dup cluster — the dedup pipeline's last mile, the frame a
    * filtering write consumes. The oracle extends the q57 replay with
    * a per-cluster row_number argmax; singletons keep themselves. */
  private val q170 = Q("q170_cluster_keepers",
    (s, dir) => graft.llm.Dedup.clusterKeepers(
      t(s, dir, "documents"), "doc_id", "text", "n_chars")
      .orderBy("doc_id"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,
      p2 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p2
                UNION ALL SELECT id_b, id_a FROM p2),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
      kcl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      kbase AS (SELECT d.doc_id,
                       COALESCE(kcl.cluster_id, d.doc_id) AS cluster_id,
                       d.n_chars
                FROM documents d LEFT JOIN kcl ON kcl.id = d.doc_id),
      kkp AS (SELECT cluster_id, doc_id AS keeper FROM (
               SELECT cluster_id, doc_id,
                      row_number() OVER (PARTITION BY cluster_id
                        ORDER BY n_chars DESC, doc_id ASC) AS rk FROM kbase)
              WHERE rk = 1)
      SELECT kbase.doc_id, kbase.cluster_id, kbase.n_chars,
             (kbase.doc_id = kkp.keeper) AS kept
      FROM kbase JOIN kkp USING (cluster_id) ORDER BY kbase.doc_id"""))

  /** Deterministic leakage-safe train/val/test split: membership is a
    * pure function of the document key (md5 bucket), invariant under
    * re-runs, resharding and cluster size. */
  private val q58 = Q("q58_hash_split",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.llm.Corpus.split(col("doc_id")).as("split"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id, lang,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 < 80 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""))

  /** Deterministic stratified sample: smallest-md5 10% per language —
    * reproducible sampling with no RNG state shipped to executors. */
  private val q59 = Q("q59_stratified_sample",
    (s, dir) => graft.llm.Corpus.stratifiedSample(
      t(s, dir, "documents"), "lang", "doc_id", 0.1)
      .select(col("doc_id"), col("lang")).orderBy("doc_id"),
    Some("""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      WHERE rk <= ceil(n * 0.1) ORDER BY doc_id"""))

  /** PII scrub: emails/URLs/long digit runs → typed placeholders
    * (applied in a fixed order so both engines rewrite identically). */
  private val q60 = Q("q60_pii_redact",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        graft.llm.Corpus.redactPii(col("text")).as("redacted"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
               '[0-9]{4,}', '<NUM>', 'g') AS redacted
      FROM documents ORDER BY doc_id"""))

  /** TF-IDF top terms per document: tf and df stay integers in the
    * output (ln() is not bit-portable across libm builds), ranking by
    * (tf desc, df asc, term) — "frequent here, rare everywhere" —
    * which is order-equivalent to tf·idf for fixed tf and strictly
    * portable. df comes from the FULL corpus; output restricted to
    * the first 50 docs to keep the gate result bounded. */
  private val q69 = Q("q69_tfidf",
    (s, dir) => {
      val scored = TextAnalysis.tfIdf(t(s, dir, "documents"), "doc_id", "text")
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      scored.filter(col("doc_id") < 50)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
        .orderBy("doc_id", "rank")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
                      unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                        AS term
                    FROM documents),
      tc AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tc GROUP BY 1)
      SELECT doc_id, rank, term, tf, df FROM (
        SELECT tc.doc_id, tc.term, tf, df,
               row_number() OVER (PARTITION BY tc.doc_id
                 ORDER BY tf DESC, df ASC, tc.term ASC) AS rank
        FROM tc JOIN dfq USING (term)
        WHERE tc.doc_id < 50)
      WHERE rank <= 5 ORDER BY doc_id, rank"""))

  /** Corpus bigram top-k (language-model data-prep staple): index-zip
    * of consecutive tokens, one count aggregate, distributed top-k. */
  private val q70 = Q("q70_bigrams",
    (s, dir) => TextAnalysis.bigramCounts(t(s, dir, "documents"), "text")
      .orderBy(col("n").desc, col("bigram").asc).limit(20),
    Some("""
      WITH toks AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
                    FROM documents),
      bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1])) AS bigram
             FROM toks)
      SELECT bigram, COUNT(*) AS n FROM bg
      GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20"""))

  /** Count-min heavy hitters next to exact truth: the sketch is
    * md5-derived so the DuckDB oracle builds the IDENTICAL counters —
    * estimates hash-match exactly, and est ≥ exact by construction
    * (CMS only over-counts). Fixed depth×width state at any corpus
    * size; the distinct-count twin is q46 (HLL). */
  private val q76 = Q("q76_cms_heavyhitters",
    (s, dir) => {
      import graft.llm.CountMin
      val ev = t(s, dir, "events")
      val sketch = CountMin.build(ev, col("event_type"))
      val items = ev.select(col("event_type")).distinct()
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
      CountMin.estimate(sketch, items, "event_type")
        .join(exact, Seq("event_type"))
        .orderBy("event_type")
    },
    Some("""
      WITH h AS (
        SELECT event_type, g.j,
               ('0x' || substr(md5('cms' || g.j || ':' || event_type), 1, 8))::BIGINT
                 % 256 AS bucket
        FROM events, generate_series(0, 3) g(j)),
      sk AS (SELECT j, bucket, COUNT(*) AS c FROM h GROUP BY 1, 2),
      items AS (
        SELECT DISTINCT event_type,
               g.j,
               ('0x' || substr(md5('cms' || g.j || ':' || event_type), 1, 8))::BIGINT
                 % 256 AS bucket
        FROM events, generate_series(0, 3) g(j)),
      est AS (
        SELECT event_type, MIN(COALESCE(c, 0)) AS cms_count
        FROM items LEFT JOIN sk USING (j, bucket) GROUP BY 1)
      SELECT e.event_type, e.cms_count, x.n_exact
      FROM est e JOIN (SELECT event_type, COUNT(*) AS n_exact
                       FROM events GROUP BY 1) x USING (event_type)
      ORDER BY event_type"""))

  /** REAL video decode, oracle-proven (the q81/q86 pattern for video):
    * the corpus is deterministic gray clips muxed into genuine RIFF/AVI
    * containers with uncompressed DIB frames; Spark demuxes the BYTES
    * (dimensions/fps/frame count from the container headers, pixels
    * from the frame chunks) and the oracle recomputes the pixel formula
    * arithmetically. Uncompressed DIB is lossless, so the hash-compare
    * proves the container round-trip — this retires the last media
    * stub. */
  private val q97 = Q("q97_video_decode",
    (s, dir) => {
      import s.implicits._
      val feats = Multimodal.decodeVideoFeatures(
        Multimodal.aviVideoTable(t(s, dir, "documents")))
      feats.toDF().select(
        Seq(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("fps").cast("long").as("fps")) ++
        (0 until 8).map(i => element_at(col("hist"), i + 1).as(s"b$i")): _*)
        .orderBy("media_id")
    },
    Some("""
      WITH vids AS (
        SELECT doc_id AS media_id,
               CAST(8 + doc_id % 5 AS BIGINT) AS width,
               CAST(6 + doc_id % 3 AS BIGINT) AS height,
               CAST(2 + doc_id % 4 AS BIGINT) AS n_frames
        FROM documents),
      fs AS (
        SELECT media_id, width, height, n_frames, unnest(range(0, n_frames)) AS f
        FROM vids),
      xs AS (
        SELECT media_id, width, height, n_frames, f, unnest(range(0, width)) AS x
        FROM fs),
      px AS (
        SELECT media_id, width, height, n_frames,
               ((media_id * 31 + f * 17 + x * 7 + unnest(range(0, height)) * 13)
                 % 256) // 32 AS bin
        FROM xs)
      SELECT media_id, width, height, n_frames, CAST(10 AS BIGINT) AS fps,
             CAST(SUM(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             CAST(SUM(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
             CAST(SUM(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
             CAST(SUM(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
             CAST(SUM(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
             CAST(SUM(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
             CAST(SUM(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
      FROM px
      GROUP BY media_id, width, height, n_frames
      ORDER BY media_id"""))

  /** Gopher-style repetition filters (Rae et al.): per-doc fraction of
    * the most common token and fraction of duplicate bigrams, with the
    * filter verdict. Two doc-keyed partial-aggregated shuffles; ratios
    * are int/int double divisions so both engines agree bit-exactly. */
  private val q114 = Q("q114_gopher_repetition",
    (s, dir) => graft.llm.TextAnalysis
      .repetitionStats(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
      ts AS (SELECT doc_id,
                    CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                    CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
                    CAST(MAX(cnt) AS BIGINT) AS top_token_count
             FROM tc GROUP BY 1),
      arr AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
              FROM documents),
      bg AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1])) AS bigram
             FROM arr),
      bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
      bs AS (SELECT doc_id,
                    CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
                    CAST(COUNT(*) AS BIGINT) AS distinct_bigrams
             FROM bc GROUP BY 1)
      SELECT ts.doc_id AS doc_id, n_tokens, distinct_tokens, top_token_count,
             n_bigrams, distinct_bigrams,
             CAST(top_token_count AS DOUBLE) / n_tokens AS top_token_frac,
             1.0 - CAST(distinct_bigrams AS DOUBLE) / n_bigrams AS dup_bigram_frac,
             (CAST(top_token_count AS DOUBLE) / n_tokens > 0.2
              OR COALESCE(1.0 - CAST(distinct_bigrams AS DOUBLE) / n_bigrams > 0.3, FALSE))
               AS repetition_flagged
      FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
      ORDER BY doc_id"""))

  /** Benchmark-contamination scan (Lee et al.): corpus docs sharing a
    * word 4-gram with the held-out eval slice (doc_id % 40 = 0 stands
    * in for the benchmark; 4-gram window sized to this synthetic
    * corpus — production uses 8–13). Zero-shuffle path: the eval
    * shingle set embeds in a codegen'd expression, the corpus side is
    * a narrow map on the scan — no explode, no join (r5; the join
    * formulation remains as contaminatedDocs and LlmSpec asserts
    * equality). */
  private val q115 = Q("q115_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.TextAnalysis.contaminatedDocsFast(
        docs.filter(col("doc_id") % 40 =!= 0),
        docs.filter(col("doc_id") % 40 === 0),
        "doc_id", "text", n = 4)
        .orderBy("doc_id")
    },
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      sh AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(t) - 3),
                      i -> array_to_string(t[i:i+3], ' '))) AS shingle
             FROM arr),
      ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 40 = 0)
      SELECT sh.doc_id AS doc_id,
             CAST(COUNT(DISTINCT sh.shingle) AS BIGINT) AS shared_ngrams
      FROM sh JOIN ev USING (shingle)
      WHERE sh.doc_id % 40 <> 0
      GROUP BY sh.doc_id
      ORDER BY doc_id"""))

  /** Deterministic line-structured corpus derived from `documents`
    * (the synthetic text has no newlines — same pattern as the media
    * queries deriving payloads from doc_id): tokens re-chunked into
    * 7-token lines, terminal '.' on lines where (doc_id+i)%3=0, the
    * word "javascript" injected where (doc_id*7+i)%5=0, a
    * "lorem ipsum." prefix line on doc_id%17=0 and a lone "{" line on
    * doc_id%19=0 — so every C4 rule fires on a known subset. */
  private def c4DerivedText(idCol: Column, textCol: Column): Column = {
    val toks = split(trim(lower(textCol)), "\\s+")
    val nLines = floor((size(toks) + lit(6)).cast("double") / 7).cast("int")
    val body = array_join(transform(sequence(lit(0), nLines - 1), i =>
      concat(concat_ws(" ", slice(toks, i * 7 + lit(1), lit(7))),
        when((idCol * 7 + i) % 5 === 0, lit(" javascript")).otherwise(lit("")),
        when((idCol + i) % 3 === 0, lit(".")).otherwise(lit("")))), "\n")
    concat(
      when(idCol % 17 === 0, lit("lorem ipsum.\n")).otherwise(lit("")),
      body,
      when(idCol % 19 === 0, lit("\n{")).otherwise(lit("")))
  }

  /** C4-style line + page filters (Raffel et al. 2020) over the
    * derived line-structured corpus. Zero-shuffle narrow map — see
    * TextAnalysis.c4Stats. */
  private val q118 = Q("q118_c4_filters",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), c4DerivedText(col("doc_id"), col("text")).as("text"))
      TextAnalysis.c4Stats(docs, "doc_id", "text").orderBy("doc_id")
    },
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      built AS (
        SELECT doc_id,
               list_transform(generate_series(0, (len(t) + 6) // 7 - 1),
                 i -> array_to_string(t[i*7+1 : i*7+7], ' ')
                      || CASE WHEN (doc_id*7 + i) % 5 = 0 THEN ' javascript' ELSE '' END
                      || CASE WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END) AS ls
        FROM arr),
      txt AS (
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 0 THEN 'lorem ipsum.' || chr(10) ELSE '' END
               || array_to_string(ls, chr(10))
               || CASE WHEN doc_id % 19 = 0 THEN chr(10) || '{' ELSE '' END AS text2
        FROM built),
      lines2 AS (
        SELECT doc_id, text2, string_split(text2, chr(10)) AS ls FROM txt),
      kept AS (
        SELECT doc_id, text2, ls,
               list_filter(ls, l -> regexp_matches(trim(l), '[.!?"]$')
                 AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
                 AND NOT contains(lower(l), 'javascript')) AS kl
        FROM lines2)
      SELECT doc_id,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(kl) AS BIGINT) AS n_kept_lines,
             CAST(len(kl) AS DOUBLE) / len(ls) AS kept_frac,
             contains(lower(text2), 'lorem ipsum') AS has_lorem_ipsum,
             contains(text2, '{') AS has_brace,
             (NOT contains(lower(text2), 'lorem ipsum')
              AND NOT contains(text2, '{')
              AND len(kl) >= 3) AS c4_kept,
             CAST(COALESCE(length(array_to_string(list_transform(kl, l -> trim(l)),
               chr(10))), 0) AS BIGINT) AS clean_chars
      FROM kept
      ORDER BY doc_id"""))

  /** Paragraph-level exact dedup (RefinedWeb): per-doc duplicate
    * paragraph fraction via ONE hash-keyed global count. */
  private val q119 = Q("q119_paragraph_dedup",
    (s, dir) => graft.llm.Dedup
      .paragraphStats(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      pars AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(0, (len(t) + 9) // 10 - 1),
                 i -> md5(array_to_string(t[i*10+1 : i*10+10], ' ')))) AS ph
        FROM arr),
      g AS (SELECT ph, COUNT(*) AS gcnt FROM pars GROUP BY 1)
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
             CAST(SUM(CASE WHEN gcnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_paragraphs,
             CAST(SUM(CASE WHEN gcnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS dup_frac,
             (CAST(SUM(CASE WHEN gcnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*))
               > 0.3 AS para_dup_flagged
      FROM pars JOIN g USING (ph)
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** BPE codec per (sf dir, merges): trained once per JVM — the
    * persisted-index pattern (same as the IVF index, q75); training is
    * deterministic so the cache only saves time, never changes
    * results. */
  private object BpeCache {
    private val codecs =
      new java.util.concurrent.ConcurrentHashMap[String, graft.llm.BpeCodec]()
    def get(s: SparkSession, dir: String, numMerges: Int): graft.llm.BpeCodec =
      codecs.computeIfAbsent(s"$dir#$numMerges", _ =>
        graft.llm.Bpe.trainOnCorpus(t(s, dir, "documents"), "text", numMerges))
  }

  /** BPE TRAINING replayed in DuckDB — the piece q120 kept rows-only
    * through round 9. The trick that makes the iterative argmax
    * SQL-expressible: the oracle SQL is GENERATED, so the merge loop
    * unrolls to `numMerges` CTE triples (pair-count → argmax →
    * apply), exactly like q145's unrolled k-means rounds. Symbols are
    * bracket-delimited (`[sym]`), so consecutive pattern occurrences
    * share no characters and ONE left-to-right `replace()` call IS
    * one `mergeOnce` pass — including the `(x,x)` identical-run edge
    * where a shared-delimiter encoding (q144's `|a|b|`) needs a
    * fixpoint loop and still diverges on odd runs. Safe on this
    * fixture: the text charset is lowercase ASCII + space (checked),
    * so `[`/`]` cannot occur inside a symbol. Produces `mm(rank,a,b)`
    * plus the per-round states; terminal CTE set for both q166 (the
    * merge table itself) and q120 (train + encode + accounting). */
  private def bpeTrainReplayCtes(numMerges: Int): String = {
    val rounds = (0 until numMerges).map { r =>
      s"""p$r AS MATERIALIZED (
        SELECT a, b, sum(freq) AS cnt FROM (
          SELECT unnest(sy[1:l-1]) AS a, unnest(sy[2:l]) AS b, freq FROM (
            SELECT freq, sy, len(sy) AS l FROM (
              SELECT freq, regexp_extract_all(s, '\\[([^\\]]*)\\]', 1) AS sy
              FROM s$r))
          WHERE l >= 2)
        GROUP BY a, b),
      m$r AS MATERIALIZED (
        SELECT a, b, '[' || a || '][' || b || ']' AS pat,
               '[' || a || b || ']' AS rep
        FROM (SELECT a, b FROM p$r
              ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)),
      s${r + 1} AS MATERIALIZED (
        SELECT word, freq,
               CASE WHEN (SELECT pat FROM m$r) IS NULL THEN s
                    ELSE replace(s, (SELECT pat FROM m$r),
                                 (SELECT rep FROM m$r)) END AS s
        FROM s$r)"""
    }.mkString(",\n      ")
    s"""arrd AS MATERIALIZED (SELECT doc_id, text, lang,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
             FROM documents),
      wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
             FROM (SELECT unnest(tk) AS word FROM arrd) GROUP BY word),
      s0 AS MATERIALIZED (SELECT word, freq,
               array_to_string(list_transform(generate_series(1, length(word)),
                 j -> '[' || word[j] || ']'), '') || '[</w>]' AS s
             FROM wc),
      $rounds,
      mm AS MATERIALIZED (${(0 until numMerges).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, a, b FROM m$r")
        .mkString("\n        UNION ALL ")})"""
  }

  /** The learned BPE merge table itself, hash-gated (closes the r9
    * "q120 training half" gap): Bpe.train's 40 rounds vs the DuckDB
    * unrolled replay — count, argmax tie-break (cnt desc, a asc,
    * b asc) and the all-occurrence left-to-right merge pass must all
    * agree, rank for rank. */
  private val q166 = Q("q166_bpe_train",
    (s, dir) => {
      import s.implicits._
      BpeCache.get(s, dir, 40).merges.zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }.toSeq
        .toDF("rank", "a", "b").orderBy("rank")
    },
    Some(s"""
      WITH RECURSIVE
      ${bpeTrainReplayCtes(40)}
      SELECT rank, a, b FROM mm ORDER BY rank"""))

  /** Distributed-BPE token accounting (Sennrich et al. 2016): merges
    * learned from the corpus word-frequency table, encoding fused into
    * the scan via the codegen'd bpe_encode expression. FULLY
    * hash-gated since round 12: the oracle replays training (the
    * unrolled CTEs above) and reads the encode straight off the
    * replay's FINAL state `s40` — for a word in the training
    * vocabulary, greedy lowest-rank-first encoding and the training
    * replay converge to the same symbol sequence, so no separate
    * recursive encode is needed. (Round 11 used a recursive
    * `LEFT JOIN LATERAL` encode; DuckDB 1.0.0 silently matches zero
    * merges when the lateral probes the deep unrolled CTE chain from
    * inside a recursive CTE — oracle bug, engine verified correct
    * against an independent BPE reference on all 500 docs.) */
  private val q120 = Q("q120_bpe_tokens",
    (s, dir) => {
      val codec = BpeCache.get(s, dir, 40)
      val docs = t(s, dir, "documents")
      val enc = graft.llm.Bpe.encodeColumn(codec, col("text"))
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        size(enc).cast("long").as("n_bpe_tokens"),
        (length(col("text")).cast("double") / size(enc)).as("chars_per_token"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE
      ${bpeTrainReplayCtes(40)},
      enc AS MATERIALIZED (SELECT word,
                len(regexp_extract_all(s, '\\[([^\\]]*)\\]', 1)) AS ntok
              FROM s40),
      stream AS MATERIALIZED (SELECT doc_id, unnest(tk) AS word FROM arrd),
      cnts AS MATERIALIZED (SELECT doc_id, CAST(sum(e.ntok) AS BIGINT) AS n_bpe
               FROM stream st JOIN enc e USING (word) GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(len(d.tk) AS BIGINT) AS n_ws_tokens,
             c.n_bpe AS n_bpe_tokens,
             CAST(length(d.text) AS DOUBLE) / c.n_bpe AS chars_per_token
      FROM arrd d JOIN cnts c USING (doc_id)
      ORDER BY d.doc_id"""))

  /** Per-language BPE fertility (tokens per whitespace word) — the
    * tokenizer-fit readout a multilingual curation pass reads: a
    * language whose fertility spikes is underserved by the merge
    * vocabulary (its words shatter toward characters), which inflates
    * its effective cost per document and starves it of context
    * window. Same trained codec and codegen encode as q120; the
    * per-language fold is a |langs|-row aggregate, fertility one IEEE
    * division of exact BIGINT sums. */
  private val q183 = Q("q183_bpe_fertility",
    (s, dir) => {
      val codec = BpeCache.get(s, dir, 40)
      val docs = t(s, dir, "documents")
      val enc = graft.llm.Bpe.encodeColumn(codec, col("text"))
      docs.select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("ws"),
          size(enc).cast("long").as("bpe"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws").as("n_ws_tokens"),
          sum("bpe").as("n_bpe_tokens"))
        .withColumn("fertility", col("n_bpe_tokens").cast("double") /
          col("n_ws_tokens").cast("double"))
        .orderBy("lang")
    },
    Some(s"""
      WITH RECURSIVE
      ${bpeTrainReplayCtes(40)},
      enc AS MATERIALIZED (SELECT word,
                len(regexp_extract_all(s, '\\[([^\\]]*)\\]', 1)) AS ntok
              FROM s40),
      stream AS MATERIALIZED (SELECT doc_id, unnest(tk) AS word FROM arrd),
      cnts AS (SELECT doc_id, CAST(sum(e.ntok) AS BIGINT) AS n_bpe
               FROM stream st JOIN enc e USING (word) GROUP BY doc_id)
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(d.tk)) AS BIGINT) AS n_ws_tokens,
             CAST(SUM(c.n_bpe) AS BIGINT) AS n_bpe_tokens,
             CAST(SUM(c.n_bpe) AS DOUBLE) / CAST(SUM(len(d.tk)) AS DOUBLE)
               AS fertility
      FROM arrd d JOIN cnts c USING (doc_id)
      GROUP BY d.lang ORDER BY d.lang"""))

  /** Quality-cascade funnel (repetition → language match → junk
    * floor): the per-stage survivor readout of a curation pipeline —
    * see [[TextAnalysis.filterFunnel]]. Oracle composes the q114
    * repetition replay, the q18 marker-vote language id, and the q52
    * junk signals into the same conditional-sum fold. */
  private val q184 = Q("q184_filter_funnel",
    (s, dir) => TextAnalysis.filterFunnel(t(s, dir, "documents"),
      "doc_id", "text", "lang").orderBy("stage"),
    Some {
      val markers = TextAnalysis.langMarkers
      val scoreDefs = markers.map { case (l, ms) =>
        s"len(list_filter(t, tok -> tok IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$l"
      }.mkString(",\n               ")
      val best = s"greatest(${markers.map(m => s"s_${m._1}").mkString(", ")})"
      val cases = markers.map { case (l, _) =>
        s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'"
      }.mkString("\n                    ")
      s"""
      WITH toks AS (
        SELECT doc_id, lang, text,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
      tc AS (SELECT doc_id, tok, COUNT(*) AS cnt
             FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
      ts AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                    CAST(MAX(cnt) AS BIGINT) AS topc
             FROM tc GROUP BY 1),
      bg AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1])) AS bigram
             FROM toks),
      bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
      bs AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nb,
                    CAST(COUNT(*) AS BIGINT) AS db
             FROM bc GROUP BY 1),
      scored AS (
        SELECT doc_id, lang, text, t,
               $scoreDefs
        FROM toks),
      flags AS (
        SELECT sc.doc_id,
               CAST(len(sc.t) AS BIGINT) AS nt,
               CAST(len(list_distinct(sc.t)) AS DOUBLE) / len(sc.t) AS dr,
               len(regexp_extract_all(sc.text, '[0-9]{4,}')) AS dg,
               (CAST(ts.topc AS DOUBLE) / ts.n_tokens > 0.2
                OR COALESCE(1.0 - CAST(bs.db AS DOUBLE) / bs.nb > 0.3, FALSE))
                 AS repflag,
               (CASE $cases
                     ELSE 'und' END) = sc.lang AS langok
        FROM scored sc JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)),
      p AS (SELECT nt,
                   NOT repflag AS p1,
                   (NOT repflag AND langok) AS p2,
                   (NOT repflag AND langok AND dr >= 0.3 AND dg <= 5) AS p3
            FROM flags),
      a AS (SELECT
              CAST(COUNT(*) AS BIGINT) AS c0, CAST(SUM(nt) AS BIGINT) AS t0,
              CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
              CAST(SUM(CASE WHEN p1 THEN nt ELSE 0 END) AS BIGINT) AS t1,
              CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
              CAST(SUM(CASE WHEN p2 THEN nt ELSE 0 END) AS BIGINT) AS t2,
              CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
              CAST(SUM(CASE WHEN p3 THEN nt ELSE 0 END) AS BIGINT) AS t3
            FROM p)
      SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS stage, 'all' AS stage_name,
               c0 AS n_docs, t0 AS n_tokens,
               CAST(c0 AS DOUBLE) / CAST(c0 AS DOUBLE) AS doc_frac FROM a
        UNION ALL SELECT CAST(1 AS BIGINT), 'repetition', c1, t1,
               CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) FROM a
        UNION ALL SELECT CAST(2 AS BIGINT), 'lang_match', c2, t2,
               CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) FROM a
        UNION ALL SELECT CAST(3 AS BIGINT), 'quality', c3, t3,
               CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) FROM a)
      ORDER BY stage"""
    })

  /** Data-mixture sampling (per-source keep rates, md5-decided): the
    * corpus-assembly step that turns raw sources into a weighted
    * training mixture. Zero-shuffle filter. */
  private val q121 = Q("q121_mixture_sample",
    (s, dir) => graft.llm.Corpus.mixtureSample(
      t(s, dir, "documents"), "source", "doc_id",
      Map("src0" -> 0.9, "src1" -> 0.5, "src2" -> 0.1), defaultWeight = 0.25)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id, source
      FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
              / 16777216.0
            < CASE source WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.5
                          WHEN 'src2' THEN 0.1 ELSE 0.25 END
      ORDER BY doc_id"""))

  /** Token-budget shard packing via the two-level distributed prefix
    * sum (within-bucket window cumsum + 256-row offset table). */
  private val q122 = Q("q122_token_shards",
    (s, dir) => graft.llm.Corpus.tokenShards(
      t(s, dir, "documents"), "doc_id", "text", tokensPerShard = 2000L)
      .orderBy("doc_id"),
    Some("""
      WITH base AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
                 AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS rk,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                 % 256 AS INT) AS bk
        FROM documents),
      cum AS (
        SELECT doc_id, n_tokens, bk,
               SUM(n_tokens) OVER (PARTITION BY bk ORDER BY rk, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in
        FROM base),
      tot AS (SELECT bk, SUM(n_tokens) AS tot FROM base GROUP BY 1),
      off AS (SELECT bk, COALESCE(SUM(tot) OVER (ORDER BY bk
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
              FROM tot)
      SELECT c.doc_id AS doc_id, c.n_tokens AS n_tokens,
             CAST((o + cum_in - c.n_tokens) // 2000 AS BIGINT) AS shard_id
      FROM cum c JOIN off USING (bk)
      ORDER BY doc_id"""))

  /** Epoch-repetition upsampling (weights > 1 side of the mixture):
    * per-source epoch counts with the fractional epoch md5-decided. */
  private val q124 = Q("q124_epoch_repeat",
    (s, dir) => graft.llm.Corpus.epochRepeat(
      t(s, dir, "documents"), "source", "doc_id",
      Map("src0" -> 2.5, "src1" -> 0.5), defaultWeight = 1.0)
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch"),
    Some("""
      WITH w AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                 / 16777216.0 AS u,
               CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
                           ELSE 1.0 END AS wt
        FROM documents),
      n AS (
        SELECT doc_id, source,
               CAST(floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END
                 AS INT) AS reps
        FROM w)
      SELECT doc_id, source, CAST(unnest(range(1, reps + 1)) AS INT) AS epoch
      FROM n
      ORDER BY doc_id, epoch"""))

  /** LM-perplexity quality scoring (CCNet): corpus-trained bigram LM
    * with add-one smoothing, per-doc average negative log-prob. Both
    * engines run the identical arithmetic (the shared libm makes
    * ln/exp agree — same precedent as the TF-IDF gate's ln). */
  private val q125 = Q("q125_lm_perplexity",
    (s, dir) => graft.llm.TextAnalysis
      .lmPerplexity(t(s, dir, "documents"), "doc_id", "text", flagAbove = 40.0)
      .orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      uni AS (
        SELECT unnest(t) AS a FROM arr),
      ca AS (SELECT a, COUNT(*) AS ca FROM uni GROUP BY 1),
      v AS (SELECT COUNT(*) AS v FROM ca),
      dbg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i])) AS a,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i + 1])) AS b
        FROM arr),
      cab AS (SELECT a, b, COUNT(*) AS cab FROM dbg GROUP BY 1, 2),
      scored AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST((-ln(CAST(cab.cab + 1 AS DOUBLE) / (ca.ca + v.v)))
                 AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
                 AS avg_neg_logprob
        FROM dbg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v
        GROUP BY doc_id)
      SELECT d.doc_id AS doc_id,
             COALESCE(s.n_bigrams, 0) AS n_bigrams,
             s.avg_neg_logprob AS avg_neg_logprob,
             exp(s.avg_neg_logprob) AS perplexity,
             COALESCE(exp(s.avg_neg_logprob) > 40.0, FALSE)
               AS perplexity_flagged
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN scored s USING (doc_id)
      ORDER BY doc_id"""))

  /** Substring-level exact dedup (Lee et al. 2022): overlapping
    * 8-token windows, global occurrence count on the window hash (ONE
    * shuffle), per-doc duplicated-token coverage via interval union
    * over the sorted dup positions. The overlap is what fixed-chunk
    * paragraph hashing (q119) cannot see: spans straddling a chunk
    * boundary. */
  private val q126 = Q("q126_substring_dedup",
    (s, dir) => graft.llm.Dedup
      .substringStats(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      wins AS (
        SELECT doc_id, len(t) AS n_tokens,
               unnest(list_transform(generate_series(1, greatest(len(t) - 7, 1)),
                 i -> {'pos': i - 1,
                       'wh': ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT})) AS w
        FROM arr),
      g AS (
        SELECT doc_id, n_tokens, w.pos AS pos, w.wh AS wh,
               COUNT(*) OVER (PARTITION BY w.wh) AS gcnt
        FROM wins),
      per AS (
        SELECT doc_id, n_tokens,
               COUNT(*) AS n_windows,
               SUM(CASE WHEN gcnt > 1 THEN 1 ELSE 0 END) AS n_dup_windows,
               COALESCE(list_sort(list(pos) FILTER (WHERE gcnt > 1)), [])
                 AS dps
        FROM g GROUP BY doc_id, n_tokens),
      cov AS (
        SELECT doc_id, n_tokens, n_windows, n_dup_windows,
               least(CASE WHEN len(dps) = 0 THEN 0
                 ELSE 8 + COALESCE(list_sum(list_transform(
                        generate_series(1, len(dps) - 1),
                        i -> least(dps[i+1] - dps[i], 8))), 0) END,
                 n_tokens) AS dup_tokens
        FROM per)
      SELECT doc_id,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_windows AS BIGINT) AS n_windows,
             CAST(n_dup_windows AS BIGINT) AS n_dup_windows,
             CAST(dup_tokens AS BIGINT) AS dup_tokens,
             CAST(dup_tokens AS DOUBLE) / n_tokens AS dup_token_frac,
             (CAST(dup_tokens AS DOUBLE) / n_tokens) > 0.2
               AS substr_dup_flagged
      FROM cov
      ORDER BY doc_id"""))

  /** Incremental embedding near-dup over an SRP bucket index
    * (Similarity.bucketIndex + incrementalNearDupPairs): the batch
    * (every 10th vector) probes the index built from the rest of the
    * corpus — new×old and new×new pairs only, min-id oriented. The
    * oracle is the FULL-corpus bucket join restricted to pairs
    * touching the batch, so this gate pins the incremental
    * decomposition (batch × index ≡ full ∩ batch), the production
    * shape where each ingest batch costs batch×index, never corpus².
    * LlmSpec additionally pins the parquet round-trip of the
    * bucket-partitioned index. */
  private val q127 = Q("q127_incr_embed_neardup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.bucketIndex(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding")
      Similarity.incrementalNearDupPairs(
        emb.filter(col("vec_id") % 10 === 0), idx,
        "vec_id", "embedding", threshold = 0.3)
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH n AS (
        SELECT vec_id, embedding,
               ${duckSrp("embedding")} AS bucket,
               sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                 AS nrm
        FROM embeddings)
      SELECT id_a, id_b, cos FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (a.nrm * b.nrm) AS cos
        FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      WHERE cos >= 0.3 AND (id_a % 10 = 0 OR id_b % 10 = 0)
      ORDER BY id_a, id_b"""))

  /** URL-level dedup (the first dedup stage of CCNet/RefinedWeb corpus
    * assembly): canonicalize each document's URL
    * ([[TextAnalysis.urlCanonicalize]] — fragment/tracking-param
    * removal, case/port/www/trailing-slash normalization, sorted
    * query), then one hash aggregate on the canonical key. The fixture
    * carries no URL column, so both engines derive the SAME messy URL
    * deterministically from doc_id — three spellings per group of
    * three consecutive ids, together exercising every rule — and the
    * oracle replicates the canonicalization regex-for-regex (all
    * RE2-safe, no lookaheads). Zero-shuffle map + one exact-dedup
    * aggregate: the q21 shape, scale-safe at any corpus size. */
  private val q128 = Q("q128_url_dedup",
    (s, dir) => {
      val g = (col("doc_id") - (col("doc_id") % 3)).cast("string")
      val h = ((col("doc_id") - (col("doc_id") % 3)) % 5).cast("string")
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("https://www.ex"), h, lit(".com:443/a/b"), g,
            lit("/?utm_source=t&z=2&a=1#sec")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("HTTPS://Ex"), h, lit(".COM/a/b"), g,
            lit("?a=1&z=2&fbclid=xyz")))
        .otherwise(
          concat(lit("https://ex"), h, lit(".com/a/b"), g,
            lit("/?z=2&a=1")))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.urlCanonicalize(url).as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
        .orderBy("canon_url")
    },
    Some("""
      WITH u AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN
            'https://www.ex' || CAST((doc_id - doc_id % 3) % 5 AS VARCHAR)
              || '.com:443/a/b' || CAST(doc_id - doc_id % 3 AS VARCHAR)
              || '/?utm_source=t&z=2&a=1#sec'
          WHEN doc_id % 3 = 1 THEN
            'HTTPS://Ex' || CAST((doc_id - doc_id % 3) % 5 AS VARCHAR)
              || '.COM/a/b' || CAST(doc_id - doc_id % 3 AS VARCHAR)
              || '?a=1&z=2&fbclid=xyz'
          ELSE
            'https://ex' || CAST((doc_id - doc_id % 3) % 5 AS VARCHAR)
              || '.com/a/b' || CAST(doc_id - doc_id % 3 AS VARCHAR)
              || '/?z=2&a=1'
          END AS url
        FROM documents),
      nf AS (
        SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
      parts AS (
        SELECT doc_id,
          lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
            AS scheme,
          CASE lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
            WHEN 'http' THEN regexp_replace(regexp_replace(
              lower(regexp_extract(nofrag,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
              '^www\.', ''), ':80$', '')
            WHEN 'https' THEN regexp_replace(regexp_replace(
              lower(regexp_extract(nofrag,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
              '^www\.', ''), ':443$', '')
            ELSE regexp_replace(
              lower(regexp_extract(nofrag,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
              '^www\.', '')
          END AS host,
          regexp_extract(nofrag,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
        FROM nf),
      pq AS (
        SELECT doc_id, scheme, host,
          regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
            AS path,
          regexp_extract(rest, '^[^?]*\?(.*)$', 1) AS query
        FROM parts),
      prm AS (
        SELECT doc_id, scheme, host, path,
          list_sort(list_filter(string_split(query, '&'), p ->
            p <> '' AND NOT regexp_matches(p,
              '^(utm_[^=&]*|fbclid|gclid|ref)='))) AS params
        FROM pq),
      canon AS (
        SELECT doc_id, scheme || '://' || host || path ||
          CASE WHEN len(params) > 0
            THEN '?' || array_to_string(params, '&') ELSE '' END
          AS canon_url
        FROM prm)
      SELECT canon_url, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
      FROM canon GROUP BY canon_url ORDER BY canon_url"""))

  /** In-engine trained quality/language classifier
    * (llm.QualityClassifier): logistic regression over the q17 text
    * statistics, fit by 3 deterministic full-batch GD iterations with
    * exact-decimal gradient sums, predicting the ground-truth `lang =
    * 'en'` column — the "distill a label into a cheap linear scorer"
    * step of corpus quality filtering. The oracle replicates the
    * ENTIRE training run as unrolled CTEs (one gradient + one weight
    * CTE per iteration) and then scores — weights and per-doc sigmoid
    * scores hash-match bit-for-bit, proving the training loop is
    * engine-reproducible, not just the final map. */
  /** The q129 training replay as a reusable WITH chain ending in
    * `scored_lr(doc_id, p, y)` — the full 3-iteration unrolled GD the
    * calibration gate (q197) layers its binning on. */
  private def duckLrScoredAt(lr: String): String = raw"""
      WITH f AS (
        SELECT doc_id,
               1.0 AS x0,
               len(toks) / 100.0 AS x1,
               (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / len(toks)) / 10.0 AS x2,
               (length(text) - length(regexp_replace(text, '[.,!?;:''"-]', '', 'g')))
                 / 10.0 AS x3,
               CAST(len(list_filter(toks, t ->
                 t IN ('the','a','of','and','is'))) AS DOUBLE) / len(toks) AS x4,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM (SELECT doc_id, text, lang,
                regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents)),
      c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
      wA AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4),
      gA AS (
        SELECT
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x0) AS DECIMAL(30,12))) AS DOUBLE) AS g0,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x1) AS DECIMAL(30,12))) AS DOUBLE) AS g1,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x2) AS DECIMAL(30,12))) AS DOUBLE) AS g2,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x3) AS DECIMAL(30,12))) AS DOUBLE) AS g3,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x4) AS DECIMAL(30,12))) AS DOUBLE) AS g4
        FROM f, wA),
      wB AS (SELECT wA.w0 - $lr * gA.g0 / c.n AS w0, wA.w1 - $lr * gA.g1 / c.n AS w1,
                    wA.w2 - $lr * gA.g2 / c.n AS w2, wA.w3 - $lr * gA.g3 / c.n AS w3,
                    wA.w4 - $lr * gA.g4 / c.n AS w4
             FROM wA, gA, c),
      gB AS (
        SELECT
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x0) AS DECIMAL(30,12))) AS DOUBLE) AS g0,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x1) AS DECIMAL(30,12))) AS DOUBLE) AS g1,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x2) AS DECIMAL(30,12))) AS DOUBLE) AS g2,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x3) AS DECIMAL(30,12))) AS DOUBLE) AS g3,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x4) AS DECIMAL(30,12))) AS DOUBLE) AS g4
        FROM f, wB),
      wC AS (SELECT wB.w0 - $lr * gB.g0 / c.n AS w0, wB.w1 - $lr * gB.g1 / c.n AS w1,
                    wB.w2 - $lr * gB.g2 / c.n AS w2, wB.w3 - $lr * gB.g3 / c.n AS w3,
                    wB.w4 - $lr * gB.g4 / c.n AS w4
             FROM wB, gB, c),
      gC AS (
        SELECT
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x0) AS DECIMAL(30,12))) AS DOUBLE) AS g0,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x1) AS DECIMAL(30,12))) AS DOUBLE) AS g1,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x2) AS DECIMAL(30,12))) AS DOUBLE) AS g2,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x3) AS DECIMAL(30,12))) AS DOUBLE) AS g3,
          CAST(SUM(CAST(((1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) - y) * x4) AS DECIMAL(30,12))) AS DOUBLE) AS g4
        FROM f, wC),
      wD AS (SELECT wC.w0 - $lr * gC.g0 / c.n AS w0, wC.w1 - $lr * gC.g1 / c.n AS w1,
                    wC.w2 - $lr * gC.g2 / c.n AS w2, wC.w3 - $lr * gC.g3 / c.n AS w3,
                    wC.w4 - $lr * gC.g4 / c.n AS w4
             FROM wC, gC, c),
      scored_lr AS (
        SELECT doc_id,
               1.0/(1.0 + exp(-(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) AS p,
               y
        FROM f, wD)"""

  private val duckLrScored = duckLrScoredAt("1.0")

  private val q129 = Q("q129_quality_classifier",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feat = QualityClassifier.features(
        docs, "doc_id", "text", col("lang") === "en", enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 1.0)
      QualityClassifier.score(feat, "doc_id", w).orderBy("doc_id")
    },
    Some(s"""$duckLrScored
      SELECT doc_id, p AS quality_score, p >= 0.5 AS predicted,
             y AS label
      FROM scored_lr ORDER BY doc_id"""))

  /** Per-domain document cap (Corpus.domainCap): at most k docs per
    * source, md5-rank-chosen — the RefinedWeb "no domain dominates"
    * assembly rule. One window shuffle on the domain key. */
  private val q130 = Q("q130_domain_cap",
    (s, dir) => graft.llm.Corpus.domainCap(
      t(s, dir, "documents"), "source", "doc_id", 25)
      .select(col("doc_id"), col("source")).orderBy("doc_id"),
    Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      WHERE rk <= 25 ORDER BY doc_id"""))

  /** Substring-dedup REWRITE (Dedup.substringDedupTexts): q126 flags
    * duplicated-window coverage; this gate pins the write path — all
    * but the globally first occurrence of every duplicated 8-token
    * window dropped, text rebuilt from surviving tokens. The oracle
    * replicates keeper choice (row_number over (doc, pos) per window
    * hash), the per-doc drop-interval union, and the token-level
    * rebuild. */
  private val q131 = Q("q131_substring_rewrite",
    (s, dir) => graft.llm.Dedup
      .substringDedupTexts(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      wins AS (
        SELECT doc_id, t,
               unnest(list_transform(generate_series(1, greatest(len(t) - 7, 1)),
                 i -> {'pos': i - 1,
                       'wh': ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT})) AS w
        FROM arr),
      occ AS (
        SELECT doc_id, w.pos AS pos, w.wh AS wh,
               COUNT(*) OVER (PARTITION BY w.wh) AS gcnt,
               row_number() OVER (PARTITION BY w.wh ORDER BY doc_id, w.pos) AS rn
        FROM wins),
      drops AS (
        SELECT doc_id, list_sort(list(pos)) AS dps
        FROM occ WHERE gcnt > 1 AND rn > 1 GROUP BY doc_id),
      joined AS (
        SELECT a.doc_id, a.t, COALESCE(d.dps, []) AS dps
        FROM arr a LEFT JOIN drops d USING (doc_id)),
      kept AS (
        SELECT doc_id, t,
               list_filter(generate_series(0, len(t) - 1), i ->
                 len(list_filter(dps, dp -> i >= dp AND i < dp + 8)) = 0)
                 AS ki
        FROM joined)
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(t) - len(ki) AS BIGINT) AS n_dropped,
             COALESCE(array_to_string(list_transform(ki, i -> t[i + 1]), ' '), '')
               AS clean_text
      FROM kept
      ORDER BY doc_id"""))

  /** Bloom-filter seen-window membership (BloomFilter.seenWindowStats):
    * build an md5-derived bloom (m = 2^17 bits, k = 7) over the
    * 8-token window hashes of the doc_id % 4 != 0 corpus slice, probe
    * every distinct window of the % 4 == 0 batch, and emit per batch
    * doc the distinct/bloom-hit/exact-hit window counts. The small m
    * is deliberate: at sf0.01 the filter runs at ~0.5 load so the
    * gate data contains REAL false positives (n_bloom_hits >
    * n_exact_hits on some rows) alongside the planted true hits —
    * pinning both the no-false-negative guarantee and the FP
    * behavior. The oracle recomputes the identical filter from the
    * same digests (bit-set form; the Spark side's bit_or word bitmap
    * is just the compressed representation of the same set). */
  private val q132 = Q("q132_bloom_seen",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.BloomFilter.seenWindowStats(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", windowTokens = 8, k = 7, m = 1 << 17)
        .orderBy("doc_id")
    },
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      wins AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(t) - 7, 1)),
                 i -> ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT)) AS wh
        FROM arr),
      ex AS (SELECT DISTINCT wh FROM wins WHERE doc_id % 4 <> 0),
      exd AS (
        SELECT wh, md5('bloom:' || CAST(wh AS VARCHAR)) AS d FROM ex),
      ebits AS (
        SELECT DISTINCT (('0x' || substr(d, 1, 8))::BIGINT
          + j * ('0x' || substr(d, 9, 8))::BIGINT) % 131072 AS bit
        FROM exd, generate_series(0, 6) AS s(j)),
      bw AS (SELECT DISTINCT doc_id, wh FROM wins WHERE doc_id % 4 = 0),
      probe AS (
        SELECT p.doc_id, p.wh, (COUNT(e.bit) = 7) AS bloom_hit
        FROM (SELECT doc_id, wh,
                (('0x' || substr(d, 1, 8))::BIGINT
                  + j * ('0x' || substr(d, 9, 8))::BIGINT) % 131072 AS bit
              FROM (SELECT doc_id, wh,
                      md5('bloom:' || CAST(wh AS VARCHAR)) AS d FROM bw),
                   generate_series(0, 6) AS s(j)) p
        LEFT JOIN ebits e USING (bit)
        GROUP BY p.doc_id, p.wh)
      SELECT b.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(COUNT(*) FILTER (WHERE p.bloom_hit) AS BIGINT) AS n_bloom_hits,
             CAST(COUNT(*) FILTER (WHERE x.wh IS NOT NULL) AS BIGINT) AS n_exact_hits
      FROM bw b JOIN probe p USING (doc_id, wh)
      LEFT JOIN ex x USING (wh)
      GROUP BY b.doc_id
      ORDER BY doc_id"""))

  /** DSIR importance resampling (Dsir.importanceWeights + gumbelTopK):
    * target slice = lang 'en'; hashed uni+bigram models with b = 1024
    * buckets; per-doc log-weight folded in ascending-bucket order
    * (order-pinned double sum — the oracle's list_reduce replays the
    * identical fold), then deterministic Gumbel top-100 selection.
    * Both the weights AND the sampled set hash-match; on the fixture
    * the selection comes out ~3/4 English — target-like docs
    * upweighted, non-target survivors present (that's the sampling,
    * not top-k-by-weight, behavior the paper wants). */
  private val q133 = Q("q133_dsir_select",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val wts = graft.llm.Dsir.importanceWeights(
        docs, "doc_id", "text", col("lang") === "en", b = 1024)
      graft.llm.Dsir.gumbelTopK(wts, "doc_id", 100)
    },
    Some("""
      WITH arr AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      grams AS (
        SELECT doc_id, lang, unnest(t ||
          list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS g
        FROM arr),
      bkts AS (
        SELECT doc_id, lang,
          ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS bkt
        FROM grams),
      bstats AS (
        SELECT bkt, CAST(COUNT(*) AS BIGINT) AS rc,
               CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tc
        FROM bkts GROUP BY bkt),
      tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS tr, CAST(SUM(tc) AS BIGINT) AS tt FROM bstats),
      lr AS (
        SELECT bkt,
          ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE))
        - ln(CAST(rc + 1 AS DOUBLE) / CAST(tr + 1024 AS DOUBLE)) AS lr
        FROM bstats, tot),
      dc AS (SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS c FROM bkts GROUP BY doc_id, bkt),
      contrib AS (
        SELECT doc_id, bkt, CAST(c AS DOUBLE) * lr AS v
        FROM dc JOIN lr USING (bkt)),
      w AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY bkt)),
            (a, x) -> a + x) AS logw
        FROM contrib GROUP BY doc_id)
      SELECT doc_id, logw,
        logw - ln(-ln(((('0x' || substr(md5('gum:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT) + 0.5) / 16777216.0)) AS score
      FROM w
      ORDER BY score DESC, doc_id LIMIT 100"""))

  /** DuckDB k-means assignment CTE body: every vector to its nearest
    * centroid in `ctab` (cosine desc, cid tie-break) — the oracle twin
    * of the crossJoin+row_number stage inside
    * `Similarity.kmeansCentroids`/`semDedup`. */
  private def semAssign(vtab: String, ctab: String): String = {
    val cs = duckCos("v.emb", "x.c")
    s"""SELECT vec_id, emb, cid, cs FROM (
        SELECT v.vec_id, v.emb, x.cid, $cs AS cs,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY $cs DESC, x.cid ASC) AS r
        FROM $vtab v CROSS JOIN $ctab x) WHERE r = 1"""
  }

  /** DuckDB centroid-update CTE body: per-cluster element-wise mean
    * through the exact-decimal fold — the oracle twin of the
    * `exactMeans` aggregate in `Similarity.kmeansCentroids`. */
  private def semUpdate(atab: String): String =
    s"""SELECT cid, list(m ORDER BY i) AS c FROM (
        SELECT cid, i,
               CAST(SUM(CAST(emb[i] AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS m
        FROM $atab, generate_series(1, 64) AS s(i) GROUP BY cid, i)
        GROUP BY cid"""

  /** SemDeDup (Similarity.semDedup, Abbas et al. 2023): k-means the
    * embedding space (k = 8, 2 exact-decimal Lloyd's rounds), flag
    * within-cluster pairs with cosine ≥ 0.3 as semantic duplicates,
    * keep the pair member with the LOWER cosine to its centroid (most
    * atypical survives; ties → lower id). The oracle replays the
    * ENTIRE training run as unrolled CTEs (the q129 discipline) —
    * seeds, both assignment rounds, both exact-decimal centroid
    * updates, the final assignment, and the keeper rule all
    * hash-match. */
  private val q134 = Q("q134_semdedup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.semDedup(emb, "vec_id", "embedding",
        tau = 0.3, k = 8, iters = 2)
        .orderBy("vec_id")
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, emb AS c FROM v WHERE vec_id < 8),
      a1 AS (${semAssign("v", "c0")}),
      c1 AS (${semUpdate("a1")}),
      a2 AS (${semAssign("v", "c1")}),
      c2 AS (${semUpdate("a2")}),
      af AS (${semAssign("v", "c2")}),
      losers AS (
        SELECT DISTINCT CASE WHEN a.cs < b.cs
                               OR (a.cs = b.cs AND a.vec_id < b.vec_id)
                             THEN b.vec_id ELSE a.vec_id END AS vec_id
        FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE ${duckCos("a.emb", "b.emb")} >= 0.3)
      SELECT af.vec_id, af.cid, af.cs AS cent_cos,
             l.vec_id IS NULL AS kept
      FROM af LEFT JOIN losers l ON af.vec_id = l.vec_id
      ORDER BY af.vec_id"""))

  /** Blocklist phrases for q135. Deliberately overlapping — "can" is a
    * suffix of "scan" which is a suffix of "full scan" — so the gate
    * data exercises Aho-Corasick fail-chain emission (all three must
    * fire on "full scan"), not just disjoint-keyword matching. */
  private val blockPats = Seq("cartesian", "slow join", "drop table",
    "scan", "can", "window", "lorem ipsum", "batch stream", "full scan",
    "spill")

  /** C4-style blocklist stage (TextAnalysis.blocklist): which blocklist
    * phrases occur in each document, via ONE Aho-Corasick pass fused
    * into the scan — O(text + hits) per row regardless of pattern
    * count, zero shuffle. The oracle replays matching as per-pattern
    * `contains(lower(text), p)` — substring semantics, so the two
    * formulations must agree id-for-id. */
  private val q135 = Q("q135_blocklist",
    (s, dir) => graft.llm.TextAnalysis.blocklist(
        t(s, dir, "documents"), "doc_id", "text", blockPats)
      // The oracle harness hashes flat columns only (it cannot sort an
      // INTEGER[] result column), so the gate flattens the matched-id
      // array to a CSV string; LlmSpec still asserts on the raw array.
      .select(col("doc_id"),
        array_join(col("matched").cast("array<string>"), ",")
          .as("matched_csv"),
        col("n_matched"), col("kept"))
      .orderBy("doc_id"),
    Some(s"""
      WITH pats(pid, p) AS (VALUES ${blockPats.zipWithIndex
        .map { case (p, i) => s"($i, '$p')" }.mkString(", ")}),
      m AS (
        SELECT d.doc_id,
               list(p.pid ORDER BY p.pid)
                 FILTER (WHERE contains(lower(d.text), p.p)) AS mids
        FROM documents d CROSS JOIN pats p
        GROUP BY d.doc_id)
      SELECT doc_id,
             coalesce(array_to_string(mids, ','), '') AS matched_csv,
             CAST(coalesce(len(mids), 0) AS BIGINT) AS n_matched,
             coalesce(len(mids), 0) = 0 AS kept
      FROM m ORDER BY doc_id"""))

  /** DuckDB dot product over `n`-wide double lists — the ascending
    * `list_sum` fold that bit-matches the native DotProduct. */
  private def duckDotN(a: String, b: String, n: Int): String =
    s"list_sum(list_transform(generate_series(1, $n), i -> $a[i] * $b[i]))"

  /** Squared L2 by dots — (|x|² + |c|²) - 2·x·c, the exact operation
    * order of `Similarity.l2ByDots`. */
  private def pqD2(x: String, c: String, n: Int): String =
    s"(${duckDotN(x, x, n)} + ${duckDotN(c, c, n)} - 2.0 * ${duckDotN(x, c, n)})"

  /** DuckDB PQ assignment CTE body: each (vec, subspace) row to its
    * nearest codebook centroid (L2 asc, cid tie-break) — oracle twin
    * of the assignment stage in `Similarity.pqTrain`/`pqEncode`. */
  private def pqAssign(stab: String, btab: String): String =
    s"""SELECT vec_id, sub, sv, cid, d2 FROM (
        SELECT vec_id, sub, sv, cid, d2,
               row_number() OVER (PARTITION BY vec_id, sub
                 ORDER BY d2 ASC, cid ASC) AS r
        FROM (SELECT s.vec_id, s.sub, s.sv, b.cid,
                     ${pqD2("s.sv", "b.c", 16)} AS d2
              FROM $stab s JOIN $btab b USING (sub))) WHERE r = 1"""

  /** DuckDB PQ codebook-update CTE body: per-cell exact-decimal means,
    * empty cells keeping their previous centroid (the dense-codebook
    * invariant ADC's flattened lookup requires). */
  private def pqUpdate(btab: String, atab: String): String =
    s"""SELECT b.sub, b.cid, coalesce(u.c, b.c) AS c
        FROM $btab b LEFT JOIN (
          SELECT sub, cid, list(m ORDER BY i) AS c FROM (
            SELECT sub, cid, i,
                   CAST(SUM(CAST(sv[i] AS DECIMAL(30,12))) AS DOUBLE)
                     / COUNT(*) AS m
            FROM $atab, generate_series(1, 16) AS s(i) GROUP BY sub, cid, i)
          GROUP BY sub, cid) u ON b.sub = u.sub AND b.cid = u.cid"""

  /** Product-quantization ANN (Similarity.pqTopK, Jégou et al. 2011):
    * m=4 subspace codebooks of ksub=8 centroids, L2 k-means with
    * exact-decimal means (2 rounds), corpus → 4-int codes, queries
    * score by asymmetric distance (per-query LUT, ordered O(m) fold).
    * The oracle replays the ENTIRE run as unrolled CTEs — subvector
    * split, seeds, both Lloyd's rounds with the dense-codebook empty-
    * cell rule, encoding, LUT build, ADC fold, ranking — and every
    * double hash-matches. */
  private val q136 = Q("q136_pq_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
      subs AS (
        SELECT vec_id, sub, emb[sub*16 + 1 : sub*16 + 16] AS sv
        FROM v, generate_series(0, 3) AS g(sub)),
      b0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cid, sv AS c
             FROM subs WHERE vec_id < 8),
      a1 AS (${pqAssign("subs", "b0")}),
      b1 AS (${pqUpdate("b0", "a1")}),
      a2 AS (${pqAssign("subs", "b1")}),
      b2 AS (${pqUpdate("b1", "a2")}),
      af AS (${pqAssign("subs", "b2")}),
      codes AS (SELECT vec_id, list(cid ORDER BY sub) AS codes
                FROM af GROUP BY vec_id),
      lut AS (
        SELECT query_id, list(d2 ORDER BY sub, cid) AS lut FROM (
          SELECT q.vec_id AS query_id, b.sub, b.cid,
                 ${pqD2("q.sv", "b.c", 16)} AS d2
          FROM subs q JOIN b2 b USING (sub) WHERE q.vec_id < 10)
        GROUP BY query_id),
      scored AS (
        SELECT q.query_id, c.vec_id,
               list_sum(list_transform(generate_series(0, 3), s ->
                 q.lut[s*8 + c.codes[s+1] + 1])) AS d2
        FROM codes c CROSS JOIN lut q WHERE c.vec_id <> q.query_id)
      SELECT query_id, rank, vec_id, d2 FROM (
        SELECT query_id, vec_id, d2,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY d2 ASC, vec_id ASC) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** HTML→text extraction (TextAnalysis.htmlToText): both engines wrap
    * the fixture text in the SAME html scaffold — title, style block,
    * attributes, a visible paragraph full of entities, a comment, and
    * a script whose body contains '<' — then strip it. Exercises
    * block removal, tag strip, ordered entity decode (&amp; last),
    * title extraction, and whitespace collapse, all in the Java∩RE2
    * regex subset. */
  private val q137 = Q("q137_html_text",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p { color: red; }</style></head><body class=\"d\"><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
        lit("</p><p>Fish &amp; chips, 1 &lt; 2, &quot;it&#39;s&quot;&nbsp;done</p>" +
          "<!-- dropped --><script type=\"text/javascript\">var x = 1 < 2;</script></body></html>"))
      graft.llm.TextAnalysis.htmlToText(
        d.select(col("doc_id"), html.as("html")), "doc_id", "html")
        .orderBy("doc_id")
    },
    Some("""
      WITH h AS (
        SELECT doc_id,
               '<html><head><title>Doc ' || doc_id ||
               '</title><style>p { color: red; }</style></head><body class="d"><h1>Doc ' ||
               doc_id || '</h1><p>' || text ||
               '</p><p>Fish &amp; chips, 1 &lt; 2, &quot;it&#39;s&quot;&nbsp;done</p><!-- dropped --><script type="text/javascript">var x = 1 < 2;</script></body></html>'
                 AS html
        FROM documents),
      s1 AS (SELECT doc_id, html,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
                 '(?is)<head(\s[^>]*)?>.*?</head\s*>', ' ', 'g'),
                 '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g') AS nb FROM h),
      s2 AS (SELECT doc_id, html,
               regexp_replace(nb, '(?s)<[^>]+>', ' ', 'g') AS nt FROM s1),
      s3 AS (SELECT doc_id, html,
               replace(replace(replace(replace(replace(replace(nt,
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS de
             FROM s2)
      SELECT doc_id,
             regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
             trim(regexp_replace(de, '\s+', ' ', 'g')) AS text_clean
      FROM s3 ORDER BY doc_id"""))

  /** Sliding token windows (TextAnalysis.tokenWindows): 64-token
    * chunks at 48-token stride (16 tokens of overlap), last chunk
    * short, chunk count in integer arithmetic — the training-chunk
    * preparation pass. */
  private val q138 = Q("q138_token_windows",
    (s, dir) => graft.llm.TextAnalysis.tokenWindows(
      t(s, dir, "documents"), "doc_id", "text", window = 64, stride = 48)
      .orderBy("doc_id", "chunk_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        FROM documents),
      n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      c AS (SELECT doc_id, toks, n,
                   unnest(generate_series(0,
                     CASE WHEN n <= 64 THEN 0
                          ELSE (n - 64 + 47) // 48 END)) AS chunk_id
            FROM n)
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             array_to_string(toks[chunk_id*48 + 1 : chunk_id*48 + 64], ' ')
               AS chunk_text,
             CAST(least(64, n - chunk_id*48) AS BIGINT) AS n_tokens
      FROM c ORDER BY doc_id, chunk_id"""))

  /** Sequence packing (Corpus.packSequences): corpus token stream in
    * doc-id order cut into 128-token training sequences, one row per
    * (sequence, doc) segment incl. boundary-spanning splits. The
    * oracle replays the two-level order-preserving prefix sum — the
    * bucket width comes from the same max-id scalar both engines
    * compute — then the cut arithmetic in BIGINT. */
  private val q139 = Q("q139_seq_pack",
    (s, dir) => graft.llm.Corpus.packSequences(
      t(s, dir, "documents"), "doc_id", "text", seqLen = 128)
      .orderBy("seq_id", "doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        FROM documents),
      b0 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
             FROM t WHERE len(toks) > 0),
      wd AS (SELECT greatest(1, (MAX(doc_id) + 256) // 256) AS width FROM b0),
      b AS (SELECT doc_id, toks, n, doc_id // width AS bk FROM b0, wd),
      c AS (SELECT doc_id, toks, n, bk,
                   CAST(SUM(n) OVER (PARTITION BY bk ORDER BY doc_id)
                     AS BIGINT) AS cum
            FROM b),
      o AS (SELECT bk,
                   CAST(coalesce(SUM(tot) OVER (ORDER BY bk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS off
            FROM (SELECT bk, CAST(SUM(n) AS BIGINT) AS tot FROM b GROUP BY bk)),
      s AS (SELECT doc_id, toks, n, off + cum - n AS start
            FROM c JOIN o USING (bk)),
      e AS (SELECT doc_id, toks, n, start,
                   unnest(generate_series(start // 128, (start + n - 1) // 128))
                     AS seq_id
            FROM s)
      SELECT seq_id, doc_id,
             greatest(start, seq_id*128) - start AS doc_offset,
             least(start + n, (seq_id+1)*128) - greatest(start, seq_id*128)
               AS n_seg_tokens,
             array_to_string(toks[greatest(start, seq_id*128) - start + 1 :
               least(start + n, (seq_id+1)*128) - start], ' ') AS seg_text
      FROM e ORDER BY seq_id, doc_id"""))

  /** Unicode NFC normalization + control strip + whitespace collapse
    * (TextAnalysis.normalizeText, native NfcNormalize codegen expr).
    * Both engines append the same decomposed/control-laden suffix to
    * every doc — composition (e+U+0301), dakuten composition, canonical
    * REORDERING then composition (a+acute+dot-below), an NFC-invariant
    * compatibility ligature, C0/VT/DEL controls, double spaces — then
    * normalize; the hash gate pins JVM-Normalizer ≡ utf8proc parity. */
  private val q140 = Q("q140_nfc_normalize",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val aug = concat(col("text"),
        lit(" e\u0301 \u304B\u3099 a\u0301\u0323 \uFB01 x\u0007y\u000Bz\u007F w\u0085v  tail"))
      graft.llm.TextAnalysis.normalizeText(
        d.select(col("doc_id"), aug.as("text")), "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""
      WITH a AS (
        SELECT doc_id,
               text || ' e' || chr(769) || ' ' || chr(12363) || chr(12441) ||
               ' a' || chr(769) || chr(803) || ' ' || chr(64257) ||
               ' x' || chr(7) || 'y' || chr(11) || 'z' || chr(127) ||
               ' w' || chr(133) || 'v' || '  tail'
                 AS text
        FROM documents),
      n AS (
        SELECT doc_id, text,
               trim(regexp_replace(regexp_replace(nfc_normalize(text),
                 '[\x00-\x08\x0b-\x1f\x7f\x80-\x9f]', '', 'g'),
                 '\s+', ' ', 'g')) AS norm_text
        FROM a)
      SELECT doc_id, norm_text, norm_text <> text AS changed,
             CAST(length(norm_text) AS BIGINT) AS n_chars_norm
      FROM n ORDER BY doc_id"""))

  /** Weighted sampling without replacement (Corpus.weightedSample,
    * Efraimidis–Spirakis A-ES): top-7 docs per source by ln(u)/w with
    * w = n_chars. The oracle replays the md5→52-bit-uniform→ln→divide
    * key arithmetic and the hash gate pins the doubles bit-for-bit. */
  private val q141 = Q("q141_weighted_sample",
    (s, dir) => graft.llm.Corpus.weightedSample(
      t(s, dir, "documents").select("source", "doc_id", "n_chars"),
      "source", "doc_id", "n_chars", n = 7)
      .select(col("source"), col("doc_id"),
        col("n_chars").cast("long").as("weight"), col("aes_key"))
      .orderBy("source", "doc_id"),
    Some("""
      WITH k AS (
        SELECT source, doc_id, n_chars,
               ln(((('0x' || substr(md5(doc_id::VARCHAR || ':aes'), 1, 13))::BIGINT
                    + 0.5) / 4503599627370496.0)) / n_chars AS aes_key
        FROM documents WHERE n_chars > 0),
      r AS (SELECT *, row_number() OVER (PARTITION BY source
                        ORDER BY aes_key DESC, doc_id) AS rk FROM k)
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight, aes_key
      FROM r WHERE rk <= 7 ORDER BY source, doc_id"""))

  /** Scalar int8 quantization (Similarity.int8Quantize, SQ8): per-dim
    * affine [-127,127] codes + worst-dim reconstruction error. The
    * oracle replays per-dim min/max and the exact double affine on
    * 64-dim rows; codes are exact ints and max_abs_err avoids any
    * float summation-order dependence, so the whole row hash-matches. */
  private val q142 = Q("q142_int8_quantize",
    (s, dir) => graft.llm.Similarity.int8Quantize(
      t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"),
        array_join(col("codes"), " ").as("codes_str"),
        col("max_abs_err"))
      .orderBy("vec_id"),
    Some("""
      WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
      pd AS (SELECT e.vec_id, d.i, e.embedding[d.i] AS x
             FROM embeddings e, dims d),
      st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM pd GROUP BY i),
      c AS (SELECT vec_id, pd.i, pd.x, st.mn, st.mx,
              CASE WHEN mx = mn THEN 0
                   ELSE CAST(round((pd.x::DOUBLE - mn::DOUBLE) * 254.0
                          / (mx::DOUBLE - mn::DOUBLE)) AS INTEGER) - 127
              END AS code
            FROM pd JOIN st USING (i)),
      r AS (SELECT vec_id, i, code,
              abs(mn::DOUBLE + (code + 127.0) * (mx::DOUBLE - mn::DOUBLE)
                  / 254.0 - x::DOUBLE) AS err
            FROM c)
      SELECT vec_id,
             array_to_string(list(code ORDER BY i), ' ') AS codes_str,
             max(err) AS max_abs_err
      FROM r GROUP BY vec_id ORDER BY vec_id"""))

  /** IVF-PQ composed ANN (Similarity.ivfPqTopK, IVFADC non-residual):
    * q44's coarse quantizer (nlist=16 seed lists, cosine assignment)
    * restricting q136's PQ asymmetric-distance scoring to the
    * nprobe=2 probed lists per query. The oracle composes both
    * replays — coarse assign/probe CTEs from q44, the full PQ
    * train/encode/LUT/ADC unroll from q136 — joined on list id, and
    * every double hash-matches. The plan gate (PlanQualitySpec)
    * asserts pair scoring sees only probed-list codes. */
  /** Shared by q143 (in-memory ivfPqTopK) and q163 (the persisted-
    * index serve path): the two engine paths are value-identical by
    * construction, so ONE full IVFADC replay oracles both. */
  private lazy val ivfPqAdcReplaySql: String = s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
      subs AS (
        SELECT vec_id, sub, emb[sub*16 + 1 : sub*16 + 16] AS sv
        FROM v, generate_series(0, 3) AS g(sub)),
      b0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cid, sv AS c
             FROM subs WHERE vec_id < 8),
      a1 AS (${pqAssign("subs", "b0")}),
      b1 AS (${pqUpdate("b0", "a1")}),
      a2 AS (${pqAssign("subs", "b1")}),
      b2 AS (${pqUpdate("b1", "a2")}),
      af AS (${pqAssign("subs", "b2")}),
      pqcodes AS (SELECT vec_id, list(cid ORDER BY sub) AS codes
                  FROM af GROUP BY vec_id),
      lut AS (
        SELECT query_id, list(d2 ORDER BY sub, cid) AS lut FROM (
          SELECT q.vec_id AS query_id, b.sub, b.cid,
                 ${pqD2("q.sv", "b.c", 16)} AS d2
          FROM subs q JOIN b2 b USING (sub) WHERE q.vec_id < 10)
        GROUP BY query_id),
      cl AS (SELECT vec_id AS cid, embedding AS c_emb
             FROM embeddings WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, cid FROM (
          SELECT e.vec_id, cl.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${duckCos("e.embedding", "cl.c_emb")} DESC,
                     cl.cid ASC) AS r
          FROM embeddings e CROSS JOIN cl)
        WHERE r = 1),
      probed AS (
        SELECT query_id, cid FROM (
          SELECT q.vec_id AS query_id, cl.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckCos("q.embedding", "cl.c_emb")} DESC,
                     cl.cid ASC) AS r
          FROM embeddings q CROSS JOIN cl WHERE q.vec_id < 10)
        WHERE r <= 2),
      scored AS (
        SELECT p.query_id, cd.vec_id,
               list_sum(list_transform(generate_series(0, 3), s ->
                 l.lut[s*8 + cd.codes[s+1] + 1])) AS d2
        FROM pqcodes cd
        JOIN assigned a ON cd.vec_id = a.vec_id
        JOIN probed p ON p.cid = a.cid
        JOIN lut l ON l.query_id = p.query_id
        WHERE cd.vec_id <> p.query_id)
      SELECT query_id, rank, vec_id, d2 FROM (
        SELECT query_id, vec_id, d2,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY d2 ASC, vec_id ASC) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""

  private val q143 = Q("q143_ivfpq_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, 5,
        nlist = 16, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(ivfPqAdcReplaySql))

  /** Per-JVM memo of built serving indexes: build once per (kind,
    * fixture dir), serve on every invocation — the production
    * build-offline/serve-online split, and repeat verify/bench passes
    * time the serve, not a rebuild. Content is deterministic, so
    * cross-pass reuse is value-identical.
    *
    * The memo records COMPLETION, not intent: the map value is a
    * future completed only after `build` succeeds, so a concurrent
    * second query blocks on the build instead of serving a half-built
    * index, and a failed build removes its key so later invocations
    * rebuild rather than serve wreckage forever. Keys (and the
    * on-disk path) derive from the CANONICAL fixture path — two
    * different fixture dirs sharing a basename get distinct indexes. */
  private val builtIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()
  private def indexDir(kind: String, dir: String)(build: String => Unit): String = {
    val canonical = new java.io.File(dir).getCanonicalPath
    val key = s"$kind|$canonical"
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-idx-$kind-" +
      java.lang.Integer.toHexString(canonical.hashCode) + "-" +
      new java.io.File(dir).getName
    val mine = new java.util.concurrent.CompletableFuture[String]()
    val prev = builtIndexes.putIfAbsent(key, mine)
    if (prev == null) {
      try { build(path); mine.complete(path); path }
      catch {
        case e: Throwable =>
          builtIndexes.remove(key, mine)
          mine.completeExceptionally(e)
          throw e
      }
    } else prev.join()
  }

  /** The SERVED ANN path, hash-gated (closes the r9 "LlmSpec-only"
    * gap): build the persisted IVF-PQ index (seed coarse lists,
    * trained codebooks, codes partitioned by list id), then answer
    * queries from the on-disk index alone. Value-identical to q143's
    * in-memory run, so the same IVFADC replay oracles the path a
    * production query would actually hit. */
  private val q163 = Q("q163_ivfpq_indexed",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = indexDir("pq", dir)(p =>
        graft.llm.Similarity.buildIvfPqIndex(emb, p, nlist = 16, m = 4,
          ksub = 8, iters = 2))
      graft.llm.Similarity.ivfPqTopKIndexed(s, idx,
        emb.filter(col("vec_id") < 10), 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(ivfPqAdcReplaySql))

  /** Filtered ANN over the persisted IVF index, hash-gated: top-k
    * among an allowlist only (vec_id % 3 = 0 — the tenant/language/
    * license predicate of production vector search). The index is
    * built with q44's seed centroids, so the oracle is q44's replay
    * with the allowlist applied to the assignment stream before
    * scoring — exactly where the engine's semi-join sits. */
  private val q164 = Q("q164_ivf_indexed_filtered",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = indexDir("ivf", dir)(p =>
        graft.llm.Similarity.buildIvfIndex(emb, p,
          centroids = Some(emb.filter(col("vec_id") < 16)
            .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))))
      graft.llm.Similarity.ivfTopKIndexedFiltered(s, idx,
        emb.filter(col("vec_id") < 10),
        emb.filter(col("vec_id") % 3 === 0).select("vec_id"), 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS c_emb
                 FROM embeddings WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${duckCos("e.embedding", "c.c_emb")} DESC, c.cid ASC)
                   AS r
          FROM embeddings e CROSS JOIN c)
        WHERE r = 1),
      probed AS (
        SELECT query_id, q_emb, cid FROM (
          SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckCos("q.embedding", "c.c_emb")} DESC, c.cid ASC)
                   AS r
          FROM embeddings q CROSS JOIN c WHERE q.vec_id < 10)
        WHERE r <= 2),
      scored AS (
        SELECT query_id, vec_id, ${duckCos("q_emb", "embedding")} AS cos
        FROM assigned JOIN probed USING (cid)
        WHERE vec_id <> query_id AND vec_id % 3 = 0)
      SELECT query_id, rank, vec_id, cos FROM (
        SELECT query_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Incremental index maintenance, hash-gated: build the IVF index
    * on the first half of the corpus, absorb the second half via
    * [[graft.llm.Similarity.appendToIvfIndex]] (assign-to-stored-
    * centroids, partitioned append — no retrain, no rewrite), then
    * serve. Under fixed seed centroids assignment is per-vector, so
    * the grown index must answer exactly like one full build — q44's
    * replay is the oracle. */
  private val q165 = Q("q165_ivf_index_append",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = indexDir("ivfapp", dir) { p =>
        val mid = emb.agg(max(col("vec_id"))).first().getLong(0) / 2
        val seeds = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
        graft.llm.Similarity.buildIvfIndex(
          emb.filter(col("vec_id") <= mid), p, centroids = Some(seeds))
        graft.llm.Similarity.appendToIvfIndex(
          s, emb.filter(col("vec_id") > mid), p)
      }
      graft.llm.Similarity.ivfTopKIndexed(s, idx,
        emb.filter(col("vec_id") < 10), 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(ivfSeedReplaySql))

  /** Fixed BPE merge table for q144 — rank order IS merge priority.
    * Hand-chosen against the fixture vocabulary to exercise every
    * encoder behavior: multi-char merges built on earlier merges
    * (th+e</w>), end-of-word-marker merges, rank precedence between
    * overlapping candidates (g+</w> before g+g</w> turns `agg` into
    * [a, gg</w>]), and unranked residues left as single chars. */
  private val bpeFixedMerges: Seq[(String, String)] = Seq(
    ("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("i", "n"), ("o", "r"),
    ("e", "r"), ("er", "</w>"), ("g", "</w>"), ("g", "g</w>"), ("o", "w"),
    ("ow", "</w>"), ("s", "t"), ("a", "n"), ("a", "r"), ("in", "e</w>"),
    ("a", "l"), ("u", "e</w>"), ("st", "r"), ("h", "a"), ("q", "u"))

  /** BPE ENCODE path, hash-gated (closes q120's rows-only gap): the
    * greedy lowest-rank-first merge loop (BpeCodec.encodeWord →
    * mergeOnce all-occurrence left-to-right pass per round) replayed
    * in DuckDB as a recursive CTE over a FIXED merge table embedded
    * as literals on both sides. The oracle's state machine alternates
    * choose (lateral min-rank pair present) and apply (replace() on
    * the delimiter-wrapped symbol string, repeated to fixpoint —
    * replace() is left-to-right non-overlapping, and a second pass
    * only picks up occurrences whose shared delimiter the first pass
    * consumed, which is exactly mergeOnce's semantics since merging
    * (a,b) can never create a new (a,b) adjacency). Training stays
    * covered by BpeSpec + rows-only q120 (an iterative argmax no
    * single SQL statement expresses); THIS gate pins the encoder. */
  private val q144 = Q("q144_bpe_encode",
    (s, dir) => {
      val codec = new graft.llm.BpeCodec(bpeFixedMerges.toArray)
      val enc = graft.llm.Bpe.encodeColumn(codec, col("text"))
      t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          size(enc).cast("long").as("n_bpe_tokens"),
          array_join(enc, " ").as("bpe_text"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE
      merges(rank, a, b) AS (VALUES ${bpeFixedMerges.zipWithIndex
        .map { case ((a, b), i) => s"($i, '$a', '$b')" }.mkString(", ")}),
      arr AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM documents WHERE length(trim(text)) > 0),
      words AS MATERIALIZED (SELECT DISTINCT word FROM (
        SELECT t[i] AS word FROM (
          SELECT t, unnest(generate_series(1, len(t))) AS i FROM arr))
        WHERE word <> ''),
      init AS MATERIALIZED (SELECT word,
                 '|' || array_to_string(list_transform(
                   generate_series(1, length(word)), j -> word[j]), '|')
                     || '|</w>|' AS s
               FROM words),
      rec AS (
        SELECT word, s, CAST(NULL AS VARCHAR) AS ca,
               CAST(NULL AS VARCHAR) AS cb, FALSE AS done
        FROM init
        UNION ALL
        SELECT r.word,
               CASE WHEN r.ca IS NOT NULL
                         AND contains(r.s, '|'||r.ca||'|'||r.cb||'|')
                    THEN replace(r.s, '|'||r.ca||'|'||r.cb||'|',
                                 '|'||r.ca||r.cb||'|')
                    ELSE r.s END,
               CASE WHEN r.ca IS NOT NULL
                         AND contains(r.s, '|'||r.ca||'|'||r.cb||'|')
                    THEN r.ca ELSE best.a END,
               CASE WHEN r.ca IS NOT NULL
                         AND contains(r.s, '|'||r.ca||'|'||r.cb||'|')
                    THEN r.cb ELSE best.b END,
               (r.ca IS NULL OR NOT contains(r.s, '|'||r.ca||'|'||r.cb||'|'))
                 AND best.a IS NULL
        FROM rec r
        LEFT JOIN LATERAL (
          SELECT m.a, m.b FROM merges m
          WHERE contains(r.s, '|'||m.a||'|'||m.b||'|')
          ORDER BY m.rank LIMIT 1) AS best ON TRUE
        WHERE NOT r.done
      ),
      enc AS MATERIALIZED (SELECT word, list_filter(str_split(s, '|'), x -> x <> '') AS toks
              FROM rec WHERE done),
      stream AS MATERIALIZED (SELECT doc_id, i, t[i] AS word FROM (
          SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM arr)),
      flat AS (SELECT doc_id, i, j, toks[j] AS tok FROM (
          SELECT s.doc_id, s.i, e.toks,
                 unnest(generate_series(1, len(e.toks))) AS j
          FROM stream s JOIN enc e USING (word)))
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_bpe_tokens,
             string_agg(tok, ' ' ORDER BY i, j) AS bpe_text
      FROM flat GROUP BY doc_id ORDER BY doc_id"""))

  /** IVF ANN over a TRAINED index, fully hash-gated: q44 gates the
    * training-free seed variant, q75 keeps the float-avg k-means path
    * rows-only by design — this gate closes the gap by training with
    * the exact-decimal means (the q134 discipline), so centroids,
    * assignments, probes and the exact rescoring all replay in DuckDB
    * and every double hash-matches. */
  private val q145 = Q("q145_ivf_trained",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.ivfTrainedTopK(emb.filter(col("vec_id") < 10),
          emb, 5, nlist = 8, nprobe = 2, iters = 2, exactMeans = true)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, emb AS c FROM v WHERE vec_id < 8),
      a1 AS (${semAssign("v", "c0")}),
      c1 AS (${semUpdate("a1")}),
      a2 AS (${semAssign("v", "c1")}),
      c2 AS (${semUpdate("a2")}),
      af AS (${semAssign("v", "c2")}),
      probed AS (
        SELECT query_id, cid FROM (
          SELECT q.vec_id AS query_id, x.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckCos("q.emb", "x.c")} DESC, x.cid ASC) AS r
          FROM v q CROSS JOIN c2 x WHERE q.vec_id < 10)
        WHERE r <= 2),
      scored AS (
        SELECT p.query_id, a.vec_id,
               ${duckCos("q.emb", "a.emb")} AS cos
        FROM af a JOIN probed p USING (cid)
        JOIN v q ON q.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id)
      SELECT query_id, rank, vec_id, cos FROM (
        SELECT query_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** BM25 ranked retrieval over the document corpus — the
    * decontamination-by-retrieval primitive. Query terms are pruned
    * into the postings BEFORE the tf aggregate (the one shuffle
    * carries only matching postings); idf/avgdl arithmetic is
    * mirrored expression-for-expression in the oracle and the per-doc
    * score uses the exact-decimal sum, so every double hash-matches.
    * Top-10 per query, doc_id tiebreak. */
  private val q146 = Q("q146_bm25",
    (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "dup key scan"), (2L, "hash join merge"),
        (3L, "stream window sort the")).toDF("query_id", "query_text")
      TextAnalysis.bm25TopK(t(s, dir, "documents"), queries,
          "doc_id", "text", k = 10)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q(query_id, query_text) AS (VALUES
        (CAST(1 AS BIGINT), 'dup key scan'),
        (CAST(2 AS BIGINT), 'hash join merge'),
        (CAST(3 AS BIGINT), 'stream window sort the')),
      qt AS (SELECT DISTINCT query_id,
               unnest(regexp_split_to_array(trim(lower(query_text)), '\s+'))
                 AS term
             FROM q),
      base AS (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
               FROM documents),
      dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM base),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      toks AS (SELECT doc_id, unnest(t) AS term FROM base),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf
             FROM toks JOIN (SELECT DISTINCT term FROM qt) USING (term)
             GROUP BY 1, 2),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      contrib AS (
        SELECT qt.query_id, tf.doc_id,
               ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE)
                           / (CAST(sum_dl AS DOUBLE)
                              / CAST(n_docs AS DOUBLE)))) AS c
        FROM tf JOIN dfq USING (term) JOIN qt USING (term)
        JOIN dl USING (doc_id) CROSS JOIN stats),
      scored AS (
        SELECT query_id, doc_id,
               CAST(SUM(CAST(c AS DECIMAL(30,12))) AS DOUBLE) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM contrib GROUP BY 1, 2)
      SELECT query_id, rank, doc_id, score, n_terms FROM (
        SELECT query_id, doc_id, score, n_terms,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 10 ORDER BY query_id, rank"""))

  /** Trained-coarse IVF-PQ — the production ANN composition, fully
    * hash-gated: exact-decimal k-means trains the coarse quantizer
    * (the q134/q145 CTE chain) AND product quantization trains the
    * codebooks (the q143 CTE chain); ADC scoring runs only within
    * probed lists. Every double — centroids, codebooks, codes, LUTs,
    * ADC folds — replays in DuckDB and hash-matches. */
  private val q147 = Q("q147_ivfpq_trained",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.ivfPqTrainedTopK(emb.filter(col("vec_id") < 10),
          emb, 5, nlist = 8, nprobe = 2, m = 4, ksub = 8,
          pqIters = 2, coarseIters = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, emb AS c FROM v WHERE vec_id < 8),
      ka1 AS (${semAssign("v", "c0")}),
      c1 AS (${semUpdate("ka1")}),
      ka2 AS (${semAssign("v", "c1")}),
      c2 AS (${semUpdate("ka2")}),
      kaf AS (${semAssign("v", "c2")}),
      subs AS (
        SELECT vec_id, sub, emb[sub*16 + 1 : sub*16 + 16] AS sv
        FROM v, generate_series(0, 3) AS g(sub)),
      b0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cid, sv AS c
             FROM subs WHERE vec_id < 8),
      pa1 AS (${pqAssign("subs", "b0")}),
      b1 AS (${pqUpdate("b0", "pa1")}),
      pa2 AS (${pqAssign("subs", "b1")}),
      b2 AS (${pqUpdate("b1", "pa2")}),
      paf AS (${pqAssign("subs", "b2")}),
      pqcodes AS (SELECT vec_id, list(cid ORDER BY sub) AS codes
                  FROM paf GROUP BY vec_id),
      lut AS (
        SELECT query_id, list(d2 ORDER BY sub, cid) AS lut FROM (
          SELECT q.vec_id AS query_id, b.sub, b.cid,
                 ${pqD2("q.sv", "b.c", 16)} AS d2
          FROM subs q JOIN b2 b USING (sub) WHERE q.vec_id < 10)
        GROUP BY query_id),
      probed AS (
        SELECT query_id, cid FROM (
          SELECT q.vec_id AS query_id, x.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckCos("q.emb", "x.c")} DESC, x.cid ASC) AS r
          FROM v q CROSS JOIN c2 x WHERE q.vec_id < 10)
        WHERE r <= 2),
      scored AS (
        SELECT p.query_id, cd.vec_id,
               list_sum(list_transform(generate_series(0, 3), s ->
                 l.lut[s*8 + cd.codes[s+1] + 1])) AS d2
        FROM pqcodes cd
        JOIN kaf a ON cd.vec_id = a.vec_id
        JOIN probed p ON p.cid = a.cid
        JOIN lut l ON l.query_id = p.query_id
        WHERE cd.vec_id <> p.query_id)
      SELECT query_id, rank, vec_id, d2 FROM (
        SELECT query_id, vec_id, d2,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY d2 ASC, vec_id ASC) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Johnson–Lindenstrauss ±1 random projection (Similarity.jlProject,
    * 64→16): the embedding-compression step ahead of ANN / k-means /
    * SemDeDup — at 100 TB it cuts every downstream vector shuffle and
    * cache 4× while the JL lemma bounds distance distortion. The
    * Rademacher (not Gaussian) matrix keeps the arithmetic
    * transcendental-free, so the oracle replays the identical
    * ascending-dim fold (list_sum's in-order double fold — the q56
    * dot-product precedent) against the SAME md5-derived sign values,
    * and every projected double hash-matches. */
  private val q148 = Q("q148_jl_project",
    (s, dir) => t(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(Similarity.jlProject(col("embedding"), 16, 64)))
      .select(col("vec_id"), col("pos").cast("long").as("j"),
        col("col").as("p"))
      .orderBy("vec_id", "j"),
    Some {
      val signs = (0 until 16).map(j =>
        "[" + (0 until 64).map(d => Similarity.jlSign(j, d)).mkString(",") +
          "]").mkString("[", ",\n        ", "]")
      s"""
      WITH s(m) AS (SELECT $signs),
      g AS (SELECT unnest(generate_series(0, 15)) AS j)
      SELECT e.vec_id, CAST(g.j AS BIGINT) AS j,
             list_sum(list_transform(generate_series(1, 64), i ->
               CAST(e.embedding[i] AS DOUBLE) * s.m[g.j + 1][i]))
               / sqrt(CAST(16 AS DOUBLE)) AS p
      FROM embeddings e CROSS JOIN g CROSS JOIN s
      ORDER BY vec_id, j"""
    })

  /** CCNet perplexity tiers (TextAnalysis.perplexityTiers): the
    * head/middle/tail per-language quality partition CCNet ships —
    * train on head, mine middle, drop tail. Composes the q125 bigram-LM
    * replay with an NTILE(3) per language; NULLS LAST is explicit on
    * both engines (Spark's ASC default is nulls-FIRST, DuckDB's
    * nulls-LAST), ties break on doc id, so tier assignment is
    * deterministic and the whole composition hash-gates. The ntile is
    * the exact gate semantics; the 100 TB swap-in is
    * perplexityTiersApprox (broadcast approx-quantile thresholds, no
    * per-language sort), ScalaTest-pinned to ≥95% fixture agreement. */
  private val q149 = Q("q149_ppl_tiers",
    (s, dir) => graft.llm.TextAnalysis.perplexityTiers(
      t(s, dir, "documents"), "doc_id", "text", "lang", nTiers = 3)
      .orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      uni AS (
        SELECT unnest(t) AS a FROM arr),
      ca AS (SELECT a, COUNT(*) AS ca FROM uni GROUP BY 1),
      v AS (SELECT COUNT(*) AS v FROM ca),
      dbg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i])) AS a,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i + 1])) AS b
        FROM arr),
      cab AS (SELECT a, b, COUNT(*) AS cab FROM dbg GROUP BY 1, 2),
      scored AS (
        SELECT doc_id,
               exp(CAST(SUM(CAST((-ln(CAST(cab.cab + 1 AS DOUBLE)
                 / (ca.ca + v.v))) AS DECIMAL(30,12))) AS DOUBLE)
                 / COUNT(*)) AS perplexity
        FROM dbg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v
        GROUP BY doc_id),
      tiers AS (
        SELECT d.doc_id AS doc_id, d.lang AS lang, s.perplexity AS perplexity,
               CAST(NTILE(3) OVER (PARTITION BY d.lang
                 ORDER BY s.perplexity ASC NULLS LAST, d.doc_id ASC)
                 AS BIGINT) AS tier
        FROM documents d LEFT JOIN scored s USING (doc_id))
      SELECT doc_id, lang, perplexity, tier,
             CASE WHEN tier = 1 THEN 'head'
                  WHEN tier = 3 THEN 'tail'
                  ELSE 'middle' END AS tier_label
      FROM tiers ORDER BY doc_id"""))

  /** JL-compressed ANN (Similarity.jlTopK): candidates by projected
    * unit-vector L2 (32-term dots instead of 64), exact full-width
    * cosine rescore of the top-100, top-5 returned. outDims = 32 is
    * sized to the fixture's small neighbor gap (see the operator's
    * scaladoc). Deterministic end-to-end (±1 matrix, ascending folds,
    * id tie-breaks) so candidate ranking AND rescore replay in DuckDB
    * and hash-match. */
  private val q150 = Q("q150_jl_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.jlTopK(emb.filter(col("vec_id") < 10), emb, 5,
        cands = 100, outDims = 32)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some {
      val signs = (0 until 32).map(j =>
        "[" + (0 until 64).map(d => Similarity.jlSign(j, d)).mkString(",") +
          "]").mkString("[", ",\n        ", "]")
      def dotP(a: String, b: String) =
        s"list_sum(list_transform(generate_series(1, 32), i -> $a[i] * $b[i]))"
      s"""
      WITH s(m) AS (SELECT $signs),
      p AS (
        SELECT vec_id, list(pj ORDER BY j) AS p FROM (
          SELECT e.vec_id, g.j,
                 list_sum(list_transform(generate_series(1, 64), i ->
                   (CAST(e.embedding[i] AS DOUBLE) / e.nrm) * s.m[g.j + 1][i]))
                   / sqrt(CAST(32 AS DOUBLE)) AS pj
          FROM (SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                    AS nrm
                FROM embeddings) e
          CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) g
          CROSS JOIN s)
        GROUP BY vec_id),
      cand AS (
        SELECT query_id, vec_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   (${dotP("q.p", "q.p")} + ${dotP("c.p", "c.p")}
                     - 2.0 * ${dotP("q.p", "c.p")}) ASC,
                   c.vec_id ASC) AS r
          FROM p q JOIN p c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        WHERE r <= 100),
      res AS (
        SELECT cd.query_id, cd.vec_id,
               ${duckCos("qe.embedding", "ce.embedding")} AS cos
        FROM cand cd
        JOIN embeddings qe ON qe.vec_id = cd.query_id
        JOIN embeddings ce ON ce.vec_id = cd.vec_id)
      SELECT query_id, rank, vec_id, cos FROM (
        SELECT query_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
        FROM res)
      WHERE rank <= 5 ORDER BY query_id, rank"""
    })

  /** Temperature-scaled source mixture (Corpus.temperatureMixture,
    * the XLM-R/mT5 α-sampling rule): per-source mass ∝ n_s^α via
    * exp(α·ln n) — the shared-libm pair q125 pins — with the mass
    * total through the exact-decimal sum, so per-source targets and
    * the md5-rank selection replay bit-identically in DuckDB. */
  private val q151 = Q("q151_temp_mixture",
    (s, dir) => graft.llm.Corpus.temperatureMixture(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      "source", "doc_id", alpha = 0.5, totalDocs = 300)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id"),
    Some(s"""
      WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
        FROM documents GROUP BY source),
      w AS (SELECT source, n_src,
              exp(0.5 * ln(CAST(n_src AS DOUBLE))) AS w
            FROM c),
      t AS (SELECT ${dsumSql("w", 12)} AS tw FROM w),
      tgt AS (
        SELECT source,
               LEAST(n_src, CAST(ceil(300.0 * (w / tw)) AS BIGINT)) AS tgt
        FROM w CROSS JOIN t),
      r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT r.doc_id, r.source FROM r JOIN tgt USING (source)
      WHERE rk <= tgt ORDER BY doc_id"""))

  /** KMV bottom-k distinct sketch with INTERSECTION estimates
    * (graft.llm.KmvSketch): the set-overlap primitive HLL registers
    * cannot answer. Per returnflag the sketch is the k smallest
    * md5-60bit hashes of the distinct partkey set (deterministic — no
    * RNG, no engine-private digest), so the DuckDB oracle rebuilds the
    * identical sketches via a bottom-k window and every estimate —
    * per-set cardinality, union, and the Jaccard-scaled intersection —
    * hash-matches bit-for-bit. The library path is the bounded
    * [[graft.llm.KmvSketch.KmvAggregator]] (≤ k longs of state,
    * map-side combinable); at sf0.001 the sets are under k and both
    * engines take the exact branch, at sf0.01+ the estimator branch. */
  private val q154 = Q("q154_kmv_overlap",
    (s, dir) => {
      import graft.llm.KmvSketch._
      val d = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("f"), col("l_partkey").as("key"))
        .distinct()
      val sk = d.select(col("f"), hash60(col("key")).as("h"))
        .groupBy("f").agg(kmvAgg(col("h")).as("sk"))
      val pairs = sk.as("a").join(sk.as("b"), col("a.f") < col("b.f"))
        .select(col("a.f").as("fa"), col("b.f").as("fb"),
          col("a.sk").as("ska"), col("b.sk").as("skb"))
      val est = pairs.select(col("fa"), col("fb"),
        estimate(col("ska")).as("kmv_a"),
        estimate(col("skb")).as("kmv_b"),
        estimate(unionSketch(col("ska"), col("skb"))).as("kmv_union"),
        intersectEstimate(col("ska"), col("skb")).as("kmv_inter"))
      val interExact = d.as("x")
        .join(d.as("y"), col("x.key") === col("y.key") && col("x.f") < col("y.f"))
        .groupBy(col("x.f").as("fa"), col("y.f").as("fb"))
        .agg(count(lit(1)).as("n_inter_exact"))
      est.join(interExact, Seq("fa", "fb")).orderBy("fa", "fb")
    },
    Some("""
      WITH d AS (SELECT DISTINCT l_returnflag AS f, l_partkey AS key FROM lineitem),
      h AS (SELECT f, ('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15))::BIGINT AS h60 FROM d),
      r AS (SELECT f, h60, row_number() OVER (PARTITION BY f ORDER BY h60) AS rn FROM h),
      sk AS (SELECT f, h60, rn FROM r WHERE rn <= 256),
      card AS (SELECT f, count(*) AS m,
                      max(CASE WHEN rn = 256 THEN h60 END) AS kth
               FROM sk GROUP BY f),
      est AS (SELECT f, CASE WHEN m < 256 THEN CAST(m AS DOUBLE)
                             ELSE 255.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE)
                        END AS d_est
              FROM card),
      pr AS (SELECT a.f AS fa, b.f AS fb FROM card a JOIN card b ON a.f < b.f),
      u0 AS (SELECT p.fa, p.fb, s.h60 FROM pr p JOIN sk s ON s.f = p.fa
             UNION
             SELECT p.fa, p.fb, s.h60 FROM pr p JOIN sk s ON s.f = p.fb),
      ur AS (SELECT fa, fb, h60,
                    row_number() OVER (PARTITION BY fa, fb ORDER BY h60) AS rn
             FROM u0),
      uk AS (SELECT fa, fb, h60, rn FROM ur WHERE rn <= 256),
      uc AS (SELECT fa, fb, count(*) AS m,
                    max(CASE WHEN rn = 256 THEN h60 END) AS kth
             FROM uk GROUP BY 1, 2),
      ue AS (SELECT fa, fb, m, CASE WHEN m < 256 THEN CAST(m AS DOUBLE)
                                    ELSE 255.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE)
                               END AS u_est
             FROM uc),
      x AS (SELECT u.fa, u.fb, count(*) AS nx FROM uk u
            JOIN sk a ON a.f = u.fa AND a.h60 = u.h60
            JOIN sk b ON b.f = u.fb AND b.h60 = u.h60
            GROUP BY 1, 2),
      ie AS (SELECT ue.fa, ue.fb, ue.u_est,
                    (CAST(COALESCE(x.nx, 0) AS DOUBLE) / ue.m) * ue.u_est AS kmv_inter
             FROM ue LEFT JOIN x ON x.fa = ue.fa AND x.fb = ue.fb),
      nxact AS (SELECT a.f AS fa, b.f AS fb, CAST(count(*) AS BIGINT) AS n_inter_exact
                FROM d a JOIN d b ON a.key = b.key AND a.f < b.f GROUP BY 1, 2)
      SELECT ie.fa, ie.fb, ea.d_est AS kmv_a, eb.d_est AS kmv_b,
             ie.u_est AS kmv_union, ie.kmv_inter, nxact.n_inter_exact
      FROM ie
      JOIN est ea ON ea.f = ie.fa
      JOIN est eb ON eb.f = ie.fb
      JOIN nxact ON nxact.fa = ie.fa AND nxact.fb = ie.fb
      ORDER BY ie.fa, ie.fb"""))

  /** Word-unigram entropy + type-token ratio (RedPajama-v2's
    * `rps_doc_unigram_entropy` quality signal) in the one-pass native
    * kernel — zero shuffle. The oracle replays the within-doc word
    * counts via unnest/GROUP BY and sums the identical
    * shared-libm ln terms through DECIMAL(30,12) (the dsum/q125
    * discipline), so the entropy doubles hash bit-for-bit. */
  private val q167 = Q("q167_unigram_entropy",
    (s, dir) => TextAnalysis.unigramEntropy(t(s, dir, "documents"),
      "doc_id", "text").orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      u AS (SELECT doc_id, len(t) AS n, unnest(t) AS w FROM arr),
      c AS (SELECT doc_id, n, w, COUNT(*) AS c FROM u GROUP BY 1, 2, 3),
      e AS (SELECT doc_id,
              CAST(max(n) AS BIGINT) AS n_tokens,
              CAST(COUNT(*) AS BIGINT) AS n_types,
              CAST(SUM(CAST(-((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
                AS DECIMAL(30,12))) AS DOUBLE) AS entropy
            FROM c GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_types, entropy,
             CAST(n_types AS DOUBLE) / n_tokens AS ttr
      FROM e ORDER BY doc_id"""))

  /** Consecutive-duplicate-token collapse (the cleaner matching
    * Gopher's repetition measurements): first token of every run
    * survives; the oracle keeps positions whose token differs from
    * its predecessor (1-based list index 0 → NULL → the i=1 OR picks
    * it up) and re-joins in position order. */
  private val q168 = Q("q168_token_collapse",
    (s, dir) => TextAnalysis.collapseTokenRuns(t(s, dir, "documents"),
      "doc_id", "text").orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      pos AS (SELECT doc_id, len(t) AS n,
              unnest(list_transform(generate_series(1, len(t)),
                i -> {'i': i, 'w': t[i],
                      'keep': (i = 1 OR t[i] <> t[i-1])})) AS p
              FROM arr),
      kept AS (SELECT doc_id, n, p.i AS i, p.w AS w FROM pos WHERE p.keep),
      agg AS (SELECT doc_id, n, COUNT(*) AS n_kept,
                     string_agg(w, ' ' ORDER BY i) AS cleaned
              FROM kept GROUP BY 1, 2)
      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             CAST(n_kept AS BIGINT) AS n_kept,
             CAST(n - n_kept AS BIGINT) AS n_collapsed, cleaned
      FROM agg ORDER BY doc_id"""))

  /** k-center coreset selection (Gonzalez farthest-point traversal):
    * the oracle unrolls all 8 greedy rounds as CTEs — seed, then
    * argmax-of-min-squared-L2 with the identical |x|²+|c|²−2·x·c
    * ascending-dim fold each round — so every pick AND its selection
    * distance hash cross-engine. */
  private val q169 = Q("q169_kcenter_coreset",
    (s, dir) => Similarity.kCenterCoreset(t(s, dir, "embeddings"), k = 8)
      .orderBy("sel_rank"),
    Some(q169Oracle))

  private def q169Oracle: String = {
    def dt(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> " +
        s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    val k = 8
    val sb = new StringBuilder
    sb ++= s"""WITH x AS (SELECT vec_id, embedding,
             ${dt("embedding", "embedding")} AS xx FROM embeddings),
      c1 AS (SELECT vec_id, embedding, xx FROM x ORDER BY vec_id LIMIT 1),
      f1 AS (SELECT x.vec_id, x.embedding, x.xx,
               x.xx + c.xx - 2 * ${dt("x.embedding", "c.embedding")} AS dmin
             FROM x, c1 c WHERE x.vec_id <> c.vec_id)"""
    for (r <- 2 to k) {
      sb ++= s""",
      c$r AS (SELECT vec_id, embedding, xx, dmin FROM f${r - 1}
              ORDER BY dmin DESC, vec_id LIMIT 1)"""
      if (r < k) sb ++= s""",
      f$r AS (SELECT f.vec_id, f.embedding, f.xx,
               least(f.dmin,
                 f.xx + c.xx - 2 * ${dt("f.embedding", "c.embedding")}) AS dmin
             FROM f${r - 1} f, c$r c WHERE f.vec_id <> c.vec_id)"""
    }
    sb ++= """
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,
               CAST(NULL AS DOUBLE) AS min_dist FROM c1"""
    for (r <- 2 to k) sb ++= s"""
        UNION ALL SELECT CAST($r AS BIGINT), vec_id, dmin FROM c$r"""
    sb ++= """
      ) ORDER BY sel_rank"""
    sb.toString
  }

  /** Bigram collocations by PMI — ranking by the exact-integer count
    * ratio (order-equivalent to PMI, no ln(), the q69 portability
    * discipline); ties break on the pair itself. */
  private val q171 = Q("q171_pmi_pairs",
    (s, dir) => TextAnalysis.pmiPairs(t(s, dir, "documents"), "text", minCount = 5)
      .orderBy(col("pmi_ratio").desc, col("a").asc, col("b").asc).limit(25),
    Some("""
      WITH arr AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      uni AS (SELECT unnest(t) AS w FROM arr),
      uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n_total FROM uni),
      bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
               i -> {'a': t[i], 'b': t[i + 1]})) AS p
             FROM arr),
      bc AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS cab FROM bg
             GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      SELECT a, b, cab, ca, cb,
             (CAST(cab AS DOUBLE) * CAST(n_total AS DOUBLE))
               / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) AS pmi_ratio
      FROM bc
      JOIN (SELECT w AS a, c AS ca FROM uc) USING (a)
      JOIN (SELECT w AS b, c AS cb FROM uc) USING (b)
      CROSS JOIN tot
      ORDER BY pmi_ratio DESC, a, b LIMIT 25"""))

  /** Shared DuckDB replay of [[Pca.topComponent]]: exact-decimal
    * second moment, `iters` power-iteration rounds as CTEs with the
    * identical ascending-index `list_sum` folds, Rayleigh eigenvalue,
    * and the same largest-|loading|-positive sign canon. Prototyped
    * against a sequential-fold reference: cross-engine drift ~1e-14,
    * far inside the gate's 1e-9 rounding. */
  private def pcaOracleChain(dims: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
             FROM embeddings),
      g AS (SELECT gi.i AS i, gj.j AS j
            FROM generate_series(1,$dims) gi(i), generate_series(1,$dims) gj(j)),
      mm AS (SELECT i, j, CAST(SUM(CAST(x[i] * x[j] AS DECIMAL(30,12))) AS DOUBLE) AS m
             FROM e, g GROUP BY i, j),
      mr AS (SELECT i, list(m ORDER BY j) AS mrow FROM mm GROUP BY i),
      v0 AS (SELECT list_transform(generate_series(1,$dims),
               i -> CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END) AS v)"""
    var prev = "v0"
    for (it <- 1 to iters) {
      sb ++= s""",
      w$it AS (SELECT list(ws ORDER BY i) AS w FROM (
        SELECT mr.i AS i,
               list_sum(list_transform(generate_series(1,$dims),
                 j -> mr.mrow[j] * $prev.v[j])) AS ws
        FROM mr, $prev)),
      v$it AS (SELECT list_transform(w,
                 x -> x / sqrt(list_sum(list_transform(w, y -> y * y)))) AS v
               FROM w$it)"""
      prev = s"v$it"
    }
    sb ++= s""",
      wf AS (SELECT list(ws ORDER BY i) AS w FROM (
        SELECT mr.i AS i,
               list_sum(list_transform(generate_series(1,$dims),
                 j -> mr.mrow[j] * $prev.v[j])) AS ws
        FROM mr, $prev)),
      lam AS (SELECT list_sum(list_transform(generate_series(1,$dims),
                i -> $prev.v[i] * wf.w[i])) AS eigval FROM $prev, wf),
      am AS (SELECT t.i AS am FROM $prev, generate_series(1,$dims) t(i)
             ORDER BY abs(v[t.i]) DESC, t.i LIMIT 1),
      sgn AS (SELECT CASE WHEN v[am] < 0 THEN -1.0 ELSE 1.0 END AS s
              FROM $prev, am),
      vt AS (SELECT v FROM $prev)"""
    sb.toString
  }

  private val PcaDims = 64
  private val PcaIters = 12

  /** Top principal component (uncentered) of the embedding corpus:
    * one distributed exact-decimal pass for the dims² second moment,
    * then driver-side power iteration — see [[Pca]]. */
  private val q172 = Q("q172_pca_power",
    (s, dir) => Pca.topComponentDf(t(s, dir, "embeddings"),
      dims = PcaDims, iters = PcaIters).orderBy("dim"),
    Some(pcaOracleChain(PcaDims, PcaIters) + s"""
      SELECT CAST(t.i AS BIGINT) AS dim, s * v[t.i] AS loading, eigval
      FROM vt, generate_series(1,$PcaDims) t(i), sgn, lam ORDER BY dim"""))

  /** Projection of every vector onto the top component (the
    * all-but-the-top / SIF first step), surfacing the strongest
    * outliers along the dominant direction: a narrow codegen map over
    * the corpus, component shipped as a literal. */
  private val q173 = Q("q173_pca_project",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (v, _) = Pca.topComponent(emb, dims = PcaDims, iters = PcaIters)
      Pca.project(emb, v)
        .select(col("vec_id"), col("label"), col("proj"))
        .orderBy(abs(col("proj")).desc, col("vec_id")).limit(20)
    },
    Some(pcaOracleChain(PcaDims, PcaIters) + s"""
      SELECT vec_id, label,
             s * list_sum(list_transform(generate_series(1,$PcaDims),
               i -> CAST(embedding[i] AS DOUBLE) * v[i])) AS proj
      FROM embeddings, vt, sgn
      ORDER BY abs(proj) DESC, vec_id LIMIT 20"""))

  /** Per-document 5-gram novelty against every earlier (lower-id)
    * document — the dedup-aware "sample novel data first" curation
    * signal. */
  private val q174 = Q("q174_ngram_novelty",
    (s, dir) => TextAnalysis.ngramNovelty(t(s, dir, "documents"),
      "doc_id", "text", n = 5).orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 4),
                 i -> array_to_string(t[i:i+4], ' '))) AS shingle
             FROM arr),
      f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
             CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS novelty
      FROM sh JOIN f USING (shingle)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Asymmetric near-subset detection over the jaccard LSH candidate
    * family — direction (who contains whom) and degree; see
    * [[Dedup.containmentPairs]] for the recall scope. */
  private val q175 = Q("q175_containment",
    (s, dir) => Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("contained_id", "container_id"),
    Some(s"""$duckMinhashCtes,$duckBandCte,
      cont AS (
        SELECT CASE WHEN len(da.sh) <= len(db.sh) THEN id_a ELSE id_b END
                 AS contained_id,
               CASE WHEN len(da.sh) <= len(db.sh) THEN id_b ELSE id_a END
                 AS container_id,
               len(list_intersect(da.sh, db.sh)) * 1.0
                 / least(len(da.sh), len(db.sh)) AS containment
        FROM pre JOIN d da ON da.doc_id = id_a JOIN d db ON db.doc_id = id_b)
      SELECT contained_id, container_id, containment FROM cont
      WHERE containment >= 0.8 ORDER BY contained_id, container_id"""))

  /** All-but-the-top (Mu & Viswanath) applied: every embedding minus
    * its top-component projection; the oracle recomputes proj and the
    * residual norm with the identical per-row ascending-index folds
    * on top of the shared power-iteration chain. */
  private val q177 = Q("q177_pca_remove",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (v, _) = Pca.topComponent(emb, dims = PcaDims, iters = PcaIters)
      Pca.removeTop(emb, v)
        .select(col("vec_id"), col("proj"), col("resid_norm"))
        .orderBy("vec_id")
    },
    Some(pcaOracleChain(PcaDims, PcaIters) + s"""
      SELECT vec_id, proj,
             sqrt(list_sum(list_transform(generate_series(1,$PcaDims), i ->
               (CAST(embedding[i] AS DOUBLE) - proj * (s * v[i])) *
               (CAST(embedding[i] AS DOUBLE) - proj * (s * v[i]))))) AS resid_norm
      FROM (SELECT vec_id, embedding, s, v,
              s * list_sum(list_transform(generate_series(1,$PcaDims), i ->
                CAST(embedding[i] AS DOUBLE) * v[i])) AS proj
            FROM embeddings, vt, sgn) pr
      ORDER BY vec_id"""))

  /** Median/MAD robust outlier flags on doc length per source —
    * the heavy-tail-safe alternative to z-scores. */
  private val q176 = Q("q176_mad_outliers",
    (s, dir) => TextAnalysis.madOutliers(t(s, dir, "documents"),
      "doc_id", "source", "n_chars", k = 3.0).orderBy("doc_id"),
    Some("""
      WITH med AS (SELECT source,
                     quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
                   FROM documents GROUP BY 1),
      dev AS (SELECT doc_id, d.source AS source, med,
                     abs(CAST(n_chars AS DOUBLE) - med) AS absdev
              FROM documents d JOIN med USING (source)),
      mad AS (SELECT source, quantile_cont(absdev, 0.5) AS mad
              FROM dev GROUP BY 1)
      SELECT doc_id, source, med, mad, absdev > 3.0 * mad AS is_outlier
      FROM dev JOIN mad USING (source) ORDER BY doc_id"""))

  /** Per-source total-variation distance from the corpus unigram
    * distribution (domain-shift triage beside DSIR): see
    * [[TextAnalysis.sourceTvd]]. Exact-BIGINT numerator, one IEEE
    * division. */
  private val q179 = Q("q179_source_tvd",
    (s, dir) => TextAnalysis.sourceTvd(t(s, dir, "documents"),
      "source", "text").orderBy("source"),
    Some("""
      WITH arr AS (
        SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      tok AS (SELECT source, unnest(t) AS term FROM arr),
      st AS (SELECT source, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      g AS (SELECT term, CAST(SUM(c) AS BIGINT) AS gc FROM st GROUP BY 1),
      stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS s FROM st GROUP BY 1),
      gtot AS (SELECT CAST(SUM(c) AS BIGINT) AS gt FROM st),
      parts AS (
        SELECT st.source,
               CAST(SUM(abs(st.c * gtot.gt - g.gc * stot.s)) AS BIGINT)
                 AS present,
               CAST(SUM(g.gc) AS BIGINT) AS gsum
        FROM st JOIN g USING (term) JOIN stot USING (source) CROSS JOIN gtot
        GROUP BY 1)
      SELECT p.source, stot.s AS n_tokens,
             CAST(p.present + stot.s * (gtot.gt - p.gsum) AS DOUBLE)
               / (2.0 * CAST(stot.s AS DOUBLE) * CAST(gtot.gt AS DOUBLE))
               AS tvd
      FROM parts p JOIN stot USING (source) CROSS JOIN gtot
      ORDER BY source"""))

  /** Token-budget greedy selection by type-token ratio (best-first
    * fill until the budget): see [[TextAnalysis.budgetSelect]]. The
    * oracle replays the straddle rule — kept iff the budget is not
    * exhausted before the doc. */
  private val q180 = Q("q180_budget_select",
    (s, dir) => TextAnalysis.budgetSelect(t(s, dir, "documents"),
      "doc_id", "text", budgetTokens = 15000L)
      .orderBy(col("score").desc, col("doc_id")),
    Some("""
      WITH b AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(
                   regexp_split_to_array(trim(lower(text)), '\s+')))
                 AS DOUBLE)
                 / CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                     AS DOUBLE) AS score
        FROM documents),
      c AS (SELECT doc_id, n_tokens, score,
              CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM b)
      SELECT doc_id, n_tokens, score, cum_tokens FROM c
      WHERE cum_tokens - n_tokens < 15000
      ORDER BY score DESC, doc_id"""))

  /** Vocabulary coverage curve — smallest frequency-ranked vocab
    * reaching each integer-percent token-mass threshold: see
    * [[TextAnalysis.vocabCoverage]]. All-BIGINT reach test
    * (cum·100 ≥ pct·total). */
  private val q181 = Q("q181_vocab_coverage",
    (s, dir) => TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text")
      .orderBy("pct"),
    Some("""
      WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents),
      tc AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM tc),
      r AS (SELECT term, c,
              CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS BIGINT) AS rk,
              CAST(SUM(c) OVER (ORDER BY c DESC, term
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM tc),
      p AS (SELECT CAST(unnest([50, 80, 90, 95, 99]) AS BIGINT) AS pct)
      SELECT p.pct, MIN(r.rk) AS vocab_size,
             CAST(arg_min(r.cum, r.rk) AS BIGINT) AS covered_tokens,
             CAST(arg_min(r.cum, r.rk) AS DOUBLE) / CAST(tot.total AS DOUBLE)
               AS coverage
      FROM p CROSS JOIN tot CROSS JOIN r
      WHERE r.cum * 100 >= p.pct * tot.total
      GROUP BY p.pct, tot.total ORDER BY pct"""))

  /** Pairwise cosine between per-label embedding centroids (the
    * domain-similarity matrix before mixture weighting): see
    * [[Similarity.groupCentroidCosine]]. Per-dim exact decimal sums,
    * ascending-dim double folds. */
  private val q182 = Q("q182_centroid_cosine",
    (s, dir) => Similarity.groupCentroidCosine(t(s, dir, "embeddings"),
      "label", "embedding", dims = 64)
      .orderBy("grp_a", "grp_b"),
    Some("""
      WITH sums AS (
        SELECT label, i.i AS dim,
               CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE)
                 AS DECIMAL(30,12))) AS DECIMAL(38,12)) AS s
        FROM embeddings, generate_series(1, 64) i(i)
        GROUP BY 1, 2),
      cent AS (
        SELECT label, list(CAST(s AS DOUBLE) ORDER BY dim) AS cvec
        FROM sums GROUP BY 1)
      SELECT a.label AS grp_a, b.label AS grp_b,
             list_sum(list_transform(generate_series(1, 64),
               i -> a.cvec[i] * b.cvec[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> a.cvec[i] * a.cvec[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> b.cvec[i] * b.cvec[i])))) AS cosine
      FROM cent a JOIN cent b ON a.label < b.label
      ORDER BY grp_a, grp_b"""))

  /** Sparse all-pairs document cosine over df-capped bigram postings
    * (the DIMSUM-style related-documents join): see
    * [[TextAnalysis.sparseCosinePairs]]. */
  private val q178 = Q("q178_sparse_cosine",
    (s, dir) => TextAnalysis.sparseCosinePairs(t(s, dir, "documents"),
      "doc_id", "text").orderBy("id_a", "id_b"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      bg AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS term
             FROM arr),
      p0 AS (SELECT doc_id, term, COUNT(*) AS tf FROM bg GROUP BY 1, 2),
      keep AS (SELECT term FROM p0 GROUP BY term HAVING COUNT(*) <= 12),
      p AS (SELECT p0.* FROM p0 JOIN keep USING (term)),
      nrm AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
              FROM p GROUP BY 1),
      num AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(SUM(a.tf * b.tf) AS BIGINT) AS num
              FROM p a JOIN p b USING (term)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT id_a, id_b, cosine FROM (
        SELECT id_a, id_b,
               CAST(num AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                 AS cosine
        FROM num JOIN nrm na ON na.doc_id = id_a
                 JOIN nrm nb ON nb.doc_id = id_b)
      WHERE cosine >= 0.5 ORDER BY id_a, id_b"""))

  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions — the mixture designer's source-redundancy /
    * drift matrix; see [[TextAnalysis.jsDivergence]] for the
    * inner-join decomposition (shared terms + exact absent-mass
    * correction). */
  private val q185 = Q("q185_js_divergence",
    (s, dir) => TextAnalysis.jsDivergence(t(s, dir, "documents"),
      "source", "text").orderBy("src_a", "src_b"),
    Some("""
      WITH tk AS (SELECT source AS src,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
             FROM documents),
      cnt AS (SELECT src, w, COUNT(*) AS c FROM tk GROUP BY 1, 2),
      tot AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY 1),
      j AS (SELECT a.src AS src_a, b.src AS src_b, a.c AS ca, b.c AS cb,
                   CAST(a.c AS DOUBLE) / CAST(ta.n AS DOUBLE) AS pa,
                   CAST(b.c AS DOUBLE) / CAST(tb.n AS DOUBLE) AS pb
            FROM cnt a JOIN cnt b USING (w)
            JOIN tot ta ON ta.src = a.src JOIN tot tb ON tb.src = b.src
            WHERE a.src < b.src),
      sh AS (SELECT src_a, src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
               CAST(SUM(CAST(0.5 * (pa * ln(2 * pa / (pa + pb))
                                  + pb * ln(2 * pb / (pa + pb)))
                        AS DECIMAL(30,12))) AS DOUBLE) AS ssum,
               CAST(SUM(ca) AS BIGINT) AS sca, CAST(SUM(cb) AS BIGINT) AS scb
             FROM j GROUP BY 1, 2)
      SELECT ta.src AS src_a, tb.src AS src_b,
             COALESCE(n_shared_terms, 0) AS n_shared_terms,
             COALESCE(ssum, 0.0)
               + 0.5 * ln(2) * (
                   CAST(ta.n - COALESCE(sca, 0) AS DOUBLE) / CAST(ta.n AS DOUBLE)
                 + CAST(tb.n - COALESCE(scb, 0) AS DOUBLE) / CAST(tb.n AS DOUBLE))
               AS js
      FROM tot ta JOIN tot tb ON ta.src < tb.src
      LEFT JOIN sh ON sh.src_a = ta.src AND sh.src_b = tb.src
      ORDER BY src_a, src_b"""))

  /** Per-source Zipf rank-frequency slope (OLS in ln-ln space over
    * the top-50 terms) — corpus-health / template-detection readout;
    * see [[TextAnalysis.zipfSlope]] for the decimal-moment
    * determinism. */
  private val q186 = Q("q186_zipf_slope",
    (s, dir) => TextAnalysis.zipfSlope(t(s, dir, "documents"),
      "source", "text", topN = 50).orderBy("src"),
    Some("""
      WITH tk AS (SELECT source AS src,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
             FROM documents),
      cnt AS (SELECT src, w, COUNT(*) AS c FROM tk GROUP BY 1, 2),
      rk AS (SELECT src, w, c, row_number() OVER (
               PARTITION BY src ORDER BY c DESC, w ASC) AS r FROM cnt),
      top AS (SELECT * FROM rk WHERE r <= 50),
      mom AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(30,12)))
                 AS DOUBLE) AS sx,
               CAST(SUM(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(30,12)))
                 AS DOUBLE) AS sy,
               CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
                 AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                 AS DECIMAL(30,12))) AS DOUBLE) AS sxx
              FROM top GROUP BY 1)
      SELECT src, n_terms,
             CASE WHEN CAST(n_terms AS DOUBLE) * sxx - sx * sx <> 0
               THEN (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)
             END AS slope
      FROM mom ORDER BY src"""))

  /** Heaps'-law vocabulary growth curve (cumulative tokens vs
    * cumulative distinct types in doc-id order) — tokenizer-budget
    * sizing and stale-crawl detection; see
    * [[TextAnalysis.heapsCurve]] for the banded prefix-sum shape. */
  private val q187 = Q("q187_heaps_curve",
    (s, dir) => TextAnalysis.heapsCurve(t(s, dir, "documents"),
      "doc_id", "text").orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM arr),
      f AS (SELECT w, MIN(doc_id) AS fd
            FROM (SELECT doc_id, unnest(t) AS w FROM arr) GROUP BY 1),
      nn AS (SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_types
             FROM f GROUP BY 1)
      SELECT b.doc_id, b.n_tokens,
             CAST(COALESCE(nn.new_types, 0) AS BIGINT) AS new_types,
             CAST(SUM(b.n_tokens) OVER (ORDER BY b.doc_id) AS BIGINT)
               AS cum_tokens,
             CAST(SUM(COALESCE(nn.new_types, 0)) OVER (ORDER BY b.doc_id)
               AS BIGINT) AS cum_types
      FROM base b LEFT JOIN nn USING (doc_id) ORDER BY doc_id"""))

  /** Per-source rank normalization of doc length (percent_rank +
    * deterministic ntile quartile) — the cross-source quality-score
    * calibration step; see [[TextAnalysis.rankNormalize]]. */
  private val q188 = Q("q188_rank_normalize",
    (s, dir) => TextAnalysis.rankNormalize(t(s, dir, "documents"),
      "doc_id", "source", "n_chars").orderBy("doc_id"),
    Some("""
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr,
             CAST(ntile(4) OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS BIGINT) AS tier
      FROM documents ORDER BY doc_id"""))

  /** Matryoshka truncation recall: top-10 cosine retrieval on the
    * first 16 dims vs the full 64 — the serving-width decision
    * readout; see [[Similarity.truncatedRecall]]. */
  private val q189 = Q("q189_mrl_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.truncatedRecall(emb.filter(col("vec_id") < 20), emb,
        k = 10, truncDims = 16).orderBy("query_id")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                 FROM embeddings WHERE vec_id < 20),
      fs AS (SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
             FROM (SELECT query_id, vec_id,
                     list_sum(list_transform(generate_series(1, 64), i ->
                       CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                          CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                          CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))
                     AS cos
                   FROM embeddings JOIN q ON vec_id <> query_id)),
      ts AS (SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
             FROM (SELECT query_id, vec_id,
                     list_sum(list_transform(generate_series(1, 16), i ->
                       CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(generate_series(1, 16), i ->
                          CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(generate_series(1, 16), i ->
                          CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))
                     AS cos
                   FROM embeddings JOIN q ON vec_id <> query_id)),
      ov AS (SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
             FROM (SELECT query_id, vec_id FROM fs WHERE rank <= 10) f
             JOIN (SELECT query_id, vec_id FROM ts WHERE rank <= 10) t2
               USING (query_id, vec_id)
             GROUP BY 1)
      SELECT q.query_id, CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
             CAST(COALESCE(n_overlap, 0) AS DOUBLE) / 10.0 AS recall
      FROM q LEFT JOIN ov USING (query_id) ORDER BY query_id"""))

  /** Winnowing fingerprints (MOSS): word 4-gram hashes, 4-window
    * minima, distinct selected values per doc; see
    * [[TextAnalysis.winnowFingerprints]] for the guarantee and the
    * value-set tie-break argument. The gate projects the sorted
    * fingerprint set to ONE comma-joined string column — the
    * driver's comparator sorts/hashes scalar cells only, so a
    * top-level array column is ungradeable (r13's one red row). */
  private val q190 = Q("q190_winnow_fingerprint",
    (s, dir) => TextAnalysis.winnowFingerprints(t(s, dir, "documents"),
      "doc_id", "text", k = 4, w = 4)
      .withColumn("fingerprints",
        array_join(transform(col("fingerprints"),
          x => x.cast("string")), ","))
      .orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      g AS (SELECT doc_id, p.i AS pos,
              ('0x' || substr(md5(p.g), 1, 15))::BIGINT AS h
            FROM (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(t) - 3),
                      i -> {'i': i, 'g': array_to_string(t[i:i+3], ' ')})) AS p
                  FROM arr WHERE len(t) >= 4)),
      wm AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS w,
               COUNT(*) OVER (PARTITION BY doc_id) AS ng
             FROM g),
      sel AS (SELECT DISTINCT doc_id, ng, w FROM wm
              WHERE pos <= greatest(ng - 3, 1)),
      fp AS (SELECT doc_id, CAST(MAX(ng) AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
               array_to_string(list(w ORDER BY w), ',') AS fingerprints
             FROM sel GROUP BY 1)
      SELECT d.doc_id,
             COALESCE(n_grams, 0) AS n_grams,
             COALESCE(n_fingerprints, 0) AS n_fingerprints,
             COALESCE(fingerprints, '') AS fingerprints
      FROM documents d LEFT JOIN fp USING (doc_id) ORDER BY doc_id"""))

  /** Population Stability Index of doc length per source against
    * src0's deciles — the numeric-feature drift gate beside TVD/JS;
    * see [[TextAnalysis.psiDrift]] for the add-one smoothing. */
  private val q191 = Q("q191_psi_drift",
    (s, dir) => TextAnalysis.psiDrift(t(s, dir, "documents"),
      "source", "n_chars", refGroup = "src0").orderBy("source"),
    Some("""
      WITH v AS (SELECT source AS grp, CAST(n_chars AS DOUBLE) AS x
                 FROM documents),
      e AS (SELECT quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
              AS edges
            FROM v WHERE grp = 'src0'),
      b AS (SELECT grp, 1 + len(list_filter(edges, t -> x > t)) AS bin
            FROM v, e),
      c AS (SELECT grp, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
      spine AS (SELECT g.grp, gs.b AS bin
                FROM (SELECT DISTINCT grp FROM v) g, generate_series(1, 10) gs(b)),
      cc AS (SELECT s.grp, s.bin, COALESCE(c.c, 0) AS c
             FROM spine s LEFT JOIN c ON c.grp = s.grp AND c.bin = s.bin),
      n AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM cc GROUP BY 1),
      m AS (SELECT cc.grp, cc.bin,
              CAST(cc.c + 1 AS DOUBLE) / CAST(n.n + 10 AS DOUBLE) AS m
            FROM cc JOIN n USING (grp)),
      p AS (SELECT bin, m AS p FROM m WHERE grp = 'src0')
      SELECT m.grp AS source,
             CAST(SUM(CAST((m.m - p.p) * ln(m.m / p.p) AS DECIMAL(30,12)))
               AS DOUBLE) AS psi
      FROM m JOIN p USING (bin)
      GROUP BY 1 ORDER BY source"""))

  /** Per-dim z-score standardization of the embedding corpus (the
    * whitening-lite isotropy prep) — gated as (vec_id, dim, z)
    * SCALAR rows: the compare rounds scalar doubles to 9 decimals
    * but hashes array elements at full precision, and the two
    * engines' double→decimal casts differ at ~1 ulp (shortest-repr
    * HALF_UP vs full-expansion), so a z-vector column would demand
    * bit-exact floats — the PCA-gate scalar discipline instead; see
    * [[Similarity.standardizeDims]]. */
  private val q192 = Q("q192_dim_standardize",
    (s, dir) => Similarity.standardizeDims(t(s, dir, "embeddings"),
      "vec_id")
      .select(col("vec_id"), posexplode(col("z")).as(Seq("__i", "z")))
      .select(col("vec_id"), (col("__i") + 1).cast("long").as("dim"), col("z"))
      .orderBy("vec_id", "dim"),
    Some("""
      WITH e AS (SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
             FROM embeddings),
      s AS (SELECT i,
              CAST(SUM(CAST(x[i] AS DECIMAL(30,12))) AS DOUBLE) AS sx,
              CAST(SUM(CAST(x[i] * x[i] AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
              CAST(COUNT(*) AS DOUBLE) AS n
            FROM e, generate_series(1, 64) t(i) GROUP BY i),
      st AS (SELECT i, sx / n AS mu,
               sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS sd
             FROM s)
      SELECT vec_id, CAST(i AS BIGINT) AS dim,
             CASE WHEN sd = 0.0 THEN 0.0 ELSE (x[i] - mu) / sd END AS z
      FROM e, st ORDER BY vec_id, dim"""))

  /** Near-dup pair count per jaccard threshold over ONE LSH pass —
    * the cut-selection curve; see [[Dedup.thresholdCurve]]. */
  private val q193 = Q("q193_dedup_curve",
    (s, dir) => Dedup.thresholdCurve(t(s, dir, "documents"),
      "doc_id", "text").orderBy("threshold"),
    Some(s"""$duckMinhashCtes,$duckBandCte,
      th AS (SELECT unnest(CAST([0.5, 0.6, 0.7, 0.8, 0.9] AS DOUBLE[]))
               AS threshold)
      SELECT th.threshold, CAST(COUNT(v.jaccard) AS BIGINT) AS n_pairs
      FROM th LEFT JOIN (SELECT jaccard FROM verified WHERE jaccard >= 0.5) v
        ON v.jaccard >= th.threshold
      GROUP BY 1 ORDER BY threshold"""))

  /** Per-source filter-cascade funnel — [[TextAnalysis.filterFunnelBy]]
    * grouped on `source`: WHERE each crawl slice loses its mass
    * (repetition kill vs language mismatch vs junk floor), the table a
    * mixture owner reads before re-weighting sources. Additive with
    * q184: any stage summed across sources equals the global funnel
    * (LlmSpec asserts it). */
  private val q194 = Q("q194_funnel_by_source",
    (s, dir) => TextAnalysis.filterFunnelBy(t(s, dir, "documents"),
      "doc_id", "text", Some("lang"), Seq("source"))
      .orderBy("source", "stage"),
    Some {
      val markers = TextAnalysis.langMarkers
      val scoreDefs = markers.map { case (l, ms) =>
        s"len(list_filter(t, tok -> tok IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$l"
      }.mkString(",\n               ")
      val best = s"greatest(${markers.map(m => s"s_${m._1}").mkString(", ")})"
      val cases = markers.map { case (l, _) =>
        s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'"
      }.mkString("\n                    ")
      s"""
      WITH toks AS (
        SELECT doc_id, source, lang, text,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
      tc AS (SELECT doc_id, tok, COUNT(*) AS cnt
             FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
      ts AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                    CAST(MAX(cnt) AS BIGINT) AS topc
             FROM tc GROUP BY 1),
      bg AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1])) AS bigram
             FROM toks),
      bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
      bs AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nb,
                    CAST(COUNT(*) AS BIGINT) AS db
             FROM bc GROUP BY 1),
      scored AS (
        SELECT doc_id, source, lang, text, t,
               $scoreDefs
        FROM toks),
      flags AS (
        SELECT sc.doc_id, sc.source,
               CAST(len(sc.t) AS BIGINT) AS nt,
               CAST(len(list_distinct(sc.t)) AS DOUBLE) / len(sc.t) AS dr,
               len(regexp_extract_all(sc.text, '[0-9]{4,}')) AS dg,
               (CAST(ts.topc AS DOUBLE) / ts.n_tokens > 0.2
                OR COALESCE(1.0 - CAST(bs.db AS DOUBLE) / bs.nb > 0.3, FALSE))
                 AS repflag,
               (CASE $cases
                     ELSE 'und' END) = sc.lang AS langok
        FROM scored sc JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)),
      p AS (SELECT source, nt,
                   NOT repflag AS p1,
                   (NOT repflag AND langok) AS p2,
                   (NOT repflag AND langok AND dr >= 0.3 AND dg <= 5) AS p3
            FROM flags),
      a AS (SELECT source,
              CAST(COUNT(*) AS BIGINT) AS c0, CAST(SUM(nt) AS BIGINT) AS t0,
              CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
              CAST(SUM(CASE WHEN p1 THEN nt ELSE 0 END) AS BIGINT) AS t1,
              CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
              CAST(SUM(CASE WHEN p2 THEN nt ELSE 0 END) AS BIGINT) AS t2,
              CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
              CAST(SUM(CASE WHEN p3 THEN nt ELSE 0 END) AS BIGINT) AS t3
            FROM p GROUP BY source)
      SELECT * FROM (
        SELECT source, CAST(0 AS BIGINT) AS stage, 'all' AS stage_name,
               c0 AS n_docs, t0 AS n_tokens,
               CAST(c0 AS DOUBLE) / CAST(c0 AS DOUBLE) AS doc_frac FROM a
        UNION ALL SELECT source, CAST(1 AS BIGINT), 'repetition', c1, t1,
               CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) FROM a
        UNION ALL SELECT source, CAST(2 AS BIGINT), 'lang_match', c2, t2,
               CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) FROM a
        UNION ALL SELECT source, CAST(3 AS BIGINT), 'quality', c3, t3,
               CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) FROM a)
      ORDER BY source, stage"""
    })

  /** Cross-source duplicate-flow matrix over ONE LSH pass — which
    * source pairs share near-dup mass; see [[Dedup.dupFlowMatrix]]. */
  private val q195 = Q("q195_dup_flow",
    (s, dir) => Dedup.dupFlowMatrix(t(s, dir, "documents"),
      "doc_id", "text", "source").orderBy("source_a", "source_b"),
    Some(s"""$duckMinhashCtes,$duckBandCte
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(jaccard AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
               AS mean_jaccard
      FROM (SELECT * FROM verified WHERE jaccard >= 0.5) v
      JOIN documents da ON v.id_a = da.doc_id
      JOIN documents db ON v.id_b = db.doc_id
      GROUP BY 1, 2 ORDER BY source_a, source_b"""))

  /** Frequency-of-frequencies spectrum + Good-Turing adjusted count —
    * the hapax-mass readout; see [[TextAnalysis.freqSpectrum]]. */
  private val q196 = Q("q196_freq_spectrum",
    // maxR = 1000 spans the fixture's whole closed-class spectrum
    // (counts 26..984); the 50 default is the real-corpus hapax zone
    (s, dir) => TextAnalysis.freqSpectrum(t(s, dir, "documents"), "text",
      maxR = 1000L).orderBy("r"),
    Some("""
      WITH tc AS (
        SELECT tok, COUNT(*) AS r
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                AS tok FROM documents)
        GROUP BY tok),
      spec AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tc GROUP BY r)
      SELECT a.r, a.n_r,
             CAST(a.r + 1 AS DOUBLE) * CAST(b.n_r AS DOUBLE)
               / CAST(a.n_r AS DOUBLE) AS gt_r_star
      FROM spec a LEFT JOIN spec b ON b.r = a.r + 1
      WHERE a.r <= 1000 ORDER BY a.r"""))

  /** Reliability diagram of the q129 trained quality classifier —
    * predicted-probability bins vs empirical positive rate; see
    * [[QualityClassifier.calibrationBins]]. */
  private val q197 = Q("q197_calibration",
    // lr = 8 (vs q129's 1.0) + centi-bins: the fixture's weak features
    // concentrate the 3-iteration scores into a ~0.08-wide band, and
    // this pairing spreads the diagram over ~8 populated rows instead
    // of 1 — a hash over real per-bin arithmetic, not one cell
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feat = QualityClassifier.features(
        docs, "doc_id", "text", col("lang") === "en", enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 8.0)
      QualityClassifier.calibrationBins(
        QualityClassifier.score(feat, "doc_id", w), bins = 100)
        .orderBy("bin")
    },
    Some(s"""${duckLrScoredAt("8.0")},
      bnd AS (SELECT least(CAST(floor(p * 100) AS BIGINT), 99) AS bin, p, y
              FROM scored_lr)
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
               AS mean_p,
             CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*) AS frac_pos,
             abs(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*)
               - CAST(SUM(CAST(p AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*))
               AS gap
      FROM bnd GROUP BY bin ORDER BY bin"""))

  /** Neyman-allocated stratified sample (budget 100 across sources by
    * N_h·σ_h of n_chars); see [[Corpus.neymanAllocate]]. */
  private val q198 = Q("q198_neyman",
    (s, dir) => Corpus.neymanAllocate(t(s, dir, "documents"),
      "source", "doc_id", "n_chars", 100L)
      .select(col("doc_id"), col("source"), col("n_stratum"),
        col("stratum_stddev"), col("n_alloc"))
      .orderBy("doc_id"),
    Some("""
      WITH st AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(30,12)))
                 AS DOUBLE) AS sx,
               CAST(SUM(CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
                 AS DECIMAL(30,12))) AS DOUBLE) AS sxx
        FROM documents GROUP BY source),
      sd AS (SELECT source, n,
               sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS sd
             FROM st),
      wgt AS (SELECT source, n, sd, CAST(n AS DOUBLE) * sd AS w FROM sd),
      tw AS (SELECT CAST(SUM(CAST(w AS DECIMAL(30,12))) AS DOUBLE) AS tw
             FROM wgt),
      q AS (SELECT source, n, sd, 100.0 * w / tw AS q FROM wgt, tw),
      fl AS (SELECT source, n, sd, q,
               CAST(floor(q) AS BIGINT) AS fl, q - floor(q) AS fr
             FROM q),
      sfl AS (SELECT CAST(SUM(fl) AS BIGINT) AS sfl FROM fl),
      alloc AS (SELECT source, n, sd,
               least(n, fl + CASE WHEN row_number()
                   OVER (ORDER BY fr DESC, source) <= 100 - sfl
                 THEN 1 ELSE 0 END) AS n_alloc
             FROM fl, sfl),
      rk AS (SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             FROM documents)
      SELECT rk.doc_id, rk.source, a.n AS n_stratum,
             a.sd AS stratum_stddev, a.n_alloc
      FROM rk JOIN alloc a USING (source)
      WHERE rk.rk <= a.n_alloc ORDER BY doc_id"""))

  /** Expected Calibration Error of the q197-configured scorer — the
    * one-number reliability headline; see [[QualityClassifier.ece]]. */
  private val q199 = Q("q199_ece",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feat = QualityClassifier.features(
        docs, "doc_id", "text", col("lang") === "en", enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 8.0)
      QualityClassifier.ece(
        QualityClassifier.score(feat, "doc_id", w), bins = 100)
    },
    Some(s"""${duckLrScoredAt("8.0")},
      bnd AS (SELECT least(CAST(floor(p * 100) AS BIGINT), 99) AS bin, p, y
              FROM scored_lr),
      cb AS (SELECT bin, COUNT(*) AS n,
               CAST(SUM(CAST(p AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
                 AS mean_p,
               CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*) AS frac_pos
             FROM bnd GROUP BY bin)
      SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(SUM(CAST(CAST(n AS DOUBLE) * abs(frac_pos - mean_p)
               AS DECIMAL(30,12))) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
               AS ece
      FROM cb"""))

  /** Cohen's kappa between the two junk filters (Gopher repetition
    * pass vs the distinct-ratio/digit-run floor) — filter-redundancy
    * analysis; see [[QualityClassifier.agreementKappa]]. */
  private val q200 = Q("q200_filter_kappa",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      val flags = docs.select(col("doc_id"),
          (size(array_distinct(toks)).cast("double") / size(toks))
            .as("__dr"),
          size(regexp_extract_all(col("text"), lit("[0-9]{4,}"), lit(0)))
            .cast("long").as("__dg"))
        .join(TextAnalysis.repetitionStats(docs, "doc_id", "text")
          .select(col("doc_id"), col("repetition_flagged")), Seq("doc_id"))
        .select((!col("repetition_flagged")).as("rep_pass"),
          (col("__dr") >= 0.3 && col("__dg") <= 5L).as("junk_pass"))
      QualityClassifier.agreementKappa(flags, "rep_pass", "junk_pass")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, text,
               regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      tc AS (SELECT doc_id, tok, COUNT(*) AS cnt
             FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
      ts AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                    CAST(MAX(cnt) AS BIGINT) AS topc
             FROM tc GROUP BY 1),
      bg AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1])) AS bigram
             FROM toks),
      bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
      bs AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nb,
                    CAST(COUNT(*) AS BIGINT) AS db
             FROM bc GROUP BY 1),
      v AS (
        SELECT NOT (CAST(ts.topc AS DOUBLE) / ts.n_tokens > 0.2
                OR COALESCE(1.0 - CAST(bs.db AS DOUBLE) / bs.nb > 0.3, FALSE))
                 AS a,
               (CAST(len(list_distinct(tk.t)) AS DOUBLE) / len(tk.t) >= 0.3
                AND len(regexp_extract_all(tk.text, '[0-9]{4,}')) <= 5) AS b
        FROM toks tk JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_tt,
               CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_tf,
               CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_ft,
               CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_ff
        FROM v),
      r AS (
        SELECT n, n_tt, n_tf, n_ft, n_ff,
               CAST(n_tt + n_ff AS DOUBLE) / CAST(n AS DOUBLE) AS p_o,
               (CAST(n_tt + n_tf AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(n_tt + n_ft AS DOUBLE) / CAST(n AS DOUBLE))
               + (CAST(n_ft + n_ff AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(n_tf + n_ff AS DOUBLE) / CAST(n AS DOUBLE)) AS p_e
        FROM agg)
      SELECT n, n_tt, n_tf, n_ft, n_ff, p_o, p_e,
             CASE WHEN 1.0 - p_e = 0.0 THEN NULL
                  ELSE (p_o - p_e) / (1.0 - p_e) END AS kappa
      FROM r"""))

  /** Flesch reading ease + FK grade per doc — the classic readability
    * quality features; see [[TextAnalysis.readability]]. */
  private val q201 = Q("q201_readability",
    (s, dir) => TextAnalysis.readability(t(s, dir, "documents"),
      "doc_id", "text").orderBy("doc_id"),
    Some("""
      WITH c AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS BIGINT) AS n_words,
               greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
                 AS BIGINT), 1) AS n_sents,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                 AS BIGINT) AS n_runs
        FROM documents),
      k AS (SELECT doc_id, n_words, n_sents,
                   greatest(n_runs, n_words) AS n_syll FROM c)
      SELECT doc_id, n_words, n_sents, n_syll,
             206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
                     - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
               AS flesch,
             0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
               + 11.8 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
               - 15.59 AS fk_grade
      FROM k ORDER BY doc_id"""))

  /** Moving-average TTR lexical diversity (native sliding kernel);
    * see [[TextAnalysis.mattr]]. */
  private val q202 = Q("q202_mattr",
    (s, dir) => TextAnalysis.mattr(t(s, dir, "documents"),
      "doc_id", "text", w = 20).orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      m AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
              CASE WHEN len(t) <= 20
                THEN CAST(len(list_distinct(t)) AS BIGINT)
                ELSE CAST(list_sum(list_transform(
                       generate_series(1, len(t) - 19),
                       i -> len(list_distinct(t[i:i+19])))) AS BIGINT)
              END AS mattr_sum
            FROM arr),
      d AS (SELECT doc_id, n_tokens, mattr_sum,
                   greatest(n_tokens - 19, 1) AS n_windows,
                   least(n_tokens, 20) AS width
            FROM m)
      SELECT doc_id, n_tokens, mattr_sum, n_windows, width,
             CAST(mattr_sum AS DOUBLE) / CAST(n_windows * width AS DOUBLE)
               AS mattr
      FROM d ORDER BY doc_id"""))

  /** Cross-source quantile normalization of doc length onto the
    * pooled distribution; see [[TextAnalysis.quantileNormalize]]. */
  private val q203 = Q("q203_quantile_normalize",
    (s, dir) => TextAnalysis.quantileNormalize(t(s, dir, "documents"),
      "doc_id", "source", "n_chars").orderBy("doc_id"),
    Some("""
      WITH b AS (SELECT doc_id, source, n_chars FROM documents),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
      g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g
            FROM b GROUP BY 1),
      r AS (SELECT doc_id, source, n_chars,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY n_chars, doc_id) AS BIGINT) AS rk
            FROM b),
      p AS (SELECT n_chars AS q_norm,
              CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                AS BIGINT) AS pos
            FROM b),
      q AS (SELECT r.doc_id, r.source, r.n_chars,
              CAST(CAST(r.rk AS HUGEINT) * tot.n // g.n_g
                + CASE WHEN CAST(r.rk AS HUGEINT) * tot.n % g.n_g > 0
                       THEN 1 ELSE 0 END AS BIGINT) AS pos
            FROM r CROSS JOIN tot JOIN g USING (source))
      SELECT q.doc_id, q.source, q.n_chars, p.q_norm
      FROM q JOIN p USING (pos) ORDER BY doc_id"""))

  /** Hourly volume-burst detection per event type (trailing-window
    * z-score); see [[graft.ops.EventOps.burstDetect]]. */
  private val q204 = Q("q204_burst_detect",
    (s, dir) => graft.ops.EventOps.burstDetect(t(s, dir, "events"))
      .orderBy("event_type", "hour"),
    Some("""
      WITH h0 AS (
        SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2),
      sp AS (SELECT event_type,
               unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
             FROM (SELECT event_type, MIN(hour) AS mn, MAX(hour) AS mx
                   FROM h0 GROUP BY 1)),
      h AS (SELECT sp.event_type, sp.hour,
              COALESCE(h0.n_events, 0) AS n_events
            FROM sp LEFT JOIN h0 USING (event_type, hour)),
      w AS (
        SELECT event_type, hour, n_events,
               CAST(COUNT(*) OVER tw AS BIGINT) AS n_hist,
               SUM(n_events) OVER tw AS s1,
               CAST(SUM(CAST(n_events AS DECIMAL(38,0)) * n_events)
                 OVER tw AS DOUBLE) AS s2
        FROM h
        WINDOW tw AS (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      m AS (SELECT *, CAST(s1 AS DOUBLE) / CAST(n_hist AS DOUBLE) AS mean
            FROM w),
      v AS (SELECT *, greatest((s2 - CAST(n_hist AS DOUBLE) * mean * mean)
                        / (CAST(n_hist AS DOUBLE) - 1.0), 0.0) AS var
            FROM m),
      z AS (SELECT event_type, hour, n_events, n_hist,
                   CASE WHEN n_hist >= 1 THEN mean END AS base_mean,
                   CASE WHEN n_hist >= 8 AND var > 0.0
                     THEN (CAST(n_events AS DOUBLE) - mean) / sqrt(var)
                   END AS z
            FROM v)
      SELECT event_type, hour, n_events, n_hist, base_mean, z,
             COALESCE(z > 3.0, FALSE) AS burst
      FROM z ORDER BY event_type, hour"""))

  /** Within-label embedding dispersion (mean pairwise cosine via the
    * sum-vector identity — O(n·dims), never the O(n²) pair join); see
    * [[Similarity.groupDispersion]]. */
  private val q205 = Q("q205_source_dispersion",
    (s, dir) => Similarity.groupDispersion(t(s, dir, "embeddings"),
      "label", "embedding", dims = 64).orderBy("label"),
    Some("""
      WITH nr AS (
        SELECT label, embedding,
               sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                 AS nrm
        FROM embeddings),
      s AS (SELECT label, i.i AS dim,
              CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) / nrm
                AS DECIMAL(30,12))) AS DECIMAL(38,12)) AS sd,
              CAST(COUNT(*) AS BIGINT) AS cnt
            FROM nr, generate_series(1, 64) i(i) GROUP BY 1, 2),
      g AS (SELECT label,
              CAST(SUM(CAST(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
                AS DECIMAL(30,12))) AS DOUBLE) AS ssq,
              MAX(cnt) AS n_vecs
            FROM s GROUP BY 1)
      SELECT label, n_vecs,
             sqrt(ssq) / CAST(n_vecs AS DOUBLE) AS centroid_norm,
             CASE WHEN n_vecs >= 2 THEN (ssq - CAST(n_vecs AS DOUBLE))
               / (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1.0))
             END AS mean_cos
      FROM g ORDER BY label"""))

  /** Data-constrained scaling: effective worth of each source's
    * repetition under a uniform 200k-token budget (Muennighoff decay);
    * see [[Corpus.effectiveTokens]]. */
  private val q206 = Q("q206_effective_tokens",
    (s, dir) => Corpus.effectiveTokens(t(s, dir, "documents"),
      "source", "text", budgetTokens = 200000L).orderBy("source"),
    Some("""
      WITH u AS (
        SELECT source,
               CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+')))
                 AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src FROM u),
      a AS (SELECT source, n_tokens,
              CAST(200000 AS DOUBLE) / CAST(n_src AS DOUBLE) AS alloc_tokens
            FROM u CROSS JOIN k),
      e AS (SELECT source, n_tokens, alloc_tokens,
              alloc_tokens / CAST(n_tokens AS DOUBLE) AS epochs
            FROM a),
      r AS (SELECT *, greatest(epochs - 1.0, 0.0) AS rep FROM e),
      f AS (SELECT source, n_tokens, alloc_tokens, epochs,
              CASE WHEN epochs <= 1.0 THEN alloc_tokens
                ELSE CAST(n_tokens AS DOUBLE) * (1.0 + 15.4 *
                  CAST(CAST(1.0 - exp((rep * -1.0) / 15.4)
                    AS DECIMAL(30,12)) AS DOUBLE))
              END AS effective_tokens
            FROM r)
      SELECT source, n_tokens, alloc_tokens, epochs, effective_tokens,
             effective_tokens / alloc_tokens AS utilization
      FROM f ORDER BY source"""))

  /** Exact ROC-AUC of the q197-configured scorer by Mann-Whitney
    * rank-sum with midrank ties; see [[graft.llm.Stats.auc]]. */
  private val q207 = Q("q207_auc",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feat = QualityClassifier.features(
        docs, "doc_id", "text", col("lang") === "en", enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 8.0)
      graft.llm.Stats.auc(QualityClassifier.score(feat, "doc_id", w))
    },
    Some(s"""${duckLrScoredAt("8.0")},
      d AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt,
              CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
            FROM scored_lr GROUP BY 1),
      r AS (SELECT p, cnt, pos,
              2 * COALESCE(SUM(cnt) OVER (ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1 AS rank2
            FROM d),
      a AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS n_pos,
                   SUM(CAST(pos AS HUGEINT) * rank2) AS s2
            FROM r)
      SELECT n, n_pos, n - n_pos AS n_neg,
             CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
               CAST(s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE))
             END AS auc
      FROM a"""))

  /** Chi-square independence of length band × language over the full
    * category spine; see [[graft.llm.Stats.chiSquare]]. */
  private val q208 = Q("q208_chi_square",
    (s, dir) => graft.llm.Stats.chiSquare(
      t(s, dir, "documents").withColumn("len_band",
        least(floor(col("n_chars") / 60.0), lit(9.0)).cast("long")),
      "len_band", "lang"),
    Some("""
      WITH d AS (SELECT CAST(least(floor(n_chars / 60.0), 9) AS BIGINT)
                   AS len_band, lang FROM documents),
      cells AS (SELECT len_band AS a, lang AS b,
                  CAST(COUNT(*) AS BIGINT) AS o
                FROM d GROUP BY 1, 2),
      ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
      cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
      tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      sp AS (SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(cells.o, 0) AS o
             FROM ra CROSS JOIN cb
             LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
      t2 AS (SELECT sp.*,
               (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))
                 / CAST(tot.n AS DOUBLE) AS e
             FROM sp CROSS JOIN tot)
      SELECT (SELECT n FROM tot) AS n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b,
             CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1)
               AS BIGINT) AS dof,
             CAST(SUM(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
               / e AS DECIMAL(30,12))) AS DOUBLE) AS chi2
      FROM t2"""))

  /** Spearman rank correlation (midrank ties, exact moments) between
    * doc length and token count; see [[graft.llm.Stats.spearman]]. */
  private val q209 = Q("q209_spearman",
    (s, dir) => graft.llm.Stats.spearman(
      t(s, dir, "documents").select(col("n_chars"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      "n_chars", "n_tokens"),
    Some("""
      WITH s AS (SELECT n_chars AS x,
              CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                AS BIGINT) AS y
            FROM documents),
      dx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY 1),
      rx AS (SELECT x, 2 * COALESCE(SUM(cnt) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS rkx
             FROM dx),
      dy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY 1),
      ry AS (SELECT y, 2 * COALESCE(SUM(cnt) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS rky
             FROM dy),
      j AS (SELECT rx.rkx, ry.rky FROM s JOIN rx USING (x) JOIN ry USING (y)),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              SUM(CAST(rkx AS HUGEINT)) AS sx,
              SUM(CAST(rky AS HUGEINT)) AS sy,
              SUM(CAST(rkx AS HUGEINT) * rkx) AS sxx,
              SUM(CAST(rky AS HUGEINT) * rky) AS syy,
              SUM(CAST(rkx AS HUGEINT) * rky) AS sxy
            FROM j)
      SELECT n,
             CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
                   AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0
               THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             END AS rho
      FROM m"""))

  /** Poisson-bootstrap 95% CI for mean doc length — the one-pass
    * scalable bootstrap; see [[graft.llm.Stats.poissonBootstrapCi]]. */
  private val q210 = Q("q210_bootstrap_ci",
    (s, dir) => graft.llm.Stats.poissonBootstrapCi(
      t(s, dir, "documents"), "doc_id", "n_chars", b = 200),
    Some("""
      WITH reps AS (
        SELECT doc_id, n_chars, b.b AS b
        FROM documents, generate_series(0, 199) b(b)),
      u AS (SELECT b, n_chars,
              ('0x' || substr(md5(doc_id::VARCHAR || ':boot:' || b::VARCHAR),
                1, 6))::BIGINT / 16777216.0 AS u
            FROM reps),
      w AS (SELECT b, n_chars,
              (CASE WHEN u >= 0.36787944117144233 THEN 1 ELSE 0 END)
            + (CASE WHEN u >= 0.7357588823428847 THEN 1 ELSE 0 END)
            + (CASE WHEN u >= 0.9196986029286058 THEN 1 ELSE 0 END)
            + (CASE WHEN u >= 0.9810118431238462 THEN 1 ELSE 0 END)
            + (CASE WHEN u >= 0.9963401531726563 THEN 1 ELSE 0 END)
            + (CASE WHEN u >= 0.9994058151824183 THEN 1 ELSE 0 END)
            + (CASE WHEN u >= 0.9999167588507119 THEN 1 ELSE 0 END)
            + (CASE WHEN u >= 0.9999897508033253 THEN 1 ELSE 0 END) AS w
            FROM u),
      m AS (SELECT b, CAST(SUM(CAST(w AS BIGINT) * n_chars) AS BIGINT) AS swx,
                   CAST(SUM(w) AS BIGINT) AS sw
            FROM w GROUP BY 1),
      srt AS (SELECT list_sort(list(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)))
                AS ms FROM m),
      pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(n_chars) AS BIGINT) AS sx FROM documents)
      SELECT n, CAST(200 AS BIGINT) AS b,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             ms[5] AS lo, ms[195] AS hi
      FROM pt CROSS JOIN srt"""))

  /** Two-sample KS statistic: English vs non-English doc-length
    * distributions, with the worst-crossing location; see
    * [[graft.llm.Stats.ksTest]]. */
  private val q211 = Q("q211_ks_test",
    (s, dir) => graft.llm.Stats.ksTest(t(s, dir, "documents"),
      "n_chars", col("lang") === "en"),
    Some("""
      WITH s AS (SELECT n_chars AS v,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ga
            FROM documents),
      byv AS (SELECT v, CAST(SUM(ga) AS BIGINT) AS c1,
                CAST(SUM(1 - ga) AS BIGINT) AS c2
              FROM s GROUP BY 1),
      tot AS (SELECT CAST(SUM(ga) AS BIGINT) AS n1,
                     CAST(SUM(1 - ga) AS BIGINT) AS n2 FROM s),
      c AS (SELECT v,
              SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS k1,
              SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS k2
            FROM byv),
      nm AS (SELECT v,
               abs(CAST(k1 AS HUGEINT) * tot.n2
                   - CAST(k2 AS HUGEINT) * tot.n1) AS num,
               tot.n1 AS n1, tot.n2 AS n2
             FROM c CROSS JOIN tot),
      mx AS (SELECT MAX(num) AS dm FROM nm)
      SELECT n1, n2,
             CASE WHEN n1 > 0 AND n2 > 0 THEN CAST(dm AS DOUBLE)
               / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) END AS d_stat,
             CAST(MIN(v) AS BIGINT) AS at_value
      FROM nm CROSS JOIN mx WHERE num = dm GROUP BY n1, n2, dm"""))

  /** Gini coefficient of token-frequency concentration (exact rank
    * form, midrank ties); see [[TextAnalysis.tokenGini]]. */
  private val q212 = Q("q212_token_gini",
    (s, dir) => TextAnalysis.tokenGini(t(s, dir, "documents"), "text"),
    Some("""
      WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        FROM documents),
      tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
      d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM tc GROUP BY 1),
      r AS (SELECT c, cnt,
              2 * COALESCE(SUM(cnt) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1 AS rank2
            FROM d),
      m AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
              SUM(CAST(c AS HUGEINT) * cnt) AS s,
              SUM(CAST(c AS HUGEINT) * cnt * rank2) AS n2
            FROM r)
      SELECT n AS n_terms, CAST(s AS BIGINT) AS n_tokens,
             CAST(n2 - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS gini
      FROM m"""))

  /** Cross-doc winnow-fingerprint overlap pairs (shared substring-run
    * evidence, df-capped postings join); see
    * [[TextAnalysis.winnowPairs]]. */
  private val q213 = Q("q213_winnow_pairs",
    (s, dir) => TextAnalysis.winnowPairs(t(s, dir, "documents"),
      "doc_id", "text", k = 4, w = 4, minShared = 2, maxDf = 64)
      .orderBy("id_a", "id_b"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      g AS (SELECT doc_id, p.i AS pos,
              ('0x' || substr(md5(p.g), 1, 15))::BIGINT AS h
            FROM (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(t) - 3),
                      i -> {'i': i, 'g': array_to_string(t[i:i+3], ' ')})) AS p
                  FROM arr WHERE len(t) >= 4)),
      wm AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS w,
               COUNT(*) OVER (PARTITION BY doc_id) AS ng
             FROM g),
      sel AS (SELECT DISTINCT doc_id, w FROM wm
              WHERE pos <= greatest(ng - 3, 1)),
      nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp
             FROM sel GROUP BY 1),
      dfc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM sel GROUP BY 1),
      pp AS (SELECT s.doc_id, s.w, nf.nfp
             FROM sel s JOIN nf USING (doc_id)
             JOIN dfc ON dfc.w = s.w AND dfc.df <= 64),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS shared,
               MIN(a.nfp) AS na, MIN(b.nfp) AS nb
             FROM pp a JOIN pp b ON a.w = b.w AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT id_a, id_b, shared,
             CAST(shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE) AS overlap
      FROM pr WHERE shared >= 2 ORDER BY id_a, id_b"""))

  /** Source↔term mutual information with the entropy decomposition;
    * see [[TextAnalysis.sourceTermMi]]. */
  private val q214 = Q("q214_source_mi",
    (s, dir) => TextAnalysis.sourceTermMi(t(s, dir, "documents"),
      "source", "text"),
    Some("""
      WITH tk AS (
        SELECT source AS s,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        FROM documents),
      c AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
      ns AS (SELECT s, CAST(SUM(c) AS BIGINT) AS ns FROM c GROUP BY 1),
      nt AS (SELECT t, CAST(SUM(c) AS BIGINT) AS nt FROM c GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
      j AS (SELECT CAST(tot.n AS BIGINT) AS n_tokens,
              CAST(COUNT(DISTINCT c.s) AS BIGINT) AS n_sources,
              CAST(COUNT(DISTINCT c.t) AS BIGINT) AS n_terms,
              CAST(SUM(CAST((CAST(c.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                * ln((CAST(c.c AS DOUBLE) * CAST(tot.n AS DOUBLE))
                     / (CAST(ns.ns AS DOUBLE) * CAST(nt.nt AS DOUBLE)))
                AS DECIMAL(30,12))) AS DOUBLE) AS mi,
              CAST(SUM(CAST(-(CAST(c.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                * ln(CAST(c.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                AS DECIMAL(30,12))) AS DOUBLE) AS h_joint
            FROM c JOIN ns USING (s) JOIN nt USING (t) CROSS JOIN tot
            GROUP BY tot.n),
      hs AS (SELECT CAST(SUM(CAST(-(CAST(ns AS DOUBLE) / CAST(tot.n AS DOUBLE))
               * ln(CAST(ns AS DOUBLE) / CAST(tot.n AS DOUBLE))
               AS DECIMAL(30,12))) AS DOUBLE) AS h_source
             FROM ns CROSS JOIN tot),
      ht AS (SELECT CAST(SUM(CAST(-(CAST(nt AS DOUBLE) / CAST(tot.n AS DOUBLE))
               * ln(CAST(nt AS DOUBLE) / CAST(tot.n AS DOUBLE))
               AS DECIMAL(30,12))) AS DOUBLE) AS h_term
             FROM nt CROSS JOIN tot)
      SELECT n_tokens, n_sources, n_terms, h_source, h_term, h_joint, mi,
             CASE WHEN least(h_source, h_term) > 0.0
               THEN mi / least(h_source, h_term) END AS nmi
      FROM j CROSS JOIN hs CROSS JOIN ht"""))

  /** Leakage-safe split: every near-dup cluster wholly in one of
    * train/val/test (split key = cluster root, not the raw id); see
    * [[Dedup.leakageSplit]]. The oracle extends the q57 cluster
    * replay with the q58 md5-bucket split applied to the root. */
  private val q215 = Q("q215_leakage_split",
    (s, dir) => Dedup.leakageSplit(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,
      p2 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p2
                UNION ALL SELECT id_b, id_a FROM p2),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
      kcl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      rooted AS (SELECT d.doc_id,
                        COALESCE(kcl.cluster_id, d.doc_id) AS split_root
                 FROM documents d LEFT JOIN kcl ON kcl.id = d.doc_id)
      SELECT doc_id, split_root,
             CASE WHEN ('0x' || substr(md5(CAST(split_root AS VARCHAR)), 1, 8))::BIGINT
                       % 100 < 80 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(split_root AS VARCHAR)), 1, 8))::BIGINT
                       % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM rooted ORDER BY doc_id"""))

  /** SoftDeDup weights: keep every near-dup, downweight each cluster
    * to unit mass (w = 1/|cluster|); see [[Dedup.softDedupWeights]]. */
  private val q216 = Q("q216_softdedup_weights",
    (s, dir) => Dedup.softDedupWeights(t(s, dir, "documents"),
      "doc_id", "text").orderBy("doc_id"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,
      p2 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p2
                UNION ALL SELECT id_b, id_a FROM p2),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
      kcl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      ksz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csz
              FROM kcl GROUP BY 1)
      SELECT d.doc_id,
             COALESCE(kcl.cluster_id, d.doc_id) AS cluster_id,
             COALESCE(ksz.csz, 1) AS cluster_size,
             1.0 / CAST(COALESCE(ksz.csz, 1) AS DOUBLE) AS weight
      FROM documents d
      LEFT JOIN kcl ON kcl.id = d.doc_id
      LEFT JOIN ksz ON ksz.cluster_id = kcl.cluster_id
      ORDER BY doc_id"""))

  /** Stupid-backoff bigram scoring of held-out docs: train counts on
    * the md5 80% split, score val/test with S(b|a)=c(ab)/c(a) or
    * α·(c(b)+1)/(N+V); see [[TextAnalysis.backoffScore]]. */
  private val q217 = Q("q217_backoff_lm",
    (s, dir) => TextAnalysis.backoffScore(t(s, dir, "documents"),
      "doc_id", "text").orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 < 80 AS tr
        FROM documents),
      uni AS (SELECT unnest(t) AS a FROM arr WHERE tr),
      ca AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM uni GROUP BY 1),
      nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
                    CAST(SUM(ca) AS BIGINT) AS n FROM ca),
      trbg AS (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i])) AS a,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i + 1])) AS b
        FROM arr WHERE tr),
      cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
              FROM trbg GROUP BY 1, 2),
      hobg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i])) AS a,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i + 1])) AS b
        FROM arr WHERE NOT tr),
      sc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN cab.cab IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_backoff,
               CAST(SUM(CAST(-ln(
                 CASE WHEN cab.cab IS NOT NULL
                   THEN CAST(cab.cab AS DOUBLE) / CAST(ca.ca AS DOUBLE)
                   ELSE 0.4 * CAST(COALESCE(cb.ca, 0) + 1 AS DOUBLE)
                        / CAST(nv.n + nv.v AS DOUBLE) END)
                 AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
                 AS avg_neg_logscore
        FROM hobg
        LEFT JOIN cab USING (a, b)
        LEFT JOIN ca USING (a)
        LEFT JOIN ca cb ON cb.a = hobg.b
        CROSS JOIN nv
        GROUP BY doc_id)
      SELECT h.doc_id,
             COALESCE(sc.n_bigrams, 0) AS n_bigrams,
             COALESCE(sc.n_backoff, 0) AS n_backoff,
             CASE WHEN sc.n_bigrams > 0
               THEN CAST(sc.n_backoff AS DOUBLE) / CAST(sc.n_bigrams AS DOUBLE)
               END AS backoff_rate,
             sc.avg_neg_logscore
      FROM (SELECT doc_id FROM arr WHERE NOT tr) h
      LEFT JOIN sc USING (doc_id)
      ORDER BY doc_id"""))

  /** Exact Kendall tau-b between doc length and token count on the
    * contingency grid (2-D dominance suffix sums, never the O(n²)
    * pair space); see [[graft.llm.Stats.kendallTauB]]. */
  private val q218 = Q("q218_kendall_tau",
    (s, dir) => graft.llm.Stats.kendallTauB(
      t(s, dir, "documents").select(col("n_chars"),
        size(TextAnalysis.tokens(col("text"))).as("n_toks")),
      "n_chars", "n_toks"),
    Some("""
      WITH s AS (
        SELECT CAST(n_chars AS BIGINT) AS x,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS BIGINT) AS y
        FROM documents),
      cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
                FROM s GROUP BY 1, 2),
      grid AS (SELECT xs.x, ys.y, COALESCE(c.c, 0) AS c
               FROM (SELECT DISTINCT x FROM cells) xs
               CROSS JOIN (SELECT DISTINCT y FROM cells) ys
               LEFT JOIN cells c USING (x, y)),
      st AS (SELECT x, y, c,
               COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS bs,
               COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bp
             FROM grid),
      dm AS (SELECT x, y, c,
               COALESCE(SUM(bs) OVER (PARTITION BY y ORDER BY x
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS sdom,
               COALESCE(SUM(bp) OVER (PARTITION BY y ORDER BY x
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS ddom
             FROM st),
      cd AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                    SUM(CAST(c AS HUGEINT) * sdom) AS conc,
                    SUM(CAST(c AS HUGEINT) * disc_w) AS disc
             FROM (SELECT c, sdom, ddom AS disc_w FROM dm)),
      mx AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS tpx
             FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS t
                   FROM cells GROUP BY 1)),
      my AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS tpy
             FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS t
                   FROM cells GROUP BY 1))
      SELECT n,
             CAST(conc AS BIGINT) AS concordant,
             CAST(disc AS BIGINT) AS discordant,
             CAST(tpx // 2 AS BIGINT) AS ties_x,
             CAST(tpy // 2 AS BIGINT) AS ties_y,
             CASE WHEN (CAST(n AS HUGEINT) * (n - 1) - tpx) > 0
                   AND (CAST(n AS HUGEINT) * (n - 1) - tpy) > 0
               THEN CAST(conc - disc AS DOUBLE)
                 / (sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - tpx AS DOUBLE) / 2.0)
                    * sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - tpy AS DOUBLE) / 2.0))
               END AS tau_b
      FROM cd CROSS JOIN mx CROSS JOIN my"""))

  /** Per-source winsorized + trimmed doc-length means (robust
    * location next to the raw average); see
    * [[TextAnalysis.winsorStats]]. */
  private val q219 = Q("q219_winsor_mean",
    (s, dir) => TextAnalysis.winsorStats(t(s, dir, "documents"),
      "source", "n_chars").orderBy("source"),
    Some("""
      WITH q AS (
        SELECT source,
               quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p_lo,
               quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p_hi
        FROM documents GROUP BY 1),
      j AS (SELECT d.source AS source, CAST(n_chars AS DOUBLE) AS v,
                   p_lo, p_hi
            FROM documents d JOIN q USING (source))
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             p_lo, p_hi,
             CAST(SUM(CASE WHEN v < p_lo OR v > p_hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped,
             CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / COUNT(v)
               AS mean_raw,
             CAST(SUM(CAST(least(greatest(v, p_lo), p_hi) AS DECIMAL(30,6)))
               AS DOUBLE) / COUNT(v) AS mean_winsor,
             CAST(SUM(CAST(CASE WHEN v >= p_lo AND v <= p_hi THEN v END
               AS DECIMAL(30,6))) AS DOUBLE)
               / COUNT(CASE WHEN v >= p_lo AND v <= p_hi THEN v END)
               AS mean_trimmed
      FROM j GROUP BY source, p_lo, p_hi ORDER BY source"""))

  /** Participation ratio of the embedding covariance — effective
    * dimensionality (Σλ)²/Σλ² without an eigendecomposition; see
    * [[Pca.effectiveDim]]. Shares the one-pass second-moment kernel
    * with the q172 family. */
  private val q220 = Q("q220_effective_dim",
    (s, dir) => Pca.effectiveDim(t(s, dir, "embeddings"), dims = PcaDims),
    Some(s"""
      WITH e AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
                 FROM embeddings),
      g AS (SELECT gi.i AS i, gj.j AS j
            FROM generate_series(1,$PcaDims) gi(i),
                 generate_series(1,$PcaDims) gj(j)),
      mm AS (SELECT i, j,
               CAST(SUM(CAST(x[i] * x[j] AS DECIMAL(30,12))) AS DOUBLE) AS m
             FROM e, g GROUP BY i, j),
      mu AS (SELECT t.i AS dim,
               CAST(SUM(CAST(x[t.i] AS DECIMAL(30,12))) AS DOUBLE)
                 / COUNT(*) AS mu,
               CAST(COUNT(*) AS BIGINT) AS n
             FROM e, generate_series(1,$PcaDims) t(i) GROUP BY t.i),
      cv AS (SELECT mm.i AS i, mm.j AS j, mi.n AS n,
               (mm.m / CAST(mi.n AS DOUBLE)) - (mi.mu * mj.mu) AS cv
             FROM mm JOIN mu mi ON mi.dim = mm.i
                     JOIN mu mj ON mj.dim = mm.j),
      f AS (SELECT MIN(n) AS n,
              CAST(SUM(CAST(CASE WHEN i = j THEN cv END AS DECIMAL(30,12)))
                AS DOUBLE) AS trace,
              CAST(SUM(CAST(cv * cv AS DECIMAL(30,18))) AS DOUBLE) AS fro2
            FROM cv)
      SELECT CAST($PcaDims AS BIGINT) AS dims, n, trace, fro2,
             CASE WHEN fro2 > 0.0 THEN trace * trace / fro2 END AS pr,
             CASE WHEN fro2 > 0.0 THEN trace * trace / fro2 / $PcaDims
               END AS pr_ratio
      FROM f"""))

  /** Cross-source 3-gram overlap matrix (Jaccard + containment of
    * distinct shingle sets) — the "same content, different label"
    * source triage; see [[TextAnalysis.sourceOverlap]]. */
  private val q221 = Q("q221_source_overlap",
    (s, dir) => TextAnalysis.sourceOverlap(t(s, dir, "documents"),
      "source", "text", n = 3).orderBy("src_a", "src_b"),
    Some("""
      WITH sh AS (
        SELECT DISTINCT source AS src,
               unnest(list_transform(generate_series(1, len(t) - 2),
                 i -> array_to_string(t[i:i+2], ' '))) AS sh
        FROM (SELECT source,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS t
              FROM documents)),
      sz AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_sh
             FROM sh GROUP BY 1),
      pr AS (SELECT a.src AS src_a, b.src AS src_b,
                    CAST(COUNT(*) AS BIGINT) AS shared
             FROM sh a JOIN sh b ON a.sh = b.sh AND a.src < b.src
             GROUP BY 1, 2)
      SELECT src_a, src_b, sa.n_sh AS n_a, sb.n_sh AS n_b, shared,
             CAST(shared AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) AS jaccard,
             CAST(shared AS DOUBLE)
               / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
      FROM pr JOIN sz sa ON sa.src = pr.src_a
              JOIN sz sb ON sb.src = pr.src_b
      ORDER BY src_a, src_b"""))

  /** Held-out OOV rate by n-gram order (1..3) against the md5 train
    * split — the coverage-decay curve; see [[TextAnalysis.oovRate]]. */
  private val q222 = Q("q222_oov_rate",
    (s, dir) => TextAnalysis.oovRate(t(s, dir, "documents"),
      "doc_id", "text", maxN = 3).orderBy("ngram_order"),
    Some("""
      WITH arr AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 < 80 AS tr
        FROM documents),
      t1 AS (SELECT DISTINCT unnest(t) AS g FROM arr WHERE tr),
      h1 AS (SELECT unnest(t) AS g FROM arr WHERE NOT tr),
      t2 AS (SELECT DISTINCT unnest(list_transform(
               generate_series(1, len(t) - 1),
               i -> array_to_string(t[i:i+1], ' '))) AS g
             FROM arr WHERE tr),
      h2 AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
               i -> array_to_string(t[i:i+1], ' '))) AS g
             FROM arr WHERE NOT tr),
      t3 AS (SELECT DISTINCT unnest(list_transform(
               generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i+2], ' '))) AS g
             FROM arr WHERE tr),
      h3 AS (SELECT unnest(list_transform(generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i+2], ' '))) AS g
             FROM arr WHERE NOT tr),
      r1 AS (SELECT CAST(1 AS BIGINT) AS ngram_order,
                    CAST(COUNT(*) AS BIGINT) AS n_held,
                    CAST(SUM(CASE WHEN t.g IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_oov
             FROM h1 h LEFT JOIN t1 t ON t.g = h.g),
      r2 AS (SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
                    CAST(SUM(CASE WHEN t.g IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT)
             FROM h2 h LEFT JOIN t2 t ON t.g = h.g),
      r3 AS (SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
                    CAST(SUM(CASE WHEN t.g IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT)
             FROM h3 h LEFT JOIN t3 t ON t.g = h.g),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
            UNION ALL SELECT * FROM r3)
      SELECT ngram_order, n_held, n_oov,
             CASE WHEN n_held > 0
               THEN CAST(n_oov AS DOUBLE) / CAST(n_held AS DOUBLE)
               END AS oov_rate
      FROM u ORDER BY ngram_order"""))

  /** Per-source dedup savings: docs and token mass removed by the
    * keep-longest near-dup resolution; see [[Dedup.dedupSavings]].
    * Oracle extends the q170 keeper replay with a per-source fold. */
  private val q223 = Q("q223_dedup_savings",
    (s, dir) => Dedup.dedupSavings(t(s, dir, "documents"),
      "doc_id", "text", "source", "n_chars").orderBy("source"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,
      p2 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p2
                UNION ALL SELECT id_b, id_a FROM p2),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
      kcl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      kbase AS (SELECT d.doc_id, d.source,
                       COALESCE(kcl.cluster_id, d.doc_id) AS cluster_id,
                       d.n_chars,
                       len(regexp_split_to_array(trim(lower(d.text)), '\\s+'))
                         AS tok
                FROM documents d LEFT JOIN kcl ON kcl.id = d.doc_id),
      kkp AS (SELECT cluster_id, doc_id AS keeper FROM (
               SELECT cluster_id, doc_id,
                      row_number() OVER (PARTITION BY cluster_id
                        ORDER BY n_chars DESC, doc_id ASC) AS rk FROM kbase)
              WHERE rk = 1)
      SELECT kbase.source AS source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN kbase.doc_id = kkp.keeper THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept_docs,
             CAST(SUM(tok) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN kbase.doc_id = kkp.keeper THEN tok ELSE 0 END)
               AS BIGINT) AS n_kept_tokens,
             CASE WHEN SUM(tok) > 0
               THEN CAST(SUM(tok) - SUM(CASE WHEN kbase.doc_id = kkp.keeper
                      THEN tok ELSE 0 END) AS DOUBLE)
                    / CAST(SUM(tok) AS DOUBLE) END AS dup_token_frac
      FROM kbase JOIN kkp USING (cluster_id)
      GROUP BY kbase.source ORDER BY source"""))

  /** Cramér's V association between source and language — the
    * normalized "which metadata field leaks which" readout; see
    * [[graft.llm.Stats.cramersV]]. */
  private val q224 = Q("q224_cramers_v",
    (s, dir) => graft.llm.Stats.cramersV(
      t(s, dir, "documents"), "source", "lang"),
    Some("""
      WITH cells AS (SELECT source AS a, lang AS b,
                       CAST(COUNT(*) AS BIGINT) AS o
                     FROM documents GROUP BY 1, 2),
      ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
      cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
      tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      sp AS (SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(cells.o, 0) AS o
             FROM ra CROSS JOIN cb
             LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
      t2 AS (SELECT sp.*,
               (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))
                 / CAST(tot.n AS DOUBLE) AS e
             FROM sp CROSS JOIN tot),
      f AS (SELECT (SELECT n FROM tot) AS n,
              CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a,
              CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b,
              CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1)
                AS BIGINT) AS dof,
              CAST(SUM(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
                / e AS DECIMAL(30,12))) AS DOUBLE) AS chi2
            FROM t2)
      SELECT n, n_a, n_b, dof, chi2,
             CASE WHEN n > 0 AND least(n_a, n_b) - 1 > 0
               THEN sqrt(chi2 / (CAST(n AS DOUBLE)
                 * CAST(least(n_a, n_b) - 1 AS DOUBLE))) END AS cramers_v
      FROM f"""))

  /** Per-source hapax legomena share of the vocabulary (lexical
    * richness / crawl-noise readout); see
    * [[TextAnalysis.hapaxStats]]. */
  private val q225 = Q("q225_hapax_ratio",
    (s, dir) => TextAnalysis.hapaxStats(t(s, dir, "documents"),
      "source", "text").orderBy("source"),
    Some("""
      WITH tk AS (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        FROM documents),
      c AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2)
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dis,
             CASE WHEN COUNT(*) > 0
               THEN CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) END AS hapax_ratio
      FROM c GROUP BY source ORDER BY source"""))

  /** Per-source log-normal fit of doc length (μ/σ of ln, fitted
    * median and mean); see [[TextAnalysis.logNormalFit]]. */
  private val q226 = Q("q226_lognormal_fit",
    (s, dir) => TextAnalysis.logNormalFit(t(s, dir, "documents"),
      "source", "n_chars").orderBy("source"),
    Some("""
      WITH b AS (SELECT source, CAST(n_chars AS DOUBLE) AS v
                 FROM documents),
      a AS (SELECT source,
              CAST(COUNT(CASE WHEN v > 0 THEN 1 END) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN v <= 0 OR v IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonpos,
              CAST(SUM(CAST(CASE WHEN v > 0 THEN ln(v) END
                AS DECIMAL(30,12))) AS DOUBLE) AS slx,
              CAST(SUM(CAST(CASE WHEN v > 0 THEN ln(v) * ln(v) END
                AS DECIMAL(30,12))) AS DOUBLE) AS slx2
            FROM b GROUP BY 1)
      SELECT source, n, n_nonpos,
             CASE WHEN n > 0 THEN slx / CAST(n AS DOUBLE) END AS mu_log,
             CASE WHEN n > 1 THEN sqrt(greatest(
               slx2 / CAST(n AS DOUBLE)
                 - (slx / CAST(n AS DOUBLE)) * (slx / CAST(n AS DOUBLE)),
               0.0)) END AS sigma_log,
             CASE WHEN n > 0 THEN exp(slx / CAST(n AS DOUBLE)) END
               AS median_fit,
             CASE WHEN n > 1 THEN exp(slx / CAST(n AS DOUBLE)
               + greatest(slx2 / CAST(n AS DOUBLE)
                 - (slx / CAST(n AS DOUBLE)) * (slx / CAST(n AS DOUBLE)),
                 0.0) / 2.0) END AS mean_fit
      FROM a ORDER BY source"""))

  /** Near-dup cluster-size histogram incl. singletons — the SHAPE of
    * the corpus's duplication; see [[Dedup.clusterSizeDist]]. */
  private val q227 = Q("q227_cluster_sizes",
    (s, dir) => Dedup.clusterSizeDist(t(s, dir, "documents"),
      "doc_id", "text").orderBy("cluster_size"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,
      p2 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p2
                UNION ALL SELECT id_b, id_a FROM p2),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
      kcl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      ks AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
             FROM kcl GROUP BY 1),
      h AS (SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
            FROM ks GROUP BY 1
            UNION ALL
            SELECT CAST(1 AS BIGINT),
                   (SELECT COUNT(*) FROM documents)
                     - (SELECT COUNT(*) FROM kcl))
      SELECT cluster_size, n_clusters,
             CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
      FROM h WHERE n_clusters > 0 ORDER BY cluster_size"""))

  /** Token-mass concentration by source (HHI, effective source count,
    * top share); see [[TextAnalysis.sourceConcentration]]. */
  private val q228 = Q("q228_source_hhi",
    (s, dir) => TextAnalysis.sourceConcentration(
      t(s, dir, "documents"), "source", "text"),
    Some("""
      WITH g AS (
        SELECT source,
               CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+')))
                 AS BIGINT) AS g_tokens
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(SUM(g_tokens) AS BIGINT) AS n_tokens FROM g),
      sh AS (SELECT n_tokens,
               CAST(g_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS sh
             FROM g CROSS JOIN tot),
      f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
              MIN(n_tokens) AS n_tokens,
              CAST(SUM(CAST(sh * sh AS DECIMAL(30,18))) AS DOUBLE) AS hhi,
              MAX(sh) AS top_share
            FROM sh)
      SELECT n_groups, n_tokens, hhi, top_share,
             CASE WHEN hhi > 0.0 THEN 1.0 / hhi END AS eff_groups
      FROM f"""))

  /** Distinct-n diversity (Li et al. 2016) per source, orders 1-3;
    * see [[TextAnalysis.distinctN]]. */
  private val q229 = Q("q229_distinct_n",
    (s, dir) => TextAnalysis.distinctN(t(s, dir, "documents"),
      "source", "text", maxN = 3).orderBy("ngram_order", "source"),
    Some("""
      WITH arr AS (
        SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      g1 AS (SELECT source, unnest(t) AS g FROM arr),
      g2 AS (SELECT source, unnest(list_transform(
               generate_series(1, len(t) - 1),
               i -> array_to_string(t[i:i+1], ' '))) AS g FROM arr),
      g3 AS (SELECT source, unnest(list_transform(
               generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i+2], ' '))) AS g FROM arr),
      r1 AS (SELECT source, CAST(1 AS BIGINT) AS ngram_order,
                    CAST(COUNT(*) AS BIGINT) AS n_grams,
                    CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
             FROM g1 GROUP BY source),
      r2 AS (SELECT source, CAST(2 AS BIGINT),
                    CAST(COUNT(*) AS BIGINT),
                    CAST(COUNT(DISTINCT g) AS BIGINT)
             FROM g2 GROUP BY source),
      r3 AS (SELECT source, CAST(3 AS BIGINT),
                    CAST(COUNT(*) AS BIGINT),
                    CAST(COUNT(DISTINCT g) AS BIGINT)
             FROM g3 GROUP BY source),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
            UNION ALL SELECT * FROM r3)
      SELECT source, ngram_order, n_grams, n_distinct,
             CASE WHEN n_grams > 0
               THEN CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
               END AS distinct_ratio
      FROM u ORDER BY ngram_order, source"""))

  /** Analytic LSH S-curve planner over candidate (bands, rows)
    * splits of the 12-hash signature; see [[Dedup.lshTuningCurve]].
    * Multiplication-chain math — no pow() portability hazard. */
  private val q230 = Q("q230_lsh_scurve",
    (s, dir) => Dedup.lshTuningCurve(s)
      .orderBy("bands", "rows_per_band", "threshold"),
    Some("""
      WITH g AS (SELECT CAST(k AS DOUBLE) / 20.0 AS t
                 FROM generate_series(1, 19) g(k)),
      c1 AS (SELECT CAST(4 AS BIGINT) AS bands,
                    CAST(3 AS BIGINT) AS rows_per_band, t,
                    1.0 - q * q * q * q AS p
             FROM (SELECT t, 1.0 - t * t * t AS q FROM g)),
      c2 AS (SELECT CAST(2 AS BIGINT), CAST(6 AS BIGINT), t,
                    1.0 - q * q AS p
             FROM (SELECT t, 1.0 - t * t * t * t * t * t AS q FROM g)),
      c3 AS (SELECT CAST(3 AS BIGINT), CAST(4 AS BIGINT), t,
                    1.0 - q * q * q AS p
             FROM (SELECT t, 1.0 - t * t * t * t AS q FROM g)),
      c4 AS (SELECT CAST(6 AS BIGINT), CAST(2 AS BIGINT), t,
                    1.0 - q * q * q * q * q * q AS p
             FROM (SELECT t, 1.0 - t * t AS q FROM g)),
      u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
            UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4)
      SELECT bands, rows_per_band, t AS threshold, p AS p_candidate
      FROM u ORDER BY bands, rows_per_band, threshold"""))

  /** Sorted-neighborhood near-dup pairs (simhash sort key, window 4,
    * exact shingle-jaccard verify) — the classic SNM blocking beside
    * LSH; see [[Dedup.sortedNeighborPairs]]. */
  private val q231 = Q("q231_sorted_neighbors",
    (s, dir) => Dedup.sortedNeighborPairs(t(s, dir, "documents"),
      "doc_id", "text").orderBy("id_a", "id_b"),
    Some("""
      WITH s AS (
        SELECT doc_id, text,
               CAST(list_sum(list_transform(generate_series(0, 15), j ->
                 CASE WHEN 2 * len(list_filter(toks, t ->
                        strpos('89abcdef', substring(md5(t), j + 1, 1)) > 0))
                      >= len(toks)
                      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)
                 AS sh
        FROM (SELECT doc_id, text,
                regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents)),
      r AS (SELECT doc_id, row_number() OVER (ORDER BY sh, doc_id) AS gr
            FROM s),
      dst AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(length(text) - 4, 1)),
                i -> ('0x' || substr(md5(substring(text, i, 5)), 1, 15))::BIGINT))
                AS shs
              FROM documents),
      c AS (SELECT a.doc_id AS ia, b.doc_id AS ib
            FROM r a JOIN r b ON b.gr > a.gr AND b.gr <= a.gr + 3),
      j AS (SELECT ia, ib,
              CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
                / CAST(len(da.shs) + len(db.shs)
                       - len(list_intersect(da.shs, db.shs)) AS DOUBLE)
                AS jaccard
            FROM c JOIN dst da ON da.doc_id = ia
                   JOIN dst db ON db.doc_id = ib)
      SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b, jaccard
      FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""))

  /** Theil's uncertainty coefficient source↔lang (asymmetric "who
    * determines whom" beside q224's symmetric V); see
    * [[graft.llm.Stats.uncertaintyCoeff]]. */
  private val q232 = Q("q232_uncertainty_coeff",
    (s, dir) => graft.llm.Stats.uncertaintyCoeff(
      t(s, dir, "documents"), "source", "lang"),
    Some("""
      WITH cells AS (SELECT source AS a, lang AS b,
                       CAST(COUNT(*) AS BIGINT) AS o
                     FROM documents GROUP BY 1, 2),
      ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
      cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
      tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      mi AS (SELECT CAST(SUM(CAST(
               (CAST(o AS DOUBLE) / CAST(tot.n AS DOUBLE))
               * ln((CAST(o AS DOUBLE) * CAST(tot.n AS DOUBLE))
                    / (CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE)))
               AS DECIMAL(30,12))) AS DOUBLE) AS mi
             FROM cells JOIN ra USING (a) JOIN cb USING (b)
             CROSS JOIN tot),
      ha AS (SELECT CAST(SUM(CAST(
               -(CAST(ra AS DOUBLE) / CAST(tot.n AS DOUBLE))
               * ln(CAST(ra AS DOUBLE) / CAST(tot.n AS DOUBLE))
               AS DECIMAL(30,12))) AS DOUBLE) AS h_a
             FROM ra CROSS JOIN tot),
      hb AS (SELECT CAST(SUM(CAST(
               -(CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE))
               * ln(CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE))
               AS DECIMAL(30,12))) AS DOUBLE) AS h_b
             FROM cb CROSS JOIN tot)
      SELECT tot.n AS n, h_a, h_b, mi,
             CASE WHEN h_a > 0.0 THEN mi / h_a END AS u_a_given_b,
             CASE WHEN h_b > 0.0 THEN mi / h_b END AS u_b_given_a
      FROM tot CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb"""))

  /** Curriculum training order with round-robin source interleave
    * (best-first by n_chars within each source); see
    * [[Corpus.curriculumOrder]]. */
  private val q233 = Q("q233_curriculum",
    (s, dir) => Corpus.curriculumOrder(t(s, dir, "documents"),
      "doc_id", "source", "n_chars").orderBy("doc_id"),
    Some("""
      WITH r AS (SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (PARTITION BY source
                     ORDER BY n_chars DESC, doc_id ASC) AS BIGINT)
                     AS grp_rank
                 FROM documents),
      g AS (SELECT source,
              CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS gi
            FROM (SELECT DISTINCT source FROM documents)),
      c AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng FROM g)
      SELECT doc_id, source, n_chars, grp_rank,
             (grp_rank - 1) * ng + gi + 1 AS position
      FROM r JOIN g USING (source) CROSS JOIN c ORDER BY doc_id"""))

  /** Min-K% Prob membership/contamination score (mean neg-logprob of
    * each doc's 20% least likely bigrams under the corpus LM); see
    * [[TextAnalysis.minKProb]]. */
  private val q234 = Q("q234_mink_prob",
    (s, dir) => TextAnalysis.minKProb(t(s, dir, "documents"),
      "doc_id", "text", kPct = 0.2).orderBy("doc_id"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      uni AS (SELECT unnest(t) AS a FROM arr),
      ca AS (SELECT a, COUNT(*) AS ca FROM uni GROUP BY 1),
      v AS (SELECT COUNT(*) AS v FROM ca),
      dbg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i])) AS a,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i + 1])) AS b
        FROM arr),
      cab AS (SELECT a, b, COUNT(*) AS cab FROM dbg GROUP BY 1, 2),
      sc AS (SELECT doc_id,
               -ln(CAST(cab.cab + 1 AS DOUBLE) / (ca.ca + v.v)) AS lp
             FROM dbg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v),
      rk AS (SELECT doc_id, lp,
               row_number() OVER (PARTITION BY doc_id ORDER BY lp DESC)
                 AS rk,
               COUNT(*) OVER (PARTITION BY doc_id) AS n
             FROM sc),
      f AS (SELECT doc_id, CAST(n AS BIGINT) AS n,
              CAST(ceil(n * 0.2) AS BIGINT) AS m,
              CAST(SUM(CAST(CASE WHEN rk <= CAST(ceil(n * 0.2) AS BIGINT)
                THEN lp END AS DECIMAL(30,12))) AS DOUBLE)
                / CAST(CAST(ceil(n * 0.2) AS BIGINT) AS DOUBLE)
                AS mink_score
            FROM rk GROUP BY doc_id, n)
      SELECT d.doc_id,
             COALESCE(f.n, 0) AS n_bigrams,
             COALESCE(f.m, 0) AS k_used,
             f.mink_score
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN f USING (doc_id)
      ORDER BY doc_id"""))

  /** Language-ID confusion matrix (declared lang vs the langId
    * heuristic, with per-declared shares); see
    * [[TextAnalysis.langConfusion]]. Oracle extends the q18 replay
    * with the matrix fold. */
  private val q236 = Q("q236_lang_confusion",
    (s, dir) => TextAnalysis.langConfusion(t(s, dir, "documents"),
      "lang", "text").orderBy("lang", "predicted_lang"),
    Some {
      val markers = TextAnalysis.langMarkers
      val scoreDefs = markers.map { case (l, ms) =>
        s"len(list_filter(toks, t -> t IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$l"
      }.mkString(",\n               ")
      val best = s"greatest(${markers.map(m => s"s_${m._1}").mkString(", ")})"
      val cases = markers.map { case (l, _) =>
        s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'"
      }.mkString("\n               ")
      s"""
      WITH pred AS (
        SELECT lang,
               CASE $cases
                 ELSE 'und' END AS predicted_lang
        FROM (SELECT lang, $scoreDefs
              FROM (SELECT lang,
                      regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                    FROM documents))),
      cm AS (SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM pred GROUP BY 1, 2),
      t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS t
            FROM cm GROUP BY 1)
      SELECT cm.lang AS lang, predicted_lang, n_docs,
             CAST(n_docs AS DOUBLE) / CAST(t AS DOUBLE) AS frac_of_declared
      FROM cm JOIN t USING (lang) ORDER BY lang, predicted_lang"""
    })

  /** Per-source char-bigram entropy (compressibility / script-mix
    * proxy); see [[TextAnalysis.charBigramEntropy]]. */
  private val q237 = Q("q237_char_entropy",
    (s, dir) => TextAnalysis.charBigramEntropy(t(s, dir, "documents"),
      "source", "text").orderBy("source"),
    Some("""
      WITH g AS (
        SELECT source,
               unnest(list_transform(
                 generate_series(1, greatest(length(s) - 1, 1)),
                 i -> substring(s, i, 2))) AS g
        FROM (SELECT source, trim(lower(text)) AS s FROM documents)),
      c AS (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
            FROM g GROUP BY 1, 2),
      t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY 1),
      f AS (SELECT c.source AS source, MIN(t.t) AS n_grams,
              CAST(COUNT(*) AS BIGINT) AS n_distinct,
              CAST(SUM(CAST(-(CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE))
                * ln(CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE))
                AS DECIMAL(30,12))) AS DOUBLE) AS entropy_nats
            FROM c JOIN t USING (source) GROUP BY c.source)
      SELECT source, n_grams, n_distinct, entropy_nats,
             entropy_nats / 0.6931471805599453 AS entropy_bits
      FROM f ORDER BY source"""))

  /** Distinctive terms per source by Dirichlet-prior log-odds z-score
    * (Monroe et al. 2008 "Fightin' Words"); see
    * [[TextAnalysis.logOddsTerms]]. */
  private val q238 = Q("q238_log_odds",
    (s, dir) => TextAnalysis.logOddsTerms(t(s, dir, "documents"),
      "source", "text", topK = 5).orderBy("source", "rk"),
    Some("""
      WITH tk AS (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents),
      csw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS csw
              FROM tk GROUP BY 1, 2),
      cw AS (SELECT w, CAST(SUM(csw) AS BIGINT) AS cw FROM csw GROUP BY 1),
      ns AS (SELECT source, CAST(SUM(csw) AS BIGINT) AS ns
             FROM csw GROUP BY 1),
      tot AS (SELECT CAST(SUM(csw) AS BIGINT) AS n FROM csw),
      s1 AS (SELECT source, w, csw, cw, ns, n,
               10.0 * CAST(cw AS DOUBLE) / CAST(n AS DOUBLE) AS aw
             FROM csw JOIN cw USING (w) JOIN ns USING (source)
             CROSS JOIN tot),
      s2 AS (SELECT source, w, csw,
               CAST(csw AS DOUBLE) + aw AS in_s,
               CAST(ns AS DOUBLE) + 10.0 - CAST(csw AS DOUBLE) - aw
                 AS out_s,
               (CAST(cw AS DOUBLE) - CAST(csw AS DOUBLE)) + aw AS in_r,
               (CAST(n AS DOUBLE) - CAST(ns AS DOUBLE)) + 10.0
                 - (CAST(cw AS DOUBLE) - CAST(csw AS DOUBLE)) - aw AS out_r
             FROM s1),
      s3 AS (SELECT source, w AS term, csw AS n_in_group,
               (ln(in_s / out_s) - ln(in_r / out_r))
                 / sqrt(1.0 / in_s + 1.0 / in_r) AS z
             FROM s2),
      r AS (SELECT source, term, n_in_group, z,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY z DESC, term ASC) AS BIGINT) AS rk
            FROM s3)
      SELECT source, rk, term, n_in_group, z
      FROM r WHERE rk <= 5 ORDER BY source, rk"""))

  /** k-anonymity screen over (source, lang) quasi-identifiers; see
    * [[Corpus.kAnonymity]]. */
  private val q235 = Q("q235_k_anonymity",
    (s, dir) => Corpus.kAnonymity(t(s, dir, "documents"),
      Seq("source", "lang"), k = 5L).orderBy("source", "lang"),
    Some("""
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             COUNT(*) < 5 AS at_risk
      FROM documents GROUP BY source, lang ORDER BY source, lang"""))

  /** Misra-Gries heavy-hitter tokens, capacity 64 (> the fixture
    * vocabulary, so the summary is exact and the oracle is plain
    * counting — the sketch-gate discipline of q46/q50); the
    * deterministic error bound ⌊n/65⌋ rides along. See
    * [[graft.llm.Frequent.heavyHitters]] for the merge rule. */
  private val q239 = Q("q239_heavy_hitters",
    (s, dir) => graft.llm.Frequent.heavyHitters(t(s, dir, "documents"),
      "text", capacity = 64, minCount = 1L)
      .orderBy(col("est_count").desc, col("term")),
    Some("""
      WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents),
      t2 AS (SELECT term FROM toks WHERE length(term) > 0),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM t2)
      SELECT term, CAST(COUNT(*) AS BIGINT) AS est_count,
             CAST(n_tokens // 65 AS BIGINT) AS err_bound
      FROM t2 CROSS JOIN n GROUP BY term, n_tokens
      ORDER BY est_count DESC, term"""))

  /** Exact rolling 7-day distinct active users per day over the
    * densified day spine; see [[graft.ops.EventOps.rollingActiveUsers]]
    * for the latest-activity-wins decomposition that avoids both the
    * count-distinct window and the day×corpus re-scan. */
  private val q240 = Q("q240_rolling_active",
    (s, dir) => graft.ops.EventOps.rollingActiveUsers(
      t(s, dir, "events"), windowDays = 7).orderBy("day"),
    Some("""
      WITH acts AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM acts),
      spine AS (SELECT CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS day FROM b)
      SELECT s.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM spine s LEFT JOIN acts a ON a.day BETWEEN s.day - 6 AND s.day
      GROUP BY 1 ORDER BY 1"""))

  /** Symmetric int8 quantization round-trip error per embedding; see
    * [[Similarity.int8QuantStats]] for the FAISS-SQ8 scheme and the
    * reorder-drift bound. */
  private val q241 = Q("q241_int8_quant",
    (s, dir) => Similarity.int8QuantStats(t(s, dir, "embeddings"),
      "vec_id").orderBy("vec_id"),
    Some("""
      WITH b AS (SELECT vec_id,
          list_transform(embedding[1:64], e -> CAST(e AS DOUBLE)) AS v
        FROM embeddings),
      s AS (SELECT vec_id, v,
          list_max(list_transform(v, e -> abs(e))) AS scale FROM b),
      e AS (SELECT vec_id, scale,
          list_transform(v, x -> CASE WHEN scale > 0 THEN
              x - greatest(-127.0, least(127.0,
                floor((x * 127.0) / scale + 0.5))) * scale / 127.0
            ELSE x END) AS d
        FROM s)
      SELECT vec_id, scale,
        list_sum(list_transform(d, x -> x * x)) / len(d) AS mse,
        sqrt(list_max(list_transform(d, x -> x * x))) AS max_abs_err
      FROM e ORDER BY vec_id"""))

  /** Split-conformal doc-length threshold per language at α = 0.1
    * (the k-th order statistic with finite-sample correction); see
    * [[graft.llm.Stats.conformalThreshold]]. */
  private val q242 = Q("q242_conformal",
    (s, dir) => graft.llm.Stats.conformalThreshold(t(s, dir, "documents"),
      "lang", "n_chars", alpha = 0.1).orderBy("lang"),
    Some("""
      WITH s AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v
                 FROM documents
                 WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
      cells AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
                FROM s GROUP BY 1, 2),
      cum AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM cells),
      tot AS (SELECT g, CAST(MAX(cum) AS BIGINT) AS n,
                CAST(ceil(CAST(MAX(cum) + 1 AS DOUBLE) * 0.9) AS BIGINT) AS k
              FROM cum GROUP BY 1),
      hit AS (SELECT g, v AS threshold, cum AS chit,
                row_number() OVER (PARTITION BY g ORDER BY v) AS rn
              FROM (SELECT cum.g, cum.v, cum.cum
                    FROM cum JOIN tot USING (g) WHERE cum.cum >= tot.k))
      SELECT t.g AS lang, t.n, t.k,
             CASE WHEN t.k <= t.n THEN h.threshold END AS threshold,
             CASE WHEN t.k <= t.n THEN CAST(h.chit AS DOUBLE) / t.n END
               AS coverage
      FROM tot t LEFT JOIN (SELECT * FROM hit WHERE rn = 1) h USING (g)
      ORDER BY lang"""))

  /** Character-class mix + dominant script per document; see
    * [[TextAnalysis.scriptMix]]. */
  private val q243 = Q("q243_script_mix",
    (s, dir) => TextAnalysis.scriptMix(t(s, dir, "documents"),
      "doc_id", "text").orderBy("doc_id"),
    Some("""
      WITH b AS (SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n,
          CAST(length(text) - length(regexp_replace(text,
            '[A-Za-z]', '', 'g')) AS BIGINT) AS latin,
          CAST(length(text) - length(regexp_replace(text,
            '[0-9]', '', 'g')) AS BIGINT) AS digit,
          CAST(length(text) - length(regexp_replace(text,
            '[ \t\n\r]', '', 'g')) AS BIGINT) AS space
        FROM documents),
      c AS (SELECT doc_id, n, latin, digit, space,
              n - latin - digit - space AS other FROM b)
      SELECT doc_id, n AS n_chars_total, latin AS n_latin,
             digit AS n_digit, space AS n_space, other AS n_other,
             CASE WHEN n > 0 THEN CAST(latin AS DOUBLE) / n END AS latin_frac,
             CASE WHEN n > 0 THEN CAST(digit AS DOUBLE) / n END AS digit_frac,
             CASE WHEN n > 0 THEN CAST(space AS DOUBLE) / n END AS space_frac,
             CASE WHEN n > 0 THEN CAST(other AS DOUBLE) / n END AS other_frac,
             CASE WHEN n > 0 THEN
               CASE WHEN latin >= digit AND latin >= space AND latin >= other
                      THEN 'latin'
                    WHEN digit >= space AND digit >= other THEN 'digit'
                    WHEN space >= other THEN 'space'
                    ELSE 'other' END END AS dominant
      FROM c ORDER BY doc_id"""))

  /** Per-source exact AUC of the q197/q207-configured scorer — the
    * slice readout over the same trained weights; see
    * [[graft.llm.Stats.aucByGroup]]. */
  private val q244 = Q("q244_auc_by_group",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feat = QualityClassifier.features(
        docs, "doc_id", "text", col("lang") === "en", enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 8.0)
      val scored = QualityClassifier.score(feat, "doc_id", w)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      graft.llm.Stats.aucByGroup(scored, "source").orderBy("source")
    },
    Some(s"""${duckLrScoredAt("8.0")},
      sc AS (SELECT d.source AS g, s.p, s.y
             FROM scored_lr s JOIN documents d USING (doc_id)),
      dd AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
             FROM sc GROUP BY 1, 2),
      r AS (SELECT g, p, cnt, pos,
              2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1 AS rank2
            FROM dd),
      a AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS n_pos,
                   SUM(CAST(pos AS HUGEINT) * rank2) AS s2
            FROM r GROUP BY 1)
      SELECT g AS source, n, n_pos, n - n_pos AS n_neg,
             CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
               CAST(s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE))
             END AS auc
      FROM a ORDER BY source"""))

  /** Good-Turing unseen mass + Chao1 vocabulary richness — the
    * "does more data buy new vocabulary" headline; see
    * [[TextAnalysis.vocabRichness]]. */
  private val q245 = Q("q245_vocab_richness",
    (s, dir) => TextAnalysis.vocabRichness(t(s, dir, "documents"), "text"),
    Some("""
      WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents),
      spec AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS r
               FROM toks GROUP BY 1),
      a AS (SELECT CAST(SUM(r) AS BIGINT) AS n_tokens,
              CAST(COUNT(*) AS BIGINT) AS vocab,
              CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
            FROM spec)
      SELECT n_tokens, vocab, n1, n2,
             CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS unseen_mass,
             CAST(vocab AS DOUBLE) + (CAST(n1 AS DOUBLE)
               * CAST(n1 - 1 AS DOUBLE)) / (2.0 * CAST(n2 + 1 AS DOUBLE))
               AS chao1
      FROM a"""))

  /** Most-repeated winnow fingerprints (boilerplate/template heads —
    * the memorization-risk spans); see [[TextAnalysis.winnowHeads]]
    * and the q190 selection guarantee. */
  private val q246 = Q("q246_winnow_heads",
    (s, dir) => TextAnalysis.winnowHeads(t(s, dir, "documents"),
      "doc_id", "text", k = 4, w = 4, minDocs = 2L)
      .orderBy(col("n_docs").desc, col("fingerprint")),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      g AS (SELECT doc_id, p.i AS pos,
              ('0x' || substr(md5(p.g), 1, 15))::BIGINT AS h
            FROM (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(t) - 3),
                      i -> {'i': i, 'g': array_to_string(t[i:i+3], ' ')})) AS p
                  FROM arr WHERE len(t) >= 4)),
      wm AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS w,
               COUNT(*) OVER (PARTITION BY doc_id) AS ng
             FROM g),
      sel AS (SELECT DISTINCT doc_id, w FROM wm
              WHERE pos <= greatest(ng - 3, 1))
      SELECT w AS fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM sel GROUP BY 1 HAVING COUNT(*) >= 2
      ORDER BY n_docs DESC, fingerprint"""))

  /** CUSUM sustained-shift detection on daily event volume (Page
    * 1954), recursion-free via the running-sum − running-min closed
    * form; see [[graft.ops.EventOps.cusumShift]]. */
  private val q247 = Q("q247_cusum_shift",
    (s, dir) => graft.ops.EventOps.cusumShift(t(s, dir, "events"),
      k = 0.5, h = 4.0).orderBy("event_type", "day"),
    Some("""
      WITH counts AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
            FROM counts GROUP BY 1),
      spine AS (SELECT event_type, CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS day FROM b),
      daily AS (SELECT s.event_type, s.day, COALESCE(c.n, 0) AS n_events
                FROM spine s LEFT JOIN counts c USING (event_type, day)),
      mom AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
                CAST(SUM(n_events) AS BIGINT) AS s1,
                SUM(CAST(n_events AS HUGEINT) * n_events) AS s2
              FROM daily GROUP BY 1),
      zt AS (SELECT d.event_type, d.day, d.n_events,
               CASE WHEN nd >= 2 AND greatest((CAST(s2 AS DOUBLE)
                   - CAST(nd AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE)))
                   / (CAST(nd AS DOUBLE) - 1.0), 0.0) > 0.0
               THEN (CAST(d.n_events AS DOUBLE)
                   - CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))
                 / sqrt(greatest((CAST(s2 AS DOUBLE)
                   - CAST(nd AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE)))
                   / (CAST(nd AS DOUBLE) - 1.0), 0.0))
               END AS z
             FROM daily d JOIN mom USING (event_type)),
      c AS (SELECT *, SUM(z - 0.5) OVER w AS cp,
              SUM(0.0 - z - 0.5) OVER w AS cn
            FROM zt WINDOW w AS (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      st AS (SELECT *, cp - least(0.0, MIN(cp) OVER w) AS cusum_pos,
               cn - least(0.0, MIN(cn) OVER w) AS cusum_neg
             FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_type, day, n_events, z, cusum_pos, cusum_neg,
             COALESCE(cusum_pos > 4.0 OR cusum_neg > 4.0, FALSE) AS alarm
      FROM st ORDER BY event_type, day"""))

  /** Precision/recall/F1 threshold sweep of the q197/q207-configured
    * scorer — the filter-cut decision table; see
    * [[QualityClassifier.prCurve]]. */
  private val q248 = Q("q248_pr_curve",
    (s, dir) => {
      val feat = QualityClassifier.features(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en",
        enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 8.0)
      QualityClassifier.prCurve(
        QualityClassifier.score(feat, "doc_id", w)).orderBy("threshold")
    },
    Some(s"""${duckLrScoredAt("8.0")},
      th AS (SELECT CAST(i AS DOUBLE) / 10.0 AS threshold
             FROM generate_series(1, 9) t(i)),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
            FROM scored_lr),
      cm AS (SELECT th.threshold,
               CAST(SUM(CASE WHEN s.p >= th.threshold AND s.y = 1.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN s.p >= th.threshold AND s.y = 0.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS fp
             FROM th CROSS JOIN scored_lr s GROUP BY 1),
      pr AS (SELECT threshold, tp, fp, pos - tp AS fn,
               n - pos - fp AS tn,
               CASE WHEN tp + fp > 0 THEN
                 CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS p_,
               CASE WHEN pos > 0 THEN
                 CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) END AS r_
             FROM cm CROSS JOIN a)
      SELECT threshold, tp, fp, fn, tn,
             p_ AS "precision", r_ AS recall,
             CASE WHEN p_ IS NOT NULL AND r_ IS NOT NULL
                   AND p_ + r_ > 0.0
               THEN 2.0 * p_ * r_ / (p_ + r_) END AS f1
      FROM pr ORDER BY threshold"""))

  /** Isotonic (PAV) calibration map of the q197/q207-configured
    * scorer; the oracle replays the textbook minimax closed form
    * iso_j = max_{i≤j} min_{k≥j} avg(i..k) over the distinct-score
    * frame (O(n²) pairs — cardinality-bounded by the discrete
    * contract); see [[QualityClassifier.isotonicCalibration]]. */
  private val q249 = Q("q249_isotonic",
    (s, dir) => {
      val feat = QualityClassifier.features(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en",
        enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 8.0)
      QualityClassifier.isotonicCalibration(
        QualityClassifier.score(feat, "doc_id", w)).orderBy("quality_score")
    },
    Some(s"""${duckLrScoredAt("8.0")},
      cells AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS w,
                  CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
                FROM scored_lr GROUP BY 1),
      pre AS (SELECT p, w, pos,
                CAST(row_number() OVER (ORDER BY p) AS BIGINT) AS rn,
                CAST(SUM(w) OVER (ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS wc,
                CAST(SUM(pos) OVER (ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS pc
              FROM cells),
      pairs AS (SELECT a.rn AS i, b.rn AS k,
                  CAST(b.pc - COALESCE(a2.pc, 0) AS DOUBLE)
                    / CAST(b.wc - COALESCE(a2.wc, 0) AS DOUBLE) AS avg
                FROM pre a JOIN pre b ON b.rn >= a.rn
                LEFT JOIN pre a2 ON a2.rn = a.rn - 1),
      m AS (SELECT i, k AS j,
              MIN(avg) OVER (PARTITION BY i ORDER BY k DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mv
            FROM pairs),
      iso AS (SELECT j, MAX(mv) AS iso_prob FROM m GROUP BY 1)
      SELECT pre.p AS quality_score, pre.w AS n, pre.pos AS pos,
             iso.iso_prob
      FROM pre JOIN iso ON iso.j = pre.rn ORDER BY quality_score"""))

  /** Exactly-balanced stratified 5-fold assignment (rank-mod-k on the
    * md5 order within each language); see
    * [[Corpus.stratifiedKFold]] for the contrast with hash-bucket
    * splits. */
  private val q250 = Q("q250_stratified_kfold",
    (s, dir) => Corpus.stratifiedKFold(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id", k = 5).orderBy("doc_id"),
    Some("""
      SELECT doc_id, lang,
             CAST((row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
               - 1) % 5 AS BIGINT) AS fold
      FROM (SELECT doc_id, lang,
              ('0x' || substr(md5(doc_id::VARCHAR || ':fold'), 1, 15))::BIGINT
                AS h
            FROM documents)
      ORDER BY doc_id"""))

  /** Hybrid retrieval: BM25 lexical top-10 (the q146 scorer) fused
    * with exact dense cosine top-10 (the q26 scorer) by Reciprocal
    * Rank Fusion, k0 = 60; see [[Similarity.rrfFuse]]. Queries pair
    * the q146 texts with query vectors vec_id 1-3 over the shared id
    * space. */
  private val q251 = Q("q251_rrf_hybrid",
    (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "dup key scan"), (2L, "hash join merge"),
        (3L, "stream window sort the")).toDF("query_id", "query_text")
      val lex = TextAnalysis.bm25TopK(t(s, dir, "documents"), queries,
          "doc_id", "text", k = 10)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val den = Similarity.bruteForceTopK(
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), emb, 10)
        .select(col("query_id"), col("vec_id").as("id"), col("rank"))
      Similarity.rrfFuse(lex, den).orderBy("query_id", "rank")
    },
    Some(s"""
      WITH q(query_id, query_text) AS (VALUES
        (CAST(1 AS BIGINT), 'dup key scan'),
        (CAST(2 AS BIGINT), 'hash join merge'),
        (CAST(3 AS BIGINT), 'stream window sort the')),
      qt AS (SELECT DISTINCT query_id,
               unnest(regexp_split_to_array(trim(lower(query_text)), '\\s+'))
                 AS term
             FROM q),
      base AS (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS t
               FROM documents),
      dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM base),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      toks AS (SELECT doc_id, unnest(t) AS term FROM base),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf
             FROM toks JOIN (SELECT DISTINCT term FROM qt) USING (term)
             GROUP BY 1, 2),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      contrib AS (
        SELECT qt.query_id, tf.doc_id,
               ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE)
                           / (CAST(sum_dl AS DOUBLE)
                              / CAST(n_docs AS DOUBLE)))) AS c
        FROM tf JOIN dfq USING (term) JOIN qt USING (term)
        JOIN dl USING (doc_id) CROSS JOIN stats),
      bscored AS (
        SELECT query_id, doc_id,
               CAST(SUM(CAST(c AS DECIMAL(30,12))) AS DOUBLE) AS score
        FROM contrib GROUP BY 1, 2),
      lex AS (SELECT query_id, doc_id AS id, rank FROM (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
          FROM bscored) WHERE rank <= 10),
      qe AS (SELECT vec_id AS query_id, embedding AS q_emb
             FROM embeddings WHERE vec_id IN (1, 2, 3)),
      cs AS (SELECT query_id, vec_id,
               ${duckCos("q_emb", "embedding")} AS cos
             FROM embeddings JOIN qe ON vec_id <> query_id),
      den AS (SELECT query_id, vec_id AS id, rank FROM (
          SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
          FROM cs) WHERE rank <= 10),
      ids AS (SELECT query_id, id FROM lex
              UNION SELECT query_id, id FROM den),
      f AS (SELECT ids.query_id, ids.id,
              COALESCE(1.0 / (60.0 + CAST(l.rank AS DOUBLE)), 0.0)
                + COALESCE(1.0 / (60.0 + CAST(d.rank AS DOUBLE)), 0.0)
                AS rrf_score,
              l.rank AS rank_a, d.rank AS rank_b
            FROM ids
            LEFT JOIN lex l ON l.query_id = ids.query_id AND l.id = ids.id
            LEFT JOIN den d ON d.query_id = ids.query_id AND d.id = ids.id)
      SELECT query_id, rank, id, rrf_score, rank_a, rank_b FROM (
        SELECT f.*, CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_score DESC, id ASC) AS BIGINT) AS rank FROM f)
      WHERE rank <= 10 ORDER BY query_id, rank"""))

  /** Manku simhash near-dup pairs: 60-bit fingerprint, 4×15-bit
    * pigeonhole blocks, exact hamming ≤ 3 verify; see
    * [[Dedup.simhashPairs]] for the recall-1 argument. */
  private val q252 = Q("q252_simhash_pairs",
    (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"),
      "doc_id", "text", maxHamming = 3).orderBy("id_a", "id_b"),
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      tok AS (SELECT doc_id, unnest(t) AS token FROM arr),
      nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM arr),
      bits AS (SELECT doc_id, j,
          ((strpos('0123456789abcdef',
              substring(md5(token), (j // 4) + 1, 1)) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2 AS bit
        FROM tok CROSS JOIN generate_series(0, 59) g(j)),
      votes AS (SELECT doc_id, j, CAST(SUM(bit) AS BIGINT) AS v
                FROM bits GROUP BY 1, 2),
      sh AS (SELECT v.doc_id,
          CAST(SUM(CASE WHEN 2 * v.v >= nn.n
            THEN CAST(pow(2, v.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        FROM votes v JOIN nn ON v.doc_id = nn.doc_id GROUP BY 1),
      blocks AS (SELECT doc_id, sh, i AS blk,
          (sh // CAST(pow(2, 15 * i) AS BIGINT)) % 32768 AS bval
        FROM sh CROSS JOIN generate_series(0, 3) b(i)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.sh AS sa, b.sh AS sb
               FROM blocks a JOIN blocks b
                 ON a.blk = b.blk AND a.bval = b.bval
                   AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      ORDER BY id_a, id_b"""))

  /** Cross-validated AUC: the q207 scorer evaluated per
    * [[Corpus.stratifiedKFold]] fold via [[graft.llm.Stats.aucByGroup]]
    * — the CV-variance readout that says whether a single-split AUC
    * is luck. Pure composition of two verified operators; the gate
    * pins the composition's determinism end-to-end. */
  private val q253 = Q("q253_cv_auc",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feat = QualityClassifier.features(
        docs, "doc_id", "text", col("lang") === "en", enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 8.0)
      val folds = Corpus.stratifiedKFold(
        docs.select(col("doc_id"), col("lang")), "lang", "doc_id", k = 5)
        .select(col("doc_id"), col("fold"))
      graft.llm.Stats.aucByGroup(
        QualityClassifier.score(feat, "doc_id", w)
          .join(folds, Seq("doc_id")), "fold").orderBy("fold")
    },
    Some(s"""${duckLrScoredAt("8.0")},
      kf AS (SELECT doc_id,
               CAST((row_number() OVER (PARTITION BY lang
                 ORDER BY h, doc_id) - 1) % 5 AS BIGINT) AS fold
             FROM (SELECT doc_id, lang,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':fold'),
                       1, 15))::BIGINT AS h
                   FROM documents)),
      sc AS (SELECT kf.fold AS g, s.p, s.y
             FROM scored_lr s JOIN kf USING (doc_id)),
      dd AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
             FROM sc GROUP BY 1, 2),
      r AS (SELECT g, p, cnt, pos,
              2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1 AS rank2
            FROM dd),
      a AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS n_pos,
                   SUM(CAST(pos AS HUGEINT) * rank2) AS s2
            FROM r GROUP BY 1)
      SELECT g AS fold, n, n_pos, n - n_pos AS n_neg,
             CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
               CAST(s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE))
             END AS auc
      FROM a ORDER BY fold"""))

  /** Binary-quantization recall@10: hamming ranking over 60-bit sign
    * codes vs exact cosine top-10 — the 1-bit end of the
    * quantization ladder (PQ q136, int8 q241); see
    * [[Similarity.binaryQuantRecall]]. */
  private val q254 = Q("q254_bq_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.binaryQuantRecall(emb.filter(col("vec_id") < 10),
        emb, k = 10).orderBy("query_id")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                 FROM embeddings WHERE vec_id < 10),
      codes AS (SELECT vec_id,
          CAST(list_sum(list_transform(generate_series(0, 59), i ->
            CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > 0
              THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT)
            AS code
        FROM embeddings),
      qc AS (SELECT q.query_id, codes.code AS q_code
             FROM q JOIN codes ON codes.vec_id = q.query_id),
      bq AS (SELECT query_id, vec_id FROM (
          SELECT qc.query_id, c.vec_id,
            row_number() OVER (PARTITION BY qc.query_id
              ORDER BY bit_count(xor(c.code, qc.q_code)) ASC,
                c.vec_id ASC) AS rank
          FROM codes c JOIN qc ON c.vec_id <> qc.query_id)
        WHERE rank <= 10),
      cs AS (SELECT query_id, vec_id,
               ${duckCos("q_emb", "embedding")} AS cos
             FROM embeddings JOIN q ON vec_id <> query_id),
      ex AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cs) WHERE rank <= 10),
      ov AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
             FROM ex e JOIN bq USING (query_id, vec_id) GROUP BY 1)
      SELECT q.query_id,
             CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
             CAST(COALESCE(n_overlap, 0) AS DOUBLE) / 10.0 AS recall
      FROM q LEFT JOIN ov USING (query_id) ORDER BY query_id"""))

  /** Padding waste under arrival-order vs length-sorted batching
    * (batch 8, cap 512) per source — the sorted-batching decision
    * table; see [[Corpus.paddingWaste]]. */
  private val q255 = Q("q255_padding_waste",
    (s, dir) => Corpus.paddingWaste(t(s, dir, "documents"),
      "source", "doc_id", "text", batchSize = 8, maxLen = 512)
      .orderBy("source"),
    Some("""
      WITH base AS (SELECT source AS g, doc_id AS id,
          least(COALESCE(CAST(len(regexp_split_to_array(trim(lower(text)),
            '\s+')) AS BIGINT), 0), 512) AS len,
          ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
        FROM documents),
      a AS (SELECT g, len, (row_number() OVER (PARTITION BY g
              ORDER BY h, id) - 1) // 8 AS b FROM base),
      ab AS (SELECT g, b, MAX(len) AS mx, SUM(len) AS s, COUNT(*) AS n
             FROM a GROUP BY 1, 2),
      af AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(SUM(n * mx) - SUM(s) AS DOUBLE)
                 / CAST(SUM(n * mx) AS DOUBLE) AS pf_a
             FROM ab GROUP BY 1),
      s2 AS (SELECT g, len, (row_number() OVER (PARTITION BY g
               ORDER BY len DESC, id) - 1) // 8 AS b FROM base),
      sb AS (SELECT g, b, MAX(len) AS mx, SUM(len) AS s, COUNT(*) AS n
             FROM s2 GROUP BY 1, 2),
      sf AS (SELECT g,
               CAST(SUM(n * mx) - SUM(s) AS DOUBLE)
                 / CAST(SUM(n * mx) AS DOUBLE) AS pf_s
             FROM sb GROUP BY 1)
      SELECT af.g AS source, n_docs, pf_a AS pad_frac_arrival,
             pf_s AS pad_frac_sorted, pf_a - pf_s AS saved_frac
      FROM af JOIN sf USING (g) ORDER BY source"""))

  /** The composed dedup pipeline — LSH + sorted-neighborhood + simhash
    * pair streams unioned into ONE connected-components pass (min-id
    * labels); see [[Dedup.blockedDedupClusters]]. The oracle replays
    * all three blockers (the q23/q231/q252 constructions verbatim,
    * sorted-neighbor verification reusing the minhash CTEs' hashed
    * shingle sets `d`), unions them, and closes transitively with the
    * q57 recursive CTE. */
  /** The three-blocker pair union + transitive closure, shared by the
    * q256 cluster gate and the q259 keeper gate: q23's LSH replay
    * (via `verified`), q231's sorted-neighbor replay (verification
    * reusing the minhash CTEs' hashed shingle sets `d`), q252's
    * simhash replay, unioned and closed with the q57 recursive CTE. */
  private val duckTriBlockerCtes = s"""
      lshp AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      sns AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(generate_series(0, 15), j ->
                 CASE WHEN 2 * len(list_filter(toks, t ->
                        strpos('89abcdef', substring(md5(t), j + 1, 1)) > 0))
                      >= len(toks)
                      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)
                 AS f16
        FROM (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents)),
      snr AS (SELECT doc_id, row_number() OVER (ORDER BY f16, doc_id) AS gr
              FROM sns),
      snc AS (SELECT a.doc_id AS ia, b.doc_id AS ib
              FROM snr a JOIN snr b ON b.gr > a.gr AND b.gr <= a.gr + 3),
      snj AS (SELECT ia, ib,
                CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                  / CAST(len(da.sh) + len(db.sh)
                         - len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                  AS jaccard
              FROM snc JOIN d da ON da.doc_id = ia
                     JOIN d db ON db.doc_id = ib),
      snp AS (SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b
              FROM snj WHERE jaccard >= 0.5),
      arr AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM documents),
      tok AS (SELECT doc_id, unnest(t) AS token FROM arr),
      nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM arr),
      bits AS (SELECT doc_id, j,
          ((strpos('0123456789abcdef',
              substring(md5(token), (j // 4) + 1, 1)) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2 AS bit
        FROM tok CROSS JOIN generate_series(0, 59) g(j)),
      votes AS (SELECT doc_id, j, CAST(SUM(bit) AS BIGINT) AS v
                FROM bits GROUP BY 1, 2),
      sh60 AS (SELECT v.doc_id,
          CAST(SUM(CASE WHEN 2 * v.v >= nn.n
            THEN CAST(pow(2, v.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        FROM votes v JOIN nn ON v.doc_id = nn.doc_id GROUP BY 1),
      blocks AS (SELECT doc_id, sh, i AS blk,
          (sh // CAST(pow(2, 15 * i) AS BIGINT)) % 32768 AS bval
        FROM sh60 CROSS JOIN generate_series(0, 3) gb(i)),
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                 x.sh AS sa, y.sh AS sb
               FROM blocks x JOIN blocks y
                 ON x.blk = y.blk AND x.bval = y.bval
                   AND x.doc_id < y.doc_id),
      simp AS (SELECT id_a, id_b FROM cand
               WHERE bit_count(xor(sa, sb)) <= 3),
      allp AS (SELECT DISTINCT id_a, id_b FROM (
               SELECT id_a, id_b FROM lshp
               UNION ALL SELECT id_a, id_b FROM snp
               UNION ALL SELECT id_a, id_b FROM simp)),
      edges AS (SELECT id_a AS src, id_b AS dst FROM allp
                UNION ALL SELECT id_b, id_a FROM allp),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst)"""

  private val q256 = Q("q256_blocked_dedup",
    (s, dir) => Dedup.blockedDedupClusters(t(s, dir, "documents"),
      "doc_id", "text")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,$duckTriBlockerCtes
      SELECT id AS doc_id, MIN(r) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** Keeper resolution over the q256 blocked clusters: keep-longest
    * (argmax n_chars, tie → lower id) per three-blocker cluster —
    * the last mile of the composed pipeline, the frame a filtering
    * write consumes; see [[Dedup.blockedClusterKeepers]]. The oracle
    * extends the q256 replay with q170's per-cluster argmax tail. */
  private val q259 = Q("q259_blocked_keepers",
    (s, dir) => Dedup.blockedClusterKeepers(t(s, dir, "documents"),
      "doc_id", "text", "n_chars")
      .orderBy("doc_id"),
    Some(s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},$duckBandCte,$duckTriBlockerCtes,
      kcl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      kbase AS (SELECT d.doc_id,
                       COALESCE(kcl.cluster_id, d.doc_id) AS cluster_id,
                       d.n_chars
                FROM documents d LEFT JOIN kcl ON kcl.id = d.doc_id),
      kkp AS (SELECT cluster_id, doc_id AS keeper FROM (
               SELECT cluster_id, doc_id,
                      row_number() OVER (PARTITION BY cluster_id
                        ORDER BY n_chars DESC, doc_id ASC) AS rk FROM kbase)
              WHERE rk = 1)
      SELECT kbase.doc_id, kbase.cluster_id, kbase.n_chars,
             (kbase.doc_id = kkp.keeper) AS kept
      FROM kbase JOIN kkp USING (cluster_id) ORDER BY kbase.doc_id"""))

  /** Shared hybrid-retrieval oracle CTEs (the q257 request-path
    * replay): BM25 lexical top-10 + seed-centroid IVF dense top-10
    * over the 3 fixed text queries, RRF-fused into `f`
    * (query_id, id, rrf_score, rank_a, rank_b). Reused by the q294
    * end-to-end retrieval-eval chain. */
  private val duckHybridCtes = s"""
      q(query_id, query_text) AS (VALUES
        (CAST(1 AS BIGINT), 'dup key scan'),
        (CAST(2 AS BIGINT), 'hash join merge'),
        (CAST(3 AS BIGINT), 'stream window sort the')),
      qt AS (SELECT DISTINCT query_id,
               unnest(regexp_split_to_array(trim(lower(query_text)), '\\s+'))
                 AS term
             FROM q),
      base AS (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS t
               FROM documents),
      dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM base),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      toks AS (SELECT doc_id, unnest(t) AS term FROM base),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf
             FROM toks JOIN (SELECT DISTINCT term FROM qt) USING (term)
             GROUP BY 1, 2),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      contrib AS (
        SELECT qt.query_id, tf.doc_id,
               ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE)
                           / (CAST(sum_dl AS DOUBLE)
                              / CAST(n_docs AS DOUBLE)))) AS c
        FROM tf JOIN dfq USING (term) JOIN qt USING (term)
        JOIN dl USING (doc_id) CROSS JOIN stats),
      bscored AS (
        SELECT query_id, doc_id,
               CAST(SUM(CAST(c AS DECIMAL(30,12))) AS DOUBLE) AS score
        FROM contrib GROUP BY 1, 2),
      lex AS (SELECT query_id, doc_id AS id, rank FROM (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
          FROM bscored) WHERE rank <= 10),
      cc AS (SELECT vec_id AS cid, embedding AS c_emb
             FROM embeddings WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, cc.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${duckCos("e.embedding", "cc.c_emb")} DESC,
                     cc.cid ASC) AS r
          FROM embeddings e CROSS JOIN cc)
        WHERE r = 1),
      probed AS (
        SELECT query_id, q_emb, cid FROM (
          SELECT qv.vec_id AS query_id, qv.embedding AS q_emb, cc.cid,
                 row_number() OVER (PARTITION BY qv.vec_id
                   ORDER BY ${duckCos("qv.embedding", "cc.c_emb")} DESC,
                     cc.cid ASC) AS r
          FROM embeddings qv CROSS JOIN cc WHERE qv.vec_id IN (1, 2, 3))
        WHERE r <= 2),
      dscored AS (
        SELECT query_id, vec_id, ${duckCos("q_emb", "embedding")} AS cos
        FROM assigned JOIN probed USING (cid)
        WHERE vec_id <> query_id),
      den AS (SELECT query_id, vec_id AS id, rank FROM (
          SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
          FROM dscored) WHERE rank <= 10),
      ids AS (SELECT query_id, id FROM lex
              UNION SELECT query_id, id FROM den),
      f AS (SELECT ids.query_id, ids.id,
              COALESCE(1.0 / (60.0 + CAST(l.rank AS DOUBLE)), 0.0)
                + COALESCE(1.0 / (60.0 + CAST(d.rank AS DOUBLE)), 0.0)
                AS rrf_score,
              l.rank AS rank_a, d.rank AS rank_b
            FROM ids
            LEFT JOIN lex l ON l.query_id = ids.query_id AND l.id = ids.id
            LEFT JOIN den d ON d.query_id = ids.query_id AND d.id = ids.id)"""

  /** End-to-end hybrid retrieval over the FULL serving stack: BM25
    * postings top-10 + dense ANN top-10 probed from the PERSISTED IVF
    * index (seed centroids — the deterministic build the oracle can
    * replay), fused by RRF; see [[Similarity.hybridSearchIndexed]].
    * q251 gates the fusion on pre-cut lists; this gates the whole
    * request path, index build included. */
  private val q257 = Q("q257_hybrid_indexed",
    (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "dup key scan"), (2L, "hash join merge"),
        (3L, "stream window sort the")).toDF("query_id", "query_text")
      val emb = t(s, dir, "embeddings")
      val idx = indexDir("hyb", dir)(p =>
        Similarity.buildIvfIndex(emb, p,
          centroids = Some(emb.filter(col("vec_id") < 16)
            .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))))
      Similarity.hybridSearchIndexed(s, idx, t(s, dir, "documents"),
        "doc_id", "text", queries,
        emb.filter(col("vec_id").isin(1L, 2L, 3L)),
        k = 10, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $duckHybridCtes
      SELECT query_id, rank, id, rrf_score, rank_a, rank_b FROM (
        SELECT f.*, CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_score DESC, id ASC) AS BIGINT) AS rank FROM f)
      WHERE rank <= 10 ORDER BY query_id, rank"""))


  /** Per-source precision/recall/F1 sweep of the q248 scorer — the
    * slice fairness table beside q244's per-fold AUC; see
    * [[QualityClassifier.prCurveByGroup]]. */
  private val q258 = Q("q258_pr_by_group",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feat = QualityClassifier.features(
        docs, "doc_id", "text", col("lang") === "en", enStop)
      val w = QualityClassifier.train(feat, iters = 3, lr = 8.0)
      QualityClassifier.prCurveByGroup(
        QualityClassifier.score(feat, "doc_id", w)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "source").orderBy("source", "threshold")
    },
    Some(s"""${duckLrScoredAt("8.0")},
      th AS (SELECT CAST(i AS DOUBLE) / 10.0 AS threshold
             FROM generate_series(1, 9) t(i)),
      sg AS (SELECT s.doc_id, d.source AS g, s.p, s.y
             FROM scored_lr s JOIN documents d USING (doc_id)),
      a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
            FROM sg GROUP BY 1),
      cm AS (SELECT sg.g, th.threshold,
               CAST(SUM(CASE WHEN sg.p >= th.threshold AND sg.y = 1.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN sg.p >= th.threshold AND sg.y = 0.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS fp
             FROM th CROSS JOIN sg GROUP BY 1, 2),
      pr AS (SELECT cm.g, threshold, tp, fp, pos - tp AS fn,
               n - pos - fp AS tn,
               CASE WHEN tp + fp > 0 THEN
                 CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS p_,
               CASE WHEN pos > 0 THEN
                 CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) END AS r_
             FROM cm JOIN a USING (g))
      SELECT g AS source, threshold, tp, fp, fn, tn,
             p_ AS "precision", r_ AS recall,
             CASE WHEN p_ IS NOT NULL AND r_ IS NOT NULL
                   AND p_ + r_ > 0.0
               THEN 2.0 * p_ * r_ / (p_ + r_) END AS f1
      FROM pr ORDER BY source, threshold"""))

  /** nDCG@10 / MRR / hits@10 of the q44-configured IVF ranking
    * against the exact brute-force top-10 as binary ground truth —
    * the ranking-quality acceptance readout beside q254's set-overlap
    * recall; see [[Similarity.rankingQuality]]. */
  private val q260 = Q("q260_ranking_quality",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.rankingQuality(
        Similarity.ivfTopK(q, emb, 10, nlist = 16, nprobe = 2),
        Similarity.bruteForceTopK(q, emb, 10), k = 10)
        .orderBy("query_id")
    },
    Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS c_emb
                 FROM embeddings WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${duckCos("e.embedding", "c.c_emb")} DESC, c.cid ASC)
                   AS r
          FROM embeddings e CROSS JOIN c)
        WHERE r = 1),
      probed AS (
        SELECT query_id, q_emb, cid FROM (
          SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckCos("q.embedding", "c.c_emb")} DESC, c.cid ASC)
                   AS r
          FROM embeddings q CROSS JOIN c WHERE q.vec_id < 10)
        WHERE r <= 2),
      iscored AS (
        SELECT query_id, vec_id, ${duckCos("q_emb", "embedding")} AS cos
        FROM assigned JOIN probed USING (cid)
        WHERE vec_id <> query_id),
      ivfr AS (SELECT query_id, vec_id, rank FROM (
          SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
          FROM iscored) WHERE rank <= 10),
      qv AS (SELECT vec_id AS query_id, embedding AS q_emb
             FROM embeddings WHERE vec_id < 10),
      bcs AS (SELECT query_id, vec_id,
                ${duckCos("q_emb", "embedding")} AS cos
              FROM embeddings JOIN qv ON vec_id <> query_id),
      bt AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS rank
          FROM bcs) WHERE rank <= 10),
      mq AS (SELECT ivfr.query_id, ivfr.rank,
               CASE WHEN bt.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
             FROM ivfr LEFT JOIN bt ON bt.query_id = ivfr.query_id
               AND bt.vec_id = ivfr.vec_id),
      pq AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ranked,
               CAST(SUM(rel) AS BIGINT) AS hits,
               MIN(CASE WHEN rel = 1 THEN rank END) AS fr,
               CAST(SUM(CAST(CASE WHEN rel = 1 THEN
                   1.0 / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
                 ELSE 0.0 END AS DECIMAL(30,12))) AS DOUBLE) AS dcg
             FROM mq GROUP BY 1),
      nr AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nrel
             FROM bt GROUP BY 1),
      idl AS (SELECT query_id,
                CAST(SUM(CAST(1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0))
                  AS DECIMAL(30,12))) AS DOUBLE) AS idcg
              FROM nr CROSS JOIN generate_series(1, 10) g(i)
              WHERE i <= least(nrel, 10) GROUP BY 1)
      SELECT pq.query_id, n_ranked, hits,
             COALESCE(1.0 / CAST(fr AS DOUBLE), 0.0) AS mrr,
             dcg, idcg,
             CASE WHEN idcg > 0.0 THEN dcg / idcg END AS ndcg
      FROM pq JOIN idl USING (query_id) ORDER BY pq.query_id"""))

  /** Int8-quantized serving top-10 (FAISS-SQ8 codes, exact integer
    * dots — the ranking an int8 index actually answers with), hashed
    * directly against the DuckDB quantize+score replay; see
    * [[Similarity.int8TopK]]. */
  private val q261 = Q("q261_int8_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.int8TopK(emb.filter(col("vec_id") < 10), emb, 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH s8 AS (SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS s
           FROM embeddings),
      q8 AS (SELECT e.vec_id,
               list_transform(e.embedding, x -> CASE WHEN s > 0.0
                 THEN greatest(-127.0, least(127.0,
                   floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5)))
                 ELSE 0.0 END) AS c
             FROM embeddings e JOIN s8 ON s8.vec_id = e.vec_id),
      n8 AS (SELECT vec_id, c,
               sqrt(list_sum(list_transform(generate_series(1, 64),
                 i -> c[i] * c[i]))) AS nrm
             FROM q8),
      qv AS (SELECT vec_id AS query_id, c AS qc, nrm AS qn
             FROM n8 WHERE vec_id < 10),
      sc AS (SELECT query_id, n8.vec_id,
               list_sum(list_transform(generate_series(1, 64),
                 i -> qc[i] * n8.c[i])) / (qn * n8.nrm) AS cos_q
             FROM n8 JOIN qv ON n8.vec_id <> query_id)
      SELECT query_id, rank, vec_id, cos_q FROM (
        SELECT query_id, vec_id, cos_q,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_q DESC, vec_id ASC) AS BIGINT) AS rank
        FROM sc)
      WHERE rank <= 10 ORDER BY query_id, rank"""))

  /** b-bit minwise estimate vs exact jaccard over the band candidates
    * (Li & König WWW'10, b = 4 → 8× smaller signatures); see
    * [[Dedup.bbitJaccardEst]]. The oracle reuses the minhash/band
    * CTEs' candidate set `p` (long-truncated engine band keys and
    * md5-string oracle band keys select the same pairs — functions of
    * the same digest) and masks the shared signatures. */
  private val q262 = Q("q262_bbit_minhash",
    (s, dir) => Dedup.bbitJaccardEst(t(s, dir, "documents"),
      "doc_id", "text").orderBy("id_a", "id_b"),
    Some(s"""$duckMinhashCtes,$duckBandCte
      SELECT id_a, id_b, n_agree,
             (CAST(n_agree AS DOUBLE) / 12.0 - 1.0 / 16.0)
               / (1.0 - 1.0 / 16.0) AS j_bbit_est,
             jaccard
      FROM (
        SELECT p.id_a, p.id_b,
               CAST(len(list_filter(generate_series(1, 12), i ->
                 sa.sig[i] % 16 = sb.sig[i] % 16)) AS BIGINT) AS n_agree,
               len(list_intersect(da.sh, db.sh)) * 1.0
                 / (len(da.sh) + len(db.sh)
                    - len(list_intersect(da.sh, db.sh))) AS jaccard
        FROM p JOIN s sa ON sa.doc_id = p.id_a
               JOIN s sb ON sb.doc_id = p.id_b
               JOIN d da ON da.doc_id = p.id_a
               JOIN d db ON db.doc_id = p.id_b)
      ORDER BY id_a, id_b"""))

  /** Rank-biased overlap @10 (p = 0.9) of the q44 IVF ranking vs the
    * exact brute-force ranking — the order-aware index-swap readout
    * beside q260's truth-anchored nDCG; see
    * [[Similarity.rankBiasedOverlap]]. */
  private val q263 = Q("q263_rbo",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.rankBiasedOverlap(
        Similarity.ivfTopK(q, emb, 10, nlist = 16, nprobe = 2),
        Similarity.bruteForceTopK(q, emb, 10), k = 10, p = 0.9)
        .orderBy("query_id")
    },
    Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS c_emb
                 FROM embeddings WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${duckCos("e.embedding", "c.c_emb")} DESC, c.cid ASC)
                   AS r
          FROM embeddings e CROSS JOIN c)
        WHERE r = 1),
      probed AS (
        SELECT query_id, q_emb, cid FROM (
          SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckCos("q.embedding", "c.c_emb")} DESC, c.cid ASC)
                   AS r
          FROM embeddings q CROSS JOIN c WHERE q.vec_id < 10)
        WHERE r <= 2),
      iscored AS (
        SELECT query_id, vec_id, ${duckCos("q_emb", "embedding")} AS cos
        FROM assigned JOIN probed USING (cid)
        WHERE vec_id <> query_id),
      ivfr AS (SELECT query_id, vec_id, rank FROM (
          SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
          FROM iscored) WHERE rank <= 10),
      qv AS (SELECT vec_id AS query_id, embedding AS q_emb
             FROM embeddings WHERE vec_id < 10),
      bcs AS (SELECT query_id, vec_id,
                ${duckCos("q_emb", "embedding")} AS cos
              FROM embeddings JOIN qv ON vec_id <> query_id),
      btr AS (SELECT query_id, vec_id, rank FROM (
          SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rank
          FROM bcs) WHERE rank <= 10),
      m AS (SELECT a.query_id, greatest(a.rank, b.rank) AS d0
            FROM ivfr a JOIN btr b
              ON a.query_id = b.query_id AND a.vec_id = b.vec_id),
      ct AS (SELECT query_id,
               CAST(pow(0.9, CAST(d AS DOUBLE) - 1.0)
                 / CAST(d AS DOUBLE) AS DECIMAL(30,12)) AS term
             FROM m JOIN generate_series(1, 10) g(d) ON d >= d0),
      rq AS (SELECT query_id,
               CAST(SUM(term) AS DOUBLE) * (1.0 - 0.9) AS rbo
             FROM ct GROUP BY 1),
      hit AS (SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
              FROM ivfr a JOIN btr b
                ON a.query_id = b.query_id AND a.vec_id = b.vec_id
              GROUP BY 1),
      uq AS (SELECT DISTINCT query_id FROM ivfr)
      SELECT uq.query_id,
             CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
             COALESCE(rbo, 0.0) AS rbo
      FROM uq LEFT JOIN rq USING (query_id) LEFT JOIN hit USING (query_id)
      ORDER BY uq.query_id"""))

  /** Incremental simhash dedup: the doc_id % 4 == 0 slice arrives as
    * a batch against the stored fingerprint index of the rest; pairs
    * must equal the FULL q252 run restricted to batch-involving pairs
    * (blocking is per-pair local, so incremental loses nothing); see
    * [[Dedup.incrementalSimhashPairs]]. */
  private val q264 = Q("q264_incr_simhash",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalSimhashPairs(
        Dedup.simhashTable(docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text"),
        Dedup.simhashTable(docs.filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text"),
        maxHamming = 3).orderBy("id_a", "id_b")
    },
    Some("""
      WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents),
      tok AS (SELECT doc_id, unnest(t) AS token FROM arr),
      nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM arr),
      bits AS (SELECT doc_id, j,
          ((strpos('0123456789abcdef',
              substring(md5(token), (j // 4) + 1, 1)) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2 AS bit
        FROM tok CROSS JOIN generate_series(0, 59) g(j)),
      votes AS (SELECT doc_id, j, CAST(SUM(bit) AS BIGINT) AS v
                FROM bits GROUP BY 1, 2),
      sh AS (SELECT v.doc_id,
          CAST(SUM(CASE WHEN 2 * v.v >= nn.n
            THEN CAST(pow(2, v.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        FROM votes v JOIN nn ON v.doc_id = nn.doc_id GROUP BY 1),
      blocks AS (SELECT doc_id, sh, i AS blk,
          (sh // CAST(pow(2, 15 * i) AS BIGINT)) % 32768 AS bval
        FROM sh CROSS JOIN generate_series(0, 3) b(i)),
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                 x.sh AS sa, y.sh AS sb
               FROM blocks x JOIN blocks y
                 ON x.blk = y.blk AND x.bval = y.bval
                   AND x.doc_id < y.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
      FROM cand
      WHERE bit_count(xor(sa, sb)) <= 3
        AND (id_a % 4 = 0 OR id_b % 4 = 0)
      ORDER BY id_a, id_b"""))

  /** l-diversity release screen over (source → lang): group size,
    * distinct sensitive values, sensitive-distribution entropy —
    * flagging sources whose language mix is too uniform to share;
    * see [[Corpus.lDiversity]]. */
  private val q265 = Q("q265_l_diversity",
    (s, dir) => Corpus.lDiversity(t(s, dir, "documents"),
      Seq("source"), "lang", l = 4L),
    Some("""
      WITH cell AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2),
      g AS (SELECT source, lang, c,
              CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
            FROM cell)
      SELECT source,
             CAST(MAX(n) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_sensitive,
             CAST(SUM(CAST(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               AS DECIMAL(30,12))) AS DOUBLE) AS entropy_nats,
             COUNT(*) < 4 AS at_risk
      FROM g GROUP BY source
      ORDER BY n_sensitive ASC, n_docs ASC, source ASC"""))

  /** t-closeness release screen over (source → lang): per-source TVD
    * of the language distribution vs the corpus-global one, flagging
    * sources whose sensitive mix drifts > t from the population; see
    * [[Corpus.tCloseness]]. */
  private val q266 = Q("q266_t_closeness",
    (s, dir) => Corpus.tCloseness(t(s, dir, "documents"),
      Seq("source"), "lang", t = 0.2),
    Some("""
      WITH cell AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2),
      g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cell GROUP BY 1),
      v AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cv FROM cell GROUP BY 1),
      tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS tot FROM v),
      j AS (SELECT g.source, g.n,
              CAST(COALESCE(cell.c, 0) AS DOUBLE) / CAST(g.n AS DOUBLE) AS pg,
              CAST(v.cv AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS pv
            FROM g CROSS JOIN v CROSS JOIN tot
            LEFT JOIN cell ON cell.source = g.source AND cell.lang = v.lang),
      agg AS (SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
                CAST(SUM(CAST(abs(pg - pv) AS DECIMAL(30,12))) AS DOUBLE)
                  / 2.0 AS tvd
              FROM j GROUP BY source)
      SELECT source, n_docs, tvd, tvd > 0.2 AS at_risk
      FROM agg ORDER BY tvd DESC, source ASC"""))

  /** Benford first-digit conformity of l_extendedprice (scale 2 —
    * currency cents): per-digit observed vs log10(1+1/d) expectation
    * with χ² and Nigrini MAD; see [[graft.llm.Stats.benfordTest]]. */
  private val q267 = Q("q267_benford",
    (s, dir) => graft.llm.Stats.benfordTest(t(s, dir, "lineitem"),
      "l_extendedprice", scale = 2),
    Some("""
      WITH v AS (
        SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5)
          AS BIGINT) AS v
        FROM lineitem),
      dg AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
               AS digit
             FROM v WHERE v >= 1),
      o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM dg GROUP BY 1),
      fd AS (SELECT CAST(g.d AS INTEGER) AS digit,
               COALESCE(n_obs, 0) AS n_obs
             FROM generate_series(1, 9) g(d)
             LEFT JOIN o ON o.digit = g.d),
      tt AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM fd),
      sc AS (SELECT digit, n_obs,
               CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) AS p_obs,
               ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS p_benford,
               n
             FROM fd CROSS JOIN tt),
      sm AS (SELECT
               CAST(SUM(CAST(
                 (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p_benford)
                 * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p_benford)
                 / (CAST(n AS DOUBLE) * p_benford)
                 AS DECIMAL(30,12))) AS DOUBLE) AS chi2,
               CAST(SUM(CAST(abs(p_obs - p_benford)
                 AS DECIMAL(30,12))) AS DOUBLE) / 9.0 AS mad
             FROM sc)
      SELECT digit, n_obs, p_obs, p_benford, chi2, mad
      FROM sc CROSS JOIN sm
      ORDER BY digit"""))

  /** EWMA control chart on daily event volume — the smoothed-drift
    * companion to q247's CUSUM, closed-form (no recursion); see
    * [[graft.ops.EventOps.ewmaChart]]. */
  private val q268 = Q("q268_ewma_chart",
    (s, dir) => graft.ops.EventOps.ewmaChart(t(s, dir, "events"),
      lambda = 0.2, nSigma = 3.0, maxLag = 64)
      .orderBy("event_type", "day"),
    Some("""
      WITH counts AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
            FROM counts GROUP BY 1),
      spine AS (SELECT event_type, d0, CAST(unnest(generate_series(d0, d1,
                  INTERVAL 1 DAY)) AS DATE) AS day FROM b),
      daily AS (SELECT s.event_type, s.day,
                  CAST(date_diff('day', s.d0, s.day) + 1 AS BIGINT) AS t,
                  COALESCE(c.n, 0) AS n_events
                FROM spine s LEFT JOIN counts c USING (event_type, day)),
      mom AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
                CAST(SUM(n_events) AS BIGINT) AS s1,
                SUM(CAST(n_events AS HUGEINT) * n_events) AS s2
              FROM daily GROUP BY 1),
      ws AS (SELECT a.event_type, a.day, a.t, a.n_events,
               CAST(SUM(CAST(0.2 * CAST(i.n_events AS DOUBLE)
                 * pow(1.0 - 0.2, CAST(a.t - i.t AS DOUBLE))
                 AS DECIMAL(30,12))) AS DOUBLE) AS wsum
             FROM daily a JOIN daily i ON i.event_type = a.event_type
               AND i.t <= a.t AND i.t > a.t - 64
             GROUP BY 1, 2, 3, 4),
      fin AS (SELECT w.event_type, w.day, w.n_events,
                w.wsum + (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))
                  * pow(1.0 - 0.2, CAST(least(w.t, 64) AS DOUBLE)) AS ewma,
                CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE) AS mu,
                CASE WHEN nd >= 2 AND greatest((CAST(s2 AS DOUBLE)
                    - CAST(nd AS DOUBLE)
                      * (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE)))
                    / (CAST(nd AS DOUBLE) - 1.0), 0.0) > 0.0
                THEN 3.0 * sqrt(greatest((CAST(s2 AS DOUBLE)
                    - CAST(nd AS DOUBLE)
                      * (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE)))
                    / (CAST(nd AS DOUBLE) - 1.0), 0.0))
                  * sqrt((0.2 / (2.0 - 0.2))
                    * (1.0 - pow(1.0 - 0.2, 2.0 * CAST(w.t AS DOUBLE))))
                END AS hw
              FROM ws w JOIN mom USING (event_type))
      SELECT event_type, day, n_events, ewma,
             mu + hw AS ucl, mu - hw AS lcl,
             COALESCE(ewma > mu + hw OR ewma < mu - hw, FALSE) AS alarm
      FROM fin ORDER BY event_type, day"""))

  /** One greedy-MMR oracle step: pick t's max-marginal candidate
    * against the cumulative selected set `prev`, then extend it. */
  private def duckMmrStep(t: Int, prev: String): String = s"""
      m$t AS (SELECT pr.query_id, pr.va AS vec_id, MAX(pr.sim) AS ms
              FROM pr JOIN $prev s ON s.query_id = pr.query_id
                AND s.vec_id = pr.vb
              GROUP BY 1, 2),
      c$t AS (SELECT p.query_id, p.vec_id, p.rel,
                0.7 * p.rel - (1.0 - 0.7) * m$t.ms AS mmr_score
              FROM pool p JOIN m$t USING (query_id, vec_id)
              WHERE NOT EXISTS (SELECT 1 FROM $prev s
                WHERE s.query_id = p.query_id AND s.vec_id = p.vec_id)),
      s$t AS (SELECT query_id, vec_id, rel, CAST($t AS BIGINT) AS mmr_rank,
                mmr_score
              FROM (SELECT query_id, vec_id, rel, mmr_score,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY mmr_score DESC, vec_id ASC) AS r FROM c$t)
              WHERE r = 1),
      sel$t AS (SELECT * FROM $prev UNION ALL SELECT * FROM s$t)"""

  /** Maximal-marginal-relevance diversity re-ranking of the brute
    * top-8 pool per query (k = 4, λ = 0.7) — the de-duplicating
    * re-ranker beside q251's RRF fusion; the oracle replays the
    * greedy recursion as unrolled CTE steps; see
    * [[Similarity.mmrRerank]]. */
  private val q269 = Q("q269_mmr_rerank",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrRerank(emb.filter(col("vec_id") < 8), emb,
        k = 4, poolSize = 8, lambdaRel = 0.7)
        .orderBy("query_id", "mmr_rank")
    },
    Some(s"""
      WITH qv AS (SELECT vec_id AS query_id, embedding AS q_emb
                  FROM embeddings WHERE vec_id < 8),
      sc AS (SELECT query_id, e.vec_id,
               ${duckCos("q_emb", "e.embedding")} AS cos
             FROM embeddings e JOIN qv ON e.vec_id <> query_id),
      pool AS (SELECT query_id, vec_id, cos AS rel FROM (
          SELECT query_id, vec_id, cos, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS r
          FROM sc) WHERE r <= 8),
      pe AS (SELECT p.query_id, p.vec_id, p.rel, e.embedding
             FROM pool p JOIN embeddings e USING (vec_id)),
      pr AS (SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
               ${duckCos("a.embedding", "b.embedding")} AS sim
             FROM pe a JOIN pe b ON a.query_id = b.query_id
               AND a.vec_id <> b.vec_id),
      s1 AS (SELECT query_id, vec_id, rel, CAST(1 AS BIGINT) AS mmr_rank,
               0.7 * rel AS mmr_score
             FROM (SELECT query_id, vec_id, rel, row_number() OVER (
                 PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS r
               FROM pool) WHERE r = 1),
      ${duckMmrStep(2, "s1")},
      ${duckMmrStep(3, "sel2")},
      ${duckMmrStep(4, "sel3")}
      SELECT query_id, vec_id, rel, mmr_rank, mmr_score
      FROM sel4 ORDER BY query_id, mmr_rank"""))

  /** One unrolled PageRank oracle iteration: dangling mass, src-keyed
    * contributions, and the damped update over the node spine. */
  private def duckPrIter(i: Int): String = {
    val p = s"r${i - 1}"
    s"""
      d$i AS (SELECT COALESCE(CAST(SUM(CAST(rank AS DECIMAL(30,12)))
                AS DOUBLE), 0.0) AS dang
              FROM $p WHERE node NOT IN (SELECT src FROM e)),
      c$i AS (SELECT e.dst, CAST(SUM(CAST(r.rank * e.w / ow.ow
                AS DECIMAL(30,12))) AS DOUBLE) AS s
              FROM e JOIN $p r ON r.node = e.src
                JOIN ow ON ow.src = e.src
              GROUP BY 1),
      r$i AS MATERIALIZED (SELECT nd.node,
                (1.0 - 0.85) / CAST(nn.n AS DOUBLE)
                + 0.85 * (COALESCE(c$i.s, 0.0)
                  + d$i.dang / CAST(nn.n AS DOUBLE)) AS rank
              FROM nodes nd CROSS JOIN nn CROSS JOIN d$i
              LEFT JOIN c$i ON c$i.dst = nd.node)"""
  }

  /** Weighted PageRank (3 damped iterations) over the nation-level
    * trade graph — customer nation → supplier nation, edge weight =
    * lineitem count; see [[graft.operators.GraphOps.pageRank]]. */
  private val q270 = Q("q270_pagerank",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .select(c("c_nationkey").as("src"), su("s_nationkey").as("dst"))
      graft.operators.GraphOps.pageRank(edges, "src", "dst",
        iters = 3, damping = 0.85)
    },
    Some(s"""
      WITH e AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   CAST(COUNT(*) AS DOUBLE) AS w
                 FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 JOIN customer c ON o.o_custkey = c.c_custkey
                 JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 GROUP BY 1, 2),
      nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      ow AS (SELECT src, CAST(SUM(CAST(w AS DECIMAL(30,12))) AS DOUBLE)
               AS ow
             FROM e GROUP BY 1),
      r0 AS MATERIALIZED (SELECT node, 1.0 / CAST(n AS DOUBLE) AS rank
             FROM nodes CROSS JOIN nn),
      ${duckPrIter(1)},
      ${duckPrIter(2)},
      ${duckPrIter(3)}
      SELECT node, rank FROM r3 ORDER BY rank DESC, node ASC"""))

  /** Hard + random negative mining for contrastive pairs: anchors =
    * vec_id < 6 with their exact nearest neighbor as the positive;
    * 4 hard (top-cosine non-positive) + 3 md5-deterministic random
    * negatives per anchor, channels disjoint; see
    * [[Similarity.hardNegatives]]. */
  private val q271 = Q("q271_hard_negatives",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pos = Similarity
        .bruteForceTopK(emb.filter(col("vec_id") < 6), emb, 1)
        .select(col("query_id"), col("vec_id").as("pos_id"))
      Similarity.hardNegatives(pos, emb, kHard = 4, kRandom = 3)
        .orderBy("query_id", "kind", "neg_rank")
    },
    Some(s"""
      WITH qv AS (SELECT vec_id AS query_id, embedding AS q_emb
                  FROM embeddings WHERE vec_id < 6),
      sc0 AS (SELECT query_id, e.vec_id,
                ${duckCos("q_emb", "e.embedding")} AS cos
              FROM embeddings e JOIN qv ON e.vec_id <> query_id),
      pos AS (SELECT query_id, vec_id AS pos_id FROM (
          SELECT query_id, vec_id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS r
          FROM sc0) WHERE r = 1),
      sc AS (SELECT s.query_id, s.vec_id, s.cos
             FROM sc0 s WHERE NOT EXISTS (SELECT 1 FROM pos p
               WHERE p.query_id = s.query_id AND p.pos_id = s.vec_id)),
      hard AS (SELECT query_id, vec_id AS neg_id, cos, 'hard' AS kind,
                 CAST(r AS BIGINT) AS neg_rank
               FROM (SELECT query_id, vec_id, cos, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS r
                 FROM sc) WHERE r <= 4),
      rnd AS (SELECT query_id, vec_id AS neg_id, cos, 'random' AS kind,
                CAST(r AS BIGINT) AS neg_rank
              FROM (SELECT s.query_id, s.vec_id, s.cos,
                  row_number() OVER (PARTITION BY s.query_id ORDER BY
                    md5(CAST(s.query_id AS VARCHAR) || ':' ||
                        CAST(s.vec_id AS VARCHAR)) ASC,
                    s.vec_id ASC) AS r
                FROM sc s WHERE NOT EXISTS (SELECT 1 FROM hard h
                  WHERE h.query_id = s.query_id AND h.neg_id = s.vec_id))
              WHERE r <= 3)
      SELECT query_id, neg_id, cos, kind, neg_rank FROM hard
      UNION ALL
      SELECT query_id, neg_id, cos, kind, neg_rank FROM rnd
      ORDER BY query_id, kind, neg_rank"""))

  /** Jaro-Winkler similarity over all corpus-vocabulary pairs — the
    * record-linkage comparator as a native codegen kernel, gated at
    * FULL double precision against DuckDB's NATIVE
    * jaro_winkler_similarity (byte-semantics parity, not a replayed
    * formula); vocabulary-bounded pair frame; see
    * [[graft.functions.JaroWinkler]]. */
  private val q272 = Q("q272_jaro_winkler",
    (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .distinct()
      val pairs = vocab.select(col("tok").as("tok_a"))
        .crossJoin(vocab.select(col("tok").as("tok_b")))
        .filter(col("tok_a") < col("tok_b"))
      pairs.select(col("tok_a"), col("tok_b"),
        graft.functions.JaroWinkler.column(col("tok_a"),
          col("tok_b")).as("jw"))
        .filter(col("jw") > 0.5)
        .orderBy("tok_a", "tok_b")
    },
    Some("""
      WITH v AS (SELECT DISTINCT unnest(
          regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      p AS (SELECT a.tok AS tok_a, b.tok AS tok_b
            FROM v a JOIN v b ON a.tok < b.tok)
      SELECT tok_a, tok_b,
             jaro_winkler_similarity(tok_a, tok_b) AS jw
      FROM p WHERE jaro_winkler_similarity(tok_a, tok_b) > 0.5
      ORDER BY tok_a, tok_b"""))

  /** One unrolled HITS oracle iteration: authority half-step from
    * hubs, L1-normalize, hub half-step from the fresh authorities,
    * L1-normalize; zero-sum sides keep the previous scores. */
  private def duckHitsIter(i: Int): String = {
    val p = s"s${i - 1}"
    s"""
      ar$i AS (SELECT e.dst, CAST(SUM(CAST(s.hub * e.w
                 AS DECIMAL(30,12))) AS DOUBLE) AS a
               FROM e JOIN $p s ON s.node = e.src GROUP BY 1),
      ax$i AS (SELECT COALESCE(CAST(SUM(CAST(a AS DECIMAL(30,12)))
                 AS DOUBLE), 0.0) AS asum FROM ar$i),
      wa$i AS MATERIALIZED (SELECT nd.node,
                 CASE WHEN asum > 0.0
                   THEN COALESCE(ar$i.a, 0.0) / asum
                   ELSE p.auth END AS auth
               FROM nodes nd CROSS JOIN ax$i
               LEFT JOIN ar$i ON ar$i.dst = nd.node
               JOIN $p p ON p.node = nd.node),
      hr$i AS (SELECT e.src, CAST(SUM(CAST(w2.auth * e.w
                 AS DECIMAL(30,12))) AS DOUBLE) AS h
               FROM e JOIN wa$i w2 ON w2.node = e.dst GROUP BY 1),
      hx$i AS (SELECT COALESCE(CAST(SUM(CAST(h AS DECIMAL(30,12)))
                 AS DOUBLE), 0.0) AS hsum FROM hr$i),
      s$i AS MATERIALIZED (SELECT nd.node,
                CASE WHEN hsum > 0.0
                  THEN COALESCE(hr$i.h, 0.0) / hsum
                  ELSE p.hub END AS hub,
                w2.auth
              FROM nodes nd CROSS JOIN hx$i
              LEFT JOIN hr$i ON hr$i.src = nd.node
              JOIN $p p ON p.node = nd.node
              JOIN wa$i w2 ON w2.node = nd.node)"""
  }

  /** HITS hubs & authorities (3 L1-normalized iterations) over the
    * nation-level trade graph — buyer nations score as hubs,
    * supplier nations as authorities; see
    * [[graft.operators.GraphOps.hits]]. */
  private val q273 = Q("q273_hits",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .select(c("c_nationkey").as("src"), su("s_nationkey").as("dst"))
      graft.operators.GraphOps.hits(edges, "src", "dst", iters = 3)
    },
    Some(s"""
      WITH e AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   CAST(COUNT(*) AS DOUBLE) AS w
                 FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 JOIN customer c ON o.o_custkey = c.c_custkey
                 JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 GROUP BY 1, 2),
      nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      s0 AS MATERIALIZED (SELECT node, 1.0 / CAST(n AS DOUBLE) AS hub,
               1.0 / CAST(n AS DOUBLE) AS auth
             FROM nodes CROSS JOIN nn),
      ${duckHitsIter(1)},
      ${duckHitsIter(2)},
      ${duckHitsIter(3)}
      SELECT node, hub, auth FROM s3 ORDER BY auth DESC, node ASC"""))

  /** Incremental sorted-neighborhood dedup: the doc_id % 4 == 0 slice
    * arrives as a batch against the stored sort-key table of the
    * rest; pairs must equal the FULL q231 run restricted to
    * batch-involving pairs (the union key order IS the full-run
    * order) — completing the online path for all three blockers; see
    * [[Dedup.incrementalSortedNeighborPairs]]. */
  private val q274 = Q("q274_incr_sorted_neighbors",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalSortedNeighborPairs(
        Dedup.sortKeyTable(docs.filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text"),
        Dedup.sortKeyTable(docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text"),
        window = 4, threshold = 0.5).orderBy("id_a", "id_b")
    },
    Some("""
      WITH s AS (
        SELECT doc_id, text,
               CAST(list_sum(list_transform(generate_series(0, 15), j ->
                 CASE WHEN 2 * len(list_filter(toks, t ->
                        strpos('89abcdef', substring(md5(t), j + 1, 1)) > 0))
                      >= len(toks)
                      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)
                 AS sh
        FROM (SELECT doc_id, text,
                regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents)),
      r AS (SELECT doc_id, row_number() OVER (ORDER BY sh, doc_id) AS gr
            FROM s),
      dst AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(length(text) - 4, 1)),
                i -> ('0x' || substr(md5(substring(text, i, 5)), 1, 15))::BIGINT))
                AS shs
              FROM documents),
      c AS (SELECT a.doc_id AS ia, b.doc_id AS ib
            FROM r a JOIN r b ON b.gr > a.gr AND b.gr <= a.gr + 3
            WHERE a.doc_id % 4 = 0 OR b.doc_id % 4 = 0),
      j AS (SELECT ia, ib,
              CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
                / CAST(len(da.shs) + len(db.shs)
                       - len(list_intersect(da.shs, db.shs)) AS DOUBLE)
                AS jaccard
            FROM c JOIN dst da ON da.doc_id = ia
                   JOIN dst db ON db.doc_id = ib)
      SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b, jaccard
      FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""))

  /** One unrolled personalized-PageRank oracle iteration: dangling
    * mass restarts into the teleport column on the node spine. */
  private def duckPprIter(i: Int): String = {
    val p = s"r${i - 1}"
    s"""
      d$i AS (SELECT COALESCE(CAST(SUM(CAST(rank AS DECIMAL(30,12)))
                AS DOUBLE), 0.0) AS dang
              FROM $p WHERE node NOT IN (SELECT src FROM e)),
      c$i AS (SELECT e.dst, CAST(SUM(CAST(r.rank * e.w / ow.ow
                AS DECIMAL(30,12))) AS DOUBLE) AS s
              FROM e JOIN $p r ON r.node = e.src
                JOIN ow ON ow.src = e.src
              GROUP BY 1),
      r$i AS MATERIALIZED (SELECT nd.node, nd.t,
                (1.0 - 0.85) * nd.t
                + 0.85 * (COALESCE(c$i.s, 0.0) + d$i.dang * nd.t) AS rank
              FROM nodest nd CROSS JOIN d$i
              LEFT JOIN c$i ON c$i.dst = nd.node)"""
  }

  /** Personalized PageRank from the region-0 nations over the trade
    * graph — random walk with restart into the seed set, the
    * "related entities" proximity readout; see
    * [[graft.operators.GraphOps.personalizedPageRank]]. */
  private val q275 = Q("q275_ppr",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .select(c("c_nationkey").as("src"), su("s_nationkey").as("dst"))
      val seeds = t(s, dir, "nation")
        .filter(col("n_regionkey") === 0L)
        .select(col("n_nationkey"))
      graft.operators.GraphOps.personalizedPageRank(edges, "src", "dst",
        seeds, "n_nationkey", iters = 3, damping = 0.85)
    },
    Some(s"""
      WITH e AS MATERIALIZED (SELECT c.c_nationkey AS src,
                   s.s_nationkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
                 FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 JOIN customer c ON o.o_custkey = c.c_custkey
                 JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 GROUP BY 1, 2),
      nodes AS MATERIALIZED (SELECT src AS node FROM e
                             UNION SELECT dst FROM e),
      ow AS (SELECT src, CAST(SUM(CAST(w AS DECIMAL(30,12))) AS DOUBLE)
               AS ow
             FROM e GROUP BY 1),
      sd AS (SELECT DISTINCT n_nationkey AS node FROM nation
             WHERE n_regionkey = 0),
      sg AS (SELECT node FROM sd JOIN nodes USING (node)),
      ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM sg),
      nodest AS MATERIALIZED (SELECT n.node,
                 CASE WHEN s.node IS NOT NULL
                   THEN 1.0 / CAST(ns.ns AS DOUBLE) ELSE 0.0 END AS t
               FROM nodes n CROSS JOIN ns
               LEFT JOIN sg s ON s.node = n.node),
      r0 AS MATERIALIZED (SELECT node, t, t AS rank FROM nodest),
      ${duckPprIter(1)},
      ${duckPprIter(2)},
      ${duckPprIter(3)}
      SELECT node, rank FROM r3 ORDER BY rank DESC, node ASC"""))

  /** Two-proportion A/B test on user-day purchase conversion, variants
    * assigned by the deterministic user-id hash split; Wilson CIs +
    * pooled z; see [[graft.llm.Stats.abTest]]. */
  private val q276 = Q("q276_ab_test",
    (s, dir) => {
      val units = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max((col("event_type") === "purchase").cast("int"))
          .as("converted"))
        .select(when(Corpus.hashBucket(col("user_id")) < 50, lit("A"))
          .otherwise(lit("B")).as("variant"), col("converted"))
      graft.llm.Stats.abTest(units, "variant", "converted")
    },
    Some("""
      WITH ud AS (SELECT user_id, CAST(ts AS DATE) AS day,
              MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS conv
            FROM events GROUP BY 1, 2),
      units AS (SELECT CASE WHEN ('0x' || substring(
                    md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 100
                  < 50 THEN 'A' ELSE 'B' END AS grp, conv
                FROM ud),
      g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(conv) AS BIGINT) AS x
            FROM units GROUP BY 1),
      o AS (SELECT grp, n, x, row_number() OVER (ORDER BY grp) AS rn
            FROM g),
      f AS (SELECT CAST(MAX(CASE WHEN rn = 1 THEN n END) AS DOUBLE) AS n1,
              CAST(MAX(CASE WHEN rn = 1 THEN x END) AS DOUBLE) AS x1,
              CAST(MAX(CASE WHEN rn = 2 THEN n END) AS DOUBLE) AS n2,
              CAST(MAX(CASE WHEN rn = 2 THEN x END) AS DOUBLE) AS x2
            FROM o),
      zz AS (SELECT CASE WHEN se > 0.0
               THEN (x1 / n1 - x2 / n2) / se END AS z
             FROM (SELECT n1, x1, n2, x2,
                     sqrt(((x1 + x2) / (n1 + n2))
                       * (1.0 - (x1 + x2) / (n1 + n2))
                       * (1.0 / n1 + 1.0 / n2)) AS se
                   FROM f)),
      w AS (SELECT grp, n, x,
              CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
              (1.96 * 1.96) / CAST(n AS DOUBLE) AS z2n
            FROM g)
      SELECT grp, n, x AS successes, rate,
             (rate + z2n / 2.0) / (1.0 + z2n)
               - (1.96 * sqrt(rate * (1.0 - rate) / CAST(n AS DOUBLE)
                   + z2n / (4.0 * CAST(n AS DOUBLE)))) / (1.0 + z2n)
               AS ci_lo,
             (rate + z2n / 2.0) / (1.0 + z2n)
               + (1.96 * sqrt(rate * (1.0 - rate) / CAST(n AS DOUBLE)
                   + z2n / (4.0 * CAST(n AS DOUBLE)))) / (1.0 + z2n)
               AS ci_hi,
             z, COALESCE(abs(z) > 1.96, FALSE) AS significant
      FROM w CROSS JOIN zz ORDER BY grp"""))

  /** Kaplan-Meier survival over user lifetimes (7-day quiet window =
    * censored); see [[graft.ops.EventOps.kaplanMeier]]. */
  private val q277 = Q("q277_kaplan_meier",
    (s, dir) => graft.ops.EventOps.kaplanMeier(t(s, dir, "events")),
    Some("""
      WITH pu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
              MAX(CAST(ts AS DATE)) AS l
            FROM events GROUP BY 1),
      mx AS (SELECT MAX(l) AS maxd FROM pu),
      u AS (SELECT CAST(date_diff('day', f, l) + 1 AS BIGINT) AS t_days,
              date_diff('day', l, maxd) >= 7 AS churn
            FROM pu CROSS JOIN mx),
      bt AS (SELECT t_days, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CASE WHEN churn THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_churned,
               CAST(SUM(CASE WHEN churn THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_censored
             FROM u GROUP BY 1),
      tot AS (SELECT CAST(SUM(m) AS BIGINT) AS nn FROM bt),
      st AS (SELECT t_days, n_churned, n_censored,
               CAST(nn - COALESCE(SUM(m) OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_risk
             FROM bt CROSS JOIN tot),
      fc AS (SELECT *, 1.0 - CAST(n_churned AS DOUBLE)
               / CAST(n_risk AS DOUBLE) AS factor
             FROM st),
      fin AS (SELECT t_days, n_risk, n_churned, n_censored,
                MAX(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END) OVER w
                  AS anyzero,
                CAST(SUM(CAST(CASE WHEN factor > 0.0 THEN ln(factor)
                  ELSE 0.0 END AS DECIMAL(30,12))) OVER w AS DOUBLE)
                  AS sumln
              FROM fc WINDOW w AS (ORDER BY t_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT t_days, n_risk, n_churned, n_censored,
             CASE WHEN anyzero = 1 THEN 0.0 ELSE exp(sumln) END
               AS survival
      FROM fin ORDER BY t_days"""))

  /** EXACT set-similarity self-join at Jaccard ≥ 0.5 over 5-char
    * shingle sets — the oracle is the BRUTE-FORCE cross product, so
    * the hash match proves the join loses no true pair. The documents
    * corpus is low-diversity, so the cost gate evaluates its pairs
    * directly in a nested-loop join instead of running the prefix
    * join; see [[Dedup.setSimJoinPairs]]. */
  private val q278 = Q("q278_set_sim_join",
    (s, dir) => Dedup.setSimJoinPairs(t(s, dir, "documents"),
      "doc_id", "text", threshold = 0.5).orderBy("id_a", "id_b"),
    Some("""
      WITH dst AS (SELECT doc_id, list_distinct(list_transform(
              generate_series(1, greatest(length(text) - 4, 1)),
              i -> ('0x' || substr(md5(substring(text, i, 5)), 1, 15))::BIGINT))
              AS shs
            FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                / CAST(len(a.shs) + len(b.shs)
                       - len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                AS jaccard
            FROM dst a JOIN dst b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, jaccard FROM p
      WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""))

  /** CUPED adjustment of per-user spend (pre-period = first half of
    * the event span, metric = second half), variants by user-id hash;
    * pooled theta, realized variance reduction; see
    * [[graft.llm.Stats.cuped]]. */
  private val q279 = Q("q279_cuped",
    (s, dir) => {
      val units = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(to_date(col("ts")) < lit("2024-01-16").cast("date"),
            col("value")).otherwise(lit(0.0)).cast(DecimalType(30, 2)))
            .cast("double").as("pre"),
          sum(when(to_date(col("ts")) >= lit("2024-01-16").cast("date"),
            col("value")).otherwise(lit(0.0)).cast(DecimalType(30, 2)))
            .cast("double").as("metric"))
        .select(when(Corpus.hashBucket(col("user_id")) < 50, lit("A"))
          .otherwise(lit("B")).as("variant"),
          col("pre"), col("metric"))
      graft.llm.Stats.cuped(units, "variant", "pre", "metric")
    },
    Some("""
      WITH u AS (SELECT user_id,
          CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
            THEN value ELSE 0.0 END AS DECIMAL(30,2))) AS DOUBLE) AS pre,
          CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
            THEN value ELSE 0.0 END AS DECIMAL(30,2))) AS DOUBLE)
            AS metric
        FROM events GROUP BY 1),
      units AS (SELECT CASE WHEN ('0x' || substring(
                    md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 100
                  < 50 THEN 'A' ELSE 'B' END AS grp, pre, metric
                FROM u),
      mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(pre AS DECIMAL(30,6))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(metric AS DECIMAL(30,6))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(pre * metric AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(pre * pre AS DECIMAL(30,6))) AS DOUBLE) AS sxx
        FROM units),
      th AS (SELECT n, sx / CAST(n AS DOUBLE) AS xbar,
          CASE WHEN n >= 2 AND (sxx - CAST(n AS DOUBLE)
                * (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))
                > 0.0
            THEN (sxy - CAST(n AS DOUBLE) * (sx / CAST(n AS DOUBLE))
                   * (sy / CAST(n AS DOUBLE)))
               / (sxx - CAST(n AS DOUBLE) * (sx / CAST(n AS DOUBLE))
                   * (sx / CAST(n AS DOUBLE)))
            END AS theta
        FROM mom),
      adj AS (SELECT grp, pre, metric,
          CASE WHEN theta IS NOT NULL
            THEN metric - theta * (pre - xbar) ELSE metric END AS a
        FROM units CROSS JOIN th),
      pv AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
          CAST(SUM(CAST(metric AS DECIMAL(30,6))) AS DOUBLE) AS py,
          CAST(SUM(CAST(metric * metric AS DECIMAL(30,6))) AS DOUBLE)
            AS pyy,
          CAST(SUM(CAST(a AS DECIMAL(30,6))) AS DOUBLE) AS pa,
          CAST(SUM(CAST(a * a AS DECIMAL(30,6))) AS DOUBLE) AS paa
        FROM adj),
      vr AS (SELECT CASE WHEN vy > 0.0 THEN 1.0 - va / vy END
               AS var_reduction
             FROM (SELECT
                 CASE WHEN np >= 2 THEN pyy - CAST(np AS DOUBLE)
                   * (py / CAST(np AS DOUBLE)) * (py / CAST(np AS DOUBLE))
                   END AS vy,
                 CASE WHEN np >= 2 THEN paa - CAST(np AS DOUBLE)
                   * (pa / CAST(np AS DOUBLE)) * (pa / CAST(np AS DOUBLE))
                   END AS va
               FROM pv))
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(metric AS DECIMAL(30,6))) AS DOUBLE)
               / COUNT(metric) AS mean_metric,
             CAST(SUM(CAST(a AS DECIMAL(30,6))) AS DOUBLE)
               / COUNT(a) AS mean_cuped,
             MAX(theta) AS theta,
             MAX(var_reduction) AS var_reduction
      FROM adj CROSS JOIN th t2 CROSS JOIN vr
      GROUP BY grp ORDER BY grp"""))

  /** RAKE keyword extraction: top-3 stopword-run phrases per doc by
    * deg/freq word scores; see [[TextAnalysis.rakeKeywords]]. */
  private val q280 = Q("q280_rake_keywords",
    (s, dir) => TextAnalysis.rakeKeywords(t(s, dir, "documents"),
      "doc_id", "text", enStop, topK = 3),
    Some("""
      WITH arr AS (SELECT doc_id,
              regexp_split_to_array(trim(lower(text)), '\s+') AS t
            FROM documents),
      tk0 AS (SELECT doc_id, t,
                unnest(generate_series(1, len(t))) AS pos
              FROM arr),
      tk AS (SELECT doc_id, pos, t[pos] AS w FROM tk0),
      ns AS (SELECT doc_id, pos, w, row_number() OVER (
               PARTITION BY doc_id ORDER BY pos) AS rn
             FROM tk WHERE length(w) > 0
               AND w NOT IN ('the', 'a', 'of', 'and', 'is')),
      ph AS (SELECT doc_id, pos - rn AS run,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen
             FROM ns GROUP BY doc_id, pos - rn),
      ws AS (SELECT o.doc_id, o.w, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(o.plen) AS BIGINT) AS deg
             FROM (SELECT n.doc_id, n.w, p.plen
                   FROM ns n JOIN ph p ON p.doc_id = n.doc_id
                     AND p.run = n.pos - n.rn) o
             GROUP BY 1, 2),
      sc AS (SELECT o.doc_id, o.run,
               CAST(SUM(CAST(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
                 AS DECIMAL(30,12))) AS DOUBLE) AS score
             FROM (SELECT doc_id, pos - rn AS run, w FROM ns) o
             JOIN ws ON ws.doc_id = o.doc_id AND ws.w = o.w
             GROUP BY 1, 2),
      ded AS (SELECT p.doc_id, p.phrase, MAX(sc.score) AS score
              FROM sc JOIN ph p ON p.doc_id = sc.doc_id
                AND p.run = sc.run
              GROUP BY 1, 2),
      fin AS (SELECT doc_id, phrase, score, CAST(row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, phrase ASC)
                AS BIGINT) AS rank
              FROM ded)
      SELECT doc_id, rank, phrase, score FROM fin
      WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Pairwise association rules over order baskets (parts bought
    * together): support / directed confidences / lift for pairs
    * co-occurring in >= 3 orders; see
    * [[graft.operators.MarketBasket.pairRules]]. */
  private val q281 = Q("q281_market_basket",
    (s, dir) => graft.operators.MarketBasket.pairRules(
      t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
      minPairCount = 3L),
    Some("""
      WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                  FROM lineitem),
      keep AS (SELECT b FROM it GROUP BY b HAVING COUNT(*) <= 100),
      itk AS (SELECT it.b, it.i FROM it JOIN keep USING (b)),
      nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM itk),
      ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS ci
             FROM itk GROUP BY 1),
      pr AS (SELECT a.i AS item_a, c.i AS item_b,
               CAST(COUNT(*) AS BIGINT) AS pair_count
             FROM itk a JOIN itk c ON a.b = c.b AND a.i < c.i
             GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      SELECT item_a, item_b, pair_count,
             ca.ci AS count_a, cb.ci AS count_b,
             CAST(pair_count AS DOUBLE) / CAST(nb AS DOUBLE) AS support,
             CAST(pair_count AS DOUBLE) / CAST(ca.ci AS DOUBLE)
               AS conf_a_to_b,
             CAST(pair_count AS DOUBLE) / CAST(cb.ci AS DOUBLE)
               AS conf_b_to_a,
             (CAST(pair_count AS DOUBLE) / CAST(nb AS DOUBLE))
               / ((CAST(ca.ci AS DOUBLE) / CAST(nb AS DOUBLE))
                  * (CAST(cb.ci AS DOUBLE) / CAST(nb AS DOUBLE)))
               AS lift
      FROM pr JOIN ic ca ON ca.i = pr.item_a
              JOIN ic cb ON cb.i = pr.item_b
              CROSS JOIN nb
      ORDER BY lift DESC, item_a ASC, item_b ASC"""))

  /** Sparsified undirected nation trade graph: edges with weight
    * above 1.2× the mean collapse to simple (a < b) pairs —
    * scale-free thresholding so both SFs yield a non-degenerate
    * graph. Shared by the q282/q283 gates. */
  private def sparseTradeEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val w = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .filter(c("c_nationkey") =!= su("s_nationkey"))
      .select(least(c("c_nationkey"), su("s_nationkey")).as("u"),
        greatest(c("c_nationkey"), su("s_nationkey")).as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("long").as("w"))
    val m = w.agg((sum(col("w")).cast("double") / count(lit(1)))
      .as("__m"))
    w.crossJoin(broadcast(m))
      .filter(col("w").cast("double") > lit(1.2) * col("__m"))
      .select(col("u"), col("v"))
  }

  private val duckSparseTradeEdges: String = """
      e0 AS (SELECT least(c.c_nationkey, s.s_nationkey) AS u,
               greatest(c.c_nationkey, s.s_nationkey) AS v
             FROM lineitem l
             JOIN orders o ON l.l_orderkey = o.o_orderkey
             JOIN customer c ON o.o_custkey = c.c_custkey
             JOIN supplier s ON l.l_suppkey = s.s_suppkey
             WHERE c.c_nationkey <> s.s_nationkey),
      ew AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w
             FROM e0 GROUP BY 1, 2),
      m AS (SELECT CAST(SUM(w) AS DOUBLE) / COUNT(*) AS m FROM ew),
      e AS MATERIALIZED (SELECT u AS a, v AS b FROM ew CROSS JOIN m
           WHERE CAST(w AS DOUBLE) > 1.2 * m)"""

  /** Per-node triangle counts + local clustering coefficient over the
    * sparsified trade graph; see
    * [[graft.operators.GraphOps.triangleStats]]. */
  private val q282 = Q("q282_triangles",
    (s, dir) => graft.operators.GraphOps.triangleStats(
      sparseTradeEdges(s, dir), "u", "v"),
    Some(s"""
      WITH $duckSparseTradeEdges,
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
              FROM (SELECT a AS node FROM e
                    UNION ALL SELECT b FROM e) GROUP BY 1),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1 JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
             FROM (SELECT x AS node FROM tri
                   UNION ALL SELECT y FROM tri
                   UNION ALL SELECT z FROM tri) GROUP BY 1)
      SELECT d.node, d.degree,
             COALESCE(pn.n_triangles, 0) AS n_triangles,
             CASE WHEN d.degree >= 2
               THEN CAST(COALESCE(pn.n_triangles, 0) AS DOUBLE)
                 / (CAST(d.degree AS DOUBLE)
                    * (CAST(d.degree AS DOUBLE) - 1.0) / 2.0)
               END AS clustering
      FROM deg d LEFT JOIN pn USING (node) ORDER BY node"""))

  /** Adamic-Adar link prediction over the sparsified trade graph —
    * non-adjacent pairs scored by Σ 1/ln(deg) of common neighbors;
    * see [[graft.operators.GraphOps.adamicAdar]]. */
  private val q283 = Q("q283_adamic_adar",
    (s, dir) => graft.operators.GraphOps.adamicAdar(
      sparseTradeEdges(s, dir), "u", "v"),
    Some(s"""
      WITH $duckSparseTradeEdges,
      adj AS (SELECT a AS node, b AS nbr FROM e
              UNION ALL SELECT b, a FROM e),
      dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dg
             FROM adj GROUP BY 1),
      wg AS (SELECT x.node AS z, x.nbr AS u, y.nbr AS v
             FROM adj x JOIN adj y ON y.node = x.node
               AND x.nbr < y.nbr),
      op AS (SELECT z, u, v FROM wg WHERE NOT EXISTS (
              SELECT 1 FROM e WHERE e.a = wg.u AND e.b = wg.v))
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(1.0 / ln(CAST(dg AS DOUBLE))
               AS DECIMAL(30,12))) AS DOUBLE) AS aa_score
      FROM op JOIN dg ON dg.node = op.z
      GROUP BY 1, 2 ORDER BY aa_score DESC, u, v"""))

  /** One unrolled label-propagation oracle round: neighbor-label
    * votes, per-node (count desc, label asc) top-1, isolated labels
    * carried. */
  private def duckLpaRound(i: Int): String = {
    val p = s"l${i - 1}"
    s"""
      v$i AS (SELECT a.node, lp.label AS nl, CAST(COUNT(*) AS BIGINT) AS c
              FROM adj a JOIN $p lp ON lp.node = a.nbr
              GROUP BY 1, 2),
      p$i AS (SELECT node, nl FROM (SELECT node, nl, row_number() OVER (
                PARTITION BY node ORDER BY c DESC, nl ASC) AS rn
              FROM v$i) WHERE rn = 1),
      l$i AS MATERIALIZED (SELECT l.node,
                COALESCE(p$i.nl, l.label) AS label
              FROM $p l LEFT JOIN p$i ON p$i.node = l.node)"""
  }

  /** Deterministic synchronous label-propagation communities over the
    * co-purchase part graph (4 rounds, smallest-label ties); see
    * [[graft.operators.GraphOps.labelPropagation]]. */
  private val q284 = Q("q284_label_prop",
    (s, dir) => {
      val pairs = graft.operators.MarketBasket.pairEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minPairCount = 2L)
      graft.operators.GraphOps.labelPropagation(pairs,
        "item_a", "item_b", rounds = 4)
    },
    Some(s"""
      WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                  FROM lineitem),
      keep AS (SELECT b FROM it GROUP BY b HAVING COUNT(*) <= 100),
      itk AS (SELECT it.b, it.i FROM it JOIN keep USING (b)),
      e AS MATERIALIZED (SELECT a.i AS a, c.i AS b
           FROM itk a JOIN itk c ON a.b = c.b AND a.i < c.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM e
                           UNION ALL SELECT b, a FROM e),
      nodes AS (SELECT DISTINCT node FROM adj),
      l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
      ${duckLpaRound(1)},
      ${duckLpaRound(2)},
      ${duckLpaRound(3)},
      ${duckLpaRound(4)}
      SELECT node, label FROM l4 ORDER BY node"""))

  /** Difference-in-differences on per-user spend (pre/post split ×
    * hash-assigned variant) — the 2×2 causal readout; see
    * [[graft.llm.Stats.diffInDiff]]. */
  private val q285 = Q("q285_diff_in_diff",
    (s, dir) => {
      val units = t(s, dir, "events")
        .groupBy(col("user_id"),
          when(to_date(col("ts")) < lit("2024-01-16").cast("date"),
            lit("1_pre")).otherwise(lit("2_post")).as("period"))
        .agg(sum(col("value").cast(DecimalType(30, 2))).cast("double")
          .as("spend"))
        .select(when(Corpus.hashBucket(col("user_id")) < 50, lit("A"))
          .otherwise(lit("B")).as("variant"),
          col("period"), col("spend"))
      graft.llm.Stats.diffInDiff(units, "variant", "period", "spend")
    },
    Some("""
      WITH u AS (SELECT user_id,
          CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
            THEN '1_pre' ELSE '2_post' END AS p,
          CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS spend
        FROM events GROUP BY 1, 2),
      units AS (SELECT CASE WHEN ('0x' || substring(
                    md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 100
                  < 50 THEN 'A' ELSE 'B' END AS g, p, spend
                FROM u),
      cells AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(spend AS DECIMAL(30,6))) AS DOUBLE) AS s,
          CAST(SUM(CAST(spend * spend AS DECIMAL(30,6))) AS DOUBLE) AS ss
        FROM units GROUP BY 1, 2),
      cm AS (SELECT g, p, n, s / CAST(n AS DOUBLE) AS m,
          CASE WHEN n >= 2 THEN greatest((ss - CAST(n AS DOUBLE)
            * (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
            / (CAST(n AS DOUBLE) - 1.0), 0.0) END AS v
        FROM cells),
      f AS (SELECT
          MAX(CASE WHEN g = 'A' AND p = '1_pre' THEN m END) AS mean_a_pre,
          MAX(CASE WHEN g = 'A' AND p = '2_post' THEN m END) AS mean_a_post,
          MAX(CASE WHEN g = 'B' AND p = '1_pre' THEN m END) AS mean_b_pre,
          MAX(CASE WHEN g = 'B' AND p = '2_post' THEN m END) AS mean_b_post,
          MAX(CASE WHEN g = 'A' AND p = '1_pre'
            THEN v / CAST(n AS DOUBLE) END)
          + MAX(CASE WHEN g = 'A' AND p = '2_post'
              THEN v / CAST(n AS DOUBLE) END)
          + MAX(CASE WHEN g = 'B' AND p = '1_pre'
              THEN v / CAST(n AS DOUBLE) END)
          + MAX(CASE WHEN g = 'B' AND p = '2_post'
              THEN v / CAST(n AS DOUBLE) END) AS sev
        FROM cm),
      r AS (SELECT mean_a_pre, mean_a_post, mean_b_pre, mean_b_post,
              (mean_b_post - mean_b_pre) - (mean_a_post - mean_a_pre)
                AS did,
              sqrt(sev) AS se
            FROM f)
      SELECT 'A' AS group_a, 'B' AS group_b,
             '1_pre' AS period_pre, '2_post' AS period_post,
             mean_a_pre, mean_a_post, mean_b_pre, mean_b_post,
             did, se,
             CASE WHEN se > 0.0 THEN did / se END AS t_stat,
             COALESCE(abs(CASE WHEN se > 0.0 THEN did / se END) > 1.96,
               FALSE) AS significant
      FROM r"""))

  /** One unrolled BFS relax round for the q286 oracle. */
  private def duckBfsRound(i: Int): String = {
    val p = s"d${i - 1}"
    s"""
      x$i AS (SELECT a.node, MIN(d.distance) + 1 AS via
              FROM adj a JOIN $p d ON d.node = a.nbr
              WHERE d.distance IS NOT NULL GROUP BY 1),
      d$i AS MATERIALIZED (SELECT d.node,
                least(d.distance, x$i.via) AS distance
              FROM $p d LEFT JOIN x$i ON x$i.node = d.node)"""
  }

  /** Bounded-hop BFS distances from the Brand#4 parts over the
    * co-purchase graph — blast-radius readout; see
    * [[graft.operators.GraphOps.seedDistances]]. */
  private val q286 = Q("q286_seed_distance",
    (s, dir) => {
      val pairs = graft.operators.MarketBasket.pairEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minPairCount = 2L)
      val seeds = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#4")
        .select(col("p_partkey"))
      graft.operators.GraphOps.seedDistances(pairs, "item_a", "item_b",
        seeds, "p_partkey", maxHops = 3)
    },
    Some(s"""
      WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                  FROM lineitem),
      keep AS (SELECT b FROM it GROUP BY b HAVING COUNT(*) <= 100),
      itk AS (SELECT it.b, it.i FROM it JOIN keep USING (b)),
      e AS MATERIALIZED (SELECT a.i AS a, c.i AS b
           FROM itk a JOIN itk c ON a.b = c.b AND a.i < c.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM e
                           UNION ALL SELECT b, a FROM e),
      nodes AS (SELECT DISTINCT node FROM adj),
      sg AS (SELECT DISTINCT p_partkey AS node FROM part
             WHERE p_brand = 'Brand#4'),
      d0 AS MATERIALIZED (SELECT n.node,
             CASE WHEN s.node IS NOT NULL THEN CAST(0 AS BIGINT) END
               AS distance
           FROM nodes n LEFT JOIN sg s ON s.node = n.node),
      ${duckBfsRound(1)},
      ${duckBfsRound(2)},
      ${duckBfsRound(3)}
      SELECT node, distance FROM d3
      ORDER BY distance ASC NULLS LAST, node ASC"""))

  /** Theil-Sen robust daily-volume trend per event type (median of
    * pairwise slopes + median intercept); see
    * [[graft.ops.EventOps.theilSenTrend]]. */
  private val q287 = Q("q287_theil_sen",
    (s, dir) => graft.ops.EventOps.theilSenTrend(t(s, dir, "events")),
    Some("""
      WITH counts AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
            FROM counts GROUP BY 1),
      spine AS (SELECT event_type, d0, CAST(unnest(generate_series(d0,
                  d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
      daily AS (SELECT s.event_type,
                  CAST(date_diff('day', s.d0, s.day) + 1 AS BIGINT) AS t,
                  COALESCE(c.n, 0) AS x
                FROM spine s LEFT JOIN counts c USING (event_type, day)),
      sl AS (SELECT a.event_type,
               CAST(bb.x - a.x AS DOUBLE) / CAST(bb.t - a.t AS DOUBLE)
                 AS s
             FROM daily a JOIN daily bb ON bb.event_type = a.event_type
               AND bb.t > a.t),
      ms AS (SELECT event_type, SUM(s) / COUNT(*) AS slope_per_day
             FROM (SELECT event_type, s, row_number() OVER (
                     PARTITION BY event_type ORDER BY s) AS r,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
                   FROM sl)
             WHERE r = (n + 1) // 2 OR r = (n + 2) // 2 GROUP BY 1),
      rs AS (SELECT d.event_type,
               CAST(d.x AS DOUBLE) - ms.slope_per_day * CAST(d.t AS DOUBLE)
                 AS res
             FROM daily d JOIN ms USING (event_type)),
      mi AS (SELECT event_type, SUM(res) / COUNT(*) AS intercept
             FROM (SELECT event_type, res, row_number() OVER (
                     PARTITION BY event_type ORDER BY res) AS r,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
                   FROM rs)
             WHERE r = (n + 1) // 2 OR r = (n + 2) // 2 GROUP BY 1),
      nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
             FROM daily GROUP BY 1)
      SELECT nd.event_type, n_days, slope_per_day, intercept
      FROM nd JOIN ms USING (event_type) JOIN mi USING (event_type)
      ORDER BY event_type"""))

  /** Keyed table diff between two versions of orders (a third of keys
    * added, a third removed, every 7th surviving price doubled);
    * null-safe change detection on every shared column; see
    * [[graft.ops.TableDiff.diff]]. */
  private val q288 = Q("q288_table_diff",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val before = o.filter(col("o_orderkey") % 3 =!= 0)
      val after = o.filter(col("o_orderkey") % 3 =!= 1)
        .withColumn("o_totalprice", when(col("o_orderkey") % 7 === 0,
          col("o_totalprice") * 2.0).otherwise(col("o_totalprice")))
      graft.ops.TableDiff.diff(before, after, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH bfr AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
      aft AS (SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
             FROM orders WHERE o_orderkey % 3 <> 1),
      j AS (SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
              CASE WHEN b.o_orderkey IS NULL THEN 'added'
                   WHEN a.o_orderkey IS NULL THEN 'removed'
                   WHEN (b.o_custkey IS DISTINCT FROM a.o_custkey)
                     OR (b.o_orderstatus IS DISTINCT FROM a.o_orderstatus)
                     OR (b.o_totalprice IS DISTINCT FROM a.o_totalprice)
                     OR (b.o_orderdate IS DISTINCT FROM a.o_orderdate)
                     OR (b.o_orderpriority IS DISTINCT FROM
                         a.o_orderpriority)
                   THEN 'changed' ELSE 'unchanged' END AS status
            FROM bfr b FULL OUTER JOIN aft a
              ON a.o_orderkey = b.o_orderkey)
      SELECT o_orderkey, status FROM j
      WHERE status <> 'unchanged' ORDER BY o_orderkey"""))

  /** One column block of the q289 profiling oracle. */
  private def duckProfileCol(table: String, c: String): String = s"""
      SELECT '$c' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(v) AS BIGINT) AS n_nonnull,
             CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
             MIN(v) AS min_str, MAX(v) AS max_str,
             (SELECT v FROM (SELECT CAST($c AS VARCHAR) AS v FROM $table)
              WHERE v IS NOT NULL GROUP BY v
              ORDER BY COUNT(*) DESC, v ASC LIMIT 1) AS top_value,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM (SELECT CAST($c AS VARCHAR) AS v FROM $table)
              WHERE v IS NOT NULL GROUP BY v
              ORDER BY COUNT(*) DESC, v ASC LIMIT 1) AS top_count
      FROM (SELECT CAST($c AS VARCHAR) AS v FROM $table)"""

  /** Mann-Kendall monotone-trend test on daily event volume — the
    * significance companion to q287's Theil-Sen slope; see
    * [[graft.ops.EventOps.mannKendall]]. */
  private val q290 = Q("q290_mann_kendall",
    (s, dir) => graft.ops.EventOps.mannKendall(t(s, dir, "events")),
    Some("""
      WITH counts AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
            FROM counts GROUP BY 1),
      spine AS (SELECT event_type, d0, CAST(unnest(generate_series(d0,
                  d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
      daily AS (SELECT s.event_type,
                  CAST(date_diff('day', s.d0, s.day) + 1 AS BIGINT) AS t,
                  COALESCE(c.n, 0) AS x
                FROM spine s LEFT JOIN counts c USING (event_type, day)),
      sf AS (SELECT a.event_type,
               CAST(SUM(CAST(sign(CAST(bb.x - a.x AS DOUBLE)) AS BIGINT))
                 AS BIGINT) AS s_stat
             FROM daily a JOIN daily bb ON bb.event_type = a.event_type
               AND bb.t > a.t
             GROUP BY 1),
      tg AS (SELECT event_type,
               CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie
             FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS tc
                   FROM daily GROUP BY 1, 2) GROUP BY 1),
      nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
             FROM daily GROUP BY 1),
      v AS (SELECT nd.event_type, n_days, s_stat,
              (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)
               * (2.0 * CAST(n_days AS DOUBLE) + 5.0)
               - CAST(tie AS DOUBLE)) / 18.0 AS var_s
            FROM nd JOIN sf USING (event_type)
            JOIN tg USING (event_type)),
      zz AS (SELECT *, CASE WHEN n_days >= 2 AND var_s > 0.0 THEN
               CASE WHEN s_stat > 0
                      THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                    WHEN s_stat < 0
                      THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                    ELSE 0.0 END END AS z
             FROM v)
      SELECT event_type, n_days, s_stat, var_s, z,
             COALESCE(abs(z) > 1.96, FALSE) AS trend
      FROM zz ORDER BY event_type"""))

  /** Degree assortativity of the co-purchase part graph — hub-mixing
    * structure in one number; see
    * [[graft.operators.GraphOps.degreeAssortativity]]. */
  private val q291 = Q("q291_assortativity",
    (s, dir) => {
      val pairs = graft.operators.MarketBasket.pairEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minPairCount = 2L)
      graft.operators.GraphOps.degreeAssortativity(pairs,
        "item_a", "item_b")
    },
    Some("""
      WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                  FROM lineitem),
      keep AS (SELECT b FROM it GROUP BY b HAVING COUNT(*) <= 100),
      itk AS (SELECT it.b, it.i FROM it JOIN keep USING (b)),
      e AS MATERIALIZED (SELECT a.i AS a, c.i AS b
           FROM itk a JOIN itk c ON a.b = c.b AND a.i < c.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM e
                           UNION ALL SELECT b, a FROM e),
      dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
             FROM adj GROUP BY 1),
      xy AS (SELECT CAST(du.d AS DOUBLE) AS x, CAST(dv.d AS DOUBLE) AS y
             FROM adj JOIN dg du ON du.node = adj.node
                      JOIN dg dv ON dv.node = adj.nbr),
      mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
                CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
                CAST(SUM(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS syy
              FROM xy)
      SELECT m // 2 AS n_edges,
             CASE WHEN m >= 2
                    AND (sxx / CAST(m AS DOUBLE)
                         - (sx / CAST(m AS DOUBLE))
                           * (sx / CAST(m AS DOUBLE))) > 0.0
                    AND (syy / CAST(m AS DOUBLE)
                         - (sy / CAST(m AS DOUBLE))
                           * (sy / CAST(m AS DOUBLE))) > 0.0
               THEN (sxy / CAST(m AS DOUBLE)
                     - (sx / CAST(m AS DOUBLE)) * (sy / CAST(m AS DOUBLE)))
                  / (sqrt(sxx / CAST(m AS DOUBLE)
                      - (sx / CAST(m AS DOUBLE)) * (sx / CAST(m AS DOUBLE)))
                     * sqrt(syy / CAST(m AS DOUBLE)
                      - (sy / CAST(m AS DOUBLE)) * (sy / CAST(m AS DOUBLE))))
               END AS assortativity
      FROM mom"""))

  /** The FULL retrieval serving chain, one call, one gate:
    * persisted-IVF + BM25 hybrid RRF pool (the q257 request path) →
    * MMR diversity rerank over the FUSED pool (q269's greedy
    * recursion, fed by the real retriever instead of a brute pool) →
    * hits/MRR/nDCG against the exact dense top-10 truth (q260's
    * scorer). Numbers measured of the pipeline users actually hit,
    * not of each stage in isolation; see
    * [[Similarity.retrievalEvalIndexed]]. */
  private val q294 = Q("q294_retrieval_eval",
    (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "dup key scan"), (2L, "hash join merge"),
        (3L, "stream window sort the")).toDF("query_id", "query_text")
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      val idx = indexDir("rev", dir)(p =>
        Similarity.buildIvfIndex(emb, p,
          centroids = Some(emb.filter(col("vec_id") < 16)
            .select(col("vec_id").as("cid"), col("embedding").as("c_emb")))))
      val truth = Similarity.bruteForceTopK(qv, emb, 10)
        .select(col("query_id"), col("vec_id"))
      Similarity.retrievalEvalIndexed(s, idx, t(s, dir, "documents"),
        "doc_id", "text", queries, qv, emb, truth,
        k = 5, poolSize = 10, nprobe = 2, lambdaRel = 0.7)
        .orderBy("query_id")
    },
    Some(s"""WITH $duckHybridCtes,
      pool AS (SELECT query_id, id AS vec_id, rrf_score AS rel FROM (
          SELECT f.*, row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_score DESC, id ASC) AS rank FROM f)
        WHERE rank <= 10),
      pe AS (SELECT p.query_id, p.vec_id, p.rel, e.embedding
             FROM pool p JOIN embeddings e USING (vec_id)),
      pr AS (SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
               ${duckCos("a.embedding", "b.embedding")} AS sim
             FROM pe a JOIN pe b ON a.query_id = b.query_id
               AND a.vec_id <> b.vec_id),
      s1 AS (SELECT query_id, vec_id, rel, CAST(1 AS BIGINT) AS mmr_rank,
               0.7 * rel AS mmr_score
             FROM (SELECT query_id, vec_id, rel, row_number() OVER (
                 PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS r
               FROM pool) WHERE r = 1),
      ${duckMmrStep(2, "s1")},
      ${duckMmrStep(3, "sel2")},
      ${duckMmrStep(4, "sel3")},
      ${duckMmrStep(5, "sel4")},
      tq AS (SELECT vec_id AS query_id, embedding AS q_emb
             FROM embeddings WHERE vec_id IN (1, 2, 3)),
      tcs AS (SELECT query_id, vec_id,
                ${duckCos("q_emb", "embedding")} AS cos
              FROM embeddings JOIN tq ON vec_id <> query_id),
      bt AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS rank
          FROM tcs) WHERE rank <= 10),
      mq AS (SELECT sel5.query_id, sel5.mmr_rank AS rank,
               CASE WHEN bt.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
             FROM sel5 LEFT JOIN bt ON bt.query_id = sel5.query_id
               AND bt.vec_id = sel5.vec_id),
      pq AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ranked,
               CAST(SUM(rel) AS BIGINT) AS hits,
               MIN(CASE WHEN rel = 1 THEN rank END) AS fr,
               CAST(SUM(CAST(CASE WHEN rel = 1 THEN
                   1.0 / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
                 ELSE 0.0 END AS DECIMAL(30,12))) AS DOUBLE) AS dcg
             FROM mq GROUP BY 1),
      nr AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nrel
             FROM bt GROUP BY 1),
      idl AS (SELECT query_id,
                CAST(SUM(CAST(1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0))
                  AS DECIMAL(30,12))) AS DOUBLE) AS idcg
              FROM nr CROSS JOIN generate_series(1, 5) g(i)
              WHERE i <= least(nrel, 5) GROUP BY 1)
      SELECT pq.query_id, n_ranked, hits,
             COALESCE(1.0 / CAST(fr AS DOUBLE), 0.0) AS mrr,
             dcg, idcg,
             CASE WHEN idcg > 0.0 THEN dcg / idcg END AS ndcg
      FROM pq JOIN idl USING (query_id) ORDER BY pq.query_id"""))

  /** Shared oracle CTEs for the event-type Markov chain: per-user
    * lag pairs → transition counts → row-stochastic `pm`
    * (from_type, to_type, p). */
  private val duckMarkovCtes = """
      seq AS (SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      tr AS (SELECT prev AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
             FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS tot
              FROM tr GROUP BY 1),
      pm AS (SELECT tr.from_type, tr.to_type, tr.n_transitions,
               CAST(n_transitions AS DOUBLE) / CAST(tot AS DOUBLE) AS p
             FROM tr JOIN tot USING (from_type))"""

  /** One unrolled Markov power-iteration oracle step: dangling mass
    * (types with no outgoing transitions) redistributed uniformly,
    * decimal-rounded flow fold — the duckPrIter discipline. */
  private def duckMarkovIter(i: Int): String = {
    val prev = s"pi${i - 1}"
    s"""
      d$i AS (SELECT COALESCE(CAST(SUM(CAST(pi AS DECIMAL(30,12)))
                AS DOUBLE), 0.0) AS dang
              FROM $prev
              WHERE event_type NOT IN (SELECT from_type FROM pm)),
      c$i AS (SELECT pm.to_type, CAST(SUM(CAST(pp.pi * pm.p
                AS DECIMAL(30,12))) AS DOUBLE) AS s
              FROM pm JOIN $prev pp ON pp.event_type = pm.from_type
              GROUP BY 1),
      pi$i AS MATERIALIZED (SELECT ty.event_type,
                COALESCE(c$i.s, 0.0)
                  + d$i.dang / CAST(nn.n AS DOUBLE) AS pi
              FROM ty CROSS JOIN nn CROSS JOIN d$i
              LEFT JOIN c$i ON c$i.to_type = ty.event_type)"""
  }

  /** First-order event-type Markov transition matrix over per-user
    * journeys — counts and P(next | prev); see
    * [[graft.ops.EventOps.markovTransitions]]. */
  private val q295 = Q("q295_markov_transitions",
    (s, dir) => graft.ops.EventOps.markovTransitions(t(s, dir, "events")),
    Some(s"""WITH $duckMarkovCtes
      SELECT from_type, to_type, n_transitions, p
      FROM pm ORDER BY from_type, to_type"""))

  /** Stationary occupancy of the event-type chain (3 power
    * iterations, dangling mass redistributed uniformly — the PageRank
    * stochastic completion); see
    * [[graft.ops.EventOps.markovStationary]]. */
  private val q296 = Q("q296_markov_stationary",
    (s, dir) => graft.ops.EventOps.markovStationary(t(s, dir, "events")),
    Some(s"""WITH $duckMarkovCtes,
      ty AS MATERIALIZED (SELECT from_type AS event_type FROM pm
            UNION SELECT to_type FROM pm),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ty),
      pi0 AS MATERIALIZED (SELECT event_type, 1.0 / CAST(n AS DOUBLE) AS pi
             FROM ty CROSS JOIN nn),
      ${duckMarkovIter(1)},
      ${duckMarkovIter(2)},
      ${duckMarkovIter(3)}
      SELECT event_type, pi FROM pi3
      ORDER BY pi DESC, event_type ASC"""))

  /** MAD modified z-score outliers per event type (Iglewicz & Hoaglin
    * 3.5 rule) — the robust gate beside mean/sd monitoring; see
    * [[graft.ops.EventOps.madOutliers]]. */
  private val q297 = Q("q297_mad_outliers",
    (s, dir) => graft.ops.EventOps.madOutliers(t(s, dir, "events")),
    Some("""
      WITH base AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
                    FROM events
                    WHERE event_type IS NOT NULL AND value IS NOT NULL),
      r1 AS (SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
             FROM base),
      med AS (SELECT event_type, SUM(v) / COUNT(*) AS med FROM r1
              WHERE r = (n + 1) // 2 OR r = (n + 2) // 2 GROUP BY 1),
      wm AS (SELECT b.event_id, b.event_type, b.v, m.med,
               abs(b.v - m.med) AS ad
             FROM base b JOIN med m USING (event_type)),
      r2 AS (SELECT event_type, ad,
               row_number() OVER (PARTITION BY event_type ORDER BY ad) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
             FROM wm),
      mad AS (SELECT event_type, SUM(ad) / COUNT(*) AS mad FROM r2
              WHERE r = (n + 1) // 2 OR r = (n + 2) // 2 GROUP BY 1)
      SELECT wm.event_id, wm.event_type, wm.v AS value, wm.med, mad.mad,
             CASE WHEN mad.mad > 0.0
               THEN 0.6745 * (wm.v - wm.med) / mad.mad END AS mz,
             COALESCE(abs(CASE WHEN mad.mad > 0.0
               THEN 0.6745 * (wm.v - wm.med) / mad.mad END) > 3.5, FALSE)
               AS outlier
      FROM wm JOIN mad USING (event_type) ORDER BY event_id"""))

  /** Sparse TF-IDF cosine top-10 over the inverted index — the VSM
    * retrieval beside BM25 (q257) and dense ANN; see
    * [[TextAnalysis.tfidfCosineTopK]]. */
  private val q298 = Q("q298_tfidf_cosine",
    (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "dup key scan"), (2L, "hash join merge"),
        (3L, "stream window sort the")).toDF("query_id", "query_text")
      TextAnalysis.tfidfCosineTopK(t(s, dir, "documents"), queries,
        "doc_id", "text", k = 10)
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH q(query_id, query_text) AS (VALUES
        (CAST(1 AS BIGINT), 'dup key scan'),
        (CAST(2 AS BIGINT), 'hash join merge'),
        (CAST(3 AS BIGINT), 'stream window sort the')),
      toks AS (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS term
               FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             FROM toks GROUP BY 1, 2),
      dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      post AS (SELECT doc_id, term,
                 CAST(tf AS DOUBLE)
                   * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) AS w
               FROM tf JOIN dfq USING (term) CROSS JOIN nn),
      norms AS (SELECT doc_id,
                  sqrt(CAST(SUM(CAST(w * w AS DECIMAL(30,12))) AS DOUBLE))
                    AS dn
                FROM post GROUP BY 1),
      qtf AS (SELECT query_id, term, CAST(COUNT(*) AS BIGINT) AS qtf
              FROM (SELECT query_id,
                      unnest(regexp_split_to_array(trim(lower(query_text)),
                        '\\s+')) AS term
                    FROM q)
              GROUP BY 1, 2),
      qw AS (SELECT query_id, term,
               CAST(qtf AS DOUBLE)
                 * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) AS qwt
             FROM qtf JOIN dfq USING (term) CROSS JOIN nn),
      qn AS (SELECT query_id,
               sqrt(CAST(SUM(CAST(qwt * qwt AS DECIMAL(30,12))) AS DOUBLE))
                 AS qn
             FROM qw GROUP BY 1),
      dots AS (SELECT query_id, doc_id,
                 CAST(SUM(CAST(w * qwt AS DECIMAL(30,12))) AS DOUBLE) AS dot,
                 CAST(COUNT(*) AS BIGINT) AS n_terms
               FROM post JOIN qw USING (term) GROUP BY 1, 2),
      scored AS (SELECT d.query_id, d.doc_id, d.n_terms,
                   d.dot / (norms.dn * qn.qn) AS cos
                 FROM dots d JOIN norms USING (doc_id)
                   JOIN qn USING (query_id))
      SELECT query_id, rank, doc_id, cos, n_terms FROM (
        SELECT query_id, doc_id, cos, n_terms,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 10 ORDER BY query_id, rank"""))

  /** Parameterized tri-blocker PAIR chain for the incremental oracle:
    * the q256 replay (minhash-LSH + sorted-neighborhood + Manku
    * simhash, unioned as `<px>allp`) instantiated over a FILTERED
    * document subset with prefixed CTE names, so one query can replay
    * the chain twice (prior corpus + combined corpus). Mirrors
    * duckMinhashCtes/duckBandCte/duckTriBlockerCtes verbatim.
    * `materialized = true` pins every chain CTE AS MATERIALIZED —
    * REQUIRED when chains nest through survivor CTEs (q299): DuckDB's
    * default inlines single-reference CTEs, and a three-deep nest of
    * inlined 20-CTE chains re-evaluates the inner chains
    * multiplicatively (>4 min vs 2 s at sf0.001, measured). */
  private def duckTriBlockerPairChain(px: String, where: String,
      materialized: Boolean = false): String = {
    val raw = duckTriBlockerPairChainRaw(px, where)
    if (materialized)
      raw.replaceAll(s"\\b($px\\w+) AS \\(", "$1 AS MATERIALIZED (")
    else raw
  }

  private def duckTriBlockerPairChainRaw(px: String, where: String): String = s"""
      ${px}docs AS (SELECT doc_id, text FROM documents $where),
      ${px}dstr AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(length(text) - 4, 1)),
                 i -> substring(text, i, 5))) AS shs
        FROM ${px}docs),
      ${px}d AS (
        SELECT doc_id,
               list_distinct(list_transform(shs, x ->
                 ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
        FROM ${px}dstr),
      ${px}s AS (
        SELECT doc_id,
               list_transform(generate_series(0, 11), i ->
                 list_min(list_transform(shs, x ->
                   (('0x' || substr(md5(x), 1, 8))::BIGINT
                    + i * ('0x' || substr(md5(x), 9, 8))::BIGINT)
                   % 2147483647)))
                 AS sig
        FROM ${px}dstr),
      ${px}b AS (
        SELECT doc_id, gs.b AS band_idx,
               md5(sig[3 * gs.b + 1]::VARCHAR || '|' || sig[3 * gs.b + 2]::VARCHAR
                   || '|' || sig[3 * gs.b + 3]::VARCHAR) AS band_hash
        FROM ${px}s, generate_series(0, 3) gs(b)),
      ${px}p AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM ${px}b x JOIN ${px}b y USING (band_idx, band_hash)
        WHERE x.doc_id < y.doc_id),
      ${px}pre AS (
        SELECT id_a, id_b
        FROM ${px}p JOIN ${px}s sa ON sa.doc_id = id_a
                    JOIN ${px}s sb ON sb.doc_id = id_b
        WHERE len(list_filter(generate_series(1, 12),
                  i -> sa.sig[i] = sb.sig[i])) >= 6),
      ${px}ver AS (
        SELECT id_a, id_b,
               len(list_intersect(da.sh, db.sh)) * 1.0
                 / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
                 AS jaccard
        FROM ${px}pre JOIN ${px}d da ON da.doc_id = id_a
                      JOIN ${px}d db ON db.doc_id = id_b),
      ${px}lshp AS (SELECT id_a, id_b FROM ${px}ver WHERE jaccard >= 0.5),
      ${px}sns AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(generate_series(0, 15), j ->
                 CASE WHEN 2 * len(list_filter(toks, t ->
                        strpos('89abcdef', substring(md5(t), j + 1, 1)) > 0))
                      >= len(toks)
                      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)
                 AS f16
        FROM (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM ${px}docs)),
      ${px}snr AS (SELECT doc_id, row_number() OVER (ORDER BY f16, doc_id) AS gr
              FROM ${px}sns),
      ${px}snc AS (SELECT a.doc_id AS ia, b.doc_id AS ib
              FROM ${px}snr a JOIN ${px}snr b ON b.gr > a.gr AND b.gr <= a.gr + 3),
      ${px}snj AS (SELECT ia, ib,
                CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                  / CAST(len(da.sh) + len(db.sh)
                         - len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                  AS jaccard
              FROM ${px}snc JOIN ${px}d da ON da.doc_id = ia
                     JOIN ${px}d db ON db.doc_id = ib),
      ${px}snp AS (SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b
              FROM ${px}snj WHERE jaccard >= 0.5),
      ${px}arr AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM ${px}docs),
      ${px}tok AS (SELECT doc_id, unnest(t) AS token FROM ${px}arr),
      ${px}nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM ${px}arr),
      ${px}bits AS (SELECT doc_id, j,
          ((strpos('0123456789abcdef',
              substring(md5(token), (j // 4) + 1, 1)) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2 AS bit
        FROM ${px}tok CROSS JOIN generate_series(0, 59) g(j)),
      ${px}votes AS (SELECT doc_id, j, CAST(SUM(bit) AS BIGINT) AS v
                FROM ${px}bits GROUP BY 1, 2),
      ${px}sh60 AS (SELECT v.doc_id,
          CAST(SUM(CASE WHEN 2 * v.v >= nn.n
            THEN CAST(pow(2, v.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        FROM ${px}votes v JOIN ${px}nn nn ON v.doc_id = nn.doc_id GROUP BY 1),
      ${px}blocks AS (SELECT doc_id, sh, i AS blk,
          (sh // CAST(pow(2, 15 * i) AS BIGINT)) % 32768 AS bval
        FROM ${px}sh60 CROSS JOIN generate_series(0, 3) gb(i)),
      ${px}cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                 x.sh AS sa, y.sh AS sb
               FROM ${px}blocks x JOIN ${px}blocks y
                 ON x.blk = y.blk AND x.bval = y.bval
                   AND x.doc_id < y.doc_id),
      ${px}simp AS (SELECT id_a, id_b FROM ${px}cand
               WHERE bit_count(xor(sa, sb)) <= 3),
      ${px}allp AS (SELECT DISTINCT id_a, id_b FROM (
               SELECT id_a, id_b FROM ${px}lshp
               UNION ALL SELECT id_a, id_b FROM ${px}snp
               UNION ALL SELECT id_a, id_b FROM ${px}simp))"""

  /** The STEADY-STATE composed dedup call: the doc_id % 4 == 0 slice
    * arrives as a batch against the persisted three-blocker artifacts
    * (signature/sort-key/simhash tables) and the prior pair log of
    * the % 4 != 0 backfill; clusters re-close over log ∪ delta with
    * new×(existing∪new) candidate work only. The oracle replays the
    * tri-blocker pair chain TWICE — over the prior corpus (the pair
    * log) and over the combined corpus restricted to batch-involving
    * pairs (the delta; per-blocker incremental contracts make that
    * restriction exact) — then closes transitively with the q57
    * recursive CTE. See [[Dedup.incrementalBlockedDedupClusters]]. */
  private val q292 = Q("q292_incr_blocked_dedup",
    (s, dir) => {
      // the three artifact stores + the prior pair log are the
      // PERSISTED state of a nightly pipeline — built once per
      // fixture (the indexDir build-offline/serve-online split, as
      // q143/q144/q257), so the gate times the STEADY-STATE call:
      // read artifacts, probe the batch, re-close components
      val idx = indexDir("ibd", dir) { p =>
        val existing = t(s, dir, "documents")
          .filter(col("doc_id") % 4 =!= 0)
        Dedup.signatureTable(existing, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$p/sig")
        Dedup.sortKeyTable(existing, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$p/sk")
        Dedup.simhashTable(existing, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$p/fp")
        Dedup.blockedDedupPairs(existing, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$p/pairs")
        // the prior run's CLUSTER assignments, persisted beside the
        // pair log — the state the delta-aware close passes through
        graft.llm.Corpus.dupClusters(s.read.parquet(s"$p/pairs"))
          .write.mode("overwrite").parquet(s"$p/clusters")
      }
      val batch = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      // r17: the DELTA-AWARE close — only components reachable from a
      // delta edge are re-closed; untouched assignments pass through
      // (byte-identical to the full re-close the oracle replays, see
      // deltaCloseSplit's exactness argument)
      Dedup.incrementalBlockedDedupClustersFromState(
        s.read.parquet(s"$idx/sig"), s.read.parquet(s"$idx/sk"),
        s.read.parquet(s"$idx/fp"), s.read.parquet(s"$idx/pairs"),
        s.read.parquet(s"$idx/clusters"), batch, "doc_id", "text")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${duckTriBlockerPairChain("pr_", "WHERE doc_id % 4 <> 0")},
      ${duckTriBlockerPairChain("fu_", "")},
      delta AS (SELECT id_a, id_b FROM fu_allp
                WHERE id_a % 4 = 0 OR id_b % 4 = 0),
      u AS (SELECT DISTINCT id_a, id_b FROM (
            SELECT id_a, id_b FROM pr_allp
            UNION ALL SELECT id_a, id_b FROM delta)),
      edges AS (SELECT id_a AS src, id_b AS dst FROM u
                UNION ALL SELECT id_b, id_a FROM u),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst)
      SELECT id AS doc_id, MIN(r) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** The STREAM-FED nightly re-close (closes the r16 "streaming
    * admission discards its verified pairs" rider): the prior corpus
    * arrives through TWO [[graft.streaming.StreamingPipeline
    * .blockedAdmitBatch]] epochs — each persisting its signature/
    * sort-key/fingerprint stores AND the new verified-pair log under
    * the sig-commit rule — a policy-driven generation compaction
    * ([[graft.streaming.StreamingPipeline.shouldCompact]] →
    * `compactBlockedStores`, r18) then rewrites the chain into one
    * `c0` generation, and the nightly batch re-closes clusters from
    * the COMPACTED pair log plus its own delta, never re-probing what
    * the stream already verified. One artifact contract across
    * backfill (q256), nightly batch (q292), streaming admission, and
    * the compacted generation — the oracle replays the uncompacted
    * admission sequence, so the hash match IS the proof that
    * compaction is value-invisible.
    *
    * The oracle replays the admission sequence independently: the
    * tri-blocker chain over epoch 1's docs, the store-wins/min-id
    * keeper rule to derive epoch-1 survivors, the chain again over
    * (survivors ∪ epoch 2) restricted to epoch-2-involving pairs,
    * survivors again, the chain a third time over (survivors ∪
    * nightly batch) restricted to batch-involving — then closes the
    * three pair sets transitively (the exact per-epoch contracts the
    * incremental probes are LlmSpec-pinned to). */
  private val q299 = Q("q299_streamed_pair_log",
    (s, dir) => {
      val idx = indexDir("spl", dir) { p =>
        val docs0 = t(s, dir, "documents")
        def epoch(batch: DataFrame, id: Long): Unit =
          graft.streaming.StreamingPipeline.blockedAdmitBatch(
            batch.select(col("doc_id"), col("text").as("clean_text"),
              lit("fix").as("source")),
            s"$p/corpus", s"$p/sig", s"$p/sk", s"$p/fp", s"$p/pairs",
            threshold = 0.5, snWindow = 4, maxHamming = 3, shardId = id)
        epoch(docs0.filter(col("doc_id") % 4 === 1), 1L)
        epoch(docs0.filter(col("doc_id") % 4 === 2 ||
          col("doc_id") % 4 === 3), 2L)
        // MID-CHAIN GENERATION COMPACTION (r17 verdict item 6),
        // policy-driven: two committed epochs trip shouldCompact at
        // maxEpochs = 2, and the nightly re-close below consumes the
        // COMPACTED generation — so this gate's hash also pins that
        // compactBlockedStores is value-invisible to the artifact
        // contract (same clusters from one `c0` generation as from
        // the epoch-partitioned chain the oracle replays).
        val spc = graft.streaming.StreamingPipeline
        val pressure = spc.blockedStorePressure(s, s"$p/sig",
          Seq(s"$p/corpus", s"$p/sig", s"$p/sk", s"$p/fp", s"$p/pairs"))
        if (spc.shouldCompact(pressure, maxEpochs = 2))
          spc.compactBlockedStores(s,
            s"$p/corpus", s"$p/sig", s"$p/sk", s"$p/fp", s"$p/pairs",
            s"$p/c/corpus", s"$p/c/sig", s"$p/c/sk", s"$p/c/fp",
            s"$p/c/pairs")
      }
      val sp = graft.streaming.StreamingPipeline
      val c = s"$idx/c"
      val batch = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      Dedup.incrementalBlockedDedupClusters(
        sp.readSignatures(s, s"$c/sig"),
        sp.readSortKeys(s, s"$c/sk", s"$c/sig"),
        sp.readFingerprints(s, s"$c/fp", s"$c/sig"),
        sp.readPairs(s, s"$c/pairs", s"$c/sig"),
        batch, "doc_id", "text")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${duckTriBlockerPairChain("e1_", "WHERE doc_id % 4 = 1",
        materialized = true)},
      d1 AS MATERIALIZED (SELECT DISTINCT id_b AS d FROM e1_allp),
      sv1 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 4 = 1
              AND doc_id NOT IN (SELECT d FROM d1)),
      ${duckTriBlockerPairChain("e2_",
        "WHERE doc_id IN (SELECT doc_id FROM sv1) OR doc_id % 4 = 2 OR doc_id % 4 = 3",
        materialized = true)},
      e2d AS MATERIALIZED (SELECT id_a, id_b FROM e2_allp
              WHERE id_a % 4 = 2 OR id_a % 4 = 3
                 OR id_b % 4 = 2 OR id_b % 4 = 3),
      d2 AS MATERIALIZED (SELECT DISTINCT CASE WHEN id_b % 4 = 2 OR id_b % 4 = 3
               THEN id_b ELSE id_a END AS d FROM e2d),
      sv2 AS MATERIALIZED (SELECT doc_id FROM sv1
              UNION
              SELECT doc_id FROM documents
              WHERE (doc_id % 4 = 2 OR doc_id % 4 = 3)
              AND doc_id NOT IN (SELECT d FROM d2)),
      ${duckTriBlockerPairChain("e3_",
        "WHERE doc_id IN (SELECT doc_id FROM sv2) OR doc_id % 4 = 0",
        materialized = true)},
      d3 AS MATERIALIZED (SELECT id_a, id_b FROM e3_allp
             WHERE id_a % 4 = 0 OR id_b % 4 = 0),
      u AS MATERIALIZED (SELECT DISTINCT id_a, id_b FROM (
            SELECT id_a, id_b FROM e1_allp
            UNION ALL SELECT id_a, id_b FROM e2d
            UNION ALL SELECT id_a, id_b FROM d3)),
      edges AS (SELECT id_a AS src, id_b AS dst FROM u
                UNION ALL SELECT id_b, id_a FROM u),
      reach(id, r) AS (
        SELECT src, src FROM edges GROUP BY src
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst)
      SELECT id AS doc_id, MIN(r) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** SEMANTIC eval-contamination screen (closes the r16 verdict's
    * composition ask): training vectors whose embedding cosine to any
    * eval vector (the q115 % 40 eval-set contract) clears the
    * threshold — the paraphrased leakage q115's 4-gram screen cannot
    * see. Oracle replays the SRP bucketing (deterministic md5 planes,
    * the q56 replay) with the asymmetric train×eval join. See
    * [[Similarity.evalContamination]]. */
  private val q300 = Q("q300_eval_contamination",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.evalContamination(
        emb.filter(col("vec_id") % 40 =!= 0),
        emb.filter(col("vec_id") % 40 === 0),
        "vec_id", "embedding", threshold = 0.1)
        .orderBy("train_id", "eval_id")
    },
    Some(s"""
      WITH n AS (
        SELECT vec_id, embedding,
               ${duckSrp("embedding")} AS bucket,
               sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                 AS nrm
        FROM embeddings)
      SELECT train_id, eval_id, cos FROM (
        SELECT a.vec_id AS train_id, b.vec_id AS eval_id,
               list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (a.nrm * b.nrm) AS cos
        FROM n a JOIN n b ON a.bucket = b.bucket
          AND a.vec_id % 40 <> 0 AND b.vec_id % 40 = 0)
      WHERE cos >= 0.1 ORDER BY train_id, eval_id"""))

  /** MULTIMODAL near-dup screen (r17 verdict item 8): the SemDeDup
    * composition over the DECODED image corpus — real-codec PNG
    * decode gates which media ids enter the vector screen (pixel area
    * ≥ 100 drops the sub-thumbnail rasters), the survivors join their
    * embedding vectors by the id both fixtures share, and the SRP
    * near-dup pairs run over exactly those vectors. Oracle: q81's
    * pixel-formula dimensions derive the kept-id set arithmetically,
    * then the q56 deterministic-SRP replay restricted to it — the
    * same replay contract as q300. See
    * [[Multimodal.imageNearDupScreen]]. */
  private val q302 = Q("q302_image_neardup",
    (s, dir) => Multimodal.imageNearDupScreen(
      t(s, dir, "documents"), t(s, dir, "embeddings"),
      "vec_id", "embedding", threshold = 0.3, bits = 8,
      minPixels = 100L)
      .orderBy("id_a", "id_b"),
    Some(s"""
      WITH kept AS (
        SELECT doc_id AS vec_id FROM documents
        WHERE CAST(8 + doc_id % 9 AS BIGINT) *
              CAST(8 + doc_id % 7 AS BIGINT) >= 100),
      n AS (
        SELECT vec_id, embedding,
               ${duckSrp("embedding")} AS bucket,
               sqrt(list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                 AS nrm
        FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM kept))
      SELECT id_a, id_b, cos FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(generate_series(1, 64), i ->
                 CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (a.nrm * b.nrm) AS cos
        FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      WHERE cos >= 0.3 ORDER BY id_a, id_b"""))

  /** Dynamic-schema column profiling of the customer table — counts,
    * lexicographic bounds, top value per column; see
    * [[graft.ops.Profiler.profile]]. */
  private val q289 = Q("q289_profile",
    (s, dir) => graft.ops.Profiler.profile(t(s, dir, "customer")),
    Some(Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
      .map(duckProfileCol("customer", _))
      .mkString("", "\n      UNION ALL\n", "\n      ORDER BY col_name")))

  val all: Seq[Q] = Seq(q9, q10, q17, q18, q19, q20, q21, q22, q23, q24,
    q25, q26, q27, q29, q30, q31, q32, q44, q46, q51, q52,
    q56, q57, q58, q59, q60, q69, q70, q75, q76, q81, q86, q88, q90, q92,
    q97, q114, q115, q116, q118, q119, q120, q121, q122, q124, q125, q126,
    q127, q128, q129, q130, q131, q132, q133, q134, q135, q136, q137, q138,
    q139, q140, q141, q142, q143, q144, q145, q146, q147, q148, q149, q150,
    q151, q154, q163, q164, q165, q166, q167, q168, q169, q170,
    q171, q172, q173, q174, q175, q176, q177, q178, q179, q180, q181, q182,
    q183, q184, q185, q186, q187, q188, q189, q190, q191, q192, q193, q194,
    q195, q196, q197, q198, q199, q200, q201, q202, q203, q204, q205, q206,
    q207, q208, q209, q210, q211, q212, q213, q214, q215, q216, q217,
    q218, q219, q220, q221, q222, q223, q224, q225, q226, q227, q228,
    q229, q230, q231, q232, q233, q234, q235, q236, q237, q238,
    q239, q240, q241, q242, q243, q244, q245, q246, q247, q248, q249,
    q250, q251, q252, q253, q254, q255, q256, q257, q258, q259, q260, q261,
    q262, q263, q264, q265, q266, q267, q268, q269, q270, q271, q272, q273, q274, q275, q276, q277, q278, q279, q280, q281, q282, q283, q284, q285, q286, q287, q288, q289, q290, q291, q292, q293, q294, q295, q296, q297, q298, q299, q300, q302)
}
