package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Derive
import graft.multimodal.Multimodal
import graft.sim.{Ann, Sim}
import graft.text.TextOps

/** Training-data-pipeline queries (text analysis, near-dup detection,
  * similarity search, multimodal plumbing) + their DuckDB oracles.
  * Split from SparkEntry for readability; SparkEntry merges both maps.
  */
object TrainingQueries {

  /** The default hot-bucket budget, interpolated into the QUALIFY
    * mirrors below — ONE constant on both engines (BucketBudget).
    */
  private val Cap = graft.sim.BucketBudget.DefaultCap

  /** Deterministic boilerplate corpus for the active-cap gate entries:
    * 40 shared texts over all doc_ids — every LSH band bucket holds
    * ~|docs|/40 identical-signature members. Mirrored in
    * [[boilerplateCte]]; keep in lockstep.
    */
  private def boilerplateDocs(s: SparkSession, dir: String): DataFrame =
    graft.io.Tables.read(s, s"$dir/documents.parquet").select(
      col("doc_id"),
      concat(lit("shared boilerplate navigation text block number "),
        col("doc_id") % 40, lit(" end")).as("text"))

  private val boilerplateCte: String =
    """bp AS (
      |  SELECT doc_id,
      |    'shared boilerplate navigation text block number ' || (doc_id % 40) || ' end' AS text
      |  FROM documents
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ===== text analysis =====
    "t_tokens" -> ((s, dir) =>
      TextOps.tokenCounts(graft.io.Tables.read(s, s"$dir/documents.parquet"), "text")),
    "t_langid" -> ((s, dir) =>
      TextOps.languageId(graft.io.Tables.read(s, s"$dir/documents.parquet"), "text")),
    "t_quality" -> ((s, dir) =>
      TextOps.qualityScore(graft.io.Tables.read(s, s"$dir/documents.parquet"), "text")),
    "t_fingerprint" -> ((s, dir) =>
      TextOps.fingerprints(graft.io.Tables.read(s, s"$dir/documents.parquet"), "text")),

    // ===== near-dup detection =====
    // (the exact all-pairs ngram-Jaccard baseline is a TEST ORACLE, not a
    // suite entry — TextSimSpec grades MinHash LSH recall against it; the
    // default suite contains no all-pairs operator)
    // Scan.spread on the signature-ONLY entries: the one-pass codegen
    // signature fuses into the scan stage and the driver's one-row-group
    // parquet cannot split (guide §2.5) — without the spread the whole
    // pass runs on one core. The LSH pair pipelines spread inside
    // Sim.minhashSigBase instead, to a quarter of the cores: their cost
    // is the join cascade after the signature pass.
    "sim_minhash_sig" -> ((s, dir) =>
      Sim.minhashSignatures(
        graft.io.Scan.spread(graft.io.Tables.read(s, s"$dir/documents.parquet")),
        "doc_id", "text", n = 3, k = 8)),
    "sim_minhash_lsh" -> ((s, dir) =>
      Sim.minhashLshPairs(graft.io.Tables.read(s, s"$dir/documents.parquet"),
        "doc_id", "text", n = 3, k = 8, rows = 2, threshold = 0.2)),
    // hot-bucket budget, ACTIVE: a planted boilerplate corpus (40 shared
    // texts) makes every band bucket oversized at cap=2, so the capped
    // pair semantics AND the loud truncation channel are both
    // oracle-checked (QUALIFY row_number / HAVING count mirrors)
    "sim_lsh_budget" -> ((s, dir) =>
      Sim.minhashLshPairs(boilerplateDocs(s, dir),
        "doc_id", "text", n = 3, k = 8, rows = 2, threshold = 0.2,
        bucketCap = 2)),
    "sim_lsh_truncation" -> ((s, dir) =>
      Sim.minhashLshTruncation(boilerplateDocs(s, dir),
        "doc_id", "text", n = 3, k = 8, rows = 2, bucketCap = 2)),
    "sim_simhash" -> ((s, dir) =>
      Sim.simhash(graft.io.Scan.spread(graft.io.Tables.read(s, s"$dir/documents.parquet")),
        "doc_id", "text")),
    // bounded-width spread (cores/4) below the SimHash pass: full-width
    // spread measured worse inside the pair pipelines (task fan-out),
    // but the signature pass is still the dominant single-task
    // job — the narrow spread parallelizes it without the fan-out
    "sim_simhash_pairs" -> ((s, dir) =>
      Sim.simhashPairs(
        Sim.simhash(graft.io.Scan.spread(
          graft.io.Tables.read(s, s"$dir/documents.parquet"),
          math.max(2, s.sparkContext.defaultParallelism / 4)), "doc_id", "text"))),

    // ===== embedding similarity search =====
    "emb_knn" -> ((s, dir) => {
      val e = graft.io.Tables.read(s, s"$dir/embeddings.parquet")
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    }),
    "emb_neardup" -> ((s, dir) =>
      Ann.lshNearDupPairsMulti(graft.io.Tables.read(s, s"$dir/embeddings.parquet"),
        "vec_id", "embedding", dim = 64, threshold = 0.35, nTables = 1)),
    "emb_neardup_multi" -> ((s, dir) =>
      Ann.lshNearDupPairsMulti(graft.io.Tables.read(s, s"$dir/embeddings.parquet"),
        "vec_id", "embedding", dim = 64, threshold = 0.35)),
    "emb_lsh_buckets" -> ((s, dir) => {
      val e = graft.io.Tables.read(s, s"$dir/embeddings.parquet")
      e.select(col("vec_id"),
        Ann.lshBucket(transform(col("embedding"), x => x.cast("double")), 64).as("bucket"))
    }),
    "emb_ann_topk" -> ((s, dir) => {
      val e = graft.io.Tables.read(s, s"$dir/embeddings.parquet")
      Ann.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", dim = 64, k = 5)
    }),
    // IVF twin of the LSH path: cell assignment is a row-local unrolled
    // argmax over the (driver-sized) centroid set; search probes the 2
    // nearest cells per query via a broadcast join — corpus never shuffles
    "emb_ivf_topk" -> ((s, dir) => {
      val e = graft.io.Tables.read(s, s"$dir/embeddings.parquet")
      val cents = Ann.ivfCentroids(e, "vec_id", "embedding", stride = 31)
      Ann.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
        cents, k = 5, nprobe = 2)
    }),

    // ===== multimodal: metadata projection + REAL image decode =====
    "mm_features" -> ((s, dir) =>
      Multimodal.metadata(Derive.webPages(s, dir), "doc_id", "html")),
    // deterministic PNGs encoded then DECODED via javax.imageio; features
    // come from the decoded raster, and PNG losslessness makes the
    // generating arithmetic the oracle
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeImageFeatures(s,
        Multimodal.withSyntheticPng(s,
          graft.io.Tables.read(s, s"$dir/documents.parquet"), "doc_id")).toDF()),
    // deterministic PCM encoded to WAV then DECODED via javax.sound
    // (RIFF container + format parse are real); amplitude stats come
    // from the decoded samples — integers, so the oracle is exact
    "mm_audio" -> ((s, dir) =>
      Multimodal.decodeAudioFeatures(s,
        Multimodal.withSyntheticWav(s,
          graft.io.Tables.read(s, s"$dir/documents.parquet"), "doc_id")).toDF()),
    // deterministic YUV420 encoded as a real YUV4MPEG2 stream, then
    // byte-level container parse + every-2nd-frame sampling + luma sums
    "mm_video" -> ((s, dir) =>
      Multimodal.decodeVideoFeatures(s,
        Multimodal.withSyntheticY4m(s,
          graft.io.Tables.read(s, s"$dir/documents.parquet"), "doc_id"), step = 2).toDF())
  )

  // ---------- DuckDB oracle SQL ----------

  /** Tokens CTE shared by the text/sim oracles (parameterized source so
    * the boilerplate-corpus entries reuse the identical pipeline).
    */
  private def toksCteOver(src: String): String =
    s"""toks AS (SELECT doc_id, text,
       |  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
       |FROM $src)""".stripMargin
  private val toksCte = toksCteOver("documents")

  /** Distinct word-3-gram shingles CTE (builds on toks). */
  private val shinglesCte =
    """sh AS (SELECT doc_id,
      |  list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
      |FROM toks)""".stripMargin

  private def stops(l: String): String =
    TextOps.Stopwords.toMap.apply(l).map(w => s"'$w'").mkString("[", ", ", "]")

  private def hitExpr(l: String): String =
    s"CAST(len(list_filter(ws, t -> list_contains(${stops(l)}, t))) AS BIGINT)"

  /** Integer from the first `n` hex digits of md5(expr) — positional
    * arithmetic (DuckDB lacks conv()).
    */
  private def md5Int(expr: String, n: Int): String =
    (1 to n).map(i =>
      s"(strpos('0123456789abcdef', substr(md5($expr), $i, 1)) - 1) * ${math.pow(16, (n - i).toDouble).toLong}")
      .mkString("(", " + ", ")")

  private val minhashCols: Seq[String] =
    (1 to 8).map(i => s"list_aggregate(list_transform(shs, s -> md5('$i:' || s)), 'min') AS mh_$i")

  /** MinHash-LSH pair oracle, parameterized by input CTEs and the
    * hot-bucket cap — the QUALIFY row_number mirror of
    * [[graft.sim.BucketBudget.cap]] (LOCKSTEP with Sim.minhashLshPairs'
    * capped banding: same partition key, same ORDER BY id rule).
    */
  private def minhashLshOracleSql(srcCtes: String, cap: Int): String =
    s"""WITH $srcCtes,
       |sig AS (SELECT doc_id AS id, shs, ${minhashCols.mkString(",\n  ")} FROM sh),
       |bands AS (SELECT id, shs, j.band,
       |    CASE j.band WHEN 0 THEN md5(mh_1 || '|' || mh_2)
       |                WHEN 1 THEN md5(mh_3 || '|' || mh_4)
       |                WHEN 2 THEN md5(mh_5 || '|' || mh_6)
       |                ELSE md5(mh_7 || '|' || mh_8) END AS bkey
       |  FROM sig, (VALUES (0),(1),(2),(3)) j(band)
       |  QUALIFY row_number() OVER (PARTITION BY j.band, bkey ORDER BY id) <= $cap),
       |cand AS (SELECT DISTINCT a.id AS id_1, b.id AS id_2, a.shs AS shs_1, b.shs AS shs_2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
       |SELECT * FROM (
       |  SELECT id_1, id_2,
       |    round(len(list_intersect(shs_1, shs_2)) * 1.0
       |      / len(list_distinct(list_concat(shs_1, shs_2))), 6) AS jac
       |  FROM cand
       |) t WHERE jac >= 0.2""".stripMargin

  private val simhashSelect: String = {
    val v = md5Int("tok", 15)
    val sums = (0 until Sim.SimhashBits).map(b =>
      s"sum(CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b").mkString(",\n    ")
    val bits = (0 until Sim.SimhashBits).map(b =>
      s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""tv AS (SELECT doc_id AS id, $v AS v
       |  FROM (SELECT doc_id, unnest(ws) AS tok FROM toks) u),
       |ssum AS (SELECT id,
       |    $sums
       |  FROM tv GROUP BY id),
       |sim AS (SELECT id, CAST($bits AS BIGINT) AS simhash FROM ssum)""".stripMargin
  }

  private val embCte =
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

  /** LSH bucket expression over 8 deterministic integer-arithmetic
    * hyperplanes (must mirror Ann.hyperplaneWeight / Ann.lshBucket).
    */
  private val bucketsCte: String =
    """planes AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) p(j)),
      |dots AS (SELECT vec_id, j,
      |  round(list_sum(list_transform(generate_series(1, 64),
      |    d -> v[d] * (CAST((j * 2654435761 + d * 40503) % 1000003 AS DOUBLE) / 1000003.0 - 0.5))), 9) AS dot
      |  FROM e, planes),
      |buckets AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id)""".stripMargin

  /** Multi-table twin of [[bucketsCte]]: 3 independent plane sets (global
    * plane ids 0–23, table t = j/8, per-table bit j%8) — must mirror
    * Ann.lshNearDupPairsMulti's plane-offset bucket construction.
    */
  private val bucketsMultiCte: String = {
    val planeVals = (0 until 24).map(j => s"($j)").mkString(",")
    s"""mplanes AS (SELECT * FROM (VALUES $planeVals) p(j)),
       |mdots AS (SELECT vec_id, j,
       |  round(list_sum(list_transform(generate_series(1, 64),
       |    d -> v[d] * (CAST((j * 2654435761 + d * 40503) % 1000003 AS DOUBLE) / 1000003.0 - 0.5))), 9) AS dot
       |  FROM e, mplanes),
       |tbuckets AS (SELECT vec_id, j // 8 AS t,
       |  CAST(sum(CASE WHEN dot > 0 THEN (1 << (j % 8)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM mdots GROUP BY vec_id, j // 8),
       |mkeys AS (SELECT vec_id, t * 8 + p.j AS probe,
       |    bucket & ~(CAST(1 AS BIGINT) << p.j) AS key
       |  FROM tbuckets, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) p(j)
       |  QUALIFY row_number() OVER (PARTITION BY probe, key ORDER BY vec_id) <= ${graft.sim.BucketBudget.DefaultCap})""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "t_tokens" ->
      s"""WITH $toksCte
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_re_tokens
         |FROM toks""".stripMargin,
    "t_langid" ->
      s"""WITH $toksCte,
         |sc AS (SELECT doc_id, ${hitExpr("en")} AS s_en, ${hitExpr("de")} AS s_de,
         |       ${hitExpr("fr")} AS s_fr, ${hitExpr("es")} AS s_es FROM toks)
         |SELECT doc_id,
         |  CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es AND s_de > s_en THEN 'de'
         |       WHEN s_fr > 0 AND s_fr >= s_es AND s_fr > s_en AND s_fr > s_de THEN 'fr'
         |       WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es > s_fr THEN 'es'
         |       ELSE 'und' END AS pred_lang,
         |  s_en, s_de, s_fr, s_es
         |FROM sc""".stripMargin,
    "t_quality" ->
      s"""WITH $toksCte,
         |m AS (SELECT doc_id, len(ws) AS n_tok,
         |  CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |    / greatest(length(lower(text)), 1) AS punct_r,
         |  CAST(len(list_filter(ws, t -> list_contains(${stops("en")}, t))) AS DOUBLE)
         |    / greatest(len(ws), 1) AS stop_r
         |  FROM toks)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         |  round(punct_r, 6) AS punct_ratio, round(stop_r, 6) AS stop_ratio,
         |  round(1.0 / (1.0 + exp(-(n_tok * 0.05 + stop_r * 2.0 - punct_r * 5.0 - 2.0))), 6) AS quality
         |FROM m""".stripMargin,
    "t_fingerprint" ->
      s"""WITH $toksCte,
         |h AS (SELECT doc_id, list_transform(ws, w -> ${md5Int("w", 12)} % 1000003) AS hs FROM toks)
         |SELECT doc_id, CAST(CASE WHEN len(hs) = 0 THEN 0
         |  ELSE list_reduce(hs, (a, b) -> (a * 31 + b) % 1000003) END AS BIGINT) AS fp
         |FROM h""".stripMargin,
    "sim_minhash_sig" ->
      s"""WITH $toksCte, $shinglesCte
         |SELECT doc_id AS id, ${minhashCols.mkString(",\n  ")}
         |FROM sh""".stripMargin,
    "sim_minhash_lsh" -> minhashLshOracleSql(s"$toksCte, $shinglesCte", Cap),
    "sim_lsh_budget" -> minhashLshOracleSql(
      s"$boilerplateCte,\n${toksCteOver("bp")},\n$shinglesCte", 2),
    "sim_lsh_truncation" ->
      s"""WITH $boilerplateCte,
         |${toksCteOver("bp")},
         |$shinglesCte,
         |sig AS (SELECT doc_id AS id, ${minhashCols.mkString(",\n  ")} FROM sh),
         |bands AS (SELECT id, j.band,
         |    CASE j.band WHEN 0 THEN md5(mh_1 || '|' || mh_2)
         |                WHEN 1 THEN md5(mh_3 || '|' || mh_4)
         |                WHEN 2 THEN md5(mh_5 || '|' || mh_6)
         |                ELSE md5(mh_7 || '|' || mh_8) END AS bkey
         |  FROM sig, (VALUES (0),(1),(2),(3)) j(band))
         |SELECT band, bkey, CAST(count(*) AS BIGINT) AS n,
         |       CAST(count(*) - 2 AS BIGINT) AS dropped
         |FROM bands GROUP BY band, bkey HAVING count(*) > 2""".stripMargin,
    "sim_simhash" ->
      s"""WITH $toksCte,
         |$simhashSelect
         |SELECT id, simhash FROM sim""".stripMargin,
    "sim_simhash_pairs" ->
      s"""WITH $toksCte,
         |$simhashSelect,
         |bands AS (SELECT id, simhash, j.band,
         |    (simhash >> (j.band * ${Sim.SimhashBandBits})) & ${(1L << Sim.SimhashBandBits) - 1} AS bkey
         |  FROM sim, (VALUES (0),(1),(2),(3)) j(band)
         |  QUALIFY row_number() OVER (PARTITION BY j.band, bkey ORDER BY id) <= $Cap)
         |SELECT DISTINCT a.id AS id_1, b.id AS id_2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Sim.SimhashBands - 1}""".stripMargin,
    "emb_knn" ->
      s"""WITH $embCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |scored AS (SELECT query_id, e.vec_id AS id,
         |    round(list_cosine_similarity(qv, e.v), 6) AS cos
         |  FROM q, e WHERE e.vec_id <> q.query_id)
         |SELECT * FROM (
         |  SELECT query_id, id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS BIGINT) AS rank
         |  FROM scored
         |) t WHERE rank <= 10""".stripMargin,
    "emb_neardup" ->
      s"""WITH $embCte,
         |$bucketsCte,
         |keys AS (SELECT vec_id, j, bucket & ~(CAST(1 AS BIGINT) << j) AS key
         |  FROM buckets, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) p(j)
         |  QUALIFY row_number() OVER (PARTITION BY j, key ORDER BY vec_id) <= $Cap),
         |cand AS (SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
         |  FROM keys a JOIN keys b ON a.j = b.j AND a.key = b.key AND a.vec_id < b.vec_id)
         |SELECT * FROM (
         |  SELECT id_1, id_2, round(list_cosine_similarity(e1.v, e2.v), 6) AS cos
         |  FROM cand JOIN e e1 ON e1.vec_id = id_1 JOIN e e2 ON e2.vec_id = id_2
         |) t WHERE cos >= 0.35""".stripMargin,
    "emb_neardup_multi" ->
      s"""WITH $embCte,
         |$bucketsMultiCte,
         |cand AS (SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
         |  FROM mkeys a JOIN mkeys b ON a.probe = b.probe AND a.key = b.key AND a.vec_id < b.vec_id)
         |SELECT * FROM (
         |  SELECT id_1, id_2, round(list_cosine_similarity(e1.v, e2.v), 6) AS cos
         |  FROM cand JOIN e e1 ON e1.vec_id = id_1 JOIN e e2 ON e2.vec_id = id_2
         |) t WHERE cos >= 0.35""".stripMargin,
    "emb_lsh_buckets" ->
      s"""WITH $embCte,
         |$bucketsCte
         |SELECT vec_id, bucket FROM buckets""".stripMargin,
    // mirrors Ann.ivfCentroids(stride=31) / ivfCell / ivfProbeCells:
    // rounded-cosine argmax with smaller-cid tiebreak on both sides
    "emb_ivf_topk" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 31 = 0),
         |asg AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
         |    FROM e, cent c WHERE e.vec_id < 5) t WHERE rn <= 2),
         |scored AS (SELECT p.query_id, a.vec_id AS id,
         |    round(list_cosine_similarity(q.v, x.v), 6) AS cos
         |  FROM probes p JOIN asg a ON a.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id
         |  JOIN e x ON x.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.query_id)
         |SELECT * FROM (
         |  SELECT query_id, id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS BIGINT) AS rank
         |  FROM scored
         |) t WHERE rank <= 5""".stripMargin,
    "emb_ann_topk" ->
      s"""WITH $embCte,
         |$bucketsCte,
         |q AS (SELECT e.vec_id AS query_id, e.v AS qv, b.bucket
         |  FROM e JOIN buckets b USING (vec_id) WHERE e.vec_id < 5),
         |c AS (SELECT e.vec_id AS id, e.v AS cv, b.bucket
         |  FROM e JOIN buckets b USING (vec_id)),
         |scored AS (SELECT query_id, id, round(list_cosine_similarity(qv, cv), 6) AS cos
         |  FROM q JOIN c USING (bucket) WHERE id <> query_id)
         |SELECT * FROM (
         |  SELECT query_id, id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS BIGINT) AS rank
         |  FROM scored
         |) t WHERE rank <= 5""".stripMargin,
    // hex of the UTF-8 bytes: Spark hex(binary) and DuckDB hex(varchar)
    // both emit uppercase hex of the same byte sequence
    "mm_features" ->
      s"""${Derive.duckCte}
         |SELECT doc_id, CAST(octet_length(encode(html)) AS BIGINT) AS n_bytes,
         |       substr(hex(html), 1, 24) AS head_hex
         |FROM web_pages""".stripMargin,
    // mirrors Multimodal.syntheticPixel/syntheticDims — the decoded-pixel
    // sums equal the generating arithmetic because PNG is lossless
    "mm_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
        |         CAST(8 + doc_id % 7 AS INT) AS height
        |  FROM documents),
        |xs AS (SELECT unnest(generate_series(0, 16)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 14)) AS y),
        |px AS (
        |  SELECT d.doc_id, d.width, d.height,
        |         (d.doc_id * 31 + xs.x * 7  + ys.y * 13) % 256 AS r,
        |         (d.doc_id * 17 + xs.x * 11 + ys.y * 3 ) % 256 AS g,
        |         (d.doc_id * 29 + xs.x * 5  + ys.y * 19) % 256 AS b
        |  FROM dims d CROSS JOIN xs CROSS JOIN ys
        |  WHERE xs.x < d.width AND ys.y < d.height)
        |SELECT doc_id, width, height,
        |       CAST(sum(r) AS BIGINT) AS sum_r,
        |       CAST(sum(g) AS BIGINT) AS sum_g,
        |       CAST(sum(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, width, height""".stripMargin,
    // mirrors Multimodal.syntheticSample/syntheticSampleCount — the
    // decoded PCM equals the generating arithmetic (WAV is lossless)
    "mm_audio" ->
      """WITH s AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
        |samp AS (SELECT doc_id, n,
        |    (doc_id * 73 + i * 31 + (i * i % 997) * 7) % 65536 - 32768 AS amp
        |  FROM s, generate_series(0, 126) g(i) WHERE i < n)
        |SELECT doc_id, CAST(n AS INT) AS n_samples, CAST(8000 AS INT) AS sample_rate,
        |       CAST(sum(amp) AS BIGINT) AS sum_amp,
        |       CAST(min(amp) AS INT) AS min_amp, CAST(max(amp) AS INT) AS max_amp
        |FROM samp GROUP BY doc_id, n""".stripMargin,
    // mirrors Multimodal.syntheticVideoDims/syntheticLuma with step=2
    // frame sampling (f = 0, 2, 4, …)
    "mm_video" ->
      """WITH dims AS (SELECT doc_id, 16 + (doc_id % 5) * 2 AS w,
        |    8 + (doc_id % 4) * 2 AS h, 6 + doc_id % 5 AS nf FROM documents),
        |fr AS (SELECT doc_id, w, h, nf, f
        |  FROM dims, generate_series(0, 9) g(f) WHERE f < nf AND f % 2 = 0),
        |px AS (SELECT doc_id, w, h, nf, f,
        |    (doc_id * 19 + f * 83 + xs.x * 3 + ys.y * 11) % 256 AS yv
        |  FROM fr, generate_series(0, 23) xs(x), generate_series(0, 13) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(nf AS INT) AS n_frames,
        |       CAST(count(DISTINCT f) AS INT) AS n_sampled,
        |       CAST(sum(yv) AS BIGINT) AS sum_y
        |FROM px GROUP BY doc_id, w, h, nf""".stripMargin
  )
}
