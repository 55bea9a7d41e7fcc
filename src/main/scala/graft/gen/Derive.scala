package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic derivation of a Common-Crawl-style `web_pages` table
  * (url, warc_ts, html, text, lang, part) from the driver-provided
  * `documents` parquet, with known violation-bearing subsets injected by
  * pure arithmetic on `doc_id` — the engine-side twin of the reference's
  * annotated example corpus (reference: src/sssom_pydantic/examples.py:127-675,
  * one example engineered per constraint).
  *
  * Everything here is expressible in ANSI-ish SQL so the driver's DuckDB
  * oracle (see [[Derive.duckCte]]) computes the identical table; keep the
  * two in lockstep.
  *
  * Injection map (mod-arithmetic on doc_id, mutually deterministic):
  *   - doc_id %  97 == 3  → url NULL            (required-field violation)
  *   - doc_id %  97 == 5  → url malformed       (URI well-formedness)
  *   - doc_id %  13 == 12 → url of doc_id-7     (uniqueness violation; same domain)
  *   - doc_id % 103 == 9  → warc_ts NULL        (required / type coercion)
  *   - doc_id % 101 == 7  → warc_ts before crawl window (range violation)
  *   - doc_id %  89 == 7  → lang 'zz'           (enum violation)
  *   - doc_id %  91 == 8  → lang ''             (enum violation)
  *   - doc_id %  83 == 11 → text ''             (required + cross-field)
  *   - doc_id % 107 == 21 → html empty          (cross-field counterpart)
  */
object Derive {

  /** Crawl window [2026-01-01T00:00Z, 2026-03-31T24:00Z) in epoch seconds. */
  val WindowStart: Long = 1767225600L
  val WindowLen: Long = 7776000L
  /** Allowed language codes (enum membership, reference constants.py:46-59). */
  val LangEnum: Seq[String] = Seq("en", "de", "fr", "es", "zh")
  /** Number of table partitions (the per-partition verdict unit). */
  val NumParts: Int = 8

  /** Spark-side derivation. `html` is real `binary` per the input hint. */
  def webPages(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.io.Tables.read(spark, s"$sfDir/documents.parquet")
    val d = col("doc_id")
    val baseUrl = concat(
      lit("https://ex"), d % 7, lit(".org/doc/"),
      when(d % 13 === 12, d - 7).otherwise(d))
    val url = when(d % 97 === 3, lit(null).cast("string"))
      .when(d % 97 === 5, concat(lit("not a url "), d))
      .otherwise(baseUrl)
    val tsEpoch = when(d % 103 === 9, lit(null).cast("long"))
      .when(d % 101 === 7, lit(1750000000L))
      .otherwise(lit(WindowStart) + (d * 7919) % WindowLen)
    val langC = when(d % 89 === 7, lit("zz"))
      .when(d % 91 === 8, lit(""))
      .otherwise(col("lang"))
    val textC = when(d % 83 === 11, lit("")).otherwise(col("text"))
    val htmlStr = when(d % 107 === 21, lit(""))
      .otherwise(concat(lit("<html><body>"), col("text"), lit("</body></html>")))
    docs.select(
      d.as("doc_id"),
      url.as("url"),
      to_timestamp(tsEpoch).as("warc_ts"),
      encode(htmlStr, "UTF-8").as("html"),
      textC.as("text"),
      langC.as("lang"),
      (d % 8).cast("int").as("part")
    )
  }

  /** Referential-integrity target (FIXTURES.md §B.2): the fetch-lineage
    * table every valid page url must join to. Deterministically omits
    * doc_id % 6 == 5 so a known subset of pages dangles (the
    * `derived_from` dangling-edge analogue, neo4j_database.py:118-121).
    */
  def lineage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.io.Tables.read(spark, s"$sfDir/documents.parquet")
    val d = col("doc_id")
    docs.filter(d % 6 =!= 5).select(
      concat(lit("https://ex"), d % 7, lit(".org/doc/"), d).as("url"),
      to_timestamp(lit(WindowStart) + (d * 7919) % WindowLen).as("warc_ts"),
      concat(lit("fetch-"), d).as("fetch_id"))
  }

  /** Predicate enum for the derived mappings table (skos, in the fixed
    * order both engines index by `doc_id % 5`).
    */
  val PredEnum: Seq[String] = Seq(
    "skos:exactMatch", "skos:broadMatch", "skos:narrowMatch",
    "skos:closeMatch", "skos:relatedMatch")
  val ObjPrefixes: Seq[String] = Seq("wd", "dbp", "yago")

  /** Deterministic mapping-record table derived from `documents` — the
    * carrier for the reference's record-level operator families (canonical
    * record hash, triple hash, invert, curate, compare, sort DSL;
    * reference: src/sssom_pydantic/models.py record shape). Dates are ISO
    * strings and confidences 3-decimal grid values so canonical rendering
    * is engine-exact. Mirrored verbatim in [[mappingsCte]] — keep in
    * lockstep.
    *
    * Injection map (mod-arithmetic on doc_id):
    *   - d % 5          → predicate from [[PredEnum]]
    *   - d % 17 == 4    → predicate_modifier 'Not'   (negated mappings)
    *   - d % 11 == 0    → justification MappingInversion (double-inversion guard)
    *   - else d % 3 == 0→ justification ManualMappingCuration (+author)
    *   - else           → justification LexicalMatching (+tool, similarity)
    *   - d % 19 == 2    → confidence NULL
    *   - d % 13 == 6/7  → reviewer_agreement 0.0 / 1.0 (+reviewer, review_date)
    *   - d % 23 == 3    → mapping_date NULL; d % 4 == 1 → publication_date NULL
    */
  def mappings(spark: SparkSession, sfDir: String): DataFrame =
    mappingsOf(graft.io.Tables.read(spark, s"$sfDir/documents.parquet"))

  /** Same derivation from any `doc_id`-bearing input (every field is
    * pure arithmetic on the id) — lets benches derive arbitrarily large
    * mapping tables from `spark.range`.
    */
  def mappingsOf(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val predicate = element_at(
      array(PredEnum.map(lit): _*), (d % 5).cast("int") + 1)
    val objPrefix = element_at(
      array(ObjPrefixes.map(lit): _*), (d % 3).cast("int") + 1)
    val justification = when(d % 11 === 0, lit("semapv:MappingInversion"))
      .when(d % 3 === 0, lit("semapv:ManualMappingCuration"))
      .otherwise(lit("semapv:LexicalMatching"))
    val isManual = d % 11 =!= 0 && d % 3 === 0
    val isLexical = d % 11 =!= 0 && d % 3 =!= 0
    val isReviewed = d % 13 === 6 || d % 13 === 7
    def iso(base: String, span: Int): Column =
      date_format(date_add(lit(base).cast("date"), (d % span).cast("int")), "yyyy-MM-dd")
    docs.select(
      d.as("mapping_id"),
      concat(lit("ex"), d % 7, lit(":doc/"), d).as("subject_id"),
      concat(lit("doc "), d).as("subject_label"),
      predicate.as("predicate_id"),
      when(d % 17 === 4, lit("Not")).otherwise(lit(null).cast("string"))
        .as("predicate_modifier"),
      concat(objPrefix, lit(":Q"), (d * 37) % 5000).as("object_id"),
      concat(lit("entity "), (d * 37) % 5000).as("object_label"),
      justification.as("justification"),
      when(isManual, concat(lit("orcid:0000-000"), d % 4))
        .otherwise(lit(null).cast("string")).as("author_id"),
      when(d % 19 === 2, lit(null).cast("double"))
        .otherwise(((d * 7919) % 1000).cast("double") / 1000.0).as("confidence"),
      when(d % 13 === 6, lit(0.0)).when(d % 13 === 7, lit(1.0))
        .otherwise(lit(null).cast("double")).as("reviewer_agreement"),
      when(isReviewed, concat(lit("orcid:0000-111"), d % 3))
        .otherwise(lit(null).cast("string")).as("reviewer_id"),
      when(d % 23 === 3, lit(null).cast("string")).otherwise(iso("2026-01-01", 90))
        .as("mapping_date"),
      when(d % 4 === 1, lit(null).cast("string")).otherwise(iso("2025-06-01", 200))
        .as("publication_date"),
      when(isReviewed, iso("2026-03-01", 30)).otherwise(lit(null).cast("string"))
        .as("review_date"),
      when(isLexical, concat(lit("tool-"), d % 3)).otherwise(lit(null).cast("string"))
        .as("mapping_tool"),
      when(isLexical, ((d * 31) % 100).cast("double") / 100.0)
        .otherwise(lit(null).cast("double")).as("similarity_score"))
  }

  /** Raw-string ingest twin of [[webPages]]: the typed fields arrive as
    * the strings a crawler hands us, with deterministically injected
    * unparseable rows — the carrier for the `Coercible` constraint (the
    * reference's single most-hit validator: per-line pydantic coercion
    * errors, io.py:894-907 + models.py:94-146). Valid values are built
    * by pure integer concat (never via float/date formatting) so both
    * engines derive byte-identical strings; the invalid-calendar-date
    * injection ('2026-02-30') pins real calendar semantics cross-engine,
    * not just lexical shape. Mirrored verbatim in [[duckRawCte]] — keep
    * in lockstep.
    *
    * Injection map (mod-arithmetic on doc_id):
    *   - d % 103 == 9  → warc_ts_raw NULL          (required owns it; NOT a coercion hit)
    *   - d % 109 == 13 → warc_ts_raw 'ts:<d>'      (unparseable)
    *   - d % 109 == 40 → warc_ts_raw '2026-02-30 10:00:00' (invalid date)
    *   - d % 111 == 17 → fetch_ms_raw '<d>ms'      (unparseable bigint)
    *   - d % 111 == 30 → fetch_ms_raw ''           (empty: not applicable)
    *   - d % 115 == 2  → conf_raw 'very-high'      (unparseable double)
    *   - d % 115 == 60 → conf_raw '0.<x>.<x>'      (double dot)
    */
  def webPagesRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.io.Tables.read(spark, s"$sfDir/documents.parquet")
    val d = col("doc_id")
    def p2(c: Column): Column = lpad(c.cast("string"), 2, "0")
    val validTs = concat(lit("2026-0"), d % 3 + 1, lit("-"), p2(d % 28 + 1),
      lit(" "), p2(d % 24), lit(":"), p2(d % 60), lit(":"), p2((d * 7) % 60))
    val tsRaw = when(d % 103 === 9, lit(null).cast("string"))
      .when(d % 109 === 13, concat(lit("ts:"), d))
      .when(d % 109 === 40, lit("2026-02-30 10:00:00"))
      .otherwise(validTs)
    val msRaw = when(d % 111 === 17, concat(d, lit("ms")))
      .when(d % 111 === 30, lit(""))
      .otherwise((d * 13).cast("string"))
    val confRaw = when(d % 115 === 2, lit("very-high"))
      .when(d % 115 === 60, concat(lit("0."), d % 10, lit("."), d % 10))
      .otherwise(concat(lit("0."), (d * 7919) % 1000))
    docs.select(
      d.as("doc_id"),
      tsRaw.as("warc_ts_raw"),
      msRaw.as("fetch_ms_raw"),
      confRaw.as("conf_raw"),
      (d % 8).cast("int").as("part"))
  }

  /** DuckDB CTE computing the identical raw-ingest table (LOCKSTEP with
    * [[webPagesRaw]] — change both or neither).
    */
  val duckRawCte: String =
    """WITH web_pages_raw AS (
      |  SELECT
      |    doc_id,
      |    CASE WHEN doc_id % 103 = 9 THEN NULL
      |         WHEN doc_id % 109 = 13 THEN 'ts:' || doc_id
      |         WHEN doc_id % 109 = 40 THEN '2026-02-30 10:00:00'
      |         ELSE '2026-0' || (doc_id % 3 + 1) || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
      |           ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
      |           ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') ||
      |           ':' || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0') END AS warc_ts_raw,
      |    CASE WHEN doc_id % 111 = 17 THEN doc_id || 'ms'
      |         WHEN doc_id % 111 = 30 THEN ''
      |         ELSE CAST(doc_id * 13 AS VARCHAR) END AS fetch_ms_raw,
      |    CASE WHEN doc_id % 115 = 2 THEN 'very-high'
      |         WHEN doc_id % 115 = 60 THEN '0.' || (doc_id % 10) || '.' || (doc_id % 10)
      |         ELSE '0.' || ((doc_id * 7919) % 1000) END AS conf_raw,
      |    CAST(doc_id % 8 AS INTEGER) AS part
      |  FROM documents
      |)""".stripMargin

  /** DuckDB CTE computing the identical mappings table. */
  val mappingsCte: String =
    """mappings AS (
      |  SELECT
      |    doc_id AS mapping_id,
      |    'ex' || (doc_id % 7) || ':doc/' || doc_id AS subject_id,
      |    'doc ' || doc_id AS subject_label,
      |    (['skos:exactMatch','skos:broadMatch','skos:narrowMatch','skos:closeMatch','skos:relatedMatch'])[CAST(doc_id % 5 AS INT) + 1] AS predicate_id,
      |    CASE WHEN doc_id % 17 = 4 THEN 'Not' END AS predicate_modifier,
      |    (['wd','dbp','yago'])[CAST(doc_id % 3 AS INT) + 1] || ':Q' || ((doc_id * 37) % 5000) AS object_id,
      |    'entity ' || ((doc_id * 37) % 5000) AS object_label,
      |    CASE WHEN doc_id % 11 = 0 THEN 'semapv:MappingInversion'
      |         WHEN doc_id % 3 = 0 THEN 'semapv:ManualMappingCuration'
      |         ELSE 'semapv:LexicalMatching' END AS justification,
      |    CASE WHEN doc_id % 11 <> 0 AND doc_id % 3 = 0 THEN 'orcid:0000-000' || (doc_id % 4) END AS author_id,
      |    CASE WHEN doc_id % 19 = 2 THEN NULL
      |         ELSE CAST((doc_id * 7919) % 1000 AS DOUBLE) / 1000.0 END AS confidence,
      |    CASE WHEN doc_id % 13 = 6 THEN 0.0 WHEN doc_id % 13 = 7 THEN 1.0 END AS reviewer_agreement,
      |    CASE WHEN doc_id % 13 IN (6, 7) THEN 'orcid:0000-111' || (doc_id % 3) END AS reviewer_id,
      |    CASE WHEN doc_id % 23 = 3 THEN NULL
      |         ELSE CAST(DATE '2026-01-01' + CAST(doc_id % 90 AS INT) AS VARCHAR) END AS mapping_date,
      |    CASE WHEN doc_id % 4 = 1 THEN NULL
      |         ELSE CAST(DATE '2025-06-01' + CAST(doc_id % 200 AS INT) AS VARCHAR) END AS publication_date,
      |    CASE WHEN doc_id % 13 IN (6, 7) THEN CAST(DATE '2026-03-01' + CAST(doc_id % 30 AS INT) AS VARCHAR) END AS review_date,
      |    CASE WHEN doc_id % 11 <> 0 AND doc_id % 3 <> 0 THEN 'tool-' || (doc_id % 3) END AS mapping_tool,
      |    CASE WHEN doc_id % 11 <> 0 AND doc_id % 3 <> 0 THEN CAST((doc_id * 31) % 100 AS DOUBLE) / 100.0 END AS similarity_score
      |  FROM documents
      |)""".stripMargin

  /** DuckDB CTE computing the identical table (html kept as VARCHAR —
    * it never appears in query outputs, only `length(html)` does, and
    * the wrapped text is pure ASCII so char length == byte length).
    * `ts_epoch` carried alongside so range checks avoid timestamp codecs.
    */
  val duckCte: String =
    """WITH web_pages AS (
      |  SELECT
      |    doc_id,
      |    CASE WHEN doc_id % 97 = 3 THEN NULL
      |         WHEN doc_id % 97 = 5 THEN 'not a url ' || doc_id
      |         WHEN doc_id % 13 = 12 THEN 'https://ex' || (doc_id % 7) || '.org/doc/' || (doc_id - 7)
      |         ELSE 'https://ex' || (doc_id % 7) || '.org/doc/' || doc_id END AS url,
      |    CASE WHEN doc_id % 103 = 9 THEN NULL
      |         WHEN doc_id % 101 = 7 THEN 1750000000
      |         ELSE 1767225600 + (doc_id * 7919) % 7776000 END AS ts_epoch,
      |    CASE WHEN doc_id % 107 = 21 THEN ''
      |         ELSE '<html><body>' || text || '</body></html>' END AS html,
      |    CASE WHEN doc_id % 83 = 11 THEN '' ELSE text END AS text,
      |    CASE WHEN doc_id % 89 = 7 THEN 'zz'
      |         WHEN doc_id % 91 = 8 THEN ''
      |         ELSE lang END AS lang,
      |    CAST(doc_id % 8 AS INTEGER) AS part
      |  FROM documents
      |), lineage AS (
      |  SELECT 'https://ex' || (doc_id % 7) || '.org/doc/' || doc_id AS url,
      |         1767225600 + (doc_id * 7919) % 7776000 AS ts_epoch,
      |         'fetch-' || doc_id AS fetch_id
      |  FROM documents WHERE doc_id % 6 <> 5
      |)""".stripMargin
}
