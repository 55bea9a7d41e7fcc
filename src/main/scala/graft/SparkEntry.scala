package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Confidence
import graft.checks.{DatasetChecks, Invariants}
import graft.constraints.Constraints
import graft.dedup.Dedup
import graft.drift.Drift
import graft.gen.Derive
import graft.query.{PageQuery, QueryDsl, SetOps}
import graft.runner.Runner
import graft.stats.Stats

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry reads the driver-provided parquet tables under
  * `sfDir` and (where SQL-expressible) has a DuckDB oracle in `oracleSql`
  * producing identical rows, column names and types.
  */
object SparkEntry {

  /** Flagship: full webtext constraint suite → per-partition verdict grid
    * on sf0.001. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    Runner.verdicts(
      Derive.webPages(spark, "/root/testdata/sf0.001"),
      Constraints.webtextSuite)

  /** Pages whose url passed the raw + shape constraints — the "validated
    * rows continue downstream" stage (pass-channel of io.py:691-701).
    */
  private def validPages(df: DataFrame): DataFrame =
    df.filter(Constraints.validUrl)

  private val validUrlWhere =
    "url IS NOT NULL AND length(url) > 0 AND " +
      s"regexp_matches(url, '${Constraints.UrlPattern}')" // ONE pattern definition

  /** Baseline snapshot with a known mutated-text subset (doc_id%113==44),
    * for the digest-invariant cross-run check.
    */
  private def mutatedBaseline(df: DataFrame): DataFrame =
    df.withColumn("text",
      when(col("doc_id") % 113 === 44, concat(col("text"), lit(" mutated")))
        .otherwise(col("text")))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    TrainingQueries.queries ++ MappingQueries.queries ++ Map(
    // ===== core graft: row validation → violations + verdicts =====
    "violations" -> ((s, dir) =>
      Runner.violations(Derive.webPages(s, dir), Constraints.webtextSuite,
        keyCols = Seq("doc_id", "url"))),
    "verdicts" -> ((s, dir) =>
      Runner.verdicts(Derive.webPages(s, dir), Constraints.webtextSuite)),
    // raw-string ingest stage: per-line type-coercion errors (the
    // reference's most-hit validator, io.py:894-907) — try_cast
    // null-on-failure over a string-typed twin of the page table with
    // injected unparseable rows, incl. an invalid CALENDAR date so the
    // two engines' cast semantics are pinned beyond lexical shape
    "violations_coerce" -> ((s, dir) =>
      Runner.violations(Derive.webPagesRaw(s, dir), Constraints.coercionSuite,
        keyCols = Seq("doc_id"))),

    // ===== dataset-level checks folded into the same shapes =====
    "v_unique" -> ((s, dir) =>
      DatasetChecks.uniquenessViolations(validPages(Derive.webPages(s, dir)), mergeJoins = false)),
    "verdicts_full" -> ((s, dir) => {
      val wp = Derive.webPages(s, dir)
      val valid = validPages(wp)
      val counts = DatasetChecks.urlCheckCounts(
        DatasetChecks.urlViolations(valid, Derive.lineage(s, dir), mergeJoins = false))
      // url rows only for parts with a valid url (the oracle's pcv)
      val pc = valid.groupBy(col("part")).agg(count(lit(1)).as("row_count"))
      val agg = pc.join(counts, Seq("part"), "left")
        .select(col("part") +: col("row_count") +: DatasetChecks.UrlChecks.map(c =>
          coalesce(col(s"v_$c"), lit(0L)).as(s"v_$c")): _*)
      Runner.verdicts(wp, Constraints.webtextSuite)
        .unionByName(Runner.verdictRowsFromAgg(agg, DatasetChecks.UrlChecks))
    }),

    // ===== per-partition column statistics (condensation pass analogue) =====
    // primary entry: HLL++ distinct with its error bound verified against
    // the exact count and emitted as a boolean (scale path is the sketch;
    // the exact twin below is the oracle-only variant)
    "m_stats" -> ((s, dir) =>
      Stats.columnStatsChecked(Derive.webPages(s, dir), Seq("url", "lang"))),
    "m_stats_exact" -> ((s, dir) =>
      Stats.columnStats(Derive.webPages(s, dir), Seq("url", "lang"), exact = true)
        .withColumnRenamed("column", "col_name")),
    // ===== fused validate+profile: verdicts AND stats from ONE scan =====
    // (reference computes both in one read pass; oracles are ALIASES of
    // the verdicts / m_stats oracles — fused must equal unfused exactly)
    "fused_verdicts" -> ((s, dir) => {
      val wp = Derive.webPages(s, dir)
      graft.runner.Profile.verdictRows(
        graft.runner.Profile.fusedAggregate(wp, Constraints.webtextSuite,
          Seq("url", "lang")),
        Constraints.webtextSuite)
    }),
    "fused_stats" -> ((s, dir) => {
      val wp = Derive.webPages(s, dir)
      graft.runner.Profile.statRowsChecked(
        graft.runner.Profile.fusedAggregate(wp, Constraints.webtextSuite,
          Seq("url", "lang"), checked = true),
        Seq("url", "lang"))
    }),
    "m_len_hist" -> ((s, dir) =>
      Stats.lengthHistogram(Derive.webPages(s, dir), "text")),
    // GK quantile sketch with its rank-error bound verified against the
    // exact order statistics (the quantile twin of m_stats's HLL check;
    // scale path is Stats.approxQuantiles, sketch-only)
    "m_quantiles" -> ((s, dir) =>
      Stats.quantilesChecked(Derive.webPages(s, dir), length(col("text")))),

    // ===== heavy hitters: sampled hot-domain pre-pass =====
    // deterministic 1/4 systematic sample → domain counts → keys hot
    // enough to warrant the salted dedup path (north rule: hot domains);
    // the sample groupBy shuffles a quarter of the rows, nothing else
    "m_hot_domains" -> ((s, dir) =>
      Dedup.hotKeys(validPages(Derive.webPages(s, dir)),
        regexp_extract(col("url"), "^https?://([^/]+)/", 1),
        col("doc_id"), mod = 4, threshold = 10)
        .withColumnRenamed("key", "domain")),

    // ===== uniqueness / dedup (process.py:99-147 arg-max semantics) =====
    "dedup_url" -> ((s, dir) =>
      Dedup.uniqueByKey(validPages(Derive.webPages(s, dir)),
        col("url"), DatasetChecks.latestWins, payload = Seq("doc_id"))
        .withColumnRenamed("key", "url")),
    "dedup_url_salted" -> ((s, dir) =>
      Dedup.uniqueByKeySalted(validPages(Derive.webPages(s, dir)),
        col("url"), DatasetChecks.latestWins, payload = Seq("doc_id"), salts = 16)
        .withColumnRenamed("key", "url")),
    "dup_report" -> ((s, dir) =>
      Dedup.duplicateReport(validPages(Derive.webPages(s, dir)), col("url"))
        .withColumnRenamed("key", "url")),
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactByContent(graft.io.Tables.read(s, s"$dir/documents.parquet"),
        col("text"), col("doc_id"))),

    // ===== referential integrity (dangling lineage, left-anti) =====
    "ri_dangling" -> ((s, dir) =>
      Dedup.danglingRows(
        validPages(Derive.webPages(s, dir)).select("part", "doc_id", "url"),
        Derive.lineage(s, dir), "url", broadcastParent = true)
        .select("part", "doc_id", "url")),

    // ===== distribution drift (KL/PSI) =====
    "drift_lang" -> ((s, dir) => {
      val wp = Derive.webPages(s, dir).filter(col("lang").isin(Derive.LangEnum: _*))
      Drift.klPsi(
        Drift.histogram(wp.filter(col("part") < 4), col("lang")),
        Drift.histogram(wp.filter(col("part") >= 4), col("lang")))
    }),
    "drift_len" -> ((s, dir) => {
      val wp = Derive.webPages(s, dir)
      val bucket = Stats.log2Bucket(length(col("text")))
      Drift.klPsi(
        Drift.histogram(wp.filter(col("part") < 4), bucket),
        Drift.histogram(wp.filter(col("part") >= 4), bucket),
        smoothing = 0.5)
    }),

    // ===== content-digest invariant (api.py:883-936 analogue) =====
    "digest" -> ((s, dir) =>
      Derive.webPages(s, dir)
        .select(col("part"), col("doc_id"), col("url"), md5(col("text")).as("text_md5"))),
    // reference-faithful FNV-1a digest (custom codegen expression);
    // oracle-checked by a byte-level DuckDB fold over the UTF-8 encoding
    // of the page text (golden vectors in Fnv64Spec remain the
    // spec-level cross-check)
    "digest_fnv" -> ((s, dir) =>
      Derive.webPages(s, dir)
        .select(col("doc_id"), col("url"),
          graft.checks.Invariants.textDigest(col("text")).as("fnv64_hex"))),
    "digest_changed" -> ((s, dir) => {
      val cur = Derive.webPages(s, dir)
      Invariants.digestChanged(cur, mutatedBaseline(cur),
        keyCols = Seq("doc_id"), digest = md5(col("text")))
    }),

    // ===== query DSL: declarative filter compiled to one predicate =====
    "f_query" -> ((s, dir) =>
      QueryDsl.filterPages(Derive.webPages(s, dir),
        PageQuery(textContains = Some("SPARK"), langIn = Some(Seq("en", "de")),
          minTextLen = Some(50)))
        .select("doc_id", "url")),
    "f_whitelist" -> ((s, dir) =>
      QueryDsl.filterPages(Derive.webPages(s, dir),
        PageQuery(langIn = Some(Seq("en"))),
        urlWhitelist = Some(Derive.lineage(s, dir)))
        .select("doc_id", "url")),

    // ===== sort DSL / pagination / top-k =====
    "q_sort_paginate" -> ((s, dir) =>
      QueryDsl.paginate(
        Derive.webPages(s, dir)
          .orderBy(length(col("text")).desc, col("url").asc_nulls_last, col("doc_id").asc),
        offset = 10, limit = 20)
        .select("doc_id")),
    "q_topk" -> ((s, dir) =>
      Derive.webPages(s, dir)
        .orderBy(length(col("text")).desc, col("doc_id").asc)
        .limit(15)
        .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))),

    // ===== set operations (VennSets, compare.py:338-354) =====
    "s_venn" -> ((s, dir) => {
      val docs = graft.io.Tables.read(s, s"$dir/documents.parquet")
      SetOps.vennCounts(docs.filter(col("lang") === "en"),
        docs.filter(col("source") === "src3"), "doc_id")
    }),
    "s_venn_split" -> ((s, dir) => {
      val docs = graft.io.Tables.read(s, s"$dir/documents.parquet")
      SetOps.vennSplit(docs.filter(col("lang") === "en"),
        docs.filter(col("source") === "src3"), "doc_id")
    }),
    "s_exclude" -> ((s, dir) => {
      val docs = graft.io.Tables.read(s, s"$dir/documents.parquet")
      SetOps.excludeByKey(docs, docs.filter(col("lang") === "zh"), col("doc_id"))
        .select("doc_id")
    }),
    // multi-set merge with schema reconciliation (cli.py:269-288
    // `itt.chain` over files with differing columns): three slices with
    // deliberately different column sets; unionByName fills the gaps
    // with NULL, bag semantics preserved (mirrors UNION ALL BY NAME)
    "s_merge_sets" -> ((s, dir) => {
      val docs = graft.io.Tables.read(s, s"$dir/documents.parquet")
      SetOps.merge(Seq(
        docs.filter(col("source") === "src1")
          .select(col("doc_id"), col("lang"), lit("a").as("src_set")),
        docs.filter(col("source") === "src2")
          .select(col("doc_id"), col("n_chars"), lit("b").as("src_set")),
        docs.filter(col("lang") === "zh")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            lit("c").as("src_set"))))
    }),

    // ===== confidence aggregation algebra (process.py:472-568) =====
    "conf_mean" -> ((s, dir) =>
      Confidence.aggregate(graft.io.Tables.read(s, s"$dir/events.parquet"),
        Seq("event_type"), lit(1.0) / (lit(1.5) + col("value")),
        Confidence.Mean, negated = col("event_type") === "error")),
    "conf_noisyor" -> ((s, dir) =>
      Confidence.aggregate(graft.io.Tables.read(s, s"$dir/events.parquet"),
        Seq("event_type"), lit(1.0) / (lit(1.5) + col("value")),
        Confidence.Binomial, negated = col("event_type") === "error")),

    // ===== canonical-write pipeline (io.py:974-1009 format) =====
    "fmt_canonical" -> ((s, dir) => {
      val wp = validPages(Derive.webPages(s, dir))
      graft.io.Formatter.canonicalize(
        wp, col("url"), DatasetChecks.latestWins, payload = Seq("doc_id"),
        sortCols = Seq(col("key").asc),
        exclude = Some(Derive.webPages(s, dir).filter(col("lang") === "zz")),
        excludeKey = Some(col("url")))
        .withColumnRenamed("key", "url")
    }),
    "fmt_condense" -> ((s, dir) =>
      graft.io.Formatter.condensable(
        graft.io.Tables.read(s, s"$dir/documents.parquet").filter(col("source") === "src3"),
        Seq("lang", "source"))),

    // ===== scalar-function coverage: JSON, multivalued codec =====
    "f_json" -> ((s, dir) =>
      graft.io.Tables.read(s, s"$dir/events.parquet")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),
    "f_multivalued" -> ((s, dir) =>
      graft.io.Tables.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("__ws"))
        .select(col("doc_id"),
          array_join(slice(col("__ws"), 1, 3), "|").as("joined"),
          size(col("__ws")).cast("long").as("n_tokens"))),

    // ===== group-merge (merge_manual_curations, process.py:999-1027) =====
    "agg_merge" -> ((s, dir) =>
      graft.io.Tables.read(s, s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(
          array_join(array_sort(collect_set(col("l_returnflag"))), "|").as("flags"),
          // "all members share one status" via min = max, NOT
          // countDistinct: a distinct aggregate mixed with non-distinct
          // ones triggers Catalyst's double-aggregation rewrite (a
          // SECOND exchange keyed (group, distinct-col)); min/max are
          // plain partial aggregates, same null semantics (both ignore
          // nulls; all-null group -> null = null -> null either way)
          when(min(col("l_linestatus")) === max(col("l_linestatus")),
            min(col("l_linestatus")))
            .otherwise(lit(null).cast("string")).as("status_if_uniform"),
          count(lit(1)).as("n_members"))),

    // ===== row mutations (curate pattern) + same-text normalization =====
    "mut_update" -> ((s, dir) =>
      graft.mutate.Mutations.conditionalUpdate(
        graft.io.Tables.read(s, s"$dir/events.parquet"),
        col("event_type") === "error",
        Map("value" -> lit(0.0), "event_type" -> lit("curated")))
        .select(col("event_id"), col("event_type"), round(col("value"), 2).as("value"))),
    "f_normtext" -> ((s, dir) =>
      graft.io.Tables.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"),
          md5(QueryDsl.normText(col("text"))).as("norm_md5"))),

    // ===== point lookup (get_mapping key probe, repo.py:127-141) =====
    "q_lookup" -> ((s, dir) =>
      Derive.webPages(s, dir)
        .filter(col("url") === "https://ex0.org/doc/42")
        .select("part", "doc_id", "url", "lang")),

    // ===== symmetric canonical key (get_canonical_tuple, process.py:150-153) =====
    "agg_symmetric_key" -> ((s, dir) =>
      graft.io.Tables.read(s, s"$dir/lineitem.parquet")
        .groupBy(
          least(col("l_partkey"), col("l_suppkey")).as("k1"),
          greatest(col("l_partkey"), col("l_suppkey")).as("k2"))
        .agg(count(lit(1)).as("n"))),

    // ===== general relational coverage (TPC-H-ish) =====
    "q1_agg" -> ((s, dir) => {
      val li = graft.io.Tables.read(s, s"$dir/lineitem.parquet")
      li.filter(col("l_shipdate") < lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q3_join" -> ((s, dir) => {
      val cust = graft.io.Tables.read(s, s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = graft.io.Tables.read(s, s"$dir/orders.parquet")
        .filter(col("o_orderdate") < lit("1998-01-01"))
      val li = graft.io.Tables.read(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") > lit("1998-01-01"))
      li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        // exact decimal sum: a double sum's rounding depends on the order of addition
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount").cast("decimal(12,2)"))), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    "q_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      graft.io.Tables.read(s, s"$dir/orders.parquet")
        .select(
          col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"),
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_total"))
    }),
    "q_counts" -> ((s, dir) =>
      graft.io.Tables.read(s, s"$dir/lineitem.parquet")
        .select(explode(array(col("l_partkey"), col("l_suppkey"))).as("entity"))
        .groupBy(col("entity")).agg(count(lit(1)).as("n"))),
    "q_count_unique" -> ((s, dir) =>
      graft.io.Tables.read(s, s"$dir/lineitem.parquet")
        .select(explode(array(col("l_partkey"), col("l_suppkey"))).as("entity"))
        .agg(countDistinct(col("entity")).as("n_unique")))
  )

  private val violationsUnion: String =
    """SELECT part, doc_id, url, 'url_required' AS check_name, 'null_or_empty' AS detail, 'raw' AS stage
      |  FROM web_pages WHERE NOT (url IS NOT NULL AND url <> '')
      |UNION ALL
      |SELECT part, doc_id, url, 'url_shape', url, 'processing'
      |  FROM web_pages WHERE url IS NOT NULL AND length(url) > 0
      |   AND NOT COALESCE(regexp_matches(url, '^https?://[a-z0-9.-]+(/[^ ]*)?$'), FALSE)
      |UNION ALL
      |SELECT part, doc_id, url, 'warc_ts_required', 'null', 'raw'
      |  FROM web_pages WHERE ts_epoch IS NULL
      |UNION ALL
      |SELECT part, doc_id, url, 'warc_ts_window', CAST(CAST(ts_epoch AS BIGINT) AS VARCHAR), 'processing'
      |  FROM web_pages WHERE ts_epoch IS NOT NULL
      |   AND NOT COALESCE(ts_epoch BETWEEN 1767225600 AND 1767225600 + 7776000 - 1, FALSE)
      |UNION ALL
      |SELECT part, doc_id, url, 'lang_enum', COALESCE(lang, 'NULL'), 'processing'
      |  FROM web_pages WHERE NOT COALESCE(lang IN ('en','de','fr','es','zh'), FALSE)
      |UNION ALL
      |SELECT part, doc_id, url, 'text_required', 'null_or_empty', 'raw'
      |  FROM web_pages WHERE NOT (text IS NOT NULL AND text <> '')
      |UNION ALL
      |SELECT part, doc_id, url, 'html_text_crossfield', 'html_nonempty_text_empty', 'processing'
      |  FROM web_pages WHERE COALESCE(length(html) > 0, FALSE)
      |   AND NOT COALESCE(text IS NOT NULL AND length(text) > 0, FALSE)
      |UNION ALL
      |SELECT part, doc_id, url, 'text_len_max', CAST(length(text) AS VARCHAR), 'processing'
      |  FROM web_pages WHERE text IS NOT NULL AND NOT (length(text) <= 4096)""".stripMargin

  private val dedupUrlOracle: String =
    s"""${Derive.duckCte}
       |SELECT url, doc_id FROM (
       |  SELECT url, doc_id,
       |         row_number() OVER (PARTITION BY url
       |           ORDER BY COALESCE(ts_epoch, -1) DESC, doc_id ASC) AS rn
       |  FROM web_pages WHERE $validUrlWhere
       |) t WHERE rn = 1""".stripMargin

  private def statsColOracle(c: String): String =
    s"""SELECT part, '$c' AS col_name,
       |  round(CAST(sum(CASE WHEN $c IS NULL OR $c = '' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS null_rate,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS distinct_count,
       |  COALESCE(min($c), 'NULL') AS min, COALESCE(max($c), 'NULL') AS max,
       |  CAST(count(*) AS BIGINT) AS row_count
       |FROM web_pages GROUP BY part""".stripMargin

  /** Oracle twin of Stats.columnStatsChecked: exact stats + a constant
    * TRUE for the sketch bound — the Spark side emits false (→ red row)
    * if HLL++ drifts past 3·rsd of the exact count.
    */
  private def statsCheckedOracle(c: String): String =
    s"""SELECT part, '$c' AS col_name,
       |  round(CAST(sum(CASE WHEN $c IS NULL OR $c = '' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS null_rate,
       |  TRUE AS distinct_ok,
       |  COALESCE(min($c), 'NULL') AS min, COALESCE(max($c), 'NULL') AS max,
       |  CAST(count(*) AS BIGINT) AS row_count
       |FROM web_pages GROUP BY part""".stripMargin

  /** Byte-level FNV-1a-64 fold over the UTF-8 encoding of web_pages.text
    * in DuckDB: each character expands to its 1-4 UTF-8 bytes by the
    * standard codepoint arithmetic, then the HUGEINT fold + little-endian
    * uppercase-hex rendering mirror the reference scheme (api.py:926-936)
    * exactly — byte-faithful for ANY text, not just ASCII.
    */
  private val fnvTextOracle: String =
    """b AS (
      |  SELECT doc_id, url,
      |    CASE WHEN length(text) = 0 THEN CAST([] AS BIGINT[])
      |    ELSE flatten(list_transform(split(text, ''), c ->
      |      CASE WHEN ord(c) < 128 THEN [CAST(ord(c) AS BIGINT)]
      |           WHEN ord(c) < 2048 THEN
      |             [CAST(192 + ord(c) // 64 AS BIGINT), CAST(128 + ord(c) % 64 AS BIGINT)]
      |           WHEN ord(c) < 65536 THEN
      |             [CAST(224 + ord(c) // 4096 AS BIGINT), CAST(128 + (ord(c) // 64) % 64 AS BIGINT),
      |              CAST(128 + ord(c) % 64 AS BIGINT)]
      |           ELSE
      |             [CAST(240 + ord(c) // 262144 AS BIGINT), CAST(128 + (ord(c) // 4096) % 64 AS BIGINT),
      |              CAST(128 + (ord(c) // 64) % 64 AS BIGINT), CAST(128 + ord(c) % 64 AS BIGINT)]
      |      END)) END AS bytes
      |  FROM web_pages),
      |hh AS (SELECT doc_id, url, list_reduce(
      |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |      list_transform(bytes, x -> CAST(x AS HUGEINT))),
      |    (h, b) -> (xor(h, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS h
      |  FROM b),
      |fnv AS (SELECT doc_id, url, upper(string_agg(
      |    substr('0123456789abcdef', CAST(((h >> (8*i)) & 255) >> 4 AS INT) + 1, 1) ||
      |    substr('0123456789abcdef', CAST((h >> (8*i)) & 15 AS INT) + 1, 1), '' ORDER BY i)) AS fnv64_hex
      |  FROM hh, generate_series(0, 7) g(i)
      |  GROUP BY doc_id, url, h)""".stripMargin

  /** Shared DuckDB fragment: KL + PSI from two histogram CTEs p/q(key, n).
    * LOCKSTEP mirror of Drift.klPsi's algebraic totals — with
    * p_i = c_p/T_p, q_i = c_q/T_q:
    *   KL  = Σ c_p·ln(c_p/c_q)/T_p + ln(T_q/T_p)
    *   PSI = Σ c_p·ln(c_p/c_q)/T_p − Σ c_q·ln(c_p/c_q)/T_q
    * (PSI's ln(T_q/T_p) cross-term cancels since Σp = Σq = 1). Change
    * both sides or neither.
    */
  private def klPsiOracle(joined: String): String =
    s"""j AS ($joined)
       |SELECT round(sum(c_p * ln(c_p / c_q)) / sum(c_p)
       |             + ln(sum(c_q) / sum(c_p)), 6) + 0.0 AS kl,
       |       round(sum(c_p * ln(c_p / c_q)) / sum(c_p)
       |             - sum(c_q * ln(c_p / c_q)) / sum(c_q), 6) + 0.0 AS psi
       |FROM j""".stripMargin

  def oracleSql: Map[String, String] = {
    val base = TrainingQueries.oracleSql ++ MappingQueries.oracleSql ++ Map(
    "violations" ->
      s"""${Derive.duckCte}
         |SELECT * FROM ($violationsUnion) v""".stripMargin,
    // TRY_CAST is the DuckDB mirror of Coercible's try_cast (LOCKSTEP
    // with Constraints.coercionSuite + Derive.duckRawCte)
    "violations_coerce" ->
      s"""${Derive.duckRawCte}
         |SELECT part, doc_id, 'warc_ts_coercible' AS check_name, warc_ts_raw AS detail, 'raw' AS stage
         |  FROM web_pages_raw WHERE warc_ts_raw IS NOT NULL AND warc_ts_raw <> ''
         |   AND TRY_CAST(warc_ts_raw AS TIMESTAMP) IS NULL
         |UNION ALL
         |SELECT part, doc_id, 'fetch_ms_coercible', fetch_ms_raw, 'raw'
         |  FROM web_pages_raw WHERE fetch_ms_raw IS NOT NULL AND fetch_ms_raw <> ''
         |   AND TRY_CAST(fetch_ms_raw AS BIGINT) IS NULL
         |UNION ALL
         |SELECT part, doc_id, 'conf_coercible', conf_raw, 'raw'
         |  FROM web_pages_raw WHERE conf_raw IS NOT NULL AND conf_raw <> ''
         |   AND TRY_CAST(conf_raw AS DOUBLE) IS NULL""".stripMargin,
    "verdicts" ->
      s"""${Derive.duckCte},
         |v AS ($violationsUnion),
         |pc AS (SELECT part, CAST(count(*) AS BIGINT) AS row_count FROM web_pages GROUP BY part),
         |cons AS (SELECT * FROM (VALUES ('url_required'),('url_shape'),('warc_ts_required'),
         |  ('warc_ts_window'),('lang_enum'),('text_required'),('html_text_crossfield'),
         |  ('text_len_max')) c(check_name)),
         |vc AS (SELECT part, check_name, CAST(count(*) AS BIGINT) AS violation_count
         |       FROM v GROUP BY 1, 2)
         |SELECT pc.part, cons.check_name,
         |       COALESCE(vc.violation_count, 0) = 0 AS passed,
         |       CAST(COALESCE(vc.violation_count, 0) AS BIGINT) AS violation_count,
         |       pc.row_count
         |FROM pc CROSS JOIN cons
         |LEFT JOIN vc ON vc.part = pc.part AND vc.check_name = cons.check_name""".stripMargin,
    "v_unique" ->
      s"""${Derive.duckCte}
         |SELECT part, doc_id, url, 'url_unique' AS check_name,
         |       'duplicate_of_' || keep AS detail, 'processing' AS stage
         |FROM (
         |  SELECT part, doc_id, url,
         |         first_value(doc_id) OVER (PARTITION BY url
         |           ORDER BY COALESCE(ts_epoch, -1) DESC, doc_id ASC) AS keep
         |  FROM web_pages WHERE $validUrlWhere
         |) t WHERE doc_id <> keep""".stripMargin,
    "verdicts_full" ->
      s"""${Derive.duckCte},
         |v AS ($violationsUnion),
         |pc AS (SELECT part, CAST(count(*) AS BIGINT) AS row_count FROM web_pages GROUP BY part),
         |cons AS (SELECT * FROM (VALUES ('url_required'),('url_shape'),('warc_ts_required'),
         |  ('warc_ts_window'),('lang_enum'),('text_required'),('html_text_crossfield'),
         |  ('text_len_max')) c(check_name)),
         |vc AS (SELECT part, check_name, CAST(count(*) AS BIGINT) AS violation_count
         |       FROM v GROUP BY 1, 2),
         |valid AS (SELECT * FROM web_pages WHERE $validUrlWhere),
         |pcv AS (SELECT part, CAST(count(*) AS BIGINT) AS row_count FROM valid GROUP BY part),
         |uq AS (SELECT part, CAST(count(*) AS BIGINT) AS violation_count FROM (
         |  SELECT part, doc_id,
         |         first_value(doc_id) OVER (PARTITION BY url
         |           ORDER BY COALESCE(ts_epoch, -1) DESC, doc_id ASC) AS keep
         |  FROM valid) t WHERE doc_id <> keep GROUP BY part),
         |ri AS (SELECT part, CAST(count(*) AS BIGINT) AS violation_count
         |  FROM valid w WHERE NOT EXISTS (SELECT 1 FROM lineage l WHERE l.url = w.url)
         |  GROUP BY part),
         |dscons AS (SELECT * FROM (VALUES ('url_unique'),('url_lineage')) c(check_name))
         |SELECT pc.part, cons.check_name,
         |       COALESCE(vc.violation_count, 0) = 0 AS passed,
         |       CAST(COALESCE(vc.violation_count, 0) AS BIGINT) AS violation_count,
         |       pc.row_count
         |FROM pc CROSS JOIN cons
         |LEFT JOIN vc ON vc.part = pc.part AND vc.check_name = cons.check_name
         |UNION ALL
         |SELECT pcv.part, dscons.check_name,
         |       COALESCE(d.violation_count, 0) = 0 AS passed,
         |       CAST(COALESCE(d.violation_count, 0) AS BIGINT) AS violation_count,
         |       pcv.row_count
         |FROM pcv CROSS JOIN dscons
         |LEFT JOIN (SELECT 'url_unique' AS check_name, part, violation_count FROM uq
         |           UNION ALL
         |           SELECT 'url_lineage', part, violation_count FROM ri) d
         |  ON d.part = pcv.part AND d.check_name = dscons.check_name""".stripMargin,
    "m_stats" ->
      s"""${Derive.duckCte}
         |${statsCheckedOracle("url")}
         |UNION ALL
         |${statsCheckedOracle("lang")}""".stripMargin,
    "m_stats_exact" ->
      s"""${Derive.duckCte}
         |${statsColOracle("url")}
         |UNION ALL
         |${statsColOracle("lang")}""".stripMargin,
    "digest_fnv" ->
      s"""${Derive.duckCte},
         |$fnvTextOracle
         |SELECT doc_id, url, fnv64_hex FROM fnv""".stripMargin,
    "m_len_hist" ->
      s"""${Derive.duckCte}
         |SELECT part, CAST(length(bin(greatest(length(text), 1))) - 1 AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM web_pages GROUP BY 1, 2""".stripMargin,
    // exact order statistics at ranks (q ∓ 3ε)·n, ε = 1/accuracy = 0.01;
    // ok is constant TRUE — the Spark side recomputes it from the sketch,
    // so a sketch past its rank bound fails the exact compare. The
    // (q - 0.03)·n arithmetic is double-for-double identical to the Spark
    // expression (same literals, same operation order).
    "m_quantiles" ->
      s"""${Derive.duckCte},
         |qlens AS (SELECT part, length(text) AS v FROM web_pages
         |          WHERE length(text) IS NOT NULL),
         |qagg AS (SELECT part, CAST(count(*) AS BIGINT) AS n,
         |                list_sort(list(v)) AS ls
         |         FROM qlens GROUP BY 1),
         |qprobes AS (SELECT unnest([0.5e0, 0.9e0, 0.99e0]) AS q)
         |SELECT qagg.part, qprobes.q,
         |       CAST(ls[greatest(1, CAST(floor((q - 0.03e0) * n) AS INT))] AS BIGINT) AS lo,
         |       CAST(ls[least(CAST(n AS INT),
         |                     greatest(1, CAST(ceil((q + 0.03e0) * n) AS INT)))] AS BIGINT) AS hi,
         |       TRUE AS ok, n
         |FROM qagg CROSS JOIN qprobes""".stripMargin,
    "m_hot_domains" ->
      s"""${Derive.duckCte}
         |SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS domain,
         |       CAST(count(*) AS BIGINT) AS sampled_n,
         |       CAST(count(*) * 4 AS BIGINT) AS est_count
         |FROM web_pages
         |WHERE $validUrlWhere AND doc_id % 4 = 0
         |GROUP BY 1 HAVING count(*) >= 10""".stripMargin,
    "dedup_url" -> dedupUrlOracle,
    "dedup_url_salted" -> dedupUrlOracle,
    "dup_report" ->
      s"""${Derive.duckCte}
         |SELECT url, CAST(count(*) AS BIGINT) AS n FROM web_pages
         |WHERE $validUrlWhere
         |GROUP BY url HAVING count(*) > 1""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "ri_dangling" ->
      s"""${Derive.duckCte}
         |SELECT part, doc_id, url FROM web_pages w
         |WHERE $validUrlWhere
         |  AND NOT EXISTS (SELECT 1 FROM lineage l WHERE l.url = w.url)""".stripMargin,
    // p/q key normalization is the LOCKSTEP mirror of Drift.normKeys
    // (COALESCE('k:' || CAST(key AS VARCHAR), '∅NULL')): NULL buckets
    // join like any other key, and the 'k:' prefix keeps a genuine
    // sentinel-valued key from colliding with the NULL bucket
    "drift_lang" ->
      s"""${Derive.duckCte},
         |p AS (SELECT COALESCE('k:' || CAST(lang AS VARCHAR), '∅NULL') AS key, count(*) AS n FROM web_pages
         |      WHERE part < 4 AND lang IN ('en','de','fr','es','zh') GROUP BY 1),
         |q AS (SELECT COALESCE('k:' || CAST(lang AS VARCHAR), '∅NULL') AS key, count(*) AS n FROM web_pages
         |      WHERE part >= 4 AND lang IN ('en','de','fr','es','zh') GROUP BY 1),
         |${klPsiOracle(
        "SELECT p.key, CAST(p.n AS DOUBLE) AS c_p, CAST(q.n AS DOUBLE) AS c_q FROM p JOIN q USING (key)")}""".stripMargin,
    "drift_len" ->
      s"""${Derive.duckCte},
         |p AS (SELECT COALESCE('k:' || CAST(CAST(length(bin(greatest(length(text), 1))) - 1 AS BIGINT) AS VARCHAR), '∅NULL') AS key, count(*) AS n
         |      FROM web_pages WHERE part < 4 GROUP BY 1),
         |q AS (SELECT COALESCE('k:' || CAST(CAST(length(bin(greatest(length(text), 1))) - 1 AS BIGINT) AS VARCHAR), '∅NULL') AS key, count(*) AS n
         |      FROM web_pages WHERE part >= 4 GROUP BY 1),
         |${klPsiOracle(
        """SELECT key, COALESCE(p.n, 0) + 0.5 AS c_p, COALESCE(q.n, 0) + 0.5 AS c_q
          |   FROM p FULL OUTER JOIN q USING (key)""".stripMargin)}""".stripMargin,
    "digest" ->
      s"""${Derive.duckCte}
         |SELECT part, doc_id, url, md5(text) AS text_md5 FROM web_pages""".stripMargin,
    "digest_changed" ->
      s"""${Derive.duckCte},
         |base AS (SELECT doc_id,
         |  md5(CASE WHEN doc_id % 113 = 44 THEN text || ' mutated' ELSE text END) AS digest_baseline
         |  FROM web_pages)
         |SELECT w.doc_id, md5(w.text) AS digest_current, b.digest_baseline
         |FROM web_pages w JOIN base b ON w.doc_id = b.doc_id
         |WHERE md5(w.text) <> b.digest_baseline""".stripMargin,
    "f_query" ->
      s"""${Derive.duckCte}
         |SELECT doc_id, url FROM web_pages
         |WHERE contains(lower(text), 'spark') AND lang IN ('en', 'de')
         |  AND length(text) >= 50""".stripMargin,
    "f_whitelist" ->
      s"""${Derive.duckCte}
         |SELECT doc_id, url FROM web_pages w
         |WHERE lang IN ('en')
         |  AND EXISTS (SELECT 1 FROM lineage l WHERE l.url = w.url)""".stripMargin,
    "q_sort_paginate" ->
      s"""${Derive.duckCte}
         |SELECT doc_id FROM web_pages
         |ORDER BY length(text) DESC, url ASC NULLS LAST, doc_id ASC
         |LIMIT 20 OFFSET 10""".stripMargin,
    "q_topk" ->
      s"""${Derive.duckCte}
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len FROM web_pages
         |ORDER BY length(text) DESC, doc_id ASC LIMIT 15""".stripMargin,
    "s_venn" ->
      """WITH l AS (SELECT DISTINCT doc_id, 1 AS in_l FROM documents WHERE lang = 'en'),
        |r AS (SELECT DISTINCT doc_id, 1 AS in_r FROM documents WHERE source = 'src3')
        |SELECT
        |  CAST(sum(CASE WHEN in_l IS NOT NULL AND in_r IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS left_only,
        |  CAST(sum(CASE WHEN in_l IS NOT NULL AND in_r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS intersection,
        |  CAST(sum(CASE WHEN in_l IS NULL AND in_r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS right_only
        |FROM l FULL OUTER JOIN r USING (doc_id)""".stripMargin,
    "s_venn_split" ->
      """WITH l AS (SELECT DISTINCT doc_id, 1 AS in_l FROM documents WHERE lang = 'en'),
        |r AS (SELECT DISTINCT doc_id, 1 AS in_r FROM documents WHERE source = 'src3')
        |SELECT doc_id, CASE WHEN in_l IS NOT NULL AND in_r IS NOT NULL THEN 'both'
        |                    WHEN in_l IS NOT NULL THEN 'left_only'
        |                    ELSE 'right_only' END AS side
        |FROM l FULL OUTER JOIN r USING (doc_id)""".stripMargin,
    "s_exclude" ->
      """SELECT doc_id FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents x
        |                  WHERE x.lang = 'zh' AND x.doc_id = d.doc_id)""".stripMargin,
    // the three slice definitions are LOCKSTEP with the Spark query's
    // SetOps.merge inputs (same filters, same projected columns)
    "s_merge_sets" ->
      """SELECT doc_id, lang, 'a' AS src_set FROM documents WHERE source = 'src1'
        |UNION ALL BY NAME
        |SELECT doc_id, n_chars, 'b' AS src_set FROM documents WHERE source = 'src2'
        |UNION ALL BY NAME
        |SELECT doc_id, lang, n_chars, 'c' AS src_set FROM documents
        |WHERE lang = 'zh'""".stripMargin,
    "conf_mean" ->
      """SELECT event_type,
        |  round(avg(CASE WHEN event_type = 'error'
        |    THEN 1 - 1.0 / (1.5 + value) ELSE 1.0 / (1.5 + value) END), 6) AS confidence,
        |  CAST(count(*) AS BIGINT) AS n_evidence
        |FROM events GROUP BY event_type""".stripMargin,
    // certain evidence (c = 1) clamps to exactly 1, mirroring the Spark
    // side's max(c) >= 1 guard; the inner CASE keeps DuckDB from ever
    // evaluating ln(0) (DuckDB errors on it, Spark's log returns null)
    "conf_noisyor" ->
      """WITH ec AS (SELECT event_type, CASE WHEN event_type = 'error'
        |    THEN 1 - 1.0 / (1.5 + value) ELSE 1.0 / (1.5 + value) END AS c
        |  FROM events)
        |SELECT event_type,
        |  round(CASE WHEN max(c) >= 1.0 THEN 1.0
        |    ELSE 1 - exp(sum(CASE WHEN c >= 1.0 THEN NULL ELSE ln(1 - c) END)) END, 6) AS confidence,
        |  CAST(count(*) AS BIGINT) AS n_evidence
        |FROM ec GROUP BY event_type""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q_window" ->
      """SELECT o_orderkey,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q_counts" ->
      """SELECT entity, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest([l_partkey, l_suppkey]) AS entity FROM lineitem) t
        |GROUP BY entity""".stripMargin,
    "q_count_unique" ->
      """SELECT CAST(count(DISTINCT entity) AS BIGINT) AS n_unique
        |FROM (SELECT unnest([l_partkey, l_suppkey]) AS entity FROM lineitem) t""".stripMargin,
    "q_lookup" ->
      s"""${Derive.duckCte}
         |SELECT part, doc_id, url, lang FROM web_pages
         |WHERE url = 'https://ex0.org/doc/42'""".stripMargin,
    "agg_symmetric_key" ->
      """SELECT least(l_partkey, l_suppkey) AS k1,
        |       greatest(l_partkey, l_suppkey) AS k2,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "mut_update" ->
      """SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN 'curated' ELSE event_type END AS event_type,
        |  round(CASE WHEN event_type = 'error' THEN 0.0 ELSE value END, 2) AS value
        |FROM events""".stripMargin,
    "f_normtext" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '[ -]', '', 'g'))) AS norm_md5
        |FROM documents""".stripMargin,
    "fmt_canonical" ->
      s"""${Derive.duckCte}
         |SELECT url, doc_id FROM (
         |  SELECT url, doc_id,
         |         row_number() OVER (PARTITION BY url
         |           ORDER BY COALESCE(ts_epoch, -1) DESC, doc_id ASC) AS rn
         |  FROM web_pages w
         |  WHERE $validUrlWhere
         |    AND NOT EXISTS (SELECT 1 FROM web_pages x
         |                    WHERE x.lang = 'zz' AND x.url = w.url)
         |) t WHERE rn = 1""".stripMargin,
    "fmt_condense" ->
      """WITH f AS (SELECT * FROM documents WHERE source = 'src3'),
        |c AS (
        |  SELECT 'lang' AS col_name, count(DISTINCT lang) AS n, min(lang) AS value FROM f
        |  UNION ALL
        |  SELECT 'source', count(DISTINCT source), min(source) FROM f
        |)
        |SELECT col_name, value FROM c WHERE n = 1""".stripMargin,
    "f_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    "f_multivalued" ->
      """SELECT doc_id,
        |  array_to_string((list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))[1:3], '|') AS joined,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "agg_merge" ->
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list_distinct(list(l_returnflag))), '|') AS flags,
        |  CASE WHEN count(DISTINCT l_linestatus) = 1 THEN min(l_linestatus) END AS status_if_uniform,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    )
    // The fused validate+profile pass must equal the unfused operators
    // EXACTLY — aliasing the oracle strings (not copying them) makes
    // that equality the thing the gate checks, and leaves nothing to
    // drift: a change to the verdicts/m_stats oracles IS a change to
    // the fused oracles.
    base ++ Map(
      "fused_verdicts" -> base("verdicts"),
      "fused_stats" -> base("m_stats"))
  }
}
