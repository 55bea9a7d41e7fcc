package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.canonical.Canonical
import graft.canonical.Canonical.{Field, FmtFloat3, FmtStr, FmtUri, FmtUriList}
import graft.gen.Derive
import graft.mutate.Curate
import graft.query.{Compare, MappingSort}

/** Mapping-record operator queries (canonical record hash, triple hash,
  * invert, curate, curation filters, comparison report, sort DSL, k=v
  * codec) + their DuckDB oracles, over the deterministic
  * `Derive.mappings` table. Split from SparkEntry for readability;
  * SparkEntry merges both maps.
  *
  * The oracle SQL for the canonical S-expression and FNV-64 is GENERATED
  * from the same field list / prefix map the Spark side uses
  * ([[duckBox]] / [[duckExpand]] / [[duckFnvCtes]]) so the two engines
  * cannot silently drift.
  */
object MappingQueries {

  private val Mark7 = Seq("correct", "incorrect", "BROAD", "NARROW", "CLOSE", "RELATED", "unsure")
  private val CurateDate = "2026-08-16"
  private val CurateAuthor = "orcid:0000-0009"

  /** Canonical field layout of the mappings table (subset of
    * Canonical.FieldOrder; single-valued author/reviewer lists).
    */
  private def mappingFields: Seq[Field] = Seq(
    Field("subject_id", col("subject_id"), FmtUri),
    Field("subject_label", col("subject_label"), FmtStr),
    Field("predicate_id", col("predicate_id"), FmtUri),
    Field("predicate_modifier", col("predicate_modifier"), FmtStr),
    Field("object_id", col("object_id"), FmtUri),
    Field("object_label", col("object_label"), FmtStr),
    Field("mapping_justification", col("justification"), FmtUri),
    Field("author_id", when(col("author_id").isNotNull, array(col("author_id"))), FmtUriList),
    Field("reviewer_id", when(col("reviewer_id").isNotNull, array(col("reviewer_id"))), FmtUriList),
    Field("mapping_tool", col("mapping_tool"), FmtStr),
    Field("mapping_date", col("mapping_date"), FmtStr),
    Field("publication_date", col("publication_date"), FmtStr),
    Field("review_date", col("review_date"), FmtStr),
    Field("confidence", col("confidence"), FmtFloat3),
    Field("reviewer_agreement", col("reviewer_agreement"), FmtFloat3),
    Field("similarity_score", col("similarity_score"), FmtFloat3))

  private def markCol: Column =
    element_at(array(Mark7.map(lit): _*), (col("mapping_id") % 7).cast("int") + 1)

  /** One comparison side for s_compare: pairs keyed by k = floor(id/2)
    * so the two parities share keys; deterministic injections create
    * duplicates (k0%50==7 collapses onto k0-1), one-side-only keys
    * (left skips k0%11==3, right skips k0%7==2), predicate conflicts
    * (right shifts the predicate when k%10==3) and modifier conflicts
    * (right drops 'Not' when k%17==4 && k%3==0). Mirrored in
    * [[compareSideCte]].
    */
  private def compareSide(s: SparkSession, dir: String, parity: Int): DataFrame = {
    val d = col("doc_id")
    val k0 = floor(d / 2)
    val k = when(k0 % 50 === 7, k0 - 1).otherwise(k0)
    val pidx = if (parity == 1) when(k % 10 === 3, (k + 1) % 5).otherwise(k % 5) else k % 5
    val modifier =
      if (parity == 1)
        when(k % 17 === 4 && !(k % 3 === 0), lit("Not")).otherwise(lit(null).cast("string"))
      else
        when(k % 17 === 4, lit("Not")).otherwise(lit(null).cast("string"))
    val sideSkip = if (parity == 0) k0 % 11 === 3 else k0 % 7 === 2
    graft.io.Tables.read(s, s"$dir/documents.parquet")
      .filter(d % 2 === parity && !sideSkip)
      .select(
        concat(lit("ex"), k % 7, lit(":doc/"), k).as("subject_id"),
        element_at(array(Derive.PredEnum.map(lit): _*), pidx.cast("int") + 1).as("predicate_id"),
        concat(element_at(array(Derive.ObjPrefixes.map(lit): _*), (k % 3).cast("int") + 1),
          lit(":Q"), (k * 37) % 5000).as("object_id"),
        modifier.as("predicate_modifier"),
        lit("semapv:ManualMappingCuration").as("justification"))
  }

  private def compareSideCte(parity: Int): String = {
    val pidx =
      if (parity == 1) "CASE WHEN k % 10 = 3 THEN (k + 1) % 5 ELSE k % 5 END"
      else "k % 5"
    val modifier =
      if (parity == 1) "CASE WHEN k % 17 = 4 AND NOT (k % 3 = 0) THEN 'Not' END"
      else "CASE WHEN k % 17 = 4 THEN 'Not' END"
    val sideSkip = if (parity == 0) "k0 % 11 = 3" else "k0 % 7 = 2"
    s"""(
       |  SELECT
       |    'ex' || (k % 7) || ':doc/' || k AS subject_id,
       |    (['skos:exactMatch','skos:broadMatch','skos:narrowMatch','skos:closeMatch','skos:relatedMatch'])[CAST(($pidx) AS INT) + 1] AS predicate_id,
       |    (['wd','dbp','yago'])[CAST(k % 3 AS INT) + 1] || ':Q' || ((k * 37) % 5000) AS object_id,
       |    $modifier AS predicate_modifier
       |  FROM (
       |    SELECT CASE WHEN k0 % 50 = 7 THEN k0 - 1 ELSE k0 END AS k
       |    FROM (SELECT doc_id, CAST(floor(doc_id / 2) AS BIGINT) AS k0 FROM documents
       |          WHERE doc_id % 2 = $parity) t0
       |    WHERE NOT ($sideSkip)
       |  ) t
       |)""".stripMargin
  }

  // ---------- DuckDB mirrors of the canonical machinery ----------

  /** CURIE→URI expansion in DuckDB, generated from Canonical.PrefixMap.
    * Values without a colon pass through unchanged, mirroring the Spark
    * side's `contains(c, ':')` branch (Canonical.expandCurie) — without
    * the guard, strpos=0 would render `v:` || v.
    */
  private def duckExpand(e: String): String = {
    val cases = Canonical.PrefixMap.toSeq.sortBy(_._1)
      .map { case (p, u) => s"WHEN '$p' THEN '$u'" }.mkString(" ")
    s"(CASE WHEN strpos($e, ':') = 0 THEN $e ELSE " +
      s"(CASE split_part($e, ':', 1) $cases ELSE split_part($e, ':', 1) || ':' END) || substr($e, strpos($e, ':') + 1) END)"
  }

  private def duckNs(e: String): String =
    s"(CAST(length($e) AS VARCHAR) || ':' || $e)"

  /** `(len:name len:value)` box (empty string when null), scalar form. */
  private def duckBox(name: String, e: String): String =
    s"(CASE WHEN $e IS NOT NULL THEN '(${name.length}:$name' || ${duckNs(e)} || ')' ELSE '' END)"

  /** Single-element list box: `(len:name(len:value))`. */
  private def duckBoxList(name: String, e: String): String =
    s"(CASE WHEN $e IS NOT NULL THEN '(${name.length}:$name(' || ${duckNs(e)} || '))' ELSE '' END)"

  /** The canonical S-expression of a mappings row in DuckDB — generated
    * from [[mappingFields]]' names/kinds so field order and rendering
    * stay in lockstep with the Spark side.
    */
  private def duckSexpr: String = {
    val boxes = mappingFields.map { f =>
      val src = if (f.name == "mapping_justification") "justification" else f.name
      f.fmt match {
        case FmtUri => duckBox(f.name, duckExpand(src))
        case FmtUriList => duckBoxList(f.name, duckExpand(src))
        case FmtFloat3 => duckBox(f.name, s"CAST(round($src, 3) AS VARCHAR)")
        case _ => duckBox(f.name, src)
      }
    }
    // FmtUri/FmtUriList boxes must test the RAW column for null (the
    // expansion of NULL is NULL, so the CASE test still works on the
    // expanded expression — expansion preserves nulls)
    s"'(7:mapping(' || ${boxes.mkString(" || ")} || '))'"
  }

  /** FNV-1a-64 over the `sexpr` column of CTE `sx(mapping_id, sexpr)`:
    * HUGEINT fold over character codes (the canonical string is ASCII so
    * codepoints == UTF-8 bytes), rendered as uppercase hex of the
    * little-endian bytes — the exact reference scheme (api.py:926-936).
    */
  private val duckFnvCtes: String =
    """hh AS (SELECT mapping_id, sexpr, list_reduce(
      |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |      list_transform(split(sexpr, ''), c -> CAST(ord(c) AS HUGEINT))),
      |    (h, b) -> (xor(h, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS h
      |  FROM sx),
      |fnv AS (SELECT mapping_id, sexpr, upper(string_agg(
      |    substr('0123456789abcdef', CAST(((h >> (8*i)) & 255) >> 4 AS INT) + 1, 1) ||
      |    substr('0123456789abcdef', CAST((h >> (8*i)) & 15 AS INT) + 1, 1), '' ORDER BY i)) AS record_fnv
      |  FROM hh, generate_series(0, 7) g(i)
      |  GROUP BY mapping_id, sexpr, h)""".stripMargin

  private def duckTripleHash(s: String, p: String, o: String, negated: String): String =
    s"(sha256(${duckExpand(s)} || ' ' || ${duckExpand(p)} || ' ' || ${duckExpand(o)}) || " +
      s"CASE WHEN $negated THEN '~' ELSE '' END)"

  // ---------- queries ----------

  /** The mappings derivation over a spread documents scan — used by the
    * heaviest projection entry (`digest_record`: full-record
    * S-expression + FNV canonicalization), whose per-row work fuses
    * into the scan stage: the driver's one-row-group parquet cannot
    * split, so without [[graft.io.Scan.spread]] the whole
    * canonicalization pass runs on one core (guide §2.5); at scale
    * spread is the identity. The cheaper entries (triple hash, CURIE
    * round trip, sort DSL) keep the plain single-task scan — measured
    * r06, the exchange cost them more than it bought.
    */
  private def mappingsSpread(s: SparkSession, dir: String): DataFrame =
    Derive.mappingsOf(graft.io.Scan.spread(
      graft.io.Tables.read(s, s"$dir/documents.parquet")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // canonical full-record S-expression + FNV-64 record identity
    "digest_record" -> ((s, dir) =>
      mappingsSpread(s, dir).select(
        col("mapping_id"),
        Canonical.sexpr(mappingFields).as("sexpr"),
        Canonical.recordHash(mappingFields).as("record_fnv"))),

    // triple ("sameness") identity with ~ negation
    "digest_triple" -> ((s, dir) =>
      Derive.mappings(s, dir).select(
        col("mapping_id"),
        Canonical.tripleHash(col("subject_id"), col("predicate_id"),
          col("object_id"), col("predicate_modifier") === "Not").as("triple_hash"))),

    // invert family: narrow→broad with derivation lineage
    "mut_invert" -> ((s, dir) =>
      Curate.invertNarrowMatches(Derive.mappings(s, dir), derivePolicy = true)
        .select("mapping_id", "subject_id", "predicate_id", "object_id",
          "subject_label", "object_label", "justification", "derived_from")),

    // prefix-pair-driven invert specialization (process.py:881-947):
    // invert only (ex3 → wd) mappings, with derivation lineage
    "mut_invert_prefix" -> ((s, dir) =>
      Curate.invertByPrefixPair(Derive.mappings(s, dir), "ex3", "wd",
        derivePolicy = true)
        .select("mapping_id", "subject_id", "predicate_id", "object_id",
          "justification", "derived_from")),

    // curate mark state machine (pass + blocked channels, tagged)
    "mut_curate" -> ((s, dir) => {
      val m = Derive.mappings(s, dir)
      val (curated, blocked) = Curate.curate(m, markCol,
        lit(CurateAuthor), lit(null).cast("double"), lit(CurateDate))
      curated.withColumn("channel", lit("curated"))
        .unionByName(blocked.withColumn("channel", lit("blocked_manual")))
        .select("mapping_id", "channel", "predicate_id", "predicate_modifier",
          "justification", "author_id", "confidence", "mapping_tool",
          "similarity_score", "reviewer_id", "reviewer_agreement",
          "review_date", "mapping_date")
    }),

    // named curation-state filters, composed
    "f_curation" -> ((s, dir) =>
      Curate.filterByConfidence(
        Curate.excludeUnsure(Curate.excludeNegative(Derive.mappings(s, dir))), 0.5)
        .select("mapping_id")),

    // stratified two-corpus comparison with conflict classification
    "s_compare" -> ((s, dir) =>
      Compare.conflictReport(compareSide(s, dir, 0), compareSide(s, dir, 1))),

    // sort DSL: the four null-ordering shapes + confidence/subject/object
    // keys, top-20 each with ranks
    "q_sort_dsl" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = Derive.mappings(s, dir)
      SortDslLiterals.map { lit0 =>
        // ranks are assigned AFTER topK already reduced the input to
        // <= 20 rows, so the single-partition window is bounded by
        // construction (the WindowExec WARN it logs is about all of 20
        // rows; a constant partition key can't silence it — the
        // EliminateWindowPartitions rule folds literals away)
        val w = Window.orderBy(MappingSort.cols(lit0) :+ col("mapping_id").asc: _*)
        MappingSort.topK(m, lit0, 20)
          .select(lit(lit0).as("sort_name"),
            row_number().over(w).cast("long").as("rn"), col("mapping_id"))
      }.reduce(_ unionByName _)
    }),

    // CURIE expand→compress round trip (models.py:157-177 / 282-293)
    "f_compress" -> ((s, dir) =>
      Derive.mappings(s, dir).select(
        col("mapping_id"),
        Canonical.expandCurie(col("subject_id")).as("subject_uri"),
        Canonical.compressUri(Canonical.expandCurie(col("subject_id")))
          .as("subject_roundtrip"),
        Canonical.compressUri(Canonical.expandCurie(col("object_id")))
          .as("object_roundtrip"))),

    // same_text composite predicate (query.py:120-144): normalized-label
    // equality AND exactMatch; a label variant that only normalization
    // can match ('Doc-N' vs 'doc N') exercises the normalize step
    "f_sametext" -> ((s, dir) => {
      val m = Derive.mappings(s, dir).withColumn("object_label",
        when(col("mapping_id") % 3 === 0,
          concat(lit("Doc-"), col("mapping_id"))).otherwise(col("object_label")))
      m.filter(graft.query.QueryDsl.sameText(
          concat(lit("doc "), col("mapping_id")), col("object_label"),
          col("predicate_id")))
        .select("mapping_id", "predicate_id", "object_label")
    }),

    // `other` k=v codec round trip (io.py extras pack/unpack discipline)
    "f_kv" -> ((s, dir) =>
      Derive.mappings(s, dir)
        .filter(col("mapping_tool").isNotNull)
        .select(col("mapping_id"),
          concat(lit("tool="), col("mapping_tool"),
            lit("|score="), col("similarity_score").cast("string")).as("other"))
        .select(col("mapping_id"),
          element_at(str_to_map(col("other"), lit("[|]"), lit("=")), "tool").as("tool_parsed"),
          element_at(str_to_map(col("other"), lit("[|]"), lit("=")), "score").as("score_parsed"))),

    // merge_manual_curations over a coarsened-key view (native mapping
    // triples are unique, so ids coarsen to create multi-member groups)
    "agg_merge_cur" -> ((s, dir) => {
      val m = Derive.mappings(s, dir).select(
        col("mapping_id"),
        concat(lit("ex0:grp/"), col("mapping_id") % 12).as("subject_id"),
        col("predicate_id"), col("predicate_modifier"),
        concat(lit("wd:Q"), col("mapping_id") % 10).as("object_id"),
        col("justification"), col("author_id"), col("confidence"))
      Curate.mergeCurations(m)
    }),

    // remove_trivial_negative over a coarsened-key view (the mappings
    // table's native (s,o) pairs are unique, so the query coarsens to
    // id%40 / id%25 keys to create genuine positive/negative collisions)
    "s_nontrivial_neg" -> ((s, dir) => {
      val m = Derive.mappings(s, dir).select(
        col("mapping_id"),
        concat(lit("ex0:grp/"), col("mapping_id") % 40).as("subject_id"),
        concat(lit("wd:Q"), col("mapping_id") % 25).as("object_id"),
        col("predicate_modifier"))
      Curate.removeTrivialNegative(m).select("mapping_id")
    }),

    // reviewer blend applied post-aggregation (process.py:559-567)
    "conf_reviewer" -> ((s, dir) => {
      val agg = graft.agg.Confidence.aggregate(
        graft.io.Tables.read(s, s"$dir/events.parquet"),
        Seq("event_type"), lit(1.0) / (lit(1.5) + col("value")),
        graft.agg.Confidence.Mean, negated = col("event_type") === "error")
      agg.select(col("event_type"),
        graft.agg.Confidence.reviewerBlend(col("confidence"),
          (length(col("event_type")) % 3 - 1).cast("double"), 0.25).as("blended"),
        col("n_evidence"))
    }),

    // review with the error-channel exists_action policy (process.py:263-317)
    "mut_review" -> ((s, dir) => {
      val (pass, blocked) = Curate.review(Derive.mappings(s, dir),
        lit("orcid:0000-222"), lit(1.0), lit(CurateDate), graft.mutate.Mutations.ErrorIfExists)
      pass.withColumn("channel", lit("reviewed"))
        .unionByName(blocked.withColumn("channel", lit("blocked_reviewed")))
        .select("mapping_id", "channel", "reviewer_id", "reviewer_agreement", "review_date")
    }),

    // publish stamping under the Keep policy (process.py:321-341)
    "mut_publish" -> ((s, dir) => {
      val m = Derive.mappings(s, dir)
      val (stamped, _) = graft.mutate.Mutations.setWithPolicy(
        m, "publication_date", lit(CurateDate), graft.mutate.Mutations.Keep)
      stamped.select("mapping_id", "publication_date")
    }),

    // negate toggle (api.py:533-538): modifier null <-> 'Not'
    "mut_negate" -> ((s, dir) =>
      graft.mutate.Mutations.toggleFlag(
        Derive.mappings(s, dir), "predicate_modifier", "Not")
        .select("mapping_id", "predicate_modifier")),

    // relative-URL fixup (trivial when/concat rewrite, io.py URL hygiene)
    "mut_urlfix" -> ((s, dir) => {
      val wp = Derive.webPages(s, dir)
      val rel = regexp_replace(col("url"), "^https?://[a-z0-9.-]+", "")
      wp.select(col("doc_id"),
        when(rel.startsWith("/"),
          concat(lit("https://ex"), col("doc_id") % 7, lit(".org"), rel))
          .otherwise(col("url")).as("url_fixed"))
    }),

    // default propagation from set-level metadata (api.py:681-693, the
    // 21 PROPAGATABLE slots constants.py:81-102): fill-if-missing, a
    // broadcast-free coalesce against literals
    "f_propagate" -> ((s, dir) =>
      graft.io.Formatter.propagateDefaults(Derive.mappings(s, dir), Map(
        "mapping_date" -> "2026-01-01",
        "mapping_tool" -> "tool-unknown",
        "author_id" -> "orcid:0000-0000"))
        .select("mapping_id", "mapping_date", "mapping_tool", "author_id")),

    // extension slots: declared extra columns cast by their XSD-ish type
    // hint, incl. the CURIE pseudo-type's prefix-map parse
    // (api.py:734-754, api.py:818-867) — known prefixes expand, unknown
    // prefixes and colon-free values pass through
    "f_slots" -> ((s, dir) => {
      val d = col("doc_id")
      val raw = graft.io.Tables.read(s, s"$dir/documents.parquet").select(
        d.as("mapping_id"),
        ((d * 13) % 100).cast("string").as("ext_score"),
        concat(lit("2026-02-"), lpad((d % 28 + 1).cast("string"), 2, "0"))
          .as("ext_seen"),
        when(d % 3 === 0, concat(lit("wd:Q"), d % 1000))
          .when(d % 3 === 1, concat(lit("nope:X"), d))
          .otherwise(lit("plain-ref")).as("ext_ref"))
      val typed = graft.schema.ExtensionSlots.applySlots(raw, Seq(
        graft.schema.ExtensionSlots.Slot("ext_score", "int"),
        graft.schema.ExtensionSlots.Slot("ext_seen", "date"),
        graft.schema.ExtensionSlots.Slot("ext_ref", "curie")))
      // DATE can't cross the gate (pandas reads spark DATE as date,
      // duckdb's as Timestamp — isoformat diverges), so prove the cast
      // via CALENDAR arithmetic rendered back to string: +7 days rolls
      // over the Feb month end, which no lexical pass-through satisfies
      typed.select(col("mapping_id"), col("ext_score"),
        date_add(col("ext_seen"), 7).cast("string").as("ext_seen_plus7"),
        col("ext_ref"))
    }),

    // append header-compatibility verdicts (io.py:361-391): widen +
    // narrow + retype the documents schema and report every mismatch —
    // the same compatIssues that Tables.append requires to be
    // all-ok. Spark introspects the parquet footer via its reader; the
    // oracle introspects the SAME footer via DuckDB's DESCRIBE — two
    // independent reads that must agree (the twin transform below is
    // the lockstep pair, mirrored in the oracle's incoming CTE).
    "f_append_compat" -> ((s, dir) => {
      val existing = graft.io.Tables.read(s, s"$dir/documents.parquet")
      val incoming = existing.drop("source")
        .withColumn("extra_score", lit(0.5))
        .withColumn("n_chars", col("n_chars").cast("string"))
      graft.io.Tables.schemaCompatReport(s, existing.schema, incoming.schema)
    }),

    // extension-slot declaration report (io.py:874-880 collision check,
    // api.py:843-849 presence check) as a non-throwing verdict table:
    // `present_in_data` is Spark's parquet-footer read vs DuckDB's own
    // DESCRIBE of the same footer; the slot list and the core-column set
    // are LOCKSTEP literal pairs with the oracle (change both or neither)
    "f_slot_collision" -> ((s, dir) => {
      val docsSchema = graft.io.Tables.schema(s, s"$dir/documents.parquet")
      graft.schema.ExtensionSlots.declarationReport(s,
        Seq("doc_id", "lang", "html", "n_chars", "source", "quality_tier"),
        docsSchema)
    }),

    // reference-faithful two-channel merge (process.py:987-989): only
    // multi-member triples are rewritten into the aggregate schema; lone
    // curated rows pass through UNCHANGED (agg_merge_cur gates the
    // divergent aggregate-singles form; this entry gates keep-singles)
    "agg_merge_cur2" -> ((s, dir) => {
      val m = Derive.mappings(s, dir).select(
        col("mapping_id"),
        concat(lit("ex0:grp/"), col("mapping_id") % 12).as("subject_id"),
        col("predicate_id"), col("predicate_modifier"),
        concat(lit("wd:Q"), col("mapping_id") % 10).as("object_id"),
        col("justification"), col("author_id"), col("confidence"))
      val (merged, singles) = Curate.mergeCurationsKeepSingles(m)
      merged.select(
        lit("merged").as("channel"), lit(null).cast("long").as("mapping_id"),
        col("subject_id"), col("predicate_id"), col("object_id"),
        col("predicate_modifier"), col("authors"), col("confidence"),
        col("n_members"), col("derived_from"))
        .unionByName(singles.select(
          lit("single").as("channel"), col("mapping_id"),
          col("subject_id"), col("predicate_id"), col("object_id"),
          col("predicate_modifier"), col("author_id").as("authors"),
          col("confidence"), lit(1L).as("n_members"),
          lit(null).cast("string").as("derived_from")))
    })
  )

  // ---------- DuckDB oracle SQL ----------

  private val curateOracle: String = {
    val mark = "(['correct','incorrect','BROAD','NARROW','CLOSE','RELATED','unsure'])[CAST(mapping_id % 7 AS INT) + 1]"
    val scoped = s"(CASE $mark WHEN 'BROAD' THEN 'skos:broadMatch' WHEN 'NARROW' THEN 'skos:narrowMatch' " +
      s"WHEN 'CLOSE' THEN 'skos:closeMatch' WHEN 'RELATED' THEN 'skos:relatedMatch' END)"
    val unsure = s"($mark = 'unsure')"
    val stamp = s"(NOT $unsure)"
    val wasUnsure = "COALESCE(reviewer_agreement = 0.0, FALSE)"
    s"""WITH ${Derive.mappingsCte}
       |SELECT mapping_id, 'curated' AS channel,
       |  CASE WHEN $stamp AND $scoped IS NOT NULL THEN $scoped ELSE predicate_id END AS predicate_id,
       |  CASE WHEN $stamp AND $mark = 'incorrect' THEN 'Not' ELSE predicate_modifier END AS predicate_modifier,
       |  CASE WHEN $stamp THEN 'semapv:ManualMappingCuration' ELSE justification END AS justification,
       |  CASE WHEN $stamp THEN '$CurateAuthor' ELSE author_id END AS author_id,
       |  CASE WHEN $stamp THEN NULL ELSE confidence END AS confidence,
       |  CASE WHEN $stamp THEN NULL ELSE mapping_tool END AS mapping_tool,
       |  CASE WHEN $stamp THEN NULL ELSE similarity_score END AS similarity_score,
       |  CASE WHEN $unsure THEN '$CurateAuthor' WHEN $stamp AND $wasUnsure THEN NULL ELSE reviewer_id END AS reviewer_id,
       |  CASE WHEN $unsure THEN 0.0 WHEN $stamp AND $wasUnsure THEN NULL ELSE reviewer_agreement END AS reviewer_agreement,
       |  CASE WHEN $unsure THEN '$CurateDate' WHEN $stamp AND $wasUnsure THEN NULL ELSE review_date END AS review_date,
       |  CASE WHEN $stamp THEN '$CurateDate' ELSE mapping_date END AS mapping_date
       |FROM mappings WHERE justification <> 'semapv:ManualMappingCuration'
       |UNION ALL
       |SELECT mapping_id, 'blocked_manual', predicate_id, predicate_modifier,
       |  justification, author_id, confidence, mapping_tool, similarity_score,
       |  reviewer_id, reviewer_agreement, review_date, mapping_date
       |FROM mappings WHERE justification = 'semapv:ManualMappingCuration'""".stripMargin
  }

  private val invertOracle: String = {
    val elig = "(justification <> 'semapv:MappingInversion' AND predicate_id = 'skos:narrowMatch')"
    val triple = duckTripleHash("subject_id", "predicate_id", "object_id",
      "COALESCE(predicate_modifier = 'Not', FALSE)")
    s"""WITH ${Derive.mappingsCte}
       |SELECT mapping_id,
       |  CASE WHEN $elig THEN object_id ELSE subject_id END AS subject_id,
       |  CASE WHEN $elig THEN 'skos:broadMatch' ELSE predicate_id END AS predicate_id,
       |  CASE WHEN $elig THEN subject_id ELSE object_id END AS object_id,
       |  CASE WHEN $elig THEN object_label ELSE subject_label END AS subject_label,
       |  CASE WHEN $elig THEN subject_label ELSE object_label END AS object_label,
       |  CASE WHEN $elig THEN 'semapv:MappingInversion' ELSE justification END AS justification,
       |  CASE WHEN $elig THEN 'mapping:' || $triple END AS derived_from
       |FROM mappings""".stripMargin
  }

  /** Predicate-inversion CASE generated from Curate.InversionMap so the
    * oracle cannot drift from the Spark-side table.
    */
  private val duckInvertPred: String =
    "(CASE predicate_id " +
      Curate.InversionMap.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ") +
      " END)"

  private val invertPrefixOracle: String = {
    val elig = "(justification <> 'semapv:MappingInversion' " +
      "AND split_part(subject_id, ':', 1) = 'ex3' " +
      "AND split_part(object_id, ':', 1) = 'wd')"
    val triple = duckTripleHash("subject_id", "predicate_id", "object_id",
      "COALESCE(predicate_modifier = 'Not', FALSE)")
    s"""WITH ${Derive.mappingsCte}
       |SELECT mapping_id,
       |  CASE WHEN $elig THEN object_id ELSE subject_id END AS subject_id,
       |  CASE WHEN $elig THEN $duckInvertPred ELSE predicate_id END AS predicate_id,
       |  CASE WHEN $elig THEN subject_id ELSE object_id END AS object_id,
       |  CASE WHEN $elig THEN 'semapv:MappingInversion' ELSE justification END AS justification,
       |  CASE WHEN $elig THEN 'mapping:' || $triple END AS derived_from
       |FROM mappings""".stripMargin
  }

  private val SortDslLiterals = Seq(
    "date", "+date", "date-published", "+date-published",
    "-confidence", "subject", "object")

  private def sortDslOracleFor(name: String): String = {
    val keys = name match {
      case "date" => "(mapping_date IS NOT NULL) DESC, publication_date DESC NULLS LAST"
      case "+date" => "(mapping_date IS NOT NULL) ASC, publication_date ASC NULLS FIRST"
      case "date-published" => "(publication_date IS NOT NULL) DESC, publication_date DESC NULLS LAST"
      case "+date-published" => "(publication_date IS NOT NULL) ASC, publication_date ASC NULLS FIRST"
      case "-confidence" => "COALESCE(confidence, 0.0) DESC"
      case "subject" => "subject_id ASC"
      case "object" => "object_id ASC"
    }
    s"""SELECT '$name' AS sort_name,
       |  CAST(row_number() OVER (ORDER BY $keys, mapping_id) AS BIGINT) AS rn,
       |  mapping_id
       |FROM (SELECT * FROM mappings ORDER BY $keys, mapping_id LIMIT 20) t""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "digest_record" ->
      s"""WITH ${Derive.mappingsCte},
         |sx AS (SELECT mapping_id, $duckSexpr AS sexpr FROM mappings),
         |$duckFnvCtes
         |SELECT mapping_id, sexpr, record_fnv FROM fnv""".stripMargin,
    "digest_triple" ->
      s"""WITH ${Derive.mappingsCte}
         |SELECT mapping_id,
         |  ${duckTripleHash("subject_id", "predicate_id", "object_id",
              "COALESCE(predicate_modifier = 'Not', FALSE)")} AS triple_hash
         |FROM mappings""".stripMargin,
    "mut_invert" -> invertOracle,
    "mut_invert_prefix" -> invertPrefixOracle,
    "mut_curate" -> curateOracle,
    "f_curation" ->
      s"""WITH ${Derive.mappingsCte}
         |SELECT mapping_id FROM mappings
         |WHERE predicate_modifier IS NULL
         |  AND (reviewer_agreement IS NULL OR reviewer_agreement <> 0.0)
         |  AND (confidence IS NULL OR confidence >= 0.5)""".stripMargin,
    "s_compare" ->
      s"""WITH l0 AS ${compareSideCte(0)},
         |r0 AS ${compareSideCte(1)},
         |l AS (SELECT subject_id, object_id, count(*) AS n, min(predicate_id) AS pred,
         |        min(predicate_modifier) AS mod FROM l0 GROUP BY 1, 2),
         |r AS (SELECT subject_id, object_id, count(*) AS n, min(predicate_id) AS pred,
         |        min(predicate_modifier) AS mod FROM r0 GROUP BY 1, 2),
         |j AS (SELECT COALESCE(l.subject_id, r.subject_id) AS subject_id,
         |             COALESCE(l.object_id, r.object_id) AS object_id,
         |             l.n AS n_l, r.n AS n_r, l.pred AS pred_l, r.pred AS pred_r,
         |             l.mod AS mod_l, r.mod AS mod_r
         |      FROM l FULL OUTER JOIN r
         |        ON l.subject_id = r.subject_id AND l.object_id = r.object_id)
         |SELECT split_part(subject_id, ':', 1) AS subject_prefix,
         |       split_part(object_id, ':', 1) AS object_prefix,
         |       CASE WHEN n_l > 1 AND n_r IS NULL THEN 'duplicate_left'
         |            WHEN n_r > 1 AND n_l IS NULL THEN 'duplicate_right'
         |            WHEN n_l > 1 OR n_r > 1 THEN 'duplicate_both'
         |            WHEN n_r IS NULL THEN 'left_only'
         |            WHEN n_l IS NULL THEN 'right_only'
         |            WHEN pred_l <> pred_r THEN 'conflict_predicate'
         |            WHEN NOT (mod_l IS NOT DISTINCT FROM mod_r) THEN 'conflict_modifier'
         |            ELSE 'agree' END AS class,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM j GROUP BY 1, 2, 3""".stripMargin,
    "q_sort_dsl" ->
      s"""WITH ${Derive.mappingsCte}
         |${SortDslLiterals.map(sortDslOracleFor).mkString("\nUNION ALL\n")}""".stripMargin,
    "f_compress" ->
      s"""WITH ${Derive.mappingsCte}
         |SELECT mapping_id,
         |  ${duckExpand("subject_id")} AS subject_uri,
         |  subject_id AS subject_roundtrip,
         |  object_id AS object_roundtrip
         |FROM mappings""".stripMargin,
    "f_sametext" ->
      s"""WITH ${Derive.mappingsCte},
         |v AS (SELECT mapping_id, predicate_id,
         |        CASE WHEN mapping_id % 3 = 0 THEN 'Doc-' || mapping_id
         |             ELSE object_label END AS object_label
         |      FROM mappings)
         |SELECT mapping_id, predicate_id, object_label FROM v
         |WHERE lower(regexp_replace('doc ' || mapping_id, '[ -]', '', 'g'))
         |      = lower(regexp_replace(object_label, '[ -]', '', 'g'))
         |  AND predicate_id = 'skos:exactMatch'""".stripMargin,
    "f_kv" ->
      s"""WITH ${Derive.mappingsCte},
         |kv AS (SELECT mapping_id,
         |         'tool=' || mapping_tool || '|score=' || CAST(similarity_score AS VARCHAR) AS other
         |       FROM mappings WHERE mapping_tool IS NOT NULL)
         |SELECT mapping_id,
         |  regexp_extract(other, 'tool=([^|]*)', 1) AS tool_parsed,
         |  regexp_extract(other, 'score=([^|]*)', 1) AS score_parsed
         |FROM kv""".stripMargin,
    "agg_merge_cur" ->
      s"""WITH ${Derive.mappingsCte},
         |v AS (SELECT mapping_id,
         |        'ex0:grp/' || (mapping_id % 12) AS subject_id,
         |        predicate_id, predicate_modifier,
         |        'wd:Q' || (mapping_id % 10) AS object_id,
         |        justification, author_id, confidence
         |      FROM mappings)
         |SELECT subject_id, predicate_id, object_id, predicate_modifier,
         |  array_to_string(list_sort(list_distinct(list(author_id))), '|') AS authors,
         |  round(CASE WHEN max(confidence) >= 1.0 THEN 1.0
         |        ELSE 1 - exp(sum(ln(1 - confidence))) END, 6) AS confidence,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  'mapping:' || ${duckTripleHash("subject_id", "predicate_id", "object_id",
              "COALESCE(predicate_modifier = 'Not', FALSE)")} AS derived_from
         |FROM v WHERE justification = 'semapv:ManualMappingCuration'
         |GROUP BY subject_id, predicate_id, object_id, predicate_modifier""".stripMargin,
    "s_nontrivial_neg" ->
      s"""WITH ${Derive.mappingsCte},
         |v AS (SELECT mapping_id,
         |        'ex0:grp/' || (mapping_id % 40) AS subject_id,
         |        'wd:Q' || (mapping_id % 25) AS object_id,
         |        predicate_modifier
         |      FROM mappings)
         |SELECT mapping_id FROM v m
         |WHERE predicate_modifier IS NULL
         |   OR NOT EXISTS (SELECT 1 FROM v p
         |        WHERE p.predicate_modifier IS NULL
         |          AND p.subject_id = m.subject_id AND p.object_id = m.object_id)""".stripMargin,
    "conf_reviewer" ->
      """WITH agg AS (
        |  SELECT event_type,
        |    round(avg(CASE WHEN event_type = 'error'
        |      THEN 1 - 1.0 / (1.5 + value) ELSE 1.0 / (1.5 + value) END), 6) AS confidence,
        |    CAST(count(*) AS BIGINT) AS n_evidence
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  round(0.75 * confidence
        |    + 0.25 * (1.0 + CAST(length(event_type) % 3 - 1 AS DOUBLE)) / 2.0, 6) AS blended,
        |  n_evidence
        |FROM agg""".stripMargin,
    "mut_review" ->
      s"""WITH ${Derive.mappingsCte}
         |SELECT mapping_id, 'reviewed' AS channel,
         |  'orcid:0000-222' AS reviewer_id, 1.0 AS reviewer_agreement,
         |  '$CurateDate' AS review_date
         |FROM mappings WHERE reviewer_id IS NULL
         |UNION ALL
         |SELECT mapping_id, 'blocked_reviewed', reviewer_id, reviewer_agreement, review_date
         |FROM mappings WHERE reviewer_id IS NOT NULL""".stripMargin,
    "mut_publish" ->
      s"""WITH ${Derive.mappingsCte}
         |SELECT mapping_id,
         |  COALESCE(publication_date, '$CurateDate') AS publication_date
         |FROM mappings""".stripMargin,
    "mut_negate" ->
      s"""WITH ${Derive.mappingsCte}
         |SELECT mapping_id,
         |  CASE WHEN predicate_modifier IS NULL THEN 'Not' END AS predicate_modifier
         |FROM mappings""".stripMargin,
    "mut_urlfix" ->
      s"""${Derive.duckCte}
         |SELECT doc_id,
         |  CASE WHEN regexp_replace(url, '^https?://[a-z0-9.-]+', '') LIKE '/%'
         |       THEN 'https://ex' || (doc_id % 7) || '.org' || regexp_replace(url, '^https?://[a-z0-9.-]+', '')
         |       ELSE url END AS url_fixed
         |FROM web_pages""".stripMargin,
    // COALESCE against the same literal map (LOCKSTEP with the
    // f_propagate defaults above — change both or neither)
    "f_propagate" ->
      s"""WITH ${Derive.mappingsCte}
         |SELECT mapping_id,
         |  COALESCE(mapping_date, '2026-01-01') AS mapping_date,
         |  COALESCE(mapping_tool, 'tool-unknown') AS mapping_tool,
         |  COALESCE(author_id, 'orcid:0000-0000') AS author_id
         |FROM mappings""".stripMargin,
    // typed casts mirror applySlots; the curie branch reuses duckExpand
    // (generated from Canonical.PrefixMap — the same lockstep pair every
    // canonical oracle uses)
    "f_slots" ->
      s"""SELECT doc_id AS mapping_id,
         |  CAST((doc_id * 13) % 100 AS INT) AS ext_score,
         |  CAST(CAST('2026-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS DATE) + 7 AS VARCHAR) AS ext_seen_plus7,
         |  ${duckExpand("(CASE WHEN doc_id % 3 = 0 THEN 'wd:Q' || (doc_id % 1000) " +
            "WHEN doc_id % 3 = 1 THEN 'nope:X' || doc_id ELSE 'plain-ref' END)")} AS ext_ref
         |FROM documents""".stripMargin,
    // DuckDB's OWN footer introspection (DESCRIBE) vs Spark's reader;
    // incoming CTE = the same drop/add/retype twin as the Spark query
    // (LOCKSTEP: drop source, add extra_score DOUBLE, n_chars -> VARCHAR)
    "f_append_compat" ->
      """WITH existing AS (
        |  SELECT column_name AS col, column_type AS typ FROM (DESCRIBE documents)),
        |incoming AS (
        |  SELECT column_name AS col,
        |         CASE WHEN column_name = 'n_chars' THEN 'VARCHAR' ELSE column_type END AS typ
        |  FROM (DESCRIBE documents) WHERE column_name <> 'source'
        |  UNION ALL
        |  SELECT 'extra_score', 'DOUBLE')
        |SELECT COALESCE(e.col, i.col) AS col,
        |       e.typ AS existing_type, i.typ AS incoming_type,
        |       CASE WHEN e.typ IS NULL THEN 'new_column'
        |            WHEN i.typ IS NULL THEN 'missing_column'
        |            WHEN e.typ <> i.typ THEN 'type_changed'
        |            ELSE 'ok' END AS status
        |FROM existing e FULL OUTER JOIN incoming i ON e.col = i.col""".stripMargin,
    // DuckDB's own footer introspection for present_in_data; the slot
    // VALUES list and the core-column IN list are LOCKSTEP with
    // ExtensionSlots.CoreColumns and the Spark query's slot Seq
    "f_slot_collision" ->
      """WITH slots(slot_name) AS (VALUES ('doc_id'), ('lang'), ('html'),
        |  ('n_chars'), ('source'), ('quality_tier')),
        |cols AS (SELECT column_name AS col FROM (DESCRIBE documents))
        |SELECT slot_name,
        |  slot_name IN ('url','warc_ts','html','text','lang','part','doc_id') AS shadows_core,
        |  EXISTS (SELECT 1 FROM cols c WHERE c.col = slot_name) AS present_in_data,
        |  CASE WHEN slot_name IN ('url','warc_ts','html','text','lang','part','doc_id')
        |         THEN 'shadows_core'
        |       WHEN NOT EXISTS (SELECT 1 FROM cols c WHERE c.col = slot_name)
        |         THEN 'missing_from_data'
        |       ELSE 'ok' END AS verdict
        |FROM slots""".stripMargin,
    // keep-singles merge: gn counts each triple group ONCE (window over
    // the manual channel; NULL modifier groups like Spark's null-safe
    // key); gn>1 rows take the agg_merge_cur aggregate shape, gn=1 rows
    // pass through with their original fields
    "agg_merge_cur2" ->
      s"""WITH ${Derive.mappingsCte},
         |v AS (SELECT mapping_id,
         |        'ex0:grp/' || (mapping_id % 12) AS subject_id,
         |        predicate_id, predicate_modifier,
         |        'wd:Q' || (mapping_id % 10) AS object_id,
         |        justification, author_id, confidence
         |      FROM mappings),
         |man AS (SELECT *, count(*) OVER (PARTITION BY subject_id, predicate_id,
         |          object_id, predicate_modifier) AS gn
         |        FROM v WHERE justification = 'semapv:ManualMappingCuration')
         |SELECT 'merged' AS channel, CAST(NULL AS BIGINT) AS mapping_id,
         |  subject_id, predicate_id, object_id, predicate_modifier,
         |  array_to_string(list_sort(list_distinct(list(author_id))), '|') AS authors,
         |  round(CASE WHEN max(confidence) >= 1.0 THEN 1.0
         |        ELSE 1 - exp(sum(ln(1 - confidence))) END, 6) AS confidence,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  'mapping:' || ${duckTripleHash("subject_id", "predicate_id", "object_id",
              "COALESCE(predicate_modifier = 'Not', FALSE)")} AS derived_from
         |FROM man WHERE gn > 1
         |GROUP BY subject_id, predicate_id, object_id, predicate_modifier
         |UNION ALL
         |SELECT 'single', mapping_id, subject_id, predicate_id, object_id,
         |  predicate_modifier, author_id AS authors, confidence,
         |  CAST(1 AS BIGINT) AS n_members, CAST(NULL AS VARCHAR) AS derived_from
         |FROM man WHERE gn = 1""".stripMargin
  )
}
