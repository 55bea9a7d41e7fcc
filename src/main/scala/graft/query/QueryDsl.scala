package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative page-query DSL — the engine twin of the reference's
  * 8-field `Query` pydantic model (reference: src/sssom_pydantic/
  * query.py:30-87), compiled once into a single Catalyst `Column`
  * predicate, exactly as the reference compiles the same model three ways
  * (in-memory predicates query.py:147-181, SQL WHERE
  * database/sql_database.py:449-497, Cypher neo4j_database.py:367-404).
  * Catalyst pushes the resulting conjunction into the parquet scan.
  */
final case class PageQuery(
    urlContains: Option[String] = None,    // casefolded substring, query.py:159-163
    textContains: Option[String] = None,   // full-text `query` field analogue
    langIn: Option[Seq[String]] = None,    // prefix-membership analogue
    domainPrefix: Option[String] = None,   // subject_prefix STARTS WITH analogue
    tsFromEpoch: Option[Long] = None,
    tsToEpoch: Option[Long] = None,
    minTextLen: Option[Int] = None,
    maxTextLen: Option[Int] = None
)

/** Sort DSL — the reference's 16 `Sort` literals with None-last ordering
  * via tuple keys (query.py:196-248); Spark's null-ordering variants are
  * the same trick natively.
  */
sealed trait PageSort { def column: Column }
object PageSort {
  case object TsAsc extends PageSort { def column: Column = col("warc_ts").asc_nulls_last }
  case object TsDesc extends PageSort { def column: Column = col("warc_ts").desc_nulls_last }
  case object LenAsc extends PageSort { def column: Column = length(col("text")).asc_nulls_last }
  case object LenDesc extends PageSort { def column: Column = length(col("text")).desc_nulls_last }
  case object UrlAsc extends PageSort { def column: Column = col("url").asc_nulls_last }
  case object LangAsc extends PageSort { def column: Column = col("lang").asc_nulls_last }
}

object QueryDsl {

  /** Casefolded substring match (query.py:159-163 `casefold() in`).
    * Locale.ROOT, not the JVM default: under e.g. a Turkish default
    * locale "ISTANBUL".toLowerCase is "ıstanbul" (dotless ı) while the
    * column side's `lower()` is locale-independent — the two sides must
    * fold identically or matches silently vanish.
    */
  private def icontains(c: Column, v: String): Column =
    lower(c).contains(v.toLowerCase(java.util.Locale.ROOT))

  /** Compile the query model to one predicate Column (AND of present
    * fields, like clauses_from_query, database/sql_database.py:504-528).
    */
  def compile(q: PageQuery): Column = {
    val clauses: Seq[Column] = Seq(
      q.urlContains.map(v => icontains(col("url"), v)),
      q.textContains.map(v => icontains(col("text"), v)),
      q.langIn.map(vs => col("lang").isin(vs: _*)),
      q.domainPrefix.map(v => col("url").startsWith(s"https://$v")),
      q.tsFromEpoch.map(v => unix_timestamp(col("warc_ts")) >= v),
      q.tsToEpoch.map(v => unix_timestamp(col("warc_ts")) <= v),
      q.minTextLen.map(v => length(col("text")) >= v),
      q.maxTextLen.map(v => length(col("text")) <= v)
    ).flatten
    clauses.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** filter_mappings (query.py:89-101): predicate + optional whitelist
    * semi-join (`keep_references_either`) against the broadcast distinct
    * whitelist urls.
    */
  def filterPages(df: DataFrame, q: PageQuery,
                  urlWhitelist: Option[DataFrame] = None): DataFrame = {
    val filtered = df.filter(compile(q))
    urlWhitelist.fold(filtered) { w =>
      filtered.join(broadcast(w.select(col("url")).distinct()), Seq("url"), "left_semi")
    }
  }

  /** Label normalization for same-text matching (query.py:143-144 and its
    * SQL twin database/sql_database.py:500-501): strip spaces + hyphens,
    * lowercase.
    */
  def normText(c: Column): Column = lower(regexp_replace(c, "[ -]", ""))

  /** The `same_text` composite POSITIVE predicate (query.py:120-129):
    * both labels present, equal after normalization, AND the predicate is
    * skos:exactMatch. Spark's three-valued logic matches the reference's
    * explicit non-null requirement: a NULL label makes the predicate
    * NULL, which `filter` drops.
    *
    * NOTE: the negated form is NOT `!sameText` — the reference's negative
    * branch (query.py:131-140) still requires exactMatch and then KEEPS
    * rows with a missing label or differing normalized labels; use
    * [[sameTextNegated]].
    */
  def sameText(subjLabel: Column, objLabel: Column, predicate: Column): Column =
    normText(subjLabel) === normText(objLabel) &&
      predicate === "skos:exactMatch"

  /** The `same_text = False` branch (query.py:131-140, "explicitly not
    * the same"): exactMatch AND (either label missing OR normalized
    * labels differ).
    */
  def sameTextNegated(subjLabel: Column, objLabel: Column, predicate: Column): Column =
    predicate === "skos:exactMatch" &&
      (subjLabel.isNull || objLabel.isNull ||
        normText(subjLabel) =!= normText(objLabel))

  /** paginate_mappings (query.py:295-337): negative values rejected. */
  def paginate(df: DataFrame, offset: Int, limit: Int): DataFrame = {
    require(offset >= 0, s"offset must be >= 0, got $offset")
    require(limit >= 0, s"limit must be >= 0, got $limit")
    df.offset(offset).limit(limit)
  }

  /** Top-k: orderBy+limit collapses to TakeOrderedAndProject — no global
    * sort materialization (web/ui.py:34-53 order_by+limit).
    */
  def topK(df: DataFrame, k: Int, sorts: PageSort*): DataFrame =
    df.orderBy(sorts.map(_.column): _*).limit(k)
}

/** The reference's COMPLETE 16-literal mapping-record Sort DSL
  * (query.py:196-248, exhaustively tested at tests/cases.py:555-564),
  * over the mapping-record column layout (`Derive.mappings`).
  *
  * Reference keys re-expressed as Spark sort columns:
  *  - confidence sorts: `confidence or 0.0` (nulls coerced to 0)
  *  - the date sorts use PRESENCE-then-VALUE tuple keys; note the
  *    reference quirk reproduced faithfully: the `date` family keys on
  *    (mapping_date is not None, publication_date) — presence of the
  *    MAPPING date, value of the PUBLICATION date (query.py:227-234)
  *  - `subject`/`object`: CURIE string order
  *
  * Python's `sorted(reverse=True)` reverses the whole tuple, so both
  * elements flip together. Python cannot order None against a value
  * (the reference would raise on mixed null/non-null value columns);
  * the engine completes the order deterministically: NULL values sort
  * LAST under desc and FIRST under asc — stated explicitly on every sort
  * column because Spark and DuckDB have different defaults.
  */
object MappingSort {

  val Literals: Seq[String] = Seq(
    "asc", "desc", "confidence", "+confidence", "-confidence",
    "date", "+date", "-date",
    "date-published", "-date-published", "+date-published",
    "date-reviewed", "+date-reviewed", "-date-reviewed",
    "subject", "object")

  def cols(sort: String): Seq[Column] = sort match {
    case "desc" | "confidence" | "-confidence" =>
      Seq(coalesce(col("confidence"), lit(0.0)).desc)
    case "asc" | "+confidence" =>
      Seq(coalesce(col("confidence"), lit(0.0)).asc)
    case "date" | "-date" =>
      Seq(col("mapping_date").isNotNull.desc, col("publication_date").desc_nulls_last)
    case "+date" =>
      Seq(col("mapping_date").isNotNull.asc, col("publication_date").asc_nulls_first)
    case "date-published" | "-date-published" =>
      Seq(col("publication_date").isNotNull.desc, col("publication_date").desc_nulls_last)
    case "+date-published" =>
      Seq(col("publication_date").isNotNull.asc, col("publication_date").asc_nulls_first)
    case "date-reviewed" | "-date-reviewed" =>
      Seq(col("review_date").isNotNull.desc, col("review_date").desc_nulls_last)
    case "+date-reviewed" =>
      Seq(col("review_date").isNotNull.asc, col("review_date").asc_nulls_first)
    case "subject" => Seq(col("subject_id").asc)
    case "object" => Seq(col("object_id").asc)
    case other => throw new IllegalArgumentException(s"invalid sort value: $other")
  }

  /** sort_mappings (query.py:186-193) with a total-order tiebreak: the
    * reference relies on Python's stable sort; a distributed sort has no
    * input order, so determinism comes from the explicit key instead.
    */
  def sortMappings(df: DataFrame, sort: String,
                   tiebreak: Column = col("mapping_id")): DataFrame =
    df.orderBy(cols(sort) :+ tiebreak.asc: _*)

  /** Top-k under a sort literal — TakeOrderedAndProject at scale. */
  def topK(df: DataFrame, sort: String, k: Int,
           tiebreak: Column = col("mapping_id")): DataFrame =
    df.orderBy(cols(sort) :+ tiebreak.asc: _*).limit(k)
}
