package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Dataset-level checks that need a shuffle (unlike row constraints):
  * key uniqueness and referential integrity, emitted in the SAME
  * violation/verdict row shapes as the row-level suite so the outputs
  * union into one grid (north rule: uniqueness + referential checks are
  * part of the per-partition pass/fail).
  *
  * Both url checks have one implementation each, shared by the
  * `v_unique`/`verdicts_full` entries and the bucketed
  * [[graft.runner.ValidationRun]] pass; the callers differ only in join
  * strategy (`mergeJoins`). Both fold [[urlCheckCounts]] into verdict
  * rows with [[graft.runner.Runner.verdictRowsFromAgg]], each with its
  * own per-part row counts, so each keeps its grid density:
  *   - the pass gives every part of a batch both url checks, with 0
  *     checked rows for a part whose urls are all malformed;
  *   - `verdicts_full`'s url rows cover only parts with at least one
  *     valid url, as its oracle's `pcv` CTE does.
  */
object DatasetChecks {

  /** The url-keyed dataset checks, in verdict-grid order. */
  val UrlChecks: Seq[String] = Seq("url_unique", "url_lineage")

  /** The dedup order of the url checks: latest `warc_ts` wins (a null
    * timestamp loses to any real one), `doc_id` breaks ties toward the
    * smaller id — arg-max semantics of process.py:124-127. The url
    * checks and the `dedup_url*`/`fmt_canonical` entries all order by
    * this one column, so they cannot disagree on which row wins.
    */
  def latestWins: Column =
    struct(coalesce(unix_timestamp(col("warc_ts")), lit(-1L)).as("ts"),
      (-col("doc_id")).as("negid"))

  private def violationRows(df: DataFrame, check: String, detail: Column): DataFrame =
    df.select(col("part"), col("doc_id"), col("url"), lit(check).as("check_name"),
      detail.as("detail"), lit("processing").as("stage"))

  /** Rows that lose the arg-max dedup (every duplicate beyond the kept
    * row) as violation rows: (part, doc_id, url, check_name, detail,
    * stage). Implemented as groupBy-count join rather than a window —
    * the duplicate SET per key is tiny (dup count), and the count
    * aggregate partial-combines map-side.
    *
    * `mergeJoins` merge-hints the keeper re-attach join. Over inputs
    * bucketed by url ([[graft.io.Tables.writeBucketed]]) the keeper
    * aggregate inherits the scan's hash distribution and the join plans
    * with zero exchanges (PlanSpec asserts it); the hint keeps a
    * size-misestimated broadcast from defeating that layout on the
    * fact-fact shape. Without it the planner picks the join.
    */
  def uniquenessViolations(pages: DataFrame, mergeJoins: Boolean): DataFrame = {
    val keepers = Dedup.uniqueByKey(pages, col("url"), latestWins, Seq("doc_id"))
      .select(col("key").as("url"), col("doc_id").as("__keep"))
    val joined = if (mergeJoins) pages.hint("merge").join(keepers.hint("merge"), Seq("url"))
      else pages.join(keepers, Seq("url"))
    violationRows(joined.filter(col("doc_id") =!= col("__keep")), "url_unique",
      concat(lit("duplicate_of_"), col("__keep")))
  }

  /** Dangling-lineage rows in violation shape. Without `mergeJoins` the
    * lineage keys are broadcast (driver-data scale); with it the anti
    * join is a pinned sort-merge join, the full-scale and bucketed shape
    * ([[Dedup.danglingRows]]).
    */
  def riViolations(pages: DataFrame, lineage: DataFrame,
                   mergeJoins: Boolean): DataFrame =
    violationRows(Dedup.danglingRows(pages.select("part", "doc_id", "url"), lineage, "url",
        broadcastParent = !mergeJoins), "url_lineage", lit("no_fetch_record"))

  /** Both url checks' violation rows. Callers pass pages with
    * well-formed urls only: the malformed ones are the row suite's
    * finding, and they would all "dangle" as noise here.
    */
  def urlViolations(pages: DataFrame, lineage: DataFrame, mergeJoins: Boolean): DataFrame =
    uniquenessViolations(pages, mergeJoins).unionByName(riViolations(pages, lineage, mergeJoins))

  /** Per-part violation counts of url-check rows: (part, v_url_unique,
    * v_url_lineage), the `v_<check>` columns
    * [[graft.runner.Runner.verdictRowsFromAgg]] reads. A part appears
    * only when it has a violation; callers default the rest to 0.
    */
  def urlCheckCounts(violations: DataFrame): DataFrame = {
    val counts = UrlChecks.map(c => count(when(col("check_name") === c, 1)).as(s"v_$c"))
    violations.groupBy(col("part")).agg(counts.head, counts.tail: _*)
  }
}
