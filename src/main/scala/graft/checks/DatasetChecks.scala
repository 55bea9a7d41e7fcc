package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Dataset-level checks that need a shuffle (unlike row constraints):
  * key uniqueness and referential integrity, emitted in the SAME
  * violation/verdict row shapes as the row-level suite so the outputs
  * union into one grid (north rule: uniqueness + referential checks are
  * part of the per-partition pass/fail).
  */
object DatasetChecks {

  /** The dedup order of the url checks: latest `warc_ts` wins (a null
    * timestamp loses to any real one), `doc_id` breaks ties toward the
    * smaller id — arg-max semantics of process.py:124-127. `v_unique`,
    * `verdicts_full` and the bucketed [[graft.runner.ValidationRun]]
    * pass all order by this one column, so their url checks cannot
    * disagree on which row wins.
    */
  def latestWins: Column =
    struct(coalesce(unix_timestamp(col("warc_ts")), lit(-1L)).as("ts"),
      (-col("doc_id")).as("negid"))

  /** Rows that lose the arg-max dedup (every duplicate beyond the kept
    * row) as violation rows: (part, doc_id, url, check_name, detail,
    * stage). Implemented as groupBy-count join rather than a window —
    * the duplicate SET per key is tiny (dup count), and the count
    * aggregate partial-combines map-side.
    */
  def uniquenessViolations(pages: DataFrame, ord: Column): DataFrame = {
    val keepers = Dedup.uniqueByKey(pages, col("url"), ord, Seq("doc_id"))
      .select(col("key").as("url"), col("doc_id").as("__keep"))
    pages.join(keepers, Seq("url"))
      .filter(col("doc_id") =!= col("__keep"))
      .select(col("part"), col("doc_id"), col("url"),
        lit("url_unique").as("check_name"),
        concat(lit("duplicate_of_"), col("__keep")).as("detail"),
        lit("processing").as("stage"))
  }

  /** Dangling-lineage rows in violation shape. Broadcast the lineage
    * keys only when they fit an executor (driver-data scale); at full
    * scale pass false → shuffled sort-merge anti join.
    */
  def riViolations(pages: DataFrame, lineage: DataFrame,
                   broadcastParent: Boolean = true): DataFrame =
    Dedup.danglingRows(pages.select("part", "doc_id", "url"), lineage, "url",
        broadcastParent = broadcastParent)
      .select(col("part"), col("doc_id"), col("url"),
        lit("url_lineage").as("check_name"),
        lit("no_fetch_record").as("detail"),
        lit("processing").as("stage"))

  /** Both url-keyed dataset checks (uniqueness + lineage RI) as ONE plan
    * over storage-co-located inputs: when `pages` and `lineage` are read
    * from tables bucketed by url with the same bucket count
    * ([[graft.io.Tables.writeBucketed]]), this entire union — groupBy,
    * keeper re-attach join, distinct, anti join — plans with ZERO
    * exchanges (PlanSpec asserts it): the url shuffle was paid once at
    * write time. Joins are merge-hinted because the 100 TB shape is
    * fact-fact — a size-misestimated broadcast would both re-materialize
    * a huge side per executor and defeat the bucketed layout.
    */
  def urlChecksColocated(pages: DataFrame, lineage: DataFrame, ord: Column): DataFrame = {
    // keepers groups by the bucket column ITSELF (no alias) so the
    // aggregate inherits the scan's hash distribution verbatim
    val keepers = pages.groupBy(col("url"))
      .agg(max_by(col("doc_id"), ord).as("__keep"))
      .hint("merge")
    val uniq = pages.hint("merge").join(keepers, Seq("url"))
      .filter(col("doc_id") =!= col("__keep"))
      .select(col("part"), col("doc_id"), col("url"),
        lit("url_unique").as("check_name"),
        concat(lit("duplicate_of_"), col("__keep")).as("detail"),
        lit("processing").as("stage"))
    val parentKeys = lineage.select(col("url")).distinct().hint("merge")
    val ri = pages.hint("merge").join(parentKeys, Seq("url"), "left_anti")
      .select(col("part"), col("doc_id"), col("url"),
        lit("url_lineage").as("check_name"),
        lit("no_fetch_record").as("detail"),
        lit("processing").as("stage"))
    uniq.unionByName(ri)
  }

  /** Fold violation rows into the dense per-(part, check) verdict grid
    * shape, given the per-part row counts of the checked subset.
    */
  def verdictsFromViolations(violations: DataFrame, partCounts: DataFrame,
                             checkNames: Seq[String]): DataFrame = {
    val checks = checkNames
      .map(n => partCounts.sparkSession.range(1).select(lit(n).as("check_name")))
      .reduce(_.union(_))
    val vc = violations.groupBy(col("part"), col("check_name"))
      .agg(count(lit(1)).as("violation_count"))
    partCounts.crossJoin(checks)
      .join(vc, Seq("part", "check_name"), "left")
      .select(col("part"), col("check_name"),
        (coalesce(col("violation_count"), lit(0L)) === 0L).as("passed"),
        coalesce(col("violation_count"), lit(0L)).as("violation_count"),
        col("row_count"))
  }
}
