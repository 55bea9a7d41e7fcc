package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ckpt.Checkpoint
import graft.constraints.Constraint
import graft.io.Tables
import graft.stats.Stats

/** End-to-end resumable validation run: constraint suite → violations +
  * verdicts + per-partition metrics, appended to output tables under one
  * run id, checkpointed per table-partition batch.
  *
  * This is the engine's `ValidationRun: plan → execute → verdicts`
  * (SURVEY §7.1 runner/). Scale behavior:
  *   - The input filter `!part.isin(completed)` is a partition-pruning
  *     predicate when the source table is partitioned by `part` — a
  *     resumed run never rescans completed partitions' files.
  *   - Outputs are append-only with idempotence keys
  *     (run_id, part, check_name); a crashed run re-appends the same keys
  *     on retry and readers dedup by key (the reference's
  *     content-addressed upsert discipline, database/repo.py:204-218).
  */
object ValidationRun {

  final case class Report(runId: String, snapshotId: Long,
                          partsProcessed: Seq[Int], rows: Long)

  def violationsPath(root: String) = s"$root/violations"
  def verdictsPath(root: String) = s"$root/verdicts"
  def metricsPath(root: String) = s"$root/metrics"
  def lineagePath(root: String) = s"$root/run_lineage"
  def digestsPath(root: String) = s"$root/digests"
  def urlViolationsPath(root: String) = s"$root/url_violations"

  /** Storage layout of a pass's input and digest store. */
  sealed trait Layout
  object Layout {
    /** Pages in any layout; the digest store is a parquet directory. */
    case object Plain extends Layout

    /** The write-once-shuffle layout ([[graft.io.Tables.writeBucketed]]):
      * `pages` and `lineage` are scans of catalog tables bucketed by url
      * with the same bucket count (partition-pruning filters on top are
      * fine — they preserve the storage distribution), and the digest
      * store is kept bucketed too, so EVERY url-keyed operation in the
      * pass — uniqueness dedup check, lineage referential integrity,
      * cross-run digest compare and its append-if-absent — plans with
      * zero exchanges (PlanSpec asserts the composed plan). On a cluster
      * this layout is an Iceberg `bucket(N, url)` partition transform;
      * repeated validation runs never re-shuffle the fact table.
      */
    final case class Bucketed(lineage: DataFrame, buckets: Int) extends Layout
  }

  /** Run the suite over all partitions not yet checkpointed under `root`. */
  def run(spark: SparkSession, pages: DataFrame, suite: Seq[Constraint],
          root: String, runId: String): Report =
    pass(spark, pages, suite, root, runId, Layout.Plain)

  /** [[run]] over the bucketed layout ([[Layout.Bucketed]]). Additional
    * outputs: the two url-keyed dataset checks against `lineage` append
    * their violation rows (with `doc_id` provenance) to `url_violations`
    * and join the per-(part, check) verdict grid alongside the row
    * constraints.
    *
    * Correctness requires url-co-partitioned input (`part` derived from
    * url-hash, as [[graft.gen.WebGen.pages]] does): resumed batches are
    * unions of whole table partitions, so a url never spans batches and
    * uniqueness/digest results compose (see [[graft.checks.Invariants]]).
    */
  def runBucketed(spark: SparkSession, pages: DataFrame, lineage: DataFrame,
                  suite: Seq[Constraint], root: String, runId: String,
                  buckets: Int = 8): Report =
    pass(spark, pages, suite, root, runId, Layout.Bucketed(lineage, buckets))

  private val StatsColumns = Seq("url", "lang")

  /** The one validation pass; `layout` decides whether the batch is
    * cached, whether the url checks run and where the digest store lives.
    */
  private def pass(spark: SparkSession, pages: DataFrame, suite: Seq[Constraint],
                   root: String, runId: String, layout: Layout): Report = {
    val manifest = Checkpoint.state(spark, root)
    val todo = if (manifest.done.isEmpty) pages
      else pages.filter(!col("part").isin(manifest.done.toSeq.sorted: _*))
    val parts = todo.select("part").distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (parts.isEmpty) return Report(runId, manifest.latest, Nil, 0L)

    // Plain caches the batch: violations, verdicts and stats share one
    // scan. Bucketed does not: each output pass re-scans the bucketed
    // table with pruned columns — cheaper than dragging text+html through
    // a deserialized cache, and a cache would hide the storage
    // distribution the pass exists to exploit (ScalingBench note).
    val (cache, urlLineage, digests) = layout match {
      case Layout.Plain => (true, None, Tables.ParquetTable(digestsPath(root)))
      case Layout.Bucketed(lineage, buckets) => (false, Some(lineage),
        Tables.BucketedTable(digestTableName(root), s"$root/digests_bkt", "url", buckets))
    }
    val batch = if (cache) todo.persist() else todo
    def stamp(df: DataFrame): DataFrame = df.withColumn("run_id", lit(runId))
    def append(df: DataFrame, path: String): Unit =
      Tables.append(spark, df, Tables.ParquetTable(path))
    try {
      append(stamp(Runner.violations(batch, suite, Seq("url"))), violationsPath(root))
      val rowVerdicts = Runner.verdicts(batch, suite)
      append(stamp(urlLineage.fold(rowVerdicts)(lineage =>
        rowVerdicts.unionByName(urlCheckVerdicts(spark, batch, lineage, root, runId)))),
        verdictsPath(root))
      append(stamp(Stats.columnStats(batch, StatsColumns)), metricsPath(root))
      append(stamp(Stats.lengthHistogram(batch, "text")), s"$root/len_hist")

      // cross-run row invariant: byte-identical text per url
      // (BASELINE.json::input_hint); changed digests append to the same
      // violations table as the row constraints. digViol comes back
      // persisted (materialized before the digest append); release its
      // blocks once consumed or a long-lived session leaks one cached
      // DataFrame per run
      val digViol = graft.checks.Invariants.checkAndStoreDigests(spark, batch, digests, runId)
      try append(digViol, violationsPath(root))
      finally digViol.unpersist()

      val rows = batch.count()

      // per-partition lineage rows (north rule): which run + snapshot
      // processed which partition, with its row count — the audit trail a
      // resumed run extends. Appended BEFORE the checkpoint commit: a
      // crash between the two then loses a re-appendable audit row of a
      // failed attempt, not (as commit-first would) the audit trail of a
      // batch the manifest says is done.
      val snap = manifest.next
      append(stamp(batch.groupBy(col("part")).agg(count(lit(1)).as("row_count")))
        .withColumn("snapshot_id", lit(snap))
        .withColumn("committed_at", current_timestamp()), lineagePath(root))
      Checkpoint.commit(spark, root, runId, parts, snap)

      Report(runId, snap, parts, rows)
    } finally if (cache) batch.unpersist()
  }

  /** The url-keyed dataset checks of a bucketed pass: appends their
    * violation rows to `url_violations` and returns their verdicts.
    * Only well-formed urls participate — the malformed ones are the row
    * suite's finding, and they'd all "dangle" as noise here.
    */
  private def urlCheckVerdicts(spark: SparkSession, batch: DataFrame, lineage: DataFrame,
                               root: String, runId: String): DataFrame = {
    import graft.checks.DatasetChecks
    import graft.constraints.Constraints.validUrl
    val ord = struct(coalesce(unix_timestamp(col("warc_ts")), lit(-1L)).as("ts"),
      (-col("doc_id")).as("negid"))
    Tables.append(spark, DatasetChecks.urlChecksColocated(batch.filter(validUrl), lineage, ord)
      .withColumn("run_id", lit(runId)), Tables.ParquetTable(urlViolationsPath(root)))
    // count over the batch (conditional sum), not over the valid urls: a
    // partition whose urls are ALL malformed would otherwise have no
    // part-count row, and the url checks would be silently ABSENT from
    // its verdict grid instead of present as passed-with-0-checked-rows —
    // the dense per-(part, check) grid is the contract (DatasetChecks
    // scaladoc)
    val pc = batch.groupBy(col("part")).agg(
      sum(when(validUrl, 1L).otherwise(0L)).as("row_count"))
    DatasetChecks.verdictsFromViolations(
      spark.read.parquet(urlViolationsPath(root))
        .filter(col("run_id") === runId)
        .dropDuplicates("run_id", "part", "doc_id", "check_name"),
      pc, Seq("url_unique", "url_lineage"))
  }

  /** Catalog name for a root's bucketed digest store. MD5 of the root,
    * not String.hashCode: 32 bits collide easily enough that two roots in
    * one session could share a store — the second run would then compare
    * its batch against the FIRST root's digests and append there,
    * emitting false digest violations. 128 bits removes the class.
    */
  def digestTableName(root: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_digests_$hex"
  }

  /** Read back the verdicts table deduped by idempotence key — what a
    * consumer sees after any number of crashed/retried appends.
    */
  def currentVerdicts(spark: SparkSession, root: String): DataFrame =
    Tables.read(spark, verdictsPath(root))
      .dropDuplicates("run_id", "part", "check_name")

  /** Read back the audit trail restricted to COMMITTED attempts.
    * Lineage rows are appended BEFORE the manifest commit (crash-window
    * rationale in the pass), so a crash between the two leaves orphan
    * rows whose snapshot_id the retry REUSES — the raw table can hold
    * duplicate (snapshot_id, part) rows under different run_ids. The
    * semi join against the manifest's (snapshot_id, run_id) keeps
    * exactly the attempt each commit certifies, and the key dedup
    * collapses re-appends of a retry that crashed AFTER its commit.
    * The manifest is driver-small by contract (one row per commit) —
    * broadcast.
    */
  def currentLineage(spark: SparkSession, root: String): DataFrame =
    Tables.read(spark, lineagePath(root))
      .join(broadcast(Checkpoint.manifest(spark, root)
        .select(col("snapshot_id"), col("run_id")).distinct()),
        Seq("snapshot_id", "run_id"), "left_semi")
      .dropDuplicates("snapshot_id", "part")

  /** Read back the bucketed pass's url-check violations deduped by
    * idempotence key (run_id, part, doc_id, check_name) — a crashed run
    * re-appends the same keys on retry; readers collapse them, same
    * contract as [[currentVerdicts]].
    */
  def currentUrlViolations(spark: SparkSession, root: String): DataFrame =
    Tables.read(spark, urlViolationsPath(root))
      .dropDuplicates("run_id", "part", "doc_id", "check_name")
}
