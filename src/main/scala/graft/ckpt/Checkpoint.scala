package graft.ckpt

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.io.Tables

/** Snapshot-manifest checkpointing (FIXTURES.md §B.6) — the Iceberg
  * snapshot emulation that makes validation runs resumable.
  *
  * Contract (north rule): a re-run over the same input processes only
  * table partitions absent from the manifest; full-run ≡ resumed-run on
  * all output tables. Snapshot ids are monotonic; each snapshot row
  * records the partitions completed by one commit. Completed partitions
  * are the UNION over all snapshots (append-only, like Iceberg's
  * manifest list).
  *
  * The reference analogue is `CachedSemanticMappings` lazy resume
  * (io.py:1018-1032) + the content-addressed `_mutate` insert-then-delete
  * (database/repo.py:204-218): append-only bookkeeping, idempotence keyed
  * by content, crash between steps never double-counts.
  */
object Checkpoint {

  private def manifestPath(root: String) = s"$root/_snapshots"

  /** Known up front, so a manifest read needs no schema-inference job. */
  private val ManifestSchema = StructType(Seq(
    StructField("snapshot_id", LongType), StructField("run_id", StringType),
    StructField("parts_done", ArrayType(IntegerType)),
    StructField("committed_at", TimestampType)))

  /** The committed-snapshot manifest (empty frame with the manifest
    * schema when no commit happened yet) — the certification source
    * audit readers join against (ValidationRun.currentLineage).
    */
  def manifest(spark: SparkSession, root: String): DataFrame =
    if (Tables.exists(spark, manifestPath(root)))
      spark.read.schema(ManifestSchema).parquet(manifestPath(root))
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), ManifestSchema)

  /** The manifest as of one read: the partitions already completed
    * (union across all snapshots) and the latest snapshot id (0 before
    * the first commit).
    */
  final case class State(done: Set[Int], latest: Long) {
    /** The id the NEXT commit will use. Callers stamp audit rows
      * (run_lineage) with this and append them BEFORE committing: a crash
      * between the two then loses only a re-appendable audit row of a
      * failed attempt — the reverse order would mark the partitions done
      * and permanently skip the audit append on resume.
      */
    def next: Long = latest + 1
  }

  /** One read of the manifest: a single job collecting its rows (one per
    * commit — driver-small by contract), none before the first commit.
    */
  def state(spark: SparkSession, root: String): State = {
    if (!Tables.exists(spark, manifestPath(root))) return State(Set.empty, 0L)
    val rows = manifest(spark, root).select("snapshot_id", "parts_done").collect()
    State(rows.flatMap(_.getSeq[Int](1)).toSet, rows.map(_.getLong(0)).maxOption.getOrElse(0L))
  }

  /** Commit a snapshot with id `expected` recording `partsDone` as newly
    * completed. Fails BEFORE writing when the manifest has moved since
    * the caller read `expected` from [[State.next]]: a concurrent writer
    * committed to the same root (single writer per root is the contract).
    */
  def commit(spark: SparkSession, root: String, runId: String,
             partsDone: Seq[Int], expected: Long): Unit = {
    import spark.implicits._
    val next = state(spark, root).next
    require(next == expected,
      s"concurrent checkpoint writer detected: next snapshot is $next, expected $expected")
    val row = Seq((next, runId, partsDone, new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("snapshot_id", "run_id", "parts_done", "committed_at")
    row.write.mode("append").parquet(manifestPath(root))
  }
}
