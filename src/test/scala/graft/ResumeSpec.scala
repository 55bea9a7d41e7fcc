package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ckpt.Checkpoint
import graft.constraints.Constraints
import graft.gen.Derive
import graft.io.Tables
import graft.runner.ValidationRun

/** Checkpoint/resume contract (FIXTURES.md §B.6): resumed run ≡ full run
  * on all output tables; schema-checked appends; monotonic snapshots.
  */
class ResumeSpec extends SparkSpecBase {
  import spark.implicits._

  def tmp(): String = Files.createTempDirectory("graft-resume").toString
  lazy val pages = Derive.webPages(spark, "/root/testdata/sf0.001")

  private def digestStore(root: String) = Tables.ParquetTable(ValidationRun.digestsPath(root))
  private def violationTable(root: String) = Tables.ParquetTable(ValidationRun.violationsPath(root))
  private def runViolations(root: String, runId: String) =
    spark.read.parquet(ValidationRun.violationsPath(root)).filter(col("run_id") === runId)

  private def verdictSet(root: String): Set[String] =
    ValidationRun.currentVerdicts(spark, root)
      .select("part", "check_name", "passed", "violation_count", "row_count")
      .collect().map(_.mkString("|")).toSet

  test("resumed run (half then rest) equals one full run") {
    val full = tmp(); val split = tmp()
    ValidationRun.run(spark, pages, Constraints.webtextSuite, full, "r1")
    // crash simulation: first run only sees partitions 0-3, second the full input
    ValidationRun.run(spark, pages.filter(col("part") < 4),
      Constraints.webtextSuite, split, "r1")
    val rep2 = ValidationRun.run(spark, pages, Constraints.webtextSuite, split, "r1")
    assert(rep2.partsProcessed == Seq(4, 5, 6, 7), "resume must only process missing partitions")
    assert(verdictSet(full) == verdictSet(split))
    assert(Checkpoint.state(spark, split).latest == 2L)
    assert(Checkpoint.state(spark, split).done == (0 to 7).toSet)
  }

  test("digest invariant: mutated text is detected on the next run") {
    val root = tmp()
    ValidationRun.run(spark, pages, Constraints.webtextSuite, root, "r1")
    val v1 = spark.read.parquet(ValidationRun.violationsPath(root))
      .filter(col("check_name") === "text_digest")
    assert(v1.count() == 0, "first run has no stored digests to contradict")
    val mutated = pages.withColumn("text",
      when(col("doc_id") % 113 === 44, concat(col("text"), lit(" tampered")))
        .otherwise(col("text")))
    graft.checks.Invariants
      .checkAndStoreDigests(spark, mutated, digestStore(root), violationTable(root), "r2")
    val changed = runViolations(root, "r2").collect()
    assert(changed.nonEmpty && changed.forall(_.getString(2) == "text_digest"))
    // every flagged row is one of the tampered urls
    val tamperedUrls = mutated.filter(col("doc_id") % 113 === 44 && col("url").isNotNull)
      .select("url").collect().map(_.getString(0)).toSet
    assert(changed.map(_.getString(1)).toSet.subsetOf(tamperedUrls))
  }

  test("digest store is bounded: one row per url across many runs") {
    val root = tmp()
    val urls = pages.filter(col("url").isNotNull).select("url").distinct().count()
    (1 to 5).foreach { i =>
      graft.checks.Invariants.checkAndStoreDigests(spark, pages, digestStore(root),
        violationTable(root), s"r$i")
    }
    val stored = spark.read.parquet(s"$root/digests")
    assert(stored.count() == urls,
      "store must hold exactly one canonical row per url, independent of run count")
    assert(stored.groupBy("url").count().filter(col("count") > 1).count() == 0)
    // first-seen digest is the contract: a later run's mutation both
    // reports a violation AND leaves the stored canonical untouched
    val mutated = pages.withColumn("text", concat(col("text"), lit(" zz")))
    graft.checks.Invariants.checkAndStoreDigests(spark, mutated, digestStore(root),
      violationTable(root), "r6")
    assert(runViolations(root, "r6").count() > 0)
    assert(spark.read.parquet(s"$root/digests").count() == urls)
  }

  test("bucketed run: resume equals full run; url checks match the unbucketed reference") {
    import graft.checks.DatasetChecks
    val wh = tmp()
    Seq("rs_pages_b", "rs_lineage_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // WebGen partitions by url-hash — the co-partitioning the bucketed
    // resume contract requires (a url never spans batches)
    val gen = graft.gen.WebGen.pages(spark, 20000, parts = 8)
    Tables.writeBucketed(gen, "rs_pages_b", s"$wh/pages", "url", 8)
    val genValid = gen.filter(col("url").isNotNull && length(col("url")) > 0 &&
      col("url").rlike(Constraints.UrlPattern))
    val lineageDf = genValid.filter(pmod(xxhash64(col("url")), lit(6)) =!= 5).select("url")
    Tables.writeBucketed(lineageDf, "rs_lineage_b", s"$wh/lineage", "url", 8)
    val pb = spark.table("rs_pages_b")
    val lb = spark.table("rs_lineage_b")

    val full = tmp(); val split = tmp()
    ValidationRun.runBucketed(spark, pb, lb, Constraints.webtextSuite, full, "r1")
    ValidationRun.runBucketed(spark, pb.filter(col("part") < 4), lb,
      Constraints.webtextSuite, split, "r1")
    val rep2 = ValidationRun.runBucketed(spark, pb, lb, Constraints.webtextSuite, split, "r1")
    assert(rep2.partsProcessed == Seq(4, 5, 6, 7))
    assert(verdictSet(full) == verdictSet(split))
    def urlViol(root: String): Set[String] =
      spark.read.parquet(s"$root/url_violations")
        .select("part", "doc_id", "url", "check_name").collect().map(_.mkString("|")).toSet
    assert(urlViol(full) == urlViol(split))

    // the pass's merge-joined checks over bucketed tables find exactly
    // what the same operators find with the entries' join strategy over
    // the unbucketed inputs
    val ref = DatasetChecks.urlViolations(genValid, lineageDf, mergeJoins = false)
      .select("part", "doc_id", "url", "check_name")
      .collect().map(_.mkString("|")).toSet
    assert(urlViol(full) == ref)
    // digest store is bucketed, bounded, and clean on an unmutated re-read
    assert(spark.read.parquet(s"$full/digests_bkt").groupBy("url").count()
      .filter(col("count") > 1).count() == 0)

    // crash-retry idempotence: a duplicate append of the same keyed rows
    // collapses in the reader, same contract as currentVerdicts
    val uv = spark.read.parquet(s"$full/url_violations")
    val before = ValidationRun.currentUrlViolations(spark, full).count()
    Tables.append(spark, uv.limit(25), Tables.ParquetTable(s"$full/url_violations"))
    assert(ValidationRun.currentUrlViolations(spark, full).count() == before)
    Seq("rs_pages_b", "rs_lineage_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("crash between appends and commit: retry reuses the snapshot id; certified readers never double-count") {
    // the reference's content-addressed _mutate contract
    // (database/repo.py:204-218): append-only bookkeeping, idempotence
    // keys, a crash between steps never double-counts. Simulated crash:
    // an attempt over parts 4-7 appended PART of its verdict grid and
    // its lineage rows (stamped with the snapshot id it never committed),
    // then died — partial parquet + stale manifest.
    val root = tmp(); val full = tmp()
    ValidationRun.run(spark, pages, Constraints.webtextSuite, full, "r1")
    ValidationRun.run(spark, pages.filter(col("part") < 4),
      Constraints.webtextSuite, root, "r1")
    val batch = pages.filter(col("part") >= 4)
    val partialVerd = graft.runner.Runner.verdicts(batch, Constraints.webtextSuite)
      .filter(col("part") === 5) // only one partition's grid made it out
      .withColumn("run_id", lit("r2-crashed"))
    Tables.append(spark, partialVerd, Tables.ParquetTable(ValidationRun.verdictsPath(root)))
    val snap = Checkpoint.state(spark, root).next
    assert(snap == 2L)
    val crashedLineage = batch.groupBy(col("part")).agg(count(lit(1)).as("row_count"))
      .withColumn("run_id", lit("r2-crashed"))
      .withColumn("snapshot_id", lit(snap))
      .withColumn("committed_at", current_timestamp())
    Tables.append(spark, crashedLineage, Tables.ParquetTable(ValidationRun.lineagePath(root)))

    // manifest still says only parts 0-3 are done: the retry reprocesses
    // 4-7 and REUSES snapshot id 2 under its own run id
    val rep = ValidationRun.run(spark, pages, Constraints.webtextSuite, root, "r2")
    assert(rep.partsProcessed == Seq(4, 5, 6, 7) && rep.snapshotId == 2L)

    // the raw audit table really does hold duplicate (snapshot_id, part)
    // rows under different run ids — the hazard is live, not hypothetical
    val raw = spark.read.parquet(ValidationRun.lineagePath(root))
    assert(raw.groupBy("snapshot_id", "part").count()
      .filter(col("count") > 1).count() > 0)

    // the certified reader excludes the orphan attempt: manifest-join
    // keeps only committed (snapshot_id, run_id) pairs, key-dedup
    // collapses any re-append — per-part counts match the input exactly
    val lin = ValidationRun.currentLineage(spark, root)
    assert(lin.groupBy("snapshot_id", "part").count()
      .filter(col("count") > 1).count() == 0)
    assert(lin.filter(col("run_id") === "r2-crashed").count() == 0)
    val want = pages.groupBy(col("part")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = lin.select("part", "row_count")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want, "committed audit counts must equal the input partition counts")

    // verdict outputs: the crashed partial rows carry identical VALUES
    // (same deterministic grid), so the part/check/counts view equals a
    // clean full run — no double count, nothing missing
    assert(verdictSet(root) == verdictSet(full))
  }

  test("commit with a stale expected snapshot id fails before it writes") {
    val root = tmp()
    ValidationRun.run(spark, pages.filter(col("part") < 4), Constraints.webtextSuite, root, "r1")
    val read = Checkpoint.state(spark, root)
    // another writer commits after this pass read the manifest
    Checkpoint.commit(spark, root, "other", Seq(4), read.next)
    val manifest = Checkpoint.manifest(spark, root).collect().map(_.mkString("|")).toSet
    val e = intercept[IllegalArgumentException] {
      Checkpoint.commit(spark, root, "r1", Seq(5, 6, 7), read.next)
    }
    assert(e.getMessage.contains("concurrent checkpoint writer"))
    assert(Checkpoint.manifest(spark, root).collect().map(_.mkString("|")).toSet == manifest)
    assert(Checkpoint.state(spark, root) == Checkpoint.State((0 to 4).toSet, 2L))
  }

  test("plain and bucketed layouts give the same outputs over the same pages") {
    val wh = tmp()
    val tables = Seq("le_pages_b", "le_lineage_b")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val gen = graft.gen.WebGen.pages(spark, 4000, parts = 8)
    // every 50th page again in the other batch with changed text: the
    // second batch's digest compare then reports text_digest violations
    val copies = gen.filter(col("doc_id") % 50 === 0)
      .withColumn("part", (col("part") + 4) % 8)
      .withColumn("text", concat(col("text"), lit(" v2")))
    Tables.writeBucketed(gen.unionByName(copies), "le_pages_b", s"$wh/pages", "url", 8)
    Tables.writeBucketed(graft.bench.BenchUtil.syntheticLineage(gen.filter(Constraints.validUrl)),
      "le_lineage_b", s"$wh/lineage", "url", 8)
    val pb = spark.table("le_pages_b")
    val plain = tmp(); val bkt = tmp()
    (0 until 2).foreach { i =>
      val batch = pb.filter(col("part") < 4 * (i + 1))
      ValidationRun.run(spark, batch, Constraints.webtextSuite, plain, "r1")
      ValidationRun.runBucketed(spark, batch, spark.table("le_lineage_b"),
        Constraints.webtextSuite, bkt, "r1")
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    def out(root: String, table: String) = rows(spark.read.parquet(s"$root/$table"))

    val rowChecks = Constraints.webtextSuite.map(_.name)
    def rowVerdicts(root: String) =
      rows(spark.read.parquet(ValidationRun.verdictsPath(root))
        .filter(col("check_name").isin(rowChecks: _*)))
    assert(rowVerdicts(plain).size == 8 * rowChecks.size)
    assert(rowVerdicts(plain) == rowVerdicts(bkt))
    assert(spark.read.parquet(ValidationRun.verdictsPath(bkt))
      .filter(col("check_name").isin("url_unique", "url_lineage")).count() == 8 * 2)
    Seq("violations", "metrics", "len_hist").foreach(t => assert(out(plain, t) == out(bkt, t), t))
    assert(spark.read.parquet(ValidationRun.violationsPath(plain))
      .filter(col("check_name") === "text_digest").count() > 0)
    def lineage(root: String) =
      rows(ValidationRun.currentLineage(spark, root)
        .select("part", "row_count", "snapshot_id", "run_id"))
    assert(lineage(plain).size == 8 && lineage(plain) == lineage(bkt))
    assert(out(plain, "digests") == out(bkt, "digests_bkt"))
    (tables :+ ValidationRun.digestTableName(bkt))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("re-running a completed root is a no-op") {
    val root = tmp()
    ValidationRun.run(spark, pages, Constraints.webtextSuite, root, "r1")
    val again = ValidationRun.run(spark, pages, Constraints.webtextSuite, root, "r2")
    assert(again.partsProcessed.isEmpty && again.rows == 0L)
  }

  test("append rejects new columns, missing columns, and type changes") {
    val t = Tables.ParquetTable(tmp() + "/t")
    Tables.append(spark, Seq((1, "a")).toDF("id", "v"), t)
    Tables.append(spark, Seq((2, "b")).toDF("id", "v"), t)
    assert(spark.read.parquet(t.path).count() == 2)
    intercept[IllegalArgumentException] {
      Tables.append(spark, Seq((3, "c", 1.0)).toDF("id", "v", "extra"), t)
    }
    intercept[IllegalArgumentException] {
      Tables.append(spark, Seq(Tuple1(4)).toDF("id"), t)
    }
    intercept[IllegalArgumentException] {
      Tables.append(spark, Seq((5, 6)).toDF("id", "v"), t)
    }
  }

  test("schemaCompatReport lists every mismatch class with DuckDB type names") {
    val existing = Seq((1L, "a", "s", 2L)).toDF("id", "v", "gone", "n").schema
    val incoming = Seq(("1", "a", 0.5)).toDF("id", "v", "extra").schema
    val rows = Tables.compatIssues(existing, incoming)
      .map(i => (i.col, i.existing_type, i.incoming_type, i.status))
    assert(rows == Seq(
      ("extra", None, Some("DOUBLE"), "new_column"),
      ("gone", Some("VARCHAR"), None, "missing_column"),
      ("id", Some("BIGINT"), Some("VARCHAR"), "type_changed"),
      ("n", Some("BIGINT"), None, "missing_column"),
      ("v", Some("VARCHAR"), Some("VARCHAR"), "ok")))
    // the DataFrame form carries the same rows (driver-sized by nature)
    assert(Tables.schemaCompatReport(spark, existing, incoming).count() == 5)
  }

  test("bucketed append enforces the header contract and keeps the layout") {
    val wh = tmp()
    spark.sql("DROP TABLE IF EXISTS ab_t")
    val ab = Tables.BucketedTable("ab_t", s"$wh/t", "url", 4)
    Tables.append(spark, Seq((1, "u1")).toDF("id", "url"), ab)
    // reversed column order, same names/types → aligned and appended
    Tables.append(spark, Seq(("u2", 2)).toDF("url", "id"), ab)
    assert(spark.table("ab_t").count() == 2)
    intercept[IllegalArgumentException] {
      Tables.append(spark, Seq((3, "u3", 1.0)).toDF("id", "url", "extra"), ab)
    }
    intercept[IllegalArgumentException] {
      Tables.append(spark, Seq(Tuple1(4)).toDF("id"), ab)
    }
    intercept[IllegalArgumentException] {
      Tables.append(spark, Seq((5, 6)).toDF("id", "url"), ab)
    }
    // appended files land in their buckets: a url self-join stays exchange-free
    val t = spark.table("ab_t")
    val p = t.hint("merge").join(t.hint("merge"), Seq("url"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"append must preserve the bucketed layout:\n$p")
    spark.sql("DROP TABLE IF EXISTS ab_t")
  }

  test("append aligns column order to the existing table") {
    val t = Tables.ParquetTable(tmp() + "/t2")
    Tables.append(spark, Seq((1, "a")).toDF("id", "v"), t)
    Tables.append(spark,
      Seq(("b", 2)).toDF("v", "id"), t) // reversed order, same names/types
    val got = spark.read.parquet(t.path).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b")))
  }
}
