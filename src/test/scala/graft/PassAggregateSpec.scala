package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.checks.DatasetChecks
import graft.ckpt.Checkpoint
import graft.constraints.Constraints
import graft.gen.WebGen
import graft.io.Tables
import graft.runner.{Runner, ValidationRun}
import graft.stats.Stats

/** A validation pass derives its per-part tables from ONE collected
  * aggregate (`Profile.batchAggregate`). Those tables must equal, row for
  * row and type for type, what the stand-alone operators give over the
  * same batch — in both layouts, and on the edge cases of the derivation:
  * a partition whose urls are all malformed (no valid-url rows), null
  * text (length bucket 0) and a text of length >= 65536 (bucket 16).
  */
class PassAggregateSpec extends SparkSpecBase with BeforeAndAfterAll {

  private val suite = Constraints.webtextSuite
  private val tables = Seq("pa_pages", "pa_lineage")
  private def tmp(): String = Files.createTempDirectory("graft-pass").toString

  /** (pages, layout name -> root) after one batch over all four parts. */
  private lazy val fixture: (DataFrame, Seq[(String, String)]) = {
    val wh = tmp()
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val gen = WebGen.pages(spark, 2000, parts = 4)
      .withColumn("url", when(col("part") === 0, concat(lit("bad url "), col("doc_id")))
        .otherwise(col("url")))
      .withColumn("text", when(col("doc_id") % 50 === 7, lit(null).cast("string"))
        .when(col("doc_id") === 11, repeat(lit("x"), 70000))
        .otherwise(col("text")))
    Tables.writeBucketed(gen, "pa_pages", s"$wh/pages", "url", 4)
    Tables.writeBucketed(graft.bench.BenchUtil.syntheticLineage(gen.filter(Constraints.validUrl)),
      "pa_lineage", s"$wh/lineage", "url", 4)
    val pages = spark.table("pa_pages")
    val plain = tmp(); val bkt = tmp()
    ValidationRun.run(spark, pages, suite, plain, "r1")
    ValidationRun.runBucketed(spark, pages, spark.table("pa_lineage"), suite, bkt, "r1",
      buckets = 4)
    (pages, Seq("plain" -> plain, "bucketed" -> bkt))
  }

  override def afterAll(): Unit = {
    fixture._2.foreach { case (_, root) =>
      spark.sql(s"DROP TABLE IF EXISTS ${ValidationRun.digestTableName(root)}")
    }
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    super.afterAll()
  }

  private def dump(df: DataFrame): (String, Seq[String]) =
    (df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
      df.collect().map(_.mkString("|")).sorted.toSeq)

  test("pass tables equal the stand-alone operators over the batch (both layouts, edge cases)") {
    val (pages, roots) = fixture
    assert(pages.filter(col("part") === 0 && Constraints.validUrl).count() == 0)
    assert(pages.filter(col("part") === 0).count() > 0)
    val hist = Stats.lengthHistogram(pages, "text")
    val nullText = pages.filter(col("text").isNull).count()
    assert(nullText > 0)
    assert(hist.filter(col("bucket") === 0L).agg(sum("n")).first().getLong(0) >= nullText)
    assert(hist.filter(col("bucket") === 16L).count() == 1, "the 70000-char text is in bin 16")

    val rowChecks = suite.map(_.name)
    val want = Map(
      "metrics" -> dump(Stats.columnStats(pages, Seq("url", "lang"))),
      "len_hist" -> dump(hist),
      "run_lineage" -> dump(pages.groupBy(col("part")).count()
        .withColumnRenamed("count", "row_count")),
      "verdicts" -> dump(Runner.verdicts(pages, suite)))
    for ((layout, root) <- roots; (table, expected) <- want) {
      val got = spark.read.parquet(s"$root/$table")
        .filter(if (table == "verdicts") col("check_name").isin(rowChecks: _*) else lit(true))
        .drop("run_id", "snapshot_id", "committed_at")
      assert(dump(got) == expected, s"$layout $table differs from its stand-alone operator")
    }

    // the url checks' grid: both checks on every part, the part's
    // valid-url count as row count (part 0 has none: passed, nothing
    // checked), and the violation count of this run's url violations
    val bkt = roots.toMap.apply("bucketed")
    val validByPart = pages.groupBy(col("part"))
      .agg(sum(when(Constraints.validUrl, 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val found = ValidationRun.currentUrlViolations(spark, bkt).groupBy("part", "check_name").count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(validByPart.keySet == Set(0, 1, 2, 3) && validByPart(0) == 0L)
    assert(found.nonEmpty, "the fixture has url violations")
    val urlWant = for (p <- validByPart.keys.toSeq; c <- DatasetChecks.UrlChecks) yield {
      val v = found.getOrElse((p, c), 0L)
      s"$p|$c|${v == 0L}|$v|${validByPart(p)}"
    }
    val urlGot = spark.read.parquet(ValidationRun.verdictsPath(bkt))
      .filter(col("check_name").isin(DatasetChecks.UrlChecks: _*))
      .select("part", "check_name", "passed", "violation_count", "row_count")
    assert(urlGot.collect().map(_.mkString("|")).sorted.toSeq == urlWant.sorted)
  }

  test("footer schema equals the inferred schema: every pass output and every test table") {
    val (_, roots) = fixture
    val outputs = roots.flatMap { case (_, root) =>
      new File(root).listFiles.filter(_.isDirectory).map(_.getPath).toSeq
    }
    // plain: 6 tables + manifest; bucketed: url_violations on top
    assert(outputs.size == 15, outputs.mkString(", "))
    // the sf0.001 test tables in the copy the benchmark reads, and every
    // scale of the driver's tables (the gate reads sf0.01, Bench sf0.1)
    val testTables = ("perfbench/data/sf0.001" +:
      Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")).flatMap { dir =>
      val ts = new File(dir).listFiles.filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      assert(ts.size == 10, ts.mkString(", "))
      ts
    }
    (outputs ++ testTables).foreach { p =>
      assert(Tables.schema(spark, p) == spark.read.parquet(p).schema, p)
    }
  }

  test("a batch one table partition past the bound fails before it writes anything") {
    val n = ValidationRun.MaxBatchParts + 1
    // one page per table partition
    val wide = WebGen.pages(spark, n + 1, parts = 4).withColumn("part", col("doc_id").cast("int"))
    val fresh = s"${tmp()}/out"
    val e = intercept[IllegalArgumentException] {
      ValidationRun.run(spark, wide.filter(col("part") < n), suite, fresh, "r1")
    }
    assert(e.getMessage.contains(s"more than ${ValidationRun.MaxBatchParts}"))
    assert(!new File(fresh).exists(), "no output directory may exist")

    // a root with one committed batch: no file and no manifest row added
    val root = tmp()
    ValidationRun.run(spark, wide.filter(col("part") === 0), suite, root, "r1")
    val listing = listFiles(root)
    val manifest = Checkpoint.manifest(spark, root).collect().map(_.mkString("|")).toSet
    intercept[IllegalArgumentException] {
      ValidationRun.run(spark, wide, suite, root, "r2")
    }
    assert(listFiles(root) == listing)
    assert(Checkpoint.manifest(spark, root).collect().map(_.mkString("|")).toSet == manifest)
    assert(Checkpoint.state(spark, root) == Checkpoint.State(Set(0), 1L))
  }

  private def listFiles(root: String): Seq[String] = {
    val s = Files.walk(new File(root).toPath)
    try {
      val it = s.iterator()
      val out = Seq.newBuilder[String]
      while (it.hasNext) out += it.next().toString
      out.result().sorted
    } finally s.close()
  }
}
