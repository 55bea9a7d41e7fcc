package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.bench.BenchUtil
import graft.constraints.Constraints
import graft.io.Tables
import graft.runner.ValidationRun

/** End-to-end drive of the resumable validation pipeline: partial run →
  * resume → output-table summary → tamper → digest-invariant detection.
  * Usage: runMain graft.tools.RunDemo [sfDir]
  */
object RunDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = BenchUtil.session(BenchUtil.envCpus, "graft-rundemo")
    val root = Files.createTempDirectory("graft-demo").toString
    // WebGen: url-hash partitioned (required for resume-safe per-url
    // invariants; see Invariants.checkAndStoreDigests scaladoc)
    val pages = graft.gen.WebGen.pages(spark, 4000, parts = 8)

    val r1 = ValidationRun.run(spark, pages.filter(col("part") < 4),
      Constraints.webtextSuite, root, "run-1")
    println(s"[demo] run-1 parts=${r1.partsProcessed.mkString(",")} rows=${r1.rows} snapshot=${r1.snapshotId}")
    val r2 = ValidationRun.run(spark, pages, Constraints.webtextSuite, root, "run-2")
    println(s"[demo] run-2 (resume) parts=${r2.partsProcessed.mkString(",")} rows=${r2.rows} snapshot=${r2.snapshotId}")

    val verdicts = ValidationRun.currentVerdicts(spark, root)
    println(s"[demo] verdict grid rows=${verdicts.count()} " +
      s"failed=${verdicts.filter(!col("passed")).count()}")
    Seq("violations", "metrics", "len_hist", "run_lineage", "digests").foreach { t =>
      println(s"[demo] $t rows=" + Tables.read(spark, s"$root/$t").count())
    }

    val tampered = pages.withColumn("text",
      when(col("doc_id") % 113 === 44, concat(col("text"), lit(" tampered")))
        .otherwise(col("text")))
    val nTampered = tampered.filter(col("doc_id") % 113 === 44 &&
      col("url").isNotNull && col("text") =!= "").count()
    graft.checks.Invariants.checkAndStoreDigests(spark, tampered,
      Tables.ParquetTable(ValidationRun.digestsPath(root)),
      Tables.ParquetTable(ValidationRun.violationsPath(root)), "run-3")
    val dv = Tables.read(spark, ValidationRun.violationsPath(root))
      .filter(col("run_id") === "run-3")
    println(s"[demo] digest-invariant violations after tamper=${dv.count()} (tampered rows=$nTampered)")
    spark.stop()
  }
}
