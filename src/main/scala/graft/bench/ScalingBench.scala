package graft.bench

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.constraints.Constraints
import graft.gen.WebGen
import graft.io.Tables
import graft.runner.ValidationRun

/** Dual-parallelism throughput harness — the sandbox stand-in for the
  * north rule's N-vs-4N executor requirement (BASELINE.md): time one job
  * over the same generated input at local[N] and local[4N], report
  * docs/sec at each, the scaling efficiency `thr@4N / (4 × thr@N)`, and
  * output parity between the two levels.
  *
  * Jobs (arg 6):
  *   - `suite` (default): one [[ValidationRun.runBucketed]] pass over all
  *     pages into a fresh root — the full constraint suite, the url
  *     checks against lineage, stats, digests and lineage rows. Parity
  *     compares the pass's verdicts, metrics and url violations.
  *   - `neardup`: the production MinHash LSH near-dup pipeline over the
  *     planted near-dup corpus; parity compares the pair set.
  *
  * Usage: runMain graft.bench.ScalingBench [nRows] [outMd] [reps] [N] [4N] [job]
  * (4N defaults to the host's cores, N to a quarter of that, at least 1).
  */
object ScalingBench {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The validation pass. The session first writes the generated pages and
    * their lineage as url-bucketed tables (untimed). `repartition` by the
    * bucket key gives one file per bucket at every parallelism level, so
    * both levels read the same layout; the pass itself gets no cache and
    * no shared blocks from earlier runs.
    */
  private def suiteRun(spark: SparkSession, n: Long, buckets: Int,
                       keep: Boolean): (Double, Seq[String]) = {
    val wh = s"/tmp/graft_scaling_bkt_$n"
    val pages = WebGen.pages(spark, n, parts = 64).repartition(buckets, col("url"))
    Tables.writeBucketed(pages, "sb_pages", s"$wh/pages", "url", buckets, mode = "overwrite")
    Tables.writeBucketed(BenchUtil.syntheticLineage(pages.filter(Constraints.validUrl)),
      "sb_lineage", s"$wh/lineage", "url", buckets, mode = "overwrite")
    val root = Files.createTempDirectory("graft-scaling-run").toString
    try {
      val (_, t) = timed(ValidationRun.runBucketed(spark, spark.table("sb_pages"),
        spark.table("sb_lineage"), Constraints.webtextSuite, root, "scaling", buckets))
      val outputs = if (!keep) Nil else Seq(
        "verdicts" -> ValidationRun.currentVerdicts(spark, root),
        "metrics" -> Tables.read(spark, ValidationRun.metricsPath(root)),
        "url_violations" -> ValidationRun.currentUrlViolations(spark, root))
      (t, outputs.flatMap { case (name, df) =>
        df.drop("run_id", "committed_at").collect().map(r => s"$name|${r.mkString("|")}")
      }.sorted)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  /** Shingle → one-pass signature → banding → capped band self-join
    * (`BucketBudget.candidatePairs`) → exact-jaccard verify, over
    * the planted corpus. The collect is the timed work, so the pair set
    * comes for free.
    */
  private def neardupRun(spark: SparkSession, path: String): (Double, Seq[String]) = {
    // hive-partitioned (no top-level data file for Tables.schema): inferred read
    val pages = spark.read.parquet(path).select(col("doc_id"), col("text"))
    val (pairs, t) = timed(graft.sim.Sim.minhashLshPairs(pages, "doc_id", "text",
      n = 3, k = 8, rows = 2, threshold = 0.2)
      .select(col("id_1"), col("id_2"), col("jac")).collect())
    (t, pairs.map(_.mkString("|")).toSeq.sorted)
  }

  /** Interleaved A/B sampling (measurement hygiene): each rep times ONE
    * local[N] run then ONE local[4N] run back-to-back, so slow host
    * windows hit both levels equally and cancel in the per-rep
    * efficiency; the headline is the MEDIAN with min–max dispersion. One
    * untimed warm-up pair up front covers JIT and the JVM-global
    * whole-stage-codegen cache and captures parity; every run gets a
    * fresh session, so no run inherits cached blocks.
    */
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val outMd = if (args.length > 1) args(1) else "BENCH/BASELINE.md"
    val reps = if (args.length > 2) args(2).toInt else 5
    val cB = if (args.length > 4) args(4).toInt else BenchUtil.hostCpus // 4N
    val cA = if (args.length > 3) args(3).toInt else math.max(1, cB / 4) // N
    val job = if (args.length > 5) args(5) else "suite"
    val ratio = cB.toDouble / cA
    val neardupPath = s"/tmp/graft_neardup_docs_$n"
    val jobDesc = job match {
      case "suite" =>
        s"""one ValidationRun.runBucketed pass: ${Constraints.webtextSuite.size} row
           |constraints, url uniqueness and lineage checks, stats, length
           |histogram, digests and lineage, over $cB url buckets""".stripMargin
      case "neardup" =>
        """production (capped) MinHash LSH near-dup over the PLANTED
          |near-dup corpus (WebGen.neardupDocs: 50k-pseudo-word vocab,
          |25-member cliques + adjacent pairs): shingle -> one-pass
          |signature -> banding -> capped band self-join
          |(BucketBudget.candidatePairs) -> exact-jaccard verify; parity =
          |the pair set itself""".stripMargin
      case other => sys.error(s"unknown job '$other' (suite | neardup)")
    }

    // the neardup corpus is generated once (not timed); WebGen.pages'
    // 32-word vocabulary would melt the band join quadratically
    if (job == "neardup" && !Files.exists(Paths.get(neardupPath)))
      WebGen.neardupDocs(BenchUtil.session(BenchUtil.hostCpus, "graft-scaling-gen"), n,
        parts = 64).write.partitionBy("part").mode("overwrite").parquet(neardupPath)

    def run(cpus: Int, keep: Boolean): (Double, Seq[String]) = {
      val spark = BenchUtil.session(cpus, "graft-scaling")
      if (job == "suite") suiteRun(spark, n, cB, keep) else neardupRun(spark, neardupPath)
    }
    val vA = run(cA, keep = true)._2
    val vB = run(cB, keep = true)._2
    val parity = vA == vB

    val samples = (1 to reps).map { i =>
      val tA = run(cA, keep = false)._1
      val tB = run(cB, keep = false)._1
      val eff = tA / (ratio * tB)
      println(f"[scaling $cA->$cB] rep $i: tN=$tA%.2f t4N=$tB%.2f eff=$eff%.3f")
      (tA, tB, eff)
    }
    val tAs = samples.map(_._1); val tBs = samples.map(_._2); val effs = samples.map(_._3)
    val mA = BenchUtil.median(tAs); val mB = BenchUtil.median(tBs)
    val thrA = n / mA; val thrB = n / mB
    val eff = thrB / (ratio * thrA)
    val effMedian = BenchUtil.median(effs)

    // one stamp for heading + footer: the heading carries it so repeated
    // sets of the same job/levels never collide as markdown anchors
    val stamp = java.time.Instant.now()
    val md =
      s"""
         |## Scaling set ($job job) @ $stamp — local[$cA] -> local[$cB]: interleaved A/B sampling
         |
         |Measured job: $jobDesc.
         |
         |$n WebGen rows, driver heap ${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}, $reps interleaved
         |N<->4N sample pairs (fresh session per run; one untimed warm-up pair
         |first). Headline = median, dispersion = min-max over reps.
         |
         || parallelism | median sec | min-max sec | median docs/sec |
         ||---|---|---|---|
         || local[$cA]  (N)  | ${f"$mA%.2f"} | ${f"${tAs.min}%.2f"}-${f"${tAs.max}%.2f"} | ${f"$thrA%.0f"} |
         || local[$cB] (4N) | ${f"$mB%.2f"} | ${f"${tBs.min}%.2f"}-${f"${tBs.max}%.2f"} | ${f"$thrB%.0f"} |
         |
         |- scaling efficiency (median thr@4N) / ($cB/$cA x median thr@N) = **${f"$eff%.3f"}** (target >= 0.8)
         |- per-rep paired efficiencies: ${effs.map(e => f"$e%.3f").mkString(", ")}
         |  (median **${f"$effMedian%.3f"}**, min ${f"${effs.min}%.3f"}, max ${f"${effs.max}%.3f"})
         |- output parity across parallelism levels: **${if (parity) "IDENTICAL" else "MISMATCH"}**
         |  (${vA.length} rows compared)
         |
         |Generated by `graft.bench.ScalingBench` on $stamp.
         |""".stripMargin
    Option(Paths.get(outMd).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(outMd), md, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    println(s"""{"job":"$job","n":$n,"cpusA":$cA,"cpusB":$cB,"thrN":$thrA,"thr4N":$thrB,"efficiency":$eff,"eff_median_paired":$effMedian,"eff_min":${effs.min},"eff_max":${effs.max},"parity":$parity,"rows_compared":${vA.length},"reps":$reps}""")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
