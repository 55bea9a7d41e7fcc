package graft.bench

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.dedup.Dedup
import graft.gen.WebGen

/** Hot-key skew evidence (north rule: salted keys for hot domains + AQE):
  * dedup over a generated table where ONE url holds ~10% of all rows,
  * comparing the three strategies:
  *
  *   1. window row_number — co-locates every duplicate of the hot key in
  *      one task (the straggler anti-pattern);
  *   2. aggregate max_by — map-side combine collapses the hot key per
  *      input task before the shuffle;
  *   3. two-phase salted max_by — additionally splits the hot key's
  *      reduction across `salts` reducers.
  *
  * All three must return identical results; timings are appended to
  * BENCH/BASELINE.md. Usage: runMain graft.bench.SkewBench [nRows] [outMd]
  */
object SkewBench {

  private def median(xs: Seq[Double]): Double = BenchUtil.median(xs)

  /** Interleaved round-robin timing (measurement hygiene, as in
    * ScalingBench): each round times every strategy ONCE in sequence, so
    * a noisy host window hits all strategies of a round equally instead
    * of burying whichever strategy happened to run last; per-strategy
    * result is the median over rounds. One untimed warm-up round first.
    */
  private def interleave(rounds: Int, strategies: Seq[(String, () => Long)])
      : (Map[String, Double], Map[String, Long]) = {
    val rows = strategies.map { case (name, f) => name -> f() }.toMap // warm-up
    val times = collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to rounds).foreach { r =>
      strategies.foreach { case (name, f) =>
        val t0 = System.nanoTime(); f()
        times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
      }
      println(s"[skew] round $r: " + strategies.map { case (name, _) =>
        f"$name=${times(name).last}%.2f" }.mkString(" "))
    }
    (strategies.map { case (name, _) => name -> median(times(name)) }.toMap, rows)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 4000000L
    val outMd = if (args.length > 1) args(1) else "BENCH/BASELINE.md"
    val cpus = BenchUtil.hostCpus
    val spark = BenchUtil.session(cpus, "graft-skewbench",
      extraConf = Map("spark.sql.adaptive.skewJoin.enabled" -> "true"))

    val dataPath = s"/tmp/graft_skew_pages_$n"
    if (!Files.exists(Paths.get(dataPath)))
      WebGen.pages(spark, n, parts = 64, skew = true)
        .write.partitionBy("part").mode("overwrite").parquet(dataPath)
    // hive-partitioned (no top-level data file for Tables.schema): inferred read
    val pages = spark.read.parquet(dataPath)
      .filter(col("url").isNotNull)
      .select(col("url"), col("doc_id"),
        coalesce(unix_timestamp(col("warc_ts")), lit(-1L)).as("ts"))
    val ord = struct(col("ts"), (-col("doc_id")).as("negid"))

    // Referential integrity through the NON-BROADCAST path under the
    // same skew (the 100 TB fact-fact shape PlanSpec pins to a shuffled
    // sort-merge anti join): lineage omits a deterministic 1/6 of urls,
    // the hot url's ~10% of all child rows land on one join key either
    // way — AQE skew-join splits that partition at runtime.
    val lineage = BenchUtil.syntheticLineage(pages)
    val child = pages.select(col("url"), col("doc_id"))

    val strategies: Seq[(String, () => Long)] = Seq(
      "window" -> (() => {
        val w = Window.partitionBy(col("url")).orderBy(col("ts").desc, col("doc_id").asc)
        pages.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).count()
      }),
      "agg" -> (() => Dedup.uniqueByKey(pages, col("url"), ord, Seq("doc_id")).count()),
      "salted" -> (() =>
        Dedup.uniqueByKeySalted(pages, col("url"), ord, Seq("doc_id"), salts = 32).count()),
      "ri_bc" -> (() =>
        Dedup.danglingRows(child, lineage, "url", broadcastParent = true).count()),
      "ri_smj" -> (() =>
        Dedup.danglingRows(child, lineage, "url", broadcastParent = false).count()))
    val (t, rows) = interleave(rounds = 3, strategies)
    val (tWin, tAgg, tSalt, tBc, tSm) =
      (t("window"), t("agg"), t("salted"), t("ri_bc"), t("ri_smj"))
    val (rAgg, rBc) = (rows("agg"), rows("ri_bc"))
    require(rows("window") == rAgg && rAgg == rows("salted"),
      s"strategy results diverge: ${rows.filterKeys(_ != "ri_bc").toMap}")
    require(rBc == rows("ri_smj"),
      s"RI paths diverge: broadcast=$rBc sort-merge=${rows("ri_smj")}")

    val md =
      s"""
         |## Hot-key skew (north rule: salted dedup for hot domains)
         |
         |Dedup of $n pages where ONE url holds ~10% of all rows (WebGen
         |skew mode), local[$cpus], AQE + skew-join enabled. Timing: 3
         |interleaved round-robin rounds after an untimed warm-up round
         |(a noisy host window hits every strategy of a round equally);
         |median per strategy. All strategies returned identical key
         |counts ($rAgg).
         |
         || strategy | seconds | notes |
         ||---|---|---|
         || window row_number | ${f"$tWin%.2f"} | hot key co-located in one task (straggler) |
         || aggregate max_by  | ${f"$tAgg%.2f"} | map-side combine collapses hot key per task |
         || salted two-phase  | ${f"$tSalt%.2f"} | hot key reduction split across 32 salts |
         |
         |Referential integrity over the same skewed table ($rBc dangling
         |rows on both paths — identical findings):
         |
         || RI path | seconds | plan |
         ||---|---|---|
         || broadcast parent keys | ${f"$tBc%.2f"} | BroadcastHashJoin LeftAnti (driver-sized parent only) |
         || sort-merge (100 TB path) | ${f"$tSm%.2f"} | SortMergeJoin LeftAnti, merge-hinted, AQE skew-join enabled |
         |
         |Generated by `graft.bench.SkewBench` on ${java.time.Instant.now()}.
         |""".stripMargin
    Files.write(Paths.get(outMd), md.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    println(s"""{"window":$tWin,"agg":$tAgg,"salted":$tSalt,"keys":$rAgg,"ri_bc":$tBc,"ri_smj":$tSm,"dangling":$rBc}""")
    spark.stop()
  }
}
