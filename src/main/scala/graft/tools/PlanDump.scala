package graft.tools

import graft.bench.BenchUtil

/** Dumps formatted physical plans for the scale-critical queries so plan
  * regressions (lost pushdown, unexpected shuffle, broadcast→SMJ flips)
  * are visible. Usage: runMain graft.tools.PlanDump [sfDir] [names...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("verdicts", "violations", "dedup_url", "ri_dangling", "q1_agg",
        "q3_join", "emb_knn", "sim_minhash_lsh")
    val spark = BenchUtil.session(BenchUtil.envCpus, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
