package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.bench.BenchUtil

/** Driver-run benchmark: one JSON line with per-query wall seconds over
  * SPARK_GRAFT_SF_DIR. Each query gets one untimed warm-up execution
  * first (JIT + codegen + parquet footer caching), so the timed pass
  * measures the plan, not JVM startup.
  *
  * Methodology (changed in round 2, noted in BENCH/BASELINE.md):
  *  - Results are forced with `bit_xor(xxhash64(all columns))`, not
  *    `.count()`: a count lets Catalyst prune every column the count
  *    doesn't need, so projection-only queries (digest, t_*, signatures)
  *    would skip the very compute being measured.
  */
object Bench {

  /** Evaluate every output column of `df`: hash-combine per row, then
    * BIT_XOR-fold — order-independent AND overflow-free (a sum of
    * uniform 64-bit hashes overflows ANSI long arithmetic within a few
    * rows, which would abort the job early and under-measure the query).
    */
  def force(df: DataFrame): Unit = {
    df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)"))
      .collect()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // AQE pinned, not left to Spark's default: a site's spark-defaults
    // cannot switch it off under the published total
    val spark = BenchUtil.session(BenchUtil.envCpus, "graft-bench",
      extraConf = Map("spark.sql.adaptive.enabled" -> "true"))
    val names = SparkEntry.queries.keys.toSeq.sorted
    // a broken query must NOT be published as a near-zero time (the
    // bench would silently IMPROVE when the suite breaks): failures are
    // reported loudly and poison the exit code; warm-up failures only
    // warn (the timed pass is the arbiter)
    var failed = List.empty[String]
    names.foreach { name => // warm-up pass
      try force(SparkEntry.queries(name)(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] WARM-UP FAILED $name: $e") }
    }
    // best of 2 timed runs per query: the sandbox host has bursty
    // neighbor load (observed ±2-3× on identical runs); min-of-2 keeps
    // one noisy window from contaminating the whole suite
    val results = names.map { name =>
      val dt = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try force(SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable =>
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"[bench] QUERY FAILED $name: $e")
        }
        (System.nanoTime() - t0) / 1e9
      }.min
      name -> dt
    }
    // a failed query must not publish its near-zero wall time: a stdout
    // consumer that ignores the exit code would read a silently-IMPROVED
    // bench when the suite breaks. Failed queries appear as null and are
    // excluded from total; "failed" lists them explicitly.
    val qs = results.map { case (k, v) =>
        "\"" + k + "\":" + (if (failed.contains(k)) "null" else v.toString)
      }.mkString("{", ",", "}")
    val total = results.collect { case (k, v) if !failed.contains(k) => v }.sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
