package graft.tools

import graft.bench.BenchUtil

/** Smoke-drives the driver contract exactly as the driver does:
  * `SparkEntry.entry(spark)` must return rows > 0 on sf0.001.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = BenchUtil.session(BenchUtil.envCpus, "graft-entry-smoke")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(12, truncate = false)
    println(s"[entry-smoke] rows=$n " + (if (n > 0) "OK" else "EMPTY!"))
    graft.expr.GraftExtensions.register(spark)
    val hex = spark.sql("SELECT fnv64_hex('hello') AS h").head().getString(0)
    println(s"[entry-smoke] sql fnv64_hex('hello')=$hex " +
      (if (hex == "0BBDAA8046D830A4") "OK" else "MISMATCH!"))
    spark.stop()
    // golden-vector mismatch must poison the exit code too — a script
    // gating on the smoke would otherwise pass with a broken SQL surface
    if (n <= 0 || hex != "0BBDAA8046D830A4") sys.exit(1)
  }
}
