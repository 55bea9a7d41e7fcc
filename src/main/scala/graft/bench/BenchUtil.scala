package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared bench plumbing — ONE definition of the pieces every bench
  * previously copy-pasted, so they cannot drift into measuring
  * different setups:
  *   - [[median]] — the dispersion-robust central tendency every
  *     evidence table reports;
  *   - [[session]] — fresh local[cpus] session, the one builder every
  *     main uses (AQE is Spark's default, on: the production
  *     configuration; a bench that turns it off must say why at the
  *     call site);
  *   - [[hostCpus]] / [[envCpus]] — the core counts mains size to;
  *   - [[syntheticLineage]] — the deterministic 5/6 fetch-record rule
  *     (doc urls with hash % 6 == 5 dangle) that the RI checks in
  *     ScalingBench/BucketBench/SkewBench must all share, or their
  *     violation counts stop being comparable.
  */
object BenchUtil {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Cores of this host, as the JVM sees them. */
  def hostCpus: Int = Runtime.getRuntime.availableProcessors

  /** Cores a driver-run main sizes its session to: `SPARK_GRAFT_CPUS`,
    * else the host's.
    */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(hostCpus)(_.toInt)

  def session(cpus: Int, appName: String,
              extraConf: Map[String, String] = Map.empty): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"$appName-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.windowGroupLimitThreshold",
        graft.sim.BucketBudget.DefaultCap.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = extraConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Deterministic synthetic fetch-lineage: 5/6 of urls have a record. */
  def syntheticLineage(validPages: DataFrame, urlCol: Column = col("url")): DataFrame =
    validPages.filter(pmod(xxhash64(urlCol), lit(6)) =!= 5).select(urlCol)
}
