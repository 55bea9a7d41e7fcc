package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, forked JVM via sbt). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // let row_number<=cap rewrite to WindowGroupLimit up to the LSH
      // hot-bucket budget (BucketBudget.DefaultCap) — the map-side
      // partial group-limit is what keeps a degenerate bucket from
      // funnelling all its rows into one window task
      .config("spark.sql.optimizer.windowGroupLimitThreshold",
        graft.sim.BucketBudget.DefaultCap.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val splitCopies = scala.collection.concurrent.TrieMap.empty[String, String]

  /** A temp copy of the tables in `dir` with each table written as
    * `defaultParallelism` files: the at-scale regime, where every scan
    * already yields a split per core and `Scan.spread` is the identity
    * (the generated tables are one row group each, so over them the
    * spread fires). Written once per JVM, deleted when it exits.
    */
  def splitCopy(dir: String): String = splitCopies.getOrElseUpdate(dir, {
    val out = java.nio.file.Files.createTempDirectory("graft-split").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteDirectory(out))
    val n = session.sparkContext.defaultParallelism
    new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).foreach { t =>
      session.read.parquet(s"$dir/$t").repartition(n).write.parquet(s"$out/$t")
    }
    out.toString
  })
}
