package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.SparkEntry
import graft.bench.BenchUtil
import graft.constraints.Constraints
import graft.gen.WebGen
import graft.io.Tables
import graft.runner.ValidationRun

/** One workload: a fixed sequence of ops that a pass runs in order. */
trait Workload {
  def ops: IndexedSeq[String]
  /** items one pass completes (throughput numerator) */
  def items: Long
  /** writes the inputs (set-up) */
  def prepare(): Unit
  /** untimed work before a pass (fresh output root) */
  def startPass(pass: Int): Unit = ()
  /** runs op `i` of `pass` and returns its latency in seconds; throws
    * when the op fails */
  def op(i: Int, pass: Int): Double
  /** the untimed warm-up of set-up, after `prepare` */
  def warmUp(): Unit
  /** correctness artefacts for the checker, after the timed passes */
  def finish(): Map[String, Any]
  /** per-layer metrics of one timed pass, from the harness spans and `trace` */
  def layers(trace: Option[Trace], timedPasses: Seq[Int]): Map[String, Double]
}

object Workload {
  def span[T](spark: SparkSession, name: String)(f: => T): T = {
    spark.sparkContext.setLocalProperty(Trace.SpanKey, name)
    try f finally spark.sparkContext.setLocalProperty(Trace.SpanKey, null)
  }

  def nanos[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Output tables of a validation root, keyed by their metric name. */
  val OutTables: Seq[(String, Set[String])] = Seq(
    "violations" -> Set("violations"), "verdicts" -> Set("verdicts"),
    "metrics" -> Set("metrics"), "len_hist" -> Set("len_hist"),
    "digests" -> Set("digests", "digests_bkt"), "run_lineage" -> Set("run_lineage"),
    "url_violations" -> Set("url_violations"), "manifest" -> Set("_snapshots"))
}

/** A fixed subset of `SparkEntry.queries` (12 of them, every module), in
  * sorted order, over the project's sf0.001 test tables in `dir`. A timed
  * op builds the DataFrame, forces every column with the xxhash64/bit_xor
  * fold of `graft.Bench.force`, then clears the cache (untimed), as
  * `graft.Bench` does. The warm-up builds each query and writes its
  * result out for the DuckDB check, then runs one untimed pass of the
  * ops: the JIT is still busy after the first pass, and a pass it
  * slows varies with what the host's other tenants leave free. After
  * the timed passes the fold of each written result must equal the fold
  * of every pass.
  */
final class Queries(spark: SparkSession, dir: String, work: String) extends Workload {
  import Workload._

  val ops: IndexedSeq[String] = Queries.Suite.sorted
  def items: Long = ops.size.toLong

  /** query-name prefix → module; the longest matching prefix wins */
  val Modules: Seq[(String, String)] = Seq(
    "violations" -> "runner", "verdicts" -> "runner", "fused_" -> "runner",
    "m_" -> "stats", "drift_" -> "stats",
    "dedup_" -> "dedup", "dup_" -> "dedup", "ri_" -> "dedup",
    "v_" -> "checks", "digest" -> "checks",
    "f_" -> "canonical", "fmt_" -> "canonical",
    "q" -> "query", "s_" -> "query",
    "agg_" -> "agg", "conf_" -> "agg",
    "mut_" -> "mutate",
    "sim_" -> "sim", "emb_" -> "sim",
    "t_" -> "text",
    "mm_" -> "multimodal")
  val ModuleNames: Seq[String] = Modules.map(_._2).distinct

  def module(name: String): String =
    Modules.filter(m => name.startsWith(m._1)).sortBy(-_._1.length)
      .headOption.map(_._2).getOrElse("other")

  private val build = mutable.Map[(Int, Int), Double]()
  private val exec = mutable.Map[(Int, Int), Double]()
  private val hashes = mutable.Map[String, mutable.LinkedHashSet[String]]()

  /** the tables are files of the benchmark (perfbench/data) */
  def prepare(): Unit = ()

  private def fold(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)")).collect()
    String.valueOf(r.head.get(0))
  }

  def op(i: Int, pass: Int): Double = {
    val name = ops(i)
    try {
      val (df, b) = nanos(span(spark, "build")(SparkEntry.queries(name)(spark, dir)))
      build((pass, i)) = b
      val (h, e) = nanos(span(spark, "exec")(fold(df)))
      exec((pass, i)) = e
      hashes.getOrElseUpdate(name, mutable.LinkedHashSet()) += h
      b + e
    } finally spark.catalog.clearCache()
  }

  private val out = s"$work/out"

  def warmUp(): Unit = {
    ops.foreach { name =>
      try SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      finally spark.catalog.clearCache()
    }
    ops.indices.foreach(op(_, 1))
  }

  def finish(): Map[String, Any] = {
    // a written result must fold to the hash every pass computed
    val unstable = ops.filter { name =>
      val written = scala.util.Try(fold(spark.read.parquet(s"$out/$name"))).toOption
      (hashes.getOrElse(name, Set.empty[String]) ++ written).size != 1
    }
    val oracle = SparkEntry.oracleSql
    Map("data" -> dir, "out" -> out, "ops" -> ops, "unstable_hashes" -> unstable,
      "oracle_sql" -> ops.filter(oracle.contains).map(n => n -> oracle(n)).toMap)
  }

  def layers(trace: Option[Trace], timed: Seq[Int]): Map[String, Double] = {
    def perPass(m: mutable.Map[(Int, Int), Double], keep: Int => Boolean): Double =
      BenchUtil.median(timed.map(p => ops.indices.filter(keep).flatMap(i => m.get((p, i))).sum))
    val mods = ModuleNames.map { mod =>
      s"layer.$mod.s" -> (perPass(build, i => module(ops(i)) == mod) +
        perPass(exec, i => module(ops(i)) == mod))
    }
    val eager = trace.map(_.all.filter(_.span == "build").map(_.jobs).sum.toDouble / timed.size)
    Map("plan.build_s" -> perPass(build, _ => true),
      "query.exec_s" -> perPass(exec, _ => true),
      "plan.eager_jobs" -> eager.getOrElse(0.0)) ++ mods
  }
}

object Queries {
  /** one query per module; sim gets two, its heavy tail
    * (sim_minhash_lsh, emb_neardup_multi) */
  val Suite: IndexedSeq[String] = IndexedSeq(
    "verdicts_full",                        // runner
    "m_stats_exact",                        // stats
    "dedup_url_salted",                     // dedup
    "v_unique",                             // checks
    "fmt_canonical",                        // canonical
    "q3_join",                              // query
    "agg_merge",                            // agg
    "mut_curate",                           // mutate
    "sim_minhash_lsh", "emb_neardup_multi", // sim
    "t_quality",                            // text
    "mm_video")                             // multimodal
}

/** `ValidationRun.runBucketed` over pages and lineage bucketed by url. A
  * pass runs the 8 url-hash partitions in resumable batches of 4 against a
  * fresh root; each op is one committed batch. The two batches take both
  * paths of a batch: the first creates the output tables and the digest
  * store, the second appends to them and compares digests. The warm-up is
  * `ValidationRun.run` (plain layout) over the same pages in the same
  * batches: it runs the code both layouts share, and its verdicts are
  * the other side of the layout-equality check.
  */
final class Validate(spark: SparkSession, work: String, seed: Long) extends Workload {
  import Workload._

  val Pages = 4000L
  val Parts = 8
  val Batch = 4
  val Buckets = 8
  val ops: IndexedSeq[String] = (0 until Parts / Batch).map(b => s"batch$b")
  def items: Long = Pages

  private def root(pass: Int) = s"$work/runs/p$pass"
  private val plainRoot = s"$work/runs/plain"
  private var lastRoot = ""

  private def batchPages(i: Int): DataFrame =
    spark.table("pb_pages").filter(col("part") < Batch * (i + 1))

  private def checkParts(i: Int, rep: ValidationRun.Report): Unit = {
    val want = (Batch * i until Batch * (i + 1)).toSeq
    require(rep.partsProcessed == want,
      s"batch $i processed parts ${rep.partsProcessed} instead of $want")
  }

  def prepare(): Unit = {
    val gen = WebGen.pages(spark, Pages, parts = Parts, seed = seed)
    Tables.writeBucketed(gen, "pb_pages", s"$work/pages_bkt", "url", Buckets)
    Tables.writeBucketed(BenchUtil.syntheticLineage(gen.filter(Constraints.validUrl)),
      "pb_lineage", s"$work/lineage_bkt", "url", Buckets)
  }

  override def startPass(pass: Int): Unit = {
    if (lastRoot.nonEmpty) {
      spark.sql(s"DROP TABLE IF EXISTS ${ValidationRun.digestTableName(lastRoot)}")
      Validate.delete(lastRoot)
    }
    lastRoot = root(pass)
  }

  def warmUp(): Unit = ops.indices.foreach { i =>
    checkParts(i,
      ValidationRun.run(spark, batchPages(i), Constraints.webtextSuite, plainRoot, "run"))
  }

  def op(i: Int, pass: Int): Double = {
    val (rep, s) = nanos(span(spark, "batch") {
      ValidationRun.runBucketed(spark, batchPages(i), spark.table("pb_lineage"),
        Constraints.webtextSuite, root(pass), "run", buckets = Buckets)
    })
    checkParts(i, rep)
    s
  }

  def finish(): Map[String, Any] = {
    Map("root" -> lastRoot, "pages" -> Pages, "parts" -> Parts, "batches" -> ops.size,
      "pages_glob" -> s"$work/pages_bkt/*.parquet",
      "lineage_glob" -> s"$work/lineage_bkt/*.parquet", "plain_root" -> plainRoot)
  }

  def layers(trace: Option[Trace], timed: Seq[Int]): Map[String, Double] = trace match {
    case None => Map.empty
    case Some(t) =>
      val units = t.all
      val n = timed.size.toDouble
      def sumS(us: Seq[t.Unit]) = us.map(_.seconds).sum / n
      val out = OutTables.flatMap { case (name, tables) =>
        val us = units.filter(u => tables.contains(u.table) ||
          (name == "digests" && u.table.startsWith("graft_digests_")))
        Seq(s"out.$name.s" -> sumS(us), s"out.$name.bytes" -> us.map(_.output).sum / n)
      }
      val ckpt = units.filter(_.site.startsWith("graft.ckpt.Checkpoint"))
      val schema = units.filter(u => u.key.startsWith("job-") && u.site.startsWith("graft.io.Tables"))
      val digest = units.filter(_.site.startsWith("graft.checks.Invariants"))
      val count = units.filter(u => u.site.startsWith("graft.runner.ValidationRun") &&
        u.short.startsWith("count at"))
      out.toMap ++ Map(
        "ckpt.s" -> sumS(ckpt), "ckpt.jobs" -> ckpt.map(_.jobs).sum / n,
        "io.schema_read_s" -> sumS(schema), "io.schema_read_jobs" -> schema.map(_.jobs).sum / n,
        "checks.digest_compare_s" -> sumS(digest), "runner.count_s" -> sumS(count))
  }
}

object Validate {
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}
