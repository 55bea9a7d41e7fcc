package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.bench.BenchUtil

/** One benchmark run in a fresh JVM: session, inputs and the workload's
  * warm-up (set-up), then whole timed passes of the workload's ops, one at
  * a time: `TimedPasses` passes, and more until `--seconds`
  * have passed; then the live heap after a full GC, and the correctness
  * artefacts. Writes everything to `--out` as JSON; run.py checks the
  * artefacts and prints the result line.
  *
  * `--workload train` is the class-loading run of the build: set-up and
  * one pass of every workload in one JVM, from which run.py has the JVM
  * write its class-data-sharing archive. It measures nothing.
  *
  * Usage: perfbench.Main --workload <queries|validate_bucketed|train>
  *   --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
  */
object Main {

  /** timed passes a run makes at least: the per-op median then spans two
    * samples at a cost the run budget allows (README, "Budget") */
  val TimedPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val work = opt("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val (spark, sessionS) = Workload.nanos(BenchUtil.session(2, s"perfbench-$workload",
      extraConf = Map("spark.sql.warehouse.dir" -> s"$work/warehouse",
        "spark.local.dir" -> s"$work/tmp")))
    def make(name: String): Workload = name match {
      case "queries" => new Queries(spark, opt("data"), work)
      case "validate_bucketed" => new Validate(spark, work, seed)
    }
    if (workload == "train") {
      Seq("queries", "validate_bucketed").map(make).foreach { t =>
        t.prepare(); t.warmUp(); t.startPass(2); t.ops.indices.foreach(t.op(_, 2))
      }
      spark.stop()
      return
    }
    val w = make(workload)
    val (_, inputS) = Workload.nanos(w.prepare())

    var attempted = 0L
    var failed = 0L
    val lat = Array.fill(w.ops.size)(mutable.ArrayBuffer[Double]())
    val passLog = mutable.ArrayBuffer[Map[String, Any]]()
    def logged(p: Int, what: String)(f: => Unit): Unit = {
      val c0 = Counters()
      f
      val d = Counters() - c0
      passLog += Map("pass" -> p, "timed" -> (what == "timed"), "wall_s" -> d.wallS,
        "cpu_s" -> d.cpuS, "gc_s" -> d.gcS, "steal_s" -> d.stealS)
      System.err.println(f"[perfbench] pass $p%d $what: " +
        f"wall ${d.wallS}%.2f s, cpu ${d.cpuS}%.2f s, gc ${d.gcS}%.2f s, steal ${d.stealS}%.2f s")
    }
    def pass(p: Int): Unit = logged(p, "timed") {
      w.startPass(p)
      w.ops.indices.foreach { i =>
        attempted += 1
        try lat(i) += w.op(i, p)
        catch { case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] op ${w.ops(i)} failed in pass $p: $e")
        }
      }
    }

    // a failed warm-up shows in the timed passes or the checks
    val (_, warmupS) = Workload.nanos(logged(1, "warm-up") {
      try w.warmUp()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up failed: $e") }
    })
    val jitSetupS = Counters.jitS
    val timedStart = System.currentTimeMillis()
    val setupS = (timedStart - jvmStart) / 1000.0

    val trace = if (traced) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val c0 = Counters()
    val timed = mutable.ArrayBuffer[Int]()
    var p = 1
    do { p += 1; pass(p); timed += p }
    while (timed.size < TimedPasses ||
      (System.currentTimeMillis() - timedStart) / 1000.0 < seconds)
    val window = Counters() - c0
    trace.foreach { t =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
    }

    val liveHeapMb = Counters.liveHeapMb()

    val all = lat.flatten.toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "throughput" -> w.items / lat.filter(_.nonEmpty).map(l => BenchUtil.median(l.toSeq)).sum,
      "op_p50_s" -> BenchUtil.median(all),
      "live_heap_mb" -> liveHeapMb)

    val n = timed.size.toDouble
    val traceLayers = trace.toSeq.flatMap { t =>
      val us = t.all
      Seq("exec.jobs" -> us.map(_.jobs).sum / n, "exec.stages" -> us.map(_.stages).sum / n,
        "exec.tasks" -> us.map(_.tasks).sum / n, "exec.task_s" -> us.map(_.taskMs).sum / 1000.0 / n,
        "exec.task_skew" -> (if (t.stageSkew.isEmpty) 1.0 else BenchUtil.median(t.stageSkew.toSeq)),
        "exec.shuffle_write_bytes" -> us.map(_.shuffleWrite).sum / n,
        "exec.shuffle_read_bytes" -> us.map(_.shuffleRead).sum / n,
        "exec.spill_bytes" -> us.map(_.spill).sum / n,
        "exec.output_bytes" -> us.map(_.output).sum / n)
    }
    val layers = w.layers(trace, timed.toSeq) ++ traceLayers ++ Map(
      "setup.session_s" -> sessionS, "setup.input_s" -> inputS, "setup.warmup_s" -> warmupS,
      "jvm.jit_s" -> jitSetupS, "jvm.gc_s" -> window.gcS / n, "jvm.cpu_s" -> window.cpuS / n,
      "host.steal_s" -> window.stealS / n)
    val unattributed = trace.map(_.all.count(u => u.jobs > 0 && u.span.isEmpty)).getOrElse(0)

    val check = w.finish()
    val result = Map("workload" -> workload, "seed" -> seed, "attempted" -> attempted,
      "failed" -> failed, "timed_passes" -> timed.size, "end_to_end" -> e2e,
      "per_layer" -> layers, "unattributed_units" -> unattributed, "check" -> check,
      "passes" -> passLog.toSeq,
      "units" -> trace.toSeq.flatMap(_.all.map(u => Map("key" -> u.key, "span" -> u.span,
        "short" -> u.short, "site" -> u.site, "table" -> u.table, "jobs" -> u.jobs,
        "s" -> u.seconds, "output" -> u.output))),
      "op_latency_s" -> w.ops.zip(lat.map(_.toSeq)).toMap)
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }
}

/** Process and host counters, read from the JVM's management beans and
  * (read only) /proc/stat.
  */
final case class Counters(wallS: Double, cpuS: Double, gcS: Double, stealS: Double) {
  def -(o: Counters): Counters =
    Counters(wallS - o.wallS, cpuS - o.cpuS, gcS - o.gcS, stealS - o.stealS)
}

object Counters {
  def apply(): Counters = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
    Counters(System.nanoTime() / 1e9, os.getProcessCpuTime / 1e9, gc, stealS)
  }

  /** Heap left by a full GC. Spark's ContextCleaner releases blocks of
    * collected RDDs, shuffles and broadcasts only after a GC has found
    * them, so collect until the live set stops shrinking.
    */
  def liveHeapMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def afterGc(): Double = {
      System.gc()
      pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var last = afterGc()
    var rounds = 1
    var next = { Thread.sleep(300); afterGc() }
    while (rounds < 5 && next < last * 0.99) {
      last = next; rounds += 1
      Thread.sleep(300)
      next = afterGc()
    }
    next
  }

  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** host-wide steal time, all CPUs; the "cpu" line's 8th value, in USER_HZ */
  private def stealS: Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong / 100.0
    catch { case NonFatal(_) => 0.0 }
}
