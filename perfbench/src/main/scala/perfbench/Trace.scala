package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Traced-run instrument: attributes Spark work to the layer that asked
  * for it, from outside the program.
  *
  * A *unit* is one SQL execution (all jobs that carry its
  * `spark.sql.execution.id`, AQE stage jobs included) or one job outside
  * any execution (e.g. a parquet schema read). Each unit gets
  *  - `span`: the harness span active on the submitting thread
  *    (`perfbench.span` local property, inherited by the other jobs of
  *    the execution);
  *  - `site`: the first `graft.` frame of its call site — the execution's
  *    call site, or the final stage's creation site for a bare job (AQE
  *    stage jobs report a CompletableFuture site, so they are attributed
  *    through their execution id instead);
  *  - `table`: the last path component a write execution writes to.
  * Units carry wall time, job count and their stages' task metrics.
  */
final class Trace extends SparkListener {

  final class Unit(val key: String) {
    var span: String = ""
    var short: String = ""
    var site: String = ""
    var table: String = ""
    var startMs = 0L
    var endMs = 0L
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var output = 0L
    def seconds: Double = (endMs - startMs) / 1000.0
  }

  private val units = mutable.LinkedHashMap[String, Unit]()
  private val stageUnit = mutable.Map[Int, Unit]()
  private val jobUnit = mutable.Map[Int, Unit]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** max/median task time of every completed stage */
  val stageSkew = mutable.ArrayBuffer[Double]()

  private def unit(key: String): Unit = units.getOrElseUpdate(key, new Unit(key))

  def all: Seq[Unit] = synchronized(units.values.toList)

  override def onOtherEvent(e: SparkListenerEvent): scala.Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val u = unit(s"sql-${s.executionId}")
        u.startMs = s.time
        u.short = s.description
        u.site = Trace.graftFrame(s.details)
        u.table = Trace.outputTable(s.physicalPlanDescription)
      case s: SparkListenerSQLExecutionEnd =>
        unit(s"sql-${s.executionId}").endMs = s.time
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): scala.Unit = synchronized {
    val props = Option(j.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val u = exec match {
      case Some(id) => unit(s"sql-$id")
      case None =>
        val u = unit(s"job-${j.jobId}")
        u.startMs = j.time
        val last = j.stageInfos.maxBy(_.stageId)
        u.short = last.name
        u.site = Trace.graftFrame(last.details)
        u
    }
    props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).foreach { s =>
      if (u.span.isEmpty) u.span = s
    }
    u.jobs += 1
    jobUnit(j.jobId) = u
    j.stageIds.foreach(stageUnit(_) = u)
  }

  override def onJobEnd(j: SparkListenerJobEnd): scala.Unit = synchronized {
    jobUnit.remove(j.jobId).foreach { u => if (u.key.startsWith("job-")) u.endMs = j.time }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): scala.Unit = synchronized {
    stageUnit.get(t.stageId).foreach { u =>
      u.tasks += 1
      u.taskMs += t.taskInfo.duration
      stageTaskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer()) += t.taskInfo.duration
      Option(t.taskMetrics).foreach { m =>
        u.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        u.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        u.spill += m.diskBytesSpilled
        u.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): scala.Unit = synchronized {
    stageUnit.get(s.stageInfo.stageId).foreach(_.stages += 1)
    stageTaskMs.remove(s.stageInfo.stageId).foreach { ms =>
      val med = graft.bench.BenchUtil.median(ms.map(_.toDouble).toSeq)
      if (med > 0) stageSkew += ms.max / med
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** `pkg.Cls$.method(File.scala:12)` → `pkg.Cls.method` for the first
    * frame of the program, or "" when the call site has none.
    */
  def graftFrame(callSite: String): String =
    Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(').replace("$", ""))
      .getOrElse("")

  // the formatted plan's node details: "(n) Execute <Command>\n...Arguments: <target>, ..."
  private val Insert =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r
  private val Ctas =
    """(?s)\(\d+\) Execute CreateDataSourceTableAsSelectCommand\n.*?Arguments: `[^`]+`\.`[^`]+`\.`([^`]+)`""".r

  /** Output table of a write execution: the last path component for a
    * path write, the table name for a catalog create; "" otherwise.
    */
  def outputTable(plan: String): String = {
    val p = Option(plan).getOrElse("")
    Insert.findFirstMatchIn(p).map(_.group(1).stripSuffix("/").split('/').last)
      .orElse(Ctas.findFirstMatchIn(p).map(_.group(1)))
      .getOrElse("")
  }
}
