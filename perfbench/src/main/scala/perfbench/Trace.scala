package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-operation attribution of Spark work to the program's modules,
  * registered from outside the program.
  *
  * A job belongs to the operation whose `perfbench.op` local property it
  * carries. Its module is the innermost `graft.*` frame of its call site
  * (`StageInfo.details`), skipping the materialization helpers
  * (`ops.Checkpoints`, `ops.StageCache`) so a barrier is charged to the
  * module that raised it; a job with no `graft.*` frame is the
  * operation's final action, issued by the benchmark itself. A job with
  * an `ops.Checkpoints` frame anywhere in its call site is also counted
  * as a checkpoint. Wall time of an operation is split over the modules
  * of the jobs running at each instant (equal shares when jobs of
  * several modules overlap); time with no job running is the residue.
  */
final class Trace extends SparkListener {
  import Trace._

  private final class Job(val op: Int, val execId: Option[Long],
      val frames: Seq[String], val start: Long) {
    var end: Long = -1L
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val execFrames = mutable.Map.empty[Long, Seq[String]]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageTotals = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def graftFrames(details: String): Seq[String] =
    details.split('\n').iterator.map(_.trim).filter(_.startsWith("graft."))
      .map(frameModule).toSeq

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // an SQL execution's call site is taken on the thread that started it;
    // its adaptive-execution stage jobs run on a pool thread and carry
    // only the execution id
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execFrames(x.executionId) = graftFrames(x.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).foreach { o =>
      val execId = props.flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = new Job(o.toInt, execId,
        graftFrames(e.stageInfos.map(_.details).mkString("\n")), e.time)
      e.stageIds.foreach(s => stageOp(s) = o.toInt)
    }
  }

  /** The job's call-site frames: its own, else its SQL execution's. */
  private def framesOf(j: Job): Seq[String] =
    if (j.frames.nonEmpty) j.frames
    else j.execId.flatMap(execFrames.get).getOrElse(Nil)
  private def moduleOf(j: Job): String =
    framesOf(j).find(c => !Infra(c)).getOrElse(ActionModule)
  private def isCheckpoint(j: Job): Boolean =
    framesOf(j).contains("ops.Checkpoints")

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      if (stageOp.contains(si.stageId)) {
        val m = si.taskMetrics
        def add(k: String, v: Double): Unit = stageTotals(k) += v
        add("stages", 1)
        add("tasks", si.numTasks)
        add("run_s", m.executorRunTime / 1e3)
        add("cpu_s", m.executorCpuTime / 1e9)
        add("gc_s", m.jvmGCTime / 1e3)
        add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
        add("input_mb", m.inputMetrics.bytesRead / MB)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }

  /** Totals over the traced operations: executor metrics summed over
    * stages, and each module's share of the operations' wall time. */
  def summary(windows: Seq[(Long, Long)]): Map[String, Double] = synchronized {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    out ++= stageTotals
    out("jobs") = jobs.size.toDouble
    out("checkpoints.count") = jobs.toSeq.filter(j => isCheckpoint(j._2))
      .map { case (id, j) => j.execId.getOrElse(-id.toLong) }.distinct.size.toDouble
    windows.zipWithIndex.foreach { case ((t0, t1), op) =>
      val js = jobs.values.filter(_.op == op).toSeq
      val cuts = (Seq(t0, t1) ++ js.flatMap(j => Seq(j.start, j.end)))
        .filter(t => t >= t0 && t <= t1).distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val len = (b - a) / 1e3
        val live = js.filter(j => j.start <= a && (j.end < 0 || j.end >= b))
        if (live.isEmpty) out("residue") += len
        else {
          live.foreach(j => out(layerOf(moduleOf(j))) += len / live.size)
          if (live.exists(isCheckpoint)) out("checkpoints") += len
        }
      }
    }
    out.toMap
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val ActionModule = "action"
  private val MB = 1024.0 * 1024.0
  private val Infra = Set("ops.Checkpoints", "ops.StageCache")

  /** `graft.ops.Dedup$.$anonfun$x$1(Dedup.scala:12)` -> `ops.Dedup`. */
  def frameModule(frame: String): String = {
    val parts = frame.takeWhile(_ != '(').split('.').drop(1)
    val cls = parts.indexWhere(p => p.nonEmpty && p.head.isUpper)
    (if (cls < 0) parts.toSeq else parts.take(cls + 1).toSeq)
      .map(_.takeWhile(_ != '$')).mkString(".")
  }

  /** The per-layer metric a module's time goes to; unnamed modules pool
    * in `other`. (`functions.Similarity` builds lazy plans that other
    * modules force, so the benchmark times its kernel apart instead.) */
  def layerOf(module: String): String = module match {
    case "ops.Dedup" => "dedup"
    case "ops.Pipeline" => "pipeline"
    case m if m.startsWith("queries.") => "queries"
    case ActionModule => "action"
    case _ => "other"
  }
}
