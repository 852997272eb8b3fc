package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder fed by public Spark hooks: scheduler events for
  * jobs, stages and tasks, and `QueryExecutionListener` for Catalyst phase
  * spans. Everything stays in memory until [[Json]] writes it out at exit.
  * Times are epoch milliseconds, as Spark reports them. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val phases = ArrayBuffer.empty[PhaseRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += JobRec(e.jobId, group, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.indexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      stages += StageRec(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L),
        s.numTasks)
    }

  // TaskMetrics fields are read directly: matching accumulables by name is
  // fragile (names carry an "internal.metrics." prefix).
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead,
        m.memoryBytesSpilled, m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    for ((name, p) <- qe.tracker.phases)
      phases += PhaseRec(name, p.startTimeMs, p.endTimeMs)
  }

  def json: String = synchronized {
    import Json._
    obj(
      "jobs" -> arr(jobs.map(j => obj("id" -> num(j.id), "group" -> str(j.group),
        "start" -> num(j.start), "end" -> num(j.end),
        "stages" -> arr(j.stageIds.map(num(_)))))),
      "stages" -> arr(stages.map(s => obj("id" -> num(s.id),
        "attempt" -> num(s.attempt), "start" -> num(s.start),
        "end" -> num(s.end), "tasks" -> num(s.numTasks)))),
      // tasks as columns: one array per field keeps the file small
      "tasks" -> obj(
        "stage" -> arr(tasks.map(t => num(t.stage))),
        "launch" -> arr(tasks.map(t => num(t.launch))),
        "finish" -> arr(tasks.map(t => num(t.finish))),
        "run_ms" -> arr(tasks.map(t => num(t.runMs))),
        "cpu_ns" -> arr(tasks.map(t => num(t.cpuNs))),
        "gc_ms" -> arr(tasks.map(t => num(t.gcMs))),
        "shw_bytes" -> arr(tasks.map(t => num(t.shwBytes))),
        "shw_records" -> arr(tasks.map(t => num(t.shwRecords))),
        "shr_bytes" -> arr(tasks.map(t => num(t.shrBytes))),
        "shr_records" -> arr(tasks.map(t => num(t.shrRecords))),
        "spill_mem" -> arr(tasks.map(t => num(t.spillMem))),
        "spill_disk" -> arr(tasks.map(t => num(t.spillDisk)))),
      "phases" -> arr(phases.map(p => obj("name" -> str(p.name),
        "start" -> num(p.start), "end" -> num(p.end)))))
  }
}

object Trace {
  final case class JobRec(id: Int, group: String, start: Long, end: Long,
      stageIds: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, start: Long, end: Long,
      numTasks: Int)
  final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shwBytes: Long, shwRecords: Long,
      shrBytes: Long, shrRecords: Long, spillMem: Long, spillDisk: Long)
  final case class PhaseRec(name: String, start: Long, end: Long)
}

/** Minimal JSON writer: the harness output has no nested user strings
  * beyond names and error messages. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
