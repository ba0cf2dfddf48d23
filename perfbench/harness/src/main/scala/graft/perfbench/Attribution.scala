package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Job → module attribution, observed from outside the program.
  *
  * A Spark job is charged to the module of the first program frame
  * (`graft.*`) in the call site of the action that started it: the SQL
  * execution-start `details` when the job runs under a SQL execution
  * (which also covers asynchronous broadcast builds, whose own thread
  * stack holds no program frame), else the first stage's long call site.
  * The shared `PinnedFrame.pinned` helper and the benchmark's own frames
  * are skipped, so a pin is charged to the module that pinned. */
object Attribution {

  /** Modules in report order; `other` takes whatever matches none. */
  val Modules: Seq[String] =
    Seq("bump", "cc", "state", "dedup", "semdedup", "pipeline", "plan", "format", "server", "other")

  private val skipped = Seq("graft.perfbench.", "graft.pipeline.PipelineOps$PinnedFrame")
  private val byPrefix = Seq(
    "graft.streaming.IngestBump" -> "bump",
    "graft.streaming.IncrementalCc" -> "cc",
    "graft.streaming.StateStore" -> "state",
    "graft.streaming.SemDedupStream" -> "semdedup",
    "graft.streaming.DedupStream" -> "dedup",
    "graft.pipeline." -> "pipeline",
    "graft.server.Format" -> "format",
    "graft.server." -> "server",
    "graft.plan." -> "plan",
    "graft.core." -> "plan",
    "graft.engine." -> "plan")

  /** Class of one stack-frame line (`at a.b.C$.m(C.scala:1)` → `a.b.C$`). */
  private def frameClass(line: String): String = {
    val f = line.trim.stripPrefix("at ").takeWhile(_ != '(')
    val dot = f.lastIndexOf('.')
    if (dot < 0) f else f.substring(0, dot)
  }

  /** Module of the first program frame in a call-site string, if any. */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.linesIterator).map(frameClass)
      .find(c => c.startsWith("graft.") && !skipped.exists(c.startsWith))
      .map(c => byPrefix.collectFirst { case (p, m) if c.startsWith(p) => m }.getOrElse("other"))

  /** Work charged to one module. Times in ms, sizes in bytes. */
  final class Tally {
    var jobs = 0L; var jobWallMs = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var resultBytes = 0L
    def add(o: Tally): Unit = {
      jobs += o.jobs; jobWallMs += o.jobWallMs; tasks += o.tasks; taskMs += o.taskMs
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; resultBytes += o.resultBytes
    }
  }

  /** A finished job: module, start and end (listener-bus clock, ms). */
  final case class Job(module: String, startMs: Long, endMs: Long)
}

/** Collects per-module tallies and finished jobs while attached. Events
  * reach it on Spark's listener bus; call [[Bus.drain]] before reading. */
final class AttributionListener extends SparkListener {
  import Attribution._

  private val execModule = mutable.HashMap[Long, String]()
  private val jobInfo = mutable.HashMap[Int, (String, Long)]()
  private val stageModule = mutable.HashMap[Int, String]()
  private var tallies = mutable.LinkedHashMap[String, Tally]()
  private var jobs = Vector.empty[Job]

  private def tally(m: String): Tally = tallies.getOrElseUpdate(m, new Tally)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      moduleOf(s.details).orElse(s.rootExecutionId.flatMap(execModule.get))
        .foreach(execModule(s.executionId) = _)
    }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).flatMap(execModule.get)
    val m = exec.orElse(j.stageInfos.headOption.flatMap(s => moduleOf(s.details))).getOrElse("other")
    jobInfo(j.jobId) = (m, j.time)
    j.stageIds.foreach(stageModule(_) = m)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(j.jobId).foreach { case (m, start) =>
      val t = tally(m)
      t.jobs += 1
      t.jobWallMs += j.time - start
      jobs :+= Job(m, start, j.time)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = stageModule.getOrElse(t.stageId, "other")
    val x = tally(m)
    x.tasks += 1
    Option(t.taskMetrics).foreach { tm =>
      x.taskMs += tm.executorRunTime
      x.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
      x.spillBytes += tm.diskBytesSpilled
      x.resultBytes += tm.resultSize
    }
  }

  /** Tallies and finished jobs since the last reset, then starts afresh. */
  def take(): (Map[String, Tally], Vector[Job]) = synchronized {
    val out = (tallies.toMap, jobs)
    tallies = mutable.LinkedHashMap[String, Tally]()
    jobs = Vector.empty
    out
  }
}

/** Catalyst phase times of every executed query, via the public
  * `QueryExecution.tracker` (phases: analysis, optimization, planning). */
final class PhaseListener extends QueryExecutionListener {
  private var phases = Vector.empty[Map[String, Long]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    phases :+= qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): Vector[Map[String, Long]] = synchronized { val p = phases; phases = Vector.empty; p }
}
