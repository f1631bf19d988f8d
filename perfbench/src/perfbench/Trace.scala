package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * line up with the listener's `System.currentTimeMillis` event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span log (name, start, end, parent), written out once at the
  * end of the run. Nesting follows the driver thread's call structure.
  */
final class Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double,
      attrs: Map[String, Any])

  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  private def current: Int = open.headOption.getOrElse(-1)

  def apply[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = current
    val start = Clock.nowMs
    open = id :: open
    try body
    finally {
      open = open.tail
      val end = Clock.nowMs
      synchronized { done += Span(id, name, parent, start, end, attrs) }
      System.err.println(f"[perfbench] ${"  " * open.size}$name ${(end - start) / 1000}%.3f s")
    }
  }

  def add(name: String, parent: Int, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    nextId += 1
    done += Span(nextId, name, parent, start, end, attrs)
  }

  /** Id of the last finished span called `name`. */
  def lastId(name: String): Int = synchronized {
    done.findLast(_.name == name).map(_.id).getOrElse(-1)
  }

  def toJson: Any = synchronized {
    done.sortBy(s => (s.start, s.id)).map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs).toSeq
  }
}

/** Everything the scheduler reports about one window of driver activity. */
final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long, peakMem: Long,
    shWriteBytes: Long, shWriteRecs: Long, shWriteNs: Long, fetchWaitMs: Long,
    spillDisk: Long, inBytes: Long, outBytes: Long)
final case class StageRec(stageId: Int, submitted: Long, completed: Long)
final case class JobRec(jobId: Int, start: Long, end: Long, callSite: String,
    stageIds: Seq[Int])

/** Benchmark-side scheduler listener. Events arrive on Spark's listener
  * bus asynchronously; [[drain]] runs a marker job and waits until the
  * listener has seen it end, so every earlier event has been delivered.
  */
final class LayerListener extends SparkListener {
  private val Marker = "perfbench-marker"
  private val JobDescription = "spark.job.description"
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val starts = scala.collection.mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val markers = scala.collection.mutable.Set.empty[Int]
  @volatile private var markersEnded = 0

  // long call site of each SQL execution: jobs that adaptive execution
  // submits from its own threads carry no user frames of their own
  private val execSites = scala.collection.mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSites(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    if (prop(JobDescription).contains(Marker)) markers += e.jobId
    else {
      val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val site = if (own.contains("\ngraft.")) own
        else prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong)).getOrElse(own)
      starts(e.jobId) = (e.time, site, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markers.remove(e.jobId)) { markersEnded += 1; notifyAll() }
    else starts.remove(e.jobId).foreach { case (t, d, ids) =>
      jobs += JobRec(e.jobId, t, e.time, d, ids)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val sw = m.shuffleWriteMetrics
    val rec = TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.peakExecutionMemory, sw.bytesWritten, sw.recordsWritten, sw.writeTime,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten)
    synchronized { tasks += rec }
  }

  def drain(sc: SparkContext): Unit = {
    val target = synchronized(markersEnded) + 1
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    val deadline = System.currentTimeMillis() + 60000
    synchronized {
      while (markersEnded < target && System.currentTimeMillis() < deadline) wait(100)
    }
    require(markersEnded >= target, "listener bus did not drain within 60 s")
  }

  /** Jobs started inside [from, to] with their stages and tasks. */
  def window(from: Double, to: Double): Window = synchronized {
    val js = jobs.filter(j => j.start >= from - 1 && j.start <= to + 1).toList
    val ids = js.flatMap(_.stageIds).toSet
    Window(js, stages.filter(s => ids.contains(s.stageId)).toList,
      tasks.filter(t => ids.contains(t.stageId)).toList)
  }
}

final case class Window(jobs: List[JobRec], stages: List[StageRec], tasks: List[TaskRec]) {
  def tasksOf(stageIds: Set[Int]): List[TaskRec] = tasks.filter(t => stageIds.contains(t.stageId))
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
}

/** Per-query SQL metrics read from executed plans: join output rows and
  * files written. Each SQL metric is counted once, so a cached plan read
  * by several queries is not counted again.
  */
final class PlanListener extends QueryExecutionListener {
  private val seen = scala.collection.mutable.Set.empty[Long]
  private val recs = ArrayBuffer.empty[(Long, Long)] // (join rows, files) per query

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      var joinRows = 0L
      var files = 0L
      nodes(qe.executedPlan).foreach { n =>
        def take(key: String): Long = n.metrics.get(key)
          .filter(m => seen.add(m.id)).map(_.value).getOrElse(0L)
        if (n.getClass.getSimpleName.endsWith("JoinExec")) joinRows += take("numOutputRows")
        files += take("numFiles")
      }
      recs += ((joinRows, files))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Queries seen so far; take it after [[LayerListener.drain]]. */
  def mark: Int = synchronized(recs.size)

  /** (join output rows, files written) over the queries in [from, to). */
  def totals(from: Int, to: Int): (Long, Long) = synchronized {
    val in = recs.slice(from, to)
    (in.map(_._1).sum, in.map(_._2).sum)
  }
}
