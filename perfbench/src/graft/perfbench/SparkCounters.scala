package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one traced operation. */
final class OpCounters {
  var jobs = 0
  var tasks = 0
  var execMs = 0L
  var planMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** What the operation's tasks added to each SQL metric, by id. */
  val metricUpdates = mutable.Map[Long, Long]()
  /** The file scans that output rows in the operation's own tasks, with
    * those rows (set by [[SparkCounters.take]]). A persisted frame built
    * by an earlier operation shows its scan under every query that reads
    * it, but none of its tasks run again, so it does not count here. */
  var scans: Seq[(FileSourceScanExec, Long)] = Nil

  private def planned(metric: String): Long =
    scans.map(_._1.metrics.get(metric).map(_.value).getOrElse(0L)).sum

  def filesRead: Long = planned("numFiles")
  def bytesRead: Long = planned("filesSize")
  def rowsScanned: Long = scans.map(_._2).sum

  def fields: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "plan_ms" -> planMs,
    "exec_ms" -> execMs, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "task_skew" -> taskSkew,
    "files_read" -> filesRead, "bytes_read" -> bytesRead,
    "rows_scanned" -> rowsScanned)

  /** Worst stage's max over median task time (1 when no stage ran two
    * or more tasks). */
  def taskSkew: Double = {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
      s.last / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Attributes Spark jobs, tasks and query executions to the traced
  * operation they ran for. Jobs carry the operation id as a local
  * property ([[SparkCounters.PropKey]]); jobs without one (those a
  * server thread starts for a request) and query-execution callbacks,
  * which carry no thread context, go to [[active]], which the caller
  * only changes after [[org.apache.spark.PerfbenchBridge.drainListeners]]
  * and while no other operation runs. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  @volatile var active: String = null
  private val stageOp = mutable.Map[Int, String]()
  private val jobOp = mutable.Map[Int, (String, Long)]()
  private val ops = mutable.Map[String, OpCounters]()
  /** Every file scan a query has run, by the id of its row metric. */
  private val scanByRows = mutable.Map[Long, FileSourceScanExec]()

  def take(op: String): OpCounters = synchronized {
    val c = ops.remove(op).getOrElse(new OpCounters)
    c.scans = c.metricUpdates.toSeq.flatMap { case (id, rows) =>
      scanByRows.get(id).filter(_ => rows > 0).map(_ -> rows)
    }
    c
  }

  private def of(op: String): OpCounters = ops.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SparkCounters.PropKey))).getOrElse(active)
    if (op != null) {
      of(op).jobs += 1
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      of(op).execMs += e.time - start
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = of(op)
      c.tasks += 1
      c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        e.taskInfo.duration
      e.taskInfo.accumulables.foreach { a =>
        a.update match {
          case Some(v: Long) =>
            c.metricUpdates(a.id) = c.metricUpdates.getOrElse(a.id, 0L) + v
          case _ =>
        }
      }
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    SparkCounters.scans(qe.executedPlan).foreach(s =>
      s.metrics.get("numOutputRows").foreach(m => scanByRows(m.id) = s))
    val op = active
    if (op != null) {
      of(op).planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object SparkCounters {
  val PropKey = "perfbench.op"

  /** File scans under a physical plan, looking through adaptive query
    * stages and into the plans that build persisted frames. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    case other => other.children.flatMap(scans) ++
      other.subqueries.flatMap(scans)
  }
}
