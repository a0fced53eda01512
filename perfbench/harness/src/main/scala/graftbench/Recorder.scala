package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Records the traced run's spans through Spark's public listener APIs.
  *
  * Jobs are tied to the query that caused them through a local property the
  * harness sets before each query (jobs launched from helper threads inherit
  * it). Task metrics are folded into their stage, so memory grows with
  * stages, not tasks. Every callback runs on the listener-bus thread; the
  * harness reads the records only after [[awaitWrites]] has seen the query's
  * write, and all state is guarded by this object's monitor.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  final class Job(val id: Int, val qid: String, val start: Long) {
    var end: Long = -1L
    var ok: Boolean = false
  }

  final class Stage(val id: Int, val attempt: Int, val jobId: Int, val qid: String) {
    var submit: Long = -1L
    var complete: Long = -1L
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    /** Cached RDDs whose blocks were stored while this stage ran: it built
      * a cached frame. */
    val builtRdds = mutable.Set.empty[Int]
    /** Persisted RDD ids in the stage's lineage: it read (or built) one. */
    var persistedRdds = Set.empty[Int]
  }

  final class Write(val qid: String, val ok: Boolean,
                    val phases: Map[String, (Long, Long)],
                    val exchanges: Int, val textScans: Int)

  @volatile var currentQuery: String = ""
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOwner = mutable.HashMap.empty[Int, (Int, String)]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val writes = mutable.ArrayBuffer.empty[Write]
  private val queries = mutable.ArrayBuffer.empty[String]

  /** The root span of one traced query, as the harness timed it. */
  def query(span: String): Unit = synchronized { queries += span }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val qid = Option(e.properties).flatMap(p => Option(p.getProperty(QueryKey))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, qid, e.time)
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = (e.jobId, qid))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  private def stageOf(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), {
      val (job, qid) = stageOwner.getOrElse(id, (-1, ""))
      new Stage(id, attempt, job, qid)
    })

  /** Stages running now, with the persisted RDDs in their lineage. */
  private val running = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val s = stageOf(info.stageId, info.attemptNumber())
    s.persistedRdds = info.rddInfos.filter(_.storageLevel != StorageLevel.NONE).map(_.id).toSet
    running((s.id, s.attempt)) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stageOf(info.stageId, info.attemptNumber())
    s.submit = info.submissionTime.getOrElse(-1L)
    s.complete = info.completionTime.getOrElse(-1L)
    running.remove((s.id, s.attempt))
  }

  /** A stored RDD block was built by the running stage whose lineage holds
    * that persisted RDD: this decides, per execution, which query built a
    * cached frame. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid && b.memSize + b.diskSize > 0)
      b.blockId.asRDDId.foreach { r =>
        running.values.filter(_.persistedRdds.contains(r.rddId)).foreach(_.builtRdds += r.rddId)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageOf(e.stageId, e.stageAttemptId)
    s.tasks += 1
    e.reason match {
      case org.apache.spark.Success =>
      case _ => s.failedTasks += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordWrite(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordWrite(qe, ok = false)

  private def recordWrite(qe: QueryExecution, ok: Boolean): Unit = qe.logical match {
    case _: V2WriteCommand =>
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      val (ex, text) =
        try planCounts(qe.executedPlan) catch { case _: Throwable => (-1, -1) }
      synchronized {
        writes += new Write(currentQuery, ok, phases, ex, text)
        notifyAll()
      }
    case _ =>
  }

  /** Blocks until `n` writes have been recorded, or `timeoutMs` passes. */
  def awaitWrites(n: Int, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (writes.size < n && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    writes.size >= n
  }

  def writeCount: Int = synchronized(writes.size)

  /** The recorded spans and counters, one JSON object per line. */
  def dump(): Seq[String] = synchronized {
    val out = mutable.ArrayBuffer.empty[String]
    out ++= queries
    jobs.values.foreach { j =>
      out += Json.obj("kind" -> "job", "id" -> j.id, "query" -> j.qid,
        "start_ms" -> j.start, "end_ms" -> j.end, "ok" -> j.ok)
    }
    stages.values.foreach { s =>
      out += Json.obj("kind" -> "stage", "id" -> s.id, "attempt" -> s.attempt,
        "job" -> s.jobId, "query" -> s.qid,
        "start_ms" -> s.submit, "end_ms" -> s.complete,
        "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "input_bytes" -> s.inputBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "spill_bytes" -> s.spillBytes,
        "built_rdds" -> s.builtRdds.toSeq.sorted,
        "persisted_rdds" -> s.persistedRdds.toSeq.sorted)
    }
    writes.foreach { w =>
      val ph = w.phases.toSeq.sortBy(_._1).map { case (k, (a, b)) =>
        k -> Json.Raw(Json.obj("start_ms" -> a, "end_ms" -> b)) }
      out += Json.obj("kind" -> "write", "query" -> w.qid, "ok" -> w.ok,
        "phases" -> Json.Raw(Json.obj(ph: _*)),
        "exchanges" -> w.exchanges, "text_scans" -> w.textScans)
    }
    out.toSeq
  }
}

object Recorder {
  /** Local property that carries the query id onto every job it starts. */
  val QueryKey = "graftbench.query"

  /** Exchanges and `documents.text` scans in a physical plan, counted
    * through adaptive wrappers, query stages, cached relations and
    * subqueries. Adaptive plans are read at their initial shape (exchanges
    * inserted, no run-time re-optimization yet), so the counts do not depend
    * on run-time statistics. */
  def planCounts(root: SparkPlan): (Int, Int) = {
    var exchanges = 0
    var textScans = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.getName == "documents.parquet") &&
               f.requiredSchema.fieldNames.contains("text") => textScans += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case q: QueryStageExec => walk(q.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    (exchanges, textScans)
  }
}
