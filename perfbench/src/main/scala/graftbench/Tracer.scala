package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` is the id
  * of the span that caused this one (0 for the run itself).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long, attrs: Seq[(String, Any)]) {
  def json: String = Json.obj(Seq("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start_us" -> startUs,
    "end_us" -> endUs, "attrs" -> Json.raw(Json.obj(attrs))))
}

/** Records the Spark side of a traced pass in memory: every job, every
  * stage attempt with its aggregated task metrics, every Catalyst
  * execution's phase times, and the RDD blocks held in storage. Nothing
  * is written until [[spans]] is called after the pass.
  *
  * Jobs are attributed to the engine module of the first `graft.*` frame
  * in their call site, so per-module numbers need no change to the
  * engine itself.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val sqls = mutable.ArrayBuffer[Sql]()
  private val execFrames = mutable.HashMap[String, Option[String]]()
  private val blocks = mutable.HashMap[String, Long]()
  private var storedBytes = 0L
  private var peakStoredBytes = 0L
  private var tasks = 0L
  private var taskFailures = 0L
  private var rddUnpersists = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details).getOrElse("")
    val execs = Option(e.properties).toSeq.flatMap(p =>
      Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => Option(p.getProperty(k))))
    jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds, execs, engineFrame(site),
      site.linesIterator.nextOption().getOrElse(""))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val sr = m.shuffleReadMetrics
      val attrs = Seq[(String, Any)](
        "tasks" -> s.numTasks,
        "failed" -> s.failureReason.isDefined,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "deser_ms" -> m.executorDeserializeTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_rows" -> m.outputMetrics.recordsWritten,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> (sr.remoteBytesRead + sr.localBytesRead),
        "fetch_wait_ms" -> sr.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
      val end = s.completionTime.getOrElse(System.currentTimeMillis())
      stages += Stage(s.stageId, s.attemptNumber(),
        stageJob.getOrElse(s.stageId, -1),
        s.submissionTime.getOrElse(end), end, attrs)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) taskFailures += 1
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockManagerId.executorId + "/" + b.blockId.name
        storedBytes -= blocks.remove(key).getOrElse(0L)
        if (b.storageLevel.isValid) {
          blocks(key) = b.memSize + b.diskSize
          storedBytes += b.memSize + b.diskSize
        }
        peakStoredBytes = math.max(peakStoredBytes, storedBytes)
      }
    }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized { rddUnpersists += 1 }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execFrames(x.executionId.toString) = engineFrame(x.details)
    }
    case _ => ()
  }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    sql(func, qe, ok = true)

  override def onFailure(func: String, qe: QueryExecution,
      err: Exception): Unit = sql(func, qe, ok = false)

  private def sql(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    val start = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    val phases = Seq("analysis", "optimization", "planning")
      .map(p => s"${p}_ms" -> ph.get(p).map(_.durationMs).getOrElse(0L))
    synchronized { sqls += Sql(func, start, System.currentTimeMillis(), ok, phases) }
  }

  /** Job, stage and execution spans, each parented by time to the
    * innermost harness span open when it started, and the listener-side
    * counters. Drains the listener bus first.
    */
  def spans(spark: SparkSession, harness: Seq[Span],
      nextId: () => Long): (Seq[Span], Seq[(String, Any)]) = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      // innermost = shortest harness span containing the instant; Spark
      // stamps events in whole milliseconds, so allow one ms early.
      def parentOf(ms: Long): Long = harness
        .filter(h => h.startUs <= ms * 1000 + 999 && ms * 1000 <= h.endUs)
        .sortBy(h => h.endUs - h.startUs).headOption.map(_.id).getOrElse(0L)
      val jobIds = jobs.keys.map(_ -> nextId()).toMap
      // AQE submits stage jobs from a pool thread whose stack holds no
      // engine frame; those take the frame of their SQL execution's caller
      val jobSpans = jobs.values.toSeq.map { j =>
        val end = if (j.endMs >= 0) j.endMs else j.startMs
        val frame = j.frame
          .orElse(j.execs.flatMap(execFrames.get).flatten.headOption)
        Span(jobIds(j.id), parentOf(j.startMs), "job", s"job ${j.id}",
          j.startMs * 1000, end * 1000, Seq("module" -> module(frame),
            "ok" -> j.ok, "stage_ids" -> j.stageIds.size,
            "site" -> frame.getOrElse(j.site)))
      }
      val stageSpans = stages.toSeq.map { s =>
        Span(nextId(), jobIds.getOrElse(s.jobId, 0L), "stage",
          s"stage ${s.id}.${s.attempt}", s.startMs * 1000, s.endMs * 1000,
          s.attrs)
      }
      val sqlSpans = sqls.toSeq.map { q =>
        Span(nextId(), parentOf(q.startMs), "sql", q.func, q.startMs * 1000,
          q.endMs * 1000, q.phases :+ ("ok" -> q.ok))
      }
      val counters = Seq[(String, Any)](
        "tasks" -> tasks, "task_failures" -> taskFailures,
        "peak_storage_bytes" -> peakStoredBytes,
        "rdd_unpersist_events" -> rddUnpersists)
      (jobSpans ++ stageSpans ++ sqlSpans, counters)
    }
  }
}

object Tracer {
  private final case class Job(id: Int, startMs: Long, stageIds: Seq[Int],
      execs: Seq[String], frame: Option[String], site: String,
      var endMs: Long = -1L, var ok: Boolean = false)
  private final case class Stage(id: Int, attempt: Int, jobId: Int,
      startMs: Long, endMs: Long, attrs: Seq[(String, Any)])
  private final case class Sql(func: String, startMs: Long, endMs: Long,
      ok: Boolean, phases: Seq[(String, Any)])

  private val Frame = """^\s*(?:at\s+)?graft\.([A-Za-z0-9_.$]+)\.[^.(]+\(.*""".r

  /** The first `graft.*` frame of a job's call site. */
  def engineFrame(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(Frame.matches)

  /** `core.Caching` for the frame `graft.core.Caching$.withCached(...)`;
    * `bench` when no engine frame is on the stack (the harness's own
    * writes of lazy results).
    */
  def module(frame: Option[String]): String = frame
    .collect { case Frame(cls) => cls.takeWhile(_ != '$') }.getOrElse("bench")
}
