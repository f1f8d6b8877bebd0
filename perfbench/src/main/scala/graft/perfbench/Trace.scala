package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the flat records the benchmark emits. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Records kept in memory during the run and written as JSON lines at the
  * end, so that writing them never lands inside a timed slot. */
final class Records {
  private val lines = new ConcurrentLinkedQueue[String]()
  def add(fields: (String, Any)*): Unit = lines.add(Json.obj(fields))
  def writeTo(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asScala.asJava)
}

/** Epoch microseconds with nanoTime resolution, on the same epoch as the
  * millisecond times in Spark's listener events. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def us(): Long = anchorMs * 1000 + (System.nanoTime() - anchorNs) / 1000
}

/** The benchmark's own spans: run → pass → query → construct, plan or
  * execute. Spark jobs, stages and stream micro-batches become spans of
  * their own in the report; their records carry the id of the span they
  * ran under. */
final class Spans(rec: Records) {
  private val next = new AtomicLong(0)
  def open(): Long = next.incrementAndGet()
  def close(id: Long, parent: Long, kind: String, name: String, startUs: Long): Unit =
    rec.add("t" -> "span", "id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start" -> startUs, "end" -> Clock.us())
  def timed[T](parent: Long, kind: String, name: String)(f: Long => T): T = {
    val id = open()
    val start = Clock.us()
    try f(id) finally close(id, parent, kind, name, start)
  }
}

/** Which query, pass and span the work on the calling thread belongs to.
  * Jobs carry it as local properties (inherited by stream threads and
  * broadcast threads); stream progress events, which carry no properties,
  * read the current value, which is safe because one query runs at a
  * time and the bus is drained before the next one starts. */
final case class Ctx(pass: Int, key: String, phase: String, span: Long)

object Ctx {
  val Pass = "perfbench.pass"
  val Key = "perfbench.key"
  val Phase = "perfbench.phase"
  val Span = "perfbench.span"

  def of(props: java.util.Properties): Option[Ctx] =
    Option(props).flatMap(p => Option(p.getProperty(Key)).map { key =>
      Ctx(p.getProperty(Pass).toInt, key, p.getProperty(Phase),
        p.getProperty(Span).toLong)
    })
}

/** Job, stage and task accounting for traced passes. Stage figures come
  * from the stage's aggregated task metrics; the task events add what the
  * aggregate cannot give: the task-time distribution (for skew) and the
  * peak execution memory of the largest task. */
final class JobTracer(rec: Records) extends SparkListener {
  @volatile var active = false
  private val jobs = new ConcurrentHashMap[Int, (Ctx, Long, Seq[Int], Option[String])]()
  private val stageCtx = new ConcurrentHashMap[Int, (Ctx, Int)]()
  private val taskTimes = new ConcurrentHashMap[Int, Vector[Long]]()
  private val taskPeak = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (active) Ctx.of(e.properties).foreach { c =>
      // Jobs of a stream micro-batch carry its batch id.
      val batch = Option(e.properties.getProperty("streaming.sql.batchId"))
      jobs.put(e.jobId, (c, e.time, e.stageIds, batch))
      e.stageIds.foreach(s => stageCtx.put(s, (c, e.jobId)))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (c, start, stages, batch) =>
      // Stages the job skipped (their output was reused) never complete.
      stages.foreach { s => stageCtx.remove(s); taskTimes.remove(s); taskPeak.remove(s) }
      rec.add("t" -> "job", "pass" -> c.pass, "key" -> c.key,
        "phase" -> c.phase, "parent" -> c.span, "batch" -> batch, "job" -> e.jobId,
        "start" -> start * 1000, "end" -> e.time * 1000)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageCtx.containsKey(e.stageId)) {
      taskTimes.merge(e.stageId, Vector(e.taskInfo.duration), _ ++ _)
      val peak = Option(e.taskMetrics).map(_.peakExecutionMemory).getOrElse(0L)
      taskPeak.merge(e.stageId, peak, (a, b) => math.max(a, b))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageCtx.remove(si.stageId)).foreach { case (c, job) =>
      val times = Option(taskTimes.remove(si.stageId)).getOrElse(Vector.empty).sorted
      val peak = Option(taskPeak.remove(si.stageId)).map(_.longValue).getOrElse(0L)
      val m = si.taskMetrics
      val start = si.submissionTime.getOrElse(0L)
      rec.add("t" -> "stage", "pass" -> c.pass, "key" -> c.key,
        "phase" -> c.phase, "job" -> job, "stage" -> si.stageId,
        "start" -> start * 1000,
        "end" -> si.completionTime.getOrElse(start) * 1000,
        "tasks" -> si.numTasks,
        "task_max_ms" -> times.lastOption.getOrElse(0L),
        "task_med_ms" -> (if (times.isEmpty) 0L else times(times.size / 2)),
        "cpu_ns" -> m.executorCpuTime,
        "peak_task_mem" -> peak,
        "in_bytes" -> m.inputMetrics.bytesRead,
        "in_records" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten,
        "out_records" -> m.outputMetrics.recordsWritten,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_mem" -> m.memoryBytesSpilled,
        "spill_disk" -> m.diskBytesSpilled)
    }
  }
}

/** Micro-batch accounting for the streaming keys. */
final class StreamTracer(rec: Records) extends StreamingQueryListener {
  @volatile var ctx: Option[Ctx] = None

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    ctx.foreach { c =>
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp)
      rec.add("t" -> "batch", "pass" -> c.pass, "key" -> c.key,
        "parent" -> c.span, "batch" -> p.batchId,
        "start" -> (start.getEpochSecond * 1000000 + start.getNano / 1000),
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "wal_ms" -> ms("walCommit"), "commit_offsets_ms" -> ms("commitOffsets"),
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
}

/** In-memory scans of persisted frames, read from each action's executed
  * plan. A scan of a frame that an earlier action in the pass already
  * materialised is a hit; the first scan of a frame is its build, and the
  * plan that builds it is searched for the scans it makes in turn. */
final class ScanTracer(rec: Records) extends QueryExecutionListener {
  @volatile var ctx: Option[Ctx] = None
  private val materialised = ConcurrentHashMap.newKeySet[Int]()
  private object Plans extends AdaptiveSparkPlanHelper

  def reset(alreadyStored: Iterable[Int]): Unit = {
    materialised.clear()
    alreadyStored.foreach(materialised.add)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    ctx.foreach { c =>
      var scans, hits, builds = 0
      def visit(plan: SparkPlan): Unit =
        Plans.collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }
          .foreach { s =>
            scans += 1
            val id = s.relation.cacheBuilder.cachedColumnBuffers.id
            if (!materialised.add(id)) hits += 1
            else { builds += 1; visit(s.relation.cachedPlan) }
          }
      visit(qe.executedPlan)
      rec.add("t" -> "scan", "pass" -> c.pass, "key" -> c.key,
        "scans" -> scans, "hits" -> hits, "builds" -> builds)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
