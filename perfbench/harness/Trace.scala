package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution (nanoTime-based, so
  * span arithmetic is monotonic within one process). */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start_ms" -> startMs,
    "end_ms" -> endMs) ++ attrs
}

/** In-memory span recorder for a traced repetition.
  *
  * Harness spans (run, query, construct, exec, tables) are opened around
  * the public calls the harness makes. Jobs launched inside such a span
  * carry its id in the `perfbench.span` local property, so the
  * SparkListener hangs each job (and its stages) under the exact span that
  * launched it. Streaming jobs carry Spark's own `streaming.sql.batchId`
  * property and are hung under that trigger's addBatch span, which is
  * rebuilt from the query's progress events. Catalyst phase times come
  * from `QueryExecution.tracker` via a QueryExecutionListener and are
  * placed under the innermost harness span that contains them.
  */
class Tracer extends SparkListener {
  private val ids = new AtomicLong(0)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val openSpans = TrieMap[Long, (Long, String, String, Double)]()

  private final class JobRec(val id: Int, val startMs: Long, val parent: Long,
      val batchId: Option[Long], val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private final class StageRec(val stageId: Int, val attempt: Int) {
    var submitMs = -1L
    var endMs = -1L
    var parents: Seq[Int] = Nil
    val runMs = mutable.ArrayBuffer[Long]()
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = TrieMap[Int, JobRec]()
  private val stages = TrieMap[(Int, Int), StageRec]()
  private val stageJob = TrieMap[Int, Int]()
  private val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var marker: CountDownLatch = new CountDownLatch(0)

  // ---- harness spans ----
  def open(parent: Long, kind: String, name: String): Long = {
    val id = ids.incrementAndGet()
    openSpans(id) = (parent, kind, name, Clock.nowMs)
    id
  }
  def close(id: Long, attrs: Map[String, Any] = Map.empty): Unit =
    openSpans.remove(id).foreach { case (p, k, n, s) =>
      closed.add(Span(id, p, k, n, s, Clock.nowMs, attrs))
    }
  /** Runs `body` inside a span; jobs it launches on this thread are tagged. */
  def span[T](spark: SparkSession, parent: Long, kind: String, name: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    val id = open(parent, kind, name)
    sc.setLocalProperty("perfbench.span", id.toString)
    try body
    finally {
      sc.setLocalProperty("perfbench.span", prev)
      close(id)
    }
  }
  def addSpan(parent: Long, kind: String, name: String, startMs: Double,
      endMs: Double, attrs: Map[String, Any] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    closed.add(Span(id, parent, kind, name, startMs, endMs, attrs))
    id
  }

  /** Registers the session-scoped listeners on a fresh session. */
  def attach(session: SparkSession): Unit = {
    session.listenerManager.register(qeListener)
    session.streams.addListener(streamListener)
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.add((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }
  /** The returned DataFrame was analyzed eagerly during construction; its
    * own tracker is not reported by any listener, so record it directly. */
  def recordAnalysis(qe: QueryExecution): Unit =
    qe.tracker.phases.get("analysis").foreach { s =>
      phases.add(("analysis", s.startTimeMs.toDouble, s.endTimeMs.toDouble))
    }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  def progressSeen: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  // ---- SparkListener ----
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    if (prop("perfbench.marker").isDefined) return
    jobs(e.jobId) = new JobRec(e.jobId, e.time,
      prop("perfbench.span").map(_.toLong).getOrElse(0L),
      prop("streaming.sql.batchId").map(_.toLong), e.stageIds)
    e.stageInfos.foreach { si =>
      stageJob.putIfAbsent(si.stageId, e.jobId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId) match {
      case Some(j) => j.endMs = e.time
      case None    => marker.countDown()
    }
  private def stage(id: Int, attempt: Int) =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    if (!stageJob.contains(si.stageId)) return
    val r = stage(si.stageId, si.attemptNumber())
    r.submitMs = si.submissionTime.getOrElse(System.currentTimeMillis())
    r.parents = si.parentIds
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (!stageJob.contains(si.stageId)) return
    val r = stage(si.stageId, si.attemptNumber())
    r.endMs = si.completionTime.getOrElse(System.currentTimeMillis())
    r.parents = si.parentIds
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageJob.contains(e.stageId)) return
    val r = stage(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    r.synchronized {
      r.taskMs += e.taskInfo.duration
      if (m != null) {
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Blocks until the listener bus has delivered every event posted so far:
    * a marker job's end event arrives after all earlier events on the
    * shared queue. Marker jobs are not recorded. */
  def sync(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    marker = new CountDownLatch(1)
    val prev = sc.getLocalProperty("perfbench.marker")
    sc.setLocalProperty("perfbench.marker", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.marker", prev)
    marker.await(30, TimeUnit.SECONDS)
  }

  /** Every recorded span, with jobs, stages and Catalyst phases attached.
    * `triggerParent(batchId)` names the span streaming jobs hang under. */
  def spans(triggerParent: Long => Long = _ => 0L): Seq[Span] = {
    val harness = closed.asScala.toSeq
    val containers = harness.filter(s => s.kind == "construct" || s.kind == "exec")
    val planSpans = phases.asScala.toSeq.map { case (phase, s, e) =>
      // innermost harness span containing the phase (2 ms clock tolerance)
      val parent = containers
        .filter(c => c.startMs - 2 <= s && e <= c.endMs + 2)
        .sortBy(c => c.endMs - c.startMs).headOption
      val (ps, pe) = parent.fold((s, e))(c =>
        (math.max(s, c.startMs), math.min(e, c.endMs)))
      Span(ids.incrementAndGet(), parent.fold(0L)(_.id), phase, phase, ps,
        math.max(ps, pe))
    }
    val jobIds = jobs.values.map(j => j.id -> ids.incrementAndGet()).toMap
    val jobSpans = jobs.values.toSeq.map { j =>
      val parent = j.batchId.fold(j.parent)(triggerParent)
      val end = if (j.endMs < 0) j.startMs else j.endMs
      Span(jobIds(j.id), parent, "job", s"job ${j.id}", j.startMs.toDouble,
        end.toDouble)
    }
    val stageSpans = stages.values.toSeq.filter(_.submitMs >= 0).map { r =>
      val runs = r.runMs.sorted
      val skew = if (runs.size < 2) 1.0 else {
        val med = runs(runs.size / 2).toDouble
        if (med <= 0) 1.0 else runs.last / med
      }
      val end = if (r.endMs < 0) r.submitMs else r.endMs
      Span(ids.incrementAndGet(), jobIds.getOrElse(stageJob(r.stageId), 0L),
        "stage", s"stage ${r.stageId}.${r.attempt}", r.submitMs.toDouble,
        end.toDouble, Map("tasks" -> runs.size, "task_s" -> r.taskMs / 1e3,
          "gc_s" -> r.gcMs / 1e3, "shuffle_bytes" -> r.shuffleWrite,
          "spill_bytes" -> r.spill, "skew" -> skew,
          "source" -> r.parents.isEmpty))
    }
    harness ++ planSpans ++ jobSpans ++ stageSpans
  }
}
