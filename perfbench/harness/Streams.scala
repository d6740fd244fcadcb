package perfbench

import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sources.LogSink
import graft.streaming.StreamOps

/** Helpers shared by the two streaming workloads. */
object StreamRuns {
  def startMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")
  /** Triggers that ran a batch (idle polls carry no addBatch). */
  def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.toLongOption).getOrElse(-1L)

  /** Raw per-trigger record; run.py derives the stream/state metrics. */
  def triggerRecord(p: StreamingQueryProgress, wallClockEventTime: Boolean): Map[String, Any] = {
    val ops = p.stateOperators.toSeq
    val et = p.eventTime.asScala
    def etMs(k: String) = et.get(k).map(v => Instant.parse(v).toEpochMilli.toDouble)
    // Watermark lag: how far the watermark trails the newest event time,
    // or, when event time is the wall clock, trails the trigger start.
    val lag = etMs("watermark").map { wm =>
      if (wallClockEventTime) startMs(p) - wm else etMs("max").getOrElse(wm) - wm
    }
    Map("batch" -> p.batchId, "start_ms" -> startMs(p),
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "watermark_lag_ms" -> lag)
  }

  /** Trigger spans rebuilt from progress events: the phases run in this
    * order inside a trigger; streaming jobs hang under addBatch. Returns the
    * batchId → addBatch span map. */
  def triggerSpans(tr: Tracer, run: Long, progress: Seq[StreamingQueryProgress]): Map[Long, Long] =
    progress.filter(_.durationMs.containsKey("addBatch")).map { p =>
      val s = startMs(p)
      val trig = tr.addSpan(run, "trigger", s"batch ${p.batchId}", s, endMs(p))
      var t = s
      var addBatch = trig
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").filter(p.durationMs.containsKey).foreach { ph =>
        val id = tr.addSpan(trig, ph, ph, t, t + dur(p, ph))
        if (ph == "addBatch") addBatch = id
        t += dur(p, ph)
      }
      p.batchId -> addBatch
    }.toMap

  /** Waits until the tracer's StreamingQueryListener has seen every batch. */
  def awaitProgress(tr: Tracer, q: StreamingQuery, n: Int): Seq[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 10000000000L
    def seen = tr.progressSeen.filter(p => p.runId == q.runId &&
      p.durationMs.containsKey("addBatch"))
    while (seen.size < n && System.nanoTime() < deadline) Thread.sleep(10)
    seen
  }

  def sinkRows(name: String): Vector[Seq[Any]] =
    LogSink.get(name).fold(Vector.empty[Seq[Any]])(_.rows)
}

/** Closed-loop backfill: a `graft-sales` backlog drained with
  * Trigger.AvailableNow through the A11 transform and
  * `StreamOps.windowedAgg` into the two-phase-commit `graft-sink`. */
class BackfillWorkload(base: SparkSession, o: Main.Opts) extends Workload {
  private val rows = o.p("rows").toLong
  private val rowsPerBatch = o.p("rows_per_batch").toLong
  require(rows % rowsPerBatch == 0, "rows must be a multiple of rows_per_batch")
  private val stepUs = 100000L // event time advances 100 ms per row
  private val originUs = 1704067200000000L // 2024-01-01T00:00:00Z

  def info: Map[String, Any] = Map("rows" -> rows, "rows_per_batch" -> rowsPerBatch)

  /** A11 transform (total = quantity * price) projected to StreamOps'
    * event shape; event time advances with row_id. */
  private def events(s: SparkSession, streaming: Boolean): DataFrame = {
    val raw = if (streaming)
      s.readStream.format("graft-sales").option("rows", rows)
        .option("rowsPerBatch", rowsPerBatch).load()
    else s.read.format("graft-sales").option("rows", rows)
      .option("partitions", o.cores).load()
    raw.withColumn("total", col("quantity") * col("price"))
      .select(col("row_id").as("event_id"),
        timestamp_micros(lit(originUs) + col("row_id") * lit(stepUs)).as("ts"),
        (col("row_id") % 5).as("user_id"), col("product_name").as("event_type"),
        col("total").as("value"))
  }

  private val header = Seq("w_start_us", "event_type", "n", "total_value")

  def rep(index: Int, round: Int, kind: String, traced: Boolean): Rep = {
    val tr = Work.newTracer(base, traced)
    val s0 = System.nanoTime()
    val s = Work.freshSession(base)
    tr.foreach(_.attach(s))
    val name = s"perfbench-backfill-$index"
    LogSink.clear(name)
    def build = StreamOps.windowedAgg(events(s, streaming = true))
    val df = tr.fold(build)(_.span(s, 0L, "construct", "backfill")(build))
    val setupS = (System.nanoTime() - s0) / 1e9
    val runSpan = tr.fold(0L)(_.open(0L, "run", s"backfill#$index"))
    val startMs = Clock.nowMs
    val t0 = System.nanoTime()
    val q = df.writeStream.format("graft-sink").option("name", name)
      .option("checkpointLocation", s"${o.work}/ckpt/$name")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val errors = mutable.ArrayBuffer[String]()
    try q.awaitTermination()
    catch { case e: Throwable => errors += e.toString }
    val wallS = (System.nanoTime() - t0) / 1e9
    tr.foreach(_.close(runSpan))
    val progress = StreamRuns.batches(q)
    // Every batch that read rows read rows_per_batch of them, so one latency
    // per such trigger stands for each of its rows equally.
    val latency = progress.filter(_.numInputRows > 0).map(StreamRuns.endMs(_) - startMs)
    val watermarkMs = progress.lastOption.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(v => Instant.parse(v).toEpochMilli).getOrElse(0L)
    val sink = StreamRuns.sinkRows(name)
    Work.tsv(s"${o.work}/check/backfill_rep$index.tsv", header, sink.iterator)
    if (kind == "check") {
      val expected = StreamOps.windowedAgg(events(s, streaming = false))
        .select(unix_micros(col("w_start")), col("event_type"), col("n"), col("total_value"))
        .collect().map(_.toSeq)
      Work.tsv(s"${o.work}/check/backfill_expected.tsv", header, expected.iterator)
    }
    val committed = LogSink.get(name)
    val heapMb = Heap.retainedMb()
    LogSink.clear(name)
    val spans = tr.fold(Seq.empty[Span]) { t =>
      val seen = StreamRuns.awaitProgress(t, q, progress.size)
      val parents = StreamRuns.triggerSpans(t, runSpan, seen)
      Work.finishTracer(base, tr)
      t.spans(b => parents.getOrElse(b, runSpan))
    }
    Rep(kind, index, setupS, wallS, progress.map(StreamRuns.dur(_, "triggerExecution")),
      latency, rows, 1, if (errors.isEmpty) 0 else 1, errors.toSeq, heapMb,
      Map("triggers" -> progress.map(StreamRuns.triggerRecord(_, wallClockEventTime = false)),
        "watermark_ms" -> watermarkMs,
        "sink.captured_rows" -> sink.size,
        "sink.aborts" -> committed.fold(0L)(_.aborts)),
      spans)
  }
}

/** Open-loop live stream: the benchmark thread feeds a MemoryStream at a
  * fixed rate; each event is stamped with its due time (its event time).
  * Pipeline: `StreamOps.dedupWithinWatermark` into `graft-sink`. */
class LiveWorkload(base: SparkSession, o: Main.Opts) extends Workload {
  private val rate = o.p("rate").toDouble
  private val feedS = o.p("feed_seconds").toDouble
  private val tickMs = o.p("tick_ms").toDouble
  private val gen = new LiveGen(o.seed, o.p("users").toInt, o.p("zipf_s").toDouble)
  private val n = math.round(rate * feedS)

  def info: Map[String, Any] = Map("rate" -> rate, "feed_seconds" -> feedS,
    "events" -> n, "tick_ms" -> tickMs)

  def rep(index: Int, round: Int, kind: String, traced: Boolean): Rep = {
    val tr = Work.newTracer(base, traced)
    val s0 = System.nanoTime()
    val s = Work.freshSession(base)
    tr.foreach(_.attach(s))
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val name = s"perfbench-live-$index"
    LogSink.clear(name)
    val events = gen.events(index, n)
    val ms = MemoryStream[LiveEv]
    def build = StreamOps.dedupWithinWatermark(ms.toDF())
    val df = tr.fold(build)(_.span(s, 0L, "construct", "live")(build))
    val q = df.writeStream.format("graft-sink").option("name", name)
      .option("maxRows", Long.MaxValue.toString)
      .option("checkpointLocation", s"${o.work}/ckpt/$name")
      .outputMode("append").start()
    val setupS = (System.nanoTime() - s0) / 1e9
    val runSpan = tr.fold(0L)(_.open(0L, "run", s"live#$index"))

    // Feed: every tick, add all events that are due by now in one chunk.
    val periodMs = 1000.0 / rate
    val firstDue = Clock.nowMs + tickMs
    val due = Array.tabulate(n.toInt)(j => firstDue + j * periodMs)
    val late = new Array[Double](n.toInt)
    val chunks = mutable.ArrayBuffer[(Long, Int, Int)]() // (offset, from, until)
    var k = 0
    while (k < n) {
      val now = Clock.nowMs
      val upto = math.min(n, math.floor((now - firstDue) / periodMs).toLong + 1).toInt
      if (upto > k) {
        val off = ms.addData((k until upto).map(j => events(j).copy(
          ts = new java.sql.Timestamp(due(j).toLong))))
        val added = Clock.nowMs
        (k until upto).foreach(j => late(j) = added - due(j))
        chunks += ((off.json().toLong, k, upto))
        k = upto
      }
      val nextTick = now + tickMs
      val sleep = nextTick - Clock.nowMs
      if (k < n && sleep > 0) java.util.concurrent.locks.LockSupport.parkNanos((sleep * 1e6).toLong)
    }
    val committedAtFeedEnd = StreamRuns.batches(q).map(StreamRuns.endOffset).maxOption.getOrElse(-1L)
    val backlog = chunks.filter(_._1 > committedAtFeedEnd).map(c => c._3 - c._2).sum
    val errors = mutable.ArrayBuffer[String]()
    try q.processAllAvailable()
    catch { case e: Throwable => errors += e.toString }
    q.stop()
    tr.foreach(_.close(runSpan))
    val progress = StreamRuns.batches(q)
    // Each chunk commits at the end of the first trigger whose end offset
    // covers it; every event's latency runs from its due time to there.
    val ends = progress.map(p => (StreamRuns.endOffset(p), StreamRuns.endMs(p))).sortBy(_._1)
    val latency = mutable.ArrayBuffer[Double]()
    var lastCommit = firstDue
    chunks.foreach { case (off, from, until) =>
      ends.find(_._1 >= off).foreach { case (_, end) =>
        lastCommit = math.max(lastCommit, end)
        (from until until).foreach(j => latency += end - due(j))
      }
    }
    if (latency.size < n) errors += s"${n - latency.size} events never committed"
    val wallS = (lastCommit - firstDue) / 1e3
    val sorted = late.sorted
    val genStats = Map("late_p99_ms" -> (if (n == 0) 0.0 else sorted(((n - 1) * 99 / 100).toInt)),
      "backlog_rows" -> backlog)

    val sink = StreamRuns.sinkRows(name)
    Work.tsv(s"${o.work}/check/live_rep${index}_sink.tsv", df.schema.fieldNames.toSeq
      .map(f => if (f == "ts") "ts_us" else f), sink.iterator)
    Work.tsv(s"${o.work}/check/live_rep${index}_events.tsv",
      Seq("event_id", "ts_us", "user_id", "event_type", "value"),
      events.indices.iterator.map { j =>
        val e = events(j)
        Seq(e.event_id, due(j).toLong * 1000L, e.user_id, e.event_type, e.value)
      })
    val committed = LogSink.get(name)
    val heapMb = Heap.retainedMb()
    LogSink.clear(name)
    val spans = tr.fold(Seq.empty[Span]) { t =>
      val seen = StreamRuns.awaitProgress(t, q, progress.size)
      val parents = StreamRuns.triggerSpans(t, runSpan, seen)
      Work.finishTracer(base, tr)
      t.spans(b => parents.getOrElse(b, runSpan))
    }
    Rep(kind, index, setupS, wallS, progress.map(StreamRuns.dur(_, "triggerExecution")),
      latency.toSeq, n, 1, if (errors.isEmpty) 0 else 1, errors.toSeq, heapMb,
      Map("triggers" -> progress.map(StreamRuns.triggerRecord(_, wallClockEventTime = true)),
        "sink.captured_rows" -> sink.size,
        "sink.aborts" -> committed.fold(0L)(_.aborts),
        "gen" -> genStats),
      spans)
  }
}

/** One live-stream event, in StreamOps' event shape. */
final case class LiveEv(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Seeded, skewed event generator. Users follow a Zipf law whose hot ranks
  * map to seed-dependent user ids; event types are skewed too. A seed
  * changes which keys are hot, not the shape of the stream. */
class LiveGen(seed: Long, users: Int, zipfS: Double) {
  private val types = Array("view", "click", "search", "login", "purchase")
  private val typeCdf = cumulative(Array(0.4, 0.25, 0.15, 0.12, 0.08))
  private val userCdf = cumulative(Array.tabulate(users)(r => 1.0 / math.pow(r + 1, zipfS)))
  private val offset = java.lang.Math.floorMod(seed * 2654435761L, users.toLong)

  private def cumulative(w: Array[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** The `n` events of repetition `rep`; `ts` is set when an event is fed. */
  def events(rep: Int, n: Long): IndexedSeq[LiveEv] = {
    val rnd = new SplittableRandom(seed * 1000003L + rep)
    (0L until n).map { j =>
      val rank = draw(userCdf, rnd.nextDouble())
      val user = (rank * 7919L + offset) % users
      LiveEv(j, null, user, types(draw(typeCdf, rnd.nextDouble())),
        rnd.nextInt(100000) / 100.0)
    }
  }
}
