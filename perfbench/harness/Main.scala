package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Raw measurements of one repetition. `kind` is "check" (untimed, also the
  * warm-up; its output is checked), "warm" (untimed), "timed", or in a
  * traced run "untraced" / "traced". Latencies are in ms, one per input
  * item or per group of equally many items. */
final case class Rep(kind: String, index: Int, setupS: Double, wallS: Double,
    opsMs: Seq[Double], latency: Seq[Double], items: Long,
    attempted: Int, failed: Int, errors: Seq[String], heapMb: Double,
    layers: Map[String, Any], spans: Seq[Span])

/** Benchmark harness: one process runs one workload for a fixed time and
  * writes its raw measurements (and the outputs to check) to `--work`.
  * `perfbench/run.py` builds this, runs it, checks the outputs and turns
  * the raw measurements into metrics. */
object Main {
  /** Fewest timed repetitions in a run: four, the length of `batch`'s
    * balanced cycle of query orders. */
  val MinReps = 4
  /** Fewest untraced/traced pairs in a traced run; four would take `batch`
    * past the time a run may take. */
  val MinPairs = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, cores: Int,
      params: Map[String, String]) {
    def p(k: String): String = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing --param $k"))
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k -> v }.toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Opts(one("--workload"), one("--seed").toLong, one("--seconds").toDouble,
      one("--trace") == "1", one("--data"), one("--work"), one("--cores").toInt,
      kv.collect { case ("--param", v) =>
        val Array(a, b) = v.split("=", 2); a -> b }.toMap)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val startupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val w: Workload = o.params("kind") match {
      case "batch"    => new BatchWorkload(spark, o)
      case "backfill" => new BackfillWorkload(spark, o)
      case "live"     => new LiveWorkload(spark, o)
      case k          => throw new IllegalArgumentException(s"unknown kind $k")
    }
    // Untimed first repetition: settles JIT and first-use costs, and its
    // outputs are the ones checked for every workload kind.
    val reps = mutable.ArrayBuffer[Rep]()
    reps += w.rep(0, 0, "check", traced = false)
    val calibration = calibrate(spark, o.data)
    // Further untimed repetitions for workloads whose JIT warm-up outlasts
    // the check repetition (their outputs are checked too).
    val warmReps = o.params.getOrElse("warm_reps", "0").toInt
    (1 to warmReps).foreach(j => reps += w.rep(j, j, "warm", traced = false))
    // Timed repetitions: at least MinReps, continuing until the measured
    // time reaches --seconds; repetition `done` is round `done`. A traced
    // run instead makes pairs of one untraced and one traced repetition of
    // the same round, at least MinPairs pairs and until --seconds; the
    // order inside a pair flips from pair to pair, so the remaining warm-up
    // drift cancels out of the paired differences.
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = warmReps + 1
    var done = 0
    while (done < (if (o.trace) MinPairs else MinReps) || elapsed < o.seconds) {
      if (o.trace) {
        val pair = if (done % 2 == 0) Seq(false, true) else Seq(true, false)
        pair.foreach { traced =>
          reps += w.rep(i, done, if (traced) "traced" else "untraced", traced)
          i += 1
        }
      } else {
        reps += w.rep(i, done, "timed", traced = false)
        i += 1
      }
      done += 1
    }
    val measuredS = elapsed

    val out = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "spark_version" -> spark.version,
      "startup_s" -> startupS, "measured_s" -> measuredS,
      "calibration" -> calibration, "info" -> w.info,
      "reps" -> reps.map { r => Map(
        "kind" -> r.kind, "index" -> r.index, "setup_s" -> r.setupS,
        "wall_s" -> r.wallS, "ops_ms" -> r.opsMs,
        "latency" -> r.latency,
        "items" -> r.items, "attempted" -> r.attempted, "failed" -> r.failed,
        "errors" -> r.errors, "heap_mb" -> r.heapMb, "layers" -> r.layers,
        "spans" -> r.spans.map(_.toMap)) })
    Files.write(Paths.get(o.work, "raw.json"), Json.enc(out).getBytes("UTF-8"))
    spark.stop()
  }

  /** Fixed CPU and scan probes, run warm: their cost depends on the host,
    * never on the code under test, so results from different hosts and
    * times can be scaled against each other. */
  private def calibrate(spark: SparkSession, data: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id * (id % 7))").collect()
    val cpu = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    spark.read.parquet(s"$data/lineitem.parquet")
      .selectExpr("sum(l_quantity)", "count(*)").collect()
    Map("cpu_s" -> cpu, "scan_s" -> (System.nanoTime() - t1) / 1e9)
  }
}

trait Workload {
  /** Repetition `index` of the run; `round` counts the timed (or paired)
    * repetitions, for workloads that vary their order by round. */
  def rep(index: Int, round: Int, kind: String, traced: Boolean): Rep
  def info: Map[String, Any]
}

/** Shared helpers for the workloads. */
object Work {
  def tsv(path: String, header: Seq[String], rows: Iterator[Seq[Any]]): Unit = {
    val pw = new PrintWriter(new File(path), "UTF-8")
    try {
      pw.println(header.mkString("\t"))
      rows.foreach(r => pw.println(r.map(v => if (v == null) "" else v.toString)
        .mkString("\t")))
    } finally pw.close()
  }
  def newTracer(spark: SparkSession, traced: Boolean): Option[Tracer] =
    if (!traced) None else {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    }
  def finishTracer(spark: SparkSession, t: Option[Tracer]): Unit =
    t.foreach { tr => tr.sync(spark); spark.sparkContext.removeSparkListener(tr) }
  def ms(ns: Long): Double = ns / 1e6
  /** A fresh session for one repetition. Blocks that earlier repetitions'
    * sessions left persisted (FrameMemo keeps the two most recent sessions'
    * frames) are released first, so every repetition starts from the same
    * heap and ends holding only its own state. */
  def freshSession(base: SparkSession): SparkSession = {
    base.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    base.newSession()
  }
}

/** Batch workload: each repetition runs an order made from the seeded
  * permutation of the query list on a fresh session (`Work.freshSession`:
  * cold FrameMemo, since memos are keyed by session), timing each
  * query from the `SparkEntry.queries` call through the `noop` write. The
  * check repetition writes parquet instead, for the DuckDB comparison. */
class BatchWorkload(base: SparkSession, o: Main.Opts) extends Workload {
  // java.util.Random barely mixes consecutive seeds into its first draws
  // (seeds 601-610 all put the same query last), so the seed is mixed first.
  private val queries = new Random(new java.util.SplittableRandom(o.seed).nextLong())
    .shuffle(o.p("queries").split(",").toSeq)
  private val missing = queries.filterNot(SparkEntry.queries.contains)
  require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
  private var tables: Seq[String] = Nil

  def info: Map[String, Any] = Map("order" -> queries, "tables" -> tables,
    "oracle_sql" -> queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap)

  def rep(index: Int, round: Int, kind: String, traced: Boolean): Rep = {
    // Round r runs the seeded order rotated by 2*(r/2) places and reversed
    // on odd rounds. With four queries, rounds 0-3 run every query first
    // once and last once, and every pair of queries in each order twice.
    // So neither the query that runs last (and what the heap still holds
    // at the end) nor how often each simhash_pairs user pays the cold memo
    // build depends on the seed; the seed still decides which queries
    // neighbour each other.
    val shift = 2 * (round / 2) % queries.size
    val rotated = queries.drop(shift) ++ queries.take(shift)
    val order = if (round % 2 == 1) rotated.reverse else rotated
    val tr = Work.newTracer(base, traced)
    val s0 = System.nanoTime()
    val s = Work.freshSession(base)
    tr.foreach(_.attach(s))
    val setupS = (System.nanoTime() - s0) / 1e9
    val runSpan = tr.fold(0L)(_.open(0, "run", s"batch#$index"))
    val opMs = mutable.Map[String, Double]()
    val errors = mutable.ArrayBuffer[String]()
    val inputs = mutable.LinkedHashSet[String]()
    def traceSpan[T](parent: Long, k: String, n: String)(body: => T): T =
      tr.fold(body)(_.span(s, parent, k, n)(body))
    val t0 = System.nanoTime()
    order.foreach { q =>
      val qs = System.nanoTime()
      val qSpan = tr.fold(0L)(_.open(runSpan, "query", q))
      try {
        val df = traceSpan(qSpan, "construct", q)(SparkEntry.queries(q)(s, o.data))
        tr.foreach(_.recordAnalysis(df.queryExecution))
        traceSpan(qSpan, "exec", q) {
          if (kind == "check") {
            inputs ++= df.inputFiles.map(f => new File(f).getName.stripSuffix(".parquet"))
            df.write.mode("overwrite").parquet(s"${o.work}/check/$q")
          } else df.write.format("noop").mode("overwrite").save()
        }
      } catch { case e: Throwable => errors += s"$q: $e" }
      tr.foreach(_.close(qSpan))
      val qe = System.nanoTime()
      opMs(q) = Work.ms(qe - qs)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    tr.foreach(_.close(runSpan))
    if (kind == "check") tables = inputs.toSeq.sorted
    val pinned = s.sparkContext.getPersistentRDDs.size
    // Direct table resolution, after the timed loop so it never adds to
    // the repetition's wall time.
    tr.foreach { t =>
      tables.foreach { name =>
        t.span(s, 0L, "tables", name) {
          if (name == "events") graft.Tables.events(s, o.data)
          else graft.Tables.table(s, o.data, name)
        }
      }
    }
    val heapMb = Heap.retainedMb()
    Work.finishTracer(base, tr)
    // ops in the seeded order, whatever the round, so that run.py's
    // per-position medians are per-query medians. Queries run back to back,
    // so each is due when it is issued and its latency is its own time: on
    // this workload latency repeats the ops.
    val ops = queries.map(opMs)
    Rep(kind, index, setupS, wallS, ops, ops, queries.size,
      queries.size, errors.size, errors.toSeq, heapMb,
      Map("memo.pinned_rdds" -> pinned), tr.fold(Seq.empty[Span])(_.spans()))
  }
}

/** Driver heap retained by a repetition: heap in use after a full
  * collection, taken before the repetition's state (sink rows, memo pins,
  * state store) is released. Heap-after-GC of the young collections during
  * a repetition is not used: it counts whatever old-generation garbage has
  * not been collected yet, and read from 300 to 1300 MB across runs. */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
