package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.BenchBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced steps: every step is a span, and spans are kept by name. */
final class Tracing(val tracer: Tracer) extends Steps {
  private val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Span]]

  def apply[T](name: String)(body: => T): T = {
    val (out, s) = tracer.span(name)(body)
    byName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    out
  }

  /** `n` traced repetitions of one step. */
  def reps(name: String, n: Int)(body: => Unit): Unit = (1 to n).foreach(_ => apply(name)(body))

  def spans(name: String): Seq[Span] = byName.getOrElse(name, Nil).toSeq

  /** Median self seconds of the named spans (0 when the step never ran). */
  def self(name: String): Double = Stats.median(spans(name).map(tracer.selfSeconds))

  /** Median of a per-span statistic. */
  def stat(name: String)(f: SpanStats => Double): Double = Stats.median(spans(name).map(s => f(s.stats)))
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it — the
    * value at sorted rank n-11 — and that rank as a percentile; None when
    * it would not lie above the median (fewer than 21 samples). */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.size
    if (n < 21) None else Some((s(n - 11), 100.0 * (n - 11) / (n - 1)))
  }
}

object Runner {
  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"perfbench: ${seconds(born)}%.1f s $name")

  private final class Tally {
    var attempted = 0
    var failed = 0
    def apply(w: Workload, i: Int): (Double, Op) = {
      val t0 = System.nanoTime()
      val op =
        try w.op(i)
        catch { case e: Throwable => Op(0, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      val s = seconds(t0)
      attempted += 1
      op.failure.foreach { f =>
        failed += 1
        System.err.println(s"perfbench: ${w.name} op $i FAILED: ${f.take(2000)}")
      }
      (s, op)
    }
  }

  private def checks(w: Workload): Seq[String] = {
    val bad =
      try w.finalChecks()
      catch { case e: Throwable => Seq(s"${e.getClass.getName}: ${e.getMessage}") }
    bad.foreach(m => System.err.println(s"perfbench: ${w.name} check FAILED: ${m.take(2000)}"))
    bad
  }

  private def setupAll(w: Workload): Seq[Double] =
    (1 to Main.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.setup(Untimed)
      seconds(t0)
    }

  /** Warm up for a fixed number of ops, so that every run starts timing at
    * the same point of the JIT and codegen curve (op times keep falling for
    * the first ~10 s of a JVM). Whole cycles only; the cap bounds a run on a
    * slow host. The broadcast-side bytes of the last warm-up cycle are read
    * off its executed plans. */
  private def warmUp(w: Workload, tally: Tally): (Int, Long) = {
    val spark = org.apache.spark.sql.SparkSession.active
    val qes = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.synchronized(qes += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    var i = 0
    val t0 = System.nanoTime()
    spark.listenerManager.register(l)
    try {
      while (i < w.warmOps && seconds(t0) < WarmCap) {
        BenchBridge.drainListeners(spark.sparkContext)
        qes.synchronized(qes.clear())
        (0 until w.cycle).foreach { _ => tally(w, i); i += 1 }
      }
      BenchBridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    (i, qes.synchronized(qes.map(q => Tracer.broadcasts(q.executedPlan)._1).sum))
  }

  private val WarmCap = 12.0

  private def closedLoop(w: Workload, tally: Tally, from: Int, budget: Double,
                         each: Int => (Double, Op)): (Seq[Double], Long, Double, Int) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var i = from
    val t0 = System.nanoTime()
    while (seconds(t0) < budget) {
      val (s, op) = each(i)
      times += s
      rows += op.rows
      i += 1
    }
    (times.toSeq, rows, seconds(t0), i)
  }

  def untraced(w: Workload, budget: Double): Result = {
    phase("start")
    val setups = setupAll(w)
    phase("set-up " + setups.map(x => f"$x%.2f").mkString(" "))
    val tally = new Tally
    val (warm, broadcastBytes) = warmUp(w, tally)
    phase(s"warm-up ($warm ops)")
    val (times, rows, elapsed, _) = closedLoop(w, tally, warm, budget, i => tally(w, i))
    // ops of one cycle differ in kind (api_verbs: four verbs); the typical
    // op is the mean of each kind's median, which does not hinge on where
    // the overall median falls between the kinds
    val ms = times.map(_ * 1000)
    val p50 = Stats.mean((0 until w.cycle).map(k =>
      Stats.median(ms.indices.filter(j => (warm + j) % w.cycle == k).map(ms))))
    phase("measured, op ms: " + ms.map(x => f"$x%.0f").mkString(" "))
    val bad = checks(w)
    phase("checked")
    val failed = math.min(tally.attempted, tally.failed + bad.size)
    val summary = (Seq("workload" -> w.name, "ops" -> times.size.toString,
      "warmup_ops" -> warm.toString, "setup_reps" -> setups.size.toString,
      "op_ms_tail" -> Stats.tail(ms).map { case (v, p) => f"${v}%.1fms(p$p%.0f)" }.getOrElse("n/a"),
      "error_rate" -> (failed.toDouble / tally.attempted).toString) ++
      w.extraSummary).map { case (k, v) => s"$k=$v" }.mkString("perfbench ", " ", "")
    Result(failed == 0, tally.attempted, failed, Seq(
      ("input_rows_per_s", rows / elapsed, "1/s"),
      ("op_ms_p50", p50, "ms"),
      ("setup_s", Stats.median(setups), "s"),
      ("index_mb", (w.driverIndexBytes + broadcastBytes) / 1e6, "MB")), summary + s" end_s=${seconds(born)}")
  }

  private def heapPeakReset(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  def traced(w: Workload, budget: Double, spanFile: String): Result = {
    val spark = org.apache.spark.sql.SparkSession.active
    val tracer = new Tracer(spark, s"${w.name}-${System.currentTimeMillis()}")
    val tr = new Tracing(tracer)
    val tally = new Tally
    w.setup(tr)
    tracer.close()
    val (warm, _) = warmUp(w, tally)
    // traced and untraced cycles alternate, so the overhead estimate does
    // not pick up the drift of op times over the run
    val plain = mutable.ArrayBuffer.empty[Double]
    heapPeakReset()
    closedLoop(w, tally, warm, budget, { i =>
      if ((i / w.cycle) % 2 == 0) { val r = tally(w, i); plain += r._1; r }
      else {
        tracer.open()
        try tr("op")(tally(w, i)) finally tracer.close()
      }
    })
    val heapMb = heapPeakMb
    tracer.open()
    val layers = w.layers(tr)
    tracer.close()
    val bad = checks(w)
    val failed = math.min(tally.attempted, tally.failed + bad.size)
    tracer.write(spanFile)

    val untracedS = Stats.median(plain.toSeq)
    val tracedS = tr.self("op")
    val layerSum = w.blockingLayers.map(n => layers.getOrElse(n, 0.0)).sum
    def st(f: SpanStats => Double) = tr.stat("op")(f)
    val cores = spark.sparkContext.defaultParallelism
    val opSpans = tr.spans("op")
    val idle = Stats.median(opSpans.map(s => cores * s.seconds - s.stats.taskNs / 1e9))
    val measured = layers ++ Seq(
      "spark.jobs" -> st(_.jobs),
      "spark.stages" -> st(_.stages),
      "spark.tasks" -> st(_.tasks),
      "spark.task_s" -> st(_.taskNs / 1e9),
      "spark.idle_core_s" -> idle,
      "spark.sched_delay_s" -> st(_.schedDelayMs / 1e3),
      "spark.failed_tasks" -> st(_.failedTasks),
      "spark.spill_mb" -> st(_.spillBytes / 1e6),
      "spark.gc_s" -> st(_.gcMs / 1e3),
      "jvm.heap_peak_mb" -> heapMb,
      "trace.op_s_untraced" -> untracedS,
      "trace.op_s_traced" -> tracedS,
      "trace.overhead_pct" -> 100 * (tracedS - untracedS) / untracedS,
      "trace.layer_sum_s" -> layerSum,
      "trace.unaccounted_s" -> (untracedS - layerSum))
    val unknown = measured.keySet -- PerLayer.all.map(_._1)
    require(unknown.isEmpty, s"metrics missing from PerLayer.all: $unknown")
    // a layer this workload does not exercise reads 0
    val metrics = PerLayer.all.map { case (n, unit) => (n, measured.getOrElse(n, 0.0), unit) }
    val summary = Seq("workload" -> w.name, "traced_ops" -> opSpans.size.toString,
      "untraced_ops" -> plain.size.toString, "spans" -> spanFile,
      "error_rate" -> (failed.toDouble / tally.attempted).toString)
      .map { case (k, v) => s"$k=$v" }.mkString("perfbench ", " ", "")
    Result(failed == 0, tally.attempted, failed, metrics, summary)
  }
}

/** Every per-layer metric, in output order, with its unit. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.input_mb" -> "MB", "sources.tasks" -> "count",
    "etl.extract_s" -> "s", "etl.extract_task_s" -> "s", "etl.ns_per_kb" -> "ns",
    "etl.mentions_per_page" -> "ratio", "etl.gc_s" -> "s",
    "gazetteer.scanner_build_s" -> "s", "gazetteer.scanner_keys" -> "count",
    "gazetteer.index_build_s" -> "s",
    "forward.top1_build_s" -> "s", "forward.top1_rows" -> "count",
    "reverse.packed_build_s" -> "s", "reverse.packed_rows" -> "count",
    "forward.probe_s" -> "s", "forward.probes" -> "count", "forward.resolved_ratio" -> "ratio",
    "forward.ns_per_probe" -> "ns", "forward.broadcast_mb" -> "MB",
    "forward.broadcast_build_s" -> "s",
    "reverse.probe_s" -> "s", "reverse.points" -> "count", "reverse.cands_per_point" -> "ratio",
    "reverse.hit_ratio" -> "ratio", "reverse.ns_per_point" -> "ns", "reverse.broadcast_mb" -> "MB",
    "reverse.broadcast_build_s" -> "s",
    "pipeline.ws_packed_write_s" -> "s", "pipeline.ws_fingerprint_s" -> "s",
    "pipeline.ws_mentions_write_s" -> "s", "pipeline.ws_read_s" -> "s",
    "pipeline.ws_bytes_written_mb" -> "MB", "pipeline.ws_write_bytes_per_page" -> "B",
    "tiler.assign_s" -> "s", "tiler.rollup_s" -> "s", "tiler.shuffle_mb" -> "MB",
    "tiler.tiles_out" -> "count",
    "api.forward_call_ms" -> "ms", "api.reverse_call_ms" -> "ms", "api.plan_ms" -> "ms",
    "api.jobs_per_call" -> "count", "api.shuffle_mb" -> "MB",
    "sink.noop_s" -> "s", "sink.count_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.idle_core_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.failed_tasks" -> "count", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "trace.op_s_untraced" -> "s", "trace.op_s_traced" -> "s", "trace.overhead_pct" -> "%",
    "trace.layer_sum_s" -> "s", "trace.unaccounted_s" -> "s")
}
