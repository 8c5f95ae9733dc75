package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchBridge, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark work attributed to one span. */
final class SpanStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var broadcastBytes = 0L
  var broadcastBuildMs = 0L
  var firstJobMs = Long.MaxValue
}

final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, startMs: Long, stats: SpanStats) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * The benchmark's tracer: spans (name, start, end, parent, run id) around
 * calls into the engine's layers, and a SparkListener that attributes jobs,
 * stages and tasks to spans. A job belongs to the span named by its job
 * group; jobs Spark starts under its own group (broadcast builds) belong to
 * the innermost open span. The listener bus is drained at every span
 * boundary, so no event crosses into the wrong span. Spans stay in memory
 * and are written out once, at the end of the run.
 */
final class Tracer(spark: SparkSession, val runId: String) extends SparkListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long, Long, SpanStats)] = Nil
  private var nextId = 0
  @volatile private var current: SpanStats = null
  private val byGroup = new ConcurrentHashMap[String, SpanStats]()
  private val byStage = new ConcurrentHashMap[Int, SpanStats]()

  open()

  /** Attach (open) or detach (close) the listener; untraced ops run detached. */
  def open(): Unit = sc.addSparkListener(this)
  def close(): Unit = sc.removeSparkListener(this)

  private def group(id: Int) = s"span-$runId-$id"

  def span[T](name: String)(body: => T): (T, Span) = {
    BenchBridge.drainListeners(sc)
    val id = nextId
    nextId += 1
    val stats = new SpanStats
    byGroup.put(group(id), stats)
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.nanoTime(), System.currentTimeMillis(), stats) :: stack
    current = stats
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    try {
      val out = body
      BenchBridge.drainListeners(sc)
      val (_, _, t0, ms0, _) = stack.head
      val s = Span(id, name, parent, runId, t0, System.nanoTime(), ms0, stats)
      spans += s
      (out, s)
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some((pid, pname, _, _, pstats)) =>
          sc.setJobGroup(group(pid), pname, interruptOnCancel = false)
          current = pstats
        case None =>
          sc.clearJobGroup()
          current = null
      }
    }
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val st = g.flatMap(k => Option(byGroup.get(k))).getOrElse(current)
    if (st != null) {
      st.jobs += 1
      st.firstJobMs = math.min(st.firstJobMs, e.time)
      e.stageIds.foreach(byStage.put(_, st))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { st =>
      st.tasks += 1
      val info = e.taskInfo
      if (info.failed || info.killed) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskNs += m.executorRunTime * 1000000L
        st.gcMs += m.jvmGCTime
        st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        st.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.outputBytes += m.outputMetrics.bytesWritten
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if current != null =>
      BenchBridge.queryExecution(end).foreach { qe =>
        val (bytes, ms) = Tracer.broadcasts(qe.executedPlan)
        current.broadcastBytes += bytes
        current.broadcastBuildMs += ms
      }
    case _ =>
  }

  /** Spans as JSON lines. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      val st = s.stats
      w.println(Json.obj(Seq("run" -> Json.str(s.runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_s" -> Json.num(selfSeconds(s)), "jobs" -> st.jobs.toString,
        "stages" -> st.stages.toString, "tasks" -> st.tasks.toString,
        "task_s" -> Json.num(st.taskNs / 1e9), "gc_s" -> Json.num(st.gcMs / 1e3),
        "input_bytes" -> st.inputBytes.toString, "output_bytes" -> st.outputBytes.toString,
        "shuffle_bytes" -> st.shuffleBytes.toString,
        "broadcast_bytes" -> st.broadcastBytes.toString)))
    } finally w.close()
  }
}

object Tracer {
  /** Broadcast-side bytes and build milliseconds of an executed plan. */
  def broadcasts(plan: SparkPlan): (Long, Long) = plan match {
    case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
    case q: QueryStageExec => broadcasts(q.plan)
    case b: BroadcastExchangeExec =>
      val (cb, cm) = broadcasts(b.child)
      def m(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
      (cb + m("dataSize"), cm + m("collectTime") + m("buildTime") + m("broadcastTime"))
    case p =>
      (p.children ++ p.subqueries).map(broadcasts).foldLeft((0L, 0L)) {
        case ((a, b), (c, d)) => (a + c, b + d)
      }
  }
}

/** Just enough JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
