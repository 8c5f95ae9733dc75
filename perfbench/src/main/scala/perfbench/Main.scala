package perfbench

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: one workload, one seed, one JVM at local[4] with a
 * single client running a closed loop (the next batch or call starts when
 * the previous one returns).
 *
 *   Main <workload> <seed> <seconds> <trace 0|1> <work dir>
 *
 * Untraced (trace 0): set up `SetupReps` times (median = setup_s), warm up
 * for the workload's fixed number of ops, run ops for `seconds`, check
 * every op's output, print the end-to-end metrics. Traced (trace 1): one
 * traced set-up and the same warm-up, then untraced and traced cycles in
 * turn (tracing overhead) and each layer timed alone over a
 * pre-materialized input; prints the per-layer metrics and writes the spans
 * to <work dir>/trace/.
 *
 * The last stdout line is the result JSON; the line before it is a
 * human-readable summary with the sample counts and the error rate.
 */
object Main {
  val SetupReps = 3

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 5, "usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir>")
    val Array(name, seedS, secondsS, traceS, work) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    require(Workloads.names.contains(name),
      s"unknown workload '$name' (known: ${Workloads.names.mkString(", ")})")
    val spark = session(work)
    try {
      val ctx = Ctx(spark, work, seed, Checks.golden(spark, "golden"))
      val w = Workloads(name, ctx)
      val r = if (trace) Runner.traced(w, seconds, s"$work/trace/${name}_s$seed.jsonl")
              else Runner.untraced(w, seconds)
      println(r.summary)
      println(Json.obj(Seq(
        "correct" -> r.correct.toString,
        "attempted" -> r.attempted.toString,
        "failed" -> r.failed.toString,
        "metrics" -> Json.obj(r.metrics.map { case (k, v, unit) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
        }))))
    } finally spark.stop()
  }
}

final case class Ctx(spark: SparkSession, work: String, seed: Long, golden: Seq[GoldenRow])

final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)], summary: String)

/** Names a step; traced runs wrap it in a span, untraced runs just run it. */
trait Steps {
  def apply[T](name: String)(body: => T): T
}

object Untimed extends Steps {
  def apply[T](name: String)(body: => T): T = body
}

/** One workload: its set-up, its op (one batch or one call) and its layer
  * probes. `op` returns the number of input rows it processed, or throws /
  * returns a failure message through `Op`. */
trait Workload {
  def name: String
  /** Ops of different kinds that repeat in turn: one batch, or one call of
    * each verb. */
  def cycle: Int
  /** Ops run before timing starts. */
  def warmOps: Int
  /** Layers whose self times should add up to one op (trace runs). */
  def blockingLayers: Seq[String]
  def setup(steps: Steps): Unit
  def op(i: Int): Op
  /** Checks that run once after the timed ops (e.g. the unfused-path
    * digest); returns the failure messages. */
  def finalChecks(): Seq[String]
  /** Index bytes built on the driver (the broadcast-side bytes of the
    * executed plans are added by the runner). */
  def driverIndexBytes: Long
  def extraSummary: Seq[(String, String)]
  /** Traced run: each layer alone, over a pre-materialized input. */
  def layers(steps: Tracing): Map[String, Double]
}

final case class Op(rows: Long, failure: Option[String])

object Workloads {
  val names = Seq("crawl_extract", "api_verbs")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "crawl_extract" => new CrawlWorkload(name, Shape(pages = 8000, files = 8), ctx)
    case "api_verbs" => new ApiWorkload(ctx)
  }
}
