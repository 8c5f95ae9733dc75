package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.{GeoAdmin, Geocoder, Opencage, Openstreetmap}

/**
 * api_verbs: one client calling the reference's query verbs through the
 * provider facades, each call on a ~256-row DataFrame collected to the
 * driver. The calls cycle through Opencage.forward, Opencage.reverse,
 * Openstreetmap.forward and GeoAdmin.reverse over `Sets` generated query
 * and point sets. Every call is checked: fixture queries and points
 * against golden/, and the whole answer against the first answer to the
 * same (verb, set).
 */
final class ApiWorkload(ctx: Ctx) extends Workload {
  val name = "api_verbs"
  private val spark = ctx.spark
  import spark.implicits._

  private val Sets = 4
  private val N = 256
  private val (querySets, pointSets) = Gen.apiInputs(ctx.seed, Sets, N)
  private val queries: Seq[DataFrame] = querySets.map(_.toDF("query_id", "query"))
  private val points: Seq[DataFrame] = pointSets.map(_.toDF("query_id", "lon", "lat"))

  private var oc: Geocoder = _
  private var osm: Geocoder = _
  private var ga: Geocoder = _
  private val reference = mutable.Map.empty[(Int, Int), Seq[String]]

  private def golden(id: String) = ctx.golden.find(_.id == id)
    .getOrElse(sys.error(s"golden row $id missing"))

  def cycle: Int = 4

  def warmOps: Int = 48

  def blockingLayers: Seq[String] = Nil

  /** Builds the three provider facades and answers one query per verb: the
    * first call builds each facade's lazy gazetteer and polygon tables. */
  def setup(steps: Steps): Unit = steps("gazetteer.index_build") {
    oc = new Opencage(spark)
    osm = new Openstreetmap(spark)
    ga = new GeoAdmin(spark)
    val q = Seq((1L, "Barcelona")).toDF("query_id", "query")
    val p = Seq((1L, 2.15, 41.39)).toDF("query_id", "lon", "lat")
    Seq(oc.forward(q), oc.reverse(p), osm.forward(q), ga.reverse(p)).foreach(_.collect())
  }

  private def call(verb: Int, set: Int): DataFrame = verb match {
    case 0 => oc.forward(queries(set))
    case 1 => oc.reverse(points(set))
    case 2 => osm.forward(queries(set))
    case _ => ga.reverse(points(set))
  }

  private def point(rows: Array[Row], qid: Long): Option[(Double, Double)] =
    rows.find(r => r.getAs[Long]("query_id") == qid && r.getAs[Int]("result_rank") == 1)
      .map(r => (r.getAs[Double]("x"), r.getAs[Double]("y")))

  private def formatted(rows: Array[Row], qid: Long): Option[String] =
    rows.find(_.getAs[Long]("query_id") == qid).map(_.getAs[String]("formatted"))

  private def goldenFailures(verb: Int, rows: Array[Row]): Seq[String] = {
    def xy(id: String) = { val g = golden(id); Some((g.x, g.y)) }
    val checks = verb match {
      case 0 => Seq(("oc_forward", point(rows, 1) == xy("oc_forward")),
        ("oc_forward_full_nobox", point(rows, 2) == xy("oc_forward_full_nobox")))
      case 1 => Seq(("oc_reverse", formatted(rows, 1).contains(golden("oc_reverse").formatted)))
      case 2 => Seq(("osm_forward", point(rows, 1) == xy("osm_forward")))
      case _ => Seq(("ga_reverse", formatted(rows, 2).contains(golden("ga_reverse").formatted)))
    }
    checks.collect { case (id, false) => s"golden $id" }
  }

  def op(i: Int): Op = {
    val verb = i % 4
    val set = (i / 4) % Sets
    val rows = call(verb, set).collect()
    val canon = rows.map(_.toString).sorted.toSeq
    val want = reference.getOrElseUpdate((verb, set), canon)
    val bad = goldenFailures(verb, rows) ++
      (if (canon != want) Seq(s"answer differs from the first call (${canon.size} vs ${want.size} rows)")
       else Nil)
    Op(N, if (bad.isEmpty) None else Some(s"verb $verb set $set: ${bad.mkString("; ")}"))
  }

  def finalChecks(): Seq[String] = Nil

  def driverIndexBytes: Long = 0L

  def extraSummary: Seq[(String, String)] = Seq("calls_per_cycle" -> "4", "rows_per_call" -> N.toString)

  def layers(tr: Tracing): Map[String, Double] = {
    (0 until 2 * Sets).foreach { k =>
      val set = k % Sets
      tr("api.forward")(call(0, set).collect())
      tr("api.reverse")(call(1, set).collect())
      tr("api.forward")(call(2, set).collect())
      tr("api.reverse")(call(3, set).collect())
    }
    val all = tr.spans("api.forward") ++ tr.spans("api.reverse")
    val planMs = Stats.median(all.filter(_.stats.firstJobMs != Long.MaxValue)
      .map(s => (s.stats.firstJobMs - s.startMs).toDouble))
    val fwdRows = call(0, 0).collect()
    val revRows = call(1, 0).collect()
    val resolved = fwdRows.map(_.getAs[Long]("query_id")).distinct.length.toDouble
    val hits = revRows.count(_.getAs[String]("formatted") != null).toDouble
    Map(
      "gazetteer.index_build_s" -> tr.self("gazetteer.index_build"),
      "api.forward_call_ms" -> tr.self("api.forward") * 1000,
      "api.reverse_call_ms" -> tr.self("api.reverse") * 1000,
      "api.plan_ms" -> planMs,
      "api.jobs_per_call" -> Stats.median(all.map(_.stats.jobs.toDouble)),
      "api.shuffle_mb" -> Stats.median(all.map(_.stats.shuffleBytes / 1e6)),
      "forward.probe_s" -> tr.self("api.forward"),
      "forward.probes" -> N.toDouble,
      "forward.resolved_ratio" -> resolved / N,
      "forward.ns_per_probe" -> tr.stat("api.forward")(_.taskNs.toDouble) / N,
      "forward.broadcast_mb" -> tr.stat("api.forward")(_.broadcastBytes / 1e6),
      "forward.broadcast_build_s" -> tr.stat("api.forward")(_.broadcastBuildMs / 1e3),
      "reverse.probe_s" -> tr.self("api.reverse"),
      "reverse.points" -> N.toDouble,
      "reverse.hit_ratio" -> hits / N,
      "reverse.ns_per_point" -> tr.stat("api.reverse")(_.taskNs.toDouble) / N,
      "reverse.broadcast_mb" -> tr.stat("api.reverse")(_.broadcastBytes / 1e6),
      "reverse.broadcast_build_s" -> (tr.stat("api.reverse")(_.broadcastBuildMs / 1e3)))
  }
}
