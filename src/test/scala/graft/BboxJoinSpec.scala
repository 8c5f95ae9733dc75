package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{BboxJoin, RangeJoin}

/** Bbox-overlap PBSM join and the broadcast interval-dictionary lookup. */
class BboxJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // deterministic box lattice on 0.25-degree steps (exact doubles): mixes
  // overlap, containment, edge-touch, disjoint, and negative coordinates
  private val boxesA = (0 until 48).map { i =>
    val mnLon = -20.0 + (i % 8) * 5.25
    val mnLat = -10.0 + (i / 8) * 4.75
    (i.toLong, mnLon, mnLat, mnLon + 4.0 + (i % 3) * 0.5, mnLat + 3.25)
  }
  private val boxesB = (0 until 30).map { j =>
    val mnLon = -18.5 + (j % 6) * 6.5
    val mnLat = -8.25 + (j / 6) * 5.5
    (100L + j, mnLon, mnLat, mnLon + 5.75, mnLat + 4.5)
  }

  private def brute: Map[(Long, Long), (Double, Double, Double, Double)] =
    (for {
      (ai, alo, ala, ahi, aha) <- boxesA
      (bi, blo, bla, bhi, bha) <- boxesB
      if alo <= bhi && blo <= ahi && ala <= bha && bla <= aha
    } yield (ai, bi) -> ((math.max(alo, blo), math.max(ala, bla),
      math.min(ahi, bhi), math.min(aha, bha)))).toMap

  private def viaJoin(gridDeg: Double) = {
    val a = boxesA.toDF("a_id", "a_min_lon", "a_min_lat", "a_max_lon", "a_max_lat")
    val b = boxesB.toDF("b_id", "b_min_lon", "b_min_lat", "b_max_lon", "b_max_lat")
    BboxJoin.overlapJoin(a, b, gridDeg).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
  }

  test("overlapJoin == brute force, each pair exactly once, exact rects") {
    val expect = brute
    assert(expect.size > 50, s"fixture should be dense, got ${expect.size}")
    val got = viaJoin(3.0)
    assert(got.length === got.map(_._1).distinct.length, "pair emitted twice")
    assert(got.toMap === expect)
  }

  test("duplicate avoidance is grid-independent (finer and coarser grids)") {
    val expect = brute
    for (g <- Seq(0.6, 1.7, 11.0)) {
      val got = viaJoin(g)
      assert(got.length === expect.size, s"gridDeg=$g pair count")
      assert(got.toMap === expect, s"gridDeg=$g")
    }
  }

  test("edge-touching boxes match (closed rectangles)") {
    val a = Seq((1L, 0.0, 0.0, 2.0, 2.0)).toDF(
      "a_id", "a_min_lon", "a_min_lat", "a_max_lon", "a_max_lat")
    val b = Seq((9L, 2.0, 1.0, 4.0, 3.0), (8L, 2.5, 0.0, 3.0, 2.0)).toDF(
      "b_id", "b_min_lon", "b_min_lat", "b_max_lon", "b_max_lat")
    val got = BboxJoin.overlapJoin(a, b, 1.0).collect()
      .map(r => (r.getLong(1), (r.getDouble(2), r.getDouble(4)))).toMap
    assert(got.keySet === Set(9L))              // shared edge lon=2 matches
    assert(got(9L) === ((2.0, 2.0)))            // degenerate zero-width overlap
  }

  test("degenerate zero-area boxes behave as points (containment + edge)") {
    val a = Seq(
      (1L, 1.5, 1.5, 1.5, 1.5),   // point strictly inside b=9
      (2L, 4.0, 1.0, 4.0, 1.0),   // point exactly on b=9's max-lon edge
      (3L, 9.0, 9.0, 9.0, 9.0)    // point outside everything
    ).toDF("a_id", "a_min_lon", "a_min_lat", "a_max_lon", "a_max_lat")
    val b = Seq((9L, 0.0, 0.0, 4.0, 3.0)).toDF(
      "b_id", "b_min_lon", "b_min_lat", "b_max_lon", "b_max_lat")
    val got = BboxJoin.overlapJoin(a, b, 2.0).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got === Map(1L -> ((1.5, 1.5)), 2L -> ((4.0, 1.0))))
  }

  test("a box wider than the per-axis fan-out cap fails loudly") {
    val a = Seq((1L, -180.0, 0.0, 180.0, 1.0)).toDF(
      "a_id", "a_min_lon", "a_min_lat", "a_max_lon", "a_max_lat")
    val b = Seq((9L, 0.0, 0.0, 1.0, 1.0)).toDF(
      "b_id", "b_min_lon", "b_min_lat", "b_max_lon", "b_max_lat")
    val e = intercept[Exception](
      BboxJoin.overlapJoin(a, b, 0.05, maxCellsPerBox = 64).collect())
    assert(e.getMessage.contains("BboxJoin"), e.getMessage)
  }

  test("plan: broadcast hash join, probe side free of exchanges") {
    val a = boxesA.toDF("a_id", "a_min_lon", "a_min_lat", "a_max_lon", "a_max_lat")
    val b = boxesB.toDF("b_id", "b_min_lon", "b_min_lat", "b_max_lon", "b_max_lat")
    val plan = BboxJoin.overlapJoin(a, b, 3.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("broadcastB=false: identical pairs, no forced broadcast hint") {
    val a = boxesA.toDF("a_id", "a_min_lon", "a_min_lat", "a_max_lon", "a_max_lat")
    val b = boxesB.toDF("b_id", "b_min_lon", "b_min_lat", "b_max_lon", "b_max_lat")
    val df = BboxJoin.overlapJoin(a, b, 3.0, broadcastB = false)
    // past-the-broadcast-wall path: the planner (not a forced hint) picks
    // the strategy. The optimized plan prints a forced broadcast as
    // `rightHint=(strategy=broadcast)` on the join; the default path shows
    // it, the broadcastB=false path must not
    val forced = BboxJoin.overlapJoin(a, b, 3.0).queryExecution.optimizedPlan.toString
    assert(forced.contains("strategy=broadcast"), forced)
    assert(!df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      df.queryExecution.optimizedPlan.toString)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
    assert(got.toMap === brute)
    assert(got.length === brute.size, "pair emitted twice without the hint")
  }

  // ---- RangeJoin.broadcastLookup (the GeoIP dictionary shape) ----

  test("broadcastLookup: containment, left-outer survival, disjoint ranges") {
    val probes = Seq((1L, 5L), (2L, 100L), (3L, 999L), (4L, 255L))
      .toDF("id", "v")
    val ranges = Seq((0L, 99L, "low"), (100L, 299L, "mid"))
      .toDF("lo", "hi", "tag")
    val out = RangeJoin.broadcastLookup(probes, ranges, "v", "lo", "hi", 64L)
      .select("id", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out === Map(1L -> Some("low"), 2L -> Some("mid"),
      3L -> None, 4L -> Some("mid")))
  }

  test("broadcastLookup: wide interval spans many bands, exact bounds") {
    val probes = Seq((1L, 0L), (2L, 8191L), (3L, 8192L)).toDF("id", "v")
    val ranges = Seq((0L, 8191L, "all")).toDF("lo", "hi", "tag")
    val out = RangeJoin.broadcastLookup(probes, ranges, "v", "lo", "hi", 16L)
      .select("id", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out === Map(1L -> Some("all"), 2L -> Some("all"), 3L -> None))
  }

  test("broadcastLookup: overlapping ranges emit one row per match") {
    val probes = Seq((1L, 50L)).toDF("id", "v")
    val ranges = Seq((0L, 99L, "x"), (40L, 60L, "y")).toDF("lo", "hi", "tag")
    val got = RangeJoin.broadcastLookup(probes, ranges, "v", "lo", "hi", 32L)
      .select("tag").collect().map(_.getString(0)).toSet
    assert(got === Set("x", "y"))
  }

  test("broadcastLookup: map-only probe side (broadcast join, no SMJ)") {
    val probes = Seq((1L, 5L)).toDF("id", "v")
    val ranges = Seq((0L, 99L, "x")).toDF("lo", "hi", "tag")
    val plan = RangeJoin.broadcastLookup(probes, ranges, "v", "lo", "hi", 32L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("broadcastLookup fails loudly past the band fan-out cap") {
    val probes = Seq((1L, 5L)).toDF("id", "v")
    val ranges = Seq((0L, Long.MaxValue / 2, "x")).toDF("lo", "hi", "tag")
    val e = intercept[Exception](
      RangeJoin.broadcastLookup(probes, ranges, "v", "lo", "hi", 16L,
        maxBands = 1024).collect())
    assert(e.getMessage.contains("broadcastLookup"), e.getMessage)
  }
}
