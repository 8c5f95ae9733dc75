package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.etl.Extract
import graft.fixtures.Synth
import graft.model.ForwardParams

/**
 * Physical-plan shape assertions: the properties that make the engine hold at
 * 100 TB are visible in `.explain` output — broadcast joins on the small
 * sides (the big side never shuffles), parquet filter/column pushdown, no
 * sort-window in the top-1 paths, codegen coverage of the scalar math.
 */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  lazy val gaz = Gazetteer.gazetteerDF(spark)
  lazy val idx = Gazetteer.nameIndex(gaz)
  lazy val polys = Gazetteer.polygonsDF(spark)
  lazy val cells = Gazetteer.polygonCellIndex(polys)

  test("forward join broadcasts the name index; pages side never shuffles before join") {
    val p = plan(Forward.geocodeMentions(Extract.mentions(spark,
      Synth.pages(spark, 100, 2).toDF(), Gazetteer.scanner()), idx, ForwardParams(limit = Some(1))))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "big side must not sort-merge")
  }

  test("top-1 path is a hash aggregate (max_by), not a sort window") {
    val p = plan(Forward.geocodeMentions(Extract.mentions(spark,
      Synth.pages(spark, 100, 2).toDF(), Gazetteer.scanner()), idx, ForwardParams(limit = Some(1))))
    assert(!p.contains("Window"), s"limit=1 must not use a window:\n$p")
    assert(p.contains("max_by") || p.contains("HashAggregate"), p)
  }

  test("reverse PIP join broadcasts the cell index and polygon metadata") {
    val pts = Seq((1L, 2.1287, 41.40139)).toDF("query_id", "lon", "lat")
    val p = plan(Reverse.reverse(pts, polys, cells))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Window"), "single-result reverse must not use a window")
  }

  test("parquet scan: filter pushdown + column pruning reach the reader") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter($"l_quantity" > 45)
      .select($"l_orderkey", $"l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("scalar geo expressions run inside WholeStageCodegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(graft.functions.GeoFunctions.cellId(
        $"l_discount" * 100, $"l_tax" * 100, lit(13)).as("c"),
        graft.functions.GeoFunctions.tileX($"l_discount" * 100, lit(12)).as("tx"))
    val p = plan(df)
    // "*(1)" prefix marks operators fused into WholeStageCodegen stage 1;
    // static_invoke expressions must sit inside it, not in a fallback Project
    assert(p.contains("*(1) Project") && p.contains("static_invoke"), p)
  }

  test("viewbox filter prunes the broadcast side before the join") {
    val q = Seq((1L, "barcelona")).toDF("query_id", "query")
    val bounded = Forward.forward(q, idx, ForwardParams(
      viewbox = Some(graft.model.Bounds(2.0, 41.0, 3.0, 42.0))))
    // the lon/lat range predicate must survive as a Filter on the gazetteer
    // relation side of the optimized plan
    val filters = bounded.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.sql
    }.mkString(";")
    assert(filters.contains("lon") && filters.contains("41.0"),
      s"bbox filter missing from optimized plan filters: $filters")
  }
}
