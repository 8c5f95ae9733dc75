package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Checkpoint, Gazetteer, Pipeline, Salt}
import graft.fixtures.{Synth, World}

/** Scale-path hygiene: sampled hot-key histogram, stale-resume fingerprint
  * guard, world-scale packed-table reuse and runId check, density-derived
  * kNN start ring. */
class ScaleFixesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hotKeys (sampled) finds the planted hot key without a full-table agg") {
    // 40k rows: key 0 holds half of them; tail keys hold ~830 each
    val big = spark.range(0, 40000)
      .select(when($"id" % 2 === 0, 0L).otherwise($"id" % 25).as("k"))
    val hot = Salt.hotKeys(big, "k", threshold = 5000L, sampleFraction = 0.01)
      .collect().map(_.getLong(0)).toSet
    assert(hot === Set(0L))
    // exact mode agrees
    val exact = Salt.hotKeys(big, "k", threshold = 5000L, sampleFraction = 0.0)
      .collect().map(_.getLong(0)).toSet
    assert(exact === Set(0L))
  }

  test("skewAwareJoin with sampled histogram equals the plain join") {
    val big = spark.range(0, 5000)
      .select($"id", when($"id" % 4 < 2, 0L).otherwise($"id" % 10).as("k"))
    val dim = spark.range(0, 10).select($"id".as("k"), concat(lit("d"), $"id").as("v"))
    val salted = Salt.skewAwareJoin(big, dim, "k", salts = 4,
        bigId = $"id", hotThreshold = 500L, sampleFraction = 0.02)
      .select("id", "k", "v").collect().map(_.toString).sorted.toSeq
    val plain = big.join(dim, Seq("k")).select("id", "k", "v")
      .collect().map(_.toString).sorted.toSeq
    assert(salted === plain)
  }

  test("Checkpoint.stage recomputes when the stored fingerprint file is MISSING") {
    val dir = Files.createTempDirectory("graft-ckpt-fp").toString
    def build = spark.range(0, 100).select($"id", ($"id" * 2).as("v"))
    Checkpoint.stage(spark, dir, "s1", "r1", "fp-a")(build).count()
    // simulate a pre-fingerprint checkpoint (or a failed fingerprint write):
    // parquet + _SUCCESS present, _GRAFT_FINGERPRINT absent
    val fpFile = new java.io.File(s"$dir/s1/_GRAFT_FINGERPRINT")
    assert(fpFile.exists())
    fpFile.delete()
    Checkpoint.stage(spark, dir, "s1", "r2", "fp-a")(build).count()
    val lineage = Checkpoint.metrics(spark, dir)
      .select("run_id", "resumed").distinct().collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    // the second run must NOT have resumed (fingerprint unverifiable)
    assert(lineage.contains(("r2", false)), lineage.toString)
    assert(!lineage.contains(("r2", true)), lineage.toString)
    // and a third run with the (re-)stored fingerprint resumes normally
    Checkpoint.stage(spark, dir, "s1", "r3", "fp-a")(build).count()
    val l3 = Checkpoint.metrics(spark, dir).filter($"run_id" === "r3")
      .select("resumed").distinct().collect().map(_.getBoolean(0)).toSet
    assert(l3 === Set(true))
  }

  test("worldScaleLayout reuses an existing packed table (no rewrite)") {
    val wh = Files.createTempDirectory("graft-ws-reuse").toString
    val gazRows = World.gazetteer()
    val polys = Gazetteer.polygonsDF(spark, World.polygons(filler = 12))
    val cells = Gazetteer.polygonCellIndex(polys)
    val scanner = Gazetteer.scanner(gazRows)
    val pages = Synth.pages(spark, 200, 4).toDF()
    val cfg = Pipeline.Config(runId = "reusetest")

    val (m1, p1) = Pipeline.worldScaleLayout(spark, pages, polys, cells,
      scanner, wh, buckets = 4, cfg)
    def packedFiles() = new java.io.File(s"$wh/polycells_bucketed_reusetest")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).sorted.toSeq
    val before = packedFiles()
    assert(before.nonEmpty)
    Thread.sleep(1100) // mtime granularity
    val (m2, p2) = Pipeline.worldScaleLayout(spark, pages, polys, cells,
      scanner, wh, buckets = 4, cfg)
    assert((m2, p2) === (m1, p1))
    // packed table untouched on the second invocation (fingerprint matched)
    assert(packedFiles() === before)
    spark.sql(s"DROP TABLE IF EXISTS $m1")
    spark.sql(s"DROP TABLE IF EXISTS $p1")
  }

  test("worldScaleLayout fails loudly on a runId that cannot name a table") {
    val wh = Files.createTempDirectory("graft-ws-runid").toString
    val gazRows = World.gazetteer()
    val polys = Gazetteer.polygonsDF(spark, World.polygons())
    val cells = Gazetteer.polygonCellIndex(polys)
    val pages = Synth.pages(spark, 20, 2).toDF()
    val e = intercept[IllegalArgumentException](Pipeline.worldScaleLayout(spark, pages,
      polys, cells, Gazetteer.scanner(gazRows), wh, buckets = 4,
      Pipeline.Config(runId = "run-2")))
    assert(e.getMessage.contains("letters, digits and '_'") && e.getMessage.contains("run-2"),
      e.getMessage)
    // nothing was written before the check
    assert(new java.io.File(wh).list().isEmpty)
  }

  test("sampled hotKeys plan reads the big side through a Sample node (no full pre-scan)") {
    val big = spark.range(0, 1000).select($"id", ($"id" % 5).as("k"))
    val sampled = Salt.hotKeys(big, "k", threshold = 100L)
    assert(sampled.queryExecution.executedPlan.toString.contains("Sample"),
      sampled.queryExecution.executedPlan.toString.take(2000))
    val exact = Salt.hotKeys(big, "k", threshold = 100L, sampleFraction = 0.0)
    assert(!exact.queryExecution.executedPlan.toString.contains("Sample"))
  }

  test("worldScaleLayout re-registers an existing packed table across catalogs (no rewrite)") {
    val wh = Files.createTempDirectory("graft-ws-xsession").toString
    val gazRows = World.gazetteer()
    val idx = Gazetteer.nameIndex(Gazetteer.gazetteerDF(spark, gazRows))
    val polys = Gazetteer.polygonsDF(spark, World.polygons(filler = 12))
    val cells = Gazetteer.polygonCellIndex(polys)
    val scanner = Gazetteer.scanner(gazRows)
    val pages = Synth.pages(spark, 200, 4).toDF()
    val cfg = Pipeline.Config(runId = "xsession")

    val (m1, p1) = Pipeline.worldScaleLayout(spark, pages, polys, cells,
      scanner, wh, buckets = 4, cfg)
    val base = Pipeline.geocodeWorldScaleRead(spark, m1, p1, idx, polys, cells)
      .select("url", "surface", "verb", "ref_id").collect().map(_.toString).sorted.toSeq
    def packedFiles() = new java.io.File(s"$wh/polycells_bucketed_xsession")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).sorted.toSeq
    val before = packedFiles()
    // simulate a fresh session: catalog forgets the (external) table,
    // files + fingerprint stay on disk
    spark.sql(s"DROP TABLE $p1")
    Thread.sleep(1100)
    val (m2, p2) = Pipeline.worldScaleLayout(spark, pages, polys, cells,
      scanner, wh, buckets = 4, cfg)
    assert(packedFiles() === before, "packed table must be re-registered, not rewritten")
    val again = Pipeline.geocodeWorldScaleRead(spark, m2, p2, idx, polys, cells)
    val plan = again.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(cell"), plan.take(3000))
    assert(again.select("url", "surface", "verb", "ref_id")
      .collect().map(_.toString).sorted.toSeq === base)
    spark.sql(s"DROP TABLE IF EXISTS $m2")
    spark.sql(s"DROP TABLE IF EXISTS $p2")
  }

  test("knnComplete auto startRing (density-derived) equals explicit startRing") {
    val places = (0 until 40).map { i =>
      graft.model.GazetteerRow(9100L + i, s"Q$i", Seq(s"q$i"), Map.empty,
        2.10 + (i * 37 % 100) / 1000.0, 41.40 + (i * 53 % 100) / 1000.0,
        "gazetteer", "es", null, null, null, null, null, null, null, 20, 0.5, 100)
    }
    val gazDf = Gazetteer.gazetteerDF(spark, places)
    val q = (0 until 10).map(i => (i.toLong, 2.105 + i / 500.0, 41.405 + i / 800.0))
      .toDF("query_id", "lon", "lat")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "knn_rank", "place_id")
        .collect().map(_.toString).sorted.toSeq
    val auto = key(engine.Knn.knnComplete(q, gazDf, k = 3, startRing = 0, maxRingCap = 64))
    val fixed = key(engine.Knn.knnComplete(q, gazDf, k = 3, startRing = 1, maxRingCap = 64))
    assert(auto === fixed)
    assert(auto.size === 30)
  }

  test("bucketed IVF: bucket-pruned scan, zero corpus-side shuffle, equals in-memory IVF") {
    import graft.sim.Similarity
    val n = 400
    val emb = spark.range(0, n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        d => (pmod($"id" * 31 + d * 17, lit(97)) / lit(97.0) - 0.5).cast("float"))
        .as("embedding")).cache()
    val cents = Similarity.trainIvfCentroids(emb, nlist = 8, iters = 2)
    val dir = Files.createTempDirectory("ivf_bucketed").toString
    Similarity.writeIvfBucketed(spark, emb, cents, "graft_ivf_test",
      s"$dir/ivf", buckets = 4)
    val q = emb.filter($"vec_id" < 5)
    // plan-shape assertions need the CONCRETE plan: under AQE the top node
    // is an AdaptiveSparkPlanExec leaf and a collect{ShuffleExchangeExec}
    // over it is vacuously empty — disable AQE for the shape check
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val knn = Similarity.ivfKnnBucketed(spark, "graft_ivf_test", q, k = 3,
        nprobe = 2, cents)
      val plan = knn.queryExecution.executedPlan
      // the probed-list IN filter must bucket-prune the posting-list scan
      val scanStr = plan.toString
      assert(scanStr.contains("SelectedBucketsCount"),
        s"expected bucket pruning in plan:\n$scanStr")
      // corpus side never shuffles: the only allowed exchanges are the
      // queries' broadcast and the final per-query top-k rollup
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.size == 1, s"unexpected corpus shuffle:\n$plan")
      val broadcasts = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e
      }
      assert(broadcasts.size == 1, s"expected broadcast query side:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // and at nprobe = nlist the bucketed path equals the in-memory operator
    val a = Similarity.ivfKnnBucketed(spark, "graft_ivf_test", q, k = 3,
        nprobe = 8, cents)
      .select("query_id", "knn_rank", "item_id").collect().map(_.toString).sorted.toSeq
    val b = Similarity.ivfKnn(q, emb, k = 3, nlist = 8, nprobe = 8, iters = 2)
      .select("query_id", "knn_rank", "item_id").collect().map(_.toString).sorted.toSeq
    assert(a === b)
    spark.sql("DROP TABLE IF EXISTS graft_ivf_test")
    emb.unpersist()
  }
}
