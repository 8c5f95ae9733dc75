package graft

import org.apache.spark.sql.SparkSession

import graft.engine.{Gazetteer, Pipeline}
import graft.fixtures.Synth

/**
 * Single-measurement child for the two-cluster-size scaling evidence: runs
 * the flagship geocode pipeline at local[cpus] over n synthesized pages and
 * prints one line "GRAFT_BENCH_ONE <cpus> <pages> <hits> <bestSec>".
 *
 * Launched by Bench in its own JVM, pinned with `taskset` to exactly `cpus`
 * cores — so the N-core run really has N cores of compute, GC, and its share
 * of memory bandwidth, the honest sandbox proxy for an N-executor cluster
 * (local[8] inside a 32-core JVM would still enjoy 32 cores of GC threads).
 */
object BenchOne {

  def run(cpus: Int, n: Long, reps: Int): (Double, Long) = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-one-$cpus")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE toggle (default on): the flagship batch is a single map stage —
      // the lookups are broadcast once at set-up, so there is no join and no
      // data shuffle — and AQE's per-query-stage re-optimization barriers
      // buy nothing here and add fixed driver latency per rep;
      // GRAFT_BENCH_AQE=0 measures the job the way a production deployment
      // would actually configure this plan shape.
      .config("spark.sql.adaptive.enabled",
        (sys.env.getOrElse("GRAFT_BENCH_AQE", "1") != "0").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // split sizing: the default 128m maxPartitionBytes + 4m open-cost packs
      // the ~300 MB pages table into ~11 input partitions — 1.4 task waves on
      // 8 cores (measured 62% core utilization from stragglers alone). One
      // file per split gives 256 even tasks: 32 waves at n8, 8 at n32.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val benchMode = sys.env.getOrElse("GRAFT_BENCH_MODE", "full")
    // Materialize the pages table once (NOT timed): the north-rule input is
    // an Iceberg-shaped TABLE of pages — the measured job must read a table
    // (with parquet column pruning: html is never read by the pipeline),
    // not pay page synthesis per run. The cache key folds in a fingerprint
    // of the synthesis content so editing Synth invalidates stale tables.
    val synthFp = java.lang.Long.toHexString(
      graft.text.TextCore.fnv64(Synth.fixtureTexts.mkString(" ") + "|v2-256"))
    val pagesDir =
      s"${sys.env.getOrElse("GRAFT_BENCH_TMP", "/tmp")}/graft_bench_pages_${n}_$synthFp"
    try {
      // reuse across sequential child JVMs (same n => identical table);
      // partition count fixed so the table is byte-identical either way
      // 256 input splits: 8 task waves on 32 cores (64 splits = 2 waves made
      // the 32-core level straggler-sensitive — one slow task cost 25% of a
      // wave; at 8 waves stragglers amortize)
      if (!new java.io.File(s"$pagesDir/_SUCCESS").exists()) {
        Synth.pages(spark, n, 256).toDF()
          .write.mode("overwrite").parquet(pagesDir)
      }
      // Realistic broadcast sides: a 50k-name gazetteer and 200 polygons
      // (vs the 50-row fixture world) so the dictionary trie, top-1 index
      // aggregation, and packed cell index carry production-shaped weight.
      // Built ONCE per job, like a production run where the gazetteer
      // broadcast amortizes over the whole crawl; the cached DataFrames are
      // materialized by the warm-up run, so measured reps time the
      // pages-side work the cluster actually repeats.
      val gazRows = graft.fixtures.World.gazetteer(
        filler = sys.env.getOrElse("GRAFT_BENCH_GAZ", "50000").toInt)
      val polyRows = graft.fixtures.World.polygons(
        filler = sys.env.getOrElse("GRAFT_BENCH_POLYS", "200").toInt)
      val idx = Gazetteer.nameIndex(Gazetteer.gazetteerDF(spark, gazRows)).cache()
      val polys = Gazetteer.polygonsDF(spark, polyRows).cache()
      val cells = Gazetteer.polygonCellIndex(polys).cache()
      lazy val scanner = Gazetteer.scanner(gazRows)
      // steady-state crawl shape: the lookups are built and broadcast ONCE
      // (on first use, in the warm-up) and reused across reps — in
      // production they amortize over the whole crawl, so rebuilding the
      // top-1 aggregation + lookups per batch would charge the measured
      // reps a fixed driver-side cost that no real deployment pays
      lazy val prep = Pipeline.prepare(idx, polys, cells)
      val wsDir = s"${sys.env.getOrElse("GRAFT_BENCH_TMP", "/tmp")}/graft_ws_bench_$cpus"
      // worldscale_read: the bucketed layout is built ONCE, untimed (the
      // amortized production shape) — reps time only the read-side job
      lazy val wsTables = Pipeline.worldScaleLayout(spark,
        spark.read.parquet(pagesDir), polys, cells, scanner, wsDir, buckets = cpus)
      def pipeline(pagesDf: org.apache.spark.sql.DataFrame): Long = {
        import org.apache.spark.sql.functions.{col, length, sum}
        benchMode match {
          case "synth" =>
            pagesDf.select(sum(length(col("text")))).collect()(0).getLong(0)
          case "worldscale" =>
            // the bucketed-SMJ reverse path, 5k+ multi-ring polygons via
            // GRAFT_BENCH_POLYS; the timed run INCLUDES the bucketed writes
            // (the worst-case cost when the layout cannot be amortized —
            // reusePacked=false so every rep re-pays BOTH writes)
            val (mentionsTable, packedTable) = Pipeline.worldScaleLayout(spark,
              pagesDf, polys, cells, scanner, wsDir, buckets = cpus, reusePacked = false)
            Pipeline.geocodeWorldScaleRead(spark, mentionsTable, packedTable,
              idx, polys, cells).count()
          case "worldscale_read" =>
            // steady-state half of the same job: bucketed tables pre-built
            // (wsTables, untimed), reps pay only extraction-free read + SMJ
            Pipeline.geocodeWorldScaleRead(spark, wsTables._1, wsTables._2,
              idx, polys, cells).count()
          case _ =>
            Pipeline.geocodePrepared(spark, pagesDf, prep, scanner).count()
        }
      }
      def table() = spark.read.parquet(pagesDir)
      if (benchMode == "worldscale_read") { wsTables; pipeline(table()) } // layout + warm-up
      else pipeline(table().limit(math.min(n / 4, 100000L).toInt)) // JIT warm-up
      var best = Double.MaxValue
      var hits = 0L
      var r = 0
      while (r < reps) {
        val t0 = System.nanoTime()
        hits = pipeline(table())
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"GRAFT_BENCH_REP $cpus $r $sec%.2f")
        best = math.min(best, sec)
        r += 1
      }
      // piggy-backed register-only CPU probe (same JVM, same pinned cores,
      // same ambient window as the pipeline reps just measured): one line
      // "GRAFT_BENCH_PROBE <cpus> <opsPerSec>", saving a separate child JVM
      // per probe point (~25 s of startup each)
      if (sys.env.contains("GRAFT_BENCH_PROBE") && benchMode == "full") {
        import spark.implicits._
        val probeN = 4000000L
        def probe(): Double = {
          val t0 = System.nanoTime()
          spark.range(0, probeN, 1, cpus * 4).map { i =>
            var h = i; var k = 0
            while (k < 4096) { h = graft.text.TextCore.mix(h); k += 1 }
            h
          }.filter(_ == 42L).count()
          probeN / ((System.nanoTime() - t0) / 1e9)
        }
        probe() // JIT warm-up
        val bestProbe = math.max(probe(), probe())
        println(f"GRAFT_BENCH_PROBE $cpus $bestProbe%.1f")
      }
      (best, hits)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val n = args(1).toLong
    val reps = if (args.length > 2) args(2).toInt else 3
    val (best, hits) = run(cpus, n, reps)
    println(s"GRAFT_BENCH_ONE $cpus $n $hits $best")
  }
}
