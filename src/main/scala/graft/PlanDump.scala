package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.xxhash64

import graft.engine.{Gazetteer, Pipeline}
import graft.fixtures.Synth

/** Writes PLANS.md: `explain(formatted)` of the flagship pipeline on both
  * index layouts and of the other scale-critical operators — committed so
  * plan-shape regressions are reviewable in diffs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val gaz = Gazetteer.gazetteerDF(spark)
    val idx = Gazetteer.nameIndex(gaz)
    val polys = Gazetteer.polygonsDF(spark)
    val cells = Gazetteer.polygonCellIndex(polys)
    val pages = Synth.pages(spark, 1000, 4).toDF()

    val pipeline = Pipeline.geocodePrepared(spark, pages,
      Pipeline.prepare(idx, polys, cells), Gazetteer.scanner())
    val tiles = Pipeline.tiles(pipeline)

    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

    val md = new StringBuilder
    md.append("# PLANS — physical plans of the flagship jobs\n\n")
    md.append("Generated by `sbt \"runMain graft.PlanDump\"`. Properties asserted in\n")
    md.append("`PlanShapeSpec`; this file is the human-readable dump.\n\n")
    md.append("## Fused geocode pipeline (pages -> hits)\n\n")
    md.append("Note: zero exchanges and no join on the pages side — the forward and\n")
    md.append("reverse lookups are broadcast once by `Pipeline.prepare` and probed by\n")
    md.append("the two UDFs of the extraction stage; no Sort, no Window, no Aggregate\n")
    md.append("below the scan.\n\n```\n")
    md.append(fmt(pipeline)).append("\n```\n\n")
    md.append("## Per-tile rollup (the job's only exchange)\n\n```\n")
    md.append(fmt(tiles)).append("\n```\n\n")

    // world-scale flagship: bucketed tables -> zero-exchange SMJ reverse join
    val wh = Files.createTempDirectory("graft-plandump").toString
    val worldPolys = Gazetteer.polygonsDF(spark, graft.fixtures.World.polygons(filler = 60))
    val worldCells = Gazetteer.polygonCellIndex(worldPolys)
    val (mentionsTable, packedTable) = Pipeline.worldScaleLayout(spark, pages,
      worldPolys, worldCells, Gazetteer.scanner(), wh, buckets = 4)
    val world = Pipeline.geocodeWorldScaleRead(spark, mentionsTable, packedTable, idx,
      worldPolys, worldCells)
    md.append("## World-scale fused pipeline (bucketed SMJ reverse join)\n\n")
    md.append("Both sides cell-bucketed tables (the layout IS the shuffle, paid at\n")
    md.append("write time): the SortMergeJoin on `cell` has NO Exchange on either\n")
    md.append("side; the forward side stays a broadcast hash join. This is the\n")
    md.append("flagship shape when admin polygons outgrow the broadcast budget —\n")
    md.append("measured: at 5,000 multi-ring polygons the broadcast packed index\n")
    md.append("fails to build in a 16g driver while this path runs at ~46k pages/s\n")
    md.append("on 32 cores (500k pages, bucketed writes included in the timing).\n\n```\n")
    md.append(fmt(world)).append("\n```\n\n")

    // skew-aware join: the hot-key histogram must be a SAMPLE, never a full
    // pre-scan — at 100 TB an exact histogram costs a full scan + shuffle
    // before the join starts
    val big = spark.range(0, 100000)
      .select($"id", ($"id" % 25).as("k"))
    val dim = spark.range(0, 25).select($"id".as("k"), $"id".cast("string").as("v"))
    val skew = graft.engine.Salt.skewAwareJoin(big, dim, "k", salts = 4,
      bigId = $"id", hotThreshold = 10000L)
    md.append("## Skew-aware two-path join (sampled hot-key histogram)\n\n")
    md.append("The hot-key probe reads the big side through a `Sample` node\n")
    md.append("(1% Bernoulli, fixed seed, threshold scaled) — the pre-join\n")
    md.append("aggregation shuffles ~1% of rows, NOT a full-table histogram;\n")
    md.append("exact mode stays available behind sampleFraction <= 0. Join\n")
    md.append("results are identical either way (q10_skew_salted oracle).\n\n```\n")
    md.append(fmt(skew)).append("\n```\n\n")

    // portable sketch plan: persisted signature table -> narrow band rows ->
    // capped bucket self-join -> sigs re-joined BY ID for the estimate
    val sketchDocs = Synth.pages(spark, 200, 4).toDF()
      .select(xxhash64($"url").as("doc_id"), $"text")
    val sketch = graft.dedup.Dedup.portableMinhashLshPairs(sketchDocs)
    md.append("## Portable MinHash LSH (sha256 hash family, oracle-recomputable)\n\n")
    md.append("The signature table is built ONCE (repartition -> explode shingle x\n")
    md.append("perm -> flat codegen'd sha256 projection -> min with map-side\n")
    md.append("combine) and PERSISTED — every downstream read below is an\n")
    md.append("InMemoryTableScan, so the hash work is never projection-collapsed\n")
    md.append("into the band keys or the two join sides (measured 580 s -> ~7 s at\n")
    md.append("sf0.1). Bucket join carries only (doc_id, band_idx, band_key);\n")
    md.append("signatures re-join BY ID for the zip-equality estimate.\n\n```\n")
    md.append(fmt(sketch)).append("\n```\n\n")

    // as-of join: tagged union + ONE window pass — a single Exchange on the
    // key, no range-condition (theta) join anywhere in the plan
    val asofL = spark.range(0, 1000).select($"id".as("k"), ($"id" * 7 % 100).as("ts"),
      $"id".as("payload"))
    val asofR = spark.range(0, 300).select(($"id" % 50).as("k"), ($"id" * 3 % 100).as("ts"),
      ($"id" * 2).as("v"))
      .groupBy("k", "ts").agg(org.apache.spark.sql.functions.max("v").as("v"))
    val asof = graft.engine.AsOf.asofJoin(asofL, asofR, Seq("k"), "ts")
    md.append("## As-of join (tagged union + one window pass)\n\n")
    md.append("The operator contributes ONE Exchange (hashpartitioning on the\n")
    md.append("key) + Sort + Window below the filter; the second Exchange in\n")
    md.append("the dump is this example's right-side pre-aggregation, not the\n")
    md.append("join. Never a range/theta join, which would go quadratic in\n")
    md.append("hot keys at crawl scale.\n\n```\n")
    md.append(fmt(asof)).append("\n```\n\n")

    // bucketed IVF ANN: posting lists persisted list-bucketed; the probed
    // lists arrive as an IN filter so the scan bucket-prunes — the corpus
    // side has no exchange anywhere (AQE off so the concrete plan shows)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val emb = spark.range(0, 400).select($"id".as("vec_id"),
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.sequence(
          org.apache.spark.sql.functions.lit(0), org.apache.spark.sql.functions.lit(15)),
        d => (org.apache.spark.sql.functions.pmod($"id" * 31 + d * 17,
          org.apache.spark.sql.functions.lit(97)) / org.apache.spark.sql.functions.lit(97.0)
          - 0.5).cast("float")).as("embedding"))
    val ivfCents = graft.sim.Similarity.trainIvfCentroids(emb, nlist = 8, iters = 1)
    graft.sim.Similarity.writeIvfBucketed(spark, emb, ivfCents, "graft_ivf_plandump",
      s"$wh/ivf", buckets = 4)
    val ivf = graft.sim.Similarity.ivfKnnBucketed(spark, "graft_ivf_plandump",
      emb.filter($"vec_id" < 5), k = 3, nprobe = 2, ivfCents)
    md.append("## Bucketed IVF ANN (posting lists as a list-bucketed table)\n\n")
    md.append("The scan shows `SelectedBucketsCount` (< total buckets): the\n")
    md.append("driver-resolved probe-list IN filter prunes the posting-list\n")
    md.append("table to the probed lists; queries broadcast; the only shuffle\n")
    md.append("is the final per-query top-k. The write amortizes across query\n")
    md.append("batches exactly like the packed polygon index.\n\n```\n")
    md.append(fmt(ivf)).append("\n```\n\n")

    // PQ-ADC scan: corpus side must be a map-only projection to m-byte
    // codes (no exchange, no sort), queries broadcast with precomputed
    // integer LUTs, and the only shuffle anywhere is the final per-query
    // top-k window — the quantized twin of the brute/IVF scan shape
    val pq = graft.sim.Quantize.pqKnn(emb.filter($"vec_id" < 5), emb,
      k = 3, m = 4, ks = 8)
    md.append("## PQ-ADC quantized ANN (codes scan + broadcast LUT gather)\n\n")
    md.append("corpus: scan -> int8PackScaled -> pqEncode (all codegen\n")
    md.append("StaticInvoke, map-only) -> BroadcastNestedLoopJoin against the\n")
    md.append("tiny LUT-carrying query side -> pqAdc gather -> per-query top-k\n")
    md.append("(the single exchange). At 10^12 vectors the codes column is\n")
    md.append("persisted once (1/64th the float32 bytes at dim=64, m=4) and\n")
    md.append("this plan's scan reads codes instead of embeddings; composed\n")
    md.append("with IVF routing (ivfPqKnn) the scan also bucket-prunes to the\n")
    md.append("probed posting lists, exactly like the bucketed IVF plan above.\n\n```\n")
    md.append(fmt(pq)).append("\n```\n\n")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // SemDeDup representatives: the per-cluster centroid/cosine math must
    // stay two combinable hash aggregations + one (label, pos) equi-join —
    // no collect_list (per-group state proportional to cluster size would
    // OOM on a crawl-scale cluster), no window over members
    val semEmb = spark.range(0, 200).select($"id".as("vec_id"),
      ($"id" % 5).cast("int").as("label"),
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.sequence(
          org.apache.spark.sql.functions.lit(0), org.apache.spark.sql.functions.lit(15)),
        d => (org.apache.spark.sql.functions.pmod($"id" * 13 + d * 7,
          org.apache.spark.sql.functions.lit(89)) / org.apache.spark.sql.functions.lit(89.0)
          - 0.5).cast("float")).as("embedding"))
    val sem = graft.sim.SemDedup.representatives(semEmb, $"vec_id", $"label",
      $"embedding")
    md.append("## SemDeDup representatives (scaled-integer centroid path)\n\n")
    md.append("posexplode fan-out -> HashAggregate (label, pos) centroid ->\n")
    md.append("equi-join -> HashAggregate (label, id) dots/norms -> final\n")
    md.append("per-label rollup via min(struct). All sums are exact longs with\n")
    md.append("map-side partials; no collect_list, no per-member window — the\n")
    md.append("only float op is the last projection's cosine chain.\n\n```\n")
    md.append(fmt(sem)).append("\n```\n")

    // Within-distance spatial join: the points side must be MAP-ONLY —
    // explode the auto-level k-ring cover, probe the broadcast places
    // index, exact-haversine filter; the only exchange anywhere is the
    // places broadcast itself
    val djPts = spark.range(0, 100).select($"id".as("query_id"),
      ($"id" / 100.0 + 2.0).as("lon"), ($"id" / 200.0 + 41.0).as("lat"))
    val djPlc = spark.range(0, 1000).select($"id".as("place_id"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("P"), $"id").as("name"),
      ($"id" % 97 / 97.0 + 2.0).as("lon"), ($"id" % 89 / 89.0 + 41.0).as("lat"))
    val dj = graft.engine.DistanceJoin.withinRadius(djPts, djPlc, 2000.0)
    md.append("## Within-distance spatial join (k-ring cover + broadcast probe)\n\n")
    md.append("points: scan -> cell encode -> k-ring explode -> BroadcastHashJoin\n")
    md.append("on the cover cell -> haversine filter. Zero exchanges on the\n")
    md.append("points side; coverage guarantee (r * minEdge >= radius) makes the\n")
    md.append("cover a superset, so the result is exact, never approximate.\n\n```\n")
    md.append(fmt(dj)).append("\n```\n")

    // past the broadcast wall: both sides bucketed on the cover cell ->
    // zero-exchange SMJ (the layout IS the shuffle, paid once at write time)
    val djDir = java.nio.file.Files.createTempDirectory("graft-dj-plandump").toString
    graft.engine.DistanceJoin.writeBucketed(spark, djPts, djPlc, 2000.0,
      "graft_dj_pts_plandump", "graft_dj_plc_plandump", djDir, buckets = 8)
    val djB = graft.engine.DistanceJoin.withinRadiusBucketed(spark,
      "graft_dj_pts_plandump", "graft_dj_plc_plandump", 2000.0)
    djB.count()
    md.append("## Within-distance join, bucketed layout (zero-exchange SMJ)\n\n")
    md.append("Both sides bucketed on the cover cell at write time; the join\n")
    md.append("key never exchanges at query time — the same world-scale shape\n")
    md.append("as the bucketed reverse path.\n\n```\n")
    md.append(fmt(djB)).append("\n```\n")
    // Z-order locality layout: the bbox scan's z-range disjunction reaches
    // the parquet scan as PushedFilters over a file set sorted by z, so
    // row-group min/max stats prune everything outside the ranges
    val zoDir = java.nio.file.Files.createTempDirectory("graft-zo-plandump").toString
    val zoPts = spark.range(0, 20000).select(
      (($"id" * 131) % 360000 / 1000.0 - 180.0).as("lon"),
      (($"id" * 137) % 160000 / 1000.0 - 80.0).as("lat"))
    graft.engine.ZOrder.layout(
        graft.engine.ZOrder.withZ(zoPts, $"lon", $"lat", 10), 8)
      .write.mode("overwrite").parquet(zoDir)
    val zScan = graft.engine.ZOrder.scanBbox(spark.read.parquet(zoDir),
      101, 203, 517, 411, zoom = 10, maxRanges = 8)
    md.append("## Z-order bbox scan (Morton layout + pushed z-range disjunction)\n\n")
    md.append("The layout is range-partitioned + sorted by the Morton code, so\n")
    md.append("each file covers a contiguous z-interval; the scan's BETWEEN\n")
    md.append("disjunction shows up in PushedFilters and prunes on row-group\n")
    md.append("min/max stats. The exact tile-bbox refilter sits above — ranges\n")
    md.append("prune, predicates decide.\n\n```\n")
    md.append(fmt(zScan)).append("\n```\n")

    // Grid-DBSCAN hotspots: per-point work is ONE map-side-combinable
    // aggregation; adjacency + CC run on the aggregated dense-tile table
    // the synthetic lattice piles points onto chained tiles — give the CC
    // fixpoint a generous round bound (rounds are O(1)-plan after the
    // Dedup.connectedComponents plan cut, so extra rounds are cheap)
    val hs = graft.engine.Hotspots.cluster(
      zoPts.select($"lon", $"lat"), zoom = 6, minPts = 12, maxIter = 512)
    md.append("## Grid-DBSCAN hotspots (dense tiles + min-label components)\n\n")
    md.append("The raw points are scanned exactly once (tile snap + combinable\n")
    md.append("count); everything after — dense filter, 8-neighbor explode,\n")
    md.append("semi-join, min-label CC — runs on the aggregated grid, bounded\n")
    md.append("by the populated world, not the corpus. The CC labels enter as\n")
    md.append("an InMemoryTableScan (persisted fixpoint output).\n\n```\n")
    md.append(fmt(hs)).append("\n```\n")

    spark.sql("DROP TABLE IF EXISTS graft_dj_pts_plandump")
    spark.sql("DROP TABLE IF EXISTS graft_dj_plc_plandump")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_plandump")
    spark.sql("DROP TABLE IF EXISTS graft_mentions_bucketed_run")
    spark.sql("DROP TABLE IF EXISTS graft_polycells_bucketed_run")
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    spark.stop()
    println("wrote PLANS.md")
  }
}
