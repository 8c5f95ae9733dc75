package graft.contract

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine._
import graft.fixtures.Synth

/** Inputs, oracle-input writers, SQL fragments and run scaffolds that two or
  * more contract families share. Anything only one family uses lives in that
  * family's file. */
private[graft] object ContractFixtures {

  // ---- shared fixture world (tiny, driver-side) ---------------------------
  def world(spark: SparkSession) = {
    val gaz = Gazetteer.gazetteerDF(spark)
    val idx = Gazetteer.nameIndex(gaz)
    val polys = Gazetteer.polygonsDF(spark)
    val cells = Gazetteer.polygonCellIndex(polys)
    (gaz, idx, polys, cells, Gazetteer.scanner())
  }

  // ---- oracle input materialization ---------------------------------------
  // The flagship pipeline consumes engine-synthesized pages and the fixture
  // world. To oracle it END TO END (not just via operator twins), those
  // inputs are written once as parquet BOTH engines read: Spark runs the real
  // pipeline over them, DuckDB independently re-derives mentions (regex +
  // longest-match name alternation), PIP (even-odd ray cast on the same
  // packed rings), ranking, formatting, and tiling from the same raw bytes.
  val OracleDir = sys.env.getOrElse("GRAFT_ORACLE_DIR", "/tmp/graft_oracle")

  /** Synthesized pages for `dir`'s scale factor, materialized to parquet
    * (content-fingerprinted marker; rewritten when sf or synthesis change). */
  def oraclePages(s: SparkSession, dir: String): DataFrame = synchronized {
    val n = Synth.pagesForSf(dir)
    val fp = java.lang.Long.toHexString(
      graft.text.TextCore.fnv64(Synth.fixtureTexts.mkString(" ") + s"|pages|$n"))
    val path = s"$OracleDir/pages"
    val marker = new java.io.File(s"$path/_GRAFT_READY_$fp")
    if (!marker.exists()) {
      Synth.pages(s, n, 32).toDF().write.mode("overwrite").parquet(path)
      marker.createNewFile()
    }
    s.read.parquet(path)
  }

  /** Fixture gazetteer name index + polygons as parquet for the oracle side
    * (static; written once). The engine reads the same rows from memory —
    * parquet round-trips doubles exactly, so both sides see identical bits. */
  def oracleWorldTables(s: SparkSession): Unit = synchronized {
    val marker = new java.io.File(s"$OracleDir/_GRAFT_WORLD_READY_v3")
    if (!marker.exists()) {
      new java.io.File(OracleDir).mkdirs()
      Gazetteer.nameIndex(Gazetteer.gazetteerDF(s))
        .select("gaz_key", "place_id", "name", "lon", "lat", "weight", "importance",
          "feature_class", "country_code", "admin1", "admin2", "city", "suburb",
          "road", "house_number", "postcode", "place_rank")
        .coalesce(1).write.mode("overwrite").parquet(s"$OracleDir/gaz")
      Gazetteer.gazetteerDF(s)
        .select("place_id", "name", "feature_class", "road", "house_number",
          "postcode", "city", "lon", "lat")
        .coalesce(1).write.mode("overwrite").parquet(s"$OracleDir/places")
      Gazetteer.polygonsDF(s)
        .select("polygon_id", "name", "admin_level", "ring_offsets", "ring_lons",
          "ring_lats", "fmt_house", "fmt_road", "fmt_city", "fmt_postcode", "fmt_country")
        .coalesce(1).write.mode("overwrite").parquet(s"$OracleDir/polys")
      marker.createNewFile()
    }
  }

  /** Provider-shaped JSON response bodies (ProviderFixtures) materialized as
    * (provider, resp_id, body) parquet both engines read — the D4 typed-
    * decode contract input. */
  def providerJsonTable(s: SparkSession): DataFrame = synchronized {
    import s.implicits._
    val path = s"$OracleDir/provider_json"
    val marker = new java.io.File(s"$path/_GRAFT_READY_v1")
    if (!marker.exists()) {
      graft.sources.ProviderFixtures.rows.toDF("provider", "resp_id", "body")
        .coalesce(1).write.mode("overwrite").parquet(path)
      marker.createNewFile()
    }
    s.read.parquet(path)
  }

  /** `dir`'s `table` (`events` or `documents`) copied under OracleDir as a
    * DIRECTORY (the streaming file source wants a dir, the testdata table is
    * a bare file); returns the path `$OracleDir/${table}_stream_<hash of dir>`.
    * Path scoped by the source-dir hash (ADVICE r4): each sf dir gets its
    * own IMMUTABLE copy, so two drivers sharing OracleDir never interleave
    * a rewrite with the other's ready marker. Publication is write-to-temp
    * + atomic rename, so a concurrent process either sees the complete copy
    * or writes its own and loses the rename race harmlessly. */
  def oracleStreamDir(s: SparkSession, dir: String, table: String): String = synchronized {
    val fp = java.lang.Long.toHexString(graft.text.TextCore.fnv64(dir))
    val path = s"$OracleDir/${table}_stream_$fp"
    val pathF = new java.io.File(path)
    if (!new java.io.File(pathF, "_GRAFT_READY").exists()) {
      val tmp = s"${path}_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
      s.read.parquet(s"$dir/$table.parquet")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp, "_GRAFT_READY").createNewFile()
      if (!new java.io.File(tmp).renameTo(pathF)) deletePaths(s, tmp)
    }
    path
  }

  /** Recursively deletes each path (a missing path is a no-op). */
  def deletePaths(s: SparkSession, paths: String*): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    paths.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
  }

  // ---- run scaffolds -------------------------------------------------------

  /** Runs the streaming query `out` to completion and reads back its result:
    * the sink `$OracleDir/${name}_sink` and checkpoint `..._ckpt` are deleted
    * first, the query writes parquet with `Trigger.AvailableNow`, and the
    * sink is read with `out.schema` — explicit schema: a run in which no
    * window finalizes leaves a sink with only _spark_metadata, and schema
    * inference would throw where the correct answer is an empty result
    * (matching the oracle's 0 rows). A stateful query passes its source
    * paths as `stateSizedBy`: state partitions are then derived from source
    * size, not the session constant (guide §2 scale-adaptive partitioning;
    * see streaming.Adaptive). */
  def drainStream(s: SparkSession, out: DataFrame, name: String,
                  stateSizedBy: Option[String] = None): DataFrame = {
    val sink = s"$OracleDir/${name}_sink"
    val ckpt = s"$OracleDir/${name}_ckpt"
    deletePaths(s, sink, ckpt)
    def run(): Unit = {
      val q = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    stateSizedBy match {
      case Some(src) => graft.streaming.Adaptive.withStatePartitions(s,
        graft.streaming.Adaptive.statePartitions(s, src))(run())
      case None => run()
    }
    s.read.schema(out.schema).parquet(sink)
  }

  /** Checkpoint-resume proof: with the checkpoint `$OracleDir/$ckName`
    * deleted first, runs `run(ck, coldRounds)` to completion (cold: every
    * block computes), then returns `run(ck, rounds)` cross-joined with the
    * number of stages that rerun served from the checkpoint, as
    * `resumed_stages`. */
  def coldThenResume(s: SparkSession, ckName: String, coldRounds: Int, rounds: Int)
                    (run: (String, Int) => DataFrame): DataFrame = {
    val ck = s"$OracleDir/$ckName"
    deletePaths(s, ck)
    run(ck, coldRounds).count()
    val out = run(ck, rounds)
    val resumed = Checkpoint.metrics(s, ck)
      .filter(col("resumed") === true)
      .agg(countDistinct("stage").as("resumed_stages"))
    out.crossJoin(broadcast(resumed))
  }

  /** Scale-out for a single-small-file scan feeding compute-heavy map work
    * (opt guide §2): keyed N-way repartition at the session's shuffle
    * parallelism — without it the whole downstream token/regex fan-out runs
    * inside the one scan task the small file produces. The shuffle moves
    * only the small table once; at crawl scale the same expression is a
    * no-op-sized rebalance. Repartitioning on exactly a later aggregation's
    * group keys also keeps that aggregation parallel (its exchange is
    * reused) where AQE would coalesce mostly-distinct keys into one reducer. */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, keys: _*)

  // ---- shared inputs and SQL fragments ------------------------------------

  def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")

  /** A deterministic "next crawl" snapshot over the base corpus: exact
    * re-crawls (doc_id%3==0, identical bytes), near-duplicate re-crawls
    * (doc_id%5==0 among the rest, an appended tail), and genuinely new
    * pages (doc_id%7==1, synthetic fresh bodies). */
  def newSnapshot(s: SparkSession, dir: String) = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      .unionByName(base.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          concat(col("text"), lit(" fresh crawl tail")).as("text")))
      .unionByName(base.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lit("entirely new page body number "), col("doc_id").cast("string"),
            lit(" with unrelated words qwx zvy")).as("text")))
  }

  /** Count-Min sketch dimensions for the heavy-hitter contract row: 4 rows
    * of 512 cells — small enough for DuckDB to rebuild every cell, wide
    * enough that top-gram estimates stay near-exact. */
  val CmDepth = 4
  val CmWidth = 512

  /** DuckDB sha60: first 60 bits of sha256(x) as a BIGINT via a base-16 hex
    * fold — bit-identical to Spark's conv(substring(sha2(x,256),1,15),16,10)
    * (the validated portable-hash family used by every sketch oracle). */
  def sha60Sql(x: String): String =
    s"list_reduce(list_transform(range(15), j -> CAST(strpos('0123456789abcdef', " +
    s"substr(sha256($x), j+1, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
}
