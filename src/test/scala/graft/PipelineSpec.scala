package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.etl.Extract
import graft.fixtures.{Synth, World}
import graft.geo.Geo

/** End-to-end page pipeline + extraction + checkpoint/resume. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val gaz = Gazetteer.gazetteerDF(spark).cache()
  lazy val idx = Gazetteer.nameIndex(gaz).cache()
  lazy val polys = Gazetteer.polygonsDF(spark).cache()
  lazy val polyCells = Gazetteer.polygonCellIndex(polys).cache()
  lazy val scanner = Gazetteer.scanner()

  test("extraction: coordinate literals parse as (lon, lat), names match dict") {
    val m = Extract.extractAll(
      "The flat sits at 41.40139, 2.12870 uphill; meet in Schwabing, München.", scanner)
    val coord = m.find(_.kind == "coord").get
    assert(coord.lon === 2.12870 && coord.lat === 41.40139)
    assert(m.exists(x => x.kind == "name" && x.norm == "schwabing munchen"))
  }

  test("extraction rejects out-of-range pseudo-coordinates") {
    assert(Extract.extractCoords("version 99.12345, 200.54321 released").isEmpty)
  }

  test("extraction is byte-identity: sha256 carried, text untouched") {
    val pages = Synth.pages(spark, 50, 4).toDF()
    val m = Extract.mentions(spark, pages, scanner)
    val joined = m.select("url", "text_sha256").distinct()
      .join(pages.select($"url", $"text"), "url")
    joined.collect().foreach { r =>
      assert(r.getAs[String]("text_sha256") === Geo.sha256Hex(r.getAs[String]("text")))
    }
  }

  test("synthesized pages are deterministic across parallelism levels") {
    val a = Synth.pages(spark, 200, 2).orderBy($"url").collect()
    val b = Synth.pages(spark, 200, 16).orderBy($"url").collect()
    assert(a.map(_.text).toSeq === b.map(_.text).toSeq)
  }

  test("end-to-end geocode: fixture pages resolve forward and reverse") {
    val pages = Synth.pages(spark, 1000, 8).toDF()
    val prep = Pipeline.prepare(idx, polys, polyCells)
    val hits = Pipeline.geocodePrepared(spark, pages, prep, scanner).cache()

    // fixture row 0 mentions Schwabing -> forward hit at the golden point
    val schwabing = hits.filter($"url" === "https://example.org/p/0").collect()
    assert(schwabing.nonEmpty)
    assert(schwabing.head.getAs[Double]("lon") === 11.5884858)
    assert(schwabing.head.getAs[Double]("lat") === 48.1700887)
    assert(schwabing.head.getAs[String]("verb") === "forward")

    // fixture row 2 carries "41.40139, 2.12870" -> reverse hit on Calatrava 64
    val calatrava = hits.filter($"url" === "https://example.org/p/2").collect()
    assert(calatrava.nonEmpty)
    assert(calatrava.head.getAs[String]("verb") === "reverse")
    assert(calatrava.head.getAs[String]("formatted") ===
      "Carrer de Calatrava, 64, 08017 Barcelona, Spain")

    // every hit carries a tile assignment + sha
    assert(hits.filter($"tile_x".isNull || $"text_sha256".isNull).count() === 0)

    // volume sanity: a healthy fraction of pages geocode
    assert(hits.select("url").distinct().count() > 200)
    hits.unpersist()
    prep.release()
  }

  test("checkpointed run resumes idempotently with lineage") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val pages = Synth.pages(spark, 300, 4).toDF()
    val prep = Pipeline.prepare(idx, polys, polyCells)
    def run(runId: String) = Pipeline.geocodePrepared(spark, pages, prep, scanner,
      Pipeline.Config(ckptDir = Some(dir), runId = runId))

    val first = run("r1").orderBy("url", "surface", "verb").collect()
    val second = run("r2").orderBy("url", "surface", "verb").collect()
    assert(first.toSeq === second.toSeq)

    val lin = Checkpoint.metrics(spark, dir)
    val stages = lin.select("stage").distinct().as[String].collect().toSet
    assert(stages === Set("mentions", "hits"))
    // second run resumed every stage
    assert(lin.filter($"run_id" === "r2" && !$"resumed").count() === 0)
    assert(lin.filter($"run_id" === "r1" && $"resumed").count() === 0)
    // per-partition rows recorded
    assert(lin.agg(sum("rows")).as[Long].collect()(0) > 0)
    prep.release()
  }

  test("salted join produces identical results to plain join") {
    val big = Synth.pages(spark, 200, 4).toDF()
      .select($"url", substring($"lang", 0, 2).as("key"))
    val small = Seq(("de", 1), ("es", 2), ("en", 3), ("fr", 4), ("it", 5))
      .toDF("key", "v")
    val plain = big.join(small, "key").select("url", "v")
      .orderBy("url").collect()
    val salted = Salt.saltedJoin(big, small, "key", 8, col("url"))
      .select("url", "v").orderBy("url").collect()
    assert(plain.toSeq === salted.toSeq)
    val skewAware = Salt.skewAwareJoin(big, small, "key", 8, col("url"), hotThreshold = 10)
      .select("url", "v").orderBy("url").collect()
    assert(plain.toSeq === skewAware.toSeq)
  }
}
