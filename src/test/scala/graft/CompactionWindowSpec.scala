package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, Multimodal, Similarity}
import graft.functions.Multimodal.PhashKind

/** A crash between a compaction's two renames leaves the live table
  * renamed to `<table>.__compact_old` beside the complete stage in
  * `<table>.__compact_tmp`. An append, a probe and a compaction in that
  * window must neither lose the corpus nor read part of it: for each
  * index kind the window is staged by hand, then the batch is appended,
  * probed against a one-shot build over the union, and compacted. */
class CompactionWindowSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** The compaction's crash window on `table`: live dir renamed away,
    * its compacted stage (here a plain copy) complete beside it. */
  private def stageWindow(table: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new Path(table)
    val fs = live.getFileSystem(conf)
    val old = new Path(table + ".__compact_old")
    assert(fs.rename(live, old))
    assert(FileUtil.copy(fs, old, fs, new Path(table + ".__compact_tmp"),
      false, conf))
  }

  private def corpus(n: Int): DataFrame =
    (0 until n).map { i =>
      val c = i % 5
      val v = Array.tabulate(16) { j =>
        val base = if (j % 5 == c) 3.0 else 0.2
        (base + 0.01 * (((i * 37 + j * 11) % 89) - 44)).toFloat
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")

  test("IVF: an append in the compaction window keeps every row") {
    val all = corpus(120)
    val probes = all.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      .localCheckpoint()
    def probe(p: String) = Similarity.ivfKnnJoinIndexed(spark, p, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2).collect().toSet
    val ref = Files.createTempDirectory("graft-cw-ivf-r").toString
    Similarity.buildIvfIndex(all, "vec_id", "embedding", "label", ref,
      dims = 16)
    val idx = Files.createTempDirectory("graft-cw-ivf").toString
    Similarity.buildIvfIndex(all.filter(col("vec_id") < 100), "vec_id",
      "embedding", "label", idx, dims = 16)
    stageWindow(s"$idx/lists")
    assert(Similarity.appendToIvfIndex(spark, idx,
      all.filter(col("vec_id") >= 100), "vec_id", "embedding", "label",
      dims = 16))
    val want = probe(ref)
    assert(want.nonEmpty && probe(idx) == want)
    assert(Similarity.compactIvfIndex(spark, idx) == 120L)
    assert(probe(idx) == want)
    assert(!new java.io.File(s"$idx/lists.__compact_old").exists())
  }

  test("phash: an append in the compaction window keeps every block") {
    def media(from: Long, until: Long) =
      Multimodal.phashFixtureMedia(spark, (from until until).toDF("doc_id"),
        groups = 25)
    val probes = Multimodal.phashFixtureMedia(spark,
      (0L until 90L).map(_ + 10000L).toDF("doc_id"), groups = 25)
    def pairs(p: String) =
      Multimodal.phashDedupAgainst(spark, PhashKind.Image, p, probes)
        .collect().toSet
    val ref = Files.createTempDirectory("graft-cw-ph-r").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Image, media(0L, 90L), ref)
    val idx = Files.createTempDirectory("graft-cw-ph").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Image, media(0L, 60L), idx)
    stageWindow(idx)
    Multimodal.appendToPhashIndex(spark, PhashKind.Image, media(60L, 90L),
      idx)
    val want = pairs(ref)
    assert(want.nonEmpty && pairs(idx) == want)
    assert(Multimodal.compactPhashIndex(spark, idx) ==
      spark.read.parquet(ref).count())
    assert(pairs(idx) == want)
  }

  test("dedup: an append in the compaction window keeps every doc") {
    val docs = (1 to 40).map { i =>
      (i.toLong, s"document $i talks about topic ${i % 6} with words " +
        s"alpha beta gamma ${i % 6} delta epsilon ${(i % 6) * 7}")
    }.toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      .localCheckpoint()
    def verdicts(p: String) = Dedup.dedupAgainstIndexed(spark, p, batch,
      "doc_id", "text", 0.8).collect().toSet
    val ref = Files.createTempDirectory("graft-cw-dd-r").toString
    Dedup.buildDedupIndex(docs, "doc_id", "text", ref)
    val idx = Files.createTempDirectory("graft-cw-dd").toString
    Dedup.buildDedupIndex(docs.filter(col("doc_id") <= 20), "doc_id",
      "text", idx)
    stageWindow(s"$idx/sets")
    Dedup.appendToDedupIndex(docs.filter(col("doc_id") > 20), "doc_id",
      "text", idx)
    val want = verdicts(ref)
    assert(want.nonEmpty && verdicts(idx) == want)
    assert(Dedup.compactDedupIndex(spark, idx)("sets") ==
      spark.read.parquet(s"$ref/sets").count())
    assert(verdicts(idx) == want)
  }

  test("a fresh live table beside both crash dirs is refused, not " +
    "cleaned up") {
    val idx = Files.createTempDirectory("graft-cw-loud").toString
    Similarity.buildIvfIndex(corpus(40), "vec_id", "embedding", "label",
      idx, dims = 16)
    stageWindow(s"$idx/lists")
    // a writer that skipped the recovery recreates the live dir
    new java.io.File(s"$idx/lists").mkdirs()
    val e = intercept[IllegalStateException](
      Similarity.compactIvfIndex(spark, idx))
    assert(e.getMessage.contains("lists.__compact_old") &&
      e.getMessage.contains("lists.__compact_tmp"))
    assert(new java.io.File(s"$idx/lists.__compact_old").exists())
  }
}
