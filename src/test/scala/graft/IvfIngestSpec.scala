package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity
import graft.streaming.StreamOps

/** The one streamed IVF lifecycle: `ivfIngestTo` run as a real stream for
  * each variant it reads from its batch and its index — labeled or
  * assigned rows, no PQ sidecar, raw codes or residual codes. In every
  * case a compactEvery boundary and a replayed epoch leave the probes of
  * a one-shot reference unchanged, and the full-rerank PQ probe equals
  * the plain probe. Two regression specs pin that compaction and retrain
  * keep a streamed index's epoch layout, so the next epoch still lands
  * and probes. */
class IvfIngestSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Clustered corpus labeled by its own cells (the k-means shape). */
  private def corpus(n: Int): DataFrame =
    (0 until n).map { i =>
      val c = i % 5
      val v = Array.tabulate(64) { j =>
        val base = if (j % 5 == c) 3.0 else 0.2
        (base + 0.01 * (((i * 37 + j * 11) % 89) - 44)).toFloat
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "cell")

  private val all = corpus(120)
  private val epochs = Seq((60L, 80L), (80L, 100L), (100L, 120L))
  private def slice(lo: Long, hi: Long, labeled: Boolean) = {
    val s = all.filter(col("vec_id") >= lo && col("vec_id") < hi)
    (if (labeled) s else s.drop("cell")).localCheckpoint()
  }
  private val probes = all.filter(col("vec_id") % 6 === 0)
    .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
    .localCheckpoint()

  private def plain(p: String) = Similarity.ivfKnnJoinIndexed(spark, p,
    probes, "vec_id", "embedding", "cell", k = 5, nProbe = 2)
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
  private def pqRows(p: String) = Similarity.ivfPqKnnJoinIndexed(spark, p,
    probes, "vec_id", "embedding", "cell", k = 5, nProbe = 2,
    rerank = 120)
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
  private def listIds(p: String) =
    spark.read.parquet(s"$p/lists").select("vec_id").as[Long].collect()
      .sorted.toSeq

  /** The same rows without the stream: a flat build of the seed, then one
    * batch append per epoch (assigned rows assign against the centers
    * the previous epochs left, as the stream's do). */
  private def reference(labeled: Boolean): String = {
    val p = Files.createTempDirectory("graft-ivfi-ref").toString + "/idx"
    Similarity.buildIvfIndex(all.filter(col("vec_id") < 60), "vec_id",
      "embedding", "cell", p)
    epochs.foreach { case (lo, hi) =>
      Similarity.appendToIvfIndex(spark, p, slice(lo, hi, labeled),
        "vec_id", "embedding", "cell")
    }
    p
  }

  for (labeled <- Seq(true, false); pq <- Seq("none", "raw", "residual")) {
    val rows = if (labeled) "labeled" else "assigned"
    test(s"ivfIngestTo, $rows rows, $pq PQ: compaction and replay keep " +
      "the one-shot probes") {
      val idx = Files.createTempDirectory("graft-ivfi").toString + "/idx"
      StreamOps.ivfIngestBootstrap(all.filter(col("vec_id") < 60), idx,
        "vec_id", "embedding", "cell")
      if (pq != "none")
        Similarity.addPqToIvfIndex(spark, idx, "vec_id", "embedding",
          "cell", m = 8, ksub = 16, trainMod = 1,
          residual = pq == "residual")
      val in = Files.createTempDirectory("graft-ivfi-in").toString
      epochs.foreach { case (lo, hi) =>
        slice(lo, hi, labeled).coalesce(1).write.mode("append").parquet(in)
        Thread.sleep(1100) // distinct mtimes order the file source
      }
      val q = StreamOps.ivfIngestTo(
        spark.readStream.schema(slice(60L, 80L, labeled).schema)
          .option("maxFilesPerTrigger", 1).parquet(in),
        idx, Files.createTempDirectory("graft-ivfi-ck").toString,
        "vec_id", "embedding", "cell", compactEvery = 2)
      q.awaitTermination()
      // batch 2 consolidated epochs -1, 0 and 1 before it landed
      val batches = spark.read.parquet(s"$idx/lists")
        .select(col("__batch").cast("long")).distinct().as[Long]
        .collect().toSet
      assert(batches == Set(-1L, 2L), s"epochs after the stream: $batches")
      val want = plain(reference(labeled))
      assert(want.nonEmpty && plain(idx) == want)
      if (pq != "none") assert(pqRows(idx) == want)
      // a crash replay of the last epoch: same rows, same probes
      val ids = listIds(idx)
      StreamOps.ivfIngestEpoch(slice(100L, 120L, labeled), 2L, idx,
        "vec_id", "embedding", "cell", 64)
      assert(listIds(idx) == ids && ids == (0L until 120L))
      assert(plain(idx) == want)
      if (pq != "none") {
        assert(pqRows(idx) == want)
        assert(Similarity.readPqMarker(spark, idx)
          .exists(_._5 == (pq == "residual")))
      }
    }
  }

  private def epoch(lo: Long, hi: Long, id: Long, idx: String): Int =
    StreamOps.ivfIngestEpoch(slice(lo, hi, labeled = true), id, idx,
      "vec_id", "embedding", "cell", 64)

  test("compacting a streamed index keeps its epoch layout; the next " +
    "epoch lands and probes") {
    val idx = Files.createTempDirectory("graft-ivfi-cw").toString + "/idx"
    StreamOps.ivfIngestBootstrap(all.filter(col("vec_id") < 60), idx,
      "vec_id", "embedding", "cell")
    epoch(60L, 80L, 0L, idx)
    assert(Similarity.compactIvfIndex(spark, idx) == 80L)
    epoch(80L, 120L, 1L, idx)
    val flat = Files.createTempDirectory("graft-ivfi-cwr").toString
    Similarity.buildIvfIndex(all, "vec_id", "embedding", "cell", flat)
    assert(plain(idx) == plain(flat))
  }

  test("retraining a streamed index keeps its epoch layout; the next " +
    "epoch lands and probes") {
    val idx = Files.createTempDirectory("graft-ivfi-rt").toString + "/idx"
    StreamOps.ivfIngestBootstrap(all.filter(col("vec_id") < 60), idx,
      "vec_id", "embedding", "cell")
    epoch(60L, 80L, 0L, idx)
    Similarity.retrainIvfIndex(spark, idx, "vec_id", "embedding",
      k = 5, iters = 2, trainMod = 1, superAssign = 0)
    assert(new java.io.File(s"$idx/lists/__batch=-1").isDirectory)
    epoch(80L, 120L, 1L, idx)
    assert(listIds(idx) == (0L until 120L))
    assert(plain(idx).nonEmpty)
  }
}
