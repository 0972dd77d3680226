package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Multimodal, Similarity}
import graft.functions.Multimodal.PhashKind
import graft.functions.Similarity.IvfDriftStats
import graft.streaming.StreamOps

/** Round-14: regression specs for the round-13 advice items and the
  * round's new lifecycle machinery (phash index compaction + streaming
  * ingest; the ingest over every phash kind is in [[PhashIngestSpec]]). */
class Round14OpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // ---- phash index lifecycle --------------------------------------

  private def phMedia(from: Long, until: Long) =
    Multimodal.phashFixtureMedia(spark, (from until until).toDF("doc_id"),
      groups = 25)

  private def phProbes =
    Multimodal.phashFixtureMedia(spark,
      (0L until 90L).map(_ + 10000L).toDF("doc_id"), groups = 25)

  private def phPairs(path: String): Set[(Long, Long, Int)] =
    Multimodal.phashDedupAgainst(spark, PhashKind.Image, path, phProbes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def dataFilesPerDir(root: String, prefix: String): Map[String, Int] =
    new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map { d =>
        def walk(f: java.io.File): Int =
          if (f.isFile)
            (if (f.getName.endsWith(".parquet") &&
              !f.getName.startsWith("_") && !f.getName.startsWith(".")) 1
            else 0)
          else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        d.getName -> walk(d)
      }.toMap

  test("compactPhashIndex: flat layout compacts to one file per pb dir " +
    "with bit-identical probes") {
    val idx = Files.createTempDirectory("graft-phc").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Image, phMedia(0L, 60L), idx)
    Multimodal.appendToPhashIndex(spark, PhashKind.Image, phMedia(60L, 75L), idx)
    Multimodal.appendToPhashIndex(spark, PhashKind.Image, phMedia(75L, 90L), idx)
    val before = phPairs(idx)
    assert(before.nonEmpty)
    assert(dataFilesPerDir(idx, "pb=").values.exists(_ > 1),
      "appends must have produced multi-file dirs for this test to bite")
    val n = Multimodal.compactPhashIndex(spark, idx)
    assert(n > 0)
    assert(phPairs(idx) == before, "compaction changed probe results")
    assert(dataFilesPerDir(idx, "pb=").values.forall(_ == 1),
      "compaction must leave exactly one data file per pb dir")
  }

  test("phash probe heals a compaction crash (live root renamed away)") {
    val idx = Files.createTempDirectory("graft-phcr").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Image, phMedia(0L, 90L), idx)
    val want = phPairs(idx)
    // simulate a crash between the two swap renames: live root gone,
    // __compact_old holds the only copy
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(idx + ".__compact_old")))
    assert(phPairs(idx) == want,
      "probe must recover the renamed-away index, not return empty")
  }

  test("phashIngestTo: bootstrap + streamed epochs probe ≡ flat build; " +
    "replay idempotent; compaction consolidates epochs") {
    // flat reference
    val flat = Files.createTempDirectory("graft-phf").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Image, phMedia(0L, 90L), flat)
    val want = phPairs(flat)
    assert(want.nonEmpty)

    // bootstrap 0..60, stream 60..75 and 75..90 as separate epochs
    val idx = Files.createTempDirectory("graft-phi").toString + "/idx"
    StreamOps.phashIngestBootstrap(PhashKind.Image, phMedia(0L, 60L), idx)
    val in = Files.createTempDirectory("graft-phin").toString
    val schema = phMedia(0L, 1L).schema
    phMedia(60L, 75L).coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // distinct mtimes: FileStreamSource orders by modTime
    phMedia(75L, 90L).coalesce(1).write.mode("append").parquet(in)
    val q = StreamOps.phashIngestTo(PhashKind.Image,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(in),
      idx, Files.createTempDirectory("graft-phick").toString)
    q.awaitTermination()
    assert(phPairs(idx) == want, "streamed index must probe ≡ flat build")

    // crash-replay: re-running an epoch overwrites, never doubles
    val rowsBefore = spark.read.parquet(idx).count()
    StreamOps.phashIngestEpoch(PhashKind.Image, phMedia(75L, 90L), 1L, idx,
      compactEvery = 0)
    assert(spark.read.parquet(idx).count() == rowsBefore,
      "replayed epoch must overwrite its own partitions only")
    assert(phPairs(idx) == want)

    // compaction consolidates every epoch into __batch=-1, probes
    // bit-identical, one file per (pb, batch) leaf
    val n = Multimodal.compactPhashIndex(spark, idx)
    assert(n == rowsBefore)
    assert(phPairs(idx) == want, "post-compaction probe changed")
    val batches = spark.read.parquet(idx)
      .select(col("__batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L), s"epochs must consolidate, got $batches")
    assert(dataFilesPerDir(idx, "pb=").values.forall(_ == 1))

    // post-compaction epochs resume cleanly (new batch id lands beside
    // the consolidated -1 without touching it)
    StreamOps.phashIngestEpoch(PhashKind.Image, phMedia(90L, 100L), 2L, idx,
      compactEvery = 0)
    val flat2 = Files.createTempDirectory("graft-phf2").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Image, phMedia(0L, 100L), flat2)
    assert(phPairs(idx) == phPairs(flat2),
      "post-compaction ingest must extend the consolidated corpus")
  }

  test("maintainIvfIndex: policy measures, retrains on breach, holds after") {
    val K = 16
    val base = ProbeAging.clusteredVectors(spark, 800, K, 0L, diag = false)
      .localCheckpoint()
    val shifted = ProbeAging.clusteredVectors(spark, 800, K, 7000000L,
      diag = true).localCheckpoint()
    val path = Files.createTempDirectory("graft-maint").toString + "/idx"
    val labeled = base.join(
      Similarity.kmeansLabels(base, "vec_id", "embedding", k = K,
        iters = 2, trainMod = 1, superAssign = -1), Seq("vec_id"))
    Similarity.buildIvfIndex(labeled, "vec_id", "embedding", "cell", path,
      dims = 64)
    val fresh = Similarity.ivfDriftStats(spark, path, "vec_id",
      "embedding", "cell", dims = 64)

    // a fresh index under a generous threshold: measure, do nothing
    val m0 = Similarity.maintainIvfIndex(spark, path, "vec_id",
      "embedding", "cell", dims = 64,
      residualThreshold = fresh.meanResidual + 1.0)
    assert(!m0.retrained && m0.stats == fresh)

    // out-of-distribution ingest raises the residual past a threshold
    // set between the fresh and shifted readings
    Similarity.appendToIvfIndex(spark, path, shifted, "vec_id",
      "embedding", "cell", dims = 64)
    val drifted = Similarity.ivfDriftStats(spark, path, "vec_id",
      "embedding", "cell", dims = 64)
    assert(drifted.meanResidual > fresh.meanResidual,
      s"fixture must drift: ${fresh.meanResidual} -> ${drifted.meanResidual}")
    val thr = (fresh.meanResidual + drifted.meanResidual) / 2

    val probes = shifted.orderBy(col("vec_id")).limit(100)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      .localCheckpoint()
    val exact = Similarity.knnJoinWith(base.unionByName(shifted), probes,
      "vec_id", "embedding", k = 5, excludeSelf = true).localCheckpoint()
    def recall(): Double = Similarity.recallAtK(
      Similarity.ivfKnnJoinIndexed(spark, path, probes, "vec_id",
        "embedding", "cell", k = 5, nProbe = 2), exact)
      .agg(avg(col("recall"))).head().getDouble(0)
    val recallBefore = recall()

    // breach → the policy retrains at K ∝ n (doubled corpus, build
    // density 800/16 = 50 rows/cell → k = 1600/50 = 2K)
    val m1 = Similarity.maintainIvfIndex(spark, path, "vec_id",
      "embedding", "cell", dims = 64, residualThreshold = thr,
      targetRowsPerCell = 50, iters = 2, superAssign = -1)
    assert(m1.retrained, s"policy must retrain at residual " +
      s"${m1.stats.meanResidual} > $thr")
    assert(m1.k == 2 * K)
    assert(recall() >= recallBefore,
      "retrain must not lose narrow-probe recall on the shifted set")

    // recovered → the SAME policy measures under-threshold and holds
    val m2 = Similarity.maintainIvfIndex(spark, path, "vec_id",
      "embedding", "cell", dims = 64, residualThreshold = thr,
      targetRowsPerCell = 50, iters = 2, superAssign = -1)
    assert(!m2.retrained && m2.stats.meanResidual <= thr,
      s"recovered index must hold: ${m2.stats.meanResidual} vs $thr")

    // the skew trigger fires independently of the residual one
    val m3 = Similarity.maintainIvfIndex(spark, path, "vec_id",
      "embedding", "cell", dims = 64, residualThreshold = 1.0,
      skewThreshold = 0.5, iters = 2, superAssign = -1)
    assert(m3.retrained, "max/mean occupancy is >= 1 by construction, " +
      "so a 0.5 skew threshold must breach")
  }

  test("ivfDriftStats reports zero stats on an empty-but-present csums " +
    "store instead of NPEing") {
    val dir = Files.createTempDirectory("graft_ivf_empty").toString
    // a zero-row schema-carrying parquet file passes hasCsumsData (the
    // file exists) but leaves every aggregate null
    spark.range(0)
      .selectExpr("CAST(id AS STRING) AS cell", "id AS __chunk",
        "CAST(array() AS array<double>) AS __psums", "id AS __n")
      .coalesce(1).write.parquet(s"$dir/csums")
    val st = Similarity.ivfDriftStats(spark, dir, "vec_id", "embedding",
      "cell", dims = 4)
    assert(st == IvfDriftStats(0L, 0L, 0.0, 0.0))
  }
}
