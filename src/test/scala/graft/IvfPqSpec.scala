package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** The persisted IVF-PQ layout: codes beside the lists in the SAME cell
  * partitioning, probes scanning codes and rescoring only finalists —
  * anchored by exact equivalence to the plain probe at full rerank, the
  * append/compaction layout-agreement rules, and the loud staleness
  * contract (a silent partial scan would just drop the newest docs). */
class IvfPqSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val m = 8
  private val ksub = 16

  /** Deterministic clustered corpus with integral labels (the cells). */
  private def corpus(n: Int, cells: Int = 5): DataFrame =
    (0 until n).map { i =>
      val c = i % cells
      val v = Array.tabulate(64) { j =>
        val base = if (j % cells == c) 3.0 else 0.2
        (base + 0.01 * (((i * 37 + j * 11) % 89) - 44)).toFloat
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")

  private def probesOf(df: DataFrame, n: Int) =
    df.orderBy(col("vec_id")).limit(n)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      .localCheckpoint()

  private def rows(df: DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("full-rerank IVF-PQ probe equals the plain IVF probe exactly") {
    val path = Files.createTempDirectory("graft-ivfpq-eq").toString
    val df = corpus(150)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding", "label",
      m, ksub, iters = 2)
    val probes = probesOf(df, 20)
    val plain = Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    // rerank >= corpus: the rescore covers every in-cell candidate, so
    // the ADC ordering cannot change the result — bit-identical
    val pq = Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2, rerank = 150)
    assert(rows(pq) == rows(plain))
    assert(rows(pq).nonEmpty)
  }

  test("append through appendToIvfPqIndex ≡ one-shot addPq on the union") {
    val pathA = Files.createTempDirectory("graft-ivfpq-a").toString
    val pathB = Files.createTempDirectory("graft-ivfpq-b").toString
    val all = corpus(120)
    val first = all.filter(col("vec_id") < 80)
    val batch = all.filter(col("vec_id") >= 80)
    // A: build + addPq on the first half, then the pq-aware append
    Similarity.buildIvfIndex(first, "vec_id", "embedding", "label", pathA)
    Similarity.addPqToIvfIndex(spark, pathA, "vec_id", "embedding",
      "label", m, ksub, iters = 2, trainMod = 1)
    Similarity.appendToIvfIndex(spark, pathA, batch, "vec_id",
      "embedding", "label")
    // B: the same FIRST-half codebooks must score both sides: copy A's
    // codebooks by building B's index over the union and re-encoding
    // with addPq trained on the first half is not expressible — instead
    // prove layout agreement: A's probe results equal the plain probe
    // over the union at full rerank (codes cover every appended row)
    Similarity.buildIvfIndex(all, "vec_id", "embedding", "label", pathB)
    val probes = probesOf(all, 15)
    val plainUnion = Similarity.ivfKnnJoinIndexed(spark, pathB, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    val pqAppended = Similarity.ivfPqKnnJoinIndexed(spark, pathA, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2, rerank = 120)
    assert(rows(pqAppended) == rows(plainUnion))
  }

  test("a stale sidecar marker makes the probe refuse") {
    val path = Files.createTempDirectory("graft-ivfpq-stale").toString
    val df = corpus(90)
    Similarity.buildIvfIndex(df.filter(col("vec_id") < 60),
      "vec_id", "embedding", "label", path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding", "label",
      m, ksub)
    Similarity.appendToIvfIndex(spark, path,
      df.filter(col("vec_id") >= 60), "vec_id", "embedding", "label")
    // the append encoded its rows: the marker names the grown index
    val Some((maxId, mm, kk, dd, res)) = Similarity.readPqMarker(spark, path)
    assert(maxId == 89L)
    // a marker left from before the append (staged by hand — no entry
    // point writes lists without codes any more) must refuse, not scan
    // codes that miss the newest rows
    Similarity.writePqMarker(spark, path, 59L, mm, kk, dd, res)
    val probes = probesOf(df, 5)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
        "vec_id", "embedding", "label", k = 3).collect()
    }
    assert(e.getMessage.contains("STALE"))
  }

  test("a missing sidecar (plain index, or post-retrain root) refuses") {
    val path = Files.createTempDirectory("graft-ivfpq-none").toString
    val df = corpus(60)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", path)
    val probes = probesOf(df, 5)
    val e = intercept[IllegalStateException] {
      Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
        "vec_id", "embedding", "label", k = 3).collect()
    }
    assert(e.getMessage.contains("no valid PQ sidecar"))
    // and a crash window (marker deleted, codes present) refuses too
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding", "label",
      m, ksub)
    Similarity.deletePqMarker(spark, path)
    intercept[IllegalStateException] {
      Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
        "vec_id", "embedding", "label", k = 3).collect()
    }
  }

  test("compaction folds append files and leaves probe results unchanged") {
    val path = Files.createTempDirectory("graft-ivfpq-comp").toString
    val df = corpus(120)
    Similarity.buildIvfIndex(df.filter(col("vec_id") < 60),
      "vec_id", "embedding", "label", path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding", "label",
      m, ksub, trainMod = 1)
    (0 until 3).foreach { b =>
      Similarity.appendToIvfIndex(spark, path,
        df.filter(col("vec_id") >= 60 + b * 20 &&
          col("vec_id") < 80 + b * 20),
        "vec_id", "embedding", "label")
    }
    val probes = probesOf(df, 10)
    def probe() = rows(Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2, rerank = 40))
    val before = probe()
    def codeFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      walk(new java.io.File(s"$path/pq/codes"))
        .count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = codeFiles()
    Similarity.compactIvfIndex(spark, path)
    assert(codeFiles() < filesBefore)
    val cellDirs = new java.io.File(s"$path/pq/codes").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__cellkey="))
    assert(codeFiles() <= cellDirs) // <= one data file per cell dir
    assert(probe() == before)
  }

  test("streaming ingest keeps the sidecar fresh, idempotent, and loud") {
    import graft.streaming.StreamOps
    val path = Files.createTempDirectory("graft-ivfpq-stream").toString
    val all = corpus(120)
    StreamOps.ivfIngestBootstrap(all.filter(col("vec_id") < 60),
      path, "vec_id", "embedding", "label")
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding",
      "label", m, ksub, trainMod = 1)
    val e1 = all.filter(col("vec_id") >= 60 && col("vec_id") < 90)
      .localCheckpoint()
    val e2 = all.filter(col("vec_id") >= 90).localCheckpoint()
    StreamOps.ivfIngestEpoch(e1, 0L, path, "vec_id", "embedding",
      "label", 64)
    StreamOps.ivfIngestEpoch(e2, 1L, path, "vec_id", "embedding",
      "label", 64)
    val probes = probesOf(all, 10)
    def pqProbe() = rows(Similarity.ivfPqKnnJoinIndexed(spark, path,
      probes, "vec_id", "embedding", "label", k = 5, nProbe = 2,
      rerank = 120))
    val plain = rows(Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2))
    val once = pqProbe()
    assert(once == plain) // full rerank: codes cover every epoch's rows
    // crash replay of epoch 1: whole-epoch overwrite, bit-identical
    StreamOps.ivfIngestEpoch(e2, 1L, path, "vec_id", "embedding",
      "label", 64)
    assert(pqProbe() == once)
    // crash window: marker gone → probe refuses; the next epoch heals
    Similarity.deletePqMarker(spark, path)
    intercept[IllegalStateException] { pqProbe() }
    // a replayed epoch cannot START without a valid marker either —
    // heal by re-adding the sidecar, then the stream continues
    intercept[IllegalStateException] {
      StreamOps.ivfIngestEpoch(e2, 1L, path, "vec_id", "embedding",
        "label", 64)
    }
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding",
      "label", m, ksub, trainMod = 1)
    assert(pqProbe() == once)
    // and the batch append refuses the epoch layout outright
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, path,
        all.limit(5), "vec_id", "embedding", "label")
    }
    assert(ex.getMessage.contains("epoch layout"))
  }

  test("residual full-rerank probe equals the plain probe exactly") {
    val path = Files.createTempDirectory("graft-ivfpq-res").toString
    val df = corpus(150)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding", "label",
      m, ksub, iters = 2, residual = true)
    val probes = probesOf(df, 20)
    val plain = Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    val pq = Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2, rerank = 150)
    assert(rows(pq) == rows(plain))
    assert(rows(pq).nonEmpty)
    // the marker records the encoding and the snapshot landed with it
    assert(Similarity.readPqMarker(spark, path).exists(_._5))
    assert(new java.io.File(s"$path/pq/centers").exists())
  }

  /** Decoded reconstruction error of a persisted PQ sidecar — the
    * quantization-quality measure the residual claim stands on. */
  private def reconMse(path: String, residual: Boolean): Double = {
    val cb = spark.read.parquet(s"$path/pq/codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        r.getSeq[Double](2).toArray)).toMap
    val ctr: Map[Long, Array[Double]] =
      if (!residual) Map.empty
      else spark.read.parquet(s"$path/pq/centers")
        .selectExpr("cast(__cell as long) c", "__center").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val sd = 64 / m
    val joined = spark.read.parquet(s"$path/pq/codes")
      .selectExpr("cast(vec_id as long) id", "cast(label as long) l",
        "codes")
      .join(spark.read.parquet(s"$path/lists")
        .selectExpr("cast(vec_id as long) id", "embedding"), Seq("id"))
      .collect()
    val errs = joined.map { r =>
      val l = r.getLong(1)
      val codes = r.getSeq[Int](2)
      val v = r.getSeq[Float](3).map(_.toDouble).toArray
      val recon = Array.tabulate(64) { d =>
        val base = cb((d / sd, codes(d / sd)))(d % sd)
        base + (if (residual) ctr(l)(d) else 0.0)
      }
      v.zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum
    }
    errs.sum / errs.length
  }

  test("residual codes reconstruct a clustered corpus tighter than raw") {
    val pathQ = Files.createTempDirectory("graft-ivfpq-mse-raw").toString
    val pathR = Files.createTempDirectory("graft-ivfpq-mse-res").toString
    val df = corpus(200)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", pathQ)
    Similarity.addPqToIvfIndex(spark, pathQ, "vec_id", "embedding",
      "label", m, ksub, iters = 2, trainMod = 1)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", pathR)
    Similarity.addPqToIvfIndex(spark, pathR, "vec_id", "embedding",
      "label", m, ksub, iters = 2, trainMod = 1, residual = true)
    val (raw, res) = (reconMse(pathQ, residual = false),
      reconMse(pathR, residual = true))
    // within-cell residuals span the cell radius, not the corpus
    // radius: the same m·log2(ksub) bits must quantize visibly finer
    assert(res < raw,
      s"residual reconstruction MSE $res not below raw $raw")
  }

  test("a legacy 4-field marker reads as raw codes (back-compat)") {
    val path = Files.createTempDirectory("graft-ivfpq-legacy").toString
    val df = corpus(100)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding", "label",
      m, ksub)
    val Some((maxId, mm, kk, dd, _)) = Similarity.readPqMarker(spark, path)
    // rewrite the marker in the pre-residual 4-field format (drop the
    // local-FS checksum sidecar — a raw rewrite invalidates it and the
    // guarded read would treat the mismatch as malformed)
    val mp = new java.io.File(s"$path/pq/pq_marker")
    new java.io.File(s"$path/pq/.pq_marker.crc").delete()
    val w = new java.io.FileWriter(mp)
    try w.write(s"$maxId|$mm|$kk|$dd") finally w.close()
    assert(Similarity.readPqMarker(spark, path)
      .contains((maxId, mm, kk, dd, false)))
    val probes = probesOf(df, 10)
    val plain = Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    val pq = Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2, rerank = 100)
    assert(rows(pq) == rows(plain))
  }

  test("residual appends encode against the FROZEN snapshot") {
    val pathA = Files.createTempDirectory("graft-ivfpq-res-app").toString
    val pathB = Files.createTempDirectory("graft-ivfpq-res-all").toString
    val all = corpus(120)
    Similarity.buildIvfIndex(all.filter(col("vec_id") < 80),
      "vec_id", "embedding", "label", pathA)
    Similarity.addPqToIvfIndex(spark, pathA, "vec_id", "embedding",
      "label", m, ksub, trainMod = 1, residual = true)
    def snapshot() = spark.read.parquet(s"$pathA/pq/centers")
      .selectExpr("cast(__cell as long) c", "__center").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    val before = snapshot()
    Similarity.appendToIvfIndex(spark, pathA,
      all.filter(col("vec_id") >= 80), "vec_id", "embedding", "label")
    // the append moved the LIVE centers but not the decode geometry,
    // and the sidecar stayed residual
    assert(snapshot() == before)
    assert(Similarity.readPqMarker(spark, pathA).exists(_._5))
    Similarity.buildIvfIndex(all, "vec_id", "embedding", "label", pathB)
    val probes = probesOf(all, 15)
    val plainUnion = Similarity.ivfKnnJoinIndexed(spark, pathB, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    val pqAppended = Similarity.ivfPqKnnJoinIndexed(spark, pathA, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2, rerank = 120)
    assert(rows(pqAppended) == rows(plainUnion))
  }

  test("residual streaming ingest stays equivalent at full rerank") {
    import graft.streaming.StreamOps
    val path = Files.createTempDirectory("graft-ivfpq-res-str").toString
    val all = corpus(120)
    StreamOps.ivfIngestBootstrap(all.filter(col("vec_id") < 60),
      path, "vec_id", "embedding", "label")
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding",
      "label", m, ksub, trainMod = 1, residual = true)
    val e1 = all.filter(col("vec_id") >= 60).localCheckpoint()
    StreamOps.ivfIngestEpoch(e1, 0L, path, "vec_id", "embedding",
      "label", 64)
    val probes = probesOf(all, 10)
    def pqProbe() = rows(Similarity.ivfPqKnnJoinIndexed(spark, path,
      probes, "vec_id", "embedding", "label", k = 5, nProbe = 2,
      rerank = 120))
    val plain = rows(Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2))
    val once = pqProbe()
    assert(once == plain)
    // replay: bit-identical, and the marker still says residual
    StreamOps.ivfIngestEpoch(e1, 0L, path, "vec_id", "embedding",
      "label", 64)
    assert(pqProbe() == once)
    assert(Similarity.readPqMarker(spark, path).exists(_._5))
  }

  test("the code scan reads candidate-cell partitions only (bytes bound)") {
    val path = Files.createTempDirectory("graft-ivfpq-bytes").toString
    // many cells so pruning has something to prune
    val df = corpus(400, cells = 20)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding", "label",
      m, ksub, trainMod = 1)
    val probes = probesOf(df, 2) // 2 probes × nProbe 2 → ≤ 4 cells of 20
    def fsBytes(): Long =
      Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
        .get("file"))
        .flatMap(s => Option(s.getLong("bytesRead")).map(_.longValue()))
        .getOrElse(0L)
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    val before = fsBytes()
    Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 3, nProbe = 2, rerank = 10)
      .collect()
    val read = fsBytes() - before
    // the probe must read far less than the whole index (codes for ≤4
    // of 20 cells + lists for the same cells + footers/centers); half
    // the total is a loose bound that still fails an unpruned scan
    val total = dirBytes(s"$path/lists") + dirBytes(s"$path/pq/codes")
    assert(read < total / 2 + dirBytes(s"$path/centers") +
      dirBytes(s"$path/pq/codebooks") + 512 * 1024,
      s"probe read $read bytes of $total total — pruning broken?")
  }
}
