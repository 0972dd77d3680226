package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Multimodal, Similarity}
import graft.functions.Multimodal.PhashKind
import graft.streaming.StreamOps

/** Round-15: the persisted AUDIO phash index (build/append/compact/
  * against; its streaming ingest is in [[PhashIngestSpec]]) and the
  * residual IVF-PQ snapshot EXTENSION for cells born after addPq
  * (round-14 advice: the raw-code fallback's mis-scaled ADC could
  * misrank fresh-cell neighbors out of a finite rerank budget). */
class Round15OpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // ---- audio phash index lifecycle --------------------------------

  private def auMedia(from: Long, until: Long) =
    Multimodal.audioPhashFixtureMedia(spark,
      (from until until).toDF("doc_id"), groups = 25)

  private def auProbes =
    Multimodal.audioPhashFixtureMedia(spark,
      (0L until 90L).map(_ + 10000L).toDF("doc_id"), groups = 25)

  private def auPairs(path: String): Set[(Long, Long, Int)] =
    Multimodal.phashDedupAgainst(spark, PhashKind.Audio, path, auProbes)
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

  test("audio phash index: append ≡ build, compaction bit-identical, " +
    "crash heal") {
    val flat = Files.createTempDirectory("graft-auf").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Audio, auMedia(0L, 90L), flat)
    val want = auPairs(flat)
    assert(want.nonEmpty)

    // build-half + two appends probe ≡ the one-shot build
    val idx = Files.createTempDirectory("graft-aua").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Audio, auMedia(0L, 60L), idx)
    Multimodal.appendToPhashIndex(spark, PhashKind.Audio, auMedia(60L, 75L), idx)
    Multimodal.appendToPhashIndex(spark, PhashKind.Audio, auMedia(75L, 90L), idx)
    assert(auPairs(idx) == want, "append layout must probe ≡ flat build")
    assert(dataFilesPerDir(idx, "pb=").values.exists(_ > 1),
      "appends must have produced multi-file dirs for compaction to bite")

    // compaction: one file per pb dir, probes bit-identical
    val n = Multimodal.compactPhashIndex(spark, idx)
    assert(n > 0)
    assert(auPairs(idx) == want, "compaction changed probe results")
    assert(dataFilesPerDir(idx, "pb=").values.forall(_ == 1))

    // crash between the compaction swap renames: live root gone,
    // __compact_old holds the only copy — the probe must heal it
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(idx + ".__compact_old")))
    assert(auPairs(idx) == want,
      "probe must recover the renamed-away index, not return empty")
  }

  // ---- residual IVF-PQ: cells born after the snapshot --------------

  private val m = 8
  private val ksub = 16

  /** Clustered corpus over cells 0..4 (the IvfPqSpec fixture). */
  private def corpus(n: Int, cells: Int = 5): DataFrame =
    (0 until n).map { i =>
      val c = i % cells
      val v = Array.tabulate(64) { j =>
        val base = if (j % cells == c) 3.0 else 0.2
        (base + 0.01 * (((i * 37 + j * 11) % 89) - 44)).toFloat
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")

  /** A batch forming a brand-NEW cell along a direction no snapshot
    * cell uses (tail dims), ids monotone above the corpus. */
  private def newCellBatch(n: Int, startId: Long, label: Int): DataFrame =
    (0 until n).map { i =>
      val v = Array.tabulate(64) { j =>
        val base = if (j >= 48) 2.5 else 0.1
        (base + 0.02 * (((i * 53 + j * 7) % 97) - 48)).toFloat
      }
      (startId + i, v, label)
    }.toDF("vec_id", "embedding", "label")

  private def snapRows(path: String): Set[(Int, Seq[Long])] =
    spark.read.parquet(s"$path/pq/centers")
      .select(col("__cell").cast("int"), col("__center"))
      .collect().map(r => (r.getInt(0),
        r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)))
      .toSet

  test("residual sidecar: a cell born by an append gets a frozen " +
    "first-seen center and survives a finite rerank budget") {
    val path = Files.createTempDirectory("graft-ivfpq-fresh").toString
    val base = corpus(150)
    Similarity.buildIvfIndex(base, "vec_id", "embedding", "label", path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding",
      "label", m, ksub, iters = 2, trainMod = 1, residual = true)
    val snapBefore = snapRows(path)
    assert(snapBefore.map(_._1) == Set(0, 1, 2, 3, 4))

    // append 40 rows forming NEW cell 9
    val batch = newCellBatch(40, 1000L, label = 9).localCheckpoint()
    Similarity.appendToIvfIndex(spark, path, batch, "vec_id",
      "embedding", "label")
    val snapAfter = snapRows(path)
    assert(snapAfter.map(_._1) == Set(0, 1, 2, 3, 4, 9),
      "the new cell's first-seen center must join the snapshot")
    assert(snapAfter.filter(_._1 != 9) == snapBefore,
      "pre-existing snapshot entries must not move")

    // probe INSIDE the new cell with rerank << cell size: the exact
    // plain probe is ground truth; pre-fix the raw-code fallback's
    // mis-scaled ADC made the rerank-5-of-40 finalists effectively
    // arbitrary, post-fix the residual codes rank the true top-1 in
    val probes = batch.limit(1)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      .localCheckpoint()
    val plain = Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 1, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 1, nProbe = 1, rerank = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(plain.nonEmpty)
    assert(pq == plain,
      "finite-rerank probe must find the fresh cell's true top-1")

    // a SECOND append to the now-known cell must not move its frozen
    // snapshot entry, even though the live center moves
    val live1 = spark.read.parquet(s"$path/centers")
      .filter(col("__cell").cast("int") === 9)
      .select(col("__center")).head.getSeq[Double](0)
    Similarity.appendToIvfIndex(spark, path,
      newCellBatch(20, 2000L, label = 9), "vec_id", "embedding", "label")
    assert(snapRows(path) == snapAfter,
      "snapshot entries are frozen at first sight")
    val live2 = spark.read.parquet(s"$path/centers")
      .filter(col("__cell").cast("int") === 9)
      .select(col("__center")).head.getSeq[Double](0)
    assert(live1 != live2, "the live center should have moved")

    // full-rerank equivalence still holds over the grown index
    val probes2 = probesOf(base.unionByName(batch), 10)
    val plainAll = Similarity.ivfKnnJoinIndexed(spark, path, probes2,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    val pqAll = Similarity.ivfPqKnnJoinIndexed(spark, path, probes2,
      "vec_id", "embedding", "label", k = 5, nProbe = 2, rerank = 1000)
    assert(rows(pqAll) == rows(plainAll))
  }

  private def probesOf(df: DataFrame, n: Int) =
    df.orderBy(col("vec_id")).limit(n)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      .localCheckpoint()

  private def rows(df: DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  // ---- maintenance wired into the streaming ingests ------------------

  test("ivfIngestAssignedTo with maintainEvery: a drifting stream " +
    "recovers recall without manual calls") {
    val K = 16
    val base = ProbeAging.clusteredVectors(spark, 800, K, 0L,
      diag = false).localCheckpoint()
    val shifted = ProbeAging.clusteredVectors(spark, 800, K, 7000000L,
      diag = true).localCheckpoint()
    val combined = base.unionByName(shifted).localCheckpoint()
    val shiftProbes = shifted.orderBy(col("vec_id")).limit(100)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      .localCheckpoint()
    def recallOf(path: String): Double = {
      val exact = Similarity.knnJoinWith(combined, shiftProbes, "vec_id",
        "embedding", k = 5, excludeSelf = true)
      val ann = Similarity.ivfKnnJoinIndexed(spark, path, shiftProbes,
        "vec_id", "embedding", "cell", k = 5, nProbe = 2)
      Similarity.recallAtK(ann, exact)
        .agg(avg(col("recall"))).head.getDouble(0)
    }
    def runStream(maintainEvery: Int): String = {
      val idx = Files.createTempDirectory("graft-ivfm").toString + "/idx"
      val labeled = base.join(
        Similarity.kmeansLabels(base, "vec_id", "embedding", k = K,
          iters = 2, trainMod = 1, superAssign = -1), Seq("vec_id"))
      StreamOps.ivfIngestBootstrap(labeled, idx, "vec_id", "embedding",
        "cell")
      val in = Files.createTempDirectory("graft-ivfmin").toString
      val parts = shifted.select(col("vec_id"), col("embedding"))
      val schema = parts.schema
      (0 until 4).foreach { i =>
        parts.filter(col("vec_id") % 4 === i).coalesce(1)
          .write.mode("append").parquet(in)
        Thread.sleep(1100) // distinct mtimes order the file source
      }
      val q = StreamOps.ivfIngestTo(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in),
        idx, Files.createTempDirectory("graft-ivfmck").toString,
        "vec_id", "embedding", "cell",
        maintainEvery = maintainEvery, residualThreshold = 0.17,
        targetRowsPerCell = 60, maintainIters = 2)
      q.awaitTermination()
      idx
    }
    val frozen = runStream(maintainEvery = 0)
    val managed = runStream(maintainEvery = 2)
    // the retrain consolidated epochs -1,0,1 and the stream resumed:
    // structural proof maintenance ran INSIDE the stream
    val batches = spark.read.parquet(s"$managed/lists")
      .select(col("__batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L, 2L, 3L),
      s"expected retrain-consolidated epochs, got $batches")
    // drift healed on the managed index, still breaching on the frozen
    val dFrozen = Similarity.ivfDriftStats(spark, frozen, "vec_id",
      "embedding", "cell", dims = 64)
    val dManaged = Similarity.ivfDriftStats(spark, managed, "vec_id",
      "embedding", "cell", dims = 64)
    assert(dFrozen.meanResidual > 0.17,
      s"fixture must drift the frozen index (got $dFrozen)")
    assert(dManaged.meanResidual <= 0.17,
      s"maintenance must heal the drift (got $dManaged)")
    // and the healed geometry probes better on the shifted stream
    val (rFrozen, rManaged) = (recallOf(frozen), recallOf(managed))
    assert(rManaged > rFrozen,
      s"recall must recover: frozen $rFrozen vs managed $rManaged")
    assert(rManaged >= 0.9, s"managed recall floor: $rManaged")
  }

  test("ivfIngestTo with compactEvery: mid-stream lists consolidation " +
    "leaves probes ≡ batch rebuild and the fold state valid") {
    val seed = Seq(
      (0L, "a", Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, "a", Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, "b", Array(0.1f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val e1 = Seq(
      (3L, "b", Array(0.2f, 1.0f, 0.0f, 0.0f)),
      (4L, "c", Array(0.0f, 0.0f, 1.0f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
    val e2 = Seq((5L, "c", Array(0.0f, 0.0f, 0.9f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
    val e3 = Seq((6L, "a", Array(0.9f, 0.1f, 0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val probes = Seq(
      (100L, Array(0.1f, 1.0f, 0.0f, 0.0f)),
      (200L, Array(0.0f, 0.0f, 1.0f, 0.05f)))
      .toDF("probe_id", "__pv")
    def probeRows(path: String) =
      Similarity.ivfKnnJoinIndexed(spark, path, probes,
        "vec_id", "embedding", "label", k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val flat = Files.createTempDirectory("graft-ivfcf").toString + "/idx"
    Similarity.buildIvfIndex(
      seed.unionByName(e1).unionByName(e2).unionByName(e3),
      "vec_id", "embedding", "label", flat, dims = 4)
    val want = probeRows(flat)
    assert(want.nonEmpty)
    val idx = Files.createTempDirectory("graft-ivfce").toString + "/idx"
    StreamOps.ivfIngestBootstrap(seed, idx, "vec_id", "embedding",
      "label", dims = 4)
    val in = Files.createTempDirectory("graft-ivfcein").toString
    Seq(e1, e2, e3).foreach { e =>
      e.coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(1100)
    }
    val q = StreamOps.ivfIngestTo(
      spark.readStream.schema(seed.schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      idx, Files.createTempDirectory("graft-ivfceck").toString,
      "vec_id", "embedding", "label", dims = 4, compactEvery = 2)
    q.awaitTermination()
    assert(probeRows(idx) == want,
      "mid-stream consolidation must leave probes ≡ batch rebuild")
    val batches = spark.read.parquet(s"$idx/lists")
      .select(col("__batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L, 2L),
      s"epochs -1,0,1 must consolidate at batch 2, got $batches")
    // the fold state survived: a following MONOTONE epoch still takes
    // the incremental path (the marker was never invalidated)
    val r = StreamOps.ivfIngestEpoch(
      Seq((7L, "b", Array(0.15f, 1.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "label", "embedding"),
      3L, idx, "vec_id", "embedding", "label", dims = 4)
    assert(r == 0, s"post-compaction epoch took path $r, not the fold")
  }

  test("phashIngestTo with compactEvery consolidates mid-stream with " +
    "probes unchanged") {
    def phMedia(from: Long, until: Long) =
      Multimodal.phashFixtureMedia(spark,
        (from until until).toDF("doc_id"), groups = 25)
    val phProbes = Multimodal.phashFixtureMedia(spark,
      (0L until 90L).map(_ + 10000L).toDF("doc_id"), groups = 25)
    def pairs(path: String) =
      Multimodal.phashDedupAgainst(spark, PhashKind.Image, path, phProbes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val flat = Files.createTempDirectory("graft-phmf").toString + "/idx"
    Multimodal.buildPhashIndex(spark, PhashKind.Image, phMedia(0L, 90L), flat)
    val want = pairs(flat)
    assert(want.nonEmpty)
    val idx = Files.createTempDirectory("graft-phm").toString + "/idx"
    StreamOps.phashIngestBootstrap(PhashKind.Image, phMedia(0L, 45L), idx)
    val in = Files.createTempDirectory("graft-phmin").toString
    val schema = phMedia(0L, 1L).schema
    Seq((45L, 60L), (60L, 75L), (75L, 90L)).foreach { case (a, b) =>
      phMedia(a, b).coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(1100)
    }
    val q = StreamOps.phashIngestTo(PhashKind.Image,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(in),
      idx, Files.createTempDirectory("graft-phmck").toString,
      compactEvery = 2)
    q.awaitTermination()
    assert(pairs(idx) == want,
      "mid-stream compaction must leave probes ≡ the flat build")
    val batches = spark.read.parquet(idx)
      .select(col("__batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L, 2L),
      s"epochs -1,0,1 must consolidate at batch 2, got $batches")
  }

  // ---- repeated-span removal vs a plain-Scala model -----------------

  /** Straight-line model of stripRepeatedSpans: windows at multiples of
    * stride with start+win <= n (chunks' full-window set), repeated =
    * same token sequence in >= minDocs distinct docs, covered = union
    * of repeated windows' positions, rebuild from survivors. */
  private def stripModel(docs: Seq[(Long, String)], win: Int, stride: Int,
                         minDocs: Int): Map[Long, (String, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }.toMap
    val spans = docs.flatMap { case (id, _) =>
      val w = toks(id)
      (0 to w.length - win by stride).map(s =>
        (id, s, w.slice(s, s + win).mkString(" ")))
    }
    val dup = spans.groupBy(_._3).view
      .filter(_._2.map(_._1).distinct.size >= minDocs).keySet.toSet
    docs.map { case (id, _) =>
      val w = toks(id)
      val covered = spans.collect {
        case (`id`, s, sp) if dup(sp) => s until (s + win)
      }.flatten.toSet
      val kept = w.zipWithIndex.collect {
        case (t, i) if !covered(i) => t }
      id -> (kept.mkString(" "), (w.length - kept.length).toLong)
    }.toMap
  }

  test("property: stripRepeatedSpans ≡ the plain-Scala model on random " +
    "small-vocab corpora") {
    import org.scalacheck.Gen
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = Gen.choose(8, 20).flatMap(n => Gen.listOfN(n, docGen))
    val scenarios = PropertySamples.samples(corpusGen, 6, 15042L)
    assert(scenarios.nonEmpty)
    scenarios.foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.functions.Dedup.stripRepeatedSpans(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        win = 3, stride = 2, minDocs = 2)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      assert(got == stripModel(docs, win = 3, stride = 2, minDocs = 2),
        s"mismatch on corpus: ${docs.take(4)}…")
    }
  }

  test("re-adding a RAW sidecar over an old residual one drops the " +
    "stale snapshot") {
    val path = Files.createTempDirectory("graft-ivfpq-raw").toString
    val df = corpus(100)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding",
      "label", m, ksub, iters = 2, trainMod = 1, residual = true)
    assert(Similarity.hasParquetData(spark, s"$path/pq/centers"))
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding",
      "label", m, ksub, iters = 2, trainMod = 1, residual = false)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/pq/centers")),
      "the dead residual snapshot must be deleted on a raw re-add")
    // and the raw sidecar still probes ≡ plain at full rerank
    val probes = probesOf(df, 10)
    val plain = Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    val pq = Similarity.ivfPqKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 5, nProbe = 2, rerank = 100)
    assert(rows(pq) == rows(plain))
  }
}
