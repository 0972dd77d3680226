package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Multimodal
import graft.functions.Multimodal.PhashKind
import graft.streaming.StreamOps

/** The streaming phash ingest, once per index kind: an epoch is a pure
  * function of (batch bytes, batchId), so bootstrap + streamed epochs
  * with mid-stream compaction must probe exactly like a flat build of
  * the same corpus, and replaying an epoch — the compaction boundary
  * included — must leave rows and probes unchanged. */
class PhashIngestSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def fixture(kind: PhashKind, ids: Seq[Long]): DataFrame = {
    val df = ids.toDF("doc_id")
    kind match {
      case PhashKind.Image => Multimodal.phashFixtureMedia(spark, df, 25)
      case PhashKind.Audio => Multimodal.audioPhashFixtureMedia(spark, df, 25)
      case PhashKind.Video(_) =>
        Multimodal.videoPhashFixtureMedia(spark, df, 25)
    }
  }

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

  Seq(PhashKind.Image, PhashKind.Audio, PhashKind.Video(8)).foreach { kind =>
    test(s"ingest $kind: streamed epochs ≡ flat build, replay-safe") {
      def media(from: Long, until: Long) = fixture(kind, from until until)
      val probes = fixture(kind, (0L until 90L).map(_ + 10000L))
        .localCheckpoint()
      def pairs(path: String): Set[Seq[Any]] =
        Multimodal.phashDedupAgainst(spark, kind, path, probes)
          .collect().map(_.toSeq).toSet
      def rows(path: String) = spark.read.parquet(path).count()
      def batches(path: String) = spark.read.parquet(path)
        .select(col("__batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet

      val flat = Files.createTempDirectory("graft-phkf").toString + "/idx"
      Multimodal.buildPhashIndex(spark, kind, media(0L, 90L), flat)
      val want = pairs(flat)
      assert(want.nonEmpty)

      // bootstrap 0..45, then three streamed files as epochs 0, 1, 2;
      // epoch 2 is a compactEvery boundary, so -1, 0 and 1 consolidate
      // into -1 before it lands
      val idx = Files.createTempDirectory("graft-phk").toString + "/idx"
      StreamOps.phashIngestBootstrap(kind, media(0L, 45L), idx)
      val in = Files.createTempDirectory("graft-phkin").toString
      Seq((45L, 60L), (60L, 75L), (75L, 90L)).foreach { case (a, b) =>
        media(a, b).coalesce(1).write.mode("append").parquet(in)
        Thread.sleep(1100) // distinct mtimes: FileStreamSource orders by modTime
      }
      val q = StreamOps.phashIngestTo(kind,
        spark.readStream.schema(media(0L, 1L).schema)
          .option("maxFilesPerTrigger", 1).parquet(in),
        idx, Files.createTempDirectory("graft-phkck").toString,
        compactEvery = 2)
      q.awaitTermination()
      assert(pairs(idx) == want,
        "mid-stream compaction must leave probes ≡ the flat build")
      assert(batches(idx) == Set(-1L, 2L),
        s"epochs -1,0,1 must consolidate at batch 2, got ${batches(idx)}")

      // crash-replay of the boundary epoch: it already landed, so the
      // compaction is skipped and the epoch overwrites only itself
      val landed = rows(idx)
      StreamOps.phashIngestEpoch(kind, media(75L, 90L), 2L, idx,
        compactEvery = 2)
      assert(rows(idx) == landed,
        "replayed boundary epoch must not fold its rows into -1 again")
      assert(pairs(idx) == want)

      // compaction consolidates every epoch into __batch=-1, probes
      // bit-identical, one file per pb dir
      val n = Multimodal.compactPhashIndex(spark, idx)
      assert(n == landed)
      assert(pairs(idx) == want, "post-compaction probe changed")
      assert(batches(idx) == Set(-1L), "epochs must consolidate")
      assert(dataFilesPerDir(idx, "pb=").values.forall(_ == 1))

      // post-compaction epochs resume beside the consolidated -1, and a
      // replayed epoch overwrites, never doubles
      StreamOps.phashIngestEpoch(kind, media(90L, 100L), 3L, idx,
        compactEvery = 2)
      val resumed = rows(idx)
      StreamOps.phashIngestEpoch(kind, media(90L, 100L), 3L, idx,
        compactEvery = 2)
      assert(rows(idx) == resumed,
        "replayed epoch must overwrite its own partitions only")
      val flat2 = Files.createTempDirectory("graft-phkf2").toString + "/idx"
      Multimodal.buildPhashIndex(spark, kind, media(0L, 100L), flat2)
      assert(pairs(idx) == pairs(flat2),
        "post-compaction ingest must extend the consolidated corpus")
    }
  }

  test("a probe over more than 32 pb dirs starts no listing job, on either layout") {
    val kind = PhashKind.Image
    val probes = fixture(kind, (0L until 90L).map(_ + 10000L))
      .localCheckpoint()
    // the probe's candidate dirs, by the index's own geometry: 4 blocks
    // of 16 bits, pb = blk * 64 + the block value's top 6 bits
    val probePbs = Multimodal.phashSignatures(spark, probes)
      .select("dhash").collect().map(_.getLong(0)).toSeq
      .flatMap(h => (0 until 4).map(b =>
        b * 64 + (((h >>> (16 * b)) & 0xFFFFL) >> 10).toInt))
      .toSet
    def pbDirs(root: String): Set[Int] = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pb="))
      .map(_.getName.stripPrefix("pb=").toInt).toSet
    val flat = Files.createTempDirectory("graft-phls").toString + "/idx"
    Multimodal.buildPhashIndex(spark, kind, fixture(kind, 0L until 90L), flat)
    val streamed = Files.createTempDirectory("graft-phls-s").toString + "/idx"
    StreamOps.phashIngestBootstrap(kind, fixture(kind, 0L until 45L), streamed)
    StreamOps.phashIngestEpoch(kind, fixture(kind, 45L until 90L), 0L,
      streamed, compactEvery = 0)
    val want = Multimodal.phashDedupAgainst(spark, kind, flat, probes)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    Seq(flat, streamed).foreach { idx =>
      val touched = (probePbs & pbDirs(idx)).size
      assert(touched > 32, s"the probe must touch more than 32 pb dirs: $touched")
      val (got, jobs) = JobRecorder.recording(spark) { r =>
        val got = Multimodal.phashDedupAgainst(spark, kind, idx, probes)
          .collect().map(_.toSeq).toSet
        (got, r)
      }
      assert(got == want, s"$idx: probe changed")
      val listing = jobs.descriptions.filter(_.startsWith("Listing leaf files"))
      assert(listing.isEmpty, s"$idx: the probe started listing jobs: $listing")
    }
  }
}
