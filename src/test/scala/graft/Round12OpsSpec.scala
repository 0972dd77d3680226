package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Multimodal, Similarity}
import graft.streaming.StreamOps

/** Round-12: regression specs for the round-11 advice items — the
  * strictly-earlier-epoch line-state contract and the media fixtures'
  * adversarial-payload guards. */
class Round12OpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("lineStateEpoch: replaying a LOWER-id epoch ignores later promotions") {
    val st = Files.createTempDirectory("graft-r12-ls").toString + "/ls"
    val boiler = "subscribe to our newsletter for the best daily updates"
    def doc(id: Long, lines: String*) = (id, lines.mkString("\n"))
    def strip(batch: Seq[(Long, String)], id: Long) =
      StreamOps.lineStateEpoch(batch.toDF("doc_id", "text"), id, st,
        "doc_id", "text", None)
        .select("doc_id", "text", "n_lines_removed").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val e0 = Seq(doc(1, boiler, "epoch zero unique body line one"))
    val r0a = strip(e0, 0L)
    assert(r0a(1)._1.contains(boiler), "below minDocs — kept")
    // epoch 1 crosses minDocs = 2 (prior 1 + these 1..2) → promoted AT 1
    strip(Seq(doc(10, boiler, "epoch one unique body line ten"),
      doc(11, boiler, "epoch one unique body line eleven")), 1L)
    assert(spark.read.parquet(s"$st/promoted").filter(col("batch") === 1L)
      .count() >= 1, "epoch 1 must have promoted the boilerplate")
    def batch0State(t: String) = spark.read.parquet(s"$st/$t")
      .filter(col("batch") === 0L).collect().map(_.toString).sorted.toSeq
    val (c0, p0) = (batch0State("counts"), batch0State("promoted"))
    // the replayed epoch 0 must see only batches < 0 (none): identical
    // output and identical batch-0 state, NOT a strip against epoch 1's
    // "future" promotion
    val r0b = strip(e0, 0L)
    assert(r0b == r0a, s"replayed epoch 0 diverged: $r0b vs $r0a")
    assert(r0b(1)._1.contains(boiler) && r0b(1)._2 == 0L,
      "replay stripped against a future promotion")
    assert(batch0State("counts") == c0 && batch0State("promoted") == p0,
      "replayed epoch-0 state diverged")
  }

  test("asVideoMedia rejects text/plain rows whose bytes parse as MP4") {
    // an all-ASCII MP4 container round-trips String <-> UTF-8 exactly,
    // so adversarial "text" CAN be a structurally valid container
    val mp4 = Multimodal.VideoHeader.mp4Bytes("isom", timescale = 600,
      duration = 100L, w = 64, h = 48, v1 = false,
      payload = "x".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    assume(mp4.forall(_ >= 0), "fixture bytes must all be ASCII")
    val text = new String(mp4, java.nio.charset.StandardCharsets.UTF_8)
    assert(java.util.Arrays.equals(
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8), mp4),
      "the crafted text must round-trip byte-exact")
    assert(Multimodal.VideoHeader.parse(mp4).isDefined)
    val df = Seq((7L, text)).toDF("doc_id", "text") // 7 % 7 == 0: fallback row
    val ex = intercept[Throwable] {
      Multimodal.asVideoMedia(spark, df, "doc_id", "text").collect()
    }
    assert(messages(ex).exists(_.contains("parse as an MP4 container")),
      s"wrong failure: ${messages(ex).mkString(" | ")}")
    // a non-multiple-of-7 id wraps the same text as video/mp4 fine
    val ok = Multimodal.asVideoMedia(spark,
      Seq((8L, text)).toDF("doc_id", "text"), "doc_id", "text").collect()
    assert(ok.head.getString(1) == "video/mp4")
  }

  test("asAudioMedia rejects text/plain rows whose bytes parse as WAV") {
    // channels=2 keeps every derived field (rate 8000, byteRate 32000)
    // under 0x80 per byte — all-ASCII, so it round-trips as a String
    val wav = Multimodal.AudioHeader.wavBytes(2, 8000, 16,
      "y".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    assume(wav.forall(_ >= 0), "fixture bytes must all be ASCII")
    val text = new String(wav, java.nio.charset.StandardCharsets.UTF_8)
    assert(java.util.Arrays.equals(
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8), wav))
    assert(Multimodal.AudioHeader.parse(wav).isDefined)
    val df = Seq((14L, text)).toDF("doc_id", "text")
    val ex = intercept[Throwable] {
      Multimodal.asAudioMedia(spark, df, "doc_id", "text").collect()
    }
    assert(messages(ex).exists(_.contains("parse as an audio container")),
      s"wrong failure: ${messages(ex).mkString(" | ")}")
  }

  test("text_compress_ratio: self-verifying invariants hold at sf0.001") {
    val out = SparkEntry.queries("text_compress_ratio")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 500)
    assert(out.forall(_.getBoolean(2)), "deflate bound violated")
    assert(out.forall(_.getBoolean(3)), "separation covariance violated")
    // and the exact column really is the byte length
    val nb = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), octet_length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall(r => nb(r.getLong(0)) == r.getLong(1)))
  }

  // ---- O(delta) IVF centers refresh (round-12 verdict task 2) --------

  private def ivfCorpus = Seq(
    (0L, "a", Array(1.0f, 0.1f, 0.0f, 0.0f)),
    (1L, "a", Array(1.0f, 0.2f, 0.0f, 0.0f)),
    (2L, "b", Array(0.1f, 1.0f, 0.0f, 0.0f)),
    (3L, "b", Array(0.2f, 1.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "label", "embedding")
  // suffix ids (min 4 > indexed max 3) — the monotone ingest shape;
  // grows cell b AND opens a new cell c
  private def suffixBatch = Seq(
    (4L, "b", Array(0.15f, 1.0f, 0.0f, 0.0f)),
    (5L, "c", Array(0.0f, 0.0f, 1.0f, 0.1f)),
    (6L, "c", Array(0.0f, 0.0f, 0.9f, 0.1f)))
    .toDF("vec_id", "label", "embedding")
  private def ivfProbes = Seq(
    (100L, Array(0.1f, 1.0f, 0.0f, 0.0f)),
    (200L, Array(0.0f, 0.0f, 1.0f, 0.05f)))
    .toDF("probe_id", "__pv")
  private def probeBits(path: String) =
    Similarity.ivfKnnJoinIndexed(spark, path, ivfProbes, "vec_id",
      "embedding", "label", k = 3, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
  private def centerBits(dir: String) =
    spark.read.parquet(dir).collect().map(r => r.getString(0) ->
      r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)).toMap
  private def csumBits(dir: String) =
    spark.read.parquet(dir)
      .select(col("label"), col("__chunk"), col("__psums"), col("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getSeq[Double](2).map(java.lang.Double.doubleToLongBits),
          r.getLong(3)))).toMap
  private def freshIvf(df: org.apache.spark.sql.DataFrame): String = {
    val p = Files.createTempDirectory("graft-r12-ivf").toString + "/idx"
    Similarity.buildIvfIndex(df, "vec_id", "embedding", "label", p, dims = 4)
    p
  }

  test("monotone append takes the incremental csums path, bit ≡ rebuild") {
    val appended = freshIvf(ivfCorpus)
    assert(Similarity.appendToIvfIndex(spark, appended, suffixBatch,
      "vec_id", "embedding", "label", dims = 4),
      "suffix-id batch must take the incremental path")
    val rebuilt = freshIvf(ivfCorpus.unionByName(suffixBatch))
    // the whole index state matches a from-scratch build bit-for-bit:
    // probe results, the centers table, and the csums fold state
    assert(probeBits(appended) == probeBits(rebuilt))
    assert(centerBits(s"$appended/centers") == centerBits(s"$rebuilt/centers"))
    assert(csumBits(s"$appended/csums") == csumBits(s"$rebuilt/csums"))
    // and the appended cell c is reachable
    assert(probeBits(appended).exists { case (p, _, n, _) =>
      p == 200L && n == 5L })
  }

  test("interleaved ids fall back to the full recompute, then go fast") {
    val evens = ivfCorpus.filter(col("vec_id") % 2 === 0)
    val odds = ivfCorpus.filter(col("vec_id") % 2 === 1)
    val appended = freshIvf(evens)
    assert(!Similarity.appendToIvfIndex(spark, appended, odds,
      "vec_id", "embedding", "label", dims = 4),
      "interleaved ids must fall back")
    val rebuilt = freshIvf(ivfCorpus)
    assert(probeBits(appended) == probeBits(rebuilt))
    assert(csumBits(s"$appended/csums") == csumBits(s"$rebuilt/csums"),
      "the fallback must also rebuild the csums")
    // the fallback rewrote the marker: a following monotone batch is fast
    assert(Similarity.appendToIvfIndex(spark, appended, suffixBatch,
      "vec_id", "embedding", "label", dims = 4))
    assert(probeBits(appended) ==
      probeBits(freshIvf(ivfCorpus.unionByName(suffixBatch))))
  }

  test("every crash window degrades to the full recompute, never to stale csums") {
    // first half of a crashed append: marker deleted, lists appended,
    // csums/centers untouched — exactly appendToIvfIndex's write order
    val path = freshIvf(ivfCorpus)
    Similarity.deleteCsumsMarker(spark, path)
    suffixBatch.select(col("vec_id"), col("embedding"), col("label"),
        Similarity.norm(col("embedding")).as("__cn"),
        col("label").cast("string").as("__cellkey"))
      .write.mode("append").partitionBy("__cellkey")
      .parquet(s"$path/lists")
    assert(Similarity.readCsumsMarker(spark, path).isEmpty)
    // next monotone append: no marker → fallback, state converges to the
    // three-batch rebuild
    val more = Seq((7L, "c", Array(0.0f, 0.1f, 0.95f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
    assert(!Similarity.appendToIvfIndex(spark, path, more,
      "vec_id", "embedding", "label", dims = 4))
    val rebuilt = freshIvf(
      ivfCorpus.unionByName(suffixBatch).unionByName(more))
    assert(probeBits(path) == probeBits(rebuilt))
    assert(csumBits(s"$path/csums") == csumBits(s"$rebuilt/csums"))
  }

  test("legacy index (no csums) self-migrates through the fallback") {
    val path = freshIvf(ivfCorpus)
    // a round-11 index has neither csums nor marker
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/csums"), true)
    Similarity.deleteCsumsMarker(spark, path)
    assert(!Similarity.appendToIvfIndex(spark, path,
      suffixBatch.filter(col("vec_id") === 4L),
      "vec_id", "embedding", "label", dims = 4))
    assert(Similarity.readCsumsMarker(spark, path).isDefined,
      "the fallback must create the csums + marker")
    assert(Similarity.appendToIvfIndex(spark, path,
      suffixBatch.filter(col("vec_id") > 4L),
      "vec_id", "embedding", "label", dims = 4),
      "post-migration monotone append must be incremental")
    assert(probeBits(path) ==
      probeBits(freshIvf(ivfCorpus.unionByName(suffixBatch))))
  }

  test("auto nProbe (-1): ceil(2*sqrt(K)) with a floor of 2, explicit wins") {
    assert(Similarity.resolveNProbe(1, -1) == 2)
    assert(Similarity.resolveNProbe(4, -1) == 4)
    assert(Similarity.resolveNProbe(16, -1) == 8)
    assert(Similarity.resolveNProbe(40, -1) == 14)   // 1x probe harness
    assert(Similarity.resolveNProbe(1000, -1) == 64) // 100x probe harness
    assert(Similarity.resolveNProbe(4000, 2) == 2)   // explicit pin wins
    assert(Similarity.resolveNProbe(4000, 0) == 0)   // 0 keeps probe-nothing
    // wiring: the auto probe is bit-identical to the explicit width the
    // rule resolves to (2 cells here — both corpus cells probed)
    val path = freshIvf(ivfCorpus)
    val auto = Similarity.ivfKnnJoinIndexed(spark, path, ivfProbes,
      "vec_id", "embedding", "label", k = 3, nProbe = -1).collect()
      .map(_.toString).sorted.toSeq
    val explicit = Similarity.ivfKnnJoinIndexed(spark, path, ivfProbes,
      "vec_id", "embedding", "label", k = 3, nProbe = 2).collect()
      .map(_.toString).sorted.toSeq
    assert(auto == explicit && auto.nonEmpty)
  }

  test("special-charactered labels round-trip the fast path (escaped dirs)") {
    // Spark escapes partition values in dir names ("a/b" → "a%2Fb"); the
    // fast path's explicit-subdir csums read must match the ESCAPED name
    // or it silently treats the cell's stored fold state as absent and
    // replaces it with a batch-only fold
    val weird = Seq(
      (0L, "a/b", Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, "a/b", Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, "c:d e", Array(0.1f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val more = Seq((3L, "a/b", Array(1.0f, 0.15f, 0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val appended = freshIvf(weird)
    assert(Similarity.appendToIvfIndex(spark, appended, more,
      "vec_id", "embedding", "label", dims = 4),
      "monotone append on escaped labels must stay incremental")
    val rebuilt = freshIvf(weird.unionByName(more))
    assert(centerBits(s"$appended/centers") == centerBits(s"$rebuilt/centers"),
      "the escaped cell's stored fold state was not continued")
    assert(csumBits(s"$appended/csums") == csumBits(s"$rebuilt/csums"))
  }

  test("build derives centers through csums bit ≡ the inline fold") {
    val path = freshIvf(ivfCorpus)
    val inline = Similarity.cellCentersOf(ivfCorpus, "label", "vec_id",
      "embedding", dims = 4).collect().map(r => r.getString(0) ->
      r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)).toMap
    assert(centerBits(s"$path/centers") == inline)
  }

  test("a ragged APPEND batch is rejected BEFORE any write lands") {
    val path = freshIvf(ivfCorpus)
    val before = spark.read.parquet(s"$path/lists").count()
    val ragged = Seq((9L, "a", Array(1.0f, 0.2f, 0.3f))) // 3-wide, dims=4
      .toDF("vec_id", "label", "embedding")
    val ex = intercept[Throwable] {
      Similarity.appendToIvfIndex(spark, path, ragged,
        "vec_id", "embedding", "label", dims = 4)
    }
    assert(messages(ex).exists(_.contains("fixed-width")))
    // the index is untouched: no poisoned rows, marker still valid, and
    // a good append afterwards still takes the incremental path
    assert(spark.read.parquet(s"$path/lists").count() == before)
    assert(Similarity.readCsumsMarker(spark, path).isDefined)
    assert(Similarity.appendToIvfIndex(spark, path, suffixBatch,
      "vec_id", "embedding", "label", dims = 4))
  }

  test("ragged vectors are rejected loudly by the fixed-width contract") {
    val ragged = Seq((0L, "a", Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, "a", Array(1.0f, 0.2f, 0.3f))) // 3-wide at dims = 4
      .toDF("vec_id", "label", "embedding")
    val p = Files.createTempDirectory("graft-r12-rag").toString + "/idx"
    val ex = intercept[Throwable] {
      Similarity.buildIvfIndex(ragged, "vec_id", "embedding", "label", p,
        dims = 4)
    }
    assert(messages(ex).exists(_.contains("fixed-width")),
      s"wrong failure: ${messages(ex).mkString(" | ")}")
  }
}
