package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Multimodal, PngCodec, Similarity}

/** Round-13 randomized properties: the PNG codec under fuzz and random
  * roundtrips (an executor decode must NEVER throw — a malformed crawl
  * payload is None, not a failed job), and retrain-vs-fresh-build
  * bit-identity over seeded random corpora (the fixed-fixture spec in
  * Round13OpsSpec can't rule out a fixture-shaped coincidence). */
class Round13Properties extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("PngCodec.decode never throws on arbitrary bytes (fuzz)") {
    val rng = new scala.util.Random(4242)
    // pure garbage of many lengths
    (0 until 300).foreach { i =>
      val b = Array.fill[Byte](rng.nextInt(400))(rng.nextInt(256).toByte)
      PngCodec.decode(b) // must not throw; value irrelevant
    }
    // structured garbage: valid prefixes with mutations — the hard
    // paths (chunk walk, CRC, inflate, unfilter) all bounds-checked
    val good = PngCodec.encode(
      Array.fill[Byte](36 * 32)(7), 36, 32, 0, r => r % 5, 6)
    (0 until 500).foreach { i =>
      val b = good.clone()
      val flips = 1 + rng.nextInt(4)
      (0 until flips).foreach { _ =>
        b(rng.nextInt(b.length)) = rng.nextInt(256).toByte
      }
      PngCodec.decode(b)
    }
    (0 until 100).foreach { i =>
      PngCodec.decode(good.take(rng.nextInt(good.length)))
    }
    // adversarial header: gigapixel claims are rejected, not allocated
    val bigW = good.clone()
    bigW(16) = 0x00; bigW(17) = 0x10.toByte; bigW(18) = 0; bigW(19) = 0
    assert(PngCodec.decode(bigW).isEmpty) // CRC now wrong anyway — None
  }

  test("codec roundtrip over random sizes, filters, color types") {
    val rng = new scala.util.Random(77)
    (0 until 25).foreach { i =>
      val w = 1 + rng.nextInt(40)
      val h = 1 + rng.nextInt(30)
      val (ct, ch) = Seq((0, 1), (2, 3), (6, 4))(rng.nextInt(3))
      val px = Array.fill[Byte](w * h * ch)(rng.nextInt(256).toByte)
      val filters = Array.fill(h)(rng.nextInt(5))
      val level = 1 + rng.nextInt(9)
      val dec = PngCodec.decode(PngCodec.encode(px, w, h, ct,
        r => filters(r), level))
      assert(dec.isDefined, s"case $i: w=$w h=$h ct=$ct")
      val d = dec.get
      assert(d.width == w && d.height == h)
      (0 until w * h).foreach { j =>
        val want =
          if (ch == 1) px(j) & 0xFF
          else ((px(j * ch) & 0xFF) * 299 + (px(j * ch + 1) & 0xFF) * 587 +
            (px(j * ch + 2) & 0xFF) * 114) / 1000
        assert(d.gray(j) == want, s"case $i px $j")
      }
    }
  }

  test("audioEnvelopeHash never throws on arbitrary bytes (fuzz)") {
    val rng = new scala.util.Random(999)
    (0 until 300).foreach { _ =>
      val b = Array.fill[Byte](rng.nextInt(400))(rng.nextInt(256).toByte)
      Multimodal.audioEnvelopeHash(b)
    }
    val good = Multimodal.AudioHeader.wavBytes(1, 8000, 8,
      Array.fill[Byte](260)(100))
    (0 until 300).foreach { _ =>
      val b = good.clone()
      b(rng.nextInt(b.length)) = rng.nextInt(256).toByte
      Multimodal.audioEnvelopeHash(b)
    }
  }

  test("retrain ≡ fresh same-config build over seeded random corpora") {
    val corpusGen = for {
      n <- Gen.choose(30, 60)
      vecs <- Gen.listOfN(n, Gen.listOfN(4,
        Gen.choose(-4, 8).map(_.toFloat / 4f)))
    } yield vecs
    (1 to 3).foreach { s =>
      val vecs = sample(corpusGen, 1300L + s)
      val base = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val extra = vecs.zipWithIndex
        .map { case (v, i) =>
          (5000L + i, v.toArray.map(x => 1.0f - x)) } // a shifted half
        .toDF("vec_id", "embedding")
      def km(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
        val labeled = df.join(Similarity.kmeansLabels(df, "vec_id",
          "embedding", k = 5, iters = 3, dims = 4, trainMod = 1,
          superAssign = 0), Seq("vec_id"))
        Similarity.buildIvfIndex(labeled, "vec_id", "embedding", "cell",
          path, dims = 4)
      }
      val idx = Files.createTempDirectory(s"graft-r13p-$s").toString + "/i"
      km(base, idx)
      Similarity.appendToIvfIndex(spark, idx, extra, "vec_id",
        "embedding", "cell", dims = 4)
      Similarity.retrainIvfIndex(spark, idx, "vec_id", "embedding",
        dims = 4, k = 5, iters = 3, trainMod = 1, superAssign = 0)
      val fresh = Files.createTempDirectory(s"graft-r13pf-$s")
        .toString + "/i"
      km(base.unionByName(extra), fresh)
      val probes = base.limit(4)
        .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      def rows(p: String) = Similarity.ivfKnnJoinIndexed(spark, p,
        probes, "vec_id", "embedding", "cell", k = 3, nProbe = 2,
        superProbe = 0)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
      assert(rows(idx) == rows(fresh), s"seed $s")
      assert(rows(idx).nonEmpty, s"seed $s: degenerate fixture")
    }
  }
}
