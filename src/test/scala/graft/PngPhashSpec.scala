package graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, Multimodal, PngCodec}

/** Perceptual image near-dup: the pure-JVM PNG codec is pinned against
  * the JDK's OWN ImageIO decoder (an independent implementation of the
  * same spec) in both directions, the dHash against a plain-Scala grid
  * model, the pigeonhole join against brute force, and the end-to-end
  * fixture against an independent pair model. */
class PngPhashSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def rng(seed: Long) = new scala.util.Random(seed)

  private def randPixels(seed: Long, w: Int, h: Int, ch: Int): Array[Byte] = {
    val r = rng(seed)
    Array.fill[Byte](w * h * ch)(r.nextInt(256).toByte)
  }

  private def lumaOf(samples: Array[Byte], ch: Int, i: Int): Int =
    if (ch == 1) samples(i) & 0xFF
    else ((samples(i * ch) & 0xFF) * 299 + (samples(i * ch + 1) & 0xFF) * 587 +
      (samples(i * ch + 2) & 0xFF) * 114) / 1000

  test("codec roundtrip: our encoder, our decoder — all filters, all color types") {
    for ((colorType, ch) <- Seq((0, 1), (2, 3), (6, 4)); filt <- 0 to 4) {
      val w = 17; val h = 11 // deliberately not multiples of anything
      val px = randPixels(colorType * 100 + filt, w, h, ch)
      val bytes = PngCodec.encode(px, w, h, colorType, _ => filt, 6)
      val dec = PngCodec.decode(bytes)
      assert(dec.isDefined, s"ct=$colorType f=$filt")
      val d = dec.get
      assert(d.width == w && d.height == h)
      (0 until w * h).foreach { i =>
        assert(d.gray(i) == lumaOf(px, ch, i), s"ct=$colorType f=$filt px $i")
      }
    }
  }

  test("our encoder's output decodes identically under the JDK's ImageIO") {
    // ImageIO is a fully independent PNG implementation: agreement pins
    // filter math, zlib framing, CRCs and chunk layout at once
    for ((colorType, ch) <- Seq((0, 1), (2, 3)); level <- Seq(1, 9)) {
      val w = 23; val h = 9
      val px = randPixels(7L * colorType + level, w, h, ch)
      val bytes = PngCodec.encode(px, w, h, colorType, r => r % 5, level)
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected ct=$colorType lvl=$level")
      assert(img.getWidth == w && img.getHeight == h)
      // raw raster samples — getRGB would run the gray→sRGB color-space
      // conversion and change the values
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch) {
        val want = px((y * w + x) * ch + c) & 0xFF
        assert(raster.getSample(x, y, c) == want, s"ct=$colorType ($x,$y,$c)")
      }
    }
  }

  test("our decoder handles ImageIO-encoded bytes (foreign encoder)") {
    val w = 19; val h = 13
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val r = rng(42)
    val want = Array.ofDim[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (rr, gg, bb) = (r.nextInt(256), r.nextInt(256), r.nextInt(256))
      img.setRGB(x, y, (rr << 16) | (gg << 8) | bb)
      want(y * w + x) = (rr * 299 + gg * 587 + bb * 114) / 1000
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val dec = PngCodec.decode(bos.toByteArray)
    assert(dec.isDefined, "our decoder rejected an ImageIO PNG")
    assert(dec.get.width == w && dec.get.height == h)
    assert(dec.get.gray.sameElements(want))
  }

  test("re-encoded duplicate: different bytes, identical dHash") {
    val w = 36; val h = 32
    val gray = randPixels(99, w, h, 1)
    val rgb = new Array[Byte](w * h * 3)
    (0 until w * h).foreach { i =>
      rgb(i * 3) = gray(i); rgb(i * 3 + 1) = gray(i); rgb(i * 3 + 2) = gray(i)
    }
    val a = PngCodec.encode(gray, w, h, 0, _ => 0, 6)
    val b = PngCodec.encode(rgb, w, h, 2, r => r % 5, 9)
    assert(!java.util.Arrays.equals(a, b))
    // exact-bytes dedup (mm_dedup's key) misses the pair...
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(!md.digest(a).sameElements(
      java.security.MessageDigest.getInstance("MD5").digest(b)))
    // ...the perceptual hash catches it
    assert(PngCodec.dHashOf(a).get == PngCodec.dHashOf(b).get)
  }

  test("malformed payloads decode to None, never garbage") {
    val good = PngCodec.encode(randPixels(1, 36, 32, 1), 36, 32, 0, r => r % 5, 6)
    assert(PngCodec.decode(good).isDefined)
    // truncated anywhere in the body
    assert(PngCodec.decode(good.take(good.length - 13)).isEmpty)
    assert(PngCodec.decode(good.take(40)).isEmpty)
    // one flipped byte inside IDAT data → chunk CRC mismatch
    val crcBroken = good.clone(); crcBroken(60) = (crcBroken(60) ^ 0x5A).toByte
    assert(PngCodec.decode(crcBroken).isEmpty)
    // CRC-valid IDAT that is not a zlib stream (the fixture's % 11 shape)
    val junk = Multimodal.phashFixtureMedia(spark,
      Seq(11L).toDF("doc_id"), 25).select("content").as[Array[Byte]].head()
    assert(PngCodec.decode(junk).isEmpty)
    // interlaced / 16-bit / palette flags
    def flagged(off: Int, v: Byte): Array[Byte] = {
      val b = good.clone(); b(off) = v
      // re-stamp the IHDR CRC so only the MODE is wrong
      val crc = new java.util.zip.CRC32(); crc.update(b, 12, 4 + 13)
      val bb = java.nio.ByteBuffer.allocate(4); bb.putInt(crc.getValue.toInt)
      System.arraycopy(bb.array(), 0, b, 29, 4)
      b
    }
    assert(PngCodec.decode(flagged(28, 1)).isEmpty) // interlace=1
    assert(PngCodec.decode(flagged(24, 16.toByte)).isEmpty) // bitDepth=16
    assert(PngCodec.decode(flagged(25, 3.toByte)).isEmpty) // palette
    // not a PNG at all
    assert(PngCodec.decode("plain text".getBytes).isEmpty)
    assert(PngCodec.decode(null).isEmpty)
    assert(PngCodec.decode(Array.emptyByteArray).isEmpty)
    // FDICT zlib header (0x78 0x20: valid check, preset-dictionary bit
    // set): Inflater returns 0 with needsInput FALSE — must reject, not
    // spin forever (the needsInput-only break hung on this payload)
    val fdict = {
      val data = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5, 6, 7, 8)
      val out = new java.io.ByteArrayOutputStream()
      out.write(good, 0, 33)
      val crc = new java.util.zip.CRC32()
      crc.update("IDAT".getBytes); crc.update(data)
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put("IDAT".getBytes).put(data)
        .putInt(crc.getValue.toInt)
      out.write(bb.array())
      val ic = new java.util.zip.CRC32(); ic.update("IEND".getBytes)
      val ie = java.nio.ByteBuffer.allocate(12)
      ie.putInt(0).put("IEND".getBytes).putInt(ic.getValue.toInt)
      out.write(ie.array())
      out.toByteArray
    }
    assert(PngCodec.decode(fdict).isEmpty)
  }

  test("dHash grid: 4x4-constant cells reproduce the cell arithmetic exactly") {
    for (g <- Seq(0L, 7L, 24L); v <- 0L to 2L) {
      val px = new Array[Byte](36 * 32)
      for (y <- 0 until 32; x <- 0 until 36)
        px(y * 36 + x) = Multimodal.phashFixtureGray(g, v, y / 4, x / 4).toByte
      val got = PngCodec.dHash64(
        px.map(_ & 0xFF), 36, 32).get
      var want = 0L
      for (cy <- 0 until 8; cx <- 0 until 8)
        if (Multimodal.phashFixtureGray(g, v, cy, cx) >
          Multimodal.phashFixtureGray(g, v, cy, cx + 1))
          want |= 1L << (cy * 8 + cx)
      assert(got == want, s"g=$g v=$v")
    }
  }

  test("hammingNearPairs matches brute force, including set sign bits") {
    val r = rng(1234)
    // force collisions: draw from a small pool of base hashes + noise,
    // and include values with bit 63 set (negative longs)
    val bases = Array.fill(6)(r.nextLong())
    val sigs = (0L until 80L).map { i =>
      val base = bases(r.nextInt(bases.length))
      val flips = r.nextInt(6)
      val h = (0 until flips).foldLeft(base)((acc, _) => acc ^ (1L << r.nextInt(64)))
      (i, h)
    }
    val df = sigs.toDF("doc_id", "dhash")
    for (maxHamming <- Seq(0, 1, 3)) {
      val got = Dedup.hammingNearPairs(df, "doc_id", "dhash", maxHamming, 64)
        .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2))).toSet
      val want = (for {
        (ia, ha) <- sigs; (ib, hb) <- sigs if ia < ib
        d = java.lang.Long.bitCount(ha ^ hb) if d <= maxHamming
      } yield (ia, ib, d)).toSet
      assert(got == want, s"k=$maxHamming")
    }
  }

  test("end-to-end fixture pairs match an independent plain-Scala model") {
    val ids = (0L until 120L).toDF("doc_id")
    val media = Multimodal.phashFixtureMedia(spark, ids, groups = 25)
    val got = Multimodal.phashNearDup(spark, media, maxHamming = 3)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2))).toSet

    // independent model: hash from the fixture arithmetic, no codec
    def modelHash(id: Long): Option[Long] = {
      if (id % 11 == 0) return None
      val v = id % 3; val g = (id / 3) % 25
      var h = 0L
      for (cy <- 0 until 8; cx <- 0 until 8)
        if (Multimodal.phashFixtureGray(g, v, cy, cx) >
          Multimodal.phashFixtureGray(g, v, cy, cx + 1))
          h |= 1L << (cy * 8 + cx)
      Some(h)
    }
    val hashes = (0L until 120L).flatMap(i => modelHash(i).map(i -> _))
    val want = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // the re-encoded shape is present: some pair with hamming 0 whose
    // raw bytes differ (v0 gray/level-6 vs v1 truecolor/level-9)
    val contents = media.select("doc_id", "content")
      .as[(Long, Array[Byte])].collect().toMap
    val reenc = want.find { case (a, b, d) =>
      d == 0 && a % 3 == 0 && b % 3 == 1 && a / 3 % 25 == b / 3 % 25 }
    assert(reenc.isDefined)
    val (pa, pb, _) = reenc.get
    assert(!java.util.Arrays.equals(contents(pa), contents(pb)))

    // clusters: connected components over the same pair graph — compare
    // against a plain-Scala union-find over the model pairs; singletons
    // label themselves, corrupt (% 11) docs emit no row
    val gotClusters = graft.functions.Multimodal
      .phashClusters(spark, media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    hashes.foreach { case (id, _) => parent(id) = id }
    want.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantClusters = hashes.map { case (id, _) => (id, find(id)) }.toSet
    assert(gotClusters == wantClusters)
    assert(gotClusters.map(_._1) == hashes.map(_._1).toSet)
  }

  test("persisted phash index: build ≡ build+append ≡ brute force; edges") {
    import graft.functions.Multimodal
    val corpusIds = (0L until 90L).toDF("doc_id")
    val corpus = Multimodal.phashFixtureMedia(spark, corpusIds, groups = 25)
    val probes = Multimodal.phashFixtureMedia(spark,
      (0L until 90L).map(_ + 10000L).toDF("doc_id"), groups = 25)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val built = java.nio.file.Files.createTempDirectory("graft-phidx")
      .toString + "/idx"
    Multimodal.buildPhashIndex(spark, Multimodal.PhashKind.Image, corpus,
      built)
    val got = pairsOf(Multimodal.phashDedupAgainst(spark,
      Multimodal.PhashKind.Image, built, probes))

    // brute force over the two signature sets
    val cs = Multimodal.phashSignatures(spark, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ps = Multimodal.phashSignatures(spark, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (pid, ph) <- ps; (cid, ch) <- cs
      d = java.lang.Long.bitCount(ph ^ ch) if d <= 3
    } yield (pid, cid, d)).toSet
    assert(got == want && want.nonEmpty)

    // build-half + append-half lands the identical layout
    val appended = java.nio.file.Files.createTempDirectory("graft-phidx-a")
      .toString + "/idx"
    Multimodal.buildPhashIndex(spark, Multimodal.PhashKind.Image,
      corpus.filter(col("doc_id") % 2 === 0), appended)
    Multimodal.appendToPhashIndex(spark, Multimodal.PhashKind.Image,
      corpus.filter(col("doc_id") % 2 === 1), appended)
    assert(pairsOf(
      Multimodal.phashDedupAgainst(spark, Multimodal.PhashKind.Image,
        appended, probes)) == want)

    // edges: missing index → empty with the contract schema; a batch of
    // only undecodable payloads probes nothing
    val gone = pairsOf(Multimodal.phashDedupAgainst(spark,
      Multimodal.PhashKind.Image, built + "_nonexistent", probes))
    assert(gone.isEmpty)
    val corrupt = Multimodal.phashFixtureMedia(spark,
      Seq(11L, 22L).toDF("doc_id"), groups = 25)
    assert(pairsOf(
      Multimodal.phashDedupAgainst(spark, Multimodal.PhashKind.Image,
        built, corrupt)).isEmpty)

    // pruning: a one-doc probe batch must leave most partition dirs
    // unread — proxy: its candidate pb set is ≤ 4 dirs of the layout's
    val one = Multimodal.phashFixtureMedia(spark,
      Seq(1L).toDF("doc_id"), groups = 25)
    val sig1 = Multimodal.phashSignatures(spark, one)
      .collect().map(_.getLong(1))
    assert(sig1.length == 1)
    val pbs = (0 until 4).map(b =>
      b * 64 + (((sig1.head >>> (b * 16)) & 0xFFFFL) >> 10).toInt).toSet
    assert(pbs.size <= 4)
    val dirs = new java.io.File(built).listFiles()
      .count(_.getName.startsWith("pb="))
    assert(dirs > pbs.size, "fixture too small to demonstrate pruning")
  }
}
