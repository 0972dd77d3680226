package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** The streaming near-dup epoch ([[StreamOps.dedupEpoch]]): how many
  * Spark jobs an epoch costs, that no epoch starts a file-listing job,
  * and admissions plus state files frozen on a seeded three-epoch
  * corpus. */
class DedupEpochSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val vocab = (0 until 600).map(i => s"w$i")

  /** `n` words drawn from [[vocab]] with a fixed seed. */
  private def words(rnd: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))

  /** `ws` with the word at each position in `at` replaced. */
  private def edit(ws: Vector[String], at: Int*): Vector[String] =
    at.foldLeft(ws)((w, i) => w.updated(i, s"edit$i"))

  private def text(ws: Vector[String]) = ws.mkString(" ")

  test("a dedup epoch starts no file-listing job and at most 60% of the jobs it took") {
    // epochs 0 and 1 admit 150 docs each, so each state sets epoch has
    // more than 32 ib= dirs (Spark's parallel-listing threshold); epochs
    // 1 and 2 hold one-word edits of docs admitted by the epochs before
    val rnd = new scala.util.Random(17)
    val e0 = (1 to 150).map(i => (i.toLong, words(rnd, 24)))
    val e1f = (151 to 300).map(i => (i.toLong, words(rnd, 24)))
    val e1 = e1f ++ e0.take(20).map { case (i, w) => (1000L + i, edit(w, 12)) }
    val e2 = (e0.slice(20, 40) ++ e1f.take(20)).map { case (i, w) =>
      (2000L + i, edit(w, 6)) } ++
      (1 to 30).map(i => (3000L + i, words(rnd, 24)))
    val in = Files.createTempDirectory("graft-dej-in").toString
    Seq(e0, e1, e2).foreach { e =>
      e.map { case (i, w) => (i, text(w)) }.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
      // distinct mtimes keep the file source's batch order
      Thread.sleep(1100)
    }
    val out = Files.createTempDirectory("graft-dej-out").toString + "/out"
    val st = Files.createTempDirectory("graft-dej-st").toString + "/st"
    val ck = Files.createTempDirectory("graft-dej-ck").toString
    val schema = spark.read.parquet(in).schema
    val perEpoch = JobRecorder.recording(spark) { r =>
      StreamOps.nearDupDedupTo(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in), out, st, ck, "doc_id", "text", 0.6)
        .awaitTermination()
      (0L to 2L).map(r.of)
    }
    val admitted = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(admitted.count(_ < 1000L) == 300, s"admitted: ${admitted.size}")
    assert(new java.io.File(s"$st/sets/batch=0").listFiles()
      .count(_.getName.startsWith("ib=")) > 32)
    Seq(1, 2).foreach { e =>
      val listing = perEpoch(e).filter(_.startsWith("Listing leaf files"))
      assert(listing.isEmpty, s"epoch $e started listing jobs: $listing")
    }
    // jobs per epoch of the earlier two-pass epoch on this input
    // (in-batch cascade, re-signed representatives, then a state probe
    // reading each candidate epoch through a listing job)
    val earlierJobs = Seq(29, 42, 43)
    Seq(1, 2).foreach { e =>
      assert(perEpoch(e).size <= 0.6 * earlierJobs(e),
        s"epoch $e ran ${perEpoch(e).size} jobs (earlier ${earlierJobs(e)}): " +
          perEpoch(e).mkString("; "))
    }
  }

  /** Relative path → fingerprint of every file that holds state: keys
    * and sets rows (sorted) per data directory, and each summary's bytes. */
  private def stateTree(st: String): Map[String, String] = {
    val root = new java.io.File(st).toPath
    def md5(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString.take(12)
    val files = Files.walk(root).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
    val (parquet, other) = files.partition(_.toString.endsWith(".parquet"))
    val tables = parquet.map(_.getParent).distinct.map { d =>
      val rows = spark.read.parquet(d.toString).collect()
        .map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString("|")).sorted
      root.relativize(d).toString -> md5(rows.mkString("\n").getBytes("UTF-8"))
    }
    (tables ++ other.map(p =>
      root.relativize(p).toString -> md5(Files.readAllBytes(p)))).toMap
  }

  test("golden admissions and state files over three seeded epochs") {
    val rnd = new scala.util.Random(4242)
    val base = (1 to 40).map(i => (i.toLong, words(rnd, 20)))
    val chainA = words(rnd, 20)
    // s: a doc admitted in epoch 0; y edits s once, x edits y once more,
    // so x~y and y~s hold but x≁s: x is y's in-batch representative and
    // is admitted although its cluster mate y is a state dup
    val s = words(rnd, 20)
    val y = edit(s, 4)
    val x = edit(y, 15)
    val e0 = base ++ Seq(
      (41L, base(0)._2), (42L, base(0)._2), (43L, base(1)._2), // exact copies
      (50L, chainA), (51L, edit(chainA, 4)), (52L, edit(chainA, 4, 15)), // a~b~c
      (60L, s))
    val e1 = Seq(
      (100L, base(2)._2), (101L, base(3)._2), // cross-epoch exact copies
      (102L, edit(base(4)._2, 10)), (103L, edit(base(5)._2, 3)), // one-word edits
      (110L, x), (111L, y)) ++
      (1 to 15).map(i => (200L + i, words(rnd, 20)))
    val e2 = Seq(
      (300L, edit(base(6)._2, 9)), (301L, base(7)._2),
      (302L, edit(e1.last._2, 11)), (303L, e1(8)._2), (304L, chainA)) ++
      (1 to 10).map(i => (400L + i, words(rnd, 20)))
    val st = Files.createTempDirectory("graft-deg").toString + "/st"
    val admitted = Seq(e0, e1, e2).zipWithIndex.map { case (e, id) =>
      val b = e.map { case (i, w) => (i, text(w)) }.toDF("doc_id", "text")
        .localCheckpoint()
      val ids = StreamOps.dedupEpoch(b, id.toLong, st, "doc_id", "text", 0.6)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      b.unpersist()
      ids
    }
    val tree = stateTree(st)
    // frozen from the earlier two-pass epoch (separate cascade, then a
    // state probe over the re-signed representatives): epoch 0 keeps 50
    // of the chain 50~51~52 and drops the copies 41-43; epoch 1 drops the
    // cross-epoch copies and edits 100-103 and y (111), and admits x
    // (110), whose cluster mate y matched the state; epoch 2 drops all
    // of 300-304
    val goldenAdmitted = Seq((1L to 40L) ++ Seq(50L, 60L),
      110L +: (201L to 215L), 401L to 410L)
    val goldenTree = Map(
      "keys/batch=0" -> "173304276ab2",
      "keys/batch=1" -> "b8895f6ce7b3",
      "keys/batch=2" -> "0a92c8cdeaab",
      "keysum/batch=0" -> "c80c7ae75667",
      "keysum/batch=1" -> "0c0330b8cf10",
      "keysum/batch=2" -> "abeade5be80f",
      "sets/batch=0/ib=1" -> "5dc0a19f1c64",
      "sets/batch=0/ib=10" -> "9fdbc2adefda",
      "sets/batch=0/ib=11" -> "038ca70be584",
      "sets/batch=0/ib=12" -> "747a9629d1da",
      "sets/batch=0/ib=13" -> "30e840e0716e",
      "sets/batch=0/ib=14" -> "d20d06f826c0",
      "sets/batch=0/ib=15" -> "c394ba2d8062",
      "sets/batch=0/ib=16" -> "460a9e5f59f6",
      "sets/batch=0/ib=17" -> "47c3a674fc77",
      "sets/batch=0/ib=18" -> "9e78e87a899e",
      "sets/batch=0/ib=19" -> "4652f17d686b",
      "sets/batch=0/ib=2" -> "61c97dbc5f24",
      "sets/batch=0/ib=20" -> "aaec23672c3a",
      "sets/batch=0/ib=21" -> "d381b755a261",
      "sets/batch=0/ib=22" -> "cfca5e23c20b",
      "sets/batch=0/ib=23" -> "cffd1f79f9b4",
      "sets/batch=0/ib=24" -> "092f69b490b5",
      "sets/batch=0/ib=25" -> "fe2821910598",
      "sets/batch=0/ib=26" -> "f01673b6b7d2",
      "sets/batch=0/ib=27" -> "23da509720de",
      "sets/batch=0/ib=28" -> "d8bc1cd37625",
      "sets/batch=0/ib=29" -> "5e1cbaea9b82",
      "sets/batch=0/ib=3" -> "162f0bd28eef",
      "sets/batch=0/ib=30" -> "3b27c866f7dd",
      "sets/batch=0/ib=31" -> "8cec5173c628",
      "sets/batch=0/ib=32" -> "a7c26606ddbf",
      "sets/batch=0/ib=33" -> "5a574ddfd862",
      "sets/batch=0/ib=34" -> "ec6ab165dccb",
      "sets/batch=0/ib=35" -> "29c9a8e199ce",
      "sets/batch=0/ib=36" -> "52cb07869205",
      "sets/batch=0/ib=37" -> "b7d1c982ff12",
      "sets/batch=0/ib=38" -> "2e1cca8e55ae",
      "sets/batch=0/ib=39" -> "82dc0286020a",
      "sets/batch=0/ib=4" -> "d05fccc44194",
      "sets/batch=0/ib=40" -> "9e1ef445a11e",
      "sets/batch=0/ib=5" -> "bb6c112b653a",
      "sets/batch=0/ib=50" -> "9145b2bf6662",
      "sets/batch=0/ib=6" -> "5a609813a677",
      "sets/batch=0/ib=60" -> "ef2e94113e71",
      "sets/batch=0/ib=7" -> "7e291846dc79",
      "sets/batch=0/ib=8" -> "f43ccec4e586",
      "sets/batch=0/ib=9" -> "c1f7d6f88628",
      "sets/batch=1/ib=10" -> "f21be05fbb2b",
      "sets/batch=1/ib=11" -> "2c9e088840cc",
      "sets/batch=1/ib=12" -> "9ffb20392530",
      "sets/batch=1/ib=13" -> "4a95ff06f323",
      "sets/batch=1/ib=14" -> "6fefd2f390ee",
      "sets/batch=1/ib=15" -> "fed07a145c9d",
      "sets/batch=1/ib=16" -> "2904ca2088b9",
      "sets/batch=1/ib=17" -> "9a4d60d758f2",
      "sets/batch=1/ib=18" -> "2ca4608a06f3",
      "sets/batch=1/ib=19" -> "8e352b059447",
      "sets/batch=1/ib=20" -> "28ae389b104b",
      "sets/batch=1/ib=21" -> "d4decd353c21",
      "sets/batch=1/ib=22" -> "2b7697ea0f32",
      "sets/batch=1/ib=23" -> "5fb8aebb46e9",
      "sets/batch=1/ib=46" -> "27524190a11a",
      "sets/batch=1/ib=9" -> "12cfc10775c5",
      "sets/batch=2/ib=17" -> "1a76102f0307",
      "sets/batch=2/ib=18" -> "afdcde9b57f2",
      "sets/batch=2/ib=19" -> "76937a05764f",
      "sets/batch=2/ib=20" -> "a1cd59021e9d",
      "sets/batch=2/ib=21" -> "471e0ad19d9a",
      "sets/batch=2/ib=22" -> "aea09f87d0e3",
      "sets/batch=2/ib=23" -> "609ce35bfb09",
      "sets/batch=2/ib=24" -> "7596ebc20a56",
      "sets/batch=2/ib=25" -> "271b2f76d476",
      "sets/batch=2/ib=26" -> "38b2c2d8ea28")
    assert(admitted == goldenAdmitted, s"admitted: $admitted")
    assert(tree == goldenTree, s"tree:\n${tree.toSeq.sorted.mkString("\n")}")
  }
}
