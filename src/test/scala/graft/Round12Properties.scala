package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, Similarity}
import graft.streaming.StreamOps

/**
 * Property obligation for the round-12 verdict: the persisted dedup
 * index's READ-side contract under its whole maintenance lifecycle.
 * Appended files are read beside compacted ones between appends and
 * compactions; single-writer discipline is documented, but nothing
 * pinned that a probe taken at ANY point of an interleaved
 * append/compact sequence equals the inline dedup over exactly the
 * documents admitted so far — the way RowKeyProperties pinned the JDBC
 * apply side. Randomized op sequences (append / compact / probe) run
 * against a live index; every probe is bit-compared against
 * [[Dedup.dedupAgainst]] over the accumulated corpus (the oracle-proven
 * inline form — "rebuild probe" — since a fresh index over the same
 * corpus IS the inline computation, Round7OpsSpec).
 */
class Round12Properties extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // deterministic text: enough words that 3-gram shingle sets are
  // meaningful; a near-dup APPENDS one word (10/11 shingles shared,
  // jac ~0.91 >= 0.8) while a fresh doc draws a disjoint word window
  private def freshText(k: Long): String =
    (0 until 12).map(i => s"w${k * 12 + i}").mkString(" ")
  private def nearDupOf(text: String, salt: Long): String =
    s"$text extra$salt"

  /** One scenario: op codes (0 = append, 1 = compact, 2 = probe) plus a
    * choice stream that drives batch composition deterministically. */
  private val scenarioGen: Gen[(List[Int], Long)] = for {
    n <- Gen.choose(5, 8)
    ops <- Gen.listOfN(n, Gen.frequency(3 -> 0, 2 -> 1, 3 -> 2))
    choices <- Gen.choose(0L, Long.MaxValue / 2)
  } yield (ops, choices)

  private def rows(df: DataFrame): Set[(Long, Option[Long], Option[Long], Boolean)] =
    df.collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))),
        r.getBoolean(3))
    }.toSet

  test("property: probes between interleaved appends/compactions ≡ inline dedup over the admitted corpus") {
    val scenarios = PropertySamples.samples(scenarioGen, 5, 12042L)
    assert(scenarios.nonEmpty)
    val allOps = scala.collection.mutable.Set.empty[Int]
    scenarios.zipWithIndex.foreach { case ((ops0, choices), si) =>
      // every scenario ends in a probe; the generated middle varies
      val ops = 0 :: ops0 ::: List(2)
      ops.foreach(allOps += _)
      var rng = choices
      def nextChoice(bound: Int): Int = {
        rng = rng * 6364136223846793005L + 1442695040888963407L
        math.floorMod(rng.toInt, bound)
      }
      val path = Files.createTempDirectory(s"graft-r12p-$si").toString + "/idx"
      var nextId = 1000L
      var admitted = (0 until 10).map { i =>
        (i.toLong, freshText(si * 10000L + i))
      }
      Dedup.buildDedupIndex(
        admitted.toDF("doc_id", "text"), "doc_id", "text", path)
      var probed = 0
      ops.foreach {
        case 0 => // append: a mix of near-dups of admitted docs and fresh
          val batch = (0 until (2 + nextChoice(3))).map { j =>
            val id = nextId + j
            val text =
              if (nextChoice(2) == 0)
                nearDupOf(admitted(nextChoice(admitted.size))._2, id)
              else freshText(si * 10000L + id)
            (id, text)
          }
          nextId += 100L
          Dedup.appendToDedupIndex(batch.toDF("doc_id", "text"),
            "doc_id", "text", path)
          admitted = admitted ++ batch
        case 1 =>
          Dedup.compactDedupIndex(spark, path)
        case _ => // probe: read-only, ids never enter the corpus
          val probe = (0 until (2 + nextChoice(3))).map { j =>
            val id = 900000L + probed * 100L + j
            val text =
              if (nextChoice(2) == 0)
                nearDupOf(admitted(nextChoice(admitted.size))._2, id)
              else freshText(si * 10000L + id)
            (id, text)
          }.toDF("doc_id", "text").localCheckpoint()
          probed += 1
          val got = rows(Dedup.dedupAgainstIndexed(spark, path, probe,
            "doc_id", "text", 0.8))
          val want = rows(Dedup.dedupAgainst(probe,
            admitted.toDF("doc_id", "text"), "doc_id", "text", 0.8))
          assert(got == want,
            s"scenario $si ops=$ops probe#$probed diverged:\n got=$got\nwant=$want")
          // sanity: a probe must produce one verdict row per probe doc
          assert(got.size == probe.count())
      }
    }
    // the sampled scenarios jointly exercise every op type
    assert(allOps == Set(0, 1, 2),
      s"sampled scenarios missed an op type: $allOps")
  }

  // ---- csums centroid arithmetic vs an independent Scala model -------

  /** The centroid arithmetic re-implemented from the SPEC, sharing no
    * library code: chunk = first-7-md5-hex(id) mod 1024; per
    * (label, chunk) the per-position left fold over ids ascending; per
    * (label, pos) the left fold over chunk partials in chunk order,
    * divided by the count. Bit-compared against the index's centers so
    * a shared-code bug in the build/append/fallback paths cannot
    * self-confirm. */
  private def modelCenters(rows: Seq[(Long, String, Array[Float])],
                           dims: Int): Map[String, Seq[Long]] = {
    def chunk(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 7)
      java.lang.Long.parseLong(hex, 16) % 1024L
    }
    rows.groupBy(_._2).map { case (label, rs) =>
      val byChunk = rs.groupBy(r => chunk(r._1))
      val center = (0 until dims).map { p =>
        val (sum, n) = byChunk.toSeq.sortBy(_._1)
          .foldLeft((0.0, 0L)) { case ((acc, cnt), (_, group)) =>
            val psum = group.sortBy(_._1)
              .foldLeft(0.0)((a, r) => a + r._3(p).toDouble)
            (acc + psum, cnt + group.size)
          }
        java.lang.Double.doubleToLongBits(sum / n)
      }
      label -> center
    }
  }

  private val csumsGen: Gen[(Seq[(Long, String, Array[Float])], Int)] = for {
    n <- Gen.choose(4, 16)
    ids <- Gen.pick(n, 0L to 60L)
    labels <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    vecs <- Gen.listOfN(n, Gen.listOfN(4,
      Gen.chooseNum(-2.0f, 2.0f)))
    cut <- Gen.choose(1, n - 1) // monotone split point (by sorted id)
  } yield (ids.toSeq.sorted.lazyZip(labels).lazyZip(vecs)
    .map((i, l, v) => (i, l, v.toArray)).toSeq, cut)

  test("property: built+appended centers ≡ an independent Scala fold model") {
    PropertySamples.samples(csumsGen, 6, 12043L).zipWithIndex.foreach {
      case ((rows, cut), si) =>
        val (base, batch) = rows.splitAt(cut) // batch ids all above base's
        val path = Files.createTempDirectory(s"graft-r12c-$si").toString + "/idx"
        Similarity.buildIvfIndex(base.toDF("vec_id", "label", "embedding"),
          "vec_id", "embedding", "label", path, dims = 4)
        assert(Similarity.appendToIvfIndex(spark, path,
          batch.toDF("vec_id", "label", "embedding"),
          "vec_id", "embedding", "label", dims = 4),
          s"scenario $si: monotone batch must go incremental")
        val got = spark.read.parquet(s"$path/centers").collect()
          .map(r => r.getString(0) -> r.getSeq[Double](1)
            .map(java.lang.Double.doubleToLongBits)).toMap
        val want = modelCenters(rows, dims = 4)
        assert(got == want,
          s"scenario $si: centers diverge from the model\n got=$got\nwant=$want")
        // the interleaved arm (odd/even split) exercises the FALLBACK
        // against the same model — the set-fold is split-independent
        val evens = rows.zipWithIndex.filter(_._2 % 2 == 0).map(_._1)
        val odds = rows.zipWithIndex.filter(_._2 % 2 == 1).map(_._1)
        if (evens.nonEmpty && odds.nonEmpty) {
          val p2 = Files.createTempDirectory(s"graft-r12ci-$si").toString + "/idx"
          Similarity.buildIvfIndex(
            evens.toDF("vec_id", "label", "embedding"),
            "vec_id", "embedding", "label", p2, dims = 4)
          Similarity.appendToIvfIndex(spark, p2,
            odds.toDF("vec_id", "label", "embedding"),
            "vec_id", "embedding", "label", dims = 4)
          val got2 = spark.read.parquet(s"$p2/centers").collect()
            .map(r => r.getString(0) -> r.getSeq[Double](1)
              .map(java.lang.Double.doubleToLongBits)).toMap
          assert(got2 == want, s"scenario $si: fallback diverges from model")
        }
    }
  }

  // ---- streaming ingest epoch sequences vs the batch rebuild ---------

  private val ingestGen: Gen[(Seq[(Long, String, Array[Float])], List[Int])] =
    for {
      n <- Gen.choose(6, 14)
      ids <- Gen.pick(n, 0L to 80L)
      labels <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
      vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-2.0f, 2.0f)))
      // epoch sizes partitioning the rows; MONOTONE epochs = sorted ids
      // split sequentially; an occasional shuffle arm exercises rebuilds
      cuts <- Gen.listOfN(2, Gen.choose(1, math.max(1, n - 2)))
    } yield (ids.toSeq.sorted.lazyZip(labels).lazyZip(vecs)
      .map((i, l, v) => (i, l, v.toArray)).toSeq,
      cuts.distinct.sorted)

  test("property: streamed epoch sequences (fold and rebuild arms) ≡ batch rebuild") {
    PropertySamples.samples(ingestGen, 4, 12044L).zipWithIndex.foreach {
      case ((rows, cuts), si) =>
        // split the id-sorted rows into sequential epochs (monotone —
        // every epoch folds) and ALSO run a reversed-epoch arm (the
        // first post-seed epoch has LOWER ids — rebuild path), both
        // bit-compared to one batch build over the union
        val bounds = (0 +: cuts :+ rows.size).distinct.sorted
        val epochs = bounds.sliding(2).map { case Seq(a, b) =>
          rows.slice(a, b) }.filter(_.nonEmpty).toSeq
        def run(eps: Seq[Seq[(Long, String, Array[Float])]],
                tag: String): Set[String] = {
          val idx = Files.createTempDirectory(
            s"graft-r12i-$tag-$si").toString + "/idx"
          StreamOps.ivfIngestBootstrap(
            eps.head.toDF("vec_id", "label", "embedding"), idx,
            "vec_id", "embedding", "label", dims = 4)
          eps.tail.zipWithIndex.foreach { case (e, i) =>
            StreamOps.ivfIngestEpoch(
              e.toDF("vec_id", "label", "embedding"), i.toLong, idx,
              "vec_id", "embedding", "label", dims = 4)
          }
          spark.read.parquet(s"$idx/centers").collect()
            .map(r => r.getString(0) + ":" + r.getSeq[Double](1)
              .map(java.lang.Double.doubleToLongBits).mkString(","))
            .toSet
        }
        val rebuilt = {
          val p = Files.createTempDirectory(s"graft-r12i-r-$si").toString
          Similarity.buildIvfIndex(rows.toDF("vec_id", "label", "embedding"),
            "vec_id", "embedding", "label", p, dims = 4)
          spark.read.parquet(s"$p/centers").collect()
            .map(r => r.getString(0) + ":" + r.getSeq[Double](1)
              .map(java.lang.Double.doubleToLongBits).mkString(","))
            .toSet
        }
        assert(run(epochs, "fwd") == rebuilt,
          s"scenario $si: monotone epoch stream diverged from the rebuild")
        if (epochs.size > 1)
          assert(run(epochs.reverse, "rev") == rebuilt,
            s"scenario $si: reversed (rebuild-path) stream diverged")
    }
  }

  test("property: appends after a compaction keep folding (delta → base → delta)") {
    // the fixed lifecycle the random walk may not hit: append → compact
    // → append → probe, verifying the SECOND append generation is probed
    // beside the first, already compacted into the base files
    val path = Files.createTempDirectory("graft-r12p-cycle").toString + "/idx"
    val corpus = (0 until 8).map(i => (i.toLong, freshText(777000L + i)))
    Dedup.buildDedupIndex(corpus.toDF("doc_id", "text"),
      "doc_id", "text", path)
    val b1 = Seq((2000L, nearDupOf(corpus(3)._2, 2000L)),
      (2001L, freshText(777100L)))
    Dedup.appendToDedupIndex(b1.toDF("doc_id", "text"), "doc_id", "text", path)
    Dedup.compactDedupIndex(spark, path)
    val b2 = Seq((2100L, nearDupOf(b1.head._2, 2100L)), // dup of a 1st-gen append
      (2101L, freshText(777200L)))
    Dedup.appendToDedupIndex(b2.toDF("doc_id", "text"), "doc_id", "text", path)
    val probe = Seq((900000L, nearDupOf(corpus(1)._2, 900000L)),
      (900001L, nearDupOf(b2.head._2, 900001L)), // dup of a 2nd-gen append
      (900002L, freshText(777300L)))
      .toDF("doc_id", "text").localCheckpoint()
    val all = (corpus ++ b1 ++ b2).toDF("doc_id", "text")
    assert(rows(Dedup.dedupAgainstIndexed(spark, path, probe,
      "doc_id", "text", 0.8)) ==
      rows(Dedup.dedupAgainst(probe, all, "doc_id", "text", 0.8)))
  }
}
