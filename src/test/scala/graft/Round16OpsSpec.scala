package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bpe, Multimodal, Similarity}
import graft.functions.Multimodal.PhashKind
import graft.streaming.StreamOps

/** Round-16: the ADVICE fixes — (1) the periodic-compaction replay
  * guard (a crash-replayed compaction-boundary epoch must not fold its
  * own crashed rows into `__batch=-1` right before re-landing them);
  * (2) the residual-sidecar legacy guard (extendPqSnapshot must not
  * freeze a center under pre-existing raw-fallback codes — that flips
  * the whole cell's decode to residual and double-counts the center);
  * (3) merge-rank validation in Bpe.mergesFrom (null ranks sort first
  * and silently head the merge order; duplicates make it
  * nondeterministic). */
class Round16OpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // ---- compaction replay guard (ADVICE medium) ---------------------

  private def vrow(id: Long, label: String, v: Array[Float]) =
    (id, label, v)

  test("ivf ingest compaction boundary: a crash-replayed epoch skips " +
    "the compaction and is not duplicated") {
    val seed = Seq(
      vrow(0L, "a", Array(1.0f, 0.1f, 0.0f, 0.0f)),
      vrow(1L, "b", Array(0.1f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val e1 = Seq(vrow(2L, "b", Array(0.2f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val e2 = Seq(
      vrow(3L, "a", Array(0.9f, 0.1f, 0.0f, 0.0f)),
      vrow(4L, "c", Array(0.0f, 0.0f, 1.0f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
    val idx = Files.createTempDirectory("graft-cpr").toString + "/idx"
    StreamOps.ivfIngestBootstrap(seed, idx, "vec_id", "embedding",
      "label", dims = 4)
    StreamOps.ivfIngestEpoch(e1, 1L, idx, "vec_id", "embedding",
      "label", dims = 4)

    def listIds(): (Long, Long) = {
      val ids = spark.read.parquet(s"$idx/lists").select(col("vec_id"))
      (ids.count(), ids.distinct().count())
    }

    // FIRST attempt of the compaction-boundary epoch 2 (compactEvery=2):
    // the epoch has not landed yet, so the gate says compact
    assert(StreamOps.shouldCompactAt(spark, idx, 2L, 2),
      "first attempt at the boundary must compact")
    Similarity.compactIvfIndex(spark, idx)
    StreamOps.ivfIngestEpoch(e2, 2L, idx, "vec_id", "embedding",
      "label", dims = 4)
    // ...crash before the checkpoint commit. foreachBatch REPLAYS batch
    // 2: the landed `lists/__batch=2` marks it a replay — skip, so the
    // epoch overwrite stays idempotent
    assert(!StreamOps.shouldCompactAt(spark, idx, 2L, 2),
      "a replay of a landed boundary epoch must skip the compaction")
    StreamOps.ivfIngestEpoch(e2, 2L, idx, "vec_id", "embedding",
      "label", dims = 4)
    val (n1, d1) = listIds()
    assert(n1 == 5L && d1 == 5L,
      s"guarded replay must keep every id exactly once, got $n1/$d1")
    // a non-boundary epoch never compacts, landed or not
    assert(!StreamOps.shouldCompactAt(spark, idx, 3L, 2))
    assert(!StreamOps.shouldCompactAt(spark, idx, 2L, 0))

    // the UNGUARDED pre-fix sequence demonstrates the hazard: replaying
    // the compaction folds the crashed attempt's __batch=2 rows into
    // -1, then the epoch write re-lands them — ids duplicated
    Similarity.compactIvfIndex(spark, idx)
    StreamOps.ivfIngestEpoch(e2, 2L, idx, "vec_id", "embedding",
      "label", dims = 4)
    val (n2, d2) = listIds()
    assert(n2 > d2,
      s"unguarded replay-compaction must show the duplication ($n2/$d2)")
  }

  test("shouldCompactAt nested layout: a landed phash epoch marks the " +
    "replay") {
    val media = Multimodal.audioPhashFixtureMedia(spark,
      (0L until 20L).toDF("doc_id"), groups = 5)
    val idx = Files.createTempDirectory("graft-cprn").toString + "/idx"
    StreamOps.phashIngestBootstrap(PhashKind.Audio, media, idx)
    // bootstrap landed only __batch=-1: epoch 2 is fresh → compact
    assert(StreamOps.shouldCompactAt(spark, idx, 2L, 2, nested = true))
    StreamOps.phashIngestEpoch(PhashKind.Audio,
      Multimodal.audioPhashFixtureMedia(spark,
        (20L until 30L).toDF("doc_id"), groups = 5), 2L, idx,
      compactEvery = 0)
    // the epoch dirs nest INSIDE pb= dirs — the nested probe must see
    // them (the flat probe would not)
    assert(!StreamOps.shouldCompactAt(spark, idx, 2L, 2, nested = true),
      "a landed nested epoch must mark the replay")
    assert(!StreamOps.shouldCompactAt(spark, idx, 3L, 2, nested = true))
  }

  // ---- extendPqSnapshot legacy guard (ADVICE low) ------------------

  private val m = 8
  private val ksub = 16

  private def corpus(n: Int, cells: Int = 5): DataFrame =
    (0 until n).map { i =>
      val c = i % cells
      val v = Array.tabulate(64) { j =>
        val base = if (j % cells == c) 3.0 else 0.2
        (base + 0.01 * (((i * 37 + j * 11) % 89) - 44)).toFloat
      }
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")

  private def newCellBatch(n: Int, startId: Long, label: Int): DataFrame =
    (0 until n).map { i =>
      val v = Array.tabulate(64) { j =>
        val base = if (j >= 48) 2.5 else 0.1
        (base + 0.02 * (((i * 53 + j * 7) % 97) - 48)).toFloat
      }
      (startId + i, v, label)
    }.toDF("vec_id", "embedding", "label")

  test("extendPqSnapshot: a legacy cell with pre-existing raw-fallback " +
    "codes keeps its raw decode; a codeless fresh cell freezes") {
    val path = Files.createTempDirectory("graft-pqleg").toString
    Similarity.buildIvfIndex(corpus(150), "vec_id", "embedding", "label",
      path)
    Similarity.addPqToIvfIndex(spark, path, "vec_id", "embedding",
      "label", m, ksub, iters = 2, trainMod = 1, residual = true)
    def snapCells(): Set[String] =
      spark.read.parquet(s"$path/pq/centers")
        .select(col("__cell").cast("string")).collect()
        .map(_.getString(0)).toSet
    assert(snapCells() == Set("0", "1", "2", "3", "4"))

    // two post-snapshot cells join the LISTS (live centers move, no
    // codes yet), as a pre-fix code version would have left things: an
    // append encodes codes whenever `pq/` exists, so the sidecar is
    // moved aside for it
    val (pq, aside) = (new java.io.File(s"$path/pq"),
      new java.io.File(s"$path/pq.aside"))
    assert(pq.renameTo(aside))
    Similarity.appendToIvfIndex(spark, path,
      newCellBatch(10, 3000L, label = 98)
        .unionByName(newCellBatch(10, 3100L, label = 99)),
      "vec_id", "embedding", "label")
    assert(aside.renameTo(pq))
    // cell 98 ALREADY holds codes in the sidecar — the pre-fix
    // raw-vector fallback's footprint, synthesized directly
    spark.read.parquet(s"$path/pq/codes").limit(1)
      .withColumn("vec_id", lit(3000L))
      .withColumn("label", lit(98))
      .withColumn("__cellkey", lit("98"))
      .write.mode("append").partitionBy("__cellkey")
      .parquet(s"$path/pq/codes")

    Similarity.extendPqSnapshot(spark, path, Seq("98", "99"))
    val after = snapCells()
    assert(after.contains("99"),
      "a truly codeless fresh cell must freeze its first-seen center")
    assert(!after.contains("98"),
      "a legacy cell with raw-fallback codes must NOT freeze — the " +
        "probe would add the center dot on top of codes that already " +
        "reflect the raw vector")
    // idempotent across a crash replay: nothing moves on a second call
    Similarity.extendPqSnapshot(spark, path, Seq("98", "99"))
    assert(snapCells() == after)
  }

  // ---- buildIvfIndex deterministic opt-in (round-15 verdict) -------

  test("buildIvfIndex deterministic=true is bit-identical to the " +
    "default read-back path") {
    val base = corpus(120).localCheckpoint()
    val pDef = Files.createTempDirectory("graft-det0").toString + "/idx"
    val pDet = Files.createTempDirectory("graft-det1").toString + "/idx"
    Similarity.buildIvfIndex(base, "vec_id", "embedding", "label", pDef)
    Similarity.buildIvfIndex(base, "vec_id", "embedding", "label", pDet,
      deterministic = true)
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case s: Seq[_] => s.map(bits)
      case x => x
    }
    def table(path: String, sub: String, cols: Seq[String]) =
      spark.read.parquet(s"$path/$sub")
        .select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i =>
          bits(r.get(i) match {
            case s: scala.collection.Seq[_] => s.toSeq
            case x => x
          })))
        .toSet
    assert(table(pDef, "lists", Seq("vec_id", "label", "__cn")) ==
      table(pDet, "lists", Seq("vec_id", "label", "__cn")),
      "lists rows must match bit-for-bit")
    assert(table(pDef, "centers", Seq("__cell", "__center")) ==
      table(pDet, "centers", Seq("__cell", "__center")),
      "centers must match bit-for-bit")
    assert(table(pDef, "csums", Seq("label", "__chunk", "__psums", "__n")) ==
      table(pDet, "csums", Seq("label", "__chunk", "__psums", "__n")),
      "csums fold state must match bit-for-bit")
    assert(Similarity.readCsumsMarker(spark, pDef) ==
      Similarity.readCsumsMarker(spark, pDet),
      "validity markers must match")
    // and the downstream contract holds: a monotone append onto the
    // deterministic build still takes the incremental fold path
    assert(Similarity.appendToIvfIndex(spark, pDet,
      newCellBatch(10, 5000L, label = 2), "vec_id", "embedding", "label"),
      "monotone append must take the incremental path on a " +
        "deterministic-built index")
  }

  // ---- sampled-drift fast path -------------------------------------

  test("ivfDriftStats cellMod: cell-pruned residual sample reads fewer " +
    "files; csums-derived stats stay exact") {
    val path = Files.createTempDirectory("graft-drift").toString + "/idx"
    Similarity.buildIvfIndex(corpus(400, cells = 20), "vec_id",
      "embedding", "label", path)
    val exact = Similarity.ivfDriftStats(spark, path, "vec_id",
      "embedding", "label")
    val sampled = Similarity.ivfDriftStats(spark, path, "vec_id",
      "embedding", "label", cellMod = 4)
    // rows/cells/skew feed the K ∝ n resize — they derive from csums
    // (metadata scale) and must stay corpus-exact under sampling
    assert(sampled.cells == exact.cells && sampled.rows == exact.rows &&
      sampled.occupancySkew == exact.occupancySkew)
    // the sampled residual estimates the same quantity
    assert(sampled.meanResidual > 0.0)
    assert(math.abs(sampled.meanResidual - exact.meanResidual) < 0.08)
    // and the fast path actually prunes the scan: the cell-hash filter
    // on the PARTITION column must resolve to strictly fewer files read
    val lists = spark.read.parquet(s"$path/lists")
    def filesRead(df: DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val pruned = lists.filter(
      pmod(graft.functions.Md5Prefix28(col("__cellkey").cast("string")),
        lit(4L)) === 0)
    assert(filesRead(pruned) > 0 && filesRead(pruned) < filesRead(lists),
      "partition pruning on the cell-hash predicate must cut files read")
  }

  // ---- Bpe.mergesFrom rank validation (ADVICE low) -----------------

  test("mergesFrom: null, non-numeric, and duplicate ranks are refused; " +
    "valid ranks restore merge order") {
    val ok = Seq(("t", "h", 1L), ("a", "t", 0L), ("th", "e", 2L))
      .toDF("left", "right", "rank")
    assert(Bpe.mergesFrom(ok) ==
      Seq(("a", "t"), ("t", "h"), ("th", "e")))

    val nullRank = Seq(("t", "h", Some(0L)), ("a", "t", None))
      .toDF("left", "right", "rank")
    val e1 = intercept[IllegalArgumentException] {
      Bpe.mergesFrom(nullRank)
    }
    assert(e1.getMessage.contains("null"))

    val dupRank = Seq(("t", "h", 0L), ("a", "t", 0L))
      .toDF("left", "right", "rank")
    val e2 = intercept[IllegalArgumentException] {
      Bpe.mergesFrom(dupRank)
    }
    assert(e2.getMessage.contains("duplicate"))

    // a non-numeric string rank nulls under the cast — same refusal
    val strRank = Seq(("t", "h", "0"), ("a", "t", "not-a-rank"))
      .toDF("left", "right", "rank")
    val e3 = intercept[IllegalArgumentException] {
      Bpe.mergesFrom(strRank)
    }
    assert(e3.getMessage.contains("non-numeric"))
  }
}
