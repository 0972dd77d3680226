package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity
import graft.functions.Similarity.IvfDriftStats

/** Round-13: regression specs for the round-12 advice items — the
  * zero-row index build, the append-retry exactly-once contract, and
  * the degenerate-batch guards around the csums fold state. */
class Round13OpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def seed = Seq(
    (0L, "a", Array(1.0f, 0.1f, 0.0f, 0.0f)),
    (1L, "a", Array(1.0f, 0.2f, 0.0f, 0.0f)),
    (2L, "b", Array(0.1f, 1.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "label", "embedding")

  private def batch1 = Seq(
    (3L, "b", Array(0.2f, 1.0f, 0.0f, 0.0f)),
    (4L, "c", Array(0.0f, 0.0f, 1.0f, 0.1f)))
    .toDF("vec_id", "label", "embedding")

  private def probes = Seq(
    (100L, Array(0.1f, 1.0f, 0.0f, 0.0f)),
    (200L, Array(0.0f, 0.0f, 1.0f, 0.05f)))
    .toDF("probe_id", "__pv")

  private def probeRows(path: String) =
    Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet

  test("buildIvfIndex over an empty frame completes; probes work; append converges") {
    val idx = Files.createTempDirectory("graft-r13-eb").toString + "/idx"
    Similarity.buildIvfIndex(seed.limit(0), "vec_id", "embedding",
      "label", idx, dims = 4)
    // centers must be READABLE (schema-carrying zero-row file), so the
    // probe path returns empty instead of crashing schema inference
    assert(spark.read.parquet(s"$idx/centers").isEmpty)
    assert(probeRows(idx).isEmpty)
    // first real append onto the empty index: falls back to the rebuild
    // (no csums data) and converges to a fresh build over the batch
    Similarity.appendToIvfIndex(spark, idx, batch1, "vec_id",
      "embedding", "label", dims = 4)
    val fresh = Files.createTempDirectory("graft-r13-eb-r").toString
    Similarity.buildIvfIndex(batch1, "vec_id", "embedding", "label",
      fresh, dims = 4)
    val got = probeRows(idx)
    assert(got.nonEmpty && got == probeRows(fresh))
  }

  test("append retry after a crash lands the batch exactly once") {
    val idx = Files.createTempDirectory("graft-r13-rt").toString + "/idx"
    Similarity.buildIvfIndex(seed, "vec_id", "embedding", "label", idx,
      dims = 4)
    assert(Similarity.appendToIvfIndex(spark, idx, batch1, "vec_id",
      "embedding", "label", dims = 4), "monotone append takes fast path")
    // crash window: renames done, marker not yet rewritten → the
    // documented repair is to RE-RUN the append with the same batch
    Similarity.deleteCsumsMarker(spark, idx)
    Similarity.appendToIvfIndex(spark, idx, batch1, "vec_id",
      "embedding", "label", dims = 4)
    val lists = spark.read.parquet(s"$idx/lists")
    assert(lists.count() == 5,
      "retry must replace the batch's files, not land them twice")
    assert(lists.groupBy("vec_id").count().filter(col("count") > 1)
      .isEmpty, "unique-id contract violated by the retry")
    val rebuilt = Files.createTempDirectory("graft-r13-rt-r").toString
    Similarity.buildIvfIndex(seed.unionByName(batch1), "vec_id",
      "embedding", "label", rebuilt, dims = 4)
    assert(probeRows(idx) == probeRows(rebuilt))
  }

  test("append retry converges from a MID-RENAME crash (partial batch on disk)") {
    val idx = Files.createTempDirectory("graft-r13-mr").toString + "/idx"
    Similarity.buildIvfIndex(seed, "vec_id", "embedding", "label", idx,
      dims = 4)
    Similarity.appendToIvfIndex(spark, idx, batch1, "vec_id",
      "embedding", "label", dims = 4)
    // simulate the crash having renamed only SOME of the batch's files:
    // drop one landed append file and the marker (the marker is always
    // absent in this window — it was deleted before the staged write)
    val landed = new java.io.File(s"$idx/lists").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(f => f.getName.startsWith("append-") &&
        f.getName.endsWith(".parquet"))
    assert(landed.length >= 2, "fixture needs >= 2 batch files")
    assert(landed.head.delete())
    Similarity.deleteCsumsMarker(spark, idx)
    Similarity.appendToIvfIndex(spark, idx, batch1, "vec_id",
      "embedding", "label", dims = 4)
    val lists = spark.read.parquet(s"$idx/lists")
    assert(lists.count() == 5 &&
      lists.groupBy("vec_id").count().filter(col("count") > 1).isEmpty,
      "retry over a partial append must land each row exactly once")
    val rebuilt = Files.createTempDirectory("graft-r13-mr-r").toString
    Similarity.buildIvfIndex(seed.unionByName(batch1), "vec_id",
      "embedding", "label", rebuilt, dims = 4)
    assert(probeRows(idx) == probeRows(rebuilt))
  }

  // ---- quantizer aging: drift metrics + retrain (round-13 task 6) ----

  /** 4 axis-aligned clusters of 10, ids dense from idBase — the k-means
    * fixture. `shift` moves the batch OFF-distribution: DIAGONAL vectors
    * (e_axis + e_axis+1), equidistant between adjacent axis clusters, so
    * a quantizer frozen on the axis geometry fits them badly (a plain
    * rotation would merely permute axis clusters onto each other). */
  private def clustered(n: Int = 40, idBase: Long = 0L,
                        shift: Boolean = false) = {
    val rows = (0 until n).map { i =>
      val axis = i % 4
      val v = Array.tabulate(4) { d =>
        val hit = d == axis || (shift && d == (axis + 1) % 4)
        (if (hit) 1.0f else 0.0f) + 0.01f * ((i * 7 + d) % 5)
      }
      (idBase + i, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def kmProbeRows(path: String, probes: org.apache.spark.sql.DataFrame) =
    Similarity.ivfKnnJoinIndexed(spark, path, probes,
      "vec_id", "embedding", "cell", k = 3, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet

  private def buildKm(df: org.apache.spark.sql.DataFrame, path: String,
                      iters: Int = 4): Unit = {
    val labeled = df.join(Similarity.kmeansLabels(df, "vec_id",
      "embedding", k = 4, iters = iters, dims = 4, trainMod = 1,
      superAssign = 0), Seq("vec_id"))
    Similarity.buildIvfIndex(labeled, "vec_id", "embedding", "cell",
      path, dims = 4)
  }

  test("shifted ingest raises the drift metrics; retrain brings them back") {
    val idx = Files.createTempDirectory("graft-r13-drift").toString + "/idx"
    buildKm(clustered(), idx)
    val fresh = Similarity.ivfDriftStats(spark, idx, "vec_id",
      "embedding", "cell", dims = 4)
    assert(fresh.cells == 4 && fresh.rows == 40)
    assert(fresh.occupancySkew >= 1.0 && fresh.meanResidual >= 0.0)
    // a rotated batch lands wherever the frozen geometry puts it —
    // occupancy skews and the sampled residual climbs
    Similarity.appendToIvfIndex(spark, idx,
      clustered(idBase = 1000L, shift = true), "vec_id", "embedding",
      "cell", dims = 4)
    val drifted = Similarity.ivfDriftStats(spark, idx, "vec_id",
      "embedding", "cell", dims = 4)
    assert(drifted.rows == 80)
    assert(drifted.meanResidual > fresh.meanResidual,
      s"shifted ingest must raise the residual " +
        s"(${fresh.meanResidual} -> ${drifted.meanResidual})")
    // retrain on the current corpus: the metrics recover
    Similarity.retrainIvfIndex(spark, idx, "vec_id", "embedding",
      dims = 4, iters = 4, trainMod = 1, superAssign = 0)
    val retrained = Similarity.ivfDriftStats(spark, idx, "vec_id",
      "embedding", "cell", dims = 4)
    assert(retrained.rows == 80 && retrained.cells == 4)
    assert(retrained.meanResidual < drifted.meanResidual,
      s"retrain must lower the residual " +
        s"(${drifted.meanResidual} -> ${retrained.meanResidual})")
  }

  test("retrainIvfIndex is bit-identical to a fresh build over the same corpus") {
    val idx = Files.createTempDirectory("graft-r13-retrain").toString + "/idx"
    buildKm(clustered(), idx)
    Similarity.appendToIvfIndex(spark, idx,
      clustered(idBase = 1000L, shift = true), "vec_id", "embedding",
      "cell", dims = 4)
    Similarity.retrainIvfIndex(spark, idx, "vec_id", "embedding",
      dims = 4, iters = 4, trainMod = 1, superAssign = 0)
    val freshPath = Files.createTempDirectory("graft-r13-retrain-f")
      .toString + "/idx"
    buildKm(clustered().unionByName(clustered(idBase = 1000L,
      shift = true)), freshPath)
    val probes = clustered(idBase = 1000L, shift = true).limit(5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
    assert(kmProbeRows(idx, probes) == kmProbeRows(freshPath, probes))
    assert(kmProbeRows(idx, probes).nonEmpty)
    // the staging dirs are gone after a clean swap
    val root = new java.io.File(idx).getParentFile
    assert(!root.listFiles().exists(_.getName.contains("__retrain")),
      "staging dirs must not survive a completed retrain")
  }

  // ---- recall-tier operating point (round-13 task 5) ----

  test("resolveNProbe: -2 is the recall tier (8·ceil(√K)); -1 and pins unchanged") {
    assert(Similarity.resolveNProbe(1000L, -1) == 64)
    assert(Similarity.resolveNProbe(1000L, -2) == 256)
    assert(Similarity.resolveNProbe(5L, -2) == 24)
    assert(Similarity.resolveNProbe(1L, -2) == 8)
    assert(Similarity.resolveNProbe(1000L, 7) == 7)
    assert(Similarity.resolveNProbe(1000L, 0) == 0)
  }

  test("probeSuperWidth: pool scales with nProbe, degenerates to flat") {
    // explicit pins win, engage crossover unchanged
    assert(Similarity.probeSuperWidth(1000L, 0, 4, 512) == 0)
    assert(Similarity.probeSuperWidth(10L, 7, 4, 512) == 7)
    assert(Similarity.probeSuperWidth(64L, -1, 4, 512) == 0)
    // narrow probes keep the round-12 width (bit-stable plans)
    assert(Similarity.probeSuperWidth(1000L, -1, 4, 2) == 4)
    // the pool grows with the width: 4·64/62 cells per supercell → 5
    assert(Similarity.probeSuperWidth(1000L, -1, 4, 64) == 5)
    assert(Similarity.probeSuperWidth(1000L, -1, 4, 200) == 13)
    // a cut that would admit every supercell resolves to the flat
    // ranking itself (same results, minus the pointless stage)
    assert(Similarity.probeSuperWidth(1000L, -1, 4, 256) == 0)
  }

  test("recall-tier auto probe ≡ explicit flat probe at the same width") {
    val vecs = (0L until 400L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 13 + d * 7) % 19).toFloat / 19f),
        (i % 80).toInt)
    }.toDF("vec_id", "embedding", "cell")
    val idx = Files.createTempDirectory("graft-r13-tier").toString + "/idx"
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", "cell", idx,
      dims = 4)
    val probes = vecs.limit(10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
    // -2 resolves to nProbe 72 (8·ceil(√80)) and the scaled cut resolves
    // to flat — the explicit form must be bit-identical
    def rows(np: Int, sp: Int) =
      Similarity.ivfKnnJoinIndexed(spark, idx, probes, "vec_id",
        "embedding", "cell", k = 3, nProbe = np, superProbe = sp)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val auto = Similarity.ivfKnnJoinIndexed(spark, idx, probes, "vec_id",
      "embedding", "cell", k = 3, nProbe = -2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(auto == rows(72, 0))
    assert(auto.nonEmpty)
  }

  test("retrain repairs a mid-swap crash and clears stale staging") {
    val dir = Files.createTempDirectory("graft-r13-crash").toString
    val idx = s"$dir/idx"
    buildKm(clustered(), idx)
    val probes = clustered().limit(5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
    val want = kmProbeRows(idx, probes)
    // stale staging from a crash DURING a previous retrain's build: the
    // live index is untouched and the junk must not be trusted
    val staleNew = new java.io.File(s"$idx.__retrain_new")
    assert(staleNew.mkdirs())
    java.nio.file.Files.write(staleNew.toPath.resolve("junk"),
      "not an index".getBytes)
    // mid-swap crash: rename 1 done (live root gone), rename 2 never ran
    val fs = new java.io.File(idx)
    assert(fs.renameTo(new java.io.File(s"$idx.__retrain_old")))
    Similarity.retrainIvfIndex(spark, idx, "vec_id", "embedding",
      dims = 4, iters = 4, trainMod = 1, superAssign = 0)
    // repaired + retrained over the same 40-vector corpus = same probes
    // as a fresh same-config build (which `want` is: buildKm trains with
    // identical knobs on identical content)
    assert(kmProbeRows(idx, probes) == want)
  }
}
