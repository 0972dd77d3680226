package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/**
 * Diagnostic decomposition of the quantizer-aging experiment (round 13).
 *
 * Finding that shaped the fixture: on the testdata embedding cloud a
 * ROTATED ingest is NOT a distribution shift — the cloud is isotropic
 * enough that recall@5 moves only 0.676 → 0.629 (balanced tier, 1×) and
 * retraining cannot recover what was never really lost. Quantizer aging
 * is a CLUSTER-GEOMETRY phenomenon: it needs an ingest whose cluster
 * structure the frozen centers cannot express. The fixture therefore
 * generates explicit clusters (the contract-fixture device): the base
 * corpus clusters on coordinate axes, the shifted ingest on FOUR-axis
 * mixes (cos ~0.5 from each of four frozen axis centers, jitter
 * comparable to the assignment margin, so each shifted cluster scatters
 * across ~4 cells) — unit-norm-comparable, deterministic, and out-of-
 * distribution by construction at every scale. The recall miss shows at
 * the narrow production width (nProbe = 2); the √K tiers saturate a
 * 50-cell fixture (measured: frozen 0.90 → retrained-at-2K 0.98 at
 * nProbe 2, 1.0 across the board at -1/-2).
 *
 * Prints baseline / frozen / retrained recall at nProbe 2 and the
 * balanced (-1) / recall (-2) tiers plus the drift metrics, for K and
 * K ∝ n retrains. ProbeIndexed runs the gated subset of this.
 */
object ProbeAging {
  /** cluster c of `clusters` around axis (c % dims); jitter keeps
    * members distinct and deterministic. `diag` moves every cluster to
    * a four-axis mix — the out-of-distribution ingest. */
  def clusteredVectors(spark: SparkSession, n: Int, clusters: Int,
                       idBase: Long, diag: Boolean): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val c = i % clusters
      // diag: a FOUR-axis mix — members sit at cos ~0.5 from each of 4
      // frozen axis centers, so jitter scatters a cluster across ~4
      // cells and a narrow probe misses most of it; base: one axis
      val axes: Set[Int] =
        if (diag) Set(c % 64, (c * 29 + 17) % 64, (c * 43 + 5) % 64,
          (c * 53 + 31) % 64)
        else Set(c % 64)
      val v = Array.tabulate(64) { d =>
        (if (axes(d)) 1.0f else 0.0f) + 0.02f * ((i.toLong * 7 + d) % 11)
      }
      (idBase + i, v)
    }.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft-aging")

    val K = 50
    val base = clusteredVectors(spark, 4000, K, 0L, diag = false)
      .localCheckpoint()
    val shifted = clusteredVectors(spark, 4000, K, 70000000L, diag = true)
      .localCheckpoint()

    def build(df: DataFrame, path: String, k: Int): Unit = {
      val labeled = df.join(Similarity.kmeansLabels(df, "vec_id",
        "embedding", k = k, iters = 2,
        trainMod = math.max(1, (df.count() / (50L * k)).toInt),
        superAssign = -1), Seq("vec_id"))
      Similarity.buildIvfIndex(labeled, "vec_id", "embedding", "cell",
        path, dims = 64)
    }

    def probesOf(df: DataFrame) =
      df.orderBy(col("vec_id")).limit(200)
        .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
        .localCheckpoint()

    def recallOf(path: String, probes: DataFrame, corpus: DataFrame,
                 np: Int): Double = {
      val exact = Similarity.knnJoinWith(corpus, probes, "vec_id",
        "embedding", k = 5, excludeSelf = true)
      val ann = Similarity.ivfKnnJoinIndexed(spark, path, probes,
        "vec_id", "embedding", "cell", k = 5, nProbe = np)
      val r = Similarity.recallAtK(ann, exact)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
      math.rint(r * 1000) / 1000
    }

    val fresh = s"$tmp/fresh"
    build(base, fresh, K)
    val baseProbes = probesOf(base)
    println(s"BASELINE unshifted probes, fresh index (K=$K): " +
      Seq(2, -1, -2).map(np => s"np=$np r=${recallOf(fresh, baseProbes, base, np)}")
        .mkString(" "))

    Similarity.appendToIvfIndex(spark, fresh, shifted,
      "vec_id", "embedding", "cell", dims = 64)
    val combined = base.unionByName(shifted)
    val shiftProbes = probesOf(shifted)
    println(s"SHIFTED probes, frozen index (K=$K): " +
      Seq(2, -1, -2).map(np => s"np=$np r=${recallOf(fresh, shiftProbes, combined, np)}")
        .mkString(" "))
    println(s"UNSHIFTED probes, frozen index after ingest: " +
      Seq(2, -1, -2).map(np => s"np=$np r=${recallOf(fresh, baseProbes, combined, np)}")
        .mkString(" "))
    val dFrozen = Similarity.ivfDriftStats(spark, fresh, "vec_id",
      "embedding", "cell", dims = 64)
    println(s"drift frozen: skew=${dFrozen.occupancySkew} residual=${dFrozen.meanResidual}")

    for (k2 <- Seq(K, 2 * K)) {
      val p2 = s"$tmp/retrain_$k2"
      build(combined, p2, k2)
      println(s"SHIFTED probes, retrained K=$k2: " +
        Seq(2, -1, -2).map(np => s"np=$np r=${recallOf(p2, shiftProbes, combined, np)}")
          .mkString(" "))
      println(s"UNSHIFTED probes, retrained K=$k2: " +
        Seq(2, -1, -2).map(np => s"np=$np r=${recallOf(p2, baseProbes, combined, np)}")
          .mkString(" "))
      val d2 = Similarity.ivfDriftStats(spark, p2, "vec_id",
        "embedding", "cell", dims = 64)
      println(s"drift retrained K=$k2: skew=${d2.occupancySkew} residual=${d2.meanResidual}")
    }
    spark.stop()
  }
}
