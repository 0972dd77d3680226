package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextFns}
import graft.sources.Tables
import graft.streaming.{KeySummaries, StreamOps}

/**
 * Stage-level decomposition of a steady streaming-dedup epoch — the
 * round-12 post-compaction gate reads ~3x the fresh floor at 100x, and
 * the epoch is one fused call ([[StreamOps.dedupEpoch]]), so the probe
 * artifact can only see its total. This main bootstraps (or reuses) a
 * corpus-seeded state, optionally compacts it, then runs dup-shaped
 * epochs with the verify middle MIRRORED stage-for-stage and timed:
 * batch cascade+shingling, candidate-epoch pruning, the state KEYS read
 * + candidate join, the state SETS read, and the exact verify. If
 * dedupEpoch changes shape, change this too — diagnostic, not contract.
 *
 *   sbt "runMain graft.ProbeStateVerify /tmp/sfx100 <statePath> 3"
 */
object ProbeStateVerify {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx100")
    val statePath = args.lift(1).getOrElse("/tmp/graft-state-verify/state")
    val reps = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val seeded = fs.exists(new org.apache.hadoop.fs.Path(s"$statePath/keys"))
    val bootSec =
      if (seeded) 0.0
      else time(StreamOps.nearDupStateBootstrap(
        docs, statePath, "doc_id", "text"))._2
    val compactSec =
      if (sys.env.get("SPARK_GRAFT_STATE_COMPACT").forall(_ == "1"))
        time(StreamOps.compactStateGrouped(spark, statePath,
          regroup = true))._2
      else 0.0

    val runs = (1 to reps).map { r =>
      // the probe artifact's dup-shaped batch: 250 corpus near-dups +
      // 250 fresh-vocabulary docs (ids/salt disjoint from prior runs)
      val w = TextFns.words(col("text"))
      val dups = docs.orderBy(col("doc_id")).limit(250)
        .select((col("doc_id") + 70000000L + r * 1000000L).as("doc_id"),
          concat(col("text"), lit(s" vv${r}d")).as("text"))
      val fresh = docs.orderBy(col("doc_id").desc).limit(250)
        .select((col("doc_id") + 72000000L + r * 1000000L).as("doc_id"),
          array_join(transform(w, x => concat(lit(s"v$r"), x)), " ")
            .as("text"))
      val batch = dups.unionByName(fresh).localCheckpoint()

      // stage 1: in-batch cascade + representative shingles/keys (what
      // the fresh floor pays)
      val ((repSets, repKeys), t1) = time {
        val reps0 = Dedup.nearDupClusters(batch, "doc_id", "text", 0.8)
          .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
        val repDocs = batch.join(reps0, Seq("doc_id"), "left_semi")
          .localCheckpoint()
        val rs = Dedup.shingleSets(repDocs, "doc_id", "text")
          .localCheckpoint()
        val rk = Dedup.bandKeysFromSets(rs, "doc_id").localCheckpoint()
        rk.count()
        (rs, rk)
      }
      // stage 2: epoch pruning via the Bloom summaries
      val keysPath = s"$statePath/keys"
      val setsPath = s"$statePath/sets"
      def epochs = {
        val root = new org.apache.hadoop.fs.Path(keysPath)
        fs.listStatus(root).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("batch="))
          .map(_.stripPrefix("batch=").toLong)
      }
      val (candEpochs, t2) = time {
        val ks = KeySummaries.cappedDistinct(repKeys.select(col("bkey")))
        ks.map(k => KeySummaries.pruneEpochs(fs, epochs, k,
          m => StreamOps.keySummaryPath(statePath, m))).getOrElse(epochs)
      }
      // stage 3: candidate join against the pruned epochs' KEYS
      val keySchema = repKeys.schema
        .add("batch", org.apache.spark.sql.types.LongType)
      val stateKeys = spark.read.option("basePath", keysPath)
        .schema(keySchema)
        .parquet(candEpochs.map(m => s"$keysPath/batch=$m")
          .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d))): _*)
      val (cand, t3) = time {
        val c = repKeys
          .join(stateKeys.select(col("doc_id").as("__sid"),
            col("band"), col("bkey")), Seq("band", "bkey"))
          .select(col("doc_id"), col("__sid")).distinct()
          .localCheckpoint(false)
        c.count()
        c
      }
      // stage 4: the candidate buckets' SETS read alone
      val setsSchema = repSets.schema
        .add("ib", org.apache.spark.sql.types.IntegerType)
        .add("batch", org.apache.spark.sql.types.LongType)
      val stateSets0 = spark.read.option("basePath", setsPath)
        .schema(setsSchema)
        .parquet(candEpochs.map(m => s"$setsPath/batch=$m")
          .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d))): _*)
      val (stateSets, t4) = time {
        // mirrors dedupEpoch's banded read: hit-bucket isin + the
        // candidate-id range filter (superset — pushed to parquet);
        // bucket rule + count come from the ONE shared definition so
        // this mirror cannot drift from the real read
        val a = cand.agg(
          collect_set(Dedup.idBucket(col("__sid"),
            StreamOps.StateSetBuckets)).as("ibs"),
          min(col("__sid")), max(col("__sid"))).head()
        val ibs = a.getSeq[Int](0)
        val ss =
          if (ibs.isEmpty) stateSets0.filter(lit(false))
          else stateSets0.filter(col("ib").isin(ibs.toIndexedSeq: _*) &&
            col("doc_id") >= lit(a.get(1)) && col("doc_id") <= lit(a.get(2)))
        val kept = ss.join(cand.select(col("__sid")).distinct(),
          ss("doc_id") === col("__sid"), "left_semi")
          .localCheckpoint(false)
        kept.count()
        kept
      }
      // stage 5: exact verify on the candidate pairs
      val (_, t5) = time {
        cand.join(repSets, Seq("doc_id"))
          .join(stateSets.select(col("doc_id").as("__sid"),
            col("sset").as("__ss")), Seq("__sid"))
          .filter(size(array_intersect(col("sset"), col("__ss")))
            .cast("double") /
            size(array_union(col("sset"), col("__ss"))) >= 0.8)
          .select(col("doc_id")).distinct()
          .write.format("noop").mode("overwrite").save()
      }
      // control: the real fused epoch (unique epoch id per run)
      val (_, t6) = time(StreamOps.dedupEpoch(batch, 7000L + r, statePath,
        "doc_id", "text", 0.8).count())
      (candEpochs.size, t1, t2, t3, t4, t5, t6)
    }
    val cols = Seq("n_cand_epochs", "cascade", "prune", "keys_cand",
      "sets_read", "verify", "whole_epoch")
    println("{" + cols.zipWithIndex.map { case (c, i) =>
      s""""$c":[${runs.map(_.productElement(i).toString).mkString(",")}]"""
    }.mkString(",") +
      s""","bootstrap_sec":$bootSec,"compact_sec":$compactSec,"sf":"$sfDir"}""")
    spark.stop()
  }
}
