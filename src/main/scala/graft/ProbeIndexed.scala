package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Multimodal, Sampling, Similarity}
import graft.functions.Multimodal.PhashKind
import graft.sources.Tables

/**
 * Build-vs-probe split for the persisted indexes — the numbers behind
 * "build once, probe many": times one index build, then repeated
 * FIXED-SIZE probe batches against it (the production shape; the
 * contract queries rebuild per run and sample probes proportionally to
 * the corpus, so their timings conflate the two).
 *
 *   sbt "runMain graft.ProbeIndexed /tmp/sfx100e"
 *
 * Prints one JSON line: build seconds and min-of-reps probe seconds for
 * the IVF ANN index (200-probe kNN batch) and the text dedup index
 * (500-doc ingest batch).
 */
object ProbeIndexed {
  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(3)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft-probe-idx")

    val emb = Tables.load(spark, sfDir, "embeddings")
    val ivfPath = s"$tmp/ivf"
    // deterministic = true throughout: every probe build's frame is a
    // parquet scan or a join against checkpointed k-means labels (the
    // contract-row premise), so the build overlaps the lists write with
    // the fold instead of paying a read-back pass
    val buildIvf = time(Similarity.buildIvfIndex(
      emb, "vec_id", "embedding", "label", ivfPath, dims = 64,
      deterministic = true))
    // fixed 200-probe batch — does NOT scale with the corpus
    val probes = emb.orderBy(col("vec_id")).limit(200)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      .localCheckpoint()
    // the three probe variants: the library DEFAULT (superProbe = -1
    // auto — flat below the crossover, two-level beyond it), pinned
    // flat (the O(probes × K) center ranking the auto rule retires at
    // large K), and the pinned two-level width. Timed INTERLEAVED
    // (rep 1 = auto, flat, 2level; rep 2 = auto, …) with per-variant
    // minima: sequential per-variant blocks bill whichever variant runs
    // first for session/codegen/page-cache warmup that min-of-reps
    // cannot absorb — measured +0.3–0.6 s on the first block at 100×
    // across three captures, with auto and the pinned two-level running
    // the IDENTICAL plan (probeSuperWidth(100, −1, 4, 2) = 4) — which
    // failed the auto ≤ 1.2×flat gate on position, not plan. An
    // untimed warm-up run absorbs the first-compile cost up front.
    def ivfProbeAt(sp: Int): Unit =
      Similarity.ivfKnnJoinIndexed(spark, ivfPath, probes,
        "vec_id", "embedding", "label", k = 5, nProbe = 2,
        superProbe = sp).count()
    ivfProbeAt(-1) // untimed warm-up
    val ivfVariantTimes = (1 to reps).flatMap(_ =>
      Seq(-1, 0, 4).map(sp => sp -> time(ivfProbeAt(sp))))
      .groupBy(_._1).map { case (sp, ts) => sp -> ts.map(_._2).min }
    val probeIvf = ivfVariantTimes(-1)
    val probeIvfFlat = ivfVariantTimes(0)
    val probeIvf2L = ivfVariantTimes(4)
    // did the auto default engage two-level on this corpus? Resolved by
    // THE library rule (Similarity.probeSuperWidth at the default
    // superBits and the row's own nProbe = 2), not a hand-copied literal
    // — so the artifact's flag can never disagree with the plan the
    // default call above actually ran
    val labelCells = spark.read.parquet(s"$ivfPath/centers").count()
    val autoEngaged =
      Similarity.probeSuperWidth(labelCells, -1, superBits = 4,
        nProbe = 2) > 0

    // recall of the pruned probes vs exact brute force on the same 200:
    // quantifies what flat→two-level (and IVF itself) give up
    val exact = Similarity.knnJoinWith(emb, probes, "vec_id",
      "embedding", k = 5, excludeSelf = true)
      .localCheckpoint() // one brute-force pass feeds both recall rows
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val r = Similarity.recallAtK(df, exact)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
      math.rint(r * 1000) / 1000
    }
    val recallFlat = recall(Similarity.ivfKnnJoinIndexed(spark, ivfPath,
      probes, "vec_id", "embedding", "label", k = 5, nProbe = 2,
      superProbe = 0))
    // the auto default's recall: must match flat below the crossover
    // (identical plan) and stay within noise of it above
    val recallAuto = recall(Similarity.ivfKnnJoinIndexed(spark, ivfPath,
      probes, "vec_id", "embedding", "label", k = 5, nProbe = 2))
    val recall2L = recall(Similarity.ivfKnnJoinIndexed(spark, ivfPath,
      probes, "vec_id", "embedding", "label", k = 5, nProbe = 2,
      superProbe = 4))

    // k-means quantizer at the SAME cell count as the label column: a
    // pure quantizer-quality comparison (identical K, identical probe
    // machinery) — the round-6 recall accounting showed the label cells,
    // not the probe path, cap recall
    val kCells = emb.select(col("label")).distinct().count().toInt
    // sample-based training once the corpus outgrows ~50 vectors per
    // center (Lloyd's is O(n·k·d) per round and K ∝ n makes full-corpus
    // training quadratic-ish): bounded train set, one full assignment
    val nVec = emb.count()
    val trainMod = math.max(1L, nVec / (50L * kCells)).toInt
    val kmPath = s"$tmp/ivf_km"
    // superAssign = -1 (auto): past the crossover (K > 64) the final
    // full-corpus assignment — the build's dominant O(n·K·d) term under
    // K ∝ n — runs LSH-supercell-pruned; below it, exact. The contract
    // queries pin the exact form; this measures the production build.
    val buildKm = time {
      val labeled = emb.join(
        Similarity.kmeansLabels(emb, "vec_id", "embedding", k = kCells,
          iters = 2, trainMod = trainMod, superAssign = -1), Seq("vec_id"))
      Similarity.buildIvfIndex(labeled, "vec_id", "embedding", "cell",
        kmPath, dims = 64, deterministic = true)
    }
    val recallKm = recall(Similarity.ivfKnnJoinIndexed(spark, kmPath,
      probes, "vec_id", "embedding", "cell", k = 5, nProbe = 2))

    // round-12 verdict task 3: the recall-vs-cost OPERATING CURVE on the
    // k-means index — recall@5 and probe seconds at widening nProbe —
    // plus the auto operating point (nProbe = -1 → 2*ceil(sqrt(K)))
    // cells, Similarity.resolveNProbe: THE library rule, not a
    // hand-copied literal). The fixed nProbe = 2 row above is why recall
    // collapsed at 100x (2 of 1,000 cells); the curve documents what
    // widening buys and what it costs, and check_probe gates the auto
    // point's floor.
    def kmProbeAt(np: Int): (Double, Double) = {
      // checkpointed so the untimed recall join reuses the SAME probe
      // run the timer measured instead of re-executing the pipeline
      val q = Similarity.ivfKnnJoinIndexed(spark, kmPath, probes,
        "vec_id", "embedding", "cell", k = 5, nProbe = np)
        .localCheckpoint(false)
      // probe cost timed alone (count materializes the lazy checkpoint,
      // forcing the TopK aggregate); the recall join is untimed and
      // reuses the checkpointed blocks (freed on RDD GC — Dataset
      // .unpersist would be a no-op for checkpoint blocks)
      val sec = time(q.count())
      (recall(q), sec)
    }
    // widened to 512 in round 13: the curve's tail is where the fixed
    // supercell cut was silently capping recall (0.596 at both 256 and
    // 512 before probeSuperWidth scaled the cut; 0.889/0.973 after)
    val annCurve = Seq(2, 4, 8, 16, 32, 64, 128, 256, 512).map { np =>
      val (r, sec) = kmProbeAt(np)
      s"""{"n_probe":$np,"recall":$r,"sec":$sec}"""
    }
    val (recallKmAuto, kmAutoSec) = kmProbeAt(-1)
    // the RECALL-TIER auto point (nProbe = -2 → 8·ceil(√K), supercell
    // cut scaling to flat): the round-13 operating point gated >= 0.7
    val (recallKmHi, kmHiSec) = kmProbeAt(-2)

    // PRODUCT QUANTIZATION (round 14): the compression half of IVF-PQ —
    // codes are m = 8 bytes/vector instead of 256, so the candidate scan
    // is bandwidth-bound on codes and each candidate costs 8 ADC table
    // lookups instead of a 64-dim dot. Steady-state split like the
    // other indexes: train + encode once (both corpus-proportional by
    // nature — encode is ONE narrow scan), then the FIXED 200-probe
    // batch against precomputed codes. The same exact brute-force batch
    // (`exact`, already computed for the IVF recall rows) is the recall
    // denominator AND the cost baseline the ADC scan must beat.
    // the PQ-standard operating point: 8-bit codes (ksub = 256 — the
    // measured sweep at 1x read recall@5 0.472 at ksub=16/rerank=30,
    // 0.862 at 64/100, 0.949 at 256/100; the contract row pins ksub=16
    // for oracle tractability, this measures the production setting)
    val pqKsub = 256
    val pqTrainMod = math.max(1L, nVec / (50L * pqKsub)).toInt
    var pqCb: org.apache.spark.sql.DataFrame = null
    val pqTrainSec = time {
      pqCb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8,
        ksub = pqKsub, iters = 2, dims = 64, trainMod = pqTrainMod)
        .localCheckpoint(false)
      pqCb.count()
    }
    var pqCodes: org.apache.spark.sql.DataFrame = null
    val pqEncodeSec = time {
      pqCodes = Similarity.pqEncode(emb, pqCb, "vec_id", "embedding",
        m = 8, ksub = pqKsub)
        .localCheckpoint(false)
      pqCodes.count()
    }
    val pqProbeRuns = (1 to reps).map { _ =>
      val q = Similarity.pqKnnJoin(emb, pqCodes, pqCb, probes,
        "vec_id", "embedding", k = 5, rerank = 100, m = 8, ksub = pqKsub,
        excludeSelf = true)
        .localCheckpoint(false)
      (time(q.count()), q)
    }
    val pqProbeSec = pqProbeRuns.map(_._1).min
    val pqRecall = recall(pqProbeRuns.head._2)
    // the SCALED-rerank point: a fixed 100-finalist budget honestly
    // dilutes as the corpus grows (20k → 200k vectors compete for the
    // same 100 ADC slots), so the scale-consistent recall claim is
    // rerank ∝ corpus — what a production caller sizes. Emitted beside
    // the fixed-rerank point so the 100× gate can hold recall where
    // the cost-fixed point measures dilution.
    val pqRerankScaled = math.max(100L, emb.count() / 20L).toInt
    val pqScaledRuns = (1 to reps).map { _ =>
      val q = Similarity.pqKnnJoin(emb, pqCodes, pqCb, probes,
        "vec_id", "embedding", k = 5, rerank = pqRerankScaled, m = 8,
        ksub = pqKsub, excludeSelf = true)
        .localCheckpoint(false)
      (time(q.count()), q)
    }
    val pqScaledProbeSec = pqScaledRuns.map(_._1).min
    val pqScaledRecall = recall(pqScaledRuns.head._2)
    // the exact 200-probe brute force, timed on the same machinery the
    // recall rows used untimed — the float-scan cost ADC displaces
    val exactProbeSec = (1 to reps).map(_ => time(
      Similarity.knnJoinWith(emb, probes, "vec_id", "embedding", k = 5,
        excludeSelf = true).count())).min

    // IVF-PQ: the persisted composition — cells prune the corpus, codes
    // compress the in-cell scan (8 bytes/vector), finalists rescore
    // exact. Measured on the k-means index at the SAME auto width as
    // the balanced plain probe (kmProbeAt(-1) above), so the pq/plain
    // probe and recall columns are directly comparable.
    val ivfPqAddSec = time(Similarity.addPqToIvfIndex(spark, kmPath,
      "vec_id", "embedding", "cell", m = 8, ksub = pqKsub, iters = 2,
      trainMod = pqTrainMod))
    val ivfPqRuns = (1 to reps).map { _ =>
      val q = Similarity.ivfPqKnnJoinIndexed(spark, kmPath, probes,
        "vec_id", "embedding", "cell", k = 5, nProbe = -1, rerank = 100)
        .localCheckpoint(false)
      (time(q.count()), q)
    }
    val ivfPqProbeSec = ivfPqRuns.map(_._1).min
    val ivfPqRecall = recall(ivfPqRuns.head._2)

    // RESIDUAL IVF-PQ (the FAISS composition): codes quantize
    // vec − frozenCenter(cell) instead of raw vectors — within-cell
    // residuals span the cell radius, not the corpus radius, so the
    // same 8 bytes/vector quantize finer. Identical probe width and
    // rerank as the raw block above: the recall delta is pure encoding
    // quality. Overwrites kmPath's sidecar (raw block already measured).
    val ivfPqResAddSec = time(Similarity.addPqToIvfIndex(spark, kmPath,
      "vec_id", "embedding", "cell", m = 8, ksub = pqKsub, iters = 2,
      trainMod = pqTrainMod, residual = true))
    val ivfPqResRuns = (1 to reps).map { _ =>
      val q = Similarity.ivfPqKnnJoinIndexed(spark, kmPath, probes,
        "vec_id", "embedding", "cell", k = 5, nProbe = -1, rerank = 100)
        .localCheckpoint(false)
      (time(q.count()), q)
    }
    val ivfPqResProbeSec = ivfPqResRuns.map(_._1).min
    val ivfPqResRecall = recall(ivfPqResRuns.head._2)
    // drop the sidecar: an append encodes codes whenever `pq/` exists,
    // and the assigned-append row below measures the plain index
    val kmPq = new org.apache.hadoop.fs.Path(s"$kmPath/pq")
    kmPq.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(kmPq, true)

    // QUANTIZER AGING (round-13 verdict task 6): the k-means geometry is
    // frozen at build time, so a distribution-shifted ingest degrades
    // the index silently — first as FIT (sampled residual, occupancy
    // skew: the always-on drift metrics from ivfDriftStats), and at
    // narrow probe widths as RECALL. The experiment runs on the
    // deterministic clustered fixture (ProbeAging.clusteredVectors):
    // the testdata embedding cloud is too isotropic for any orthogonal
    // shift to decay it (measured: a 32-dim rotation moved balanced
    // recall only 0.676 → 0.629 and retraining could not "recover" what
    // was never structural — ProbeAging, PLANS round 13), while the
    // fixture's shifted half (4-axis mixes, cos ~0.5 from four frozen
    // axis centers, jitter comparable to the margin) scatters each
    // cluster across ~4 cells. Recall is probed at the narrow
    // production width (nProbe = 2 — the contract rows' width, where
    // the frozen-geometry miss is visible; the √K tiers saturate this
    // 50-cell fixture). Fixed-size at every scale: aging is a geometry
    // property, not a volume one. Everything here is deterministic —
    // fixture, seeds, folds — so the readings are exact constants and
    // check_probe's direction gates can be tight.
    val ageK = 50
    val agingBase = ProbeAging.clusteredVectors(spark, 4000, ageK, 0L,
      diag = false).localCheckpoint()
    val shiftedBatch = ProbeAging.clusteredVectors(spark, 4000, ageK,
      70000000L, diag = true).localCheckpoint()
    val agePath = s"$tmp/ivf_age"
    val ageLabeled = agingBase.join(
      Similarity.kmeansLabels(agingBase, "vec_id", "embedding", k = ageK,
        iters = 2, trainMod = math.max(1,
          (agingBase.count() / (50L * ageK)).toInt), superAssign = -1),
      Seq("vec_id"))
    Similarity.buildIvfIndex(ageLabeled, "vec_id", "embedding", "cell",
      agePath, dims = 64, deterministic = true)
    val driftFresh = Similarity.ivfDriftStats(spark, agePath, "vec_id",
      "embedding", "cell", dims = 64)
    Similarity.appendToIvfIndex(spark, agePath, shiftedBatch,
      "vec_id", "embedding", "cell", dims = 64)
    val driftShifted = Similarity.ivfDriftStats(spark, agePath, "vec_id",
      "embedding", "cell", dims = 64)
    val shiftProbes = shiftedBatch.orderBy(col("vec_id")).limit(200)
      .select(col("vec_id").as("probe_id"), col("embedding").as("__pv"))
      .localCheckpoint()
    val ageCorpus = agingBase.unionByName(shiftedBatch)
    val exactShift = Similarity.knnJoinWith(ageCorpus, shiftProbes,
      "vec_id", "embedding", k = 5, excludeSelf = true).localCheckpoint()
    def shiftRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val r = Similarity.recallAtK(df, exactShift)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
      math.rint(r * 1000) / 1000
    }
    val recallShiftBefore = shiftRecall(Similarity.ivfKnnJoinIndexed(
      spark, agePath, shiftProbes, "vec_id", "embedding", "cell",
      k = 5, nProbe = 2))
    // the POLICY drives the retrain (round 14): maintainIvfIndex reads
    // the drift and decides. The 0.17 residual threshold sits between
    // the fresh (~0.146) and shifted (~0.195) fixture readings;
    // targetRowsPerCell 80 is the fixture's build density (4000 / 50
    // cells), so the resize lands at K = ⌈8000/80⌉ = 2·ageK — the
    // K ∝ n contract (retraining at a FROZEN K over the doubled corpus
    // fits both halves worse; measured on the rotation design:
    // residual 0.598 → 0.602 with K frozen)
    var maintainDecision: Similarity.IvfMaintenance = null
    val retrainSec = time {
      maintainDecision = Similarity.maintainIvfIndex(spark, agePath,
        "vec_id", "embedding", "cell", dims = 64,
        residualThreshold = 0.17, targetRowsPerCell = 80, iters = 2,
        superAssign = -1)
    }
    val recallShiftAfter = shiftRecall(Similarity.ivfKnnJoinIndexed(
      spark, agePath, shiftProbes, "vec_id", "embedding", "cell",
      k = 5, nProbe = 2))
    // the SAME policy must now hold: post-retrain drift is back under
    // the threshold, so the second call measures and does NOT retrain
    val maintainAfter = Similarity.maintainIvfIndex(spark, agePath,
      "vec_id", "embedding", "cell", dims = 64,
      residualThreshold = 0.17, targetRowsPerCell = 80, iters = 2,
      superAssign = -1)
    val driftRetrained = maintainAfter.stats

    // incremental maintenance: appending a FIXED 200-vector batch. The
    // probe batch's ids are monotone (above the corpus max), so since
    // round 12 the append continues the stored per-(cell, chunk) csums
    // fold — O(batch + cells×chunks), NOT O(corpus): the former
    // corpus-proportional centers recompute only runs on the fallback
    // (interleaved ids / legacy index). The incremental flag is recorded
    // so the artifact proves WHICH path the timing measured.
    // min of `reps` appends of DISTINCT monotone batches (the
    // ingestEpochSec device): each append's cost is batch-bounded by
    // design, so successive fresh-id batches measure the same claim and
    // the min absorbs the GC/JIT spikes a single-shot reading bills to
    // the append — the r14 cross-scale gate misfired at 3.02× on a
    // single-shot 5.32 s capture whose three siblings read 2.5–2.7×.
    // the flag is the CONJUNCTION over all reps (start true, AND each):
    // the min timing could otherwise come from a fast-path rep while a
    // fallback rep's corpus-proportional cost hides behind a
    // last-rep-only flag still reading true
    var appendIvfFast = true
    val appendIvf = (1 to reps).map { r =>
      val ivfBatch = emb.orderBy(col("vec_id").desc).limit(200)
        .select((col("vec_id") + 90000000L + r * 1000000L).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint()
      val t = time { appendIvfFast &= Similarity.appendToIvfIndex(
        spark, ivfPath, ivfBatch, "vec_id", "embedding", "label",
        dims = 64) }
      ivfBatch.unpersist(); t
    }.min
    // the full centers recompute alone (idempotent — same lists, same
    // centers): the REPAIR/fallback path's corpus-proportional cost,
    // kept visible so the incremental win above is measured against it
    val refreshIvf = time(Similarity.refreshIvfCenters(spark, ivfPath,
      "vec_id", "embedding", "label", dims = 64))

    // assignment-only append to the k-means index: the batch arrives
    // UNLABELED and quantizes to the stored centers (one batch ×
    // broadcast(K) scoring step), then the same lists-write + csums fold
    var appendAssignedFast = true // conjunction over reps, as above
    // min over MORE reps than the default 3: this row feeds the
    // tightest cross-scale gate (3.0x cap vs a ~2.5x saturated
    // expectation), and two same-tree 100x captures read 3.84 vs 6.90 s
    // at min-of-3 — the floor estimate needs more draws than the
    // claim-side rows whose gates have 2x of headroom
    val appendAssigned = (1 to math.max(reps, 5)).map { r =>
      val kmBatch = emb.orderBy(col("vec_id").desc).limit(200)
        .select((col("vec_id") + 91000000L + r * 1000000L).as("vec_id"),
          col("embedding"))
        .localCheckpoint()
      val t = time { appendAssignedFast &=
        Similarity.appendToIvfIndex(
          spark, kmPath, kmBatch, "vec_id", "embedding", "cell",
          dims = 64) }
      kmBatch.unpersist(); t
    }.min

    // STREAMING IVF ingest (round 12): the per-micro-batch refresh runs
    // through the csums fold — epoch cost must track the batch, not the
    // corpus (the old refresh recomputed centers from ALL lists every
    // epoch). The require pins that the fold path actually ran; a
    // silent rebuild would still be correct but would time the wrong
    // claim.
    import graft.streaming.StreamOps
    val ingestIdx = s"$tmp/ivf_ingest"
    val ingestBootstrap = time(StreamOps.ivfIngestBootstrap(
      emb, ingestIdx, "vec_id", "embedding", "label", dims = 64))
    val ingestEpochSec = (1 to reps).map { r =>
      val b = emb.orderBy(col("vec_id").desc).limit(200)
        .select((col("vec_id") + 85000000L + r * 1000000L).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint()
      var route = -1
      val t = time { route = StreamOps.ivfIngestEpoch(b, 100L + r,
        ingestIdx, "vec_id", "embedding", "label", dims = 64) }
      require(route == 0,
        s"probe ingest epoch took path $route, not the incremental fold")
      b.unpersist(); t
    }.min

    // INGEST WITH MAINTENANCE (round 15): the wired policy's per-check
    // overhead on the NO-BREACH path — the bounded drift-metrics pass
    // maintainIvfIndex runs before an epoch when `maintainEvery`
    // fires. A breach pays the retrain, which ivf_retrain_sec already
    // measures; this row pins the steady-state claim that the check is a
    // bounded-sample metrics pass (a column-pruned scan at most — the
    // sampling filter reads the lists but keeps sampleN rows), far
    // from a retrain. Threshold at infinity so the measured path is
    // deterministically the measure-only one.
    val ingestMaintainSec = (1 to reps).map { r =>
      // id base ABOVE the plain ingest loop's last epoch (85M + reps·1M):
      // the fold's fast path needs batch ids monotone past the indexed max
      val b = emb.orderBy(col("vec_id").desc).limit(200)
        .select((col("vec_id") + 95000000L + r * 1000000L).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint()
      var route = -1
      val t = time {
        Similarity.maintainIvfIndex(spark, ingestIdx, "vec_id",
          "embedding", "label", dims = 64,
          residualThreshold = Double.MaxValue)
        route = StreamOps.ivfIngestEpoch(b, 200L + r, ingestIdx,
          "vec_id", "embedding", "label", dims = 64)
      }
      require(route == 0,
        s"probe maintained epoch took path $route, not the incremental fold")
      b.unpersist(); t
    }.min

    // the SAMPLED-DRIFT fast path (round 16): the same no-breach check
    // with the residual sample's scan pruned to ~1/8 of the cell dirs
    // (cellMod — a partition-pruning predicate on the cell-key hash) —
    // the cost lever when maintainEvery must be small. rows/cells/skew
    // stay exact (csums-derived); only the residual estimate samples.
    val ingestMaintainSampledSec = (1 to reps).map { r =>
      val b = emb.orderBy(col("vec_id").desc).limit(200)
        .select((col("vec_id") + 120000000L + r * 1000000L).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint()
      var route = -1
      val t = time {
        Similarity.maintainIvfIndex(spark, ingestIdx, "vec_id",
          "embedding", "label", dims = 64,
          residualThreshold = Double.MaxValue, cellMod = 8)
        route = StreamOps.ivfIngestEpoch(b, 300L + r, ingestIdx,
          "vec_id", "embedding", "label", dims = 64)
      }
      require(route == 0,
        s"sampled maintained epoch took path $route, not the fold")
      b.unpersist(); t
    }.min

    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))

    // PERSISTED PHASH INDEX (round 13): perceptual media dedup at corpus
    // scale. The index is signatures-only (the binary payloads never
    // enter it), the probe reads only its candidate pb dirs AND pushes
    // its candidate bvals onto the bval-sorted row groups — so a fixed
    // 500-doc probe batch's bytes stay bounded by the batch while the
    // corpus grows (the cross-scale gate below). Fixture groups scale
    // with the corpus (~30 docs/group) so match volume stays bounded too.
    def dataFiles(root: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile)
          (if (f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("_") && !f.getName.startsWith(".")) 1
          else 0)
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      walk(new java.io.File(root))
    }

    val phashGroups = math.max(25, (docs.count() / 30).toInt)
    val phashCorpus = Multimodal.phashFixtureMedia(spark,
      docs.select(col("doc_id")), phashGroups)
    val phashIdx = s"$tmp/phash"
    val phashBuild = time(
      Multimodal.buildPhashIndex(spark, PhashKind.Image, phashCorpus,
        phashIdx))
    val phashProbes = Multimodal.phashFixtureMedia(spark,
      docs.orderBy(col("doc_id")).limit(500)
        .select((col("doc_id") + 900000000L).as("doc_id")), phashGroups)
      .localCheckpoint()
    val phashProbe = (1 to reps).map(_ => time(
      Multimodal.phashDedupAgainst(spark, PhashKind.Image, phashIdx,
        phashProbes).count())).min
    val phashFilesBefore = dataFiles(phashIdx)
    val phashAppend = time(
      Multimodal.appendToPhashIndex(spark, PhashKind.Image, phashProbes,
        phashIdx))
    // lifecycle accounting (round 14): an append adds ≤ 1 file per
    // TOUCHED pb dir (≤ 256 by geometry, not corpus-proportional);
    // compaction folds the tree back to one file per dir, and the
    // post-compaction probe must hold the steady-state floor (the
    // appended batch now matches itself at hamming 0, so a modest
    // growth over the pre-append probe is expected — gated at 3x)
    val phashFilesPerAppend = dataFiles(phashIdx) - phashFilesBefore
    val phashCompact = time(Multimodal.compactPhashIndex(spark, phashIdx))
    val phashFilesPostCompact = dataFiles(phashIdx)
    val phashProbePostCompact = (1 to reps).map(_ => time(
      Multimodal.phashDedupAgainst(spark, PhashKind.Image, phashIdx,
        phashProbes).count())).min

    val dedupPath = s"$tmp/dedup"
    val buildDedup = time(Dedup.buildDedupIndex(
      docs, "doc_id", "text", dedupPath))
    // fixed 500-doc ingest batch, ids shifted clear of the corpus
    val batch = docs.orderBy(col("doc_id")).limit(500)
      .select((col("doc_id") + 90000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    val probeDedup = (1 to reps).map(_ => time(
      Dedup.dedupAgainstIndexed(spark, dedupPath, batch,
        "doc_id", "text", 0.8).count())).min
    // dedup append: same fixed batch, cost must track the batch not the
    // corpus (the index tables are per-doc-independent rows)
    val appendDedup = time(Dedup.appendToDedupIndex(batch,
      "doc_id", "text", dedupPath))

    // STREAMING dedup state, steady-epoch cost: the online near-dup
    // path over a corpus-seeded state (nearDupStateBootstrap — multi-
    // epoch, one Bloom summary per epoch). One fixed 500-doc epoch —
    // half near-dups of corpus docs (candidate epochs ARE read), half
    // fresh vocabulary — is timed end-to-end: in-batch cascade, summary-
    // pruned state verify, epoch writes. Flatness across 1x/10x/100x is
    // the round-11 claim that the per-epoch keys scan (the last corpus-
    // growing term) is bounded; the fresh-only row is the no-candidate
    // floor (zero state data bytes, summary probes only). Each rep
    // salts its ids AND vocabulary so no rep dedups against a prior
    // rep's admissions.
    import graft.streaming.StreamOps
    val statePath = s"$tmp/dedup_state"
    val stateBuild = time(StreamOps.nearDupStateBootstrap(
      docs, statePath, "doc_id", "text"))
    // keysum only exists when at least one bootstrap epoch was under the
    // summary cap — every-epoch-over-cap leaves no dir, hence the guard
    val stateEpochs = Option(
      new java.io.File(s"$statePath/keysum").listFiles())
      .fold(0)(_.count(_.getName.startsWith("batch=")))
    def stateBatch(r: Int, withDups: Boolean): org.apache.spark.sql.DataFrame = {
      val w = graft.functions.TextFns.words(col("text"))
      val dups = docs.orderBy(col("doc_id")).limit(250)
        .select((col("doc_id") + 93000000L + r * 1000000L).as("doc_id"),
          concat(col("text"), lit(s" zz${r}q")).as("text"))
      // the fresh-only arm salts DIFFERENTLY from the dup arm's fresh
      // half (f$r vs q$r, distinct id base): the dup arm's rep-r fresh
      // docs were ADMITTED into epoch 1000+r, so reusing their salt
      // would hand the "no-candidate floor" 250 exact state duplicates
      // and measure a verify, not the floor
      val (salt, base) =
        if (withDups) (s"q$r", 95000000L) else (s"f$r", 97000000L)
      val fresh = docs.orderBy(col("doc_id").desc).limit(
        if (withDups) 250 else 500)
        .select((col("doc_id") + base + r * 1000000L).as("doc_id"),
          array_join(transform(w, x => concat(lit(salt), x)), " ")
            .as("text"))
      (if (withDups) dups.unionByName(fresh) else fresh).localCheckpoint()
    }
    val stateEpochSec = (1 to reps).map(r => {
      val b = stateBatch(r, withDups = true)
      val t = time(StreamOps.dedupEpoch(b, 1000L + r, statePath,
        "doc_id", "text", 0.8).count())
      b.unpersist(); t
    }).min
    val stateEpochFreshSec = (1 to reps).map(r => {
      val b = stateBatch(r, withDups = false)
      val t = time(StreamOps.dedupEpoch(b, 2000L + r, statePath,
        "doc_id", "text", 0.8).count())
      b.unpersist(); t
    }).min
    // round-12 verdict task 5: the steady-epoch cost AFTER grouped
    // compaction — the 100x gap between steady (5.10s) and fresh (1.89s)
    // was candidate-epoch reads across the 9+ accumulated epochs, which
    // compactStateGrouped exists to bound by folding them into capped
    // groups. regroup = true also merges prior consolidations, so the
    // epochs the dup arm above accumulated (bootstrap + 2*reps) fold to
    // the fewest summarized groups the cap admits. Measured with the
    // same dup-shaped batch (candidates ARE read); the gate is
    // postcompact <= 3x the fresh floor (tools/check_probe.py — the
    // residual is the batch's candidate-verify work, decomposed by
    // graft.ProbeStateVerify, not epoch count).
    val stateCompactSec = time(
      StreamOps.compactStateGrouped(spark, statePath, regroup = true))
    def statePostBatch(r: Int): org.apache.spark.sql.DataFrame = {
      val w = graft.functions.TextFns.words(col("text"))
      val dups = docs.orderBy(col("doc_id")).limit(250)
        .select((col("doc_id") + 84000000L + r * 1000000L).as("doc_id"),
          concat(col("text"), lit(s" zz${r}p")).as("text"))
      val fresh = docs.orderBy(col("doc_id").desc).limit(250)
        .select((col("doc_id") + 82000000L + r * 1000000L).as("doc_id"),
          array_join(transform(w, x => concat(lit(s"p$r"), x)), " ")
            .as("text"))
      dups.unionByName(fresh).localCheckpoint()
    }
    val stateEpochPostCompactSec = (1 to reps).map(r => {
      val b = statePostBatch(r)
      val t = time(StreamOps.dedupEpoch(b, 3000L + r, statePath,
        "doc_id", "text", 0.8).count())
      b.unpersist(); t
    }).min

    // JDBC apply: the sink's one ordered loop over a fixed
    // ≤200k-changeset batch with realistically wide payloads and a
    // no-op executor, so it measures statement generation only (a real
    // target adds its DB round-trips).
    val applyBatch = {
      import graft.model.ChangesetSchema
      val ev = Tables.load(spark, sfDir, "events").limit(200000)
      ev.select(col("event_id").cast("long").as("id"),
        lit(null).cast("timestamp").as("ts"),
        lit("INSERT").as("action"),
        lit("public").as("schema_name"),
        lit("events_mirror").as("table_name"),
        lit(1L).as("txid"),
        // a realistically WIDE row payload (CDC payloads carry the whole
        // row): a dozen columns so the per-statement JSON parse + SQL
        // build cost matches production shape
        to_json(struct(col("event_id").cast("long").as("id"),
          col("user_id"), col("event_type"),
          col("value").as("v0"), (col("value") * 2).as("v1"),
          (col("value") * 3).as("v2"), (col("value") * 4).as("v3"),
          concat(col("event_type"), lit("-suffix-0")).as("s0"),
          concat(col("event_type"), lit("-suffix-1")).as("s1"),
          concat(col("event_type"), lit("-suffix-2")).as("s2"),
          col("event_id").cast("string").as("ref_a"),
          (col("event_id") + 7).cast("string").as("ref_b"))).as("new_values"),
        lit(null).cast("string").as("old_values"))
        .localCheckpoint()
    }
    val applyPks = Map(("public", "events_mirror") -> Seq("id"))
    val applySeq = Map(("public", "events_mirror") ->
      Seq(("id", "public.events_mirror_id_seq")))
    import graft.streaming.JdbcApplySink
    val applySerial = (1 to reps).map(_ => time(
      JdbcApplySink.applyChunked(applyBatch, applyPks, applySeq,
        _ => ()))).min

    // terminal training-shard shuffle over the WHOLE corpus (text
    // payload included — the shuffle moves it): ONE hash shuffle + a
    // per-shard sort, corpus-LINEAR by design (this is the one
    // deliberately full pass a corpus exit takes; the claim is the
    // SHAPE — no global sort, no driver term — not sublinearity).
    // noop-sink, not count(): the optimizer would prune an unreferenced
    // window below a count (the known count()-pruning trap).
    val shardShuffleSec = (1 to reps).map(_ => time(
      Sampling.shardShuffle(docs, col("doc_id"), 64, "probe")
        .write.format("noop").mode("overwrite").save())).min

    val line = s"""{"sf":"$sfDir","reps":$reps,""" +
      s""""ivf_build_sec":$buildIvf,"ivf_probe200_sec":$probeIvf,""" +
      s""""ivf_probe200_flat_sec":$probeIvfFlat,""" +
      s""""ivf_probe200_2level_sec":$probeIvf2L,""" +
      s""""ivf_auto_engaged":$autoEngaged,"ivf_cells":$labelCells,""" +
      s""""ivf_recall5_flat":$recallFlat,"ivf_recall5_auto":$recallAuto,""" +
      s""""ivf_recall5_2level":$recall2L,""" +
      s""""kmeans_cells":$kCells,"kmeans_train_mod":$trainMod,""" +
      s""""kmeans_build_sec":$buildKm,""" +
      s""""ivf_recall5_kmeans":$recallKm,""" +
      s""""ivf_recall5_kmeans_auto":$recallKmAuto,""" +
      s""""ivf_probe200_kmeans_auto_sec":$kmAutoSec,""" +
      s""""ivf_recall5_kmeans_recall_tier":$recallKmHi,""" +
      s""""ivf_probe200_kmeans_recall_tier_sec":$kmHiSec,""" +
      s""""ann_curve":[${annCurve.mkString(",")}],""" +
      s""""ivf_drift_skew_fresh":${driftFresh.occupancySkew},""" +
      s""""ivf_drift_residual_fresh":${driftFresh.meanResidual},""" +
      s""""ivf_drift_skew_shifted":${driftShifted.occupancySkew},""" +
      s""""ivf_drift_residual_shifted":${driftShifted.meanResidual},""" +
      s""""ivf_drift_residual_retrained":${driftRetrained.meanResidual},""" +
      s""""ivf_retrain_sec":$retrainSec,""" +
      s""""ivf_maintain_retrained":${maintainDecision.retrained},""" +
      s""""ivf_maintain_k":${maintainDecision.k},""" +
      s""""ivf_maintain_holds_after":${!maintainAfter.retrained},""" +
      s""""ivf_recall5_shifted_before":$recallShiftBefore,""" +
      s""""ivf_recall5_shifted_after":$recallShiftAfter,""" +
      s""""ivf_append200_sec":$appendIvf,""" +
      s""""ivf_append200_incremental":$appendIvfFast,""" +
      s""""ivf_centers_refresh_sec":$refreshIvf,""" +
      s""""ivf_append200_assigned_sec":$appendAssigned,""" +
      s""""ivf_append200_assigned_incremental":$appendAssignedFast,""" +
      s""""ivf_ingest_bootstrap_sec":$ingestBootstrap,""" +
      s""""ivf_ingest_epoch200_sec":$ingestEpochSec,""" +
      s""""ivf_ingest_epoch200_maintained_sec":$ingestMaintainSec,""" +
      s""""ivf_ingest_epoch200_maintained_sampled_sec":$ingestMaintainSampledSec,""" +
      s""""pq_train_sec":$pqTrainSec,""" +
      s""""pq_encode_sec":$pqEncodeSec,""" +
      s""""pq_probe200_sec":$pqProbeSec,""" +
      s""""pq_recall5":$pqRecall,""" +
      s""""pq_rerank_scaled":$pqRerankScaled,""" +
      s""""pq_probe200_scaled_sec":$pqScaledProbeSec,""" +
      s""""pq_recall5_scaled":$pqScaledRecall,""" +
      s""""exact_probe200_sec":$exactProbeSec,""" +
      s""""ivfpq_add_sec":$ivfPqAddSec,""" +
      s""""ivfpq_probe200_sec":$ivfPqProbeSec,""" +
      s""""ivfpq_recall5":$ivfPqRecall,""" +
      s""""ivfpq_residual_add_sec":$ivfPqResAddSec,""" +
      s""""ivfpq_residual_probe200_sec":$ivfPqResProbeSec,""" +
      s""""ivfpq_residual_recall5":$ivfPqResRecall,""" +
      s""""phash_build_sec":$phashBuild,""" +
      s""""phash_probe500_sec":$phashProbe,""" +
      s""""phash_append500_sec":$phashAppend,""" +
      s""""phash_files_per_append":$phashFilesPerAppend,""" +
      s""""phash_compact_sec":$phashCompact,""" +
      s""""phash_files_post_compact":$phashFilesPostCompact,""" +
      s""""phash_probe_post_compact500_sec":$phashProbePostCompact,""" +
      s""""dedup_build_sec":$buildDedup,"dedup_probe500_sec":$probeDedup,""" +
      s""""dedup_append500_sec":$appendDedup,""" +
      s""""state_bootstrap_sec":$stateBuild,"state_epochs":$stateEpochs,""" +
      s""""state_epoch500_sec":$stateEpochSec,""" +
      s""""state_epoch500_fresh_sec":$stateEpochFreshSec,""" +
      s""""state_compact_grouped_sec":$stateCompactSec,""" +
      s""""state_epoch500_postcompact_sec":$stateEpochPostCompactSec,""" +
      s""""jdbc_apply200k_serial_sec":$applySerial,""" +
      s""""shard_shuffle64_sec":$shardShuffleSec}"""
    println(line)
    // persist the artifact (round 7 only printed it, so the amortization
    // and append-cost claims were never machine-checkable round-over-
    // round); tools/check_probe.py validates the committed file
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
        "probe_out.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[probe] could not write probe_out.json: ${e.getMessage}")
    }
    spark.stop()
  }
}
