package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.{Bloom, Dedup, ParquetCompact, Similarity}
import graft.functions.Multimodal.PhashKind

/**
 * Streaming relational capabilities over the changeset/event stream —
 * the operations the reference cannot express at all (SURVEY §2.5 lists
 * streaming windows/state as a declared capability extension).
 *
 * All of these run identically on batch frames (Spark's unified engine),
 * which is how their semantics are oracle-checked; the streaming tests
 * drive them through real micro-batch execution.
 */
object StreamOps {

  /**
   * At-least-once → exactly-once event dedup inside a watermark window:
   * duplicates of the same changeset id arriving within the watermark are
   * dropped (the reference's duplicate-insert skip, pushed to the stream
   * edge). On a streaming frame requires `withWatermark` upstream.
   */
  def dedupWithinWatermark(cs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    cs.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("id")

  /** Batch-equivalent dedup (same key). */
  def dedupBatch(cs: DataFrame): DataFrame = cs.dropDuplicates("id")

  /**
   * Streaming benchmark decontamination — the ingest-time form of
   * [[graft.functions.Dedup.decontaminateAgainst]]: every arriving
   * training document is scored against the (fixed) benchmark shingle
   * universe, and only clean docs are admitted to `outPath`.
   *
   * The universe is hashed ONCE up front (eagerly checkpointed — eval
   * suites are fixed-size, so this is a tiny broadcast table reused by
   * every micro-batch, never re-shingled). Writes are epoch-idempotent:
   * each batch lands in a `batch=<epoch>` partition with overwrite, so a
   * crash-replayed batch rewrites its own output instead of duplicating
   * it — the same recovery contract as [[nearDupDedupTo]].
   *
   * Docs with no shingles (< 3 words) have nothing to test overlap on
   * and are NOT admitted, matching the batch operator's domain.
   */
  def decontaminateTo(docs: DataFrame, bench: DataFrame, outPath: String,
                      checkpoint: String, idCol: String, textCol: String,
                      maxOverlapFrac: Double = 0.5,
                      availableNow: Boolean = true): StreamingQuery = {
    val universe = Dedup.shingleUniverse(bench, textCol)
      .localCheckpoint() // eager: materialize before the stream starts
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // the batch feeds the scoring pass AND the output semi-join —
        // cache for the epoch so the source isn't read twice
        val batch = batch0.cache()
        try {
          val clean = Dedup.decontaminateAgainstUniverse(
            batch, universe, idCol, textCol, maxOverlapFrac)
            .filter(!col("contaminated"))
            .select(col(idCol))
          batch.join(clean, Seq(idCol), "left_semi")
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        } finally { batch.unpersist(false); () }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /**
   * Constant-memory streaming blocklist filtering: the exact-key
   * counterpart of [[decontaminateTo]] for blocklists too large to
   * broadcast as an exact set. The [[graft.functions.Bloom]] filter is
   * sized (`Bloom.sizeFor`) and built ONCE before the stream starts
   * (eagerly checkpointed one-row frame), then every micro-batch is a
   * single scan with `k` inlined bit tests — no join, no shuffle, no
   * per-batch state growth.
   *
   * Bloom semantics: zero false negatives — no blocklisted key is ever
   * admitted; `fpp` bounds how much CLEAN data is over-dropped. Writes
   * are epoch-idempotent (`batch=<epoch>` overwrite), same recovery
   * contract as [[decontaminateTo]].
   */
  def bloomDecontaminateTo(docs: DataFrame, blockKeys: DataFrame,
                           outPath: String, checkpoint: String,
                           keyCol: String, fpp: Double = 1e-3,
                           availableNow: Boolean = true): StreamingQuery = {
    // the blocklist is static for the life of the query: size and build
    // the filter up front (count is one tiny driver-side action)
    val n = math.max(1L, blockKeys.select(col(keyCol)).count())
    val (m, k) = Bloom.sizeFor(n, fpp)
    val filterRow = Bloom.build(blockKeys, col(keyCol), m, k)
      .localCheckpoint() // eager: materialize before the stream starts
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.crossJoin(broadcast(filterRow))
          .withColumn("__hit",
            Bloom.mightContain(col("__bloom"), col(keyCol), m, k))
          .filter(!col("__hit")).drop("__bloom", "__hit")
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /**
   * Streaming unigram-LM quality gate —
   * [[graft.functions.TextFns.unigramLmScoreAgainst]] at the ingest edge,
   * the CCNet device in streaming form: the model is TRAINED ONCE
   * pre-stream on a curated reference corpus, then every micro-batch is
   * scored against it and documents below `minHmProb` are dropped.
   *
   * Scale shape: the model is vocabulary-sized and static for the life
   * of the query (built and checkpointed up front, like the Bloom
   * filter above); per batch the work is one (doc, term) tf aggregate
   * and the vocabulary join — no state store, no cross-batch shuffle.
   * Epoch-idempotent `batch=<id>` overwrite writes, same crash contract
   * as the other sinks here. Admitted rows carry their (n_tokens,
   * n_oov, hm_prob) columns for downstream accounting.
   */
  def lmScoreTo(docs: DataFrame, modelCorpus: DataFrame, outPath: String,
                checkpoint: String, idCol: String, textCol: String,
                minHmProb: Double = 0.0,
                availableNow: Boolean = true): StreamingQuery = {
    val model = graft.functions.TextFns.unigramModel(modelCorpus, textCol)
      .localCheckpoint() // eager: built once before the stream starts
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scores = graft.functions.TextFns
          .unigramLmScoreAgainst(model, batch, idCol, textCol)
        batch.join(scores, idCol)
          .filter(col("hm_prob") >= minHmProb)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /**
   * Streaming near-duplicate dedup at the ingest edge — the online form of
   * [[graft.functions.Dedup.nearDupClusters]]: admit a document iff it is
   * not a near-dup of anything already admitted.
   *
   * Per micro-batch ([[dedupEpoch]]):
   *  1. the batch is signed ONCE: each exact group's representative with
   *     its shingle set and LSH band keys, in one checkpoint;
   *  2. it is probed ONCE against itself and the ADMITTED corpus: the
   *     band keys join their own keys and the accumulated key index
   *     together (bucket-local — never corpus × batch), the candidates
   *     verify exact Jaccard against the batch's and the stored shingle
   *     sets, and the verified pairs are collected for a driver-side
   *     union-find — a doc is kept iff it is its in-batch component's
   *     min id and matched no admitted doc;
   *  3. survivors land in `outPath`/`statePath` under a `batch=<epoch>`
   *     subdirectory with overwrite — a crash-replayed micro-batch
   *     rewrites its own epoch (no duplicate admissions), and the verify
   *     step excludes the replayed epoch's own state rows (no
   *     self-match drops). Effectively-once without a transaction.
   *
   * Semantics note (documented divergence from the batch operator): this
   * is the standard greedy online rule. For a chain A~B, B~C with A≁C
   * arriving in different batches, batch connected-components keeps only
   * A, while the greedy stream admits A and C (B dropped) — C matched no
   * ADMITTED doc at its arrival. Within one batch the cascade applies, so
   * a single-batch run equals the batch operator exactly.
   *
   * Scale shape: state is two append-only parquet tables (keys: 4 rows ×
   * ~40 B per admitted doc; sets: the shingle arrays — the bulk). The
   * candidate join is (band, bkey)-bucketed, and the sets table has ONE
   * layout: id-bucket partitioned (`ib=` dirs inside each epoch,
   * [[StateSetBuckets]] of them, recorded in a layout marker), so each
   * epoch's verify reads only the CANDIDATE ids' buckets — the sets scan
   * stops growing with the corpus, for a constant per-epoch cost (≤64
   * bucket dirs written per epoch; the candidate epochs' files are
   * listed on the driver, never in a Spark listing job). A state that
   * holds keys or sets tables but no marker (a flat state from an older
   * build, or a [[nearDupStateBootstrap]] that crashed before its marker
   * write)
   * fails the epoch loudly before anything is written: rebuild it with
   * [[nearDupStateBootstrap]] over the admitted docs. The keys table is NOT scanned
   * whole per epoch: band-prefix partitioning was measured not to pay
   * there (a batch's keys span all 256 hash prefixes), so the scan is
   * bounded at the EPOCH level instead — each epoch writes a Bloom
   * summary of its band keys ([[KeySummaries]]) and later epochs read
   * only the epoch partitions that might contain one of their keys, so
   * a no-candidate batch reads zero state bytes from either table.
   */
  def nearDupDedupTo(docs: DataFrame, outPath: String, statePath: String,
                     checkpoint: String, idCol: String, textCol: String,
                     minJaccard: Double = 0.8,
                     availableNow: Boolean = true): StreamingQuery = {
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // cached for the epoch: see dedupEpoch
        val batch = batch0.cache()
        try {
          dedupEpoch(batch, batchId, statePath, idCol, textCol, minJaccard)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        } finally { batch.unpersist(false); () }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** id-bucket count of the streaming dedup state's sets table: each
    * epoch's admitted shingle sets land under `ib=<id mod this>` dirs
    * inside their `batch=` partition, so the verify step reads only the
    * CANDIDATE ids' buckets instead of the whole accumulated sets table
    * (the state's bulk: full shingle arrays; keys are 4 short rows/doc). */
  private[graft] val StateSetBuckets = 64

  private def stateLayoutPath(statePath: String) =
    new org.apache.hadoop.fs.Path(s"$statePath/_graft_state_layout")

  /** The layout check every state writer ([[dedupEpoch]], [[compactState]],
    * [[compactStateGrouped]]) makes before it writes anything. A present
    * marker must record [[StateSetBuckets]] (a malformed one fails in
    * [[graft.functions.LayoutMarker]]); an absent one is written on a
    * fresh path, and refused beside existing keys/sets tables — a flat
    * state from an older build, or a [[nearDupStateBootstrap]] that
    * crashed before its marker write — since banded writes into either
    * would mix layouts under one partition root. */
  private def requireBandedState(fs: org.apache.hadoop.fs.FileSystem,
                                 statePath: String): Unit = {
    import graft.functions.LayoutMarker
    val p = stateLayoutPath(statePath)
    val rebuild = "rebuild the state at a fresh path with " +
      "StreamOps.nearDupStateBootstrap over the admitted docs"
    LayoutMarker.read(fs, p, "ibsets|", "dedup-state") match {
      case Some(b) =>
        require(b == StateSetBuckets, s"dedup state at $statePath has " +
          s"$b set buckets, not $StateSetBuckets: $rebuild")
      case None =>
        val tables = Seq("keys", "sets").filter(t =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$statePath/$t")))
        require(tables.isEmpty, s"dedup state at $statePath holds " +
          s"${tables.mkString(" and ")} but no layout marker (a legacy " +
          s"flat state, or a bootstrap that crashed before its marker " +
          s"write): $rebuild")
        LayoutMarker.write(fs, p, "ibsets|", StateSetBuckets)
    }
  }

  /** A state sets row's `ib` bucket (the one shared bucket definition). */
  private def stateBucket(id: org.apache.spark.sql.Column) =
    Dedup.idBucket(id, StateSetBuckets)

  /** Epoch directory ids present under a state table root (`batch=N`
    * names) — a metadata-only FS listing. */
  private def listStateEpochs(fs: org.apache.hadoop.fs.FileSystem,
                              root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLongOption }
      .flatten
  }

  private[graft] def keySummaryPath(statePath: String, epoch: Long) =
    new org.apache.hadoop.fs.Path(s"$statePath/keysum/batch=$epoch")

  /**
   * One epoch of the online near-dup dedup — the foreachBatch core of
   * [[nearDupDedupTo]], factored out so [[prepPipelineTo]] can compose it
   * with other stages. Signs the batch once, probes it against itself
   * and the admitted-corpus state once (excluding THIS epoch's rows, for
   * crash-replay safety), writes the epoch's state partitions
   * (keys/sets, overwrite-idempotent), and returns the admitted docs
   * frame (backed by the checkpointed signed batch — safe to consume
   * after the state writes). `batch` is read once, into that
   * checkpoint; callers cache it all the same, because a cached batch
   * gives the checkpoint its real size, and with it the probe's small
   * joins plan as broadcasts (without it each runs as shuffles, a Spark
   * job per side).
   *
   * Admissions equal the two-pass form (batch cascade, then a state
   * probe of the surviving representatives): a doc is admitted iff it is
   * its exact group's representative, the minimum of its in-batch
   * near-dup component, and has no verified pair with the state.
   *
   * `summaryCap` overrides [[KeySummaries.MaxKeys]] ONLY in specs: a
   * cap of 1 routes a small batch through the over-cap degrade (no
   * pruning, full state scan, no summary written for the epoch), which
   * would otherwise need a ~65k-doc batch to reach. Production callers
   * take the default.
   */
  private[graft] def dedupEpoch(batch: DataFrame, batchId: Long,
                                statePath: String,
                                idCol: String, textCol: String,
                                minJaccard: Double,
                                summaryCap: Int = KeySummaries.MaxKeys)
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.graftbridge.FileIndexBridge
    import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
    val spark = batch.sparkSession
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keysPath = s"$statePath/keys"
    val setsPath = s"$statePath/sets"
    // integral ids were always a de-facto requirement here (the cascade's
    // union-find collects long ids; string ids died deep inside it with a
    // bare ClassCastException) and the banded bucket column would
    // null-cast them — make the contract explicit and fail at the door
    graft.functions.TopKAgg.requireIntegralId(batch, idCol,
      "streaming near-dup dedup")
    requireBandedState(fs, statePath)

    // 1. SIGN ONCE: each exact group's representative (its min id) with
    // its shingle set and band keys, checkpointed — the one frame the
    // probe, the state writes and the output all read. Signing ahead of
    // the exact-group shuffle runs it in the batch's own partitions.
    val reps = Dedup.exactGroups(Dedup.signed(batch, textCol), idCol,
      textCol).filter(col(idCol) === col("__rep")).drop("__rep")
      .localCheckpoint()
    val repKeys = reps.select(col(idCol),
      posexplode(col("bkeys")).as(Seq("band", "bkey")))
    val repSets = reps.select(col(idCol), col("sset"))
    // the representatives' band keys, in ONE bounded collect: they prune
    // the state epochs to read (below) and, restricted to the admitted
    // cluster representatives, make this epoch's summary (step 3). A
    // batch with more than `summaryCap` key rows degrades to the full
    // scan and writes no summary — never to a missed candidate.
    val keyed: Option[Array[(Long, String)]] = {
      val rows = repKeys.select(col(idCol).cast("long"), col("bkey"))
        .limit(summaryCap + 1).collect()
      if (rows.length > summaryCap) None
      else Some(rows.map(r => (r.getLong(0), r.getString(1))))
    }

    // 2. PROBE ONCE against the admitted corpus. State rows of THIS
    // epoch are excluded so a crash-replay of the batch does not match
    // its docs against their own replayed index entries (which would
    // silently drop them).
    //
    // EPOCH-LEVEL pruning via the per-epoch band-key summaries
    // ([[KeySummaries]]): only the epochs whose Bloom file might hold one
    // of the batch's keys are read — from BOTH tables, since a candidate
    // id's sets rows live in the epoch that admitted it. Bloom ⇒ no false
    // negatives ⇒ admissions are bit-identical to the full scan; an epoch
    // with no summary (compacted batch=-1, over-cap batch) is always
    // read, and an over-cap batch reads every epoch.
    val epochs = {
      val all = listStateEpochs(fs, keysPath).filter(_ != batchId)
      keyed.fold(all)(ks => KeySummaries.pruneEpochs(fs, all,
        ks.map(_._2).distinct, m => keySummaryPath(statePath, m)))
    }
    // the state epochs are read from files listed HERE, on the driver:
    // the layout is known (keys `batch=N/`, sets `batch=N/ib=K/`), and a
    // Spark read would list 64 ib dirs per epoch in a job of its own.
    // Empty or absent dirs (a crash at ANY point of an epoch's writes)
    // contribute nothing, so a replay never wedges on them.
    val keyLeaves = epochs.flatMap(m =>
      FileIndexBridge.leaf(fs, new Path(s"$keysPath/batch=$m"), Seq(m)))
    val setLeaves = epochs.flatMap { m =>
      val dir = new Path(s"$setsPath/batch=$m")
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("ib="))
        .flatMap(d => FileIndexBridge.leaf(fs, d.getPath,
          Seq[Any](m, d.getPath.getName.stripPrefix("ib=").toInt)))
    }
    val batchPart = new StructType().add("batch", LongType)
    // the candidates' id buckets (bounded ≤ StateSetBuckets) and id
    // range become the sets read's filters: the verify touches only
    // buckets that can hold a candidate, and the [lo, hi] range (a
    // SUPERSET of the candidate ids — the verify join still decides
    // membership) pushes to parquet, where the state's id-sorted row
    // groups (bootstrap/compaction sort within partitions) let clustered
    // candidates — the common shape: recent docs duplicate recent docs —
    // skip most row groups. ONE job over the checkpointed candidates,
    // no shuffle: each partition folds its ids to (buckets, lo, hi) and
    // the driver merges the partials. The bounds are cast to the id
    // column's type, never the column, or the pushdown would silently
    // vanish.
    def prunedSets(ids: DataFrame): DataFrame = {
      val (ibs, lo, hi) = ids.select(stateBucket(col(idCol)),
          col(idCol).cast("long")).rdd
        .mapPartitions { rows =>
          val ibs = scala.collection.mutable.Set.empty[Int]
          var lo = Long.MaxValue
          var hi = Long.MinValue
          rows.foreach { r =>
            ibs += r.getInt(0)
            lo = math.min(lo, r.getLong(1)); hi = math.max(hi, r.getLong(1))
          }
          Iterator.single((ibs.toSet, lo, hi))
        }.collect()
        .foldLeft((Set.empty[Int], Long.MaxValue, Long.MinValue)) {
          case ((s0, l0, h0), (s1, l1, h1)) =>
            (s0 ++ s1, math.min(l0, l1), math.max(h0, h1))
        }
      val idType = repSets.schema(idCol).dataType
      FileIndexBridge.parquet(spark, repSets.schema,
          batchPart.add("ib", IntegerType), setLeaves)
        .filter(if (ibs.isEmpty) lit(false)
          else col("ib").isin(ibs.toSeq: _*) &&
            col(idCol) >= lit(lo).cast(idType) &&
            col(idCol) <= lit(hi).cast(idType))
    }
    // no candidate epoch: the batch probes itself alone, reading zero
    // state bytes
    val prior = if (keyLeaves.isEmpty) None else Some((
      FileIndexBridge.parquet(spark, repKeys.schema, batchPart, keyLeaves),
      prunedSets _))
    val verified = Dedup.nearDupPairs(reps.select(col(idCol), col("sset"),
      col("bkeys")), idCol, minJaccard, prior)

    // the verified pairs are few: ONE bounded collect, then union-find
    // on the driver. Dropped: every in-batch component member but its
    // minimum, and every representative with a verified state pair.
    // Only these ids go back to the writes, as a broadcast anti-join.
    // Over the edge limit the components are found distributed
    // ([[Dedup.connectedComponents]]) and the anti-join reads a
    // checkpointed frame of the same ids.
    val limit = Dedup.DriverEdgeLimit
    val edges = verified.select(col("doc_a").cast("long"),
      col("doc_b").cast("long"), col("prior")).limit(limit.toInt + 1)
      .collect()
    val (admit, summaryKeys): (DataFrame => DataFrame, Option[Array[String]]) =
      if (edges.length <= limit) {
        val (toState, inBatch) = edges.partition(_.getBoolean(2))
        val nonMins = Dedup.componentLabels(
          inBatch.map(r => (r.getLong(0), r.getLong(1)))).keySet
        val dropped = spark.sparkContext.broadcast(
          nonMins ++ toState.map(_.getLong(0)))
        val keep = udf((id: Long) => !dropped.value.contains(id))
        (d => d.filter(keep(col(idCol).cast("long"))),
          keyed.map(_.collect { case (id, k) if !nonMins(id) => k }.distinct))
      } else {
        val nonMins = Dedup.connectedComponents(
          verified.filter(!col("prior")).select("doc_a", "doc_b"))
          .filter(col("node") =!= col("label")).select(col("node").as("__d"))
        val dropped = nonMins.union(verified.filter(col("prior"))
          .select(col("doc_a").as("__d"))).distinct().localCheckpoint()
        def anti(d: DataFrame, ids: DataFrame) =
          d.join(ids, col(idCol) === col("__d"), "left_anti")
        (anti(_, dropped), keyed.flatMap(_ => KeySummaries.cappedDistinct(
          anti(repKeys, nonMins).select(col("bkey")), cap = summaryCap)))
      }

    // 3. IDEMPOTENT per-epoch writes: every output lands in a
    // batch=<epoch> subdirectory with overwrite, so a replayed batch
    // rewrites its own epoch instead of appending duplicates (the
    // epoch dir name is the `batch` value step 2's exclusion skips).
    // Admitted keys/sets come from the signed batch — no re-shingling
    // or re-hashing.
    admit(repKeys).write.mode("overwrite")
      .parquet(s"$keysPath/batch=$batchId")
    // this epoch's band-key summary: the keys of its cluster
    // representatives before the state drops — a superset of the
    // admitted keys (a dropped dup's key only costs a later batch one
    // false epoch read — never a false negative), and a replayed epoch
    // rewrites an identical summary (same batch → same keys). Over-cap
    // batches write none: absent = always-read, the conservative
    // default. Written AFTER the keys epoch so a present summary always
    // describes committed rows.
    summaryKeys.foreach(ks => KeySummaries.write(fs,
      keySummaryPath(statePath, batchId), KeySummaries.build(ks)))
    // the banded layout the marker records: repartition BY the bucket
    // column, capped at the bucket count (the default shuffle width
    // would run ~3x empty tasks per epoch on this hot path), so each dir
    // gets one file
    admit(repSets).withColumn("ib", stateBucket(col(idCol)))
      .repartition(Dedup.writeTasks(repSets, StateSetBuckets), col("ib"))
      .write.mode("overwrite").partitionBy("ib")
      .parquet(s"$setsPath/batch=$batchId")
    admit(reps.select(batch.columns.map(col): _*))
  }

  /**
   * The END-TO-END streaming prep pipeline — the online form of the batch
   * `pipeline_e2e` query: every micro-batch flows through
   *
   *   Bloom decontamination → online near-dup dedup → [embedding
   *   cross-dedup vs a frozen IVF index] → [unigram-LM fluency gate] →
   *   quality filter → deterministic split + per-epoch accounting
   *
   * in ONE foreachBatch, sharing one checkpoint/epoch id, so the whole
   * composition (not each operator separately) is crash-replay
   * idempotent: every stage's output for epoch N lands under a
   * `batch=N` partition with overwrite, and the dedup state verify
   * excludes epoch N's own rows — a replayed epoch rewrites exactly
   * itself (StreamOpsSpec proves post-crash ≡ uninterrupted, with and
   * without the LM stage).
   *
   * The LM gate ([[lmScoreTo]]'s scoring stage) joins the composition
   * when `modelCorpus` is given: the unigram model is trained ONCE
   * before the stream starts (the Bloom pre-build pattern), and each
   * epoch's dedup survivors are scored and admitted iff
   * `hm_prob >= minHmProb` — without this a production pipeline had to
   * run TWO passes over every micro-batch (this pipeline, then a
   * separate [[lmScoreTo]] stream) to get both gates. It sits between
   * dedup and quality so junk still enters the dedup state exactly as
   * before (a near-dup of junk is still a dup) and admitted rows carry
   * their (n_tokens, n_oov, hm_prob) columns into `docs/batch=N` for
   * downstream accounting.
   *
   * Layout: `outPath/docs/batch=N` (admitted docs + quality + split
   * [+ LM columns]) and `outPath/accounting/batch=N` (per-split
   * doc/token counts); dedup state under `statePath` as in
   * [[nearDupDedupTo]].
   *
   * The EMBEDDING gate ([[embedDedupTo]]'s admission stage) joins the
   * composition when `embedIndex` is given: each epoch's TEXT-dedup
   * survivors probe the frozen persisted IVF index at that path (k = 1)
   * and are admitted iff their best corpus cosine is under
   * `embedMinCos` — the SemDeDup decision inline, so a paraphrased
   * near-dup of the trained corpus (fresh text, same meaning) is
   * dropped in the same pass. It sits between dedup and the LM gate:
   * dedup stages stay adjacent (semantic dups still enter the text
   * state — a text-near-dup of a semantic dup is still a text dup) and
   * rejected docs never burn LM scoring. `docs` must carry `vecCol`,
   * the index must use the same id/vec column names, and — the probe
   * contract — a corpus row whose id equals the doc's id is excluded
   * as "self" (use disjoint id ranges). Admitted rows carry
   * `corpus_cos` (null = no probed-cell neighbor at all).
   *
   * The LINE stage ([[graft.functions.Dedup.stripLinesByKeys]]) joins
   * the composition when `lineKeys` is given (a frozen
   * [[graft.functions.Dedup.repeatedLineKeys]] table, built pre-stream
   * from a reference corpus — the Bloom pattern): each arriving doc is
   * rewritten with known boilerplate lines removed BEFORE anything else
   * sees it — the pass real crawl pipelines run first, so the Bloom
   * probe, the dedup state, the gates and the quality score all operate
   * on the cleaned text, and admitted rows carry `n_lines_removed`.
   * The stage is stateless against frozen keys, so replay idempotence
   * is untouched. With `lineState` set, the stage additionally runs
   * [[lineStateEpoch]]: per-epoch line-frequency state promotes lines
   * whose cumulative distinct-doc count crosses `lineMinDocs`
   * MID-STREAM, so drifting boilerplate (new crawls' chrome the frozen
   * table never saw) is stripped from every later batch — per-epoch
   * cost bounded by the batch's own lines via the same Bloom-summary
   * pruning as the dedup state, replay idempotence preserved by the
   * same own-epoch exclusions.
   *
   * The Bloom blocklist (and LM model, and line-key table) are sized
   * and built ONCE before the stream starts; the quality/split stages
   * are pure column maps. Scale shape is the sum of its parts:
   * bounded-key anti join + broadcast bitmap probe + (band,key)-bucketed
   * verify + partition-pruned index probe + per-batch tf aggregate
   * joined to the broadcast-scale vocabulary + zero-shuffle maps —
   * nothing accumulates driver-side.
   */
  def prepPipelineTo(docs: DataFrame, blockKeys: DataFrame, outPath: String,
                     statePath: String, checkpoint: String, idCol: String,
                     textCol: String, minJaccard: Double = 0.8,
                     minQuality: Double = 0.2, trainPct: Int = 80,
                     valPct: Int = 10, fpp: Double = 1e-3,
                     modelCorpus: Option[DataFrame] = None,
                     minHmProb: Double = 0.0,
                     embedIndex: Option[String] = None,
                     vecCol: String = "embedding",
                     embedLabelCol: String = "cell",
                     embedMinCos: Double = 0.9,
                     lineKeys: Option[DataFrame] = None,
                     lineState: Option[String] = None,
                     lineMinDocs: Int = 2,
                     lineMinChars: Int = 10,
                     availableNow: Boolean = true): StreamingQuery = {
    import graft.functions.{Dedup, Sampling, TextFns}
    val n = math.max(1L, blockKeys.select(col(textCol)).count())
    val (m, k) = Bloom.sizeFor(n, fpp)
    val filterRow = Bloom.build(blockKeys, col(textCol), m, k)
      .localCheckpoint() // eager: materialize before the stream starts
    val model = modelCorpus.map(mc => TextFns.unigramModel(mc, textCol)
      .localCheckpoint()) // eager, same pre-stream discipline as the Bloom
    val frozenLineKeys = lineKeys.map(_.localCheckpoint()) // eager too
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0raw: DataFrame, batchId: Long) =>
        // collapse at-least-once redeliveries FIRST: the line rebuild
        // groups by id, so duplicate ids would interleave both copies'
        // lines into one corrupted text (pre-line-stage, the exact-dup
        // cascade absorbed them benignly — the strip must see uniques)
        val batch0u = batch0raw.dropDuplicates(idCol)
        // the line stage: frozen keys only (stateless strip), or the
        // incremental form ([[lineStateEpoch]]) when a line-state path
        // is given — mid-stream boilerplate is then promoted and
        // stripped from every later batch, frozen keys still honored
        val batch0 = lineState match {
          case Some(lsPath) =>
            lineStateEpoch(batch0u, batchId, lsPath, idCol, textCol,
              frozenLineKeys, lineMinDocs, lineMinChars)
          case None => frozenLineKeys.fold(batch0u)(lk =>
            Dedup.stripLinesByKeys(batch0u, lk, idCol, textCol))
        }
        val clean = batch0.crossJoin(broadcast(filterRow))
          .withColumn("__hit",
            Bloom.mightContain(col("__bloom"), col(textCol), m, k))
          .filter(!col("__hit")).drop("__bloom", "__hit")
          .cache() // for the epoch: see dedupEpoch
        try {
          val admitted = dedupEpoch(clean, batchId, statePath, idCol,
            textCol, minJaccard)
          val semGated = embedIndex.fold(admitted)(ip =>
            embedGate(admitted, ip, idCol, vecCol, embedLabelCol,
              embedMinCos))
          val gated = model.fold(semGated)(mdl =>
            lmGate(semGated, mdl, idCol, textCol, minHmProb))
          val fin = gated
            .withColumn("quality", TextFns.qualityScore(col(textCol)))
            .filter(col("quality") >= minQuality)
            .withColumn("split",
              Sampling.splitLabel(col(idCol), trainPct, valPct))
            .localCheckpoint() // feeds both the docs write and accounting
          fin.write.mode("overwrite")
            .parquet(s"$outPath/docs/batch=$batchId")
          // one partition in, so the aggregate needs no shuffle
          fin.coalesce(1).groupBy(col("split"))
            .agg(count(lit(1)).as("n_docs"),
              sum(size(TextFns.words(col(textCol))).cast("long"))
                .as("n_tokens"))
            .write.mode("overwrite")
            .parquet(s"$outPath/accounting/batch=$batchId")
        } finally { clean.unpersist(false); () }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** [[prepPipelineTo]]'s LM stage: score admitted docs against the
    * pre-built unigram model and keep those at or above `minHmProb`.
    * LEFT join, not inner: a doc whose text tokenizes to ZERO words
    * (null text upstream of the Bloom stage, or a future tokenizer
    * change) produces no score row, and an inner join would drop it
    * silently even at the permissive 0.0 default — diverging from the
    * ungated path, where such docs still reach the quality filter.
    * Token-less docs pass the gate with null LM columns and face the
    * quality filter like everyone else ("no tokens" is a quality
    * verdict, not an LM verdict). */
  private[graft] def lmGate(admitted: DataFrame, model: DataFrame,
                            idCol: String, textCol: String,
                            minHmProb: Double): DataFrame =
    admitted.join(
      graft.functions.TextFns.unigramLmScoreAgainst(model, admitted,
        idCol, textCol),
      Seq(idCol), "left")
      .filter(col("hm_prob").isNull || col("hm_prob") >= minHmProb)

  /** [[prepPipelineTo]]'s embedding stage: k = 1 probe of the frozen
    * persisted IVF index, admit iff the best corpus cosine is under
    * `minCos`. LEFT join for the same reason as [[lmGate]]: a doc whose
    * probed cells hold no corpus vector (or a zero-norm vector) has no
    * neighbor row and must pass, not vanish — "no neighbor" is an
    * admission, not an error. Checkpointed because the indexed probe
    * evaluates its probe frame more than once (probed-cell collect +
    * scoring join). */
  private[graft] def embedGate(admitted: DataFrame, indexPath: String,
                               idCol: String, vecCol: String,
                               labelCol: String,
                               minCos: Double): DataFrame = {
    import graft.functions.Similarity
    val a = admitted.localCheckpoint(false)
    val best = Similarity.ivfKnnJoinIndexed(a.sparkSession, indexPath,
      a.select(col(idCol).as("probe_id"), col(vecCol).as("__pv")),
      idCol, vecCol, labelCol, k = 1)
      .select(col("probe_id").as(idCol), col("cos").as("corpus_cos"))
    a.join(best, Seq(idCol), "left")
      .filter(col("corpus_cos").isNull || col("corpus_cos") < minCos)
  }

  /**
   * One epoch of STREAMING repeated-line maintenance — the line stage's
   * incremental form. The frozen [[graft.functions.Dedup
   * .repeatedLineKeys]] table strips only boilerplate known BEFORE the
   * stream started; boilerplate that becomes repeated after stream
   * start (a new crawl's navigation chrome) was never stripped. This
   * keeps per-epoch line-frequency state at `lineStatePath` and
   * PROMOTES lines as their cumulative distinct-doc count crosses
   * `minDocs`, so a line crossing the threshold mid-stream is stripped
   * from every SUBSEQUENT batch (the batch that crosses it keeps it —
   * its text was already rebuilt):
   *
   *  - `counts/batch=N`: (line-hash, distinct docs) for epoch N's
   *    POST-strip lines — already-promoted lines are stripped before
   *    counting, so a line accumulates counts only while unpromoted
   *    and each partition is bounded by its batch's own lines;
   *  - `linesum/batch=N`: a [[KeySummaries]] Bloom over the epoch's
   *    line hashes, so the threshold check reads only the prior epochs
   *    that might share a line with THIS batch (bounded by the batch's
   *    repeated lines × their spread, not the corpus — same device as
   *    the dedup state's keys pruning);
   *  - `promoted/batch=N`: the hashes that crossed `minDocs` at N.
   *
   * Replay idempotence mirrors [[dedupEpoch]], but STRICTER: the strip
   * and the threshold check read only strictly-EARLIER epochs
   * (`batch < N`, not merely excluding N's own partitions), and all
   * three writes are per-epoch overwrites — so a replayed epoch N
   * recomputes exactly its first attempt even when higher-id epochs
   * have committed since (no dependence on any disjointness argument
   * between batches' promotion sets). Returns the stripped batch
   * (checkpointed — it feeds the counting pass and the rest of the
   * pipeline). `docs` must already be id-unique.
   */
  private[graft] def lineStateEpoch(docs: DataFrame, batchId: Long,
                                    lineStatePath: String, idCol: String,
                                    textCol: String,
                                    frozenKeys: Option[DataFrame],
                                    minDocs: Int = 2,
                                    minLineChars: Int = 10): DataFrame = {
    import graft.functions.Dedup
    import org.apache.spark.sql.types._
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(lineStatePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lkSchema = new StructType().add("__lk", LongType)
    def tableOrEmpty(path: String, schema: StructType) =
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        spark.read.schema(schema.add("batch", LongType)).parquet(path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add("batch", LongType))
    // strip against frozen ∪ promoted-before-now: STRICTLY earlier
    // epochs only (batch < batchId, not just != batchId) — this is the
    // stated promotion-at-N-strips-only-LATER contract, and it makes a
    // replayed epoch N see exactly its first attempt's view even when
    // higher-id epochs have since committed (an id-N rerun beside a
    // persisted epoch N+1 must not strip against "future" promotions)
    val promoted = tableOrEmpty(s"$lineStatePath/promoted", lkSchema)
      .filter(col("batch") < batchId).select(col("__lk"))
    val keys = frozenKeys.fold(promoted)(fk =>
      fk.select(col("__lk")).unionByName(promoted))
    val stripped = Dedup.stripLinesByKeys(docs, keys, idCol, textCol)
      .localCheckpoint(false) // feeds the count pass AND the pipeline
    // epoch line counts over the POST-strip text
    val bl = stripped
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
      .filter(length(col("__line")) >= minLineChars)
      .groupBy(Dedup.hash60(col("__line")).as("__lk"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .localCheckpoint(false) // feeds the bounded collect + both writes
    val lks: Option[Array[String]] =
      KeySummaries.cappedDistinct(bl.select(col("__lk")),
        alreadyDistinct = true) // bl is a groupBy(__lk) output
    val countsRoot = s"$lineStatePath/counts"
    val prior = lks match {
      case Some(ks) =>
        val eps = KeySummaries.pruneEpochs(fs,
          listStateEpochs(fs, countsRoot).filter(_ < batchId), ks,
          m => new org.apache.hadoop.fs.Path(
            s"$lineStatePath/linesum/batch=$m"))
        val dirs = eps.map(m => s"$countsRoot/batch=$m")
          .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
        val cSchema = lkSchema.add("__nd", LongType).add("batch", LongType)
        if (dirs.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cSchema)
        else spark.read.option("basePath", countsRoot).schema(cSchema)
          .parquet(dirs: _*)
      case None => // over-cap batch: conservative full scan
        tableOrEmpty(countsRoot, lkSchema.add("__nd", LongType))
          .filter(col("batch") < batchId)
    }
    val priorAgg = prior.groupBy(col("__lk"))
      .agg(sum(col("__nd")).as("__ndp"))
    val newlyPromoted = bl.join(priorAgg, Seq("__lk"), "left")
      .filter(coalesce(col("__ndp"), lit(0L)) + col("__nd") >= minDocs)
      .select(col("__lk"))
    bl.select(col("__lk"), col("__nd")).coalesce(1)
      .write.mode("overwrite").parquet(s"$countsRoot/batch=$batchId")
    newlyPromoted.coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$lineStatePath/promoted/batch=$batchId")
    lks.foreach(ks => KeySummaries.write(fs,
      new org.apache.hadoop.fs.Path(s"$lineStatePath/linesum/batch=$batchId"),
      KeySummaries.build(ks)))
    stripped
  }

  /**
   * Seed a [[nearDupDedupTo]] / [[prepPipelineTo]] dedup STATE from an
   * already-admitted corpus — the state twin of [[dedupIngestBootstrap]]:
   * a production pipeline usually starts streaming AGAINST an existing
   * deduped corpus, and replaying that corpus through the per-epoch
   * cascade just to populate the state would pay the full near-dup
   * verify for documents already known distinct. This writes the state
   * tables directly (admitting every corpus doc), in the same row shapes
   * and layout the streaming epochs write — banded sets, flat keys, one
   * [[KeySummaries]] Bloom per epoch — so the stream that takes over
   * cannot tell bootstrap epochs from its own.
   *
   * The corpus lands as MULTIPLE epochs of ~`epochDocs` docs under the
   * reserved NEGATIVE ids -1..-E (micro-batch ids start at 0, so no
   * collision, and the verify's own-epoch exclusion is unaffected):
   * bounded epochs keep every epoch's key count under the summary cap,
   * so the per-epoch pruning works over the bootstrap corpus exactly as
   * over streamed epochs — one giant epoch would exceed the cap,
   * carry no summary, and be rescanned forever. Epoch assignment is a
   * deterministic id hash; both tables write in ONE pass each
   * (partitioned by epoch), then the summaries in one bounded collect
   * per epoch against the just-written epoch partitions.
   *
   * Requires a FRESH `statePath` (single-writer, no stream attached):
   * bootstrapping over existing tables would mix layouts.
   * Returns the epoch count.
   */
  def nearDupStateBootstrap(corpus: DataFrame, statePath: String,
                            idCol: String, textCol: String,
                            epochDocs: Int = 60000): Int = {
    import graft.functions.{Dedup, LayoutMarker}
    require(epochDocs > 0, s"epochDocs must be positive: $epochDocs")
    val spark = corpus.sparkSession
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.functions.TopKAgg.requireIntegralId(corpus, idCol,
      "nearDupStateBootstrap")
    for (t <- Seq("sets", "keys"))
      require(!fs.exists(new org.apache.hadoop.fs.Path(s"$statePath/$t")),
        s"nearDupStateBootstrap: $statePath already holds a '" + t +
          "' table — bootstrap a fresh path")
    val nDocs = corpus.count()
    val epochs = math.max(1L, (nDocs + epochDocs - 1) / epochDocs).toInt
    // deterministic spread over -1..-epochs; uniform by hash, so each
    // epoch stays ~epochDocs and under the summary cap
    val epochCol =
      (-pmod(xxhash64(col(idCol)), lit(epochs.toLong)) - 1L).as("batch")
    val sets = Dedup.shingleSets(corpus, idCol, textCol)
      .localCheckpoint(false)
    sets.withColumn("batch", epochCol)
      .withColumn("ib", stateBucket(col(idCol)))
      .repartition(epochs * StateSetBuckets, col("batch"), col("ib"))
      // id-sorted within each (batch, ib) file: the writer's required
      // ordering (the partition cols) is a satisfied prefix, so no
      // re-sort destroys it — row-group id stats then let the verify's
      // candidate-range filter skip row groups (dedupEpoch)
      .sortWithinPartitions(col("batch"), col("ib"), col(idCol))
      .write.mode("errorifexists").partitionBy("batch", "ib")
      .parquet(s"$statePath/sets")
    Dedup.bandKeysFromSets(sets, idCol)
      .withColumn("batch", epochCol)
      .repartition(epochs, col("batch"))
      .write.mode("errorifexists").partitionBy("batch")
      .parquet(s"$statePath/keys")
    // the marker LAST of the table writes: a crash before it leaves
    // tables without a marker, which every state writer refuses
    // (requireBandedState) instead of mixing layouts; BEFORE the
    // summaries, since a crash mid-summaries leaves summary-less epochs
    // = always-read, correct
    LayoutMarker.write(fs, stateLayoutPath(statePath), "ibsets|",
      StateSetBuckets)
    val keysTable = spark.read.parquet(s"$statePath/keys")
    for (e <- 1 to epochs)
      KeySummaries.writeIfBounded(fs, keySummaryPath(statePath, -e.toLong),
        keysTable.filter(col("batch") === -e.toLong).select(col("bkey")))
    epochs
  }

  /** Pure grouping arithmetic of [[compactStateGrouped]]: fold
    * `candidates` (in order) into groups whose per-epoch distinct-key
    * counts sum to ≤ `cap`, assigning strictly-decreasing gids from
    * `firstGid`. An epoch whose own count exceeds the cap becomes a
    * singleton group (a pure rewrite — its summary is dropped and it is
    * read forever after, the conservative over-cap contract). Negative
    * singletons (an already-consolidated group with no mergeable
    * neighbor) are dropped as no-ops so a re-run rewrites nothing.
    * Factored out for direct property coverage (Round11Properties). */
  private[graft] def planGroups(candidates: Seq[Long],
                                counts: Map[Long, Long],
                                cap: Long, firstGid: Long)
      : Seq[(Long, Seq[Long])] = {
    var gid = firstGid
    val groups = Seq.newBuilder[(Long, Seq[Long])]
    var cur = Seq.newBuilder[Long]
    var curN = 0L
    var curEmpty = true
    def flush(): Unit = if (!curEmpty) {
      groups += ((gid, cur.result())); gid -= 1L
      cur = Seq.newBuilder[Long]; curN = 0L; curEmpty = true
    }
    candidates.foreach { e =>
      val n = counts.getOrElse(e, 0L)
      if (!curEmpty && curN + n > cap) flush()
      cur += e; curN += n; curEmpty = false
      if (curN > cap) flush() // over-cap singleton
    }
    flush()
    // drop no-op singletons: an already-consolidated negative with no
    // mergeable neighbor (gid gaps are harmless)
    groups.result().filterNot { case (_, es) =>
      es.lengthCompare(1) == 0 && es.head < 0L
    }
  }

  /**
   * GROUPED state compaction — the 100 TB form of [[compactState]].
   * Full compaction consolidates everything into one `batch=-1`
   * partition, which carries no [[KeySummaries]] Bloom (its key count is
   * over the cap by definition at scale) and is therefore ALWAYS read:
   * one full compaction and the per-epoch keys pruning is gone — every
   * later epoch scans the whole consolidated corpus again. This
   * consolidates the POSITIVE (streamed) epochs into GROUPS of at most
   * `maxGroupKeys` distinct band keys instead, each landing as one new
   * negative-id epoch with ONE file per table and a REBUILT Bloom
   * summary — so the small-file population drops by the grouping factor
   * while a no-candidate batch still reads zero state bytes. By default
   * existing negative epochs (bootstrap epochs, prior groups) are left
   * alone and repeated cycles stack further groups below them,
   * LSM-fashion — so over MANY cycles the group population itself grows
   * (one-plus groups per cycle). `regroup = true` bounds that: the plan
   * then also folds in the SUMMARIZED negative epochs (prior groups and
   * bootstrap epochs — over-cap epochs carry no summary and are left
   * alone, rewriting them buys nothing), merging adjacent under-cap
   * groups up to `maxGroupKeys`, with no-op singletons (an
   * already-consolidated negative with no mergeable neighbor) dropped
   * from the plan so nothing is rewritten pointlessly. Merging
   * summarized epochs is admission-preserving for the same reason
   * grouping positives is: the merged epoch's rebuilt Bloom covers
   * exactly the union of its sources' keys.
   *
   * Run OFFLINE (stream stopped, single-writer), and after a CRASH
   * re-run THIS before restarting the stream — the same contract as
   * [[compactState]]: the grouping plan is written first (atomic
   * rename) and re-read by a re-run, so the assignment cannot drift
   * mid-recovery; each group commits through a manifest naming its
   * source epochs with staged tables swapped in only after both stages
   * complete (incomplete stages are discarded, complete ones roll
   * forward); summaries write after the group lands; the plan is
   * deleted last. Every window re-runs to the identical end state.
   *
   * Returns per-table row counts (whole tables, post-compaction).
   */
  def compactStateGrouped(spark: org.apache.spark.sql.SparkSession,
                          statePath: String,
                          maxGroupKeys: Int = KeySummaries.MaxKeys,
                          regroup: Boolean = false)
      : Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    import graft.functions.LayoutMarker
    require(maxGroupKeys > 0, s"maxGroupKeys must be positive: $maxGroupKeys")
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireBandedState(fs, statePath)
    val keysRoot = s"$statePath/keys"
    val setsRoot = s"$statePath/sets"
    val planPath = new Path(s"$statePath/__group_plan")

    def writeAtomic(p: Path, content: String): Unit =
      LayoutMarker.replaceWith(fs, p, "group plan")(
        _.write(content.getBytes("UTF-8")))
    def readLines(p: Path): Seq[String] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).getLines().toList
      finally in.close()
    }

    // ---- the grouping plan: compute once, honor across re-runs -------
    val plan: Seq[(Long, Seq[Long])] =
      if (fs.exists(planPath))
        readLines(planPath).filter(_.nonEmpty).map { ln =>
          val Array(g, es) = ln.split(":", 2)
          (g.toLong, es.split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
        }
      else {
        val existing = listStateEpochs(fs, keysRoot)
        val positives = existing.filter(_ >= 0L).sorted
        // regroup: prior groups + bootstrap epochs join the plan — but
        // only SUMMARIZED ones (a summary-less negative is known over
        // the cap; it would come back as an over-cap singleton, a pure
        // rewrite). Sorted ascending = most-negative (NEWEST gids)
        // first; merge adjacency is cosmetic — Bloom-union merging is
        // order-independent.
        val regroupables =
          if (!regroup) Seq.empty[Long]
          else existing.filter(e => e < 0L &&
            fs.exists(keySummaryPath(statePath, e))).sorted
        val candidates = regroupables ++ positives
        // nothing can merge with fewer than two candidates — skip the
        // exact-count scan entirely (regroup's plan computation is
        // otherwise a read over every candidate's keys: counts must be
        // EXACT, because a merged group past the cap would lose its
        // summary and become always-read, worse than unmerged)
        if (candidates.isEmpty ||
          (positives.isEmpty && regroupables.sizeIs < 2)) Seq.empty
        else {
          val counts = spark.read
            .option("basePath", keysRoot)
            .parquet(candidates.map(e => s"$keysRoot/batch=$e"): _*)
            .groupBy(col("batch").cast("long").as("batch"))
            .agg(count_distinct(col("bkey")).as("n"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val p = planGroups(candidates, counts, maxGroupKeys.toLong,
            math.min(0L, existing.minOption.getOrElse(0L)) - 1L)
          if (p.nonEmpty)
            writeAtomic(planPath,
              p.map { case (g, es) => s"$g:${es.mkString(",")}" }
                .mkString("\n"))
          p
        }
      }

    // ---- per-group commit protocol ----------------------------------
    for ((gid, eps) <- plan) {
      val manifest = new Path(s"$statePath/__group_manifest_$gid")
      val keysStage = new Path(s"$keysRoot.__gstage_$gid")
      val setsStage = new Path(s"$setsRoot.__gstage_$gid")
      val keysTarget = new Path(s"$keysRoot/batch=$gid")
      val setsTarget = new Path(s"$setsRoot/batch=$gid")
      def rollForward(): Unit = {
        eps.foreach { e =>
          fs.delete(new Path(s"$keysRoot/batch=$e"), true)
          fs.delete(new Path(s"$setsRoot/batch=$e"), true)
          fs.delete(keySummaryPath(statePath, e), false)
        }
        if (fs.exists(keysStage)) {
          fs.delete(keysTarget, true)
          require(fs.rename(keysStage, keysTarget),
            s"group $gid: rename $keysStage failed")
        }
        if (fs.exists(setsStage)) {
          fs.delete(setsTarget, true)
          require(fs.rename(setsStage, setsTarget),
            s"group $gid: rename $setsStage failed")
        }
        fs.delete(manifest, false)
      }
      // recovery: the manifest is written only AFTER both stages are
      // complete, so a present manifest ALWAYS rolls forward (the roll
      // skips any stage a prior attempt already renamed in — judging
      // stage completeness here instead would discard a staged table
      // whose sibling was already renamed, losing its rows); stages
      // without a manifest are incomplete and redo from the intact
      // sources
      if (fs.exists(manifest)) rollForward()
      else if (fs.exists(keysStage) || fs.exists(setsStage)) {
        fs.delete(keysStage, true); fs.delete(setsStage, true)
      }
      val srcKeys = eps.map(e => s"$keysRoot/batch=$e")
        .filter(d => fs.exists(new Path(d)))
      if (srcKeys.nonEmpty) { // not yet consolidated by a prior run
        spark.read.option("basePath", keysRoot)
          .parquet(srcKeys: _*).drop("batch")
          .coalesce(1).write.parquet(keysStage.toString)
        val srcSets = eps.map(e => s"$setsRoot/batch=$e")
          .filter(d => fs.exists(new Path(d)))
        if (srcSets.nonEmpty) {
          val grp = spark.read.option("basePath", setsRoot)
            .parquet(srcSets: _*).drop("batch")
          val idc = grp.columns
            .filterNot(c => c == "sset" || c == "ib").head
          grp.repartition(Dedup.writeTasks(grp, StateSetBuckets), col("ib"))
            // id-sorted row groups, as the bootstrap writes them — the
            // verify's candidate-range pushdown survives compaction
            .sortWithinPartitions(col("ib"), col(idc))
            .write.partitionBy("ib").parquet(setsStage.toString)
        }
        writeAtomic(manifest, eps.mkString("\n"))
        rollForward()
      }
      // the group's summary, from its own consolidated keys (bounded by
      // maxGroupKeys unless this is an over-cap singleton → none, the
      // conservative always-read default)
      val sumPath = keySummaryPath(statePath, gid)
      if (fs.exists(keysTarget) && !fs.exists(sumPath))
        KeySummaries.writeIfBounded(fs, sumPath,
          spark.read.parquet(keysTarget.toString).select(col("bkey")))
    }
    if (fs.exists(planPath)) fs.delete(planPath, false)
    KeySummaries.invalidate(s"$statePath/keysum")
    def count(root: String): Long =
      if (fs.exists(new Path(root)))
        spark.read.parquet(root).count()
      else 0L
    Map("keys" -> count(keysRoot), "sets" -> count(setsRoot))
  }

  /**
   * Compact [[nearDupDedupTo]]'s append-only state: every epoch adds a
   * `batch=<id>` partition to the keys and sets tables, so a long-lived
   * ingest stream accumulates thousands of small files — the classic
   * streaming-state small-file problem. This rewrites each table into
   * the single reserved `batch=-1` partition (micro-batch ids start at
   * 0, so -1 never collides, and the epoch-exclusion filter
   * `batch =!= currentId` keeps treating it as prior state).
   *
   * Run OFFLINE (no concurrent stream on this state). Uses the same
   * crash-safe staged swap as every other epoch consolidation here
   * ([[ParquetCompact.consolidateEpochs]]): the round-7
   * overwrite-then-delete shape
   * could leave every state row twice on a crash between the two steps,
   * and a re-run baked the duplicates into `batch=-1` permanently —
   * merely *mostly* harmless for this state (admissions survive the
   * candidate-join distinct, but the tables grow for good and every
   * verify join does duplicated work thereafter).
   *
   * Returns per-table compacted row counts (0 when nothing to compact).
   */
  def compactState(spark: org.apache.spark.sql.SparkSession,
                   statePath: String): Map[String, Long] = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireBandedState(fs, statePath)
    // the sets compact INTO the banded layout (one file per ib dir
    // inside the reserved batch=-1), or the next epoch would read a
    // mixed tree; keys are flat
    def stageSets(df: DataFrame, stageDir: String): Unit =
      df.repartition(Dedup.writeTasks(df, StateSetBuckets), col("ib"))
        .write.partitionBy("ib").parquet(stageDir)
    // the per-epoch band-key summaries describe the epoch layout this
    // rewrite is about to destroy — drop them BEFORE consolidating, so
    // a crash anywhere in the consolidation leaves no summary behind
    // (absent = always-read, conservative). Deleting AFTER would open a
    // window where a stale `batch=-1` summary (a bootstrap epoch or a
    // prior [[compactStateGrouped]] group at -1) describes only its OLD
    // keys while the consolidated batch=-1 holds the whole corpus — and
    // later epochs would silently Bloom-prune the entire state.
    // Post-compaction epochs resume summaries from their own writes.
    // NOTE the trade: full consolidation retires the epoch-level keys
    // pruning for the whole consolidated corpus — at scale prefer
    // [[compactStateGrouped]], which keeps bounded summarized groups
    val ks = new org.apache.hadoop.fs.Path(s"$statePath/keysum")
    if (fs.exists(ks)) { fs.delete(ks, true); () }
    KeySummaries.invalidate(s"$statePath/keysum")
    Map(
      "keys" -> ParquetCompact.consolidateEpochs(spark, s"$statePath/keys",
        epochPrefix = "batch=") { (df, stageDir) =>
        df.coalesce(8).write.parquet(stageDir)
      }.getOrElse(0L),
      "sets" -> ParquetCompact.consolidateEpochs(spark, s"$statePath/sets",
        epochPrefix = "batch=")(stageSets).getOrElse(0L))
  }

  /**
   * ONLINE maintenance of the persisted IVF index — the streaming twin of
   * [[graft.functions.Similarity.appendToIvfIndex]], with the epoch
   * idempotence the batch append cannot give (mode-append on a replayed
   * micro-batch would double its rows): each epoch's vectors land under
   * `lists/__batch=<epoch>/__cellkey=<cell>/` with OVERWRITE, so a
   * crash-replayed batch rewrites exactly its own epoch; then the cell
   * centers (the tiny table) refresh through the csums fold — O(batch)
   * for the monotone-id norm ([[ivfIngestEpoch]]). A crash between the
   * two writes is healed by the replay: it finds its epoch dir already
   * there, so its refresh rebuilds from the lists.
   *
   * One entry point for every variant; each epoch reads the variant
   * from its batch and the index, as the batch append does:
   *  - a stream WITHOUT `labelCol` is labeled against the index's own
   *    centers (the k-means ingest: one batch × broadcast(K) step, no
   *    retrain), with the replay-stable centers device described at
   *    [[ivfIngestEpoch]];
   *  - when a PQ sidecar exists (`pq/`), each epoch also encodes what
   *    landed into `pq/codes/__batch=N` against the STORED codebooks;
   *    a sidecar without a valid marker stops the epoch before anything
   *    lands (heal with [[graft.functions.Similarity.addPqToIvfIndex]],
   *    which mirrors the epoch layout).
   *
   * Every `compactEvery` epochs (0 = never) the lists epochs consolidate
   * into `__batch=-1` through [[graft.functions.Similarity.compactIvfIndex]],
   * under the foreachBatch single-writer fence and BEFORE the epoch
   * write ([[shouldCompactAt]] skips a replayed boundary epoch). Every
   * `maintainEvery` epochs (0 = never) drift is measured and the index
   * retrained on breach ([[graft.functions.Similarity.maintainIvfIndex]]
   * with the other settings), also before the epoch write, so a
   * crash-replayed epoch re-lands AFTER any retrain consolidated the
   * previous epochs. Residual hazard, documented: a replay whose
   * re-measured drift STILL breaches retrains again and re-duplicates
   * one epoch — bounded by a crash × persistent-breach coincidence.
   * Maintenance needs an unlabeled stream with `labelCol = "cell"`: a
   * retrain relabels every row's cell to `cell`, which a labeled
   * stream's next epoch could not follow.
   *
   * The stream OWNS `indexPath`: the epoch layout nests `__cellkey` under
   * `__batch`, which cannot mix with [[Similarity.buildIvfIndex]]'s flat
   * cell layout in one directory tree, and an epoch refuses a flat
   * index before anything lands — seed a pre-existing corpus with
   * [[ivfIngestBootstrap]] (the reserved `__batch=-1`, micro-batch ids
   * start at 0) instead of buildIvfIndex. Probes via
   * [[Similarity.ivfKnnJoinIndexed]] work unchanged: the extra
   * `__batch` partition column is ignored and `__cellkey` still prunes
   * at file listing whatever its nesting level.
   */
  def ivfIngestTo(vectors: DataFrame, indexPath: String, checkpoint: String,
                  idCol: String, vecCol: String, labelCol: String,
                  dims: Int = 64,
                  availableNow: Boolean = true,
                  compactEvery: Int = 0,
                  maintainEvery: Int = 0,
                  residualThreshold: Double = 0.17,
                  skewThreshold: Double = Double.MaxValue,
                  targetRowsPerCell: Int = -1,
                  maintainIters: Int = 4,
                  superAssign: Int = -1,
                  maintainCellMod: Int = 1): StreamingQuery = {
    require(maintainEvery <= 0 ||
      (labelCol == "cell" && !vectors.columns.contains(labelCol)),
      "ivfIngestTo: maintainEvery needs an unlabeled stream with " +
        "labelCol = \"cell\" — a retrain relabels every cell to `cell`")
    val writer = vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (shouldCompactAt(spark, indexPath, batchId, compactEvery))
          Similarity.compactIvfIndex(spark, indexPath)
        if (maintainEvery > 0 && batchId > 0 &&
            batchId % maintainEvery == 0)
          Similarity.maintainIvfIndex(spark, indexPath, idCol, vecCol,
            labelCol, dims, residualThreshold = residualThreshold,
            skewThreshold = skewThreshold,
            targetRowsPerCell = targetRowsPerCell, iters = maintainIters,
            superAssign = superAssign, cellMod = maintainCellMod)
        ivfIngestEpoch(batch, batchId, indexPath, idCol, vecCol, labelCol,
          dims)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One epoch of [[ivfIngestTo]] — factored out so the replay-idempotence
    * contract is directly testable: same (batch, batchId) twice ≡ once.
    *
    * The epoch's refresh runs through the csums fold state
    * ([[Similarity.streamingCsumsRefresh]], round 12): a monotone-id
    * micro-batch — the streaming norm: new documents get new ids —
    * continues the stored per-cell left folds in O(batch) instead of a
    * full O(corpus) centers recompute per epoch; a replayed epoch is
    * recognized by the marker's epoch field (its lists partition was
    * rewritten with bit-identical rows) and only re-derives centers;
    * anything else rebuilds from the lists — never a wrong fold. Returns
    * the refresh path taken (0 = fold, 1 = replay skip/empty, 2 =
    * rebuild) so specs can pin which ran.
    *
    * ASSIGNED epochs (no `labelCol` in the batch): a replayed batch must
    * re-derive the SAME assignment, but the stored centers move with
    * every refresh — including the replayed epoch's own first attempt.
    * So the assignment-time centers are those of every epoch EXCEPT this
    * one: first attempt and replay both see exactly the pre-epoch
    * corpus, whatever the crash point. On a clean run those are EXACTLY
    * the centers the previous epoch's refresh wrote, so each completed
    * epoch stamps an immutable copy of its refreshed centers under
    * `centers_epoch/__batch=N` plus a marker recording the epoch set the
    * copy covers, and epoch M reuses the copy IFF the marker's set equals
    * the on-disk epochs minus M ([[centersReusable]]); otherwise the
    * centers are recomputed from the lists minus epoch M (one
    * column-pruned corpus scan, same order-free arithmetic, so the reuse
    * is bit-identical). Every crash window degrades to the recompute,
    * never to a wrong assignment:
    *  - crash before the marker write (incl. mid-refresh, which may
    *    leave the LIVE centers table partial): the marker still names
    *    the previous epoch set; a replayed M sees on-disk minus M equal
    *    to that set and reuses the previous epoch's intact copy — the
    *    assignment the first attempt made.
    *  - crash after the marker write but before the stream commits M:
    *    the marker now covers M itself, the match fails, and the replay
    *    recomputes from lists-minus-M — the same input set.
    *  - compaction or retrain rewrites the epoch layout: the set mismatch
    *    falls back to recompute (both also drop the copies).
    * The marker is a single file written via temp + atomic rename, so a
    * present marker always names a COMPLETED copy.
    *
    * PQ epochs (a `pq/` sidecar): the pq marker is deleted before the
    * epoch lands and re-stamped LAST from the post-epoch csums marker;
    * what landed is encoded ([[Similarity.pqCodesOf]]) into the mirrored
    * `pq/codes/__batch=N` tree, so a crash replay overwrites the whole
    * epoch dir with bit-identical rows and a reused epoch id with
    * DIFFERENT rows replaces its codes wholesale. */
  private[graft] def ivfIngestEpoch(batch: DataFrame, batchId: Long,
                                    indexPath: String, idCol: String,
                                    vecCol: String, labelCol: String,
                                    dims: Int): Int = {
    val spark = batch.sparkSession
    val pq = Similarity.ivfLayout(spark, indexPath, labelCol, dims,
      epochs = true, "ivfIngestEpoch")
    val assigned = !batch.columns.contains(labelCol)
    val labeled =
      if (!assigned) batch
      else {
        val centers =
          if (centersReusable(spark, indexPath, batchId))
            spark.read.parquet(s"$indexPath/centers_epoch/__batch=" +
              readCentersMarker(spark, indexPath).get._1)
          else Similarity.cellCentersOf(
            spark.read.parquet(s"$indexPath/lists")
              .filter(col("__batch") =!= batchId)
              .select(col(idCol), col(vecCol), col(labelCol)),
            labelCol, idCol, vecCol, dims)
        // EAGER: the epoch overwrite below rewrites partitions this
        // lineage reads
        batch.select(col(idCol), col(vecCol))
          .join(Similarity.assignAgainst(centers, batch, idCol, vecCol)
            .withColumnRenamed("cell", labelCol), Seq(idCol))
          .localCheckpoint()
      }
    // validate BEFORE the epoch partition lands (the batch twin's rule:
    // a ragged or null/empty-labeled batch must fail while the index is
    // untouched — written first, it would poison every later rebuild,
    // and even the manual repair would refuse the persisted rows)
    val stats = Similarity.csumsBatchStats(labeled, idCol, vecCol, labelCol,
      dims, "ivfIngestEpoch")
    // EMPTY micro-batch (an idle trigger interval): short-circuit before
    // anything lands. A data-less __batch=N dir would crash the next
    // read's schema inference — and since foreachBatch replays the same
    // empty batch on restart, the stream would wedge on it forever.
    if (stats.isEmpty) return 1
    if (pq.isDefined) Similarity.deletePqMarker(spark, indexPath)
    val epochDir = s"$indexPath/lists/__batch=$batchId"
    // epoch-id REUSE detection, sampled before the overwrite: a fresh
    // stream restarted against an old index (new checkpoint → batch ids
    // restart at 0) OVERWRITES an epoch partition whose old rows the
    // csums still cover — only a full rebuild can reconcile that; a
    // genuine crash-replay also overwrites, but with bit-identical rows
    // (streamingCsumsRefresh tells the two apart via the marker's
    // row-set hash)
    val epochExisted = {
      val p = new org.apache.hadoop.fs.Path(epochDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    labeled.select(col(idCol), col(vecCol), col(labelCol),
        Similarity.norm(col(vecCol)).as("__cn"),
        col(labelCol).cast("string").as("__cellkey"))
      .write.mode("overwrite").partitionBy("__cellkey").parquet(epochDir)
    // the refresh folds what actually LANDED: reading the epoch
    // partition back (batch-sized) makes the fold consistent with the
    // lists by construction — no second evaluation of the caller's
    // frame, no corpus-sized checkpoint on the bootstrap path
    val r =
      if (!Similarity.hasParquetData(spark, epochDir)) {
        // stats said non-empty but zero rows landed: a non-deterministic
        // frame. Nothing to fold; but if the overwrite wiped a
        // pre-existing epoch's rows, the csums no longer cover the
        // lists — rebuild.
        if (!epochExisted) 1
        else {
          Similarity.rebuildIvfCsums(spark, indexPath, idCol, vecCol,
            labelCol, dims, epoch = Some(batchId))
          2
        }
      } else Similarity.streamingCsumsRefresh(spark, indexPath,
        spark.read.parquet(epochDir)
          .select(col(idCol), col(vecCol), col(labelCol)),
        batchId, idCol, vecCol, labelCol, dims, epochExisted)
    if (assigned) {
      // stamp the refreshed centers for the NEXT epoch's reuse:
      // immutable per-epoch copy first (a replayed M overwrites only its
      // own copy), marker last (temp + atomic rename — present ⟹ copy
      // complete), then prune every other copy — only the marker's is
      // ever read, and a long-running stream would otherwise accumulate
      // one dead K-row directory per micro-batch. Pruning AFTER the
      // rename is crash-safe: a crash mid-prune leaves unreferenced
      // copies the next completed epoch removes.
      spark.read.parquet(s"$indexPath/centers")
        .write.mode("overwrite")
        .parquet(s"$indexPath/centers_epoch/__batch=$batchId")
      writeCentersMarker(spark, indexPath, batchId,
        listEpochs(spark, indexPath))
      pruneCentersCopies(spark, indexPath, keep = batchId)
    }
    pq.foreach { sc =>
      if (Similarity.hasParquetData(spark, epochDir))
        Similarity.pqCodesOf(spark, indexPath,
          spark.read.parquet(epochDir)
            .select(col(idCol), col(vecCol), col(labelCol)),
          idCol, vecCol, labelCol, sc)
          .write.mode("overwrite").partitionBy("__cellkey")
          .parquet(s"$indexPath/pq/codes/__batch=$batchId")
      Similarity.restampPqMarker(spark, indexPath, sc)
    }
    r
  }

  /** Whether an assigned epoch `batchId` may take its assignment-time
    * centers from the stamped copy: the centers marker covers exactly the
    * on-disk epochs other than `batchId` (a metadata-only FS listing). */
  private[graft] def centersReusable(spark: org.apache.spark.sql.SparkSession,
                                     indexPath: String,
                                     batchId: Long): Boolean =
    readCentersMarker(spark, indexPath)
      .exists(_._2 == listEpochs(spark, indexPath) - batchId)

  /** Delete every `centers_epoch/__batch=N` copy except `keep` (the one
    * the marker names). */
  private def pruneCentersCopies(spark: org.apache.spark.sql.SparkSession,
                                 indexPath: String, keep: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$indexPath/centers_epoch")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("__batch=") && n != s"__batch=$keep") {
          fs.delete(st.getPath, true); ()
        }
      }
    }
  }

  /** Epoch ids present under `lists/` (`__batch=N` directory names) —
    * a metadata-only FS listing, no data scan. */
  private def listEpochs(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String): Set[Long] = {
    val root = new org.apache.hadoop.fs.Path(s"$indexPath/lists")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("__batch=") =>
        n.stripPrefix("__batch=").toLongOption }
      .flatten.toSet
  }

  private def centersMarkerPath(indexPath: String) =
    new org.apache.hadoop.fs.Path(s"$indexPath/centers_epoch/__marker")

  /** (lastEpoch, covered epoch set) from the marker file, if present and
    * well-formed. Format: one line `lastEpoch|e1,e2,...`. */
  private def readCentersMarker(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String): Option[(Long, Set[Long])] = {
    val p = centersMarkerPath(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      val Array(last, eps) = raw.split('|')
      Some((last.toLong,
        eps.split(',').filter(_.nonEmpty).map(_.toLong).toSet))
    } catch { case _: Throwable => None } // malformed → recompute path
  }

  private def writeCentersMarker(spark: org.apache.spark.sql.SparkSession,
                                 indexPath: String, lastEpoch: Long,
                                 epochs: Set[Long]): Unit = {
    val p = centersMarkerPath(indexPath)
    graft.functions.LayoutMarker.replaceWith(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      "centers marker")(_.write(
      s"$lastEpoch|${epochs.toSeq.sorted.mkString(",")}".getBytes("UTF-8")))
  }

  /** Seed [[ivfIngestTo]]'s index with a pre-existing corpus: the corpus
    * lands in the reserved `__batch=-1` epoch (micro-batch ids start at
    * 0), keeping the partition structure uniform for the stream that
    * takes over. */
  def ivfIngestBootstrap(corpus: DataFrame, indexPath: String,
                         idCol: String, vecCol: String, labelCol: String,
                         dims: Int = 64): Unit =
    ivfIngestEpoch(corpus, -1L, indexPath, idCol, vecCol, labelCol, dims)

  /** Periodic-compaction gate for the streaming ingests: compact at
    * every `compactEvery`-th epoch EXCEPT when that epoch's partition is
    * already on disk. Inside the foreachBatch single-writer fence an
    * existing `__batch=<batchId>` dir means this invocation is a crash
    * REPLAY (or an epoch-id reuse, which the epoch writers reconcile
    * themselves) — and the first attempt's compaction already ran.
    * Running it again would fold the crashed attempt's own `__batch=N`
    * rows into the consolidated `__batch=-1` right before the epoch
    * write re-lands the same rows under `__batch=N`, duplicating every
    * row of the epoch: duplicate ids surfacing in IVF probe top-k,
    * silent index inflation for the phash family (round-15 advice — the
    * "crash-replayed epoch overwrites its own fresh dir" idempotence
    * argument does not hold once compaction has folded that dir away).
    * Skipping merely defers consolidation to the next boundary; it never
    * loses data. `nested` selects the layout probe: the phash indexes
    * nest epoch dirs INSIDE their `pb=` dirs, IVF lists keep them at
    * `lists/` top level. Metadata-only FS listing, no data scan. */
  private[graft] def shouldCompactAt(spark: org.apache.spark.sql.SparkSession,
                                     indexPath: String, batchId: Long,
                                     compactEvery: Int,
                                     nested: Boolean = false): Boolean = {
    if (compactEvery <= 0 || batchId <= 0 || batchId % compactEvery != 0)
      return false
    val replayed =
      if (nested)
        graft.functions.Multimodal.pbEpochExists(spark, indexPath,
          batchId.toString)
      else {
        val lists = new org.apache.hadoop.fs.Path(
          s"$indexPath/lists/__batch=$batchId")
        lists.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(lists)
      }
    !replayed
  }

  /**
   * Streaming cross-corpus dedup against a FROZEN persisted index
   * ([[graft.functions.Dedup.buildDedupIndex]] /
   * [[dedupIngestTo]] layout): each micro-batch probes the index
   * ([[graft.functions.Dedup.dedupAgainstIndexed]] — band-key-bucketed
   * candidates, exact-Jaccard verify, never corpus × batch) and every
   * doc lands with its verdict (`dup_of`, `jac`, `admitted`). This is
   * the "dedupe the new crawl against the already-trained corpus" pass:
   * the index is NOT mutated by the stream — unlike [[nearDupDedupTo]],
   * whose state grows with each admission — so batches are independent
   * and replay idempotence needs only the epoch overwrite. Compose with
   * [[nearDupDedupTo]] downstream for "new-vs-corpus AND new-vs-new".
   *
   * Per-batch cost is the batch's own shingling plus bucket-local joins
   * against the prebuilt key/set tables. Every probe needs the whole
   * key/set tables, so they are loaded + materialized ONCE per query
   * (the [[lmScoreTo]] pre-stream-build pattern), not re-listed from
   * parquet every micro-batch; this also pins one index snapshot for the
   * life of the stream. The snapshot is held at `DISK_ONLY_2` (not
   * `localCheckpoint`): a localCheckpoint TRUNCATES lineage into
   * non-replicated executor blocks, so one executor loss would make the
   * corpus-scale snapshot unrecoverable and fail every later
   * micro-batch of a long-running stream. persist keeps the parquet
   * lineage (the file listing is captured at read time, so a recompute
   * still sees this snapshot's files) and 2-replicates the blocks,
   * surviving single-executor loss without a recompute.
   *
   * Duplicate ids WITHIN a micro-batch (at-least-once upstream, a
   * crawler re-emitting a page) are collapsed to one row before the
   * probe — without that, the verdict join would multiply copies
   * (n copies × n verdict rows) instead of emitting one verdict per id.
   */
  def crossDedupTo(docs: DataFrame, indexPath: String, outPath: String,
                   checkpoint: String, idCol: String, textCol: String,
                   minJaccard: Double = 0.8,
                   availableNow: Boolean = true): StreamingQuery = {
    val spark = docs.sparkSession
    Dedup.requireFlatIndex(spark, indexPath)
    val cKeys = spark.read.parquet(s"$indexPath/keys")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY_2)
    val cSets = spark.read.parquet(s"$indexPath/sets")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY_2)
    cKeys.count(); cSets.count() // eager: materialize before the stream
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // checkpointed: the batch feeds the probe AND the final verdict
        // join — one evaluation keeps them consistent even over a
        // nondeterministic upstream transform
        val b = batch.dropDuplicates(idCol).localCheckpoint(false)
        val verdicts = Dedup.dedupAgainstTables(b, cKeys, cSets, idCol,
          textCol, minJaccard)
        b.join(verdicts, Seq(idCol))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /**
   * Streaming ANN retrieval against a FROZEN persisted IVF index — the
   * embedding twin of [[crossDedupTo]]: each micro-batch of (id, vector)
   * probes the index ([[graft.functions.Similarity.ivfKnnJoinIndexed]])
   * and lands its top-k neighbors `(probe_id, rank, neighbor_id, cos)`
   * under `outPath/batch=N` — the "retrieve context for every arriving
   * query/document from the trained corpus" pass. The index is NOT
   * mutated by the stream (ingest is [[ivfIngestTo]], on a path this
   * stream must not race), so
   * batches are independent and the epoch overwrite alone gives replay
   * idempotence.
   *
   * Scale shape: unlike [[crossDedupTo]] — whose bucket joins need the
   * whole key/set tables, pinned once in replicated storage — the IVF
   * probe's corpus access is partition-PRUNED to the probed cells'
   * directories, so nothing here preloads the corpus: each micro-batch
   * reads the K-row centers plus only its own probed cells from disk,
   * which is the index's build-once / probe-many contract working as
   * designed. `superProbe` defaults to the library's auto two-level rule
   * ([[graft.functions.Similarity.resolveSuperProbe]]).
   *
   * Probe ids share the index's id space semantics: a corpus row whose
   * id EQUALS the probe's id is excluded as "self" (the probe contract —
   * re-probing corpus members skips their own row). Use disjoint id
   * ranges if the stream's ids are unrelated to the corpus's. Duplicate
   * ids WITHIN a micro-batch collapse to one probe before scoring.
   */
  def annProbeTo(vectors: DataFrame, indexPath: String, outPath: String,
                 checkpoint: String, idCol: String, vecCol: String,
                 labelCol: String = "cell", k: Int = 5, nProbe: Int = 2,
                 superProbe: Int = -1,
                 availableNow: Boolean = true): StreamingQuery = {
    import graft.functions.Similarity
    val spark = vectors.sparkSession
    val writer = vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // checkpointed (mirrors embedDedupTo): the indexed probe
        // evaluates its probe frame twice (probed-cell collect +
        // scoring join) — without this a nondeterministic upstream
        // could yield inconsistent probed cells vs scored vectors
        val probes = batch.dropDuplicates(idCol)
          .select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
          .localCheckpoint(false)
        Similarity.ivfKnnJoinIndexed(spark, indexPath, probes, idCol,
          vecCol, labelCol, k, nProbe, superProbe)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /**
   * Streaming EMBEDDING cross-dedup against a frozen persisted IVF index
   * — [[crossDedupTo]]'s semantic-dup form: each arriving vector gets a
   * verdict row `(idCol, dup_of, cos, admitted)` — its best corpus
   * neighbor when that neighbor's cosine clears `minCos`
   * (`admitted = false`), else admitted with null `dup_of`/`cos` — the
   * SemDeDup admission decision ([[graft.functions.Similarity]]'s
   * semantic dedup family) run online against the trained corpus. Same
   * frozen-index/epoch-overwrite idempotence and pruned-probe scale
   * shape as [[annProbeTo]] (the verdict is derived from its k = 1
   * probe); a probe whose cells hold no corpus vectors (or a zero-norm
   * vector) yields no neighbor row and is admitted.
   */
  def embedDedupTo(vectors: DataFrame, indexPath: String, outPath: String,
                   checkpoint: String, idCol: String, vecCol: String,
                   labelCol: String = "cell", minCos: Double = 0.9,
                   nProbe: Int = 2, superProbe: Int = -1,
                   availableNow: Boolean = true): StreamingQuery = {
    import graft.functions.Similarity
    val spark = vectors.sparkSession
    val writer = vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.dropDuplicates(idCol).localCheckpoint(false)
        val best = Similarity.ivfKnnJoinIndexed(spark, indexPath,
          b.select(col(idCol).as("probe_id"), col(vecCol).as("__pv")),
          idCol, vecCol, labelCol, k = 1, nProbe, superProbe)
          .filter(col("cos") >= minCos)
          .select(col("probe_id").as(idCol),
            col("neighbor_id").as("dup_of"), col("cos"))
        b.join(best, Seq(idCol), "left")
          .withColumn("admitted", col("dup_of").isNull)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /**
   * Streaming PERCEPTUAL image dedup against a frozen persisted
   * [[PhashKind.Image]] phash index
   * ([[graft.functions.Multimodal.buildPhashIndex]]) —
   * [[embedDedupTo]]'s media form: each arriving payload decodes,
   * hashes, and gets a verdict row `(doc_id, dup_of, hamming,
   * admitted)` — its NEAREST corpus near-dup within `maxHamming`
   * (smallest hamming, ties to the smallest corpus id) with
   * `admitted = false`, else admitted with null `dup_of`/`hamming`.
   * Undecodable payloads hash nothing and are admitted (quarantine is
   * the caller's policy — see [[graft.functions.Multimodal
   * .phashSignatures]]). Same frozen-index/epoch-overwrite idempotence
   * as [[annProbeTo]]; the probe reads only the batch's candidate pb
   * partitions with its bvals pushed to the scan — per-epoch bytes
   * bounded by the batch at any corpus size.
   */
  def phashDedupTo(media: DataFrame, indexPath: String, outPath: String,
                   checkpoint: String, maxHamming: Int = 3,
                   availableNow: Boolean = true): StreamingQuery = {
    import graft.functions.Multimodal
    val spark = media.sparkSession
    val writer = media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.dropDuplicates("doc_id").localCheckpoint(false)
        val best = Multimodal.phashDedupAgainst(spark, PhashKind.Image,
          indexPath, b, maxHamming)
          .groupBy(col("doc_id"))
          .agg(min(struct(col("hamming"), col("corpus_id"))).as("__b"))
          .select(col("doc_id"), col("__b.corpus_id").as("dup_of"),
            col("__b.hamming").as("hamming"))
        b.select(col("doc_id"), col("kind"), col("byte_len"))
          .join(best, Seq("doc_id"), "left")
          .withColumn("admitted", col("dup_of").isNull)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /**
   * ONLINE maintenance of a persisted phash index of any
   * [[PhashKind]] — the streaming twin of
   * [[graft.functions.Multimodal.appendToPhashIndex]], with the epoch
   * idempotence the batch append cannot give (mode-append on a
   * crash-replayed micro-batch would double its rows; duplicated index
   * rows are harmless to pair correctness — candidates re-distinct —
   * but grow the index and its probe cost without bound across
   * replays). Each epoch's signature blocks land under
   * `pb=<dir>/__batch=<epoch>/` with DYNAMIC partition overwrite, so a
   * replayed batch rewrites exactly its own (pb, epoch) partitions —
   * the `__batch` dirs nest INSIDE the `pb` dirs (unlike the IVF/dedup
   * ingests' top-level epochs) because [[graft.functions.Multimodal
   * .phashDedupAgainst]] prunes by explicit `pb=` subdirectory listing,
   * which must keep resolving at the tree's first level.
   *
   * The stream OWNS `indexPath` (epoch subdirs cannot mix with the
   * batch build's flat files inside one `pb` dir): seed a pre-existing
   * corpus with [[phashIngestBootstrap]] (reserved `__batch=-1`;
   * micro-batch ids start at 0). Probes work unchanged — the extra
   * `__batch` partition column is ignored by the probe's explicit
   * selects, and the pushed bval filter skips row groups exactly as in
   * the flat layout (each epoch file is bval-sorted). Every
   * `compactEvery` epochs (0 = never) the accumulated epochs
   * consolidate into `__batch=-1` through
   * [[graft.functions.Multimodal.compactPhashIndex]], which can also be
   * run on its own.
   */
  def phashIngestTo(kind: PhashKind, media: DataFrame, indexPath: String,
                    checkpoint: String, availableNow: Boolean = true,
                    compactEvery: Int = 0): StreamingQuery = {
    val writer = media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        phashIngestEpoch(kind, batch, batchId, indexPath, compactEvery)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Seed a streaming phash index from a batch corpus — the reserved
    * `__batch=-1` epoch ([[ivfIngestBootstrap]]'s device). */
  def phashIngestBootstrap(kind: PhashKind, media: DataFrame,
                           indexPath: String): Unit =
    phashIngestEpoch(kind, media, -1L, indexPath, compactEvery = 0)

  /** One epoch of [[phashIngestTo]] — factored out so the
    * replay-idempotence contract is directly testable: same
    * (batch, batchId) twice ≡ once. The epoch's partition set is
    * deterministic from the batch's bytes (signatures are pure
    * functions of content), so a replay's dynamic overwrite hits
    * exactly the first attempt's (pb, __batch) dirs.
    *
    * ONLINE COMPACTION: a long-lived ingest accumulates one file per
    * touched dir per epoch; on a `compactEvery` boundary the
    * accumulated epochs consolidate into `__batch=-1` — inside the
    * foreachBatch body (single-writer fence) and BEFORE this epoch's
    * write, so a crash-replayed epoch overwrites its own fresh dir
    * instead of duplicating rows the compaction just consolidated.
    * [[shouldCompactAt]] skips the pass when this epoch already landed:
    * a replayed boundary epoch must not fold its own crashed rows into
    * -1 before re-landing them. */
  private[graft] def phashIngestEpoch(kind: PhashKind, batch: DataFrame,
                                      batchId: Long, indexPath: String,
                                      compactEvery: Int): Unit = {
    import graft.functions.Multimodal
    val spark = batch.sparkSession
    // heal a crashed compaction first: with the root renamed away the
    // replay test below would misread the layout, and the write would
    // start a fresh root beside the only copy
    ParquetCompact.recoverTable(spark, indexPath)
    if (shouldCompactAt(spark, indexPath, batchId, compactEvery,
        nested = true))
      Multimodal.compactPhashIndex(spark, indexPath)
    Multimodal.writePhashBlocks(spark, kind, batch, indexPath, "overwrite",
      Some(batchId))
  }

  /**
   * ONLINE maintenance of the persisted text-dedup index — the streaming
   * twin of [[graft.functions.Dedup.appendToDedupIndex]], with the epoch
   * idempotence the batch append cannot give (mode-append on a replayed
   * micro-batch would double the batch's rows — and duplicated index
   * rows are only *mostly* harmless to the probe: candidate pairs are
   * re-distincted, but a duplicated doc row doubles its shingle-set rows
   * and corrupts the Jaccard denominators). IVF got this twin in round 7
   * ([[ivfIngestTo]]); this closes the asymmetry for the dedup index,
   * ON THE PERSISTED INDEX LAYOUT (not the separate `nearDupDedupTo`
   * state tree): each micro-batch's shingle sets and band keys land
   * under `sets/__batch=N/` and `keys/__batch=N/` with OVERWRITE, so a
   * crash-replayed batch rewrites exactly its own epoch.
   *
   * The stream OWNS `indexPath` (epoch dirs cannot mix with
   * [[graft.functions.Dedup.buildDedupIndex]]'s flat files in one tree):
   * seed a pre-existing corpus with [[dedupIngestBootstrap]] (reserved
   * `__batch=-1`; micro-batch ids start at 0). Probes via
   * [[graft.functions.Dedup.dedupAgainstIndexed]] work unchanged — the
   * extra `__batch` partition column is projected away by the probe's
   * explicit selects. Compact with [[compactDedupIngestState]].
   */
  def dedupIngestTo(docs: DataFrame, indexPath: String, checkpoint: String,
                    idCol: String, textCol: String,
                    availableNow: Boolean = true): StreamingQuery = {
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupIngestEpoch(batch, batchId, indexPath, idCol, textCol)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One epoch of [[dedupIngestTo]] — factored out so the
    * replay-idempotence contract is directly testable: same
    * (batch, batchId) twice ≡ once. Ids must be integral: the probe's
    * verify casts corpus ids to long and its best-match reduce skips
    * null ids, so an index ingested with string ids would admit every
    * near-dup silently. Both checks run before anything lands. */
  private[graft] def dedupIngestEpoch(batch: DataFrame, batchId: Long,
                                      indexPath: String, idCol: String,
                                      textCol: String): Unit = {
    Dedup.requireFlatIndex(batch.sparkSession, indexPath)
    Dedup.recoverIndexTables(batch.sparkSession, indexPath)
    graft.functions.TopKAgg.requireIntegralId(batch, idCol, "dedup ingest")
    // shingle once, derive both tables from the materialized sets —
    // identical row shapes to the batch build/append, so a probe cannot
    // tell which path populated the index
    val sets = Dedup.shingleSets(batch, idCol, textCol)
      .localCheckpoint(false)
    sets.write.mode("overwrite")
      .parquet(s"$indexPath/sets/__batch=$batchId")
    Dedup.bandKeysFromSets(sets, idCol).write.mode("overwrite")
      .parquet(s"$indexPath/keys/__batch=$batchId")
  }

  /** Seed [[dedupIngestTo]]'s index with a pre-existing corpus in the
    * reserved `__batch=-1` epoch (micro-batch ids start at 0). */
  def dedupIngestBootstrap(corpus: DataFrame, indexPath: String,
                           idCol: String, textCol: String): Unit =
    dedupIngestEpoch(corpus, -1L, indexPath, idCol, textCol)

  /** Compact [[dedupIngestTo]]'s epoch partitions — every epoch adds
    * files to both tables; consolidates each into the reserved
    * `__batch=-1` via the crash-safe
    * [[ParquetCompact.consolidateEpochs]]. Run OFFLINE
    * (single-writer). Returns per-table row counts. */
  def compactDedupIngestState(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String,
                              targetFiles: Int = 8): Map[String, Long] = {
    Dedup.requireFlatIndex(spark, indexPath)
    Seq("sets", "keys").map(t =>
      t -> ParquetCompact.consolidateEpochs(spark, s"$indexPath/$t") { (df, stageDir) =>
        df.coalesce(targetFiles).write.parquet(stageDir)
      }.getOrElse(0L)).toMap
  }

  /**
   * Stream-stream interval join: enrich each event with the user's signup
   * event when it happened within `intervalMinutes` before the event —
   * the streaming cousin of [[graft.operators.AsOfJoin]] (which is the
   * unbounded-history batch form).
   *
   * Both sides must carry event-time watermarks when streaming.
   */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   intervalMinutes: Int): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.ts") <= col("l.ts") &&
        col("r.ts") >= col("l.ts") - expr(s"INTERVAL $intervalMinutes MINUTES"))
  }
}
