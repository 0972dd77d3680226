package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Changelog
import graft.streaming.{ChangesetStream, StreamOps}

class StreamOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("watermark dedup drops redelivered events on a live stream") {
    val cs = Changelog.fromEvents(spark, sfDir).limit(200)
    val logDir = Files.createTempDirectory("graft-dup").toString
    // simulate at-least-once redelivery: the same events written twice
    cs.coalesce(1).write.mode("append").parquet(logDir)
    cs.coalesce(1).write.mode("append").parquet(logDir)

    val stream = ChangesetStream.fromFiles(spark, logDir, maxFilesPerTrigger = 1)
    val deduped = StreamOps.dedupWithinWatermark(stream, "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val n = spark.table("dedup_out").select("id").distinct().count()
    val total = spark.table("dedup_out").count()
    assert(n == 200 && total == 200, s"distinct=$n total=$total")
  }

  test("sessionize tail flush: watermark expiry emits the open session") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    // batch 1: user 1 has a burst at t0; batch 2: user 2 events much later
    // (advancing the watermark past user 1's gap boundary)
    val t0 = 1700000000000000L
    Seq((1L, t0), (1L, t0 + 60L * 1000000), (1L, t0 + 120L * 1000000))
      .toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .coalesce(1).write.mode("append").parquet(dir)
    val later = t0 + 5L * 3600 * 1000000
    Seq((2L, later), (2L, later + 1000000L))
      .toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .coalesce(1).write.mode("append").parquet(dir)
    // batch 3: user 1 RETURNS after their first session was timeout-flushed
    val t1 = later + 3600L * 1000000
    Seq((1L, t1), (1L, t1 + 1000000L))
      .toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .coalesce(1).write.mode("append").parquet(dir)
    // batch 4: far-future event advances the watermark past everything open
    Seq((3L, t1 + 5L * 3600 * 1000000))
      .toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .coalesce(1).write.mode("append").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "10 minutes")
    val q = graft.streaming.Sessionize
      .streamingWithTimeout(spark, stream, 30)
      .writeStream.format("memory").queryName("sess_flush")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val got = spark.table("sess_flush")
      .select("user_id", "session_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1's first session (3 events) must have been flushed by the
    // watermark advance from user 2's batch even though no user-1 event
    // closed it
    assert(got.contains((1L, 1L, 3L)), s"got: $got")
    // and user 1's post-flush session continues the id sequence — a
    // timeout flush must NOT restart ids at 1 (duplicate stream key)
    assert(got.contains((1L, 2L, 2L)), s"got: $got")
    val user1Ids = got.filter(_._1 == 1L).map(_._2)
    assert(user1Ids.size == got.count(_._1 == 1L),
      s"duplicate (user, session_id) emitted: $got")
  }

  test("streaming near-dup dedup admits first arrivals, drops later near-dups") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val dir = Files.createTempDirectory("graft-snd-in").toString
    // batch 1: A (1), B = near-dup of A (2), C distinct (3)
    Seq(
      (1L, base),
      (2L, base.replace("echo", "zulu")), // 1-word edit → high jaccard
      (3L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    // distinct mtimes: FileStreamSource orders pending files by modTime,
    // and two sub-second appends could otherwise tie and reorder batches
    Thread.sleep(1100)
    // batch 2: D near-dups A (4), E distinct (5), F exact copy of E (6)
    val eText = "red orange yellow green blue indigo violet cyan magenta " +
      "teal maroon olive navy silver golden crimson"
    Seq(
      (4L, base.replace("kilo", "xray")),
      (5L, eText),
      (6L, eText))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)

    val outDir = Files.createTempDirectory("graft-snd-out").toString + "/out"
    val stateDir = Files.createTempDirectory("graft-snd-st").toString + "/state"
    val schema = spark.read.parquet(dir).schema
    val q = StreamOps.nearDupDedupTo(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
      outDir, stateDir, Files.createTempDirectory("graft-snd-ck").toString,
      "doc_id", "text", 0.6)
    q.awaitTermination()

    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // B dropped within batch 1; D dropped against the admitted corpus;
    // F (exact copy) dropped within batch 2; first arrivals admitted
    assert(admitted == Set(1L, 3L, 5L), s"admitted: $admitted")
    // the state index grew only with admitted docs
    val stateIds = spark.read.parquet(s"$stateDir/sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stateIds == Set(1L, 3L, 5L))
  }

  test("state compaction consolidates partitions and later epochs still dedup") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val dir = Files.createTempDirectory("graft-cmp-in").toString
    val ck = Files.createTempDirectory("graft-cmp-ck").toString
    val outDir = Files.createTempDirectory("graft-cmp-out").toString + "/out"
    val stateDir = Files.createTempDirectory("graft-cmp-st").toString + "/state"
    Seq((1L, base)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100)
    Seq((2L, "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def run() = {
      val q = StreamOps.nearDupDedupTo(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(dir), outDir, stateDir, ck, "doc_id", "text", 0.6)
      q.awaitTermination()
    }
    run() // two epochs → state partitions batch=0, batch=1

    val before = spark.read.parquet(s"$stateDir/keys")
      .select("doc_id", "band", "bkey").collect().toSet
    val counts = StreamOps.compactState(spark, stateDir)
    assert(counts("keys") == before.size.toLong)
    // all consolidated into the reserved batch=-1 partition
    val parts = new java.io.File(s"$stateDir/keys").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=-1"), s"partitions: $parts")
    assert(spark.read.parquet(s"$stateDir/keys")
      .select("doc_id", "band", "bkey").collect().toSet == before,
      "compaction must not change state content")
    // idempotent: nothing left to compact
    assert(StreamOps.compactState(spark, stateDir) == Map("keys" -> 0L, "sets" -> 0L))

    // a later epoch (same checkpoint → batchId continues) still dedups
    // against the compacted corpus: near-dup of doc 1 must be rejected
    Thread.sleep(1100)
    Seq((7L, base.replace("echo", "zulu")), (8L, "totally fresh words " +
      "appear here nine more unique tokens pad the shingle count out"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    run()
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 2L, 8L), s"admitted: $admitted")
  }

  test("near-dup dedup: half-created state dir reads as empty, not a wedge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snd2-in").toString
    Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)

    val stateDir = Files.createTempDirectory("graft-snd2-st").toString + "/state"
    // simulate a crash mid-epoch-write: the layout marker (written
    // before any table) is present, the keys dir exists but committed no
    // parquet (only an uncommitted _temporary dir), and the sets dir was
    // never created at all. Both must read as EMPTY state — before the
    // per-path explicit-schema reads, the first wedged every replay on
    // schema inference and the second on path-not-found.
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateDir, "keys", "batch=0", "_temporary"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stateDir, "_graft_state_layout"),
      "ibsets|64".getBytes("UTF-8"))

    val outDir = Files.createTempDirectory("graft-snd2-out").toString + "/out"
    val schema = spark.read.parquet(dir).schema
    val q = StreamOps.nearDupDedupTo(
      spark.readStream.schema(schema).parquet(dir),
      outDir, stateDir, Files.createTempDirectory("graft-snd2-ck").toString,
      "doc_id", "text", 0.6)
    q.awaitTermination()
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L), s"admitted: $admitted")
  }

  test("banded dedup state: same admissions as legacy, pruned sets reads") {
    import spark.implicits._
    // corpus epoch: 120 distinct docs (all admitted → a sets table worth
    // pruning); probe epoch: one near-dup of doc 1 — a candidate, so the
    // corpus epoch is READ (the epoch-level KeySummaries pruning, proven
    // in Round11StateSpec, would otherwise skip it entirely) — plus one
    // fresh doc. The verify must read only the CANDIDATE's id bucket of
    // the sets epoch, not the whole sets table.
    val corpusDocs = (1L to 120L).map(i =>
      (i, s"unique document number $i holding token$i plus shared filler " +
        s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i"))
    val probeDoc = Seq(
      (900L, "unique document number 1 holding token1 plus shared filler " +
        "alpha1 bravo1 charlie1 delta1 echo1 foxtrot1 golf1 zulu"),
      (901L, "entirely fresh probe text matching nothing " +
        "in the corpus with its own vocabulary of new tokens"))
    def fileBytes(): Long =
      Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
        .get("file"))
        .flatMap(s => Option(s.getLong("bytesRead")).map(_.longValue()))
        .getOrElse(0L)
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    val schema = corpusDocs.toDF("doc_id", "text").schema
    val in = Files.createTempDirectory("graft-bst-in").toString
    val st = Files.createTempDirectory("graft-bst-sa").toString + "/st"
    val out = Files.createTempDirectory("graft-bst-oa").toString + "/out"
    val ck = Files.createTempDirectory("graft-bst-cka").toString
    def run(): Unit = StreamOps.nearDupDedupTo(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(in), out, st, ck, "doc_id", "text", 0.6).awaitTermination()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.hadoop.vectored.io.enabled", "false")
    try {
      corpusDocs.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
      run() // epoch 0: the corpus
      val corpusInput = dirBytes(in)
      probeDoc.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in)
      val b0 = fileBytes()
      run() // epoch 1: the probe, same checkpoint
      val probeRead = fileBytes() - b0
      // the near-dup probe is dropped against the corpus state, the
      // fresh doc admitted
      assert(spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSet == (1L to 120L).toSet + 901L)
      // layout proof: marker + ib dirs inside the epoch
      assert(new java.io.File(s"$st/_graft_state_layout").exists())
      assert(new java.io.File(s"$st/sets/batch=0").listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("ib=")),
        "banded state must write ib= dirs inside the epoch")
      // pruning proof: beyond the probe input and the corpus epoch's
      // keys and summary (read whole), epoch 1 reads under 30% of the
      // sets table's on-disk size — its one candidate's bucket
      val setsBytes = dirBytes(s"$st/sets/batch=0")
      val otherBytes = dirBytes(in) - corpusInput +
        dirBytes(s"$st/keys/batch=0") + dirBytes(s"$st/keysum/batch=0")
      assert(probeRead - otherBytes < (0.3 * setsBytes).toLong,
        s"banded state did not prune the sets read: read=$probeRead " +
          s"keys+summary+input=$otherBytes sets=$setsBytes")
    } finally hc.unset("parquet.hadoop.vectored.io.enabled")
  }

  test("STRING ids fail at the door with the standard guidance") {
    import spark.implicits._
    // string ids never actually worked here — the cascade's union-find
    // died deep inside with a bare ClassCastException — and the banded
    // bucket column would null-cast them; the contract is now explicit
    val in = Files.createTempDirectory("graft-sid-in").toString
    Seq(("a", "alpha bravo charlie delta echo foxtrot golf hotel india"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q = StreamOps.nearDupDedupTo(
      spark.readStream.schema(
        Seq(("x", "y")).toDF("doc_id", "text").schema).parquet(in),
      Files.createTempDirectory("graft-sid-out").toString + "/out",
      Files.createTempDirectory("graft-sid-st").toString + "/st",
      Files.createTempDirectory("graft-sid-ck").toString,
      "doc_id", "text", 0.6)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("integral")),
      s"expected the integral-id guidance, got: ${msgs(e)}")
  }

  test("a corrupt state layout marker fails loudly") {
    import spark.implicits._
    val st = Files.createTempDirectory("graft-bst-cm").toString + "/st"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(st))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(st, "_graft_state_layout"),
      "64".getBytes("UTF-8")) // prefix-less: truncated/foreign write
    val in = Files.createTempDirectory("graft-bst-cmi").toString
    Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel india"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q = StreamOps.nearDupDedupTo(
      spark.readStream.schema(
        Seq((1L, "x")).toDF("doc_id", "text").schema).parquet(in),
      Files.createTempDirectory("graft-bst-cmo").toString + "/out", st,
      Files.createTempDirectory("graft-bst-cmc").toString,
      "doc_id", "text", 0.6)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("corrupt") ||
      Option(e.getCause).exists(_.getMessage.contains("corrupt")),
      s"unexpected error: ${e.getMessage}")
  }

  test("e2e prep pipeline: crash-replayed epoch equals the uninterrupted run") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then the " +
      "cat naps while a bird sings songs about the warm summer day outside"
    val blockText = "forbidden document that must never be admitted at all"
    val junk = "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) @@@@ #### $$$$"
    val fresh = "a completely different story where small rivers meet the " +
      "old stone bridge and the miller waits for the morning light to come"
    val in = Files.createTempDirectory("graft-e2e-in").toString
    // batch 0: 1 admitted; 2 near-dup of 1 (in-batch drop); 3 blocklisted
    Seq((1L, base), (2L, base.replace("fox", "wolf")), (3L, blockText))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // distinct mtimes → deterministic batch order
    // batch 1 (the replayed epoch): 4 near-dups 1 (vs-state drop);
    // 5 junk (dedup-admitted, then quality-filtered); 6 fresh (admitted)
    Seq((4L, base.replace("dog", "pug")), (5L, junk), (6L, fresh))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val block = Seq(blockText).toDF("text")
    val schema = spark.read.parquet(in).schema

    def run(out: String, state: String, ck: String): Unit = {
      val q = StreamOps.prepPipelineTo(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in),
        block, out, state, ck, "doc_id", "text",
        minJaccard = 0.6, minQuality = 0.2)
      q.awaitTermination()
    }
    def docs(out: String) = spark.read.parquet(s"$out/docs")
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def acct(out: String) = spark.read.parquet(s"$out/accounting")
      .select(col("batch").cast("long"), col("split"), col("n_docs"),
        col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

    // uninterrupted reference run
    val outA = Files.createTempDirectory("graft-e2e-a").toString + "/out"
    val stA = Files.createTempDirectory("graft-e2e-sa").toString + "/st"
    run(outA, stA, Files.createTempDirectory("graft-e2e-cka").toString)

    // crash run: complete both epochs (outputs AND state on disk), then
    // lose epoch 1's commit marker — the classic asymmetric crash: work
    // done, commit missing — and restart. Epoch 1 replays end-to-end;
    // every stage must rewrite exactly itself.
    val outB = Files.createTempDirectory("graft-e2e-b").toString + "/out"
    val stB = Files.createTempDirectory("graft-e2e-sb").toString + "/st"
    val ckB = Files.createTempDirectory("graft-e2e-ckb").toString
    run(outB, stB, ckB)
    assert(new java.io.File(s"$ckB/commits/1").delete(),
      "expected epoch 1's commit marker to exist")
    // the local checksum fs keeps a .crc sidecar per file — remove it too
    // or the replayed commit write collides on the stale checksum
    new java.io.File(s"$ckB/commits/.1.crc").delete()
    run(outB, stB, ckB) // replays epoch 1 against its own state rows

    assert(docs(outA) == docs(outB), "docs diverged after crash replay")
    assert(acct(outA) == acct(outB), "accounting diverged after crash replay")
    assert(docs(outA).map(_._1) == Set(1L, 6L), s"final docs: ${docs(outA)}")
    // composition order is dedup THEN quality: the junk doc entered the
    // dedup state (it wasn't a near-dup) even though quality dropped it
    // from the output; the blocklisted doc never reached the state
    val stateIds = spark.read.parquet(s"$stB/sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stateIds == Set(1L, 5L, 6L), s"state: $stateIds")
  }

  test("e2e prep pipeline with the LM gate: crash replay still idempotent") {
    import spark.implicits._
    import graft.functions.TextFns
    val base = "the quick brown fox jumps over the lazy dog and then the " +
      "cat naps while a bird sings songs about the warm summer day outside"
    val blockText = "forbidden document that must never be admitted at all"
    // structurally fine (words, spaces — passes the surface quality
    // heuristics) but fully OUT-OF-VOCABULARY for the model corpus: only
    // the LM stage can drop it
    val oov = "lorem ipsum dolor sit amet consectetur adipiscing elit sed " +
      "do eiusmod tempor incididunt ut labore et dolore magna aliqua"
    val fresh = "a completely different story where small rivers meet the " +
      "old stone bridge and the miller waits for the morning light to come"
    val in = Files.createTempDirectory("graft-lmg-in").toString
    Seq((1L, base), (3L, blockText))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100)
    // the replayed epoch: 4 near-dup of 1 (state drop), 6 fresh
    // (admitted), 7 OOV (dedup-admitted, then LM-dropped)
    Seq((4L, base.replace("dog", "pug")), (6L, fresh), (7L, oov))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val modelCorpus = Seq(base, fresh).toDF("text")
    // pick the gate threshold from the actual scores (midpoint between
    // the OOV doc and the worst in-vocab doc) so the test pins the
    // COMPOSITION, not the smoothing arithmetic
    val scored = TextFns.unigramLmScoreAgainst(
      TextFns.unigramModel(modelCorpus, "text"),
      Seq((1L, base), (6L, fresh), (7L, oov)).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("hm_prob")).toMap
    assert(scored(7L) < scored(1L) && scored(7L) < scored(6L),
      s"fixture broken: OOV doc must score lowest: $scored")
    val thr = (scored(7L) + math.min(scored(1L), scored(6L))) / 2.0
    val block = Seq(blockText).toDF("text")
    val schema = spark.read.parquet(in).schema

    def run(out: String, state: String, ck: String): Unit = {
      val q = StreamOps.prepPipelineTo(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in),
        block, out, state, ck, "doc_id", "text",
        minJaccard = 0.6, minQuality = 0.2,
        modelCorpus = Some(modelCorpus), minHmProb = thr)
      q.awaitTermination()
    }
    def docs(out: String) = spark.read.parquet(s"$out/docs")
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val outA = Files.createTempDirectory("graft-lmg-a").toString + "/out"
    val stA = Files.createTempDirectory("graft-lmg-sa").toString + "/st"
    run(outA, stA, Files.createTempDirectory("graft-lmg-cka").toString)

    val outB = Files.createTempDirectory("graft-lmg-b").toString + "/out"
    val stB = Files.createTempDirectory("graft-lmg-sb").toString + "/st"
    val ckB = Files.createTempDirectory("graft-lmg-ckb").toString
    run(outB, stB, ckB)
    assert(new java.io.File(s"$ckB/commits/1").delete(),
      "expected epoch 1's commit marker to exist")
    new java.io.File(s"$ckB/commits/.1.crc").delete()
    run(outB, stB, ckB)

    assert(docs(outA) == docs(outB), "docs diverged after crash replay")
    assert(docs(outA).map(_._1) == Set(1L, 6L), s"final docs: ${docs(outA)}")
    // admitted rows carry the LM columns for downstream accounting
    val cols = spark.read.parquet(s"$outB/docs").columns.toSet
    assert(Set("hm_prob", "n_tokens", "n_oov").subsetOf(cols), s"$cols")
    // composition order is dedup THEN lm: the OOV doc entered the dedup
    // state even though the gate dropped it from the output
    val stateIds = spark.read.parquet(s"$stB/sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stateIds == Set(1L, 6L, 7L), s"state: $stateIds")
  }

  test("e2e prep pipeline with the line stage: strips first, crash replay idempotent") {
    import spark.implicits._
    import graft.functions.Dedup
    val base = "the quick brown fox jumps over the lazy dog and then the " +
      "cat naps while a bird sings songs about the warm summer day outside"
    val blockText = "forbidden document that must never be admitted at all"
    val fresh = "a completely different story where small rivers meet the " +
      "old stone bridge and the miller waits for the morning light to come"
    val boiler = "subscribe to our newsletter for updates every single day"
    // frozen line keys from a REFERENCE corpus: the boiler line repeats
    // across two distinct reference docs (≥ minDocs)
    val lineKeys = Dedup.repeatedLineKeys(
      Seq((100L, s"first reference page body text here\n$boiler"),
        (101L, s"second reference page different body\n$boiler"))
        .toDF("doc_id", "text"),
      "doc_id", "text", minDocs = 2, minLineChars = 10)

    val in = Files.createTempDirectory("graft-lns-in").toString
    // batch 0: 1 admitted (boiler stripped) — delivered TWICE
    // (at-least-once upstream): the line rebuild groups by id, so
    // without the collapse the two copies' lines would interleave into
    // one corrupted text; 3 blocklisted outright
    Seq((1L, s"$base\n$boiler"), (1L, s"$base\n$boiler"), (3L, blockText))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100)
    // batch 1 (the replayed epoch): 4 near-dup of 1 AFTER stripping
    // (state drop); 6 fresh, no boiler (admitted, 0 removed); 9 is the
    // ORDER PROOF — its raw text is blockText + boiler, and the Bloom
    // blocklist holds the bare blockText: only if the line stage runs
    // FIRST does the probe see the cleaned text and drop it
    Seq((4L, s"${base.replace("dog", "pug")}\n$boiler"),
      (6L, fresh), (9L, s"$blockText\n$boiler"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val block = Seq(blockText).toDF("text")
    val schema = spark.read.parquet(in).schema

    def run(out: String, state: String, ck: String): Unit = {
      val q = StreamOps.prepPipelineTo(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in),
        block, out, state, ck, "doc_id", "text",
        minJaccard = 0.6, minQuality = 0.2, lineKeys = Some(lineKeys))
      q.awaitTermination()
    }
    def docs(out: String) = spark.read.parquet(s"$out/docs")
      .select("doc_id", "text", "n_lines_removed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val outA = Files.createTempDirectory("graft-lns-a").toString + "/out"
    val stA = Files.createTempDirectory("graft-lns-sa").toString + "/st"
    run(outA, stA, Files.createTempDirectory("graft-lns-cka").toString)

    // the asymmetric crash: both epochs' work on disk, epoch 1's commit
    // marker lost, restart replays epoch 1 end-to-end — with the line
    // stage in the composition
    val outB = Files.createTempDirectory("graft-lns-b").toString + "/out"
    val stB = Files.createTempDirectory("graft-lns-sb").toString + "/st"
    val ckB = Files.createTempDirectory("graft-lns-ckb").toString
    run(outB, stB, ckB)
    assert(new java.io.File(s"$ckB/commits/1").delete(),
      "expected epoch 1's commit marker to exist")
    new java.io.File(s"$ckB/commits/.1.crc").delete()
    run(outB, stB, ckB)

    assert(docs(outA) == docs(outB), "docs diverged after crash replay")
    assert(docs(outA).map(_._1) == Set(1L, 6L), s"final docs: ${docs(outA)}")
    // the admitted doc comes back REWRITTEN: boiler gone, count carried
    assert(docs(outA).contains((1L, base, 1L)),
      s"doc 1 not rewritten: ${docs(outA)}")
    assert(docs(outA).contains((6L, fresh, 0L)))
    // order proof: 9 was dropped by the Bloom stage operating on the
    // CLEANED text, so it never reached the dedup state either
    val stateIds = spark.read.parquet(s"$stB/sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stateIds == Set(1L, 6L), s"state: $stateIds")
  }

  test("interval join matches its batch equivalent on a live stream") {
    val raw = sources.Tables.load(spark, sfDir, "events")
    val ev = raw.withColumn("ts", timestamp_micros(sources.Tables.tsUs(raw)))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_id"))

    val batchResult = StreamOps.intervalJoin(clicks, signups, "user_id", 60)
      .select(col("l.event_id"), col("r.signup_id"))
      .orderBy("event_id", "signup_id").collect().toSeq

    val dirL = Files.createTempDirectory("graft-ij-l").toString
    val dirR = Files.createTempDirectory("graft-ij-r").toString
    clicks.write.mode("append").parquet(dirL)
    signups.write.mode("append").parquet(dirR)
    val sl = spark.readStream.schema(clicks.schema).parquet(dirL)
      .withWatermark("ts", "2 hours")
    val sr = spark.readStream.schema(signups.schema).parquet(dirR)
      .withWatermark("ts", "2 hours")
    val q = StreamOps.intervalJoin(sl, sr, "user_id", 60)
      .select(col("l.event_id"), col("r.signup_id"))
      .writeStream.format("memory").queryName("ij_out").outputMode("append")
      .start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streamed = spark.table("ij_out")
      .orderBy("event_id", "signup_id").collect().toSeq
    assert(streamed == batchResult && batchResult.nonEmpty)
  }

  // ---- online IVF index maintenance ----

  private def ivfSeed = {
    import spark.implicits._
    Seq(
      (0L, "a", Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, "a", Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, "b", Array(0.1f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
  }
  private def ivfEpoch1 = {
    import spark.implicits._
    Seq(
      (3L, "b", Array(0.2f, 1.0f, 0.0f, 0.0f)),
      (4L, "c", Array(0.0f, 0.0f, 1.0f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
  }
  private def ivfEpoch2 = {
    import spark.implicits._
    Seq((5L, "c", Array(0.0f, 0.0f, 0.9f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
  }
  private def ivfProbes = {
    import spark.implicits._
    Seq(
      (100L, Array(0.1f, 1.0f, 0.0f, 0.0f)),
      (200L, Array(0.0f, 0.0f, 1.0f, 0.05f)))
      .toDF("probe_id", "__pv")
  }
  private def probeRows(path: String) = {
    import graft.functions.Similarity
    Similarity.ivfKnnJoinIndexed(spark, path, ivfProbes,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
  }
  private def rebuiltRows() = {
    import graft.functions.Similarity
    val path = Files.createTempDirectory("graft-ivf-reb").toString
    Similarity.buildIvfIndex(
      ivfSeed.unionByName(ivfEpoch1).unionByName(ivfEpoch2),
      "vec_id", "embedding", "label", path, dims = 4)
    probeRows(path)
  }

  test("ivfIngestTo: bootstrap + streamed epochs probe ≡ batch rebuild") {
    val in = Files.createTempDirectory("graft-ivfin").toString
    val idx = Files.createTempDirectory("graft-ivfidx").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4)
    ivfEpoch1.coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // distinct mtimes: FileStreamSource orders by modTime
    ivfEpoch2.coalesce(1).write.mode("append").parquet(in)
    val q = StreamOps.ivfIngestTo(
      spark.readStream.schema(ivfSeed.schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      idx, Files.createTempDirectory("graft-ivfck").toString,
      "vec_id", "embedding", "label", dims = 4)
    q.awaitTermination()
    val got = probeRows(idx)
    assert(got.nonEmpty && got == rebuiltRows())
    // the z-probe's best neighbors arrived in different epochs
    assert(got.exists { case (pid, _, nid, _) => pid == 200L && nid == 4L })
    assert(got.exists { case (pid, _, nid, _) => pid == 200L && nid == 5L })
  }

  test("ivfIngestEpoch replay: same epoch twice ≡ once (crash-replay)") {
    val idx = Files.createTempDirectory("graft-ivfrp").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4)
    StreamOps.ivfIngestEpoch(ivfEpoch1.unionByName(ivfEpoch2), 0L, idx,
      "vec_id", "embedding", "label", dims = 4)
    val once = probeRows(idx)
    StreamOps.ivfIngestEpoch(ivfEpoch1.unionByName(ivfEpoch2), 0L, idx,
      "vec_id", "embedding", "label", dims = 4)
    assert(probeRows(idx) == once)
    assert(spark.read.parquet(s"$idx/lists")
      .filter(col("vec_id") === 3L).count() == 1,
      "replayed epoch must overwrite, not append")
    assert(once == rebuiltRows())
  }

  test("streaming epoch refresh: monotone folds, replay skips, interleaved rebuilds") {
    // round-12: the per-epoch centers refresh runs through the csums
    // fold state; the return value pins WHICH path ran (0 = incremental
    // fold, 1 = replay skip, 2 = full rebuild)
    val idx = Files.createTempDirectory("graft-ivfcs").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4) // rebuild path seeds csums + marker(epoch -1)
    // monotone epoch (ids 3,4 > seed max 2): the O(batch) fold
    assert(StreamOps.ivfIngestEpoch(ivfEpoch1, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 0, "monotone epoch must fold")
    // crash-replay of the SAME epoch: recognized as already folded
    assert(StreamOps.ivfIngestEpoch(ivfEpoch1, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 1, "replayed epoch must skip")
    assert(probeRows(idx) == {
      val p = Files.createTempDirectory("graft-ivfcs-r").toString
      graft.functions.Similarity.buildIvfIndex(
        ivfSeed.unionByName(ivfEpoch1), "vec_id", "embedding", "label",
        p, dims = 4)
      probeRows(p)
    }, "fold+replay state must equal the batch rebuild")
    // an epoch whose min id (2) does NOT exceed the indexed max (4) —
    // outside the monotone-ingest contract, so the refresh must take
    // the full-rebuild path; only the dispatch is asserted (the id also
    // collides with the seed's, itself out of contract)
    val nonMonotone = {
      import spark.implicits._
      Seq((2L, "b", Array(0.12f, 1.0f, 0.0f, 0.0f)),
        (1000L, "c", Array(0.0f, 0.0f, 0.8f, 0.1f)))
        .toDF("vec_id", "label", "embedding")
    }
    assert(StreamOps.ivfIngestEpoch(nonMonotone, 1L, idx, "vec_id",
      "embedding", "label", dims = 4) == 2,
      "a non-monotone epoch must take the rebuild path")
  }

  test("epoch-id REUSE with new rows rebuilds — never skips over dropped rows") {
    // a fresh stream restarted against an old index (new checkpoint →
    // batch ids restart at 0) OVERWRITES an epoch partition whose old
    // rows the csums still cover; treating it as a replay would leave a
    // valid marker over csums that no longer match the lists
    val idx = Files.createTempDirectory("graft-ivfreuse").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4)
    assert(StreamOps.ivfIngestEpoch(ivfEpoch1, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 0)
    // "new stream": same epoch id 0, DIFFERENT rows (ids 10, 11)
    val newRows = {
      import spark.implicits._
      Seq((10L, "c", Array(0.0f, 0.0f, 1.0f, 0.1f)),
        (11L, "c", Array(0.0f, 0.0f, 0.9f, 0.1f)))
        .toDF("vec_id", "label", "embedding")
    }
    assert(StreamOps.ivfIngestEpoch(newRows, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 2,
      "an epoch-id reuse with different rows must REBUILD")
    // the index state equals a batch rebuild over what the lists now
    // hold: seed + the new epoch-0 rows (epoch1's rows were dropped by
    // the overwrite)
    val rebuilt = Files.createTempDirectory("graft-ivfreuse-r").toString
    graft.functions.Similarity.buildIvfIndex(
      ivfSeed.unionByName(newRows), "vec_id", "embedding", "label",
      rebuilt, dims = 4)
    assert(probeRows(idx) == probeRows(rebuilt))
  }

  test("a bad streaming batch is rejected BEFORE its epoch partition lands") {
    val idx = Files.createTempDirectory("graft-ivfbad").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4)
    val ragged = {
      import spark.implicits._
      Seq((7L, "a", Array(1.0f, 0.2f, 0.3f))) // 3-wide at dims = 4
        .toDF("vec_id", "label", "embedding")
    }
    val before = spark.read.parquet(s"$idx/lists").count()
    intercept[Throwable] {
      StreamOps.ivfIngestEpoch(ragged, 0L, idx, "vec_id", "embedding",
        "label", dims = 4)
    }
    assert(!new java.io.File(s"$idx/lists/__batch=0").exists(),
      "the bad epoch partition must not have landed")
    assert(spark.read.parquet(s"$idx/lists").count() == before)
    // the index still works: a good epoch afterwards folds normally
    assert(StreamOps.ivfIngestEpoch(ivfEpoch1, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 0)
  }

  test("streaming fold repairs a torn live centers table from csums") {
    val idx = Files.createTempDirectory("graft-ivfcs2").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4)
    // simulate the torn overwrite the pre-csums refresh could leave:
    // live centers emptied while csums + marker stay valid
    new java.io.File(s"$idx/centers").listFiles().foreach(_.delete())
    assert(StreamOps.ivfIngestEpoch(ivfEpoch1, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 0,
      "the fold path itself must survive the torn table")
    val rebuilt = Files.createTempDirectory("graft-ivfcs2-r").toString
    graft.functions.Similarity.buildIvfIndex(
      ivfSeed.unionByName(ivfEpoch1), "vec_id", "embedding", "label",
      rebuilt, dims = 4)
    assert(probeRows(idx) == probeRows(rebuilt),
      "repaired centers must be bit-identical to the rebuild")
  }

  test("compactIvfIngestState consolidates epochs, probe unchanged") {
    val idx = Files.createTempDirectory("graft-ivfcp").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4)
    StreamOps.ivfIngestEpoch(ivfEpoch1, 0L, idx, "vec_id", "embedding",
      "label", dims = 4)
    StreamOps.ivfIngestEpoch(ivfEpoch2, 1L, idx, "vec_id", "embedding",
      "label", dims = 4)
    val before = probeRows(idx)
    val n = graft.functions.Similarity.compactIvfIndex(spark, idx)
    assert(n == 6)
    val dirs = new java.io.File(s"$idx/lists").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("__batch=-1"), s"epoch dirs survive: $dirs")
    // one file per cell directory inside the compacted epoch
    val cellC = new java.io.File(s"$idx/lists/__batch=-1/__cellkey=c")
    assert(cellC.isDirectory &&
      cellC.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(probeRows(idx) == before)
  }

  test("an EMPTY micro-batch short-circuits: nothing lands, replay-safe") {
    // round-13 (advice): the old path wrote a data-less __batch=N dir
    // whose read-back crashed schema inference; foreachBatch replays the
    // same empty batch on restart, so the stream wedged on it forever
    val idx = Files.createTempDirectory("graft-ivfmt").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4)
    val before = probeRows(idx)
    val emptyB = ivfEpoch1.limit(0)
    assert(StreamOps.ivfIngestEpoch(emptyB, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 1, "empty epoch must skip")
    assert(!new java.io.File(s"$idx/lists/__batch=0").exists(),
      "the empty epoch partition must not land")
    // crash-replay of the same empty epoch: still a no-op, never a wedge
    assert(StreamOps.ivfIngestEpoch(emptyB, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 1)
    assert(probeRows(idx) == before, "index must be untouched")
    // a later real epoch reusing the empty batch's id folds normally
    assert(StreamOps.ivfIngestEpoch(ivfEpoch1, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 0)
  }

  test("epoch-id reuse sharing the old MAX id rebuilds (row-set identity)") {
    // round-13 (advice): the replay check keyed on (epoch, maxId) alone
    // let a fresh stream's reused epoch id pass for a crash replay when
    // its new rows happened to share the old max id — keeping stale
    // csums under a re-validated marker. The marker now records the
    // epoch's XOR row-set hash, so interior-row substitution rebuilds.
    val idx = Files.createTempDirectory("graft-ivfsh").toString + "/idx"
    StreamOps.ivfIngestBootstrap(ivfSeed, idx, "vec_id", "embedding",
      "label", dims = 4)
    assert(StreamOps.ivfIngestEpoch(ivfEpoch1, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 0)
    // "new stream", same epoch id 0, same max id 4 — but only ONE row
    val sameMax = {
      import spark.implicits._
      Seq((4L, "c", Array(0.0f, 0.0f, 1.0f, 0.1f)))
        .toDF("vec_id", "label", "embedding")
    }
    assert(StreamOps.ivfIngestEpoch(sameMax, 0L, idx, "vec_id",
      "embedding", "label", dims = 4) == 2,
      "same-max-id epoch reuse must REBUILD, not skip")
    // state equals a batch rebuild over what the lists now hold
    val rebuilt = Files.createTempDirectory("graft-ivfsh-r").toString
    graft.functions.Similarity.buildIvfIndex(
      ivfSeed.unionByName(sameMax), "vec_id", "embedding", "label",
      rebuilt, dims = 4)
    assert(probeRows(idx) == probeRows(rebuilt))
  }

  // ---- assignment-only streaming ingest (k-means-quantized, round 8) ----

  private def kmSeedLabeled = {
    import spark.implicits._
    Seq(
      (0L, 0, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, 0, Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, 1, Array(0.1f, 1.0f, 0.0f, 0.0f)),
      (3L, 1, Array(0.2f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "cell", "embedding")
  }
  private def kmEpoch1 = {
    import spark.implicits._
    Seq((4L, Array(1.0f, 0.15f, 0.0f, 0.0f)),
      (5L, Array(0.15f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }
  private def kmEpoch2 = {
    import spark.implicits._
    Seq((6L, Array(0.12f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }
  private def kmProbeRows(path: String) = {
    import graft.functions.Similarity
    Similarity.ivfKnnJoinIndexed(spark, path, ivfProbes,
      "vec_id", "embedding", "cell", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
  }

  test("ivfIngestAssignedTo: streamed unlabeled epochs ≡ sequential assigned appends") {
    import graft.functions.Similarity
    val in = Files.createTempDirectory("graft-kmin").toString
    val idx = Files.createTempDirectory("graft-kmidx").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, idx, "vec_id", "embedding",
      "cell", dims = 4)
    kmEpoch1.coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100)
    kmEpoch2.coalesce(1).write.mode("append").parquet(in)
    val q = StreamOps.ivfIngestTo(
      spark.readStream.schema(kmEpoch1.schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      idx, Files.createTempDirectory("graft-kmck").toString,
      "vec_id", "embedding", "cell", dims = 4)
    q.awaitTermination()
    // batch arm: same seed through the flat build, same epochs through
    // the assigned append (each assigns against the then-current
    // refreshed centers — the same geometry the stream's
    // prior-epochs-exclusive centers reproduce)
    val batch = Files.createTempDirectory("graft-kmb").toString + "/idx"
    Similarity.buildIvfIndex(kmSeedLabeled, "vec_id", "embedding", "cell",
      batch, dims = 4)
    Similarity.appendToIvfIndex(spark, batch, kmEpoch1, "vec_id",
      "embedding", "cell", dims = 4)
    Similarity.appendToIvfIndex(spark, batch, kmEpoch2, "vec_id",
      "embedding", "cell", dims = 4)
    val got = kmProbeRows(idx)
    assert(got.nonEmpty && got == kmProbeRows(batch))
    // streamed vectors are reachable
    assert(got.exists { case (pid, _, nid, _) => pid == 100L && nid == 5L })
  }

  test("ivfIngestAssignedEpoch replay ≡ once, even after its own refresh") {
    // the review-found hazard: a replayed batch must NOT re-assign
    // against centers its own first attempt refreshed — the epoch
    // exclusion pins assignment-time centers to the pre-epoch corpus
    val idx = Files.createTempDirectory("graft-kmrp").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, idx, "vec_id", "embedding",
      "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, idx, "vec_id",
      "embedding", "cell", dims = 4)
    val once = kmProbeRows(idx)
    val cellsOnce = spark.read.parquet(s"$idx/lists")
      .filter(col("vec_id").isin(4L, 5L))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSet
    // replay the SAME epoch after the first attempt fully completed
    // (lists written AND centers refreshed)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, idx, "vec_id",
      "embedding", "cell", dims = 4)
    assert(kmProbeRows(idx) == once)
    assert(spark.read.parquet(s"$idx/lists")
      .filter(col("vec_id") === 4L).count() == 1,
      "replayed epoch must overwrite, not append")
    assert(spark.read.parquet(s"$idx/lists")
      .filter(col("vec_id").isin(4L, 5L))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSet == cellsOnce,
      "replay must re-derive the identical assignment")
  }

  // ---- per-epoch centers reuse (round 9) ----

  /** Bytes read through the local ("file") scheme — Hadoop's global FS
    * statistics, synchronous in local mode (all tasks complete before an
    * epoch call returns). The delta across a block is the observable
    * proof of how much on-disk data it actually scanned. */
  private def fileBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file"))
      .flatMap(s => Option(s.getLong("bytesRead")).map(_.longValue()))
      .getOrElse(0L)

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  test("assigned-epoch centers reuse: clean epochs skip the corpus scan, bit-identically") {
    // arm A: normal path — epoch 1 may reuse epoch 0's stamped centers
    val a = Files.createTempDirectory("graft-kmre-a").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, a, "vec_id", "embedding",
      "cell", dims = 4)
    val r0 = StreamOps.centersReusable(spark, a, 0L)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, a, "vec_id",
      "embedding", "cell", dims = 4)
    assert(!r0, "epoch 0 has no marker (bootstrap writes none) — recompute")
    val before1 = fileBytesRead()
    val r1 = StreamOps.centersReusable(spark, a, 1L)
    StreamOps.ivfIngestEpoch(kmEpoch2, 1L, a, "vec_id",
      "embedding", "cell", dims = 4)
    val bytesReuse = fileBytesRead() - before1
    assert(r1, "clean epoch 1 must reuse epoch 0's stamped centers")
    // arm B: marker deleted before epoch 1 — forced fallback recompute
    // on an identical tree (same seed, same epoch 0)
    val b = Files.createTempDirectory("graft-kmre-b").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, b, "vec_id", "embedding",
      "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, b, "vec_id",
      "embedding", "cell", dims = 4)
    new java.io.File(s"$b/centers_epoch/__marker").delete()
    val before1b = fileBytesRead()
    val r1b = StreamOps.centersReusable(spark, b, 1L)
    StreamOps.ivfIngestEpoch(kmEpoch2, 1L, b, "vec_id",
      "embedding", "cell", dims = 4)
    val bytesFallback = fileBytesRead() - before1b
    assert(!r1b, "no marker — fallback recompute")
    // the scan proof: the fallback's extra work is the assignment-time
    // corpus fold — a second full read of the lists tree. The reuse arm
    // reads the K-row stamped centers instead, so it must come in at
    // least a meaningful fraction of the lists' on-disk bytes cheaper.
    val listsBytes = dirBytes(s"$b/lists")
    assert(bytesFallback - bytesReuse > (0.3 * listsBytes).toLong,
      s"reuse did not skip the corpus scan: reuse=$bytesReuse " +
        s"fallback=$bytesFallback lists=$listsBytes")
    // and the reuse is bit-identical: same lists rows, same probe rows
    def listRows(p: String) = spark.read.parquet(s"$p/lists")
      .select("vec_id", "cell", "__batch").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(listRows(a) == listRows(b), "reuse changed the assignment")
    assert(kmProbeRows(a) == kmProbeRows(b) && kmProbeRows(a).nonEmpty)
  }

  test("assigned-epoch centers reuse: every crash window degrades to the same rows") {
    import graft.functions.Similarity
    // reference arm: clean run of epochs 0 and 1
    val ref = Files.createTempDirectory("graft-kmcw-r").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, ref, "vec_id", "embedding",
      "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, ref, "vec_id",
      "embedding", "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch2, 1L, ref, "vec_id",
      "embedding", "cell", dims = 4)
    def listRows(p: String) = spark.read.parquet(s"$p/lists")
      .select("vec_id", "cell", "__batch").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

    // window 1: epoch 1 crashed AFTER its lists write, BEFORE refresh +
    // stamp (marker still epoch 0's; live centers possibly stale) —
    // simulated by writing epoch 1's would-be lists partition directly,
    // then replaying the full epoch
    val w1 = Files.createTempDirectory("graft-kmcw-1").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, w1, "vec_id", "embedding",
      "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, w1, "vec_id",
      "embedding", "cell", dims = 4)
    val preCenters = spark.read
      .parquet(s"$w1/centers_epoch/__batch=0")
    val labeled1 = kmEpoch2.select(col("vec_id"), col("embedding"))
      .join(Similarity.assignAgainst(preCenters, kmEpoch2, "vec_id",
        "embedding"), Seq("vec_id"))
      .withColumnRenamed("cell", "cell")
    labeled1.select(col("vec_id"), col("embedding"), col("cell"),
        Similarity.norm(col("embedding")).as("__cn"),
        col("cell").cast("string").as("__cellkey"))
      .write.mode("overwrite").partitionBy("__cellkey")
      .parquet(s"$w1/lists/__batch=1")
    val re1 = StreamOps.centersReusable(spark, w1, 1L)
    StreamOps.ivfIngestEpoch(kmEpoch2, 1L, w1, "vec_id",
      "embedding", "cell", dims = 4)
    assert(re1, "marker still covers exactly the pre-epoch set — reuse ok")
    assert(listRows(w1) == listRows(ref), "window-1 replay diverged")

    // window 2: epoch 1 crashed AFTER marker write, BEFORE the stream
    // committed — replaying the now-covered epoch must fall back and
    // still re-derive identical rows (this is the existing replay test's
    // shape, asserted against the reference arm)
    val w2 = Files.createTempDirectory("graft-kmcw-2").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, w2, "vec_id", "embedding",
      "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, w2, "vec_id",
      "embedding", "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch2, 1L, w2, "vec_id",
      "embedding", "cell", dims = 4)
    val re2 = StreamOps.centersReusable(spark, w2, 1L)
    StreamOps.ivfIngestEpoch(kmEpoch2, 1L, w2, "vec_id",
      "embedding", "cell", dims = 4)
    assert(!re2, "marker covers the replayed epoch itself — recompute")
    assert(listRows(w2) == listRows(ref), "window-2 replay diverged")

    // window 3: mid-refresh crash corrupted the LIVE centers table while
    // the marker still names epoch 0's intact copy — the reuse must read
    // the copy, never the live table
    val w3 = Files.createTempDirectory("graft-kmcw-3").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, w3, "vec_id", "embedding",
      "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, w3, "vec_id",
      "embedding", "cell", dims = 4)
    // simulate the torn overwrite: live centers emptied
    val cdir = new java.io.File(s"$w3/centers")
    cdir.listFiles().foreach(_.delete())
    val re3 = StreamOps.centersReusable(spark, w3, 1L)
    StreamOps.ivfIngestEpoch(kmEpoch2, 1L, w3, "vec_id",
      "embedding", "cell", dims = 4)
    assert(re3, "reuse reads the stamped copy, not the live table")
    assert(listRows(w3) == listRows(ref), "window-3 replay diverged")
  }

  test("assigned-epoch centers copies are pruned to the marker's one") {
    // only the marker-named copy is ever read, so a long-running stream
    // must not accumulate one dead K-row directory per micro-batch
    val p = Files.createTempDirectory("graft-kmpr").toString + "/idx"
    StreamOps.ivfIngestBootstrap(kmSeedLabeled, p, "vec_id", "embedding",
      "cell", dims = 4)
    StreamOps.ivfIngestEpoch(kmEpoch1, 0L, p, "vec_id",
      "embedding", "cell", dims = 4)
    val r1 = StreamOps.centersReusable(spark, p, 1L)
    StreamOps.ivfIngestEpoch(kmEpoch2, 1L, p, "vec_id",
      "embedding", "cell", dims = 4)
    assert(r1, "pruning must not break the clean-epoch reuse chain")
    val copies = new java.io.File(s"$p/centers_epoch").listFiles()
      .map(_.getName).filter(_.startsWith("__batch=")).toSet
    assert(copies == Set("__batch=1"),
      s"stale per-epoch centers copies not pruned: $copies")
  }

  // ---- online text-dedup index maintenance (the IVF twin, round 8) ----

  private def dedupSeed = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "completely different text about spark query planning rules"))
      .toDF("doc_id", "text")
  }
  private def dedupEpoch1 = {
    import spark.implicits._
    Seq((3L, "another unrelated document mentioning parquet column pruning"))
      .toDF("doc_id", "text")
  }
  private def dedupEpoch2 = {
    import spark.implicits._
    Seq((4L, "the quick brown fox jumps over the lazy dog again tonight"))
      .toDF("doc_id", "text")
  }
  private def dedupProbeBatch = {
    import spark.implicits._
    Seq(
      // near-dup of epoch-2's doc 4 — catchable only via the stream
      (10L, "a quick brown fox jumps over the lazy dog again tonight"),
      (11L, "entirely fresh content that matches nothing in the corpus"))
      .toDF("doc_id", "text")
  }
  private def dedupProbeRows(path: String) = {
    import graft.functions.Dedup
    Dedup.dedupAgainstIndexed(spark, path, dedupProbeBatch,
      "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(3)))
      .toSet
  }
  private def dedupRebuiltRows() = {
    import graft.functions.Dedup
    val path = Files.createTempDirectory("graft-ddreb").toString
    Dedup.buildDedupIndex(
      dedupSeed.unionByName(dedupEpoch1).unionByName(dedupEpoch2),
      "doc_id", "text", path)
    dedupProbeRows(path)
  }

  test("dedupIngestTo: bootstrap + streamed epochs probe ≡ batch rebuild") {
    val in = Files.createTempDirectory("graft-ddin").toString
    val idx = Files.createTempDirectory("graft-ddidx").toString + "/idx"
    StreamOps.dedupIngestBootstrap(dedupSeed, idx, "doc_id", "text")
    dedupEpoch1.coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // distinct mtimes: FileStreamSource orders by modTime
    dedupEpoch2.coalesce(1).write.mode("append").parquet(in)
    val q = StreamOps.dedupIngestTo(
      spark.readStream.schema(dedupSeed.schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      idx, Files.createTempDirectory("graft-ddck").toString,
      "doc_id", "text")
    q.awaitTermination()
    val got = dedupProbeRows(idx)
    assert(got.nonEmpty && got == dedupRebuiltRows())
    assert(got.exists { case (id, dup, adm) =>
      id == 10L && dup.contains(4L) && !adm },
      "probe must match the STREAMED doc 4")
    assert(got.contains((11L, None, true)))
  }

  test("dedupIngestEpoch replay: same epoch twice ≡ once (crash-replay)") {
    val idx = Files.createTempDirectory("graft-ddrp").toString + "/idx"
    StreamOps.dedupIngestBootstrap(dedupSeed, idx, "doc_id", "text")
    StreamOps.dedupIngestEpoch(dedupEpoch1.unionByName(dedupEpoch2), 0L,
      idx, "doc_id", "text")
    val once = dedupProbeRows(idx)
    StreamOps.dedupIngestEpoch(dedupEpoch1.unionByName(dedupEpoch2), 0L,
      idx, "doc_id", "text")
    assert(dedupProbeRows(idx) == once)
    // a replayed epoch must overwrite: one sets row and one keys-per-band
    // set for doc 3, not two
    assert(spark.read.parquet(s"$idx/sets")
      .filter(col("doc_id") === 3L).count() == 1,
      "replayed epoch must overwrite, not append")
    assert(once == dedupRebuiltRows())
  }

  test("dedup ingest: streamed epochs ≡ batch rebuild through replay and compaction") {
    val in = Files.createTempDirectory("graft-ddbp-in").toString
    val idx = Files.createTempDirectory("graft-ddbp-idx").toString + "/idx"
    StreamOps.dedupIngestBootstrap(dedupSeed, idx, "doc_id", "text")
    dedupEpoch1.coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100)
    dedupEpoch2.coalesce(1).write.mode("append").parquet(in)
    val q = StreamOps.dedupIngestTo(
      spark.readStream.schema(dedupSeed.schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      idx, Files.createTempDirectory("graft-ddbp-ck").toString,
      "doc_id", "text")
    q.awaitTermination()
    // probes match a batch-built index of the same corpus exactly
    val got = dedupProbeRows(idx)
    assert(got.nonEmpty && got == dedupRebuiltRows(),
      "streamed index must probe like the batch-built one")
    assert(got.exists { case (id, dup, adm) =>
      id == 10L && dup.contains(4L) && !adm })
    // replay idempotence after the stream: same epoch twice ≡ once
    StreamOps.dedupIngestEpoch(dedupEpoch2, 1L, idx, "doc_id", "text")
    assert(dedupProbeRows(idx) == got)
    // compaction consolidates every epoch and keeps the probe results
    val counts = StreamOps.compactDedupIngestState(spark, idx)
    assert(counts("sets") == 4L, s"counts: $counts")
    assert(new java.io.File(s"$idx/sets").listFiles()
      .filter(_.getName.startsWith("__batch=")).map(_.getName).toSeq ==
      Seq("__batch=-1"), "compaction must leave only the consolidated epoch")
    assert(dedupProbeRows(idx) == got, "compaction changed probe results")
  }

  test("dedupIngestBootstrap with string ids fails before any write") {
    import spark.implicits._
    // the probe casts corpus ids to long and skips null ids, so a
    // string-id index would admit every near-dup silently
    val idx = Files.createTempDirectory("graft-pig-a").toString + "/idx"
    val e = intercept[IllegalArgumentException] {
      StreamOps.dedupIngestBootstrap(
        Seq(("a", "some text here")).toDF("doc_id", "text"), idx,
        "doc_id", "text")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    assert(!new java.io.File(s"$idx/sets").exists() &&
      !new java.io.File(s"$idx/keys").exists(),
      "a refused epoch must leave no table behind")
  }

  test("a tree of the removed partitioned layout is refused by every index entry point") {
    import graft.functions.Dedup
    // built by hand: a flat index plus a layout marker, and a flat
    // index plus one append-delta parquet file
    def flatIndex(tag: String) = {
      val p = Files.createTempDirectory(s"graft-rfz-$tag").toString + "/idx"
      Dedup.buildDedupIndex(dedupSeed, "doc_id", "text", p)
      p
    }
    val marked = flatIndex("m")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$marked/_graft_dedup_layout"),
      "banded|16,1".getBytes("UTF-8"))
    val delta = flatIndex("d")
    dedupEpoch1.coalesce(1).write.parquet(s"$delta/sets_delta")
    val in = Files.createTempDirectory("graft-rfz-in").toString
    dedupProbeBatch.coalesce(1).write.mode("append").parquet(in)
    def tree(p: String): Map[String, Long] = {
      val root = new java.io.File(p).toPath
      Files.walk(root).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .map(f => root.relativize(f).toString ->
          (if (Files.isRegularFile(f)) Files.size(f) else -1L)).toMap
    }
    Seq(marked, delta).foreach { p =>
      val before = tree(p)
      val entryPoints: Seq[(String, () => Any)] = Seq(
        "buildDedupIndex" -> (() =>
          Dedup.buildDedupIndex(dedupSeed, "doc_id", "text", p)),
        "appendToDedupIndex" -> (() =>
          Dedup.appendToDedupIndex(dedupEpoch2, "doc_id", "text", p)),
        "compactDedupIndex" -> (() => Dedup.compactDedupIndex(spark, p)),
        "dedupAgainstIndexed" -> (() => Dedup.dedupAgainstIndexed(spark, p,
          dedupProbeBatch, "doc_id", "text", 0.5)),
        "dedupIngestEpoch" -> (() =>
          StreamOps.dedupIngestEpoch(dedupEpoch2, 0L, p, "doc_id", "text")),
        "compactDedupIngestState" -> (() =>
          StreamOps.compactDedupIngestState(spark, p)),
        "crossDedupTo" -> (() => StreamOps.crossDedupTo(
          spark.readStream.schema(dedupProbeBatch.schema).parquet(in), p,
          Files.createTempDirectory("graft-rfz-out").toString + "/out",
          Files.createTempDirectory("graft-rfz-ck").toString,
          "doc_id", "text", 0.5)))
      entryPoints.foreach { case (name, call) =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(
          s"delete $p and rebuild with buildDedupIndex / dedupIngestBootstrap"),
          s"$name: ${e.getMessage}")
      }
      assert(tree(p) == before, s"a refused call changed the tree at $p")
    }
  }

  test("crossDedupTo: frozen-index verdicts match the batch probe; index untouched") {
    import graft.functions.Dedup
    val idx = Files.createTempDirectory("graft-xd-idx").toString
    Dedup.buildDedupIndex(dedupSeed.unionByName(dedupEpoch2), "doc_id",
      "text", idx)
    val setsBefore = spark.read.parquet(s"$idx/sets").count()
    val in = Files.createTempDirectory("graft-xd-in").toString
    // doc 10 delivered TWICE in the batch (at-least-once upstream): the
    // stream must collapse it to ONE verdict row, not 2×2 join copies
    dedupProbeBatch.unionByName(dedupProbeBatch.filter(col("doc_id") === 10L))
      .coalesce(1).write.mode("append").parquet(in)
    val out = Files.createTempDirectory("graft-xd-out").toString + "/out"
    val q = StreamOps.crossDedupTo(
      spark.readStream.schema(dedupProbeBatch.schema).parquet(in),
      idx, out, Files.createTempDirectory("graft-xd-ck").toString,
      "doc_id", "text", 0.5)
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select("doc_id", "dup_of", "admitted").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSet
    val want = Dedup.dedupAgainstIndexed(spark, idx, dedupProbeBatch,
      "doc_id", "text", 0.5)
      .select("doc_id", "dup_of", "admitted").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSet
    assert(got == want, "streamed verdicts must equal the batch probe")
    assert(got.exists { case (id, dup, adm) =>
      id == 10L && dup.contains(4L) && !adm })
    assert(got.contains((11L, None, true)))
    assert(spark.read.parquet(out).filter(col("doc_id") === 10L).count()
      == 1L, "duplicate in-batch ids must collapse to one verdict row")
    // the frozen index is not mutated by the stream
    assert(spark.read.parquet(s"$idx/sets").count() == setsBefore)
    // streamed rows carry the doc columns alongside the verdict
    assert(spark.read.parquet(out).columns.toSet
      .contains("text"))
  }

  test("e2e prep pipeline with the embedding gate: crash replay still idempotent") {
    import spark.implicits._
    import graft.functions.Similarity
    val base = "the quick brown fox jumps over the lazy dog and then the " +
      "cat naps while a bird sings songs about the warm summer day outside"
    val blockText = "forbidden document that must never be admitted at all"
    // FRESH text (passes the text dedup) whose vector sits on a trained
    // corpus direction: only the embedding gate can drop it
    val paraphrase = "swift russet reynard vaults across the sleepy hound " +
      "while felines doze and songbirds serenade the gentle afternoon sun"
    val fresh = "a completely different story where small rivers meet the " +
      "old stone bridge and the miller waits for the morning light to come"
    // corpus index: ids disjoint from the stream's (probe excludes same-id)
    val idx = Files.createTempDirectory("graft-eg-idx").toString + "/idx"
    Similarity.buildIvfIndex(
      Seq((100L, 0, Array(1.0f, 0.05f, 0.0f, 0.0f)),
        (101L, 1, Array(0.0f, 0.1f, 1.0f, 0.0f)))
        .toDF("doc_id", "cell", "embedding"),
      "doc_id", "embedding", "cell", idx, dims = 4)
    val in = Files.createTempDirectory("graft-eg-in").toString
    // batch 0: 1 admitted (off-corpus vector); 3 blocklisted
    Seq((1L, base, Array(0.3f, 1.0f, 0.1f, 0.0f)),
      (3L, blockText, Array(0.2f, 0.9f, 0.2f, 0.0f)))
      .toDF("doc_id", "text", "embedding")
      .coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100)
    // batch 1 (the replayed epoch): 4 text-near-dup of 1 (state drop);
    // 8 SEMANTIC dup (fresh text, corpus-direction vector — only the
    // embed gate drops it); 6 fresh off-corpus (admitted)
    Seq((4L, base.replace("dog", "pug"), Array(0.3f, 1.0f, 0.11f, 0.0f)),
      (8L, paraphrase, Array(1.0f, 0.06f, 0.0f, 0.0f)),
      (6L, fresh, Array(0.0f, 0.95f, 0.3f, 0.1f)))
      .toDF("doc_id", "text", "embedding")
      .coalesce(1).write.mode("append").parquet(in)
    val block = Seq(blockText).toDF("text")
    val schema = spark.read.parquet(in).schema

    def run(out: String, state: String, ck: String): Unit = {
      val q = StreamOps.prepPipelineTo(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in),
        block, out, state, ck, "doc_id", "text",
        minJaccard = 0.6, minQuality = 0.2,
        embedIndex = Some(idx), embedMinCos = 0.95)
      q.awaitTermination()
    }
    def docs(out: String) = spark.read.parquet(s"$out/docs")
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val outA = Files.createTempDirectory("graft-eg-a").toString + "/out"
    val stA = Files.createTempDirectory("graft-eg-sa").toString + "/st"
    run(outA, stA, Files.createTempDirectory("graft-eg-cka").toString)

    val outB = Files.createTempDirectory("graft-eg-b").toString + "/out"
    val stB = Files.createTempDirectory("graft-eg-sb").toString + "/st"
    val ckB = Files.createTempDirectory("graft-eg-ckb").toString
    run(outB, stB, ckB)
    assert(new java.io.File(s"$ckB/commits/1").delete(),
      "expected epoch 1's commit marker to exist")
    new java.io.File(s"$ckB/commits/.1.crc").delete()
    run(outB, stB, ckB)

    assert(docs(outA) == docs(outB), "docs diverged after crash replay")
    assert(docs(outA).map(_._1) == Set(1L, 6L), s"final docs: ${docs(outA)}")
    // admitted rows carry corpus_cos; composition order is text-dedup
    // THEN embed gate: the semantic dup entered the text-dedup state
    // even though the gate dropped it from the output
    val cols = spark.read.parquet(s"$outB/docs").columns.toSet
    assert(cols.contains("corpus_cos"), s"$cols")
    val stateIds = spark.read.parquet(s"$stB/sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stateIds == Set(1L, 6L, 8L), s"state: $stateIds")
  }

  // ---- streaming ANN probe / embedding cross-dedup (round 9) ----

  private def annProbeBatch = {
    import spark.implicits._
    Seq(
      // near-dup of corpus vec 0/1's direction
      (100L, Array(1.0f, 0.12f, 0.0f, 0.0f)),
      // off-axis: best corpus cosine well under a tight threshold
      (101L, Array(0.5f, 0.5f, 0.7f, 0.0f)),
      // zero-norm: no neighbor row at all
      (102L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }

  test("annProbeTo: streamed top-k ≡ the batch indexed probe; index untouched") {
    import graft.functions.Similarity
    val idx = Files.createTempDirectory("graft-ap-idx").toString + "/idx"
    Similarity.buildIvfIndex(kmSeedLabeled, "vec_id", "embedding", "cell",
      idx, dims = 4)
    val listsBefore = spark.read.parquet(s"$idx/lists").count()
    val in = Files.createTempDirectory("graft-ap-in").toString
    // probe 100 delivered twice (at-least-once upstream): must collapse
    annProbeBatch.unionByName(annProbeBatch.filter(col("vec_id") === 100L))
      .coalesce(1).write.mode("append").parquet(in)
    val out = Files.createTempDirectory("graft-ap-out").toString + "/out"
    val q = StreamOps.annProbeTo(
      spark.readStream.schema(annProbeBatch.schema).parquet(in),
      idx, out, Files.createTempDirectory("graft-ap-ck").toString,
      "vec_id", "embedding", k = 2)
    q.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "rank", "neighbor_id", "cos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val got = rows(spark.read.parquet(out))
    val want = rows(Similarity.ivfKnnJoinIndexed(spark, idx,
      annProbeBatch.select(col("vec_id").as("probe_id"),
        col("embedding").as("__pv")),
      "vec_id", "embedding", "cell", k = 2, nProbe = 2))
    assert(got == want && got.nonEmpty,
      "streamed neighbors must equal the batch probe")
    assert(spark.read.parquet(out).filter(col("probe_id") === 100L)
      .select("rank").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2),
      "duplicate in-batch probe ids must collapse to one top-k set")
    assert(!got.exists(_._1 == 102L), "zero-norm probe has no neighbors")
    assert(spark.read.parquet(s"$idx/lists").count() == listsBefore,
      "the frozen index must not be mutated")
  }

  test("embedDedupTo: near-dup rejected with its corpus source, rest admitted") {
    import graft.functions.Similarity
    val idx = Files.createTempDirectory("graft-ed-idx").toString + "/idx"
    Similarity.buildIvfIndex(kmSeedLabeled, "vec_id", "embedding", "cell",
      idx, dims = 4)
    val in = Files.createTempDirectory("graft-ed-in").toString
    annProbeBatch.coalesce(1).write.mode("append").parquet(in)
    val out = Files.createTempDirectory("graft-ed-out").toString + "/out"
    val q = StreamOps.embedDedupTo(
      spark.readStream.schema(annProbeBatch.schema).parquet(in),
      idx, out, Files.createTempDirectory("graft-ed-ck").toString,
      "vec_id", "embedding", minCos = 0.95)
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select("vec_id", "dup_of", "admitted").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSet
    // 100 ≈ corpus direction (cos > 0.99 vs vec 0/1) → rejected;
    // 101's best corpus cosine < 0.95 → admitted; zero-norm → admitted
    assert(got.exists { case (id, dup, adm) =>
      id == 100L && dup.isDefined && !adm }, s"$got")
    assert(got.contains((101L, None, true)), s"$got")
    assert(got.contains((102L, None, true)), s"$got")
    // every input vector got exactly one verdict row, columns carried
    assert(spark.read.parquet(out).count() == 3)
    assert(spark.read.parquet(out).columns.toSet.contains("embedding"))
  }

  test("phashDedupTo: perceptual dup rejected with its source, rest admitted") {
    import graft.functions.{Multimodal, PngCodec}
    import spark.implicits._
    val corpus = Multimodal.phashFixtureMedia(spark,
      (0L until 90L).toDF("doc_id"), groups = 25)
    val idx = Files.createTempDirectory("graft-ph-idx").toString + "/idx"
    Multimodal.buildPhashIndex(spark, Multimodal.PhashKind.Image, corpus,
      idx)
    def idxFiles = {
      def walk(f: java.io.File): Int =
        if (f.isFile) 1
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      walk(new java.io.File(idx))
    }
    val before = idxFiles

    // batch: a perceptual dup of a corpus group (10001), a corrupt
    // payload (10010 — (10000+10) % 11 = 0 → inflate-garbage, must be
    // admitted, not crash), and a FAR image (checkerboard — verified
    // below to be > 3 hamming from every corpus hash → admitted)
    val far = {
      val px = Array.tabulate[Byte](36 * 32)(i =>
        (if ((i / 36 + i % 36) % 2 == 0) 250 else 3).toByte)
      PngCodec.encode(px, 36, 32, 0, _ => 0, 6)
    }
    val corpusHashes = Multimodal.phashSignatures(spark, corpus)
      .collect().map(_.getLong(1))
    val farHash = PngCodec.dHashOf(far).get
    assert(corpusHashes.forall(h =>
      java.lang.Long.bitCount(h ^ farHash) > 3),
      "fixture precondition: the far image must be far")
    val batch = Multimodal.phashFixtureMedia(spark,
      Seq(10001L, 10010L).toDF("doc_id"), groups = 25)
      .unionByName(Seq((10002L, "image/png", far, far.length.toLong))
        .toDF("doc_id", "kind", "content", "byte_len"))
    val in = Files.createTempDirectory("graft-ph-in").toString
    batch.coalesce(1).write.mode("append").parquet(in)
    val out = Files.createTempDirectory("graft-ph-out").toString + "/out"
    val q = StreamOps.phashDedupTo(
      spark.readStream.schema(batch.schema).parquet(in),
      idx, out, Files.createTempDirectory("graft-ph-ck").toString)
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select("doc_id", "dup_of", "admitted").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSet
    assert(got.size == 3, s"$got")
    // the dup's verdict equals the batch probe's nearest (min hamming,
    // ties to the smallest corpus id)
    val want = Multimodal.phashDedupAgainst(spark,
      Multimodal.PhashKind.Image, idx, batch.filter(col("doc_id") === 10001L))
      .orderBy(col("hamming"), col("corpus_id")).limit(1)
      .collect().map(r => r.getLong(1)).headOption
    assert(want.isDefined)
    assert(got.exists { case (id, dup, adm) =>
      id == 10001L && dup == want.map(_.asInstanceOf[Any]) && !adm },
      s"$got vs $want")
    assert(got.contains((10010L, None, true)), s"corrupt admitted: $got")
    assert(got.contains((10002L, None, true)), s"far admitted: $got")
    assert(idxFiles == before, "the frozen index must not be mutated")
  }

  test("compactDedupIngestState consolidates epochs, probe unchanged") {
    val idx = Files.createTempDirectory("graft-ddcp").toString + "/idx"
    StreamOps.dedupIngestBootstrap(dedupSeed, idx, "doc_id", "text")
    StreamOps.dedupIngestEpoch(dedupEpoch1, 0L, idx, "doc_id", "text")
    StreamOps.dedupIngestEpoch(dedupEpoch2, 1L, idx, "doc_id", "text")
    val before = dedupProbeRows(idx)
    val counts = StreamOps.compactDedupIngestState(spark, idx)
    assert(counts("sets") == 4 && counts("keys") > 0)
    for (t <- Seq("sets", "keys")) {
      val dirs = new java.io.File(s"$idx/$t").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dirs == Set("__batch=-1"), s"$t epoch dirs survive: $dirs")
    }
    assert(dedupProbeRows(idx) == before)
  }
}
