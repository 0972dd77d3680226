package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, ParquetCompact, TextFns}
import graft.sources.Tables
import graft.streaming.StreamOps

/** Round-11: crash-resumable index migration (the ADVICE findings), the
  * layout-cache re-anchor, and the atomic marker overwrite. */
class Round11OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select(col("doc_id"), col("text")).localCheckpoint()

  private def probeBatch: DataFrame = {
    val w = TextFns.words(col("text"))
    docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"),
        concat(lit("zzz "),
          array_join(slice(w, lit(2), size(w) - 1), " ")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          array_join(transform(w, x => concat(lit("n"), x)), " ")
            .as("text")))
  }

  private def verdictRows(df: DataFrame) =
    df.select("doc_id", "dup_of", "jac", "admitted").collect()
      .map(r => (r.getLong(0), Option(r.get(1)),
        Option(r.get(2)), r.getBoolean(3))).toSet

  private def rename(from: String, to: String): Unit =
    assert(new java.io.File(from).renameTo(new java.io.File(to)),
      s"test rename failed: $from -> $to")

  // --- migrateToPartitionedIndex crash windows (ADVICE medium) ----------

  /** Build a flat index + the reference verdicts a healthy migration
    * must reproduce. */
  private def flatIndexAndBaseline(): (String, DataFrame, Set[_]) = {
    val p = Files.createTempDirectory("graft-mig").toString
    Dedup.buildDedupIndex(docs, "doc_id", "text", p)
    val batch = probeBatch.localCheckpoint()
    val baseline = verdictRows(
      Dedup.dedupAgainstIndexed(spark, p, batch, "doc_id", "text", 0.8))
    (p, batch, baseline)
  }

  test("migration re-runs after a crash mid-sets-swap (live dir renamed away)") {
    val (p, batch, baseline) = flatIndexAndBaseline()
    // crash window: ParquetCompact renamed sets -> sets.__compact_old and
    // died before renaming the stage in; the live sets dir is GONE. The
    // re-run's precondition read must not throw path-not-found — recovery
    // has to run first and roll the rename back.
    rename(s"$p/sets", s"$p/sets.__compact_old")
    val n = Dedup.migrateToPartitionedIndex(spark, p, setBuckets = 16)
    assert(n("sets") == docs.count() && n("keys") > 0)
    assert(verdictRows(Dedup.dedupAgainstIndexed(spark, p, batch,
      "doc_id", "text", 0.8)) == baseline)
  }

  test("migration resumes from the keys rewrite after a crash between tables") {
    val (p, batch, baseline) = flatIndexAndBaseline()
    // crash window: the sets rewrite committed, the keys rewrite never
    // started, no marker. The old code's flat-shape check (2 columns)
    // failed here with a misleading "not a flat dedup index" error.
    ParquetCompact.rewritePartitioned(spark, s"$p/sets", "ib")(df =>
      df.withColumn("ib", Dedup.idBucket(col("doc_id"), 16))
        .repartition(16, col("ib")))
    val n = Dedup.migrateToPartitionedIndex(spark, p, setBuckets = 16)
    assert(n("sets") == docs.count() && n("keys") > 0)
    // keys really were rewritten banded and the probe is bit-identical
    assert(new java.io.File(s"$p/keys").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("bp=x")))
    assert(verdictRows(Dedup.dedupAgainstIndexed(spark, p, batch,
      "doc_id", "text", 0.8)) == baseline)
  }

  test("migration with both tables banded but no marker stamps the marker") {
    val (p, batch, baseline) = flatIndexAndBaseline()
    Dedup.migrateToPartitionedIndex(spark, p, setBuckets = 16)
    // crash window: everything rewritten, marker write never ran
    new java.io.File(s"$p/_graft_dedup_layout").delete()
    val n = Dedup.migrateToPartitionedIndex(spark, p, setBuckets = 16)
    assert(n("sets") == docs.count() && n("keys") > 0)
    assert(Dedup.readDedupLayout(spark, p).map(_.setBuckets).contains(16))
    assert(verdictRows(Dedup.dedupAgainstIndexed(spark, p, batch,
      "doc_id", "text", 0.8)) == baseline)
  }

  test("resume with a different setBuckets fails loudly, not silently") {
    val (p, _, _) = flatIndexAndBaseline()
    ParquetCompact.rewritePartitioned(spark, s"$p/sets", "ib")(df =>
      df.withColumn("ib", Dedup.idBucket(col("doc_id"), 16))
        .repartition(16, col("ib")))
    val e = intercept[IllegalArgumentException] {
      Dedup.migrateToPartitionedIndex(spark, p, setBuckets = 8)
    }
    assert(e.getMessage.contains("different"), e.getMessage)
  }

  // --- banded append deltas (round-11 fixed-cost cut) -------------------

  private def filesUnder(path: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    walk(new java.io.File(path)).map(_.toString)
  }

  test("banded append lands flat in the delta; probe unions; compact folds") {
    val grown = Files.createTempDirectory("graft-dlt-g").toString
    val rebuilt = Files.createTempDirectory("graft-dlt-r").toString
    Dedup.buildDedupIndexPartitioned(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", grown, setBuckets = 16)
    val before = filesUnder(grown).size
    val baseBefore = filesUnder(s"$grown/sets").size +
      filesUnder(s"$grown/keys").size
    Dedup.appendToDedupIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", grown)
    // the append wrote ONLY the two flat delta tables — a bounded
    // handful of files, not a file per banded partition dir
    val added = filesUnder(grown).filterNot(f =>
      f.contains("/sets/") || f.contains("/keys/"))
    assert(new java.io.File(s"$grown/sets_delta").isDirectory &&
      new java.io.File(s"$grown/keys_delta").isDirectory,
      "append must land in the delta tables")
    assert(filesUnder(grown).size - before <= 20,
      s"append created too many files: ${filesUnder(grown).size - before}")
    assert(filesUnder(s"$grown/sets").size +
      filesUnder(s"$grown/keys").size == baseBefore,
      "append must not touch the banded base")
    // probe over base ∪ delta ≡ a full rebuild
    Dedup.buildDedupIndexPartitioned(docs, "doc_id", "text", rebuilt,
      setBuckets = 16)
    val batch = probeBatch.localCheckpoint()
    def probe(p: String) = verdictRows(
      Dedup.dedupAgainstIndexed(spark, p, batch, "doc_id", "text", 0.8))
    val viaDelta = probe(grown)
    assert(viaDelta == probe(rebuilt) && viaDelta.nonEmpty,
      "delta-append probe must equal rebuild probe")
    // compaction folds the delta into the banded base and removes it
    val counts = Dedup.compactDedupIndex(spark, grown)
    assert(counts("sets") == docs.count(), s"counts: $counts")
    assert(!new java.io.File(s"$grown/sets_delta").exists() &&
      !new java.io.File(s"$grown/keys_delta").exists(),
      "compaction must retire the deltas")
    assert(probe(grown) == viaDelta, "compaction changed the verdicts")
    assert(added.forall(f => !new java.io.File(f).exists() ||
      !f.endsWith(".parquet")), "delta parquet files must be folded away")
  }

  test("a crash between delta fold and delta delete converges, not doubles") {
    val p = Files.createTempDirectory("graft-dlt-c").toString
    Dedup.buildDedupIndexPartitioned(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", p, setBuckets = 8)
    Dedup.appendToDedupIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", p)
    // snapshot the delta, compact, then restore the delta — the exact
    // state a crash after the staged swap but before the delta delete
    // leaves behind
    val save = Files.createTempDirectory("graft-dlt-s").toString
    for (t <- Seq("sets_delta", "keys_delta")) {
      val src = java.nio.file.Paths.get(p, t)
      val dst = java.nio.file.Paths.get(save, t)
      java.nio.file.Files.walk(src).forEach { q =>
        val r = dst.resolve(src.relativize(q))
        if (java.nio.file.Files.isDirectory(q))
          java.nio.file.Files.createDirectories(r)
        else java.nio.file.Files.copy(q, r)
      }
    }
    Dedup.compactDedupIndex(spark, p)
    for (t <- Seq("sets_delta", "keys_delta")) {
      val src = java.nio.file.Paths.get(save, t)
      val dst = java.nio.file.Paths.get(p, t)
      java.nio.file.Files.walk(src).forEach { q =>
        val r = dst.resolve(src.relativize(q))
        if (java.nio.file.Files.isDirectory(q))
          java.nio.file.Files.createDirectories(r)
        else java.nio.file.Files.copy(q, r)
      }
    }
    // rows are momentarily doubled (harmless to verdicts); the next
    // compaction's exact-duplicate drop converges the tables
    val counts = Dedup.compactDedupIndex(spark, p)
    assert(counts("sets") == docs.count(),
      s"re-compaction did not converge: $counts")
    val batch = probeBatch.localCheckpoint()
    val reb = Files.createTempDirectory("graft-dlt-rb").toString
    Dedup.buildDedupIndexPartitioned(docs, "doc_id", "text", reb,
      setBuckets = 8)
    assert(verdictRows(Dedup.dedupAgainstIndexed(spark, p, batch,
      "doc_id", "text", 0.8)) ==
      verdictRows(Dedup.dedupAgainstIndexed(spark, reb, batch,
        "doc_id", "text", 0.8)))
  }

  test("index compaction re-runs after a crash mid-sets-swap") {
    val p = Files.createTempDirectory("graft-cmp-c").toString
    Dedup.buildDedupIndexPartitioned(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", p, setBuckets = 8)
    Dedup.appendToDedupIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", p)
    // crash window: a prior compaction renamed sets -> sets.__compact_old
    // and died; the re-run's idCol precondition read must not throw
    // path-not-found — recovery has to run before it
    rename(s"$p/sets", s"$p/sets.__compact_old")
    val counts = Dedup.compactDedupIndex(spark, p)
    assert(counts("sets") == docs.count(), s"counts: $counts")
    val batch = probeBatch.localCheckpoint()
    val reb = Files.createTempDirectory("graft-cmp-r").toString
    Dedup.buildDedupIndexPartitioned(docs, "doc_id", "text", reb,
      setBuckets = 8)
    assert(verdictRows(Dedup.dedupAgainstIndexed(spark, p, batch,
      "doc_id", "text", 0.8)) ==
      verdictRows(Dedup.dedupAgainstIndexed(spark, reb, batch,
        "doc_id", "text", 0.8)),
      "post-recovery compaction changed the verdicts")
  }

  test("a crashed FIRST append (only _temporary) neither wedges probe nor compact") {
    val p = Files.createTempDirectory("graft-dlt-t").toString
    Dedup.buildDedupIndexPartitioned(docs, "doc_id", "text", p,
      setBuckets = 8)
    // the crash shape: delta dirs exist but hold only the writer's
    // _temporary staging — zero data files, so schema inference over
    // them would throw and every later probe would fail until a
    // successful re-append
    for (t <- Seq("sets_delta", "keys_delta"))
      assert(new java.io.File(s"$p/$t/_temporary/0").mkdirs())
    val batch = probeBatch.localCheckpoint()
    val got = verdictRows(
      Dedup.dedupAgainstIndexed(spark, p, batch, "doc_id", "text", 0.8))
    val clean = Files.createTempDirectory("graft-dlt-t2").toString
    Dedup.buildDedupIndexPartitioned(docs, "doc_id", "text", clean,
      setBuckets = 8)
    assert(got == verdictRows(Dedup.dedupAgainstIndexed(spark, clean,
      batch, "doc_id", "text", 0.8)),
      "empty-delta probe must equal the no-delta probe")
    val counts = Dedup.compactDedupIndex(spark, p)
    assert(counts("sets") == docs.count(), s"counts: $counts")
  }

  test("compaction keeps BOTH generations of a re-appended id") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft-gen").toString
    val textA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra"
    val textB = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen"
    Dedup.buildDedupIndexPartitioned(
      Seq((1L, textA)).toDF("doc_id", "text"), "doc_id", "text", p,
      setBuckets = 8)
    // contract violation (append doc says ids must be new), but the
    // compaction must not make it WORSE: an exact-duplicate drop keeps
    // both generations' ssets beside both generations' band keys; a
    // by-id drop could keep one generation's sset beside the OTHER
    // generation's keys and verify candidates against the wrong shingles
    Dedup.appendToDedupIndex(Seq((1L, textB)).toDF("doc_id", "text"),
      "doc_id", "text", p)
    Dedup.compactDedupIndex(spark, p)
    val probes = Seq((10L, textA + " extra"), (11L, textB + " extra"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstIndexed(spark, p, probes, "doc_id", "text",
      0.8).select("doc_id", "admitted").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == Map(10L -> false, 11L -> false),
      s"a generation's near-dup was admitted after compaction: $got")
  }

  // --- marker-less state refusal ------------------------------------------

  test("deleting a legacy state and recreating it in one JVM goes banded") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-rlc-in").toString
    Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    val st = Files.createTempDirectory("graft-rlc-st").toString + "/st"
    // a pre-existing marker-less keys dir makes this a LEGACY state: the
    // run fails loudly before writing anything
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(st, "keys"))
    val q = StreamOps.nearDupDedupTo(
      spark.readStream.schema(schema).parquet(in),
      Files.createTempDirectory("graft-rlc-o1").toString + "/out", st,
      Files.createTempDirectory("graft-rlc-c1").toString,
      "doc_id", "text", 0.6)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("nearDupStateBootstrap")),
      s"expected the rebuild guidance, got: ${msgs(e)}")
    assert(!new java.io.File(s"$st/_graft_state_layout").exists() &&
      !new java.io.File(s"$st/sets").exists(),
      "legacy state must be refused before any write")
    // delete the state and recreate it at the SAME path in the SAME JVM:
    // the fresh state takes the banded layout (marker + ib dirs)
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(st))
    StreamOps.nearDupDedupTo(
      spark.readStream.schema(schema).parquet(in),
      Files.createTempDirectory("graft-rlc-o2").toString + "/out", st,
      Files.createTempDirectory("graft-rlc-c2").toString,
      "doc_id", "text", 0.6).awaitTermination()
    assert(new java.io.File(s"$st/_graft_state_layout").exists(),
      "recreated state must adopt the banded layout")
    assert(new java.io.File(s"$st/sets/batch=0").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("ib=")),
      "recreated state must write ib= dirs")
  }

  // --- atomic marker overwrite (ADVICE low) -----------------------------

  test("marker re-write overwrites atomically: no tmp residue, no gap file") {
    val dir = Files.createTempDirectory("graft-lmk").toString
    val p = new org.apache.hadoop.fs.Path(s"$dir/_m")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.functions.LayoutMarker.write(fs, p, "banded|", 16)
    assert(graft.functions.LayoutMarker.read(fs, p, "banded|", "t")
      .contains(16))
    // the re-write path (marker already present) must land the new value
    // and leave no .tmp sibling behind
    graft.functions.LayoutMarker.write(fs, p, "banded|", 64)
    assert(graft.functions.LayoutMarker.read(fs, p, "banded|", "t")
      .contains(64))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_m.tmp")),
      "tmp stage must not survive the rename")
  }

  // --- DeflateLen: the compression-ratio quality signal -----------------

  test("DeflateLen: codegen == static eval, repetition compresses, layout-stable") {
    import spark.implicits._
    import graft.functions.DeflateLen
    val repetitive = "spam ham " * 200
    val diverse = (1 to 200).map(i => s"w${i}x${i * 7 % 97}").mkString(" ")
    val rows = Seq((1L, repetitive), (2L, diverse), (3L, ""),
      (4L, "é" * 50 + "ß" * 50), (5L, null))
    def run(parts: Int) = rows.toDF("id", "t").repartition(parts)
      .select(col("id"), DeflateLen(col("t")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    val got = run(1)
    // the SparkTestSession runs CODEGEN_ONLY, so the column path IS the
    // generated code — it must agree with the static eval
    rows.filter(_._2 != null).foreach { case (id, t) =>
      assert(got(id).contains(DeflateLen.eval(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))),
        s"codegen/static divergence on id=$id")
    }
    assert(got(5L).isEmpty, "null input must stay null")
    // the signal: equal-length repetitive text compresses far below
    // diverse text (the reason the operator exists)
    val (repLen, divLen) = (got(1L).get, got(2L).get)
    assert(repLen * 5 < divLen,
      s"repetitive $repLen not << diverse $divLen")
    // layout independence (pure function of the value)
    assert(run(7) == got)
    // multi-byte UTF-8 deflates over BYTES (output may exceed the
    // char count but not the byte count + overhead)
    assert(got(4L).get > 0 && got(4L).get < 200 + 64)
    // wrong input type is an analysis-time error, not a runtime one
    val ex = intercept[Exception] {
      Seq(1L).toDF("x").select(DeflateLen(col("x"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("string"))
  }

  // --- over-cap wide probe fallback ≡ bounded fast path -----------------

  test("the wide (over-cap) banded probe returns the fast path's exact verdicts") {
    // the public probe only takes the wide branch past MaxProbeRows
    // (~65k docs) — drive it directly on a small batch instead, against
    // the bounded path's verdicts on the SAME index, with and without
    // append deltas in play
    val p = Files.createTempDirectory("graft-wide").toString
    Dedup.buildDedupIndexPartitioned(docs, "doc_id", "text", p)
    val layout = Dedup.readDedupLayout(spark, p)
      .getOrElse(fail("banded index lost its layout marker"))
    val batch = probeBatch.localCheckpoint()
    def wideVerdicts(): Set[_] = {
      val nSets = Dedup.shingleSets(batch, "doc_id", "text")
        .localCheckpoint(false)
      val deltaDir = new java.io.File(s"$p/keys_delta")
      val keysDelta =
        if (deltaDir.exists()) spark.read.parquet(deltaDir.toString)
        else Dedup.bandKeysFromSets(nSets, "doc_id").limit(0)
      verdictRows(Dedup.dedupAgainstPartitionedWide(spark, p, layout,
        batch, nSets, keysDelta, "doc_id", 0.8))
    }
    // a tiny cap routes the SAME small batch through the over-cap
    // branches inside the bounded path: cap=1 trips the key cap (wide
    // fallback) AND, with a larger cap, the candidate-explosion branch
    // (distributed sets selection) — all must agree with the default
    def cappedVerdicts(cap: Int): Set[_] = verdictRows(
      Dedup.dedupAgainstPartitioned(spark, p, layout, batch,
        "doc_id", "text", 0.8, cap = cap))
    val bounded = verdictRows(
      Dedup.dedupAgainstIndexed(spark, p, batch, "doc_id", "text", 0.8))
    assert(wideVerdicts() == bounded, "pre-append")
    Seq(1, 7, 200).foreach(c =>
      assert(cappedVerdicts(c) == bounded, s"cap=$c pre-append"))
    // with a delta in play: append near-dups of the batch, re-compare
    val appended = batch.limit(40)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    Dedup.appendToDedupIndex(appended, "doc_id", "text", p)
    val bounded2 = verdictRows(
      Dedup.dedupAgainstIndexed(spark, p, batch, "doc_id", "text", 0.8))
    assert(bounded2 != bounded,
      "the appended near-dups must change the verdicts (sanity)")
    assert(wideVerdicts() == bounded2, "post-append")
    Seq(1, 7, 200).foreach(c =>
      assert(cappedVerdicts(c) == bounded2, s"cap=$c post-append"))
    // the candidate-EXPLOSION branch (keys under the cap, candidates
    // over it) needs candidates > keys: append ten shifted copies of
    // every batch doc so each band key matches many corpus ids, then
    // cap exactly at the key count — keys pass, candidates must not
    (1 to 10).foreach(i => Dedup.appendToDedupIndex(
      batch.select((col("doc_id") + 800000L + i * 10000L).as("doc_id"),
        col("text")), "doc_id", "text", p))
    val nKeyCount = Dedup.bandKeysFromSets(
      Dedup.shingleSets(batch, "doc_id", "text"), "doc_id").count().toInt
    // PROVE the cap sits between the two collects (don't just comment
    // it): keys pass at exactly nKeyCount, and candidates exceed it
    // because every batch doc matches its >= 10 identical-text copies —
    // if band arithmetic ever drifts, this fires instead of the test
    // silently re-testing the fast path
    val batchDocs = batch.count()
    assert(10L * batchDocs > nKeyCount,
      s"corpus duplication (10 x $batchDocs docs) no longer guarantees " +
        s"candidates exceed the key cap ($nKeyCount)")
    val bounded3 = verdictRows(
      Dedup.dedupAgainstIndexed(spark, p, batch, "doc_id", "text", 0.8))
    assert(cappedVerdicts(nKeyCount) == bounded3,
      s"candidate-explosion branch at cap=$nKeyCount")
  }
}
