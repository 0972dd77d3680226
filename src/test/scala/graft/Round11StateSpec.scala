package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{KeySummaries, StreamOps}

/** Round-11: per-epoch band-key summaries bound the streaming dedup
  * state's keys scan — bit-identity with the unpruned scan, the
  * FS-bytes bound for a no-candidate epoch, crash-replay, and the
  * corpus bootstrap. */
class Round11StateSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def corpusDocs(n: Int): DataFrame =
    (1 to n).map(i =>
      (i.toLong, s"unique document number $i holding token$i plus filler " +
        s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i"))
      .toDF("doc_id", "text")

  /** A batch of near-dups of docs `dupOf` (one appended word) plus
    * `nFresh` docs of entirely fresh vocabulary. */
  private def probeBatch(dupOf: Seq[Int], nFresh: Int,
                         idBase: Long): DataFrame = {
    val dups = dupOf.map(i =>
      (idBase + i, s"unique document number $i holding token$i plus filler " +
        s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i zulu"))
    val fresh = (1 to nFresh).map { j =>
      val u = s"$idBase${j}"
      (idBase + 100000L + j, s"fresh standalone story $u about qq${u}a " +
        s"qq${u}b qq${u}c qq${u}d qq${u}e qq${u}f qq${u}g qq${u}h qq${u}i")
    }
    (dups ++ fresh).toDF("doc_id", "text")
  }

  private def epochInto(st: String, batch: DataFrame, id: Long): Set[Long] = {
    val b = batch.localCheckpoint()
    val admitted = StreamOps.dedupEpoch(b, id, st, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    b.unpersist(); admitted
  }

  private def cpR(from: String, to: String): Unit = {
    import java.nio.file.{Files => JF, Path, Paths}
    val src = Paths.get(from); val dst = Paths.get(to)
    JF.walk(src).forEach { p: Path =>
      val t = dst.resolve(src.relativize(p))
      if (JF.isDirectory(p)) JF.createDirectories(t)
      else JF.copy(p, t)
    }
  }

  private def rmrf(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go)); f.delete(); ()
    }
    go(new java.io.File(p))
  }

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

  private def stateRows(st: String, table: String): Set[String] =
    spark.read.parquet(s"$st/$table").drop("ib")
      .collect().map(_.toString).toSet

  test("summary-pruned admissions ≡ the unpruned full scan, state included") {
    // three epochs, then a mixed batch: near-dups of epoch-0 and
    // epoch-2 docs (cross-epoch candidates) plus fresh docs
    val st = Files.createTempDirectory("graft-ks-a").toString + "/st"
    epochInto(st, corpusDocs(40), 0L)
    epochInto(st, probeBatch(Seq.empty, 25, 2000L), 1L)
    epochInto(st, corpusDocs(80).filter(col("doc_id") > 40), 2L)
    // arm B: identical state with the summaries REMOVED — every epoch
    // always-read, i.e. exactly the pre-summary full scan
    val stB = Files.createTempDirectory("graft-ks-b").toString + "/st"
    cpR(st, stB)
    rmrf(s"$stB/keysum")
    KeySummaries.invalidate(stB)
    val batch = probeBatch(Seq(3, 7, 55), 5, 9000L).localCheckpoint()
    val admA = StreamOps.dedupEpoch(batch, 3L, st, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val admB = StreamOps.dedupEpoch(batch, 3L, stB, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admA == admB, "summary pruning changed admissions")
    // the cross-epoch near-dups were really dropped, the fresh admitted
    assert(admA == (1 to 5).map(9000L + 100000L + _).toSet,
      s"admitted: $admA")
    // and the state the two arms wrote is row-identical
    assert(stateRows(st, "keys") == stateRows(stB, "keys"))
    assert(stateRows(st, "sets") == stateRows(stB, "sets"))
  }

  test("no-candidate epoch reads (near) zero state bytes; fallback reads it all") {
    val st = Files.createTempDirectory("graft-ks-z").toString + "/st"
    epochInto(st, corpusDocs(150), 0L)
    epochInto(st, corpusDocs(300).filter(col("doc_id") > 150), 1L)
    val stB = Files.createTempDirectory("graft-ks-zb").toString + "/st"
    cpR(st, stB)
    rmrf(s"$stB/keysum")
    KeySummaries.invalidate(stB)
    val fresh = probeBatch(Seq.empty, 10, 50000L).localCheckpoint()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.hadoop.vectored.io.enabled", "false")
    val (withSum, noSum) = try {
      val b0 = fileBytesRead()
      StreamOps.dedupEpoch(fresh, 2L, st, "doc_id", "text", 0.6).count()
      val w = fileBytesRead() - b0
      val b1 = fileBytesRead()
      StreamOps.dedupEpoch(fresh, 2L, stB, "doc_id", "text", 0.6).count()
      (w, fileBytesRead() - b1)
    } finally hc.unset("parquet.hadoop.vectored.io.enabled")
    val stateBytes = dirBytes(s"$stB/keys") + dirBytes(s"$stB/sets")
    // the summary arm reads only the two Bloom files — bounded by the
    // summaries, nothing from the keys/sets parquet; the summary-less
    // arm scans the whole keys table (and pays the full fallback)
    val sumBytes = dirBytes(s"$st/keysum")
    assert(withSum <= sumBytes + stateBytes / 10,
      s"no-candidate epoch read state bytes: withSum=$withSum " +
        s"summaries=$sumBytes state=$stateBytes")
    assert(noSum - withSum > (0.3 * dirBytes(s"$stB/keys")).toLong,
      s"fallback did not scan the keys: noSum=$noSum withSum=$withSum")
  }

  test("crash-replayed epoch with summaries: same admissions, same state, same summary") {
    val st = Files.createTempDirectory("graft-ks-r").toString + "/st"
    epochInto(st, corpusDocs(40), 0L)
    val batch = probeBatch(Seq(5, 9), 6, 7000L).localCheckpoint()
    val a1 = epochInto(st, batch, 1L)
    val sum1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"$st/keysum/batch=1")).toSeq
    val a2 = epochInto(st, batch, 1L) // the replay
    val sum2 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"$st/keysum/batch=1")).toSeq
    assert(a1 == a2, "replayed epoch diverged")
    assert(sum1 == sum2, "replayed summary diverged")
    // a later epoch still sees exactly one copy of epoch 1's admissions
    val a3 = epochInto(st, probeBatch(Seq(5), 2, 8000L), 2L)
    assert(a3 == Set(108001L, 108002L), s"admitted: $a3")
  }

  test("bootstrapped state ≡ stream-built state for the epochs that follow") {
    val corpus = corpusDocs(120).localCheckpoint()
    // arm A: corpus seeded via the bootstrap (multi-epoch, summarized)
    val stA = Files.createTempDirectory("graft-ks-bs").toString + "/st"
    val epochs = StreamOps.nearDupStateBootstrap(corpus, stA,
      "doc_id", "text", epochDocs = 50)
    assert(epochs == 3, s"expected 3 bootstrap epochs, got $epochs")
    assert(new java.io.File(s"$stA/_graft_state_layout").exists())
    // every bootstrap epoch carries a summary; sets are banded
    for (e <- 1 to epochs)
      assert(new java.io.File(s"$stA/keysum/batch=-$e").exists(),
        s"bootstrap epoch -$e lacks a summary")
    // arm B: the same corpus admitted through a real epoch
    val stB = Files.createTempDirectory("graft-ks-bt").toString + "/st"
    epochInto(stB, corpus, 0L)
    // the same follow-up batch must get the same verdicts on both
    val batch = probeBatch(Seq(2, 61, 119), 4, 6000L).localCheckpoint()
    val admA = StreamOps.dedupEpoch(batch, 5L, stA, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val admB = StreamOps.dedupEpoch(batch, 5L, stB, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admA == admB, s"bootstrap diverged: $admA vs $admB")
    assert(admA.size == 4, s"admitted: $admA")
  }

  test("full compaction drops summaries BEFORE consolidating, not after") {
    // hazard: compactState dies after consolidating but before deleting
    // keysum — a stale batch=-1 summary (from a bootstrap epoch or a
    // prior group) then describes only its OLD keys while batch=-1 holds
    // the whole corpus, and later epochs silently Bloom-prune the whole
    // state. Deleting first is crash-safe at every window (absent
    // summary = always-read). Pin the ordering: make the consolidation
    // itself fail and observe the summaries already gone.
    val st = Files.createTempDirectory("graft-cso").toString + "/st"
    StreamOps.nearDupStateBootstrap(corpusDocs(120).localCheckpoint(), st,
      "doc_id", "text", epochDocs = 50)
    assert(new java.io.File(s"$st/keysum").isDirectory,
      "bootstrap must have written summaries")
    // a garbage "parquet" file makes the keys consolidation read throw
    val bad = new java.io.File(s"$st/keys/batch=-1/part-corrupt.parquet")
    java.nio.file.Files.write(bad.toPath, "not parquet".getBytes("UTF-8"))
    intercept[Exception] { StreamOps.compactState(spark, st) }
    assert(!new java.io.File(s"$st/keysum").exists(),
      "summaries must be dropped before the consolidation can crash")
  }

  test("a recreated state's summaries beat the JVM cache (write-through)") {
    // one JVM: a state's epoch-0 summary is read (and cached) by a later
    // epoch; the state is deleted and re-seeded at the SAME path with a
    // DIFFERENT corpus whose epoch 0 writes a new summary at the same
    // file path. The next probe must consult the NEW Bloom — serving
    // the cached old one would prune epoch 0 (its keys don't overlap the
    // old corpus) and silently admit near-dups of everything in it.
    val st = Files.createTempDirectory("graft-swt").toString + "/st"
    epochInto(st, corpusDocs(30), 0L)
    // this probe READS epoch 0's summary, priming the per-JVM cache
    epochInto(st, probeBatch(Seq(1), 1, 9100L), 1L)
    rmrf(st)
    // disjoint vocabulary corpus at the same path, same epoch id
    val corpusB = (201 to 230).map(i =>
      (i.toLong, s"different story $i with vocab xx${i}a xx${i}b " +
        s"xx${i}c xx${i}d xx${i}e xx${i}f xx${i}g xx${i}h xx${i}i"))
      .toDF("doc_id", "text")
    epochInto(st, corpusB, 0L)
    val dups = (201 to 205).map(i =>
      (8000L + i, s"different story $i with vocab xx${i}a xx${i}b " +
        s"xx${i}c xx${i}d xx${i}e xx${i}f xx${i}g xx${i}h xx${i}i yy"))
      .toDF("doc_id", "text")
    val admitted = epochInto(st, dups, 1L)
    assert(admitted.isEmpty,
      s"stale cached summary pruned the recreated epoch 0: $admitted")
  }

  /** Every file under `root` with its size and modification time. */
  private def snapshot(root: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> (p.toFile.length(), p.toFile.lastModified()))
      .toMap
  }

  /** All three state writers refuse `st` before writing anything, with
    * the rebuild guidance. */
  private def assertRefused(st: String): Unit = {
    val before = snapshot(st)
    val batch = probeBatch(Seq(1), 2, 9000L).localCheckpoint()
    val writers = Seq[(String, () => Any)](
      "dedupEpoch" -> (() =>
        StreamOps.dedupEpoch(batch, 7L, st, "doc_id", "text", 0.6)),
      "compactState" -> (() => StreamOps.compactState(spark, st)),
      "compactStateGrouped" -> (() =>
        StreamOps.compactStateGrouped(spark, st, regroup = true)))
    for ((name, write) <- writers) {
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("no layout marker") &&
        e.getMessage.contains("nearDupStateBootstrap"),
        s"$name: ${e.getMessage}")
      assert(snapshot(st) == before, s"$name wrote before refusing")
    }
  }

  test("a marker-less state holding keys or sets fails every writer before any write") {
    // a state whose tables exist but whose marker does not cannot be
    // told apart from a flat one: writing banded epochs or banded
    // compactions into it would mix layouts under one partition root
    val st = Files.createTempDirectory("graft-nm").toString + "/st"
    epochInto(st, corpusDocs(30), 0L)
    epochInto(st, corpusDocs(60).filter(col("doc_id") > 30), 1L)
    assert(new java.io.File(s"$st/_graft_state_layout").delete())
    assertRefused(st)
    // a sets table alone is enough to refuse
    rmrf(s"$st/keys")
    assertRefused(st)
  }

  test("a bootstrap that crashed before its marker write is refused, then rebuilt") {
    // the crash window of nearDupStateBootstrap: both tables written,
    // then the crash — no marker, and so no summaries (they follow it)
    val corpus = corpusDocs(120).localCheckpoint()
    val st = Files.createTempDirectory("graft-bcw").toString + "/st"
    StreamOps.nearDupStateBootstrap(corpus, st, "doc_id", "text",
      epochDocs = 50)
    assert(new java.io.File(s"$st/_graft_state_layout").delete())
    rmrf(s"$st/keysum")
    assertRefused(st)
    // the remedy the message names: rebuild over the admitted docs
    val rebuilt = Files.createTempDirectory("graft-bcw-r").toString + "/st"
    StreamOps.nearDupStateBootstrap(corpus, rebuilt, "doc_id", "text",
      epochDocs = 50)
    val admitted = epochInto(rebuilt, probeBatch(Seq(2, 61), 3, 6000L), 0L)
    assert(admitted == (1 to 3).map(6000L + 100000L + _).toSet,
      s"admitted: $admitted")
  }

  private def filesUnder(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isFile) 1
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
    walk(new java.io.File(path))
  }

  test("grouped compaction: fewer files, summaries survive, admissions identical") {
    val st = Files.createTempDirectory("graft-gc-a").toString + "/st"
    // five streamed epochs of ~25 docs each
    for (e <- 0 until 5)
      epochInto(st, corpusDocs(125)
        .filter(col("doc_id") > e * 25 && col("doc_id") <= (e + 1) * 25),
        e.toLong)
    val stKeep = Files.createTempDirectory("graft-gc-k").toString + "/st"
    cpR(st, stKeep) // the uncompacted reference arm
    val filesBefore = filesUnder(s"$st/keys") + filesUnder(s"$st/sets")
    // each 25-doc epoch has ≤100 distinct band keys → cap 250 groups
    // roughly two epochs together
    val counts = StreamOps.compactStateGrouped(spark, st, maxGroupKeys = 250)
    assert(counts("keys") == 125L * 4 && counts("sets") == 125L,
      s"counts: $counts")
    val epochs = new java.io.File(s"$st/keys").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(epochs.nonEmpty && epochs.forall(_.stripPrefix("batch=").toLong < 0),
      s"positives must be consolidated: $epochs")
    assert(epochs.size > 1 && epochs.size < 5,
      s"expected real grouping, got $epochs")
    // every group carries a summary; the old epoch summaries are gone
    for (e <- epochs)
      assert(new java.io.File(
        s"$st/keysum/${e}").exists(), s"group $e lacks a summary")
    assert(!new java.io.File(s"$st/keysum/batch=0").exists())
    assert(filesUnder(s"$st/keys") + filesUnder(s"$st/sets") < filesBefore,
      "grouping must shrink the file population")
    // idempotent re-run (before the probe epochs add new positives)
    assert(StreamOps.compactStateGrouped(spark, st, maxGroupKeys = 250)
      == counts)
    // identical admissions vs the uncompacted state
    val batch = probeBatch(Seq(7, 60, 110), 4, 3000L).localCheckpoint()
    val admC = StreamOps.dedupEpoch(batch, 9L, st, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val admK = StreamOps.dedupEpoch(batch, 9L, stKeep, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admC == admK && admC.size == 4, s"admitted: $admC vs $admK")
    // pruning still engages post-compaction: a fresh batch reads ~zero
    // state bytes (the whole point of grouping over full compaction)
    val fresh = probeBatch(Seq.empty, 8, 70000L).localCheckpoint()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.hadoop.vectored.io.enabled", "false")
    val withSum = try {
      val b0 = fileBytesRead()
      StreamOps.dedupEpoch(fresh, 10L, st, "doc_id", "text", 0.6).count()
      fileBytesRead() - b0
    } finally hc.unset("parquet.hadoop.vectored.io.enabled")
    val stateBytes = dirBytes(s"$st/keys") + dirBytes(s"$st/sets")
    assert(withSum <= dirBytes(s"$st/keysum") + stateBytes / 10,
      s"post-compaction pruning lost: read=$withSum state=$stateBytes")
  }

  test("regroup merges stacked groups and skips no-op singletons") {
    val st = Files.createTempDirectory("graft-gc-r").toString + "/st"
    def negatives(): Set[Long] = new java.io.File(s"$st/keys").listFiles()
      .map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).filter(_ < 0).toSet
    // two compaction CYCLES stack groups LSM-fashion: 4 epochs → 2
    // groups (cap 250 ≈ two 25-doc epochs), 4 more epochs → 2 more
    for (e <- 0 until 4)
      epochInto(st, corpusDocs(100)
        .filter(col("doc_id") > e * 25 && col("doc_id") <= (e + 1) * 25),
        e.toLong)
    StreamOps.compactStateGrouped(spark, st, maxGroupKeys = 250)
    for (e <- 4 until 8)
      epochInto(st, corpusDocs(200)
        .filter(col("doc_id") > e * 25 && col("doc_id") <= (e + 1) * 25),
        e.toLong)
    StreamOps.compactStateGrouped(spark, st, maxGroupKeys = 250)
    val stacked = negatives()
    assert(stacked.size >= 4, s"expected stacked groups, got $stacked")
    val stKeep = Files.createTempDirectory("graft-gc-rk").toString + "/st"
    cpR(st, stKeep)
    // regroup at a larger cap merges adjacent under-cap groups
    val counts = StreamOps.compactStateGrouped(spark, st,
      maxGroupKeys = 500, regroup = true)
    assert(counts("keys") == 200L * 4 && counts("sets") == 200L,
      s"counts: $counts")
    val merged = negatives()
    assert(merged.size < stacked.size,
      s"regroup must shrink the group population: $stacked -> $merged")
    for (e <- merged)
      assert(new java.io.File(s"$st/keysum/batch=$e").exists(),
        s"merged group $e lacks a summary")
    // a second regroup at the same cap finds nothing mergeable (every
    // group is a no-op singleton, no positives yet) and rewrites NOTHING
    StreamOps.compactStateGrouped(spark, st, maxGroupKeys = 500,
      regroup = true)
    assert(negatives() == merged, "no-op regroup must not rewrite groups")
    // identical admissions vs the stacked arm
    val batch = probeBatch(Seq(7, 160), 3, 4000L).localCheckpoint()
    val admR = StreamOps.dedupEpoch(batch, 20L, st, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val admK = StreamOps.dedupEpoch(batch, 20L, stKeep,
      "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admR == admK && admR.size == 3, s"admitted: $admR vs $admK")
  }

  test("grouped compaction honors a saved plan and heals crash windows") {
    val st = Files.createTempDirectory("graft-gc-b").toString + "/st"
    epochInto(st, corpusDocs(20), 0L)
    epochInto(st, corpusDocs(40).filter(col("doc_id") > 20), 1L)
    // (a) a SAVED plan wins over recomputation: force one group per
    // epoch even though both would fit one cap
    java.nio.file.Files.write(
      java.nio.file.Paths.get(st, "__group_plan"),
      "-1:0\n-2:1".getBytes("UTF-8"))
    StreamOps.compactStateGrouped(spark, st, maxGroupKeys = 100000)
    val epochs = new java.io.File(s"$st/keys").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(epochs == Set("batch=-1", "batch=-2"), s"plan ignored: $epochs")
    assert(!new java.io.File(s"$st/__group_plan").exists())

    // (b) crash mid-rollForward: keys already renamed in, sets still
    // staged, manifest present — the re-run must finish the group, not
    // discard the staged sets (the round-11 review caught exactly this
    // window: judging stage completeness on recovery would throw away a
    // staged table whose sibling had already renamed)
    val st2 = Files.createTempDirectory("graft-gc-c").toString + "/st"
    epochInto(st2, corpusDocs(25), 0L)
    def mv(a: String, b: String) =
      assert(new java.io.File(a).renameTo(new java.io.File(b)))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(st2, "__group_plan"),
      "-2:0".getBytes("UTF-8"))
    val sets0 = s"$st2/sets.__gstage_-2"
    mv(s"$st2/sets/batch=0", sets0) // sets staged, source gone
    new java.io.File(s"$sets0/_SUCCESS").createNewFile()
    mv(s"$st2/keys/batch=0", s"$st2/keys/batch=-2") // keys already rolled
    java.nio.file.Files.write(
      java.nio.file.Paths.get(st2, "__group_manifest_-2"),
      "0".getBytes("UTF-8"))
    StreamOps.compactStateGrouped(spark, st2, maxGroupKeys = 100000)
    assert(new java.io.File(s"$st2/sets/batch=-2").exists(),
      "staged sets must roll forward, not be discarded")
    assert(!new java.io.File(sets0).exists() &&
      !new java.io.File(s"$st2/__group_manifest_-2").exists())
    // the state still answers correctly (epoch-0 rows all present)
    val b2 = probeBatch(Seq(5), 2, 6000L).localCheckpoint()
    val adm = StreamOps.dedupEpoch(b2, 2L, st2, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(adm.size == 2, s"near-dup of doc 5 must still be dropped: $adm")
  }

  test("KeySummaries: no false negatives, absent/corrupt files read conservative") {
    val keys = (1 to 5000).map(i => s"key-$i-${i * 37}")
    val s = KeySummaries.build(keys)
    val hashes = keys.map(KeySummaries.hashPair)
    assert(hashes.forall(h => s.mightContain(h._1, h._2)),
      "Bloom false negative")
    // false-positive rate at the sized fpp: spot-check a disjoint set
    val misses = (1 to 5000).map(i => KeySummaries.hashPair(s"other-$i"))
      .count(h => s.mightContain(h._1, h._2))
    assert(misses == 0, s"fpp 1e-6 sample produced $misses hits")
    val dir = Files.createTempDirectory("graft-ks-f").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // absent → None (always-read)
    assert(KeySummaries.readCached(fs,
      new org.apache.hadoop.fs.Path(s"$dir/none")).isEmpty)
    // corrupt (wrong magic) → None, not a crash
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad"),
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16))
    assert(KeySummaries.readCached(fs,
      new org.apache.hadoop.fs.Path(s"$dir/bad")).isEmpty)
    // round-trip through the file format
    val p = new org.apache.hadoop.fs.Path(s"$dir/ok")
    KeySummaries.write(fs, p, s)
    val r = KeySummaries.readCached(fs, p).get
    assert(r.mBits == s.mBits && r.k == s.k &&
      r.words.toSeq == s.words.toSeq)
    // the cache re-anchors to disk: a VANISHED file must stop serving
    // its cached Bloom (a re-seeded state's epochs may never write a
    // new summary — the write-through alone can't cover that), and a
    // file that APPEARS must displace a cached None
    fs.delete(p, false)
    assert(KeySummaries.readCached(fs, p).isEmpty,
      "cached summary served for a deleted file")
    KeySummaries.write(fs, p, s)
    // ... and a file that APPEARS behind the cache (no write-through —
    // raw byte copy) must displace a cached None
    val q = new org.apache.hadoop.fs.Path(s"$dir/late")
    assert(KeySummaries.readCached(fs, q).isEmpty) // caches None
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir, "ok"),
      java.nio.file.Paths.get(dir, "late"))
    assert(KeySummaries.readCached(fs, q).nonEmpty,
      "appeared file not re-read past the cached None")
  }

  test("an over-cap batch degrades to the full scan with identical admissions") {
    // the spec-only summaryCap routes a SMALL batch through the over-cap
    // branch (reaching it for real needs >262k band keys): no pruning,
    // no summary written — and admissions must not move at all
    val stA = Files.createTempDirectory("graft-capA").toString
    val stB = Files.createTempDirectory("graft-capB").toString
    val seed = corpusDocs(40).localCheckpoint()
    def run(st: String, cap: Option[Int]): Seq[Set[Long]] = {
      val e0 = {
        val b = seed
        StreamOps.dedupEpoch(b, 0L, st, "doc_id", "text", 0.6,
          summaryCap = cap.getOrElse(KeySummaries.MaxKeys))
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      // epoch 1 probes near-dups of the corpus + fresh docs; its reads
      // differ (pruned vs full) but its admissions must not
      val e1 = {
        val b = probeBatch(1 to 10, 10, 500000L).localCheckpoint()
        val r = StreamOps.dedupEpoch(b, 1L, st, "doc_id", "text", 0.6)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        b.unpersist(); r
      }
      Seq(e0, e1)
    }
    val a = run(stA, None)          // default cap: epoch 0 summarized
    val b = run(stB, Some(1))       // over-cap epoch 0: degrade
    assert(a == b, "over-cap degrade changed admissions")
    assert(new java.io.File(s"$stA/keysum/batch=0").exists(),
      "default-cap epoch must write its summary")
    assert(!new java.io.File(s"$stB/keysum/batch=0").exists(),
      "over-cap epoch must write NO summary (absent = always-read)")
    // the degraded state keeps working: epoch 1 wrote ITS summary and a
    // later no-candidate batch still prunes everything it can
    assert(new java.io.File(s"$stB/keysum/batch=1").exists())
  }
}
