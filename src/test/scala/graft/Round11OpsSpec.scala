package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, TextFns}
import graft.sources.Tables
import graft.streaming.StreamOps

/** Round-11: the dedup index's crash windows (a mid-swap compaction, a
  * crashed append, a re-appended id), marker-less state refusal, the
  * atomic marker overwrite and DeflateLen. */
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

  // --- dedup index crash windows ---------------------------------------

  test("index compaction re-runs after a crash mid-sets-swap") {
    val p = Files.createTempDirectory("graft-cmp-c").toString
    Dedup.buildDedupIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", p)
    Dedup.appendToDedupIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", p)
    // crash window: a prior compaction renamed sets -> sets.__compact_old
    // and died; the re-run must not throw path-not-found — recovery has
    // to run before the table is read
    rename(s"$p/sets", s"$p/sets.__compact_old")
    val counts = Dedup.compactDedupIndex(spark, p)
    assert(counts("sets") == docs.count(), s"counts: $counts")
    val batch = probeBatch.localCheckpoint()
    val reb = Files.createTempDirectory("graft-cmp-r").toString
    Dedup.buildDedupIndex(docs, "doc_id", "text", reb)
    assert(verdictRows(Dedup.dedupAgainstIndexed(spark, p, batch,
      "doc_id", "text", 0.8)) ==
      verdictRows(Dedup.dedupAgainstIndexed(spark, reb, batch,
        "doc_id", "text", 0.8)),
      "post-recovery compaction changed the verdicts")
  }

  test("a crashed FIRST append (only _temporary) neither wedges probe nor compact") {
    val p = Files.createTempDirectory("graft-dlt-t").toString
    Dedup.buildDedupIndex(docs, "doc_id", "text", p)
    // the crash shape: an append died before its job commit, leaving
    // only the writer's _temporary staging inside both tables — no data
    // file landed, so the index must read as if the append never ran
    for (t <- Seq("sets", "keys"))
      assert(new java.io.File(s"$p/$t/_temporary/0").mkdirs())
    val batch = probeBatch.localCheckpoint()
    val got = verdictRows(
      Dedup.dedupAgainstIndexed(spark, p, batch, "doc_id", "text", 0.8))
    val clean = Files.createTempDirectory("graft-dlt-t2").toString
    Dedup.buildDedupIndex(docs, "doc_id", "text", clean)
    assert(got == verdictRows(Dedup.dedupAgainstIndexed(spark, clean,
      batch, "doc_id", "text", 0.8)),
      "a crashed append's staging must not change the probe")
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
    Dedup.buildDedupIndex(
      Seq((1L, textA)).toDF("doc_id", "text"), "doc_id", "text", p)
    // contract violation (append doc says ids must be new), but the
    // compaction must not make it WORSE: it keeps both generations'
    // ssets beside both generations' band keys; a by-id drop could keep
    // one generation's sset beside the OTHER generation's keys and
    // verify candidates against the wrong shingles
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

}
