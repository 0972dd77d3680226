package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Materializer
import graft.sources.Changelog
import graft.streaming.{ChangesetStream, Sessionize}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("streamed materialize over micro-batches == batch materialize") {
    val script = Changelog.ordersScript(spark, sfDir)
    // three changelog "segments" written as separate files; streamed one
    // file per trigger → three micro-batches
    val logDir = tmp("graft-log")
    script.filter(col("id") % 3 === 0).coalesce(1).write.mode("append").parquet(logDir)
    script.filter(col("id") % 3 === 1).coalesce(1).write.mode("append").parquet(logDir)
    script.filter(col("id") % 3 === 2).coalesce(1).write.mode("append").parquet(logDir)

    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))

    val statePath = tmp("graft-state") + "/state"
    val q = ChangesetStream.materializeTo(
      ChangesetStream.fromFiles(spark, logDir, maxFilesPerTrigger = 1),
      statePath, tmp("graft-ckpt"), "o_orderkey", rowSchema)
    q.awaitTermination()

    val streamed = ChangesetStream.readState(spark, statePath)
      .orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val batch = Materializer.materialize(script, "o_orderkey", rowSchema)
      .orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("jsonSink delivers every streamed changeset as one JSON row") {
    import org.apache.spark.sql.Row
    import graft.model.ChangesetSchema
    val t0 = 1700000000123456L // µs: the sink must not truncate to ms
    def rows(ids: Seq[Long]): Seq[Row] = ids.map { i =>
      val ts = if (i == 5L) null
        else java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
          t0 + i * 1000001L, java.time.temporal.ChronoUnit.MICROS))
      val nv = if (i % 3 == 2) null
        else s"""{"id":$i,"name":"o'\\"q\\" é $i","price":${i}.5}"""
      val ov = if (i % 3 == 0) null else s"""{"id":$i}"""
      Row(i, ts, Seq("INSERT", "UPDATE", "DELETE")((i % 3).toInt),
        "public", "orders", 16390L, nv, ov)
    }
    val input = rows(1L to 6L) ++ rows(7L to 10L)
    val logDir = tmp("graft-jlog")
    for (part <- Seq(rows(1L to 6L), rows(7L to 10L)))
      spark.createDataFrame(spark.sparkContext.parallelize(part),
        ChangesetSchema.schema).coalesce(1)
        .write.mode("append").parquet(logDir)
    val outDir = tmp("graft-jout") + "/out"
    ChangesetStream.jsonSink(
      ChangesetStream.fromFiles(spark, logDir, maxFilesPerTrigger = 1),
      outDir, tmp("graft-jck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val back = spark.read.schema(ChangesetSchema.schema).json(outDir)
      .collect().toSeq
    assert(back.sortBy(_.getLong(0)) == input,
      s"JSON read back differs:\n${back.sortBy(_.getLong(0)).mkString("\n")}")
  }

  test("versioned merge: replay-idempotent and out-of-order safe") {
    val script = Changelog.ordersScript(spark, sfDir)
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    val empty = Materializer.emptyVersionedState(spark, rowSchema)
    val b1 = script.filter(col("id") % 2 === 0)
    val b2 = script.filter(col("id") % 2 === 1)

    def view(df: org.apache.spark.sql.DataFrame) =
      Materializer.currentView(df).orderBy("o_orderkey").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // in-order
    val inOrder = Materializer.mergeVersioned(
      Materializer.mergeVersioned(empty, b1, "o_orderkey", rowSchema),
      b2, "o_orderkey", rowSchema)
    // out-of-order (same batches, reversed)
    val outOfOrder = Materializer.mergeVersioned(
      Materializer.mergeVersioned(empty, b2, "o_orderkey", rowSchema),
      b1, "o_orderkey", rowSchema)
    // replayed (b2 applied twice)
    val replayed = Materializer.mergeVersioned(
      inOrder, b2, "o_orderkey", rowSchema)

    val expect = Materializer.materialize(script, "o_orderkey", rowSchema)
      .orderBy("o_orderkey").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(view(inOrder) == expect)
    assert(view(outOfOrder) == expect)
    assert(view(replayed) == expect)
  }

  test("materialize sink recovers a half-swapped state directory") {
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    val script = Changelog.ordersScript(spark, sfDir)
    val logDir = tmp("graft-rec-log")
    script.filter(col("id") < 2000).coalesce(1).write.mode("append").parquet(logDir)
    val statePath = tmp("graft-rec-state") + "/state"
    val q1 = ChangesetStream.materializeTo(
      ChangesetStream.fromFiles(spark, logDir), statePath,
      tmp("graft-rec-ckpt1"), "o_orderkey", rowSchema)
    q1.awaitTermination()
    val before = ChangesetStream.readState(spark, statePath).count()
    assert(before > 0)
    // simulate a crash between the two swap renames: dst gone, __next holds
    // the completed state
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(statePath),
      new org.apache.hadoop.fs.Path(statePath + "__next")))
    // next run must recover and keep merging (new events on top)
    script.filter(col("id") >= 2000).coalesce(1).write.mode("append").parquet(logDir)
    val q2 = ChangesetStream.materializeTo(
      ChangesetStream.fromFiles(spark, logDir), statePath,
      tmp("graft-rec-ckpt2"), "o_orderkey", rowSchema)
    q2.awaitTermination()
    val recovered = ChangesetStream.readState(spark, statePath)
      .orderBy("o_orderkey").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expect = Materializer.materialize(script, "o_orderkey", rowSchema)
      .orderBy("o_orderkey").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(recovered.sameElements(expect))
  }

  test("state compaction drops only expired tombstones") {
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    val script = Changelog.ordersScript(spark, sfDir)
    val st = Materializer.mergeVersioned(
      Materializer.emptyVersionedState(spark, rowSchema),
      script, "o_orderkey", rowSchema)
    val tombs = st.filter(col(Materializer.TombstoneCol)).count()
    assert(tombs > 0)
    val live = Materializer.currentView(st).count()
    // horizon above every id → all tombstones dropped, live rows intact
    val compacted = Materializer.compactState(st, Long.MaxValue)
    assert(compacted.filter(col(Materializer.TombstoneCol)).count() == 0)
    assert(Materializer.currentView(compacted).count() == live)
    // horizon 0 → nothing dropped
    assert(Materializer.compactState(st, 0L).count() == st.count())
  }

  test("wired compaction: sink GCs old tombstones, final state unchanged") {
    val script = Changelog.ordersScript(spark, sfDir)
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    // ID-ORDERED segments — compaction's contract is in-stream-order
    // delivery (the checkpointed source can only redeliver the current
    // batch, so ids below its min never reappear)
    val m = script.agg(max(col("id"))).head().getLong(0)
    val (c1, c2) = (m / 3, 2 * m / 3)
    val logDir = tmp("graft-log-c")
    script.filter(col("id") <= c1).coalesce(1).write.mode("append").parquet(logDir)
    script.filter(col("id") > c1 && col("id") <= c2).coalesce(1)
      .write.mode("append").parquet(logDir)
    script.filter(col("id") > c2).coalesce(1).write.mode("append").parquet(logDir)

    val statePath = tmp("graft-state-c") + "/state"
    val q = ChangesetStream.materializeTo(
      ChangesetStream.fromFiles(spark, logDir, maxFilesPerTrigger = 1),
      statePath, tmp("graft-ckpt-c"), "o_orderkey", rowSchema,
      compactionLag = Some(0L))
    q.awaitTermination()

    // tombstones below the last batch's min id were garbage-collected
    val state = spark.read.parquet(statePath)
    val lastMin = c2 + 1
    assert(state.filter(col(Materializer.TombstoneCol) &&
      col(Materializer.VersionCol) < lastMin).count() == 0,
      "old tombstones must be compacted away")
    // and the live view still equals the batch materialization
    val streamed = ChangesetStream.readState(spark, statePath)
      .orderBy("o_orderkey").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val batch = Materializer.materialize(script, "o_orderkey", rowSchema)
      .orderBy("o_orderkey").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(streamed.sameElements(batch))
  }

  test("compaction fence: a batch below the persisted horizon fails loudly") {
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    val script = Changelog.ordersScript(spark, sfDir)
    val m = script.agg(max(col("id"))).head().getLong(0)
    val statePath = tmp("graft-state-f") + "/state"

    // run 1: only the HIGH-id half — persists a horizon at its min id
    val hiDir = tmp("graft-log-f-hi")
    script.filter(col("id") > m / 2).coalesce(1)
      .write.mode("append").parquet(hiDir)
    ChangesetStream.materializeTo(
      ChangesetStream.fromFiles(spark, hiDir),
      statePath, tmp("graft-ckpt-f1"), "o_orderkey", rowSchema,
      compactionLag = Some(0L)).awaitTermination()

    // run 2 (fresh checkpoint = an out-of-stream-order delivery): the
    // LOW-id half arrives below the fence → the query must fail, not
    // silently resurrect deleted rows whose tombstones were GC'd
    val loDir = tmp("graft-log-f-lo")
    script.filter(col("id") <= m / 2).coalesce(1)
      .write.mode("append").parquet(loDir)
    val q2 = ChangesetStream.materializeTo(
      ChangesetStream.fromFiles(spark, loDir),
      statePath, tmp("graft-ckpt-f2"), "o_orderkey", rowSchema,
      compactionLag = Some(0L))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("compaction fence violated")),
      s"unexpected failure: $ex")
  }

  test("streaming sessionization closes the same sessions as the window path") {
    import spark.implicits._
    val raw = sources.Tables.load(spark, sfDir, "events")
    val ev = raw.select(col("user_id"), sources.Tables.tsUs(raw).as("ts_us"))
    val batchSessions = Sessionize.byWindows(ev, 30)
      .select("user_id", "session_id", "n_events", "start_us", "end_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // the streaming path emits a session only once the next one opens, so
    // the final (still-open) session of each user is not emitted
    val lastPerUser = batchSessions.groupBy(_._1).view
      .mapValues(_.maxBy(_._2)).values.toSet
    val expectClosed = batchSessions -- lastPerUser

    val streamed = Sessionize.streaming(spark, ev, 30)
      .collect().map(s =>
        (s.user_id, s.session_id, s.n_events, s.start_us, s.end_us)).toSet
    assert(streamed == expectClosed)
  }

  test("windowed counts on a live stream match the batch path") {
    val logDir = tmp("graft-wlog")
    Changelog.fromEvents(spark, sfDir).coalesce(2)
      .write.mode("append").parquet(logDir)
    val stream = ChangesetStream.fromFiles(spark, logDir, maxFilesPerTrigger = 1)
    val agg = ChangesetStream.windowedCounts(stream)
    val q = agg.writeStream.format("memory").queryName("wcounts")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("wcounts")
      .orderBy("window_start_us", "table_name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val batch = ChangesetStream.windowedCounts(Changelog.fromEvents(spark, sfDir))
      .orderBy("window_start_us", "table_name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch)
  }

  test("jdbc bootstrap SQL generators") {
    import graft.sources.JdbcBootstrap._
    assert(createAuditDdl.exists(_.contains("changesets")))
    assert(triggerFunctionDdl.contains("pg_notify"))
    assert(insertSql("public", "users", Seq("id", "name"))
      == """INSERT INTO "public"."users" ("id", "name") VALUES (:id, :name) ON CONFLICT DO NOTHING""")
    assert(upsertSql("public", "users", Seq("id", "name"), Seq("id"))
      .contains("""ON CONFLICT ("id") DO UPDATE SET "name" = :name"""))
    assert(deleteSql("public", "users", Seq("id"))
      == """DELETE FROM "public"."users" WHERE "id" = :id""")
    assert(versionSupported("9.5.1") && versionSupported("16.2"))
    assert(!versionSupported("9.4.8"))
  }
}
