package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.JdbcApplySink

class JdbcApplySinkSpec extends AnyFunSuite {
  import SparkTestSession._

  private def cs(rows: (Long, String, String, String)*) = {
    // (id, action, new_values, old_values) on public.users
    val data = rows.map { case (id, a, nv, ov) =>
      org.apache.spark.sql.Row(id, null, a, "public", "users", 1L, nv, ov)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data),
      graft.model.ChangesetSchema.schema)
  }

  test("apply sink emits ordered insert/upsert/delete + batched setval") {
    val batch = cs(
      (3L, "DELETE", null, """{"id":9}"""),
      (1L, "INSERT", """{"id":7,"name":"Bob"}""", null),
      (2L, "UPDATE", """{"id":7,"name":"Bo"}""", """{"id":7}"""),
      (4L, "INSERT", """{"id":11,"name":"Ann"}""", null))
    val stmts = JdbcApplySink.statementsFor(batch,
      pks = Map(("public", "users") -> Seq("id")),
      seqCols = Map(("public", "users") -> Seq(("id", "public.users_id_seq"))))
    // statements follow changeset id order regardless of input order
    assert(stmts.map(_.sql.split(" ").head).take(4).toSeq ==
      Seq("INSERT", "INSERT", "DELETE", "INSERT"))
    assert(stmts(0).sql ==
      """INSERT INTO "public"."users" ("id", "name") VALUES (:id, :name) ON CONFLICT DO NOTHING""")
    assert(stmts(1).sql.contains("""ON CONFLICT ("id") DO UPDATE SET "name" = :name"""))
    assert(stmts(2).sql == """DELETE FROM "public"."users" WHERE "id" = :id""")
    // one setval with the batch max (11), not one per row
    val setvals = stmts.filter(_.sql.startsWith("SELECT setval"))
    assert(setvals.map(_.sql) ==
      Seq("SELECT setval('public.users_id_seq', 11, true)"))
  }

  test("sink plugs into foreachBatch over a live stream") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[JdbcApplySink.Statement]
    val logDir = java.nio.file.Files.createTempDirectory("graft-apply").toString
    cs((1L, "INSERT", """{"id":1,"v":"a"}""", null),
       (2L, "DELETE", null, """{"id":1}"""))
      .write.mode("append").parquet(logDir)
    val q = graft.streaming.ChangesetStream.fromFiles(spark, logDir)
      .writeStream
      .foreachBatch(JdbcApplySink.writer(
        Map(("public", "users") -> Seq("id")), Map.empty,
        st => { seen.synchronized { seen ++= st }; () }))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.map(_.sql.split(" ").head).toSeq == Seq("INSERT", "DELETE"))
    // the source is read once per batch: without the writer's checkpoint
    // the sort's sampling job scans it again and progress counts 4
    assert(q.recentProgress.map(_.numInputRows).sum == 2L)
  }

  test("oversized batch is split into ordered chunks, setval once at end") {
    import spark.implicits._
    // 1000 inserts with ids shuffled across partitions; sequence values
    // DESCEND with id so a per-chunk setval would regress the sequence —
    // the end state must be the global max (1000), set exactly once
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(
        scala.util.Random.shuffle((1L to 1000L).toList).map { id =>
          org.apache.spark.sql.Row(id, null, "INSERT", "public", "users", 1L,
            s"""{"id":${1001L - id},"name":"u$id"}""", null)
        }, 8),
      graft.model.ChangesetSchema.schema)
    val calls = scala.collection.mutable.ArrayBuffer.empty[Seq[JdbcApplySink.Statement]]
    val applied = JdbcApplySink.applyChunked(batch,
      pks = Map(("public", "users") -> Seq("id")),
      seqCols = Map(("public", "users") -> Seq(("id", "public.users_id_seq"))),
      exec = st => { calls += st; () },
      maxRowsPerBatch = 300)
    assert(applied == 1000L)
    // 4 chunks of ≤300 changesets, the setval appended to the last one
    assert(calls.map(_.size).toSeq == Seq(300, 300, 300, 100 + 1),
      s"chunk sizes: ${calls.map(_.size)}")
    val setvals = calls.toSeq.map(_.filter(_.sql.startsWith("SELECT setval")))
    assert(setvals.init.forall(_.isEmpty) && setvals.last.map(_.sql) ==
      Seq("SELECT setval('public.users_id_seq', 1000, true)"),
      "exactly one setval, at the GLOBAL max, in the last call")
    // global id order across chunk boundaries: payload names u1..u1000
    val ids = calls.toSeq.flatten.map(_.payloadJson).filter(_ != null).map(j =>
      j.substring(j.indexOf("u") + 1, j.indexOf("\"}", j.indexOf("u"))).toLong)
    assert(ids == (1L to 1000L), "statement stream must follow changeset id order")
    // and the chunked stream equals the unchunked one, statement for
    // statement (minus call boundaries)
    val unchunked = JdbcApplySink.statementsFor(batch,
      Map(("public", "users") -> Seq("id")),
      Map(("public", "users") -> Seq(("id", "public.users_id_seq"))))
    assert(calls.toSeq.flatten == unchunked)
  }

  /** A tiny target-DB model with the statement stream's semantics:
    * INSERT = dup-skip, UPSERT = absolute set, DELETE = absolute remove,
    * setval = absolute sequence value. Key = (table, payload id). */
  private def applyModel(db: scala.collection.mutable.Map[String, String],
                         stmts: Seq[JdbcApplySink.Statement]): Unit =
    stmts.foreach { st =>
      if (st.sql.startsWith("SELECT setval")) {
        db(st.sql.split("'")(1)) = st.sql.split(", ")(1)
      } else {
        val table = st.sql.split("\"")(3)
        val id = com.fasterxml.jackson.databind.json.JsonMapper.builder()
          .build().readTree(st.payloadJson).get("id").asLong()
        val key = s"$table#$id"
        if (st.sql.startsWith("DELETE")) { db.remove(key); () }
        else if (st.sql.contains("DO UPDATE")) db(key) = st.payloadJson
        else if (!db.contains(key)) db(key) = st.payloadJson // dup-skip
      }
    }

  /** 3 tables x 20 keys, each key living a full INSERT→UPDATE→DELETE→
    * INSERT→UPDATE life in global id order; sequence values descend
    * with id so only a global-max setval is correct. */
  private val keyLives = for {
    t <- Seq("users", "orders", "events")
    k <- 1 to 20
    (step, i) <- Seq("INSERT", "UPDATE", "DELETE", "INSERT", "UPDATE").zipWithIndex
  } yield {
    val id = (Seq("users", "orders", "events").indexOf(t) * 20 + k) * 10L + i
    val nv = s"""{"id":$k,"step":$i,"sv":${100000L - id}}"""
    (id, step, t, if (step == "DELETE") null else nv,
      if (step == "DELETE") s"""{"id":$k}""" else null)
  }

  private def keyLivesBatch(rows: Seq[(Long, String, String, String, String)],
                            numSlices: Int) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, a, t, nv, ov) =>
        org.apache.spark.sql.Row(id, null, a, "public", t, 1L, nv, ov)
      }, numSlices), graft.model.ChangesetSchema.schema)

  private val keyLivesPks = Seq("users", "orders", "events")
    .map(t => ("public", t) -> Seq("id")).toMap
  private val keyLivesSeqCols =
    Map(("public", "users") -> Seq(("sv", "public.users_sv_seq")))

  test("partitioned apply: per-key order kept, any partition order converges") {
    // the same changesets laid out over the batch's partitions in
    // different counts and orders: the one id-ordered loop must hand
    // exec the same chunks every time, keep each key's step order, and
    // reach the serial end state, also when the batch is applied twice
    val layouts = Seq(
      keyLivesBatch(keyLives, 7),
      keyLivesBatch(keyLives.reverse, 3),
      keyLivesBatch(new scala.util.Random(11).shuffle(keyLives), 5),
      keyLivesBatch(keyLives.grouped(15).toSeq.reverse.flatten, 20))
    val serial = JdbcApplySink.statementsFor(layouts.head, keyLivesPks, keyLivesSeqCols)
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val byKey = serial.filter(_.payloadJson != null).groupBy(st =>
      (st.sql.split("\"")(3), mapper.readTree(st.payloadJson).get("id").asLong()))
    assert(byKey.size == 60)
    byKey.foreach { case (key, stmts) =>
      assert(stmts.map(_.sql.split(" ").head) ==
        Seq("INSERT", "INSERT", "DELETE", "INSERT", "INSERT"), s"key $key out of order")
    }
    val dbSerial = scala.collection.mutable.Map.empty[String, String]
    applyModel(dbSerial, serial)
    val firstCalls = scala.collection.mutable.ArrayBuffer.empty[Seq[JdbcApplySink.Statement]]
    layouts.zipWithIndex.foreach { case (batch, li) =>
      val calls = scala.collection.mutable.ArrayBuffer.empty[Seq[JdbcApplySink.Statement]]
      val applied = JdbcApplySink.applyChunked(batch, keyLivesPks, keyLivesSeqCols,
        st => { calls += st; () }, maxRowsPerBatch = 40)
      assert(applied == keyLives.size.toLong)
      if (li == 0) firstCalls ++= calls
      else assert(calls == firstCalls, s"layout $li changed the chunk stream")
      assert(JdbcApplySink.statementsFor(batch, keyLivesPks, keyLivesSeqCols) == serial,
        s"layout $li changed the collected stream")
      val db = scala.collection.mutable.Map.empty[String, String]
      for (_ <- 1 to 2) calls.foreach(applyModel(db, _))
      assert(db == dbSerial, s"layout $li diverged from the serial end state")
    }
  }

  test("chunked apply: a crash between chunks and a replay converge to the serial end state") {
    val batch = keyLivesBatch(keyLives, 7)
    val calls = scala.collection.mutable.ArrayBuffer.empty[Seq[JdbcApplySink.Statement]]
    val applied = JdbcApplySink.applyChunked(batch, keyLivesPks, keyLivesSeqCols,
      st => { calls += st; () }, maxRowsPerBatch = 40)
    assert(applied == keyLives.size.toLong)
    assert(calls.map(_.size).toSeq == Seq.fill(7)(40) :+ (20 + 1))
    // ONE setval, at the global max of the descending sequence values,
    // in the last call
    val setval = Seq(s"SELECT setval('public.users_sv_seq', ${100000L - 10L}, true)")
    assert(calls.toSeq.map(_.filter(_.sql.startsWith("SELECT setval")).map(_.sql)) ==
      Seq.fill(7)(Nil) :+ setval)
    // the chunked stream is the collected one (per-key order: above)
    val serial = JdbcApplySink.statementsFor(batch, keyLivesPks, keyLivesSeqCols)
    assert(calls.toSeq.flatten == serial)
    val dbSerial = scala.collection.mutable.Map.empty[String, String]
    applyModel(dbSerial, serial)
    // a crash after any prefix of committed chunks, then the whole
    // micro-batch replayed, ends in the serial end state
    for (k <- 0 to calls.size) {
      val db = scala.collection.mutable.Map.empty[String, String]
      calls.take(k).foreach(applyModel(db, _))
      calls.foreach(applyModel(db, _))
      assert(db == dbSerial, s"replay after $k committed chunks diverged")
    }
  }

  test("writer routes small batches whole and oversized batches chunked") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[Int]
    val w = JdbcApplySink.writer(
      Map(("public", "users") -> Seq("id")), Map.empty,
      st => { calls += st.size; () }, maxRowsPerBatch = 3)
    w(cs((1L, "INSERT", """{"id":1}""", null),
         (2L, "INSERT", """{"id":2}""", null)), 0L)
    assert(calls.toSeq == Seq(2), "small batch: one collected call")
    calls.clear()
    w(cs((1L to 7L).map(i =>
      (i, "INSERT", s"""{"id":$i}""", null: String)): _*), 1L)
    assert(calls.toSeq == Seq(3, 3, 1), "backlog batch: bounded chunks")
  }
}
