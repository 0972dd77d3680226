package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ChangesetSchema, PgTypes}
import graft.operators.{Checksum, Materializer, Pipeline, Stages, TableFilters}
import graft.sources.{Changelog, Replay}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fail loudly (instead of silently interpreting) if any generated
      // code — ours included — does not compile. Round-1 verdict: the
      // Md5Prefix28 codegen bug was invisible precisely because these
      // default to permissive fallback.
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

class CoreSpec extends AnyFunSuite {
  import SparkTestSession._

  def changesets(rows: (Long, String, String, String, String, String)*): DataFrame = {
    // (id, action, schema, table, new_values, old_values)
    val data = rows.map { case (id, a, sc, t, nv, ov) =>
      org.apache.spark.sql.Row(id, null, a, sc, t, 1L, nv, ov)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq), ChangesetSchema.schema)
  }

  // -- the reference's canonical pipeline-semantics test
  // (pipeline_test.go:12-100): 3 stages — project away first_name,
  // uppercase the table name, drop rows where is_test = TRUE; of two
  // events, one survives with the column removed and the table mapped.
  test("pipeline semantics match pipeline_test.go") {
    val in = changesets(
      (1L, "INSERT", "public", "users",
        """{"first_name":"Bob","last_name":"Ross","is_test":"FALSE"}""", null),
      (2L, "INSERT", "public", "users",
        """{"first_name":"Eve","last_name":"Nope","is_test":"TRUE"}""", null))
    val out = Pipeline(
      Stages.removeColumn("first_name"),
      Stages.mapColumn("table_name", upper),
      Stages.dropWhere(Stages.newValue("is_test") === "TRUE"))(in)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("table_name") == "USERS")
    assert(!r.getAs[String]("new_values").contains("first_name"))
    assert(r.getAs[String]("new_values").contains("last_name"))
  }

  test("fused payload domain == standalone stages; one from_json; touched-key filters") {
    val in = changesets(
      (1L, "INSERT", "public", "users",
        """{"first_name":"Bob","last_name":"Ross","is_test":"FALSE","score":"10"}""", null),
      (2L, "INSERT", "public", "users",
        """{"first_name":"Eve","last_name":"Nope","is_test":"TRUE","score":"99"}""", null),
      (3L, "DELETE", "public", "users", null, """{"first_name":"Old"}"""))
    def run(stages: Pipeline.Stage*): Seq[(Long, String, String)] =
      Pipeline(stages: _*)(in)
        .select(col("id"), col("table_name"), col("new_values"))
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
    val standalone = run(
      Stages.removeColumn("first_name"),
      Stages.mapValue("last_name", upper),
      Stages.mapColumn("table_name", upper),
      Stages.dropWhere(Stages.newValue("is_test") === "TRUE"))
    val fused = run(
      Stages.openPayload,
      Stages.removeColumn("first_name"),
      Stages.mapValue("last_name", upper),
      Stages.mapColumn("table_name", upper),
      Stages.dropWhereValue("is_test")(_ === "TRUE"),
      Stages.closePayload)
    assert(fused == standalone)
    assert(fused.exists { case (_, _, nv) =>
      nv != null && nv.contains("ROSS") && !nv.contains("first_name") })
    // null payload (DELETE) passes through as null in both paths
    assert(fused.exists { case (id, _, nv) => id == 3L && nv == null })

    // filter on a REMOVED key must see the transformed payload (null ⇒ kept)
    val filteredOnRemoved = run(
      Stages.openPayload,
      Stages.removeColumn("is_test"),
      Stages.dropWhereValue("is_test")(_ === "TRUE"),
      Stages.closePayload)
    assert(filteredOnRemoved.map(_._1) == Seq(1L, 2L, 3L))

    // plan shape on a real file source: exactly one full-payload from_json
    val ev = sources.Changelog.fromEvents(spark, sfDir)
    val fusedPlan = Pipeline(
      Stages.openPayload,
      Stages.removeColumn("value"),
      Stages.dropWhereValue("k")(_.cast("int") > 90),
      Stages.closePayload)(ev)
    val planStr = fusedPlan.queryExecution.executedPlan.toString
    assert("from_json".r.findAllIn(planStr).length == 1,
      "fused payload pipeline must parse new_values exactly once")
  }

  test("payload stages keep each value's JSON type: materialize reads (7, 1.5)") {
    val in = changesets((1L, "INSERT", "public", "orders",
      """{"o_orderkey":7,"o_totalprice":1.5,"x":"pii"}""", null))
    val rowSchema = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType)))
    def materialized(stages: Pipeline.Stage*): Seq[(Long, Double)] =
      Materializer.materialize(Pipeline(stages: _*)(in), "o_orderkey",
        rowSchema).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    val fused = Pipeline(Stages.openPayload, Stages.removeColumn("x"),
      Stages.closePayload)
    assert(fused(in).select("new_values").head.getString(0) ==
      """{"o_orderkey":7,"o_totalprice":1.5}""")
    assert(materialized(fused) == Seq((7L, 1.5)))
    // the standalone stages, outside the payload domain, too
    assert(materialized(Stages.removeColumn("x")) == Seq((7L, 1.5)))
    assert(materialized(Stages.mapValue("x", upper)) == Seq((7L, 1.5)))
    // a rewritten value keeps the type its function returns
    assert(Stages.mapValue("o_orderkey", v => v.cast("int") + 1)(in)
      .select("new_values").head.getString(0) ==
      """{"o_orderkey":8,"o_totalprice":1.5,"x":"pii"}""")
  }

  test("whitelist patterns: schema.table, schema.*, bare table; ignore wins") {
    val in = changesets(
      (1L, "INSERT", "public", "users", "{}", null),
      (2L, "INSERT", "public", "pets", "{}", null),
      (3L, "INSERT", "app", "users", "{}", null),
      (4L, "INSERT", "app", "orders", "{}", null),
      (5L, "INSERT", "audit", "pets", "{}", null))
    // whitelist: exact, wildcard-schema, bare-table
    val wl = TableFilters.whitelist(Seq("public.users", "app.*", "pets"))(in)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(wl.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // ignore overrides whitelist (config.go:29-31)
    val out = Pipeline(
      TableFilters.whitelist(Seq("public.users", "app.*", "pets")),
      TableFilters.ignore(Seq("app.orders", "audit.*")))(in)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("kind normalization: case-insensitive, unknown → empty") {
    assert(ChangesetSchema.normalizeKind("insert") == "INSERT")
    assert(ChangesetSchema.normalizeKind("UpDaTe") == "UPDATE")
    assert(ChangesetSchema.normalizeKind("DELETE") == "DELETE")
    assert(ChangesetSchema.normalizeKind("truncate") == "")
    assert(ChangesetSchema.normalizeKind(null) == "")
  }

  test("pg type mapping") {
    assert(PgTypes.toSpark("character varying(40)") == StringType)
    assert(PgTypes.toSpark("bigint") == LongType)
    assert(PgTypes.toSpark("numeric(12,2)") == DecimalType(12, 2))
    assert(PgTypes.toSpark("_text") == ArrayType(StringType))
    assert(PgTypes.toSpark("integer[]") == ArrayType(IntegerType))
    assert(PgTypes.toSpark("timestamptz") == TimestampType)
  }

  // -- merge semantics (the §7.3.2 proof obligations):
  //    serial apply ≡ latest-per-key + set apply
  test("merge: upsert on missing key inserts; insert on existing key skips") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    import scala.jdk.CollectionConverters._
    val state = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")).asJava,
      schema)
    val batch = changesets(
      // dup insert on key 1 → must be skipped, state keeps "a"
      (10L, "INSERT", "p", "t", """{"id":1,"v":"DUP"}""", null),
      // upsert on missing key 3 → inserted
      (11L, "UPDATE", "p", "t", """{"id":3,"v":"c"}""", """{"id":3}"""),
      // delete key 2
      (12L, "DELETE", "p", "t", null, """{"id":2}"""),
      // two updates same key: only latest (id=14) wins
      (13L, "UPDATE", "p", "t", """{"id":4,"v":"old"}""", """{"id":4}"""),
      (14L, "UPDATE", "p", "t", """{"id":4,"v":"new"}""", """{"id":4}"""))
    val out = Materializer.merge(state, batch, "id", schema)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (3L, "c"), (4L, "new")))
  }

  test("merge skips unknown kinds like the reference dispatcher") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    import scala.jdk.CollectionConverters._
    val state = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, "a")).asJava, schema)
    val batch = changesets(
      (10L, "TRUNCATE", "p", "t", """{"id":1,"v":"zap"}""", null),
      (11L, "", "p", "t", """{"id":2,"v":"junk"}""", null),
      (12L, "UPDATE", "p", "t", """{"id":1,"v":"b"}""", """{"id":1}"""))
    val out = Materializer.merge(state, batch, "id", schema)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "b")))
  }

  test("merge applied twice ≡ applied once (idempotent at-least-once)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    import scala.jdk.CollectionConverters._
    val state = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, "a")).asJava, schema)
    val batch = changesets(
      (10L, "UPDATE", "p", "t", """{"id":1,"v":"x"}""", """{"id":1}"""),
      (11L, "INSERT", "p", "t", """{"id":2,"v":"y"}""", null))
    val once = Materializer.merge(state, batch, "id", schema)
    val twice = Materializer.merge(once, batch, "id", schema)
    assert(once.orderBy("id").collect().toSeq ==
      twice.orderBy("id").collect().toSeq)
  }

  test("replay since id/ts and point lookup") {
    val cs = Changelog.fromEvents(spark, sfDir)
    assert(Replay.sinceId(cs, 990L).count() == 10)
    assert(Replay.byId(cs, 5L).count() == 1)
    assert(Replay.maxId(cs).collect().head.getLong(0) == 999L)
  }

  test("ordered checksum equals reference fold; commutative detects diffs") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val h = Checksum.rowHash(col("k"), col("v"))
    val got = Checksum.orderedChecksum(df, col("k"), h)
      .collect().head.getString(0)
    // reproduce the fold by hand: state = md5(state || md5(row))
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = Seq("1|x", "2|y", "3|z")
      .foldLeft("")((st, row) => md5s(st + md5s(row)))
    assert(got == expect)

    val df2 = Seq((1L, "x"), (2L, "y"), (3L, "DIFFERENT")).toDF("k", "v")
    val c1 = Checksum.commutativeChecksum(df, h).collect().head
    val c2 = Checksum.commutativeChecksum(df2, h).collect().head
    assert(c1 != c2)
    // order-independence: same rows, different order → same checksum
    val c3 = Checksum.commutativeChecksum(df.orderBy(col("k").desc), h)
      .collect().head
    assert(c1 == c3)
  }

  test("chunked ordered checksum: partition-independent, tamper-sensitive") {
    import spark.implicits._
    // SPARSE keys (stride 1e9, snowflake-style): hash chunking must keep
    // chunk count bounded where range chunking would degrade to 1 row/chunk
    val keys = (1L to 1000L).map(_ * 1000000000L)
    val df = keys.map(i => (i, s"v$i")).toDF("k", "v")
    val h = Checksum.rowHash(col("k"), col("v"))
    // two-level hash-chunked chain reproduced by hand at numChunks=64
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def chunkOf(k: Long): Long =
      java.lang.Long.parseLong(md5s(k.toString).take(7), 16) % 64
    val digests = keys.groupBy(chunkOf).toSeq.sortBy(_._1).map {
      case (_, ks) => ks.sorted.foldLeft("")((st, k) => md5s(st + md5s(s"$k|v$k")))
    }
    val expect = digests.foldLeft("")((st, d) => md5s(st + d))
    val got = Checksum.orderedChecksumChunked(df, col("k"), h, 64)
      .collect().head.getString(0)
    assert(got == expect)
    // physical layout must not matter
    val got2 = Checksum.orderedChecksumChunked(
      df.repartition(7, col("v")), col("k"), h, 64).collect().head.getString(0)
    assert(got2 == got)
    // any row change flips it
    val tampered = df.withColumn("v",
      when(col("k") === 500000000000L, "TAMPERED").otherwise(col("v")))
    val got3 = Checksum.orderedChecksumChunked(tampered, col("k"), h, 64)
      .collect().head.getString(0)
    assert(got3 != got)
  }

  test("checksum compare: consistent tables agree, tampered tables do not") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((2L, "y"), (1L, "x")).toDF("k", "v")
    val h = Checksum.rowHash(col("k"), col("v"))
    val ok = Checksum.compare(a, b, col("k"), h).collect().head
    assert(ok.getAs[Boolean]("consistent"))
    val bad = Seq((1L, "x"), (2L, "TAMPERED")).toDF("k", "v")
    val ko = Checksum.compare(a, bad, col("k"), h).collect().head
    assert(!ko.getAs[Boolean]("consistent"))
  }
}
