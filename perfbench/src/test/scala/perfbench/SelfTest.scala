package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.JdbcBootstrap

/**
 * Small tests of the benchmark's independent checks. Run with
 * `python3 perfbench/test.py` from the repository root; exits non-zero
 * when a test fails.
 */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def user(id: Long, key: Int, action: String, first: String) =
    GenChange(id, action, "users",
      if (action == "DELETE") Nil
      else Seq(ColVal("id", "integer", key.toString),
        ColVal("first_name", "text", Json.str(first))),
      if (action == "DELETE") Some(ColVal("id", "integer", key.toString)) else None)

  private val everything = FilterSpec(Nil, Nil, "is_test", "TRUE")

  def serialModelTests(): Unit = {
    test("serial model: users fixture insert, insert, delete, update") {
      val m = new SerialModel("public", "id", everything).applyAll(Seq(
        user(1, 1, "INSERT", "Bob"), user(2, 2, "INSERT", "Alice"),
        user(3, 1, "DELETE", ""), user(4, 2, "UPDATE", "Leia")))
      expect(m.rows.keySet == Set("2"), s"keys ${m.rows.keySet}")
      expect(m.rows("2")("first_name") == "\"Leia\"", s"row ${m.rows("2")}")
    }
    test("serial model: INSERT skips a live key, UPDATE upserts, DELETE of an absent key is a no-op") {
      val m = new SerialModel("public", "id", everything).applyAll(Seq(
        user(1, 1, "INSERT", "Bob"), user(2, 1, "INSERT", "Bobby"),
        user(3, 7, "UPDATE", "New"), user(4, 9, "DELETE", "")))
      expect(m.rows("1")("first_name") == "\"Bob\"", "a live key was overwritten by INSERT")
      expect(m.rows.contains("7"), "UPDATE of an absent key did not insert")
      expect(m.rows.size == 2, s"rows ${m.rows}")
    }
    test("serial model: table filters, kind normalization and the value filter") {
      val f = FilterSpec(Seq("public.*"), Seq("public.audit_noise"), "first_name", "X")
      val noise = GenChange(5, "INSERT", "audit_noise", Seq(ColVal("id", "integer", "5")), None)
      val m = new SerialModel("public", "id", f).applyAll(Seq(
        user(1, 1, "insert", "Bob"), noise, user(2, 2, "INSERT", "X"),
        user(3, 1, "Update", "X"), user(4, 3, "TRUNCATE", "Zed")))
      expect(m.rows.keySet == Set("1"), s"keys ${m.rows.keySet}")
      expect(m.rows("1")("first_name") == "\"Bob\"", "a filtered UPDATE was applied")
    }
  }

  def ordersGenTests(): Unit = {
    test("orders generator: TPC-H lifecycle keeps the table size, about 4 UPDATEs per order") {
      val g = new OrdersGen(3)
      val cs = g.initial(1, 2000) ++ (1 to 30000).map(j => g.next(2000L + j))
      val orders = new SerialModel("public", "o_orderkey",
        FilterSpec(Seq("public.orders"), Nil, "none", "none")).applyAll(cs)
      expect(math.abs(orders.rows.size - 2000) <= 1, s"${orders.rows.size} live orders")
      val timed = cs.drop(2000).filter(_.table == OrdersGen.Orders)
      def count(kind: String) = timed.count(_.action.equalsIgnoreCase(kind))
      val (ins, upd, del) = (count("INSERT"), count("UPDATE"), count("DELETE"))
      val perOrder = upd.toDouble / del
      expect(perOrder > 3.5 && perOrder < 4.5, s"$perOrder UPDATEs per DELETE")
      // fresh INSERTs replace DELETEs one for one; the rest are redeliveries
      val redelivered = ins - del
      expect(redelivered > 0.01 * cs.size && redelivered < 0.03 * cs.size,
        s"$redelivered redelivered INSERTs")
      val statuses = timed.filter(_.action.equalsIgnoreCase("UPDATE"))
        .flatMap(_.cols.find(_.name == "o_orderstatus")).map(_.json).toSet
      expect(statuses == Set("\"P\"", "\"F\""), s"UPDATE statuses $statuses")
    }
  }

  def replayerTests(): Unit = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val cols = Seq("id", "name")
    test("statement replayer: DO NOTHING, upsert, delete, setval") {
      val r = new StatementReplayer(schema, "id")
      r.apply(JdbcBootstrap.insertSql("public", "t", cols), """{"id":1,"name":"a"}""")
      r.apply(JdbcBootstrap.insertSql("public", "t", cols), """{"id":1,"name":"dup"}""")
      r.apply(JdbcBootstrap.insertSql("public", "t", cols), """{"id":2,"name":"b"}""")
      r.apply(JdbcBootstrap.upsertSql("public", "t", cols, Seq("id")), """{"id":2,"name":"B"}""")
      r.apply(JdbcBootstrap.upsertSql("public", "t", cols, Seq("id")), """{"id":3,"name":"c"}""")
      r.apply(JdbcBootstrap.deleteSql("public", "t", Seq("id")), """{"id":3}""")
      r.apply(JdbcBootstrap.syncSequenceSql("public.t_id_seq", 9), null)
      val t = r.tables(("public", "t"))
      expect(t.toMap == Map(1L -> Seq(1L, "a"), 2L -> Seq(2L, "B")), s"table $t")
    }
    test("statement replayer: rejects a statement it cannot read") {
      val r = new StatementReplayer(schema, "id")
      val threw = try { r.apply("TRUNCATE t", null); false }
      catch { case _: IllegalArgumentException => true }
      expect(threw, "unknown statement accepted")
    }
  }

  def corpusTests(): Unit = {
    val offered = Seq(
      Doc(1, "alpha beta gamma", Doc.Unique), Doc(2, "alpha beta gamma", Doc.ExactDup),
      Doc(3, "blocked text here", Doc.Blocked), Doc(4, "#1$% #2$%", Doc.Junk),
      Doc(5, "delta epsilon zeta", Doc.Unique))
    val block = Set("blocked text here")
    val bloom = new BloomModel(block, 1e-3)
    val good = Seq(Admitted(1, "alpha beta gamma", "train"), Admitted(5, "delta epsilon zeta", "val"))
    val acct = Seq(SplitCount("train", 1, 3), SplitCount("val", 1, 3))
    test("corpus checks: a correct drain passes") {
      val errs = CorpusChecks.check(offered, block, bloom, good, acct)
      expect(errs.isEmpty, errs.mkString("; "))
    }
    def fails(name: String, admitted: Seq[Admitted], accounting: Seq[SplitCount]): Unit =
      test(s"corpus checks: $name is caught") {
        expect(CorpusChecks.check(offered, block, bloom, admitted, accounting).nonEmpty,
          "no check failed")
      }
    fails("a blocklisted text admitted",
      good :+ Admitted(3, "blocked text here", "train"), acct :+ SplitCount("train", 1, 3))
    fails("a text admitted twice",
      good :+ Admitted(2, "alpha beta gamma", "test"), acct :+ SplitCount("test", 1, 3))
    fails("a junk document admitted",
      good :+ Admitted(4, "#1$% #2$%", "test"), acct :+ SplitCount("test", 1, 2))
    fails("a unique document lost", good.take(1), acct.take(1))
    fails("accounting that does not sum", good, Seq(SplitCount("train", 2, 6)))
  }

  /** The Bloom model must agree with the library's filter bit for bit. */
  def bloomTest(spark: SparkSession): Unit = test("Bloom model matches graft.functions.Bloom") {
    import spark.implicits._
    val g = new CorpusGen(7)
    val keys = g.blocklist
    val probes = g.docs(1, 3000).map(_.text) ++ keys
    val (m, k) = graft.functions.Bloom.sizeFor(keys.size.toLong, 1e-3)
    val model = new BloomModel(keys, 1e-3)
    expect(model.m == m && model.k == k, s"sizing (${model.m}, ${model.k}) vs ($m, $k)")
    val filter = graft.functions.Bloom.build(keys.toDF("text"), col("text"), m, k)
    val got = probes.toDF("text").crossJoin(filter)
      .select(col("text"), graft.functions.Bloom.mightContain(col("__bloom"), col("text"), m, k))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val differ = probes.filter(p => got(p) != model.mightContain(p))
    expect(differ.isEmpty, s"${differ.size} probes disagree")
    expect(keys.forall(model.mightContain), "a blocklisted key is not a member")
  }

  def main(args: Array[String]): Unit = {
    serialModelTests()
    ordersGenTests()
    replayerTests()
    corpusTests()
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try bloomTest(spark) finally spark.stop()
    println(if (failures == 0) "all tests passed" else s"$failures tests failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
