package perfbench

import scala.collection.mutable

/** One column value of a generated change: name, Postgres type, and the
  * value as JSON text (numbers raw, strings already quoted). */
final case class ColVal(name: String, pgType: String, json: String)

/**
 * One generated source change, independent of any capture format. The
 * same change renders as an audit-table row ([[auditNew]]/[[auditOld]])
 * or as a wal2json entry ([[Wal2JsonFrames]]), so every workload and
 * every traced replay reads the same inputs.
 *
 * `action` keeps the generator's casing (some changes are lower- or
 * mixed-case on purpose, to exercise kind normalization).
 */
final case class GenChange(id: Long, action: String, table: String,
                           cols: Seq[ColVal], oldKey: Option[ColVal]) {
  def auditNew: String =
    if (cols.isEmpty) null
    else cols.map(c => Json.str(c.name) + ":" + c.json).mkString("{", ",", "}")
  def auditOld: String =
    oldKey.map(c => "{" + Json.str(c.name) + ":" + c.json + "}").orNull
}

object Json {
  /** A JSON string literal (quotes included). */
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}

/** Word lists shared by the text generators. */
object Words {
  val stop: Array[String] = Array("the", "and", "of", "to", "in", "a", "is",
    "that", "for", "it", "with", "as", "was", "on", "by", "at", "from")

  /** `n` distinct pseudo-words of 3 to 9 lowercase letters. */
  def vocabulary(rnd: java.util.SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + rnd.nextInt(7)
      seen += (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }
}

/**
 * Seeded changes to an orders-shaped table (the columns of the `orders`
 * fixture, FIXTURES.md §2) plus a noise table.
 *
 * Each order goes through a TPC-H lifecycle: an INSERT; one UPDATE per
 * lineitem as it ships, the status following TPC-H's rule for
 * `o_orderstatus` ('O' while no lineitem has shipped, 'P' while some
 * have, 'F' once all have); a DELETE once every lineitem has shipped,
 * followed by the INSERT of a new order, so that the table keeps its
 * size as under TPC-H's paired refresh functions (RF1 inserts as many
 * orders as RF2 deletes). Every change picks a live order at random and
 * takes its next lifecycle step. What comes from the fixture (sf0.001):
 * lineitems per order (`LineitemsPerOrder`, mean 4.0, so UPDATE :
 * INSERT : DELETE is about 4 : 1 : 1), the five priorities and their
 * counts, ten orders per customer, and the ranges of `o_totalprice` and
 * `o_orderdate`. The value filter drops the '4-NOT SPECIFIED' priority,
 * 19.8% of orders in the fixture.
 *
 * Unmeasured assumptions, there to exercise the filters and the apply
 * semantics: 4% of changes are inserts into the noise table (dropped by
 * the ignore filter), 2% are redelivered INSERTs of a live order
 * (skipped by the apply semantics), and 10% of actions are lower-case.
 */
final class OrdersGen(seed: Long) {
  import OrdersGen._
  private val rnd = new java.util.SplittableRandom(seed)

  private final class Order(val key: Long, val custkey: Long, val cents: Long,
                            val day: Int, val priority: String, val lineitems: Int,
                            var shipped: Int)

  // live orders with O(1) random pick and removal (swap-remove)
  private val live = mutable.ArrayBuffer.empty[Order]
  private var customers = 1
  private var nextKey = 1L
  private var nextNoise = 1L
  private var replaceDeleted = false

  private def pickLive(): Int = rnd.nextInt(live.length)
  private def removeLive(i: Int): Unit = {
    val last = live.remove(live.length - 1)
    if (i < live.length) live(i) = last
  }

  private def weighted(ws: Array[Int]): Int = {
    var r = rnd.nextInt(ws.sum)
    var i = 0
    while (r >= ws(i)) { r -= ws(i); i += 1 }
    i
  }

  private def casing(action: String): String =
    if (rnd.nextInt(10) == 0) action.toLowerCase else action

  /** A new order whose lineitem count is drawn with weights `ws`. */
  private def order(ws: Array[Int]): Order = {
    val k = nextKey; nextKey += 1
    val o = new Order(k, rnd.nextInt(customers).toLong,
      MinCents + rnd.nextLong(MaxCents - MinCents + 1), rnd.nextInt(Days),
      Priorities(weighted(PriorityCounts)), weighted(ws), 0)
    live += o
    o
  }

  private def row(o: Order, shipped: Int): Seq[ColVal] = {
    val status = if (shipped >= o.lineitems) "F" else if (shipped == 0) "O" else "P"
    Seq(ColVal("o_orderkey", "bigint", o.key.toString),
      ColVal("o_custkey", "bigint", o.custkey.toString),
      ColVal("o_orderstatus", "text", Json.str(status)),
      ColVal("o_totalprice", "double precision", f"${o.cents / 100}%d.${o.cents % 100}%02d"),
      ColVal("o_orderdate", "date", Json.str(FirstDay.plusDays(o.day.toLong).toString)),
      ColVal("o_orderpriority", "text", Json.str(o.priority)))
  }

  /**
   * `n` INSERTs of fresh orders (the bootstrap state), ids from
   * `firstId`. Each starts at a random point of its lifecycle, with
   * lineitem counts weighted by lifecycle length, as in the steady state.
   */
  def initial(firstId: Long, n: Int): Seq[GenChange] = {
    customers = math.max(1, n / OrdersPerCustomer)
    val steady = LineitemsPerOrder.zipWithIndex.map { case (c, li) => c * (li + 1) }
    (0 until n).map { i =>
      val o = order(steady)
      o.shipped = rnd.nextInt(o.lineitems + 1)
      GenChange(firstId + i, "INSERT", Orders, row(o, o.shipped), None)
    }
  }

  def next(id: Long): GenChange = {
    val r = rnd.nextInt(100)
    if (r < 4) {
      val n = nextNoise; nextNoise += 1
      GenChange(id, casing("INSERT"), Noise,
        Seq(ColVal("n_id", "bigint", n.toString), ColVal("note", "text", Json.str(s"note $n"))),
        None)
    } else if (live.isEmpty || replaceDeleted) {
      replaceDeleted = false
      GenChange(id, casing("INSERT"), Orders, row(order(LineitemsPerOrder), 0), None)
    } else if (r < 6) {
      GenChange(id, casing("INSERT"), Orders, row(live(pickLive()), 0), None)
    } else {
      val i = pickLive()
      val o = live(i)
      if (o.shipped < o.lineitems) {
        o.shipped += 1
        GenChange(id, casing("UPDATE"), Orders, row(o, o.shipped), None)
      } else {
        removeLive(i)
        replaceDeleted = true
        GenChange(id, casing("DELETE"), Orders, Nil,
          Some(ColVal("o_orderkey", "bigint", o.key.toString)))
      }
    }
  }
}

object OrdersGen {
  val Schema = "public"
  val Orders = "orders"
  val Noise = "audit_noise"
  val Pk = "o_orderkey"
  val DropPriority = "4-NOT SPECIFIED"

  /** Orders of the sf0.001 fixture by lineitem count 0 to 12 (1,500
    * orders, 6,000 lineitems). */
  val LineitemsPerOrder: Array[Int] =
    Array(27, 108, 225, 294, 299, 224, 139, 107, 46, 21, 7, 2, 1)
  /** The fixture's priorities and their order counts. */
  val Priorities: Array[String] =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val PriorityCounts: Array[Int] = Array(273, 316, 320, 297, 294)
  /** The fixture has 150 customers for 1,500 orders. */
  val OrdersPerCustomer = 10
  /** The fixture's `o_totalprice` range, in cents. */
  val MinCents = 132051L
  val MaxCents = 49970505L
  /** The fixture's `o_orderdate` range: 1995-01-01 to 2001-08-01. */
  val FirstDay: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 1)
  val Days: Int = (java.time.LocalDate.of(2001, 8, 1).toEpochDay - FirstDay.toEpochDay + 1).toInt

  import org.apache.spark.sql.types._
  val rowSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", StringType),
    StructField("o_orderpriority", StringType)))
}

/** Encode generated changes as wal2json messages: consecutive changes
  * are grouped into transactions of 1 to 4 changes, one message each. */
object Wal2JsonFrames {
  def encode(changes: Seq[GenChange], seed: Long): Seq[String] = {
    val rnd = new java.util.SplittableRandom(seed)
    val out = Seq.newBuilder[String]
    var i = 0
    var lsn = 0x16B0000L
    while (i < changes.length) {
      val n = math.min(1 + rnd.nextInt(4), changes.length - i)
      val entries = changes.slice(i, i + n).map(entry)
      lsn += 64 * n
      out += entries.mkString("{\"change\":[", ",", "],\"nextlsn\":" +
        Json.str(f"0/${lsn}%X") + "}")
      i += n
    }
    out.result()
  }

  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private def entry(c: GenChange): String = {
    val head = s"""{"kind":${Json.str(c.action.toLowerCase)},"schema":${Json.str(OrdersGen.Schema)},"table":${Json.str(c.table)}"""
    val cols =
      if (c.cols.isEmpty) ""
      else s""","columnnames":${arr(c.cols.map(x => Json.str(x.name)))},"columntypes":${arr(c.cols.map(x => Json.str(x.pgType)))},"columnvalues":${arr(c.cols.map(_.json))}"""
    val old = c.oldKey.fold("") { k =>
      s""","oldkeys":{"keynames":[${Json.str(k.name)}],"keytypes":[${Json.str(k.pgType)}],"keyvalues":[${k.json}]}"""
    }
    head + cols + old + "}"
  }
}

/** One generated training document and why it is in the corpus. */
final case class Doc(id: Long, text: String, kind: String)

object Doc {
  val Unique = "unique"
  val ExactDup = "exact_dup"
  val NearDup = "near_dup"
  val Blocked = "blocked"
  val Junk = "junk"
}

/**
 * Seeded corpus: unique documents of 40 to 80 words (stopwords mixed
 * into a 3,000-word vocabulary, so every one passes the quality filter),
 * plus planted copies: 8% exact duplicates of an earlier unique document,
 * 8% one-word-edit near-duplicates of one, 4% copies of a blocklisted
 * text, and 2% junk (digits and symbols) the quality filter rejects.
 */
final class CorpusGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val vocab = Words.vocabulary(new java.util.SplittableRandom(seed ^ 0xc0ffeeL), 3000)
  private val uniques = mutable.ArrayBuffer.empty[String]

  private def text(): String =
    (0 until 40 + rnd.nextInt(41)).map { _ =>
      if (rnd.nextInt(4) == 0) Words.stop(rnd.nextInt(Words.stop.length))
      else vocab(rnd.nextInt(vocab.length))
    }.mkString(" ")

  /** The blocklist: `n` texts shaped like documents. */
  val blocklist: IndexedSeq[String] = (0 until 100).map(_ => text())

  def docs(firstId: Long, n: Int): Seq[Doc] = (0 until n).map { i =>
    val id = firstId + i
    val r = rnd.nextInt(100)
    if (uniques.isEmpty || r >= 22) {
      val t = text(); uniques += t; Doc(id, t, Doc.Unique)
    } else if (r < 8) Doc(id, uniques(rnd.nextInt(uniques.length)), Doc.ExactDup)
    else if (r < 16) {
      val w = uniques(rnd.nextInt(uniques.length)).split(" ")
      w(rnd.nextInt(w.length)) = "edited" + rnd.nextInt(1000)
      Doc(id, w.mkString(" "), Doc.NearDup)
    } else if (r < 20) Doc(id, blocklist(rnd.nextInt(blocklist.length)), Doc.Blocked)
    else Doc(id, (0 until 6).map(_ => "#" + rnd.nextInt(100000) + "$%").mkString(" "), Doc.Junk)
  }

  def change(d: Doc): GenChange =
    GenChange(d.id, "INSERT", CorpusGen.Table,
      Seq(ColVal("doc_id", "bigint", d.id.toString),
        ColVal("text", "text", Json.str(d.text))), None)
}

object CorpusGen {
  val Table = "documents"
  import org.apache.spark.sql.types._
  val rowSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
}
