package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{MemoryTailFeed, TailFeed}

class CdcTailSourceSpec extends AnyFunSuite {
  import SparkTestSession._

  private def change(id: Long, action: String, table: String): TailFeed.Change =
    TailFeed.Change(id, java.lang.Long.valueOf(id * 1000000L), action,
      "public", table, 1L, s"""{"id":$id}""", null)

  test("DSv2 tail source: micro-batches by id watermark, bounded triggers") {
    val feed = new MemoryTailFeed
    (1L to 25L).foreach(i => feed.append(change(i, "INSERT", "users")))
    TailFeed.register("t1", feed)

    val df = spark.readStream.format("graft.sources.v2.CdcTailProvider")
      .option("feed", "t1").option("maxIdsPerTrigger", "7")
      .option("partitions", "3").load()
    val q = df.writeStream.format("memory").queryName("tail1").start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()

    val got = spark.table("tail1").select("id").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq == (1L to 25L))
    // bounded triggers → more than one batch
    assert(q.recentProgress.length > 1)
  }

  test("DSv2 tail source: checkpoint resume picks up only new rows") {
    val feed = new MemoryTailFeed
    (1L to 10L).foreach(i => feed.append(change(i, "INSERT", "users")))
    TailFeed.register("t2", feed)
    val ckpt = Files.createTempDirectory("graft-tail-ckpt").toString
    val out = Files.createTempDirectory("graft-tail-out").toString

    def run(): Unit = {
      val df = spark.readStream.format("graft.sources.v2.CdcTailProvider")
        .option("feed", "t2").load()
      val q = df.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
    }
    run()
    // more rows arrive; a restarted query must resume from the checkpoint
    (11L to 15L).foreach(i => feed.append(change(i, "UPDATE", "users")))
    run()

    val got = spark.read.parquet(out)
    assert(got.count() == 15)  // no duplicates from the resume
    assert(got.filter(col("action") === "UPDATE").count() == 5)
  }

  test("planInputPartitions honors the checkpointed range over the read limit") {
    // Exactly-once contract: a batch recorded as (0, 20] in the offset log
    // must be planned in full even if the query restarted with a LOWER
    // maxIdsPerTrigger — the limit applies only when choosing latestOffset,
    // never when re-planning a checkpointed batch (re-clamping here would
    // silently skip ids 6..20 while the log marks them processed).
    import graft.sources.v2.{CdcMicroBatchStream, CdcRangePartition, IdOffset}
    val feed = new MemoryTailFeed
    (1L to 20L).foreach(i => feed.append(change(i, "INSERT", "users")))
    TailFeed.register("t4", feed)
    val stream = new CdcMicroBatchStream("t4", 0L, maxIdsPerTrigger = 5L,
      partitions = 3)
    val parts = stream.planInputPartitions(IdOffset(0L), IdOffset(20L))
      .map(_.asInstanceOf[CdcRangePartition]).sortBy(_.lo)
    assert(parts.head.lo == 0L && parts.last.hi == 20L)
    assert(parts.sliding(2).forall {
      case Array(a, b) => a.hi == b.lo
      case _ => true
    }, "partitions must tile the checkpointed range without gaps")
    // while latestOffset DOES apply the limit
    val next = stream.latestOffset(IdOffset(0L), stream.getDefaultReadLimit)
      .asInstanceOf[IdOffset]
    assert(next.maxId == 5L)
  }

  test("BATCH_READ: batch replay shares the tail source") {
    val feed = new MemoryTailFeed
    (1L to 30L).foreach(i => feed.append(change(i, "INSERT", "users")))
    TailFeed.register("t5", feed)

    // full replay from an id watermark (S3 semantics)
    val since = spark.read.format("graft.sources.v2.CdcTailProvider")
      .option("feed", "t5").option("startFromId", "10")
      .option("partitions", "4").load()
    assert(since.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == (11L to 30L))

    // bounded range replay (lo, hi]
    val ranged = spark.read.format("graft.sources.v2.CdcTailProvider")
      .option("feed", "t5").option("startFromId", "5").option("endId", "12")
      .load()
    assert(ranged.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == (6L to 12L))
  }

  test("DSv2 tail source feeds the standard pipeline + materializer") {
    val feed = new MemoryTailFeed
    feed.append(change(1, "INSERT", "users"))
    feed.append(change(2, "INSERT", "pets"))
    feed.append(TailFeed.Change(3, null, "DELETE", "public", "users", 1L,
      null, """{"id":1}"""))
    TailFeed.register("t3", feed)

    val df = spark.readStream.format("graft.sources.v2.CdcTailProvider")
      .option("feed", "t3").load()
    val filtered = graft.operators.TableFilters.whitelist(Seq("public.users"))(df)
    val q = filtered.writeStream.format("memory").queryName("tail3").start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val rows = spark.table("tail3").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(rows.last.getAs[String]("action") == "DELETE")
  }

  private def ranges(lo: Long, hi: Long, p: Int): Seq[(Long, Long)] =
    graft.sources.v2.CdcRangePartition.tile("f", lo, hi, p).toSeq
      .map(_.asInstanceOf[graft.sources.v2.CdcRangePartition])
      .map(r => (r.lo, r.hi))

  test("tile makes at most `partitions` ranges: (0, 3001] in 4") {
    // a floor step (750) would leave a fifth range holding only 3001
    assert(ranges(0L, 3001L, 4) ==
      Seq((0L, 751L), (751L, 1502L), (1502L, 2253L), (2253L, 3001L)))
    assert(ranges(5L, 5L, 3).isEmpty && ranges(9L, 5L, 3).isEmpty)
  }

  test("property: tile covers exactly (lo, hi] in at most p contiguous ranges") {
    import org.scalacheck.Gen
    val bound = Gen.oneOf(Gen.choose(-1000L, 1000L),
      Gen.choose(-4000000000L, 4000000000L),
      Gen.oneOf(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1,
        Long.MaxValue))
    val cases = for {
      a <- bound; b <- bound; p <- Gen.oneOf(Gen.choose(1, 8), Gen.choose(1, 64))
    } yield (math.min(a, b), math.max(a, b), p)
    PropertySamples.samples(cases, 300, 30011L).foreach { case (lo, hi, p) =>
      val rs = ranges(lo, hi, p)
      val ctx = s"tile($lo, $hi, $p) = $rs"
      if (hi == lo) assert(rs.isEmpty, ctx)
      else {
        assert(rs.nonEmpty && rs.sizeIs <= p, ctx)
        assert(rs.head._1 == lo && rs.last._2 == hi, ctx)
        assert(rs.forall { case (a, b) => a < b }, ctx)
        assert(rs.sliding(2).forall {
          case Seq((_, e), (s, _)) => e == s
          case _ => true
        }, ctx)
      }
    }
  }
}
