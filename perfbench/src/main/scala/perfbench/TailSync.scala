package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.v2.{MemoryTailFeed, TailFeed}
import graft.streaming.ChangesetStream

/**
 * tail_sync — the audit-mode steady tail. A single-thread open-loop
 * generator appends changes at `Rate` per second to a `MemoryTailFeed`;
 * the query reads them through `CdcTailProvider`, runs the stage chain
 * and materializes into a versioned state table bootstrapped with
 * `InitialKeys` orders. The warm-up batch is one second of traffic
 * applied to the bootstrapped state before timing starts.
 */
final class TailSync(spark: SparkSession, seed: Long, dir: String, threads: Int,
                     progress: ProgressLog)
    extends Workload(spark, seed, dir, threads) {
  override val items = "changes"
  import Workload._

  private val InitialKeys = 20000
  private val Rate = 2000

  private var gen: OrdersGen = _
  private var feed: MemoryTailFeed = _
  private var query: StreamingQuery = _
  private var statePath: String = _
  private val changes = mutable.ArrayBuffer.empty[GenChange]
  private var captured: Seq[GenChange] = Nil
  private var lateMs = 0.0

  override def setup(): (Double, Double) = {
    val name = "tail"
    val (_, inputS) = Clock.secondsOf {
      gen = new OrdersGen(seed)
      feed = new MemoryTailFeed
      changes ++= gen.initial(1L, InitialKeys)
      changes.foreach(c => feed.append(tailChange(c)))
      TailFeed.register(name, feed)
    }
    statePath = s"$dir/$name/state"
    val (_, warmS) = Clock.secondsOf {
      val cs = spark.readStream.format("graft.sources.v2.CdcTailProvider")
        .option("feed", name).option("maxIdsPerTrigger", InitialKeys.toString)
        .option("partitions", threads.toString).load()
      query = ChangesetStream.materializeTo(stages(Filters)(cs), statePath,
        s"$dir/$name/ckpt", OrdersGen.Pk, OrdersGen.rowSchema, availableNow = false)
      query.processAllAvailable()
      // the warm-up batch: one second of traffic against the bootstrapped
      // state, so the timed batches run the steady-state plan warm
      val warm = (1 to Rate).map(j => gen.next(InitialKeys + j))
      changes ++= warm
      warm.foreach(c => feed.append(tailChange(c)))
      query.processAllAvailable()
    }
    (inputS, warmS)
  }

  override def timed(seconds: Double, listener: Option[LayerListener]): Timed = {
    val n = math.max(1, (Rate * seconds).toInt)
    val base = changes.last.id
    val batch = (1 to n).map(j => gen.next(base + j))
    val rows = batch.map(tailChange)
    changes ++= batch
    if (captured.isEmpty) captured = batch.take(Rate)
    val snap = listener.map(l => (l, l.snapshot))
    val failed0 = progress.failedQueries
    val periodNs = 1e9 / Rate
    val t0w = System.currentTimeMillis()
    val t0n = System.nanoTime()
    val gen0 = new Thread(() => {
      var maxLate = 0L
      rows.indices.foreach { j =>
        val due = t0n + (j * periodNs).toLong
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(math.min(due - now, 2000000L))
          now = System.nanoTime()
        }
        feed.append(rows(j))
        maxLate = math.max(maxLate, System.nanoTime() - due)
      }
      lateMs = maxLate / 1e6
    }, "perfbench-generator")
    gen0.start()
    gen0.join()
    val lastId = base + n
    query.processAllAvailable()
    val ps = awaitProgress(lastId).filter(p => Progress.idRange(p)._2 > base)
    // freshness of the changes a committed batch covered; any other
    // timed change counts as failed
    val fresh = mutable.ArrayBuffer.empty[Double]
    ps.foreach { p =>
      val (s, e) = Progress.idRange(p)
      val commit = Progress.commitMillis(p)
      (math.max(s, base) + 1 to math.min(e, lastId)).foreach { id =>
        fresh += commit - (t0w + (id - base - 1) * 1000.0 / Rate)
      }
    }
    val lastCommit = ps.map(Progress.commitMillis).maxOption.getOrElse(t0w)
    val freshness = Stats.median(fresh)
    val backlog = ps.map(p => (Progress.latestId(p) - Progress.idRange(p)._2).toDouble)
    Timed(
      attempted = n, failed = n - fresh.size, batches = ps.size,
      failedBatches = progress.failedQueries - failed0,
      freshnessMs = freshness,
      perSecond = n / math.max(1e-3, (lastCommit - t0w) / 1e3),
      cost = freshness / 1e3,
      layers = progressLayers(ps, snap, n, backlog) + ("gen.late_ms_max" -> lateMs))
  }

  /** Progress events reach the listener asynchronously: wait until the
    * batch ending at `lastId` has been reported. */
  private def awaitProgress(lastId: Long) = {
    val deadline = System.nanoTime() + 30e9.toLong
    def got = progress.batches(query.runId)
    while (!got.exists(p => Progress.idRange(p)._2 >= lastId) && System.nanoTime() < deadline)
      Thread.sleep(5)
    got
  }

  private lazy val model =
    new SerialModel(OrdersGen.Schema, OrdersGen.Pk, Filters).applyAll(changes)

  private def target = ChangesetStream.readState(spark, statePath)

  override def verify(): Verified = {
    query.stop(); query.awaitTermination()
    val want = Canon.rows(OrdersGen.rowSchema, model.rows.values)
    val got = target.collect().map(_.toSeq).toSet
    val errs = Seq.newBuilder[String]
    if (got != want)
      errs += s"state differs from the serial model: ${(got diff want).size} extra, " +
        s"${(want diff got).size} missing of ${want.size} rows"
    val source = spark.createDataFrame(
      spark.sparkContext.parallelize(want.toSeq.map(Row.fromSeq), threads),
      OrdersGen.rowSchema)
    val (same, srcS, tgtS) = checksumCompare(source, target, OrdersGen.rowSchema, OrdersGen.Pk)
    if (!same) errs += "Checksum reports target and model inconsistent"
    Verified(errs.result(), srcS + tgtS, srcS, tgtS)
  }

  override def bytesPerRow: Double =
    Disk.bytes(statePath).toDouble / math.max(1, model.rows.size)

  override def replays(): Map[String, Double] = {
    val (docs, block) = corpusFrames(spark, seed)
    commonReplays(spark, captured, spark.read.parquet(statePath), OrdersGen.Pk,
      OrdersGen.rowSchema, docs, block, seed) ++ Map(
      "state.files_per_batch" -> Disk.files(statePath).size.toDouble,
      "apply.exec_calls_per_batch" -> 0.0,
      "prep.admitted_per_doc" -> 0.0)
  }
}
