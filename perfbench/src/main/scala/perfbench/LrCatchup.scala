package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Wal2Json
import graft.streaming.JdbcApplySink

/**
 * lr_catchup — LR-mode catch-up of a backlog. Set-up writes `Changes`
 * orders changes as wal2json frames into `Segments` parquet files, each
 * given its own modification time so the file source drains them in
 * order; the warm-up batch is one batch-sized backlog of another seed.
 * A round drains the whole backlog with `Trigger.AvailableNow`
 * and `maxFilesPerTrigger = FilesPerTrigger` through `Wal2Json.decode`,
 * the stage chain and `JdbcApplySink.writer`, whose executor records
 * the statements. The timed phase runs whole rounds, one per
 * `RoundSeconds` of its time.
 */
final class LrCatchup(spark: SparkSession, seed: Long, dir: String, threads: Int,
                      progress: ProgressLog)
    extends Workload(spark, seed, dir, threads) {
  import Workload._
  override val items = "changes"
  override val scanRdd = "FileScanRDD"

  private val Changes = 30000
  private val Segments = 6
  private val FilesPerTrigger = 2
  private val RoundSeconds = 5.0

  private var backlog: Seq[GenChange] = Nil
  private var backlogDir: String = _
  private var frames = 0L
  private var round = 0
  private var statements = mutable.ArrayBuffer.empty[JdbcApplySink.Statement]
  private var execCalls = 0L
  private var batches = 0L

  private val pks = Map((OrdersGen.Schema, OrdersGen.Orders) -> Seq(OrdersGen.Pk))

  private def generate(s: Long, n: Int): Seq[GenChange] = {
    val g = new OrdersGen(s)
    val init = g.initial(1L, n / 10)
    init ++ (1 to n - init.size).map(j => g.next(init.size + j))
  }

  /** Write `frames` as `segs` parquet files named and dated in order. */
  private def writeBacklog(cs: Seq[GenChange], s: Long, segs: Int, out: String): Long = {
    import spark.implicits._
    val fs = Wal2JsonFrames.encode(cs, s)
    val per = (fs.size + segs - 1) / segs
    val staging = out + "__staging"
    fs.zipWithIndex.map { case (f, i) => (i / per, i.toLong + 1, f) }
      .toDF("seg", "msg_id", "msg")
      .repartition(segs, col("seg")).sortWithinPartitions("msg_id")
      .write.partitionBy("seg").parquet(staging)
    val outDir = new java.io.File(out)
    outDir.mkdirs()
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    (0 until segs).foreach { i =>
      val part = new java.io.File(s"$staging/seg=$i").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      val dst = new java.io.File(outDir, f"seg-$i%05d.parquet")
      require(part.renameTo(dst), s"cannot move $part")
      dst.setLastModified(t0 + i * 1000L)
    }
    fs.size.toLong
  }

  private def drain(in: String, ckpt: String,
                    exec: Seq[JdbcApplySink.Statement] => Unit) = {
    val raw = spark.readStream
      .schema("msg_id long, msg string")
      .option("maxFilesPerTrigger", FilesPerTrigger.toLong)
      .parquet(in)
    val write = JdbcApplySink.writer(pks, Map.empty, exec)
    stages(Filters)(Wal2Json.decode(raw, "msg_id", "msg"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => write(b, id) }
      .trigger(Trigger.AvailableNow()).start()
  }

  override def setup(): (Double, Double) = {
    val base = s"$dir/lr"
    val (_, inputS) = Clock.secondsOf {
      backlog = generate(seed, Changes)
      backlogDir = s"$base/backlog"
      frames = writeBacklog(backlog, seed, Segments, backlogDir)
      writeBacklog(generate(seed + 1, Changes * FilesPerTrigger / Segments), seed + 1,
        FilesPerTrigger, s"$base/warm")
    }
    val (_, warmS) = Clock.secondsOf {
      val q = drain(s"$base/warm", s"$base/warm-ckpt", _ => ())
      q.awaitTermination()
    }
    (inputS, warmS)
  }

  override def timed(seconds: Double, listener: Option[LayerListener]): Timed = {
    val snap = listener.map(l => (l, l.snapshot))
    val latency = mutable.ArrayBuffer.empty[(Double, Long)]
    val backlogs = mutable.ArrayBuffer.empty[Double]
    val all = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var drainS = 0.0
    var failedBatches = 0
    val n = rounds(seconds, RoundSeconds)
    (1 to n).foreach { _ =>
      round += 1
      val rec = mutable.ArrayBuffer.empty[JdbcApplySink.Statement]
      var calls = 0L
      val (q, s) = Clock.secondsOf {
        val q = drain(backlogDir, s"$dir/lr-round-$round/ckpt", st => { calls += 1; rec ++= st })
        q.awaitTermination()
        q
      }
      drainS += s
      statements = rec
      execCalls += calls
      val ps = awaitProgress(q.runId)
      batches += ps.size
      all ++= ps
      var left = frames
      ps.foreach { p =>
        latency += (Progress.dur(p, "triggerExecution") -> p.numInputRows)
        left -= p.numInputRows
        backlogs += left.toDouble
      }
      if (q.exception.isDefined) failedBatches += 1
    }
    val attempted = n.toLong * backlog.size
    val applied = all.map(_.numInputRows).sum == n * frames
    Timed(attempted, if (applied) 0L else attempted, all.size, failedBatches,
      Stats.weightedMedian(latency.toSeq), attempted / drainS, drainS / attempted,
      progressLayers(all.toSeq, snap, attempted, backlogs.toSeq) +
        ("gen.late_ms_max" -> 0.0))
  }

  /** Wait until the drained query's frames are all reported. */
  private def awaitProgress(id: java.util.UUID) = {
    val deadline = System.nanoTime() + 30e9.toLong
    def got = progress.batches(id)
    while (got.map(_.numInputRows).sum < frames && System.nanoTime() < deadline)
      Thread.sleep(5)
    got
  }

  private lazy val model =
    new SerialModel(OrdersGen.Schema, OrdersGen.Pk, Filters).applyAll(backlog)

  private lazy val replayed = {
    val r = new StatementReplayer(OrdersGen.rowSchema, OrdersGen.Pk)
    statements.foreach(s => r.apply(s.sql, s.payloadJson))
    r.tables.getOrElse((OrdersGen.Schema, OrdersGen.Orders), mutable.Map.empty)
  }

  override def verify(): Verified = {
    val want = Canon.rows(OrdersGen.rowSchema, model.rows.values)
    val got = replayed.values.toSet
    val errs = Seq.newBuilder[String]
    if (got != want)
      errs += s"replayed statements differ from the serial model: ${(got diff want).size} " +
        s"extra, ${(want diff got).size} missing of ${want.size} rows"
    def frame(rows: Iterable[Seq[Any]]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq.map(Row.fromSeq), threads),
      OrdersGen.rowSchema)
    val (same, srcS, tgtS) = checksumCompare(frame(want), frame(got), OrdersGen.rowSchema,
      OrdersGen.Pk)
    if (!same) errs += "Checksum reports replayed target and model inconsistent"
    Verified(errs.result(), srcS + tgtS, srcS, tgtS)
  }

  /** SQL plus payload bytes handed to the target per statement. */
  override def bytesPerRow: Double =
    statements.map(s => s.sql.length + Option(s.payloadJson).map(_.length).getOrElse(0))
      .sum.toDouble / math.max(1, statements.size)

  override def replays(): Map[String, Double] = {
    val captured = backlog.slice(backlog.size / 2, backlog.size / 2 + 5000)
    val (docs, block) = corpusFrames(spark, seed)
    commonReplays(spark, captured,
      graft.operators.Materializer.emptyVersionedState(spark, OrdersGen.rowSchema),
      OrdersGen.Pk, OrdersGen.rowSchema, docs, block, seed) ++
      Map(
        "state.files_per_batch" -> 0.0,
        "apply.exec_calls_per_batch" -> execCalls.toDouble / math.max(1L, batches),
        "prep.admitted_per_doc" -> 0.0)
  }
}
