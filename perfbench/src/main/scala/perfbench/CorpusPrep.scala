package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Pipeline, Stages, TableFilters}
import graft.sources.v2.{MemoryTailFeed, TailFeed}
import graft.streaming.StreamOps

/**
 * corpus_prep — training-data ingest captured as CDC. Document INSERTs
 * are appended to a `MemoryTailFeed` and read through `CdcTailProvider`
 * with `maxIdsPerTrigger = RoundDocs`, then drained by
 * `StreamOps.prepPipelineTo` (Bloom decontamination, near-duplicate
 * dedup state, quality filter, split) with `Trigger.AvailableNow`.
 * Set-up's warm-up epoch admits `WarmDocs` documents into the dedup
 * state; each timed round appends `RoundDocs` more and drains them with
 * the same checkpoint, output and state, so later documents are checked
 * against everything admitted before. An epoch costs about the same
 * whether it holds 1,000 or 2,000 documents, so a round is one epoch.
 */
final class CorpusPrep(spark: SparkSession, seed: Long, dir: String, threads: Int,
                       progress: ProgressLog)
    extends Workload(spark, seed, dir, threads) {
  import Workload._
  override val items = "documents"

  private val WarmDocs = 500
  private val RoundDocs = 2000
  private val RoundSeconds = 10.0
  /** `prepPipelineTo`'s default false-positive rate, which the checks assume. */
  private val Fpp = 1e-3

  private var gen: CorpusGen = _
  private var feed: MemoryTailFeed = _
  private var feedName: String = _
  private var base: String = _
  private val offered = mutable.ArrayBuffer.empty[Doc]
  private var epochs = 0L

  private def block: DataFrame = {
    import spark.implicits._
    gen.blocklist.toDF("text")
  }

  private def source(feed: String): DataFrame = {
    val cs = spark.readStream.format("graft.sources.v2.CdcTailProvider")
      .option("feed", feed).option("maxIdsPerTrigger", RoundDocs.toString)
      .option("partitions", threads.toString).load()
    Pipeline(TableFilters.whitelist(Seq(s"${OrdersGen.Schema}.${CorpusGen.Table}")),
      Stages.normalizeKind)(cs)
      .filter(col("action") === "INSERT")
      .select(get_json_object(col("new_values"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("new_values"), "$.text").as("text"))
  }

  /** Append `n` more generated documents to the feed. */
  private def offer(n: Int): Unit = {
    val ds = gen.docs(offered.size + 1L, n)
    offered ++= ds
    ds.foreach(d => feed.append(tailChange(gen.change(d))))
  }

  /** Drain everything offered so far through one AvailableNow query. */
  private def drain(): StreamingQuery =
    StreamOps.prepPipelineTo(source(feedName), block, s"$base/out", s"$base/state",
      s"$base/ckpt", "doc_id", "text", fpp = Fpp)

  override def setup(): (Double, Double) = {
    val (_, inputS) = Clock.secondsOf {
      gen = new CorpusGen(seed)
      feed = new MemoryTailFeed
      feedName = "docs"
      base = s"$dir/corpus"
      TailFeed.register(feedName, feed)
      offer(WarmDocs)
    }
    val (_, warmS) = Clock.secondsOf(drain().awaitTermination())
    epochs += 1
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
      offer(RoundDocs)
      val (q, s) = Clock.secondsOf { val q = drain(); q.awaitTermination(); q }
      drainS += s
      val ps = awaitProgress(q.runId, offered.size)
      epochs += ps.size
      all ++= ps
      ps.foreach { p =>
        latency += (Progress.dur(p, "triggerExecution") -> p.numInputRows)
        backlogs += (Progress.latestId(p) - Progress.idRange(p)._2).toDouble
      }
      if (q.exception.isDefined) failedBatches += 1
    }
    val attempted = n.toLong * RoundDocs
    val processed = all.map(_.numInputRows).sum
    Timed(attempted, attempted - processed, all.size, failedBatches,
      Stats.weightedMedian(latency.toSeq), attempted / drainS, drainS / attempted,
      progressLayers(all.toSeq, snap, attempted, backlogs.toSeq) +
        ("gen.late_ms_max" -> 0.0))
  }

  /** Wait until the query's batches through document `lastId` are reported. */
  private def awaitProgress(id: java.util.UUID, lastId: Long) = {
    val deadline = System.nanoTime() + 30e9.toLong
    def got = progress.batches(id)
    while (!got.exists(p => Progress.idRange(p)._2 >= lastId) && System.nanoTime() < deadline)
      Thread.sleep(5)
    got
  }

  private def docsOut = spark.read.parquet(s"$base/out/docs")

  private lazy val admitted: Seq[Admitted] =
    docsOut.select("doc_id", "text", "split").collect()
      .map(r => Admitted(r.getLong(0), r.getString(1), r.getString(2))).toSeq

  override def verify(): Verified = {
    val accounting = spark.read.parquet(s"$base/out/accounting")
      .select("split", "n_docs", "n_tokens").collect()
      .map(r => SplitCount(r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val bloom = new BloomModel(gen.blocklist, Fpp)
    val errs = CorpusChecks.check(offered.toSeq, gen.blocklist.toSet, bloom, admitted,
      accounting)
    // Checksum: the unique documents the model admits (every one that is
    // no Bloom false positive) against the target's rows of unique documents
    import spark.implicits._
    val uniques = offered.filter(_.kind == Doc.Unique)
    val want = uniques.filterNot(d => bloom.mightContain(d.text)).map(d => Row(d.id, d.text))
    val source = spark.createDataFrame(spark.sparkContext.parallelize(want.toSeq, threads),
      CorpusGen.rowSchema)
    val target = docsOut.select("doc_id", "text")
      .join(broadcast(uniques.map(_.id).toSeq.toDF("doc_id")), "doc_id")
    val (same, srcS, tgtS) = checksumCompare(source, target, CorpusGen.rowSchema, "doc_id")
    Verified(errs ++ (if (same) Nil else Seq("Checksum reports the admitted unique " +
      "documents and the model inconsistent")), srcS + tgtS, srcS, tgtS)
  }

  override def bytesPerRow: Double =
    Disk.bytes(s"$base/state").toDouble / math.max(1, admitted.size)

  override def replays(): Map[String, Double] = {
    import spark.implicits._
    val captured = offered.takeRight(RoundDocs).toSeq
    val docsDf = captured.map(d => (d.id, d.text)).toDF("id", "text")
    commonReplays(spark, captured.map(gen.change),
      graft.operators.Materializer.emptyVersionedState(spark, CorpusGen.rowSchema),
      "doc_id", CorpusGen.rowSchema, docsDf, block, seed) ++ Map(
      "state.files_per_batch" -> Disk.files(s"$base/state").size.toDouble / epochs,
      "apply.exec_calls_per_batch" -> 0.0,
      "prep.admitted_per_doc" -> admitted.size.toDouble / offered.size)
  }
}
