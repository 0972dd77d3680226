package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val p = q * (s.length - 1)
      val lo = math.floor(p).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (p - lo)
    }
  }

  /** Weighted median: the smallest value whose cumulative weight reaches
    * half the total. */
  def weightedMedian(xs: Seq[(Double, Long)]): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val half = s.map(_._2).sum / 2.0
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= half }.map(_._1).getOrElse(0.0)
  }
}

/** Wall-clock helpers. */
object Clock {
  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` `reps` times, return the last result and the median seconds. */
  def medianSeconds[T](reps: Int)(f: => T): (T, Double) = {
    val runs = (0 until reps).map(_ => secondsOf(f))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Total GC time of all collectors so far, in ms. */
  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** In-memory spans of the run's phases (name, start/end in ns since the
  * spans began), written as JSON lines when the run ends. */
final class Spans {
  private val t0 = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def span[T](name: String)(f: => T): T = {
    val s = System.nanoTime() - t0
    try f finally buf.synchronized { buf += ((name, s, System.nanoTime() - t0)) }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = buf.synchronized(buf.toList).map { case (n, s, e) =>
      s"""{"name":${Json.str(n)},"start_ns":$s,"end_ns":$e}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Keeps every progress event of the run's streaming queries. */
final class ProgressLog extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val failed = new java.util.concurrent.atomic.AtomicInteger()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    all.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.exception.isDefined) { failed.incrementAndGet(); () }

  def failedQueries: Int = failed.get()

  /** Progress of one run of a query (`runId`) with input rows, in batch order. */
  def batches(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    all.asScala.filter(p => p.runId == runId && p.numInputRows > 0).toSeq.sortBy(_.batchId)
}

object Progress {
  /** Commit time of a micro-batch: trigger start + trigger duration. */
  def commitMillis(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)

  def dur(p: StreamingQueryProgress, key: String): Double =
    p.durationMs.getOrDefault(key, 0L).toDouble

  /** (start, end] id range of a batch of the CDC tail source. */
  def idRange(p: StreamingQueryProgress): (Long, Long) = {
    val s = p.sources.head
    (Option(s.startOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(0L),
      s.endOffset.trim.toLong)
  }

  def latestId(p: StreamingQueryProgress): Long =
    Option(p.sources.head.latestOffset).map(_.trim.toLong).getOrElse(0L)

  /** Structured Streaming's own per-batch cost around the sink. */
  def overheadMs(p: StreamingQueryProgress): Double =
    dur(p, "walCommit") + dur(p, "commitOffsets") + dur(p, "queryPlanning")

  def offsetMs(p: StreamingQueryProgress): Double =
    dur(p, "latestOffset") + dur(p, "getBatch")
}

/**
 * Traced-mode Spark listener: jobs, tasks, scheduler delay, rows written,
 * and the task count of stages that scan the source (stages holding an
 * RDD named `scanRdd`). Counts are cumulative; take deltas with
 * [[snapshot]].
 */
final class LayerListener(scanRdd: String) extends SparkListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var recordsWritten = 0L
  private val schedDelays = new ConcurrentLinkedQueue[java.lang.Double]()
  private val scanStageTasks = new ConcurrentLinkedQueue[Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      recordsWritten += m.outputMetrics.recordsWritten
      val i = e.taskInfo
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      val d = (i.finishTime - i.launchTime) - overhead - m.executorRunTime - i.gettingResultTime
      schedDelays.add(math.max(0L, d).toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (info.rddInfos.exists(_.name == scanRdd))
      scanStageTasks.add(info.numTasks)
  }

  import LayerListener.Snap

  def snapshot: Snap = synchronized {
    Snap(jobs, tasks, recordsWritten, schedDelays.size, scanStageTasks.size)
  }

  def schedDelaysSince(s: Snap): Seq[Double] =
    schedDelays.asScala.drop(s.delays).map(_.doubleValue).toSeq

  def scanTasksSince(s: Snap): Seq[Int] =
    scanStageTasks.asScala.drop(s.scans).map(_.intValue).toSeq
}

object LayerListener {
  final case class Snap(jobs: Long, tasks: Long, written: Long, delays: Int, scans: Int)
}

/** Filesystem helpers over the local run directory. */
object Disk {
  /** Bytes of data files (not checksum sidecars) under `dir`. */
  def bytes(dir: String): Long = files(dir).map(_.length).sum

  def files(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(dir)
    if (!root.exists) Nil
    else java.nio.file.Files.walk(root.toPath).iterator().asScala
      .map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .toSeq
  }
}

/** Traced replays: time one layer entry point alone into Spark's noop
  * sink, median of `reps` runs after one warm-up run. */
object Replay {
  def msPer1k(rows: Long, reps: Int = 3)(df: => DataFrame): Double = {
    def once(): Double = Clock.secondsOf(
      df.write.format("noop").mode("overwrite").save())._2
    once()
    val s = Stats.median((0 until reps).map(_ => once()))
    s * 1e3 / math.max(1e-9, rows / 1e3)
  }
}
