package perfbench

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point:
 * `perfbench.Main --workload <tail_sync|lr_catchup|corpus_prep> --seed <n>
 *  --seconds <s> --trace <0|1> --dir <run directory> [--threads <n>]`.
 * `--threads` sets Spark's local task threads (default: processors − 1,
 * leaving one for the generator); `--threads 1` is the single-thread
 * baseline.
 *
 * Prints one summary line of operations attempted and failed, then, as
 * the last line, one JSON object: `correct`, `attempted`, `failed` and
 * `metrics` (the end-to-end metrics untraced, the per-layer metrics
 * traced). Exits 1 when a check fails or an operation failed, 2 on bad
 * arguments.
 */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "freshness_p50_ms" -> "ms", "changes_per_s" -> "1/s",
    "verify_s" -> "s", "bytes_per_row" -> "bytes")

  val PerLayer: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "setup.input_s" -> "s", "setup.warmup_s" -> "s",
    "gen.late_ms_max" -> "ms",
    "source.offset_ms_mean" -> "ms", "source.backlog_ids_p50" -> "count",
    "source.partitions_per_batch" -> "count",
    "stream.overhead_ms_p50" -> "ms",
    "sink.batch_ms_p50" -> "ms", "sink.jobs_per_batch" -> "count",
    "sink.tasks_per_batch" -> "count", "sink.rows_written_per_item" -> "ratio",
    "state.files_per_batch" -> "count",
    "materialize.merge_ms_per_1k" -> "ms/1k",
    "wal2json.decode_ms_per_1k" -> "ms/1k",
    "pipeline.ms_per_1k" -> "ms/1k", "pipeline.rows_out_per_in" -> "ratio",
    "apply.exec_calls_per_batch" -> "count", "apply.statements_per_s" -> "1/s",
    "checksum.source_s" -> "s", "checksum.target_s" -> "s",
    "prep.admitted_per_doc" -> "ratio",
    "dedup.shingle_ms_per_1k" -> "ms/1k", "bloom.probe_ms_per_1k" -> "ms/1k",
    "textfns.quality_ms_per_1k" -> "ms/1k",
    "spark.sched_delay_ms_p50" -> "ms", "jvm.gc_ms_per_s" -> "ms/s",
    "trace.overhead_pct" -> "%")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: String,
                        threads: Int)

  def parse(a: Array[String]): Either[String, Args] = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Set("tail_sync", "lr_catchup", "corpus_prep"),
        s"unknown workload ${kv.getOrElse("workload", "")}")
      s <- need("seed").flatMap(_.toLongOption.toRight("--seed must be an integer"))
      n <- need("seconds").flatMap(_.toIntOption.filter(_ > 0).toRight("--seconds must be a positive integer"))
      t <- need("trace").filterOrElse(Set("0", "1"), "--trace must be 0 or 1")
      d <- need("dir")
      // Spark's local task threads plus the generator thread stay within nproc
      p <- kv.get("threads").fold[Either[String, Int]](
        Right(math.max(1, Runtime.getRuntime.availableProcessors() - 1)))(
        _.toIntOption.filter(_ > 0).toRight("--threads must be a positive integer"))
    } yield Args(w, s, n, t == "1", d, p)
  }

  def session(threads: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err")
      sys.exit(2)
    case Right(a) => sys.exit(run(a))
  }

  def run(a: Args): Int = {
    val threads = a.threads
    val spark = session(threads, a.dir)
    val sessionS = Clock.sinceJvmStart
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val data = s"${a.dir}/data"
    val w: Workload = a.workload match {
      case "tail_sync" => new TailSync(spark, a.seed, data, threads, progress)
      case "lr_catchup" => new LrCatchup(spark, a.seed, data, threads, progress)
      case "corpus_prep" => new CorpusPrep(spark, a.seed, data, threads, progress)
    }
    val spans = new Spans
    val (inputS, warmS) = spans.span("setup")(w.setup())
    // process start to the first timed event
    val setupS = Clock.sinceJvmStart

    val plain = spans.span("timed")(w.timed(a.seconds, None))
    val traced = if (!a.trace) None else {
      val l = new LayerListener(w.scanRdd)
      spark.sparkContext.addSparkListener(l)
      val gc0 = Clock.gcMillis
      val (t, s) = Clock.secondsOf(spans.span("timed.traced")(w.timed(a.seconds, Some(l))))
      val gcPerS = (Clock.gcMillis - gc0) / s
      spark.sparkContext.removeSparkListener(l)
      // a second plain phase after the traced one: the JVM keeps warming
      // up, so the traced phase is compared with the mean of its neighbours
      val after = spans.span("timed.after")(w.timed(a.seconds, None))
      Some((t, gcPerS, after))
    }
    val v = spans.span("verify")(w.verify())
    val phases = Seq(plain) ++ traced.toSeq.flatMap(t => Seq(t._1, t._3))
    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    val failedBatches = phases.map(_.failedBatches).sum
    val late = phases.map(_.layers.getOrElse("gen.late_ms_max", 0.0)).max
    println(f"perfbench ${a.workload}: ${w.items} offered=$attempted applied=${attempted - failed} " +
      f"batches started=${phases.map(_.batches).sum} failed=$failedBatches " +
      f"gen.late_ms_max=$late%.3f")
    val errors = v.errors ++
      (if (failed > 0) Seq(s"$failed ${w.items} offered were not applied") else Nil) ++
      (if (failedBatches > 0) Seq(s"$failedBatches queries failed") else Nil)
    errors.foreach(e => System.err.println(s"perfbench check failed: $e"))

    val metrics: Seq[(String, String, Double)] = traced match {
      case None =>
        val m = Map("setup_s" -> setupS, "freshness_p50_ms" -> plain.freshnessMs,
          "changes_per_s" -> plain.perSecond, "verify_s" -> v.verifyS,
          "bytes_per_row" -> w.bytesPerRow)
        EndToEnd.map { case (k, u) => (k, u, m(k)) }
      case Some((t, gcPerS, after)) =>
        val m = t.layers ++ spans.span("replays")(w.replays()) ++ Map(
          "session.start_s" -> sessionS, "setup.input_s" -> inputS,
          "setup.warmup_s" -> warmS, "checksum.source_s" -> v.sourceS,
          "checksum.target_s" -> v.targetS, "jvm.gc_ms_per_s" -> gcPerS,
          "trace.overhead_pct" -> (2 * t.cost / (plain.cost + after.cost) - 1) * 100)
        PerLayer.map { case (k, u) => (k, u, m.getOrElse(k, 0.0)) }
    }
    spans.write(java.nio.file.Paths.get(s"${a.dir}/spans.jsonl"))
    spark.stop()
    val correct = errors.isEmpty
    val body = metrics.map { case (k, u, x) =>
      s"${Json.str(k)}: {${Json.str("value")}: ${num(x)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString
}
