package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** First loadavg sample (1-min) from /proc/loadavg, or -1 when absent
    * (non-Linux). Recorded in the artifact so a contended capture is
    * self-identifying: round 5 shipped a bench taken under heavy VM load
    * that showed a phantom 3-5x regression, and nothing in the JSON could
    * prove it after the fact. */
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // CLOSING mode (round-12 verdict task 1): the round-11 close shipped
    // a capture taken at loadavg 3.98 on which the cross-run gate FAILED
    // — contention reads, adjudicated only by a judge-side idle
    // re-measure after the fact. A capture meant to become the round
    // artifact now refuses to even START on a busy machine, so the
    // protocol slip (committing a contended close) is impossible rather
    // than merely detectable. Opt-in (SPARK_GRAFT_BENCH_CLOSING=1)
    // because the DRIVER's per-round capture runs under load it does not
    // control and must still produce an artifact; the closing flag is
    // recorded in the JSON so tools/check_bench.py can hold a "closing"
    // capture to the idle threshold it promised.
    val closing = sys.env.get("SPARK_GRAFT_BENCH_CLOSING")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val maxLoad = sys.env.get("SPARK_GRAFT_BENCH_MAX_LOAD")
      .flatMap(_.toDoubleOption).getOrElse(1.5)
    val load0 = loadavg()
    if (closing && load0 < 0) {
      // the -1 sentinel means the sample itself failed (/proc/loadavg
      // unreadable): a closing capture whose idleness CANNOT be verified
      // must refuse, or the protocol degrades from impossible-to-slip
      // to undetectable (check_bench also fails a negative closing_load)
      System.err.println("[bench] CLOSING capture refused: loadavg " +
        "unreadable - idleness cannot be verified on this host")
      sys.exit(3)
    }
    if (closing && load0 > maxLoad) {
      System.err.println(
        f"[bench] CLOSING capture refused: 1-min loadavg $load0%.2f > " +
          f"$maxLoad%.2f - wait for idle, or capture without " +
          "SPARK_GRAFT_BENCH_CLOSING (check_bench holds closing " +
          "artifacts to the 1.5 idle standard regardless of overrides)")
      sys.exit(3)
    }
    // default 1× cores; override to audit higher parallelism (AQE
    // coalesces the excess, so 4× cores mainly tests skew masking)
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .flatMap(_.toIntOption).getOrElse(32)
    // fail fast BEFORE starting Spark: a fully mistyped query list must not
    // run zero queries and clobber the last good bench_out.json
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(
          s"[bench] unknown queries in SPARK_GRAFT_BENCH_QUERIES: ${unknown.toSeq.sorted.mkString(",")}")
        sys.exit(2)
      }
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    if (selected.isEmpty) { System.err.println("[bench] empty query selection"); sys.exit(2) }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // fail loudly on codegen compile errors instead of silently
      // interpreting — a silent fallback is a perf regression the bench
      // would otherwise mis-attribute
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = loadavg()
    // untimed warm-up: JVM/codegen/session init shouldn't bill the first query
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // per-query diagnostics are buffered and printed AFTER the JSON line:
    // the driver captures a bounded log tail, and warnings interleaved
    // before the JSON can push it out of the captured window
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    // malformed env must not abort the bench before any timing is emitted
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(2))
    // a rep pair disagreeing by >2× is contention, not plan cost — grant up
    // to this many extra reps to find two that agree before trusting the min
    val maxExtra = math.max(0,
      sys.env.get("SPARK_GRAFT_BENCH_MAX_EXTRA").flatMap(_.toIntOption).getOrElse(3))
    // optional inter-query hygiene (SPARK_GRAFT_BENCH_GC=1): a full GC
    // between queries lets the ContextCleaner reap the previous
    // queries' localCheckpoint blocks and broadcasts, which otherwise
    // accumulate across a 140-query run and tax later queries with
    // storage eviction + GC pressure that is harness residue, not plan
    // cost. Off by default: the committed artifact keeps the same
    // methodology as every prior round.
    val interGc = sys.env.get("SPARK_GRAFT_BENCH_GC").contains("1")
    val results = selected.map { case (name, fn) =>
      if (interGc) { System.gc(); Thread.sleep(200) }
      // min of `reps` SUCCESSFUL runs: a single-shot reading bills one
      // query for JIT / GC / first-codegen noise (round 3 recorded a 4×
      // outlier that way); the minimum is the steady-state cost of the
      // PLAN, which is what the bench compares across rounds. A failed
      // rep's (fast-failure) elapsed must not undercut a real timing.
      val ok = scala.collection.mutable.ArrayBuffer.empty[Double]
      def runOnce(): Unit = {
        val t0 = System.nanoTime()
        // noop sink forces full materialization of every column (count()
        // would let Spark prune the plan down to a row count)
        val succeeded =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            if (!errors.contains(name)) {
              errors += name
              notes += s"[bench] $name FAILED: ${e.getMessage}"
            }
            false
          }
        if (succeeded) ok += (System.nanoTime() - t0) / 1e9
      }
      (1 to reps).foreach(_ => runOnce())
      // contention guard: if the successful reps disagree by >2× the slow
      // one was likely contended — keep adding reps (bounded) until the two
      // FASTEST agree within 2×, so the reported min is corroborated
      var extra = 0
      def fastestDisagree: Boolean = {
        val s = ok.sorted; s.size >= 2 && s(1) > 2.0 * s(0)
      }
      while (ok.size >= 2 && fastestDisagree && extra < maxExtra) {
        extra += 1; runOnce()
      }
      if (ok.size >= 2 && fastestDisagree)
        notes += f"[bench] $name reps still >2x apart after $extra extra (min=${ok.min}%.3f max=${ok.max}%.3f) — possible contention"
      val sorted = ok.sorted
      name -> (if (ok.nonEmpty)
        Some((sorted.head, sorted.lift(1).getOrElse(sorted.head),
          sorted.last, ok.size))
      else None)
    }
    val loadEnd = loadavg()
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(_._1.toString).getOrElse("null")
    }.mkString("{", ",", "}")
    // per-rep spread: [min, second_fastest, max, n_successful_reps] per
    // query — second_fastest/min is the SURVIVING disagreement after the
    // bounded retries (max/min alone can't distinguish one contended
    // early rep, which the min already discards, from a capture whose two
    // best reps still disagree), so the validator can hard-fail on it
    val spread = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map { case (mn, s2, mx, n) =>
        s"[$mn,$s2,$mx,$n]"
      }.getOrElse("null")
    }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2.map(_._1)).sum
    def sh(cmd: Seq[String]): String =
      try {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = scala.io.Source.fromInputStream(p.getInputStream)
          .mkString.trim
        if (p.waitFor() == 0) out else "unknown"
      } catch { case _: Throwable => "unknown" }
    val dirty = sh(Seq("git", "status", "--porcelain")).nonEmpty
    val sha = sh(Seq("git", "rev-parse", "--short", "HEAD")) +
      (if (dirty) "+dirty" else "")
    // the SRC-TREE hash identifies the CODE independently of commit
    // ancestry: the driver's per-round capture runs on a snapshot commit
    // stacked on top of the builder's close, so its commit sha can never
    // match a committed re-measure's — and the ROOT tree can't either
    // (committing the close's own bench artifacts changes it). The
    // src/main subtree is the performance-relevant content — untouched
    // by artifact, doc, AND test commits (specs added after a close must
    // not orphan its evidence; src/test cannot change what the bench
    // runs) — so a close-time re-measure matches any same-code capture.
    // A working copy dirty UNDER src/main taints the hash (it describes
    // HEAD, not the code that ran); writes elsewhere don't.
    val srcDirty =
      sh(Seq("git", "status", "--porcelain", "src/main")).nonEmpty
    val tree = sh(Seq("git", "rev-parse", "--short", "HEAD:src/main")) +
      (if (srcDirty) "+dirty" else "")
    // build FINGERPRINT: performance also depends on configuration
    // OUTSIDE src/main (build.sbt dependency pins, project/ sbt + JVM
    // flags). A src/main tree match alone could honor a re-measure
    // captured under a different build config — check_bench requires
    // this to match too when both artifacts record it.
    val buildDirty =
      sh(Seq("git", "status", "--porcelain", "build.sbt", "project"))
        .nonEmpty
    val build = sh(Seq("git", "rev-parse", "--short", "HEAD:build.sbt")) +
      "." + sh(Seq("git", "rev-parse", "--short", "HEAD:project")) +
      (if (buildDirty) "+dirty" else "")
    val ts = java.time.Instant.now().toString
    // ts + sha + tree make the artifact SELF-IDENTIFYING: check_bench
    // accepts a bench_remeasure.json only when its sha or (clean) tree
    // matches the capture's, so a stale re-measure from a previous round
    // can never silently clear this round's degradation gate
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"ts":"$ts","sha":"$sha","tree":"$tree","build":"$build","closing":$closing,"closing_load":$load0,"loadavg":[$loadStart,$loadEnd],"queries":$qs,"spread":$spread,"errors":$errJson,"sf":"$sfDir"}"""
    // a short summary trailer first, then the full line (the one with
    // `queries`) LAST: consumers parse the last stdout line, and a
    // capture that cuts the long line still holds a complete summary.
    val trailer =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"loadavg":[$loadStart,$loadEnd],"errors":$errJson,"sf":"$sfDir"}"""
    println(trailer)
    println(line)
    notes.foreach(System.err.println)
    // persist the full report: the driver captures a bounded log tail, and
    // a 90-query JSON line is long enough to get head-truncated there
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "bench_out.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_out.json: ${e.getMessage}")
    }
    // APPEND a one-line history record (bench_out.json is overwritten per
    // run, so run-to-run variance claims were reconstructible only from
    // prose): total + loadavg + git sha + the per-query mins, one JSON
    // line per run. check_bench reads this to flag run-LEVEL degradation
    // of single queries — the in-run >2x rep guard can't see a whole run
    // in a degraded state.
    try {
      val hist =
        s"""{"ts":"$ts","sha":"$sha","tree":"$tree","sf":"$sfDir","total":$total,"loadavg":[$loadStart,$loadEnd],"n_queries":${results.size},"queries":$qs}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
          "bench_history.jsonl")),
        (hist + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not append bench_history.jsonl: ${e.getMessage}")
    }
    spark.stop()
  }
}
