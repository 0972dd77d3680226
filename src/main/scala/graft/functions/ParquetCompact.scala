package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Small-file compaction for the append-maintained persisted indexes —
 * the text-dedup index's flat tables ([[Dedup.appendToDedupIndex]]),
 * the IVF index's cell dirs ([[Similarity.appendToIvfIndex]]) and the
 * phash index's `pb=` dirs ([[Multimodal.appendToPhashIndex]]) — the
 * same problem [[graft.streaming.StreamOps.compactState]] solves for the
 * streaming state's `batch=` partitions: every appended batch adds part
 * files, and a long-lived ingest path accumulates thousands of them
 * (each one a task + open-file cost per probe).
 *
 * Crash-safe at EVERY window — the round-7 in-place `mode(overwrite)`
 * had one loss case (a JVM crash mid-overwrite killed both the on-disk
 * files and the localCheckpoint holding the only other copy). Now the
 * compacted rows are STAGED in a sibling directory and swapped in by
 * rename, so at no instant is the staged copy the only one:
 *
 *   1. write compacted rows to `<path>.__compact_tmp` (source untouched)
 *   2. rename `<path>` → `<path>.__compact_old`     (atomic on one FS)
 *   3. rename tmp → `<path>`                        (atomic)
 *   4. delete `<path>.__compact_old`
 *
 * [[recover]] runs first on every call and repairs any prior crash: an
 * orphan `__old` with no live `<path>` is renamed back (crash between 2
 * and 3); an `__old` beside a live `<path>` and no `__tmp` is a
 * completed swap whose cleanup step died (crash between 3 and 4) and is
 * deleted; any other `__tmp` is stale (incomplete or superseded) and
 * deleted. `__old`, live `<path>` AND `__tmp` together mean the swap
 * never did its last rename and something wrote a fresh `<path>` in the
 * window: `__old` then holds rows the live dir lacks, so [[recover]]
 * refuses loudly instead of deleting them. Every index append, epoch
 * and probe calls [[recoverTable]] on the tables it touches before it
 * reads or writes, so that state needs a writer that skipped it.
 * Single-writer discipline as before: no concurrent probe/append on the
 * path.
 *
 * The streamed (epoch-partitioned) tables compact through
 * [[consolidateEpochs]] instead, whose crash state is a manifest beside
 * the same `__tmp` stage; [[recover]] rolls that one forward or back
 * too, so one call heals a table whichever compaction crashed on it.
 *
 * FILESYSTEM ASSUMPTION: the swap's crash-safety rests on directory
 * rename being ATOMIC, which holds on HDFS and local filesystems but NOT
 * on object stores (S3A "rename" is a non-atomic copy+delete; a crash
 * mid-rename leaves a partial old/live mix that [[recover]] would
 * misclassify as a completed swap). On an object store, compact into a
 * NEW path and flip a pointer (manifest) instead, or use a
 * table format with commit semantics. The FileSystem is resolved FROM
 * THE PATH (not the default-FS singleton), so an `s3a://`/`hdfs://` path
 * at least talks to the right store rather than silently probing the
 * default filesystem for its marker directories.
 */
object ParquetCompact {

  private def paths(path: String): (Path, Path, Path) =
    (new Path(path), new Path(path + ".__compact_tmp"),
      new Path(path + ".__compact_old"))

  private def manifestOf(live: Path): Path =
    new Path(live.toString + ".__compact_manifest")

  /** Repair any half-finished swap or consolidation from a crashed prior
    * run. */
  private def recover(fs: FileSystem, live: Path, tmp: Path,
                      old: Path): Unit = {
    val manifest = manifestOf(live)
    if (fs.exists(manifest)) {
      // a crashed consolidation: a complete stage rolls forward, an
      // incomplete one (or a stage already renamed in) is dropped
      if (fs.exists(new Path(tmp, "_SUCCESS"))) finishConsolidation(fs, live)
      else { fs.delete(tmp, true); fs.delete(manifest, false) }
    }
    if (fs.exists(old)) {
      if (!fs.exists(live))                     // crash mid-swap: roll back
        require(fs.rename(old, live), s"recover: rename $old -> $live failed")
      else if (fs.exists(tmp))
        throw new IllegalStateException(s"recover: $old, $live and $tmp " +
          "all exist: a compaction crashed between its two renames and " +
          s"something then wrote a fresh $live, so $old holds rows $live " +
          s"lacks. Merge $old into $live by hand, then delete $old and $tmp")
      else fs.delete(old, true)                 // swap done, cleanup died
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)    // stage is always redoable
  }

  private def swap(fs: FileSystem, live: Path, tmp: Path, old: Path): Unit = {
    require(fs.rename(live, old), s"compact: rename $live -> $old failed")
    require(fs.rename(tmp, live), s"compact: rename $tmp -> $live failed")
    fs.delete(old, true)
  }

  /** Run the crash recovery for `path` WITHOUT compacting — for callers
    * that read the live table before any compactVia call runs (the phash
    * probe and compaction): a crash mid-swap from a prior run leaves the
    * live dir renamed away, so a `spark.read.parquet(path)` throws
    * path-not-found (or reads "no index") before the next compactVia
    * could heal it. Idempotent; no-op on a clean path. */
  def recoverTable(spark: SparkSession, path: String): Unit = {
    val (live, tmp, old) = paths(path)
    recover(live.getFileSystem(spark.sparkContext.hadoopConfiguration),
      live, tmp, old)
  }

  private def compactVia(spark: SparkSession, path: String)
                        (stage: (DataFrame, String) => Unit): Long = {
    val (live, tmp, old) = paths(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, live, tmp, old)
    stage(spark.read.parquet(path), tmp.toString)
    val n = spark.read.parquet(tmp.toString).count()
    swap(fs, live, tmp, old)
    n
  }

  /** Rewrite a flat parquet table into ~`targetFiles` files via the
    * staged swap above. Returns the row count. */
  def table(spark: SparkSession, path: String, targetFiles: Int = 8): Long =
    compactVia(spark, path) { (df, tmpDir) =>
      df.coalesce(targetFiles).write.parquet(tmpDir)
    }

  /** Rewrite a value-partitioned table, preserving its partition layout
    * with one file per partition directory (repartition by the partition
    * column routes each key to exactly one task), via the staged swap.
    * Returns the row count. */
  def partitionedTable(spark: SparkSession, path: String,
                       partitionCol: String): Long =
    compactVia(spark, path) { (df, tmpDir) =>
      df.repartition(col(partitionCol))
        .write.partitionBy(partitionCol).parquet(tmpDir)
    }

  /** Rewrite a table through a `derive` transform into a layout
    * partitioned by `partitionCols`, via the same staged swap — the
    * phash index compaction ([[Multimodal.compactPhashIndex]]) keeps its
    * `pb=` dirs, with the `__batch=` epochs nested inside them on a
    * streamed index. Returns the row count. */
  def rewritePartitionedMulti(spark: SparkSession, path: String,
                              partitionCols: Seq[String])
                             (derive: DataFrame => DataFrame): Long =
    compactVia(spark, path) { (df, tmpDir) =>
      derive(df).write.partitionBy(partitionCols: _*).parquet(tmpDir)
    }

  /**
   * Crash-safe consolidation of an epoch-partitioned table
   * (`root/__batch=N/...`) into the reserved `__batch=-1` epoch.
   *
   * The consolidated epoch is STAGED outside the tree
   * (`<root>.__compact_tmp`) and swapped in by rename, with a manifest
   * naming the epochs it supersedes, so every crash window either rolls
   * back (stage incomplete → discarded) or rolls forward (stage complete
   * → delete exactly the manifested epochs, rename the stage in);
   * [[recover]] does either on the next call of any kind. No run ever
   * reads a root holding both the stage and the epochs it replaced (a
   * duplicated IVF list row eats two top-k slots). Run OFFLINE
   * (single-writer); like the swap above it assumes ATOMIC directory
   * rename. `epochPrefix` is the epoch directory naming
   * (`__batch=` for the ingest indexes, `batch=` for the dedup state).
   * `writeStage` writes the merged epochs (already stripped of the epoch
   * column) to the stage directory. Returns Some(row count after
   * consolidation), or None when there was nothing to consolidate.
   */
  def consolidateEpochs(spark: SparkSession, rootPath: String,
                        epochPrefix: String = "__batch=")
                       (writeStage: (DataFrame, String) => Unit)
      : Option[Long] = {
    val (root, tmp, old) = paths(rootPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, root, tmp, old)
    val epochs =
      if (!fs.exists(root)) Array.empty[Path]
      else fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith(epochPrefix))
    if (!epochs.exists(_.getName != epochPrefix + "-1")) None
    else {
      val out = fs.create(manifestOf(root), true)
      try out.write(epochs.map(_.getName).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      // the source epochs are untouched until the stage commits (_SUCCESS)
      writeStage(
        spark.read.option("basePath", root.toString)
          .parquet(epochs.map(_.toString).toIndexedSeq: _*)
          .drop(epochPrefix.stripSuffix("=")),
        tmp.toString)
      finishConsolidation(fs, root)
      Some(spark.read.parquet(root.toString).count())
    }
  }

  /** Roll a committed consolidation forward: delete the epochs its
    * manifest names, rename the stage in as their prefix's `-1` epoch. */
  private def finishConsolidation(fs: FileSystem, root: Path): Unit = {
    val (_, tmp, _) = paths(root.toString)
    val manifest = manifestOf(root)
    val named = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }.split("\n").filter(_.nonEmpty)
    require(named.nonEmpty, s"consolidateEpochs: empty manifest $manifest")
    val target = new Path(root,
      named.head.takeWhile(_ != '=') + "=-1")
    named.foreach(n => fs.delete(new Path(root, n), true))
    require(fs.rename(tmp, target),
      s"consolidateEpochs: rename $tmp -> $target failed")
    fs.delete(manifest, false)
  }
}
