package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * One-line layout marker of the streaming near-dup state
 * (`graft.streaming.StreamOps`, `_graft_state_layout`): content
 * `<prefix><positive int>`. Its [[replaceWith]] is the one atomic-replace
 * primitive behind every small marker file (layout, centers, csums, PQ),
 * key summaries and compaction plans.
 *
 * The write is ATOMIC (stage + rename, the centers-marker pattern): a
 * crash between create and flush must never leave a present-but-empty
 * marker, which would fail the corrupt-marker check on EVERY replay and
 * brick the state until a human deletes the file. Malformed content
 * still fails loudly — guessing a layout would silently mis-bucket
 * every later append.
 *
 * The rename also OVERWRITES atomically where the filesystem supports it
 * (FileContext + Options.Rename.OVERWRITE — HDFS and the local FS do): a
 * delete-then-rename re-write leaves a window with NO file on disk, in
 * which a reader racing the re-write sees the marker as never written.
 * On a store whose FileContext cannot overwrite-rename, the
 * delete+rename fallback applies and the single-writer contract must be
 * read as covering marker re-writes versus concurrent readers.
 */
private[graft] object LayoutMarker {

  def read(fs: FileSystem, p: Path, prefix: String, what: String): Option[Int] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      val b = (if (raw.startsWith(prefix)) raw.stripPrefix(prefix).toIntOption
      else None)
        .getOrElse(sys.error(s"corrupt $what layout marker at $p: '$raw'"))
      require(b > 0, s"corrupt $what layout marker at $p: '$raw'")
      Some(b)
    }

  def write(fs: FileSystem, p: Path, prefix: String, value: Int): Unit =
    replaceWith(fs, p, "layout marker")(
      _.write(s"$prefix$value".getBytes("UTF-8")))

  /** The ONE atomic-replace primitive behind the layout, centers, csums
    * and PQ markers, key summaries and compaction plans: stage to `.tmp`, then
    * overwrite-rename via FileContext where the store supports it, with
    * the windowed delete+rename fallback otherwise (single-writer
    * contract covers the window there). Keeping a single copy means the
    * object-store caveat documented above is fixed in one place. */
  private[graft] def replaceWith(fs: FileSystem, p: Path, what: String)(
      write: java.io.OutputStream => Unit): Unit = {
    val tmp = new Path(p.toString + ".tmp")
    val out = fs.create(tmp, true)
    try write(out)
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext
        .getFileContext(fs.getUri, fs.getConf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException |
           _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(p)) fs.delete(p, false)
        require(fs.rename(tmp, p), s"$what rename failed: $tmp -> $p")
    }
  }
}
