package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Per-epoch band-key summaries for the streaming dedup state — the
 * device that bounds the LAST corpus-growing term of the online
 * near-dup path. [[StreamOps.dedupEpoch]]'s verify step joins the
 * batch's band keys against the accumulated state `keys` table; the
 * `sets` side (the bulk) is partition-pruned to candidate id buckets,
 * but `keys` grows 4 rows per admitted doc and was scanned WHOLE every
 * epoch. Band-prefix partitioning was measured not to pay there (a
 * batch's keys hash uniformly over all 256 prefixes, so nothing prunes)
 * — what does pay is pruning at the EPOCH level: each epoch writes a
 * small Bloom filter over the band keys it admitted, and a later epoch
 * reads only the epoch partitions whose filter might contain one of its
 * own keys. Epochs that cannot hold a candidate are skipped entirely —
 * a no-candidate batch reads ZERO keys (and sets) bytes.
 *
 * Bit-identity argument: a Bloom filter has NO false negatives, so
 * every epoch holding a true (band, bkey) match is always read; a
 * pruned epoch cannot contribute a candidate pair, and the verify core
 * is unchanged — admissions are identical to the unpruned scan.
 * False positives only cost an extra epoch read at the sized rate.
 *
 * Sizing: fpp 1e-6 (~29 bits/key) keeps the expected number of
 * falsely-read epochs per batch at `batchKeys × 1e-6 × nEpochs` —
 * ~0.02 epochs for a 2k-key batch over 10k epochs — for ~7 KB per
 * 500-doc epoch, three orders of magnitude smaller than the keys rows
 * it summarizes. Summaries are immutable once their epoch commits, so
 * they are cached per JVM; per trigger only NEW epochs' files are read.
 *
 * Conservative everywhere: an epoch with no summary file (a legacy
 * state, a crash before the summary write, an over-cap batch, the
 * compacted `batch=-1` partition) is ALWAYS read; a batch whose own key
 * count exceeds [[MaxKeys]] skips pruning and scans everything — both
 * degrade to exactly the pre-summary behavior, never to a missed
 * candidate. Hashing is self-contained (MD5 double hashing, build and
 * probe in this one file), so there is no cross-layer consistency risk
 * with the Catalyst-side [[graft.functions.Bloom]].
 */
private[graft] object KeySummaries {

  /** Driver-side admission bound for building/probing a summary: above
    * this many distinct keys the caller falls back to the full scan
    * (write side: no summary file; probe side: no pruning). ~24 MB of
    * strings driver-side at the cap — the same order as the other
    * bounded collects on this path. */
  val MaxKeys: Int = 262144

  private val Fpp = 1e-6

  private val Magic = 0x474b5331 // "GKS1"

  final case class Summary(mBits: Long, k: Int, words: Array[Long]) {
    /** Probe with PRECOMPUTED double hashes ([[hashPair]]) so the MD5s
      * are paid once per batch, not once per (epoch × key). */
    def mightContain(h1: Long, h2: Long): Boolean = {
      var i = 0
      while (i < k) {
        val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, mBits)
        if ((words((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L)
          return false
        i += 1
      }
      true
    }
    def mightContainAny(hashes: Array[(Long, Long)]): Boolean = {
      var i = 0
      while (i < hashes.length) {
        if (mightContain(hashes(i)._1, hashes(i)._2)) return true
        i += 1
      }
      false
    }
  }

  /** Kirsch–Mitzenmacher base hashes for one key: the two 64-bit halves
    * of its MD5 (bkeys are md5 hex already, but hashing the string keeps
    * this correct for any key shape). */
  def hashPair(key: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bb = java.nio.ByteBuffer.wrap(d)
    (bb.getLong, bb.getLong)
  }

  def build(keys: Iterable[String]): Summary = {
    val n = math.max(1, keys.size)
    val ln2 = math.log(2)
    val m0 = math.ceil(-n * math.log(Fpp) / (ln2 * ln2)).toLong
    val mBits = math.max(64L, ((m0 + 63) / 64) * 64)
    val k = math.max(1, math.round(mBits.toDouble / n * ln2).toInt)
    val words = new Array[Long]((mBits >>> 6).toInt)
    keys.foreach { key =>
      val (h1, h2) = hashPair(key)
      var i = 0
      while (i < k) {
        val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, mBits)
        words((pos >>> 6).toInt) |= 1L << (pos & 63)
        i += 1
      }
    }
    Summary(mBits, k, words)
  }

  /** One key column's distinct values AS STRINGS, collected only when
    * they fit [[MaxKeys]] — None = over cap, and callers must degrade
    * to no-summary / always-read, never to a miss. This is the ONE gate
    * every summary build and probe goes through, so the cap and the key
    * rendering cannot drift between the write side and the probe side
    * (integral keys render via the same cast both ways). */
  def cappedDistinct(keys: org.apache.spark.sql.DataFrame,
                     alreadyDistinct: Boolean = false,
                     cap: Int = MaxKeys): Option[Array[String]] = {
    import org.apache.spark.sql.functions.col
    val base = keys.toDF("__k").select(col("__k").cast("string"))
    // skip the distinct SHUFFLE when the caller's frame is key-unique by
    // construction (a groupBy output) — this runs per streaming epoch
    val sample = (if (alreadyDistinct) base else base.distinct())
      .limit(cap + 1).collect().map(_.getString(0))
    if (sample.length > cap) None else Some(sample)
  }

  /** Build + write the summary for `keys` at `p` when the key set is
    * under the cap; no-op otherwise (absent summary = always-read). */
  def writeIfBounded(fs: FileSystem, p: Path,
                     keys: org.apache.spark.sql.DataFrame): Unit =
    cappedDistinct(keys).foreach(ks => write(fs, p, build(ks)))

  /** The subset of `eps` whose summary might contain any of `keys`; an
    * epoch with no (readable) summary is always kept — conservative. */
  def pruneEpochs(fs: FileSystem, eps: Seq[Long], keys: Array[String],
                  sumPath: Long => Path): Seq[Long] = {
    val hashes = keys.map(hashPair)
    eps.filter(m => readCached(fs, sumPath(m)) match {
      case Some(s) => s.mightContainAny(hashes)
      case None => true
    })
  }

  /** Write an epoch's summary file: magic, k, mBits, words — staged and
    * renamed with overwrite so a crash never leaves a truncated file a
    * later epoch would misread (a malformed file reads as ABSENT =
    * always-read, but the stage+rename keeps even that window out). */
  def write(fs: FileSystem, p: Path, s: Summary): Unit = {
    graft.functions.LayoutMarker.replaceWith(fs, p, "summary") { o =>
      val out = new java.io.DataOutputStream(o)
      out.writeInt(Magic); out.writeInt(s.k); out.writeLong(s.mBits)
      s.words.foreach(out.writeLong)
      out.flush()
    }
    // WRITE-THROUGH: the per-JVM cache must never outlive a rewrite. A
    // state deleted and re-seeded at the same path (bootstrap, rebuild)
    // writes fresh summaries at the SAME file paths — serving the old
    // corpus's cached Bloom there would prune epochs that DO contain
    // candidates and silently admit their near-dups.
    cache.put(p.toString, Some(s))
    ()
  }

  /** Per-JVM cache: a summary file is immutable once its epoch commits
    * (a crash-replay rewrites it with bit-identical content — same
    * batch, same admissions), so cache by path. [[invalidate]] clears a
    * state's entries when compaction/migration rewrites its epoch
    * layout. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Summary]]()

  def invalidate(pathPrefix: String): Unit = {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(pathPrefix)) it.remove()
  }

  /** The summary at `p`, or None when absent or unreadable (both mean
    * "always read this epoch"). The cached entry is RE-ANCHORED to disk
    * each call (one exists() — the same per-epoch discipline as the
    * layout-marker cache): a cached Some for a file that VANISHED (state
    * deleted and re-seeded; the new epochs may never write a summary —
    * over-cap batches don't) must not keep pruning the recreated epoch,
    * and a cached None for a file that APPEARED must not keep forcing
    * full reads. */
  def readCached(fs: FileSystem, p: Path): Option[Summary] = {
    val k = p.toString
    val stale = cache.get(k) match {
      case null => false
      case cached => cached.isDefined != fs.exists(p)
    }
    if (stale) cache.remove(k)
    cache.computeIfAbsent(k, _ =>
      try {
        if (!fs.exists(p)) None
        else {
          val in = new java.io.DataInputStream(fs.open(p))
          try {
            if (in.readInt() != Magic) None
            else {
              val k = in.readInt(); val mBits = in.readLong()
              if (k < 1 || mBits < 64 || mBits % 64 != 0 ||
                mBits > (1L << 33)) None
              else {
                val words = new Array[Long]((mBits >>> 6).toInt)
                var i = 0
                while (i < words.length) { words(i) = in.readLong(); i += 1 }
                Some(Summary(mBits, k, words))
              }
            }
          } finally in.close()
        }
      } catch { case _: java.io.IOException => None })
  }
}
