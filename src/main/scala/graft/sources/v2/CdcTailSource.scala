package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.ChangesetSchema

/**
 * Custom DSv2 micro-batch source: an id-watermark tail over an append-only
 * changeset feed — the Spark-native form of the reference's audit-mode
 * listener (notify_listener.go:37-249: LISTEN + point-read new changesets
 * by id) and of its replay paging (changeset_store.go:114-150).
 *
 * Design:
 *  - OFFSET = the highest changeset id emitted so far ([[IdOffset]]). This
 *    is exactly the resume token the reference makes users track by hand
 *    (`--start-from-id`, config.go:42-44) — here it lives in the query
 *    checkpoint, giving exactly-once source progress.
 *  - Each trigger covers `(lastId, currentMaxId]`, split into
 *    `partitions` disjoint id ranges read in parallel — replacing the
 *    reference's serial LIMIT 500/OFFSET pages (O(n²) server work) with
 *    O(n/p) range scans per executor.
 *  - The feed is pluggable ([[TailFeed]]): an in-memory feed for tests /
 *    local mode, a JDBC feed ([[JdbcTailFeed]]) for a real audit table —
 *    `WHERE id > ? AND id <= ?` hits the reference's own id index.
 *
 * Usage:
 * {{{
 *   spark.readStream
 *     .format("graft.sources.v2.CdcTailProvider")
 *     .option("feed", "myFeed")            // TailFeed registry name
 *     .option("startFromId", "0")
 *     .option("maxIdsPerTrigger", "1000")  // batch size bound
 *     .load()
 * }}}
 */
class CdcTailProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangesetSchema.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CdcTable(new CaseInsensitiveStringMap(properties))
}

final class CdcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-cdc-tail(${options.getOrDefault("feed", "?")})"
  override def schema(): StructType = ChangesetSchema.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CdcScan(opts)
    }
}

final class CdcScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = ChangesetSchema.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(
      options.getOrDefault("feed", ""),
      options.getLong("startFromId", 0L),
      options.getLong("maxIdsPerTrigger", Long.MaxValue),
      options.getInt("partitions", 4))

  /** Batch replay over the same feed: one scan covers
   *  (startFromId, endId ?: currentMaxId], tiled like a micro-batch —
   *  S2/S3 batch replay and the streaming tail share one source. */
  override def toBatch: Batch = {
    val feedName = options.getOrDefault("feed", "")
    val lo = options.getLong("startFromId", 0L)
    val hi =
      if (options.containsKey("endId")) options.getLong("endId", Long.MaxValue)
      else TailFeed.lookup(feedName).currentMaxId
    new CdcBatch(feedName, lo, hi, options.getInt("partitions", 4))
  }
}

final class CdcBatch(feedName: String, lo: Long, hi: Long, partitions: Int)
    extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    CdcRangePartition.tile(feedName, lo, hi, partitions)
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new CdcRangeReader(p.asInstanceOf[CdcRangePartition])
    }
}

/** Offset = highest changeset id emitted (total order ≅ LSN). */
case class IdOffset(maxId: Long) extends Offset {
  override def json(): String = maxId.toString
}

final class CdcMicroBatchStream(feedName: String, startFromId: Long,
                                maxIdsPerTrigger: Long, partitions: Int)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private def feed: TailFeed = TailFeed.lookup(feedName)

  // frozen end for Trigger.AvailableNow: process everything captured at
  // query start, then stop (the reference's ShutdownAfterLastChangeset)
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(feed.currentMaxId)

  override def getDefaultReadLimit: ReadLimit =
    if (maxIdsPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxIdsPerTrigger)

  /** lo + maxIdsPerTrigger without overflow (default bound is Long.MaxValue). */
  private def cap(lo: Long): Long =
    if (maxIdsPerTrigger > Long.MaxValue - lo) Long.MaxValue
    else lo + maxIdsPerTrigger

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[IdOffset].maxId
    val target = availableNowEnd.getOrElse(feed.currentMaxId)
    IdOffset(math.min(target, cap(lo)))
  }

  override def reportLatestOffset(): Offset = IdOffset(feed.currentMaxId)

  override def initialOffset(): Offset = IdOffset(startFromId)

  override def latestOffset(): Offset = IdOffset(feed.currentMaxId)

  override def deserializeOffset(json: String): Offset = IdOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // Trust the (start, end] range exactly as checkpointed: the read limit
    // is applied ONLY in latestOffset. Re-clamping here with the current
    // maxIdsPerTrigger would silently skip events in a checkpointed batch
    // when the limit is lowered across a restart — the offset log already
    // marks that whole range processed.
    val lo = start.asInstanceOf[IdOffset].maxId
    val hi = end.asInstanceOf[IdOffset].maxId
    CdcRangePartition.tile(feedName, lo, hi, partitions)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new CdcRangeReader(p.asInstanceOf[CdcRangePartition])
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** (lo, hi]: a disjoint id range of one trigger. */
case class CdcRangePartition(feedName: String, lo: Long, hi: Long)
    extends InputPartition

object CdcRangePartition {
  /** Tile (lo, hi] into ≤`partitions` contiguous disjoint ranges of a
    * ceiling step (empty when hi≤lo). `hi - lo` and the step are taken as
    * UNSIGNED longs: exact for every lo < hi, so no span overflows. */
  def tile(feedName: String, lo: Long, hi: Long,
           partitions: Int): Array[InputPartition] = {
    require(partitions > 0, s"partitions must be positive: $partitions")
    import java.lang.Long.{compareUnsigned, divideUnsigned, remainderUnsigned}
    val out = Array.newBuilder[InputPartition]
    if (hi > lo) {
      val span = hi - lo
      val step = divideUnsigned(span, partitions.toLong) +
        (if (remainderUnsigned(span, partitions.toLong) == 0L) 0L else 1L)
      var s = lo
      while (s != hi) {
        val e = if (compareUnsigned(hi - s, step) <= 0) hi else s + step
        out += CdcRangePartition(feedName, s, e)
        s = e
      }
    }
    out.result()
  }
}

final class CdcRangeReader(p: CdcRangePartition)
    extends PartitionReader[InternalRow] {
  private val it = TailFeed.lookup(p.feedName).range(p.lo, p.hi)
  private var cur: TailFeed.Change = _
  override def next(): Boolean = { val has = it.hasNext; if (has) cur = it.next(); has }
  // release feed resources even when the task is cancelled mid-range
  private def closeUnderlying(): Unit = it match {
    case c: AutoCloseable => try c.close() catch { case _: Throwable => () }
    case _ => ()
  }
  override def get(): InternalRow = {
    def s(x: String) = if (x == null) null else UTF8String.fromString(x)
    new GenericInternalRow(Array[Any](
      cur.id,
      if (cur.tsMicros == null) null else cur.tsMicros,
      s(cur.action), s(cur.schemaName), s(cur.tableName),
      cur.relid, s(cur.newValues), s(cur.oldValues)))
  }
  override def close(): Unit = closeUnderlying()
}

/**
 * Pluggable append-only feed. Implementations must serve `range(lo, hi]`
 * repeatably (at-least-once replays read the same rows).
 */
trait TailFeed extends Serializable {
  def currentMaxId: Long
  def range(lo: Long, hi: Long): Iterator[TailFeed.Change]
}

object TailFeed {
  /** One change row (Java types, nullable via boxing). */
  case class Change(id: Long, tsMicros: java.lang.Long, action: String,
                    schemaName: String, tableName: String, relid: Long,
                    newValues: String, oldValues: String)

  // registry keyed by name; executors resolve feeds by name. In-memory
  // feeds therefore only work in local mode (one JVM) — exactly the test
  // environment; cluster deployments use JdbcTailFeed (self-contained).
  private val feeds = new java.util.concurrent.ConcurrentHashMap[String, TailFeed]()
  def register(name: String, feed: TailFeed): Unit = { feeds.put(name, feed); () }
  def lookup(name: String): TailFeed = {
    val f = feeds.get(name)
    require(f != null, s"no TailFeed registered under '$name'")
    f
  }
}

/** In-memory append-only feed (tests / local mode). */
final class MemoryTailFeed extends TailFeed {
  private val rows = new java.util.concurrent.ConcurrentSkipListMap[Long, TailFeed.Change]()
  def append(c: TailFeed.Change): Unit = { rows.put(c.id, c); () }
  override def currentMaxId: Long =
    if (rows.isEmpty) 0L else rows.lastKey()
  override def range(lo: Long, hi: Long): Iterator[TailFeed.Change] = {
    import scala.jdk.CollectionConverters._
    rows.subMap(lo, false, hi, true).values.asScala.iterator
  }
}

/**
 * JDBC audit-table feed (reference: the audit table + id index,
 * db/sql.go:14-39). Each executor opens its own connection; the range
 * query uses the primary key index. Not exercised in this environment
 * (no database available) — the in-memory feed covers the source logic.
 */
final class JdbcTailFeed(url: String, table: String) extends TailFeed {
  override def currentMaxId: Long = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT COALESCE(MAX(id), 0) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }
  override def range(lo: Long, hi: Long): Iterator[TailFeed.Change] = {
    val conn = java.sql.DriverManager.getConnection(url)
    val ps = conn.prepareStatement(
      s"""SELECT id, ts, action, schema_name, table_name, relid,
         |new_values, old_values FROM $table
         |WHERE id > ? AND id <= ? ORDER BY id""".stripMargin)
    ps.setLong(1, lo); ps.setLong(2, hi)
    val rs = ps.executeQuery()
    new Iterator[TailFeed.Change] with AutoCloseable {
      private var advanced = false
      private var has = false
      private var closed = false
      override def close(): Unit =
        if (!closed) { closed = true; try rs.close() finally conn.close() }
      override def hasNext: Boolean = {
        if (!advanced) {
          if (closed) { has = false; advanced = true }
          else { has = rs.next(); advanced = true; if (!has) close() }
        }
        has
      }
      override def next(): TailFeed.Change = {
        require(hasNext); advanced = false
        TailFeed.Change(rs.getLong(1),
          Option(rs.getTimestamp(2)).map(t => java.lang.Long.valueOf(t.getTime * 1000L)).orNull,
          rs.getString(3), rs.getString(4), rs.getString(5), rs.getLong(6),
          rs.getString(7), rs.getString(8))
      }
    }
  }
}
