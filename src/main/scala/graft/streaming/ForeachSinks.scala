package graft.streaming

import org.apache.spark.sql.{ForeachWriter, Row}

/**
 * K2 — per-event push sink (reference: the demo websocket broadcaster,
 * build/demo-service/main.go:60-66). A `ForeachWriter` is Spark's shape
 * for per-row push delivery: one writer instance per partition per epoch,
 * `open/process/close` lifecycle.
 *
 * The transport is pluggable; [[CollectingWriter]] is the in-memory test
 * transport standing in for a websocket/HTTP client (none exists in this
 * environment).
 */
object ForeachSinks {

  /** JSON string escape incl. all control characters (a raw newline in a
    * captured text column must not break the line protocol). */
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def toJsonLine(r: Row): String = {
    val fields = r.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      val v = r.get(i)
      val vs = v match {
        case null => "null"
        case s: String => "\"" + esc(s) + "\""
        case b: java.lang.Boolean => b.toString
        case n: java.lang.Number => n.toString
        case other => // timestamps, dates, anything else → JSON string
          "\"" + esc(other.toString) + "\""
      }
      "\"" + esc(f) + "\":" + vs
    }
    fields.mkString("{", ",", "}")
  }

  /** A push writer with a pluggable send function. */
  class PushWriter(send: String => Unit) extends ForeachWriter[Row] {
    override def open(partitionId: Long, epochId: Long): Boolean = true
    override def process(r: Row): Unit = send(toJsonLine(r))
    override def close(errorOrNull: Throwable): Unit = ()
  }

  /** Test transport: accumulates lines in a static buffer (per JVM — fine
    * for local-mode tests). */
  object CollectingWriter {
    val buffer = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def writer: ForeachWriter[Row] = new PushWriter(s => { buffer.add(s); () })
  }
}
