package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records every Spark job's description and streaming batch id. */
final class JobRecorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[(Option[Long], String)]
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs += ((p.flatMap(q => Option(q.getProperty("streaming.sql.batchId")))
      .map(_.toLong),
      p.flatMap(q => Option(q.getProperty("spark.job.description")))
        .getOrElse("")))
    ()
  }
  def of(batch: Long): Seq[String] = synchronized {
    jobs.collect { case (Some(`batch`), d) => d }.toSeq
  }
  /** Every recorded job's description. */
  def descriptions: Seq[String] = synchronized(jobs.map(_._2).toSeq)
}

object JobRecorder {
  /** Runs `body` with a recorder installed. Listener events arrive
    * asynchronously but in order, so once a fence job of the body's
    * thread is seen, every earlier job has been recorded. */
  def recording[T](spark: SparkSession)(body: JobRecorder => T): T = {
    val sc = spark.sparkContext
    val r = new JobRecorder
    sc.addSparkListener(r)
    try {
      val t = body(r)
      sc.setJobDescription("job-recorder-fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!r.synchronized(r.jobs.exists(_._2 == "job-recorder-fence")) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      t
    } finally sc.removeSparkListener(r)
  }
}
