package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the properties of every Spark job started while installed —
  * the job-budget specs count jobs per streaming micro-batch from the
  * `sql.streaming.queryId` / `streaming.sql.batchId` properties the
  * stream execution attaches to each job it runs.
  *
  * Listener delivery is asynchronous; [[jobs]] first runs a marker job
  * and waits until the listener has seen it, so every job started
  * before the call has been delivered (one queue, FIFO).
  */
final class JobLog private (spark: SparkSession) extends SparkListener {
  private val started = new ConcurrentLinkedQueue[Properties]()
  private val markerProp = "graft.spec.jobLogMarker"
  @volatile private var markers = Set.empty[String]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = Option(js.properties).getOrElse(new Properties())
    Option(p.getProperty(markerProp)) match {
      case Some(m) => synchronized { markers += m }
      case None => started.add(p)
    }
  }

  /** Properties of every job started so far (markers excluded). */
  def jobs(): Seq[Properties] = {
    val sc = spark.sparkContext
    val m = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(markerProp, m)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(markerProp, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!markers.contains(m) && System.nanoTime() < deadline) Thread.sleep(10)
    assert(markers.contains(m), "listener bus did not deliver the marker job")
    started.asScala.toSeq
  }

  /** Job count per micro-batch id of streaming query `queryId`. */
  def perBatch(queryId: java.util.UUID): Map[Long, Int] =
    jobs().filter(_.getProperty("sql.streaming.queryId") == queryId.toString)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")).map(_.toLong))
      .groupBy(identity).map { case (b, js) => b -> js.size }

  def clear(): Unit = { jobs(); started.clear() }

  def remove(): Unit = spark.sparkContext.removeSparkListener(this)
}

object JobLog {
  /** Install a log, run `body` with it, and remove it. */
  def around[T](spark: SparkSession)(body: JobLog => T): T = {
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try body(log) finally log.remove()
  }
}
