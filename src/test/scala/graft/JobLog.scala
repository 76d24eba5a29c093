package graft

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the local properties of every Spark job started while it is
  * registered; `streaming.sql.batchId` and `sql.streaming.queryId` tie a
  * job to a micro-batch.
  */
final class JobLog private (sc: SparkContext) extends SparkListener {
  private val started = scala.collection.mutable.ArrayBuffer.empty[Properties]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(started += Option(e.properties).getOrElse(new Properties))

  /** The jobs one micro-batch of one streaming query ran, once the
    * listener bus has delivered every job start.
    */
  def microBatchJobs(queryId: java.util.UUID, batchId: Long): Seq[Properties] = {
    org.apache.spark.ListenerBusAccess.drain(sc)
    synchronized(started.toList).filter(p =>
      p.getProperty("sql.streaming.queryId") == queryId.toString &&
        p.getProperty("streaming.sql.batchId") == batchId.toString)
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object JobLog {
  def start(sc: SparkContext): JobLog = {
    val log = new JobLog(sc)
    sc.addSparkListener(log)
    log
  }
}
