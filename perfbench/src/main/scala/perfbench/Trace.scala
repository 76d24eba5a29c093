package perfbench

import graft.sinks.DocumentSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit, size, sum}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A span: one call into a layer. `group` is the benchmark batch it served
  * (all spans of one batch share it, and its `batch` span is their parent);
  * `microBatch` is Spark's batch id.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, group: Int,
    microBatch: Long, attrs: Map[String, Double])

/** In-memory span store; written out once, when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** The benchmark batch in flight. The loop is closed, so every sink call
    * the stream makes while a batch is in flight serves that batch.
    */
  @volatile var currentBatch: Int = 0

  def add(name: String, startNs: Long, endNs: Long, group: Int = currentBatch,
      microBatch: Long = -1L, attrs: Map[String, Double] = Map.empty): Unit = synchronized {
    spans += Span(spans.size, name, startNs, endNs, group, microBatch, attrs)
  }

  def span[T](name: String, microBatch: Long)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(name, t0, System.nanoTime(), microBatch = microBatch)
  }

  def all: Vector[Span] = synchronized(spans.toVector)
}

/** Per-micro-batch counts from Spark's own listeners: jobs and tasks
  * (keyed by the `streaming.sql.batchId` local property the stream sets on
  * every job it runs, sink writes included), SQL actions, and progress.
  */
final class Listeners extends SparkListener with QueryExecutionListener {
  val jobs = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
  val tasks = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
  val taskRunMs = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val stageBatch = mutable.HashMap.empty[Int, Long]
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
      val mb = b.toLong
      jobs(mb) += 1
      e.stageIds.foreach(stageBatch(_) = mb)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageBatch.get(e.stageId).foreach { mb =>
      tasks(mb) += 1
      if (e.taskMetrics != null) taskRunMs(mb) += e.taskMetrics.executorRunTime
    }
  }

  /** Arrival time of each SQL action's success callback. The callback
    * does not carry the stream's batch id, so actions are attributed to the
    * benchmark batch in flight when they arrive (batches are separated by
    * idle time).
    */
  val actionTimes = mutable.ArrayBuffer.empty[Long]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(actionTimes += System.nanoTime())
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Register before any stream starts: a stream runs its batches in a
    * clone of the session, which inherits the session's listeners.
    */
  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }
}

/** Traced-run wrapper around a real sink: spans around every call, plus the
  * counts the per-layer metrics need. For a window-count sink it first
  * materializes the counts it is handed, so the window computation is timed
  * apart from the write. Untraced runs use the real sink directly.
  */
final class TracingSink(name: String, dir: java.nio.file.Path, delegate: DocumentSink,
    tracer: Tracer, windowCounts: Boolean) extends DocumentSink {
  private var lastCountTotal = 0L

  private def microBatch(spark: SparkSession): Long =
    Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)

  override def upsert(batch: DataFrame, keyField: String, orderCol: Option[String]): Unit = {
    val spark = batch.sparkSession
    val mb = microBatch(spark)
    val attrs = mutable.Map.empty[String, Double]
    val input =
      if (windowCounts) {
        val t0 = System.nanoTime()
        val m = batch.persist()
        val total = m.agg(sum(col("count"))).head().getLong(0)
        tracer.add("operators.window", t0, System.nanoTime(), microBatch = mb,
          attrs = Map(s"exploded_rows_$name" -> (total - lastCountTotal).toDouble))
        lastCountTotal = total
        attrs("rows") = m.count().toDouble
        m
      } else {
        val t0 = System.nanoTime()
        val r = batch.agg(count(lit(1)), sum(size(col("addresses")))).head()
        tracer.add("trace.count", t0, System.nanoTime(), microBatch = mb,
          attrs = Map("snapshots" -> r.getLong(0).toDouble, "address_rows" -> r.getLong(1).toDouble))
        attrs("rows") = r.getLong(0).toDouble
        batch
      }
    val before = Disk.bytes(dir)
    val t0 = System.nanoTime()
    try delegate.upsert(input, keyField, orderCol)
    finally {
      val t1 = System.nanoTime()
      if (windowCounts) input.unpersist()
      attrs("bytes_written") = math.max(0L, Disk.bytes(dir) - before).toDouble
      tracer.add(s"sinks.upsert[$name]", t0, t1, microBatch = mb, attrs = attrs.toMap)
    }
  }

  override def snapshot(spark: SparkSession): DataFrame =
    tracer.span("sinks.snapshot", microBatch(spark))(delegate.snapshot(spark))

  override def snapshotOption(spark: SparkSession): Option[DataFrame] =
    tracer.span("sinks.snapshot", microBatch(spark))(delegate.snapshotOption(spark))
}

object Disk {
  def bytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
