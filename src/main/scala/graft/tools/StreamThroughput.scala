package graft.tools

import graft.core.Schemas
import graft.operators.{EnrichmentJoin, Envelope}
import graft.sources.{FileIngestSource, FixtureGenerator}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming probes for the J1 path. Three modes:
  *
  *  - `join` (default): raw throughput of N generated wire messages →
  *    file source → JSON parse → `EnrichmentJoin.joinStream` (RocksDB
  *    state store) → counted sink. Prints wall-clock and msg/s.
  *    Context: the reference's producer emits 40 Kafka messages per run
  *    total (`user-generator.py`, BASELINE.md) with a parallelism-1
  *    aggregation downstream, so any sustained five-digit msg/s figure is
  *    orders of magnitude beyond the reference's demonstrated scale.
  *
  *  - `fanout`: the 100 TB question from SURVEY §4 — run the SAME fixture
  *    through `Pipeline.startAll` (three queries, each rebuilding J1 state)
  *    and `Pipeline.startAllShared` (one query, foreachBatch fan-out) and
  *    print wall-clock + total state-store rows for each. Expected: ~3×
  *    state rows and ~3× join compute for the triple topology.
  *
  *  - `ttl`: state-growth evidence for `stateTtl` — replay a key-churn
  *    workload (three waves of fresh keys, idle gaps between waves) with
  *    TTL off vs TTL on and print final state rows. TTL-off retains every
  *    key ever seen; TTL-on converges to ~one wave's working set.
  *
  *  - `soak`: the STATE-SCALE curve the no-TTL default implies (SURVEY
  *    §2.1.4) — waves of `nUsers` FRESH keys (user + 1 address each)
  *    resume one RocksDB checkpoint, so accumulated key count grows
  *    wave over wave while per-wave work stays constant; prints per-wave
  *    wall clock, total state rows, and the RocksDB on-disk size. A flat
  *    per-wave latency as keys accumulate is the evidence that state
  *    lookups stay O(batch), not O(store) — the property that lets the
  *    reference's never-expire contract survive beyond toy key counts
  *    (with TTL remaining the config knob for bounded stores, `ttl`
  *    mode). Args: soak [waveSize] [waves].
  *
  * Usage: runMain graft.tools.StreamThroughput [mode] [nUsers] [waves]
  */
object StreamThroughput {

  def main(args: Array[String]): Unit = {
    // back-compat: a single numeric arg means `join <n>`
    val (mode, nUsers) = args.toList match {
      case Nil => ("join", 50000)
      case n :: rest if n.forall(_.isDigit) => ("join", n.toInt)
      case m :: rest => (m, rest.headOption.map(_.toInt).getOrElse(50000))
    }
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Unload every loaded state-store provider BEFORE the context stops:
    // this closes each RocksDB instance (and disposes its native logger)
    // while the JVM is still healthy. Skipping it lets RocksDB's
    // LoggerJniCallback fire during JVM exit — the known shutdown race
    // that SIGSEGV'd the 10M-key soak strictly after its last
    // measurement (ARCHITECTURE.md, round 8). try/finally so the ordered
    // teardown also runs when a probe throws — an exceptional exit is
    // exactly when a store is most likely to still be open.
    try {
      mode match {
        case "join" => joinProbe(spark, nUsers)
        case "fanout" => fanoutProbe(spark, nUsers)
        case "ttl" => ttlProbe(spark, math.min(nUsers, 5000))
        case "soak" => soakProbe(spark, nUsers,
          args.lift(2).map(_.toInt).getOrElse(10))
        case other => System.err.println(s"unknown mode $other"); sys.exit(2)
      }
    } finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      spark.stop()
    }
  }

  private def stateRows(q: StreamingQuery): Long =
    // the newest progress entry can be a no-data batch with empty state
    // metrics; report the most recent batch that carried them
    q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty =>
        p.stateOperators.map(_.numRowsTotal).sum
    }.getOrElse(-1L)

  def joinProbe(spark: SparkSession, nUsers: Int): Unit = {
    import spark.implicits._
    val addressesPerUser = 3
    val dir = java.nio.file.Files.createTempDirectory("graft-throughput").toString
    FixtureGenerator.writeFiles(dir, seed = 42L, nUsers = nUsers,
      addressesPerUser = addressesPerUser)
    val nMessages = nUsers * (1 + addressesPerUser)

    val source = new FileIngestSource(dir, streaming = true)
    val users = Schemas.parseUsers(source.users(spark)).map(Envelope.ofUser(_, 0L))
    val addrs = Schemas.parseAddresses(source.addresses(spark)).map(Envelope.ofAddress(_, 1L))
    val snapshots = EnrichmentJoin.joinStream(spark, users.unionByName(addrs))

    val t0 = System.nanoTime()
    val q = snapshots.toDF()
      .select(col("user.id").as("userId"), size(col("addresses")).as("n"))
      .writeStream.format("memory").queryName("tp")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(600000)
    val secs = (System.nanoTime() - t0) / 1e9
    val emissions = spark.sql("SELECT COUNT(*) FROM tp").collect().head.getLong(0)
    println(f"THROUGHPUT messages=$nMessages emissions=$emissions wall=$secs%.1fs " +
      f"rate=${nMessages / secs}%.0f msg/s")
  }

  /** startAll (triple-state) vs startAllShared (single-state) on one fixture. */
  def fanoutProbe(spark: SparkSession, nUsers: Int): Unit = {
    import graft.app.Pipeline
    import graft.sinks.InMemoryDocumentSink
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout").toString
    FixtureGenerator.writeFiles(dir, seed = 42L, nUsers = nUsers, addressesPerUser = 3)
    val nMessages = nUsers * 4

    def run(label: String, start: (Pipeline, String) => Seq[StreamingQuery]): Unit = {
      val pipeline = new Pipeline(
        new FileIngestSource(dir, streaming = true),
        new InMemoryDocumentSink, new InMemoryDocumentSink, new InMemoryDocumentSink)
      val cp = java.nio.file.Files.createTempDirectory(s"graft-fanout-cp").toString
      val t0 = System.nanoTime()
      val qs = start(pipeline, cp)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = qs.map(stateRows).sum
      println(f"FANOUT topology=$label queries=${qs.size} messages=$nMessages " +
        f"wall=$secs%.1fs rate=${nMessages / secs}%.0f msg/s stateRows=$rows")
    }

    run("triple", (p, cp) => p.startAll(spark, cp, Trigger.ProcessingTime(0)))
    run("shared", (p, cp) => Seq(p.startAllShared(spark, cp, Trigger.ProcessingTime(0))))
  }

  /** State-scale soak: disjoint key waves against ONE resumed RocksDB
    * checkpoint; per-wave latency vs accumulated key count is the curve.
    * Each wave is a run-to-completion restart (the cluster-realistic
    * periodic-job shape, and it also measures recovery: every wave after
    * the first begins by reloading the store at the accumulated size).
    */
  def soakProbe(spark: SparkSession, waveSize: Int, waves: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    val cp = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val ts = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    // ONE source across waves: the checkpoint tracks its offsets, so each
    // restart picks up exactly the newly added wave
    val input = MemoryStream[Envelope]
    for (wave <- 0 until waves) {
      val base = wave.toLong * waveSize
      input.addData((0 until waveSize).flatMap { i =>
        val id = (base + i).toString
        Seq(
          Envelope(id, 0L, Some(graft.core.User(
            id, s"u$id", s"u$id@x.org", "F", ts)), None),
          Envelope(id, 1L, None, Some(graft.core.Address(
            id, s"$i Main St", "Springfield", "ST", "12345", "US"))))
      }: _*)
      val t0 = System.nanoTime()
      val q = EnrichmentJoin.joinStream(spark, input.toDS())
        .toDF().select(col("user.id"))
        .writeStream
        .option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () })
        .start()
      q.awaitTermination(600000)
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = stateRows(q)
      val sizeBytes = q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty =>
          p.stateOperators.map(_.customMetrics.asScala
            .collect { case (k, v) if k.toLowerCase.contains("size") => v.longValue }
            .maxOption.getOrElse(0L)).sum
      }.getOrElse(-1L)
      q.stop()
      println(f"SOAK wave=$wave keysTotal=${(wave + 1).toLong * waveSize} " +
        f"wall=$secs%.1fs stateRows=$rows storeMB=${sizeBytes / 1e6}%.1f")
    }
  }

  /** Key-churn state growth with TTL off vs on: three waves of disjoint
    * keys, each run as its own `AvailableNow` query resuming the same
    * checkpoint, with a >TTL real-time gap between waves (TTL expiry is
    * processing-time-stamped; a long-lived `ProcessingTime(0)` query would
    * busy-loop `processAllAvailable`, so the probe uses run-to-completion
    * restarts — also the more cluster-realistic shape: periodic jobs over a
    * durable checkpoint).
    */
  def ttlProbe(spark: SparkSession, waveSize: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def run(label: String, ttl: Option[java.time.Duration]): Unit = {
      val input = MemoryStream[Envelope]
      val cp = java.nio.file.Files.createTempDirectory(s"graft-ttl-$label").toString
      var lastRows = -1L
      for (wave <- 0 until 3) {
        val base = wave * waveSize
        input.addData((0 until waveSize).map { i =>
          val id = (base + i).toString
          Envelope(id, 0L, Some(graft.core.User(
            id, s"u$id", s"u$id@x.org", "F",
            java.sql.Timestamp.valueOf("2026-01-01 10:00:00"))), None)
        }: _*)
        // Trigger.Once, not AvailableNow: under ProcessingTimeTimeout the
        // state operator keeps scheduling no-data batches, so an AvailableNow
        // query busy-loops for its full await window and floods
        // recentProgress; one batch per restart is exactly the probe shape
        @annotation.nowarn("cat=deprecation")
        val q = EnrichmentJoin.joinStream(spark, input.toDS(), ttl)
          .toDF().select(col("user.id"))
          .writeStream
          .option("checkpointLocation", cp)
          .outputMode("append").trigger(Trigger.Once())
          // no-op sink (memory sink can't resume a checkpoint); the probe
          // only reads the state-operator metrics
          .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () })
          .start()
        q.awaitTermination(120000)
        lastRows = stateRows(q)
        q.stop()
        if (wave < 2) Thread.sleep(2500) // exceed the 2s TTL between waves
      }
      println(s"TTL config=$label waves=3 waveSize=$waveSize " +
        s"finalStateRows=$lastRows")
    }

    run("off", None)
    run("on2s", Some(java.time.Duration.ofSeconds(2)))
  }
}
