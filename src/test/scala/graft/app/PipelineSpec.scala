package graft.app

import graft.SparkSpecBase
import graft.JobLog
import graft.sinks.{DocumentSink, InMemoryDocumentSink, ParquetDocumentSink}
import graft.sources.IngestSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** End-to-end: two JSON streams → parse → J1 → three upsert sinks, the full
  * reference topology (`/root/reference/src/main/java/Main.java:45-182`)
  * against the FIXTURES.md golden shapes. Window closing is made
  * deterministic by stamping procTime from the user's registerDate.
  */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def userJson(id: String, name: String, ts: String) =
    s"""{"id":"$id","name":"$name","email":"$id@x.org","genre":"F","registerDate":"$ts"}"""
  private def addrJson(uid: String, tag: String, state: String, country: String) =
    s"""{"userId":"$uid","address":"$tag","city":"c","state":"$state","zipCode":"z","country":"$country"}"""

  test("checkpoint recovery: J1 state survives a query restart") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft-recovery")
    val in = base.resolve("in")
    Files.createDirectories(in.resolve("user"))
    Files.createDirectories(in.resolve("address"))
    val cp = base.resolve("cp").toString
    val source = new graft.sources.FileIngestSource(in.toString)
    val uaSink = new InMemoryDocumentSink
    val pipeline = new Pipeline(source, uaSink, new InMemoryDocumentSink,
      new InMemoryDocumentSink,
      procTimeExpr = col("user.registerDate"))

    // phase 1: only the user arrives; its offset is committed to the
    // checkpoint, so a restart will NOT re-read this file
    Files.writeString(in.resolve("user/u1.json"),
      userJson("u1", "Maria", "2026-01-01T10:00:10.000000+0000"))
    val q1 = pipeline.startUserAddressQuery(spark, cp, Trigger.ProcessingTime(0))
    try q1.processAllAvailable() finally q1.stop()
    assert(uaSink.get("u1").exists(
      r => r.getSeq[Any](r.fieldIndex("addresses")).isEmpty))

    // phase 2: restart from the checkpoint; an address-only batch can only
    // produce a snapshot if u1's user was RECOVERED from the state store
    Files.writeString(in.resolve("address/a1.json"),
      addrJson("u1", "a1", "IL", "BR"))
    val q2 = pipeline.startUserAddressQuery(spark, cp, Trigger.ProcessingTime(0))
    try q2.processAllAvailable() finally q2.stop()
    val u1doc = uaSink.get("u1").get
    val addrs = u1doc.getSeq[org.apache.spark.sql.Row](u1doc.fieldIndex("addresses"))
    assert(addrs.map(_.getString(0)) == Seq("a1"))
  }

  private def nullStateAddrJson(uid: String, tag: String, country: String) =
    s"""{"userId":"$uid","address":"$tag","city":"c","state":null,"zipCode":"z","country":"$country"}"""

  /** The F2 interleaving, one event per micro-batch: Left is a user
    * message, Right an address.
    */
  private val f2Steps: Seq[Either[String, String]] = Seq(
    Left(userJson("u1", "Maria", "2026-01-01T10:00:10.000000+0000")),
    Right(addrJson("u1", "a1", "IL", "BR")),
    // two addresses in ONE batch: the shared path must accumulate the
    // batch partial (IL+2) onto the prior partial (IL+1), not overwrite
    Right(addrJson("u1", "a2", "IL", "BR")),
    Right(addrJson("u1", "a3", "NY", "US")),
    Left(userJson("u2", "Joao", "2026-01-01T10:05:30.000000+0000")),
    Left(userJson("u3", "Ana", "2026-01-01T10:06:00.000000+0000")))

  /** Replay `steps` through the queries `start` launches, with fresh
    * sources and checkpoint; returns the stopped queries.
    */
  private def replay(steps: Seq[Either[String, String]],
      sinks: (DocumentSink, DocumentSink, DocumentSink))(
      start: (Pipeline, String) => Seq[StreamingQuery]): Seq[StreamingQuery] = {
    implicit val sqlCtx = spark.sqlContext
    val userStream = MemoryStream[String]
    val addrStream = MemoryStream[String]
    val source = new IngestSource {
      override def users(s: SparkSession): DataFrame = userStream.toDF().toDF("value")
      override def addresses(s: SparkSession): DataFrame = addrStream.toDF().toDF("value")
    }
    val pipeline = new Pipeline(source, sinks._1, sinks._2, sinks._3,
      windowLength = "1 minute", procTimeExpr = col("user.registerDate"))
    val cp = java.nio.file.Files.createTempDirectory("graft-cp-shared").toString
    val queries = start(pipeline, cp)
    try steps.foreach { step =>
      step.fold(userStream.addData(_), addrStream.addData(_))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    queries
  }

  private def inMemorySinks() =
    (new InMemoryDocumentSink, new InMemoryDocumentSink, new InMemoryDocumentSink)

  // snap_order is a physical emission stamp (monotonic id), not part of
  // the logical document — compare everything else exactly, duplicates too
  private def canon(s: DocumentSink, dropCols: String*): Seq[String] =
    s.snapshot(spark).drop(dropCols: _*).collect().map(_.toString).toSeq.sorted

  test("shared single-state topology converges to the same sink state as startAll") {
    val (ua1, st1, co1) = inMemorySinks()
    replay(f2Steps, (ua1, st1, co1))((p, cp) => p.startAll(spark, cp, Trigger.ProcessingTime(0)))
    val (ua2, st2, co2) = inMemorySinks()
    replay(f2Steps, (ua2, st2, co2))(
      (p, cp) => Seq(p.startAllShared(spark, cp, Trigger.ProcessingTime(0))))

    assert(canon(ua2, "snap_order") == canon(ua1, "snap_order"))
    assert(canon(st2) == canon(st1))
    assert(canon(co2) == canon(co1))
    // and the converged values are the §2.1 over-counts
    assert(st2.get("IL").map(_.getLong(2)).contains(5L))
    assert(co2.get("BR").map(_.getLong(2)).contains(5L))
  }

  test("shared topology into Parquet sinks matches startAll; one micro-batch's Spark jobs are bounded") {
    // F2 plus a null-state address in u1's 10:00 window, and an IL/BR
    // address of u2 in the 10:05 window, closed by u4
    val steps = f2Steps.take(4) ++ Seq(
      Right(nullStateAddrJson("u1", "a4", "BR")),
      f2Steps(4),
      Right(addrJson("u2", "b1", "IL", "BR")),
      f2Steps(5),
      Left(userJson("u4", "Rui", "2026-01-01T10:07:30.000000+0000")))
    val (ua1, st1, co1) = inMemorySinks()
    replay(steps, (ua1, st1, co1))((p, cp) => p.startAll(spark, cp, Trigger.ProcessingTime(0)))

    val dir = java.nio.file.Files.createTempDirectory("graft-shared-parquet")
    val Seq(ua2, st2, co2) = Seq("userAddress", "state", "country")
      .map(n => new ParquetDocumentSink(dir.resolve(n).toString))
    val jobLog = JobLog.start(spark.sparkContext)
    val shared = try replay(steps, (ua2, st2, co2))(
      (p, cp) => Seq(p.startAllShared(spark, cp, Trigger.ProcessingTime(0)))).head
    finally jobLog.stop()

    assert(canon(ua2, "snap_order") == canon(ua1, "snap_order"))
    assert(canon(st2) == canon(st1))
    assert(canon(co2) == canon(co1))
    def counts(s: DocumentSink, key: String): Map[Option[String], (String, Long)] =
      s.snapshot(spark).collect().map(r => Option(r.getAs[String](key)) ->
        (r.getAs[java.sql.Timestamp]("window_start").toString, r.getAs[Long]("count"))).toMap
    val (w0, w5) = ("2026-01-01 10:00:00.0", "2026-01-01 10:05:00.0")
    // the newest window wins per key; the null state is its own group
    assert(counts(st2, "state") ==
      Map(Some("IL") -> (w5 -> 1L), Some("NY") -> (w0 -> 2L), None -> (w0 -> 1L)))
    assert(counts(co2, "country") == Map(Some("BR") -> (w5 -> 1L), Some("US") -> (w0 -> 2L)))

    // Micro-batch 2 (address a2) runs with every sink already written once,
    // the steady state. Its jobs (a stream's batch plans run without AQE,
    // and every sink merge is a shuffle join, so a shuffle is a stage, not
    // a job of its own):
    //  1. isEmpty, the emptiness probe, which starts filling the cache;
    //  2. the userAddress upsert's Parquet write;
    //  3. the window aggregation's collect, one for both count sinks;
    //  4. the state sink's read-merge-write;
    //  5. the country sink's read-merge-write.
    // Sink reads use the schema each sink recorded, so no schema-inference
    // job runs. With an emptiness probe run before the cache, one per count
    // sink's partial, a broadcast per count-sink merge and a
    // schema-inference job per sink read (five), the same batch ran 13 jobs.
    assert(shared.recentProgress.find(_.batchId == 2).map(_.numInputRows).contains(1L))
    val jobs = jobLog.microBatchJobs(shared.id, 2)
    assert(jobs.size <= 5)
  }

  test("full topology: snapshots upserted by userId; windowed counts by state/country") {
    implicit val sqlCtx = spark.sqlContext
    val userStream = MemoryStream[String]
    val addrStream = MemoryStream[String]
    val source = new IngestSource {
      override def users(s: SparkSession): DataFrame = userStream.toDF().toDF("value")
      override def addresses(s: SparkSession): DataFrame = addrStream.toDF().toDF("value")
    }
    val uaSink = new InMemoryDocumentSink
    val stSink = new InMemoryDocumentSink
    val coSink = new InMemoryDocumentSink
    val pipeline = new Pipeline(source, uaSink, stSink, coSink,
      windowLength = "1 minute",
      procTimeExpr = col("user.registerDate"))
    val cp = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val queries = pipeline.startAll(spark, cp, Trigger.ProcessingTime(0))
    try {
      // F2 interleaving, one event per batch so snapshot order (and the
      // §2.1 over-count) is deterministic
      userStream.addData(userJson("u1", "Maria", "2026-01-01T10:00:10.000000+0000"))
      queries.foreach(_.processAllAvailable())
      addrStream.addData(addrJson("u1", "a1", "IL", "BR"))
      queries.foreach(_.processAllAvailable())
      addrStream.addData(addrJson("u1", "a2", "IL", "BR"))
      queries.foreach(_.processAllAvailable())
      addrStream.addData(addrJson("u1", "a3", "NY", "US"))
      queries.foreach(_.processAllAvailable())
      // batch 2: user u2 five minutes later → closes u1's 10:00 window
      userStream.addData(userJson("u2", "Joao", "2026-01-01T10:05:30.000000+0000"))
      queries.foreach(_.processAllAvailable())
      // one more tick so append-mode windows emitted after the watermark
      // advance land in the sinks
      userStream.addData(userJson("u3", "Ana", "2026-01-01T10:06:00.000000+0000"))
      queries.foreach(_.processAllAvailable())

      // S3: LWW by userId converges to the complete address list
      val u1doc = uaSink.get("u1").get
      val addrs = u1doc.getSeq[org.apache.spark.sql.Row](u1doc.fieldIndex("addresses"))
      assert(addrs.map(_.getString(0)).sorted == Seq("a1", "a2", "a3"))
      assert(uaSink.get("u2").exists(
        _.getSeq[Any](u1doc.fieldIndex("addresses")).isEmpty))

      // S1: over-counting per §2.1 — u1's minute window: IL = a1×3? no:
      // snapshots (u,[]),(u,[a1]),(u,[a1,a2]),(u,[a1,a2,a3])
      // IL appears: a1 in 3 snapshots + a2 in 2 → 5; NY: a3 in 1 → 1
      assert(stSink.get("IL").map(_.getLong(2)).contains(5L))
      assert(stSink.get("NY").map(_.getLong(2)).contains(1L))
      // S2: BR = 5 (a1,a2), US = 1 (a3)
      assert(coSink.get("BR").map(_.getLong(2)).contains(5L))
      assert(coSink.get("US").map(_.getLong(2)).contains(1L))
    } finally queries.foreach(_.stop())
  }

  test("event-time opt-in mode: late address dropped where processing-time mode admits it") {
    import graft.core.{Address, User}
    import graft.operators.{EnrichmentJoin, Envelope}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val u1 = User("u1", "Maria", "u1@x.org", "F", ts("2026-01-01 10:00:10"))
    def addr(tag: String) = Address("u1", tag, "c", "IL", "z", "BR")
    // ---- event-time mode: watermark on eventTime, 0s lateness
    val etIn = MemoryStream[Envelope]
    val et = EnrichmentJoin.joinStreamEventTime(spark, etIn.toDS())
      .toDF().writeStream.format("memory").queryName("j1_et")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // ---- processing-time mode: the same interleaving, reference contract
    val ptIn = MemoryStream[Envelope]
    val pt = EnrichmentJoin.joinStream(spark, ptIn.toDS())
      .toDF().writeStream.format("memory").queryName("j1_pt")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user + on-time address at 10:00:10 — watermark advances
      // to 10:00:10 after this batch in the event-time query
      etIn.addData(Envelope.timedUser(u1, 0),
        Envelope.timedAddress(addr("a1"), ts("2026-01-01 10:00:10"), 1))
      ptIn.addData(Envelope.ofUser(u1, 0), Envelope.ofAddress(addr("a1"), 1))
      et.processAllAvailable(); pt.processAllAvailable()
      // batch 2: a LATE address (event time 09:59:50, behind the
      // watermark) then an on-time one at 10:00:30
      etIn.addData(
        Envelope.timedAddress(addr("late"), ts("2026-01-01 09:59:50"), 1),
        Envelope.timedAddress(addr("a3"), ts("2026-01-01 10:00:30"), 2))
      ptIn.addData(Envelope.ofAddress(addr("late"), 1),
        Envelope.ofAddress(addr("a3"), 2))
      et.processAllAvailable(); pt.processAllAvailable()

      def lastAddrs(table: String): Seq[String] = {
        val snaps = spark.sql(
          s"SELECT transform(addresses, x -> x.address) FROM $table")
          .collect().map(_.getSeq[String](0).toList)
        snaps.maxBy(_.length)
      }
      // THE DIVERGENCE: processing-time buffers the late address per the
      // reference contract (arrival order rules); event-time mode drops
      // rows behind the watermark before they reach the state machine
      assert(lastAddrs("j1_pt") == List("a1", "late", "a3"))
      assert(lastAddrs("j1_et") == List("a1", "a3"))
      // Spark's own progress reports the drop: the one late address
      def droppedByWatermark(q: StreamingQuery): Long =
        q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(droppedByWatermark(et) == 1L)
      assert(droppedByWatermark(pt) == 0L)
    } finally { et.stop(); pt.stop() }

    // ---- event-time TTL: the watermark, not wall clock, retires state
    val ttlIn = MemoryStream[Envelope]
    val ttl = EnrichmentJoin.joinStreamEventTime(spark, ttlIn.toDS(),
      stateTtl = Some(java.time.Duration.ofSeconds(10)))
      .toDF().writeStream.format("memory").queryName("j1_et_ttl")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // u1 + a1 at 10:00:10 — timeout set at 10:00:20 (event time)
      ttlIn.addData(Envelope.timedUser(u1, 0),
        Envelope.timedAddress(addr("a1"), ts("2026-01-01 10:00:10"), 1))
      ttl.processAllAvailable()
      // stranger key at 10:01:00 advances the watermark past the timeout,
      // so Spark runs a no-data batch that times u1 out and clears its state...
      val u9 = User("u9", "Zoe", "u9@x.org", "F", ts("2026-01-01 10:01:00"))
      ttlIn.addData(Envelope.timedUser(u9, 0))
      ttl.processAllAvailable()
      // ...and the new address (user now unknown) buffers silently, no
      // emission
      ttlIn.addData(Envelope.timedAddress(addr("a2"), ts("2026-01-01 10:01:10"), 1))
      ttl.processAllAvailable()
      // u1 re-registers: the snapshot contains ONLY the post-expiry
      // address — pre-expiry a1 was retired by the event-time TTL
      ttlIn.addData(Envelope.timedUser(
        u1.copy(registerDate = ts("2026-01-01 10:01:20")), 0))
      ttl.processAllAvailable()
      val snaps = spark.sql(
        "SELECT transform(addresses, x -> x.address) FROM j1_et_ttl")
        .collect().map(_.getSeq[String](0).toList)
      assert(snaps.contains(List("a2")), s"snapshots: ${snaps.toList}")
      assert(!snaps.exists(_ == List("a1", "a2")),
        s"TTL-expired a1 resurfaced: ${snaps.toList}")
    } finally ttl.stop()
  }
}
