package graft.operators

import graft.SparkSpecBase
import graft.core.{Address, User, UserAddress}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The five contract clauses of SURVEY.md §2.1 (reference
  * `/root/reference/src/main/java/Main.java:78-133`), scenarios F1–F6 of
  * FIXTURES.md §4, over the pure core, the batch path, and streaming.
  */
class EnrichmentJoinSpec extends SparkSpecBase {

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private def u(id: String, name: String = "n") = User(id, name, s"$name@x", "F", ts)
  private def a(uid: String, tag: String) = Address(uid, tag, "c", s"S-$tag", "z", s"C-$tag")

  private def run(evs: Envelope*): Vector[UserAddress] =
    EnrichmentJoin.runKey(evs.iterator)._2.toVector

  test("F1: lone user emits snapshot with empty address list") {
    val out = run(Envelope.ofUser(u("u1")))
    assert(out == Vector(UserAddress(u("u1"), Vector())))
  }

  test("F2: user then 3 addresses → 4 cumulative prefix snapshots") {
    val out = run(
      Envelope.ofUser(u("u1"), 0),
      Envelope.ofAddress(a("u1", "a1"), 1),
      Envelope.ofAddress(a("u1", "a2"), 2),
      Envelope.ofAddress(a("u1", "a3"), 3))
    assert(out.map(_.addresses.map(_.address)) ==
      Vector(Seq(), Seq("a1"), Seq("a1", "a2"), Seq("a1", "a2", "a3")))
  }

  test("F3: addresses before user are silently buffered — no emission") {
    val out = run(
      Envelope.ofAddress(a("u1", "a1"), 0),
      Envelope.ofAddress(a("u1", "a2"), 1))
    assert(out.isEmpty)
  }

  test("F4: address buffered before user is included once user arrives") {
    val out = run(
      Envelope.ofAddress(a("u1", "a1"), 0),
      Envelope.ofUser(u("u1"), 1),
      Envelope.ofAddress(a("u1", "a2"), 2))
    assert(out.map(_.addresses.map(_.address)) ==
      Vector(Seq("a1"), Seq("a1", "a2")))
  }

  test("F5: duplicate addresses accumulate — NO dedup") {
    val out = run(
      Envelope.ofUser(u("u1"), 0),
      Envelope.ofAddress(a("u1", "a1"), 1),
      Envelope.ofAddress(a("u1", "a1"), 2))
    assert(out.last.addresses.map(_.address) == Seq("a1", "a1"))
  }

  test("F6: re-sent user overwrites attributes (last-write-wins) and re-emits") {
    val out = run(
      Envelope.ofUser(u("u1", "old"), 0),
      Envelope.ofAddress(a("u1", "a1"), 1),
      Envelope.ofUser(u("u1", "new"), 2))
    assert(out.map(_.user.name) == Vector("old", "old", "new"))
    assert(out.last.addresses.map(_.address) == Seq("a1"))
  }

  test("batch path: per-key ordering by seq, keys independent") {
    import spark.implicits._
    val evs = Seq(
      Envelope.ofAddress(a("u1", "a1"), 2),
      Envelope.ofUser(u("u1"), 1),
      Envelope.ofUser(u("u2"), 1),
      Envelope.ofAddress(a("u2", "b1"), 0)) // before its user → buffered
    val out = EnrichmentJoin.joinBatch(spark, evs.toDS()).collect()
    val byUser = out.groupBy(_.user.id).view.mapValues(_.length).toMap
    assert(byUser == Map("u1" -> 2, "u2" -> 1))
  }

  test("streaming path: state persists across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Envelope]
    val joined = EnrichmentJoin.joinStream(spark, input.toDS())
    val q = joined.writeStream
      .format("memory").queryName("j1_stream")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(Envelope.ofUser(u("u1"), 0))
      q.processAllAvailable()
      input.addData(Envelope.ofAddress(a("u1", "a1"), 1))
      q.processAllAvailable()
      input.addData(Envelope.ofAddress(a("u1", "a2"), 2))
      q.processAllAvailable()
      val rows = spark.sql("SELECT addresses FROM j1_stream").collect()
      assert(rows.length == 3) // [], [a1], [a1,a2] — cumulative across batches
      val sizes = rows.map(_.getSeq[Any](0).size).sorted.toSeq
      assert(sizes == Seq(0, 1, 2))
    } finally q.stop()
  }

  test("cumulative snapshots across micro-batches (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Envelope]
    val q = EnrichmentJoin.joinStream(spark, input.toDS())
      .writeStream.format("memory").queryName("j1_rocksdb")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // F3/F4: address before user buffers silently, then flows
      input.addData(Envelope.ofAddress(a("u1", "a0"), 0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM j1_rocksdb").count() == 0)
      input.addData(Envelope.ofUser(u("u1"), 1))
      q.processAllAvailable()
      input.addData(Envelope.ofAddress(a("u1", "a1"), 2))
      q.processAllAvailable()
      // F6: user re-send, last-write-wins
      input.addData(Envelope.ofUser(u("u1", "renamed"), 3))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user.name, transform(addresses, x -> x.address) AS addrs FROM j1_rocksdb")
        .collect().map(r => (r.getString(0), r.getSeq[String](1).toList))
      assert(rows.length == 3)
      assert(rows.map(_._2.size).sorted.toSeq == Seq(1, 2, 2))
      // buffered a0 present in the first emission; rename visible in the last
      assert(rows.exists { case (n, ad) => n == "renamed" && ad == List("a0", "a1") })
      assert(rows.forall(_._2.head == "a0"))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpoint recovery at large key count: restart resumes 20k-key state intact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val cp = java.nio.file.Files.createTempDirectory("graft-j1-recovery").toString
    val n = 20000
    val input = MemoryStream[Envelope]
    val counts = new java.util.concurrent.atomic.AtomicLong()
    def runWave(): Unit = {
      val q = EnrichmentJoin.joinStream(spark, input.toDS())
        .toDF().select(org.apache.spark.sql.functions.col("user.id"))
        .writeStream
        .option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          counts.addAndGet(b.count()); ()
        }
        .start()
      q.awaitTermination(300000)
      q.stop()
    }
    try {
      // wave 1: n users → n snapshot emissions, state = n keys
      input.addData((0 until n).map(i =>
        Envelope.ofUser(u(i.toString), 0)): _*)
      runWave()
      assert(counts.get() == n.toLong)
      // wave 2 RESUMES the checkpoint at n keys: one address per existing
      // key must emit exactly one snapshot each — possible only if the
      // restarted store still holds every buffered user
      input.addData((0 until n).map(i =>
        Envelope.ofAddress(a(i.toString, s"addr$i"), 1)): _*)
      runWave()
      assert(counts.get() == 2L * n,
        s"expected ${2L * n} total emissions after recovery, got ${counts.get()}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("TTL branch: timed-out key's state is removed; TTL is re-armed on data") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttl = java.time.Duration.ofMinutes(5)
    val later = new java.sql.Timestamp(ts.getTime + 30000L)
    // (timeout conf, watermark, event-time mode, one batch's events,
    //  snapshots emitted, the deadline the TTL must arm)
    val modes = Seq(
      (GroupStateTimeout.ProcessingTimeTimeout, Optional.empty[Long](), false,
        Seq(Envelope.ofUser(u("u1"))), 1, 1000L + ttl.toMillis),
      // event time: the deadline is the batch's max event time + ttl, which
      // the watermark, not the batch clock, must pass
      (GroupStateTimeout.EventTimeTimeout, Optional.of(ts.getTime), true,
        Seq(Envelope.timedAddress(a("u1", "a1"), later, 1), Envelope.timedUser(u("u1"), 0)),
        2, later.getTime + ttl.toMillis))
    modes.foreach { case (conf, watermark, eventTime, events, emitted, deadline) =>
      // data batch: state written and timeout armed
      val st = TestGroupState.create[EnrichmentJoin.JoinState](
        optionalState = Optional.empty[EnrichmentJoin.JoinState](),
        timeoutConf = conf,
        batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = watermark, hasTimedOut = false)
      val out = EnrichmentJoin.stateFunc(Some(ttl), eventTime)("u1", events.iterator, st).toVector
      assert(out.length == emitted && st.exists, conf)
      assert(st.getTimeoutTimestampMs.get == deadline, conf) // TTL armed
      // timeout batch: state dropped, nothing emitted
      val st2 = TestGroupState.create[EnrichmentJoin.JoinState](
        optionalState = Optional.of(st.get),
        timeoutConf = conf,
        batchProcessingTimeMs = deadline + 1,
        eventTimeWatermarkMs = if (eventTime) Optional.of(deadline + 1) else watermark,
        hasTimedOut = true)
      val out2 = EnrichmentJoin.stateFunc(Some(ttl), eventTime)("u1", Iterator.empty, st2).toVector
      assert(out2.isEmpty && st2.isRemoved, conf)
    }
  }
}
