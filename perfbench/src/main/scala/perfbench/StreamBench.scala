package perfbench

import graft.app.Pipeline
import graft.core.Schemas
import graft.sinks.{DocumentSink, ParquetDocumentSink}
import graft.sources.FileIngestSource
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, unix_micros, when}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The benchmark's stream workloads: the shipped `Pipeline.startAllShared`
  * topology, wire JSON files in, three `ParquetDocumentSink`s out.
  *
  * One client drives a closed loop: it makes one batch visible (user file,
  * then address file, each by atomic rename) and waits in
  * `processAllAvailable()` until the batch is committed, then sends the
  * next. `msg_per_s` is therefore saturation throughput at the workload's
  * batch size. Every batch's input is written to a staging directory before
  * its clock starts, so generation is never timed.
  *
  * The end-to-end numbers come from untraced runs, which use the real sinks
  * and register no listener. A traced run (`--trace 1`) wraps each sink in
  * [[TracingSink]], registers Spark's job, SQL-action and streaming
  * listeners, and times `Schemas` parsing of the same wire files afterwards.
  *
  * Usage: StreamBench --workload W --seed N --seconds S --trace 0|1
  * --work DIR --artifact FILE [--tiny] [--corrupt-expected]
  */
object StreamBench {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, artifact: Path, tiny: Boolean, corruptExpected: Boolean)

  /** Batch shape of a workload, with the reason it exists. */
  final case class Shape(users: Int, addressesPerUser: Int, why: String)

  val Workloads: Map[String, Shape] = Map(
    "stream_fresh_keys" -> Shape(5000, 3,
      "insert-heavy: every batch brings new users plus 3 addresses for each user of " +
        "the previous batch; parse and the whole-collection sink rewrite grow with the store"),
    "stream_hot_keys" -> Shape(1000, 5,
      "update-heavy: batch 0 registers the users, every later batch adds 5 addresses to " +
        "each of the same users; the store stays small while per-key J1 state and the " +
        "cumulative snapshots grow, so fixed per-batch cost dominates"))

  /** Set-ups per run; `setup_s` is their median. The first set-up of a
    * JVM is cold (class loading, code generation, RocksDB start-up), so the
    * median is in effect a warm set-up; the cold one is `setup_times_s(0)`.
    */
  val SetUps = 3
  /** Every run measures at least this many batches; `store_bytes_per_input_byte`
    * is taken when this batch commits, so it does not depend on run length.
    */
  val RefBatch = 4
  /** Trigger interval. The stream lists its user and address directories
    * one after the other at each trigger; files published mid-interval are
    * seen together, so a batch is one micro-batch.
    */
  val TriggerMs = 200L
  val StateStoreProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  /** All counts fall into one 1-minute window, so they can be checked exactly. */
  val ProcTime: java.time.Instant = java.time.Instant.parse("2026-01-01T00:00:30Z")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def parse(args: Array[String]): Conf = {
    def req(n: String) = arg(args, n).getOrElse(throw new IllegalArgumentException(s"missing $n"))
    val w = req("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Conf(w, req("--seed").toLong, req("--seconds").toDouble, req("--trace") == "1",
      java.nio.file.Paths.get(req("--work")), java.nio.file.Paths.get(req("--artifact")),
      args.contains("--tiny"), args.contains("--corrupt-expected"))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val out = run(conf)
    Files.createDirectories(conf.artifact.getParent)
    Wire.json.writeValue(conf.artifact.toFile, out)
  }

  // ---------------------------------------------------------------- stats

  /** Linear-interpolation percentile (p in [0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile with at least ten samples beyond it; p90
    * when the run has too few samples for that (the artifact says which).
    */
  def tailPercentile(n: Int): Double =
    if (n >= 100) math.floor(100.0 * (n - 10) / n) else 90.0

  private def loadavg(): String =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: Throwable => "" }

  /** CPU time of this JVM, all threads. */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** CPU time the hypervisor took from this machine's CPUs (`/proc/stat`
    * steal, in USER_HZ = 1/100 s ticks); it shows when a slow run was a
    * busy host rather than the code.
    */
  private def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
    } catch { case _: Throwable => Double.NaN }

  /** Total time the JVM's garbage collectors have reported. */
  private def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  private def vmHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }

  /** The machine canary of `graft.Bench` at a third of its size (16M
    * longs, to keep runs short): xorshift fill plus a parallel sort. Its
    * time depends only on the machine, so a shift in
    * the benchmark's numbers can be split into machine speed and code.
    */
  private def canary(): Double = {
    def once(n: Int): Double = {
      val a = new Array[Long](n)
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < a.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        a(i) = x
        i += 1
      }
      java.util.Arrays.parallelSort(a)
      (System.nanoTime() - t0) / 1e9
    }
    once(1 << 20) // untimed: compiles the canary itself
    once(16 << 20)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  // ------------------------------------------------------------------ run

  /** Wait until the stream has committed `rows` more input rows after
    * micro-batch `after`; returns the progress of the micro-batches that
    * carried them. `processAllAvailable` alone can return on a trigger that
    * listed the sources just before the files appeared.
    */
  def awaitRows(q: StreamingQuery, after: Long,
      rows: Long): Seq[StreamingQueryProgress] = {
    var got = Seq.empty[StreamingQueryProgress]
    var tries = 0
    while (got.map(_.numInputRows).sum < rows) {
      require(tries < 50, s"stream committed ${got.map(_.numInputRows).sum} of $rows rows")
      q.processAllAvailable()
      got = q.recentProgress.toSeq.filter(p => p.batchId > after && p.numInputRows > 0)
        .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)
      tries += 1
    }
    got
  }

  final case class Sinks(userAddress: ParquetDocumentSink, state: ParquetDocumentSink,
      country: ParquetDocumentSink, dir: Path)

  /** A measured batch; `sourceRows` holds, per micro-batch, the rows each
    * source (users, addresses) contributed.
    */
  final case class Measured(k: Int, messages: Long, wireBytes: Long, latency: Double,
      microBatches: Seq[Long], sourceRows: Seq[Seq[Long]])

  def run(conf: Conf): Map[String, Any] = {
    val shape = {
      val s = Workloads(conf.workload)
      if (conf.tiny) s.copy(users = 50) else s
    }
    val minBatches = if (conf.tiny) 2 else RefBatch
    val cpus = Runtime.getRuntime.availableProcessors
    val loadStart = loadavg()
    val work = conf.work
    deleteTree(work)
    Files.createDirectories(work)

    val t0Session = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass", StateStoreProvider)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStartS = (System.nanoTime() - t0Session) / 1e9

    val tracer = new Tracer
    val listeners = if (conf.trace) Some(new Listeners) else None
    listeners.foreach(_.register(spark))

    // ---- input
    val gen = new Generator(conf.seed)
    val batches: Iterator[Batch] = conf.workload match {
      case "stream_fresh_keys" =>
        // A batch carries the new users and the addresses of the previous
        // batch's users. The stream lists its user and address directories
        // one after the other, so a user and its addresses made visible
        // together can land in different micro-batches, addresses first;
        // J1 then buffers them and emits one snapshot instead of one per
        // address, and the output would depend on that race.
        var registered = Vector.empty[UserRec]
        Iterator.continually {
          val us = Vector.fill(shape.users)(gen.user())
          val b = Batch(us, registered.map(u => gen.block(u.id, shape.addressesPerUser)))
          registered = us
          b
        }
      case "stream_hot_keys" =>
        val us = Vector.fill(shape.users)(gen.user())
        Iterator.single(Batch(us, Vector.empty)) ++
          Iterator.continually(Batch(Vector.empty, us.map(u => gen.block(u.id, shape.addressesPerUser))))
    }
    val staging = work.resolve("staging")
    def fileName(k: Int) = f"b$k%05d.json"
    val expected = new Expected

    def newSinks(i: Int): Sinks = {
      val d = work.resolve(s"run$i/sinks")
      Sinks(new ParquetDocumentSink(d.resolve("userAddress").toString),
        new ParquetDocumentSink(d.resolve("state").toString),
        new ParquetDocumentSink(d.resolve("country").toString), d)
    }

    def start(i: Int, sinks: Sinks): StreamingQuery = {
      def wrap(name: String, s: ParquetDocumentSink, counts: Boolean): DocumentSink =
        if (conf.trace) new TracingSink(name, sinks.dir.resolve(name), s, tracer, counts) else s
      val pipeline = new Pipeline(
        new FileIngestSource(work.resolve(s"run$i/src").toString),
        wrap("userAddress", sinks.userAddress, counts = false),
        wrap("state", sinks.state, counts = true),
        wrap("country", sinks.country, counts = true),
        procTimeExpr = lit(ProcTime))
      pipeline.startAllShared(spark, work.resolve(s"run$i/checkpoint").toString,
        Trigger.ProcessingTime(TriggerMs))
    }

    /** Make batch `k` visible to run `i`'s source: user file first. */
    def publish(i: Int, k: Int, copy: Boolean): Unit =
      Seq("user", "address").foreach { topic =>
        val from = staging.resolve(topic).resolve(fileName(k))
        if (Files.exists(from)) {
          val to = work.resolve(s"run$i/src/$topic")
          Files.createDirectories(to)
          if (copy) {
            val tmp = work.resolve(s"run$i/tmp-$topic")
            Files.copy(from, tmp)
            Files.move(tmp, to.resolve(fileName(k)), StandardCopyOption.ATOMIC_MOVE)
          } else Files.move(from, to.resolve(fileName(k)), StandardCopyOption.ATOMIC_MOVE)
        }
      }

    // ---- set-up, several times: start the stream and run the warm-up
    // batch through it. The last set-up's query is the one measured.
    val warmup = batches.next()
    var wireBytes = Wire.write(warmup, staging, fileName(0))
    expected.add(warmup)
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var query: StreamingQuery = null
    var sinks: Sinks = null
    for (i <- 1 to SetUps) {
      tracer.currentBatch = -i
      val s = newSinks(i)
      Seq("user", "address").foreach(t => Files.createDirectories(work.resolve(s"run$i/src/$t")))
      publish(i, 0, copy = i < SetUps)
      val t0 = System.nanoTime()
      val q = start(i, s)
      awaitRows(q, -1L, warmup.messages)
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (i < SetUps) {
        q.stop()
        deleteTree(work.resolve(s"run$i"))
      } else {
        query = q
        sinks = s
      }
    }
    var lastMicroBatch = query.recentProgress.map(_.batchId).foldLeft(-1L)(math.max)

    // ---- measured closed loop
    val measured = mutable.ArrayBuffer.empty[Measured]
    var failed = 0
    var storeRatio = Double.NaN
    var failure = ""
    var k = 1
    var next = batches.next()
    var nextBytes = Wire.write(next, staging, fileName(k))
    var cpuS = 0.0
    // the client's own work between two batches (recording one, generating
    // and staging the next): left out of msg_per_s's interval
    var clientS = 0.0
    var firstPublishNs = 0L
    var lastCommitNs = 0L
    val stealStart = stealS()
    val gcStart = gcS()
    val loopStart = System.nanoTime()
    var done = false
    while (!done) {
      tracer.currentBatch = k
      // Publish halfway between two trigger times, while the stream is
      // idle: its next trigger then lists both files together.
      val now = System.currentTimeMillis()
      Thread.sleep((now / TriggerMs + 1) * TriggerMs + TriggerMs / 2 - now)
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      if (k == 1) firstPublishNs = t0
      publish(SetUps, k, copy = false)
      val progress =
        try awaitRows(query, lastMicroBatch, next.messages)
        catch { case e: Throwable => failure = String.valueOf(e.getMessage).take(500); null }
      val ok = progress != null
      val t1 = System.nanoTime()
      cpuS += processCpuS() - cpu0
      if (!ok) {
        failed += 1
        done = true
      } else {
        lastCommitNs = t1
        tracer.add("batch", t0, t1, group = k, attrs = Map("messages" -> next.messages.toDouble))
        lastMicroBatch = (lastMicroBatch +: progress.map(_.batchId)).max
        measured += Measured(k, next.messages, nextBytes, (t1 - t0) / 1e9,
          progress.map(_.batchId), progress.map(_.sources.toSeq.map(_.numInputRows)))
        expected.add(next)
        wireBytes += nextBytes
        if (k == minBatches) storeRatio = Disk.bytes(sinks.dir).toDouble / wireBytes
        if (k >= minBatches && (t1 - loopStart) / 1e9 >= conf.seconds) done = true
        else {
          k += 1
          next = batches.next()
          nextBytes = Wire.write(next, staging, fileName(k))
          clientS += (System.nanoTime() - t1) / 1e9
        }
      }
    }
    val attempted = measured.size + failed
    val peakRssMb = vmHwmMb()
    val loopStealS = stealS() - stealStart
    val loopGcS = gcS() - gcStart
    val tLoopEnd = System.nanoTime()

    // ---- end-to-end metrics
    val lats = measured.map(_.latency).toSeq
    val msgs = measured.map(_.messages).sum
    val msgPerS =
      if (measured.isEmpty) Double.NaN else msgs / ((lastCommitNs - firstPublishNs) / 1e9 - clientS)
    val tailP = tailPercentile(lats.size)
    val e2e = ListMap[String, (Double, String)](
      "msg_per_s" -> (msgPerS, "msg/s"),
      "batch_latency_p50_s" -> (median(lats), "s"),
      "batch_latency_tail_s" -> (percentile(lats, tailP), "s"),
      "store_bytes_per_input_byte" -> (storeRatio, "ratio"),
      "setup_s" -> (median(setupTimes.toSeq), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"),
      "cpu_s_per_kmsg" -> (cpuS / (msgs / 1000.0), "s/kmsg"),
      "error_rate" -> (failed.toDouble / math.max(attempted, 1), "ratio"))

    // ---- per-layer metrics (traced runs only)
    val perLayer: ListMap[String, (Double, String)] =
      listeners.map(l => layerMetrics(spark, l, tracer, measured.toSeq, work, sinks, lats,
        msgPerS, setupTimes.head))
        .getOrElse(ListMap.empty)

    // ---- output checks, from the benchmark's own input
    val checks =
      if (failed > 0) Seq(check("all batches committed", ok = false, failure))
      else outputChecks(spark, sinks, expected, conf.corruptExpected) ++
        perLayer.get("sources.input_rows").map { case (v, _) =>
          check("sources.input_rows equals messages sent", v == msgs.toDouble, s"$v vs $msgs")
        } ++
        perLayer.get("core.parse_null_rows").map { case (v, _) =>
          check("no wire message parses to a null row", v == 0.0, s"$v null rows")
        }

    val tChecksEnd = System.nanoTime()
    query.stop()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
    val tStopped = System.nanoTime()
    val canaryS = canary()

    val spansFile = conf.artifact.resolveSibling(conf.artifact.getFileName.toString
      .stripSuffix(".json") + ".spans.json")
    val batchSpan = tracer.all.filter(_.name == "batch").map(s => s.group -> s.id).toMap
    if (conf.trace) Wire.json.writeValue(spansFile.toFile, tracer.all.map(s => ListMap(
      "id" -> s.id, "name" -> s.name,
      "parent" -> (if (s.name == "batch") -1 else batchSpan.getOrElse(s.group, -1)),
      "group" -> s.group,
      "micro_batch" -> s.microBatch, "start_s" -> (s.startNs - loopStart) / 1e9,
      "end_s" -> (s.endNs - loopStart) / 1e9, "attrs" -> s.attrs)))

    def metricMap(m: ListMap[String, (Double, String)]) =
      m.map { case (n, (v, u)) =>
        n -> ListMap("value" -> Option(v).filterNot(x => x.isNaN || x.isInfinite), "unit" -> u)
      }

    ListMap(
      "workload" -> conf.workload,
      "why" -> shape.why,
      "seed" -> conf.seed,
      "seconds" -> conf.seconds,
      "trace" -> conf.trace,
      "loop" -> ("closed, one client: the next batch is made visible only after the previous " +
        "one commits, so msg_per_s is saturation throughput at this batch size"),
      "msg_per_s_rule" -> ("messages / (wall time from the first measured batch made visible to " +
        "the last one committed, less the client's work between batches; the pause to " +
        "mid-interval before each publish stays in)"),
      "setup_rule" -> (s"median of $SetUps set-ups, each from starting the stream to the warm-up " +
        "batch committed; the first is cold and is setup_times_s(0); session creation is " +
        "phases_s.session"),
      "config" -> ListMap(
        "master" -> s"local[$cpus]",
        "shuffle_partitions" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
        "state_store_provider" -> StateStoreProvider,
        "topology" -> "Pipeline.startAllShared into three ParquetDocumentSink",
        "trigger_ms" -> TriggerMs,
        "users_per_batch" -> shape.users,
        "addresses_per_user_per_batch" -> shape.addressesPerUser,
        "set_ups" -> SetUps,
        "min_batches" -> minBatches,
        "store_ratio_at_batch" -> minBatches,
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "java_version" -> System.getProperty("java.version")),
      "machine" -> ListMap(
        "nproc" -> cpus,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadavg(),
        "canary_s" -> canaryS,
        "steal_s_during_loop" -> loopStealS,
        "gc_s_during_loop" -> loopGcS),
      "phases_s" -> ListMap(
        "session" -> sessionStartS,
        "set_ups" -> ((loopStart - t0Session) / 1e9 - sessionStartS),
        "measured_loop" -> (tLoopEnd - loopStart) / 1e9,
        "client_between_batches" -> clientS,
        "layers_and_checks" -> (tChecksEnd - tLoopEnd) / 1e9,
        "stop" -> (tStopped - tChecksEnd) / 1e9,
        "canary" -> (System.nanoTime() - tStopped) / 1e9),
      "setup_times_s" -> setupTimes.toSeq,
      "latency" -> ListMap("samples" -> lats.size, "tail_percentile" -> tailP,
        "tail_rule" -> (if (lats.size >= 100) "highest percentile with >= 10 batches beyond it"
          else "p90: fewer than 100 batches, so no high percentile has 10 batches beyond it")),
      "batches" -> measured.map(m => ListMap("batch" -> m.k, "messages" -> m.messages,
        "wire_bytes" -> m.wireBytes, "latency_s" -> m.latency, "micro_batches" -> m.microBatches,
        "micro_batch_source_rows" -> m.sourceRows)),
      "checks" -> checks,
      "correct" -> checks.forall(_("ok") == true),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metricMap(e2e),
      "per_layer" -> metricMap(perLayer),
      "spans_file" -> (if (conf.trace) spansFile.getFileName.toString else ""))
  }

  private def check(name: String, ok: Boolean, detail: String): Map[String, Any] =
    ListMap("name" -> name, "ok" -> ok, "detail" -> detail)

  /** userAddress holds one doc per user with that user's full address
    * multiset; the state and country sinks equal the closed-form counts.
    */
  def outputChecks(spark: SparkSession, sinks: Sinks, expected: Expected,
      corrupt: Boolean): Seq[Map[String, Any]] = {
    val docs = sinks.userAddress.snapshot(spark)
      .select(col("userId"), col("userName"), col("userEmail"), col("genre"),
        unix_micros(col("registerDate")).as("reg"), col("addresses"))
      .collect()
    val byId = docs.groupBy(_.getString(0))
    var badUser = ""
    val usersOk = byId.size == docs.length && docs.length == expected.users.size &&
      expected.users.valuesIterator.forall { u =>
        val ok = byId.get(u.id).exists { rs =>
          val r = rs.head
          r.getString(1) == u.name && r.getString(2) == u.email && r.getString(3) == u.genre &&
            r.getLong(4) == u.registerMicros && {
              val got = r.getSeq[org.apache.spark.sql.Row](5).map(a =>
                Addr(a.getString(0), a.getString(1), a.getString(2), a.getString(3), a.getString(4)))
              got.sortBy(_.toString) == expected.addresses(u.id).sortBy(_.toString)
            }
        }
        if (!ok) badUser = u.id
        ok
      }
    val (expState, expCountry) = expected.counts
    val window = java.sql.Timestamp.from(ProcTime.minusSeconds(30))
    def counts(s: ParquetDocumentSink, key: String): Map[String, Long] = {
      val rows = s.snapshot(spark).collect()
      require(rows.forall(_.getAs[java.sql.Timestamp]("window_start") == window),
        s"$key counts span more than the one window $window")
      rows.map(r => r.getAs[String](key) -> r.getAs[Long]("count")).toMap
    }
    def maybeCorrupt(m: Map[String, Long]) =
      if (corrupt) m.updated(m.keys.min, m(m.keys.min) + 1) else m
    val gotState = counts(sinks.state, "state")
    val gotCountry = counts(sinks.country, "country")
    val wantState = maybeCorrupt(expState)
    Seq(
      check("userAddress: one doc per user with its full address multiset", usersOk,
        s"${docs.length} docs, ${byId.size} distinct users, ${expected.users.size} expected" +
          (if (badUser.nonEmpty) s"; first mismatch $badUser" else "")),
      check("state counts equal the closed form", gotState == wantState,
        s"${gotState.size} states; got ${gotState.values.sum} total, want ${wantState.values.sum}"),
      check("country counts equal the closed form", gotCountry == expCountry,
        s"${gotCountry.size} countries; got ${gotCountry.values.sum} total, want ${expCountry.values.sum}"))
  }

  /** Per-layer numbers of a traced run, over the measured batches. */
  def layerMetrics(spark: SparkSession, l: Listeners, tracer: Tracer,
      measured: Seq[Measured], work: Path, sinks: Sinks, lats: Seq[Double],
      msgPerS: Double, coldSetupS: Double): ListMap[String, (Double, String)] = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val progressOf = l.progress.toArray(Array.empty[StreamingQueryProgress])
      .map(p => p.batchId -> p).toMap
    // per measured batch, the progress of its micro-batches
    val progress = measured.map(_.microBatches.flatMap(progressOf.get))
    def perBatch(f: Long => Double): Seq[Double] =
      measured.map(m => m.microBatches.map(f).sum)
    def medianOverBatches(f: StreamingQueryProgress => Double): Double =
      median(progress.map(_.map(f).sum))
    def duration(key: String): Double =
      medianOverBatches(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0) / 1000.0)
    def join(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      medianOverBatches(p => p.stateOperators.headOption.map(f).getOrElse(0.0))
    val spans = tracer.all.filter(s => s.group > 0)
    def spanSecs(name: String): Seq[Double] =
      measured.map(m => spans.filter(s => s.group == m.k && s.name == name)
        .map(s => (s.endNs - s.startNs) / 1e9).sum)
    def attrSum(name: String, attr: String): Double =
      spans.filter(_.name == name).map(_.attrs.getOrElse(attr, 0.0)).sum
    val ops = progress.flatten.flatMap(_.stateOperators.headOption)

    // core: batch-mode parse of the same wire files, full parse through a
    // noop write; one span per batch, child of that batch's span
    val src = work.resolve(s"run$SetUps/src")
    var parseRows = 0L
    var parseNulls = 0L
    measured.foreach { m =>
      val t0 = System.nanoTime()
      Seq("user" -> "id", "address" -> "userId").foreach { case (topic, key) =>
        val f = src.resolve(topic).resolve(f"b${m.k}%05d.json")
        if (Files.exists(f)) {
          val raw = spark.read.text(f.toString)
          val parsed =
            if (topic == "user") Schemas.parseUsers(raw).toDF() else Schemas.parseAddresses(raw).toDF()
          val obs = Observation(s"parse-$topic-${m.k}")
          parsed.observe(obs, count(lit(1)).as("rows"),
            sum(when(col(key).isNull, 1L).otherwise(0L)).as("nulls"))
            .write.format("noop").mode("overwrite").save()
          val r = obs.get
          parseRows += r("rows").asInstanceOf[Long]
          parseNulls += r("nulls").asInstanceOf[Long]
        }
      }
      tracer.add("core.parse", t0, System.nanoTime(), group = m.k)
    }
    val parseS = tracer.all.filter(_.name == "core.parse").map(s => (s.endNs - s.startNs) / 1e9).sum

    val upsertRows = Seq("userAddress", "state", "country").map(n => attrSum(s"sinks.upsert[$n]", "rows")).sum
    val bytesWritten = Seq("userAddress", "state", "country")
      .map(n => attrSum(s"sinks.upsert[$n]", "bytes_written")).sum
    val storeRows = Seq(sinks.userAddress, sinks.state, sinks.country)
      .map(_.snapshot(spark).count()).sum.toDouble

    ListMap(
      "app.cold_setup_s" -> (coldSetupS, "s"),
      "app.trigger_s" -> (duration("triggerExecution"), "s"),
      "app.get_batch_s" -> (duration("getBatch") + duration("latestOffset"), "s"),
      "app.plan_s" -> (duration("queryPlanning"), "s"),
      "app.add_batch_s" -> (duration("addBatch"), "s"),
      "app.wal_commit_s" -> (duration("walCommit") + duration("commitOffsets"), "s"),
      "app.spark_jobs_per_batch" -> (median(perBatch(l.jobs(_).toDouble)), "count"),
      "app.tasks_per_batch" -> (median(perBatch(l.tasks(_).toDouble)), "count"),
      "app.sql_actions_per_batch" -> (median(measured.map { m =>
        val b = spans.find(s => s.name == "batch" && s.group == m.k).get
        l.actionTimes.count(t => t >= b.startNs && t <= b.endNs + 50000000L).toDouble
      }), "count"),
      "app.task_run_s_per_batch" -> (median(perBatch(l.taskRunMs(_) / 1000.0)), "s"),
      "sources.input_rows" -> (progress.flatten.map(_.numInputRows.toDouble).sum, "count"),
      "core.parse_s" -> (parseS, "s"),
      "core.parse_rows" -> (parseRows.toDouble, "count"),
      "core.parse_null_rows" -> (parseNulls.toDouble, "count"),
      "operators.join.update_s" -> (join(_.allUpdatesTimeMs / 1000.0), "s"),
      "operators.join.commit_s" -> (join(_.commitTimeMs / 1000.0), "s"),
      "operators.join.state_rows" -> (ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(Double.NaN), "count"),
      "operators.join.state_bytes" -> (ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(Double.NaN), "bytes"),
      "operators.join.rows_updated" -> (ops.map(_.numRowsUpdated.toDouble).sum, "count"),
      "operators.join.snapshots_out" -> (attrSum("trace.count", "snapshots"), "count"),
      "operators.join.snapshot_address_rows" -> (attrSum("trace.count", "address_rows"), "count"),
      "operators.window.compute_s" -> (median(spanSecs("operators.window")), "s"),
      "operators.window.exploded_rows" -> (spans.filter(s => s.name == "operators.window")
        .map(_.attrs.getOrElse("exploded_rows_state", 0.0)).sum, "count"),
      "sinks.upsert_s.userAddress" -> (median(spanSecs("sinks.upsert[userAddress]")), "s"),
      "sinks.upsert_s.state" -> (median(spanSecs("sinks.upsert[state]")), "s"),
      "sinks.upsert_s.country" -> (median(spanSecs("sinks.upsert[country]")), "s"),
      "sinks.snapshot_read_s" -> (median(spanSecs("sinks.snapshot")), "s"),
      "sinks.upsert_calls" -> (spans.count(_.name.startsWith("sinks.upsert[")).toDouble, "count"),
      "sinks.store_rows" -> (storeRows, "count"),
      "sinks.bytes_written" -> (bytesWritten, "bytes"),
      "sinks.bytes_written_per_row_upserted" -> (bytesWritten / upsertRows, "bytes/row"),
      "trace.msg_per_s" -> (msgPerS, "msg/s"),
      "trace.batch_latency_p50_s" -> (median(lats), "s"))
  }
}
