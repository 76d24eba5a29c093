package graft.app

import graft.core.Schemas
import graft.operators.{EnrichmentJoin, Envelope, Projections, WindowCounts}
import graft.sinks.DocumentSink
import graft.sources.IngestSource
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** End-to-end wiring ≈ the reference's `Main.main()`
  * (`/root/reference/src/main/java/Main.java:45-182`):
  * two sources → parse → stateful enrichment join → fan-out to
  * (a) userAddress upsert by userId, (b)/(c) 1-minute windowed address
  * counts upserted by state / country.
  *
  * Flink fans one DAG out to three sinks; Structured Streaming binds one
  * sink per query, so `startAll` runs three queries with separate
  * checkpoints (SURVEY.md §4 "double evaluation"). Each maintains its own
  * join state store; results are unaffected because the sinks are
  * idempotent last-write-wins upserts. `startAllShared` is the
  * single-state alternative to run at scale — one query, one J1 state
  * store, foreachBatch fan-out (measured 3.2× throughput at 1/3 the state;
  * ARCHITECTURE.md). Checkpointing (mandatory
  * in Structured Streaming) plus idempotent sinks gives
  * effectively-exactly-once end-to-end — a strict upgrade over the
  * reference's no-checkpoint posture (§3.4).
  *
  * Window-fire semantics: the reference's processing-time windows emit once
  * per minute at window close (`Main.java:137,154`). Here the count queries
  * put a 0-delay watermark on the ingest-stamped `procTime` column and run
  * in Append mode, so each (window, key) count is emitted exactly once,
  * when the window closes — not as running partials.
  */
final class Pipeline(
    source: IngestSource,
    userAddressSink: DocumentSink,
    stateCountSink: DocumentSink,
    countryCountSink: DocumentSink,
    windowLength: String = "1 minute",
    stateTtl: Option[java.time.Duration] = None,
    procTimeExpr: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.current_timestamp()) {

  /** Parse both topics and merge into the keyed envelope stream. */
  def envelopes(spark: SparkSession): Dataset[Envelope] = {
    import spark.implicits._
    // Within one micro-batch, users sort before addresses (seq 0 < 1) —
    // the reference generator's wire order (`user-generator.py:57-71`
    // emits each user before its addresses); across batches arrival order
    // rules, exactly like the reference's Kafka consumption.
    val users = Schemas.parseUsers(source.users(spark))
      .map(u => Envelope.ofUser(u, 0L))
    val addresses = Schemas.parseAddresses(source.addresses(spark))
      .map(a => Envelope.ofAddress(a, 1L))
    users.unionByName(addresses)
  }

  /** The joined cumulative-snapshot stream, stamped with processing time
    * (the reference is watermark-free processing time, `Main.java:70-71`).
    * Tests inject a deterministic `procTimeExpr` to control window closing.
    */
  def snapshots(spark: SparkSession): DataFrame =
    EnrichmentJoin.joinStream(spark, envelopes(spark), stateTtl).toDF()
      .withColumn("procTime", procTimeExpr)

  private def upsertEachBatch(df: DataFrame, mode: OutputMode, checkpoint: String,
      trigger: Trigger, sink: DocumentSink, keyField: String,
      orderCol: Option[String],
      prep: DataFrame => DataFrame = identity): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // cache before the first action, so the emptiness probe's work is
        // the cache's and the sink reuses it
        batch.persist()
        try if (!batch.isEmpty) sink.upsert(prep(batch), keyField, orderCol)
        finally batch.unpersist()
        ()
      }
      .start()

  /** S3 query: cumulative snapshots → C3 document shape → upsert by userId.
    * Successive snapshots overwrite; the collection converges to the full
    * address list per user (SURVEY.md §2.2).
    */
  def startUserAddressQuery(spark: SparkSession, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    upsertEachBatch(
      Projections.userAddressDocument(snapshots(spark)),
      OutputMode.Append, s"$checkpointDir/userAddress", trigger,
      userAddressSink, "userId", orderCol = Some("snap_order"),
      prep = withSnapshotOrder)

  /** A batch can carry several cumulative snapshots of one user; the upsert
    * must keep the LAST-emitted one. A user's snapshots are produced in
    * emission order by a single task (keyed state op, no shuffle before the
    * sink), so a per-partition monotonic id is a valid order stamp. Applied
    * inside foreachBatch — the streaming plan itself cannot host
    * monotonically_increasing_id.
    */
  private def withSnapshotOrder(docs: DataFrame): DataFrame =
    docs.withColumn("snap_order",
      org.apache.spark.sql.functions.monotonically_increasing_id())

  private def startCountQuery(spark: SparkSession, byState: Boolean,
      checkpoint: String, trigger: Trigger): StreamingQuery = {
    val snap = snapshots(spark).withWatermark("procTime", "0 seconds")
    val counts =
      if (byState) WindowCounts.countByState(snap, windowLength = windowLength)
      else WindowCounts.countByCountry(snap, windowLength = windowLength)
    val (sink, key) =
      if (byState) (stateCountSink, "state") else (countryCountSink, "country")
    // orderCol=window_start: if one batch carries several closed windows,
    // the newest window deterministically wins the per-key upsert.
    upsertEachBatch(
      counts, OutputMode.Append, checkpoint, trigger, sink, key,
      orderCol = Some("window_start"))
  }

  /** S1 query: windowed counts by state, upserted by state. */
  def startStateCountQuery(spark: SparkSession, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    startCountQuery(spark, byState = true, s"$checkpointDir/stateCounts", trigger)

  /** S2 query: windowed counts by country, upserted by country. */
  def startCountryCountQuery(spark: SparkSession, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    startCountQuery(spark, byState = false, s"$checkpointDir/countryCounts", trigger)

  /** Start all three queries (the full reference topology). */
  def startAll(spark: SparkSession, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): Seq[StreamingQuery] =
    Seq(
      startUserAddressQuery(spark, checkpointDir, trigger),
      startStateCountQuery(spark, checkpointDir, trigger),
      startCountryCountQuery(spark, checkpointDir, trigger))

  /** The shared-state topology: ONE streaming query computes the J1
    * snapshot stream once per micro-batch and `foreachBatch` fans it out to
    * all three sinks — one checkpoint, one join state store, one pass of
    * join compute, vs `startAll`'s three queries each rebuilding identical
    * J1 state (3× RocksDB footprint, 3× join work). This is the plan to run
    * at large scale; `startAll` remains the contract-faithful literal
    * translation of the reference's three independent sinks.
    *
    * What one micro-batch runs:
    *  - one cached pass: the batch is persisted before its first action,
    *    the emptiness probe, so J1 runs once and every later read of the
    *    batch hits the cache;
    *  - userAddress docs: LWW upsert by userId — identical to `startAll`
    *    and naturally idempotent under batch replay;
    *  - one window aggregation for both count sinks
    *    (`mergeWindowCounts`), collected to the driver;
    *  - a read-merge-write per count sink: the batch's partial
    *    per-(window, key) counts are merged ADDITIVELY against the sink's
    *    current table, then reduced to LWW-by-newest-window per key. A
    *    window spanning many micro-batches accumulates to the same total
    *    the watermark-gated streaming aggregation emits at window close,
    *    and a key's row persists until a newer window overwrites it (the
    *    reference's stale-keys-persist contract, SURVEY §2.2). Late
    *    partials for an already-superseded window are dropped, matching
    *    the 0-delay watermark in `startAll`.
    *
    * Additive merge is not idempotent, so batch replay is fenced with a
    * high-water-mark marker file per batch id (written after the merges
    * commit). A Mongo/Delta sink would record the batch id inside the same
    * transaction as the merge; the marker file is the local stand-in and
    * leaves only the crash-between-merge-and-marker window, which a
    * transactional sink closes.
    */
  def startAllShared(spark: SparkSession, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val markerDir = java.nio.file.Paths.get(checkpointDir, "sharedMerged")
    java.nio.file.Files.createDirectories(markerDir)
    snapshots(spark)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$checkpointDir/shared")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          if (!batch.isEmpty) {
            val marker = markerDir.resolve(batchId.toString)
            val alreadyMerged = java.nio.file.Files.exists(marker)
            userAddressSink.upsert(
              withSnapshotOrder(Projections.userAddressDocument(batch)),
              "userId", orderCol = Some("snap_order"))
            if (!alreadyMerged) {
              mergeWindowCounts(batch)
              java.nio.file.Files.createFile(marker)
            }
          }
        } finally batch.unpersist()
        ()
      }
      .start()
  }

  /** Accumulate one batch's partial window counts into both count sinks.
    * One aggregation at (window_start, state, country) grain runs over the
    * batch and is collected to the driver: it holds at most one row per
    * distinct state × country pair per window. Each sink's partial is its
    * roll-up over the other key, null keys kept as their own group. Per
    * sink, the sink's current (window_start, key, count) rows are unioned
    * with the partial, summed per (window, key), and upserted — the per-key
    * LWW by window_start inside `upsert` keeps the newest window's total.
    * The count table is tiny (one row per distinct key), so the
    * read-merge-write is the same copy-on-write shape the sink already
    * takes per batch.
    */
  private def mergeWindowCounts(batch: DataFrame): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._
    val spark = batch.sparkSession
    val fine = WindowCounts.countByStateAndCountry(batch, windowLength = windowLength)
    val rows = fine.collect()
    if (rows.nonEmpty) {
      Seq("state" -> stateCountSink, "country" -> countryCountSink).foreach { case (key, sink) =>
        val rolled = rows.toSeq
          .groupMapReduce(r => (r.getAs[Any]("window_start"), r.getAs[Any](key)))(
            _.getAs[Long]("count"))(_ + _)
          .map { case ((window, keyValue), n) => Row(window, keyValue, n) }
        val partial = spark.createDataFrame(rolled.toList.asJava,
          StructType(Seq("window_start", key, "count").map(fine.schema(_))))
        val all = sink.snapshotOption(spark)
          .map(_.unionByName(partial)).getOrElse(partial)
        val acc = all
          .groupBy(col("window_start"), col(key))
          .agg(sum(col("count")).as("count"))
          .select(col("window_start"), col(key), col("count"))
        sink.upsert(acc, key, orderCol = Some("window_start"))
      }
    }
  }

  /** Batch-mode fan-out over a complete snapshot DataFrame — used by tests
    * and the oracle tier, where the whole input is one "batch" and windowed
    * counts over it are exact.
    */
  def processBatch(batch: DataFrame): Unit = {
    batch.persist()
    try {
      userAddressSink.upsert(
        withSnapshotOrder(Projections.userAddressDocument(batch)),
        "userId", orderCol = Some("snap_order"))
      stateCountSink.upsert(
        WindowCounts.countByState(batch, windowLength = windowLength),
        "state", orderCol = Some("window_start"))
      countryCountSink.upsert(
        WindowCounts.countByCountry(batch, windowLength = windowLength),
        "country", orderCol = Some("window_start"))
    } finally batch.unpersist()
  }
}
