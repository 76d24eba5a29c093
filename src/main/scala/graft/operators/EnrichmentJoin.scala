package graft.operators

import graft.core.{Address, User, UserAddress}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Two-input envelope standing in for Flink's `connect` of the user and
  * address streams (`/root/reference/src/main/java/Main.java:78-80`). `seq`
  * is a per-key arrival order used only by the deterministic batch mode;
  * streaming relies on actual arrival order, like the reference.
  * `eventTime` is read only by [[EnrichmentJoin.joinStreamEventTime]].
  */
final case class Envelope(key: String, seq: Long, user: Option[User], address: Option[Address],
    eventTime: Option[java.sql.Timestamp] = None)

object Envelope {
  def ofUser(u: User, seq: Long = 0L): Envelope = Envelope(u.id, seq, Some(u), None)
  def ofAddress(a: Address, seq: Long = 0L): Envelope = Envelope(a.userId, seq, None, Some(a))

  /** Event-time stamps: a user carries its `registerDate`; an address, which
    * has no timestamp on the wire (`Dto/Address.java:5-12`), the caller's (in
    * production the Kafka record timestamp).
    */
  def timedUser(u: User, seq: Long = 0L): Envelope =
    Envelope(u.id, seq, Some(u), None, Some(u.registerDate))
  def timedAddress(a: Address, eventTime: java.sql.Timestamp, seq: Long = 1L): Envelope =
    Envelope(a.userId, seq, None, Some(a), Some(eventTime))
}

/** J1: stateful enrichment join with cumulative-snapshot emission.
  *
  * Re-expresses the reference's `KeyedCoProcessFunction` + two `MapState`s
  * (`/root/reference/src/main/java/Main.java:78-133`) as a pure per-key fold
  * shared by a batch `flatMapGroups` path (oracle-testable) and a streaming
  * `flatMapGroupsWithState` path, whose processing-time and event-time modes
  * run the same [[stateFunc]]. The exact contract (SURVEY.md §2.1):
  *
  *  1. user arrival  → store/overwrite user (last-write-wins), ALWAYS emit
  *     the current snapshot, with an empty list if no addresses yet
  *     (`Main.java:104-115`);
  *  2. address arrival → APPEND (no dedup, duplicates accumulate); emit the
  *     full snapshot only if the user is known; otherwise buffer silently
  *     (`Main.java:118-132`);
  *  3. consequence: an address-then-user interleaving emits nothing until the
  *     user lands; snapshots are cumulative prefixes with no retractions;
  *  4. state is never cleared in the reference; here an optional TTL is
  *     exposed for 100 TB operation (unbounded per-key state does not survive
  *     real workloads) and defaults OFF for parity.
  */
object EnrichmentJoin {

  final case class JoinState(user: Option[User], addresses: Vector[Address]) {
    def snapshot: Option[UserAddress] = user.map(u => UserAddress(u, addresses))
  }
  val emptyState: JoinState = JoinState(None, Vector.empty)

  /** One event through the state machine → (new state, emission). */
  def step(state: JoinState, ev: Envelope): (JoinState, Option[UserAddress]) =
    ev match {
      case Envelope(_, _, Some(u), _, _) =>
        // Main.java:104-115 — always emit, empty list allowed.
        val s = state.copy(user = Some(u))
        (s, Some(UserAddress(u, s.addresses)))
      case Envelope(_, _, _, Some(a), _) =>
        // Main.java:118-132 — append unconditionally, emit only if user known.
        val s = state.copy(addresses = state.addresses :+ a)
        (s, s.snapshot)
      case _ => (state, None)
    }

  /** Fold a per-key event sequence; returns emissions in order. */
  def runKey(events: Iterator[Envelope], init: JoinState = emptyState): (JoinState, Iterator[UserAddress]) = {
    var s = init
    val out = Vector.newBuilder[UserAddress]
    events.foreach { ev =>
      val (s2, emit) = step(s, ev)
      s = s2
      emit.foreach(out += _)
    }
    (s, out.result().iterator)
  }

  /** Batch mode: deterministic replay ordered by `seq` within each key.
    * Shuffles once on the key (`Exchange hashpartitioning`), like the
    * reference's `keyBy`. The per-key `seq` ordering rides the shuffle's
    * sort (`flatMapSortedGroups` = secondary sort), so no group is ever
    * materialized or sorted in executor memory — the event stream for a
    * hot key folds through the state machine as a lazy iterator, which is
    * what survives a key with millions of events.
    */
  def joinBatch(spark: SparkSession, events: Dataset[Envelope]): Dataset[UserAddress] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapSortedGroups(col("seq")) { (_, it) =>
        val (_, out) = runKey(it)
        out
      }
  }

  /** The per-key state-update function of both streaming modes, exposed so
    * tests can drive it with `TestGroupState` (incl. the timeout branch)
    * without a running stream. A TTL re-arms on every batch with data: in
    * processing time as a duration, in event time as a deadline at the
    * batch's max event time + ttl, which the watermark passes.
    */
  def stateFunc(stateTtl: Option[java.time.Duration], eventTime: Boolean = false)(
      key: String, it: Iterator[Envelope],
      state: GroupState[JoinState]): Iterator[UserAddress] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val init = state.getOption.getOrElse(emptyState)
      // Within a micro-batch Spark gives no intra-group order guarantee;
      // order by the ingest-assigned seq so interleavings are stable.
      val events = it.toVector.sortBy(_.seq)
      val (s, out) = runKey(events.iterator, init)
      state.update(s)
      stateTtl.foreach { d =>
        if (eventTime)
          events.flatMap(_.eventTime).map(_.getTime).maxOption
            .foreach(t => state.setTimeoutTimestamp(t + d.toMillis))
        else state.setTimeoutDuration(d.toMillis)
      }
      out
    }

  /** Streaming mode: per-key `GroupState` replaces the reference's
    * `MapState`-inside-keyed-stream (degenerate single-entry map,
    * SURVEY.md §2.1.5). Append output mode: the snapshot stream is
    * append-only (no retractions), exactly like the reference.
    *
    * @param stateTtl optional processing-time TTL after which an idle key's
    *                 state is dropped (reference behavior = None = never).
    */
  def joinStream(
      spark: SparkSession,
      events: Dataset[Envelope],
      stateTtl: Option[java.time.Duration] = None): Dataset[UserAddress] = {
    import spark.implicits._
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[JoinState, UserAddress](OutputMode.Append, timeout)(
        stateFunc(stateTtl))
  }

  /** Streaming J1 in the OPT-IN event-time mode, which diverges from the
    * reference's processing-time contract (`noWatermarks()`,
    * `Main.java:70-71`) that [[joinStream]] keeps: rows behind the watermark
    * on `eventTime` are dropped before they reach the state machine, and a
    * TTL retires a key once the watermark, not the wall clock, passes its
    * last event time + ttl. Every envelope must carry an event time
    * ([[Envelope.timedUser]], [[Envelope.timedAddress]]).
    */
  def joinStreamEventTime(
      spark: SparkSession,
      events: Dataset[Envelope],
      maxLateness: String = "0 seconds",
      stateTtl: Option[java.time.Duration] = None): Dataset[UserAddress] = {
    import spark.implicits._
    // EventTimeTimeout even without a TTL: flatMapGroupsWithState filters
    // rows behind the watermark only under this timeout conf (Spark 4.1,
    // FlatMapGroupsWithStateExecBase.processDataWithPartition).
    events
      .withWatermark("eventTime", maxLateness)
      .groupByKey(_.key)
      .flatMapGroupsWithState[JoinState, UserAddress](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        stateFunc(stateTtl, eventTime = true))
  }
}
