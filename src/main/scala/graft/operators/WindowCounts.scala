package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** W1/A1 and W2/A2: 1-minute tumbling-window address counts by state and by
  * country (`/root/reference/src/main/java/Main.java:136-167`).
  *
  * The reference uses non-keyed `windowAll` → parallelism 1 with full window
  * buffering (an `AllWindowFunction` that iterates the whole minute's
  * records). The Spark rebuild deliberately keys the aggregation —
  * `groupBy(window(procTime), key)` — which yields identical per-window
  * counts while keeping full parallelism and incremental partial aggregation
  * (HashAggregate partial → final), the shape that survives a 1000-executor
  * cluster. The §2.1 over-counting semantics (every cumulative snapshot
  * contributes all its addresses) fall out naturally from exploding the
  * snapshot stream.
  *
  * Works identically over a batch or streaming snapshot DataFrame
  * (streaming: update output mode, matching the reference's
  * emit-per-window-fire behavior).
  */
object WindowCounts {

  /** Explode the snapshot stream's address arrays. `explode_outer` keeps a
    * null-address row for empty snapshots: they contribute nothing to the
    * counts (the null group is dropped after the aggregation, matching
    * `Main.java:142-146`, which iterates an empty list) but they MUST keep
    * flowing so the event-time watermark advances — in streaming, the
    * per-window emission is gated on watermark progress, and empty
    * snapshots are often the only traffic.
    */
  def explodedAddresses(snapshots: DataFrame, procTimeCol: String = "procTime"): DataFrame =
    snapshots.select(col(procTimeCol), explode_outer(col("addresses")).as("addr"))

  /** The post-aggregation filter drops ONLY the `explode_outer` placeholder
    * rows (whole-`addr` null), not genuine addresses whose key field is
    * null: the reference's `HashMap.put(null, ...)` counts null keys
    * (`Main.java:142-148`), so a null-state address forms its own group
    * here too. `addr IS NOT NULL` is carried through the aggregation as a
    * grouping column (constant per (win, key) group except for the null
    * key, where it separates real null-key addresses from placeholders),
    * which keeps the filter expressible after a streaming aggregation.
    */
  private def windowed(snapshots: DataFrame, keys: Seq[(Column, String)],
      procTimeCol: String, windowLength: String): DataFrame =
    explodedAddresses(snapshots, procTimeCol)
      .groupBy(window(col(procTimeCol), windowLength).as("win") +:
        keys.map { case (expr, name) => expr.as(name) } :+
        col("addr").isNotNull.as("is_real"): _*)
      .count()
      .filter(col("is_real"))
      .select(col("win.start").as("window_start") +: keys.map(k => col(k._2)) :+
        col("count"): _*)

  /** A1: per-window address count by state (`Main.java:136-150`). */
  def countByState(snapshots: DataFrame, procTimeCol: String = "procTime",
      windowLength: String = "1 minute"): DataFrame =
    windowed(snapshots, Seq(col("addr.state") -> "state"), procTimeCol, windowLength)

  /** A2: per-window address count by country (`Main.java:153-167`). */
  def countByCountry(snapshots: DataFrame, procTimeCol: String = "procTime",
      windowLength: String = "1 minute"): DataFrame =
    windowed(snapshots, Seq(col("addr.country") -> "country"), procTimeCol, windowLength)

  /** A1 and A2 in one aggregation: per-window address count at
    * (window_start, state, country) grain. Summing it over `country` gives
    * `countByState`, over `state` gives `countByCountry`, null keys
    * included. Its size is bounded by the distinct state × country pairs
    * per window, so one collect of it serves both count sinks.
    */
  def countByStateAndCountry(snapshots: DataFrame, procTimeCol: String = "procTime",
      windowLength: String = "1 minute"): DataFrame =
    windowed(snapshots, Seq(col("addr.state") -> "state", col("addr.country") -> "country"),
      procTimeCol, windowLength)
}
