package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * A table range-partitioned/sorted on ONE key prunes scans filtered on
  * that key and nothing else; a 100 TB fact table queried on two
  * independent keys (e.g. part AND supplier) needs a layout where every
  * file covers a small RECTANGLE of the key space, so min/max footer
  * stats prune on either predicate. Interleaving the two keys' bits into
  * one sort key (the classic Z-order curve) does exactly that:
  * lexicographically adjacent z-values differ in low-order bits of both
  * dimensions, so each of k files spans ~√(N/k) of EACH dimension rather
  * than N/k of one and ALL of the other.
  *
  * Everything here is built-in integer arithmetic (no UDF, replayable in
  * any engine): bit i of x is (x div 2^i) mod 2, placed at position 2i
  * (and 2i+1 for y). Keys are masked to `bits` low bits — callers with
  * wider domains should bucket/hash into the mask range first (rank-based
  * quantiles preserve pruning better under skew; the masked identity is
  * right for dense surrogate keys).
  */
object Layout {

  /** Morton-interleaved z-key of two columns' low `bits` bits (bits ≤ 31:
    * every bit position stays < 2^62). `bits` is known at plan time, so
    * the key unrolls to constant-folded pure-integer shift/mod arithmetic
    * — no per-row array, no floating point anywhere.
    */
  def zorderKey2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val mx = pmod(x.cast("long"), lit(1L << bits))
    val my = pmod(y.cast("long"), lit(1L << bits))
    (0 until bits).map { i =>
      pmod(shiftright(mx, i), lit(2L)) * lit(1L << (2 * i)) +
        pmod(shiftright(my, i), lit(2L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Hilbert-curve key of two columns' low `bits` bits — the
    * locality-tighter alternative to [[zorderKey2]]: consecutive Hilbert
    * keys are always ADJACENT grid cells, where consecutive Morton keys
    * jump across power-of-2 boundaries (the z-shape's long diagonal), so
    * range-partitioned files cover tighter rectangles for the same key
    * width. The per-bit rotate-and-reflect walk runs in a codegen'd
    * native expression (`HilbertKey2`) — pure integer arithmetic, no
    * floating point, replayed exactly by the DuckDB oracle as unrolled
    * per-bit CTE stages.
    */
  def hilbertKey2(x: Column, y: Column, bits: Int = 16): Column =
    graft.functions.native.hilbertKey2(x.cast("long"), y.cast("long"), bits)

  /** [[writeZOrdered]] with the Hilbert key: same range-partition +
    * within-file sort, tighter per-file rectangles. */
  def writeHilbertOrdered(df: DataFrame, path: String, xCol: String,
      yCol: String, numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_h", hilbertKey2(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("_h"))
      .sortWithinPartitions(col("_h"))
      .drop("_h")
      .write.mode("overwrite").parquet(path)

  /** Write `df` clustered by the z-order of (xCol, yCol): range-partition
    * on the z-key (each output file covers a contiguous z-range = a small
    * key-space rectangle) and sort within partitions so parquet row-group
    * stats are tight too. The z-key itself is dropped from the output —
    * it is a layout artifact, not data.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_z", zorderKey2(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Exact rank-quantile bucket ids for one column: bucket(v) =
    * rowsBefore(v) · buckets DIV n, so each bucket holds ~n/buckets rows
    * REGARDLESS of the value distribution — the skew-robust front end for
    * the domains where `zorderKey2`'s masked identity is wrong: a wide or
    * skewed domain wraps mod 2^bits and shreds locality, while rank space
    * is dense by construction. Equal values always share a bucket, so the
    * mapping is a pure function of the data.
    *
    * Physical shape: the ranking runs over the VALUE HISTOGRAM (groupBy
    * value → count → distributed two-phase prefix sum over the sorted
    * distinct values — see [[graft.operators.PrefixSum]]; no global
    * single-task window), so its cost scales with DISTINCT values, and
    * the bucket map joins back on the value as an ordinary shuffle join.
    * Exact integer arithmetic end to end (no approximate sketch, no
    * floating point): any engine replays the identical buckets, and
    * `rowsBefore · buckets` stays under 2^63 for any real n.
    *
    * Null handling: nulls are EXCLUDED from rank space (they carry no
    * rank) — a null-valued row keeps a null bucket via the left join and
    * never shifts any non-null value's bucket. NaN is a regular member
    * of rank space at the top: both engines sort NaN greater than every
    * double and group all NaNs together, so NaN's bucket is the
    * top-ranked one.
    */
  def quantileBucket(df: DataFrame, valueCol: String, buckets: Int,
      bucketCol: String): DataFrame =
    df.join(bucketMap(df, valueCol, buckets, bucketCol), Seq(valueCol),
      "left")

  /** The (value → bucket) frame behind [[quantileBucket]], exposed so a
    * multi-dimension caller can derive every dimension's map from the
    * SAME narrow base scan and join them on afterwards — bucket counts
    * are a function of the value histogram alone, so computing dimension
    * 2's map from dimension 1's (already-joined, wider) output costs an
    * extra materialization of that join for an identical result.
    */
  private[graft] def bucketMap(df: DataFrame, valueCol: String,
      buckets: Int, bucketCol: String,
      sampleHint: Option[Array[Double]] = None): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    rankedHist(df, valueCol, sampleHint)
      .select(col(valueCol),
        expr(s"(_before * CAST($buckets AS BIGINT)) DIV _n").as(bucketCol))
  }

  /** Monotone double image of a column for BLOCK partitioning (load
    * balance only — never results): any non-strictly-monotone image is
    * fine because collisions merge adjacent values into one block, which
    * keeps blocks value-contiguous. `None` for types with no such image
    * (strings, TimestampNTZ — its only numeric image goes through the
    * session-timezone cast, non-monotone across DST), which fall back to
    * the sampled range partitioning.
    */
  private def blockImage(df: DataFrame, c: String): Option[Column] = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType => Some(col(c).cast("double"))
      case _: DecimalType => Some(col(c).cast("double"))
      case TimestampType => Some(unix_micros(col(c)).cast("double"))
      case DateType => Some(unix_date(col(c)).cast("double"))
      case _ => None
    }
  }

  /** The histogram of `valueCol` with its exact global rank attached:
    * one row per distinct value carrying `_c` (count), `_before` (rows
    * strictly smaller) and `_n` (total rows) — the shared front end of
    * [[bucketMap]]. Nulls never enter rank space: a null key has no
    * defined rank, and letting the null group consume the lowest ranks
    * would shift every real value's bucket by the corpus's null count —
    * callers left-join the map so null rows surface with a null bucket.
    *
    * Physical shape (round 16): the two-phase prefix sum runs over
    * deterministic QUANTILE BLOCKS instead of `repartitionByRange` —
    * the range exchange's reservoir-sampling pass re-executed the whole
    * histogram lineage (scan + groupBy) just to pick partition
    * boundaries, doubling the front end's cost at every scale. Block
    * boundaries now come from one `approxQuantile` pass over the BASE
    * column (no shuffle, no histogram recompute) probed through the
    * codegen'd binary-search kernel; per-block running sums + a
    * block-total prefix (a window over ≤ #blocks rows) reassemble the
    * exact global rank. Boundary placement affects only balance — the
    * prefix arithmetic is exact for ANY value-contiguous blocking — and
    * quantile blocks keep balance under skew the way sampled ranges
    * did. NaN (rank space's greatest member, both engines) is excluded
    * from boundary estimation and kernel-routed to the last block,
    * where the within-block sort puts it last. Types with no monotone
    * double image keep the sampled-range path.
    */
  /** How many quantile blocks the rank prefix sum runs over. */
  private def blockCount(df: DataFrame): Int = math.max(
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
      .toIntOption.getOrElse(200), 2) * 4

  /** Boundary samples for block placement, fused across dimensions:
    * per requested image, the DISTINCT sampled values of that image —
    * ONE aggregate pass (a per-dim row `count` sizes each keep
    * fraction) plus ONE scan whose hash-mod filter + distinct
    * bound the collect by ~2·target DISTINCT values per dim at any
    * corpus size (round-17, ADVICE: the previous row-level collect was
    * unbounded under duplication skew — every row of a kept hot value
    * came back — and row-placed boundaries pile most DISTINCT values,
    * the actual window input, into few blocks). Sampling hashes the
    * VALUE, so which values are kept is deterministic and replayable;
    * boundaries place BLOCKS only — the rank prefix arithmetic is
    * exact for any value-contiguous blocking, so nothing downstream
    * depends on placement. A multi-dimension caller
    * ([[withZorderKeyQuantile]]) fuses BOTH dimensions' estimation
    * into the same two jobs — at 100 TB that removes two full-corpus
    * scans per layout build.
    */
  private def distinctBoundarySamples(df: DataFrame, imgs: Seq[Column],
      nBlocks: Int): Seq[Array[Double]] = {
    val target = math.max(64L * nBlocks, 1024L)
    val valid = imgs.map(img => img.isNotNull && !isnan(img))
    // one codegen'd count pass sizes every dim's keep fraction (an
    // approx_count_distinct form measured ~3× the scan cost — HLL
    // updates per row; the row count is the cheaper denominator and the
    // DISTINCT below bounds the collect regardless: kept distinct
    // values ≈ 2·target·(nd/n) ≤ 2·target for any duplication)
    val row = df.agg(
      count(when(valid.head, lit(1))),
      valid.tail.map(ok => count(when(ok, lit(1)))): _*).head()
    val space = 1L << 31
    // one nullable sample column per dim — plain codegen'd expressions
    // (a higher-order filter/explode form measured 1.5× slower here:
    // ArrayFilter is CodegenFallback, interpreted per row); the DISTINCT
    // over the column TUPLE bounds the collect: duplicates of a kept hot
    // value collapse to one row per distinct cross-dim combination, and
    // kept values are sparse, so combinations stay ~Σ kept per dim
    val cols = imgs.zipWithIndex.map { case (img, i) =>
      val n = row.getLong(i)
      val keep =
        if (n <= 2 * target) space
        else math.max(1L, (space.toDouble * (2.0 * target / n)).toLong)
      when(valid(i) &&
        pmod(xxhash64(img, lit(982451653L)), lit(space)) < lit(keep),
        img).as(s"_v$i")
    }
    val got = df.select(cols: _*)
      .filter(imgs.indices.map(i => col(s"_v$i").isNotNull).reduce(_ || _))
      .distinct()
      .collect()
    imgs.indices.map { i =>
      got.iterator.filterNot(_.isNullAt(i)).map(_.getDouble(i))
        .toArray.distinct
    }
  }

  private def rankedHist(df: DataFrame, valueCol: String,
      sampleHint: Option[Array[Double]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("_c"))
    blockImage(df, valueCol) match {
      case Some(img) =>
        val nBlocks = blockCount(df)
        // Boundary estimation: deterministic hash-mod DISTINCT-value
        // sample, quantiled on the driver (`approxQuantile` measured
        // ~5× a plain scan — per-row QuantileSummaries inserts sit
        // outside codegen). A two-dimension caller passes the sample
        // in ([[distinctBoundarySamples]] fused across dims); the
        // standalone path pays the same two jobs for one dim.
        val sampled: Array[Double] = sampleHint.getOrElse(
          distinctBoundarySamples(df, Seq(img), nBlocks).head)
        val bounds =
          if (sampled.isEmpty) Array.empty[Double]
          else {
            java.util.Arrays.sort(sampled)
            (1 until nBlocks)
              .map(i => sampled((i.toLong * sampled.length / nBlocks).toInt
                .min(sampled.length - 1)))
              .distinct.sorted.toArray
          }
        val blk =
          if (bounds.isEmpty) lit(0L)
          else graft.functions.native.sortedBucketOf(img,
            bounds.toSeq, bounds.indices.map(_.toLong))
        val local = Window.partitionBy(col("_blk")).orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withLocal = hist
          .withColumn("_blk", blk)
          .withColumn("_lc", sum(col("_c")).over(local))
        // constant partition key: the block-total prefix is ≤ nBlocks
        // rows by construction, so one partition is the point — the
        // explicit lit(0) key only silences WindowExec's "no partition
        // defined" warning that misread this bounded window as a hazard
        val tiny = Window.partitionBy(lit(0)).orderBy(col("_blk"))
        val prefix = withLocal
          .groupBy(col("_blk")).agg(sum(col("_c")).as("_bt"))
          .withColumn("_prefix", coalesce(sum(col("_bt")).over(
            tiny.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("_n", sum(col("_bt")).over(
            tiny.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .select(col("_blk"), col("_prefix"), col("_n"))
        withLocal
          .join(broadcast(prefix), "_blk")
          .withColumn("_before", col("_prefix") + col("_lc") - col("_c"))
          .select(col(valueCol), col("_c"), col("_before"), col("_n"))
      case None =>
        val ranked = graft.operators.PrefixSum
          .withGlobalCumSum(hist, Seq(col(valueCol)), col("_c"), "_cum")
          .withColumn("_before", col("_cum") - col("_c"))
        // total rows = Σ histogram counts: summing the (already
        // shuffled, distinct-sized) histogram is strictly cheaper than
        // a second scan of the base frame, and gives the identical n
        ranked
          .crossJoin(broadcast(hist.agg(sum(col("_c")).as("_n"))))
          .select(col(valueCol), col("_c"), col("_before"), col("_n"))
    }
  }

  /** Append the rank-quantile z-order key of (xCol, yCol): each dimension
    * is quantile-bucketed into 2^bits ranks, then Morton-interleaved. This
    * is the layout key for skewed or wide/continuous domains (prices,
    * timestamps, hash-spread ids) where `zorderKey2`'s low-bit mask would
    * alias distant values into the same cell.
    */
  /** The sorted (boundary value → bucket) table behind the broadcast
    * bucket form: per bucket, its smallest member value. Buckets are
    * monotone in value order, so `bucket(v)` = the bucket paired with
    * the greatest boundary ≤ v — exactly the join form's answer for
    * every value IN the corpus the map was built from. At most
    * `buckets` rows, so the collect is bounded by the same 2^16-class
    * ceiling as the centroid builds. Boundaries are carried as doubles
    * for floating-point columns and as longs for integral ones (see
    * [[bucketBoundsLong]]) — the typed split is what keeps wide
    * integral domains (surrogate keys above 2^53) exact on the
    * broadcast path. [[bucketMap]] already excluded nulls, so no
    * boundary is null; a corpus NaN sorts last (both engines) and
    * becomes the final boundary, which the probe kernel maps NaN to.
    */
  private[graft] def bucketBounds(df: DataFrame, valueCol: String,
      buckets: Int,
      sampleHint: Option[Array[Double]] = None): (Seq[Double], Seq[Long]) = {
    // sort the ≤ `buckets`-row result on the DRIVER: an orderBy before
    // the collect was a full range exchange (plus its sampling pass)
    // spent sorting a table bounded by maxBroadcastBuckets. NaN (the
    // top-ranked boundary when the corpus has one) must still sort
    // LAST, which IEEE `<` gets wrong — compare via Double.compare,
    // matching both engines' NaN-greatest sort order.
    val rows = bucketMap(df, valueCol, buckets, "_b", sampleHint)
      .groupBy(col("_b"))
      .agg(min(col(valueCol)).cast("double").as("_v"))
      .collect()
      .sortBy(r => r.getDouble(1))(Ordering.fromLessThan(
        (a, b) => java.lang.Double.compare(a, b) < 0))
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getLong(0)).toSeq)
  }

  /** [[bucketBounds]] with long-typed boundaries — exact for the full
    * 64-bit integral domain. */
  private[graft] def bucketBoundsLong(df: DataFrame, valueCol: String,
      buckets: Int,
      sampleHint: Option[Array[Double]] = None): (Seq[Long], Seq[Long]) = {
    val rows = bucketMap(df, valueCol, buckets, "_b", sampleHint)
      .groupBy(col("_b"))
      .agg(min(col(valueCol)).cast("long").as("_v"))
      .collect()
      .sortBy(_.getLong(1))
    (rows.map(_.getLong(1)).toSeq, rows.map(_.getLong(0)).toSeq)
  }

  /** Max quantile-bucket count served by the BROADCAST assignment form —
    * past this the boundary table stops being a sane driver object and
    * the join form takes over (the `Similarity.maxLiteralNlist` ceiling
    * contract applied to layout).
    */
  val maxBroadcastBuckets: Int = 65536

  /** The broadcast probe column for one dimension, typed by the column:
    * integral columns search long boundaries (exact over the full 64-bit
    * domain — a double cast silently merges adjacent keys above 2^53),
    * float/double columns search double boundaries. `None` when the
    * type has no exact broadcast kernel — the caller falls back to the
    * join form, which is type-agnostic.
    */
  private def broadcastBucketCol(df: DataFrame, c: String, b: Int,
      sampleHint: Option[Array[Double]] = None): Option[Column] = {
    import org.apache.spark.sql.types._
    // long-kernel probe over a monotone-injective long image of the
    // column: the boundary table is built from the SAME transform, so
    // ranks (and therefore buckets) are identical to ranking the raw
    // values — nulls map to null (outside rank space) in both
    def longProbe(keyed: DataFrame, probe: Column): Column = {
      val (bounds, keys) = bucketBoundsLong(keyed, c, b, sampleHint)
      if (bounds.isEmpty) lit(null).cast("long")
      else graft.functions.native.sortedBucketOfLong(probe, bounds, keys)
    }
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(longProbe(df, col(c).cast("long")))
      // timestamps are losslessly long-representable (micros since epoch
      // IS Spark's internal encoding; unix_micros is exact and strictly
      // monotone), so they ride the exact long kernel instead of falling
      // back to the corpus-sized join — same for dates (days since
      // epoch). TimestampNTZType stays on the join path: its only long
      // image goes through a session-timezone cast, which is not
      // injective across DST gaps in non-UTC zones.
      case TimestampType =>
        Some(longProbe(df.select(unix_micros(col(c)).as(c)),
          unix_micros(col(c))))
      case DateType =>
        Some(longProbe(df.select(unix_date(col(c)).cast("long").as(c)),
          unix_date(col(c)).cast("long")))
      // decimals at precision ≤ 18 are losslessly long-representable as
      // their unscaled value (value · 10^scale — all of a column's
      // values share one scale, so the image is strictly monotone);
      // wider decimals overflow the long and keep the join form
      case d: DecimalType if d.precision <= 18 =>
        val img = graft.functions.native.unscaledLong(col(c))
        Some(longProbe(df.select(img.as(c)), img))
      case FloatType | DoubleType =>
        val (bounds, keys) = bucketBounds(df, c, b, sampleHint)
        Some(if (bounds.isEmpty) lit(null).cast("long")
        else graft.functions.native.sortedBucketOf(
          col(c).cast("double"), bounds, keys))
      case _ => None
    }
  }

  /** The double image [[rankedHist]]'s block estimation will see for
    * column `c` on the broadcast path — [[broadcastBucketCol]]'s typed
    * transform composed with [[blockImage]]'s double cast, so a fused
    * multi-dimension sampler ([[distinctBoundarySamples]]) can compute
    * the sample from the ORIGINAL frame in the same pass for every
    * dimension. `None` exactly where [[broadcastBucketCol]] returns
    * `None` (the join fallback estimates internally).
    */
  private def sampleImage(df: DataFrame, c: String): Option[Column] = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(col(c).cast("long").cast("double"))
      case TimestampType => Some(unix_micros(col(c)).cast("double"))
      case DateType => Some(unix_date(col(c)).cast("long").cast("double"))
      case d: DecimalType if d.precision <= 18 =>
        Some(graft.functions.native.unscaledLong(col(c)).cast("double"))
      case FloatType | DoubleType => Some(col(c).cast("double"))
      case _ => None
    }
  }

  /** Null/NaN contract (identical in BOTH physical forms, spec-pinned):
    * a row with a null in either layout column keeps a NULL z — nulls
    * are outside rank space ([[bucketMap]]) and never shift a real
    * value's bucket; NaN is rank space's greatest member (both engines
    * sort NaN last and group NaNs together), so it takes the top
    * bucket. The broadcast kernel achieves this via null-propagating
    * expressions and an explicit NaN → last-boundary rule; the join
    * form via left joins against the null-free maps.
    */
  def withZorderKeyQuantile(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 16, zCol: String = "_z"): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val b = 1 << bits
    // both dimension maps derive from the narrow base frame (see
    // [[bucketMap]]) — chaining quantileBucket would rebuild dimension
    // 1's shuffle join just to histogram dimension 2.
    // Assignment: at ≤ 2^16 buckets (every `bits` ≤ 16, the default),
    // the boundary tables broadcast and each row takes a codegen'd
    // O(log b) binary search — the corpus-sized (value → bucket) joins
    // this replaced were the whole cost of the layout key at 100×
    // (two 60M-row sort-merge joins just to attach ≤ 2^bits-row maps).
    // Past the ceiling — or for column types with no exact broadcast
    // kernel (TimestampNTZ, decimal wider than 18 digits) — the join
    // form is the scale path.
    // the two dimensions' boundary builds are INDEPENDENT collect jobs;
    // running them from two driver threads lets the second job's tasks
    // back-fill executor cores the first job's tail leaves idle (FIFO
    // back-fill) — wall clock ≈ the slower dimension instead of the sum.
    // Their block-boundary estimation is FUSED beforehand: one aggregate
    // (both dims' distinct estimates) + one scan (both dims' samples)
    // replace two counts + two sample scans — two fewer full-corpus
    // passes per layout build (round-16 deferred item).
    val probes =
      if (b <= maxBroadcastBuckets) {
        import scala.concurrent.ExecutionContext.Implicits.global
        val hints = (sampleImage(df, xCol), sampleImage(df, yCol)) match {
          case (Some(ix), Some(iy)) =>
            val s = distinctBoundarySamples(df, Seq(ix, iy), blockCount(df))
            (Some(s(0)), Some(s(1)))
          case _ => (None, None) // mixed/no-kernel types: join fallback
        }
        // both builds share one cancellable job group: if one dimension
        // fails, the sibling's in-flight Spark jobs are cancelled instead
        // of running on detached (round-17, ADVICE)
        val sc = df.sparkSession.sparkContext
        val group = s"layout-bounds-${java.util.UUID.randomUUID()}"
        def inGroup[T](body: => T): T = {
          sc.setJobGroup(group, "layout: boundary build",
            interruptOnCancel = true)
          try body finally sc.clearJobGroup()
        }
        val fx = Future(inGroup(broadcastBucketCol(df, xCol, b, hints._1)))
        val fy = Future(inGroup(broadcastBucketCol(df, yCol, b, hints._2)))
        try Await.result(fx.zip(fy), Duration.Inf)
        catch {
          case e: Throwable =>
            try sc.cancelJobGroup(group) catch { case _: Throwable => () }
            throw e
        }
      } else (None, None)
    probes match {
      case (Some(px), Some(py)) =>
        df.withColumn(zCol, zorderKey2(px, py, bits))
      case _ =>
        df
          .join(bucketMap(df, xCol, b, "_qbx"), Seq(xCol), "left")
          .join(bucketMap(df, yCol, b, "_qby"), Seq(yCol), "left")
          .withColumn(zCol, zorderKey2(col("_qbx"), col("_qby"), bits))
          .drop("_qbx", "_qby")
    }
  }

  /** [[writeZOrdered]] over rank-quantile keys — the variant whose
    * per-file rectangles are small in RANK space, which is what makes
    * footer-stats pruning on a range predicate effective under skew
    * (a range predicate selects a contiguous rank interval).
    */
  def writeZOrderedQuantile(df: DataFrame, path: String, xCol: String,
      yCol: String, numFiles: Int, bits: Int = 16): Unit =
    withZorderKeyQuantile(df, xCol, yCol, bits, "_z")
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
}
