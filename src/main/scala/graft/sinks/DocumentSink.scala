package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** S1–S3: idempotent last-write-wins upsert sink keyed by one field.
  *
  * Reference contract (`/root/reference/src/main/java/Sink/MongoSink.java:44-63`):
  * every record becomes `updateOne(eq(keyField, v), {$set: doc}, upsert=true)`
  * — one document per key, latest write wins, stale keys persist (SURVEY.md
  * §2.2). The reference issues one round-trip per record; this design upserts
  * a whole micro-batch at once (`foreachBatch`-shaped), the only write
  * pattern that survives at scale.
  */
trait DocumentSink {
  /** Upsert a batch. Within the batch, later rows (by `orderCol`, when
    * given) win per key; across batches, the newest batch wins.
    */
  def upsert(batch: DataFrame, keyField: String, orderCol: Option[String] = None): Unit
  /** Current materialized table (one row per key). */
  def snapshot(spark: SparkSession): DataFrame
  /** Like `snapshot`, but None before the first upsert — read-merge-write
    * callers (the shared-topology count merge) need a safe first-batch read.
    */
  def snapshotOption(spark: SparkSession): Option[DataFrame]
}

object DocumentSink {
  /** Reduce a batch to one row per key: last-write-wins within the batch.
    * With an explicit order column the winner is deterministic; without one
    * it mirrors the reference's arrival-order overwrite.
    */
  def lastWritePerKey(batch: DataFrame, keyField: String, orderCol: Option[String]): DataFrame =
    orderCol match {
      case Some(oc) =>
        val w = Window.partitionBy(col(keyField)).orderBy(col(oc).desc)
        batch.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      case None =>
        batch.dropDuplicates(keyField)
    }

  /** Merge an upsert batch into the existing keyed table. */
  def merge(existing: Option[DataFrame], batchDeduped: DataFrame, keyField: String): DataFrame =
    existing match {
      case None => batchDeduped
      case Some(ex) =>
        // anti-join keeps only keys NOT overwritten by this batch; at scale
        // this is the standard copy-on-write merge (Delta-style). The match
        // is null-safe: a null key (the null-state count group) is one key,
        // as in the in-memory sink, and is overwritten like any other.
        // The join is pinned to a shuffle join, so a version is at most
        // twice `spark.sql.shuffle.partitions` files. A broadcast join would
        // keep the table's scan partitions, one per file of the previous
        // version, and add the batch's, so the file count would grow with
        // every version.
        val overwritten = batchDeduped.select(col(keyField).as("__key"))
        ex.join(overwritten.hint("shuffle_merge"), col(keyField) <=> col("__key"), "left_anti")
          .unionByName(batchDeduped)
    }
}

/** Test/driver-local sink holding the keyed table in driver memory. */
final class InMemoryDocumentSink extends DocumentSink {
  private val table = scala.collection.mutable.LinkedHashMap.empty[Any, Row]
  @volatile private var lastSchema: StructType = _

  override def upsert(batch: DataFrame, keyField: String, orderCol: Option[String]): Unit = {
    val deduped = DocumentSink.lastWritePerKey(batch, keyField, orderCol)
    lastSchema = deduped.schema
    // driver-side collect is acceptable here by construction: this impl is
    // the unit-test double, not the scale path (see ParquetDocumentSink).
    deduped.collect().foreach(r => synchronized { table(r.getAs[Any](keyField)) = r })
  }

  override def snapshot(spark: SparkSession): DataFrame = synchronized {
    val rows = table.values.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), lastSchema)
  }

  override def snapshotOption(spark: SparkSession): Option[DataFrame] =
    synchronized { if (table.isEmpty) None else Some(snapshot(spark)) }

  def get(key: Any): Option[Row] = synchronized(table.get(key))
  def size: Int = synchronized(table.size)
}

/** Parquet-backed keyed table: the local stand-in for the Mongo collection
  * (zero-egress sandbox). Copy-on-write: read current, anti-join overwritten
  * keys, write new version directory, flip a version marker — the same shape
  * a Delta/Iceberg MERGE takes at cluster scale.
  */
final class ParquetDocumentSink(path: String) extends DocumentSink {
  private val fs = java.nio.file.Paths.get(path)
  /** (version, schema) of the version this instance last wrote or read.
    * Reading that version with its schema skips the Spark job that infers
    * a schema from the Parquet footers; a new instance infers once.
    */
  @volatile private var known: Option[(Int, StructType)] = None

  private def versionFile = fs.resolve("_VERSION")
  private def currentVersion: Int =
    if (java.nio.file.Files.exists(versionFile))
      new String(java.nio.file.Files.readAllBytes(versionFile)).trim.toInt
    else -1

  override def upsert(batch: DataFrame, keyField: String, orderCol: Option[String]): Unit = synchronized {
    val spark = batch.sparkSession
    val deduped = DocumentSink.lastWritePerKey(batch, keyField, orderCol)
    val v = currentVersion
    val existing = if (v >= 0) Some(read(spark, v)) else None
    val merged = DocumentSink.merge(existing, deduped, keyField)
    val next = v + 1
    merged.write.mode("overwrite").parquet(fs.resolve(s"v$next").toString)
    java.nio.file.Files.createDirectories(fs)
    java.nio.file.Files.write(versionFile, next.toString.getBytes)
    // a file-source read makes every field nullable, with or without a
    // given schema, so the written schema reads back as inference would
    known = Some((next, merged.schema))
  }

  private def read(spark: SparkSession, v: Int): DataFrame = {
    val dir = fs.resolve(s"v$v").toString
    known match {
      case Some((`v`, schema)) => spark.read.schema(schema).parquet(dir)
      case _ =>
        val df = spark.read.parquet(dir)
        known = Some((v, df.schema))
        df
    }
  }

  override def snapshot(spark: SparkSession): DataFrame = {
    val v = currentVersion
    require(v >= 0, s"no data written to $path yet")
    read(spark, v)
  }

  override def snapshotOption(spark: SparkSession): Option[DataFrame] =
    if (currentVersion >= 0) Some(snapshot(spark)) else None

  /** Drop all but the newest `keep` versions (copy-on-write tables grow one
    * full copy per batch; compaction is part of the contract at scale).
    */
  def vacuum(keep: Int = 2): Unit = synchronized {
    val v = currentVersion
    if (v >= 0) {
      val cutoff = v - keep + 1
      val dirs = java.nio.file.Files.list(fs).iterator()
      while (dirs.hasNext) {
        val d = dirs.next()
        val name = d.getFileName.toString
        if (name.startsWith("v") && name.drop(1).forall(_.isDigit) &&
            name.drop(1).toInt < cutoff) {
          // delete the whole version directory tree
          java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
    }
  }
}
