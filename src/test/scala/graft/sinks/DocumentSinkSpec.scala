package graft.sinks

import graft.SparkSpecBase

/** S1–S3 contract (SURVEY.md §2.2): idempotent last-write-wins upsert by one
  * key field; keys absent from a later batch keep their STALE value.
  */
class DocumentSinkSpec extends SparkSpecBase {
  import spark.implicits._

  test("in-memory sink: LWW upsert + staleness") {
    val sink = new InMemoryDocumentSink
    sink.upsert(Seq(("IL", 3L), ("NY", 5L)).toDF("state", "cnt"), "state")
    sink.upsert(Seq(("IL", 9L)).toDF("state", "cnt"), "state")
    assert(sink.size == 2)
    assert(sink.get("IL").get.getLong(1) == 9L) // overwritten
    assert(sink.get("NY").get.getLong(1) == 5L) // stale value persists
  }

  test("in-memory sink: within-batch winner by orderCol") {
    val sink = new InMemoryDocumentSink
    sink.upsert(
      Seq(("IL", 1L, 10L), ("IL", 2L, 20L), ("NY", 7L, 5L)).toDF("state", "cnt", "v"),
      "state", orderCol = Some("v"))
    assert(sink.get("IL").get.getLong(1) == 2L) // v=20 wins
  }

  test("parquet sink: versioned copy-on-write upsert, reread across versions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val sink = new ParquetDocumentSink(dir)
    // n and tags are non-nullable in the batch; a Parquet read makes them nullable
    sink.upsert(Seq(("u1", "a", 1L, Seq(1)), ("u2", "b", 2L, Seq(2)))
      .toDF("userId", "payload", "n", "tags"), "userId")
    sink.upsert(Seq(("u2", "B2", 3L, Seq(3, 4)), ("u3", "c", 4L, Seq.empty[Int]))
      .toDF("userId", "payload", "n", "tags"), "userId")
    val written = sink.snapshot(spark)
    val out = written.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("u1" -> "a", "u2" -> "B2", "u3" -> "c"))

    // a new instance, as after a restart, has no recorded schema: it infers
    // one from the files, and must agree with the writer's recorded schema
    val reopened = new ParquetDocumentSink(dir).snapshot(spark)
    assert(reopened.schema == written.schema, reopened.schema.treeString)
    assert(reopened.schema("n").nullable)
    assert(reopened.collect().map(_.toString).toSet == written.collect().map(_.toString).toSet)
  }

  test("parquet sink vacuum keeps the newest versions and the table stays readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vac").toString
    val sink = new ParquetDocumentSink(dir)
    (1 to 5).foreach(i => sink.upsert(Seq(("k", i.toLong)).toDF("id", "v"), "id"))
    sink.vacuum(keep = 2)
    val versions = new java.io.File(dir).list().filter(_.startsWith("v")).sorted
    assert(versions.toSeq == Seq("v3", "v4"))
    assert(sink.snapshot(spark).collect().head.getLong(1) == 5L)
  }

  test("idempotent: re-upserting the same batch changes nothing (reprocess safety)") {
    val sink = new InMemoryDocumentSink
    val batch = Seq(("IL", 3L)).toDF("state", "cnt")
    sink.upsert(batch, "state")
    sink.upsert(batch, "state")
    assert(sink.size == 1 && sink.get("IL").get.getLong(1) == 3L)
  }
}
