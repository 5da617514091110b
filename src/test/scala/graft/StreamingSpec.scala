package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Relation
import graft.operators.{Compaction, Denormalize}
import graft.streaming.StreamRunner
import ReferenceFixtures._

/** End-to-end Structured Streaming test: feed the topic fixtures (the
  * in-repo corpus, and the reference's when mounted) through a
  * MemoryStream as a unified changelog in several micro-batches; the
  * final streaming-maintained documents must equal
  * a from-scratch batch run (the reference's core guarantee,
  * README.md:17-21).
  */
class StreamingSpec extends SparkSpec {

  test("streaming foreachBatch denormalization converges to batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    forEachRoot { dir =>
      val tree = Relation.parseFile(s"$dir/relations2.sample.json").head // player ⟕ user
      val entities = Seq("player", "user")

      // unified changelog rows (entity, offset, key_json, value_json)
      val rows: Seq[(String, Long, String, String)] = entities.flatMap { e =>
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"$dir/topic/$e.json")).toArray(Array.empty[String])
        lines.grouped(2).zipWithIndex.collect {
          case (Array(k, v), i) => (e, i.toLong, k, if (v.trim.isEmpty) null else v)
        }
      }

      val stream = MemoryStream[(String, Long, String, String)]
      val changelogStream = stream.toDF()
        .toDF("entity", "offset", "key_json", "value_json")

      // 3 micro-batches
      val chunks = rows.grouped(math.max(rows.size / 3, 1)).toSeq
      chunks.foreach(stream.addData(_))

      val (engine, query) = StreamRunner.start(
        spark, changelogStream, Seq(tree), keyFields,
        entities.map(e => e -> keySchema(e)).toMap,
        entities.map(e => e -> valueSchemas(e)).toMap,
        testFilter)
      query.awaitTermination(120000)

      val streamed = engine.docs("DenormalizedPlayer").where(!col("__deleted"))
        .collect().map(r => BigInt(1, r.getAs[Array[Byte]]("__pk")).toLong ->
          r.getAs[String]("doc_json")).toMap

      val snapshots = entities.map { e =>
        e -> Compaction.snapshot(
          Compaction.compact(changelog(spark, e, dir), e, keyFields(e), testFilter))
      }.toMap
      val batch = Denormalize.documents(tree, snapshots, keyFields)
        .select(col("__pk"), col("doc_json")).collect()
        .map(r => BigInt(1, r.getAs[Array[Byte]]("__pk")).toLong ->
          r.getAs[String]("doc_json")).toMap

      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, j) =>
        assert(normalizeJson(j) == normalizeJson(batch(k)), s"doc $k diverged")
      }
    }
  }

  test("parquet doc sink is idempotent under foreachBatch replay") {
    import spark.implicits._
    // the at-least-once failure shape: the sink write lands, the
    // checkpoint commit doesn't, the batch REPLAYS with the same id —
    // the reference absorbs this via upsert-by-PK (Southpaw.java:
    // 297-315); the parquet sink must absorb it via per-batch overwrite
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val sink = StreamRunner.DocSinks.parquet(out)
    def docsDf(rows: (Long, String)*) = rows.toDF("id", "doc_json")
      .select(
        graft.functions.CanonicalKey.canonicalPk(Seq(col("id"))).as("__pk"),
        col("doc_json"), col("doc_json").isNull.as("__deleted"))
    sink("T", docsDf(1L -> """{"a":1}""", 2L -> """{"a":2}"""), 0L)
    sink("T", docsDf(3L -> """{"a":3}"""), 1L)
    // replay batch 1 (same id, same content) — must not duplicate
    sink("T", docsDf(3L -> """{"a":3}"""), 1L)
    val back = spark.read.parquet(s"$out/T")
    assert(back.count() == 3, "replayed batch duplicated sink output")
    assert(back.columns.contains("batch_id"), "batch id not a partition column")
    assert(back.where(col("batch_id") === 1).count() == 1)
  }

  test("metrics listener reports engine counters under reference names after a 2-batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tree = Relation.root("DenormItem", "item")
    val itemSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qty", org.apache.spark.sql.types.LongType)))
    val keySchema = org.apache.spark.sql.types.StructType(Seq(itemSchema("id")))

    val stream = MemoryStream[(String, Long, String, String)]
    stream.addData(Seq(
      ("item", 1L, """{"id":1}""", """{"id":1,"qty":10}"""),
      ("item", 2L, """{"id":2}""", """{"id":2,"qty":20}""")))

    // a continuous trigger so the second chunk lands in a SECOND
    // micro-batch (AvailableNow would drain both ordinals in one)
    val (engine, query) = graft.streaming.StreamRunner.start(
      spark, stream.toDF().toDF("entity", "offset", "key_json", "value_json"),
      Seq(tree), Map("item" -> Seq("id")),
      Map("item" -> keySchema), Map("item" -> itemSchema),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    val listener = new graft.streaming.EngineMetricsListener(engine)
    spark.streams.addListener(listener)
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what")
    }
    try {
      waitFor("batch 1")(engine.counters("batches") == 1L)
      stream.addData(Seq(("item", 3L, """{"id":1}""", null))) // batch 2: tombstone
      waitFor("batch 2")(engine.counters("batches") == 2L)
      // listener-bus delivery is async relative to batch completion
      waitFor("progress event")(
        listener.reported.getOrElse("graft.batches.processed", 0L) == 2L)
      assert(listener.reported("graft.records.consumed") == 3L)
      assert(listener.reported("graft.denormalized.records.created") >= 2L)
      assert(listener.reported("graft.denormalized.records.tombstoned") == 1L)
      // the Dropwizard gauges read the same live counters
      assert(listener.registry.getGauges.get("graft.records.consumed")
        .getValue.asInstanceOf[Long] == 3L)
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }
}
