package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Relation
import graft.sources.Serdes
import graft.streaming.{StateOps, StreamRunner}

/** The Kafka-connector bridge as code: the fixed connector output
  * shape maps to the unified changelog via pure Column transforms for
  * both JSON and Confluent-Avro topics (reference serde/JsonSerde.java,
  * serde/AvroSerde.java, topic/KafkaTopic.java:401-434), and a
  * checkpointed restart resumes consistently when the engine state is
  * backed up alongside the streaming checkpoint.
  */
class KafkaWiringSpec extends SparkSpec {
  import spark.implicits._

  private val itemSchema = StructType(Seq(
    StructField("id", LongType), StructField("qty", LongType)))
  private val keySchema = StructType(Seq(StructField("id", LongType)))

  test("kafkaToChangelog maps the connector shape for JSON topics (null/empty = tombstone)") {
    val rows = Seq(
      // (key, value, topic, partition, offset)
      ("""{"id":1}""".getBytes, """{"id":1,"qty":10}""".getBytes, "pfx.item", 0, 1L),
      ("""{"id":2}""".getBytes, null, "pfx.item", 0, 2L), // null tombstone
      ("""{"id":3}""".getBytes, Array.empty[Byte], "pfx.item", 1, 3L)) // empty tombstone
    val raw = rows.toDF("key", "value", "topic", "partition", "offset")
    val got = StreamRunner.kafkaToChangelog(raw, "pfx.").orderBy("offset").collect()
    assert(got.map(_.getAs[String]("entity")).toSeq == Seq("item", "item", "item"))
    assert(got(0).getAs[String]("value_json") == """{"id":1,"qty":10}""")
    assert(got(1).isNullAt(got(1).fieldIndex("value_json")))
    assert(got(2).isNullAt(got(2).fieldIndex("value_json")))
    assert(got(0).getAs[String]("key_json") == """{"id":1}""")
  }

  test("kafkaAvroToChangelog decodes Confluent-framed topics through the avro codec") {
    val codec = Serdes.byName("avro")
    // produce Confluent-framed binaries with our own encoder
    val enc = Seq((1L, 10L), (2L, 20L)).toDF("id", "qty")
      .select(codec.encode(struct(col("id"))).as("key"),
        codec.encode(struct(col("id"), col("qty"))).as("value"),
        lit("pfx.item").as("topic"), lit(0).as("partition"),
        col("id").as("offset"))
      // a tombstone: empty payload for key 1 at a later offset
      .unionByName(Seq(1L).toDF("id")
        .select(codec.encode(struct(col("id"))).as("key"),
          lit(Array.empty[Byte]).as("value"),
          lit("pfx.item").as("topic"), lit(0).as("partition"),
          lit(5L).as("offset")))
    val changelog = StreamRunner.kafkaAvroToChangelog(enc, "pfx.",
      Map("item" -> keySchema), Map("item" -> itemSchema))
      .orderBy("offset").collect()
    assert(changelog(0).getAs[String]("entity") == "item")
    assert(changelog(0).getAs[String]("key_json") == """{"id":1}""")
    assert(changelog(0).getAs[String]("value_json") == """{"id":1,"qty":10}""")
    // tombstone: key still decodes, value is null
    assert(changelog(2).getAs[String]("key_json") == """{"id":1}""")
    assert(changelog(2).isNullAt(changelog(2).fieldIndex("value_json")))
  }

  test("kafka doc-sink frame round-trips through the changelog mapping") {
    import graft.functions.CanonicalKey
    val docs = Seq(
      (CanonicalKey.encodeValue(1L), """{"Record":{"id":1,"qty":10}}""", false),
      (CanonicalKey.encodeValue(2L), null.asInstanceOf[String], true)) // tombstone
      .toDF("__pk", "doc_json", "__deleted")
    val frame = StreamRunner.DocSinks.kafkaFrame("DenormItem", docs, "docs.")
    assert(frame.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("key" -> "binary", "value" -> "binary", "topic" -> "string"))
    val rows = frame.orderBy(hex(col("key"))).collect()
    // key = the document's canonical-PK bytes, verbatim
    assert(rows(0).getAs[Array[Byte]]("key").toSeq == CanonicalKey.encodeValue(1L).toSeq)
    assert(rows(0).getAs[String]("topic") == "docs.DenormItem")
    assert(new String(rows(0).getAs[Array[Byte]]("value"), "UTF-8") ==
      """{"Record":{"id":1,"qty":10}}""")
    // tombstoned doc = null value, Kafka's delete marker
    assert(rows(1).isNullAt(rows(1).fieldIndex("value")))

    // broker echo: the producer frame re-read through the consumer
    // mapping gives back the same documents
    val echoed = frame
      .withColumn("partition", lit(0))
      .withColumn("offset", when(col("value").isNull, 2L).otherwise(1L))
    val back = StreamRunner.kafkaToChangelog(echoed, "docs.")
      .orderBy("offset").collect()
    assert(back.map(_.getAs[String]("entity")).toSeq == Seq("DenormItem", "DenormItem"))
    assert(back(0).getAs[String]("value_json") == """{"Record":{"id":1,"qty":10}}""")
    assert(back(1).isNullAt(back(1).fieldIndex("value_json")))
  }

  test("checkpointed restart with a state root resumes consistently") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val stateRoot = Files.createTempDirectory("graft-state").toString
    val tree = Relation.root("DenormItem", "item")
    def startRunner(stream: MemoryStream[(String, Long, String, String)]) =
      StreamRunner.start(spark,
        stream.toDF().toDF("entity", "offset", "key_json", "value_json"),
        Seq(tree), Map("item" -> Seq("id")),
        Map("item" -> keySchema), Map("item" -> itemSchema),
        checkpointDir = Some(ckpt), stateRoot = Some(stateRoot))

    // run 1: two records
    val s1 = MemoryStream[(String, Long, String, String)]
    s1.addData(Seq(
      ("item", 1L, """{"id":1}""", """{"id":1,"qty":10}"""),
      ("item", 2L, """{"id":2}""", """{"id":2,"qty":20}""")))
    val (e1, q1) = startRunner(s1)
    q1.awaitTermination(120000)
    assert(q1.exception.isEmpty, s"run 1 failed: ${q1.exception}")
    assert(e1.docs("DenormItem").where(!col("__deleted")).count() == 2)

    // run 2: NEW engine, same checkpoint + state root. MemoryStream
    // offsets are addData-batch ordinals, so the first batch replays
    // as already-committed (skipped) and only the second processes —
    // exactly the restart scenario: skipped offsets + restored state.
    val s2 = MemoryStream[(String, Long, String, String)]
    s2.addData(Seq(
      ("item", 1L, """{"id":1}""", """{"id":1,"qty":10}"""),
      ("item", 2L, """{"id":2}""", """{"id":2,"qty":20}""")))
    s2.addData(Seq(
      ("item", 3L, """{"id":3}""", """{"id":3,"qty":30}""")))
    val (e2, q2) = startRunner(s2)
    q2.awaitTermination(120000)
    val live = e2.snapshot("item").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("qty")).toMap
    assert(live == Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    StateOps.deleteState(ckpt); StateOps.deleteState(stateRoot)
  }

  test("resuming a committed checkpoint over in-memory state warns loudly") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt-warn").toString
    val tree = Relation.root("DenormItem", "item")
    def startRunner(stream: MemoryStream[(String, Long, String, String)]) =
      StreamRunner.start(spark,
        stream.toDF().toDF("entity", "offset", "key_json", "value_json"),
        Seq(tree), Map("item" -> Seq("id")),
        Map("item" -> keySchema), Map("item" -> itemSchema),
        checkpointDir = Some(ckpt)) // no stateRoot, memory backend

    val s1 = MemoryStream[(String, Long, String, String)]
    s1.addData(Seq(("item", 1L, """{"id":1}""", """{"id":1,"qty":10}""")))
    val (_, q1) = startRunner(s1)
    q1.awaitTermination(120000)

    // second start over the now-committed checkpoint: the engine state
    // for the skipped offsets is gone — the dangerous shape
    val buf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try {
      val s2 = MemoryStream[(String, Long, String, String)]
      s2.addData(Seq(("item", 1L, """{"id":1}""", """{"id":1,"qty":10}""")))
      val (_, q2) = startRunner(s2)
      q2.awaitTermination(120000)
    } finally System.setErr(realErr)
    assert(buf.toString.contains("WARNING: resuming a committed checkpoint"),
      "expected the in-memory-state restart warning")
    StateOps.deleteState(ckpt)
  }

  test("checkpointed restart recovers from the durable backend's own generations") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt-dur").toString
    val backendRoot = "file://" + Files.createTempDirectory("graft-gen-state")
    val tree = Relation.root("DenormItem", "item")
    // No stateRoot: recovery must come from the bucketed parquet
    // generations the previous run's backend committed, which
    // StreamRunner.start adopts through the engine's recover().
    def startRunner(stream: MemoryStream[(String, Long, String, String)]) =
      StreamRunner.start(spark,
        stream.toDF().toDF("entity", "offset", "key_json", "value_json"),
        Seq(tree), Map("item" -> Seq("id")),
        Map("item" -> keySchema), Map("item" -> itemSchema),
        checkpointDir = Some(ckpt),
        backend = new graft.streaming.BucketedParquetBackend(spark, backendRoot, 4))

    val s1 = MemoryStream[(String, Long, String, String)]
    s1.addData(Seq(
      ("item", 1L, """{"id":1}""", """{"id":1,"qty":10}"""),
      ("item", 2L, """{"id":2}""", """{"id":2,"qty":20}""")))
    val (e1, q1) = startRunner(s1)
    q1.awaitTermination(120000)
    assert(q1.exception.isEmpty, s"run 1 failed: ${q1.exception}")
    assert(e1.docs("DenormItem").where(!col("__deleted")).count() == 2)

    // run 2: the checkpoint skips the committed first batch; the fresh
    // engine's state comes purely from the on-disk generations.
    val s2 = MemoryStream[(String, Long, String, String)]
    s2.addData(Seq(
      ("item", 1L, """{"id":1}""", """{"id":1,"qty":10}"""),
      ("item", 2L, """{"id":2}""", """{"id":2,"qty":20}""")))
    s2.addData(Seq(
      ("item", 3L, """{"id":3}""", """{"id":3,"qty":30}""")))
    val (e2, q2) = startRunner(s2)
    q2.awaitTermination(120000)
    assert(q2.exception.isEmpty, s"run 2 failed: ${q2.exception}")
    val live = e2.snapshot("item").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("qty")).toMap
    assert(live == Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    StateOps.deleteState(ckpt)
    StateOps.deleteState(backendRoot)
  }
}
