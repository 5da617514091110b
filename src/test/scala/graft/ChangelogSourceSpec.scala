package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FixtureReader

/** The DataSource V2 changelog connector (`graft-changelog`) must
  * produce exactly [[FixtureReader.readTopic]]'s rows, prune columns
  * down to the scan (including nested fields), honor tombstones, and
  * split records across input partitions with stable offsets. */
class ChangelogSourceSpec extends AnyFunSuite with SparkSpec {

  import ReferenceFixtures.forEachRoot

  private val entity = "playlist"
  private def path(dir: String) = s"$dir/topic/$entity.json"

  private def readV2(dir: String, splits: Int = 4) =
    spark.read.format("graft-changelog")
      .option("keySchema", ReferenceFixtures.keySchema(entity).toDDL)
      .option("valueSchema", ReferenceFixtures.valueSchemas(entity).toDDL)
      .option("splits", splits.toString)
      .load(path(dir))

  test("rows match FixtureReader exactly") {
    forEachRoot { dir =>
      val expected = FixtureReader.readTopic(spark, path(dir),
        ReferenceFixtures.keySchema(entity), ReferenceFixtures.valueSchemas(entity))
      val got = readV2(dir)
      assert(got.schema.map(_.name) == Seq("offset", "key", "value"))
      val e = expected.orderBy("offset").collect().map(_.toString).toSeq
      val g = got.orderBy("offset").collect().map(_.toString).toSeq
      assert(g == e)
    }
  }

  test("a scheme-qualified file:/// path reads identically (Hadoop-FS reach)") {
    forEachRoot { dir =>
      // the reader goes through the Hadoop FileSystem API, so the log
      // path accepts any scheme the session can reach (file://, hdfs://,
      // s3a://) — asserted here with an explicit file:/// URI producing
      // byte-identical rows to the bare-path read
      val qualified = "file://" + path(dir)
      val got = spark.read.format("graft-changelog")
        .option("keySchema", ReferenceFixtures.keySchema(entity).toDDL)
        .option("valueSchema", ReferenceFixtures.valueSchemas(entity).toDDL)
        .load(qualified)
        .orderBy("offset").collect().map(_.toString).toSeq
      val bare = readV2(dir).orderBy("offset").collect().map(_.toString).toSeq
      assert(got == bare && got.nonEmpty)
    }
  }

  test("tombstones arrive as null values") {
    forEachRoot { dir =>
      val tombs = readV2(dir).where(col("value").isNull).count()
      val expected = FixtureReader.readTopic(spark, path(dir),
          ReferenceFixtures.keySchema(entity), ReferenceFixtures.valueSchemas(entity))
        .where(col("value").isNull).count()
      assert(tombs == expected && tombs > 0)
    }
  }

  test("column pruning reaches the scan (nested ReadSchema)") {
    forEachRoot { dir =>
      val pruned = readV2(dir).select(col("value.title"))
      val readSchema = pruned.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.readSchema()
      }.get
      assert(readSchema.fieldNames.toSeq == Seq("value"), s"got $readSchema")
      val valueStruct = readSchema("value").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(valueStruct.fieldNames.toSeq == Seq("title"),
        s"nested pruning missed: ${valueStruct.toDDL}")
      // and the pruned read still returns correct data
      val titles = pruned.na.drop().collect().map(_.getString(0)).toSet
      assert(titles.nonEmpty)
    }
  }

  test("splits partition the log with stable global offsets") {
    forEachRoot { dir =>
      val one = readV2(dir, splits = 1)
      val many = readV2(dir, splits = 5)
      assert(many.rdd.getNumPartitions == 5)
      assert(one.rdd.getNumPartitions == 1)
      assert(many.orderBy("offset").collect().map(_.toString).toSeq ==
        one.orderBy("offset").collect().map(_.toString).toSeq)
      // latest-per-key over the v2 source is partition-count invariant
      def latest(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Compaction.latest(
            df.select(col("offset"), col("key.id").as("id"), col("value")),
            Seq("id"), "offset")
          .orderBy("offset").collect().map(_.toString).toSeq
      assert(latest(many) == latest(one))
    }
  }

  test("offset predicates prune input partitions at planning time") {
    forEachRoot { dir =>
      val all = readV2(dir, splits = 1).count()
      val filtered = readV2(dir, splits = 8).where(col("offset") >= 5 && col("offset") < 8)
      val parts = filtered.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.get
      // 3 records remain -> at most 3 single-record partitions, not 8
      assert(parts <= 3, s"offset pushdown did not prune partitions: $parts")
      assert(filtered.count() == math.min(all, 8L) - 5)
      assert(filtered.select(min(col("offset")), max(col("offset")))
        .collect()(0).toSeq == Seq(5L, math.min(all, 8L) - 1))
    }
  }

  test("pushed offset bounds carry into the micro-batch stream (catch-up semantics)") {
    import graft.sources.v2.{ChangelogOffset, ChangelogScan, ChangelogInputPartition}
    val schema = graft.sources.v2.ChangelogTable.tableSchema(
      ReferenceFixtures.keySchema(entity), ReferenceFixtures.valueSchemas(entity))
    forEachRoot { dir =>
      val total = readV2(dir, splits = 1).count()
      assert(total > 8, s"fixture too small for this test: $total")
      // a scan carrying pushed bounds [5, 8) hands them to its stream:
      // the offset ledger starts at 5 (no head replay) and tops out at 8
      val stream = new ChangelogScan(path(dir), schema, splits = 4,
        minPair = 5L, maxPairExcl = 8L).toMicroBatchStream("unused")
      assert(stream.initialOffset() == ChangelogOffset(5L))
      assert(stream.latestOffset() == ChangelogOffset(8L))
      val parts = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
        .map(_.asInstanceOf[ChangelogInputPartition])
      assert(parts.forall(p => p.startPair >= 5L && p.endPair <= 8L))
      assert(parts.map(p => p.endPair - p.startPair).sum == 3L)
      // an unbounded scan still starts at the head
      val unbounded = new ChangelogScan(path(dir), schema, splits = 4).toMicroBatchStream("unused")
      assert(unbounded.initialOffset() == ChangelogOffset(0L))
      assert(unbounded.latestOffset() == ChangelogOffset(total))
    }
  }

  test("connector streams drive the IVM engine to golden parity") {
    import graft.core.Relation
    import graft.streaming.StreamRunner
    val trees = Relation.parseFile(
      s"${ReferenceFixtures.root}/relations2.sample.json")
    val entities = trees.flatMap(_.entities).distinct
    def src(e: String) = spark.readStream.format("graft-changelog")
      .option("keySchema", ReferenceFixtures.keySchema(e).toDDL)
      .option("valueSchema", ReferenceFixtures.valueSchemas(e).toDDL)
      .load(s"${ReferenceFixtures.root}/topic/$e.json")
      .select(lit(e).as("entity"), col("offset"),
        to_json(col("key")).as("key_json"),
        to_json(col("value")).as("value_json"))
    val changelog = entities.map(src).reduce(_ unionByName _)
    val (engine, q) = StreamRunner.start(spark, changelog, trees,
      keyFields = entities.map(e => e -> ReferenceFixtures.keyFields(e)).toMap,
      keySchemas = entities.map(e => e -> ReferenceFixtures.keySchema(e)).toMap,
      valueSchemas = entities.map(e => e -> ReferenceFixtures.valueSchemas(e)).toMap,
      filter = ReferenceFixtures.testFilter)
    q.awaitTermination(120000)
    q.stop()
    val name = "DenormalizedPlayer"
    val live = engine.docs(name).where(!col("__deleted"))
      .select(col("__pk"), col("doc_json")).collect()
      .map(r => BigInt(1, r.getAs[Array[Byte]]("__pk")).toLong ->
        r.getAs[String]("doc_json")).toMap
    val golden = ReferenceFixtures.goldenDocs(name)
    golden.foreach {
      case (key, Some(doc)) =>
        assert(live.contains(key), s"$name/$key missing from streamed docs")
        assert(ReferenceFixtures.normalizeJson(live(key)) ==
          ReferenceFixtures.normalize(doc), s"$name/$key mismatch")
      case (key, None) =>
        assert(!live.contains(key), s"$name/$key should be tombstoned")
    }
    assert(live.keySet.subsetOf(golden.keySet))
  }

  test("micro-batch stream resumes from checkpointed offsets across appends") {
    val dir = java.nio.file.Files.createTempDirectory("graft-changelog-stream")
    val log = dir.resolve("topic.json")
    val ckpt = dir.resolve("ckpt").toString
    val out = dir.resolve("out").toString
    def pair(id: Long, v: String): String =
      s"""{"id":$id}\n${if (v.isEmpty) "" else s"""{"id":$id,"name":"$v"}"""}"""
    java.nio.file.Files.writeString(log,
      Seq(pair(1, "a"), pair(2, "b"), pair(3, "")).mkString("\n") + "\n")

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-changelog")
        .option("keySchema", "id LONG")
        .option("valueSchema", "id LONG, name STRING")
        .option("splits", "3")
        .load(log.toString)
        .writeStream
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      q.stop()
    }
    runOnce()
    val first = spark.read.parquet(out)
    assert(first.count() == 3)
    assert(first.where(col("value").isNull).count() == 1) // tombstone

    // append two more records; the restart must process ONLY them
    java.nio.file.Files.writeString(log,
      Seq(pair(4, "d"), pair(1, "a2")).mkString("\n") + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    runOnce()
    val all = spark.read.parquet(out)
    assert(all.count() == 5, s"restart reprocessed rows: ${all.count()}")
    val offsets = all.select("offset").collect().map(_.getLong(0)).sorted.toSeq
    assert(offsets == Seq(0L, 1L, 2L, 3L, 4L))
    // last-writer-wins fold over the streamed log sees the id=1 update
    val latestRows = graft.operators.Compaction.latest(
        all.select(col("offset"), col("key.id").as("id"), col("value")),
        Seq("id"), "offset")
      .where(col("value").isNotNull)
      .select(col("id"), col("value.name").as("name"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latestRows == Map(1L -> "a2", 2L -> "b", 4L -> "d"))
  }
}
