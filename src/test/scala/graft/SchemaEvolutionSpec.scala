package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Relation
import graft.streaming.{BucketedParquetBackend, IncrementalDenormalizer}

/** Schema evolution across a durable restart: an engine configured
  * with a WIDER entity schema must recover state written under the
  * narrow one (new field null on old rows, the serde layer's by-name
  * tolerance — reference AvroSerde semantics) and keep building — a
  * deployment adds a column and restarts over its existing state
  * instead of replaying the log from offset zero. */
class SchemaEvolutionSpec extends SparkSpec {

  private val v1 = StructType(Seq(
    StructField("id", LongType), StructField("qty", LongType)))
  private val v2 = StructType(Seq(
    StructField("id", LongType), StructField("qty", LongType),
    StructField("note", StringType)))
  private val ownerSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val tree = Relation.root("DenormItem", "item",
    Relation.child("owner", "id", "owner_id"))
  // v1 items carry owner_id too (needed by the join)
  private val v1Full = v1.add(StructField("owner_id", LongType))
  private val v2Full = v2.add(StructField("owner_id", LongType))

  private def changelog(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("offset", LongType),
        StructField("key", StructType(Seq(StructField("id", LongType)))),
        StructField("value", schema))))

  test("a widened entity schema recovers narrow durable state and keeps building") {
    val stateRoot = "file://" +
      java.nio.file.Files.createTempDirectory("graft_schema_evo")
    val b1 = new BucketedParquetBackend(spark, stateRoot, buckets = 4)
    val b2 = new BucketedParquetBackend(spark, stateRoot, buckets = 4)
    try {
      // run 1: narrow schema, two items + one owner
      val e1 = new IncrementalDenormalizer(spark, Seq(tree),
        Map("item" -> Seq("id"), "owner" -> Seq("id")),
        Map("item" -> v1Full, "owner" -> ownerSchema), backend = b1)
      e1.processBatch(Map(
        "item" -> changelog(Seq(
          Row(1L, Row(1L), Row(1L, 10L, 100L)),
          Row(2L, Row(2L), Row(2L, 20L, 100L))), v1Full),
        "owner" -> changelog(Seq(
          Row(1L, Row(100L), Row(100L, "ann"))), ownerSchema)))

      // restart with the WIDER item schema (adds nullable `note`)
      val e2 = new IncrementalDenormalizer(spark, Seq(tree),
        Map("item" -> Seq("id"), "owner" -> Seq("id")),
        Map("item" -> v2Full, "owner" -> ownerSchema), backend = b2)
      e2.recover()

      // the recovered engine processes a v2 batch: update item 1 WITH a
      // note, insert item 3
      e2.processBatch(Map(
        "item" -> changelog(Seq(
          Row(3L, Row(1L), Row(1L, 11L, "rushed", 100L)),
          Row(4L, Row(3L), Row(3L, 30L, "fresh", 100L))), v2Full)))

      val docs = e2.docs("DenormItem").where(!col("__deleted"))
        .select(
          get_json_object(col("doc_json"), "$.Record.id").cast(LongType).as("id"),
          get_json_object(col("doc_json"), "$.Record.qty").cast(LongType).as("qty"),
          get_json_object(col("doc_json"), "$.Record.note").as("note"),
          get_json_object(col("doc_json"), "$.Children.owner[0].Record.name").as("owner"))
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[Long]("qty"), Option(r.getAs[String]("note")),
            r.getAs[String]("owner")))).toMap

      // item 2 survives from narrow state: no note, join intact;
      // items 1 and 3 carry the evolved field
      assert(docs(2L) == ((20L, None, "ann")), s"narrow-state doc wrong: ${docs(2L)}")
      assert(docs(1L) == ((11L, Some("rushed"), "ann")), s"updated doc wrong: ${docs(1L)}")
      assert(docs(3L) == ((30L, Some("fresh"), "ann")), s"new doc wrong: ${docs(3L)}")
      assert(graft.streaming.StateOps.verifyState(e2).isEmpty)

      // the recovered snapshot itself reports the widened schema
      assert(e2.snapshot("item").schema.fieldNames.contains("note"))
    } finally {
      b2.deleteAll(); b1.deleteAll()
    }
  }

  test("recover() persists an evolved snapshot FULL and adopts the rest; under new buckets the replay matches an uninterrupted run") {
    val keys = Map("item" -> Seq("id"), "owner" -> Seq("id"))
    def items(schema: StructType, rows: Row*) = "item" -> changelog(rows, schema)
    def owners(rows: Row*) = "owner" -> changelog(rows, ownerSchema)
    // v1 batches, and the same batches as v2 rows (no note)
    def before(schema: StructType): Seq[Map[String, DataFrame]] = {
      def item(offset: Long, id: Long, qty: Long, owner: Long) =
        if (schema == v1Full) Row(offset, Row(id), Row(id, qty, owner))
        else Row(offset, Row(id), Row(id, qty, null, owner))
      Seq(
        Map(items(schema, item(1L, 1L, 10L, 100L), item(2L, 2L, 20L, 100L)),
          owners(Row(1L, Row(100L), Row(100L, "ann")), Row(2L, Row(200L), Row(200L, "bo")))),
        Map(items(schema, item(3L, 2L, 21L, 200L))))
    }
    val after = Seq(
      Map(items(v2Full, Row(4L, Row(1L), Row(1L, 11L, "rushed", 200L)),
        Row(5L, Row(3L), Row(3L, 30L, "fresh", 100L)))),
      Map(items(v2Full, Row(6L, Row(2L), null)),
        owners(Row(7L, Row(100L), Row(100L, "cy")))))
    val expected = new IncrementalDenormalizer(spark, Seq(tree), keys,
      Map("item" -> v2Full, "owner" -> ownerSchema))
    (before(v2Full) ++ after).foreach(expected.processBatch)

    val stateRoot = "file://" +
      java.nio.file.Files.createTempDirectory("graft_schema_rebucket")
    val b1 = new BucketedParquetBackend(spark, stateRoot, buckets = 4)
    val b2 = new BucketedParquetBackend(spark, stateRoot, buckets = 8)
    try {
      val e1 = new IncrementalDenormalizer(spark, Seq(tree), keys,
        Map("item" -> v1Full, "owner" -> ownerSchema), backend = b1)
      before(v1Full).foreach(e1.processBatch)
      val dir = new java.io.File(new java.net.URI(stateRoot))
      def generations = dir.listFiles().toSeq.filter(_.isDirectory)
        .flatMap(t => t.list().toSeq.filter(_.matches("g\\d+")).map(g => s"${t.getName}/$g"))
        .toSet
      def commits = new java.io.File(dir, "_commits").list().toSet.filter(_.forall(_.isDigit))
      val gensBefore = generations
      val commitsBefore = commits

      // restart with the wider item schema and twice the buckets
      val e2 = new IncrementalDenormalizer(spark, Seq(tree), keys,
        Map("item" -> v2Full, "owner" -> ownerSchema), backend = b2)
      e2.recover()
      val written = generations -- gensBefore
      assert(written.size == 1 && written.head.startsWith("snapshot__item/"),
        s"expected one FULL generation of the evolved snapshot, got $written")
      assert(gensBefore.subsetOf(generations), "recover() dropped an adopted generation")
      assert(commits.size == commitsBefore.size + 1, "the evolved snapshot's write is committed")

      after.foreach(e2.processBatch)
      def docs(e: IncrementalDenormalizer) = e.docs("DenormItem").collect().map { r =>
        r.getAs[Array[Byte]]("__pk").toSeq ->
          Option(r.getAs[String]("doc_json")).map(ReferenceFixtures.normalizeJson)
      }.toMap
      assert(docs(e2) == docs(expected))
      assert(graft.streaming.StateOps.verifyState(e2).isEmpty)
    } finally {
      b2.deleteAll(); b1.deleteAll()
    }
  }

  test("a NARROWED field is rejected loudly instead of truncating restored state") {
    val stateRoot = "file://" +
      java.nio.file.Files.createTempDirectory("graft_schema_narrow")
    val b1 = new BucketedParquetBackend(spark, stateRoot, buckets = 4)
    val b2 = new BucketedParquetBackend(spark, stateRoot, buckets = 4)
    try {
      val e1 = new IncrementalDenormalizer(spark, Seq(tree),
        Map("item" -> Seq("id"), "owner" -> Seq("id")),
        Map("item" -> v1Full, "owner" -> ownerSchema), backend = b1)
      e1.processBatch(Map(
        "item" -> changelog(Seq(Row(1L, Row(1L), Row(1L, 10L, 100L))), v1Full),
        "owner" -> changelog(Seq(Row(1L, Row(100L), Row(100L, "ann"))), ownerSchema)))

      // restart declaring qty as INT where the stored state holds LONG:
      // a plain cast would silently truncate; the engine must refuse
      val narrowed = StructType(v1Full.fields.map {
        case f if f.name == "qty" => f.copy(dataType = IntegerType)
        case f => f
      })
      val e2 = new IncrementalDenormalizer(spark, Seq(tree),
        Map("item" -> Seq("id"), "owner" -> Seq("id")),
        Map("item" -> narrowed, "owner" -> ownerSchema), backend = b2)
      val err = intercept[IllegalStateException] {
        e2.recover()
      }
      assert(err.getMessage.contains("schema evolution"), err.getMessage)
    } finally {
      b2.deleteAll(); b1.deleteAll()
    }
  }

  test("a field inserted mid-struct INSIDE AN ARRAY aligns by name, not position") {
    val tagsV1 = StructType(Seq(
      StructField("t", StringType), StructField("n", LongType)))
    // `m` inserted BETWEEN t and n: positional struct Cast would feed
    // old `n` values into `m` and null out `n`
    val tagsV2 = StructType(Seq(
      StructField("t", StringType), StructField("m", StringType),
      StructField("n", LongType)))
    val w1 = v1Full.add(StructField("tags", ArrayType(tagsV1)))
    val w2 = v1Full.add(StructField("tags", ArrayType(tagsV2)))

    val stateRoot = "file://" +
      java.nio.file.Files.createTempDirectory("graft_schema_array")
    val b1 = new BucketedParquetBackend(spark, stateRoot, buckets = 4)
    val b2 = new BucketedParquetBackend(spark, stateRoot, buckets = 4)
    try {
      val e1 = new IncrementalDenormalizer(spark, Seq(tree),
        Map("item" -> Seq("id"), "owner" -> Seq("id")),
        Map("item" -> w1, "owner" -> ownerSchema), backend = b1)
      e1.processBatch(Map(
        "item" -> changelog(Seq(
          Row(1L, Row(1L), Row(1L, 10L, 100L, Seq(Row("alpha", 7L))))), w1),
        "owner" -> changelog(Seq(Row(1L, Row(100L), Row(100L, "ann"))), ownerSchema)))

      val e2 = new IncrementalDenormalizer(spark, Seq(tree),
        Map("item" -> Seq("id"), "owner" -> Seq("id")),
        Map("item" -> w2, "owner" -> ownerSchema), backend = b2)
      e2.recover()

      val tag = e2.snapshot("item").select(col("tags")(0).as("tag"))
        .collect().head.getStruct(0)
      assert(tag.getAs[String]("t") == "alpha")
      assert(tag.isNullAt(tag.fieldIndex("m")), "inserted field must be null")
      assert(tag.getAs[Long]("n") == 7L, "existing field misaligned by position")
    } finally {
      b2.deleteAll(); b1.deleteAll()
    }
  }
}
