package graft

import org.apache.spark.sql.functions._

import graft.core.Relation
import graft.streaming.{BucketedParquetBackend, IncrementalDenormalizer, QueueingStrategy}

/** Priority drain semantics (reference Southpaw.java:600-637): HIGH
  * rebuilds ride the same batch, MEDIUM defers until a row-count
  * trigger, LOW drains only every Nth batch, NONE drops — observable
  * as intermediate document staleness. Plus the per-batch engine
  * counters accumulated from observe metrics.
  */
class PrioritySpec extends SparkSpec {
  import spark.implicits._

  private def changelog(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("offset", "id", "qty")
      .select(col("offset"), struct(col("id")).as("key"),
        struct(col("id"), col("qty")).as("value"))

  private val valueSchema = changelog(Seq((1L, 1L, 1L))).schema("value")
    .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]

  private def prio(f: (String, String) => QueueingStrategy.Priority): QueueingStrategy =
    new QueueingStrategy {
      override def priority(name: String, entity: String) = f(name, entity)
    }

  private def liveDocs(e: IncrementalDenormalizer, tree: String): Long =
    e.docs(tree).where(!col("__deleted")).count()

  test("HIGH drains immediately while LOW stays deferred (per-tree)") {
    val trees = Seq(
      Relation.root("Hot", "item"),
      Relation.root("Cold", "item"))
    val engine = new IncrementalDenormalizer(spark, trees,
      Map("item" -> Seq("id")), Map("item" -> valueSchema),
      strategy = prio((name, _) =>
        if (name == "Hot") QueueingStrategy.High else QueueingStrategy.Low),
      lowDrainEvery = 2)
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    assert(liveDocs(engine, "Hot") == 1)  // HIGH: rebuilt this batch
    assert(liveDocs(engine, "Cold") == 0) // LOW: deferred (batch 1 of 2)
    // next batch hits the low-drain cadence; the deferred root rebuilds
    // from CURRENT state (staleness, not loss)
    engine.processBatch(Map.empty)
    assert(liveDocs(engine, "Cold") == 1)
  }

  test("a LOW drain commits the emptied backlog on the durable backend") {
    val root = "file://" + java.nio.file.Files.createTempDirectory("graft-drain")
    def engine(b: BucketedParquetBackend) = new IncrementalDenormalizer(spark,
      Seq(Relation.root("Hot", "item"), Relation.root("Cold", "item")),
      Map("item" -> Seq("id")), Map("item" -> valueSchema),
      strategy = prio((name, _) =>
        if (name == "Hot") QueueingStrategy.High else QueueingStrategy.Low),
      lowDrainEvery = 2, backend = b)
    val first = new BucketedParquetBackend(spark, root, buckets = 2)
    val second = new BucketedParquetBackend(spark, root, buckets = 2)
    try {
      val e1 = engine(first)
      e1.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L))))) // commit 1
      e1.processBatch(Map.empty) // commit 2: the drain batch
      assert(liveDocs(e1, "Cold") == 1)
      assert(BucketedParquetBackend.asOf(spark, root, 1)("pending_low__Cold").count() == 1)
      assert(BucketedParquetBackend.asOf(spark, root, 2)("pending_low__Cold").count() == 0)
      // a restart after the drain's commit does not drain root 1 again
      val e2 = engine(second)
      e2.recover()
      e2.processBatch(Map.empty)
      e2.processBatch(Map.empty) // the recovered engine's first drain
      assert(e2.counters("docs_written") == 0L)
      assert(e2.changedDocs("Cold").isEmpty)
      assert(liveDocs(e2, "Cold") == 1)
    } finally { second.deleteAll(); first.deleteAll() }
  }

  test("MEDIUM defers until the row-count trigger") {
    val engine = new IncrementalDenormalizer(spark,
      Seq(Relation.root("Docs", "item")),
      Map("item" -> Seq("id")), Map("item" -> valueSchema),
      mediumTriggerRows = 3L)
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L), (2L, 2L, 20L)))))
    assert(liveDocs(engine, "Docs") == 0) // 2 pending < trigger 3
    engine.processBatch(Map("item" -> changelog(Seq((3L, 3L, 30L), (4L, 4L, 40L)))))
    assert(liveDocs(engine, "Docs") == 4) // 4 ≥ 3 → full drain
  }

  test("default strategy (allMedium, trigger 0) drains every batch — unchanged semantics") {
    val engine = new IncrementalDenormalizer(spark,
      Seq(Relation.root("Docs", "item")),
      Map("item" -> Seq("id")), Map("item" -> valueSchema))
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    assert(liveDocs(engine, "Docs") == 1)
  }

  test("counters accumulate from observe metrics riding the batch jobs") {
    val engine = new IncrementalDenormalizer(spark,
      Seq(Relation.root("Docs", "item")),
      Map("item" -> Seq("id")), Map("item" -> valueSchema))
    // 3 changes over 2 keys, then a tombstone for one of them
    engine.processBatch(Map("item" ->
      changelog(Seq((1L, 1L, 10L), (2L, 1L, 11L), (3L, 2L, 20L)))))
    engine.processBatch(Map("item" ->
      changelog(Seq((4L, 2L, 21L))).withColumn("value",
        lit(null).cast(valueSchema))))
    val c = engine.counters
    assert(c("batches") == 2L)
    assert(c("records_consumed") == 4L)
    assert(c("delta_keys") == 3L) // keys {1,2} batch 1, {2} batch 2
    assert(c("docs_written") == 2L) // batch 1 materialized roots 1 and 2
    assert(c("docs_tombstoned") == 1L) // batch 2 tombstoned root 2
  }

  test("NONE drops are counted, not rebuilt") {
    val engine = new IncrementalDenormalizer(spark,
      Seq(Relation.root("Docs", "item")),
      Map("item" -> Seq("id")), Map("item" -> valueSchema),
      strategy = prio((_, _) => QueueingStrategy.None))
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    assert(liveDocs(engine, "Docs") == 0)
    assert(engine.counters("rebuilds_dropped_none") == 1L)
    // state still advances (snapshots fold regardless of shedding)
    assert(engine.snapshot("item").count() == 1L)
  }
}
