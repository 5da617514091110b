package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.core.Relation
import graft.streaming.{IncrementalDenormalizer, StateBackend}

/** The IVM engine's own session: its micro-batch plans run interpreted
  * in a clone of the caller's session, and its wave-pool jobs carry the
  * submitting batch's local properties.
  */
class IvmSessionSpec extends SparkSpec {
  import spark.implicits._

  private def orders(rows: (Long, Long, Long, Long)*): DataFrame =
    rows.toDF("offset", "o_id", "o_cust", "o_total").select(col("offset"),
      struct(col("o_id")).as("key"),
      struct(col("o_id"), col("o_cust"), col("o_total")).as("value"))

  private def customers(rows: (Long, Long, String)*): DataFrame =
    rows.toDF("offset", "c_id", "c_name").select(col("offset"),
      struct(col("c_id")).as("key"), struct(col("c_id"), col("c_name")).as("value"))

  private def schemaOf(df: DataFrame): StructType =
    df.schema("value").dataType.asInstanceOf[StructType]

  private val orderSchema = schemaOf(orders((0L, 0L, 0L, 0L)))
  private val customerSchema = schemaOf(customers((0L, 0L, "")))

  private def orderTombstone(offset: Long, id: Long): DataFrame =
    Seq((offset, id)).toDF("offset", "o_id").select(col("offset"),
      struct(col("o_id")).as("key"), lit(null).cast(orderSchema).as("value"))

  /** Batch `i`: two order upserts (one flips its customer), a customer
    * update and, from batch 3 on, a tombstone of an earlier order. The
    * frames are built eagerly, before any measurement. */
  private def batch(i: Int): Map[String, DataFrame] = {
    val base = i * 10L
    val upserts = orders((base + 1, i.toLong, i % 3L, 10L * i),
      (base + 2, 1L, (i + 1) % 3L, 7L))
    Map(
      "orders" ->
        (if (i < 3) upserts else upserts.unionByName(orderTombstone(base + 3, i - 2L))),
      "customer" -> customers((base + 4, i % 3L, s"c$i")))
  }

  private def newEngine(
      backend: StateBackend = StateBackend.Memory): IncrementalDenormalizer =
    new IncrementalDenormalizer(spark,
      Seq(Relation.root("Orders", "orders",
        Relation.child("customer", "c_id", "o_cust"))),
      Map("orders" -> Seq("o_id"), "customer" -> Seq("c_id")),
      Map("orders" -> orderSchema, "customer" -> customerSchema),
      backend = backend)

  test("micro-batches after the first compile no code; the caller's session keeps codegen") {
    val wholeStage = SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key
    val factoryMode = SQLConf.CODEGEN_FACTORY_MODE.key
    val callerConf = () => (spark.conf.get(wholeStage), spark.conf.get(factoryMode))
    val before = callerConf()
    val batches = (1 to 6).map(batch)
    val engine = newEngine()
    assert(engine.session.conf.get(wholeStage) == "false")
    assert(engine.session.conf.get(factoryMode) == "NO_CODEGEN")
    engine.processBatch(batches.head)
    engine.counters // drains every async wave of the batch
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    batches.zipWithIndex.tail.foreach { case (b, i) =>
      engine.processBatch(b)
      engine.counters
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        s"batch ${i + 1} compiled generated code")
    }
    assert(callerConf() == before)
    // orders 1..6 were upserted; 1..4 tombstoned by batches 3..6, but
    // order 1 is re-upserted by every batch
    assert(engine.docs("Orders").where(!col("__deleted")).count() == 3L)
  }

  test("wave-pool jobs carry the submitting batch's job description and group") {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        starts.add((p.map(_.getProperty("spark.job.description")).orNull,
          p.map(_.getProperty("spark.jobGroup.id")).orNull))
      }
    }
    val batches = (1 to 4).map(batch)
    sc.addSparkListener(listener)
    try {
      val engine = newEngine()
      batches.zipWithIndex.foreach { case (b, i) =>
        val n = i + 1
        sc.setJobGroup(s"ivm-batch-$n", s"batch = $n")
        engine.processBatch(b)
        engine.counters // every job of batch n has started before the marker
        // listener events arrive in submission order: the marker closes
        // batch n's window
        sc.setJobGroup(s"marker-$n", "marker")
        spark.range(1).count()
      }
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!starts.asScala.exists(_._2 == "marker-4") && System.nanoTime() < deadline)
        Thread.sleep(50)
      var n = 1
      var jobsOfBatch = Map.empty[Int, Int]
      starts.asScala.takeWhile(_._2 != "marker-4").foreach {
        case (_, g) if g == s"marker-$n" => n += 1
        case (_, g) if g != null && g.startsWith("marker-") => ()
        case (d, g) =>
          assert((d, g) == (s"batch = $n", s"ivm-batch-$n"),
            s"a job run during batch $n carries ($d, $g)")
          jobsOfBatch = jobsOfBatch.updated(n, jobsOfBatch.getOrElse(n, 0) + 1)
      }
      assert(n == 4 && (1 to 4).forall(jobsOfBatch.getOrElse(_, 0) > 1), jobsOfBatch)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("queued batches' rebuild persists carry their own batch's job group") {
    // no drain between batches: batch i's rebuild nodes may start after
    // batch i+1 has, dispatched by the pool thread that finished their
    // inputs, and must still carry batch i's group
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val recording = new StateBackend {
      val durable = false
      def persist(name: String, df: DataFrame): DataFrame = {
        if (name.startsWith("rootmap__")) groups.add(sc.getLocalProperty("spark.jobGroup.id"))
        StateBackend.Memory.persist(name, df)
      }
    }
    val batches = (1 to 4).map(batch)
    val engine = newEngine(recording)
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        sc.setJobGroup(s"ivm-batch-${i + 1}", s"batch = ${i + 1}")
        engine.processBatch(b)
      }
      sc.clearJobGroup()
      engine.counters
      // one edge, so one rootmap persist per rebuild, in batch order
      assert(groups.asScala.toSeq == (1 to 4).map(i => s"ivm-batch-$i"))
    } finally sc.clearJobGroup()
  }

  test("an async rebuild failure names its state table and batch") {
    // the second rootmap persist (batch 2's rebuild) fails in the pool;
    // the next call that awaits it must say where it came from
    val rootmaps = new java.util.concurrent.atomic.AtomicInteger()
    val failing = new StateBackend {
      val durable = false
      def persist(name: String, df: DataFrame): DataFrame =
        if (name.startsWith("rootmap__") && rootmaps.incrementAndGet() == 2)
          throw new RuntimeException("boom")
        else StateBackend.Memory.persist(name, df)
    }
    val engine = newEngine(failing)
    engine.processBatch(batch(1))
    engine.counters
    engine.processBatch(batch(2))
    val e = intercept[Exception](engine.counters)
    assert(e.getMessage.contains("rootmap__") && e.getMessage.contains("batch 2"),
      e.getMessage)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "boom"))
  }
}
