package graft.streaming

import java.util.concurrent.{CountDownLatch, LinkedBlockingDeque, ThreadPoolExecutor, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.Relation

/** The IVM batch plan ([[Waves]]): nodes compose on their inputs instead
  * of waiting for them on a pool thread, and only the driver waits.
  */
class BatchPlanSpec extends SparkSpec {
  import spark.implicits._

  private val tree = Relation.root("Orders", "orders",
    Relation.child("customer", "c_id", "o_cust"))
  private val orderSchema = StructType(Seq(
    StructField("o_id", LongType), StructField("o_cust", LongType)))
  private val customerSchema = StructType(Seq(
    StructField("c_id", LongType), StructField("c_name", StringType)))
  private val keyFields = Map("orders" -> Seq("o_id"), "customer" -> Seq("c_id"))
  private val valueSchemas = Map("orders" -> orderSchema, "customer" -> customerSchema)

  private def orders(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("offset", "o_id", "o_cust").select(col("offset"),
      struct(col("o_id")).as("key"), struct(col("o_id"), col("o_cust")).as("value"))
  private def customers(rows: (Long, Long, String)*): DataFrame =
    rows.toDF("offset", "c_id", "c_name").select(col("offset"),
      struct(col("c_id")).as("key"), struct(col("c_id"), col("c_name")).as("value"))

  test("queued batches complete on ONE pool thread that runs the newest task first") {
    // The old wave pool blocked a pool thread on the previous batch's
    // rootmaps and was deadlock-free only as a FIFO pool. A one-thread
    // LIFO pool runs each batch's dirty set before the rebuild it reads
    // whenever both are queued, which would hang a blocking design.
    val lifo = new ThreadPoolExecutor(1, 1, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingDeque[Runnable]() {
        override def take(): Runnable = takeLast()
        override def poll(t: Long, u: TimeUnit): Runnable = pollLast(t, u)
      })
    val saved = Waves.pool
    Waves.pool = ExecutionContext.fromExecutorService(lifo)
    try {
      val engine = new IncrementalDenormalizer(spark, Seq(tree), keyFields, valueSchemas)
      val run = Future {
        (1 to 4).foreach { i =>
          engine.processBatch(Map(
            "orders" -> orders((i * 10L, i.toLong, i % 2L), (i * 10L + 1, 1L, (i + 1) % 2L)),
            "customer" -> customers((i * 10L + 2, i % 2L, s"c$i"))))
        }
        engine.docs("Orders").where(!col("__deleted"))
          .select(get_json_object(col("doc_json"), "$.Record.o_id").cast(LongType),
            get_json_object(col("doc_json"), "$.Children.customer[0].Record.c_name"))
          .as[(Long, String)].collect().toMap
      }(ExecutionContext.global)
      // orders 1..4; order 1 last moved to customer 1, renamed c3 in batch 3
      assert(Await.result(run, 5.minutes) ==
        Map(1L -> "c3", 2L -> "c4", 3L -> "c3", 4L -> "c4"))
      assert(engine.counters("batches") == 4L)
    } finally {
      Waves.pool = saved
      lifo.shutdown()
    }
  }

  /** A running `StreamRunner` query over one batch (an order and its
    * customer) whose persist of the first table named `blocked…` waits
    * for `release`; `inPersist` opens when it starts and `persisted`
    * holds once it has returned. */
  private class BlockedRun(blocked: String) {
    val inPersist = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var persisted = false
    private val backend = new StateBackend {
      val durable = false
      def persist(name: String, df: DataFrame): DataFrame =
        if (!name.startsWith(blocked)) StateBackend.Memory.persist(name, df)
        else {
          inPersist.countDown()
          release.await()
          val out = StateBackend.Memory.persist(name, df)
          persisted = true
          out
        }
    }
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val stream = MemoryStream[(String, Long, String, String)]
    stream.addData(Seq(
      ("orders", 1L, """{"o_id":1}""", """{"o_id":1,"o_cust":7}"""),
      ("customer", 2L, """{"c_id":7}""", """{"c_id":7,"c_name":"a"}""")))
    val (engine, query) = StreamRunner.start(spark,
      stream.toDF().toDF("entity", "offset", "key_json", "value_json"),
      Seq(tree), keyFields,
      Map("orders" -> StructType(Seq(orderSchema("o_id"))),
        "customer" -> StructType(Seq(customerSchema("c_id")))),
      valueSchemas, backend = backend, trigger = Trigger.ProcessingTime(50))
  }

  test("stopping the query with a rebuild in flight: the next read lands it or names it") {
    val run = new BlockedRun("rootmap__")
    import run.{engine, query}
    try {
      // batch 0's foreachBatch returned with its rootmap persist in flight
      assert(run.inPersist.await(2, TimeUnit.MINUTES))
      val deadline = System.nanoTime() + 2L * 60 * 1000 * 1000 * 1000
      while (query.recentProgress.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(query.recentProgress.nonEmpty)
      query.stop()
    } finally run.release.countDown()
    val next = Await.result(Future(Try(engine.counters))(ExecutionContext.global), 3.minutes)
    // stop() cancels the query's job group, but only the jobs running at
    // that moment: the blocked persist starts its job after it, so the
    // rebuild lands and the read returns once it has. Were it cancelled,
    // the read would have to fail naming batch 1's rootmap table.
    next.failed.foreach(e => assert(
      e.getMessage.contains("batch 1") && e.getMessage.contains("rootmap__"), e.getMessage))
    val c = next.get
    assert(c("batches") == 1L && c("docs_written") == 1L)
    assert(engine.docs("Orders").count() == 1L) // and nothing surfaces later
  }

  test("stopping the query during a delta wave: stop() returns after the wave lands") {
    val run = new BlockedRun("snapshot__orders")
    import run.{engine, query}
    try {
      // the micro-batch thread is in processBatch, waiting for the wave;
      // stop() interrupts it
      assert(run.inPersist.await(2, TimeUnit.MINUTES))
      Future { Thread.sleep(2000); run.release.countDown() }(ExecutionContext.global)
      query.stop()
      assert(run.persisted, "stop() returned while a delta-wave node still ran")
    } finally run.release.countDown()
    // the interrupted batch left no state, so a replay redoes all of it
    assert(engine.counters("batches") == 1L)
    assert(engine.snapshot("orders").count() == 0L)
  }
}
