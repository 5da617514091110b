package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Bucketed join co-location: joining two tables bucketed on the join
  * key must produce a physical plan with NO shuffle exchange on the
  * bucketed sides — the write-once-shuffle-never contract that makes
  * the denormalization joins scale. */
class BucketingSpec extends SparkSpec {

  private def writeBucketed(df: DataFrame, table: String, key: String, n: Int): Unit =
    df.write.mode(SaveMode.Overwrite).bucketBy(n, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  test("join of co-bucketed tables has no shuffle exchange") {
    val dir = "/root/testdata/sf0.001"
    val o = graft.core.Tables.load(spark, dir, "orders")
    val c = graft.core.Tables.load(spark, dir, "customer")
    writeBucketed(o.withColumnRenamed("o_custkey", "custkey"), "b_orders", "custkey", 8)
    writeBucketed(c.withColumnRenamed("c_custkey", "custkey"), "b_customer", "custkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the assertion really exercises the
      // bucketed sort-merge path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in bucketed join plan:\n$plan")
      // sanity: result matches the plain join
      val expected = o.join(c, o("o_custkey") === c("c_custkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("keyed operators over a DELTA-COMPOSED state table plan no Exchange on the state side") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.graftbridge.PlanBridge
    import org.apache.spark.sql.types._
    import graft.plans.BucketUnionPlan
    val root = "file://" +
      java.nio.file.Files.createTempDirectory("graft_bucket_delta")
    val schema = StructType(Seq(
      StructField("__pk", BinaryType), StructField("v", LongType)))
    def df(pairs: (Int, Long)*): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(
        pairs.map { case (k, v) => Row(Array(k.toByte), v) }: _*), schema)
    val b = new graft.streaming.BucketedParquetBackend(
      spark, root, buckets = 8, compactEvery = 10)
    try {
      b.persist("t", df((1 to 50).map(i => i -> i.toLong): _*), None)
      // two chained deltas — the window where the r7 compose lost the
      // bucket layout and every keyed read re-shuffled the state side
      val c1 = b.persist("t", df(), Some((df(2 -> 200L, 51 -> 510L),
        df(2 -> 0L, 51 -> 0L).select("__pk"))))
      val composed = b.persist("t", df(), Some((df(3 -> 300L),
        df(3 -> 0L, 4 -> 0L).select("__pk"))))
      assert(c1 ne composed)

      // keyed aggregation: partial→final with NO shuffle anywhere
      val agg = composed.groupBy("__pk").count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"delta-composed aggregation re-shuffled the state side:\n$aggPlan")

      // correctness of the same composed view: upserts, insert, delete
      val got = composed.collect()
        .map(r => r.getAs[Array[Byte]]("__pk")(0).toInt -> r.getLong(1)).toMap
      val expect = ((1 to 50).map(i => i -> i.toLong).toMap
        - 4 + (2 -> 200L) + (51 -> 510L) + (3 -> 300L))
      assert(got == expect)
      assert(agg.count() == expect.size)

      // join keyed on the state key against a co-bucketed table: the
      // composed side must not carry an Exchange (probe side may)
      val prevThreshold =
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val probe = df((1 to 10).map(i => i -> 0L): _*)
        val joined = composed.join(probe.withColumnRenamed("v", "pv"), "__pk")
        val jPlan = joined.queryExecution.executedPlan.toString
        // exactly one Exchange: the probe side; the composed chain none
        val exchanges = "Exchange hashpartitioning".r
          .findAllIn(jPlan).size
        assert(exchanges <= 1,
          s"delta-composed join re-shuffled the state side:\n$jPlan")
        assert(joined.count() == 9) // probe 1..10 minus deleted key 4

        // Why BucketUnion stays: Spark 4.1's UnionExec reports its
        // children's common hash partitioning, so the plain-union form of
        // the chain keeps the layout for the keyed aggregate, but the
        // join's inferred IsNotNull(__pk) makes it unknown and both join
        // sides shuffle. When this fails, Spark keeps the layout there and
        // BucketUnion can go.
        val plain = PlanBridge.ofRows(spark, PlanBridge.analyzed(composed).transform {
          case u: BucketUnionPlan => Union(u.left, u.right)
        })
        def exchangesOf(q: DataFrame): Int =
          "Exchange hashpartitioning".r.findAllIn(q.queryExecution.executedPlan.toString).size
        assert(exchangesOf(plain.groupBy("__pk").count()) == 0)
        assert(exchangesOf(plain.join(probe.withColumnRenamed("v", "pv"), "__pk")) == 2,
          "a plain union kept its layout under a join: BucketUnion can go")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      }
    } finally b.deleteAll()
  }

  test("the REAL engine's delta-composed state tables plan no state-side Exchange mid-chain") {
    // Not the synthetic backend table: a live IncrementalDenormalizer
    // over a durable backend, stopped BETWEEN compactions (compactEvery
    // high), so every state table is a base ∪ delta BucketUnion chain —
    // the window where r7's compose lost the layout. Keyed operators
    // over those real composed frames must plan no Exchange on the
    // state side (the probe/broadcast side may carry one).
    import org.apache.spark.sql.types._
    import graft.core.Relation
    import graft.streaming.{BucketedParquetBackend, IncrementalDenormalizer}
    val root = "file://" +
      java.nio.file.Files.createTempDirectory("graft_bucket_engine")
    val tree = Relation.root("DenormAcct", "acct",
      Relation.child("evt", "acct_id", "id"))
    val acctSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val evtSchema = StructType(Seq(
      StructField("eid", LongType), StructField("acct_id", LongType),
      StructField("v", LongType)))
    val backend = new BucketedParquetBackend(spark, root,
      buckets = 8, compactEvery = 100)
    val engine = new IncrementalDenormalizer(spark, Seq(tree),
      Map("acct" -> Seq("id"), "evt" -> Seq("eid")),
      Map("acct" -> acctSchema, "evt" -> evtSchema), backend = backend)
    def evtLog(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("offset"), struct(col("id").as("eid")).as("key"),
      struct(col("id").as("eid"), pmod(col("id"), lit(3L)).as("acct_id"),
        (col("id") * 2).as("v")).as("value"))
    val acctLog = spark.range(3).select(
      col("id").as("offset"), struct(col("id")).as("key"),
      struct(col("id"), concat(lit("a"), col("id")).as("name")).as("value"))
    try {
      engine.processBatch(Map("acct" -> acctLog, "evt" -> evtLog(0, 400)))
      engine.processBatch(Map("evt" -> evtLog(400, 500))) // delta gen
      engine.processBatch(Map("evt" -> evtLog(500, 550))) // second delta
      // every durable state table of the engine, each mid-delta-chain
      val composed = Seq(
        "docs__DenormAcct" -> engine.docs("DenormAcct"),
        "snapshot__evt" -> engine.stateTables("snapshot__evt"))
      composed.foreach { case (name, df) =>
        val keyCol = df.columns.head
        val plan = df.groupBy(keyCol).count()
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"$name re-shuffled on its own key mid-delta-chain:\n$plan")
      }
      // and the composed docs stay correct while doing so
      assert(engine.docs("DenormAcct").where(!col("__deleted")).count() == 3)
      assert(engine.stateTables("snapshot__evt").count() == 550)
    } finally backend.deleteAll()
  }

  test("Filter and Project push through a composed delta chain to the leaf parquet scans") {
    // Uses the spark.sql.extensions session path: injectOptimizerRule
    // places BucketUnionPushdown INSIDE the operator-optimization
    // fixed point, so after it distributes the filter/projection into
    // the compose children, the built-in PushDownPredicates /
    // ColumnPruning carry them through the anti-join levels down to
    // the leaf relations, and FileSourceStrategy turns them into
    // parquet PushedFilters + a pruned ReadSchema.
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import org.apache.spark.sql.types._
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val root = "file://" +
        java.nio.file.Files.createTempDirectory("graft_bucket_push")
      val schema = StructType(Seq(
        StructField("__pk", BinaryType), StructField("v", LongType),
        StructField("w", StringType)))
      def df(pairs: (Int, Long)*): DataFrame = fresh.createDataFrame(
        java.util.Arrays.asList(
          pairs.map { case (k, v) => Row(Array(k.toByte), v, s"w$k") }: _*),
        schema)
      val b = new graft.streaming.BucketedParquetBackend(
        fresh, root, buckets = 4, compactEvery = 10)
      try {
        b.persist("t", df((1 to 50).map(i => i -> i.toLong): _*), None)
        b.persist("t", df(), Some((df(2 -> 200L, 51 -> 510L),
          df(2 -> 0L, 51 -> 0L).select("__pk"))))
        val composed = b.persist("t", df(), Some((df(3 -> 300L),
          df(3 -> 0L, 4 -> 0L).select("__pk"))))

        val q = composed.where(col("v") >= 40L).select("__pk", "v")
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("GreaterThanOrEqual(v,40)"),
          s"filter must reach the parquet scans as a PushedFilter:\n$plan")
        assert(!plan.contains("w:string"),
          s"unreferenced column w must be pruned from every ReadSchema:\n$plan")

        val got = q.collect()
          .map(r => r.getAs[Array[Byte]]("__pk")(0).toInt -> r.getLong(1))
          .toMap
        val expect = ((1 to 50).map(i => i -> i.toLong).toMap
          - 4 + (2 -> 200L) + (51 -> 510L) + (3 -> 300L))
          .filter(_._2 >= 40L)
        assert(got == expect)

        // The rule handles Filter(BU) and Project(BU) as separate
        // cases — the select-THEN-where shape (Filter above Project)
        // must cascade just the same in ONE optimize pass: the built-in
        // PushDownPredicates moves the filter under the projection,
        // then both cases fire level by level. Assert the filter
        // reaches EVERY data leaf of the 2-delta chain (base + 2
        // deltas = 3 scans carrying v) and the pruned ReadSchema
        // reaches every leaf.
        val q2 = composed.select("__pk", "v").where(col("v") >= 40L)
        val plan2 = q2.queryExecution.executedPlan.toString
        val pushed = "GreaterThanOrEqual\\(v,40\\)".r
          .findAllIn(plan2).size
        assert(pushed == 3,
          s"filter must reach all 3 data-leaf scans, found $pushed:\n$plan2")
        assert(!plan2.contains("w:string"),
          s"unreferenced column w must be pruned from every ReadSchema:\n$plan2")
        assert(q2.collect().map(r =>
          r.getAs[Array[Byte]]("__pk")(0).toInt -> r.getLong(1)).toMap == expect)
      } finally b.deleteAll()
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("chain RECOVERED mid-delta composes bucket-aligned: no Exchange on keyed reads, aligned compaction write") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = "file://" +
      java.nio.file.Files.createTempDirectory("graft_bucket_recover")
    val schema = StructType(Seq(
      StructField("__pk", BinaryType), StructField("v", LongType)))
    def df(pairs: (Int, Long)*): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(
        pairs.map { case (k, v) => Row(Array(k.toByte), v) }: _*), schema)
    val expect = ((1 to 50).map(i => i -> i.toLong).toMap
      - 4 + (2 -> 200L) + (51 -> 510L) + (3 -> 300L))
    val b1 = new graft.streaming.BucketedParquetBackend(
      spark, root, buckets = 8, compactEvery = 10)
    // full + two deltas on disk, then "crash": a second backend
    // recovers from the files alone
    b1.persist("t", df((1 to 50).map(i => i -> i.toLong): _*), None)
    b1.persist("t", df(), Some((df(2 -> 200L, 51 -> 510L),
      df(2 -> 0L, 51 -> 0L).select("__pk"))))
    b1.persist("t", df(), Some((df(3 -> 300L),
      df(3 -> 0L, 4 -> 0L).select("__pk"))))
    b1.gc() // the batch commit that recovery reads
    val b2 = new graft.streaming.BucketedParquetBackend(
      spark, root, buckets = 8, compactEvery = 10)
    try {
      val recovered = b2.recover()("t")
      // the recovered compose must carry the bucket layout: a keyed
      // aggregation straight off the recovered chain — BEFORE any
      // post-restart compaction — plans no Exchange (this was the r8
      // gap: restore used plain left_anti+unionByName and re-shuffled
      // the state side on every keyed read until the next compaction)
      val aggPlan =
        recovered.groupBy("__pk").count().queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"recovered chain re-shuffled the state side:\n$aggPlan")
      val got = recovered.collect()
        .map(r => r.getAs[Array[Byte]]("__pk")(0).toInt -> r.getLong(1)).toMap
      assert(got == expect)
      val compacted = b2.persist("t", recovered, None)
      b2.gc() // commits the compaction; b1's chain stays in the kept commit
      val got2 = compacted.collect()
        .map(r => r.getAs[Array[Byte]]("__pk")(0).toInt -> r.getLong(1)).toMap
      assert(got2 == expect)
      val aggPlan2 =
        compacted.groupBy("__pk").count().queryExecution.executedPlan.toString
      assert(!aggPlan2.contains("Exchange hashpartitioning"),
        s"post-recovery compaction lost the bucket layout:\n$aggPlan2")
    } finally { b2.deleteAll(); b1.deleteAll() }
  }
}
