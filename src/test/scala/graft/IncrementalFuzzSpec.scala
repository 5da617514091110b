package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Relation
import graft.operators.{Compaction, Denormalize}
import graft.streaming.IncrementalDenormalizer

/** Randomized IVM convergence (SURVEY §7.2 item 5's "random op-log
  * replay"): a seeded random operation log — upserts, deletes, and FK
  * flips against a two-entity tree — replayed through the incremental
  * engine in random chunkings must converge to the from-scratch batch
  * compilation of the same log. Fixtures exercise the reference's
  * scripted interleavings; this sweeps the interaction space they
  * don't (delete-then-reinsert across batch boundaries, FK flips of
  * children whose parent is itself churning, keys touched many times
  * inside one batch). Seeds are FIXED — failures reproduce exactly.
  */
class IncrementalFuzzSpec extends SparkSpec {

  private val parentSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val childSchema = StructType(Seq(
    StructField("id", LongType), StructField("pid", LongType),
    StructField("v", LongType)))

  private val tree = Relation.root("FuzzDoc", "parent",
    Relation.child("child", "pid", "id"))
  private val keyFields = Map("parent" -> Seq("id"), "child" -> Seq("id"))
  private val valueSchemas = Map("parent" -> parentSchema, "child" -> childSchema)

  /** One entity's random op log as changelog rows (offset, key, value). */
  private def opLog(rnd: scala.util.Random, entity: String, nOps: Int,
      keySpace: Long): Seq[Row] =
    (0 until nOps).map { i =>
      val id = 1L + rnd.nextInt(keySpace.toInt)
      val delete = rnd.nextDouble() < 0.25
      val value: Row =
        if (delete) null
        else if (entity == "parent") Row(id, s"p$id-v$i")
        else Row(id, 1L + rnd.nextInt(10), rnd.nextLong(1000))
      Row(i.toLong, Row(id), value)
    }

  private def changelogDf(rows: Seq[Row], valueSchema: StructType): DataFrame = {
    val schema = StructType(Seq(
      StructField("offset", LongType),
      StructField("key", StructType(Seq(StructField("id", LongType)))),
      StructField("value", valueSchema)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Random split points → offset-ordered chunks (order preserved). */
  private def chunk(rnd: scala.util.Random, rows: Seq[Row], nChunks: Int): Seq[Seq[Row]] = {
    val cuts = Seq.fill(nChunks - 1)(rnd.nextInt(rows.size + 1)).sorted
    (0L +: cuts.map(_.toLong) :+ rows.size.toLong).sliding(2).map {
      case Seq(a, b) => rows.slice(a.toInt, b.toInt)
    }.toSeq
  }

  private def liveDocs(df: DataFrame): Map[Long, Any] =
    df.collect().map { r =>
      BigInt(1, r.getAs[Array[Byte]]("__pk")).toLong ->
        ReferenceFixtures.normalizeJson(r.getAs[String]("doc_json"))
    }.toMap

  for (seed <- Seq(42, 1337, 20260813)) {
    test(s"random op-log chunked replay converges to batch compilation (seed=$seed)") {
      val rnd = new scala.util.Random(seed)
      val parentLog = opLog(rnd, "parent", 60, 10)
      val childLog = opLog(rnd, "child", 140, 30)

      // incremental: replay in random chunkings (different per entity)
      val engine = new IncrementalDenormalizer(
        spark, Seq(tree), keyFields, valueSchemas)
      val pChunks = chunk(rnd, parentLog, 1 + rnd.nextInt(6))
      val cChunks = chunk(rnd, childLog, pChunks.size)
      pChunks.zip(cChunks).foreach { case (p, c) =>
        val batch = Seq(
          "parent" -> (if (p.nonEmpty) Some(changelogDf(p, parentSchema)) else None),
          "child" -> (if (c.nonEmpty) Some(changelogDf(c, childSchema)) else None)
        ).collect { case (e, Some(df)) => e -> df }.toMap
        if (batch.nonEmpty) engine.processBatch(batch)
      }
      val incr = liveDocs(engine.docs("FuzzDoc").where(!col("__deleted")))

      // batch oracle: compact the FULL logs, compile from scratch
      val snapshots = Map(
        "parent" -> Compaction.snapshot(Compaction.compact(
          changelogDf(parentLog, parentSchema), "parent", Seq("id"))),
        "child" -> Compaction.snapshot(Compaction.compact(
          changelogDf(childLog, childSchema), "child", Seq("id"))))
      val batchDocs = liveDocs(
        Denormalize.documents(tree, snapshots, keyFields)
          .select(col("__pk"), col("doc_json")))

      assert(incr.keySet == batchDocs.keySet,
        s"seed=$seed live keys differ: incrOnly=${incr.keySet.diff(batchDocs.keySet)} " +
          s"batchOnly=${batchDocs.keySet.diff(incr.keySet)}")
      incr.foreach { case (k, doc) =>
        assert(doc == batchDocs(k), s"seed=$seed doc $k diverged:\n incr: $doc\n batch: ${batchDocs(k)}")
      }
      // and the indices stay internally consistent after the churn
      assert(graft.streaming.StateOps.verifyState(engine).isEmpty,
        s"seed=$seed index invariants violated")
    }
  }

  // Self-referential tree (emp → emp on manager id): every change
  // fans out through BOTH roles the entity holds — its own document
  // and the child lists of old/new managers — under random upserts,
  // deletes, and manager flips across random batch boundaries.
  for (seed <- Seq(11, 4242)) {
    test(s"self-referential random op-log converges to batch compilation (seed=$seed)") {
      val empSchema = StructType(Seq(
        StructField("id", LongType), StructField("mgr", LongType),
        StructField("v", LongType)))
      val empTree = Relation.root("FuzzEmp", "emp",
        Relation.child("emp", "mgr", "id"))
      val kf = Map("emp" -> Seq("id"))
      val rnd = new scala.util.Random(seed)
      val log: Seq[Row] = (0 until 120).map { i =>
        val id = 1L + rnd.nextInt(15)
        val value: Row =
          if (rnd.nextDouble() < 0.2) null
          else Row(id, 1L + rnd.nextInt(15), rnd.nextLong(100))
        Row(i.toLong, Row(id), value)
      }
      val engine = new IncrementalDenormalizer(
        spark, Seq(empTree), kf, Map("emp" -> empSchema))
      chunk(rnd, log, 1 + rnd.nextInt(5)).foreach { c =>
        if (c.nonEmpty)
          engine.processBatch(Map("emp" -> changelogDf(c, empSchema)))
      }
      val incr = liveDocs(engine.docs("FuzzEmp").where(!col("__deleted")))
      val snapshot = Compaction.snapshot(Compaction.compact(
        changelogDf(log, empSchema), "emp", Seq("id")))
      val batchDocs = liveDocs(
        Denormalize.documents(empTree, Map("emp" -> snapshot), kf)
          .select(col("__pk"), col("doc_json")))
      assert(incr.keySet == batchDocs.keySet,
        s"seed=$seed keys differ: incrOnly=${incr.keySet.diff(batchDocs.keySet)} " +
          s"batchOnly=${batchDocs.keySet.diff(incr.keySet)}")
      incr.foreach { case (k, doc) =>
        assert(doc == batchDocs(k), s"seed=$seed doc $k diverged:\n incr: $doc\n batch: ${batchDocs(k)}")
      }
      assert(graft.streaming.StateOps.verifyState(engine).isEmpty)
    }
  }

  // Diamond tree (detail under TWO edges with different FKs: root ←
  // mid ← detail.left_id and root ← detail.right_id): every change
  // must fan out through each edge independently under random churn.
  for (seed <- Seq(23, 777)) {
    test(s"diamond-edge random op-log converges to batch compilation (seed=$seed)") {
      val rootS = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))
      val midS = StructType(Seq(
        StructField("id", LongType), StructField("root_id", LongType)))
      val detS = StructType(Seq(
        StructField("id", LongType), StructField("left_id", LongType),
        StructField("right_id", LongType), StructField("v", LongType)))
      val dTree = Relation.root("FuzzDiamond", "root",
        Relation.child("mid", "root_id", "id",
          Relation.child("detail", "left_id", "id")),
        Relation.child("detail", "right_id", "id"))
      val kf = Map("root" -> Seq("id"), "mid" -> Seq("id"), "detail" -> Seq("id"))
      val rnd = new scala.util.Random(seed)
      def log(n: Int, keys: Int, mk: Long => Row): Seq[Row] =
        (0 until n).map { i =>
          val id = 1L + rnd.nextInt(keys)
          Row(i.toLong, Row(id),
            if (rnd.nextDouble() < 0.2) null else mk(id))
        }
      val rootLog = log(30, 6, id => Row(id, s"r$id"))
      val midLog = log(50, 10, id => Row(id, 1L + rnd.nextInt(6)))
      val detLog = log(90, 20,
        id => Row(id, 1L + rnd.nextInt(10), 1L + rnd.nextInt(6), rnd.nextLong(50)))

      val engine = new IncrementalDenormalizer(spark, Seq(dTree), kf,
        Map("root" -> rootS, "mid" -> midS, "detail" -> detS))
      val n = 1 + rnd.nextInt(5)
      val (rc, mc, dc) = (chunk(rnd, rootLog, n), chunk(rnd, midLog, n), chunk(rnd, detLog, n))
      (0 until n).foreach { i =>
        val batch = Seq(
          "root" -> rc(i), "mid" -> mc(i), "detail" -> dc(i)
        ).collect { case (e, rows) if rows.nonEmpty =>
          e -> changelogDf(rows, Map("root" -> rootS, "mid" -> midS, "detail" -> detS)(e))
        }.toMap
        if (batch.nonEmpty) engine.processBatch(batch)
      }
      val incr = liveDocs(engine.docs("FuzzDiamond").where(!col("__deleted")))
      val snaps = Map(
        "root" -> Compaction.snapshot(Compaction.compact(changelogDf(rootLog, rootS), "root", Seq("id"))),
        "mid" -> Compaction.snapshot(Compaction.compact(changelogDf(midLog, midS), "mid", Seq("id"))),
        "detail" -> Compaction.snapshot(Compaction.compact(changelogDf(detLog, detS), "detail", Seq("id"))))
      val batchDocs = liveDocs(
        Denormalize.documents(dTree, snaps, kf)
          .select(col("__pk"), col("doc_json")))
      assert(incr.keySet == batchDocs.keySet,
        s"seed=$seed keys differ: incrOnly=${incr.keySet.diff(batchDocs.keySet)} " +
          s"batchOnly=${batchDocs.keySet.diff(incr.keySet)}")
      incr.foreach { case (k, doc) =>
        assert(doc == batchDocs(k), s"seed=$seed doc $k diverged:\n incr: $doc\n batch: ${batchDocs(k)}")
      }
      assert(graft.streaming.StateOps.verifyState(engine).isEmpty)
    }
  }

  // The same convergence law through the DURABLE backend: random
  // chunkings build real delta-generation chains (compactEvery=3 means
  // chains of full+deltas AND periodic compactions both occur), and a
  // mid-replay engine handoff recovers purely from the composed
  // on-disk generations before finishing — restarts must be invisible
  // in the result for ANY op interleaving, not just the scripted
  // fixtures (DurableStateSpec) and the q_incr_durable gate shape.
  for (seed <- Seq(7, 99)) {
    test(s"durable delta-generation replay with mid-replay restart converges (seed=$seed)") {
      import graft.streaming.BucketedParquetBackend
      val rnd = new scala.util.Random(seed)
      val parentLog = opLog(rnd, "parent", 40, 8)
      val childLog = opLog(rnd, "child", 90, 20)
      val stateRoot = "file://" +
        java.nio.file.Files.createTempDirectory("graft_fuzz_durable")
      def newEngine(b: BucketedParquetBackend) = new IncrementalDenormalizer(
        spark, Seq(tree), keyFields, valueSchemas, backend = b)
      val b1 = new BucketedParquetBackend(spark, stateRoot, buckets = 4, compactEvery = 3)
      val b2 = new BucketedParquetBackend(spark, stateRoot, buckets = 4, compactEvery = 3)
      try {
        val nChunks = 4 + rnd.nextInt(3)
        val pChunks = chunk(rnd, parentLog, nChunks)
        val cChunks = chunk(rnd, childLog, nChunks)
        val restartAt = 1 + rnd.nextInt(nChunks - 1)
        var engine = newEngine(b1)
        pChunks.zip(cChunks).zipWithIndex.foreach { case ((p, c), i) =>
          if (i == restartAt) {
            // handoff: a second engine adopts the committed
            // generations only (delta chains compose from disk)
            engine = newEngine(b2)
            engine.recover()
          }
          val batch = Seq(
            "parent" -> (if (p.nonEmpty) Some(changelogDf(p, parentSchema)) else None),
            "child" -> (if (c.nonEmpty) Some(changelogDf(c, childSchema)) else None)
          ).collect { case (e, Some(df)) => e -> df }.toMap
          if (batch.nonEmpty) engine.processBatch(batch)
        }
        val incr = liveDocs(engine.docs("FuzzDoc").where(!col("__deleted")))

        val snapshots = Map(
          "parent" -> Compaction.snapshot(Compaction.compact(
            changelogDf(parentLog, parentSchema), "parent", Seq("id"))),
          "child" -> Compaction.snapshot(Compaction.compact(
            changelogDf(childLog, childSchema), "child", Seq("id"))))
        val batchDocs = liveDocs(
          Denormalize.documents(tree, snapshots, keyFields)
            .select(col("__pk"), col("doc_json")))

        assert(incr.keySet == batchDocs.keySet,
          s"seed=$seed restartAt=$restartAt live keys differ: " +
            s"incrOnly=${incr.keySet.diff(batchDocs.keySet)} " +
            s"batchOnly=${batchDocs.keySet.diff(incr.keySet)}")
        incr.foreach { case (k, doc) =>
          assert(doc == batchDocs(k),
            s"seed=$seed restartAt=$restartAt doc $k diverged:\n incr: $doc\n batch: ${batchDocs(k)}")
        }
        assert(graft.streaming.StateOps.verifyState(engine).isEmpty,
          s"seed=$seed index invariants violated after durable replay")
      } finally {
        b2.deleteAll(); b1.deleteAll()
      }
    }
  }
}
