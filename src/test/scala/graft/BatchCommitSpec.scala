package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.Relation
import graft.streaming.{BucketedParquetBackend, IncrementalDenormalizer, StateBackend}

/** One commit per batch in [[BucketedParquetBackend]]: a batch that dies
  * between its table writes recovers as the batch before it, whole, and
  * the commits it keeps each read back as the state of their batch. */
class BatchCommitSpec extends SparkSpec {

  private val parentSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val childSchema = StructType(Seq(
    StructField("id", LongType), StructField("pid", LongType)))

  private val tree = Relation.root("CrashDoc", "parent",
    Relation.child("child", "pid", "id"))

  private def newEngine(backend: StateBackend, session: SparkSession = spark) =
    new IncrementalDenormalizer(
      session, Seq(tree), Map("parent" -> Seq("id"), "child" -> Seq("id")),
      Map("parent" -> parentSchema, "child" -> childSchema), backend = backend)

  private def changelog(schema: StructType, values: Row*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(values.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, Row(v.getLong(0)), v)
      }: _*),
      StructType(Seq(
        StructField("offset", LongType),
        StructField("key", StructType(Seq(StructField("id", LongType)))),
        StructField("value", schema))))

  /** Parents 1 and 2, child 10 under parent 1, child 11 under parent 2. */
  private def batch1 = Map(
    "parent" -> changelog(parentSchema, Row(1L, "p1"), Row(2L, "p2")),
    "child" -> changelog(childSchema, Row(10L, 1L), Row(11L, 2L)))
  /** Child 10 moves to parent 2. */
  private def batch2 = Map("child" -> changelog(childSchema, Row(10L, 2L)))
  /** Parent 1 is renamed; child 12 joins it. */
  private def batch3 = Map(
    "parent" -> changelog(parentSchema, Row(1L, "p1b")),
    "child" -> changelog(childSchema, Row(12L, 1L)))

  private def docsOf(docs: DataFrame): Map[Long, Option[Any]] =
    docs.collect().map { r =>
      BigInt(1, r.getAs[Array[Byte]]("__pk")).toLong ->
        Option(r.getAs[String]("doc_json")).map(ReferenceFixtures.normalizeJson)
    }.toMap

  /** Structural rows (binary keys value-compared). */
  private def contents(df: DataFrame): Set[Any] = {
    def comparable(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq.map(comparable)
      case s: Seq[_] => s.map(comparable)
      case x => x
    }
    df.collect().map(comparable).toSet
  }

  private def tempRoot(prefix: String) =
    "file://" + java.nio.file.Files.createTempDirectory(prefix)

  /** Every file and directory under `root`, relative to it. */
  private def listing(root: String): Set[String] = {
    val dir = java.nio.file.Paths.get(new java.net.URI(root))
    val all = java.nio.file.Files.walk(dir)
    try all.iterator().asScala.map(p => dir.relativize(p).toString).toSet
    finally all.close()
  }

  /** Delegates to `inner`; once armed, throws from the first `rootmap__`
    * or `docs__` persist on, so the batch's snapshot and link writes
    * land and its rebuild does not. */
  private final class CrashingBackend(inner: StateBackend) extends StateBackend {
    @volatile var armed = false
    @volatile private var crashed = false
    def durable: Boolean = inner.durable
    def persist(name: String, df: DataFrame): DataFrame = persist(name, df, None)
    override def persist(name: String, df: DataFrame,
        delta: Option[(DataFrame, DataFrame)]): DataFrame = {
      if (armed && (crashed || name.startsWith("rootmap__") || name.startsWith("docs__"))) {
        crashed = true
        throw new IllegalStateException(s"crash before persisting $name")
      }
      inner.persist(name, df, delta)
    }
    override def gc(): Unit = inner.gc()
  }

  test("a crash in the middle of a batch recovers the batch before it, and the replay matches an uninterrupted run") {
    val expected = newEngine(StateBackend.Memory)
    expected.processBatch(batch1)
    expected.processBatch(batch2)

    val root = tempRoot("graft_crash")
    val b1 = new BucketedParquetBackend(spark, root, buckets = 2)
    val b2 = new BucketedParquetBackend(spark, root, buckets = 2)
    try {
      val crashing = new CrashingBackend(b1)
      val e1 = newEngine(crashing)
      e1.processBatch(batch1)
      crashing.armed = true
      intercept[Exception](e1.processBatch(batch2))

      val e2 = newEngine(b2)
      e2.recover()
      e2.processBatch(batch2)
      assert(docsOf(e2.docs("CrashDoc")) == docsOf(expected.docs("CrashDoc")))
    } finally { b2.deleteAll(); b1.deleteAll() }
  }

  test("a restart adopts the committed state: recover() writes nothing, keeps the bucket layout, and the next batch extends the chain") {
    /** Child 11 moves to parent 1. */
    val batch4 = Map("child" -> changelog(childSchema, Row(11L, 1L)))
    val expected = newEngine(StateBackend.Memory)
    Seq(batch1, batch2, batch3, batch4).foreach(expected.processBatch)

    val root = tempRoot("graft_adopt")
    val b1 = new BucketedParquetBackend(spark, root, buckets = 2, compactEvery = 8)
    val b2 = new BucketedParquetBackend(spark, root, buckets = 2, compactEvery = 8)
    try {
      val e1 = newEngine(b1)
      Seq(batch1, batch2, batch3).foreach(e1.processBatch)
      val before = e1.stateTables.map { case (n, df) => n -> contents(df) }
      val committed = BucketedParquetBackend.latest(spark, root).keySet
      val onDisk = listing(root)
      assert(onDisk.contains("_commits/3") && onDisk.exists(_.matches("[^/]+/g\\d+")), onDisk)

      val e2 = newEngine(b2)
      e2.recover()
      // no generation, no commit, no file: the restart wrote nothing
      assert(listing(root) == onDisk,
        s"written by recover(): ${listing(root) -- onDisk}; gone: ${onDisk -- listing(root)}")
      val recovered = e2.stateTables
      assert(recovered.map { case (n, df) => n -> contents(df) } == before)
      // keyed on the state key, every adopted table keeps its buckets
      for ((name, df) <- recovered if committed(name)) {
        val plan = df.groupBy(df.columns.head).count().queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"adopted $name re-shuffled the state side:\n$plan")
      }

      // the first batch after the restart extends the adopted chain:
      // the child snapshot's chain is now its full generation and three
      // deltas, and the documents match an uninterrupted run
      e2.processBatch(batch4)
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(new Path(rootPath, "_commits/4"))
      val commit = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val childChain = commit.linesIterator.find(_.startsWith("snapshot__child\t"))
      assert(childChain.exists(_.split('\t').count(_.endsWith(":delta:2")) == 3), commit)
      assert(docsOf(e2.docs("CrashDoc")) == docsOf(expected.docs("CrashDoc")))
    } finally { b2.deleteAll(); b1.deleteAll() }
  }

  test("gc keeps the newest compactEvery commits, each reading back as its batch's state") {
    val compactEvery = 2
    val root = tempRoot("graft_retention")
    val backend = new BucketedParquetBackend(spark, root, buckets = 2, compactEvery = compactEvery)
    try {
      val engine = newEngine(backend)
      val batches = batch1 +: (1 to 2 * compactEvery).map { i =>
        Map("parent" -> changelog(parentSchema, Row(i.toLong % 2 + 1, s"p$i")),
          "child" -> changelog(childSchema, Row(10L, i.toLong % 2 + 1), Row(11L + i, 1L)))
      }
      val after = batches.map { b =>
        engine.processBatch(b)
        engine.stateTables.map { case (n, df) => n -> contents(df) }
      }

      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      val commits = fs.listStatus(new Path(rootPath, "_commits")).map(_.getPath)
      assert(commits.length == compactEvery, commits.mkString(", "))
      val kept = commits.map(_.getName.toLong).sorted.toSeq
      assert(kept == Seq(batches.size - 1, batches.size))

      // every generation on disk is one that a kept commit names
      val named = commits.flatMap { c =>
        val in = fs.open(c)
        val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        text.linesIterator.flatMap { line =>
          val cells = line.split('\t')
          cells.drop(2).map(g => s"${cells(0)}/${g.takeWhile(_ != ':')}")
        }
      }.toSet
      val onDisk = fs.listStatus(rootPath).filter(_.getPath.getName != "_commits")
        .flatMap(t => fs.listStatus(t.getPath).map(g => s"${t.getPath.getName}/${g.getPath.getName}"))
        .toSet
      assert(onDisk.nonEmpty && onDisk == named,
        s"on disk but unnamed: ${onDisk -- named}; named but gone: ${named -- onDisk}")

      kept.foreach { n =>
        val asOf = BucketedParquetBackend.asOf(spark, root, n)
        after(n.toInt - 1).foreach { case (name, rows) =>
          assert(asOf.get(name).map(contents).getOrElse(Set.empty) == rows,
            s"commit $n, table $name")
        }
      }
    } finally backend.deleteAll()
  }

  test("durable state is written and read by path: no catalog table, and every committed read is bucket-aligned") {
    val catalogBefore = spark.catalog.listTables().collect().map(_.name).toSet
    val root = tempRoot("graft_by_path")
    val b1 = new BucketedParquetBackend(spark, root, buckets = 2, compactEvery = 8)
    val b2 = new BucketedParquetBackend(spark, root, buckets = 2, compactEvery = 8)
    try {
      val engine = newEngine(b1)
      engine.processBatch(batch1)
      val afterFirst = engine.stateTables.map { case (n, df) => n -> contents(df) }
      engine.processBatch(batch2)
      engine.processBatch(batch3)
      val afterLast = engine.stateTables.map { case (n, df) => n -> contents(df) }

      // the replay committed a chain of a full generation and two deltas
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(new Path(rootPath, "_commits/3"))
      val commit = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(commit.linesIterator.exists(_.split('\t').count(_.endsWith(":delta:2")) == 2),
        commit)

      val recovered = b2.recover()
      val first = BucketedParquetBackend.asOf(spark, root, 1)
      val latest = BucketedParquetBackend.latest(spark, root)
      assert(spark.catalog.listTables().collect().map(_.name).toSet == catalogBefore)
      def sameState(read: Map[String, DataFrame], want: Map[String, Set[Any]]): Unit =
        want.foreach { case (n, rows) =>
          assert(read.get(n).map(contents).getOrElse(Set.empty) == rows, n)
        }
      sameState(first, afterFirst)
      sameState(latest, afterLast)
      sameState(recovered, afterLast)

      // keyed on the state key, each committed read keeps the bucket layout
      for ((view, tables) <- Seq("recover" -> recovered, "asOf(1)" -> first,
          "latest" -> latest); (name, df) <- tables) {
        val plan = df.groupBy(df.columns.head).count().queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"$view($name) re-shuffled the state side:\n$plan")
      }

      // a memory-backend engine, made before any compose ran in its
      // session, loads the bucket-aligned latest state and checks it
      val fresh = spark.newSession()
      val inspector = newEngine(StateBackend.Memory, fresh)
      inspector.loadStateTables(BucketedParquetBackend.latest(fresh, root))
      assert(inspector.indexInvariantViolations().isEmpty)
      assert(docsOf(inspector.docs("CrashDoc")) == docsOf(engine.docs("CrashDoc")))
    } finally { b2.deleteAll(); b1.deleteAll() }
  }
}
