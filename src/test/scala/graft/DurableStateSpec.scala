package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Relation
import graft.streaming.{BucketedParquetBackend, IncrementalDenormalizer, QueueingStrategy}
import ReferenceFixtures._

/** Durable-state restart recovery, end to end — the proof that
  * [[graft.streaming.BucketedParquetBackend]] state survives losing the
  * ENTIRE SparkSession, not just block eviction (the reference's
  * restore story: state/RocksDBState.java:639-708 — a new process
  * reopens the state written by the last committed run).
  *
  * Shape: replay all topic fixtures EXCEPT the final pass through the
  * durable backend under a temp root, capture every state table, then
  * stop the SparkContext. Open a brand-new session (new context, empty
  * catalog, every in-memory checkpoint block gone), restart a new engine
  * purely from disk through [[IncrementalDenormalizer.recover]], which
  * adopts the committed chains and writes nothing, and assert all state
  * tables — documents AND the JK link / PaK rootmap indices — byte-equal
  * the pre-restart capture. The restart, the
  * no-Exchange and the `_SUCCESS` checks run over the in-repo corpus,
  * and over the reference's when mounted. On the reference corpus, the
  * final fixture pass then runs on the recovered engine and the
  * finished documents must equal the reference goldens for all three
  * trees: a replay split across a session restart is indistinguishable
  * from an uninterrupted one.
  */
class DurableStateSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Same shedding strategy as IncrementalGoldenSpec, so the golden
    * fixtures are the expected output (and the deferred-priority state
    * machinery rides through the restart too). */
  val strategy: QueueingStrategy = (denormName: String, entity: String) =>
    if (denormName == "DenormalizedPlaylist") entity match {
      case "media" => QueueingStrategy.High
      case "user_tag" => QueueingStrategy.None
      case "playlist_custom_params" => QueueingStrategy.Low
      case _ => QueueingStrategy.Medium
    } else QueueingStrategy.Medium

  /** One corpus's restart run: its trees, its own state root, and
    * what the restart test captured and recovered. */
  private final class Run(val dir: String) {
    lazy val trees: Seq[Relation] = relationTrees(dir)

    lazy val stateRoot: String =
      "file://" + java.nio.file.Files.createTempDirectory("graft_durable_state")

    def newEngine(spark: SparkSession): IncrementalDenormalizer =
      new IncrementalDenormalizer(spark, trees, keyFields, valueSchemas,
        testFilter, strategy,
        backend = new BucketedParquetBackend(spark, stateRoot, buckets = 4))

    def logRows(spark: SparkSession): Map[String, Array[Row]] =
      valueSchemas.keys.map { e =>
        e -> changelog(spark, e, dir).orderBy("offset").collect()
      }.toMap

    def batchAt(spark: SparkSession, logs: Map[String, Array[Row]],
        pass: Int): Map[String, DataFrame] =
      logs.collect { case (e, rows) if pass < rows.length =>
        e -> spark.createDataFrame(
          java.util.Arrays.asList(rows(pass)), changelog(spark, e, dir).schema)
      }

    // state captured before the restart, asserted after it
    var captured: Map[String, Set[Any]] = Map.empty
    var finalPass: Int = -1
    var recovered: IncrementalDenormalizer = null
  }

  private val runsByDir = scala.collection.mutable.Map.empty[String, Run]
  private def run(dir: String): Run = runsByDir.getOrElseUpdate(dir, new Run(dir))

  /** Structural row comparison (binary keys value-compared). */
  private def comparable(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(comparable)
    case s: Seq[_] => s.map(comparable)
    case m: Map[_, _] => m.map { case (k, x) => comparable(k) -> comparable(x) }
    case x => x
  }
  private def contents(df: DataFrame): Set[Any] =
    df.collect().map(comparable).toSet

  private def docsOf(engine: IncrementalDenormalizer, name: String): Map[Long, Option[String]] =
    engine.docs(name).collect().map { r =>
      BigInt(1, r.getAs[Array[Byte]]("__pk")).toLong ->
        Option(r.getAs[String]("doc_json"))
    }.toMap

  test("durable state written before a session restart recovers byte-equal in a new session") {
    val sparkA = SparkSpec.session
    val live = roots.map(run)
    live.foreach { r =>
      withClue(s"[${r.dir}] ") {
        val logs = r.logRows(sparkA)
        val passes = logs.values.map(_.length).max
        r.finalPass = passes - 1
        val engineA = r.newEngine(sparkA)
        (0 until r.finalPass).foreach(p => engineA.processBatch(r.batchAt(sparkA, logs, p)))
        r.captured = engineA.stateTables.map { case (n, df) => n -> contents(df) }
        assert(r.captured.values.exists(_.nonEmpty), "replay produced no state")
      }
    }

    // the restart: the context dies, and with it the catalog and every
    // local checkpoint block — only the parquet generations remain
    sparkA.stop()
    val sparkB = SparkSpec.session
    assert(sparkA.sparkContext.isStopped && (sparkB ne sparkA),
      "expected a genuinely new SparkContext after stop()")

    live.foreach { r =>
      withClue(s"[${r.dir}] ") {
        val gens = BucketedParquetBackend.latest(sparkB, r.stateRoot)
        // Tables the engine never persisted (pending sets in immediate /
        // every-batch drain mode stay empty) legitimately have no on-disk
        // generation; every table that HELD rows must have one.
        r.captured.foreach { case (name, rows) =>
          if (!gens.contains(name))
            assert(rows.isEmpty, s"state table $name had rows but no committed generation")
        }
        r.recovered = r.newEngine(sparkB)
        r.recovered.recover()
        r.recovered.stateTables.foreach { case (name, df) =>
          assert(contents(df) == r.captured(name),
            s"state table $name diverged across restart")
        }
      }
    }
  }

  test("recovered engine finishes the replay to reference-golden parity") {
    val spark = SparkSpec.session
    val reference = run(root)
    val goldens = reference.trees.flatMap(_.denormalizedName)
      .map(name => name -> goldenDocs(name))
    val recovered = reference.recovered
    recovered.processBatch(
      reference.batchAt(spark, reference.logRows(spark), reference.finalPass))
    goldens.foreach { case (name, golden) =>
      val got = docsOf(recovered, name)
      assert(got.keySet == golden.keySet,
        s"$name keys differ: extra=${got.keySet.diff(golden.keySet)} missing=${golden.keySet.diff(got.keySet)}")
      golden.foreach { case (k, expected) =>
        (expected, got(k)) match {
          case (None, None) =>
          case (Some(e), Some(g)) =>
            assert(normalizeJson(g) == normalize(e), s"$name/$k:\n got: $g\n exp: $e")
          case other => fail(s"$name/$k tombstone mismatch: $other")
        }
      }
    }
    assert(graft.streaming.StateOps.verifyState(recovered).isEmpty,
      "index invariants violated after recovered replay")
  }

  test("keyed aggregation on a recovered state table plans no Exchange") {
    forEachRoot { dir =>
      val r = run(dir)
      val docs = r.recovered.docs(r.trees.head.denormalizedName.get)
      val plan = docs.groupBy("__pk").count().queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"recovered bucketed state table re-shuffled on its own key:\n$plan")
    }
  }

  test("recovery skips uncommitted generations (_SUCCESS gating)") {
    // a write that died mid-flight leaves data files that no batch
    // commit names (here not even a _SUCCESS); recovery must land on
    // the newest commit's generation, not the wreck
    val spark = SparkSpec.session
    forEachRoot { dir =>
      val stateRoot = run(dir).stateRoot
      val before = graft.streaming.BucketedParquetBackend.latest(spark, stateRoot)
      assert(before.nonEmpty)
      val table = before.keys.find(_.startsWith("snapshot__")).getOrElse(before.keys.head)
      val goodRows = contents(before(table))
      val wreck = new org.apache.hadoop.fs.Path(stateRoot, s"$table/g999")
      spark.range(3).toDF("garbage").write.parquet(wreck.toString)
      val fs = wreck.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.delete(new org.apache.hadoop.fs.Path(wreck, "_SUCCESS"), false),
        "test setup: expected a _SUCCESS marker to remove")
      val after = graft.streaming.BucketedParquetBackend.latest(spark, stateRoot)
      assert(contents(after(table)) == goodRows,
        "recovery read an uncommitted generation")
    }
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    runsByDir.values.foreach(r => rm(new java.io.File(new java.net.URI(r.stateRoot))))
  }
}
