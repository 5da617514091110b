package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.Relation
import graft.operators.{Compaction, Denormalize}
import graft.streaming.{IncrementalDenormalizer, QueueingStrategy}
import ReferenceFixtures._

/** Incremental-engine parity against the reference's end-to-end run:
  * replay all 8 topic fixtures one record per entity per pass
  * (SouthpawEndToEndTest.java:133-146) through the IVM engine with the
  * reference's TestQueueingStrategy (user_tag → NONE for the playlist
  * tree — load-shed, so those docs intentionally go stale), and
  * compare every tree's final documents to the reference goldens.
  *
  * Also proves Q-INCR: with the default strategy (no shedding), the
  * incremental final state equals a from-scratch batch run; Q-INCR and
  * backup/restore run over the in-repo corpus, and over the reference's
  * when mounted ([[ReferenceFixtures.forEachRoot]]).
  */
class IncrementalGoldenSpec extends SparkSpec {

  /** TestQueueingStrategy semantics
    * (src/test/.../strategy/TestQueueingStrategy.java:14-31). */
  val testStrategy: QueueingStrategy = (denormName: String, entity: String) =>
    if (denormName == "DenormalizedPlaylist") entity match {
      case "media" => QueueingStrategy.High
      case "user_tag" => QueueingStrategy.None
      case "playlist_custom_params" => QueueingStrategy.Low
      case _ => QueueingStrategy.Medium
    } else QueueingStrategy.Medium

  /** One fixture corpus: its relation trees and per-entity changelog
    * rows (materialized once), and its shedding replay. */
  final class Corpus(val dir: String) {
    lazy val trees: Seq[Relation] = relationTrees(dir)

    lazy val logs: Map[String, Array[Row]] =
      valueSchemas.keys.map { e =>
        e -> changelog(spark, e, dir).orderBy("offset").collect()
      }.toMap

    /** The shedding replay runs against the DURABLE bucketed-parquet
      * backend: every assertion on it (golden docs, JK/PaK indices,
      * backup/restore, invariants) exercises disk-backed state — the
      * deployment shape — not just the in-memory bench envelope. */
    lazy val durableEngine: IncrementalDenormalizer = replay(this, testStrategy,
      new graft.streaming.BucketedParquetBackend(spark,
        "file://" + java.nio.file.Files.createTempDirectory("graft_golden_state"),
        buckets = 4))
  }

  private val corpora = scala.collection.mutable.Map.empty[String, Corpus]
  def corpusAt(dir: String): Corpus = corpora.getOrElseUpdate(dir, new Corpus(dir))

  def replay(c: Corpus, strategy: QueueingStrategy,
      backend: graft.streaming.StateBackend = graft.streaming.StateBackend.Memory)
      : IncrementalDenormalizer = {
    val engine = new IncrementalDenormalizer(
      spark, c.trees, keyFields, valueSchemas, testFilter, strategy,
      backend = backend)
    val passes = c.logs.values.map(_.length).max
    (0 until passes).foreach { pass =>
      val batch = c.logs.collect { case (e, rows) if pass < rows.length =>
        e -> spark.createDataFrame(
          java.util.Arrays.asList(rows(pass)), changelog(spark, e, c.dir).schema)
      }
      engine.processBatch(batch)
    }
    engine
  }

  def docsOf(engine: IncrementalDenormalizer, name: String): Map[Long, Option[String]] =
    engine.docs(name).collect().map { r =>
      BigInt(1, r.getAs[Array[Byte]]("__pk")).toLong ->
        Option(r.getAs[String]("doc_json"))
    }.toMap

  /** The reference corpus's replay, compared to its goldens below. */
  def goldenEngine: IncrementalDenormalizer = corpusAt(root).durableEngine

  def checkGolden(name: String): Unit = {
    val got = docsOf(goldenEngine, name)
    val golden = goldenDocs(name)
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

  test("incremental replay matches DenormalizedPlayer golden") {
    checkGolden("DenormalizedPlayer")
  }

  test("incremental replay matches DenormalizedMedia golden") {
    checkGolden("DenormalizedMedia")
  }

  test("incremental replay matches DenormalizedPlaylist golden (incl. NONE-priority shedding)") {
    checkGolden("DenormalizedPlaylist")
  }

  test("join indices match the reference's golden JK fixtures") {
    import graft.functions.CanonicalKey
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def enc(n: com.fasterxml.jackson.databind.JsonNode): Array[Byte] =
      if (n.isObject) {
        import scala.jdk.CollectionConverters._
        val fields = n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq.sortBy(_._1)
        CanonicalKey.encodeComposite(fields.map(_._2.asLong()))
      } else CanonicalKey.encodeValue(n.asLong())

    val indexDir = new java.io.File(s"$root/index")
    val jkFiles = indexDir.listFiles().filter(_.getName.startsWith("JK."))
    assert(jkFiles.nonEmpty)
    jkFiles.foreach { f =>
      val Array(_, entity, joinKey, _) = f.getName.split("\\.", 4)
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      val expected: Map[Seq[Byte], Set[Seq[Byte]]] = (0 until lines.size() / 2).map { i =>
        val fk = enc(mapper.readTree(lines.get(2 * i)).get("fk")).toSeq
        val pks = mapper.readTree(lines.get(2 * i + 1)).get("pks")
        import scala.jdk.CollectionConverters._
        fk -> pks.elements().asScala.map(n => enc(n).toSeq).toSet
      }.filter(_._2.nonEmpty).toMap
      val linkDf = goldenEngine.linkTable(entity, joinKey)
        .getOrElse(fail(s"no edge for JK.$entity.$joinKey"))
      val got = linkDf.collect()
        .groupBy(_.getAs[Array[Byte]]("__jk").toSeq)
        .map { case (jk, rows) =>
          jk -> rows.map(_.getAs[Array[Byte]]("__cpk").toSeq).toSet
        }
      assert(got == expected, s"JK.$entity.$joinKey mismatch")
    }
  }

  test("parent indices match the reference's golden PaK fixtures") {
    import graft.functions.CanonicalKey
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    def enc(n: com.fasterxml.jackson.databind.JsonNode): Array[Byte] =
      if (n.isObject) {
        val fields = n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq.sortBy(_._1)
        CanonicalKey.encodeComposite(fields.map(_._2.asLong()))
      } else CanonicalKey.encodeValue(n.asLong())

    val pakFiles = new java.io.File(s"$root/index").listFiles()
      .filter(_.getName.startsWith("PaK."))
    assert(pakFiles.nonEmpty)
    pakFiles.foreach { f =>
      val Array(_, rootE, parentE, pkField, _) = f.getName.split("\\.", 5)
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      val expected: Set[(Seq[Byte], Seq[Byte])] = (0 until lines.size() / 2).flatMap { i =>
        val fk = enc(mapper.readTree(lines.get(2 * i)).get("fk")).toSeq
        mapper.readTree(lines.get(2 * i + 1)).get("pks").elements().asScala
          .map(n => (fk, enc(n).toSeq)).toSeq
      }.toSet
      val tables = goldenEngine.rootmapTables(rootE, parentE, pkField)
      assert(tables.nonEmpty, s"no edge for ${f.getName}")
      tables.foreach { df =>
        val got = df.collect().map(r =>
          (r.getAs[Array[Byte]]("__jk").toSeq,
            r.getAs[Array[Byte]]("__rpk").toSeq)).toSet
        assert(got == expected, s"${f.getName}: got ${got.size}, expected ${expected.size}")
      }
    }
  }

  test("state backup/restore round-trips and invariants hold") {
    forEachRoot { dir =>
      val c = corpusAt(dir)
      val engine = c.durableEngine
      val tmp = java.nio.file.Files.createTempDirectory("graft_state").toString
      try {
        assert(graft.streaming.StateOps.verifyState(engine).isEmpty)
        graft.streaming.StateOps.backup(engine, tmp)
        val fresh = new graft.streaming.IncrementalDenormalizer(
          spark, c.trees, keyFields, valueSchemas, testFilter, testStrategy)
        graft.streaming.StateOps.restore(fresh, tmp)
        c.trees.flatMap(_.denormalizedName).foreach { name =>
          assert(docsOf(fresh, name) == docsOf(engine, name), s"$name docs diverged")
        }
        // point lookup against restored state
        val rec = fresh.readByPk("user", Seq(1234L))
        assert(rec.exists(_.getAs[String]("user_name") == "Suzy"))
        assert(fresh.readByPk("user", Seq(999999L)).isEmpty)
        val m = fresh.metrics
        assert(m("docs_live") > 0 && m("snapshot_rows") > 0)
      } finally graft.streaming.StateOps.deleteState(tmp)
    }
  }

  test("Q-INCR: incremental with default strategy converges to batch result") {
    forEachRoot { dir =>
      val c = corpusAt(dir)
      val engine = replay(c, QueueingStrategy.allMedium)
      val snapshots: Map[String, DataFrame] = valueSchemas.keys.map { e =>
        e -> Compaction.snapshot(
          Compaction.compact(changelog(spark, e, dir), e, keyFields(e), testFilter))
      }.toMap
      c.trees.foreach { tree =>
        val name = tree.denormalizedName.get
        val batchDocs = Denormalize.documents(tree, snapshots, keyFields)
          .select(col("__pk"), col("doc_json")).collect()
          .map(r => BigInt(1, r.getAs[Array[Byte]]("__pk")).toLong ->
            r.getAs[String]("doc_json")).toMap
        val incrDocs = docsOf(engine, name).collect { case (k, Some(j)) => k -> j }
        assert(incrDocs.keySet == batchDocs.keySet,
          s"$name live keys differ: incr=${incrDocs.keySet} batch=${batchDocs.keySet}")
        incrDocs.foreach { case (k, j) =>
          assert(normalizeJson(j) == normalizeJson(batchDocs(k)), s"$name/$k diverged")
        }
      }
    }
  }
}
