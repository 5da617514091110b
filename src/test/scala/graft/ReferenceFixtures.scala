package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

import graft.core.Relation
import graft.operators.Filters.{FilterMode, RecordFilter}
import graft.sources.FixtureReader

/** Schemas, filter, and loaders for the two fixture corpora, both in
  * the reference's pure-JSON layout (`relations*.sample.json`,
  * `topic/<entity>.json`; formats and edge cases in FIXTURES.md):
  *
  *  - [[corpus]]: the hand-written corpus committed under
  *    `src/test/resources/fixtures`, read from the test classpath. The
  *    property tests (RelationSpec; ChangelogSourceSpec's reader tests;
  *    IncrementalGoldenSpec's Q-INCR and backup/restore; StreamingSpec's
  *    streaming-equals-batch; DurableStateSpec's restart, no-Exchange
  *    and `_SUCCESS` tests) always run over it, and again over [[root]]
  *    when that is mounted ([[forEachRoot]]).
  *  - [[root]]: the reference's own corpus, with its golden documents
  *    and JK/PaK index files. The golden-parity tests (DenormalizeGoldenSpec;
  *    IncrementalGoldenSpec's golden and index tests; ChangelogSourceSpec's
  *    connector-to-golden test; DurableStateSpec's recovered-replay
  *    golden test) read only this root, and fail where it is absent.
  */
object ReferenceFixtures {

  val root = "/root/reference/test-resources"

  /** Directory of the in-repo corpus on the test classpath. */
  lazy val corpus: String = {
    val url = getClass.getResource("/fixtures/relations.sample.json")
    require(url != null && url.getProtocol == "file",
      s"in-repo fixture corpus not on the classpath as a directory: $url")
    java.nio.file.Paths.get(url.toURI).getParent.toString
  }

  /** The roots a property test runs over: the in-repo corpus, then the
    * reference corpus when its directory exists. */
  def roots: Seq[String] =
    corpus +: Seq(root).filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))

  /** Run a property test's body over each of [[roots]]; a failure names
    * the root it failed on. */
  def forEachRoot(body: String => Unit): Unit =
    roots.foreach(dir => org.scalatest.Assertions.withClue(s"[$dir] ")(body(dir)))

  private def s(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Value schemas per entity (numerics as Long; JSON loader infers). */
  val valueSchemas: Map[String, StructType] = Map(
    "user" -> s("user_id" -> LongType, "user_name" -> StringType,
      "email" -> StringType, "usage_type" -> StringType),
    "playlist" -> s("id" -> LongType, "active" -> LongType, "user_id" -> LongType,
      "type" -> StringType, "title" -> StringType),
    "playlist_tag" -> s("playlist_id" -> LongType, "user_tag_id" -> LongType,
      "tag_type" -> StringType),
    "user_tag" -> s("id" -> LongType, "user_id" -> LongType, "tag_name" -> StringType),
    "playlist_custom_params" -> s("id" -> LongType, "playlist_id" -> LongType,
      "name" -> StringType, "value" -> StringType),
    "playlist_media" -> s("id" -> LongType, "playlist_id" -> LongType,
      "pos" -> LongType, "media_id" -> LongType),
    "media" -> s("id" -> LongType, "status" -> StringType, "user_id" -> LongType,
      "title" -> StringType),
    "player" -> s("id" -> LongType, "user_id" -> LongType, "name" -> StringType))

  /** Key field names per entity, sorted (canonical composite order). */
  val keyFields: Map[String, Seq[String]] = Map(
    "user" -> Seq("user_id"),
    "playlist" -> Seq("id"),
    "playlist_tag" -> Seq("playlist_id", "user_tag_id"),
    "user_tag" -> Seq("id"),
    "playlist_custom_params" -> Seq("id"),
    "playlist_media" -> Seq("id"),
    "media" -> Seq("id"),
    "player" -> Seq("id"))

  def keySchema(entity: String): StructType = {
    val vs = valueSchemas(entity)
    StructType(keyFields(entity).map(f => vs(f)))
  }

  /** The reference TestFilter's semantics
    * (src/test/java/com/jwplayer/southpaw/filter/TestFilter.java:32-54):
    * media.status == "deleted" → DELETE;
    * playlist_custom_params.value == "INVALID" → DELETE;
    * user.name == "skip" → SKIP (note: the field is literally "name",
    * which user records don't carry — faithful to the reference). */
  val testFilter: RecordFilter = new RecordFilter {
    private def field(r: Row, name: String): Any =
      if (r.schema != null && r.schema.fieldNames.contains(name)) r.getAs[Any](name)
      else null
    override def filter(entity: String, record: Row, old: Option[Row]): FilterMode =
      entity match {
        case "media" if field(record, "status") == "deleted" => FilterMode.Delete
        case "playlist_custom_params" if field(record, "value") == "INVALID" =>
          FilterMode.Delete
        case "user" if field(record, "name") == "skip" => FilterMode.Skip
        case _ => FilterMode.Update
      }
  }

  /** The three relation trees of a fixture root, in file order. */
  def relationTrees(dir: String): Seq[Relation] =
    Seq("relations.sample.json", "relations2.sample.json", "relations3.sample.json")
      .flatMap(f => Relation.parseFile(s"$dir/$f"))

  /** Load one entity's topic fixture as a changelog DataFrame. */
  def changelog(spark: SparkSession, entity: String, dir: String = root): DataFrame =
    FixtureReader.readTopic(spark, s"$dir/topic/$entity.json",
      keySchema(entity), valueSchemas(entity))

  private val mapper = new ObjectMapper()

  /** Golden denormalized output: key → final doc JsonNode (null doc =
    * tombstone; last occurrence per key wins, matching
    * TestHelper.readDenormalizedData). */
  def goldenDocs(name: String): Map[Long, Option[JsonNode]] = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/topic/$name.json")).asScala.toSeq
    lines.grouped(2).collect { case Seq(k, v) =>
      k.trim.toLong -> (if (v.trim == "null") None else Some(mapper.readTree(v)))
    }.toMap
  }

  /** Normalize a Jackson tree to comparable Scala values: object field
    * order ignored, integral numbers widened to Long, floats to Double. */
  def normalize(n: JsonNode): Any = {
    if (n == null || n.isNull) null
    else if (n.isObject)
      n.properties().asScala.map(e => e.getKey -> normalize(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(normalize).toList
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.asText()
  }

  def normalizeJson(s: String): Any = normalize(mapper.readTree(s))
}
