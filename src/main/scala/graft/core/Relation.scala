package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** A node in a denormalization relation tree.
  *
  * Semantics match the reference's relations JSON
  * (reference: src/main/resources/southpaw/schema/relations.json:11-34,
  * validation util/RelationHelper.java:89-127): a root node carries
  * `denormalizedName` and an entity; each child edge declares the child
  * `entity`, the child-side join column (`joinKey`) and the parent-side
  * column (`parentKey`). The compiled query is a chain of hierarchical
  * LEFT OUTER equi-joins, children collected into arrays sorted by
  * canonical child primary key.
  *
  * @param denormalizedName output name; present on root nodes only
  * @param entity           input table/entity name
  * @param joinKey          child-side join column (absent on root)
  * @param parentKey        parent-side join column (absent on root)
  * @param children         child edges (possibly empty)
  */
final case class Relation(
    denormalizedName: Option[String],
    entity: String,
    joinKey: Option[String],
    parentKey: Option[String],
    children: Seq[Relation]) {

  /** All entities in this subtree (with repetition for diamond shapes). */
  def entities: Seq[String] = entity +: children.flatMap(_.entities)
}

object Relation {

  /** Build a root relation programmatically. */
  def root(name: String, entity: String, children: Relation*): Relation =
    Relation(Some(name), entity, None, None, children)

  /** Build a child edge programmatically. */
  def child(entity: String, joinKey: String, parentKey: String, children: Relation*): Relation =
    Relation(None, entity, Some(joinKey), Some(parentKey), children)

  private val mapper = new ObjectMapper()

  /** Parse a relations JSON document (array of root trees).
    * Validation parity with reference util/RelationHelper.java:89-127:
    * roots must have DenormalizedName + Entity and at least one child;
    * child nodes must have Entity + JoinKey + ParentKey.
    */
  def parseJson(json: String): Seq[Relation] = {
    val node = mapper.readTree(json)
    require(node.isArray, "relations JSON must be an array of root trees")
    node.elements().asScala.map(parseRoot).toSeq
  }

  def parseFile(path: String): Seq[Relation] =
    parseJson(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  /** Load relations from any Hadoop-filesystem URI — `file://`,
    * `hdfs://`, `s3a://`, … (reference parity: the config/relations
    * loader accepts file:// or s3://, util/FileHelper.java:37-108).
    * Scheme resolution is delegated to the Hadoop `FileSystem`
    * registry, so S3 support is a jar + credentials concern, not a
    * code path: the same call reads object storage on a real cluster.
    * Bare paths (no scheme) resolve against the local filesystem. */
  def parseUri(uri: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Seq[Relation] = {
    val p = new org.apache.hadoop.fs.Path(uri)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      parseJson(out.toString("UTF-8"))
    } finally in.close()
  }

  private def parseRoot(n: JsonNode): Relation = {
    val name = Option(n.get("DenormalizedName")).map(_.asText())
    require(name.exists(_.nonEmpty), "root relation missing DenormalizedName")
    val entity = Option(n.get("Entity")).map(_.asText())
    require(entity.exists(_.nonEmpty), "root relation missing Entity")
    val kids = childNodes(n)
    require(kids.nonEmpty, s"root relation ${name.get} has no children")
    Relation(name, entity.get, None, None, kids.map(parseChild))
  }

  private def parseChild(n: JsonNode): Relation = {
    val entity = Option(n.get("Entity")).map(_.asText())
    require(entity.exists(_.nonEmpty), "child relation missing Entity")
    val jk = Option(n.get("JoinKey")).map(_.asText())
    require(jk.exists(_.nonEmpty), s"child ${entity.get} missing JoinKey")
    val pk = Option(n.get("ParentKey")).map(_.asText())
    require(pk.exists(_.nonEmpty), s"child ${entity.get} missing ParentKey")
    Relation(None, entity.get, jk, pk, childNodes(n).map(parseChild))
  }

  private def childNodes(n: JsonNode): Seq[JsonNode] =
    Option(n.get("Children")).filter(_.isArray).map(_.elements().asScala.toSeq).getOrElse(Nil)
}
