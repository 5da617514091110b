package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => sstreaming}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 table over the reference's topic fixture format
  * (alternating `keyJson \n valueJson` lines, empty value = tombstone
  * — reference: src/test/java/com/jwplayer/southpaw/TestHelper.java:100-112),
  * exposed as `spark.read.format("graft-changelog")`.
  *
  * This is the connector-shaped face of [[graft.sources.FixtureReader]]:
  * the same changelog rows, but planned and executed by Spark's
  * connector machinery —
  *
  *  - **schema contract**: `keySchema` / `valueSchema` options carry
  *    DDL strings; the table schema is
  *    `offset long, key struct<…>, value struct<…>` (value nullable:
  *    null = tombstone), exactly the shape the engine's
  *    `processBatch`/`Compaction` consume;
  *  - **column pruning**: the scan implements
  *    [[SupportsPushDownRequiredColumns]] including NESTED fields —
  *    a query touching only `value.id` parses only that field out of
  *    each JSON line (the Jackson parser skips the rest), and the
  *    pruned schema is visible in `explain` as `ReadSchema`;
  *  - **partition planning**: record ranges split into `splits` input
  *    partitions, each reader consuming only its slice — offsets stay
  *    globally stable (line-pair index), so latest-per-key folds over
  *    this source are partition-count-invariant.
  *
  * At 100 TB the same Table/Scan/PartitionReader skeleton fronts a
  * real log store (Kafka segments, object-store changelog files);
  * only `planInputPartitions` and the reader's byte source change.
  */
class ChangelogTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-changelog"

  override def supportsExternalMetadata(): Boolean = true

  private def schemaFromOptions(options: CaseInsensitiveStringMap): StructType = {
    def ddl(name: String): StructType = {
      val s = options.get(name)
      require(s != null, s"graft-changelog requires the '$name' option (DDL string)")
      StructType.fromDDL(s)
    }
    ChangelogTable.tableSchema(ddl("keySchema"), ddl("valueSchema"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    schemaFromOptions(options)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "graft-changelog requires a 'path' option")
    val splits = Option(properties.get("splits")).map(_.toInt).getOrElse(4)
    new ChangelogTable(path, schema, splits)
  }
}

object ChangelogTable {
  def tableSchema(keySchema: StructType, valueSchema: StructType): StructType =
    StructType(Seq(
      StructField("offset", LongType, nullable = false),
      StructField("key", keySchema, nullable = true),
      StructField("value", valueSchema, nullable = true)))
}

/** Log access through the Hadoop FileSystem API, so a fixture log path
  * has the same reach as every other URI the CLI takes — file:///,
  * hdfs://, s3a:// (a bare path resolves against the default FS, as
  * everywhere else in Hadoop). Planner calls run on the driver; the
  * partition reader calls [[open]] on executors, where the default
  * Configuration picks up any core-site on the classpath. */
private[v2] object ChangelogIO {
  def open(path: String): java.io.BufferedReader = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Records in the log: line pairs, a trailing key line counting as one. */
  def countPairs(path: String): Long = {
    val r = open(path)
    try {
      var lines = 0L
      while (r.readLine() != null) lines += 1
      (lines + 1) / 2
    } finally r.close()
  }

  /** The record range [from, until) as at most `splits` contiguous,
    * near-equal partitions; none when the range is empty. */
  def splitRange(path: String, from: Long, until: Long,
      splits: Int): Array[InputPartition] = {
    val total = math.max(0L, until - from)
    if (total == 0) return Array.empty
    val n = math.max(1, math.min(splits.toLong, total).toInt)
    val per = (total + n - 1) / n
    (0 until n).map { i =>
      ChangelogInputPartition(path,
        from + i * per, math.min(from + (i + 1) * per, until))
    }.filter(p => p.startPair < p.endPair).toArray[InputPartition]
  }
}

class ChangelogTable(path: String, schema: StructType, splits: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graft-changelog(`$path`)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangelogScanBuilder(path, schema, splits)
}

class ChangelogScanBuilder(path: String, fullSchema: StructType, splits: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[sources.Filter] = Array.empty
  private var minPair = 0L
  private var maxPairExcl = Long.MaxValue

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Offset-range predicates prune at PLANNING time (the Kafka
    * startingOffsets analogue): `offset >= / > / < / <= / =` bounds
    * map to the record-range partitioner, so a catch-up query over the
    * log tail never plans readers for already-consumed records. All
    * other filters stay residual (Spark re-evaluates them). */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (accepted, residual) = filters.partition {
      case sources.GreaterThanOrEqual("offset", v: Long) => minPair = math.max(minPair, v); true
      case sources.GreaterThan("offset", v: Long) => minPair = math.max(minPair, v + 1); true
      case sources.LessThan("offset", v: Long) => maxPairExcl = math.min(maxPairExcl, v); true
      case sources.LessThanOrEqual("offset", v: Long) => maxPairExcl = math.min(maxPairExcl, v + 1); true
      case sources.EqualTo("offset", v: Long) =>
        minPair = math.max(minPair, v); maxPairExcl = math.min(maxPairExcl, v + 1); true
      case _ => false
    }
    pushed = accepted
    residual // non-offset filters evaluate above the scan
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan =
    new ChangelogScan(path, required, splits, minPair, maxPairExcl)
}

class ChangelogScan(
    path: String,
    required: StructType,
    splits: Int,
    minPair: Long = 0L,
    maxPairExcl: Long = Long.MaxValue)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-changelog $path (pruned to ${required.fieldNames.mkString(",")}, " +
      s"offsets [$minPair, ${if (maxPairExcl == Long.MaxValue) "end" else maxPairExcl}))"

  // One cheap driver pass for the record count (fixture planning —
  // a log-store variant would consult segment metadata instead).
  override def planInputPartitions(): Array[InputPartition] =
    ChangelogIO.splitRange(path, math.max(0L, minPair),
      math.min(ChangelogIO.countPairs(path), maxPairExcl), splits)

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(required)

  /** Pushed offset bounds carry into the streaming face too: a
    * catch-up stream over `offset >= k` starts its offset ledger at k
    * instead of replaying the head, and an upper bound caps
    * latestOffset — the startingOffsets/endingOffsets analogue. */
  override def toMicroBatchStream(checkpointLocation: String): sstreaming.MicroBatchStream =
    new ChangelogMicroBatchStream(path, required, splits, minPair, maxPairExcl)
}

/** Record-index offset for the streaming face of the changelog: the
  * number of line pairs consumed so far — monotone because the fixture
  * log is append-only, exactly the reference's per-topic Kafka offset
  * model (BASELINE.md: log-offset time). */
case class ChangelogOffset(pairs: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = pairs.toString
}

/** MicroBatchStream over the append-only changelog file: each batch
  * covers the record range (committed, latest]; ranges split into the
  * same [[ChangelogInputPartition]]s as the batch scan, so the exact
  * reader code serves both execution modes. Offsets checkpoint as the
  * consumed pair count — a restart resumes mid-log, and records
  * appended between runs arrive in the next batch (verified in
  * ChangelogSourceSpec by appending to the log across restarts). */
class ChangelogMicroBatchStream(
    path: String,
    required: StructType,
    splits: Int,
    minPair: Long = 0L,
    maxPairExcl: Long = Long.MaxValue)
    extends sstreaming.MicroBatchStream {

  override def initialOffset(): sstreaming.Offset =
    ChangelogOffset(math.max(0L, minPair))
  override def latestOffset(): sstreaming.Offset = ChangelogOffset(math.max(
    math.min(ChangelogIO.countPairs(path), maxPairExcl), math.max(0L, minPair)))
  override def deserializeOffset(json: String): sstreaming.Offset =
    ChangelogOffset(json.trim.toLong)
  override def commit(end: sstreaming.Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: sstreaming.Offset,
      end: sstreaming.Offset): Array[InputPartition] =
    ChangelogIO.splitRange(path, start.asInstanceOf[ChangelogOffset].pairs,
      end.asInstanceOf[ChangelogOffset].pairs, splits)

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(required)
}

case class ChangelogInputPartition(path: String, startPair: Long, endPair: Long)
    extends InputPartition

class ChangelogReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChangelogPartitionReader(
      partition.asInstanceOf[ChangelogInputPartition], required)
}

/** Parses the partition's line-pair slice into pruned InternalRows.
  * JSON parsing goes through Spark's own JacksonParser instantiated
  * with the PRUNED nested schema, so un-projected fields are skipped
  * at tokenizer level — the nested-pruning half of the pushdown. */
class ChangelogPartitionReader(
    part: ChangelogInputPartition,
    required: StructType)
    extends PartitionReader[InternalRow] {

  private def fieldIndex(name: String): Option[Int] = {
    val i = required.fieldNames.indexOf(name)
    if (i < 0) None else Some(i)
  }
  private val keyIdx = fieldIndex("key")
  private val valueIdx = fieldIndex("value")
  private val offsetIdx = fieldIndex("offset")

  private def parserFor(idx: Option[Int]): Option[JacksonParser] = idx.map { i =>
    val st = required.fields(i).dataType.asInstanceOf[StructType]
    new JacksonParser(st, new JSONOptions(Map.empty[String, String], "UTC"),
      allowArrayAsStructs = false, Seq.empty)
  }
  private val keyParser = parserFor(keyIdx)
  private val valueParser = parserFor(valueIdx)

  // Streamed slice read: the reader skips to its start pair and pulls
  // line pairs on demand — the partition never buffers the whole log
  // (a 100 TB log slice must stream), and every position is a Long
  // (the previous toInt slicing silently truncated past ~2^31 lines).
  private val reader: java.io.BufferedReader = ChangelogIO.open(part.path)
  locally {
    var skipped = 0L
    val toSkip = part.startPair * 2
    while (skipped < toSkip && reader.readLine() != null) skipped += 1
  }
  private var pair = 0L
  private val nPairs = part.endPair - part.startPair

  private var current: InternalRow = _

  private def parse(p: JacksonParser, json: String): Any =
    p.parse(json, CreateJacksonParser.string, UTF8String.fromString)
      .headOption.orNull

  override def next(): Boolean = {
    if (pair >= nPairs) return false
    val k = reader.readLine()
    if (k == null) return false // planned range past EOF (truncated log)
    val v = Option(reader.readLine()).getOrElse("")
    val row = new GenericInternalRow(required.length)
    offsetIdx.foreach(i => row.update(i, part.startPair + pair))
    keyParser.foreach(p => row.update(keyIdx.get, parse(p, k)))
    valueParser.foreach { p =>
      row.update(valueIdx.get, if (v.trim.isEmpty) null else parse(p, v))
    }
    current = row
    pair += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
