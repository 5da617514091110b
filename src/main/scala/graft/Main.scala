package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Relation
import graft.operators.Filters.RecordFilter
import graft.operators.Compaction
import graft.streaming.{BucketedParquetBackend, EngineMetricsListener,
  IncrementalDenormalizer, QueueingStrategy, StateBackend, StateOps, StreamRunner}

/** Operator CLI — the reference's entry point re-expressed over the
  * streaming engine (reference: Southpaw.java:490-553):
  *
  * {{{
  *   graft.Main --config conf.json --relations relations.json \
  *     [--build] [--restore] [--verify-state] [--delete-state] \
  *     [--delete-backup] [--help]
  * }}}
  *
  * Flag semantics and ordering match the reference main: verify-state
  * runs alone and exits with the violation count; otherwise
  * delete-backup, delete-state, restore, build apply in that order.
  *
  * The config is JSON (the reference's YAML keys, same meanings):
  *  - `topicsDir`   directory of per-entity changelog logs
  *                  (`<entity>.json`, the fixture format the
  *                  graft-changelog connector reads)
  *  - `backupUri`   StateOps backup root (file:///, hdfs://, s3a://)
  *  - `backupsToKeep`, `restoreMode` (always|when_needed|never)
  *  - `backend`     "memory" | "bucketed"; `backendRoot`, `buckets`,
  *    `compactEvery` (delta generations per full compaction)
  *  - `checkpointDir` streaming checkpoint location
  *  - `triggerMs`   continuous micro-batch cadence; absent = one
  *    bounded drain (Trigger.AvailableNow)
  *  - `sink`        "noop" | "console" | "parquet"; `sinkPath`
  *  - `filterClass`, `strategyClass`  fully-qualified hook classes
  *    (the reference's filter.class / queueing.strategy.class)
  *  - `entities`    optional `{name: {keys: [...]}}` key override;
  *    by default key fields are the key-JSON field names, sorted
  *    (canonical composite order)
  */
object Main {

  final case class Cli(
      config: Option[String] = None,
      relations: Seq[String] = Nil,
      build: Boolean = false,
      restore: Boolean = false,
      verifyState: Boolean = false,
      showState: Boolean = false,
      asOfCommit: Option[Long] = None,
      deleteState: Boolean = false,
      deleteBackup: Boolean = false,
      help: Boolean = false)

  val usage: String =
    """usage: graft.Main --config <uri> --relations <uri>[,<uri>...]
      |  --build          consume the changelog topics and maintain documents
      |  --restore        restore engine state from the newest readable backup
      |  --verify-state   check index invariants; exit code = violation count
      |  --show-state     list durable state tables and row counts
      |  --as-of <n>      with --show-state: the state as of batch commit <n>
      |  --delete-state   delete the durable state root. BE VERY CAREFUL!
      |  --delete-backup  delete the backup root. BE VERY CAREFUL!
      |  --help           this text""".stripMargin

  def parse(args: Array[String]): Cli = {
    @annotation.tailrec
    def go(rest: List[String], acc: Cli): Cli = rest match {
      case Nil => acc
      case "--config" :: v :: t => go(t, acc.copy(config = Some(v)))
      case "--relations" :: v :: t =>
        go(t, acc.copy(relations = acc.relations ++ v.split(",").map(_.trim)))
      case (flag @ ("--config" | "--relations")) :: Nil =>
        throw new IllegalArgumentException(s"missing value for $flag\n$usage")
      case "--build" :: t => go(t, acc.copy(build = true))
      case "--restore" :: t => go(t, acc.copy(restore = true))
      case "--verify-state" :: t => go(t, acc.copy(verifyState = true))
      case "--show-state" :: t => go(t, acc.copy(showState = true))
      case "--as-of" :: v :: t => go(t, acc.copy(asOfCommit = Some(v.toLong)))
      case "--as-of" :: Nil =>
        throw new IllegalArgumentException("--as-of needs a commit id")
      case "--delete-state" :: t => go(t, acc.copy(deleteState = true))
      case "--delete-backup" :: t => go(t, acc.copy(deleteBackup = true))
      case "--help" :: t => go(t, acc.copy(help = true))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument '$other'\n$usage")
    }
    go(args.toList, Cli())
  }

  /** Read a small text resource from any Hadoop-FS URI (config and
    * relations follow the reference's file://-or-s3:// loader,
    * util/FileHelper.java:37-108). */
  private def readText(uri: String): String = {
    val p = new org.apache.hadoop.fs.Path(uri)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def str(conf: JsonNode, field: String): Option[String] =
    Option(conf.get(field)).filterNot(_.isNull).map(_.asText())

  /** Per-entity key/value schemas inferred from the topic logs (key
    * fields default to the key-JSON fields, sorted — the canonical
    * composite order; a config `entities.<name>.keys` list overrides). */
  private def topicSchemas(
      spark: SparkSession, conf: JsonNode, topicsDir: String,
      entities: Seq[String])
      : (Map[String, Seq[String]], Map[String, StructType], Map[String, StructType]) = {
    import spark.implicits._
    val perEntity = entities.map { e =>
      // Hadoop-FS read (not java.nio), so topicsDir has the same reach
      // as every other URI the CLI takes: file:///, hdfs://, s3a://
      val lines = readText(s"$topicsDir/$e.json").linesIterator.toSeq
      val keyJson = lines.grouped(2).map(_.head).toSeq
      val valueJson = lines.grouped(2).flatMap(_.drop(1)).filter(_.trim.nonEmpty).toSeq
      val kSchema = spark.read.json(keyJson.toDS()).schema
      val vSchema = spark.read.json(valueJson.toDS()).schema
      val keys = Option(conf.at(s"/entities/$e/keys"))
        .filter(_.isArray)
        .map(_.elements().asScala.map(_.asText()).toSeq)
        .filter(_.nonEmpty)
        .getOrElse(kSchema.fieldNames.toSeq.sorted)
      (e, keys, kSchema, vSchema)
    }
    (perEntity.map(t => t._1 -> t._2).toMap,
      perEntity.map(t => t._1 -> t._3).toMap,
      perEntity.map(t => t._1 -> t._4).toMap)
  }

  /** Unified changelog stream: one graft-changelog V2 source per
    * entity log, mapped to (entity, offset, key_json, value_json) and
    * unioned — the same shape the Kafka mapping produces. */
  private def changelogStream(
      spark: SparkSession, topicsDir: String, entities: Seq[String],
      keySchemas: Map[String, StructType],
      valueSchemas: Map[String, StructType]): DataFrame =
    entities.map { e =>
      spark.readStream.format("graft-changelog")
        .option("path", s"$topicsDir/$e.json")
        .option("keySchema", keySchemas(e).toDDL)
        .option("valueSchema", valueSchemas(e).toDDL)
        .load()
        .select(lit(e).as("entity"), col("offset"),
          to_json(col("key")).as("key_json"),
          when(col("value").isNull, lit(null).cast("string"))
            .otherwise(to_json(col("value"))).as("value_json"))
    }.reduce(_ unionByName _)

  private def hook[T](conf: JsonNode, field: String, default: T): T =
    str(conf, field).map { cls =>
      Class.forName(cls).getDeclaredConstructor().newInstance().asInstanceOf[T]
    }.getOrElse(default)

  /** Execute the parsed CLI against a live session. Returns the process
    * exit code (verify-state: number of invariant violations). */
  def run(cli: Cli, spark: SparkSession): Int = {
    if (cli.help) { println(usage); return 0 }
    val conf: JsonNode = new ObjectMapper().readTree(
      cli.config.map(readText).getOrElse("{}"))
    val trees = cli.relations.flatMap(r => Relation.parseUri(r))
    require(trees.nonEmpty || cli.deleteState || cli.deleteBackup || cli.showState,
      "no relations given (--relations)")
    val backupUri = str(conf, "backupUri")
    val backendRoot = str(conf, "backendRoot")

    if (cli.showState) {
      // read-only inspection of the durable state: the newest batch
      // commit by default, any retained older commit via --as-of
      val root = backendRoot.getOrElse(throw new IllegalArgumentException(
        "show-state needs backendRoot in config"))
      val tables = cli.asOfCommit match {
        case Some(n) => BucketedParquetBackend.asOf(spark, root, n)
        case None => BucketedParquetBackend.latest(spark, root)
      }
      if (tables.isEmpty) println("[graft] show-state: no committed state")
      tables.toSeq.sortBy(_._1).foreach { case (n, df) =>
        println(s"[graft] state $n: ${df.count()} rows")
      }
      return 0
    }

    if (cli.deleteBackup)
      backupUri.foreach { u => println(s"[graft] deleting backups $u"); StateOps.deleteState(u) }
    if (cli.deleteState)
      backendRoot.foreach { u => println(s"[graft] deleting state $u"); StateOps.deleteState(u) }
    if (!(cli.build || cli.restore || cli.verifyState)) return 0

    val topicsDir = str(conf, "topicsDir").getOrElse(
      throw new IllegalArgumentException("config needs topicsDir"))
    val entities = trees.flatMap(_.entities).distinct
    val (keyFields, keySchemas, valueSchemas) =
      topicSchemas(spark, conf, topicsDir, entities)
    val bucketed = str(conf, "backend").contains("bucketed")
    def bucketedRoot: String = backendRoot.getOrElse(
      throw new IllegalArgumentException("backend=bucketed needs backendRoot"))
    def newBackend(): StateBackend =
      if (!bucketed) StateBackend.Memory
      else new BucketedParquetBackend(spark, bucketedRoot,
          Option(conf.get("buckets")).map(_.asInt()).getOrElse(16),
          Option(conf.get("compactEvery")).map(_.asInt()).getOrElse(4))
    val filter = hook[RecordFilter](conf, "filterClass", Compaction.passThrough)
    val strategy = hook[QueueingStrategy](conf, "strategyClass", QueueingStrategy.allMedium)

    if (cli.verifyState) {
      // reference parity: verify runs alone. It reads the durable state
      // (or, without one, the newest backup) into a memory-backend
      // engine, so it writes nothing to either root.
      val engine = new IncrementalDenormalizer(spark, trees, keyFields,
        valueSchemas, filter, strategy)
      if (bucketed)
        engine.loadStateTables(BucketedParquetBackend.latest(spark, bucketedRoot))
      else
        backupUri.foreach(u => StateOps.restore(engine, u, StateOps.RestoreMode.WhenNeeded))
      val violations = StateOps.verifyState(engine)
      violations.foreach(v => System.err.println(s"[graft] VIOLATION: $v"))
      println(s"[graft] verify-state: ${violations.size} violations")
      return violations.size
    }

    if (cli.restore) {
      val engine = new IncrementalDenormalizer(spark, trees, keyFields,
        valueSchemas, filter, strategy, backend = newBackend())
      val mode = str(conf, "restoreMode").map(StateOps.RestoreMode.byName)
        .getOrElse(StateOps.RestoreMode.Always)
      val from = StateOps.restore(engine,
        backupUri.getOrElse(throw new IllegalArgumentException(
          "restore needs backupUri")), mode)
      println(s"[graft] restored from ${from.getOrElse("(nothing)")}")
    }

    if (cli.build) {
      val sink: StreamRunner.DocSink = str(conf, "sink") match {
        case Some("console") => StreamRunner.DocSinks.console
        case Some("parquet") => StreamRunner.DocSinks.parquet(
          str(conf, "sinkPath").getOrElse(throw new IllegalArgumentException(
            "sink=parquet needs sinkPath")))
        case _ => StreamRunner.DocSinks.noop
      }
      val changelog =
        changelogStream(spark, topicsDir, entities, keySchemas, valueSchemas)
      // `triggerMs` switches to a continuous micro-batch cadence (the
      // reference's run-forever loop); default is one bounded drain.
      val trigger = Option(conf.get("triggerMs")).map(_.asLong()) match {
        case Some(ms) => org.apache.spark.sql.streaming.Trigger.ProcessingTime(ms)
        case None => org.apache.spark.sql.streaming.Trigger.AvailableNow()
      }
      val (engine, query) = StreamRunner.start(
        spark, changelog, trees, keyFields, keySchemas, valueSchemas,
        filter, strategy,
        checkpointDir = str(conf, "checkpointDir"),
        sink = sink,
        stateRoot = backupUri,
        backupEvery = Option(conf.get("backupEvery")).map(_.asInt()).getOrElse(1),
        backupsToKeep =
          Option(conf.get("backupsToKeep")).map(_.asInt()).getOrElse(5),
        backend = newBackend(),
        trigger = trigger)
      val metrics = new EngineMetricsListener(engine)
      spark.streams.addListener(metrics)
      try query.awaitTermination()
      finally spark.streams.removeListener(metrics)
      // gauges read the live counters — the reference's end-of-run
      // metrics report under its dotted names (metric/Metrics.java)
      metrics.registry.getGauges.forEach { (name, g) =>
        println(s"[graft] $name = ${g.getValue}")
      }
    }
    0
  }

  def main(args: Array[String]): Unit = {
    val cli = parse(args)
    if (cli.help) { println(usage); return }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // sys.exit inside try/finally would skip the finally block
    // (System.exit never unwinds), so stop the session FIRST and only
    // then exit with a nonzero code.
    val code =
      try run(cli, spark)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
