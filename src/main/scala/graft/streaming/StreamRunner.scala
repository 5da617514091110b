package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.core.Relation
import graft.operators.Filters.RecordFilter
import graft.operators.Compaction

/** Structured Streaming front-end for the incremental denormalizer.
  *
  * The reference consumes one Kafka topic per entity and continuously
  * rebuilds affected documents (reference: Southpaw.java:253-284). The
  * Spark-native equivalent is a single streaming query over a unified
  * changelog whose rows carry `(entity, offset, key_json, value_json)`,
  * with `foreachBatch` driving [[IncrementalDenormalizer.processBatch]]
  * per micro-batch — the dirty-set machinery IS the batch delta, and
  * the checkpoint supplies restart offsets (vs the reference's
  * hand-rolled offset keyspaces, topic/BaseTopic.java:89-101). Delivery
  * is at-least-once: a batch replayed after its durable commit can drop
  * a root's update (see [[DocSink]]; ROADMAP direction 1).
  *
  * Kafka wiring (untestable offline — the connector jar isn't in this
  * environment) is a drop-in source swap:
  * {{{
  *   spark.readStream.format("kafka")
  *     .option("kafka.bootstrap.servers", servers)
  *     .option("subscribePattern", topicPrefix + ".*")
  *     .option("startingOffsets", "earliest").load()
  *     .select(
  *       regexp_replace(col("topic"), topicPrefix, "").as("entity"),
  *       col("offset"),
  *       col("key").cast("string").as("key_json"),
  *       col("value").cast("string").as("value_json"))
  * }}}
  * An empty/null `value_json` is a tombstone, exactly like the
  * reference's null Kafka record value.
  */
object StreamRunner {

  /** Per-batch document sinks — the reference's output-topic
    * implementations (Kafka/console/black-hole,
    * topic/{KafkaTopic,ConsoleTopic,BlackHoleTopic}.java). Each
    * receives (tree name, changed docs: __pk/doc_json/__deleted,
    * micro-batch id); a null doc_json row is a tombstone. The batch id
    * is stable across a foreachBatch REPLAY (failure between sink
    * write and checkpoint commit), so a sink can key its writes per
    * batch. A replay does not always emit what the original emitted: over
    * a durable backend that already committed the batch, the replay's
    * fold finds nothing changed for a moved child's OLD parent, so that
    * root's update is missing from the replay (ROADMAP direction 1). */
  type DocSink = (String, org.apache.spark.sql.DataFrame, Long) => Unit

  object DocSinks {
    /** Print changed docs (reference ConsoleTopic.java:65-73). */
    val console: DocSink = (name, docs, _) =>
      docs.select(hex(col("__pk")).as("pk"), col("doc_json"))
        .collect().foreach(r => println(s"[$name] ${r.get(0)} -> ${r.get(1)}"))
    /** Discard (reference BlackHoleTopic.java:63-65). */
    val noop: DocSink = (_, _, _) => ()
    /** Changed docs as parquet, one dir per tree, one OVERWRITTEN
      * partition dir per micro-batch: a replayed batch rewrites its own
      * `batch_id=<n>` dir instead of appending duplicates. That is not
      * idempotent after a durable commit: the replay can omit a moved
      * child's old parent (see [[DocSink]]), and the overwrite then drops
      * that root's update (ROADMAP direction 1).
      * `spark.read.parquet(root/tree)` sees all batches (batch_id is a
      * discovered partition column). */
    def parquet(root: String): DocSink = (name, docs, batchId) =>
      docs.select(hex(col("__pk")).as("pk"), col("doc_json"), col("__deleted"))
        .write.mode("overwrite").parquet(s"$root/$name/batch_id=$batchId")

    /** One tree's changed docs in the Kafka producer record shape
      * `(key binary, value binary, topic string)` — the reference's
      * output-topic write (topic/KafkaTopic.java:425-434): key = the
      * document's canonical-PK bytes (the very bytes the engine keys
      * state by, so keyed compaction of the output topic groups
      * correctly), value = the doc JSON in bytes (the reference's
      * jackson output serde, H5) — NULL for a tombstoned doc, Kafka's
      * native delete marker. For Avro-valued output topics swap the
      * value column for `Serdes.byName("avro").encode(...)`. */
    def kafkaFrame(name: String, docs: DataFrame, topicPrefix: String = ""): DataFrame =
      docs.select(
        col("__pk").as("key"),
        when(col("__deleted"), lit(null).cast(BinaryType))
          .otherwise(col("doc_json").cast(BinaryType)).as("value"),
        lit(topicPrefix + name).as("topic"))

    /** Kafka producer sink. The frame side is unit-tested
      * (KafkaWiringSpec round-trips it through [[kafkaToChangelog]]);
      * the final `.save()` needs the spark-sql-kafka connector jar,
      * absent in this offline environment. */
    def kafka(servers: String, topicPrefix: String = ""): DocSink = (name, docs, _) =>
      kafkaFrame(name, docs, topicPrefix)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .save()
  }

  /** Unified changelog schema for streaming sources. */
  val changelogSchema: StructType = StructType(Seq(
    StructField("entity", StringType),
    StructField("offset", LongType),
    StructField("key_json", StringType),
    StructField("value_json", StringType)))

  /** Map the Kafka connector's fixed output shape
    * `(topic, partition, offset, key binary, value binary, …)` to the
    * unified changelog, for JSON-serialized topics (reference
    * serde/JsonSerde.java): entity = topic minus `topicPrefix`, null
    * or EMPTY value = tombstone (the reference's null Kafka record,
    * filter/BaseFilter.java:149-160).
    *
    * This is the exact transform the scaladoc above sketches, as a
    * compile-checked, unit-tested function — `spark.readStream
    * .format("kafka").…load()` pipes straight into it. Offsets order
    * the per-key fold; Kafka guarantees per-key monotonic offsets via
    * partition affinity of keyed topics, which is the same ordering
    * contract the reference relies on.
    */
  def kafkaToChangelog(raw: DataFrame, topicPrefix: String): DataFrame =
    raw.select(
      expr(s"substring(topic, ${topicPrefix.length + 1})").as("entity"),
      col("offset").cast(LongType).as("offset"),
      col("key").cast(StringType).as("key_json"),
      when(length(col("value")) === 0, lit(null).cast(StringType))
        .otherwise(col("value").cast(StringType)).as("value_json"))

  /** Same mapping for Confluent-Avro-serialized topics (reference
    * serde/AvroSerde.java): each entity's key/value bytes decode
    * through [[graft.sources.AvroCodec]] against its declared schemas,
    * then re-render as the changelog's JSON — one pure Column
    * expression per entity, fused into a single CASE chain. Null or
    * empty payloads decode to null (tombstone). */
  def kafkaAvroToChangelog(
      raw: DataFrame,
      topicPrefix: String,
      keySchemas: Map[String, StructType],
      valueSchemas: Map[String, StructType]): DataFrame =
    kafkaAvroToChangelog(raw, topicPrefix, keySchemas, valueSchemas,
      graft.sources.Serdes.byName("avro"))

  /** Registry-aware variant: payloads decode against the writer schema
    * their Confluent header id names (pass
    * `Serdes.avro(resolver: SchemaResolver)`), so topics carrying
    * records written under several schema versions decode in one
    * stream — the reference's registry path (serde/AvroSerde.java:45-85). */
  def kafkaAvroToChangelog(
      raw: DataFrame,
      topicPrefix: String,
      keySchemas: Map[String, StructType],
      valueSchemas: Map[String, StructType],
      codec: graft.sources.Serdes.RecordCodec): DataFrame = {
    val entity = expr(s"substring(topic, ${topicPrefix.length + 1})")
    def decodeBy(schemas: Map[String, StructType], c: Column): Column =
      schemas.foldLeft(lit(null).cast(StringType)) { case (acc, (e, schema)) =>
        when(entity === e, to_json(codec.decode(c, schema))).otherwise(acc)
      }
    raw.select(
      entity.as("entity"),
      col("offset").cast(LongType).as("offset"),
      decodeBy(keySchemas, col("key")).as("key_json"),
      decodeBy(valueSchemas, col("value")).as("value_json"))
  }

  /** Start a streaming denormalization over a unified changelog stream.
    *
    * @param changelog streaming DataFrame with [[changelogSchema]] rows
    * @param trees     relation trees to maintain
    * @param keySchemas / valueSchemas per entity
    * @param onBatch   called after each processed micro-batch (e.g. to
    *                  push changed docs to a sink)
    */
  def start(
      spark: SparkSession,
      changelog: DataFrame,
      trees: Seq[Relation],
      keyFields: Map[String, Seq[String]],
      keySchemas: Map[String, StructType],
      valueSchemas: Map[String, StructType],
      filter: RecordFilter = Compaction.passThrough,
      strategy: QueueingStrategy = QueueingStrategy.allMedium,
      checkpointDir: Option[String] = None,
      sink: DocSink = DocSinks.noop,
      onBatch: (IncrementalDenormalizer, Long) => Unit = (_, _) => (),
      stateRoot: Option[String] = None,
      backupEvery: Int = 1,
      backupsToKeep: Int = 5,
      backend: StateBackend = StateBackend.Memory,
      trigger: Trigger = Trigger.AvailableNow())
      : (IncrementalDenormalizer, StreamingQuery) = {
    val engine = new IncrementalDenormalizer(
      spark, trees, keyFields, valueSchemas, filter, strategy,
      backend = backend)
    // Restart consistency: the streaming checkpoint makes committed
    // offsets skip on restart, so the engine state MUST resume from
    // where those offsets left it. The engine first adopts what its
    // backend recovers from its newest batch commit (the state of the
    // last batch whose gc() completed; nothing for the memory backend);
    // a stateRoot then restores the newest readable explicit backup
    // only if the backend had nothing (when_needed), and keeps backing
    // up every `backupEvery`-th batch. Pair either with `checkpointDir`
    // for consistent restarts: restarting an existing checkpointLocation
    // over purely in-memory state would silently skip data — use a
    // fresh checkpoint dir then.
    engine.recover()
    stateRoot.foreach(r =>
      StateOps.restore(engine, r, StateOps.RestoreMode.WhenNeeded))
    // The dangerous restart shape deserves a loud warning, not a
    // silent wrong answer: a checkpoint with committed batches skips
    // those offsets on restart, so resuming it over purely in-memory
    // state (no durable backend, no backups) loses their effects.
    for (d <- checkpointDir if !backend.durable && stateRoot.isEmpty) {
      val commits = new org.apache.hadoop.fs.Path(d, "commits")
      val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(commits) && fs.listStatus(commits).nonEmpty)
        System.err.println(
          "[graft] WARNING: resuming a committed checkpoint over in-memory " +
            "engine state — the skipped offsets' state is gone. Use a durable " +
            "backend or a stateRoot, or start from a fresh checkpoint dir.")
    }
    val entities = trees.flatMap(_.entities).distinct
    val writer = changelog.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.cache()
        try {
          // one presence job for every entity, in the engine's session
          // (its plans run interpreted): it also fills the cache
          val rows = PlanBridge.ofRows(engine.session, PlanBridge.analyzed(cached))
          val present = rows.select(col("entity")).distinct().collect()
            .map(_.getString(0)).toSet
          val perEntity = entities.filter(present).map { e =>
            e -> rows.where(col("entity") === e).select(
              col("offset"),
              from_json(col("key_json"), keySchemas(e)).as("key"),
              from_json(col("value_json"), valueSchemas(e)).as("value"))
          }.toMap
          if (perEntity.nonEmpty) {
            engine.processBatch(perEntity)
            trees.flatMap(_.denormalizedName).foreach { name =>
              val changed = engine.changedDocs(name)
              if (!changed.isEmpty) sink(name, changed, batchId)
            }
          }
          onBatch(engine, batchId)
          stateRoot.foreach { r =>
            if (backupEvery > 0 && batchId % backupEvery == 0)
              StateOps.backup(engine, r, backupsToKeep)
          }
        } finally cached.unpersist()
      }
      .trigger(trigger)
    val q = checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
    (engine, q)
  }
}
