package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Relation
import graft.core.Ckpt.CkptOps
import graft.functions.CanonicalKey.canonicalPk
import graft.operators.{Compaction, Denormalize, Filters}
import graft.operators.Filters.{FilterMode, RecordFilter}
import org.apache.spark.sql.graftbridge.PlanBridge

import scala.util.control.NonFatal

/** Queueing strategy hook — decides rebuild priority per
  * (denormalized name, triggering entity); NONE drops the rebuild
  * entirely (load shedding). Parity with the reference's
  * strategy/QueueingStrategy.java:13-31 and the NONE-drop semantics of
  * Southpaw.java:618-637.
  */
trait QueueingStrategy extends Serializable {
  import QueueingStrategy._
  def priority(denormalizedName: String, entity: String): Priority
}

object QueueingStrategy {
  sealed trait Priority
  case object None extends Priority
  case object Low extends Priority
  case object Medium extends Priority
  case object High extends Priority

  /** Default: everything rebuilds (reference default MEDIUM). */
  val allMedium: QueueingStrategy = (_: String, _: String) => Medium
}

/** Incremental view maintenance for relation trees — the Spark-native
  * re-expression of the reference's continuous build loop
  * (reference: Southpaw.java:253-284,563-637, index/Indices.java).
  *
  * Instead of per-record RocksDB point lookups, each micro-batch is
  * processed set-at-a-time with keyed state DataFrames:
  *
  *  - entity snapshots: latest record per canonical PK (the `-data`
  *    keyspaces, topic/KafkaTopic.java:193-205);
  *  - per-edge link tables `childPK → joinKey` (the join index J2,
  *    index/Indices.java:214-234 — reverse lookup gives the OLD
  *    foreign key when a child's FK flips);
  *  - per-edge rootmap tables `joinKey → rootPK` (the parent index J3,
  *    index/Indices.java:244-260) — populated lazily from document
  *    assembly exactly like the reference (Southpaw.java:342), scrubbed
  *    for a root before its rebuild (J5, Indices.java:189-205);
  *  - per-tree document state `rootPK → doc_json` (null = tombstone).
  *
  * A batch: fold changes into snapshots (filter-aware, offset order),
  * compute the dirty root set per tree by joining old+new join keys
  * against rootmaps (J4, Southpaw.java:563-594) subject to the
  * queueing strategy (NONE drops), then rebuild ONLY dirty roots with
  * the batch compiler ([[Denormalize]]) and upsert documents.
  *
  * All state lives in checkpointed DataFrames keyed by canonical PK —
  * on a cluster these map to bucketed storage or the state store, and
  * every step below is a keyed join/aggregation that shuffles on the
  * state key, so the pipeline scales horizontally with key count.
  * Incremental ≡ batch by construction for clean runs (Q-INCR): the
  * same compiler assembles documents in both modes.
  */
final class IncrementalDenormalizer(
    spark: SparkSession,
    trees: Seq[Relation],
    keyFields: Map[String, Seq[String]],
    valueSchemas: Map[String, StructType],
    filter: RecordFilter = Compaction.passThrough,
    strategy: QueueingStrategy = QueueingStrategy.allMedium,
    mediumTriggerRows: Long = 0L,
    lowDrainEvery: Int = 1,
    backend: StateBackend = StateBackend.Memory,
    maxChildrenPerEdge: Option[Int] = None) {

  import IncrementalDenormalizer._

  /** The engine's own session, in which every plan it builds runs: a
    * clone of `spark` with runtime code generation off
    * ([[PlanBridge.interpretedClone]]). One micro-batch plans about 130
    * distinct generated classes, more than Spark's JVM-wide codegen
    * cache holds (100), so with codegen every batch recompiled all of
    * them; interpreted, the batch runs faster than it compiled
    * (BENCH_AB_ivm_interpreted.md). `spark` keeps codegen, and so do
    * batch [[Denormalize]] and the other operators. Conf set on `spark`
    * after construction does not reach this session. */
  val session: SparkSession = PlanBridge.interpretedClone(spark)
  // a durable backend's frames may compose through BucketUnion, whose
  // planner strategy the clone must hold also if it was registered late
  if (backend.durable) graft.plans.BucketUnion.register(session)

  /** `df` with its plan rebound into [[session]]: every frame that
    * enters engine state goes through here, so every plan derived from
    * state runs interpreted. */
  private def bind(df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df
    else PlanBridge.ofRows(session, PlanBridge.analyzed(df))

  /** One edge of one tree: path of relations from root (inclusive) down
    * to the edge's parent node, plus the child relation. */
  private case class Edge(id: String, tree: Relation, path: Seq[Relation], child: Relation)

  private val allEntities: Set[String] = trees.flatMap(_.entities).toSet

  private def collectEdges(tree: Relation): Seq[Edge] = {
    def walk(node: Relation, path: Seq[Relation]): Seq[Edge] =
      node.children.flatMap { c =>
        val id = (path.map(_.entity) :+ node.entity :+ c.entity)
          .mkString(tree.denormalizedName.get + "|", "/", "") + "@" + c.joinKey.get
        Edge(id, tree, path :+ node, c) +: walk(c, path :+ node)
      }
    walk(tree, Nil)
  }

  private val edges: Seq[Edge] = trees.flatMap(collectEdges)

  /** Fixed partition count for long-lived state tables. Unions sum
    * their inputs' partition counts, so without this the state would
    * gain partitions every batch (tiny-task explosion); coalescing to
    * a constant before each checkpoint keeps per-batch stage counts
    * flat. The durable backend re-buckets on its own key column.
    * parallelism/2 is the measured optimum at the bench envelope
    * (q_incr sf0.1 local[32], same host back-to-back: 8.5 s at 16
    * partitions vs 10.3 s at 8 and 9.8 s at 32) — fewer partitions
    * under-parallelize the per-batch state rewrites, more pay task
    * overhead at micro-batch state sizes. */
  private val statePartitions: Int =
    math.max(spark.sparkContext.defaultParallelism / 2, 4)

  /** Materialization thunks: intra-batch temporaries always go to the
    * memory checkpoint; cross-batch STATE tables go through the
    * configured [[StateBackend]] under their stable [[stateTables]]
    * name (the durable backend writes bucketed parquet generations). */
  // Both take the frame BY NAME: a thunk whose plan depends on a
  // still-materializing async rebuild output (the dirty-root sets read
  // the previous batch's rootmaps) builds its plan inside the pool,
  // after awaiting, instead of serializing the waves on the driver.
  private def matTemp(df: => DataFrame): () => DataFrame =
    () => df.graftCkptMem()
  /** `delta` = (rows, keys) of the batch's change set for this table
    * (see [[StateBackend.persist]]): a durable backend writes only the
    * change set — the reference's WriteBatch write profile — instead
    * of the full table. */
  private def matState(name: String, df: => DataFrame,
      delta: Option[(DataFrame, DataFrame)] = None): () => DataFrame =
    () => {
      // The coalesce bounds the memory backend's localCheckpoint
      // partition count; a durable backend governs its own layout (the
      // bucketed write), and the extra plan node would also hide an
      // already-bucket-aligned recovered chain from persistFull's
      // aligned fast path — so durable frames pass through untouched.
      val src = if (backend.durable) df else df.coalesce(statePartitions)
      bind(backend.persist(name, src, delta))
    }

  /** Materialize independent state tables concurrently. Each eager
    * materialization is a blocking Spark job with a handful of tasks at
    * state-table scale, so running them back-to-back leaves most cores
    * idle; submitting them from a small thread pool overlaps the jobs
    * (Spark's scheduler is thread-safe). Order of results matches the
    * input order. */
  private def parMaterialize(thunks: Seq[() => DataFrame]): Seq[DataFrame] =
    if (thunks.lengthCompare(2) < 0) thunks.map(_.apply())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec = materializeEc
      Await.result(
        Future.sequence(thunks.map(t => Future(t.apply()))),
        Duration.Inf)
    }

  /** One plan of a batch's materialization wave: `run` materializes it,
    * and `assign` stores the result in the engine's state once the
    * whole wave is done, so every plan of the wave reads pre-batch
    * state. */
  private case class WaveItem(run: () => DataFrame, assign: DataFrame => Unit)

  /** First edge in a tree whose child entity matches — reference
    * RelationHelper.getRelation takes the first match. */
  private def firstEdgeFor(tree: Relation, entity: String): Option[Edge] =
    edges.find(e => e.tree == tree && e.child.entity == entity)

  // ---- mutable state (checkpointed DataFrames) -----------------------

  /** entity → (__pk binary, value struct) */
  private var snapshots: Map[String, DataFrame] =
    allEntities.map { e =>
      e -> emptyDf(session, StructType(Seq(
        StructField("__pk", BinaryType),
        StructField("value", valueSchemas(e)))))
    }.toMap

  /** edge id → (__cpk binary childPK, __jk binary) */
  private var links: Map[String, DataFrame] =
    edges.map(e => e.id -> emptyDf(session, linkSchema)).toMap

  // Rebuild-owned state is FUTURE-valued: [[rebuild]] submits its
  // materializations to the shared pool and returns, so a queued next
  // batch's delta wave overlaps the rebuild wave instead of waiting
  // for it at a cross-batch barrier.
  // Every consumer awaits through the typed accessors below; public
  // reads go through [[awaitPending]] so the external contract
  // (counters, docs, state tables reflect every processed batch) is
  // unchanged.
  private def completed(df: DataFrame): scala.concurrent.Future[DataFrame] =
    scala.concurrent.Future.successful(df)
  private def await[A](f: scala.concurrent.Future[A]): A =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Submit one rebuild materialization of `table` to the wave pool.
    * Its failure surfaces at whichever call awaits the future next,
    * possibly batches later, so it is rethrown naming the table and the
    * submitting batch, with the original failure as its cause. */
  private def submit[A](table: String)(body: => A): scala.concurrent.Future[A] = {
    val batch = batchIndex
    scala.concurrent.Future {
      try body catch {
        case NonFatal(e) => throw new IllegalStateException(
          s"IVM state table $table failed in batch $batch: $e", e)
      }
    }(materializeEc)
  }

  /** edge id → (__jk binary, __rpk binary rootPK) */
  private var rootmapsF: Map[String, scala.concurrent.Future[DataFrame]] =
    edges.map(e => e.id -> completed(emptyDf(session, rootmapSchema))).toMap
  private def rootmap(id: String): DataFrame = await(rootmapsF(id))

  /** tree name → (__pk binary, doc_json string nullable, __deleted) */
  private var docStateF: Map[String, scala.concurrent.Future[DataFrame]] =
    trees.map(t => t.denormalizedName.get -> completed(emptyDf(session, docSchema))).toMap

  /** Documents changed by the most recent batch, per tree (for sinks). */
  private var lastChangedF: Map[String, scala.concurrent.Future[DataFrame]] =
    trees.map(t => t.denormalizedName.get -> completed(emptyDf(session, docSchema))).toMap

  /** Block until every async rebuild materialization has landed. */
  private def awaitPending(): Unit = {
    rootmapsF.values.foreach(await(_))
    docStateF.values.foreach(await(_))
    lastChangedF.values.foreach(await(_))
  }

  /** Deferred dirty roots per tree, by priority class (MEDIUM waits
    * for `mediumTriggerRows`, LOW drains every `lowDrainEvery`-th
    * batch — reference Southpaw.java:600-637). */
  private val dirtySchema = StructType(Seq(StructField("__rpk", BinaryType)))
  private var pendingMedium: Map[String, DataFrame] =
    trees.map(t => t.denormalizedName.get -> emptyDf(session, dirtySchema)).toMap
  private var pendingLow: Map[String, DataFrame] =
    trees.map(t => t.denormalizedName.get -> emptyDf(session, dirtySchema)).toMap
  private var batchIndex: Long = 0L

  /** Cumulative engine counters, accumulated from `observe` metrics
    * that ride the batch's own materialization jobs — no extra Spark
    * jobs (reference metric/Metrics.java counters). */
  private var counterMap: Map[String, Long] = Map(
    "records_consumed" -> 0L, "delta_keys" -> 0L,
    "docs_written" -> 0L, "docs_tombstoned" -> 0L,
    "docs_truncated" -> 0L,
    "rebuilds_dropped_none" -> 0L, "batches" -> 0L)
  /** Doc counters bump inside the async rebuild jobs, so reads first
    * drain the pending wave — the contract (counters reflect every
    * processed batch) is unchanged. */
  def counters: Map[String, Long] = { awaitPending(); synchronized(counterMap) }
  private def bump(name: String, by: Long): Unit = synchronized {
    counterMap = counterMap.updated(name, counterMap.getOrElse(name, 0L) + by)
  }

  /** Read one observed metric row back from a materialized plan. */
  private def observed(df: DataFrame, name: String): Option[Row] =
    df.queryExecution.observedMetrics.get(name)

  def docs(rootName: String): DataFrame = await(docStateF(rootName))
  def changedDocs(rootName: String): DataFrame = await(lastChangedF(rootName))
  def snapshot(entity: String): DataFrame = snapshots(entity).select(col("value.*"))

  /** Point lookup of the latest record for a primary key — the
    * reference's `readByPK` (topic/KafkaTopic.java:390-398). Key values
    * must be in key-field order (sorted by name for composites). */
  def readByPk(entity: String, keyValues: Seq[Any]): Option[Row] = {
    val pk = graft.functions.CanonicalKey.encodeComposite(keyValues)
    snapshots(entity).where(col("__pk") === lit(pk))
      .select(col("value")).collect().headOption.map(_.getAs[Row]("value"))
  }

  /** Engine counters, computed on demand from state (the reference
    * reports JMX metrics, metric/Metrics.java; here the state tables
    * are the source of truth). */
  def metrics: Map[String, Long] = Map(
    "entities" -> allEntities.size.toLong,
    "trees" -> trees.size.toLong,
    "snapshot_rows" -> snapshots.values.map(_.count()).sum,
    "link_rows" -> links.values.map(_.count()).sum,
    "rootmap_rows" -> rootmapsF.values.map(await(_).count()).sum,
    "docs_live" -> docStateF.values.map(await(_).where(!col("__deleted")).count()).sum,
    "docs_tombstoned" -> docStateF.values.map(await(_).where(col("__deleted")).count()).sum)

  /** The link table (join index, childPK → joinKey) for the first edge
    * matching (child entity, join key) in any tree — test/debug API,
    * mirrors the reference's `JK|entity|joinKeyField` index naming. */
  def linkTable(childEntity: String, joinKey: String): Option[DataFrame] =
    edges.find(e => e.child.entity == childEntity && e.child.joinKey.contains(joinKey))
      .map(e => links(e.id))

  /** Rootmap tables (parent index, joinKey → rootPK) for every edge
    * matching the reference's `PaK|root|parentEntity|parentKeyField`
    * index naming (Indices.createParentIndexName) — edges sharing a
    * (parent, parentKey) each hold an identical copy. */
  def rootmapTables(rootEntity: String, parentEntity: String,
      parentKeyField: String): Seq[DataFrame] =
    edges.filter { e =>
      e.tree.entity == rootEntity && e.path.last.entity == parentEntity &&
        e.child.parentKey.contains(parentKeyField)
    }.map(e => rootmap(e.id))

  private def safeName(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** All state tables by stable name (for [[StateOps]] backup and the
    * durable backend's directory layout). */
  def stateTables: Map[String, DataFrame] =
    snapshots.map { case (e, df) => s"snapshot__$e" -> df } ++
      links.map { case (id, df) => s"links__${safeName(id)}" -> df } ++
      rootmapsF.map { case (id, f) => s"rootmap__${safeName(id)}" -> await(f) } ++
      docStateF.map { case (n, f) => s"docs__${safeName(n)}" -> await(f) } ++
      pendingMedium.map { case (n, df) => s"pending_med__${safeName(n)}" -> df } ++
      pendingLow.map { case (n, df) => s"pending_low__${safeName(n)}" -> df }

  /** Replace state tables from a backup or a durable state root (names
    * as in [[stateTables]]); missing tables keep their current (usually
    * empty) content. Loaded tables re-persist through the configured
    * backend, so a durable engine's restored state is durable too.
    *
    * Deferred-priority rows (pending_med/pending_low) restore with the
    * rest, so no queued rebuild is ever lost across a restart; only the
    * DRAIN CADENCE restarts (batchIndex resets to 0), meaning a
    * `lowDrainEvery`-batch engine may drain its LOW backlog up to N-1
    * batches later than an uninterrupted run — the same steady-state
    * lag bound as before the restart. */
  def loadStateTables(tables: Map[String, DataFrame]): Unit = {
    awaitPending() // never restore over an in-flight rebuild wave
    // One persist job per restored table; they are independent reads of
    // distinct on-disk generations, so they materialize as ONE wave
    // (sequential persists would leave the cluster mostly idle exactly
    // when a restart wants to come back fastest).
    val loaded: Map[String, DataFrame] = {
      // only names this engine owns — a backup may hold tables of
      // relations no longer configured, and those must not be persisted
      // under the live root
      val names = tables.keys.toSeq.filter(stateTables.keySet)
      // alignRestored is forced EAGERLY (matState takes the frame by
      // name): its loud schema-evolution rejection must fire before any
      // sibling restore job is submitted, or the caller's cleanup races
      // still-running persists of the other tables
      val aligned = names.map(n => alignRestored(n, bind(tables(n))))
      val out = parMaterialize(
        names.zip(aligned).map { case (n, df) => matState(n, df) })
      names.zip(out).toMap
    }
    def load(name: String, old: DataFrame): DataFrame =
      loaded.getOrElse(name, old)
    snapshots = snapshots.map { case (e, old) =>
      e -> load(s"snapshot__$e", old)
    }
    links = links.map { case (id, old) =>
      id -> load(s"links__${safeName(id)}", old)
    }
    rootmapsF = rootmapsF.map { case (id, old) =>
      id -> completed(load(s"rootmap__${safeName(id)}", await(old)))
    }
    docStateF = docStateF.map { case (n, old) =>
      n -> completed(load(s"docs__${safeName(n)}", await(old)))
    }
    pendingMedium = pendingMedium.map { case (n, old) =>
      n -> load(s"pending_med__${safeName(n)}", old)
    }
    pendingLow = pendingLow.map { case (n, old) =>
      n -> load(s"pending_low__${safeName(n)}", old)
    }
    backend.gc()
  }

  /** Schema evolution across restart: a restored snapshot table whose
    * value struct predates the CURRENTLY configured entity schema is
    * projected into it — declared fields missing from the stored rows
    * become null, removed fields drop, integral widths widen — the
    * same by-name tolerance the serde layer applies to evolved
    * payloads (reference AvroSerde semantics), so a deployment can add
    * a column to an entity and restart over its existing durable state
    * instead of rebuilding from offset zero. Non-snapshot tables have
    * engine-fixed schemas and pass through untouched. */
  private def alignRestored(name: String, df: DataFrame): DataFrame =
    if (!name.startsWith("snapshot__")) df
    else {
      val entity = name.stripPrefix("snapshot__")
      val target = valueSchemas(entity)
      if (df.schema("value").dataType == target) df
      else df.select(col("__pk"),
        alignColumn(Some(col("value")), target,
          Some(df.schema("value").dataType)).as("value"))
    }

  private def alignColumn(src: Option[Column], dt: DataType,
      srcType: Option[DataType]): Column = (src, dt, srcType) match {
    case (None, _, _) => lit(null).cast(dt)
    case (Some(c), st: StructType, Some(srcSt: StructType)) =>
      when(c.isNull, lit(null).cast(st)).otherwise(
        struct(st.fields.toSeq.map { f =>
          val has = srcSt.fieldNames.contains(f.name)
          alignColumn(
            if (has) Some(c.getField(f.name)) else None,
            f.dataType,
            if (has) Some(srcSt(f.name).dataType) else None).as(f.name)
        }: _*))
    // structs nested under containers recurse BY NAME — Spark's plain
    // Cast would match struct fields positionally, silently misaligning
    // a field inserted mid-struct inside an array/map value
    case (Some(c), ArrayType(et, n), Some(ArrayType(set, _))) =>
      when(c.isNull, lit(null).cast(ArrayType(et, n))).otherwise(
        transform(c, e => alignColumn(Some(e), et, Some(set))))
    case (Some(c), MapType(kt, vt, n), Some(MapType(skt, svt, _))) =>
      val keys = alignColumn(Some(map_keys(c)),
        ArrayType(kt, containsNull = false),
        Some(ArrayType(skt, containsNull = false)))
      val vals = alignColumn(Some(map_values(c)),
        ArrayType(vt, n), Some(ArrayType(svt, n)))
      when(c.isNull, lit(null).cast(MapType(kt, vt, n)))
        .otherwise(map_from_arrays(keys, vals))
    case (Some(c), t, Some(s)) if s == t => c
    case (Some(c), t, Some(s)) =>
      // widening-only: anything Cast.canUpCast rejects (narrowing,
      // string→numeric, ...) would truncate or null out restored state
      if (!org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(s, t))
        throw new IllegalStateException(
          s"unsupported durable-state schema evolution: $s -> $t is not a " +
            "lossless widening; rebuild state from offset zero or keep the " +
            "field's declared type")
      c.cast(t)
    case (Some(_), t, None) => throw new IllegalStateException(
      s"alignColumn: source column without a source type (target $t)")
  }

  /** Index-invariant checks (the reference's --verify-state,
    * index/Index.java:366-414): link child PKs must reference live
    * child snapshot rows; rootmap root PKs must reference live root
    * snapshot rows (scrub-on-rebuild guarantees this). */
  def indexInvariantViolations(): Seq[String] =
    edges.flatMap { edge =>
      val childSnap = snapshots(edge.child.entity).select(col("__pk").as("__cpk"))
      val orphanLinks = links(edge.id).join(childSnap, Seq("__cpk"), "left_anti").count()
      val rootSnap = snapshots(edge.tree.entity).select(col("__pk").as("__rpk"))
      val orphanRoots = rootmap(edge.id).join(rootSnap, Seq("__rpk"), "left_anti").count()
      Seq(
        if (orphanLinks > 0) Some(s"${edge.id}: $orphanLinks link rows reference dead child PKs") else None,
        if (orphanRoots > 0) Some(s"${edge.id}: $orphanRoots rootmap rows reference dead root PKs") else None
      ).flatten
    }

  // ---- batch processing ---------------------------------------------

  /** Process one micro-batch of changelog DataFrames per entity
    * (columns: offset Long, key struct, value struct|null).
    *
    * Materialization is ONE wave before the per-tree rebuild: the
    * dirty-root sets, snapshot updates, link updates and
    * deferred-priority sets each re-derive their entity's
    * (map-side-combinable) delta fold inline from a LAZY view, and all
    * of them read only PRE-batch state, so they are mutually
    * independent by construction. No fold is materialized on its own:
    * the rebuild reads the drained dirty sets and the updated state.
    * The plans run interpreted in [[session]]: at micro-batch scale,
    * compiling them cost more than running them
    * (BENCH_AB_ivm_interpreted.md).
    */
  def processBatch(changes: Map[String, DataFrame]): Unit = {
    batchIndex += 1
    bump("batches", 1L)
    // reset per-batch change tracking
    lastChangedF = trees.map(t =>
      t.denormalizedName.get -> completed(emptyDf(session, docSchema))).toMap
    // 1. fold each entity's changes against prior state (filter-aware),
    // as LAZY views: each plan of the wave re-runs its fold inline, so
    // the wave has one barrier, and every plan reads the SAME pre-batch
    // state.
    val inputs: Map[String, DataFrame] = changes.collect {
      case (entity, df) if allEntities.contains(entity) => entity -> bind(df)
    }
    val lazyDeltas: Map[String, DataFrame] =
      inputs.map { case (entity, df) => entity -> foldDelta(entity, df) }

    // Per-tree per-priority dirty-root sets plus snapshot and link
    // updates, all derived from (lazy deltas, pre-batch state). State
    // vars are reassigned only after the wave, so every plan in it
    // reads consistent pre-batch state.
    val drainLowNow = batchIndex % math.max(lowDrainEvery, 1) == 0

    // (tree, priority) -> dirty parts from this batch's deltas. A
    // changed record dirties roots through EVERY position it holds in
    // the tree: as the root entity (its own document) and as the child
    // of EACH edge whose child entity matches — the parents whose
    // child lists it enters/leaves, per edge, on that edge's own join
    // key. The parts are additive: self-referential trees (manager →
    // reports) put one entity in both roles, and diamond trees hang
    // one entity under several edges with different FKs; restricting
    // to the first matching edge left the other paths' parents stale
    // (SelfReferenceSpec, DiamondEdgeSpec pin the FK-flip cases).
    def dirtyParts(tree: Relation,
        wanted: QueueingStrategy.Priority => Boolean): Seq[DataFrame] =
      lazyDeltas.toSeq.flatMap { case (entity, delta) =>
        val name = tree.denormalizedName.get
        val pri = strategy.priority(name, entity)
        if (!wanted(pri)) Nil
        else {
          val rootPart =
            if (tree.entity == entity)
              Some(delta.select(col("__pk").as("__rpk")))
            else None
          val edgeParts = edges
            .filter(e => e.tree == tree && e.child.entity == entity)
            .map { edge =>
              val jkField = edge.child.joinKey.get
              val newJks = delta.where(col("value").isNotNull)
                .select(canonicalPk(Seq(col("value").getField(jkField))).as("__jk"))
              val oldJks = delta.join(links(edge.id),
                delta("__pk") === links(edge.id)("__cpk"), "inner")
                .select(col("__jk"))
              val jks = newJks.union(oldJks).where(col("__jk").isNotNull).distinct()
              // rootmap(·) AWAITS the previous batch's async rootmap
              // materialization — called inside this thunk's pool
              // thread, so the rest of the delta wave (folds, snapshot
              // and link updates) runs concurrently with that rebuild
              // tail instead of the driver serializing the two waves.
              rootmap(edge.id).join(jks, "__jk").select(col("__rpk"))
            }
          rootPart.toSeq ++ edgeParts
        }
      }
    def unionParts(parts: Seq[DataFrame]): DataFrame =
      if (parts.isEmpty) emptyDf(session, dirtySchema)
      else parts.reduce(_ union _).distinct()

    val mediumImmediate = mediumTriggerRows <= 0L
    // per tree: drain-now set, plus pending medium/low ONLY when the
    // configuration can actually defer (the default immediate mode
    // materializes nothing extra). PLAN BUILDERS, not plans: a dirty
    // part reads the previous batch's rootmaps, which may still be
    // materializing async — the builder runs inside the wave thunk's
    // pool thread and awaits there, so independent wave jobs proceed.
    var dirtySets = Map.empty[String, DataFrame]
    val dirtyWave: Seq[WaveItem] = trees.flatMap { tree =>
      val name = tree.denormalizedName.get
      def high = dirtyParts(tree, _ == QueueingStrategy.High)
      def med = dirtyParts(tree, _ == QueueingStrategy.Medium)
      def low = dirtyParts(tree, _ == QueueingStrategy.Low)
      def drainNowParts =
        high ++ (if (mediumImmediate) med else Nil) ++ (if (drainLowNow) low else Nil)
      def drainBase =
        if (drainLowNow) Seq(pendingLow(name)) else Nil
      Seq(WaveItem(matTemp(unionParts(drainNowParts ++ drainBase)),
          df => dirtySets = dirtySets.updated(name, df))) ++
        (if (mediumImmediate) Nil
         else Seq(WaveItem(matState(s"pending_med__${safeName(name)}",
             unionParts(med :+ pendingMedium(name))),
           df => pendingMedium = pendingMedium.updated(name, df)))) ++
        (if (drainLowNow) Nil
         else Seq(WaveItem(matState(s"pending_low__${safeName(name)}",
             unionParts(low :+ pendingLow(name))),
           df => pendingLow = pendingLow.updated(name, df))))
    }

    // Snapshot/link updates carry their change set (new rows + changed
    // keys) alongside the full plan: the durable backend persists just
    // the change set as a delta generation, so its write cost scales
    // with the batch, not the state (RocksDBState.java:611-636 parity).
    // The snapshot update also carries the fold's counters (records
    // in, delta keys out) as observe metrics, so they cost no job of
    // their own. The memory backend checkpoints the update itself, and
    // the metrics ride that job. A durable backend runs only the change
    // set's writes, whose executions the engine never sees, so there
    // the fold is checkpointed first: the metrics ride that job, and
    // both writes read its blocks instead of re-running the fold.
    val snapEntities: Seq[String] = lazyDeltas.keys.toSeq
    def snapUpdate(entity: String): () => DataFrame = () => {
      val observedDelta = foldDelta(entity,
          inputs(entity).observe(s"graft_in_$entity", count(lit(1)).as("n")))
        .observe(s"graft_delta_$entity", count(lit(1)).as("n"))
      val delta =
        if (backend.durable) observedDelta.graftCkptMem() else observedDelta
      val changedKeys = delta.select(col("__pk"))
      val newRows =
        delta.where(col("value").isNotNull).select(col("__pk"), col("value"))
      val kept = snapshots(entity).join(changedKeys, Seq("__pk"), "left_anti")
      val full = kept.unionByName(newRows)
      // as in matState: the coalesced frame is the one the memory
      // backend checkpoints, so its execution holds the metrics
      val src = if (backend.durable) full else full.coalesce(statePartitions)
      val out = bind(backend.persist(s"snapshot__$entity", src,
        Some((newRows, changedKeys))))
      countDelta(entity, if (backend.durable) observedDelta else src)
      out
    }
    val linkUpdates: Seq[(String, DataFrame, (DataFrame, DataFrame))] =
      lazyDeltas.toSeq.flatMap { case (entity, delta) =>
        edges.filter(_.child.entity == entity).map { edge =>
          val jkField = edge.child.joinKey.get
          val changedKeys = delta.select(col("__pk").as("__cpk"))
          val newLinks = delta.where(col("value").isNotNull)
            .select(col("__pk").as("__cpk"),
              canonicalPk(Seq(col("value").getField(jkField))).as("__jk"))
            .where(col("__jk").isNotNull)
          val keptLinks = links(edge.id).join(
            changedKeys, Seq("__cpk"), "left_anti")
          (edge.id, keptLinks.unionByName(newLinks), (newLinks, changedKeys))
        }
      }

    val wave: Seq[WaveItem] = dirtyWave ++
      snapEntities.map(e => WaveItem(snapUpdate(e),
        df => snapshots = snapshots.updated(e, df))) ++
      linkUpdates.map { case (id, df, d) =>
        WaveItem(matState(s"links__${safeName(id)}", df, Some(d)),
          out => links = links.updated(id, out))
      }
    parMaterialize(wave.map(_.run)).zip(wave).foreach {
      case (df, item) => item.assign(df)
    }
    if (drainLowNow) // drained this batch → reset without a job
      trees.foreach(t => pendingLow =
        pendingLow.updated(t.denormalizedName.get, emptyDf(session, dirtySchema)))

    // MEDIUM trigger check (only when deferral is configured — the
    // count here is the one deliberate extra job of the deferred mode).
    if (!mediumImmediate) {
      trees.foreach { tree =>
        val name = tree.denormalizedName.get
        if (pendingMedium(name).count() >= mediumTriggerRows) {
          dirtySets = dirtySets.updated(name,
            dirtySets(name).union(pendingMedium(name)).distinct()
              .graftCkptMem())
          pendingMedium = pendingMedium.updated(name, emptyDf(session, dirtySchema))
        }
      }
    }

    // 3. rebuild drained dirty roots per tree. Each rebuild SUBMITS its
    // materializations (rootmap re-registrations, document upserts) to
    // the pool and returns: several trees' rebuild waves overlap each
    // other, and — when the caller queues another batch immediately, the
    // bench/replay shape — the next batch's delta wave overlaps this
    // rebuild's tail (its dirty thunks await the rootmap futures in the
    // pool; see dirtyWave). Results are identical: every consumer of
    // rebuild-owned state awaits through the accessors.
    trees.foreach { tree =>
      val name = tree.denormalizedName.get
      val dirty = dirtySets(name)
      if (!dirty.isEmpty) rebuild(tree, dirty)
    }
    // 4. a durable backend commits the batch and drops what it
    // superseded: drain the async wave first, so the commit names every
    // table this batch wrote and no in-flight job reads a dropped
    // generation (the memory backend has no gc, so it keeps the full
    // cross-batch overlap).
    if (backend.durable) {
      awaitPending()
      backend.gc()
    }
  }

  /** Bump the fold counters from the observe metrics of `executed`, the
    * materialized frame whose plan ran the entity's observed fold. */
  private def countDelta(entity: String, executed: DataFrame): Unit = {
    observed(executed, s"graft_in_$entity")
      .foreach(r => bump("records_consumed", r.getLong(0)))
    observed(executed, s"graft_delta_$entity").foreach { r =>
      bump("delta_keys", r.getLong(0))
      // NONE drops are counted off the observed delta size — no extra
      // job (reference Southpaw.java:618-637 load shedding).
      trees.foreach { tree =>
        val affects = tree.entity == entity || firstEdgeFor(tree, entity).nonEmpty
        if (affects &&
            strategy.priority(tree.denormalizedName.get, entity) == QueueingStrategy.None)
          bump("rebuilds_dropped_none", r.getLong(0))
      }
    }
  }

  /** Fold one entity's batch changes into a per-key delta:
    * (__pk, value|null) — value null means the key's state after the
    * batch is deleted. Consults the record filter per change in offset
    * order, seeded with the pre-batch snapshot value (reference
    * semantics: filter sees the previous state,
    * filter/BaseFilter.java:88). */
  private def foldDelta(entity: String, changes: DataFrame): DataFrame = {
    val valueSchema = valueSchemas(entity)
    val kf = keyFields(entity)
    // A Column fast path (e.g. deleteWhere) compiles into the changelog
    // up front, and no custom filter leaves it as is: either way the
    // fold is plain newest-change-wins (so a columnMode-only filter can
    // never silently no-op through the row path). max_by as a
    // declarative aggregate gets map-side partial aggregation (a window
    // would shuffle and sort every change). The struct wrap keeps
    // tombstones (null value) as real rows: struct(value) is never
    // null, so max_by can't skip them.
    Filters.applyChangelog(changes, entity, filter)
      .orElse(Option.when(filter eq Compaction.passThrough)(changes))
      .foreach { pre =>
        return pre.select(
            canonicalPk(kf.map(f => col("key").getField(f))).as("__pk"),
            col("offset"), col("value"))
          .groupBy("__pk")
          .agg(max_by(struct(col("value")), col("offset"))
            .getField("value").as("value"))
      }
    val prepared = changes.select(
      canonicalPk(kf.map(f => col("key").getField(f))).as("__pk"),
      struct(col("offset"), col("value")).as("__ov"))
      .groupBy("__pk")
      .agg(sort_array(collect_list(col("__ov"))).as("__ovs"))
      .join(snapshots(entity).withColumnRenamed("value", "__old"), Seq("__pk"), "left_outer")
    val outSchema = StructType(Seq(
      StructField("__pk", BinaryType),
      StructField("value", valueSchema)))
    val f = filter
    val e = entity
    prepared.map { row =>
      var state: Option[Row] = Option(row.getAs[Row]("__old"))
      row.getAs[Seq[Row]]("__ovs").foreach { ov =>
        Option(ov.getAs[Row]("value")) match {
          case scala.None => state = scala.None // tombstone
          case Some(v) => f.filter(e, v, state) match {
            case FilterMode.Update => state = Some(v)
            case FilterMode.Skip =>
            case FilterMode.Delete => state = scala.None
          }
        }
      }
      Row(row.getAs[Array[Byte]]("__pk"), state.orNull)
    }(Encoders.row(outSchema))
  }

  /** Rebuild the documents for a set of dirty root PKs: scrub rootmaps,
    * re-assemble via the batch compiler restricted to the dirty set,
    * re-register rootmap entries from the assembly paths, upsert docs
    * (missing roots ⇒ null doc tombstones, Southpaw.java:335,379-380). */
  private def rebuild(tree: Relation, dirty: DataFrame): Unit = {
    val name = tree.denormalizedName.get

    // J5 scrub: drop dirty roots from every rootmap of this tree.
    // Local plans over the awaited previous values — the async updates
    // below replace the map entries wholesale.
    val scrubbed: Map[String, DataFrame] =
      edges.filter(_.tree == tree).map { edge =>
        edge.id -> rootmap(edge.id).join(dirty, Seq("__rpk"), "left_anti")
      }.toMap

    // Restrict the root entity to dirty PKs; assemble with the SAME
    // compiler as batch mode (Q-INCR equivalence by construction).
    val rootSnap = snapshots(tree.entity)
    val restrictedRoot =
      rootSnap.join(dirty, rootSnap("__pk") === dirty("__rpk"), "left_semi")
        .select(col("value.*"))
    // Cascade the dirty restriction down the tree: each child table is
    // semi-joined to the reachable parent key values, so rebuild work
    // scales with the dirty neighborhood, not with full table sizes —
    // a rebuild of K roots never re-aggregates the whole child corpus.
    // A superset per entity is safe (extra child groups simply find no
    // parent in the left join); diamond entities union their
    // per-position restrictions.
    val restricted = scala.collection.mutable.Map[String, List[DataFrame]]()
    def walkRestrict(node: Relation, nodeDf: DataFrame): Unit =
      node.children.foreach { edge =>
        val childSnap = snapshot(edge.entity)
        // no distinct on the probe side: left_semi already dedups, and
        // the saved shuffle beats the smaller probe at dirty-set scale
        val parentKeys = nodeDf
          .select(canonicalPk(Seq(nodeDf(edge.parentKey.get))).as("__k"))
          .where(col("__k").isNotNull)
        val r = childSnap.join(parentKeys,
          canonicalPk(Seq(childSnap(edge.joinKey.get))) === col("__k"), "left_semi")
        restricted(edge.entity) = r :: restricted.getOrElse(edge.entity, Nil)
        walkRestrict(edge, r)
      }
    walkRestrict(tree, restrictedRoot)
    // Dedup is only needed when an entity sits at SEVERAL positions of
    // the tree (diamond) — a single left_semi restriction never
    // duplicates rows, so the common shape skips that whole shuffle.
    val restrictedDedup: Map[String, DataFrame] = restricted.toMap.map {
      case (e, one :: Nil) => e -> one
      case (e, several) =>
        e -> several.reduce(_ unionByName _).dropDuplicates(keyFields(e))
    }
    val tables: String => DataFrame = e =>
      if (e == tree.entity) restrictedRoot
      else restrictedDedup.getOrElse(e, snapshot(e))
    // Not checkpointed: consumed exactly once, into newDocsCp below —
    // a separate materialization pass would be pure overhead.
    val assembled = Denormalize.documents(tree, tables, keyFields,
        maxChildrenPerEdge)
      .select(col("__pk") +: col("doc_json") +:
        (if (maxChildrenPerEdge.isDefined) Seq(col("__truncated")) else Nil): _*)

    // J3 re-register: for each edge, walk the path root→parent with
    // inner joins over live snapshots (a node registers only if its
    // record exists — lazy parent index, Southpaw.java:342).
    // Each update also carries its change set for the durable backend:
    // removed rows are exactly the scrubbed (__rpk ∈ dirty) ones and
    // added rows are regs — both dirty-neighborhood-sized, so a delta
    // generation needs neither a full-table read nor a full write.
    val rootmapUpdates: Seq[(String, DataFrame, (DataFrame, DataFrame))] =
      edges.filter(_.tree == tree).map { edge =>
        var cur = restrictedRoot
          .withColumn("__rpk", canonicalPk(keyFields(tree.entity).map(col)))
        // walk down path (path.head is the root node itself)
        edge.path.zip(edge.path.drop(1)).foreach { case (parent, childNode) =>
          val childSnap = tables(childNode.entity)
          val pk = canonicalPk(Seq(cur(childNode.parentKey.get)))
          val jk = canonicalPk(Seq(childSnap(childNode.joinKey.get)))
          cur = cur.select(col("__rpk"), pk.as("__join"))
            .join(childSnap.withColumn("__cjk", jk), col("__join") === col("__cjk"))
            .drop("__join", "__cjk")
        }
        val regs = cur.select(col("__rpk"),
          canonicalPk(Seq(cur(edge.child.parentKey.get))).as("__jk"))
          .where(col("__jk").isNotNull).distinct()
          .select(col("__jk"), col("__rpk"))
        // No distinct on the union: the scrub removed every dirty root
        // from the old rootmap and regs contains ONLY dirty roots, so
        // the two sides are disjoint by construction.
        (edge.id, scrubbed(edge.id).unionByName(regs),
          (regs, dirty))
      }

    // Upsert document state; dirty roots with no assembled doc get a
    // null-document tombstone. The doc counters ride this job as
    // observe metrics. newDocs, the rootmap re-registrations AND the
    // kept-documents side all derive from restrictedRoot + dirty +
    // pre-rebuild state, so they materialize as ONE wave (assembly,
    // path walks and the anti-join overlap).
    //
    // Memory backend: the post-batch docState is the LAZY union of the
    // two checkpointed frames — its lineage stays two levels deep
    // forever because the next batch's `kept` re-materializes it, so
    // no extra barrier is ever paid. Durable backend: one wave thunk
    // runs the newDocs checkpoint (lastChanged + observe metrics
    // ride it), then the docs-table write — the union re-reads the
    // just-checkpointed blocks, so the assembly still runs once, and
    // the rootmap writes overlap the whole chain.
    val truncCol =
      if (maxChildrenPerEdge.isDefined) coalesce(col("__truncated"), lit(0L))
      else lit(0L)
    val newDocs = dirty.join(assembled, dirty("__rpk") === assembled("__pk"), "left_outer")
      .select(col("__rpk").as("__pk"), col("doc_json"),
        col("doc_json").isNull.as("__deleted"), truncCol.as("__tr"))
      .observe(s"graft_docs_${safeName(name)}_$batchIndex",
        count(lit(1)).as("n"),
        sum(when(col("doc_json").isNull, 1L).otherwise(0L)).as("tomb"),
        sum(col("__tr")).as("trunc"))
      .drop("__tr")
    val dirtyPks = dirty.withColumnRenamed("__rpk", "__pk")
    val kept = await(docStateF(name)).join(dirtyPks, Seq("__pk"), "left_anti")
    // Async submission (no barrier here): the rootmap and doc jobs of
    // this tree overlap each other, other trees' rebuilds, and — when
    // batches queue — the NEXT batch's delta wave. Consumers await via
    // the accessors; the doc counters bump inside the doc job itself so
    // `counters` (which drains the wave) never under-reports.
    implicit val ec = materializeEc
    val metricName = s"graft_docs_${safeName(name)}_$batchIndex"
    // read from the PRE-checkpoint frame: the observe rides newDocs'
    // own execution (triggered by the checkpoint); the checkpointed
    // result is a fresh LogicalRDD with no observed metrics
    def bumpDocCounters(): Unit =
      observed(newDocs, metricName).foreach { r =>
        val tomb = if (r.isNullAt(1)) 0L else r.getLong(1)
        bump("docs_written", r.getLong(0) - tomb)
        bump("docs_tombstoned", tomb)
        bump("docs_truncated", if (r.isNullAt(2)) 0L else r.getLong(2))
      }
    val docsTable = s"docs__${safeName(name)}"
    rootmapUpdates.foreach { case (id, df, d) =>
      val table = s"rootmap__${safeName(id)}"
      val thunk = matState(table, df, Some(d))
      rootmapsF = rootmapsF.updated(id, submit(table)(thunk()))
    }
    if (!backend.durable) {
      val newDocsF = submit(s"$docsTable (new documents)") {
        val nd = newDocs.graftCkptMem()
        bumpDocCounters()
        nd
      }
      val keptF = submit(s"$docsTable (kept documents)") {
        kept.coalesce(statePartitions).graftCkptMem()
      }
      lastChangedF = lastChangedF.updated(name, newDocsF)
      // Lazy union of the two checkpointed frames, composed once both
      // land — same two-level lineage as before.
      docStateF = docStateF.updated(name,
        newDocsF.flatMap(nd => keptF.map(_.unionByName(nd))))
    } else {
      val docPairF = submit(docsTable) {
        val nd = newDocs.graftCkptMem()
        bumpDocCounters()
        // change set: nd covers EVERY dirty root (tombstones are real
        // rows), so (rows = nd, keys = dirty) upserts exactly
        val full = bind(backend.persist(docsTable,
          kept.unionByName(nd).coalesce(statePartitions),
          Some((nd, dirtyPks))))
        (nd, full)
      }
      lastChangedF = lastChangedF.updated(name, docPairF.map(_._1))
      docStateF = docStateF.updated(name, docPairF.map(_._2))
    }
  }
}

object IncrementalDenormalizer {
  /** Small daemon pool for concurrent state-table materialization —
    * shared with [[IncrementalAggregate]] (see [[Waves]]). */
  private def materializeEc: scala.concurrent.ExecutionContext = Waves.ec

  private val linkSchema = StructType(Seq(
    StructField("__cpk", BinaryType), StructField("__jk", BinaryType)))
  private val rootmapSchema = StructType(Seq(
    StructField("__jk", BinaryType), StructField("__rpk", BinaryType)))
  private val docSchema = StructType(Seq(
    StructField("__pk", BinaryType), StructField("doc_json", StringType),
    StructField("__deleted", BooleanType)))

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
}
