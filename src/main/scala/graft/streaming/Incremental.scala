package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Relation
import graft.functions.CanonicalKey.canonicalPk
import graft.operators.{Compaction, Denormalize, Filters}
import graft.operators.Filters.{FilterMode, RecordFilter}
import org.apache.spark.sql.graftbridge.PlanBridge

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
  private case class Edge(id: String, tree: Relation, path: Seq[Relation], child: Relation) {
    val links = s"links__${safeName(id)}"
    val rootmap = s"rootmap__${safeName(id)}"
  }

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

  /** Persist `df` as state table `name` through the configured
    * [[StateBackend]]. `delta` = (rows, keys) of the batch's change set
    * for this table (see [[StateBackend.persist]]): a durable backend
    * writes only the change set — the reference's WriteBatch write
    * profile — instead of the full table. */
  private def persist(name: String, df: DataFrame,
      delta: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // The coalesce bounds the memory backend's localCheckpoint
    // partition count; a durable backend governs its own layout (the
    // bucketed write), and the extra plan node would also hide an
    // already-bucket-aligned recovered chain from persistFull's
    // aligned fast path — so durable frames pass through untouched.
    val src = if (backend.durable) df else df.coalesce(statePartitions)
    bind(backend.persist(name, src, delta))
  }

  /** First edge in a tree whose child entity matches — reference
    * RelationHelper.getRelation takes the first match. */
  private def firstEdgeFor(tree: Relation, entity: String): Option[Edge] =
    edges.find(e => e.tree == tree && e.child.entity == entity)

  // ---- state: one map of nodes ---------------------------------------

  /** Every state table by its [[stateTables]] name, plus each tree's
    * documents changed by the latest batch (`changed__<tree>`), as the
    * [[Waves.Node]] that materializes it:
    *
    *  - `snapshot__<entity>`: (__pk binary, value struct);
    *  - `links__<edge>`: (__cpk binary childPK, __jk binary);
    *  - `rootmap__<edge>`: (__jk binary, __rpk binary rootPK);
    *  - `docs__<tree>`, `changed__<tree>`: (__pk binary, doc_json
    *    string nullable, __deleted);
    *  - `pending_med__<tree>`, `pending_low__<tree>`: deferred dirty
    *    roots (__rpk binary) — MEDIUM waits for `mediumTriggerRows`, LOW
    *    drains every `lowDrainEvery`-th batch (reference
    *    Southpaw.java:600-637).
    *
    * A batch replaces entries with new nodes. A node holds the nodes it
    * reads from its creation on, so it reads the state as of then, and
    * a rebuild still running when the next batch starts is composed
    * into that batch's nodes instead of waited for. */
  @volatile private var state: Map[String, Waves.Node] = {
    def snap(e: String) = StructType(Seq(
      StructField("__pk", BinaryType), StructField("value", valueSchemas(e))))
    (allEntities.toSeq.map(e => snapshotTable(e) -> snap(e)) ++
      edges.flatMap(e => Seq(e.links -> linkSchema, e.rootmap -> rootmapSchema)) ++
      trees.flatMap(t => Seq(docsTable(t), changedTable(t)).map(_ -> docSchema) ++
        Seq(pendingMedTable(t), pendingLowTable(t)).map(_ -> dirtySchema)))
      .map { case (n, schema) => n -> Waves.ready(s"initial $n", emptyDf(session, schema)) }
      .toMap
  }
  private var batchIndex: Long = 0L

  /** The landed frames of `names`, waiting for any still running. */
  private def landed(names: Seq[String]): Map[String, DataFrame] =
    names.zip(Waves.awaitAll(names.map(state))).toMap
  private def current(name: String): DataFrame = Waves.await(state(name))

  /** Cumulative engine counters, accumulated from `observe` metrics
    * that ride the batch's own materialization jobs — no extra Spark
    * jobs (reference metric/Metrics.java counters). */
  private var counterMap: Map[String, Long] = Map(
    "records_consumed" -> 0L, "delta_keys" -> 0L,
    "docs_written" -> 0L, "docs_tombstoned" -> 0L,
    "docs_truncated" -> 0L,
    "rebuilds_dropped_none" -> 0L, "batches" -> 0L)
  /** Doc counters bump inside the rebuild's nodes, so reads first land
    * every node — counters reflect every processed batch. */
  def counters: Map[String, Long] = { landed(state.keys.toSeq); synchronized(counterMap) }
  private def bump(name: String, by: Long): Unit = synchronized {
    counterMap = counterMap.updated(name, counterMap.getOrElse(name, 0L) + by)
  }

  /** Read one observed metric row back from a materialized plan. */
  private def observed(df: DataFrame, name: String): Option[Row] =
    df.queryExecution.observedMetrics.get(name)

  def docs(rootName: String): DataFrame = current(treeTable("docs", rootName))
  def changedDocs(rootName: String): DataFrame = current(treeTable("changed", rootName))
  def snapshot(entity: String): DataFrame =
    current(snapshotTable(entity)).select(col("value.*"))

  /** Point lookup of the latest record for a primary key — the
    * reference's `readByPK` (topic/KafkaTopic.java:390-398). Key values
    * must be in key-field order (sorted by name for composites). */
  def readByPk(entity: String, keyValues: Seq[Any]): Option[Row] = {
    val pk = graft.functions.CanonicalKey.encodeComposite(keyValues)
    current(snapshotTable(entity)).where(col("__pk") === lit(pk))
      .select(col("value")).collect().headOption.map(_.getAs[Row]("value"))
  }

  /** Engine counters, computed on demand from state (the reference
    * reports JMX metrics, metric/Metrics.java; here the state tables
    * are the source of truth). */
  def metrics: Map[String, Long] = {
    val tables = stateTables
    def rows(kind: String, where: Column = lit(true)): Long =
      tables.collect { case (n, df) if n.startsWith(kind + "__") => df.where(where).count() }.sum
    Map(
      "entities" -> allEntities.size.toLong,
      "trees" -> trees.size.toLong,
      "snapshot_rows" -> rows("snapshot"),
      "link_rows" -> rows("links"),
      "rootmap_rows" -> rows("rootmap"),
      "docs_live" -> rows("docs", !col("__deleted")),
      "docs_tombstoned" -> rows("docs", col("__deleted")))
  }

  /** The link table (join index, childPK → joinKey) for the first edge
    * matching (child entity, join key) in any tree — test/debug API,
    * mirrors the reference's `JK|entity|joinKeyField` index naming. */
  def linkTable(childEntity: String, joinKey: String): Option[DataFrame] =
    edges.find(e => e.child.entity == childEntity && e.child.joinKey.contains(joinKey))
      .map(e => current(e.links))

  /** Rootmap tables (parent index, joinKey → rootPK) for every edge
    * matching the reference's `PaK|root|parentEntity|parentKeyField`
    * index naming (Indices.createParentIndexName) — edges sharing a
    * (parent, parentKey) each hold an identical copy. */
  def rootmapTables(rootEntity: String, parentEntity: String,
      parentKeyField: String): Seq[DataFrame] =
    edges.filter { e =>
      e.tree.entity == rootEntity && e.path.last.entity == parentEntity &&
        e.child.parentKey.contains(parentKeyField)
    }.map(e => current(e.rootmap))

  /** All state tables by stable name (for [[StateOps]] backup and the
    * durable backend's directory layout). */
  def stateTables: Map[String, DataFrame] =
    landed(state.keys.filterNot(_.startsWith("changed__")).toSeq)

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
    // never restore over an in-flight rebuild; only names this engine
    // owns — a backup may hold tables of relations no longer configured,
    // and those must not be persisted under the live root
    val owned = stateTables.keySet
    // alignRestored runs for every table before any persist starts: its
    // loud schema-evolution rejection must fire before a sibling restore
    // job is submitted, or the caller's cleanup races still-running
    // persists of the other tables
    val aligned = tables.toSeq.collect {
      case (n, df) if owned(n) => n -> alignRestored(n, bind(df))
    }
    // one persist job per restored table, all independent: one wave
    val restored = aligned.map { case (n, df) =>
      n -> node(n, "restore", Nil)(_ => persist(n, df))
    }
    Waves.awaitAll(restored.map(_._2))
    state = state ++ restored
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
      val childSnap = current(snapshotTable(edge.child.entity)).select(col("__pk").as("__cpk"))
      val orphanLinks = current(edge.links).join(childSnap, Seq("__cpk"), "left_anti").count()
      val rootSnap = current(snapshotTable(edge.tree.entity)).select(col("__pk").as("__rpk"))
      val orphanRoots = current(edge.rootmap).join(rootSnap, Seq("__rpk"), "left_anti").count()
      Seq(
        if (orphanLinks > 0) Some(s"${edge.id}: $orphanLinks link rows reference dead child PKs") else None,
        if (orphanRoots > 0) Some(s"${edge.id}: $orphanRoots rootmap rows reference dead root PKs") else None
      ).flatten
    }

  // ---- batch processing ---------------------------------------------

  /** A node of batch `batchIndex` that writes `table`, reading the
    * current nodes of the tables named in `reads`. */
  private def node(table: String, step: String, reads: Iterable[String])(
      body: (String => DataFrame) => DataFrame): Waves.Node =
    Waves.submit(s"batch $batchIndex: $step of $table",
      reads.map(n => n -> state(n)).toMap)(body)

  /** Process one micro-batch of changelog DataFrames per entity
    * (columns: offset Long, key struct, value struct|null).
    *
    * The batch plan has two waves of nodes. The delta wave — the
    * dirty-root sets, snapshot updates, link updates and
    * deferred-priority sets — re-derives each entity's
    * (map-side-combinable) delta fold inline from a LAZY view, and every
    * node of it is created before the state map changes, so all of them
    * read PRE-batch state and are mutually independent. A dirty set
    * that reads the previous batch's rootmaps composes onto their nodes,
    * so the rest of the wave overlaps that rebuild's tail. The driver
    * waits for the delta wave (its nodes read the caller's input
    * frames), then creates the rebuild wave and returns without waiting
    * for it, so a queued next batch's delta wave overlaps it. The plans
    * run interpreted in [[session]]: at micro-batch scale, compiling
    * them cost more than running them (BENCH_AB_ivm_interpreted.md).
    */
  def processBatch(changes: Map[String, DataFrame]): Unit = {
    batchIndex += 1
    state = state ++ trees.map(t =>
      changedTable(t) -> Waves.ready(s"batch $batchIndex: no change of ${changedTable(t)}",
        emptyDf(session, docSchema)))
    val inputs: Map[String, DataFrame] = changes.collect {
      case (entity, df) if allEntities.contains(entity) => entity -> bind(df)
    }
    /** Each entity's fold of its changes against the pre-batch snapshot
      * in `in` (filter-aware), as a LAZY view: each plan of the wave
      * re-runs its fold inline, so the wave has one barrier. */
    def fold(entity: String, in: String => DataFrame): DataFrame =
      foldDelta(entity, inputs(entity), in(snapshotTable(entity)))
    def lazyDeltas(in: String => DataFrame): Map[String, DataFrame] =
      inputs.map { case (entity, _) => entity -> fold(entity, in) }

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
    def dirtyParts(tree: Relation, deltas: Map[String, DataFrame],
        in: String => DataFrame, priority: QueueingStrategy.Priority): Seq[DataFrame] =
      deltas.toSeq.flatMap { case (entity, delta) =>
        if (strategy.priority(tree.denormalizedName.get, entity) != priority) Nil
        else {
          val rootPart =
            if (tree.entity == entity)
              Some(delta.select(col("__pk").as("__rpk")))
            else None
          val edgeParts = edges
            .filter(e => e.tree == tree && e.child.entity == entity)
            .map { edge =>
              val jkField = edge.child.joinKey.get
              val links = in(edge.links)
              val newJks = delta.where(col("value").isNotNull)
                .select(canonicalPk(Seq(col("value").getField(jkField))).as("__jk"))
              val oldJks = delta.join(links, delta("__pk") === links("__cpk"), "inner")
                .select(col("__jk"))
              val jks = newJks.union(oldJks).where(col("__jk").isNotNull).distinct()
              in(edge.rootmap).join(jks, "__jk").select(col("__rpk"))
            }
          rootPart.toSeq ++ edgeParts
        }
      }
    def unionParts(parts: Seq[DataFrame]): DataFrame =
      if (parts.isEmpty) emptyDf(session, dirtySchema)
      else parts.reduce(_ union _).distinct()

    val mediumImmediate = mediumTriggerRows <= 0L
    /** A delta-wave node of `tree` writing `table`: it reads `own` and
      * what its dirty parts read — the changed entities' snapshots, the
      * links and rootmaps of the tree's edges under them, and the LOW
      * backlog when it drains now. */
    def treeNode(tree: Relation, table: String, step: String, own: Seq[String])(
        body: (String => DataFrame) => DataFrame): Waves.Node = {
      val touched = edges.filter(e => e.tree == tree && inputs.contains(e.child.entity))
      node(table, step, own ++ inputs.keys.map(snapshotTable) ++
        touched.flatMap(e => Seq(e.links, e.rootmap)) ++
        Option.when(drainLowNow)(pendingLowTable(tree)))(body)
    }
    // per tree: the drain-now set, plus pending medium/low ONLY when the
    // configuration can actually defer (the default immediate mode
    // materializes nothing extra)
    val dirtyNodes: Seq[(String, Waves.Node)] = trees.map { tree =>
      val name = tree.denormalizedName.get
      name -> treeNode(tree, name, "dirty set", Nil) { in =>
        val deltas = lazyDeltas(in)
        def part(p: QueueingStrategy.Priority) = dirtyParts(tree, deltas, in, p)
        unionParts(part(QueueingStrategy.High) ++
          (if (mediumImmediate) part(QueueingStrategy.Medium) else Nil) ++
          (if (drainLowNow) part(QueueingStrategy.Low) :+ in(pendingLowTable(tree)) else Nil))
          .localCheckpoint()
      }
    }
    val pendingNodes: Seq[(String, Waves.Node)] = trees.flatMap { tree =>
      def defer(table: String, p: QueueingStrategy.Priority) =
        table -> treeNode(tree, table, "defer", Seq(table)) { in =>
          persist(table, unionParts(dirtyParts(tree, lazyDeltas(in), in, p) :+ in(table)))
        }
      Option.when(!mediumImmediate)(defer(pendingMedTable(tree), QueueingStrategy.Medium)) ++
        Option.when(!drainLowNow)(defer(pendingLowTable(tree), QueueingStrategy.Low))
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
    // both writes read its blocks instead of re-running the fold. Each
    // node leaves the frame that ran its fold in `folds`; the counters
    // bump from there once the batch's state lands, so a batch that
    // keeps no state counts nothing.
    val folds = TrieMap.empty[String, DataFrame]
    val snapshotNodes = inputs.keys.toSeq.map { entity =>
      val table = snapshotTable(entity)
      table -> node(table, "update", Seq(table)) { in =>
        val observedDelta = foldDelta(entity,
            inputs(entity).observe(s"graft_in_$entity", count(lit(1)).as("n")),
            in(table))
          .observe(s"graft_delta_$entity", count(lit(1)).as("n"))
        val delta =
          if (backend.durable) observedDelta.localCheckpoint() else observedDelta
        val changedKeys = delta.select(col("__pk"))
        val newRows =
          delta.where(col("value").isNotNull).select(col("__pk"), col("value"))
        val full = in(table).join(changedKeys, Seq("__pk"), "left_anti").unionByName(newRows)
        // as in persist: the coalesced frame is the one the memory
        // backend checkpoints, so its execution holds the metrics
        val src = if (backend.durable) full else full.coalesce(statePartitions)
        val out = bind(backend.persist(table, src, Some((newRows, changedKeys))))
        folds(entity) = if (backend.durable) observedDelta else src
        out
      }
    }
    val linkNodes = inputs.keys.toSeq.flatMap { entity =>
      edges.filter(_.child.entity == entity).map { edge =>
        edge.links -> node(edge.links, "update", Seq(edge.links, snapshotTable(entity))) { in =>
          val delta = fold(entity, in)
          val changedKeys = delta.select(col("__pk").as("__cpk"))
          val newLinks = delta.where(col("value").isNotNull)
            .select(col("__pk").as("__cpk"),
              canonicalPk(Seq(col("value").getField(edge.child.joinKey.get))).as("__jk"))
            .where(col("__jk").isNotNull)
          val keptLinks = in(edge.links).join(changedKeys, Seq("__cpk"), "left_anti")
          persist(edge.links, keptLinks.unionByName(newLinks), Some((newLinks, changedKeys)))
        }
      }
    }

    // every node of the wave exists before the state map changes
    val updates = pendingNodes ++ snapshotNodes ++ linkNodes
    val dirtyFrames = Waves.awaitAll(dirtyNodes.map(_._2) ++ updates.map(_._2))
    var dirtySets = dirtyNodes.map(_._1).zip(dirtyFrames).toMap
    state = state ++ updates
    bump("batches", 1L)
    folds.foreach { case (entity, executed) => countDelta(entity, executed) }

    /** Empty a deferred set whose rows joined this batch's drain. Where
      * deferral is configured, a durable backend persists the empty
      * table, so the batch's commit no longer names the drained rows. */
    def drain(table: String, deferred: Boolean): Unit = {
      val empty = emptyDf(session, dirtySchema)
      state = state.updated(table,
        if (backend.durable && deferred) node(table, "drain", Nil)(_ => persist(table, empty))
        else Waves.ready(s"batch $batchIndex: drain of $table", empty))
    }
    if (drainLowNow) trees.foreach(t => drain(pendingLowTable(t), lowDrainEvery > 1))

    // MEDIUM trigger check (only when deferral is configured — the
    // count here is the one deliberate extra job of the deferred mode).
    if (!mediumImmediate) trees.foreach { tree =>
      val pending = current(pendingMedTable(tree))
      if (pending.count() >= mediumTriggerRows) {
        val name = tree.denormalizedName.get
        dirtySets = dirtySets.updated(name,
          dirtySets(name).union(pending).distinct().localCheckpoint())
        drain(pendingMedTable(tree), deferred = true)
      }
    }

    // Rebuild drained dirty roots per tree. The rebuild's nodes are
    // created here and run without the driver: several trees' rebuilds
    // overlap each other and, when the caller queues another batch, that
    // batch's delta wave.
    trees.foreach { tree =>
      val dirty = dirtySets(tree.denormalizedName.get)
      if (!dirty.isEmpty) rebuild(tree, dirty)
    }
    // A durable backend commits the batch and drops what it
    // superseded: land every node first, so the commit names every
    // table this batch wrote and no running job reads a dropped
    // generation (the memory backend has no gc, so it keeps the full
    // cross-batch overlap).
    if (backend.durable) {
      landed(state.keys.toSeq)
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
    * order, seeded with the pre-batch `snapshot` value (reference
    * semantics: filter sees the previous state,
    * filter/BaseFilter.java:88). */
  private def foldDelta(entity: String, changes: DataFrame,
      snapshot: DataFrame): DataFrame = {
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
      .join(snapshot.withColumnRenamed("value", "__old"), Seq("__pk"), "left_outer")
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
    * (missing roots ⇒ null doc tombstones, Southpaw.java:335,379-380).
    * Creates the rebuild's nodes and returns; each reads the post-wave
    * snapshots and the previous node of the table it replaces. */
  private def rebuild(tree: Relation, dirty: DataFrame): Unit = {
    val name = tree.denormalizedName.get
    val batch = batchIndex
    val snapshots = tree.entities.distinct.map(snapshotTable)

    /** The dirty roots' records and, per entity, the records under them,
      * over the snapshots in `in`. Restricts the root entity to dirty
      * PKs; assembly uses the SAME compiler as batch mode (Q-INCR
      * equivalence by construction). */
    def restrict(in: String => DataFrame): (DataFrame, String => DataFrame) = {
      def snapshot(e: String) = in(snapshotTable(e)).select(col("value.*"))
      val rootSnap = in(snapshotTable(tree.entity))
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
      (restrictedRoot, e =>
        if (e == tree.entity) restrictedRoot
        else restrictedDedup.getOrElse(e, snapshot(e)))
    }

    // J3 re-register: for each edge, walk the path root→parent with
    // inner joins over live snapshots (a node registers only if its
    // record exists — lazy parent index, Southpaw.java:342), after the
    // J5 scrub that drops the dirty roots from the edge's rootmap.
    // Each update also carries its change set for the durable backend:
    // removed rows are exactly the scrubbed (__rpk ∈ dirty) ones and
    // added rows are regs — both dirty-neighborhood-sized, so a delta
    // generation needs neither a full-table read nor a full write.
    val rootmaps = edges.filter(_.tree == tree).map { edge =>
      edge.rootmap -> node(edge.rootmap, "rebuild", snapshots :+ edge.rootmap) { in =>
        val (restrictedRoot, tables) = restrict(in)
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
        val scrubbed = in(edge.rootmap).join(dirty, Seq("__rpk"), "left_anti")
        persist(edge.rootmap, scrubbed.unionByName(regs), Some((regs, dirty)))
      }
    }

    // Upsert document state; dirty roots with no assembled doc get a
    // null-document tombstone. The new documents, the rootmap
    // re-registrations and the kept documents are independent nodes, so
    // assembly, path walks and the anti-join overlap. The doc counters
    // ride the new documents' checkpoint as observe metrics, read from
    // the PRE-checkpoint frame (the checkpointed result is a fresh
    // LogicalRDD with no observed metrics).
    val metricName = s"graft_docs_${safeName(name)}_$batch"
    val changed = changedTable(tree)
    val newDocs = node(changed, "rebuild", snapshots) { in =>
      val (_, tables) = restrict(in)
      val assembled = Denormalize.documents(tree, tables, keyFields,
          maxChildrenPerEdge)
        .select(col("__pk") +: col("doc_json") +:
          (if (maxChildrenPerEdge.isDefined) Seq(col("__truncated")) else Nil): _*)
      val truncCol =
        if (maxChildrenPerEdge.isDefined) coalesce(col("__truncated"), lit(0L))
        else lit(0L)
      val nd = dirty.join(assembled, dirty("__rpk") === assembled("__pk"), "left_outer")
        .select(col("__rpk").as("__pk"), col("doc_json"),
          col("doc_json").isNull.as("__deleted"), truncCol.as("__tr"))
        .observe(metricName,
          count(lit(1)).as("n"),
          sum(when(col("doc_json").isNull, 1L).otherwise(0L)).as("tomb"),
          sum(col("__tr")).as("trunc"))
        .drop("__tr")
      val out = nd.localCheckpoint()
      observed(nd, metricName).foreach { r =>
        val tomb = if (r.isNullAt(1)) 0L else r.getLong(1)
        bump("docs_written", r.getLong(0) - tomb)
        bump("docs_tombstoned", tomb)
        bump("docs_truncated", if (r.isNullAt(2)) 0L else r.getLong(2))
      }
      out
    }
    state = state ++ rootmaps + (changed -> newDocs)

    // Memory backend: the post-batch docs are the LAZY union of the two
    // checkpointed frames — the lineage stays two levels deep forever
    // because the next batch's kept side re-materializes it. Durable
    // backend: the docs write follows the new documents' checkpoint and
    // re-reads its blocks, so the assembly still runs once.
    val docs = docsTable(tree)
    val dirtyPks = dirty.withColumnRenamed("__rpk", "__pk")
    state = state.updated(docs,
      if (backend.durable)
        node(docs, "rebuild", Seq(docs, changed)) { in =>
          // change set: the new documents cover EVERY dirty root
          // (tombstones are real rows), so (rows, keys = dirty) upserts
          // exactly
          val nd = in(changed)
          bind(backend.persist(docs,
            in(docs).join(dirtyPks, Seq("__pk"), "left_anti").unionByName(nd)
              .coalesce(statePartitions),
            Some((nd, dirtyPks))))
        }
      else {
        val kept = node(docs, "kept documents", Seq(docs)) { in =>
          in(docs).join(dirtyPks, Seq("__pk"), "left_anti")
            .coalesce(statePartitions).localCheckpoint()
        }
        Waves.submit(s"batch $batch: union of $docs",
          Map("kept" -> kept, "new" -> newDocs))(in => in("kept").unionByName(in("new")))
      })
  }
}

object IncrementalDenormalizer {
  private val linkSchema = StructType(Seq(
    StructField("__cpk", BinaryType), StructField("__jk", BinaryType)))
  private val rootmapSchema = StructType(Seq(
    StructField("__jk", BinaryType), StructField("__rpk", BinaryType)))
  private val docSchema = StructType(Seq(
    StructField("__pk", BinaryType), StructField("doc_json", StringType),
    StructField("__deleted", BooleanType)))
  private val dirtySchema = StructType(Seq(StructField("__rpk", BinaryType)))

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private def safeName(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  // state table names (see IncrementalDenormalizer.stateTables)
  private def snapshotTable(entity: String) = s"snapshot__$entity"
  private def treeTable(kind: String, tree: String) = s"${kind}__${safeName(tree)}"
  private def docsTable(tree: Relation) = treeTable("docs", tree.denormalizedName.get)
  private def changedTable(tree: Relation) = treeTable("changed", tree.denormalizedName.get)
  private def pendingMedTable(tree: Relation) = treeTable("pending_med", tree.denormalizedName.get)
  private def pendingLowTable(tree: Relation) = treeTable("pending_low", tree.denormalizedName.get)
}
