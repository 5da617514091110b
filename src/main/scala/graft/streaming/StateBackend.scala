package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Ckpt

/** Pluggable persistence for the incremental engine's cross-batch
  * state tables (entity snapshots, per-edge links/rootmaps, per-tree
  * documents, deferred-priority sets).
  *
  * The reference keeps all engine state in disk-backed RocksDB
  * (reference: state/RocksDBState.java:355-461, README.md:209-221)
  * precisely because state outgrows memory long before the corpus
  * does. The Spark-native split is the same idea at table granularity:
  *
  *  - [[StateBackend.Memory]] — eager MEMORY_ONLY localCheckpoint
  *    (see core/Ckpt.scala for the level rationale). Fastest, but
  *    state dies with block eviction or the session. Right for tests
  *    and short bounded runs that fit the memory envelope.
  *  - [[BucketedParquetBackend]] — every state table lands as a
  *    bucketed parquet table under a state root on any Hadoop
  *    filesystem (file://, hdfs://, s3a://). Durable across eviction
  *    AND session restart, and the bucket layout means the next
  *    batch's keyed joins read pre-partitioned buckets instead of
  *    re-shuffling the (large) state side — the cluster-scale path.
  *
  * Intra-batch temporaries (per-entity deltas, drained dirty sets,
  * changed-doc frames) always stay on the memory path regardless of
  * backend: they are consumed within the batch that created them, so
  * durability would be pure write amplification.
  */
trait StateBackend {

  /** Persisted tables survive block eviction and session loss. */
  def durable: Boolean

  /** Materialize one cross-batch state table under a stable name.
    * The returned frame must be independent of `df`'s lineage (the
    * engine truncates and discards the input plan). */
  def persist(name: String, df: DataFrame): DataFrame

  /** [[persist]] with the batch's change set attached: `delta` is
    * `(rows, keys)` where `keys` lists every key whose row was added,
    * replaced, or removed since the LAST persist of `name`, and `rows`
    * holds the full new rows for those keys (a key in `keys` with no
    * row in `rows` is a deletion). The caller guarantees
    * `df ≡ previous.join(keys, keys.columns, "left_anti") ∪ rows` —
    * which lets a durable backend write O(delta) instead of O(state)
    * per batch (the reference's RocksDB WriteBatch semantics,
    * state/RocksDBState.java:611-636, where only touched keys hit the
    * WAL). Backends free to ignore the hint fall back to a full
    * persist of `df`. */
  def persist(name: String, df: DataFrame,
      delta: Option[(DataFrame, DataFrame)]): DataFrame =
    persist(name, df)

  /** Drop generations superseded by newer [[persist]] calls. The
    * engine calls this only between batches: while a batch's waves
    * run, derived plans still read the PRE-batch generations, so
    * deleting them mid-batch would fail concurrent jobs. */
  def gc(): Unit = ()
}

object StateBackend {
  /** Default in-memory backend — the bench/test envelope. */
  object Memory extends StateBackend {
    val durable = false
    def persist(name: String, df: DataFrame): DataFrame = Ckpt.mem(df)
  }
}

/** Durable state backend: generation-chained parquet per state table,
  * under `root/<name>/g<n>` (any Hadoop FS scheme).
  *
  * A generation is committed once its `_MANIFEST` marker exists. The
  * marker holds `kind:buckets` and is written last, by create-then-
  * rename, so a generation without one is a write that died mid-flight
  * and is never read. There are two kinds:
  *
  *  - FULL — the whole table as a bucketed parquet catalog table, plus
  *    a `_SCHEMA` sidecar (a bucketed write of an empty frame emits no
  *    parquet file to read a schema from). The write repartitions by
  *    the table's leading column (the state key: `__pk` / `__cpk` /
  *    `__jk`) into `buckets` partitions, so every task writes one
  *    bucket file. Readers go through the session catalog, which holds
  *    the bucket spec: a join or aggregation keyed on the bucket column
  *    plans no Exchange on the state side (BucketingSpec).
  *  - DELTA — only the batch's change set: `rows/` (full new rows of
  *    the changed keys, bucketed like the full generation) and `keys/`
  *    (every changed key; a key without a row is a deletion). Write
  *    cost scales with the batch, not the state, as with the
  *    reference's RocksDB WriteBatch (state/RocksDBState.java:611-636).
  *
  * A table's committed state is its CHAIN: the last committed full
  * generation and the committed delta generations after it, up to the
  * first uncommitted one. [[BucketedParquetBackend.chain]]
  * selects it for every reader, and [[BucketedParquetBackend.applyDelta]]
  * lays one delta over the view so far (broadcast anti-join on `keys/`,
  * then `rows/`). Live persists, [[recover]] and the read-only
  * [[BucketedParquetBackend.asOf]] compose through those two functions.
  *
  * Every `compactEvery`-th persist of a table writes FULL, which bounds
  * the chain; a persist without a change set (the first one, restart
  * recovery) is always FULL. Each persist writes a NEW generation,
  * because the plan being written usually reads the previous one.
  * Superseded generations are queued and dropped on [[gc]], after the
  * batch's last job; a delta chain retires when a FULL persist
  * supersedes it.
  *
  * Restart: [[recover]] registers each chain's bucketed directories in
  * the catalog and zips them with [[graft.plans.BucketUnion]], as a live
  * persist does, so keyed reads against recovered state plan no
  * state-side Exchange before the first compaction — the reference's
  * RocksDB state is key-indexed the moment it reopens
  * (state/RocksDBState.java:474-491). Feed the result to
  * [[IncrementalDenormalizer.loadStateTables]]: its re-persist is a FULL
  * write that takes [[persistFull]]'s aligned path, without a
  * full-state shuffle.
  */
final class BucketedParquetBackend(
    spark: SparkSession,
    val root: String,
    buckets: Int = 16,
    compactEvery: Int = 4) extends StateBackend {

  import BucketedParquetBackend.{applyDelta, chains, generations, readSchema,
    writeMarker, writeSchema}

  // Register the BucketUnion planner strategy + pushdown rule NOW, at
  // backend construction — not lazily at the first compose. A
  // Structured Streaming query clones the session (and with it the
  // experimental strategy list) when it STARTS; if the first delta
  // compose happens inside a later micro-batch, the registration lands
  // on the outer session only, and the clone's planner fails with
  // "No plan for BucketUnionPlan" on the first keyed read of composed
  // state. Construction always precedes StreamRunner.start, so the
  // clone inherits the strategy. (Caught by MainSpec's restart test
  // run in a fresh session: a delta-free recovery registers nothing,
  // and the restarted run's first delta compose was mid-stream.)
  graft.plans.BucketUnion.register(spark)

  val durable = true

  private case class Chain(
      maxGen: Long,
      table: String,          // catalog table of the base FULL gen
      baseDir: Path,
      deltas: Vector[(Path, String)], // (gen dir, rows catalog table)
      frame: DataFrame)

  private val instanceId = BucketedParquetBackend.instances.incrementAndGet()
  private val tableSeq = new AtomicLong(0L)
  private val live =
    new java.util.concurrent.ConcurrentHashMap[String, Chain]()
  /** superseded (catalog table if registered, data dir) awaiting [[gc]]. */
  private val retired = new ConcurrentLinkedQueue[(Option[String], Path)]()

  private def fs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Catalog identifiers are case-insensitive and charset-limited, so a
    * generation's catalog table is a unique sequence id; its data dir
    * keeps the exact state-table name. */
  private def newTableName(): String =
    s"graft_state_${instanceId}_${tableSeq.incrementAndGet()}"

  /** Generations already on disk from a PREVIOUS session (restart over
    * an existing root): the first persist of each table must write
    * past them, and they retire once that write commits. */
  private def adoptDiskGens(name: String): Long = {
    val gens = generations(fs(new Path(root)), new Path(root, name))
    gens.foreach { case (_, p) => retired.add((None, p)) }
    gens.lastOption.map(_._1).getOrElse(0L)
  }

  def persist(name: String, df: DataFrame): DataFrame =
    persistFull(name, df)

  override def persist(name: String, df: DataFrame,
      delta: Option[(DataFrame, DataFrame)]): DataFrame = {
    val prev = live.get(name)
    delta match {
      case Some((rows, keys))
          if prev != null && prev.deltas.size < compactEvery - 1 =>
        persistDelta(name, prev, rows, keys)
      case _ => persistFull(name, df)
    }
  }

  private def persistFull(name: String, df: DataFrame): DataFrame = {
    val prev = live.get(name)
    val gen = if (prev == null) adoptDiskGens(name) + 1L else prev.maxGen + 1L
    val tbl = newTableName()
    val dir = new Path(root, s"$name/g$gen")
    val keyCol = df.columns.head
    // Aligned fast path: a frame whose plan is already a BucketUnion
    // compose on (keyCol, buckets) — a recovered chain, or any
    // delta-composed view being compacted — arrives with partition i
    // holding exactly bucket i's keys (the zip preserves
    // HashPartitioning, and the bucketed write derives bucket ids from
    // the same Murmur3 pmod), so the pre-write repartition would be a
    // full-state shuffle for nothing. Skipping it, each task writes
    // exactly its one bucket file.
    val src =
      if (graft.plans.BucketUnion.isAligned(df, keyCol, buckets)) df
      else df.repartition(buckets, col(keyCol))
    src.write.format("parquet")
      .bucketBy(buckets, keyCol)
      .option("path", dir.toString)
      .saveAsTable(tbl)
    // the schema sidecar lands before the commit marker, so an empty
    // state table (a scrubbed rootmap, a link table before its first
    // edge) survives restart as EMPTY, not as unreadable
    writeSchema(fs(dir), dir, df.schema)
    writeMarker(fs(dir), dir, "full", buckets)
    if (prev != null) {
      retired.add((Some(prev.table), prev.baseDir))
      prev.deltas.foreach { case (d, t) => retired.add((Some(t), d)) }
    }
    val frame = spark.table(tbl)
    live.put(name, Chain(gen, tbl, dir, Vector.empty, frame))
    frame
  }

  /** Write only the batch's change set as a new delta generation and
    * return the chain-composed view. Neither `rows` nor `keys` reads
    * more than the batch's change neighborhood, and the full-table
    * plan is never evaluated — durable write cost ∝ delta.
    *
    * The `rows` write is BUCKETED by the same key column as the full
    * generation, and the composed view zips base and delta bucket to
    * bucket ([[graft.plans.BucketUnion]]) instead of `union`-ing them:
    * a plain union has unknown output partitioning, so every keyed
    * join/aggregation against a delta-composed state table would
    * re-shuffle the full state side for up to `compactEvery − 1`
    * batches after each compaction — paying on read exactly what the
    * delta write saved. With the aligned compose the chain keeps the
    * full generation's no-Exchange property end to end
    * (BucketingSpec). */
  private def persistDelta(name: String, prev: Chain,
      rows: DataFrame, keys: DataFrame): DataFrame = {
    val gen = prev.maxGen + 1L
    val dir = new Path(root, s"$name/g$gen")
    val keyCol = prev.frame.columns.head
    val tbl = newTableName()
    // Change sets are batch-sized: the pre-write repartition is a
    // delta-sized shuffle that lands exactly one file per bucket.
    rows.select(prev.frame.columns.map(col).toSeq: _*)
      .repartition(buckets, col(keyCol))
      .write.format("parquet")
      .bucketBy(buckets, keyCol)
      .option("path", new Path(dir, "rows").toString)
      .saveAsTable(tbl)
    keys.coalesce(buckets).write.parquet(new Path(dir, "keys").toString)
    writeMarker(fs(dir), dir, "delta", buckets)
    // the layer reads both sides back from disk, so the composed frame
    // is independent of the input plans' lineage
    val frame = applyDelta(spark, prev.frame, dir, Some((tbl, buckets)))
    live.put(name, prev.copy(maxGen = gen,
      deltas = prev.deltas :+ ((dir, tbl)), frame = frame))
    frame
  }

  /** Register a bucketed parquet directory (a full generation, or a
    * delta's `rows/`) as an external catalog table so readers see the
    * bucket spec. DDL because the DataFrame API can only CTAS. */
  private def registerBucketed(dir: Path, schema: StructType,
      keyCol: String, bucketCount: Int): String = {
    val tbl = newTableName()
    spark.sql(s"CREATE TABLE $tbl (${schema.toDDL}) USING PARQUET " +
      s"CLUSTERED BY (`$keyCol`) INTO $bucketCount BUCKETS " +
      s"LOCATION '${dir.toString}'")
    tbl
  }

  /** Restart recovery through the live backend (see class doc): the
    * committed chain of every table under [[root]], composed
    * bucket-aligned on its full generation's bucket count. Chains are
    * adopted into [[live]], so each table's first post-restore persist
    * supersedes them and [[gc]] retires their files and catalog entries
    * together; generations outside the chain (uncommitted wrecks,
    * superseded older generations) queue for retirement at once. */
  def recover(): Map[String, DataFrame] =
    chains(fs(new Path(root)), new Path(root), Long.MaxValue).flatMap {
      case (name, gens, committed) =>
        val kept = committed.map(_.dir).toSet
        gens.filterNot(g => kept(g._2)).foreach(g => retired.add((None, g._2)))
        committed.headOption.map { base =>
          val schema = readSchema(fs(base.dir), base.dir)
          val keyCol = schema.fields.head.name
          val baseTbl = registerBucketed(base.dir, schema, keyCol, base.buckets)
          var frame = spark.table(baseTbl)
          val deltas = committed.tail.map { d =>
            val rowsTbl = registerBucketed(
              new Path(d.dir, "rows"), schema, keyCol, d.buckets)
            frame = applyDelta(spark, frame, d.dir, Some((rowsTbl, base.buckets)))
            (d.dir, rowsTbl)
          }
          // maxGen spans ALL disk generations, not just the chain: an
          // uncommitted wreck beyond the chain still occupies its gen
          // directory, and the next persist must write past it
          live.put(name, Chain(gens.last._1, baseTbl, base.dir,
            deltas.toVector, frame))
          name -> frame
        }
    }.toMap

  override def gc(): Unit = {
    var item = retired.poll()
    while (item != null) {
      val (tbl, dir) = item
      // DROP on an external (path-backed) table leaves the files; the
      // directory is deleted explicitly through the Hadoop FS API.
      tbl.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      fs(dir).delete(dir, true)
      item = retired.poll()
    }
  }

  /** Drop every live table + directory (test teardown / --delete-state). */
  def deleteAll(): Unit = {
    gc()
    live.forEach { (_: String, v: Chain) =>
      spark.sql(s"DROP TABLE IF EXISTS ${v.table}")
      fs(v.baseDir).delete(v.baseDir, true)
      v.deltas.foreach { case (d, t) =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        fs(d).delete(d, true)
      }
    }
    live.clear()
    val r = new Path(root)
    val f = fs(r)
    if (f.exists(r)) f.delete(r, true)
  }
}

object BucketedParquetBackend {
  private val instances = new AtomicInteger(0)

  /** A committed generation: its directory, marker kind and bucket count. */
  private case class Gen(dir: Path, kind: String, buckets: Int)

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Schema sidecar of a full generation (`_SCHEMA`, StructType json),
    * written before its commit marker. */
  private def writeSchema(f: FileSystem, dir: Path, schema: StructType): Unit = {
    val out = f.create(new Path(dir, "_SCHEMA"), true)
    try out.write(schema.json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readSchema(f: FileSystem, dir: Path): StructType = {
    val p = new Path(dir, "_SCHEMA")
    if (!f.exists(p))
      throw new IllegalStateException(s"full generation $dir has no _SCHEMA")
    DataType.fromJson(readText(f, p)).asInstanceOf[StructType]
  }

  /** Commit marker of `dir`: `_MANIFEST` holding `kind:count`, written
    * LAST via create-then-rename, so its presence implies everything
    * written before it is complete. The state layout writes
    * `full|delta:<buckets>`; [[StateOps.backup]] writes
    * `backup:<tables>`. */
  private[streaming] def writeMarker(f: FileSystem, dir: Path, kind: String,
      count: Int): Unit = {
    val tmp = new Path(dir, "_MANIFEST.tmp")
    val out = f.create(tmp, true)
    try out.write(s"$kind:$count".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // fail LOUD on a false rename (dest exists, FS quirk): a generation
    // whose marker never landed would be live in this session's chain
    // but invisible to recovery — the checkpoint would advance past a
    // batch that a restart silently replays from an older generation
    if (!f.rename(tmp, new Path(dir, "_MANIFEST")))
      throw new java.io.IOException(
        s"could not commit generation marker ${new Path(dir, "_MANIFEST")}")
  }

  /** `dir`'s marker as `(kind, count)`; None when `dir` is uncommitted.
    * A marker that does not read as `kind:count` fails, naming `dir`. */
  private[streaming] def readMarker(f: FileSystem,
      dir: Path): Option[(String, Int)] = {
    val m = new Path(dir, "_MANIFEST")
    if (!f.exists(m)) None
    else {
      val text = readText(f, m).trim
      text.split(':') match {
        case Array(kind, n) if n.toIntOption.isDefined => Some((kind, n.toInt))
        case _ => throw new IllegalStateException(
          s"unreadable commit marker '$text' in $dir")
      }
    }
  }

  /** A table's `g<n>` generation directories, in id order. */
  private def generations(f: FileSystem, tableDir: Path): Seq[(Long, Path)] =
    if (!f.exists(tableDir)) Nil
    else f.listStatus(tableDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("g"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption.map(_ -> s.getPath))
      .sortBy(_._1)

  /** A table's committed chain as of generation `upTo`: the last
    * committed full generation with id ≤ `upTo`, then the committed
    * delta generations after it, up to the first uncommitted one. Empty
    * when no full generation has committed: a table whose first persist
    * died mid-flight never committed a batch. A COMMITTED delta without
    * a committed base is corruption, and fails rather than recover an
    * empty state and rebuild from offset zero. */
  private def chain(f: FileSystem, tableDir: Path, gens: Seq[(Long, Path)],
      upTo: Long): Seq[Gen] = {
    val marked = gens.takeWhile(_._1 <= upTo).map { case (_, dir) =>
      readMarker(f, dir).map {
        case (kind @ ("full" | "delta"), n) => Gen(dir, kind, n)
        case (kind, _) => throw new IllegalStateException(
          s"generation $dir has commit marker kind '$kind', not full or delta")
      }
    }
    val base = marked.lastIndexWhere(_.exists(_.kind == "full"))
    if (base < 0 && marked.exists(_.isDefined))
      throw new IllegalStateException(
        s"state table $tableDir has committed delta generations but " +
          "no committed full generation; refusing to recover an empty " +
          "state over existing data")
    if (base < 0) Nil
    else marked(base).get +:
      marked.drop(base + 1).takeWhile(_.exists(_.kind == "delta")).flatten
  }

  /** Every table under `root`: its name, generation listing and
    * committed chain as of `upTo` (see [[chain]]). */
  private def chains(f: FileSystem, root: Path,
      upTo: Long): Seq[(String, Seq[(Long, Path)], Seq[Gen])] =
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.filter(_.isDirectory).map { s =>
      val gens = generations(f, s.getPath)
      (s.getPath.getName, gens, chain(f, s.getPath, gens, upTo))
    }

  /** One delta generation over the view so far: drop the changed keys
    * (`keys/`; batch-sized, so a broadcast anti-join that never
    * shuffles the state side), then add the new rows (a changed key
    * without a row stays dropped = deletion). `rowsTable` names the
    * delta's `rows/` registered as a bucketed catalog table, with the
    * bucket count of the view; the layer then zips bucket to bucket
    * ([[graft.plans.BucketUnion]]) and keeps the view's layout. Without
    * it, `rows/` is read plain, with the view's schema (a bucketed write
    * of an empty change set emits no parquet file), and unioned. */
  private def applyDelta(spark: SparkSession, cur: DataFrame, dir: Path,
      rowsTable: Option[(String, Int)]): DataFrame = {
    val keys = spark.read.parquet(new Path(dir, "keys").toString)
    val kept = cur.join(broadcast(keys), keys.columns.toSeq, "left_anti")
    rowsTable match {
      case Some((tbl, n)) =>
        graft.plans.BucketUnion(kept, spark.table(tbl), cur.columns.head, n)
      case None => kept.unionByName(
        spark.read.schema(cur.schema).parquet(new Path(dir, "rows").toString))
    }
  }

  /** The newest committed state of every table under `root`:
    * [[asOf]] the newest generation. */
  def latest(spark: SparkSession, root: String): Map[String, DataFrame] =
    asOf(spark, root, Long.MaxValue)

  /** Time travel over the generational layout: every table's committed
    * chain as of generation `gen`, read with plain parquet reads and
    * composed with plain unions. It registers nothing in the catalog and
    * writes nothing, so it is the path for inspection (`--show-state`,
    * `--verify-state`) and cross-backend reads; ENGINE restarts go
    * through [[BucketedParquetBackend.recover]], which composes the same
    * chain bucket-aligned. Because every engine batch commits one
    * generation per touched table, this answers "what did the engine
    * believe after batch N" for any batch still on disk — a per-batch
    * refinement of the reference's whole-store backup restore
    * (RocksDBState.java:355-461 can only rewind to a rotated backup).
    *
    * Retention bound: [[gc]] retires a superseded chain's base and
    * deltas together when compaction rewrites full, so a too-old `gen`
    * yields the table ABSENT from the map, never a half-composed state. */
  def asOf(spark: SparkSession, root: String, gen: Long): Map[String, DataFrame] = {
    val rootPath = new Path(root)
    val f = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    chains(f, rootPath, gen).collect { case (name, _, base +: deltas) =>
      val full = spark.read.schema(readSchema(f, base.dir)).parquet(base.dir.toString)
      name -> deltas.foldLeft(full)((cur, d) => applyDelta(spark, cur, d.dir, None))
    }.toMap
  }
}
