package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graftbridge.BucketedPath
import org.apache.spark.sql.types.{DataType, StructType}

/** Pluggable persistence for the incremental engine's cross-batch
  * state tables (entity snapshots, per-edge links/rootmaps, per-tree
  * documents, deferred-priority sets).
  *
  * The reference keeps all engine state in disk-backed RocksDB
  * (reference: state/RocksDBState.java:355-461, README.md:209-221)
  * precisely because state outgrows memory long before the corpus
  * does. The Spark-native split is the same idea at table granularity:
  *
  *  - [[StateBackend.Memory]] — eager `localCheckpoint()` at Spark's
  *    MEMORY_AND_DISK level, so an evicted block spills to local disk
  *    (CkptSpec). Fastest, but state dies with the session. Right for
  *    tests and runs that need no restart.
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

  /** Restart recovery: the state of every table as the newest commit
    * left it, keyed by table name, and adopted, so that each table's
    * next persist extends or supersedes it. Nothing is written. The
    * memory backend keeps nothing across sessions, so it has nothing to
    * recover. The engine restarts through
    * [[IncrementalDenormalizer.recover]]. */
  def recover(): Map[String, DataFrame] = Map.empty

  /** The batch boundary. The engine calls this once per batch, after
    * the batch's last job, and once after a load that wrote state. A
    * durable backend commits every table's current state here as one
    * unit, then drops what no retained commit still names; the memory
    * backend has nothing to do. Never call it mid-batch: while a batch's waves run, derived
    * plans still read the PRE-batch generations. */
  def gc(): Unit = ()
}

object StateBackend {
  /** Default in-memory backend — the bench/test envelope. */
  object Memory extends StateBackend {
    val durable = false
    def persist(name: String, df: DataFrame): DataFrame = df.localCheckpoint()
  }
}


/** Durable state backend: generation-chained parquet per state table,
  * under `root/<name>/g<n>` (any Hadoop FS scheme), committed once per
  * batch. One writer per root.
  *
  * A generation is one of two kinds:
  *
  *  - FULL — the whole table as bucketed parquet. The write
  *    repartitions by the table's leading column (the state key:
  *    `__pk` / `__cpk` / `__jk`) into `buckets` partitions, so every
  *    task writes one bucket file. Generations are written and read by
  *    path with the bucket spec given directly
  *    ([[org.apache.spark.sql.graftbridge.BucketedPath]]), never through
  *    the session catalog: a join or aggregation keyed on the bucket
  *    column plans no Exchange on the state side (BucketingSpec).
  *  - DELTA — only the batch's change set: `rows/` (full new rows of
  *    the changed keys, bucketed like the full generation) and `keys/`
  *    (every changed key; a key without a row is a deletion). Write
  *    cost scales with the batch, not the state, as with the
  *    reference's RocksDB WriteBatch (state/RocksDBState.java:611-636).
  *
  * A table's state is its CHAIN: a full generation and the delta
  * generations after it. [[BucketedParquetBackend.applyDelta]] lays one
  * delta over the view so far (broadcast anti-join on `keys/`, then a
  * bucket-to-bucket zip with `rows/`) for live persists, and
  * [[BucketedParquetBackend.compose]] folds it over a committed chain for
  * [[recover]], [[BucketedParquetBackend.latest]] and
  * [[BucketedParquetBackend.asOf]] alike. Every `compactEvery`-th persist
  * of a table writes FULL, which bounds the chain; a persist without a
  * change set (the first one, a load from a backup) is always FULL. Each
  * persist writes a NEW generation, past every one on disk, because the
  * plan being written usually reads the previous one.
  *
  * Commits: [[gc]], the batch boundary, writes one manifest
  * `root/_commits/<n>` by create-then-rename. It names every live
  * table's chain: the table, its schema (a bucketed write of an empty
  * frame emits no parquet file to read one from) and each generation's
  * directory, kind and bucket count. Readers see only what a commit
  * names, so a batch that dies mid-flight recovers as the batch before
  * it, whole, as the reference commits a batch's writes as one RocksDB
  * WriteBatch. [[recover]] and [[BucketedParquetBackend.latest]] read
  * the newest commit. gc then keeps the newest `compactEvery` commits
  * and deletes every generation directory that none of them names:
  * superseded generations and the wrecks of batches that never
  * committed.
  *
  * Restart: [[recover]] composes each chain of the newest commit
  * bucket-aligned and adopts it as it stands, writing nothing, so keyed
  * reads against recovered state plan no state-side Exchange — the
  * reference's RocksDB state is key-indexed the moment it reopens, with
  * nothing rewritten (state/RocksDBState.java:474-491).
  */
final class BucketedParquetBackend(
    spark: SparkSession,
    val root: String,
    buckets: Int = 16,
    compactEvery: Int = 4) extends StateBackend {

  import BucketedParquetBackend.{Chain, Gen, applyDelta, commitPath, commits,
    compose, generations, manifest, manifestLine, readCommit, tableNames, writeMarker}

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

  // gc keeps the newest `compactEvery` commits: none would drop them all
  require(compactEvery >= 1, s"compactEvery must be at least 1, got $compactEvery")

  val durable = true

  /** A table's chain as of its last persist, the frame composed over it,
    * and the newest generation id on disk (past the chain after a
    * restart over the wrecks of an uncommitted batch). */
  private case class Live(maxGen: Long, chain: Chain, frame: DataFrame)

  private val live = new ConcurrentHashMap[String, Live]()

  private val rootPath = new Path(root)
  private def fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
  private def genDir(name: String, gen: Long) = new Path(rootPath, s"$name/g$gen")

  def persist(name: String, df: DataFrame): DataFrame =
    persistFull(name, df)

  override def persist(name: String, df: DataFrame,
      delta: Option[(DataFrame, DataFrame)]): DataFrame = {
    val prev = live.get(name)
    delta match {
      case Some((rows, keys))
          if prev != null && prev.chain.gens.size < compactEvery =>
        persistDelta(name, prev, rows, keys)
      case _ => persistFull(name, df)
    }
  }

  private def persistFull(name: String, df: DataFrame): DataFrame = {
    val prev = live.get(name)
    val gen = 1L + (if (prev != null) prev.maxGen
      else generations(fs, new Path(rootPath, name)).lastOption.getOrElse(0L))
    val dir = genDir(name, gen).toString
    val keyCol = df.columns.head
    BucketedPath.write(df.repartition(buckets, col(keyCol)), dir, keyCol, buckets)
    val frame = BucketedPath.read(spark, dir, df.schema, keyCol, buckets)
    live.put(name, Live(gen, Chain(df.schema, Seq(Gen(gen, "full", buckets))), frame))
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
  private def persistDelta(name: String, prev: Live,
      rows: DataFrame, keys: DataFrame): DataFrame = {
    val gen = prev.maxGen + 1L
    val dir = genDir(name, gen)
    val keyCol = prev.frame.columns.head
    // Change sets are batch-sized: the pre-write repartition is a
    // delta-sized shuffle that lands exactly one file per bucket.
    BucketedPath.write(rows.select(prev.frame.columns.map(col).toSeq: _*)
      .repartition(buckets, col(keyCol)), new Path(dir, "rows").toString, keyCol, buckets)
    keys.coalesce(buckets).write.parquet(new Path(dir, "keys").toString)
    // the layer reads both sides back from disk, so the composed frame
    // is independent of the input plans' lineage; it keeps the chain's
    // layout, as compose does, also over a chain recovered from a root
    // written with another bucket count
    val frame = applyDelta(spark, prev.frame, dir, buckets, prev.chain.gens.head.buckets)
    val chain = prev.chain.copy(gens = prev.chain.gens :+ Gen(gen, "delta", buckets))
    live.put(name, Live(gen, chain, frame))
    frame
  }

  /** Restart recovery (see class doc): the newest commit's chain of
    * every table, composed as [[BucketedParquetBackend.latest]] composes
    * it and adopted into [[live]], so each table's first post-restart
    * persist extends or supersedes it. */
  override def recover(): Map[String, DataFrame] =
    readCommit(fs, rootPath, Long.MaxValue).map { case (name, chain) =>
      val frame = compose(spark, rootPath, name, chain)
      live.put(name, Live(generations(fs, new Path(rootPath, name)).last, chain, frame))
      name -> frame
    }

  /** Commit every live table's chain as `root/_commits/<n>`, then keep
    * the newest `compactEvery` commits and delete each generation
    * directory that none of them names. A backend that has neither
    * persisted nor recovered commits nothing. */
  override def gc(): Unit = synchronized {
    if (!live.isEmpty) {
      val f = fs
      val ids = commits(f, rootPath)
      val id = ids.lastOption.getOrElse(0L) + 1L
      writeMarker(f, commitPath(rootPath, id), live.asScala.toSeq.sortBy(_._1)
        .map { case (name, l) => manifestLine(name, l.chain) }.mkString("\n"))
      // drop the commits first: a crash between the two deletes then
      // leaves unnamed generations for the next gc, never a commit
      // naming deleted ones
      val (dropped, kept) = (ids :+ id).splitAt(ids.size + 1 - compactEvery)
      dropped.foreach(c => f.delete(commitPath(rootPath, c), false))
      val named = kept.flatMap(c => manifest(f, rootPath, c)).flatMap {
        case (name, chain) => chain.gens.map(g => s"$name/g${g.id}")
      }.toSet
      for (name <- tableNames(f, rootPath);
           gen <- generations(f, new Path(rootPath, name));
           key = s"$name/g$gen" if !named(key))
        f.delete(new Path(rootPath, key), true)
    }
  }

  /** Delete the whole root (test teardown / --delete-state). */
  def deleteAll(): Unit = {
    live.clear()
    val f = fs
    if (f.exists(rootPath)) f.delete(rootPath, true)
  }
}

object BucketedParquetBackend {
  /** One generation of a chain: `g<id>`, its kind and bucket count. */
  private case class Gen(id: Long, kind: String, buckets: Int)

  /** One table as a commit names it: its schema and its chain, the FULL
    * generation first. */
  private case class Chain(schema: StructType, gens: Seq[Gen])

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Write `text` to `p` by create-then-rename, so a reader finds the
    * whole file or none: the commit point of a batch's state and of a
    * [[StateOps.backup]]. */
  private[streaming] def writeMarker(f: FileSystem, p: Path, text: String): Unit = {
    val tmp = p.suffix(".tmp")
    val out = f.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // fail LOUD on a false rename (dest exists, FS quirk): the engine
    // would go on past a batch that a restart silently replays from
    // the commit before it
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"could not commit $p")
  }

  private def commitPath(root: Path, id: Long) = new Path(root, s"_commits/$id")

  /** Ids of the commits under `root`, oldest first. */
  private def commits(f: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, "_commits")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName.toLongOption).sorted
  }

  /** A commit's line for one table: name, schema JSON, then one
    * `g<id>:<kind>:<buckets>` per generation, tab-separated. */
  private def manifestLine(name: String, chain: Chain): String =
    (name +: chain.schema.json +:
      chain.gens.map(g => s"g${g.id}:${g.kind}:${g.buckets}")).mkString("\t")

  /** Every table of the newest commit with id ≤ `upTo`; empty when there
    * is none. */
  private def readCommit(f: FileSystem, root: Path, upTo: Long): Map[String, Chain] =
    commits(f, root).filter(_ <= upTo).lastOption
      .fold(Map.empty[String, Chain])(manifest(f, root, _))

  /** Every table that commit `id` names. A commit that does not parse
    * fails, naming it and the table or generation at fault. */
  private def manifest(f: FileSystem, root: Path, id: Long): Map[String, Chain] = {
    val p = commitPath(root, id)
    try readText(f, p).linesIterator.filter(_.nonEmpty).map { line =>
      val Array(name, schema, gens @ _*) = line.split('\t')
      val struct = Try(DataType.fromJson(schema)).toOption.collect {
        case s: StructType => s
      }.getOrElse(throw new IllegalArgumentException(s"$name: no schema"))
      val chain = Chain(struct, gens.map {
        case s"g$g:$kind:$n" if g.toLongOption.isDefined && n.toIntOption.isDefined =>
          Gen(g.toLong, kind, n.toInt)
        case other => throw new IllegalArgumentException(
          s"$name/$other: not g<id>:<kind>:<buckets>")
      })
      require(chain.gens.map(_.kind) == "full" +: Seq.fill(gens.size - 1)("delta"),
        s"$name: a chain is one full generation, then deltas")
      name -> chain
    }.toMap
    catch { case NonFatal(e) =>
      throw new IllegalStateException(s"unreadable commit $p: ${e.getMessage}", e)
    }
  }

  /** The state tables under `root`: every directory but `_commits`. */
  private def tableNames(f: FileSystem, root: Path): Seq[String] =
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("_"))

  /** A table's `g<n>` generation ids, in order. */
  private def generations(f: FileSystem, tableDir: Path): Seq[Long] =
    if (!f.exists(tableDir)) Nil
    else f.listStatus(tableDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("g"))
      .flatMap(_.getPath.getName.drop(1).toLongOption)
      .sorted

  /** One delta generation over the view so far: drop the changed keys
    * (`keys/`; batch-sized, so a broadcast anti-join that never
    * shuffles the state side), then add the new rows (a changed key
    * without a row stays dropped = deletion). `rows/` is read with the
    * `rowsBuckets` it was written with, and zipped bucket to bucket
    * ([[graft.plans.BucketUnion]]) into the view's `viewBuckets`, so the
    * result keeps the view's layout. */
  private def applyDelta(spark: SparkSession, cur: DataFrame, dir: Path,
      rowsBuckets: Int, viewBuckets: Int): DataFrame = {
    val keys = spark.read.parquet(new Path(dir, "keys").toString)
    val kept = cur.join(broadcast(keys), keys.columns.toSeq, "left_anti")
    val keyCol = cur.columns.head
    graft.plans.BucketUnion(kept, BucketedPath.read(spark,
      new Path(dir, "rows").toString, cur.schema, keyCol, rowsBuckets), keyCol, viewBuckets)
  }

  /** A committed chain as one frame: its full generation read bucketed,
    * then each delta laid over it by [[applyDelta]]. The one reader of
    * committed state, for [[BucketedParquetBackend.recover]], [[latest]]
    * and [[asOf]]. */
  private def compose(spark: SparkSession, root: Path, name: String,
      chain: Chain): DataFrame = {
    def dir(g: Gen) = new Path(root, s"$name/g${g.id}")
    val base = chain.gens.head
    chain.gens.tail.foldLeft(BucketedPath.read(spark, dir(base).toString,
      chain.schema, chain.schema.fields.head.name, base.buckets)) {
      (cur, d) => applyDelta(spark, cur, dir(d), d.buckets, base.buckets)
    }
  }

  /** The newest committed state of every table under `root`. */
  def latest(spark: SparkSession, root: String): Map[String, DataFrame] =
    asOf(spark, root, Long.MaxValue)

  /** Time travel: every table as of commit `commit` (the newest commit
    * with id ≤ `commit`), composed as [[BucketedParquetBackend.recover]]
    * composes it, so keyed reads plan no state-side Exchange. It writes
    * nothing and adopts nothing, so it is the path for inspection
    * (`--show-state`, `--verify-state`) and cross-backend reads; ENGINE
    * restarts go through `recover`, which a later persist extends. The
    * engine commits once per batch, so this answers "what did the engine
    * believe after batch N" for every commit the backend still keeps — a
    * per-batch refinement of the reference's whole-store backup restore
    * (RocksDBState.java:355-461 can only rewind to a rotated backup).
    * Before the oldest retained commit the map is empty, never
    * half-composed. */
  def asOf(spark: SparkSession, root: String, commit: Long): Map[String, DataFrame] = {
    val rootPath = new Path(root)
    val f = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    readCommit(f, rootPath, commit).map { case (name, chain) =>
      name -> compose(spark, rootPath, name, chain)
    }
  }
}
