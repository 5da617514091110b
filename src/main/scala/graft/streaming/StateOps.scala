package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Operational state management for the incremental engine — the
  * Spark-native analogue of the reference's RocksDB backup/restore/
  * verify CLI (reference: Southpaw.java:525-543,667-670,
  * state/RocksDBState.java:247-265,355-461,639-708,
  * index/Index.java:366-414).
  *
  * A backup is one `backup_<millis>` directory under a root, holding
  * one parquet directory per state table (snapshots, per-edge
  * links/rootmaps, per-tree documents, deferred-priority sets). It is
  * committed by a `_MANIFEST` marker written after its last table,
  * with the durable backend's create-then-rename
  * [[BucketedParquetBackend.writeMarker]]: a backup whose writer died
  * between two tables has no marker and is never restored. Each
  * [[backup]] call creates a new backup and prunes to the newest
  * `backupsToKeep` committed ones (the reference's `backups.to.keep`,
  * RocksDBState.java:247-265). Backups are explicit, whole-state
  * copies; a durable engine's restart reads its backend's newest batch
  * commit instead ([[BucketedParquetBackend.recover]]). [[restore]]
  * honors the reference's restore modes (`backups.restore.mode` =
  * always / when_needed / never, RocksDBState.java:355-461) and rolls
  * back to the previous backup when the newest is uncommitted or
  * corrupt (RocksDBState.java:639-708).
  *
  * All listing/pruning/deletion goes through the Hadoop FileSystem
  * API, so a root may be a bare local path or any scheme-qualified
  * URI the session can reach — file:///, hdfs://, s3a:// — the same
  * reach as the reference's S3-aware backup URI
  * (util/S3Helper.java, Southpaw.java backup.uri).
  */
object StateOps {

  /** `backups.restore.mode` parity. */
  sealed trait RestoreMode
  object RestoreMode {
    /** Restore from the newest readable backup unconditionally. */
    case object Always extends RestoreMode
    /** Restore only when the engine holds no state yet (fresh start /
      * lost local state — the reference's default). */
    case object WhenNeeded extends RestoreMode
    /** Never restore. */
    case object Never extends RestoreMode

    def byName(name: String): RestoreMode = name.toLowerCase match {
      case "always" => Always
      case "when_needed" => WhenNeeded
      case "never" => Never
      case other => throw new IllegalArgumentException(
        s"unknown restore mode '$other' (have: always, when_needed, never)")
    }
  }

  private val backupPrefix = "backup_"

  /** A backup's commit marker. */
  private def marker(dir: Path) = new Path(dir, "_MANIFEST")

  /** Hadoop conf of the live session when there is one (carries its
    * fs.* credentials/settings); defaults otherwise. */
  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf())

  /** Backup directories under `root`, oldest first (zero-padded millis
    * timestamps sort lexicographically = chronologically). */
  def backups(root: String): Seq[Path] = {
    val r = new Path(root)
    val f = fs(r)
    if (!f.exists(r)) Nil
    else f.listStatus(r).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(backupPrefix))
      .sortBy(_.getPath.getName)
      .map(_.getPath)
  }

  /** Persist every state table of a live engine into a NEW timestamped
    * backup under `root`, commit it with its marker, then prune to the
    * newest `backupsToKeep` committed backups, and drop the uncommitted
    * ones older than this one (wrecks of writers that died). Returns the
    * backup directory path. */
  def backup(engine: IncrementalDenormalizer, root: String,
      backupsToKeep: Int = 5): String = {
    require(backupsToKeep >= 1, "must keep at least one backup")
    val r = new Path(root)
    val f = fs(r)
    var ts = System.currentTimeMillis()
    def dirFor(t: Long) = new Path(r, f"$backupPrefix$t%013d")
    var dir = dirFor(ts)
    while (f.exists(dir)) { ts += 1; dir = dirFor(ts) }
    val tables = engine.stateTables
    tables.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(new Path(dir, name).toString)
    }
    BucketedParquetBackend.writeMarker(f, marker(dir), s"backup:${tables.size}")
    val (done, wrecks) = backups(root).partition(p => f.exists(marker(p)))
    (done.dropRight(backupsToKeep) ++ wrecks.filter(_.getName < dir.getName))
      .foreach(p => f.delete(p, true))
    dir.toString
  }

  /** Load persisted state back into an engine according to `mode`,
    * rolling back through older backups when a newer one is
    * uncommitted or corrupt.
    *
    * @return the backup directory restored from, or None when the mode
    *         decided not to restore
    */
  def restore(engine: IncrementalDenormalizer, root: String,
      mode: RestoreMode = RestoreMode.Always): Option[String] = mode match {
    case RestoreMode.Never => None
    case RestoreMode.WhenNeeded if hasState(engine) => None
    case _ =>
      val candidates = backups(root).reverse // newest first
      if (candidates.isEmpty) {
        // nothing backed up yet: fine for when_needed (first run),
        // an error for an explicit always
        if (mode == RestoreMode.WhenNeeded) None
        else throw new IllegalStateException(s"no state found under $root")
      } else {
        val restored = candidates.view.map(dir => dir -> tryLoad(engine, dir))
          .collectFirst { case (dir, Some(tables)) =>
            engine.loadStateTables(tables)
            dir.toString
          }
        Some(restored.getOrElse(throw new IllegalStateException(
          s"every backup under $root is unreadable — nothing to restore")))
      }
  }

  /** Any state table non-empty? (WhenNeeded's "local state exists".) */
  private def hasState(engine: IncrementalDenormalizer): Boolean =
    engine.stateTables.values.exists(df => !df.isEmpty)

  /** Read and VALIDATE one backup: it must be committed, and every
    * table must fully scan (a corrupt or truncated parquet fails here).
    * Either failure triggers rollback to the previous backup —
    * RocksDBState.java:639-708 semantics. */
  private def tryLoad(engine: IncrementalDenormalizer,
      dir: Path): Option[Map[String, DataFrame]] =
    try {
      val spark = engine.session
      if (!fs(dir).exists(marker(dir)))
        throw new IllegalStateException("no commit marker")
      val tables = fs(dir).listStatus(dir).toSeq
        .filter(_.isDirectory)
        .map { d =>
          val df = spark.read.parquet(d.getPath.toString)
          df.count() // force a full read — surfaces data corruption
          d.getPath.getName -> df
        }.toMap
      if (tables.isEmpty) None else Some(tables)
    } catch {
      case e: Exception =>
        System.err.println(
          s"[graft] backup $dir unreadable (${e.getMessage}); rolling back")
        None
    }

  /** Delete a persisted state root (the reference's --delete-state /
    * --delete-backup). */
  def deleteState(root: String): Unit = {
    val p = new Path(root)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Index-invariant check (the reference's --verify-state,
    * index/Indices.java:298-311): every link-table child key must
    * reference a live snapshot row of its entity, and every rootmap
    * root PK must be a live root-entity PK. Cheap set-at-a-time
    * anti-joins instead of full RocksDB scans.
    *
    * @return list of human-readable violations (empty = consistent)
    */
  def verifyState(engine: IncrementalDenormalizer): Seq[String] =
    engine.indexInvariantViolations()
}
