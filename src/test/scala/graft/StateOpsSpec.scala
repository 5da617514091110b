package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Relation
import graft.streaming.{IncrementalDenormalizer, StateOps}
import graft.streaming.StateOps.RestoreMode

/** Backup rotation, restore modes, and corrupt-backup rollback —
  * parity with the reference's BackupEngine semantics
  * (state/RocksDBState.java:247-265 keep-N, :355-461 restore modes,
  * :639-708 latest-or-rollback).
  */
class StateOpsSpec extends SparkSpec {
  import spark.implicits._

  private def changelog(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("offset", "id", "qty")
      .select(col("offset"), struct(col("id")).as("key"),
        struct(col("id"), col("qty")).as("value"))

  private def newEngine(): IncrementalDenormalizer = {
    val schema = changelog(Seq((1L, 1L, 1L))).schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    new IncrementalDenormalizer(spark, Seq(Relation.root("DenormItem", "item")),
      Map("item" -> Seq("id")), Map("item" -> schema))
  }

  private def snapshotMap(e: IncrementalDenormalizer): Map[Long, Long] =
    e.snapshot("item").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("qty")).toMap

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-stateops").toString

  test("backup rotation keeps only the newest N") {
    val root = tmpRoot()
    val engine = newEngine()
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    (1 to 5).foreach(_ => StateOps.backup(engine, root, backupsToKeep = 3))
    val kept = StateOps.backups(root)
    assert(kept.size == 3)
    assert(kept.map(_.getName) == kept.map(_.getName).sorted) // chronological
    StateOps.deleteState(root)
  }

  test("backup rotation keeps the newest N committed backups, not uncommitted wrecks") {
    val root = tmpRoot()
    val engine = newEngine()
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    val a = new File(StateOps.backup(engine, root, backupsToKeep = 2))
    // two writers that died before their marker, after backup A
    val stamp = a.getName.stripPrefix("backup_").toLong
    val wrecks = Seq(1, 2).map { i =>
      val w = new File(root, f"backup_${stamp + i}%013d")
      Files.createDirectories(new File(w, "snapshot__item").toPath)
      w
    }
    val b = new File(StateOps.backup(engine, root, backupsToKeep = 2))
    assert(StateOps.backups(root).map(_.getName) == Seq(a.getName, b.getName),
      s"wrecks ${wrecks.map(_.getName)} must go, both committed backups stay")
    StateOps.deleteState(root)
  }

  test("restore modes: never is a no-op, when_needed skips a live engine, always restores") {
    val root = tmpRoot()
    val engine = newEngine()
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    StateOps.backup(engine, root)
    // advance the live engine past the backup
    engine.processBatch(Map("item" -> changelog(Seq((2L, 1L, 99L)))))

    assert(StateOps.restore(engine, root, RestoreMode.Never).isEmpty)
    assert(snapshotMap(engine) == Map(1L -> 99L))

    // engine still holds state → when_needed must not roll it back
    assert(StateOps.restore(engine, root, RestoreMode.WhenNeeded).isEmpty)
    assert(snapshotMap(engine) == Map(1L -> 99L))

    // always restores the backup over live state
    assert(StateOps.restore(engine, root, RestoreMode.Always).isDefined)
    assert(snapshotMap(engine) == Map(1L -> 10L))

    // a FRESH engine (no state) does restore under when_needed
    val fresh = newEngine()
    assert(StateOps.restore(fresh, root, RestoreMode.WhenNeeded).isDefined)
    assert(snapshotMap(fresh) == Map(1L -> 10L))
    StateOps.deleteState(root)

    assert(StateOps.RestoreMode.byName("when_needed") == RestoreMode.WhenNeeded)
  }

  test("rotation and restore work through a scheme-qualified file:/// root") {
    val root = "file://" + tmpRoot()
    val engine = newEngine()
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    (1 to 4).foreach(_ => StateOps.backup(engine, root, backupsToKeep = 2))
    assert(StateOps.backups(root).size == 2)
    val fresh = newEngine()
    val from = StateOps.restore(fresh, root, RestoreMode.WhenNeeded)
    assert(from.exists(_.startsWith("file:")))
    assert(snapshotMap(fresh) == Map(1L -> 10L))
    StateOps.deleteState(root)
    assert(StateOps.backups(root).isEmpty)
  }

  test("corrupt newest backup rolls back to the previous one, state intact") {
    val root = tmpRoot()
    val engine = newEngine()
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    StateOps.backup(engine, root)
    engine.processBatch(Map("item" -> changelog(Seq((2L, 2L, 20L)))))
    val latest = StateOps.backup(engine, root)

    // corrupt every parquet data file of the newest backup
    Files.walk(new File(latest).toPath).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        Files.write(p, Array.fill[Byte](16)(0x7f))
    }

    val fresh = newEngine()
    val restoredFrom = StateOps.restore(fresh, root)
    assert(restoredFrom.isDefined && !restoredFrom.contains(latest))
    assert(snapshotMap(fresh) == Map(1L -> 10L)) // first backup's content
    StateOps.deleteState(root)
  }

  test("a newest backup without its commit marker rolls back to the previous one") {
    val root = tmpRoot()
    val engine = newEngine()
    engine.processBatch(Map("item" -> changelog(Seq((1L, 1L, 10L)))))
    StateOps.backup(engine, root)
    engine.processBatch(Map("item" -> changelog(Seq((2L, 1L, 99L)))))
    val latest = new File(StateOps.backup(engine, root))

    // a writer that died between two tables: the newest backup holds
    // its snapshot table only, and no marker
    latest.listFiles().filter(_.getName != "snapshot__item").foreach { f =>
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    assert(latest.list().toSeq == Seq("snapshot__item"))

    val fresh = newEngine()
    val restoredFrom = StateOps.restore(fresh, root)
    assert(restoredFrom.isDefined && !restoredFrom.contains(latest.toString))
    assert(snapshotMap(fresh) == Map(1L -> 10L)) // first backup's content
    StateOps.deleteState(root)
  }
}
