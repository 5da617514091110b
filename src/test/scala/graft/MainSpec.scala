package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Filters.{FilterMode, RecordFilter}
import graft.streaming.{BucketedParquetBackend, StateOps}

/** A no-arg filter hook loadable through the CLI's `filterClass`
  * config (the reference's filter.class): drops items with qty 13. */
class CliTestFilter extends RecordFilter {
  override def filter(entity: String, record: Row, old: Option[Row]): FilterMode =
    if (entity == "item" && record.getAs[Any]("qty") == 13L) FilterMode.Delete
    else FilterMode.Update
}

/** The operator CLI end-to-end (reference Southpaw.java:490-553): every
  * flag runs against a self-contained temp state root — build over a
  * two-entity changelog, verify-state, restore, delete-state,
  * delete-backup — plus a checkpointed re-build over an appended log
  * (the restart workflow) and a config-loaded filter hook.
  */
class MainSpec extends SparkSpec {

  private def write(dir: String, name: String, text: String): String = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  // item(id, qty, owner_id) ⟕ owner(id, name)
  private lazy val base: String = {
    val dir = Files.createTempDirectory("graft-cli").toString
    write(dir, "relations.json",
      """[{"DenormalizedName":"DenormItem","Entity":"item","Children":[
        |  {"Entity":"owner","JoinKey":"id","ParentKey":"owner_id"}]}]""".stripMargin)
    write(dir, "topics/item.json",
      """{"id":1}
        |{"id":1,"qty":10,"owner_id":100}
        |{"id":2}
        |{"id":2,"qty":20,"owner_id":200}
        |""".stripMargin)
    write(dir, "topics/owner.json",
      """{"id":100}
        |{"id":100,"name":"ann"}
        |{"id":200}
        |{"id":200,"name":"bob"}
        |""".stripMargin)
    write(dir, "conf.json",
      s"""{
         |  "topicsDir": "$dir/topics",
         |  "backupUri": "file://$dir/backups",
         |  "backend": "bucketed",
         |  "backendRoot": "file://$dir/state",
         |  "buckets": 4,
         |  "checkpointDir": "$dir/ckpt",
         |  "sink": "parquet",
         |  "sinkPath": "$dir/out"
         |}""".stripMargin)
    dir
  }

  private def cli(flags: String*): Main.Cli =
    Main.parse((Seq("--config", s"$base/conf.json",
      "--relations", s"$base/relations.json") ++ flags).toArray)

  test("argument parsing: flags, multi-relations, unknown flag rejected") {
    val c = Main.parse(Array("--config", "c.json", "--relations", "a.json,b.json",
      "--build", "--verify-state"))
    assert(c.config.contains("c.json") && c.relations == Seq("a.json", "b.json"))
    assert(c.build && c.verifyState && !c.deleteState)
    intercept[IllegalArgumentException](Main.parse(Array("--frobnicate")))
    assert(Main.run(Main.Cli(help = true), spark) == 0)
  }

  test("--build consumes the changelog and writes denormalized docs + backups + durable state") {
    assert(Main.run(cli("--build"), spark) == 0)
    val docs = spark.read.parquet(s"$base/out/DenormItem")
    assert(docs.count() == 2)
    val joined = docs.collect().map(_.getAs[String]("doc_json")).mkString
    assert(joined.contains("\"ann\"") && joined.contains("\"bob\""),
      s"docs missing joined owner names: $joined")
    assert(StateOps.backups(s"file://$base/backups").nonEmpty, "no backup written")
    assert(Files.list(Paths.get(s"$base/state")).count() > 0, "no durable generations")
  }

  test("--build again after a log append resumes from the checkpoint (operator restart)") {
    // two new changelog records: an update for item 1 and a new item 3
    Files.write(Paths.get(s"$base/topics/item.json"),
      """{"id":1}
        |{"id":1,"qty":11,"owner_id":200}
        |{"id":3}
        |{"id":3,"qty":30,"owner_id":100}
        |""".stripMargin.getBytes("UTF-8"), StandardOpenOption.APPEND)
    assert(Main.run(cli("--build"), spark) == 0)
    // the sink appends per batch: the SECOND build must emit exactly
    // the two changed docs (offsets before the checkpoint are skipped,
    // state was restored, so doc 2 is untouched)
    val docs = spark.read.parquet(s"$base/out/DenormItem")
    assert(docs.count() == 4, "restart re-emitted already-committed documents")
    val latest = docs.collect().map(_.getAs[String]("doc_json")).mkString
    assert(latest.contains("\"qty\":11") && latest.contains("\"qty\":30"))
    // item 1 now joins owner 200 ("bob")
    val doc1 = docs.where(col("doc_json").contains("\"qty\":11"))
      .collect().head.getAs[String]("doc_json")
    assert(doc1.contains("\"bob\""), s"FK flip not applied on restart: $doc1")
  }

  test("--build honors a config-loaded filter hook (filterClass)") {
    val dir = Files.createTempDirectory("graft-cli-filter").toString
    write(dir, "relations.json",
      """[{"DenormalizedName":"DenormItem","Entity":"item","Children":[
        |  {"Entity":"owner","JoinKey":"id","ParentKey":"owner_id"}]}]""".stripMargin)
    write(dir, "topics/item.json",
      """{"id":1}
        |{"id":1,"qty":10,"owner_id":100}
        |{"id":2}
        |{"id":2,"qty":13,"owner_id":100}
        |""".stripMargin)
    write(dir, "topics/owner.json",
      """{"id":100}
        |{"id":100,"name":"ann"}
        |""".stripMargin)
    write(dir, "conf.json",
      s"""{
         |  "topicsDir": "$dir/topics",
         |  "checkpointDir": "$dir/ckpt",
         |  "sink": "parquet",
         |  "sinkPath": "$dir/out",
         |  "filterClass": "graft.CliTestFilter"
         |}""".stripMargin)
    val c = Main.parse(Array("--config", s"$dir/conf.json",
      "--relations", s"$dir/relations.json", "--build"))
    assert(Main.run(c, spark) == 0)
    val docs = spark.read.parquet(s"$dir/out/DenormItem")
    val live = docs.where(!col("__deleted")).collect().map(_.getAs[String]("doc_json"))
    assert(live.length == 1 && live.head.contains("\"qty\":10"),
      s"filter hook not applied: ${live.mkString(";")}")
  }

  test("--verify-state reads the durable state and writes nothing") {
    val state = Paths.get(s"$base/state")
    // every generation directory, and every batch commit's bytes
    def layout(): Map[String, Seq[Byte]] = {
      val walk = Files.walk(state)
      try walk.iterator().asScala.collect {
        case p if Files.isDirectory(p) && p.getFileName.toString.matches("g\\d+") =>
          state.relativize(p).toString -> Seq.empty[Byte]
        case p if p.getParent.getFileName.toString == "_commits" =>
          state.relativize(p).toString -> Files.readAllBytes(p).toSeq
      }.toMap
      finally walk.close()
    }
    val before = layout()
    assert(before.keys.exists(_.startsWith("_commits/")), s"no committed state: $before")
    assert(Main.run(cli("--verify-state"), spark) == 0)
    assert(layout() == before, "--verify-state changed the durable state")
  }

  test("--verify-state without backups reports an orphan link in the durable state") {
    val dir = Files.createTempDirectory("graft-cli-orphan").toString
    write(dir, "relations.json",
      """[{"DenormalizedName":"DenormItem","Entity":"item","Children":[
        |  {"Entity":"owner","JoinKey":"id","ParentKey":"owner_id"}]}]""".stripMargin)
    write(dir, "topics/item.json",
      """{"id":1}
        |{"id":1,"qty":10,"owner_id":100}
        |""".stripMargin)
    write(dir, "topics/owner.json",
      """{"id":100}
        |{"id":100,"name":"ann"}
        |""".stripMargin)
    write(dir, "conf.json",
      s"""{
         |  "topicsDir": "$dir/topics",
         |  "backend": "bucketed",
         |  "backendRoot": "file://$dir/state",
         |  "buckets": 4,
         |  "checkpointDir": "$dir/ckpt"
         |}""".stripMargin)
    def run(flag: String): Int = Main.run(Main.parse(Array("--config",
      s"$dir/conf.json", "--relations", s"$dir/relations.json", flag)), spark)
    assert(run("--build") == 0)
    assert(run("--verify-state") == 0)
    // commit an empty owner snapshot over the built state: the owner
    // link now references a dead child PK
    val root = s"file://$dir/state"
    val owners = BucketedParquetBackend.latest(spark, root)("snapshot__owner")
    val b = new BucketedParquetBackend(spark, root, buckets = 4)
    b.recover()
    b.persist("snapshot__owner", owners.limit(0))
    b.gc()
    assert(run("--verify-state") > 0)
  }

  test("--verify-state exits 0 on consistent restored state") {
    assert(Main.run(cli("--verify-state"), spark) == 0)
  }

  test("--restore restores from the newest backup") {
    assert(Main.run(cli("--restore"), spark) == 0)
  }

  test("--show-state lists durable state tables; --as-of time-travels") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      assert(Main.run(cli("--show-state"), spark) == 0)
    }
    assert(out.toString.contains("] state ") && out.toString.contains(" rows"),
      s"expected per-table state listing, got:\n$out")
    // generation 0 predates every commit: nothing to show, still exit 0
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      assert(Main.run(cli("--show-state", "--as-of", "0"), spark) == 0)
    }
    assert(out2.toString.contains("no committed state"), out2.toString)
  }

  test("--delete-state / --delete-backup remove the roots") {
    assert(Main.run(cli("--delete-state", "--delete-backup"), spark) == 0)
    assert(!Files.exists(Paths.get(s"$base/state")))
    assert(!Files.exists(Paths.get(s"$base/backups")))
  }

  test("value flag with no value reports the missing value, not 'unknown argument'") {
    val err = intercept[IllegalArgumentException](
      Main.parse(Array("--build", "--config")))
    assert(err.getMessage.contains("missing value for --config"), err.getMessage)
  }

  test("--build with triggerMs soaks: continuous batches over a growing log, backups rotate, clean stop") {
    // the reference's run-forever loop (Southpaw.java:253-284): a
    // ProcessingTime trigger keeps draining while a writer appends to
    // the changelog; the operator stops it externally
    val dir = Files.createTempDirectory("graft-cli-soak").toString
    write(dir, "relations.json",
      """[{"DenormalizedName":"DenormItem","Entity":"item","Children":[
        |  {"Entity":"owner","JoinKey":"id","ParentKey":"owner_id"}]}]""".stripMargin)
    write(dir, "topics/item.json",
      """{"id":1}
        |{"id":1,"qty":10,"owner_id":100}
        |""".stripMargin)
    write(dir, "topics/owner.json",
      """{"id":100}
        |{"id":100,"name":"ann"}
        |""".stripMargin)
    // topicsDir deliberately scheme-qualified: schema inference and the
    // streaming reader must take any Hadoop-FS URI, not just bare
    // paths. Durable backend with a short compaction cycle, so the
    // soak also drives delta generations + gc through the live
    // continuous path.
    write(dir, "conf.json",
      s"""{
         |  "topicsDir": "file://$dir/topics",
         |  "backupUri": "file://$dir/backups",
         |  "backupsToKeep": 2,
         |  "backupEvery": 1,
         |  "backend": "bucketed",
         |  "backendRoot": "file://$dir/state",
         |  "buckets": 4,
         |  "compactEvery": 4,
         |  "checkpointDir": "$dir/ckpt",
         |  "sink": "parquet",
         |  "sinkPath": "$dir/out",
         |  "triggerMs": 100
         |}""".stripMargin)
    val c = Main.parse(Array("--config", s"$dir/conf.json",
      "--relations", s"$dir/relations.json", "--build"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val run = Future(Main.run(c, spark))
    def docCount(): Long =
      try spark.read.parquet(s"$dir/out/DenormItem").count()
      catch { case _: Exception => 0L }
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 90000
      while (!cond && System.currentTimeMillis() < deadline) {
        // a continuous build must still be RUNNING; if the Future
        // completed, surface its exit/exception instead of timing out
        run.value.foreach(v => fail(s"continuous build ended early: $v"))
        Thread.sleep(200)
      }
      assert(cond, s"soak timed out waiting for $what")
    }
    try {
      waitFor("first batch")(docCount() >= 1L)
      // the background writer: append records while the stream runs
      Files.write(Paths.get(s"$dir/topics/item.json"),
        "{\"id\":2}\n{\"id\":2,\"qty\":20,\"owner_id\":100}\n".getBytes("UTF-8"),
        StandardOpenOption.APPEND)
      waitFor("second batch")(docCount() >= 2L)
      Files.write(Paths.get(s"$dir/topics/item.json"),
        "{\"id\":3}\n{\"id\":3,\"qty\":30,\"owner_id\":100}\n".getBytes("UTF-8"),
        StandardOpenOption.APPEND)
      waitFor("third batch")(docCount() >= 3L)
      // multi-batch processing: distinct batch_id partitions in the sink
      val batchIds = spark.read.parquet(s"$dir/out/DenormItem")
        .select("batch_id").distinct().count()
      assert(batchIds >= 2, s"expected >=2 micro-batches, saw $batchIds")
      // backup rotation: backupEvery=1 wrote several, pruned to backupsToKeep=2
      waitFor("backup rotation to exactly 2, have " +
          s"${StateOps.backups(s"file://$dir/backups")}")(
        StateOps.backups(s"file://$dir/backups").size == 2)
      // the durable backend is live: committed generations exist, and
      // with compactEvery=4 over 3 persists per table the chain ends
      // full + deltas — at least one DELTA generation (rows/ layout)
      // is still on disk at stop
      val stateDir = java.nio.file.Paths.get(s"$dir/state")
      assert(java.nio.file.Files.list(stateDir).count() > 0,
        "no durable state tables written by the soak")
      val hasDelta = java.nio.file.Files.walk(stateDir)
        .anyMatch(p => p.getFileName.toString == "rows")
      assert(hasDelta, "soak never wrote a delta generation")
    } finally {
      spark.streams.active.foreach(_.stop())
      assert(Await.result(run, 90.seconds) == 0,
        "continuous build did not shut down cleanly")
    }
    // metrics monotonicity rode the waits above: the sink count only
    // ever GREW (1 → 2 → 3) across the soak, and each wait re-read the
    // cumulative output — a regressing counter would have failed the
    // later waits. The gauge values themselves are asserted in
    // StreamingSpec's metrics-listener test.
  }
}
