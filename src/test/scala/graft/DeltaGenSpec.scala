package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.streaming.BucketedParquetBackend

/** Delta generations in [[BucketedParquetBackend]]: a persist that
  * carries its change set writes ONLY the changed rows/keys — the
  * reference's RocksDB WriteBatch write profile
  * (state/RocksDBState.java:611-636: only touched keys hit the
  * store) — while the composed view, restart recovery, compaction,
  * and batch commits all behave exactly as with full generations.
  */
class DeltaGenSpec extends SparkSpec with BeforeAndAfterAll {

  private val root: String =
    "file://" + java.nio.file.Files.createTempDirectory("graft_delta_gen")

  private val schema = StructType(Seq(
    StructField("__pk", BinaryType), StructField("v", LongType)))
  private val keySchema = StructType(Seq(StructField("__pk", BinaryType)))

  private def pk(i: Int): Array[Byte] = Array[Byte](i.toByte)
  private def df(pairs: (Int, Long)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(pairs.map { case (k, v) => Row(pk(k), v) }: _*),
      schema)
  private def keysDf(ks: Int*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ks.map(k => Row(pk(k))): _*), keySchema)
  private def contents(d: DataFrame): Map[Int, Long] =
    d.collect().map(r => r.getAs[Array[Byte]]("__pk")(0).toInt -> r.getLong(1)).toMap

  private def genDirs(fs: org.apache.hadoop.fs.FileSystem, table: String): Seq[Path] =
    fs.listStatus(new Path(root, table)).toSeq
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName.drop(1).toLong)

  test("delta persists write only the change set; composed view upserts and deletes") {
    val b = new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 10)
    val g1 = b.persist("t", df(1 -> 10L, 2 -> 20L, 3 -> 30L), None)
    assert(contents(g1) == Map(1 -> 10L, 2 -> 20L, 3 -> 30L))

    // upsert key 2, insert key 4, DELETE key 3 (key listed, no row)
    val g2 = b.persist("t", df(1 -> 10L, 2 -> 21L, 4 -> 40L),
      Some((df(2 -> 21L, 4 -> 40L), keysDf(2, 3, 4))))
    assert(contents(g2) == Map(1 -> 10L, 2 -> 21L, 4 -> 40L))

    // a second chained delta on top of the first
    val g3 = b.persist("t", df(1 -> 10L, 2 -> 21L, 4 -> 41L, 5 -> 50L),
      Some((df(4 -> 41L, 5 -> 50L), keysDf(4, 5))))
    assert(contents(g3) == Map(1 -> 10L, 2 -> 21L, 4 -> 41L, 5 -> 50L))

    // write amplification: the delta generation holds ONLY its change
    // set, not the table (rows=2, keys=2 for g3)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = genDirs(fs, "t")
    assert(dirs.size == 3)
    val lastGen = dirs.last
    assert(fs.exists(new Path(lastGen, "rows")) && fs.exists(new Path(lastGen, "keys")),
      s"expected delta layout under $lastGen")
    assert(spark.read.parquet(new Path(lastGen, "rows").toString).count() == 2)
    assert(spark.read.parquet(new Path(lastGen, "keys").toString).count() == 2)

    // restart recovery composes the committed full+delta chain from disk alone
    b.gc()
    val rec = BucketedParquetBackend.latest(spark, root)("t")
    assert(contents(rec) == Map(1 -> 10L, 2 -> 21L, 4 -> 41L, 5 -> 50L))
    b.deleteAll()
  }

  test("every compactEvery-th persist rewrites full and retires the chain") {
    val b = new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 3)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    b.persist("c", df(1 -> 1L), None)                                    // g1 full
    b.persist("c", df(1 -> 1L, 2 -> 2L), Some((df(2 -> 2L), keysDf(2)))) // g2 delta
    b.persist("c", df(1 -> 1L, 2 -> 2L, 3 -> 3L),
      Some((df(3 -> 3L), keysDf(3))))                                    // g3 delta
    b.persist("c", df(1 -> 1L, 2 -> 2L, 3 -> 3L, 4 -> 4L),
      Some((df(4 -> 4L), keysDf(4))))                                    // g4 FULL (cap)
    val dirs = genDirs(fs, "c")
    assert(dirs.size == 4)
    // g4 must be a full generation (no rows/ subdir, bucketed files)
    assert(!fs.exists(new Path(dirs.last, "rows")),
      "compaction persist still wrote a delta generation")
    assert(contents(spark.read.parquet(dirs.last.toString)) ==
      Map(1 -> 1L, 2 -> 2L, 3 -> 3L, 4 -> 4L))
    // gc commits g4 alone, and deletes the chain (g1 full + g2/g3
    // deltas) that no commit names
    b.gc()
    assert(genDirs(fs, "c").map(_.getName) == Seq("g4"))
    b.deleteAll()
    // keeping no commit would delete every generation
    intercept[IllegalArgumentException](
      new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 0))
  }

  test("asOf time-travels to any committed generation still on disk") {
    val b = new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 10)
    b.persist("tt", df(1 -> 10L, 2 -> 20L), None)
    b.gc() // commit 1
    b.persist("tt", df(1 -> 10L, 2 -> 21L),
      Some((df(2 -> 21L), keysDf(2))))
    b.gc() // commit 2
    b.persist("tt", df(1 -> 10L, 2 -> 21L, 3 -> 30L),
      Some((df(3 -> 30L), keysDf(3))))
    b.gc() // commit 3
    // each batch's believed state is reproducible by commit id
    assert(contents(BucketedParquetBackend.asOf(spark, root, 1)("tt")) ==
      Map(1 -> 10L, 2 -> 20L))
    assert(contents(BucketedParquetBackend.asOf(spark, root, 2)("tt")) ==
      Map(1 -> 10L, 2 -> 21L))
    assert(contents(BucketedParquetBackend.asOf(spark, root, 3)("tt")) ==
      Map(1 -> 10L, 2 -> 21L, 3 -> 30L))
    // latest == asOf(∞)
    assert(contents(BucketedParquetBackend.latest(spark, root)("tt")) ==
      Map(1 -> 10L, 2 -> 21L, 3 -> 30L))
    // before the first commit: the table is absent, never empty
    assert(!BucketedParquetBackend.asOf(spark, root, 0).contains("tt"))
    b.deleteAll()
  }

  test("an EMPTY committed full generation recovers as empty, not unreadable") {
    // a bucketed write of zero rows emits NO parquet files — the
    // commit's schema is the only schema carrier; without one, recovery
    // of an empty state table (scrubbed rootmap, pre-first-edge link
    // table) died with UNABLE_TO_INFER_SCHEMA
    val b = new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 10)
    b.persist("empty", df(), None)
    b.gc()
    val rec = BucketedParquetBackend.latest(spark, root)("empty")
    assert(rec.schema == schema, "the commit's schema must round-trip")
    assert(rec.count() == 0)
    // the live recover() path composes the same empty chain
    val b2 = new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 10)
    val rec2 = b2.recover()("empty")
    assert(rec2.count() == 0 && rec2.schema.fieldNames.toSeq == Seq("__pk", "v"))
    b2.deleteAll()
  }

  test("latest skips an uncommitted delta suffix (no _MANIFEST marker)") {
    val b = new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 10)
    b.persist("u", df(1 -> 1L), None)
    b.persist("u", df(1 -> 1L, 2 -> 2L), Some((df(2 -> 2L), keysDf(2))))
    b.gc()
    // a batch that died before its commit: its delta is on disk, and no
    // commit names it
    b.persist("u", df(1 -> 1L, 2 -> 2L, 9 -> 99L), Some((df(9 -> 99L), keysDf(1, 9))))
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(genDirs(fs, "u").size == 3)
    val rec = BucketedParquetBackend.latest(spark, root)("u")
    assert(contents(rec) == Map(1 -> 1L, 2 -> 2L),
      "recovery read past an uncommitted generation")
    b.deleteAll()
  }

  /** Overwrite commit 1 with `manifest`; the failure `latest` and
    * `recover` both raise, which names the commit. */
  private def commitFailure(manifest: String): String = {
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(root, "_commits/1"), true)
    out.write(manifest.getBytes("UTF-8")); out.close()
    val viaLatest = intercept[IllegalStateException] {
      BucketedParquetBackend.latest(spark, root)
    }
    val viaRecover = intercept[IllegalStateException] {
      new BucketedParquetBackend(spark, root, buckets = 4).recover()
    }
    assert(viaLatest.getMessage == viaRecover.getMessage)
    assert(viaLatest.getMessage.contains("_commits/1"), viaLatest.getMessage)
    viaLatest.getMessage
  }

  test("a committed delta with no committed base fails loudly, not empty") {
    val b = new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 10)
    b.persist("m", df(1 -> 1L), None)
    b.gc()
    // a commit whose chain starts with a delta: in real operation this can
    // only happen if the commit file was damaged underneath the chain
    val err = commitFailure(s"m\t${schema.json}\tg1:delta:4")
    assert(err.contains("m: a chain is one full generation"), err)
    b.deleteAll()
  }

  test("a marker without a bucket count, or a full generation without _SCHEMA, fails naming the generation") {
    val b = new BucketedParquetBackend(spark, root, buckets = 4, compactEvery = 10)
    b.persist("m", df(1 -> 1L), None)
    b.gc()
    // the commit's generation entry has no bucket count
    val badMarker = commitFailure(s"m\t${schema.json}\tg1:full")
    assert(badMarker.contains("m/g1:full"), badMarker)
    // the commit names the table's generation, and no schema for it
    val noSchema = commitFailure("m\t\tg1:full:4")
    assert(noSchema.contains("m: no schema"), noSchema)
    assert(commitFailure("m\tnot a schema\tg1:full:4").contains("m: no schema"))
    b.deleteAll()
  }

  override def afterAll(): Unit = {
    val dir = new java.io.File(new java.net.URI(root))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(dir)
  }
}
