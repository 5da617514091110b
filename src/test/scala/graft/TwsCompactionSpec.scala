package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.TwsCompaction

/** transformWithState latest-per-key compaction: per-key
  * last-writer-wins by offset (also within one batch), a tombstone
  * removes state and emits a null row, out-of-order rows below the
  * stored offset are ignored across micro-batches, and a key reinserted
  * after its tombstone starts fresh. Runs on the RocksDB state store
  * provider, which transformWithState requires.
  */
class TwsCompactionSpec extends SparkSpec {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksdb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[A](body: => A): A = {
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksdb)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("tws compaction: updates, tombstones, out-of-order — legacy-operator parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val stream = MemoryStream[(String, Long, String, String)]
      val out = TwsCompaction.latestStream(
        stream.toDF().toDF("entity", "offset", "key_json", "value_json"))
      val query = out.writeStream
        .format("memory").queryName("tws_compacted")
        .outputMode(OutputMode.Update())
        .start()
      try {
        // batch 1: two keys, one updated twice within the batch
        stream.addData(Seq(
          ("item", 1L, """{"id":1}""", """{"qty":10}"""),
          ("item", 2L, """{"id":1}""", """{"qty":11}"""),
          ("item", 3L, """{"id":2}""", """{"qty":20}""")))
        query.processAllAvailable()
        val b1 = spark.table("tws_compacted").collect()
          .map(r => r.getString(2) -> (r.getLong(1), r.getString(3))).toMap
        assert(b1("""{"id":1}""") == (2L, """{"qty":11}"""))
        assert(b1("""{"id":2}""") == (3L, """{"qty":20}"""))

        // batch 2: tombstone id=1 (emits null, drops state); stale
        // out-of-order update for id=2 is ignored (no emission)
        stream.addData(Seq(
          ("item", 4L, """{"id":1}""", null),
          ("item", 1L, """{"id":2}""", """{"qty":19}""")))
        query.processAllAvailable()
        val rows = spark.table("tws_compacted").collect()
          .map(r => (r.getString(2), r.getLong(1),
            if (r.isNullAt(3)) null else r.getString(3)))
        assert(rows.count(_._1 == """{"id":1}""") == 2)
        assert(rows.contains(("""{"id":1}""", 4L, null)), "tombstone emits null row")
        assert(rows.count(_._1 == """{"id":2}""") == 1, "stale update must not emit")

        // batch 3: key 1 reappears after its tombstone — fresh insert
        // (state was cleared, offset restarts from the new write)
        stream.addData(Seq(("item", 5L, """{"id":1}""", """{"qty":12}""")))
        query.processAllAvailable()
        val b3 = spark.table("tws_compacted").collect()
          .filter(r => r.getString(2) == """{"id":1}""" && r.getLong(1) == 5L)
        assert(b3.length == 1 && b3.head.getString(3) == """{"qty":12}""")
      } finally {
        query.stop()
        spark.catalog.dropTempView("tws_compacted")
      }
    }
  }

}
