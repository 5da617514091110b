package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.core.Ckpt

/** Local checkpoints persist at MEMORY_AND_DISK, so a checkpoint block
  * that memory pressure evicts spills to local disk instead of being
  * lost. `RDD.localCheckpoint()` adds the disk to whatever level it is
  * given, so even an explicit MEMORY_ONLY request lands there.
  */
class CkptSpec extends SparkSpec {

  private def level(df: DataFrame): StorageLevel = {
    val rdds = df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
    assert(rdds.size == 1)
    rdds.head.getStorageLevel
  }

  test("Ckpt.mem, localCheckpoint() and a MEMORY_ONLY request persist at MEMORY_AND_DISK") {
    def frame = spark.range(1000).selectExpr("id", "id * 2 AS v")
    assert(level(Ckpt.mem(frame)) == StorageLevel.MEMORY_AND_DISK)
    assert(level(frame.localCheckpoint()) == StorageLevel.MEMORY_AND_DISK)
    assert(level(frame.localCheckpoint(eager = true, StorageLevel.MEMORY_ONLY)) ==
      StorageLevel.MEMORY_AND_DISK)
  }
}
