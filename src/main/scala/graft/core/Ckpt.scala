package graft.core

import org.apache.spark.sql.DataFrame

/** Eager lineage-truncating materialization at Spark's default level
  * (MEMORY_AND_DISK; CkptSpec). `src/main` calls `localCheckpoint()`
  * directly; this name remains for the benchmark harness. */
object Ckpt {
  def mem(df: DataFrame): DataFrame = df.localCheckpoint()
}
