package graft.streaming

import org.apache.spark.sql.graftbridge.LocalPropsBridge

/** Shared small daemon pool for concurrent state-table materialization
  * waves (IncrementalDenormalizer.parMaterialize and
  * IncrementalAggregate's async latest-state persist). Bounded: each
  * submitted job already fans out across executor cores; the pool only
  * overlaps job scheduling + I/O latencies (guide §2.6 — independent
  * actions submitted from driver threads back-fill each other's task
  * tails).
  *
  * Each task runs with the Spark local properties its submitter had at
  * submission (job description, job group, SQL execution id), not the
  * ones the pool thread inherited when it was created: a wave job of
  * micro-batch N is described and grouped as batch N.
  */
private[streaming] object Waves {
  private lazy val pool: scala.concurrent.ExecutionContextExecutorService =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        8,
        (r: Runnable) => {
          val t = new Thread(r, "graft-wave")
          t.setDaemon(true)
          t
        }))

  lazy val ec: scala.concurrent.ExecutionContext = new scala.concurrent.ExecutionContext {
    def execute(r: Runnable): Unit = {
      val props = LocalPropsBridge.capture()
      pool.execute(() => LocalPropsBridge.withProperties(props)(r.run()))
    }
    def reportFailure(t: Throwable): Unit = pool.reportFailure(t)
  }
}
