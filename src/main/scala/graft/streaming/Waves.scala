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

  /** Tasks of this pool block on other futures of this pool: a wave
    * thunk of batch N whose plan reads batch N−1's rootmaps awaits their
    * futures (`Await.result`, no timeout) on a pool thread. That cannot
    * deadlock only because the pool is a fixed-size FIFO executor and
    * every future a task awaits was submitted strictly before it and
    * blocks on nothing submitted later: queued tasks start in submission
    * order, so what a task awaits is running or done by the time the task
    * holds a thread. A work-stealing or caller-runs executor, or a task
    * submitted before a future it awaits, can hang every thread. */
  lazy val ec: scala.concurrent.ExecutionContext = new scala.concurrent.ExecutionContext {
    def execute(r: Runnable): Unit = {
      val props = LocalPropsBridge.capture()
      pool.execute(() => LocalPropsBridge.withProperties(props)(r.run()))
    }
    def reportFailure(t: Throwable): Unit = pool.reportFailure(t)
  }
}
