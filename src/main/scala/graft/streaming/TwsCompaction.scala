package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Latest-per-key compaction as a native Structured Streaming stateful
  * operator on `transformWithState` — the keyed-state-store
  * alternative to the micro-batch `foreachBatch` engine for pipelines
  * that only need topic-state semantics (reference:
  * topic/KafkaTopic.java:193-205 `-data` keyspace) without document
  * assembly.
  *
  * State per (entity, key) is the latest (offset, value); a null value
  * at the newest offset is a tombstone that REMOVES the state entry
  * (reference filter/BaseFilter.java:149-160) and emits one null row
  * so downstream sinks can delete. Out-of-order rows below the current
  * offset are ignored (last-writer-wins by offset — the same
  * convergence contract as the IVM engine's folds). Pinned in
  * TwsCompactionSpec. Spark 4's arbitrary-state operator API
  * supersedes `flatMapGroupsWithState` with typed state variables
  * behind a handle (a key can host several value/list/map states,
  * which is the shape the multi-index IVM engine would need if it
  * ever moved from micro-batch `foreachBatch` to a fully
  * operator-resident form), explicit timer registration, and
  * first-class state TTL.
  *
  * This operator deliberately runs in `TimeMode.None`: per-key TTL
  * retention would require the processing-time mode, which schedules
  * micro-batches CONTINUOUSLY for timer/TTL bookkeeping (even
  * `Trigger.AvailableNow` keeps re-triggering) — the wrong execution
  * profile for a log-offset changelog whose only clock is the offset
  * order. Bounded-retention keyed state with the semantically right
  * clock (event time vs the watermark) is what
  * [[StreamingDedup.firstSeenBounded]] provides; a KTable with
  * retention would follow the same `EventTimeTimeout`/watermark shape,
  * not wall-clock TTL.
  *
  * Runtime requirement: `transformWithState` only runs on the RocksDB
  * state store provider
  * (`spark.sql.streaming.stateStore.providerClass` =
  * `...state.RocksDBStateStoreProvider`) — which is also the provider
  * a real deployment wants (incremental snapshots + changelog
  * checkpointing instead of full HDFS snapshots per batch). The
  * rocksdbjni dependency ships with Spark.
  */
object TwsCompaction {

  case class ChangeRow(entity: String, offset: Long,
      key_json: String, value_json: String)
  case class KeyState(offset: Long, value: String)

  /** Compact a streaming unified changelog
    * ([[StreamRunner.changelogSchema]] shape) to one updated row per
    * changed (entity, key) per micro-batch. Run with
    * `OutputMode.Update`. */
  def latestStream(changelog: DataFrame): Dataset[ChangeRow] = {
    implicit val rowEnc = Encoders.product[ChangeRow]
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    changelog.as[ChangeRow]
      .groupByKey(r => (r.entity, r.key_json))
      .transformWithState(new LatestProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  private final class LatestProcessor
      extends StatefulProcessor[(String, String), ChangeRow, ChangeRow] {

    @transient private var latest: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[KeyState]("latest",
        Encoders.product[KeyState], TTLConfig.NONE)

    override def handleInputRows(
        key: (String, String),
        rows: Iterator[ChangeRow],
        timerValues: TimerValues): Iterator[ChangeRow] = {
      // One streaming pass, O(1) memory per key: latest-per-key only
      // needs the max-offset row, so the batch NEVER buffers — a hot
      // key with millions of rows in one micro-batch folds row by row
      // (offsets are unique per key, so iteration order is irrelevant).
      var cur = if (latest.exists()) Option(latest.get()) else None
      var changed = false
      rows.foreach { r =>
        if (cur.forall(_.offset <= r.offset)) {
          cur = Some(KeyState(r.offset, r.value_json))
          changed = true
        }
      }
      if (!changed) Iterator.empty
      else cur match {
        case Some(KeyState(off, null)) => // tombstone: drop state, emit null
          latest.clear()
          Iterator.single(ChangeRow(key._1, off, key._2, null))
        case Some(s) =>
          latest.update(s)
          Iterator.single(ChangeRow(key._1, s.offset, key._2, s.value))
        case None => Iterator.empty
      }
    }
  }
}
