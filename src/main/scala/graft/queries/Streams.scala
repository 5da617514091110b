package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.core.{QueryDef, Tables}
import graft.streaming.{EventTime, StreamingDedup, TwsAnomaly, TwsAttribution, TwsCompaction, TwsFunnel, TwsKmv, TwsScd2, TwsSessions, TwsSourceStats, TwsTopK}

/** Queries that execute a REAL Structured Streaming pipeline —
  * file-source stream → stateful operator → memory sink — inside the
  * `queries()` builder, so the oracle gate exercises the streaming
  * runtime itself (state store, watermark bookkeeping, append-mode
  * finalization), not a batch re-expression of it.
  *
  * Determinism contract (what makes a DuckDB oracle possible):
  *  - `Trigger.AvailableNow` over a static parquet file with no
  *    admission limits reads ALL data in one micro-batch, so no row
  *    can arrive behind a mid-stream watermark — nothing is dropped.
  *  - After the data batch commits, the watermark advances to
  *    max(event time) − delay, and the no-data batch that AvailableNow
  *    runs before terminating finalizes every window/session whose end
  *    ≤ that final watermark (pinned empirically in StreamQuerySpec,
  *    including the exact-boundary case). The oracle replays the same
  *    cutoff in SQL — Spark tracks the watermark in MILLISECONDS, so
  *    the replay truncates max(us) to ms first.
  *  - Stateful-op output order is engine-internal; every query sorts.
  *
  * Scale shape: identical plans run against an unbounded Kafka/file
  * stream on a cluster — watermark-evicted state is what bounds them
  * (see EventTime scaladoc); the memory sink here stands in for the
  * job's real sink and holds only the finalized aggregate rows (≤ a
  * few thousand at any SF; never the input).
  *
  * Reference anchor: the reference's only time axis is log offsets
  * (topic/KafkaTopic.java); these queries are the event-time
  * generalization Spark adds on the same changelog model.
  */
object Streams {

  private val seq = new AtomicInteger(0)

  /** 30 minutes, the watermark delay / session gap / join width used
    * by every query here, in microseconds. */
  private val GapUs = 1800000000L

  /** Stateful-operator partition count of every run, which Spark fixes
    * at the first checkpoint from `spark.sql.shuffle.partitions`: each
    * partition costs every stateful operator state-store I/O per batch,
    * so it tracks state volume, not cluster width (q_stream_join at
    * sf0.1: 10.8 s at 32, 3.8 s at 8). */
  private val StatePartitions = 8

  /** Drive `df` through the streaming runtime to completion and hand
    * back the sink contents as a batch frame. The memory table and the
    * checkpoint directory are torn down before returning — the caller
    * owns only the checkpointed result. */
  private def runStream(spark: SparkSession, df: DataFrame,
      mode: OutputMode): DataFrame = {
    val name = s"graft_stream_sink_${seq.incrementAndGet()}"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    val partKey = "spark.sql.shuffle.partitions"
    val priorParts = spark.conf.get(partKey)
    try {
      spark.conf.set(partKey, StatePartitions.toString)
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = spark.table(name).localCheckpoint()
      spark.catalog.dropTempView(name)
      out
    } finally {
      spark.conf.set(partKey, priorParts)
      import java.nio.file.{Files, Path}
      import scala.jdk.CollectionConverters._
      val all = Files.walk(ckpt).iterator().asScala.toSeq
      all.sortBy(-_.getNameCount).foreach((p: Path) => Files.deleteIfExists(p))
    }
  }

  /** events as a stream with a proper event-time column. */
  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    Tables.loadStream(spark, dir, "events")
      .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))

  /** The final-watermark cutoff replay: Spark's watermark is
    * max(event-time ms) − delay; everything here carries time as
    * epoch-μs longs, so truncate to ms before subtracting. */
  private def cutoffSql(rel: String): String =
    s"SELECT ((max(epoch_ns(ts) // 1000000) - 1800000) * 1000) AS w_us FROM $rel"

  /** Run `f` with the RocksDB state store provider (required by
    * `transformWithState`, and the provider a real deployment runs). */
  private def withRocksDb[A](spark: SparkSession)(f: => A): A = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Counter-experiment (r17 optimization round, kept for the
    // record): RocksDB changelog checkpointing (`…rocksdb.
    // changelogCheckpointing.enabled`, the production setting for
    // frequent commits — commit the change set instead of a full
    // snapshot upload) measured a WASH at this envelope: interleaved
    // env-A/B ×3, q_stream_scd2 1.79 vs 1.85 s and q_stream_dup_merge
    // 6.52 vs 6.51 s medians — per-commit snapshot cost is negligible
    // at these state sizes, so the knob stays at Spark's default.
    try f finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  /** Gaps-and-islands + final-watermark finalization cutoff — the
    * oracle for BOTH session operators (the built-in `session_window`
    * in q_stream_session and the timer-driven transformWithState
    * twin in q_stream_session_tws must produce identical output). */
  private val sessionOracleSql: String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
       |wm AS (${cutoffSql("events")}),
       |flag AS (SELECT user_id, us,
       |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > $GapUs
       |         OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM e),
       |sess AS (SELECT user_id, us,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flag)
       |SELECT user_id, CAST(min(us) AS BIGINT) AS sess_start_us,
       |       CAST(count(*) AS BIGINT) AS n_events
       |FROM sess, wm GROUP BY user_id, sid, w_us
       |HAVING max(us) + $GapUs <= w_us
       |ORDER BY user_id, sess_start_us""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Tumbling event-time counts over a live stream: append mode emits
    // a window exactly once, when the watermark passes its end — the
    // oracle replays the aggregation AND the finalization cutoff.
    "q_stream_window" -> QueryDef(
      "streaming tumbling-window counts (1h windows, 30min watermark, append mode)",
      s"""WITH e AS (SELECT epoch_ns(ts) // 1000 AS us, event_type FROM events),
         |wm AS (${cutoffSql("events")}),
         |agg AS (SELECT (us // 3600000000) * 3600000000 AS win_start_us,
         |               event_type, CAST(count(*) AS BIGINT) AS n
         |        FROM e GROUP BY 1, 2)
         |SELECT win_start_us, event_type, n FROM agg, wm
         |WHERE win_start_us + 3600000000 <= w_us
         |ORDER BY win_start_us, event_type""".stripMargin) { (spark, dir) =>
      val counts = EventTime.windowedCounts(
        eventStream(spark, dir), "tstamp", "event_type",
        windowLen = "1 hour", watermarkDelay = "30 minutes")
      runStream(spark, counts, OutputMode.Append())
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n"))
        .orderBy("win_start_us", "event_type")
    },

    // Event-time session windows on the stream: sessions merge on the
    // 30-min gap and finalize when the watermark passes session end
    // (last event + gap). Oracle = gaps-and-islands + the same cutoff.
    "q_stream_session" -> QueryDef(
      "streaming session windows (30min gap + watermark) finalized in append mode",
      sessionOracleSql) { (spark, dir) =>
      val sessions = EventTime.sessionCounts(
        eventStream(spark, dir), "tstamp", "user_id",
        gap = "30 minutes", watermarkDelay = "30 minutes")
      runStream(spark, sessions, OutputMode.Append())
        .select(col("user_id"),
          unix_micros(col("sess_start")).as("sess_start_us"),
          col("n").as("n_events"))
        .orderBy("user_id", "sess_start_us")
    },

    // The SAME session semantics on transformWithState with EVENT-TIME
    // TIMERS (TwsSessions scaladoc) — custom keyed state finalized by
    // explicit watermark-clock timers instead of the built-in
    // session_window operator's internal eviction. Sharing
    // q_stream_session's oracle makes the parity third-party-checkable:
    // built-in operator, timer-driven processor, and DuckDB replay must
    // all agree row-for-row.
    "q_stream_session_tws" -> QueryDef(
      "session windows via transformWithState event-time timers (RocksDB)",
      sessionOracleSql) { (spark, dir) =>
      val stream = eventStream(spark, dir)
        .withWatermark("tstamp", "30 minutes")
      val sessions = TwsSessions.sessionStream(
        stream, "tstamp", "user_id", GapUs)
      withRocksDb(spark) {
        runStream(spark, sessions.toDF(), OutputMode.Append())
          .select(col("user_id"), col("sess_start_us"), col("n_events"))
          .orderBy("user_id", "sess_start_us")
      }
    },

    // Streaming first-seen dedup (flatMapGroupsWithState): every doc
    // gets a decision row; later copies point at the canonical
    // (first-seen) id. Single-batch arrival makes first-seen ==
    // min(doc_id) — the multi-batch first-wins contract is pinned in
    // StreamingDedupSpec, which this oracle cannot express.
    "q_stream_dedup" -> QueryDef(
      "streaming exact dedup: first-seen canonical per content hash",
      """SELECT doc_id, md5(text) AS content_hash,
        |  CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
        |       THEN NULL
        |       ELSE min(doc_id) OVER (PARTITION BY md5(text)) END AS dup_of
        |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val arrivals = Tables.loadStream(spark, dir, "documents")
        .select(col("doc_id"), col("doc_id").as("offset"),
          md5(col("text")).as("content_hash"))
      val decisions = StreamingDedup.firstSeen(arrivals).toDF()
      runStream(spark, decisions, OutputMode.Append())
        .select(col("doc_id"), col("content_hash"), col("dup_of"))
        .orderBy("doc_id")
    },

    // Streaming NEAR-dup screening: MinHash/LSH band buckets as
    // streaming state (StreamingDedup.lshScreen scaladoc). The whole
    // pre-state pipeline is a per-row projection (rowwise signatures —
    // no shuffle before the state store); the oracle replays the
    // batch band machinery (same grams/perms/md5 constants as
    // q_dedup_minhash) with min-anchor semantics, which single-batch
    // arrival makes identical to first-seen. dup_of here is the
    // SCREENING verdict (shares a bucket with an earlier doc); the
    // exact-Jaccard verify stays a downstream batch pass, as in the
    // batch pipeline.
    "q_stream_dedup_lsh" -> QueryDef(
      "streaming MinHash/LSH near-dup screen: bucket anchor per doc",
      s"""WITH ${Text.minhashBandsCtes},
         |m AS (SELECT a.doc_id, min(b.doc_id) AS mn
         |      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
         |      GROUP BY a.doc_id)
         |SELECT d.doc_id, CASE WHEN m.mn < d.doc_id THEN m.mn END AS dup_of
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
      val arrivals = Tables.loadStream(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val bands = graft.operators.Dedup
        .bandedSignaturesRowwise(arrivals, "doc_id", "text", 5)
        .select(col("band"), col("bh"), col("id").as("doc_id"))
      val hits = runStream(spark,
        StreamingDedup.lshScreen(bands).toDF(), OutputMode.Append())
      val rollup = hits.groupBy("doc_id").agg(min("dup_of").as("dup_of"))
      Tables.load(spark, dir, "documents").select("doc_id")
        .join(rollup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of"))
        .orderBy("doc_id")
    },

    // Streaming CLUSTER assignment within a horizon
    // (StreamingDedup.lshScreenBounded scaladoc): each doc gets a
    // cluster id AT INGEST — the first-seen anchor of its LSH bucket
    // epochs, where a bucket quiet for >200s (event time = doc_id
    // seconds here) closes its epoch, evicts its state at the
    // watermark, and the next arrival founds a fresh cluster. The
    // oracle replays the gap-epoch semantics exactly: per-bucket
    // session splits (lag > horizon), epoch anchor = first member,
    // per-doc min over its bands. One-hop assignment by contract —
    // transitive anchor merges stay the periodic batch CC pass
    // (q_dup_clusters), the standard streaming/batch split.
    "q_stream_dup_clusters" -> QueryDef(
      "streaming near-dup cluster assignment within a 200s horizon (gap-epoch anchors)",
      s"""WITH ${Text.minhashBandsCtes},
         |e AS (SELECT band, bh, doc_id,
         |        CASE WHEN lag(doc_id) OVER w IS NULL
         |               OR doc_id - lag(doc_id) OVER w > 200 THEN 1
         |             ELSE 0 END AS newep
         |      FROM bands WINDOW w AS (PARTITION BY band, bh ORDER BY doc_id)),
         |ep AS (SELECT band, bh, doc_id,
         |         sum(newep) OVER (PARTITION BY band, bh ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
         |       FROM e),
         |anch AS (SELECT band, bh, epoch, min(doc_id) AS anchor
         |         FROM ep GROUP BY 1, 2, 3),
         |asg AS (SELECT ep.doc_id, min(a.anchor) AS cluster
         |        FROM ep JOIN anch a USING (band, bh, epoch)
         |        GROUP BY ep.doc_id)
         |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster
         |FROM asg ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val arrivals = Tables.loadStream(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val bands = graft.operators.Dedup
        .bandedSignaturesRowwise(arrivals, "doc_id", "text", 5)
        // +1000s so doc 0 sits ABOVE the initial (epoch-0) watermark —
        // a row exactly at the watermark drops as late
        .select(col("band"), col("bh"), col("id").as("doc_id"),
          timestamp_seconds(col("id") + 1000L).as("tstamp"))
      val hits = runStream(spark,
        StreamingDedup.lshScreenBounded(bands, horizonMs = 200000L,
          watermarkDelay = "0 seconds").toDF(),
        OutputMode.Append())
      hits.groupBy("doc_id").agg(min(col("dup_of")).as("cluster"))
        .orderBy("doc_id")
    },

    // Incremental anchor-merge (StreamingDedup.anchorMerge scaladoc):
    // q_stream_dup_clusters is one-hop by contract — a doc landing in
    // two bucket epochs with different anchors still reports only the
    // min anchor, and the anchors stay separate clusters. This query
    // adds the FULL in-horizon merge: such a doc witnesses an
    // anchor↔anchor collision edge; a second stateful stage (keyed by
    // the larger anchor, one fixed-width row per active anchor,
    // horizon-evicted) folds edges into per-anchor representative
    // pointers AND back-links, making the update stream
    // connectivity-complete (anchorMerge consumer contract). The
    // roll-up therefore resolves the pointer map to a FIXPOINT — a
    // connectedComponents pass over the tiny (anchor, merged_into)
    // graph — so a₃—a₂—a₁ paths collapse to a₁ within the horizon,
    // matching what q_dup_clusters would say for in-horizon evidence.
    // Edges travel between the two streaming stages as files — the
    // offline stand-in for a topic, matching how a real deployment
    // links the jobs. Out-of-horizon closure remains the batch CC
    // pass (q_dup_clusters). The oracle replays the same closure with
    // a recursive min-reachability CTE over the edge set.
    "q_stream_dup_merge" -> QueryDef(
      "streaming anchor-merge: full in-horizon cluster closure over gap-epoch anchors",
      s"""WITH RECURSIVE ${Text.minhashBandsCtes},
         |e AS (SELECT band, bh, doc_id,
         |        CASE WHEN lag(doc_id) OVER w IS NULL
         |               OR doc_id - lag(doc_id) OVER w > 200 THEN 1
         |             ELSE 0 END AS newep
         |      FROM bands WINDOW w AS (PARTITION BY band, bh ORDER BY doc_id)),
         |ep AS (SELECT band, bh, doc_id,
         |         sum(newep) OVER (PARTITION BY band, bh ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
         |       FROM e),
         |anch AS (SELECT band, bh, epoch, min(doc_id) AS anchor
         |         FROM ep GROUP BY 1, 2, 3),
         |hits AS (SELECT DISTINCT ep.doc_id, a.anchor
         |         FROM ep JOIN anch a USING (band, bh, epoch)),
         |lo AS (SELECT doc_id, min(anchor) AS lo FROM hits GROUP BY 1),
         |edges AS (SELECT DISTINCT l.lo, h.anchor AS hi
         |          FROM hits h JOIN lo l USING (doc_id) WHERE h.anchor > l.lo),
         |und AS (SELECT lo AS a, hi AS b FROM edges
         |        UNION SELECT hi, lo FROM edges),
         |reach AS (SELECT a AS node, a AS m FROM und
         |          UNION
         |          SELECT r.node, u.b FROM reach r JOIN und u ON u.a = r.m),
         |rep AS (SELECT node, min(m) AS rep FROM reach GROUP BY 1),
         |fin AS (SELECT h.doc_id,
         |          min(least(h.anchor, coalesce(p.rep, h.anchor))) AS cluster
         |        FROM hits h LEFT JOIN rep p ON p.node = h.anchor
         |        GROUP BY 1)
         |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster
         |FROM fin ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val arrivals = Tables.loadStream(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val bands = graft.operators.Dedup
        .bandedSignaturesRowwise(arrivals, "doc_id", "text", 5)
        .select(col("band"), col("bh"), col("id").as("doc_id"),
          timestamp_seconds(col("id") + 1000L).as("tstamp"))
      val hits = runStream(spark,
        StreamingDedup.lshScreenBounded(bands, horizonMs = 200000L,
          watermarkDelay = "0 seconds").toDF(), OutputMode.Append())
      // collision edges: per doc, (min anchor, each other anchor) —
      // the witness doc's event time drives the merge horizon clock
      val edges = hits.groupBy("doc_id")
        .agg(min(col("dup_of")).as("lo"),
          collect_set(col("dup_of")).as("hs"))
        .select(col("doc_id"), col("lo"), explode(col("hs")).as("hi"))
        .where(col("hi") > col("lo"))
        .select(col("lo"), col("hi"),
          timestamp_seconds(col("doc_id") + 1000L).as("tstamp"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_edges")
      try {
        edges.write.mode("overwrite").parquet(tmp.toString)
        val edgeStream = spark.readStream.schema(edges.schema)
          .parquet(tmp.toString)
        val updates = runStream(spark,
          StreamingDedup.anchorMerge(edgeStream, horizonMs = 200000L,
            watermarkDelay = "0 seconds").toDF(), OutputMode.Append())
        // FIXPOINT re-resolve (anchorMerge consumer contract): the
        // update stream is connectivity-complete, so an undirected CC
        // pass over the tiny (anchor, merged_into) graph IS the exact
        // transitive closure of the witnessed edges — O(active
        // anchors) work, O(log chain) rounds, never touches the docs.
        val cc = graft.operators.Dedup.connectedComponents(
          updates.select(col("anchor").as("ma"), col("merged_into").as("mb")),
          "ma", "mb")
        hits.join(cc, hits("dup_of") === cc("id"), "left")
          .select(col("doc_id"),
            least(col("dup_of"), coalesce(col("component"), col("dup_of")))
              .as("a"))
          .groupBy("doc_id").agg(min(col("a")).as("cluster"))
          .orderBy("doc_id")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    },

    // Latest-per-key compaction on transformWithState (Spark 4's
    // arbitrary-state API, RocksDB state store — the provider a real
    // deployment runs): the events stream recast as a unified
    // changelog (offset = event_id, key = user), compacted to one
    // final row per user. Update mode + a single AvailableNow batch
    // means the sink holds exactly the final state; the oracle is the
    // per-key argmax-by-offset. Value/key payloads are built with
    // plain string concatenation on BOTH engines so no engine JSON
    // serializer enters the comparison.
    "q_stream_latest" -> QueryDef(
      "streaming latest-per-key compaction on transformWithState (RocksDB)",
      """WITH c AS (SELECT 'user' AS entity, event_id AS "offset",
        |    '{"user":' || user_id || '}' AS key_json,
        |    '{"type":"' || event_type || '","ts":' || epoch_ns(ts) || '}' AS value_json
        |  FROM events)
        |SELECT entity, "offset", key_json, value_json FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key_json ORDER BY "offset" DESC) AS rn
        |  FROM c)
        |WHERE rn = 1 ORDER BY key_json""".stripMargin) { (spark, dir) =>
      val changelog = Tables.loadStream(spark, dir, "events")
        .select(lit("user").as("entity"), col("event_id").as("offset"),
          concat(lit("{\"user\":"), col("user_id").cast("string"), lit("}"))
            .as("key_json"),
          concat(lit("{\"type\":\""), col("event_type"), lit("\",\"ts\":"),
            col("ts").cast("string"), lit("}")).as("value_json"))
      withRocksDb(spark) {
        runStream(spark, TwsCompaction.latestStream(changelog).toDF(),
          OutputMode.Update())
          .select("entity", "offset", "key_json", "value_json")
          .orderBy("key_json")
      }
    },

    // Running per-source corpus composition on transformWithState MAP
    // state (TwsSourceStats scaladoc) — the live ingest counter, and
    // the MapState face of the arbitrary-state API (entry-wise point
    // reads/writes; a ValueState[Map] would rewrite the whole map per
    // update). One AvailableNow batch makes each (source, lang)'s
    // single Update-mode emission its final running total — the plain
    // GROUP BY the oracle replays; per-batch running totals are
    // pinned in TwsSourceStatsSpec.
    "q_stream_source_stats" -> QueryDef(
      "running per-source language composition on transformWithState MapState",
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin) { (spark, dir) =>
      val docs = Tables.loadStream(spark, dir, "documents")
        .select(col("source"), col("lang"))
      withRocksDb(spark) {
        runStream(spark, TwsSourceStats.countsStream(docs).toDF(),
          OutputMode.Update())
          .select(col("source"), col("lang"), col("n"))
          .orderBy("source", "lang")
      }
    },

    // Streaming grouped quantiles — the histogram sketch AS MapState
    // (TwsQuantile scaladoc): per-(key, bin) counters updated
    // entry-wise, ~50 bins per key forever vs exact streaming
    // percentiles' per-value growth; readout is the batch
    // q_quantile_sketch's ceil-rank upper-bound estimator in pure
    // BIGINT. One AvailableNow batch makes the final Update-mode
    // emission the plain histogram quantile the oracle replays.
    "q_stream_quantile" -> QueryDef(
      "streaming per-type value quantiles (histogram sketch as MapState)",
      """WITH h AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) // 1000 AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT g, bin, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY bin
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n
        |  FROM h)
        |SELECT g, CAST(min(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN (bin + 1) * 10 END) AS p50_ub,
        |  min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN (bin + 1) * 10 END) AS p95_ub
        |FROM w GROUP BY g ORDER BY g""".stripMargin) { (spark, dir) =>
      val obs = Tables.loadStream(spark, dir, "events")
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast("long").as("cents"))
      withRocksDb(spark) {
        runStream(spark,
          graft.streaming.TwsQuantile.quantileStream(obs, binCents = 1000L).toDF(),
          OutputMode.Update())
          .select(col("g"), col("n"), col("p50_ub"), col("p95_ub"))
          .orderBy("g")
      }
    },

    // Stream-static dimension enrichment — the Spark-native face of
    // the reference's one structural operation (joining a changelog
    // record to dimension state; Southpaw.java:51-60) when the
    // dimension is SMALL and SLOWLY CHANGING: the static side
    // broadcasts to every task and the stream is enriched map-side,
    // STATELESS — no state store, no watermark, nothing to evict. The
    // static side re-EXECUTES per micro-batch but its file listing is
    // pinned at plan time (pinned both ways in
    // DimRefreshSpec: appended dimension files are invisible to the
    // join, but a foreachBatch re-read sees them next batch), so a dimension
    // refresh needs `spark.catalog.refreshByPath` + a restarted query,
    // or a dimension that changes fast enough to matter belongs on the
    // keyed-state path (TwsCompaction) instead. At 100 TB this is the
    // plan for every dimension that fits in memory (the alternative —
    // keyed state per dimension row — pays a shuffle plus a state
    // store for data that never needed either).
    "q_stream_enrich" -> QueryDef(
      "stream-static broadcast enrichment: events joined to the customer dimension",
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin) { (spark, dir) =>
      val dim = Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val enriched = Tables.loadStream(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
      runStream(spark, enriched, OutputMode.Append())
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment"), col("value"))
        .orderBy("event_id")
    },

    // Running per-source distinct-token estimate with the KMV sketch
    // AS the streaming state (TwsKmv scaladoc): k longs per key
    // forever, versus exact streaming distinct whose state grows with
    // the distinct count. The hash52 projection runs codegen'd BEFORE
    // the stateful op; one AvailableNow batch reproduces the batch
    // q_kmv_distinct estimator bit-for-bit, which the oracle replays.
    "q_stream_kmv" -> QueryDef(
      "streaming running distinct-token estimate per source (KMV sketch state)",
      s"""WITH t AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |           FROM documents),
        |h AS (SELECT DISTINCT source,
        |        ('0x' || substr(md5(tok), 1, 13))::BIGINT AS h FROM t),
        |r AS (SELECT source, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
        |        count(*) OVER (PARTITION BY source) AS nd
        |      FROM h)
        |SELECT source, CAST(1 AS BIGINT) AS ver,
        |  CAST(CASE WHEN max(nd) < ${Text.kmvK} THEN max(nd)
        |       ELSE ${Text.kmvNumerator} // greatest(max(CASE WHEN rn = ${Text.kmvK} THEN h END), 1)
        |       END AS BIGINT) AS kmv_distinct,
        |  CAST(least(max(nd), ${Text.kmvK}) AS BIGINT) AS kmv_size
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
      val hashed = Tables.loadStream(spark, dir, "documents")
        .select(col("source").as("key"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("key"), graft.operators.TextAnalysis.hash52(col("tok")).as("h"))
      withRocksDb(spark) {
        runStream(spark, TwsKmv.distinctStream(hashed, Text.kmvK).toDF(),
          OutputMode.Update())
          .select(col("key").as("source"), col("ver"), col("kmv_distinct"),
            col("kmv_size"))
          .orderBy("source")
      }
    },

    // Running top-k per source on transformWithState LIST state
    // (TwsTopK scaladoc) — the leaderboard maintained continuously,
    // O(k·keys) state, everything below the cut discarded on arrival.
    // One AvailableNow batch emits each source's leaderboard once
    // (ver = 1), which is the batch row_number top-k the oracle takes.
    "q_stream_topk" -> QueryDef(
      "streaming running top-5 longest docs per source on ListState",
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(1 AS BIGINT) AS ver, CAST(rn AS INTEGER) AS "rank",
        |  doc_id AS id, n_chars AS score
        |FROM r WHERE rn <= 5 ORDER BY source, "rank"""".stripMargin) { (spark, dir) =>
      val scored = Tables.loadStream(spark, dir, "documents")
        .select(col("source").as("key"), col("n_chars").as("score"),
          col("doc_id").as("id"))
      withRocksDb(spark) {
        runStream(spark, TwsTopK.topKStream(scored, 5).toDF(),
          OutputMode.Update())
          .select(col("key").as("source"), col("ver"), col("rank"),
            col("id"), col("score"))
          .orderBy("source", "rank")
      }
    },

    // Streaming SCD2 maintenance (TwsScd2 scaladoc): keyed state holds
    // each user's OPEN version; every event_type change emits the
    // version it closes, exactly once, append-only. One AvailableNow
    // batch over the full changelog must therefore emit exactly the
    // CLOSED intervals of the batch SCD2 compile (q_scd2 minus its
    // is_current rows) — which is what the oracle replays.
    "q_stream_scd2" -> QueryDef(
      "streaming SCD2: closed validity intervals maintained on transformWithState",
      """WITH c AS (SELECT user_id, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events),
        |chg AS (SELECT user_id, event_id, event_type FROM c
        |        WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type,
        |  CAST(event_id AS BIGINT) AS valid_from,
        |  CAST(lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS valid_to
        |FROM chg QUALIFY valid_to IS NOT NULL
        |ORDER BY user_id, valid_from""".stripMargin) { (spark, dir) =>
      val changes = Tables.loadStream(spark, dir, "events")
        .select(col("user_id").as("key"), col("event_id").as("offset"),
          col("event_type").as("attr"))
      withRocksDb(spark) {
        runStream(spark, TwsScd2.versionStream(changes).toDF(),
          OutputMode.Append())
          .select(col("key").as("user_id"), col("attr").as("event_type"),
            col("valid_from"), col("valid_to"))
          .orderBy("user_id", "valid_from")
      }
    },

    // Streaming z-score anomaly flags on transformWithState
    // (TwsAnomaly scaladoc): running mean/variance as FOUR longs of
    // keyed state (the sum of squares is a 128-bit hi/lo pair — a
    // long would wrap within the documented |x| ≤ 2³¹ input bound),
    // integer cross-multiplied test — no division, no
    // sqrt — so the batch window replay agrees row-for-row. Values
    // pre-scale to cents via the DECIMAL(18,2) cast both engines
    // share. One AvailableNow batch == the full prior-rows window.
    "q_stream_anomaly" -> QueryDef(
      "streaming 3-sigma anomaly flags per user (running stats as keyed state)",
      """WITH v AS (SELECT user_id, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |w AS (SELECT user_id, event_id, x,
        |    count(*) OVER win AS n, sum(x) OVER win AS s,
        |    sum(x * x) OVER win AS q
        |  FROM v WINDOW win AS (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, CAST(event_id AS BIGINT) AS "offset", x,
        |  CAST(n AS BIGINT) AS n_prior
        |FROM w
        |WHERE n >= 5 AND CAST(n * x - s AS HUGEINT) * (n * x - s)
        |  > 9 * CAST(n * q - s * s AS HUGEINT)
        |ORDER BY user_id, "offset"""".stripMargin) { (spark, dir) =>
      val obs = Tables.loadStream(spark, dir, "events")
        .select(col("user_id").as("key"), col("event_id").as("offset"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("x"))
      withRocksDb(spark) {
        runStream(spark, TwsAnomaly.anomalyStream(obs, k = 3, minN = 5).toDF(),
          OutputMode.Append())
          .select(col("key").as("user_id"), col("offset"), col("x"),
            col("n_prior"))
          .orderBy("user_id", "offset")
      }
    },

    // Streaming conversion funnel (TwsFunnel scaladoc): per-user
    // view→click→purchase state machine with STRICT time progression,
    // so the outcome is a pure function of the event multiset and the
    // oracle replays it as nested min-over-filter joins. One
    // constant-size state struct per user; one progress row per
    // touched user per batch (single-batch run → the final row).
    "q_stream_funnel" -> QueryDef(
      "streaming funnel: per-user view->click->purchase stage machine",
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us, event_type
        |  FROM events),
        |v AS (SELECT user_id, min(us) AS v_us FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us > v_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us > c_us GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id,
        |  CAST(CASE WHEN p_us IS NOT NULL THEN 3
        |    WHEN c_us IS NOT NULL THEN 2
        |    WHEN v_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  v_us, c_us, p_us
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |  LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val events = Tables.loadStream(spark, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_id"), col("event_type"))
      withRocksDb(spark) {
        runStream(spark, TwsFunnel.funnelStream(events).toDF(),
          OutputMode.Append())
          .select(col("user_id"), col("stage"), col("v_us"), col("c_us"),
            col("p_us"))
          .orderBy("user_id")
      }
    },

    // Streaming last-touch attribution (TwsAttribution scaladoc): the
    // batch q_attribution as-of join needs the full click history;
    // the stream credits each purchase AT ARRIVAL from O(1) per-user
    // state (latest click time + best campaign at that time) and
    // emits every credit exactly once. The oracle IS q_attribution's
    // DuckDB ASOF SQL — the per-campaign rollup of the streamed
    // credits must reproduce the batch as-of join to the cent.
    "q_stream_attribution" -> QueryDef(
      "streaming last-touch attribution: per-arrival purchase credits vs batch ASOF",
      """WITH c AS (SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS t,
        |    max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT p.cents, coalesce(c.k, -1) AS campaign
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.t >= c.t)
        |SELECT campaign, CAST(sum(cents) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_purchases
        |FROM a GROUP BY 1 ORDER BY campaign""".stripMargin) { (spark, dir) =>
      val events = Tables.loadStream(spark, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      withRocksDb(spark) {
        runStream(spark, TwsAttribution.attributionStream(events).toDF(),
          OutputMode.Append())
          .groupBy("campaign")
          .agg(sum(col("cents")).as("revenue_cents"),
            count(lit(1)).as("n_purchases"))
          .orderBy("campaign")
      }
    },

    // Stream-stream event-time interval join: each view matched to the
    // same user's purchases within the next 30 minutes. Inner join —
    // every match emits exactly once regardless of watermark, so the
    // oracle is the plain conditional equijoin.
    "q_stream_join" -> QueryDef(
      "stream-stream interval join: views to purchases within 30min per user",
      """SELECT v.user_id, v.event_id AS view_id,
        |  epoch_ns(v.ts) // 1000 AS view_us,
        |  p.event_id AS purchase_id, epoch_ns(p.ts) // 1000 AS purchase_us
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
        |  AND epoch_ns(p.ts) // 1000 <= epoch_ns(v.ts) // 1000 + 1800000000
        |ORDER BY view_id, purchase_id""".stripMargin) { (spark, dir) =>
      def side(kind: String) = eventStream(spark, dir)
        .where(col("event_type") === kind)
        .select(col("user_id"), col("tstamp"), col("event_id"))
      val joined = EventTime.intervalJoin(
        side("view"), side("purchase"), "user_id", "tstamp", "tstamp",
        lowerBound = "0 seconds", upperBound = "30 minutes",
        watermarkDelay = "30 minutes")
      runStream(spark, joined, OutputMode.Append())
        .select(col("user_id"), col("l_val.event_id").as("view_id"),
          unix_micros(col("l_ts")).as("view_us"),
          col("r_val.event_id").as("purchase_id"),
          unix_micros(col("r_ts")).as("purchase_us"))
        .orderBy("view_id", "purchase_id")
    },

    // LEFT OUTER stream-stream interval join — the reference's one
    // semantic primitive (README.md:126-137, Southpaw.java:51-60: every
    // document is a chain of LEFT OUTER joins), lifted to event time.
    // A view with no purchase in its 30-min window still emits, with
    // null purchase columns, once the watermark PROVES no partner can
    // arrive: Spark evicts the left row when the state-cleanup
    // predicate l_ts <= watermark - upper - 1ms first admits it
    // (non-strict, ms-granular watermark, 1ms safety slack — pinned in
    // StreamQuerySpec), and the eviction of a never-matched row IS the
    // null emission. The oracle replays that exact cutoff; the global
    // watermark is the MIN of the two sides' (max event ms - delay).
    // State stays bounded by interval width + delay, same as the inner
    // variant — the null path adds no state, only makes eviction
    // visible.
    "q_stream_join_outer" -> QueryDef(
      "stream-stream LEFT OUTER interval join: unmatched views null-emit at the watermark cutoff",
      """WITH v AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(us // 1000) FROM v),
        |                    (SELECT max(us // 1000) FROM p)) - 1800000 AS w_ms),
        |m AS (SELECT v.user_id, v.event_id AS view_id, v.us AS view_us,
        |             p.event_id AS purchase_id, p.us AS purchase_us
        |      FROM v JOIN p ON v.user_id = p.user_id
        |       AND p.us >= v.us AND p.us <= v.us + 1800000000),
        |u AS (SELECT v.user_id, v.event_id AS view_id, v.us AS view_us,
        |             CAST(NULL AS BIGINT) AS purchase_id,
        |             CAST(NULL AS BIGINT) AS purchase_us
        |      FROM v, wm
        |      WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
        |              AND p.us >= v.us AND p.us <= v.us + 1800000000)
        |        AND v.us <= (w_ms - 1800001) * 1000)
        |SELECT user_id, view_id, CAST(view_us AS BIGINT) AS view_us,
        |       purchase_id, purchase_us
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM u)
        |ORDER BY view_id, purchase_id NULLS FIRST""".stripMargin) { (spark, dir) =>
      def side(kind: String) = eventStream(spark, dir)
        .where(col("event_type") === kind)
        .select(col("user_id"), col("tstamp"), col("event_id"))
      val joined = EventTime.intervalJoin(
        side("view"), side("purchase"), "user_id", "tstamp", "tstamp",
        lowerBound = "0 seconds", upperBound = "30 minutes",
        watermarkDelay = "30 minutes", joinType = "left_outer")
      runStream(spark, joined, OutputMode.Append())
        .select(col("user_id"), col("l_val.event_id").as("view_id"),
          unix_micros(col("l_ts")).as("view_us"),
          col("r_val.event_id").as("purchase_id"),
          unix_micros(col("r_ts")).as("purchase_us"))
        .orderBy(col("view_id"), col("purchase_id").asc_nulls_first)
    },

    // FULL OUTER completes the interval-join family: both directions
    // of the eviction-made-visible contract at once — unmatched views
    // null-emit at the left cutoff (same as q_stream_join_outer) AND
    // unmatched purchases null-emit at the right cutoff (a right row
    // can stop waiting once the watermark passes the latest left event
    // time that could still match it, r_ts − lower; with lower = 0 the
    // strict-ms boundary is p.us ≤ (wm − 1) ms). State is the same as
    // the inner join — the null paths add none.
    "q_stream_join_full" -> QueryDef(
      "stream-stream FULL OUTER interval join: both sides null-emit at their cutoffs",
      """WITH v AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(us // 1000) FROM v),
        |                    (SELECT max(us // 1000) FROM p)) - 1800000 AS w_ms),
        |m AS (SELECT v.user_id, v.event_id AS view_id, v.us AS view_us,
        |             p.event_id AS purchase_id, p.us AS purchase_us
        |      FROM v JOIN p ON v.user_id = p.user_id
        |       AND p.us >= v.us AND p.us <= v.us + 1800000000),
        |u AS (SELECT v.user_id, v.event_id AS view_id, v.us AS view_us,
        |             CAST(NULL AS BIGINT) AS purchase_id,
        |             CAST(NULL AS BIGINT) AS purchase_us
        |      FROM v, wm
        |      WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
        |              AND p.us >= v.us AND p.us <= v.us + 1800000000)
        |        AND v.us <= (w_ms - 1800001) * 1000),
        |ur AS (SELECT p.user_id, CAST(NULL AS BIGINT) AS view_id,
        |              CAST(NULL AS BIGINT) AS view_us,
        |              p.event_id AS purchase_id, p.us AS purchase_us
        |       FROM p, wm
        |       WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
        |               AND p.us >= v.us AND p.us <= v.us + 1800000000)
        |         AND p.us <= (w_ms - 1) * 1000)
        |SELECT user_id, view_id, view_us, purchase_id, purchase_us
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM u
        |      UNION ALL SELECT * FROM ur)
        |ORDER BY view_id NULLS LAST, purchase_id NULLS FIRST""".stripMargin) {
      (spark, dir) =>
      def side(kind: String) = eventStream(spark, dir)
        .where(col("event_type") === kind)
        .select(col("user_id"), col("tstamp"), col("event_id"))
      val joined = EventTime.intervalJoin(
        side("view"), side("purchase"), "user_id", "tstamp", "tstamp",
        lowerBound = "0 seconds", upperBound = "30 minutes",
        watermarkDelay = "30 minutes", joinType = "full_outer")
      runStream(spark, joined, OutputMode.Append())
        .select(col("user_id"), col("l_val.event_id").as("view_id"),
          unix_micros(col("l_ts")).as("view_us"),
          col("r_val.event_id").as("purchase_id"),
          unix_micros(col("r_ts")).as("purchase_us"))
        .orderBy(col("view_id").asc_nulls_last,
          col("purchase_id").asc_nulls_first)
    })
}
