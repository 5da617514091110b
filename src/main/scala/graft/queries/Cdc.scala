package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, Relation, Tables}
import graft.operators.Temporal
import graft.streaming.{BucketedParquetBackend, IncrementalDenormalizer}

/** Changelog / CDC semantics over the `events` table, interpreted as a
  * keyed change stream: key = user_id, order = event_id (offset order),
  * `event_type = 'error'` acts as a tombstone marker.
  *
  * These mirror the reference's topic-state semantics: latest-per-key
  * compaction (reference: topic/KafkaTopic.java:193-205), tombstone
  * deletes (filter/BaseFilter.java:149-160), and FK-flip regrouping
  * (index/Indices.java:224-233 — a key leaving its old group and
  * joining the new one).
  */
object Cdc {

  private def t(spark: SparkSession, dir: String)(name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Latest record per key by offset order — the A3 compaction. */
  def latestPerKey(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    events.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  private val latestOracle =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
      |       value AS last_value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1""".stripMargin

  /** Shared min/max-retraction replay for q_incr_minmax and
    * q_incr_minmax_durable — identical changelog waves, identical
    * rollup; only the LATEST-state persistence differs (memory
    * localCheckpoint vs bucketed-parquet delta generations). The r13
    * sweep attributed q_incr_minmax's sf0.3→sf1 step to the memory
    * backend's O(state) per-batch snapshot rewrite; the durable
    * variant exists so that attribution is a measured A/B (same query,
    * same data, backends swapped), not a sentence. */
  private def minmaxReplay(spark: SparkSession, dir: String,
      backend: graft.streaming.StateBackend): DataFrame = {
    import graft.streaming.IncrementalAggregate
    val dec = DecimalType(18, 2)
    val base = t(spark, dir)("orders").select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("g"),
      col("o_totalprice").cast(dec).as("v"))
    val loW = Window.partitionBy("g").orderBy(col("v"), col("k"))
    val hiW = Window.partitionBy("g").orderBy(col("v").desc, col("k"))
    val ranked = base
      .withColumn("rn_lo", row_number().over(loW))
      .withColumn("rn_hi", row_number().over(hiW)).localCheckpoint()
    val nullTomb = (rows: DataFrame, off: Column) => rows.select(
      col("k"), off.as("offset"),
      lit(null).cast(StringType).as("g"), lit(null).cast(dec).as("v"))
    val inserts = (0 until 2).map(i =>
      base.where(pmod(col("k"), lit(2)) === i)
        .select(col("k"), (col("k") * 10 + i).as("offset"), col("g"), col("v")))
    val tombLo = nullTomb(ranked.where(col("rn_lo") <= 12), col("k") * 10 + 2)
    val tombHi = nullTomb(ranked.where(col("rn_hi") <= 3 && col("rn_lo") > 12),
      col("k") * 10 + 3)
    val reprice = ranked.where(col("rn_lo") > 12 && col("rn_hi") > 3 &&
        col("k") % 23 === 0)
      .select(col("k"), (col("k") * 10 + 4).as("offset"), col("g"),
        (col("v") * 3).cast(dec).as("v"))
    val finalState = (inserts :+ tombLo :+ tombHi :+ reprice)
      .foldLeft(IncrementalAggregate.empty(spark, k = 8)) { (s, b) =>
        val r = IncrementalAggregate.applyBatch(s, b, backend)
        backend.gc() // between batches, as the engine does
        r
      }
    IncrementalAggregate.rollup(finalState)
      .select(col("g"), col("cnt"),
        col("s").cast(DoubleType).as("total"),
        col("mn").cast(DoubleType).as("mn"),
        col("mx").cast(DoubleType).as("mx"))
      .orderBy("g")
  }

  private val minmaxOracleSql =
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS g,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
      |del_lo AS (SELECT k FROM (
      |    SELECT k, row_number() OVER (PARTITION BY g ORDER BY v, k) AS rn
      |    FROM base) WHERE rn <= 12),
      |del_hi AS (SELECT k FROM (
      |    SELECT k, row_number() OVER (PARTITION BY g ORDER BY v DESC, k) AS rn
      |    FROM base) WHERE rn <= 3),
      |del AS (SELECT k FROM del_lo UNION SELECT k FROM del_hi),
      |fin AS (SELECT k, g,
      |         CASE WHEN k % 23 = 0 THEN CAST(v * 3 AS DECIMAL(18,2)) ELSE v END AS v
      |       FROM base WHERE k NOT IN (SELECT k FROM del))
      |SELECT g, CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(sum(v) AS DOUBLE) AS total,
      |       CAST(min(v) AS DOUBLE) AS mn,
      |       CAST(max(v) AS DOUBLE) AS mx
      |FROM fin GROUP BY g ORDER BY g""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Q-LATEST: latest-per-key compaction of a keyed change stream.
    "q_latest" -> QueryDef(
      "latest-per-key compaction of the events changelog",
      latestOracle + " ORDER BY user_id") { (spark, dir) =>
      latestPerKey(t(spark, dir)("events"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"))
        .orderBy("user_id")
    },

    // Q-TOMBSTONE: a tombstone as the latest change deletes the key.
    "q_tombstone" -> QueryDef(
      "tombstone semantics: keys whose latest change is a delete marker vanish",
      s"""SELECT user_id, last_event_id, last_event_type, last_value
         |FROM ($latestOracle) x
         |WHERE last_event_type <> 'error' ORDER BY user_id""".stripMargin) { (spark, dir) =>
      latestPerKey(t(spark, dir)("events"))
        .where(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"))
        .orderBy("user_id")
    },

    // Q-FKFLIP: group membership follows the key's latest FK value.
    "q_fkflip" -> QueryDef(
      "FK-flip: each key belongs only to the group of its latest change",
      s"""SELECT last_event_type AS group_key,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) AS members
         |FROM ($latestOracle) x
         |GROUP BY last_event_type ORDER BY group_key""".stripMargin) { (spark, dir) =>
      latestPerKey(t(spark, dir)("events"))
        .groupBy(col("event_type").as("group_key"))
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("user_id"))),
            x => x.cast(StringType)), ",").as("members"))
        .orderBy("group_key")
    },

    // Snapshot reconciliation: the batch diff of two table versions —
    // what a CDC consumer computes when it must re-baseline (added /
    // removed / changed keys). One FULL OUTER equi-join on the key;
    // unchanged rows (the overwhelming majority at 100 TB) are
    // filtered BEFORE the sort, and the join shuffles on the key with
    // no skew amplification (each key appears once per side).
    "q_snapshot_diff" -> QueryDef(
      "snapshot diff: added/removed/changed keys between two table versions",
      """WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0),
        |v2 AS (SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
        |       FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |  CASE WHEN v1.o_orderkey IS NULL THEN 'added'
        |       WHEN v2.o_orderkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  coalesce(v1.o_totalprice, -1) AS old_price,
        |  coalesce(v2.o_totalprice, -1) AS new_price
        |FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        |WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
        |   OR v1.o_totalprice <> v2.o_totalprice
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val v1 = o.where(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val v2 = o.where(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val a = v1.select(col("o_orderkey").as("__k1"), col("o_totalprice").as("old_price"))
      val b = v2.select(col("o_orderkey").as("__k2"), col("o_totalprice").as("new_price"))
      a.join(b, col("__k1") === col("__k2"), "full_outer")
        .where(col("__k1").isNull || col("__k2").isNull ||
          col("old_price") =!= col("new_price"))
        .select(coalesce(col("__k1"), col("__k2")).as("o_orderkey"),
          when(col("__k1").isNull, "added")
            .when(col("__k2").isNull, "removed")
            .otherwise("changed").as("status"),
          coalesce(col("old_price"), lit(-1.0)).as("old_price"),
          coalesce(col("new_price"), lit(-1.0)).as("new_price"))
        .orderBy("o_orderkey")
    },

    // Q-INCR: chunked incremental replay through the IVM engine must
    // equal a from-scratch batch join — verified against a plain SQL
    // oracle that never saw the incremental path.
    //
    // Per-batch cost: the nodes of the engine's batch plan (`Waves`).
    // The engine runs its plans interpreted in its own session, because
    // a batch's generated classes overflow Spark's codegen cache and
    // would be recompiled every batch
    // (BENCH_AB_ivm_interpreted.md has the A/B for this query). The
    // per-wave split comes from `perfbench/run.py --trace 1` (`ivm.*`).
    "q_incr" -> QueryDef(
      "incremental view maintenance over a chunked changelog ≡ batch join",
      """SELECT o_orderkey, c_name
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 97 <> 0
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val c = t(spark, dir)("customer")
      val tree = Relation.root("DenormalizedOrder", "orders",
        Relation.child("customer", "c_custkey", "o_custkey"))
      val engine = new IncrementalDenormalizer(spark, Seq(tree),
        Map("orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey")),
        Map("orders" -> o.schema, "customer" -> c.schema))
      def changelog(df: org.apache.spark.sql.DataFrame, keyCol: String) = df.select(
        col(keyCol).as("offset"),
        struct(col(keyCol)).as("key"),
        struct(df.columns.map(col): _*).as("value"))
      // 4 insert chunks interleaved across both entities…
      (0 until 4).foreach { i =>
        engine.processBatch(Map(
          "orders" -> changelog(o.where(pmod(col("o_orderkey"), lit(4)) === i), "o_orderkey"),
          "customer" -> changelog(c.where(pmod(col("c_custkey"), lit(4)) === i), "c_custkey")))
      }
      // …then a tombstone batch deleting every 97th order.
      val tomb = o.where(col("o_orderkey") % 97 === 0).select(
        col("o_orderkey").as("offset"),
        struct(col("o_orderkey")).as("key"),
        lit(null).cast(o.schema).as("value"))
      engine.processBatch(Map("orders" -> tomb))
      engine.docs("DenormalizedOrder").where(!col("__deleted"))
        .select(
          get_json_object(col("doc_json"), "$.Record.o_orderkey").cast(LongType).as("o_orderkey"),
          get_json_object(col("doc_json"), "$.Children.customer[0].Record.c_name").as("c_name"))
        .orderBy("o_orderkey")
    },

    // Q-INCR-DURABLE: the same IVM replay through the DURABLE
    // bucketed-parquet backend — the deployment shape — including an
    // engine handoff mid-replay: a SECOND engine recovers the first
    // one's state purely from the on-disk generations
    // (BucketedParquetBackend.recover → loadStateTables, the restart
    // path — bucket-aligned compose, so the recovery re-persist skips
    // the full-state shuffle) before applying the tombstone batch.
    // Same oracle as q_incr:
    // durability and recovery must be invisible in the result.
    "q_incr_durable" -> QueryDef(
      "IVM through the durable bucketed-parquet backend, with a mid-replay recovery from disk",
      """SELECT o_orderkey, c_name
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 97 <> 0
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val c = t(spark, dir)("customer")
      val tree = Relation.root("DenormalizedOrder", "orders",
        Relation.child("customer", "c_custkey", "o_custkey"))
      val stateRoot = "file://" +
        java.nio.file.Files.createTempDirectory("graft_q_incr_durable")
      def newEngine(b: BucketedParquetBackend) = new IncrementalDenormalizer(
        spark, Seq(tree),
        Map("orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey")),
        Map("orders" -> o.schema, "customer" -> c.schema), backend = b)
      def changelog(df: org.apache.spark.sql.DataFrame, keyCol: String) = df.select(
        col(keyCol).as("offset"),
        struct(col(keyCol)).as("key"),
        struct(df.columns.map(col): _*).as("value"))
      // buckets = 8 measured best at sf0.1; per-wave durable cost: perfbench/run.py --buckets N --trace 1
      val b1 = new BucketedParquetBackend(spark, stateRoot, buckets = 8)
      val e1 = newEngine(b1)
      (0 until 2).foreach { i =>
        e1.processBatch(Map(
          "orders" -> changelog(o.where(pmod(col("o_orderkey"), lit(2)) === i), "o_orderkey"),
          "customer" -> changelog(c.where(pmod(col("c_custkey"), lit(2)) === i), "c_custkey")))
      }
      // handoff: recover from the newest batch commit, then delete
      val b2 = new BucketedParquetBackend(spark, stateRoot, buckets = 8)
      val e2 = newEngine(b2)
      e2.loadStateTables(b2.recover())
      val tomb = o.where(col("o_orderkey") % 97 === 0).select(
        col("o_orderkey").as("offset"),
        struct(col("o_orderkey")).as("key"),
        lit(null).cast(o.schema).as("value"))
      e2.processBatch(Map("orders" -> tomb))
      // materialize off the state tables, then drop the temp state root
      val out = e2.docs("DenormalizedOrder").where(!col("__deleted"))
        .select(
          get_json_object(col("doc_json"), "$.Record.o_orderkey").cast(LongType).as("o_orderkey"),
          get_json_object(col("doc_json"), "$.Children.customer[0].Record.c_name").as("c_name"))
        .orderBy("o_orderkey").localCheckpoint()
      b2.deleteAll(); b1.deleteAll()
      out
    },

    // Incrementally MAINTAINED grouped aggregate over a chunked
    // changelog replay — the aggregation face of the IVM model
    // (IncrementalAggregate scaladoc): per-status order counts and
    // exact-decimal revenue kept current under inserts, a group-moving
    // update wave (every 7th order re-priced into status 'U'), and a
    // tombstone wave (every 97th deleted), with RETRACTION of old
    // contributions instead of any rescan. The oracle computes the
    // same aggregate directly from the net effect of the replay — the
    // maintained rollup must equal the from-scratch answer exactly
    // (decimal sums make retraction lossless).
    "q_incr_agg" -> QueryDef(
      "incrementally maintained per-status count/revenue under updates + deletes",
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS g,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
        |fin AS (SELECT k,
        |         CASE WHEN k % 7 = 0 THEN 'U' ELSE g END AS g,
        |         CASE WHEN k % 7 = 0 THEN CAST(v * 2 AS DECIMAL(18,2)) ELSE v END AS v
        |       FROM base WHERE k % 97 <> 0)
        |SELECT g, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(v) AS DOUBLE) AS total
        |FROM fin GROUP BY g ORDER BY g""".stripMargin) { (spark, dir) =>
      import graft.streaming.IncrementalAggregate
      val dec = DecimalType(18, 2)
      val base = t(spark, dir)("orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("g"),
        col("o_totalprice").cast(dec).as("v"))
      val inserts = (0 until 4).map(i =>
        base.where(pmod(col("k"), lit(4)) === i)
          .select(col("k"), (col("k") * 10 + i).as("offset"), col("g"), col("v")))
      val updates = base.where(col("k") % 7 === 0)
        .select(col("k"), (col("k") * 10 + 5).as("offset"),
          lit("U").as("g"), (col("v") * 2).cast(dec).as("v"))
      val tombstones = base.where(col("k") % 97 === 0)
        .select(col("k"), (col("k") * 10 + 6).as("offset"),
          lit(null).cast(StringType).as("g"), lit(null).cast(dec).as("v"))
      val finalState = (inserts :+ updates :+ tombstones)
        .foldLeft(IncrementalAggregate.empty(spark))(
          IncrementalAggregate.applyBatch)
      finalState.agg
        .select(col("g"), col("cnt"),
          col("s").cast(DoubleType).as("total"))
        .orderBy("g")
    },

    // min/max under RETRACTION — the non-self-inverse aggregates the
    // plain q_incr_agg deliberately excluded: each group carries a
    // bounded candidate multiset per extreme (IncrementalAggregate
    // scaladoc), so deleting the current minimum promotes the
    // runner-up from candidates, and the delete waves here drain MORE
    // than k minima per group on purpose to force the group-scoped
    // rebuild path as well. A reprice wave (×3) then pushes new maxima
    // INTO the candidate sets. The oracle computes the same rollup
    // from the replay's net effect — maintained must equal
    // from-scratch exactly, extremes included.
    "q_incr_minmax" -> QueryDef(
      "incrementally maintained min/max under extreme-deleting retraction",
      minmaxOracleSql) { (spark, dir) =>
      minmaxReplay(spark, dir, graft.streaming.StateBackend.Memory)
    },

    // The SAME min/max replay with the latest state on the DURABLE
    // bucketed-parquet backend (delta generations, compactEvery = 8 so
    // the whole 5-batch replay after the first persist rides the
    // O(delta) path — no mid-replay compaction). Paired with
    // q_incr_minmax this is the measured A/B for the r13 sweep's
    // sf0.3→sf1 step attribution: the memory backend re-snapshots the
    // FULL latest state every batch (O(state)); the durable path
    // writes only each batch's change set. Same oracle — durability
    // must be invisible in the result.
    "q_incr_minmax_durable" -> QueryDef(
      "min/max retraction replay with latest state on durable delta generations",
      minmaxOracleSql) { (spark, dir) =>
      val stateRoot = "file://" +
        java.nio.file.Files.createTempDirectory("graft_q_incr_minmax_dur")
      val b = new BucketedParquetBackend(spark, stateRoot,
        buckets = 8, compactEvery = 8)
      // finally: a mid-replay failure must not leak the temp state
      // root or the session's graft_state_* catalog tables (which
      // would also trip the leak-check gate confusingly)
      try minmaxReplay(spark, dir, b).localCheckpoint()
      finally b.deleteAll()
    },

    // Sessionization: session_window with a 30-minute gap — the
    // streaming session-window operator evaluated in batch; the oracle
    // is the classic gaps-and-islands SQL, proving the semantics match.
    "q_sessionize" -> QueryDef(
      "session windows (30-min gap) per user over the event stream",
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
        |flag AS (SELECT user_id, us, value,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |         OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT user_id, us, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flag)
        |SELECT user_id, CAST(min(us) AS BIGINT) AS session_start_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("tstamp"),
          expr("ts div 1000").as("us"), col("value"))
      e.groupBy(col("user_id"), session_window(col("tstamp"), "30 minutes"))
        .agg(min(col("us")).as("session_start_us"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .select(col("user_id"), col("session_start_us"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start_us")
    },

    // SCHEMALESS record mode (reference record/BaseRecord.java:37-41:
    // per-record schemas that evolve over a topic's lifetime). A JSON
    // changelog is built whose records disagree on fields — some carry
    // a late-added score, some a nested props object — then decoded
    // through the VariantType codec (Serdes "json-schemaless"), folded
    // latest-per-key, and read back with variant_get: late fields are
    // null on old records, nested unknown fields survive end to end,
    // and n_fields proves nothing was dropped by a declared schema.
    // Both engines build the SAME json strings by concatenation, so
    // the oracle replays the whole pipeline with DuckDB's JSON type.
    "q_schemaless" -> QueryDef(
      "schemaless (variant) changelog: evolving per-record fields survive compaction",
      """WITH src AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'error' THEN NULL
        |         ELSE '{"user_id":' || CAST(user_id AS VARCHAR) ||
        |              ',"event_type":"' || event_type || '"' ||
        |              CASE WHEN event_id % 3 = 0
        |                   THEN ',"score_x100":' ||
        |                        CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
        |                   ELSE '' END ||
        |              CASE WHEN event_id % 5 = 0 THEN ',"props":' || props
        |                   ELSE '' END ||
        |              '}' END AS j
        |  FROM events),
        |latest AS (
        |  SELECT user_id, j FROM (
        |    SELECT user_id, j,
        |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM src) t WHERE rn = 1)
        |SELECT user_id,
        |  json_extract_string(j, '$.event_type') AS last_event_type,
        |  COALESCE(CAST(json_extract(j, '$.score_x100') AS BIGINT), -1) AS score_x100,
        |  COALESCE(CAST(json_extract(j, '$.props.k') AS BIGINT), -1) AS prop_k,
        |  CAST(len(json_keys(j)) AS BIGINT) AS n_fields
        |FROM latest WHERE j IS NOT NULL
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val ev = t(spark, dir)("events")
      val raw = when(col("event_type") === "error", lit(null).cast(StringType))
        .otherwise(concat(
          lit("{\"user_id\":"), col("user_id").cast(StringType),
          lit(",\"event_type\":\""), col("event_type"), lit("\""),
          when(col("event_id") % 3 === 0,
            concat(lit(",\"score_x100\":"),
              round(col("value") * 100).cast(LongType).cast(StringType)))
            .otherwise(lit("")),
          when(col("event_id") % 5 === 0, concat(lit(",\"props\":"), col("props")))
            .otherwise(lit("")),
          lit("}")))
      val codec = graft.sources.Serdes.byName("json-schemaless")
      val decoded = ev.select(col("user_id"), col("event_id"),
        codec.decode(raw, new StructType()).as("v"))
      // latest-per-key fold with the variant payload riding the state
      // (struct wrap keeps tombstones as real rows, as in foldDelta)
      val latest = decoded.groupBy(col("user_id"))
        .agg(max_by(struct(col("v")), col("event_id")).getField("v").as("v"))
        .where(col("v").isNotNull)
      latest.select(col("user_id"),
        variant_get(col("v"), "$.event_type", "string").as("last_event_type"),
        coalesce(variant_get(col("v"), "$.score_x100", "bigint"), lit(-1L))
          .as("score_x100"),
        coalesce(variant_get(col("v"), "$.props.k", "bigint"), lit(-1L))
          .as("prop_k"),
        size(json_object_keys(codec.encode(col("v")))).cast(LongType).as("n_fields"))
        .orderBy("user_id")
    },

    // lag/lead window surface: inter-event gaps per user.
    // Weekly cohort retention: users grouped by first-event week, then
    // per (cohort_week, week_offset) distinct active users — the
    // classic engagement-curve readout. Scale shape: everything is
    // keyed on user_id (per-user min, then a co-partitioned equijoin
    // back to the event stream) or on the tiny (cohort, offset) pair —
    // no window ever runs over the event corpus, and the per-user
    // distinct happens BEFORE the final count so the last aggregation
    // sees at most |users|·|weeks| rows. All integer day/week
    // arithmetic (ns → day → week), identical in both engines on
    // non-negative timestamps.
    "q_retention" -> QueryDef(
      "weekly cohort retention: distinct active users per (cohort week, week offset)",
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, c.cohort_day // 7 AS cohort_week,
        |             (e.day - c.cohort_day) // 7 AS week_offset
        |      FROM e JOIN c ON e.user_id = c.user_id)
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        |       CAST(week_offset AS BIGINT) AS week_offset,
        |       CAST(count(*) AS BIGINT) AS n_active
        |FROM a GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val c = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      e.join(c, "user_id")
        .select(col("user_id"), expr("cohort_day div 7").as("cohort_week"),
          expr("(day - cohort_day) div 7").as("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort_week", "week_offset")
    },

    // Salted skew-resistant join (Skew.saltedJoin): the fact side's
    // hot keys scatter over 16 salt buckets, the dim side replicates
    // 16×, and the per-(key, salt) equijoin rows are provably identical
    // to the plain join — the oracle aggregates over ALL join rows, so
    // a single duplicated or dropped row under salting breaks the
    // value-exact compare. AQE's runtime skew-split is the default
    // answer; explicit salting is the pathological-hot-key escape hatch
    // (one key ≫ a task's worth of rows even after splitting), and
    // this query keeps it oracle-verified on real data.
    "q_skew_join" -> QueryDef(
      "salted join of events to a per-user dim, aggregate over join rows",
      """WITH d AS (SELECT user_id, CAST(count(*) AS BIGINT) AS user_total
        |           FROM events GROUP BY user_id)
        |SELECT e.event_type, CAST(sum(d.user_total) AS BIGINT) AS sum_user_total,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM events e JOIN d ON e.user_id = d.user_id
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (spark, dir) =>
      val ev = t(spark, dir)("events")
      val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_total"))
      graft.operators.Skew.saltedJoin(
          ev.select("user_id", "event_type"), dim, "user_id", salt = 16)
        .groupBy("event_type")
        .agg(sum(col("user_total")).as("sum_user_total"),
          count(lit(1)).as("n_rows"))
        .orderBy("event_type")
    },

    // SCD Type 2: the history-preserving compile of the changelog —
    // every run of consecutive identical event_type values per user
    // becomes one validity interval; the open version is current. The
    // point-in-time complement of q_latest (Temporal.scd2 scaladoc).
    "q_scd2" -> QueryDef(
      "SCD Type 2: changelog compiled to validity-interval version history",
      """WITH c AS (SELECT user_id, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events),
        |chg AS (SELECT user_id, event_id, event_type FROM c
        |        WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, CAST(event_id AS BIGINT) AS valid_from,
        |  CAST(coalesce(lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id), -1) AS BIGINT) AS valid_to,
        |  CAST(CASE WHEN lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM chg ORDER BY user_id, valid_from""".stripMargin) { (spark, dir) =>
      Temporal.scd2(t(spark, dir)("events"),
          keyCol = "user_id", attrCol = "event_type", offsetCol = "event_id")
        .orderBy("user_id", "valid_from")
    },

    // BITEMPORAL point query — both time axes at once: "what did the
    // system BELIEVE at transaction offset O about the state VALID
    // at offset V". Transaction time = the changelog prefix
    // (event_id ≤ O, the asOf(commit) axis of the durable
    // backend); valid time = the SCD2 interval containing V. Both
    // cuts are in-plan scalars (max-offset fractions), so the query
    // is one prefix filter + one run-collapse + one interval point
    // probe — the warehouse-canonical bitemporal shape, no
    // inequality join anywhere.
    "q_bitemporal" -> QueryDef(
      "bitemporal point query: state valid at V as known at transaction O",
      """WITH cut AS (SELECT max(event_id) // 2 AS o, max(event_id) // 4 AS v
        |      FROM events),
        |e AS (SELECT user_id, event_id, event_type
        |      FROM events CROSS JOIN cut WHERE event_id <= cut.o),
        |c AS (SELECT user_id, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS prev FROM e),
        |chg AS (SELECT user_id, event_id, event_type FROM c
        |        WHERE prev IS NULL OR prev <> event_type),
        |ver AS (SELECT user_id, event_type, event_id AS valid_from,
        |        coalesce(lead(event_id) OVER (PARTITION BY user_id
        |          ORDER BY event_id), -1) AS valid_to FROM chg)
        |SELECT ver.user_id, ver.event_type AS state,
        |  CAST(valid_from AS BIGINT) AS valid_from,
        |  CAST(valid_to AS BIGINT) AS valid_to,
        |  CAST(cut.o AS BIGINT) AS asof_txn,
        |  CAST(cut.v AS BIGINT) AS asof_valid
        |FROM ver CROSS JOIN cut
        |WHERE valid_from <= cut.v AND (valid_to = -1 OR cut.v < valid_to)
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val events = t(spark, dir)("events")
      val cut = events.agg(expr("max(event_id) div 2").as("o"),
        expr("max(event_id) div 4").as("v"))
      val prefix = events.crossJoin(cut)
        .where(col("event_id") <= col("o"))
        .select(col("user_id"), col("event_id"), col("event_type"))
      Temporal.scd2(prefix, keyCol = "user_id", attrCol = "event_type",
          offsetCol = "event_id")
        .crossJoin(cut)
        .where(col("valid_from") <= col("v") &&
          (col("valid_to") === -1L || col("v") < col("valid_to")))
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from"), col("valid_to"),
          col("o").as("asof_txn"), col("v").as("asof_valid"))
        .orderBy("user_id")
    },

    // Point-in-time (PIT) join against the SCD2 dimension: each
    // purchase event is enriched with the user's activity state (the
    // SCD2 version built from the NON-purchase changelog) in effect at
    // the purchase's offset. Joining the run-collapsed VERSION table
    // instead of the raw changelog is the point at scale — the as-of
    // side carries one row per state CHANGE, not one per event, and
    // Temporal.asofJoin turns the interval probe into one union +
    // window pass (no inequality join, no nested-loop fallback).
    "q_scd2_join" -> QueryDef(
      "point-in-time join: purchases enriched with the SCD2 version in effect",
      """WITH c AS (SELECT user_id, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events WHERE event_type <> 'purchase'),
        |v AS (SELECT user_id, event_id AS valid_from, event_type,
        |        lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
        |      FROM c WHERE prev IS NULL OR prev <> event_type)
        |SELECT p.event_id, p.user_id, p.value, v.event_type AS state
        |FROM events p LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.valid_from <= p.event_id
        |     AND (v.valid_to IS NULL OR p.event_id < v.valid_to)
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin) { (spark, dir) =>
      val events = t(spark, dir)("events")
      val dim = Temporal.scd2(
          events.where(col("event_type") =!= "purchase"),
          keyCol = "user_id", attrCol = "event_type", offsetCol = "event_id")
        .select(col("user_id"), col("valid_from").as("event_id"),
          col("event_type").as("state"))
      val facts = events.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      Temporal.asofJoin(facts, dim,
          keys = Seq("user_id"), timeCol = "event_id",
          payloadCols = Seq("state"))
        .orderBy("event_id")
    },

    // Time-in-state readout of the SCD2 interval model: how long each
    // activity state holds, per-state totals over EVENT TIME (ts is
    // epoch-ns), the open interval closed at the Feb-1 observation
    // horizon (Temporal.dwell scaladoc: one keyed shuffle, run-break
    // filter before the lead pass, |states|-row map-side-combined
    // rollup — the corpus never re-shuffles).
    "q_dwell" -> QueryDef(
      "time-in-state dwell totals per event_type over event time",
      """WITH c AS (SELECT user_id, epoch_ns(ts) AS t, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |chg AS (SELECT user_id, t, event_type FROM c
        |        WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT event_type,
        |    coalesce(lead(t) OVER (PARTITION BY user_id ORDER BY t),
        |             1706745600000000000) - t AS dur
        |  FROM chg)
        |SELECT event_type AS state, CAST(sum(dur) AS BIGINT) AS total_dwell,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM iv GROUP BY 1 ORDER BY state""".stripMargin) { (spark, dir) =>
      Temporal.dwell(t(spark, dir)("events"),
          keyCol = "user_id", attrCol = "event_type", timeCol = "ts",
          horizon = 1706745600000000000L) // 2024-02-01T00:00Z epoch-ns
        .orderBy("state")
    },

    // Two-sample KS drift between the view and purchase value
    // distributions — the distribution-equality test as a first-class
    // operator (Profiling.ksDistance scaladoc: values bin to an
    // integer grid FIRST, so the one ordered window runs over
    // |bins| rows instead of a corpus-wide sort; the statistic is the
    // integer pair (max |cumA·nB − cumB·nA|, nA·nB) — no float CDF
    // division for engines to disagree on).
    "q_ks_drift" -> QueryDef(
      "integer-exact binned KS distance: view vs purchase value distributions",
      """WITH e AS (SELECT CAST(floor(value) AS BIGINT) AS bin,
        |         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia
        |       FROM events
        |       WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
        |g AS (SELECT bin, sum(ia) AS a, sum(1 - ia) AS b FROM e GROUP BY 1),
        |t AS (SELECT sum(a) AS na, sum(b) AS nb FROM g),
        |c AS (SELECT bin, sum(a) OVER (ORDER BY bin) AS ca,
        |             sum(b) OVER (ORDER BY bin) AS cb FROM g),
        |s AS (SELECT bin, abs(ca * nb - cb * na) AS d FROM c, t)
        |SELECT CAST((SELECT max(d) FROM s) AS BIGINT) AS d_num,
        |  CAST((SELECT min(bin) FROM s
        |        WHERE d = (SELECT max(d) FROM s)) AS BIGINT) AS at_bin,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
        |FROM t""".stripMargin) { (spark, dir) =>
      graft.operators.Profiling.ksDistance(t(spark, dir)("events"),
        valueCol = "value", sideCol = "event_type",
        sideA = "view", sideB = "purchase")
    },

    // State TIME TRAVEL through the oracle gate: two batch commits of a
    // compacted user-state table, then asOf(commit 1)
    // must reproduce the pre-update compaction EXACTLY while
    // asOf(latest) is the current one — per-batch rewind vs the
    // reference's rotated whole-store backups (state/RocksDBState.java
    // backups restore only whole stores). The oracle replays both
    // epochs as latest-per-key over the corresponding changelog prefix.
    "q_time_travel" -> QueryDef(
      "durable-state time travel: asOf(commit 1) == the pre-update compaction",
      """WITH h AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id < 500),
        |f AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT 1 AS gen, user_id, event_type FROM h WHERE rn = 1
        |UNION ALL
        |SELECT 2 AS gen, user_id, event_type FROM f WHERE rn = 1
        |ORDER BY gen, user_id""".stripMargin) { (spark, dir) =>
      val ev = t(spark, dir)("events")
      val root = "file://" +
        java.nio.file.Files.createTempDirectory("graft_q_time_travel")
      val b = new BucketedParquetBackend(spark, root, buckets = 4)
      def comp(df: DataFrame) =
        latestPerKey(df).select(col("user_id"), col("event_type"))
      b.persist("user_state", comp(ev.where(col("event_id") < 500)))
      b.gc() // commit 1
      b.persist("user_state", comp(ev))
      b.gc() // commit 2
      val g1 = BucketedParquetBackend.asOf(spark, root, 1L)("user_state")
      val cur = BucketedParquetBackend
        .asOf(spark, root, Long.MaxValue)("user_state")
      val out = g1.select(lit(1).as("gen"), col("user_id"), col("event_type"))
        .unionByName(cur.select(lit(2).as("gen"), col("user_id"),
          col("event_type")))
        .orderBy("gen", "user_id").localCheckpoint()
      b.deleteAll()
      out
    },

    "q_lag" -> QueryDef(
      "lag window: time since previous event per user",
      """SELECT user_id, event_id,
        |  CAST(coalesce(epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000)
        |    OVER (PARTITION BY user_id ORDER BY event_id), -1) AS BIGINT) AS gap_us
        |FROM events ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(spark, dir)("events")
        .select(col("user_id"), col("event_id"),
          coalesce(expr("ts div 1000") - lag(expr("ts div 1000"), 1).over(w),
            lit(-1L)).as("gap_us"))
        .orderBy("user_id", "event_id")
    },

    // As-of (point-in-time) join — for each view event, the latest
    // click value at-or-before it for the same user. Implemented with
    // the union-merge strategy (Temporal.asofJoin): one shuffle by
    // user + one sort, no inequality join. The oracle uses DuckDB's
    // native ASOF LEFT JOIN, proving the semantics match an
    // independent implementation. -1.0 sentinel instead of null keeps
    // the value column NaN-free for the comparator.
    "q_asof" -> QueryDef(
      "as-of join: latest click value at or before each view, per user",
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts, max(value) AS cv FROM events
        |      WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id,
        |  CAST(epoch_ns(v.ts) // 1000 AS BIGINT) AS ts_us,
        |  coalesce(c.cv, -1.0) AS last_click_value
        |FROM v ASOF LEFT JOIN c
        |  ON v.user_id = c.user_id AND v.ts >= c.ts
        |ORDER BY v.event_id""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
      val views = e.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("value")).as("cv"))
      Temporal.asofJoin(views, clicks, Seq("user_id"), "ts", Seq("cv"))
        // output µs, not ns: epoch-nanos exceed double's exact range in
        // the driver's comparator (the join itself runs on full ns)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"),
          coalesce(col("cv"), lit(-1.0)).as("last_click_value"))
        .orderBy("event_id")
    },

    // Forward as-of: the NEXT click at-or-after each view — the other
    // temporal direction ("next deploy after the alert"), same
    // union-merge shape with the window frame reversed
    // (Temporal.asofJoin scaladoc, direction = "forward"). DuckDB's
    // native ASOF with `<=` is the independent implementation the
    // semantics must match.
    "q_asof_fwd" -> QueryDef(
      "forward as-of join: next click value at or after each view, per user",
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts, max(value) AS cv FROM events
        |      WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id,
        |  CAST(epoch_ns(v.ts) // 1000 AS BIGINT) AS ts_us,
        |  coalesce(c.cv, -1.0) AS next_click_value
        |FROM v ASOF LEFT JOIN c
        |  ON v.user_id = c.user_id AND v.ts <= c.ts
        |ORDER BY v.event_id""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
      val views = e.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("value")).as("cv"))
      Temporal.asofJoin(views, clicks, Seq("user_id"), "ts", Seq("cv"),
          direction = "forward")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"),
          coalesce(col("cv"), lit(-1.0)).as("next_click_value"))
        .orderBy("event_id")
    },

    // Time-weighted average of the event value per user
    // (Temporal.twap scaladoc): each observation weighs by its gap to
    // the user's next event; integer-milli value × integer-µs gap
    // accumulates in DECIMAL, one double division at the end — the
    // no-float-summation-order recipe.
    "q_twap" -> QueryDef(
      "time-weighted average event value per user (last interval open)",
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(epoch_ns(ts) // 1000 AS BIGINT) AS t,
        |    CAST(round(value * 1000) AS BIGINT) AS vm
        |  FROM events),
        |iv AS (SELECT user_id, vm,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dur
        |  FROM e),
        |agg AS (SELECT user_id, sum(vm * dur) AS num,
        |    sum(dur) AS total_dur, count(*) AS n_intervals
        |  FROM iv WHERE dur IS NOT NULL GROUP BY 1)
        |SELECT user_id,
        |  round(CAST(num AS DOUBLE) / total_dur / 1000.0, 6) AS twap,
        |  CAST(total_dur AS BIGINT) AS total_dur,
        |  CAST(n_intervals AS BIGINT) AS n_intervals
        |FROM agg WHERE total_dur > 0 ORDER BY user_id""".stripMargin) {
      (spark, dir) =>
      Temporal.twap(
          t(spark, dir)("events")
            .select(col("user_id"), col("event_id"),
              expr("ts div 1000").as("t"), col("value")),
          keyCol = "user_id", timeCol = "t", tieCol = "event_id",
          valueCol = "value")
        .orderBy("user_id")
    },

    // Last-touch revenue attribution: every purchase credits the
    // user's most recent PRECEDING click's campaign (the JSON k prop)
    // — the marketing-analytics composition of the backward as-of
    // join (Temporal.asofJoin) with an exact-cents rollup.
    // Purchases with no prior click land in campaign -1. DuckDB's
    // native ASOF is again the independent implementation.
    "q_attribution" -> QueryDef(
      "last-touch attribution: purchase revenue per preceding-click campaign",
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
      val e = t(spark, dir)("events")
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), expr("ts div 1000").as("t"))
        .agg(max(get_json_object(col("props"), "$.k").cast(LongType)).as("k"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("t"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      Temporal.asofJoin(purchases, clicks, Seq("user_id"), "t", Seq("k"))
        .select(coalesce(col("k"), lit(-1L)).as("campaign"), col("cents"))
        .groupBy("campaign")
        .agg(sum(col("cents")).as("revenue_cents"),
          count(lit(1)).as("n_purchases"))
        .orderBy("campaign")
    },

    // Linear multi-touch attribution — q_attribution's many-to-many
    // sibling: each purchase splits its revenue EQUALLY across every
    // click in its 3-day lookback (the marketing-standard linear
    // model), so the temporal join must carry payload, not just
    // count — that's Temporal.windowJoin (bucketed equijoin, each
    // pair meets exactly once, no inequality-join fallback). Exact
    // split without float shares: per-purchase credit quantum =
    // cents·10⁶ div k (one integer division per purchase), times the
    // campaign's click count in the window; purchases with an empty
    // lookback credit campaign −1 whole. Campaign-null clicks are
    // excluded on both engines.
    "q_attribution_linear" -> QueryDef(
      "linear multi-touch attribution: purchase revenue split across 3-day-lookback clicks",
      """WITH c AS (SELECT user_id, epoch_ns(ts) AS ct,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS campaign
        |  FROM events WHERE event_type = 'click'
        |    AND json_extract_string(props, '$.k') IS NOT NULL),
        |p AS (SELECT event_id AS pid, user_id, epoch_ns(ts) AS pt,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |pr AS (SELECT p.pid, p.cents, c.campaign
        |       FROM p JOIN c ON p.user_id = c.user_id
        |         AND c.ct < p.pt AND c.ct >= p.pt - 259200000000000),
        |pc AS (SELECT pid, cents, campaign, count(*) AS cnt
        |       FROM pr GROUP BY 1, 2, 3),
        |kt AS (SELECT pid, sum(cnt) AS k FROM pc GROUP BY 1),
        |cr AS (SELECT campaign, (cents * 1000000 // k) * cnt AS credit, pid
        |       FROM pc JOIN kt USING (pid)
        |       UNION ALL
        |       SELECT -1 AS campaign, cents * 1000000 AS credit, pid
        |       FROM p WHERE pid NOT IN (SELECT pid FROM kt))
        |SELECT campaign, CAST(sum(credit) AS BIGINT) AS credit_micros,
        |  CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("ct"),
          get_json_object(col("props"), "$.k").cast(LongType).as("campaign"))
        .where(col("campaign").isNotNull)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          col("ts").as("pt"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val pairs = Temporal.windowJoin(purchases, clicks, Seq("user_id"),
        "pt", "ct", 259200L * 1000000000L)
      val pc = pairs.groupBy("pid", "cents", "campaign")
        .agg(count(lit(1)).as("cnt"))
      val kt = pc.groupBy("pid").agg(sum(col("cnt")).as("k"))
      val attributed = pc.join(kt, Seq("pid"))
        .select(col("campaign"),
          (expr("cents * 1000000 div k") * col("cnt")).as("credit"),
          col("pid"))
      val unattributed = purchases
        .join(kt, Seq("pid"), "left_anti")
        .select(lit(-1L).as("campaign"),
          (col("cents") * 1000000L).as("credit"), col("pid"))
      attributed.unionByName(unattributed)
        .groupBy("campaign")
        .agg(sum(col("credit")).as("credit_micros"),
          countDistinct(col("pid")).as("n_purchases"))
        .orderBy("campaign")
    },

    // Lagged cross-correlation of the daily click and purchase count
    // series — does today's click volume predict tomorrow's
    // purchases? The series reduce to ≤ |days| integer pairs (one
    // corpus aggregate + a generated day grid with zero fill, so
    // silent gaps can't misalign the lag), every Pearson moment is an
    // exact integer, and the two sqrt-of-integer calls are
    // correctly-rounded IEEE on both engines.
    "q_xcorr" -> QueryDef(
      "lagged cross-correlation (lags -2..2) of daily clicks vs purchases",
      """WITH b AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
        |  FROM events),
        |lim AS (SELECT min(day) AS d0, max(day) AS d1 FROM b),
        |cnt AS (SELECT day, sum(isc) AS x, sum(isp) AS y FROM b GROUP BY 1),
        |grid AS (SELECT d0 + s AS day FROM lim,
        |         unnest(range(0, CAST(d1 - d0 + 1 AS BIGINT))) AS r(s)),
        |g AS (SELECT grid.day, coalesce(cnt.x, 0) AS x, coalesce(cnt.y, 0) AS y
        |      FROM grid LEFT JOIN cnt ON cnt.day = grid.day),
        |pairs AS (SELECT l.lag, a.x, b2.y
        |  FROM unnest([-2, -1, 0, 1, 2]) AS l(lag)
        |  CROSS JOIN g a JOIN g b2 ON b2.day = a.day + l.lag),
        |m AS (SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM pairs GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9) AS r
        |FROM m WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |ORDER BY lag""".stripMargin) { (spark, dir) =>
      val dayNs = 86400L * 1000000000L
      val b = t(spark, dir)("events")
        .select(expr(s"ts div ${dayNs}L").as("day"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("isc"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("isp"))
      val cnt = b.groupBy("day").agg(sum(col("isc")).as("x"),
        sum(col("isp")).as("y"))
      val lim = b.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val grid = lim.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val g = grid.join(cnt, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
      val lags = spark.range(-2, 3).select(col("id").as("lag"))
      val a = g.select(col("day"), col("x"))
      val b2 = g.select(col("day").as("yday"), col("y"))
      val pairs = a.crossJoin(lags)
        .join(b2, col("yday") === col("day") + col("lag"))
      val n = count(lit(1))
      val den1 = n * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x"))
      val den2 = n * sum(col("y") * col("y")) - sum(col("y")) * sum(col("y"))
      pairs.groupBy("lag")
        .agg(n.as("n_days"),
          round((n * sum(col("x") * col("y")) -
              sum(col("x")) * sum(col("y"))).cast(DoubleType) /
            (sqrt(den1.cast(DoubleType)) * sqrt(den2.cast(DoubleType))), 9)
            .as("r"),
          den1.as("__d1"), den2.as("__d2"))
        .where(col("__d1") > 0 && col("__d2") > 0)
        .select(col("lag"), col("n_days"), col("r"))
        .orderBy("lag")
    },

    // Per-user OLS value trend (Temporal.trend scaladoc): slope +
    // intercept from five exact DECIMAL/HUGEINT moment sums in ONE
    // keyed aggregate — time re-based per key via the shift
    // identities, no second pass, the two double divisions shared
    // bit-for-bit at the end.
    "q_trend" -> QueryDef(
      "per-user OLS trend of event value over time (exact moment sums)",
      """WITH e AS (SELECT user_id,
        |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS t,
        |    CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
        |a AS (SELECT user_id, count(*) AS n, min(t) AS m, sum(t) AS st,
        |    sum(vm) AS sv, sum(t * vm) AS stv, sum(t * t) AS stt
        |  FROM e GROUP BY 1),
        |s AS (SELECT user_id, n, sv,
        |    st - n * m AS rt, stv - m * sv AS rtv,
        |    stt - 2 * m * st + CAST(n AS HUGEINT) * m * m AS rtt FROM a)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  round(CAST(n * rtv - rt * sv AS DOUBLE)
        |    / CAST(n * rtt - rt * rt AS DOUBLE), 9) AS slope,
        |  round((CAST(sv AS DOUBLE)
        |      - round(CAST(n * rtv - rt * sv AS DOUBLE)
        |          / CAST(n * rtt - rt * rt AS DOUBLE), 9)
        |        * CAST(rt AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
        |FROM s WHERE n * rtt - rt * rt <> 0
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      Temporal.trend(
          t(spark, dir)("events")
            .select(col("user_id"),
              expr("ts div 1000000000").as("t"), col("value")),
          keyCol = "user_id", timeCol = "t", valueCol = "value")
        .orderBy("user_id")
    },

    // Per-user autocorrelation at lags 1..3 (Temporal.acf scaladoc):
    // persistence profiling of the event-value series. Mean-free
    // integer moments — every centered product multiplies through by
    // n, so numerator and denominator are exact HUGEINT/DECIMAL sums
    // and the only float is the final shared divide. Pₖ/Qₖ partial
    // sums fall out of the same lead() window as the cross-products:
    // one shuffle, one window sort, one aggregate.
    "q_acf" -> QueryDef(
      "per-user autocorrelation of event value at lags 1..3 (exact moments)",
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tn, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |l AS (SELECT user_id, c,
        |    lead(c, 1) OVER w AS l1, lead(c, 2) OVER w AS l2,
        |    lead(c, 3) OVER w AS l3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_id)),
        |a AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(c) AS HUGEINT) AS s, CAST(sum(c * c) AS HUGEINT) AS s2,
        |    sum(CASE WHEN l1 IS NOT NULL THEN c * l1 END) AS sc1,
        |    sum(CASE WHEN l1 IS NOT NULL THEN c END) AS p1, sum(l1) AS q1,
        |    sum(CASE WHEN l2 IS NOT NULL THEN c * l2 END) AS sc2,
        |    sum(CASE WHEN l2 IS NOT NULL THEN c END) AS p2, sum(l2) AS q2,
        |    sum(CASE WHEN l3 IS NOT NULL THEN c * l3 END) AS sc3,
        |    sum(CASE WHEN l3 IS NOT NULL THEN c END) AS p3, sum(l3) AS q3
        |  FROM l GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  round(CAST(n*n*sc1 - n*s*(p1+q1) + (n-1)*s*s AS DOUBLE)
        |    / CAST(n*n*s2 - n*s*s AS DOUBLE), 9) AS acf_1,
        |  round(CAST(n*n*sc2 - n*s*(p2+q2) + (n-2)*s*s AS DOUBLE)
        |    / CAST(n*n*s2 - n*s*s AS DOUBLE), 9) AS acf_2,
        |  round(CAST(n*n*sc3 - n*s*(p3+q3) + (n-3)*s*s AS DOUBLE)
        |    / CAST(n*n*s2 - n*s*s AS DOUBLE), 9) AS acf_3
        |FROM a WHERE n > 3 AND n*n*s2 - n*s*s <> 0
        |ORDER BY user_id""".stripMargin) { (spark, dir) =>
      Temporal.acf(t(spark, dir)("events"),
          keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
          valueCol = "value", maxLag = 3)
        .orderBy("user_id")
    },

    // CUSUM changepoint scan (Temporal.cusum scaladoc): the peak of
    // the mean-free cumulative deviation marks each user's most
    // likely regime change. dev_t = n·c_t − S is integer, so the
    // running sum, its peak, and the first-tie argmax are exact on
    // both engines.
    "q_cusum" -> QueryDef(
      "per-user CUSUM changepoint: peak |cumulative deviation| event",
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tn, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |a AS (SELECT user_id, count(*) AS n, sum(c) AS s
        |      FROM e GROUP BY 1 HAVING count(*) > 1),
        |cs AS (SELECT e.user_id, e.event_id, a.n,
        |    sum(a.n * e.c - a.s) OVER (PARTITION BY e.user_id
        |      ORDER BY e.tn, e.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM e JOIN a USING (user_id)),
        |m AS (SELECT user_id, max(abs(cum)) AS stat, max(n) AS n
        |      FROM cs GROUP BY 1)
        |SELECT m.user_id, CAST(m.n AS BIGINT) AS n,
        |  CAST(min(cs.event_id) AS BIGINT) AS cp,
        |  CAST(m.stat AS BIGINT) AS stat
        |FROM m JOIN cs ON cs.user_id = m.user_id AND abs(cs.cum) = m.stat
        |GROUP BY m.user_id, m.n, m.stat
        |ORDER BY 1""".stripMargin) { (spark, dir) =>
      Temporal.cusum(t(spark, dir)("events"),
          keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
          valueCol = "value")
        .orderBy("user_id")
    },

    // Regular-grid resampling with forward fill: every user sampled
    // at 48 hourly ticks from the corpus's first whole hour, each
    // tick carrying the user's latest at-or-before event (value +
    // event id; null before the user's first event). The grid
    // derives from a one-row min aggregate INSIDE the plan (no
    // driver scalar), the user list is a distinct projection, and
    // the fill is the union-merge as-of join — output rows =
    // |users| × 48, proportional to the entity count, never to the
    // event count. DuckDB's generate_series + native ASOF LEFT JOIN
    // is the independent implementation.
    "q_resample" -> QueryDef(
      "hourly resample with forward fill: 48 ticks per user",
      """WITH h AS (SELECT (epoch_ns(min(ts)) // 3600000000000)
        |      * 3600000000000 AS h0 FROM events),
        |g AS (SELECT s AS slot, h0 + s * 3600000000000 AS tn
        |      FROM h, unnest(range(0, 48)) AS r(s)),
        |u AS (SELECT DISTINCT user_id FROM events),
        |l AS (SELECT user_id, slot, tn FROM u CROSS JOIN g),
        |e AS (SELECT user_id, epoch_ns(ts) AS tn,
        |    CAST(round(value * 100) AS BIGINT) AS cents, event_id
        |  FROM events)
        |SELECT l.user_id, CAST(l.slot AS BIGINT) AS slot,
        |  e.cents, e.event_id AS last_event_id
        |FROM l ASOF LEFT JOIN e
        |  ON l.user_id = e.user_id AND l.tn >= e.tn
        |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
      val ev = t(spark, dir)("events")
      val hourNs = 3600L * 1000000000L
      val grid = ev.agg(expr(s"(min(ts) div $hourNs) * $hourNs").as("h0"))
        .select(explode(sequence(lit(0L), lit(47L))).as("slot"), col("h0"))
        .select(col("slot"), (col("h0") + col("slot") * hourNs).as("tn"))
      val left = ev.select(col("user_id")).distinct().crossJoin(grid)
      val right = ev.select(col("user_id"), col("ts").as("tn"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_id").as("last_event_id"))
      Temporal.asofJoin(left, right, Seq("user_id"), "tn",
          Seq("cents", "last_event_id"))
        .select(col("user_id"), col("slot"), col("cents"),
          col("last_event_id"))
        .orderBy("user_id", "slot")
    },

    // Population Stability Index — the industry-standard model-input
    // drift monitor beside the KS and KL tests (q_ks_drift,
    // q_kl_drift): first-half-of-time vs second-half value
    // distributions per event type, binned to integer bands. Exact
    // recipe: the log ratio ln(aB/bA) is a ratio of INTEGERS (so both
    // engines round the same double to 6 decimals), each term's
    // weight (a·B − b·A) is an integer, the weighted sum accumulates
    // as DECIMAL, and the single divide by A·B happens once per type.
    // One-sided bins (mass appears/disappears entirely) can't take a
    // finite log — they report beside the PSI as a count, the
    // standard practice. The time midpoint is a one-row aggregate
    // inside the plan.
    "q_psi" -> QueryDef(
      "PSI drift per event type: first half vs second half of the time range",
      """WITH mid AS (SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2
        |      AS m FROM events),
        |e AS (SELECT event_type,
        |    CASE WHEN epoch_ns(ts) < mid.m THEN 0 ELSE 1 END AS half,
        |    CAST(round(value * 100) AS BIGINT) // 5000 AS band
        |  FROM events CROSS JOIN mid),
        |c AS (SELECT event_type, band,
        |    sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS b
        |  FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(a) AS ta, sum(b) AS tb FROM c GROUP BY 1),
        |r AS (SELECT c.event_type,
        |    CASE WHEN a > 0 AND b > 0 THEN
        |      round(ln(CAST(a * tb AS DOUBLE) / CAST(b * ta AS DOUBLE)), 6)
        |        ::DECIMAL(30,6) END AS lr,
        |    a * tb - b * ta AS w,
        |    CASE WHEN a = 0 OR b = 0 THEN 1 ELSE 0 END AS oneside
        |  FROM c JOIN t ON t.event_type = c.event_type)
        |SELECT r.event_type,
        |  round(CAST(sum(lr * w) AS DOUBLE)
        |    / CAST(any_value(ta) * any_value(tb) AS DOUBLE), 9) AS psi,
        |  CAST(sum(oneside) AS BIGINT) AS n_oneside_bins
        |FROM r JOIN t ON t.event_type = r.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val dec30 = DecimalType(30, 6)
      val ev = t(spark, dir)("events")
      val mid = ev.agg(expr("(min(ts) + max(ts)) div 2").as("m"))
      val e = ev.crossJoin(mid)
        .select(col("event_type"),
          when(col("ts") < col("m"), 0).otherwise(1).as("half"),
          expr("CAST(round(value * 100) AS BIGINT) div 5000").as("band"))
      val c = e.groupBy("event_type", "band")
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("a"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("b"))
      val tt = c.groupBy("event_type")
        .agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      c.join(tt, Seq("event_type"))
        .select(col("event_type"), col("ta"), col("tb"),
          when(col("a") > 0 && col("b") > 0,
            round(log((col("a") * col("tb")).cast(DoubleType) /
              (col("b") * col("ta")).cast(DoubleType)), 6).cast(dec30))
            .as("lr"),
          (col("a") * col("tb") - col("b") * col("ta")).as("w"),
          when(col("a") === 0 || col("b") === 0, 1L).otherwise(0L)
            .as("oneside"))
        .groupBy("event_type")
        .agg(round(sum(col("lr") * col("w")).cast(DoubleType) /
            (first(col("ta")) * first(col("tb"))).cast(DoubleType), 9)
          .as("psi"),
          sum(col("oneside")).as("n_oneside_bins"))
        .orderBy("event_type")
    },

    // Gini coefficient of per-user purchase spend per event type —
    // concentration profiling (is 1% of users 90% of the volume? the
    // answer decides salting and broadcast choices downstream). The
    // closed form over ascending totals, G = (2Σi·xᵢ − (n+1)Σx)
    // / (n·Σx), is tie-order-invariant (swapping equal x's leaves
    // Σi·xᵢ unchanged), so the rank window needs no engine-identical
    // tiebreak; the numerator is exact integer arithmetic and the
    // one divide is shared. Two keyed aggregates + one rank window
    // over |users|·|types| rows — never the raw event table.
    "q_gini" -> QueryDef(
      "Gini concentration of per-user value totals per event type",
      """WITH x AS (SELECT event_type, user_id,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2 HAVING sum(round(value * 100)) > 0),
        |r AS (SELECT event_type, cents, CAST(row_number() OVER (
        |    PARTITION BY event_type ORDER BY cents, user_id) AS BIGINT) AS i
        |  FROM x)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round(CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents)
        |      AS DOUBLE)
        |    / CAST(count(*) * sum(cents) AS DOUBLE), 9) AS gini
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val x = t(spark, dir)("events")
        .groupBy("event_type", "user_id")
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        .where(col("cents") > 0)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("user_id"))
      x.withColumn("i", row_number().over(w).cast(LongType))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents")).as("total_cents"),
          round((lit(2) * sum(col("i") * col("cents")) -
              (count(lit(1)) + 1) * sum(col("cents"))).cast(DoubleType) /
            (count(lit(1)) * sum(col("cents"))).cast(DoubleType), 9)
            .as("gini"))
        .orderBy("event_type")
    },

    // Sequential-pattern support — the PrefixSpan counting primitive:
    // for every ordered pair of event types, how many users ever do A
    // strictly before B? "∃ a before b" collapses to min(ts_A) <
    // max(ts_B), so the whole mining runs on the |users|·|types|
    // summary table (one aggregate over the corpus), and the pair
    // enumeration is a per-user self-equijoin of that bounded summary
    // — never an event-level pair scan. Support in ppm by integer
    // division on both engines.
    "q_seq_support" -> QueryDef(
      "ordered-pair sequence support: users doing type A before type B",
      """WITH s AS (SELECT user_id, event_type, min(epoch_ns(ts)) AS mn,
        |    max(epoch_ns(ts)) AS mx FROM events GROUP BY 1, 2),
        |u AS (SELECT count(DISTINCT user_id) AS nu FROM events),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_users
        |  FROM s a JOIN s b ON a.user_id = b.user_id
        |    AND a.event_type <> b.event_type AND a.mn < b.mx
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(n_users AS BIGINT) AS n_users,
        |  CAST(n_users * 1000000 // nu AS BIGINT) AS support_ppm
        |FROM p CROSS JOIN u ORDER BY type_a, type_b""".stripMargin) {
      (spark, dir) =>
      val ev = t(spark, dir)("events")
      val s = ev.groupBy("user_id", "event_type")
        .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      val u = ev.agg(countDistinct(col("user_id")).as("nu"))
      val a = s.select(col("user_id"), col("event_type").as("type_a"),
        col("mn"))
      val b = s.select(col("user_id"), col("event_type").as("type_b"),
        col("mx"))
      a.join(b, Seq("user_id"))
        .where(col("type_a") =!= col("type_b") && col("mn") < col("mx"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_users"))
        .crossJoin(u)
        .select(col("type_a"), col("type_b"), col("n_users"),
          expr("n_users * 1000000 div nu").as("support_ppm"))
        .orderBy("type_a", "type_b")
    },

    // Rolling OLS slope — q_trend's windowed sibling: the slope over
    // each user's trailing 8 observations, emitted per event. All five
    // moments are frame sums over globally-rebased integer seconds
    // (the shift leaves the slope invariant and keeps Σt'² in-long;
    // the un-rebased Σt² would overflow), the determinant test and
    // numerator are exact, and the one divide per row is shared.
    // Frame = ROWS 7 PRECEDING..CURRENT, order pinned by (ts,
    // event_id); only full frames emit.
    "q_rolling_trend" -> QueryDef(
      "per-event rolling OLS slope over the user's trailing 8 events",
      """WITH t0 AS (SELECT min(epoch_ns(ts)) // 1000000000 AS g FROM events),
        |e AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 - t0.g AS t,
        |    CAST(round(value * 1000) AS BIGINT) AS vm,
        |    epoch_ns(ts) AS tn
        |  FROM events CROSS JOIN t0),
        |f AS (SELECT user_id, event_id,
        |    count(*) OVER w AS n, sum(t) OVER w AS st,
        |    sum(vm) OVER w AS sv, sum(t * vm) OVER w AS stv,
        |    sum(t * t) OVER w AS stt
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_id
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id,
        |  round(CAST(n * stv - st * sv AS DOUBLE)
        |    / CAST(n * stt - st * st AS DOUBLE), 9) AS slope
        |FROM f WHERE n = 8 AND n * stt - st * st <> 0
        |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
      val ev = t(spark, dir)("events")
      val t0 = ev.agg(expr("min(ts) div 1000000000").as("g"))
      val e = ev.crossJoin(t0)
        .select(col("user_id"), col("event_id"),
          (expr("ts div 1000000000") - col("g")).as("t"),
          expr("CAST(round(value * 1000) AS BIGINT)").as("vm"),
          col("ts").as("tn"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tn"), col("event_id"))
        .rowsBetween(-7, Window.currentRow)
      val f = e
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("st", sum(col("t")).over(w))
        .withColumn("sv", sum(col("vm")).over(w))
        .withColumn("stv", sum(col("t") * col("vm")).over(w))
        .withColumn("stt", sum(col("t") * col("t")).over(w))
      val den = col("n") * col("stt") - col("st") * col("st")
      f.where(col("n") === 8 && den =!= 0)
        .select(col("user_id"), col("event_id"),
          round((col("n") * col("stv") - col("st") * col("sv"))
            .cast(DoubleType) / den.cast(DoubleType), 9).as("slope"))
        .orderBy("user_id", "event_id")
    },

    // Range join — events per user in the 5 minutes after each event.
    // The naive inequality join degrades to broadcast-nested-loop in
    // Spark; Temporal.rangeCount buckets time so it's a keyed
    // equijoin (each row probes exactly two buckets). The DuckDB
    // oracle states the same query as a plain inequality join.
    "q_range_join" -> QueryDef(
      "range join: same-user events within the next 5 minutes",
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tn FROM events)
        |SELECT a.event_id, CAST(count(b.tn) AS BIGINT) AS n_next_5min
        |FROM e a LEFT JOIN e b
        |  ON a.user_id = b.user_id AND b.tn > a.tn
        |     AND b.tn <= a.tn + 300000000000
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin) { (spark, dir) =>
      Temporal.rangeCount(
          t(spark, dir)("events"), Seq("user_id"), "ts", "event_id",
          300L * 1000000000L, "n_next_5min")
        .orderBy("event_id")
    },

    // Distinct-count aggregation surface.
    "q_distinct" -> QueryDef(
      "exact distinct counts and extremes per event type",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
      t(spark, dir)("events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy("event_type")
    },

    // Per-user event funnel: the first five event types in time order,
    // rendered as a path string — the sequence-mining readout. One
    // keyed aggregation; the per-user sort is bounded by the user's
    // event count and runs inside the aggregate, not as a global sort.
    // Deterministic: (ts, event_id) is a total order.
    // Pareto concentration headline — "what share of revenue do the
    // top-decile users carry?": the 80/20 number beside q_gini's
    // full curve statistic. The decile cut is a percentile (parity
    // recipe); shares are integer ppm of exact cents. Two keyed
    // aggregates + a 1-row broadcast — the user table never sorts
    // globally.
    "q_pareto_share" -> QueryDef(
      "revenue share of the top-decile users (Pareto check, exact cents)",
      """WITH u AS (SELECT user_id,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |c AS (SELECT round(quantile_cont(m, 0.9), 6) AS p90 FROM u)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN m > p90 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_top,
        |  CAST(sum(m) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN m > p90 THEN m ELSE 0 END) AS BIGINT)
        |    AS top_cents,
        |  CAST(sum(CASE WHEN m > p90 THEN m ELSE 0 END) * 1000000
        |    // sum(m) AS BIGINT) AS top_share_ppm
        |FROM u CROSS JOIN c""".stripMargin) { (spark, dir) =>
      val u = t(spark, dir)("events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("m"))
      val c = u.agg(round(expr("percentile(m, 0.9)"), 6).as("p90"))
      u.crossJoin(broadcast(c))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("m") > col("p90"), 1L).otherwise(0L)).as("n_top"),
          sum(col("m")).as("total_cents"),
          sum(when(col("m") > col("p90"), col("m")).otherwise(0L))
            .as("top_cents"),
          expr("sum(CASE WHEN m > p90 THEN m ELSE 0 END) * 1000000 " +
            "div sum(m)").as("top_share_ppm"))
    },

    // Trailing-window revenue anomaly days — the batch twin of
    // q_stream_anomaly's streaming z-score: daily exact-cents
    // revenue, trailing-7-day mean and variance from integer frame
    // moments (dev² · n² cross-multiplied so nothing divides until
    // the final shared comparison), flag days where
    // (x−μ)² > k²·σ² — stated entirely in integers: n·(n·x−S)² >
    // k²·(n·Σv²−S²) with k = 2. The day table is tiny at any SF, but
    // the moment discipline is the same one the corpus-scale ops
    // use.
    "q_revenue_anomaly" -> QueryDef(
      "anomalous revenue days: trailing-7 integer z-test (k=2)",
      """WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
        |      sum(CAST(round(value * 100) AS BIGINT)) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (SELECT day, v,
        |    count(*) OVER tw AS n, sum(v) OVER tw AS s,
        |    sum(v * v) OVER tw AS s2
        |  FROM d WINDOW tw AS (ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, CAST(v AS BIGINT) AS revenue_cents,
        |  CAST(n AS BIGINT) AS n_window
        |FROM w
        |WHERE n = 7
        |  AND n * (n * v - s) * (n * v - s) > 4 * n * (n * s2 - s * s)
        |ORDER BY day""".stripMargin) { (spark, dir) =>
      val d = t(spark, dir)("events")
        .where(col("event_type") === "purchase")
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("v"))
      // moments in DECIMAL(38,0): daily cents squared exceed a long
      // well before 100 TB (DuckDB's sum widens to HUGEINT on its own)
      val dec = DecimalType(38, 0)
      val tw = Window.orderBy(col("day")).rowsBetween(-7, -1)
      val w = d
        .withColumn("n", count(lit(1)).over(tw).cast(dec))
        .withColumn("s", sum(col("v").cast(dec)).over(tw))
        .withColumn("s2", sum(col("v").cast(dec) * col("v")).over(tw))
      val dev = col("n") * col("v") - col("s")
      w.where(col("n") === 7 &&
          col("n") * dev * dev >
            lit(4).cast(dec) * col("n") *
              (col("n") * col("s2") - col("s") * col("s")))
        .select(col("day"), col("v").as("revenue_cents"),
          col("n").cast(LongType).as("n_window"))
        .orderBy("day")
    },

    // RFM segmentation — the classic customer-value cube: per-user
    // Recency (µs since last activity vs the corpus max), Frequency
    // (purchase count), Monetary (exact cents), each cut into
    // terciles at global percentile boundaries (the established
    // percentile/quantile_cont parity recipe, rounded 6 so both
    // engines band with identical cut doubles), then one aggregate
    // over the ≤27 segments. Two corpus-shaped aggregates total; the
    // 1-row cut table cross-joins back.
    "q_rfm" -> QueryDef(
      "RFM tercile segmentation: users and revenue per (r,f,m) segment",
      """WITH u AS (SELECT user_id,
        |    max(epoch_ns(ts) // 1000) AS last_us,
        |    count(*) FILTER (WHERE event_type = 'purchase') AS f,
        |    coalesce(sum(CAST(round(value * 100) AS BIGINT))
        |      FILTER (WHERE event_type = 'purchase'), 0) AS m
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(last_us) AS mu FROM u),
        |r AS (SELECT user_id, mx.mu - last_us AS rec, f, m
        |      FROM u CROSS JOIN mx),
        |c AS (SELECT round(quantile_cont(rec, 0.3333), 6) AS r33,
        |    round(quantile_cont(rec, 0.6667), 6) AS r66,
        |    round(quantile_cont(f, 0.3333), 6) AS f33,
        |    round(quantile_cont(f, 0.6667), 6) AS f66,
        |    round(quantile_cont(m, 0.3333), 6) AS m33,
        |    round(quantile_cont(m, 0.6667), 6) AS m66 FROM r),
        |s AS (SELECT
        |    CASE WHEN rec <= r33 THEN 0 WHEN rec <= r66 THEN 1 ELSE 2 END AS r_band,
        |    CASE WHEN f <= f33 THEN 0 WHEN f <= f66 THEN 1 ELSE 2 END AS f_band,
        |    CASE WHEN m <= m33 THEN 0 WHEN m <= m66 THEN 1 ELSE 2 END AS m_band,
        |    m FROM r CROSS JOIN c)
        |SELECT CAST(r_band AS BIGINT) AS r_band,
        |  CAST(f_band AS BIGINT) AS f_band,
        |  CAST(m_band AS BIGINT) AS m_band,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(m) AS BIGINT) AS revenue_cents
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
      (spark, dir) =>
      val u = t(spark, dir)("events")
        .groupBy("user_id")
        .agg(max(expr("ts div 1000")).as("last_us"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("f"),
          coalesce(sum(when(col("event_type") === "purchase",
            expr("CAST(round(value * 100) AS BIGINT)"))), lit(0L)).as("m"))
      val mx = u.agg(max(col("last_us")).as("mu"))
      val r = u.crossJoin(mx)
        .select(col("user_id"), (col("mu") - col("last_us")).as("rec"),
          col("f"), col("m"))
      val c = r.agg(
        round(expr("percentile(rec, 0.3333)"), 6).as("r33"),
        round(expr("percentile(rec, 0.6667)"), 6).as("r66"),
        round(expr("percentile(f, 0.3333)"), 6).as("f33"),
        round(expr("percentile(f, 0.6667)"), 6).as("f66"),
        round(expr("percentile(m, 0.3333)"), 6).as("m33"),
        round(expr("percentile(m, 0.6667)"), 6).as("m66"))
      r.crossJoin(broadcast(c))
        .select(
          when(col("rec") <= col("r33"), 0L)
            .when(col("rec") <= col("r66"), 1L).otherwise(2L).as("r_band"),
          when(col("f") <= col("f33"), 0L)
            .when(col("f") <= col("f66"), 1L).otherwise(2L).as("f_band"),
          when(col("m") <= col("m33"), 0L)
            .when(col("m") <= col("m66"), 1L).otherwise(2L).as("m_band"),
          col("m"))
        .groupBy("r_band", "f_band", "m_band")
        .agg(count(lit(1)).as("n_users"), sum(col("m")).as("revenue_cents"))
        .orderBy("r_band", "f_band", "m_band")
    },

    // Association rules over session baskets — market-basket mining
    // on the event stream: each 30-min session is a basket of the
    // DISTINCT event types it contains; every type pair gets exact
    // support and lift (both as integer ppm — lift's divide is
    // integer division of exact products, so no float ratio ever
    // forms). The pair enumeration self-joins the (basket, type)
    // table on the basket key — bounded by |types|² per basket,
    // never an event-level pair scan (the q_seq_support discipline,
    // unordered flavor).
    "q_basket_pairs" -> QueryDef(
      "session-basket association: support + lift ppm per event-type pair",
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type
        |      FROM events),
        |flag AS (SELECT user_id, us, event_type,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |           > 1800000000
        |         OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         THEN 1 ELSE 0 END AS new_session FROM e),
        |sess AS (SELECT user_id, event_type,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flag),
        |b AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
        |nb AS (SELECT count(DISTINCT (user_id, sid)) AS n FROM b),
        |it AS (SELECT event_type, count(*) AS nt FROM b GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, c.event_type AS type_b,
        |      count(*) AS nab
        |      FROM b a JOIN b c ON a.user_id = c.user_id AND a.sid = c.sid
        |        AND a.event_type < c.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(nab AS BIGINT) AS n_baskets,
        |  CAST(nab * 1000000 // nb.n AS BIGINT) AS support_ppm,
        |  CAST(nab * nb.n * 1000000 // (ia.nt * ib.nt) AS BIGINT)
        |    AS lift_ppm
        |FROM pr CROSS JOIN nb
        |JOIN it ia ON ia.event_type = pr.type_a
        |JOIN it ib ON ib.event_type = pr.type_b
        |ORDER BY type_a, type_b""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
        .select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_type"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val b = e
        .withColumn("__new", when(col("us") - lag(col("us"), 1).over(wU)
          > 1800000000L || lag(col("us"), 1).over(wU).isNull, 1L)
          .otherwise(0L))
        .withColumn("sid", sum(col("__new")).over(
          wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "sid", "event_type").distinct()
      val nb = b.select("user_id", "sid").distinct()
        .agg(count(lit(1)).as("n"))
      val it = b.groupBy("event_type").agg(count(lit(1)).as("nt"))
      val pr = b.select(col("user_id"), col("sid"),
          col("event_type").as("type_a"))
        .join(b.select(col("user_id"), col("sid"),
          col("event_type").as("type_b")), Seq("user_id", "sid"))
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("nab"))
      pr.crossJoin(broadcast(nb))
        .join(broadcast(it.select(col("event_type").as("type_a"),
          col("nt").as("na"))), Seq("type_a"))
        .join(broadcast(it.select(col("event_type").as("type_b"),
          col("nt").as("nbt"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("nab").as("n_baskets"),
          expr("nab * 1000000 div n").as("support_ppm"),
          expr("nab * n * 1000000 div (na * nbt)").as("lift_ppm"))
        .orderBy("type_a", "type_b")
    },

    // Peak concurrency per day — the sweep-line classic: sessions
    // become (+1 at start, −1 past end) boundary deltas, the GLOBAL
    // running sum of deltas is the live-session count, and the
    // per-day max is the capacity-planning number. The global
    // running sum is PrefixScan.runningSumRanged — boundary keys are
    // SPARSE timestamps, so the dense-div bucketing is wrong and the
    // range-partitioned variant is the scale path (the naive sweep
    // is a partition-less window over every boundary). Order key =
    // time·2 + side: ends sort before starts at an equal
    // microsecond, so back-to-back sessions never double-count, and
    // ties within a key are same-sign runs — the daily MAX is
    // tie-order-insensitive, which is the contract runningSumRanged
    // documents (the oracle picks its own tie order and lands on
    // the same maxima).
    "q_concurrency" -> QueryDef(
      "peak concurrent 30-min sessions per day (sweep line + ranged prefix scan)",
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
        |flag AS (SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |           > 1800000000
        |         OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         THEN 1 ELSE 0 END AS new_session FROM e),
        |sess AS (SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid, us
        |  FROM flag),
        |iv AS (SELECT user_id, sid, min(us) AS s, max(us) + 1 AS x
        |       FROM sess GROUP BY 1, 2),
        |b AS (SELECT s * 2 + 1 AS k, 1 AS delta, s AS t FROM iv
        |      UNION ALL
        |      SELECT x * 2 AS k, -1 AS delta, x AS t FROM iv),
        |c AS (SELECT t, sum(delta) OVER (ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM b)
        |SELECT t // 86400000000 AS day,
        |  CAST(max(conc) AS BIGINT) AS max_concurrent
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
        .select(col("user_id"), expr("ts div 1000").as("us"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val sess = e
        .withColumn("__new", when(col("us") - lag(col("us"), 1).over(wU)
          > 1800000000L || lag(col("us"), 1).over(wU).isNull, 1L)
          .otherwise(0L))
        .withColumn("sid", sum(col("__new")).over(
          wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min(col("us")).as("s"), (max(col("us")) + 1).as("x"))
      val b = sess.select((col("s") * 2 + 1).as("k"),
          lit(1L).as("delta"), col("s").as("t"))
        .unionByName(sess.select((col("x") * 2).as("k"),
          lit(-1L).as("delta"), col("x").as("t")))
      graft.operators.PrefixScan
        .runningSumRanged(b, "k", "delta", "conc",
          partitions = spark.sparkContext.defaultParallelism)
        .groupBy(expr("t div 86400000000").as("day"))
        .agg(max(col("conc")).as("max_concurrent"))
        .orderBy("day")
    },

    // Linear gap interpolation onto the hourly grid — q_resample's
    // second half: forward fill answers "latest known state", the
    // interpolation answers "best estimate of the level", and the
    // grid machinery is shared (backward + forward union-merge as-of
    // joins, output ∝ |users|·ticks). Arithmetic is exact integers
    // up to ONE shared double divide per tick (µs gaps × cents stay
    // under 2⁶³; an exact-hit tick short-circuits to the sample to
    // dodge the 0/0).
    "q_interpolate" -> QueryDef(
      "hourly grid linear interpolation between surrounding events",
      """WITH h AS (SELECT (epoch_ns(min(ts)) // 3600000000000)
        |      * 3600000000 AS h0us FROM events),
        |g AS (SELECT s AS slot, h0us + s * 3600000000 AS tn
        |      FROM h, unnest(range(0, 48)) AS r(s)),
        |u AS (SELECT DISTINCT user_id FROM events),
        |l AS (SELECT user_id, slot, tn FROM u CROSS JOIN g),
        |e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tn,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |bk AS (SELECT l.user_id, l.slot, l.tn, e.tn AS t0, e.c AS v0
        |       FROM l ASOF LEFT JOIN e
        |         ON l.user_id = e.user_id AND l.tn >= e.tn),
        |fw AS (SELECT bk.user_id, bk.slot, bk.tn, bk.t0, bk.v0,
        |       e.tn AS t1, e.c AS v1
        |       FROM bk ASOF LEFT JOIN e
        |         ON bk.user_id = e.user_id AND bk.tn <= e.tn)
        |SELECT user_id, CAST(slot AS BIGINT) AS slot,
        |  CASE WHEN t0 IS NULL OR t1 IS NULL THEN NULL
        |       WHEN t1 = t0 THEN CAST(v0 AS DOUBLE)
        |       ELSE round((v0 * (t1 - tn) + v1 * (tn - t0))
        |         / CAST(t1 - t0 AS DOUBLE), 6) END AS interp_cents
        |FROM fw ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
      val ev = t(spark, dir)("events")
      val hourUs = 3600L * 1000000L
      val grid = ev.agg(expr("(min(ts) div 3600000000000) * 3600000000")
          .as("h0us"))
        .select(explode(sequence(lit(0L), lit(47L))).as("slot"), col("h0us"))
        .select(col("slot"), (col("h0us") + col("slot") * hourUs).as("tn"))
      val left = ev.select(col("user_id")).distinct().crossJoin(grid)
      val right = ev.select(col("user_id"),
        expr("ts div 1000").as("tn"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val bk = Temporal.asofJoin(left,
          right.select(col("user_id"), col("tn"), col("tn").as("t0"),
            col("c").as("v0")),
          Seq("user_id"), "tn", Seq("t0", "v0"))
      val fw = Temporal.asofJoin(bk,
          right.select(col("user_id"), col("tn"), col("tn").as("t1"),
            col("c").as("v1")),
          Seq("user_id"), "tn", Seq("t1", "v1"), direction = "forward")
      fw.select(col("user_id"), col("slot"),
          when(col("t0").isNull || col("t1").isNull, lit(null))
            .when(col("t1") === col("t0"), col("v0").cast(DoubleType))
            .otherwise(round((col("v0") * (col("t1") - col("tn")) +
              col("v1") * (col("tn") - col("t0"))) /
              (col("t1") - col("t0")).cast(DoubleType), 6))
            .as("interp_cents"))
        .orderBy("user_id", "slot")
    },

    // Offset-continuity audit (Checks.offsetGaps scaladoc): the "did
    // the changelog lose records?" screen — every maximal missing-id
    // run in the surviving stream (a value filter stands in for real
    // loss on this synthetic feed), largest gaps first. Interior
    // gaps come from per-bucket keyed windows, boundary gaps from
    // the |buckets|-row summary — the global-order lag the oracle
    // states never runs over the data table.
    "q_offset_gaps" -> QueryDef(
      "changelog offset-gap audit: 10 largest missing-id runs",
      """WITH e AS (SELECT event_id FROM events WHERE value >= 1),
        |g AS (SELECT lag(event_id) OVER (ORDER BY event_id) AS p,
        |      event_id FROM e)
        |SELECT CAST(p + 1 AS BIGINT) AS gap_start,
        |  CAST(event_id AS BIGINT) AS next_present,
        |  CAST(event_id - p - 1 AS BIGINT) AS n_missing
        |FROM g WHERE p IS NOT NULL AND event_id > p + 1
        |ORDER BY n_missing DESC, gap_start LIMIT 10""".stripMargin) {
      (spark, dir) =>
      graft.operators.Checks.offsetGaps(
          t(spark, dir)("events").where(col("value") >= 1),
          "event_id", bucketWidth = 4096L)
        .orderBy(col("n_missing").desc, col("gap_start")).limit(10)
    },

    // Rolling 7-day active users — the WAU staple beside
    // q_user_growth's DAU: |distinct users active in [d−6, d]| per
    // day. A sliding DISTINCT cannot ride a window frame (distinct
    // doesn't decompose), so the exact scale shape is: reduce to the
    // (user, day) grain first (one corpus aggregate), then each
    // user-day votes into the ≤7 window-end days it can influence
    // (a 7× explode of the REDUCED table, never the corpus) and a
    // second exact two-stage distinct per window-end day.
    "q_rolling_active" -> QueryDef(
      "DAU and rolling 7-day WAU per day (exact sliding distinct)",
      """WITH ud AS (SELECT DISTINCT user_id,
        |      epoch_ns(ts) // 86400000000000 AS day FROM events),
        |lim AS (SELECT min(day) AS dmin, max(day) AS dmax FROM ud),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |w AS (SELECT ud.user_id, ud.day + s AS wday
        |      FROM ud, unnest(range(0, 7)) AS r(s)),
        |wau AS (SELECT wday AS day, count(DISTINCT user_id) AS wau7
        |        FROM w CROSS JOIN lim
        |        WHERE wday <= lim.dmax GROUP BY 1)
        |SELECT wau.day, CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau,
        |  CAST(wau.wau7 AS BIGINT) AS wau7
        |FROM wau LEFT JOIN dau ON dau.day = wau.day
        |ORDER BY wau.day""".stripMargin) { (spark, dir) =>
      val ud = t(spark, dir)("events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .distinct()
      val lim = ud.agg(max(col("day")).as("dmax"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .crossJoin(lim)
        .where(col("wday") <= col("dmax"))
        .groupBy(col("wday").as("day"))
        .agg(countDistinct(col("user_id")).as("wau7"))
      wau.join(dau, Seq("day"), "left")
        .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
          col("wau7"))
        .orderBy("day")
    },

    // New / returning / cumulative user growth per day — the
    // top-of-dashboard activation curve. Each user's first-seen day
    // is ONE keyed aggregate; dailies are exact two-stage distinct
    // counts; the cumulative sum runs over the DAY table (30 rows at
    // any corpus size — day-cardinality, so the partition-less
    // window is not a scale trap here, unlike q_lateness's
    // row-cardinality scan which uses PrefixScan).
    "q_user_growth" -> QueryDef(
      "daily new/active/returning users and the cumulative growth curve",
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
        |      FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM e GROUP BY 1),
        |nu AS (SELECT d0 AS day, count(*) AS new_users FROM f GROUP BY 1),
        |au AS (SELECT day, count(DISTINCT user_id) AS active_users
        |       FROM e GROUP BY 1),
        |lim AS (SELECT min(day) AS dmin, max(day) AS dmax FROM e),
        |grid AS (SELECT dmin + s AS day FROM lim,
        |         unnest(range(0, CAST(dmax - dmin + 1 AS BIGINT))) AS r(s)),
        |g AS (SELECT grid.day, coalesce(nu.new_users, 0) AS new_users,
        |      coalesce(au.active_users, 0) AS active_users
        |      FROM grid LEFT JOIN nu ON nu.day = grid.day
        |      LEFT JOIN au ON au.day = grid.day)
        |SELECT day, CAST(new_users AS BIGINT) AS new_users,
        |  CAST(active_users AS BIGINT) AS active_users,
        |  CAST(active_users - new_users AS BIGINT) AS returning_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM g ORDER BY day""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val f = e.groupBy("user_id").agg(min(col("day")).as("d0"))
      val nu = f.groupBy(col("d0").as("day"))
        .agg(count(lit(1)).as("new_users"))
      val au = e.groupBy("day")
        .agg(countDistinct(col("user_id")).as("active_users"))
      val grid = e.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
        .select(explode(sequence(col("dmin"), col("dmax"))).as("day"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(nu, Seq("day"), "left").join(au, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("new_users"), lit(0L)).as("new_users"),
          coalesce(col("active_users"), lit(0L)).as("active_users"))
        .withColumn("returning_users", col("active_users") - col("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .orderBy("day")
    },

    // Event-time lateness audit — how out-of-order does the feed get
    // when per-user shards merge round-robin (the Kafka many-
    // partitions-one-consumer shape; the raw event_id order is
    // perfectly sorted in this synthetic feed, so the audit would be
    // all-zero there)? Arrival = k-th event of each user in user
    // order within round k; lateness = (inclusive running max of
    // event time in that arrival order) − event time — i.e. the
    // watermark delay a streaming job would need. The running max is
    // the PrefixScan two-level scan: the naive Window.orderBy(arr)
    // is a single task holding the whole log at 100 TB; here the
    // only partition-less window runs over the |buckets| partials
    // and each round's scan runs parallel (PrefixScanSpec proves
    // row-for-row equality with the naive window, which is exactly
    // what the DuckDB oracle states).
    "q_lateness" -> QueryDef(
      "round-robin-merge lateness histogram (minutes behind the running watermark)",
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |      FROM events),
        |a AS (SELECT us, CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS BIGINT) * 1000000 + user_id AS arr
        |  FROM e),
        |w AS (SELECT us, max(us) OVER (ORDER BY arr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
        |  FROM a)
        |SELECT (wm - us) // 60000000 AS late_min,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(wm - us) AS BIGINT) AS max_late_us
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      // Pack (per-user rank, user_id) into one lex-faithful long for
      // PrefixScan's unique non-negative orderCol. A shift of 33 bits
      // holds user_id < 2³³ and rank < 2³⁰ (a billion events per user)
      // before overflow; the oracle's `rn * 1e6 + user_id` packing is
      // order-EQUIVALENT whenever its user_ids stay below 1e6 (true of
      // every test SF) — both reduce to lexicographic (rank, user_id),
      // which is all the running-max downstream consumes. Both bounds
      // are ENFORCED, not assumed: a rank ≥ 2³⁰ or user_id ≥ 2³³ wraps
      // the Long sign and silently corrupts the prefix-scan order, so
      // the packing raises instead of wrapping.
      val rn = row_number().over(w).cast(LongType)
      val a = t(spark, dir)("events")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
        .withColumn("arr",
          when(rn >= (1L << 30) || col("user_id") >= (1L << 33) ||
               col("user_id") < 0L,
            raise_error(concat(lit("q_lateness rank/user_id outside packing" +
              " bound (rank<2^30, 0<=user_id<2^33): rank="), rn,
              lit(" user_id="), col("user_id"))))
          .otherwise(shiftleft(rn, 33) + col("user_id")))
        .select(col("arr"), col("us"))
      graft.operators.PrefixScan
        .runningMax(a, "arr", "us", "wm", bucketWidth = 1L << 33)
        .select(expr("(wm - us) div 60000000").as("late_min"),
          (col("wm") - col("us")).as("late_us"))
        .groupBy("late_min")
        .agg(count(lit(1)).as("n"), max(col("late_us")).as("max_late_us"))
        .orderBy("late_min")
    },

    // Two-proportion A/B z-test — the experiment-analysis primitive:
    // cohorts by user-id parity, conversion = "14+ purchases" (the
    // corpus median — "ever purchased" saturates to 100% on this
    // synthetic feed and the pooled variance degenerates to 0/0),
    // and the pooled z-statistic computed from FOUR integers (nA,
    // xA, nB, xB), so both engines execute the identical double
    // arithmetic on identical inputs. One keyed aggregate to the
    // per-user table, one 4-integer reduce — nothing else touches
    // the corpus.
    "q_ab_test" -> QueryDef(
      "two-proportion z-test: heavy-purchaser conversion, cohorts by user parity",
      """WITH u AS (SELECT user_id, user_id % 2 AS cohort,
        |    CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') >= 14
        |      THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT
        |    sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN cohort = 0 THEN conv ELSE 0 END) AS x_a,
        |    sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS n_b,
        |    sum(CASE WHEN cohort = 1 THEN conv ELSE 0 END) AS x_b
        |  FROM u)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
        |  round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
        |    / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0 / n_a + 1.0 / n_b)), 6) AS z
        |FROM s""".stripMargin) { (spark, dir) =>
      val u = t(spark, dir)("events")
        .groupBy(col("user_id"), (col("user_id") % 2).as("cohort"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 14, 1L).otherwise(0L).as("conv"))
      val s = u.agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 0, col("conv")).otherwise(0L)).as("x_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("cohort") === 1, col("conv")).otherwise(0L)).as("x_b"))
      val pa = col("x_a").cast(DoubleType) / col("n_a")
      val pb = col("x_b").cast(DoubleType) / col("n_b")
      val pp = (col("x_a") + col("x_b")).cast(DoubleType) /
        (col("n_a") + col("n_b"))
      s.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        round((pa - pb) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6).as("z"))
    },

    // Stationary distribution of the event-type Markov chain — where
    // does user behavior settle? Power iteration over q_transitions'
    // count matrix in PageRank's integer discipline (ppt-scaled
    // longs, divide-per-source-state BEFORE the edge multiply, mass
    // truncation deterministic), so three unrolled rounds replay
    // bit-identically in SQL at any partition layout. Each round is
    // one co-partitioned join + one keyed aggregate over the |types|²
    // matrix — the machinery is the same at a million-state chain.
    "q_markov_stationary" -> QueryDef(
      "Markov stationary distribution: 3 integer power-iteration rounds",
      """WITH s AS (SELECT user_id, event_type AS to_state,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts), event_id) AS from_state FROM events),
        |c AS (SELECT from_state, to_state, count(*) AS cnt FROM s
        |      WHERE from_state IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_state, sum(cnt) AS t FROM c GROUP BY 1),
        |st AS (SELECT DISTINCT from_state AS state FROM c),
        |ns AS (SELECT count(*) AS k FROM st),
        |p0 AS (SELECT state, 1000000000000 // ns.k AS p FROM st CROSS JOIN ns),
        |p1 AS (SELECT c.to_state AS state, sum((p0.p // tot.t) * c.cnt) AS p
        |       FROM p0 JOIN c ON c.from_state = p0.state
        |       JOIN tot ON tot.from_state = p0.state GROUP BY 1),
        |p1s AS (SELECT p1.state, p1.p FROM p1 JOIN st USING (state)),
        |p2 AS (SELECT c.to_state AS state, sum((p1s.p // tot.t) * c.cnt) AS p
        |       FROM p1s JOIN c ON c.from_state = p1s.state
        |       JOIN tot ON tot.from_state = p1s.state GROUP BY 1),
        |p2s AS (SELECT p2.state, p2.p FROM p2 JOIN st USING (state)),
        |p3 AS (SELECT c.to_state AS state, sum((p2s.p // tot.t) * c.cnt) AS p
        |       FROM p2s JOIN c ON c.from_state = p2s.state
        |       JOIN tot ON tot.from_state = p2s.state GROUP BY 1),
        |p3s AS (SELECT p3.state, p3.p FROM p3 JOIN st USING (state))
        |SELECT state, CAST(p AS BIGINT) AS p_ppt FROM p3s
        |ORDER BY state""".stripMargin) { (spark, dir) =>
      // Checkpoint the count matrix: it is |types|² rows, but WITHOUT
      // the checkpoint every reference below (m, states, k, and each
      // unrolled iteration's semi-join) re-plans and re-runs the
      // corpus-wide lag window behind Temporal.transitions — the
      // before-plan had 156 Exchanges / 40 joins, all multiplying one
      // tiny matrix derivation (guide §2.4; plan pinned in
      // plans/r16/q_markov_stationary_*.txt).
      val trans = Temporal.transitions(t(spark, dir)("events"),
          "user_id", "ts", "event_id", "event_type")
        .select(col("from_state"), col("to_state"), col("cnt"))
      val transCp = trans.localCheckpoint()
      val tot = transCp.groupBy("from_state").agg(sum(col("cnt")).as("t"))
      val m = transCp.join(tot, Seq("from_state"))
      val states = transCp.select(col("from_state").as("state")).distinct()
      val k = states.agg(count(lit(1)).as("k"))
      var pi = states.crossJoin(k)
        .select(col("state"), expr("1000000000000L div k").as("p"))
      for (_ <- 1 to 3) {
        pi = pi
          .join(m, pi("state") === m("from_state"))
          .groupBy(col("to_state").as("state2"))
          .agg(sum(expr("(p div t)") * col("cnt")).as("p"))
          .withColumnRenamed("state2", "state")
          .join(states, Seq("state"), "left_semi")
      }
      pi.select(col("state"), col("p").as("p_ppt")).orderBy("state")
    },

    // Time-to-convert distribution: for users completing the strict
    // view→click→purchase ladder (q_stream_funnel's stage rules),
    // exact quantiles of the end-to-end latency. The ladder reduces
    // to three keyed min-aggregates chained by strictly-after joins
    // (each table is ≤ |users| rows), and the quantile parity is the
    // q_quantiles percentile/quantile_cont recipe.
    "q_time_to_convert" -> QueryDef(
      "view→purchase conversion latency quantiles across converting users",
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type
        |      FROM events),
        |v AS (SELECT user_id, min(us) AS v_us FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us > v_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us > c_us GROUP BY 1),
        |d AS (SELECT p.p_us - v.v_us AS dt FROM p JOIN v USING (user_id))
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(dt, 0.25), 6) AS p25_us,
        |  round(quantile_cont(dt, 0.50), 6) AS p50_us,
        |  round(quantile_cont(dt, 0.75), 6) AS p75_us,
        |  round(quantile_cont(dt, 0.95), 6) AS p95_us
        |FROM d""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
        .select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_type"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("v_us"))
      val c = e.where(col("event_type") === "click")
        .join(v, Seq("user_id")).where(col("us") > col("v_us"))
        .groupBy("user_id").agg(min(col("us")).as("c_us"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, Seq("user_id")).where(col("us") > col("c_us"))
        .groupBy("user_id").agg(min(col("us")).as("p_us"))
      p.join(v, Seq("user_id"))
        .select((col("p_us") - col("v_us")).as("dt"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(dt, 0.25)"), 6).as("p25_us"),
          round(expr("percentile(dt, 0.50)"), 6).as("p50_us"),
          round(expr("percentile(dt, 0.75)"), 6).as("p75_us"),
          round(expr("percentile(dt, 0.95)"), 6).as("p95_us"))
    },

    // Windowed funnel attribution — the 72-hour-conversion-window
    // variant every product-analytics suite ships: each purchase
    // walks BACK through its latest preceding click, then that
    // click's latest preceding view (two chained union-merge as-of
    // joins — never an inequality join), and converts iff the whole
    // chain fits the window. The greedy latest-preceding chain is the
    // deterministic industry definition (and what two nested ASOF
    // joins state exactly), not an ∃-path search. Clickless purchases
    // bypass the second hop explicitly: DuckDB's ASOF matches a NULL
    // probe time against the key's LAST right row (observed 1.0.0
    // behavior), so a NULL-carrying chain would diverge.
    "q_funnel_window" -> QueryDef(
      "72h windowed funnel: purchase ← latest click ← latest view chain",
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |      event_type FROM events),
        |pq AS (SELECT user_id, event_id AS purchase_id, us AS tq FROM e
        |       WHERE event_type = 'purchase'),
        |cq AS (SELECT DISTINCT user_id, us AS tq FROM e
        |       WHERE event_type = 'click'),
        |vq AS (SELECT DISTINCT user_id, us AS tq FROM e
        |       WHERE event_type = 'view'),
        |pc AS (SELECT pq.user_id, pq.purchase_id, pq.tq AS p_us,
        |       cq.tq AS c_us
        |       FROM pq ASOF LEFT JOIN cq
        |         ON pq.user_id = cq.user_id AND pq.tq >= cq.tq),
        |pcv AS (SELECT pc.user_id, pc.purchase_id, pc.p_us, pc.c_us,
        |       vq.tq AS v_us
        |       FROM (SELECT * FROM pc WHERE c_us IS NOT NULL) pc
        |       ASOF LEFT JOIN vq
        |         ON pc.user_id = vq.user_id AND pc.c_us >= vq.tq
        |       UNION ALL
        |       SELECT user_id, purchase_id, p_us, c_us, NULL AS v_us
        |       FROM pc WHERE c_us IS NULL)
        |SELECT purchase_id, user_id, p_us, c_us, v_us,
        |  CAST(CASE WHEN v_us IS NOT NULL
        |    AND p_us - v_us <= 259200000000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS converted
        |FROM pcv ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
      val e = t(spark, dir)("events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("us"), col("event_type"))
      val pq = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("tq"))
      val cq = e.where(col("event_type") === "click")
        .select(col("user_id"), col("us").as("tq")).distinct()
      val vq = e.where(col("event_type") === "view")
        .select(col("user_id"), col("us").as("tq")).distinct()
      val pc = Temporal.asofJoin(
          pq, cq.withColumn("c_us", col("tq")), Seq("user_id"), "tq",
          Seq("c_us"))
        .select(col("user_id"), col("purchase_id"),
          col("tq").as("p_us"), col("c_us"))
      val pcv = Temporal.asofJoin(
          pc.where(col("c_us").isNotNull).withColumn("tq", col("c_us")),
          vq.withColumn("v_us", col("tq")), Seq("user_id"), "tq",
          Seq("v_us"))
        .select(col("purchase_id"), col("user_id"), col("p_us"),
          col("c_us"), col("v_us"))
        .unionByName(pc.where(col("c_us").isNull)
          .select(col("purchase_id"), col("user_id"), col("p_us"),
            col("c_us"), lit(null).cast(LongType).as("v_us")))
      pcv.withColumn("converted",
          when(col("v_us").isNotNull &&
            col("p_us") - col("v_us") <= 259200000000L, 1L).otherwise(0L))
        .orderBy("purchase_id")
    },

    // Top behavior paths — the Sankey/flow-diagram feed: the 20 most
    // frequent 3-step event-type sequences across users. One keyed
    // window provides both lookaheads in a single sort (Catalyst
    // plans lead(1) and lead(2) in one Window node), the count is
    // map-side combined on the ≤ |types|³ path key space, and the
    // final slice is a TakeOrdered — no global sort.
    "q_path_trigrams" -> QueryDef(
      "top-20 three-step event-type paths (behavior flow mining)",
      """WITH s AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
        |SELECT t1 || '>' || t2 || '>' || t3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin) {
      (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(spark, dir)("events")
        .select(col("event_type").as("t1"),
          lead(col("event_type"), 1).over(w).as("t2"),
          lead(col("event_type"), 2).over(w).as("t3"))
        .where(col("t2").isNotNull && col("t3").isNotNull)
        .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)
    },

    "q_funnel" -> QueryDef(
      "first-5 event-type funnel path per user",
      """SELECT user_id,
        |  array_to_string(
        |    list_slice(list(event_type ORDER BY epoch_ns(ts), event_id), 1, 5),
        |    '>') AS path,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val steps = sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type"))))
      t(spark, dir)("events")
        .groupBy(col("user_id"))
        .agg(steps.as("__s"), count(lit(1)).as("n_events"))
        .select(col("user_id"),
          concat_ws(">",
            slice(col("__s"), 1, 5).getField("event_type")).as("path"),
          col("n_events"))
        .orderBy("user_id")
    },

    // Semi-structured payload extraction: JSON path → typed column,
    // aggregated. The extraction is a pure codegen projection
    // (get_json_object), so at scale it rides the scan with zero extra
    // shuffle — the reference's jackson-payload parsing re-expressed
    // declaratively.
    "q_json_props" -> QueryDef(
      "JSON payload field extraction + per-type aggregation",
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      t(spark, dir)("events")
        .groupBy(col("event_type"))
        .agg(sum(k).as("k_sum"), max(k).as("k_max"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Time-series similarity search over the event stream: each user's
    // hourly activity profile (24-dim exact-decimal sums) becomes a
    // vector, and similar users rank through the SAME map-side top-k
    // cosine machinery as the embedding ANN queries — the profile
    // aggregation is one keyed shuffle, the search never cross-joins
    // (probe side broadcasts, per-partition top-k partials). The
    // stream → profile → vector-search composition is the distributed
    // time-series-similarity shape (cf. EDBT'19 streaming TS search).
    "q_ts_profile" -> QueryDef(
      "similar users by cosine of hourly event-activity profiles",
      """WITH e AS (SELECT user_id, (epoch_ns(ts) // 3600000000000) % 24 AS h,
        |             CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |s AS (SELECT user_id, h, CAST(sum(v) AS DOUBLE) AS sv FROM e GROUP BY 1, 2),
        |u AS (SELECT DISTINCT user_id FROM e),
        |grid AS (SELECT u.user_id, g.h FROM u, unnest(range(0, 24)) AS g(h)),
        |prof AS (SELECT grid.user_id, list(coalesce(s.sv, 0) ORDER BY grid.h) AS vec
        |         FROM grid LEFT JOIN s ON grid.user_id = s.user_id AND grid.h = s.h
        |         GROUP BY grid.user_id),
        |sc AS (SELECT p.user_id AS qid, c.user_id AS nid,
        |         round(list_cosine_similarity(p.vec, c.vec), 6) AS cos
        |       FROM prof p JOIN prof c ON p.user_id <> c.user_id
        |       WHERE p.user_id < 8),
        |r AS (SELECT qid, nid, cos,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
        |      FROM sc)
        |SELECT qid, rank, nid, cos FROM r WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
      val dec = DecimalType(18, 2)
      val e = t(spark, dir)("events").select(col("user_id"),
        pmod(expr("ts div 3600000000000"), lit(24L)).as("h"),
        col("value").cast(dec).as("v"))
      val prof = e.groupBy("user_id", "h")
        .agg(sum(col("v")).cast(DoubleType).as("sv"))
        .groupBy("user_id")
        .agg(map_from_entries(collect_list(struct(col("h"), col("sv")))).as("m"))
        .select(col("user_id"),
          transform(sequence(lit(0L), lit(23L)),
            h => coalesce(element_at(col("m"), h), lit(0.0))).as("vec"))
      val probes = prof.where(col("user_id") < 8)
        .select(col("user_id").as("qid"), col("vec"))
      val corpus = prof.select(col("user_id").as("nid"), col("vec"))
      graft.operators.Similarity.bruteForceTopK(probes, corpus, 3)
        .orderBy("qid", "rank")
    },

    // Sliding windows (1 h window, 15 min slide): each event lands in
    // exactly window/slide = 4 windows, expanded MAP-SIDE as a bounded
    // integer explode before one keyed aggregation — the same plan
    // Structured Streaming's window(slide) produces, with no range
    // join and shuffle volume = 4·|events|. Integer nano arithmetic
    // end-to-end (ts exceeds double's exact range).
    "q_sliding_window" -> QueryDef(
      "sliding 1-hour/15-min window counts over the event stream",
      """WITH e AS (SELECT epoch_ns(ts) AS ns, value FROM events),
        |x AS (SELECT ((ns // 900000000000) - k) * 900000000000 AS ws, value
        |      FROM e, unnest(range(0, 4)) AS u(k)
        |      WHERE ns < ((ns // 900000000000) - k) * 900000000000 + 3600000000000)
        |SELECT CAST(ws AS BIGINT) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY ws ORDER BY window_start""".stripMargin) { (spark, dir) =>
      val slide = 900000000000L // 15 min in ns
      val win = 3600000000000L
      t(spark, dir)("events")
        .select(col("ts"), col("value"))
        // `div` = integer division on the epoch-nano longs (plain `/`
        // would go through doubles past their exact range)
        .withColumn("__base", expr("ts div 900000000000"))
        .withColumn("ws",
          explode(transform(sequence(lit(0), lit(3)),
            k => (col("__base") - k.cast(LongType)) * lit(slide))))
        .where(col("ts") < col("ws") + lit(win))
        .groupBy(col("ws").as("window_start"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .orderBy("window_start")
    },

    // Streaming-style tumbling-window aggregation (batch equivalent).
    "q_window_agg" -> QueryDef(
      "tumbling 1-hour window aggregation over the event stream",
      """SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour_bucket,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin) {
      (spark, dir) =>
        t(spark, dir)("events")
          // `div` = integer division — ts is epoch nanos (~1.7e18),
          // beyond double's exact range, so no float division here.
          .groupBy(expr("ts div 3600000000000").as("hour_bucket"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
          .orderBy("hour_bucket", "event_type")
    },

    // Inter-arrival gap statistics per key — the burstiness/heartbeat
    // profile (bot detection, SLA monitoring, session-gap tuning for
    // q_stream_session's 30-min choice). One keyed lag pass (order
    // pinned by (ts, event_id)), then a map-side-combined rollup of
    // integer nano gaps; mean = INTEGER floor-division (a round(…,6)
    // double is meaningless at 1e13-ns magnitudes — doubles carry no
    // 6-decimal precision there, and the engines disagreed on the
    // unrepresentable digits; measured in round 11).
    "q_interarrival" -> QueryDef(
      "per-user inter-event gap stats (min/max/floor-mean ns) from a lag pass",
      """WITH g AS (SELECT user_id,
        |    epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS gap
        |  FROM events)
        |SELECT user_id, CAST(count(gap) AS BIGINT) AS n_gaps,
        |  CAST(min(gap) AS BIGINT) AS min_gap,
        |  CAST(max(gap) AS BIGINT) AS max_gap,
        |  CAST(sum(gap) // count(gap) AS BIGINT) AS mean_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(spark, dir)("events")
        .select(col("user_id"),
          (col("ts") - lag(col("ts"), 1).over(w)).as("gap"))
        .where(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(col("gap")).as("n_gaps"),
          min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"),
          expr("sum(gap) div count(gap)").as("mean_gap"))
        .orderBy("user_id")
    },

    // Trailing moving average per key — the smoothing/readout window
    // every metric dashboard runs. One keyed shuffle; the per-key sort
    // is bounded by that key's event count; the frame is ROWS-based
    // (4 trailing events) so early rows average over what exists.
    // Exact DECIMAL sum over the frame, one IEEE divide, round 6 —
    // engine-exact under (ts, event_id) order pinning.
    "q_moving_avg" -> QueryDef(
      "trailing 4-event moving average of value per user",
      """SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / CAST(count(*) OVER w AS DOUBLE), 6) AS ma4
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      t(spark, dir)("events")
        .select(col("user_id"), col("event_id").cast(LongType).as("event_id"),
          round(sum(col("value").cast(DecimalType(18, 2))).over(w)
              .cast(DoubleType) /
            count(lit(1)).over(w).cast(DoubleType), 6).as("ma4"))
        .orderBy("user_id", "event_id")
    },

    // Interval union ("islands and gaps", Temporal.mergeIntervals
    // scaladoc): each event opens a 30-minute activity interval; the
    // per-user union is their real active time, overlaps counted once
    // — the uptime/coverage readout the tumbling windows above can't
    // give (a window counts events; this measures covered TIME). One
    // keyed shuffle, integer nano arithmetic end-to-end.
    "q_interval_merge" -> QueryDef(
      "per-user merged 30-min activity intervals: island count + covered time",
      """WITH iv AS (SELECT user_id, epoch_ns(ts) AS s,
        |              epoch_ns(ts) + 1800000000000 AS e FROM events),
        |m AS (SELECT user_id, s, e,
        |  CASE WHEN s > coalesce(max(e) OVER (PARTITION BY user_id
        |         ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |       -1) THEN 1 ELSE 0 END AS brk FROM iv),
        |i AS (SELECT user_id, s, e,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM m),
        |g AS (SELECT user_id, isl, min(s) AS lo, max(e) AS hi
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(hi - lo) AS BIGINT) AS covered
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val iv = t(spark, dir)("events")
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + 1800000000000L).as("e"))
      Temporal.mergeIntervals(iv, "user_id", "s", "e")
        .orderBy("user_id")
    },

    // First-order Markov transition matrix over each user's event
    // sequence (Temporal.transitions scaladoc): where the funnel
    // counts one fixed path, this estimates the full next-state
    // distribution. (ts, event_id) pins the order so equal timestamps
    // can't flip pairs between engines; p = one IEEE divide on exact
    // integer counts.
    "q_transitions" -> QueryDef(
      "event-type Markov transition matrix (counts + row-normalized p)",
      """WITH s AS (SELECT user_id, event_type AS to_state,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts), event_id) AS from_state FROM events),
        |c AS (SELECT from_state, to_state, count(*) AS cnt FROM s
        |      WHERE from_state IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_state, sum(cnt) AS t FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, CAST(cnt AS BIGINT) AS cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE), 6) AS p
        |FROM c JOIN tot ON c.from_state = tot.from_state
        |ORDER BY c.from_state, to_state""".stripMargin) { (spark, dir) =>
      Temporal.transitions(t(spark, dir)("events"),
          "user_id", "ts", "event_id", "event_type")
        .orderBy("from_state", "to_state")
    })
}
