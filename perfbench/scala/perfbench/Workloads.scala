package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Ckpt
import graft.operators.{Dedup, Denormalize, TextAnalysis}
import graft.queries.Registry
import graft.streaming.{BucketedParquetBackend, IncrementalDenormalizer,
  StateBackend, StreamRunner}

/** `cdc_bootstrap`: the initial build. Two interleaved insert batches
  * and one tombstone batch go through `processBatch` on a fresh
  * memory-backend engine per iteration; an iteration ends when the
  * engine's async waves have drained. The warm-up is one full build. */
final class Bootstrap(ctx: Ctx) {
  import ctx._
  private val batchRanges: Seq[Map[String, (Long, Long)]] = {
    val raw = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(file("main", "batches.json")))
    (0 until raw.size()).map { i =>
      val b = raw.get(i)
      Cdc.entities.filter(b.has).map { e =>
        e -> (b.get(e).get(0).asLong(), b.get(e).get(1).asLong())
      }.toMap
    }
  }

  /** Each batch's changelog frames, parsed and held in memory, so the
    * timed phase starts at `processBatch`. */
  private def load(): Seq[Map[String, DataFrame]] =
    batchRanges.map(_.map { case (e, r) =>
      e -> Ckpt.mem(Cdc.topic(spark, file("main", "topics", s"$e.json"), e, Some(r)))
    })

  private def backend: StateBackend =
    if (trace.enabled) new TimedBackend(StateBackend.Memory, trace, None)
    else StateBackend.Memory

  /** One full build; returns (engine, per-batch submit ns, end ns). */
  private def build(frames: Seq[Map[String, DataFrame]]) = {
    val engine = new IncrementalDenormalizer(spark, Seq(Cdc.tree), Cdc.keyFields,
      Cdc.valueSchemas, backend = backend)
    val submits = frames.map { f =>
      val t = System.nanoTime()
      trace.span("ivm.process_batch")(engine.processBatch(f))
      t
    }
    trace.span("ivm.drain")(engine.counters) // waits for every async wave
    (engine, submits, System.nanoTime())
  }

  def run(): Map[String, Any] = {
    val records = batchRanges.map(_.values.map { case (a, b) => b - a }.sum)
    // set-up pass: parse the inputs, then one full build as the warm-up
    val (frames, setupS) = setup {
      val main = load()
      build(main)
      main
    }
    val expected = Cdc.rows(Cdc.batchDocs(spark, file("main", "final")))
    settle()
    startTimed()
    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    var last: IncrementalDenormalizer = null
    var timed = 0.0
    while (iters.size < 3 || timed < args.seconds) {
      probes.storage.window()
      val (engine, submits, end) = trace.span("iteration")(build(frames))
      val peak = probes.storage.window()
      timed += (end - submits.head) / 1e9
      // correctness gate of this iteration, outside the timed phase
      val docs = Cdc.rows(Cdc.liveDocs(engine))
      iters += Map("seconds" -> (end - submits.head) / 1e9,
        "wait_ms" -> submits.map(s => (end - s) / 1e6),
        "peak_storage_bytes" -> peak,
        "bad_roots" -> Cdc.diff(docs, expected), "docs_sha256" -> Cdc.sha(docs))
      last = engine
      log(s"iteration ${iters.last("seconds")} s")
      settle()
    }
    stopTimed()
    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      val c = last.counters
      val m = last.metrics
      val pb = trace.durations("ivm.process_batch")
      val persist = trace.durations("state.persist")
      val denorm = (1 to 3).map { _ =>
        val t = System.nanoTime()
        trace.span("operators.denormalize")(
          Ckpt.mem(Cdc.batchDocs(spark, file("main", "final"))))
        (System.nanoTime() - t) / 1e6
      }
      probes.sparkMetrics(iters.size * records.size) ++ Map(
        "ivm.process_batch_ms_p50" -> Stats.median(pb),
        "ivm.process_batch_ms_max" -> (if (pb.isEmpty) 0.0 else pb.max),
        "ivm.records_consumed" -> c("records_consumed").toDouble,
        "ivm.delta_keys" -> c("delta_keys").toDouble,
        "ivm.docs_written" -> c("docs_written").toDouble,
        "ivm.docs_tombstoned" -> c("docs_tombstoned").toDouble,
        "ivm.docs_per_delta_key" ->
          (c("docs_written") + c("docs_tombstoned")).toDouble / math.max(c("delta_keys"), 1L),
        "ivm.state_rows" -> Seq("snapshot_rows", "link_rows", "rootmap_rows",
          "docs_live", "docs_tombstoned").map(m(_)).sum.toDouble,
        "state.persist_ms" -> Stats.median(persist),
        "state.persist_calls" -> persist.size.toDouble,
        "operators.denormalize_ms" -> Stats.median(denorm))
    }
    Map("setup_s" -> setupS, "iterations" -> iters.toSeq,
      "batch_records" -> records, "expected_docs" -> expected.size, "layers" -> layers)
  }
}

/** `cdc_trickle`: steady-state CDC through `StreamRunner.start`, fed by
  * the separate load generator (`gen.py live`) through the topic files.
  * The topics start with the table dump and the generator's warm-up
  * append, so the stream's first batch is the bootstrap; it is set-up.
  * The timed phase is the catch-up bursts, then the open-loop phase.
  * The engine and the generator coordinate only through marker files
  * under `ctl/`. */
final class Trickle(ctx: Ctx) {
  import ctx._
  import scala.jdk.CollectionConverters._
  private val ctl = new File(args.work, "ctl")
  private val triggerMs = args.opts("trigger-ms").toLong
  private val deadline = System.nanoTime() + 150L * 1000000000L
  private val root = file("state")

  private def waitFor(what: String)(cond: => Boolean): Unit = {
    while (!cond) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }
  private def mark(name: String): Unit = {
    val tmp = new File(ctl, name + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, "{}")
    tmp.renameTo(new File(ctl, name))
  }
  /** Per-entity pair counts from a generator marker (or any JSON file
    * with an entity -> count map, optionally under `counts`). */
  private def counts(f: File): Seq[Long] = {
    waitFor(f.getName)(f.exists())
    val m = Json.read(f.getPath)
    val c = m.getOrElse("counts", m).asInstanceOf[Map[String, Any]]
    Cdc.entities.map(e => Json.num(c(e)).toLong)
  }

  /** `--buckets 0` (the default) keeps state on the memory backend;
    * `--buckets N` on a durable `BucketedParquetBackend` with N buckets. */
  private val buckets = args.opts.getOrElse("buckets", "0").toInt
  private def newBackend(): BucketedParquetBackend =
    new BucketedParquetBackend(spark, "file://" + root, buckets = buckets)

  def run(): Map[String, Any] = {
    ctl.mkdirs()
    val inner: StateBackend = if (buckets == 0) StateBackend.Memory else newBackend()
    val backend: StateBackend =
      if (!trace.enabled) inner
      else new TimedBackend(inner, trace, Some(new File(root)).filter(_ => buckets > 0))
    val progress = new ProgressListener(Cdc.entities.size)
    spark.streams.addListener(progress)
    val emits = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val changelog = Cdc.entities.map { e =>
      spark.readStream.format("graft-changelog")
        .option("keySchema", Cdc.keySchemas(e).toDDL)
        .option("valueSchema", Cdc.valueSchemas(e).toDDL)
        .load(file("main", "topics", s"$e.json"))
        .select(lit(e).as("entity"), col("offset"),
          to_json(col("key")).as("key_json"),
          when(col("value").isNull, lit(null).cast("string"))
            .otherwise(to_json(col("value"))).as("value_json"))
    }.reduce(_ unionByName _)
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    /** Emission time of the batch that completed the drain up to `target`
      * (per-entity pair counts): the first batch whose end offsets reach it. */
    def drainedAt(target: Seq[Long]): Double = {
      waitFor("drain") {
        progress.processedOffsets.zip(target).forall { case (p, t) => p >= t } ||
          query.exception.isDefined
      }
      query.exception.foreach(e => throw e)
      val b = progress.batches.asScala.filter(_.ranges.zip(target).forall {
        case ((_, end), t) => end >= t
      }).map(_.id).min
      waitFor("emit")(emits.containsKey(b))
      emits.get(b)
    }
    // the generator's warm-up append lands before the stream starts
    val warm = counts(new File(ctl, "warm.sent"))
    try {
      // set-up: the bootstrap batch (the dump and the warm-up append)
      val (engine, setupS) = setup {
        val (engine, q) = StreamRunner.start(spark, changelog, Seq(Cdc.tree),
          Cdc.keyFields, Cdc.keySchemas, Cdc.valueSchemas,
          checkpointDir = Some(file("checkpoint")),
          sink = (_, _, batchId) => emits.putIfAbsent(batchId, nowMs),
          onBatch = (_, batchId) => emits.putIfAbsent(batchId, nowMs),
          backend = backend,
          trigger = Trigger.ProcessingTime(triggerMs))
        query = q
        drainedAt(warm)
        engine
      }
      // every storage window starts after a full GC, so that blocks of
      // superseded state generations are already cleaned up
      settle()
      startTimed()
      mark("go")
      val windows = mutable.ArrayBuffer.empty[Long]
      val burstEmits = (0 until args.opts("bursts").toInt).map { b =>
        val emitted = drainedAt(counts(new File(ctl, s"burst$b.sent")))
        windows += probes.storage.window()
        settle()
        probes.storage.window()
        mark(s"burst$b.drained")
        emitted
      }
      log("bursts drained")
      val openEmit = drainedAt(counts(new File(ctl, "open.sent")))
      windows += probes.storage.window()
      log("open loop drained")
      stopTimed()
      query.stop()
      val batches = progress.batches.asScala.toSeq.sortBy(_.id)
      val docs = Cdc.rows(Cdc.liveDocs(engine))
      val expected = Cdc.rows(Cdc.batchDocs(spark, file("main", "final")))
      log("gate done")
      val layers = if (!trace.enabled) Map.empty[String, Double] else {
        val timed = batches.filter(b => emits.containsKey(b.id) && emits.get(b.id) >= firstOpMs)
        def phaseMs(k: String) = Stats.median(timed.map(_.durations.getOrElse(k, 0L).toDouble))
        val trig = timed.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
        val add = timed.map(_.durations.getOrElse("addBatch", 0L).toDouble)
        val c = engine.counters
        val m = engine.metrics
        val persist = trace.durations("state.persist")
        val denorm = (1 to 3).map { _ =>
          val t = System.nanoTime()
          trace.span("operators.denormalize")(
            Ckpt.mem(Cdc.batchDocs(spark, file("main", "final"))))
          (System.nanoTime() - t) / 1e6
        }
        probes.sparkMetrics(timed.size) ++ Map(
          "stream.latest_offset_ms" -> phaseMs("latestOffset"),
          "stream.query_planning_ms" -> phaseMs("queryPlanning"),
          "stream.add_batch_ms" -> phaseMs("addBatch"),
          "stream.wal_commit_ms" -> phaseMs("walCommit"),
          "stream.commit_offsets_ms" -> phaseMs("commitOffsets"),
          "stream.trigger_ms_p50" -> Stats.quantile(trig, 0.5),
          "stream.trigger_ms_p90" -> Stats.quantile(trig, 0.9),
          "stream.batches" -> timed.size.toDouble,
          "stream.backlog_rows_max" -> (if (timed.isEmpty) 0.0 else timed.map(_.rows).max.toDouble),
          "ivm.process_batch_ms_p50" -> Stats.median(add),
          "ivm.process_batch_ms_max" -> (if (add.isEmpty) 0.0 else add.max),
          "ivm.records_consumed" -> c("records_consumed").toDouble,
          "ivm.delta_keys" -> c("delta_keys").toDouble,
          "ivm.docs_written" -> c("docs_written").toDouble,
          "ivm.docs_tombstoned" -> c("docs_tombstoned").toDouble,
          "ivm.docs_per_delta_key" ->
            (c("docs_written") + c("docs_tombstoned")).toDouble / math.max(c("delta_keys"), 1L),
          "ivm.state_rows" -> Seq("snapshot_rows", "link_rows", "rootmap_rows",
            "docs_live", "docs_tombstoned").map(m(_)).sum.toDouble,
          "state.persist_ms" -> Stats.median(persist),
          "state.persist_calls" -> persist.size.toDouble,
          "operators.denormalize_ms" -> Stats.median(denorm))
      }
      // the durable state layer, when there is one
      val durableLayers = if (!trace.enabled || buckets == 0) Map.empty[String, Double] else {
        val t = System.nanoTime()
        trace.span("state.recover") {
          val b = newBackend()
          new IncrementalDenormalizer(spark, Seq(Cdc.tree), Cdc.keyFields,
            Cdc.valueSchemas, backend = b).loadStateTables(b.recover())
        }
        Map("state.recover_ms" -> (System.nanoTime() - t) / 1e6,
          "state.gc_ms" -> Stats.median(trace.durations("state.gc")),
          "state.written_mb" -> trace.counter("state.written_bytes") / 1048576.0,
          "state.root_mb" -> Files.du(new File(root)) / 1048576.0)
      }
      Map("setup_s" -> setupS, "trigger_ms" -> triggerMs,
        "batches" -> batches.map(b => Map("id" -> b.id, "rows" -> b.rows,
          "emit_ms" -> emits.get(b.id), "ranges" -> b.ranges.map(r => Seq(r._1, r._2)))),
        "open_emit_ms" -> openEmit, "burst_emit_ms" -> burstEmits,
        "peak_storage_bytes" -> windows.toSeq,
        "expected_docs" -> expected.size, "bad_roots" -> Cdc.diff(docs, expected),
        "docs_sha256" -> Cdc.sha(docs), "layers" -> layers, "durable_layers" -> durableLayers,
        "buckets" -> buckets)
    } finally {
      if (query != null && query.isActive) query.stop()
      spark.streams.removeListener(progress)
    }
  }
}

/** `neardup`: the near-duplicate pipeline over a documents sample,
  * repeated: gram arrays → n-gram Jaccard pairs (τ = 3/5) and MinHash
  * pairs → connected components over the MinHash pairs. */
final class NearDup(ctx: Ctx) {
  import ctx._

  private def corpus(part: String): DataFrame =
    Ckpt.mem(spark.read.schema("doc_id BIGINT, text STRING")
      .json(file(part, "documents.jsonl")))

  /** One pipeline pass; every result is collected. */
  private def pipeline(docs: DataFrame) = {
    val grams = TextAnalysis.gramArrays(docs, "doc_id", "text", 5)
    val jac = trace.span("operators.jaccard")(
      Dedup.ngramJaccardPairs(grams, "doc_id", 3, 5).collect())
    val mh = trace.span("operators.minhash") {
      val p = Ckpt.mem(Dedup.minhashPairs(grams, "doc_id", 3, 5))
      (p, p.collect())
    }
    val comps = trace.span("operators.components")(
      Dedup.connectedComponents(mh._1, "doc_a", "doc_b").collect())
    (jac, mh._2, comps)
  }

  def run(): Map[String, Any] = {
    // set-up pass: load the corpus, then two pipeline passes as the
    // warm-up (the JIT still speeds up the second one)
    val ((docs, n), setupS) = setup {
      val d = corpus("main")
      (1 to 2).foreach(_ => pipeline(d))
      (d, d.count())
    }
    settle()
    startTimed()
    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    def rows(rs: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)
    var pairsOut = 0
    var timed = 0.0
    // at least four iterations, so that the count does not switch between
    // three and four (and move the median) as the host speed varies
    while (iters.size < 4 || timed < args.seconds) {
      probes.storage.window()
      val t = System.nanoTime()
      val (jac, mh, comps) = trace.span("iteration")(pipeline(docs))
      val s = secs(t)
      timed += s
      // each iteration's results go to the DuckDB oracle gate (run.py)
      iters += Map("seconds" -> s, "peak_storage_bytes" -> probes.storage.window(),
        "jaccard_pairs" -> rows(jac), "minhash_pairs" -> rows(mh),
        "components" -> rows(comps))
      pairsOut = jac.length + mh.length
      log(f"iteration $s%.3f s")
      settle()
    }
    stopTimed()
    val oracle = Seq("q_dedup_ngram", "q_dedup_minhash")
      .map(q => q -> Registry.all(q).oracle.get).toMap
    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      val grams = (1 to 3).map { _ =>
        val t = System.nanoTime()
        trace.span("operators.gram_arrays")(
          Ckpt.mem(TextAnalysis.gramArrays(docs, "doc_id", "text", 5)))
        (System.nanoTime() - t) / 1e6
      }
      probes.sparkMetrics(iters.size) ++ Map(
        "operators.gram_arrays_ms" -> Stats.median(grams),
        "operators.jaccard_ms" -> Stats.median(trace.durations("operators.jaccard")),
        "operators.minhash_ms" -> Stats.median(trace.durations("operators.minhash")),
        "operators.components_ms" -> Stats.median(trace.durations("operators.components")),
        "operators.pairs_out" -> pairsOut.toDouble)
    }
    Map("setup_s" -> setupS, "iterations" -> iters.toSeq, "docs" -> n,
      "oracle_sql" -> oracle, "layers" -> layers)
  }
}
