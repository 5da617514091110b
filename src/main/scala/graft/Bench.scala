package graft
import org.apache.spark.sql.SparkSession

/** Shared timing machinery for the benchmark mains ([[Bench]] — the
  * driver's entry, which SHARDS the run across fixed-size child JVMs —
  * and [[BenchShard]], the per-shard child).
  *
  * WHY SHARDING: two consecutive rounds showed same-code geomean
  * swings of ±40% (r11 1.40×, r12 0.77×) when all 200+ queries share
  * one JVM session — block-manager/GC/code-cache state accumulated by
  * earlier queries taxes later ones, so a query's measurement depends
  * on its POSITION in the session, and round-over-round comparisons of
  * a growing query set are unfalsifiable. Fixed-size sessions (50
  * queries, streaming isolated in their own sessions) pin each
  * query's session position across rounds: adding queries appends new
  * shards instead of shifting everyone's position.
  */
object BenchCore {

  /** Deterministically release everything a finished query pinned:
    * its localCheckpoint blocks (unpersist BLOCKING — the async form
    * lets block removal bleed into the next query's timing, measured
    * as 1.3-3.9× phantom regressions in earlier rounds) and any cached
    * plans, then a GC so the next measurement starts from a clean heap. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.sqlContext.clearCache()
    System.gc()
    // HARD comparability guard: a query that leaks pinned blocks past
    // its own release taxes every successor's timing silently. Fail the
    // bench loudly instead of best-effort-cleaning.
    val leakedRdds = spark.sparkContext.getPersistentRDDs
    require(leakedRdds.isEmpty,
      s"leaked persistent RDDs after release: ${leakedRdds.keys.mkString(",")}")
  }

  /** All query names in the canonical bench order: the PINNED manifest
    * order (`bench_order.txt`, frozen at the r13 registry) first, then
    * any newer names alphabetically — with the q_stream_* family LAST
    * either way (each streaming pipeline spins up a checkpointed
    * state-store runtime whose setup/teardown and GC footprint
    * measurably bleeds into whatever runs next in a shared JVM, see
    * BENCH_AB_r10.md).
    *
    * WHY a manifest and not plain sort: shards are fixed-size groups
    * over this sequence, so a plain sort lets one mid-alphabet
    * addition shift EVERY later query's session position (and push
    * shard boundaries), which is exactly the position tax the sharded
    * protocol exists to pin (r11/r12's ±40% same-code swings). With
    * the manifest, adding queries appends them after the frozen order
    * within their family — existing positions never move, and the
    * round-over-round pair stays comparable. Names that leave the
    * registry simply drop out; the manifest need not be edited. */
  def orderedNames(only: Option[Set[String]]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    val manifest = {
      import java.nio.file.{Files, Path, Paths}
      // Resolve against the cwd AND the repo root (classes dir is
      // target/scala-2.13/classes → three levels up): running
      // Bench/BenchShard from another directory must not silently
      // un-pin every query's session position.
      val fromClasses: Option[Path] =
        try {
          val cs = getClass.getProtectionDomain.getCodeSource
          Option(cs).map { c =>
            val p = Paths.get(c.getLocation.toURI)
            // classes dir (target/scala-2.13/classes) is three dir
            // levels below the repo root; a JAR (target/scala-2.13/x
            // .jar) is a regular FILE whose parent sits only two dir
            // levels below — start from the parent and climb two, or
            // the jar path itself eats a level and the manifest is
            // silently missed (un-pinning session order).
            val (base, up) =
              if (Files.isRegularFile(p)) (p.getParent, "../..")
              else (p, "../../..")
            base.resolve(up).normalize().resolve("bench_order.txt")
          }
        } catch { case _: Exception => None }
      val candidates = Paths.get("bench_order.txt") +: fromClasses.toSeq
      candidates.find(Files.exists(_)) match {
        case Some(p) =>
          Files.readAllLines(p)
            .toArray(Array.empty[String]).toSeq.map(_.trim).filter(_.nonEmpty)
        case None =>
          System.err.println(
            "WARNING: bench_order.txt not found (cwd or repo root) — " +
              "session order falls back to alphabetical; " +
              "round-over-round timings are NOT comparable")
          Seq.empty[String]
      }
    }
    val pos = manifest.zipWithIndex.toMap
    (only match {
      case Some(names) => all.filter(names)
      case None => all
    }).sortBy(n =>
      (n.startsWith("q_stream_"), pos.getOrElse(n, Int.MaxValue), n))
  }

  case class SessionResult(
      results: Seq[(String, Double)],
      passes: Seq[(String, List[Double])],
      errors: List[(String, String)],
      host: List[(String, Double)] = Nil)

  /** Pure-JVM multithreaded hash-fold host probe (best-of-2, ~0.5 s a
    * pass on 32 idle cores, NO Spark involvement): each shard child
    * times it immediately at JVM start and again after the session
    * stops, so every query carries a host-speed reading from ITS OWN
    * shard's time window. WHY: the r16 movers analysis found the
    * start/end whole-run canary under-corrects when the host drifts
    * WITHIN a run (cpu probe 0.91 s at start vs 0.75 s at end put the
    * early shards ~1.2× off the run-mean normalizer) —
    * per-shard probes let bench_movers.py normalize each query by its
    * own shard's host factor instead of the run mean. */
  def hostProbe(): Double = {
    def once(): Double = {
      val threads = Runtime.getRuntime.availableProcessors()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      val tasks = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var x = 0x9E3779B97F4A7C15L + t
            var acc = 0L
            var i = 0
            while (i < (1 << 26)) {
              x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
              x ^= x >>> 27; acc ^= x
              i += 1
            }
            acc
          }
        })
      }
      tasks.foreach(_.get())
      pool.shutdown()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** One timing session over `names` in the given order: fresh
    * SparkSession, warm-up (parquet footers, codegen, shuffle
    * machinery — excluded from timings), then per-query best-of-2 for
    * anything over `retimeAbove` seconds, with a blocking release
    * between every measurement.
    *
    * `tsvOut`, when set, receives the handoff rows INCREMENTALLY —
    * appended after each query completes — so a child killed by a
    * watchdog timeout (the scale sweep runs potentially-superlinear
    * queries at 10× data) still hands off every measurement it
    * finished. Consumers must treat a partial handoff as partial
    * ([[Bench]] re-runs the missing names in-process). */
  def runSession(sfDir: String, cpus: String, names: Seq[String],
      tsvOut: Option[String] = None): SessionResult = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tpch.foreach { t =>
      try graft.core.Tables.load(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    spark.range(1 << 18).selectExpr("id % 97 as k")
      .groupBy("k").count().count()
    var errors = List.empty[(String, String)]
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // Label the measurement's jobs (guide §1.5) so any UI/eventlog
      // inspection maps jobs back to the query being timed. Thread-local
      // and free; cleared with the release below.
      spark.sparkContext.setJobDescription(s"bench: $name")
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            errors ::= name -> e.toString.replaceAll("""["\\\n\r\t]""", " ").take(200)
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      release(spark)
      if (ok) dt else -dt
    }
    // Expensive queries get a second, fully-isolated pass and report
    // the min: a single shared-JVM sample of a multi-second query
    // carries seconds of block-manager/GC noise; the min of two
    // cleanly-separated runs is the standard estimator for that. Both
    // passes are emitted so nothing is hidden.
    val retimeAbove = 0.5
    val passes = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val b64 = java.util.Base64.getEncoder
    def append(lines: String): Unit = tsvOut.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), lines,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val errsBefore = errors
      val t1 = timeOnce(name, fn)
      val ts = if (t1 > retimeAbove) List(t1, timeOnce(name, fn)) else List(t1)
      passes(name) = ts
      val best =
        if (ts.exists(_ < 0)) ts.find(_ < 0).get // any failed pass fails the query
        else ts.min
      val sb = new StringBuilder(s"Q\t$name\t$best\n")
      if (ts.length > 1) sb.append(s"P\t$name\t${ts.mkString(",")}\n")
      // errors is prepend-accumulated, so this query's new entries are
      // the head slice beyond what existed before it ran
      errors.take(errors.length - errsBefore.length)
        .foreach { case (n, m) =>
          sb.append(s"E\t$n\t${b64.encodeToString(m.getBytes("UTF-8"))}\n") }
      append(sb.toString)
      name -> best
    }
    spark.stop()
    SessionResult(results, passes.toSeq, errors.reverse)
  }

  /** Host-drift canary: three FIXED synthetic probes (CPU-bound hash
    * fold, shuffle-bound wide aggregation, a structured-streaming
    * availableNow pipeline through the state store) timed best-of-2
    * in a fresh session. They deliberately touch NO graft operator
    * and NO corpus table, so their round-over-round and
    * start-vs-end-of-run deltas measure the HOST (CPU contention,
    * thermal/cgroup throttling, page cache), never a code change —
    * the r13/r14 verdicts both had >1.2× per-query movers that were
    * almost certainly host drift but could not be separated from
    * regression without a full A/B. [[Bench]] runs the set in a
    * fresh child JVM before the first shard and again after the last
    * and emits both triples in the JSON line. */
  val canaryNames = Seq("__canary_cpu", "__canary_shuffle", "__canary_stream")

  def canaryProbe(spark: SparkSession, name: String): Unit = name match {
    case "__canary_cpu" =>
      // pure codegen hashing — no shuffle, no IO; sized ~1 s on 32
      // cores so drift reads above per-run noise. head() (NOT
      // count()): an outer count lets column pruning strip the hash
      // from the aggregate and the probe measures nothing.
      spark.range(1L << 30)
        .selectExpr("xxhash64(id, id + 7, id * 31) AS h")
        .selectExpr("bit_xor(h) AS s").head() // xor: no ANSI overflow
    case "__canary_shuffle" =>
      // 32M rows into 4M groups — exchange-dominated (the wide key
      // space keeps map-side combine from collapsing it)
      spark.range(1L << 25)
        .selectExpr("id % 4194304 AS k", "id AS v")
        .groupBy("k").sum("v")
        .selectExpr("count(*) AS c", "sum(`sum(v)`) AS s").head()
    case "__canary_stream" =>
      // one availableNow micro-batch through the HDFS-backed state
      // store and a streaming aggregation — times the streaming
      // runtime's setup + commit path
      val dir = java.nio.file.Files.createTempDirectory("graft_canary_stream")
      try {
        val in = dir.resolve("in").toString
        spark.range(1L << 20).selectExpr("id", "id % 1024 AS k")
          .write.mode("overwrite").parquet(in)
        val q = spark.readStream
          .schema("id LONG, k LONG").parquet(in)
          .groupBy("k").count()
          .writeStream.format("noop").outputMode("complete")
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: Exception => () })
      }
    case other => throw new IllegalArgumentException(s"unknown canary $other")
  }

  /** Time the canary set (best-of-2, blocking release between passes —
    * the main protocol) in a fresh session; returns (name, seconds). */
  def canarySession(cpus: String): Seq[(String, Double)] = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1 << 18).selectExpr("id % 97 as k")
      .groupBy("k").count().count() // shuffle/codegen warm-up
    val out = canaryNames.map { n =>
      def once(): Double = {
        val t0 = System.nanoTime()
        canaryProbe(spark, n)
        val dt = (System.nanoTime() - t0) / 1e9
        release(spark)
        dt
      }
      n -> math.min(once(), once())
    }
    spark.stop()
    out
  }

  def jmap(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")

  /** The driver-contract JSON line. `canary`, when present, carries
    * the start-of-run and end-of-run host-drift probe triples plus
    * their end/start ratios — cite these before reading any
    * round-over-round mover as a regression. `shardHost` adds the
    * per-shard pure-JVM probe brackets ([[hostProbe]]): one entry per
    * shard with its first/last query names, so bench_movers.py can
    * normalize each query by ITS OWN shard's host factor (the
    * run-mean canary under-corrects within-run drift). */
  def jsonLine(r: SessionResult, sfDir: String, shards: Int,
      canary: Option[(Seq[(String, Double)], Seq[(String, Double)])] = None,
      shardHost: Seq[(Int, String, String, Map[String, Double])] = Nil)
      : String = {
    val qs = jmap(r.results.map { case (k, v) => k -> v.toString })
    val passJson = jmap(r.passes.collect { case (k, ts) if ts.length > 1 =>
      k -> ts.mkString("[", ",", "]")
    })
    val errJson = r.errors
      .map { case (k, m) => s"\"$k\":\"$m\"" }.mkString("{", ",", "}")
    val total = r.results.map(_._2).filter(_ >= 0).sum
    val canaryJson = canary.map { case (start, end) =>
      val s = start.toMap
      // Locale.ROOT explicitly: the f"" interpolator is locale-
      // sensitive, and a comma-decimal default locale (de_DE) would
      // render 1,250 and corrupt the driver-contract JSON line.
      val ratios = end.collect { case (k, te) if s.get(k).exists(_ > 0) =>
        k -> String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(te / s(k))) }
      ",\"canary\":" + jmap(Seq(
        "start" -> jmap(start.map { case (k, v) => k -> v.toString }),
        "end" -> jmap(end.map { case (k, v) => k -> v.toString }),
        "ratio" -> jmap(ratios)))
    }.getOrElse("")
    val shardHostJson =
      if (shardHost.isEmpty) ""
      else ",\"shard_host\":" + shardHost.map {
        case (i, first, last, probes) =>
          jmap(Seq("shard" -> i.toString,
            "first" -> s""""$first"""", "last" -> s""""$last"""") ++
            probes.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
      }.mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passJson,"errors":$errJson,"sf":"$sfDir","shards":$shards$canaryJson$shardHostJson}"""
  }

  // ---- machine-readable shard handoff (TSV, not JSON: the parent
  // must never depend on parsing a child's log-polluted stdout) ----

  def readTsv(path: String): SessionResult = {
    val b64 = java.util.Base64.getDecoder
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path)).toArray(Array.empty[String])
    val rs = Seq.newBuilder[(String, Double)]
    val ps = Seq.newBuilder[(String, List[Double])]
    var es = List.empty[(String, String)]
    var hs = List.empty[(String, Double)]
    lines.foreach { l =>
      l.split("\t", 3) match {
        case Array("Q", n, t) => rs += n -> t.toDouble
        case Array("P", n, ts) => ps += n -> ts.split(",").map(_.toDouble).toList
        case Array("E", n, m) => es ::= n -> new String(b64.decode(m), "UTF-8")
        case Array("H", tag, t) => hs ::= tag -> t.toDouble
        case _ => ()
      }
    }
    SessionResult(rs.result(), ps.result(), es.reverse, hs.reverse)
  }
}

/** Child JVM for one bench shard: runs the queries named in
  * GRAFT_SHARD_QUERIES (comma-separated, in that order) against
  * SPARK_GRAFT_SF_DIR and writes the TSV handoff to GRAFT_SHARD_OUT.
  * Runnable standalone for A/B experiments (see BENCH_AB_r12.md). */
object BenchShard {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val out = sys.env("GRAFT_SHARD_OUT")
    if (sys.env.get("GRAFT_SHARD_CANARY").contains("1")) {
      // host-drift canary mode: fixed synthetic probes, TSV handoff
      val rows = BenchCore.canarySession(cpus)
        .map { case (n, t) => s"Q\t$n\t$t\n" }.mkString
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), rows,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      sys.exit(0)
    }
    val names = sys.env("GRAFT_SHARD_QUERIES").split(",").map(_.trim).toSeq
    def writeHost(tag: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"H\t$tag\t${BenchCore.hostProbe()}\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    // per-shard host probes bracket the session (BenchCore.hostProbe
    // scaladoc) — pure JVM, before the SparkSession exists and after
    // it stops
    writeHost("start")
    // handoff rows append incrementally — a watchdog kill keeps
    // everything measured so far
    val r = BenchCore.runSession(sfDir, cpus, names, tsvOut = Some(out))
    writeHost("end")
    sys.exit(if (r.errors.nonEmpty) 1 else 0)
  }
}

/** The bench entry point. Shards the query set into child JVM sessions of
  * 50 queries (streaming queries isolated in their own sessions), runs
  * them SEQUENTIALLY (parallel shards would contend for the same cores
  * and contaminate each other), merges the TSV handoffs, and prints the
  * single JSON result line. A shard whose child JVM fails to produce a
  * handoff is re-run in-process so the bench line is never silently
  * incomplete. */
object Bench {

  /** Child JVM spawn: same java binary, same classpath (the sbt-forked
    * parent carries the REAL classpath in java.class.path), same
    * memory/module flags (copied from this JVM's input arguments). */
  private def runShardInChild(
      names: Seq[String], sfDir: String, cpus: String, idx: Int): Option[BenchCore.SessionResult] = {
    val out = java.nio.file.Files.createTempFile(s"graft_shard_$idx", ".tsv")
    val javaBin = sys.props("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String])
      .filterNot(a => a.startsWith("-javaagent") || a.startsWith("-agentlib"))
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.BenchShard")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus)
    if (names == BenchCore.canaryNames)
      pb.environment().put("GRAFT_SHARD_CANARY", "1")
    pb.environment().put("GRAFT_SHARD_QUERIES", names.mkString(","))
    pb.environment().put("GRAFT_SHARD_OUT", out.toString)
    val log = java.nio.file.Files.createTempFile(s"graft_shard_$idx", ".log")
    pb.redirectOutput(log.toFile)
    pb.redirectErrorStream(true)
    val rc = try pb.start().waitFor()
    catch { case e: Throwable =>
      System.err.println(s"[bench] shard $idx spawn failed: $e"); -1 }
    // rc != 0 with a complete handoff just means some QUERY failed —
    // the TSV carries the error entries. The handoff appends
    // incrementally, so a crashed child leaves a PARTIAL file: the
    // caller re-runs exactly the missing names in-process rather than
    // trusting (or discarding) a partial handoff wholesale.
    if (java.nio.file.Files.exists(out) && java.nio.file.Files.size(out) > 0)
      Some(BenchCore.readTsv(out.toString))
    else {
      System.err.println(
        s"[bench] shard $idx (rc=$rc) left no handoff; log=$log — re-running in-process")
      None
    }
  }

  /** Run one shard in a child JVM, then top up any names the child
    * did not hand off (crash mid-shard) with an in-process session. */
  private def runShardComplete(
      names: Seq[String], sfDir: String, cpus: String, idx: Int): BenchCore.SessionResult = {
    val fromChild = runShardInChild(names, sfDir, cpus, idx)
      .getOrElse(BenchCore.SessionResult(Nil, Nil, Nil))
    val done = fromChild.results.map(_._1).toSet
    val missing = names.filterNot(done)
    if (missing.isEmpty) fromChild
    else {
      System.err.println(
        s"[bench] shard $idx handed off ${done.size}/${names.size}; " +
          s"re-running ${missing.mkString(",")} in-process")
      val rest = BenchCore.runSession(sfDir, cpus, missing)
      BenchCore.SessionResult(
        fromChild.results ++ rest.results,
        fromChild.passes ++ rest.passes,
        fromChild.errors ++ rest.errors,
        fromChild.host)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = BenchCore.orderedNames(only)
    val shardSize = 50
    // Fixed-size shards; the streaming family starts a fresh shard so
    // its state-store runtimes never share a session with batch queries.
    val (batch, stream) = names.partition(!_.startsWith("q_stream_"))
    val shards: Seq[Seq[String]] =
      (batch.grouped(shardSize) ++ stream.grouped(shardSize)).toSeq
    // Host-drift canary (fixed synthetic probes in their own fresh
    // child JVMs, see BenchCore.canaryNames): once before the first
    // shard, once after the last, so the JSON line carries the run's
    // own drift measurement. Skipped for filtered runs (A/B tooling
    // has its own alternation protocol).
    val wantCanary = only.isEmpty && names.nonEmpty
    def canaryRun(tag: String): Seq[(String, Double)] =
      runShardInChild(BenchCore.canaryNames, sfDir, cpus, -1) match {
        case Some(r) => r.results
        case None =>
          System.err.println(s"[bench] $tag canary child failed; " +
            "running in-process")
          BenchCore.canarySession(cpus)
      }
    val canaryStart = if (wantCanary) Some(canaryRun("start")) else None
    val parts = shards.zipWithIndex.map { case (s, i) =>
      runShardComplete(s, sfDir, cpus, i)
    }
    val shardHost = parts.zipWithIndex.collect {
      case (p, i) if p.host.nonEmpty && shards(i).nonEmpty =>
        (i, shards(i).head, shards(i).last, p.host.toMap)
    }
    val merged = BenchCore.SessionResult(
      parts.flatMap(_.results), parts.flatMap(_.passes),
      parts.flatMap(_.errors).toList)
    val canaryEnd = if (wantCanary) Some(canaryRun("end")) else None
    val line = BenchCore.jsonLine(merged, sfDir, shards.size,
      canaryStart.zip(canaryEnd), shardHost)
    println(line)
    // The driver's BENCH_rN.json retains only an output TAIL — persist
    // the full table verbatim (overwritten per run) so round-over-round
    // regression tracking always has every entry. Filtered local runs
    // (SPARK_GRAFT_ONLY set) must NOT clobber the full committed table
    // with a subset — they skip the write unless the caller redirects
    // it explicitly via GRAFT_BENCH_OUT.
    val outFile = sys.env.get("GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("bench_results.json") else None)
    outFile.foreach { f =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(f), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $f: $e") }
    }
    sys.exit(if (merged.errors.nonEmpty) 1 else 0)
  }
}
