package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.core.{Ckpt, Relation}
import graft.operators.Denormalize

/** One benchmark run in a fresh JVM: set-up, timed phase, correctness
  * gate, raw samples to `--out`. Every layer is reached through its
  * public API only; `perfbench/run.py` turns the samples into metrics.
  *
  * {{{
  *   BenchMain --workload cdc_bootstrap|cdc_trickle|neardup --seed N
  *     --seconds S --trace 0|1 --work DIR --cores K --out FILE
  *     [--trace-file FILE] [--bursts N --trigger-ms MS --buckets N]
  * }}}
  */
object BenchMain {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, cores: Int, out: File, opts: Map[String, String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", new File(m("work")), m("cores").toInt,
      new File(m("out")), m)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val probeStart = HostProbe()
    // The same session settings graft.Main makes (master, shuffle
    // partitions = the core count, UTC); nothing else is tuned.
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(args.trace, s"${args.workload}-${args.seed}-${args.trace}")
    val probes = new Probes(spark, trace)
    val ctx = new Ctx(spark, args, probes)
    val result = try {
      args.workload match {
        case "cdc_bootstrap" => new Bootstrap(ctx).run()
        case "cdc_trickle" => new Trickle(ctx).run()
        case "neardup" => new NearDup(ctx).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    val probeEnd = HostProbe()
    val out = result ++ Map(
      "setup_wall_s" -> (ctx.firstOpMs - jvmStartMs) / 1e3,
      "host_probe_s" -> Seq(probeStart, probeEnd),
      "cores" -> args.cores)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    if (args.trace)
      mapper.writeValue(new File(args.opts("trace-file")),
        trace.json ++ Map("workload" -> args.workload, "seed" -> args.seed))
    mapper.writeValue(args.out, out)
  }
}

/** What every workload shares: session, arguments, listeners, timing. */
final class Ctx(val spark: SparkSession, val args: BenchMain.Args, val probes: Probes) {
  val trace: Trace = probes.trace
  @volatile var firstOpMs = 0.0
  def nowMs: Double = System.currentTimeMillis().toDouble
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run and time the set-up pass (everything before the first timed
    * operation that depends on the inputs, warm-up included). */
  def setup[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = trace.span("setup")(body)
    log(f"setup ${secs(t0)}%.3f s")
    (a, secs(t0))
  }

  /** Mark the first timed operation; start the timed-phase listeners. */
  def startTimed(): Unit = {
    firstOpMs = nowMs
    probes.work.on = true
    probes.storage.window()
    trace.openTimed()
  }
  def stopTimed(): Unit = {
    trace.closeTimed()
    probes.work.on = false
  }

  /** Collect garbage between iterations, outside the timed phase, so
    * that no iteration pays for the previous one's garbage. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
  }

  /** Progress line for the run's log (stderr). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(nowMs - jvmStartMs) / 1e3}%.1f s $msg")
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def file(parts: String*): String = parts.foldLeft(args.work)(new File(_, _)).getPath
}

/** The DenormalizedOrder tree over the TPC-H topics:
  * orders → customer → nation, and orders → lineitem → part. */
object Cdc {
  val name = "DenormalizedOrder"
  val tree: Relation = Relation.root(name, "orders",
    Relation.child("customer", "c_custkey", "o_custkey",
      Relation.child("nation", "n_nationkey", "c_nationkey")),
    Relation.child("lineitem", "l_orderkey", "o_orderkey",
      Relation.child("part", "p_partkey", "l_partkey")))
  val entities: Seq[String] = Seq("orders", "customer", "nation", "lineitem", "part")
  val keyFields: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey"),
    "nation" -> Seq("n_nationkey"), "lineitem" -> Seq("l_linenumber", "l_orderkey"),
    "part" -> Seq("p_partkey"))
  val valueSchemas: Map[String, StructType] = Map(
    "orders" -> "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING",
    "customer" -> "c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING",
    "nation" -> "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT",
    "lineitem" -> ("l_orderkey BIGINT, l_linenumber BIGINT, l_partkey BIGINT, l_quantity DOUBLE, " +
      "l_extendedprice DOUBLE, l_discount DOUBLE, l_returnflag STRING, l_linestatus STRING"),
    "part" -> "p_partkey BIGINT, p_name STRING, p_brand STRING, p_size BIGINT, p_retailprice DOUBLE"
  ).map { case (e, ddl) => e -> StructType.fromDDL(ddl) }
  val keySchemas: Map[String, StructType] = entities.map { e =>
    e -> StructType(keyFields(e).map(valueSchemas(e)(_)))
  }.toMap

  /** One topic file as `(offset, key, value)` changelog rows, optionally
    * restricted to a record range. */
  def topic(spark: SparkSession, path: String, e: String,
      range: Option[(Long, Long)] = None): DataFrame = {
    val df = spark.read.format("graft-changelog")
      .option("keySchema", keySchemas(e).toDDL)
      .option("valueSchema", valueSchemas(e).toDDL)
      .load(path)
    range.fold(df) { case (a, b) => df.where(col("offset") >= a && col("offset") < b) }
  }

  /** Expected documents: a batch build over a final table state. */
  def batchDocs(spark: SparkSession, finalDir: String): DataFrame = {
    val tables = entities.map { e =>
      e -> spark.read.schema(valueSchemas(e)).json(s"$finalDir/$e.jsonl")
    }.toMap
    Denormalize.documents(tree, tables, keyFields)
  }

  /** Documents as (root key `o_orderkey`, doc_json) rows, collected and
    * sorted. A root key may occur more than once: the gate counts that. */
  def rows(docs: DataFrame): Seq[(Long, String)] =
    docs.select(get_json_object(col("doc_json"), "$.Record.o_orderkey").cast("long"),
        col("doc_json"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted

  /** Root keys whose document is missing, extra, different or not unique. */
  def diff(got: Seq[(Long, String)], want: Seq[(Long, String)]): Seq[Long] = {
    val g = got.groupMap(_._1)(_._2)
    val w = want.groupMap(_._1)(_._2)
    (g.keySet ++ w.keySet).filter { k =>
      g.get(k) != w.get(k) || g.get(k).exists(_.size > 1)
    }.toSeq.sorted
  }

  /** SHA-256 of the sorted (key, doc_json) rows, duplicates included. */
  def sha(docs: Seq[(Long, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { case (k, d) => md.update(s"$k\t$d\n".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  def liveDocs(engine: graft.streaming.IncrementalDenormalizer): DataFrame =
    engine.docs(name).where(!col("__deleted")).select(col("doc_json"))
}

/** Read the JSON control files the load generator writes. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def read(f: String): Map[String, Any] =
    mapper.readValue(new File(f), classOf[Map[String, Any]])
  def num(x: Any): Double = x match {
    case n: java.lang.Number => n.doubleValue()
    case n: BigInt => n.toDouble
    case other => other.toString.toDouble
  }
}
