package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.IncrementalAggregate
import graft.streaming.IncrementalAggregate.{applyBatch, batchDeltas, empty, recompute}

/** Incrementally maintained grouped aggregates: the maintained rollup
  * must equal the from-scratch aggregate of the latest state after
  * EVERY batch (retraction correctness), and a batch's delta frame
  * must touch only the groups the batch touches (the O(|delta|)
  * contract that makes maintenance cheaper than recomputation).
  */
class IncrementalAggSpec extends SparkSpec {

  import spark.implicits._

  private val dec = DecimalType(18, 2)

  private def changes(rows: (Long, Long, String, String)*) =
    rows.toDF("k", "offset", "g", "v")
      .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v"))

  private def aggRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("g"), col("cnt"), col("s").cast(StringType))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  test("maintained rollup equals recompute after every batch (updates, group moves, deletes, re-inserts)") {
    var st = empty(spark)
    def step(batch: org.apache.spark.sql.DataFrame): Unit = {
      st = applyBatch(st, batch)
      assert(aggRows(st.agg) == aggRows(recompute(st.latest)),
        s"maintained != recompute:\n${st.agg.collect().toSeq}\n" +
          s"${recompute(st.latest).collect().toSeq}")
    }

    // batch 1: three inserts across two groups
    step(changes((1L, 1L, "A", "10.00"), (2L, 2L, "A", "5.50"),
      (3L, 3L, "B", "7.25")))
    assert(aggRows(st.agg) ==
      Set(("A", 2L, "15.50"), ("B", 1L, "7.25")))

    // batch 2: k=1 moves A -> B with a new value; in-batch dup for k=2
    // (higher offset wins without double-counting)
    step(changes((1L, 4L, "B", "20.00"), (2L, 5L, "A", "6.00"),
      (2L, 6L, "A", "6.50")))
    assert(aggRows(st.agg) ==
      Set(("A", 1L, "6.50"), ("B", 2L, "27.25")))

    // batch 3: tombstone k=3 (B loses its original member) and a
    // tombstone for a key that never existed (no-op)
    step(Seq((3L, 7L, null: String, null: String), (99L, 8L, null: String, null: String))
      .toDF("k", "offset", "g", "v")
      .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v")))
    assert(aggRows(st.agg) ==
      Set(("A", 1L, "6.50"), ("B", 1L, "20.00")))

    // batch 4: k=3 re-inserts after its delete; group A empties out
    // entirely (k=2 tombstone) — emptied groups leave the rollup
    step(changes((3L, 9L, "C", "1.00")).unionByName(
      Seq((2L, 10L, null: String, null: String)).toDF("k", "offset", "g", "v")
        .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v"))))
    assert(aggRows(st.agg) ==
      Set(("B", 1L, "20.00"), ("C", 1L, "1.00")))
  }

  private def mmRows(st: IncrementalAggregate.State) =
    IncrementalAggregate.rollup(st)
      .select(col("g"), col("cnt"), col("mn").cast(StringType),
        col("mx").cast(StringType))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet

  private def mmExpect(st: IncrementalAggregate.State) =
    recompute(st.latest)
      .select(col("g"), col("cnt"), col("mn").cast(StringType),
        col("mx").cast(StringType))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet

  test("min/max: retraction of the extreme promotes the runner-up (within k)") {
    var st = empty(spark, k = 4)
    st = applyBatch(st, changes(
      (1L, 1L, "A", "1.00"), (2L, 2L, "A", "2.00"), (3L, 3L, "A", "3.00"),
      (4L, 4L, "A", "9.00")))
    assert(mmRows(st) == Set(("A", 4L, "1.00", "9.00")))
    // delete the current min AND the current max in one batch
    st = applyBatch(st, Seq(
      (1L, 5L, null: String, null: String),
      (4L, 6L, null: String, null: String)).toDF("k", "offset", "g", "v")
      .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v")))
    assert(mmRows(st) == Set(("A", 2L, "2.00", "3.00")))
    assert(mmRows(st) == mmExpect(st))
  }

  test("min/max: draining > k minima forces the group-scoped rebuild and stays exact") {
    var st = empty(spark, k = 2) // tiny cap so truncation + underflow both fire
    // 6 values: candidates hold the 2 smallest / 2 largest only
    st = applyBatch(st, changes(
      (1L, 1L, "A", "1.00"), (2L, 2L, "A", "2.00"), (3L, 3L, "A", "3.00"),
      (4L, 4L, "A", "4.00"), (5L, 5L, "A", "5.00"), (6L, 6L, "A", "6.00"),
      (7L, 7L, "B", "7.00")))
    assert(mmRows(st) == Set(("A", 6L, "1.00", "6.00"), ("B", 1L, "7.00", "7.00")))
    // delete the 3 smallest — more than k=2 — so the min candidate set
    // drains and the rebuild path must recover min=4.00 from state
    st = applyBatch(st, Seq(
      (1L, 8L, null: String, null: String),
      (2L, 9L, null: String, null: String),
      (3L, 10L, null: String, null: String)).toDF("k", "offset", "g", "v")
      .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v")))
    assert(mmRows(st) == Set(("A", 3L, "4.00", "6.00"), ("B", 1L, "7.00", "7.00")))
    assert(mmRows(st) == mmExpect(st))
    // and the rebuilt candidates keep working incrementally afterwards:
    // a group-move retraction (5.00 leaves A for B) without a rebuild
    st = applyBatch(st, changes((5L, 11L, "B", "5.00")))
    assert(mmRows(st) == Set(("A", 2L, "4.00", "6.00"), ("B", 2L, "5.00", "7.00")))
    assert(mmRows(st) == mmExpect(st))
  }

  test("min/max: rebuild keeps duplicate-value multiplicity (r13 scale-sweep regression)") {
    // The underflow rebuild must preserve OCCURRENCES, not distinct
    // values: replicated corpora (and the scale sweep's k-copy data)
    // make duplicate extremes routine. Old behavior: the
    // value-deduplicating top-k rebuild recorded min=1.00 ONCE though
    // three live keys carried it; the second post-rebuild retraction
    // of a 1.00 key then failed the completeness require.
    var st = empty(spark, k = 2)
    st = applyBatch(st, changes(
      (1L, 1L, "A", "1.00"), (2L, 2L, "A", "1.00"), (3L, 3L, "A", "1.00"),
      (4L, 4L, "A", "2.00"), (5L, 5L, "A", "2.00"), (6L, 6L, "A", "3.00"),
      (7L, 7L, "A", "0.50"), (8L, 8L, "A", "0.25"), (9L, 9L, "A", "0.10")))
    // drain > k minima (0.10, 0.25, 0.50) → group-scoped rebuild over
    // a latest state where the new minimum 1.00 lives on THREE keys
    st = applyBatch(st, Seq(
      (7L, 10L, null: String, null: String),
      (8L, 11L, null: String, null: String),
      (9L, 12L, null: String, null: String)).toDF("k", "offset", "g", "v")
      .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v")))
    assert(mmRows(st) == Set(("A", 6L, "1.00", "3.00")))
    // retract TWO of the three 1.00 occurrences across separate
    // batches — each must find its occurrence in the rebuilt set
    st = applyBatch(st, Seq((1L, 13L, null: String, null: String))
      .toDF("k", "offset", "g", "v")
      .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v")))
    assert(mmRows(st) == Set(("A", 5L, "1.00", "3.00")))
    st = applyBatch(st, Seq((2L, 14L, null: String, null: String))
      .toDF("k", "offset", "g", "v")
      .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v")))
    assert(mmRows(st) == Set(("A", 4L, "1.00", "3.00")))
    assert(mmRows(st) == mmExpect(st))
  }

  test("min/max: duplicate values retract one occurrence, ties survive") {
    var st = empty(spark, k = 2)
    st = applyBatch(st, changes(
      (1L, 1L, "A", "1.00"), (2L, 2L, "A", "1.00"), (3L, 3L, "A", "2.00")))
    // delete ONE of the two 1.00 keys — min must stay 1.00
    st = applyBatch(st, Seq((1L, 4L, null: String, null: String))
      .toDF("k", "offset", "g", "v")
      .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v")))
    assert(mmRows(st) == Set(("A", 2L, "1.00", "2.00")))
    assert(mmRows(st) == mmExpect(st))
  }

  test("a batch's delta frame touches only the batch's groups") {
    var st = empty(spark)
    st = applyBatch(st, changes(
      (1L, 1L, "A", "1.00"), (2L, 2L, "B", "2.00"), (3L, 3L, "C", "3.00"),
      (4L, 4L, "D", "4.00")))
    // one key moves B -> D: the delta aggregate must contain exactly
    // {B, D} — groups A and C are untouched, so maintenance cost is
    // independent of how many groups (or rows) the rollup holds
    val cc = changes((2L, 5L, "D", "9.00"))
      .groupBy("k").agg(max(struct(col("offset"), col("g"), col("v"))).as("__m"))
      .select(col("k"), col("__m.g").as("g_new"), col("__m.v").as("v_new"))
    val touched = batchDeltas(st.latest, cc)
      .select("g").as[String].collect().toSet
    assert(touched == Set("B", "D"), s"delta touched $touched")
  }

  test("durable backend: same rollup as memory, and batches 2+ ride the DELTA path") {
    val root = java.nio.file.Files.createTempDirectory("graft_agg_dur")
    val backend = new graft.streaming.BucketedParquetBackend(
      spark, "file://" + root, buckets = 4, compactEvery = 8)
    try {
      val batches = Seq(
        changes((1L, 1L, "A", "1.00"), (2L, 2L, "A", "2.00"),
          (3L, 3L, "B", "3.00"), (4L, 4L, "B", "9.00")),
        changes((5L, 5L, "A", "0.50"), (2L, 6L, "B", "7.00")),
        Seq((4L, 7L, null: String, null: String))
          .toDF("k", "offset", "g", "v")
          .select(col("k"), col("offset"), col("g"), col("v").cast(dec).as("v")))
      var mem = empty(spark, k = 2)
      var dur = empty(spark, k = 2)
      batches.foreach { b =>
        mem = applyBatch(mem, b)
        dur = applyBatch(dur, b, backend)
        backend.gc() // between batches, as the engine does
      }
      assert(mmRows(dur) == mmRows(mem), "backends must agree exactly")
      assert(mmRows(dur) == mmExpect(dur))
      // the latest-state chain on disk must be g1 FULL + g2,g3 DELTA —
      // proof the durable path wrote O(delta), not a snapshot per batch
      val gens = new java.io.File(root.toFile, "ivm_agg_latest")
        .listFiles().map(_.getName).sorted.toSeq
      assert(gens == Seq("g1", "g2", "g3"), s"generations: $gens")
      // a delta generation holds its change set under rows/ and keys/
      def kind(g: String) =
        if (new java.io.File(root.toFile, s"ivm_agg_latest/$g/rows").isDirectory) "delta"
        else "full"
      assert(kind("g1") == "full" && kind("g2") == "delta" &&
        kind("g3") == "delta",
        s"chain kinds: ${gens.map(g => g -> kind(g))}")
    } finally {
      backend.deleteAll()
    }
  }

  test("a failed batch waits for its latest-state persist before it throws") {
    // the persist runs async while the rollup merges; the merge fails on
    // an agg frame that throws when evaluated
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val slow = new graft.streaming.StateBackend {
      val durable = false
      def persist(name: String, df: org.apache.spark.sql.DataFrame) = {
        Thread.sleep(3000)
        val out = graft.streaming.StateBackend.Memory.persist(name, df)
        finished.set(true)
        out
      }
    }
    val fails = udf((cnt: Long) => {
      if (cnt > 0) throw new IllegalStateException("agg frame fails")
      cnt
    })
    val st = empty(spark)
    val agg = Seq(("A", 1L, "1.00")).toDF("g", "cnt", "s")
      .select(col("g"), fails(col("cnt")).as("cnt"), col("s").cast(IncrementalAggregate.sumType))
    intercept[Exception](applyBatch(st.copy(agg = agg),
      changes((1L, 1L, "A", "10.00")), slow))
    assert(finished.get(), "applyBatch threw while its persist still ran")
  }
}
