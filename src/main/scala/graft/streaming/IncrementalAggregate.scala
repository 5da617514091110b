package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TopKByScore

import scala.util.control.NonFatal

/** Incrementally maintained GROUPED AGGREGATE over a keyed changelog —
  * the aggregation face of the IVM engine's set-at-a-time model: where
  * [[IncrementalDenormalizer]] maintains joined documents under
  * upserts and tombstones, this maintains `GROUP BY g → (count, sum,
  * min, max)` rollups under the same changelog contract
  * (latest-per-key wins, null value = delete), with RETRACTION — an
  * update that moves a key from group A to group B subtracts its old
  * contribution from A and adds the new one to B, so the rollup always
  * equals the aggregate of the compacted latest state without ever
  * rescanning it.
  *
  * Why this shape at 100 TB: the naive alternative recomputes the
  * aggregate from the full latest state every batch — O(|state|) per
  * batch forever. Here each batch costs O(|delta|): compact the batch
  * per key (one keyed aggregate of the batch only), one keyed join
  * against latest state to fetch old contributions, a ±delta
  * aggregate over ≤ 2·|delta| rows, and a merge into the (tiny,
  * ≤ |groups|) rollup table. Count and sum are self-inverse under
  * retraction; the same frame carries exact DECIMAL sums so
  * retraction is lossless (float retraction would drift).
  *
  * MIN/MAX are NOT self-inverse (retracting the current extreme needs
  * the runner-up), so each group carries a bounded candidate synopsis
  * per extreme — the classic IVM bounded-synopsis design, stored as
  * (value, live-occurrence-count) PAIRS so duplicate extremes (routine
  * in replicated corpora — every copy shares its price) never break
  * the bound representation:
  *
  *  - `mins` holds ALL live values strictly below the exclusion bound
  *    `minb` (null bound = +∞, i.e. the set is complete), each with
  *    its full live count, capped at k DISTINCT values: when a merge
  *    overflows k distinct values, the (k+1)-th smallest becomes the
  *    new bound and everything ≥ it is dropped — the invariant
  *    "complete below the bound" is preserved because only values
  *    at/above the new bound leave, and a non-empty set always
  *    contains the true minimum regardless of its multiplicity.
  *  - a DELETE whose value sits below the bound decrements exactly one
  *    occurrence (completeness guarantees the count is positive —
  *    enforced with a hard require, never silently absorbed); an
  *    INSERT below the bound increments; traffic at/above the bound
  *    is ignored, the fallback owns it.
  *  - the group min is the candidate head whenever the set is
  *    non-empty. If deletions empty the set while the group still has
  *    rows (> k minima deleted between rebuilds), the batch falls back
  *    to ONE group-scoped rebuild: a [[TopKByScore]]-reduced pass over
  *    the new latest state restricted (semi-join on the tiny underflow
  *    group list, broadcast) to exactly the underflowed groups —
  *    never a full-state rescan for healthy groups.
  *  - `maxs`/`maxb` mirror all of it with the order reversed.
  *
  * Candidate values are stored as exact cents (DECIMAL(18,2) × 100 in
  * a LONG), so candidate comparison is integer-exact; the rebuild's
  * top-k scores are doubles, exact for |v| < 2⁵³ cents (~9·10¹³
  * currency units — beyond any price column; documented, not hidden).
  *
  * State maintenance mirrors the engine: both frames re-checkpoint
  * per batch (lineage truncation); in deployment the latest-state
  * table rides the bucketed durable backend exactly like the
  * engine's index tables ([[StateBackend]]), making the state-side
  * join Exchange-free — the in-memory form here keeps the operator
  * self-contained.
  *
  * Changelog schema: (k LONG, offset LONG, g STRING, v DECIMAL) —
  * g AND v null ⇒ tombstone for k. Offsets are unique per key and
  * define recency (the reference's log-offset time model).
  */
object IncrementalAggregate {

  /** Rollup sum type: wide enough that merging never re-widens. */
  val sumType: DecimalType = DecimalType(30, 2)

  /** Input value type; ×100 must stay integral (cents encoding). */
  val valType: DecimalType = DecimalType(18, 2)

  /** latest: (k, g, v) one row per live key; agg: one row per live
    * group — (g, cnt, s) when k = 0, plus (mins, minb, maxs, maxb)
    * candidate columns when k > 0. k is the per-extreme candidate cap:
    * min/max maintenance is OPT-IN because a rollup that only reads
    * count/sum should not pay the candidate merge per batch (measured
    * 1.7× on the q_incr_agg replay when it was unconditional). */
  final case class State(latest: DataFrame, agg: DataFrame, k: Int = 0)

  /** One candidate entry: a live cent value and its LIVE OCCURRENCE
    * COUNT. Candidates are (value, count) pairs — not expanded
    * occurrence lists — because duplicate extremes are routine in real
    * corpora (every replicated record shares its price): with expanded
    * occurrences, k+ copies of the minimum make the "strictly below
    * the bound" set unrepresentable (the cut lands ON the minimum and
    * empties the set — found by the r13 scale sweep, whose k-copy data
    * crashed the retraction path). With counts, k bounds DISTINCT
    * values and any multiplicity rides the count. */
  private[graft] final case class VC(v: Long, c: Long)

  /** One group's candidate state + this batch's value traffic, for the
    * touched-groups-only merge map. */
  private[graft] final case class Cand(
      g: String,
      mins: Seq[VC], minb: Option[Long],
      maxs: Seq[VC], maxb: Option[Long],
      dels: Seq[Long], ins: Seq[Long])

  private[graft] final case class CandState(
      g: String,
      mins: Seq[VC], minb: Option[Long],
      maxs: Seq[VC], maxb: Option[Long])

  private def emptyLongs: Column = array().cast(ArrayType(LongType, false))

  private val vcType: ArrayType = ArrayType(StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  private def emptyVCs: Column = array().cast(vcType)

  def empty(spark: SparkSession, k: Int = 0): State = {
    import spark.implicits._
    val latest = Seq.empty[(Long, String, java.math.BigDecimal)]
      .toDF("k", "g", "v")
      .select(col("k"), col("g"), col("v").cast(valType))
    val bare = Seq.empty[(String, Long, java.math.BigDecimal)]
      .toDF("g", "cnt", "s")
      .select(col("g"), col("cnt"), col("s").cast(sumType))
    val agg =
      if (k == 0) bare
      else bare.select(col("g"), col("cnt"), col("s"),
        emptyVCs.as("mins"), lit(null).cast(LongType).as("minb"),
        emptyVCs.as("maxs"), lit(null).cast(LongType).as("maxb"))
    State(latest, agg, k)
  }

  /** Per-key compaction of ONE batch: the row with the max offset wins
    * (offsets are unique per key, so the struct max is decided by its
    * first field and never compares the nullable payload). */
  private def compactBatch(changes: DataFrame): DataFrame =
    changes.groupBy("k")
      .agg(max(struct(col("offset"), col("g"), col("v"))).as("__m"))
      .select(col("k"), col("__m.g").as("g_new"), col("__m.v").as("v_new"))

  /** Compacted batch LEFT-joined to old state — the single lookup both
    * the ±sum deltas and the candidate traffic derive from. */
  private def joined(latest: DataFrame, compacted: DataFrame): DataFrame =
    compacted.join(
        latest.select(col("k"), col("g").as("g_old"), col("v").as("v_old")),
        Seq("k"), "left")
      .localCheckpoint()

  /** The ±contribution rows for one compacted batch against the
    * current latest state: −(old g, old v) for every key that had
    * state, +(new g, new v) for every non-tombstone. Exposed for the
    * spec to pin the O(|delta|) contract (only touched groups appear). */
  private[graft] def batchDeltas(
      latest: DataFrame, compacted: DataFrame): DataFrame =
    deltas(joined(latest, compacted))

  private def deltas(j: DataFrame): DataFrame = {
    val retract = j.where(col("g_old").isNotNull)
      .select(col("g_old").as("g"), lit(-1L).as("dc"), (-col("v_old")).as("dv"))
    val add = j.where(col("g_new").isNotNull)
      .select(col("g_new").as("g"), lit(1L).as("dc"), col("v_new").as("dv"))
    retract.unionByName(add)
      .groupBy("g")
      .agg(sum(col("dc")).as("dc"), sum(col("dv")).cast(sumType).as("dv"))
  }

  private def cents(c: Column): Column = (c * 100).cast(LongType)

  /** Per-group deleted/inserted cent values this batch — the candidate
    * traffic. Lists are batch-delta-sized per group (the same rows the
    * ±aggregate already shuffles), never state-sized. */
  private def valueTraffic(j: DataFrame): DataFrame = {
    val delRows = j.where(col("g_old").isNotNull)
      .select(col("g_old").as("g"), cents(col("v_old")).as("v"), lit(true).as("d"))
    val insRows = j.where(col("g_new").isNotNull && col("v_new").isNotNull)
      .select(col("g_new").as("g"), cents(col("v_new")).as("v"), lit(false).as("d"))
    delRows.unionByName(insRows)
      .groupBy("g")
      .agg(collect_list(when(col("d"), col("v"))).as("dels"),
        collect_list(when(!col("d"), col("v"))).as("ins"))
  }

  /** Merge one side's candidate set under its exclusion bound. Counts
    * carry occurrence multiplicity; `k` caps DISTINCT tracked values.
    * `lt` orders best-first (min side: <, max side: >); the bound
    * excludes at-or-past-bound values (None = unbounded/complete). */
  private[graft] def mergeSide(cands: Seq[VC], bound: Option[Long],
      dels: Seq[Long], ins: Seq[Long], k: Int,
      lt: (Long, Long) => Boolean): (Seq[VC], Option[Long]) = {
    def covered(v: Long): Boolean = bound.forall(b => lt(v, b))
    val m = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    cands.foreach(e => m.update(e.v, m.getOrElse(e.v, 0L) + e.c))
    ins.iterator.filter(covered).foreach(v => m.update(v, m.getOrElse(v, 0L) + 1L))
    dels.iterator.filter(covered).foreach { v =>
      val c = m.getOrElse(v, 0L)
      // completeness invariant: a live value below the bound IS here,
      // with its full live occurrence count
      require(c > 0, s"retraction of $v not present in candidate set")
      if (c == 1L) m.remove(v) else m.update(v, c - 1L)
    }
    var vals = m.keysIterator.toIndexedSeq.sortWith(lt)
    var nb = bound
    if (vals.length > k) {
      val cut = vals(k) // the (k+1)-th best DISTINCT value becomes the bound
      nb = Some(cut)
      vals = vals.takeWhile(v => lt(v, cut))
    }
    (vals.map(v => VC(v, m(v))), nb)
  }

  private val ltMin: (Long, Long) => Boolean = _ < _
  private val ltMax: (Long, Long) => Boolean = _ > _

  /** Rebuild one side from (value, live count) pairs: keep the k best
    * distinct values with their counts; the (k+1)-th distinct value
    * becomes the exclusion bound (same rule as [[mergeSide]]'s
    * overflow). */
  private[graft] def rebuildSide(
      pairs: Seq[(Long, Long)], k: Int,
      lt: (Long, Long) => Boolean): (Seq[VC], Option[Long]) = {
    val sorted = pairs.sortWith((a, b) => lt(a._1, b._1))
    if (sorted.length > k)
      (sorted.take(k).map(p => VC(p._1, p._2)), Some(sorted(k)._1))
    else (sorted.map(p => VC(p._1, p._2)), None)
  }

  /** Fold one changelog batch into the state. Work ∝ batch size plus
    * the rollup merge (≤ |groups| rows); the latest-state upsert is
    * the same anti-join + union fold the engine's snapshot tables use.
    * The candidate merge runs as a typed map over the rollup join —
    * per-row work is bounded by k + that group's batch traffic. */
  def applyBatch(state: State, changes: DataFrame): State =
    applyBatch(state, changes, StateBackend.Memory)

  /** [[applyBatch]] with the LATEST-state table persisted through an
    * explicit [[StateBackend]]. The memory backend re-materializes the
    * full latest frame every batch (localCheckpoint — O(state)/batch
    * by design, fine for bench envelopes); a durable backend receives
    * the batch's change set as a persist delta — `rows` = the
    * compacted non-tombstones, `keys` = every compacted key — so its
    * write cost is O(delta) (generation-chained, bucket-aligned:
    * [[BucketedParquetBackend]]), the deployment shape for 100×
    * state. The rollup/candidate table stays on the memory path
    * either way: it is ≤ |groups| rows, rollup-table-sized, not
    * state-sized. */
  def applyBatch(state: State, changes: DataFrame,
      backend: StateBackend): State = {
    val cc = compactBatch(changes).localCheckpoint()
    // The LATEST-state persist (O(state) memory rewrite / durable
    // parquet generation — the batch's single largest job) depends
    // only on (pre-batch latest, cc), and nothing below reads it until
    // the rare underflow rebuild. Submit it ASYNC so it overlaps the
    // lookup-join checkpoint and the rollup merge on the main thread —
    // one batch previously paid 4-6 strictly sequential barriers; now
    // the persist barrier is hidden behind the others (guide §2.6).
    val rows = cc.where(col("g_new").isNotNull)
      .select(col("k"), col("g_new").as("g"), col("v_new").as("v"))
    val latest = Waves.submit("aggregate: persist of ivm_agg_latest") { _ =>
      backend.persist("ivm_agg_latest",
        state.latest.join(cc.select("k"), Seq("k"), "left_anti")
          .unionByName(rows),
        delta = Some((rows, cc.select("k"))))
    }
    // A failed merge waits for the persist before it rethrows (the
    // persist's own failure aside): no persist outlives its call, and a
    // retried batch never persists beside a stray one.
    try mergeRollup(state, cc, () => Waves.await(latest))
    catch { case NonFatal(e) => scala.util.Try(Waves.await(latest)); throw e }
  }

  /** The rollup half of [[applyBatch]], run while the latest-state
    * persist is in flight; `awaitLatest` joins it. */
  private def mergeRollup(state: State, cc: DataFrame,
      awaitLatest: () => DataFrame): State = {
    val spark = cc.sparkSession
    import spark.implicits._
    val kk = state.k
    // kk == 0 (count/sum-only): the lookup join has ONE consumer (the
    // ±delta aggregate), so its checkpoint barrier is pure overhead —
    // fuse it into the merged-rollup plan (guide §2.4: a shared
    // materialization exists to dedup MULTIPLE consumers).
    val j =
      if (kk == 0)
        cc.join(state.latest
            .select(col("k"), col("g").as("g_old"), col("v").as("v_old")),
          Seq("k"), "left")
      else joined(state.latest, cc)
    val dAgg = deltas(j)
    val mergedAgg = state.agg.select("g", "cnt", "s")
      .join(dAgg, Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("cnt"),
        (coalesce(col("s"), lit(0).cast(sumType)) +
          coalesce(col("dv"), lit(0).cast(sumType))).cast(sumType).as("s"))
      .where(col("cnt") > 0)
    if (kk == 0) { // count/sum-only rollup: no candidate work at all
      val agg = mergedAgg.localCheckpoint() // overlaps the async persist
      return State(awaitLatest(), agg, kk)
    }
    val mergedCand = state.agg
      .select(col("g"), col("mins"), col("minb"), col("maxs"), col("maxb"))
      .join(valueTraffic(j), Seq("g"), "full_outer")
      .select(col("g"),
        coalesce(col("mins"), emptyVCs).as("mins"), col("minb"),
        coalesce(col("maxs"), emptyVCs).as("maxs"), col("maxb"),
        coalesce(col("dels"), emptyLongs).as("dels"),
        coalesce(col("ins"), emptyLongs).as("ins"))
      .as[Cand]
      .map { c =>
        val (mn, mnb) = mergeSide(c.mins, c.minb, c.dels, c.ins, kk, ltMin)
        val (mx, mxb) = mergeSide(c.maxs, c.maxb, c.dels, c.ins, kk, ltMax)
        CandState(c.g, mn, mnb, mx, mxb)
      }
      .toDF()
    // Checkpointed on the main thread while the latest-state persist
    // runs async; the rollup table is ≤ |groups| rows.
    val pre = mergedAgg.join(mergedCand, Seq("g"), "inner").localCheckpoint()
    // Underflow fallback: a group whose deletions drained a candidate
    // set rebuilds from the new latest state — restricted to exactly
    // those groups (broadcast semi-join on the tiny underflow list),
    // reduced map-side by TopKByScore so only k+1 values per side per
    // group ever shuffle.
    val under = pre
      .where(size(col("mins")) === 0 || size(col("maxs")) === 0)
      .select("g")
    val agg2 =
      if (under.isEmpty) pre
      else {
        val newLatest = awaitLatest() // the rebuild reads POST-batch state
        // MULTIPLICITY-AWARE rebuild: the candidate invariant counts
        // occurrences, and TopKByScore's TreeSet collapses equal
        // (score, id) pairs — correct for its LSH-candidate purpose,
        // wrong here where id = the value itself and duplicate values
        // are real (the r13 scale sweep's replicated data failed the
        // retraction require exactly this way). So: reduce to
        // per-(g, value) LIVE COUNTS first (map-side-combinable),
        // top-(k+1) over DISTINCT values (dedup now harmless — the
        // (k+1)-th occurrence always falls within the first k+1
        // distinct values), join the counts back, and expand
        // occurrences under the bound in a typed map (rebuildSide).
        val vc = cents(col("v"))
        val byVal = newLatest
          .join(broadcast(under), Seq("g"), "left_semi")
          .select(col("g"), vc.as("vc"))
          .groupBy("g", "vc").agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val top = byVal.groupBy("g")
          .agg(
            TopKByScore.topK(struct((-col("vc")).cast(DoubleType).as("score"),
              col("vc").as("id")), kk + 1).as("lo"),
            TopKByScore.topK(struct(col("vc").cast(DoubleType).as("score"),
              col("vc").as("id")), kk + 1).as("hi"))
        def withCounts(arr: String) = top
          .select(col("g"), explode(expr(s"transform($arr, x -> x.id)")).as("vc"))
          .join(byVal, Seq("g", "vc"))
          .groupBy("g")
          .agg(collect_list(struct(col("vc"), col("cnt"))).as(arr + "cs"))
        val rebuilt = withCounts("lo").join(withCounts("hi"), Seq("g"))
          .as[(String, Seq[(Long, Long)], Seq[(Long, Long)])]
          .map { case (g, lo, hi) =>
            val (mn, mnb) = rebuildSide(lo, kk, ltMin)
            val (mx, mxb) = rebuildSide(hi, kk, ltMax)
            CandState(g, mn, mnb, mx, mxb)
          }
          .toDF()
        pre.join(broadcast(under), Seq("g"), "left_anti")
          .unionByName(pre.select("g", "cnt", "s").join(rebuilt, Seq("g")))
          .localCheckpoint()
      }
    // No re-checkpoint when agg2 IS pre (the common no-underflow batch):
    // pre is already materialized — the old unconditional localCheckpoint
    // paid one extra copy + barrier per batch for nothing.
    State(awaitLatest(), agg2, kk)
  }

  /** The user-facing rollup: (g, cnt, s, mn, mx). After [[applyBatch]]
    * every live group's candidate sets are non-empty (underflows were
    * rebuilt), so the extremes are the candidate heads. */
  def rollup(state: State): DataFrame = {
    require(state.k > 0, "min/max rollup needs a candidate-tracking " +
      "state (empty(spark, k > 0)); k = 0 maintains count/sum only")
    state.agg.select(col("g"), col("cnt"), col("s"),
      (element_at(col("mins"), 1).getField("v") / 100.0).cast(valType).as("mn"),
      (element_at(col("maxs"), 1).getField("v") / 100.0).cast(valType).as("mx"))
  }

  /** The from-scratch aggregate of the latest state — the invariant
    * the maintained rollup must equal after every batch (spec + the
    * q_incr_agg / q_incr_minmax oracles check it). */
  def recompute(latest: DataFrame): DataFrame =
    latest.groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).cast(sumType).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
}
