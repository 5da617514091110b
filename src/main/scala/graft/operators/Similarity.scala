package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TopKByScore
import graft.core.Ckpt.CkptOps
import graft.core.Spread.SpreadOps

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline; LSH buckets and IVF
  * cells are the two approximate scale paths. All reductions use the
  * map-side-combinable [[TopKByScore]] aggregate (per-partition
  * partial top-k, then a k-row merge) — never a global per-qid window,
  * which would funnel every candidate row through |probes| tasks.
  * All arithmetic is double-precision codegen'd column expressions —
  * no UDFs.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  /** Cosine similarity, computed as dot/sqrt(|a|²·|b|²) — fused into a
    * single codegen'd pass (see [[graft.functions.CosineSimExpr]];
    * numerically identical to the composed column form). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimExpr.cosineSim(a, b)

  /** Rank candidate (qid, nid, cos) rows into (qid, rank, nid, cos)
    * keeping the top `k` per qid by (cos desc, nid asc). Partial
    * per-partition top-k + k-row merge — the shuffle after the
    * candidate join carries ≤ k rows per (partition, qid). Duplicate
    * (qid, nid) candidates (same pair via several probe buckets)
    * collapse inside the aggregate buffer. */
  private def rankTopK(candidates: DataFrame, k: Int): DataFrame =
    candidates
      .groupBy("qid")
      // ordering ties break by LOWER nid first, so feed -nid and flip
      // back? No: TopKByScore orders (score desc, id asc) natively.
      .agg(TopKByScore.topK(struct(col("cos"), col("nid")), k).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("qid"), (col("__pos") + 1).cast(LongType).as("rank"),
        col("__e").getField("id").as("nid"),
        col("__e").getField("score").as("cos"))

  /** Exact top-k cosine neighbors of each probe vector.
    *
    * The PROBE side broadcasts (it is the small side by construction);
    * the corpus streams partitioned, each task reducing its slice to
    * ≤ k rows per probe before the merge — no full-corpus broadcast,
    * no global window.
    *
    * @param probes  (qid, vec: array<double>)
    * @param corpus  (nid, vec: array<double>)
    * @return (qid, rank, nid, cos) — rank by (rounded cos desc, nid),
    *         self-matches excluded
    */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val joined = corpus.select(col("nid"), col("vec").as("__nv"))
      .crossJoin(broadcast(probes.select(col("qid"), col("vec").as("__qv"))))
      .where(col("qid") =!= col("nid"))
      // round to 6 decimals: the last-ulp of a double cosine differs
      // between engines/accumulation orders; ranking on the rounded
      // value with an id tiebreak is deterministic everywhere.
      .withColumn("cos", round(cosine(col("__qv"), col("__nv")), 6))
    rankTopK(joined, k)
  }

  /** Every corpus vector with cosine ≥ `tau` to ANY probe — the
    * embedding-space decontamination screen (probes = the eval set).
    * Probes broadcast; the corpus is scanned map-side once (never
    * shuffled, never replicated), and the per-corpus-vector reduce
    * keeps hit count, best cosine, and the closest probe
    * (min-qid tie). Output: (nid, n_hits, max_cos, worst_probe). */
  def thresholdMatches(
      probes: DataFrame, corpus: DataFrame, tau: Double): DataFrame = {
    corpus.select(col("nid"), col("vec").as("__nv"))
      .crossJoin(broadcast(probes.select(col("qid"), col("vec").as("__qv"))))
      .where(col("qid") =!= col("nid"))
      .withColumn("cos", round(cosine(col("__qv"), col("__nv")), 6))
      .where(col("cos") >= tau)
      .groupBy("nid")
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"),
        min(struct((-col("cos")).as("nc"), col("qid").as("q")))
          .getField("q").as("worst_probe"))
  }

  /** All pairs with cosine ≥ tau (near-duplicate detection by
    * embedding). Exact — O(n²) dot products; [[cosinePairsBlocked]]
    * is the distributed form of the same computation and
    * [[cosinePairsBanded]] the sub-quadratic approximate path. */
  def cosinePairs(corpus: DataFrame, tau: Double): DataFrame = {
    val a = corpus.select(col("nid").as("id_a"), col("vec").as("__va"))
    val b = corpus.select(col("nid").as("id_b"), col("vec").as("__vb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .where(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Exact all-pairs cosine ≥ tau as a BLOCK-PAIR EQUIJOIN — the
    * distributed exact path. Each vector hashes into one of
    * `numBlocks` blocks; side A replicates a block-`i` vector to every
    * block pair (i, j≥i), side B a block-`j` vector to every (i≤j, j),
    * and the join key is the pair id — so every unordered vector pair
    * meets in exactly one task, per-task memory is bounded by two
    * blocks, and the physical plan is a keyed shuffle join (NO
    * CartesianProduct / BroadcastNestedLoopJoin, which at 100× corpus
    * would put 10⁹ pairs in one stage).
    *
    * The O(n²) dot products are inherent to EXACT threshold search on
    * dense vectors (this corpus's near-dups sit at cos ≈ 0.45-0.6
    * against a ~N(0, 0.13) background — below any LSH-separable
    * regime; measured: every banding config either misses true pairs
    * or makes >90% of all pairs candidates). What the block
    * decomposition fixes is the EXECUTION shape: n²/2 work spread over
    * B(B+1)/2 independent tasks, shuffle volume n·(B+1)/2 vectors.
    * Pick `numBlocks` so a block fits executor memory; for genuinely
    * sub-quadratic search at realistic thresholds use
    * [[cosinePairsBanded]].
    */
  def cosinePairsBlocked(corpus: DataFrame, tau: Double, numBlocks: Int = 16): DataFrame = {
    val B = numBlocks
    val withBlock = corpus.select(col("nid"), col("vec"),
      pmod(hash(col("nid")), lit(B)).as("__blk"))
    val aSide = withBlock
      .withColumn("__j", explode(sequence(col("__blk"), lit(B - 1))))
      .select((col("__blk") * B + col("__j")).as("__pair"),
        col("__blk").as("__ba"), col("nid").as("id_a"), col("vec").as("__va"))
    val bSide = withBlock
      .withColumn("__i", explode(sequence(lit(0), col("__blk"))))
      .select((col("__i") * B + col("__blk")).as("__pair"),
        col("__blk").as("__bb"), col("nid").as("id_b"), col("vec").as("__vb"))
    aSide.join(bSide, "__pair")
      // same block: order by id to emit each pair once and drop self;
      // different blocks: roles are fixed by the (i<j) key, already
      // exactly-once
      .where(col("__ba") =!= col("__bb") || col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .where(col("cos") >= tau)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
  }

  /** Banded-LSH near-duplicate pairs + exact-cosine verify — the
    * sub-quadratic approximate path (the classic MinHash-banding shape
    * applied to random-hyperplane signatures): `bands` signatures of
    * `rowsPerBand` hyperplane bits each; vectors agreeing on ALL bits
    * of at least one band become candidates via a bucket equijoin, and
    * only candidates pay an exact cosine. Recall is tunable
    * (more/narrower bands → higher recall, more candidates) and is
    * measured against [[cosinePairs]] in SimilarityPlanSpec.
    *
    * THRESHOLD-REGIME CONTRACT (measured, r13 scale sweep): banding is
    * selective only for HIGH similarity thresholds. A band filters
    * non-neighbors by (p(τ)/p(random))^rowsPerBand where
    * p(θ) = 1 − θ/π per hyperplane bit and p(random) = 0.5 — at
    * τ ≥ 0.8 (p ≈ 0.80) the per-bit gap compounds fast and candidates
    * track true pairs, but at τ = 0.45 (p ≈ 0.65) no (bands,
    * rowsPerBand) setting filters meaningfully: reaching 10³×
    * selectivity would need ~27-bit bands whose recall is ~10⁻⁶.
    * Measured at the default 8×4 (128 buckets total): candidates are
    * ~n²/2.5 at every scale (1.6M/14M/161M for n = 2k/6k/20k — the
    * fixed-resolution index saturates) — and on the sweep corpus TRUE
    * pairs at τ = 0.45 are themselves quadratic (134/1.3k/15.6k), so
    * Ω(output) is quadratic regardless of algorithm. Operational
    * guidance: use this operator for near-dup thresholds (τ ≥ ~0.7),
    * and the IVF/cell family ([[ivfTopK]], semDedup) or the blocked
    * exact scan ([[cosinePairsBlocked]]) for low-threshold regimes. */
  def cosinePairsBanded(
      corpus: DataFrame,
      tau: Double,
      dim: Int,
      bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {
    // The band-key index carries ONLY (nid, bandKey) — never the
    // vector. Materialize it once (it is n×bands rows of two longs) so
    // the self-join's two sides don't each recompute the
    // bands×rowsPerBand hyperplane dot products per row. The signature
    // projection is bands·rowsPerBand·dim multiply-adds PER ROW, so
    // when that per-row cost is heavy (the OR-amplified mid tier runs
    // 2 400 planes) a narrow scan must spread before it — conditional
    // twice over: only past [[SignatureSpreadMinPlanes]] (at the
    // 128-plane fixed tiers hashing is ~8 k flops/row and an exchange
    // buys nothing it could amortize), and
    // only when the scan is narrower than the session parallelism
    // (no-op on wide cluster-scale scans, Spread scaladoc). The
    // partition probe rides the operator's documented eager contract,
    // like the count probe below.
    val src0 = corpus.select(col("nid"), col("vec"))
    val src =
      if (bands * rowsPerBand >= SignatureSpreadMinPlanes) src0.graftSpread()
      else src0
    val keys = src
      .select(col("nid"),
        explode(lshBandKeys(col("vec"), dim, bands, rowsPerBand)).as("__bk"))
      .graftCkptMem()
    // Candidates dedup as BARE id pairs (a pair can collide in several
    // bands) while rows are 16 bytes; the vectors join back in only
    // for the verify, once per unique pair. Measured at sf0.1: the
    // previous shape — groupBy(id_a,id_b) carrying both 64-dim vectors
    // through the shuffle — moved ~60× the bytes and ran 25.6 s vs
    // ~2 s for this one.
    val cand = keys.select(col("__bk"), col("nid").as("id_a"))
      .join(keys.select(col("__bk"), col("nid").as("id_b")), "__bk")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // The two vector lookups must NEVER become sort-merge joins: the
    // candidate stream is the quadratic-ish side, and after the first
    // lookup each row carries a dim-sized vector — an SMJ then SORTS
    // that wide stream by id_b (r15 sweep catch: at sf3 the 16×8 tier
    // had ~3·10⁸ candidates × ~540 B ≈ 160 GB of sort input, spilled
    // the disk to death; the hi tier's 2⁻¹⁶ bands had simply never
    // produced enough candidates to expose it). The vector table is
    // the LINEAR side (n·dim doubles): broadcast it while a measured
    // estimate fits the envelope — then the candidate stream never
    // shuffles at all — and beyond it force a shuffled-hash join,
    // which streams the wide rows through one exchange pass with no
    // sort (linear I/O, the honest cluster-scale degrade). The corpus
    // size comes off the already-materialized keys table (exactly
    // n·bands rows — explode of a non-null length-`bands` array), so
    // the probe never recomputes the caller's un-checkpointed lineage
    // (the eager-probe contract shared with the containment router).
    val vecBytes = (keys.count() / bands) * (8L + 8L * dim + 32L)
    val lookup = (df: DataFrame) =>
      if (vecBytes <= BandedVerifyBroadcastMaxBytes) broadcast(df)
      else df.hint("shuffle_hash")
    cand
      .join(lookup(corpus.select(col("nid").as("id_a"), col("vec").as("__va"))),
        "id_a")
      .join(lookup(corpus.select(col("nid").as("id_b"), col("vec").as("__vb"))),
        "id_b")
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .where(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Below this many hyperplanes (bands·rowsPerBand) the signature
    * stage is too cheap for a pre-hash spread to pay for its exchange
    * (~8 k flops/row at the 128-plane fixed tiers — exchange overhead
    * territory), while the 2 400-plane OR-amplified mid tier measures
    * the spread at 4.0 s → 1.8 s on a one-split sf0.1 scan. 256
    * splits the two regimes. */
  val SignatureSpreadMinPlanes = 256

  /** The banded verify broadcasts its vector table only while the
    * measured payload (8 B/double · dim + row overhead, from one
    * count probe) stays at or under this; beyond it the lookups run
    * as shuffled-hash joins — sort-free by construction, because the
    * one plan shape this operator can never afford is a sort of the
    * post-lookup wide candidate stream. */
  val BandedVerifyBroadcastMaxBytes: Long = 1L << 30

  /** Banding pays off only above this threshold (see the
    * THRESHOLD-REGIME CONTRACT on [[cosinePairsBanded]]); below it the
    * per-bit collision gap (p(τ) vs 0.5) cannot compound into real
    * selectivity at any recall-viable band width. */
  val NearDupBandedTauMin = 0.7

  /** Above this threshold the per-bit gap is wide enough for 16-bit
    * bands: p(0.9) ≈ 0.856, so a random pair collides in a given band
    * with prob 2⁻¹⁶ while an exact duplicate always collides — the
    * maximal-selectivity regime. */
  val NearDupBandedNearExactTau = 0.9

  /** Per-hyperplane collision probability of a pair at cosine `tau`
    * under random-hyperplane hashing: p(τ) = 1 − θ/π with
    * θ = acos(τ) (Goemans–Williamson / Charikar SimHash). */
  def bandCollisionProb(tau: Double): Double =
    1.0 - math.acos(tau) / math.Pi

  /** Closed-form banded-LSH recall at cosine exactly `tau`:
    * 1 − (1 − p(τ)^rows)^bands — the probability that a pair at the
    * threshold agrees on ALL rows of at least one band. Spec-pinned in
    * SimilarityPlanSpec (the router's tier parameters are DERIVED from
    * this formula, so the pin is the recall contract itself). */
  def bandedRecall(tau: Double, rowsPerBand: Int, bands: Int): Double = {
    val p = bandCollisionProb(tau)
    1.0 - math.pow(1.0 - math.pow(p, rowsPerBand), bands)
  }

  /** The mid tier's band width: 16 hyperplane rows per band/table, the
    * same ~2⁻¹⁶ per-table random-pair selectivity as the near-exact
    * tier — four decades of pair space gone before any verify. */
  val MidTierRowsPerBand = 16

  /** The mid tier's recall floor AT the queried threshold; the table
    * count is derived from it (see [[midTierTables]]). The former
    * fixed 16×8 config's recall floor was 0.80 (at the τ = 0.7
    * boundary; 0.88 at τ = 0.75 — above τ ≈ 0.77 it over-delivered
    * recall at 2⁷× the candidate cost), so the rework raises the
    * floor to 0.9 everywhere in the regime while cutting random-pair
    * candidate mass by ~2⁷/L (≈ 25× at τ = 0.75). */
  val MidTierTargetRecall = 0.9

  /** OR-amplification table count for the mid tier: the least L with
    * recall(τ, 16, L) = 1 − (1 − p(τ)¹⁶)^L ≥ [[MidTierTargetRecall]],
    * i.e. L = ⌈ln(1 − target) / ln(1 − p(τ)¹⁶)⌉. Pure function of the
    * QUERY threshold — never of the data — so the parameterization
    * replays deterministically in the SQL oracle at every corpus
    * size (τ = 0.75 → L = 150; τ = 0.7 → 245; τ = 0.89 → 31). */
  def midTierTables(tau: Double): Int = {
    require(tau >= NearDupBandedTauMin && tau < NearDupBandedNearExactTau,
      s"midTierTables is the 0.7 ≤ τ < 0.9 regime's parameterization; got $tau")
    val pr = math.pow(bandCollisionProb(tau), MidTierRowsPerBand)
    math.max(1, math.ceil(
      math.log(1.0 - MidTierTargetRecall) / math.log1p(-pr)).toInt)
  }

  /** Threshold-ROUTED near-duplicate pairs — the regime contract as an
    * executable front door instead of scaladoc guidance (the r13 sweep
    * measured the τ = 0.45 banded exemplar at α = 1.57 precisely
    * because it ran the anti-regime; this router makes that
    * misconfiguration impossible):
    *
    *  - τ < 0.7: [[cosinePairsBlocked]] — at low thresholds true pairs
    *    are themselves Ω(n²) on any corpus dense enough to care, and no
    *    (bands, rows) setting filters (reaching 10³× selectivity at
    *    τ = 0.45 needs ~27-bit bands with ~10⁻⁶ recall), so the honest
    *    plan is the exact block-pair equijoin: bounded tasks, no
    *    CartesianProduct, no index to saturate.
    *  - 0.7 ≤ τ < 0.9: [[cosinePairsBanded]] at L OR-amplified tables
    *    of 16 rows each, L = [[midTierTables]](τ) — the least L whose
    *    closed-form recall 1−(1−p(τ)¹⁶)^L clears
    *    [[MidTierTargetRecall]] (τ = 0.75 → L = 150, recall ≥ 0.9 AT
    *    the threshold and → 1 above it). Random-pair candidate mass is
    *    ≈ L·n²/2·2⁻¹⁶ — versus the pre-r16 fixed 16×8 tier's
    *    16·n²/2·2⁻⁸, a ~2⁷/L ≈ 25× cut at τ = 0.75 AND a strictly
    *    higher recall floor (the 16×8 tier's actual boundary recall
    *    was 0.88 at τ = 0.75 by the same formula). The narrow-band
    *    quadratic term still exists but its coefficient now sits four
    *    decades down: hashing cost (n·L·16·dim, linear) dominates
    *    until n ≈ 2·16·dim·2¹⁶ ≈ 10⁸ vectors per partition-group —
    *    the r15 wave-4 catch (16·n²/2⁹ candidate mass dominating at
    *    sf3, top-decade α 1.72) is gone by construction, not by doc
    *    note.
    *  - τ ≥ 0.9: 8 bands × 16 rows — per-band random collision 2⁻¹⁶,
    *    candidates ≈ 8·n²/2·2⁻¹⁶ = n²/16 384: four decades of pair
    *    space gone before any verify. Exact/near-exact duplicates
    *    (cos → 1, every hyperplane bit equal) are recalled with
    *    probability 1; recall decays toward the τ boundary
    *    (1−(1−p(0.9)¹⁶)⁸ ≈ 0.30 at cos exactly 0.9 — measured against
    *    the exact pairs in SimilarityPlanSpec), the standard
    *    selectivity/tail-recall trade of narrow bands. Callers needing
    *    high recall AT the 0.9 boundary should query just below it
    *    (τ = 0.89 → 31 OR-amplified tables, recall ≥ 0.9).
    *
    * Band resolution is a pure function of the QUERY (τ and the pinned
    * recall target), never of the data, so the operator replays
    * deterministically in the SQL oracle at every scale — the adaptive
    * alternative (resolution from n) would make the result a function
    * of corpus cardinality. */
  def nearDupPairs(corpus: DataFrame, tau: Double, dim: Int): DataFrame =
    if (tau >= NearDupBandedNearExactTau)
      cosinePairsBanded(corpus, tau, dim, bands = 8, rowsPerBand = 16)
    else if (tau >= NearDupBandedTauMin)
      cosinePairsBanded(corpus, tau, dim,
        bands = midTierTables(tau), rowsPerBand = MidTierRowsPerBand)
    else
      cosinePairsBlocked(corpus, tau)

  /** IVF (inverted-file) approximate top-k: assign every corpus vector
    * to its nearest of `nLists` centroids (one partition pass), then
    * search each probe only in the `nProbe` centroid cells nearest to
    * it. Centroids are a deterministic hash-sample of `nLists` corpus
    * vectors ([[seedSample]] — id-decorrelated, literal-replayable; a
    * k-means iteration would refine them — the assignment/probing
    * plumbing is identical). Cell assignment is a
    * broadcast of the centroid set; the probe-cell join is a keyed
    * equijoin — no cross join anywhere, the second 100 TB-scale path
    * besides LSH.
    */
  def ivfTopK(
      probes: DataFrame, // (qid, vec)
      corpus: DataFrame, // (nid, vec)
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4): DataFrame = {
    // The centroid set is tiny (nLists rows) — collect it and inline
    // each centroid as a literal vector, so cell assignment over the
    // full corpus is a pure codegen map expression: argmax of nLists
    // cosines per row, no crossJoin and no per-vector window shuffle.
    val cents: Array[(Long, Seq[Double])] =
      seedSample(corpus, nLists)
        .select(col("nid").cast(LongType), col("vec"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    if (cents.isEmpty)
      return probes.select(col("qid"), lit(0L).as("rank"),
        col("qid").as("nid"), lit(0.0).as("cos")).limit(0)
    def cellRank(vec: Column): Column = centroidRank(cents)(vec)
    val assigned = corpus
      .withColumn("cid", array_max(cellRank(col("vec"))).getField("cid"))
      .select(col("nid"), col("vec").as("__nv"), col("cid"))
    // nProbe nearest cells per probe (probe side is tiny)
    val probeCells = probes
      .withColumn("__cell",
        explode(slice(reverse(array_sort(cellRank(col("vec")))), 1, nProbe)))
      .select(col("qid"), col("vec").as("__qv"),
        col("__cell").getField("cid").as("cid"))
    // Each corpus vector lives in exactly one cell and probe cells are
    // distinct, so (qid, nid) appears at most once — no dedup needed.
    // Broadcasting the probe side keeps the 16-key cid join shuffle-free.
    val joined = assigned.join(broadcast(probeCells), Seq("cid"))
      .where(col("qid") =!= col("nid"))
      .withColumn("cos", round(cosine(col("__qv"), col("__nv")), 6))
    rankTopK(joined, k)
  }

  /** Deterministic hash-sampled seed selection for centroid/codebook
    * initialization: order by a Knuth multiplicative mix of the id
    * (id·1327217885 mod 2³¹, id as tiebreak) and take the first n.
    *
    * Why not first-n-by-id: real embedding corpora are id-correlated
    * (a crawl ingests source-by-source, so consecutive ids cluster),
    * and seeding from one id-neighborhood collapses most seeds into
    * one semantic region — downstream cells skew, and any in-cell
    * quadratic work (semDedup) concentrates in one hot cell. The
    * multiplicative mix scrambles id order even on tiny sequential
    * ranges (the multiplier wraps 2³¹ from id = 2 upward), giving a
    * uniform pseudo-random sample that is still LITERAL-REPLAYABLE in
    * any engine — pure 64-bit-safe integer arithmetic (operands stay
    * below 2⁶², no ANSI overflow, no engine-specific hash), stated in
    * each oracle as `(id % 2147483648) * 1327217885 % 2147483648`.
    *
    * ID-SPACE SCOPE: the mix keys off `id mod 2³¹`, so ids congruent
    * mod 2³¹ share a mix key — determinism is preserved (the full id
    * is the tiebreak) but the "uniform" claim holds only for id spaces
    * below 2³¹. Above that, sampling degrades toward per-residue-class
    * (still deterministic and replayable, never wrong — just less
    * uniform). A full-64-bit mix can't be expressed in overflow-free
    * portable SQL (id·multiplier exceeds 2⁶³ for id ≥ ~7·10⁹), so the
    * 2³¹ scope is the documented contract; corpora with wider id
    * spaces should pre-fold ids (e.g. xor-fold high into low 31 bits)
    * before seeding. */
  private def seedSample(corpus: DataFrame, n: Int): DataFrame =
    corpus.orderBy(
      pmod(pmod(col("nid").cast(LongType), lit(1L << 31)) * 1327217885L,
        lit(1L << 31)),
      col("nid")).limit(n)

  /** Per-centroid (cosine, cid) rank structs for argmax assignment:
    * struct ordering (d desc, cid asc) via lexicographic (d, -cid).
    * The assignment cosine rounds to 6 decimals (like every ranking
    * quantity here) so an argmax at a near-tie can't flip on a
    * last-ulp accumulation difference vs the oracle engine. Centroids
    * inline as literal vectors, so assignment over the full corpus is
    * a pure codegen map expression — no join, no shuffle. */
  private def centroidRank(cents: Array[(Long, Seq[Double])])(vec: Column): Column =
    array(cents.map { case (cid, cv) =>
      struct(round(cosine(vec, typedlit(cv)), 6).as("d"),
        lit(-cid).as("nc"), lit(cid).as("cid"))
    }: _*)

  /** Spherical k-means refinement (Lloyd's iterations): assign every
    * vector to its argmax-cosine centroid, recompute centroids as the
    * per-cell element-wise mean, repeat. Per iteration the cluster does
    * ONE corpus pass: assignment is a codegen argmax over inlined
    * literal centroids (no join — cosine is scale-invariant, so the
    * unnormalized mean works as the next centroid) and the mean is a
    * map-side-combinable (cid, pos) aggregation. Only the k×dim rounded
    * centroid matrix (a few KB) ever reaches the driver, to become the
    * next iteration's literals — corpus size never does. Cells that
    * lose all members drop out (k shrinks), matching the relational
    * oracle. Means round to 6 decimals each iteration so the refinement
    * trajectory is reproducible on any engine.
    *
    * Seeds are a deterministic hash-sample of `nLists` corpus vectors —
    * same convention as [[ivfTopK]] (which this refinement feeds).
    *
    * @return final (cid, pos, val, n_vecs): centroid cid's component at
    *         1-based pos, with the cell population
    */
  def kmeansRefine(
      corpus: DataFrame, // (nid, vec)
      nLists: Int = 16,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, "at least one refinement iteration")
    var cents: Array[(Long, Seq[Double])] =
      seedSample(corpus, nLists)
        .select(col("nid").cast(LongType), col("vec"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    var means: DataFrame = null
    for (i <- 1 to iters) {
      means = corpus
        .withColumn("cid", array_max(centroidRank(cents)(col("vec"))).getField("cid"))
        .select(col("cid"), posexplode(col("vec")).as(Seq("pos0", "val")))
        .select(col("cid"), (col("pos0") + 1).cast(LongType).as("pos"), col("val"))
        .groupBy("cid", "pos")
        .agg(round(avg(col("val")), 6).as("val"), count(lit(1)).as("n_vecs"))
      if (i < iters)
        cents = means.orderBy("cid", "pos").collect()
          .groupBy(_.getLong(0)).toArray
          .map { case (cid, rows) =>
            (cid, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq)
          }.sortBy(_._1)
    }
    means
  }

  /** Top principal component of the embedding second-moment
    * (covariance-scale) matrix by power iteration, then the corpus
    * projected onto it — the dimensionality-reduction readout
    * (PCA-whitening prep, embedding drift monitoring).
    *
    * Scale shape: the corpus contributes exactly ONE aggregation pass
    * ([[graft.functions.VecGramAgg]]: per-partition dim·(dim+1)/2
    * triangle buffers, one buffer per partition through the shuffle);
    * only the dim×dim matrix — never corpus data — reaches the driver,
    * where the `iters` power steps are O(iters·dim²) scalar work; the
    * projection is a second map pass with the eigenvector inlined as a
    * literal (pure codegen, no join). Same driver-literal feedback
    * pattern as [[kmeansRefine]]. Dividing by n (covariance scale,
    * same eigenvectors as the raw gram) keeps matrix entries O(1) at
    * any corpus size, so the exact integer iteration below cannot
    * overflow as the corpus grows.
    *
    * Determinism: floating-point trajectories flip rounding boundaries
    * between engines — MEASURED: with v0 uniform the matvec sums land
    * exactly ON a 5e-7 boundary for ~1/8 of components, making float
    * round-trips an engine coin flip. So the whole iteration runs in
    * EXACT scaled-integer arithmetic (micro-units, half-away-from-zero
    * via integer division); the only floating steps are the IEEE sqrt
    * (correctly rounded on identical input in any engine) and the
    * final projection dot, both rounding non-granular reals where a
    * boundary hit has ~1e-10 probability. The SQL oracle replays the
    * integer trajectory verbatim.
    *
    * @return (vec_id, pc1): projection of each vector onto the
    *         iterated component, rounded to 6 decimals
    */
  def pcaProject(corpus: DataFrame, dim: Int, iters: Int = 3): DataFrame = {
    val S = 1000000L
    // half-away-from-zero of a/b at integer precision (b > 0)
    def hup(a: Long, b: Long): Long = {
      val r = (2L * math.abs(a) + b) / (2L * b)
      if (a >= 0) r else -r
    }
    val row = corpus.agg(
        graft.functions.VecGramAgg.gram(col("vec"), dim).as("g"),
        count(lit(1)).as("n"))
      .collect()(0)
    val tri = row.getSeq[Long](0)
    val n = row.getLong(1)
    require(n > 0, "pcaProject needs a non-empty corpus")
    // covariance-scale matrix in exact micro-units: hup(tri / (n·1e6))
    val m = Array.ofDim[Long](dim, dim)
    var k = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val e = hup(tri(k), n * S); m(i)(j) = e; m(j)(i) = e; k += 1; j += 1
      }
      i += 1
    }
    val v0micro = (BigDecimal(1.0 / math.sqrt(dim))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) * BigDecimal(S)).toLongExact
    var v = Array.fill(dim)(v0micro)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim) { a =>
        var sum = 0L
        var b = 0
        while (b < dim) { sum += m(a)(b) * v(b); b += 1 }
        hup(sum, S) // micro-units
      }
      val s2 = hup(w.map(x => x * x).sum, S) // micro of Σw²
      val nrm = BigDecimal(math.sqrt(s2.toDouble / S))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val nrmMicro = (nrm * BigDecimal(S)).toLongExact
      v = w.map(x => hup(x * S, nrmMicro))
    }
    val vec = v.map(_.toDouble / S).toSeq
    corpus.select(col("nid").as("vec_id"),
      round(dot(col("vec"), typedlit(vec)), 6).as("pc1"))
  }

  /** SemDeDup-style semantic deduplication: vectors are assigned to
    * k-means cells (argmax cosine over the same deterministic seed
    * centroids as [[ivfTopK]]) and near-duplicate pairs are searched
    * ONLY within a cell — the quadratic pair space shrinks from
    * O(corpus²) to Σ O(cell²), and cell count scales with the corpus
    * so cell size (and per-task memory) stays roughly constant at
    * 100 TB. A vector is reported as a semantic duplicate when some
    * LOWER-id cell-mate exceeds the cosine threshold; the canonical
    * representative (`dup_of`) is the lowest such id, so "drop every
    * reported vec_id" deterministically keeps one exemplar per
    * near-dup set regardless of partitioning.
    *
    * Assignment is a codegen literal-centroid argmax (no join); the
    * in-cell pair search is a cid-keyed equijoin — no CartesianProduct
    * anywhere. A pathologically hot cell is handled the same way as a
    * hot join key elsewhere: raise `nLists` (finer cells) rather than
    * salting, which is exactly the SemDeDup recipe.
    *
    * @param corpus (nid, vec)
    * @return (vec_id, cell, dup_of, cos, n_near): duplicates only,
    *         cos = cosine to dup_of, n_near = lower-id cell-mates ≥ tau
    */
  def semDedup(corpus: DataFrame, tau: Double, nLists: Int = 16): DataFrame = {
    val cents: Array[(Long, Seq[Double])] =
      seedSample(corpus, nLists)
        .select(col("nid").cast(LongType), col("vec"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val assigned = corpus
      .withColumn("cid", array_max(centroidRank(cents)(col("vec"))).getField("cid"))
    val a = assigned.select(col("cid"), col("nid").as("dup_of"), col("vec").as("__va"))
    val b = assigned.select(col("cid"), col("nid").as("vec_id"), col("vec").as("__vb"))
    a.join(b, Seq("cid"))
      .where(col("dup_of") < col("vec_id"))
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .where(col("cos") >= tau)
      .groupBy(col("vec_id"), col("cid"))
      // min(struct) = row of the lowest dup_of (ids are unique per pair)
      .agg(min(struct(col("dup_of"), col("cos"))).as("__m"),
        count(lit(1)).as("n_near"))
      .select(col("vec_id"), col("cid").cast(LongType).as("cell"),
        col("__m").getField("dup_of").as("dup_of"),
        col("__m").getField("cos").as("cos"), col("n_near"))
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * transform a 100 TB vector corpus runs before indexing (4× smaller
    * than float32, 8× than float64). Per vector: scale = 127/max|v|
    * (rounded to 6 decimals so both engines quantize with the same
    * factor), q_i = round(v_i · scale) ∈ [−127, 127].
    *
    * Pure per-row projection — no shuffle, no join; the array lambdas
    * here are interpreted (CodegenFallback) but run once over a
    * dim-length array per row, which beats the shuffle a
    * posexplode/groupBy reshape would add just to regain codegen.
    * Checksums (sum, L1, max|q|) are integer-valued and
    * order-independent (each partial fits a double exactly), so the
    * output is engine- and partitioning-stable.
    *
    * @param corpus (nid, vec)
    * @return (vec_id, scale, q_sum, q_l1, q_max)
    */
  def quantizeInt8(corpus: DataFrame): DataFrame = {
    val maxAbs = array_max(transform(col("vec"), x => abs(x)))
    val q = transform(col("vec"), x => round(x * col("scale"), 0))
    corpus
      .withColumn("scale", round(lit(127.0) / maxAbs, 6))
      .select(col("nid").as("vec_id"), col("scale"),
        aggregate(q, lit(0.0), (a, x) => a + x).cast(LongType).as("q_sum"),
        aggregate(q, lit(0.0), (a, x) => a + abs(x)).cast(LongType).as("q_l1"),
        array_max(transform(q, x => abs(x))).cast(LongType).as("q_max"))
  }

  /** Deterministic pseudo-random hyperplanes: component d of plane m is
    * ±1 by bit 0 of a splitmix64-style avalanche mix of (m, d).
    *
    * WHY the multiply mix (r14 sweep catch): the original
    * xorshift-of-affine-input had no avalanche — xorshift is
    * GF(2)-LINEAR, so each output bit was a fixed XOR of input bits
    * and the sign was effectively linear in (m, d). Consequence:
    * consecutive planes were near-exact NEGATIONS (1-2/64 component
    * agreement), so a "16-bit" band carried ~2 effective bits — at
    * sf1 (30k vectors) the 8×16 tier concentrated 266M candidate
    * pairs in the two alternating-bit buckets 0x5555/0xAAAA instead
    * of the ~65k a real 2¹⁶ bucket space gives, and the r13 "banding
    * saturates at every resolution" measurement was partly THIS
    * degeneracy, not banding fundamentals. splitmix64's two
    * multiply-xorshift rounds are the standard finalizer with
    * measured avalanche; consecutive planes now agree on ~32/64
    * components (independent), pinned in SimilarityPlanSpec. */
  def planeSign(m: Int, d: Int): Double = {
    var x = m.toLong * 8191L + d.toLong + 0x9E3779B97F4A7C15L
    x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 27; x *= 0x94D049BB133111EBL
    x ^= x >>> 31
    if ((x & 1L) == 0L) 1.0 else -1.0
  }

  /** 16-bit LSH bucket id from random-hyperplane signs. The sign
    * quantity rounds to 6 decimals so a vector lying numerically ON a
    * plane hashes identically across engines (same convention as every
    * ranking cosine). */
  def lshBucket(vec: Column, dim: Int, numPlanes: Int = 16): Column = {
    val bits = (0 until numPlanes).map { m =>
      val plane = array((0 until dim).map(d => lit(planeSign(m, d))): _*)
      when(round(dot(vec, plane), 6) >= 0, lit(1L << m)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Per-band bucket keys for [[cosinePairsBanded]]: band `m` uses
    * planes m·rowsPerBand … m·rowsPerBand+rowsPerBand-1 and its key
    * embeds the band index, so buckets from different bands never
    * collide. Computed by the fused codegen expression
    * ([[graft.functions.LshBandKeysExpr]]) — the composed column form
    * below is numerically identical but pays bands×rowsPerBand
    * interpreted `aggregate(zip_with(...))` dot products per row (128
    * array allocations/row at the 8×16 tier — it dominated the r14
    * sweep's q_embed_dup_banded_hi times before the fusion). */
  def lshBandKeys(vec: Column, dim: Int, bands: Int, rowsPerBand: Int): Column =
    graft.functions.LshBandKeysExpr.bandKeys(
      vec, dim, bands, rowsPerBand, planeSign)

  /** The reference column-composed form of [[lshBandKeys]] — kept for
    * the parity property in SimilarityPlanSpec (the fused expression
    * must reproduce it bit-for-bit, rounding convention included). */
  private[graft] def lshBandKeysColumns(
      vec: Column, dim: Int, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { m =>
      val bits = (0 until rowsPerBand).map { j =>
        val plane = array((0 until dim).map(d =>
          lit(planeSign(m * rowsPerBand + j, d))): _*)
        when(round(dot(vec, plane), 6) >= 0, lit(1L << j)).otherwise(0L)
      }
      bits.foldLeft(lit(m.toLong * (1L << rowsPerBand)))(_ + _)
    }: _*)

  /** Approximate top-k: probes compare only against corpus vectors in
    * the same hyperplane bucket — a bounded, shuffle-keyed join instead
    * of a cross join; the 100 TB-scale path. With `multiProbe`, each
    * probe additionally visits every Hamming-1-adjacent bucket (flip
    * one hyperplane sign), raising recall sharply for vectors near a
    * plane at the cost of (numPlanes+1)× probe rows — probes are the
    * tiny side, so the join stays corpus-size-bounded. Duplicate
    * (qid, nid) candidates from adjacent buckets collapse inside the
    * top-k aggregate buffer (same rounded cos ⇒ same entry). */
  def lshTopK(probes: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      numPlanes: Int = 16, multiProbe: Boolean = true): DataFrame = {
    val pb0 = probes.withColumn("__b0", lshBucket(col("vec"), dim, numPlanes))
    val pb = (if (multiProbe) {
      val flips = lit(0L) +: (0 until numPlanes).map(m => lit(1L << m))
      pb0.select(col("qid"), col("vec"),
          explode(array(flips.map(f => col("__b0").bitwiseXOR(f)): _*)).as("__bucket"))
    } else pb0.withColumnRenamed("__b0", "__bucket"))
      .select(col("qid"), col("__bucket"), col("vec").as("__qv"))
    val cb = corpus.withColumn("__bucket", lshBucket(col("vec"), dim, numPlanes))
      .select(col("nid"), col("__bucket"), col("vec").as("__nv"))
    val joined = pb.join(cb, "__bucket").where(col("qid") =!= col("nid"))
      .withColumn("cos", round(cosine(col("__qv"), col("__nv")), 6))
    rankTopK(joined, k)
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the top-k most similar corpus vectors with a DIFFERENT label —
    * the pairs that actually move an embedding model (easy negatives
    * are already far; near-misses define the decision boundary).
    * Same execution contract as [[bruteForceTopK]]: anchors broadcast,
    * the corpus streams partitioned and reduces to ≤ k partial rows
    * per (partition, anchor) via [[TopKByScore]] — the label filter
    * rides the scan, no extra pass.
    *
    * @param probes (qid, vec, label)  @param corpus (nid, vec, label)
    * @return (qid, rank, nid, cos) — nearest wrong-label neighbors */
  def hardNegatives(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val joined = corpus
      .select(col("nid"), col("vec").as("__nv"), col("label").as("__nl"))
      .crossJoin(broadcast(probes
        .select(col("qid"), col("vec").as("__qv"), col("label").as("__ql"))))
      .where(col("qid") =!= col("nid") && col("__nl") =!= col("__ql"))
      .withColumn("cos", round(cosine(col("__qv"), col("__nv")), 6))
    rankTopK(joined, k)
  }

  /** Product-quantization top-k — the memory-bound ANN scale path LSH
    * and IVF don't cover: the CORPUS compresses to `m` small codes per
    * vector (here 8 codes over a 16-word codebook = 8 bytes vs 512 for
    * the raw doubles), and search never touches raw corpus vectors
    * again — asymmetric distance computation (ADC) sums per-subspace
    * distances the PROBE precomputes against the codebook
    * (Jégou et al., TPAMI'11). At 100 TB this is the difference
    * between an index that fits executor memory and one that doesn't.
    *
    * Deterministic, oracle-replayable construction in the IVF oracle's
    * convention: the codebook is the sub-vectors of the FIRST `nCodes`
    * corpus vectors by id (no training pass — [[kmeansRefine]] proves
    * that machinery separately and would drop in as the codebook
    * source). Encoding = per-subspace argmin of round-6 L2² with
    * first-index ties; ADC accumulates the rounded per-subspace
    * distances as exact DECIMAL (lmScore's recipe — order-free), so
    * both engines rank identical values.
    *
    * Shape at scale: encoding is PURE MAP-SIDE (codebook inlined as
    * literal expressions — k×dim driver scalars, the bounded-driver
    * contract); probes broadcast with their distance tables; the
    * ranking is the partial [[TopKByScore]] reduce. The corpus
    * shuffles only the ≤ k·|probes| partial top-k rows — raw vectors
    * never leave their scan tasks.
    *
    * @return (qid, rank, nid, adist) — rank by (adist asc, nid asc) */
  def pqTopK(probes: DataFrame, corpus: DataFrame, dim: Int, m: Int,
      nCodes: Int, k: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    // Codes number by nid WITHIN the hash-sampled set (driver-side
    // sort of nCodes rows) so both engines agree on code ids.
    val cb: Array[Seq[Double]] = seedSample(corpus, nCodes)
      .select(col("nid").cast(LongType), col("vec")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1))
    require(cb.length == nCodes, s"corpus has fewer than $nCodes vectors")
    // Corpus encoding AND probe distance tables through the fused
    // codegen expressions ([[graft.functions.PqEncodeExpr]],
    // [[graft.functions.PqDistTablesExpr]]): the composed column forms
    // paid m·nCodes interpreted HOF distance folds (+ a slice
    // allocation each) per row and inlined the codebook literals
    // m·nCodes times into the plan — 206 KB of plan text corpus-side
    // (fused in r16) plus 69 KB probe-side (fused this round; the
    // probe set is tiny but the literals were parsed/optimized/
    // codegen'd on every run — plans/r17/q_ann_pq_*.txt). Values are
    // bit-identical (parity pinned in SimilarityPlanSpec); ADC below
    // consumes the probe's distance TABLES by corpus code.
    val encoded = corpus
      .select(col("nid"),
        graft.functions.PqEncodeExpr.codes(col("vec"), dim, m, cb)
          .as("__codes"))
    val tables = probes.select(col("qid"),
      graft.functions.PqDistTablesExpr.tables(col("vec"), dim, m, cb)
        .as("__dts"))
    val dec = DecimalType(30, 6)
    val adist = (0 until m).map(s =>
      element_at(element_at(col("__dts"), s + 1),
        element_at(col("__codes"), s + 1).cast(IntegerType)).cast(dec))
      .reduce(_ + _)
    val cand = encoded.crossJoin(broadcast(tables))
      .where(col("qid") =!= col("nid"))
      .withColumn("adist", adist.cast(DoubleType))
    cand.groupBy("qid")
      .agg(TopKByScore.topK(
        struct((-col("adist")).as("score"), col("nid").as("id")), k).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("qid"), (col("__pos") + 1).cast(LongType).as("rank"),
        col("__e.id").as("nid"), (-col("__e.score")).as("adist"))
  }

  /** nDCG@k discount constants 1/log₂(r+1), r = 1..k, pinned as
    * 6-decimal BigDecimals COMPUTED ONCE HERE and emitted as literals
    * into both the Spark plan and the generated oracle SQL — the
    * cross-engine recipe that removes libm log parity from the
    * equation entirely (no runtime log on either engine). */
  def ndcgDiscounts(k: Int): Seq[BigDecimal] =
    (1 to k).map(r => BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP))

  /** Retrieval-quality evaluation of a ranked result list against
    * label ground truth: per probe, nDCG@k and MRR@k with binary
    * relevance (neighbor shares the probe's label).
    *
    * The eval is a JOIN over the ranked rows — |probes|·k rows, so its
    * cost is the ranking's, not the corpus's. DCG sums the literal
    * discount decimals exactly (no float-order dependence); the ideal
    * DCG is the literal cumulative sum at min(k, n_rel), where n_rel
    * counts the probe's relevant corpus items from the label marginals
    * (one tiny aggregate, broadcast back).
    *
    * @param ranked (qid, rank, nid, ...) — e.g. [[bruteForceTopK]]
    * @param labels (id, label)
    * @return (qid, n_rel, ndcg, mrr) — ndcg/mrr 6-decimal doubles
    */
  def retrievalEval(ranked: DataFrame, labels: DataFrame, k: Int): DataFrame = {
    val disc = ndcgDiscounts(k)
    val cum = disc.scanLeft(BigDecimal(0))(_ + _).tail
    def decLit(d: BigDecimal) = s"CAST('$d' AS DECIMAL(30,6))"
    val discCase = (1 to k)
      .map(r => s"WHEN $r THEN ${decLit(disc(r - 1))}")
      .mkString("CASE rank ", " ", s" ELSE ${decLit(BigDecimal(0))} END")
    val idcgCase = (1 to k)
      .map(j => s"WHEN $j THEN ${decLit(cum(j - 1))}")
      .mkString("CASE least(n_rel, " + k + ") ",
        " ", s" ELSE ${decLit(BigDecimal(0))} END")
    val qLab = labels.select(col("id").as("qid"), col("label").as("__qlab"))
    val labCounts = labels.groupBy(col("label").as("__qlab"))
      .agg(count(lit(1)).as("__nlab"))
    val nRel = qLab.join(broadcast(labCounts), "__qlab")
      .select(col("qid"), (col("__nlab") - 1).as("n_rel"))
    val nLab = labels.select(col("id").as("nid"), col("label").as("__nlab2"))
    val scored = ranked
      .join(broadcast(qLab), "qid")
      .join(broadcast(nLab), "nid")
      .withColumn("__rel", when(col("__qlab") === col("__nlab2"), 1L)
        .otherwise(0L))
      .groupBy("qid")
      .agg(
        sum(when(col("__rel") === 1, expr(discCase))
          .otherwise(expr(s"${decLit(BigDecimal(0))}"))).as("__dcg"),
        min(when(col("__rel") === 1, col("rank"))).as("__fr"))
    scored.join(broadcast(nRel), "qid")
      .select(col("qid"), col("n_rel").cast(LongType).as("n_rel"),
        when(expr(idcgCase) === expr(decLit(BigDecimal(0))), lit(0.0))
          .otherwise(round(
            col("__dcg").cast(DoubleType) /
              expr(idcgCase).cast(DoubleType), 6)).as("ndcg"),
        coalesce(round(lit(1.0) / col("__fr"), 6), lit(0.0)).as("mrr"))
  }

  /** The DuckDB oracle for [[retrievalEval]] over [[bruteForceTopK]]
    * ranks — generated from the SAME discount constants. */
  def retrievalEvalSql(probeFilter: String, k: Int): String = {
    val disc = ndcgDiscounts(k)
    val cum = disc.scanLeft(BigDecimal(0))(_ + _).tail
    def decLit(d: BigDecimal) = s"CAST('$d' AS DECIMAL(30,6))"
    val discCase = (1 to k)
      .map(r => s"WHEN $r THEN ${decLit(disc(r - 1))}")
      .mkString("CASE rank ", " ", s" ELSE ${decLit(BigDecimal(0))} END")
    val idcgCase = (1 to k)
      .map(j => s"WHEN $j THEN ${decLit(cum(j - 1))}")
      .mkString(s"CASE least(n_rel, $k) ",
        " ", s" ELSE ${decLit(BigDecimal(0))} END")
    s"""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
       |p AS (SELECT * FROM d WHERE $probeFilter),
       |s AS (SELECT p.vec_id AS qid, d.vec_id AS nid, p.label AS qlab,
       |        d.label AS nlab,
       |        round(list_cosine_similarity(p.v, d.v), 6) AS cos
       |      FROM p JOIN d ON p.vec_id <> d.vec_id),
       |r AS (SELECT qid, nid, qlab, nlab, cos,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
       |          AS BIGINT) AS rank
       |      FROM s),
       |t AS (SELECT * FROM r WHERE rank <= $k),
       |nr AS (SELECT p.vec_id AS qid,
       |         (SELECT count(*) FROM d WHERE d.label = p.label) - 1 AS n_rel
       |       FROM p),
       |agg AS (SELECT qid,
       |    sum(CASE WHEN qlab = nlab THEN $discCase
       |        ELSE ${decLit(BigDecimal(0))} END) AS dcg,
       |    min(CASE WHEN qlab = nlab THEN rank END) AS fr
       |  FROM t GROUP BY qid)
       |SELECT agg.qid, CAST(nr.n_rel AS BIGINT) AS n_rel,
       |  CASE WHEN $idcgCase = ${decLit(BigDecimal(0))} THEN CAST(0.0 AS DOUBLE)
       |    ELSE round(CAST(dcg AS DOUBLE) / CAST($idcgCase AS DOUBLE), 6)
       |  END AS ndcg,
       |  coalesce(round(CAST(1.0 AS DOUBLE) / fr, 6), CAST(0.0 AS DOUBLE)) AS mrr
       |FROM agg JOIN nr ON agg.qid = nr.qid
       |ORDER BY agg.qid""".stripMargin
  }
}
