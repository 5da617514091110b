package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.BloomBridge
import org.apache.spark.sql.types._
import graft.functions.{BitmapExpr, SortedIntersectExpr}

/** Deduplication operators for training-data pipelines: exact hashing,
  * n-gram Jaccard similarity join, MinHash+LSH, and SimHash.
  *
  * Design for 100 TB: exact dedup is a single hash-keyed aggregation;
  * the Jaccard join uses guaranteed-complete prefix filtering (a hot
  * gram contributes O(df²) candidate pairs, but globally-frequent
  * grams never rank into any document's prefix, so the candidate
  * shuffle stays bounded as the corpus grows); MinHash replaces the
  * gram join entirely with fixed-size signatures + banded LSH buckets,
  * making candidate generation O(docs × bands) — the probabilistic
  * scale path. All hashing is md5-derived and deterministic so the
  * DuckDB oracle replicates results bit-for-bit.
  */
object Dedup {

  /** Prime modulus for MinHash permutations (fits 31 bits so that
    * a*h+b stays within exact Long range). */
  val P: Long = 1000000007L

  /** Deterministic permutation constants — xorshift64 from a fixed
    * seed (NOT an LCG; the exact constant sequence is load-bearing for
    * cross-engine bit parity because the generated DuckDB oracles pin
    * it — re-derive only by re-running this generator). */
  val numPerms = 32
  val perms: Seq[(Long, Long)] = {
    var x = 88172645463325252L
    def next(): Long = { // xorshift64
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      math.floorMod(x, P - 1) + 1
    }
    Seq.fill(numPerms)((next(), next()))
  }
  val numBands = 8
  val rowsPerBand: Int = numPerms / numBands

  /** Base integer hash of a string: first 15 hex digits of md5 → Long
    * (same computable in DuckDB: ('0x' || substr(md5(g),1,15))::BIGINT). */
  def baseHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Exact duplicate groups by content hash. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Fuzzy-match (entity-resolution) pairs within Levenshtein distance
    * 1, blocked LOSSLESSLY by FastSS deletion neighborhoods: every
    * string emits itself plus each single-character deletion, and any
    * two strings within one edit MUST share a variant (substitution →
    * both delete the edited position; insert/delete → the longer
    * string's deletion equals the shorter string; equality → the
    * 0-deletion variant), so the candidate join is a plain equijoin on
    * variant keys — never an all-pairs levenshtein scan, whose O(n²)
    * comparisons are the reason naive fuzzy joins die first at scale.
    * Candidates dedupe on the id pair, then the codegen'd builtin
    * `levenshtein` verifies (a shared variant is necessary, not
    * sufficient). Fan-out per row = length+1 variants — linear in
    * corpus size; hot variants are bounded by how many strings really
    * are one edit apart, which is the answer's own size.
    *
    * @return (id_a, id_b, dist) with id_a < id_b, dist ≤ 1
    */
  def editDistancePairs(rows: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    // Variants dedupe WITHIN the row by a codegen filter, not a lambda:
    // delete(i) == delete(j) exactly when s[i..j] is a run of one
    // character, so keeping only the FIRST deletion position of each
    // run (i ≤ 1, or s[i] ≠ s[i−1]) emits each distinct variant once.
    // Zero-padded ids are all runs — without this the r deletions of an
    // r-run square into r²-fold candidate multiplicity through the
    // self-join. (A transform(...)-lambda array_distinct gives the same
    // rows but is CodegenFallback — measured 3.4 s of interpreted
    // evaluation at sf0.1 vs pennies for this filter.)
    // Spread BEFORE the explode: a dimension-sized input is often one
    // parquet split, and without this the entire variant + join +
    // verify pipeline runs in a single task (measured 5.8 s → 1.6 s at
    // sf0.1 from this line alone — the file is 2 MB, the WORK is not).
    // Conditional (Spread.ifNarrow): a wide scan at real scale keeps
    // its splits and pays no round-robin Exchange.
    val spread = graft.core.Spread.ifNarrow(rows)
    val v = spread
      .select(col(idCol).cast(LongType).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"),
        explode(sequence(lit(0), length(col("s")))).as("i"))
      .where(col("i") <= 1 ||
        expr("substring(s, i, 1) != substring(s, i - 1, 1)"))
      .select(col("id"), col("s"), col("i"),
        expr("case when i = 0 then s else " +
          "concat(substring(s, 1, i - 1), substring(s, i + 1, length(s) - i)) " +
          "end").as("variant"))
      // materialize ONCE: the self-join otherwise evaluates the
      // variant pipeline twice (broadcast build + probe side), and its
      // Generate stage pays a fresh whole-stage-codegen compile each
      // time (measured 3.2 s cold vs 0.4 s warm at sf0.1)
      .localCheckpoint()
    val a = v.select(col("id").as("id_a"), col("s").as("s_a"),
      col("i").as("i_a"), col("variant"))
    val b = v.select(col("id").as("id_b"), col("s").as("s_b"),
      col("i").as("i_b"), col("variant"))
    // The DELETION POSITIONS decide most pairs without the O(len²)
    // levenshtein DP (measured 4 s for ~1M calls at sf0.1 — the whole
    // query's bottleneck): sharing a variant with i_a = i_b = 0 means
    // the strings ARE equal (dist 0); exactly one zero means one string
    // is a single deletion of the other (dist 1 — lengths differ, so
    // never 0); equal nonzero positions mean they differ only at that
    // position (dist 1, or 0 for equal strings). Only i_a ≠ i_b > 0 —
    // the "rotation" shape, where a shared variant can hide distance
    // 2 — runs the DP. dist is the TRUE distance in every branch, so
    // a pair reached through several variants collapses in the
    // distinct without disagreement.
    a.join(b, Seq("variant"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("i_a") === 0 && col("i_b") === 0, lit(0L))
          .when(col("i_a") === 0 || col("i_b") === 0, lit(1L))
          .when(col("i_a") === col("i_b"),
            when(col("s_a") === col("s_b"), lit(0L)).otherwise(lit(1L)))
          .otherwise(levenshtein(col("s_a"), col("s_b")).cast(LongType))
          .as("dist"))
      .where(col("dist") <= 1)
      .distinct()
  }

  /** Entity-resolution fuzzy pairs by Jaro-Winkler similarity ≥ τ
    * over the DISTINCT values of a short-string column (names, product
    * titles, vocabulary terms — never whole documents; see
    * [[graft.functions.JaroWinklerExpr]]).
    *
    * Blocking is the first character: Winkler's prefix boost means a
    * pair disagreeing on char 1 already forfeits the boost and rarely
    * clears a high τ, so first-char blocking is the standard
    * candidate-generation choice for JW — a deliberate recall contract
    * (pairs differing at position 1 are not candidates), identically
    * applied by the oracle. Scale shape: the distinct catalog is tiny
    * relative to the corpus (it IS the entity vocabulary); the
    * self-join is a keyed equi-join on the block char whose per-block
    * cost is quadratic in block size — when a block grows hot, extend
    * the key with a length band (same contract, finer blocks). The
    * score is the codegen'd [[graft.functions.JaroWinklerExpr]], and
    * the τ filter compares RAW doubles: bit-parity with DuckDB's
    * implementation is fixture-pinned (JaroWinklerSpec), so the
    * survivor set is identical, not approximately so.
    *
    * @return (s_a, s_b, jw) with s_a < s_b, jw rounded to 6 decimals
    */
  def jaroWinklerPairs(rows: DataFrame, strCol: String,
      tau: Double): DataFrame = {
    val v = rows
      .select(col(strCol).as("s")).where(col("s").isNotNull).distinct()
      .withColumn("blk", substring(col("s"), 1, 1))
      .localCheckpoint() // catalog is small and probed twice
    val a = v.select(col("blk"), col("s").as("s_a"))
    val b = v.select(col("blk"), col("s").as("s_b"))
    a.join(b, "blk")
      .where(col("s_a") < col("s_b"))
      .withColumn("jw",
        graft.functions.JaroWinklerExpr.jaroWinkler(col("s_a"), col("s_b")))
      .where(col("jw") >= tau)
      .select(col("s_a"), col("s_b"), round(col("jw"), 6).as("jw"))
  }

  /** Exact-Jaccard near-duplicate pairs over distinct n-grams with
    * PREFIX FILTERING (ppjoin-style), which is guaranteed complete:
    * rank every doc's grams by a global (document-frequency, gram)
    * order; a pair with J ≥ τ must share a gram inside both docs'
    * prefixes of length n - ceil(τ·n) + 1, so the candidate join runs
    * only on prefix grams — globally-hot shingles never rank into a
    * prefix, bounding join fan-out as the corpus grows. The threshold
    * is the rational tauNum/tauDen so prefix lengths, size filters,
    * and the final J ≥ τ test are exact integer arithmetic (bit-equal
    * in any engine).
    *
    * On a dense gram universe the router runs the [[overlapJoin]]
    * bitmap tiers instead (routes J1, J2 in DEDUP_ROUTER.md); τ = 0
    * never routes there, since the dense scans pair ALL docs and the
    * prefix path only docs sharing ≥ 1 gram.
    *
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b, J ≥ τ
    */
  def ngramJaccardPairs(
      gramArrs0: DataFrame, // (id, grams array) — TextAnalysis.gramArrays
      idCol: String,
      tauNum: Long,
      tauDen: Long,
      denseUniverseMax: Long = ContainmentDenseUniverseMax,
      pairScanMaxDocs: Long = ContainmentPairScanMaxDocs,
      blockPairBudget: Long = ContainmentBlockPairBudget): DataFrame = {
    // Materialize the EXPLODED gram set once (dfs, prefix derivation,
    // verify). Checkpointing the compact array form and lazily
    // re-exploding was measured 6× SLOWER (68s vs 11s at sf0.1): every
    // reference to the exploded view re-derives it and the optimizer's
    // size estimate for a lazy explode mis-plans the downstream joins.
    val g = gramArrs0
      .select(col(idCol).as("id"), explode(col("grams")).as("gram"))
      .localCheckpoint()
    val dfs = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val bound = jaccardBound(tauNum, tauDen)
    // The dense tiers read a CHECKPOINTED df table; the prefix path
    // keeps the lazy aggregate (DEDUP_ROUTER.md, "Lazy df table").
    if (denseUniverseMax > 0 && tauNum > 0) {
      val dfsCp = dfs.localCheckpoint()
      val universe = dfsCp.count()
      if (universe <= denseUniverseMax) {
        val nDocs = g.select("id").distinct().count()
        if (nDocs <= pairScanMaxDocs) // J1
          return overlapJoin(docSets(g, dfsCp, Some(universe)), AllPairs, bound)
        // J2 while nDocs² fits the budget (DEDUP_ROUTER.md: no
        // Σ|block|² probe here); division form, because the square
        // overflows Long past ~3.0e9 docs (nDocs > 0 on this branch)
        if (nDocs <= blockPairBudget / nDocs) {
          val comp = gramComponents(g)
          return overlapJoin(docSets(g, dfsCp, Some(universe)),
            Blocked(comp), bound)
        }
      }
      // dense-but-wide universes fall through to prefix on purpose:
      // DEDUP_ROUTER.md row J4, measured in BENCH_AB_r17.md
    }
    val docPfx = docPrefix(g, dfs, tauNum, tauDen)
    // The self-join keys on xxhash64(gram), not the gram string: a
    // 64-bit hash compares/hashes faster and shuffles fewer bytes. A
    // collision can only ADD candidate rows (cnt inflation makes the
    // count bound keep MORE pairs, never fewer) and the verify is
    // exact on real grams — completeness and results are unaffected.
    val ranked = docPfx
      .select(col("id"), col("n"), explode(col("pfx")).as("gram"))
      .select(col("id"), col("n"), xxhash64(col("gram")).as("gh"))
    val a = ranked.select(col("id").as("doc_a"), col("gh"), col("n").as("na"))
    val b = ranked.select(col("id").as("doc_b"), col("gh"), col("n").as("nb"))
    // count filter (ppjoin-style): the full intersection is at most
    // (shared prefix grams) + min(suffix sizes), where each doc's
    // suffix size is ceil(τ·n) - 1; J ≥ τ needs intersection
    // ≥ ceil(τ/(1+τ)·(na+nb)), i.e. ≥ num·(na+nb)/(num+den). All
    // integer arithmetic — candidates drop from O(pairs sharing any
    // rare gram) to nearly the true pair count before verification.
    // The positional and asymmetric-prefix variants were measured and
    // rejected (DEDUP_ROUTER.md, "Jaccard count filter").
    val alphaNum = tauNum
    val alphaDen = tauNum + tauDen
    val suffix = (n: Column) =>
      floor((n * tauNum + (tauDen - 1)) / tauDen) - 1
    val cands = a.join(b, Seq("gh"))
      .where(bound.pairOk)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("cnt"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .where((col("cnt") + least(suffix(col("na")), suffix(col("nb")))) * alphaDen >=
        (col("na") + col("nb")) * alphaNum)
      .select("doc_a", "doc_b")
    exactVerify(cands, g, docPfx, bound)
  }

  /** ASYMMETRIC containment pairs: ordered (src, dst) where
    * |grams(src) ∩ grams(dst)| / |grams(src)| ≥ τ — the quote /
    * extraction / subset-duplication detector that symmetric Jaccard
    * misses (a paragraph lifted into a much longer page has high
    * containment but low Jaccard, so [[ngramJaccardPairs]]'s size
    * filter would reject it by design).
    *
    * Blocking is the one-sided prefix filter: containment ≥ τ means
    * the pair shares ≥ ⌈τ·n_src⌉ grams, so it must share one of src's
    * first n_src − ⌈τ·n_src⌉ + 1 grams in the global (df, gram) order
    * — src's RAREST grams. The candidate join therefore probes src
    * PREFIX grams against dst FULL gram postings: complete by the
    * standard prefix argument, and scale-safe because a posting list
    * is only ever walked for a gram that ranks into some doc's rarest
    * slice — a stopgram never does. Verification is exact integer
    * arithmetic on the true intersection (i·den ≥ num·n_src).
    *
    * On a DENSE corpus (bounded vocabulary, or no rare grams) the
    * prefix argument collapses — candidates approach all pairs — and
    * the router runs the [[overlapJoin]] tiers instead (routes C1–C4
    * in DEDUP_ROUTER.md).
    *
    * EAGER at call time — not a lazy plan builder: the exploded gram
    * table and its document frequencies localCheckpoint immediately
    * (they are read 2-3× downstream), and choosing the representation
    * runs a driver-blocking dictionary-size count before the plan is
    * returned (`denseUniverseMax = 0` skips the count and pins the
    * prefix-filter path, but the checkpoints still materialize).
    * Callers composing plans ahead of execution should defer the call
    * to execution time.
    *
    * @return (src, dst, n_src, n_shared, containment) — both
    *         directions of a mutual near-dup appear as two rows
    */
  def containmentPairs(
      gramArrs0: DataFrame, // (id, grams array) — TextAnalysis.gramArrays
      idCol: String,
      tauNum: Long,
      tauDen: Long,
      denseUniverseMax: Long = ContainmentDenseUniverseMax,
      pairScanMaxDocs: Long = ContainmentPairScanMaxDocs,
      blockPairBudget: Long = ContainmentBlockPairBudget): DataFrame = {
    // tau = 0 degenerates to "emit every ordered pair": the blocked
    // dense path only pairs docs sharing >=1 gram (cross-component and
    // isolated docs are dropped BY CONSTRUCTION), which equals the
    // full scan iff the threshold requires at least one shared gram.
    require(tauNum > 0 && tauDen > 0,
      s"containment threshold must be positive (got $tauNum/$tauDen); " +
        "tau = 0 would silently diverge between the dense branches")
    val g = gramArrs0
      .select(col(idCol).as("id"), explode(col("grams")).as("gram"))
      .localCheckpoint()
    val dfs = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val bound = containmentBound(tauNum, tauDen)
    if (denseUniverseMax > 0) {
      val universe = dfs.count()
      // dense = a bitmap-sized universe, or no rare grams at any
      // universe (p10(df) gate; DEDUP_ROUTER.md, "Density probe")
      val denseCorpus = universe <= denseUniverseMax ||
        dfs.stat.approxQuantile("df", Array(0.1), 0.001).head >
          ContainmentPrefixRareDfMax
      if (denseCorpus) {
        // bitmaps while the universe fits them, sorted gid arrays past it
        val bitmap = Some(universe).filter(_ <= denseUniverseMax)
        val nDocs = g.select("id").distinct().count()
        if (bitmap.isDefined && nDocs <= pairScanMaxDocs) // C1
          return overlapJoin(docSets(g, dfs, bitmap), AllPairs, bound)
        // C2/C3 while the MEASURED Σ|block|² fits the budget, C4 past it
        val comp = gramComponents(g)
        // coalesce: an edgeless corpus (no two docs share a gram)
        // leaves comp empty and sum-over-zero-rows yields null
        val sumSq = comp.groupBy("component").agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(col("c") * col("c")), lit(0L)).as("s"))
          .head().getLong(0)
        if (sumSq <= blockPairBudget)
          return overlapJoin(docSets(g, dfs, bitmap), Blocked(comp), bound)
        return overlapJoin(docSets(g, dfs, None),
          PrefixCands(g, docPrefix(g, dfs, tauNum, tauDen)), bound)
      }
    }
    val docPfx = docPrefix(g, dfs, tauNum, tauDen)
    val srcPfx = docPfx
      .select(col("id").as("src"), explode(col("pfx")).as("gram"))
      .select(col("src"), xxhash64(col("gram")).as("gh"))
    val dstAll = g.select(col("id").as("dst"), xxhash64(col("gram")).as("gh"))
    val cands = srcPfx.join(dstAll, "gh")
      .where(bound.pairOk)
      .select("src", "dst").distinct()
    exactVerify(cands, g, docPfx, bound)
  }

  /** Per-doc prefix in ONE keyed aggregation: collect (df, gram), sort
    * by the global (df, gram) order, slice to the prefix length
    * n - ceil(τ·n) + 1 (ceil(a/b) = (a + b - 1) div b). This replaces a
    * row_number window (sort shuffle) plus a separate per-doc size
    * aggregation and its join — measured 3.9s → 2.6s at sf0.1,
    * byte-identical prefix sets — and yields (id, n) for the verify for
    * free. The doc-level result is tiny (one row per doc, prefix ≈
    * 0.3·n grams), so it checkpoints cheaply.
    *
    * @return (id, n, pfx) */
  private def docPrefix(g: DataFrame, dfs: DataFrame,
      tauNum: Long, tauDen: Long): DataFrame = {
    val n = size(col("gs")).cast(LongType)
    g.join(dfs, "gram")
      .groupBy("id")
      .agg(collect_list(struct(col("df"), col("gram"))).as("gs"))
      .select(col("id"), n.as("n"),
        slice(sort_array(col("gs")), lit(1),
          (n - floor((n * tauNum + (tauDen - 1)) / tauDen) + 1).cast(IntegerType))
          .getField("gram").as("pfx"))
      .localCheckpoint()
  }

  /** Gram-connected components over the doc↔gram graph: each gram
    * edges its docs to the gram's min doc (O(rows), never O(pairs)) and
    * [[connectedComponents]] closes the transitive structure. Docs in
    * different components share no gram, so they never pair.
    * Checkpointed: the result is doc-count-sized and read twice (the
    * Σ|block|² probe and the blocked scan's join); re-running the CC
    * final round's join per consumer measured ~25% slower at sf1.
    *
    * @return (id, component) for every doc sharing a gram with another */
  private def gramComponents(g: DataFrame): DataFrame = {
    val gramRep = g.groupBy("gram").agg(min(col("id")).as("rep"))
    val compEdges = g.join(gramRep, "gram")
      .where(col("id") =!= col("rep"))
      .select(col("id").as("doc_a"), col("rep").as("doc_b"))
      .distinct()
    connectedComponents(compEdges, "doc_a", "doc_b")
      .select(col("id"), col("component")).localCheckpoint()
  }

  /** Dictionary sizes up to this use the bitmap representation
    * (≤ 512 longs = 4 KB per doc bitmap). */
  val ContainmentDenseUniverseMax: Long = 1L << 15

  /** Corpus sizes up to this use the broadcast all-pairs scan inside
    * the dense-universe path (≤ 4·10⁸ popcounts, shuffle-free); larger
    * corpora go to the blocked scans (DEDUP_ROUTER.md). */
  val ContainmentPairScanMaxDocs: Long = 20000L

  /** Prefix filtering is routed to only when the 10th-percentile
    * document frequency is at or below this: a doc's prefix grams are
    * its RAREST, so p10(df) bounds the typical per-prefix-gram
    * candidate fan-out. Above it no gram is rare — the corpus is
    * dense regardless of universe size, and the blocked scans own it
    * (r14: the sf3 corpus measured p10(df) ≈ 39 at U = 52k and the
    * prefix path died; real sparse corpora measure p10(df) = 1). */
  val ContainmentPrefixRareDfMax: Double = 8.0

  /** The blocked scans run only while Σ_b |block|² stays at or under
    * this budget (~2·10⁹ pair checks — a minute of one 32-core node;
    * scale the constant with cluster cores if needed). Beyond it the
    * component structure has effectively collapsed (a giant block's
    * Σ|block|² approaches corpus²) and containment streams prefix
    * candidates instead ([[PrefixCands]]), whose work tracks
    * Σ_prefix-grams df. */
  val ContainmentBlockPairBudget: Long = 2L << 30

  /** The prefix-candidate scan broadcasts its per-doc sorted-gid table
    * only while the measured payload (4 B per gid + row overhead) stays
    * at or under this — comfortably inside Spark's 8 GB broadcast hard
    * limit with headroom for the driver copy. Above it both lookups run
    * as shuffle joins on the candidate stream (graceful degrade, not an
    * envelope crash). */
  val ContainmentBroadcastMaxBytes: Long = 1L << 30

  // ---- the overlap-join kernel: doc sets × pair source × bound ---------
  //
  // Jaccard and containment over a dense gram universe are one sparse
  // overlap join: build each doc's gram set once, enumerate candidate
  // pairs, count |A ∩ B| in codegen, keep the pairs whose count clears
  // the bound. Each router tier is one combination of the three parts
  // below (DEDUP_ROUTER.md).

  /** Per-doc gram sets `docs` = (id, n, <set>) over the sorted gram
    * dictionary; `a`/`b` name the set column on the pair's two sides
    * and `overlap` counts |A ∩ B| inside whole-stage codegen. */
  private final case class DocSets(docs: DataFrame, set: String,
      a: String, b: String, overlap: (Column, Column) => Column)

  /** Gram → dense id over the sorted dictionary, each doc's gid set as
    * a U-bit bitmap (`bitmapUniverse = Some(U)`; popcount(AND)) or as a
    * sorted gid array (`None`: 4·|set| bytes, linear-merge intersect —
    * the compact form once U outgrows the bitmap). Checkpointed: every
    * pair source reads it twice. */
  private def docSets(g: DataFrame, dfs: DataFrame,
      bitmapUniverse: Option[Long]): DocSets = {
    // single-partition window: it orders the ≤U-row dictionary, never
    // the data
    val dict = dfs.select(col("gram"))
      .withColumn("gid",
        (row_number().over(Window.orderBy("gram")) - 1).cast(IntegerType))
    val byDoc = g.join(broadcast(dict), "gram").groupBy("id")
    val n = size(col("gids")).cast(LongType).as("n")
    bitmapUniverse match {
      case Some(u) =>
        val docs = byDoc.agg(collect_list(col("gid")).as("gids"))
          .select(col("id"), n,
            BitmapExpr.bitmapBuild(col("gids"), ((u + 63) / 64).toInt).as("bm"))
          .localCheckpoint()
        DocSets(docs, "bm", "bma", "bmb", BitmapExpr.bitmapAndCount)
      case None =>
        val docs = byDoc.agg(sort_array(collect_list(col("gid"))).as("gids"))
          .select(col("id"), n, col("gids"))
          .localCheckpoint()
        DocSets(docs, "gids", "ga", "gb", SortedIntersectExpr.sortedIntersectCount)
    }
  }

  /** Where the candidate pairs come from. */
  private sealed trait PairSource
  /** Every pair, scanned map-side against the BROADCAST set table: no
    * shuffle, O(nDocs²) popcounts. */
  private case object AllPairs extends PairSource
  /** Pairs within one gram-connected component (`comp` from
    * [[gramComponents]]): pair space Σ_b |block|², salted S ways so
    * one giant component cannot serialize into a single task. */
  private final case class Blocked(comp: DataFrame) extends PairSource
  /** Pairs sharing one of the a-side doc's prefix grams (`pfx` from
    * [[docPrefix]]; complete by pigeonhole), streamed through two
    * lookups of the set table in the join's own stage — the candidate
    * stream never materializes, only τ-survivors reach the final
    * distinct. */
  private final case class PrefixCands(g: DataFrame, pfx: DataFrame)
      extends PairSource

  /** The verify bound: the pair's id and size column names, its
    * pre-verify filters (`idOk` on ids, `sizeOk` on sizes) and
    * `verify`, which keeps the pairs whose intersection size clears
    * τ and projects the output columns. */
  private final case class Bound(a: String, b: String, na: String, nb: String,
      idOk: Column, sizeOk: Option[Column],
      verify: (DataFrame, Column) => DataFrame) {
    def pairOk: Column = (idOk +: sizeOk.toSeq).reduce(_ && _)
  }

  /** Symmetric Jaccard: doc_a < doc_b, the size filter τ·na ≤ nb ∧
    * τ·nb ≤ na, and i·den ≥ (na + nb − i)·num; every route computes
    * the jaccard value here, so all return bit-identical rows. */
  private def jaccardBound(num: Long, den: Long): Bound =
    Bound("doc_a", "doc_b", "na", "nb",
      col("doc_a") < col("doc_b"),
      Some(col("nb") * den >= col("na") * num &&
        col("na") * den >= col("nb") * num),
      (pairs, i) => pairs
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), i.as("i"))
        .where(col("i") * den >= (col("na") + col("nb") - col("i")) * num)
        .withColumn("jaccard",
          col("i").cast(DoubleType) / (col("na") + col("nb") - col("i")))
        .select(col("doc_a"), col("doc_b"), col("jaccard")))

  /** Ordered containment: src ≠ dst and n_shared·den ≥ n_src·num. */
  private def containmentBound(num: Long, den: Long): Bound =
    Bound("src", "dst", "n_src", "n_dst",
      col("src") =!= col("dst"), None,
      (pairs, i) => pairs
        .select(col("src"), col("dst"), col("n_src"), i.as("n_shared"))
        .where(col("n_shared") * den >= col("n_src") * num)
        .select(col("src"), col("dst"), col("n_src"), col("n_shared"),
          round(col("n_shared").cast(DoubleType) / col("n_src"), 6)
            .as("containment")))

  /** The overlap join: pairs from `source` over the `sets` table, each
    * checked by `bound` on its exact intersection size. */
  private def overlapJoin(sets: DocSets, source: PairSource,
      bound: Bound): DataFrame = {
    val aCols = Seq(col("id").as(bound.a), col("n").as(bound.na),
      col(sets.set).as(sets.a))
    val bCols = Seq(col("id").as(bound.b), col("n").as(bound.nb),
      col(sets.set).as(sets.b))
    val pairs = source match {
      case AllPairs =>
        sets.docs.select(aCols: _*)
          .crossJoin(broadcast(sets.docs.select(bCols: _*)))
          .where(bound.pairOk)
      case Blocked(comp) =>
        // docs absent from the component map share no gram with anyone
        // — they can produce no pairs and drop out here by construction
        val bc = sets.docs.join(comp, "id").localCheckpoint()
        val s = math.max(4, bc.sparkSession.sparkContext.defaultParallelism / 4)
        val a = bc.select(col("component") +:
          pmod(col("id"), lit(s)).as("__salt") +: aCols: _*)
        val b = bc.select(col("component") +:
          explode(sequence(lit(0), lit(s - 1))).as("__salt") +: bCols: _*)
        a.join(b, Seq("component", "__salt")).where(bound.pairOk)
      case PrefixCands(g, pfx) =>
        val prefix = pfx.select(col("id").as(bound.a), explode(col("pfx")).as("gram"))
        // measured gate: 4 B/gid + ~32 B/doc row overhead; over the
        // envelope the lookups run as SHUFFLED-HASH joins, never
        // sort-merge: every candidate row carries a gid ARRAY after the
        // first lookup, and sorting that wide stream is the plan that
        // killed the banded verify at sf3 (Similarity.cosinePairsBanded)
        val probe = sets.docs.agg(coalesce(sum(col("n")), lit(0L)),
          count(lit(1))).head()
        val estBytes = probe.getLong(0) * 4L + probe.getLong(1) * 32L
        val hint = (df: DataFrame) =>
          if (estBytes <= ContainmentBroadcastMaxBytes) broadcast(df)
          else df.hint("shuffle_hash")
        val cands = prefix.join(g.select(col("id").as(bound.b), col("gram")), "gram")
          .where(bound.idOk)
          .select(bound.a, bound.b)
          .join(hint(sets.docs.select(aCols: _*)), bound.a)
          .join(hint(sets.docs.select(bCols: _*)), bound.b)
        bound.sizeOk.fold(cands)(cands.where)
    }
    val out = bound.verify(pairs, sets.overlap(col(sets.a), col(sets.b)))
    source match {
      // a pair survives once per shared prefix gram — all its rows are
      // identical, and only τ-survivors (output-sized) reach here
      case _: PrefixCands => out.distinct()
      case _ => out
    }
  }

  /** Exact verify of candidate pairs `cands` (the bound's two id
    * columns) against the exploded gram table `g` = (id, gram): count
    * |A ∩ B| per pair, join both sizes from `sizes` = (id, n), and keep
    * the pairs that clear `bound`. Serves J3, C5 and [[minhashPairs]].
    *
    * Counter-experiment (sf0.1, 46k MinHash candidates): computing the
    * intersection as a per-pair `array_intersect` over the two gram
    * ARRAYS measured 6.9 s vs 4.4 s for this exploded shape. A doc
    * appears in ~30 candidate pairs, so the array form copies every
    * ~30 KB gram array into each of its pairs (~2.7 GB through two
    * joins) while the exploded rows here total ~240 MB — exploded +
    * pair-keyed count is the LESS shuffle-heavy form whenever docs
    * recur across candidates. */
  private def exactVerify(cands: DataFrame, g: DataFrame, sizes: DataFrame,
      bound: Bound): DataFrame = {
    // Materialize the candidate pairs once: they are few (the filters
    // upstream exist precisely to make them few) but their plan is the
    // expensive half of the query — every reuse below must NOT
    // re-derive it.
    val c = cands.localCheckpoint()
    // Restrict each gram side to docs that actually appear in a
    // candidate pair BEFORE the intersection join: the candidate id
    // sets are tiny relative to the corpus (AQE broadcasts them), so
    // the (doc, gram) join below scales with candidate volume instead
    // of shuffling the full gram corpus.
    def grams(id: String) =
      g.join(c.select(col(id).as("id")).distinct(), Seq("id"), "left_semi")
        .select(col("id").as(id), col("gram"))
    val inter = c.join(grams(bound.a), bound.a)
      .join(grams(bound.b), Seq(bound.b, "gram"))
      .groupBy(bound.a, bound.b).agg(count(lit(1)).as("i"))
    val sa = sizes.select(col("id").as(bound.a), col("n").as(bound.na))
    val sb = sizes.select(col("id").as(bound.b), col("n").as(bound.nb))
    bound.verify(inter.join(sa, bound.a).join(sb, bound.b), col("i"))
  }

  /** MinHash signatures: per doc, per permutation i, min over grams of
    * (a_i * (H(gram) mod P) + b_i) mod P. Output: (id, s0..s31).
    *
    * Input is the per-doc gram ARRAY (`TextAnalysis.gramArrays`), so
    * the whole computation is a map-side projection — the gram hashes
    * materialize once per row into `__h`, then each permutation is an
    * `array_min(transform(...))` over it. No gram-level shuffle exists
    * anywhere; per-doc base hashing via inline md5 of short shingles
    * stays inside whole-stage codegen (measured faster than a
    * distinct+broadcast-join hash table). */
  def minhashSignatures(gramArrs: DataFrame, idCol: String): DataFrame = {
    // Deliberately EXPLODED + declarative min aggregates, not per-row
    // array folds: array-lambda HOFs (transform/aggregate) are
    // CodegenFallback — interpreted per element — and after projection
    // collapse the gram hash would re-evaluate inside every one of the
    // 32 folds (lambda expressions are excluded from codegen CSE;
    // measured 14s vs 9s at sf0.1). The exploded form hashes each gram
    // once and runs 32 codegen'd min aggregates with map-side partial
    // aggregation, so the shuffle moves only 32 longs per doc.
    val h = gramArrs.select(col(idCol), explode(col("grams")).as("gram"))
      .withColumn("__h", baseHash(col("gram")) % P)
    val aggs = perms.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__h") + lit(b)) % P).as(s"s$i")
    }
    h.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, band, bh) rows: one md5-hashed band signature per doc per
    * band — the LSH bucket key shared by pair generation and cluster
    * edge generation. */
  private[graft] def bandedSignatures(
      gramArrs: DataFrame, idCol: String): DataFrame = {
    val sigs = minhashSignatures(gramArrs, idCol)
    val bandCols = (0 until numBands).map { bnd =>
      val parts = (0 until rowsPerBand).map(r => col(s"s${bnd * rowsPerBand + r}"))
      struct(lit(bnd).as("band"),
        md5(concat_ws("_", parts: _*)).as("bh")).as(s"b$bnd")
    }
    sigs.select(col(idCol).as("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Per-ROW banded signatures — the streaming-safe twin of
    * [[bandedSignatures]], producing the identical (id, band, bh)
    * rows from (id, text) directly. The batch form explodes grams and
    * runs 32 codegen'd min AGGREGATES, but an aggregation cannot run
    * inside a streaming append pipeline ahead of a stateful operator —
    * so this variant computes each document's full signature per row
    * via the native one-pass [[graft.functions.MinHashSigsExpr]]: a
    * pure projection, no shuffle, legal and incremental in a stream.
    * The note on [[minhashSignatures]] measured the exploded form
    * against lambda-HOF folds, not against this kernel; this kernel
    * measured faster in batch too (`neardup` 203.1 → 245.0 rec/s,
    * `operators.minhash_ms` 901 → 527 ms; CHANGES.md). The batch
    * switch waits on the `peak_storage_mb` listener fix (ROADMAP),
    * which today reads a faster run's extra iterations as more
    * storage. Same grams, same base hash, same permutations, same md5
    * band key ⇒ bucket-compatible with every batch consumer (parity
    * pinned in StreamingDedupSpec). */
  def bandedSignaturesRowwise(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val grams = df.select(col(idCol),
      array_distinct(transform(
        sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
        pos => substring(col(textCol), pos, lit(n)))).as("grams"))
    val sigs = grams.select(col(idCol),
      graft.functions.MinHashSigs.sigs(col("grams"), perms, P).as("__s"))
    val bandCols = (0 until numBands).map { bnd =>
      val parts = (0 until rowsPerBand)
        .map(r => element_at(col("__s"), bnd * rowsPerBand + r + 1))
      struct(lit(bnd).as("band"),
        md5(concat_ws("_", parts: _*)).as("bh")).as(s"b$bnd")
    }
    sigs.select(col(idCol).as("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** LSH candidate pairs: same md5-hashed band signature in any band,
    * then exact-Jaccard verification ≥ tau on full gram sets. */
  def minhashPairs(
      gramArrs0: DataFrame, // (id, grams array) — TextAnalysis.gramArrays
      idCol: String,
      tauNum: Long,
      tauDen: Long): DataFrame = {
    // The per-doc gram arrays feed signatures, sizes and both sides of
    // the verification join — materialize the compact array form once
    // (localCheckpoint: lineage-truncating block reuse) instead of
    // re-deriving it from text 4×.
    val gramArrs = gramArrs0.localCheckpoint()
    // Counter-experiment (r16 optimization round, kept for the
    // record): checkpointing `banded` before the self-join looks like
    // an obvious §2.4 share — both join sides re-derive the signature
    // pipeline's tail (the partial-aggregate EXCHANGE is deduplicated
    // by ReuseExchange, but the final aggregate + band md5 + Generate
    // above it plan twice). A warm in-session pass indeed measured
    // 6.04 → 4.17 s. But the bench's actual protocol is COLD
    // best-of-2 sessions, and there the eager checkpoint splits one
    // whole-stage-codegen pipeline into two compiles plus a
    // block-manager round-trip: two independent interleaved A/Bs
    // (3 + 5 rounds, fresh JVMs, same hosts/hours) both read median
    // ≈ 1.3× AGAINST the checkpoint for q_dedup_minhash. Rejected on
    // that measurement — the lazy twice-planned tail is the cheaper
    // form at session-cold reality, and ReuseExchange already carries
    // the expensive half.
    val banded = bandedSignatures(gramArrs, idCol)
    val l = banded.select(col("id").as("doc_a"), col("band"), col("bh"))
    val r = banded.select(col("id").as("doc_b"), col("band"), col("bh"))
    val bound = jaccardBound(tauNum, tauDen)
    val cands = l.join(r, Seq("band", "bh")).where(bound.idOk)
      .select("doc_a", "doc_b").distinct()
    // sizes are map-side off the arrays; the exploded gram view is only
    // consumed candidate-restricted inside exactVerify.
    val sizes = gramArrs.select(col(idCol).as("id"),
      size(col("grams")).cast(LongType).as("n"))
    val g = gramArrs.select(col(idCol).as("id"), explode(col("grams")).as("gram"))
    exactVerify(cands, g, sizes, bound)
  }

  /** Undirected duplicate-graph edges from LSH bucket membership: every
    * doc in a bucket links to the bucket's MINIMUM doc id (a star), not
    * to every other member — O(bucket size) edges instead of O(size²),
    * with identical connected components. This is the scalable cluster
    * construction: a pathological hot bucket of 1M docs emits 1M edges,
    * not 10¹² pairs. Output: (doc_a, doc_b) with doc_a > doc_b.
    *
    * Plan note: the bucket-min aggregation and the membership join key
    * on the same (band, bh), so the join reuses the aggregation's hash
    * partitioning — one shuffle total. */
  def lshBucketEdges(gramArrs: DataFrame, idCol: String): DataFrame = {
    // NOT checkpointed — see the counter-experiment note in
    // [[minhashPairs]]: the two consumers share the aggregation
    // exchange via ReuseExchange, and an eager checkpoint costs more
    // in cold codegen/compile splits than the deduped tail saves.
    val banded = bandedSignatures(gramArrs, idCol)
    val mins = banded.groupBy("band", "bh").agg(min(col("id")).as("mn"))
    banded.join(mins, Seq("band", "bh"))
      .where(col("id") =!= col("mn"))
      .select(col("id").as("doc_a"), col("mn").as("doc_b"))
      .distinct()
  }

  /** Connected components over an undirected edge list via alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", 2014) — converges in O(log n) rounds to
    * min-rooted stars, unlike naive label propagation whose round count
    * is the graph DIAMETER (a 1M-doc duplicate chain would need 1M
    * shuffles; this needs ~20). Each round is purely declarative:
    * a groupBy(min) plus a join on the SAME key, so Catalyst reuses the
    * aggregation's partitioning and each star step costs one shuffle
    * plus the dedup exchange. Per-round `localCheckpoint` truncates the
    * growing lineage (on a cluster: `checkpoint` to durable storage).
    *
    * @param edges0 undirected edges; self-loops and duplicates allowed
    * @return (id, component) for every node in the edge list, where
    *         component = the minimum node id in the component
    */
  def connectedComponents(
      edges0: DataFrame,
      uCol: String,
      vCol: String,
      maxIter: Int = 25,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    // Canonical orientation (u > v), self-loops dropped.
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col(uCol), col(vCol)).as("u"),
        least(col(uCol), col(vCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    // Fixed point ⟺ the edge set is a min-rooted star FOREST: no node
    // is both a child (u side) and a parent (v side), and no child has
    // two parents. Probing for that directly — one tiny action per
    // round — detects convergence the moment the producing round ends;
    // a fingerprint-equality test would spend one extra full round
    // producing an identical set just to observe it.
    def isStarForest(df: DataFrame): Boolean = {
      val childAndParent = df.select(col("v"))
        .join(df.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(lit(1).as("bad"))
      val multiParent = df.groupBy("u").agg(count(lit(1)).as("k"))
        .where(col("k") > 1).select(lit(1).as("bad"))
      childAndParent.union(multiParent).isEmpty
    }
    var e = canon(edges0).localCheckpoint()
    // The checkpoint just materialized the canonical edge set, so this
    // count reads cached blocks — and it buys the adaptive choice
    // below PLUS replaces the initial isEmpty probe.
    val nEdges = e.count()
    // Adaptive small-graph path — the local analogue of a broadcast-
    // join threshold. Duplicate graphs are sparse relative to the
    // corpus (edges come out of an exact verifier); when the whole
    // edge set fits one task comfortably, each star ROUND here costs
    // more in stage scheduling (~6 stages/round) than a single-task
    // union-find costs in total, so the iteration is pure overhead.
    // Above the threshold the O(log n)-round distributed algorithm is
    // the only thing that works — that path is unchanged.
    if (nEdges > 0 && nEdges <= localEdgeThreshold &&
        e.schema.fields.forall(_.dataType == LongType))
      return localComponents(e)
    var iter = 0
    // Do-while, not while: probing the raw input costs a round-sized
    // action and real edge lists are essentially never already stars —
    // a wasted round on star input is the cheaper rare case.
    var converged = nEdges == 0
    while (!converged && iter < maxIter) {
      // Large-star: for every node u (both orientations), attach each
      // STRICTLY LARGER neighbor to m = min(N(u) ∪ {u}). Emissions are
      // deliberately NOT deduplicated — both consumers below (a min
      // aggregate and the round-final distinct) are insensitive to
      // duplicates, and the intermediate exchange they would need costs
      // more than the dup rows.
      val adj = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = adj.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // m ≤ old u < old v
      // Small-star on the (u > v)-oriented result: attach u and all its
      // smaller neighbors to m = min of those neighbors.
      val mins2 = large.groupBy("u").agg(min(col("v")).as("m"))
      e = large.join(mins2, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint()
      converged = isStarForest(e)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds")
    // Star forest: every non-root points at its component minimum;
    // roots appear only on the v side. Connectivity is preserved by
    // both star steps, so each tree is exactly one input component.
    val nodes = e.select(explode(array(col("u"), col("v"))).as("id")).distinct()
    nodes.join(e.select(col("u").as("id"), col("v").as("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Single-task union-find over a small canonical edge set — the
    * [[connectedComponents]] fast path. Runs as ONE executor task (not
    * a driver collect): path-compressed union-by-min, so every node
    * roots at its component minimum, identical to the star algorithm's
    * fixed point. */
  private def localComponents(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        it.foreach { case (u, v) =>
          if (!parent.contains(u)) parent.update(u, u)
          if (!parent.contains(v)) parent.update(v, v)
          val ru = find(u)
          val rv = find(v)
          if (ru < rv) parent.update(rv, ru)
          else if (rv < ru) parent.update(ru, rv)
        }
        parent.keys.toArray.iterator.map(k => (k, find(k)))
      }
      .toDF("id", "component")
  }

  /** Novel-content filter for INCREMENTAL ingestion: the rows of
    * `batch` whose content does not appear in the (much larger) `seen`
    * corpus. The seen side collapses to a Bloom filter in ONE
    * map-side-combinable aggregation (partial filters OR together — the
    * corpus itself never shuffles), the batch probes it as a pure
    * per-row predicate (the filter ships to executors via a scalar
    * subquery, the same mechanism as Spark's injected runtime join
    * filters), and only the bloom-POSITIVE slice — true duplicates plus
    * ~fpp·|batch| false positives — reaches the exact anti-join
    * verifier. Bloom filters have no false negatives, so bloom-negative
    * rows are provably novel without any join, and the overall result
    * is EXACT: precisely batch ANTI JOIN seen by content hash, at the
    * shuffle cost of the duplicate slice.
    *
    * At 100 TB: a 1B-document seen corpus at 1% fpp is a ~1.1 GiB
    * filter — built distributed, resident once per executor — while
    * the verifying anti-join shuffles only the duplicate fraction of a
    * mostly-novel batch instead of the historical corpus.
    *
    * @param expectedItems expected distinct contents in `seen` (sizes
    *                      the filter; an undercount only raises the
    *                      false-positive rate, never breaks exactness)
    */
  def bloomNovel(
      batch: DataFrame,
      seen: DataFrame,
      textCol: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    // m = ceil(-n·ln p / ln²2), the standard optimal sizing
    val numBits = math.max(64L, math.ceil(
      -expectedItems.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomDf = seen.agg(BloomBridge.bloomAgg(xxhash64(col(textCol)), expectedItems, numBits).as("bf"))
    // Fresh subquery expression per use (distinct exprIds keep the
    // analyzer happy; physical ReuseSubquery dedups the execution).
    // coalesce: an EMPTY seen side aggregates to a null filter — then
    // nothing is a duplicate.
    def maybeSeen: Column = coalesce(
      BloomBridge.mightContain(
        BloomBridge.scalarSubquery(bloomDf), xxhash64(col(textCol))),
      lit(false))
    val novel = batch.where(!maybeSeen)
    val cand = batch.where(maybeSeen)
    val seenHashes = seen.select(md5(col(textCol)).as("__sh")).distinct()
    val verified = cand
      .join(seenHashes, md5(col(textCol)) === col("__sh"), "left_anti")
    novel.unionByName(verified)
  }

  /** 32-bit SimHash from gram hashes: bit j set iff the count of grams
    * with bit j set exceeds half (majority vote, expressed as
    * sum(±1) > 0). */
  def simhash(grams: DataFrame, idCol: String): DataFrame = {
    val h = grams.withColumn("__h32",
      conv(substring(md5(col("gram")), 1, 8), 16, 10).cast(LongType))
    val bitSum = (j: Int) =>
      sum(when(shiftright(col("__h32"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
    val simhashExpr = (0 until 32).map { j =>
      when(bitSum(j) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    h.groupBy(col(idCol)).agg(simhashExpr.as("simhash"))
  }
}
