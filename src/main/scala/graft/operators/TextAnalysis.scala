package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Spread.SpreadOps
import graft.functions.TopKByScore

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, heuristic language ID,
  * character-shingle extraction, and min-hash document fingerprints.
  *
  * Everything is built from codegen'd `functions._` columns — no UDFs —
  * so whole-stage codegen covers the hot path and the same semantics
  * are expressible as ANSI SQL for the DuckDB oracle.
  */
object TextAnalysis {

  /** Word tokens: maximal [a-z0-9]+ runs of the lowercased text. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Deterministic hash bucket in [0, buckets) — the reproducible
    * train/eval split primitive: the same record lands in the same
    * bucket on any engine, any run, any cluster (md5-derived, matches
    * DuckDB's ('0x'||substr(md5(x),1,15))::BIGINT % buckets). */
  def hashBucket(key: Column, buckets: Int): Column =
    conv(substring(md5(key.cast(StringType)), 1, 15), 16, 10)
      .cast(LongType) % buckets

  /** 52-bit md5-prefix hash — exactly representable in a double (no
    * precision loss inside double-scored aggregates) and reproducible
    * in DuckDB as ('0x'||substr(md5(x),1,13))::BIGINT. */
  def hash52(key: Column): Column =
    conv(substring(md5(key.cast(StringType)), 1, 13), 16, 10).cast(LongType)

  /** K-minimum-values distinct sketch per group: keeps the k smallest
    * DISTINCT 52-bit hashes of `keyCol` and estimates the group's
    * distinct count as (k−1)·2⁵²/h_k (integer division; groups with
    * fewer than k distinct hashes report their exact size — the sketch
    * IS the whole distinct set there). Unlike HLL registers the sketch
    * is a uniform sample of the distinct domain, so merged sketches
    * answer union/intersection cardinalities too.
    *
    * Shape at scale: NO distinct set is ever built — [[graft.functions
    * .TopKByScore]] keeps each partition's k smallest hashes map-side
    * (exact duplicates collapse inside the buffer), so the shuffle
    * carries ≤ k rows per (partition, group) no matter how many rows
    * or distinct values the group has.
    *
    * Output: (groupCol, kmv_distinct: long, kmv_size: long) where
    * kmv_size = min(k, distinct) — callers wanting the exact/sketch
    * twin add their own countDistinct alongside. */
  /** The raw KMV sketch per group: the k smallest distinct 52-bit
    * hashes of `keyCol`, ascending, as one array column `kmv`. */
  def kmvSketch(rows: DataFrame, groupCol: String, keyCol: String,
      k: Int): DataFrame =
    rows.select(col(groupCol), hash52(col(keyCol)).as("__h"))
      .groupBy(groupCol)
      .agg(TopKByScore.topK(
        struct((-col("__h")).cast(DoubleType).as("score"),
          col("__h").as("id")), k).as("__kmv"))
      // best-first by score = ascending by hash; project ids out
      .select(col(groupCol),
        transform(col("__kmv"), e => e.getField("id")).as("kmv"))

  /** Pairwise corpus overlap from merged KMV sketches — the set
    * algebra HLL registers can't do. For each group pair (a < b):
    * the k smallest hashes of kmv_a ∪ kmv_b form a valid sketch of
    * A ∪ B (each is ≤ both sketches' maxima, so sketch membership is
    * an EXACT set test there); `k_common` counts merged-sketch hashes
    * present in both sides, estimating Jaccard as k_common/|D| and the
    * intersection as (union_est div |D|) · k_common (divide first —
    * the product k_common · union_est can overflow a long; both
    * engines evaluate the identical order so results stay byte-exact).
    * Groups whose union has < k distinct hashes degrade to EXACT
    * counts (the merged sketch is the whole union).
    *
    * Shape at scale: the corpus reduces to ONE ≤ k·|groups| sketch
    * table (same bounded aggregate as [[kmvSketch]]); the pair join is
    * |groups|² rows of k-length arrays — driver-free, broadcastable,
    * and independent of corpus size. The exact twin (q_dup_matrix's
    * full pairwise distinct-join) re-shuffles the corpus per pair. */
  def kmvOverlap(rows: DataFrame, groupCol: String, keyCol: String,
      k: Int): DataFrame = {
    require(k > 1 && k <= 2048, s"kmv k must be in (1, 2048], got $k")
    val numerator = (k - 1).toLong << 52
    val sk = kmvSketch(rows, groupCol, keyCol, k)
    val a = sk.select(col(groupCol).as("src_a"), col("kmv").as("ka"))
    val b = sk.select(col(groupCol).as("src_b"), col("kmv").as("kb"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("__nu", size(array_union(col("ka"), col("kb"))))
      .withColumn("__u",
        slice(array_sort(array_union(col("ka"), col("kb"))), 1, k))
      .withColumn("k_common",
        size(array_intersect(array_intersect(col("__u"), col("ka")),
          col("kb"))).cast(LongType))
      .withColumn("union_est",
        when(col("__nu") < k, col("__nu").cast(LongType))
          .otherwise(expr(
            s"${numerator}L div greatest(get(__u, ${k - 1}), 1L)")))
      .withColumn("inter_est",
        expr("(union_est div size(__u)) * k_common"))
      .select(col("src_a"), col("src_b"), col("k_common"),
        col("union_est"), col("inter_est"))
  }

  def kmvDistinct(rows: DataFrame, groupCol: String, keyCol: String,
      k: Int, withExact: Boolean = false): DataFrame = {
    require(k > 1 && k <= 2048, s"kmv k must be in (1, 2048], got $k")
    val numerator = (k - 1).toLong << 52
    // `withExact` joins the exact-distinct verification twin from a
    // SEPARATE aggregate over a memoized input (|groups|-row join) —
    // folding countDistinct into the sketch aggregate would trigger
    // Catalyst's distinct rewrite, which re-keys the partial TopK by
    // (group, hash) and shuffles one buffer per DISTINCT hash: the
    // exact wide shuffle the sketch exists to avoid. Verify-SF only.
    val src =
      if (withExact) rows.select(col(groupCol), col(keyCol)).localCheckpoint()
      else rows
    val sketch = kmvSketch(src, groupCol, keyCol, k)
      .withColumn("kmv_distinct",
        when(size(col("kmv")) < k, size(col("kmv")).cast(LongType))
          .otherwise(expr(
            s"${numerator}L div greatest(get(kmv, ${k - 1}), 1L)")))
      .withColumn("kmv_size", size(col("kmv")).cast(LongType))
      .drop("kmv")
    if (!withExact) sketch
    else sketch.join(
      src.groupBy(groupCol)
        .agg(countDistinct(hash52(col(keyCol))).as("exact_distinct")),
      Seq(groupCol))
  }

  /** Adjacent word-token bigrams ("w1 w2") as an array column (one
    * zip_with pass over the token array). Input must have ≥ 2 tokens. */
  def bigrams(toks: Column): Column = {
    val n = size(toks)
    zip_with(
      slice(toks, lit(1), n - 1),
      slice(toks, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** GPT2-flavored pre-tokenizer pattern (no lookahead — portable
    * between Java regex and RE2): space-prefixed letter runs, digit
    * runs, and punctuation runs. */
  val bpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpePattern), lit(0)))

  /** Distinct character n-grams; short texts yield a single (possibly
    * shorter) gram. Exploded form: (id, gram).
    *
    * Dedup happens per row with `array_distinct` BEFORE the explode —
    * ids are unique per document, so this equals a global distinct on
    * (id, gram) while staying entirely map-side: no shuffle of the
    * exploded gram corpus, which at 100 TB is the difference between a
    * narrow scan stage and the largest shuffle in the pipeline. */
  def grams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    gramArrays(df, idCol, textCol, n)
      .select(col(idCol), explode(col("grams")).as("gram"))

  /** Distinct n-grams as one array per document: (id, grams). The
    * compact form signature/sketch operators consume — everything
    * derivable per document (MinHash, SimHash, sizes) can then run
    * map-side with `transform`/`aggregate`, no gram-level shuffle. */
  def gramArrays(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // Spread the (small) doc rows across the cluster BEFORE the gram
    // fan-out: a compact parquet scan may arrive in a handful of
    // partitions, and without this the widest data in the pipeline
    // would run at the scan's parallelism. Shuffling doc rows costs
    // |docs|; shuffling grams would cost |docs|·|text|. Conditional
    // (Spread.ifNarrow): an already-wide scan keeps its splits and
    // pays no round-robin Exchange.
    graft.core.Spread.ifNarrow(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        array_distinct(transform(
          sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
          pos => substring(col(textCol), pos, lit(n)))).as("grams"))
  }

  /** Per-language marker words for the language heuristic (latin
    * scripts score by stopword-token membership; zh by CJK marker-char
    * occurrences since it has no space-separated tokens). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "les", "et", "une", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Count of tokens belonging to a marker set. */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** PII scrub patterns — deliberately plain ASCII character classes
    * so Java regex (Spark) and RE2 (DuckDB) agree on every match:
    * no lookaround, no unicode classes, `\b` only against ASCII text.
    * Order matters: emails first (their local part would otherwise
    * lose digit runs to the card pattern). */
  val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val longDigitsPat = "\\b\\d{13,19}\\b" // card/account-number shaped

  /** Redact PII in place and count what was removed — the corpus-prep
    * scrub pass. A pure projection (three codegen'd regexp_replace +
    * three regexp_extract_all counts): no shuffle, scales linearly,
    * pipelines with any downstream operator. */
  def scrubPii(text: Column): Column = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPat, "<EMAIL>"),
        ipv4Pat, "<IP>"),
      longDigitsPat, "<NUM>")
    struct(
      scrubbed.as("clean"),
      size(regexp_extract_all(text, lit(emailPat), lit(0))).cast(LongType).as("n_emails"),
      size(regexp_extract_all(text, lit(ipv4Pat), lit(0))).cast(LongType).as("n_ips"),
      size(regexp_extract_all(
        regexp_replace(regexp_replace(text, emailPat, "<EMAIL>"), ipv4Pat, "<IP>"),
        lit(longDigitsPat), lit(0))).cast(LongType).as("n_nums"))
  }

  /** Overlapping fixed-size token chunks per document — the
    * RAG/pretraining chunker: windows of `chunk` tokens advancing by
    * `chunk - overlap`, last window truncated, one chunk for any
    * non-empty doc. A pure per-row explode (chunk count is derived
    * arithmetic, no shuffle); downstream per-chunk work inherits the
    * document partitioning.
    *
    * All boundary arithmetic is integer-exact: chunk count =
    * 1 + ceil((n - chunk)/stride) for n > chunk, else 1.
    *
    * @return (id, chunk_id, start, chunk_len, first_token), start
    *         1-based
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunk: Int, overlap: Int): DataFrame = {
    require(overlap < chunk, "overlap must be smaller than the chunk")
    val stride = chunk - overlap
    val n = size(col("__t")).cast(LongType)
    // ceil((n-chunk)/stride) via (n-chunk+stride-1) div stride; values
    // are token counts, so the double division below is exact well past
    // any realistic document length
    val nChunks = when(n <= chunk, lit(1L))
      .otherwise(lit(1L) +
        floor((n - chunk + (stride - 1)) / lit(stride.toDouble)).cast(LongType))
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col(idCol), col("__t"), n.as("__n"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("start"),
        least(lit(chunk.toLong), col("__n") - col("chunk_id") * stride).as("chunk_len"),
        element_at(col("__t"), (col("chunk_id") * stride + 1).cast(IntegerType))
          .as("first_token"))
  }

  /** Per-document unigram-LM negative log-likelihood — the
    * perplexity-proxy quality score (CCNet-style): the corpus itself
    * is the language model (p(term) = corpus tf / total tokens) and a
    * document's score is the mean −ln p over its tokens. Low = built
    * from the corpus's common words; high = rare-word soup — the
    * standard cheap signal for filtering outlier documents before
    * training.
    *
    * Scale shape: ONE tokenize pass materializes the per-doc tf table
    * (the same pivot [[tfidfTopTerms]] uses); corpus term totals
    * aggregate those tf rows (vocabulary is Zipf-bound ≪ corpus) and
    * come back as a broadcast; the per-doc score is one keyed
    * aggregation. Determinism: each term's ln p rounds to 6 decimals
    * and per-doc accumulation is exact DECIMAL (weighted by the
    * integer tf), so the score is independent of partitioning and
    * addition order; the final division is a single IEEE op.
    *
    * `scoreIds`, when given (a one-column frame of `idCol` values),
    * prunes the SCORING side to those documents with a semi-join on
    * the tf table: the model (ctf/tot → logp) still aggregates the
    * FULL corpus — the LM is corpus-wide by definition, so the
    * tokenize pass is irreducible — but the logp join and the per-doc
    * score aggregation then run over |scoreIds| documents' tf rows
    * instead of the whole corpus's. That is the dominant post-model
    * cost when scoring a small slice (e.g. dedup cluster members, a
    * few % of the corpus). The semi-join is unhinted: scoreIds is
    * typically corpus-derived, so the broadcast decision belongs to
    * AQE's runtime statistics.
    *
    * @return (id, n_tokens, nll)
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      scoreIds: Option[DataFrame] = None): DataFrame = {
    val dec = DecimalType(30, 6)
    val tf = df
      .graftSpread()
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val ctf = tf.groupBy("term").agg(sum(col("tf")).as("ctf"))
    val tot = tf.agg(sum(col("tf")).as("tot"))
    val logp = ctf.crossJoin(broadcast(tot))
      .select(col("term"),
        round(log(col("ctf").cast(DoubleType) / col("tot").cast(DoubleType)), 6)
          .cast(dec).as("logp"))
    val scoredTf = scoreIds match {
      case Some(ids) => tf.join(ids.select(col(idCol)), Seq(idCol), "left_semi")
      case None => tf
    }
    scoredTf.join(broadcast(logp), "term")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("logp") * col("tf")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        round(-col("__s").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6)
          .as("nll"))
  }

  /** Bigram-LM mean negative log-likelihood per document — [[lmScore]]
    * with CONTEXT: a unigram LM scores word-frequency typicality only,
    * while the bigram model also penalizes improbable word ORDER
    * (shuffled/templated/spun text scores high here but normal there —
    * the pair is the standard two-signal quality gate).
    *
    * Model: add-1 smoothed MLE, p(w2|w1) = (c(w1 w2)+1) / (c(w1)+V),
    * with c(w1) the count of bigrams STARTING with w1 (the numerator's
    * own event space — token counts would mismatch at document edges)
    * and V the bigram-participating vocabulary size. Smoothing keeps
    * every probability finite; unseen pairs simply never occur in the
    * training corpus == scored corpus setting.
    *
    * Scale shape: one tokenize pass materializes the per-doc bigram tf
    * table; model counts (pair, context, vocab) all aggregate those tf
    * rows, never the corpus. The model table is one row per DISTINCT
    * corpus bigram — Zipf-bounded but far larger than the unigram
    * table, so unlike [[lmScore]] the score join is NOT forced to
    * broadcast: it shuffles keyed on the bigram (AQE will still
    * broadcast a small model). Determinism is lmScore's recipe: ln
    * rounds to 6 decimals, per-doc accumulation is exact DECIMAL
    * weighted by integer tf, final divide one IEEE op.
    *
    * @return (id, n_bigrams, nll) for docs with ≥ 2 tokens
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec = DecimalType(30, 6)
    val bg = df
      .graftSpread()
      .select(col(idCol), explode(bigrams(tokens(col(textCol)))).as("bg"))
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cbg = bg.groupBy("bg").agg(sum(col("tf")).as("cbg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .localCheckpoint()
    val ctx = cbg.groupBy("w1").agg(sum(col("cbg")).as("cw1"))
    val vocab = cbg.select(col("w1").as("t"))
      .union(cbg.select(split(col("bg"), " ").getItem(1).as("t")))
      .distinct()
      .agg(count(lit(1)).as("v"))
    val logp = cbg
      .join(ctx, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        round(log((col("cbg") + 1L).cast(DoubleType) /
          (col("cw1") + col("v")).cast(DoubleType)), 6).cast(dec).as("logp"))
    bg.join(logp, "bg")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("logp") * col("tf")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(-col("__s").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType), 6).as("nll"))
  }

  /** Collocation ranking by log-likelihood ratio (Dunning's G²) — the
    * statistically-grounded companion of PMI (q_cooccur): PMI rewards
    * rarity (two hapaxes that co-occur once max it out), while G²
    * scores the full 2×2 contingency of the bigram event space —
    * presence AND absence cells — so it ranks collocations by
    * evidence, the standard fix for low-count noise.
    *
    * G² = 2·Σ_ij O_ij·ln(O_ij·N / (row_i·col_j)) over the four cells
    * (a = c(w1w2), b = c(w1·)−a, c = c(·w2)−a, d = N−a−b−c), zero
    * cells contributing zero. Determinism is lmScore's recipe: each
    * cell's ln rounds to 6 decimals, the four contributions accumulate
    * as exact DECIMAL weighted by the integer cell count, ×2 at the
    * end — no float summation order. ln arguments multiply in DOUBLE
    * (O·N can exceed 2⁶³ at corpus scale; the double product is one
    * deterministic IEEE op both engines share).
    *
    * Scale shape: one tokenize pass to the corpus bigram table
    * (Zipf-bounded); marginals aggregate THAT table; the final rank
    * is orderBy+limit — Spark's TakeOrderedAndProject, a per-partition
    * top-k merge, never a global sort materialization.
    *
    * @return top `k` (bg, n_ab, g2) by (g2 desc, bg) with
    *         n_ab ≥ minCount */
  def collocationsLlr(df: DataFrame, textCol: String, minCount: Int,
      k: Int): DataFrame = {
    val dec = DecimalType(30, 6)
    val bgc = df
      .graftSpread()
      .select(explode(bigrams(tokens(col(textCol)))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("a"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .localCheckpoint()
    val rowM = bgc.groupBy("w1").agg(sum(col("a")).as("ra"))
    val colM = bgc.groupBy("w2").agg(sum(col("a")).as("cb"))
    val tot = bgc.agg(sum(col("a")).as("nn"))
    def d(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val joined = bgc.where(col("a") >= minCount)
      .join(rowM, "w1").join(colM, "w2").crossJoin(broadcast(tot))
      .withColumn("b", col("ra") - col("a"))
      .withColumn("c", col("cb") - col("a"))
      .withColumn("dd", col("nn") - col("ra") - col("cb") + col("a"))
    def term(o: String, rn: org.apache.spark.sql.Column,
        cn: org.apache.spark.sql.Column) =
      when(col(o) > 0,
        round(log(d(col(o)) * d(col("nn")) / (d(rn) * d(cn))), 6)
          .cast(dec) * col(o))
        .otherwise(lit(0).cast(dec))
    joined
      .withColumn("__g",
        term("a", col("ra"), col("cb")) +
          term("b", col("ra"), col("nn") - col("cb")) +
          term("c", col("nn") - col("ra"), col("cb")) +
          term("dd", col("nn") - col("ra"), col("nn") - col("cb")))
      .select(col("bg"), col("a").as("n_ab"),
        (col("__g") * 2).cast(DoubleType).as("g2"))
      .orderBy(col("g2").desc, col("bg"))
      .limit(k)
  }

  /** Per-document character-distribution Shannon entropy — the
    * classic low-information filter (keyboard mash, base64 blobs and
    * one-char spam score near 0; natural prose lands in a narrow
    * band, so quality gates cut both tails). Computed over the same
    * [a-z0-9] alphabet as [[tokens]] so the char extraction is
    * engine-portable.
    *
    * Determinism is [[lmScore]]'s recipe: ln(cnt/len) rounds to 6
    * decimals, accumulates as exact DECIMAL weighted by the integer
    * count (addition order can't matter), and the final divide is one
    * IEEE op. One scan, two keyed aggregates on doc id (the second
    * reuses the first's partitioning), alphabet ≤ 36 rows per doc.
    *
    * @return (id, n_chars, entropy) for docs with ≥ 1 alnum char
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec = DecimalType(30, 6)
    val cnts = df
      .graftSpread()
      .select(col(idCol),
        explode(regexp_extract_all(lower(col(textCol)),
          lit("[a-z0-9]"), lit(0))).as("ch"))
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val lens = cnts.groupBy(idCol).agg(sum(col("cnt")).as("len"))
    cnts.join(lens, idCol)
      .groupBy(col(idCol), col("len"))
      .agg(sum((round(log(col("cnt").cast(DoubleType) /
          col("len").cast(DoubleType)), 6).cast(dec)) * col("cnt")).as("__s"))
      .select(col(idCol), col("len").as("n_chars"),
        (-col("__s").cast(DoubleType) / col("len").cast(DoubleType))
          .as("entropy"))
  }

  /** Apply a linear text classifier at corpus scale via the HASHING
    * TRICK — the fastText-style quality-filter shape: each token maps
    * to one of `buckets` feature slots by hash, the model is a weight
    * per slot, and a document's score is the tf-weighted dot product.
    * The corpus-side work is one tokenize + one keyed aggregate; the
    * model joins in as a BROADCAST table keyed by bucket (the
    * production shape — learned weights are a tiny table, never a
    * per-row lookup structure).
    *
    * Weights here derive from a fixed integer formula (a stand-in for
    * trained milli-weights; the APPLY plumbing is the operator), so
    * the logit is pure integer arithmetic — engine-exact with no
    * float dot product to disagree on.
    *
    * @return (id, n_tokens, logit_milli)
    */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val weights = spark.range(buckets).select(
      col("id").as("bucket"),
      ((pmod(col("id") * 2654435761L, lit(1000003L))) % 1001 - 500).as("w"))
    df.graftSpread()
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col(idCol), col("tf"),
        pmod(hash52(col("term")), lit(buckets.toLong)).as("bucket"))
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("w")).as("logit_milli"))
  }

  /** Per-source unigram-distribution KL divergence vs the whole
    * corpus, D(p_source ‖ p_corpus) = Σ_t p_s(t)·ln(p_s(t)/p(t)) — the
    * corpus-drift / mixture-skew diagnostic (which sources' term
    * distributions deviate most from the blend they feed).
    *
    * Scale shape: ONE corpus tokenize+aggregate pass to (source, term)
    * frequencies (map-side combined, checkpointed); the corpus
    * marginals (ctf) aggregate those already-reduced rows — no second
    * corpus pass; per-source totals (≤|sources| rows) and the 1-row
    * grand total ride broadcasts; the ctf probe is the one
    * vocab-keyed shuffle join, Zipf-bound ≪ corpus.
    *
    * Determinism: every p_s(t) > 0 term also has p(t) > 0 (ctf ≥ tf),
    * so the log argument is a ratio of exact BIGINT products; both
    * engines evaluate the same IEEE divide + ln, round to 6 decimals,
    * and accumulate tf-weighted DECIMALs — addition-order independent;
    * the final /tot_s is a single IEEE division.
    *
    * @return (source, n_tokens, kl)
    */
  def klDrift(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val dec = DecimalType(30, 6)
    val tf = df
      .graftSpread()
      .select(col(srcCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(srcCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val ctf = tf.groupBy("term").agg(sum(col("tf")).as("ctf"))
    val totS = tf.groupBy(col(srcCol)).agg(sum(col("tf")).as("tot_s"))
    val tot = tf.agg(sum(col("tf")).as("tot"))
    tf.join(ctf, "term")
      .crossJoin(broadcast(tot))
      .join(broadcast(totS), srcCol)
      .withColumn("r",
        round(log((col("tf") * col("tot")).cast(DoubleType) /
          (col("tot_s") * col("ctf")).cast(DoubleType)), 6).cast(dec))
      .groupBy(col(srcCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("r") * col("tf")).as("__s"))
      .select(col(srcCol), col("n_tokens"),
        round(col("__s").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6)
          .as("kl"))
  }

  /** Top-k characteristic terms per document by TF-IDF
    * (score = tf · ln(N/df), rounded to 6 decimals for cross-engine
    * rank stability; ties break on the term).
    *
    * Scale shape: term frequencies are one keyed aggregation with
    * map-side combine; document frequencies aggregate the (already
    * per-doc-distinct) tf rows, so no second corpus pass; the corpus
    * size N rides a broadcast of a 1-row aggregate (no driver action);
    * the final per-doc top-k window partitions by doc_id — millions of
    * independent partitions, each a few hundred rows. The df join is
    * the one term-keyed shuffle; at 100 TB the vocabulary is Zipf-bound
    * (≪ corpus), so AQE sizes it correctly.
    *
    * @return (id, term, tfidf, rk) with rk in [1, k]
    */
  def tfidfTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // repartition BEFORE the tokenizer explode: a compact parquet scan
    // arrives in few partitions and the regex + explode is the
    // expensive projection — it must run at cluster parallelism (same
    // measured pattern as q_text_stats / q_repetition). The tf table
    // is the pivot both later branches consume (df counts and the
    // probe side of the join); materialize it once — without the
    // checkpoint Spark plans TWO full scan+tokenize+explode subtrees
    // (exchange reuse does not fire across the differing aggregate
    // branches) and the regex runs twice over the corpus.
    val tf = df
      .graftSpread()
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    tf.join(dfs, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast(DoubleType) / col("df")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("tfidf").desc, col("term"))).cast(LongType))
      .where(col("rk") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("rk"))
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones, the Okapi BM25
    * scoring function) for a fixed query-term set — the ranking step
    * a retrieval or data-curation pipeline runs after the boolean
    * match ([[graft.queries.Text]] `q_keyword_search`).
    *
    * Scale shape: because the query terms are literals, tf per term is
    * a pure projection over the token array (`filter` + `size`) — the
    * corpus NEVER shuffles. One pass computes (dl, tf_1..tf_q) per
    * document; a single 1-row aggregate derives N, avgdl, and the
    * per-term document frequencies and rides back as a broadcast; the
    * ranked answer is a sort-limit (TakeOrdered: per-partition partial
    * top-k, driver merge — no global sort). At 100 TB with ad-hoc
    * queries the tf projection becomes a probe of pre-materialized
    * term-bucketed postings (the q_keyword_search note), but the
    * score algebra and the broadcast-stats shape are unchanged.
    *
    * Determinism: per-term idf rounds to 6 decimals
    * (ln((N − df + 0.5)/(df + 0.5) + 1), the non-negative BM25+ idf);
    * each term's contribution rounds to 6 decimals and accumulates as
    * exact DECIMAL, so the score is independent of partitioning and
    * addition order; ties rank by doc id.
    *
    * @return (id, dl, score) — top `k` docs, score desc, id asc
    */
  def bm25(
      df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val dec = DecimalType(30, 6)
    val t = df
      .graftSpread()
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(
        (col(idCol) +: size(col("__t")).cast(LongType).as("dl") +:
          terms.map(tm =>
            size(filter(col("__t"), x => x === lit(tm)))
              .cast(LongType).as(s"tf_$tm"))): _*)
      .localCheckpoint()
    val stats = t.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("tot") +:
        terms.map(tm =>
          sum(when(col(s"tf_$tm") > 0, 1L).otherwise(0L)).as(s"df_$tm"))): _*)
      .withColumn("avgdl", col("tot").cast(DoubleType) / col("n_docs"))
      .select(col("*") +: terms.map { tm =>
        round(log(
          ((col("n_docs") - col(s"df_$tm")).cast(DoubleType) + lit(0.5)) /
            (col(s"df_$tm").cast(DoubleType) + lit(0.5)) + lit(1.0)), 6)
          .as(s"idf_$tm")
      }: _*)
    val norm = lit(k1) * (lit(1.0 - b) +
      lit(b) * (col("dl").cast(DoubleType) / col("avgdl")))
    val score = terms.map { tm =>
      round(col(s"idf_$tm") * (col(s"tf_$tm").cast(DoubleType) * lit(k1 + 1)) /
        (col(s"tf_$tm").cast(DoubleType) + norm), 6).cast(dec)
    }.reduce(_ + _)
    t.crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"), score.cast(DoubleType).as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Byte-pair-encoding merge induction (tokenizer training) over the
    * corpus word distribution — the vocabulary-building step of a
    * BPE/WordPiece tokenizer pipeline (Sennrich et al. 2016).
    *
    * Scale shape: the corpus contributes exactly ONE aggregation pass —
    * word counting, map-side combined, one shuffle on the word key —
    * and only the top-`vocab` (frequency, word)-ordered slice reaches
    * the driver (bounded by construction: `vocab` rows ≤ a few KB,
    * same only-k×dim-crosses-the-driver contract as
    * [[graft.operators.Similarity.kmeansRefine]]). The merge loop then
    * runs on that bounded table: classic BPE is inherently sequential
    * (merge i+1's pair counts depend on merge i's rewrite), and on a
    * ≤`vocab`-row table each iteration is microseconds of driver work —
    * distributing it would add `merges` shuffles to save nothing.
    *
    * Determinism (what makes a DuckDB oracle possible): the top-`vocab`
    * cut orders by (n DESC, word ASC); each iteration's argmax pair
    * breaks count ties lexicographically; the rewrite is leftmost
    * non-overlapping replacement of the space-delimited pair — Java
    * `String.replace`, DuckDB `replace`, and the oracle's padded-space
    * form all agree (" a a a " → " aa a ", measured).
    *
    * @return one row per merge: (rank, pair "a b", merged "ab", cnt)
    */
  /** The one corpus-scale stage of [[bpeMerges]]: word frequencies
    * (map-side combined) cut to the deterministic top-`vocab` slice —
    * plans as partial agg → exchange → TakeOrdered, never a global
    * sort (asserted in BpeSpec). */
  def bpeWordCounts(
      docsDf: DataFrame, textCol: String, vocab: Int): DataFrame =
    docsDf
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .where(length(col("word")).between(2, 15))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(vocab)

  def bpeMerges(
      docsDf: DataFrame,
      textCol: String = "text",
      vocab: Int = 1000,
      merges: Int = 5): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val topWords: Array[(String, Long)] =
      bpeWordCounts(docsDf, textCol, vocab)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(String, Long)] =
      topWords.map { case (w, n) => (w.mkString(" "), n) }
    val out = Array.newBuilder[(Long, String, String, Long)]
    for (i <- 1 to merges) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (sym, n) =>
        val s = sym.split(' ')
        var j = 0
        while (j < s.length - 1) {
          val p = s(j) + " " + s(j + 1)
          counts.update(p, counts.getOrElse(p, 0L) + n)
          j += 1
        }
      }
      if (counts.nonEmpty) {
        val (pair, cnt) = counts.minBy { case (p, c) => (-c, p) }
        val merged = pair.replace(" ", "")
        out += ((i.toLong, pair, merged, cnt))
        words = words.map { case (sym, n) =>
          ((" " + sym + " ").replace(" " + pair + " ", " " + merged + " ").trim, n)
        }
      }
    }
    out.result().toSeq.toDF("rank", "pair", "merged", "cnt")
  }

  /** Apply learned BPE merges ([[bpeMerges]] output) to the corpus and
    * count the resulting symbol vocabulary — the tokenize-with-the-
    * trained-tokenizer half. The merge rewrites are literal string
    * replaces inlined from the (≤`merges`-row) learned table, so the
    * whole apply is a pure codegen projection chain (no UDF, no join):
    * one map pass over the corpus, then one map-side-combined count
    * and a TakeOrdered top-k — the same two-stage shape at any scale.
    *
    * @return (tok, n): top-`k` symbols by frequency (ties break on the
    *         symbol)
    */
  def bpeApply(
      docsDf: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
      k: Int = 20): DataFrame = {
    require(merges.forall { case (p, m) =>
      (p + m).forall(c => c == ' ' || (c >= 'a' && c <= 'z')) },
      "merge pairs must be space-separated lowercase symbols")
    var df = docsDf
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .where(length(col("word")).between(2, 15))
      .select(concat(lit(" "),
        trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" ")).as("s"))
    merges.foreach { case (p, m) =>
      df = df.withColumn("s", expr(s"replace(s, ' $p ', ' $m ')"))
    }
    df.select(explode(split(trim(col("s")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)
  }

  /** Argmax language with deterministic first-wins tiebreak (order of
    * [[langMarkers]]); "und" (undetermined) when no marker hit. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores: Seq[(String, Column)] = langMarkers.map {
      case ("zh", ms) =>
        "zh" -> size(regexp_extract_all(text, lit(s"[${ms.mkString}]"), lit(0)))
      case (l, ms) => l -> markerHits(toks, ms)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s === best && best > 0, l).otherwise(acc)
    }
  }
}
