package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, Tables}
import graft.core.Spread.SpreadOps
import graft.operators.{Dedup, Multimodal, TextAnalysis, TrainingData}

/** Text-analysis + deduplication queries over the `documents` table.
  * Oracle SQL mirrors every deterministic hash (md5-derived) so DuckDB
  * reproduces results exactly; the MinHash/SimHash oracles are
  * generated from the same permutation constants as the Spark code.
  */
object Text {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  private val stopList = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")

  /** DuckDB CTE for distinct 5-grams (mirrors TextAnalysis.grams n=5). */
  /** HLL raw-estimate numerator: alpha(m=1024) in parts-per-million ×
    * m² × 2^51, one exact integer constant shared by the Spark plan
    * and the SQL oracle (the denominator carries the ×1e6 ppm scale).
    * alpha = 0.7213 / (1 + 1.079/1024) ≈ 0.720541. */
  private[queries] val hllNumerator: String =
    (BigInt(720541) * BigInt(1024) * BigInt(1024) * (BigInt(1) << 51)).toString

  /** Small-range (linear-counting) correction table: entry v (1-based)
    * is round(m · ln(m / v)) for m = 1024 — the LogLog/HLL estimate
    * when v of the m registers are still EMPTY. ln is evaluated once
    * here at plan-build time and the rounded integers are emitted as
    * literals to BOTH engines, so neither engine computes a float log
    * and the oracle comparison stays integer-exact. */
  private[queries] val hllLcTable: String =
    (1 to 1024).map(v => math.round(1024.0 * math.log(1024.0 / v)))
      .mkString(", ")

  /** KMV sketch size and the estimator numerator (k−1)·2⁵², one exact
    * integer shared by both engines: with h uniform on [0, 2⁵²), the
    * k-th smallest distinct hash h_k estimates the distinct count as
    * (k−1)·2⁵²/h_k (the classic k-minimum-values estimator), and
    * integer division keeps the oracle comparison byte-exact. */
  private[queries] val kmvK = 512
  private[queries] val kmvNumerator: String =
    (BigInt(kmvK - 1) * (BigInt(1) << 52)).toString

  private def gramsCteWhere(docFilter: String): String =
    s"""g AS (
       |  SELECT DISTINCT doc_id, substr(text, g, 5) AS gram
       |  FROM (SELECT doc_id, text, unnest(range(1, greatest(len(text)-3, 2))) AS g
       |        FROM documents$docFilter))""".stripMargin

  private val gramsCte = gramsCteWhere("")

  /** Shared by q_containment and q_containment_fallback — the naive
    * all-ordered-pairs intersection scan every routed path must
    * reproduce exactly. `docFilter` (e.g. the fallback row's
    * deterministic bench cap) applies to BOTH engines identically. */
  private def containmentOracleSqlWhere(docFilter: String): String =
    s"""WITH ${gramsCteWhere(docFilter)},
       |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
       |i AS (SELECT a.doc_id AS src, b.doc_id AS dst,
       |        CAST(count(*) AS BIGINT) AS n_shared
       |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
       |      GROUP BY 1, 2)
       |SELECT src, dst, sa.n AS n_src, n_shared,
       |  round(CAST(n_shared AS DOUBLE) / sa.n, 6) AS containment
       |FROM i JOIN s sa ON src = sa.doc_id
       |WHERE n_shared * 5 >= sa.n * 4
       |ORDER BY src, dst""".stripMargin

  private val containmentOracleSql = containmentOracleSqlWhere("")

  /** Generated MinHash oracle pieces (same constants as Dedup.perms). */
  private val sigSelects: String = Dedup.perms.zipWithIndex.map {
    case ((a, b), i) => s"min(($a * h + $b) % ${Dedup.P}) AS s$i"
  }.mkString(",\n    ")
  private val bandSelects: String = (0 until Dedup.numBands).map { bnd =>
    val parts = (0 until Dedup.rowsPerBand)
      .map(r => s"s${bnd * Dedup.rowsPerBand + r}").mkString(", ")
    s"SELECT doc_id, $bnd AS band, md5(concat_ws('_', $parts)) AS bh FROM sig"
  }.mkString("\n  UNION ALL\n  ")
  private val simhashTerms: String = (0 until 32).map { j =>
    s"CASE WHEN sum(CASE WHEN (h32 >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END"
  }.mkString(" +\n    ")

  /** Full MinHash+LSH pair pipeline as a CTE chain ending in
    * `pairs(doc_a, doc_b, jaccard)` — shared by the pair query and the
    * cluster query (which closes `pairs` transitively). */
  /** Grams → hashes → signatures → band buckets, ending in
    * `bands(doc_id, band, bh)` — shared by the pair pipeline below and
    * the streaming LSH screen's oracle (queries/Streams.scala). */
  private[queries] val minhashBandsCtes: String =
    s"""$gramsCte,
       |h AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT % ${Dedup.P} AS h FROM g),
       |sig AS (SELECT doc_id,
       |    $sigSelects
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin

  private val minhashPairsCtes: String =
    s"""$minhashBandsCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |inter AS (SELECT doc_a, doc_b, count(*) AS i
       |          FROM cand JOIN g x ON x.doc_id = doc_a
       |                    JOIN g y ON y.doc_id = doc_b AND y.gram = x.gram
       |          GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(sa.n + sb.n - i) AS jaccard
       |          FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |          WHERE i * 5 >= (sa.n + sb.n - i) * 3)""".stripMargin

  /** BPE-merge oracle: one (pair-count → argmax → rewrite) CTE triple
    * per iteration, replaying TextAnalysis.bpeMerges' driver loop in
    * SQL. `replace` is leftmost non-overlapping in both engines, and
    * the padded-space form makes pair occurrences unambiguous. */
  private def bpeCtes(vocab: Int, merges: Int): String = {
    val iters = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |  SELECT unnest([l[j+1] || ' ' || l[j+2] FOR j IN range(len(l)-1)]) AS pair, n
         |  FROM (SELECT string_split(sym, ' ') AS l, n FROM $prev)) GROUP BY pair),
         |b$i AS (SELECT CAST($i AS BIGINT) AS rank, pair, replace(pair, ' ', '') AS merged, cnt
         |        FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |w$i AS (SELECT trim(replace(' ' || sym || ' ', ' ' || b.pair || ' ', ' ' || b.merged || ' ')) AS sym, n
         |        FROM $prev, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
       |             FROM documents),
       |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM raw
       |       WHERE len(word) BETWEEN 2 AND 15
       |       GROUP BY word ORDER BY n DESC, word LIMIT $vocab),
       |w0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, n FROM wc),
       |$iters""".stripMargin
  }

  private def bpeOracleSql(vocab: Int, merges: Int): String = {
    val union = (1 to merges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    s"""${bpeCtes(vocab, merges)}
       |SELECT rank, pair, merged, cnt FROM ($union) ORDER BY rank""".stripMargin
  }

  /** Tokenize-with-the-learned-merges oracle: the same training CTEs,
    * then the corpus re-tokenized by applying each learned merge in
    * rank order (padded-space literal replaces, identical to the
    * Spark codegen chain) and the symbol counts cut to top-`k`. */
  private def bpeApplyOracleSql(vocab: Int, merges: Int, k: Int): String = {
    val applies = (1 to merges).map { i =>
      val prev = if (i == 1) "s0" else s"a${i - 1}"
      s"""a$i AS (SELECT replace(s, ' ' || b.pair || ' ', ' ' || b.merged || ' ') AS s
         |        FROM $prev, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""${bpeCtes(vocab, merges)},
       |corpus AS (SELECT word FROM raw WHERE len(word) BETWEEN 2 AND 15),
       |s0 AS (SELECT ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS s
       |       FROM corpus),
       |$applies
       |SELECT tok, CAST(count(*) AS BIGINT) AS n
       |FROM (SELECT unnest(string_split(trim(s), ' ')) AS tok FROM a$merges)
       |GROUP BY tok ORDER BY n DESC, tok LIMIT $k""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // BPE vocabulary induction (tokenizer training): one corpus-scale
    // word-count pass, then the sequential merge loop on the bounded
    // top-1000 vocab slice driver-side (see TextAnalysis.bpeMerges
    // scaladoc for why the loop does not distribute).
    "q_bpe" -> QueryDef(
      "BPE merge induction: first 5 merges over the top-1000 word vocabulary",
      bpeOracleSql(vocab = 1000, merges = 5)) { (spark, dir) =>
      TextAnalysis.bpeMerges(docs(spark, dir), "text",
        vocab = 1000, merges = 5).orderBy("rank")
    },

    // Tokenizer APPLY: learn the merges (q_bpe's operator), then
    // re-tokenize the whole corpus with them — the learned rewrites
    // inline as literal replaces, so the apply pass is a pure codegen
    // projection chain over one corpus map pass, ending in a map-side-
    // combined count + TakeOrdered. Train-then-apply end to end under
    // one oracle.
    "q_bpe_apply" -> QueryDef(
      "apply learned BPE merges to the corpus: top-20 symbol frequencies",
      bpeApplyOracleSql(vocab = 1000, merges = 5, k = 20)) { (spark, dir) =>
      val learned = TextAnalysis.bpeMerges(docs(spark, dir), "text",
          vocab = 1000, merges = 5)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeApply(docs(spark, dir), "text", learned, k = 20)
        .orderBy(col("n").desc, col("tok"))
    },

    // Cross-source overlap matrix — the corpus-contamination
    // diagnostic (how much text do corpora share): per unordered
    // source pair, the distinct 5-gram shingles present in both and
    // the gram-set Jaccard. Scale shape: gram extraction + per-doc
    // dedup stays map-side (gramArrays); then ONE shuffle keyed on the
    // gram builds the per-gram source set, which is bounded by
    // |sources| (a constant) — the pair fan-out is quadratic only in
    // that constant, never a corpus self-join. Per-source totals
    // derive from the same aggregated frame (checkpointed, no second
    // corpus pass) and broadcast back. Jaccard = one IEEE division of
    // two exact integers, identical in both engines.
    "q_dup_matrix" -> QueryDef(
      "cross-source overlap matrix: shared 5-gram shingles + Jaccard per source pair",
      """WITH g AS (SELECT DISTINCT source, substr(text, i, 5) AS gram
        |  FROM (SELECT source, text,
        |          unnest(range(1, greatest(len(text)-3, 2))) AS i
        |        FROM documents)),
        |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |        CAST(count(*) AS BIGINT) AS n_shared
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / (ta.n + tb.n - n_shared), 6) AS jaccard
        |FROM p JOIN t ta ON src_a = ta.source JOIN t tb ON src_b = tb.source
        |ORDER BY src_a, src_b""".stripMargin) { (spark, dir) =>
      val sets = TextAnalysis.gramArrays(docs(spark, dir), "source", "text", 5)
        .select(col("source"), explode(col("grams")).as("gram"))
        .groupBy("gram").agg(collect_set(col("source")).as("srcs"))
        .localCheckpoint()
      val tot = sets.select(explode(col("srcs")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = sets
        .select(explode(col("srcs")).as("src_a"), col("srcs"))
        .select(col("src_a"), explode(col("srcs")).as("src_b"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(tot.withColumnRenamed("source", "src_a")
          .withColumnRenamed("n", "n_a")), "src_a")
        .join(broadcast(tot.withColumnRenamed("source", "src_b")
          .withColumnRenamed("n", "n_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          round(col("n_shared").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    "q_text_stats" -> QueryDef(
      "per-document token/stopword/quality statistics",
      s"""SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(t, x -> x IN ($stopList))) AS BIGINT) AS n_stop,
         |  CAST(len(list_filter(t, x -> x IN ($stopList))) AS DOUBLE) / nullif(len(t), 0) AS stop_ratio,
         |  CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / nullif(len(t), 0) AS avg_token_len,
         |  round(least(1.0, len(t) / 100.0) *
         |        (1.0 - CAST(len(list_filter(t, x -> x IN ($stopList))) AS DOUBLE) / nullif(len(t), 0)), 6) AS quality
         |FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      // Codegen-native only: array lambdas (aggregate/filter over the
      // token array) are CodegenFallback — interpreted per token with
      // per-step allocations, measured ~10× the cost of a second regex
      // pass. Stopword hits therefore count via a boundary-guarded
      // alternation regex over the lowered text (token = [a-z0-9]+ run,
      // so "(?<![a-z0-9])stop(?![a-z0-9])" matches exactly the token
      // occurrences list_filter(IN) counts), and total token length is
      // length(array_join(tokens)) — plain codegen'd expressions that
      // CSE dedups.
      val toks = TextAnalysis.tokens(col("text"))
      val stopRe = "(?<![a-z0-9])(?:" +
        TextAnalysis.stopwords.mkString("|") + ")(?![a-z0-9])"
      val nStop = size(regexp_extract_all(lower(col("text")), lit(stopRe), lit(0)))
      // repartition BEFORE the regex projection: the doc table arrives
      // as a compact single-partition scan, and the lookaround regex is
      // the expensive part — it must run at cluster parallelism.
      docs(spark, dir)
        .graftSpread()
        .select(col("doc_id"),
          size(toks).cast(LongType).as("n_tokens"),
          nStop.cast(LongType).as("n_stop"),
          (nStop.cast(DoubleType) /
            nullif(size(toks), lit(0))).as("stop_ratio"),
          (length(array_join(toks, "")).cast(DoubleType) /
            nullif(size(toks), lit(0))).as("avg_token_len"))
        .withColumn("quality",
          round(least(lit(1.0), col("n_tokens") / 100.0) * (lit(1.0) - col("stop_ratio")), 6))
        .orderBy("doc_id")
    },

    "q_lang_id" -> QueryDef(
      "heuristic marker-word language identification",
      {
        val latin = TextAnalysis.langMarkers.filter(_._1 != "zh").map { case (l, ms) =>
          s"len(list_filter(t, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS s_$l"
        }.mkString(",\n    ")
        val zhChars = TextAnalysis.langMarkers.toMap.apply("zh").mkString
        val langs = TextAnalysis.langMarkers.map(_._1)
        val whens = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
        s"""SELECT doc_id, CASE $whens ELSE 'und' END AS pred_lang FROM (
           |  SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
           |    greatest(${langs.map(l => s"s_$l").mkString(", ")}) AS best
           |  FROM (SELECT doc_id,
           |    $latin,
           |    len(regexp_extract_all(text, '[$zhChars]')) AS s_zh
           |  FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           |        FROM documents)))
           |ORDER BY doc_id""".stripMargin
      }) { (spark, dir) =>
      docs(spark, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },

    // Language-ID evaluation — q_lang_id emits predictions; this
    // grades them against the corpus's lang labels as a confusion
    // matrix (same eval shape as q_naive_bayes), the go/no-go check
    // before trusting the classifier to route a 100-TB corpus. One
    // extra map-side projection + a |langs|² aggregate on top of the
    // prediction pass — the eval costs nothing beyond the apply.
    "q_lang_id_eval" -> QueryDef(
      "language-ID confusion matrix vs corpus labels",
      {
        val latin = TextAnalysis.langMarkers.filter(_._1 != "zh").map {
          case (l, ms) =>
            s"len(list_filter(t, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS s_$l"
        }.mkString(",\n    ")
        val zhChars = TextAnalysis.langMarkers.toMap.apply("zh").mkString
        val langs = TextAnalysis.langMarkers.map(_._1)
        val whens = langs.map(l =>
          s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
        s"""WITH p AS (SELECT doc_id, CASE $whens ELSE 'und' END AS pred FROM (
           |  SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
           |    greatest(${langs.map(l => s"s_$l").mkString(", ")}) AS best
           |  FROM (SELECT doc_id,
           |    $latin,
           |    len(regexp_extract_all(text, '[$zhChars]')) AS s_zh
           |  FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           |        FROM documents))))
           |SELECT d.lang AS actual, p.pred AS predicted,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM documents d JOIN p USING (doc_id)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }) { (spark, dir) =>
      val d = docs(spark, dir)
      d.select(col("doc_id"), col("lang").as("actual"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy("actual", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("actual", "predicted")
    },

    // PII scrub: redact emails / IPv4s / card-shaped digit runs and
    // count redactions. Patterns are plain ASCII classes so Java regex
    // and RE2 agree; DuckDB needs the 'g' flag for replace-all (Spark
    // regexp_replace is always global). Output carries md5(clean) so
    // the oracle checks the full scrubbed text without megabyte rows.
    "q_scrub" -> QueryDef(
      "PII redaction with per-kind counts",
      s"""SELECT doc_id,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.emailPat}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.ipv4Pat}', '<IP>', 'g'),
         |    '${TextAnalysis.longDigitsPat}', '<NUM>', 'g')) AS clean_md5,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.emailPat}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.ipv4Pat}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(regexp_replace(text, '${TextAnalysis.emailPat}', '<EMAIL>', 'g'),
         |                   '${TextAnalysis.ipv4Pat}', '<IP>', 'g'),
         |    '${TextAnalysis.longDigitsPat}')) AS BIGINT) AS n_nums
         |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      docs(spark, dir)
        .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("s"))
        .select(col("doc_id"), md5(col("s.clean")).as("clean_md5"),
          col("s.n_emails"), col("s.n_ips"), col("s.n_nums"))
        .orderBy("doc_id")
    },

    // TF-IDF top terms: the per-doc keyword extractor every corpus
    // pipeline wants. Ranking uses the ROUNDED score (6 decimals) with
    // a term tiebreak so Spark and DuckDB order identically despite
    // last-ulp ln() differences.
    "q_tfidf" -> QueryDef(
      "top-3 TF-IDF terms per document",
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN dfs USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf, rk FROM (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rk
        |  FROM scored) t
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (spark, dir) =>
      TextAnalysis.tfidfTopTerms(docs(spark, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "rk")
    },

    // Overlapping token chunking (64-token windows, 16 overlap) — the
    // RAG/pretraining chunk layout; boundary arithmetic is
    // integer-exact on both engines.
    "q_chunk" -> QueryDef(
      "overlapping 64-token chunks (stride 48) per document",
      """WITH t AS (SELECT doc_id,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |       FROM documents),
        |nn AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
        |c AS (SELECT doc_id, w, n,
        |        unnest(range(0, CASE WHEN n <= 64 THEN 1
        |                             ELSE 1 + (n - 64 + 47) // 48 END)) AS i
        |      FROM nn)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(i * 48 + 1 AS BIGINT) AS start,
        |  CAST(least(64, n - i * 48) AS BIGINT) AS chunk_len,
        |  w[i * 48 + 1] AS first_token
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (spark, dir) =>
      TextAnalysis.chunkTokens(docs(spark, dir), "doc_id", "text",
          chunk = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")
    },

    // Corpus-wide top bigrams — vocabulary-induction readout; the plan
    // is the sort-limit shape (TakeOrdered with map-side partial
    // limits), never a global sort of the full gram table.
    "q_top_ngrams" -> QueryDef(
      "top-20 corpus bigrams by frequency",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tt AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |b AS (SELECT toks[i] || ' ' || toks[i + 1] AS bg
        |      FROM tt, unnest(range(1, n)) AS u(i))
        |SELECT bg, CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY bg ORDER BY n DESC, bg LIMIT 20""".stripMargin) { (spark, dir) =>
      val base = docs(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
        .where(size(col("__t")) >= 2)
        .graftSpread()
      base.select(explode(TextAnalysis.bigrams(col("__t"))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg"))
        .limit(20)
    },

    // Perplexity-proxy quality score: the corpus's own unigram term
    // distribution is the LM; a doc's score is its mean −ln p(term).
    // Per-term log-probs round to 6 decimals and per-doc accumulation
    // is exact DECIMAL weighted by integer tf — addition-order
    // independent, so both engines sum identical quantities.
    "q_lm_score" -> QueryDef(
      "unigram-LM mean negative log-likelihood per document (quality proxy)",
      """WITH t AS (SELECT doc_id,
        |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |       FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |ctf AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1),
        |tot AS (SELECT sum(tf) AS tot FROM tf),
        |lp AS (SELECT term,
        |         round(ln(CAST(ctf AS DOUBLE) / CAST(tot AS DOUBLE)), 6)::DECIMAL(30,6) AS logp
        |       FROM ctf CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(-CAST(sum(logp * tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS nll
        |FROM tf JOIN lp USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      TextAnalysis.lmScore(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Bigram-LM quality score — q_lm_score with word-ORDER context
    // (TextAnalysis.bigramLmScore scaladoc: add-1 smoothed
    // p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V), context counts from the
    // bigram table's own event space, score join keyed on the bigram
    // instead of force-broadcast — the model table is one row per
    // distinct corpus bigram).
    "q_bigram_lm" -> QueryDef(
      "bigram-LM mean negative log-likelihood per document (word-order quality)",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        |           FROM documents),
        |tt AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) >= 2),
        |b AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg
        |      FROM tt, unnest(range(1, n)) AS u(i)),
        |tf AS (SELECT doc_id, bg, count(*) AS tf FROM b GROUP BY 1, 2),
        |cbg AS (SELECT bg, split_part(bg, ' ', 1) AS w1, sum(tf) AS cbg
        |        FROM tf GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(cbg) AS cw1 FROM cbg GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM (
        |        SELECT w1 AS t FROM cbg
        |        UNION SELECT split_part(bg, ' ', 2) FROM cbg)),
        |lp AS (SELECT bg,
        |         round(ln(CAST(cbg + 1 AS DOUBLE) / CAST(cw1 + v AS DOUBLE)), 6)::DECIMAL(30,6) AS logp
        |       FROM cbg JOIN ctx USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(-CAST(sum(logp * tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS nll
        |FROM tf JOIN lp USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      TextAnalysis.bigramLmScore(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Per-source median-gated quality filter: score every doc with the
    // unigram-LM nll (q_lm_score's operator), take each source's exact
    // median, keep docs at-or-below it (better-than-median quality) —
    // the standard LM-score corpus-curation gate, summarized per
    // source. The median frame is ≤|sources| rows and broadcasts back;
    // kept-doc accumulation is DECIMAL-exact so the mean is
    // addition-order independent. Median parity across engines holds
    // because per-doc nll is a 6-decimal-rounded double on both sides
    // and the even/odd-count interpolation is one IEEE op on identical
    // inputs (q_quantiles precedent), rounded to 6 again.
    "q_quality_gate" -> QueryDef(
      "per-source LM-score median gate: keep better-than-median docs, summarize",
      """WITH t AS (SELECT doc_id,
        |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |       FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |ctf AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1),
        |tot AS (SELECT sum(tf) AS tot FROM tf),
        |lp AS (SELECT term,
        |         round(ln(CAST(ctf AS DOUBLE) / CAST(tot AS DOUBLE)), 6)::DECIMAL(30,6) AS logp
        |       FROM ctf CROSS JOIN tot),
        |nll AS (SELECT doc_id,
        |          round(-CAST(sum(logp * tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS nll
        |        FROM tf JOIN lp USING (term) GROUP BY doc_id),
        |s AS (SELECT d.source, n.nll FROM nll n JOIN documents d USING (doc_id)),
        |m AS (SELECT source, round(quantile_cont(nll, 0.5), 6) AS med FROM s GROUP BY source)
        |SELECT s.source, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN s.nll <= m.med THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  max(m.med) AS median_nll,
        |  round(CAST(sum(CASE WHEN s.nll <= m.med THEN s.nll::DECIMAL(30,6)
        |                 ELSE 0::DECIMAL(30,6) END) AS DOUBLE) /
        |        sum(CASE WHEN s.nll <= m.med THEN 1 ELSE 0 END), 6) AS kept_mean_nll
        |FROM s JOIN m USING (source)
        |GROUP BY s.source ORDER BY s.source""".stripMargin) { (spark, dir) =>
      val dec = DecimalType(30, 6)
      val d = docs(spark, dir)
      val scores = TextAnalysis.lmScore(d, "doc_id", "text")
        .join(d.select("doc_id", "source"), "doc_id")
        .localCheckpoint()
      val med = scores.groupBy("source")
        .agg(round(expr("percentile(nll, 0.5)"), 6).as("med"))
      scores.join(broadcast(med), "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("nll") <= col("med"), 1L).otherwise(0L)).as("n_kept"),
          max(col("med")).as("median_nll"),
          round(sum(when(col("nll") <= col("med"), col("nll").cast(dec))
              .otherwise(lit(0).cast(dec))).cast(DoubleType) /
            sum(when(col("nll") <= col("med"), 1L).otherwise(0L)), 6)
            .as("kept_mean_nll"))
        .orderBy("source")
    },

    // Per-source KL drift vs the corpus blend (TextAnalysis.klDrift):
    // the mixture-skew readout — pairs with q_mixture/q_mixture_apply
    // (which sources to rebalance) and q_lm_score (which docs to gate).
    "q_kl_drift" -> QueryDef(
      "per-source unigram KL divergence vs the corpus distribution",
      """WITH t AS (SELECT source,
        |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |       FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |ctf AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1),
        |tots AS (SELECT source, sum(tf) AS tot_s FROM tf GROUP BY 1),
        |tot AS (SELECT sum(tf) AS tot FROM tf),
        |r AS (SELECT tf.source, tf.tf,
        |        round(ln(CAST(tf.tf * tot.tot AS DOUBLE) /
        |                 CAST(tots.tot_s * ctf.ctf AS DOUBLE)), 6)::DECIMAL(30,6) AS r
        |      FROM tf JOIN ctf USING (term) JOIN tots USING (source) CROSS JOIN tot)
        |SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(r * tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS kl
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
      TextAnalysis.klDrift(docs(spark, dir), "source", "text")
        .orderBy("source")
    },

    "q_token_count" -> QueryDef(
      "BPE-style pre-tokenizer token counting",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.bpePattern}')) AS BIGINT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      docs(spark, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).cast(LongType).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    "q_fingerprint" -> QueryDef(
      "min-hash document fingerprint over 5-gram shingles",
      s"""WITH $gramsCte
         |SELECT doc_id, min(md5(gram)) AS fingerprint,
         |       CAST(count(*) AS BIGINT) AS n_grams
         |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      TextAnalysis.grams(docs(spark, dir), "doc_id", "text", 5)
        .groupBy("doc_id")
        .agg(min(md5(col("gram"))).as("fingerprint"),
          count(lit(1)).as("n_grams"))
        .orderBy("doc_id")
    },

    "q_dedup_exact" -> QueryDef(
      "exact duplicate grouping by content hash",
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin) { (spark, dir) =>
      Dedup.exactGroups(docs(spark, dir), "doc_id", "text")
        .orderBy("content_hash")
    },

    // Deterministic stratified sampling: the first n of each stratum
    // in md5 order — a reproducible "random" sample that is a pure
    // function of the keys (stable across engines, runs, and cluster
    // layouts; same mechanism as q_sample_split's buckets). One window
    // per stratum — strata are numerous and small, so the sort is
    // bounded per group.
    "q_stratified" -> QueryDef(
      "deterministic 3-per-stratum sample by md5 order",
      """SELECT source, lang, doc_id FROM (
        |  SELECT source, lang, doc_id,
        |    row_number() OVER (PARTITION BY source, lang
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) WHERE rk <= 3
        |ORDER BY source, lang, doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      docs(spark, dir)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"), col("lang"))
            .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))))
        .where(col("rk") <= 3)
        .select(col("source"), col("lang"), col("doc_id"))
        .orderBy("source", "lang", "doc_id")
    },

    // Weighted sampling WITHOUT replacement — the ∝-size companion of
    // q_stratified's uniform sample (TrainingData.weightedSample
    // scaladoc: Efraimidis–Spirakis keys ln(u)/w from hash-uniform u,
    // so longer documents are proportionally likelier, the sample is
    // RNG-free, and the rounded-ln recipe keeps the ranking
    // cross-engine exact).
    "q_weighted_sample" -> QueryDef(
      "A-ES weighted sample: 5 docs per lang with probability ~ n_chars",
      """WITH d AS (SELECT doc_id, lang, greatest(n_chars, 1) AS w,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1 AS h
        |  FROM documents),
        |k AS (SELECT doc_id, lang, w,
        |    round(CAST(round(ln(CAST(h AS DOUBLE) / 4503599627370497.0), 6)
        |      AS DOUBLE) / w, 12) AS ky
        |  FROM d),
        |r AS (SELECT lang, doc_id, ky,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY ky DESC, doc_id)
        |      AS BIGINT) AS rnk
        |  FROM k)
        |SELECT lang AS stratum, rnk, doc_id, ky FROM r WHERE rnk <= 5
        |ORDER BY stratum, rnk""".stripMargin) { (spark, dir) =>
      TrainingData.weightedSample(
          docs(spark, dir)
            .select(col("doc_id"), col("lang"),
              greatest(col("n_chars"), lit(1L)).as("w")),
          idCol = "doc_id", strataCol = "lang", weightCol = "w", k = 5)
        .orderBy("stratum", "rnk")
    },

    // Grouped z-score outlier filter: two-pass shape (tiny per-group
    // stats aggregate, broadcast back, pure-projection filter — the
    // corpus never shuffles). Mean/variance come from EXACT integer
    // sums (n_chars and its squares sum exactly in 64 bits), so both
    // engines derive bit-identical doubles and the 2σ threshold can't
    // flip on summation order.
    // Functional-dependency audit — approximate-FD mining's
    // verification half: IF source → lang held, each source would
    // carry one language; the audit reports every violating source
    // with its majority language (mode, lexicographic tie) and the
    // exact count of rows that would need repair (the g₃ error of
    // the FD literature). One map-side-combined aggregate to the
    // (source, lang) grid — group-cardinality, corpus-independent —
    // then a struct-argmax reduce; the corpus shuffles once.
    "q_fd_violations" -> QueryDef(
      "approximate-FD audit: source→lang violations with g3 repair counts",
      """WITH c AS (SELECT source, lang, count(*) AS n FROM documents
        |      GROUP BY 1, 2),
        |m AS (SELECT source, count(*) AS n_langs, sum(n) AS n_rows,
        |      max(n) AS maj_n FROM c GROUP BY 1),
        |mj AS (SELECT c.source, min(c.lang) AS majority_lang
        |       FROM c JOIN m ON m.source = c.source AND c.n = m.maj_n
        |       GROUP BY 1)
        |SELECT m.source, CAST(m.n_langs AS BIGINT) AS n_langs,
        |  mj.majority_lang,
        |  CAST(m.n_rows - m.maj_n AS BIGINT) AS g3_repairs
        |FROM m JOIN mj ON mj.source = m.source
        |WHERE m.n_langs > 1 ORDER BY m.source""".stripMargin) { (spark, dir) =>
      val c = docs(spark, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("n"))
      c.groupBy("source")
        .agg(count(lit(1)).as("n_langs"), sum(col("n")).as("n_rows"),
          min(struct((-col("n")).as("nn"), col("lang").as("l"))).as("__m"))
        .where(col("n_langs") > 1)
        .select(col("source"), col("n_langs"),
          col("__m.l").as("majority_lang"),
          (col("n_rows") + col("__m.nn")).as("g3_repairs"))
        .orderBy("source")
    },

    // Zipf power-law fit — does the corpus's term-frequency curve
    // look like natural language (exponent ≈ −1)? OLS of ln(freq) on
    // ln(rank) over the top-1000 terms. Scale shape: ONE corpus
    // aggregate (term counting, map-side combined), then a
    // TakeOrdered top-1000 slice — the full vocabulary is never
    // globally sorted, and the rank window runs post-limit over 1000
    // rows. Parity: both logs take INTEGER arguments, round to 6
    // decimals, and accumulate as exact DECIMAL moments; the two
    // divides at the end are shared.
    "q_zipf" -> QueryDef(
      "Zipf exponent: ln-ln OLS over the top-1000 term frequencies",
      """WITH t AS (SELECT unnest(regexp_extract_all(lower(text),
        |    '[a-z0-9]+')) AS term FROM documents),
        |tf AS (SELECT term, count(*) AS f FROM t GROUP BY 1),
        |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, term)
        |       AS rank FROM tf),
        |top AS (SELECT round(ln(CAST(rank AS DOUBLE)), 6)::DECIMAL(30,6) AS x,
        |        round(ln(CAST(f AS DOUBLE)), 6)::DECIMAL(30,6) AS y
        |        FROM rk WHERE rank <= 1000),
        |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |      sum(x * y) AS sxy, sum(x * x) AS sxx FROM top)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
        |  round((CAST(sy AS DOUBLE)
        |      - round(CAST(n * sxy - sx * sy AS DOUBLE)
        |          / CAST(n * sxx - sx * sx AS DOUBLE), 6)
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
        |FROM m""".stripMargin) { (spark, dir) =>
      val dec30 = DecimalType(30, 6)
      val tf = docs(spark, dir)
        .graftSpread()
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("f"))
      val top = tf.orderBy(col("f").desc, col("term")).limit(1000)
      val rk = top.withColumn("rank", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .orderBy(col("f").desc, col("term"))).cast(LongType))
      val xy = rk.select(
        round(log(col("rank").cast(DoubleType)), 6).cast(dec30).as("x"),
        round(log(col("f").cast(DoubleType)), 6).cast(dec30).as("y"))
      val m = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast(DoubleType)
      val den = (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast(DoubleType)
      m.select(col("n").cast(LongType).as("n_terms"),
        round(num / den, 6).as("zipf_slope"),
        round((col("sy").cast(DoubleType) -
          round(num / den, 6) * col("sx").cast(DoubleType)) /
          col("n").cast(DoubleType), 6).as("intercept"))
    },

    // Robust (median/MAD) outlier screen — q_outliers' heavy-tail-safe
    // sibling: the classic z-score's mean and stddev are themselves
    // dragged by the outliers they hunt, so the robust version
    // centers on the per-source MEDIAN and scales by the median
    // absolute deviation (modified z = 0.6745·(x−med)/MAD —
    // Iglewicz & Hoaglin; their 3.5 cut returns nothing on this
    // clean synthetic corpus, so the query flags at 2.5 to keep the
    // gate's diff surface non-empty). Parity needs no rounding
    // tricks: medians of integers interpolate to exact binary
    // halves, so every intermediate is the same double on both
    // engines. Two keyed aggregates (med, then MAD over deviations);
    // the per-source stats join back broadcast.
    "q_outliers_mad" -> QueryDef(
      "per-source robust length outliers: modified z-score beyond 2.5",
      """WITH s1 AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
        |      FROM documents GROUP BY 1),
        |s2 AS (SELECT d.source,
        |      quantile_cont(abs(d.n_chars - s1.med), 0.5) AS mad
        |      FROM documents d JOIN s1 USING (source) GROUP BY d.source),
        |z AS (SELECT d.doc_id, d.source,
        |      round(0.6745 * (d.n_chars - s1.med) / s2.mad, 6) AS mz
        |      FROM documents d JOIN s1 USING (source) JOIN s2 USING (source)
        |      WHERE s2.mad > 0)
        |SELECT doc_id, source, mz FROM z WHERE abs(mz) > 2.5
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      val s1 = d.groupBy("source")
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val s2 = d.join(broadcast(s1), Seq("source"))
        .groupBy("source")
        .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
      d.join(broadcast(s1), Seq("source"))
        .join(broadcast(s2), Seq("source"))
        .where(col("mad") > 0)
        .select(col("doc_id"), col("source"),
          round(lit(0.6745) * (col("n_chars") - col("med")) / col("mad"), 6)
            .as("mz"))
        .where(abs(col("mz")) > 2.5)
        .orderBy("doc_id")
    },

    "q_outliers" -> QueryDef(
      "per-source length outliers beyond 2 population-stddevs",
      """WITH s AS (SELECT source,
        |             CAST(sum(n_chars) AS DOUBLE) AS sx,
        |             CAST(sum(n_chars * n_chars) AS DOUBLE) AS sxx,
        |             CAST(count(*) AS DOUBLE) AS n
        |           FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.source,
        |  round((d.n_chars - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)), 6) AS z
        |FROM documents d JOIN s USING (source)
        |WHERE abs(d.n_chars - sx / n) > 2 * sqrt(sxx / n - (sx / n) * (sx / n))
        |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      val s = d.groupBy(col("source"))
        .agg(sum(col("n_chars")).cast(DoubleType).as("sx"),
          sum(col("n_chars") * col("n_chars")).cast(DoubleType).as("sxx"),
          count(lit(1)).cast(DoubleType).as("n"))
      val mu = col("sx") / col("n")
      val sd = sqrt(col("sxx") / col("n") - mu * mu)
      d.join(broadcast(s), "source")
        .where(abs(col("n_chars") - mu) > lit(2) * sd)
        .select(col("doc_id"), col("source"),
          round((col("n_chars") - mu) / sd, 6).as("z"))
        .orderBy("doc_id")
    },

    // Incremental dedup: a new batch (doc_id % 7 < 2) against the
    // already-ingested corpus. The bloom prefilter makes the exact
    // anti-join touch only the duplicate slice; the RESULT is exact
    // (no false negatives), so the oracle is the plain anti-join.
    "q_bloom_dedup" -> QueryDef(
      "bloom-prefiltered incremental dedup of a batch vs the seen corpus",
      """WITH batch AS (SELECT * FROM documents WHERE doc_id % 7 < 2),
        |seen AS (SELECT * FROM documents WHERE doc_id % 7 >= 2)
        |SELECT b.doc_id, b.source FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE md5(s.text) = md5(b.text))
        |ORDER BY b.doc_id""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      val batch = d.where(col("doc_id") % 7 < 2)
      val seen = d.where(col("doc_id") % 7 >= 2)
      Dedup.bloomNovel(batch, seen, "text", expectedItems = 100000L)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    "q_dedup_ngram" -> QueryDef(
      "exact n-gram Jaccard near-dup pairs (complete prefix filtering)",
      s"""WITH $gramsCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         |dfs AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
         |pref AS (SELECT doc_id, gram, rk, n FROM (
         |    SELECT g.doc_id, g.gram, sz.n,
         |      row_number() OVER (PARTITION BY g.doc_id ORDER BY dfs.df, g.gram) AS rk
         |    FROM g JOIN dfs USING (gram) JOIN sz USING (doc_id))
         |  WHERE rk <= n - ((n * 3 + 4) // 5) + 1),
         |cand AS (SELECT doc_a, doc_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS cnt,
         |      any_value(a.n) AS na, any_value(b.n) AS nb
         |    FROM pref a JOIN pref b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |    WHERE b.n * 5 >= a.n * 3 AND a.n * 5 >= b.n * 3
         |    GROUP BY 1, 2)
         |  WHERE (cnt + least((na * 3 + 4) // 5, (nb * 3 + 4) // 5) - 1) * 8 >= (na + nb) * 3),
         |inter AS (SELECT doc_a, doc_b, count(*) AS i
         |          FROM cand JOIN g x ON x.doc_id = doc_a
         |                    JOIN g y ON y.doc_id = doc_b AND y.gram = x.gram
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(sa.n + sb.n - i) AS jaccard
         |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |WHERE i * 5 >= (sa.n + sb.n - i) * 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
      // NOTE: caching the gram set here was measured SLOWER (2×) than
      // recomputing it — the InMemoryRelation boundary breaks codegen
      // fusion with the scan; recompute wins.
      Dedup.ngramJaccardPairs(
        TextAnalysis.gramArrays(docs(spark, dir), "doc_id", "text", 5), "doc_id", 3, 5)
        .orderBy("doc_a", "doc_b")
    },

    "q_dedup_minhash" -> QueryDef(
      "MinHash+LSH near-dup pairs, exact-Jaccard verified",
      s"""WITH $minhashPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
      Dedup.minhashPairs(
        TextAnalysis.gramArrays(docs(spark, dir), "doc_id", "text", 5), "doc_id", 3, 5)
        .orderBy("doc_a", "doc_b")
    },

    // Near-dup CLUSTERS, not just pairs: VERIFIED near-dup pairs
    // (MinHash+LSH candidates, exact Jaccard ≥ τ) are closed
    // transitively with connected components, so a chain A~B~C lands in
    // ONE cluster even when A and C share no band — the thing the pair
    // query can't express, and the form a dedup pipeline consumes
    // (keep component-min per cluster). Clustering runs on the verified
    // graph, not raw bucket collisions: band collisions are one-sided
    // noise that transitive closure would amplify into giant false
    // clusters. For hot-bucket-safe candidate generation at scale see
    // Dedup.lshBucketEdges (star edges, O(size) per bucket). The
    // oracle rebuilds the same pairs in DuckDB and closes them with a
    // recursive CTE.
    // Term co-occurrence with pointwise mutual information — the
    // collocation/phrase-mining readout. Pair fan-out is quadratic in
    // PER-DOC DISTINCT terms (bounded by doc length, and at web scale
    // pruned to each doc's top terms first), never in the corpus; the
    // pair counts then aggregate with map-side combine, and the
    // marginals join back on the (Zipf-bounded) vocabulary — the same
    // broadcast-sized df join as TF-IDF. PMI's one transcendental
    // rounds to 6 decimals over exact integer counts, so ranking is
    // engine-stable.
    "q_cooccur" -> QueryDef(
      "token co-occurrence PMI over per-document distinct terms",
      """WITH t AS (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS w
        |           FROM documents),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM t),
        |m AS (SELECT w, count(*) AS nw FROM t GROUP BY w),
        |p AS (SELECT a.w AS term_a, b.w AS term_b, count(*) AS n_ab
        |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.w < b.w
        |      GROUP BY 1, 2),
        |s AS (SELECT term_a, term_b, n_ab,
        |        round(ln(CAST(n_ab AS DOUBLE) * n.n_docs / (ma.nw * mb.nw)), 6) AS pmi
        |      FROM p, n
        |      JOIN m ma ON term_a = ma.w JOIN m mb ON term_b = mb.w)
        |SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab, pmi
        |FROM s WHERE n_ab >= 5
        |ORDER BY term_a, term_b""".stripMargin) { (spark, dir) =>
      val toks = docs(spark, dir)
        .graftSpread()
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("w"))
        .localCheckpoint()
      val nDocs = toks.select(countDistinct(col("doc_id")).as("n_docs"))
      val marg = toks.groupBy("w").agg(count(lit(1)).as("nw"))
      // The output threshold n_ab >= 5 implies BOTH marginals >= 5
      // (n_ab <= min(nw_a, nw_b)), so the document-frequency filter is
      // pushed BELOW the quadratic pair fan-out: a broadcast semi-join
      // drops every sub-threshold token before pairing. Under a Zipf
      // vocabulary the df<5 tail is most of the DISTINCT vocabulary, so
      // at corpus scale this is the difference between pairing the head
      // and fanning out pairs that can never pass. The surviving vocab
      // (df >= 5) is the Zipf head — broadcast-sized by construction.
      // Measured at sf0.1: the driver-generated corpus has NO
      // sub-threshold tail (31 distinct tokens, every df >= 5 — the 465
      // output rows are exactly C(31,2)), so the semi-join prunes zero
      // rows here and the bench delta is noise-level; the pushdown is
      // the structural fix for real text, where the df<5 tail dominates
      // |vocab|. Result unchanged (oracle keeps the post-aggregation
      // n_ab >= 5 form; both filters are implied by each other given
      // n_ab <= min marginal).
      val frequent = marg.where(col("nw") >= 5).select("w")
      val ftoks = toks.join(broadcast(frequent), Seq("w"), "left_semi")
      val pairs = ftoks.select(col("doc_id"), col("w").as("term_a"))
        .join(ftoks.select(col("doc_id"), col("w").as("term_b")), "doc_id")
        .where(col("term_a") < col("term_b"))
        .groupBy("term_a", "term_b").agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= 5)
      pairs
        .join(broadcast(marg.withColumnRenamed("w", "term_a")
          .withColumnRenamed("nw", "__na")), "term_a")
        .join(broadcast(marg.withColumnRenamed("w", "term_b")
          .withColumnRenamed("nw", "__nb")), "term_b")
        .crossJoin(broadcast(nDocs))
        .select(col("term_a"), col("term_b"), col("n_ab"),
          round(log(col("n_ab").cast(DoubleType) * col("n_docs") /
            (col("__na") * col("__nb"))), 6).as("pmi"))
        .orderBy("term_a", "term_b")
    },

    // Per-term TRIANGLE counts over the positive-PMI co-occurrence
    // graph — the local-clustering readout on top of q_cooccur's
    // collocation edges (collocation cliques ≈ topical cores). Edge
    // rule is INTEGER-exact (n_ab·N > nw_a·nw_b ⟺ pmi > 0 — no float
    // threshold at a log's zero crossing), and the enumeration uses
    // degree orientation (GraphOps.triangleCounts scaladoc) so no hub
    // term fans out by its full degree; the oracle enumerates the same
    // triangles lexicographically — counting is orientation-free.
    "q_triangles" -> QueryDef(
      "per-term triangle counts over the positive-PMI co-occurrence graph",
      """WITH t AS (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS w
        |           FROM documents),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM t),
        |m AS (SELECT w, count(*) AS nw FROM t GROUP BY w),
        |p AS (SELECT a.w AS a, b.w AS b, count(*) AS n_ab
        |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.w < b.w
        |      GROUP BY 1, 2),
        |e AS (SELECT a, b FROM p, n
        |      JOIN m ma ON a = ma.w JOIN m mb ON b = mb.w
        |      WHERE n_ab >= 5 AND n_ab * n.n_docs > ma.nw * mb.nw),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1 JOIN e e2 ON e1.b = e2.a
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (SELECT x AS term FROM tri
        |            UNION ALL SELECT y FROM tri
        |            UNION ALL SELECT z FROM tri)
        |SELECT term, CAST(count(*) AS BIGINT) AS n_tri
        |FROM corners GROUP BY term ORDER BY n_tri DESC, term""".stripMargin) {
      (spark, dir) =>
        val toks = docs(spark, dir)
          .graftSpread()
          .select(col("doc_id"),
            explode(array_distinct(TextAnalysis.tokens(col("text")))).as("w"))
          .localCheckpoint()
        val nDocs = toks.select(countDistinct(col("doc_id")).as("n_docs"))
        val marg = toks.groupBy("w").agg(count(lit(1)).as("nw"))
        // same sub-threshold-tail prune as q_cooccur: df < 5 can never
        // reach n_ab >= 5, so it never enters the pair fan-out
        val frequent = marg.where(col("nw") >= 5).select("w")
        val ftoks = toks.join(broadcast(frequent), Seq("w"), "left_semi")
        val edges = ftoks.select(col("doc_id"), col("w").as("a"))
          .join(ftoks.select(col("doc_id"), col("w").as("b")), "doc_id")
          .where(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
          .where(col("n_ab") >= 5)
          .join(broadcast(marg.select(col("w").as("a"), col("nw").as("na"))), "a")
          .join(broadcast(marg.select(col("w").as("b"), col("nw").as("nb"))), "b")
          .crossJoin(broadcast(nDocs))
          .where(col("n_ab") * col("n_docs") > col("na") * col("nb"))
          .select("a", "b")
        graft.operators.GraphOps.triangleCounts(edges, "a", "b")
          .select(col("node").as("term"), col("n_tri"))
          .orderBy(col("n_tri").desc, col("term"))
    },

    // Character-distribution entropy per document — the
    // low-information quality gate (TextAnalysis.charEntropy scaladoc:
    // mash/base64/one-char spam score at the tails). Same rounded-ln +
    // exact-DECIMAL accumulation as q_lm_score so both engines agree
    // bit-for-bit regardless of addition order.
    "q_char_entropy" -> QueryDef(
      "per-document character Shannon entropy (low-information filter)",
      """WITH c AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]')) AS ch
        |           FROM documents),
        |cnts AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS len FROM cnts GROUP BY 1)
        |SELECT cnts.doc_id, l.len AS n_chars,
        |  -CAST(sum(CAST(round(ln(CAST(cnt AS DOUBLE) / l.len), 6) AS DECIMAL(30,6)) * cnt) AS DOUBLE) / l.len AS entropy
        |FROM cnts JOIN lens l ON cnts.doc_id = l.doc_id
        |GROUP BY cnts.doc_id, l.len ORDER BY cnts.doc_id""".stripMargin) {
      (spark, dir) =>
        TextAnalysis.charEntropy(docs(spark, dir), "doc_id", "text")
          .orderBy("doc_id")
    },

    // Collocations by Dunning's G² log-likelihood ratio
    // (TextAnalysis.collocationsLlr scaladoc): the evidence-weighted
    // companion of q_cooccur's PMI — PMI rewards rarity, G² scores
    // the full 2×2 contingency including the absence cells. Rounded-ln
    // + exact-DECIMAL accumulation; final rank is orderBy+limit
    // (TakeOrderedAndProject — per-partition top-k merge, no global
    // sort materialization).
    "q_collocations" -> QueryDef(
      "top-20 adjacent-bigram collocations by Dunning G2 (min count 5)",
      """WITH t AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tt AS (SELECT toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |bt AS (SELECT toks[i] || ' ' || toks[i + 1] AS bg
        |       FROM tt, unnest(range(1, n)) AS u(i)),
        |bgc AS (SELECT bg, count(*) AS a FROM bt GROUP BY 1),
        |sp AS (SELECT bg, a, split_part(bg, ' ', 1) AS w1,
        |         split_part(bg, ' ', 2) AS w2 FROM bgc),
        |r AS (SELECT w1, sum(a) AS ra FROM sp GROUP BY 1),
        |cm AS (SELECT w2, sum(a) AS cb FROM sp GROUP BY 1),
        |nt AS (SELECT sum(a) AS nn FROM sp),
        |j AS (SELECT sp.bg, sp.a AS ca, r.ra, cm.cb, nt.nn,
        |        r.ra - sp.a AS b, cm.cb - sp.a AS c,
        |        nt.nn - r.ra - cm.cb + sp.a AS dd
        |      FROM sp JOIN r USING (w1) JOIN cm USING (w2), nt
        |      WHERE sp.a >= 5),
        |g AS (SELECT bg, ca,
        |  CAST((
        |    CASE WHEN ca > 0 THEN CAST(round(ln(CAST(ca AS DOUBLE)*CAST(nn AS DOUBLE)
        |      /(CAST(ra AS DOUBLE)*CAST(cb AS DOUBLE))),6) AS DECIMAL(30,6)) * ca ELSE 0 END +
        |    CASE WHEN b > 0 THEN CAST(round(ln(CAST(b AS DOUBLE)*CAST(nn AS DOUBLE)
        |      /(CAST(ra AS DOUBLE)*CAST(nn-cb AS DOUBLE))),6) AS DECIMAL(30,6)) * b ELSE 0 END +
        |    CASE WHEN c > 0 THEN CAST(round(ln(CAST(c AS DOUBLE)*CAST(nn AS DOUBLE)
        |      /(CAST(nn-ra AS DOUBLE)*CAST(cb AS DOUBLE))),6) AS DECIMAL(30,6)) * c ELSE 0 END +
        |    CASE WHEN dd > 0 THEN CAST(round(ln(CAST(dd AS DOUBLE)*CAST(nn AS DOUBLE)
        |      /(CAST(nn-ra AS DOUBLE)*CAST(nn-cb AS DOUBLE))),6) AS DECIMAL(30,6)) * dd ELSE 0 END
        |  ) * 2 AS DOUBLE) AS g2 FROM j)
        |SELECT bg, CAST(ca AS BIGINT) AS n_ab, g2 FROM g
        |ORDER BY g2 DESC, bg LIMIT 20""".stripMargin) { (spark, dir) =>
      TextAnalysis.collocationsLlr(docs(spark, dir), "text",
        minCount = 5, k = 20)
    },

    // Percentile-rank normalization of a quality score — the step
    // that turns raw scores into a mixable [0,1] scale before
    // threshold selection (q_budget_sketch's score-threshold needs
    // comparable scales across sources). The 100 TB shape is
    // q_quantile_sketch's: the CDF computes over the integer VALUE
    // GRID (distinct score values, range-bounded — the one ordered
    // window runs there, never over the corpus), then broadcasts back
    // onto the scan. pct = P(score ≤ v), one IEEE divide on exact
    // integer counts.
    "q_rank_normalize" -> QueryDef(
      "percentile-rank normalization of doc length via the value-grid CDF",
      """WITH g AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
        |cdf AS (SELECT v, sum(c) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(c) OVER () AS n FROM g)
        |SELECT d.doc_id, d.n_chars,
        |  round(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pct
        |FROM documents d JOIN cdf ON d.n_chars = cdf.v
        |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
      val w = org.apache.spark.sql.expressions.Window.orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wn = org.apache.spark.sql.expressions.Window.partitionBy()
      // ordered window over the value GRID only (|distinct n_chars|
      // rows) — the corpus never sorts
      val cdf = docs(spark, dir).groupBy(col("n_chars").as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wn))
      docs(spark, dir)
        .join(broadcast(cdf), col("n_chars") === col("v"))
        .select(col("doc_id"), col("n_chars"),
          round(col("cum").cast(DoubleType) / col("n").cast(DoubleType), 6)
            .as("pct"))
        .orderBy("doc_id")
    },

    // Mutual information between source and lang — the categorical
    // dependence statistic (Profiling.mutualInfo scaladoc: corr is
    // numeric/linear, MI catches any association; the
    // does-source-predict-lang mixture diagnostic). One corpus pass
    // builds the |sources|·|langs| joint table; everything after runs
    // on that tiny frame. lmScore's rounded-ln + exact-DECIMAL
    // determinism recipe.
    "q_mutual_info" -> QueryDef(
      "mutual information (nats) between document source and lang",
      """WITH joint AS (SELECT CAST(source AS VARCHAR) AS a,
        |    CAST(lang AS VARCHAR) AS b, count(*) AS c
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (SELECT a, b, c,
        |  sum(c) OVER (PARTITION BY a) AS ca,
        |  sum(c) OVER (PARTITION BY b) AS cb,
        |  sum(c) OVER () AS n FROM joint)
        |SELECT CAST(n AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_cells,
        |  round(CAST(sum(CAST(round(ln(CAST(n * c AS DOUBLE) /
        |      CAST(ca * cb AS DOUBLE)), 6) AS DECIMAL(30,6)) * c) AS DOUBLE)
        |    / CAST(n AS DOUBLE), 6) AS mi
        |FROM m GROUP BY n""".stripMargin) { (spark, dir) =>
      graft.operators.Profiling.mutualInfo(docs(spark, dir), "source", "lang")
    },

    // Asymmetric CONTAINMENT near-dup (Dedup.containmentPairs
    // scaladoc): quote/extraction detection that symmetric Jaccard
    // rejects by design. The oracle IS the naive all-ordered-pairs
    // intersection scan the one-sided prefix blocking avoids —
    // completeness is value-checked, the q_fuzzy_join pattern.
    "q_containment" -> QueryDef(
      "ordered containment pairs (gram subset >= 0.8) — quote detection",
      containmentOracleSql) { (spark, dir) =>
      graft.operators.Dedup.containmentPairs(
          TextAnalysis.gramArrays(docs(spark, dir), "doc_id", "text", 5),
          "doc_id", 4, 5)
        .orderBy("src", "dst")
    },

    // The containment ROUTER's last-resort path, value-gated on its
    // own: pairScanMaxDocs = 0 and blockPairBudget = 0 force every
    // dense corpus through route C4 of DEDUP_ROUTER.md (prefix
    // candidates + streamed sorted-array verify — the regime the
    // router reserves for giant entangled components, r14's sf3).
    // Same oracle SHAPE as q_containment: the path choice must be
    // invisible in the values. BENCH CAP (r15 verdict #5): the
    // registry row runs the deterministic 1/3 subset doc_id % 3 = 0
    // on BOTH engines — the worst-case path stays permanently
    // value-gated at ~1/9 the pair work (the full-corpus row cost 31 s
    // = 12% of every official sf0.1 run, pure instrument overhead).
    // The SCALE-SWEEP evidence is unaffected: a constant-fraction cap
    // shifts the fitted curve, never its exponent (t ∝ (n/3)^α), and
    // wave 5's fresh-universe decades were measured at the full corpus
    // before the cap landed (BENCH_SCALING.md r16).
    "q_containment_fallback" -> QueryDef(
      "containment via the forced prefix-candidate + streamed-verify fallback",
      containmentOracleSqlWhere(" WHERE doc_id % 3 = 0")) { (spark, dir) =>
      graft.operators.Dedup.containmentPairs(
          TextAnalysis.gramArrays(
            docs(spark, dir).where(col("doc_id") % 3 === 0),
            "doc_id", "text", 5),
          "doc_id", 4, 5, pairScanMaxDocs = 0, blockPairBudget = 0)
        .orderBy("src", "dst")
    },

    // Linear classifier APPLY via the hashing trick — the
    // fastText-quality-filter shape (TextAnalysis.hashedLinearScore
    // scaladoc): hash tokens into 64 feature slots, broadcast-join the
    // weight table, integer tf-weighted dot product. The oracle builds
    // the same weights from range(64) and the same md5 bucket hash.
    // Multinomial Naive Bayes — TRAINED distributed, applied
    // distributed, graded as a confusion matrix: the classic
    // source-classifier baseline a data pipeline fits on its own
    // corpus (q_classifier_score applies fixed weights; this LEARNS
    // them). Laplace-smoothed likelihoods rearrange so unseen terms
    // contribute ln(1) = 0 — score = prior + Σ tf·ln(cnt+1) −
    // dl·ln(tok_c + V) — which turns the apply into an INNER
    // equijoin on the term key (absent (term, class) rows simply
    // drop out; no dense V×C grid ever materializes beyond the
    // model itself). Every log takes an integer (or
    // integer-ratio) argument and rounds to 6 decimals into DECIMAL,
    // sums are exact, and the argmax is a min(struct) reduce with
    // lexicographic tie-break. Train/test split is the deterministic
    // doc_id % 5 rule. Scale shape: two corpus aggregates (class-term
    // counts, test-doc tfs) + one keyed model join; the per-class
    // constant table is broadcast-sized by construction.
    "q_naive_bayes" -> QueryDef(
      "Naive Bayes source classifier: train on 4/5, confusion matrix on 1/5",
      """WITH tr AS (SELECT source AS c, doc_id, text FROM documents
        |      WHERE doc_id % 5 <> 0),
        |te AS (SELECT doc_id, source, text FROM documents
        |      WHERE doc_id % 5 = 0),
        |trt AS (SELECT c, unnest(regexp_extract_all(lower(text),
        |      '[a-z0-9]+')) AS term FROM tr),
        |ct AS (SELECT c, term, count(*) AS cnt FROM trt GROUP BY 1, 2),
        |cstat AS (SELECT c, sum(cnt) AS tok FROM ct GROUP BY 1),
        |nd AS (SELECT c, count(*) AS ndc FROM tr GROUP BY 1),
        |ntr AS (SELECT count(*) AS n FROM tr),
        |vv AS (SELECT count(DISTINCT term) AS v FROM trt),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),
        |        '[a-z0-9]+')) AS term FROM te) GROUP BY 1, 2),
        |dls AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |sums AS (SELECT tf.doc_id, ct.c,
        |      sum(tf.tf * round(ln(ct.cnt + 1), 6)::DECIMAL(30,6)) AS s
        |      FROM tf JOIN ct USING (term) GROUP BY 1, 2),
        |grid AS (SELECT te.doc_id, te.source, cs.c, cs.tok, nd.ndc,
        |      coalesce(dls.dl, 0) AS dl
        |      FROM te CROSS JOIN cstat cs
        |      JOIN nd ON nd.c = cs.c
        |      LEFT JOIN dls ON dls.doc_id = te.doc_id),
        |score AS (SELECT g.doc_id, g.source, g.c,
        |      round(ln(CAST(g.ndc AS DOUBLE) / ntr.n), 6)::DECIMAL(30,6)
        |      - g.dl * round(ln(CAST(g.tok + vv.v AS DOUBLE)), 6)::DECIMAL(30,6)
        |      + coalesce(s.s, 0) AS sc
        |      FROM grid g CROSS JOIN ntr CROSS JOIN vv
        |      LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.c = g.c),
        |pred AS (SELECT doc_id, source, c FROM (
        |      SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY sc DESC, c) AS rn FROM score) WHERE rn = 1)
        |SELECT source AS actual, c AS predicted,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
      val dec = DecimalType(30, 6)
      val d = docs(spark, dir)
      val tr = d.where(expr("doc_id % 5 <> 0"))
      val te = d.where(expr("doc_id % 5 = 0"))
      val trt = tr.graftSpread().select(col("source").as("c"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      // ct is vocabulary-sized and read THREE times (class totals, the
      // test-side score join, and — via the derivation below — the
      // vocab size); un-checkpointed, each consumer re-ran the train
      // tokenize pass (the before-plan had 26 Exchanges for one
      // logical pipeline — guide §2.4). vv = distinct terms derives
      // from ct (every (c, term) group exists in trt, so distinct
      // terms are identical) instead of re-tokenizing the train split.
      val ct = trt.groupBy("c", "term").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val cstat = ct.groupBy("c").agg(sum(col("cnt")).as("tok"))
      val nd = tr.groupBy(col("source").as("c"))
        .agg(count(lit(1)).as("ndc"))
      val ntr = tr.agg(count(lit(1)).as("n"))
      val vv = ct.agg(countDistinct(col("term")).as("v"))
      // test-side tf feeds both the doc-length rollup and the score
      // join — one tokenize pass, not two
      val tf = te.graftSpread().select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dls = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      val sums = tf.join(ct, Seq("term"))
        .groupBy("doc_id", "c")
        .agg(sum(col("tf") *
          round(log(col("cnt") + 1), 6).cast(dec)).as("s"))
      val grid = te.select(col("doc_id"), col("source"))
        .crossJoin(broadcast(cstat.join(nd, Seq("c"))))
        .join(dls, Seq("doc_id"), "left")
        .withColumn("dl", coalesce(col("dl"), lit(0L)))
        .crossJoin(broadcast(ntr)).crossJoin(broadcast(vv))
      val score = grid
        .join(sums, Seq("doc_id", "c"), "left")
        .select(col("doc_id"), col("source"), col("c"),
          (round(log(col("ndc").cast(DoubleType) / col("n")), 6).cast(dec)
            - col("dl") *
              round(log((col("tok") + col("v")).cast(DoubleType)), 6)
                .cast(dec)
            + coalesce(col("s"), lit(0).cast(dec))).as("sc"))
      score.groupBy("doc_id", "source")
        .agg(min(struct((-col("sc")).as("ns"), col("c").as("cl")))
          .as("__p"))
        .select(col("source").as("actual"), col("__p.cl").as("predicted"))
        .groupBy("actual", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("actual", "predicted")
    },

    "q_classifier_score" -> QueryDef(
      "hashed linear classifier logit per document (quality-filter apply)",
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |        FROM documents) GROUP BY 1, 2),
        |wt AS (SELECT range AS bucket,
        |         ((range * 2654435761) % 1000003) % 1001 - 500 AS w
        |       FROM range(64)),
        |b AS (SELECT doc_id, tf,
        |        ('0x' || substr(md5(term), 1, 13))::BIGINT % 64 AS bucket
        |      FROM tf)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf * w) AS BIGINT) AS logit_milli
        |FROM b JOIN wt USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      TextAnalysis.hashedLinearScore(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Inverted-index conjunctive keyword search. The scale shape is
    // the index, not the scan: postings (term → doc) are one exploded
    // projection, the query terms prune the postings FIRST (predicate
    // pushdown into the posting build — at 100 TB the index is
    // pre-materialized term-bucketed parquet and this becomes a
    // partition-pruned read of |terms| buckets), and a doc matches the
    // AND-query when its surviving posting count equals the term count.
    // No LIKE scan over the corpus text ever runs.
    // Materialized inverted-index export — the posting-list table a
    // search/retrieval layer consumes. Two scale decisions visible in
    // the plan: (1) the df >= 5 threshold applies via a semi-join on
    // the term marginals BEFORE the collect (the q_cooccur lesson:
    // under a Zipf vocabulary the sub-threshold tail IS most of the
    // vocabulary — filtering after the collect would build and then
    // discard millions of singleton lists); (2) lists shard by
    // hash(doc_id) so a stopword's near-every-doc posting list never
    // lands in ONE task's collect buffer — no unbounded array, and a
    // reader re-merges shards by key. Lists serialize as sorted CSV
    // strings so the engine/oracle comparison is a plain column.
    "q_posting_lists" -> QueryDef(
      "sharded inverted-index export: df>=5 terms with sorted posting lists",
      """WITH p AS (SELECT DISTINCT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |marg AS (SELECT term, count(*) AS df FROM p GROUP BY term HAVING count(*) >= 5)
        |SELECT p.term,
        |  ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard,
        |  CAST(count(*) AS BIGINT) AS df_shard,
        |  string_agg(p.doc_id, ',' ORDER BY p.doc_id) AS postings
        |FROM p JOIN marg ON p.term = marg.term
        |GROUP BY 1, 2 ORDER BY p.term, shard""".stripMargin) { (spark, dir) =>
      val p = docs(spark, dir)
        .graftSpread()
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
      val marg = p.groupBy("term").agg(count(lit(1)).as("df"))
        .where(col("df") >= 5)
      p.join(marg, Seq("term"), "left_semi")
        .withColumn("shard", TextAnalysis.hashBucket(col("doc_id"), 16))
        .groupBy("term", "shard")
        .agg(count(lit(1)).as("df_shard"),
          concat_ws(",", sort_array(collect_list(col("doc_id"))))
            .as("postings"))
        .orderBy("term", "shard")
    },

    "q_keyword_search" -> QueryDef(
      "inverted-index AND search: docs containing all query terms",
      """SELECT doc_id, source FROM documents
        |WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'dup')
        |  AND list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'merge')
        |  AND list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'scan')
        |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val terms = Seq("dup", "merge", "scan")
      val d = docs(spark, dir)
      val postings = d
        .graftSpread()
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
        .where(col("term").isin(terms: _*))
      val hits = postings.groupBy("doc_id")
        .agg(count(lit(1)).as("__nt"))
        .where(col("__nt") === terms.size)
      d.join(hits, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // BM25 ranked retrieval over the same query terms — the scoring
    // step after q_keyword_search's boolean match. The corpus never
    // shuffles: tf per literal term is an array projection, the
    // (N, avgdl, df, idf) stats are ONE 1-row aggregate broadcast
    // back, and the ranked answer is a TakeOrdered sort-limit.
    // k1 = 1.25 and b = 0.75 are chosen exactly representable in
    // binary, so every constant (k1+1 = 2.25, 1−b = 0.25) is the
    // same double in both engines; idf and each term's contribution
    // round to 6 decimals and sum as exact DECIMALs.
    "q_bm25" -> {
      val qterms = Seq("dup", "merge", "scan")
      val tfSel = qterms.map(t =>
        s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) AS tf_$t")
        .mkString(",\n        |    ")
      val dfSel = qterms.map(t =>
        s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t")
        .mkString(",\n        |    ")
      val idfSel = qterms.map(t =>
        s"round(ln((CAST(n_docs - df_$t AS DOUBLE) + 0.5) / " +
          s"(CAST(df_$t AS DOUBLE) + 0.5) + 1.0), 6) AS idf_$t")
        .mkString(",\n        |    ")
      val contrib = qterms.map(t =>
        s"CAST(round(idf_$t * (CAST(tf_$t AS DOUBLE) * 2.25) / " +
          s"(CAST(tf_$t AS DOUBLE) + 1.25 * (0.25 + 0.75 * " +
          s"(CAST(dl AS DOUBLE) / avgdl))), 6) AS DECIMAL(30,6))")
        .mkString("\n        |    + ")
      QueryDef(
        "BM25 top-20 docs for the query terms (Okapi ranking)",
        s"""WITH t AS (SELECT doc_id,
          |         regexp_extract_all(lower(text), '[a-z0-9]+') AS w
          |       FROM documents),
          |tt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
          |    $tfSel
          |  FROM t),
          |s AS (SELECT count(*) AS n_docs, sum(dl) AS tot,
          |    $dfSel
          |  FROM tt),
          |s2 AS (SELECT *, CAST(tot AS DOUBLE) / n_docs AS avgdl,
          |    $idfSel
          |  FROM s)
          |SELECT doc_id, dl, score FROM (
          |  SELECT doc_id, dl,
          |    CAST($contrib AS DOUBLE) AS score
          |  FROM tt CROSS JOIN s2)
          |WHERE score > 0
          |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (spark, dir) =>
        TextAnalysis.bm25(docs(spark, dir), "doc_id", "text", qterms, 20)
      }
    },

    // The KEEP side of near-dup removal — what a dedup pipeline
    // actually ships: every document that is either untouched by the
    // duplicate graph or the canonical (minimum-id) member of its
    // cluster. Composes the verified-pair + connected-components
    // machinery of q_dup_clusters; the anti-join keeps the corpus on
    // the big side and the DROP list (non-canonical cluster members)
    // on the small side. How small is DATA-dependent — a dirty crawl
    // can put 20-50 % of the corpus in clusters — so the join carries
    // no hint: Spark's size rule and AQE's runtime statistics choose
    // the broadcast (HintsSpec).
    "q_dedup_keep" -> QueryDef(
      "surviving corpus after near-dup removal (cluster-canonical keep)",
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
         |walk AS (
         |  SELECT DISTINCT u AS node, u AS reach FROM edges
         |  UNION
         |  SELECT e.v AS node, w.reach FROM edges e JOIN walk w ON w.node = e.u),
         |comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node)
         |SELECT d.doc_id, d.source, d.lang FROM documents d LEFT JOIN comp c
         |  ON d.doc_id = c.node
         |WHERE c.node IS NULL OR c.component = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      val pairs = Dedup.minhashPairs(
        TextAnalysis.gramArrays(d, "doc_id", "text", 5), "doc_id", 3, 5)
      val drop = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .where(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      d.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    },

    // QUALITY-aware keep policy — what production dedup actually ships
    // (q_dedup_keep keeps the min-id member; real pipelines keep the
    // BEST member): per cluster, survive the doc with the lowest
    // unigram-LM negative log-likelihood (TextAnalysis.lmScore — lower
    // = more typical of the corpus), tie-broken by min doc_id. Both
    // the nll (round-6, DECIMAL-exact accumulation) and the argmin
    // (single min(struct) aggregate, no corpus window) are pinned to
    // engine-identical values, so the winner can't flip on float
    // noise. Scale shape: lmScore is one tokenize pass + broadcast
    // model; everything past connectedComponents is |members| rows;
    // the drop-list anti-join is unhinted, never force-broadcast.
    "q_dedup_keep_quality" -> QueryDef(
      "surviving corpus after near-dup removal (best-quality keep, LM-scored)",
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
         |walk AS (
         |  SELECT DISTINCT u AS node, u AS reach FROM edges
         |  UNION
         |  SELECT e.v AS node, w.reach FROM edges e JOIN walk w ON w.node = e.u),
         |comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
         |t AS (SELECT doc_id,
         |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
         |       FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |ctf AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1),
         |tot AS (SELECT sum(tf) AS tot FROM tf),
         |lp AS (SELECT term,
         |         round(ln(CAST(ctf AS DOUBLE) / CAST(tot AS DOUBLE)), 6)::DECIMAL(30,6) AS logp
         |       FROM ctf CROSS JOIN tot),
         |nll AS (SELECT doc_id,
         |         round(-CAST(sum(logp * tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS nll
         |       FROM tf JOIN lp USING (term) GROUP BY doc_id),
         |best AS (SELECT doc_id FROM (
         |    SELECT c.component, n.doc_id, row_number() OVER (
         |      PARTITION BY c.component ORDER BY n.nll, n.doc_id) AS rn
         |    FROM comp c JOIN nll n ON n.doc_id = c.node) WHERE rn = 1)
         |SELECT d.doc_id, d.source, d.lang FROM documents d LEFT JOIN comp c
         |  ON d.doc_id = c.node
         |WHERE c.node IS NULL OR d.doc_id IN (SELECT doc_id FROM best)
         |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      val pairs = Dedup.minhashPairs(
        TextAnalysis.gramArrays(d, "doc_id", "text", 5), "doc_id", 3, 5)
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component"))
      // Score ONLY cluster members (scoreIds semi-join inside lmScore):
      // the LM model still aggregates the full corpus — it is
      // corpus-wide by the oracle's definition, so the tokenize pass
      // is irreducible — but the logp join + per-doc nll aggregation
      // drop from |corpus| to |members| tf rows, the dominant
      // post-model cost when clusters are a few % of the corpus.
      val quality = TextAnalysis
        .lmScore(d, "doc_id", "text", scoreIds = Some(comp.select("doc_id")))
        .select(col("doc_id"), col("nll"))
      // members only reach the quality join (|members| rows); the
      // argmin is one aggregate per component
      val best = comp.join(quality, Seq("doc_id"))
        .groupBy("component")
        .agg(min(struct(col("nll"), col("doc_id"))).as("__k"))
        .select(col("__k.doc_id").as("doc_id"))
      val drop = comp.select("doc_id")
        .join(best, Seq("doc_id"), "left_anti")
      d.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    },

    "q_dup_clusters" -> QueryDef(
      "duplicate clusters: connected components over verified near-dup pairs",
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
         |walk AS (
         |  SELECT DISTINCT u AS node, u AS reach FROM edges
         |  UNION
         |  SELECT e.v AS node, w.reach FROM edges e JOIN walk w ON w.node = e.u)
         |SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS component
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val pairs = Dedup.minhashPairs(
        TextAnalysis.gramArrays(docs(spark, dir), "doc_id", "text", 5),
        "doc_id", 3, 5)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },

    // Golden-record survivorship — the MERGE step after entity
    // resolution: each duplicate cluster collapses to one record with
    // per-field survivorship rules (canonical id = min member id,
    // best text = longest with min-id tiebreak, lang = cluster mode
    // with lexicographic tiebreak, source count for lineage). Both
    // argmaxes are single-aggregate min(struct(-key, tiebreak))
    // reductions — no window over the corpus — and everything
    // downstream of connectedComponents is |cluster members| rows.
    // The members↔documents join carries no hint: membership is
    // corpus-derived (a dirty crawl clusters 20-50 % of its docs), so a
    // forced hint would bypass Spark's size check and OOM the driver at
    // 100 TB; Spark's size rule and AQE decide from the estimate and the
    // runtime shuffle sizes.
    "q_golden_record" -> QueryDef(
      "golden records: per-cluster survivorship merge after near-dup ER",
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
         |walk AS (
         |  SELECT DISTINCT u AS node, u AS reach FROM edges
         |  UNION
         |  SELECT e.v AS node, w.reach FROM edges e JOIN walk w ON w.node = e.u),
         |comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
         |m AS (SELECT c.component, d.doc_id, d.n_chars, d.source, d.lang
         |      FROM comp c JOIN documents d ON d.doc_id = c.node),
         |agg AS (SELECT component, count(*) AS n_members,
         |        min(doc_id) AS canonical_id,
         |        count(DISTINCT source) AS n_sources
         |        FROM m GROUP BY 1 HAVING count(*) >= 2),
         |best AS (SELECT component, doc_id AS best_doc_id,
         |        n_chars AS best_len FROM (
         |    SELECT component, doc_id, n_chars, row_number() OVER (
         |      PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM m) WHERE rn = 1),
         |lc AS (SELECT component, lang, count(*) AS c FROM m GROUP BY 1, 2),
         |ml AS (SELECT component, lang AS mode_lang FROM (
         |    SELECT component, lang, row_number() OVER (
         |      PARTITION BY component ORDER BY c DESC, lang) AS rn
         |    FROM lc) WHERE rn = 1)
         |SELECT CAST(agg.component AS BIGINT) AS cluster,
         |  CAST(n_members AS BIGINT) AS n_members,
         |  CAST(canonical_id AS BIGINT) AS canonical_id,
         |  CAST(best_doc_id AS BIGINT) AS best_doc_id,
         |  CAST(best_len AS BIGINT) AS best_len,
         |  CAST(n_sources AS BIGINT) AS n_sources, mode_lang
         |FROM agg JOIN best USING (component) JOIN ml USING (component)
         |ORDER BY cluster""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      val pairs = Dedup.minhashPairs(
        TextAnalysis.gramArrays(d, "doc_id", "text", 5), "doc_id", 3, 5)
      val members = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component"))
      val m = d.join(members, Seq("doc_id"))
        .select(col("component"), col("doc_id"), col("n_chars"),
          col("source"), col("lang"))
      val agg = m.groupBy("component")
        .agg(count(lit(1)).as("n_members"),
          min(col("doc_id")).as("canonical_id"),
          countDistinct(col("source")).as("n_sources"),
          min(struct((-col("n_chars")).as("nl"), col("doc_id").as("id")))
            .as("__b"))
        .where(col("n_members") >= 2)
      val ml = m.groupBy("component", "lang")
        .agg(count(lit(1)).as("c"))
        .groupBy("component")
        .agg(min(struct((-col("c")).as("nc"), col("lang").as("l")))
          .as("__m"))
      agg.join(ml, Seq("component"))
        .select(col("component").as("cluster"), col("n_members"),
          col("canonical_id"), col("__b.id").as("best_doc_id"),
          (-col("__b.nl")).as("best_len"), col("n_sources"),
          col("__m.l").as("mode_lang"))
        .orderBy("cluster")
    },

    // SimHash near-dup PAIRS — the Hamming-space search completing
    // q_dedup_simhash's fingerprints (Manku, Jain & Das Sarma,
    // WWW'07): split the 32-bit fingerprint into 4 byte pieces; by
    // pigeonhole, any pair within Hamming distance 3 agrees on at
    // least one whole piece, so the candidate set is an EQUIJOIN on
    // (piece index, piece value) — never an all-pairs XOR scan — and
    // the verify is one codegen bit_count per candidate. The oracle
    // IS the naive all-pairs scan, so the blocking's completeness is
    // value-checked, not assumed. (Simhash piece values aren't
    // hash-uniform — real deployments add permuted tables to split
    // hot pieces; the equijoin shape is the same.)
    "q_simhash_pairs" -> QueryDef(
      "SimHash near-dup pairs within Hamming distance 3 (pigeonhole piece blocking)",
      s"""WITH $gramsCte,
         |h AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h32 FROM g),
         |sh AS (SELECT doc_id,
         |  CAST($simhashTerms AS BIGINT) AS s
         |  FROM h GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
      // Checkpoint the signature table: both self-join sides consume
      // it, and without the barrier each side re-runs the md5 +
      // 32-bit-majority pass over the full gram explosion (the two
      // sides project different columns, so ReuseExchange cannot kick
      // in). The checkpointed frame is |docs| rows × 2 longs — the
      // size ratio (tiny materialization, full corpus pass saved) is
      // the one that WON in r16 (markov/naive_bayes), not the one
      // that lost (minhash banded / ngram_novelty checkpointed the
      // exploded gram stream itself). Cold interleaved A/B ×6 (r17,
      // BENCH_AB_r17.md): 5 of 6 rounds in favor, medians 3.21 s vs
      // 3.33 s without, median pairwise ratio 0.95 — a mild win, the
      // saved pass is only ~0.3 s of a 3.3 s query at sf0.1; the
      // margin grows with corpus size (the signature pass is the
      // linear-in-grams term).
      val sh = Dedup.simhash(
        TextAnalysis.grams(docs(spark, dir), "doc_id", "text", 5), "doc_id")
        .localCheckpoint()
      val pieces = sh.select(col("doc_id"), col("simhash"),
          explode(expr("array(0, 1, 2, 3)")).as("pc"))
        .withColumn("pv", expr("shiftright(simhash, 8 * pc) & 255"))
      val a = pieces.select(col("doc_id").as("doc_a"),
        col("simhash").as("ha"), col("pc"), col("pv"))
      val b = pieces.select(col("doc_id").as("doc_b"),
        col("simhash").as("hb"), col("pc"), col("pv"))
      a.join(b, Seq("pc", "pv")).where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb").distinct()
        .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
        .where(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy("doc_a", "doc_b")
    },

    "q_dedup_simhash" -> QueryDef(
      "32-bit SimHash per document",
      s"""WITH $gramsCte,
         |h AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h32 FROM g)
         |SELECT doc_id,
         |  CAST($simhashTerms AS BIGINT) AS simhash
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      Dedup.simhash(
        TextAnalysis.grams(docs(spark, dir), "doc_id", "text", 5), "doc_id")
        .orderBy("doc_id")
    },

    // PCM waveform statistics from RAW BYTES — the audio-modality
    // companion of q_multimodal_meta's header parsing: each doc's
    // byte payload is read as little-endian i16 samples and reduced
    // to count / peak / energy / RMS with NO codec library — the
    // byte-pair decode is hex-substring arithmetic inside
    // whole-stage codegen, and the oracle replays the identical
    // offsets on the hex image (a wrong endianness or sign fold
    // hash-mismatches). Energy is an exact integer (≤ 2³⁰ per
    // sample), so the one sqrt-of-ratio at the end is the only
    // float, shared bit-for-bit. UTF-8 multibyte text is why the
    // sample count comes from OCTET length, not char length.
    "q_audio_stats" -> QueryDef(
      "PCM i16-LE waveform stats (count/peak/energy/RMS) decoded from raw bytes",
      """WITH b AS (SELECT doc_id, to_hex(encode(text)) AS hx,
        |      octet_length(encode(text)) // 2 AS ns FROM documents),
        |sm AS (SELECT doc_id, ns,
        |      ('0x' || substr(hx, CAST(4 * s + 3 AS INT), 2)
        |            || substr(hx, CAST(4 * s + 1 AS INT), 2))::BIGINT AS uv
        |  FROM b, unnest(range(0, ns)) AS r(s) WHERE ns > 0),
        |sv AS (SELECT doc_id, ns,
        |      uv - CASE WHEN uv >= 32768 THEN 65536 ELSE 0 END AS v
        |  FROM sm)
        |SELECT doc_id, CAST(max(ns) AS BIGINT) AS n_samples,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(sum(v * v) AS BIGINT) AS energy,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / max(ns)), 6) AS rms
        |FROM sv GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (spark, dir) =>
      val b = docs(spark, dir)
        .graftSpread()
        .select(col("doc_id"), hex(encode(col("text"), "UTF-8")).as("hx"),
          expr("octet_length(encode(text, 'UTF-8')) div 2").as("ns"))
        .where(col("ns") > 0)
      val sv = b
        .select(col("doc_id"), col("ns"), col("hx"),
          explode(sequence(lit(0L), col("ns") - 1)).as("s"))
        .select(col("doc_id"), col("ns"),
          expr("CAST(conv(substr(hx, CAST(4 * s + 3 AS INT), 2) || " +
            "substr(hx, CAST(4 * s + 1 AS INT), 2), 16, 10) AS BIGINT)")
            .as("uv"))
        .select(col("doc_id"), col("ns"),
          (col("uv") - when(col("uv") >= 32768, 65536L).otherwise(0L))
            .as("v"))
      sv.groupBy("doc_id")
        .agg(max(col("ns")).as("n_samples"),
          max(abs(col("v"))).as("peak"),
          sum(col("v") * col("v")).as("energy"),
          round(sqrt(sum(col("v") * col("v")).cast(DoubleType) /
            max(col("ns"))), 6).as("rms"))
        .orderBy("doc_id")
    },

    // Binary payload plumbing with REAL container-header decode: each
    // doc becomes a payload in a rotating container (PNG / GIF / BMP /
    // bare bytes by doc_id mod 4, dimensions a closed form of doc_id),
    // and graft parses format + width + height back OUT OF THE BYTES
    // with the pure-JVM header parser (Multimodal.decodeHeader — PNG
    // IHDR big-endian, GIF/BMP little-endian, no codec library). The
    // oracle re-detects and re-parses the same fields from the HEX
    // image of the same payload — byte-offset arithmetic replayed in
    // SQL, not the closed form — so a parser that read the wrong
    // offset or endianness hash-mismatches. Both sides gate the bmp
    // sniff on BITMAPINFOHEADER size == 40 at byte 14 (text that
    // merely starts with "BM" stays raw) and both replay
    // abs-of-signed-i32 for the height (top-down BMPs store it
    // negative). Bare payloads exercise the stub fallback. The digest
    // is md5 over the uppercase hex (DuckDB hashes VARCHAR only).
    "q_multimodal_meta" -> QueryDef(
      "binary payloads in real containers; header-parsed format/width/height",
      """WITH d AS (SELECT doc_id, text,
        |    16 + doc_id % 1000 AS w, 16 + doc_id % 600 AS h,
        |    to_hex(encode(text)) AS body FROM documents),
        |p AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |        '89504E470D0A1A0A0000000D49484452'
        |        || lpad(to_hex(w), 8, '0') || lpad(to_hex(h), 8, '0')
        |        || '0806000000'
        |      WHEN doc_id % 4 = 1 THEN '474946383961'
        |        || substr(lpad(to_hex(w), 4, '0'), 3, 2) || substr(lpad(to_hex(w), 4, '0'), 1, 2)
        |        || substr(lpad(to_hex(h), 4, '0'), 3, 2) || substr(lpad(to_hex(h), 4, '0'), 1, 2)
        |      WHEN doc_id % 4 = 2 THEN '424D00000000000000003600000028000000'
        |        || substr(lpad(to_hex(w), 8, '0'), 7, 2) || substr(lpad(to_hex(w), 8, '0'), 5, 2)
        |        || substr(lpad(to_hex(w), 8, '0'), 3, 2) || substr(lpad(to_hex(w), 8, '0'), 1, 2)
        |        || substr(lpad(to_hex(h), 8, '0'), 7, 2) || substr(lpad(to_hex(h), 8, '0'), 5, 2)
        |        || substr(lpad(to_hex(h), 8, '0'), 3, 2) || substr(lpad(to_hex(h), 8, '0'), 1, 2)
        |      ELSE '' END || body AS hx
        |  FROM d),
        |f AS (SELECT doc_id, text, hx,
        |    CASE WHEN len(hx) >= 48 AND substr(hx, 1, 16) = '89504E470D0A1A0A'
        |              AND substr(hx, 25, 8) = '49484452' THEN 'png'
        |         WHEN len(hx) >= 20 AND substr(hx, 1, 8) = '47494638'
        |              AND substr(hx, 9, 4) IN ('3761', '3961') THEN 'gif'
        |         WHEN len(hx) >= 52 AND substr(hx, 1, 4) = '424D'
        |              AND substr(hx, 29, 8) = '28000000' THEN 'bmp'
        |         ELSE 'raw' END AS format
        |  FROM p),
        |g AS (SELECT *, CASE WHEN format = 'bmp' THEN
        |        ('0x' || substr(hx, 51, 2) || substr(hx, 49, 2)
        |               || substr(hx, 47, 2) || substr(hx, 45, 2))::BIGINT
        |      ELSE 0 END AS bmp_hu FROM f)
        |SELECT doc_id, format,
        |  CAST(len(hx) // 2 AS BIGINT) AS byte_len,
        |  md5(hx) AS payload_md5,
        |  CAST(CASE format
        |    WHEN 'png' THEN ('0x' || substr(hx, 33, 8))::BIGINT
        |    WHEN 'gif' THEN ('0x' || substr(hx, 15, 2) || substr(hx, 13, 2))::BIGINT
        |    WHEN 'bmp' THEN ('0x' || substr(hx, 43, 2) || substr(hx, 41, 2)
        |                          || substr(hx, 39, 2) || substr(hx, 37, 2))::BIGINT
        |    ELSE 16 + (ascii(substr(text, 1, 1)) % 16) * 4 END AS BIGINT) AS width,
        |  CAST(CASE format
        |    WHEN 'png' THEN ('0x' || substr(hx, 41, 8))::BIGINT
        |    WHEN 'gif' THEN ('0x' || substr(hx, 19, 2) || substr(hx, 17, 2))::BIGINT
        |    WHEN 'bmp' THEN (CASE WHEN bmp_hu >= 2147483648
        |                          THEN 4294967296 - bmp_hu ELSE bmp_hu END)
        |    ELSE 16 + (ascii(substr(text, 2, 1)) % 16) * 4 END AS BIGINT) AS height,
        |  CAST(len(hx) // 2 % 7 + 1 AS BIGINT) AS n_frames
        |FROM g ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val w = lit(16L) + pmod(col("doc_id"), lit(1000L))
      val h = lit(16L) + pmod(col("doc_id"), lit(600L))
      def be32(c: Column) = lpad(hex(c), 8, "0")
      def le16(c: Column) = {
        val p = lpad(hex(c), 4, "0")
        concat(substring(p, 3, 2), substring(p, 1, 2))
      }
      def le32(c: Column) = {
        val p = lpad(hex(c), 8, "0")
        concat(substring(p, 7, 2), substring(p, 5, 2),
          substring(p, 3, 2), substring(p, 1, 2))
      }
      val sel = pmod(col("doc_id"), lit(4L))
      val hx = concat(
        when(sel === 0L, concat(lit("89504E470D0A1A0A0000000D49484452"),
            be32(w), be32(h), lit("0806000000")))
          .when(sel === 1L, concat(lit("474946383961"), le16(w), le16(h)))
          .when(sel === 2L, concat(lit("424D00000000000000003600000028000000"),
            le32(w), le32(h)))
          .otherwise(lit("")),
        hex(col("text").cast(BinaryType)))
      val prepared = docs(spark, dir)
        .select(col("doc_id"), hx.as("__hx")).localCheckpoint()
      val feats = Multimodal.decodeFeatures(
        prepared.select(col("doc_id"), unhex(col("__hx")).as("payload")),
        "doc_id")
      feats.join(
          prepared.select(col("doc_id"),
            md5(col("__hx").cast(BinaryType)).as("payload_md5")),
          "doc_id")
        .select(col("doc_id"), col("format"), col("byte_len"),
          col("payload_md5"), col("width"), col("height"), col("n_frames"))
        .orderBy("doc_id")
    },

    // The whole corpus-prep pipeline as ONE lazy plan — scrub → token
    // quality gate → exact-dedup keep (min doc id per scrubbed
    // content) → deterministic split — the composition a training-data
    // run actually executes (SURVEY §7.4's registry-open requirement,
    // here oracle-checked end to end, not just spec'd). Catalyst fuses
    // the scrub + gate + hash projections into the scan pass; the only
    // shuffles are the dedup aggregation and the final rollup.
    "q_pipeline" -> QueryDef(
      "end-to-end corpus prep: scrub, quality gate, dedup keep, split",
      s"""WITH s AS (SELECT doc_id, source,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '${TextAnalysis.emailPat}', '<EMAIL>', 'g'),
         |      '${TextAnalysis.ipv4Pat}', '<IP>', 'g'),
         |      '${TextAnalysis.longDigitsPat}', '<NUM>', 'g') AS clean
         |  FROM documents),
         |q AS (SELECT doc_id, source, clean,
         |        len(regexp_extract_all(lower(clean), '[a-z0-9]+')) AS n_tokens
         |      FROM s WHERE len(regexp_extract_all(lower(clean), '[a-z0-9]+')) >= 20),
         |d AS (SELECT md5(clean) AS h, min(doc_id) AS doc_id FROM q GROUP BY 1),
         |k AS (SELECT q.doc_id, q.source, q.n_tokens,
         |        CASE WHEN ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
         |             THEN 'train' ELSE 'eval' END AS split
         |      FROM q JOIN d ON q.doc_id = d.doc_id)
         |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM k GROUP BY split, source ORDER BY split, source""".stripMargin) { (spark, dir) =>
      val scrubbed = docs(spark, dir)
        .graftSpread()
        .select(col("doc_id"), col("source"),
          TextAnalysis.scrubPii(col("text")).getField("clean").as("clean"))
      val gated = scrubbed
        .withColumn("n_tokens",
          size(TextAnalysis.tokens(col("clean"))).cast(LongType))
        .where(col("n_tokens") >= 20)
      val keep = gated.groupBy(md5(col("clean")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      gated.join(keep, Seq("doc_id"), "left_semi")
        .select(col("source"), col("n_tokens"),
          when(TextAnalysis.hashBucket(col("doc_id"), 100) < 80, "train")
            .otherwise("eval").as("split"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("split", "source")
    },

    // Frame sampling — the explode side of multimodal plumbing: one
    // output row per sampled frame (offset + content hash), the shape
    // a vision pipeline feeds per-frame encoders with. Pure codegen
    // (sequence + explode + substring on the payload) — no UDF, no
    // mapPartitions; frame count/stride derive deterministically from
    // payload length (the stub decoder's convention), so at 100 TB
    // this is a map-only pass whose output is bounded by Σ n_frames.
    //
    // BYTE semantics throughout, matching a real binary payload: n is
    // octet_length (not characters), frames slice the UTF-8 BYTES, and
    // the fingerprint is md5 over the slice's uppercase hex — the one
    // frame encoding Spark (hex of binary substring) and DuckDB
    // (substring of to_hex(encode(...))) both compute byte-exactly, so
    // multi-byte characters cannot skew frame boundaries (planted
    // non-ASCII parity in PipelineOpsSpec).
    "q_frames" -> QueryDef(
      "deterministic frame sampling: one row per sampled payload frame",
      """WITH f AS (SELECT doc_id, text,
        |    strlen(text) AS n, strlen(text) % 7 + 1 AS nf
        |  FROM documents),
        |x AS (SELECT doc_id, text, n, nf, n // nf AS stride,
        |    unnest(range(0, nf)) AS frame_idx
        |  FROM f)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(frame_idx * stride AS BIGINT) AS byte_off,
        |  md5(substring(to_hex(encode(text)),
        |      CAST(frame_idx * stride * 2 + 1 AS BIGINT),
        |      CAST(stride * 2 AS BIGINT))) AS frame_md5
        |FROM x WHERE stride > 0
        |ORDER BY doc_id, frame_idx""".stripMargin) { (spark, dir) =>
      docs(spark, dir)
        .select(col("doc_id"), col("text"),
          octet_length(col("text")).cast(LongType).as("n"),
          (octet_length(col("text")).cast(LongType) % 7 + 1).as("nf"))
        .withColumn("stride", expr("n div nf"))
        .where(col("stride") > 0)
        .select(col("doc_id"), col("text"), col("stride"),
          explode(sequence(lit(0L), col("nf") - 1)).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * col("stride")).as("byte_off"),
          md5(expr("cast(hex(substring(cast(text as binary), cast(frame_idx * stride + 1 as int), cast(stride as int))) as binary)")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    },

    // Exact repeated-substring detection with CONTENT-DEFINED anchors —
    // the shuffle-friendly re-expression of suffix-array substring
    // dedup (Lee et al., "Deduplicating Training Data Makes Language
    // Models Better"): a 40-byte window starts wherever the 8-byte gram
    // at that position hashes to anchor class 0 (~1/8 of positions).
    // Because the anchor decision depends only on CONTENT, two copies
    // of a repeated span pick the SAME windows regardless of their
    // byte alignment — the rolling-anchor trick fixed-stride sampling
    // gets wrong (stride-S windows only line up when the copies agree
    // mod S). The anchor scan is a ROLLING gear-style hash
    // ([[graft.functions.RollingAnchorRT]]): ONE pass per row, O(1)
    // per byte, emitted as an array of positions and exploded — not an
    // md5 per character position (which costs a full digest per byte).
    // Everything up to the aggregation is map-side: ~7/8 of positions
    // die inside the expression BEFORE any explode or shuffle, the
    // surviving windows ship as fixed-width md5 keys (never the text),
    // and the two-level keyed aggregation (span×doc, then span) is
    // partial-agg-combinable. At 100 TB: ~bytes/8 fixed-width rows
    // into one hash aggregation — no global sort, no suffix array.
    // The oracle replays the IDENTICAL hash (same gear table, base,
    // modulus, per-step mod) per position in plain SQL.
    "q_span_dedup" -> QueryDef(
      "exact repeated substrings across docs via content-defined anchor windows",
      s"""WITH hx AS (
        |  SELECT doc_id, to_hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) >= 40
        |),
        |pos AS (
        |  SELECT doc_id, h, CAST(t.s AS BIGINT) AS p
        |  FROM hx, unnest(range(0, n - 40 + 1)) AS t(s)
        |),
        |anch AS (
        |  SELECT doc_id, md5(substr(h, p * 2 + 1, 80)) AS span_md5
        |  FROM pos
        |  WHERE (${graft.functions.RollingAnchor.duckDbHashSql("h", "p", 8)}) % 8 = 0
        |),
        |d AS (SELECT span_md5, doc_id, count(*) AS occ FROM anch GROUP BY 1, 2)
        |SELECT span_md5,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(occ) AS BIGINT) AS n_occurrences,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc_id
        |FROM d GROUP BY span_md5 HAVING count(*) >= 2
        |ORDER BY span_md5""".stripMargin) { (spark, dir) =>
      val W = 40
      val spans = docs(spark, dir)
        .where(octet_length(col("text")) >= W)
        .select(col("doc_id"), col("text"),
          explode(graft.functions.RollingAnchor.anchors(
            col("text").cast(BinaryType), 8, W, 8)).as("p"))
        .select(col("doc_id"),
          md5(expr(s"cast(hex(substring(cast(text as binary), p + 1, $W)) as binary)"))
            .as("span_md5"))
      spans.groupBy("span_md5", "doc_id").agg(count(lit(1)).as("occ"))
        .groupBy("span_md5")
        .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occurrences"),
          min(col("doc_id")).as("min_doc_id"))
        .where(col("n_docs") >= 2)
        .orderBy("span_md5")
    },

    // Reproducible stratified train/eval split: the bucket is a pure
    // function of the record key (md5-derived), so the split is stable
    // across engines, runs, and cluster layouts — the standard way to
    // carve training corpora without materializing an assignment table.
    // One map-side projection + one aggregation; no joins.
    "q_sample_split" -> QueryDef(
      "deterministic hash-bucket train/eval split, stratified by (source, lang)",
      s"""SELECT source, lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN bucket < 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |  CAST(sum(CASE WHEN bucket >= 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
         |FROM (SELECT source, lang,
         |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
         |      FROM documents)
         |GROUP BY source, lang ORDER BY source, lang""".stripMargin) { (spark, dir) =>
      docs(spark, dir)
        .select(col("source"), col("lang"),
          TextAnalysis.hashBucket(col("doc_id"), 100).as("__b"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__b") < 80, 1L).otherwise(0L)).as("n_train"),
          sum(when(col("__b") >= 80, 1L).otherwise(0L)).as("n_eval"))
        .orderBy("source", "lang")
    },

    // Gopher-style within-document repetition stats: low distinct-token
    // ratio or a dominant repeated bigram flags low-quality/templated
    // text. Bigram counting shuffles on (doc_id, bigram) — hot docs
    // stay bounded because a document only generates its own bigrams.
    "q_repetition" -> QueryDef(
      "within-document repetition quality stats (distinct ratio, top bigram share)",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tt AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |b AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
        |      FROM tt, unnest(range(1, n)) AS u(i)),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
        |agg AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bc GROUP BY 1)
        |SELECT tt.doc_id,
        |  CAST(tt.n AS BIGINT) AS n_tokens,
        |  round(CAST(len(list_distinct(tt.toks)) AS DOUBLE) / tt.n, 6) AS distinct_ratio,
        |  round(CAST(agg.mx AS DOUBLE) / agg.tot, 6) AS top_bigram_frac
        |FROM tt JOIN agg ON tt.doc_id = agg.doc_id
        |ORDER BY tt.doc_id""".stripMargin) { (spark, dir) =>
      val toks = TextAnalysis.tokens(col("text"))
      // repartition: materialize the token array once (regex is the
      // expensive part) and spread a compact scan across the cluster.
      val base = docs(spark, dir)
        .select(col("doc_id"), toks.as("__t"))
        .where(size(col("__t")) >= 2)
        .graftSpread()
      val bc = base
        .select(col("doc_id"),
          explode(TextAnalysis.bigrams(col("__t"))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      val agg = bc.groupBy("doc_id")
        .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
      base
        .select(col("doc_id"),
          size(col("__t")).cast(LongType).as("n_tokens"),
          round(size(array_distinct(col("__t"))).cast(DoubleType) /
            size(col("__t")), 6).as("distinct_ratio"))
        .join(agg, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("distinct_ratio"),
          round(col("mx").cast(DoubleType) / col("tot"), 6).as("top_bigram_frac"))
        .orderBy("doc_id")
    },

    // Eval-set decontamination: train docs sharing any word 5-gram
    // with the (deterministically chosen) eval subset (3-grams: the
    // synthetic corpus is word soup, longer grams almost never recur
    // across docs). The eval gram
    // set is tiny → broadcast join; the train corpus never shuffles.
    "q_decontaminate" -> QueryDef(
      "eval-set contamination: train docs sharing a word 3-gram with eval docs",
      """WITH toks AS (SELECT doc_id,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |       FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
        |      FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS u(i)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM g JOIN ev USING (gram) WHERE g.doc_id % 50 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      TrainingData.contamination(
          d.where(col("doc_id") % 50 =!= 0),
          d.where(col("doc_id") % 50 === 0),
          "doc_id", "text", 3)
        .orderBy("doc_id")
    },

    // Contamination accounting, rolled up to the level a corpus owner
    // acts on: per SOURCE, how many train docs leak eval n-grams and
    // how bad the worst leak is. Same broadcast semi-join scale shape
    // as q_decontaminate (train corpus never shuffles; eval grams are
    // the broadcast side) plus one tiny rollup.
    "q_contamination_matrix" -> QueryDef(
      "per-source eval-contamination counts over the train split",
      """WITH toks AS (SELECT doc_id, source,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |       FROM documents),
        |g AS (SELECT DISTINCT doc_id, source, array_to_string(w[i:i+2], ' ') AS gram
        |      FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS u(i)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |hits AS (SELECT g.doc_id, any_value(g.source) AS source,
        |           CAST(count(*) AS BIGINT) AS n_hits
        |         FROM g JOIN ev USING (gram) WHERE g.doc_id % 50 <> 0
        |         GROUP BY g.doc_id),
        |tr AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train
        |       FROM toks WHERE doc_id % 50 <> 0 GROUP BY source)
        |SELECT tr.source, tr.n_train,
        |  CAST(coalesce(count(hits.doc_id), 0) AS BIGINT) AS n_contaminated,
        |  CAST(coalesce(max(hits.n_hits), 0) AS BIGINT) AS max_hits
        |FROM tr LEFT JOIN hits ON tr.source = hits.source
        |GROUP BY tr.source, tr.n_train ORDER BY tr.source""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      val train = d.where(col("doc_id") % 50 =!= 0)
      val hits = TrainingData.contamination(
          train, d.where(col("doc_id") % 50 === 0), "doc_id", "text", 3)
        .join(train.select(col("doc_id"), col("source")), "doc_id")
      val trainCounts = train.groupBy("source")
        .agg(count(lit(1)).as("n_train"))
      trainCounts.join(hits.groupBy("source")
          .agg(count(lit(1)).as("n_contaminated"), max(col("n_hits")).as("max_hits")),
        Seq("source"), "left_outer")
        .select(col("source"), col("n_train"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          coalesce(col("max_hits"), lit(0L)).as("max_hits"))
        .orderBy("source")
    },

    // Corpus length histogram — the standard pre-training QA readout
    // (what does the length distribution look like per language?). One
    // map-side bucket projection + one aggregation; integer bucket
    // arithmetic so both engines bin identically.
    "q_length_hist" -> QueryDef(
      "per-language document-length histogram (100-char buckets)",
      """SELECT lang, CAST(n_chars // 100 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin) { (spark, dir) =>
      docs(spark, dir)
        .groupBy(col("lang"), expr("n_chars div 100").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "bucket")
    },

    // Temperature-scaled mixture weights per source — the sampling
    // recipe that balances a multi-corpus pretraining mix. The
    // normalizer is an exact DECIMAL sum of rounded per-source n^α
    // (addition-order-independent), so both engines divide the same
    // two exact numbers.
    "q_mixture" -> QueryDef(
      "temperature-scaled (alpha=0.5) corpus mixture weights per source",
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             round(pow(count(*), 0.5), 6)::DECIMAL(30,6) AS p
        |           FROM documents GROUP BY source),
        |t AS (SELECT sum(p) AS tot FROM c)
        |SELECT source, n_docs,
        |  round(CAST(p AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS weight
        |FROM c CROSS JOIN t ORDER BY source""".stripMargin) { (spark, dir) =>
      TrainingData.mixtureWeights(docs(spark, dir), "source", alpha = 0.5)
        .orderBy("source")
    },

    // APPLYING a mixture budget: downsample every source to (at most)
    // half the mean source size with a deterministic hash threshold —
    // the shuffle-free way to rebalance a multi-corpus mix. The keep
    // decision is a pure function of the doc id (md5 bucket < integer
    // threshold), so the sample is reproducible on any engine, any
    // run, any cluster layout, and NO per-source shuffle or window
    // happens: one tiny per-source count aggregate broadcasts back
    // onto the corpus and every row decides locally. At 100 TB this
    // is a map-only pass over the corpus plus a |sources|-row join.
    // Integer thresholds (scaled 1e6, integer division) keep both
    // engines byte-agreed — no float probability boundaries.
    "q_mixture_apply" -> QueryDef(
      "hash-threshold downsample of each source to half the mean source size",
      """WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |n AS (SELECT sum(n_docs) AS N, count(*) AS S FROM s),
        |t AS (SELECT source,
        |        least(1000000, (1000000 * N) // (2 * S * n_docs)) AS thresh
        |      FROM s, n)
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |                     % 1000000 < t.thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents d JOIN t ON d.source = t.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (spark, dir) =>
      val d = docs(spark, dir)
      val perSource = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val norm = perSource.agg(
        sum(col("n_docs")).as("N"), count(lit(1)).as("S"))
      val thresholds = perSource.crossJoin(broadcast(norm))
        .select(col("source"),
          least(lit(1000000L),
            expr("(1000000 * N) div (2 * S * n_docs)")).as("thresh"))
      d.join(broadcast(thresholds), "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(TextAnalysis.hashBucket(col("doc_id"), 1000000) < col("thresh"),
            1L).otherwise(0L)).as("n_sampled"))
        .orderBy("source")
    },

    // C4-style global segment dedup (Raffel et al. 2020: "we discarded
    // all but one of any three-sentence span occurring more than once
    // in the data set"): segment every document into consecutive
    // 10-token windows, keep only the FIRST global occurrence of each
    // distinct segment (ordered by doc_id, then position), and rebuild
    // each document from its surviving segments. The segmenter is the
    // pluggable part — line/sentence splits drop in where a corpus has
    // them; the fixture text is a flat word stream, so fixed token
    // windows stand in. First-occurrence selection is a
    // min-(doc,pos)-per-digest AGGREGATION (map-side combinable, only
    // fixed-width digest+position rows shuffle) plus a digest-keyed
    // join back — not a window, which would sort raw segment text
    // inside every digest partition. Reconstruction is per-document
    // local. A globally hot segment (boilerplate repeated millions of
    // times) costs one combined min per partition, not a sorted group.
    // Measured trade at sf0.1: a row_number window is 0.41s vs 1.28s
    // for this shape — the window wins when every digest group is tiny,
    // but its per-digest sorted group is exactly the straggler a
    // million-occurrence boilerplate line creates at corpus scale, so
    // the hot-key-bounded shape ships.
    "q_line_dedup" -> QueryDef(
      "C4-style global segment dedup: keep first occurrence, rebuild documents",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |           FROM documents),
        |tt AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
        |segs AS (
        |  SELECT doc_id, CAST(s AS BIGINT) AS seg_id,
        |    list_aggregate(w[s * 10 + 1 : least((s + 1) * 10, n)],
        |      'string_agg', ' ') AS seg
        |  FROM tt, unnest(range(0, (n + 9) // 10)) AS u(s)),
        |k AS (SELECT doc_id, seg_id, seg,
        |        row_number() OVER (PARTITION BY md5(seg)
        |          ORDER BY doc_id, seg_id) AS rn
        |      FROM segs)
        |SELECT doc_id,
        |  coalesce(string_agg(seg, ' ' ORDER BY seg_id)
        |    FILTER (WHERE rn = 1), '') AS clean_text,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val segs = docs(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
        .where(size(col("__t")) > 0)
        .select(col("doc_id"), col("__t"),
          explode(sequence(lit(0L),
            expr("cast((size(__t) + 9) div 10 as bigint) - 1"))).as("seg_id"))
        .select(col("doc_id"), col("seg_id"),
          array_join(slice(col("__t"),
            (col("seg_id") * 10 + 1).cast(IntegerType), lit(10)), " ").as("seg"))
        .withColumn("__k", md5(col("seg")))
      // first global occurrence per digest: lexicographic min of
      // (doc_id, seg_id) — partial-agg combinable, fixed-width rows
      val keepers = segs.groupBy("__k")
        .agg(min(struct(col("doc_id"), col("seg_id"))).as("__keep"))
      segs.join(keepers, "__k")
        .withColumn("__kept",
          col("doc_id") === col("__keep.doc_id") &&
            col("seg_id") === col("__keep.seg_id"))
        .groupBy("doc_id")
        .agg(
          array_join(transform(
            sort_array(collect_list(when(col("__kept"),
              struct(col("seg_id"), col("seg"))))),
            x => x("seg")), " ").as("clean_text"),
          sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("__kept"), 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("doc_id")
    },

    // Boilerplate removal by segment frequency — the OTHER half of the
    // C4 recipe next to q_line_dedup: line_dedup KEEPS the first
    // occurrence of a repeated segment; boilerplate removal drops a
    // high-frequency segment EVERYWHERE (a nav bar or license footer
    // appearing in many documents of one source is noise in all of
    // them, including the first). Segmentation is q_line_dedup's
    // 10-token windows; the rule is ≥ 2 DISTINCT docs within the SAME
    // source. The frequency table reduces map-side to distinct
    // (source, digest) rows; the verdict joins back keyed on that pair
    // (AQE broadcasts it when the boilerplate set is small);
    // reconstruction is per-document local.
    "q_boilerplate" -> QueryDef(
      "drop segments repeated across >= 2 docs of a source, rebuild documents",
      """WITH t AS (SELECT doc_id, source,
        |             regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |           FROM documents),
        |tt AS (SELECT doc_id, source, w, len(w) AS n FROM t WHERE len(w) > 0),
        |segs AS (
        |  SELECT doc_id, source, CAST(s AS BIGINT) AS seg_id,
        |    list_aggregate(w[s * 10 + 1 : least((s + 1) * 10, n)],
        |      'string_agg', ' ') AS seg
        |  FROM tt, unnest(range(0, (n + 9) // 10)) AS u(s)),
        |f AS (SELECT source, md5(seg) AS k, count(DISTINCT doc_id) AS nd
        |      FROM segs GROUP BY 1, 2),
        |m AS (SELECT s.doc_id, s.seg_id, s.seg, (f.nd >= 2) AS bp
        |      FROM segs s JOIN f ON s.source = f.source AND md5(s.seg) = f.k)
        |SELECT doc_id,
        |  coalesce(string_agg(seg, ' ' ORDER BY seg_id)
        |    FILTER (WHERE NOT bp), '') AS clean_text,
        |  CAST(count(*) FILTER (WHERE NOT bp) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE bp) AS BIGINT) AS n_dropped
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val segs = docs(spark, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("__t"))
        .where(size(col("__t")) > 0)
        .select(col("doc_id"), col("source"), col("__t"),
          explode(sequence(lit(0L),
            expr("cast((size(__t) + 9) div 10 as bigint) - 1"))).as("seg_id"))
        .select(col("doc_id"), col("source"), col("seg_id"),
          array_join(slice(col("__t"),
            (col("seg_id") * 10 + 1).cast(IntegerType), lit(10)), " ").as("seg"))
        .withColumn("__k", md5(col("seg")))
      val boiler = segs.groupBy("source", "__k")
        .agg(countDistinct(col("doc_id")).as("__nd"))
        .where(col("__nd") >= 2)
        .select(col("source"), col("__k"), lit(true).as("__bp"))
      segs.join(boiler, Seq("source", "__k"), "left_outer")
        .withColumn("__kept", col("__bp").isNull)
        .groupBy("doc_id")
        .agg(
          array_join(transform(
            sort_array(collect_list(when(col("__kept"),
              struct(col("seg_id"), col("seg"))))),
            x => x("seg")), " ").as("clean_text"),
          sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("__kept"), 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("doc_id")
    },

    // Per-document n-gram NOVELTY — the inverse signal of the dedup
    // family: near-dup queries find what's REPEATED; novelty scores
    // how much of a document is seen nowhere else (df = 1 over the
    // corpus), the diversity-weighting input for corpus mixing.
    // Reuses the map-side-distinct gram machinery (TextAnalysis.grams
    // scaladoc: per-row array_distinct before the explode — no gram
    // shuffle for dedup); the df table reduces map-side and joins
    // keyed on the gram.
    "q_ngram_novelty" -> QueryDef(
      "fraction of each doc's distinct 5-grams unique to it corpus-wide",
      """WITH g AS (
        |  SELECT DISTINCT doc_id, substr(text, g, 5) AS gram
        |  FROM (SELECT doc_id, text, unnest(range(1, greatest(len(text)-3, 2))) AS g
        |        FROM documents)),
        |d AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(*) FILTER (WHERE df = 1) AS BIGINT) AS n_unique,
        |  round(CAST(count(*) FILTER (WHERE df = 1) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM g JOIN d USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      // NO checkpoint on the exploded gram set, although the df
      // aggregate and the join probe both consume it: the r16
      // checkpoint here shipped on structural argument with a
      // noise-dominated A/B, and the r17 cold interleaved A/B read it
      // 1.14× AGAINST (median 3.56 s with vs 3.13 s without, 4 rounds,
      // 3 of 4 against; the r16 final bench window read it 1.63×
      // normalized against) — the same eager-checkpoint-splits-cold-
      // codegen failure mode that rejected the minhash banded-index
      // checkpoint. The lazy double derivation stays whole-stage
      // fused and AQE reuses the exchange. (q_dup_coverage keeps its
      // checkpoint — it has a measured note in its own right.)
      val g = TextAnalysis.grams(docs(spark, dir), "doc_id", "text", 5)
      val dfreq = g.groupBy("gram").agg(count(lit(1)).as("__df"))
      g.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_grams"), col("n_unique"),
          round(col("n_unique").cast(DoubleType) /
            col("n_grams").cast(DoubleType), 6).as("novelty"))
        .orderBy("doc_id")
    },

    // Quality-greedy corpus selection under a per-source token budget —
    // the curation step that turns "rank everything by quality" into an
    // actual training mix: within each source, take documents in
    // descending quality order (distinct-token count, doc_id
    // tiebreak) until half the source's tokens are spent. All
    // integer arithmetic (counts, running sums, integer-division
    // budget), so both engines agree exactly. The running sum windows
    // per source — bounded partitions (one per source); the 100 TB
    // path is `q_budget_sketch` below (score-threshold select from a
    // histogram sketch, no per-doc window), kept beside this exact
    // greedy the way production pipelines keep both.
    "q_budget_select" -> QueryDef(
      "greedy highest-quality docs per source under a half-the-tokens budget",
      """WITH t AS (SELECT doc_id, source,
        |             regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, source, len(w) AS n_tok,
        |        len(list_distinct(w)) AS n_distinct
        |      FROM t WHERE len(w) > 0),
        |r AS (SELECT *,
        |        sum(n_tok) OVER (PARTITION BY source
        |          ORDER BY n_distinct DESC, doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum,
        |        sum(n_tok) OVER (PARTITION BY source) AS total
        |      FROM s)
        |SELECT source, doc_id,
        |  CAST(n_distinct AS BIGINT) AS score,
        |  CAST(n_tok AS BIGINT) AS n_tokens,
        |  CAST(cum AS BIGINT) AS cum_tokens
        |FROM r WHERE cum <= total // 2
        |ORDER BY source, cum_tokens, doc_id""".stripMargin) { (spark, dir) =>
      val byQuality = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n_distinct").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val bySource = org.apache.spark.sql.expressions.Window.partitionBy("source")
      docs(spark, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("__t"))
        .where(size(col("__t")) > 0)
        .select(col("doc_id"), col("source"),
          size(col("__t")).cast(LongType).as("n_tok"),
          size(array_distinct(col("__t"))).cast(LongType).as("n_distinct"))
        .withColumn("cum", sum(col("n_tok")).over(byQuality))
        .withColumn("total", sum(col("n_tok")).over(bySource))
        .where(col("cum") <= expr("total div 2"))
        .select(col("source"), col("doc_id"), col("n_distinct").as("score"),
          col("n_tok").as("n_tokens"), col("cum").as("cum_tokens"))
        .orderBy("source", "cum_tokens", "doc_id")
    },

    // The SCALE-SAFE budget selection (the sketch path q_budget_select
    // documents): no per-doc window anywhere. Tokens aggregate into a
    // per-(source, score) histogram — bounded at sources × distinct
    // integer scores rows — the cumulative scan runs over THAT tiny
    // frame in descending score order, and each source's resulting
    // score THRESHOLD broadcasts back onto the docs. Every whole score
    // class that fits half the source's tokens is kept, so the
    // selection is the exact greedy's minus its partial class: always
    // a subset, always within budget (BudgetSketchSpec pins both).
    // A 10 TB source costs one histogram aggregation instead of one
    // single-task sorted scan.
    "q_budget_sketch" -> QueryDef(
      "budget selection via score-histogram threshold (no per-doc window)",
      """WITH t AS (SELECT doc_id, source,
        |             regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, source, len(w) AS n_tok,
        |        len(list_distinct(w)) AS n_distinct
        |      FROM t WHERE len(w) > 0),
        |tot AS (SELECT source, sum(n_tok) AS total FROM s GROUP BY 1),
        |hist AS (SELECT source, n_distinct AS score, sum(n_tok) AS ctok
        |         FROM s GROUP BY 1, 2),
        |cum AS (SELECT h.source, h.score, tot.total,
        |          sum(h.ctok) OVER (PARTITION BY h.source
        |            ORDER BY h.score DESC ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM hist h JOIN tot USING (source)),
        |thr AS (SELECT source, min(score) AS thr FROM cum
        |        WHERE cum <= total // 2 GROUP BY source)
        |SELECT s.source, s.doc_id,
        |  CAST(s.n_distinct AS BIGINT) AS score,
        |  CAST(s.n_tok AS BIGINT) AS n_tokens
        |FROM s JOIN thr USING (source) WHERE s.n_distinct >= thr.thr
        |ORDER BY source, doc_id""".stripMargin) { (spark, dir) =>
      val scored = docs(spark, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("__t"))
        .where(size(col("__t")) > 0)
        .select(col("doc_id"), col("source"),
          size(col("__t")).cast(LongType).as("n_tok"),
          size(array_distinct(col("__t"))).cast(LongType).as("n_distinct"))
      TrainingData.budgetSelectBySketch(scored, "source", "n_distinct", "n_tok")
        .select(col("source"), col("doc_id"), col("n_distinct").as("score"),
          col("n_tok").as("n_tokens"))
        .orderBy("source", "doc_id")
    },

    // Count-min-sketch frequency estimation: bigram counts estimated
    // through a (depth=4, width=65536) CMS instead of an exact
    // gram-keyed aggregation. The scale story is the POINT: the exact
    // count shuffles the full gram stream keyed by gram (unbounded key
    // space, Zipf-hot keys), while the sketch shuffles into a FIXED
    // 4×65536 counter key space with map-side combine — bounded
    // memory, bounded shuffle, any corpus size. Probe grams (the
    // corpus's exact top bigrams) read their estimate as min over the
    // 4 rows; CMS guarantees est ≥ exact, and the deterministic
    // md5-derived bucket hashes make the ESTIMATES (collisions and
    // all) exactly reproducible by the SQL oracle — no approximation
    // slack in the correctness check.
    "q_cms_count" -> QueryDef(
      "count-min-sketch bigram frequency estimates vs exact (deterministic hashes)",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |tt AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |b AS (SELECT toks[i] || ' ' || toks[i + 1] AS bg
        |      FROM tt, unnest(range(1, n)) AS u(i)),
        |cms AS (SELECT d,
        |          ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || bg), 1, 15))::BIGINT
        |            % 65536 AS bucket,
        |          count(*) AS c
        |        FROM b, unnest(range(0, 4)) AS r(d)
        |        GROUP BY 1, 2),
        |probes AS (SELECT bg, count(*) AS exact
        |           FROM b GROUP BY bg ORDER BY exact DESC, bg LIMIT 20),
        |est AS (SELECT p.bg, p.exact, min(c.c) AS est
        |        FROM probes p
        |        CROSS JOIN unnest(range(0, 4)) AS r(d)
        |        JOIN cms c ON c.d = r.d
        |          AND c.bucket = ('0x' || substr(md5(CAST(r.d AS VARCHAR) || ':' || p.bg), 1, 15))::BIGINT % 65536
        |        GROUP BY p.bg, p.exact)
        |SELECT bg, CAST(exact AS BIGINT) AS exact_count,
        |  CAST(est AS BIGINT) AS cms_estimate
        |FROM est ORDER BY exact_count DESC, bg""".stripMargin) { (spark, dir) =>
      val base = docs(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
        .where(size(col("__t")) >= 2)
        .graftSpread()
      val bigrams = base
        .select(explode(TextAnalysis.bigrams(col("__t"))).as("bg"))
        .localCheckpoint()
      // the sketch: explode each gram into its 4 (depth, bucket) cells
      // and count — the aggregation keys into a FIXED 4×65536 space
      val cms = bigrams
        .select(explode(sequence(lit(0), lit(3))).as("d"), col("bg"))
        .select(col("d"),
          TextAnalysis.hashBucket(
            concat(col("d").cast(StringType), lit(":"), col("bg")), 65536)
            .as("bucket"))
        .groupBy("d", "bucket").agg(count(lit(1)).as("c"))
      val probes = bigrams.groupBy("bg").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("bg")).limit(20)
      probes
        .select(col("bg"), col("exact"),
          explode(sequence(lit(0), lit(3))).as("d"))
        .withColumn("bucket", TextAnalysis.hashBucket(
          concat(col("d").cast(StringType), lit(":"), col("bg")), 65536))
        .join(cms, Seq("d", "bucket"))
        .groupBy("bg", "exact").agg(min(col("c")).as("est"))
        .select(col("bg"), col("exact").as("exact_count"),
          col("est").as("cms_estimate"))
        .orderBy(col("exact_count").desc, col("bg"))
    },

    // HyperLogLog distinct counting, integer-exact: per-source
    // vocabulary size estimated from a 1024-register HLL whose whole
    // pipeline — 60-bit md5-derived hash, register index, leading-zero
    // rank, max-per-register, and the raw-estimate formula in scaled
    // integer arithmetic (alpha in ppm, powers of two as shifts,
    // decimal division) — is deterministic and replayed bit-for-bit by
    // the SQL oracle. The scale story: COUNT(DISTINCT) shuffles every
    // distinct value; the sketch aggregates into ≤1024 fixed-width
    // registers per group with map-side combine (max commutes), which
    // is how you count distinct URLs/docs/tokens per source at 100 TB.
    // Small-range correction included, still integer-exact: when the
    // raw estimate is ≤ 2.5·m and empty registers remain, the estimate
    // switches to linear counting m·ln(m/V) — the ln comes from a
    // 1024-entry integer table computed once at plan-build time and
    // emitted as literals to BOTH engines (Text.hllLcTable), so no
    // engine-side float log ever runs. A planted 37-token source
    // exercises the branch on every run: its raw estimate lands ~20×
    // high (every empty register contributes 2^51 to the harmonic
    // sum), the corrected one lands on the exact count.
    "q_hll_distinct" -> QueryDef(
      "per-source distinct-token estimate via an integer-exact 1024-register HLL with small-range correction",
      s"""WITH t AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
         |           FROM documents
         |           UNION ALL
         |           SELECT '__planted_low' AS source,
         |             'p' || CAST(u.i % 37 AS VARCHAR) AS tok
         |           FROM unnest(range(0, 500)) AS u(i)),
         |h AS (SELECT source,
         |        ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM t),
         |r AS (SELECT source, hv % 1024 AS idx,
         |        CASE WHEN hv // 1024 = 0 THEN 51
         |             ELSE 51 - length(bin(hv // 1024)) END AS rank
         |      FROM h),
         |regs AS (SELECT source, idx, max(rank) AS m FROM r GROUP BY 1, 2),
         |cells AS (SELECT s.source, CAST(u.i AS BIGINT) AS idx
         |          FROM (SELECT DISTINCT source FROM t) s
         |          CROSS JOIN unnest(range(0, 1024)) AS u(i)),
         |nsum AS (SELECT c.source,
         |           sum(1::BIGINT << (51 - coalesce(regs.m, 0))) AS n,
         |           sum(CASE WHEN regs.m IS NULL THEN 1 ELSE 0 END) AS v
         |         FROM cells c LEFT JOIN regs
         |           ON regs.source = c.source AND regs.idx = c.idx
         |         GROUP BY c.source),
         |est AS (SELECT source, v,
         |          CAST(CAST('${Text.hllNumerator}' AS HUGEINT)
         |            // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS raw_est
         |        FROM nsum),
         |ex AS (SELECT source, count(DISTINCT tok) AS exact FROM t GROUP BY source)
         |SELECT e.source, CAST(e.exact AS BIGINT) AS exact_distinct,
         |  CAST(CASE WHEN raw_est <= 2560 AND v > 0
         |       THEN list_extract([${Text.hllLcTable}], CAST(v AS INTEGER))
         |       ELSE raw_est END AS BIGINT) AS hll_estimate
         |FROM ex e JOIN est USING (source) ORDER BY e.source""".stripMargin) { (spark, dir) =>
      val planted = spark.range(500).select(
        lit("__planted_low").as("source"),
        concat(lit("p"), pmod(col("id"), lit(37L)).cast(StringType)).as("tok"))
      val toks = docs(spark, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .unionByName(planted)
        .localCheckpoint()
      val ranks = toks
        .select(col("source"),
          expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)").as("hv"))
        .select(col("source"), pmod(col("hv"), lit(1024L)).as("idx"),
          when(expr("hv div 1024") === 0L, 51L)
            .otherwise(lit(51L) - length(bin(expr("hv div 1024")))).as("rank"))
      val regs = ranks.groupBy("source", "idx").agg(max(col("rank")).as("m"))
      // source domain from the DOC table + the planted literal — a
      // distinct over the exploded token table would rescan millions
      // of rows to learn ~6 labels (measured 0.6 → 2.9 s when this
      // briefly keyed off `toks`)
      val cells = docs(spark, dir).select(col("source")).distinct()
        .unionByName(spark.range(1).select(lit("__planted_low").as("source")))
        .crossJoin(spark.range(1024).select(col("id").as("idx")))
      val nsum = cells.join(regs, Seq("source", "idx"), "left_outer")
        .groupBy("source")
        .agg(sum(expr(
          "shiftleft(cast(1 as bigint), cast(51 - coalesce(m, 0) as int))")).as("n"),
          sum(when(col("m").isNull, 1L).otherwise(0L)).as("v"))
      val exact = toks.groupBy("source")
        .agg(countDistinct(col("tok")).as("exact_distinct"))
      val est = nsum.select(col("source"), col("v"),
        expr(s"cast(cast('${Text.hllNumerator}' as decimal(38,0)) div " +
          "(cast(n as decimal(38,0)) * 1000000) as bigint)").as("raw_est"))
      exact.join(est, "source")
        .select(col("source"), col("exact_distinct"),
          when(col("raw_est") <= 2560L && col("v") > 0L,
            expr(s"element_at(array(${Text.hllLcTable}), cast(v as int))"))
            .otherwise(col("raw_est")).cast(LongType).as("hll_estimate"))
        .orderBy("source")
    },

    // K-minimum-values distinct sketch — HLL's mergeable cousin with a
    // different 100 TB trade: the sketch IS a uniform sample of the
    // distinct domain (the k smallest hashes), so beyond cardinality it
    // answers set operations (union = merge-and-truncate, intersection
    // via the Jaccard of merged sketches) that HLL registers cannot.
    // The Spark plan never builds the distinct set: TopKByScore keeps
    // each partition's k smallest hashes map-side (duplicates collapse
    // in the buffer for free), so the shuffle carries ≤ k rows per
    // (partition, source) instead of one row per distinct token — no
    // exact-distinct expand, no wide shuffle. `exact_distinct` is the
    // verification twin (the thing the sketch avoids at scale), kept in
    // the same result so the oracle pins both and the error is visible.
    // Estimator: (k−1)·2⁵²/h_k, integer division, byte-exact on both
    // engines (hashes are 52-bit md5 prefixes — exactly representable
    // in the aggregate's double score, no precision loss).
    "q_kmv_distinct" -> QueryDef(
      s"per-source distinct-token estimate via a k-minimum-values sketch (k=$kmvK)",
      s"""WITH t AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
         |           FROM documents),
         |h AS (SELECT DISTINCT source,
         |        ('0x' || substr(md5(tok), 1, 13))::BIGINT AS h FROM t),
         |r AS (SELECT source, h,
         |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         |        count(*) OVER (PARTITION BY source) AS nd
         |      FROM h)
         |SELECT source,
         |  CAST(CASE WHEN max(nd) < $kmvK THEN max(nd)
         |       ELSE $kmvNumerator // greatest(max(CASE WHEN rn = $kmvK THEN h END), 1)
         |       END AS BIGINT) AS kmv_distinct,
         |  CAST(max(nd) AS BIGINT) AS exact_distinct
         |FROM r GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
      val toks = docs(spark, dir)
        .graftSpread()
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      TextAnalysis.kmvDistinct(toks, "source", "tok", kmvK, withExact = true)
        .select(col("source"), col("kmv_distinct"),
          col("exact_distinct").cast(LongType).as("exact_distinct"))
        .orderBy("source")
    },

    // KMV set algebra — the reason to carry KMV next to HLL: merged
    // sketches answer PAIRWISE union/intersection cardinalities from
    // one bounded sketch table (k longs per source), where the exact
    // twin (q_dup_matrix) re-shuffles the whole corpus per source
    // pair. The pair join here is |sources|² rows of k-length arrays —
    // independent of corpus size. Estimators are pure integer array
    // math replayed identically by DuckDB's list functions
    // (TextAnalysis.kmvOverlap scaladoc for the divide-first order).
    "q_kmv_overlap" -> QueryDef(
      s"pairwise source vocabulary overlap from merged KMV sketches (k=$kmvK)",
      s"""WITH t AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
         |           FROM documents),
         |h AS (SELECT DISTINCT source,
         |        ('0x' || substr(md5(tok), 1, 13))::BIGINT AS h FROM t),
         |r AS (SELECT source, h,
         |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |      FROM h),
         |sk AS (SELECT source, list_sort(list(h)) AS kmv
         |       FROM r WHERE rn <= $kmvK GROUP BY source),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |        a.kmv AS ka, b.kmv AS kb
         |      FROM sk a JOIN sk b ON a.source < b.source),
         |m AS (SELECT src_a, src_b, ka, kb,
         |        len(list_distinct(list_concat(ka, kb))) AS nu,
         |        (list_sort(list_distinct(list_concat(ka, kb))))[1:$kmvK] AS u
         |      FROM p),
         |e AS (SELECT src_a, src_b,
         |        CAST(len(list_intersect(list_intersect(u, ka), kb)) AS BIGINT) AS k_common,
         |        CAST(CASE WHEN nu < $kmvK THEN nu
         |             ELSE $kmvNumerator // greatest(u[$kmvK], 1) END AS BIGINT) AS union_est,
         |        CAST(len(u) AS BIGINT) AS du
         |      FROM m)
         |SELECT src_a, src_b, k_common, union_est,
         |  (union_est // du) * k_common AS inter_est
         |FROM e ORDER BY src_a, src_b""".stripMargin) { (spark, dir) =>
      val toks = docs(spark, dir)
        .graftSpread()
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      TextAnalysis.kmvOverlap(toks, "source", "tok", kmvK)
        .orderBy("src_a", "src_b")
    },

    // Per-document duplicated-text coverage: the fraction of a doc's
    // distinct 5-gram shingles that occur in ANY other document — the
    // shingle approximation of suffix-array substring dedup (how much
    // of this doc is boilerplate shared with the rest of the corpus).
    // Reuses the dedup family's gram/df machinery: one term-keyed
    // aggregation (vocabulary is Zipf-bound ≪ corpus) and one
    // doc-keyed rollup; no pairwise anything.
    "q_dup_coverage" -> QueryDef(
      "per-document shared-shingle coverage (corpus-duplicated text fraction)",
      s"""WITH $gramsCte,
         |dfs AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
         |SELECT g.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN dfs.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  round(CAST(sum(CASE WHEN dfs.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS dup_frac
         |FROM g JOIN dfs USING (gram)
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (spark, dir) =>
      // materialize the exploded gram set once: both the df count and
      // the join probe consume it, and without the checkpoint the
      // shingle derivation is planned (and run) twice — same measured
      // pattern as Dedup.ngramJaccardPairs
      val g = TextAnalysis.grams(docs(spark, dir), "doc_id", "text", 5)
        .localCheckpoint()
      val dfs = g.groupBy("gram").agg(count(lit(1)).as("df"))
      g.join(dfs, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          round(col("n_shared").cast(DoubleType) / col("n_grams"), 6).as("dup_frac"))
        .orderBy("doc_id")
    },

    // Deterministic sequence packing: per-source doc streams chunked
    // into 512-token bins (concat-and-chunk, the pretraining packing
    // layout); one window shuffle by source, integer-exact on any
    // engine.
    "q_pack" -> QueryDef(
      "sequence packing: per-source doc streams chunked into 512-token bins",
      """WITH t AS (SELECT source, doc_id,
        |         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        |       FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |      FROM t)
        |SELECT source, CAST(strt // 512 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM c GROUP BY source, strt // 512
        |ORDER BY source, bin""".stripMargin) { (spark, dir) =>
      TrainingData.packBins(
          docs(spark, dir).select(col("source"), col("doc_id"), col("text")),
          "source", "doc_id",
          size(TextAnalysis.tokens(col("text"))), 512L)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin")
    },

    // Hierarchical (two-level) packing — q_pack's 100 TB path: the
    // same concat-and-chunk layout, but the doc stream is cut into
    // 4096-id CHUNKS first, so the running token sum windows over
    // (source, chunk) — every window partition bounded by the chunk
    // size regardless of source skew — instead of one partition per
    // source (q_pack's single-task straggler at a dominant source).
    // Bins never span a chunk, and per-chunk bin counts (a tiny
    // chunk-aggregate frame) chain the global bin ids back together.
    // The oracle replays the two-level arithmetic integer-exactly:
    // chunk = doc_id // 4096, bin-within-chunk = running-sum // 512,
    // global bin = chunk-offset + local bin.
    "q_pack_hier" -> QueryDef(
      "hierarchical sequence packing: chunked 512-token bins, no per-source global window",
      """WITH t AS (SELECT source, doc_id,
        |         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
        |         doc_id // 4096 AS chunk
        |       FROM documents),
        |l AS (SELECT source, doc_id, n_tokens, chunk,
        |        (sum(n_tokens) OVER (PARTITION BY source, chunk ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         - n_tokens) // 512 AS lbin
        |      FROM t),
        |o AS (SELECT source, chunk, max(lbin) + 1 AS nbins
        |      FROM l GROUP BY source, chunk),
        |o2 AS (SELECT source, chunk,
        |        sum(nbins) OVER (PARTITION BY source ORDER BY chunk
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nbins AS binoff
        |      FROM o)
        |SELECT l.source, CAST(binoff + lbin AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM l JOIN o2 USING (source, chunk)
        |GROUP BY l.source, binoff + lbin
        |ORDER BY source, bin""".stripMargin) { (spark, dir) =>
      TrainingData.packBinsHier(
          docs(spark, dir).select(col("source"), col("doc_id"), col("text")),
          "source", "doc_id",
          size(TextAnalysis.tokens(col("text"))), 512L, 4096L)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin")
    })
}
