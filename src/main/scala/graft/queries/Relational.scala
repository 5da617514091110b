package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, Relation, Tables}
import graft.functions.CanonicalKey.canonicalPk
import graft.operators.{Denormalize, Filters}

/** Relational + denormalization queries over the TPC-H-ish testdata.
  *
  * These cover the reference's declared-query contract (SURVEY §2.8):
  * the hierarchical LEFT OUTER join trees (flat / multi-child / deep /
  * diamond), child-array ordering by canonical PK, and per-entity
  * record filtering — each with a DuckDB oracle. Aggregates are
  * computed in exact decimal arithmetic and cast to double at the end
  * so Spark and DuckDB agree bitwise regardless of summation order.
  */
object Relational {

  private def t(spark: SparkSession, dir: String)(name: String): DataFrame =
    Tables.load(spark, dir, name)

  private val dec = DecimalType(18, 2)

  /** Column specs for q_profile — drives BOTH the Spark aggregation
    * and the generated DuckDB oracle. Doubles and timestamps skip the
    * distinct sketch (their engine string forms differ, so a shared
    * md5-of-string hash isn't portable for them). */
  private[queries] val ordersProfile: Seq[graft.operators.Profiling.ColSpec] = {
    import graft.operators.Profiling._
    Seq(
      ColSpec("o_orderkey", Num, distinct = true),
      ColSpec("o_custkey", Num, distinct = true),
      ColSpec("o_totalprice", Num),
      ColSpec("o_orderstatus", Str, distinct = true),
      ColSpec("o_orderpriority", Str, distinct = true),
      ColSpec("o_orderdate", Ts))
  }

  /** Columns for the q_profile_mcv top-k value stats — categorical
    * string columns, where the string cast is engine-portable and the
    * per-column cardinality is tiny. */
  private[queries] val mcvCols: Seq[String] =
    Seq("o_orderstatus", "o_orderpriority")

  /** Generated fixed-iteration PageRank oracle: one CTE per iteration,
    * each replaying GraphOps.pageRank's exact integer arithmetic
    * (divide-per-edge before the sum, damping-multiply divided last,
    * everything BIGINT) so DuckDB reproduces the ranks bit-for-bit. */
  private[queries] def pagerankOracle(iters: Int): String = {
    val R = 1000000000000L
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST((SELECT ((15 * $R) // 100) // nn FROM ncount) +
         |       (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r // d.deg) AS m
         |    FROM e JOIN r${i - 1} p ON e.src = p.node
         |           JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM b UNION SELECT dst, src FROM b),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |ncount AS (SELECT count(*) AS nn FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST((SELECT $R // nn FROM ncount) AS BIGINT) AS r
       |       FROM nodes),
       |$iterCtes
       |SELECT CAST(node AS BIGINT) AS node, r AS rank_ppt
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Unrolled synchronous label-propagation oracle over the trade
    * graph — one CTE per round, replaying GraphOps.labelPropagation's
    * exact rule (most frequent neighbor label, ties to the SMALLEST
    * label; integer counts, so the rounds are engine-exact). */
  private[queries] def lpaOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""l$i AS (SELECT v, lbl FROM (
         |  SELECT n.v, l.lbl,
         |    row_number() OVER (PARTITION BY n.v
         |                       ORDER BY count(*) DESC, l.lbl) AS rn
         |  FROM nbr n JOIN l${i - 1} l ON n.u = l.v
         |  GROUP BY n.v, l.lbl) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nbr AS (SELECT src AS v, dst AS u FROM b UNION ALL SELECT dst, src FROM b),
       |l0 AS (SELECT DISTINCT v, v AS lbl FROM nbr),
       |$iterCtes
       |SELECT CAST(v AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community
       |FROM l$iters ORDER BY node""".stripMargin
  }

  /** Unrolled fixed-round k-core peel — one (degree-filter, edge
    * restrict) CTE pair per round, replaying GraphOps.kCore's
    * synchronous integer set algebra exactly. */
  private[queries] def kcoreOracle(k: Int, rounds: Int): String = {
    val iterCtes = (1 to rounds).map { i =>
      s"""k$i AS (SELECT n FROM (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY n) WHERE d >= $k),
         |e$i AS (SELECT a, b FROM e${i - 1}
         |        WHERE a IN (SELECT n FROM k$i)
         |          AND b IN (SELECT n FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM b WHERE src <> dst),
       |$iterCtes
       |SELECT CAST(n AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM (SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY n ORDER BY node""".stripMargin
  }

  /** Unrolled personalized-PageRank oracle — pagerankOracle with the
    * teleport mass restricted to the nation-0 supplier seed set
    * (GraphOps.personalizedPageRank's exact integer rule: seeds get
    * base + damped inbound, non-seeds only damped inbound). */
  private[queries] def pprOracle(iters: Int): String = {
    val R = 1000000000000L
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST(CASE WHEN sd.node IS NOT NULL
         |         THEN (SELECT ((15 * $R) // 100) // ns FROM scount)
         |         ELSE 0 END +
         |       (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r // d.deg) AS m
         |    FROM e JOIN r${i - 1} p ON e.src = p.node
         |           JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM b UNION SELECT dst, src FROM b),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |seeds AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS node
       |          FROM supplier WHERE s_nationkey = 0
       |            AND s_suppkey IN (SELECT node FROM nodes)),
       |scount AS (SELECT count(*) AS ns FROM seeds),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT n.node,
       |         CAST(CASE WHEN sd.node IS NOT NULL
       |                THEN (SELECT $R // ns FROM scount) ELSE 0 END AS BIGINT) AS r
       |       FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node),
       |$iterCtes
       |SELECT CAST(node AS BIGINT) AS node, r AS rank_ppt
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** Unrolled multi-source BFS oracle — one min-plus relaxation CTE
    * per round, replaying GraphOps.shortestPaths' synchronous integer
    * rule (dist' = min(dist, 1 + in-neighbor dist)) exactly. */
  private[queries] def bfsOracle(rounds: Int): String = {
    val iterCtes = (1 to rounds).map { i =>
      s"""d$i AS (SELECT node, min(d) AS d FROM (
         |  SELECT node, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.v AS node, p.d + 1 AS d
         |  FROM e JOIN d${i - 1} p ON e.u = p.node) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS (SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |u0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM g WHERE src <> dst),
       |e AS (SELECT a AS u, b AS v FROM u0 UNION ALL SELECT b, a FROM u0),
       |d0 AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS node, 0 AS d
       |       FROM supplier WHERE s_nationkey = 0),
       |$iterCtes
       |SELECT CAST(node AS BIGINT) AS node, CAST(d AS BIGINT) AS dist
       |FROM d$rounds ORDER BY node""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    "q1_agg" -> QueryDef(
      "TPC-H Q1-style grouped aggregation with exact decimal sums",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
      val li = t(spark, dir)("lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast(DoubleType).as("sum_base_price"),
          sum(col("l_extendedprice").cast(dec) *
            (lit(BigDecimal(1)).cast(dec) - col("l_discount").cast(dec)))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ROLLUP: per-(source, lang), per-source, and grand-total rows in
    // one pass — Spark expands grouping sets map-side, so the shuffle
    // carries each input row once per grouping set with partial
    // aggregation, not one full re-scan per level. Rolled-up keys
    // coalesce to 'ALL' (the driver's comparator can't hash NULLs) and
    // the grouping_id disambiguates a genuine 'ALL' value.
    "q_rollup" -> QueryDef(
      "ROLLUP aggregation over documents by (source, lang)",
      """SELECT coalesce(source, 'ALL') AS src, coalesce(lang, 'ALL') AS lng,
        |  CAST(grouping(source) * 2 + grouping(lang) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY gid, src, lng""".stripMargin) { (spark, dir) =>
      t(spark, dir)("documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          (grouping(col("source")).cast(LongType) * 2 +
            grouping(col("lang")).cast(LongType)).as("gid"))
        .select(coalesce(col("source"), lit("ALL")).as("src"),
          coalesce(col("lang"), lit("ALL")).as("lng"),
          col("gid"), col("n_docs"), col("n_chars"))
        .orderBy("gid", "src", "lng")
    },

    // CUBE: all 2² grouping-set marginals in one pass (the OLAP
    // companion of q_rollup's hierarchy; Spark expands grouping sets
    // in a single aggregate — each input row contributes to every
    // set map-side, no per-set rescan). grouping_id disambiguates a
    // real NULL group from a subtotal row.
    "q_cube" -> QueryDef(
      "CUBE aggregation over orders by (status, priority)",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin) { (spark, dir) =>
      t(spark, dir)("orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).cast(DoubleType).as("total"),
          (grouping(col("o_orderstatus")).cast(LongType) * 2 +
            grouping(col("o_orderpriority")).cast(LongType)).as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("gid"), col("n"), col("total"))
        .orderBy("gid", "status", "priority")
    },

    // k-anonymity audit — the privacy gate a training-data pipeline
    // runs before release: every quasi-identifier equivalence class
    // with fewer than k members re-identifies its rows. ONE map-side
    // combined aggregate over the QI tuple (the class table is
    // |distinct tuples|, corpus-independent); the HAVING filter
    // returns only violations. Banding the continuous column
    // (integer floor-division, engine-exact) is the standard
    // generalization step that makes k-anonymity on a numeric QI
    // meaningful at all.
    "q_kanon" -> QueryDef(
      "k-anonymity violations (k=5) on (nation, segment, balance band)",
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS class_size
        |FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 5
        |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin) { (spark, dir) =>
      t(spark, dir)("customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 2000).cast(LongType).as("bal_band"))
        .agg(count(lit(1)).as("class_size"))
        .where(col("class_size") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    },

    // l-diversity — k-anonymity's stronger sibling: a class can be
    // large (k-anonymous) yet still leak if everyone in it SHARES the
    // sensitive value, so the audit requires >= l distinct sensitive
    // values per quasi-identifier class. Same one-aggregate shape as
    // q_kanon with a distinct-count beside the size.
    "q_ldiversity" -> QueryDef(
      "l-diversity violations (l=3): segment diversity per (nation, balance band)",
      """SELECT c_nationkey,
        |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
        |FROM customer GROUP BY 1, 2
        |HAVING count(DISTINCT c_mktsegment) < 3
        |ORDER BY c_nationkey, bal_band""".stripMargin) { (spark, dir) =>
      t(spark, dir)("customer")
        .groupBy(col("c_nationkey"),
          floor(col("c_acctbal") / 2000).cast(LongType).as("bal_band"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("c_mktsegment")).as("n_sensitive"))
        .where(col("n_sensitive") < 3)
        .orderBy("c_nationkey", "bal_band")
    },

    // t-closeness — the third rung of the privacy-audit ladder
    // (k-anonymity → l-diversity → t-closeness): a class can be large
    // AND diverse yet still leak if its sensitive-value DISTRIBUTION
    // deviates from the global one. For an ORDERED sensitive
    // attribute the distance is the Earth Mover's Distance, which
    // collapses to the mean |cumulative difference| over the ordered
    // categories — and staying exact is just cross-multiplying:
    // d_i = n_i·N − g_i·Nc is an integer, its running sum is the
    // unnormalized EMD step, and the divide by Nc·N·(m−1) happens
    // once per class at the end. The class/band grid is
    // |segments|×|bands| — corpus-independent — so everything after
    // the first aggregate is broadcast-sized; all wide products are
    // DECIMAL(38,0)/HUGEINT (a 100-TB N² exceeds a long).
    "q_tcloseness" -> QueryDef(
      "t-closeness audit (t=0.02): EMD of balance-band distribution per segment",
      """WITH c AS (SELECT c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS band FROM customer),
        |cls AS (SELECT seg, band, count(*) AS n FROM c GROUP BY 1, 2),
        |sg AS (SELECT seg, sum(n) AS nc FROM cls GROUP BY 1),
        |bd AS (SELECT band, sum(n) AS g, sum(sum(n)) OVER () AS ntot,
        |       count(*) OVER () AS m
        |       FROM cls GROUP BY 1),
        |grid AS (SELECT sg.seg, sg.nc, bd.band, bd.g, bd.ntot, bd.m,
        |    coalesce(cls.n, 0) AS n
        |  FROM sg CROSS JOIN bd
        |  LEFT JOIN cls ON cls.seg = sg.seg AND cls.band = bd.band),
        |cum AS (SELECT seg, nc, ntot, m,
        |    sum(CAST(n AS HUGEINT) * ntot - CAST(g AS HUGEINT) * nc)
        |      OVER (PARTITION BY seg ORDER BY band
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu
        |  FROM grid),
        |r AS (SELECT seg, nc, ntot, m, sum(abs(cu)) AS num
        |      FROM cum GROUP BY 1, 2, 3, 4)
        |SELECT seg, CAST(nc AS BIGINT) AS class_size,
        |  round(CAST(num AS DOUBLE)
        |    / CAST(CAST(nc AS HUGEINT) * ntot * (m - 1) AS DOUBLE), 9) AS emd,
        |  CAST(CASE WHEN num * 50 > CAST(nc AS HUGEINT) * ntot * (m - 1)
        |       THEN 1 ELSE 0 END AS BIGINT) AS violation
        |FROM r WHERE m > 1 ORDER BY seg""".stripMargin) { (spark, dir) =>
      val dec = DecimalType(38, 0)
      val cls = t(spark, dir)("customer")
        .select(col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 2000).cast(LongType).as("band"))
        .groupBy("seg", "band").agg(count(lit(1)).as("n"))
      val segs = cls.groupBy("seg").agg(sum(col("n")).as("nc"))
      val bands = cls.groupBy("band").agg(sum(col("n")).as("g"))
      val tot = bands.agg(sum(col("g")).as("ntot"),
        count(lit(1)).as("m"))
      val w = Window.partitionBy(col("seg")).orderBy(col("band"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val den = col("nc").cast(dec) * col("ntot") *
        (col("m") - 1).cast(dec)
      segs.crossJoin(bands).crossJoin(tot)
        .join(cls, Seq("seg", "band"), "left")
        .withColumn("n0", coalesce(col("n"), lit(0L)))
        .withColumn("cu", sum(col("n0").cast(dec) * col("ntot") -
          col("g").cast(dec) * col("nc")).over(w))
        .groupBy(col("seg"), col("nc"), col("ntot"), col("m"))
        .agg(sum(abs(col("cu"))).as("num"))
        .where(col("m") > 1)
        .select(col("seg"), col("nc").cast(LongType).as("class_size"),
          round(col("num").cast(DoubleType) / den.cast(DoubleType), 9)
            .as("emd"),
          when(col("num") * 50 > den, 1L).otherwise(0L).as("violation"))
        .orderBy("seg")
    },

    // Benford first-digit audit — the classic fabricated-numbers
    // screen for a numeric column: organically-grown magnitudes put
    // digit d first with probability log10(1+1/d). The nine expected
    // frequencies are computed ONCE in Scala and emitted as ppm
    // literals into BOTH plans (the q_ndcg discount-constant trick),
    // so neither engine takes a runtime log and the deviation column
    // is pure integer arithmetic. One map-side-combined aggregate
    // over 9 groups; the digit grid is a 9-row range so absent
    // digits still report.
    "q_benford" -> {
      val ppm = (1 to 9).map(d => math.round(math.log10(1 + 1.0 / d) * 1e6))
      QueryDef(
        "Benford's-law first-digit audit of customer balances (ppm deviation)",
        s"""WITH v AS (SELECT CAST(floor(c_acctbal) AS BIGINT) AS b
          |      FROM customer WHERE c_acctbal >= 1),
          |o AS (SELECT CAST(substr(CAST(b AS VARCHAR), 1, 1) AS BIGINT)
          |        AS digit, count(*) AS obs FROM v GROUP BY 1),
          |n AS (SELECT sum(obs) AS ntot FROM o),
          |d AS (SELECT s AS digit, list_extract([${ppm.mkString(", ")}],
          |        CAST(s AS INT)) AS benford_ppm
          |      FROM unnest(range(1, 10)) AS r(s))
          |SELECT d.digit, CAST(coalesce(o.obs, 0) AS BIGINT) AS obs,
          |  CAST(d.benford_ppm AS BIGINT) AS benford_ppm,
          |  CAST(coalesce(o.obs, 0) * 1000000 // n.ntot
          |    - d.benford_ppm AS BIGINT) AS dev_ppm
          |FROM d LEFT JOIN o USING (digit) CROSS JOIN n
          |ORDER BY digit""".stripMargin) { (spark, dir) =>
        val obs = t(spark, dir)("customer")
          .where(col("c_acctbal") >= 1)
          .select(substring(floor(col("c_acctbal")).cast(LongType)
            .cast(StringType), 1, 1).cast(LongType).as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("obs"))
        val tot = obs.agg(sum(col("obs")).as("ntot"))
        spark.range(1, 10).select(col("id").as("digit"))
          .join(obs, Seq("digit"), "left")
          .withColumn("obs", coalesce(col("obs"), lit(0L)))
          .crossJoin(tot)
          .withColumn("benford_ppm",
            expr(s"element_at(array(${ppm.mkString("L, ")}L), CAST(digit AS INT))"))
          .select(col("digit"), col("obs"), col("benford_ppm"),
            expr("obs * 1000000 div ntot - benford_ppm").as("dev_ppm"))
          .orderBy("digit")
      }
    },

    // CMS join-size estimation (Profiling.joinCardinality scaladoc):
    // predict |orders ⋈ customer| from two fixed 4×1024 sketches
    // without running the join — the CBO's join-ordering input. The
    // exact answer rides beside the estimate from the reduced
    // frequency tables (est ≥ exact always; collisions reproduce
    // exactly under the shared md5 bucket hash).
    "q_join_card" -> QueryDef(
      "join cardinality: CMS dot-product estimate vs exact, no join executed",
      """WITH fa AS (SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS f
        |            FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |fb AS (SELECT CAST(c_custkey AS VARCHAR) AS key, count(*) AS f
        |       FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
        |ex AS (SELECT coalesce(sum(fa.f * fb.f), 0) AS exact_card
        |       FROM fa JOIN fb USING (key)),
        |ca AS (SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || key), 1, 15))::BIGINT
        |         % 1024 AS bucket, sum(f) AS c
        |       FROM fa, unnest(range(0, 4)) AS r(d) GROUP BY 1, 2),
        |cb AS (SELECT d, ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || key), 1, 15))::BIGINT
        |         % 1024 AS bucket, sum(f) AS c
        |       FROM fb, unnest(range(0, 4)) AS r(d) GROUP BY 1, 2),
        |dot AS (SELECT ca.d, sum(ca.c * cb.c) AS s
        |        FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket
        |        GROUP BY ca.d),
        |est AS (SELECT min(coalesce(dot.s, 0)) AS cms_estimate
        |        FROM unnest(range(0, 4)) AS r(d) LEFT JOIN dot ON dot.d = r.d)
        |SELECT CAST(exact_card AS BIGINT) AS exact_card,
        |  CAST((SELECT cms_estimate FROM est) AS BIGINT) AS cms_estimate
        |FROM ex""".stripMargin) { (spark, dir) =>
      graft.operators.Profiling.joinCardinality(
        t(spark, dir)("orders"), "o_custkey",
        t(spark, dir)("customer"), "c_custkey", width = 1024)
    },

    // Exact grouped quantiles: Spark's `percentile` and DuckDB's
    // `quantile_cont` share the same definition (sort, index p·(n−1),
    // linear interpolation); round(6) absorbs last-ulp interpolation
    // differences. At scale this is one shuffle with map-side partial
    // aggregation of the per-group value buffers; q_quantile_sketch
    // below is the documented 100 TB scale path (histogram sketch),
    // this is the exact-answer twin.
    "q_quantiles" -> QueryDef(
      "exact grouped quantiles of extended price per return flag",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
      t(spark, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_extendedprice, 0.50)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // Histogram-sketch grouped quantiles — the documented 100 TB twin
    // of q_quantiles (same exact/sketch pairing as q_budget_select /
    // q_budget_sketch). Exact percentile buffers every group value
    // through the shuffle; this aggregates to a (group, 1000-unit bin)
    // histogram — map-side combinable, ≤ ~105 bins per group at any
    // corpus size — and the rank scan runs as a window over that tiny
    // frame. Estimator = bin upper bound at rank ceil(q·n): error ≤ one
    // bin width, and every step is BIGINT arithmetic, so both engines
    // agree bit-for-bit (no interpolation-division float to drift).
    "q_quantile_sketch" -> QueryDef(
      "histogram-sketch grouped quantiles (1000-unit bins, upper-bound estimator)",
      """WITH h AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) // 100000 AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT l_returnflag, bin, c,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM h)
        |SELECT l_returnflag,
        |  min(CASE WHEN cum >= (n * 25 + 99) // 100 THEN (bin + 1) * 1000 END) AS p25_ub,
        |  min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN (bin + 1) * 1000 END) AS p50_ub,
        |  min(CASE WHEN cum >= (n * 75 + 99) // 100 THEN (bin + 1) * 1000 END) AS p75_ub,
        |  min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN (bin + 1) * 1000 END) AS p95_ub,
        |  CAST(max(n) AS BIGINT) AS n_rows
        |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
      val cumW = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val allW = Window.partitionBy(col("l_returnflag"))
      def ub(p: Int) =
        min(when(col("cum") >= expr(s"(n * $p + 99) div 100"),
          (col("bin") + 1) * 1000)).as(s"p${p}_ub")
      t(spark, dir)("lineitem")
        .select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100000").as("bin"))
        .groupBy("l_returnflag", "bin").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(cumW))
        .withColumn("n", sum(col("c")).over(allW))
        .groupBy("l_returnflag")
        .agg(ub(25), ub(50), ub(75), ub(95), max(col("n")).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // Entity-resolution fuzzy join: customer-name pairs within ONE
    // edit, blocked losslessly by FastSS deletion neighborhoods
    // (Dedup.editDistancePairs scaladoc) — a variant-key equijoin plus
    // a codegen'd levenshtein verify. The oracle IS the naive O(n²)
    // all-pairs scan the blocking avoids: completeness is therefore
    // value-checked, not argued.
    "q_fuzzy_join" -> QueryDef(
      "fuzzy self-match: customer names within Levenshtein distance 1",
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
      graft.operators.Dedup.editDistancePairs(
          t(spark, dir)("customer"), "c_custkey", "c_name")
        .orderBy("id_a", "id_b")
    },

    // Entity-resolution by Jaro-Winkler ≥ 0.9 over the distinct
    // product-catalog strings (Dedup.jaroWinklerPairs scaladoc:
    // first-char blocking is the standard JW candidate contract — a
    // pair losing the prefix boost rarely clears a high τ). The score
    // is the native codegen JaroWinklerExpr; its bit-parity with
    // DuckDB's independent jaro_winkler_similarity is pinned by a 6k
    // fuzz fixture (JaroWinklerSpec), so the RAW-double τ filter
    // selects the identical pair set on both engines.
    "q_jw_match" -> QueryDef(
      "Jaro-Winkler >= 0.9 fuzzy pairs over distinct part name+type strings",
      """WITH n AS (SELECT DISTINCT p_name || ' ' || p_type AS s FROM part)
        |SELECT a.s AS s_a, b.s AS s_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 6) AS jw
        |FROM n a JOIN n b
        |  ON substr(a.s, 1, 1) = substr(b.s, 1, 1) AND a.s < b.s
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.9
        |ORDER BY s_a, s_b""".stripMargin) { (spark, dir) =>
      graft.operators.Dedup.jaroWinklerPairs(
          t(spark, dir)("part")
            .select(concat_ws(" ", col("p_name"), col("p_type")).as("s")),
          "s", 0.9)
        .orderBy("s_a", "s_b")
    },

    // ANALYZE-style table profile: every statistic — row/null counts,
    // min/max, KMV distinct estimates — from ONE aggregation pass
    // (Profiling scaladoc: the shuffle carries one partial row plus
    // bounded sketch buffers per partition; a count-distinct-per-column
    // loop would re-scan the table once per column). The oracle is
    // generated from the same column specs as the Spark plan.
    "q_profile" -> QueryDef(
      "one-pass ANALYZE profile of orders (counts, min/max, KMV distincts)",
      graft.operators.Profiling.duckDbSql("orders", Relational.ordersProfile)) {
      (spark, dir) =>
        // spread first: at this SF the table is one parquet split, and
        // the whole one-pass aggregate (4 TopK sketches per row) would
        // otherwise run in a single task; at real scale the scan has
        // thousands of splits and this line is unnecessary
        graft.operators.Profiling.profile(
          graft.core.Spread.ifNarrow(t(spark, dir)("orders")),
          Relational.ordersProfile)
    },

    // Most-common-values catalog stats (ANALYZE companion to
    // q_profile): top-5 (value, freq) per categorical column in one
    // corpus scan — explode to (col, value) pairs, map-side-combined
    // count, per-column rank bounded by that column's cardinality
    // (Profiling.mcv scaladoc: MCV is for categorical columns; the
    // KMV estimate covers the id-like ones).
    "q_profile_mcv" -> QueryDef(
      "most-common-values (top-5 per column) over orders categoricals",
      graft.operators.Profiling.mcvDuckDbSql("orders", Relational.mcvCols, 5)) {
      (spark, dir) =>
        graft.operators.Profiling.mcv(
          graft.core.Spread.ifNarrow(t(spark, dir)("orders")),
          Relational.mcvCols, 5)
    },

    // Equi-width histograms (ANALYZE's third statistic, after
    // q_profile's counts/min-max/KMV and q_profile_mcv's heavy
    // hitters): the range-selectivity shape a CBO reads. Integer bin
    // math — explicit floor, ceiling width, integer div — so both
    // engines land every row in the same bin (Profiling.histogram
    // scaladoc: pass 1 is a 2-longs-per-column min/max aggregate,
    // pass 2 buckets all columns in ONE map-side-combined scan).
    "q_profile_hist" -> QueryDef(
      "8-bin equi-width histograms over orders numerics",
      graft.operators.Profiling.histDuckDbSql("orders",
        Seq("o_totalprice", "o_custkey"), 8)) { (spark, dir) =>
      graft.operators.Profiling.histogram(
        graft.core.Spread.ifNarrow(t(spark, dir)("orders")),
        Seq("o_totalprice", "o_custkey"), 8)
    },

    // Declarative data-quality gate (the Deequ/dbt-test shape): five
    // named constraints over orders evaluated together — the three
    // row-local checks share ONE conditional-sum scan (adding a check
    // adds a column, not a pass), uniqueness is a two-level keyed
    // aggregate, and referential integrity is a LEFT SEMI count
    // against the customer key set (Checks scaladoc). Exact integer
    // (passed, total) per check — the 100 TB ingest gate wants counts,
    // not booleans.
    "q_dq_checks" -> QueryDef(
      "data-quality constraint suite over orders (5 named checks)",
      """SELECT check_name, CAST(passed AS BIGINT) AS passed,
        |  CAST(total AS BIGINT) AS total FROM (
        |  SELECT 'not_null:o_custkey' AS check_name,
        |    count(o_custkey) AS passed, count(*) AS total FROM orders
        |  UNION ALL
        |  SELECT 'pred:positive_price',
        |    count(*) FILTER (WHERE o_totalprice > 0), count(*) FROM orders
        |  UNION ALL
        |  SELECT 'pred:known_status',
        |    count(*) FILTER (WHERE o_orderstatus IN ('O', 'F', 'P')),
        |    count(*) FROM orders
        |  UNION ALL
        |  SELECT 'unique:o_orderkey',
        |    coalesce(sum(CASE WHEN n = 1 THEN n END), 0),
        |    coalesce(sum(n), 0)
        |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'fk:o_custkey',
        |    count(*) FILTER (WHERE o_custkey IN
        |      (SELECT c_custkey FROM customer)),
        |    count(*) FROM orders)
        |ORDER BY check_name""".stripMargin) { (spark, dir) =>
      import graft.operators.Checks._
      run(t(spark, dir)("orders"), Seq(
        NotNull("o_custkey"),
        Predicate("pred:positive_price", col("o_totalprice") > 0),
        Predicate("pred:known_status",
          col("o_orderstatus").isin("O", "F", "P")),
        Unique("o_orderkey"),
        ForeignKey("o_custkey", t(spark, dir)("customer"), "c_custkey")))
    },

    // Integer-exact PageRank over the (symmetrized) supplier–customer
    // trade graph — rank propagation as repeated co-partitioned joins
    // (GraphOps.pageRank scaladoc: ppt-scaled longs, divide-before-sum,
    // so both engines agree bit-for-bit at any partition layout; the
    // curation use is centrality-weighted corpus sampling). Customer
    // nodes offset by 1e6 to keep the two key spaces disjoint.
    "q_pagerank" -> QueryDef(
      "3-iteration integer PageRank on the supplier<->customer trade graph",
      Relational.pagerankOracle(3)) { (spark, dir) =>
      val b = t(spark, dir)("lineitem")
        .join(t(spark, dir)("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      val e = b.union(b.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.GraphOps.pageRank(e, "src", "dst", iters = 3)
        .orderBy("node")
    },

    // Winsorization — the outlier-tolerant preprocessing step: clip
    // each group's values at its own [p05, p95] and report how much
    // mass moved. Quantile cuts use the established
    // percentile/quantile_cont parity recipe (rounded 6 so the clip
    // thresholds are the same doubles on both engines); the clipped
    // mean accumulates clip(v)·100 as exact integer cents. Two
    // passes: the group-cardinality cut table broadcasts back.
    "q_winsorize" -> QueryDef(
      "winsorize extended price at per-flag [p05, p95]; clip counts + means",
      """WITH c AS (SELECT l_returnflag,
        |      round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |      round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |    FROM lineitem GROUP BY 1),
        |v AS (SELECT l.l_returnflag, c.lo, c.hi,
        |      CAST(l.l_extendedprice AS DOUBLE) AS p
        |      FROM lineitem l JOIN c USING (l_returnflag))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN p < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(sum(CASE WHEN p > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high,
        |  CAST(sum(CAST(round(least(greatest(p, lo), hi) * 100) AS BIGINT))
        |    AS BIGINT) AS winsorized_cents
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      val li = t(spark, dir)("lineitem")
      val cuts = li.groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.05)"), 6).as("lo"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("hi"))
      li.join(broadcast(cuts), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("lo"), col("hi"),
          col("l_extendedprice").cast(DoubleType).as("p"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("p") < col("lo"), 1L).otherwise(0L))
            .as("n_clipped_low"),
          sum(when(col("p") > col("hi"), 1L).otherwise(0L))
            .as("n_clipped_high"),
          sum(expr("CAST(round(least(greatest(p, lo), hi) * 100) AS BIGINT)"))
            .as("winsorized_cents"))
        .orderBy("l_returnflag")
    },

    // UNPIVOT / melt — wide measure columns to long (measure, value)
    // form, then one profiling aggregate per measure: the reshape
    // every stats/ML exporter needs. Spark's `stack` is a codegen
    // generator (no shuffle to reshape — the only exchange is the
    // 4-group aggregate); sums stay exact DECIMAL until the final
    // rounded cast.
    "q_unpivot" -> QueryDef(
      "melt lineitem measures to long form + per-measure profile",
      """WITH m AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT measure, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(v) AS DOUBLE) AS min_v, CAST(max(v) AS DOUBLE) AS max_v,
        |  round(CAST(sum(v) AS DOUBLE), 6) AS sum_v
        |FROM m GROUP BY measure ORDER BY measure""".stripMargin) {
      (spark, dir) =>
      t(spark, dir)("lineitem")
        .select(expr(
          "stack(4, 'l_quantity', l_quantity, " +
            "'l_extendedprice', l_extendedprice, " +
            "'l_discount', l_discount, 'l_tax', l_tax) AS (measure, v)"))
        .groupBy("measure")
        .agg(count(lit(1)).as("n_rows"),
          min(col("v")).cast(DoubleType).as("min_v"),
          max(col("v")).cast(DoubleType).as("max_v"),
          round(sum(col("v")).cast(DoubleType), 6).as("sum_v"))
        .orderBy("measure")
    },

    // Right-to-be-forgotten cascade audit — the compliance dry-run a
    // CDC pipeline executes before an erasure wave: for a deletion
    // cohort (nation-3 customers), how many rows tombstone in each
    // downstream table and how much exact revenue leaves the books.
    // Pure keyed semi-join cascade (customer → orders → lineitem),
    // revenue in exact cents; the three 1-row aggregates cross-join
    // at the end. This is the read-only twin of the IVM engine's
    // root-tombstone scrub (J5) — same fan-out, counted instead of
    // applied.
    "q_cascade_delete" -> QueryDef(
      "GDPR erasure dry-run: cascade tombstone counts + exact revenue impact",
      """WITH cust AS (SELECT c_custkey FROM customer WHERE c_nationkey = 3),
        |o AS (SELECT o_orderkey FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM cust)),
        |l AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |      FROM lineitem
        |      WHERE l_orderkey IN (SELECT o_orderkey FROM o))
        |SELECT (SELECT count(*) FROM cust) AS n_customers,
        |  (SELECT count(*) FROM o) AS n_orders,
        |  (SELECT count(*) FROM l) AS n_lineitems,
        |  CAST((SELECT coalesce(sum(cents), 0) FROM l) AS BIGINT)
        |    AS revenue_cents""".stripMargin) { (spark, dir) =>
      val cust = t(spark, dir)("customer")
        .where(col("c_nationkey") === 3).select(col("c_custkey"))
      val o = t(spark, dir)("orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"),
          "left_semi")
        .select(col("o_orderkey"))
      val l = t(spark, dir)("lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
          .as("cents"))
      cust.agg(count(lit(1)).as("n_customers"))
        .crossJoin(o.agg(count(lit(1)).as("n_orders")))
        .crossJoin(l.agg(count(lit(1)).as("n_lineitems"),
          coalesce(sum(col("cents")), lit(0L)).as("revenue_cents")))
    },

    // Directed-graph reciprocity on the nation-level trade matrix:
    // how much of the supplier-nation → customer-nation flow is
    // mutual? Weighted reciprocity = Σ min(c_ij, c_ji) / Σ c_ij over
    // off-diagonal edges — one aggregate to the |nations|² matrix
    // (corpus-independent), one self-join on the REVERSED key for
    // the transpose, integer min/sums, a single shared divide.
    "q_reciprocity" -> QueryDef(
      "trade-graph reciprocity: mutual flow share of the nation matrix",
      """WITH m AS (SELECT s.s_nationkey AS i, c.c_nationkey AS j,
        |      count(*) AS c
        |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |    WHERE s.s_nationkey <> c.c_nationkey
        |    GROUP BY 1, 2),
        |r AS (SELECT m.i, m.j, m.c, coalesce(t.c, 0) AS ct
        |      FROM m LEFT JOIN m t ON t.i = m.j AND t.j = m.i)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(c) AS BIGINT) AS total_flow,
        |  CAST(sum(least(c, ct)) AS BIGINT) AS mutual_flow,
        |  CAST(sum(least(c, ct)) * 1000000 // sum(c) AS BIGINT)
        |    AS reciprocity_ppm
        |FROM r""".stripMargin) { (spark, dir) =>
      val m = t(spark, dir)("lineitem")
        .join(t(spark, dir)("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(spark, dir)("supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(spark, dir)("customer")),
          col("o_custkey") === col("c_custkey"))
        .where(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("i"), col("c_nationkey").as("j"))
        .agg(count(lit(1)).as("c"))
      val tr = m.select(col("j").as("i"), col("i").as("j"),
        col("c").as("ct"))
      m.join(tr, Seq("i", "j"), "left")
        .withColumn("ct", coalesce(col("ct"), lit(0L)))
        .agg(count(lit(1)).as("n_edges"), sum(col("c")).as("total_flow"),
          sum(least(col("c"), col("ct"))).as("mutual_flow"),
          expr("sum(least(c, ct)) * 1000000 div sum(c)")
            .as("reciprocity_ppm"))
    },

    // Degree assortativity of the supplier↔customer trade graph — do
    // high-degree suppliers serve high-degree customers (assortative,
    // r > 0) or the periphery (disassortative, r < 0)? Standard
    // Newman recipe: every undirected edge contributes its
    // endpoint-degree pair in BOTH orders, then Pearson over those
    // pairs. (The nation-level matrix is COMPLETE at every SF — zero
    // degree variance, r undefined — so the audit runs on the entity
    // graph, where degrees genuinely vary.) All five moments are
    // exact integers; the two sqrt-of-integer calls are
    // correctly-rounded IEEE on both engines, shared bit-for-bit.
    "q_assortativity" -> QueryDef(
      "degree assortativity of the supplier-customer trade graph (Newman r)",
      """WITH m AS (SELECT DISTINCT l.l_suppkey AS u,
        |      o.o_custkey + 1000000 AS v
        |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |ends AS (SELECT u AS node, v AS other FROM m
        |         UNION ALL SELECT v, u FROM m),
        |deg AS (SELECT node, count(*) AS d FROM ends GROUP BY 1),
        |p AS (SELECT da.d AS x, db.d AS y FROM ends e
        |      JOIN deg da ON da.node = e.node
        |      JOIN deg db ON db.node = e.other),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |      sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |      FROM p)
        |SELECT CAST(n AS BIGINT) AS n_half_edges,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9) AS r
        |FROM s WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"""
        .stripMargin) { (spark, dir) =>
      val m = t(spark, dir)("lineitem")
        .join(t(spark, dir)("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("u"),
          (col("o_custkey") + 1000000L).as("v"))
        .distinct()
      // Materialize the half-edge list once: it feeds the degree
      // aggregate AND both sides of the degree-pair join — without the
      // checkpoint each consumer re-runs the lineitem⋈orders distinct
      // (the before-plan carried 17 Exchanges; guide §2.4).
      val ends = m.select(col("u").as("node"), col("v").as("other"))
        .unionByName(m.select(col("v").as("node"), col("u").as("other")))
        .localCheckpoint()
      val deg = ends.groupBy("node").agg(count(lit(1)).as("d"))
      val p = ends
        .join(deg.select(col("node"), col("d").as("x")), Seq("node"))
        .join(deg.select(col("node").as("other"), col("d").as("y")),
          Seq("other"))
      // Moments in DECIMAL(20,0): n·Σx² overflows a Long from ~10⁷
      // half-edges × degree ~10³ (hit by the r13 scale sweep at sf1 —
      // ~4·10²⁰ vs 2⁶³≈9.2·10¹⁸; DuckDB's HUGEINT masked it in the
      // oracle). Bounds: n ≤ 10¹⁸ rows is absurd, degree sums ≤ 10²⁰ —
      // each moment fits DECIMAL(20,0), products fit DECIMAL(38,0)
      // exactly, and the final r is the same correctly-rounded double.
      val d20 = DecimalType(20, 0)
      val n = count(lit(1)).cast(d20)
      // Cast operands BEFORE multiplying and summing so BOTH the
      // per-row products and the accumulator are decimal: the r13 fix
      // (sum(c).cast(d20)) still summed in Long and would ANSI-overflow
      // at ~9.2·10¹⁸, well below the 10²⁰ moment bound above.
      val xd = col("x").cast(d20)
      val yd = col("y").cast(d20)
      def s(c: org.apache.spark.sql.Column) = sum(c)
      val den1 = n * s(xd * xd) - s(xd) * s(xd)
      val den2 = n * s(yd * yd) - s(yd) * s(yd)
      p.agg(count(lit(1)).as("n_half_edges"),
          round((n * s(xd * yd) -
            s(xd) * s(yd)).cast(DoubleType) /
            (sqrt(den1.cast(DoubleType)) * sqrt(den2.cast(DoubleType))), 9)
            .as("r"),
          den1.as("__d1"), den2.as("__d2"))
        .where(col("__d1") > 0 && col("__d2") > 0)
        .select(col("n_half_edges"), col("r"))
    },

    // Personalized PageRank from the nation-0 supplier seed set
    // (GraphOps.personalizedPageRank scaladoc): teleport mass pinned
    // to trusted seeds, so rank measures link-proximity to the
    // whitelist — the curated-seed corpus filter, vs q_pagerank's
    // global centrality and q_bfs's hop counts. Integer-exact, same
    // unrolled-oracle technique.
    "q_ppr" -> QueryDef(
      "3-iteration personalized PageRank seeded at nation-0 suppliers",
      Relational.pprOracle(3)) { (spark, dir) =>
      val b = t(spark, dir)("lineitem")
        .join(t(spark, dir)("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      val e = b.union(b.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t(spark, dir)("supplier")
        .where(col("s_nationkey") === 0)
        .select(col("s_suppkey"))
      graft.operators.GraphOps
        .personalizedPageRank(e, "src", "dst", seeds, "s_suppkey", iters = 3)
        .orderBy("node")
    },

    // Community detection by synchronous label propagation on the same
    // trade graph — deterministic by construction (GraphOps
    // .labelPropagation scaladoc: sync rounds, integer counts, ties to
    // the smallest label), which is what lets a 3-round unrolled SQL
    // oracle replay it exactly. Output is community sizes — the
    // curation readout (cluster-aware sampling / dedup scopes).
    "q_communities" -> QueryDef(
      "3-round label-propagation communities on the trade graph",
      Relational.lpaOracle(3)) { (spark, dir) =>
      val edges = t(spark, dir)("lineitem")
        .join(t(spark, dir)("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      graft.operators.GraphOps.labelPropagation(edges, "src", "dst", 3)
        .select(col("node"), col("label").as("community"))
        .orderBy("node")
    },

    // k-core of the trade graph — fixed-round synchronous peeling
    // toward the maximal everyone-keeps-k-neighbors subgraph
    // (GraphOps.kCore scaladoc: the dense-region selector for
    // graph-aware sampling; pure integer set algebra per round, so
    // the unrolled oracle replays it exactly). k=25 bites at this
    // graph's customer degrees (~40 distinct suppliers per customer)
    // so the peel actually removes nodes and cascades.
    "q_kcore" -> QueryDef(
      "25-core of the supplier<->customer trade graph (3 peel rounds)",
      Relational.kcoreOracle(25, 3)) { (spark, dir) =>
      val edges = t(spark, dir)("lineitem")
        .join(t(spark, dir)("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      graft.operators.GraphOps.kCore(edges, "src", "dst", k = 25, rounds = 3)
        .orderBy("node")
    },

    // Equi-DEPTH boundaries (Profiling.equiDepthBoundaries scaladoc):
    // the quantile splits a range partitioner / CBO equi-height
    // histogram wants, where q_profile_hist's equi-width wastes
    // buckets under skew. All columns bucket in ONE scan; the ordered
    // CDF runs over the per-column value grid, never the corpus.
    "q_profile_eqdepth" -> QueryDef(
      "equi-depth (quartile) boundaries over orders numerics via the grid CDF",
      graft.operators.Profiling.equiDepthDuckDbSql("orders",
        Seq("o_totalprice", "o_custkey"), 4)) { (spark, dir) =>
      graft.operators.Profiling.equiDepthBoundaries(
        graft.core.Spread.ifNarrow(t(spark, dir)("orders")),
        Seq("o_totalprice", "o_custkey"), 4)
    },

    // Pearson correlation matrix in ONE pass (Profiling.corr scaladoc:
    // all pairs' sufficient statistics are conditional aggregates in
    // the same plan — one scan, one partial row per partition; exact
    // DECIMAL sums, the r-formula is a fixed double expression tree
    // both engines evaluate identically).
    "q_corr" -> QueryDef(
      "single-pass Pearson correlation matrix over lineitem numerics",
      graft.operators.Profiling.corrDuckDbSql("lineitem",
        Seq("l_quantity", "l_extendedprice", "l_discount"))) { (spark, dir) =>
      graft.operators.Profiling.corr(t(spark, dir)("lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    },

    // Multi-source BFS hop distances from the nation-0 supplier seed
    // set over the trade graph (GraphOps.shortestPaths scaladoc:
    // synchronous min-plus relaxation, one co-partitioned join + min
    // aggregate per round, integer-exact so the unrolled oracle
    // replays it bit-for-bit). The "how far from the trusted seeds"
    // filter shape.
    "q_bfs" -> QueryDef(
      "BFS hop distance from nation-0 suppliers over the trade graph (3 rounds)",
      Relational.bfsOracle(3)) { (spark, dir) =>
      val edges = t(spark, dir)("lineitem")
        .join(t(spark, dir)("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast(LongType).as("src"),
          (col("o_custkey") + 1000000L).cast(LongType).as("dst"))
      val seeds = t(spark, dir)("supplier")
        .where(col("s_nationkey") === 0)
        .select(col("s_suppkey"))
      graft.operators.GraphOps
        .shortestPaths(edges, "src", "dst", seeds, "s_suppkey", rounds = 3)
        .orderBy("node")
    },

    // Z-order (Morton) clustering key — the multi-dimensional layout
    // primitive behind Layout.zorderLayout: sorting a 100 TB table by
    // this interleaved value gives every parquet file a small bounding
    // box in BOTH dimensions, so min/max stats prune range queries on
    // either column (a single-column sort prunes only its own). The
    // bit math is 10 shift/mask steps of plain functions._ columns —
    // whole-stage codegen end to end — and the oracle emits the
    // identical expression in DuckDB (ZOrder.duckDbSql).
    "q_zorder" -> QueryDef(
      "z-order curve key over (o_custkey, o_orderkey), curve-sorted",
      s"""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         |  CAST(o_custkey AS BIGINT) AS o_custkey,
         |  CAST(${graft.functions.ZOrder.duckDbSql("o_custkey", "o_orderkey")} AS BIGINT) AS zval
         |FROM orders ORDER BY zval, o_orderkey""".stripMargin) { (spark, dir) =>
      t(spark, dir)("orders")
        .select(col("o_orderkey").cast(LongType).as("o_orderkey"),
          col("o_custkey").cast(LongType).as("o_custkey"),
          graft.functions.ZOrder.zValue(col("o_custkey"), col("o_orderkey"))
            .as("zval"))
        .orderBy("zval", "o_orderkey")
    },

    // The 3-D curve — (entity, measure, TIME) is the canonical triple
    // for event tables: one curve-sorted layout prunes range scans on
    // any of user, value band, or time window. Value buckets via
    // floor() on BOTH engines (a bare cast rounds half-even in DuckDB
    // but truncates in Spark); the time bucket divides the epoch-ns
    // long so 2024 epochs land under the 2^21 per-dimension cap.
    "q_zorder3" -> QueryDef(
      "3-D z-order key over (user_id, value bucket, time bucket)",
      s"""SELECT CAST(event_id AS BIGINT) AS event_id,
         |  CAST(${graft.functions.ZOrder.duckDbSql3(
               "user_id",
               "CAST(floor(value) AS BIGINT)",
               "epoch_ns(ts) // 1000000000000")} AS BIGINT) AS zval
         |FROM events ORDER BY zval, event_id""".stripMargin) { (spark, dir) =>
      t(spark, dir)("events")
        .select(col("event_id").cast(LongType).as("event_id"),
          graft.functions.ZOrder.zValue3(
            col("user_id"),
            floor(col("value")).cast(LongType),
            expr("ts div 1000000000000")).as("zval"))
        .orderBy("zval", "event_id")
    },

    // Hilbert curve layout key — ZOrder's better-locality sibling
    // (functions.Hilbert scaladoc: consecutive curve positions are
    // always grid neighbors, so curve-sorted files get tighter
    // bounding boxes than Morton). The iterative rotate/reflect runs
    // as the compiled HilbertExpr inside whole-stage codegen; the
    // oracle unrolls the identical arithmetic as one DuckDB CTE per
    // bit (Hilbert.duckDbCtes).
    "q_hilbert" -> QueryDef(
      "Hilbert curve key over (o_custkey, o_orderkey), curve-sorted", {
        val (ctes, last) = graft.functions.Hilbert.duckDbCtes(
          "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, " +
            "CAST(o_custkey AS BIGINT) AS o_custkey, " +
            "CAST(o_custkey AS BIGINT) AS x, " +
            "CAST(o_orderkey AS BIGINT) AS y FROM orders",
          Seq("o_orderkey", "o_custkey"), 31)
        s"""WITH $ctes
           |SELECT o_orderkey, o_custkey, d AS hval FROM $last
           |ORDER BY hval, o_orderkey""".stripMargin
      }) { (spark, dir) =>
      t(spark, dir)("orders")
        .select(col("o_orderkey").cast(LongType).as("o_orderkey"),
          col("o_custkey").cast(LongType).as("o_custkey"),
          graft.functions.Hilbert.hilbert(
            col("o_custkey"), col("o_orderkey"), 31).as("hval"))
        .orderBy("hval", "o_orderkey")
    },

    // Pareto frontier (skyline): the points no other point dominates
    // on BOTH dimensions. Scale shape: reduce to one row per distinct
    // x FIRST (map-side-combinable max), then a single running-max
    // window over the |distinct x| reduced rows — the corpus never
    // sorts, and the O(n²) dominance join textbooks write never runs.
    "q_skyline" -> QueryDef(
      "pareto frontier of parts: (maximize size, maximize price)",
      """WITH pts AS (SELECT p_size AS x,
        |    max(CAST(round(p_retailprice * 100) AS BIGINT)) AS best_cents
        |  FROM part GROUP BY 1),
        |w AS (SELECT x, best_cents,
        |    max(best_cents) OVER (ORDER BY x DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        |  FROM pts)
        |SELECT CAST(x AS BIGINT) AS x, best_cents FROM w
        |WHERE prev IS NULL OR best_cents > prev ORDER BY x""".stripMargin) {
      (spark, dir) =>
      val pts = t(spark, dir)("part")
        .groupBy(col("p_size").cast(LongType).as("x"))
        .agg(max(expr("CAST(round(p_retailprice * 100) AS BIGINT)"))
          .as("best_cents"))
      pts.withColumn("prev", max(col("best_cents")).over(
          Window.orderBy(col("x").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .where(col("prev").isNull || col("best_cents") > col("prev"))
        .select(col("x"), col("best_cents"))
        .orderBy("x")
    },

    "q_topk" -> QueryDef(
      "top-3 orders by total price per market segment (rank window)",
      """SELECT c_mktsegment, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val c = t(spark, dir)("customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("c_mktsegment"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast(LongType))
        .where(col("rnk") <= 3)
        .select(col("c_mktsegment"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("c_mktsegment", "rnk")
    },

    // Q-DENORM-FLAT: 2-level tree orders ⟕ customer.
    "q_denorm_flat" -> QueryDef(
      "2-level denormalization: orders left-join customer",
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val c = t(spark, dir)("customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_mktsegment"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Q-DENORM-MULTI: customer → nation (N:1) + orders (1:N array).
    "q_denorm_multi" -> QueryDef(
      "root with N:1 and 1:N children: customer → nation, orders",
      """SELECT c_custkey, c_name, n_name,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |  coalesce(string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey), '') AS order_keys,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |              LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name, n_name ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
      val c = t(spark, dir)("customer")
      val n = t(spark, dir)("nation")
      val o = t(spark, dir)("orders")
      val oagg = o.groupBy(col("o_custkey")).agg(
        count(lit(1)).as("n_orders"),
        array_join(transform(sort_array(collect_list(col("o_orderkey"))),
          x => x.cast(StringType)), ",").as("order_keys"),
        sum(col("o_totalprice").cast(dec)).as("ts"))
      c.join(n, c("c_nationkey") === n("n_nationkey"), "left_outer")
        .join(oagg, c("c_custkey") === oagg("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("order_keys"), lit("")).as("order_keys"),
          coalesce(col("ts"), lit(BigDecimal(0))).cast(DoubleType).as("total_spent"))
        .orderBy("c_custkey")
    },

    // Q-DENORM-DEEP: 3-level nesting orders → lineitem → part.
    "q_denorm_deep" -> QueryDef(
      "3-level denormalization: orders → lineitem → part",
      """SELECT o_orderkey,
        |  CAST(count(l_orderkey) AS BIGINT) AS n_items,
        |  coalesce(string_agg(CASE WHEN l_orderkey IS NOT NULL THEN coalesce(p_name, '?') END, ',' ORDER BY l_linenumber, coalesce(p_name, '?')), '') AS part_names,
        |  CAST(coalesce(sum(CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_qty
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |            LEFT JOIN part ON l_partkey = p_partkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val li = t(spark, dir)("lineitem")
      val p = t(spark, dir)("part")
      val lag = li.join(p, li("l_partkey") === p("p_partkey"), "left_outer")
        .groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("n_items"),
          array_join(transform(sort_array(collect_list(struct(col("l_linenumber"),
            coalesce(col("p_name"), lit("?")).as("pn")))), x => x("pn")), ",").as("part_names"),
          sum(col("l_quantity").cast(dec)).as("sq"))
      o.join(lag, o("o_orderkey") === lag("l_orderkey"), "left_outer")
        .select(col("o_orderkey"),
          coalesce(col("n_items"), lit(0L)).as("n_items"),
          coalesce(col("part_names"), lit("")).as("part_names"),
          coalesce(col("sq"), lit(BigDecimal(0))).cast(DoubleType).as("sum_qty"))
        .orderBy("o_orderkey")
    },

    // Q-DENORM-DIAMOND: nation reused via customer and via supplier.
    "q_denorm_diamond" -> QueryDef(
      "diamond tree: orders → customer → nation and → lineitem → supplier → nation",
      """WITH sn0 AS (
        |  SELECT DISTINCT l_orderkey, n_name
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |                JOIN nation ON s_nationkey = n_nationkey),
        |sn AS (SELECT l_orderkey, string_agg(n_name, ',' ORDER BY n_name) AS supp_nations
        |       FROM sn0 GROUP BY l_orderkey)
        |SELECT o_orderkey, n_name AS cust_nation, coalesce(supp_nations, '') AS supp_nations
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |            LEFT JOIN nation ON c_nationkey = n_nationkey
        |            LEFT JOIN sn ON o_orderkey = sn.l_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val c = t(spark, dir)("customer")
      val n1 = t(spark, dir)("nation")
      val n2 = t(spark, dir)("nation")
      val li = t(spark, dir)("lineitem")
      val s = t(spark, dir)("supplier")
      val sn = li.join(s, li("l_suppkey") === s("s_suppkey"))
        .join(n2, s("s_nationkey") === n2("n_nationkey"))
        .groupBy(col("l_orderkey"))
        .agg(array_join(array_sort(collect_set(n2("n_name"))), ",").as("supp_nations"))
      o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
        .join(n1, c("c_nationkey") === n1("n_nationkey"), "left_outer")
        .join(sn, o("o_orderkey") === sn("l_orderkey"), "left_outer")
        .select(col("o_orderkey"), n1("n_name").as("cust_nation"),
          coalesce(col("supp_nations"), lit("")).as("supp_nations"))
        .orderBy("o_orderkey")
    },

    // Q-ORDER: child arrays sorted by canonical composite PK bytes.
    "q_order" -> QueryDef(
      "child ordering by canonical composite PK encoding (lineitem per order)",
      """SELECT l_orderkey,
        |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS line_order
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (spark, dir) =>
      val li = t(spark, dir)("lineitem")
      // Genuine canonical-PK sort: composite key fields name-sorted
      // (l_linenumber, l_orderkey), unsigned-lexicographic byte order.
      li.select(col("l_orderkey"),
          struct(canonicalPk(col("l_linenumber"), col("l_orderkey")).as("pk"),
            col("l_linenumber").cast(StringType).as("ln")).as("pd"))
        .groupBy(col("l_orderkey"))
        .agg(array_join(transform(sort_array(collect_list(col("pd"))), x => x("ln")), ",")
          .as("line_order"))
        .orderBy("l_orderkey")
    },

    // Q-FILTER: per-entity record filter applied before the join.
    "q_filter" -> QueryDef(
      "pre-join per-entity record filter (DELETE customers with negative balance)",
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal >= 0) c
        |  ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val c = Filters.applySnapshot(t(spark, dir)("customer"), "customer",
        Filters.deleteWhere("customer", col("c_acctbal") < 0))
      o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
        .orderBy("o_orderkey")
    },

    // Multi-way join + aggregation (TPC-H Q5 flavor): revenue per
    // customer nation where supplier shares the nation.
    "q_join_agg" -> QueryDef(
      "five-way join with decimal-exact revenue aggregation per nation",
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lineitems
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (spark, dir) =>
      val c = t(spark, dir)("customer")
      val o = t(spark, dir)("orders")
      val li = t(spark, dir)("lineitem")
      val s = t(spark, dir)("supplier")
      val n = t(spark, dir)("nation")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, li("l_orderkey") === o("o_orderkey"))
        .join(s, li("l_suppkey") === s("s_suppkey") &&
          c("c_nationkey") === s("s_nationkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast(dec) *
            (lit(BigDecimal(1)).cast(dec) - col("l_discount").cast(dec)))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("n_name")
    },

    // Semi/anti-join surface: orders with no lineitems at all.
    // Set operators in one query: customers with open orders INTERSECT
    // customers with finished orders, EXCEPT customers with pending
    // ones. Spark rewrites INTERSECT/EXCEPT into semi/anti joins over
    // pre-aggregated distinct sides — keyed shuffles, no sort-based
    // set difference, dedup pushed below the joins.
    "q_set_ops" -> QueryDef(
      "set ops: INTERSECT + EXCEPT over per-status customer key sets",
      """SELECT c FROM (
        |  SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT
        |  SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'P') t
        |ORDER BY c""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      def keys(st: String) = o.where(col("o_orderstatus") === st)
        .select(col("o_custkey").as("c"))
      keys("O").intersect(keys("F")).except(keys("P")).orderBy("c")
    },

    // Semi join: the probe side never materializes payload columns of
    // the build side, and Catalyst pushes the totalprice filter below
    // the join — the EXISTS shape large fact-dim filters take.
    "q_semijoin" -> QueryDef(
      "semi join: customers with at least one large open order",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderstatus = 'O' AND o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
      val c = t(spark, dir)("customer")
      val o = t(spark, dir)("orders")
        .where(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    // Pivot with an EXPLICIT value list: Spark's pivot without values
    // first runs a distinct-collect job over the pivot column — at
    // 100 TB that is a full extra pass (and an unbounded column
    // explosion); declaring the domain keeps it one single-pass
    // aggregation. The oracle is the equivalent conditional-sum SQL.
    "q_pivot" -> QueryDef(
      "pivot: order counts and exact totals per priority × status",
      """SELECT o_orderpriority,
        |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_filled,
        |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_pending,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS total_open
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
      t(spark, dir)("orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).as("total"))
        .select(col("o_orderpriority"),
          coalesce(col("O_n"), lit(0L)).as("n_open"),
          coalesce(col("F_n"), lit(0L)).as("n_filled"),
          coalesce(col("P_n"), lit(0L)).as("n_pending"),
          coalesce(col("O_total").cast(DoubleType), lit(0.0)).as("total_open"))
        .orderBy("o_orderpriority")
    },

    "q_antijoin" -> QueryDef(
      "anti join: orders without any lineitem",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
      val o = t(spark, dir)("orders")
      val li = t(spark, dir)("lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Full nested {Record, Children} document assembly (reference
    // Southpaw.java:326-358); JSON-shape parity is also golden-tested
    // in DenormalizeSpec. The oracle rebuilds the document JSON
    // byte-exactly in DuckDB, bottom-up: leaf docs via to_json over
    // ordered struct_pack (both engines emit compact JSON with
    // identical shortest-round-trip doubles in the data's value range),
    // child arrays via string_agg ordered by the canonical-PK byte
    // order (for non-negative integral keys with a length prefix that
    // equals plain numeric order; ties replay the struct comparison),
    // and the root key rendered as the canonical stripped-big-endian
    // hex. Timestamps are normalized to wall-clock strings on BOTH
    // sides before assembly (engine-specific JSON timestamp rendering
    // — the same serde-level normalization the reference applies to
    // Avro Utf8 values, record/AvroRecord.java:104-117).
    //
    // BYTE-PARITY ASSUMPTION: the fixture has no NULLs in the joined
    // key/value columns. DuckDB's to_json renders a null field as
    // "f":null where Spark's to_json omits the field, and this oracle
    // emits every Children entry unconditionally where the engine
    // omits the entry when the parent key field is null. The synthetic
    // TPC-H-ish tables are NOT NULL throughout, so both shapes agree;
    // if a future fixture introduces NULLs here, this oracle must gain
    // the reference's null handling (omit-null-fields on the SQL side,
    // joinKey != null guard per Children entry) instead of being
    // debugged through a bare hash mismatch.
    "q_denorm_docs" -> QueryDef(
      "nested denormalized documents for orders → (customer → nation, lineitem → part)",
      """WITH nd AS (
        |  SELECT n_nationkey,
        |    '{"Record":' || to_json(struct_pack(n_nationkey := n_nationkey,
        |        n_name := n_name, n_regionkey := n_regionkey)) || ',"Children":{}}' AS doc
        |  FROM nation),
        |cd AS (
        |  SELECT c.c_custkey,
        |    '{"Record":' || to_json(struct_pack(c_custkey := c.c_custkey,
        |        c_name := c.c_name, c_nationkey := c.c_nationkey,
        |        c_acctbal := c.c_acctbal, c_mktsegment := c.c_mktsegment))
        |    || ',"Children":{"nation":[' || coalesce(nd.doc, '') || ']}}' AS doc
        |  FROM customer c LEFT JOIN nd ON c.c_nationkey = nd.n_nationkey),
        |pd AS (
        |  SELECT p_partkey,
        |    '{"Record":' || to_json(struct_pack(p_partkey := p_partkey, p_name := p_name,
        |        p_brand := p_brand, p_type := p_type, p_size := p_size,
        |        p_retailprice := p_retailprice)) || ',"Children":{}}' AS doc
        |  FROM part),
        |ld AS (
        |  SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, l.l_quantity,
        |         l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag,
        |         l.l_linestatus, l.l_shipdate,
        |    '{"Record":' || to_json(struct_pack(l_orderkey := l.l_orderkey,
        |        l_partkey := l.l_partkey, l_suppkey := l.l_suppkey,
        |        l_linenumber := l.l_linenumber, l_quantity := l.l_quantity,
        |        l_extendedprice := l.l_extendedprice, l_discount := l.l_discount,
        |        l_tax := l.l_tax, l_returnflag := l.l_returnflag,
        |        l_linestatus := l.l_linestatus,
        |        l_shipdate := strftime(l.l_shipdate, '%Y-%m-%d %H:%M:%S')))
        |    || ',"Children":{"part":[' || coalesce(pd.doc, '') || ']}}' AS doc
        |  FROM lineitem l LEFT JOIN pd ON l.l_partkey = pd.p_partkey),
        |la AS (
        |  SELECT l_orderkey,
        |    '[' || string_agg(doc, ',' ORDER BY l_linenumber, l_partkey, l_suppkey,
        |        l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
        |        l_linestatus, l_shipdate) || ']' AS arr
        |  FROM ld GROUP BY l_orderkey)
        |SELECT pk_hex, doc_json FROM (
        |  SELECT
        |    CASE WHEN o.o_orderkey = 0 THEN '00'
        |         WHEN length(printf('%X', o.o_orderkey)) % 2 = 1
        |           THEN '0' || printf('%X', o.o_orderkey)
        |         ELSE printf('%X', o.o_orderkey) END AS pk_hex,
        |    '{"Record":' || to_json(struct_pack(o_orderkey := o.o_orderkey,
        |        o_custkey := o.o_custkey, o_orderstatus := o.o_orderstatus,
        |        o_totalprice := o.o_totalprice,
        |        o_orderdate := strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S'),
        |        o_orderpriority := o.o_orderpriority))
        |    || ',"Children":{"customer":[' || coalesce(cd.doc, '')
        |    || '],"lineitem":' || coalesce(la.arr, '[]') || '}}' AS doc_json
        |  FROM orders o
        |  LEFT JOIN cd ON o.o_custkey = cd.c_custkey
        |  LEFT JOIN la ON o.o_orderkey = la.l_orderkey)
        |ORDER BY pk_hex""".stripMargin) { (spark, dir) =>
      val tree = Relation.root("DenormalizedOrders", "orders",
        Relation.child("customer", "c_custkey", "o_custkey",
          Relation.child("nation", "n_nationkey", "c_nationkey")),
        Relation.child("lineitem", "l_orderkey", "o_orderkey",
          Relation.child("part", "p_partkey", "l_partkey")))
      // Canonical wall-clock strings for timestamp fields (see oracle
      // note above) — applied before assembly so the document JSON is
      // engine-independent.
      val normalized: String => DataFrame = name => {
        val df = t(spark, dir)(name)
        df.schema.fields.foldLeft(df) { (d, f) =>
          if (f.dataType == TimestampType || f.dataType == TimestampNTZType)
            d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd HH:mm:ss"))
          else d
        }
      }
      Denormalize.documents(tree, normalized, Tables.primaryKeys)
        .select(hex(col("__pk")).as("pk_hex"), col("doc_json"))
        .orderBy("pk_hex")
    })
}
