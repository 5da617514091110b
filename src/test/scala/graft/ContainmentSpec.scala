package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.operators.TextAnalysis

/** Asymmetric containment pairs (`Dedup.containmentPairs`): a short
  * text lifted into a longer page is detected in the SRC→DST direction
  * only — the case symmetric Jaccard rejects by design — and the
  * blocked plan equals the naive all-ordered-pairs scan.
  */
class ContainmentSpec extends SparkSpec {

  import spark.implicits._

  /** Routing pin: `df` runs the bitmap tier's salted blocked scan
    * (`blocked`) or its broadcast pair scan. Value equality alone also
    * passes when a route silently falls through to another tier. */
  private def assertBitmapRoute(df: DataFrame, blocked: Boolean): Unit = {
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("bitmapandcount") && plan.contains("__salt") == blocked &&
      plan.contains("broadcastnestedloopjoin") != blocked,
      s"expected the bitmap ${if (blocked) "blocked" else "broadcast"} scan:\n$plan")
  }

  test("a quoted paragraph is contained in its quoting page, not vice versa") {
    val para = "the quick brown fox jumps over the lazy dog again and again"
    val page = ("intro text before the quote. " + para +
      " and a long discussion afterwards that keeps going with much more " +
      "material than the quoted paragraph itself ever had")
    val rows = Seq((1L, para), (2L, page), (3L, "completely unrelated text body"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(
        TextAnalysis.gramArrays(rows, "doc_id", "text", 5), "doc_id", 4, 5)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("blocked result equals the naive all-ordered-pairs scan on random data") {
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(30)(Seq.fill(40)(('a' + rnd.nextInt(4)).toChar).mkString)
    // plant subsets: every 5th doc is a slice of its predecessor
    val texts = base.zipWithIndex.map { case (t, i) =>
      if (i % 5 == 0 && i > 0) base(i - 1).substring(0, 25) else t
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val g = TextAnalysis.grams(rows, "doc_id", "text", 5).localCheckpoint(true)
    val s = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val naive = g.select(col("doc_id").as("src"), col("gram"))
      .join(g.select(col("doc_id").as("dst"), col("gram")), "gram")
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("i"))
      .join(s.select(col("doc_id").as("src"), col("n")), "src")
      .where(col("i") * 5 >= col("n") * 4)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val blocked = Dedup.containmentPairs(
        TextAnalysis.gramArrays(rows, "doc_id", "text", 5), "doc_id", 4, 5)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(blocked == naive, s"blocked=$blocked naive=$naive")
  }

  test("dense bitmap path equals the prefix-filter path (full rows)") {
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(40)(
      Seq.fill(60)(('a' + rnd.nextInt(5)).toChar).mkString)
    val texts = base.zipWithIndex.map { case (t, i) =>
      if (i % 4 == 1) base(i - 1).substring(0, 30) else t
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val arrs = TextAnalysis.gramArrays(rows, "doc_id", "text", 4)
    def pairs(denseMax: Long) =
      Dedup.containmentPairs(arrs, "doc_id", 3, 4, denseUniverseMax = denseMax)
    def values(df: DataFrame) =
      df.select("src", "dst", "n_src", "n_shared", "containment")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
    val densePairs = pairs(Long.MaxValue) // force bitmap path
    assertBitmapRoute(densePairs, blocked = false)
    val dense = values(densePairs)
    val prefix = values(pairs(0L))   // force prefix path
    assert(dense.nonEmpty)
    assert(dense == prefix, s"dense=$dense prefix=$prefix")
  }

  test("large-corpus dense path (component-blocked scan) equals the pair scan") {
    // The dense-universe branch splits by corpus size (the r13 scale
    // sweep measured the blind pair scan at α = 1.40): above
    // pairScanMaxDocs it must produce the SAME rows from the
    // gram-connected-component blocked + salted scan.
    val rnd = new scala.util.Random(23)
    val base = Seq.fill(50)(
      Seq.fill(60)(('a' + rnd.nextInt(5)).toChar).mkString)
    val texts = base.zipWithIndex.map { case (t, i) =>
      if (i % 5 == 2) base(i - 1).substring(0, 30) else t
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val arrs = TextAnalysis.gramArrays(rows, "doc_id", "text", 4)
    def pairs(maxDocs: Long) =
      Dedup.containmentPairs(arrs, "doc_id", 3, 4,
          denseUniverseMax = Long.MaxValue, pairScanMaxDocs = maxDocs)
    def values(df: DataFrame) =
      df.select("src", "dst", "n_src", "n_shared", "containment")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
    val scan = values(pairs(Long.MaxValue)) // force the all-pairs scan
    val blockedPairs = pairs(0L)          // force the component-blocked scan
    assertBitmapRoute(blockedPairs, blocked = true)
    val blocked = values(blockedPairs)
    assert(scan.nonEmpty)
    assert(scan == blocked, s"scan=$scan blocked=$blocked")
  }

  test("big-universe dense corpus routes to the sorted-array blocked scan, same rows") {
    // r14 sweep catch at sf3: a dense corpus whose gram universe
    // outgrew the bitmap cap fell through to prefix filtering and
    // died. With a universe cap below this corpus's universe and no
    // rare grams (p10(df) high), the router must pick the
    // sorted-array blocked scan — and produce exactly the bitmap
    // path's rows.
    // 100 × 80-char docs: p10(df) must actually clear the rare-df gate
    // (the original 60 × 60 fixture read p10 ≤ 8 and silently fell
    // through to prefix — caught r17 by the routing pin below)
    val rnd = new scala.util.Random(31)
    val base = Seq.fill(100)(
      Seq.fill(80)(('a' + rnd.nextInt(4)).toChar).mkString)
    val texts = base.zipWithIndex.map { case (t, i) =>
      if (i % 5 == 2) base(i - 1).substring(0, 40) else t
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val arrs = TextAnalysis.gramArrays(rows, "doc_id", "text", 4)
    // 4-symbol alphabet, 4-grams: universe ≤ 256 and every gram is
    // frequent (p10(df) ≫ 8) — cap at 16 to simulate sf3's crossing.
    // Routing pin first: value equality alone would also pass on a
    // silent fall-through to the prefix path (caught r17 on the
    // Jaccard mirror of this test).
    assert(Dedup.containmentPairs(arrs, "doc_id", 3, 4,
        denseUniverseMax = 16L)
      .queryExecution.optimizedPlan.toString
      .toLowerCase.contains("sortedintersect"),
      "dense-but-wide corpus must route to the sorted-array tier")
    val arrays = Dedup.containmentPairs(arrs, "doc_id", 3, 4,
        denseUniverseMax = 16L)
      .select("src", "dst", "n_src", "n_shared", "containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val bitmap = Dedup.containmentPairs(arrs, "doc_id", 3, 4,
        denseUniverseMax = Long.MaxValue)
      .select("src", "dst", "n_src", "n_shared", "containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(bitmap.nonEmpty)
    assert(arrays == bitmap, s"arrays=$arrays bitmap=$bitmap")

    // collapsed component structure (r14: one giant gram-entangled
    // block, Σ|block|² ≈ corpus²): a zero pair budget forces the
    // prefix-candidate + streamed-array-verify fallback — same rows
    val prefixVerify = Dedup.containmentPairs(arrs, "doc_id", 3, 4,
        denseUniverseMax = 16L, blockPairBudget = 0L)
      .select("src", "dst", "n_src", "n_shared", "containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(prefixVerify == bitmap,
      s"prefixVerify=$prefixVerify bitmap=$bitmap")
  }

  test("Jaccard dense tiers equal the prefix-filter path (full rows)") {
    // ngramJaccardPairs' dense-universe router (r16): both bitmap
    // tiers — broadcast pair scan and component-blocked salted scan —
    // must reproduce the prefix+verify path's rows EXACTLY, jaccard
    // double included (same i / (na + nb − i) expression).
    val rnd = new scala.util.Random(17)
    val base = Seq.fill(40)(
      Seq.fill(60)(('a' + rnd.nextInt(5)).toChar).mkString)
    val texts = base.zipWithIndex.map { case (t, i) =>
      if (i % 4 == 1) base(i - 1).substring(0, 45) + t.substring(45) else t
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val arrs = TextAnalysis.gramArrays(rows, "doc_id", "text", 4)
    def pairs(denseMax: Long, maxDocs: Long) =
      Dedup.ngramJaccardPairs(arrs, "doc_id", 2, 5,
        denseUniverseMax = denseMax, pairScanMaxDocs = maxDocs)
    def values(df: DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val prefix = values(pairs(0L, Long.MaxValue))    // force prefix path
    val scanPairs = pairs(Long.MaxValue, Long.MaxValue) // broadcast pair scan
    assertBitmapRoute(scanPairs, blocked = false)
    val scan = values(scanPairs)
    val blockedPairs = pairs(Long.MaxValue, 0L)    // component-blocked scan
    assertBitmapRoute(blockedPairs, blocked = true)
    val blocked = values(blockedPairs)
    assert(scan.nonEmpty, "fixture must plant qualifying pairs")
    assert(scan == prefix, s"scan=$scan prefix=$prefix")
    assert(blocked == prefix, s"blocked=$blocked prefix=$prefix")
  }

  test("Jaccard dense-but-wide corpus stays on the prefix path (measured decision)") {
    // r17: the sorted-array blocked tier was built for this regime and
    // REJECTED on its own sweep (BENCH_AB_r17.md: 33× slower than
    // prefix at 10k docs — Jaccard's symmetric size + count
    // filters keep prefix alive where containment's asymmetric filter
    // detonates). This pins the measured routing decision: a dense
    // corpus whose universe exceeds the bitmap cap must take the
    // prefix plan — no merge-intersect, no bitmap scan — and still
    // produce the same rows as an uncapped (bitmap-tier) run.
    val rnd = new scala.util.Random(43)
    val base = Seq.fill(100)(
      Seq.fill(80)(('a' + rnd.nextInt(4)).toChar).mkString)
    val texts = base.zipWithIndex.map { case (t, i) =>
      if (i % 4 == 1) base(i - 1).substring(0, 60) + t.substring(60) else t
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val arrs = TextAnalysis.gramArrays(rows, "doc_id", "text", 4)
    val capped = Dedup.ngramJaccardPairs(arrs, "doc_id", 2, 5,
      denseUniverseMax = 16L)
    val plan = capped.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("sortedintersect") && !plan.contains("bitmap"),
      "dense-but-wide corpus must fall through to the prefix path")
    val prefix = capped.as[(Long, Long, Double)].collect().toSet
    val bitmap = Dedup.ngramJaccardPairs(arrs, "doc_id", 2, 5,
        denseUniverseMax = Long.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(prefix.nonEmpty, "fixture must plant qualifying pairs")
    assert(prefix == bitmap, s"prefix=$prefix bitmap=$bitmap")
  }
}
