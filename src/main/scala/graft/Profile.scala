package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level timing probe for the bench hotspots: times each
  * sub-plan of a query in isolation (count() actions) so regressions
  * localize to a stage instead of a whole query.
  *
  * Usage: runMain graft.Profile [sfDir]
  */
object Profile {
  private def time(name: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.2fs  rows=$n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Dedup, TextAnalysis}
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    docs.limit(1).count() // warm the scan
    spark.range(1 << 18).selectExpr("id % 97 as k").groupBy("k").count().count()

    time("tokens+tf") {
      graft.core.Spread.ifNarrow(docs)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")).count()
    }
    time("tfidf full") {
      TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3).count()
    }
    val grams = TextAnalysis.gramArrays(docs, "doc_id", "text", 5)
    time("gramArrays") { grams.count() }
    val gramsCp = grams.localCheckpoint(true)
    time("explode+md5hash") {
      gramsCp.select(col("doc_id"), explode(col("grams")).as("gram"))
        .select(col("doc_id"), (Dedup.baseHash(col("gram")) % Dedup.P).as("h"))
        .agg(sum("h")).count()
    }
    time("minhash sigs") { Dedup.minhashSignatures(gramsCp, "doc_id").count() }
    time("minhash sigs again") { Dedup.minhashSignatures(gramsCp, "doc_id").count() }
    val banded = Dedup.bandedSignatures(gramsCp, "doc_id")
    time("banded sigs") { banded.count() }
    time("cands join+distinct") {
      val l = banded.select(col("id").as("doc_a"), col("band"), col("bh"))
      val r = banded.select(col("id").as("doc_b"), col("band"), col("bh"))
      l.join(r, Seq("band", "bh")).where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
    }
    time("minhash pairs full") {
      Dedup.minhashPairs(gramsCp, "doc_id", 3, 5).count()
    }
    spark.sqlContext.clearCache(); System.gc()
    time("minhash pairs again") {
      Dedup.minhashPairs(gramsCp, "doc_id", 3, 5).count()
    }
    // ---- q_dedup_keep_quality / q_golden_record front (r17 §8) ----
    // Both queries ride minhashPairs + connectedComponents and then do
    // member-sized work; keep_quality adds lmScore's corpus-wide model
    // pass (the oracle's definition — corpus-wide ctf/tot). These
    // probes decompose the fronts so the residual past the (already
    // counter-measured) minhash front is visible.
    locally {
      val pairs = Dedup.minhashPairs(gramsCp, "doc_id", 3, 5)
        .localCheckpoint(true)
      time("kq: minhash pairs") { pairs.count() }
      time("kq: conn components") {
        Dedup.connectedComponents(pairs, "doc_a", "doc_b").count()
      }
      time("kq: lmScore full corpus") {
        TextAnalysis.lmScore(docs, "doc_id", "text").count()
      }
      val members = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id")).localCheckpoint(true)
      time("kq: lmScore members-only") {
        TextAnalysis.lmScore(docs, "doc_id", "text",
          scoreIds = Some(members)).count()
      }
    }
    spark.stop()
  }
}
