package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dedup/ANN stress harness — the PLANS.md "10× documents, 90%
  * near-duplicates" check as a RUNNABLE artifact instead of prose.
  *
  * Builds a worst-case dedup corpus from the base sf dir: every
  * document and embedding is tiled `SPARK_GRAFT_STRESS_COPIES` (10)
  * times with a small deterministic perturbation, so ~90% of the
  * corpus is a near-duplicate of something. Runs the dedup/similarity
  * family on BOTH corpora and prints per-query seconds + output rows.
  *
  * The claim under test (SURVEY.md §5): candidate GENERATION stays
  * keyed-shuffle linear in the corpus — only verified-pair OUTPUT
  * grows with the true duplicate mass, which no algorithm avoids. A
  * super-linear blow-up in a non-pair query here means a hot bucket
  * or an accidental cross join.
  *
  * Run: dev/stress.sh  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_STRESS_COPIES)
  */
object Stress {

  private val StressQueries = Seq(
    "dedup_exact", "dedup_simhash", "dedup_minhash", "dedup_incremental", "dedup_clusters",
    "text_ngram_jaccard", "text_ppjoin", "text_substring_dedup", "text_tokens", "text_quality",
    "ann_lsh", "ann_ivf", "ann_ivf_sq8", "ann_ivf_pq", "ann_quantized", "ann_pq", "ann_bruteforce",
    "dedup_embed", "dedup_semantic",
    // the composite corpus gate (documents) and the behavioral layer
    // (events): everything here must scale ~linearly in its input —
    // all shuffles are keyed on user/doc, every low-cardinality window
    // runs over an already-aggregated tiny table (the events_growth
    // rule), so ×10 input should cost ~×10, never ×100
    "corpus_keep",
    "sessionize", "events_growth", "cohort_retention", "funnel_steps",
    "events_wau", "user_streaks", "event_transitions",
    // round-6 corpus transforms: line dedup and the masking preview
    // scale with the token stream; BPE is VOCABULARY-shaped — tiling
    // documents ×10 multiplies token counts but barely grows the
    // distinct-word vocabulary, so the merge rounds should cost
    // nearly the same and only the vocab aggregation pays the ×10
    "text_line_dedup", "span_corrupt", "bpe_merges")

  /** The worst-case ×copies corpus (shared with [[RecallCurve]]):
    * every document and embedding tiled `copies` times with a small
    * deterministic perturbation. Returns the temp sf-dir. */
  private[graft] def buildStressCorpus(
      spark: SparkSession, sfDir: String, copies: Int): String = {
    val stressDir = java.nio.file.Files.createTempDirectory("graft_stress").toString
    val cp = spark.range(copies).select(col("id").cast("int").as("cp"))

    // documents ×copies: copy 0 verbatim; copies 1.. get a one-token
    // suffix — jaccard vs the original stays >> the 0.7 threshold, so
    // every 10-copy cluster must produce C(10,2) verified pairs
    spark.read.parquet(s"$sfDir/documents.parquet")
      .crossJoin(broadcast(cp))
      .select(
        (col("doc_id") * copies + col("cp")).as("doc_id"),
        when(col("cp") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" stresscopy"), col("cp"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$stressDir/documents.parquet")

    // embeddings ×copies: tiny first-component nudge keeps cosine ≈ 1
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .crossJoin(broadcast(cp))
      .select(
        (col("vec_id") * copies + col("cp")).as("vec_id"),
        expr("transform(embedding, (x, j) -> CAST(x + CASE WHEN j = 0 THEN cp * 0.001 ELSE 0.0 END AS FLOAT))")
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$stressDir/embeddings.parquet")

    // events ×copies for the behavioral layer: user_id remapped per
    // copy (×copies users, each keeping the original's exact event
    // series) — "more users, same shape", the scaling a growing
    // product actually sees. ts stays the RAW nanos long (read with
    // nanosAsLong, written as plain INT64) — Tables.events' `div 1000`
    // conversion reads either encoding identically.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet")
      .crossJoin(broadcast(cp))
      .select(
        (col("event_id") * copies + col("cp")).as("event_id"),
        col("ts"),
        (col("user_id") * copies + col("cp")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$stressDir/events.parquet")
    stressDir
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "10").toInt
    val spark = Session.local()
    val stressDir = buildStressCorpus(spark, sfDir, copies)

    def runOnce(name: String, dir: String): (Double, Long) = {
      spark.sharedState.cacheManager.clearCache()
      // plan building INSIDE the clock: iterative operators
      // (dedup_clusters) materialize checkpoints while constructing
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir).persist()
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = df.count() // cached — rows reported off the clock
      df.unpersist()
      (sec, rows)
    }

    // Bench's methodology: min of two timed runs per (query, corpus).
    // Single-run stress timings have been observed to swing 4× on this
    // box (VM host noise) — a ratio computed from two single samples
    // is not evidence. The first run doubles as the JIT warm-up.
    def run(name: String, dir: String): (Double, Long) = {
      val (s1, rows) = runOnce(name, dir)
      val (s2, _) = runOnce(name, dir)
      (math.min(s1, s2), rows)
    }

    // one untimed query to take JVM/codegen warm-up off the first row
    SparkEntry.queries("text_tokens")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    println(f"${"query"}%-20s ${"base_s"}%8s ${"stress_s"}%9s ${"ratio"}%6s ${"base_rows"}%10s ${"stress_rows"}%12s")
    val results = StressQueries.map { name =>
      val (bSec, bRows) = run(name, sfDir)
      val (sSec, sRows) = run(name, stressDir)
      println(f"$name%-20s $bSec%8.2f $sSec%9.2f ${sSec / bSec}%6.1f $bRows%10d $sRows%12d")
      (name, bSec, sSec, bRows, sRows)
    }
    val qs = results.map { case (n, b, s, br, sr) =>
      s""""$n":{"base_sec":$b,"stress_sec":$s,"base_rows":$br,"stress_rows":$sr}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stress","copies":$copies,"sf":"$sfDir","queries":$qs}""")
    spark.stop()
  }
}
