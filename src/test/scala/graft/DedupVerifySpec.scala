package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The array-based exact-Jaccard verify ([[Dedup.verifiedPairs]]: one
  * distinct shingle-key array per candidate doc, `size(array_intersect)`
  * per pair) against the exploded definition it replaced — distinct
  * (doc_id, shingle key) rows, a per-pair self-join counted for
  * n_common, per-doc counts for the set sizes — on docs that stress the
  * set semantics. */
class DedupVerifySpec extends SparkSuite {

  private val words = (1 to 14).map(i => s"w$i")
  private val docs = Seq(
    // 10 tokens, 6 shingle positions, 5 DISTINCT shingles (the first repeats)
    1L -> "a b c d e a b c d e",
    // the same 5 distinct shingles at 5 positions: jaccard 1.0 as sets
    2L -> "a b c d e a b c d",
    // shorter than ShingleLen: one shingle of all tokens each
    3L -> "x y",
    4L -> "x y",
    10L -> "x y z",
    // identical texts
    5L -> "p q r s t u v",
    6L -> "p q r s t u v",
    // 14 distinct tokens = 10 shingles; its 11-token prefix holds 7 of
    // them: jaccard exactly 7 / 10 = 0.7, on the threshold
    7L -> words.mkString(" "),
    8L -> words.take(11).mkString(" "),
    // 6 of doc 7's 10 shingles (0.6, dropped) and of doc 8's 7 (6 / 7)
    9L -> words.take(10).mkString(" "))

  private def tok(): DataFrame = {
    import spark.implicits._
    graft.functions.VecExpressions.register(spark)
    docs.toDF("doc_id", "text").withColumn("tk", split(col("text"), " ")).drop("text")
  }

  private def allPairs(): DataFrame = {
    import spark.implicits._
    (for ((a, _) <- docs; (b, _) <- docs if a < b) yield (a, b)).toDF("da", "db")
  }

  /** The former explode / self-join / count definition. */
  private def reference(cand: DataFrame, tk: DataFrame): DataFrame = {
    val sh = tk.select(col("doc_id"), explode(expr(Dedup.shingleKeysTransform)).as("w"))
      .distinct()
    val ns = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("sa.doc_id") === col("da"))
      .join(sh.as("sb"), col("sb.doc_id") === col("db") && col("sb.w") === col("sa.w"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("n_common"))
    val jac = col("n_common").cast("double") / (col("na.n") + col("nb.n") - col("n_common"))
    inter
      .join(ns.as("na"), col("na.doc_id") === col("da"))
      .join(ns.as("nb"), col("nb.doc_id") === col("db"))
      .filter(jac >= 0.7)
      .select(col("da"), col("db"), col("n_common").cast("long").as("n_common"),
        graft.functions.Portable.quant6(jac).as("jaccard"))
  }

  private def rows(df: DataFrame) =
    df.select("da", "db", "n_common", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("array verify yields the exploded self-join's pairs, counts and jaccards") {
    val got = rows(Dedup.verifiedPairs(allPairs(), tok()))
    assert(got === rows(reference(allPairs(), tok())))
    assert(got === Set(
      (1L, 2L, 5L, 1.0), // the repeated shingle counts once
      (3L, 4L, 1L, 1.0),
      (5L, 6L, 3L, 1.0),
      (7L, 8L, 7L, 0.7), // exactly on the threshold: kept
      (8L, 9L, 6L, 0.857142)))
  }

  test("a candidate pair listed more than once is scored once") {
    val twice = allPairs().unionByName(allPairs())
    assert(Dedup.verifiedPairs(twice, tok()).count() ===
      Dedup.verifiedPairs(allPairs(), tok()).count())
  }

  test("array verify keeps the candidate relation's extra columns") {
    val cand = allPairs().withColumn("da_is_new", col("da") > 4L)
    val got = Dedup.verifiedPairs(cand, tok())
    assert(got.columns.toSeq === Seq("da", "db", "da_is_new", "n_common", "jaccard"))
    assert(got.select("da", "da_is_new").collect()
      .forall(r => r.getBoolean(1) == (r.getLong(0) > 4L)))
  }
}
