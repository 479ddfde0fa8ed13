package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Dev-only measurement main for PLANS.md's score-recall table (r11
  * verdict task 7): prints, per corpus dir given on the command line,
  * the SAMPLED SCORE RECALL each production ANN path's in-plan gate
  * actually measures — same 8-query md5 sample, same brute baseline,
  * same quant6 mass ratio as [[Similarity.sampledRecallFrame]] — so
  * the committed table rows are the gate's own numbers, not a
  * parallel metric that could drift from it.
  *
  * Usage: graft.RecallTable <dir> [<dir> ...]   (e.g. sf0.01 sf0.1
  * /tmp/sf100). Run AFTER any bench — it shares the box.
  */
object RecallTable {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    graft.functions.VectorOps.ensureRegistered(spark)
    println(f"${"dir"}%-18s ${"method"}%-12s ${"n_vecs"}%8s  score_recall")
    for (dir <- args) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val n = emb.count()
      // the gate's exact sample: md5-chosen 8 of the standard batch
      val sample = Similarity.defaultQueries(emb)
        .orderBy(md5(concat(lit("anngate"), col("vec_id").cast("string"))),
          col("vec_id"))
        .limit(8)
        .localCheckpoint()
      val brute = Similarity.bruteForce(emb, sample).localCheckpoint()
      val cent = Similarity.seedCentroids(emb)
      val methods: Seq[(String, () => DataFrame)] = Seq(
        "ann_ivf_sq8" -> (() => Similarity.ivfSq8Search(emb, cent, sample)),
        "ann_pq" -> (() => Similarity.pqSearch(emb, sample)),
        "ann_ivf_pq" -> (() => Similarity.ivfPqSearch(emb, cent, sample)))
      for ((name, search) <- methods) {
        val r = Similarity.sampledRecallFrame(brute, search(), name)
          .select("score_recall").head.getDouble(0)
        println(f"$dir%-18s $name%-12s $n%8d  $r%.6f")
      }
    }
    spark.stop()
  }
}
