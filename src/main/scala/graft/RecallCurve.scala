package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Measured recall-vs-K curve for the IVF family on the ×copies
  * stress corpus — the data behind PLANS.md's "K≈√N with k-means
  * refinement" guidance, as a RUNNABLE artifact instead of prose.
  *
  * For each (K, nProbe, refined) point: seed K md5-order centroids
  * (optionally one Lloyd refinement step), run the SAME
  * `Similarity.ivfSearch` stage the oracle-checked query uses, and
  * report recall@5 against the exact brute-force baseline on the same
  * corpus. The grid holds the probed CELL COUNT and the probed
  * FRACTION (nProbe/K) comparable across K, so the table separates
  * "probing fewer vectors" from "probing finer cells":
  * at a fixed fraction, larger K partitions the space finer and a
  * probed vector is likelier to be a true neighbor.
  *
  * Run: dev/recall.sh  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_STRESS_COPIES). ScaleSpec exercises the same K=16/K=64
  * code paths at sf0.001 on every test run; this main adds the
  * at-scale measurement.
  */
object RecallCurve {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "10").toInt
    val spark = Session.local()
    graft.functions.VectorOps.ensureRegistered(spark)
    val dir = Stress.buildStressCorpus(spark, sfDir, copies)

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val n = emb.count()
    val queries = Similarity.defaultQueries(emb)
    val exact = Similarity.bruteForce(emb, queries)
      .select(col("query_id"), col("neighbor_id")).cache()
    val nExact = exact.count()

    // (K, nProbe): 4/16 is the shipped ann_ivf point; 4/64 holds the
    // probed CELL COUNT (cost per probe shrinks with the cell); 16/64
    // holds the probed FRACTION (same vectors scanned, finer cells)
    val grid = Seq((16, 4), (64, 4), (64, 16))
    println(f"${"K"}%4s ${"nProbe"}%7s ${"frac"}%6s ${"refined"}%8s ${"recall@5"}%9s")
    val rows = grid.flatMap { case (k, np) =>
      val seed = Similarity.seedCentroids(emb, k)
      Seq(false, true).map { refined =>
        val cent = if (refined) Similarity.refineCentroids(emb, seed, 1) else seed
        val approx = Similarity.ivfSearch(emb, cent, queries, np)
          .select(col("query_id"), col("neighbor_id"))
        val hit = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
        val recall = hit.toDouble / nExact
        println(f"$k%4d $np%7d ${np.toDouble / k}%6.3f $refined%8b $recall%9.3f")
        s"""{"k":$k,"n_probe":$np,"refined":$refined,"recall5":$recall}"""
      }
    }
    println(s"""{"metric":"ivf_recall_curve","n_vectors":$n,"n_exact":$nExact,""" +
      s""""copies":$copies,"sf":"$sfDir","points":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
