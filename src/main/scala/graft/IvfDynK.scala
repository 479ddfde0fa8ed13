package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured evidence for the persisted IVF index at the PRODUCTION
  * centroid count K = dynCentroids(N) with two-level assignment:
  * every oracle-checked IVF seat runs the fixed harness K=16, where
  * probing 4-12 of 16 cells reads 25-75% of the corpus — declared
  * scaffolding, not the 100 TB plan. This main runs the REAL shape,
  * since r15 in a 2×2: {random ScaleUp tiles, clustered fixture} ×
  * {unrefined seed centroids, Lloyd-refined via
  * refineCentroidsTwoLevel} (r14 verdict task 1 — the unrefined
  * measurement showed 6.0× occupancy skew and recall@5 ≤ 0.43, and
  * refineCentroids existed unexercised at dyn K; the clustered
  * fixture is the SemDeDup regime random tiles cannot exhibit, so
  * the "real embeddings behave better" claim is measured here, not
  * asserted). Per corpus × build it reports
  *  - build wall time (plus flat-assignment build on the random
  *    corpus — the two-level routing's measured win);
  *  - cell-occupancy stats from the persisted layout (cells, mean,
  *    max, p99, skew = max·K/N — the `ann_cell_census` gate metric:
  *    a hot cell is a probe straggler);
  *  - search wall + recall@5 vs brute force at a probed-fraction
  *    ladder (~1%, ~5%, ~10% of cells);
  *  - the fixed-K=16 index at its shipped nProbe=10 as the baseline.
  * Prints one JSON line. Run: dev/ivf_dynk.sh (materializes the tile
  * set via graft.ScaleUp if absent, then this main).
  */
object IvfDynK {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val spark = Session.local()
    graft.functions.VectorOps.ensureRegistered(spark)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val n = emb.count()
    // clustered twin at the same scale: ~200-member clusters — the
    // SemDeDup regime (clusters ≫ cellSize, several cells tile one
    // cluster) and the hard NEAR-TIE case for the coarse scan (a
    // query has ~200 candidates within ~2% cosine), noise 0.25 keeps
    // clusters tight but overlapping
    val clustered = ClusteredFixture
      .generate(spark, n, clusters = math.max(16, (n / 200).toInt))
      .select(col("vec_id"), col("v")).cache()
    clustered.count()

    val k = Similarity.dynCentroids(n)
    val g = Similarity.dynCoarse(k)
    System.err.println(s"[ivfdynk] n=$n K=$k g=$g sf=$sfDir")
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_dynk").toString

    def occupancyJson(path: String): (String, Double) = {
      val occ = spark.read.parquet(s"$path/cells")
        .groupBy(col("cid")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("cells"), sum(col("c")).as("total"),
          max(col("c")).as("mx"), min(col("c")).as("mn"),
          expr("percentile(c, 0.99)").as("p99"))
        .head()
      val cells = occ.getAs[Long]("cells")
      require(occ.getAs[Long]("total") == n,
        s"cell layout lost vectors: ${occ.getAs[Long]("total")} of $n")
      val skew = occ.getAs[Long]("mx").toDouble * cells / n
      (f"""{"cells":$cells,"mean":${n.toDouble / math.max(cells, 1)}%.1f,""" +
        f""""max":${occ.getAs[Long]("mx")},"p99":${occ.getAs[Double]("p99")}%.1f,""" +
        f""""skew_max_x":$skew%.2f}""", skew)
    }

    def measure(path: String, corpus: DataFrame, queries: DataFrame,
        exact: DataFrame, nExact: Long, nProbe: Int, rerankK: Int): String = {
      def run() = Similarity.searchIvfIndex(spark, path, corpus, queries, nProbe,
        rerankK = rerankK)
      try {
        run().write.format("noop").mode("overwrite").save() // warm
        val (_, s1) = timed(run().write.format("noop").mode("overwrite").save())
        val (_, s2) = timed(run().write.format("noop").mode("overwrite").save())
        val sec = math.min(s1, s2)
        val hit = run().select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
        val recall = hit.toDouble / nExact
        System.err.println(
          f"[ivfdynk] $path nProbe=$nProbe rk=$rerankK sec=$sec%.2f recall@5=$recall%.3f")
        f"""{"n_probe":$nProbe,"rerank_k":$rerankK,"sec":$sec%.2f,"recall5":$recall%.4f}"""
      } catch {
        // the search's own sampled score-recall gate aborting IS a
        // result at an aggressive nProbe — record it, don't die
        case e: Throwable =>
          System.err.println(s"[ivfdynk] $path nProbe=$nProbe rk=$rerankK GATED: ${e.getMessage}")
          s"""{"n_probe":$nProbe,"rerank_k":$rerankK,"gated":true}"""
      }
    }

    // probed-fraction ladder (~1%, ~5%, ~10% of cells) × rerank width
    // (the shipped 4·k cut vs the production 128 — the r15 finding:
    // width, not probes, is the recall lever on clustered corpora)
    val probes = Seq(math.max(4, k / 100), math.max(8, k / 20), math.max(16, k / 10)).distinct
    val rerankWidths = Seq(20, 128)

    def corpusReport(name: String, corpus: DataFrame): String = {
      val cent = Similarity.seedCentroids(corpus, k)
      val queries = Similarity.defaultQueries(corpus).cache()
      queries.count()
      val exact = Similarity.bruteForce(corpus, queries)
        .select(col("query_id"), col("neighbor_id")).cache()
      val nExact = exact.count()
      val builds = Seq(
        ("unrefined", 0),
        ("refined", 2)) // 2 Lloyd steps — the refineCentroids(…, 2) precedent
      val buildJson = builds.map { case (bname, iters) =>
        val path = s"$root/${name}_$bname"
        val (_, buildSec) = timed {
          Similarity.buildIvfIndex(corpus, cent, path,
            twoLevel = Some((k, g)), refineIters = iters)
        }
        val (occJson, skew) = occupancyJson(path)
        System.err.println(
          f"[ivfdynk] $name/$bname build $buildSec%.1fs skew_max ${skew}%.2fx")
        val points = for (rk <- rerankWidths; p <- probes)
          yield measure(path, corpus, queries, exact, nExact, p, rk)
        s""""$bname":{"iters":$iters,"build_sec":${f"$buildSec%.1f"},""" +
          s""""occupancy":$occJson,"points":[${points.mkString(",")}]}"""
      }
      s""""$name":{${buildJson.mkString(",")}}"""
    }

    val randomReport = corpusReport("random_tiles", emb)
    val clusteredReport = corpusReport("clustered", clustered)

    // reference points on the random corpus: flat-assignment build
    // cost at dyn K (the two-level routing's counterfactual), and the
    // shipped fixed-K=16 index at its harness nProbe=10 — at 10/16
    // cells it scans 62% of the corpus, which is why K must grow with N
    val (_, buildFlatSec) = timed {
      Similarity.buildIvfIndex(emb, Similarity.seedCentroids(emb, k), s"$root/flat")
    }
    val queries = Similarity.defaultQueries(emb).cache()
    val exact = Similarity.bruteForce(emb, queries)
      .select(col("query_id"), col("neighbor_id")).cache()
    val nExact = exact.count()
    Similarity.buildIvfIndex(emb, Similarity.seedCentroids(emb), s"$root/k16")
    val basePoint = measure(s"$root/k16", emb, queries, exact, nExact, 10, 20)

    println(
      s"""{"metric":"ivf_dynk","sf":"$sfDir","n_vectors":$n,"k":$k,"coarse_g":$g,""" +
        f""""build_flat_sec":$buildFlatSec%.1f,"corpora":{$randomReport,$clusteredReport},""" +
        s""""k16_baseline":$basePoint}""")
    spark.stop()
  }
}
