package graft

import graft.functions.Gates
import org.apache.spark.sql.functions._

/** r9 verdict #3 — the audit queries must ENFORCE their floors, not
  * just report: each gate is part of the returned plan (assert_true
  * filter), so a degraded detector turns every execution of the audit
  * into a failed job. These specs force the degradation through the
  * IDENTICAL gated tails the production queries call and prove the
  * job dies with the gate's message — and that healthy inputs pass
  * through with values unchanged. */
class GatesSpec extends SparkSuite {

  /** assert_true failures surface wrapped in task/job exceptions —
    * search the whole cause chain for the gate message. */
  private def gateMessage(t: Throwable): String = {
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
  }

  private def firesWith(msgPart: String)(body: => Unit): Unit = {
    val ex = intercept[Throwable](body)
    assert(gateMessage(ex).contains(msgPart),
      s"expected a gate failure mentioning '$msgPart', got: ${gateMessage(ex)}")
  }

  test("Gates.floors passes rows unchanged at floor, aborts the job below it") {
    import spark.implicits._
    val ok = Seq((10L, 0.9)).toDF("n", "score")
    val gated = Gates.floors(ok,
      (col("score") >= 0.5, Gates.msg("t", "score", 0.5, col("score"))))
    assert(gated.columns.toSeq === Seq("n", "score"), "gate must not change the schema")
    assert(gated.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((10L, 0.9)))
    firesWith("score below floor 0.5, got 0.2") {
      Gates.floors(Seq((10L, 0.2)).toDF("n", "score"),
        (col("score") >= 0.5, Gates.msg("t", "score", 0.5, col("score")))).collect()
    }
  }

  test("semantic_assign_audit: high-regret two-level routing kills the job") {
    import spark.implicits._
    // 100 vectors; the flat (exact) assignment says cid = id % 7 with
    // a best-centroid cosine of 0.8
    val flat = (0L until 100L).map(i => (i, i % 7, 0.8))
      .toDF("vec_id", "cid_flat", "score_flat")
    // BROKEN routing: 60% of vectors land in a far-away cell (cosine
    // 0.3) — mean regret 0.6 * (0.8 - 0.3) = 0.3, above the 0.2
    // ceiling. This is what a bug pays: the full cosine gap to a
    // wrong region, not a near-tie.
    val broken = (0L until 100L)
      .map(i => if (i % 10 < 4) (i, i % 7, 0.8) else (i, (i % 7) + 100, 0.3))
      .toDF("vec_id", "cid_two", "score_two")
    firesWith("two-level routing regret above ceiling 0.2, got 0.3") {
      graft.operators.Similarity.assignAgreementFrame(flat, broken).collect()
    }
    // HEALTHY approximate routing at scale: exact-cell agreement can
    // be low (here 40% — K grows with N, so near-tie cells proliferate
    // and the probed subset misses the argmax while finding an
    // almost-as-good cell) but the regret is tiny — this must PASS,
    // with agreement still reported as the diagnostic. (The r10
    // full-suite sweep died at sf0.1 on exactly this shape under the
    // old fixed agreement floor: 0.475 agreement, healthy regret.)
    val healthy = (0L until 100L)
      .map(i => if (i % 10 < 4) (i, i % 7, 0.8) else (i, (i % 7) + 100, 0.79))
      .toDF("vec_id", "cid_two", "score_two")
    val row = graft.operators.Similarity.assignAgreementFrame(flat, healthy).head
    assert(row.getAs[Long]("n_vecs") === 100L)
    assert(row.getAs[Long]("n_agree") === 40L)
    assert(row.getAs[Double]("agreement") === 0.4)
    assert(row.getAs[Double]("mean_regret") === 0.006)
  }

  test("ann_audit: a dead candidate stage kills the job") {
    import spark.implicits._
    val queries = (0L until 5L).toDF("query_id")
    val brute = (for (q <- 0L until 5L; n <- 1L to 5L) yield (q, q * 10 + n))
      .toDF("query_id", "neighbor_id")
    // degraded search: only 1 of 25 exact neighbors found — recall 0.04
    val dead = Seq((0L, 1L)).toDF("query_id", "neighbor_id")
    firesWith("LSH recall@k below floor 0.3, got 0.04") {
      graft.operators.Similarity.annAuditFrame(queries, brute, dead).collect()
    }
    // perfect search passes with recall 1.0
    val row = graft.operators.Similarity.annAuditFrame(queries, brute, brute).head
    assert(row.getAs[Long]("n_hits") === 25L)
    assert(row.getAs[Double]("recall") === 1.0)
  }

  test("production ANN searches: collapsed sampled score recall kills the job") {
    import spark.implicits._
    // the gated frame the three quantized production paths embed
    // (sampledRecallFrame rides ann_pq / ann_ivf_sq8 / ann_ivf_pq and
    // both persisted-index searches). The metric is SCORE recall —
    // exact-cosine mass of the returned rows over the brute top-k's —
    // because id-recall is scale-unstable for fixed code budgets (the
    // first r11 100× sweep false-fired on exactly that).
    val brute = (for (q <- 0L until 8L; n <- 1L to 5L)
      yield (q, q * 10 + n, n, 0.9)).toDF("query_id", "neighbor_id", "rank", "score")
    // BROKEN candidate routing: the returned neighbors are random-pair
    // quality (exact cosine ≈ 0.02) instead of near-top — score mass
    // 0.02/0.9 ≈ 0.022 of brute's, far under the 0.3 collapse floor
    val deadRouting = brute.withColumn("score", lit(0.02))
    firesWith("sampled score recall@5 below floor 0.3, got 0.022") {
      graft.operators.Similarity.sampledRecallFrame(brute, deadRouting, "ann_pq").collect()
    }
    // a healthy approximate side passes even when its IDS differ, as
    // long as the returned neighbors' exact scores carry the mass —
    // the scale behavior the metric exists to tolerate (different ids,
    // near-equal cosine: 0.85/0.9 ≈ 0.944)
    val differentIdsNearScores = brute
      .withColumn("neighbor_id", col("neighbor_id") + 1000L)
      .withColumn("score", lit(0.85))
    val row = graft.operators.Similarity
      .sampledRecallFrame(brute, differentIdsNearScores, "ann_pq").head
    assert(row.getAs[Long]("n_baseline") === 40L)
    assert(row.getAs[Double]("score_recall") === 0.944444)
    // …and an empty query batch is "nothing to audit", not a failure
    val none = graft.operators.Similarity
      .sampledRecallFrame(brute.limit(0), brute.limit(0), "ann_pq").head
    assert(none.getAs[Long]("n_baseline") === 0L)
    // the sq8 seats' RAISED floor (r16 — the production rerank width
    // lifted the healthy band, so their collapse detector tightened
    // with it): a degradation that would slip past the PQ paths' 0.3
    // floor still kills the sq8 plan at SqGateFloor = 0.6
    val halfDead = brute.withColumn("score", lit(0.45)) // 0.45/0.9 = 0.5
    firesWith("sampled score recall@5 below floor 0.6, got 0.5") {
      graft.operators.Similarity.sampledRecallFrame(
        brute, halfDead, "ann_ivf_sq8", graft.operators.Similarity.SqGateFloor).collect()
    }
    // end-to-end: the gate rides the production query's RETURNED plan
    // (schema and rows byte-identical to the ungated form is asserted
    // by the driver's hash check; here: the gate columns must not leak)
    val got = SparkEntry.queries("ann_pq")(spark, sf0001)
    assert(got.columns.toSeq === Seq("query_id", "neighbor_id", "rank", "score"))
  }

  test("dedup_audit: a false positive OR a dead detector kills the job") {
    import spark.implicits._
    val sample = (0L until 10L).toDF("doc_id")
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("da", "db")
    // detector reports a pair that is NOT a true duplicate — the
    // structural precision=1 property is broken, a pipeline bug
    val falsePos = Seq((1L, 2L), (5L, 6L)).toDF("da", "db")
    firesWith("precision below floor 1.0, got 0.5") {
      graft.operators.Dedup.dedupAuditFrame(sample, truth, falsePos).collect()
    }
    // dead detector: nothing found with truth present — recall 0
    val dead = truth.limit(0)
    firesWith("recall below floor 0.5, got 0.0") {
      graft.operators.Dedup.dedupAuditFrame(sample, truth, dead).collect()
    }
    // healthy detector passes with both metrics exact
    val row = graft.operators.Dedup.dedupAuditFrame(sample, truth, truth).head
    assert(row.getAs[Double]("precision") === 1.0)
    assert(row.getAs[Double]("recall") === 1.0)
    // empty audit universe (no truth pairs, nothing detected) is
    // "nothing to audit", not a failure
    val none = graft.operators.Dedup.dedupAuditFrame(sample, truth.limit(0), dead).head
    assert(none.getAs[Long]("n_truth_pairs") === 0L)
  }

  test("gated ANN searches are per-query independent: the batch result on the gate sample equals the sample's search") {
    // the recall gate takes its approximate side from the search
    // result restricted to the sampled query ids; that is exact only
    // because each of these paths answers a query independently of
    // the rest of its batch
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    graft.functions.VectorOps.ensureRegistered(spark)
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).cache()
    val queries = Similarity.defaultQueries(emb)
    val sample = Similarity.gateSample(queries)
    val cent = Similarity.seedCentroids(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_pq").toString
    Similarity.buildPqIndex(emb, dir)
    val searches: Seq[(String, DataFrame => DataFrame)] = Seq(
      "pqSearch" -> (q => Similarity.pqSearch(emb, q)),
      "searchPqIndex" -> (q => Similarity.searchPqIndex(spark, dir, emb, q)),
      "ivfSq8Search" -> (q => Similarity.ivfSq8Search(emb, cent, q)),
      "ivfPqSearch" -> (q => Similarity.ivfPqSearch(emb, cent, q)))
    def rows(df: DataFrame) = df.orderBy("query_id", "rank").collect().toSeq
    val ids = sample.select(col("vec_id").as("query_id"))
    searches.foreach { case (name, search) =>
      val restricted = rows(search(queries).join(ids, Seq("query_id"), "left_semi"))
      assert(restricted.map(_.getAs[Long]("query_id")).distinct.size ===
        Similarity.GateSampleQ, s"$name: the sample's queries must all be answered")
      assert(restricted === rows(search(sample)),
        s"$name: the batch search restricted to the sample differs from the sample's search")
    }
    emb.unpersist()
  }

  test("a warm ann_pq call runs no parquet schema-inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val annPq = SparkEntry.queries("ann_pq")
    annPq(spark, sf0001).collect() // cold: builds (or finds) the staged index
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        j.stageInfos.foreach(s => sites.add(s.name))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      annPq(spark, sf0001).collect()
      org.apache.spark.ListenerBusProbe.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!sites.isEmpty, "the probe saw no job at all")
    val schemaJobs = sites.toArray.map(_.toString)
      .filter(_.startsWith("parquet at Similarity.scala"))
    assert(schemaJobs.isEmpty,
      s"the staged index must be read with its written schema: ${schemaJobs.mkString(", ")}")
    // the warm job count of this call at commit 0025c09 (sf0.001, this
    // suite's local[4] session), before the ANN searches shared one
    // search spine: serving the staged index must not take more jobs
    val parentWarmJobs = 14
    assert(jobs.get <= parentWarmJobs,
      s"a warm ann_pq call ran ${jobs.get} jobs, more than the $parentWarmJobs it ran before")
  }
}
