package graft

import org.apache.spark.sql.functions._

/** The Distributed.stage checkpoint-mode switch (r8 verdict gap 3 /
  * ADVICE cluster-reality note): every iterative chain in the repo
  * cuts lineage through this one seam, so THIS is where the
  * local-vs-reliable decision must be provably correct. Local
  * checkpoint blocks die with their executor — fine at local[n] and
  * static clusters, job-fatal under dynamic allocation — so the
  * switch must (a) default to localCheckpoint, (b) use reliable
  * checkpointing when opted in, and (c) refuse loudly when reliable
  * is requested without a cluster-visible checkpoint dir, instead of
  * silently running the unsafe form. */
class StageSpec extends SparkSuite {

  private def df = spark.range(10).select(col("id"))

  test("stage defaults to localCheckpoint (no files in any checkpoint dir)") {
    val out = graft.operators.Distributed.stage(df)
    assert(out.count() === 10)
    // the plan is a materialized scan, not the original range
    assert(out.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }

  test("stage refuses reliable mode without a checkpoint dir, then uses it when set") {
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalArgumentException] {
          graft.operators.Distributed.stage(df)
        }
        assert(e.getMessage.contains("checkpoint dir"),
          s"refusal must say what to configure; got: ${e.getMessage}")
      }
      // with a dir set but no file-cleanup story, stage() must still
      // refuse: reliable checkpoint files are only deleted by the
      // ContextCleaner when cleanCheckpoints is on (session-build
      // conf; this shared test session has it off)
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
      spark.sparkContext.setCheckpointDir(dir)
      val e2 = intercept[IllegalArgumentException] {
        graft.operators.Distributed.stage(df)
      }
      assert(e2.getMessage.contains("cleanCheckpoints"),
        s"refusal must name the cleaner conf; got: ${e2.getMessage}")
      // acknowledging accumulation unlocks reliable mode: stage() must
      // write a RELIABLE checkpoint into the configured dir
      spark.conf.set("graft.checkpoint.allowAccumulation", "true")
      val out = graft.operators.Distributed.stage(df)
      assert(out.count() === 10)
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty,
        "reliable mode must materialize into the configured checkpoint dir")
    } finally {
      spark.conf.unset("graft.checkpoint.reliable")
      spark.conf.unset("graft.checkpoint.allowAccumulation")
    }
    // back in default mode, staging works again without touching the dir
    assert(graft.operators.Distributed.stage(df).count() === 10)
  }

  test("a staged root follows a same-size rewrite of its backing table") {
    // the root key fingerprints the table by file count, bytes AND
    // newest mtime: a rewrite that keeps the byte size must still get
    // a fresh root instead of reusing an index over the old rows
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fp-").toString
    val table = s"$dir/t.parquet"
    def write(c: Char): Unit = Seq(c.toString * 16).toDF("s")
      .coalesce(1).write.mode("overwrite").parquet(table)
    def bytes(): Long = {
      val p = new org.apache.hadoop.fs.Path(table)
      p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p).getLength
    }
    def root() = graft.operators.Staging.stagedRoot(spark, dir, "fp", "t.parquet")
    write('a')
    val (before, size) = (root(), bytes())
    assert(root() === before, "an untouched table must keep its root")
    Thread.sleep(20) // the rewrite lands on a later millisecond
    write('b')
    assert(bytes() === size, "fixture precondition: the rewrite keeps the byte size")
    assert(root() !== before, "a same-size rewrite must not reuse the stale root")
  }
}
