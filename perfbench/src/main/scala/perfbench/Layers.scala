package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run. Pass-level figures are the median
  * over the traced timed passes of the pass total; figures of work that
  * only some cycles do (compaction) are medians per occurrence. */
object PerLayer {
  import Main.{median, OpRec, PassRec}

  def apply(traced: Seq[PassRec], setupPass: PassRec, plain: Seq[PassRec],
      trace: Trace, cores: Int, figures: Map[String, Double],
      probes: Map[String, Double]): Map[String, Double] = {
    def perPass(f: PassRec => Double): Double = median(traced.map(f))
    def spanS(name: String)(p: PassRec): Double = trace.seconds(name, p.ops.map(_.id).toSet)
    def counted(f: OpCounters => Double)(p: PassRec): Double =
      p.ops.flatMap(_.counters).map(f).sum
    def busy(o: OpRec): Double = o.counters.map(_.busySeconds).getOrElse(0.0)
    def lastPlan(f: PlanSeen => Int)(p: PassRec): Double =
      p.ops.flatMap(_.plans.lastOption).map(f).sum.toDouble
    def spanWalls(name: String): Seq[Double] = {
      val ids = traced.flatMap(_.ops.map(_.id)).toSet
      trace.spans.filter(s => s.name == name && ids(s.op)).map(_.seconds).toSeq
    }

    val warmOps = (plain ++ traced).flatMap(_.ops)
    val warmMedian = warmOps.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.wall)) }
    val built = setupPass.ops.filter(_.newRoots > 0)
    val batches = spanWalls("streaming.batch") ++ spanWalls("streaming.compact_batch")

    Map(
      "sources.scan_mb" -> perPass(counted(_.inputBytes / 1e6)),
      "sources.scan_rows" -> perPass(counted(_.inputRows.toDouble)),
      "sources.read_s" -> perPass(spanS("sources.read")),
      "sources.write_s" -> perPass(spanS("sources.write")),
      "sources.compact_s" -> median(spanWalls("sources.compact")),
      "sources.write_amp" -> perPass { p =>
        val in = p.ops.map(_.inputBytes).sum
        if (in > 0) counted(_.outputBytes.toDouble)(p) / in else 0.0
      },
      "sources.table_files" -> figures.getOrElse("table_files", 0.0),
      "operators.build_s" -> perPass(spanS("operators.build")),
      "operators.plan_s" -> perPass(_.ops.flatMap(_.plans).map(_.planSeconds).sum),
      "operators.exec_s" -> perPass(spanS("operators.exec")),
      "operators.jobs" -> perPass(counted(_.jobs.toDouble)),
      "operators.tasks" -> perPass(counted(_.tasks.toDouble)),
      "operators.busy_s" -> perPass(_.ops.map(busy).sum),
      "operators.driver_gap_s" -> perPass(_.ops.map(o => o.wall - busy(o)).sum),
      "operators.cpu_s" -> perPass(counted(_.cpuNs / 1e9)),
      "operators.slot_util" -> perPass { p =>
        val b = p.ops.map(busy).sum
        if (b > 0) counted(_.runMs / 1e3)(p) / (b * cores) else 0.0
      },
      "operators.shuffle_mb" -> perPass(counted(_.shuffleBytes / 1e6)),
      "operators.spill_mb" -> perPass(counted(_.spillBytes / 1e6)),
      "operators.exchanges" -> perPass(lastPlan(_.exchanges)),
      "operators.smj" -> perPass(lastPlan(_.smj)),
      "staging.build_s" -> built.map(o => o.wall - warmMedian.getOrElse(o.name, o.wall)).sum,
      "staging.roots" -> setupPass.ops.map(_.newRoots).sum.toDouble,
      "staging.mb" -> figures.getOrElse("staging_mb", 0.0),
      "staging.reuse" ->
        (if (warmOps.isEmpty) 0.0 else warmOps.count(_.newRoots == 0).toDouble / warmOps.size),
      "functions.vec_rows_s" -> probes("vec_rows_s"),
      "functions.shingle_rows_s" -> probes("shingle_rows_s"),
      "streaming.batch_s" -> median(batches),
      "streaming.compact_batch_s" -> median(spanWalls("streaming.compact_batch")),
      "streaming.state_files" -> figures.getOrElse("state_files_per_krow", 0.0),
      "streaming.state_mb" -> figures.getOrElse("state_mb_per_krow", 0.0),
      "trace.overhead_s" -> (median(traced.map(_.wall)) - median(plain.map(_.wall))))
  }
}

/** Kernel probes (traced runs only) and the host probe. */
object Probes {
  /** Rows per second through graft's vector and shingle kernels, as
    * noop-sunk projections over cached inputs built from the fixed
    * tables; median of three timings each. */
  def run(spark: SparkSession, dataDir: String): Map[String, Double] = {
    graft.functions.VecExpressions.register(spark)
    def q8(v: Column): Column =
      transform(v, x => greatest(least(floor(x * 127.0), lit(127.0)), lit(-128.0)).cast("tinyint"))
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"), q8(col("embedding")).as("q"))
    val pairs = emb.select(col("v").as("va"), col("q").as("qa"))
      .crossJoin(emb.select(col("v").as("vb"), col("q").as("qb")))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(split(col("text"), " ").as("tk"), explode(sequence(lit(1), lit(20))).as("copy"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val out = Map(
      "vec_rows_s" -> rate(pairs, Seq(
        call_function("vec_cosine", col("va"), col("vb")),
        call_function("vec_dot_i8", col("qa"), col("qb")))),
      "shingle_rows_s" -> rate(docs, Seq(
        expr("shingle_keys(tk, 5, 4096)"),
        expr("minhash_sigs(shingle_words(tk, 5, 4096), 12, 4294967296L)"))))
    pairs.unpersist(); docs.unpersist()
    out
  }

  private def rate(input: DataFrame, kernels: Seq[Column]): Double = {
    val rows = input.count().toDouble
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime
      input.select(kernels: _*).write.format("noop").mode("overwrite").save()
      (System.nanoTime - t0) / 1e9
    }
    rows / Main.median(times)
  }

  /** A fixed single-thread integer loop, in ms (min of two): a slower
    * host or a busier neighbour reads higher. */
  def hostMs(): Double = (0 until 2).map { _ =>
    val t0 = System.nanoTime
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println()
    (System.nanoTime - t0) / 1e6
  }.min
}
