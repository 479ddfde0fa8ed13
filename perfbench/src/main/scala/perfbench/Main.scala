package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Runs one workload for one seed in one JVM at local[cores] and writes
  * every measurement to a JSON file; `run.py` adds the oracle replay and
  * prints the result.
  *
  *  1. Set-up, timed from JVM start: the session, input generation and
  *     the cold pass. The cold pass's untimed checks write every query
  *     result for the oracle replay.
  *  2. The workload's warm passes.
  *  3. Timed passes for the run's seconds, at least the workload's
  *     minimum. A traced run spends the first half untraced and the second
  *     half with spans and listener counters, each half at least half the
  *     minimum, then runs the kernel probes.
  *
  * Every pass ends with untimed collections (`settle`).
  */
object Main {
  final case class OpRec(id: Int, name: String, wall: Double, ok: Boolean, inputBytes: Long,
      newRoots: Int, counters: Option[OpCounters], plans: Seq[PlanSeen])
  /** `untimed`: seconds the pass spent on checks and bookkeeping. */
  final case class PassRec(wall: Double, ops: Seq[OpRec], untimed: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val scratch = opt("scratch")
    val dataDir = opt("data")
    val stageDir = sys.env("SPARK_GRAFT_STAGING_DIR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val workload = Workloads(workloadName, seed, dataDir, s"$scratch/work")
    var opSeq = 0
    var memPeak = 0.0
    var failed = 0
    var attempted = 0
    val log = (s: String) => System.err.println(
      f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $s")

    def roots(): Set[String] =
      Option(new java.io.File(stageDir).list()).map(_.toSet).getOrElse(Set.empty)

    /** Spark's ContextCleaner frees broadcast and shuffle blocks on its own
      * thread, only after a collection has found their handles unreachable,
      * so one collection leaves a heap that depends on timing: collect until
      * the live heap stops shrinking. */
    def heapAfterGc(sc: org.apache.spark.SparkContext): Unit = {
      def heap() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      org.apache.spark.PerfbenchBus.drain(sc)
      var prev = Double.MaxValue
      var used = Double.MaxValue
      var rounds = 0
      while (rounds < 8 && (rounds < 2 || used < prev - 1.0)) {
        System.gc()
        Thread.sleep(250)
        prev = used
        used = heap()
        rounds += 1
      }
      memPeak = math.max(memPeak, used)
    }

    /** Between passes, outside timing: a collection, a pause for Spark's
      * cleaner to free what the collection found unreachable, and another
      * collection, so that every pass starts from about the same heap and
      * no pass pays for the cleaning or the collections of the one before. */
    def settle(sc: org.apache.spark.SparkContext): Unit = {
      org.apache.spark.PerfbenchBus.drain(sc)
      System.gc()
      Thread.sleep(200)
      System.gc()
    }

    /** One pass. Wall excludes checks, cache clearing and root listing. */
    def pass(ctx: Ctx, kind: String, counted: Boolean,
        counters: Option[Counters], tap: Option[PlanTap]): PassRec = {
      val sc = ctx.spark.sparkContext
      val ops = workload.ops(ctx, timed = kind == "timed")
      var untimed = 0L
      val t0 = System.nanoTime
      val recs = ops.map { op =>
        val u0 = System.nanoTime
        ctx.spark.sharedState.cacheManager.clearCache()
        val before = roots()
        opSeq += 1
        val id = opSeq
        val group = s"pb-$id"
        sc.setJobGroup(group, op.name, interruptOnCancel = false)
        val o0 = System.nanoTime
        untimed += o0 - u0
        val check = try Some(ctx.trace.op(id, op.name)(op.run()))
          catch { case NonFatal(e) => log(s"${op.name} threw: $e"); None }
        val wall = (System.nanoTime - o0) / 1e9
        sc.clearJobGroup()
        val u1 = System.nanoTime
        val ok = check.exists(c =>
          try c() catch { case NonFatal(e) => log(s"${op.name} check threw: $e"); false })
        if (check.isDefined && !ok) log(s"${op.name} failed its output check")
        counters.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
        val rec = OpRec(id, op.name, wall, ok, op.inputBytes, (roots() -- before).size,
          counters.map(_.get(group)), tap.map(_.take()).getOrElse(Nil))
        untimed += System.nanoTime - u1
        rec
      }
      val u2 = System.nanoTime
      if (counted) {
        attempted += recs.size
        failed += recs.count(!_.ok)
      }
      settle(sc)
      val wall = (u2 - t0 - untimed) / 1e9
      log(f"$kind pass: ${recs.size} ops, $wall%.3f s, then ${(System.nanoTime - u2) / 1e9 + untimed / 1e9}%.3f s untimed")
      PassRec(wall, recs, (System.nanoTime - u2 + untimed) / 1e9)
    }

    // 1. set-up: the session, input generation and the cold pass
    val quiet = new Trace(false)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val resultDir = s"$scratch/results"
    val coldPass = pass(Ctx(spark, quiet, Some(resultDir)), "cold", counted = true, None, None)
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3 - coldPass.untimed
    workload match {
      case q: Queries => Files.write(Paths.get(s"$resultDir/oracle_sql.json"),
        graft.Verify.oracleJson(Some(q.queries.toSet)).getBytes("UTF-8"))
      case _ =>
    }

    // 2. warm-up
    val warm = (0 until workload.warmups)
      .map(_ => pass(Ctx(spark, quiet, None), "warm-up", counted = false, None, None))

    // 3. timed passes
    def timed(budget: Double, least: Int, trace: Trace, counters: Option[Counters],
        tap: Option[PlanTap]): Seq[PassRec] = {
      val out = ArrayBuffer.empty[PassRec]
      val t0 = System.nanoTime
      while (out.size < least || (System.nanoTime - t0) / 1e9 < budget) {
        out += pass(Ctx(spark, trace, None), "timed", counted = true, counters, tap)
        // the live heap grows by about a megabyte with every query pass,
        // so it is read after a fixed count of them, not after the last
        if (out.size == least && (trace eq quiet)) heapAfterGc(spark.sparkContext)
      }
      out.toSeq
    }
    // a traced run splits both the seconds and the fewest passes in two
    val (budget, least) =
      if (traced) (seconds / 2, math.max(1, workload.minTimed / 2)) else (seconds, workload.minTimed)
    val plain = timed(budget, least, quiet, None, None)
    val trace = new Trace(traced)
    val tracedPasses =
      if (!traced) Seq.empty
      else {
        val counters = new Counters
        val tap = new PlanTap
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(tap)
        timed(budget, least, trace, Some(counters), Some(tap))
      }
    log("timed passes done")
    if (!(try workload.checkRun(spark) catch { case NonFatal(e) => log(s"run check threw: $e"); false })) {
      log("the run failed its end-of-run output check")
      failed += 1
    }
    val figures = workload.finalFigures(spark) +
      ("staging_mb" -> Dir.files(stageDir).map(_.length).sum / 1e6)
    val probes = if (traced) Probes.run(spark, dataDir) else Map.empty[String, Double]
    val hostProbeMs = Probes.hostMs()

    // end-to-end metrics, from the untraced timed passes
    val opWalls = plain.flatMap(_.ops.map(_.wall)).sorted
    val n = opWalls.size
    val e2e = Map(
      "setup_s" -> setupS,
      "cold_s" -> coldPass.wall,
      "wall_s" -> median(plain.map(_.wall)),
      "op_p50_s" -> median(opWalls),
      // a run has too few ops for a percentile with ten samples beyond
      // it, and the maximum of a few is mostly noise: the slowest op of
      // the median pass (for ingest, the compacting cycle)
      "op_tail_s" -> median(plain.map(_.ops.map(_.wall).max)),
      "mem_peak_mb" -> memPeak)
    val detail = Map(
      "op_samples" -> n.toDouble,
      "op_max_s" -> opWalls.last,
      "timed_passes" -> plain.size.toDouble,
      "warm_to_timed" -> median(warm.last.ops.map(_.wall)) / median(opWalls))

    val layers =
      if (!traced) Map.empty[String, Double]
      else PerLayer(tracedPasses, coldPass, plain, trace, cores,
        figures, probes)

    val json = new StringBuilder
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    json ++= s"""{"attempted":$attempted,"failed":$failed,"end_to_end":${obj(e2e)},"""
    json ++= s""""cold_failed":[${coldPass.ops.filterNot(_.ok).map(o => s"\"${o.name}\"").mkString(",")}],"""
    json ++= s""""detail":${obj(detail ++ Map("host_probe_ms" -> hostProbeMs))},"""
    json ++= s""""warmup_walls_s":[${warm.map(p => Json.num(p.wall)).mkString(",")}],"""
    json ++= s""""pass_walls_s":[${plain.map(p => Json.num(p.wall)).mkString(",")}],"""
    json ++= s""""op_walls_s":[${plain.flatMap(_.ops).map(o => Json.num(o.wall)).mkString(",")}],"""
    json ++= s""""per_layer":${obj(layers)},"""
    json ++= s""""query_p50_s":${obj(plain.flatMap(_.ops).groupBy(_.name)
      .map { case (k, v) => k -> median(v.map(_.wall)) })},"""
    json ++= s""""env":{"spark":"${spark.version}","java":"${sys.props("java.version")}",""" +
      s""""jvm":"${sys.props("java.vm.name")}","master":"local[$cores]",""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1000000}}}"""
    log("writing result")
    Files.write(Paths.get(s"$scratch/result.json"), json.toString.getBytes("UTF-8"))
    if (traced) trace.writeJsonl(s"$scratch/spans.jsonl")
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
