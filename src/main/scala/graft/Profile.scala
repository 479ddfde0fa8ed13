package graft

import org.apache.spark.scheduler._

/** Per-job / per-stage profiler for named queries (optimization-round
  * tooling, guide §1/§7: decide whether a slow query's wall goes to
  * executor compute, shuffle, or serial job round-trips before
  * touching it). Runs each named query once to warm codegen/staged
  * indexes (exactly like Bench), then once instrumented, printing one
  * line per job and per stage: wall, aggregated task time, executor
  * CPU, shuffle read/write bytes, task count. A query whose timed wall
  * far exceeds the per-stage sum is paying DRIVER/scheduling latency
  * (many small sequential jobs), not compute — a different fix
  * (guide §2.4/§2.6) than a hot stage (§2.3/§4).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... java ... graft.Profile q1 q2 ... */
object Profile {

  private final case class StageRow(
      jobId: Int, stageId: Int, name: String, wallMs: Long,
      taskMs: Long, cpuMs: Long, shufReadMb: Double, shufWriteMb: Double,
      inputMb: Double, tasks: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]() // jobId -> (start, end)
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.put(j.jobId, (j.time, -1L))
        j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val prev = jobs.getOrDefault(j.jobId, (-1L, -1L))
        jobs.put(j.jobId, (prev._1, j.time))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          sub <- si.submissionTime; comp <- si.completionTime
        } yield comp - sub).getOrElse(-1L)
        stages.add(StageRow(
          stageToJob.getOrDefault(si.stageId, -1),
          si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
          m.executorRunTime, m.executorCpuTime / 1000000,
          (m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead) / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.inputMetrics.bytesRead / 1048576.0,
          si.numTasks))
      }
    }

    spark.sparkContext.addSparkListener(listener)

    val names = if (args.nonEmpty) args.toSeq else Seq("date_filter")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      once() // warm-up: codegen/JIT/staged builds off the books
      spark.sharedState.cacheManager.clearCache()
      stages.clear(); jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      once()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events can trail; give the bus a beat
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(s => (s.jobId, s.stageId))
      val jobMap = jobs.asScala.toMap
      println(f"==== $name%s  wall ${wall}%.2f s  jobs ${jobMap.size}%d  stages ${rows.size}%d ====")
      val totalStageWall = rows.map(_.wallMs).filter(_ > 0).sum / 1000.0
      val totalCpu = rows.map(_.cpuMs).sum / 1000.0
      val jobWall = unionMs(jobMap.values.toSeq) / 1000.0
      println(f"  stage-wall sum ${totalStageWall}%.2f s   job-wall union ${jobWall}%.2f s   exec cpu ${totalCpu}%.2f s   non-stage (driver/plan/fs) ${wall - jobWall}%.2f s")
      rows.foreach { s =>
        println(f"  job ${s.jobId}%3d stage ${s.stageId}%4d  wall ${s.wallMs / 1000.0}%6.2f s  taskTime ${s.taskMs / 1000.0}%7.2f s  cpu ${s.cpuMs / 1000.0}%7.2f s  in ${s.inputMb}%7.1f MB  sr ${s.shufReadMb}%6.1f MB  sw ${s.shufWriteMb}%6.1f MB  tasks ${s.tasks}%4d  ${s.name}%s")
      }
    }
    spark.stop()
  }

  /** Total time covered by the finished (start, end) intervals, each
    * instant counted once: AQE runs query stages as concurrent jobs, so
    * a plain sum of job walls can exceed the query's wall. */
  private[graft] def unionMs(intervals: Seq[(Long, Long)]): Long =
    intervals.filter { case (s, e) => s > 0 && e >= s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((total, reach), (s, e)) =>
        if (e <= reach) (total, reach)
        else (total + e - math.max(s, reach), e)
      }._1
}
