package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans recorded by the benchmark around its calls into graft's layers.
  * Kept in memory; written once when the run ends. When disabled, `span`
  * only runs its body. */
final class Trace(val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val op: Int, val name: String, val start: Long) {
    var end: Long = 0L
    def seconds: Double = (end - start) / 1e9
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var currentOp = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), currentOp, name,
        System.nanoTime)
      spans += s
      open = s :: open
      try body
      finally { s.end = System.nanoTime; open = open.tail }
    }

  /** Root span of one op; every span opened inside carries its id. */
  def op[T](id: Int, name: String)(body: => T): T = {
    currentOp = id
    try span(s"op.$name")(body) finally currentOp = -1
  }

  /** Summed duration of spans named `name` that belong to `ops`. */
  def seconds(name: String, ops: Set[Int]): Double =
    spans.iterator.filter(s => s.name == name && ops(s.op)).map(_.seconds).sum

  /** Duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    s.seconds - Intervals.union(kids) / 1e9
  }

  def writeJsonl(path: String): Unit = {
    val lines = spans.map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}%.6f}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Intervals {
  /** Total length covered by possibly overlapping intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }
}

/** Counters of one op, attributed through the job group the benchmark
  * sets around the op's call (never by time window). */
final class OpCounters {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Seconds covered by at least one of the op's jobs. */
  def busySeconds: Double = Intervals.union(jobIntervals.toSeq) / 1e3
}

/** The benchmark's own listener: per-job-group jobs, tasks, executor
  * CPU, shuffle, spill, input and output. */
final class Counters extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, OpCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobOpen = mutable.HashMap.empty[Int, (String, Long)]

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  def get(group: String): OpCounters = synchronized(byGroup.getOrElseUpdate(group, new OpCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      get(g).jobs += 1
      jobOpen(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (g, t0) => get(g).jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(stageGroup(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = get(g)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Optimizer and planner time and final-plan shape of one executed query. */
final case class PlanSeen(planSeconds: Double, exchanges: Int, smj: Int)

/** Records a [[PlanSeen]] for every executed query. The traced run drains
  * the listener bus after each op and takes what arrived, so entries
  * belong to the op that just ran. */
final class PlanTap extends QueryExecutionListener {
  private val seen = mutable.ArrayBuffer.empty[PlanSeen]

  def take(): Seq[PlanSeen] = synchronized { val s = seen.toList; seen.clear(); s }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val all = nodes(qe.executedPlan)
    val s = PlanSeen(planMs / 1e3,
      all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[SortMergeJoinExec]))
    synchronized { seen += s }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
