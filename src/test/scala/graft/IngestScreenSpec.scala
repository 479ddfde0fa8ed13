package graft

import graft.operators.Dedup
import graft.streaming.CorpusIngest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The incremental screen's work per micro-batch is bounded by the
  * batch, not the state: index rows in no bucket of the delta and
  * corpus text of no candidate doc are never shuffled; restricting the
  * index first keeps the hot-bucket cap exact; and a maintained batch
  * runs a pinned number of Spark jobs, none of them a state
  * schema-inference job. */
class IngestScreenSpec extends SparkSuite {

  import spark.implicits._

  /** Ten distinct tokens per doc, none shared with any other prefix's
    * docs, so docs of different (prefix, i) share no shingle and no band. */
  private def text(prefix: String, i: Long): String =
    (0 until 10).map(k => s"$prefix${i}x$k").mkString(" ")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  /** Run `body` with `listener` attached, until the bus has delivered
    * every event it posted. */
  private def listening[T](listener: SparkListener)(body: => T): T = {
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusProbe.drain(spark.sparkContext)
      out
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body`'s result and the shuffle bytes its tasks wrote. */
  private def withShuffleBytes[T](body: => T): (T, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val out = listening(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(body)
    (out, bytes.get)
  }

  /** A node's inputs, query stages and reused exchanges followed into
    * the plans they wrap. */
  private def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: inputs(p).flatMap(nodes)

  /** The file scans whose rows reach `p`'s output without passing a
    * join or an IN-list filter (what restricts a scan to the rows the
    * delta touches). */
  private def unrestrictedScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case _: BaseJoinExec => Nil
    case f: FilterExec if f.condition.exists {
        case _: In | _: InSet => true
        case _ => false
      } => Nil
    case other => inputs(other).flatMap(unrestrictedScans)
  }

  private def verdictRows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("padding the state with docs the delta shares no band with shuffles nothing more") {
    val base = (1L to 20L).map(i => i -> text("b", i))
    val padding = (1001L to 3000L).map(i => i -> text("p", i))
    // 101 copies indexed base doc 3; 102 is novel; 103 copies 102 in
    // the same batch
    val delta = Seq(101L -> text("b", 3), 102L -> text("d", 102), 103L -> text("d", 102))
      .toDF("doc_id", "text")
    val small = tmp("graft_screen_small")
    base.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(s"$small/corpus")
    Dedup.buildDedupIndex(base.toDF("doc_id", "text"), s"$small/index")
    // the padded state holds the same files plus the padding's
    val big = tmp("graft_screen_big")
    copyDir(small, big)
    padding.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$big/corpus")
    Dedup.buildDedupIndex(padding.toDF("doc_id", "text"), s"$big/pad")
    spark.read.parquet(s"$big/pad").write.mode("append").parquet(s"$big/index")

    val keys = Dedup.signDelta(delta)
    def screen(root: String) = Dedup.screenDelta(spark.read.parquet(s"$root/index"),
      spark.read.parquet(s"$root/corpus"), delta, keys)
    val smallScreen = screen(small)
    val bigScreen = screen(big)
    val (smallRows, smallBytes) = withShuffleBytes(verdictRows(smallScreen))
    val (bigRows, bigBytes) = withShuffleBytes(verdictRows(bigScreen))
    assert(smallRows === Set((101L, 3L, 6L, 1.0), (103L, 102L, 6L, 1.0)))
    assert(bigRows === smallRows)
    assert(bigBytes === smallBytes,
      s"a 100x state shuffled $bigBytes bytes where the unpadded one shuffled $smallBytes")

    val exchanged = nodes(bigScreen.queryExecution.executedPlan)
      .collect { case e: Exchange => e }
      .flatMap(e => unrestrictedScans(e.child).map(s => (e.nodeName, s.relation.location.rootPaths)))
    assert(exchanged.isEmpty,
      s"state scans shuffled or broadcast unrestricted by the delta: ${exchanged.mkString("; ")}")
  }

  test("restricting the index keeps the hot-bucket cap exact") {
    val delta = Seq(
      1L -> text("e", 1), // band shared with MaxBucketDocs - 1 indexed docs: kept
      2L -> text("e", 2), // band shared with MaxBucketDocs indexed docs: capped
      3L -> text("e", 3), // identical to indexed doc 9003: all four bands shared
      4L -> text("e", 4), // novel
      5L -> text("e", 4)) // same-batch copy of 4
      .toDF("doc_id", "text")
    val keys = Dedup.signDelta(delta)
    def bandOf(doc: Long) = keys.filter(col("doc_id") === doc)
      .select("band_key").orderBy("band_key").as[String].head()
    // bucket members beyond the delta doc: indexed under one band of
    // their delta doc's, with that doc's text in the corpus, so each
    // would verify at jaccard 1.0 if the bucket were not capped
    val cap = Dedup.MaxBucketDocs
    val kept = (1L to cap - 1L).map(i => (5000L + i, bandOf(1L), text("e", 1)))
    val capped = (1L to cap.toLong).map(i => (7000L + i, bandOf(2L), text("e", 2)))
    val indexed3 = (9003L, "", text("e", 3))
    val hot = (kept ++ capped).toDF("doc_id", "band_key", "text")
    val dir = tmp("graft_screen_cap")
    Dedup.buildDedupIndex(Seq(indexed3).toDF("doc_id", "band_key", "text"), s"$dir/index3")
    val index = hot.select("doc_id", "band_key")
      .unionByName(spark.read.parquet(s"$dir/index3"))
    val corpus = hot.select("doc_id", "text")
      .unionByName(Seq(indexed3).toDF("doc_id", "band_key", "text").select("doc_id", "text"))

    val got = verdictRows(Dedup.screenDelta(index, corpus, delta, keys))
    assert(got === Set(
      (1L, 5001L, 6L, 1.0), // 199 + 1 docs: under the cap, the lowest indexed partner
      (3L, 9003L, 6L, 1.0), // four shared bands, one verdict row
      (5L, 4L, 6L, 1.0)),   // same-batch duplicate of the earlier doc
      "doc 2's bucket holds MaxBucketDocs + 1 docs and must be capped")
  }

  test("a maintained batch runs a pinned job count and no state schema-inference job") {
    val st = tmp("graft_screen_jobs")
    // one partition, as the stream's file source delivers a small batch
    def batch(ids: Long*) = spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(i => org.apache.spark.sql.Row(i, text("j", i % 7))), 1),
      new StructType().add("doc_id", LongType).add("text", StringType))
    // (stage names, ran inside a SQL execution) of each job `body` starts
    def jobs(body: => Unit): Seq[(Seq[String], Boolean)] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Boolean)]()
      listening(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val inSql = Option(j.properties).exists(_.getProperty("spark.sql.execution.id") != null)
          seen.add((j.stageInfos.map(_.name), inSql))
        }
      })(body)
      seen.toArray(Array.empty[(Seq[String], Boolean)]).toSeq
    }
    // a parquet read outside any SQL execution is a schema-inference job
    def schemaJobs(js: Seq[(Seq[String], Boolean)]) = js.filter { case (sites, inSql) =>
      !inSql && sites.exists(_.startsWith("parquet at CorpusIngest.scala"))
    }

    CorpusIngest.maintainThenIngest(batch(1, 2, 3), 0L, st, compactEvery = 3)
    CorpusIngest.maintainThenIngest(batch(4, 5, 8), 1L, st, compactEvery = 3)
    val plain = jobs(CorpusIngest.maintainThenIngest(batch(6, 9, 10), 2L, st, compactEvery = 3))
    val compacting = jobs(CorpusIngest.maintainThenIngest(batch(11, 12), 3L, st, compactEvery = 3))
    // the counts these batches measured once the screen was bounded by
    // the delta (before: 14 and 23)
    val (maxPlainJobs, maxCompactingJobs) = (8, 11)
    assert(plain.size <= maxPlainJobs,
      s"a non-compacting batch ran ${plain.size} jobs: ${plain.map(_._1.mkString("|")).mkString(", ")}")
    assert(compacting.size <= maxCompactingJobs,
      s"a compacting batch ran ${compacting.size} jobs: ${compacting.map(_._1.mkString("|")).mkString(", ")}")
    assert(schemaJobs(plain).isEmpty && schemaJobs(compacting).isEmpty,
      s"state read with an inferred schema: ${schemaJobs(plain ++ compacting).mkString(", ")}")
    // the declared state schemas are what the batches wrote
    CorpusIngest.StateTables.foreach { case (sub, schema) =>
      val written = spark.read.parquet(s"$st/$sub").schema.filterNot(_.name == "batch_id")
      assert(written === schema.fields.toSeq, s"$sub schema drifted")
    }
  }
}
