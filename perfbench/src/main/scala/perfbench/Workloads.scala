package perfbench

import graft.SparkEntry
import graft.operators.{CourseFlatten, Dedup}
import graft.sources.{CourseraJson, Sinks, Warehouse}
import graft.streaming.CorpusIngest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.nio.file.{Files, Paths}

/** What an op needs from the run: the session, the span recorder, and
  * where the check of a pass writes each result for the oracle replay
  * (None = no replay). */
final case class Ctx(spark: SparkSession, trace: Trace, resultDir: Option[String])

/** One op of a pass. `run` is timed; the check it returns is not.
  * `inputBytes`: generated input the op consumes. */
final case class Op(name: String, inputBytes: Long, run: () => () => Boolean)

trait Workload {
  /** Warm passes before timing. */
  def warmups: Int
  /** Fewest timed passes, whatever the run's seconds. */
  def minTimed: Int
  /** The next pass's ops; input generation happens here, before timing.
    * `timed`: the pass is a timed one, not the cold pass or a warm-up. */
  def ops(ctx: Ctx, timed: Boolean): Seq[Op]
  /** Whole-run output check, run at the end and not timed. */
  def checkRun(spark: SparkSession): Boolean = true
  /** Figures read at the end of the run (files, state size). */
  def finalFigures(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workloads {
  /** Analysts' short scan, join and aggregate queries, one or two per
    * relational family, sized so a warm pass stays a few seconds. */
  val sqlStar: Seq[String] = Seq(
    "join_star", "q1_agg", "topn_revenue", "sessionize", "events_ewma",
    "cohort_retention", "conversion_ci", "events_histogram", "user_quantiles",
    "part_hierarchy", "snapshot_diff", "skew_agg")

  /** Shingle, minhash and self-join text queries. */
  val textDedup: Seq[String] = Seq(
    "dedup_minhash", "text_contamination", "source_overlap", "text_bm25", "dedup_exact")

  /** The staged product-quantized ANN index: built by the first call in
    * a session, served read-only after. */
  val annSearch: Seq[String] = Seq("ann_pq")

  def apply(name: String, seed: Long, dataDir: String, work: String): Workload = name match {
    case "sql_star" => new Queries(sqlStar, seed, dataDir)
    case "text_dedup" => new Queries(textDedup, seed, dataDir)
    case "ann_search" => new Queries(annSearch, seed, dataDir)
    case "ingest" => new Ingest(seed, Traffic.read(s"$work/traffic.txt"), work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Query workloads read the fixed tables; the seed permutes the query
  * order of every pass. */
final class Queries(val queries: Seq[String], seed: Long, dataDir: String) extends Workload {
  // the first two warm passes still read a seventh to a third slower
  // than the timed ones
  val warmups = 2
  val minTimed = 3
  queries.foreach(q => require(SparkEntry.oracleSql.contains(q), s"$q has no oracle"))

  private var passes = 0

  def ops(ctx: Ctx, timed: Boolean): Seq[Op] = {
    passes += 1
    new scala.util.Random(seed * 1000003L + passes).shuffle(queries).map { q =>
      Op(q, 0L, () => {
        val df = ctx.trace.span("operators.build")(SparkEntry.queries(q)(ctx.spark, dataDir))
        ctx.trace.span("operators.exec")(df.write.format("noop").mode("overwrite").save())
        () => {
          ctx.resultDir.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q"))
          true
        }
      })
    }
  }
}

/** The reference pipeline as a closed loop of seeded cycles: write one
  * raw API response snapshot, pick the latest, read and validate it,
  * flatten, write the CSV and read it back, append it to the warehouse
  * with the schema check, read the warehouse back, and feed one
  * document micro-batch through the maintained corpus ingest. State
  * carries over from cycle to cycle, so small files build up; every
  * `CompactEvery`-th cycle compacts the corpus state and, in step, the
  * warehouse. The cold pass and the warm-up are one cycle each; a timed
  * pass is `CompactEvery` cycles, so it holds one compaction: its wall
  * is all its cycles, the op median a cycle without compaction and the
  * op tail the compacting cycle. */
final class Ingest(seed: Long, traffic: Traffic, work: String) extends Workload {
  val CompactEvery = 3
  // the JIT still speeds the first timed pass up after one warm-up cycle,
  // but a second one would not fit a run's time
  val warmups = 1
  val minTimed = 2
  /** A batch holds a whole number of near-duplicates at the committed
    * share (3 of 60). */
  val DocsPerBatch = 60

  private val rawBase = s"$work/ingest/raw"
  private val csvBase = s"$work/ingest/csv"
  private val warehouse = s"$work/ingest/warehouse/courses"
  private val state = s"$work/ingest/corpus"
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  private val rnd = new scala.util.Random(seed)
  private var novel = Vector.empty[Array[String]]
  private val docsFed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
  private var entitiesFed = 0
  private var cycle = 0

  /** Novel docs draw their length and tokens from the committed corpus;
    * a near-duplicate is an earlier novel doc plus the appended marker
    * token, as the committed corpus plants them. Every batch holds the
    * same number of near-duplicates, at seeded places, so that its dedup
    * work does not vary with the seed. Each novel doc is copied at most
    * once, so a near-duplicate can only match its own source: the stream,
    * which screens against kept docs, and a one-shot dedup, which screens
    * against every earlier doc, then keep the same docs. */
  private def docBatch(c: Int): Seq[(Long, String)] = {
    val nearDups = math.round(traffic.nearDupShare * DocsPerBatch).toInt
    val dupAt = rnd.shuffle((1 until DocsPerBatch).toVector).take(nearDups).toSet
    (0 until DocsPerBatch).map { i =>
      val tokens =
        if (dupAt(i) && novel.nonEmpty) {
          val k = rnd.nextInt(novel.size)
          val t = novel(k) :+ Traffic.DupMarker
          novel = novel.patch(k, Nil, 1)
          t
        } else {
          val t = Array.fill(traffic.pick(rnd, traffic.docLengths))(traffic.pick(rnd, traffic.tokens))
          novel :+= t
          t
        }
      (c * 10000L + i) -> tokens.mkString(" ")
    }
  }

  def ops(ctx: Ctx, timed: Boolean): Seq[Op] = {
    Seq.fill(if (timed) CompactEvery else 1) {
      val c = cycle
      cycle += 1
      val (raw, entities) = Ingest.response(rnd, traffic, c)
      val docs = docBatch(c)
      docsFed ++= docs
      entitiesFed += entities
      val expectedRows = entitiesFed.toLong
      val bytes = raw.getBytes("UTF-8")
      Op(s"cycle", bytes.length + docs.map(_._2.length.toLong).sum, () => cycleOp(ctx, c, bytes, docs, expectedRows))
    }
  }

  private def cycleOp(ctx: Ctx, c: Int, raw: Array[Byte], docs: Seq[(Long, String)],
      expectedRows: Long): () => Boolean = {
    val spark = ctx.spark
    val t = ctx.trace
    val ts = f"20260101_$c%06d"
    t.span("ingest.extract") {
      val p = Paths.get(s"$rawBase/snapshot=$ts/response.json")
      Files.createDirectories(p.getParent)
      Files.write(p, raw)
    }
    val nested = t.span("sources.read") {
      val latest = Sinks.latestSnapshotPath(spark, rawBase)
        .getOrElse(throw new IllegalStateException("no snapshot"))
      require(latest.endsWith(ts), s"latest pick $latest is not snapshot $ts")
      require(CourseraJson.responseErrors(spark, latest).isEmpty, "error envelope in response")
      CourseraJson.readCollections(spark, latest)
    }
    val flat = t.span("operators.build")(CourseFlatten.flatten(nested))
    val csv = s"$csvBase/$ts"
    t.span("sources.write")(Sinks.writeCourseCsv(flat, csv))
    val back = t.span("sources.read")(Sinks.readCourseCsv(spark, csv))
    t.span("sources.write")(Sinks.appendParquetChecked(spark, back, warehouse))
    val compacting = c > 0 && c % CompactEvery == 0
    if (compacting)
      t.span("sources.compact")(Warehouse.compactSmallFiles(spark, warehouse, 1L << 20))
    val rows = t.span("sources.read")(spark.read.parquet(warehouse).count())
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, s) => Row(id, s) }, 1), docSchema)
    t.span(if (compacting) "streaming.compact_batch" else "streaming.batch")(
      CorpusIngest.maintainThenIngest(batch, c, state, CompactEvery))
    () => rows == expectedRows && Ingest.sameRows(flat, back)
  }

  /** The kept corpus must equal a one-shot batch dedup of every doc fed. */
  override def checkRun(spark: SparkSession): Boolean = {
    val all = spark.createDataFrame(spark.sparkContext.parallelize(
      docsFed.map { case (id, s) => Row(id, s) }.toSeq, 1), docSchema)
    val noKeys = all.select(col("doc_id"), lit("").as("band_key")).limit(0)
    val dups = Dedup.screenDelta(noKeys, all.limit(0), all)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = spark.read.parquet(s"$state/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    dups.nonEmpty && kept == docsFed.map(_._1).toSet -- dups
  }

  override def finalFigures(spark: SparkSession): Map[String, Double] = {
    val liveRows = spark.read.parquet(s"$state/corpus").count().toDouble
    val stateFiles = Dir.files(state)
    Map(
      "table_files" -> Dir.files(warehouse)
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).toDouble,
      "state_files_per_krow" -> stateFiles.size * 1000.0 / liveRows,
      "state_mb_per_krow" -> stateFiles.map(_.length).sum / 1e6 * 1000.0 / liveRows)
  }
}

object Ingest {
  private val Difficulty = Seq("Beginner", "Intermediate", "Advanced", "Mixed")
  private val ProductType = Seq("COURSE", "SPECIALIZATION", "PROFESSIONAL_CERTIFICATE")

  /** One raw API response (the extract service's upload) and its entity
    * count: one collection per brand, entity and partner counts drawn
    * from the committed tables. */
  def response(rnd: scala.util.Random, tr: Traffic, cycle: Int): (String, Int) = {
    def q(s: String) = "\"" + s + "\""
    var n = 0
    val collections = (0 until tr.brands).map { k =>
      val ents = (0 until tr.pick(rnd, tr.entitiesPerBrand)).map { e =>
        n += 1
        val id = s"crs-$cycle-$k-$e"
        val partners = rnd.shuffle(tr.suppliers).take(tr.pick(rnd, tr.partnersPerPart)).map(_.toString)
        s"""{"name":${q(s"Course ${rnd.nextInt(100000)}")},"id":${q(id)},""" +
          s""""slug":${q(s"course-$id")},"url":${q(s"/learn/$id")},"imageUrl":${q(s"/img/$id.jpg")},""" +
          s""""partnerIds":[${partners.map(q).mkString(",")}],""" +
          s""""partners":[${partners.map(p => s"""{"name":${q(f"Supplier#${p.toLong}%09d")},"id":${q(p)}}""").mkString(",")}],""" +
          s""""difficultyLevel":${q(Difficulty(rnd.nextInt(Difficulty.size)))},""" +
          s""""isPartOfCourseraPlus":${rnd.nextBoolean()},"courseCount":${q((1 + rnd.nextInt(20)).toString)},""" +
          s""""isCostFree":${q(rnd.nextBoolean().toString)},""" +
          s""""productCard":{"marketingProductType":${q(ProductType(rnd.nextInt(ProductType.size)))},""" +
          s""""productTypeAttributes":{"isPathwayContent":${rnd.nextBoolean()}}}}"""
      }
      s"""{"label":${q(s"Collection $cycle-$k")},"id":${q(s"col-$cycle-$k")},"entities":[${ents.mkString(",\n")}]}"""
    }
    (s"""[{"data":{"DiscoveryCollections":{"queryCollections":[${collections.mkString(",\n")}]}}}]""", n)
  }

  /** Same multiset of rows, compared as strings. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.select(Sinks.courseColumns.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted.toSeq
    rows(a) == rows(b)
  }
}

/** The shape of the ingest traffic, as sorted samples to draw from.
  * `run.py` derives them from the committed sf0.01 tables:
  *  - a response is `CourseFlatten.nestedCollections` over the tables:
  *    one collection per part brand, entities per collection as parts
  *    per brand, partners per entity as the distinct suppliers of a part
  *    in lineitem, partner ids from the supplier keys;
  *  - a document has the token count of a committed document and tokens
  *    drawn at their committed frequencies; the committed corpus plants
  *    a near-duplicate as an earlier document plus the token `dup`, and
  *    the share of such documents is the near-duplicate share. */
final case class Traffic(brands: Int, entitiesPerBrand: IndexedSeq[Int],
    partnersPerPart: IndexedSeq[Int], suppliers: IndexedSeq[Long],
    docLengths: IndexedSeq[Int], tokens: IndexedSeq[String], nearDupShare: Double) {
  def pick[T](rnd: scala.util.Random, xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
}

object Traffic {
  val DupMarker = "dup"

  /** One `name value value ...` line per field. */
  def read(path: String): Traffic = {
    val f = scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.split(' ')).map(l => l.head -> l.tail.toIndexedSeq).toMap
    Traffic(f("brands").head.toInt, f("entities_per_brand").map(_.toInt),
      f("partners_per_part").map(_.toInt), f("suppliers").map(_.toLong),
      f("doc_lengths").map(_.toInt), f("tokens"), f("near_dup_share").head.toDouble)
  }
}

object Dir {
  def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.exists) Seq.empty
      else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
  }
}
