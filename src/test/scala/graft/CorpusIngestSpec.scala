package graft

import graft.streaming.CorpusIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming closure of the L2c loop: per-batch online near-dedup
  * against the evolving persisted index. */
class CorpusIngestSpec extends SparkSuite {

  // five-token-plus texts so every doc clears the shingle length;
  // distinct docs share no tokens at all
  private val texts = Map(
    1L -> "alpha bravo charlie delta echo foxtrot golf hotel",
    2L -> "india juliett kilo lima mike november oscar papa",
    3L -> "quebec romeo sierra tango uniform victor whiskey xray",
    4L -> "yankee zulu one two three four five six",
    7L -> "seven eight nine ten eleven twelve thirteen fourteen")

  private def state(): String =
    java.nio.file.Files.createTempDirectory("graft_ingest").toString

  private def readState(path: String, sub: String) =
    spark.read.parquet(s"$path/$sub")

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("batches screen against the evolving index; novel docs extend corpus and index") {
    val st = state()
    // batch 0: docs 1-4 novel, doc 5 an exact copy of doc 2 (later id)
    CorpusIngest.ingestBatch(
      docsDf(1L -> texts(1), 2L -> texts(2), 3L -> texts(3), 4L -> texts(4), 5L -> texts(2)),
      0L, st)
    // batch 1: doc 6 copies the INDEXED doc 1; doc 7 is novel
    CorpusIngest.ingestBatch(docsDf(6L -> texts(1), 7L -> texts(7)), 1L, st)

    val dups = readState(st, "dups")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dups === Map(5L -> 2L, 6L -> 1L))
    val corpus = readState(st, "corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(corpus === Set(1L, 2L, 3L, 4L, 7L))
    // the index covers exactly the kept corpus, 4 band keys per doc
    val idx = readState(st, "index")
      .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
    assert(idx.map(_.getLong(0)).toSet === corpus)
    assert(idx.forall(_.getLong(1) === 4L))
  }

  test("a replayed batch overwrites itself and sees only prior-batch state") {
    val st = state()
    CorpusIngest.ingestBatch(docsDf(1L -> texts(1), 2L -> texts(2)), 0L, st)
    CorpusIngest.ingestBatch(docsDf(3L -> texts(3), 6L -> texts(1)), 1L, st)
    def snapshot() = Seq("dups", "corpus", "index")
      .map(s => readState(st, s).collect().map(_.toSeq).toSet)
    val before = snapshot()
    // exactly-once under foreachBatch replay: same rows, same batchId
    CorpusIngest.ingestBatch(docsDf(3L -> texts(3), 6L -> texts(1)), 1L, st)
    assert(snapshot() === before)
    val d = readState(st, "dups").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(d === Set((6L, 1L, 1.0)),
      "doc 6 must be quarantined as an exact duplicate of indexed doc 1")
  }

  test("state compaction preserves reads and the replay contract while cutting dirs") {
    val st = state()
    CorpusIngest.ingestBatch(docsDf(1L -> texts(1), 2L -> texts(2)), 0L, st)
    CorpusIngest.ingestBatch(docsDf(3L -> texts(3), 5L -> texts(2)), 1L, st)
    CorpusIngest.ingestBatch(docsDf(4L -> texts(4), 6L -> texts(1)), 2L, st)
    def content(sub: String) = readState(st, sub).drop("batch_id")
      .collect().map(_.toSeq).toSet
    def dirs(sub: String) = new java.io.File(s"$st/$sub").listFiles()
      .count(_.getName.startsWith("batch_id="))
    val before = Seq("corpus", "index", "dups").map(content)
    // batches 0..2 are committed; collapse 0..1
    CorpusIngest.compactState(spark, st, upTo = 1L)
    assert(Seq("corpus", "index", "dups").map(content) === before,
      "compaction must not change any table's content")
    assert(Seq("corpus", "index", "dups").map(dirs) === Seq(2, 2, 2),
      "batches 0..1 must collapse into one partition each")
    // a batch arriving AFTER compaction still screens against all
    // kept state: doc 8 copies doc 3 (kept in the compacted range)
    CorpusIngest.ingestBatch(docsDf(8L -> texts(3)), 3L, st)
    val dups = readState(st, "dups")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dups === Map(5L -> 2L, 6L -> 1L, 8L -> 3L))
    // idempotent recovery: re-running the same compaction is a no-op
    CorpusIngest.compactState(spark, st, upTo = 1L)
    assert(Seq("corpus", "index", "dups").map(content).head === before.head)
  }

  test("compaction survives a crash mid-delete without losing state rows") {
    // the r9 regression case: a crash AFTER some olds were deleted but
    // BEFORE the swap used to make the re-run rebuild the tmp from the
    // PARTIAL remnant — silently and permanently dropping the deleted
    // batches' rows (and with them the dedup guarantees the index
    // provides). The commit-marker protocol must roll FORWARD from the
    // complete tmp instead.
    val st = state()
    CorpusIngest.ingestBatch(docsDf(1L -> texts(1), 2L -> texts(2)), 0L, st)
    CorpusIngest.ingestBatch(docsDf(3L -> texts(3)), 1L, st)
    CorpusIngest.ingestBatch(docsDf(4L -> texts(4)), 2L, st)
    def content(sub: String) = readState(st, sub).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val before = Seq("corpus", "index", "dups").map(content)

    // hand-construct the crash state for `corpus`: complete tmp +
    // commit marker written, batch_id=0 already deleted, swap missing
    val root = s"$st/corpus"
    spark.read.parquet(s"$root/batch_id=0", s"$root/batch_id=1", s"$root/batch_id=2")
      .repartition(1).write.parquet(s"$root/.compact_tmp_2")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, ".compact_commit_2"))
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmrf)); p.delete()
    }
    rmrf(new java.io.File(s"$root/batch_id=0"))

    CorpusIngest.compactState(spark, st, upTo = 2L)
    assert(Seq("corpus", "index", "dups").map(content) === before,
      "recovery must restore every row from the complete tmp")
    assert(!new java.io.File(s"$root/.compact_commit_2").exists())
    assert(!new java.io.File(s"$root/.compact_tmp_2").exists())

    // the OTHER crash shape: a torn tmp with NO marker (crash during
    // the tmp write) — olds are intact, the junk must be discarded
    val iroot = s"$st/index"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(iroot, ".compact_tmp_2"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(iroot, ".compact_tmp_2", "part-junk"), "torn")
    CorpusIngest.compactState(spark, st, upTo = 2L)
    assert(Seq("corpus", "index", "dups").map(content) === before)
    assert(!new java.io.File(s"$iroot/.compact_tmp_2").exists())
  }

  test("a marker surviving the rename never deletes the committed copy") {
    // r10 regression (ADVICE high): crash AFTER rename(tmp, dest) but
    // BEFORE the marker delete leaves marker present, tmp gone, and
    // dest as the ONLY copy. The old roll-forward deleted every
    // batch_id <= upTo — including dest — permanently losing all rows.
    val st = state()
    CorpusIngest.ingestBatch(docsDf(1L -> texts(1), 2L -> texts(2)), 0L, st)
    CorpusIngest.ingestBatch(docsDf(3L -> texts(3)), 1L, st)
    def content(sub: String) = readState(st, sub).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val before = Seq("corpus", "index", "dups").map(content)
    CorpusIngest.compactState(spark, st, upTo = 1L) // completes cleanly
    // re-create the marker in every table root: exactly the
    // crash-between-rename-and-marker-delete window
    Seq("corpus", "index", "dups").foreach { sub =>
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$st/$sub", ".compact_commit_1"))
    }
    CorpusIngest.compactState(spark, st, upTo = 1L)
    assert(Seq("corpus", "index", "dups").map(content) === before,
      "dest is the committed copy — recovery must keep it, not delete it")
    Seq("corpus", "index", "dups").foreach { sub =>
      assert(!new java.io.File(s"$st/$sub/.compact_commit_1").exists())
      assert(new java.io.File(s"$st/$sub/batch_id=1").exists())
    }
  }

  test("a stale marker from an EARLIER upTo is healed before a larger compaction") {
    // r10 regression (ADVICE medium): crash mid-delete during
    // compactState(upTo=1) — tmp_1 complete, marker_1 cut, batch_id=0
    // already deleted — followed by compactState(upTo=2). The old code
    // only looked for upTo=2's marker/tmp, so the rebuild read the
    // partially-deleted old set and silently dropped batch 0's rows.
    val st = state()
    CorpusIngest.ingestBatch(docsDf(1L -> texts(1), 2L -> texts(2)), 0L, st)
    CorpusIngest.ingestBatch(docsDf(3L -> texts(3)), 1L, st)
    CorpusIngest.ingestBatch(docsDf(4L -> texts(4)), 2L, st)
    def content(sub: String) = readState(st, sub).drop("batch_id")
      .collect().map(_.toSeq).toSet
    val before = Seq("corpus", "index", "dups").map(content)
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmrf)); p.delete()
    }
    // hand-construct the upTo=1 crash in `corpus`
    val root = s"$st/corpus"
    spark.read.parquet(s"$root/batch_id=0", s"$root/batch_id=1")
      .repartition(1).write.parquet(s"$root/.compact_tmp_1")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, ".compact_commit_1"))
    rmrf(new java.io.File(s"$root/batch_id=0"))

    CorpusIngest.compactState(spark, st, upTo = 2L)
    assert(Seq("corpus", "index", "dups").map(content) === before,
      "the stale upTo=1 swap must roll forward before the upTo=2 rebuild reads olds")
    assert(!new java.io.File(s"$root/.compact_commit_1").exists())
    assert(!new java.io.File(s"$root/.compact_tmp_1").exists())
    // everything <= 2 now sits in one partition per table
    Seq("corpus", "index", "dups").foreach { sub =>
      val dirs = new java.io.File(s"$st/$sub").listFiles()
        .count(_.getName.startsWith("batch_id="))
      assert(dirs === 1, s"$sub should hold exactly batch_id=2 after compaction")
    }
  }

  test("restart from the checkpoint replays the crashed batch; corpus and index stay exactly-once") {
    // the operational question the events sink already answers, asked
    // of the dedup ingest: kill the stream in the window between the
    // batch's state writes and its checkpoint commit, restart, and
    // every novel doc must sit in corpus AND index exactly once, with
    // the replayed batch screened against exactly the state its first
    // attempt saw. Spark writes offsets/N before executing batch N and
    // commits/N after — deleting the newest commit marker reproduces
    // that crash window faithfully (the StreamingSpec recipe).
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_eo").toString
    val st = s"$root/state"
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def addFile(rows: (Long, String)*): Unit =
      docsDf(rows: _*).repartition(1).write.mode("append").parquet(s"$root/drop")
    def stream() = CorpusIngest.start(
      spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/drop"),
      st, s"$root/ck")
    def dropNewestCommit(): Unit = {
      val dir = new java.io.File(s"$root/ck/commits")
      val newest = dir.listFiles().filter(_.getName.forall(_.isDigit))
        .sortBy(_.getName.toInt).last
      new java.io.File(dir, s".${newest.getName}.crc").delete()
      newest.delete()
    }

    addFile(1L -> texts(1), 2L -> texts(2))            // batch 0: both novel
    addFile(3L -> texts(3), 5L -> texts(2))            // batch 1: 3 novel, 5 dups indexed 2
    val q1 = stream(); q1.processAllAvailable(); q1.stop()
    dropNewestCommit()                                 // crash before batch 1's commit
    addFile(6L -> texts(1), 7L -> texts(7))            // batch 2: 6 dups indexed 1, 7 novel
    val q2 = stream(); q2.processAllAvailable(); q2.stop() // replays 1, then runs 2

    val corpus = readState(st, "corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(corpus.sorted === Seq(1L, 2L, 3L, 7L),
      s"each novel doc exactly once after replay, got $corpus")
    val idx = readState(st, "index")
      .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
    assert(idx.map(_.getLong(0)).toSet === corpus.toSet,
      "index must cover exactly the kept corpus")
    assert(idx.forall(_.getLong(1) === 4L),
      "replay must not double any doc's band keys")
    val dups = readState(st, "dups")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dups === Map(5L -> 2L, 6L -> 1L))
  }

  test("AvailableNow maintained ingestion drains, compacts between batches, self-terminates, resumes") {
    // r15 verdict task 6: the maintenance a long-running ingest defers
    // to a nightly job runs BETWEEN micro-batches instead —
    // Trigger.AvailableNow drains the drop-zone one file per batch,
    // maintainThenIngest collapses committed batch partitions every
    // compactEvery-th batch and bin-packs live partitions otherwise,
    // and a later invocation resumes from the checkpoint.
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_mnt").toString
    val st = s"$root/state"
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def addFile(rows: (Long, String)*): Unit =
      docsDf(rows: _*).repartition(1).write.mode("append").parquet(s"$root/drop")
    def run(): Unit = {
      val q = CorpusIngest.maintainAvailableNow(
        spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/drop"),
        st, s"$root/ck", compactEvery = 2)
      q.awaitTermination() // AvailableNow self-terminates at the drain
    }
    addFile(1L -> texts(1), 2L -> texts(2)) // batch 0: novel
    addFile(3L -> texts(3), 5L -> texts(2)) // batch 1: 3 novel, 5 dups 2
    addFile(4L -> texts(4))                 // batch 2: novel (compacts 0..1)
    run()
    val corpus = readState(st, "corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(corpus === Set(1L, 2L, 3L, 4L))
    assert(readState(st, "dups").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(5L -> 2L))
    // batch 2's pass collapsed batches 0..1 into batch_id=1
    def dirs(sub: String) = new java.io.File(s"$st/$sub").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(Seq("corpus", "index", "dups").map(dirs) === Seq(2, 2, 2),
      "batches 0..1 must have collapsed during the drain")
    // resume: new backlog, new invocation, same checkpoint
    addFile(6L -> texts(1), 7L -> texts(7)) // batch 3: 6 dups 1, 7 novel
    run()
    assert(readState(st, "corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 7L))
    assert(readState(st, "dups").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(5L -> 2L, 6L -> 1L))
    val idx = readState(st, "index")
      .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
    assert(idx.map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 7L))
    assert(idx.forall(_.getLong(1) === 4L))
  }

  test("maintained batch: an injected crash between batch and compaction replays safely at EVERY fs mutation") {
    // the CrashPointSpec injection applied to the streaming-side
    // composition (r15 verdict task 6): one maintained micro-batch =
    // maintenance (heal -> collapse/pack) + ingest in one foreachBatch
    // replay domain. FailingRawFs counts the composed op's fs
    // mutations, then a crash is injected after EVERY prefix — covering
    // every window between the previous batch's writes and this one's
    // compaction, inside the compaction, and inside the ingest — and
    // the foreachBatch REPLAY (same rows, same batchId) must converge
    // to the crash-free state with no debris.
    spark.sparkContext.hadoopConfiguration
      .set("fs.failing.impl", classOf[FailingRawFs].getName)
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmrf)); p.delete()
    }
    def resetWork(template: String, work: String): Unit = {
      rmrf(new java.io.File(work))
      val src = java.nio.file.Paths.get(template)
      val dst = java.nio.file.Paths.get(work)
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val template = java.nio.file.Files.createTempDirectory("graft_mnt_tpl").toString
    rmrf(new java.io.File(template))
    FailingRawFs.reset(Long.MaxValue)
    // batches 0..1 land unmaintained (many per-batch dirs and small
    // files for batch 2's maintenance to work on)
    CorpusIngest.ingestBatch(
      docsDf(1L -> texts(1), 2L -> texts(2)), 0L, s"failing://$template")
    CorpusIngest.ingestBatch(
      docsDf(3L -> texts(3), 5L -> texts(2)), 1L, s"failing://$template")
    val batch2 = docsDf(4L -> texts(4), 6L -> texts(1))

    def content(root: String, sub: String) =
      spark.read.parquet(s"$root/$sub").drop("batch_id")
        .collect().map(_.toSeq).toSet
    // crash-free twin fixes the expected rows AND the mutation budget
    val clean = java.nio.file.Files.createTempDirectory("graft_mnt_cln").toString
    resetWork(template, clean)
    FailingRawFs.reset(Long.MaxValue)
    CorpusIngest.maintainThenIngest(batch2, 2L, s"failing://$clean", compactEvery = 2)
    val m = FailingRawFs.mutations
    assert(m > 20, s"expected a rich mutation trace to sweep, got $m")
    val expected = Seq("corpus", "index", "dups").map(s => s -> content(clean, s))
    assert(expected.forall(_._2.nonEmpty))
    assert(content(clean, "dups").map(_.take(2)) ===
      Set(Seq(5L, 2L), Seq(6L, 1L)))

    val work = java.nio.file.Files.createTempDirectory("graft_mnt_wrk").toString
    for (k <- 0L until m) {
      resetWork(template, work)
      FailingRawFs.reset(k)
      val died =
        try {
          CorpusIngest.maintainThenIngest(batch2, 2L, s"failing://$work", compactEvery = 2)
          false
        } catch {
          case t: Throwable =>
            val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
              .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
            assert(chain.contains(FailingRawFs.CrashMessage),
              s"crash point $k/$m failed for a non-injected reason: $chain")
            true
        }
      assert(died, s"crash point $k/$m: budget $k did not fire")
      // the foreachBatch replay: same rows, same batchId, full budget
      FailingRawFs.reset(Long.MaxValue)
      CorpusIngest.maintainThenIngest(batch2, 2L, s"failing://$work", compactEvery = 2)
      expected.foreach { case (sub, want) =>
        assert(content(work, sub) === want,
          s"crash point $k/$m: $sub rows diverged after replay")
        val debris = new java.io.File(s"$work/$sub").listFiles().map(_.getName)
          .filter(n => n.startsWith(".compact_tmp") || n.startsWith(".compact_commit")
            || n.contains("_swap_journal"))
        assert(debris.isEmpty, s"crash point $k/$m: $sub debris ${debris.mkString(",")}")
      }
    }
    rmrf(new java.io.File(template)); rmrf(new java.io.File(clean))
    rmrf(new java.io.File(work))
  }

  test("the streaming wiring drives the same per-batch path end-to-end") {
    val st = state()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, String)]
    val q = CorpusIngest.start(
      src.toDF().toDF("doc_id", "text"), st,
      java.nio.file.Files.createTempDirectory("graft_ingest_ck").toString)
    try {
      src.addData(1L -> texts(1), 2L -> texts(2), 5L -> texts(2))
      q.processAllAvailable()
      src.addData(6L -> texts(1), 7L -> texts(7))
      q.processAllAvailable()
    } finally q.stop()
    val dups = readState(st, "dups")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dups === Map(5L -> 2L, 6L -> 1L))
    assert(readState(st, "corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 7L))
  }

  test("each batch's index partition equals buildDedupIndex of its corpus partition; batches cache nothing") {
    val st = state()
    def cached() = org.apache.spark.sql.CachedDataProbe.entries(spark)
    val cachedBefore = cached()
    // within-batch copy (5 of 2), cross-batch copies (6 of 1, 8 of 3)
    val batches = Seq(
      Seq(1L -> texts(1), 2L -> texts(2), 5L -> texts(2)),
      Seq(3L -> texts(3), 6L -> texts(1)),
      Seq(4L -> texts(4), 7L -> texts(7), 8L -> texts(3)))
    def keyRows(path: String) = spark.read.parquet(path).select("doc_id", "band_key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    batches.zipWithIndex.foreach { case (rows, n) =>
      CorpusIngest.ingestBatch(docsDf(rows: _*), n.toLong, st)
      val ref = s"${state()}/index"
      graft.operators.Dedup.buildDedupIndex(spark.read.parquet(s"$st/corpus/batch_id=$n"), ref)
      val got = keyRows(s"$st/index/batch_id=$n")
      assert(got.nonEmpty)
      assert(got === keyRows(ref), s"batch $n index rows differ from buildDedupIndex")
    }
    assert(readState(st, "dups").select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(5L, 6L, 8L))
    assert(cached() === cachedBefore,
      "ingestBatch must leave no entries in the session's cached-data registry")
  }
}
