package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import scala.collection.immutable.ListMap

/** Continuous corpus ingestion with ONLINE near-dedup — the streaming
  * closure of the L2c incremental-dedup loop: every micro-batch of
  * arriving documents is screened against the persisted band-key
  * index ([[graft.operators.Dedup.buildDedupIndex]] layout), duplicate
  * docs are quarantined with their matched partner, and novel docs
  * extend BOTH the kept corpus and the index — so the next batch is
  * screened against everything kept so far, with signature work per
  * batch ∝ batch size, never corpus size.
  *
  * State layout under `statePath` (all three are plain parquet tables
  * partitioned by `batch_id`):
  *   - `corpus/`  (doc_id, text)           — kept (novel) docs
  *   - `index/`   (doc_id, band_key)       — their LSH band keys
  *   - `dups/`    (doc_id, dup_of, n_common, jaccard) — quarantine log
  *
  * EXACTLY-ONCE: the same idempotent recipe as
  * [[EventsStreaming.warehouseSinkExactlyOnce]] — each batch lands in
  * its own `batch_id=N` partition with mode=overwrite, and every READ
  * of prior state filters `batch_id < N`, so a replayed batch sees
  * exactly the state its first attempt saw and overwrites its own
  * output instead of appending a duplicate (ingestBatch is
  * deterministic in (rows, batchId) — spec-asserted by double-apply).
  *
  * Arrival order inside a batch is doc_id order (the cross-batch
  * order is batch order); a delta doc's chosen partner is an indexed
  * doc first, then the earliest same-batch doc. A same-batch partner
  * may itself have been quarantined (both collided with nothing
  * indexed but with each other) — the kept corpus stays dup-free
  * either way. */
object CorpusIngest {

  /** The state tables and their columns as [[ingestBatch]] writes them
    * (`batch_id` is the partition column). Every read of engine-owned
    * state uses these, so no read pays a parquet schema-inference job. */
  private[graft] val StateTables: ListMap[String, StructType] = ListMap(
    "corpus" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))),
    "index" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("band_key", StringType))),
    "dups" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("dup_of", LongType),
      StructField("n_common", LongType), StructField("jaccard", DoubleType))))

  /** Apply one micro-batch to the dedup state — deterministic and
    * idempotent per (batch rows, batchId). Public so a batch backfill
    * can drive the exact same code path as the stream.
    *
    * Each batch is signed ONCE: [[graft.operators.Dedup.signDelta]]
    * collects the delta's band keys into a local relation,
    * [[graft.operators.Dedup.screenDelta]] screens them against the
    * prior state with work bounded by the batch (the index restricted to
    * the delta's band keys before the one band_key shuffle; the prior
    * corpus streamed once, unshuffled, through a broadcast join with the
    * candidate pairs, only candidate docs tokenized). The dup ids — at
    * most the batch's docs — are collected once from the written `dups`
    * partition, and the corpus and index partitions are the batch and
    * its local keys minus those ids: `index/batch_id=N` is
    * row-identical to a [[graft.operators.Dedup.buildDedupIndex]] of
    * `corpus/batch_id=N` (spec-asserted), written as one file without
    * re-reading or re-signing anything. State is read with
    * [[StateTables]]' schemas, and nothing is cached. */
  def ingestBatch(batch: DataFrame, batchId: Long, statePath: String): Unit = {
    val spark = batch.sparkSession
    val docs = batch.select(col("doc_id"), col("text"))

    def priorState(sub: String): DataFrame = {
      val root = new org.apache.hadoop.fs.Path(s"$statePath/$sub")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(root))
        spark.read.schema(StateTables(sub).add("batch_id", LongType)).parquet(root.toString)
          .filter(col("batch_id") < batchId).drop("batch_id")
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), StateTables(sub))
    }

    val keys = Dedup.signDelta(docs)
    val dupsPath = s"$statePath/dups/batch_id=$batchId"
    Dedup.screenDelta(priorState("index"), priorState("corpus"), docs, keys)
      .write.mode("overwrite").parquet(dupsPath)

    // read back from the materialized partition, never re-planned
    val dupIds = spark.read.schema(StateTables("dups")).parquet(dupsPath)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val novel = !col("doc_id").isin(dupIds.toSeq: _*)
    docs.filter(novel)
      .write.mode("overwrite").parquet(s"$statePath/corpus/batch_id=$batchId")
    keys.filter(novel).coalesce(1)
      .write.mode("overwrite").parquet(s"$statePath/index/batch_id=$batchId")
  }

  /** Compact accumulated `batch_id` partitions — the small-files
    * maintenance every per-batch-partitioned sink eventually needs
    * (thousands of batches × 3 tables × shuffle-partition files each
    * would otherwise dominate listing and open() cost at 100 TB).
    * Batches `<= upTo` collapse into ONE `batch_id=upTo` partition per
    * table, preserving the state the reads depend on: any batch
    * `N > upTo` filters `batch_id < N`, which still covers the
    * compacted partition, and a replay of batch `upTo + 1` sees
    * exactly the state its first attempt saw. Any `upTo` at most the
    * latest COMMITTED batch is safe: Spark only ever replays the
    * batch after the last committed one, and that replay reads
    * `batch_id < upTo + 1` — the compacted partition verbatim. The
    * partitions are read with the [[StateTables]] schemas (no
    * schema-inference job) and rewritten without a shuffle.
    *
    * Crash discipline (r9 — the Warehouse SwapJournal argument applied
    * to directory swaps; the pre-r9 form could rebuild the tmp from a
    * PARTIALLY-deleted old set after a crash mid-delete, silently and
    * permanently losing the already-deleted batches' rows): the
    * rewrite lands in a dot-prefix tmp dir (invisible to parquet
    * readers), then a COMMIT MARKER file is created, then the olds are
    * deleted and the tmp renamed in, then the marker is removed.
    * Recovery at the start of every call heals EVERY marker/tmp found
    * under the root — not just the current `upTo`'s (a crash mid-swap
    * at upTo' followed by a call at a larger upTo must first finish
    * the upTo' swap, or the rebuild would read a partially-deleted old
    * set). One rule per id — the marker's presence says whose copy is
    * authoritative:
    *  · marker present, tmp present: the tmp was COMPLETE before the
    *    marker was written — delete the olds, rename the tmp in, drop
    *    the marker — ROLL FORWARD;
    *  · marker present, tmp ABSENT: the rename already happened and
    *    only the marker delete was lost — `batch_id=id` IS the
    *    committed (possibly only) copy; delete the other olds and
    *    drop the marker, never the dest;
    *  · tmp with no marker: the tmp may be a torn write and every old
    *    partition is still intact — delete the tmp — ROLL BACK.
    * Readers mid-swap see at least one complete copy of every row
    * (olds until the delete, the renamed dest after), and re-running
    * with ANY `upTo` after any crash converges. */
  def compactState(spark: org.apache.spark.sql.SparkSession, statePath: String,
      upTo: Long, targetFiles: Int = 1): Unit =
    StateTables.foreach { case (sub, schema) =>
      val root = new org.apache.hadoop.fs.Path(s"$statePath/$sub")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(root)) {
        val tmp = new org.apache.hadoop.fs.Path(root, s".compact_tmp_$upTo")
        val marker = new org.apache.hadoop.fs.Path(root, s".compact_commit_$upTo")
        val dest = new org.apache.hadoop.fs.Path(root, s"batch_id=$upTo")
        def olds() = fs.listStatus(root).toSeq.map(_.getPath)
          .filter { p =>
            val n = p.getName
            n.startsWith("batch_id=") && n.stripPrefix("batch_id=").toLong <= upTo
          }
        recoverSwaps(fs, root)
        if (olds().size > 1) {
          // coalesce, not repartition (the trade Sinks.appendParquetSized
          // makes the other way): the producing side is a plain scan of
          // the partitions being collapsed, so fusing it into the writer
          // costs only read parallelism, where a repartition would
          // shuffle the whole compacted state; at most targetFiles files
          spark.read.schema(schema).parquet(olds().map(_.toString): _*)
            .coalesce(targetFiles)
            .write.mode("overwrite").parquet(tmp.toString)
          fs.create(marker, true).close() // commit point: tmp is authoritative
          olds().foreach(p => fs.delete(p, true))
          if (!fs.rename(tmp, dest))
            throw new java.io.IOException(
              s"compactState: rename $tmp -> $dest returned false; the commit marker " +
                "remains — re-running compactState (same upTo) rolls the swap forward")
          fs.delete(marker, false)
        }
      }
    }

  /** Heal every interrupted swap under `root`, whatever `upTo` it was
    * started with (see the crash-discipline note on [[compactState]]).
    * Keyed by the id embedded in the marker/tmp names; the marker is
    * the commit point, and a marker surviving the rename means
    * `batch_id=id` is the committed — possibly only — copy, so the
    * roll-forward must never delete it. */
  private def recoverSwaps(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val entries = fs.listStatus(root).toSeq.map(_.getPath)
    def ids(prefix: String) = entries
      .filter(_.getName.startsWith(prefix))
      .map(_.getName.stripPrefix(prefix).toLong)
    val markerIds = ids(".compact_commit_")
    markerIds.foreach { id =>
      val tmp = new org.apache.hadoop.fs.Path(root, s".compact_tmp_$id")
      val marker = new org.apache.hadoop.fs.Path(root, s".compact_commit_$id")
      val dest = new org.apache.hadoop.fs.Path(root, s"batch_id=$id")
      val olds = fs.listStatus(root).toSeq.map(_.getPath).filter { p =>
        val n = p.getName
        n.startsWith("batch_id=") && n.stripPrefix("batch_id=").toLong <= id
      }
      if (fs.exists(tmp)) {
        // roll FORWARD: tmp was complete when the marker was cut
        olds.foreach(p => fs.delete(p, true))
        if (!fs.rename(tmp, dest))
          throw new java.io.IOException(
            s"compactState recovery: rename $tmp -> $dest failed")
      } else {
        // rename already done; only the marker delete was lost — dest
        // holds the committed rows, clear any stragglers around it
        olds.filterNot(_.getName == dest.getName).foreach(p => fs.delete(p, true))
      }
      fs.delete(marker, false)
    }
    // tmps with NO marker are torn writes; every old is intact — discard
    val committed = markerIds.toSet
    entries.filter { p =>
      p.getName.startsWith(".compact_tmp_") &&
        !committed.contains(p.getName.stripPrefix(".compact_tmp_").toLong)
    }.foreach(p => fs.delete(p, true))
  }

  /** Heal-only pass: run [[recoverSwaps]] under every state table root
    * without rebuilding anything — the cheap guard a maintenance pass
    * runs before ANY state read when the previous invocation may have
    * died mid-swap (the dot-prefixed tmp is invisible to parquet
    * readers, but a crash mid-DELETE leaves a partially-removed old
    * set that a raw read would silently miss rows from). */
  private[graft] def recoverState(
      spark: org.apache.spark.sql.SparkSession, statePath: String): Unit =
    StateTables.foreach { case (sub, _) =>
      val root = new org.apache.hadoop.fs.Path(s"$statePath/$sub")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(root)) recoverSwaps(fs, root)
    }

  /** One maintained micro-batch — the streaming closure of the index
    * MAINTENANCE lifecycle (r15 verdict task 6): the maintenance that
    * a long-running ingestion otherwise defers to a separate nightly
    * job runs BETWEEN micro-batches, inside the same foreachBatch
    * replay domain, in strict heal-read order:
    *
    *  1. every `compactEvery`-th batch, [[compactState]] collapses the
    *     committed `batch_id` partitions (≤ batchId − 1 — batchId
    *     itself is uncommitted, so a replay still reads exactly the
    *     state its first attempt saw);
    *  2. other batches heal interrupted swaps ([[recoverState]]) and
    *     bin-pack the small files INSIDE each live partition via the
    *     journaled [[graft.sources.Warehouse.compactPartitionedSmallFiles]]
    *     — the `Similarity.compactIndex` discipline applied to the
    *     dedup-index layout (partition set unchanged, per-dir swap
    *     journal, content-preserving);
    *  3. only THEN does [[ingestBatch]] read prior state.
    *
    * Replay safety is the composition of each step's own contract:
    * maintenance precedes every read and each maintenance op recovers
    * its own journal first, so a crash at ANY fs mutation — mid-pack,
    * mid-collapse, mid-ingest — leaves a state the replayed invocation
    * first heals and then reads bit-identically (CorpusIngestSpec
    * sweeps every crash point mechanically, the CrashPointSpec
    * injection). */
  def maintainThenIngest(batch: DataFrame, batchId: Long, statePath: String,
      compactEvery: Int = 4, targetFiles: Int = 1,
      packSmallBytes: Long = 4L << 20): Unit = {
    val spark = batch.sparkSession
    if (batchId > 0) {
      if (batchId % compactEvery == 0) {
        // compactState runs recoverSwaps itself before touching olds
        compactState(spark, statePath, upTo = batchId - 1, targetFiles)
      } else {
        recoverState(spark, statePath)
        StateTables.foreach { case (sub, _) =>
          val root = new org.apache.hadoop.fs.Path(s"$statePath/$sub")
          val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(root)) {
            graft.sources.Warehouse.compactPartitionedSmallFiles(
              spark, s"$statePath/$sub", packSmallBytes)
            ()
          }
        }
      }
    }
    ingestBatch(batch, batchId, statePath)
  }

  /** Start the ingestion stream over a (doc_id, text) source. */
  def start(docs: DataFrame, statePath: String, checkpoint: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, statePath)
      }
      .start()

  /** Bounded MAINTAINED ingestion run — `Trigger.AvailableNow` drains
    * the backlog in rate-limited micro-batches through
    * [[maintainThenIngest]] and self-terminates; the next invocation
    * resumes from the checkpoint (the cron-shaped backfill mode of
    * [[EventsStreaming.backfillAvailableNow]], here carrying the index
    * maintenance between its micro-batches as well). */
  def maintainAvailableNow(docs: DataFrame, statePath: String, checkpoint: String,
      compactEvery: Int = 4): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainThenIngest(batch, batchId, statePath, compactEvery)
      }
      .start()
}
