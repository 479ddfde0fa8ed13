package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Distributed.StageSyntax

/** Near-duplicate detection (SURVEY.md §2.3 L2–L4): MinHash+LSH and
  * SimHash, both bucketed — candidate pairs come from a shuffle on a
  * band/bucket key, NEVER from an all-pairs cross join. That is the
  * 100 TB contract: work is O(docs × shingles) + O(pairs-in-bucket),
  * and every stage is a keyed shuffle Spark can partition freely.
  *
  * Hashing scheme (portable AND cheap): ONE md5 per shingle, split
  * into two 32-bit words h1,h2; the k-th minhash permutation is
  * g_k = (h1 + k*h2) mod 2^32 (Kirsch–Mitzenmacher double hashing).
  * Signatures are then plain MIN/SUM aggregate expressions — no
  * row-per-seed/bit explosion. The first version exploded 12 seeds
  * (resp. 32 bits) into rows and recomputed md5 per row: 30s/20s at
  * sf0.1; this form cuts that to one md5 per shingle and one shuffle.
  * md5 is the one hash DuckDB reproduces bit-for-bit (SURVEY.md §4);
  * Spark xxhash64 / DuckDB hash() are different algorithms.
  *
  * Methods (public literature): MinHash resemblance sketches (Broder,
  * "On the resemblance and containment of documents", 1997); banded
  * LSH (Indyk & Motwani, STOC 1998; Leskovec/Rajaraman/Ullman, Mining
  * of Massive Datasets ch.3); double hashing for the hash family
  * (Kirsch & Mitzenmacher, ESA 2006); SimHash (Charikar, STOC 2002;
  * Manku et al., WWW 2007 for the hamming-block candidate trick).
  */
object Dedup {

  private[operators] val ShingleLen = 5 // tokens per shingle
  private val NumHashes = 12 // minhash signature length
  private val NumBands = 4 // LSH bands (3 rows per band)
  private val RowsPerBand = NumHashes / NumBands
  private val JaccardThreshold = 0.7

  /** Fixed audit-sample size for dedup_audit — corpus-size-independent
    * by construction (md5-ordered LIMIT). */
  private val AuditSample = 200
  private[operators] val Mod = 4294967296L // 2^32
  // Cap on shingle start positions per doc — MUST match the oracle's
  // generate_series(0, 4095) bound or long docs diverge cross-engine.
  private[operators] val MaxShingleStarts = 4096
  // Hot-bucket cap: an LSH band bucket holding more docs than this is
  // dropped before its pairs are generated. A boilerplate band shared
  // by f docs fans out f²/2 candidate pairs — the classic web-scale
  // dedup hot bucket; past this size the bucket carries no near-dup
  // signal anyway. Mirrored in the oracle; never fires on the synthetic
  // corpus (max shingle doc-frequency there is 4), so it's purely the
  // 100 TB guard.
  private[graft] val MaxBucketDocs = 200
  // Min-label propagation rounds for dedup_clusters. Each round
  // combines a neighbor-min step with a pointer-jump (label := my
  // label's own label), so the covered graph distance DOUBLES per
  // round on ascending-id chains (2^r after r rounds = 32 here); the
  // r16 optimization (guide §1.2 step 1 — each round is a
  // duplicate-mass-sized shuffle + eager checkpoint, and the per-round
  // job round-trip dominated dedup_clusters' wall: 64 jobs at bench
  // scale): 3 fixed rounds instead of 5. Near-dup clusters are dense —
  // LSH links most member pairs directly, so real diameters are 1-2
  // (the sf0.01 corpus maxes at 2) and 2^3 = 8 covers ascending-id
  // layouts with margin; the adversarial permuted layouts that needed
  // rounds 4-5 (DedupClustersSpec's diameter-16 zig-zag chain) now buy
  // them from the FIXPOINT CHECK + bounded adaptive tail in
  // clusterLabels instead of every corpus paying for them up front —
  // an outlier component can buy up to MaxExtraRounds more, and true
  // non-convergence is a loud error, never silently split clusters.
  // (The fixpoint test is one keyed self-join over the label table —
  // cheap next to a propagation round; the spec's chains still
  // resolve, two jobs later, via the tail.)
  private[operators] val PropagationRounds = 3

  /** Shared oracle CTEs: shingles + per-shingle 32-bit hash words. */
  private val shingleCtes =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i.i + 1:i.i + $ShingleLen], ' ') AS shingle
       |       FROM t, generate_series(0, ${MaxShingleStarts - 1}) i(i)
       |       WHERE i.i <= greatest(len(tk) - $ShingleLen, 0)),
       |hs AS (SELECT doc_id,
       |              CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h1,
       |              CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) AS h2
       |       FROM sh)""".stripMargin

  /** (doc_id, tk) with the text tokenized ONCE and the docs spread
    * across all cores. Both matter for the shingle stages: a `split`
    * referenced inside a higher-order-function lambda is re-evaluated
    * per array element (≈500× per doc — measured 4× slower end to
    * end), and a small-file scan otherwise runs the entire md5 stage
    * in one task (the sf0.1 corpus is a single ~50 MB parquet file;
    * at cluster scale the repartition also decouples parallelism from
    * upstream file layout for what is the most compute-dense map stage
    * in the engine). */
  private[operators] def tokenized(docs: DataFrame, spread: Boolean = true): DataFrame = {
    // md5_words rides every downstream shingle expression — register
    // it with the session at the scan so tk relations arrive ready
    graft.functions.VecExpressions.register(docs.sparkSession)
    // EXPLICIT partition count on CORPUS-SCALE inputs (r17): a bare
    // repartition(col) lets AQE re-coalesce the reader by SHUFFLE
    // BYTES — and the doc relation is tiny in bytes (≈1 MB compressed
    // at sf0.1 → ONE reducer) while the downstream shingle/md5 stage is
    // the most compute-dense map in the engine (~500 digests/doc):
    // profiled in text_ngram_jaccard, the whole tokenize→shingle→
    // distinct stage ran in a single 3.7 s task. Pinning to the
    // session's shuffle parallelism restores the spread this
    // repartition exists for; it stays scale-adaptive because
    // shuffle.partitions derives from the deployment (the bench/Verify
    // wire it to $SPARK_GRAFT_CPUS).
    //
    // `spread = false` keeps the AQE-coalescable form for BOUNDED
    // inputs (the 100-doc incremental delta / audit sample): there the
    // per-task constant (~0.07 executor-cpu-s + scheduler latency per
    // task wave) dwarfs the work, and the A/B showed pinning those
    // seats cost ~+1.2 s wall and +9 cpu-s each for nothing.
    val spreadDocs =
      if (spread)
        docs.repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
          col("doc_id"))
      else docs.repartition(col("doc_id"))
    spreadDocs.withColumn("tk", split(col("text"), " ")).drop("text")
  }

  /** Split-only tokenization WITHOUT [[tokenized]]'s doc_id
    * repartition, for BOUNDED relations: the delta batch ([[signDelta]])
    * and the docs the incremental verify's broadcast candidate join
    * matched ([[incrementalVerdict]], which splits only after that join,
    * so unmatched corpus text is streamed past and never tokenized).
    * The full pipeline keeps [[tokenized]] — it explodes every doc, so
    * co-partitioning up front is right. */
  private def tokenizedAtScan(docs: DataFrame): DataFrame = {
    graft.functions.VecExpressions.register(docs.sparkSession)
    docs.withColumn("tk", split(col("text"), " ")).drop("text")
  }

  /** Exploded PACKED shingle keys of `docs` (doc_id, text, …): one row
    * per distinct (doc_id, w), w = (h1 << 32) | h2 — the set semantics
    * the exact-Jaccard verify and SimHash bit sums need. Shingles are
    * joined by their 64-bit md5 prefix, not the strings: shuffling one
    * long beats shuffling 5-token strings, and a collision needs
    * ~2^32 shingles (oracle joins strings — the results agree unless
    * md5's 64-bit prefix collides). r16 packs the former (h1, h2)
    * two-long pair into one (bijective, so joins/counts unchanged). */
  private def hashKeys(docs: DataFrame): DataFrame =
    shingleKeySet(tokenized(docs))

  /** The per-doc shingle hash-WORD array expression over a `tk` column
    * — ONE definition shared by the signature stage and the verify
    * stage (the oracle mirrors it bit-for-bit, so the two Spark copies
    * must never drift from each other either). Each element is the
    * ARRAY<BIGINT> [h1, h2] of `md5_words` (graft.functions.Md5Words):
    * numerically identical to the conv(substring(md5(..), …), 16, 10)
    * pair every oracle replays, WITHOUT the 32-char hex encode and two
    * substring+conv parses per shingle — that round-trip was the
    * suite's largest CPU line at ~500 shingles/doc (r15 verdict
    * task 5; Md5Words' Scaladoc has the numbers). Callers must have
    * `md5_words` registered — [[tokenized]]/[[tokenizedAtScan]] do it
    * at the scan, so every tk relation arrives ready. */
  private[operators] val shingleWordsTransform: String =
    // r16 optimization (guide §1.2 step 2): the fused codegen'd form of
    //   transform(sequence(0, least(greatest(size(tk) - L, 0), max-1)),
    //             i -> md5_words(array_join(slice(tk, i + 1, L), ' ')))
    // — bit-identical values (VectorOpsSpec pins the equality), but one
    // static call per document instead of ~500 interpreted lambda
    // dispatches + slice/array_join allocations per shingle.
    s"shingle_words(tk, $ShingleLen, $MaxShingleStarts)"

  /** The PACKED form (one (h1 << 32) | h2 long per shingle —
    * [[graft.functions.ShingleKeys]]): for consumers that only ever
    * test shingle EQUALITY (exploded membership/self-joins), where one
    * 8-byte key shuffles and compares for the word pair (r16, guide
    * §2.3 "narrower types"). Bijective with the pair, so joins,
    * distincts and counts are unchanged. The ARRAY form above stays
    * for the signature stages that need h1/h2 separately. */
  private[graft] val shingleKeysTransform: String =
    s"shingle_keys(tk, $ShingleLen, $MaxShingleStarts)"

  /** Exploded distinct PACKED shingle keys of a tokenized relation:
    * one (doc_id, w) row per distinct shingle (r16 — the old
    * (doc_id, h1, h2) triple carried two longs where the packed
    * bijection carries one). */
  private def shingleKeySet(tok: DataFrame): DataFrame =
    tok
      .select(col("doc_id"), explode(expr(shingleKeysTransform)).as("w"))
      .distinct()

  /** Verified near-duplicate pairs (doc_a < doc_b, jaccard >= 0.7).
    * Scale shape, stage by stage:
    *  - signatures are PER-DOC ARRAY EXPRESSIONS (`array_min` over the
    *    transformed shingle-hash array) — a map-only stage with NO
    *    explode and NO shuffle; MIN is duplicate-insensitive so the
    *    shingle-set distinct isn't needed here. (The exploded form of
    *    this stage cost a full-corpus shuffle of the ~500×-bigger
    *    shingle relation.)
    *  - banded LSH candidates: 4 rows/doc, paired inside each band
    *    bucket off ONE band_key shuffle, hot buckets capped by a window
    *    count ([[bucketPairs]]: an overflowing band bucket fans out
    *    quadratically and carries no near-dup signal).
    *  - exact-Jaccard verification builds one shingle-key array ONLY
    *    for docs that appear in some candidate pair — a semi-join
    *    filter first, so verify work scales with true duplicate mass,
    *    not corpus size ([[verifiedPairs]]).
    * Shared by dedup_minhash and dedup_clusters. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    // cached: the signature stage and the verify stage each need the
    // tokenized docs — one scan+split+repartition instead of two
    minhashPairsFrom(tokenized(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))).cache())

  /** Same, over a caller-provided (doc_id, tk) relation — the caller
    * owns caching (corpus_keep shares ONE tokenized scan across its
    * dedup, decontamination, and per-row gate pipelines). */
  private[operators] def minhashPairsFrom(tok: DataFrame): DataFrame = {
    // every doc "new": the bucket generator then pairs a.doc_id <
    // b.doc_id within each capped bucket — the plain LSH self-join.
    // localCheckpoint (the pareto_class rule): cand is duplicate-mass
    // sized, the cheapest relation in the pipeline to pin, and the
    // pin keeps every re-execution of the verified pairs downstream
    // from repeating the signature stage (≈500 md5s + 12 minhash folds
    // per doc)
    val cand = bucketPairs(bandKeysFrom(tok).withColumn("is_new", lit(true)))
      .select(col("da"), col("db"))
      .stage()

    verifiedPairs(cand, tok)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("n_common"), col("jaccard"))
  }

  /** (doc_id, band_key) LSH band keys of a tokenized relation — 4 rows
    * per doc off a map-only array-expression signature stage (the
    * `array_min` form: NO explode, NO shuffle). This relation is also
    * the persisted payload of the incremental-dedup index
    * ([[buildDedupIndex]]): band keys are all the candidate stage ever
    * needs from the already-screened corpus. */
  private[operators] def bandKeysFrom(tok: DataFrame): DataFrame = {
    val hsArr = tok
      .select(col("doc_id"), expr(shingleWordsTransform).as("hs"))
    // r16: ONE fused pass computes all NumHashes minima (bit-identical
    // to the per-k array_min(transform(...)) forms — VectorOpsSpec)
    val sig = hsArr
      .select(col("doc_id"), expr(s"minhash_sigs(hs, $NumHashes, $Mod)").as("sig"))
      .select(
        col("doc_id") +: (0 until NumHashes).map(k =>
          col("sig").getItem(k).as(s"mh$k")): _*)

    val bandKeys = (0 until NumBands).map { b =>
      val parts = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}").cast("string"))
      md5(concat(lit(s"$b:"), concat_ws("|", parts: _*)))
    }
    sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("band_key"))
  }

  /** Candidate pairs of a (doc_id, band_key, is_new) key relation from
    * ONE band_key shuffle: a window count over each bucket applies the
    * [[MaxBucketDocs]] hot-bucket cap (an overflowing bucket fans out
    * quadratically and carries no near-dup signal) before any bucket is
    * collected; each surviving bucket then collects its members and
    * emits its (a, b) pairs in one generator — b new, a indexed or an
    * earlier new doc (arrival order). Returns (da, db, da_is_new), the
    * partner's provenance bit riding along from the same is_new the
    * pair predicate read; a pair sharing several bands appears once per
    * band ([[verifiedPairs]] groups by pair, so it is scored once).
    * With every row new this is the plain a.doc_id < b.doc_id LSH
    * self-join. */
  private def bucketPairs(keys: DataFrame): DataFrame =
    keys
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("band_key"))))
      .filter(col("n") <= MaxBucketDocs)
      .groupBy(col("band_key"))
      .agg(collect_list(struct(col("doc_id"), col("is_new"))).as("m"))
      .select(explode(expr(
        """flatten(transform(filter(m, b -> b.is_new), b ->
          |  transform(filter(m, a -> NOT a.is_new OR a.doc_id < b.doc_id),
          |    a -> struct(a.doc_id AS da, b.doc_id AS db, a.is_new AS da_is_new))))"""
          .stripMargin)).as("p"))
      .select(col("p.da"), col("p.db"), col("p.da_is_new"))

  /** Exact-Jaccard verification of candidate `(da, db, …)` pairs over
    * a tokenized doc relation. The pair relation is read ONCE: each
    * pair fans out to its two docs, each candidate doc collects its
    * pairs and joins its tokens, its distinct packed shingle keys
    * (`array_distinct(shingle_keys(…))`) are computed once for the doc,
    * and the pairs regroup with both docs' arrays to be scored by
    * [[overlap]] — the same integers as exploding the shingle sets,
    * self-joining them per pair and counting, without the shingle-row
    * shuffles. Verify work scales with the true duplicate mass, not the
    * corpus; the tok join is left to AQE (broadcast while sparse, keyed
    * when a dup-heavy corpus makes the candidate set corpus-sized). A
    * pair whose doc is missing from `tok` drops, as under an inner join.
    * Returns cand's columns plus n_common and jaccard, one row per
    * distinct pair (duplicate cand rows collapse in the regroup),
    * filtered to jaccard >= [[JaccardThreshold]]. The incremental screen
    * verifies its bounded candidates with the same scoring through a
    * broadcast instead ([[incrementalVerdict]]). */
  private[graft] def verifiedPairs(cand: DataFrame, tok: DataFrame): DataFrame = {
    val cols = cand.columns.toSeq
    def keysOf(side: String) = max(when(col("doc_id") === col(s"p.$side"), col("w")))
    val (verified, nCommon, jaccard) = overlap(col("wa"), col("wb"))
    cand
      .select(struct(cols.map(col): _*).as("p"), explode(array(col("da"), col("db"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(collect_list(col("p")).as("ps"))
      .join(tok, Seq("doc_id"))
      // the key array is computed per DOC, before fanning out to its pairs
      .select(col("doc_id"), col("ps"), shingleKeyArray.as("w"))
      .select(col("doc_id"), explode(col("ps")).as("p"), col("w"))
      .groupBy(col("p")).agg(keysOf("da").as("wa"), keysOf("db").as("wb"))
      .filter(verified)
      .select(cols.map(c => col(s"p.$c")) ++ Seq(nCommon.as("n_common"), jaccard.as("jaccard")): _*)
  }

  /** A doc's distinct packed shingle keys, over its `tk` column. */
  private def shingleKeyArray: Column = array_distinct(expr(shingleKeysTransform))

  /** The exact-Jaccard scoring both verify paths share, over two docs'
    * [[shingleKeyArray]]s: (verified — both present and jaccard >=
    * [[JaccardThreshold]], n_common as BIGINT, jaccard quantized as the
    * oracle's). */
  private def overlap(wa: Column, wb: Column): (Column, Column, Column) = {
    val n = size(array_intersect(wa, wb))
    val jac = n.cast("double") / (size(wa) + size(wb) - n)
    (wa.isNotNull && wb.isNotNull && jac >= JaccardThreshold,
      n.cast("long"), graft.functions.Portable.quant6(jac))
  }

  // ---- L2c: incremental near-dedup (delta batch vs screened corpus) ----

  /** Synthetic "arrival" split for the oracle-checked query: a
    * FIXED-SIZE md5-order sample of doc_ids is the newly-arrived DELTA
    * batch, the rest are the already-screened corpus. Fixed at every
    * corpus size (SURVEY §5 — the pre-r14 `doc_id % 5` split was a 20%
    * corpus fraction, so the "delta", and with it the signature work
    * the incremental path exists to bound, grew with N); 100 = that
    * split's size at the sf0.01 oracle gate, so the gate workload is
    * unchanged. The md5 key is 'd'-prefixed (the Similarity sample-key
    * convention). A real deployment passes its own delta (yesterday's
    * crawl) — the split is harness scaffolding, the plan shape is the
    * product. */
  private[graft] val DeltaSample = 100

  /** The fixed delta doc_id sample over a documents relation — a
    * distributed TakeOrdered, O(DeltaSample) rows at any corpus size,
    * provably bounded so its joins may broadcast. */
  private[graft] def deltaIds(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .orderBy(md5(concat(lit("d"), col("doc_id").cast("string"))), col("doc_id"))
      .limit(DeltaSample)

  /** Oracle CTE mirroring [[deltaIds]] — `ds(doc_id)`. */
  private val dsCte: String =
    s"""ds AS (SELECT doc_id FROM documents
       |       ORDER BY md5('d' || CAST(doc_id AS VARCHAR)), doc_id LIMIT $DeltaSample)""".stripMargin

  /** BUILD-ONCE side of the incremental lifecycle: persist the screened
    * corpus's LSH band keys as the dedup index. At 100 TB this is what
    * makes daily ingestion affordable — the O(corpus × shingles) md5 +
    * signature work is paid ONCE; each delta run reads back 4 small
    * rows per indexed doc instead of re-tokenizing 100 TB of text.
    * After a delta batch is screened, append ITS band keys
    * (mode("append")) and the index stays current — the same
    * build/serve split as [[graft.operators.Similarity.buildIvfIndex]]
    * and the warehouse's bucketed tables. */
  def buildDedupIndex(docs: DataFrame, path: String): Unit =
    // Output-sizing exchange (r17): the signature COMPUTE runs at the
    // pinned tokenized parallelism, but the index payload is 4 narrow
    // rows/doc — written straight off the compute stage it lands as one
    // near-empty file per task, and every later serving read pays
    // listing/footer overhead per file. The unpinned repartition lets
    // AQE size the output by bytes (the write-side twin of guide §6 "aim
    // for output files in the 128 MB-1 GB range"); band_key is the
    // downstream join key, costless to cluster by while the rows move
    // anyway.
    bandKeysFrom(tokenized(docs.select(col("doc_id"), col("text"))))
      .repartition(col("band_key")).write.mode("overwrite").parquet(path)

  /** Sign a DELTA batch once: its (doc_id, band_key) LSH keys, collected
    * into a local relation — 4 rows per doc, the bytes a broadcast of
    * them would hold anyway. The local relation serves the
    * screen ([[screenDelta]]: its band keys restrict the index) and,
    * minus the duplicates, the delta's own index partition, so no
    * doc is tokenized and minhashed twice. Bounded input, so the
    * signature stage runs in the delta's own partitions (no
    * repartition). */
  def signDelta(delta: DataFrame): DataFrame = {
    val keys = bandKeysFrom(tokenizedAtScan(delta.select(col("doc_id"), col("text"))))
    delta.sparkSession.createDataFrame(java.util.Arrays.asList(keys.collect(): _*), keys.schema)
  }

  /** Candidate pairs of a signed delta against the indexed corpus and
    * its own earlier docs: `oldKeys` is the persisted index relation
    * (doc_id, band_key), `newKeys` the delta keys ([[signDelta]]: a
    * local relation, so reading its band keys runs no Spark job). The index is first restricted to the delta's band keys (a
    * `band_key IN (…)` filter the parquet scan receives), so the one
    * band_key shuffle moves only the buckets a delta doc is in; each
    * such bucket keeps EVERY indexed row, so the hot-bucket cap counts
    * over the combined key set stay exact and the run prunes exactly the
    * buckets the full-corpus pipeline would (buckets without a delta key
    * cannot pair a delta doc). An IN list rather than a broadcast
    * semi-join: the list is 4 keys per delta doc, and a broadcast of a
    * local relation still costs a Spark job per batch. Returns
    * (da, db, da_is_new), one row per shared band — da the earlier
    * partner, db the delta doc, da_is_new the partner's delta-vs-indexed
    * provenance. */
  private[operators] def incrementalPairs(oldKeys: DataFrame, newKeys: DataFrame): DataFrame = {
    val deltaBands = newKeys.select(col("band_key")).collect().map(_.getString(0)).distinct
    bucketPairs(oldKeys.select(col("doc_id"), col("band_key"), lit(false).as("is_new"))
      .filter(col("band_key").isin(deltaBands.toSeq: _*))
      .unionByName(newKeys.select(col("doc_id"), col("band_key"), lit(true).as("is_new"))))
  }

  /** The delta verdict over [[incrementalPairs]], one row per duplicate
    * delta doc: its chosen earlier partner (indexed docs first — by the
    * pair's own da_is_new provenance bit — then lowest doc_id, a
    * deterministic total order) with the pair's exact-Jaccard evidence
    * ([[overlap]], the scoring [[verifiedPairs]] uses). Docs absent from
    * the output are novel and enter the corpus.
    *
    * The candidates are bounded (delta × bands × [[MaxBucketDocs]]), so
    * each pair, once per doc it names, is BROADCAST and `docsAll`
    * (doc_id, text: old + delta, every doc a pair can name) streams
    * through the hash join — the corpus text is never shuffled, and only
    * matched docs are split and shingled. One shuffle then groups the
    * matched rows by delta doc: its own key array beside its partners'.
    * The partners are scored and the best one kept without a second
    * shuffle, the rows staying clustered by delta doc. A pair whose doc
    * is missing from `docsAll` drops. */
  private def incrementalVerdict(pairs: DataFrame, docsAll: DataFrame): DataFrame = {
    val pairDocs = pairs.select(struct(col("da"), col("db"), col("da_is_new")).as("p"),
      explode(array(col("da"), col("db"))).as("doc_id"))
    val partner = when(col("doc_id") === col("p.da"),
      struct(col("p.da").as("da"), col("p.da_is_new").as("da_is_new"), col("w").as("w")))
    val (verified, nCommon, jaccard) = overlap(col("x.w"), col("wb"))
    tokenizedAtScan(docsAll.join(broadcast(pairDocs), Seq("doc_id")))
      .select(col("doc_id"), col("p"), shingleKeyArray.as("w"))
      .groupBy(col("p.db").as("db"))
      .agg(max(when(col("doc_id") === col("p.db"), col("w"))).as("wb"),
        collect_list(partner).as("partners"))
      .select(col("db"), col("wb"), explode(col("partners")).as("x"))
      .filter(verified)
      .groupBy(col("db"))
      .agg(min(struct(when(col("x.da_is_new"), lit(1)).otherwise(lit(0)).as("ord"),
        col("x.da").as("dup_of"), nCommon.as("n_common"), jaccard.as("jaccard"))).as("s"))
      .select(col("db").as("doc_id"), col("s.dup_of").as("dup_of"),
        col("s.n_common").as("n_common"), col("s.jaccard").as("jaccard"))
  }

  /** Index-backed twin of the `dedup_incremental` query: band keys of
    * the screened corpus come from a [[buildDedupIndex]] parquet scan
    * instead of being recomputed — output-identical (spec-asserted),
    * and only the candidate docs' text is tokenized (the rest streams
    * past the broadcast candidate join). */
  def incrementalFromIndex(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // delta docs are filtered BEFORE tokenization (the deltaIds set is
    // DeltaSample rows by construction — broadcast is provably safe,
    // §5 bounded-set rule); no corpus-sized cache or shuffle anywhere
    // in the serving path
    incrementalVerdict(incrementalPairs(spark.read.parquet(indexPath),
      signDelta(docs.join(broadcast(deltaIds(docs)), Seq("doc_id"), "left_semi"))), docs)
  }

  /** Public delta-screening entry (the continuous-ingestion building
    * block, see [[graft.streaming.CorpusIngest]]): verdict rows for
    * `delta` docs that near-duplicate an indexed doc or an EARLIER
    * delta doc (arrival order = doc_id within the delta). `oldKeys`
    * is the persisted (doc_id, band_key) index; `corpus` must hold
    * the indexed docs' (doc_id, text). Signs the delta itself; see the
    * four-argument form to reuse the keys. */
  def screenDelta(oldKeys: DataFrame, corpus: DataFrame, delta: DataFrame): DataFrame =
    screenDelta(oldKeys, corpus, delta, signDelta(delta))

  /** [[screenDelta]] over delta keys the caller already signed with
    * [[signDelta]] — so an ingest batch can write the same keys, minus
    * its duplicates, as its index partition. Work per batch is bounded
    * by the delta, not the state: the index is filtered to the delta's
    * band keys before the one band_key shuffle, and the corpus is read
    * once, unshuffled, through the broadcast candidate join (only
    * candidate docs are split and shingled). */
  def screenDelta(oldKeys: DataFrame, corpus: DataFrame, delta: DataFrame,
      deltaKeys: DataFrame): DataFrame =
    incrementalVerdict(incrementalPairs(oldKeys, deltaKeys),
      corpus.select(col("doc_id"), col("text"))
        .unionByName(delta.select(col("doc_id"), col("text"))))

  /** Resolve verified pairs into duplicate clusters by iterative
    * min-label propagation over the (bidirected) pair edges — a fixed
    * [[PropagationRounds]] rounds, each a keyed shuffle on doc_id over
    * data sized by the DUPLICATE MASS, not the corpus.
    *
    * Each round interleaves two steps:
    *  1. neighbor-min — "my label := min(my label, my neighbors'
    *     labels)", one hop of plain propagation (guarantees >= 1 hop
    *     of progress per round unconditionally);
    *  2. pointer-jump — "my label := my label's label" (a label value
    *     is itself a doc_id with an entry in the label table), which
    *     composes the hops found so far and doubles the covered
    *     distance on chain layouts (2^r after r rounds).
    * This is the min-label/pointer-jumping family of parallel
    * connected-components algorithms (Shiloach-Vishkin; Hash-to-Min in
    * Rastogi et al., "Finding Connected Components in Map-Reduce in
    * Logarithmic Rounds", ICDE 2013; star operations in Kiveris et
    * al., SoCC 2014). Linear propagation needed 8 materialization
    * rounds for diameter 8; this resolves diameter 16 in 5 (with the
    * spec exercising both ascending and adversarially permuted id
    * layouts at that bound).
    *
    * Every round materializes via `localCheckpoint`: an iterative plan
    * that re-references its previous round doubles the logical plan
    * per iteration (2^rounds copies of the pair-generation subtree —
    * Catalyst analysis alone becomes the bottleneck), so lineage MUST
    * be truncated, the same reason GraphX/GraphFrames checkpoint their
    * iterations. On a production cluster with executor churn, swap for
    * reliable `checkpoint` with a checkpoint dir. */
  /** Extra adaptive rounds allowed past [[PropagationRounds]] when the
    * fixpoint check still finds unconverged labels — each one covers
    * at least one more hop (neighbor-min progress is unconditional),
    * and the bound keeps the iteration count fixed-ish rather than
    * data-dependent without limit. */
  private[operators] val MaxExtraRounds = 5

  def clusterLabels(pairs: DataFrame): DataFrame = {
    // localCheckpoint persists its row RDD in the block manager, and
    // those blocks are NOT released by Dataset.unpersist or the cache
    // manager — an iterative operator that leaks every superseded
    // round keeps (rounds + 2) duplicate-mass-sized block sets alive
    // until driver GC notices. Track each checkpoint's EXACT persisted
    // RDD (the LogicalRDD the checkpointed Dataset wraps — a
    // before/after diff of sc.getPersistentRDDs would also sweep up
    // caller-owned caches whose buffers happen to persist during the
    // same job, e.g. corpus_keep's shared tokenized scan) and free a
    // round as soon as the next round has materialized past it. Only
    // the RETURNED labels checkpoint stays.
    def checkpointTracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val out = df.stage()
      val own = out.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      (out, own)
    }
    def free(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
      rdds.foreach(_.unpersist(blocking = false))

    // cache (NON-destructively: a caller that cached pairs for its own
    // reuse keeps its cache): edges references the pair plan twice —
    // both edge directions — and without a cache the whole
    // pair-generation pipeline executes twice inside the first
    // materialization
    val ownPairsCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownPairsCache) pairs.cache()
    val fwd = pairs.select(col("doc_a").as("s"), col("doc_b").as("d"))
    // repartition(s) before the checkpoint (r17): the cached pair plan
    // materializes WITHOUT AQE partition coalescing (Spark keeps a
    // cached plan's output partitioning stable —
    // canChangeCachedPlanOutputPartitioning defaults false), so the
    // fwd+rev union inherited 2× the cache's task count and the
    // checkpoint PINNED it — every propagation round then probed a
    // duplicate-mass-sized edge table in 64+ tasks of pure dispatch
    // overhead. This exchange sits outside any cache, so AQE sizes it
    // by bytes — right here, where round work tracks bytes, per the
    // tokenized-seam rule's other half (pin compute-dense seams, let
    // byte-proportional ones coalesce).
    val (edges, edgesRdds) = checkpointTracked(
      fwd.unionByName(fwd.select(col("d").as("s"), col("s").as("d")))
        .repartition(col("s")))
    var (labels, labelsRdds) = checkpointTracked(
      edges.groupBy(col("s")).agg(min(col("d")).as("m"))
        .select(col("s").as("doc_id"), least(col("s"), col("m")).as("label")))
    // one propagation round: neighbor-min (>= 1 hop unconditionally)
    // + pointer jump (label := my label's label — composes hops found
    // so far; doubles covered distance on chain layouts)
    def round(): Unit = {
      val viaNbr = edges
        .join(labels.select(col("doc_id").as("s"), col("label")), "s")
        .select(col("d").as("doc_id"), col("label"))
      val jumped = labels.select(col("doc_id"), col("label").as("mid"))
        .join(labels.select(col("doc_id").as("mid"), col("label").as("jl")), "mid")
        .select(col("doc_id"), col("jl").as("label"))
      val (next, nextRdds) = checkpointTracked(
        labels.unionByName(viaNbr).unionByName(jumped)
          .groupBy(col("doc_id")).agg(min(col("label")).as("label")))
      free(labelsRdds) // round r-1 fed next's materialization; now dead
      labels = next
      labelsRdds = nextRdds
    }
    (1 to PropagationRounds).foreach(_ => round())
    // CONVERGENCE IS CHECKED, not assumed: the pointer-jump doubling
    // argument is layout-dependent, so a component whose diameter (or
    // adversarial id order) outruns the fixed rounds would otherwise
    // ship silently split clusters. The fixpoint test is one keyed
    // self-join over the checkpointed duplicate-mass-sized label
    // table — cheap next to a propagation round; unconverged labels
    // buy bounded extra rounds, and running out is a LOUD error.
    def unconverged(): Long = labels
      .join(labels.select(col("doc_id").as("mid"), col("label").as("jl")),
        col("label") === col("mid"))
      .filter(col("jl") =!= col("label")).count()
    var extra = 0
    while (unconverged() > 0 && extra < MaxExtraRounds) { round(); extra += 1 }
    if (extra == MaxExtraRounds && unconverged() > 0)
      throw new IllegalStateException(
        s"dedup cluster labels did not converge within ${PropagationRounds + MaxExtraRounds} rounds")
    free(edgesRdds) // no consumer left after the last round
    if (ownPairsCache) pairs.unpersist(blocking = false) // checkpoints never re-read the pair plan
    labels
  }

  /** Oracle CTE chain ending in a `pairs(da, db, n_common, jaccard)`
    * relation — the SQL twin of [[minhashPairs]], shared by the
    * dedup_minhash, dedup_clusters, and corpus_keep oracles. The
    * hot-bucket cap is mirrored as a HAVING filter on band keys. */
  private[operators] val pairsCtes: String = {
    val mins = (0 until NumHashes)
      .map(k => s"MIN((h1 + $k * h2) % $Mod) AS mh$k").mkString(", ")
    val bandSelects = (0 until NumBands).map { b =>
      val parts = (0 until RowsPerBand)
        .map(r => s"CAST(mh${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"SELECT doc_id, md5('$b:' || $parts) AS band_key FROM sig"
    }.mkString(" UNION ALL ")
    s"""$shingleCtes,
       |ns AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
       |bk AS ($bandSelects),
       |bkc AS (SELECT * FROM bk WHERE band_key NOT IN
       |        (SELECT band_key FROM bk GROUP BY band_key HAVING COUNT(*) > $MaxBucketDocs)),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.da, c.db, COUNT(*) AS n_common
       |          FROM cand c
       |          JOIN sh sa ON sa.doc_id = c.da
       |          JOIN sh sb ON sb.doc_id = c.db AND sb.shingle = sa.shingle
       |          GROUP BY c.da, c.db),
       |pairs AS (SELECT i.da, i.db, CAST(i.n_common AS BIGINT) AS n_common,
       |                 floor((CAST(i.n_common AS DOUBLE) / (na.n + nb.n - i.n_common)) * 1000000.0) / 1000000.0 AS jaccard
       |          FROM inter i JOIN ns na ON na.doc_id = i.da JOIN ns nb ON nb.doc_id = i.db
       |          WHERE CAST(i.n_common AS DOUBLE) / (na.n + nb.n - i.n_common) >= $JaccardThreshold)""".stripMargin
  }

  /** Oracle CTEs resolving `pairs` into components: recursive
    * min-label reachability ending in `comp(doc_id, cluster_id)` —
    * the SQL twin of [[clusterLabels]]. Requires WITH RECURSIVE and
    * [[pairsCtes]] earlier in the chain. */
  private[operators] val clustersCtes: String =
    """e AS (SELECT da AS s, db AS d FROM pairs
      |      UNION ALL SELECT db AS s, da AS d FROM pairs),
      |walk(doc_id, label) AS (
      |  SELECT s, s FROM e
      |  UNION
      |  SELECT e.d, w.label FROM walk w JOIN e ON e.s = w.doc_id AND w.label < e.d),
      |comp AS (SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id)""".stripMargin

  /** dedup_audit's in-plan collapse floors (Gates.floors; r9 verdict
    * #3): precision is STRUCTURAL — detected pairs are exact-verified
    * at the same threshold the truth uses, so anything under 1.0 is a
    * pipeline bug, enforced exactly; recall 0.5 sits under the
    * measured 1.0 at both verify SFs (tiny 2-5-pair truth sets — one
    * legitimately capped borderline pair must not redden a round) and
    * far above a dead candidate stage's 0. Tight per-scale recall
    * floors live in ScaleSpec. */
  private[graft] val AuditRecallFloor = 0.5

  /** dedup_audit's scored tail over (sample, truth pairs, detected
    * pairs) — separated so the gate spec can drive the identical
    * gated plan with a degraded detector and prove the job dies. */
  private[graft] def dedupAuditFrame(sample: DataFrame, truth: DataFrame,
      detS: DataFrame): DataFrame = {
    import graft.functions.Portable.quant6
    // intersect is POSITIONAL — re-project both sides to (da, db)
    val tp = truth.select(col("da"), col("db"))
      .intersect(detS.select(col("da"), col("db")))
    val res = sample.agg(count(lit(1)).as("n_sample"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth_pairs"))))
      .crossJoin(broadcast(detS.agg(count(lit(1)).as("n_detected"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_true_pos"))))
      .select(col("n_sample"), col("n_truth_pairs"), col("n_detected"),
        col("n_true_pos"),
        quant6(col("n_true_pos").cast("double")
          / nullif(col("n_detected").cast("double"), lit(0.0))).as("precision"),
        quant6(col("n_true_pos").cast("double")
          / nullif(col("n_truth_pairs").cast("double"), lit(0.0))).as("recall"))
    graft.functions.Gates.floors(res,
      (col("n_detected") === 0 || col("precision") >= 1.0,
        graft.functions.Gates.msg("dedup_audit", "precision", 1.0, col("precision"))),
      (col("n_truth_pairs") === 0 || col("recall") >= AuditRecallFloor,
        graft.functions.Gates.msg("dedup_audit", "recall", AuditRecallFloor, col("recall"))))
  }

  val defs: Seq[QueryDef] = Seq(

    // L2+L4 — MinHash signatures → banded LSH buckets → exact-Jaccard
    // verification of in-bucket candidate pairs only.
    QueryDef(
      "dedup_minhash",
      s"""WITH $pairsCtes
         |SELECT da AS doc_a, db AS doc_b, n_common, jaccard FROM pairs""".stripMargin) {
      (spark, dir) => minhashPairs(spark, dir)
    },

    // L45 — dedup QUALITY AUDIT on a bounded sample: precision/recall
    // of the production minhash detector against exact all-pairs
    // ground truth — computable at 100 TB because the audit universe
    // is a FIXED-SIZE md5-ordered sample (the IVF centroid-sampling
    // rule: ORDER BY md5(id) LIMIT k is deterministic, engine-portable
    // and corpus-size-independent), so the brute-force side is k²
    // pairs by construction, never corpus-shaped. The detector runs
    // corpus-wide exactly as in production (restricting its INPUT
    // would audit a different system); its pairs are then restricted
    // to the sample. Precision is structurally 1 — detected pairs are
    // exact-verified at the same threshold — and the audit ASSERTS
    // that property end-to-end; recall measures what the banded-LSH
    // candidate stage (hot-bucket caps included) actually misses.
    QueryDef(
      "dedup_audit",
      s"""WITH $pairsCtes,
         |smp AS (SELECT doc_id FROM documents
         |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $AuditSample),
         |tsh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN smp ON smp.doc_id = sh.doc_id),
         |tns AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY doc_id),
         |tj AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS nc
         |       FROM tsh a JOIN tsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |truth AS (SELECT tj.da, tj.db FROM tj
         |          JOIN tns na ON na.doc_id = tj.da JOIN tns nb ON nb.doc_id = tj.db
         |          WHERE CAST(tj.nc AS DOUBLE) / (na.n + nb.n - tj.nc) >= $JaccardThreshold),
         |dets AS (SELECT p.da, p.db FROM pairs p
         |         JOIN smp a ON a.doc_id = p.da JOIN smp b ON b.doc_id = p.db),
         |tp AS (SELECT da, db FROM truth INTERSECT SELECT da, db FROM dets),
         |c AS (SELECT (SELECT COUNT(*) FROM smp) AS n_sample,
         |             (SELECT COUNT(*) FROM truth) AS n_truth_pairs,
         |             (SELECT COUNT(*) FROM dets) AS n_detected,
         |             (SELECT COUNT(*) FROM tp) AS n_true_pos)
         |SELECT CAST(n_sample AS BIGINT) AS n_sample,
         |       CAST(n_truth_pairs AS BIGINT) AS n_truth_pairs,
         |       CAST(n_detected AS BIGINT) AS n_detected,
         |       CAST(n_true_pos AS BIGINT) AS n_true_pos,
         |       floor(CAST(n_true_pos AS DOUBLE) / NULLIF(CAST(n_detected AS DOUBLE), 0)
         |             * 1000000.0) / 1000000.0 AS precision,
         |       floor(CAST(n_true_pos AS DOUBLE) / NULLIF(CAST(n_truth_pairs AS DOUBLE), 0)
         |             * 1000000.0) / 1000000.0 AS recall
         |FROM c""".stripMargin) { (spark, dir) =>
      import graft.functions.Portable.quant6
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val sample = docs
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("mk"))
        .orderBy(col("mk"), col("doc_id")).limit(AuditSample)
        .select(col("doc_id"))
      val sa = broadcast(sample)
      // localCheckpoint (the pareto_class rule): detS feeds BOTH the
      // n_detected count and the intersect — without it the whole
      // production minhash pipeline is evaluated twice per audit run
      val detS = minhashPairs(spark, dir)
        .select(col("doc_a").as("da"), col("doc_b").as("db"))
        .join(sa.withColumnRenamed("doc_id", "da"), Seq("da"), "left_semi")
        .join(sa.withColumnRenamed("doc_id", "db"), Seq("db"), "left_semi")
        .stage()
      // exact ground truth WITHIN the sample: all-pairs shingle-word
      // join — k² bounded by the fixed sample size
      val words = shingleKeySet(tokenized(docs.join(sa, Seq("doc_id"), "left_semi"),
        spread = false))
      val ns = words.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val truth = words.as("a").join(words.as("b"),
          col("a.w") === col("b.w")
            && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("nc"))
        .join(broadcast(ns.select(col("doc_id").as("da"), col("n").as("na"))), "da")
        .join(broadcast(ns.select(col("doc_id").as("db"), col("n").as("nb"))), "db")
        .filter(col("nc").cast("double") / (col("na") + col("nb") - col("nc"))
          >= JaccardThreshold)
        .select(col("da"), col("db"))
        .stage() // feeds n_truth_pairs AND the intersect
      dedupAuditFrame(sample, truth, detS)
    },

    // L33 — leakage-safe train/eval SPLIT: the hygiene step between
    // dedup and training. Assignment is a deterministic md5 cut
    // (first hex nibble '0' → eval, ≈ 1/16 — the text_sample
    // reproducibility rule, so the split is stable across runs and
    // engines); then any eval document with a VERIFIED near-duplicate
    // (the shared minhash pairs, jaccard ≥ 0.7) on the train side is
    // QUARANTINED — its eval loss would be memorization, not
    // generalization (the cross-split twin of text_contamination's
    // benchmark n-gram screen). Scale: the split flag is a per-row
    // codegen'd expression (no join), the leak set is ∝ verified
    // cross-split duplicate mass (never corpus-shaped), and the
    // verdict attaches through one keyed left join. Within-split
    // duplicates are dedup_clusters' job, not quarantined here.
    QueryDef(
      "corpus_split",
      s"""WITH $pairsCtes,
         |l AS (SELECT CASE
         |        WHEN substr(md5(CAST(da AS VARCHAR)), 1, 1) = '0'
         |             AND substr(md5(CAST(db AS VARCHAR)), 1, 1) <> '0' THEN da
         |        WHEN substr(md5(CAST(db AS VARCHAR)), 1, 1) = '0'
         |             AND substr(md5(CAST(da AS VARCHAR)), 1, 1) <> '0' THEN db
         |      END AS doc_id
         |      FROM pairs),
         |lc AS (SELECT doc_id, COUNT(*) AS n_cross FROM l
         |       WHERE doc_id IS NOT NULL GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) <> '0' THEN 'train'
         |            WHEN lc.doc_id IS NULL THEN 'eval'
         |            ELSE 'quarantine' END AS split,
         |       CAST(COALESCE(lc.n_cross, 0) AS BIGINT) AS n_cross_dups
         |FROM documents d LEFT JOIN lc ON lc.doc_id = d.doc_id""".stripMargin) {
      (spark, dir) =>
        def isEval(c: org.apache.spark.sql.Column) =
          substring(md5(c.cast("string")), 1, 1) === "0"
        val pairs = minhashPairs(spark, dir)
        val leaks = pairs.select(
            when(isEval(col("doc_a")) && !isEval(col("doc_b")), col("doc_a"))
              .when(isEval(col("doc_b")) && !isEval(col("doc_a")), col("doc_b"))
              .as("l_doc"))
          .filter(col("l_doc").isNotNull)
          .groupBy(col("l_doc")).agg(count(lit(1)).as("n_cross"))
        Tables.documents(spark, dir).select(col("doc_id"))
          .join(leaks, col("doc_id") === col("l_doc"), "left")
          .select(col("doc_id"),
            when(!isEval(col("doc_id")), "train")
              .when(col("l_doc").isNull, "eval")
              .otherwise("quarantine").as("split"),
            coalesce(col("n_cross"), lit(0L)).as("n_cross_dups"))
    },

    // L2-terminal — pairs → duplicate clusters → kept corpus: the step
    // that turns a pair REPORT into a deduplicated DATASET. Cluster id
    // = min doc_id in the connected component of the pair graph; the
    // representative (kept) doc is the one equal to its cluster id;
    // docs in no pair keep themselves. Oracle: DuckDB recursive-CTE
    // min-label reachability over the same pairs.
    QueryDef(
      "dedup_clusters",
      s"""WITH RECURSIVE $pairsCtes,
         |$clustersCtes
         |SELECT d.doc_id,
         |       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |       (COALESCE(c.cluster_id, d.doc_id) = d.doc_id) AS kept
         |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id""".stripMargin) {
      (spark, dir) =>
        val labels = clusterLabels(minhashPairs(spark, dir))
          .select(col("doc_id").as("l_doc"), col("label"))
        Tables.documents(spark, dir)
          .select(col("doc_id"))
          .join(labels, col("doc_id") === col("l_doc"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_id"),
            (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("kept"))
    },

    // L3 — 32-bit SimHash over 5-gram shingle features; pairs within
    // hamming<=3 found by exact match on one of 4 byte blocks
    // (pigeonhole: <=3 flipped bits leave a byte intact), verified
    // with bit_count. Shingles, not tokens: on a small shared vocab,
    // token-level simhash collapses (~15k bogus pairs on 500 docs).
    QueryDef(
      "dedup_simhash", {
        val sums = (0 until 32)
          .map(b => s"SUM(2 * (CAST(floor(h1 / ${1L << b}.0) AS BIGINT) % 2) - 1) AS s$b")
          .mkString(", ")
        val fpExpr = (0 until 32)
          .map(b => s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
          .mkString(" + ")
        s"""WITH $shingleCtes,
           |s AS (SELECT doc_id, $sums FROM hs GROUP BY doc_id),
           |fp AS (SELECT doc_id, CAST($fpExpr AS BIGINT) AS simhash FROM s),
           |nib AS (SELECT doc_id, simhash, k.k, CAST(floor(simhash / pow(256.0, k.k)) AS BIGINT) % 256 AS nv
           |        FROM fp, generate_series(0, 3) k(k)),
           |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.simhash AS sa, b.simhash AS sb
           |         FROM nib a JOIN nib b ON a.k = b.k AND a.nv = b.nv AND a.doc_id < b.doc_id)
           |SELECT da AS doc_a, db AS doc_b,
           |       CAST(sa AS BIGINT) AS simhash_a, CAST(sb AS BIGINT) AS simhash_b,
           |       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
           |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin
      }) { (spark, dir) =>
      // bit b of h1 is bit 32+b of the packed key; unsigned shift +
      // mask replaces the old double-division floor(h1 / 2^b) % 2 —
      // exact integer ops in codegen, same value (r16)
      def bitSum(b: Int): Column =
        sum(lit(2) * shiftrightunsigned(col("w"), 32 + b).bitwiseAND(lit(1L)) - 1).as(s"s$b")
      val s = hashKeys(Tables.documents(spark, dir))
        .groupBy(col("doc_id"))
        .agg(bitSum(0), (1 until 32).map(bitSum): _*)
      val fpExpr = (0 until 32)
        .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val fp = s.select(col("doc_id"), fpExpr.cast("long").as("simhash"))
      val nib = fp.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("k"))
        .withColumn("nv", floor(col("simhash") / pow(lit(256.0), col("k"))).cast("long") % 256)
      val cand = nib.as("a")
        .join(nib.as("b"),
          col("a.k") === col("b.k") && col("a.nv") === col("b.nv")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.simhash").as("sa"), col("b.simhash").as("sb"))
        .distinct()
      val ham = bit_count(col("sa").bitwiseXOR(col("sb")))
      cand.filter(ham <= 3)
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("sa").as("simhash_a"), col("sb").as("simhash_b"),
          ham.cast("long").as("hamming"))
    },

    // L2c — incremental near-dedup: the daily-ingestion shape. The
    // delta batch (the fixed deltaIds sample here; a real run passes
    // its own) is screened against the already-deduplicated corpus via
    // the persisted band-key index — signature work ∝ DELTA, candidate
    // shuffle ∝ the index buckets the delta touches, verify ∝ duplicate
    // mass; the corpus text is never shuffled, and only candidate docs
    // are re-tokenized. Oracle: the full-
    // corpus pair relation restricted to delta-involving pairs with
    // the same arrival-order direction, best partner per delta doc.
    QueryDef(
      "dedup_incremental",
      s"""WITH $pairsCtes,
         |$dsCte,
         |dup AS (
         |  SELECT db AS doc_id, da AS dup_of, n_common, jaccard
         |  FROM pairs WHERE db IN (SELECT doc_id FROM ds)
         |  UNION ALL
         |  SELECT da AS doc_id, db AS dup_of, n_common, jaccard
         |  FROM pairs WHERE da IN (SELECT doc_id FROM ds)
         |    AND db NOT IN (SELECT doc_id FROM ds)),
         |r AS (SELECT doc_id, dup_of, n_common, jaccard,
         |        ROW_NUMBER() OVER (PARTITION BY doc_id
         |          ORDER BY CASE WHEN dup_of IN (SELECT doc_id FROM ds) THEN 1 ELSE 0 END,
         |                   dup_of) AS rn
         |      FROM dup)
         |SELECT doc_id, dup_of, n_common, jaccard FROM r WHERE rn = 1""".stripMargin) {
      (spark, dir) =>
        // PERSISTED-INDEX seat (the ann_pq treatment — r13 verdict
        // task 4: the former inline twin re-keyed the FULL corpus per
        // execution, the exact O(corpus) rebuild the PQ seats retired).
        // The O(corpus × shingles) tokenize + signature work is paid
        // ONCE per (corpus fingerprint, JVM) by buildDedupIndex — the
        // bench warm-up pays it — and every invocation then prices what
        // daily ingestion actually costs: delta signatures
        // (∝ DeltaSample), the candidate join against the index scan,
        // and the exact-Jaccard verify (∝ duplicate mass).
        // incrementalFromIndex is output-identical to the inline
        // recomputation (DedupIncrementalSpec), so the oracle hash is
        // unchanged by the staging.
        val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        val root = Staging.ensureBuilt(spark,
          Staging.stagedRoot(spark, dir, "dedup", "documents.parquet"))(r =>
          buildDedupIndex(
            docs.join(broadcast(deltaIds(docs)), Seq("doc_id"), "left_anti"),
            s"$r/keys"))
        incrementalFromIndex(spark, dir, s"$root/keys")
    })
}
