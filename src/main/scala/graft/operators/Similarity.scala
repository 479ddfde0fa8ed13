package graft.operators

import graft.QueryDef
import graft.functions.Portable
import graft.functions.VectorOps._
import graft.sources.{Tables, Warehouse}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Distributed.StageSyntax

/** Embedding-space operators over `embeddings` (SURVEY.md §2.3 L5–L7):
  * cosine near-duplicate pairs and approximate-nearest-neighbor top-k.
  *
  * The QUERY SET is a parameter everywhere (`queries`: a (vec_id, v)
  * relation). It is a workload input — bounded by the caller, not a
  * corpus fraction — and each search takes an explicit strategy flag
  * for how to pair it with the corpus:
  *  - `broadcastQueries = true` (default): one broadcast pass. Right
  *    while the query set is small, which an ANN query batch should be.
  *  - `broadcastQueries = false`: fragment-and-replicate — the corpus
  *    keeps its partitioning keyed by `pmod(vec_id, F)`, each query row
  *    is replicated F ways, and the pairing is a keyed equi-join on the
  *    fragment id. No driver-sized broadcast at ANY query-set size
  *    (identical output, spec-asserted), the same strategy-parameter
  *    shape as `Corpus.decide`'s contamination join.
  * The oracle-checked queries use a FIXED-SIZE deterministic sample
  * ([[defaultQueries]]: md5-order LIMIT [[QuerySample]], the
  * dedup_audit rule) — harness scaffolding standing in for a real
  * workload's query batch. Fixed SIZE is the scale contract (r12
  * verdict): a corpus-fraction sample (the pre-r13 `vec_id % 100`)
  * made every ANN seat's workload Q ∝ N, so scale sweeps priced the
  * growing query batch, not the engine — the exact-baseline family
  * was tiles² by construction and had to be excluded at 100×. With Q
  * constant, every search's query-side cost is workload-sized at any
  * corpus size. Because that sample IS a corpus subset, the searches
  * default to `excludeSelf = true` (a query must not return its own
  * vector); an external batch whose ids are not corpus ids passes
  * `excludeSelf = false`, since there id equality is coincidence and
  * would drop an unrelated neighbor.
  *
  * Scale shapes (100 TB contract): every ANN search is one spine — a
  * candidate generator (the flat query pairing, or the salted cell
  * join whose [[CellSalt]] keeps a small K from serializing the corpus
  * into K reducers) scoring one column per path, then either the exact
  * cosine join + salted top-k or the shortlist tail (salted coarse
  * top-R, exact rerank, sampled-recall gate). Per path:
  *  - `ann_bruteforce`: flat pairing, exact cosine — the exact
  *    baseline every approximate path is measured against.
  *  - `ann_lsh` / `dedup_embed`: random-hyperplane sign buckets (4
  *    tables × 4 planes) generate candidates via a shuffle on the
  *    bucket key, exact cosine join. No CartesianProduct in any plan.
  *    Recall@5 ≈ 0.52 on the worst-case random vectors (ScaleSpec).
  *  - `ann_ivf`: cell join over fixed-K coarse centroids (nProbe cells
  *    per query), exact cosine join.
  *  - `ann_quantized`: flat pairing, int8 dot, shortlist (ungated).
  *  - `ann_ivf_sq8`: cell join, int8 dot, shortlist — the IVFADC
  *    composition real billion-vector systems use (Jegou et al.).
  *  - `ann_pq`: flat pairing, ADC lookups over 16 half-byte PQ codes
  *    (no vector math at scan time), shortlist.
  *  - `ann_ivf_pq`: cell join, dot(q, centroid) + residual-PQ ADC,
  *    shortlist — the complete residual IVFADC.
  *
  * Hyperplanes are md5-derived constants (VectorOps.hyperplane) so the
  * DuckDB oracle rebuilds them bit-identically (SURVEY.md §4).
  *
  * Methods (public literature): random-hyperplane cosine LSH
  * (Charikar, STOC 2002); multi-table LSH (Indyk & Motwani, 1998);
  * IVF coarse quantization and the IVFADC search cascade
  * (Jegou/Douze/Schmid, "Product quantization for nearest neighbor
  * search", TPAMI 2011 — inverted file + asymmetric distance, with
  * scalar instead of product quantization); fragment-and-replicate
  * join distribution (DeWitt & Gerber, VLDB 1985).
  */
object Similarity {

  private val NumTables = 4
  private val NumPlanes = 4
  private val Dims = 64
  private val CosThreshold = 0.4 // driver data is random vectors; ~top-dozen pairs
  private val TopK = 5

  /** Fragment count for the keyed (non-broadcast) query pairing: the
    * corpus fragments by `pmod(vec_id, F)`, queries replicate F ways.
    * Locally = 2× shuffle partitions; on a cluster this would be ~2-3×
    * total cores so every reducer holds 1/F of the corpus. */
  private val QueryFragments = 64

  /** Probe-replication salt for the IVF cell join: the probe⋈assignment
    * equi-join keys on (cid, pmod(nid, CellSalt)) instead of the K≈16
    * distinct cids alone — K·CellSalt shuffle keys, so a small K can
    * never serialize the whole corpus into K reducers. Probes replicate
    * CellSalt ways (Q·nProbe·CellSalt rows — workload-sized); each
    * corpus row still matches exactly one replica, so output is
    * identical (spec-asserted). At production K≈√N the salt is belt and
    * braces; at small K it is the difference between 16 and 256
    * reducers carrying the corpus. */
  private val CellSalt = 16

  /** Size of the deterministic oracle query batch — FIXED at every
    * corpus size (20 = the pre-r13 `% 100` sample's size at the sf0.1
    * bench point, so driver-bench numbers stay comparable across the
    * change). The md5 key is 'q'-prefixed: the plain-md5 order is
    * [[seedCentroids]]' — an unprefixed sample's first 16 queries
    * would BE the centroid vectors. */
  private[graft] val QuerySample = 20

  /** Size of the deterministic assignment-audit sample — FIXED at
    * every corpus size (SURVEY §5: oracle-harness workloads are never
    * corpus fractions; the pre-r14 `vec_id % 5` sample was 20% of the
    * corpus, making the audit's exact baseline |sample|·K ∝ N·K —
    * quadratic once K = dynCentroids ∝ N). 100 = that sample's size at
    * the sf0.01 oracle gate, so the gate workload is unchanged. The
    * md5 key is 's'-prefixed — distinct from the query batch ('q'),
    * the centroid seed (''), the residual book ('r') and the recall
    * gate ('anngate'), so the audited vectors are independent of all
    * of them. */
  private[graft] val AuditSample = 100

  /** Power-iteration count for `embed_pca` — FIXED, like
    * trade_pagerank's 5: both engines run the same steps, so the
    * count trades accuracy, never parity. 10 from all-ones separates
    * the top component adequately even on the near-isotropic random
    * test vectors (the spec's Rayleigh-dominance check measures it). */
  private val PcaIters = 10

  /** Principal components kept by `embed_pca_topk`'s deflation chain
    * — enough axes for a whitening/monitoring story, small enough
    * that the oracle's unrolled iteration CTEs stay readable. */
  private val PcaTopK = 3

  // ---- shared PCA machinery (embed_pca / embed_pca_topk /
  // embed_axis_drift) — ONE definition of the moment scan, the
  // covariance arithmetic, the power iteration and the deflation on
  // both engines, so the three seats can never drift. ----

  /** DISTRIBUTED exact scaled covariance C = n·M − S·Sᵀ over the
    * micro-quantized components — the only corpus-sized stage of the
    * PCA family. Per-partition moment accumulator (r14 verdict task
    * 3: the old ×(dims²/2 + dims + 1) per-row struct explode
    * materialized ~2,145 rows per VECTOR before the hash aggregate —
    * 76.5 s at 100×; the moments are classic per-partition imperative
    * state, the Misra-Gries mapPartitions escape hatch). Each task
    * folds its rows into ONE fixed (1 + dims + dims·(dims+1)/2)-slot
    * array — count, component sums S, upper-triangle products M —
    * accumulating in Long and flushing into exact BigIntegers every
    * 4096 rows (|q| ≤ 1e6 ⇒ |q_i·q_j| ≤ 1e12; 4096·1e12 ≈ 4e15, a
    * 2000× margin under Long.Max — so the fold is overflow-proof at
    * ANY corpus size while staying integer-exact). Every task then
    * emits its ≤ 2,145 partials ONCE (as decimal strings — exact, and
    * independent of the encoder's default decimal scale); a tiny-key
    * aggregate and a dims²-bounded driver collect follow (the §5
    * bounded-set rule, the seedCentroids class). The covariance is
    * assembled in BigDecimal with ONE correctly-rounded conversion to
    * double per cell — identical to the oracle's HUGEINT-to-DOUBLE
    * cast. Positive scaling never changes eigenvectors, so no
    * division touches the matrix. */
  private def pcaCovariance(emb: DataFrame): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val nTri = Dims * (Dims + 1) / 2
    val rows = emb
      .select(expr("transform(v, x -> CAST(floor(x * 1000000) AS BIGINT))").as("q"))
      .as[Seq[Long]]
      .mapPartitions { it =>
        val slots = 1 + Dims + nTri
        val acc = Array.fill(slots)(java.math.BigInteger.ZERO)
        val run = new Array[Long](slots)
        var pending = 0
        def flush(): Unit = {
          var k = 0
          while (k < slots) {
            if (run(k) != 0L) {
              acc(k) = acc(k).add(java.math.BigInteger.valueOf(run(k)))
              run(k) = 0L
            }
            k += 1
          }
          pending = 0
        }
        while (it.hasNext) {
          val q = it.next().toArray
          run(0) += 1L
          var i = 0
          while (i < Dims) { run(1 + i) += q(i); i += 1 }
          var idx = 1 + Dims
          i = 0
          while (i < Dims) {
            val qi = q(i)
            var j = i
            while (j < Dims) { run(idx) += qi * q(j); idx += 1; j += 1 }
            i += 1
          }
          pending += 1
          if (pending >= 4096) flush()
        }
        flush()
        val out = Array.newBuilder[(Int, Int, String)]
        out += ((0, 0, acc(0).toString))
        var i = 1
        while (i <= Dims) { out += ((i, 0, acc(i).toString)); i += 1 }
        var idx = 1 + Dims
        i = 1
        while (i <= Dims) {
          var j = i
          while (j <= Dims) { out += ((i, j, acc(idx).toString)); idx += 1; j += 1 }
          i += 1
        }
        out.result().iterator
      }
      .toDF("i", "j", "ms")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("ms").cast("decimal(38,0)")).as("m"))
      .collect()
    val sV = Array.fill(Dims)(BigDecimal(0))
    var nB = BigDecimal(0)
    rows.foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      if (i == 0 && j == 0) nB = BigDecimal(r.getAs[java.math.BigDecimal]("m"))
      else if (j == 0) sV(i - 1) = BigDecimal(r.getAs[java.math.BigDecimal]("m"))
    }
    val c = Array.ofDim[Double](Dims, Dims)
    rows.foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      if (i >= 1 && j >= 1) {
        val v = (nB * BigDecimal(r.getAs[java.math.BigDecimal]("m"))
          - sV(i - 1) * sV(j - 1)).toDouble
        c(i - 1)(j - 1) = v; c(j - 1)(i - 1) = v
      }
    }
    c
  }

  /** Per-JVM memo of the covariance over `dir`'s embeddings — the
    * three PCA seats (embed_pca / embed_pca_topk / embed_axis_drift)
    * consume the IDENTICAL matrix, and the moment scan is the
    * family's only corpus-sized stage, so computing it three times a
    * suite (and three times per 100× sweep) is the decide()/dedup-
    * index duplication all over again. The memo is the Staging
    * pattern minus the disk: the value is dims²-bounded (64² doubles
    * ≈ 32 KB), deterministic from the corpus, keyed by the same
    * (md5(dir), content fingerprint, applicationId) triple as a
    * staged root — a rewritten fixture dir rebuilds, two JVMs never
    * share, and the stateless query contract holds because every
    * invocation still returns the identical rows. */
  private val pcaCovMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def pcaCovarianceFor(spark: SparkSession, dir: String): Array[Array[Double]] = {
    // the distributed moment scan runs OUTSIDE the map operation:
    // computeIfAbsent would hold the bin lock for the whole Spark job,
    // serializing concurrent first-touch from parallel suites and
    // making any re-entrant same-key access throw per the
    // computeIfAbsent contract (r15 advice). The value is
    // deterministic from the corpus, so a lost race costs one
    // duplicate scan and putIfAbsent keeps one winner.
    val key = Staging.memoKey(spark, dir, "pcacov", "embeddings.parquet")
    val hit = pcaCovMemo.get(key)
    if (hit != null) hit
    else {
      val built = pcaCovariance(embV(spark, dir))
      val prev = pcaCovMemo.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** Ascending-index double dot — the exact op order the oracle's
    * list_inner_product element iteration replays. */
  private def pcaDot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var k = 0
    while (k < Dims) { s += a(k) * b(k); k += 1 }
    s
  }

  /** [[PcaIters]] fixed power iterations from all-ones with max-abs
    * renormalization, sign anchored at component 1, unit loading, and
    * the Rayleigh quotient — plain ascending-index double loops that
    * DuckDB replays bit-for-bit via list_inner_product/list_transform
    * (element-order iteration — the bucketCtes parity rule). Fixed
    * iteration count, like trade_pagerank: both engines run the SAME
    * steps, so convergence is a quality knob, never parity. Returns
    * (loading, λ). */
  private def pcaPower(c: Array[Array[Double]]): (Array[Double], Double) = {
    var v = Array.fill(Dims)(1.0)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(Dims)(i => pcaDot(c(i), v))
      val mx = w.map(math.abs).max
      v = w.map(_ / mx)
    }
    val nrm = math.sqrt(pcaDot(v, v))
    val l0 = v.map(_ / nrm)
    val l = if (l0(0) < 0) l0.map(-_) else l0
    (l, pcaDot(l, Array.tabulate(Dims)(i => pcaDot(c(i), l))))
  }

  private def pcaTrace(c: Array[Array[Double]]): Double =
    pcaDot(Array.tabulate(Dims)(i => c(i)(i)), Array.fill(Dims)(1.0))

  /** Hotelling deflation C' = C − λ·l·lᵀ — exact same association
    * order as the oracle's `C[i][j] - lam * l[i] * l[j]` (both are
    * left-associated (λ·l_i)·l_j), so the next component's iteration
    * starts from bit-identical doubles in both engines. */
  private def pcaDeflate(c: Array[Array[Double]], l: Array[Double],
      lam: Double): Array[Array[Double]] =
    Array.tabulate(Dims, Dims)((i, j) => c(i)(j) - lam * l(i) * l(j))

  /** Oracle twin of [[pcaCovariance]]: CTEs ending at `cm(C)` (the
    * dims×dims scaled covariance as a list of row lists) plus the
    * trace `tr(tr)`. HUGEINT accumulation (128-bit exact — r14
    * advice: DECIMAL(18,0) overflowed around ~1e6 rows while the
    * Spark side's BigDecimal is unbounded; HUGEINT matches it to
    * ~1e38 and avoids DuckDB's 38-digit decimal-multiply width
    * cap). */
  private val pcaBaseCtes: String =
    s"""e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
       |               x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
       |      FROM embeddings),
       |n AS (SELECT COUNT(*) AS n FROM e),
       |m AS (SELECT i.i, j.j,
       |             SUM(CAST(q[i.i] * q[j.j] AS HUGEINT)) AS m
       |      FROM e, generate_series(1, $Dims) i(i), generate_series(1, $Dims) j(j)
       |      WHERE j.j >= i.i GROUP BY i.i, j.j),
       |s AS (SELECT i.i, SUM(CAST(q[i.i] AS HUGEINT)) AS s
       |      FROM e, generate_series(1, $Dims) i(i) GROUP BY i.i),
       |cu AS (SELECT m.i, m.j,
       |              CAST(CAST(n.n AS HUGEINT) * m.m - sa.s * sb.s AS DOUBLE) AS c
       |       FROM m, n
       |       JOIN s sa ON sa.i = m.i JOIN s sb ON sb.i = m.j),
       |cf AS (SELECT i, j, c FROM cu
       |       UNION ALL SELECT j AS i, i AS j, c FROM cu WHERE i <> j),
       |cm AS (SELECT list(lc ORDER BY i) AS C FROM (
       |        SELECT i, list(c ORDER BY j) AS lc FROM cf GROUP BY i)),
       |tr AS (SELECT list_inner_product(
       |         list_transform(generate_series(1, $Dims), i -> C[i][i]),
       |         list_transform(generate_series(1, $Dims), i -> 1.0)) AS tr
       |       FROM cm)""".stripMargin

  /** Oracle twin of [[pcaPower]]: the unrolled iteration chain from a
    * one-row matrix table `src(C)` to `ray$tag(C, l, lam)`. */
  private def pcaChainCtes(tag: String, src: String): String = {
    val iters = (1 to PcaIters).map { t =>
      s"""p${tag}_$t AS (SELECT C, list_transform(w, x -> x / mx) AS v FROM (
         |  SELECT C, w, list_max(list_transform(w, y -> abs(y))) AS mx FROM (
         |    SELECT C, list_transform(generate_series(1, $Dims), i -> list_inner_product(C[i], v)) AS w
         |    FROM p${tag}_${t - 1})))""".stripMargin
    }.mkString(",\n")
    s"""p${tag}_0 AS (SELECT C, list_transform(generate_series(1, $Dims), x -> 1.0) AS v FROM $src),
       |$iters,
       |fin$tag AS (SELECT C, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS l0
       |        FROM p${tag}_$PcaIters),
       |sg$tag AS (SELECT C, CASE WHEN l0[1] < 0 THEN list_transform(l0, x -> -x) ELSE l0 END AS l
       |       FROM fin$tag),
       |ray$tag AS (SELECT C, l,
       |          list_inner_product(l, list_transform(generate_series(1, $Dims),
       |            i -> list_inner_product(C[i], l))) AS lam
       |        FROM sg$tag)""".stripMargin
  }

  /** Oracle twin of [[pcaDeflate]]: `df$tag(C)` from `ray$tag`. */
  private def pcaDeflateCte(tag: String): String =
    s"""df$tag AS (SELECT list_transform(generate_series(1, $Dims), i ->
       |             list_transform(generate_series(1, $Dims), j -> C[i][j] - lam * l[i] * l[j])) AS C
       |           FROM ray$tag)""".stripMargin

  /** The deterministic query sample the oracle-checked queries use —
    * harness scaffolding for the DuckDB twin, NOT part of the operator:
    * a real caller passes its own bounded query batch. A fixed-size
    * md5-order TakeOrdered (K rows to the driver, the seedCentroids
    * shape), never a corpus fraction — see the class doc. */
  def defaultQueries(emb: DataFrame): DataFrame =
    emb.orderBy(md5(concat(lit("q"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(QuerySample)

  /** The oracle CTE mirroring [[defaultQueries]] — `qs(vec_id)`, the
    * fixed-size md5-order query-id sample. Prepended by [[ivfCtes]];
    * standalone queries include it themselves. */
  private val qsCte: String =
    s"""qs AS (SELECT vec_id FROM embeddings
       |       ORDER BY md5('q' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $QuerySample)""".stripMargin

  /** DuckDB CTEs rebuilding the same sign-buckets: planes from md5 as
    * ORDERED LISTS, dots via `list_inner_product` (element-order
    * iteration, like the Spark side's left-to-right vec_dot fold),
    * bucket = packed sign bits. The dot must NOT be a SQL `SUM` over
    * exploded elements: a hash-aggregate accumulates doubles in
    * nondeterministic partial order, and a dot within ulps of zero
    * could then flip the `dot > 0` sign test between engines — or
    * between two runs of the same engine (Portable rule 1). */
  private val bucketCtes: String =
    s"""pl AS (SELECT t.t, p.p,
       |             list_transform(generate_series(0, ${Dims - 1}),
       |               i -> CAST('0x' || substr(md5('plane_' || CAST(t.t AS VARCHAR) || '_' || CAST(p.p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 6) AS BIGINT) / 16777216.0 - 0.5) AS wv
       |      FROM generate_series(0, ${NumTables - 1}) t(t),
       |           generate_series(0, ${NumPlanes - 1}) p(p)),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dots AS (SELECT ev.vec_id, pl.t, pl.p, list_inner_product(ev.v, pl.wv) AS dot
       |         FROM ev, pl),
       |bkt AS (SELECT vec_id, t,
       |               CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2.0, p) AS INT) ELSE 0 END) AS INT) AS bucket
       |        FROM dots GROUP BY vec_id, t)""".stripMargin

  private val cosSql =
    "list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))"

  /** Oracle twin of [[lshSearch]]'s scored candidates `sc`, shared by
    * ann_lsh and the ann_audit recall scorer. */
  private def lshScoredCtes: String =
    s"""cand AS (SELECT DISTINCT qb.vec_id AS qid, vb.vec_id AS nid
       |         FROM bkt qb JOIN bkt vb
       |           ON qb.t = vb.t AND qb.bucket = vb.bucket AND qb.vec_id <> vb.vec_id
       |         WHERE qb.vec_id IN (SELECT vec_id FROM qs)),
       |sc AS (SELECT c.qid, c.nid, ${Portable.Quant6Sql(cosSql)} AS score
       |       FROM cand c
       |       JOIN embeddings ea ON ea.vec_id = c.qid
       |       JOIN embeddings eb ON eb.vec_id = c.nid)""".stripMargin

  /** (vec_id, v, t, bucket) rows — NumTables rows per vector from ONE
    * corpus scan (all 4 tables' buckets are projected per row, then
    * posexploded — the unioned-scans form read the parquet 4 times to
    * fill this cache). Cached: both sides of the candidate self-join
    * consume it, and the 16 hyperplane dots per vector shouldn't run
    * twice. */
  private def buckets(spark: SparkSession, dir: String): DataFrame =
    embV(spark, dir)
      .select(col("vec_id"), col("v"),
        posexplode(array((0 until NumTables).map(t =>
          signBucket(col("v"), t, NumPlanes, Dims)): _*)).as(Seq("t", "bucket")))
      .cache()

  /** Expected per-bucket occupancy target for the SELF-JOIN LSH path
    * (dedup_embed). The query-batch paths (ann_lsh) keep the fixed
    * 2^NumPlanes buckets — their candidate set is Q·bucket-sized, so a
    * growing bucket only grows one query's candidates linearly. A
    * SELF-join enumerates occupancy² pairs per bucket, so its bucket
    * COUNT must grow with N: r7's fixed 16 buckets measured 61× runtime
    * at 10× data (the corpus-wide pair set is Θ(N²) under any constant
    * bucket count). */
  private[graft] val TargetBucketOcc = 32

  /** Plane count for the self-join path: the smallest p in
    * [NumPlanes, 19] with TargetBucketOcc·2^p ≥ n, i.e. p ≈
    * log₂(n/occ), so expected occupancy stays in [occ/2, occ] and the
    * per-table pair count N·occ/2 is LINEAR in the corpus. Pure integer
    * comparison (shift + ≥) so the DuckDB oracle's mirrored series-scan
    * picks the identical p — no float log₂ boundary can disagree. At
    * the sf0.01 gate (n=500) this is exactly NumPlanes=4, so the
    * oracle result is unchanged from the fixed-bucket rounds. */
  private[graft] def dynPlanes(n: Long): Int = {
    var p = NumPlanes
    while (p < 19 && (TargetBucketOcc.toLong << p) < n) p += 1
    p
  }

  /** Dense-plane cap for the self-join grid: planes 0..7 are full
    * hyperplane dots, planes ≥ 8 are sparse e_i−e_j comparison bits
    * (VectorOps.signBucket). dynPlanes doubles the bucket count with
    * the corpus to hold occupancy flat; with all planes dense that made
    * per-vector hashing Θ(log N)·dims — the 100× sweep's one
    * above-linear entry (122× wall at 100× data, 4×8→4×14 dots). The
    * cap keeps per-vector work constant: 4×8 dots always, extra bucket
    * bits at one double-compare each. 8 = dynPlanes at the sweep's 1×
    * base (sf0.1, n=5·10³), so every measured base point is unchanged. */
  private[graft] val DensePlanes = 8

  /** Near-dup candidate pairs (va < vb) for dedup_embed:
    * sign-LSH buckets under [[dynPlanes]]-many planes (bucket count
    * grows with N, occupancy constant) with the minhash pipeline's
    * hot-bucket cap (Dedup.MaxBucketDocs) as the SKEW guard — a
    * degenerate corpus (e.g. millions of identical vectors) would
    * otherwise still pile one bucket to occupancy² pairs. ids only
    * through the join; vectors join back per-side afterwards. */
  private[graft] def embedCandidates(emb: DataFrame, numPlanes: Int): DataFrame = {
    // localCheckpoint (the pareto_class rule): the sign-bucket relation
    // is NumTables x numPlanes hyperplane dots per vector and feeds the
    // hot-key aggregate plus both self-join sides — the cached
    // buckets() the pre-r8 path consumed covered this; the dynamic-
    // plane form must too
    val keys = emb.select(col("vec_id"),
      posexplode(array((0 until NumTables).map(t =>
        signBucket(col("v"), t, numPlanes, Dims, DensePlanes)): _*)).as(Seq("t", "bucket")))
      .stage()
    // hot-key set is corpus-shaped (≤ N/cap keys): no broadcast hint,
    // AQE broadcasts while small (the minhash rationale, Dedup.scala)
    val hot = keys.groupBy(col("t"), col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > Dedup.MaxBucketDocs).select(col("t"), col("bucket"))
    val bkc = keys.join(hot, Seq("t", "bucket"), "left_anti")
    bkc.as("a")
      .join(bkc.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
  }

  /** IVF coarse-centroid count — a FIXED constant, never a fraction of
    * the corpus: the assignment broadcasts the centroid table and
    * scores N×K dots, so K must not grow with N (a `vec_id % 97`-style
    * seed makes the broadcast O(N) and the coarse pass O(N²) — the
    * classic IVF scale mistake). At production scale K≈√N with a
    * k-means refinement; the deterministic md5-order sample here keeps
    * the oracle bit-identical. Recall@5 = 0.60 measured at
    * K=16/nProbe=4 on the random sf0.001 vectors (ScaleSpec floor 0.4). */
  private val NumCentroids = 16
  private val NumProbes = 4 // IVF cells searched per query (ann_ivf)
  private val RerankK = 4 * TopK // coarse candidates per query kept for exact rerank
  /** Production rerank width for the IVF×SQ8 seats (`ann_ivf_sq8`,
    * `ann_index_lifecycle`) — r15's clustered-fixture measurement made
    * the 4·k cut the bad point on the curve: a tight cluster puts
    * hundreds of candidates inside the int8 coarse scan's quantization
    * noise, capping recall@5 at ~0.35, while width 128 measures
    * 0.84–0.86 at 1–10% probed cells for flat cost (rerank is
    * Q·rerankK exact cosines — workload-sized, never corpus-sized).
    * k-scaled so a caller raising TopK keeps a sane cut; the shared
    * DuckDB oracle (`ivfSq8Sql`) replays the same width, so parity is
    * regenerated, not broken (r15 verdict task 1). ann_quantized keeps
    * RerankK: its coarse pass scans the FULL corpus (no cell routing
    * to lose candidates), measured recall@5 = 1.0 at the 4·k cut. */
  private[graft] val SqRerankK = math.max(4 * TopK, 128)
  // ann_ivf_sq8 probes more cells than ann_ivf: the int8 coarse pass
  // makes a probed cell ~8× cheaper to scan than the float64 column,
  // so the IVFADC composition spends that saving on recall (>= 0.9
  // floor in ScaleSpec, vs 0.60 at nProbe=4). The production tradeoff
  // is the same curve: nProbe/K buys recall at linear coarse cost.
  private val SqNumProbes = 10
  // the residual-PQ cascade probes wider still: its quantization is
  // the lossiest of the ladder, and an unprobed cell is unrecoverable
  // recall — 12/16 cells measured 0.84 recall@5 vs 0.80 at 10/16
  private val PqNumProbes = 12
  private val quantCos = "floor(list_cosine_similarity(%s, %s) * 1000000.0) / 1000000.0"

  /** Fixed-K centroid sample: a distributed TakeOrdered (map-side
    * per-partition top-K, K-row merge on the driver) — the centroid
    * table is O(K) regardless of corpus size, so the assignment
    * broadcast never grows with N. `emb` must carry (vec_id, v). */
  def seedCentroids(emb: DataFrame, k: Int = NumCentroids): DataFrame =
    emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** quant6-floored cosine against a centroid — shared by assignment
    * and probe selection so both engines agree bit-for-bit. */
  private def centScore: Column = Portable.quant6(cosine(col("v"), col("cv")))
  private def bestCent: Column = struct(col("score"), (-col("cid")).as("nc"))

  /** The N×K broadcast-scored relation (vec_id, cid, score [,extras])
    * every centroid stage starts from — ONE definition of the
    * crossJoin + scoring + tie-break inputs, so assignment, probe
    * selection, quantized cells, and refinement can never drift on
    * the scoring or the broadcast shape. */
  private def scoredByCent(rows: DataFrame, cent: DataFrame, extras: Column*): DataFrame =
    rows.crossJoin(broadcast(cent))
      .select(Seq(col("vec_id"), col("cid"), centScore.as("score")) ++ extras: _*)

  /** SemDeDup cell count: K = ceil(N / TargetCellSize) (floor at the
    * ANN family's fixed NumCentroids — identical at the sf0.01 oracle
    * gate, where ceil(500/32) = 16). The dedup SELF-join enumerates
    * occupancy²/2 pairs per cell, so unlike the query-bounded ANN
    * paths the cell COUNT must grow with N — r8's sweep measured the
    * fixed-16-cell version at 18.6× runtime for 10× data, the same
    * Θ(N²) family as dedup_embed's fixed buckets. K ∝ N is the
    * SemDeDup paper's own regime (K≈110k on 5B LAION embeddings); the
    * price is the N×K assignment scan, which is embarrassingly
    * parallel brute force here; [[assignTwoLevel]] is the implemented
    * two-level (coarse √K → fine) refinement for when K·dims outgrows
    * a flat scan — same output schema, ~3√K dots per vector, measured
    * in ScaleSpec — and the cell structure and the pair stage are
    * unchanged by that swap. Pure integer/pow-2 arithmetic (÷32 is exact
    * in doubles) so the oracle's ceil() picks the identical K. */
  private[graft] val TargetCellSize = 32
  private[graft] def dynCentroids(n: Long): Int =
    math.max(NumCentroids.toLong, (n + TargetCellSize - 1) / TargetCellSize).toInt

  /** Coarse group count for [[assignTwoLevel]]: the smallest POWER OF
    * TWO g with g² ≥ k (floored at 4 so `probes` coarse groups always
    * exist), i.e. g ≈ √k — the balance point where routing cost
    * N·(g + probes·k/g) is minimized. Pure integer shift-and-compare,
    * exactly like [[dynPlanes]], so the DuckDB oracle's mirrored
    * power-of-two series scan picks the identical g — a float
    * ceil(sqrt()) could disagree at perfect squares. At the sf0.01
    * oracle gate k=16 → g=4. */
  private[graft] def dynCoarse(k: Int): Int = {
    var g = 1
    while (g.toLong * g < k) g <<= 1
    math.max(4, g)
  }

  /** Fine-centroid count above which [[assignTwoLevel]] stops hinting
    * broadcast for the gid-keyed fine-table join and lets the planner
    * shuffle it (the ADVICE r8 item: an explicit hint has no AQE size
    * fallback, so a corpus-growing centroid table would HARD-FAIL at
    * the broadcast limit instead of degrading — K = N/32 crosses any
    * driver memory bound long before the algorithm does). 2^16
    * centroids × (64-dim double vector + ids) ≈ 36 MB — comfortably
    * under spark.driver.maxResultSize yet far past autoBroadcastJoin
    * defaults, so small corpora keep the broadcast plan and large ones
    * degrade to a keyed shuffle join, never an error. */
  private[graft] val MaxBroadcastCentroids = 1 << 16

  /** TWO-LEVEL nearest-centroid assignment — the production form of
    * [[assign]] once K = dynCentroids(N) outgrows a flat N×K scan
    * (SemDeDup's K ∝ N makes flat assignment Θ(N²/cellSize); this is
    * the refinement the dedup_semantic Scaladoc promises). Standard
    * hierarchical routing (the IMI / two-level k-means tree): the K
    * fine centroids are grouped under √K-ish COARSE centroids (an
    * md5-order sample of the fine table — same determinism as every
    * seed here); a vector scores the coarse table, descends into its
    * top-`probes` coarse groups, and takes the best fine centroid
    * found there. Cost: K×G once for the fine→coarse grouping, then
    * N×(G + probes·K/G) instead of N×K — at G=√K and probes=2 that is
    * ~3√K dots per vector. APPROXIMATE: the true nearest fine centroid
    * can live under an unprobed coarse group (probes buys agreement;
    * ScaleSpec measures it against flat assignment, and the
    * `semantic_assign_audit` query monitors it per run). The fine
    * table join is KEYED on gid, so it broadcasts only while fineK ≤
    * [[MaxBroadcastCentroids]] and becomes a plain shuffle join past
    * that — the degrade-don't-die fallback the flat crossJoin form
    * cannot have. Returns (vec_id, cid, score, v): the chosen
    * centroid's quant6 cosine rides along (free — it is the max the
    * final aggregate already computes; semantic_assign_audit's regret
    * metric needs it), and the vector rides the final aggregate so a
    * consumer never re-joins the corpus for it. */
  private[graft] def assignTwoLevel(emb: DataFrame, cent: DataFrame,
      fineK: Int, coarseK: Int, probes: Int = 2): DataFrame = {
    val coarse = seedCentroids(
      cent.select(col("cid").as("vec_id"), col("cv").as("v")), coarseK)
      .select(col("cid").as("gid"), col("cv").as("gv"))
    // fine → coarse grouping: K×G dots, once
    val grouped = cent.crossJoin(broadcast(coarse))
      .select(col("cid"), col("cv"),
        struct(Portable.quant6(cosine(col("cv"), col("gv"))).as("score"),
          (-col("gid")).as("ng"), col("gid")).as("s"))
      .groupBy(col("cid"))
      .agg(max_by(col("s.gid"), struct(col("s.score"), col("s.ng"))).as("gid"),
        first(col("cv")).as("cv"))
    // vector → top-`probes` coarse groups: N×G dots folded to one
    // G-bounded list per vector MAP-SIDE (the assign rule: a window
    // here would shuffle N×G rows to rank them; the collect_list
    // partial is bounded by G, so the shuffle carries N rows)
    val routed = emb.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("v"), col("gid"),
        Portable.quant6(cosine(col("v"), col("gv"))).as("gscore"))
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"),
        slice(array_sort(collect_list(
          struct((-col("gscore")).as("ns"), col("gid")))), 1, probes).as("gs"))
      .select(col("vec_id"), col("v"),
        explode(expr("transform(gs, x -> x.gid)")).as("gid"))
    // best fine centroid within the probed groups: N×probes·(K/G) dots.
    // gid-keyed equi-join — broadcast while the fine table is small,
    // a plain shuffle join (G keys, K/G rows each) once it is not
    val fine = if (fineK <= MaxBroadcastCentroids) broadcast(grouped) else grouped
    routed.join(fine, "gid")
      .select(col("vec_id"), col("v"),
        struct(Portable.quant6(cosine(col("v"), col("cv"))).as("score"),
          (-col("cid")).as("nc"), col("cid")).as("s"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("s.cid"), struct(col("s.score"), col("s.nc"))).as("cid"),
        max(col("s.score")).as("score"),
        first(col("v")).as("v"))
  }

  /** Nearest-centroid assignment as an AGGREGATE, not a window: the
    * N×K scored rows are collapsed to one partial per vector map-side
    * (each vector's K centroid scores are born in one partition from
    * the broadcast join), so the shuffle carries N rows — at 1B
    * vectors × 1k centroids a window here would shuffle 1T rows to
    * rank them. Tie-break matches the oracle: best score, LOWEST cid.
    * `carry` columns ride the aggregate (`first`: every scored row of a
    * vector carries the same value), so a consumer never re-joins the
    * corpus for them. */
  private[graft] def assign(emb: DataFrame, cent: DataFrame, carry: String*): DataFrame =
    scoredByCent(emb, cent, carry.map(col): _*)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), bestCent).as("cid"), carry.map(c => first(col(c)).as(c)): _*)

  /** Each query's nProbe nearest cells: same aggregate trick — top-n
    * kept via a bounded sorted list per key (partials merge map-side,
    * state is O(K) per QUERY — workload-bounded), never a rank over
    * the joined rows. */
  private def probeCells(queries: DataFrame, cent: DataFrame, nProbes: Int): DataFrame =
    scoredByCent(queries, cent)
      .groupBy(col("vec_id"))
      .agg(slice(sort_array(collect_list(bestCent), asc = false), 1, nProbes).as("top"))
      .select(col("vec_id").as("qid"), explode(col("top")).as("p"))
      .select(col("qid"), (-col("p.nc")).as("cid"))

  /** Candidate generator for the flat (all-pairs) search paths: corpus
    * (vec_id, …) × queries (qid, …) as (qid, nid, `score`).
    * Broadcast for a bounded workload batch; fragment-and-replicate
    * (keyed equi-join on `pmod(vec_id, F)`, queries replicated F ways)
    * when the batch outgrows a comfortable broadcast — every pair
    * still appears exactly once because a corpus row matches only the
    * replica carrying its own fragment id. */
  private def pairQueries(corpus: DataFrame, queries: DataFrame, broadcastQueries: Boolean,
      excludeSelf: Boolean, score: Column): DataFrame = {
    val pairs = if (broadcastQueries) corpus.crossJoin(broadcast(queries))
    else corpus
      .withColumn("__qs", pmod(col("vec_id"), lit(QueryFragments)).cast("int"))
      .join(queries.withColumn("__qs",
        explode(sequence(lit(0), lit(QueryFragments - 1)))), "__qs")
      .drop("__qs")
    dropSelf(pairs, excludeSelf, "vec_id").select(col("qid"), col("vec_id").as("nid"), score)
  }

  /** Candidate generator for the IVF paths: cell rows (nid, cid, …) ×
    * query probes (qid, cid, …) as (qid, nid, `score`…), probes
    * replicated [[CellSalt]] ways so each cell row meets exactly one
    * replica. No broadcast hint: AQE broadcasts the Q-shaped probe
    * table while it fits and keys the join when it doesn't. */
  private def cellJoin(cells: DataFrame, probes: DataFrame, excludeSelf: Boolean,
      score: Column*): DataFrame =
    dropSelf(cells.withColumn("__cs", pmod(col("nid"), lit(CellSalt)).cast("int"))
      .join(probes.withColumn("__cs", explode(sequence(lit(0), lit(CellSalt - 1)))),
        Seq("cid", "__cs")), excludeSelf, "nid")
      .select(Seq(col("qid"), col("nid")) ++ score: _*)

  /** Exact top-k per query via the salted two-phase window: per-(qid,
    * nid%64) pre-top first, then the true top-k over the 64·k
    * survivors. nid is unique, so the (score desc, nid) comparator is
    * a total order and the pre-cut provably preserves the global
    * top-k — and no reducer ever holds all the scores of one query
    * (the single-window form shuffles a query's whole candidate set
    * to one task: the growing-top-k scale-killer). Spark additionally
    * pushes both rank filters down as WindowGroupLimit. */
  private[graft] def saltedTopK(scored: DataFrame, score: Column, k: Int): DataFrame = {
    val wSalted = Window.partitionBy(col("qid"), pmod(col("nid"), lit(64)))
      .orderBy(score.desc, col("nid"))
    val wTop = Window.partitionBy(col("qid")).orderBy(score.desc, col("nid"))
    scored
      .withColumn("srn", row_number().over(wSalted))
      .filter(col("srn") <= k)
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .drop("srn")
  }

  private def finish(ranked: DataFrame): DataFrame =
    ranked.select(col("qid").as("query_id"), col("nid").as("neighbor_id"),
      col("rn").cast("long").as("rank"), col("score"))

  /** The self-match rule behind every search path's `excludeSelf`
    * parameter: a query drawn FROM the corpus (the oracle's %100
    * sample) must not return itself, so id equality drops that one
    * row. For an EXTERNAL query batch whose ids are not corpus ids,
    * pass excludeSelf = false — there, id equality is coincidence and
    * the default would silently drop an unrelated true neighbor. */
  private def dropSelf(pairs: DataFrame, on: Boolean, nid: String): DataFrame =
    if (on) pairs.filter(col(nid) =!= col("qid")) else pairs

  /** The exact (qid, nid) cosine join: keyed joins to both float
    * vectors, quant6 cosine as `score`. */
  private def exactScores(cand: DataFrame, emb: DataFrame, queries: DataFrame): DataFrame =
    cand
      .join(queries.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
      .join(emb.select(col("vec_id").as("nid"), col("v").as("nv")), "nid")
      .select(col("qid"), col("nid"),
        Portable.quant6(cosine(col("qv"), col("nv"))).as("score"))

  /** The shortlist tail of every quantized path: salted coarse top-
    * `width` by `cscore`, exact rerank of the survivors, and the final
    * top-k — a per-query window over ≤ width rows (bounded, no salt
    * needed).
    *
    * `gate = Some(query)` attaches that query's sampled-recall gate
    * ([[sampledRecallFrame]]): the gate frame rides the returned plan
    * as a broadcast one-row cross join (the audit-gate mechanics —
    * assert_true inside the frame's filter, so a collapsed recall
    * aborts every execution path while a healthy one passes rows
    * through byte-identical). The approximate side is the result
    * itself restricted to the sampled query ids (a broadcast
    * semi-join), not a second run of the search: every gated path is
    * per-query independent — ADC tables, cell probes, the salted top-R
    * and the rerank are all partitioned by query id — so those rows
    * ARE what the search returns for the sample alone (GatesSpec-
    * asserted), and AQE stage reuse serves the gate branch from the
    * result's exchanges instead of repeating its corpus scan. (Not
    * when the corpus relation is `.cache()`d: each in-memory scan
    * becomes its own table-cache stage, the branch no longer matches,
    * and it recomputes — same rows, more work.) Only the exact side
    * (GateSampleQ·N dots) is extra work, and a search's corpus-sized
    * inputs (the N-row encode, the cell table) need no staging: they
    * run once per execution. */
  private def shortlist(coarse: DataFrame, width: Int, emb: DataFrame, queries: DataFrame,
      excludeSelf: Boolean, gate: Option[String], gateFloor: Double = AnnGateFloor): DataFrame = {
    val top = saltedTopK(coarse, col("cscore"), width).select(col("qid"), col("nid"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    val result = finish(exactScores(top, emb, queries)
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= TopK))
    gate.fold(result) { query =>
      val sample = gateSample(queries)
      val frame = sampledRecallFrame(
        bruteForce(emb, sample, broadcastQueries = true, excludeSelf),
        result.join(broadcast(sample.select(col("vec_id").as("query_id"))),
          Seq("query_id"), "left_semi"),
        query, gateFloor)
      result.crossJoin(broadcast(frame.select(lit(1).as("__gate")))).drop("__gate")
    }
  }

  /** int8 storage: floor-scale to [-128, 127], kept as tinyint — the
    * 8×-narrower column the SQ8 coarse passes scan. */
  private def quantizeExpr(v: Column): Column =
    transform(v, x =>
      greatest(least(floor(x * 127.0), lit(127.0)), lit(-128.0)).cast("tinyint"))

  /** L7 — the LSH-bucketed search (shared by the ann_lsh query and
    * the ann_audit recall scorer, so the audit measures the exact
    * search that ships). */
  private[graft] def lshSearch(spark: SparkSession, dir: String): DataFrame = {
    val bk = buckets(spark, dir)
    // the fixed-size query sample arrives as a broadcast semi-join on
    // the bucket relation (QuerySample ids — the `% 100` filter this
    // replaced was a corpus fraction, see the class doc)
    val qb = bk.join(
      broadcast(defaultQueries(embV(spark, dir)).select(col("vec_id"))),
      Seq("vec_id"), "left_semi")
    val cand = qb.as("a")
      .join(bk.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
      .distinct()
    val emb = embV(spark, dir)
    // sign buckets are a constant partition of the space (16 per
    // table), so bucket size — and with it a query's candidate set —
    // grows with N: salt the final top-k like every other ANN path
    finish(saltedTopK(exactScores(cand, emb, emb), col("score"), TopK))
  }

  /** L6 — exact brute-force cosine top-k for a query batch. */
  def bruteForce(
      emb: DataFrame, queries: DataFrame, broadcastQueries: Boolean = true,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("v").as("qe"))
    val scored = pairQueries(emb, q, broadcastQueries, excludeSelf,
      Portable.quant6(cosine(col("v"), col("qe"))).as("score"))
    finish(saltedTopK(scored, col("score"), TopK))
  }

  /** L7c — flat SQ8: integer-dot coarse pass over the int8 column
    * (exact in both engines, codegen'd vec_dot_i8 — a
    * zip_with/aggregate fold here evaluates interpreted, see the
    * dedup_simhash negative result in PLANS.md), salted top-R, exact
    * cosine rerank on the R survivors only. */
  def quantizedSearch(
      emb: DataFrame, queries: DataFrame, broadcastQueries: Boolean = true,
      excludeSelf: Boolean = true): DataFrame = {
    val qz = emb.select(col("vec_id"), quantizeExpr(col("v")).as("qv"))
    val q8 = queries.select(col("vec_id").as("qid"), quantizeExpr(col("v")).as("qq"))
    val coarse = pairQueries(qz, q8, broadcastQueries, excludeSelf,
      call_function("vec_dot_i8", col("qv"), col("qq")).as("cscore"))
    shortlist(coarse, RerankK, emb, queries, excludeSelf, gate = None)
  }

  /** The IVF search stage against ANY (cid, cv) centroid table —
    * shared by the oracle-checked query (seed centroids) and the
    * k-means-refined variant ScaleSpec measures. Candidate generation
    * is the salted cell equi-join; exact cosine runs only on in-cell
    * candidates; the final top-k is the salted two-phase window
    * (candidates per query grow with cell size ∝ N/K). */
  def ivfSearch(
      emb: DataFrame, cent: DataFrame, queries: DataFrame,
      nProbes: Int = NumProbes, excludeSelf: Boolean = true): DataFrame = {
    val cells = assign(emb, cent).select(col("vec_id").as("nid"), col("cid"))
    val cand = cellJoin(cells, probeCells(queries, cent, nProbes), excludeSelf).distinct()
    finish(saltedTopK(exactScores(cand, emb, queries), col("score"), TopK))
  }

  /** L7d — IVFADC (IVF × SQ8): the int8 coarse pass runs ONLY inside
    * the query's nProbe probed cells — the search cascade real
    * billion-vector systems use (Jegou et al.: inverted file to cut
    * the candidate space, asymmetric/quantized distance to scan it,
    * exact rerank on the survivors). vs `ann_quantized`, the coarse
    * scan shrinks from N to nProbe/K·N rows; vs `ann_ivf`, the in-cell
    * scan reads the 8×-narrower int8 column and pays full-precision
    * cosine only for [[SqRerankK]] survivors per query, which is what
    * lets it probe 2.5× more cells for recall at similar cost.
    *
    * Stage shapes: assignment O(N·K) map-side aggregate; ONE keyed
    * join attaches each corpus row's int8 vector to its cell; then the
    * spine's salted cell join ([[cellJoin]]) and shortlist tail. */
  def ivfSq8Search(
      emb: DataFrame, cent: DataFrame, queries: DataFrame,
      nProbes: Int = SqNumProbes, excludeSelf: Boolean = true): DataFrame =
    sq8SearchCells(quantizedCells(emb, cent), emb, cent, queries,
      nProbes, excludeSelf)

  /** Each corpus row's (cell, int8 vector) in ONE scan and ONE
    * shuffle: the quantization is a per-row projection BEFORE the
    * broadcast centroid expansion, and the int8 vector rides the
    * assignment aggregate — vs assigning and quantizing separately,
    * which costs a second corpus scan plus a sort-merge join's two
    * shuffles to reunite them. */
  private def quantizedCells(emb: DataFrame, cent: DataFrame): DataFrame =
    assign(emb.select(col("vec_id"), col("v"), quantizeExpr(col("v")).as("nv8")), cent, "nv8")
      .select(col("vec_id").as("nid"), col("cid"), col("nv8"))

  /** The IVFADC search from a materialized (nid, cid, nv8) cell table
    * on — shared by the dynamic path ([[ivfSq8Search]]) and the
    * persisted index ([[searchIvfIndex]]).
    *
    * `rerankK` is the coarse-survivor width the exact rerank pays for
    * — THE recall lever on clustered corpora (the PqRerank lesson,
    * re-measured at dyn K in r15): a tight cluster puts hundreds of
    * candidates within ~2% cosine of each other, which is inside the
    * int8 coarse scan's quantization noise, so the true top-k is
    * frequently outside a 4·k coarse cut while trivially inside a
    * 64-128 wide one — and rerank cost is Q·rerankK exact cosines,
    * workload-sized, never corpus-sized. Since r16 the DEFAULT is the
    * production width [[SqRerankK]] and the shared oracle replays the
    * same cut; the sq8 gate floor rises with it ([[SqGateFloor]]). */
  private def sq8SearchCells(
      cellTable: DataFrame, emb: DataFrame, cent: DataFrame,
      queries: DataFrame, nProbes: Int, excludeSelf: Boolean,
      rerankK: Int = SqRerankK): DataFrame = {
    val q8 = queries.select(col("vec_id").as("qid"), quantizeExpr(col("v")).as("qq8"))
    val coarse = cellJoin(cellTable, probeCells(queries, cent, nProbes).join(q8, "qid"),
      excludeSelf, call_function("vec_dot_i8", col("nv8"), col("qq8")).as("cscore"))
    shortlist(coarse, rerankK, emb, queries, excludeSelf, Some("ann_ivf_sq8"), SqGateFloor)
  }

  /** BUILD-ONCE lifecycle for the inverted file: persist the
    * assignment + quantized vectors as a parquet table PARTITIONED BY
    * CELL ID, plus the centroid table beside it. This is what a real
    * ANN deployment does — the O(N·K) assignment and the int8
    * quantization are paid once at index-build time, and the inverted
    * file IS the directory layout: `cid=<cell>/` dirs mean a search
    * touches only its probed cells' FILES (dynamic partition pruning
    * from the probe join), not just probed cells' rows. Rebuild when
    * the corpus or centroids change; at 100 TB this is the same
    * build/serve split as the warehouse's bucketed tables.
    *
    * `twoLevel = Some((fineK, coarseK))` routes the build's assignment
    * through [[assignTwoLevel]] instead of the flat N×K scan — the
    * production shape once K = dynCentroids(N) (a K ∝ N table makes
    * flat assignment Θ(N²/cellSize) and its broadcast corpus-shaped;
    * two-level costs ~(coarseK + probes·fineK/coarseK) dots per vector
    * and the fine-table join degrades to a shuffle past
    * [[MaxBroadcastCentroids]] instead of hard-failing). The search
    * side ([[searchIvfIndex]]) is unchanged: probe selection is
    * workload-sized (Q×K) at any K. Two-level assignment is
    * APPROXIMATE (a vector can land in a near-tie neighbor cell), so a
    * twoLevel-built index is the monitored production trade — gated by
    * `semantic_assign_audit`'s regret ceiling and the searches' own
    * sampled score-recall gate — not bit-identical to a flat build;
    * the oracle-checked seats keep the flat fixed-K build. Appends
    * ([[appendToIvfIndex]]) stay flat — O(|delta|·K) is delta-priced
    * at any realistic delta; pass the same centroid table.
    *
    * `refineIters > 0` (two-level builds only) runs that many
    * [[refineCentroidsTwoLevel]] Lloyd steps over the seed sample
    * before assignment — the production dyn-K shape (r14 verdict
    * task 1; see the refinement's Scaladoc for the measured why). The
    * refined table is WRITTEN FIRST and read back for the cell
    * assignment: one materialization cuts the K-row lineage out of
    * the N-row build plan, and the cells are assigned against
    * byte-for-byte the centroids every later search will probe. The
    * cells are written one file per cell ([[IndexTable]]). */
  def buildIvfIndex(emb: DataFrame, cent: DataFrame, path: String,
      twoLevel: Option[(Int, Int)] = None, refineIters: Int = 0): Unit = {
    require(refineIters == 0 || twoLevel.isDefined,
      "refineIters is the dyn-K production knob — flat fixed-K builds refine via refineCentroids")
    val cFinal = twoLevel match {
      case Some((fineK, coarseK)) if refineIters > 0 =>
        refineCentroidsTwoLevel(emb, cent, fineK, coarseK, refineIters)
      case _ => cent
    }
    Index.Centroids.write(cFinal, path)
    val centR = Index.Centroids.read(emb.sparkSession, path)
    val cells = twoLevel match {
      case Some((fineK, coarseK)) =>
        assignTwoLevel(emb, centR, fineK, coarseK)
          .select(col("vec_id").as("nid"), quantizeExpr(col("v")).as("nv8"), col("cid"))
      case None => quantizedCells(emb, centR)
    }
    Index.Sq8Cells.write(cells, path)
  }

  /** INCREMENTAL index maintenance — the ANN twin of
    * [[graft.operators.Dedup.buildDedupIndex]]'s delta lifecycle:
    * assign + quantize ONLY the delta vectors against the index's
    * frozen centroid table and append them into the same `cid=`
    * partition layout. Daily embedding ingestion then costs
    * O(|delta|·K), never an O(N·K) rebuild, and searches after an
    * append are bit-identical to a full rebuild over the combined
    * corpus (spec-asserted): cell assignment depends only on
    * (vector, centroids), and parquet append into a partition dir is
    * set-union at the reader. Re-seed/refine centroids and rebuild
    * only when drift erodes the measured recall (dev/recall.sh). */
  def appendToIvfIndex(spark: SparkSession, embDelta: DataFrame, path: String): Unit =
    appendToIvfIndex(spark, embDelta, path, Index.Centroids.read(spark, path))

  /** Same, against a caller-provided centroid relation — the r16
    * latency fix for multi-delta maintenance (guide §2.4 "remove
    * [work] outright"): a caller appending several deltas reads and
    * caches `$path/centroids` ONCE instead of paying a parquet
    * schema-infer + scan job per delta (the centroid table is frozen
    * across appends by definition, so the reuse cannot change the
    * assignment). */
  def appendToIvfIndex(spark: SparkSession, embDelta: DataFrame, path: String,
      cent: DataFrame): Unit = {
    ensureRegistered(spark)
    Index.Sq8Cells.write(quantizedCells(embDelta, cent), path, "append")
  }

  /** Search a [[buildIvfIndex]]-persisted index: identical results to
    * the dynamic [[ivfSq8Search]] (ScaleSpec-asserted), but the plan
    * has NO assignment stage and scans only probed `cid=` partitions —
    * Spark's dynamic partition pruning turns the probe join into a
    * runtime partition filter on the index scan. */
  def searchIvfIndex(
      spark: SparkSession, path: String, emb: DataFrame, queries: DataFrame,
      nProbes: Int = SqNumProbes, excludeSelf: Boolean = true,
      rerankK: Int = SqRerankK): DataFrame = {
    ensureRegistered(spark)
    sq8SearchCells(Index.Sq8Cells.read(spark, path), emb, Index.Centroids.read(spark, path),
      queries, nProbes, excludeSelf, rerankK)
  }

  /** PQ geometry: M subspaces × Cn codes. 64 dims / 16 = 4-dim
    * subvectors; 16 codes per subspace store a vector as 16 half-byte
    * codes — 32× narrower than the float64 column (vs SQ8's 8×).
    * M=16 over M=8 is the standard recall/size trade (Jegou et al.
    * §V.A: finer subspaces quantize better at the same code budget):
    * a 16-entry book covers a 4-dim subspace far more densely than an
    * 8-dim one, which lifted measured recall@5 on the worst-case
    * random corpus well past the 8-subspace 0.60 (ScaleSpec pins the
    * floor at 0.75); the scan cost moves from 8 to 16 table lookups
    * per candidate — still no vector arithmetic at scan time. */
  private val PqM = 16
  private val PqCodes = 16
  private val PqSub = Dims / PqM
  // PQ keeps a wider coarse list than the SQ8 paths: with table
  // lookups per candidate the coarse pass is nearly free, and the
  // PQ quantization is lossier than int8 — spending rerank width is
  // the cheapest recall lever (at M=8: recall@5 0.36 at R=20 → 0.60
  // at R=64 on the worst-case random corpus; at M=16: 0.80/0.76 at
  // R=64 → measured again at R=128 for the r8 floor lift). Rerank
  // cost is Q·R exact cosines — workload-sized, never corpus-sized.
  private val PqRerank = 128

  /** Written schemas of the persisted index tables: ONE definition per
    * table, shared by its writer and every reader, so a typed read runs
    * no parquet schema-inference job. `cid` is the cells' partition
    * column — declared, it reads back as the bigint the writer wrote,
    * not an inferred int. */
  private[graft] val CentroidsSchema = StructType(Seq(
    StructField("cid", LongType), StructField("cv", ArrayType(DoubleType))))
  private[graft] val Sq8CellsSchema = StructType(Seq(StructField("nid", LongType),
    StructField("nv8", ArrayType(ByteType)), StructField("cid", LongType)))
  private[graft] val PqCodesSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cd", ArrayType(IntegerType))))
  private[graft] val PqBookSchema = StructType(
    Seq(StructField("code", IntegerType), StructField("cv", ArrayType(DoubleType))) ++
      (0 until PqM).map(m => StructField(s"c2_$m", DoubleType)))
  private[graft] val PqCellsSchema = StructType(Seq(StructField("nid", LongType),
    StructField("cd", ArrayType(IntegerType)), StructField("cid", LongType)))

  /** One persisted index table under an index root: its directory
    * name, its written schema, and whether it is the inverted file
    * (`byCell`: partitioned by `cid`). Every build, append, search and
    * the lifecycle seat go through this one write and one typed read.
    * A cell write repartitions on cid first: straight off an
    * assignment aggregate or join every one of the shuffle's tasks
    * writes a file into each `cid=` dir it touches — tasks×K tiny
    * files (≈20k at the tile set's K=625: the 'dynK search wall' in
    * IVF_DYNK_R14 was mostly per-file listing/open overhead, and at a
    * real 100 TB index a million-file layout is an operational bug).
    * Hashing on cid lands each cell in exactly one task → one file per
    * cell, for one extra exchange at write time. */
  private final case class IndexTable(name: String, schema: StructType,
      byCell: Boolean = false) {
    def write(df: DataFrame, root: String, mode: String = "overwrite"): Unit = {
      val rows = df.select(schema.map(f => col(f.name).cast(f.dataType)): _*)
      if (byCell) rows.repartition(col("cid")).write.mode(mode).partitionBy("cid")
        .parquet(s"$root/$name")
      else rows.write.mode(mode).parquet(s"$root/$name")
    }
    def read(spark: SparkSession, root: String): DataFrame =
      spark.read.schema(schema).parquet(s"$root/$name")
  }

  /** The persisted index tables of IVF-SQ8, flat PQ and IVF-PQ. */
  private object Index {
    val Centroids = IndexTable("centroids", CentroidsSchema)
    val Sq8Cells = IndexTable("cells", Sq8CellsSchema, byCell = true)
    val PqCodes = IndexTable("codes", PqCodesSchema)
    val PqBook = IndexTable("book", PqBookSchema)
    val PqCells = IndexTable("cells", PqCellsSchema, byCell = true)
  }

  /** L7e — product quantization with asymmetric distance (the PQ/ADC
    * of Jegou/Douze/Schmid, TPAMI 2011 — the composition ann_quantized
    * stands in for with scalar quantization). Each vector is stored as
    * M=16 per-subspace code ids (argmin-L2 against a 16-entry codebook
    * per subspace — |c|²−2·v·c, since |v|² is constant under the
    * argmin); a query precomputes the 128-entry table of
    * subspace-dot(q_m, code) once, and the coarse score of any corpus
    * vector is 8 TABLE LOOKUPS + a fixed-order add chain — no vector
    * arithmetic touches the corpus at scan time, and the scan reads 8
    * code bytes per vector instead of 512 float bytes. Exact cosine
    * rerank on the coarse top-R only, as in the SQ8 paths.
    *
    * Scale shape: codebooks are the md5-order sample's subvectors
    * (O(M·Cn) broadcast, the seedCentroids rule); encoding is one
    * crossJoin-broadcast + a single aggregate with M min_by partials
    * (map-side collapse, the `assign` rule); the ADC table is
    * workload-sized (queries × 128 doubles); coarse top-R uses the
    * salted two-phase window. Parity: every dot is an ordered
    * vec_dot / list_inner_product fold over an 8-dim slice, the
    * lookup sum is a written-out 8-term chain (never a SQL SUM over
    * per-subspace rows — hash-aggregate order would be
    * nondeterministic), and argmin ties break on code id. */
  def pqSearch(
      emb: DataFrame, queries: DataFrame, broadcastQueries: Boolean = true,
      excludeSelf: Boolean = true): DataFrame = {
    // codebook = the seedCentroids sample (pqBook's "" key reproduces
    // md5(vec_id) order); encode + per-query ADC table + the coarse
    // 8-lookup fixed-order score, shared with the IVF×PQ composition
    val book = pqBook(emb, "")
    pqSearchFrom(pqEncode(emb, book), book, emb, queries,
      broadcastQueries, excludeSelf)
  }

  /** The flat-PQ search from a materialized (vec_id, cd) code relation
    * + codebook on — ONE definition shared by the dynamic path
    * ([[pqSearch]]) and the persisted index ([[searchPqIndex]]), so
    * the two can never drift on scoring, rerank, or the recall gate. */
  private def pqSearchFrom(enc: DataFrame, book: DataFrame, emb: DataFrame,
      queries: DataFrame, broadcastQueries: Boolean, excludeSelf: Boolean): DataFrame = {
    val coarse = pairQueries(enc, pqTable(queries, book), broadcastQueries, excludeSelf,
      adcScore.as("cscore"))
    shortlist(coarse, PqRerank, emb, queries, excludeSelf, Some("ann_pq"))
  }

  /** BUILD-ONCE lifecycle for the FLAT-PQ index — the codebook-train +
    * N-row encode are the whole corpus-proportional cost of pqSearch,
    * so a serving deployment pays them once and persists (codes,
    * book) exactly like the IVF twins persist (cells, centroids).
    * There is no cell layout to prune here (flat PQ scans every code
    * row by design — 32× narrower than the float column); the win is
    * skipping the train+encode, not the scan. */
  def buildPqIndex(emb: DataFrame, path: String): Unit = {
    val book = pqBook(emb, "")
    Index.PqCodes.write(pqEncode(emb, book), path)
    Index.PqBook.write(book, path)
  }

  /** Search a [[buildPqIndex]]-persisted index: identical results to
    * the dynamic [[pqSearch]] (spec-asserted — integer codes and the
    * book's doubles round-trip parquet bit-exactly), with no codebook
    * train or encode stage in the plan. */
  def searchPqIndex(
      spark: SparkSession, path: String, emb: DataFrame, queries: DataFrame,
      broadcastQueries: Boolean = true, excludeSelf: Boolean = true): DataFrame = {
    ensureRegistered(spark)
    pqSearchFrom(Index.PqCodes.read(spark, path), Index.PqBook.read(spark, path),
      emb, queries, broadcastQueries, excludeSelf)
  }

  /** Ordered dot product of subspace `m`'s slice — codegen'd VecDot
    * over the 8-dim slices, bit-identical to the oracle's
    * list_inner_product over the same slice. */
  private def subDot(a: Column, b: Column, m: Int): Column =
    call_function("vec_dot",
      slice(a, m * PqSub + 1, PqSub), slice(b, m * PqSub + 1, PqSub))

  /** A PQ codebook over any (vec_id, v) relation: a deterministic
    * md5-order 16-row sample (keyed by `seedKey` — the RESIDUAL book
    * must not reuse seedCentroids' key, because the centroid vectors'
    * own residuals are zero and would yield a degenerate all-zero
    * book), renumbered to dense code ids with per-subspace self-dots
    * precomputed. */
  private def pqBook(rows: DataFrame, seedKey: String): DataFrame =
    rows.orderBy(md5(concat(lit(seedKey), col("vec_id").cast("string"))), col("vec_id"))
      .limit(PqCodes)
      .select(col("v").as("cv"),
        row_number().over(Window.orderBy(col("vec_id"))) - 1 as "code")
      .select(Seq(col("code"), col("cv")) ++ (0 until PqM).map(m =>
        subDot(col("cv"), col("cv"), m).as(s"c2_$m")): _*)

  /** PQ-encode a (vec_id, v) relation against a codebook: argmin-L2
    * per subspace, M min_by partials in one aggregate, codes as an
    * M-element array. */
  private def pqEncode(rows: DataFrame, book: DataFrame): DataFrame =
    rows.crossJoin(broadcast(book))
      .select(Seq(col("vec_id")) ++ (0 until PqM).map(m =>
        struct((col(s"c2_$m") - lit(2.0) * subDot(col("v"), col("cv"), m)).as("s"),
          col("code").as("code")).as(s"sc_$m")): _*)
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("sc_0.code"), col("sc_0")).as("c_0"),
        (1 until PqM).map(m => min_by(col(s"sc_$m.code"), col(s"sc_$m")).as(s"c_$m")): _*)
      .select(col("vec_id"),
        array((0 until PqM).map(m => col(s"c_$m")): _*).as("cd"))

  /** The per-query ADC lookup table against a codebook: the M·Cn
    * subspace dots, flattened code-major (index = code·M + m) from a
    * code-sorted collect. */
  private def pqTable(queries: DataFrame, book: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"), col("v").as("qv"))
      .crossJoin(broadcast(book))
      .select(col("qid"), col("code"),
        array((0 until PqM).map(m => subDot(col("qv"), col("cv"), m)): _*).as("dv"))
      .groupBy(col("qid"))
      .agg(flatten(expr("transform(sort_array(collect_list(struct(code, dv))), e -> e.dv)"))
        .as("t"))

  /** The 8-lookup + fixed-order-add ADC score over a codes column. */
  private def adcScore: Column = (0 until PqM)
    .map(m => element_at(col("t"),
      element_at(col("cd"), m + 1).cast("int") * PqM + m + 1))
    .reduce(_ + _)

  /** L7f — IVFADC with RESIDUAL product quantization: the complete
    * composition of Jegou et al. §IV (ann_ivf_sq8 is the same cascade
    * with scalar quantization; ann_pq is the flat-PQ half). Each
    * vector stores its cell id + the PQ codes of its RESIDUAL
    * (v − centroid): residuals concentrate near the origin, so the
    * shared 16-code book spends its precision where the data is — and
    * dot(q, v) = dot(q, c) + dot(q, r) splits into a per-probed-cell
    * scalar (K values per query) plus the same 8 ADC lookups, so the
    * in-cell scan still touches only code bytes. The residual book
    * seeds from a DIFFERENT md5 key than the centroids ([[pqBook]]):
    * the sampled centroid vectors' own residuals are zero, and
    * reusing the seed would collapse the book to 16 zero vectors.
    * Salted cell join, salted coarse top-R, exact rerank — the same
    * scale guards as every IVF/top-k path. */
  def ivfPqSearch(
      emb: DataFrame, cent: DataFrame, queries: DataFrame,
      nProbes: Int = SqNumProbes, excludeSelf: Boolean = true): DataFrame = {
    // localCheckpoint (the pareto_class rule): the residual assignment
    // is the N×K scoring pass and feeds the codebook sample, the
    // encode, and the cell-id join-back — uncheckpointed it was
    // evaluated once per branch
    val asnR = residualAssign(emb, cent).stage()
    val rbook = pqBook(asnR.select(col("vec_id"), col("v")), "r")
    pqSearchCells(pqCellTable(asnR, rbook), cent, rbook, emb,
      queries, nProbes, excludeSelf)
  }

  /** Nearest-centroid assignment carrying the residual: (vec_id, cid,
    * v = vector − winning centroid). The winning centroid rides the
    * max_by aggregate so the residual is a per-row projection — no
    * second scan or join to reunite vector and centroid. */
  private def residualAssign(emb: DataFrame, cent: DataFrame): DataFrame =
    scoredByCent(emb, cent, col("v"), col("cv"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("cv")), bestCent).as("a"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("a.cid").as("cid"),
        expr("zip_with(v, a.cv, (x, y) -> x - y)").as("v"))

  /** The (nid, cid, cd) inverted-file relation: residuals PQ-encoded
    * against the book, reunited with their cell ids. */
  private def pqCellTable(asnR: DataFrame, rbook: DataFrame): DataFrame =
    pqEncode(asnR, rbook)
      .join(asnR.select(col("vec_id"), col("cid")), "vec_id")
      .select(col("vec_id").as("nid"), col("cid"), col("cd"))

  /** The residual-IVFADC search from a materialized (nid, cid, cd)
    * cell table on — shared by the dynamic path ([[ivfPqSearch]]) and
    * the persisted index ([[searchIvfPqIndex]]). */
  private def pqSearchCells(
      cellTable: DataFrame, cent: DataFrame, rbook: DataFrame, emb: DataFrame,
      queries: DataFrame, nProbes: Int, excludeSelf: Boolean): DataFrame = {
    // per (query, probed cell): the dot(q, centroid) scalar
    val probes = probeCells(queries, cent, nProbes)
      .join(cent, "cid")
      .join(queries.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
      .select(col("qid"), col("cid"),
        call_function("vec_dot", col("qv"), col("cv")).as("dqc"))
      .join(pqTable(queries, rbook), "qid")
    val coarse = cellJoin(cellTable, probes, excludeSelf, (col("dqc") + adcScore).as("cscore"))
    shortlist(coarse, PqRerank, emb, queries, excludeSelf, Some("ann_ivf_pq"))
  }

  /** BUILD-ONCE lifecycle for the residual-PQ inverted file — the PQ
    * twin of [[buildIvfIndex]]: assignment, residuals, and encoding
    * are paid once; the `cid=` directory layout makes probed cells a
    * runtime partition filter. The residual CODEBOOK persists beside
    * the centroids: codes are meaningless against any other book, so
    * the two freeze together. */
  def buildIvfPqIndex(
      emb: DataFrame, cent: DataFrame, path: String,
      book: Option[DataFrame] = None): Unit = {
    val asnR = residualAssign(emb, cent).stage()
    // default: derive the codebook from THIS corpus's residuals; pass
    // an explicit frozen book to rebuild compatibly with an existing
    // index (append-vs-rebuild equality only makes sense under the
    // same book — codes are meaningless across books)
    val rbook = book.getOrElse(pqBook(asnR.select(col("vec_id"), col("v")), "r"))
    Index.PqCells.write(pqCellTable(asnR, rbook), path)
    Index.Centroids.write(cent, path)
    Index.PqBook.write(rbook, path)
  }

  /** INCREMENTAL maintenance of the PQ index: delta vectors are
    * assigned and residual-encoded against the index's FROZEN
    * centroids and codebook, then appended into the `cid=` layout —
    * O(|delta|·(K + Cn)) per ingestion, bit-identical to a rebuild
    * over the combined corpus (spec-asserted). */
  def appendToIvfPqIndex(spark: SparkSession, embDelta: DataFrame, path: String): Unit = {
    ensureRegistered(spark)
    val cells = pqCellTable(residualAssign(embDelta, Index.Centroids.read(spark, path)),
      Index.PqBook.read(spark, path))
    Index.PqCells.write(cells, path, "append")
  }

  /** Nightly maintenance for a persisted index (IVF-SQ8 or IVF-PQ —
    * both share the `cells/cid=` layout): every [[appendToIvfIndex]] /
    * [[appendToIvfPqIndex]] delta writes one file per touched cell, so
    * a month of daily ingestion turns each cell into dozens of
    * KB-files and every probed-cell scan pays listing + footer
    * overhead per file. This bin-packs the small files inside each
    * `cid=` partition via the warehouse's swap-journaled compaction
    * (R12): searches before and after are IDENTICAL (set-union of the
    * same rows — spec-asserted), compaction cost is ∝ the delta mass
    * (files already at target size are never reread), and a crash at
    * any instant leaves the index readable (hidden `.compact_tmp`,
    * per-partition journal roll-forward/back). */
  def compactIndex(spark: SparkSession, path: String,
      smallBytes: Long = 8L << 20,
      targetBytes: Long = 128L << 20): Warehouse.CompactReport =
    Warehouse.compactPartitionedSmallFiles(spark, s"$path/cells", smallBytes, targetBytes)

  /** Search a [[buildIvfPqIndex]]-persisted index: identical results
    * to the dynamic [[ivfPqSearch]], no assignment or encode stage in
    * the plan, probed `cid=` partitions pruned at runtime. */
  def searchIvfPqIndex(
      spark: SparkSession, path: String, emb: DataFrame, queries: DataFrame,
      nProbes: Int = SqNumProbes, excludeSelf: Boolean = true): DataFrame = {
    ensureRegistered(spark)
    pqSearchCells(Index.PqCells.read(spark, path), Index.Centroids.read(spark, path),
      Index.PqBook.read(spark, path), emb, queries, nProbes, excludeSelf)
  }

  /** Cosine threshold for the semantic-dedup drop rule — the driver
    * data is random vectors, so 0.4 (dedup_embed's near-dup bar) marks
    * the planted near-copies without flooding the pair set. */
  private val SemTau = 0.4

  /** L25 — semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the coarse
    * k-means centroids, then deduplicate ONLY within clusters — a
    * vector is dropped when a cluster-mate above the cosine threshold
    * outranks it. The cluster scoping is the whole point: pairwise
    * cosine runs on cell-sized candidate sets, never the corpus, which
    * is what makes embedding-level dedup feasible at billions of
    * vectors (the paper runs K≈10k on LAION). Representative rule:
    * lowest vec_id keeps (deterministic and engine-portable; the
    * paper keeps the vector farthest from the centroid — swap the
    * comparator if that semantics is wanted, the shape is identical).
    *
    * Scale shape: with `twoLevel = Some((fineK, coarseG))` —
    * the PRODUCTION form, and what the oracle-checked query passes —
    * assignment routes through [[assignTwoLevel]] (~coarseG +
    * 2·fineK/coarseG ≈ 3√K dots per vector instead of the flat N×K
    * crossJoin, which is Θ(N²/cellSize) once K = [[dynCentroids]](N)
    * grows with the corpus; r8 measured the flat form at 7.7× runtime
    * for 10× data). The flat path (twoLevel = None) remains for
    * FIXED small K only — it broadcasts the whole centroid table.
    * In-cell pair generation joins IDS only on the salted (cid, __cs)
    * key — vectors join back per-side afterwards (the dedup_embed
    * rule: never shuffle the vectors twice); the drop flag is a
    * map-side `min` partial aggregate, work ∝ τ-pairs. Per-cell pair
    * count is (|cell|²)/2 — bounded because the dedup_semantic query
    * passes K = [[dynCentroids]](N) (cells pinned at ~TargetCellSize),
    * ENFORCED since r8 by a ScaleSpec growth bound after the fixed-K
    * form measured 18.6× runtime at 10× data. */
  def semanticDedup(emb: DataFrame, cent: DataFrame, tau: Double = SemTau,
      twoLevel: Option[(Int, Int)] = None): DataFrame = {
    // (vec_id, cid, v): nearest-centroid assignment with the vector
    // riding the aggregate; cached — consumed by the id-pair join
    // (ids only) and both vector join-backs
    val asnV = (twoLevel match {
      case Some((fineK, coarseG)) => assignTwoLevel(emb, cent, fineK, coarseG)
        .select(col("vec_id"), col("cid"), col("v"))
      case None => assign(emb, cent, "v")
    }).cache()
    val ids = asnV.select(col("vec_id"), col("cid"))
    // the salted cell join as an in-cell self-join on ids: the keeper
    // side is the replicated probe side, and each (ka < kb) cell pair
    // appears exactly once
    val cand = cellJoin(ids.select(col("vec_id").as("nid"), col("cid")),
      ids.select(col("vec_id").as("qid"), col("cid")), excludeSelf = false)
      .filter(col("qid") < col("nid"))
      .select(col("qid").as("ka"), col("nid").as("kb"))
    val qcos = Portable.quant6(cosine(col("va"), col("vb")))
    val dup = cand
      .join(asnV.select(col("vec_id").as("ka"), col("v").as("va")), "ka")
      .join(asnV.select(col("vec_id").as("kb"), col("v").as("vb")), "kb")
      .filter(qcos >= tau)
      .groupBy(col("kb"))
      .agg(min(col("ka")).as("dup_of"))
    ids
      .join(dup.withColumnRenamed("kb", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** One Lloyd (k-means) iteration over the coarse centroids: assign
    * every vector to its nearest centroid (the same map-side `max_by`
    * aggregate shape the query uses), then recompute each centroid as
    * its cell's element-wise mean. This is the refinement step the
    * ann_ivf Scaladoc promises "slots in without changing the query
    * shape": the output has the same (cid, cv) schema, so the
    * assignment/probe stages are untouched. Kept OUT of the
    * oracle-checked query — FP mean sums are partial-order-dependent
    * across engines, which would break bit-parity — and measured
    * instead in ScaleSpec (recall uplift vs the raw seed sample).
    * Cost per iteration: one N×K broadcast-scored aggregate plus an
    * N×dim (vec, dim-index) shuffle — linear in the corpus. */
  def refineCentroids(emb: DataFrame, cent: DataFrame, iterations: Int = 1): DataFrame = {
    var c = cent
    (0 until iterations).foreach { _ =>
      val asn = scoredByCent(emb, c, col("v"))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cid"), col("v")), bestCent).as("a"))
        .select(col("a.cid").as("cid"), col("a.v").as("v"))
      // stage the K-row table between iterations: the next iteration
      // references `c` several times (coarse seed, fine grouping, the
      // empty-cell join), and without the cut each reference re-runs
      // the ENTIRE previous iteration's corpus-sized assignment —
      // measured 77 s vs ~14 s for 2 iterations at n=20k (r15)
      c = lloydMeans(c, asn).stage()
    }
    c
  }

  /** One Lloyd mean step: per-cell component means over an assignment
    * (cid, v), joined back so a centroid whose cell attracted no
    * vectors KEEPS its previous position (the standard empty-cluster
    * rule) — the table stays exactly K rows across iterations instead
    * of silently shrinking. The mean shuffle is N×dims (cid, i) rows
    * collapsing map-side to ≤ K×dims partials per task — linear in the
    * corpus. Shared by the flat and two-level refinement paths so the
    * empty-cell rule can never drift between them. */
  private def lloydMeans(cent: DataFrame, asn: DataFrame): DataFrame = {
    val means = asn
      .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("ms"))
      .select(col("cid"), expr("transform(ms, e -> e.m)").as("mean_v"))
    cent.join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("mean_v"), col("cv")).as("cv"))
  }

  /** Lloyd refinement at PRODUCTION K = dynCentroids(N) (r14 verdict
    * task 1): the flat [[refineCentroids]] scores N×K per iteration —
    * Θ(N²/cellSize) once K ∝ N — so the production form routes each
    * iteration's assignment through [[assignTwoLevel]] (~3√K dots per
    * vector, broadcast-degrading fine join) and shares [[lloydMeans]]
    * for the mean step. The md5-order seed sample is IVF's weak point
    * at dyn K — on the 10× tile set it measured 6.0× occupancy skew
    * (a hot cell is a probe straggler) and recall@5 ≤ 0.43 at ≤10%
    * probed cells (IVF_DYNK_R14.json); Lloyd steps move centroids to
    * cell means, which is exactly what evens Voronoi occupancy and
    * pulls probed-cell recall up. Approximate like its assignment
    * (monitored by the same regret/score-recall gates); measured in
    * dev/ivf_dynk.sh and pinned by ScaleSpec's clustered-fixture
    * contract. */
  def refineCentroidsTwoLevel(emb: DataFrame, cent: DataFrame,
      fineK: Int, coarseK: Int, iterations: Int = 1): DataFrame = {
    var c = cent
    (0 until iterations).foreach { _ =>
      // stage between iterations — see [[refineCentroids]]: without
      // the K-row cut, every reference to `c` in the next iteration
      // re-executes this iteration's whole corpus-sized assignment
      c = lloydMeans(c,
        assignTwoLevel(emb, c, fineK, coarseK).select(col("cid"), col("v"))).stage()
    }
    c
  }

  /** Collapse bounds the audit queries ENFORCE IN-PLAN (Gates.floors;
    * r9 verdict #3): far from every healthy measurement, far above a
    * broken path, so the gate turns a silent quality regression into
    * a failed job everywhere the query runs. The tight per-scale
    * floors live in ScaleSpec.
    *
    * The assignment gate bounds ROUTING REGRET, not exact-cell
    * agreement: agreement (still reported) is scale-UNSTABLE by
    * construction — with probes=2 of G ≈ √K coarse groups the probed
    * fraction shrinks as K = N/32 grows, and the measured decay is
    * 0.76 at sf0.01 (K=16) → 0.475 at sf0.1 (K=640) → 0.168 at 100×
    * (K=64k), so ANY fixed agreement floor either false-fires at
    * scale (an r10 full-suite sweep actually died this way at sf0.1)
    * or detects nothing small. mean_regret — the mean quant6-cosine
    * gap between the flat-best centroid and the two-level choice — is
    * the quality that matters for SemDeDup (a near-as-good cell keeps
    * near-dups co-located) and is nearly scale-FLAT: two-level ≤ flat
    * by construction (same scorer, exhaustive vs probed max), and the
    * measured healthy curve is 0.020 at sf0.01 → 0.037 at sf0.1 →
    * 0.062 at 100× (sub-log growth: a missed argmax still finds an
    * almost-as-good cell because cells shrink as K grows), while
    * broken routing pays the full best-cosine mass (≈0.5 on this
    * data). Ceiling 0.2 = 3.2× above the 100× measurement, 2.5×
    * below broken. */
  private[graft] val AssignRegretCeiling = 0.2
  private[graft] val LshRecallFloor = 0.3

  /** Collapse floor + sample size for the PRODUCTION quantized search
    * paths' in-plan freshness gate (r10 verdict task 6: the recall
    * floors for ann_pq/ann_ivf_pq/ann_ivf_sq8 lived only in ScaleSpec,
    * so a codebook/centroid regression would ship silently between CI
    * runs). Every execution of those searches now embeds a miniature
    * ann_audit: a CONSTANT-SIZE md5-chosen subsample of its own query
    * batch is answered exactly (brute force) and compared with the
    * rows the search itself returned for those queries, and the plan
    * aborts when the sampled quality collapses. Constant sample size
    * is what keeps the gate 100 TB-legal — its brute side is
    * GateSampleQ·N dots, linear in the corpus, while a proportional
    * sample would re-introduce the N²/c exhaustive scan the index
    * exists to avoid.
    *
    * The gated metric is SCORE RECALL — Σ exact-cosine of the returned
    * top-k over Σ exact-cosine of the brute top-k — not id-recall@k.
    * Same lesson as the r10 regret redesign, re-learned here at 100×:
    * id-recall is scale-UNSTABLE for a fixed quantization budget (the
    * first r11 100× sweep measured ann_ivf_pq's sampled id-recall at
    * 0.2 — 16 residual codes cannot rank 130k-vector cells, yet the
    * returned neighbors' exact cosines are nearly as good as the true
    * top-k, which is the quality SemDeDup/retrieval actually consume),
    * so any fixed id floor either false-fires at scale or detects
    * nothing small. Score recall is scale-flat: healthy paths measure
    * ≈0.8–1.0 at every tested scale, while broken candidate routing
    * returns ≈random-cosine candidates and pays ≈0. Both sums are
    * micro-quantized BIGINTs (the label_centroids rule — quant6 scores
    * are exact multiples of 1e-6, so the sums are order-independent).
    * Tight per-method id-recall floors stay in ScaleSpec where the
    * query population is the full default sample. */
  private[graft] val AnnGateFloor = 0.3
  /** The sq8 seats' raised collapse floor (r15 verdict task 1): at the
    * production rerank width [[SqRerankK]] the clustered fixture
    * measures id-recall@5 0.84–0.86 and score recall strictly above it
    * (healthy paths measure ≈0.8–1.0 at every tested scale), so 0.6
    * sits well under the healthy band while a broken candidate route
    * (≈random-cosine survivors) still pays ≈0. The PQ paths keep
    * [[AnnGateFloor]] — their 16-code budgets were not re-measured at
    * a wider width, and a floor above the measured band would turn the
    * collapse detector into a flaky assertion. */
  private[graft] val SqGateFloor = 0.6
  private[graft] val GateSampleQ = 8

  /** One-row gated score-recall frame over a sampled query batch's
    * exact and approximate result sets — separated (the
    * assignAgreementFrame rule) so GatesSpec can drive the IDENTICAL
    * gated plan with a degraded approx side and prove the job dies.
    * Both inputs carry the search contract's exact `score` column
    * (every path's rerank emits the full-precision quant6 cosine).
    * ONE aggregate over the side-tagged union yields the baseline
    * count and both micro-unit masses (conditional count/sum; an
    * empty side's mass reads 0). */
  private[graft] def sampledRecallFrame(brute: DataFrame, approx: DataFrame,
      query: String, gateFloor: Double = AnnGateFloor): DataFrame = {
    def side(df: DataFrame, isBrute: Boolean) = df.select(lit(isBrute).as("__brute"),
      floor(col("score") * lit(1000000.0) + lit(0.5)).cast("long").as("__q"))
    def mass(isBrute: Boolean) =
      coalesce(sum(when(col("__brute") === isBrute, col("__q"))), lit(0L))
    val res = side(brute, isBrute = true).union(side(approx, isBrute = false))
      .agg(count(when(col("__brute"), 1)).as("n_baseline"),
        mass(isBrute = true).as("q_brute"), mass(isBrute = false).as("q_approx"))
      .select(col("n_baseline"), col("q_brute"),
        // nullif guards the ANSI divide-by-zero on an empty query
        // batch; the gate condition short-circuits on n_baseline = 0
        // or a zero brute mass (true OR null = true) — both read as
        // "nothing to audit", never as a failure
        Portable.quant6(col("q_approx").cast("double")
          / nullif(col("q_brute").cast("double"), lit(0.0))).as("score_recall"))
    graft.functions.Gates.floors(res,
      // q_brute <= 0 (not just == 0) is "nothing to audit": on a
      // degenerate corpus whose brute top-k cosine mass is NEGATIVE,
      // the ratio's sign flips and an even-worse approx side would
      // read as score_recall > 1 — the division is only trusted for
      // positive brute mass (r11 advice).
      (col("n_baseline") === 0 || col("q_brute") <= 0L
        || col("score_recall") >= gateFloor,
        graft.functions.Gates.msg(query, s"sampled score recall@$TopK",
          gateFloor, col("score_recall"))))
  }

  /** The gate's constant-size md5-order sample of a query batch. */
  private[graft] def gateSample(queries: DataFrame): DataFrame =
    queries
      .orderBy(md5(concat(lit("anngate"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(GateSampleQ)

  /** semantic_assign_audit's scored tail over the two assignment
    * frames (vec_id, cid_*, score_*) — separated so the gate spec can
    * drive the IDENTICAL gated plan with a degraded `two` side and
    * prove the job dies. Scores are summed as micro-unit BIGINTs (the
    * label_centroids rule: quant6 doubles are multiples of 1e-6, so
    * floor(s·1e6 + 0.5) is the exact integer and the sum is
    * order-independent — a double SUM would be accumulation-order
    * nondeterministic and could hash-diverge from the oracle). */
  private[graft] def assignAgreementFrame(flat: DataFrame, two: DataFrame): DataFrame = {
    val res = flat.join(two, "vec_id")
      .select(col("cid_flat"), col("cid_two"),
        floor(col("score_flat") * lit(1000000.0) + lit(0.5)).cast("long").as("qf"),
        floor(col("score_two") * lit(1000000.0) + lit(0.5)).cast("long").as("qt"))
      .agg(count(lit(1)).as("n_vecs"),
        count(when(col("cid_flat") === col("cid_two"), 1)).as("n_agree"),
        sum(col("qf")).as("sqf"), sum(col("qt")).as("sqt"))
      .select(col("n_vecs"), col("n_agree"),
        (floor(col("n_agree") * lit(1000000.0) / col("n_vecs")) / 1000000.0).as("agreement"),
        Portable.quant6((col("sqf") - col("sqt")).cast("double")
          / (col("n_vecs") * lit(1000000.0))).as("mean_regret"))
    graft.functions.Gates.floors(res,
      (col("n_vecs") === 0 || col("mean_regret") <= AssignRegretCeiling,
        graft.functions.Gates.msgCeil("semantic_assign_audit", "two-level routing regret",
          AssignRegretCeiling, col("mean_regret"))))
  }

  /** ann_audit's scored tail over the exact and approximate result
    * sets — separated for the same forced-degradation spec reason. */
  private[graft] def annAuditFrame(queries: DataFrame, brute: DataFrame,
      approx: DataFrame): DataFrame = {
    val hits = brute.intersect(approx)
    val res = queries.agg(count(lit(1)).as("n_queries"))
      .crossJoin(broadcast(brute.agg(count(lit(1)).as("n_baseline"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_queries"), lit(TopK.toLong).as("k"), col("n_baseline"),
        col("n_hits"),
        Portable.quant6(col("n_hits").cast("double")
          / col("n_baseline").cast("double")).as("recall"))
    graft.functions.Gates.floors(res,
      (col("n_baseline") === 0 || col("recall") >= LshRecallFloor,
        graft.functions.Gates.msg("ann_audit", "LSH recall@k",
          LshRecallFloor, col("recall"))))
  }

  private def embV(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  /** The float-vector / fixed-K-centroid / nearest-cell-assignment CTE
    * block (`e`, `c`, `asn`) — shared by [[ivfCtes]] and the
    * `ann_cell_census` oracle so the assignment replay can never drift
    * between search and census. */
  private def ivfAsnCtes: String = {
    val qc = quantCos.format("e.v", "c.cv")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $NumCentroids),
       |asn AS (SELECT vec_id, cid FROM (
       |   SELECT e.vec_id, c.cid,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY $qc DESC, c.cid) AS rn
       |   FROM e, c) t WHERE rn = 1)""".stripMargin
  }

  /** Oracle CTEs shared by the IVF family: [[ivfAsnCtes]] plus the
    * query probe list `qprobe` over `nProbes` cells, after the query
    * sample `qs` unless the caller already has it. */
  private def ivfCtes(nProbes: Int, withQs: Boolean = true): String = {
    val qc = quantCos.format("e.v", "c.cv")
    val qsPrefix = if (withQs) s"$qsCte,\n" else ""
    s"""$qsPrefix$ivfAsnCtes,
       |qprobe AS (SELECT vec_id AS qid, cid FROM (
       |   SELECT e.vec_id, c.cid,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY $qc DESC, c.cid) AS rn
       |   FROM e, c WHERE e.vec_id IN (SELECT vec_id FROM qs)) t WHERE rn <= $nProbes)""".stripMargin
  }

  /** Oracle CTEs shared by dedup_semantic and semantic_assign_audit
    * (the SemDeDup family — one definition, so the dynCentroids /
    * dynCoarse replay arithmetic can never drift between the two):
    * float vectors `e`, kk = dynCentroids(N), gg = dynCoarse(k) via
    * the power-of-two series scan, `c` = the K fine centroids,
    * `g` = the √K coarse sample, `grp` = each fine centroid's coarse
    * group. */
  private def semCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |kk AS (SELECT GREATEST($NumCentroids, CAST(ceil(COUNT(*) / ${TargetCellSize}.0) AS BIGINT)) AS k
       |       FROM embeddings),
       |gg AS (SELECT GREATEST(4, MIN(CAST(1 AS BIGINT) << p.p)) AS g
       |       FROM generate_series(0, 31) p(p)
       |       WHERE ((CAST(1 AS BIGINT) << p.p) * (CAST(1 AS BIGINT) << p.p)) >= (SELECT k FROM kk)),
       |c AS (SELECT vec_id AS cid, v AS cv FROM (
       |   SELECT e.vec_id, e.v,
       |          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |   FROM e) t WHERE rn <= (SELECT k FROM kk)),
       |g AS (SELECT cid AS gid, cv AS gv FROM (
       |   SELECT c.cid, c.cv,
       |          ROW_NUMBER() OVER (ORDER BY md5(CAST(cid AS VARCHAR)), cid) AS rn
       |   FROM c) t WHERE rn <= (SELECT g FROM gg)),
       |grp AS (SELECT cid, gid FROM (
       |   SELECT c.cid, g.gid,
       |          ROW_NUMBER() OVER (PARTITION BY c.cid ORDER BY ${quantCos.format("c.cv", "g.gv")} DESC, g.gid) AS rn
       |   FROM c, g) t WHERE rn = 1)""".stripMargin

  /** Oracle CTE for the int8 column — DuckDB lists of integer-valued
    * doubles; `list_inner_product` on them is exact like vec_dot_i8. */
  private val qzCte: String =
    """qz AS (SELECT vec_id,
      |              list_transform(v, x -> greatest(least(floor(x * 127.0), 127.0), -128.0)) AS qv
      |       FROM e)""".stripMargin

  /** Oracle top-k tail over a scored (qid, nid, score) CTE `from`. */
  private def topKSql(from: String): String =
    s"""r AS (SELECT qid, nid, score,
       |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
       |      FROM $from)
       |SELECT qid AS query_id, nid AS neighbor_id, CAST(rn AS BIGINT) AS rank, score
       |FROM r WHERE rn <= $TopK""".stripMargin

  /** Oracle twin of [[shortlist]] over a coarse `co(qid, nid, cscore)`. */
  private def shortlistSql(width: Int): String =
    s"""ck AS (SELECT qid, nid FROM (
       |   SELECT qid, nid,
       |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cscore DESC, nid) AS crn
       |   FROM co) t WHERE crn <= $width),
       |sc AS (SELECT ck.qid, ck.nid,
       |              ${quantCos.format("eq.v", "en.v")} AS score
       |       FROM ck JOIN e eq ON eq.vec_id = ck.qid JOIN e en ON en.vec_id = ck.nid),
       |${topKSql("sc")}""".stripMargin

  /** Oracle twin of [[pqEncode]]: `enc(vec_id, cd)` of `rel.v` against book `b`. */
  private def pqEncCtes(rel: String, v: String, b: String): String = {
    val mSub = s"m.m * $PqSub + 1 : m.m * $PqSub + $PqSub"
    s"""sub AS (SELECT $rel.vec_id, $b.code, m.m,
       |               list_inner_product($b.cv[$mSub], $b.cv[$mSub])
       |               - 2 * list_inner_product($rel.$v[$mSub], $b.cv[$mSub]) AS s
       |        FROM $rel, $b, generate_series(0, ${PqM - 1}) m(m)),
       |enc AS (SELECT vec_id, list(code ORDER BY m) AS cd FROM (
       |          SELECT vec_id, m, code,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY s, code) AS rn
       |          FROM sub) t WHERE rn = 1 GROUP BY vec_id)""".stripMargin
  }

  /** Oracle twin of [[pqTable]]: `qt(qid, t)` against book `b`. */
  private def pqTableCtes(b: String): String =
    s"""qd AS (SELECT e.vec_id AS qid, $b.code,
       |              list_transform(generate_series(0, ${PqM - 1}),
       |                m -> list_inner_product(e.v[m * $PqSub + 1 : m * $PqSub + $PqSub],
       |                                        $b.cv[m * $PqSub + 1 : m * $PqSub + $PqSub])) AS dv
       |       FROM e, $b WHERE e.vec_id IN (SELECT vec_id FROM qs)),
       |qt AS (SELECT qid, flatten(list(dv ORDER BY code)) AS t FROM qd GROUP BY qid)""".stripMargin

  /** Oracle twin of [[adcScore]]: the fixed-order lookup chain. */
  private def adcChainSql: String = (0 until PqM)
    .map(m => s"qt.t[enc.cd[${m + 1}] * $PqM + ${m + 1}]")
    .mkString(" + ")

  /** The IVFADC (IVF×SQ8) oracle — shared verbatim by `ann_ivf_sq8`
    * and `ann_index_lifecycle`: the persisted build→append→compact→
    * search cycle is bit-identity-preserving, so one SQL definition
    * checks both and the two seats can never drift. */
  private lazy val ivfSq8Sql: String =
    s"""WITH ${ivfCtes(SqNumProbes)},
       |$qzCte,
       |co AS (SELECT q.qid, a.vec_id AS nid, list_inner_product(z.qv, zq.qv) AS cscore
       |       FROM qprobe q
       |       JOIN asn a ON a.cid = q.cid AND a.vec_id <> q.qid
       |       JOIN qz z ON z.vec_id = a.vec_id
       |       JOIN qz zq ON zq.vec_id = q.qid),
       |${shortlistSql(SqRerankK)}""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // L7b — IVF-style ANN: assign every vector to its nearest coarse
    // centroid (a FIXED-K deterministic md5-order sample; a k-means
    // refinement would slot in here without changing the query shape),
    // then search only the query's nProbe nearest cells. The inverted
    // index is the (cell -> vectors) shuffle; candidates are a salted
    // equi-join on cell id — the other standard ANN family next to
    // the sign-bucket LSH of ann_lsh.
    QueryDef(
      "ann_ivf",
      s"""WITH ${ivfCtes(NumProbes)},
         |cand AS (SELECT DISTINCT q.qid, a.vec_id AS nid
         |         FROM qprobe q JOIN asn a ON a.cid = q.cid WHERE a.vec_id <> q.qid),
         |sc AS (SELECT cand.qid, cand.nid,
         |              ${quantCos.format("eq.v", "en.v")} AS score
         |       FROM cand JOIN e eq ON eq.vec_id = cand.qid
         |                 JOIN e en ON en.vec_id = cand.nid),
         |${topKSql("sc")}""".stripMargin) { (spark, dir) =>
      val emb = embV(spark, dir)
      ivfSearch(emb, seedCentroids(emb), defaultQueries(emb))
    },

    // L51 — IVF cell census: per-cell occupancy of the PRODUCTION
    // nearest-centroid assignment (assign — the same aggregate path
    // every IVF search and the persisted index build route through; a
    // census that re-derived assignment could silently measure a
    // different index than the one shipping). Cell-size skew is THE
    // IVF failure mode at scale — a hot cell makes every probe of it
    // a stage straggler (the reason the cell joins are salted) and a
    // starved cell wastes its centroid — so occupancy is a dashboard
    // query an index build gates on, exactly like ann_audit gates
    // recall. Cost: the N×K assignment scan + ONE mergeable per-cell
    // count (map-side partials; ≤K rows shuffle); the share division
    // rides a broadcast 1-row total. Empty cells don't occur by
    // construction (a centroid is its own nearest cell: cosine(c,c)=1
    // and ties break by lowest cid, so every seeded cell holds at
    // least its seed vector — both engines agree on that row).
    QueryDef(
      "ann_cell_census",
      s"""WITH $ivfAsnCtes,
         |n AS (SELECT COUNT(*) AS total FROM e),
         |g AS (SELECT cid, COUNT(*) AS n_vecs FROM asn GROUP BY cid)
         |SELECT g.cid, g.n_vecs,
         |       ${Portable.Quant6Sql("CAST(g.n_vecs AS DOUBLE) / n.total")} AS share
         |FROM g, n""".stripMargin) { (spark, dir) =>
      val emb = embV(spark, dir)
      val total = emb.agg(count(lit(1)).as("total"))
      assign(emb, seedCentroids(emb))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(total))
        .select(col("cid"), col("n_vecs"),
          Portable.quant6(col("n_vecs").cast("double") / col("total")).as("share"))
    },

    // L7d — IVFADC: int8 coarse scan inside probed cells only, exact
    // rerank on the coarse top-R (see ivfSq8Search).
    QueryDef("ann_ivf_sq8", ivfSq8Sql) { (spark, dir) =>
      val emb = embV(spark, dir)
      ivfSq8Search(emb, seedCentroids(emb), defaultQueries(emb))
    },

    // L7d lifecycle seat — the PERSISTED index's full maintenance
    // cycle as a driver-checked query (r10 verdict task 8: the
    // build→append→compact→search path had spec-scale evidence only).
    // The 90% BASE index builds once per (corpus, JVM) — the bench's
    // warm-up run pays it — and every invocation then copies the base,
    // appends the remaining three deltas against the FROZEN centroid
    // table, bin-packs the per-cell delta files with the swap-
    // journaled compaction, and answers the standard query batch from
    // the compacted index. Timed runs therefore price the MAINTENANCE
    // delta the seat exists to prove (appends O(|delta|·K), compaction
    // ∝ delta mass, search Q-proportional), not an O(N·K) rebuild per
    // invocation (r11 verdict task 3). The oracle is ann_ivf_sq8's SQL
    // verbatim — append+compact are bit-identity-preserving by design
    // regardless of the base/delta split, so the whole lifecycle must
    // hash-match the dynamic search. The on-disk root is keyed by
    // md5(corpus dir) + a content FINGERPRINT (r12 advice: a fixture
    // dir rewritten within one JVM must rebuild, not reuse a stale
    // base) + the Spark application id: two JVMs on the same sf dir
    // (Verify and Bench overlapping) never race on a shared index
    // (r11 advice), and a JVM shutdown hook clears the root —
    // single-writer within a JVM by construction (queries run
    // sequentially in Verify, Bench, and the test suite).
    QueryDef("ann_index_lifecycle", ivfSq8Sql) { (spark, dir) =>
      val emb = embV(spark, dir)
      val root = Staging.stagedRoot(spark, dir, "lifecycle", "embeddings.parquet")
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val base = new org.apache.hadoop.fs.Path(
        Staging.ensureBuilt(spark, s"$root/base")(b =>
          buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(10)) =!= 7),
            seedCentroids(emb), b)))
      val work = new org.apache.hadoop.fs.Path(s"$root/work")
      fs.delete(work, true)
      // r16: hardlink the base instead of copying bytes where the
      // staging fs allows it (tmpfs/local). Parquet part files are
      // immutable — appends only ADD files and compaction
      // rewrite-and-swaps (unlink, never in-place mutation) — so a
      // linked work tree can never corrupt the base. Byte copy stays
      // the fallback for non-local staging roots.
      Staging.linkOrCopyTree(fs, base, work, conf)
      // centroids are FROZEN across appends — read + cache them once
      // instead of a schema-infer + scan job per delta (r16)
      val centW = Index.Centroids.read(spark, work.toString).cache()
      try {
        Seq(7L, 17L, 27L).foreach { m =>
          appendToIvfIndex(spark, emb.filter(pmod(col("vec_id"), lit(30)) === m),
            work.toString, centW)
        }
      } finally centW.unpersist(blocking = false)
      compactIndex(spark, work.toString)
      searchIvfIndex(spark, work.toString, emb, defaultQueries(emb))
    },

    // L7f — IVFADC with residual PQ (see ivfPqSearch).
    QueryDef(
      "ann_ivf_pq", {
        val qc = quantCos.format("e.v", "c.cv")
        s"""WITH $qsCte,
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |c AS (SELECT vec_id AS cid, v AS cv FROM e
           |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $NumCentroids),
           |asnv AS (SELECT vec_id, cid, cv, v FROM (
           |   SELECT e.vec_id, c.cid, c.cv, e.v,
           |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY $qc DESC, c.cid) AS rn
           |   FROM e, c) t WHERE rn = 1),
           |resid AS (SELECT vec_id, cid,
           |                 list_transform(generate_series(1, $Dims), i -> v[i] - cv[i]) AS r
           |          FROM asnv),
           |rc AS (SELECT vec_id, r FROM resid
           |       ORDER BY md5('r' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $PqCodes),
           |rb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, r AS cv FROM rc),
           |${pqEncCtes("resid", "r", "rb")},
           |qprobe AS (SELECT vec_id AS qid, cid FROM (
           |   SELECT e.vec_id, c.cid,
           |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY $qc DESC, c.cid) AS rn
           |   FROM e, c WHERE e.vec_id IN (SELECT vec_id FROM qs)) t WHERE rn <= $PqNumProbes),
           |${pqTableCtes("rb")},
           |dqc AS (SELECT q.qid, q.cid, list_inner_product(e.v, c.cv) AS d
           |        FROM qprobe q JOIN e ON e.vec_id = q.qid JOIN c ON c.cid = q.cid),
           |co AS (SELECT dqc.qid, a.vec_id AS nid, dqc.d + ($adcChainSql) AS cscore
           |       FROM dqc JOIN resid a ON a.cid = dqc.cid AND a.vec_id <> dqc.qid
           |       JOIN enc ON enc.vec_id = a.vec_id
           |       JOIN qt ON qt.qid = dqc.qid),
           |${shortlistSql(PqRerank)}""".stripMargin
      }) { (spark, dir) =>
      // the driver-checked seat serves from the PERSISTED index (r12
      // verdict: the dynamic form retrained the codebook and re-encoded
      // the corpus on every execution — an O(N·(K+Cn)) rebuild per
      // invocation that a real deployment pays once). Build-once per
      // (corpus fingerprint, JVM): the bench warm-up pays the build,
      // timed runs price the SEARCH — probe join, pruned cell scan,
      // bounded rerank — which is the operator. searchIvfPqIndex is
      // bit-identical to ivfPqSearch (ScaleSpec), so the oracle hash
      // is unchanged.
      val emb = embV(spark, dir)
      val root = Staging.ensureBuilt(spark,
        Staging.stagedRoot(spark, dir, "ivfpq", "embeddings.parquet"))(r =>
        buildIvfPqIndex(emb, seedCentroids(emb), r))
      searchIvfPqIndex(spark, root, emb, defaultQueries(emb), nProbes = PqNumProbes)
    },

    // L7e — product quantization + ADC (see pqSearch).
    QueryDef(
      "ann_pq",
      s"""WITH $qsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $PqCodes),
         |b AS (SELECT ROW_NUMBER() OVER (ORDER BY cid) - 1 AS code, cv FROM c),
         |${pqEncCtes("e", "v", "b")},
         |${pqTableCtes("b")},
         |co AS (SELECT qt.qid, enc.vec_id AS nid, $adcChainSql AS cscore
         |       FROM enc, qt WHERE enc.vec_id <> qt.qid),
         |${shortlistSql(PqRerank)}""".stripMargin) { (spark, dir) =>
      // persisted-index seat, same rationale as ann_ivf_pq: codebook
      // train + N-row encode are paid once per (corpus fingerprint,
      // JVM); timed runs price the ADC scan + rerank. searchPqIndex is
      // bit-identical to pqSearch (spec-asserted), so the oracle hash
      // is unchanged.
      val emb = embV(spark, dir)
      val root = Staging.ensureBuilt(spark,
        Staging.stagedRoot(spark, dir, "pq", "embeddings.parquet"))(r =>
        buildPqIndex(emb, r))
      searchPqIndex(spark, root, emb, defaultQueries(emb))
    },

    // L7c — scalar-quantized (int8) ANN with exact rerank: the third
    // standard ANN family next to sign-LSH and IVF (Faiss "SQ8"). The
    // coarse pass scores INT8 vectors — an 8× narrower scan than the
    // float64 column, integer dots exact in both engines — and only
    // the coarse top-4k candidates per query touch the full-precision
    // embeddings for the exact cosine rerank. At 100 TB the quantized
    // column is what streams through memory bandwidth.
    QueryDef(
      "ann_quantized",
      s"""WITH $qsCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$qzCte,
         |q AS (SELECT vec_id AS qid, qv AS qq FROM qz WHERE vec_id IN (SELECT vec_id FROM qs)),
         |co AS (SELECT q.qid, z.vec_id AS nid, list_inner_product(z.qv, q.qq) AS cscore
         |       FROM qz z, q WHERE z.vec_id <> q.qid),
         |ck AS (SELECT qid, nid FROM (
         |   SELECT qid, nid,
         |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cscore DESC, nid) AS crn
         |   FROM co) t WHERE crn <= $RerankK),
         |sc AS (SELECT ck.qid, ck.nid,
         |              floor(list_cosine_similarity(ea.v, eb.v) * 1000000.0) / 1000000.0 AS score
         |       FROM ck JOIN e ea ON ea.vec_id = ck.qid JOIN e eb ON eb.vec_id = ck.nid),
         |${topKSql("sc")}""".stripMargin) { (spark, dir) =>
      val emb = embV(spark, dir)
      quantizedSearch(emb, defaultQueries(emb))
    },

    // L5 — embedding-cosine near-dup pairs, LSH-bucketed. The τ filter
    // compares the QUANTIZED cosine in both engines: raw vec_cosine vs
    // list_cosine_similarity parity is only promised after 6dp
    // quantization, so a raw-value threshold could pass a boundary
    // pair in one engine only.
    //
    // SELF-join scale shape (the r7 verdict's headline fix): the plane
    // count is dynPlanes(N) — smallest p≥4 with 32·2^p ≥ N, an integer
    // rule the oracle's np CTE replays verbatim (series scan + bit
    // shift; no float log₂ can disagree) — so bucket occupancy stays
    // ~constant and the candidate pair set is LINEAR in N instead of
    // the fixed-16-bucket Θ(N²) that measured 61× at 10× data. Since
    // r10 planes past DensePlanes are sparse e_i−e_j comparison bits
    // (sp/sbit CTEs ↔ VectorOps.signBucket's densePlanes cap), so
    // per-vector hashing work is CONSTANT as buckets double — the r9
    // sweep's one above-linear entry (122× wall at 100× data) was the
    // Θ(log N) dense-dot growth, 4×8→4×14 dims-wide dots/vector. The
    // MaxBucketDocs cap (mirrored in hot/bkc) guards adversarial skew:
    // a bucket past cap size carries no near-dup signal (minhash rule).
    QueryDef(
      "dedup_embed",
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
         |np AS (SELECT COALESCE(MIN(p.p), 19) AS np FROM generate_series($NumPlanes, 19) p(p), nn
         |       WHERE (CAST($TargetBucketOcc AS BIGINT) << p.p) >= nn.n),
         |pl AS (SELECT t.t, p.p,
         |             list_transform(generate_series(0, ${Dims - 1}),
         |               i -> CAST('0x' || substr(md5('plane_' || CAST(t.t AS VARCHAR) || '_' || CAST(p.p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 6) AS BIGINT) / 16777216.0 - 0.5) AS wv
         |      FROM generate_series(0, ${NumTables - 1}) t(t),
         |           generate_series(0, ${DensePlanes - 1}) p(p)
         |      WHERE p.p < (SELECT np FROM np)),
         |sp AS (SELECT t.t, p.p,
         |             CAST(CAST('0x' || substr(md5('pair_' || CAST(t.t AS VARCHAR) || '_' || CAST(p.p AS VARCHAR) || '_a'), 1, 6) AS BIGINT) % $Dims AS INT) AS ci,
         |             CAST(CAST('0x' || substr(md5('pair_' || CAST(t.t AS VARCHAR) || '_' || CAST(p.p AS VARCHAR) || '_b'), 1, 6) AS BIGINT) % ${Dims - 1} AS INT) AS cj0
         |      FROM generate_series(0, ${NumTables - 1}) t(t),
         |           generate_series($DensePlanes, 19) p(p)
         |      WHERE p.p < (SELECT np FROM np)),
         |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |dots AS (SELECT ev.vec_id, pl.t, pl.p, list_inner_product(ev.v, pl.wv) AS dot
         |         FROM ev, pl),
         |sbit AS (SELECT ev.vec_id, sp.t,
         |               CAST(SUM(CASE WHEN ev.v[sp.ci + 1] > ev.v[CASE WHEN sp.cj0 >= sp.ci THEN sp.cj0 + 2 ELSE sp.cj0 + 1 END] THEN CAST(pow(2.0, sp.p) AS INT) ELSE 0 END) AS INT) AS sb
         |         FROM ev, sp GROUP BY ev.vec_id, sp.t),
         |bkt AS (SELECT d.vec_id, d.t, CAST(d.db + COALESCE(s.sb, 0) AS INT) AS bucket
         |        FROM (SELECT vec_id, t,
         |                     SUM(CASE WHEN dot > 0 THEN CAST(pow(2.0, p) AS INT) ELSE 0 END) AS db
         |              FROM dots GROUP BY vec_id, t) d
         |        LEFT JOIN sbit s ON s.vec_id = d.vec_id AND s.t = d.t),
         |hot AS (SELECT t, bucket FROM bkt GROUP BY t, bucket
         |        HAVING COUNT(*) > ${Dedup.MaxBucketDocs}),
         |bkc AS (SELECT bkt.* FROM bkt WHERE NOT EXISTS
         |        (SELECT 1 FROM hot WHERE hot.t = bkt.t AND hot.bucket = bkt.bucket)),
         |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |         FROM bkc a JOIN bkc b
         |           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT c.va AS vec_a, c.vb AS vec_b, ${Portable.Quant6Sql(cosSql)} AS cosine
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.va
         |JOIN embeddings eb ON eb.vec_id = c.vb
         |WHERE ${Portable.Quant6Sql(cosSql)} >= $CosThreshold""".stripMargin) { (spark, dir) =>
      val emb = embV(spark, dir)
      // one metadata-cheap count() action sizes the bucket grid before
      // the plan is built — the LSH twin of seedCentroids' driver-side
      // K-row sample
      val cand = embedCandidates(emb, dynPlanes(emb.count()))
      val qcos = Portable.quant6(cosine(col("ea"), col("eb")))
      cand
        .join(emb.select(col("vec_id").as("va"), col("v").as("ea")), "va")
        .join(emb.select(col("vec_id").as("vb"), col("v").as("eb")), "vb")
        .filter(qcos >= CosThreshold)
        .select(col("va").as("vec_a"), col("vb").as("vec_b"), qcos.as("cosine"))
    },

    // L25 — SemDeDup: cluster-scoped semantic dedup (see semanticDedup).
    // Same scoring CTE shapes as the IVF family, but with
    // K = dynCentroids(N) instead of the fixed NumCentroids: the ANN
    // paths are query-batch-bounded so fixed K only costs recall, while
    // the dedup SELF-join is occupancy²-per-cell — fixed K measured
    // 18.6× runtime at 10× data in the r8 sweep (the dedup_embed
    // disease). Since r9 the assignment is the TWO-LEVEL routing
    // (assignTwoLevel — coarse √K groups, 2 probes, ~3√K dots/vector)
    // because K ∝ N makes the flat N×K crossJoin Θ(N²/32) and its
    // broadcast centroid table corpus-shaped (the r8 verdict's top
    // item). The routing is md5-seeded and quant6-scored, so the
    // oracle replays it exactly via the SHARED semCtes block:
    // kk = dynCentroids, gg = dynCoarse (power-of-two series scan),
    // g = coarse sample, grp = fine→coarse grouping; then routed =
    // each vector's top-2 coarse groups and asn = best fine centroid
    // among the probed groups.
    QueryDef(
      "dedup_semantic", {
        s"""WITH $semCtes,
           |routed AS (SELECT vec_id, gid FROM (
           |   SELECT e.vec_id, g.gid,
           |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${quantCos.format("e.v", "g.gv")} DESC, g.gid) AS rn
           |   FROM e, g) t WHERE rn <= 2),
           |asn AS (SELECT vec_id, cid FROM (
           |   SELECT r.vec_id, c.cid,
           |          ROW_NUMBER() OVER (PARTITION BY r.vec_id ORDER BY ${quantCos.format("ev.v", "c.cv")} DESC, c.cid) AS rn
           |   FROM routed r JOIN grp ON grp.gid = r.gid JOIN c ON c.cid = grp.cid
           |        JOIN e ev ON ev.vec_id = r.vec_id) t WHERE rn = 1),
           |pairs AS (SELECT a.vec_id AS ka, b.vec_id AS kb,
           |                 ${quantCos.format("ea.v", "eb.v")} AS cos
           |          FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |          JOIN e ea ON ea.vec_id = a.vec_id
           |          JOIN e eb ON eb.vec_id = b.vec_id),
           |dup AS (SELECT kb AS vec_id, MIN(ka) AS dup_of FROM pairs
           |        WHERE cos >= $SemTau GROUP BY kb)
           |SELECT asn.vec_id, asn.cid, d.dup_of, d.dup_of IS NULL AS kept
           |FROM asn LEFT JOIN dup d USING (vec_id)""".stripMargin
      }) { (spark, dir) =>
      val emb = embV(spark, dir)
      val k = dynCentroids(emb.count())
      semanticDedup(emb, seedCentroids(emb, k), twoLevel = Some((k, dynCoarse(k))))
    },

    // L48 — two-level-assignment agreement audit (the L46/ann_audit
    // pattern applied to SemDeDup's routing): assignTwoLevel is
    // APPROXIMATE — a vector's true nearest fine centroid can live
    // under an unprobed coarse group — so the approximation must be
    // MONITORED per run, not spec-measured once. On a FIXED-SIZE
    // md5-order sample (AuditSample rows, 's'-prefixed key — §5's
    // workload rule: the pre-r14 `vec_id % 5` sample was a 20% corpus
    // fraction, so the audit's exact baseline |sample|·K grew ∝ N·K,
    // quadratic once K = dynCentroids ∝ N; assignment is per-vector
    // independent, so sampling the audited vectors changes nothing
    // about either path) both assignments run against the SAME
    // full-corpus centroid
    // table and the query reports n_vecs / n_agree / agreement (the
    // scale-dependent diagnostic) plus mean_regret (the scale-stable
    // quality: mean quant6-cosine gap flat-best − two-level choice,
    // micro-int BIGINT sums for oracle parity) — the in-plan gate
    // bounds REGRET, see AssignRegretCeiling for why agreement cannot
    // be gated at a fixed level. Audit
    // cost is |sample|·K dots for the exact baseline — the audit, like
    // ann_audit's brute-force side, is priced by its sample knob — but
    // even the baseline avoids a corpus-shaped broadcast: it is the
    // two-level routing probing ALL G coarse groups (exhaustive ⇒
    // exactly the flat assignment), so the fine table flows through
    // the gid-keyed join that degrades to a shuffle at large K.
    QueryDef(
      "semantic_assign_audit", {
        s"""WITH $semCtes,
           |s AS (SELECT vec_id, v FROM e
           |      ORDER BY md5('s' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $AuditSample),
           |flat AS (SELECT vec_id, cid AS cid_flat, CAST(floor(sc * 1000000.0 + 0.5) AS BIGINT) AS qf FROM (
           |   SELECT s.vec_id, c.cid, ${quantCos.format("s.v", "c.cv")} AS sc,
           |          ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY ${quantCos.format("s.v", "c.cv")} DESC, c.cid) AS rn
           |   FROM s, c) t WHERE rn = 1),
           |routed AS (SELECT vec_id, gid FROM (
           |   SELECT s.vec_id, g.gid,
           |          ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY ${quantCos.format("s.v", "g.gv")} DESC, g.gid) AS rn
           |   FROM s, g) t WHERE rn <= 2),
           |two AS (SELECT vec_id, cid AS cid_two, CAST(floor(sc * 1000000.0 + 0.5) AS BIGINT) AS qt FROM (
           |   SELECT r.vec_id, c.cid, ${quantCos.format("sv.v", "c.cv")} AS sc,
           |          ROW_NUMBER() OVER (PARTITION BY r.vec_id ORDER BY ${quantCos.format("sv.v", "c.cv")} DESC, c.cid) AS rn
           |   FROM routed r JOIN grp ON grp.gid = r.gid JOIN c ON c.cid = grp.cid
           |        JOIN s sv ON sv.vec_id = r.vec_id) t WHERE rn = 1)
           |SELECT COUNT(*) AS n_vecs,
           |       COUNT(*) FILTER (WHERE f.cid_flat = t.cid_two) AS n_agree,
           |       floor((COUNT(*) FILTER (WHERE f.cid_flat = t.cid_two)) * 1000000.0 / COUNT(*)) / 1000000.0 AS agreement,
           |       ${Portable.Quant6Sql("CAST(SUM(f.qf) - SUM(t.qt) AS DOUBLE) / (COUNT(*) * 1000000.0)")} AS mean_regret
           |FROM flat f JOIN two t USING (vec_id)""".stripMargin
      }) { (spark, dir) =>
      val emb = embV(spark, dir)
      val k = dynCentroids(emb.count())
      val g = dynCoarse(k)
      val cent = seedCentroids(emb, k)
      val sample = emb
        .orderBy(md5(concat(lit("s"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(AuditSample)
      // the EXACT baseline without a corpus-shaped broadcast (the
      // SURVEY §5 rule the flat `assign` would break at K ∝ N):
      // probing ALL G coarse groups makes the two-level routing
      // exhaustive — every fine centroid sits under exactly one group,
      // so the max_by sees all K candidates with the identical
      // (score, -cid) comparator and the result EQUALS flat
      // assignment — while the fine table still arrives through the
      // gid-keyed join that degrades to a shuffle past
      // MaxBroadcastCentroids instead of hard-failing
      val flat = assignTwoLevel(sample, cent, k, g, probes = g)
        .select(col("vec_id"), col("cid").as("cid_flat"), col("score").as("score_flat"))
      val two = assignTwoLevel(sample, cent, k, g)
        .select(col("vec_id"), col("cid").as("cid_two"), col("score").as("score_two"))
      assignAgreementFrame(flat, two)
    },

    // L6 — exact brute-force cosine top-k for the query batch.
    QueryDef(
      "ann_bruteforce",
      s"""WITH $qsCte,
         |q AS (SELECT e.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS qe
         |      FROM embeddings e WHERE e.vec_id IN (SELECT vec_id FROM qs)),
         |c AS (SELECT q.qid, e.vec_id AS nid,
         |             floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) * 1000000.0) / 1000000.0 AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |${topKSql("c")}""".stripMargin) { (spark, dir) =>
      val emb = embV(spark, dir)
      bruteForce(emb, defaultQueries(emb))
    },

    // L7 — LSH-bucketed ANN: candidates share a sign-bucket with the
    // query in at least one table; top-k within candidates.
    QueryDef(
      "ann_lsh",
      s"""WITH $qsCte,
         |$bucketCtes,
         |$lshScoredCtes,
         |${topKSql("sc")}""".stripMargin) { (spark, dir) =>
      lshSearch(spark, dir)
    },

    // L35 — exact per-label centroids (cluster profiling): the
    // component-wise mean embedding of every label — the supervised
    // twin of the IVF/SemDeDup centroid tables (those are md5-sampled
    // + Lloyd-refined; this is the EXACT aggregate a labeled corpus
    // supports), and the table label-drift monitoring diffs between
    // corpus versions. Portability is the design problem: a float
    // vector mean is an order-dependent double sum (unhashable). The
    // fold rule (events_ewma) cannot apply — the per-(label,
    // component) group is corpus-sized — so the values are QUANTIZED
    // to exact micro-units first (floor(x·10⁶) over the widened
    // double: floor and the ×2⁻ⁿ-free multiply are bit-identical in
    // both engines), summed as BIGINTs (order-independent, exact —
    // headroom: |x|≤~10 → 10⁷ per row, overflow needs 10¹² vectors
    // per label), one double division at the end. A production
    // pipeline that needs full float precision drops the oracle and
    // sums doubles with per-partition compensation; the PLAN is
    // identical. Scale: posexplode fans out ×dim map-side, partial
    // agg collapses each task to ≤ |labels|·dim rows before the one
    // tiny-key shuffle.
    QueryDef(
      "label_centroids",
      s"""WITH e AS (SELECT label, j,
         |                  CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
         |           FROM (SELECT label, unnest(embedding) AS x,
         |                        generate_subscripts(embedding, 1) AS j
         |                 FROM embeddings))
         |SELECT label, CAST(j AS BIGINT) AS component, COUNT(*) AS n_vecs,
         |       ${Portable.Quant6Sql("CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000.0)")} AS mean_val
         |FROM e GROUP BY label, j""".stripMargin) { (spark, dir) =>
      Tables.embeddings(spark, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), (col("pos") + 1).cast("long").as("component"),
          expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("q"))
        .groupBy(col("label"), col("component"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sq"))
        .select(col("label"), col("component"), col("n_vecs"),
          Portable.quant6(col("sq").cast("double")
            / (col("n_vecs") * lit(1000000)).cast("double")).as("mean_val"))
    },

    // L53 — embedding-version drift report: per-component exact means
    // of two corpus halves and their difference — the monitoring query
    // an embedding-model upgrade or a re-embedding backfill gates on
    // (events_ks_drift watches a VALUE distribution; this watches the
    // vector space itself, where a silent encoder change shifts
    // component means long before any downstream metric moves). The
    // halves here are a deterministic md5 split of vec_id (harness
    // scaffolding, the defaultQueries rule — a real caller passes two
    // corpus versions). Portability is label_centroids' exactly: a
    // float mean is an order-dependent double sum, so values are
    // micro-quantized to BIGINTs first (exact, order-independent), one
    // double division per mean at the end, and the drift difference is
    // ONE fixed-order expression quantized once. Scale: one scan,
    // posexplode fans ×dims map-side, partial agg collapses every task
    // to ≤ dims rows before the single tiny-key shuffle — the
    // constant-size-report shape at any corpus.
    QueryDef(
      "embed_drift",
      s"""WITH e AS (SELECT substr(md5('h' || CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS in_a,
         |                  CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q, j
         |           FROM (SELECT vec_id, unnest(embedding) AS x,
         |                        generate_subscripts(embedding, 1) AS j
         |                 FROM embeddings)),
         |g AS (SELECT CAST(j AS BIGINT) AS component,
         |             COUNT(*) FILTER (WHERE in_a) AS n_a,
         |             COUNT(*) FILTER (WHERE NOT in_a) AS n_b,
         |             SUM(CASE WHEN in_a THEN q ELSE 0 END) AS sa,
         |             SUM(CASE WHEN NOT in_a THEN q ELSE 0 END) AS sb
         |      FROM e GROUP BY j)
         |SELECT component, n_a, n_b,
         |       CASE WHEN n_a > 0 THEN ${Portable.Quant6Sql("CAST(sa AS DOUBLE) / (n_a * 1000000.0)")} END AS mean_a,
         |       CASE WHEN n_b > 0 THEN ${Portable.Quant6Sql("CAST(sb AS DOUBLE) / (n_b * 1000000.0)")} END AS mean_b,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN ${Portable.Quant6Sql(
              "CAST(sa AS DOUBLE) / (n_a * 1000000.0) - CAST(sb AS DOUBLE) / (n_b * 1000000.0)")} END AS drift
         |FROM g""".stripMargin) { (spark, dir) =>
      // empty-half guard (r14 advice): a degenerate corpus where one
      // md5 half is empty must yield NULL identically in both engines,
      // not engine-specific ÷0 semantics (ANSI Spark throws, DuckDB
      // floats to inf) — NULL means "no basis for a mean", loudly
      val meanA = when(col("n_a") > 0,
        col("sa").cast("double") / (col("n_a") * lit(1000000)).cast("double"))
      val meanB = when(col("n_b") > 0,
        col("sb").cast("double") / (col("n_b") * lit(1000000)).cast("double"))
      Tables.embeddings(spark, dir)
        .select(
          (substring(md5(concat(lit("h"), col("vec_id").cast("string"))), 1, 1) < "8")
            .as("in_a"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("in_a"), (col("pos") + 1).cast("long").as("component"),
          expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("q"))
        .groupBy(col("component"))
        .agg(count(when(col("in_a"), 1)).as("n_a"),
          count(when(!col("in_a"), 1)).as("n_b"),
          sum(when(col("in_a"), col("q")).otherwise(0L)).as("sa"),
          sum(when(!col("in_a"), col("q")).otherwise(0L)).as("sb"))
        .select(col("component"), col("n_a"), col("n_b"),
          Portable.quant6(meanA).as("mean_a"),
          Portable.quant6(meanB).as("mean_b"),
          Portable.quant6(meanA - meanB).as("drift"))
    },

    // L55 — top principal component by fixed power iteration (the
    // whitening / dominant-drift-direction primitive: embed_drift says
    // WHETHER the space moved per component, this says WHICH direction
    // carries the most variance — the axis you monitor, whiten, or
    // project out). Two stages with very different scale shapes:
    //  1. DISTRIBUTED second moments — the only corpus-sized work. The
    //     upper-triangle products q_i·q_j of the micro-quantized
    //     components (exact BIGINTs, the label_centroids rule — a
    //     float covariance is an order-dependent double sum) are built
    //     per row from the vector's OWN array (a map-side ×dims²/2
    //     fan-out, no self-join) and collapse map-side to ≤ dims²/2
    //     DECIMAL sums; the scaled covariance C = n·M − S·Sᵀ is then
    //     EXACT integer arithmetic (positive scaling never changes
    //     eigenvectors, so no division touches the matrix).
    //  2. BOUNDED iteration — C is dims² values, DOMAIN-bounded like
    //     seedCentroids' K rows, so it legally collects to the driver
    //     (the §5 bounded-set rule); 10 power iterations with max-abs
    //     renormalization run as plain ascending-index double loops,
    //     which DuckDB replays bit-for-bit via list_inner_product /
    //     list_transform (element-order iteration — the bucketCtes
    //     parity rule); sign anchored at component 1, final loading =
    //     v/‖v‖, var_share = Rayleigh(l)/trace(C). Fixed iterations,
    //     like trade_pagerank: both engines run the SAME 10 steps, so
    //     convergence is a quality knob, never a parity question. The
    //     oracle accumulates in HUGEINT (128-bit exact — r14 advice:
    //     the original DECIMAL(18,0) terms overflowed around ~1e6
    //     rows while the Spark side's BigDecimal math is unbounded;
    //     HUGEINT matches it to ~1e38, far past any real corpus, and
    //     avoids DuckDB's 38-digit decimal-multiply width cap).
    QueryDef(
      "embed_pca",
      s"""WITH $pcaBaseCtes,
         |${pcaChainCtes("1", "cm")}
         |SELECT CAST(i.i AS BIGINT) AS component,
         |       ${Portable.Quant6Sql("l[i.i]")} AS loading,
         |       ${Portable.Quant6Sql("lam / tr")} AS var_share
         |FROM ray1, tr, generate_series(1, $Dims) i(i)""".stripMargin) { (spark, dir) =>
      val c = pcaCovarianceFor(spark, dir)
      val (l, lam) = pcaPower(c)
      val share = lam / pcaTrace(c)
      def q6(x: Double): Double = math.floor(x * 1e6) / 1e6
      import spark.implicits._
      (1 to Dims).map(i => (i.toLong, q6(l(i - 1)), q6(share)))
        .toDF("component", "loading", "var_share")
    },

    // L56 — top-K principal components by Hotelling DEFLATION (r14
    // verdict task 7a): after extracting (λ₁, l₁), the next power
    // iteration runs on C − λ₁·l₁·l₁ᵀ — the rank-1 update that zeroes
    // the found eigenvalue and leaves every other eigenpair intact —
    // so the whitening story gets [[PcaTopK]] axes instead of one.
    // Same two-stage scale shape as embed_pca (the covariance is
    // computed ONCE; deflation and the extra iterations are pure
    // dims²-bounded driver arithmetic — more components cost zero
    // additional Spark work), and the oracle replays each deflation
    // step with the identical left-associated `C[i][j] − lam·l[i]·l[j]`
    // so every chain starts from bit-identical doubles. var_share is
    // each λ over the ORIGINAL trace (deflation preserves the
    // remaining spectrum exactly), so shares are comparable and
    // descending — the spec pins both that and pairwise
    // orthogonality.
    QueryDef(
      "embed_pca_topk", {
        val chains = (1 to PcaTopK).map { pc =>
          val src = if (pc == 1) "cm" else s"df${pc - 1}"
          pcaChainCtes(pc.toString, src) +
            (if (pc < PcaTopK) ",\n" + pcaDeflateCte(pc.toString) else "")
        }.mkString(",\n")
        val branches = (1 to PcaTopK).map { pc =>
          s"""SELECT CAST($pc AS BIGINT) AS pc, CAST(i.i AS BIGINT) AS component,
             |       ${Portable.Quant6Sql("l[i.i]")} AS loading,
             |       ${Portable.Quant6Sql("lam / tr")} AS var_share
             |FROM ray$pc, tr, generate_series(1, $Dims) i(i)""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH $pcaBaseCtes,
           |$chains
           |$branches""".stripMargin
      }) { (spark, dir) =>
      val c0 = pcaCovarianceFor(spark, dir)
      val tr = pcaTrace(c0)
      def q6(x: Double): Double = math.floor(x * 1e6) / 1e6
      var c = c0
      val rows = (1 to PcaTopK).flatMap { pc =>
        val (l, lam) = pcaPower(c)
        if (pc < PcaTopK) c = pcaDeflate(c, l, lam)
        (1 to Dims).map(i => (pc.toLong, i.toLong, q6(l(i - 1)), q6(lam / tr)))
      }
      import spark.implicits._
      rows.toDF("pc", "component", "loading", "var_share")
    },

    // L57 — distribution drift ALONG the dominant axis (r14 verdict
    // task 7b): embed_drift watches per-component means, embed_pca
    // finds the direction that carries the variance — this composes
    // them with events_ks_drift's exact-integer KS machinery into the
    // monitor a re-embedding backfill actually wants: "did the
    // distribution shift along the direction that matters?". Stage
    // shapes: the covariance + power iteration produce the axis
    // (driver-side, dims²-bounded); ONE more corpus scan projects
    // every vector onto it (vec_dot — the ordered fold
    // list_inner_product replays) and micro-quantizes the projection
    // (exact BIGINT group keys — float keys would need bit-equal
    // grouping across engines); the two md5 halves' ECDFs meet in the
    // integer KS statistic max|ca·nb − cb·na| (DECIMAL(30,0) exact —
    // the events_ks_drift shape: the running sum rides the
    // value-domain aggregate, ≤|distinct projections| rows, via
    // Distributed.globalRunning, never a corpus-sized window), with
    // ONE double division at the end. Ties at the max break to the
    // smallest axis position; the ÷0 guard (one half empty) yields
    // NULL identically in both engines (the embed_drift rule).
    QueryDef(
      "embed_axis_drift",
      s"""WITH $pcaBaseCtes,
         |${pcaChainCtes("1", "cm")},
         |pr AS (SELECT substr(md5('h' || CAST(e0.vec_id AS VARCHAR)), 1, 1) < '8' AS in_a,
         |              CAST(floor(list_inner_product(CAST(e0.embedding AS DOUBLE[]), sg1.l)
         |                         * 1000000) AS BIGINT) AS p
         |       FROM embeddings e0, sg1),
         |nn AS (SELECT CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |              CAST(COUNT(*) - SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
         |       FROM pr),
         |g AS (SELECT p, CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |             CAST(COUNT(*) - SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |      FROM pr GROUP BY p),
         |r AS (SELECT p,
         |             SUM(CAST(ca AS DECIMAL(30,0)) * nb - CAST(cb AS DECIMAL(30,0)) * na)
         |               OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dsum
         |      FROM g, nn),
         |mx AS (SELECT MAX(ABS(dsum)) AS mxd FROM r)
         |SELECT nn.na AS n_a, nn.nb AS n_b,
         |       CASE WHEN nn.na > 0 AND nn.nb > 0 THEN
         |         ${Portable.Quant6Sql(
              "CAST(mx.mxd AS DOUBLE) / (CAST(nn.na AS DOUBLE) * CAST(nn.nb AS DOUBLE))")}
         |       END AS ks_stat,
         |       CAST((SELECT MIN(p) FROM r WHERE ABS(dsum) = mx.mxd) AS BIGINT) AS ks_at_micro
         |FROM mx, nn""".stripMargin) { (spark, dir) =>
      ensureRegistered(spark)
      val emb = embV(spark, dir)
      val (l, _) = pcaPower(pcaCovarianceFor(spark, dir))
      val axis = array(l.toIndexedSeq.map(lit): _*)
      val pr = emb.select(
        (substring(md5(concat(lit("h"), col("vec_id").cast("string"))), 1, 1) < "8")
          .as("in_a"),
        floor(call_function("vec_dot", col("v"), axis) * lit(1000000))
          .cast("long").as("p"))
      val cAll = Portable.countAll
      val n = pr.agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
        (cAll - sum(when(col("in_a"), 1L).otherwise(0L))).as("nb"))
      val g = pr.groupBy(col("p"))
        .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
          (cAll - sum(when(col("in_a"), 1L).otherwise(0L))).as("cb"))
      val d = g.crossJoin(broadcast(n))
        .select(lit(1L).as("grp"), col("p"),
          (col("ca").cast("decimal(30,0)") * col("nb")
            - col("cb").cast("decimal(30,0)") * col("na")).as("d"))
      val ranked = Distributed.globalRunning(d, Seq("grp"), Seq("p"), Some("d"))
        .select(col("p"), col("g_run").as("dsum"))
      val m = ranked.agg(max(abs(col("dsum"))).as("mxd"))
      val at = ranked.crossJoin(broadcast(m))
        .filter(abs(col("dsum")) === col("mxd"))
        .agg(min(col("p")).as("ks_at_micro"))
      m.crossJoin(broadcast(n)).crossJoin(broadcast(at))
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          when(col("na") > 0 && col("nb") > 0,
            Portable.quant6(col("mxd").cast("double")
              / (col("na").cast("double") * col("nb").cast("double")))).as("ks_stat"),
          col("ks_at_micro"))
    },

    // L37 — hard-negative mining for contrastive training: for each
    // label's EXACT centroid, the top-5 nearest vectors carrying a
    // DIFFERENT label — the "confusable" examples a contrastive or
    // metric-learning objective wants in the batch. Composes
    // label_centroids' exact aggregate (micro-quantized BIGINT
    // component sums, so both engines build the IDENTICAL centroid
    // doubles — a raw float mean would be an order-dependent sum) with
    // the brute-force scoring stage: the ≤|labels|-row centroid table
    // broadcasts against one corpus scan (the ann_bruteforce shape
    // with the roles flipped — queries are the bounded side BY
    // CONSTRUCTION here, so broadcast is provably safe, not a
    // strategy choice), cross-label filter rides the scan, and the
    // per-label top-5 runs salted + WindowGroupLimit like every other
    // growing top-k.
    QueryDef(
      "hard_negatives",
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |qx AS (SELECT label, j, CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
         |       FROM (SELECT label, unnest(embedding) AS x,
         |                    generate_subscripts(embedding, 1) AS j FROM embeddings)),
         |cm AS (SELECT label, j, CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000.0) AS mean
         |       FROM qx GROUP BY label, j),
         |c AS (SELECT label, list(mean ORDER BY j) AS cv FROM cm GROUP BY label),
         |s AS (SELECT c.label, e.vec_id AS nid,
         |             floor(list_cosine_similarity(e.v, c.cv) * 1000000.0) / 1000000.0 AS score
         |      FROM e JOIN c ON e.label <> c.label),
         |r AS (SELECT label, nid, score,
         |             ROW_NUMBER() OVER (PARTITION BY label ORDER BY score DESC, nid) AS rn
         |      FROM s)
         |SELECT label, nid AS neighbor_id, CAST(rn AS BIGINT) AS rank, score
         |FROM r WHERE rn <= 5""".stripMargin) { (spark, dir) =>
      ensureRegistered(spark)
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val centroids = emb
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("label"), (col("pos") + 1).cast("long").as("j"),
          expr("CAST(floor(x * 1000000) AS BIGINT)").as("q"))
        .groupBy(col("label"), col("j"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
        .withColumn("mean", col("sq").cast("double")
          / (col("n") * lit(1000000)).cast("double"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("j"), col("mean")))).as("jm"))
        .select(col("label").as("qid"), transform(col("jm"), x => x("mean")).as("cv"))
      val scored = emb.crossJoin(broadcast(centroids))
        .filter(col("label") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          Portable.quant6(cosine(col("v"), col("cv"))).as("score"))
      saltedTopK(scored, col("score"), 5)
        .select(col("qid").cast("int").as("label"), col("nid").as("neighbor_id"),
          col("rn").cast("long").as("rank"), col("score"))
    },

    // L46 — ANN recall audit as a QUERY (the dedup_audit idea applied
    // to retrieval): recall@k of the SHIPPED LSH search against the
    // exact brute-force baseline over the standard query sample —
    // previously only a ScalaTest measurement, now a driver-checked
    // operator a quality dashboard can run on every index build. Both
    // sides are the production code paths (lshSearch / bruteForce
    // shared with their standalone queries — the audit cannot drift
    // from what ships); the score is a pure rational hits/baseline
    // with one double division. Cost = the two searches it audits.
    QueryDef(
      "ann_audit",
      s"""WITH $qsCte,
         |$bucketCtes,
         |$lshScoredCtes,
         |r AS (SELECT qid, nid,
         |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
         |      FROM sc),
         |q AS (SELECT e.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS qe
         |      FROM embeddings e WHERE e.vec_id IN (SELECT vec_id FROM qs)),
         |bc AS (SELECT q.qid, e.vec_id AS nid,
         |              floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) * 1000000.0) / 1000000.0 AS score
         |       FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |rb AS (SELECT qid, nid,
         |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
         |       FROM bc),
         |h AS (SELECT COUNT(*) AS n_hits FROM (
         |        SELECT qid, nid FROM r WHERE rn <= $TopK
         |        INTERSECT SELECT qid, nid FROM rb WHERE rn <= $TopK)),
         |nb AS (SELECT COUNT(*) AS n_baseline FROM rb WHERE rn <= $TopK),
         |nq AS (SELECT COUNT(*) AS n_queries FROM q)
         |SELECT CAST(nq.n_queries AS BIGINT) AS n_queries,
         |       CAST($TopK AS BIGINT) AS k,
         |       CAST(nb.n_baseline AS BIGINT) AS n_baseline,
         |       CAST(h.n_hits AS BIGINT) AS n_hits,
         |       floor(CAST(h.n_hits AS DOUBLE) / CAST(nb.n_baseline AS DOUBLE)
         |             * 1000000.0) / 1000000.0 AS recall
         |FROM nq, nb, h""".stripMargin) { (spark, dir) =>
      val emb = embV(spark, dir)
      val brute = bruteForce(emb, defaultQueries(emb))
        .select(col("query_id"), col("neighbor_id"))
      val lsh = lshSearch(spark, dir)
        .select(col("query_id"), col("neighbor_id"))
      annAuditFrame(defaultQueries(emb), brute, lsh)
    },

    // L50 — Reciprocal Rank Fusion (Cormack et al. 2009, k=60): the
    // hybrid-retrieval combiner every RAG ingestion pipeline runs —
    // two retrievers with incomparable scores (here the shipped
    // sign-LSH search and the shipped IVF search, deliberately the
    // two production paths so fusion can never drift from what
    // ships) fuse by RANK: rrf = Σ 1/(60 + rank_i), missing rank
    // contributes 0. Scale shape: composes two already-audited
    // searches, then ONE keyed full-outer join on (query, neighbor)
    // with ≤ TopK rows per query per side and a per-query window over
    // ≤ 2·TopK rows (bounded — no salt needed, the rerank rule).
    // Portability: 1/(60+rank) is one IEEE division, the fusion sum
    // is two terms in fixed written order — bit-identical across
    // engines; ranks themselves come from quant6-scored windows.
    QueryDef(
      "rrf_fusion",
      s"""WITH $qsCte,
         |$bucketCtes,
         |cand_l AS (SELECT DISTINCT qb.vec_id AS qid, vb.vec_id AS nid
         |           FROM bkt qb JOIN bkt vb
         |             ON qb.t = vb.t AND qb.bucket = vb.bucket AND qb.vec_id <> vb.vec_id
         |           WHERE qb.vec_id IN (SELECT vec_id FROM qs)),
         |sc_l AS (SELECT c.qid, c.nid, ${Portable.Quant6Sql(cosSql)} AS score
         |         FROM cand_l c
         |         JOIN embeddings ea ON ea.vec_id = c.qid
         |         JOIN embeddings eb ON eb.vec_id = c.nid),
         |r_l AS (SELECT qid, nid,
         |               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
         |        FROM sc_l),
         |${ivfCtes(NumProbes, withQs = false)},
         |cand_i AS (SELECT DISTINCT q.qid, a.vec_id AS nid
         |           FROM qprobe q JOIN asn a ON a.cid = q.cid WHERE a.vec_id <> q.qid),
         |sc_i AS (SELECT cand_i.qid, cand_i.nid,
         |                ${quantCos.format("eq.v", "en.v")} AS score
         |         FROM cand_i JOIN e eq ON eq.vec_id = cand_i.qid
         |                     JOIN e en ON en.vec_id = cand_i.nid),
         |r_i AS (SELECT qid, nid,
         |               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
         |        FROM sc_i),
         |fused AS (SELECT qid, nid,
         |                 COALESCE(1.0 / (60 + a_rn), 0) + COALESCE(1.0 / (60 + b_rn), 0) AS rrf
         |          FROM (SELECT qid, nid, rn AS a_rn FROM r_l WHERE rn <= $TopK) a
         |          FULL JOIN (SELECT qid, nid, rn AS b_rn FROM r_i WHERE rn <= $TopK) b
         |          USING (qid, nid)),
         |rr AS (SELECT qid, nid, rrf,
         |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS rn
         |       FROM fused)
         |SELECT qid AS query_id, nid AS neighbor_id, CAST(rn AS BIGINT) AS rank, rrf AS score
         |FROM rr WHERE rn <= $TopK""".stripMargin) { (spark, dir) =>
      val emb = embV(spark, dir)
      val lsh = lshSearch(spark, dir)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rl"))
      val ivf = ivfSearch(emb, seedCentroids(emb), defaultQueries(emb))
        .select(col("query_id"), col("neighbor_id"), col("rank").as("ri"))
      val fused = lsh.join(ivf, Seq("query_id", "neighbor_id"), "full_outer")
        .select(col("query_id"), col("neighbor_id"),
          (coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("ri")), lit(0.0))).as("score"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      fused.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
    },

    // L38 — embedding outlier detection (data curation: vectors far
    // from their label's centroid are mislabeled / corrupt / OOD and
    // get flagged before training or index build). Exact and fully
    // portable by integer arithmetic: components quantize to
    // micro-unit BIGINTs (the label_centroids rule), the per-label
    // per-component (sum S, count n) make the deviation z = q·n − S an
    // EXACT integer (≤ ~1e11 — no FP yet), z² is one IEEE double
    // square of an exactly-representable integer, and the
    // per-component squares are floor-quantized back to BIGINT before
    // the order-free integer SUM — no order-dependent double
    // accumulation anywhere (the distance is n²·Σ(x−mean)² in fixed
    // units). Outliers are RANK-based, not threshold-based (no FP
    // boundary): the top ceil(5%) of each label by (distance desc,
    // vec_id). The per-label ranking runs through
    // Distributed.globalRunning — labels are ~5 values, so a plain
    // per-label window would funnel the corpus through one reducer.
    // Scale shape: one posexplode ×dim map-side, a broadcast
    // (|labels|·dim)-row stats join, one mergeable per-vector sum,
    // and the sharded prefix-rank primitive.
    QueryDef(
      "embed_outliers",
      s"""WITH q AS (SELECT vec_id, label, CAST(j AS BIGINT) AS j,
         |                  CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
         |           FROM (SELECT vec_id, label, unnest(embedding) AS x,
         |                        generate_subscripts(embedding, 1) AS j
         |                 FROM embeddings)),
         |st AS (SELECT label, j, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS n
         |       FROM q GROUP BY label, j),
         |d AS (SELECT q.vec_id, q.label,
         |             CAST(SUM(CAST(floor(
         |               CAST(q.q * st.n - st.s AS DOUBLE) * CAST(q.q * st.n - st.s AS DOUBLE)
         |               / 1000000000000.0) AS BIGINT)) AS BIGINT) AS dist
         |      FROM q JOIN st ON st.label = q.label AND st.j = q.j
         |      GROUP BY q.vec_id, q.label),
         |r AS (SELECT vec_id, label, dist,
         |             ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rn,
         |             COUNT(*) OVER (PARTITION BY label) AS n
         |      FROM d)
         |SELECT vec_id, label, dist, (rn - 1) * 20 < n AS is_outlier
         |FROM r""".stripMargin) { (spark, dir) =>
      ensureRegistered(spark)
      // staged (the hammingCandidates rule): the exploded component
      // relation feeds BOTH the stats aggregate and the join probe
      // side — the aggregate sits on the broadcast side so exchange
      // reuse cannot fire, and without the cut the parquet decode +
      // ×dim explode would run twice
      val q = graft.operators.Distributed.stage(
        graft.sources.Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("label"), (col("pos") + 1).cast("long").as("j"),
            expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("q")))
      val st = q.groupBy(col("label"), col("j"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      val d = q.join(broadcast(st), Seq("label", "j"))
        .select(col("vec_id"), col("label"),
          expr("""CAST(floor(
                    CAST(q * n - s AS DOUBLE) * CAST(q * n - s AS DOUBLE)
                    / 1000000000000.0) AS BIGINT)""").as("sq"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("sq")).as("dist"))
      // stage() before the prefix primitive: the ranked-rows and
      // offsets branches must consume the IDENTICAL relation so their
      // range exchanges canonicalize equal and reuse — this subtree
      // (agg over broadcast join over posexplode) defeats Spark's
      // plan canonicalization, and two independently-sampled range
      // shuffles could disagree on the shard id (the globalRunning
      // contract's silent-wrong-ranks hazard). A materialized cut
      // makes both branches scan one RDD.
      val ranked = graft.operators.Distributed.globalRunning(
        graft.operators.Distributed.stage(
          d.select(col("label"), (-col("dist")).as("ndist"), col("vec_id"))),
        grp = Seq("label"), ord = Seq("ndist", "vec_id"))
      ranked.select(col("vec_id"), col("label"), (-col("ndist")).as("dist"),
        ((col("g_rank") - 1) * 20 < col("g_n")).as("is_outlier"))
    })
}
