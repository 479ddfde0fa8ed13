package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale-sweep materializer: tiles an sf0.1 directory ×K into
  * an sfK/10 directory so graft.Bench can be measured above the largest
  * driver-generated scale factor (r6 verdict task 3 — the analytics /
  * events families had never been measured past sf0.1).
  *
  * The tiling follows how TPC-H itself scales, so per-query work grows
  * the way a real 10× corpus would rather than degenerating:
  *  - FACT keys (orderkey, custkey, partkey, suppkey, event/user/doc/vec
  *    ids) are offset per tile — join relationships stay consistent and
  *    entity counts grow ×K (more orders, more users), while grouping
  *    DOMAINS that TPC-H keeps fixed (brand, nation, region, event_type,
  *    lang, source, dates) stay fixed — so aggregates see ×K rows per
  *    group, not ×K empty groups.
  *  - `documents.text` gets a per-tile alphabet ROTATION (translate; tile
  *    0 is identity): length, whitespace and token structure are
  *    preserved (quality/token metrics price identically) but tiles share
  *    no shingles, so the duplicate MASS scales ×K linearly instead of
  *    every document becoming a K-copy near-dup cluster with C(K,2)
  *    quadratic pair output — that pathology is the stress harness's
  *    job (dev/stress.sh), not a scale factor's.
  *  - `embeddings.embedding` is rotated left by tile index (cyclic shift
  *    — norm-preserving, so cosine geometry stays healthy but tiles are
  *    decorrelated and ANN cells get ×K occupancy, not K exact copies).
  *
  * Usage: graft.ScaleUp <srcDir> <outDir> [tiles=10]
  */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1")
    val tiles = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local()
    write(spark, src, out, tiles)
    spark.stop()
  }

  def write(spark: SparkSession, src: String, out: String, tiles: Int): Unit = {
    // Key offsets: round numbers safely above each table's max key at
    // any plausible source sf (verified ≥10× the sf0.1 maxima).
    val OK = 100000000L // orderkey  (sf0.1 max 600k)
    val CK = 10000000L  // custkey
    val PK = 10000000L  // partkey
    val SK = 1000000L   // suppkey
    val EK = 100000000L // event_id
    val UK = 10000000L  // user_id
    val DK = 10000000L  // doc_id
    val VK = 10000000L  // vec_id

    // Tile-distinctness bound (r8 verdict task 5 — the old cap was 26):
    // document text is perturbed by TWO composed rotations (odd-parity
    // words by tile%26, even-parity words by (tile%26 + tile/26)%26),
    // so two tiles share a (sOdd, sEven) pair — and with it any
    // multi-word shingle — only when both components match, i.e. only
    // past 26² = 676 tiles. Every shingle the dedup family hashes is
    // ≥ 2 words (ShingleLen 5, substring windows 8, line-level dedup
    // joins whole multi-word lines), so a shingle always spans both
    // parities and the duplicate MASS stays ×K linear up to 676 tiles.
    // Embeddings compose the ≤64-tile cyclic shift with a
    // deterministic per-(tile/64) sign-flip pattern (norm-preserving,
    // ~half the components — cross-tile cosines concentrate near 0, so
    // no near-dup mass reappears at tile 64 either). Past 676 the text
    // rotation pair wraps and the K-copy pathology returns — fail
    // loudly there.
    require(tiles >= 1 && tiles <= 676,
      s"tiles=$tiles: the composed word-parity rotations wrap past 26^2=676 " +
        "and reintroduce K-copy near-dups")

    def tiled(table: String)(project: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val t = spark.range(tiles).select(col("id").as("__t"))
      val df = project(base.crossJoin(broadcast(t)), col("__t")).drop("__t")
      // repartition (not coalesce): coalesce(4) would collapse the
      // read+crossJoin+transform upstream to 4 tasks; a shuffle keeps
      // the tiling parallel and only the output file count small
      df.repartition(4).write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table -> ${out}/$table.parquet")
    }

    // Fixed dimension tables are copied ONCE, not tiled: TPC-H keeps
    // nation/region constant across scale factors, and a crossJoin copy
    // here would emit K duplicate rows per key — every join to them
    // would then fan out ×K (×K² through supplier→nation→region),
    // inflating join cardinality instead of scaling it.
    def copy(table: String): Unit = {
      spark.read.parquet(s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table -> ${out}/$table.parquet (fixed dim, 1 copy)")
    }

    copy("region"); copy("nation")

    tiled("customer")((df, i) => df.withColumn("c_custkey", col("c_custkey") + i * CK))
    tiled("supplier")((df, i) => df.withColumn("s_suppkey", col("s_suppkey") + i * SK))
    tiled("part")((df, i) => df.withColumn("p_partkey", col("p_partkey") + i * PK))
    tiled("orders")((df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + i * OK)
      .withColumn("o_custkey", col("o_custkey") + i * CK))
    tiled("lineitem")((df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + i * OK)
      .withColumn("l_partkey", col("l_partkey") + i * PK)
      .withColumn("l_suppkey", col("l_suppkey") + i * SK))
    tiled("events")((df, i) => df
      .withColumn("event_id", col("event_id") + i * EK)
      .withColumn("user_id", col("user_id") + i * UK))

    // Per-tile COMPOSED caesar rotation of letters only: odd-parity
    // words shift by sOdd = tile%26, even-parity words by
    // sEven = (tile%26 + tile/26)%26. For tiles < 26 the two shifts
    // are EQUAL (tile/26 = 0), so the output is byte-identical to the
    // old single-rotation scheme (sweep artifacts stay comparable);
    // past 26 the pair decorrelates tiles up to 676. The word split/
    // rejoin on a single space is lossless for ANY text (split keeps
    // empty segments, join restores them), and translate touches
    // letters only — lengths, whitespace, and token structure are
    // preserved, so quality/token metrics price identically. The two
    // 26-branch CASE chains are keyed on the shift VALUE, not the tile
    // id, so the expression stays constant-size at any tile count.
    def rot(s: String, k: Int): String = s.drop(k) + s.take(k)
    def caesar(word: Column, shift: Column): Column =
      (0 until 26).foldLeft(word) { case (acc, k) =>
        when(shift === k,
          translate(word, Lower + Upper, rot(Lower, k) + rot(Upper, k))).otherwise(acc)
      }
    tiled("documents") { (df, i) =>
      // Column./ is DOUBLE division — the tile quotient must go
      // through an explicit floor so the arithmetic is integral by
      // construction, not by the tile cap keeping the fractional part
      // from crossing a truncation boundary
      val sOdd = pmod(i, lit(26L)).cast("int")
      val sEven = pmod(pmod(i, lit(26L)) + floor(i / lit(26.0)).cast("long"), lit(26L))
        .cast("int")
      val rotated = array_join(
        transform(split(col("text"), " "), (w, idx) =>
          when(pmod(idx, lit(2)) === 0, caesar(w, sEven)).otherwise(caesar(w, sOdd))),
        " ")
      df.withColumn("doc_id", col("doc_id") + i * DK)
        .withColumn("text", when(sOdd === 0 && sEven === 0, col("text")).otherwise(rotated))
    }

    // Embeddings compose two norm-preserving transforms: the cyclic
    // left-shift by tile%dim (dim 64 in the driver testdata), and —
    // for tile/64 ≥ 1 — a deterministic per-(tile/64) SIGN FLIP of
    // ~half the components (flip component c iff hash("sgn_<j>_<c>")
    // is even). Each alone wraps (shift at 64 tiles, signs repeat per
    // j); composed, tiles share a transform only when both parts
    // match, and a sign-flipped copy of a shifted vector has cosine
    // concentrated near 0 against every other tile — decorrelated,
    // not a planted near-dup. Identity at tile 0, and tiles < 64 are
    // byte-identical to the old scheme.
    tiled("embeddings") { (df, i) =>
      val n = size(col("embedding"))
      val k = pmod(i.cast("int"), n)
      val shifted = when(k === 0, col("embedding")).otherwise(
        concat(slice(col("embedding"), k + 1, n - k), slice(col("embedding"), lit(1), k)))
      val j = floor(i / lit(64.0)).cast("int") // explicit integer quotient (see sEven)
      val signed = when(j === 0, shifted).otherwise(
        zip_with(shifted, sequence(lit(0), n - 1), (x, c) =>
          when(pmod(hash(concat_ws("_", lit("sgn"), j, c)), lit(2)) === 0, x).otherwise(-x)))
      df.withColumn("vec_id", col("vec_id") + i * VK)
        .withColumn("embedding", signed)
    }
  }
}
