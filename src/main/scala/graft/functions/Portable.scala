package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Helpers that keep query results bit-identical between Spark and the
  * DuckDB oracle the driver replays (SURVEY.md §4).
  *
  * Two rules make cross-engine hashing safe:
  *   1. Money math runs in DECIMAL (exact, order-independent sums) and
  *      only the final value is cast to double — raw double sums drift
  *      by ulps depending on partial-aggregation order.
  *   2. Anything "random" (minhash seeds, LSH hyperplanes) derives from
  *      md5(string), which is the one hash both engines share bit-for-bit.
  *      Spark xxhash64 / DuckDB hash() are different algorithms.
  */
object Portable {

  /** Exact decimal for currency-ish doubles (values < 1e10, 2dp). */
  val Dec: DecimalType = DecimalType(12, 2)

  def dec(c: Column): Column = c.cast(Dec)

  private val oneDec: Column = lit(BigDecimal(1)).cast(Dec)

  /** Order-independent exact sum of a 2dp-valued double column. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** sum(x * (1 - d)) in exact decimal — TPC-H-style revenue. */
  def revenueSum(price: Column, discount: Column): Column =
    sum(dec(price) * (oneDec - dec(discount))).cast(DoubleType)

  /** Timestamps are never emitted raw (Spark writes tz-aware parquet,
    * DuckDB yields naive timestamps); format to a string instead. */
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
  def fmtDay(c: Column): Column = date_format(c, "yyyy-MM-dd")

  def countAll: Column = count(lit(1))

  /** Quantize a double to 6dp with floor(x*1e6)/1e6 — pure double
    * arithmetic, bit-identical across engines. round() is NOT: Spark
    * rounds the exact decimal expansion (BigDecimal HALF_UP) while
    * DuckDB rounds via multiply, and the two disagree near …5
    * boundaries (observed at sf0.1). SQL twin:
    * floor(x * 1000000.0) / 1000000.0. */
  def quant6(c: Column): Column = floor(c * lit(1000000.0)) / lit(1000000.0)

  val Quant6Sql: String => String = x => s"floor(($x) * 1000000.0) / 1000000.0"

  /** JVM-side md5 hex — identical to Spark's md5() and DuckDB's md5(),
    * used to precompute deterministic constants (LSH hyperplanes). */
  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }
}
