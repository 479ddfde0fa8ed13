package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Dev-loop filter (mirrors Bench): SPARK_GRAFT_ONLY=q1,q2 verifies
    // just those queries (and dumps just their oracles, so the DuckDB
    // replay iterates the same subset). Unset = the driver's full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Fail fast on unknown names: a misspelled filter would otherwise
    // match nothing, write zero outputs, and the replay's "0 fail"
    // would look green.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // NonFatal only: an OOM or interrupt must stop the run, not be
      // logged as one failed query among many
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query caches (tokenized docs, gram arrays, pair stages) are
      // never shared across queries — drop them so a 50-query session
      // doesn't pin 50 queries' worth of storage memory
      spark.sharedState.cacheManager.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Verify.oracleJson(only))
    System.err.println(
      if (failed.isEmpty) "[verify] 0 queries failed"
      else s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def oracleJson(only: Option[Set[String]]): String =
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}

/** Writes oracle_sql.json alone (no Spark session, no query runs) —
  * the input dev/baseline.py needs to time every oracle in DuckDB
  * without paying for a full Verify dump first. */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    Files.writeString(Paths.get(out), Verify.oracleJson(None))
    System.err.println(s"[dump-oracles] ${SparkEntry.oracleSql.size} oracles -> $out")
  }
}
