package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every CLI main builds: `local[cpus]`, `cpus`
  * shuffle partitions, UTC, no UI, WARN logging (AQE is Spark's
  * default). `cpus` is SPARK_GRAFT_CPUS, else the JVM's processors. */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
