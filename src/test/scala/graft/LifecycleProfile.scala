package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, Staging}

/** Throwaway stage profiler for the lifecycle seat (dev-only): mirrors
  * the ann_index_lifecycle QueryDef body phase by phase and counts the
  * Spark JOBS each phase submits (the seat is job-latency bound, so
  * job count is the number to drive down — r16 measured ~80 jobs). */
object LifecycleProfile {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = Session.local()
    graft.functions.VectorOps.ensureRegistered(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def t[A](name: String)(f: => A): A = {
      val j0 = jobs.get(); val t0 = System.nanoTime(); val r = f
      Thread.sleep(50) // let trailing job-start events land
      println(f"[prof] $name%-12s ${(System.nanoTime() - t0) / 1e9}%6.2fs  jobs ${jobs.get() - j0}%3d")
      r
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (round <- 1 to 3) {
      println(s"== round $round ==")
      val root = s"/tmp/graft_prof_lifecycle_$round"
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val base = new org.apache.hadoop.fs.Path(s"$root/base")
      t("build") {
        Similarity.buildIvfIndex(emb.filter(pmod(col("vec_id"), lit(10)) =!= 7),
          Similarity.seedCentroids(emb), base.toString)
      }
      val work = new org.apache.hadoop.fs.Path(s"$root/work")
      t("link") { Staging.linkOrCopyTree(fs, base, work, conf) }
      val centW = t("centRead") { spark.read.parquet(s"$work/centroids").cache() }
      t("appends") {
        Seq(7L, 17L, 27L).foreach { m =>
          Similarity.appendToIvfIndex(spark,
            emb.filter(pmod(col("vec_id"), lit(30)) === m), work.toString, centW)
        }
      }
      centW.unpersist(blocking = false)
      t("compact") { Similarity.compactIndex(spark, work.toString) }
      t("search") {
        Similarity.searchIvfIndex(spark, work.toString, emb,
          Similarity.defaultQueries(emb))
          .write.format("noop").mode("overwrite").save()
      }
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
    spark.stop()
  }
}
