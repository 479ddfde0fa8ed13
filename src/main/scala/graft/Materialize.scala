package graft

/** End-to-end corpus materialization main: raw documents → corpus_keep
  * gates (quality ∧ repetition ∧ lang ∧ decontamination ∧ dedup) →
  * sized parquet training corpus. The runnable form of the library's
  * user story — one command from tables to training set.
  *
  * Run: dev/materialize.sh [sfdir] [outdir]
  * Prints one JSON line: docs in, docs kept, files written.
  */
object Materialize {
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir =
      if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_corpus").toString + "/corpus"
    val spark = Session.local()
    val (nIn, nKept) = operators.Corpus.materialize(spark, sfDir, outDir)
    val nFiles = new java.io.File(outDir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    println(s"""{"metric":"materialize","docs_in":$nIn,"docs_kept":$nKept,""" +
      s""""files":$nFiles,"out":"$outDir","sf":"$sfDir"}""")
    spark.stop()
  }
}
