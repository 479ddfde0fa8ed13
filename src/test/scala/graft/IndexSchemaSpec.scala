package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The persisted ANN index tables are read back with declared schemas
  * (no schema-inference job per search), so each declaration must be
  * exactly what its build function writes: compared here against the schema
  * parquet itself reports. The cells' `cid` partition column lives in
  * directory names, not in the files, and is left out. */
class IndexSchemaSpec extends SparkSuite {

  test("every persisted index table is written with exactly the schema its readers declare") {
    graft.functions.VectorOps.ensureRegistered(spark)
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).cache()
    val cent = Similarity.seedCentroids(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_schema").toString
    Similarity.buildPqIndex(emb, s"$dir/pq")
    Similarity.buildIvfIndex(emb, cent, s"$dir/ivf")
    Similarity.buildIvfPqIndex(emb, cent, s"$dir/ivfpq")
    def written(path: String): StructType =
      StructType(spark.read.parquet(path).schema.filterNot(_.name == "cid"))
    def declared(s: StructType): StructType = StructType(s.filterNot(_.name == "cid"))
    Seq(
      "pq/codes" -> Similarity.PqCodesSchema,
      "pq/book" -> Similarity.PqBookSchema,
      "ivf/centroids" -> Similarity.CentroidsSchema,
      "ivf/cells" -> Similarity.Sq8CellsSchema,
      "ivfpq/centroids" -> Similarity.CentroidsSchema,
      "ivfpq/book" -> Similarity.PqBookSchema,
      "ivfpq/cells" -> Similarity.PqCellsSchema
    ).foreach { case (table, schema) =>
      assert(written(s"$dir/$table") === declared(schema), s"$table schema drifted")
    }
    emb.unpersist()
  }
}
