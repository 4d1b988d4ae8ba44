package graftbench

import org.apache.spark.sql.SparkSession

/** Expected result of `mm_features`, which DuckDB cannot recompute from the
  * input tables, from an implementation independent of the query: a
  * sequential driver-side fold. Same semantics as `graft.Fixtures`, written
  * under the run's own directory instead of a fixed path; the suite runs no
  * other query that needs a fixture. */
object OracleFixtures {

  def write(spark: SparkSession, dataDir: String, outDir: String): Unit = {
    import spark.implicits._
    // mm_features: per-document (dim, f0) from a plain fold over the bytes
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text").collect()
    docs.map { r =>
      var h = 1125899906842597L
      r.getString(1).getBytes("UTF-8").foreach(b => h = h * 31 + b)
      (r.getLong(0), graft.operators.Multimodal.FEATURE_DIM, (h % 2000003L).toFloat / 1000.0f)
    }.toSeq.toDF("doc_id", "dim", "f0")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/mm_features")
  }
}
