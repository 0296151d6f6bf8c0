package graft

import org.apache.spark.sql.SparkSession

/** The §3.3 serving lifecycle as a batch entry point (SURVEY.md: the
  * reference's gRPC request→response loop maps to a batch-scoring
  * spark-submit job): load a persisted [[core.Ensemble]], score a
  * request parquet, write the response parquet.
  *
  *   spark-submit ... graft.Serve <ensembleDir> <requestsParquet> <outDir>
  *
  * The reloaded graph revalidates its schema against the request frame
  * eagerly (the analyzer step of §3.1), so a request/ensemble mismatch
  * fails before any executor work. For the continuous twin, feed the
  * same ensemble's `transform` to
  * [[streaming.StreamingOps.scoreStream]] over a readStream source.
  */
object Serve {
  /** The load→score→write body, session-injected so tests drive it on
    * the shared session (ServeSpec) while main owns its own lifecycle. */
  def score(spark: SparkSession, ensembleDir: String,
      requestsPath: String, outDir: String): Unit = {
    val ensemble = core.EnsemblePersistence.load(ensembleDir, spark)
    val requests = spark.read.parquet(requestsPath)
    ensemble.transform(requests)
      .write.mode("overwrite").parquet(outDir)
  }

  def main(args: Array[String]): Unit = {
    val Array(ensembleDir, requestsPath, outDir) = args
    // the benchmark's session, so a submitted job serves the plan it times
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    try score(spark, ensembleDir, requestsPath, outDir)
    finally spark.stop()
  }
}
