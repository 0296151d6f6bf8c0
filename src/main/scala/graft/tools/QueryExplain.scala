package graft.tools

/** Print one SparkEntry query's formatted plan
  * (`runMain graft.tools.QueryExplain <dataDir> <query>`) — the
  * .explain("formatted") feedback loop as a runnable surface. */
object QueryExplain {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qname = args.lift(1).getOrElse("q1_agg")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.session(cpus)
    graft.SparkEntry.queries(qname)(spark, d).explain("formatted")
    spark.stop()
  }
}
