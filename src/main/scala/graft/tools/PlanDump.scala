package graft.tools

/** Write the formatted physical plan of each named SparkEntry query to
  * `<outDir>/<query>_<tag>.txt` in ONE JVM
  * (`runMain graft.tools.PlanDump <dataDir> <outDir> <tag> <q1,q2,...>`) —
  * the optimization rounds' plan-evidence capture (plans/r14/...), batched
  * so 30 plans don't pay 30 session startups. Uses Bench's session config
  * so the captured plan is the shape the bench actually runs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r14")
    val tag = args.lift(2).getOrElse("before")
    val names: Seq[String] = args.lift(3)
      .map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] $n: unknown query")
        case Some(fn) =>
          try {
            val df = fn(spark, d)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
              txt.getBytes("UTF-8"))
            System.err.println(s"[plandump] wrote $outDir/${n}_$tag.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
