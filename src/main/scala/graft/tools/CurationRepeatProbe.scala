package graft.tools

/** JVM-lifetime accumulation probe for the corpus-lifecycle rows
  * (`runMain graft.tools.CurationRepeatProbe <dataDir> <query> <iters>`):
  * runs ONE SparkEntry query N times in one JVM with Bench's settle
  * discipline, printing per-iteration wall time plus JVM-state gauges
  * (threads, shutdown-temp dirs, live SQL executions, heap after GC).
  * Built for the round-12 `pipeline_incremental_curation` adjudication:
  * the board's "isolated" re-measure shares the board JVM, so it cannot
  * distinguish code regression from state accumulated over 197 queries —
  * this probe measures the accumulation axis directly. */
object CurationRepeatProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qname = args.lift(1).getOrElse("pipeline_incremental_curation")
    val iters = args.lift(2).map(_.toInt).getOrElse(8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.Bench.session(cpus)
    val fn = graft.SparkEntry.queries(qname)
    def settle(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc(); Thread.sleep(150)
      def storageUsed(): Long = spark.sparkContext.getExecutorMemoryStatus
        .values.map { case (max, rem) => max - rem }.sum
      var settled = 0
      while (storageUsed() > (32L << 20) && settled < 2400) {
        System.gc(); Thread.sleep(300); settled += 300
      }
    }
    (1 to iters).foreach { i =>
      settle()
      val t0 = System.nanoTime()
      fn(spark, d).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) >> 20
      val threads = Thread.activeCount()
      val tmpDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get("/tmp")).count()
      println(f"[repeat] iter $i%2d  ${sec}%7.2fs  threads=$threads%4d" +
        f"  heapMB=$heapMb%6d  /tmp entries=$tmpDirs%6d")
      if (i == 1 || i == iters) {
        import scala.jdk.CollectionConverters._
        val names = Thread.getAllStackTraces.keySet.asScala.toSeq
          .map(_.getName.replaceAll("[0-9]+", "#"))
          .groupBy(identity).view.mapValues(_.size).toSeq
          .sortBy(-_._2).take(12)
        names.foreach { case (n, c) =>
          println(f"[repeat]   thread $n%-50s x$c%4d") }
      }
    }
    spark.stop()
  }
}
