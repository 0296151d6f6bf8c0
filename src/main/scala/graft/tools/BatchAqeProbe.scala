package graft.tools

import org.apache.spark.sql.functions._

/** One-question probe: is AQE active for queries issued INSIDE a
  * foreachBatch body (the session clone the engine hands the sink)?
  * Prints the conf value seen in the body and the executed plan head of
  * a grouped aggregate run there. */
object BatchAqeProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "s").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        println(s"[aqeprobe] in-body adaptive.enabled = " +
          bs.conf.get("spark.sql.adaptive.enabled"))
        println(s"[aqeprobe] in-body session eq outer = " +
          (bs eq spark))
        val agg = batch.groupBy("s").count()
        agg.write.format("noop").mode("overwrite").save()
        println(s"[aqeprobe] executedPlan: " +
          agg.queryExecution.executedPlan.getClass.getSimpleName)
        ()
    }.start()
    src.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    q.stop()
    spark.stop()
  }
}
