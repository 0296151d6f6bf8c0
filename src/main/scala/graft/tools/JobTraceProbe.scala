package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentHashMap

/** Per-job trace for one SparkEntry query
  * (`runMain graft.tools.JobTraceProbe <dataDir> <query>`): runs the
  * query cold then traced, printing ONE LINE PER SPARK JOB of the warm
  * execution — job id, wall ms, task count, summed task ms, and the
  * call site that submitted it. JobShapeProbe says HOW MANY jobs a row
  * pays; this says WHICH code paths scheduled them, so a
  * driver-bound row's job budget can be attributed commit step by
  * commit step before folding any of them (guide §1: measure first). */
object JobTraceProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qnames = args.lift(1).map(_.split(",").toSeq).getOrElse(
      sys.error("usage: JobTraceProbe <dataDir> <q1,q2,...>"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)

    case class J(start: Long, site: String, var end: Long = -1L,
      var tasks: Int = 0, var taskMs: Long = 0L)
    val live = new ConcurrentHashMap[Int, J]()
    val done = new java.util.concurrent.CopyOnWriteArrayList[(Int, J)]()
    @volatile var tracing = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (tracing) {
          val site = Option(j.properties.getProperty("callSite.short")).getOrElse("?")
          val desc = Option(j.properties.getProperty("spark.job.description")).getOrElse("")
          val eid = Option(j.properties.getProperty("spark.sql.execution.id")).getOrElse("-")
          // stage details carry the submission stack — the only way to
          // attribute engine-thread jobs that have no SQL execution
          val stack = j.stageInfos.headOption.map(_.details).getOrElse("")
            .linesIterator.filterNot(l => l.contains("org.apache.spark."))
            .take(2).mkString(" <- ")
          live.put(j.jobId, J(j.time, s"eid=$eid ${desc.take(60)} | $site | $stack"))
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val rec = live.remove(j.jobId)
        if (rec != null) { rec.end = j.time; done.add(j.jobId -> rec) }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        // attribute tasks to whichever live job owns the stage — with one
        // query at a time a single live job is the common case
        val it = live.values().iterator()
        if (it.hasNext) {
          val rec = it.next()
          rec.tasks += 1
          if (t.taskMetrics != null) rec.taskMs += t.taskMetrics.executorRunTime
        }
      }
    })

    qnames.foreach { name =>
      // per-SQL-execution attribution: plan heads name what each eid ran
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = if (tracing) {
          val head = qe.executedPlan.toString.linesIterator
            .filterNot(_.trim.isEmpty).take(6).mkString(" ## ")
          println(f"[sqltrace] $funcName ${durationNs / 1e6}%.0f ms :: ${head.take(360)}")
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      fn(spark, d).write.format("noop").mode("overwrite").save() // cold
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc(); Thread.sleep(300)
      done.clear(); live.clear()
      tracing = true
      val t0 = System.nanoTime()
      fn(spark, d).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      tracing = false
      Thread.sleep(500)
      println(f"[jobtrace] $name warm ${wall}%.2f s, ${done.size} jobs")
      import scala.jdk.CollectionConverters._
      var prevEnd = -1L
      done.asScala.toSeq.sortBy(_._1).foreach { case (id, j) =>
        val gap = if (prevEnd < 0) 0L else math.max(0L, j.start - prevEnd)
        prevEnd = j.end
        println(f"[jobtrace] job $id%4d wall ${j.end - j.start}%5d ms  gap $gap%5d ms  tasks ${j.tasks}%4d  task_ms ${j.taskMs}%6d  ${j.site}")
      }
    }
    spark.stop()
  }
}
