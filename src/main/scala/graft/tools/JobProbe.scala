package graft.tools

import org.apache.spark.GraftListenerBus

/** Job-shape probe for board adjudication
  * (`runMain graft.tools.JobProbe <dataDir> <q1,q2,...> [--trace] [--iters N]`):
  * runs each named SparkEntry query once cold, then N times (default 1)
  * with Bench's settle before every run, and prints one line per timed
  * run from a [[JobMeter]]:
  *
  *   name  warm_s  jobs  stages  tasks  task_s  driver_s
  *
  * driver_s = wall − task time / cores is an upper bound on per-job fixed
  * cost (scheduling, planning, commit protocol, settle residue); a row
  * with driver_s ≈ wall measures the per-job floor, whose empty-job
  * round-trip is printed first. `--trace` adds one line per job (wall,
  * gap since the previous job, tasks, task ms, submitting call site) and
  * one per SQL execution (plan head), so a driver-bound row's job budget
  * can be attributed step by step. `--iters N` repeats the timed run in
  * one JVM and adds heap MB after GC and the live thread count: the
  * accumulation axis a board's same-JVM re-measure cannot separate from
  * a code regression. Every job of the window counts, whatever its group
  * (a streaming query runs its batches under its own job group). */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val trace = args.contains("--trace")
    val at = args.indexOf("--iters")
    val iters = if (at < 0) None else Some(args(at + 1).toInt)
    val flagAt = if (at < 0) Set.empty[Int] else Set(at, at + 1)
    val pos = args.indices.filterNot(k => flagAt(k) || args(k) == "--trace").map(args(_))
    val d = pos.headOption.getOrElse(
      sys.error("usage: JobProbe <dataDir> [q1,q2,...] [--trace] [--iters N]"))
    val names: Seq[String] = pos.lift(1).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    val sc = spark.sparkContext
    val meter = JobMeter.install(sc)
    @volatile var tracing = false
    if (trace) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          if (tracing) {
            val head = qe.executedPlan.toString.linesIterator
              .filterNot(_.trim.isEmpty).take(6).mkString(" ## ")
            println(f"[sqltrace] $funcName ${durationNs / 1e6}%.0f ms :: ${head.take(360)}")
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })

    // the floor every scheduled job pays regardless of its work:
    // 50 one-partition no-op jobs after 5 warm-up ones
    graft.Bench.settle(spark)
    val rdd = sc.parallelize(Seq(1), 1)
    (1 to 5).foreach(_ => rdd.count())
    val e0 = System.nanoTime()
    (1 to 50).foreach(_ => rdd.count())
    println(f"[jobprobe] empty-job round-trip: ${(System.nanoTime() - e0) / 50e6}%.2f ms")

    println(f"[jobprobe] ${"name"}%-28s ${"warm_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%7s ${"driver_s"}%8s" +
      (if (iters.isDefined) f" ${"heap_mb"}%7s ${"threads"}%7s" else ""))
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, d).write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => println(s"[jobprobe] $n: unknown query")
        case Some(fn) =>
          try {
            graft.Bench.settle(spark)
            run(fn) // cold
            (1 to iters.getOrElse(1)).foreach { _ =>
              graft.Bench.settle(spark)
              GraftListenerBus.drain(sc)
              meter.clear()
              tracing = trace
              val t0 = System.nanoTime()
              run(fn)
              val wall = (System.nanoTime() - t0) / 1e9
              tracing = false
              GraftListenerBus.drain(sc)
              val c = meter.total
              val taskSec = c.taskMs / 1e3
              val gauges = iters.fold("") { _ =>
                System.gc()
                val rt = Runtime.getRuntime
                f" ${(rt.totalMemory() - rt.freeMemory()) >> 20}%7d ${Thread.activeCount()}%7d"
              }
              println(f"[jobprobe] $n%-28s $wall%7.2f ${c.jobs}%5d ${c.stages}%6d ${c.tasks}%6d $taskSec%7.1f ${wall - taskSec / cpus.toDouble}%8.2f" + gauges)
              if (trace) {
                var prevEnd = -1L
                meter.jobs.foreach { j =>
                  val gap = if (prevEnd < 0) 0L else math.max(0L, j.start - prevEnd)
                  prevEnd = j.end
                  println(f"[jobtrace] job ${j.id}%4d wall ${j.end - j.start}%5d ms  gap $gap%5d ms  tasks ${j.tasks}%4d  task_ms ${j.taskMs}%6d  ${j.site}")
                }
              }
            }
          } catch {
            case e: Throwable => println(s"[jobprobe] $n FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
