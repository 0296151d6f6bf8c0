package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Job-shape decomposition probe for cross-round board adjudication
  * (`runMain graft.tools.JobShapeProbe <dataDir> <q1,q2,...>`): runs each
  * named SparkEntry query twice with Bench's settle discipline (keeping
  * the warm run) under a listener that counts Spark jobs, stages, tasks
  * and the summed EXECUTOR task time, printing one line per query:
  *
  *   name  warm_sec  jobs  stages  tasks  task_sec  driver_sec
  *
  * driver_sec = warm wall-clock − (task time / cores) is an upper bound
  * on per-job fixed cost (scheduling, planning, commit protocol, settle
  * residue). Built for the round-13 FE-family adjudication: two boards
  * regressed 1.6–2.6× on untouched code, the cross-binary A/B read both
  * binaries at the SAME slow numbers on value-identical data, so the
  * remaining axis is the environment's fixed per-job overhead vs its
  * scan throughput — this probe separates exactly those two. */
object JobShapeProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] = args.lift(1)
      .map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskNanos = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
      }
    })

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

    // empty-job round-trip latency first: 50 × one-partition no-op jobs —
    // the floor every scheduled job pays regardless of its work
    settle()
    val rdd = spark.sparkContext.parallelize(Seq(1), 1)
    (1 to 5).foreach(_ => rdd.count()) // listener/JIT warm
    val e0 = System.nanoTime()
    (1 to 50).foreach(_ => rdd.count())
    println(f"[jobshape] empty-job round-trip: ${(System.nanoTime() - e0) / 50e6}%.2f ms")

    println(f"[jobshape] ${"name"}%-28s ${"warm_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%7s ${"driver_s"}%8s")
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => println(s"[jobshape] $n: unknown query")
        case Some(fn) =>
          try {
            settle()
            fn(spark, d).write.format("noop").mode("overwrite").save() // cold
            settle()
            jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0L)
            val t0 = System.nanoTime()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            val wall = (System.nanoTime() - t0) / 1e9
            // listener bus is async (listenerBus is private[spark]): a
            // short fixed drain is enough for counter-only listeners
            Thread.sleep(300)
            val taskSec = taskNanos.get() / 1e9
            val driverSec = wall - taskSec / cpus.toDouble
            println(f"[jobshape] $n%-28s $wall%7.2f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d $taskSec%7.1f $driverSec%8.2f")
          } catch {
            case e: Throwable =>
              println(s"[jobshape] $n FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
