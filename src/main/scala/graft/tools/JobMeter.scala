package org.apache.spark {
  /** The one SparkContext internal the meter needs: the listener bus is
    * `private[spark]`, and waiting on it is the only exact drain. */
  object GraftListenerBus {
    /** Block until every posted listener event has been delivered. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.tools {

  import java.util.concurrent.ConcurrentHashMap

  import scala.jdk.CollectionConverters._

  import org.apache.spark.{GraftListenerBus, SparkContext}
  import org.apache.spark.scheduler._

  /** Jobs, stages and tasks per job group, plus executor task-ms and the
    * submitting call site of every job — the one listener behind the
    * job-count pins and [[JobProbe]]. Tasks and stages are attributed by
    * stage id to the first job that listed the stage (a later job that
    * lists it skips it or waits on it), so concurrent jobs of other
    * groups never leak into a group's counts. Counts are exact once
    * `GraftListenerBus.drain` returns. Not installed in product sessions. */
  final class JobMeter extends SparkListener {
    import JobMeter._

    private val byJob = new ConcurrentHashMap[Int, Job]()
    private val byStage = new ConcurrentHashMap[Int, Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the result stage (highest id) is named after the action's call
      // site, and its details carry the submission stack — the only way
      // to attribute engine-thread jobs that have no SQL execution
      val result = e.stageInfos.sortBy(-_.stageId).headOption
      val stack = result.map(_.details).getOrElse("")
        .linesIterator.filterNot(_.contains("org.apache.spark.")).take(2).mkString(" <- ")
      val site = s"eid=${prop("spark.sql.execution.id").getOrElse("-")} " +
        s"${prop("spark.job.description").getOrElse("").take(60)} | " +
        s"${result.map(_.name).getOrElse("?")} | $stack"
      val job = new Job(e.jobId, prop("spark.jobGroup.id"), e.time, site)
      byJob.put(e.jobId, job)
      e.stageIds.foreach(byStage.putIfAbsent(_, job))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.get(e.jobId)).foreach(_.end = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { j =>
        j.tasks += 1
        if (e.taskMetrics != null) j.taskMs += e.taskMetrics.executorRunTime
      }

    /** Every job seen since the last [[clear]], by job id. */
    def jobs: Seq[Job] = byJob.values.asScala.toSeq.sortBy(_.id)

    /** Sums over the jobs of `group`. */
    def counts(group: String): Counts = sum(jobs.filter(_.group.contains(group)))

    /** Sums over every job, whatever its group. */
    def total: Counts = sum(jobs)

    def clear(): Unit = { byJob.clear(); byStage.clear() }
  }

  object JobMeter {
    /** One job; its counters are written on the listener thread only. */
    final class Job(val id: Int, val group: Option[String], val start: Long,
        val site: String) {
      @volatile var end: Long = -1L
      @volatile var stages: Int = 0
      @volatile var tasks: Int = 0
      @volatile var taskMs: Long = 0L
    }

    final case class Counts(jobs: Int, stages: Int, tasks: Int, taskMs: Long)

    private def sum(js: Seq[Job]): Counts =
      Counts(js.size, js.map(_.stages).sum, js.map(_.tasks).sum, js.map(_.taskMs).sum)

    def install(sc: SparkContext): JobMeter = {
      val m = new JobMeter
      sc.addSparkListener(m)
      m
    }

    /** Run `body` under a fresh job group and return its result with the
      * jobs, stages and tasks that group ran. */
    def inGroup[A](sc: SparkContext)(body: => A): (A, Counts) = {
      val group = s"job-meter-${java.util.UUID.randomUUID()}"
      val meter = install(sc)
      try {
        sc.setJobGroup(group, "job meter")
        val out = try body finally sc.clearJobGroup()
        GraftListenerBus.drain(sc)
        (out, meter.counts(group))
      } finally sc.removeSparkListener(meter)
    }
  }
}
