package graft.tools

import org.apache.spark.GraftListenerBus

import graft.SparkSpec

/** The meter behind every job-count pin: group-keyed, task attribution
  * by stage, and exact once drained. */
class JobMeterSpec extends SparkSpec {
  private def sc = spark.sparkContext

  test("jobs of an unrelated group are not counted") {
    val rdd = sc.parallelize(1 to 100, 2)
    val other = new Thread(() => {
      sc.setJobGroup("job-meter-spec-other", "unrelated")
      (1 to 3).foreach(_ => rdd.count())
    })
    val (_, c) = JobMeter.inGroup(sc) {
      other.start()
      (1 to 2).foreach(_ => rdd.count())
      other.join()
    }
    assert(c.jobs == 2 && c.tasks == 4, s"the group ran 2 jobs on 4 tasks: $c")
  }

  test("tasks of a two-stage job are attributed to that job's group") {
    val meter = JobMeter.install(sc)
    try {
      sc.setJobGroup("job-meter-spec-shuffle", "two stages")
      try sc.parallelize(1 to 100, 3).map(i => (i % 5, 1)).reduceByKey(_ + _, 2).collect()
      finally sc.clearJobGroup()
      GraftListenerBus.drain(sc)
      val c = meter.counts("job-meter-spec-shuffle")
      assert((c.jobs, c.stages, c.tasks) == ((1, 2, 5)), s"one job, 3 + 2 tasks: $c")
      val Seq(job) = meter.jobs.filter(_.group.contains("job-meter-spec-shuffle"))
      assert(job.tasks == 5 && job.stages == 2 && job.end >= job.start)
      assert(job.site.contains("JobMeterSpec"), s"the call site names the submitter: ${job.site}")
    } finally sc.removeSparkListener(meter)
  }

  test("a drained count is exact with no sleep") {
    val rdd = sc.parallelize(1 to 10, 3)
    (1 to 20).foreach { rep =>
      val k = rep % 4 + 1
      val (_, c) = JobMeter.inGroup(sc)((1 to k).foreach(_ => rdd.count()))
      assert(c.jobs == k && c.stages == k && c.tasks == 3 * k, s"repetition $rep, $k counts: $c")
    }
  }
}
