package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one benchmark operation, summed over its jobs. */
final class OpCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val planMs = new AtomicLong
}

/** Measures Spark from outside the product: one SparkListener and one
  * QueryExecutionListener, keyed by the job group the benchmark sets
  * around each operation (`Meter.op`). Listener events arrive on Spark's
  * bus thread after the fact, so counters are read only after `drain`. */
final class Meter(spark: SparkSession) {
  private val byGroup = new ConcurrentHashMap[String, OpCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val events = new AtomicLong
  // planning phases carry wall-clock stamps, not job groups: attribute
  // each to the operation whose window contains it
  private val windows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new OpCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      counters(g).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val c = counters(stageGroup.getOrDefault(e.stageId, ""))
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.taskMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      qe.tracker.phases.foreach { case (_, p) => phases.add((p.startTimeMs, p.endTimeMs)) }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private val seq = new AtomicLong

  /** Run `body` as one operation of `kind`; returns its result and wall ms. */
  def op[T](kind: String)(body: => T): (T, Double) = {
    val g = s"$kind#${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(g, kind, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - n0) / 1e6)
    } finally {
      windows.add((g, t0, System.currentTimeMillis()))
      sc.clearJobGroup()
    }
  }

  /** Wait until the listener bus has gone quiet (bounded). */
  def drain(): Unit = {
    var last = -1L
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get()
      Thread.sleep(300)
    }
    phases.asScala.foreach { case (s, e) =>
      windows.asScala.find { case (_, a, b) => s >= a && s <= b }
        .foreach { case (g, _, _) => counters(g).planMs.addAndGet(e - s) }
    }
    phases.clear()
  }

  /** Mean counters over every operation of `kind` (after `drain`). */
  def meanOf(kind: String): Map[String, Double] = {
    val cs = byGroup.asScala.collect { case (g, c) if g.startsWith(kind + "#") => c }.toSeq
    def mean(f: OpCounters => AtomicLong) =
      if (cs.isEmpty) 0.0 else cs.map(c => f(c).get.toDouble).sum / cs.size
    Map("jobs" -> mean(_.jobs), "tasks" -> mean(_.tasks),
      "task_ms" -> mean(_.taskMs), "gc_ms" -> mean(_.gcMs),
      "shuffle_read_bytes" -> mean(_.shuffleReadBytes),
      "shuffle_write_bytes" -> mean(_.shuffleWriteBytes),
      "spill_bytes" -> mean(_.spillBytes), "plan_ms" -> mean(_.planMs))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** Whole-JVM figures read at the end of a run. */
object Jvm {
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap in use right after the most recent collection, summed over pools. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Block-manager storage (cached frames and broadcasts) held now. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
