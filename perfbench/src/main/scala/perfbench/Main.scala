package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val meter: Meter, val tracer: Tracer,
    val seed: Long, val seconds: Double, val cores: Int, val catalog: String,
    val cache: Path, val work: Path, val plantFault: Boolean) {
  val rng = new scala.util.Random(seed)
  private var ops = 0L

  /** A fresh operation id, shared by every span of one operation. */
  def nextOp(): Long = { ops += 1; ops }

  /** Deadline `fraction` of the measured window after `startNs`. */
  def deadline(startNs: Long, fraction: Double): Long =
    startNs + (seconds * fraction * 1e9).toLong
}

/** What one workload measured. `e2e` holds the end-to-end metrics shared
  * by every workload; `layer` the per-layer figures only the workload
  * itself can see; `labels` names each generic figure for the report. */
final case class Outcome(attempted: Long, failed: Long,
    setupS: Seq[Double], e2e: Map[String, Double], layer: Map[String, Double],
    labels: Seq[(String, String)], primary: String, secondary: String)

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** Benchmark entry point, launched by `perfbench/run.py` on the compiled
  * classpath. The last stdout line is the result JSON and nothing else. */
object Main {
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val workload: Option[Workload] = workloadName match {
      case "serve" => Some(Serve)
      case "corpus" => Some(Corpus)
      case "prepare" => None
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a("cores").toInt
    val root = Paths.get(a("state")).toAbsolutePath
    val plant = a.getOrElse("plant-fault", "0") == "1"
    val catalog = Paths.get(a("data")).toAbsolutePath.toString

    val spark = session(cores, root)
    log("session started")
    val work = Files.createTempDirectory(Files.createDirectories(root.resolve("work")), workloadName)
    try {
      val meter = new Meter(spark)
      val tracer = new Tracer(traced)
      val ctx = new Ctx(spark, meter, tracer, seed, seconds, cores, catalog,
        root.resolve("data"), work, plant)
      // `prepare` is the offline training step, run in a JVM of its own
      // so that no measured run inherits a JVM the fit has warmed
      if (workload.isEmpty) { Serve.prepare(ctx); return }
      val gc0 = Jvm.gcMs
      val out = workload.get.run(ctx)
      log("workload done")
      if (traced) meter.drain()
      val metrics = if (!traced) endToEnd(out) else perLayer(ctx, out, Jvm.gcMs - gc0)
      if (traced) tracer.write(root.resolve("traces").resolve(s"$workloadName-seed$seed.spans.jsonl"))
      meter.close()
      report(workloadName, out, metrics)
      val correct = out.failed == 0
      println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
        s""""metrics":{${metrics.map { case (k, (v, u)) =>
          s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")}}}""")
    } finally {
      spark.stop()
      Cache.clear(work)
    }
  }

  /** The product's bench session settings, on `local[cores]`, with every
    * scratch path kept inside the benchmark's state directory. */
  def session(cores: Int, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def endToEnd(o: Outcome): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (median(o.setupS), "s"),
    "primary_p50_ms" -> (o.e2e("primary_p50_ms"), "ms"),
    "secondary_p50_ms" -> (o.e2e("secondary_p50_ms"), "ms"),
    "items_per_s" -> (o.e2e("items_per_s"), "1/s"))

  /** Per-layer figures the run itself can see. The `self.*` figures
    * come from the span file, added by `perfbench/run.py`. */
  private def perLayer(ctx: Ctx, o: Outcome, gcMs: Double): Seq[(String, (Double, String))] = {
    val p = ctx.meter.meanOf(o.primary)
    val s = ctx.meter.meanOf(o.secondary)
    def spark(prefix: String, m: Map[String, Double], wallMs: Double) = Seq(
      s"$prefix.jobs" -> (m("jobs"), "count"),
      s"$prefix.tasks" -> (m("tasks"), "count"),
      s"$prefix.task_ms" -> (m("task_ms"), "ms"),
      s"$prefix.driver_ms" -> (wallMs - m("task_ms") / ctx.cores, "ms"),
      s"$prefix.plan_ms" -> (m("plan_ms"), "ms"),
      s"$prefix.gc_ms" -> (m("gc_ms"), "ms"),
      s"$prefix.shuffle_read_bytes" -> (m("shuffle_read_bytes"), "bytes"),
      s"$prefix.shuffle_write_bytes" -> (m("shuffle_write_bytes"), "bytes"),
      s"$prefix.spill_bytes" -> (m("spill_bytes"), "bytes"))
    spark("spark", p, o.layer("primary_mean_ms")) ++
      spark("spark.secondary", s, o.layer("secondary_mean_ms")) ++ Seq(
      "trace.primary_p50_ms" -> (o.e2e("primary_p50_ms"), "ms"),
      "jvm.gc_ms" -> (gcMs, "ms"),
      "jvm.heap_after_gc_mb" -> (Jvm.heapAfterGcMb, "MB"),
      "jvm.storage_mb" -> (Jvm.storageMb(ctx.spark), "MB"),
      "streaming.read_jobs" -> (ctx.meter.meanOf("read")("jobs"), "count")) ++
      Layer.names.map(k => k -> (o.layer.getOrElse(k, 0.0), Layer.unit(k)))
  }

  /** Human-readable result on stderr: every figure under its own name. */
  private def report(w: String, o: Outcome, metrics: Seq[(String, (Double, String))]): Unit = {
    val names = o.labels.toMap
    System.err.println(s"[perfbench] workload=$w attempted=${o.attempted} failed=${o.failed} " +
      s"error_rate=${if (o.attempted == 0) 0.0 else o.failed.toDouble / o.attempted}")
    metrics.foreach { case (k, (v, u)) =>
      val alias = names.get(k).map(n => s"  ($n)").getOrElse("")
      System.err.println(f"[perfbench]   $k%-32s $v%14.4f $u%-6s$alias")
    }
    o.layer.toSeq.sortBy(_._1).filterNot(kv => metrics.exists(_._1 == kv._1)).foreach { case (k, v) =>
      System.err.println(f"[perfbench]   ($k%s = $v%.4f)")
    }
  }
}

/** Workload-specific per-layer figures. Each workload fills its own and
  * reads 0 for the other's. */
object Layer {
  val names: Seq[String] = Seq("core.load_ms") ++
    Serve.opNames.flatMap(op => Seq(s"ops.$op.ms", s"ops.$op.rows")) ++ Seq(
    "ops.ann.candidates_per_user", "ops.ann.useful_ratio",
    "ops.IncrementalDedup.ms", "ops.IncrementalDedup.rows",
    "streaming.commit_files", "streaming.commit_bytes", "streaming.chain_len",
    "streaming.compactions", "streaming.compact_ms", "streaming.retry_ms",
    "streaming.read_p50_ms", "streaming.docs_per_s", "streaming.keep_ratio",
    "curate.signals_ms", "curate.jaccard_ms", "curate.clusters_ms", "curate.minhash_ms",
    "curate.scan_ms", "curate.dup_pairs", "curate.kept_ratio")
  def unit(k: String): String =
    if (k.endsWith("_ms") || k.endsWith(".ms")) "ms" else if (k.endsWith("_per_s")) "1/s"
    else if (k.endsWith("_bytes")) "bytes" else if (k.endsWith("_ratio")) "ratio" else "count"
}

object Cache {
  def clear(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
