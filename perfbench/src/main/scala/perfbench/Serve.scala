package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Ensemble, EnsemblePersistence}

/** `serve`: the paper's lifecycle. The flagship ensemble is fitted and
  * saved once per checkout (the offline training step); each run loads
  * it and replays seeded request batches through
  * `Ensemble.transform(...).collect()` from one closed-loop client.
  * Small phase: batches of 1, 8 and 64 distinct users, Zipf-skewed.
  * Bulk phase: batches of 8,192 distinct users, uniform. */
object Serve extends Workload {
  val smallSizes = Seq(1, 8, 64)
  val bulkSize = 8192
  val minSmall = 12
  val minBulk = 3
  val warmupSmall = 2
  val zipfS = 1.1
  val checkedPerBulk = 64
  val requestCols = Seq("user_id", "c_mktsegment", "c_acctbal")
  val responseCols = Seq("user_id", "ordered_ids", "ordered_scores")

  private def dir(ctx: Ctx) = ctx.cache.resolve("serve-ensemble")

  /** Fit, save and answer once per checkout: the offline training step. */
  def prepare(ctx: Ctx): Unit = {
    val d = dir(ctx)
    val spark = ctx.spark
    Cache.clear(d)
    val t0 = System.nanoTime()
    val (ens, requests) = graft.Flagship.servingEnsemble(spark, ctx.catalog)
    require(requests.columns.toSeq == requestCols, s"unexpected request schema ${requests.schema}")
    EnsemblePersistence.save(ens, d.resolve("ensemble").toString, spark)
    // the pre-save graph's answer for every user: what a reloaded graph
    // must reproduce (sampling is seeded per user, so it is a function)
    val reference = ens.transform(requests).select(responseCols.map(col): _*)
      .collect().map(toResp).toMap
    // seen sets derived here, independently of the ensemble's own table
    val seen = graft.Tables.orders(spark, ctx.catalog)
      .join(graft.Tables.lineitem(spark, ctx.catalog), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").cast("long").as("user_id"))
      .agg(collect_set(col("l_partkey").cast("long")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // one line per user, read back without Spark on every run
    val lines = requests.collect().map { r =>
      val u = r.getLong(0)
      val ref = reference.get(u).map(x => s"${x.ids.mkString(",")}\t${x.scores.mkString(",")}").getOrElse("-\t-")
      s"$u\t${r.getString(1)}\t${r.getDouble(2)}\t$ref\t${seen.getOrElse(u, Nil).mkString(",")}"
    }
    Files.write(d.resolve("users.tsv"), lines.toSeq.asJava)
    spark.catalog.clearCache()
    Files.createFile(d.resolve("_READY"))
    System.err.println(f"[perfbench] fitted and saved the serving ensemble in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private final case class Resp(ids: Seq[Long], scores: Seq[Double])

  private def toResp(r: Row): (Long, Resp) =
    r.getLong(0) -> Resp(r.getSeq[Any](1).map(_.asInstanceOf[Number].longValue).toSeq,
      r.getSeq[Any](2).map(_.asInstanceOf[Number].doubleValue).toSeq)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val d = dir(ctx)
    def longs(f: String) = if (f.isEmpty) Seq.empty[Long] else f.split(',').map(_.toLong).toSeq
    val table = Files.readAllLines(d.resolve("users.tsv")).asScala.map(_.split("\t", -1)).toSeq
    val reqRows: Map[Long, Row] = table.map(f => f(0).toLong -> Row(f(0).toLong, f(1), f(2).toDouble)).toMap
    val reference: Map[Long, Resp] = table.filter(_(3) != "-").map(f =>
      f(0).toLong -> Resp(longs(f(3)), if (f(4).isEmpty) Nil else f(4).split(',').map(_.toDouble).toSeq)).toMap
    val seen: Map[Long, Set[Long]] = table.map(f => f(0).toLong -> longs(f(5)).toSet).toMap
    val users = reqRows.keys.toArray.sorted
    val rng = ctx.rng
    val hot = rng.shuffle(users.toSeq).toArray // Zipf rank -> user
    val cdf = hot.indices.map(r => 1.0 / math.pow(r + 1, zipfS)).scanLeft(0.0)(_ + _).tail.toArray
    def zipfUser(): Long = {
      val u = rng.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, u)
      hot(if (i >= 0) i else math.min(-i - 1, hot.length - 1))
    }
    def distinct(n: Int, draw: () => Long): Seq[Long] = {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < n) s += draw()
      s.toSeq
    }
    var ens: Ensemble = null
    def frame(us: Seq[Long]): DataFrame =
      spark.createDataFrame(us.map(reqRows).asJava, ens.inputSchema)

    def request(kind: String, us: Seq[Long]): (Seq[(Long, Resp)], Double) = {
      val op = ctx.nextOp()
      val (rows, ms) = ctx.meter.op(kind) {
        ctx.tracer.operation(op, kind) {
          ctx.tracer.span(s"serve.$kind", "bench") {
            val out = ctx.tracer.span("Ensemble.transform", "core")(ens.transform(frame(us)))
              .select(responseCols.map(col): _*)
            if (ctx.tracer.enabled)
              ctx.tracer.span("executedPlan", "spark")(out.queryExecution.executedPlan)
            ctx.tracer.span("collect", "spark")(out.collect())
          }
        }
      }
      (rows.map(toResp).toSeq, ms)
    }

    // set-up: load the saved graph and answer a first request, three times
    val loadMs = mutable.ArrayBuffer.empty[Double]
    val setupS = (1 to Main.setupReps).map { _ =>
      val t0 = System.nanoTime()
      ens = ctx.tracer.span("EnsemblePersistence.load", "core")(
        EnsemblePersistence.load(d.resolve("ensemble").toString, spark))
      loadMs += (System.nanoTime() - t0) / 1e6
      request("setup", distinct(8, () => zipfUser()))
      (System.nanoTime() - t0) / 1e9
    }
    Main.log(s"set-up done: ${setupS.map(v => f"$v%.2f").mkString(" ")} s")
    // warm-up, unmeasured: driver-side planning keeps getting faster for
    // the first dozen requests while the JIT compiles it
    (1 to warmupSmall).foreach(i => request("warmup", distinct(smallSizes(i % smallSizes.size), () => zipfUser())))
    request("warmup", rng.shuffle(users.toSeq).take(bulkSize))

    val checks = mutable.ArrayBuffer.empty[(Seq[Long], Seq[(Long, Resp)], Boolean)]
    val smallMs = mutable.ArrayBuffer.empty[Double]
    val bulkMs = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    val smallEnd = ctx.deadline(start, 0.5)
    var cycle = Seq.empty[Int]
    while (System.nanoTime() < smallEnd || smallMs.size < minSmall) {
      if (cycle.isEmpty) cycle = rng.shuffle(smallSizes)
      val us = distinct(cycle.head, () => zipfUser())
      cycle = cycle.tail
      val (resp, ms) = request("small", us)
      smallMs += ms
      checks += ((us, resp, true))
    }
    val end = ctx.deadline(start, 1.0)
    while (System.nanoTime() < end || bulkMs.size < minBulk) {
      val us = rng.shuffle(users.toSeq).take(bulkSize)
      val (resp, ms) = request("bulk", us)
      bulkMs += ms
      checks += ((us, resp, false))
    }

    Main.log(s"small ms: ${smallMs.map(v => f"$v%.0f").mkString(" ")}; bulk ms: ${bulkMs.map(v => f"$v%.0f").mkString(" ")}")
    // output checks, outside timing
    if (ctx.plantFault) {
      // no part key is negative, so the planted id matches no reference
      val i = checks.indexWhere(_._2.nonEmpty)
      val (us, resp, full) = checks(i)
      val (u, r) = resp.head
      checks(i) = (us, (u, r.copy(ids = -1L +: r.ids.drop(1))) +: resp.tail, full)
    }
    val failed = checks.count { case (us, resp, full) =>
      val got = resp.toMap
      val answered = resp.size == got.size && got.keySet.subsetOf(us.toSet) &&
        us.filter(reference.contains).forall(got.contains)
      val wellFormed = resp.forall { case (u, r) =>
        r.ids.size <= 10 && r.ids.distinct.size == r.ids.size &&
          r.ids.size == r.scores.size && !r.ids.exists(seen.getOrElse(u, Set.empty[Long]))
      }
      val sample = if (full) resp else resp.take(checkedPerBulk)
      val matches = sample.forall { case (u, r) =>
        reference.get(u).exists(e => e.ids == r.ids &&
          e.scores.zip(r.scores).forall { case (a, b) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)) })
      }
      !(answered && wellFormed && matches)
    }

    val layer = mutable.Map[String, Double](
      "primary_mean_ms" -> smallMs.sum / smallMs.size,
      "secondary_mean_ms" -> bulkMs.sum / bulkMs.size,
      "small.n" -> smallMs.size.toDouble,
      "small.p90_ms" -> Main.quantile(smallMs.toSeq, 0.9),
      "bulk.n" -> bulkMs.size.toDouble,
      "core.load_ms" -> Main.median(loadMs.toSeq))
    if (ctx.tracer.enabled) layer ++= opAtATime(ctx, ens, frame(rng.shuffle(users.toSeq).take(bulkSize)))

    val labels = Seq("primary_p50_ms" -> "small_p50_ms", "secondary_p50_ms" -> "bulk batch p50",
      "items_per_s" -> "bulk_users_per_s")
    Outcome(checks.size.toLong, failed.toLong, setupS,
      Map("primary_p50_ms" -> Main.median(smallMs.toSeq),
        "secondary_p50_ms" -> Main.median(bulkMs.toSeq),
        // users per second of the median bulk request: one slow request
        // moves this no more than it moves the median latency
        "items_per_s" -> bulkSize / (Main.median(bulkMs.toSeq) / 1000.0)),
      layer.toMap, labels, "small", "bulk")
  }

  /** The ensemble's ops in graph order, by the name their figures carry. */
  val opNames = Seq("user_vecs", "ann", "seen", "filter", "softmax")

  /** Op-at-a-time traced pass over one bulk batch: each op runs on its
    * predecessor's materialized output, so its time is its own. */
  private def opAtATime(ctx: Ctx, ens: Ensemble, input: DataFrame): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    var prev = input
    val held = mutable.ArrayBuffer.empty[DataFrame]
    require(ens.ops.size == opNames.size, s"unexpected ensemble: ${ens.ops.map(_.name)}")
    ens.ops.zip(opNames).foreach { case (op, name) =>
      val t0 = System.nanoTime()
      val next = ctx.tracer.span(s"${op.name}.transform", "ops")(op.transform(prev)).persist()
      val rows = ctx.tracer.span(s"${op.name}.count", "spark")(next.count())
      out(s"ops.$name.ms") = (System.nanoTime() - t0) / 1e6
      out(s"ops.$name.rows") = rows.toDouble
      held += next
      prev = next
    }
    val ann = held(1).agg(sum(size(col("candidate_ids"))).cast("double"), count(lit(1)).cast("double")).head()
    val returned = held.last.agg(sum(size(col("ordered_ids"))).cast("double")).head().getDouble(0)
    out("ops.ann.candidates_per_user") = ann.getDouble(0) / math.max(1.0, ann.getDouble(1))
    out("ops.ann.useful_ratio") = returned / math.max(1.0, ann.getDouble(0))
    held.foreach(_.unpersist())
    out.toMap
  }
}
