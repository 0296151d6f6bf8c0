package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.streaming.StreamingOps

/** Inputs and checks of [[Ingest]]. */
object Ingest {
  val batchDocs = 250
  val exactShare = 0.10
  val nearShare = 0.10
  val redeliverEvery = 4
  val compactAfter = 10
  val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** The digest the sink keys on, computed here independently:
    * md5 of the lower-cased, whitespace-collapsed, trimmed text. */
  def digest(text: String): String = {
    val norm = text.replaceAll("\\s+", " ").trim.toLowerCase(java.util.Locale.ROOT)
    MessageDigest.getInstance("MD5").digest(norm.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  private def nearDup(text: String, rng: scala.util.Random): String = {
    val ws = text.split(" ").map(w => if (rng.nextInt(3) == 0) w.toUpperCase else w)
    "  " + ws.mkString(if (rng.nextBoolean()) "\t" else "   ") + " \n"
  }

  private def tree(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
}

/** The ingest side of the `corpus` workload: one writer feeds seeded
  * micro-batches into `StreamingOps.corpusIngestSink`, calling the sink
  * function the way `foreachBatch` would. Batches are catalog documents
  * with a fixed share of exact and near duplicates (case and whitespace
  * variants, which the normalized digest folds together); every
  * `redeliverEvery`-th batch is delivered twice. After each commit the
  * client reads the snapshot (`loadCorpus`) and the batch's id range
  * (`loadCorpusPruned`). */
final class Ingest(ctx: Ctx) {
  import Ingest._

  private val spark = ctx.spark
  private val rng = ctx.rng
  private val catalogTexts = graft.Tables.documents(spark, ctx.catalog).select("text")
    .collect().map(_.getString(0))
  private var nextId = 0L
  private val offered = mutable.ArrayBuffer.empty[String]

  private def batch(): (Seq[(Long, String)], DataFrame) = {
    val docs = (1 to batchDocs).map { _ =>
      val r = rng.nextDouble()
      val text =
        if (offered.nonEmpty && r < exactShare) offered(rng.nextInt(offered.size))
        else if (offered.nonEmpty && r < exactShare + nearShare) nearDup(offered(rng.nextInt(offered.size)), rng)
        else catalogTexts(rng.nextInt(catalogTexts.length))
      nextId += 1
      (nextId, text)
    }
    (docs, spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, schema))
  }

  private var state: Path = null
  private var sink: (DataFrame, Long) => Unit = null

  private def commit(kind: String, df: DataFrame, batchId: Long): Double = {
    val op = ctx.nextOp()
    ctx.meter.op(kind)(ctx.tracer.operation(op, kind)(
      ctx.tracer.span("corpusIngestSink", "streaming")(sink(df, batchId))))._2
  }

  /** Snapshot read after a commit: the live digests, and the batch's id range. */
  private def read(lo: Long, hi: Long): (Array[Row], Long, Int, Double) = {
    val op = ctx.nextOp()
    val ((all, rows, pruned), ms) = ctx.meter.op("read")(ctx.tracer.operation(op, "read") {
      val all = ctx.tracer.span("loadCorpus", "streaming")(StreamingOps.loadCorpus(spark, state.toString)).get
      val rows = ctx.tracer.span("collect", "spark")(all.select("doc_id", "content_hash").collect())
      val range = ctx.tracer.span("loadCorpusPruned", "streaming")(
        StreamingOps.loadCorpusPruned(spark, state.toString, lo, hi)).get
      (all, rows, ctx.tracer.span("count", "spark")(range.count()))
    })
    // live delta count: the distinct delta directories the snapshot scans
    val chain = all.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
    (rows, pruned, chain, ms)
  }

  private var chainLen = 0

  /** Set-up `r`: a fresh state dir, its first commit and first read;
    * returns its seconds. Measurement continues on the last one. */
  def setup(r: Int): Double = {
    val t0 = System.nanoTime()
    state = ctx.work.resolve(s"ingest-state-$r")
    sink = StreamingOps.corpusIngestSink(state.toString,
      appId = s"perfbench-${ctx.seed}", autoCompactDeltas = Some(compactAfter))
    offered.clear()
    val (docs, df) = batch()
    commit("setup", df, 0L)
    offered ++= docs.map(_._2)
    chainLen = read(docs.head._1, docs.last._1)._3
    (System.nanoTime() - t0) / 1e9
  }

  private val commitMs, readMs, retryMs, compactMs = mutable.ArrayBuffer.empty[Double]
  private val labelMs, labelRows, chain, files, bytes = mutable.ArrayBuffer.empty[Double]
  private val readRows = mutable.ArrayBuffer.empty[Double]
  private var failed = 0L
  private var attempted = 0L
  private var docsIn = 0L
  private var batchId = 0L
  private var faultPlanted = false

  def commits: Int = commitMs.size

  /** One measured batch: commit, read and check it, and deliver it again
    * when its turn comes. */
  def step(): Unit = {
    batchId += 1
    val (docs, df) = batch()
    val before = tree(state)
    if (ctx.tracer.enabled) {
      // what the sink's labeling step does, run on its own beforehand
      val t0 = System.nanoTime()
      val index = StreamingOps.loadCorpus(spark, state.toString).get.select("content_hash")
      labelRows += ctx.tracer.span("IncrementalDedup", "ops")(
        graft.ops.IncrementalDedup(index, "content_hash", "doc_id", "text", true).transform(df)).count().toDouble
      labelMs += (System.nanoTime() - t0) / 1e6
    }
    val ms = commit("commit", df, batchId)
    commitMs += ms
    docsIn += docs.size
    attempted += 1
    offered ++= docs.map(_._2)
    val after = tree(state)
    val (rows, pruned, chainAfter, rms) = read(docs.head._1, docs.last._1)
    readMs += rms
    chain += chainAfter.toDouble
    if (chainAfter <= chainLen) compactMs += ms
    else { files += (after._1 - before._1).toDouble; bytes += (after._2 - before._2).toDouble }
    chainLen = chainAfter
    readRows += rows.length.toDouble
    // the live corpus holds every distinct offered digest exactly once,
    // and the pruned read sees exactly this batch's keepers
    var live = rows.map(_.getString(1)).toSeq
    if (ctx.plantFault && !faultPlanted) { live = live.tail; faultPlanted = true }
    val expected = offered.map(digest).toSet
    val keepers = rows.count(r => r.getLong(0) >= docs.head._1 && r.getLong(0) <= docs.last._1)
    if (live.size != live.toSet.size || live.toSet != expected || pruned != keepers) failed += 1

    if (batchId % redeliverEvery == 0) {
      val snapshot = tree(state)
      retryMs += commit("retry", df, batchId)
      attempted += 1
      if (tree(state) != snapshot) failed += 1
    }
  }

  /** What the measured batches showed; `setupS` is left to the caller. */
  def outcome(): Outcome = {
    Main.log(s"commit ms: ${commitMs.map(v => f"$v%.0f").mkString(" ")}; read ms: ${readMs.map(v => f"$v%.0f").mkString(" ")}")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val layer = mutable.Map[String, Double](
      "primary_mean_ms" -> mean(commitMs.toSeq),
      "secondary_mean_ms" -> mean(readMs.toSeq),
      "commit.n" -> commitMs.size.toDouble,
      "commit.p90_ms" -> Main.quantile(commitMs.toSeq, 0.9),
      "streaming.commit_files" -> mean(files.toSeq),
      "streaming.commit_bytes" -> mean(bytes.toSeq),
      "streaming.chain_len" -> mean(chain.toSeq),
      "streaming.compactions" -> compactMs.size.toDouble,
      "streaming.keep_ratio" -> readRows.last / offered.size,
      "streaming.read_p50_ms" -> Main.median(readMs.toSeq),
      "streaming.docs_per_s" -> docsIn / (commitMs.sum / 1000.0),
      "streaming.retry_ms" -> mean(retryMs.toSeq),
      "streaming.compact_ms" -> (if (compactMs.isEmpty) 0.0 else mean(compactMs.toSeq) - Main.median(commitMs.toSeq)),
      "ops.IncrementalDedup.ms" -> mean(labelMs.toSeq),
      "ops.IncrementalDedup.rows" -> mean(labelRows.toSeq))
    val labels = Seq("primary_p50_ms" -> "commit_p50_ms", "secondary_p50_ms" -> "read_p50_ms",
      "items_per_s" -> "ingest_docs_per_s")
    Outcome(attempted, failed, Nil,
      Map("primary_p50_ms" -> Main.median(commitMs.toSeq),
        "secondary_p50_ms" -> Main.median(readMs.toSeq),
        "items_per_s" -> docsIn / (commitMs.sum / 1000.0)),
      layer.toMap, labels, "commit", "read")
  }
}
