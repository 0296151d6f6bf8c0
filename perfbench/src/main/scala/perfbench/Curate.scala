package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions => T}
import graft.ops.{DupClusters, MinHashDedup, NgramJaccardDedup, RepetitionStats}
import graft.queries.CurationQueries

/** Inputs and checks of [[Curate]]. */
object Curate {
  val nearShare = 0.15

  /** The catalog's documents in a seeded order, with [[nearShare]] of
    * them replaced by near duplicates (one word changed) of originals.
    * A near duplicate is never made from another, so duplicate clusters
    * stay stars and a pass's work does not hinge on the seed. */
  def corpus(ctx: Ctx): Seq[Row] = {
    val rng = ctx.rng
    val base = rng.shuffle(graft.Tables.documents(ctx.spark, ctx.catalog)
      .select("text", "lang", "source").collect().toSeq)
    val vocab = base.flatMap(_.getString(0).split(" ")).distinct.sorted
    val near = base.indices.filter(_ => rng.nextDouble() < nearShare).toSet
    val originals = base.indices.filterNot(near).toIndexedSeq
    base.indices.map { i =>
      val r = if (near(i)) base(originals(rng.nextInt(originals.size))) else base(i)
      val text =
        if (!near(i)) r.getString(0)
        else {
          val ws = r.getString(0).split(" ")
          ws(rng.nextInt(ws.length)) = vocab(rng.nextInt(vocab.length))
          ws.mkString(" ")
        }
      Row(i.toLong, text, r.getString(1), r.getString(2), text.length)
    }
  }

  val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", IntegerType)))

  /** Order-insensitive digest of a result: row count and summed row
    * hashes, each cut to 40 bits so the sum cannot overflow. */
  def digest(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(1L << 40))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

}

/** The curation side of the `corpus` workload: passes of the public
  * curation queries (`pipelineCuration`, then `dedupMinhash`) over a
  * seeded corpus built from the catalog's documents. Bound by shuffle and
  * task time: no commit protocol, no request floor. */
final class Curate(ctx: Ctx) {
  import Curate._

  private val spark = ctx.spark
  private val rows = corpus(ctx)
  Main.log("corpus generated")
  private var dir = ""

  /** Set-up `r`: land the corpus as the documents table and scan it;
    * returns its seconds. Passes run over the last one. */
  def setup(r: Int): Double = {
    val t0 = System.nanoTime()
    dir = ctx.work.resolve(s"curate-$r").toString
    spark.createDataFrame(rows.asJava, schema).write.parquet(s"$dir/documents.parquet")
    graft.Tables.documents(spark, dir).count()
    (System.nanoTime() - t0) / 1e9
  }

  private def pass(kind: String): ((Long, Long), (Long, Long), Double, Double) = {
    // a pass over a corpus starts cold: results cached by an earlier
    // pass (the queries persist some) would otherwise be reused
    spark.catalog.clearCache()
    val op1 = ctx.nextOp()
    val (a, ams) = ctx.meter.op(kind)(ctx.tracer.operation(op1, kind) {
      val df = ctx.tracer.span("pipelineCuration", "queries")(CurationQueries.pipelineCuration(spark, dir))
      ctx.tracer.span("digest", "spark")(digest(df))
    })
    val op2 = ctx.nextOp()
    val (b, bms) = ctx.meter.op(kind + "-minhash")(ctx.tracer.operation(op2, kind + "-minhash") {
      val df = ctx.tracer.span("dedupMinhash", "queries")(CurationQueries.dedupMinhash(spark, dir))
      ctx.tracer.span("digest", "spark")(digest(df))
    })
    Main.log(f"$kind: pipelineCuration $ams%.0f ms, dedupMinhash $bms%.0f ms")
    (a, b, ams, bms)
  }

  /** Unmeasured: one pass compiles every plan shape and JITs the task
    * code on the full corpus. */
  def warmup(): Unit = pass("warmup")

  private val pipeMs, minhashMs = mutable.ArrayBuffer.empty[Double]
  private val digests = mutable.ArrayBuffer.empty[((Long, Long), (Long, Long))]

  def passes: Int = pipeMs.size

  /** One measured pass. */
  def step(): Unit = {
    val (a, b, ams, bms) = pass("pass")
    pipeMs += ams
    minhashMs += bms
    digests += ((a, b))
  }

  /** What the measured passes showed; `setupS` is left to the caller. */
  def outcome(): Outcome = {
    // every pass must reproduce the first measured one exactly
    if (ctx.plantFault) digests(1) = ((digests(1)._1._1 + 1, digests(1)._1._2), digests(1)._2)
    val failed = digests.count(_ != digests.head).toLong
    val layer = mutable.Map[String, Double](
      "primary_mean_ms" -> pipeMs.sum / pipeMs.size,
      "secondary_mean_ms" -> minhashMs.sum / minhashMs.size,
      "pass.n" -> pipeMs.size.toDouble,
      "corpus.docs" -> rows.size.toDouble)
    if (ctx.tracer.enabled) layer ++= stageAtATime()
    val labels = Seq("primary_p50_ms" -> "pipeline_curation pass p50", "secondary_p50_ms" -> "dedup_minhash pass p50",
      "items_per_s" -> "curate_docs_per_s")
    Outcome(pipeMs.size.toLong, failed, Nil,
      Map("primary_p50_ms" -> Main.median(pipeMs.toSeq),
        "secondary_p50_ms" -> Main.median(minhashMs.toSeq),
        "items_per_s" -> rows.size * pipeMs.size / ((pipeMs.sum + minhashMs.sum) / 1000.0)),
      layer.toMap, labels, "pass", "pass-minhash")
  }

  /** The curation pipeline's stages run one at a time through the public
    * ops, each materialized before the next, so each time is its own. */
  private def stageAtATime(): Map[String, Double] = {
    spark.catalog.clearCache()
    val out = mutable.Map.empty[String, Double]
    val docs = graft.Tables.documents(spark, dir)
    def stage[T](name: String)(body: => (DataFrame, T)): (T, Long) = {
      val t0 = System.nanoTime()
      val (df, r) = body
      val n = ctx.tracer.span(s"$name.count", "spark")(df.count())
      out(s"curate.${name}_ms") = (System.nanoTime() - t0) / 1e6
      (r, n)
    }
    val (survivors, _) = stage("signals") {
      val ws = T.words(col("text"))
      val qual = docs.select(col("doc_id"),
        (size(ws).cast("long") >= 20 && T.bp(size(array_distinct(ws)), size(ws)) >= 1500).as("keep_quality"))
      val rep = ctx.tracer.span("RepetitionStats", "ops")(RepetitionStats().transform(docs))
        .select(col("doc_id"), col("keep").as("keep_repetition"))
      val flags = qual.join(rep, "doc_id").persist()
      val s = docs.join(flags.filter(col("keep_quality") && col("keep_repetition")).select("doc_id"), "doc_id")
      (flags, s)
    }
    val (pairs, nPairs) = stage("jaccard") {
      val p = ctx.tracer.span("NgramJaccardDedup", "ops")(NgramJaccardDedup(thresholdBp = 8000).transform(survivors)).persist()
      (p, p)
    }
    out("curate.dup_pairs") = nPairs.toDouble
    stage("clusters") {
      (ctx.tracer.span("DupClusters", "ops")(DupClusters(allDocs = Some(survivors)).transform(pairs)), ())
    }
    stage("minhash") {
      (ctx.tracer.span("MinHashDedup", "ops")(MinHashDedup(thresholdBp = 8000).transform(docs)), ())
    }
    stage("scan") { (docs.select(xxhash64(docs.columns.toSeq.map(col): _*).as("h")), ()) }
    val kept = CurationQueries.pipelineCuration(spark, dir).agg(sum(col("kept").cast("long")), count(lit(1))).head()
    out("curate.kept_ratio") = kept.getLong(0).toDouble / kept.getLong(1)
    spark.catalog.clearCache()
    out.toMap
  }
}
