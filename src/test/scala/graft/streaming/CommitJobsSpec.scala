package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.tools.JobMeter

/** Spark jobs per sink call, pinned: a streaming commit's wall time at
  * small batch sizes is jobs × the per-job scheduling floor, so any
  * change to the commit path must keep these counts (or lower them on
  * purpose and update the pins). */
class CommitJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs `body` runs. */
  private def jobsOf(body: => Unit): Int =
    JobMeter.inGroup(spark.sparkContext)(body)._2.jobs

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(i => (i, s"document $i about topic ${i % 7} and more words"))
      .toDF("doc_id", "text")

  test("corpusIngestSink: jobs per data commit, skipped retry and compacting commit") {
    val dir = tmpDir("jobs_corpus_")
    val sink = StreamingOps.corpusIngestSink(dir, retainVersions = Some(2),
      autoCompactDeltas = Some(2))
    sink(docs(1, 20), 0L)
    val measured = Map(
      "data commit" -> jobsOf(sink(docs(21, 40), 1L)),
      "redelivered batch" -> jobsOf(sink(docs(21, 40), 1L)),
      "compacting commit" -> jobsOf(sink(docs(41, 60), 2L)))
    assert(graft.core.VersionedDir.latest(spark, dir).contains("v3"),
      "the third commit must trigger the compaction commit v3")
    assert(measured == Map("data commit" -> 7, "redelivered batch" -> 0,
      "compacting commit" -> 11), s"measured $measured")
  }

  test("bm25IndexSink: jobs per commit") {
    val dir = tmpDir("jobs_bm25_")
    val sink = StreamingOps.bm25IndexSink(dir)
    sink(docs(1, 20), 0L)
    val n = jobsOf(sink(docs(21, 40), 1L))
    assert(n == 7, s"measured $n")
  }

  test("annIvfIndexSink: jobs per commit") {
    val dir = tmpDir("jobs_ivf_")
    def items(lo: Long, hi: Long): DataFrame =
      (lo to hi).map(i => (i, Seq((i % 5).toFloat, (i % 3).toFloat)))
        .toDF("item_id", "embedding")
    val op = graft.ops.AnnIvf(items(1, 10), Seq(Seq(0.0, 0.0), Seq(4.0, 2.0)),
      "query_id", "query_vec", nprobe = 1)
    val sink = StreamingOps.annIndexSink(dir, op)
    sink(items(1, 10), 0L)
    val n = jobsOf(sink(items(11, 20), 1L))
    assert(n == 6, s"measured $n")
  }

  test("refitAnnIvfIndex: jobs per refit commit") {
    val dir = tmpDir("jobs_refit_")
    def items(lo: Long, hi: Long): DataFrame =
      (lo to hi).map(i => (i, Seq((i % 5).toFloat, (i % 3).toFloat)))
        .toDF("item_id", "embedding")
    val op = graft.ops.AnnIvf(items(1, 10), Seq(Seq(0.0, 0.0), Seq(4.0, 2.0)),
      "query_id", "query_vec", nprobe = 1)
    val sink = StreamingOps.annIndexSink(dir, op)
    sink(items(1, 10), 0L)
    sink(items(11, 20), 1L)
    // the k-means fit plus the republish commit; the commit reads its
    // just-written delta with the schema in hand (no inference job)
    val n = jobsOf(StreamingOps.refitAnnIvfIndex(spark, dir, nlist = 2, maxIter = 2))
    assert(n == 22, s"measured $n")
  }
}
