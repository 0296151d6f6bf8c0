package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FilterFileSystem, Path, RawLocalFileSystem}

import graft.SparkSpec
import graft.core.VersionedDir

/** A local filesystem under the `failrename://` scheme whose `rename`
  * of a sink's `_tmp-` delta dir returns false while `failTmpRenames`
  * is set — the silent-failure mode of `FileSystem.rename`. Every other
  * operation (parquet writes, task-commit renames, the pointer move)
  * passes through to the local disk. */
class FailingRenameFs extends FilterFileSystem(new FailingRenameFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    if (FailingRenameFs.failTmpRenames && src.getName.startsWith("_tmp-")) false
    else super.rename(src, dst)
}

object FailingRenameFs {
  @volatile var failTmpRenames = false
  val scheme = "failrename"

  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$scheme:///")
    override def getScheme: String = scheme
  }

  /** The FileContext binding `VersionedDir.writePointer` resolves. */
  class Afs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FailingRenameFs, conf, scheme, false)

  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$scheme.impl", classOf[FailingRenameFs].getName)
    conf.set(s"fs.AbstractFileSystem.$scheme.impl", classOf[Afs].getName)
  }
}

/** A delta rename that returns false must fail the commit before any
  * manifest, txn marker or pointer names the missing delta, and the
  * batch's retry must then commit it exactly once. */
class RenameFailureSpec extends SparkSpec {
  import spark.implicits._

  private def dir(prefix: String): String = {
    FailingRenameFs.install(spark.sparkContext.hadoopConfiguration)
    val local = java.nio.file.Files.createTempDirectory(prefix).toString
    s"${FailingRenameFs.scheme}://$local"
  }

  /** Every delta the live manifest lists exists on disk. */
  private def assertLiveManifestComplete(d: String): Unit = {
    val v = VersionedDir.latest(spark, d).get
    val (fs, _) = VersionedDir.fsOf(spark, d)
    val missing = graft.core.DeltaLog.readManifest(spark, d, v).map(_.delta)
      .filterNot(delta => fs.exists(new Path(s"$d/deltas/$delta")))
    assert(missing.isEmpty, s"live manifest $v names missing deltas: $missing")
  }

  private def checkSink(d: String, sink: (org.apache.spark.sql.DataFrame, Long) => Unit,
      batch0: org.apache.spark.sql.DataFrame, batch1: org.apache.spark.sql.DataFrame)
      (liveRows: () => Long): Unit = {
    sink(batch0, 0L)
    val before = VersionedDir.latest(spark, d)
    val rows0 = liveRows()
    FailingRenameFs.failTmpRenames = true
    try {
      val e = intercept[java.io.IOException](sink(batch1, 1L))
      assert(e.getMessage.contains("returned false"), e.getMessage)
    } finally FailingRenameFs.failTmpRenames = false
    assert(VersionedDir.latest(spark, d) == before,
      "a failed delta rename must not move the pointer")
    assertLiveManifestComplete(d)
    assert(liveRows() == rows0, "readers must still see only the first commit")
    // the retry lands the batch once; a second retry is a no-op
    sink(batch1, 1L)
    sink(batch1, 1L)
    assertLiveManifestComplete(d)
    assert(liveRows() > rows0, "the retried batch must reach readers")
  }

  test("corpusIngestSink: a false delta rename fails the commit") {
    val d = dir("rename_corpus_")
    checkSink(d, StreamingOps.corpusIngestSink(d),
      Seq((1L, "first doc body")).toDF("doc_id", "text"),
      Seq((2L, "second doc body")).toDF("doc_id", "text")) { () =>
      StreamingOps.loadCorpus(spark, d).get.count()
    }
    assert(StreamingOps.loadCorpus(spark, d).get.count() == 2L)
  }

  test("bm25IndexSink: a false delta rename fails the commit") {
    val d = dir("rename_bm25_")
    checkSink(d, StreamingOps.bm25IndexSink(d),
      Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      Seq((2L, "gamma delta")).toDF("doc_id", "text")) { () =>
      StreamingOps.loadBm25Index(spark, d).get.docCount
    }
    assert(StreamingOps.loadBm25Index(spark, d).get.docCount == 2L)
  }

  test("annIvfIndexSink: a false delta rename fails the commit") {
    val d = dir("rename_ivf_")
    val items0 = Seq((1L, Seq(0f, 1f)), (2L, Seq(1f, 0f))).toDF("item_id", "embedding")
    val items1 = Seq((3L, Seq(0.5f, 0.5f))).toDF("item_id", "embedding")
    val op = graft.ops.AnnIvf(items0, Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)),
      "query_id", "query_vec", nprobe = 1)
    checkSink(d, StreamingOps.annIndexSink(d, op), items0, items1) { () =>
      StreamingOps.loadIndexLog(spark, d).get.count()
    }
    assert(StreamingOps.loadIndexLog(spark, d).get.count() == 3L)
  }
}
