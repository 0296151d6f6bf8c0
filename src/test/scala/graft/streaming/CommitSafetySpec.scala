package graft.streaming

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.VersionedDir

/** Commit-log safety the sinks owe before and around a commit: bad
  * upkeep settings never reach disk, and a leftover staging dir is
  * invisible to readers, reclaimable, and overwritten by the retry. */
class CommitSafetySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def exists(path: String): Boolean = {
    val (fs, p) = VersionedDir.fsOf(spark, path)
    fs.exists(p)
  }

  private type Sink = (DataFrame, Long) => Unit

  test("bad retention or compaction settings fail at sink construction, before any commit") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val items = Seq((1L, Seq(0f, 1f)), (2L, Seq(1f, 0f))).toDF("item_id", "embedding")
    val served = Seq((1L, 10L, 1)).toDF("query_id", "item_id", "rank")
    val centers = Seq(Seq(0.0, 1.0), Seq(1.0, 0.0))
    val ivf = graft.ops.AnnIvf(items, centers, "query_id", "query_vec", nprobe = 1)
    val sq = graft.ops.AnnSq(items, centers, Seq(0.0, 0.0), Seq(1.0, 1.0),
      "query_id", "query_vec", nprobe = 1)
    val pq = graft.ops.AnnIvfPq(items, centers, Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))),
      "query_id", "query_vec", nprobe = 1)
    val lsh = graft.ops.AnnLsh(items, "query_id", "query_vec", numBits = 2,
      nprobe = 1, center = Some(Seq(0.5, 0.5)))
    val eval = graft.ops.EvalRanking(Seq((1L, 10L)).toDF("query_id", "item_id"), k = 1)
    type Mk = (String, Option[Int], Option[Int]) => Sink
    val sinks = Seq[(String, Mk, DataFrame)](
      ("corpusIngestSink", (d, r, a) => StreamingOps.corpusIngestSink(d,
        retainVersions = r, autoCompactDeltas = a), docs),
      ("bm25IndexSink", (d, r, a) => StreamingOps.bm25IndexSink(d,
        retainVersions = r, autoCompactDeltas = a), docs),
      ("evalRankingSink", (d, r, a) => StreamingOps.evalRankingSink(d, eval,
        retainVersions = r, autoCompactDeltas = a), served)) ++
      Seq(ivf, sq, pq, lsh).map(op => (s"annIndexSink(${op.name})",
        ((d, r, a) => StreamingOps.annIndexSink(d, op,
          retainVersions = r, autoCompactDeltas = a)): Mk, items))
    for ((name, mk, batch) <- sinks;
         (retain, auto) <- Seq((Some(-1), None), (None, Some(0)))) {
      val dir = tmpDir("bad_settings_")
      val built = Try(mk(dir, retain, auto))
      // a sink that slipped through construction shows the damage: its
      // first batch would commit before the setting is ever checked
      built.foreach(sink => Try(sink(batch, 0L)))
      assert(built.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
        s"$name(retainVersions=$retain, autoCompactDeltas=$auto) must fail at construction")
      assert(!exists(s"$dir/v0") && !exists(s"$dir/_LATEST"),
        s"$name(retainVersions=$retain, autoCompactDeltas=$auto) committed data")
    }
    val (corpusDir, signalDir) = (tmpDir("bad_curated_"), tmpDir("bad_curated_sig_"))
    val built = Try(StreamingOps.curatedCorpusSink(corpusDir, signalDir,
      graft.ops.QualitySignals(keyCols = Seq("doc_id", "content_hash")),
      retainVersions = Some(-1)))
    built.foreach(sink => Try(sink(docs, 0L)))
    assert(built.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
      "curatedCorpusSink(retainVersions=-1) must fail at construction")
    for (d <- Seq(corpusDir, signalDir))
      assert(!exists(s"$d/v0") && !exists(s"$d/_LATEST"), s"curatedCorpusSink committed into $d")
  }

  test("publishSignalsFor with a bad retention fails before publishing a signal version") {
    val (corpusDir, signalDir) = (tmpDir("bad_publish_"), tmpDir("bad_publish_sig_"))
    StreamingOps.corpusIngestSink(corpusDir)(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"), 0L)
    val published = Try(StreamingOps.publishSignalsFor(spark, corpusDir, signalDir,
      graft.ops.QualitySignals(keyCols = Seq("doc_id", "content_hash")),
      retainVersions = Some(-1)))
    assert(published.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
      s"publishSignalsFor(retainVersions=-1) must fail: $published")
    assert(!exists(s"$signalDir/v0") && !exists(s"$signalDir/_LATEST"),
      "publishSignalsFor(retainVersions=-1) published a signal version")
  }

  test("a stale _tmp- staging dir is never read, is vacuumed, and the retry overwrites it") {
    val dir = tmpDir("stale_tmp_")
    def docs(lo: Long, hi: Long): DataFrame =
      (lo to hi).map(i => (i, s"stale staging document number $i")).toDF("doc_id", "text")
    val sink = StreamingOps.corpusIngestSink(dir, appId = "stale-app")
    sink(docs(1, 5), 0L)
    sink(docs(6, 10), 1L)
    val stale = "_tmp-stale-app-2"
    // what a crash after the staging write and before the rename leaves:
    // parquet in the corpus schema, under batch 2's staging name
    def plant(): Unit =
      StreamingOps.loadCorpus(spark, dir).get.limit(3)
        .withColumn("doc_id", col("doc_id") + 900L)
        .write.mode("overwrite").parquet(s"$dir/deltas/$stale")
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet
    plant()
    assert(ids(StreamingOps.loadCorpus(spark, dir).get) == (1L to 10L).toSet)
    assert(ids(StreamingOps.loadCorpusAt(spark, dir, "v1").get) == (1L to 10L).toSet)
    assert(ids(StreamingOps.loadCorpusAt(spark, dir, "v0").get) == (1L to 5L).toSet)
    assert(StreamingOps.vacuumCorpusDeltas(spark, dir) == Seq(stale))
    assert(!exists(s"$dir/deltas/$stale"))
    assert(ids(StreamingOps.loadCorpus(spark, dir).get) == (1L to 10L).toSet)
    plant()
    sink(docs(11, 15), 2L)
    sink(docs(11, 15), 2L)
    assert(VersionedDir.latest(spark, dir).contains("v2"), "the retry commits exactly once")
    val live = StreamingOps.loadCorpus(spark, dir).get
    assert(live.count() == 15L && ids(live) == (1L to 15L).toSet,
      "the retried batch lands once and none of the stale rows do")
    assert(!exists(s"$dir/deltas/$stale"), "the retry's rename consumes the staging dir")
    val (fs, _) = VersionedDir.fsOf(spark, dir)
    assert(fs.listStatus(new Path(s"$dir/deltas")).map(_.getPath.getName).toSet ==
      Set("d0", "d1", "d2"))
  }
}
