package graft.queries

import graft.SparkSpec

/** Round-14 VERDICT item 5: query-layer persists (mlEvalRanking's
  * inter/ranked/relevant, ScrubSharedGrams' gram explode) must not
  * accumulate storage across repeated invocations in a long-lived
  * session. The mechanism that bounds them is the CacheManager's
  * canonicalized-plan dedup: every invocation builds plan-identical
  * frames, so re-persisting resolves to the SAME cache entry instead of
  * a new one. This spec pins that bound — N invocations + evaluations,
  * then assert the persistent-RDD count equals the first invocation's
  * (no net growth). mlEvalStream is release-disciplined instead (its
  * caches are dead once the eval log is on disk) and left to the oracle
  * rows; this covers the queries whose RETURNED plan still reads the
  * caches and therefore cannot release them before the caller's action. */
class CacheGrowthSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def evaluate(name: String): Unit =
    graft.SparkEntry.queries(name)(spark, d)
      .write.format("noop").mode("overwrite").save()

  private def settle(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("mlEvalRanking: repeated invocations reuse one cache entry set") {
    settle()
    evaluate("ml_eval_ranking")
    val after1 = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach(_ => evaluate("ml_eval_ranking"))
    val afterN = spark.sparkContext.getPersistentRDDs.size
    assert(afterN == after1,
      s"persistent RDDs grew across invocations: $after1 -> $afterN")
    settle()
  }

  test("text_scrub_spans: repeated invocations reuse one cache entry set") {
    settle()
    evaluate("text_scrub_spans")
    val after1 = spark.sparkContext.getPersistentRDDs.size
    (1 to 2).foreach(_ => evaluate("text_scrub_spans"))
    val afterN = spark.sparkContext.getPersistentRDDs.size
    assert(afterN == after1,
      s"persistent RDDs grew across invocations: $after1 -> $afterN")
    settle()
  }

  test("reloading a serving ensemble holds no storage and releases discarded broadcasts") {
    import scala.jdk.CollectionConverters._
    import graft.core.EnsemblePersistence
    import graft.ops.{AnnIvf, AnnLsh, QueryFeatureStore}
    val (ens, requests) = graft.Flagship.servingEnsemble(spark, d, retrievalK = 50)
    val dir = java.nio.file.Files.createTempDirectory("cache_growth_serve").toString
    EnsemblePersistence.save(ens, dir, spark)
    val users = requests.limit(8).collect().toSeq
    settle()
    val before = spark.sparkContext.getPersistentRDDs.size
    // one load plus one request; only the broadcast ids outlive the call
    def cycle(): Seq[Long] = {
      val loaded = EnsemblePersistence.load(dir, spark)
      loaded.transform(spark.createDataFrame(users.asJava, loaded.inputSchema)).collect()
      val held = loaded.ops.flatMap {
        case q: QueryFeatureStore => q.resident.map(_.id)
        case a: AnnLsh => a.resident.map(_.id)
        case a: AnnIvf => a.resident.map(_.id)
        case _ => None
      }
      assert(held.forall(org.apache.spark.GraftTestProbes.broadcastStored))
      held
    }
    val ids = (1 to 5).flatMap(_ => cycle())
    assert(ids.size == 15, s"each load holds three resident tables: $ids")
    val afterN = spark.sparkContext.getPersistentRDDs.size
    assert(afterN == before, s"persistent RDDs grew across loads: $before -> $afterN")
    // the ContextCleaner releases a broadcast once its handle is unreachable
    val deadline = System.nanoTime() + 30L * 1000000000L
    def stored = ids.filter(org.apache.spark.GraftTestProbes.broadcastStored)
    while (stored.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(stored.isEmpty, s"discarded loads still hold broadcasts: $stored")
    settle()
  }
}
