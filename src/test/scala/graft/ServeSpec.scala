package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArraySort, ArrayTransform}
import org.apache.spark.sql.functions._
import graft.core.{Ensemble, EnsemblePersistence}
import graft.ops._
import graft.tools.JobMeter

/** The §3.3 lifecycle end-to-end: persist a fitted serving graph, score
  * a request parquet through graft.Serve, and read the response — the
  * "a user could switch" path with nothing in-process shared between
  * export and serving except the artifact directory. */
class ServeSpec extends SparkSpec {
  import spark.implicits._

  test("Serve scores a request parquet through a reloaded ensemble") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val features = Seq((10L, "A", 1.5), (11L, "B", 2.5), (12L, "C", 3.5))
      .toDF("item_id", "brand", "price")
    val requests = Seq(
      (1L, Seq(10L, 11L, 12L), Seq(11L)),
      (2L, Seq(12L, 10L), Seq.empty[Long]))
      .toDF("requestId", "candidate_ids", "seen_ids")
    val ens = Ensemble(Seq(
      FilterCandidates("candidate_ids", "seen_ids"),
      ExplodeCandidates("filtered_ids", "item_id"),
      QueryFeatureStore(features, "item_id", Seq("brand", "price"), includeId = true)),
      requests.schema)

    val ensDir = tmp("serve_ens"); val reqDir = tmp("serve_req")
    val outDir = tmp("serve_out")
    EnsemblePersistence.save(ens, ensDir, spark)
    requests.write.mode("overwrite").parquet(reqDir)

    Serve.score(spark, ensDir, reqDir, outDir)

    val response = spark.read.parquet(outDir)
    val expected = ens.transform(requests)
    assert(response.orderBy("requestId", "item_id").collect().toSeq ==
      expected.orderBy("requestId", "item_id").collect().toSeq)
    assert(response.count() == 4, "2 + 2 surviving candidates")
    // schema mismatch fails eagerly at ensemble revalidation, not mid-job
    val badReq = tmp("serve_bad")
    Seq(Tuple1(1L)).toDF("wrong_col").write.mode("overwrite").parquet(badReq)
    assertThrows[IllegalArgumentException] {
      Serve.score(spark, ensDir, badReq, tmp("serve_out2"))
    }
  }

  /** (rows, jobs, tasks) of collecting `df`. */
  private def counted(df: org.apache.spark.sql.DataFrame): (Array[Row], Int, Int) = {
    val (rows, c) = JobMeter.inGroup(spark.sparkContext)(df.collect())
    (rows, c.jobs, c.tasks)
  }

  test("a reloaded flagship ensemble answers a request in one narrow job") {
    val d = "/root/testdata/sf0.001"
    val (ens, requests) = Flagship.servingEnsemble(spark, d, retrievalK = 50)
    val dir = java.nio.file.Files.createTempDirectory("serve_gate").toString
    EnsemblePersistence.save(ens, dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops.collect { case q: QueryFeatureStore => q.resident }.forall(_.isDefined))
    assert(loaded.ops(1) match {
      case a: AnnLsh => a.resident.isDefined
      case a: AnnIvf => a.resident.isDefined
      case _ => false
    }, "the flagship retriever must serve from its resident index")
    val users = requests.collect().toSeq
    def request(rows: Seq[Row]) =
      loaded.transform(spark.createDataFrame(rows.asJava, loaded.inputSchema))

    // the benchmark's small request: 8 known users
    val small = request(users.take(8))
    val plan = small.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"a resident request must not shuffle or join:\n$plan")
    // the serving tail runs as two codegen'd kernels: no higher-order
    // function (all CodegenFallback) is left in the request's plan
    val hofs = small.queryExecution.executedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: ArrayFilter | _: ArrayTransform | _: ArraySort) => e.prettyName
    }))
    assert(hofs.isEmpty, s"higher-order functions left in the served plan: $hofs")
    val (got, jobs, _) = counted(small)
    assert(jobs == 1, s"an 8-user request must run exactly one job, ran $jobs")
    val expected = ens.transform(requests.filter(col("user_id").isin(users.take(8).map(_.get(0)): _*)))
    assert(got.sortBy(_.getLong(0)).toSeq == expected.collect().sortBy(_.getLong(0)).toSeq,
      "the resident answer must equal the pre-save relational answer")

    // a bulk request of 8,192 distinct ids (most unknown to this catalog)
    // must not be folded into planning-time evaluation
    val template = users.head
    val bulk = request((1 to 8192).map(i =>
      Row.fromSeq(i.toLong +: template.toSeq.tail)))
    val (_, bulkJobs, bulkTasks) = counted(bulk)
    assert(bulkJobs == 1 && bulkTasks > 1,
      s"an 8,192-row request must be one job on several tasks: $bulkJobs jobs, $bulkTasks tasks")

    // a parquet request through Serve.score, every user three times in
    // three files: served resident, one row per request row, each the
    // pre-save answer for its user
    val before = ens.transform(requests).collect().map(r => r.getLong(0) -> r).toMap
    val once = requests.filter(col("user_id").isin(before.keys.toSeq.sorted.take(6): _*))
      .collect().toSeq
    val reqDir = java.nio.file.Files.createTempDirectory("serve_rep_req").toString
    spark.createDataFrame((once ++ once ++ once).asJava, requests.schema)
      .repartition(3).write.mode("overwrite").parquet(reqDir)
    assert(spark.read.parquet(reqDir).rdd.getNumPartitions >= 3)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val outDir = java.nio.file.Files.createTempDirectory("serve_rep_out").toString
    spark.listenerManager.register(listener)
    try Serve.score(spark, dir, reqDir, outDir)
    finally {
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val written = plans.asScala.filter(_.contains("InsertIntoHadoopFsRelation"))
    assert(written.size == 1, s"one write: ${plans.asScala.mkString("\n")}")
    assert(!written.head.contains("Exchange") && !written.head.contains("Join"),
      s"a parquet request must serve resident, without a shuffle or join:\n${written.head}")
    val out = spark.read.parquet(outDir).collect()
    assert(out.length == 3 * once.length, "one row per request row")
    assert(out.forall(r => r == before(r.getLong(0))),
      "each row equals the pre-save answer for its user")
  }
}
