package graft.tools

import org.apache.spark.sql.functions._

/** Stage-level timing probe for the recsys serving path at rehearsal SFs
  * (`runMain graft.tools.RecsysScaleProbe <dataDir>`): times the fit,
  * the tier decision, the quantizer, index build, each op of the
  * served graph and the full serving pass separately, plus the fitted
  * tiers' occupancy reports — the measurement tool behind SCALE.md's
  * recsys adjudications (in-board bench rows blend these; regressions
  * need the decomposition). */
object RecsysScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.Bench.session(cpus)
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }
    t("prewarm ALS")(graft.Flagship.prewarmAlsFactors(spark, d))
    val (_, itemFactors) = graft.Flagship.prefitFactorFrames(spark, d).get
    val itemVecs = itemFactors.select(col("id").as("item_id"),
      col("features").as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nItems = t("item count")(itemVecs.count())
    println(s"[probe] nItems = $nItems")
    val numBits = graft.Flagship.lshBits(nItems)
    val center = t("mean vector")(
      graft.functions.VectorFunctions.meanVector(itemVecs, "embedding").toSeq)
    val occ = t("decideRetriever (occupancy)")(
      graft.Flagship.decideRetriever(itemVecs, center, numBits, retryBits = 0))
    println(s"[probe] tier=${occ.tier} skew_bp=${occ.bp} numBits=$numBits")
    // the round-13 decision surface: cost_bp on the REAL user workload,
    // with the one-shot resize retry — what recommend() actually runs
    locally {
      val (uf0, _) = graft.Flagship.prefitFactorFrames(spark, d).get
      val workload = uf0.select(col("id").as("user_id"),
        col("features").as("user_vec"))
      val dec = t("decideRetriever (workload)")(
        graft.Flagship.decideRetriever(itemVecs, center, numBits,
          workload = Some(workload)))
      println(s"[probe] decide: tier=${dec.tier} ev=${dec.evidence} " +
        s"bp=${dec.bp} bits=${dec.numBits}")
      // SHIFTING-workload rehearsal (round-13 VERDICT item 6): the
      // memoized decision samples the FIT-TIME workload; a request mix
      // migrating onto a hot cluster can invalidate cost_bp while the
      // item-side skew_bp is unchanged. Worst-case migration by
      // construction: serve ONLY the users homed on the workload's most
      // popular bucket — every probe set concentrates — and re-run the
      // decision fresh. The printed divergence (and the re-decision's
      // own cost, one or two metadata-scale aggregates) is the evidence
      // behind the re-decision policy documented on recommend().
      val mu = typedLit(center.toArray)
      val homed = workload.withColumn("__h",
        graft.functions.FastExpressions.lshBucket(col("user_vec"), mu,
          dec.numBits))
      val topBucket = homed.groupBy("__h").count()
        .orderBy(desc("count"), asc("__h")).head().getAs[Int]("__h")
      val hot = homed.filter(col("__h") === topBucket).drop("__h")
      val nHot = hot.count()
      val drift = t("re-decide (hot-subset drift)")(
        graft.Flagship.decideRetriever(itemVecs, center, numBits,
          workload = Some(hot)))
      println(s"[probe] drift: $nHot users on bucket $topBucket -> " +
        s"tier=${drift.tier} bp=${drift.bp} " +
        s"(fit-time: ${dec.tier}/${dec.bp} bp; " +
        s"memoized decision ${if (drift.tier == dec.tier) "HOLDS"
          else "DIVERGES"} under worst-case migration)")
    }
    val nlist = graft.Flagship.ivfNlist(nItems)
    val centers = t(s"k-means fit (nlist=$nlist)")(
      graft.functions.VectorFunctions.fitCenters(
        itemVecs, "embedding", nlist, maxIter = 10, seed = 42L))
    val op = graft.ops.AnnIvf(itemVecs, centers, "user_id", "user_vec",
      k = 100, nprobe = 4, metric = "dot")
    val ivfOcc = t("IvfSkewReport")(
      graft.ops.IvfSkewReport(centers).transform(itemVecs).head())
    println(s"[probe] ivf occupancy: $ivfOcc")
    t("index build (noop write)")(
      op.index(itemVecs).write.format("noop").mode("overwrite").save())
    // candidate volume = Σ_users Σ_probed-lists |list| — THE retrieval
    // cost driver; compare against users × nprobe × uniform-list-size
    // to see how much fit skew (× probe-correlation) multiplies the join
    val (userFactors, _) = graft.Flagship.prefitFactorFrames(spark, d).get
    val probes = op.withProbes(userFactors
      .select(col("id").as("user_id"), col("features").as("user_vec")))
      .select(col("user_id"), col(op.listCol))
    val listSizes = op.index(itemVecs)
      .groupBy(op.listCol).agg(count(lit(1)).as("__n"))
    val cand = t("candidate volume (count)")(
      probes.join(listSizes, Seq(op.listCol))
        .agg(sum("__n")).head().getLong(0))
    val nUsers = userFactors.count()
    println(s"[probe] candidates=$cand users=$nUsers uniform=${
      nUsers * op.nprobe * ((nItems + centers.size - 1) / centers.size)}")
    // the served graph, one op at a time: each op runs over its
    // predecessor's persisted output, so its row times that op alone
    val (ens, requests, _) = t("graph build")(
      graft.Flagship.graph(spark, d, retrievalK = 100, finalK = 10, "auto"))
    ens.ops.zipWithIndex.foldLeft(requests) { case (in, (op, i)) =>
      val out = op.transform(in)
      t(s"op $i ${op.name} (noop)")(
        out.write.format("noop").mode("overwrite").save())
      out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[probe] op $i rows = ${out.count()}")
      in.unpersist()
      out
    }.unpersist()
    t("recommend warm 1 (noop)")(
      graft.Flagship.recommend(spark, d)
        .write.format("noop").mode("overwrite").save())
    t("recommend warm 2 (noop)")(
      graft.Flagship.recommend(spark, d)
        .write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}
