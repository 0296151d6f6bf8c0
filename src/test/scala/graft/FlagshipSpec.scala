package graft

import org.apache.spark.sql.functions._

/** End-to-end smoke of the 4-stage pipeline on sf0.001 (t1 tier). */
class FlagshipSpec extends SparkSpec {
  import spark.implicits._

  test("entry returns 10 ranked recommendations per known user") {
    val out = SparkEntry.entry(spark).cache()
    assert(out.count() > 0, "driver smoke contract: rows > 0")
    val row = out.select("ordered_ids", "ordered_scores")
      .as[(Seq[Long], Seq[Double])].head()
    assert(row._1.size == 10 && row._2.size == 10)
    assert(row._1.distinct.size == 10, "no duplicate recommendations")
  }

  test("prewarmed ALS factors serve from parquet: no fit inside the serving plan") {
    val d = "/root/testdata/sf0.001"
    Flagship.prewarmAlsFactors(spark, d)
    val plan = Flagship.recommend(spark, d).queryExecution.optimizedPlan.toString
    // the offline-artifact discipline: the serving plan reads the factor
    // tables as plain parquet relations (graft_als_factors_* temp dir);
    // an inline ALS fit would instead surface as LogicalRDD leaves from
    // MLlib's internal conversion — the eviction/retrain hazard r6 flagged
    assert(plan.contains("graft_als_factors_"),
      s"serving plan must scan the prewarmed parquet factor tables:\n$plan")
    val out = Flagship.recommend(spark, d)
    assert(out.count() > 0, "prewarmed serving path still recommends")
  }

  test("fitted serving ensemble round-trips: save → load → identical output") {
    val d = "/root/testdata/sf0.001"
    val (ens, requests) = Flagship.servingEnsemble(spark, d, retrievalK = 50)
    val dir = java.nio.file.Files.createTempDirectory("flagship_ens").toString
    graft.core.EnsemblePersistence.save(ens, dir, spark)
    val loaded = graft.core.EnsemblePersistence.load(dir, spark)

    val a = ens.transform(requests).orderBy("user_id").collect().toSeq
    val b = loaded.transform(requests).orderBy("user_id").collect().toSeq
    assert(a.nonEmpty, "serving ensemble must produce recommendations")
    assert(a == b, "reloaded flagship ensemble must reproduce identical rows")
    // sanity: the graph serves ranked, seen-filtered, k-bounded lists
    val row = a.head
    val ids = row.getSeq[Long](row.fieldIndex("ordered_ids"))
    assert(ids.size <= 10 && ids.distinct.size == ids.size)
  }

  test("IVF retriever backend serves and round-trips interchangeably") {
    val d = "/root/testdata/sf0.001"
    val (ens, requests) = Flagship.servingEnsemble(spark, d, retrievalK = 50,
      retriever = "ivf")
    val dir = java.nio.file.Files.createTempDirectory("flagship_ivf").toString
    graft.core.EnsemblePersistence.save(ens, dir, spark)
    val loaded = graft.core.EnsemblePersistence.load(dir, spark)
    val a = ens.transform(requests).orderBy("user_id").collect().toSeq
    assert(a.nonEmpty, "IVF-backed serving ensemble must produce recommendations")
    assert(loaded.transform(requests).orderBy("user_id").collect().toSeq == a)
  }

  test("PQ retriever backend serves and round-trips interchangeably") {
    val d = "/root/testdata/sf0.001"
    val (ens, requests) = Flagship.servingEnsemble(spark, d, retrievalK = 50,
      retriever = "pq")
    val dir = java.nio.file.Files.createTempDirectory("flagship_pq").toString
    graft.core.EnsemblePersistence.save(ens, dir, spark)
    val loaded = graft.core.EnsemblePersistence.load(dir, spark)
    val a = ens.transform(requests).orderBy("user_id").collect().toSeq
    assert(a.nonEmpty, "PQ-backed serving ensemble must produce recommendations")
    assert(loaded.transform(requests).orderBy("user_id").collect().toSeq == a)
  }

  test("chooseRetriever: the sf1.0 skew geometry in miniature trips the IVF action") {
    // the rehearsal pathology in miniature: ALS factors collapsed into a
    // line through the mean — after centering, every vector projects onto
    // the fixed hyperplanes with one of two ± sign patterns, so ~2 of
    // 2^bits buckets carry the whole catalog (SCALE.md measured 22×
    // uniform in the heaviest bucket at sf1.0; this is the same geometry
    // taken to its limit)
    val dir = Seq(1.0, 2.0, 3.0, 0.5, -1.5, 0.7, 2.2, -0.9)
    val line = (1L to 240L).map { i =>
      val s = (i.toDouble - 120.5) / 40.0
      (i, dir.map(x => (x * s).toFloat))
    }.toDF("item_id", "embedding")
    val muL = graft.functions.VectorFunctions.meanVector(line, "embedding").toSeq
    val Flagship.RetrieverDecision(t1, _, bp1, _) =
      Flagship.decideRetriever(line, muL, numBits = 5, retryBits = 0)
    assert(bp1 > Flagship.LshSkewBoundBp,
      s"cone geometry must exceed the skew bound: $bp1 bp")
    assert(t1 == "ivf", s"cone geometry must trip the IVF action ($bp1 bp)")

    // spread geometry keeps the cheap LSH tier
    val rnd = new scala.util.Random(7)
    val spread = (1L to 240L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("item_id", "embedding")
    val muS = graft.functions.VectorFunctions.meanVector(spread, "embedding").toSeq
    val Flagship.RetrieverDecision(t2, _, bp2, _) =
      Flagship.decideRetriever(spread, muS, numBits = 5, retryBits = 0)
    assert(t2 == "lsh", s"spread geometry must keep LSH ($bp2 bp)")
    assert(bp2 <= Flagship.LshSkewBoundBp)
  }

  test("decideRetriever: workload probe cost overrides occupancy in both directions") {
    // (a) occupancy OVER-triggers: the cone geometry reads 150000 bp of
    // bucket skew, but THIS workload's probes never touch the cone's two
    // buckets — expected candidate volume is literally zero, so the
    // workload-aware decision keeps the cheap LSH tier while the
    // occupancy-only monitor would have paid the k-means fit for nothing
    val dir = Seq(1.0, 2.0, 3.0, 0.5, -1.5, 0.7, 2.2, -0.9)
    val line = (1L to 240L).map { i =>
      val s = (i.toDouble - 120.5) / 40.0
      (i, dir.map(x => (x * s).toFloat))
    }.toDF("item_id", "embedding")
    val muL = graft.functions.VectorFunctions.meanVector(line, "embedding").toSeq
    val e0w = (1L to 40L).map { i =>
      val s = (i.toDouble - 20.5) / 10.0
      (i, Seq.tabulate(8)(j => if (j == 0)
        (s + (if (i % 2 == 0) 0.01 else -0.01)).toFloat else 0.0f))
    }.toDF("user_id", "user_vec")
    val occOver = {
      val r = Flagship.decideRetriever(line, muL, numBits = 5, retryBits = 0)
      (r.tier, r.bp)
    }
    assert(occOver._1 == "ivf" && occOver._2 > Flagship.LshSkewBoundBp)
    val dOver = Flagship.decideRetriever(line, muL, numBits = 5,
      workload = Some(e0w))
    assert(dOver.tier == "lsh" && dOver.evidence == "cost_bp" &&
      dOver.bp == 0L,
      s"orthogonal workload must keep LSH on a skewed-but-unprobed fit: $dOver")

    // (b) occupancy UNDER-triggers: two heavy clusters whose buckets sit
    // one probe-flip apart (xor ∈ {1,2,4} under the seed-42 hyperplanes),
    // occupancy well under the bound — but a workload homed on one
    // cluster probes BOTH heavy buckets in every probe set, so its
    // candidate volume trips the cost bound the occupancy monitor missed
    val rnd = new scala.util.Random(23)
    def cl(center: Seq[Double], n: Int, sd: Double, base: Long) =
      (0 until n).map(i => (base + i,
        center.map(c => (c + rnd.nextGaussian() * sd).toFloat)))
    val cA = Seq(0.0, 0.0, 4.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val cB = Seq(0.0, 0.0, 0.0, 0.0, -4.0, 0.0, 0.0, 0.0)
    val items = (cl(cA, 85, 0.5, 0L) ++ cl(cB, 85, 0.5, 500L) ++
      (0 until 250).map(i => (2000L + i,
        Seq.fill(8)((rnd.nextGaussian() * 2.5).toFloat))))
      .toDF("item_id", "embedding")
    val mu = graft.functions.VectorFunctions.meanVector(items, "embedding").toSeq
    val hot = (1L to 40L).map(i => (i,
      cA.map(c => (c + rnd.nextGaussian() * 0.3).toFloat)))
      .toDF("user_id", "user_vec")
    val occUnder = {
      val r = Flagship.decideRetriever(items, mu, numBits = 5, retryBits = 0)
      (r.tier, r.bp)
    }
    assert(occUnder._1 == "lsh" && occUnder._2 <= Flagship.LshSkewBoundBp,
      s"cluster-pair occupancy must sit under the skew bound: $occUnder")
    // retryBits = 0 isolates the monitor comparison (the retry is (c))
    val dUnder = Flagship.decideRetriever(items, mu, numBits = 5,
      workload = Some(hot), retryBits = 0)
    assert(dUnder.tier == "ivf" && dUnder.evidence == "cost_bp" &&
      dUnder.bp > Flagship.LshCostBoundBp,
      s"flip-correlated hot workload must trip the cost bound: $dUnder")
    // and a spread workload over the same fit stays cheap — the cost
    // monitor does not over-fire on benign traffic
    val spreadW = (1L to 40L).map(i => (i,
      Seq.fill(8)((rnd.nextGaussian() * 2.5).toFloat)))
      .toDF("user_id", "user_vec")
    val dSpread = Flagship.decideRetriever(items, mu, numBits = 5,
      workload = Some(spreadW), retryBits = 0)
    assert(dSpread.tier == "lsh" && dSpread.bp <= Flagship.LshCostBoundBp)

    // (c) with the default resize retry, the SAME hot pathology resolves
    // to LSH at numBits+2: the extra hyperplanes move the two heavy
    // buckets out of each other's single-bit-flip probe set, so the
    // workload's candidate volume (judged in absolute units at the
    // requested sizing) falls back under the bound — the cheap remedy
    // genuinely fixes this geometry and the k-means fit is never paid
    val dRetry = Flagship.decideRetriever(items, mu, numBits = 5,
      workload = Some(hot))
    assert(dRetry.tier == "lsh" && dRetry.numBits == 7 &&
      dRetry.bp <= Flagship.LshCostBoundBp,
      s"resize must decorrelate the probe flips: $dRetry")
  }

  test("decideRetriever: low candidate VOLUME cannot accept a heavy probed bucket " +
      "(the initial-accept key-skew conjunct)") {
    // 300 items in one tight off-mean blob (one sign-stable bucket at 5
    // AND 7 bits) + 40 spread; a workload where only a few users home on
    // the blob reads LOW average volume — the sf1.0 lesson is that the
    // probe join's wall-clock follows that one heavy KEY anyway, so the
    // decision must trip on max_probed_count at the FIRST measure, not
    // only in the retry (round-13 ADVICE: volume evidence alone accepted
    // exactly this geometry)
    val rnd = new scala.util.Random(31)
    val bc = Seq(3.0, -2.0, 1.5, 2.5, -1.0, 0.5, -2.0, 1.0)
    val blob = (0 until 300).map(i => (i.toLong,
      bc.map(x => (x * 4.0 + rnd.nextGaussian() * 0.1).toFloat)))
    val bg = (0 until 40).map(i => (1000L + i,
      Seq.fill(8)((rnd.nextGaussian() * 6.0).toFloat)))
    val items = (blob ++ bg).toDF("item_id", "embedding")
    val mu = graft.functions.VectorFunctions.meanVector(items, "embedding").toSeq
    // 4 hot users at the blob, 36 far away: volume stays under the cost
    // bound, the probed heavy bucket does not
    val hotFew = (1L to 4L).map(i => (i,
      bc.map(x => (x * 4.0 + rnd.nextGaussian() * 0.1).toFloat)))
    val coldMany = (5L to 40L).map(i => (i,
      Seq.fill(8)((rnd.nextGaussian() * 6.0).toFloat)))
    val w = (hotFew ++ coldMany).toDF("user_id", "user_vec")
    val d = Flagship.decideRetriever(items, mu, numBits = 5,
      workload = Some(w))
    assert(d.tier == "ivf" && d.evidence == "cost_bp" &&
      d.bp <= Flagship.LshCostBoundBp,
      s"a lightly-probed pathological bucket must fail the initial accept " +
        s"on the heavy-bucket conjunct even at acceptable volume: $d")
  }

  test("decideRetriever: the resize retry rescues a splitting heavy bucket; " +
      "a true cone still falls through to IVF") {
    // a blob engineered to be sign-stable on planes 0-4 (one heavy bucket
    // at 5 bits → tripped) but sign-UNstable on planes 5-6 (its center is
    // orthogonal to their ±1 normals), so the resized fit splits it ~4×;
    // judged at the REQUESTED sizing's uniform the retry passes — the
    // naive relative metric at 7 bits reads ~120000 bp and would wrongly
    // fall through to the k-means fit (uniform shrinks 4× under +2 bits,
    // so relative skew is non-decreasing even when the bucket splits)
    val chat = {
      val c = Seq(-0.5, 0.0, 1.0, 1.0, 0.0, 0.0, -1.0, -0.5)
      val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    val rnd = new scala.util.Random(17)
    val blob = (0 until 150).map(i => (i.toLong,
      chat.map(x => (x * 12.0 + rnd.nextGaussian() * 1.0).toFloat)))
    val bg = (0 until 240).map(i => (1000L + i,
      Seq.fill(8)((rnd.nextGaussian() * 2.0).toFloat)))
    val items = (blob ++ bg).toDF("item_id", "embedding")
    val mu = graft.functions.VectorFunctions.meanVector(items, "embedding").toSeq
    val d = Flagship.decideRetriever(items, mu, numBits = 5)
    assert(d.tier == "lsh" && d.numBits == 7 &&
      d.bp <= Flagship.LshSkewBoundBp,
      s"splitting blob must be rescued by the resize retry: $d")
    // without the retry the same fit pays the k-means switch
    val d0 = Flagship.decideRetriever(items, mu, numBits = 5, retryBits = 0)
    assert(d0.tier == "ivf" && d0.bp > Flagship.LshSkewBoundBp)
    // the cone retries and STILL lands IVF: it occupies one ±sign-pattern
    // pair at any bit count, so no resize can spread it
    val dir = Seq(1.0, 2.0, 3.0, 0.5, -1.5, 0.7, 2.2, -0.9)
    val line = (1L to 240L).map { i =>
      val s = (i.toDouble - 120.5) / 40.0
      (i, dir.map(x => (x * s).toFloat))
    }.toDF("item_id", "embedding")
    val muL = graft.functions.VectorFunctions.meanVector(line, "embedding").toSeq
    val dc = Flagship.decideRetriever(line, muL, numBits = 5)
    assert(dc.tier == "ivf" && dc.numBits == 5,
      s"the cone must fall through the retry to IVF: $dc")
  }

  test("refreshAlsFactors invalidates memoized tier decisions (catalog-drift guard)") {
    // the decision/centroid caches key on the factor tables' FIT ID, not
    // the data dir: a re-prewarmed dir (new fit, same path) must earn a
    // FRESH decision, never serve the superseded one (round-13 VERDICT 5)
    val d = "/root/testdata/sf0.001"
    Flagship.prewarmServing(spark, d)
    val k1 = Flagship.cachedDecisionKeys.filter(_._1.startsWith(d + "#"))
    assert(k1.nonEmpty, "prewarmServing must memoize a decision")
    // idempotent re-prewarm: same fit, same key, no new entry
    Flagship.prewarmServing(spark, d)
    assert(Flagship.cachedDecisionKeys.filter(_._1.startsWith(d + "#")) == k1)
    // a refreshed fit carries a new id → the next prewarm re-decides
    Flagship.refreshAlsFactors(spark, d)
    Flagship.prewarmServing(spark, d)
    val k2 = Flagship.cachedDecisionKeys.filter(_._1.startsWith(d + "#"))
    assert(k2.size == k1.size * 2 && k1.subsetOf(k2),
      s"a refreshed fit must earn a fresh decision entry: $k1 -> $k2")
    assert((k2 -- k1).forall(k => !k1.exists(_._1 == k._1)),
      "the fresh entry must carry a NEW fit id, not reuse the old key")
  }

  test("an inline-fit IVF build memoizes no centroids") {
    // inline factors are fresh MLlib state, not a stable artifact: a
    // later inline build in the same JVM must fit its own centroids, not
    // reuse ones fit on a previous fit's items. A dir of links to the
    // sf0.001 tables has the same data and no prewarmed factors.
    import java.nio.file.{Files, Paths}
    val d = Files.createTempDirectory("flagship_inline")
    Files.list(Paths.get("/root/testdata/sf0.001")).forEach(f =>
      Files.createSymbolicLink(d.resolve(f.getFileName), f))
    assert(Flagship.prefitFactorFrames(spark, d.toString).isEmpty)
    val (ens, _) = Flagship.servingEnsemble(spark, d.toString, retrievalK = 50,
      retriever = "ivf")
    assert(ens.ops.exists(_.isInstanceOf[graft.ops.AnnIvf]))
    assert(!Flagship.cachedCenterKeys.exists(_._1.startsWith(d.toString)),
      s"inline fits must not memoize centroids: ${Flagship.cachedCenterKeys}")
  }

  test("auto retriever keeps LSH on the healthy test catalog (skew below bound)") {
    // the decision the default serving graph now makes: sf0.001's ALS
    // factor fit measures ~25k bp (probe-verified), under the 80k bound,
    // so "auto" must resolve to the sign-LSH tier — the cheap index stays
    // the default until the occupancy monitor actually trips
    val d = "/root/testdata/sf0.001"
    val (ens, requests) = Flagship.servingEnsemble(spark, d, retrievalK = 50)
    assert(ens.ops.exists(_.isInstanceOf[graft.ops.AnnLsh]),
      s"auto must pick AnnLsh on healthy geometry: ${ens.ops.map(_.getClass.getSimpleName)}")
    assert(ens.transform(requests).count() > 0)
  }

  test("the served graph: op classes, scalar fields and request columns (auto and ivf)") {
    // every field of every op, in order; fitted state (frames, centroid
    // lists, the LSH center) by its shape only, so the pin holds for any
    // fit of sf0.001's catalog
    def fields(op: Product): String =
      op.productElementNames.zip(op.productIterator).map {
        case (n, df: org.apache.spark.sql.DataFrame) =>
          s"$n.columns=${df.columns.mkString("[", ",", "]")}"
        case ("centers", cs: Seq[_]) => s"centers.size=${cs.size}"
        case ("center", c: Option[_]) =>
          s"center.size=${c.map(_.asInstanceOf[Seq[_]].size)}"
        case (n, v: Seq[_]) => s"$n=${v.mkString("[", ",", "]")}"
        case (n, v) => s"$n=$v"
      }.mkString(s"${op.getClass.getSimpleName}(", ", ", ")")
    val d = "/root/testdata/sf0.001"
    val userVecs = "QueryFeatureStore(features.columns=[user_id,user_vec], " +
      "entityCol=user_id, featureCols=[user_vec], includeId=true, " +
      "outputPrefix=, broadcastDim=true, resident=None)"
    val tail = Seq(
      "QueryFeatureStore(features.columns=[user_id,seen_ids], " +
        "entityCol=user_id, featureCols=[seen_ids], includeId=true, " +
        "outputPrefix=, broadcastDim=true, resident=None)",
      "FilterCandidatesWithScores(idsCol=candidate_ids, " +
        "scoresCol=candidate_scores, filterCol=seen_ids, " +
        "outIdsCol=filtered_ids, outScoresCol=filtered_scores)",
      "SoftmaxSampling(idsCol=filtered_ids, relevanceCol=filtered_scores, " +
        "temperature=20.0, topk=10, seed=42, seedCol=user_id)")
    val expected = Map(
      "auto" -> ("AnnLsh(items.columns=[item_id,embedding], " +
        "queryIdCol=user_id, queryVecCol=user_vec, itemIdCol=item_id, " +
        "itemVecCol=embedding, k=50, numBits=4, nprobe=4, metric=dot, " +
        "center.size=Some(8), resident=None)"),
      "ivf" -> ("AnnIvf(items.columns=[item_id,embedding], centers.size=4, " +
        "queryIdCol=user_id, queryVecCol=user_vec, itemIdCol=item_id, " +
        "itemVecCol=embedding, k=50, nprobe=4, metric=dot, resident=None)"))
    for ((retriever, retrieval) <- expected) {
      val (ens, requests) = Flagship.servingEnsemble(spark, d, retrievalK = 50,
        retriever = retriever)
      assert(ens.ops.map(o => fields(o.asInstanceOf[Product])) ==
        (userVecs +: retrieval +: tail), s"retriever=$retriever")
      assert(requests.columns.toSeq == Seq("user_id", "c_mktsegment", "c_acctbal"))
      assert(ens.inputSchema == requests.schema)
    }
  }

  test("forced-IVF recommend serves the full 4-stage graph (the tripped-skew branch)") {
    // the branch decideRetriever activates when the occupancy monitor
    // trips: same 4-stage contract — ranked, deduplicated, seen-filtered
    // k-lists — through the k-means tier instead of sign-LSH
    val d = "/root/testdata/sf0.001"
    val out = Flagship.recommend(spark, d, retriever = Some("ivf")).cache()
    assert(out.count() > 0, "IVF-served recommend must produce rows")
    val row = out.select("ordered_ids", "ordered_scores")
      .as[(Seq[Long], Seq[Double])].head()
    assert(row._1.size == 10 && row._1.distinct.size == 10)
    val recs = out.select($"user_id", explode($"ordered_ids").as("item_id"))
    val seen = Tables.orders(spark, d)
      .join(Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .distinct()
    assert(recs.join(seen, Seq("user_id", "item_id"), "left_semi").count() == 0)
    out.unpersist()
  }

  test("recommendations exclude already-seen items") {
    val d = "/root/testdata/sf0.001"
    val recs = Flagship.recommend(spark, d)
      .select($"user_id", explode($"ordered_ids").as("item_id"))
    val seen = Tables.orders(spark, d)
      .join(Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .distinct()
    assert(recs.join(seen, Seq("user_id", "item_id"), "left_semi").count() == 0)
  }
}
