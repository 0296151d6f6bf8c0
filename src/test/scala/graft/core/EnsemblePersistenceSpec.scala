package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops._

/** Save/load round-trip equality — the reference asserts the reloaded
  * ensemble produces identical outputs (test_ensemble.py:27-58). */
class EnsemblePersistenceSpec extends SparkSpec {
  import spark.implicits._

  /** A reloaded op served from its resident table: one narrow plan —
    * no join, no exchange. */
  private def assertNarrow(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"resident serving must not join or shuffle:\n$plan")
  }

  private def rows(df: org.apache.spark.sql.DataFrame, by: String*) =
    df.orderBy(by.map(col): _*).collect().toSeq

  test("save/load round-trip reproduces identical outputs") {
    val features = Seq((10L, "A", 1.5), (11L, "B", 2.5), (12L, "C", 3.5))
      .toDF("item_id", "brand", "price")
    // 99 has no feature row; 12 repeats across requests
    val input = Seq(
      (1, Seq(10L, 11L, 12L, 99L), Seq(11L)),
      (2, Seq(12L, 10L), Seq.empty[Long])
    ).toDF("requestId", "candidate_ids", "seen_ids")

    val ens = Ensemble(Seq(
      FilterCandidates("candidate_ids", "seen_ids"),
      ExplodeCandidates("filtered_ids", "item_id"),
      QueryFeatureStore(features, "item_id", Seq("brand", "price"),
        includeId = true, outputPrefix = "item_"),
      Rename(Map("item_brand" -> "brand_nvt"))), input.schema)

    val dir = Files.tmp("ens_roundtrip")
    EnsemblePersistence.save(ens, dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops(2).asInstanceOf[QueryFeatureStore].resident.isDefined,
      "a reloaded feature view within the broadcast threshold is resident")

    // parquet/DDL round-trips legitimately relax nullability; the schema
    // contract is names + types
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType.sql)).toSeq
    assert(shape(loaded.inputSchema) == shape(ens.inputSchema))
    assert(shape(loaded.outputSchema) == shape(ens.outputSchema))
    val served = loaded.transform(input)
    assertNarrow(served)
    assert(served.columns.toSeq == ens.transform(input).columns.toSeq)
    val a = rows(ens.transform(input), "requestId", "item_id")
    val b = rows(served, "requestId", "item_id")
    assert(a == b, "reloaded ensemble must produce identical rows")
    assert(b.exists(r => r.getAs[Long]("item_id") == 99L && r.isNullAt(r.fieldIndex("brand_nvt"))),
      "a key with no feature row keeps its row with null features")

    // a null key, and a request read from parquet (not local): the
    // resident lookup serves both
    val keyed = Seq((Some(10L), 1), (None, 2), (Some(99L), 3)).toDF("item_id", "n")
    val qfs = QueryFeatureStore(features, "item_id", Seq("brand", "price"))
    val dq = Files.tmp("ens_qfs")
    EnsemblePersistence.save(Ensemble(Seq(qfs), keyed.schema), dq, spark)
    val lq = EnsemblePersistence.load(dq, spark)
    assert(rows(lq.transform(keyed), "n") == rows(qfs.transform(keyed), "n"))
    val pq = Files.tmp("ens_qfs_req")
    keyed.write.mode("overwrite").parquet(pq)
    val fromParquet = spark.read.parquet(pq)
    assertNarrow(lq.transform(fromParquet))
    assert(rows(lq.transform(fromParquet), "n") == rows(qfs.transform(keyed), "n"))

    // a duplicated entity key: the join emits one row per match, so the
    // reloaded op stays relational and reproduces the duplication
    val dupFeatures = features.union(Seq((10L, "Z", 9.5)).toDF("item_id", "brand", "price"))
    val dupOp = QueryFeatureStore(dupFeatures, "item_id", Seq("brand", "price"))
    val dd = Files.tmp("ens_qfs_dup")
    EnsemblePersistence.save(Ensemble(Seq(dupOp), keyed.schema), dd, spark)
    val ld = EnsemblePersistence.load(dd, spark)
    assert(ld.ops.head.asInstanceOf[QueryFeatureStore].resident.isEmpty)
    assert(rows(ld.transform(keyed), "n", "brand") == rows(dupOp.transform(keyed), "n", "brand"))
    assert(ld.transform(keyed).count() == 4L)
  }

  test("save rejects non-persistable (unregistered custom) ops") {
    val input = Seq((1L, 2.0)).toDF("id", "x")
    object CustomOp extends EnsembleOp {
      def transformSchema(in: org.apache.spark.sql.types.StructType) = in
      def transform(df: org.apache.spark.sql.DataFrame) = df
    }
    val ens = Ensemble(Seq(CustomOp), input.schema)
    assertThrows[IllegalArgumentException] {
      EnsemblePersistence.save(ens, Files.tmp("ens_bad"), spark)
    }
  }

  test("parameter-only ops round-trip by value (dedup/multimodal family)") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, sig BIGINT")
    val ops = Seq(
      ExactDedup("doc_id", "text", normalized = true),
      NgramJaccardDedup("doc_id", "text", n = 4, thresholdBp = 7500),
      MinHashDedup("doc_id", "text", n = 3, numHashes = 128, bands = 32, thresholdBp = 8500),
      SimHashDedup("doc_id", "text", n = 3, maxHamming = 7, hashCol = Some("sig")))
    // each op replaces the input schema entirely, so persist them as
    // single-op ensembles and compare case-class equality
    ops.foreach { op =>
      val dir = Files.tmp("ens_param")
      EnsemblePersistence.save(Ensemble(Seq(op), schema), dir, spark)
      assert(EnsemblePersistence.load(dir, spark).ops.head == op)
    }
    val vecSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    val cos = CosineNearDup("vec_id", "embedding", 0.6, exact = false,
      numBits = 6, numTables = 12)
    val dir2 = Files.tmp("ens_param")
    EnsemblePersistence.save(Ensemble(Seq(cos), vecSchema), dir2, spark)
    assert(EnsemblePersistence.load(dir2, spark).ops.head == cos)

    val mlp = MlpScorer(Seq(
      MlpLayer(Seq(Seq(0.5, -0.25), Seq(1.0, 0.5)), Seq(0.125, -2.0), "relu"),
      MlpLayer(Seq(Seq(2.0, 4.0)), Seq(0.0625), "linear")), "embedding")
    val dirMlp = Files.tmp("ens_param")
    EnsemblePersistence.save(Ensemble(Seq(mlp), vecSchema), dirMlp, spark)
    assert(EnsemblePersistence.load(dirMlp, spark).ops.head == mlp)

    // fit-time center round-trips by value (and its absence stays None)
    val cosCtr = cos.copy(center = Some(Seq(0.25, -1.5)))
    val dirCtr = Files.tmp("ens_param")
    EnsemblePersistence.save(Ensemble(Seq(cosCtr), vecSchema), dirCtr, spark)
    assert(EnsemblePersistence.load(dirCtr, spark).ops.head == cosCtr)

    val sem = SemanticNearDup(Seq(Seq(0.1, 0.2), Seq(-0.3, 0.4)),
      "vec_id", "embedding", 0.55)
    val dirSem = Files.tmp("ens_sem")
    EnsemblePersistence.save(Ensemble(Seq(sem), vecSchema), dirSem, spark)
    assert(EnsemblePersistence.load(dirSem, spark).ops.head == sem,
      "fitted centroids persist as parameter doubles")

    val mediaOps = Seq(
      DecodeMedia("media_id", "content", "img_"),
      SampleFrames("media_id", "content", frameBytes = 32, stride = 3))
    mediaOps.foreach { op =>
      val dir = Files.tmp("ens_media")
      EnsemblePersistence.save(Ensemble(Seq(op), MultimodalOps.mediaSchema), dir, spark)
      assert(EnsemblePersistence.load(dir, spark).ops.head == op)
    }

    val rep = RepetitionStats("text", "doc_id", topNs = Seq(2, 4),
      dupNs = Seq(6), topBpMax = Map(2 -> 1900L, 4 -> 1700L),
      dupBpMax = Map(6 -> 1400L))
    val dir3 = Files.tmp("ens_param")
    EnsemblePersistence.save(Ensemble(Seq(rep), schema), dir3, spark)
    assert(EnsemblePersistence.load(dir3, spark).ops.head == rep)

    val vr = ValidateRequests(Seq("doc_id"), Map("sig" -> (0.0, 10.0)), "err")
    val dirV = Files.tmp("ens_vr")
    EnsemblePersistence.save(Ensemble(Seq(vr), schema), dirV, spark)
    assert(EnsemblePersistence.load(dirV, spark).ops.head == vr)

    val pii = MaskPii("text", "clean_text")
    val dir5 = Files.tmp("ens_pii")
    EnsemblePersistence.save(Ensemble(Seq(pii), schema), dir5, spark)
    assert(EnsemblePersistence.load(dir5, spark).ops.head == pii)

    val bkt = Bucketize(Map("sig" -> Seq(1.5, 2.5, 9.0)), "_bin")
    val dir6 = Files.tmp("ens_bkt")
    EnsemblePersistence.save(Ensemble(Seq(bkt), schema), dir6, spark)
    assert(EnsemblePersistence.load(dir6, spark).ops.head == bkt)

    val seqSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING")
    val seqOp = TrainingSequences("user_id", "ts", "event_id", "event_type", 5)
    val dir4 = Files.tmp("ens_seq")
    EnsemblePersistence.save(Ensemble(Seq(seqOp), seqSchema), dir4, spark)
    assert(EnsemblePersistence.load(dir4, spark).ops.head == seqOp)

    val embOps = Seq(
      NormalizeEmbeddings("embedding", "unit_vec"),
      MeanPoolEmbeddings("vec_id", "embedding"))
    embOps.foreach { op =>
      val dir = Files.tmp("ens_emb")
      EnsemblePersistence.save(Ensemble(Seq(op), vecSchema), dir, spark)
      assert(EnsemblePersistence.load(dir, spark).ops.head == op)
    }
  }

  test("sampling/chunking/quantize ops round-trip by value") {
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING")
    val ss = StratifiedSample("doc_id", "lang",
      Map("en" -> 10000, "de" -> 500), defaultBp = 100, salt = "s3")
    val dirS = Files.tmp("ens_strat")
    EnsemblePersistence.save(Ensemble(Seq(ss), docSchema), dirS, spark)
    assert(EnsemblePersistence.load(dirS, spark).ops.head == ss)

    val dc = DocumentChunks("doc_id", "text", chunkSize = 16, overlap = 4)
    val dirD = Files.tmp("ens_chunks")
    EnsemblePersistence.save(Ensemble(Seq(dc), docSchema), dirD, spark)
    assert(EnsemblePersistence.load(dirD, spark).ops.head == dc)

    val vecSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    val qe = QuantizeEmbeddings(levels = 127)
    val dirQ = Files.tmp("ens_quant")
    EnsemblePersistence.save(Ensemble(Seq(qe), vecSchema), dirQ, spark)
    assert(EnsemblePersistence.load(dirQ, spark).ops.head == qe)

    val chunkSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, chunk_id BIGINT, n_tokens BIGINT")
    val pk = PackChunks(budget = 512, shards = 16, salt = "p1")
    val dirP = Files.tmp("ens_pack")
    EnsemblePersistence.save(Ensemble(Seq(pk), chunkSchema), dirP, spark)
    assert(EnsemblePersistence.load(dirP, spark).ops.head == pk)

    val um = UpsampleMix("doc_id", "lang",
      Map("en" -> 25000, "zh" -> 15000), defaultBp = 5000, salt = "m1")
    val dirU = Files.tmp("ens_mix")
    EnsemblePersistence.save(Ensemble(Seq(um), docSchema), dirU, spark)
    assert(EnsemblePersistence.load(dirU, spark).ops.head == um)

    val wsSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, n_chars BIGINT")
    val wsOp = WeightedSampleByGroup("lang", "n_chars", "doc_id", k = 7, salt = "w1")
    val dirW = Files.tmp("ens_wsample")
    EnsemblePersistence.save(Ensemble(Seq(wsOp), wsSchema), dirW, spark)
    assert(EnsemblePersistence.load(dirW, spark).ops.head == wsOp)

    val sg = ScrubSharedGrams(n = 6, minDocs = 3)
    val dirG = Files.tmp("ens_scrub")
    EnsemblePersistence.save(Ensemble(Seq(sg), docSchema), dirG, spark)
    assert(EnsemblePersistence.load(dirG, spark).ops.head == sg)

    val scoreSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, source STRING, score DOUBLE")
    Seq(false, true).foreach { approx =>
      val tf = TopFractionByGroup("source", "score", "doc_id",
        Map("src0" -> 2000), defaultBp = 9000, approx = approx)
      val dirT = Files.tmp("ens_topfrac")
      EnsemblePersistence.save(Ensemble(Seq(tf), scoreSchema), dirT, spark)
      assert(EnsemblePersistence.load(dirT, spark).ops.head == tf)
    }
  }

  test("fitted-FE family round-trips by value (TargetEncoding/JoinGroupby/HashBucket/FillMissing/Clip/Log/ListSlice)") {
    val feSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "cat STRING, y BIGINT, v DOUBLE, arr ARRAY<BIGINT>")
    val ops: Seq[EnsembleOp] = Seq(
      TargetEncoding(Seq("cat"), "y", smoothing = 5.0, leaveOneOut = true,
        broadcastBudgetBytes = 123L),
      JoinGroupby("cat", Seq("y"), Seq("count", "mean"), broadcastBudgetBytes = 7L),
      HashBucket(Seq("cat"), 64, salt = "s9", suffix = "_b"),
      FillMissing(constants = Map("cat" -> "?", "y" -> 0L, "v" -> 1.5),
        medianCols = Seq.empty, approxMedian = false, suffix = "_f"),
      Clip(Map("v" -> (Some(0.0), None), "y" -> (None, Some(9.0)))),
      LogTransform(Seq("v"), suffix = "_ln"),
      ListSlice(Seq("arr"), -2, None, suffix = "_t"))
    ops.foreach { op =>
      val dir = Files.tmp("ens_fe")
      EnsemblePersistence.save(Ensemble(Seq(op), feSchema), dir, spark)
      assert(EnsemblePersistence.load(dir, spark).ops.head == op, op.name)
    }
    // end=Some(n) survives (None vs Some(0) must not collapse)
    val sl = ListSlice(Seq("arr"), 0, Some(0))
    val dir = Files.tmp("ens_fe_sl")
    EnsemblePersistence.save(Ensemble(Seq(sl), feSchema), dir, spark)
    assert(EnsemblePersistence.load(dir, spark).ops.head == sl)
  }

  test("Decontaminate round-trips its eval corpus as a side artifact") {
    val train = Seq((1L, "alpha beta gamma delta"), (2L, "nothing in common at all"))
      .toDF("doc_id", "text")
    val eval = Seq((9L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    val op = Decontaminate(eval, n = 3)
    val dir = Files.tmp("ens_decon")
    EnsemblePersistence.save(Ensemble(Seq(op), train.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.transform(train).orderBy("doc_id").collect().toSeq ==
      op.transform(train).orderBy("doc_id").collect().toSeq)
    assert(loaded.transform(train).filter(col("contaminated")).count() == 1)
  }

  test("BloomDecontaminate round-trips eval corpus + sketch params, labels preserved") {
    val train = Seq((1L, "alpha beta gamma delta"), (2L, "nothing in common at all"))
      .toDF("doc_id", "text")
    val eval = Seq((9L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    val op = BloomDecontaminate(eval, n = 3, fpp = 0.02)
    val dir = Files.tmp("ens_bloom")
    EnsemblePersistence.save(Ensemble(Seq(op), train.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    val lop = loaded.ops.head.asInstanceOf[BloomDecontaminate]
    assert(lop.fpp == 0.02 && lop.n == 3)
    assert(loaded.transform(train).orderBy("doc_id").collect().toSeq ==
      op.transform(train).orderBy("doc_id").collect().toSeq)
  }

  test("NgramLmScore round-trips its reference corpus as a side artifact") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val op = NgramLmScore(docs, n = 2)
    val dir = Files.tmp("ens_lm")
    EnsemblePersistence.save(Ensemble(Seq(op), docs.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    val lop = loaded.ops.head.asInstanceOf[NgramLmScore]
    assert(lop.n == 2 && lop.oovMaxCount == 1L)
    assert(loaded.transform(docs).orderBy("doc_id").collect().toSeq ==
      op.transform(docs).orderBy("doc_id").collect().toSeq)
  }

  test("ShardShuffle round-trips config and reproduces the exact layout") {
    val docs = (1L to 50L).map(i => (i, s"d$i")).toDF("doc_id", "payload")
    val op = ShardShuffle("doc_id", shards = 4, salt = "s6")
    val dir = Files.tmp("ens_shard")
    EnsemblePersistence.save(Ensemble(Seq(op), docs.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops.head == op)
    assert(loaded.transform(docs).orderBy("doc_id").collect().toSeq ==
      op.transform(docs).orderBy("doc_id").collect().toSeq)
  }

  test("DriftReport round-trips its baseline snapshot and split config") {
    val base = Seq((1.0, 5L), (2.0, 150L), (3.0, 5L)).toDF("x", "k")
    val cur = Seq((1.0, 5L), (3.0, 300L)).toDF("x", "k")
    val op = DriftReport(base, Map("x" -> Seq(2.0), "k" -> Seq(100.0)),
      thresholdBp = 2000L)
    val dir = Files.tmp("ens_drift")
    EnsemblePersistence.save(Ensemble(Seq(op), cur.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    val lop = loaded.ops.head.asInstanceOf[DriftReport]
    assert(lop.splits == op.splits && lop.thresholdBp == 2000L)
    assert(loaded.transform(cur).orderBy("feature").collect().toSeq ==
      op.transform(cur).orderBy("feature").collect().toSeq)
  }

  test("MaterializeFeatureView round-trips its updates table as a side artifact") {
    val snap = Seq((1L, 10L, 1L, "old"), (2L, 10L, 1L, "keep"))
      .toDF("id", "ts", "seq", "v")
    val updates = Seq((1L, 20L, 2L, "new")).toDF("id", "ts", "seq", "v")
    val op = MaterializeFeatureView(updates, Seq("id"), "ts", "seq")
    val dir = Files.tmp("ens_mv")
    EnsemblePersistence.save(Ensemble(Seq(op), snap.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.transform(snap).orderBy("id").collect().toSeq ==
      op.transform(snap).orderBy("id").collect().toSeq)
    val got = loaded.transform(snap).orderBy("id").collect()
    assert(got.map(_.getString(3)).toSeq == Seq("new", "keep"))
  }

  test("NegativeSampling round-trips its catalog as a side artifact") {
    val pos = Seq((1L, 10L), (1L, 11L), (2L, 12L)).toDF("user_id", "item_id")
    val catalog = (10L to 29L).toDF("item")
    val op = NegativeSampling(catalog, "user_id", "item_id", "item",
      k = 2, attempts = 8, salt = "rt-neg")
    val dir = Files.tmp("ens_neg")
    EnsemblePersistence.save(Ensemble(Seq(op), pos.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.transform(pos).orderBy("user_id", "item_id", "neg_rank")
      .collect().toSeq ==
      op.transform(pos).orderBy("user_id", "item_id", "neg_rank")
        .collect().toSeq)
  }

  test("XgbForest round-trips its parsed trees without the original json") {
    val op = XgbForest.fromJson(graft.queries.MlQueries.portableModelJson,
      graft.queries.MlQueries.portableFeatures,
      outputClass = true, threshold = 0.7)
    val df = Seq((20.0, 0.04, 20000.0), (30.0, 0.02, 40000.0))
      .toDF("l_quantity", "l_discount", "l_extendedprice")
    val dir = Files.tmp("ens_xgb")
    EnsemblePersistence.save(Ensemble(Seq(op), df.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops.head == op, "trees, params and objective persist by value")
    assert(loaded.transform(df).collect().toSeq == op.transform(df).collect().toSeq)
  }

  test("retrieval ops round-trip: identical top-k after reload") {
    val items = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(0.1, 0.9)), (5L, Seq(0.7, 0.7)), (6L, Seq(Double.NaN, 0.8))
    ).toDF("item_id", "embedding")
    val queries = Seq((100L, Seq(1.0, 0.05)), (200L, Seq(0.05, 1.0)))
      .toDF("qid", "qvec")

    val topk = TopKRetrieval(items, "qid", "qvec", k = 3, metric = "dot")
    val dir = Files.tmp("ens_topk")
    EnsemblePersistence.save(Ensemble(Seq(topk), queries.schema), dir, spark)
    val loadedTopK = EnsemblePersistence.load(dir, spark)
    assert(loadedTopK.transform(queries).orderBy("qid").collect().toSeq ==
      topk.transform(queries).orderBy("qid").collect().toSeq)

    val center = Seq(0.54, 0.54)
    val lsh = AnnLsh(items, "qid", "qvec", k = 3, numBits = 4, nprobe = 3,
      metric = "dot", center = Some(center))
    // a query whose home bucket holds no item: LSH (nprobe 1) drops its row
    val homeOnly = lsh.copy(nprobe = 1, metric = "cosine")
    val occupied = AnnLsh.index(items, center, 4).select("__bucket").as[Int].collect().toSet
    val lonely = (0 until 72).map { i =>
      val a = i * math.Pi / 36
      Seq(center(0) + 5 * math.cos(a), center(1) + 5 * math.sin(a))
    }.find { v =>
      val home = Seq(v).toDF("v").select(graft.functions.FastExpressions.lshBucket(
        col("v"), typedLit(center.toArray), 4)).as[Int].head()
      !occupied(home)
    }.getOrElse(fail("no query vector with an empty home bucket"))
    // centroid 2 gets no item: IVF returns empty arrays for its query
    val ivf = AnnIvf(items, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, -1.0)),
      "qid", "qvec", k = 3, nprobe = 1, metric = "cosine")
    val edge = Seq[(Long, Option[Seq[Double]])](
      (100L, Some(Seq(1.0, 0.05))), (200L, Some(Seq(0.05, 1.0))),
      (300L, None), // null query vector
      (400L, Some(lonely)), (500L, Some(Seq(-5.0, -5.0))),
      (600L, Some(Seq(Double.NaN, 1.0)))).toDF("qid", "qvec")
    for (ann <- Seq[EnsembleOp](lsh, homeOnly, ivf)) {
      val d = Files.tmp("ens_ann")
      EnsemblePersistence.save(Ensemble(Seq(ann), queries.schema), d, spark)
      val loaded = EnsemblePersistence.load(d, spark)
      ann match {
        case a: AnnLsh =>
          val reloaded = loaded.ops.head.asInstanceOf[AnnLsh]
          assert(reloaded.center.contains(center),
            "fit-time LSH center must persist as a parameter")
          assert(reloaded.resident.isDefined)
        case _ => assert(loaded.ops.head.asInstanceOf[AnnIvf].resident.isDefined)
      }
      for (req <- Seq(queries, edge)) {
        val served = loaded.transform(req)
        assertNarrow(served)
        assert(rows(served, "qid") == rows(ann.transform(req), "qid"), ann.name)
      }
      // duplicate request ids: the relational top-k groups them, so the
      // reloaded op keeps the relational plan for such a request
      val dup = edge.union(edge.filter(col("qid") === 100L))
      assert(loaded.transform(dup).queryExecution.executedPlan.toString.contains("Join"))
      assert(rows(loaded.transform(dup), "qid") == rows(ann.transform(dup), "qid"), ann.name)
    }
    // the edge cases do what the relational plans do
    val lshOut = rows(homeOnly.transform(edge), "qid").map(_.getLong(0))
    assert(!lshOut.contains(300L) && !lshOut.contains(400L) && lshOut.contains(100L))
    val ivfOut = rows(ivf.transform(edge), "qid")
    assert(!ivfOut.exists(_.getLong(0) == 300L))
    assert(ivfOut.find(_.getLong(0) == 500L).exists(_.getSeq[Long](1).isEmpty))
    assert(rows(lsh.transform(edge), "qid").forall(!_.getSeq[Long](1).contains(6L)),
      "a NaN-scored item never ranks")
  }

  test("Bm25Index round-trips its postings and df tables as side artifacts") {
    val docs = Seq(
      (0L, "spark shuffles data between stages"),
      (1L, "spark spark spark everywhere"),
      (2L, "data and more data"),
      (3L, "stages of a spark job shuffle data")).toDF("doc_id", "text")
    val idx = Bm25Index.fit(docs, "doc_id", "text", k = 3)
    val qs = Seq((1L, "spark data"), (2L, "shuffle stages")).toDF("query_id", "query_text")
    val dir = Files.tmp("ens_bm25")
    EnsemblePersistence.save(Ensemble(Seq(idx), qs.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    val rb = loaded.ops.head.asInstanceOf[Bm25Index]
    assert(rb.docCount == idx.docCount && rb.avgdl == idx.avgdl,
      "corpus scalars must round-trip bit-exact")
    assert(loaded.transform(qs).orderBy("query_id").collect().toSeq ==
      idx.transform(qs).orderBy("query_id").collect().toSeq)
  }

  test("incremental dedup ops round-trip their accepted-corpus index") {
    val accepted = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and keeps running"),
      (1L, "completely unrelated accepted content about engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and keeps running"),
      (11L, "a genuinely new document with its own fresh content entirely")
    ).toDF("doc_id", "text")

    val exact = IncrementalDedup(
      ExactDedup(normalized = true).transform(accepted).select("content_hash"))
    val d1 = Files.tmp("ens_incr")
    EnsemblePersistence.save(Ensemble(Seq(exact), batch.schema), d1, spark)
    assert(EnsemblePersistence.load(d1, spark).transform(batch)
      .orderBy("doc_id").collect().toSeq ==
      exact.transform(batch).orderBy("doc_id").collect().toSeq)

    val fuzzy = IncrementalMinHashDedup(
      IncrementalMinHashDedup.signatures(accepted), thresholdBp = 7000)
    val d2 = Files.tmp("ens_incr_mh")
    EnsemblePersistence.save(Ensemble(Seq(fuzzy), batch.schema), d2, spark)
    assert(EnsemblePersistence.load(d2, spark).transform(batch)
      .orderBy("doc_id").collect().toSeq ==
      fuzzy.transform(batch).orderBy("doc_id").collect().toSeq)
  }

  test("model ops round-trip: identical scores after reload") {
    val train = Seq(
      (1.0, 2.0, 10.0, 1.0), (2.0, 1.0, 8.0, 0.0), (3.0, 4.0, 20.0, 1.0),
      (4.0, 3.0, 16.0, 0.0), (5.0, 6.0, 30.0, 1.0), (6.0, 5.0, 26.0, 0.0)
    ).toDF("f1", "f2", "y", "label")

    val forest = PredictForest.trainRegressor(train, Seq("f1", "f2"), "y",
      numTrees = 5, maxDepth = 3)
    val dir = Files.tmp("ens_forest")
    EnsemblePersistence.save(Ensemble(Seq(forest), train.schema), dir, spark)
    assert(EnsemblePersistence.load(dir, spark).transform(train)
      .orderBy("f1").collect().toSeq ==
      forest.transform(train).orderBy("f1").collect().toSeq)

    val clf = PredictForestClassifier.train(train, Seq("f1", "f2"), "label",
      numTrees = 5, maxDepth = 3, predictProba = false, outputClass = true,
      threshold = 0.4)
    val dir2 = Files.tmp("ens_clf")
    EnsemblePersistence.save(Ensemble(Seq(clf), train.schema), dir2, spark)
    val loadedClf = EnsemblePersistence.load(dir2, spark).ops.head
      .asInstanceOf[PredictForestClassifier]
    assert(loadedClf.threshold == 0.4 && loadedClf.outputClass)
    assert(EnsemblePersistence.load(dir2, spark).transform(train)
      .orderBy("f1").collect().toSeq ==
      clf.transform(train).orderBy("f1").collect().toSeq)
  }

  test("PredictImplicit round-trips via parquet factor tables") {
    val inter = Seq(
      (1, 1, 2.0f), (1, 2, 1.0f), (2, 1, 1.0f), (2, 3, 2.0f),
      (3, 2, 1.0f), (3, 3, 2.0f), (4, 1, 2.0f), (4, 2, 2.0f)
    ).toDF("user", "item", "strength")
    val op = PredictImplicit.fromModel(
      PredictImplicit.train(inter, "user", "item", "strength", rank = 4, maxIter = 3),
      numToRecommend = 2, userCol = "user_id")
    val req = Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L)).toDF("user_id")
    val dir = Files.tmp("ens_als")
    EnsemblePersistence.save(Ensemble(Seq(op), req.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops.head.asInstanceOf[PredictImplicit].numToRecommend == 2)
    assert(loaded.transform(req).orderBy("user_id").collect().toSeq ==
      op.transform(req).orderBy("user_id").collect().toSeq)
  }

  test("custom ops persist through a registered OpCodec") {
    val input = Seq((1L, 2.0), (2L, 5.0)).toDF("id", "x")
    case class AddConst(amount: Double) extends EnsembleOp {
      def transformSchema(in: org.apache.spark.sql.types.StructType) = in
      def transform(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("x", col("x") + amount)
    }
    EnsemblePersistence.registerCodec(new EnsemblePersistence.OpCodec {
      import org.json4s._
      import org.json4s.JsonDSL._
      val tpe = "test.AddConst"
      def canHandle(op: EnsembleOp) = op.isInstanceOf[AddConst]
      def describe(op: EnsembleOp, artifactPath: String => String,
          spark: org.apache.spark.sql.SparkSession): JObject =
        "amount" -> op.asInstanceOf[AddConst].amount
      def instantiate(o: JObject, spark: org.apache.spark.sql.SparkSession) = {
        implicit val fmts: Formats = DefaultFormats
        AddConst((o \ "amount").extract[Double])
      }
    })
    val ens = Ensemble(Seq(AddConst(2.5)), input.schema)
    val dir = Files.tmp("ens_codec")
    EnsemblePersistence.save(ens, dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.transform(input).orderBy("id").collect().map(_.getDouble(1)).toSeq ==
      Seq(4.5, 7.5))
  }

  test("nested subgraph ensembles round-trip") {
    val input = Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("id", "s", "v")
    val inner = Ensemble(Seq(Rename(Map("s" -> "t"))), input.schema)
    val outer = Ensemble(Seq(inner, Selection(Seq("id", "t"))), input.schema)
    val dir = Files.tmp("ens_nested")
    EnsemblePersistence.save(outer, dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops.head.isInstanceOf[Ensemble], "subgraph must reload as Ensemble")
    assert(loaded.transform(input).orderBy("id").collect().toSeq ==
      outer.transform(input).orderBy("id").collect().toSeq)
  }

  private object Files {
    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString
  }

  test("SemanticDecontaminate round-trips eval embeddings + centroids") {
    val corpus = Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val eval = Seq((9L, Seq(1.0f, 0.0f)), (10L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val op = SemanticDecontaminate(eval, threshold = 0.7,
      centers = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), nprobe = 1)
    val dir = Files.tmp("ens_semdecon")
    EnsemblePersistence.save(Ensemble(Seq(op), corpus.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    val lop = loaded.ops.head.asInstanceOf[SemanticDecontaminate]
    assert(lop.threshold == 0.7 && lop.centers == op.centers && lop.nprobe == 1)
    assert(loaded.transform(corpus).orderBy("vec_id").collect().toSeq ==
      op.transform(corpus).orderBy("vec_id").collect().toSeq)
  }

  test("SnapshotDiff round-trips the old snapshot as a side artifact") {
    val old = Seq((1L, "same"), (2L, "old text")).toDF("doc_id", "text")
    val nw = Seq((1L, "same"), (2L, "new text"), (3L, "added doc"))
      .toDF("doc_id", "text")
    val op = SnapshotDiff(old, normalized = true)
    val dir = Files.tmp("ens_snapdiff")
    EnsemblePersistence.save(Ensemble(Seq(op), nw.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops.head.asInstanceOf[SnapshotDiff].normalized)
    assert(loaded.transform(nw).orderBy("doc_id").collect().toSeq ==
      op.transform(nw).orderBy("doc_id").collect().toSeq)
  }

  test("SignalReconcile round-trips its prior table and nested signal op") {
    val sig = graft.ops.QualitySignals(keyCols = Seq("doc_id", "content_hash"))
    def corpusOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("content_hash", org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")))
    val prior = sig.transform(corpusOf((1L, "kept around text"), (2L, "soon gone")))
    val live = corpusOf((1L, "kept around text"), (3L, "new arrival text"))
    val op = graft.ops.SignalReconcile(prior, sig)
    val dir = Files.tmp("ens_sigrec")
    EnsemblePersistence.save(Ensemble(Seq(op), live.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    val got = loaded.ops.head.asInstanceOf[graft.ops.SignalReconcile]
    assert(got.signal.asInstanceOf[graft.ops.QualitySignals].keyCols ==
      Seq("doc_id", "content_hash"))
    assert(loaded.transform(live).orderBy("doc_id").collect().toSeq ==
      op.transform(live).orderBy("doc_id").collect().toSeq)
  }

  test("PrefixDedup round-trips as pure parameters") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c")).toDF("doc_id", "text")
    val op = PrefixDedup(n = 3)
    val dir = Files.tmp("ens_prefixdedup")
    EnsemblePersistence.save(Ensemble(Seq(op), docs.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops.head == op)
    assert(loaded.transform(docs).collect().toSeq ==
      op.transform(docs).collect().toSeq)
  }

  test("FuzzyDecontaminate round-trips its eval corpus as a side artifact") {
    val corpus = Seq((1L, "the quick brown fox jumps over the dog"),
      (2L, "nothing shared here at all today")).toDF("doc_id", "text")
    val eval = Seq((9L, "the quick brown fox jumps over the cat")).toDF("doc_id", "text")
    val op = FuzzyDecontaminate(eval, n = 3, thresholdBp = 4000, banded = false)
    val dir = Files.tmp("ens_fuzzydecon")
    EnsemblePersistence.save(Ensemble(Seq(op), corpus.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    val lop = loaded.ops.head.asInstanceOf[FuzzyDecontaminate]
    assert(lop.n == 3 && lop.thresholdBp == 4000 && !lop.banded)
    assert(loaded.transform(corpus).orderBy("doc_id").collect().toSeq ==
      op.transform(corpus).orderBy("doc_id").collect().toSeq)
  }

  test("Purge round-trips its tombstone list as a side artifact") {
    val corpus = Seq((1L, "keep"), (2L, "drop")).toDF("doc_id", "text")
    val op = Purge(Seq(2L).toDF("doc_id"))
    val dir = Files.tmp("ens_purge")
    EnsemblePersistence.save(Ensemble(Seq(op), corpus.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.transform(corpus).select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("MixturePlan and PcaProject round-trip as pure parameters") {
    val docs = Seq(("en", 10L)).toDF("lang", "toks")
    val mp = MixturePlan("lang", "toks", Map("en" -> 5000), 100L, defaultBp = 500)
    val dir1 = Files.tmp("ens_mixplan")
    EnsemblePersistence.save(Ensemble(Seq(mp), docs.schema), dir1, spark)
    assert(EnsemblePersistence.load(dir1, spark).ops.head == mp)
    val emb = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val pca = PcaProject(Seq(Seq(0.6, 0.8), Seq(-0.8, 0.6)))
    val dir2 = Files.tmp("ens_pca")
    EnsemblePersistence.save(Ensemble(Seq(pca), emb.schema), dir2, spark)
    val loaded = EnsemblePersistence.load(dir2, spark)
    assert(loaded.ops.head == pca)
    assert(loaded.transform(emb).collect().toSeq == pca.transform(emb).collect().toSeq)
  }

  test("ClusterAssign and TextQualityClassifier round-trip as pure parameters") {
    val emb = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ca = ClusterAssign(Seq(Seq(0.0, 0.0), Seq(3.0, 4.0)), withDistance = true)
    val dir1 = Files.tmp("ens_cluster")
    EnsemblePersistence.save(Ensemble(Seq(ca), emb.schema), dir1, spark)
    val loadedCa = EnsemblePersistence.load(dir1, spark)
    assert(loadedCa.ops.head == ca)
    assert(loadedCa.transform(emb).collect().toSeq ==
      ca.transform(emb).collect().toSeq)
    val docs = Seq((1L, "some text here")).toDF("doc_id", "text")
    val qc = TextQualityClassifier((1 to 8).map(_.toDouble), -0.25,
      numBuckets = 8)
    val dir2 = Files.tmp("ens_qc")
    EnsemblePersistence.save(Ensemble(Seq(qc), docs.schema), dir2, spark)
    val loadedQc = EnsemblePersistence.load(dir2, spark)
    assert(loadedQc.ops.head == qc)
    assert(loadedQc.transform(docs).collect().toSeq ==
      qc.transform(docs).collect().toSeq)
  }

  test("QuantizerDrift round-trips its reference catalog as a side artifact") {
    val ref = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val batch = Seq((11L, Seq(0.5f, 0.5f)), (12L, Seq(9.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val op = QuantizerDrift(Seq(Seq(0.0, 0.0), Seq(3.0, 4.0)), ref)
    val dir = Files.tmp("ens_drift")
    EnsemblePersistence.save(Ensemble(Seq(op), batch.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.transform(batch).orderBy("cluster_id").collect().toSeq ==
      op.transform(batch).orderBy("cluster_id").collect().toSeq)
  }

  test("EvalRanking round-trips its relevance set as a side artifact") {
    val ranked = Seq((1L, "a", 1), (1L, "b", 2)).toDF("query_id", "item_id", "rank")
    val rel = Seq((1L, "b")).toDF("query_id", "item_id")
    val op = EvalRanking(rel, k = 5)
    val dir = Files.tmp("ens_evalrank")
    EnsemblePersistence.save(Ensemble(Seq(op), ranked.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.transform(ranked).collect().toSeq ==
      op.transform(ranked).collect().toSeq)
  }

  test("CalibrateScores round-trips as pure parameters") {
    val frame = Seq((1L, 3.0)).toDF("id", "score")
    val cal = CalibrateScores(Seq(1.0, 2.0, 5.0), Seq(0.1, 0.5, 0.9))
    val dir = Files.tmp("ens_calibrate")
    EnsemblePersistence.save(Ensemble(Seq(cal), frame.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.ops.head == cal)
    assert(loaded.transform(frame).collect().toSeq ==
      cal.transform(frame).collect().toSeq)
  }

  test("ResampleLocf and BoilerplateReport round-trip by value") {
    val ev = Seq((1L, new java.sql.Timestamp(1000L), 1L, 2.0))
      .toDF("user_id", "ts", "event_id", "value")
    val rs = ResampleLocf()
    val dir1 = Files.tmp("ens_resample")
    EnsemblePersistence.save(Ensemble(Seq(rs), ev.schema), dir1, spark)
    assert(EnsemblePersistence.load(dir1, spark).ops.head == rs)
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val br = BoilerplateReport(n = 3, minDocs = 2, topK = 7)
    val dir2 = Files.tmp("ens_boiler")
    EnsemblePersistence.save(Ensemble(Seq(br), docs.schema), dir2, spark)
    assert(EnsemblePersistence.load(dir2, spark).ops.head == br)
  }

  test("ResizeMedia and MediaEmbed round-trip by value") {
    val media = Seq((1L, Array[Byte](0, 16, 0, 8, 1, 2, 3, 4)))
      .toDF("media_id", "content")
    for (op <- Seq[graft.core.EnsembleOp](
        ResizeMedia(factor = 2), MediaEmbed(dim = 32, normalized = false))) {
      val dir = Files.tmp("ens_media_" + op.name)
      EnsemblePersistence.save(Ensemble(Seq(op), media.schema), dir, spark)
      val loaded = EnsemblePersistence.load(dir, spark)
      assert(loaded.ops.head == op, op.name)
    }
  }
}
