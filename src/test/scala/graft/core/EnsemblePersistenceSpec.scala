package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
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
      // duplicate request ids: every request row answers for itself, so
      // the reloaded op serves such a request resident too
      val dup = edge.union(edge.filter(col("qid") === 100L))
      assertNarrow(loaded.transform(dup))
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

  test("save and load go through the dir's Hadoop filesystem (a file: URI)") {
    val local = Files.tmp("ens_fs")
    val input = Seq((1L, 7), (2L, 8)).toDF("id", "n")
    val features = Seq((1L, 2.5)).toDF("id", "x")
    val ens = Ensemble(Seq(QueryFeatureStore(features, "id", Seq("x"))), input.schema)
    EnsemblePersistence.save(ens, "file:" + local, spark)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(local, "metadata.json")),
      "metadata.json must land in the dir, not under a relative 'file:' path")
    val loaded = EnsemblePersistence.load("file:" + local, spark)
    assert(sortedRows(loaded.transform(input)) == sortedRows(ens.transform(input)))
  }

  test("load refuses a foreign format version before reading any artifact") {
    val input = Seq((1L, 7)).toDF("id", "n")
    val dir = Files.tmp("ens_v1")
    EnsemblePersistence.save(Ensemble(Seq(
      QueryFeatureStore(Seq((1L, 2.5)).toDF("id", "x"), "id", Seq("x"))), input.schema), dir, spark)
    // rewritten through the dir's filesystem, so its checksum sidecar stays
    // valid; the artifacts go, so a load that read them first would fail
    // with another error
    val meta = new org.apache.hadoop.fs.Path(dir, "metadata.json")
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir, "artifacts"), true)
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "metadata.json"))
    val out = fs.create(meta, true)
    try out.write(text.replaceFirst("\"format_version\"\\s*:\\s*\"[^\"]*\"", "\"format_version\" : \"1\"")
      .getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException](EnsemblePersistence.load(dir, spark))
    assert(e.getMessage.contains("format version \"1\"") &&
      e.getMessage.contains("format version 2"), e.getMessage)
  }

  test("a manifest edited outside Hadoop fails load naming its stale checksum file") {
    val input = Seq((1L, 7)).toDF("id", "n")
    val dir = Files.tmp("ens_crc")
    EnsemblePersistence.save(Ensemble(Seq(
      QueryFeatureStore(Seq((1L, 2.5)).toDF("id", "x"), "id", Seq("x"))), input.schema), dir, spark)
    val meta = java.nio.file.Paths.get(dir, "metadata.json")
    val crc = java.nio.file.Paths.get(dir, ".metadata.json.crc")
    assert(java.nio.file.Files.exists(crc))
    java.nio.file.Files.writeString(meta, java.nio.file.Files.readString(meta)
      .replaceFirst("\"engine_version\"\\s*:\\s*\"[^\"]*\"", "\"engine_version\" : \"edited\""))
    val e = intercept[IllegalArgumentException](EnsemblePersistence.load(dir, spark))
    assert(e.getMessage.contains(s"$dir/metadata.json") &&
      e.getMessage.contains(s"$dir/.metadata.json.crc"), e.getMessage)
    java.nio.file.Files.delete(crc)
    val out = EnsemblePersistence.load(dir, spark).transform(input)
    assert(out.select("x").as[Double].collect().toSeq == Seq(2.5))
  }

  // ---- the round-trip table: one case per persisted op type ---------------

  /** `op` saved as a one-op ensemble over `schema` and loaded back: equal
    * by value when it holds no frame or model, and equal in sorted output
    * rows on `input` when one is given. */
  private case class Row(op: EnsembleOp, schema: StructType, input: Option[DataFrame])
  private def byValue(op: EnsembleOp, ddl: String) = Row(op, StructType.fromDDL(ddl), None)
  private def byValue(op: EnsembleOp, schema: StructType) = Row(op, schema, None)
  private def onInput(op: EnsembleOp, input: DataFrame) = Row(op, input.schema, Some(input))

  private final class Case(val name: String, make: => Seq[Row]) {
    lazy val rows: Seq[Row] = make
  }

  private def sortedRows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)

  /** Names, types and metadata (the schema tags); parquet legitimately
    * relaxes nullability. */
  private def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType.catalogString, f.metadata))

  private def holdsState(v: Any): Boolean = v match {
    case _: DataFrame | _: org.apache.spark.ml.Model[_] => true
    case m: collection.Map[_, _] => m.values.exists(holdsState)
    case s: Iterable[_] => s.exists(holdsState)
    case p: Product => p.productIterator.exists(holdsState)
    case _ => false
  }

  /** Case-class equality, made strict where `==` is loose: NaN equals
    * NaN, -0.0 differs from 0.0, and an Int differs from a Long. */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: collection.Map[_, _], y: collection.Map[_, _]) =>
      sameValue(x.toSeq.sortBy(_._1.toString), y.toSeq.sortBy(_._1.toString))
    case (x: Iterable[_], y: Iterable[_]) =>
      x.size == y.size && x.iterator.zip(y.iterator).forall { case (p, q) => sameValue(p, q) }
    // by name, not class: a decoded (Double, Double) is a Tuple2, not its specialized subclass
    case (x: Product, y: Product) =>
      x.productPrefix == y.productPrefix && x.productArity == y.productArity &&
        x.productIterator.zip(y.productIterator).forall { case (p, q) => sameValue(p, q) }
    case _ => a == null && b == null || a != null && b != null && a.getClass == b.getClass && a == b
  }

  private def check(r: Row): Unit = {
    val dir = Files.tmp("ens_row")
    EnsemblePersistence.save(Ensemble(Seq(r.op), r.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark).ops.head
    assert(shape(loaded.transformSchema(r.schema)) == shape(r.op.transformSchema(r.schema)), r.op.name)
    if (holdsState(r.op)) assert(r.input.isDefined, s"${r.op.name} holds a frame or model: give its row an input")
    else assert(loaded.getClass == r.op.getClass && sameValue(loaded, r.op),
      s"${r.op.name}: loaded $loaded, saved ${r.op}")
    r.input.foreach { in =>
      assert(sortedRows(loaded.transform(in)) == sortedRows(r.op.transform(in)), r.op.name)
    }
  }

  private val docSchema = "doc_id BIGINT, text STRING, lang STRING"
  private val vecSchema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
  private val feSchema = "cat STRING, y BIGINT, v DOUBLE, arr ARRAY<BIGINT>"
  private lazy val fitFrame = Seq(
    ("a", "x", 10L, Some(3L), 1.5), ("b", "x", 20L, None, 2.5), ("a", "y", 30L, Some(7L), 3.5),
    ("c", "y", 40L, Some(1L), 4.5), ("a", "x", 50L, None, 5.5), ("b", "z", 60L, Some(9L), 6.5)
  ).toDF("cat", "grp", "qty", "qty_n", "price")
  private lazy val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "nothing in common at all"),
    (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
  private lazy val evalDocs = Seq((9L, "beta gamma delta epsilon")).toDF("doc_id", "text")
  private lazy val dvecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 1.0)),
    (4L, Seq(0.1, 0.9)), (5L, Seq(0.7, 0.7))).toDF("item_id", "embedding")
  private lazy val dqueries = Seq((100L, Seq(1.0, 0.05)), (200L, Seq(0.05, 1.0))).toDF("qid", "qvec")
  private lazy val fvecs = Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(-1.0f, 0.0f)), (3L, Seq(3.0f, 4.0f)))
    .toDF("vec_id", "embedding")
  private lazy val fitems = {
    val rnd = new scala.util.Random(3)
    (1L to 40L).map(i => (i, Seq.fill(4)((rnd.nextGaussian() * 2).toFloat))).toDF("item_id", "embedding")
  }
  private lazy val fqueries = Seq((100L, Seq(1.0f, -0.5f, 0.25f, 2.0f)), (101L, Seq(8.0f, 8.5f, 7.0f, 9.0f)))
    .toDF("vec_id", "embedding")
  private lazy val train = Seq(
    (1.0, 2.0, 10.0, 1.0), (2.0, 1.0, 8.0, 0.0), (3.0, 4.0, 20.0, 1.0),
    (4.0, 3.0, 16.0, 0.0), (5.0, 6.0, 30.0, 1.0), (6.0, 5.0, 26.0, 0.0)).toDF("f1", "f2", "y", "label")
  private lazy val pqCenters = Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(8.0, 8.0, 8.0, 8.0))
  private lazy val pqCodebooks = Seq(Seq(Seq(0.5, 0.25), Seq(-0.5, 1.0)), Seq(Seq(2.0, 0.0), Seq(0.0, -2.0)))
  private lazy val signalCorpus = Seq((1L, "kept around text"), (3L, "new arrival text")).toDF("doc_id", "text")
    .withColumn("content_hash", md5(col("text")))
  private lazy val signal = QualitySignals(keyCols = Seq("doc_id", "content_hash"))
  private lazy val priorSignals = signal.transform(Seq((1L, "kept around text"), (2L, "soon gone"))
    .toDF("doc_id", "text").withColumn("content_hash", md5(col("text"))))
  private lazy val probeItems = ((1L to 30L).map(i => (i, Seq(1.0f, 0.0f))) ++
    (31L to 40L).map(i => (i, Seq(0.0f, 5.0f)))).toDF("item_id", "embedding")
  private lazy val probeQueries = (1L to 10L).map(i => (i, Seq(1.0f, 0.1f))).toDF("vec_id", "embedding")
  private lazy val tagged = StructField("cat_y_mean", org.apache.spark.sql.types.DoubleType,
    metadata = Tags.metadataFor(Seq(Tags.Continuous)))

  private val table: Seq[Case] = Seq(
    // the by-value rows, under the case names they had as separate tests
    new Case("parameter-only ops round-trip by value (dedup/multimodal family)", {
      val schema = "doc_id BIGINT, text STRING, sig BIGINT"
      val cos = CosineNearDup("vec_id", "embedding", 0.6, exact = false, numBits = 6, numTables = 12)
      Seq(
        byValue(ExactDedup("doc_id", "text", normalized = true), schema),
        byValue(NgramJaccardDedup("doc_id", "text", n = 4, thresholdBp = 7500), schema),
        byValue(MinHashDedup("doc_id", "text", n = 3, numHashes = 128, bands = 32, thresholdBp = 8500), schema),
        byValue(SimHashDedup("doc_id", "text", n = 3, maxHamming = 7, hashCol = Some("sig")), schema),
        byValue(cos, vecSchema),
        byValue(MlpScorer(Seq(
          MlpLayer(Seq(Seq(0.5, -0.25), Seq(1.0, 0.5)), Seq(0.125, -2.0), "relu"),
          MlpLayer(Seq(Seq(2.0, 4.0)), Seq(0.0625), "linear")), "embedding"), vecSchema),
        byValue(cos.copy(center = Some(Seq(0.25, -1.5))), vecSchema),
        byValue(SemanticNearDup(Seq(Seq(0.1, 0.2), Seq(-0.3, 0.4)), "vec_id", "embedding", 0.55), vecSchema),
        byValue(DecodeMedia("media_id", "content", "img_"), MultimodalOps.mediaSchema),
        byValue(SampleFrames("media_id", "content", frameBytes = 32, stride = 3), MultimodalOps.mediaSchema),
        byValue(RepetitionStats("text", "doc_id", topNs = Seq(2, 4), dupNs = Seq(6),
          topBpMax = Map(2 -> 1900L, 4 -> 1700L), dupBpMax = Map(6 -> 1400L)), schema),
        byValue(ValidateRequests(Seq("doc_id"), Map("sig" -> (0.0, 10.0)), "err"), schema),
        byValue(MaskPii("text", "clean_text"), schema),
        byValue(Bucketize(Map("sig" -> Seq(1.5, 2.5, 9.0)), "_bin"), schema),
        byValue(TrainingSequences("user_id", "ts", "event_id", "event_type", 5),
          "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING"),
        byValue(NormalizeEmbeddings("embedding", "unit_vec"), vecSchema),
        byValue(MeanPoolEmbeddings("vec_id", "embedding"), vecSchema))
    }),
    new Case("sampling/chunking/quantize ops round-trip by value", Seq(
      byValue(StratifiedSample("doc_id", "lang", Map("en" -> 10000, "de" -> 500), defaultBp = 100, salt = "s3"),
        docSchema),
      byValue(DocumentChunks("doc_id", "text", chunkSize = 16, overlap = 4), docSchema),
      byValue(QuantizeEmbeddings(levels = 127), "vec_id BIGINT, embedding ARRAY<FLOAT>"),
      byValue(PackChunks(budget = 512, shards = 16, salt = "p1"), "doc_id BIGINT, chunk_id BIGINT, n_tokens BIGINT"),
      byValue(UpsampleMix("doc_id", "lang", Map("en" -> 25000, "zh" -> 15000), defaultBp = 5000, salt = "m1"),
        docSchema),
      byValue(WeightedSampleByGroup("lang", "n_chars", "doc_id", k = 7, salt = "w1"),
        "doc_id BIGINT, lang STRING, n_chars BIGINT"),
      byValue(ScrubSharedGrams(n = 6, minDocs = 3), docSchema)) ++
      Seq(false, true).map(approx => byValue(TopFractionByGroup("source", "score", "doc_id",
        Map("src0" -> 2000), defaultBp = 9000, approx = approx), "doc_id BIGINT, source STRING, score DOUBLE"))),
    new Case("fitted-FE family round-trips by value (TargetEncoding/JoinGroupby/HashBucket/FillMissing/Clip/Log/ListSlice)",
      Seq(
        TargetEncoding(Seq("cat"), "y", smoothing = 5.0, leaveOneOut = true, broadcastBudgetBytes = 123L),
        JoinGroupby("cat", Seq("y"), Seq("count", "mean"), broadcastBudgetBytes = 7L),
        HashBucket(Seq("cat"), 64, salt = "s9", suffix = "_b"),
        FillMissing(constants = Map("cat" -> "?", "y" -> 0L, "v" -> 1.5),
          medianCols = Seq.empty, approxMedian = false, suffix = "_f"),
        Clip(Map("v" -> (Some(0.0), None), "y" -> (None, Some(9.0)))),
        LogTransform(Seq("v"), suffix = "_ln"),
        ListSlice(Seq("arr"), -2, None, suffix = "_t"),
        // end=Some(n) survives (None vs Some(0) must not collapse)
        ListSlice(Seq("arr"), 0, Some(0))).map(byValue(_, feSchema))),
    new Case("PrefixDedup round-trips as pure parameters", Seq(
      onInput(PrefixDedup(n = 3), Seq((1L, "a b c d e"), (2L, "a b c")).toDF("doc_id", "text")))),
    new Case("MixturePlan and PcaProject round-trip as pure parameters", Seq(
      byValue(MixturePlan("lang", "toks", Map("en" -> 5000), 100L, defaultBp = 500), "lang STRING, toks BIGINT"),
      onInput(PcaProject(Seq(Seq(0.6, 0.8), Seq(-0.8, 0.6))),
        Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")))),
    new Case("ClusterAssign and TextQualityClassifier round-trip as pure parameters", Seq(
      onInput(ClusterAssign(Seq(Seq(0.0, 0.0), Seq(3.0, 4.0)), withDistance = true),
        Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")),
      onInput(TextQualityClassifier((1 to 8).map(_.toDouble), -0.25, numBuckets = 8),
        Seq((1L, "some text here")).toDF("doc_id", "text")))),
    new Case("CalibrateScores round-trips as pure parameters", Seq(
      onInput(CalibrateScores(Seq(1.0, 2.0, 5.0), Seq(0.1, 0.5, 0.9)), Seq((1L, 3.0)).toDF("id", "score")))),
    new Case("ResampleLocf and BoilerplateReport round-trip by value", Seq(
      byValue(ResampleLocf(), "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"),
      byValue(BoilerplateReport(n = 3, minDocs = 2, topK = 7), "doc_id BIGINT, text STRING"))),
    new Case("ResizeMedia and MediaEmbed round-trip by value", Seq(
      byValue(ResizeMedia(factor = 2), "media_id BIGINT, content BINARY"),
      byValue(MediaEmbed(dim = 32, normalized = false), "media_id BIGINT, content BINARY"))),

    // by value, one case per type
    new Case("Selection round-trips", Seq(byValue(Selection(Seq("id")), "id BIGINT, s STRING"))),
    new Case("SelectByTag round-trips", Seq(byValue(SelectByTag(Seq(Tags.Continuous), Seq("id")),
      StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType), tagged))))),
    new Case("Rename round-trips", Seq(byValue(Rename(Map("s" -> "t")), "id BIGINT, s STRING"))),
    new Case("FilterCandidates round-trips", Seq(byValue(FilterCandidates("candidate_ids", "seen_ids"),
      "requestId INT, candidate_ids ARRAY<BIGINT>, seen_ids ARRAY<BIGINT>"))),
    new Case("FilterCandidatesWithScores round-trips", Seq(byValue(
      FilterCandidatesWithScores(filterCol = "seen_ids"),
      "candidate_ids ARRAY<BIGINT>, candidate_scores ARRAY<DOUBLE>, seen_ids ARRAY<BIGINT>"))),
    new Case("SoftmaxSampling round-trips", Seq(byValue(
      SoftmaxSampling("candidate_ids", "scores", temperature = 5.0, topk = 3, seed = 7L),
      "requestId INT, candidate_ids ARRAY<BIGINT>, scores ARRAY<DOUBLE>"))),
    new Case("ExplodeCandidates round-trips", Seq(byValue(ExplodeCandidates("filtered_ids", "item_id"),
      "requestId INT, filtered_ids ARRAY<BIGINT>"))),
    new Case("Padding round-trips, non-finite and signed-zero pads included",
      Seq(0.5, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0)
        .map(v => byValue(Padding("xs", 4, v), "xs ARRAY<DOUBLE>"))),
    new Case("Clip round-trips signed-zero and infinite bounds", Seq(byValue(Clip(Map(
      "v" -> (Some(-0.0), Some(Double.PositiveInfinity)), "w" -> (Some(Double.NegativeInfinity), None))),
      "v DOUBLE, w DOUBLE"))),
    new Case("CosineNearDup round-trips a None center apart from Some(Nil)", Seq(None, Some(Nil)).map(c =>
      byValue(CosineNearDup("vec_id", "embedding", 0.6, exact = true, numBits = 4, numTables = 2, center = c),
        vecSchema))),
    new Case("FillMissing round-trips Int and Long constants as themselves", Seq(byValue(
      FillMissing(constants = Map("n" -> 7, "y" -> 7L, "b" -> true), medianCols = Seq.empty,
        approxMedian = false, suffix = "_f"), "n INT, y BIGINT, b BOOLEAN"))),
    new Case("Categorify round-trips", Seq(byValue(Categorify(Seq("cat"), "_c", 1024L), feSchema))),
    new Case("StandardScale round-trips", Seq(byValue(StandardScale(Seq("v")), feSchema))),
    new Case("FillMissingBound round-trips", Seq(byValue(FillMissingBound(
      Map("cat" -> "?", "y" -> 0L), Map("v" -> 2.5), Seq("v"), "_f"), feSchema))),
    new Case("StandardScaleBound round-trips", Seq(byValue(
      StandardScaleBound(Seq("v"), "_s", Map("v" -> (1.5, 0.0))), feSchema))),
    new Case("XgbForest round-trips", Seq(byValue(XgbForest.fromJson(graft.queries.MlQueries.portableModelJson,
      graft.queries.MlQueries.portableFeatures, outputClass = true, threshold = 0.7),
      "l_quantity DOUBLE, l_discount DOUBLE, l_extendedprice DOUBLE"))),
    new Case("SklForest round-trips", Seq(byValue(SklForest(Vector(Vector(XgbTree(Vector(1, -1, -1),
      Vector(2, -1, -1), Vector(0, 0, 0), Vector(2.5, 0.25, 0.75), Vector(true, false, false)))),
      Vector.empty, Seq("f0")), "id INT, f0 DOUBLE"))),
    new Case("HashSplit round-trips", Seq(byValue(HashSplit("doc_id", trainBp = 8000, validBp = 1000, salt = "s1"),
      docSchema))),
    new Case("TrailingWindowFeatures round-trips", Seq(byValue(
      TrailingWindowFeatures("user_id", "ts_sec", "v", Seq(100L, 1000L)),
      "event_id BIGINT, ts_sec BIGINT, v BIGINT, user_id BIGINT"))),
    new Case("BpeTokenize round-trips", Seq(byValue(BpeTokenize(Seq(("a", "a"), ("b", "</w>")), "text"),
      docSchema))),
    new Case("SkewReport round-trips", Seq(byValue(SkewReport(Seq("lang"), topK = 3), docSchema))),
    new Case("ShardShuffle round-trips", Seq(byValue(ShardShuffle("doc_id", shards = 4, salt = "s6"), docSchema))),
    new Case("QualitySignals round-trips", Seq(byValue(QualitySignals(keyCols = Seq("doc_id")), docSchema))),
    new Case("LshSkewReport round-trips", Seq(byValue(LshSkewReport(Seq(0.0, 0.0), numBits = 3),
      "item_id BIGINT, embedding ARRAY<FLOAT>"))),
    new Case("IvfSkewReport round-trips", Seq(byValue(IvfSkewReport(Seq(Seq(1.0, 0.0), Seq(0.0, 5.0))),
      "item_id BIGINT, embedding ARRAY<FLOAT>"))),
    new Case("Ensemble round-trips as a nested subgraph", {
      val schema = StructType.fromDDL("id BIGINT, s STRING")
      Seq(byValue(Ensemble(Seq(Rename(Map("s" -> "t")), Selection(Seq("id", "t"))), schema), schema))
    }),

    // by output, one case per type
    new Case("CategorifyBound round-trips", Seq(onInput(Categorify(Seq("cat", "grp")).fit(fitFrame), fitFrame))),
    new Case("TargetEncodingBound round-trips", Seq(onInput(
      TargetEncoding(Seq("cat"), "qty", leaveOneOut = true).fit(fitFrame), fitFrame))),
    new Case("JoinGroupbyBound round-trips, Tags metadata included", Seq(
      onInput(JoinGroupby("grp", Seq("price"), Seq("count", "mean")).fit(fitFrame), fitFrame),
      onInput(JoinGroupbyBound("cat", Seq(tagged), Seq(("a", 1.5)).toDF("cat", "cat_y_mean"), broadcastIt = true),
        Seq(("a", 1L), ("b", 2L)).toDF("cat", "y")))),
    new Case("QueryFeatureStore round-trips", Seq(onInput(
      QueryFeatureStore(Seq((10L, "A", 1.5), (11L, "B", 2.5)).toDF("item_id", "brand", "price"), "item_id",
        Seq("brand", "price"), includeId = true, outputPrefix = "item_"),
      Seq((1, 10L), (2, 99L)).toDF("requestId", "item_id")))),
    new Case("NegativeSampling round-trips", Seq(onInput(
      NegativeSampling((10L to 29L).toDF("item"), "user_id", "item_id", "item", k = 2, attempts = 8, salt = "t"),
      Seq((1L, 10L), (1L, 11L), (2L, 12L)).toDF("user_id", "item_id")))),
    new Case("IntervalJoin round-trips", Seq(onInput(
      IntervalJoin(Seq((1L, 95L, 210L, "w1"), (2L, 0L, 50L, "w3")).toDF("key", "s", "e", "tag"),
        "key", "s", "e", "ts", bucketSize = 100L),
      Seq((1L, 95L), (1L, 150L), (1L, 210L), (2L, 49L)).toDF("key", "ts")))),
    new Case("PointInTimeJoin round-trips", Seq(onInput(
      PointInTimeJoin(Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c")).toDF("id", "ts", "v"), "id", "ts", Seq("v")),
      Seq((1L, 5L), (1L, 10L), (1L, 25L), (2L, 14L)).toDF("id", "ts")))),
    new Case("EmbeddingLookup round-trips", Seq(onInput(EmbeddingLookup(fvecs, "id"), Seq(1L, 3L, 7L).toDF("id")))),
    new Case("UnrollFeatures round-trips", Seq(onInput(
      UnrollFeatures(Seq((1, "A", 25), (2, "B", 30)).toDF("requestId", "segment", "age"), Seq("segment", "age")),
      Seq((1, 10), (1, 11), (2, 12)).toDF("requestId", "item_id")))),
    new Case("SaltedJoin round-trips", Seq(onInput(
      SaltedJoin(Seq((7L, "hot"), (0L, "a")).toDF("key", "label"), "key", "row_id", saltBuckets = 3, joinType = "left"),
      (1 to 20).map(i => (i.toLong, if (i <= 15) 7L else (i % 3).toLong)).toDF("row_id", "key")))),
    new Case("ConcatColumns round-trips", {
      val root = Seq((1, "a"), (2, "b")).toDF("requestId", "v")
      Seq(onInput(ConcatColumns(root.withColumnRenamed("v", "v2")), root.withColumn("n", length($"v"))))
    }),
    new Case("TransformWorkflow round-trips", Seq(onInput(
      TransformWorkflow.fit(fitFrame, Seq("cat"), Seq("price")), fitFrame))),
    new Case("TopKRetrieval round-trips", Seq(onInput(
      TopKRetrieval(dvecs, "qid", "qvec", k = 3, metric = "dot"), dqueries))),
    new Case("AnnLsh round-trips with its resolved center pinned", Seq(onInput(
      AnnLsh(dvecs, "qid", "qvec", k = 3, numBits = 4, nprobe = 3, metric = "dot"), dqueries))),
    new Case("AnnIvf round-trips", Seq(onInput(
      AnnIvf(dvecs, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), "qid", "qvec", k = 3, nprobe = 1, metric = "cosine"),
      dqueries))),
    new Case("AnnSq round-trips", Seq(onInput(
      AnnSq.fit(fitems, "vec_id", "embedding", k = 3, nlist = 2, nprobe = 2), fqueries))),
    new Case("AnnIvfPq round-trips", Seq(onInput(
      AnnIvfPq(fitems, pqCenters, pqCodebooks, "vec_id", "embedding", k = 3, nprobe = 2, refine = 3), fqueries))),
    new Case("Bm25Index round-trips", Seq(onInput(
      Bm25Index.fit(corpus, "doc_id", "text", k = 2),
      Seq((1L, "alpha delta"), (2L, "common")).toDF("query_id", "query_text")))),
    new Case("PredictForest round-trips", Seq(onInput(
      PredictForest.trainRegressor(train, Seq("f1", "f2"), "y", numTrees = 3, maxDepth = 2), train))),
    new Case("PredictForestClassifier round-trips", Seq(onInput(
      PredictForestClassifier.train(train, Seq("f1", "f2"), "label", numTrees = 3, maxDepth = 2,
        predictProba = false, outputClass = true, threshold = 0.4), train))),
    new Case("PredictClassifier round-trips", {
      val df = train.select(array($"f1", $"f2").as("feats"), $"label")
      Seq(onInput(PredictClassifier.trainLogistic(df, "feats", "label", maxIter = 5), df))
    }),
    new Case("PredictImplicit round-trips", Seq(onInput(
      PredictImplicit.fromModel(PredictImplicit.train(Seq((1, 1, 2.0f), (1, 2, 1.0f), (2, 1, 1.0f), (2, 3, 2.0f),
        (3, 2, 1.0f), (3, 3, 2.0f)).toDF("user", "item", "strength"), "user", "item", "strength",
        rank = 2, maxIter = 2), numToRecommend = 2, userCol = "user_id"),
      Seq(Tuple1(1L), Tuple1(2L)).toDF("user_id")))),
    new Case("MaterializeFeatureView round-trips", Seq(onInput(
      MaterializeFeatureView(Seq((1L, 20L, 2L, "new")).toDF("id", "ts", "seq", "v"), Seq("id"), "ts", "seq"),
      Seq((1L, 10L, 1L, "old"), (2L, 10L, 1L, "keep")).toDF("id", "ts", "seq", "v")))),
    new Case("Decontaminate round-trips", Seq(onInput(Decontaminate(evalDocs, n = 3), corpus))),
    new Case("BloomDecontaminate round-trips", Seq(onInput(BloomDecontaminate(evalDocs, n = 3, fpp = 0.02), corpus))),
    new Case("FuzzyDecontaminate round-trips", Seq(onInput(
      FuzzyDecontaminate(evalDocs, n = 3, thresholdBp = 4000, banded = false), corpus))),
    new Case("SemanticDecontaminate round-trips", Seq(onInput(
      SemanticDecontaminate(Seq((9L, Seq(1.0f, 0.0f)), (10L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding"),
        threshold = 0.7, centers = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), nprobe = 1), fvecs))),
    new Case("NgramLmScore round-trips", Seq(onInput(NgramLmScore(corpus, n = 2), corpus))),
    new Case("SnapshotDiff round-trips", Seq(onInput(
      SnapshotDiff(Seq((1L, "same", "x"), (2L, "old text", "y")).toDF("doc_id", "text", "extra"), normalized = true),
      Seq((1L, "same"), (2L, "new text"), (3L, "added doc")).toDF("doc_id", "text")))),
    new Case("Purge round-trips", Seq(onInput(Purge(Seq(2L, 2L).toDF("doc_id")), corpus))),
    new Case("IncrementalDedup round-trips", Seq(onInput(
      IncrementalDedup(ExactDedup(normalized = true).transform(corpus).select("content_hash")), corpus))),
    new Case("IncrementalMinHashDedup round-trips", Seq(onInput(
      IncrementalMinHashDedup(IncrementalMinHashDedup.signatures(evalDocs), thresholdBp = 7000), corpus))),
    new Case("DriftReport round-trips", Seq(onInput(
      DriftReport(Seq((1.0, 5L, "u"), (2.0, 150L, "w")).toDF("x", "k", "unmonitored"),
        Map("x" -> Seq(2.0), "k" -> Seq(100.0)), thresholdBp = 2000L),
      Seq((1.0, 5L), (3.0, 300L)).toDF("x", "k")))),
    new Case("DupClusters round-trips", {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      Seq(onInput(DupClusters(allDocs = Some(Seq((1L, "a"), (20L, "b")).toDF("doc_id", "text"))), pairs),
        onInput(DupClusters(maxIters = 8), pairs))
    }),
    new Case("EvalRanking round-trips", Seq(onInput(EvalRanking(Seq((1L, "b", 0)).toDF("query_id", "item_id", "x"), k = 5),
      Seq((1L, "a", 1), (1L, "b", 2)).toDF("query_id", "item_id", "rank")))),
    new Case("QuantizerDrift round-trips", Seq(onInput(QuantizerDrift(Seq(Seq(0.0, 0.0), Seq(3.0, 4.0)), fvecs), fvecs))),
    new Case("SignalReconcile round-trips, a nested Ensemble signal included", Seq(
      onInput(SignalReconcile(priorSignals, signal), signalCorpus),
      onInput(SignalReconcile(priorSignals, Ensemble(Seq(signal), signalCorpus.schema)), signalCorpus))),
    new Case("ReciprocalRankFusion round-trips", Seq(onInput(
      ReciprocalRankFusion(Seq((1L, 11L, 1), (1L, 13L, 2), (2L, 21L, 1)).toDF("query_id", "doc_id", "rank"),
        k0 = 30, topk = 3, outputCol = "s"),
      Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1)).toDF("query_id", "doc_id", "rank")))),
    new Case("IvfProbeCost round-trips", Seq(onInput(
      IvfProbeCost(probeItems, Seq(Seq(1.0, 0.0), Seq(0.0, 5.0)), nprobe = 1), probeQueries))),
    new Case("LshProbeCost round-trips", Seq(onInput(
      LshProbeCost(probeItems, Seq(0.0, 0.0), numBits = 2, nprobe = 2), probeQueries))),
    new Case("PqCodebookDrift round-trips", Seq(onInput(
      PqCodebookDrift(pqCenters, pqCodebooks, reference = fitems.withColumnRenamed("item_id", "vec_id")),
      fqueries))))

  table.foreach(c => test(c.name)(c.rows.foreach(check)))

  test("every concrete EnsembleOp case class has a round-trip row") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(
      classOf[EnsembleOp].getProtectionDomain.getCodeSource.getLocation.toURI)
    val opTypes = java.nio.file.Files.walk(root.resolve("graft")).iterator().asScala
      .map(root.relativize(_).toString).filter(_.endsWith(".class"))
      .map(f => Class.forName(f.stripSuffix(".class").replace('/', '.'), false, getClass.getClassLoader))
      .filter(c => classOf[EnsembleOp].isAssignableFrom(c) && classOf[Product].isAssignableFrom(c) &&
        !c.isInterface && !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .toSet
    assert(opTypes.size > 100, s"found only ${opTypes.size} op types under $root")
    val missing = opTypes -- table.flatMap(_.rows).map(_.op.getClass)
    assert(missing.isEmpty, s"op types without a round-trip row: ${missing.map(_.getName).toSeq.sorted.mkString(", ")}")
  }
}
