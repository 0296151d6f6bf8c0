package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Empty-batch and null-id semantics, pinned per op. The reference raises
  * on an empty Feast batch (feast.py:215-219) — a Feast-RPC constraint;
  * relational semantics here is empty-in → empty-out with the declared
  * schema, and null ids follow left-join behavior (row kept, features
  * null). These tests are the contract. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val features = Seq((10L, "A", 1.5), (11L, "B", 2.5))
    .toDF("item_id", "brand", "price")

  test("QueryFeatureStore: empty batch yields empty output with declared schema") {
    val empty = Seq.empty[Tuple1[Long]].toDF("item_id")
    val op = QueryFeatureStore(features, "item_id", includeId = true)
    val out = op.transform(empty)
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq == op.transformSchema(empty.schema).fieldNames.toSeq)
  }

  test("QueryFeatureStore: null and unmatched entity ids keep rows, null features") {
    val req = spark.createDataFrame(
      java.util.Arrays.asList(Row(10L), Row(null.asInstanceOf[Any]), Row(99L)),
      StructType(Seq(StructField("item_id", LongType))))
    val out = QueryFeatureStore(features, "item_id", includeId = true)
      .transform(req).orderBy(asc_nulls_first("item_id")).collect()
    assert(out.length == 3, "null/unmatched ids must not drop rows")
    assert(out(0).isNullAt(0) && out(0).isNullAt(1), "null id → null features")
    assert(out(1).getLong(0) == 10L && out(1).getString(1) == "A")
    assert(out(2).getLong(0) == 99L && out(2).isNullAt(1), "unmatched id → null features")
  }

  test("FilterCandidates: null candidate array stays null; empty stays empty") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Seq(1L, 2L), Seq(2L)),
        Row(2L, null, Seq(1L)),
        Row(3L, Seq.empty[Long], Seq(1L))),
      StructType(Seq(
        StructField("id", LongType),
        StructField("candidate_ids", ArrayType(LongType)),
        StructField("seen", ArrayType(LongType)))))
    val out = FilterCandidates("candidate_ids", "seen").transform(df)
      .orderBy("id").collect()
    assert(out(0).getSeq[Long](1) == Seq(1L))
    assert(out(1).isNullAt(1), "null input array → null output, row kept")
    assert(out(2).getSeq[Long](1).isEmpty)
  }

  test("SoftmaxSampling: empty candidate arrays yield empty ordered arrays") {
    val df = Seq((1L, Seq.empty[Long], Seq.empty[Double]))
      .toDF("requestId", "ids", "scores")
    val out = SoftmaxSampling("ids", "scores", topk = 5).transform(df).collect()
    assert(out.length == 1)
    assert(out(0).getSeq[Long](out(0).fieldIndex("ordered_ids")).isEmpty)
    assert(out(0).getSeq[Double](out(0).fieldIndex("ordered_scores")).isEmpty)
  }

  // exp(20 * -40) underflows to 0. numpy's division gives a +Inf key, so
  // the candidate ranks after every finite key, in both ANSI modes (a SQL
  // `/` fails the whole batch under ANSI and gives a null key, sampled
  // first, without it).
  test("SoftmaxSampling: an underflowed weight ranks last and the batch answers") {
    val df = Seq(
      (1L, Seq(5L, 6L, 7L, 8L), Seq(0.1, -40.0, 0.2, -0.3)),
      (2L, Seq(9L, 10L), Seq(0.5, 0.4)))
      .toDF("requestId", "ids", "scores")
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val out = SoftmaxSampling("ids", "scores", topk = 4).transform(df)
          .orderBy("requestId").select("ordered_ids", "ordered_scores")
          .as[(Seq[Long], Seq[Double])].collect()
        assert(out.length == 2, s"ansi=$ansi: every request answers")
        assert(out(0)._1.length == 4 && out(0)._1.last == 6L && out(0)._2.last == -40.0,
          s"ansi=$ansi: the underflowed candidate must rank last: ${out(0)}")
        assert(out(1)._1.toSet == Set(9L, 10L))
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
        case None => spark.conf.unset("spark.sql.ansi.enabled")
      }
    }
  }

  test("SoftmaxSampling: empty batch yields empty output") {
    val df = Seq.empty[(Long, Seq[Long], Seq[Double])]
      .toDF("requestId", "ids", "scores")
    assert(SoftmaxSampling("ids", "scores").transform(df).count() == 0)
  }

  test("Categorify: null values code to -1; empty batch yields empty output") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "x"), Row(2L, null.asInstanceOf[Any]), Row(3L, "x")),
      StructType(Seq(StructField("id", LongType), StructField("c", StringType))))
    val out = Categorify(Seq("c")).transform(df).orderBy("id").collect()
    assert(out(0).getInt(2) == 0 && out(2).getInt(2) == 0)
    assert(out(1).getInt(2) == -1, "null value must code to -1, not drop")

    val empty = df.filter(lit(false))
    assert(Categorify(Seq("c")).transform(empty).count() == 0)
  }

  test("StandardScale: empty batch yields empty output; null values pass through null") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 10L), Row(2L, null.asInstanceOf[Any]), Row(3L, 20L)),
      StructType(Seq(StructField("id", LongType), StructField("v", LongType))))
    val out = StandardScale(Seq("v")).transform(df).orderBy("id").collect()
    assert(!out(0).isNullAt(2) && !out(2).isNullAt(2))
    assert(out(1).isNullAt(2), "null input → null scaled value, row kept")
    assert(StandardScale(Seq("v")).transform(df.filter(lit(false))).count() == 0)
  }

  test("PointInTimeJoin: empty feature table keeps requests with null features") {
    val feats = Seq.empty[(Long, Long, String)].toDF("id", "ts", "v")
    val req = Seq((1L, 5L)).toDF("id", "ts")
    val out = PointInTimeJoin(feats, "id", "ts", Seq("v")).transform(req).collect()
    assert(out.length == 1 && out(0).isNullAt(2),
      "no feature history → request kept, feature null")
  }

  test("IntervalJoin: empty intervals and empty points both yield empty output") {
    val ivs = Seq.empty[(Long, Long, Long)].toDF("id", "s", "e")
    val pts = Seq((1L, 5L)).toDF("id", "ts")
    assert(IntervalJoin(ivs, "id", "s", "e", "ts").transform(pts).count() == 0)
    val ivs2 = Seq((1L, 0L, 10L)).toDF("id", "s", "e")
    assert(IntervalJoin(ivs2, "id", "s", "e", "ts")
      .transform(pts.filter(lit(false))).count() == 0)
  }

  test("HashSplit: null id yields null split, not a silent test-set assignment") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L), Row(null.asInstanceOf[Any])),
      StructType(Seq(StructField("id", LongType))))
    val out = HashSplit("id").transform(df).orderBy(asc_nulls_first("id")).collect()
    assert(out(0).isNullAt(out(0).fieldIndex("split")), "null id → null split")
    assert(!out(1).isNullAt(out(1).fieldIndex("split")))
  }

  test("DupClusters: empty pair list yields all-singleton clusters (or empty)") {
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DupClusters().transform(noPairs).count() == 0)
    val docs = Seq(1L, 2L).toDF("doc_id")
    val out = DupClusters(allDocs = Some(docs)).transform(noPairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 2L, true)))
  }

  test("mixing ops: empty inputs yield empty outputs with the declared schema") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String)].toDF("id", "stratum")
    val mix = UpsampleMix("id", "stratum", Map("a" -> 25000))
    assert(mix.transform(docs).count() == 0)
    assert(mix.transform(docs).schema.fieldNames.toSeq ==
      mix.transformSchema(docs.schema).fieldNames.toSeq)
    val scored = Seq.empty[(Long, String, Double)].toDF("id", "stratum", "score")
    Seq(false, true).foreach { approx =>
      val tf = TopFractionByGroup("stratum", "score", "id", Map("a" -> 5000),
        approx = approx)
      assert(tf.transform(scored).count() == 0)
      assert(tf.transform(scored).schema.fieldNames.toSeq ==
        tf.transformSchema(scored.schema).fieldNames.toSeq)
    }
  }

  test("NegativeSampling: empty input and empty catalog yield empty output") {
    val catalog = Seq(1L, 2L, 3L).toDF("item")
    val op = NegativeSampling(catalog, "user_id", "item_id", "item", k = 2)
    val empty = Seq.empty[(Long, Long)].toDF("user_id", "item_id")
    val out = op.transform(empty)
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq ==
      Seq("user_id", "item_id", "neg_item", "neg_rank"))
    // an empty catalog has no drawable index (idx mod 0 is null) — every
    // draw vanishes at the index join instead of crashing
    val emptyCat = Seq.empty[Tuple1[Long]].toDF("item")
    val pos = Seq((1L, 5L)).toDF("user_id", "item_id")
    val fromEmptyCat = NegativeSampling(emptyCat, "user_id", "item_id", "item", k = 2)
      .transform(pos)
    assert(fromEmptyCat.count() == 0)
  }

  test("ScrubSharedGrams: single-doc and empty corpora scrub nothing") {
    import spark.implicits._
    val one = Seq((1L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val out = ScrubSharedGrams(n = 3, minDocs = 2).transform(one).collect().head
    assert(out.getInt(2) == 0 && out.getString(3) == "aa bb cc dd ee",
      "no second document → nothing is shared → nothing scrubbed")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(ScrubSharedGrams().transform(none).count() == 0)
  }

  test("EmbeddingLookup: unmatched id keeps row with null embedding") {
    val embs = Seq((10L, Seq(1.0f))).toDF("vec_id", "embedding")
    val req = Seq(Tuple1(10L), Tuple1(11L)).toDF("id")
    val out = EmbeddingLookup(embs, "id").transform(req).orderBy("id").collect()
    assert(out(0).getSeq[Float](1) == Seq(1.0f))
    assert(out(1).isNullAt(1))
  }

  test("ValidateRequests: per-row errors, batch survives, splits cleanly") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 5.0), Row(null.asInstanceOf[Any], 5.0),
        Row(3L, 99.0), Row(4L, null.asInstanceOf[Any])),
      StructType(Seq(StructField("user_id", LongType),
        StructField("value", DoubleType))))
    val op = ValidateRequests(nonNull = Seq("user_id"),
      ranges = Map("value" -> (0.0, 25.0)))
    val out = op.transform(df).orderBy(asc_nulls_first("user_id")).collect()
    assert(out.length == 4, "no row may be dropped by validation")
    assert(out(0).getString(2) == "null: user_id")
    assert(out(1).isNullAt(2), "valid row → null error")
    assert(out(2).getString(2) == "out of range [0.0, 25.0]: value")
    assert(out(3).isNullAt(2), "null range value is a missing feature, not a range error")
    assert(op.valid(df).count() == 2 && op.rejected(df).count() == 2)
    assert(!op.valid(df).columns.contains("error"))
  }

  test("retrieval ops: empty request batch yields empty output, declared schema") {
    import spark.implicits._
    val items = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("item_id", "embedding")
    val empty = Seq.empty[(Long, Seq[Double])].toDF("user_id", "user_vec")
    val topk = TopKRetrieval(items, "user_id", "user_vec", k = 2)
    assert(topk.transform(empty).count() == 0)
    assert(topk.transform(empty).schema.fieldNames.toSeq ==
      Seq("user_id", "candidate_ids", "candidate_scores"))
    val lsh = AnnLsh(items, "user_id", "user_vec", k = 2, numBits = 4,
      metric = "dot", center = Some(Seq(0.5, 0.5)))
    assert(lsh.transform(empty).count() == 0)
    for ((name, op) <- retrievers(items)) {
      val out = op.transform(empty)
      assert(out.count() == 0, name)
      def shape(t: StructType) = t.map(f => f.name -> f.dataType.simpleString)
      assert(shape(out.schema) == shape(op.transformSchema(empty.schema)), name)
      assert(out.schema.fieldNames.toSeq ==
        Seq("user_id", "candidate_ids", "candidate_scores"), name)
    }
  }

  test("retrieval ops: null query vector contributes no candidates") {
    import spark.implicits._
    val items = Seq((1L, Seq(1.0, 0.0))).toDF("item_id", "embedding")
    val req = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(7L, Seq(1.0, 0.0)), Row(8L, null.asInstanceOf[Any])),
      StructType(Seq(StructField("user_id", LongType),
        StructField("user_vec", ArrayType(DoubleType)))))
    val out = TopKRetrieval(items, "user_id", "user_vec", k = 1).transform(req)
      .orderBy("user_id").collect()
    // a null vector is dropped up front (AnnLsh-consistent) — previously
    // the encoder coerced the null score to 0.0 and user 8 got arbitrary
    // candidates "scored" zero
    assert(out.map(_.getLong(0)).toSeq == Seq(7L))
    assert(out(0).getSeq[Long](1) == Seq(1L))
    // every retriever drops the null-vector row (8). Query 9 points away
    // from the only item, so every list it probes is empty: the IVF
    // tiers keep its row with empty arrays, LSH and PQ drop it, and the
    // exhaustive TopKRetrieval still scores the item
    val req3 = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(7L, Seq(1.0, 0.0)), Row(8L, null.asInstanceOf[Any]),
        Row(9L, Seq(-1.0, 0.0))),
      req.schema)
    val want = Map(
      "TopKRetrieval" -> Seq(7L -> Seq(1L), 9L -> Seq(1L)),
      "AnnIvf" -> Seq(7L -> Seq(1L), 9L -> Seq.empty[Long]),
      "AnnSq" -> Seq(7L -> Seq(1L), 9L -> Seq.empty[Long]),
      "AnnLsh" -> Seq(7L -> Seq(1L)),
      "AnnIvfPq" -> Seq(7L -> Seq(1L)),
      "AnnLsh resident" -> Seq(7L -> Seq(1L)),
      "AnnIvf resident" -> Seq(7L -> Seq(1L), 9L -> Seq.empty[Long]))
    for ((name, op) <- retrievers(items)) {
      val rows = op.transform(req3).orderBy("user_id").collect()
      assert(rows.map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq == want(name),
        name)
      assert(rows.forall(r => r.getSeq[Double](2).size == r.getSeq[Long](1).size), name)
    }
  }

  /** The five top-k retrievers over `items` for `(user_id, user_vec)`
    * requests, plus AnnLsh and AnnIvf serving from their resident index.
    * The quantizers split the plane at x = 0 (IVF/SQ/PQ centroids (1, 0)
    * and (-1, 0), LSH hyperplanes through the origin) and probe one
    * list, so a query opposite every item probes only empty lists. */
  private def retrievers(items: DataFrame): Seq[(String, graft.core.EnsembleOp)] = {
    val centers = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0))
    val lsh = AnnLsh(items, "user_id", "user_vec", k = 2, numBits = 4,
      nprobe = 1, metric = "dot", center = Some(Seq(0.0, 0.0)))
    val ivf = AnnIvf(items, centers, "user_id", "user_vec", k = 2, nprobe = 1)
    val residentLsh = lsh.withResidentTable
    val residentIvf = ivf.withResidentTable
    assert(residentLsh.resident.isDefined && residentIvf.resident.isDefined)
    Seq(
      "TopKRetrieval" -> TopKRetrieval(items, "user_id", "user_vec", k = 2),
      "AnnIvf" -> ivf,
      "AnnSq" -> AnnSq(items, centers, Seq(-1.0, 0.0), Seq(1.0, 1.0),
        "user_id", "user_vec", k = 2, nprobe = 1),
      "AnnLsh" -> lsh,
      "AnnIvfPq" -> AnnIvfPq(items, centers, Seq(Seq(Seq(0.0, 0.0))),
        "user_id", "user_vec", k = 2, nprobe = 1),
      "AnnLsh resident" -> residentLsh,
      "AnnIvf resident" -> residentIvf)
  }

  /** A retriever's output rows `(id, candidate_ids, candidate_scores)`,
    * sorted: the multiset two answers are compared as. */
  private def answers(out: DataFrame): Seq[(Long, Seq[Long], Seq[Double])] =
    sorted(out.collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getSeq[Double](2).toSeq)))

  private def sorted(a: Seq[(Long, Seq[Long], Seq[Double])]) =
    a.sortBy(r => (r._1, r._2.mkString(","), r._3.mkString(",")))

  /** What `op` answers when each row of `req` is sent alone. */
  private def aloneAnswers(op: graft.core.EnsembleOp, req: DataFrame) =
    answers(req.collect().toSeq.map(r => op.transform(
      spark.createDataFrame(java.util.Arrays.asList(r), req.schema))).reduce(_ union _))

  test("retrieval ops: each request row answers for itself, as if sent alone") {
    import spark.implicits._
    val items = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.5, 0.2)),
      (3L, Seq(-1.0, 0.0)), (4L, Seq(-0.5, -0.2))).toDF("item_id", "embedding")
    // a repeated identical row, and one id with two opposite vectors
    val repeated = Seq((7L, Seq(1.0, 0.0)), (7L, Seq(1.0, 0.0)), (8L, Seq(-1.0, 0.0)))
      .toDF("user_id", "user_vec")
    val twoVecs = Seq((7L, Seq(1.0, 0.0)), (7L, Seq(-1.0, 0.0)))
      .toDF("user_id", "user_vec")
    for ((name, op) <- retrievers(items); req <- Seq(repeated, twoVecs)) {
      val got = answers(op.transform(req))
      assert(got.size == req.count(), s"$name: one row per request row: $got")
      assert(got == aloneAnswers(op, req), name)
      assert(got.forall(a => a._2.distinct == a._2), s"$name: a repeated candidate in $got")
    }
  }

  test("AnnIvfPq refine: a repeated request row re-ranks only its own nominees") {
    import spark.implicits._
    val items = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.5, 0.2)), (3L, Seq(0.9, 0.1)))
      .toDF("item_id", "embedding")
    val pq = AnnIvfPq(items, Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0)), Seq(Seq(Seq(0.0, 0.0))),
      "user_id", "user_vec", k = 2, nprobe = 1, refine = 3)
    val req = Seq((7L, Seq(1.0, 0.0)), (7L, Seq(1.0, 0.0))).toDF("user_id", "user_vec")
    val got = answers(pq.transform(req))
    assert(got == Seq.fill(2)((7L, Seq(1L, 3L), Seq(1.0, 0.9))), s"$got")
    assert(got == aloneAnswers(pq, req))
  }

  test("retrieval ops: a shuffled parquet request keys each row once") {
    import spark.implicits._
    val items = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.5, 0.2)), (3L, Seq(0.8, -0.3)))
      .toDF("item_id", "embedding")
    val centers = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0))
    // (-1, 0) probes only the empty list; ids repeat with different vectors
    val vecs = Seq(Some(Seq(1.0, 0.0)), Some(Seq(0.6, 0.4)), Some(Seq(-1.0, 0.0)), None)
    val dir = java.nio.file.Files.createTempDirectory("edge_req").toString
    (0 until 24).map(i => (i % 5L, vecs(i % 4))).toDF("user_id", "user_vec")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val req = spark.read.parquet(dir).repartition(4)
    assert(req.rdd.getNumPartitions >= 3)
    val ops = Seq(
      "AnnIvf" -> AnnIvf(items, centers, "user_id", "user_vec", k = 2, nprobe = 1),
      "AnnSq" -> AnnSq(items, centers, Seq(-1.0, -1.0), Seq(1.0, 1.0),
        "user_id", "user_vec", k = 2, nprobe = 1),
      "AnnIvfPq" -> AnnIvfPq(items, centers, Seq(Seq(Seq(0.0, 0.0))),
        "user_id", "user_vec", k = 2, nprobe = 1, refine = 3))
    for ((name, op) <- ops) {
      // each row's answer depends on its vector only: send each vector
      // alone once and give every request row its vector's answer
      val alone = vecs.map(v => v -> answers(op.transform(
        Seq((0L, v)).toDF("user_id", "user_vec"))).map(a => (a._2, a._3))).toMap
      val rows = req.collect().toSeq.map(r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getSeq[Double](1).toSeq)))
      val expected = sorted(rows.flatMap { case (id, v) => alone(v).map(a => (id, a._1, a._2)) })
      assert(answers(op.transform(req)) == expected, name)
      if (name != "AnnIvfPq")
        assert(expected.count(_._2.isEmpty) == 6, s"$name: the empty-list rows keep their row")
    }
  }

  test("Bucketize: half-open bin edges, null passes through null") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 5.0), Row(2L, 10.0), Row(3L, 24.999), Row(4L, 25.0),
        Row(5L, 100.0), Row(6L, null.asInstanceOf[Any])),
      StructType(Seq(StructField("id", LongType), StructField("x", DoubleType))))
    val out = Bucketize(Map("x" -> Seq(10.0, 25.0))).transform(df)
      .orderBy("id").collect()
    val bins = out.map(r => if (r.isNullAt(2)) null else r.getInt(2))
    assert(bins.toSeq == Seq(0, 1, 1, 2, 2, null), s"got ${bins.toSeq}")
    // schema: categorical tag + cardinality = #splits + 1
    val f = Bucketize(Map("x" -> Seq(10.0, 25.0)))
      .transformSchema(df.schema).apply("x_bucket")
    assert(graft.core.Tags.of(f).contains(graft.core.Tags.Categorical))
    assert(f.metadata.getLong(graft.core.Tags.CardinalityKey) == 3L)
  }

  test("RepetitionStats: null or empty text yields keep=false, never null") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, null.asInstanceOf[Any]), Row(2L, ""),
        Row(3L, "the quick brown fox jumps over one lazy dog soon while " +
          "distant owls watch silver clouds drift across autumn skies")),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val out = RepetitionStats().transform(df).orderBy("doc_id").collect()
    val keepIdx = out(0).fieldIndex("keep")
    assert(!out(0).getBoolean(keepIdx), "null text must not keep")
    assert(!out(1).getBoolean(keepIdx), "empty text must not keep")
    assert(out(2).getBoolean(keepIdx))
    assert(out.forall(!_.isNullAt(keepIdx)), "verdict is never null")
  }

  test("Decontaminate: empty eval set marks everything clean; null text is clean") {
    import spark.implicits._
    val train = Seq((1L, Option("alpha beta gamma")), (2L, None))
      .toDF("doc_id", "text")
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Decontaminate(emptyEval, n = 2).transform(train)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out.forall(!_.getBoolean(3)), "nothing to match against → all clean")
    assert(out(1).getLong(2) == 0L, "null text has zero matched grams")
  }

  test("PackChunks: empty input yields empty output with the declared schema") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("doc_id", "chunk_id", "n_tokens")
    val op = PackChunks(budget = 64, shards = 4)
    val out = op.transform(empty)
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq ==
      Seq("doc_id", "chunk_id", "n_tokens", "shard", "pack_id", "pack_pos"))
    // non-integral ids fail at schema time, not as silent row loss
    val stringy = Seq(("doc-1", 0L, 10L)).toDF("doc_id", "chunk_id", "n_tokens")
    assertThrows[IllegalArgumentException](op.transformSchema(stringy.schema))
  }

  test("SemanticNearDup: empty input and sub-threshold corpora yield no pairs") {
    import spark.implicits._
    val op = SemanticNearDup(Seq(Seq(0.0, 0.0)))
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(op.transform(empty).count() == 0)
    val orthogonal = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    assert(op.transform(orthogonal).count() == 0, "cos 0 < threshold")
  }

  test("MeanPoolEmbeddings: empty input and null vectors yield empty output") {
    import spark.implicits._
    val empty = Seq.empty[(Int, Array[Float])].toDF("label", "embedding")
    assert(MeanPoolEmbeddings().transform(empty).count() == 0)
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(Row(1, null.asInstanceOf[Any])),
      StructType(Seq(StructField("label", IntegerType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(MeanPoolEmbeddings().transform(withNull).count() == 0,
      "a null vector contributes no (key, dim) rows")
  }

  test("contamination family: empty corpus in, empty out with declared schema") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val evalDocs = Seq((9L, "some eval benchmark text here")).toDF("doc_id", "text")
    val evalVecs = Seq((9L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    for (op <- Seq(
        FuzzyDecontaminate(evalDocs, n = 3, thresholdBp = 5000),
        Purge(evalDocs.select("doc_id")),
        PrefixDedup(n = 4),
        SnapshotDiff(emptyDocs))) {
      val out = op.transform(emptyDocs)
      assert(out.count() == 0, s"${op.name}: empty in, empty out")
      assert(out.schema.fieldNames.toSeq ==
        op.transformSchema(emptyDocs.schema).fieldNames.toSeq,
        s"${op.name}: declared schema must hold on empty input")
    }
    val sd = SemanticDecontaminate(evalVecs, threshold = 0.5)
    assert(sd.transform(emptyVecs).count() == 0)
  }

  test("contamination family: null text scans nothing and stays clean") {
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "real content words here today"),
        Row(2L, null.asInstanceOf[Any])),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val eval = Seq((9L, "real content words here yesterday")).toDF("doc_id", "text")
    val out = FuzzyDecontaminate(eval, n = 3, thresholdBp = 3000)
      .transform(docs).orderBy("doc_id").collect()
    assert(out.length == 2, "null-text rows must not drop")
    assert(!out(1).getBoolean(3) && out(1).isNullAt(2),
      "null text has no shingles: clean, null max")
    // SnapshotDiff: null vs null is unchanged, null vs text is changed
    val oldSnap = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, null.asInstanceOf[Any]), Row(2L, null.asInstanceOf[Any])),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val diff = SnapshotDiff(oldSnap).transform(docs).orderBy("doc_id").collect()
    assert(diff(0).getString(3) == "changed" && diff(1).getString(3) == "unchanged")
  }

  test("round-8 ops: empty inputs yield empty outputs with declared schemas") {
    val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Long, Double)]
      .toDF("user_id", "ts", "event_id", "value")
    assert(ResampleLocf().transform(emptyEvents).count() == 0)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(BoilerplateReport(n = 3).transform(emptyDocs).count() == 0)
    val emptyRanked = Seq.empty[(Long, String, Int)]
      .toDF("query_id", "item_id", "rank")
    val rel = Seq((1L, "a")).toDF("query_id", "item_id")
    assert(EvalRanking(rel).transform(emptyRanked).count() == 0)
    // a degenerate single-boundary isotonic model is a constant function
    val flat = CalibrateScores(Seq(2.0), Seq(0.5))
    val out = flat.transform(Seq((1L, -10.0), (2L, 2.0), (3L, 99.0))
      .toDF("id", "score")).select("calibrated").collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.5, 0.5, 0.5))
  }

  test("Bm25 incremental ingest with an EMPTY batch is the identity") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val idx = Bm25Index.fit(docs, "doc_id", "text")
    val same = idx.updatedWith(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    assert(same.docCount == idx.docCount && same.avgdl == idx.avgdl)
    val qs = Seq((1L, "beta")).toDF("query_id", "query_text")
    assert(same.asRows(qs).collect().toSeq == idx.asRows(qs).collect().toSeq)
  }
}
