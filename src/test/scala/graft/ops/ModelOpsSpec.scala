package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Forest-classifier semantics mirroring the reference FIL contract
  * (fil.py:124-210; tests/unit/systems/ops/fil/test_forest.py:44-84):
  * output_class → class id via threshold, predict_proba → per-class
  * scores, multiclass → argmax. */
class ModelOpsSpec extends SparkSpec {
  import spark.implicits._

  // Perfectly separable binary data: x < 50 → 0, x >= 50 → 1.
  private lazy val binary = (0 until 100)
    .map(i => (i.toLong, i.toDouble, if (i >= 50) 1.0 else 0.0))
    .toDF("id", "x", "label")

  private lazy val binaryClf =
    PredictForestClassifier.train(binary, Seq("x"), "label", numTrees = 10, maxDepth = 4)

  test("outputClass applies the threshold to P(class 1)") {
    val proba = binaryClf.copy(predictProba = true).transform(binary)
      .select($"id", $"output__0".getItem(1).as("p1"))
    val classDefault = binaryClf.transform(binary)
      .select($"id", $"output__0".as("cls"))
    // hand-compute: class = 1 iff p1 >= 0.5 (default threshold)
    val joined = proba.join(classDefault, "id")
    assert(joined.filter(($"p1" >= 0.5) =!= ($"cls" === 1.0)).count() == 0)

    // extreme (but in-contract) thresholds pin the decision
    val all1 = binaryClf.copy(threshold = 0.0).transform(binary)
    assert(all1.filter($"output__0" =!= 1.0).count() == 0, "threshold 0 → always class 1")
    val strict = binaryClf.copy(threshold = 1.0).transform(binary)
      .select($"id", $"output__0".as("cls"))
      .join(binaryClf.copy(predictProba = true).transform(binary)
        .select($"id", $"output__0".getItem(1).as("p1")), "id")
    assert(strict.filter(($"cls" === 1.0) =!= ($"p1" >= 1.0)).count() == 0,
      "threshold 1 → class 1 only on unanimous votes")

    // and the learned classes are actually right on separable data
    val acc = binaryClf.transform(binary)
      .filter($"output__0" === $"label").count()
    assert(acc >= 95, s"expected near-perfect separation, got $acc/100")
  }

  test("predictProba emits a probability vector per class that sums to 1") {
    val out = binaryClf.copy(predictProba = true).transform(binary)
    assert(out.schema("output__0").dataType == ArrayType(DoubleType, false) ||
      out.schema("output__0").dataType.isInstanceOf[ArrayType])
    val sums = out.select(aggregate($"output__0", lit(0.0), _ + _).as("s"))
      .select(abs($"s" - 1.0).as("d")).agg(max("d")).head.getDouble(0)
    assert(sums < 1e-9, "per-row class probabilities must sum to 1")
    assert(out.select(size($"output__0")).head.getInt(0) == 2)
  }

  test("multiclass outputs argmax class id; unsupported shapes fail fast") {
    val tri = (0 until 150)
      .map(i => (i.toLong, i.toDouble, (i / 50).toDouble))
      .toDF("id", "x", "label")
    val clf = PredictForestClassifier.train(tri, Seq("x"), "label",
      numTrees = 10, maxDepth = 4)
    val out = clf.transform(tri)
    // argmax of the probability vector == emitted class id
    val withProba = clf.copy(predictProba = true).transform(tri)
      .select($"id", $"output__0".as("p"))
      .join(out.select($"id", $"output__0".as("cls")), "id")
      .withColumn("argmax",
        expr("array_position(p, array_max(p)) - 1").cast("double"))
    assert(withProba.filter($"argmax" =!= $"cls").count() == 0)
    // separable 3-class data → high accuracy
    assert(out.filter($"output__0" === $"label").count() >= 140)
    // the reference rejects unsupported shapes at wrap time
    // (fil.py:360-373); so do we, with the shape named in the message:
    // a binary-only threshold on a 3-class model...
    val thresholdErr = intercept[IllegalArgumentException] {
      clf.copy(threshold = 0.99).transform(tri)
    }
    assert(thresholdErr.getMessage.contains("binary classifiers only") &&
      thresholdErr.getMessage.contains("3 classes"), thresholdErr.getMessage)
    // ...raw positive-class score on a 3-class model...
    val rawErr = intercept[IllegalArgumentException] {
      clf.copy(outputClass = false).transformSchema(tri.schema)
    }
    assert(rawErr.getMessage.contains("binary-only"), rawErr.getMessage)
    // ...and a threshold that is not a probability at all
    val rangeErr = intercept[IllegalArgumentException] {
      binaryClf.copy(threshold = 1.5)
    }
    assert(rangeErr.getMessage.contains("[0, 1]"), rangeErr.getMessage)
  }

  test("raw-score mode (outputClass=false) returns the positive-class score") {
    val raw = binaryClf.copy(outputClass = false).transform(binary)
      .select($"id", $"output__0".as("score"))
    val proba = binaryClf.copy(predictProba = true).transform(binary)
      .select($"id", $"output__0".getItem(1).as("p1"))
    assert(raw.join(proba, "id").filter($"score" =!= $"p1").count() == 0)
  }

  // The broadcast-budget gate: a forced-tiny budget routes scoring through
  // the partitioned (no-driver-collect) path, which must return the same
  // per-user top-N ids as the blocked broadcast loop.
  test("PredictImplicit size gate: partitioned fallback matches the blocked path") {
    val rnd = new scala.util.Random(3)
    val inter = (for {
      u <- 1 to 30; _ <- 1 to 6
    } yield (u, rnd.nextInt(40) + 1, rnd.nextInt(5) + 1.0f)).toDF("user", "item", "strength")
    val model = PredictImplicit.train(inter, "user", "item", "strength",
      rank = 4, maxIter = 3)
    val req = (1 to 30).map(_.toLong).toDF("user_id")
    val blocked = PredictImplicit.fromModel(model, numToRecommend = 5).transform(req)
    val gated = PredictImplicit.fromModel(model, numToRecommend = 5,
      broadcastBudgetBytes = 1L) // any catalog exceeds 1 byte → fallback
      .transform(req)
    // the fallback really is partition-parallel: no broadcast of factors
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("CartesianProduct"), plan.take(500))
    def byUser(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1).toSeq, r.getSeq[Float](2).toSeq))).toMap
    val (b, g) = (byUser(blocked), byUser(gated))
    assert(b.keySet == g.keySet)
    b.foreach { case (u, (ids, scores)) =>
      assert(g(u)._1 == ids, s"user $u: ids must match the blocked path")
      ids.indices.foreach(i =>
        assert(math.abs(g(u)._2(i) - scores(i)) < 1e-5f, s"user $u score $i"))
    }
    // schema parity between the two physical paths (modulo nullability,
    // which encoders vs casts legitimately disagree on)
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType.sql)).toSeq
    assert(shape(blocked.schema) == shape(gated.schema))
  }

  test("CalibrateScores replays MLlib isotonic predict exactly") {
    val rnd = new scala.util.Random(5)
    val fit = (1 to 200).map { _ =>
      val s = rnd.nextInt(20).toDouble
      // noisy monotone labels: higher score, higher hit rate
      (if (rnd.nextDouble() < s / 25.0) 1.0 else 0.0, s)
    }.toDF("label", "score")
    val m = new org.apache.spark.ml.regression.IsotonicRegression()
      .setLabelCol("label").setFeaturesCol("score").fit(fit)
    val op = CalibrateScores(m.boundaries.toArray.toSeq,
      m.predictions.toArray.toSeq)
    // probes: below range, exact boundaries, interior points, above range
    val probes = (Seq(-5.0, 100.0) ++ m.boundaries.toArray.toSeq ++
      m.boundaries.toArray.toSeq.sliding(2).collect {
        case Seq(a, b) => (a + b) / 2
      }).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "score")
    val got = op.transform(probes).select("id", "calibrated")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = m.setFeaturesCol("score").setPredictionCol("p")
      .transform(probes).select("id", "p")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want,
      "expression calibration must equal MLlib's predict bit-for-bit")
    // null score -> null calibration; duplicated boundaries rejected
    val n = op.transform(Seq((1L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "score")).head()
    assert(n.isNullAt(2))
    intercept[IllegalArgumentException] {
      CalibrateScores(Seq(1.0, 1.0), Seq(0.1, 0.9))
    }
  }

  // A bad artifact path reads back as an empty factor table; the op must
  // name itself in the failure, not surface head()'s NoSuchElementException.
  test("PredictImplicit fails loudly on an empty item-factor table") {
    val empty = Seq.empty[(Int, Seq[Float])].toDF("id", "features")
    val users = Seq((1, Seq(1.0f))).toDF("id", "features")
    val req = Seq(1L).toDF("user_id")
    val e = intercept[IllegalArgumentException] {
      PredictImplicit(users, empty, numToRecommend = 3).transform(req)
    }
    assert(e.getMessage.contains("item-factor table is empty"), e.getMessage)
  }

  test("TopKRetrieval ignores null item vectors and deduplicates repeated query rows") {
    val items = Seq((1L, Seq(-1.0, 0.0)), (2L, Seq(-0.5, 0.0)),
      (3L, null: Seq[Double])).toDF("item_id", "embedding")
    val q = Seq((10L, Seq(1.0, 0.0)), (10L, Seq(1.0, 0.0)))
      .toDF("qid", "qvec")
    val out = TopKRetrieval(items, "qid", "qvec", k = 4).transform(q).collect()
    assert(out.length == 2, "each request row answers for itself")
    for (row <- out) {
      val ids = row.getAs[scala.collection.Seq[Long]]("candidate_ids")
      // both real items score negative; a null item would have surfaced as
      // a phantom 0.0-scored leader — and merged dup queries would double the ids
      assert(ids.toSeq == Seq(2L, 1L),
        s"no phantom null-vector candidate, no duplicated ids: $ids")
    }
  }

  test("PredictClassifier scores null feature rows as NULL instead of NPE-ing") {
    val train = Seq((Seq(1.0, 0.0), 1.0), (Seq(0.0, 1.0), 0.0),
      (Seq(0.9, 0.1), 1.0), (Seq(0.1, 0.9), 0.0)).toDF("emb", "label")
    val clf = PredictClassifier.trainLogistic(train, "emb", "label")
    val score = Seq((1L, Seq(1.0, 0.0)), (2L, null: Seq[Double]))
      .toDF("id", "emb")
    val out = clf.transform(score).orderBy("id").collect()
    assert(out(0).getAs[Double]("prediction") == 1.0)
    assert(out(1).isNullAt(out(1).fieldIndex("prediction")),
      "null features -> NULL prediction, never a crash")
  }

  test("CalibrateScores sends NaN scores to the LAST prediction (MLlib parity)") {
    val op = CalibrateScores(boundaries = Seq(0.0, 1.0, 2.0),
      predictions = Seq(0.1, 0.5, 0.9), scoreCol = "s")
    val out = op.transform(Seq(Double.NaN, -5.0, 5.0).toDF("s"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val byScore = out.map { case (k, v) => (if (k.isNaN) "nan" else k.toString) -> v }.toMap
    assert(byScore("nan") == 0.9,
      "NaN ranks above every boundary in MLlib's binarySearch -> predictions.last")
    assert(byScore("-5.0") == 0.1 && byScore("5.0") == 0.9)
  }

  test("TopKRetrieval survives a dimension-mismatched item vector (NULL score skipped)") {
    val items = Seq((1L, Seq(-1.0, 0.0)), (2L, Seq(0.5, 0.5, 0.5))) // dim mismatch
      .toDF("item_id", "embedding")
    val q = Seq((10L, Seq(1.0, 0.0))).toDF("qid", "qvec")
    // pre-fix this killed the job ("Null value appeared in non-nullable
    // field") — the mismatched item's NULL dot must simply not compete
    val out = TopKRetrieval(items, "qid", "qvec", k = 4).transform(q).collect().head
    assert(out.getAs[scala.collection.Seq[Long]]("candidate_ids").toSeq == Seq(1L),
      s"only the well-formed item competes: $out")
  }
}
