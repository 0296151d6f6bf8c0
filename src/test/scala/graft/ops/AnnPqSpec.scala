package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** AnnIvfPq semantics: ADC scoring must equal decode-then-dot on exactly
  * representable vectors, the encoder must pick nearest codebook entries,
  * and the fitted index must hit a recall floor vs brute force. */
class AnnPqSpec extends SparkSpec {
  import spark.implicits._

  // dim 4, m=2 subspaces of dsub=2; all values dyadic (exact doubles), so
  // every dot/sum below is exact regardless of association order
  private val centers = Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(8.0, 8.0, 8.0, 8.0))
  private val codebooks = Seq(
    Seq(Seq(0.5, 0.25), Seq(-0.5, 1.0)),  // subspace 0
    Seq(Seq(2.0, 0.0), Seq(0.0, -2.0)))   // subspace 1

  private def op(items: org.apache.spark.sql.DataFrame, k: Int = 3,
      nprobe: Int = 2) =
    AnnIvfPq(items, centers, codebooks, "vec_id", "embedding",
      k = k, nprobe = nprobe)

  test("encode: residual subvectors map to nearest codebook entries; codes are compact") {
    // item 1 near center 0, its residual IS (codebook0[1], codebook1[0])
    // item 2 near center 1, residual exactly (codebook0[0], codebook1[1])
    val items = Seq(
      (1L, Seq(-0.5f, 1.0f, 2.0f, 0.0f)),
      (2L, Seq(8.5f, 8.25f, 8.0f, 6.0f))
    ).toDF("item_id", "embedding")
    val idx = op(items).index(items)
      .select("__item_id", "__cid", "__codes")
      .as[(Long, Int, Seq[Int])].collect()
      .map { case (id, cid, codes) => id -> ((cid, codes)) }.toMap
    assert(idx(1L) == ((0, Seq(1, 0))))
    assert(idx(2L) == ((1, Seq(0, 1))))
  }

  test("ADC score equals the exact dot on exactly-representable vectors") {
    // items whose residuals are exact codebook entries → decode(x̂) == x,
    // and with dyadic values the ADC sum q·c + Σ q_j·cb == dot(q, x) EXACTLY
    val items = Seq(
      (1L, Seq(-0.5f, 1.0f, 2.0f, 0.0f)),   // c0 + (cb0[1], cb1[0])
      (2L, Seq(0.5f, 0.25f, 0.0f, -2.0f)),  // c0 + (cb0[0], cb1[1])
      (3L, Seq(8.5f, 8.25f, 10.0f, 8.0f)),  // c1 + (cb0[0], cb1[0])
      (4L, Seq(7.5f, 9.0f, 8.0f, 6.0f))     // c1 + (cb0[1], cb1[1])
    ).toDF("item_id", "embedding")
    val queries = Seq(
      (100L, Seq(1.0f, 2.0f, -0.5f, 0.25f)),
      (200L, Seq(-1.0f, 0.5f, 4.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val got = op(items, k = 4, nprobe = 2).asRows(queries)
      .select("vec_id", "item_id", "score")
      .as[(Long, Long, Double)].collect()
      .map { case (q, i, s) => ((q, i), s) }.toMap
    val itemVecs = Map(
      1L -> Seq(-0.5, 1.0, 2.0, 0.0), 2L -> Seq(0.5, 0.25, 0.0, -2.0),
      3L -> Seq(8.5, 8.25, 10.0, 8.0), 4L -> Seq(7.5, 9.0, 8.0, 6.0))
    val queryVecs = Map(
      100L -> Seq(1.0, 2.0, -0.5, 0.25), 200L -> Seq(-1.0, 0.5, 4.0, 2.0))
    for (q <- queryVecs.keys; i <- itemVecs.keys) {
      val exact = queryVecs(q).zip(itemVecs(i)).map { case (a, b) => a * b }.sum
      assert(got((q, i)) == exact, s"query $q item $i: ${got((q, i))} != $exact")
    }
  }

  test("nprobe=1 restricts candidates to the nearest list") {
    val items = Seq(
      (1L, Seq(-0.5f, 1.0f, 2.0f, 0.0f)),  // list 0
      (3L, Seq(8.5f, 8.25f, 10.0f, 8.0f))  // list 1
    ).toDF("item_id", "embedding")
    val queries = Seq((100L, Seq(0.1f, 0.1f, 0.1f, 0.1f))).toDF("vec_id", "embedding")
    val ids = op(items, k = 5, nprobe = 1).asRows(queries)
      .select("item_id").as[Long].collect().toSet
    assert(ids == Set(1L)) // query sits at list 0; item 3 never scored
  }

  test("fit: end-to-end recall@10 >= 0.9 where the true top-10 is a tight 10-item cluster") {
    val rnd = new scala.util.Random(7)
    // 40 well-separated prototypes × 10 members, UNIT-NORMALIZED (dot ==
    // cosine, so probing nearest-L2 centroids aligns with the scoring
    // metric). The exact top-10 for a query near proto p IS p's cluster
    // (within-cluster cosine ≈ 0.99 vs ≈ 0 across), so the test demands
    // what PQ promises — cluster-level discrimination — and not what it
    // deliberately trades away (sub-resolution ranking WITHIN a tight
    // cluster, where an 8th-vs-11th distinction sits below quantization
    // error by design: PQ is a candidate generator).
    val protos = Array.fill(40)(Array.fill(16)(rnd.nextGaussian() * 4.0))
    def draw(c: Int): Seq[Float] = {
      val p = protos(c).map(v => v + rnd.nextGaussian() * 0.3)
      val n = math.sqrt(p.map(v => v * v).sum)
      p.map(v => (v / n).toFloat).toSeq
    }
    val items = (0 until 400).map(i => (i.toLong, draw(i % 40)))
      .toDF("item_id", "embedding")
    val queries = (0 until 20).map(c => (1000L + c, draw(c)))
      .toDF("vec_id", "embedding")
    val pq = AnnIvfPq.fit(items, "vec_id", "embedding",
      k = 10, nlist = 16, m = 4, ksub = 16, nprobe = 6, maxIter = 5, seed = 11L)
    val approx = pq.asRows(queries).select("vec_id", "item_id")
    val exact = TopKRetrieval(items, "vec_id", "embedding", k = 10, metric = "dot")
      .asRows(queries).select("vec_id", "item_id")
    val row = graft.queries.Evidence.recallRow(spark, approx, exact,
      Seq("vec_id", "item_id"), floorBp = 9000).head()
    assert(row.getAs[Long]("recall_bp") >= 9000)
  }

  test("refine re-ranks ADC candidates by the exact dot (scores are exact, order exact)") {
    // hand codebooks as above; with refine the top-k scores must equal
    // brute-force exact dots even for vectors NOT representable by the
    // codebooks (ADC only nominates; the exact pass decides)
    val rnd = new scala.util.Random(3)
    val items = (1L to 40L).map(i =>
      (i, Seq.fill(4)((rnd.nextGaussian() * 2).toFloat))).toDF("item_id", "embedding")
    val queries = Seq((100L, Seq(1.0f, -0.5f, 0.25f, 2.0f))).toDF("vec_id", "embedding")
    val pq = AnnIvfPq.fit(items, "vec_id", "embedding",
      k = 5, nlist = 2, m = 2, ksub = 8, nprobe = 2, maxIter = 5, seed = 5L)
      .copy(refine = 40) // nominate EVERYTHING → top-5 must be exactly brute force
    val got = pq.asRows(queries).select("rank", "item_id", "score")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    val exact = TopKRetrieval(items, "vec_id", "embedding", k = 5, metric = "dot")
      .asRows(queries).select("rank", "item_id", "score")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == exact.toSeq)
  }

  test("ensemble save/load round-trips the fitted PQ index") {
    import graft.core.{Ensemble, EnsemblePersistence}
    val items = Seq(
      (1L, Seq(-0.5f, 1.0f, 2.0f, 0.0f)), (2L, Seq(0.5f, 0.25f, 0.0f, -2.0f)),
      (3L, Seq(8.5f, 8.25f, 10.0f, 8.0f))).toDF("item_id", "embedding")
    val queries = Seq((100L, Seq(1.0f, 2.0f, -0.5f, 0.25f))).toDF("vec_id", "embedding")
    val pq = op(items, k = 3, nprobe = 2).copy(refine = 3)
    val dir = java.nio.file.Files.createTempDirectory("pq_roundtrip").toString
    EnsemblePersistence.save(Ensemble(Seq(pq), queries.schema), dir, spark)
    val loaded = EnsemblePersistence.load(dir, spark)
    assert(loaded.transform(queries).collect().toSeq ==
      pq.transform(queries).collect().toSeq)
  }

  test("PqCodebookDrift: identical batch reports zero drift and zero escapes") {
    val ref = Seq(
      (1L, Seq(-0.5f, 1.0f, 2.0f, 0.0f)), (2L, Seq(0.5f, 0.25f, 0.0f, -2.0f)),
      (3L, Seq(8.5f, 8.25f, 10.0f, 8.0f)), (4L, Seq(7.5f, 9.0f, 8.0f, 6.0f))
    ).toDF("vec_id", "embedding")
    val out = PqCodebookDrift(centers, codebooks, reference = ref)
      .transform(ref).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("ref_count") == r.getAs[Long]("new_count"))
      assert(r.getAs[Long]("drift_bp") == 0L, s"self-drift must be 0: $r")
      assert(r.getAs[Long]("n_far") == 0L,
        s"a reference vector cannot escape its own exact max: $r")
    }
    // shares within each subspace partition the batch: sum to 10000
    // modulo the integer-floor remainder (< #codes)
    val bySub = out.groupBy(_.getAs[Int]("subspace"))
    bySub.foreach { case (j, rows) =>
      val s = rows.map(_.getAs[Long]("ref_share_bp")).sum
      assert(s > 10000 - rows.size && s <= 10000,
        s"subspace $j shares must floor-partition 10000: $s")
    }
  }

  test("PqCodebookDrift: a shifted batch drives share drift and theta escapes") {
    val ref = Seq(
      (1L, Seq(-0.5f, 1.0f, 2.0f, 0.0f)), (2L, Seq(0.5f, 0.25f, 0.0f, -2.0f)),
      (3L, Seq(0.4f, 0.3f, 1.9f, 0.1f))).toDF("vec_id", "embedding")
    // every new vector's subspace-1 residual sits far past any reference
    // quantization error, and usage concentrates on one code
    val fresh = Seq(
      (10L, Seq(0.5f, 0.25f, 40.0f, 40.0f)),
      (11L, Seq(0.5f, 0.25f, 44.0f, -40.0f))).toDF("vec_id", "embedding")
    val out = PqCodebookDrift(centers, codebooks, reference = ref)
      .transform(fresh).collect()
    val sub1 = out.filter(_.getAs[Int]("subspace") == 1)
    assert(sub1.map(_.getAs[Long]("n_far")).sum == 2L,
      s"both shifted vectors must escape subspace 1's fitted radius: ${sub1.toSeq}")
    assert(out.exists(_.getAs[Long]("drift_bp") > 0L),
      "concentrated code usage must register as share drift")
    // new_count rows with no reference carrier keep a NULL theta
    out.filter(r => r.getAs[Long]("ref_count") == 0L).foreach { r =>
      assert(r.isNullAt(r.fieldIndex("theta_d2")))
      assert(r.getAs[Long]("n_far") == r.getAs[Long]("new_count"),
        "vectors on a never-fitted code are all escapes by definition")
    }
  }

  test("refitCodebooks: the cheap PQ drift action — codebooks re-fit, coarse quantizer frozen") {
    // fresh catalog sits in the SAME coarse regions (near centers 0/8)
    // but its residuals cluster at ±3 per subspace — nowhere near the
    // fitted codebook entries: the within-list drift mode
    // PqCodebookDrift exists to catch
    val fresh = Seq(
      (1L, Seq(3f, 3f, 3f, 3f)), (2L, Seq(-3f, -3f, -3f, -3f)),
      (3L, Seq(11f, 11f, 5f, 5f)), (4L, Seq(5f, 5f, 11f, 11f)),
      (5L, Seq(3f, 3f, -3f, -3f)), (6L, Seq(-3f, -3f, 3f, 3f))
    ).toDF("item_id", "embedding")
    val op0 = op(fresh)
    val op1 = AnnIvfPq.refitCodebooks(op0, fresh, maxIter = 5, seed = 3L)
    assert(op1.centers == op0.centers,
      "the coarse quantizer (probe routing, list layout) must be untouched")
    assert(op1.codebooks != op0.codebooks)
    // worst-case residual quantization error, measured by the drift
    // report's exact theta over the same catalog: the stale codebooks
    // leave every residual far from any entry; the refit ones cover the
    // two residual modes per subspace exactly (k=2 k-means over two
    // point clusters), so theta collapses to ~0
    def maxTheta(cbs: Seq[Seq[Seq[Double]]]): Double =
      PqCodebookDrift(centers, cbs, reference = fresh).transform(fresh)
        .agg(org.apache.spark.sql.functions.max("theta_d2")).head().getDouble(0)
    val stale = maxTheta(op0.codebooks)
    val refit = maxTheta(op1.codebooks)
    assert(stale > 1.0, s"drifted residuals must quantize badly pre-refit: $stale")
    assert(refit < 1e-9,
      s"refit codebooks must cover the residual modes exactly: $refit")
  }

  test("fail fast: nprobe out of range, ragged codebooks, dim mismatch, m not dividing dim") {
    val items = Seq((1L, Seq(0.1f, 0.2f, 0.3f, 0.4f))).toDF("item_id", "embedding")
    intercept[IllegalArgumentException] {
      op(items, nprobe = 3) } // nlist = 2
    intercept[IllegalArgumentException] {
      AnnIvfPq(items, centers, Seq(Seq(Seq(0.5, 0.25)), Seq(Seq(2.0))),
        "vec_id", "embedding") } // ragged dsub
    intercept[IllegalArgumentException] {
      AnnIvfPq(items, Seq(Seq(0.0, 0.0)), codebooks, "vec_id", "embedding",
        nprobe = 1) } // centroid dim 2 != m*dsub = 4
    val items4 = Seq(
      (1L, Seq(0.1f, 0.2f, 0.3f, 0.4f)), (2L, Seq(0.9f, 0.8f, 0.7f, 0.6f)),
      (3L, Seq(0.2f, 0.1f, 0.4f, 0.3f)), (4L, Seq(0.8f, 0.9f, 0.6f, 0.7f))
    ).toDF("item_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      AnnIvfPq.fit(items4, "vec_id", "embedding", nlist = 2, m = 3, ksub = 2) }
    assert(e.getMessage.contains("divisible"))
  }
}
