package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** AnnSq (IVF,SQ8) semantics: the encoder must round-to-nearest with
  * saturation, decode must invert exactly on grid-representable values,
  * reconstruction error is bounded by half a step per coordinate, the
  * fitted path must hit a recall floor vs brute force, and incremental
  * index ingest must equal a full rebuild. */
class AnnSqSpec extends SparkSpec {
  import spark.implicits._

  // dim 3; ranges chosen so steps are dyadic: [0,255]→step 1, [-2,2]→
  // step 4/255 (NOT dyadic — deliberately one non-dyadic step), [5,5]→
  // constant dimension (step 0)
  private val mins = Seq(0.0, -2.0, 5.0)
  private val maxs = Seq(255.0, 2.0, 5.0)
  private val centers = Seq(Seq(0.0, 0.0, 5.0), Seq(200.0, 0.0, 5.0))

  private def op(items: org.apache.spark.sql.DataFrame, k: Int = 3,
      nprobe: Int = 2) =
    AnnSq(items, centers, mins, maxs, "vec_id", "embedding", k = k, nprobe = nprobe)

  test("encode rounds to nearest code, saturates out-of-range, zeros constant dims") {
    val items = Seq(
      (1L, Seq(0.0f, -2.0f, 5.0f)),     // exact lows → code 0
      (2L, Seq(255.0f, 2.0f, 5.0f)),    // exact highs → code 255
      (3L, Seq(127.49f, 1.0f, 5.0f)),   // 127.49 → 127 (floor(x+0.5)); 1.0 → 191 (191.25 rounds down)
      (4L, Seq(-10.0f, 3.0f, 7.0f))     // below/above range → saturate 0/255; const dim → 0
    ).toDF("item_id", "embedding")
    val codes = op(items).index(items)
      .select("__item_id", "__codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes(1L) == Seq(0, 0, 0))
    assert(codes(2L) == Seq(255, 255, 0))
    assert(codes(3L) == Seq(127, 191, 0))
    assert(codes(4L) == Seq(0, 255, 0))
  }

  test("decode inverts encode exactly on grid values; constant dims decode to the constant") {
    // values ON the quantization grid of dim 0 (step 1: integers) and the
    // constant dim reconstruct exactly
    val items = Seq((1L, Seq(42.0f, -2.0f, 5.0f))).toDF("item_id", "embedding")
    val o = op(items)
    val rec = items.select(o.decode(o.encode(col("embedding"))).as("r"))
      .as[Seq[Double]].head()
    assert(rec(0) == 42.0)
    assert(rec(1) == -2.0) // code 0 → lo exactly
    assert(rec(2) == 5.0)  // step 0 → constant
  }

  test("reconstruction error is bounded by half a step per coordinate") {
    val rng = new scala.util.Random(7)
    val items = (1L to 50L).map(i =>
      (i, Seq(rng.nextFloat() * 255f, rng.nextFloat() * 4f - 2f, 5.0f)))
      .toDF("item_id", "embedding")
    val o = op(items)
    val maxErr = items.select(
      o.decode(o.encode(col("embedding"))).as("r"), col("embedding"))
      .select(aggregate(zip_with(col("r"), col("embedding").cast("array<double>"),
        (a, b) => abs(a - b)), lit(0.0), (acc, x) => greatest(acc, x)).as("e"))
      .agg(max("e")).head().getDouble(0)
    val halfStep = math.max(255.0 / 255.0, 4.0 / 255.0) / 2.0 + 1e-9
    assert(maxErr <= halfStep, s"max |v̂ − v| = $maxErr > half-step $halfStep")
  }

  test("fitted SQ8 top-k hits a recall floor vs brute force; scores are reconstructed dots") {
    val rng = new scala.util.Random(3)
    def vec() = Seq.fill(8)(rng.nextFloat() * 2f - 1f)
    val items = (1L to 300L).map(i => (i, vec())).toDF("item_id", "embedding")
    val queries = (1000L to 1019L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val fitted = AnnSq.fit(items, "vec_id", "embedding", k = 10, nlist = 8,
      nprobe = 8, maxIter = 5, seed = 42L) // full probe → recall loss is ONLY quantization
    val approx = fitted.asRows(queries).select("vec_id", "item_id")
      .as[(Long, Long)].collect().toSet
    val exact = TopKRetrieval(items, "vec_id", "embedding", k = 10, metric = "dot")
      .asRows(queries).select("vec_id", "item_id")
      .as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"full-probe SQ8 recall@10 = $recall < 0.9")
  }

  test("incremental index ingest equals a full rebuild (frozen quantizers)") {
    val rng = new scala.util.Random(11)
    val items = (1L to 100L).map(i =>
      (i, Seq(rng.nextFloat() * 255f, rng.nextFloat() * 4f - 2f, 5.0f)))
      .toDF("item_id", "embedding")
    val o = op(items)
    val prior = AnnSq.index(items.filter($"item_id" % 3 =!= 0), centers, mins, maxs)
    val updated = o.updatedIndex(prior, items.filter($"item_id" % 3 === 0))
    val rebuilt = o.index(items)
    assert(updated.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(updated).isEmpty,
      "incrementally-ingested SQ index differs from the full rebuild")
  }

  test("probe plan: candidate generation is a __cid equi-join, never all-pairs") {
    val items = (1L to 20L).map(i => (i, Seq(i.toFloat, 0f, 5f))).toDF("item_id", "embedding")
    val queries = Seq((1L, Seq(1f, 0f, 5f))).toDF("vec_id", "embedding")
    val plan = op(items, nprobe = 1).asRows(queries)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"SQ probe fell back to an all-pairs join:\n$plan")
  }

  test("ensemble persistence round-trips the fitted SQ op") {
    import graft.core.{Ensemble, EnsemblePersistence}
    val items = Seq((1L, Seq(10.0f, 0.5f, 5.0f)), (2L, Seq(200.0f, -1.0f, 5.0f)))
      .toDF("item_id", "embedding")
    val queries = Seq((9L, Seq(100.0f, 0.0f, 5.0f))).toDF("vec_id", "embedding")
    val o = op(items, k = 2)
    val dir = java.nio.file.Files.createTempDirectory("sq_ens").toString
    EnsemblePersistence.save(Ensemble(Seq(o), queries.schema), dir, spark)
    val back = EnsemblePersistence.load(dir, spark)
    val a = o.asRows(queries).collect().map(_.toSeq).toSeq
    val b = back.ops.head.asInstanceOf[AnnSq].asRows(queries).collect().map(_.toSeq).toSeq
    assert(a == b, "reloaded SQ op scores differently")
  }

  test("encodeExpr propagates a NULL vector element instead of encoding min_d") {
    import org.apache.spark.sql.functions._
    val df = Seq(1).toDF("i").select(
      AnnSq.encodeExpr(typedLit(Seq[java.lang.Double](0.5, null)),
        mins = Seq(0.0, 0.0), steps = Seq(1.0 / 255, 1.0 / 255)).as("codes"))
    val codes = df.collect().head.getAs[scala.collection.Seq[Any]]("codes")
    assert(codes(0) == 128, s"real element quantizes: $codes")
    assert(codes(1) == null,
      s"null element must encode NULL, never code 0 (= min_d): $codes")
  }
}
