package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.broadcast.Broadcast
import graft.core.EnsembleOp
import graft.functions.{AnnTable, LshRouting, VectorFunctions}

/** Approximate nearest neighbour via sign-random-projection LSH — the
  * scale path for [[TopKRetrieval]] when the item set cannot be broadcast
  * (the analog of the reference's `IVF32,Flat` index with `nprobe=8`,
  * /root/reference/merlin/systems/dag/ops/faiss.py:213-214).
  *
  * Index: each vector hashes to a `numBits`-bit bucket; bit p is the sign
  * of the projection onto a deterministic ±1 hyperplane whose entries are
  * read from bit p of `xxhash64(d)` — no stored model, any executor can
  * recompute it in one pass over the vector.
  * Query: probe the home bucket plus `nprobe-1` single-bit-flip neighbours,
  * shuffle-join on bucket id (items partition by bucket — co-located,
  * never all-pairs), then bounded-heap top-k per query. Recall rises with
  * `nprobe`; cost per query is |bucket|·nprobe instead of |items|.
  *
  * Resident serving: [[withResidentTable]] (called by
  * [[graft.core.EnsemblePersistence.load]]) buckets the catalog once,
  * through [[AnnLsh.index]] with the persisted center, into a broadcast
  * bucket → (ids, vectors) [[graft.functions.AnnTable]]. Any request is
  * then answered by one narrow [[graft.functions.AnnProbeTopK]]
  * projection ([[Resident.annProbe]]): per request row, the same probes,
  * scores and top-k order as the probe join, and a query whose probed
  * buckets are empty still drops out. An index above
  * `spark.sql.autoBroadcastJoinThreshold` and every in-memory op take
  * the probe join ([[AnnIndex.transformIndexed]]).
  */
case class AnnLsh(
    items: DataFrame,
    queryIdCol: String,
    queryVecCol: String,
    itemIdCol: String = "item_id",
    itemVecCol: String = "embedding",
    k: Int = 10,
    numBits: Int = 8,
    nprobe: Int = 4,
    metric: String = "cosine",
    center: Option[Seq[Double]] = None,
    resident: Option[Broadcast[AnnTable]] = None) extends AnnIndex {

  require(nprobe >= 1 && nprobe <= numBits + 1, s"$name: nprobe in [1, numBits+1]")

  /** The hyperplane center: the fit-time `center` when given (persisted
    * ensembles MUST pass it — double partial-agg merge order makes a
    * recomputed mean drift in the last bits, flipping borderline bucket
    * signs), else the item mean computed here (one job, dictionary scale;
    * memoized — transform touches it from both the index and probe sides). */
  @transient lazy val resolvedCenter: Seq[Double] =
    center.getOrElse(VectorFunctions.meanVector(items, itemVecCol).toSeq)

  def index(items: DataFrame): DataFrame =
    AnnLsh.index(items, resolvedCenter, numBits, itemIdCol, itemVecCol)
  def listCol: String = "__bucket"
  def listCount: Long = 1L << numBits
  def keepEmpty: Boolean = false
  def ingestAppId: String = "lsh-ingest"

  /** Probes: the home bucket plus `nprobe-1` single-bit flips. Bucket
    * id: numBits sign-projection bits packed into an int — the one-pass
    * [[graft.functions.LshBucket]] expression (one xxhash per
    * dimension, all planes in a single loop; the old HOF formulation cost
    * numBits interpreted vector scans per row). Hyperplanes pass through
    * the item-set mean, not the origin: clustered catalogs
    * (ALS factors live in a cone) would otherwise collapse into a few
    * giant buckets — measured 20k items → 138 buckets with a 1.9k-item
    * heavy hitter uncentered, vs a near-uniform spread centered. The
    * center is a literal (#dims doubles, metadata scale): both sides
    * bucket against the same hyperplanes and the plan stays join-free. */
  def withProbes(queries: DataFrame): DataFrame = {
    // home bucket computed ONCE per query row; the nprobe-1 flips are
    // cheap integer XORs of that value
    val probes = array((0 until nprobe).map(i =>
      if (i == 0) col("__home")
      else col("__home").bitwiseXOR(lit(1 << (i - 1)))): _*)
    queries
      .withColumn("__home", graft.functions.FastExpressions.lshBucket(
        col(queryVecCol), typedLit(resolvedCenter.toArray), numBits))
      .withColumn(listCol, explode(probes))
      .drop("__home")
  }

  // a null vector's null bucket never joins
  protected def queries(df: DataFrame): DataFrame =
    df.select(col(queryIdCol), col(queryVecCol))

  protected def ranked(candidates: DataFrame): DataFrame =
    Retriever.topK(candidates, queryIdCol, k, coalesce(Retriever.similarity(metric,
      col(queryVecCol), col("__item_vec")), lit(Double.NaN)))

  private def routing = LshRouting(resolvedCenter, numBits, nprobe)

  /** This op with its bucketed catalog held resident (see the class
    * doc); itself when the index does not qualify. One collect job. */
  def withResidentTable: AnnLsh =
    Resident.annTable(index(items), listCol, routing, metric)
      .fold(this)(t => copy(resident = Some(t)))

  override protected def residentAnswer(df: DataFrame): Option[DataFrame] =
    Resident.annProbe(df, resident, routing, metric, queryIdCol, queryVecCol, k, keepEmpty)
}

/** LSH bucket-occupancy skew report — the fit-quality monitor the sf1.0
  * rehearsal indicted (SCALE.md "recsys sf1.0 adjudication"): sign-
  * projection buckets over clustered embedding geometry are FIT-
  * dependent — the average-targeting bits sizing (items/64) does not
  * bound the heavy tail, and retrieval cost follows the probed buckets'
  * sizes, so a heavy bucket silently multiplies every query that probes
  * it (measured: heaviest bucket 22× uniform → 4.8× the uniform
  * candidate volume). This op is the trigger half of the remedy: one
  * partial-aggregable groupBy over bucket ids (metadata-scale output),
  * all-integer columns so the row hash-replays from the resolved sign
  * matrix. `skew_bp = max_count·10000 div ceil(n/2^bits)` — past the
  * deployment's bound, [[graft.Flagship.decideRetriever]] first retries
  * the fit resized (+2 bits, one more aggregate: finer buckets rescue
  * mild ellipsoids whose heavy bucket splits under more hyperplanes),
  * then switches the catalog to the k-means tier ([[AnnIvf]], which
  * adapts its cells to clustered geometry — a true cone occupies the
  * same ±sign-pattern pair at any bit count). The center needs no
  * re-fit here: it is already the exact mean of the measured catalog. */
case class LshSkewReport(
    center: Seq[Double],
    numBits: Int,
    vecCol: String = "embedding") extends EnsembleOp {

  // cap aligned with LshBucket/AnnLsh's [1, 32] so every fittable op can
  // be monitored by its own skew report; 1L << 32 is long-safe and the
  // summary columns are all long arithmetic
  require(numBits >= 1 && numBits <= 32, s"$name: numBits in [1, 32]")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, vecCol)
    BucketSkew.schema
  }

  override def transform(df: DataFrame): DataFrame =
    BucketSkew.summarize(
      df.filter(col(vecCol).isNotNull)
        .select(graft.functions.FastExpressions.lshBucket(col(vecCol),
          typedLit(center.toArray), numBits).as("__b")),
      1L << numBits)
}

/** The shared occupancy-summary shape behind [[LshSkewReport]] and
  * [[IvfSkewReport]]: bucket ids in, ONE all-integer row out. */
private[ops] object BucketSkew {
  def summarize(buckets: DataFrame, nBuckets: Long): DataFrame = {
    val counts = buckets.groupBy("__b").agg(count(lit(1)).as("__c"))
    counts.agg(
      coalesce(sum(col("__c")), lit(0L)).as("n_items"),
      count(lit(1)).as("n_occupied"),
      coalesce(max(col("__c")), lit(0L)).as("max_count"))
      .select(col("n_items"), lit(nBuckets).as("n_buckets"),
        col("n_occupied"), col("max_count"))
      .withColumn("uniform_count",
        expr(s"(n_items + ${nBuckets - 1}L) div ${nBuckets}L"))
      .withColumn("skew_bp",
        when(col("uniform_count") === 0L, 0L)
          .otherwise(expr("max_count * 10000L div uniform_count")))
  }

  val schema: StructType = StructType(Seq(
    StructField("n_items", LongType),
    StructField("n_buckets", LongType),
    StructField("n_occupied", LongType),
    StructField("max_count", LongType),
    StructField("uniform_count", LongType),
    StructField("skew_bp", LongType)))
}

/** The QUERY-side twin of the occupancy reports: expected candidate
  * volume of a probe workload against a bucketed index — THE quantity
  * retrieval cost is made of (the sf1.0 recsys cliff was exactly this
  * number: 140.6 M candidates where uniform predicted 29 M). Never
  * materializes the probe join: candidates = Σ_b probes(b)·|bucket b| —
  * two bucket-scale aggregates joined on bucket id, so the report costs
  * two partial-aggregable groupBys at ANY catalog/workload size.
  * `cost_bp` = candidates·10⁴ / (n_probes·ceil-uniform-bucket) — 10000
  * means the workload costs exactly what the uniform sizing predicted;
  * the LSH cliff read ~48000, the adapted k-means cells at sf1.0 read
  * ~1800 (probed lists SMALLER than average). */
private[ops] object ProbeCost {
  def summarize(itemBuckets: DataFrame, probeBuckets: DataFrame,
      nBuckets: Long): DataFrame = {
    // a degenerate vector (null element, wrong length) gets a NULL
    // bucket from the quantizer expressions; counting it under a NULL
    // group would put it in n_items/n_probes while the oracle's
    // row_number assignment gives every surviving vector a real cid —
    // drop unassignable rows so op and oracle agree even on degenerate
    // inputs (round-12 ADVICE)
    val ic = itemBuckets.filter(col("__b").isNotNull)
      .groupBy("__b").agg(count(lit(1)).as("__ic"))
    val pc = probeBuckets.filter(col("__b").isNotNull)
      .groupBy("__b").agg(count(lit(1)).as("__pc"))
    // max_probed_count: the heaviest PROBED bucket's item count — the
    // key-skew quantity candidate volume is blind to (the probe join's
    // wall-clock follows its heaviest key; sf1.0 measured resized-LSH
    // 252 s vs IVF 47 s at a volume reading of 1.8× uniform). Over
    // probed buckets only: a heavy bucket no query touches costs
    // nothing (the over-trigger case the workload-aware decision
    // exists to avoid).
    val joined = pc.join(ic, Seq("__b"))
      .agg(coalesce(sum(col("__ic") * col("__pc")), lit(0L)).as("candidates"),
        coalesce(max(col("__ic")), lit(0L)).as("max_probed_count"))
    val totals = ic.agg(coalesce(sum(col("__ic")), lit(0L)).as("n_items"))
      .crossJoin(pc.agg(coalesce(sum(col("__pc")), lit(0L)).as("n_probes")))
    totals.crossJoin(joined)
      .select(col("n_items"), lit(nBuckets).as("n_buckets"),
        col("n_probes"), col("candidates"), col("max_probed_count"))
      .withColumn("uniform_count",
        expr(s"(n_items + ${nBuckets - 1}L) div ${nBuckets}L"))
      .withColumn("uniform_candidates",
        col("n_probes") * col("uniform_count"))
      .withColumn("cost_bp",
        when(col("uniform_candidates") === 0L, 0L)
          .otherwise(expr("candidates * 10000L div uniform_candidates")))
  }
}

/** Probe-cost report for the sign-LSH tier: the query workload's home
  * bucket + single-bit-flip probes ([[AnnLsh]]'s exact probe set)
  * against the item bucket histogram. */
case class LshProbeCost(
    items: DataFrame,
    center: Seq[Double],
    numBits: Int,
    nprobe: Int,
    itemVecCol: String = "embedding",
    queryVecCol: String = "embedding") extends EnsembleOp {

  require(numBits >= 1 && numBits <= 32, s"$name: numBits in [1, 32]")
  require(nprobe >= 1 && nprobe <= numBits + 1, s"$name: nprobe in [1, numBits+1]")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, queryVecCol)
    StructType(Seq(
      StructField("n_items", LongType), StructField("n_buckets", LongType),
      StructField("n_probes", LongType), StructField("candidates", LongType),
      StructField("max_probed_count", LongType),
      StructField("uniform_count", LongType),
      StructField("uniform_candidates", LongType),
      StructField("cost_bp", LongType)))
  }

  override def transform(df: DataFrame): DataFrame = {
    val mu = typedLit(center.toArray)
    def bkt(vec: Column) =
      graft.functions.FastExpressions.lshBucket(vec, mu, numBits)
    val probes = array((0 until nprobe).map(i =>
      if (i == 0) col("__home")
      else col("__home").bitwiseXOR(lit(1 << (i - 1)))): _*)
    ProbeCost.summarize(
      items.filter(col(itemVecCol).isNotNull)
        .select(bkt(col(itemVecCol)).cast("long").as("__b")),
      df.filter(col(queryVecCol).isNotNull)
        .withColumn("__home", bkt(col(queryVecCol)))
        .select(explode(probes).as("__b0"))
        .select(col("__b0").cast("long").as("__b")),
      1L << numBits)
  }
}

/** Probe-cost report for the k-means tiers: the workload's
  * nprobe-nearest-centroid routing against the inverted-list
  * histogram — covers IVF,Flat / IVF-PQ / IVF,SQ8, which share the
  * coarse quantizer. */
case class IvfProbeCost(
    items: DataFrame,
    centers: Seq[Seq[Double]],
    nprobe: Int,
    itemVecCol: String = "embedding",
    queryVecCol: String = "embedding") extends EnsembleOp {

  require(centers.nonEmpty, s"$name: need at least one centroid")
  require(nprobe >= 1 && nprobe <= centers.size, s"$name: nprobe in [1, nlist]")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, queryVecCol)
    StructType(Seq(
      StructField("n_items", LongType), StructField("n_buckets", LongType),
      StructField("n_probes", LongType), StructField("candidates", LongType),
      StructField("max_probed_count", LongType),
      StructField("uniform_count", LongType),
      StructField("uniform_candidates", LongType),
      StructField("cost_bp", LongType)))
  }

  override def transform(df: DataFrame): DataFrame =
    ProbeCost.summarize(
      items.filter(col(itemVecCol).isNotNull)
        .select(graft.functions.VectorFunctions
          .nearestCentroid(col(itemVecCol), centers).cast("long").as("__b")),
      df.filter(col(queryVecCol).isNotNull)
        .select(explode(graft.functions.VectorFunctions
          .nearestCentroids(col(queryVecCol), centers, nprobe)).as("__b0"))
        .select(col("__b0").cast("long").as("__b")),
      centers.size.toLong)
}

/** [[LshSkewReport]]'s twin for the k-means tiers (IVF,Flat / IVF-PQ /
  * IVF,SQ8 share the coarse quantizer, so one report covers all three):
  * inverted-LIST occupancy. K-means adapts its cells to clustered
  * geometry, which is exactly why it is the documented remedy when the
  * LSH report trips — but empty/heavy lists are still data-dependent
  * (bad convergence, drift after an incremental ingest run under frozen
  * centers), probe cost follows the probed lists' sizes, and nlist is
  * sized to ~64 items/list ASSUMING balance. Same all-integer summary,
  * hash-replayable from the centroid literals. */
case class IvfSkewReport(
    centers: Seq[Seq[Double]],
    vecCol: String = "embedding") extends EnsembleOp {

  require(centers.nonEmpty, s"$name: need at least one centroid")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, vecCol)
    BucketSkew.schema
  }

  override def transform(df: DataFrame): DataFrame =
    BucketSkew.summarize(
      df.filter(col(vecCol).isNotNull)
        .select(graft.functions.VectorFunctions
          .nearestCentroid(col(vecCol), centers).as("__b")),
      centers.size.toLong)
}

object AnnLsh {
  /** The bucketed index frame — the ONE bucketing definition
    * (transform, [[AnnLsh.updatedIndex]] and the streaming sink all
    * build through here, so incremental and rebuilt indexes can never
    * disagree). `center` must be the op's FROZEN fit-time center:
    * double partial-agg merge order makes a recomputed mean drift in
    * the last bits, flipping borderline bucket signs. */
  def index(items: DataFrame, center: Seq[Double], numBits: Int,
      itemIdCol: String = "item_id", itemVecCol: String = "embedding"): DataFrame =
    items.select(
      col(itemIdCol).cast("long").as("__item_id"),
      col(itemVecCol).as("__item_vec"),
      graft.functions.FastExpressions.lshBucket(col(itemVecCol),
        typedLit(center.toArray), numBits).as("__bucket"))
}
