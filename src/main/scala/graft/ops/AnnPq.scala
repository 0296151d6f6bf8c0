package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EnsembleOp
import graft.functions.VectorFunctions

/** IVF-PQ approximate nearest neighbour — the product-quantization scale
  * path of the reference's FAISS surface (`IVF<nlist>,PQ<m>` index
  * strings, /root/reference/merlin/systems/dag/ops/faiss.py:191-218;
  * method: Jégou, Douze, Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011).
  *
  * Where [[AnnIvf]] (IVF,Flat) stores raw float vectors in its inverted
  * lists, IVF-PQ stores an m-byte CODE per item: the residual x − c(x)
  * against the item's coarse centroid is cut into `m` subvectors, each
  * quantized to its nearest entry of a per-subspace `ksub`-entry codebook.
  * A 64-dim float vector (256 B raw, plus parquet framing) becomes
  * `m` small ints + a list id (~m bytes payload at ksub ≤ 256) — at 100 TB
  * of embeddings the searchable index is ~1.5 TB, which is the difference
  * between an index that fits hot executor memory and one that cannot.
  *
  * Query scoring is ADC (asymmetric distance computation) for the `dot`
  * metric, by linearity: q·x̂ = q·c(x) + Σ_j q_j·cb_j[code_j]. Each query
  * row precomputes (a) q·c for every coarse centroid and (b) the m×ksub
  * lookup table q_j·cb_jk — `nlist + m·ksub` dot products ONCE per query —
  * after which each candidate costs m ARRAY LOOKUPS + m additions instead of
  * a d-dim float dot: the classic PQ speedup, expressed with built-in
  * higher-order functions (zip_with + element_at + aggregate), fully
  * codegen'd, no UDF.
  *
  * Spark shape: the compact index [[index]] (id, list id, codes)
  * is computed map-side from fit-time literal parameters (centers +
  * codebooks are plain doubles — metadata scale, persist as JSON); the
  * probe is the same `__cid` equi-join as AnnIvf — nprobe·|list|
  * candidates, never all pairs — and the final top-k is the bounded-heap
  * aggregator. The probe join shuffles CODES, never float arrays.
  *
  * Metric: `dot` only. Cosine has no exact ADC decomposition (the norm
  * of x̂ is not separable per subspace); normalize vectors upstream
  * ([[NormalizeEmbeddings]]) and dot IS cosine.
  *
  * `refine > 0` enables FAISS-style re-ranking: ADC nominates `refine`
  * candidates per query, whose full vectors alone are fetched (id-keyed
  * join) and re-scored exactly. PQ then serves as the candidate
  * generator it is designed to be — sub-resolution ADC ranking noise
  * stops costing recall, and the fetched rows are refine·|queries|, not
  * the index.
  */
case class AnnIvfPq(
    items: DataFrame,
    centers: Seq[Seq[Double]],
    codebooks: Seq[Seq[Seq[Double]]], // m × ksub × dsub
    queryIdCol: String,
    queryVecCol: String,
    itemIdCol: String = "item_id",
    itemVecCol: String = "embedding",
    k: Int = 10,
    nprobe: Int = 8,
    refine: Int = 0) extends AnnIndex {

  require(centers.nonEmpty, s"$name: need at least one coarse centroid")
  require(nprobe >= 1 && nprobe <= centers.size, s"$name: nprobe in [1, nlist]")
  require(codebooks.nonEmpty, s"$name: need at least one subspace codebook")
  private val m = codebooks.size
  private val ksub = codebooks.head.size
  private val dsub = codebooks.head.head.size
  require(codebooks.forall(cb => cb.size == ksub && cb.forall(_.size == dsub)),
    s"$name: ragged codebooks — every subspace needs $ksub entries of dim $dsub")
  require(centers.forall(_.size == m * dsub),
    s"$name: coarse centroids are dim ${centers.head.size}, " +
      s"but m·dsub = ${m * dsub} — fit and codebooks disagree on the vector dim")
  require(refine == 0 || refine >= k,
    s"$name: refine must be 0 (off) or >= k, got $refine < $k")

  private def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  /** j-th subvector (0-based), as a 1-based slice. */
  private def sub(vec: Column, j: Int): Column = slice(vec, j * dsub + 1, dsub)

  /** The compact searchable index: (item id, coarse list id, m codes).
    * Pure map-side expressions over fit-time literals — one items pass of
    * d·ksub flops per row, INDEPENDENT of query count (this is encode,
    * not brute force: brute force is queries×items). A serving deployment
    * amortizes even that: write this frame out once and feed future probe
    * jobs ([[transformIndexed]]) from the ~m-bytes-per-item parquet
    * instead of re-encoding. Codes quantize the RESIDUAL against the
    * assigned centroid (IVFADC; Jégou §IV.A): residuals are smaller than
    * raw vectors, so the same codebook budget buys less quantization
    * error. The frozen codebooks' staleness monitor is
    * [[PqCodebookDrift]], [[AnnIvfPq.refitCodebooks]] the cheap action. */
  def index(items: DataFrame): DataFrame =
    AnnIvfPq.index(items, centers, codebooks, itemIdCol, itemVecCol)
  def listCol: String = "__cid"
  def listCount: Long = centers.size.toLong
  def keepEmpty: Boolean = false
  def ingestAppId: String = "pq-ingest"

  /** Per-query ADC lookup table: tab[j][k] = q_j · cb_jk (m×ksub doubles,
    * one array literal tree per query row). */
  private def lutCol(q: Column): Column =
    array((0 until m).map { j =>
      array(codebooks(j).map(e => dot(sub(q, j), typedLit(e.toArray))): _*)
    }: _*)

  /** q·c for every coarse centroid, indexed by cid. */
  private def qcCol(q: Column): Column =
    array(centers.map(c => dot(q, typedLit(c.toArray))): _*)

  /** Probes: the `nprobe` nearest coarse centroids, each probe row
    * carrying the query's ADC tables (built once per query, before the
    * explode) instead of its vector — and the vector too with `refine`,
    * whose exact re-rank needs it. */
  def withProbes(queries: DataFrame): DataFrame = {
    val q = col(queryVecCol)
    val probes = queries
      .withColumn("__tab", lutCol(q))
      .withColumn("__qc", qcCol(q))
      .withColumn(listCol, explode(VectorFunctions.nearestCentroids(q, centers, nprobe)))
    if (refine > 0) probes else probes.drop(queryVecCol)
  }

  // a null vector has no nearest centroid, so it probes nothing
  protected def queries(df: DataFrame): DataFrame =
    df.select(col(queryIdCol), col(queryVecCol))

  /** ADC top-k over the probed codes; with `refine`, the exact re-rank.
    * The refine pass fetches full vectors from `items` by id — the raw
    * catalog is the refine store, the code table the probe store,
    * exactly FAISS's refine-with-stored-vectors split. The query vector
    * rides through the coarse top-k (`first` of one request row's
    * vector), so each request row re-ranks only its own nominees. */
  protected def ranked(candidates: DataFrame): DataFrame = {
    // ADC: element_at(qc, cid+1) + Σ_j tab[j][codes[j]] — m lookups per
    // candidate, no float-vector math after the per-query table build.
    // The lookup-sum is the fused AdcLookupSum expression: bit-identical
    // to the zip_with + aggregate HOF pair (same ((0+t0)+t1)+… fold the
    // oracle replays), but HOFs are CodegenFallback — the composed form
    // paid interpreted lambda eval + an intermediate array PER CANDIDATE
    val adc = element_at(col("__qc"), col(listCol) + 1) +
      graft.functions.FastExpressions
        .adcLookupSum(col("__codes"), col("__tab"))
    if (refine == 0) Retriever.topK(candidates, queryIdCol, k, adc)
    else {
      // FAISS-style refinement (the IVFPQ + refine-with-stored-vectors
      // design): ADC nominates `refine` candidates per query from CODES
      // alone; only those ~refine rows fetch their full float vector —
      // an id-keyed equi-join touching refine·|queries| rows, not the
      // index — and re-rank by the EXACT dot. Recall returns to
      // IVF,Flat's probe-limited level; the big index still never
      // shuffles floats.
      val coarseTop = Retriever.topK(candidates, queryIdCol, refine, adc,
        first(col(queryVecCol)).as(queryVecCol))
      Retriever.topK(
        coarseTop
          .select(col(Retriever.RowKey), col(queryIdCol), col(queryVecCol),
            explode(col("candidate_ids")).as("__item_id"))
          .join(items.select(col(itemIdCol).cast("long").as("__item_id"),
            col(itemVecCol).as("__item_vec")), Seq("__item_id")),
        queryIdCol, k, dot(col(queryVecCol), col("__item_vec")))
    }
  }
}

object AnnIvfPq {
  /** The compact searchable index frame — the ONE encode definition
    * (the op's `index`, hence `transform`, `updatedIndex` and the
    * streaming sink, all build through here, so incremental and rebuilt
    * indexes can never disagree). One fused [[graft.functions.PqEncode]]
    * pass per row (coarse argmin → residual → m codebook argmins) —
    * value-identical to the unrolled |cb|² − 2·r_j·cb struct-min tree it
    * replaced, but generated as one `compute` call instead of nlist +
    * m·ksub inlined dot subtrees, whose JIT dominated the PQ family at
    * rehearsal SFs (SCALE.md round-11 residual 2). */
  def index(items: DataFrame, centers: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]],
      itemIdCol: String = "item_id", itemVecCol: String = "embedding"): DataFrame =
    items.select(col(itemIdCol).cast("long").as("__item_id"),
        graft.functions.FastExpressions
          .pqEncode(col(itemVecCol), centers, codebooks).as("__enc"))
      .select(col("__item_id"), col("__enc.cid").as("__cid"),
        col("__enc.codes").as("__codes"))

  /** Train coarse quantizer + per-subspace residual codebooks (seeded
    * MLlib k-means throughout; m+1 fits, each over a metadata-scale
    * parameter count). `dim` must be divisible by `m`. */
  def fit(items: DataFrame, queryIdCol: String, queryVecCol: String,
      itemIdCol: String = "item_id", itemVecCol: String = "embedding",
      k: Int = 10, nlist: Int = 32, m: Int = 8, ksub: Int = 16,
      nprobe: Int = 8, refine: Int = 0, maxIter: Int = 10,
      seed: Long = 42L): AnnIvfPq = {
    val centers = VectorFunctions.fitCenters(items, itemVecCol, nlist, maxIter, seed)
    val dim = centers.head.size
    require(dim % m == 0,
      s"AnnIvfPq.fit: vector dim $dim is not divisible by m=$m subspaces")
    val codebooks = fitCodebooks(items, itemVecCol, centers, m, ksub, maxIter, seed)
    AnnIvfPq(items, centers, codebooks, queryIdCol, queryVecCol,
      itemIdCol, itemVecCol, k, math.min(nprobe, centers.size), refine)
  }

  /** The PQ half of the drift→action table ([[PqCodebookDrift]] is the
    * trigger): re-fit ONLY the per-subspace residual codebooks against
    * the op's FROZEN coarse quantizer, over the current catalog. This is
    * the cheap rebuild for the common staleness mode the sub-codebook
    * drift report detects — residual distributions moving WITHIN stable
    * lists: the coarse assignment (and therefore the probe routing, the
    * inverted-list layout, and any persisted list structure) is
    * untouched, only the m·ksub codebook doubles re-fit and the items
    * re-encode. When the COARSE report ([[QuantizerDrift]]) also fires,
    * use the full [[fit]] instead — both quantizers are stale. */
  def refitCodebooks(op: AnnIvfPq, items: DataFrame,
      maxIter: Int = 10, seed: Long = 42L): AnnIvfPq =
    op.copy(items = items, codebooks = fitCodebooks(
      items, op.itemVecCol, op.centers,
      op.codebooks.size, op.codebooks.head.size, maxIter, seed))

  /** Residual codebooks for a FIXED coarse quantizer: one pass builds all
    * residual subvectors; m seeded k-means fits (ksub centroids over dsub
    * dims each) run over slices of the SAME cached residual frame. */
  def fitCodebooks(items: DataFrame, itemVecCol: String,
      centers: Seq[Seq[Double]], m: Int, ksub: Int,
      maxIter: Int, seed: Long): Seq[Seq[Seq[Double]]] = {
    val dim = centers.head.size
    val dsub = dim / m
    val centersLit = array(centers.map(c => typedLit(c.toArray)): _*)
    val res = items.select(
      zip_with(col(itemVecCol).cast("array<double>"),
        element_at(centersLit,
          VectorFunctions.nearestCentroid(col(itemVecCol), centers) + 1),
        (a, b) => a - b).as("__res"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0 until m).map { j =>
        val subFrame = res.select(slice(col("__res"), j * dsub + 1, dsub).as("__sub"))
        VectorFunctions.fitCenters(subFrame, "__sub", ksub, maxIter, seed + j)
      }
    } finally { res.unpersist(blocking = false) }
  }
}

/** Frozen PQ sub-codebook drift report — [[QuantizerDrift]]'s twin for
  * [[AnnIvfPq]]'s SECOND quantization stage (the per-subspace residual
  * codebooks; reference faiss.py:191-218's `IVF<nlist>,PQ<m>` fits both
  * stages offline). The coarse-centroid drift report catches a moving
  * catalog at list granularity, but the sub-codebooks have their own
  * staleness failure mode: residual distributions can drift WITHIN
  * stable lists, inflating quantization error and silently eroding ADC
  * ranking quality with no coarse-level signal. Per (subspace, code):
  * code-usage share drift between the fitted reference and a new batch
  * (integer basis points against each side's own per-subspace total —
  * every vector contributes exactly one code per subspace) plus
  * coverage escapes: `theta_d2` is the reference's exact max
  * sub-residual quantization error for that code, `n_far` counts new
  * vectors quantizing beyond it. Two passes of map-side expressions
  * (assignment against centroid/codebook literals) into
  * partial-aggregable group-bys over m·ksub keys — metadata-scale
  * output, no shuffle of vectors, the same 100 TB shape as
  * [[QuantizerDrift]]. Every output is an exact max or integer
  * arithmetic, so the whole refit trigger hash-replays in SQL. */
case class PqCodebookDrift(
    centers: Seq[Seq[Double]],
    codebooks: Seq[Seq[Seq[Double]]], // m × ksub × dsub
    reference: DataFrame,
    idCol: String = "vec_id",
    vecCol: String = "embedding") extends EnsembleOp {

  require(centers.nonEmpty, s"$name: need at least one coarse centroid")
  require(codebooks.nonEmpty, s"$name: need at least one subspace codebook")
  private val m = codebooks.size
  private val ksub = codebooks.head.size
  private val dsub = codebooks.head.head.size
  require(codebooks.forall(cb => cb.size == ksub && cb.forall(_.size == dsub)),
    s"$name: ragged codebooks — every subspace needs $ksub entries of dim $dsub")
  require(centers.forall(_.size == m * dsub),
    s"$name: coarse centroids are dim ${centers.head.size}, " +
      s"but m·dsub = ${m * dsub} — fit and codebooks disagree on the vector dim")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, idCol); requireCol(in, vecCol)
    StructType(Seq(
      StructField("subspace", IntegerType),
      StructField("code", IntegerType),
      StructField("ref_count", LongType),
      StructField("new_count", LongType),
      StructField("ref_share_bp", LongType),
      StructField("new_share_bp", LongType),
      StructField("drift_bp", LongType),
      StructField("theta_d2", DoubleType),
      StructField("n_far", LongType)))
  }

  /** One (subspace, code, d2) row per vector per subspace via the same
    * fused [[graft.functions.PqEncode]] pass as the index encode —
    * coarse-assign, residual, per-subspace argmin with the lowest-code
    * tie-break; d2 is the exact quantization error
    * `(|e|² − 2·r_j·e) + r_j·r_j` — the [[ClusterAssign]] fold order the
    * dump-time oracle replays. One compute call + one posexplode. */
  private def codeD2(df: DataFrame): DataFrame = {
    val x = col(vecCol)
    df.filter(x.isNotNull)
      .select(graft.functions.FastExpressions
        .pqEncode(x, centers, codebooks).as("__enc"))
      .select(posexplode(arrays_zip(col("__enc.codes").as("code"),
        col("__enc.d2").as("d2"))).as(Seq("subspace", "__p")))
      .select(col("subspace"), col("__p.code").as("code"),
        col("__p.d2").as("d2"))
  }

  override def transform(df: DataFrame): DataFrame = {
    val refAgg = codeD2(reference).groupBy("subspace", "code")
      .agg(count(lit(1)).as("ref_count"), max(col("d2")).as("theta_d2"))
    val newAgg = codeD2(df)
      .join(broadcast(refAgg.select(col("subspace"), col("code"),
        col("theta_d2").as("__theta"))), Seq("subspace", "code"), "left")
      .groupBy("subspace", "code")
      .agg(count(lit(1)).as("new_count"),
        sum(when(col("__theta").isNull || col("d2") > col("__theta"), 1L)
          .otherwise(0L)).as("n_far"))
    val joined = refAgg.join(newAgg, Seq("subspace", "code"), "full_outer")
      .select(col("subspace"), col("code"),
        coalesce(col("ref_count"), lit(0L)).as("ref_count"),
        coalesce(col("new_count"), lit(0L)).as("new_count"),
        col("theta_d2"),
        coalesce(col("n_far"), lit(0L)).as("n_far"))
    // per-subspace denominators (m rows, broadcast back): every vector
    // lands exactly one code per subspace, so shares within a subspace
    // sum to 10000 — the MixturePlan integer-bp discipline
    val totals = joined.groupBy("subspace")
      .agg(sum(col("ref_count")).as("__rt"), sum(col("new_count")).as("__nt"))
    joined.join(broadcast(totals), Seq("subspace"))
      .select(col("subspace"), col("code"), col("ref_count"), col("new_count"),
        when(col("__rt") === 0, lit(0L))
          .otherwise(expr("ref_count * 10000 div __rt")).as("ref_share_bp"),
        when(col("__nt") === 0, lit(0L))
          .otherwise(expr("new_count * 10000 div __nt")).as("new_share_bp"),
        col("theta_d2"), col("n_far"))
      .withColumn("drift_bp", abs(col("new_share_bp") - col("ref_share_bp")))
      .select("subspace", "code", "ref_count", "new_count", "ref_share_bp",
        "new_share_bp", "drift_bp", "theta_d2", "n_far")
  }
}
