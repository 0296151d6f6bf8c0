package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import graft.functions.{AnnTable, IvfRouting, VectorFunctions}

/** IVF approximate nearest neighbour — the literal analog of the
  * reference's `IVF32,Flat` FAISS index with `nprobe` probing
  * (/root/reference/merlin/systems/dag/ops/faiss.py:213-214): a k-means
  * coarse quantizer partitions items into `nlist` inverted lists; a query
  * scores only the lists of its `nprobe` nearest centroids.
  *
  * Spark shape: centroids are fit-time parameters (plain doubles — they
  * persist as JSON, no model artifact), so both sides assign lists with
  * pure expressions: per-centroid distance via the tight-loop dot
  * expression using d²(x,c) = |x|² − 2x·c + |c|² (the |x|² term is
  * rank-invariant and dropped). Items shuffle-partition by list id —
  * co-located, never all-pairs; per-query cost is nprobe·|list| instead
  * of |items|, and the final top-k is the bounded-heap aggregator (no
  * global sort). Versus [[AnnLsh]]: trained centroids adapt to the data
  * distribution (clustered catalogs get balanced lists where fixed
  * hyperplanes need centering), at the price of a k-means fit.
  *
  * Resident serving: [[withResidentTable]] (called by
  * [[graft.core.EnsemblePersistence.load]]) assigns the catalog once,
  * through [[AnnIvf.index]] with the persisted centroids, into a
  * broadcast list → (ids, vectors) [[graft.functions.AnnTable]]. Any
  * request is then answered by one narrow
  * [[graft.functions.AnnProbeTopK]] projection ([[Resident.annProbe]]):
  * per request row, the same probes, scores and top-k order as the probe
  * join, empty arrays when the probed lists are empty, null-vector rows
  * dropped. An index above `spark.sql.autoBroadcastJoinThreshold` and
  * every in-memory op take the probe join
  * ([[AnnIndex.transformIndexed]]).
  */
case class AnnIvf(
    items: DataFrame,
    centers: Seq[Seq[Double]],
    queryIdCol: String,
    queryVecCol: String,
    itemIdCol: String = "item_id",
    itemVecCol: String = "embedding",
    k: Int = 10,
    nprobe: Int = 8,
    metric: String = "dot",
    resident: Option[Broadcast[AnnTable]] = None) extends AnnIndex {

  require(centers.nonEmpty, s"$name: need at least one centroid")
  require(nprobe >= 1 && nprobe <= centers.size, s"$name: nprobe in [1, nlist]")

  def index(items: DataFrame): DataFrame =
    AnnIvf.index(items, centers, itemIdCol, itemVecCol)
  def listCol: String = "__cid"
  def listCount: Long = centers.size.toLong
  // k-means leaves empty lists on small or drifted catalogs: a query
  // probing only those keeps its row, with empty arrays
  def keepEmpty: Boolean = true
  def ingestAppId: String = "ivf-ingest"

  /** Probes: the `nprobe` nearest centroids through the fused
    * [[graft.functions.NearestCids]] loop (value-identical to the
    * struct-tree `centroidStructs` formulation on valid input; the
    * struct tree emits one subtree per centroid into generated code,
    * which cannot scale to serving-sized nlist). */
  def withProbes(queries: DataFrame): DataFrame =
    queries.withColumn(listCol, explode(
      graft.functions.FastExpressions.nearestCids(col(queryVecCol), centers, nprobe)))

  protected def queries(df: DataFrame): DataFrame =
    df.filter(col(queryVecCol).isNotNull).select(col(queryIdCol), col(queryVecCol))

  protected def ranked(candidates: DataFrame): DataFrame =
    Retriever.topK(candidates, queryIdCol, k, coalesce(Retriever.similarity(metric,
      col(queryVecCol), col("__item_vec")), lit(Double.NaN)))

  private def routing = IvfRouting(centers, nprobe)

  /** This op with its inverted lists held resident (see the class doc);
    * itself when the index does not qualify. One collect job. */
  def withResidentTable: AnnIvf =
    Resident.annTable(index(items), listCol, routing, metric)
      .fold(this)(t => copy(resident = Some(t)))

  override protected def residentAnswer(df: DataFrame): Option[DataFrame] =
    Resident.annProbe(df, resident, routing, metric, queryIdCol, queryVecCol, k, keepEmpty)
}

object AnnIvf {
  /** The searchable index frame: each item assigned to its nearest
    * centroid's inverted list — the ONE assignment definition
    * (transform, updatedIndex and any persisted index all build through
    * here, so incremental and rebuilt indexes can never disagree). */
  def index(items: DataFrame, centers: Seq[Seq[Double]],
      itemIdCol: String = "item_id", itemVecCol: String = "embedding"): DataFrame =
    items.select(
      col(itemIdCol).cast("long").as("__item_id"),
      col(itemVecCol).as("__item_vec"),
      element_at(graft.functions.FastExpressions
        .nearestCids(col(itemVecCol), centers, 1), 1).as("__cid"))

  /** Train the coarse quantizer (seeded MLlib k-means over the item
    * vectors) and build the fitted op — `setup_faiss` with `IVF<nlist>`
    * (faiss.py:191-218). Centroids come back as plain doubles: the whole
    * fitted index is (items table, centers), both trivially persistable. */
  def fit(items: DataFrame, queryIdCol: String, queryVecCol: String,
      itemIdCol: String = "item_id", itemVecCol: String = "embedding",
      k: Int = 10, nlist: Int = 32, nprobe: Int = 8, metric: String = "dot",
      maxIter: Int = 10, seed: Long = 42L): AnnIvf = {
    val centers = VectorFunctions.fitCenters(items, itemVecCol, nlist, maxIter, seed)
    AnnIvf(items, centers, queryIdCol, queryVecCol, itemIdCol, itemVecCol,
      k, math.min(nprobe, centers.size), metric)
  }
}
