package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.broadcast.Broadcast
import graft.core.EnsembleOp
import graft.functions.{AnnTable, IvfRouting, TopKAggregator, VectorFunctions}

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
  * broadcast list → (ids, vectors) [[graft.functions.AnnTable]]. A
  * request whose query ids are provably distinct and non-null (a local
  * request, see [[Resident.annProbe]]) is then answered by one
  * narrow [[graft.functions.AnnProbeTopK]] projection: same probes,
  * scores and top-k order, empty arrays when the probed lists are empty,
  * null-vector rows dropped. Any other input, an index above
  * `spark.sql.autoBroadcastJoinThreshold`, and every in-memory op take
  * the probe join below.
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
    resident: Option[Broadcast[AnnTable]] = None) extends EnsembleOp {

  require(centers.nonEmpty, s"$name: need at least one centroid")
  require(nprobe >= 1 && nprobe <= centers.size, s"$name: nprobe in [1, nlist]")

  private def score(q: Column, it: Column): Column = metric match {
    case "dot"    => VectorFunctions.dot(q, it)
    case "cosine" => VectorFunctions.cosine(q, it)
    case m        => throw new IllegalArgumentException(s"$name: unknown metric $m")
  }

  /** Shared quantizer kernel — the fused
    * [[graft.functions.NearestCids]] loop (value-identical to the
    * struct-tree `centroidStructs` formulation on valid input; the
    * struct tree emits one subtree per centroid into generated code,
    * which cannot scale to serving-sized nlist). */
  private def probeCids(vec: Column): Column =
    graft.functions.FastExpressions.nearestCids(vec, centers, nprobe)

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, queryIdCol); requireCol(in, queryVecCol)
    StructType(Seq(
      in(queryIdCol),
      StructField("candidate_ids", ArrayType(LongType)),
      StructField("candidate_scores", ArrayType(DoubleType))))
  }

  private def routing = IvfRouting(centers, nprobe)

  /** This op with its inverted lists held resident (see the class doc);
    * itself when the index does not qualify. One collect job. */
  def withResidentTable: AnnIvf =
    Resident.annTable(AnnIvf.index(items, centers, itemIdCol, itemVecCol),
      "__cid", routing, metric).fold(this)(t => copy(resident = Some(t)))

  override def transform(df: DataFrame): DataFrame =
    Resident.annProbe(df, resident, routing, metric, queryIdCol, queryVecCol, k,
      keepEmpty = true).getOrElse(
        transformIndexed(df, AnnIvf.index(items, centers, itemIdCol, itemVecCol)))

  /** Probe a PREBUILT index table (the `(__item_id, __cid, __item_vec)`
    * shape [[AnnIvf.index]] emits, typically persisted parquet bucketed
    * by `__cid`): same probe plan, zero assignment work for the catalog —
    * the serving path when the index is maintained incrementally via
    * [[updatedIndex]] rather than rebuilt per batch. */
  def transformIndexed(df: DataFrame, index: DataFrame): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    val queries = df.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol), col(queryVecCol))
    val probed = queries
      .withColumn("__cid", explode(probeCids(col(queryVecCol))))
    val hits = probed.join(index, Seq("__cid"))
      .groupBy(col(queryIdCol))
      .agg(topk(col("__item_id"), coalesce(score(col(queryVecCol), col("__item_vec")),
        lit(Double.NaN))).as("__top"))
    // one row per (non-null-vector) query even when every probed list is
    // EMPTY (k-means leaves empty lists on small/drifted catalogs): the
    // inner probe join alone would drop such queries from the output,
    // violating transformSchema's one-row-per-query shape — they get
    // empty candidate arrays instead
    queries.select(col(queryIdCol)).join(hits, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        coalesce(col("__top.ids"), typedLit(Array.empty[Long]))
          .as("candidate_ids"),
        coalesce(col("__top.scores"), typedLit(Array.empty[Double]))
          .as("candidate_scores"))
  }

  /** Incremental index ingest: append a new item batch to the persisted
    * index under the FROZEN coarse quantizer — assignment is per-item
    * independent, so `updatedIndex(index, batch)` is id-identical to a
    * full rebuild over the union (spec-pinned), at the cost of assigning
    * only the batch: the 100 TB ingest shape ([[graft.ops.IncrementalDedup]]'s
    * discipline applied to retrieval). The documented staleness cost:
    * centroids drift as the catalog's distribution moves — refit
    * periodically (a rebuild) when recall evidence degrades; the driver's
    * recall rows (`op_ann_ivf_recall`) are exactly that monitor. */
  def updatedIndex(index: DataFrame, newItems: DataFrame): DataFrame =
    index.unionByName(AnnIvf.index(newItems, centers, itemIdCol, itemVecCol))

  /** Relational form: one row per (query, rank, item, score). */
  def asRows(df: DataFrame): DataFrame = rowsOf(transform(df))

  /** Relational form over a prebuilt index ([[transformIndexed]]). */
  def asRowsIndexed(df: DataFrame, index: DataFrame): DataFrame =
    rowsOf(transformIndexed(df, index))

  private def rowsOf(out: DataFrame): DataFrame =
    out.select(col(queryIdCol),
      posexplode(arrays_zip(col("candidate_ids"), col("candidate_scores")))
        .as(Seq("pos", "pair")))
      .select(col(queryIdCol), (col("pos") + 1).as("rank"),
        col("pair.candidate_ids").as("item_id"),
        col("pair.candidate_scores").as("score"))
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
