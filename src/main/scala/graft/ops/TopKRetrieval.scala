package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Top-k similarity retrieval — the Spark-native `QueryFaiss`
  * (/root/reference/merlin/systems/dag/ops/faiss.py:90-112): for each query
  * embedding, return the k nearest item ids by inner product (or cosine).
  *
  * Physical shape: `queries × broadcast(items)` scored per pair, then the
  * bounded-heap [[TopKAggregator]] keeps k per query with map-side combine —
  * no global sort, no window over the full candidate set. The item matrix
  * plays the role of the FAISS index (precomputed, broadcast); at 100 TB of
  * queries the work is embarrassingly parallel over query partitions. For
  * item sets too big to broadcast, see `AnnLsh` (bucketed candidate
  * generation) — the IVF/nprobe analog.
  */
case class TopKRetrieval(
    items: DataFrame,
    queryIdCol: String,
    queryVecCol: String,
    itemIdCol: String = "item_id",
    itemVecCol: String = "embedding",
    k: Int = 10,
    metric: String = "dot") extends Retriever { // dot | cosine

  require(k >= 1, s"$name: k must be >= 1, got $k")

  override def transformSchema(in: StructType): StructType = {
    val out = super.transformSchema(in)
    require(in(queryVecCol).dataType.isInstanceOf[ArrayType], s"$name: $queryVecCol must be array")
    out
  }

  override def transform(df: DataFrame): DataFrame = {
    // the same null discipline on the ITEM side: a null (or
    // dimension-mismatched — ArrayDotProduct yields NULL) item vector
    // would otherwise score 0.0 against every query via the tuple
    // encoder's coercion and surface as a phantom candidate above all
    // negatively-scored true neighbors
    val it = broadcast(items
      .where(col(itemVecCol).isNotNull)
      .select(col(itemIdCol).cast("long").as("__item_id"),
        col(itemVecCol).as("__item_vec")))
    // a null query vector has no similarity to anything: drop the row
    // (same contract as AnnLsh, whose null bucket never joins) — without
    // this, the tuple encoder silently coerces the null score to 0.0 and
    // the user receives arbitrary candidates "scored" 0
    Retriever.topK(
      Retriever.keyed(df.where(col(queryVecCol).isNotNull)
        .select(col(queryIdCol), col(queryVecCol)))
        .join(it),  // broadcast nested loop: every query scores every item
      queryIdCol, k, coalesce(Retriever.similarity(metric, col(queryVecCol),
        col("__item_vec")), lit(Double.NaN))).drop(Retriever.RowKey)
  }
}
