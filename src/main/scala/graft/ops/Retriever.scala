package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EnsembleOp
import graft.functions.{TopKAggregator, VectorFunctions}

/** A top-k retriever — the one shape of the reference's `QueryFaiss`
  * (merlin/systems/dag/ops/faiss.py:90-112): each
  * request row `(queryIdCol, queryVecCol)` answers with its k best item
  * ids and their scores, `(queryIdCol, candidate_ids, candidate_scores)`.
  * The answer is per request ROW, not per id: two rows with one id get
  * two answers, each equal to that row sent alone.
  * [[TopKRetrieval]] scores every item; the [[AnnIndex]] ops score only
  * the lists their index probes. */
trait Retriever extends EnsembleOp {
  def queryIdCol: String
  def queryVecCol: String
  def k: Int

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, queryIdCol); requireCol(in, queryVecCol)
    StructType(Seq(
      in(queryIdCol),
      StructField("candidate_ids", ArrayType(LongType)),
      StructField("candidate_scores", ArrayType(DoubleType))))
  }

  /** Relational form: one row per (query, rank, item, score) — scalar
    * columns only, the shape the correctness harness can sort and hash. */
  def asRows(df: DataFrame): DataFrame = Retriever.rows(transform(df), queryIdCol)
}

/** The retrieval core every [[Retriever]] builds its answer from. */
object Retriever {
  /** Query-item similarity by `metric` (`dot` or `cosine`). */
  def similarity(metric: String, q: Column, it: Column): Column = metric match {
    case "dot"    => VectorFunctions.dot(q, it)
    case "cosine" => VectorFunctions.cosine(q, it)
    case m        => throw new IllegalArgumentException(s"unknown metric $m")
  }

  /** The request-row key column of [[keyed]]. */
  val RowKey = "__row"

  /** `queries` with each row tagged by its own [[RowKey]], the unit the
    * top-k groups on. The key is nondeterministic: a plan must read it
    * from this one evaluation (never from a second scan of the request,
    * whose row order a recomputed shuffle does not keep). */
  def keyed(queries: DataFrame): DataFrame =
    queries.withColumn(RowKey, monotonically_increasing_id())

  /** The k best `__item_id`s per request row ([[RowKey]], `queryIdCol`)
    * of scored candidate pairs: the bounded-heap [[TopKAggregator]]
    * (partial top-k map-side, no global sort), ties broken by the lower
    * id, NaN scores dropped: `(RowKey, queryIdCol, carry…,
    * candidate_ids, candidate_scores)`. `carry` aggregates ride along (a
    * per-row value, e.g. `first` of the query vector). */
  def topK(candidates: DataFrame, queryIdCol: String, k: Int, score: Column,
      carry: Column*): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    candidates.groupBy(col(RowKey), col(queryIdCol))
      .agg(topk(col("__item_id"), score).as("__top"), carry: _*)
      .withColumn("candidate_ids", col("__top.ids"))
      .withColumn("candidate_scores", col("__top.scores"))
      .drop("__top")
  }

  /** `(query, rank, item_id, score)` rows of a retriever's output. */
  def rows(out: DataFrame, queryIdCol: String): DataFrame =
    out.select(col(queryIdCol),
      posexplode(arrays_zip(col("candidate_ids"), col("candidate_scores")))
        .as(Seq("pos", "pair")))
      .select(col(queryIdCol), (col("pos") + 1).as("rank"),
        col("pair.candidate_ids").as("item_id"),
        col("pair.candidate_scores").as("score"))
}

/** An ANN retriever over a searchable index — the reference's FAISS
  * index artifact (`IVF32,Flat` and kin, built by `setup_faiss`,
  * faiss.py:191-218), with the partition → local-prune → merge shape of
  * distributed top-k search: the index partitions the catalog into
  * lists, a query probes a few of them through one equi-join on
  * [[listCol]], and the bounded-heap top-k merges what it found. Only
  * the index is op-specific:
  *
  *   - [[index]] assigns (and for SQ/PQ, encodes) items under the op's
  *     FROZEN fit state — the one definition that `transform`,
  *     [[updatedIndex]], the streaming index sink and any persisted index
  *     build through, so incremental and rebuilt indexes never disagree;
  *   - [[listCol]] / [[listCount]] name the list id and its range (the
  *     occupancy the index sink stamps per commit);
  *   - [[withProbes]] routes each query to the lists it probes;
  *   - [[ranked]] scores the probed candidates into the top-k.
  *
  * Per-op contract (with [[TopKRetrieval]], the exhaustive retriever,
  * for comparison):
  *
  * {{{
  *   op             null query vector  all probed lists empty
  *   TopKRetrieval  no row             (every item is scored)
  *   AnnIvf         no row             row, empty arrays
  *   AnnSq          no row             row, empty arrays
  *   AnnLsh         no row             no row
  *   AnnIvfPq       no row             no row
  * }}}
  *
  * Each request row with a non-null vector answers for itself alone
  * (LSH/PQ still drop a row whose probed lists are all empty): the probe
  * join and the top-k run per row ([[Retriever.keyed]]), so a repeated
  * query id gets one answer per request row, each equal to that row sent
  * alone. The resident path ([[Resident.annProbe]]) answers the same way
  * for any request. */
trait AnnIndex extends Retriever {
  def items: DataFrame

  /** The index rows of `items`: `__item_id`, [[listCol]] and the payload
    * the op scores (raw vector, SQ8 or PQ codes). */
  def index(items: DataFrame): DataFrame

  /** The index's list-id column. */
  def listCol: String

  /** The number of lists the index can hold. */
  def listCount: Long

  /** `queries` with one row per probed list, its id in [[listCol]]. */
  def withProbes(queries: DataFrame): DataFrame

  /** Whether a query whose probed lists are all empty keeps its row. */
  def keepEmpty: Boolean

  /** The streaming index sink's default commit identity. */
  def ingestAppId: String

  /** The request rows the op probes — its own null handling. */
  protected def queries(df: DataFrame): DataFrame

  /** The keyed top-k ([[Retriever.topK]]) of the probed `candidates`:
    * keyed queries joined to the index rows of their lists (for
    * [[keepEmpty]] a left join, so an empty probed list reaches the heap
    * as one null-item, NaN-scored row and the group finishes empty). */
  protected def ranked(candidates: DataFrame): DataFrame

  /** The answer from a resident index, when the op holds one that
    * serves `df`. */
  protected def residentAnswer(df: DataFrame): Option[DataFrame] = None

  override def transform(df: DataFrame): DataFrame =
    residentAnswer(df).getOrElse(transformIndexed(df, index(items)))

  /** Probe a PREBUILT index (the [[index]] shape — persisted parquet, or
    * the live frame of a sink-maintained index log): the same probe
    * plan, with no assignment work for the catalog. */
  def transformIndexed(df: DataFrame, index: DataFrame): DataFrame = {
    val probes = withProbes(Retriever.keyed(queries(df)))
    val candidates =
      if (!keepEmpty) probes.join(index, Seq(listCol))
      else probes.join(index, Seq(listCol), "left")
        .withColumn("__item_id", coalesce(col("__item_id"), lit(-1L)))
    ranked(candidates).drop(Retriever.RowKey)
  }

  /** Incremental index ingest: `index` plus the rows of `newItems`,
    * assigned under the frozen fit state. Assignment is per-item
    * independent, so this is id-identical to a full rebuild over the
    * union, at the cost of assigning only the batch. The frozen state is
    * the staleness trade: the recall rows and the drift reports
    * ([[QuantizerDrift]], [[PqCodebookDrift]], the occupancy stamps)
    * are the monitors, a refit plus rebuild the action. */
  def updatedIndex(index: DataFrame, newItems: DataFrame): DataFrame =
    index.unionByName(this.index(newItems))

  /** Relational form over a prebuilt index ([[transformIndexed]]). */
  def asRowsIndexed(df: DataFrame, index: DataFrame): DataFrame =
    Retriever.rows(transformIndexed(df, index), queryIdCol)
}
