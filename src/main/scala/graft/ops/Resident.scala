package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Repartition, SubqueryAlias}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, inline}

import graft.functions.{AnnRouting, AnnTable, FastExpressions, KeyedTable}

/** Load-time residency for the serving ops ([[QueryFeatureStore]],
  * [[AnnLsh]], [[AnnIvf]]): a reloaded graph collects each side table
  * once, broadcasts it once, and answers requests through a narrow
  * projection over it instead of re-scanning, re-bucketing and joining
  * the side artifact per request.
  *
  * The residency rule is Spark's own broadcast rule: a table is held
  * only when both its plan's size estimate and its collected UnsafeRow
  * bytes are within `spark.sql.autoBroadcastJoinThreshold` (disabled at
  * -1), so a table Spark would not broadcast keeps the relational plan.
  * A discarded graph's broadcasts are released by Spark's ContextCleaner
  * once nothing references them. */
private[graft] object Resident {

  private def threshold(df: DataFrame): Long =
    df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** The side table in internal row format, when Spark's size estimate
    * of its plan is within the broadcast threshold. */
  private def collect(df: DataFrame): Option[Array[InternalRow]] = {
    val qe = df.queryExecution
    val t = threshold(df)
    if (t < 0 || qe.optimizedPlan.stats.sizeInBytes > t) None
    else Some(SQLExecution.withNewExecutionId(qe, Some("resident side table"))(
      qe.executedPlan.executeCollect()))
  }

  /** Broadcast a built table whose materialized size is within the
    * threshold. */
  private def share[T: ClassTag](df: DataFrame, table: T, bytes: Long): Option[Broadcast[T]] =
    if (bytes > threshold(df)) None
    else Some(df.sparkSession.sparkContext.broadcast(table))

  def keyedTable(view: DataFrame): Option[Broadcast[KeyedTable]] =
    if (!KeyedTable.supportsKey(view.schema.head.dataType)) None
    else collect(view).flatMap(KeyedTable.build(view.schema, _))
      .flatMap(t => share(view, t, t.sizeInBytes))

  /** `index` holds `(__item_id, __item_vec, <listCol>)` rows. */
  def annTable(index: DataFrame, listCol: String, routing: AnnRouting,
      metric: String): Option[Broadcast[AnnTable]] =
    if (metric != "dot" && metric != "cosine") None
    else {
      val idx = index.select(col("__item_id"), col("__item_vec"), col(listCol))
      collect(idx).flatMap(AnnTable.build(idx.schema, _, routing, metric))
        .flatMap(t => share(idx, t, t.sizeInBytes))
    }

  /** `df` with a narrow partition boundary when it is computed from
    * in-memory rows only. Without one, the optimizer's
    * ConvertToLocalRelation folds every projection over a LocalRelation
    * into interpreted evaluation at planning time: no job for a small
    * request, but one thread for an 8,192-row batch. A coalesce keeps
    * the request one job on every core at both sizes. */
  def boundary(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val local = plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      plan.find(_.isInstanceOf[Repartition]).isEmpty
    if (local) df.coalesce(df.sparkSession.sparkContext.defaultParallelism) else df
  }

  /** Whether `keyCol` provably holds distinct, non-null values: the
    * column traces through projections, filters and partition
    * boundaries to a LocalRelation whose rows (already in memory) are
    * checked. For such a request the relational top-k `groupBy` on
    * the query id is the identity, so a per-row plan returns the same
    * rows; anything else keeps the relational plan. */
  private def distinctLocalKeys(df: DataFrame, keyCol: String): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.output.find(_.name == keyCol).flatMap(a => localColumn(plan, a.exprId)).exists {
      case (rel, i) =>
        val dt = rel.output(i).dataType
        val seen = new java.util.HashSet[AnyRef](rel.data.size * 2)
        KeyedTable.supportsKey(dt) &&
          rel.data.forall(r => !r.isNullAt(i) && seen.add(r.get(i, dt).asInstanceOf[AnyRef]))
    }
  }

  private def localColumn(p: LogicalPlan, id: ExprId): Option[(LocalRelation, Int)] = p match {
    case l: LocalRelation => Some(l.output.indexWhere(_.exprId == id)).filter(_ >= 0).map(l -> _)
    case Project(list, child) => list.find(_.exprId == id).flatMap {
      case a: Attribute => localColumn(child, a.exprId)
      case al: Alias => al.child match {
        case a: Attribute => localColumn(child, a.exprId)
        case _ => None
      }
      case _ => None
    }
    case f: Filter => localColumn(f.child, id)
    case r: Repartition => localColumn(r.child, id)
    case s: SubqueryAlias => localColumn(s.child, id)
    case _ => None
  }

  /** The resident ANN answer, `(id, candidate_ids, candidate_scores)`
    * per request row from one narrow projection — when the table was
    * built for the op's current routing and metric and the request ids
    * are provably distinct; None sends the caller to its probe join. */
  def annProbe(df: DataFrame, table: Option[Broadcast[AnnTable]], routing: AnnRouting,
      metric: String, idCol: String, vecCol: String, k: Int,
      keepEmpty: Boolean): Option[DataFrame] =
    table.filter(t => t.value.routing == routing && t.value.metric == metric &&
        distinctLocalKeys(df, idCol))
      .map(t => boundary(df).select(col(idCol),
        inline(FastExpressions.annProbeTopK(col(vecCol), t, k, keepEmpty))))
}
