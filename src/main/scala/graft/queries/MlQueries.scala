package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops._

/** Model-op queries. Fits whose SCORING is pure arithmetic over the
  * fitted parameters (the logistic margin, the forest's tree walks) are
  * memoized per data dir and their oracle SQL is generated at dump time
  * with the fitted constants inlined as literals — the pcaOracle
  * discipline — so even training-based queries hash-check when the
  * scoring function is deterministic. Genuinely unoracleable outputs
  * (ALS top-k over live factors, MLlib pipeline doubles) stay rows-only
  * with spec-level evidence. */
object MlQueries {

  private val rfCache = scala.collection.concurrent.TrieMap
    .empty[String, PredictForest[org.apache.spark.ml.regression.RandomForestRegressionModel]]
  private val lrCache =
    scala.collection.concurrent.TrieMap.empty[String, PredictClassifier]
  private val clfCache =
    scala.collection.concurrent.TrieMap.empty[String, PredictForestClassifier]
  private val calCache =
    scala.collection.concurrent.TrieMap.empty[String, CalibrateScores]
  /** ALS factor side artifacts for the active verify dir:
    * (userFactorPath, itemFactorPath, rank) — written by mlAlsRecommend,
    * replayed by [[dynamicOracle]] via DuckDB read_parquet. */
  private val alsArtCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String, Int)]

  private val forestFeats = Seq("p_size_d", "p_brand_idx", "p_type_idx")

  private def forestFrame(spark: SparkSession, d: String): DataFrame =
    Categorify(Seq("p_brand", "p_type"))
      .transform(part(spark, d))
      .withColumn("p_size_d", col("p_size").cast("double"))

  /** PredictForest: RF regression of part retail price from size/brand.
    * The model is memoized (a trained tree ensemble is driver-side
    * parameters, no live RDD state) so [[dynamicOracle]] can mirror the
    * SAME trees that produced the dumped output. */
  def mlForest(spark: SparkSession, d: String): DataFrame = {
    val p = forestFrame(spark, d)
    val op = rfCache.getOrElseUpdate(d,
      PredictForest.trainRegressor(p, forestFeats, "p_retailprice"))
    op.transform(p).select("p_partkey", "output__0").orderBy("p_partkey")
  }

  /** Recursive CASE mirror of one decision tree: MLlib continuous splits
    * send `feature <= threshold` left; leaves emit their prediction. The
    * thresholds/predictions are Double.toString literals, which DuckDB
    * parses back bit-identically — every literal carries an explicit
    * ::DOUBLE cast because DuckDB types short numeric literals (931.39)
    * as DECIMAL, and letting CASE branches unify to DECIMAL runs the
    * tree average in mixed decimal arithmetic (measured 1-ulp drift on
    * half the rows). */
  private def nodeSqlWith(n: org.apache.spark.ml.tree.Node,
      feats: Seq[String],
      leaf: org.apache.spark.ml.tree.LeafNode => String): String = n match {
    case l: org.apache.spark.ml.tree.LeafNode => leaf(l)
    case i: org.apache.spark.ml.tree.InternalNode =>
      val s = i.split.asInstanceOf[org.apache.spark.ml.tree.ContinuousSplit]
      s"(CASE WHEN ${feats(s.featureIndex)} <= '${s.threshold}'::DOUBLE " +
        s"THEN ${nodeSqlWith(i.leftChild, feats, leaf)} " +
        s"ELSE ${nodeSqlWith(i.rightChild, feats, leaf)} END)"
  }

  private def nodeSql(n: org.apache.spark.ml.tree.Node,
      feats: Seq[String]): String =
    nodeSqlWith(n, feats, l => s"'${l.prediction}'::DOUBLE")

  /** A leaf's class-c vote share (classCounts(c) / classCounts.sum — the
    * exact per-tree contribution MLlib's RF predictRaw accumulates).
    * `impurityStats` is `private[ml]`, which compiles to a PUBLIC
    * bytecode method, so plain reflection reads it; this is only used to
    * EXPORT fitted constants for the oracle — no execution path touches
    * it. The division happens here in Scala so the inlined literal is
    * the bit-identical value MLlib adds at scoring time. */
  private def leafClassShare(l: org.apache.spark.ml.tree.LeafNode,
      c: Int): Double = {
    val statsObj = l.getClass.getMethods.find(_.getName == "impurityStats")
      .get.invoke(l)
    val arr = statsObj.getClass.getMethods.find(_.getName == "stats")
      .get.invoke(statsObj).asInstanceOf[Array[Double]]
    val total = arr.sum
    if (total == 0) 0.0 else arr(c) / total
  }

  /** The Categorify + cast feature frame `f` both forest oracles read —
    * the op_categorify dictionary formula (rank by count DESC, value ASC,
    * minus 1) per encoded column. */
  private val forestFeatureCte =
    """bdict AS (SELECT p_brand AS bv,
      |  CAST(row_number() OVER (ORDER BY count(*) DESC, p_brand) - 1 AS DOUBLE) AS bidx
      |  FROM part GROUP BY p_brand),
      |tdict AS (SELECT p_type AS tv,
      |  CAST(row_number() OVER (ORDER BY count(*) DESC, p_type) - 1 AS DOUBLE) AS tidx
      |  FROM part GROUP BY p_type),
      |f AS (SELECT p_partkey, p_retailprice, CAST(p_size AS DOUBLE) AS p_size_d,
      |  bidx AS p_brand_idx, tidx AS p_type_idx
      |  FROM part JOIN bdict ON p_brand = bv JOIN tdict ON p_type = tv)""".stripMargin

  /** The (score, label) calibration frame: score = thousands of order
    * total price (pooled to keep the PAV step function dictionary-scale),
    * label = order fulfilled. */
  private def calibrationFrame(spark: SparkSession, d: String): DataFrame =
    orders(spark, d).select(col("o_orderkey"),
      floor(col("o_totalprice") / 1000).cast("double").as("score"),
      when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("label"))

  /** CalibrateScores: isotonic calibration of a raw ranking score into a
    * fulfillment probability — MLlib PAV fit (memoized per dir), scoring
    * replayed as literal-array arithmetic so [[dynamicOracle]] can
    * hash-check the calibrated outputs bit-for-bit. */
  def mlCalibrate(spark: SparkSession, d: String): DataFrame = {
    val frame = calibrationFrame(spark, d)
    val op = calCache.getOrElseUpdate(d,
      CalibrateScores.train(frame, "label", "score"))
    op.transform(frame)
      .select(col("o_orderkey"), col("score"), col("calibrated"))
      .orderBy("o_orderkey")
  }

  /** EvalRanking: the retrieval-evaluation harness over a deterministic
    * ranking (per-customer top-10 parts by total quantity) judged against
    * a relevance set (parts the customer returned) — MRR, recall@10 and
    * NDCG@10 per query, all integer-exact (the gains are precomputed
    * nano literals), so the whole metric pipeline hash-checks. */
  def mlEvalRanking(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // EvalRanking references its ranked input twice (top-k hits + the
    // metric-base distinct) and the relevance set twice (join + n_rel
    // counts), so an unpersisted plan re-ran the orders⋈lineitem join +
    // aggregation FOUR times (JobShapeProbe r14: 112 task-seconds for a
    // metric row). Persist the shared frames; values are deterministic,
    // so cached vs recomputed is bit-identical.
    val inter = orders(spark, d)
      .join(lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("query_id"), col("l_partkey").as("item_id"),
        col("l_quantity"), col("l_returnflag"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = inter.groupBy("query_id", "item_id")
      .agg(sum("l_quantity").as("qty"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("qty"), asc("item_id"))))
      .filter(col("rank") <= 10)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val relevant = inter.filter(col("l_returnflag") === "R")
      .select("query_id", "item_id").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // presentation sort lives HERE (the op emits unordered — no range
    // exchange in the serving path). The three persists stay live in the
    // returned plan BY DESIGN: materialize-then-release (persist the
    // output, count, unpersist the inputs) was measured at +0.5-0.6 s on
    // this row in r15 (the output cache write costs more than it saves),
    // and repeated invocations do NOT grow storage — each call builds
    // plan-identical frames and the CacheManager dedups persists by
    // canonicalized plan, so the session holds ONE entry per frame
    // however many times the query runs (pinned by MlQueriesSpec's
    // cache-growth spec).
    EvalRanking(relevant, k = 10).transform(ranked).orderBy("query_id")
  }

  /** Streaming twin of [[mlEvalRanking]] via
    * [[graft.streaming.StreamingOps.evalRankingSink]]: the SAME ranked
    * lists arrive as a 3-micro-batch served-candidates stream (split
    * query-atomically — a ranker emits its top-k as one response, the
    * sink's documented contract), the sink appends per-query metric rows
    * to a parquet monitoring log per batch, and the accumulated log
    * hash-checks against the BATCH oracle verbatim: online evaluation
    * proven equal to offline evaluation under any query-atomic batching.
    * Timed cost deliberately includes the whole 3-batch stream
    * lifecycle (the text_bm25_stream discipline). */
  def mlEvalStream(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    // the sink's op references `relevant` twice per micro-batch (3
    // batches = 6 re-evaluations of the orders⋈lineitem subtree without
    // the persist — the same EvalRanking double-reference mlEvalRanking
    // pays, multiplied by the stream's batch count)
    val inter = orders(spark, d)
      .join(lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("query_id"), col("l_partkey").as("item_id"),
        col("l_quantity"), col("l_returnflag"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = inter.groupBy("query_id", "item_id")
      .agg(sum("l_quantity").as("qty"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("qty"), asc("item_id"))))
      .filter(col("rank") <= 10)
    val relevant = inter.filter(col("l_returnflag") === "R")
      .select("query_id", "item_id").distinct()
    val served = ranked.select(col("query_id"), col("item_id"), col("rank"))
      .as[(Long, Long, Int)].collect()
    val dir = OracleDir.tempDir("eval_stream_log")
    val op = EvalRanking(relevant, k = 10)
    // persist the op's SHARED relevance subplans, not the raw set: every
    // micro-batch's transform reads these two query-scale frames, and
    // without the caches each batch re-derived them from the
    // orders⋈lineitem subtree (JobTraceProbe r15: 5.7–7.2 task-s per
    // batch of invariant relevance work). One materializing count here
    // fills both; the big join feeding them is then RELEASED before the
    // stream starts — nothing batch-variant lives in storage.
    op.relFrame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    op.relCountsFrame
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    op.relCountsFrame.count()
    inter.unpersist(false)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Int)]
    val q = src.toDF().toDF("query_id", "item_id", "rank").writeStream
      .foreachBatch(graft.streaming.StreamingOps.evalRankingSink(dir, op))
      .start()
    try {
      (0 until 3).foreach { m =>
        src.addData(served.filter(_._1 % 3 == m).toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      // the eval log is on disk — the relevance caches are dead weight
      // from here on (round-14 ADVICE: they were pinned for the session)
      op.relFrame.unpersist(false)
      op.relCountsFrame.unpersist(false)
    }
    graft.streaming.StreamingOps.loadIndexLog(spark, dir).get
      .drop("batch_id").orderBy("query_id")
  }

  /** ml_eval_ranking's oracle — STATIC (the gain tables are deterministic
    * parameter constants, no fit involved). */
  private def evalRankingOracleSql: String = {
    val g = EvalRanking.gainNanos(10)
    val gRows = g.zipWithIndex.map { case (n, i) => s"(${i + 1}, $n)" }.mkString(", ")
    val iRows = EvalRanking.idcgNanos(10).zipWithIndex
      .map { case (n, i) => s"(${i + 1}, $n)" }.mkString(", ")
    s"""WITH inter AS (SELECT o_custkey AS query_id, l_partkey AS item_id,
       |    l_quantity, l_returnflag
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |agg AS (SELECT query_id, item_id, sum(l_quantity) AS qty
       |  FROM inter GROUP BY 1, 2),
       |rk AS (SELECT query_id, item_id, row_number() OVER
       |    (PARTITION BY query_id ORDER BY qty DESC, item_id) AS rank FROM agg),
       |topk AS (SELECT * FROM rk WHERE rank <= 10),
       |rel AS (SELECT DISTINCT query_id, item_id FROM inter
       |  WHERE l_returnflag = 'R'),
       |nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
       |g(rank, nanos) AS (VALUES $gRows),
       |ideal(i, nanos) AS (VALUES $iRows),
       |hits AS (SELECT t.query_id, count(*) AS hits,
       |    CAST(sum(g.nanos) AS BIGINT) AS dcg, min(t.rank) AS minrank
       |  FROM topk t JOIN rel r ON t.query_id = r.query_id AND t.item_id = r.item_id
       |  JOIN g ON g.rank = t.rank GROUP BY 1),
       |q AS (SELECT DISTINCT query_id FROM topk)
       |SELECT q.query_id AS query_id,
       |  CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
       |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  CASE WHEN coalesce(n.n_rel, 0) > 0
       |    THEN CAST(coalesce(h.hits, 0) * 10000 // n.n_rel AS BIGINT) END AS recall_bp,
       |  CAST(coalesce(1000000 // h.minrank, 0) AS BIGINT) AS rr_micros,
       |  CASE WHEN coalesce(n.n_rel, 0) > 0
       |    THEN CAST(coalesce(h.dcg, 0) * 10000 // i.nanos AS BIGINT) END AS ndcg_bp
       |FROM q LEFT JOIN nrel n ON q.query_id = n.query_id
       |LEFT JOIN hits h ON q.query_id = h.query_id
       |LEFT JOIN ideal i ON i.i = greatest(1, least(coalesce(n.n_rel, 0), 10))
       |ORDER BY query_id""".stripMargin
  }

  /** Dump-time oracles for the memoized fits (empty until the queries
    * have run in this JVM — a selective Verify records rows-only):
    * ml_forest replays the 20 trained trees as nested CASE expressions
    * averaged in tree order (MLlib's `predictions.sum / numTrees` is the
    * same left-fold); ml_classifier replays the logistic decision as the
    * sign of the inlined-coefficient margin (binary prediction with the
    * default 0.5 threshold is exactly `margin > 0`, so no transcendental
    * crosses the engines). */
  def dynamicOracle: Map[String, String] = {
    val forestClf = OracleDir.pick(clfCache).map { clf =>
      // MLlib RF classification votes: raw_c = sum over trees (in tree
      // order) of the leaf's classCounts(c)/total — each per-leaf share
      // precomputed in Scala (bit-identical division) and inlined;
      // probability = raw_1 / (raw_0 + raw_1), the normalize step.
      def voteSum(c: Int): String =
        clf.model.trees.map(t => nodeSqlWith(t.rootNode, forestFeats,
          l => s"'${leafClassShare(l, c)}'::DOUBLE")).mkString("(", "\n + ", ")")
      "ml_forest_classify" ->
        s"""WITH $forestFeatureCte,
           |v AS (SELECT p_partkey, ${voteSum(0)} AS r0,
           |  ${voteSum(1)} AS r1 FROM f),
           |pr AS (SELECT p_partkey, r1 / (r0 + r1) AS p1 FROM v)
           |SELECT p_partkey,
           |  CASE WHEN p1 >= '0.5'::DOUBLE THEN '1.0'::DOUBLE
           |    ELSE '0.0'::DOUBLE END AS class_id,
           |  p1 AS p_class1
           |FROM pr ORDER BY p_partkey""".stripMargin
    }
    val forest = OracleDir.pick(rfCache).map { op =>
      val trees = op.model.trees.map(t => nodeSql(t.rootNode, forestFeats))
      val avg = trees.mkString("(", "\n + ",
        s")\n / (${op.model.getNumTrees})::DOUBLE")
      "ml_forest" ->
        s"""WITH $forestFeatureCte
           |SELECT p_partkey, $avg AS output__0
           |FROM f ORDER BY p_partkey""".stripMargin
    }
    val lr = OracleDir.pick(lrCache).map { op =>
      // multinomial softmax: prediction = argmax over class margins
      // (first max wins, MLlib Vector.argmax) — per-class margin is the
      // inlined-coefficient dot + intercept; no transcendental crosses
      // the engines because argmax is monotone in the raw margins. The
      // binary special case degenerates to margin > 0 (default 0.5
      // threshold on the sigmoid).
      val m = op.model
      val entry =
        if (m.numClasses == 2) {
          val w = m.coefficients.toArray.mkString("[", ", ", "]")
          s"""SELECT vec_id, label,
             |  CASE WHEN list_inner_product(embedding::DOUBLE[], '$w'::DOUBLE[])
             |      + '${m.intercept}'::DOUBLE > 0.0
             |    THEN (1.0)::DOUBLE ELSE (0.0)::DOUBLE END AS prediction
             |FROM embeddings ORDER BY vec_id""".stripMargin
        } else {
          val margins = (0 until m.numClasses).map { c =>
            val w = (0 until m.coefficientMatrix.numCols)
              .map(j => m.coefficientMatrix(c, j)).mkString("[", ", ", "]")
            s"list_inner_product(v, '$w'::DOUBLE[]) + '${m.interceptVector(c)}'::DOUBLE"
          }.mkString("[", ",\n    ", "]")
          s"""SELECT vec_id, label,
             |  (array_position(margins, list_max(margins)) - 1)::DOUBLE AS prediction
             |FROM (SELECT vec_id, label, $margins AS margins
             |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings))
             |ORDER BY vec_id""".stripMargin
        }
      "ml_classifier" -> entry
    }
    val cal = OracleDir.pick(calCache).map { op =>
      // the isotonic step function replayed from its fitted literals:
      // idx = #{boundaries <= score} via the same literal-array fold,
      // clamp / exact-hit / interpolate with the op's exact expression
      // order (y1 + ((y2 − y1)·(s − x1)) / (x2 − x1))
      val b = op.boundaries.size
      val bl = s"'${op.boundaries.mkString("[", ", ", "]")}'::DOUBLE[]"
      val pl = s"'${op.predictions.mkString("[", ", ", "]")}'::DOUBLE[]"
      "ml_calibrate" ->
        s"""WITH lits AS (SELECT $bl AS bl, $pl AS pl),
           |s AS (SELECT o_orderkey,
           |    CAST(floor(o_totalprice / 1000) AS DOUBLE) AS score FROM orders),
           |c AS (SELECT o_orderkey, score,
           |    len(list_filter(bl, x -> score >= x)) AS idx, bl, pl
           |  FROM s CROSS JOIN lits)
           |SELECT o_orderkey, score,
           |  CASE WHEN idx = 0 THEN list_extract(pl, 1)
           |    WHEN idx = $b THEN list_extract(pl, $b)
           |    WHEN list_extract(bl, idx) = score THEN list_extract(pl, idx)
           |    ELSE list_extract(pl, idx) +
           |      ((list_extract(pl, idx + 1) - list_extract(pl, idx)) *
           |        (score - list_extract(bl, idx))) /
           |      (list_extract(bl, idx + 1) - list_extract(bl, idx)) END AS calibrated
           |FROM c ORDER BY o_orderkey""".stripMargin
    }
    // blocked top-N replay from the persisted factor parquet: the float
    // dot is the same left fold in float32 (DuckDB FLOAT arithmetic stays
    // single-precision), ranking/tie order is (score DESC, id ASC) — the
    // heap's exact total order — so the serving stage hash-checks even
    // though the FIT that produced the factors is training-based.
    val als = OracleDir.pickDir(alsArtCache.keys).flatMap(alsArtCache.get)
      .map { case (up, ip, rank) =>
        val dot = (1 to rank).map(i => s"u.features[$i] * i.features[$i]")
          .reduceLeft((a, b) => s"($a + $b)")
        "ml_als_recommend" ->
          s"""WITH uf AS (SELECT id, features FROM read_parquet('$up/*.parquet')),
             |itf AS (SELECT id, features FROM read_parquet('$ip/*.parquet')),
             |ru AS (SELECT DISTINCT c_custkey AS cust FROM customer),
             |u AS (SELECT CAST(r.cust AS BIGINT) AS user_id, f.features
             |  FROM ru r JOIN uf f ON CAST(r.cust AS INT) = f.id),
             |pairs AS (SELECT u.user_id, i.id AS item_id, $dot AS score
             |  FROM u CROSS JOIN itf i),
             |rk AS (SELECT user_id, item_id, score, row_number() OVER
             |    (PARTITION BY user_id ORDER BY score DESC, item_id) AS rank
             |  FROM pairs)
             |SELECT user_id AS user_id, CAST(rank AS INT) AS rank,
             |  CAST(item_id AS BIGINT) AS item_id, CAST(score AS DOUBLE) AS score
             |FROM rk WHERE rank <= 10 ORDER BY user_id, rank""".stripMargin
      }
    // the flagship's SERVING stage replayed whole from the persisted fit
    // state (factors + index/probe assignments — the xxhash hyperplanes /
    // k-means centroids are fit parameters, not serving math): probe
    // join, double-fold dot, (score DESC, id ASC) top-k, seen
    // anti-filter, md5 softmax keys per retrieval-rank position (the
    // served graph samples in rank order), final (key ASC, id
    // ASC) top-10. Either tier [[graft.Flagship]]'s skew-aware decision
    // picks (LSH buckets or IVF lists) persists the serving op's own
    // probe rows, one (user_id, bucket) row per probe, so the probes CTE
    // is a plain read.
    val recsys = OracleDir.pickDir(graft.Flagship.recsysArtifacts.keys)
      .flatMap(graft.Flagship.recsysArtifacts.get).map { a =>
        val dot = (1 to a.rank)
          .map(j => s"f.features[$j]::DOUBLE * g.features[$j]::DOUBLE")
          .reduceLeft((x, y) => s"($x + $y)")
        "pipeline_recsys" ->
          s"""WITH uf AS (SELECT id, features FROM read_parquet('${a.userPath}/*.parquet')),
             |itf AS (SELECT id, features FROM read_parquet('${a.itemPath}/*.parquet')),
             |ib AS (SELECT item_id, bucket FROM read_parquet('${a.itemBucketPath}/*.parquet')),
             |probes AS (SELECT user_id, bucket FROM read_parquet('${a.userBucketPath}/*.parquet')),
             |cand AS (SELECT p.user_id, b.item_id
             |  FROM probes p JOIN ib b ON p.bucket = b.bucket),
             |scored AS (SELECT c.user_id, c.item_id, $dot AS score
             |  FROM cand c JOIN uf f ON CAST(c.user_id AS INT) = f.id
             |  JOIN itf g ON CAST(c.item_id AS INT) = g.id),
             |topk AS (SELECT user_id, item_id, score, row_number() OVER (
             |    PARTITION BY user_id ORDER BY score DESC, item_id) AS rk
             |  FROM scored),
             |seen AS (SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |unseen AS (SELECT t.user_id, t.item_id, t.score, t.rk FROM topk t
             |  WHERE t.rk <= ${a.retrievalK} AND NOT EXISTS (SELECT 1 FROM seen s
             |    WHERE s.user_id = t.user_id AND s.item_id = t.item_id)),
             |pos AS (SELECT user_id, item_id, score, row_number() OVER (
             |    PARTITION BY user_id ORDER BY rk) - 1 AS i FROM unseen),
             |keyed AS (SELECT user_id, item_id, score,
             |    -ln((('0x' || substring(md5(user_id::VARCHAR || ':' || i::VARCHAR
             |      || ':${a.seed}'), 1, 8))::BIGINT + 0.5) / 4294967296.0)
             |      / exp(${a.temperature} * score) AS k FROM pos),
             |fin AS (SELECT user_id, item_id, score, row_number() OVER (
             |    PARTITION BY user_id ORDER BY k, item_id) AS rank FROM keyed)
             |SELECT user_id AS user_id, CAST(rank AS INT) AS rank,
             |  CAST(item_id AS BIGINT) AS item_id, score AS score
             |FROM fin WHERE rank <= ${a.finalK} ORDER BY user_id, rank""".stripMargin
      }
    (forest.toSeq ++ forestClf.toSeq ++ lr.toSeq ++ cal.toSeq ++ als.toSeq ++
      recsys.toSeq).toMap
  }

  /** Deterministic portable-MLP weights (64 → 4 relu → 1 linear), exact
    * eighths so the forward pass is plain dyadic-rational arithmetic.
    * ONE definition feeds both the Spark op and the oracle SQL. */
  private[graft] val mlpLayers: Seq[MlpLayer] = {
    val dim = 64; val hidden = 4
    Seq(
      MlpLayer(
        (0 until hidden).map(u => (0 until dim).map(d => ((d + u) % 7 - 3) / 8.0)),
        (0 until hidden).map(u => u / 4.0),
        "relu"),
      MlpLayer(Seq(Seq(0.5, -0.25, 0.125, 1.0)), Seq(0.0625), "linear"))
  }

  /** MlpScorer over the embedding table: the portable-weights neural
    * ranking head (PredictTensorflow/PyTorch capability analog, scored
    * as pure expressions). Emits the raw logit plus its sign decision —
    * both exact, both hash-checked. */
  def mlMlpPortable(spark: SparkSession, d: String): DataFrame =
    MlpScorer(mlpLayers, "embedding").transform(embeddings(spark, d))
      .select(col("vec_id"), col("label"),
        col("output__0").as("score"),
        (col("output__0") > lit(0.0)).as("positive"))
      .orderBy("vec_id")

  /** ml_mlp_portable's oracle, generated from [[mlpLayers]] (static
    * constants, so no dump-time dependency): per-unit
    * `lip(v, w) + b` with relu as a CASE, the output layer as one inner
    * product over the hidden list — the exact fold order of the op's
    * ArrayDotProduct chain. */
  private def mlpOracleSql: String = {
    val h = mlpLayers.head
    val o = mlpLayers(1)
    val zs = h.weights.zip(h.bias).zipWithIndex.map { case ((w, b), u) =>
      s"list_inner_product(v, '${w.mkString("[", ", ", "]")}'::DOUBLE[]) + '$b'::DOUBLE AS z$u"
    }.mkString(",\n    ")
    val hs = h.weights.indices.map(u =>
      s"CASE WHEN z$u > 0 THEN z$u ELSE 0.0 END AS h$u").mkString(",\n    ")
    val hlist = h.weights.indices.map(u => s"h$u").mkString("[", ", ", "]")
    val w2 = o.weights.head.mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |z AS (SELECT vec_id, label,
       |    $zs
       |  FROM e),
       |h AS (SELECT vec_id, label,
       |    $hs
       |  FROM z),
       |s AS (SELECT vec_id, label,
       |    list_inner_product($hlist, '$w2'::DOUBLE[]) + '${o.bias.head}'::DOUBLE AS score
       |  FROM h)
       |SELECT vec_id, label, score, score > 0.0 AS positive
       |FROM s ORDER BY vec_id""".stripMargin
  }

  /** PredictForestClassifier: binary class id + positive-class probability
    * for "is this an expensive part" (rows-only: training-based). */
  def mlForestClassify(spark: SparkSession, d: String): DataFrame = {
    // "premium" = above the table's own median price, not a fixed cutoff:
    // at sf0.001 every part is under 950, and a single-class label makes
    // MLlib emit a 1-element probability vector (preflight-caught crash)
    val med = part(spark, d)
      .agg(expr("percentile_approx(p_retailprice, 0.5, 10000)").as("thr"))
    val p = Categorify(Seq("p_brand", "p_type"))
      .transform(part(spark, d))
      .crossJoin(broadcast(med))
      .withColumn("p_size_d", col("p_size").cast("double"))
      .withColumn("is_premium", (col("p_retailprice") >= col("thr")).cast("double"))
      .drop("thr")
    val clf = clfCache.getOrElseUpdate(d, PredictForestClassifier.train(
      p, forestFeats, "is_premium", predictProba = true))
    // one scoring pass: class id is the 0.5-threshold on P(class 1), the
    // same decision the outputClass path takes (no second transform+join)
    clf.transform(p)
      .select(col("p_partkey"),
        when(col("output__0").getItem(1) >= 0.5, 1.0).otherwise(0.0).as("class_id"),
        col("output__0").getItem(1).as("p_class1"))
      .orderBy("p_partkey")
  }

  /** PredictImplicit: ALS top-10 recommendations per user, exploded to
    * (user_id, rank, item_id, score) scalar rows for the driver compare. */
  def mlAlsRecommend(spark: SparkSession, d: String): DataFrame = {
    val interactions = orders(spark, d)
      .join(lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"))
      .agg(sum("l_quantity").cast("float").as("strength"))
    // serving path: prefit parquet factor frames when the bench prewarm
    // ran (the reference's .npz artifact discipline — the timed window
    // then measures the blocked top-k scorer, not the fit); inline
    // 3-iteration fit otherwise (Verify and ad-hoc use). Factor quality
    // is irrelevant to both — the shape is the subject.
    val (uf, itf) = graft.Flagship.prefitFactorFrames(spark, d).getOrElse {
      val m = PredictImplicit.train(interactions, "user", "item", "strength",
        maxIter = 3)
      (m.userFactors, m.itemFactors)
    }
    // under Verify, the fitted factor TABLES are the model artifact —
    // persist them beside the results and let the oracle replay the
    // blocked top-N from the same parquet (the factors are plain floats,
    // so the float dot/rank/tie order is exactly reproducible in SQL)
    for {
      up <- OracleDir.writeArtifact(uf, d, "als_user")
      ip <- OracleDir.writeArtifact(itf, d, "als_item")
    } alsArtCache(d) =
      (up, ip, uf.select("features").head().getSeq[Float](0).size)
    val users = customer(spark, d).select(col("c_custkey").as("user_id"))
    PredictImplicit(uf, itf, numToRecommend = 10).transform(users)
      .select(col("user_id"),
        posexplode(arrays_zip(col("ids"), col("scores"))).as(Seq("pos0", "pair")))
      .select(col("user_id"), (col("pos0") + 1).as("rank"),
        col("pair.ids").cast("long").as("item_id"),
        col("pair.scores").cast("double").as("score"))
      .orderBy("user_id", "rank")
  }

  /** PredictClassifier: logistic regression over embedding vectors. */
  def mlClassifier(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val op = lrCache.getOrElseUpdate(d,
      PredictClassifier.trainLogistic(emb, "embedding", "label"))
    op.transform(emb).select("vec_id", "label", "prediction").orderBy("vec_id")
  }

  /** TransformWorkflow: fitted MLlib pipeline (indexers + scaler). The
    * scaler's double stats aren't cross-engine reproducible, but scaling is
    * strictly monotonic, so the oracle checks the scaled column through its
    * global rank. The rank is harness output shaping, not the operator —
    * and it is computed with a range-partitioned sort + zipWithIndex (the
    * Categorify dictionary trick), NOT a single-partition global window. */
  def mlWorkflow(spark: SparkSession, d: String): DataFrame = {
    val c = customer(spark, d)
    val wf = TransformWorkflow.fit(c, Seq("c_mktsegment"), Seq("c_acctbal"))
    val scaled = wf.transform(c)
      .select(col("c_custkey"), col("c_mktsegment_idx").cast("int").as("c_mktsegment_idx"),
        org.apache.spark.ml.functions.vector_to_array(col("cont_scaled"))
          .getItem(0).as("acctbal_scaled"))
      .sort(col("acctbal_scaled"), col("c_custkey"))
    val schema = org.apache.spark.sql.types.StructType(
      scaled.schema :+ org.apache.spark.sql.types.StructField(
        "acctbal_rank", org.apache.spark.sql.types.IntegerType, nullable = false))
    scaled.sparkSession.createDataFrame(
      scaled.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1).toInt) },
      schema)
      .drop("acctbal_scaled")
      .orderBy("c_custkey")
  }

  /** Hand-written 3-tree binary:logistic model in the PUBLIC XGBoost JSON
    * dump schema (the `xgboost.json` artifact the reference's FIL wrapper
    * saves/loads, fil.py:349-415). Leaf values are multiples of 1/16, so
    * every margin sum is an exact double and the query hash-checks. */
  private[graft] val portableModelJson: String =
    """{"learner":{
      |"attributes":{},"feature_names":[],"feature_types":[],
      |"gradient_booster":{"model":{
      | "gbtree_model_param":{"num_parallel_tree":"1","num_trees":"3"},
      | "iteration_indptr":[0,1,2,3],
      | "tree_info":[0,0,0],
      | "trees":[
      |  {"base_weights":[0,0,0,0,0,0,0],"categories":[],"categories_nodes":[],
      |   "categories_segments":[],"categories_sizes":[],
      |   "default_left":[1,0,1,0,0,0,0],"id":0,
      |   "left_children":[1,3,5,-1,-1,-1,-1],
      |   "loss_changes":[0,0,0,0,0,0,0],
      |   "parents":[2147483647,0,0,1,1,2,2],
      |   "right_children":[2,4,6,-1,-1,-1,-1],
      |   "split_conditions":[25.0,0.05,30000.0,0.125,-0.0625,0.25,-0.125],
      |   "split_indices":[0,1,2,0,0,0,0],
      |   "split_type":[0,0,0,0,0,0,0],
      |   "sum_hessian":[0,0,0,0,0,0,0],
      |   "tree_param":{"num_deleted":"0","num_feature":"3","num_nodes":"7","size_leaf_vector":"1"}},
      |  {"base_weights":[0,0,0,0,0],"categories":[],"categories_nodes":[],
      |   "categories_segments":[],"categories_sizes":[],
      |   "default_left":[0,0,1,0,0],"id":1,
      |   "left_children":[1,-1,3,-1,-1],
      |   "loss_changes":[0,0,0,0,0],
      |   "parents":[2147483647,0,0,2,2],
      |   "right_children":[2,-1,4,-1,-1],
      |   "split_conditions":[0.03,0.5,10.0,-0.25,0.0625],
      |   "split_indices":[1,0,0,0,0],
      |   "split_type":[0,0,0,0,0],
      |   "sum_hessian":[0,0,0,0,0],
      |   "tree_param":{"num_deleted":"0","num_feature":"3","num_nodes":"5","size_leaf_vector":"1"}},
      |  {"base_weights":[0,0,0],"categories":[],"categories_nodes":[],
      |   "categories_segments":[],"categories_sizes":[],
      |   "default_left":[1,0,0],"id":2,
      |   "left_children":[1,-1,-1],
      |   "loss_changes":[0,0,0],
      |   "parents":[2147483647,0,0],
      |   "right_children":[2,-1,-1],
      |   "split_conditions":[15000.0,-0.5,0.375],
      |   "split_indices":[2,0,0],
      |   "split_type":[0,0,0],
      |   "sum_hessian":[0,0,0],
      |   "tree_param":{"num_deleted":"0","num_feature":"3","num_nodes":"3","size_leaf_vector":"1"}}]},
      | "name":"gbtree"},
      |"learner_model_param":{"base_score":"5E-1","boost_from_average":"1",
      | "num_class":"0","num_feature":"3","num_target":"1"},
      |"objective":{"name":"binary:logistic","reg_loss_param":{"scale_pos_weight":"1"}}},
      |"version":[2,0,0]}""".stripMargin

  private[graft] val portableFeatures =
    Seq("l_quantity", "l_discount", "l_extendedprice")

  /** Hand-written 6-tree, 3-class `multi:softmax` model in the same public
    * JSON schema (reference multiclass FIL surface: fil.py:372-428
    * `output_class`/num_classes config). Round-robin `tree_info`
    * [0,1,2,0,1,2]; leaf values are multiples of 1/16 so per-class margin
    * sums are exact doubles and both the margins AND the argmax class
    * hash-check cross-engine. The leaves are chosen so real lineitem rows
    * hit an exact m0 == m2 margin tie (q<25, d>=0.05, 15000<=e<30000),
    * putting the lowest-class-id tie-break under the oracle too. */
  private[graft] val portableMultiJson: String =
    """{"learner":{
      |"attributes":{},"feature_names":[],"feature_types":[],
      |"gradient_booster":{"model":{
      | "gbtree_model_param":{"num_parallel_tree":"1","num_trees":"6"},
      | "iteration_indptr":[0,3,6],
      | "tree_info":[0,1,2,0,1,2],
      | "trees":[
      |  {"default_left":[1,0,0],"id":0,"left_children":[1,-1,-1],
      |   "right_children":[2,-1,-1],"split_conditions":[25.0,0.5,-0.25],
      |   "split_indices":[0,0,0],"split_type":[0,0,0],
      |   "categories":[],"categories_nodes":[],"categories_segments":[],"categories_sizes":[]},
      |  {"default_left":[0,0,0],"id":1,"left_children":[1,-1,-1],
      |   "right_children":[2,-1,-1],"split_conditions":[30000.0,0.25,0.625],
      |   "split_indices":[2,0,0],"split_type":[0,0,0],
      |   "categories":[],"categories_nodes":[],"categories_segments":[],"categories_sizes":[]},
      |  {"default_left":[1,0,0],"id":2,"left_children":[1,-1,-1],
      |   "right_children":[2,-1,-1],"split_conditions":[0.03,-0.5,0.375],
      |   "split_indices":[1,0,0],"split_type":[0,0,0],
      |   "categories":[],"categories_nodes":[],"categories_segments":[],"categories_sizes":[]},
      |  {"default_left":[0,0,0],"id":3,"left_children":[1,-1,-1],
      |   "right_children":[2,-1,-1],"split_conditions":[0.05,0.125,-0.0625],
      |   "split_indices":[1,0,0],"split_type":[0,0,0],
      |   "categories":[],"categories_nodes":[],"categories_segments":[],"categories_sizes":[]},
      |  {"default_left":[1,0,0],"id":4,"left_children":[1,-1,-1],
      |   "right_children":[2,-1,-1],"split_conditions":[40.0,-0.125,0.3125],
      |   "split_indices":[0,0,0],"split_type":[0,0,0],
      |   "categories":[],"categories_nodes":[],"categories_segments":[],"categories_sizes":[]},
      |  {"default_left":[0,0,0],"id":5,"left_children":[1,-1,-1],
      |   "right_children":[2,-1,-1],"split_conditions":[15000.0,0.6875,0.0625],
      |   "split_indices":[2,0,0],"split_type":[0,0,0],
      |   "categories":[],"categories_nodes":[],"categories_segments":[],"categories_sizes":[]}]},
      | "name":"gbtree"},
      |"learner_model_param":{"base_score":"0","boost_from_average":"1",
      | "num_class":"3","num_feature":"3","num_target":"1"},
      |"objective":{"name":"multi:softmax","softmax_multiclass_param":{"num_class":"3"}}},
      |"version":[2,0,0]}""".stripMargin

  /** Hand-written LightGBM model.txt (the reference FIL wrapper's other
    * portable artifact, fil.py:418-449): two trees over the same lineitem
    * features, `<=` split semantics, one constant tree. Leaf values are
    * multiples of 1/16 → exact margins. */
  private[graft] val portableLgbText: String =
    """tree
      |version=v4
      |num_class=1
      |num_tree_per_iteration=1
      |max_feature_idx=2
      |objective=regression
      |feature_names=l_quantity l_discount l_extendedprice
      |
      |Tree=0
      |num_leaves=3
      |num_cat=0
      |split_feature=0 2
      |threshold=25.0 30000.0
      |decision_type=2 2
      |left_child=-1 -2
      |right_child=1 -3
      |leaf_value=0.25 -0.125 0.0625
      |shrinkage=1
      |
      |Tree=1
      |num_leaves=2
      |num_cat=0
      |split_feature=1
      |threshold=0.05
      |decision_type=2
      |left_child=-1
      |right_child=-2
      |leaf_value=0.5 -0.25
      |shrinkage=1
      |
      |end of trees
      |""".stripMargin

  /** LgbForest margin over the text artifact, hash-checked against `<=`
    * CASE SQL — proves the nextUp(threshold) translation is exact at the
    * split boundaries (l_quantity == 25 rows land LEFT in both engines). */
  def mlForestLgb(spark: SparkSession, d: String): DataFrame =
    LgbForest.fromText(portableLgbText, portableFeatures,
      outputMargin = true, outputCol = "margin")
      .transform(lineitem(spark, d)
        .select((Seq("l_orderkey", "l_linenumber") ++ portableFeatures).map(col): _*))
      .select("l_orderkey", "l_linenumber", "margin")
      .orderBy("l_orderkey", "l_linenumber")

  /** XgbForest over the portable JSON artifact: margin sum + thresholded
    * class in one pass, both under the hash oracle (the one forest query
    * where INFERENCE semantics — CASE routing, model-order margin fold,
    * margin-space threshold — are oracle-checked; trained-model queries
    * can never be). */
  def mlForestPortable(spark: SparkSession, d: String): DataFrame = {
    val marginOp = XgbForest.fromJson(portableModelJson, portableFeatures,
      outputMargin = true, outputCol = "margin")
    val classOp = marginOp.copy(outputMargin = false, outputClass = true,
      threshold = 0.7, outputCol = "class_id")
    classOp.transform(marginOp.transform(
      lineitem(spark, d).select((Seq("l_orderkey", "l_linenumber") ++ portableFeatures)
        .map(col): _*)))
      .select("l_orderkey", "l_linenumber", "margin", "class_id")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Multiclass XgbForest over the portable JSON artifact: per-class
    * margins (tree_info round-robin fold) + argmax class with the
    * lowest-id tie-break, all under the hash oracle — the multiclass
    * twin of [[mlForestPortable]], exercising the softmax/argmax paths
    * the binary query cannot. */
  def mlForestPortableMulti(spark: SparkSession, d: String): DataFrame = {
    val marginOp = XgbForest.fromJson(portableMultiJson, portableFeatures,
      outputMargin = true, outputCol = "m")
    // no flags: multi:softmax's natural predict IS the argmax class id
    val classOp = marginOp.copy(outputMargin = false, outputCol = "class_id")
    classOp.transform(marginOp.transform(
      lineitem(spark, d).select((Seq("l_orderkey", "l_linenumber") ++ portableFeatures)
        .map(col): _*)))
      .select(col("l_orderkey"), col("l_linenumber"),
        // leaf values are deliberate 1/16-grid dyadics, so margins are
        // exact multiples of 1/16: emit integer sixteenths (the repo's
        // fixed-point convention) — the raw doubles hashed differently
        // at the driver's format layer two rounds running despite exact
        // value-compare passing
        (col("m").getItem(0) * 16).cast("long").as("m0_s16"),
        (col("m").getItem(1) * 16).cast("long").as("m1_s16"),
        (col("m").getItem(2) * 16).cast("long").as("m2_s16"),
        col("class_id"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Hand-written 2-tree, 3-class sklearn RandomForestClassifier export in
    * the documented [[SklForest]] JSON schema (the reference FIL wrapper's
    * SKLearn/CUML families, fil.py:452-530). Leaf rows are raw COUNTS
    * summing to 16 — the parser's normalization and the 2-tree mean make
    * every probability an exact multiple of 1/32, so the per-class
    * probabilities AND the argmax label both hash-check. Classes are
    * [10, 20, 30] (non-contiguous on purpose: proves the label mapping,
    * not just the argmax index). */
  private[graft] val sklearnModelJson: String =
    """{"model_type":"RandomForestClassifier","n_features":3,
      |"classes":[10.0,20.0,30.0],
      |"trees":[
      | {"children_left":[1,-1,3,-1,-1],
      |  "children_right":[2,-1,4,-1,-1],
      |  "feature":[0,-2,2,-2,-2],
      |  "threshold":[25.0,-2.0,30000.0,-2.0,-2.0],
      |  "value":[[0,0,0],[8,4,4],[0,0,0],[2,10,4],[4,4,8]]},
      | {"children_left":[1,-1,-1],
      |  "children_right":[2,-1,-1],
      |  "feature":[1,-2,-2],
      |  "threshold":[0.05,-2.0,-2.0],
      |  "value":[[0,0,0],[12,2,2],[2,2,12]]}]}""".stripMargin

  /** SklForest over the sklearn JSON export: per-class mean probabilities
    * + predicted class LABEL in one pass, both under the hash oracle —
    * sklearn's `<=`-split and tree-AVERAGING semantics (vs boosting's `<`
    * and margin sum), plus the classes_ label mapping, oracle-checked. */
  def mlForestSklearn(spark: SparkSession, d: String): DataFrame = {
    val probaOp = SklForest.fromJson(sklearnModelJson, portableFeatures,
      predictProba = true, outputCol = "proba")
    val labelOp = probaOp.copy(predictProba = false, outputCol = "pred_label")
    labelOp.transform(probaOp.transform(
      lineitem(spark, d).select((Seq("l_orderkey", "l_linenumber") ++ portableFeatures)
        .map(col): _*)))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("proba").getItem(0).as("p0"), col("proba").getItem(1).as("p1"),
        col("proba").getItem(2).as("p2"), col("pred_label"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** The flagship 4-stage recommender pipeline end-to-end, exploded to
    * (user_id, rank, item_id, score) scalar rows for the driver compare. */
  def pipelineRecsys(spark: SparkSession, d: String): DataFrame =
    graft.Flagship.recommend(spark, d)
      .select(col("user_id"),
        posexplode(arrays_zip(col("ordered_ids"), col("ordered_scores")))
          .as(Seq("pos0", "pair")))
      .select(col("user_id"), (col("pos0") + 1).as("rank"),
        col("pair.ordered_ids").as("item_id"),
        col("pair.ordered_scores").cast("double").as("score"))
      .orderBy("user_id", "rank")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_forest" -> (mlForest _),
    "ml_forest_classify" -> (mlForestClassify _),
    "ml_als_recommend" -> (mlAlsRecommend _),
    "ml_classifier" -> (mlClassifier _),
    "ml_workflow" -> (mlWorkflow _),
    "ml_forest_portable" -> (mlForestPortable _),
    "ml_forest_portable_multi" -> (mlForestPortableMulti _),
    "ml_forest_lgb" -> (mlForestLgb _),
    "ml_forest_sklearn" -> (mlForestSklearn _),
    "pipeline_recsys" -> (pipelineRecsys _),
    "ml_mlp_portable" -> (mlMlpPortable _),
    "ml_calibrate" -> (mlCalibrate _),
    "ml_eval_ranking" -> (mlEvalRanking _),
    "ml_eval_stream" -> (mlEvalStream _))

  /** ml_workflow is the one ML query with a SQL-expressible output:
    * StringIndexer(frequencyDesc) == rank by (count DESC, value ASC), and
    * the scaled column is checked through its (monotonic) rank. */
  val oracle: Map[String, String] = Map(
    "ml_mlp_portable" -> mlpOracleSql,
    "ml_eval_ranking" -> evalRankingOracleSql,
    // the stream twin shares the batch oracle verbatim: the monitoring
    // log over query-atomic batches IS the batch evaluation
    "ml_eval_stream" -> evalRankingOracleSql,
    // the trees' CASE mirror, summed in model order like the op's fold;
    // the class cut is the op's precomputed margin-space threshold
    // constant (ln(0.7/0.3)), interpolated so neither engine re-derives ln
    "ml_forest_portable" -> {
      val t = XgbForest.fromJson(portableModelJson, portableFeatures,
        outputClass = true, threshold = 0.7).thresholdMargin
      s"""SELECT l_orderkey, l_linenumber, margin,
         |CASE WHEN margin >= $t THEN 1.0 ELSE 0.0 END AS class_id
         |FROM (SELECT l_orderkey, l_linenumber,
         |  ((CASE WHEN l_quantity < 25.0
         |      THEN (CASE WHEN l_discount < 0.05 THEN 0.125 ELSE -0.0625 END)
         |      ELSE (CASE WHEN l_extendedprice < 30000.0 THEN 0.25 ELSE -0.125 END) END)
         |  + (CASE WHEN l_discount < 0.03 THEN 0.5
         |      ELSE (CASE WHEN l_quantity < 10.0 THEN -0.25 ELSE 0.0625 END) END))
         |  + (CASE WHEN l_extendedprice < 15000.0 THEN -0.5 ELSE 0.375 END) AS margin
         |  FROM lineitem)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    // per-class CASE sums folded in model order (class c = tree c + tree
    // c+3); argmax mirrors the op's lowest-class-id tie-break: m0 wins
    // any tie it is part of, then m1
    "ml_forest_portable_multi" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(m0 * 16 AS BIGINT) AS m0_s16,
        |CAST(m1 * 16 AS BIGINT) AS m1_s16,
        |CAST(m2 * 16 AS BIGINT) AS m2_s16,
        |CAST(CASE WHEN m0 >= m1 AND m0 >= m2 THEN 0.0
        |     WHEN m1 >= m2 THEN 1.0 ELSE 2.0 END AS DOUBLE) AS class_id
        |FROM (SELECT l_orderkey, l_linenumber,
        |  (CASE WHEN l_quantity < 25.0 THEN 0.5 ELSE -0.25 END)
        |  + (CASE WHEN l_discount < 0.05 THEN 0.125 ELSE -0.0625 END) AS m0,
        |  (CASE WHEN l_extendedprice < 30000.0 THEN 0.25 ELSE 0.625 END)
        |  + (CASE WHEN l_quantity < 40.0 THEN -0.125 ELSE 0.3125 END) AS m1,
        |  (CASE WHEN l_discount < 0.03 THEN -0.5 ELSE 0.375 END)
        |  + (CASE WHEN l_extendedprice < 15000.0 THEN 0.6875 ELSE 0.0625 END) AS m2
        |  FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "ml_forest_lgb" ->
      """SELECT l_orderkey, l_linenumber,
        |(CASE WHEN l_quantity <= 25.0 THEN 0.25
        |  ELSE (CASE WHEN l_extendedprice <= 30000.0 THEN -0.125 ELSE 0.0625 END) END)
        |+ (CASE WHEN l_discount <= 0.05 THEN 0.5 ELSE -0.25 END) AS margin
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // per-class CASE means over `<=` splits (sklearn's decision), folded
    // tree 0 + tree 1 then one /2.0 — the op's exact fold; argmax mirrors
    // the lowest-class-INDEX tie-break, then maps to the class label
    "ml_forest_sklearn" ->
      """SELECT l_orderkey, l_linenumber, p0, p1, p2,
        |CASE WHEN p0 >= p1 AND p0 >= p2 THEN 10.0
        |     WHEN p1 >= p2 THEN 20.0 ELSE 30.0 END AS pred_label
        |FROM (SELECT l_orderkey, l_linenumber,
        |  ((CASE WHEN l_quantity <= 25.0 THEN 0.5
        |     ELSE (CASE WHEN l_extendedprice <= 30000.0 THEN 0.125 ELSE 0.25 END) END)
        |   + (CASE WHEN l_discount <= 0.05 THEN 0.75 ELSE 0.125 END)) / 2.0 AS p0,
        |  ((CASE WHEN l_quantity <= 25.0 THEN 0.25
        |     ELSE (CASE WHEN l_extendedprice <= 30000.0 THEN 0.625 ELSE 0.25 END) END)
        |   + (CASE WHEN l_discount <= 0.05 THEN 0.125 ELSE 0.125 END)) / 2.0 AS p1,
        |  ((CASE WHEN l_quantity <= 25.0 THEN 0.25
        |     ELSE (CASE WHEN l_extendedprice <= 30000.0 THEN 0.25 ELSE 0.5 END) END)
        |   + (CASE WHEN l_discount <= 0.05 THEN 0.125 ELSE 0.75 END)) / 2.0 AS p2
        |  FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "ml_workflow" ->
      """WITH m AS (SELECT c_mktsegment AS v,
        |CAST(row_number() OVER (ORDER BY count(*) DESC, c_mktsegment) - 1 AS INTEGER) AS idx
        |FROM customer GROUP BY c_mktsegment)
        |SELECT c_custkey, idx AS c_mktsegment_idx,
        |row_number() OVER (ORDER BY c_acctbal, c_custkey) AS acctbal_rank
        |FROM customer JOIN m ON c_mktsegment=v ORDER BY c_custkey""".stripMargin)
}
