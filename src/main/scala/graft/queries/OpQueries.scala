package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.core.{Ensemble, Tags}
import graft.ops._

/** One driver-checked query per reference operator (SURVEY.md §2.1/§2.2),
  * exercising the real graft op implementations over the driver testdata.
  * The TPC-H-ish tables play recsys roles: customer = user, part = item,
  * orders×lineitem = interactions, embeddings = item/query vectors.
  */
object OpQueries {

  /** orders ⋈ lineitem interactions, the shared base for several ops. */
  private def interactions(spark: SparkSession, d: String): DataFrame =
    orders(spark, d).join(lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("requestId"), col("l_partkey"), col("l_returnflag"),
        col("l_quantity"), col("o_totalprice"), col("o_orderkey"))

  /** QueryFeast analog: entity-id lookup against the part feature view. */
  def featureLookup(spark: SparkSession, d: String): DataFrame = {
    val requests = lineitem(spark, d).filter(col("l_quantity") >= 49)
      .select(col("l_partkey").as("p_partkey")).distinct()
    val op = QueryFeatureStore(part(spark, d), "p_partkey",
      Seq("p_brand", "p_type", "p_retailprice"), includeId = true, outputPrefix = "item_")
    op.transform(requests)
      .select(col("p_partkey"), col("item_p_brand"), col("item_p_type"),
        round(col("item_p_retailprice") * 100).cast("long").as("item_price_cents"))
      .orderBy("p_partkey")
  }

  /** FilterCandidates: per-user candidate parts minus returned ('R') parts. */
  def filterCandidates(spark: SparkSession, d: String): DataFrame = {
    val perUser = interactions(spark, d)
      .groupBy("requestId")
      .agg(
        sort_array(collect_set(col("l_partkey"))).as("candidate_ids"),
        sort_array(collect_set(when(col("l_returnflag") === "R", col("l_partkey"))))
          .as("seen_ids"))
    val pipeline = Ensemble(Seq(
      FilterCandidates(inputCol = "candidate_ids", filterCol = "seen_ids"),
      ExplodeCandidates("filtered_ids", "item_id")), perUser.schema)
    pipeline.transform(perUser).orderBy("requestId", "item_id")
  }

  /** UnrollFeatures: user features broadcast onto candidate item rows. */
  def unrollFeatures(spark: SparkSession, d: String): DataFrame = {
    val candidates = interactions(spark, d).filter(col("l_quantity") >= 48)
      .select(col("requestId"), col("l_partkey").as("item_id")).distinct()
    val users = customer(spark, d).select(
      col("c_custkey").as("requestId"), col("c_mktsegment"), col("c_acctbal"))
    val op = UnrollFeatures(users, Seq("c_mktsegment", "c_acctbal"))
    op.transform(candidates)
      .select(col("requestId"), col("item_id"), col("user_c_mktsegment"),
        round(col("user_c_acctbal") * 100).cast("long").as("user_acctbal_cents"))
      .orderBy("requestId", "item_id")
  }

  /** Embedding lookup by id (dataloader op), exploded to one row per
    * vector element so the driver compare sees only scalar columns. */
  def embeddingLookup(spark: SparkSession, d: String): DataFrame = {
    val requests = embeddings(spark, d).filter(col("label") === 1)
      .select(col("vec_id").as("id"))
    EmbeddingLookup(embeddings(spark, d), idCol = "id")
      .transform(requests)
      .select(col("id"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("v").cast("double").as("val"))
      .orderBy("id", "pos")
  }

  /** Padding: ragged list → fixed length 6, zero-filled (truncates len 7);
    * exploded to (vec_id, pos, val) scalar rows for the driver compare. */
  def padding(spark: SparkSession, d: String): DataFrame = {
    val ragged = embeddings(spark, d).select(col("vec_id"),
      slice(col("embedding"), lit(1), (col("vec_id") % 5 + 3).cast("int")).as("vals"))
    Padding("vals", length = 6).transform(ragged)
      .select(col("vec_id"), posexplode(col("vals")).as(Seq("pos0", "v")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"), col("v").cast("double").as("val"))
      .orderBy("vec_id", "pos")
  }

  /** L2-normalization (NormalizeEmbeddings), exploded to scalar rows.
    * Bit-exact vs the oracle: both sides sum squares sequentially in
    * double, one sqrt, one IEEE division per component. */
  def embedNormalize(spark: SparkSession, d: String): DataFrame =
    NormalizeEmbeddings().transform(embeddings(spark, d))
      .select(col("vec_id"), posexplode(col("embedding_norm")).as(Seq("pos0", "v")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"), col("v").as("val"))
      .orderBy("vec_id", "pos")

  /** Mean-pooled class centroids (MeanPoolEmbeddings): exact integer-micro
    * sums per (label, dim) — order-independent, so shuffle nondeterminism
    * cannot break the oracle match. */
  def embedPool(spark: SparkSession, d: String): DataFrame =
    MeanPoolEmbeddings().transform(embeddings(spark, d))
      .orderBy("label", "pos")

  /** TrainingSequences: per-user ordered (context, label) pairs for
    * next-event prediction — context emitted as the joined string so the
    * driver compare stays scalar. */
  def trainingSequences(spark: SparkSession, d: String): DataFrame =
    TrainingSequences().transform(
      events(spark, d).select("user_id", "ts", "event_id", "event_type"))
      .select("user_id", "label_event_id", "context_str", "label")
      .orderBy("label_event_id")

  /** ResampleLocf: align each user's irregular event stream to a daily
    * grid from their first observation to the corpus's last day, carrying
    * the last value forward — the feature-freshness gap-fill. Oracled
    * against DuckDB's generate_series + IGNORE NULLS window replay. */
  def resample(spark: SparkSession, d: String): DataFrame =
    ResampleLocf().transform(
      events(spark, d).select("user_id", "ts", "event_id", "value"))
      .orderBy("user_id", "day")

  /** ValidateRequests: per-request error annotation (batch survives bad
    * rows — triton_error_handling analog). The range check quarantines
    * high-value events; counts per error class prove the split. */
  def validate(spark: SparkSession, d: String): DataFrame =
    ValidateRequests(nonNull = Seq("user_id"), ranges = Map("value" -> (0.0, 25.0)))
      .transform(events(spark, d).select("event_id", "user_id", "value"))
      .groupBy("error")
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy(asc_nulls_first("error"))

  /** The offline training-set flagship: ordered event sequences →
    * (context, label) examples → deterministic content-hash split. Every
    * stage is exact, so the whole pipeline is end-to-end oracled — and
    * because the split hashes the example id, the assignment is stable
    * under reruns, repartitioning and backfills (the property a
    * random() split loses the moment the cluster changes). */
  def pipelineTrainingSet(spark: SparkSession, d: String): DataFrame = {
    val seqs = TrainingSequences().transform(
      events(spark, d).select("user_id", "ts", "event_id", "event_type"))
      .select("user_id", "label_event_id", "context_str", "label")
    HashSplit("label_event_id", trainBp = 8000, validBp = 1000)
      .transform(seqs)
      .select("user_id", "label_event_id", "context_str", "label", "split")
      .orderBy("label_event_id")
  }

  /** Bucketize: fixed-split binning of retail price and size. */
  def bucketize(spark: SparkSession, d: String): DataFrame =
    Bucketize(Map(
      "p_retailprice" -> Seq(950.0, 1200.0, 1500.0),
      "p_size" -> Seq(10.0, 25.0, 40.0)))
      .transform(part(spark, d).select("p_partkey", "p_retailprice", "p_size"))
      .select("p_partkey", "p_retailprice_bucket", "p_size_bucket")
      .orderBy("p_partkey")

  /** Categorify: deterministic frequency-ordered category codes. */
  def categorify(spark: SparkSession, d: String): DataFrame =
    Categorify(Seq("c_mktsegment"))
      .transform(customer(spark, d).select("c_custkey", "c_mktsegment"))
      .select("c_custkey", "c_mktsegment", "c_mktsegment_idx")
      .orderBy("c_custkey")

  /** QueryFaiss analog: brute-force top-10 inner-product retrieval via the
    * bounded-heap aggregator, exploded to (query, rank, item, score) rows. */
  def topkRetrieval(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val items = emb.filter(col("label") =!= 0).select(col("vec_id").as("item_id"), col("embedding"))
    TopKRetrieval(items, "vec_id", "embedding", k = 10, metric = "dot")
      .asRows(queries).orderBy("vec_id", "rank")
  }

  /** Bucketed ANN (rows-only: LSH candidate sets are hash-dependent; the
    * AnnLshSpec asserts recall against the brute-force ground truth).
    * Exploded to (vec_id, rank, item_id, score) scalar rows. */
  /** Memoized LSH hyperplane center (the item-set mean — dir-keyed, like
    * every fitted parameter here): double partial-agg merge order makes a
    * recomputed mean drift in the last bits, so the ONE captured center
    * feeds both the op and [[lshOracle]]'s dump-time literal. */
  private val lshCenterCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Double]]

  private def cachedLshCenter(spark: SparkSession, d: String): Seq[Double] =
    lshCenterCache.getOrElseUpdate(d,
      graft.functions.VectorFunctions.meanVector(
        embeddings(spark, d).filter(col("label") =!= 0)
          .select(col("vec_id").as("item_id"), col("embedding")),
        "embedding").toSeq)

  /** Shared op/oracle parameters — ONE definition so the SQL mirror can
    * never silently drift from the query. */
  private val annLshBits = 5
  private val annLshProbes = 6

  def annLsh(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val items = emb.filter(col("label") =!= 0).select(col("vec_id").as("item_id"), col("embedding"))
    AnnLsh(items, "vec_id", "embedding", k = 10, numBits = annLshBits,
      nprobe = annLshProbes, metric = "cosine",
      center = Some(cachedLshCenter(spark, d)))
      .asRows(queries).orderBy("vec_id", "rank")
  }

  /** The ONLINE LSH-index lifecycle end-to-end ([[annIvfStream]]'s shape
    * for the sign-projection tier): the catalog arrives as a
    * 3-micro-batch item stream,
    * [[graft.streaming.StreamingOps.annIndexSink]] maintains the
    * persisted bucket table under the frozen center across batches, and
    * the probe runs against the final loaded version. Bucketing is
    * per-item independent through the one shared [[AnnLsh.index]]
    * definition, so the maintained index equals the full build and this
    * row shares op_ann_lsh's dump-time oracle. */
  def annLshStream(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val items = emb.filter(col("label") =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding"))
    val op = AnnLsh(items, "vec_id", "embedding", k = 10, numBits = annLshBits,
      nprobe = annLshProbes, metric = "cosine",
      center = Some(cachedLshCenter(spark, d)))
    streamedRows(spark, op, queries, "lsh_stream_idx")
  }

  /** LSH bucket-occupancy skew over the op_ann_lsh fitted state
    * ([[graft.ops.LshSkewReport]]): the fit-quality trigger the sf1.0
    * recsys adjudication motivated — retrieval cost follows probed
    * bucket sizes, and sign-LSH occupancy on clustered geometry is
    * fit-dependent, so the histogram summary must be a monitored row,
    * not an assumption. All-integer outputs; hash-replayed from the
    * same resolved sign matrix as op_ann_lsh. */
  def annLshSkew(spark: SparkSession, d: String): DataFrame = {
    val items = embeddings(spark, d).filter(col("label") =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding"))
    LshSkewReport(cachedLshCenter(spark, d), annLshBits)
      .transform(items)
  }

  /** Inverted-list occupancy over the shared IVF32 coarse quantizer
    * ([[graft.ops.IvfSkewReport]]) — one report covers the Flat/PQ/SQ8
    * tiers since they share the fit. Hash-replayed from the centroid
    * literals via the op_ann_ivf assignment CTE. */
  def annIvfSkew(spark: SparkSession, d: String): DataFrame =
    IvfSkewReport(cachedCenters(spark, d, nlist = 32, maxIter = 5))
      .transform(ivfItems(spark, d))

  /** op_ann_lsh's oracle, generated at dump time. The hyperplanes are ±1
    * sign vectors read from bit p of xxhash64(dim, seed=42) — DuckDB has
    * no xxhash64, but the RESOLVED sign matrix is a deterministic fitted
    * constant, so it inlines like every other fitted parameter. Per-plane
    * projection `lip(v − mu, s_p)` is bit-identical to LshBucket's
    * accumulate loop (multiplying by ±1.0 is exact and the fold order is
    * the same d-ascending sequence); bucket bit p is the strict `> 0`
    * sign; probes are the home bucket plus single-bit XOR flips; and the
    * cosine top-k replays the shared guarded formula. */
  def lshOracle: Map[String, String] =
    OracleDir.pick(lshCenterCache).map { mu =>
      val numBits = annLshBits
      val dim = mu.size
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.IntegerType
      val signRows = (0 until numBits).map { p =>
        val sv = (0 until dim).map { dd =>
          val h = XxHash64Function.hash(dd, IntegerType, 42L)
          if (((h >>> p) & 1L) == 1L) 1.0 else -1.0
        }
        s"($p, ${1 << p}, '${sv.mkString("[", ", ", "]")}'::DOUBLE[])"
      }.mkString(",\n  ")
      val probes = (Seq("SELECT vec_id, home AS bucket FROM qb") ++
        (0 until (annLshProbes - 1)).map(i =>
          s"SELECT vec_id, xor(home, ${1 << i}) FROM qb")).mkString("\n  UNION ALL ")
      val norm = (c: String) => s"sqrt(list_inner_product($c, $c))"
      "op_ann_lsh" ->
        s"""WITH c(mu) AS (VALUES ('${mu.mkString("[", ", ", "]")}'::DOUBLE[])),
           |s(p, pw, sv) AS (VALUES
           |  $signRows),
           |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE label <> 0),
           |qs AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE label = 0),
           |ib AS (SELECT item_id,
           |    CAST(sum(CASE WHEN list_inner_product(diff, sv) > 0 THEN pw ELSE 0 END) AS INTEGER) AS bucket
           |  FROM (SELECT item_id, list_transform(range(1, ${dim + 1}), i -> v[i] - mu[i]) AS diff
           |    FROM items CROSS JOIN c) CROSS JOIN s
           |  GROUP BY item_id),
           |qb AS (SELECT vec_id,
           |    CAST(sum(CASE WHEN list_inner_product(diff, sv) > 0 THEN pw ELSE 0 END) AS INTEGER) AS home
           |  FROM (SELECT vec_id, list_transform(range(1, ${dim + 1}), i -> v[i] - mu[i]) AS diff
           |    FROM qs CROSS JOIN c) CROSS JOIN s
           |  GROUP BY vec_id),
           |qp AS ($probes),
           |scored AS (SELECT p.vec_id, i.item_id,
           |    CASE WHEN ${norm("q.v")} * ${norm("i.v")} = 0 THEN 0.0
           |      ELSE list_inner_product(q.v, i.v) / (${norm("q.v")} * ${norm("i.v")}) END AS score
           |  FROM qp p JOIN ib ON ib.bucket = p.bucket
           |  JOIN items i ON i.item_id = ib.item_id
           |  JOIN qs q ON q.vec_id = p.vec_id)
           |SELECT vec_id, rank, item_id, score FROM (
           |  SELECT vec_id, item_id, score, row_number() OVER
           |      (PARTITION BY vec_id ORDER BY score DESC, item_id) AS rank
           |  FROM scored) WHERE rank <= 10
           |ORDER BY vec_id, rank""".stripMargin
    }.toList.flatMap { case (n, sql) =>
      // the sink-maintained bucket table is id-identical to the batch
      // build (one bucketing definition, per-item independent) — same
      // oracle for the streaming-lifecycle row
      Seq(n -> sql, "op_ann_lsh_stream" -> sql,
        // pick can't be empty here — this flatMap runs inside its
        // non-empty branch, on the same dir-pinned center
        "op_ann_lsh_skew" -> lshSkewSql(OracleDir.pick(lshCenterCache).get),
        "op_ann_lsh_skew_stream" ->
          lshSkewStreamSql(OracleDir.pick(lshCenterCache).get),
        "op_ann_lsh_probe_cost" ->
          lshProbeCostSql(OracleDir.pick(lshCenterCache).get))
    }.toMap

  /** op_ann_lsh_skew's oracle: the item-bucket CTE from the op_ann_lsh
    * replay (same resolved sign matrix, same strict `> 0` sign and
    * d-ascending projection fold), collapsed to the all-integer
    * histogram summary — ceil-division uniform target, basis-point
    * skew, empty-catalog zeros. */
  private def lshSkewSql(mu: Seq[Double]): String = {
    val numBits = annLshBits
    val dim = mu.size
    val nBuckets = 1L << numBits
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.IntegerType
    val signRows = (0 until numBits).map { p =>
      val sv = (0 until dim).map { dd =>
        val h = XxHash64Function.hash(dd, IntegerType, 42L)
        if (((h >>> p) & 1L) == 1L) 1.0 else -1.0
      }
      s"($p, ${1 << p}, '${sv.mkString("[", ", ", "]")}'::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH c(mu) AS (VALUES ('${mu.mkString("[", ", ", "]")}'::DOUBLE[])),
       |s(p, pw, sv) AS (VALUES
       |  $signRows),
       |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE label <> 0 AND embedding IS NOT NULL),
       |ib AS (SELECT item_id,
       |    CAST(sum(CASE WHEN list_inner_product(diff, sv) > 0 THEN pw ELSE 0 END) AS INTEGER) AS bucket
       |  FROM (SELECT item_id, list_transform(range(1, ${dim + 1}), i -> v[i] - mu[i]) AS diff
       |    FROM items CROSS JOIN c) CROSS JOIN s
       |  GROUP BY item_id),
       |counts AS (SELECT bucket, count(*) AS c FROM ib GROUP BY bucket),
       |agg AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_items,
       |    CAST(count(*) AS BIGINT) AS n_occupied,
       |    CAST(coalesce(max(c), 0) AS BIGINT) AS max_count
       |  FROM counts)
       |SELECT n_items, CAST($nBuckets AS BIGINT) AS n_buckets, n_occupied,
       |  max_count,
       |  (n_items + ${nBuckets - 1}) // $nBuckets AS uniform_count,
       |  CASE WHEN (n_items + ${nBuckets - 1}) // $nBuckets = 0
       |    THEN CAST(0 AS BIGINT)
       |    ELSE max_count * 10000 // ((n_items + ${nBuckets - 1}) // $nBuckets)
       |  END AS skew_bp
       |FROM agg""".stripMargin
  }

  /** Probe-cost evidence for the LSH tier ([[graft.ops.LshProbeCost]]):
    * expected candidate volume of the op_ann_lsh query workload against
    * its bucket histogram — the quantity the sf1.0 recsys cliff was
    * made of, as a hash-oracled all-integer row computed from two
    * bucket-scale aggregates (never the probe join itself). */
  def annLshProbeCost(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val items = emb.filter(col("label") =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding"))
    LshProbeCost(items, cachedLshCenter(spark, d), annLshBits, annLshProbes)
      .transform(emb.filter(col("label") === 0))
  }

  /** The k-means twin ([[graft.ops.IvfProbeCost]]) over the shared
    * IVF32 coarse quantizer — one report covers Flat/PQ/SQ8. */
  def annIvfProbeCost(spark: SparkSession, d: String): DataFrame = {
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    IvfProbeCost(ivfItems(spark, d), centers,
      nprobe = math.min(8, centers.size))
      .transform(embeddings(spark, d).filter(col("label") === 0))
  }

  /** op_ann_lsh_probe_cost's oracle: item/probe bucket histograms from
    * the op_ann_lsh sign-matrix replay, joined on bucket id — the
    * Σ probes(b)·|b| formulation, identical to the op's two-aggregate
    * plan. */
  private def lshProbeCostSql(mu: Seq[Double]): String = {
    val numBits = annLshBits
    val dim = mu.size
    val nBuckets = 1L << numBits
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.IntegerType
    val signRows = (0 until numBits).map { p =>
      val sv = (0 until dim).map { dd =>
        val h = XxHash64Function.hash(dd, IntegerType, 42L)
        if (((h >>> p) & 1L) == 1L) 1.0 else -1.0
      }
      s"($p, ${1 << p}, '${sv.mkString("[", ", ", "]")}'::DOUBLE[])"
    }.mkString(",\n  ")
    val probes = (Seq("SELECT vec_id, home AS bucket FROM qb") ++
      (0 until (annLshProbes - 1)).map(i =>
        s"SELECT vec_id, xor(home, ${1 << i}) FROM qb")).mkString("\n  UNION ALL ")
    s"""WITH c(mu) AS (VALUES ('${mu.mkString("[", ", ", "]")}'::DOUBLE[])),
       |s(p, pw, sv) AS (VALUES
       |  $signRows),
       |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE label <> 0 AND embedding IS NOT NULL),
       |qs AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE label = 0 AND embedding IS NOT NULL),
       |ib AS (SELECT item_id,
       |    CAST(sum(CASE WHEN list_inner_product(diff, sv) > 0 THEN pw ELSE 0 END) AS INTEGER) AS bucket
       |  FROM (SELECT item_id, list_transform(range(1, ${dim + 1}), i -> v[i] - mu[i]) AS diff
       |    FROM items CROSS JOIN c) CROSS JOIN s
       |  GROUP BY item_id),
       |qb AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN list_inner_product(diff, sv) > 0 THEN pw ELSE 0 END) AS INTEGER) AS home
       |  FROM (SELECT vec_id, list_transform(range(1, ${dim + 1}), i -> v[i] - mu[i]) AS diff
       |    FROM qs CROSS JOIN c) CROSS JOIN s
       |  GROUP BY vec_id),
       |qp AS ($probes),
       |ic AS (SELECT bucket, count(*) AS c FROM ib GROUP BY bucket),
       |pc AS (SELECT bucket, count(*) AS c FROM qp GROUP BY bucket),
       |n AS (SELECT
       |  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ic) AS n_items,
       |  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM pc) AS n_probes,
       |  (SELECT CAST(coalesce(sum(ic.c * pc.c), 0) AS BIGINT)
       |    FROM pc JOIN ic ON pc.bucket = ic.bucket) AS candidates,
       |  (SELECT CAST(coalesce(max(ic.c), 0) AS BIGINT)
       |    FROM pc JOIN ic ON pc.bucket = ic.bucket) AS max_probed_count)
       |SELECT n_items, CAST($nBuckets AS BIGINT) AS n_buckets, n_probes,
       |  candidates, max_probed_count,
       |  (n_items + ${nBuckets - 1}) // $nBuckets AS uniform_count,
       |  n_probes * ((n_items + ${nBuckets - 1}) // $nBuckets) AS uniform_candidates,
       |  CASE WHEN n_probes * ((n_items + ${nBuckets - 1}) // $nBuckets) = 0
       |    THEN CAST(0 AS BIGINT)
       |    ELSE candidates * 10000 // (n_probes * ((n_items + ${nBuckets - 1}) // $nBuckets))
       |  END AS cost_bp
       |FROM n""".stripMargin
  }

  /** op_ann_lsh_skew_stream's oracle: the op_ann_lsh_skew replay (same
    * resolved sign matrix, strict `> 0` sign, d-ascending projection
    * fold) computed per ingest prefix — batches split by item_id % 3
    * and bucketing is per-item independent under the frozen center, so
    * version v<b>'s stamped line equals the histogram over items with
    * id % 3 <= b. */
  private def lshSkewStreamSql(mu: Seq[Double]): String = {
    val numBits = annLshBits
    val dim = mu.size
    val nBuckets = 1L << numBits
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.IntegerType
    val signRows = (0 until numBits).map { p =>
      val sv = (0 until dim).map { dd =>
        val h = XxHash64Function.hash(dd, IntegerType, 42L)
        if (((h >>> p) & 1L) == 1L) 1.0 else -1.0
      }
      s"($p, ${1 << p}, '${sv.mkString("[", ", ", "]")}'::DOUBLE[])"
    }.mkString(",\n  ")
    def prefix(b: Int): String =
      s"""SELECT 'v$b' AS version, n_items,
         |  CAST($nBuckets AS BIGINT) AS n_buckets, n_occupied, max_count,
         |  (n_items + ${nBuckets - 1}) // $nBuckets AS uniform_count,
         |  CASE WHEN (n_items + ${nBuckets - 1}) // $nBuckets = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE max_count * 10000 // ((n_items + ${nBuckets - 1}) // $nBuckets)
         |  END AS skew_bp
         |FROM (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_items,
         |    CAST(count(*) AS BIGINT) AS n_occupied,
         |    CAST(coalesce(max(c), 0) AS BIGINT) AS max_count
         |  FROM (SELECT bucket, count(*) AS c FROM ib
         |    WHERE item_id % 3 <= $b GROUP BY bucket))""".stripMargin
    s"""WITH c(mu) AS (VALUES ('${mu.mkString("[", ", ", "]")}'::DOUBLE[])),
       |s(p, pw, sv) AS (VALUES
       |  $signRows),
       |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE label <> 0 AND embedding IS NOT NULL),
       |ib AS (SELECT item_id,
       |    CAST(sum(CASE WHEN list_inner_product(diff, sv) > 0 THEN pw ELSE 0 END) AS INTEGER) AS bucket
       |  FROM (SELECT item_id, list_transform(range(1, ${dim + 1}), i -> v[i] - mu[i]) AS diff
       |    FROM items CROSS JOIN c) CROSS JOIN s
       |  GROUP BY item_id)
       |SELECT * FROM (
       |${prefix(0)}
       |UNION ALL
       |${prefix(1)}
       |UNION ALL
       |${prefix(2)})
       |ORDER BY version""".stripMargin
  }

  /** The LSH twin of [[annOccupancyStream]] — the stamped occupancy log
    * of a 3-batch [[graft.streaming.StreamingOps.annIndexSink]]
    * ingest under the frozen hyperplane center, hash-checked per
    * version against the per-prefix sign-matrix replay. Completes the
    * in-log monitoring symmetry for the tier whose occupancy skew is
    * the FIT-dependent one ([[graft.ops.LshSkewReport]] — the sf1.0
    * recsys indictment). */
  def annLshSkewStream(spark: SparkSession, d: String): DataFrame = {
    val items = embeddings(spark, d).filter(col("label") =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding"))
    val op = AnnLsh(items, "vec_id", "embedding", k = 10,
      numBits = annLshBits, nprobe = annLshProbes, metric = "cosine",
      center = Some(cachedLshCenter(spark, d)))
    occupancyRows(spark, streamIndex(spark, op, "lsh_skew_stream"))
  }

  /** Memoized IVF coarse-quantizer centers keyed by (sfDir, nlist,
    * maxIter). A served IVF index is fit offline once and probed many
    * times; refitting inside every query timing made `op_ann_ivf*` bench
    * numbers measure MLlib k-means variance, not the probe/score plan
    * (r3: 3.1 → 5.3 s drift on an unchanged query). The fit is seeded, so
    * cached centers are identical to a refit — results never change, only
    * when the fit cost is paid. [[Bench]] prewarms via
    * [[prewarmAnnCenters]]; Verify pays the fit on first use. */
  private val centerCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Seq[Seq[Double]]]

  /** `op`'s catalog streamed through
    * [[graft.streaming.StreamingOps.annIndexSink]] as three micro-batches
    * (item_id % 3 = 0, 1, 2) into a fresh temp index log; returns the
    * log dir. The oracles replay batch b as version b, and the sink skips
    * empty batches, so an empty split fails here instead of shifting the
    * mapping. */
  private def streamIndex(spark: SparkSession, op: AnnIndex, name: String): String = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val itemRows = op.items.as[(Long, Seq[Float])].collect()
    (0 until 3).foreach(m => require(itemRows.exists(_._1 % 3 == m),
      s"streamIndex($name): the item_id % 3 == $m split is empty"))
    val dir = OracleDir.tempDir(name)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = src.toDF().toDF("item_id", "embedding").writeStream
      .foreachBatch(graft.streaming.StreamingOps.annIndexSink(dir, op)).start()
    try {
      (0 until 3).foreach { m =>
        src.addData(itemRows.filter(_._1 % 3 == m).toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    dir
  }

  /** `queries` probed against `op`'s [[streamIndex]]-maintained index
    * log, as ordered rows. */
  private def streamedRows(spark: SparkSession, op: AnnIndex, queries: DataFrame,
      name: String): DataFrame = {
    val index = graft.streaming.StreamingOps.loadIndexLog(spark, streamIndex(spark, op, name)).get
    op.asRowsIndexed(queries, index).orderBy("vec_id", "rank")
  }

  /** A sink-maintained log's stamped occupancy lines, one row per
    * committed version. */
  private[queries] def occupancyRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.streaming.StreamingOps.occupancyLog(spark, dir).map { case (v, o) =>
      (v, o.nItems, o.nBuckets, o.nOccupied, o.maxCount,
        o.uniformCount, o.skewBp)
    }.toDF("version", "n_items", "n_buckets", "n_occupied", "max_count",
      "uniform_count", "skew_bp").orderBy("version")
  }

  private def ivfItems(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d).filter(col("label") =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding"))

  private def cachedCenters(spark: SparkSession, d: String,
      nlist: Int, maxIter: Int): Seq[Seq[Double]] =
    centerCache.getOrElseUpdate((d, nlist, maxIter),
      graft.functions.VectorFunctions.fitCenters(
        ivfItems(spark, d), "embedding", nlist, maxIter, 42L))

  /** Fit all ANN quantizers outside any timed window (bench warmup). */
  def prewarmAnnCenters(spark: SparkSession, d: String): Unit = {
    cachedCenters(spark, d, nlist = 32, maxIter = 5)
    cachedCenters(spark, d, nlist = 16, maxIter = 1)
    cachedCodebooks(spark, d)
    cachedSqRange(spark, d)
  }

  /** Memoized PCA axes keyed by (dir, k) — the fit is an offline artifact
    * (same fit-offline-project-many rationale as [[cachedCenters]]), and
    * the fitted doubles feed [[pcaOracle]]'s SQL literals at dump time. */
  private val pcaAxesCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[Seq[Double]]]

  private def cachedPcaAxes(spark: SparkSession, d: String,
      k: Int): Seq[Seq[Double]] =
    pcaAxesCache.getOrElseUpdate((d, k),
      PcaProject.fit(embeddings(spark, d), k = k).components)

  /** Fit both PCA variants outside any timed window (bench warmup). */
  def prewarmPca(spark: SparkSession, d: String): Unit = {
    cachedPcaAxes(spark, d, 8); cachedPcaAxes(spark, d, 32)
  }

  /** Fitted-axes side artifacts (dir, k) -> parquet path — the ALS
    * factor-table pattern: the axes ride to the oracle as a PARQUET
    * table (`pos`, `axis DOUBLE[]`), not SQL literals, so the oracle
    * artifact stays metadata-scale no matter the dimensionality (at
    * >4k dims the inlined-literal payload was the bottleneck artifact)
    * and the doubles round-trip exactly (binary, no string parse). */
  private val pcaAxesArt =
    scala.collection.concurrent.TrieMap.empty[(String, Int), String]

  private def writePcaAxesArtifact(spark: SparkSession, d: String,
      k: Int, axes: Seq[Seq[Double]]): Unit = {
    import spark.implicits._
    OracleDir.writeArtifact(
      axes.zipWithIndex.map { case (a, i) => (i, a) }.toDF("pos", "axis"),
      d, s"pca_axes_$k")
      .foreach(p => pcaAxesArt((d, k)) = p)
  }

  /** Resolve the LSH hyperplane center outside any timed window. */
  def prewarmLshCenter(spark: SparkSession, d: String): Unit =
    cachedLshCenter(spark, d)

  /** op_pca_project's oracle, generated at oracle-dump time (Verify dumps
    * AFTER the queries run) against the FITTED axes persisted as a
    * parquet side artifact ([[writePcaAxesArtifact]] — the ALS
    * factor-table pattern): the projection is pure dot arithmetic over
    * those constants, and `list_inner_product` bit-matches
    * [[graft.functions.VectorFunctions.dot]] under the hash oracle
    * (op_topk_retrieval / op_ann_ivf_full precedent). Empty until the
    * query has run in this JVM (a selective Verify that skips
    * op_pca_project records rows-only, exactly as before). */
  /** op_ann_ivf's oracle, generated at oracle-dump time with the FITTED
    * k-means centroids inlined as SQL literals — same discipline as
    * [[pcaOracle]]. The whole approximate path replays exactly in DuckDB
    * because every step is deterministic arithmetic over those
    * constants: list assignment is argmin over `c2 - 2.0 *
    * list_inner_product(v, c)` (bit-identical to the op's
    * centroidStructs formula — c2 is the same Scala-computed literal,
    * and DuckDB's inner product bit-matches our dot fold) with the
    * struct-min (d, cid) tie-break as ORDER BY d, cid; query probing is
    * the same ordering taken to nprobe; and the bounded-heap top-k's
    * (score DESC, id ASC) order is a window rank. Empty until the query
    * has run in this JVM (selective Verify → rows-only, as before). */
  def ivfOracle: Map[String, String] =
    OracleDir.pickKey(centerCache, (k: (String, Int, Int)) => k._1,
        (k: (String, Int, Int)) => k._2 == 32 && k._3 == 5)
      .toSeq.flatMap { case (key, centers) =>
        val nprobe = math.min(8, centers.size)
        val rows = centers.zipWithIndex.map { case (c, i) =>
          val c2 = c.map(x => x * x).sum
          s"($i, '${c.mkString("[", ", ", "]")}'::DOUBLE[], '$c2'::DOUBLE)"
        }.mkString(",\n  ")
        val sql =
          s"""WITH cent(cid, cv, c2) AS (VALUES
             |  $rows),
             |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE label <> 0),
             |iass AS (SELECT item_id, v, cid, row_number() OVER
             |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
             |  FROM items CROSS JOIN cent),
             |i AS (SELECT item_id, v, cid FROM iass WHERE rn = 1),
             |qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE label = 0),
             |qass AS (SELECT vec_id, qv, cid, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY c2 - 2.0 * list_inner_product(qv, cv), cid) AS rn
             |  FROM qs CROSS JOIN cent),
             |probe AS (SELECT vec_id, qv, cid FROM qass WHERE rn <= $nprobe),
             |scored AS (SELECT p.vec_id, i.item_id,
             |    list_inner_product(p.qv, i.v) AS score
             |  FROM probe p JOIN i ON p.cid = i.cid),
             |ranked AS (SELECT vec_id, item_id, score, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY score DESC, item_id) AS rank
             |  FROM scored)
             |SELECT vec_id, CAST(rank AS INTEGER) AS rank, item_id, score FROM ranked
             |WHERE rank <= 10 ORDER BY vec_id, rank""".stripMargin
        // sampled recall monitor: the SAME probe math confined to the
        // md5-ranked query sample, brute-force truth over the sample
        // only, counts + the fixed-order IEEE-double binomial margin
        val pRecall =
          "CAST(n_matched AS DOUBLE) / CAST(n_truth AS DOUBLE)"
        val sampledSql =
          s"""WITH cent(cid, cv, c2) AS (VALUES
             |  $rows),
             |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE label <> 0),
             |iass AS (SELECT item_id, v, cid, row_number() OVER
             |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
             |  FROM items CROSS JOIN cent),
             |i AS (SELECT item_id, v, cid FROM iass WHERE rn = 1),
             |qs AS (SELECT vec_id, qv FROM (
             |  SELECT vec_id, embedding::DOUBLE[] AS qv, row_number() OVER
             |      (ORDER BY ('0x' || substring(md5(vec_id::VARCHAR || ':graft-recall'), 1, 8))::BIGINT,
             |        vec_id) AS srk
             |  FROM embeddings WHERE label = 0) WHERE srk <= 25),
             |qass AS (SELECT vec_id, qv, cid, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY c2 - 2.0 * list_inner_product(qv, cv), cid) AS rn
             |  FROM qs CROSS JOIN cent),
             |probe AS (SELECT vec_id, qv, cid FROM qass WHERE rn <= $nprobe),
             |scored AS (SELECT p.vec_id, i.item_id,
             |    list_inner_product(p.qv, i.v) AS score
             |  FROM probe p JOIN i ON p.cid = i.cid),
             |ap AS (SELECT vec_id, item_id FROM (
             |  SELECT vec_id, item_id, row_number() OVER
             |      (PARTITION BY vec_id ORDER BY score DESC, item_id) AS rank
             |  FROM scored) WHERE rank <= 10),
             |tr AS (SELECT vec_id, item_id FROM (
             |  SELECT q.vec_id, i.item_id, row_number() OVER
             |      (PARTITION BY q.vec_id
             |       ORDER BY list_inner_product(q.qv, i.v) DESC, i.item_id) AS rank
             |  FROM qs q CROSS JOIN i) WHERE rank <= 10),
             |n AS (SELECT
             |  (SELECT count(*) FROM qs) AS nq,
             |  (SELECT count(*) FROM tr) AS n_truth,
             |  (SELECT count(*) FROM ap) AS n_approx,
             |  (SELECT count(*) FROM ap a WHERE EXISTS (SELECT 1 FROM tr t
             |    WHERE t.vec_id = a.vec_id AND t.item_id = a.item_id)) AS n_matched)
             |SELECT CAST(nq AS BIGINT) AS n_queries_sampled,
             |  CAST(n_truth AS BIGINT) AS n_truth,
             |  CAST(n_approx AS BIGINT) AS n_approx,
             |  CAST(n_matched AS BIGINT) AS n_matched,
             |  CASE WHEN n_truth = 0 THEN CAST(10000 AS BIGINT)
             |    ELSE n_matched * 10000 // n_truth END AS recall_bp,
             |  (CASE WHEN n_truth = 0 THEN CAST(10000 AS BIGINT)
             |    ELSE n_matched * 10000 // n_truth END)
             |  - (CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
             |    ELSE CAST(floor(19600.0 * sqrt($pRecall * (1.0 - $pRecall)
             |      / CAST(n_truth AS DOUBLE))) AS BIGINT) END) AS ci_low_bp,
             |  CAST(5000 AS BIGINT) AS floor_bp
             |FROM n""".stripMargin
        // the incremental-index query AND the stream-maintained index are
        // id-identical to the rebuild by construction (assignment is
        // per-item independent) — same oracle for all three
        // list-occupancy summary from the same assignment CTE: the
        // all-integer histogram with ceil-uniform target and bp skew
        val n = centers.size
        val skewSql =
          s"""WITH cent(cid, cv, c2) AS (VALUES
             |  $rows),
             |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE label <> 0 AND embedding IS NOT NULL),
             |iass AS (SELECT item_id, cid, row_number() OVER
             |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
             |  FROM items CROSS JOIN cent),
             |counts AS (SELECT cid, count(*) AS c FROM iass WHERE rn = 1 GROUP BY cid),
             |agg AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_items,
             |    CAST(count(*) AS BIGINT) AS n_occupied,
             |    CAST(coalesce(max(c), 0) AS BIGINT) AS max_count
             |  FROM counts)
             |SELECT n_items, CAST($n AS BIGINT) AS n_buckets, n_occupied,
             |  max_count,
             |  (n_items + ${n - 1}) // $n AS uniform_count,
             |  CASE WHEN (n_items + ${n - 1}) // $n = 0
             |    THEN CAST(0 AS BIGINT)
             |    ELSE max_count * 10000 // ((n_items + ${n - 1}) // $n)
             |  END AS skew_bp
             |FROM agg""".stripMargin
        // the stamped per-version occupancy lines replay as the same
        // skew aggregate confined to each ingest prefix (batches split
        // by item_id % 3; assignment per-item independent under the
        // frozen centroids, counts additive across deltas)
        def occPrefix(b: Int): String =
          s"""SELECT 'v$b' AS version, n_items,
             |  CAST($n AS BIGINT) AS n_buckets, n_occupied, max_count,
             |  (n_items + ${n - 1}) // $n AS uniform_count,
             |  CASE WHEN (n_items + ${n - 1}) // $n = 0
             |    THEN CAST(0 AS BIGINT)
             |    ELSE max_count * 10000 // ((n_items + ${n - 1}) // $n)
             |  END AS skew_bp
             |FROM (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_items,
             |    CAST(count(*) AS BIGINT) AS n_occupied,
             |    CAST(coalesce(max(c), 0) AS BIGINT) AS max_count
             |  FROM (SELECT cid, count(*) AS c FROM iass
             |    WHERE rn = 1 AND item_id % 3 <= $b GROUP BY cid))""".stripMargin
        val occStreamSql =
          s"""WITH cent(cid, cv, c2) AS (VALUES
             |  $rows),
             |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE label <> 0 AND embedding IS NOT NULL),
             |iass AS (SELECT item_id, cid, row_number() OVER
             |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
             |  FROM items CROSS JOIN cent)
             |SELECT * FROM (
             |${occPrefix(0)}
             |UNION ALL
             |${occPrefix(1)}
             |UNION ALL
             |${occPrefix(2)})
             |ORDER BY version""".stripMargin
        val nprobeQ = math.min(8, centers.size)
        val probeCostSql =
          s"""WITH cent(cid, cv, c2) AS (VALUES
             |  $rows),
             |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE label <> 0 AND embedding IS NOT NULL),
             |iass AS (SELECT item_id, cid, row_number() OVER
             |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
             |  FROM items CROSS JOIN cent),
             |qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE label = 0 AND embedding IS NOT NULL),
             |qass AS (SELECT vec_id, cid, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY c2 - 2.0 * list_inner_product(qv, cv), cid) AS rn
             |  FROM qs CROSS JOIN cent),
             |ic AS (SELECT cid, count(*) AS c FROM iass WHERE rn = 1 GROUP BY cid),
             |pc AS (SELECT cid, count(*) AS c FROM qass WHERE rn <= $nprobeQ GROUP BY cid),
             |nn AS (SELECT
             |  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ic) AS n_items,
             |  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM pc) AS n_probes,
             |  (SELECT CAST(coalesce(sum(ic.c * pc.c), 0) AS BIGINT)
             |    FROM pc JOIN ic ON pc.cid = ic.cid) AS candidates,
             |  (SELECT CAST(coalesce(max(ic.c), 0) AS BIGINT)
             |    FROM pc JOIN ic ON pc.cid = ic.cid) AS max_probed_count)
             |SELECT n_items, CAST($n AS BIGINT) AS n_buckets, n_probes,
             |  candidates, max_probed_count,
             |  (n_items + ${n - 1}) // $n AS uniform_count,
             |  n_probes * ((n_items + ${n - 1}) // $n) AS uniform_candidates,
             |  CASE WHEN n_probes * ((n_items + ${n - 1}) // $n) = 0
             |    THEN CAST(0 AS BIGINT)
             |    ELSE candidates * 10000 // (n_probes * ((n_items + ${n - 1}) // $n))
             |  END AS cost_bp
             |FROM nn""".stripMargin
        Seq("op_ann_ivf" -> sql, "op_ann_index_update" -> sql,
          "op_ann_ivf_stream" -> sql,
          "op_ann_ivf_recall_sampled" -> sampledSql,
          "op_ann_ivf_skew" -> skewSql,
          "op_ann_occupancy_stream" -> occStreamSql,
          "op_ann_ivf_probe_cost" -> probeCostSql)
      }.toMap

  /** op_ann_refit_skewed's oracles, generated at dump time like
    * [[ivfOracle]]: the occupancy log's v0–v2 lines replay as the skew
    * aggregate under the DEGENERATE center literals (fixed constants —
    * assignment puts every item in list 0 by construction) confined to
    * each `item_id % 3` ingest prefix; the v3 line and the probe row
    * replay under the FITTED refit centroids inlined as string-parsed
    * literals. Empty until the lifecycle query has run in this JVM. */
  def refitOracle: Map[String, String] =
    OracleDir.pickDir(refitState.keys).map { d =>
      def centRows(cs: Seq[Seq[Double]]): String =
        cs.zipWithIndex.map { case (c, i) =>
          val c2 = c.map(x => x * x).sum
          s"($i, '${c.mkString("[", ", ", "]")}'::DOUBLE[], '$c2'::DOUBLE)"
        }.mkString(",\n  ")
      val centers = refitState(d)._2
      val nd = degenerateCenters.size
      val nr = centers.size
      // one version's stamped 4-integer line + derived columns, as the
      // occupancy aggregate over assignment table `tab` filtered by
      // `pred` (the cumulative ingest prefix, or nothing for the refit)
      def occSel(version: String, tab: String, n: Int, pred: String) =
        s"""SELECT '$version' AS version, n_items,
           |  CAST($n AS BIGINT) AS n_buckets, n_occupied, max_count,
           |  (n_items + ${n - 1}) // $n AS uniform_count,
           |  CASE WHEN (n_items + ${n - 1}) // $n = 0 THEN CAST(0 AS BIGINT)
           |    ELSE max_count * 10000 // ((n_items + ${n - 1}) // $n)
           |  END AS skew_bp
           |FROM (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_items,
           |    CAST(count(*) AS BIGINT) AS n_occupied,
           |    CAST(coalesce(max(c), 0) AS BIGINT) AS max_count
           |  FROM (SELECT cid, count(*) AS c FROM $tab
           |    WHERE rn = 1$pred GROUP BY cid))""".stripMargin
      val logSql =
        s"""WITH dcent(cid, cv, c2) AS (VALUES
           |  ${centRows(degenerateCenters)}),
           |rcent(cid, cv, c2) AS (VALUES
           |  ${centRows(centers)}),
           |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE label <> 0 AND embedding IS NOT NULL),
           |dass AS (SELECT item_id, cid, row_number() OVER
           |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
           |  FROM items CROSS JOIN dcent),
           |rass AS (SELECT item_id, cid, row_number() OVER
           |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
           |  FROM items CROSS JOIN rcent)
           |SELECT * FROM (
           |${occSel("v0", "dass", nd, " AND item_id % 3 <= 0")}
           |UNION ALL
           |${occSel("v1", "dass", nd, " AND item_id % 3 <= 1")}
           |UNION ALL
           |${occSel("v2", "dass", nd, " AND item_id % 3 <= 2")}
           |UNION ALL
           |${occSel("v3", "rass", nr, "")})
           |ORDER BY version""".stripMargin
      val nprobe = math.min(8, nr)
      val probeSql =
        s"""WITH cent(cid, cv, c2) AS (VALUES
           |  ${centRows(centers)}),
           |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE label <> 0),
           |iass AS (SELECT item_id, v, cid, row_number() OVER
           |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
           |  FROM items CROSS JOIN cent),
           |i AS (SELECT item_id, v, cid FROM iass WHERE rn = 1),
           |qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE label = 0),
           |qass AS (SELECT vec_id, qv, cid, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY c2 - 2.0 * list_inner_product(qv, cv), cid) AS rn
           |  FROM qs CROSS JOIN cent),
           |probe AS (SELECT vec_id, qv, cid FROM qass WHERE rn <= $nprobe),
           |scored AS (SELECT p.vec_id, i.item_id,
           |    list_inner_product(p.qv, i.v) AS score
           |  FROM probe p JOIN i ON p.cid = i.cid),
           |ranked AS (SELECT vec_id, item_id, score, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY score DESC, item_id) AS rank
           |  FROM scored)
           |SELECT vec_id, CAST(rank AS INTEGER) AS rank, item_id, score FROM ranked
           |WHERE rank <= 10 ORDER BY vec_id, rank""".stripMargin
      Map("op_ann_refit_skewed" -> logSql,
        "op_ann_refit_skewed_probe" -> probeSql)
    }.getOrElse(Map.empty)

  /** op_ann_pq's oracle — the full IVF-PQ path (encode, probe, ADC
    * nomination, exact refine) replayed in DuckDB from the fitted coarse
    * centroids and residual codebooks inlined as string-parsed literals.
    * Every stage is deterministic arithmetic over those constants:
    * item codes are per-subspace argmins over `e2 - 2.0 * lip(r_j, e)`
    * on the residual r = v − c(v) (elementwise, order-free); the ADC
    * score replays Spark's left fold `qc + ((((0 + t0) + t1)...) + t7)`
    * with explicit parentheses; nomination is the (adc DESC, id) window
    * to refine=200; and the final top-10 re-ranks the nominees by exact
    * dot. Empty until the query has run in this JVM. */
  def pqOracle: Map[String, String] =
    OracleDir.pickDir(codebookCache.keys).flatMap { d =>
      centerCache.get((d, 32, 5)).map { centers =>
        val codebooks = codebookCache(d)
        val m = codebooks.size
        val dsub = codebooks.head.head.size
        val centRows = centers.zipWithIndex.map { case (c, i) =>
          val c2 = c.map(x => x * x).sum
          s"($i, '${c.mkString("[", ", ", "]")}'::DOUBLE[], '$c2'::DOUBLE)"
        }.mkString(",\n  ")
        val cbRows = (for (j <- 0 until m; kk <- codebooks(j).indices) yield {
          val e = codebooks(j)(kk)
          val e2 = e.map(x => x * x).sum
          s"($j, $kk, '${e.mkString("[", ", ", "]")}'::DOUBLE[], '$e2'::DOUBLE)"
        }).mkString(",\n  ")
        val dim = m * dsub
        val lutJoins = (0 until m).map(j =>
          s"JOIN qlut l$j ON l$j.vec_id = c.vec_id AND l$j.j = $j AND l$j.code = c.c$j")
          .mkString("\n  ")
        val adcFold = (0 until m).foldLeft("'0.0'::DOUBLE") {
          (acc, j) => s"($acc + l$j.t)"
        }
        val codeCols = (0 until m).map(j =>
          s"max(CASE WHEN j = $j THEN code END) AS c$j").mkString(", ")
        val pqSql =
          s"""WITH cent(cid, cv, c2) AS (VALUES
             |  $centRows),
             |cb(j, code, e, e2) AS (VALUES
             |  $cbRows),
             |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE label <> 0),
             |iass AS (SELECT item_id, v, cid, cv, row_number() OVER
             |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
             |  FROM items CROSS JOIN cent),
             |ienc AS (SELECT item_id, cid,
             |    list_transform(range(1, ${dim + 1}), i -> v[i] - cv[i]) AS r
             |  FROM iass WHERE rn = 1),
             |icode AS (SELECT item_id, cid, j, code FROM (
             |  SELECT i.item_id, i.cid, cb.j, cb.code, row_number() OVER
             |      (PARTITION BY i.item_id, cb.j
             |       ORDER BY cb.e2 - 2.0 * list_inner_product(i.r[cb.j * $dsub + 1 : cb.j * $dsub + $dsub], cb.e), cb.code) AS rn
             |  FROM ienc i CROSS JOIN cb) WHERE rn = 1),
             |icodew AS (SELECT item_id, cid, $codeCols
             |  FROM icode GROUP BY item_id, cid),
             |qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE label = 0),
             |qprobe AS (SELECT vec_id, cid FROM (
             |  SELECT vec_id, cid, row_number() OVER
             |      (PARTITION BY vec_id ORDER BY c2 - 2.0 * list_inner_product(qv, cv), cid) AS rn
             |  FROM qs CROSS JOIN cent) WHERE rn <= 8),
             |qlut AS (SELECT vec_id, j, code,
             |    list_inner_product(qv[j * $dsub + 1 : j * $dsub + $dsub], e) AS t
             |  FROM qs CROSS JOIN cb),
             |qcs AS (SELECT vec_id, cid, list_inner_product(qv, cv) AS qc
             |  FROM qs CROSS JOIN cent),
             |cand AS (SELECT p.vec_id, ic.item_id, ic.cid,
             |    ${(0 until m).map(j => s"ic.c$j").mkString(", ")}
             |  FROM qprobe p JOIN icodew ic ON p.cid = ic.cid),
             |adc AS (SELECT c.vec_id, c.item_id,
             |    qcs.qc + $adcFold AS score
             |  FROM cand c
             |  JOIN qcs ON qcs.vec_id = c.vec_id AND qcs.cid = c.cid
             |  $lutJoins),
             |nom AS (SELECT vec_id, item_id FROM (
             |  SELECT vec_id, item_id, row_number() OVER
             |      (PARTITION BY vec_id ORDER BY score DESC, item_id) AS rn
             |  FROM adc) WHERE rn <= 200),
             |ex AS (SELECT n.vec_id, n.item_id,
             |    list_inner_product(q.qv, i.v) AS score
             |  FROM nom n JOIN qs q ON q.vec_id = n.vec_id
             |  JOIN items i ON i.item_id = n.item_id)
             |SELECT vec_id, rank, item_id, score FROM (
             |  SELECT vec_id, item_id, score, row_number() OVER
             |      (PARTITION BY vec_id ORDER BY score DESC, item_id) AS rank
             |  FROM ex) WHERE rank <= 10
             |ORDER BY vec_id, rank""".stripMargin
        // sub-codebook drift: the same assignment + per-subspace encode
        // math split by label; d2 replays ClusterAssign's fold order
        // `(e2 − 2·r_j·e) + r_j·r_j`, theta is an order-independent
        // exact max, shares are integer basis points per subspace
        val sl = s"r.r[cb.j * $dsub + 1 : cb.j * $dsub + $dsub]"
        val driftSql =
          s"""WITH cent(cid, cv, c2) AS (VALUES
             |  $centRows),
             |cb(j, code, e, e2) AS (VALUES
             |  $cbRows),
             |emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE embedding IS NOT NULL),
             |ass AS (SELECT vec_id, label, v, cv, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
             |  FROM emb CROSS JOIN cent),
             |res AS (SELECT vec_id, label,
             |    list_transform(range(1, ${dim + 1}), i -> v[i] - cv[i]) AS r
             |  FROM ass WHERE rn = 1),
             |sc AS (SELECT vec_id, label, j, code, d2 FROM (
             |  SELECT r.vec_id, r.label, cb.j, cb.code,
             |    (cb.e2 - 2.0 * list_inner_product($sl, cb.e))
             |      + list_inner_product($sl, $sl) AS d2,
             |    row_number() OVER (PARTITION BY r.vec_id, cb.j
             |      ORDER BY cb.e2 - 2.0 * list_inner_product($sl, cb.e), cb.code) AS rn
             |  FROM res r CROSS JOIN cb) WHERE rn = 1),
             |refagg AS (SELECT j, code, count(*) AS ref_count, max(d2) AS theta_d2
             |  FROM sc WHERE label <> 0 GROUP BY j, code),
             |newagg AS (SELECT n.j AS j, n.code AS code, count(*) AS new_count,
             |    CAST(sum(CASE WHEN r.theta_d2 IS NULL OR n.d2 > r.theta_d2
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_far
             |  FROM (SELECT j, code, d2 FROM sc WHERE label = 0) n
             |  LEFT JOIN refagg r ON n.j = r.j AND n.code = r.code
             |  GROUP BY n.j, n.code),
             |jn AS (SELECT coalesce(r.j, n.j) AS subspace,
             |    coalesce(r.code, n.code) AS code,
             |    coalesce(r.ref_count, 0) AS ref_count,
             |    coalesce(n.new_count, 0) AS new_count,
             |    r.theta_d2 AS theta_d2, coalesce(n.n_far, 0) AS n_far
             |  FROM refagg r FULL OUTER JOIN newagg n
             |    ON r.j = n.j AND r.code = n.code),
             |tot AS (SELECT subspace, sum(ref_count) AS rt, sum(new_count) AS nt
             |  FROM jn GROUP BY subspace)
             |SELECT jn.subspace AS subspace, jn.code AS code,
             |  CAST(ref_count AS BIGINT) AS ref_count,
             |  CAST(new_count AS BIGINT) AS new_count,
             |  CAST(CASE WHEN rt = 0 THEN 0
             |    ELSE ref_count * 10000 // rt END AS BIGINT) AS ref_share_bp,
             |  CAST(CASE WHEN nt = 0 THEN 0
             |    ELSE new_count * 10000 // nt END AS BIGINT) AS new_share_bp,
             |  CAST(abs(CASE WHEN nt = 0 THEN 0
             |      ELSE new_count * 10000 // nt END
             |    - CASE WHEN rt = 0 THEN 0
             |      ELSE ref_count * 10000 // rt END) AS BIGINT) AS drift_bp,
             |  theta_d2, CAST(n_far AS BIGINT) AS n_far
             |FROM jn JOIN tot ON jn.subspace = tot.subspace
             |ORDER BY subspace, code""".stripMargin
        // the sink-maintained code table is id-identical to the batch
        // encode by construction (one shared index definition, per-item
        // independent) — same oracle for the streaming-lifecycle row
        Seq("op_ann_pq" -> pqSql, "op_ann_pq_stream" -> pqSql,
          "op_ann_pq_drift" -> driftSql)
      }
    }.getOrElse(Seq.empty).toMap

  def pcaOracle: Map[String, String] =
    OracleDir.pickDir(pcaAxesArt.keys.collect { case (d, 8) => d })
      .flatMap(d => pcaAxesArt.get((d, 8))).map { p =>
      "op_pca_project" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |ax AS (SELECT pos, axis FROM read_parquet('$p/*.parquet'))
           |SELECT vec_id, pos,
           |  CAST(floor(list_inner_product(v, axis) * 1000000.0) AS BIGINT) AS x_micro
           |FROM e CROSS JOIN ax
           |ORDER BY vec_id, pos""".stripMargin
    }.toMap

  /** The ANN recall rows composed from the SAME dump-time replays their
    * base rows hash-check with: approx = the family's oracle SQL (LSH
    * sign matrices / IVF centroids / PQ codebooks as fitted literals),
    * truth = the brute-force top-k oracle — the recallRow counts, floor
    * and basis-point arithmetic replay in one statement, so the recall
    * EVIDENCE itself is driver-hash-checked, not just floor-asserted
    * in-artifact. */
  def recallOracle: Map[String, String] = {
    val truth = oracle("op_topk_retrieval")
    def compose(approxSql: String, floor: Int): String =
      s"""WITH ap AS ($approxSql),
         |tr AS ($truth),
         |n AS (SELECT
         |  (SELECT count(*) FROM tr) AS n_truth,
         |  (SELECT count(*) FROM ap) AS n_approx,
         |  (SELECT count(*) FROM ap a WHERE EXISTS (SELECT 1 FROM tr t
         |    WHERE t.vec_id = a.vec_id AND t.item_id = a.item_id)) AS n_matched)
         |SELECT n_truth, n_approx, n_matched,
         |  CASE WHEN n_truth = 0 THEN CAST(10000 AS BIGINT)
         |    ELSE n_matched * 10000 // n_truth END AS recall_bp,
         |  CAST($floor AS BIGINT) AS floor_bp FROM n""".stripMargin
    // sampled twins (PQ/SQ; IVF's bespoke one lives in ivfOracle): the
    // base replay post-filtered to the seeded md5-ranked sample — each
    // query's top-k is independent of the others, so filtering the full
    // replay to the sample is row-identical to probing the sample —
    // plus the count and fixed-order binomial-margin arithmetic of
    // Evidence.sampledRecallRow
    val pRecall = "CAST(n_matched AS DOUBLE) / CAST(n_truth AS DOUBLE)"
    def composeSampled(approxSql: String, floor: Int): String =
      s"""WITH samp AS (SELECT vec_id FROM (
         |  SELECT vec_id, row_number() OVER
         |      (ORDER BY ('0x' || substring(md5(vec_id::VARCHAR || ':graft-recall'), 1, 8))::BIGINT,
         |        vec_id) AS srk
         |  FROM embeddings WHERE label = 0) WHERE srk <= $RecallSampleQueries),
         |ap0 AS ($approxSql),
         |ap AS (SELECT a.vec_id AS vec_id, a.item_id AS item_id FROM ap0 a
         |  WHERE EXISTS (SELECT 1 FROM samp s WHERE s.vec_id = a.vec_id)),
         |tr0 AS ($truth),
         |tr AS (SELECT t.vec_id AS vec_id, t.item_id AS item_id FROM tr0 t
         |  WHERE EXISTS (SELECT 1 FROM samp s WHERE s.vec_id = t.vec_id)),
         |n AS (SELECT
         |  (SELECT count(*) FROM samp) AS nq,
         |  (SELECT count(*) FROM tr) AS n_truth,
         |  (SELECT count(*) FROM ap) AS n_approx,
         |  (SELECT count(*) FROM ap a WHERE EXISTS (SELECT 1 FROM tr t
         |    WHERE t.vec_id = a.vec_id AND t.item_id = a.item_id)) AS n_matched)
         |SELECT CAST(nq AS BIGINT) AS n_queries_sampled,
         |  CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_approx AS BIGINT) AS n_approx,
         |  CAST(n_matched AS BIGINT) AS n_matched,
         |  CASE WHEN n_truth = 0 THEN CAST(10000 AS BIGINT)
         |    ELSE n_matched * 10000 // n_truth END AS recall_bp,
         |  (CASE WHEN n_truth = 0 THEN CAST(10000 AS BIGINT)
         |    ELSE n_matched * 10000 // n_truth END)
         |  - (CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(floor(19600.0 * sqrt($pRecall * (1.0 - $pRecall)
         |      / CAST(n_truth AS DOUBLE))) AS BIGINT) END) AS ci_low_bp,
         |  CAST($floor AS BIGINT) AS floor_bp
         |FROM n""".stripMargin
    val lsh = lshOracle.get("op_ann_lsh")
      .map(s => "op_ann_lsh_recall" -> compose(s, 2000))
    val ivf = ivfOracle.get("op_ann_ivf")
      .map(s => "op_ann_ivf_recall" -> compose(s, 5000))
    val pq = pqOracle.get("op_ann_pq")
      .map(s => "op_ann_pq_recall" -> compose(s, 5000))
    val sq = sqOracle.get("op_ann_sq")
      .map(s => "op_ann_sq_recall" -> compose(s, 5000))
    val pca = pcaRecallApproxSql
      .map(s => "op_pca_ann_recall" -> compose(s, 8000))
    val pqS = pqOracle.get("op_ann_pq")
      .map(s => "op_ann_pq_recall_sampled" -> composeSampled(s, 5000))
    val sqS = sqOracle.get("op_ann_sq")
      .map(s => "op_ann_sq_recall_sampled" -> composeSampled(s, 5000))
    val lshS = lshOracle.get("op_ann_lsh")
      .map(s => "op_ann_lsh_recall_sampled" -> composeSampled(s, 2000))
    (lsh.toSeq ++ ivf.toSeq ++ pq.toSeq ++ sq.toSeq ++ pca.toSeq ++
      pqS.toSeq ++ sqS.toSeq ++ lshS.toSeq).toMap
  }

  /** op_pca_ann_recall's approx side: 32-axis projections from the fitted
    * literals, reduced-dot top-100 shortlist, exact full-space top-10
    * re-rank — (vec_id, rank, item_id)-shaped like the other replays. */
  private def pcaRecallApproxSql: Option[String] =
    OracleDir.pickDir(pcaAxesArt.keys.collect { case (d, 32) => d })
      .flatMap(d => pcaAxesArt.get((d, 32))).map { p =>
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |ax AS (SELECT pos, axis FROM read_parquet('$p/*.parquet')),
         |red0 AS (SELECT vec_id, label, pos,
         |  list_inner_product(v, axis) AS x FROM e CROSS JOIN ax),
         |red AS (SELECT vec_id, label, list(x ORDER BY pos) AS rv
         |  FROM red0 GROUP BY vec_id, label),
         |short AS (SELECT vec_id, item_id FROM (
         |  SELECT q.vec_id AS vec_id, i.vec_id AS item_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_inner_product(q.rv, i.rv) DESC, i.vec_id) AS rk
         |  FROM red q JOIN red i ON q.label = 0 AND i.label <> 0)
         |  WHERE rk <= 100)
         |SELECT vec_id, item_id FROM (
         |  SELECT s.vec_id, s.item_id,
         |    row_number() OVER (PARTITION BY s.vec_id
         |      ORDER BY list_inner_product(q.v, i.v) DESC, s.item_id) AS rk
         |  FROM short s JOIN e q ON s.vec_id = q.vec_id
         |  JOIN e i ON s.item_id = i.vec_id)
         |WHERE rk <= 10""".stripMargin
    }

  /** Memoized PQ residual codebooks against the SHARED nlist=32 coarse
    * quantizer (same fit-offline-probe-many rationale as centerCache;
    * the coarse centers are literally [[cachedCenters]]' — one fit serves
    * both op_ann_ivf and op_ann_pq). */
  private val codebookCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]

  private def cachedCodebooks(spark: SparkSession, d: String): Seq[Seq[Seq[Double]]] =
    codebookCache.getOrElseUpdate(d,
      AnnIvfPq.fitCodebooks(ivfItems(spark, d), "embedding",
        cachedCenters(spark, d, nlist = 32, maxIter = 5),
        m = 8, ksub = 16, maxIter = 5, seed = 42L))

  /** IVF ANN — the reference's IVF32,Flat/nprobe index shape (rows-only:
    * the inverted lists depend on the k-means fit; AnnIvfSpec asserts
    * recall vs brute force and full-probe exactness). */
  def annIvf(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    AnnIvf(ivfItems(spark, d), centers, "vec_id", "embedding",
      k = 10, nprobe = math.min(8, centers.size), metric = "dot")
      .asRows(queries).orderBy("vec_id", "rank")
  }

  /** Incremental IVF index ingest: two thirds of the catalog live as the
    * persisted index; the remaining third arrives as a new batch and is
    * appended under the FROZEN coarse quantizer ([[graft.ops.AnnIvf.updatedIndex]]
    * — only the batch is assigned, the corpus is never re-indexed: the
    * IncrementalDedup ingest discipline applied to retrieval). Because
    * assignment is per-item independent, probing the incrementally-built
    * index is id-identical to probing a full rebuild — so this query
    * shares op_ann_ivf's dump-time oracle verbatim and hash-checks. */
  def annIndexUpdate(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val items = ivfItems(spark, d)
    val op = AnnIvf(items, centers, "vec_id", "embedding",
      k = 10, nprobe = math.min(8, centers.size), metric = "dot")
    val prior = AnnIvf.index(items.filter(col("item_id") % 3 =!= 0), centers,
      "item_id", "embedding")
    val updated = op.updatedIndex(prior, items.filter(col("item_id") % 3 === 0))
    op.asRowsIndexed(queries, updated).orderBy("vec_id", "rank")
  }

  /** The ONLINE dense-index lifecycle end-to-end (the IVF twin of
    * text_bm25_stream): the catalog arrives as a 3-micro-batch item
    * stream, [[graft.streaming.StreamingOps.annIndexSink]] maintains
    * the persisted inverted lists under the frozen quantizer across
    * batches, and the probe runs against the final loaded version.
    * Assignment is per-item independent, so the maintained index equals
    * the full build and this row shares op_ann_ivf's dump-time oracle —
    * streaming index ingest proven equal to the batch build by the
    * driver's own compare. */
  def annIvfStream(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val op = AnnIvf(ivfItems(spark, d), centers, "vec_id", "embedding",
      k = 10, nprobe = math.min(8, centers.size), metric = "dot")
    streamedRows(spark, op, queries, "ivf_stream_idx")
  }

  /** The STAMPED occupancy log end-to-end ([[annIvfStream]]'s 3-batch
    * ingest fixture): each sink commit rolls its delta-chain bucket
    * histograms into the version's 4-integer occupancy line
    * ([[graft.streaming.StreamingOps.occupancyLog]] — the drift record
    * between refit decisions), and this row emits the whole log. Hash-
    * oracled: assignment is per-item independent under the frozen
    * centroids and batches split by item_id % 3, so each version's
    * summary replays in SQL as the IvfSkewReport aggregate confined to
    * the id-modulo prefix — the stamped monitoring lines themselves are
    * driver-hash-checked, not just spec-pinned. */
  def annOccupancyStream(spark: SparkSession, d: String): DataFrame = {
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val op = AnnIvf(ivfItems(spark, d), centers, "vec_id", "embedding",
      k = 10, nprobe = math.min(8, centers.size), metric = "dot")
    occupancyRows(spark, streamIndex(spark, op, "ivf_occ_stream"))
  }

  /** The degenerate FROZEN quantizer behind [[annRefitSkewed]]: c0 at
    * the origin, the rest ≥100 units outside the embedding ball
    * (|x| ≤ ~0.53), so EVERY item lands in list 0 — a deterministic,
    * literal-replayable way to make a sink-maintained index's stamped
    * occupancy trip the skew bound (max_count = n_items against a
    * 16-list uniform target reads ~16×10⁴ bp). */
  private val degenerateCenters: Seq[Seq[Double]] =
    (0 until 16).map(i =>
      Seq.tabulate(64)(j => if (j == 0) i * 100.0 else 0.0))

  private val RefitNlist = 32

  /** (index dir, refit centers) of the last [[buildRefitSkewedIndex]]
    * run per data dir — the probe twin reuses the refitted log, and the
    * dump-time oracle inlines the fitted centers ([[refitOracle]]). */
  private val refitState = scala.collection.concurrent
    .TrieMap.empty[String, (String, Seq[Seq[Double]])]

  /** The full trigger→action lifecycle under the sink: 3-batch item
    * ingest through [[graft.streaming.StreamingOps.annIndexSink]]
    * under the degenerate frozen quantizer (every commit stamps its
    * occupancy line, all reading "one list holds everything"), then
    * [[graft.streaming.StreamingOps.refitAnnIvfIndexIfSkewed]] reads the
    * LIVE stamped line — no index scan — trips on the bound, refits
    * k-means over the indexed catalog and commits the re-assigned index
    * as v3 with its own (now balanced) occupancy line. */
  private def buildRefitSkewedIndex(spark: SparkSession,
      d: String): (String, Seq[Seq[Double]]) = {
    val op = AnnIvf(ivfItems(spark, d), degenerateCenters,
      "vec_id", "embedding", k = 10, nprobe = 8, metric = "dot")
    val dir = streamIndex(spark, op, "ivf_refit_skew")
    val refit = graft.streaming.StreamingOps.refitAnnIvfIndexIfSkewed(
      spark, dir, boundBp = graft.Flagship.LshSkewBoundBp,
      nlist = RefitNlist, maxIter = 5)
    require(refit.isDefined,
      "op_ann_refit_skewed: the stamped occupancy line must trip the bound")
    // a repeat invocation supersedes the previous lifecycle's index dir —
    // drop it eagerly (the probe row always reads the LATEST state, so
    // nothing references the old dir once the state swaps)
    refitState.get(d).map(_._1).filter(_ != dir)
      .foreach(OracleDir.dropTempDir)
    val st = (dir, refit.get._2)
    refitState(d) = st
    st
  }

  /** Driver-facing row for the in-log skew remedy (round-12 VERDICT
    * item 3 — [[annOccupancyStream]] covers the drift RECORD, this row
    * covers the composed trigger→ACTION): the emitted occupancy log
    * carries the three skewed ingest lines AND the refit commit's
    * balanced line. Hash-oracled end to end: v0–v2 replay as the skew
    * aggregate under the degenerate center LITERALS confined to each
    * id-modulo prefix, v3 as the same aggregate under the dump-time
    * refit centroid literals over the full catalog.
    *
    * Re-runs the FULL lifecycle (ingest + refit) on every invocation BY
    * DESIGN: the remedy's cost — what a production operator pays when
    * the line trips — is exactly what this row's timing measures, so
    * memoizing it (as the probe row does for its serving state) would
    * reduce warm runs to reading a 4-line log. The superseded temp index
    * dir is dropped eagerly on each rebuild (round-13 ADVICE). */
  def annRefitSkewed(spark: SparkSession, d: String): DataFrame = {
    val (dir, _) = buildRefitSkewedIndex(spark, d)
    occupancyRows(spark, dir)
  }

  /** The refit ACTION's serving proof: probe the refitted log version
    * (loaded from the sink-maintained dir the lifecycle row left behind)
    * under the refit quantizer — hash-checked against the standard IVF
    * probe replay with the refit centers as dump-time literals. */
  def annRefitSkewedProbe(spark: SparkSession, d: String): DataFrame = {
    val (dir, centers) =
      refitState.getOrElse(d, buildRefitSkewedIndex(spark, d))
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0)
      .select(col("vec_id"), col("embedding"))
    val op = AnnIvf(ivfItems(spark, d), centers, "vec_id", "embedding",
      k = 10, nprobe = math.min(8, centers.size), metric = "dot")
    val index = graft.streaming.StreamingOps.loadIndexLog(spark, dir).get
    op.asRowsIndexed(queries, index).orderBy("vec_id", "rank")
  }

  /** IVF with nprobe = nlist: every inverted list is probed, so the
    * result is exactly the brute-force top-k — which puts the whole IVF
    * machinery (k-means fit, list assignment, probe-expansion equi-join,
    * bounded-heap top-k) under the hash oracle, while the nprobe<nlist
    * query above keeps the approximate path honest on recall. */
  def annIvfFull(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    // centroid quality cannot change the (exact) full-probe result, so a
    // minimal fit keeps the oracle query honest AND cheap
    val centers = cachedCenters(spark, d, nlist = 16, maxIter = 1)
    AnnIvf(ivfItems(spark, d), centers, "vec_id", "embedding",
      k = 10, nprobe = centers.size, metric = "dot")
      .asRows(queries).orderBy("vec_id", "rank")
  }

  /** AnnLsh recall@10 vs brute force, floor-asserted via the shared
    * [[Evidence.recallRow]] harness (rows-only by nature — candidate
    * sets are hash-dependent — but self-validating in the artifact). */
  def annLshRecall(spark: SparkSession, d: String): DataFrame =
    Evidence.recallRow(spark, annLsh(spark, d), topkRetrieval(spark, d),
      Seq("vec_id", "item_id"), floorBp = 2000)

  /** AnnIvf recall@10 vs brute force, floor-asserted in the query. */
  def annIvfRecall(spark: SparkSession, d: String): DataFrame =
    Evidence.recallRow(spark, annIvf(spark, d), topkRetrieval(spark, d),
      Seq("vec_id", "item_id"), floorBp = 5000)

  /** How many queries the sampled recall monitor exact-sweeps — FIXED by
    * design, not a catalog fraction: the binomial margin depends on the
    * sample size alone, so recall monitoring precision (and cost) stays
    * constant as the platform grows; `ci_low_bp` carries the honesty. */
  private val RecallSampleQueries = 25

  /** Sampled recall evidence for the IVF index
    * ([[Evidence.sampledRecallRow]]): a seeded md5-ranked sample of
    * [[RecallSampleQueries]] queries, IVF probe and brute-force truth
    * both confined to the sample, recall + 95% binomial lower bound in
    * the row. This is the variant that still exists at 100 TB — the
    * full-population recall rows are rehearsal-SF indictment evidence;
    * this one's truth sweep costs sample × catalog, runs in seconds at
    * any SF, and is hash-oracled end to end (md5 rank replays, the CI
    * arithmetic is fixed-order IEEE double). */
  def annIvfRecallSampled(spark: SparkSession, d: String): DataFrame =
    sampledAnnRecall(spark, d) { (sampled, items, centers) =>
      AnnIvf(items, centers, "vec_id", "embedding",
        k = 10, nprobe = math.min(8, centers.size), metric = "dot")
        .asRows(sampled)
    }

  /** The seeded md5-ranked query sample: rank queries by the first-8-hex
    * md5 bucket (the softmax-sampling discipline), keep the lowest N. The
    * global window is QUERY-side only — request-scale, never the catalog. */
  private def recallQuerySample(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bk = conv(substring(md5(concat(col("vec_id").cast("string"),
      lit(":graft-recall"))), 1, 8), 16, 10).cast("long")
    embeddings(spark, d).filter(col("label") === 0)
      .withColumn("__bk", bk)
      .withColumn("__srk", row_number().over(
        Window.orderBy(col("__bk"), col("vec_id"))))
      .filter(col("__srk") <= RecallSampleQueries)
      .select(col("vec_id"), col("embedding"))
  }

  /** The sampled-recall harness shared by the IVF / PQ / SQ8 monitors:
    * sample, run the family's approx path and the brute-force truth both
    * confined to the sample, emit the counts + binomial-bound row. One
    * shape so the three tiers' monitoring rows cannot drift apart. */
  private def sampledAnnRecall(spark: SparkSession, d: String,
      floorBp: Int = 5000)(
      approxOf: (DataFrame, DataFrame, Seq[Seq[Double]]) => DataFrame): DataFrame = {
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val items = ivfItems(spark, d)
    val sampled = recallQuerySample(spark, d).persist()
    try {
      val nq = sampled.count()
      val approx = approxOf(sampled, items, centers)
      val truth = TopKRetrieval(items, "vec_id", "embedding",
        k = 10, metric = "dot").asRows(sampled)
      Evidence.sampledRecallRow(spark, approx, truth,
        Seq("vec_id", "item_id"), floorBp = floorBp, nQueriesSampled = nq)
    } finally sampled.unpersist()
  }

  /** LSH's sampled recall monitor — completes the four-tier symmetry
    * (IVF/PQ/SQ8 landed in round 11): the constant-cost variant that
    * still runs at 100 TB for the tier where it matters MOST, since
    * sign-LSH is the skew-prone fit ([[graft.ops.LshSkewReport]]) and
    * the one [[graft.Flagship.decideRetriever]] abandons when occupancy
    * trips — recall degradation under a drifting catalog mean is this
    * row's signal. Same md5-ranked 25-query sample, same dot-metric
    * brute-force truth as the other tiers (the full-population twin
    * op_ann_lsh_recall shares that truth and its 2000 bp floor: the
    * cosine approx path vs dot truth keeps the floor conservative). */
  def annLshRecallSampled(spark: SparkSession, d: String): DataFrame =
    sampledAnnRecall(spark, d, floorBp = 2000) { (sampled, items, _) =>
      AnnLsh(items, "vec_id", "embedding", k = 10, numBits = annLshBits,
        nprobe = annLshProbes, metric = "cosine",
        center = Some(cachedLshCenter(spark, d))).asRows(sampled)
    }

  /** Memoized SQ8 scalar-quantizer range (per-dim [min,max] over the
    * catalog) — fit-offline-probe-many like [[cachedCenters]]; the fitted
    * doubles feed [[sqOracle]]'s SQL literals at dump time. */
  private val sqRangeCache =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[Double], Seq[Double])]

  private def cachedSqRange(spark: SparkSession, d: String): (Seq[Double], Seq[Double]) =
    sqRangeCache.getOrElseUpdate(d, AnnSq.fitRange(ivfItems(spark, d), "embedding"))

  /** IVF,SQ8 ANN — the scalar-quantization tier of the FAISS surface
    * (1 byte/dim: 4× memory compression with near-exact in-list ranking;
    * see [[graft.ops.AnnSq]]). Same coarse quantizer as op_ann_ivf — one
    * fit serves Flat, PQ and SQ8 — so recall differences against
    * op_ann_ivf isolate pure quantization loss. Hash-oracled: encode,
    * probe, reconstruct and score replay in DuckDB from the fitted
    * min/step literals ([[sqOracle]]). */
  def annSq(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val (mins, maxs) = cachedSqRange(spark, d)
    AnnSq(ivfItems(spark, d), centers, mins, maxs, "vec_id", "embedding",
      k = 10, nprobe = math.min(8, centers.size))
      .asRows(queries).orderBy("vec_id", "rank")
  }

  /** SQ8 recall@10 vs brute force. Quantization noise only reorders
    * near-ties, so recall sits at IVF's probe-limited level (same 5000
    * floor as op_ann_ivf_recall). */
  def annSqRecall(spark: SparkSession, d: String): DataFrame =
    Evidence.recallRow(spark, annSq(spark, d), topkRetrieval(spark, d),
      Seq("vec_id", "item_id"), floorBp = 5000)

  /** SQ8's sampled recall monitor — [[annIvfRecallSampled]]'s shape over
    * the scalar-quantized index: the variant that still runs at 100 TB
    * (truth sweep ∝ sample × catalog), hash-oracled end to end since the
    * SQ8 path replays from the fitted min/step literals. */
  def annSqRecallSampled(spark: SparkSession, d: String): DataFrame =
    sampledAnnRecall(spark, d) { (sampled, items, centers) =>
      val (mins, maxs) = cachedSqRange(spark, d)
      AnnSq(items, centers, mins, maxs, "vec_id", "embedding",
        k = 10, nprobe = math.min(8, centers.size)).asRows(sampled)
    }

  /** op_ann_sq's oracle — the full IVF,SQ8 path (assign, encode to byte
    * codes, probe, reconstruct, exact dot over v̂) replayed in DuckDB from
    * the fitted coarse centroids and per-dim min/step literals. Encode is
    * `floor(x + 0.5)` with saturating LEAST/GREATEST — the explicitly
    * portable rounding rule (bankers' rounding is the cross-engine trap);
    * reconstruction `lo + code·st` is exact double arithmetic over
    * literals, and `list_inner_product` bit-matches the sequential dot
    * fold (op_topk_retrieval precedent). Empty until the query has run in
    * this JVM (selective Verify → rows-only, as before). */
  def sqOracle: Map[String, String] =
    OracleDir.pickDir(sqRangeCache.keys).flatMap { d =>
      centerCache.get((d, 32, 5)).map { centers =>
        val (mins, maxs) = sqRangeCache(d)
        val steps = mins.zip(maxs).map { case (lo, hi) => (hi - lo) / 255.0 }
        val nprobe = math.min(8, centers.size)
        val dim = mins.size
        val centRows = centers.zipWithIndex.map { case (c, i) =>
          val c2 = c.map(x => x * x).sum
          s"($i, '${c.mkString("[", ", ", "]")}'::DOUBLE[], '$c2'::DOUBLE)"
        }.mkString(",\n  ")
        val loLit = s"'${mins.mkString("[", ", ", "]")}'::DOUBLE[]"
        val stLit = s"'${steps.mkString("[", ", ", "]")}'::DOUBLE[]"
        "op_ann_sq" ->
          s"""WITH cent(cid, cv, c2) AS (VALUES
             |  $centRows),
             |sq(lo, st) AS (SELECT $loLit, $stLit),
             |items AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE label <> 0),
             |iass AS (SELECT item_id, v, cid, row_number() OVER
             |    (PARTITION BY item_id ORDER BY c2 - 2.0 * list_inner_product(v, cv), cid) AS rn
             |  FROM items CROSS JOIN cent),
             |irec AS (SELECT item_id, cid,
             |    list_transform(range(1, ${dim + 1}), i -> lo[i] +
             |      (CASE WHEN st[i] = 0 THEN 0
             |        ELSE LEAST(255, GREATEST(0, CAST(floor((v[i] - lo[i]) / st[i] + 0.5) AS INTEGER))) END)
             |      * st[i]) AS rv
             |  FROM iass CROSS JOIN sq WHERE rn = 1),
             |qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE label = 0),
             |qass AS (SELECT vec_id, qv, cid, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY c2 - 2.0 * list_inner_product(qv, cv), cid) AS rn
             |  FROM qs CROSS JOIN cent),
             |probe AS (SELECT vec_id, qv, cid FROM qass WHERE rn <= $nprobe),
             |scored AS (SELECT p.vec_id, i.item_id,
             |    list_inner_product(p.qv, i.rv) AS score
             |  FROM probe p JOIN irec i ON p.cid = i.cid),
             |ranked AS (SELECT vec_id, item_id, score, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY score DESC, item_id) AS rank
             |  FROM scored)
             |SELECT vec_id, CAST(rank AS INTEGER) AS rank, item_id, score FROM ranked
             |WHERE rank <= 10 ORDER BY vec_id, rank""".stripMargin
      }
    }.toList.flatMap { case (n, sql) =>
      // the sink-maintained coded index is id-identical to the batch
      // encode (one index definition, per-item independent) — same
      // oracle for the streaming-lifecycle row
      Seq(n -> sql, "op_ann_sq_stream" -> sql)
    }.toMap

  /** The ONLINE SQ8-index lifecycle end-to-end ([[annIvfStream]]'s shape
    * for the scalar-quantized tier; completes the four-tier symmetry
    * with op_ann_{ivf,pq,lsh}_stream): the catalog arrives as a
    * 3-micro-batch item stream,
    * [[graft.streaming.StreamingOps.annIndexSink]] maintains the
    * persisted coded index under the frozen quantizers across batches,
    * and the probe runs against the final loaded version. Encoding is
    * per-item independent through the one shared [[AnnSq.index]]
    * definition, so the maintained index equals the full build and this
    * row shares op_ann_sq's dump-time oracle. */
  def annSqStream(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val (mins, maxs) = cachedSqRange(spark, d)
    val items = ivfItems(spark, d)
    val op = AnnSq(items, centers, mins, maxs, "vec_id", "embedding",
      k = 10, nprobe = math.min(8, centers.size))
    streamedRows(spark, op, queries, "sq_stream_idx")
  }

  /** IVF-PQ ANN — the memory-compressed FAISS scale path (`IVF32,PQ8`):
    * items travel as 8 codes + a list id, never as float vectors
    * (rows-only: codes depend on the k-means fits; AnnPqSpec asserts ADC
    * exactness on representable vectors + fit recall, and
    * [[annPqRecall]] floors recall in-artifact). */
  def annPq(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val items = ivfItems(spark, d)
    // refine ∝ catalog (floor 200 keeps official SFs bit-identical): the
    // same recall cliff the PCA shortlist had — nprobe=8/32 probes a
    // FIXED FRACTION of lists (scale-stable), but a FIXED refine cutoff
    // covers an ever-thinner slice of the probed set, so ADC ranking
    // noise pushes true neighbors below it as the catalog densifies
    // (round-10 rehearsal: the 5000 bp floor tripped at 8k vectors).
    // ~5% of the catalog re-ranked keeps the compression win.
    val refineK = math.max(200L, items.count() / 20L).toInt
    AnnIvfPq(items, centers, cachedCodebooks(spark, d),
      "vec_id", "embedding", k = 10, nprobe = math.min(8, centers.size),
      refine = refineK)
      .asRows(queries).orderBy("vec_id", "rank")
  }

  /** IVF-PQ recall@10 vs brute force. With refine=200, ADC ranking noise
    * is re-ranked away and recall sits at IVF's probe-limited level (the
    * same coarse quantizer and nprobe floor at 5000). */
  def annPqRecall(spark: SparkSession, d: String): DataFrame =
    Evidence.recallRow(spark, annPq(spark, d), topkRetrieval(spark, d),
      Seq("vec_id", "item_id"), floorBp = 5000)

  /** IVF-PQ's sampled recall monitor — [[annIvfRecallSampled]]'s shape
    * over the product-quantized index (same catalog-fraction refine as
    * [[annPq]], so the monitor watches the SERVED configuration), hash-
    * oracled end to end from the fitted centroid/codebook literals. */
  def annPqRecallSampled(spark: SparkSession, d: String): DataFrame =
    sampledAnnRecall(spark, d) { (sampled, items, centers) =>
      val refineK = math.max(200L, items.count() / 20L).toInt
      AnnIvfPq(items, centers, cachedCodebooks(spark, d),
        "vec_id", "embedding", k = 10, nprobe = math.min(8, centers.size),
        refine = refineK).asRows(sampled)
    }

  /** The ONLINE PQ-index lifecycle end-to-end ([[annIvfStream]] one
    * quantization tier down): the catalog arrives as a 3-micro-batch
    * item stream, [[graft.streaming.StreamingOps.annIndexSink]]
    * maintains the persisted code table under the frozen quantizers
    * across batches, and the probe (ADC + catalog-fraction refine) runs
    * against the final loaded version. Encoding is per-item independent
    * through the one shared [[AnnIvfPq.index]] definition, so the
    * maintained index equals the full build and this row shares
    * op_ann_pq's dump-time oracle — streaming PQ ingest proven equal to
    * the batch build by the driver's own compare. */
  def annPqStream(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val items = ivfItems(spark, d)
    val refineK = math.max(200L, items.count() / 20L).toInt
    val op = AnnIvfPq(items, centers, cachedCodebooks(spark, d),
      "vec_id", "embedding", k = 10, nprobe = math.min(8, centers.size),
      refine = refineK)
    streamedRows(spark, op, queries, "pq_stream_idx")
  }

  /** Frozen PQ sub-codebook drift report ([[graft.ops.PqCodebookDrift]]
    * over the shared IVF32,PQ8 fit): the catalog (label ≠ 0) is the fit
    * reference, the query slice (label = 0) plays the new batch — per
    * (subspace, code) usage-share drift in basis points plus
    * quantization-error escapes past the reference's exact max. The
    * refit trigger for the SECOND quantization stage, which
    * [[CurationQueries.annDriftReport]]'s coarse-centroid report cannot
    * see (residuals can drift within stable lists). Hash-oracled end to
    * end: assignment and encoding replay from centroid/codebook
    * literals, theta is an order-independent exact max, shares are
    * integer basis points. */
  def annPqDrift(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    PqCodebookDrift(cachedCenters(spark, d, nlist = 32, maxIter = 5),
      cachedCodebooks(spark, d),
      reference = emb.filter(col("label") =!= 0))
      .transform(emb.filter(col("label") === 0))
      .orderBy("subspace", "code")
  }

  /** IVF-PQ with nprobe = nlist AND refine ≥ |items|: every list is
    * probed and ADC nominates every item, so the exact re-rank IS
    * brute-force top-k — which puts the whole PQ machinery (encode,
    * probe-expansion join, LUT build, ADC fold, refine vector-fetch
    * join, bounded-heap re-rank) under the hash oracle, the
    * [[annIvfFull]] trick one level deeper. The nprobe<nlist,
    * refine=200 query above keeps the approximate path honest on
    * recall. Cost note: the nominate-ALL heap (k = |items|) is the
    * harness shape — real serving uses refine ≈ 20·k — so this is the
    * artifact's most expensive ANN row by design (~10 s at sf0.1). */
  def annPqExact(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val queries = emb.filter(col("label") === 0).select(col("vec_id"), col("embedding"))
    val items = ivfItems(spark, d)
    val centers = cachedCenters(spark, d, nlist = 32, maxIter = 5)
    val nItems = items.count().toInt
    AnnIvfPq(items, centers, cachedCodebooks(spark, d), "vec_id", "embedding",
      k = 10, nprobe = centers.size, refine = math.max(10, nItems))
      .asRows(queries).orderBy("vec_id", "rank")
  }

  /** TrailingWindowFeatures under the oracle: per-user trailing 1h/1d
    * event count + spend as-of (strictly before) each event — the
    * leak-free rolling-feature stage of a training-set pipeline. Value
    * in integer cents; both horizons share one exchange + sort. */
  def trailingFeatures(spark: SparkSession, d: String): DataFrame = {
    val ev = events(spark, d).select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("ts_sec"),
      round(col("value") * 100).cast("long").as("value_cents"))
    TrailingWindowFeatures("user_id", "ts_sec", "value_cents", Seq(3600L, 86400L))
      .transform(ev)
      .select("event_id", "user_id", "n_3600s", "sum_3600s", "n_86400s", "sum_86400s")
      .orderBy("event_id")
  }

  /** Multimodal plumbing under the oracle: fake binary media derived
    * deterministically from document hashes, decoded partition-parallel by
    * the stubbed decoder (see MultimodalOps STUB NOTE). The stub is pure
    * byte arithmetic — header nibbles → (width, height), low nibble of
    * each payload byte → histogram bin — so DuckDB reproduces it from the
    * same md5 hex strings and the whole mapPartitions pipeline
    * (binary column, declared schema, per-partition decode) hash-checks.
    * Features come back as exact integer bin counts (feature × 28 payload
    * bytes), keeping the compare float-free. */
  def multimodalDecode(spark: SparkSession, d: String): DataFrame = {
    val media = documents(spark, d).select(
      col("doc_id").as("media_id"),
      unhex(concat(md5(col("text")), md5(col("source")))).as("content"))
    DecodeMedia().transform(media)
      .select(col("media_id"), col("width"), col("height"),
        posexplode(col("features")).as(Seq("bin0", "v")))
      .select(col("media_id"), col("width"), col("height"),
        (col("bin0") + 1).cast("int").as("bin"),
        round(col("v").cast("double") * (32 - 4)).cast("long").as("cnt"))
      .orderBy("media_id", "bin")
  }

  /** SampleFrames under the oracle: every 2nd fixed-size chunk of the fake
    * binary media emitted as a frame row. The op is pure substring/explode
    * expressions over the binary column, so DuckDB mirrors it exactly on
    * the hex strings the bytes came from. */
  def sampleFrames(spark: SparkSession, d: String): DataFrame = {
    val media = documents(spark, d).select(
      col("doc_id").as("media_id"),
      unhex(concat(md5(col("text")), md5(col("source")))).as("content"))
    SampleFrames(frameBytes = 8, stride = 2).transform(media)
      .select(col("media_id"), col("frame_idx"), hex(col("frame")).as("frame_hex"))
      .orderBy("media_id", "frame_idx")
  }

  /** ResizeMedia under the oracle: halve the stub header dimensions and
    * keep every 2nd payload byte, then decode the result — resized
    * bytes, decoded dims and byte count all replayed by DuckDB over the
    * hex the fake media derives from. */
  def multimodalResize(spark: SparkSession, d: String): DataFrame = {
    val media = documents(spark, d).select(
      col("doc_id").as("media_id"),
      unhex(concat(md5(col("text")), md5(col("source")))).as("content"))
    val resized = ResizeMedia(factor = 2).transform(media)
    DecodeMedia().transform(resized)
      .select(col("media_id"), col("width"), col("height"))
      .join(resized.select(col("media_id"),
        hex(col("content")).as("content_hex"),
        length(col("content")).cast("int").as("n_bytes")), Seq("media_id"))
      .orderBy("media_id")
  }

  /** The multimodal retrieval pipeline under the hash oracle: binary
    * media → [[MediaEmbed]] (raw-count mode: integer-valued floats, so
    * every dot score is an exact double) → [[TopKRetrieval]] top-5
    * similar media per query. DuckDB rebuilds the stub embedding from
    * the media hex byte-by-byte and replays the exact ranking — the
    * media-to-embedding-to-index path checked end-to-end. */
  def multimodalRetrieval(spark: SparkSession, d: String): DataFrame = {
    val media = documents(spark, d).select(
      col("doc_id").as("media_id"),
      unhex(concat(md5(col("text")), md5(col("source")))).as("content"))
    val emb = MediaEmbed(dim = 32, normalized = false).transform(media)
    val q = emb.filter(col("media_id") % 10 === 0)
      .select(col("media_id").as("vec_id"), col("embedding"))
    val items = emb.filter(col("media_id") % 10 =!= 0)
      .select(col("media_id").as("item_id"), col("embedding"))
    TopKRetrieval(items, "vec_id", "embedding", k = 5, metric = "dot")
      .asRows(q).orderBy("vec_id", "rank")
  }

  /** Duplicate-media detection under the hash oracle: media embeddings
    * (raw-count mode — exact doubles end-to-end) into the standard
    * [[CosineNearDup]] pair machinery. Exact mode here puts the whole
    * media→embedding→pair path under DuckDB's hex replay; at scale the
    * same column feeds the bucketed/semantic variants unchanged. */
  def multimodalNeardup(spark: SparkSession, d: String): DataFrame = {
    val media = documents(spark, d).select(
      col("doc_id").as("media_id"),
      unhex(concat(md5(col("text")), md5(col("source")))).as("content"))
    val emb = MediaEmbed(dim = 32, normalized = false).transform(media)
    CosineNearDup(idCol = "media_id", vecCol = "embedding",
      threshold = 0.95, exact = true)
      .transform(emb).orderBy("id_a", "id_b")
  }

  /** SoftmaxSampling over per-user order candidates, fully under the hash
    * oracle: u derives from md5 (engine-portable), so DuckDB reproduces
    * the exact Efraimidis–Spirakis keys. The oracle ranks by
    * -ln(u)/exp(T*s) — the op's key times the per-request constant
    * sum(s) > 0, hence the identical ordering — with the same id
    * tie-break. Exploded to (requestId, rank, item_id, score) rows. */
  def softmaxSampling(spark: SparkSession, d: String): DataFrame = {
    val perUser = interactions(spark, d)
      .withColumn("rel", col("o_totalprice") / 100000)
      .groupBy("requestId")
      .agg(sort_array(collect_set(struct(col("o_orderkey"), col("rel")))).as("ps"))
      .select(col("requestId"),
        expr("transform(ps, p -> p.o_orderkey)").as("candidate_ids"),
        expr("transform(ps, p -> p.rel)").as("relevance"))
    SoftmaxSampling("candidate_ids", "relevance", temperature = 20.0, topk = 10)
      .transform(perUser)
      .select(col("requestId"),
        posexplode(arrays_zip(col("ordered_ids"), col("ordered_scores")))
          .as(Seq("pos0", "pair")))
      .select(col("requestId"), (col("pos0") + 1).as("rank"),
        col("pair.ordered_ids").as("item_id"),
        col("pair.ordered_scores").cast("double").as("score"))
      .orderBy("requestId", "rank")
  }

  /** Standard scaling over integer cents: the op's exact-integer-moments
    * path makes mean/std bit-deterministic, so the scaled value (in basis
    * points) hash-matches the DuckDB oracle exactly. */
  def standardScale(spark: SparkSession, d: String): DataFrame = {
    val cents = customer(spark, d).select(col("c_custkey"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    StandardScale(Seq("cents")).transform(cents)
      .select(col("c_custkey"), col("cents"),
        floor(col("cents_scaled") * 10000).cast("long").as("scaled_bp"))
      .orderBy("c_custkey")
  }

  /** Point-in-time join under the oracle: click events form a per-user
    * profile history (unique per (user, second)); every non-click event
    * asks for the latest profile value as of its own timestamp. The
    * DuckDB oracle is a literal ASOF LEFT JOIN. */
  def asofJoin(spark: SparkSession, d: String): DataFrame = {
    val ev = events(spark, d).select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("ts_s"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"))
    val profile = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts_s").agg(max("value_cents").as("profile_cents"))
    val requests = ev.filter(col("event_type") =!= "click")
      .select("event_id", "user_id", "ts_s")
    PointInTimeJoin(profile, "user_id", "ts_s", Seq("profile_cents"))
      .transform(requests)
      .orderBy("event_id")
  }

  /** Interval (range) join under the oracle: each click opens a 5-minute
    * attribution window; every purchase inside a window of the same user
    * attributes to that click. Bucket-expansion equi-join on the Spark
    * side, a plain inequality join in DuckDB. */
  def intervalJoin(spark: SparkSession, d: String): DataFrame = {
    val ev = events(spark, d).select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("ts_s"), col("event_type"))
    val windows = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_s").as("w_start"),
        (col("ts_s") + 300L).as("w_end"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s"))
    IntervalJoin(windows, "user_id", "w_start", "w_end", "ts_s",
      bucketSize = 300L, outputPrefix = "")
      .transform(purchases)
      .orderBy("event_id", "click_id")
  }

  /** ConcatColumns (`node_a + node_b`) + SelectByTag under the oracle:
    * two branches derived from the same root — Categorify codes and
    * basis-point standard scaling — column-concatenated on the request
    * key, then projected purely by schema tag. Proves both the branch
    * union AND that tags ride metadata through real joins. */
  def concatSelectTags(spark: SparkSession, d: String): DataFrame = {
    val base = customer(spark, d).select(col("c_custkey").as("requestId"),
      col("c_mktsegment"), round(col("c_acctbal") * 100).cast("long").as("cents"))
    val branchA = Categorify(Seq("c_mktsegment")).transform(base)
      .select(col("requestId"), col("c_mktsegment_idx"))
    val branchB = Tags.tag(
      StandardScale(Seq("cents")).transform(base)
        .select(col("requestId"),
          floor(col("cents_scaled") * 10000).cast("long").as("scaled_bp")),
      "scaled_bp" -> Seq(Tags.Continuous))
    val joined = ConcatColumns(branchA, on = "requestId")
      .transform(ConcatColumns(branchB, on = "requestId").transform(base))
    SelectByTag(Seq(Tags.Categorical, Tags.Continuous), keep = Seq("requestId"))
      .transform(joined)
      .orderBy("requestId")
  }

  /** SaltedJoin under the oracle: the skew-fallback join must return
    * EXACTLY the rows of the plain equi-join it replaces — the oracle is
    * the unsalted SQL join, so any salt-induced row loss or duplication
    * hash-mismatches.
    *
    * Bench-cost note (r3 "regression" investigated r4): the 2.0 s → 3.6 s
    * drift is measurement honesty, not a plan change. Round ≤2 timings
    * ran under count(), which let the optimizer ELIMINATE the
    * deterministic orderBy (EliminateSorts) and prune the p_brand/p_type
    * string payload out of the scan — i.e. they timed the join skeleton.
    * The noop sink evaluates the full wide result plus the 600 k-row
    * range sort, which is what comparable full-lineitem oracle queries
    * (ml_forest_lgb, ml_forest_portable) also cost. The join itself stays
    * a broadcast hash join of the salted dim with zero extra exchanges —
    * PlanSpec-pinned. */
  def saltedJoin(spark: SparkSession, d: String): DataFrame = {
    val dim = part(spark, d).select(col("p_partkey").as("l_partkey"),
      col("p_brand"), col("p_type"))
    SaltedJoin(dim, on = "l_partkey", saltBy = "l_orderkey", saltBuckets = 8)
      .transform(lineitem(spark, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty")))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** The skew STRESS twin of [[saltedJoin]]: a deliberately hot key —
    * every even orderkey's lineitem collapses onto skew_key 1, so one
    * key carries ~50% of the fact (hundreds of times the median key's
    * share) — joined to a dim under a FORCED sort-merge plan (`merge`
    * hint: broadcast would sidestep skew entirely, and the op exists
    * precisely for dims too big to broadcast). The salt splits the hot
    * key's rows across 32 shuffle buckets, so the straggler partition
    * that would hold half the fact holds ~1/32 of it instead —
    * SkewJoinSpec pins the per-bucket ceiling (max salted bucket within
    * 10× the median; unsalted, the hot key alone is >100× the median
    * group). The bench row records the end-to-end cost of the mitigated
    * plan; correctness is the unsalted SQL join, as for every salted
    * row. */
  def saltedJoinSkew(spark: SparkSession, d: String): DataFrame = {
    val fact = lineitem(spark, d).select(
      when(col("l_orderkey") % 2 === 0, lit(1L))
        .otherwise(pmod(col("l_partkey"), lit(1000L))).as("skew_key"),
      col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
    val dim = spark.range(0, 1000)
      .select(col("id").as("skew_key"), (col("id") % 7).as("dim_grp"))
      .hint("merge")
    SaltedJoin(dim, on = "skew_key", saltBy = "l_orderkey", saltBuckets = 32)
      .transform(fact)
      .groupBy("dim_grp")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"))
      .orderBy("dim_grp")
  }

  /** A 3-stage Ensemble (Selection → Rename → QueryFeatureStore) feeding an
    * aggregate — proves schema propagation end-to-end under the oracle. */
  def pipelineEnsemble(spark: SparkSession, d: String): DataFrame = {
    val li = lineitem(spark, d)
    val ens = Ensemble(Seq(
      Selection(Seq("l_partkey", "l_quantity")),
      Rename(Map("l_partkey" -> "p_partkey")),
      QueryFeatureStore(part(spark, d), "p_partkey", Seq("p_brand"), includeId = false)),
      li.schema)
    ens.transform(li)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
      .orderBy("p_brand")
  }

  /** StratifiedSample under the oracle: per-language keep rates over the
    * document corpus (the pre-training data-mixing knob). The md5 bucket
    * is pure content hash, so DuckDB reproduces the exact surviving set —
    * not just the rate. */
  def stratifiedSample(spark: SparkSession, d: String): DataFrame =
    StratifiedSample("doc_id", "lang",
      Map("en" -> 10000, "de" -> 5000, "zh" -> 2000), defaultBp = 1000)
      .transform(documents(spark, d).select("doc_id", "lang"))
      .orderBy("doc_id")

  /** WeightedSampleByGroup under the oracle: per-language quality-weighted
    * sample of 5 documents (weight = n_chars). The md5-derived uniform
    * makes the Efraimidis–Spirakis keys — and therefore the exact sampled
    * SET and its ranks — reproducible in DuckDB. */
  def weightedSample(spark: SparkSession, d: String): DataFrame =
    WeightedSampleByGroup("lang", "n_chars", "doc_id", k = 5)
      .transform(documents(spark, d).select("doc_id", "lang", "n_chars"))
      .orderBy("doc_id")

  /** UpsampleMix under the oracle: epoch-weighted repeat of the document
    * corpus (the upsampling half of data mixing — en ×2.5, zh ×1.5, de ×1,
    * rest ×0.5). The md5 coin decides which rows carry the fractional
    * epoch, so DuckDB reproduces the exact multiset, not just the rates. */
  def upsampleMix(spark: SparkSession, d: String): DataFrame =
    UpsampleMix("doc_id", "lang",
      Map("en" -> 25000, "de" -> 10000, "zh" -> 15000), defaultBp = 5000)
      .transform(documents(spark, d).select("doc_id", "lang"))
      .orderBy("doc_id", "epoch")

  /** NegativeSampling under the oracle: 3 unseen parts per high-quantity
    * (customer, part) interaction, drawn by the md5 coin over the part
    * catalog. Fully content-addressed, so DuckDB reproduces the exact
    * negative set and ranks — the property that makes a 100 TB training
    * set rebuildable bit-for-bit. */
  def negativeSampling(spark: SparkSession, d: String): DataFrame = {
    val pos = interactions(spark, d).filter(col("l_quantity") >= 45)
      .select(col("requestId").as("user_id"), col("l_partkey").as("item_id"))
      .distinct()
    NegativeSampling(part(spark, d), "user_id", "item_id", "p_partkey", k = 3)
      .transform(pos)
      .orderBy("user_id", "item_id", "neg_rank")
  }

  /** The ranking-training-set flagship: positives → deterministic
    * negatives → labeled union → item-feature join → content-hash split,
    * one composed lazy plan, end-to-end hash-oracled — the recsys
    * counterpart of `pipeline_pretraining` (every stage deterministic, so
    * the full training set rebuilds bit-for-bit on any engine). The
    * (user, item, cand) triple is a total order: positive rows carry
    * cand = item, negatives exclude seen items and are per-pair deduped. */
  def pipelineRanking(spark: SparkSession, d: String): DataFrame = {
    // pos feeds three plan branches (NegativeSampling's input, its seen
    // set, the positive half of the union): persist so the interactions
    // join + distinct runs once, not once per branch
    val pos = interactions(spark, d).filter(col("l_quantity") >= 45)
      .select(col("requestId").as("user_id"), col("l_partkey").as("item_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val negs = NegativeSampling(part(spark, d), "user_id", "item_id", "p_partkey", k = 3)
      .transform(pos)
    val examples = pos
      .withColumn("cand_id", col("item_id")).withColumn("label", lit(1))
      .unionByName(negs.select(col("user_id"), col("item_id"),
        col("neg_item").as("cand_id"), lit(0).as("label")))
      .withColumn("example_key",
        concat(col("user_id").cast("string"), lit("#"),
          col("cand_id").cast("string"), lit("#"), col("label").cast("string")))
    val out = HashSplit("example_key", trainBp = 9000, validBp = 500).transform(examples)
      .join(broadcast(part(spark, d).select(col("p_partkey").as("cand_id"),
        col("p_brand"), col("p_retailprice"))), Seq("cand_id"), "left")
      .select(col("user_id"), col("item_id"), col("cand_id"), col("label"),
        col("p_brand"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("split"))
      .orderBy("user_id", "item_id", "cand_id")
      // eagerly materialize so the pos cache can release now
      .localCheckpoint(true)
    pos.unpersist()
    out
  }

  /** QuantizeEmbeddings under the oracle: integer-micro affine codes are
    * bit-deterministic, so every (vector, component) code hash-checks. */
  def quantizeEmbeddings(spark: SparkSession, d: String): DataFrame =
    QuantizeEmbeddings().transform(embeddings(spark, d))
      .orderBy("vec_id", "pos")

  /** MaterializeFeatureView under the oracle: fold an update batch onto a
    * snapshot; the survivor per user is the (ts, event_id)-max row — the
    * oracle materializes the full history in one row_number pass, which
    * must coincide exactly (the associativity CoreOpsSpec pins). */
  def materializeView(spark: SparkSession, d: String): DataFrame = {
    val ev = events(spark, d).select(col("user_id"),
      col("ts").cast("long").as("ts_s"), col("event_id"),
      round(col("value") * 100).cast("long").as("value_cents"))
    val base = ev.filter(col("event_id") % 2 === 0)
    val updates = ev.filter(col("event_id") % 2 =!= 0)
    MaterializeFeatureView(updates, Seq("user_id"), "ts_s", "event_id")
      .transform(base)
      .orderBy("user_id")
  }

  /** Deterministic 80/10/10 split over documents — stable content-hash
    * buckets both engines compute identically. */
  def hashSplit(spark: SparkSession, d: String): DataFrame =
    HashSplit("doc_id", trainBp = 8000, validBp = 1000)
      .transform(documents(spark, d))
      .select(col("doc_id"), col("split_bucket"), col("split"))
      .orderBy("doc_id")

  /** Feature-drift monitoring (DriftReport): split the event log into a
    * baseline (even ids) and current (odd ids) snapshot and report each
    * numeric feature's bucket-share L1 distance at fixed splits — the
    * serving-monitoring pass, integer-exact on both engines. */
  def driftReport(spark: SparkSession, d: String): DataFrame = {
    val ev = events(spark, d)
    DriftReport(
      ev.filter(col("event_id") % 2 === 0),
      Map("value" -> Seq(10.0, 50.0, 150.0), "user_id" -> Seq(50.0, 100.0)))
      .transform(ev.filter(col("event_id") % 2 =!= 0))
      .orderBy("feature")
  }

  /** Deterministic shuffle-shard layout over documents (ShardShuffle):
    * content-hashed shard + within-shard position — the physical layout a
    * sharded training-data write materializes, reproduced bit-identically
    * by the oracle's window over the same md5 keys. */
  def shardShuffle(spark: SparkSession, d: String): DataFrame =
    ShardShuffle("doc_id", shards = 16)
      .transform(documents(spark, d).select("doc_id", "source"))
      .orderBy("doc_id")

  /** The PCA-compressed retrieval path, shortlist + exact refine (the
    * same two-stage discipline as [[AnnIvfPq]]): project queries AND
    * items to HALF the dimensions with one fitted [[PcaProject]], build
    * a 100-candidate shortlist in the reduced space (the stage whose
    * scan cost the compression halves), then re-score ONLY the
    * shortlist with full-dimension exact dots and keep the top-10.
    * Recall@10 vs the full-dim exact scan is floored in-artifact
    * (rows-only: the eigenfit is not bit-portable). Calibration on this
    * near-isotropic corpus: one-stage reduced top-10 at k=16 measured
    * 2960 bp — raw truncation is unusable without the refine; with the
    * refine, k=16 reached 8480 bp at sf0.01 but 5221 at sf0.1 (more
    * distractors outrun the truncated metric), while k=32 holds 9880 /
    * 8261 bp — the dims-vs-distractors trade this query documents. */
  def pcaAnnRecall(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    val emb = embeddings(spark, d)
    val axes32 = cachedPcaAxes(spark, d, 32)
    writePcaAxesArtifact(spark, d, 32, axes32)
    val op = PcaProject(axes32)
    // materialize the projection BEFORE the pair join: inlined under the
    // broadcast-NL scorer, the k axis-dots would re-evaluate PER PAIR
    // (measured 175 s at sf0.1 vs ~2 s cached — the per-vector cost is
    // trivial, the per-pair recomputation is not). recallRow collects
    // eagerly, so the cache is released before this function returns.
    val reduced = op.transform(emb)
      .select(col("vec_id"), col("label"), col("reduced").as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = reduced.filter(col("label") === 0).select("vec_id", "embedding")
    val items = reduced.filter(col("label") =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding"))
    // shortlist ∝ catalog (floor 100 keeps official SFs bit-identical):
    // a FIXED shortlist is a recall cliff at scale — the round-10
    // sf0.3/sf1.0 rehearsal measured 8127 bp at 2k vectors but 7174 bp
    // at 3.9k under k=100, because 100 candidates cover an ever-thinner
    // slice of a densifying catalog. ~5% of the catalog re-scored keeps
    // the two-stage win (the reduced-space scan still does 20x the
    // candidate elimination) while the refine stays bounded.
    val shortlistK = math.max(100L, items.count() / 20L).toInt
    val shortlist = TopKRetrieval(items, "vec_id", "embedding",
      k = shortlistK, metric = "dot")
      .asRows(q).select(col("vec_id"), col("item_id"))
    val fullQ = emb.filter(col("label") === 0)
      .select(col("vec_id"), col("embedding").as("__qv"))
    val fullI = emb.filter(col("label") =!= 0)
      .select(col("vec_id").as("item_id"), col("embedding").as("__iv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(desc("__score"), asc("item_id"))
    val refined = shortlist.join(fullQ, Seq("vec_id")).join(fullI, Seq("item_id"))
      .withColumn("__score", V.dot(col("__qv"), col("__iv")))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= 10)
      .select("vec_id", "item_id")
    try Evidence.recallRow(spark, refined, topkRetrieval(spark, d),
      Seq("vec_id", "item_id"), floorBp = 8000)
    finally reduced.unpersist()
  }

  /** SkewReport under the oracle: the 20 heaviest l_partkey groups of
    * lineitem with share and multiple-of-mean in basis points — the
    * pre-join skew diagnostic, exact integer math end to end. */
  def skewReport(spark: SparkSession, d: String): DataFrame =
    SkewReport(Seq("l_partkey"), topK = 20)
      .transform(lineitem(spark, d))
      .orderBy(col("n_rows").desc, col("l_partkey"))

  /** MixturePlan under the oracle: per-language token budgets over the
    * document corpus — availability, targets, keep-rates and shortfall
    * flags all in floor integer arithmetic, replayed exactly by one
    * grouped SQL. */
  def mixturePlan(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    MixturePlan("lang", "toks", Map("en" -> 5000, "zh" -> 3000),
      budgetTokens = 20000, defaultBp = 1000)
      .transform(documents(spark, d)
        .select(col("lang"), T.tokenCount(col("text")).cast("long").as("toks")))
      .orderBy("stratum")
  }

  /** PCA projection under the evidence harness (rows-only: eigenvector
    * fits are not bit-portable cross-engine). The in-query checks pin
    * the linear-algebra contract instead: the fitted axes must be
    * orthonormal (Gram matrix ≈ identity) and the projection must
    * reproduce MLlib's own transform — then the flattened (id, pos,
    * micro-quantized value) rows land in the artifact. */
  def pcaProject(spark: SparkSession, d: String): DataFrame = {
    val emb = embeddings(spark, d)
    val axes = cachedPcaAxes(spark, d, 8)
    writePcaAxesArtifact(spark, d, 8, axes)
    val op = PcaProject(axes)
    // orthonormality: |<a_i, a_j> - [i==j]| within 1e-9
    for (i <- axes.indices; j <- i until axes.size) {
      val dot = axes(i).zip(axes(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      require(math.abs(dot - want) < 1e-9,
        s"PCA axes must be orthonormal: <$i,$j> = $dot")
    }
    op.transform(emb)
      .select(col("vec_id"), posexplode(col("reduced")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"),
        floor(col("x") * 1e6).cast("long").as("x_micro"))
      .orderBy("vec_id", "pos")
  }

  /** Approximate distinct cardinalities (HLL++) checked against the
    * exact count — the 100 TB profiling tool whose sketch is mergeable
    * and partition-order-independent. The raw estimate is
    * engine-specific (HLL register contents are not cross-engine-
    * portable), so the HASHED row is the CONTRACT, the same trick that
    * oracles the ANN recall rows: per source, the exact ground truth
    * (computed both sides), the 3×rsd bound in basis points, and
    * `within_bound` DERIVED FROM THE LIVE SKETCH — the oracle asserts
    * TRUE, so a drifting sketch turns the row hash-red; the in-query
    * require additionally names the failure instead of leaving an
    * opaque mismatch. */
  def approxDistinct(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val toks = documents(spark, d)
      .select(col("source"), explode(T.words(col("text"))).as("tok"))
    val out = toks.groupBy("source").agg(
        countDistinct(col("tok")).as("exact_distinct"),
        approx_count_distinct(col("tok"), 0.02).as("approx_distinct"))
      .withColumn("err_bp",
        expr("abs(approx_distinct - exact_distinct) * 10000 DIV exact_distinct"))
    val worst = out.agg(max(col("err_bp"))).head().getLong(0)
    require(worst <= 600, s"HLL error $worst bp exceeds 3x rsd bound (600 bp)")
    out.select(col("source"), col("exact_distinct"),
        lit(600L).as("bound_bp"),
        (col("err_bp") <= 600L).as("within_bound"))
      .orderBy("source")
  }

  /** The exact-distinct twin of [[approxDistinct]] (family convention:
    * neardup_semantic / neardup_semantic_full): the same grouping under
    * exact count(distinct), fully hash-oracled — so the sketch query's
    * in-artifact error bound is anchored to a ground truth the oracle
    * itself verifies. */
  def approxDistinctExact(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    documents(spark, d)
      .select(col("source"), explode(T.words(col("text"))).as("tok"))
      .groupBy("source")
      .agg(countDistinct(col("tok")).as("exact_distinct"))
      .orderBy("source")
  }

  /** Lineitem with integral quantity — the shared base for the fitted-FE
    * queries (exact long sums keep the fitted statistics bit-deterministic
    * cross-engine). */
  private def liQty(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d).select(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_returnflag"), col("l_linestatus"),
      col("l_quantity").cast("long").as("qty"))

  /** TargetEncoding under the oracle: smoothed mean-encoding of two
    * categoricals against an integral target — the fitted group sums are
    * exact longs, so the encoded doubles mirror in SQL bit-for-bit. */
  def targetEncode(spark: SparkSession, d: String): DataFrame =
    TargetEncoding(Seq("l_returnflag", "l_linestatus"), "qty")
      .transform(liQty(spark, d))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag_te"), col("l_linestatus_te"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Leave-one-out TargetEncoding: each row's own label leaves its group
    * statistic — the leak-free training-set variant, exactly mirrored by
    * a windowed CASE in SQL. */
  def targetEncodeLoo(spark: SparkSession, d: String): DataFrame =
    TargetEncoding(Seq("l_returnflag"), "qty", leaveOneOut = true)
      .transform(liQty(spark, d))
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
        col("l_returnflag_te"))
      .orderBy("l_orderkey", "l_linenumber")

  /** JoinGroupby under the oracle: per-item interaction statistics joined
    * back onto every interaction row. The mean is emitted as fixed-point
    * basis points (the repo's `_bp` convention) — the raw double hashed
    * differently at the driver's format layer two rounds running even
    * though exact value-compare passed. */
  def joinGroupby(spark: SparkSession, d: String): DataFrame =
    JoinGroupby("l_partkey", Seq("qty"), Seq("count", "sum", "mean", "min", "max"))
      .transform(liQty(spark, d))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_partkey_count"), col("l_partkey_qty_sum"),
        floor(col("l_partkey_qty_mean") * 10000).cast("long")
          .as("l_partkey_qty_mean_bp"),
        col("l_partkey_qty_min"), col("l_partkey_qty_max"))
      .orderBy("l_orderkey", "l_linenumber")

  /** HashBucket under the oracle: the stateless hashing-trick encoding —
    * both engines compute the identical md5 bucket. */
  def hashBucket(spark: SparkSession, d: String): DataFrame =
    HashBucket(Seq("p_brand", "p_partkey"), numBuckets = 50)
      .transform(part(spark, d).select(col("p_partkey"), col("p_brand")))
      .select(col("p_partkey"), col("p_brand_hb"), col("p_partkey_hb"))
      .orderBy("p_partkey")

  /** FillMissing under the oracle: a constant fill and a fitted-median
    * fill over columns with injected nulls. */
  def fillMissing(spark: SparkSession, d: String): DataFrame = {
    val base = lineitem(spark, d).select(col("l_orderkey"), col("l_linenumber"),
      when(col("l_quantity") >= 48, lit(null)).otherwise(col("l_quantity").cast("long"))
        .as("qty_n"),
      when(col("l_returnflag") === "N", lit(null)).otherwise(col("l_returnflag"))
        .as("rf_n"))
    FillMissing(constants = Map("rf_n" -> "NONE"), medianCols = Seq("qty_n"))
      .transform(base)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("rf_n_filled"), col("qty_n_filled"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Clip + LogTransform under the oracle: row-local numeric hygiene ops
    * (ln on an integral input so the doubles mirror exactly). */
  def clipLog(spark: SparkSession, d: String): DataFrame = {
    val base = part(spark, d).select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val ens = Ensemble(Seq(
      Clip(Map("p_retailprice" -> (Some(900.0), Some(1600.0)))),
      LogTransform(Seq("p_size"))), base.schema)
    // round(·, 9) for the cross-engine hash only: Java Math.log and
    // DuckDB ln disagree by 1 ulp on some inputs (measured: ln(48)), so
    // the raw double cannot hash-match — the op itself keeps full
    // precision (the money→cents discipline, applied to logs)
    ens.transform(base)
      .select(col("p_partkey"), col("p_retailprice_clip"),
        round(col("p_size_log"), 9).as("p_size_log"))
      .orderBy("p_partkey")
  }

  /** ListSlice under the oracle: python-slice semantics over per-user
    * event-id lists — interior window and last-3 tail. The lists are
    * emitted joined to strings: the driver's pandas-side row sort cannot
    * hash array cells (r4: `unhashable type: numpy.ndarray`), so scalar
    * columns are the only way this op's semantics reach the hash oracle. */
  def listSlice(spark: SparkSession, d: String): DataFrame = {
    val base = events(spark, d).groupBy("user_id")
      .agg(sort_array(collect_list(col("event_id"))).as("eids"))
    val ens = Ensemble(Seq(
      ListSlice(Seq("eids"), 1, Some(-1), suffix = "_mid"),
      ListSlice(Seq("eids"), -3, None, suffix = "_tail")), base.schema)
    ens.transform(base)
      .select(col("user_id"),
        array_join(transform(col("eids_mid"), _.cast("string")), ",").as("eids_mid"),
        array_join(transform(col("eids_tail"), _.cast("string")), ",").as("eids_tail"))
      .orderBy("user_id")
  }

  /** The shared input frame of the feature workflow (fit and serve). */
  private def featureWorkflowBase(spark: SparkSession, d: String): DataFrame = {
    val dim = part(spark, d).select(col("p_partkey").as("l_partkey"),
      col("p_brand"), col("p_retailprice"), col("p_size"))
    lineitem(spark, d).join(broadcast(dim), Seq("l_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("p_brand"), col("p_retailprice"), col("p_size"),
        col("l_quantity").cast("long").as("qty"),
        when(col("l_quantity") >= 48, lit(null)).otherwise(col("l_quantity").cast("long"))
          .as("qty_n"))
  }

  /** The fitted 8-stage workflow, fit ONCE per data dir with parquet-
    * backed dictionary artifacts (the prewarmAlsFactors discipline: a
    * driver-local temp dir deleted on JVM exit — on a real cluster the
    * artifact dir is shared storage). Serving transforms schedule zero
    * eager jobs; repeat passes re-pay neither the fit's input scans nor
    * its driver jobs — the reference's TransformWorkflow contract
    * (workflow.py:24-116 serves PRE-fitted NVTabular workflows). */
  private val featureWorkflowCache =
    scala.collection.concurrent.TrieMap.empty[String, Ensemble]

  private def fittedFeatureWorkflow(spark: SparkSession, d: String): Ensemble =
    featureWorkflowCache.getOrElseUpdate(d, {
      val base = featureWorkflowBase(spark, d)
      val ens = Ensemble(Seq(
        Categorify(Seq("l_returnflag")),
        TargetEncoding(Seq("p_brand"), "qty"),
        HashBucket(Seq("p_brand"), 32),
        Bucketize(Map("p_retailprice" -> Seq(950.0, 1200.0, 1500.0))),
        FillMissing(medianCols = Seq("qty_n")),
        Clip(Map("p_size" -> (Some(5.0), Some(45.0)))),
        LogTransform(Seq("qty")),
        StandardScale(Seq("qty"))), base.schema)
      val tmp = java.nio.file.Files.createTempDirectory("graft_fe_workflow_")
      sys.addShutdownHook {
        import java.nio.file.{Files, Path}
        import scala.jdk.CollectionConverters._
        if (Files.exists(tmp))
          Files.walk(tmp).iterator().asScala.toSeq.reverseIterator
            .foreach((p: Path) => Files.deleteIfExists(p))
      }
      FittedOps.fitEnsemble(ens, base, Some(tmp.toString))
    })

  /** Bench prewarm: the workflow fit is an offline artifact (the
    * reference fits NVTabular offline; TransformWorkflow only serves). */
  def prewarmFeatureWorkflow(spark: SparkSession, d: String): Unit = {
    fittedFeatureWorkflow(spark, d); ()
  }

  /** The fitted-workflow flagship: eight NVTabular-parity FE stages
    * (Categorify → TargetEncoding → HashBucket → Bucketize → FillMissing
    * → Clip → LogTransform → StandardScale) composed in ONE Ensemble over
    * the interactions join — the reference's TransformWorkflow serving a
    * many-stage fitted workflow (workflow.py:86-112), end-to-end under
    * the hash oracle. Every fitted statistic (dictionary ranks, group
    * sums, median, moments) derives from exact integer aggregates, so the
    * whole composed output is bit-deterministic cross-engine — and the
    * workflow is FIT ONCE ([[fittedFeatureWorkflow]]): the serving pass
    * measures the transform plan, not refitting. */
  def pipelineFeatureWorkflow(spark: SparkSession, d: String): DataFrame = {
    val base = featureWorkflowBase(spark, d)
    fittedFeatureWorkflow(spark, d).transform(base)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag_idx"), col("p_brand_te"), col("p_brand_hb"),
        col("p_retailprice_bucket"), col("qty_n_filled"), col("p_size_clip"),
        round(col("qty_log"), 9).as("qty_log"),
        floor(col("qty_scaled") * 10000).cast("long").as("qty_scaled_bp"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_feature_workflow" -> (pipelineFeatureWorkflow _),
    "op_target_encode" -> (targetEncode _),
    "op_target_encode_loo" -> (targetEncodeLoo _),
    "op_join_groupby" -> (joinGroupby _),
    "op_hash_bucket" -> (hashBucket _),
    "op_fill_missing" -> (fillMissing _),
    "op_clip_log" -> (clipLog _),
    "op_list_slice" -> (listSlice _),
    "op_hash_split" -> (hashSplit _),
    "op_shard_shuffle" -> (shardShuffle _),
    "op_mixture_plan" -> (mixturePlan _),
    "op_skew_report" -> (skewReport _),
    "op_pca_project" -> (pcaProject _),
    "op_pca_ann_recall" -> (pcaAnnRecall _),
    "op_approx_distinct" -> (approxDistinct _),
    "op_approx_distinct_exact" -> (approxDistinctExact _),
    "op_drift_report" -> (driftReport _),
    "op_feature_lookup" -> (featureLookup _),
    "op_filter_candidates" -> (filterCandidates _),
    "op_unroll_features" -> (unrollFeatures _),
    "op_embedding_lookup" -> (embeddingLookup _),
    "op_padding" -> (padding _),
    "op_embed_normalize" -> (embedNormalize _),
    "op_embed_pool" -> (embedPool _),
    "op_training_sequences" -> (trainingSequences _),
    "op_resample" -> (resample _),
    "op_bucketize" -> (bucketize _),
    "op_validate" -> (validate _),
    "pipeline_training_set" -> (pipelineTrainingSet _),
    "op_categorify" -> (categorify _),
    "op_topk_retrieval" -> (topkRetrieval _),
    "op_ann_lsh" -> (annLsh _),
    "op_ann_lsh_stream" -> (annLshStream _),
    "op_ann_lsh_skew" -> (annLshSkew _),
    "op_ann_lsh_skew_stream" -> (annLshSkewStream _),
    "op_ann_lsh_probe_cost" -> (annLshProbeCost _),
    "op_ann_ivf_probe_cost" -> (annIvfProbeCost _),
    "op_ann_ivf_skew" -> (annIvfSkew _),
    "op_ann_ivf" -> (annIvf _),
    "op_ann_index_update" -> (annIndexUpdate _),
    "op_ann_ivf_stream" -> (annIvfStream _),
    "op_ann_occupancy_stream" -> (annOccupancyStream _),
    "op_ann_refit_skewed" -> (annRefitSkewed _),
    "op_ann_refit_skewed_probe" -> (annRefitSkewedProbe _),
    "op_ann_lsh_recall" -> (annLshRecall _),
    "op_ann_lsh_recall_sampled" -> (annLshRecallSampled _),
    "op_ann_ivf_recall" -> (annIvfRecall _),
    "op_ann_ivf_recall_sampled" -> (annIvfRecallSampled _),
    "op_ann_ivf_full" -> (annIvfFull _),
    "op_ann_pq" -> (annPq _),
    "op_ann_pq_recall" -> (annPqRecall _),
    "op_ann_pq_recall_sampled" -> (annPqRecallSampled _),
    "op_ann_pq_stream" -> (annPqStream _),
    "op_ann_pq_drift" -> (annPqDrift _),
    "op_ann_pq_exact" -> (annPqExact _),
    "op_ann_sq" -> (annSq _),
    "op_ann_sq_stream" -> (annSqStream _),
    "op_ann_sq_recall" -> (annSqRecall _),
    "op_ann_sq_recall_sampled" -> (annSqRecallSampled _),
    "op_trailing_features" -> (trailingFeatures _),
    "multimodal_decode" -> (multimodalDecode _),
    "multimodal_resize" -> (multimodalResize _),
    "multimodal_retrieval" -> (multimodalRetrieval _),
    "multimodal_neardup" -> (multimodalNeardup _),
    "op_sample_frames" -> (sampleFrames _),
    "op_softmax_sampling" -> (softmaxSampling _),
    "op_standard_scale" -> (standardScale _),
    "op_concat_select_tags" -> (concatSelectTags _),
    "op_asof_join" -> (asofJoin _),
    "op_interval_join" -> (intervalJoin _),
    "op_salted_join" -> (saltedJoin _),
    "op_salted_join_skew" -> (saltedJoinSkew _),
    "op_stratified_sample" -> (stratifiedSample _),
    "op_upsample_mix" -> (upsampleMix _),
    "op_weighted_sample" -> (weightedSample _),
    "op_negative_sampling" -> (negativeSampling _),
    "pipeline_ranking" -> (pipelineRanking _),
    "op_quantize_embeddings" -> (quantizeEmbeddings _),
    "op_materialize_view" -> (materializeView _),
    "op_pipeline_ensemble" -> (pipelineEnsemble _))

  /** Oracle fragment for op_drift_report: one feature's bucket-share L1
    * CTE chain (mirrors DriftReport's fixed-split histogram, null bucket
    * −1, and integer basis-point shares). Expects CTEs `base` and `cur`. */
  private def driftSql(tag: String, c: String, sp: Seq[Double]): String = {
    val bucket = sp.map(s => s"CASE WHEN $c >= $s THEN 1 ELSE 0 END").mkString(" + ")
    s"""${tag}b AS (SELECT CASE WHEN $c IS NULL THEN -1 ELSE ($bucket) END AS b,
       |  count(*) AS nb FROM base GROUP BY 1),
       |${tag}c AS (SELECT CASE WHEN $c IS NULL THEN -1 ELSE ($bucket) END AS b,
       |  count(*) AS nc FROM cur GROUP BY 1),
       |${tag}j AS (SELECT coalesce(nb, 0) AS nb, coalesce(nc, 0) AS nc
       |  FROM ${tag}b FULL JOIN ${tag}c USING (b)),
       |${tag}t AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM ${tag}j),
       |${tag}1 AS (SELECT '$c' AS feature, tb, tc,
       |  sum(abs(CASE WHEN tb > 0 THEN nb * 10000 // tb ELSE 0 END -
       |          CASE WHEN tc > 0 THEN nc * 10000 // tc ELSE 0 END)) AS l1
       |  FROM ${tag}j, ${tag}t GROUP BY 1, 2, 3)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "op_approx_distinct" ->
      """SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct,
        |  CAST(600 AS BIGINT) AS bound_bp, TRUE AS within_bound
        |FROM (SELECT source,
        |  unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "op_approx_distinct_exact" ->
      """SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
        |FROM (SELECT source,
        |  unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "op_skew_report" ->
      """WITH c AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_keys FROM c)
        |SELECT l_partkey, n_rows,
        |  CAST(n_rows * 10000 // total AS BIGINT) AS share_bp,
        |  CAST(CAST(n_rows AS HUGEINT) * n_keys * 10000 // total AS BIGINT) AS mult_vs_mean_bp
        |FROM c, s ORDER BY n_rows DESC, l_partkey LIMIT 20""".stripMargin,
    "op_mixture_plan" ->
      """WITH t AS (SELECT lang,
        |  CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |g0 AS (SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS avail_tokens FROM t GROUP BY 1),
        |decl AS (SELECT unnest(['en', 'zh']) AS stratum),
        |g AS (SELECT coalesce(g0.stratum, d.stratum) AS stratum,
        |  coalesce(n_docs, 0) AS n_docs, coalesce(avail_tokens, 0) AS avail_tokens
        |  FROM g0 FULL JOIN decl d ON g0.stratum = d.stratum),
        |p AS (SELECT stratum, n_docs, avail_tokens,
        |  CAST(20000 * (CASE stratum WHEN 'en' THEN 5000 WHEN 'zh' THEN 3000
        |    ELSE 1000 END) // 10000 AS BIGINT) AS target_tokens FROM g),
        |r AS (SELECT *, CASE WHEN avail_tokens > 0
        |    THEN CAST(least(10000, CAST(target_tokens AS HUGEINT) * 10000 // avail_tokens) AS BIGINT)
        |    ELSE NULL END AS rate_bp
        |  FROM p)
        |SELECT stratum, n_docs, avail_tokens, target_tokens, rate_bp,
        |  CAST(CAST(avail_tokens AS HUGEINT) * rate_bp // 10000 AS BIGINT) AS planned_tokens,
        |  avail_tokens < target_tokens AS short
        |FROM r ORDER BY stratum""".stripMargin,
    "pipeline_feature_workflow" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag, p_brand,
        |    p_retailprice, p_size, CAST(l_quantity AS BIGINT) AS qty,
        |    CASE WHEN l_quantity >= 48 THEN NULL
        |      ELSE CAST(l_quantity AS BIGINT) END AS qty_n
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |cat AS (SELECT l_returnflag AS v, CAST(row_number() OVER
        |  (ORDER BY count(*) DESC, l_returnflag) - 1 AS INTEGER) AS idx
        |  FROM b GROUP BY l_returnflag),
        |t AS (SELECT CAST(SUM(qty) AS DOUBLE)/COUNT(qty) AS prior FROM b),
        |med AS (SELECT quantile_cont(CAST(qty_n AS DOUBLE), 0.5) AS med FROM b),
        |st AS (SELECT count(qty) AS n, CAST(sum(qty) AS BIGINT) AS s1,
        |  CAST(sum(qty*qty) AS BIGINT) AS s2 FROM b)
        |SELECT l_orderkey, l_linenumber,
        |  cat.idx AS l_returnflag_idx,
        |  (CAST(SUM(qty) OVER wb AS DOUBLE) + prior*20.0)
        |    / (CAST(COUNT(qty) OVER wb AS DOUBLE) + 20.0) AS p_brand_te,
        |  CAST(('0x' || substring(md5(p_brand || ':graft-hash'), 1, 8))::BIGINT % 32
        |    AS INTEGER) AS p_brand_hb,
        |  CAST((CASE WHEN p_retailprice >= 950 THEN 1 ELSE 0 END) +
        |    (CASE WHEN p_retailprice >= 1200 THEN 1 ELSE 0 END) +
        |    (CASE WHEN p_retailprice >= 1500 THEN 1 ELSE 0 END) AS INTEGER)
        |    AS p_retailprice_bucket,
        |  COALESCE(CAST(qty_n AS DOUBLE), med) AS qty_n_filled,
        |  LEAST(GREATEST(CAST(p_size AS DOUBLE), 5.0), 45.0) AS p_size_clip,
        |  round(ln(CAST(qty AS DOUBLE) + 1.0), 9) AS qty_log,
        |  CAST(floor((qty - CAST(s1 AS DOUBLE)/n)
        |    / sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
        |    * 10000) AS BIGINT) AS qty_scaled_bp
        |FROM b JOIN cat ON l_returnflag = cat.v, t, med, st
        |WINDOW wb AS (PARTITION BY p_brand)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_target_encode" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |t AS (SELECT CAST(SUM(qty) AS DOUBLE)/COUNT(qty) AS prior FROM b)
        |SELECT l_orderkey, l_linenumber,
        |  (CAST(SUM(qty) OVER wr AS DOUBLE) + prior*20.0)
        |    / (CAST(COUNT(qty) OVER wr AS DOUBLE) + 20.0) AS l_returnflag_te,
        |  (CAST(SUM(qty) OVER wl AS DOUBLE) + prior*20.0)
        |    / (CAST(COUNT(qty) OVER wl AS DOUBLE) + 20.0) AS l_linestatus_te
        |FROM b, t
        |WINDOW wr AS (PARTITION BY l_returnflag), wl AS (PARTITION BY l_linestatus)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_target_encode_loo" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |t AS (SELECT CAST(SUM(qty) AS DOUBLE)/COUNT(qty) AS prior FROM b)
        |SELECT l_orderkey, l_linenumber, qty,
        |  CASE WHEN COUNT(qty) OVER w <= 1 THEN prior
        |    ELSE ((CAST(SUM(qty) OVER w AS DOUBLE) - CAST(qty AS DOUBLE)) + prior*20.0)
        |      / ((CAST(COUNT(qty) OVER w AS DOUBLE) - 1.0) + 20.0) END AS l_returnflag_te
        |FROM b, t WINDOW w AS (PARTITION BY l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_join_groupby" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_partkey,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey,
        |  COUNT(*) OVER w AS l_partkey_count,
        |  CAST(SUM(qty) OVER w AS BIGINT) AS l_partkey_qty_sum,
        |  CAST(floor(SUM(CAST(qty AS DOUBLE)) OVER w / COUNT(qty) OVER w * 10000)
        |    AS BIGINT) AS l_partkey_qty_mean_bp,
        |  MIN(qty) OVER w AS l_partkey_qty_min,
        |  MAX(qty) OVER w AS l_partkey_qty_max
        |FROM b WINDOW w AS (PARTITION BY l_partkey)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_hash_bucket" ->
      """SELECT p_partkey,
        |  CAST(('0x' || substring(md5(p_brand || ':graft-hash'), 1, 8))::BIGINT % 50
        |    AS INTEGER) AS p_brand_hb,
        |  CAST(('0x' || substring(md5(p_partkey::VARCHAR || ':graft-hash'), 1, 8))::BIGINT % 50
        |    AS INTEGER) AS p_partkey_hb
        |FROM part ORDER BY p_partkey""".stripMargin,
    "op_fill_missing" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity >= 48 THEN NULL ELSE CAST(l_quantity AS BIGINT) END AS qty_n,
        |  CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END AS rf_n
        |  FROM lineitem),
        |m AS (SELECT quantile_cont(CAST(qty_n AS DOUBLE), 0.5) AS med FROM b)
        |SELECT l_orderkey, l_linenumber,
        |  COALESCE(rf_n, 'NONE') AS rf_n_filled,
        |  COALESCE(CAST(qty_n AS DOUBLE), med) AS qty_n_filled
        |FROM b, m ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_clip_log" ->
      """SELECT p_partkey,
        |  LEAST(GREATEST(p_retailprice, 900.0), 1600.0) AS p_retailprice_clip,
        |  round(ln(CAST(p_size AS DOUBLE) + 1.0), 9) AS p_size_log
        |FROM part ORDER BY p_partkey""".stripMargin,
    "op_list_slice" ->
      """WITH b AS (SELECT user_id, list_sort(array_agg(event_id)) AS eids
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  array_to_string(list_slice(eids, 2, -2), ',') AS eids_mid,
        |  array_to_string(list_slice(eids, -3, -1), ',') AS eids_tail
        |FROM b ORDER BY user_id""".stripMargin,
    // the frames mirror rangeBetween(-h, -1): RANGE h PRECEDING .. 1
    // PRECEDING, inclusive bounds, same-second peers excluded; sums are
    // BIGINT-cast (DuckDB sum(BIGINT) returns HUGEINT) and NULL-on-empty
    // in both engines
    "op_trailing_features" ->
      """WITH ev AS (SELECT event_id, user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |  CAST(round(value*100) AS BIGINT) AS value_cents FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w1 AS n_3600s,
        |  CAST(sum(value_cents) OVER w1 AS BIGINT) AS sum_3600s,
        |  count(*) OVER w2 AS n_86400s,
        |  CAST(sum(value_cents) OVER w2 AS BIGINT) AS sum_86400s
        |FROM ev
        |WINDOW w1 AS (PARTITION BY user_id ORDER BY ts_sec
        |  RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING),
        |w2 AS (PARTITION BY user_id ORDER BY ts_sec
        |  RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "op_hash_split" ->
      """SELECT doc_id, b AS split_bucket,
        |CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substring(md5(doc_id::VARCHAR || ':graft-split'), 1, 8))::BIGINT % 10000 AS b
        |  FROM documents) ORDER BY doc_id""".stripMargin,
    "op_shard_shuffle" ->
      """WITH s AS (SELECT doc_id, source,
        |  ('0x' || substring(md5(doc_id::VARCHAR || ':graft-shard'), 1, 8))::BIGINT % 16 AS shard,
        |  md5(doc_id::VARCHAR || ':graft-shard:pos') AS ok
        |  FROM documents)
        |SELECT doc_id, source, CAST(shard AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) AS INTEGER) AS shard_pos
        |FROM s ORDER BY doc_id""".stripMargin,
    "op_drift_report" ->
      s"""WITH base AS (SELECT * FROM events WHERE event_id % 2 = 0),
         |cur AS (SELECT * FROM events WHERE event_id % 2 = 1),
         |${driftSql("v", "value", Seq(10.0, 50.0, 150.0))},
         |${driftSql("u", "user_id", Seq(50.0, 100.0))}
         |SELECT feature, CAST(tb AS BIGINT) AS n_base, CAST(tc AS BIGINT) AS n_cur,
         |  CAST(l1 AS BIGINT) AS l1_bp, l1 >= 1000 AS drifted
         |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM u1) ORDER BY feature""".stripMargin,
    "op_feature_lookup" ->
      """SELECT p_partkey, p_brand AS item_p_brand, p_type AS item_p_type,
        |CAST(round(p_retailprice*100) AS BIGINT) AS item_price_cents
        |FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey=p_partkey AND l_quantity >= 49)
        |ORDER BY p_partkey""".stripMargin,
    "op_filter_candidates" ->
      """SELECT requestId, item_id FROM (
        |SELECT DISTINCT o_custkey AS requestId, l_partkey AS item_id
        |FROM orders JOIN lineitem ON o_orderkey=l_orderkey
        |EXCEPT
        |SELECT DISTINCT o_custkey, l_partkey
        |FROM orders JOIN lineitem ON o_orderkey=l_orderkey WHERE l_returnflag='R')
        |ORDER BY requestId, item_id""".stripMargin,
    "op_unroll_features" ->
      """SELECT DISTINCT o_custkey AS requestId, l_partkey AS item_id,
        |c_mktsegment AS user_c_mktsegment,
        |CAST(round(c_acctbal*100) AS BIGINT) AS user_acctbal_cents
        |FROM orders JOIN lineitem ON o_orderkey=l_orderkey JOIN customer ON c_custkey=o_custkey
        |WHERE l_quantity >= 48 ORDER BY requestId, item_id""".stripMargin,
    "op_embedding_lookup" ->
      """SELECT vec_id AS id, unnest(range(1, len(embedding)+1)) AS pos,
        |CAST(unnest(embedding) AS DOUBLE) AS val
        |FROM embeddings WHERE label=1 ORDER BY id, pos""".stripMargin,
    "op_padding" ->
      """SELECT vec_id, unnest(range(1, 7)) AS pos, CAST(unnest(vals) AS DOUBLE) AS val
        |FROM (SELECT vec_id, list_slice(list_concat(
        |list_slice(embedding, 1, CAST(vec_id%5+3 AS BIGINT)),
        |[0.0,0.0,0.0,0.0,0.0,0.0]), 1, 6) AS vals FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin,
    "pipeline_training_set" ->
      """WITH seqs AS (
        |  SELECT user_id, event_id AS label_event_id,
        |    concat_ws('|', c1, c2, c3) AS context_str, event_type AS label
        |  FROM (SELECT user_id, event_id, event_type,
        |    lag(event_type, 3) OVER w AS c1,
        |    lag(event_type, 2) OVER w AS c2,
        |    lag(event_type, 1) OVER w AS c3,
        |    row_number() OVER w AS rn
        |    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |  WHERE rn > 3)
        |SELECT user_id, label_event_id, context_str, label,
        |CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split
        |FROM (SELECT *,
        |  ('0x' || substring(md5(label_event_id::VARCHAR || ':graft-split'), 1, 8))::BIGINT % 10000 AS b
        |  FROM seqs)
        |ORDER BY label_event_id""".stripMargin,
    "op_validate" ->
      """SELECT CASE WHEN user_id IS NULL THEN 'null: user_id'
        |  WHEN value IS NOT NULL AND (value < 0.0 OR value > 25.0)
        |    THEN 'out of range [0.0, 25.0]: value' END AS error,
        |count(*) AS n_rows,
        |CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,
    "op_bucketize" ->
      """SELECT p_partkey,
        |CAST((CASE WHEN p_retailprice >= 950 THEN 1 ELSE 0 END) +
        |     (CASE WHEN p_retailprice >= 1200 THEN 1 ELSE 0 END) +
        |     (CASE WHEN p_retailprice >= 1500 THEN 1 ELSE 0 END) AS INTEGER)
        |  AS p_retailprice_bucket,
        |CAST((CASE WHEN p_size >= 10 THEN 1 ELSE 0 END) +
        |     (CASE WHEN p_size >= 25 THEN 1 ELSE 0 END) +
        |     (CASE WHEN p_size >= 40 THEN 1 ELSE 0 END) AS INTEGER)
        |  AS p_size_bucket
        |FROM part ORDER BY p_partkey""".stripMargin,
    "op_training_sequences" ->
      """SELECT user_id, event_id AS label_event_id,
        |concat_ws('|', c1, c2, c3) AS context_str, event_type AS label
        |FROM (SELECT user_id, event_id, event_type,
        |  lag(event_type, 3) OVER w AS c1,
        |  lag(event_type, 2) OVER w AS c2,
        |  lag(event_type, 1) OVER w AS c3,
        |  row_number() OVER w AS rn
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE rn > 3 ORDER BY label_event_id""".stripMargin,
    "op_resample" ->
      """WITH obs0 AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(round(value*100) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |obs AS (SELECT user_id, day, v FROM obs0 WHERE rn = 1),
        |b AS (SELECT user_id, min(day) AS d0 FROM obs GROUP BY 1),
        |g AS (SELECT user_id, CAST(unnest(generate_series(d0::TIMESTAMP,
        |    (SELECT max(day) FROM obs)::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |j AS (SELECT g.user_id, g.day, o.v FROM g
        |  LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day)
        |SELECT user_id, day,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS value_cents,
        |  CASE WHEN v IS NULL THEN 0 ELSE 1 END AS is_observed
        |FROM j ORDER BY user_id, day""".stripMargin,
    "op_embed_normalize" ->
      """SELECT vec_id, unnest(range(1, len(embedding)+1)) AS pos,
        |CAST(unnest(embedding) AS DOUBLE) / nrm AS val
        |FROM (SELECT vec_id, embedding,
        |  sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings) WHERE nrm > 0
        |ORDER BY vec_id, pos""".stripMargin,
    "op_embed_pool" ->
      """WITH e AS (SELECT label,
        |  CAST(unnest(range(0, len(embedding))) AS INTEGER) AS pos,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT label, pos, count(*) AS n_vecs, CAST(sum(q) AS BIGINT) AS sum_micros,
        |CAST(sum(q) AS DOUBLE) / count(*) / 1000000 AS mean
        |FROM e GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,
    "op_categorify" ->
      """WITH m AS (SELECT c_mktsegment AS v,
        |CAST(row_number() OVER (ORDER BY count(*) DESC, c_mktsegment) - 1 AS INTEGER) AS idx
        |FROM customer GROUP BY c_mktsegment)
        |SELECT c_custkey, c_mktsegment, idx AS c_mktsegment_idx
        |FROM customer JOIN m ON c_mktsegment=v ORDER BY c_custkey""".stripMargin,
    "multimodal_resize" ->
      """WITH m AS (SELECT doc_id AS media_id, md5(text) || md5(source) AS hx FROM documents),
        |r AS (SELECT media_id,
        |  ('0x' || substr(hx, 1, 4))::BIGINT // 2 AS w2,
        |  ('0x' || substr(hx, 5, 4))::BIGINT // 2 AS h2,
        |  array_to_string(list_transform(range(0, 14), i -> substr(hx, 9 + i * 4, 2)), '') AS payload_hex
        |  FROM m)
        |SELECT media_id, CAST(w2 AS INTEGER) AS width, CAST(h2 AS INTEGER) AS height,
        |  upper(printf('%04x', w2) || printf('%04x', h2) || payload_hex) AS content_hex,
        |  CAST(18 AS INTEGER) AS n_bytes
        |FROM r ORDER BY media_id""".stripMargin,
    "multimodal_retrieval" ->
      """WITH m AS (SELECT doc_id AS media_id, md5(text) || md5(source) AS hx FROM documents),
        |b AS (SELECT media_id, ('0x' || substr(hx, j * 2 + 1, 2))::BIGINT AS byte
        |  FROM m CROSS JOIN (SELECT unnest(range(4, 32)) AS j) _j),
        |e AS (SELECT media_id, t, (byte + t) % 16 AS bin, count(*) AS cnt
        |  FROM b CROSS JOIN (SELECT unnest(range(0, 2)) AS t) _t
        |  GROUP BY 1, 2, 3),
        |dims AS (SELECT m.media_id, t, bin FROM m
        |  CROSS JOIN (SELECT unnest(range(0, 2)) AS t) _t
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) _b),
        |v AS (SELECT d.media_id, d.t * 16 + d.bin AS idx, CAST(coalesce(e.cnt, 0) AS DOUBLE) AS x
        |  FROM dims d LEFT JOIN e ON d.media_id = e.media_id AND d.t = e.t AND d.bin = e.bin),
        |p AS (SELECT q.media_id AS vec_id, i.media_id AS item_id, sum(q.x * i.x) AS score
        |  FROM v q JOIN v i ON q.idx = i.idx
        |  WHERE q.media_id % 10 = 0 AND i.media_id % 10 != 0
        |  GROUP BY 1, 2),
        |r AS (SELECT vec_id, item_id, score,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, item_id) AS rank FROM p)
        |SELECT vec_id, CAST(rank AS INTEGER) AS rank, item_id, score FROM r
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    "multimodal_neardup" ->
      """WITH m AS (SELECT doc_id AS media_id, md5(text) || md5(source) AS hx FROM documents),
        |b AS (SELECT media_id, ('0x' || substr(hx, j * 2 + 1, 2))::BIGINT AS byte
        |  FROM m CROSS JOIN (SELECT unnest(range(4, 32)) AS j) _j),
        |e AS (SELECT media_id, t, (byte + t) % 16 AS bin, count(*) AS cnt
        |  FROM b CROSS JOIN (SELECT unnest(range(0, 2)) AS t) _t
        |  GROUP BY 1, 2, 3),
        |dims AS (SELECT m.media_id, t, bin FROM m
        |  CROSS JOIN (SELECT unnest(range(0, 2)) AS t) _t
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) _b),
        |v AS (SELECT d.media_id, d.t * 16 + d.bin AS idx, CAST(coalesce(e.cnt, 0) AS DOUBLE) AS x
        |  FROM dims d LEFT JOIN e ON d.media_id = e.media_id AND d.t = e.t AND d.bin = e.bin),
        |vv AS (SELECT media_id, list(x ORDER BY idx) AS vec FROM v GROUP BY 1),
        |p AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CASE WHEN sqrt(list_inner_product(a.vec, a.vec)) * sqrt(list_inner_product(b.vec, b.vec)) = 0
        |    THEN 0.0
        |    ELSE list_inner_product(a.vec, b.vec) /
        |      (sqrt(list_inner_product(a.vec, a.vec)) * sqrt(list_inner_product(b.vec, b.vec))) END AS cosine
        |  FROM vv a JOIN vv b ON a.media_id < b.media_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    "op_topk_retrieval" ->
      """SELECT vec_id, rank, item_id, score FROM (
        |SELECT q.vec_id AS vec_id, i.vec_id AS item_id,
        |list_inner_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[]) AS score,
        |row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_inner_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[]) DESC, i.vec_id) AS rank
        |FROM embeddings q, embeddings i WHERE q.label=0 AND i.label<>0)
        |WHERE rank<=10 ORDER BY vec_id, rank""".stripMargin,
    "op_ann_ivf_full" ->
      """SELECT vec_id, rank, item_id, score FROM (
        |SELECT q.vec_id AS vec_id, i.vec_id AS item_id,
        |list_inner_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[]) AS score,
        |row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_inner_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[]) DESC, i.vec_id) AS rank
        |FROM embeddings q, embeddings i WHERE q.label=0 AND i.label<>0)
        |WHERE rank<=10 ORDER BY vec_id, rank""".stripMargin,
    // full-probe + nominate-all PQ degenerates to the same brute-force
    // top-k as op_ann_ivf_full (the refine re-rank scores EXACT dots)
    "op_ann_pq_exact" ->
      """SELECT vec_id, rank, item_id, score FROM (
        |SELECT q.vec_id AS vec_id, i.vec_id AS item_id,
        |list_inner_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[]) AS score,
        |row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_inner_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[]) DESC, i.vec_id) AS rank
        |FROM embeddings q, embeddings i WHERE q.label=0 AND i.label<>0)
        |WHERE rank<=10 ORDER BY vec_id, rank""".stripMargin,
    "op_standard_scale" ->
      """WITH c AS (SELECT c_custkey, CAST(round(c_acctbal*100) AS BIGINT) AS cents FROM customer),
        |s AS (SELECT count(cents) AS n, CAST(sum(cents) AS BIGINT) AS s1,
        |CAST(sum(cents*cents) AS BIGINT) AS s2 FROM c)
        |SELECT c_custkey, cents,
        |CAST(floor((cents - CAST(s1 AS DOUBLE)/n)
        |  / sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
        |  * 10000) AS BIGINT) AS scaled_bp
        |FROM c, s ORDER BY c_custkey""".stripMargin,
    "op_interval_join" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  event_type FROM events),
        |w AS (SELECT user_id, ts_s AS w_start, ts_s + 300 AS w_end, event_id AS click_id
        |  FROM ev WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_s, w.w_start, w.w_end, w.click_id
        |FROM p JOIN w ON p.user_id = w.user_id
        |  AND w.w_start <= p.ts_s AND p.ts_s < w.w_end
        |ORDER BY p.event_id, w.click_id""".stripMargin,
    "op_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  event_type, CAST(round(value*100) AS BIGINT) AS value_cents FROM events),
        |profile AS (SELECT user_id, ts_s, max(value_cents) AS profile_cents FROM ev
        |  WHERE event_type = 'click' GROUP BY 1, 2),
        |req AS (SELECT event_id, user_id, ts_s FROM ev WHERE event_type <> 'click')
        |SELECT r.event_id, r.user_id, r.ts_s, p.profile_cents
        |FROM req r ASOF LEFT JOIN profile p
        |  ON r.user_id = p.user_id AND p.ts_s <= r.ts_s
        |ORDER BY r.event_id""".stripMargin,
    "op_concat_select_tags" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |  CAST(round(c_acctbal*100) AS BIGINT) AS cents FROM customer),
        |dict AS (SELECT c_mktsegment,
        |  CAST(row_number() OVER (ORDER BY count(*) DESC, c_mktsegment) - 1 AS INTEGER) AS idx
        |  FROM c GROUP BY c_mktsegment),
        |s AS (SELECT count(cents) AS n, CAST(sum(cents) AS BIGINT) AS s1,
        |  CAST(sum(cents*cents) AS BIGINT) AS s2 FROM c)
        |SELECT c_custkey AS requestId,
        |CAST(floor((cents - CAST(s1 AS DOUBLE)/n)
        |  / sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
        |  * 10000) AS BIGINT) AS scaled_bp,
        |d.idx AS c_mktsegment_idx
        |FROM c JOIN dict d USING (c_mktsegment), s ORDER BY requestId""".stripMargin,
    "op_sample_frames" ->
      """SELECT doc_id AS media_id, CAST(f.i AS INTEGER) AS frame_idx,
        |upper(substring(md5(text) || md5(source), CAST(f.i*16+1 AS INTEGER), 16)) AS frame_hex
        |FROM documents, (SELECT unnest(range(0, 4, 2)) AS i) f
        |ORDER BY media_id, frame_idx""".stripMargin,
    "multimodal_decode" ->
      """WITH m AS (SELECT doc_id AS media_id, md5(text) AS h1, md5(source) AS h2
        |  FROM documents),
        |digits AS (
        |  SELECT media_id, ('0x' || substring(h1, 2*i.i + 2, 1))::INT AS bin
        |  FROM m, (SELECT unnest(range(4, 16)) AS i) i
        |  UNION ALL
        |  SELECT media_id, ('0x' || substring(h2, 2*j.j + 2, 1))::INT AS bin
        |  FROM m, (SELECT unnest(range(0, 16)) AS j) j),
        |counts AS (SELECT media_id, bin, count(*) AS n FROM digits GROUP BY 1, 2),
        |grid AS (SELECT media_id, h1, b.bin
        |  FROM m, (SELECT unnest(range(0, 16)) AS bin) b)
        |SELECT g.media_id,
        |  ('0x' || substring(g.h1, 1, 4))::INT AS width,
        |  ('0x' || substring(g.h1, 5, 4))::INT AS height,
        |  CAST(g.bin + 1 AS INTEGER) AS bin,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS cnt
        |FROM grid g
        |LEFT JOIN counts c ON c.media_id = g.media_id AND c.bin = g.bin
        |ORDER BY g.media_id, g.bin""".stripMargin,
    "op_salted_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |CAST(l_quantity AS BIGINT) AS qty, p_brand, p_type
        |FROM lineitem JOIN part ON p_partkey=l_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_salted_join_skew" ->
      """WITH f AS (SELECT
        |  CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_partkey % 1000 END AS skew_key,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |d AS (SELECT range AS skew_key, range % 7 AS dim_grp FROM range(0, 1000))
        |SELECT dim_grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM f JOIN d USING (skew_key)
        |GROUP BY dim_grp ORDER BY dim_grp""".stripMargin,
    "op_pipeline_ensemble" ->
      """SELECT p_brand, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON p_partkey=l_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "op_softmax_sampling" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS requestId, o_orderkey,
        |    o_totalprice/100000 AS rel
        |  FROM orders JOIN lineitem ON o_orderkey=l_orderkey),
        |pos AS (
        |  SELECT requestId, o_orderkey, rel,
        |    row_number() OVER (PARTITION BY requestId ORDER BY o_orderkey, rel) - 1 AS i
        |  FROM pairs),
        |keyed AS (
        |  SELECT requestId, o_orderkey, rel,
        |    -ln((('0x' || substring(md5(requestId::VARCHAR || ':' || i::VARCHAR || ':42'),
        |      1, 8))::BIGINT + 0.5) / 4294967296.0) / exp(20.0 * rel) AS k
        |  FROM pos)
        |SELECT requestId, CAST(rank AS INTEGER) AS rank, item_id, score FROM (
        |  SELECT requestId, o_orderkey AS item_id, rel AS score,
        |    row_number() OVER (PARTITION BY requestId ORDER BY k, o_orderkey) AS rank
        |  FROM keyed)
        |WHERE rank <= 10 ORDER BY requestId, rank""".stripMargin,
    "op_weighted_sample" ->
      """SELECT doc_id, lang, n_chars, CAST(rn AS INTEGER) AS sample_rank FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY -ln(u) / CAST(n_chars AS DOUBLE) ASC, doc_id ASC) AS rn
        |  FROM (
        |    SELECT doc_id, lang, n_chars,
        |      (('0x' || substring(md5(doc_id::VARCHAR || ':graft-wsample'), 1, 8))::BIGINT + 0.5)
        |        / 4294967296.0 AS u
        |    FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0))
        |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    "op_upsample_mix" ->
      """SELECT doc_id, lang, CAST(unnest(range(0, copies)) AS INTEGER) AS epoch
        |FROM (
        |  SELECT doc_id, lang, w // 10000 + CASE WHEN b < w % 10000 THEN 1 ELSE 0 END AS copies
        |  FROM (
        |    SELECT doc_id, lang,
        |      ('0x' || substring(md5(doc_id::VARCHAR || ':graft-mix'), 1, 8))::BIGINT % 10000 AS b,
        |      CASE lang WHEN 'en' THEN 25000 WHEN 'de' THEN 10000
        |        WHEN 'zh' THEN 15000 ELSE 5000 END AS w
        |    FROM documents))
        |ORDER BY doc_id, epoch""".stripMargin,
    "op_stratified_sample" ->
      """SELECT doc_id, lang, b AS sample_bucket FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substring(md5(doc_id::VARCHAR || ':graft-sample'), 1, 8))::BIGINT % 10000 AS b
        |  FROM documents)
        |WHERE b < CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
        |  WHEN 'zh' THEN 2000 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,
    "op_negative_sampling" ->
      """WITH cat AS (
        |  SELECT p_partkey AS item, row_number() OVER (ORDER BY p_partkey) - 1 AS idx
        |  FROM part WHERE p_partkey IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM cat),
        |pos AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 45),
        |cand AS (
        |  SELECT user_id, item_id, t,
        |    ('0x' || substring(md5(user_id::VARCHAR || ':' || item_id::VARCHAR
        |      || ':' || t::VARCHAR || ':graft-neg'), 1, 8))::BIGINT
        |      % (SELECT n FROM n) AS idx
        |  FROM pos CROSS JOIN (SELECT unnest(range(0, 9)) AS t)),
        |unseen AS (
        |  SELECT c.user_id, c.item_id, c.t, cat.item AS neg
        |  FROM cand c JOIN cat ON c.idx = cat.idx
        |  WHERE NOT EXISTS (SELECT 1 FROM pos p
        |    WHERE p.user_id = c.user_id AND p.item_id = cat.item)),
        |dedup AS (
        |  SELECT user_id, item_id, t, neg, row_number() OVER (
        |    PARTITION BY user_id, item_id, neg ORDER BY t) AS f FROM unseen)
        |SELECT user_id, item_id, neg AS neg_item, CAST(rn AS INTEGER) AS neg_rank
        |FROM (
        |  SELECT user_id, item_id, neg, row_number() OVER (
        |    PARTITION BY user_id, item_id ORDER BY t) AS rn
        |  FROM dedup WHERE f = 1)
        |WHERE rn <= 3 ORDER BY user_id, item_id, neg_rank""".stripMargin,
    "pipeline_ranking" ->
      """WITH cat AS (
        |  SELECT p_partkey AS item, row_number() OVER (ORDER BY p_partkey) - 1 AS idx
        |  FROM part WHERE p_partkey IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM cat),
        |pos AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 45),
        |cand AS (
        |  SELECT user_id, item_id, t,
        |    ('0x' || substring(md5(user_id::VARCHAR || ':' || item_id::VARCHAR
        |      || ':' || t::VARCHAR || ':graft-neg'), 1, 8))::BIGINT
        |      % (SELECT n FROM n) AS idx
        |  FROM pos CROSS JOIN (SELECT unnest(range(0, 9)) AS t)),
        |unseen AS (
        |  SELECT c.user_id, c.item_id, c.t, cat.item AS neg
        |  FROM cand c JOIN cat ON c.idx = cat.idx
        |  WHERE NOT EXISTS (SELECT 1 FROM pos p
        |    WHERE p.user_id = c.user_id AND p.item_id = cat.item)),
        |dedup AS (
        |  SELECT user_id, item_id, t, neg, row_number() OVER (
        |    PARTITION BY user_id, item_id, neg ORDER BY t) AS f FROM unseen),
        |negs AS (
        |  SELECT user_id, item_id, neg AS cand_id FROM (
        |    SELECT user_id, item_id, neg, row_number() OVER (
        |      PARTITION BY user_id, item_id ORDER BY t) AS rn
        |    FROM dedup WHERE f = 1)
        |  WHERE rn <= 3),
        |examples AS (
        |  SELECT user_id, item_id, item_id AS cand_id, 1 AS label FROM pos
        |  UNION ALL
        |  SELECT user_id, item_id, cand_id, 0 AS label FROM negs)
        |SELECT e.user_id, e.item_id, e.cand_id, e.label, p.p_brand,
        |  CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_cents,
        |  CASE WHEN b < 9000 THEN 'train' WHEN b < 9500 THEN 'valid'
        |    ELSE 'test' END AS split
        |FROM (
        |  SELECT *, ('0x' || substring(md5(user_id::VARCHAR || '#' || cand_id::VARCHAR
        |    || '#' || label::VARCHAR || ':graft-split'), 1, 8))::BIGINT % 10000 AS b
        |  FROM examples) e
        |LEFT JOIN part p ON e.cand_id = p.p_partkey
        |ORDER BY user_id, item_id, cand_id""".stripMargin,
    "op_quantize_embeddings" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xm
        |  FROM embeddings),
        |m AS (SELECT vec_id, xm, list_min(xm) AS mn, list_max(xm) AS mx FROM q)
        |SELECT vec_id, mn AS mn_micros, mx AS mx_micros,
        |  CAST(unnest(range(0, len(xm))) AS INTEGER) AS pos,
        |  CAST(CASE WHEN mx > mn
        |    THEN floor(CAST(unnest(xm) - mn AS DOUBLE) * 255 / CAST(mx - mn AS DOUBLE))
        |    ELSE 0 END AS INTEGER) AS code
        |FROM m ORDER BY vec_id, pos""".stripMargin,
    "op_materialize_view" ->
      """WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |  event_id, CAST(round(value*100) AS BIGINT) AS value_cents FROM events)
        |SELECT user_id, ts_s, event_id, value_cents FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_s DESC, event_id DESC) AS rn FROM ev)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)
}
