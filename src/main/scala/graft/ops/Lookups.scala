package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.broadcast.Broadcast
import graft.core.{EnsembleOp, Tags}
import graft.functions.{FastExpressions, KeyedTable}

/** Point-lookup equi-join against a feature table — the Spark-native
  * `QueryFeast` (/root/reference/merlin/systems/dag/ops/feast.py:196-279):
  * for each entity id, fetch its feature row; optional output prefix and
  * id passthrough; multi-hot features are plain ArrayType columns (the
  * values/offsets encoding disappears, SURVEY.md §1.5).
  *
  * The feature view is broadcast: at 100 TB the request side streams
  * map-side with zero shuffle as long as the dim table fits in executors;
  * for giant feature tables drop the hint and let AQE pick shuffle-hash.
  *
  * Resident serving: [[withResidentTable]] (called by
  * [[graft.core.EnsemblePersistence.load]]) collects the view once into
  * a broadcast key → row [[graft.functions.KeyedTable]]; `transform`
  * then fetches each feature with a per-row
  * [[graft.functions.KeyedLookup]] — a projection, no join, and the
  * feature parquet is never re-read per request. Only with
  * `broadcastDim`, a join-exact key type, unique non-null-keyed rows
  * (a duplicated key would make the join emit one row per match) and a
  * view within `spark.sql.autoBroadcastJoinThreshold`; otherwise, and
  * for in-memory graphs, the join below serves.
  *
  * Edge semantics (EdgeCaseSpec pins these): an EMPTY request batch yields
  * an empty result with the declared schema — the reference raises here
  * (feast.py:215-219) because Feast's RPC needs at least one id, but a
  * distributed plan runs empty partitions routinely, so empty-in →
  * empty-out is the only composable choice. A NULL entity id keeps its
  * row with null features (left-join semantics); unmatched ids likewise.
  */
case class QueryFeatureStore(
    features: DataFrame,
    entityCol: String,
    featureCols: Seq[String] = Seq.empty,
    includeId: Boolean = false,
    outputPrefix: String = "",
    broadcastDim: Boolean = true,
    resident: Option[Broadcast[KeyedTable]] = None) extends EnsembleOp {

  private def feats: Seq[String] =
    if (featureCols.nonEmpty) featureCols
    else features.schema.fieldNames.filterNot(_ == entityCol).toSeq

  // Fetched columns carry dtype-derived tags (continuous/categorical/
  // embedding) in their metadata, like the reference's feature schema.
  private def featField(c: String): StructField = {
    val f = features.schema(c)
    f.copy(name = outputPrefix + c,
      metadata = Tags.metadataFor(Tags.forType(f.dataType), f.metadata))
  }

  private def view: DataFrame =
    features.select(col(entityCol) +:
      feats.map(c => col(c).as(outputPrefix + c, featField(c).metadata)): _*)

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, entityCol)
    feats.foreach { c =>
      require(features.schema.fieldNames.contains(c),
        s"$name: feature '$c' not in feature table")
      // fail at schema time, not as a downstream AMBIGUOUS_REFERENCE: a
      // request column with the same (prefixed) name would duplicate in
      // the joined frame (the PointInTimeJoin contract, applied here)
      require(!in.fieldNames.contains(outputPrefix + c),
        s"$name: output column '${outputPrefix + c}' collides with the " +
          "request schema — set outputPrefix")
    }
    val joined = StructType(in ++ feats.map(featField))
    if (includeId) joined else StructType(joined.filterNot(_.name == entityCol))
  }

  /** This op with its view held resident (see the class doc); itself
    * when the view does not qualify. One collect job. */
  def withResidentTable: QueryFeatureStore =
    if (!broadcastDim) this
    else Resident.keyedTable(view).fold(this)(t => copy(resident = Some(t)))

  override def transform(df: DataFrame): DataFrame = {
    val joined = resident.filter(t => servesResident(t.value, df)) match {
      case Some(t) =>
        // the USING join's column order: key, other request columns, features
        val in = Resident.boundary(df)
        in.select((col(entityCol) +:
          in.columns.filterNot(_ == entityCol).map(c => col("`" + c.replace("`", "``") + "`"))) ++
          feats.zipWithIndex.map { case (c, i) =>
            FastExpressions.keyedLookup(col(entityCol), t, i + 1)
              .as(outputPrefix + c, featField(c).metadata)
          }: _*)
      case None =>
        val v = if (broadcastDim) broadcast(view) else view
        df.join(v, Seq(entityCol), "left")
    }
    if (includeId) joined else joined.drop(entityCol)
  }

  /** The table was built for this op's view, and request keys compare
    * with its keys the way the join's coerced keys would. */
  private def servesResident(t: KeyedTable, df: DataFrame): Boolean =
    t.schema.fieldNames.toSeq == (entityCol +: feats.map(outputPrefix + _)) &&
      KeyedTable.compatible(df.schema(entityCol).dataType, t.schema.head.dataType)
}

/** Point-in-time (as-of) feature join — the OFFLINE twin of
  * [[QueryFeatureStore]]: for each request row (entity, ts), attach the
  * feature values as of the LATEST feature row with `feature.ts <=
  * request.ts` (Feast's point-in-time correctness when building training
  * sets — the online op serves only the current snapshot; this one never
  * leaks future features into a training example).
  *
  * Spark has no native as-of join, so this is the union-sort pattern
  * (custom-op preference (a): compose existing ops): tag request/feature
  * rows, union on the entity key, and last-observation-carry-forward each
  * feature over a PARTITIONED window ordered by (ts, isRequest) — one
  * shuffle on the entity key, linear in rows, never a global window and
  * never the request×featureVersions pair blowup of a naive join+max.
  * Features at exactly the request ts are visible (`<=`, the DuckDB
  * ASOF JOIN the oracle uses). Feature rows must be unique per
  * (entity, ts) — pre-aggregate otherwise, or ties resolve arbitrarily.
  */
case class PointInTimeJoin(
    features: DataFrame,
    entityCol: String,
    tsCol: String,
    featureCols: Seq[String] = Seq.empty,
    outputPrefix: String = "") extends EnsembleOp {

  private def feats: Seq[String] =
    if (featureCols.nonEmpty) featureCols
    else features.schema.fieldNames.filterNot(c => c == entityCol || c == tsCol).toSeq

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, entityCol); requireCol(in, tsCol)
    feats.foreach { c =>
      require(features.schema.fieldNames.contains(c),
        s"$name: feature '$c' not in feature table")
      require(!in.fieldNames.contains(outputPrefix + c),
        s"$name: output column '${outputPrefix + c}' collides with the request schema")
    }
    StructType(in ++ feats.map(c =>
      features.schema(c).copy(name = outputPrefix + c, nullable = true)))
  }

  override def transform(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pf = features.select(
      col(entityCol) +: col(tsCol) +: feats.map(c => col(c).as(outputPrefix + c)): _*)
      .withColumn("__pit_req", lit(0))
    val rq = df.withColumn("__pit_req", lit(1))
    val unioned = rq.unionByName(pf, allowMissingColumns = true)
    // feature rows sort before request rows at equal ts → "<=" visibility
    val w = Window.partitionBy(entityCol).orderBy(col(tsCol), col("__pit_req"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry the latest feature ROW as one struct (ASOF semantics, what
    // the DuckDB oracle computes): filling each column independently
    // with last(ignoreNulls) would resurrect older values through a
    // NULL in the latest row and could stitch together a feature row
    // that never existed. A feature row's struct is non-null even when
    // every field is null, so a null field correctly shadows history;
    // one window pass instead of one per feature column, too.
    val filled = unioned
      .withColumn("__pit_row", when(col("__pit_req") === 0,
        struct(feats.map(c => col(outputPrefix + c)): _*)))
      .withColumn("__pit_row", last(col("__pit_row"), ignoreNulls = true).over(w))
    val out = feats.foldLeft(filled)((d, c) =>
      d.withColumn(outputPrefix + c, col("__pit_row").getField(outputPrefix + c)))
    out.filter(col("__pit_req") === 1).drop("__pit_req", "__pit_row")
  }
}

/** Incremental feature-view materialization — the refresh job behind
  * [[QueryFeatureStore]]'s online table (Feast's
  * `materialize_incremental`, reference feast.py:167-169: the online
  * store holds the LATEST feature row per entity; this op builds that
  * snapshot). Input = the current snapshot, `updates` = the new feature
  * log batch; output = one row per key set: the row with the greatest
  * `(orderCol, tieCol)` across both. Because "latest" is associative,
  * incremental refresh is exact: materializing base ∪ updates equals
  * materializing the full history in one shot (pinned in CoreOpsSpec),
  * so snapshots can be folded forward batch after batch forever.
  *
  * Scale: one shuffle on the entity key; the max-per-key runs as a
  * per-key window over that exchange — never global, linear in rows.
  * The tie column makes the order total, so the snapshot is
  * deterministic (an untied `ts` would pick an arbitrary same-ts row).
  */
case class MaterializeFeatureView(
    updates: DataFrame,
    keyCols: Seq[String],
    orderCol: String,
    tieCol: String) extends EnsembleOp {

  require(keyCols.nonEmpty, s"$name: at least one key column required")

  override def transformSchema(in: StructType): StructType = {
    (keyCols :+ orderCol :+ tieCol).foreach(requireCol(in, _))
    // compare (name, type) pairs, not just names: a dtype mismatch must
    // fail here with this op's message, not later inside unionByName
    def sig(s: StructType) = s.map(f => (f.name, f.dataType.simpleString)).sortBy(_._1)
    require(sig(updates.schema) == sig(in),
      s"$name: updates schema ${updates.schema.simpleString} must carry the " +
        s"same columns and types as the snapshot ${in.simpleString}")
    in
  }

  override def transform(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(desc(orderCol), desc(tieCol))
    base.unionByName(updates.select(base.columns.map(col).toSeq: _*))
      .withColumn("__mv_rn", row_number().over(w))
      .filter(col("__mv_rn") === 1)
      .drop("__mv_rn")
  }
}

/** Embedding lookup by id (NumpyEmbeddingOperator,
  * /root/reference/tests/unit/systems/ops/embedding_op.py:26-57):
  * broadcast join of a `(id, vector)` table onto request rows. */
case class EmbeddingLookup(
    embeddings: DataFrame,
    idCol: String,
    embIdCol: String = "vec_id",
    embCol: String = "embedding",
    outputCol: String = "embedding") extends EnsembleOp {

  private def outMeta =
    Tags.metadataFor(Seq(Tags.Embedding), embeddings.schema(embCol).metadata)

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, idCol)
    require(embeddings.schema(embCol).dataType.isInstanceOf[ArrayType],
      s"$name: $embCol must be an array column")
    StructType(in :+ embeddings.schema(embCol).copy(name = outputCol, metadata = outMeta))
  }

  override def transform(df: DataFrame): DataFrame =
    df.join(
      broadcast(embeddings.select(col(embIdCol).as(idCol), col(embCol).as(outputCol, outMeta))),
      Seq(idCol), "left")
}

/** Frequency-ordered categorical encoding — the Categorify stage of
  * `TransformWorkflow` (/root/reference/merlin/systems/dag/ops/workflow.py;
  * SURVEY.md §2.1 maps it to StringIndexer). Implemented natively so the
  * code assignment is fully deterministic and oracle-checkable: code =
  * dense rank of (frequency DESC, value ASC) − 1; unseen/null → −1.
  *
  * The mapping is a groupBy over distinct values only (tiny vs the data)
  * and is broadcast back — two narrow shuffles of the dictionary, none of
  * the fact table. Ranking the dictionary uses a range-partitioned sort +
  * `zipWithIndex` — NOT a global window, which would funnel every distinct
  * value through one partition (fatal exactly when Categorify matters:
  * high-cardinality ids/URLs, NVTabular's main use).
  */
case class Categorify(cols: Seq[String], suffix: String = "_idx",
    broadcastBudgetBytes: Long = 1L << 30) extends FittableOp {

  override def transformSchema(in: StructType): StructType = {
    cols.foreach(requireCol(in, _))
    StructType(in ++ cols.map(c => StructField(c + suffix, IntegerType,
      metadata = Tags.metadataFor(Seq(Tags.Categorical)))))
  }

  /** The frequency-ranked dictionary for one column: (value, code). The
    * sort is a parallel range-partitioned exchange; zipWithIndex assigns
    * contiguous codes in partition order (= global sort order) with one
    * extra count job, all at dictionary (distinct-value) scale. */
  private[graft] def dictionary(df: DataFrame, c: String): DataFrame = {
    val sorted = df.filter(col(c).isNotNull).groupBy(c).agg(count(lit(1)).as("cnt"))
      .sort(desc("cnt"), asc(c)).select(col(c))
    val schema = StructType(sorted.schema :+ StructField(c + suffix, IntegerType, nullable = false))
    sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        // int codes are the declared output type; past 2^31 codes toInt
        // would silently wrap negative — that cardinality regime belongs
        // to the stateless HashBucket, so fail loudly here
        require(i <= Int.MaxValue,
          s"Categorify: column '$c' exceeds ${Int.MaxValue} distinct " +
            "values — use HashBucket for ultra-high-cardinality columns")
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i.toInt) },
      schema)
  }

  override def transform(df: DataFrame): DataFrame = {
    val encoded = cols.foldLeft(df) { (d, c) =>
      // size-gated like every fitted-dictionary join (an unconditional
      // broadcast of a 100M-value URL dictionary kills the driver)
      d.join(SizeGate.gateGrouped(dictionary(df, c), c,
          valueBytes = 4L, broadcastBudgetBytes), Seq(c), "left")
        .withColumn(c + suffix, coalesce(col(c + suffix), lit(-1)))
    }
    Tags.tag(encoded, cols.map(c => (c + suffix) -> Seq(Tags.Categorical)): _*)
  }

  /** Fit the frequency dictionaries once (rank job + gate job per column,
    * at dictionary scale) → join-only bound serving. */
  override def fit(df: DataFrame, artifactDir: Option[String] = None): EnsembleOp =
    CategorifyBound(cols, suffix, cols.map { c =>
      val dict = FittedState.stabilize(dictionary(df, c), artifactDir,
        s"categorify_$c")
      c -> (dict, FittedState.broadcastDecision(dict, c, valueBytes = 4L,
        broadcastBudgetBytes))
    }.toMap)

  /** Exact per-column cardinalities + suggested embedding dims — the
    * reference's `get_embedding_sizes` (workflow/__init__.py:18-65). One
    * aggregate job for all columns; at 100 TB this is a partial-agg
    * count-distinct, never a collect of values. */
  def embeddingSizes(df: DataFrame): Map[String, (Long, Long)] = {
    val aggs = cols.map(c => countDistinct(col(c)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      val card = row.getLong(i)
      (c + suffix) -> ((card, Tags.defaultDim(card)))
    }.toMap
  }

  /** Transform + attach `graft.cardinality`/`graft.dimension` properties to
    * each encoded column (fitted-workflow metadata in the reference). */
  def transformWithSizes(df: DataFrame): DataFrame = {
    val sizes = embeddingSizes(df)
    val out = transform(df)
    out.select(out.schema.map { f =>
      sizes.get(f.name) match {
        case Some((card, dim)) =>
          col(f.name).as(f.name, Tags.metadataFor(Seq(Tags.Categorical), f.metadata,
            Map(Tags.CardinalityKey -> card, Tags.DimensionKey -> dim)))
        case None => col(f.name)
      }
    }: _*)
  }
}

/** Standard scaling of continuous columns (the normalize stage of
  * `TransformWorkflow`). Fit = one aggregate row broadcast back onto the
  * data — no driver-side collect, so it holds at any scale.
  *
  * For integral input columns the moments are exact integer sums
  * (`sum(x)`, `sum(x*x)`, `count`) — order-independent, hence
  * bit-deterministic across engines and partitionings (the fixed-point
  * trick: feed money as cents). Double columns fall back to
  * `avg`/`stddev_pop`, whose partial-agg order is unspecified. */
case class StandardScale(cols: Seq[String], suffix: String = "_scaled") extends FittableOp {

  override def transformSchema(in: StructType): StructType = {
    cols.foreach(requireCol(in, _))
    StructType(in ++ cols.map(c => StructField(c + suffix, DoubleType,
      metadata = Tags.metadataFor(Seq(Tags.Continuous)))))
  }

  private def integralCols(df: DataFrame): Set[String] =
    cols.filter(c => df.schema(c).dataType match {
      case _: LongType | _: IntegerType | _: ShortType | _: ByteType => true
      case _ => false
    }).toSet

  private def momentAggs(integral: Set[String]): Seq[Column] =
    cols.flatMap { c =>
      // square and sum in DECIMAL(38,0): the product in the input's own
      // type wraps at ~46k for ints and ~3e9 for longs (x*x per ROW, not
      // the sum) and silently corrupts mean/std; decimal keeps the sums
      // exact up to Σx² < 10^38 — far past any realistic fixed-point
      // feature — and still derives the same double mean/std
      if (integral(c)) Seq(
        sum(col(c).cast("decimal(38,0)")).as(s"__s1_$c"),
        sum(col(c).cast("decimal(38,0)") * col(c).cast("decimal(38,0)"))
          .as(s"__s2_$c"),
        count(col(c)).as(s"__n_$c"))
      else Seq(
        avg(col(c)).as(s"__mean_$c"), stddev_pop(col(c)).as(s"__std_$c"))
    }

  override def transform(df: DataFrame): DataFrame = {
    val integral = integralCols(df)
    val aggs = momentAggs(integral)
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val scaled0 = cols.foldLeft(joined) { (d, c) =>
      if (integral(c)) {
        // exact long sums → identical double math in any engine
        val mean = col(s"__s1_$c").cast("double") / col(s"__n_$c")
        val std = sqrt(col(s"__s2_$c").cast("double") / col(s"__n_$c") - mean * mean)
        d.withColumn(c + suffix,
          (col(c) - mean) / when(std === 0, 1.0).otherwise(std))
      } else {
        d.withColumn(c + suffix,
          (col(c) - col(s"__mean_$c")) / when(col(s"__std_$c") === 0, 1.0).otherwise(col(s"__std_$c")))
      }
    }
    val scaled = scaled0.drop(cols.flatMap(c =>
      Seq(s"__mean_$c", s"__std_$c", s"__s1_$c", s"__s2_$c", s"__n_$c")): _*)
    Tags.tag(scaled, cols.map(c => (c + suffix) -> Seq(Tags.Continuous)): _*)
  }

  /** Fit the moments once → a pure literal projection at serve. The
    * mean/std doubles are derived with the SAME operations the broadcast
    * plan evaluates (decimal→double cast, double divide, Math.sqrt), so
    * bound outputs are bit-identical to the unfitted op's. */
  override def fit(df: DataFrame, artifactDir: Option[String] = None): EnsembleOp = {
    val integral = integralCols(df)
    val aggs = momentAggs(integral)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val moments = cols.map { c =>
      if (integral(c)) {
        val n = row.getAs[Long](s"__n_$c")
        require(n > 0, s"$name: column '$c' is empty — no moments to fit")
        val mean = row.getAs[java.math.BigDecimal](s"__s1_$c").doubleValue() / n
        val std = math.sqrt(
          row.getAs[java.math.BigDecimal](s"__s2_$c").doubleValue() / n - mean * mean)
        c -> (mean, std)
      } else {
        require(!row.isNullAt(row.fieldIndex(s"__mean_$c")),
          s"$name: column '$c' is entirely null — no moments to fit")
        c -> (row.getAs[Double](s"__mean_$c"), row.getAs[Double](s"__std_$c"))
      }
    }.toMap
    StandardScaleBound(cols, suffix, moments)
  }
}

/** Fixed-split feature binning — NVTabular's `Bucketize` inside
  * TransformWorkflow (reference workflow stages, workflow.py:86-112;
  * SURVEY §2.1 maps bucketing to Spark's Bucketizer). Bin index = number
  * of split points <= x, giving bins (-inf,s0), [s0,s1), …, [sk,+inf) —
  * a row-local sum of comparisons: shuffle-free, codegen'd, and exactly
  * mirrored by a CASE-sum in the oracle SQL (no float rounding: bin
  * edges compare, they don't arithmetize). Null input → null bin.
  * Output columns carry the categorical tag plus the bin cardinality,
  * like [[Categorify]]. */
case class Bucketize(splits: Map[String, Seq[Double]], suffix: String = "_bucket")
    extends EnsembleOp {

  require(splits.nonEmpty && splits.values.forall(s =>
    s.nonEmpty && s == s.sorted && s.distinct == s),
    "Bucketize: each column needs a sorted list of distinct split points")

  private def meta(c: String) = Tags.metadataFor(Seq(Tags.Categorical),
    props = Map(Tags.CardinalityKey -> (splits(c).length + 1L)))

  override def transformSchema(in: StructType): StructType = {
    splits.keys.foreach(requireCol(in, _))
    StructType(in ++ splits.keys.toSeq.sorted.map(c =>
      StructField(c + suffix, IntegerType, metadata = meta(c))))
  }

  override def transform(df: DataFrame): DataFrame =
    splits.keys.toSeq.sorted.foldLeft(df) { (d, c) =>
      val bin = splits(c).map(s =>
        when(col(c) >= lit(s), 1).otherwise(0): Column).reduce(_ + _)
      d.withColumn(c + suffix,
        when(col(c).isNotNull, bin).as(c + suffix, meta(c)))
    }
}

/** Leak-free trailing time-window features per entity — the temporal
  * feature-engineering stage of a training-set pipeline (the offline
  * counterpart of the reference's Feast feature views, whose online
  * values are exactly such rolling aggregates refreshed in batch;
  * feast.py:31-118): for every event row, the COUNT and value SUM of
  * that entity's events in each trailing horizon, computed over
  * `(ts - horizon, ts)` EXCLUSIVE of the current timestamp, so the
  * feature never sees the label event or any same-instant peer — the
  * point-in-time-correctness rule [[PointInTimeJoin]] applies to stored
  * features, enforced here for derived ones.
  *
  * Spark shape: one `RANGE BETWEEN -h AND -1` window per horizon over a
  * SHARED (entity, ts) partitioning — Catalyst plans one exchange + one
  * sort, and per-frame aggregation is streaming (each frame is a sliding
  * suffix of the sorted run; no per-row rescans, no self-join). The
  * classic `events e1 JOIN events e2 ON e2.ts BETWEEN e1.ts - h AND
  * e1.ts - 1` formulation this replaces is O(rows × horizon-density) and
  * shuffles the fact table twice.
  *
  * `tsCol` must be a numeric (epoch-seconds-style) column: range frames
  * need value arithmetic, and integer seconds keep the frame bounds
  * exact cross-engine.
  */
case class TrailingWindowFeatures(
    entityCol: String,
    tsCol: String,
    valueCol: String,
    horizons: Seq[Long],
    suffix: String = "") extends EnsembleOp {
  import org.apache.spark.sql.expressions.Window

  require(horizons.nonEmpty, s"$name: need at least one horizon")
  require(horizons.forall(_ > 0), s"$name: horizons must be positive seconds")
  require(horizons.distinct.length == horizons.length,
    s"$name: duplicate horizons ${horizons.diff(horizons.distinct).mkString(",")}")

  private def nCol(h: Long) = s"n_${h}s$suffix"
  private def sumCol(h: Long) = s"sum_${h}s$suffix"

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, entityCol); requireCol(in, tsCol); requireCol(in, valueCol)
    require(in(tsCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$name: tsCol '$tsCol' must be numeric (epoch seconds), " +
        s"got ${in(tsCol).dataType.sql} — cast timestamps up front")
    require(in(valueCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$name: valueCol '$valueCol' must be numeric, got ${in(valueCol).dataType.sql}")
    horizons.foreach { h =>
      Seq(nCol(h), sumCol(h)).foreach(c => require(!in.fieldNames.contains(c),
        s"$name: output column '$c' collides with the input schema"))
    }
    // declare what sum() actually RETURNS: integrals widen to long,
    // float to double, decimal gains 10 digits of precision — declaring
    // the input type would hand downstream schema-time validation a type
    // the runtime then contradicts
    val sumT = in(valueCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | LongType => LongType
      case org.apache.spark.sql.types.FloatType | DoubleType => DoubleType
      case d: org.apache.spark.sql.types.DecimalType =>
        org.apache.spark.sql.types.DecimalType(math.min(38, d.precision + 10), d.scale)
      case other => other
    }
    StructType(in ++ horizons.flatMap(h => Seq(
      StructField(nCol(h), LongType, nullable = false),
      StructField(sumCol(h), sumT, nullable = true))))
  }

  override def transform(df: DataFrame): DataFrame = {
    val out = transformSchema(df.schema)
    // materialize the long cast ONCE: if each window spec carried its own
    // `cast(ts)` it would get a fresh internal alias per withColumn, the
    // specs would stop being syntactically equal, and Catalyst could
    // neither collapse the windows nor eliminate the redundant sorts —
    // 2 horizons would plan 4 sorts instead of 1 (measured; pinned in
    // TrailingWindowSpec)
    val base = df.withColumn("__tw_ts", col(tsCol).cast("long"))
    horizons.foldLeft(base) { (d, h) =>
      // -1 upper bound: strictly-before-ts visibility; RANGE (not ROWS)
      // so same-ts peers are excluded too — deterministic under ties
      val w = Window.partitionBy(entityCol).orderBy(col("__tw_ts"))
        .rangeBetween(-h, -1)
      d.withColumn(nCol(h), count(lit(1)).over(w))
        .withColumn(sumCol(h), sum(col(valueCol)).over(w))
    }.select(out.fieldNames.map(col).toSeq: _*)
  }
}
