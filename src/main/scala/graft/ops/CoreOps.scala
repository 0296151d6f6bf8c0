package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{EnsembleOp, Tags}
import graft.functions.{FastExpressions, ServingTail}

/** Column projection at graph roots (`["a"] >> op` in the reference;
  * SURVEY.md §2.2 → `df.select`). */
case class Selection(cols: Seq[String]) extends EnsembleOp {
  override def transformSchema(in: StructType): StructType = {
    cols.foreach(requireCol(in, _))
    StructType(cols.map(c => in(c)))
  }
  override def transform(df: DataFrame): DataFrame = df.select(cols.map(col): _*)
}

/** Tag-based column selection — the reference's
  * `schema.select_by_tag(Tags.CATEGORICAL)` feeding model inputs
  * (/root/reference/merlin/systems/workflow/base.py:50-51). Tags live in
  * `StructField.metadata` (see [[graft.core.Tags]]), so this is a plain
  * projection: zero cost at any scale, and Catalyst prunes the unselected
  * columns all the way down to the parquet scan. */
case class SelectByTag(tags: Seq[String], keep: Seq[String] = Seq.empty)
    extends EnsembleOp {
  private def picked(in: StructType): Seq[String] = {
    val byTag = Tags.columnsByTag(in, tags: _*)
    require(byTag.nonEmpty,
      s"$name: no columns tagged [${tags.mkString(",")}] in ${in.simpleString}")
    (keep.filterNot(byTag.contains) ++ byTag).toSeq
  }
  override def transformSchema(in: StructType): StructType = {
    keep.foreach(requireCol(in, _))
    StructType(picked(in).map(c => in(c)))
  }
  override def transform(df: DataFrame): DataFrame =
    df.select(picked(df.schema).map(col): _*)
}

/** Rename columns (NVTabular `Rename(postfix=...)`,
  * /root/reference/tests/unit/systems/dag/test_graph.py:32-50). */
case class Rename(mapping: Map[String, String]) extends EnsembleOp {
  override def transformSchema(in: StructType): StructType = {
    mapping.keys.foreach(requireCol(in, _))
    StructType(in.map(f => if (mapping.contains(f.name)) f.copy(name = mapping(f.name)) else f))
  }
  override def transform(df: DataFrame): DataFrame = df.withColumnsRenamed(mapping)
}

/** Column-wise union of two branch outputs keyed on the request id — the
  * reference's `node_a + node_b` ConcatColumns (SURVEY.md §2.2,
  * tests/unit/systems/dag/test_graph.py:53-62). Both branches must derive
  * from the same root, so the join key is the request lineage column. */
case class ConcatColumns(other: DataFrame, on: String = "requestId")
    extends EnsembleOp {
  override def transformSchema(in: StructType): StructType = {
    requireCol(in, on)
    require(other.schema.fieldNames.contains(on), s"$name: '$on' missing in other branch")
    val extra = other.schema.filterNot(f => in.fieldNames.contains(f.name))
    StructType(in ++ extra)
  }
  override def transform(df: DataFrame): DataFrame = {
    val extraCols = other.schema.fieldNames.filterNot(df.schema.fieldNames.contains)
    df.join(other.select((on +: extraCols.toSeq).map(col): _*), Seq(on))
  }
}

/** Anti-filter of one id array by another, preserving order and duplicates:
  * `candidate_ids.values[~np.isin(candidate_ids, filter_ids)]`
  * (/root/reference/merlin/systems/dag/ops/session_filter.py:142-162).
  *
  * One per-row kernel ([[graft.functions.AntiFilter]]) inside whole-stage
  * codegen — no shuffle; at 100 TB this runs map-side wherever the
  * candidates already live. The relational twin (ids as rows, not arrays)
  * is a `left_anti` join.
  */
case class FilterCandidates(
    inputCol: String = "candidate_ids",
    filterCol: String,
    outputCol: String = "filtered_ids") extends EnsembleOp {

  override def transformSchema(in: StructType): StructType = {
    val ci = requireCol(in, inputCol); requireCol(in, filterCol)
    (in(inputCol).dataType, in(filterCol).dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) =>
        require(a == b, s"$name: element types differ: $a vs $b")
      case (a, b) => throw new IllegalArgumentException(s"$name: need array columns, got $a / $b")
    }
    StructType(
      in.filterNot(f => f.name == inputCol || f.name == filterCol) :+
        in.fields(ci).copy(name = outputCol))
  }

  // A NULL filter array means "nothing to filter" (the reference's empty
  // np.isin set): a user missing a filter entry (e.g. from a left join)
  // keeps ALL candidates.
  override def transform(df: DataFrame): DataFrame =
    df.withColumn(outputCol, FastExpressions.antiFilter(col(inputCol), col(filterCol)))
      .drop(inputCol, filterCol)
}

/** [[FilterCandidates]] with an aligned score array: (id, score) pairs are
  * zipped, filtered together against the seen-set, and re-split — the
  * retrieval→filter hand-off of the reference's 4-stage ensemble where
  * faiss candidate scores must stay aligned with the surviving ids
  * (session_filter.py filtering the paired candidate block). Same
  * null-filter semantics as [[FilterCandidates]], through the same kernel;
  * a shorter ids or scores array is padded with nulls, as `arrays_zip`
  * pads it. Per-row and codegen'd, so it runs map-side wherever the
  * candidates live. */
case class FilterCandidatesWithScores(
    idsCol: String = "candidate_ids",
    scoresCol: String = "candidate_scores",
    filterCol: String,
    outIdsCol: String = "filtered_ids",
    outScoresCol: String = "filtered_scores") extends EnsembleOp {

  override def transformSchema(in: StructType): StructType = {
    val ii = requireCol(in, idsCol); val si = requireCol(in, scoresCol)
    requireCol(in, filterCol)
    require(in(idsCol).dataType.isInstanceOf[ArrayType] &&
      in(scoresCol).dataType.isInstanceOf[ArrayType],
      s"$name: $idsCol/$scoresCol must be arrays")
    (in(idsCol).dataType, in(filterCol).dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) =>
        require(a == b || (ServingTail.integral(a) && ServingTail.integral(b)),
          s"$name: element types differ: $a vs $b")
      case (_, b) => throw new IllegalArgumentException(s"$name: $filterCol must be an array, got $b")
    }
    StructType(
      in.filterNot(f => Set(idsCol, scoresCol, filterCol)(f.name)) ++ Seq(
        in.fields(ii).copy(name = outIdsCol),
        in.fields(si).copy(name = outScoresCol)))
  }

  // __kept is a REAL projected column referenced twice below, so the
  // kernel runs once instead of once per output column
  override def transform(df: DataFrame): DataFrame =
    df.withColumn("__kept",
        FastExpressions.antiFilter(col(idsCol), col(scoresCol), col(filterCol)))
      .withColumn(outIdsCol, col("__kept").getField("ids"))
      .withColumn(outScoresCol, col("__kept").getField("scores"))
      .drop(idsCol, scoresCol, filterCol, "__kept")
}

/** Weighted top-k sampling without replacement (Efraimidis–Spirakis
  * exponential-sort trick), matching the reference sampling distribution
  * exactly: the reference computes `w = exp(T*score)/sum(score); key =
  * -ln(u)/w` (softmax_sampling.py:79-117); we compute `key =
  * -ln(u)/exp(T*score)` — the same keys times the per-request POSITIVE
  * constant `sum(score)`, hence the identical ordering, identical sample
  * and identical distribution (E–S keys are scale-invariant in the
  * weights), and it spares a per-row O(n) pass.
  *
  * The reference draws unseeded uniforms; for reproducibility we derive
  * `u` deterministically from `md5(seedCol ":" position ":" seed)` — an
  * explicit-seed variant of the same distribution (SURVEY.md §7.4). md5
  * (not xxhash64) so the DuckDB oracle mirrors the full key and the
  * sampled output hash-checks cross-engine. One per-row kernel
  * ([[graft.functions.SampleTopK]]) inside whole-stage codegen: keys,
  * then the `topk` smallest (key, id, score) triples, shuffle-free.
  * Where `exp(T*score)` underflows to 0 the key is +∞ and the candidate
  * ranks last — numpy's division, where Spark's ANSI `/` would fail the
  * whole request.
  */
case class SoftmaxSampling(
    idsCol: String,
    relevanceCol: String,
    temperature: Double = 20.0,
    topk: Int = 10,
    seed: Long = 42L,
    seedCol: String = "requestId") extends EnsembleOp {

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, idsCol); requireCol(in, relevanceCol); requireCol(in, seedCol)
    // unconditional: an input literally named 'ordered_ids' would be
    // dropped together with idsCol/relevanceCol after the outputs are
    // computed, silently deleting the fresh output column
    Seq("ordered_ids", "ordered_scores", "__top").foreach(c =>
      require(!in.fieldNames.contains(c),
        s"$name: output column '$c' collides with the input schema — " +
          "rename the input column first"))
    val idT = in(idsCol).dataType.asInstanceOf[ArrayType]
    val scT = in(relevanceCol).dataType.asInstanceOf[ArrayType]
    StructType(
      in.filterNot(f => f.name == idsCol || f.name == relevanceCol) ++ Seq(
        StructField("ordered_ids", idT),
        StructField("ordered_scores", scT)))
  }

  // __top is a REAL projected column referenced twice below, so the
  // kernel runs once instead of once per output column
  override def transform(df: DataFrame): DataFrame =
    df.withColumn("__top", FastExpressions.sampleTopK(col(idsCol), col(relevanceCol),
        col(seedCol), temperature, topk, seed))
      .withColumn("ordered_ids", col("__top").getField("ids"))
      .withColumn("ordered_scores", col("__top").getField("scores"))
      .drop(idsCol, relevanceCol, "__top")
}

/** Broadcast user/request features onto candidate item rows with a name
  * prefix (/root/reference/merlin/systems/dag/ops/unroll_features.py:53-66).
  * The reference repeats rows with `np.repeat`; relationally this is a
  * broadcast equi-join on the request key.
  */
case class UnrollFeatures(
    userFeatures: DataFrame,
    unrollCols: Seq[String],
    on: String = "requestId",
    prefix: String = "user_") extends EnsembleOp {

  private def prefixed: DataFrame =
    userFeatures.select(col(on) +: unrollCols.map(c => col(c).as(prefix + c)): _*)

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, on)
    unrollCols.foreach(c => require(userFeatures.schema.fieldNames.contains(c),
      s"$name: unroll column '$c' not in userFeatures"))
    StructType(in ++ unrollCols.map(c => userFeatures.schema(c).copy(name = prefix + c)))
  }

  override def transform(df: DataFrame): DataFrame =
    df.join(broadcast(prefixed), Seq(on), "left")
}

/** Explode an id-array column into one row per candidate (the reference's
  * implicit row-count change when a (1,k) batch feeds row-wise ops). */
case class ExplodeCandidates(inputCol: String, outputCol: String = "item_id")
    extends EnsembleOp {
  override def transformSchema(in: StructType): StructType = {
    requireCol(in, inputCol)
    val el = in(inputCol).dataType.asInstanceOf[ArrayType].elementType
    StructType(in.filterNot(_.name == inputCol) :+ StructField(outputCol, el))
  }
  override def transform(df: DataFrame): DataFrame =
    df.withColumn(outputCol, explode(col(inputCol))).drop(inputCol)
}

/** Interval (range) join via bucket expansion: attach every interval
  * `[start, end)` of the same key that contains the point's timestamp.
  * A naive `a.join(b, a.ts >= b.start && a.ts < b.end)` plans as a
  * BroadcastNestedLoopJoin — O(|points|·|intervals|) and a scale-killer;
  * here each interval explodes to its covering fixed-size buckets, the
  * point maps to exactly ONE bucket, and the join is a plain shuffle
  * equi-join on (key, bucket) with a residual containment filter. A point
  * meets each interval in at most one bucket, so no dedup is needed; the
  * shuffle carries interval rows × ⌈len/bucketSize⌉, so size `bucketSize`
  * near the typical interval length. */
case class IntervalJoin(
    intervals: DataFrame,
    keyCol: String,
    startCol: String,
    endCol: String,
    pointTsCol: String,
    bucketSize: Long = 3600L,
    outputPrefix: String = "iv_") extends EnsembleOp {

  require(bucketSize > 0, s"$name: bucketSize must be positive")

  private def ivCols: Seq[String] =
    intervals.schema.fieldNames.filterNot(_ == keyCol).toSeq

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, keyCol); requireCol(in, pointTsCol)
    Seq(startCol, endCol).foreach(c => require(
      intervals.schema.fieldNames.contains(c), s"$name: '$c' not in intervals"))
    ivCols.foreach(c => require(!in.fieldNames.contains(outputPrefix + c),
      s"$name: output column '${outputPrefix + c}' collides with the input schema"))
    StructType(in ++ ivCols.map(c => intervals.schema(c).copy(name = outputPrefix + c)))
  }

  override def transform(df: DataFrame): DataFrame = {
    val iv = intervals
      .filter(col(startCol) < col(endCol)) // empty intervals match nothing
      .select(col(keyCol) +: ivCols.map(c => col(c).as(outputPrefix + c)): _*)
      .withColumn("__bucket", explode(sequence(
        floor(col(outputPrefix + startCol) / bucketSize).cast("long"),
        floor((col(outputPrefix + endCol) - 1) / bucketSize).cast("long"))))
    val out = transformSchema(df.schema)
    df.withColumn("__bucket", floor(col(pointTsCol) / bucketSize).cast("long"))
      .join(iv, Seq(keyCol, "__bucket"))
      .filter(col(outputPrefix + startCol) <= col(pointTsCol) &&
        col(pointTsCol) < col(outputPrefix + endCol))
      .select(out.fieldNames.map(col).toSeq: _*)
  }
}

/** Shared helper for the sampling/mixing family: one canonical CASE fold
  * over per-stratum basis points (sorted-key order gives a canonical
  * plan for any Map insertion order). Every op's per-stratum dispatch
  * must build through here so a fix lands once. */
private[ops] object Strata {
  def caseOver(key: Column, m: Map[String, Int], default: Int): Column =
    m.toSeq.sortBy(_._1).foldRight(lit(default): Column) {
      case ((k, v), els) => when(key === k, lit(v)).otherwise(els)
    }
}

/** Deterministic hash-based dataset split — the train/valid/test
  * assignment a training-data pipeline needs: stable under reshuffling,
  * re-runs and engine changes because the bucket is pure content hash,
  * never RNG. bucket = first 8 hex chars of md5(id ":" salt) mod 10000
  * (md5 is engine-portable, so the split is oracle-checkable
  * cross-engine; basis points give 0.01% granularity). Rows bucket <
  * trainBp → "train", < trainBp+validBp → "valid", else "test". Per-row
  * expression, shuffle-free, map-side at any scale.
  *
  * The default salt is namespaced ("graft-split") so the split draws an
  * INDEPENDENT coin from [[StratifiedSample]] ("graft-sample") and
  * [[UpsampleMix]] ("graft-mix"): with a shared stream, a 50% sample's
  * survivors all carry bucket < 5000 and would land entirely in "train".
  * Set equal salts explicitly if correlation is the intent. */
case class HashSplit(
    idCol: String,
    trainBp: Int = 9000,
    validBp: Int = 0,
    salt: String = "graft-split",
    outputCol: String = "split") extends EnsembleOp {

  require(trainBp >= 0 && validBp >= 0 && trainBp + validBp <= 10000,
    s"$name: trainBp + validBp must be within [0, 10000]")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, idCol)
    StructType(in ++ Seq(
      StructField(outputCol + "_bucket", LongType),
      StructField(outputCol, StringType)))
  }

  /** The bucket expression (exposed so oracle SQL can mirror it). */
  def bucket: Column =
    graft.functions.TextFunctions.hashBucket(col(idCol), salt, 10000)

  // null ids yield null bucket AND null split — falling through to
  // `otherwise` would silently dump every null-id row into "test"
  override def transform(df: DataFrame): DataFrame =
    df.withColumn(outputCol + "_bucket", bucket)
      .withColumn(outputCol,
        when(col(outputCol + "_bucket").isNull, lit(null).cast("string"))
          .when(col(outputCol + "_bucket") < trainBp, "train")
          .when(col(outputCol + "_bucket") < trainBp + validBp, "valid")
          .otherwise("test"))
}

/** Deterministic stratified sampling — per-stratum downsampling rates,
  * the data-mixing knob of a pre-training pipeline (e.g. keep 100% of
  * books, 15% of web crawl). Same content-hash trick as [[HashSplit]]:
  * a row is kept iff `md5(id ":" salt) mod 10000 < fractionBp(stratum)`,
  * so the sample is stable under reshuffling/re-runs, consistent across
  * engines (oracle-checkable), and — because the bucket is a pure
  * per-row expression — shuffle-free and map-side at any scale. Strata
  * not in `fractionsBp` fall back to `defaultBp`; a NULL stratum uses
  * `defaultBp`; a NULL id hashes to a NULL bucket and is dropped (no
  * deterministic fate exists for it). The bucket survives in the output
  * for audit (`sample_bucket`). Default salt is namespaced
  * ("graft-sample") — see [[HashSplit]] for why the sampling family must
  * not share one coin stream. */
case class StratifiedSample(
    idCol: String,
    strataCol: String,
    fractionsBp: Map[String, Int],
    defaultBp: Int = 0,
    salt: String = "graft-sample") extends EnsembleOp {

  require((defaultBp +: fractionsBp.values.toSeq).forall(b => b >= 0 && b <= 10000),
    s"$name: all fractions must be basis points within [0, 10000]")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, idCol); requireCol(in, strataCol)
    require(!in.fieldNames.contains("sample_bucket"),
      s"$name: output column 'sample_bucket' collides with the input schema")
    StructType(in :+ StructField("sample_bucket", LongType))
  }

  /** The bucket expression (exposed so oracle SQL can mirror it). */
  def bucket: Column =
    graft.functions.TextFunctions.hashBucket(col(idCol), salt, 10000)

  /** Per-row keep threshold (the shared [[Strata.caseOver]] fold). */
  def thresholdBp: Column = Strata.caseOver(col(strataCol), fractionsBp, defaultBp)

  override def transform(df: DataFrame): DataFrame =
    df.withColumn("sample_bucket", bucket)
      .filter(col("sample_bucket") < thresholdBp)
}

/** Per-stratum weighted sampling WITHOUT replacement — "pick the k best
  * candidates per domain, probability proportional to weight": the
  * quality-weighted cousin of [[TopFractionByGroup]] (which keeps a
  * deterministic top fraction) and the per-corpus analog of
  * [[SoftmaxSampling]] (which re-ranks one request's candidate array).
  * Efraimidis–Spirakis: key = -ln(u)/w with u uniform per row, ascending
  * keys are an exact weighted sample without replacement. u derives from
  * md5(id ":" salt) — the engine-portable coin, so the SAMPLE ITSELF is
  * oracle-checkable, reproducible across reruns/backfills, and
  * independent of the other sampling ops' namespaced streams. Ties
  * break by id; rows with NULL id, or NULL/zero/negative weight, carry
  * no probability mass and are dropped. `sample_rank` (1..k within the
  * stratum) survives for audit.
  *
  * Scale shape: one shuffle on the stratum key + a per-stratum sort —
  * the same window cost envelope as [[TopFractionByGroup]]'s exact mode
  * (a bounded-heap per-group top-k aggregate is the upgrade if k is
  * small and strata are pathological). */
case class WeightedSampleByGroup(
    strataCol: String,
    weightCol: String,
    idCol: String,
    k: Int,
    salt: String = "graft-wsample",
    rankCol: String = "sample_rank") extends EnsembleOp {

  require(k >= 1, s"$name: k must be >= 1")

  override def transformSchema(in: StructType): StructType = {
    Seq(strataCol, weightCol, idCol).foreach(requireCol(in, _))
    require(!in.fieldNames.contains(rankCol),
      s"$name: output column '$rankCol' collides with the input schema")
    StructType(in :+ StructField(rankCol, IntegerType, nullable = false))
  }

  /** The per-row sampling key (exposed so oracle SQL can mirror it). */
  def key: Column =
    -log(graft.functions.TextFunctions.md5Uniform(
      concat(col(idCol).cast("string"), lit(":" + salt)))) /
      col(weightCol).cast("double")

  override def transform(df: DataFrame): DataFrame = {
    val out = transformSchema(df.schema)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(key.asc, col(idCol).asc)
    df.filter(col(idCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0)
      .withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
      .select(out.fieldNames.map(col).toSeq: _*)
  }
}

/** Deterministic uniform negative sampling — the training-time counterpart
  * of [[FilterCandidates]] (which removes seen items at serving time,
  * /root/reference/merlin/systems/dag/ops/session_filter.py:142-162): a
  * ranking model's training set needs, for every observed positive
  * (user, item) pair, k items the user did NOT interact with. Each input
  * row draws `attempts` catalog indices via the engine-portable md5 coin
  * (`md5(user ":" item ":" t ":" salt)` → index mod catalog size), maps
  * them to items through a dense id-ordered catalog index, drops draws
  * that hit ANY of the user's seen items (the distinct pairs of the input
  * frame — the pair's own item included), deduplicates repeated draws
  * (first attempt wins), and keeps the first k survivors in attempt order
  * as `outputCol` with `rankCol` 1..k. Everything derives from content
  * hashes, so the exact sampled set — not just its size — is reproducible
  * across engines, reruns and repartitioning (oracle-checkable), unlike
  * `rand()`-based negative samplers whose output changes under retry or
  * partition reordering.
  *
  * Contracts: input rows must be DISTINCT (user, item) pairs (duplicate
  * pairs would interleave in the rank window); rows with a NULL user or
  * item carry no deterministic coin and are dropped; a pair can yield
  * FEWER than k negatives when the user has seen much of the catalog or
  * draws collide — raise `attempts` (default 3k) for dense users rather
  * than resampling, which would break determinism.
  *
  * Scale shape: the candidate explode is map-side (input × attempts); the
  * catalog index is dictionary-scale (range-partitioned sort +
  * zipWithIndex, same discipline as [[graft.ops.Categorify]] — never a
  * global window) and joins broadcast while its estimated bytes fit
  * `broadcastBudgetBytes`; above the budget (a 100M–1B item catalog
  * would die in the driver exactly like the ungated [[PredictImplicit]]
  * path) the index equi-joins on `__idx` WITHOUT the hint — a shuffle
  * join on an 8-byte key, catalog-size-proof and result-identical. The
  * seen-set anti join shuffles on the (user, candidate) key and the
  * dedup/rank windows share a single (user, item) exchange (lag-based
  * run dedup, PlanSpec-pinned — a per-candidate row_number would force a
  * third, wider exchange), with groups bounded by `attempts`: no global
  * sort, no driver collects, skew bounded by the hottest user's
  * interaction count. */
case class NegativeSampling(
    catalog: DataFrame,
    userCol: String,
    itemCol: String,
    catalogItemCol: String,
    k: Int,
    attempts: Int = -1,
    salt: String = "graft-neg",
    outputCol: String = "neg_item",
    rankCol: String = "neg_rank",
    broadcastBudgetBytes: Long = 1L << 30) extends EnsembleOp {

  require(k >= 1, s"$name: k must be >= 1")
  require(attempts == -1 || attempts >= k,
    s"$name: attempts must be >= k (or -1 for the default 3k)")
  require(catalog.schema.fieldNames.contains(catalogItemCol),
    s"$name: '$catalogItemCol' missing in catalog")

  /** Draws per positive pair (-1 → 3k: with uniform draws over a large
    * catalog, k of 3k surviving is overwhelmingly likely for users who
    * have seen < ~60% of it). */
  def numAttempts: Int = if (attempts == -1) 3 * k else attempts

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, userCol); requireCol(in, itemCol)
    // the seen-set anti join compares itemCol against catalog items; under
    // a dtype mismatch the implicit cast could silently stop excluding
    // seen items (positives re-emitted as negatives) — fail fast instead
    require(in(itemCol).dataType == catalog.schema(catalogItemCol).dataType,
      s"$name: itemCol '$itemCol' dtype ${in(itemCol).dataType.simpleString} must " +
        s"equal catalog '$catalogItemCol' dtype " +
        catalog.schema(catalogItemCol).dataType.simpleString)
    Seq(outputCol, rankCol).foreach(c => require(!in.fieldNames.contains(c),
      s"$name: output column '$c' collides with the input schema"))
    StructType(in :+
      StructField(outputCol, catalog.schema(catalogItemCol).dataType) :+
      StructField(rankCol, IntegerType, nullable = false))
  }

  /** The candidate-index coin (exposed so oracle SQL can mirror it):
    * first 8 md5 hex chars of `user ":" item ":" attempt ":" salt`,
    * modulo the catalog size carried in `__n`. */
  def candidateIndex: Column =
    conv(substring(md5(concat(
      col(userCol).cast("string"), lit(":"), col(itemCol).cast("string"),
      lit(":"), col("__t").cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("long") % col("__n")

  /** The dense id-ordered catalog index (item value, `__idx`) — unique ids
    * make partition-order zipWithIndex coincide with the oracle's
    * `row_number() OVER (ORDER BY item) - 1`. */
  private def indexedCatalog: DataFrame = {
    val sorted = catalog.select(col(catalogItemCol).as("__cand"))
      .filter(col("__cand").isNotNull).distinct().sort("__cand")
    val schema = StructType(sorted.schema :+ StructField("__idx", LongType, nullable = false))
    sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  /** Distinct drawable catalog size AND mean item payload bytes, in ONE
    * memoized job: the catalog frame is immutable, so the gate's
    * aggregate runs once per op instance, not once per transform call
    * (same discipline as [[PredictImplicit.itemCount]]). The count
    * doubles as the coin modulus `__n`, replacing a 1-row aggregate
    * crossJoin with a literal. MEASURED payload size matters for string
    * catalogs: a flat defaultSize estimate would let 15M × 400-byte keys
    * (~6 GB real) through a 1 GiB budget. */
  @transient private lazy val catalogStats: (Long, Long) = {
    val payload = catalog.schema(catalogItemCol).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType =>
        avg(octet_length(col(catalogItemCol)))
      case dt => avg(lit(dt.defaultSize.toDouble))
    }
    val row = catalog.select(col(catalogItemCol))
      .filter(col(catalogItemCol).isNotNull).distinct()
      .agg(count(lit(1)), payload).head()
    (row.getLong(0),
      math.ceil(Option(row.get(1)).fold(0.0)(_.toString.toDouble)).toLong)
  }

  @transient private lazy val catalogCount: Long = catalogStats._1

  /** Broadcast-bytes estimate per index row: the measured mean item
    * payload plus the 8-byte `__idx`, with hash-relation overhead. */
  private def catalogRowBytes: Long = 32L + catalogStats._2

  override def transform(df: DataFrame): DataFrame = {
    val out = transformSchema(df.schema)
    val idx = indexedCatalog
    // SIZE GATE: broadcast the dense index only while it fits the budget;
    // a billion-item catalog instead shuffle-hash-joins on the 8-byte
    // __idx key (hinted, so planner statistics can never re-broadcast an
    // over-budget catalog — and never sort-merge a uniform synthetic key)
    val idxSide = if (catalogCount * catalogRowBytes <= broadcastBudgetBytes)
      broadcast(idx) else idx.hint("shuffle_hash")
    val seen = df.select(col(userCol).as("__su"), col(itemCol).as("__si")).distinct()
    // both windows partition on the pair key alone, so they share ONE
    // exchange (two local sorts): dedup detects the first attempt of each
    // candidate as the head of its (cand, t)-ordered run via lag, instead
    // of a per-candidate row_number that would force a second, wider
    // hashpartitioning on (user, item, cand)
    val pair = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol), col(itemCol))
    val byCand = pair.orderBy("__cand", "__t")
    val byT = pair.orderBy("__t")
    df.filter(col(userCol).isNotNull && col(itemCol).isNotNull)
      .withColumn("__t", explode(sequence(lit(0), lit(numAttempts - 1))))
      // idx mod 0 is null, so an empty catalog drops every draw at the
      // index join instead of crashing — same contract as before the gate
      .withColumn("__n", lit(catalogCount))
      .withColumn("__idx", candidateIndex)
      .join(idxSide, Seq("__idx"))
      .join(seen, col(userCol) === col("__su") && col("__cand") === col("__si"),
        "left_anti")
      .withColumn("__prev", lag("__cand", 1).over(byCand))
      .filter(col("__prev").isNull || col("__prev") =!= col("__cand"))
      .withColumn(rankCol, row_number().over(byT))
      .filter(col(rankCol) <= k)
      .withColumn(outputCol, col("__cand"))
      .select(out.fieldNames.map(col).toSeq: _*)
  }
}

/** Deterministic epoch-weighted upsampling — the other half of the
  * data-mixing knob beside [[StratifiedSample]]: mixing to target domain
  * proportions usually means REPEATING the high-value strata (books ×2.5,
  * wiki ×3) while crawl stays at ≤1 epoch. Weights are basis points of an
  * epoch (25000 = 2.5 copies): every row gets `weightBp / 10000` whole
  * copies, plus one more iff `md5(id ":" salt) mod 10000 < weightBp mod
  * 10000` — the same content-hash coin as [[HashSplit]], so WHICH rows
  * carry the fractional epoch is stable under reshuffling/re-runs and
  * cross-engine checkable (weights < 10000 degenerate to exactly
  * [[StratifiedSample]]'s keep rule). Copies are emitted with a 0-based
  * `epoch` column so downstream shuffles/packing can decorrelate them.
  *
  * Scale shape: one `explode(sequence(...))` over a per-row expression —
  * shuffle-free, map-side, output volume ∝ Σ weights, which is the
  * physical lower bound for materialized mixing. (At 100 TB one would
  * often keep mixing virtual — union N references to the same parquet —
  * but a materialized mix is what shuffled/packed pre-training input
  * wants, and this op is the deterministic way to get it.)
  *
  * Strata not in `weightsBp` fall back to `defaultBp`; a NULL stratum
  * uses `defaultBp`; a NULL id has no deterministic coin and is dropped
  * (same contract as [[StratifiedSample]]). Default salt is namespaced
  * ("graft-mix") — see [[HashSplit]]: a shared stream would make the
  * fractional epoch perfectly correlated with upstream sampling, so a
  * 0.5-sample → 1.5-mix composition would realize exactly 2.0 epochs on
  * every survivor instead of 1.5 on average. */
case class UpsampleMix(
    idCol: String,
    strataCol: String,
    weightsBp: Map[String, Int],
    defaultBp: Int = 10000,
    salt: String = "graft-mix",
    epochCol: String = "epoch") extends EnsembleOp {

  require((defaultBp +: weightsBp.values.toSeq).forall(w => w >= 0 && w <= 1000000),
    s"$name: weights must be basis points within [0, 1000000] (100 epochs)")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, idCol); requireCol(in, strataCol)
    require(!in.fieldNames.contains(epochCol),
      s"$name: output column '$epochCol' collides with the input schema")
    StructType(in :+ StructField(epochCol, IntegerType))
  }

  /** The fractional-epoch coin (exposed so oracle SQL can mirror it). */
  def bucket: Column =
    graft.functions.TextFunctions.hashBucket(col(idCol), salt, 10000)

  /** Per-row weight in basis points (the shared [[Strata.caseOver]] fold). */
  def weightBp: Column = Strata.caseOver(col(strataCol), weightsBp, defaultBp)

  override def transform(df: DataFrame): DataFrame = {
    val out = transformSchema(df.schema)
    val copies = (col("__w") / 10000).cast("int") +
      when(col("__b") < col("__w") % 10000, 1).otherwise(0)
    // sequence(0, -1) would COUNT DOWN, not return empty — guard the
    // zero-copy case explicitly so those rows vanish under the explode
    df.withColumn("__b", bucket).withColumn("__w", weightBp)
      .filter(col("__b").isNotNull)
      .withColumn(epochCol, explode(when(copies > 0,
        sequence(lit(0), copies - 1)).otherwise(array().cast("array<int>"))))
      .select(out.fieldNames.map(col).toSeq: _*)
  }
}

/** Deterministic corpus shuffle + shard assignment — the write-side stage
  * every pre-training pipeline ends with: break the corpus's storage
  * order (adjacent docs correlate by crawl/source, which biases training
  * batches) and emit `shards` independently consumable, reproducibly
  * ordered slices. Both decisions are content-hashed, never rand():
  * shard = [[graft.functions.TextFunctions.hashBucket]] of the id, and
  * the within-shard position orders by a second, independently salted md5
  * of the id — so the exact same physical layout falls out of any rerun,
  * any partitioning, and the DuckDB oracle.
  *
  * Scale shape: ONE hash shuffle into `shards` groups plus a per-shard
  * sort for the position — never a global sort. Each shard's position
  * sequence is computed in that shard's task, so parallelism = `shards`;
  * the caller sizes `shards` the way sharded training data is always
  * sized — by target file size (1–4 GB/shard → tens of thousands of
  * shards at 100 TB, ample parallelism), after which the natural write is
  * `.repartition(col(shardCol)).sortWithinPartitions(posCol)`.
  *
  * A NULL id has no deterministic fate and is dropped (the
  * [[StratifiedSample]]/[[UpsampleMix]] contract). */
case class ShardShuffle(
    idCol: String,
    shards: Int = 64,
    salt: String = "graft-shard",
    shardCol: String = "shard",
    posCol: String = "shard_pos") extends EnsembleOp {

  require(shards >= 1, s"$name: shards must be >= 1")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, idCol)
    Seq(shardCol, posCol).foreach(c => require(!in.fieldNames.contains(c),
      s"$name: output column '$c' collides with the input schema"))
    StructType(in ++ Seq(
      StructField(shardCol, IntegerType),
      StructField(posCol, IntegerType, nullable = false)))
  }

  /** Shard coin (exposed so oracle SQL can mirror it). */
  def shard: Column =
    graft.functions.TextFunctions.hashBucket(col(idCol), salt, shards)

  /** Within-shard shuffle key: an md5 under a DIFFERENT salt suffix than
    * the shard coin — sharing one stream would order every shard by the
    * same residue that chose it, leaving the low-order correlation the
    * shuffle exists to remove. Hex-string ordering is identical across
    * engines (same 32-char lowercase alphabet). */
  def orderKey: Column =
    md5(concat(col(idCol).cast("string"), lit(":" + salt + ":pos")))

  override def transform(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val out = transformSchema(df.schema)
    val w = Window.partitionBy(col(shardCol))
      .orderBy(orderKey.asc, col(idCol).asc)
    df.withColumn(shardCol, shard.cast("int"))
      .filter(col(shardCol).isNotNull)
      .withColumn(posCol, row_number().over(w))
      .select(out.fieldNames.map(col).toSeq: _*)
  }
}

/** Pad/truncate a list column to fixed length (dataloader Padding op,
  * /root/reference/tests/unit/systems/ops/padding_op.py:26-63). Spark arrays
  * are natively ragged, so this is `slice(concat(a, fill), 1, len)`. */
case class Padding(inputCol: String, length: Int, padValue: Double = 0.0)
    extends EnsembleOp {
  override def transformSchema(in: StructType): StructType = {
    requireCol(in, inputCol)
    require(in(inputCol).dataType.isInstanceOf[ArrayType], s"$name: $inputCol must be array")
    in
  }
  override def transform(df: DataFrame): DataFrame = {
    val el = df.schema(inputCol).dataType.asInstanceOf[ArrayType].elementType
    df.withColumn(inputCol,
      slice(concat(col(inputCol), array_repeat(lit(padValue).cast(el), length)), 1, length))
  }
}

/** Skew-mitigating equi-join: replicate the dimension side once per salt
  * bucket and split the fact side's hot keys across buckets with a
  * deterministic hash of a spreading column, so a single hot key's rows
  * land on `saltBuckets` shuffle partitions instead of one straggler
  * task. The salt never changes which rows match — dim rows exist for
  * every bucket — so the result is exactly the plain equi-join and the
  * op stays fully oracle-checkable by unsalted SQL.
  *
  * Scale stance: this is the explicit fallback for skew that AQE's
  * skew-join splitting cannot fix (one key larger than any split, or a
  * non-sort-merge plan); prefer `spark.sql.adaptive.skewJoin` first and
  * reach for salting when a known hot key (a null-ish default id, a
  * power-law head item) dominates. Dim replication costs saltBuckets× of
  * the SMALL side only; the fact side is never replicated. */
case class SaltedJoin(
    dim: DataFrame,
    on: String,
    saltBy: String,
    saltBuckets: Int = 8,
    joinType: String = "inner") extends EnsembleOp {

  require(saltBuckets >= 1, s"$name: saltBuckets must be >= 1")
  require(Seq("inner", "left").contains(joinType),
    s"$name: joinType must be inner or left (got $joinType)")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, on); requireCol(in, saltBy)
    require(dim.schema.fieldNames.contains(on), s"$name: '$on' missing in dim")
    val dup = dim.schema.fieldNames.filter(f => f != on && in.fieldNames.contains(f))
    require(dup.isEmpty, s"$name: ambiguous columns ${dup.mkString(",")}")
    val nullableDim = dim.schema.filter(_.name != on)
      .map(f => if (joinType == "left") f.copy(nullable = true) else f)
    StructType(in ++ nullableDim)
  }

  override def transform(df: DataFrame): DataFrame = {
    val out = transformSchema(df.schema)
    val salted = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    df.withColumn("__salt", pmod(xxhash64(col(saltBy)), lit(saltBuckets.toLong)))
      .join(salted, Seq(on, "__salt"), joinType)
      .select(out.fieldNames.map(col).toSeq: _*)
  }
}

/** Per-request validation — the Spark-native analog of the reference's
  * `triton_error_handling` decorator (triton/utils.py:21-46): a malformed
  * request must produce a per-request error, never fail the batch. The
  * relational form annotates each row with the FIRST failing check
  * (null where valid); [[valid]]/[[rejected]] split the frame for the
  * serve-vs-quarantine fork. Row-local CASE evaluation: shuffle-free,
  * codegen'd, linear at any scale.
  */
case class ValidateRequests(
    nonNull: Seq[String] = Seq.empty,
    ranges: Map[String, (Double, Double)] = Map.empty,
    errorCol: String = "error") extends EnsembleOp {

  require(nonNull.nonEmpty || ranges.nonEmpty, s"$name: no checks configured")

  override def transformSchema(in: StructType): StructType = {
    (nonNull ++ ranges.keys).foreach(requireCol(in, _))
    StructType(in :+ StructField(errorCol, StringType))
  }

  private def error: Column = {
    val checks: Seq[(Column, Column)] =
      nonNull.map(c => (col(c).isNull, lit(s"null: $c"))) ++
        ranges.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
          (col(c).isNotNull && (col(c) < lo || col(c) > hi),
            lit(s"out of range [$lo, $hi]: $c"))
        }
    checks.foldRight(lit(null).cast(StringType): Column) {
      case ((cond, msg), els) => when(cond, msg).otherwise(els)
    }
  }

  override def transform(df: DataFrame): DataFrame =
    df.withColumn(errorCol, error)

  /** Rows that passed every check, error column dropped. */
  def valid(df: DataFrame): DataFrame =
    transform(df).filter(col(errorCol).isNull).drop(errorCol)

  /** Rows that failed, with their first error — the quarantine stream. */
  def rejected(df: DataFrame): DataFrame =
    transform(df).filter(col(errorCol).isNotNull)
}

/** Token-budget mixture planning — the deterministic solver between a
  * target mixture spec ("X% of the training tokens from each domain")
  * and the sampling ops that realize it: per stratum, compare the
  * stratum's available tokens against its share of the global budget
  * and emit the keep-rate (basis points) that hits the target, flagging
  * strata that cannot fill their share. Feed `rate_bp` into the
  * content-hash sampling family ([[StratifiedSample]]) or `epochs` math
  * into [[UpsampleMix]] for deficit strata — this op only PLANS, in
  * exact integer arithmetic, so the plan itself is oracle-checkable and
  * reproducible (the mixture-design step of the pre-training recipes in
  * the public literature, e.g. weighted domain mixtures).
  *
  * Scale shape: ONE partial-aggregable groupBy collapses the corpus to
  * a strata-sized frame (map-side combined token sums); everything
  * after operates on #strata rows. Output per stratum:
  * (stratum, n_docs, avail_tokens, target_tokens, rate_bp,
  * planned_tokens, short) where rate_bp = min(10000,
  * target*10000 DIV avail) and planned = avail * rate_bp DIV 10000 —
  * floor arithmetic both engines agree on. */
case class MixturePlan(
    strataCol: String,
    tokensCol: String,
    weightsBp: Map[String, Int],
    budgetTokens: Long,
    defaultBp: Int = 0) extends EnsembleOp {

  require(budgetTokens >= 0, s"$name: budgetTokens must be >= 0")
  require((defaultBp +: weightsBp.values.toSeq).forall(b => b >= 0 && b <= 10000),
    s"$name: all weights must be basis points within [0, 10000]")

  override def transformSchema(in: StructType): StructType = {
    requireCol(in, strataCol); requireCol(in, tokensCol)
    // strata are named by the STRING keys of weightsBp; a non-string
    // strataCol could never match its declared weight (and the declared-
    // strata frame below is built from those string keys), so fail fast
    // instead of silently planning defaultBp for every stratum
    require(in(strataCol).dataType == StringType,
      s"$name: strataCol '$strataCol' must be StringType to match " +
        s"weightsBp keys, got ${in(strataCol).dataType.simpleString}")
    StructType(Seq(
      in(strataCol).copy(name = "stratum"),
      StructField("n_docs", LongType, nullable = false),
      StructField("avail_tokens", LongType),
      StructField("target_tokens", LongType, nullable = false),
      StructField("rate_bp", LongType),
      StructField("planned_tokens", LongType),
      StructField("short", BooleanType)))
  }

  override def transform(df: DataFrame): DataFrame = {
    transformSchema(df.schema)
    val spark = df.sparkSession
    import spark.implicits._
    val agg = df.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("avail_tokens"))
    // a DECLARED stratum absent from the corpus must still plan — it can
    // fill 0% of its share, and silently vanishing instead of flagging
    // `short` would underfill the budget with no signal
    val declared = weightsBp.keys.toSeq.sorted.toDF("stratum")
    agg.join(declared, Seq("stratum"), "full_outer")
      .select(col("stratum"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("avail_tokens"), lit(0L)).as("avail_tokens"))
      .withColumn("__w",
        Strata.caseOver(col("stratum"), weightsBp, defaultBp).cast("long"))
      .withColumn("target_tokens",
        expr(s"CAST(CAST($budgetTokens AS DECIMAL(38,0)) * __w DIV 10000 AS BIGINT)"))
      .drop("__w")
      // DECIMAL(38,0) intermediates (the SkewReport.multVsMeanBp
      // discipline): target*10000 wraps BIGINT once the budget passes
      // ~9.2e14 tokens — a frontier-scale corpus plan is exactly where
      // this op runs, and a wrapped rate corrupts precisely the largest
      // strata. The oracle mirrors with HUGEINT.
      .withColumn("rate_bp",
        when(col("avail_tokens") > 0,
          least(lit(10000L), expr(
            "CAST(CAST(target_tokens AS DECIMAL(38,0)) * 10000 DIV avail_tokens AS BIGINT)")))
          .otherwise(lit(null)))
      .withColumn("planned_tokens", expr(
        "CAST(CAST(avail_tokens AS DECIMAL(38,0)) * rate_bp DIV 10000 AS BIGINT)"))
      .withColumn("short", col("avail_tokens").isNull ||
        col("avail_tokens") < col("target_tokens"))
  }
}

/** Join-key skew diagnostics — the report a pipeline owner reads before
  * deciding to salt ([[graft.queries.OpQueries]]' salted-join pattern),
  * broadcast, or AQE-skew-split a join: the `topK` heaviest key groups
  * with each group's row count, share of the table (basis points), and
  * multiple of the mean group size (basis points — 10000 = perfectly
  * uniform). A key at 50× the mean is the one that makes one reducer
  * run half the stage.
  *
  * Scale shape: one partial-aggregable groupBy collapses the table to
  * (key, count) rows; the table-level stats are a second 1-row
  * aggregate over THAT (key-cardinality-sized, not table-sized) frame,
  * broadcast back; and the top-k is `TakeOrderedAndProject` over the
  * aggregated frame — a bounded per-partition heap + driver merge of
  * topK rows, never a global sort. Everything after the first groupBy
  * touches only distinct-key-many rows. */
case class SkewReport(
    keyCols: Seq[String],
    topK: Int = 20) extends EnsembleOp {

  require(keyCols.nonEmpty, s"$name: need at least one key column")
  require(topK >= 1, s"$name: topK must be >= 1")

  override def transformSchema(in: StructType): StructType = {
    keyCols.foreach(requireCol(in, _))
    StructType(keyCols.map(in(_)) ++ Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("share_bp", LongType),
      StructField("mult_vs_mean_bp", LongType)))
  }

  override def transform(df: DataFrame): DataFrame = {
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
    val stats = counts.agg(
      sum(col("n_rows")).as("__total"),
      count(lit(1)).as("__n_keys"))
    counts.crossJoin(broadcast(stats))
      .withColumn("share_bp", expr("n_rows * 10000 DIV __total"))
      .withColumn("mult_vs_mean_bp",
        SkewReport.multVsMeanBp("n_rows", "__n_keys", "__total"))
      .drop("__total", "__n_keys")
      .orderBy(col("n_rows").desc +: keyCols.map(col(_).asc): _*)
      .limit(topK)
  }
}

object SkewReport {
  /** The ONE definition of the mean-multiple metric. Overflow-safe: the
    * naive `n_rows * n_keys * 10000` wraps BIGINT exactly on the tables
    * the op targets (a 1e8-row hot key over 1e7 distinct keys is ~1e19 >
    * Long.MaxValue, silently corrupting the metric for precisely the
    * heaviest keys in non-ANSI mode — the same overflow class as
    * [[graft.ops.NgramLmScore.microMean]]). A DECIMAL(38,0) intermediate
    * holds the full product (≤ ~1e28 even at 1e12 rows × 1e12 keys) and
    * `DIV` on decimals yields the exact BIGINT floor quotient. The DuckDB
    * oracle mirrors this with a HUGEINT intermediate. */
  def multVsMeanBp(nRowsCol: String, nKeysCol: String,
      totalCol: String): org.apache.spark.sql.Column =
    expr(s"CAST(CAST($nRowsCol AS DECIMAL(38,0)) * $nKeysCol * 10000" +
      s" DIV $totalCol AS BIGINT)")
}
