package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** IVF + 8-bit scalar quantization — the `IVF<nlist>,SQ8` tier of the
  * reference's FAISS index strings (/root/reference/merlin/systems/dag/ops/
  * faiss.py:191-218), sitting between [[AnnIvf]] (IVF,Flat: raw floats,
  * exact in-list scoring) and [[AnnIvfPq]] (PQ: ~m bytes/item, sub-
  * resolution ADC ranking):
  *
  *   - memory: one byte per DIMENSION instead of four — a 64-dim float32
  *     catalog compresses 4× (256 B → 64 B payload/item), so at 100 TB of
  *     embeddings the searchable index drops to ~25 TB and stays scannable
  *     from hot executor memory where raw floats spill;
  *   - accuracy: per-dimension uniform quantization loses at most half a
  *     step per coordinate (step = span/255), so in-list ranking is nearly
  *     exact — SQ8's recall is probe-limited like IVF,Flat, without PQ's
  *     codebook fits or ADC noise (no refine pass needed).
  *
  * Fit state is METADATA-scale and exactly replayable: per-dimension
  * [min, max] over the catalog (one partial-aggregable pass), stored as
  * plain doubles. Encode and decode are row-local codegen'd expressions
  * over those literals:
  *
  *   code_d  = clamp(floor((v_d − min_d) / step_d + 0.5), 0, 255)
  *   v̂_d    = min_d + code_d · step_d          (step_d = (max_d−min_d)/255)
  *
  * `floor(x + 0.5)` (not `round`) keeps the rounding rule identical across
  * engines — bankers' rounding is the classic cross-engine trap. Scoring
  * reconstructs v̂ row-locally and takes the same sequential double dot
  * fold as the rest of the family, so the whole approximate path (encode,
  * probe, reconstruct, score, bounded-heap top-k) replays bit-for-bit in
  * DuckDB from the fitted literals — unlike FAISS, whose SQ8 scoring is
  * opaque SIMD. Out-of-range query-time vectors (a DRIFTED catalog would
  * produce them at encode time) saturate to the interval ends, FAISS's
  * documented SQ behavior.
  *
  * Spark shape: identical to [[AnnIvf]] — the coarse quantizer broadcasts
  * as literals, items assign map-side, the probe is one `__cid` equi-join
  * (nprobe·|list| candidates, never all pairs) and the top-k is the
  * bounded-heap aggregator. The probe join shuffles BYTE CODES (as a
  * compact int array), never float vectors. Constant dimensions
  * (min = max) carry step 0 and decode exactly to the constant.
  */
case class AnnSq(
    items: DataFrame,
    centers: Seq[Seq[Double]],
    mins: Seq[Double],
    maxs: Seq[Double],
    queryIdCol: String,
    queryVecCol: String,
    itemIdCol: String = "item_id",
    itemVecCol: String = "embedding",
    k: Int = 10,
    nprobe: Int = 8) extends AnnIndex {

  require(centers.nonEmpty, s"$name: need at least one coarse centroid")
  require(nprobe >= 1 && nprobe <= centers.size, s"$name: nprobe in [1, nlist]")
  require(mins.nonEmpty && mins.size == maxs.size,
    s"$name: per-dimension min/max disagree (${mins.size} vs ${maxs.size})")
  require(centers.forall(_.size == mins.size),
    s"$name: centroids are dim ${centers.head.size}, quantizer is dim ${mins.size}")
  require(mins.zip(maxs).forall { case (lo, hi) => lo <= hi },
    s"$name: min > max on some dimension — not a fitted range")

  /** step_d = (max−min)/255; 0 on constant dimensions (code 0, exact). */
  val steps: Seq[Double] = mins.zip(maxs).map { case (lo, hi) => (hi - lo) / 255.0 }

  /** Row-local SQ8 encoder: vector → array of int codes in [0, 255]. */
  def encode(vec: Column): Column = AnnSq.encodeExpr(vec, mins, steps)

  /** Row-local decoder: codes → reconstructed double vector v̂. */
  def decode(codes: Column): Column = AnnSq.decodeExpr(codes, mins, steps)

  /** The compact searchable index: (item id, coarse list id, SQ8 codes)
    * — the [[AnnIvf.index]] contract with codes in place of float
    * vectors. */
  def index(items: DataFrame): DataFrame =
    AnnSq.index(items, centers, mins, maxs, itemIdCol, itemVecCol)
  def listCol: String = "__cid"
  def listCount: Long = centers.size.toLong
  def keepEmpty: Boolean = true
  def ingestAppId: String = "sq-ingest"

  def withProbes(queries: DataFrame): DataFrame =
    queries.withColumn(listCol, explode(
      VectorFunctions.nearestCentroids(col(queryVecCol), centers, nprobe)))

  protected def queries(df: DataFrame): DataFrame =
    df.filter(col(queryVecCol).isNotNull).select(col(queryIdCol), col(queryVecCol))

  // fused decode+dot (q · (lo + code·st) in one loop): bit-identical
  // to dot(q, decode(codes)) — same fold order, same per-term IEEE
  // arithmetic, same null discipline — but allocation-free where the
  // composed form materialized one reconstructed vector PER CANDIDATE
  // (nprobe·|list| rows per query, the SQ8 hot loop)
  protected def ranked(candidates: DataFrame): DataFrame =
    Retriever.topK(candidates, queryIdCol, k,
      coalesce(graft.functions.FastExpressions.sqDecodeDot(
        col(queryVecCol), col("__codes"), mins, steps), lit(Double.NaN)))
}

object AnnSq {
  /** Saturating round-to-nearest encoder expression (`floor(x + 0.5)` —
    * the explicitly portable rounding rule; constant dims → code 0). */
  def encodeExpr(vec: Column, mins: Seq[Double], steps: Seq[Double]): Column =
    zip_with(vec.cast("array<double>"),
      zip_with(typedLit(mins.toArray), typedLit(steps.toArray),
        (lo, st) => struct(lo.as("lo"), st.as("st"))),
      (x, q) => {
        val lo = q.getField("lo"); val st = q.getField("st")
        // null element first: greatest/least SKIP nulls, so without the
        // guard a null dimension would quietly encode as code 0 (= min_d)
        // and produce a finite wrong score — the family's null discipline
        // is NULL in, NULL out, never a silently-truncated value
        when(x.isNull, lit(null).cast("int"))
          .when(st === 0.0, 0)
          .otherwise(least(lit(255), greatest(lit(0),
            floor((x - lo) / st + lit(0.5)).cast("int"))))
      })

  /** Decoder expression: v̂_d = min_d + code_d · step_d. */
  def decodeExpr(codes: Column, mins: Seq[Double], steps: Seq[Double]): Column =
    zip_with(codes,
      zip_with(typedLit(mins.toArray), typedLit(steps.toArray),
        (lo, st) => struct(lo.as("lo"), st.as("st"))),
      (c, q) => q.getField("lo") + c.cast("double") * q.getField("st"))

  /** The ONE index-build definition (transform, updatedIndex and any
    * persisted index all route here — incremental and rebuilt indexes can
    * never disagree): assign each item's inverted list, encode its codes. */
  def index(items: DataFrame, centers: Seq[Seq[Double]],
      mins: Seq[Double], maxs: Seq[Double],
      itemIdCol: String = "item_id", itemVecCol: String = "embedding"): DataFrame = {
    val steps = mins.zip(maxs).map { case (lo, hi) => (hi - lo) / 255.0 }
    items.select(
      col(itemIdCol).cast("long").as("__item_id"),
      VectorFunctions.nearestCentroid(col(itemVecCol), centers).as("__cid"),
      encodeExpr(col(itemVecCol), mins, steps).as("__codes"))
  }

  /** Fit per-dimension [min, max] over the catalog — ONE partial-
    * aggregable pass (2·dims scalar aggregates), collected as metadata.
    * Null vectors are ignored; an empty catalog fails fast. */
  def fitRange(items: DataFrame, itemVecCol: String = "embedding"): (Seq[Double], Seq[Double]) = {
    val probe = items.select(col(itemVecCol)).filter(col(itemVecCol).isNotNull)
    val first = probe.select(size(col(itemVecCol))).head(1)
    require(first.nonEmpty, "AnnSq.fitRange: empty catalog — nothing to fit")
    val dim = first.head.getInt(0)
    val aggs = (0 until dim).flatMap { i =>
      val x = element_at(col(itemVecCol), i + 1).cast("double")
      Seq(min(x).as(s"__lo$i"), max(x).as(s"__hi$i"))
    }
    val row = probe.agg(aggs.head, aggs.tail: _*).head()
    // a null aggregate means NO vector carried dimension i (ragged
    // vectors shorter than the probed first row): getDouble would
    // return 0.0 / throw depending on codegen — fail with the bad
    // dimension named instead of fitting a wrong range silently
    def at(idx: Int, dim0: Int): Double = {
      require(!row.isNullAt(idx),
        s"AnnSq.fitRange: dimension $dim0 is null across the catalog — " +
        "ragged vectors (shorter than the probed first row); fix the " +
        "embedding column before fitting")
      row.getDouble(idx)
    }
    val lows = (0 until dim).map(i => at(2 * i, i))
    val highs = (0 until dim).map(i => at(2 * i + 1, i))
    (lows, highs)
  }

  /** Train coarse quantizer + scalar range and build the fitted op. */
  def fit(items: DataFrame, queryIdCol: String, queryVecCol: String,
      itemIdCol: String = "item_id", itemVecCol: String = "embedding",
      k: Int = 10, nlist: Int = 32, nprobe: Int = 8,
      maxIter: Int = 10, seed: Long = 42L): AnnSq = {
    val centers = VectorFunctions.fitCenters(items, itemVecCol, nlist, maxIter, seed)
    val (lows, highs) = fitRange(items, itemVecCol)
    AnnSq(items, centers, lows, highs, queryIdCol, queryVecCol,
      itemIdCol, itemVecCol, k, math.min(nprobe, centers.size))
  }
}
