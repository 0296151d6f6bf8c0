package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.JsonDSL._
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import graft.ops._

/** Ensemble save/load — the analog of the reference's cloudpickle +
  * metadata.json persistence (/root/reference/merlin/systems/dag/
  * ensemble.py:80-145), done the JVM way: a metadata.json with version
  * stamps + per-op params, and side artifacts (feature tables as parquet,
  * fitted MLlib models via their own writers) under `artifacts/`.
  * Load re-instantiates ops by type; a version-stamp mismatch warns, like
  * the reference's python-minor check (ensemble.py:123-143).
  */
object EnsemblePersistence {

  private val FormatVersion = "1"

  /** Extension point for persisting CUSTOM ops — the JVM answer to the
    * reference cloudpickling arbitrary user operators (ensemble.py:80-145):
    * code can't be serialized safely on the JVM, so a custom op ships a
    * codec that writes its parameters/artifacts and re-instantiates it.
    * Registered codecs are consulted before the built-in table throws. */
  trait OpCodec {
    /** Unique type tag written to metadata.json. */
    def tpe: String
    def canHandle(op: EnsembleOp): Boolean
    /** Serialize params (the "type" field is added by the framework);
      * `artifactPath(kind)` yields a scoped path for side artifacts. */
    def describe(op: EnsembleOp, artifactPath: String => String,
        spark: SparkSession): JObject
    def instantiate(o: JObject, spark: SparkSession): EnsembleOp
  }

  private val codecs = new java.util.concurrent.ConcurrentHashMap[String, OpCodec]()

  def registerCodec(codec: OpCodec): Unit = codecs.put(codec.tpe, codec)

  def save(ensemble: Ensemble, dir: String, spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(dir, "artifacts"))
    val opsJson = ensemble.ops.zipWithIndex.map { case (op, i) =>
      describe(op, i.toString, dir, spark)
    }
    val meta: JObject =
      ("format_version" -> FormatVersion) ~
      ("engine_version" -> "0.1.0") ~
      ("spark_version" -> spark.version) ~
      // full JSON (not DDL): DDL drops StructField.metadata, which now
      // carries schema tags (Tags.Key) that must survive the round-trip
      ("input_schema_json" -> ensemble.inputSchema.json) ~
      ("ops" -> opsJson)
    Files.writeString(Paths.get(dir, "metadata.json"),
      JsonMethods.pretty(JsonMethods.render(meta)))
  }

  /** Load by registry lookup — the reference's `from_model_registry`
    * entry point (model_registry.py:6-26). */
  def load(registry: ModelRegistry, spark: SparkSession): Ensemble =
    load(registry.artifactUri, spark)

  /** Re-instantiate a saved graph. Serving ops keep their side tables
    * resident for the life of the returned graph, like the reference
    * server loading each model's artifacts once in `initialize`: a
    * [[graft.ops.QueryFeatureStore]] view becomes a broadcast key → row
    * table, an [[graft.ops.AnnLsh]] / [[graft.ops.AnnIvf]] catalog a
    * broadcast list → items table built once with the persisted center
    * or centroids — one collect job each, here. A local request with
    * distinct ids then runs as one narrow job (no join, no exchange).
    * Each table is bounded by `spark.sql.autoBroadcastJoinThreshold`
    * (the size at which Spark stops broadcasting a join side); a larger
    * one, like every other side artifact, stays a lazy parquet read
    * served by the relational plan. Spark's ContextCleaner releases
    * the broadcasts once the graph is unreachable. */
  def load(dir: String, spark: SparkSession): Ensemble = {
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(Files.readString(Paths.get(dir, "metadata.json")))
    val fv = (meta \ "format_version").extract[String]
    if (fv != FormatVersion)
      System.err.println(s"[ensemble] WARNING: format version $fv != $FormatVersion; attempting load")
    val sv = (meta \ "spark_version").extract[String]
    if (sv != spark.version)
      System.err.println(s"[ensemble] WARNING: saved under Spark $sv, loading under ${spark.version}")
    val schema = org.apache.spark.sql.types.DataType.fromJson(
      (meta \ "input_schema_json").extract[String]).asInstanceOf[StructType]
    // ops load concurrently: each serving op's artifact read and
    // resident build (one collect job) overlaps the others'
    val specs = (meta \ "ops").extract[List[JObject]]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, specs.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val ops = try specs.map(o => Future(withResidentTable(instantiate(o, spark))))
      .map(Await.result(_, Duration.Inf))
    finally pool.shutdown()
    Ensemble(ops, schema)
  }

  /** A serving op with its side table made resident; nested graphs
    * recurse. */
  private def withResidentTable(op: EnsembleOp): EnsembleOp = op match {
    case q: QueryFeatureStore => q.withResidentTable
    case a: AnnLsh => a.withResidentTable
    case a: AnnIvf => a.withResidentTable
    case e: Ensemble => e.copy(ops = e.ops.map(withResidentTable))
    case other => other
  }

  // ---- per-op (de)serialization ---------------------------------------

  private def artifactPath(dir: String, i: String, kind: String) =
    s"$dir/artifacts/${i}_$kind"

  private def describe(op: EnsembleOp, i: String, dir: String,
      spark: SparkSession): JObject = op match {
    case Selection(cols) =>
      ("type" -> "Selection") ~ ("cols" -> cols)
    case SelectByTag(tags, keep) =>
      ("type" -> "SelectByTag") ~ ("tags" -> tags) ~ ("keep" -> keep)
    case Rename(m) =>
      ("type" -> "Rename") ~ ("mapping" -> m)
    case FilterCandidates(in, f, out) =>
      ("type" -> "FilterCandidates") ~ ("inputCol" -> in) ~
        ("filterCol" -> f) ~ ("outputCol" -> out)
    case SoftmaxSampling(ids, rel, t, k, seed, seedCol) =>
      ("type" -> "SoftmaxSampling") ~ ("idsCol" -> ids) ~
        ("relevanceCol" -> rel) ~ ("temperature" -> t) ~ ("topk" -> k) ~
        ("seed" -> seed) ~ ("seedCol" -> seedCol)
    case ExplodeCandidates(in, out) =>
      ("type" -> "ExplodeCandidates") ~ ("inputCol" -> in) ~ ("outputCol" -> out)
    case Padding(c, l, v) =>
      ("type" -> "Padding") ~ ("inputCol" -> c) ~ ("length" -> l) ~ ("padValue" -> v)
    case Categorify(cols, suffix, budget) =>
      ("type" -> "Categorify") ~ ("cols" -> cols) ~ ("suffix" -> suffix) ~
        ("broadcastBudgetBytes" -> budget)
    case StandardScale(cols, suffix) =>
      ("type" -> "StandardScale") ~ ("cols" -> cols) ~ ("suffix" -> suffix)
    // ---- BOUND (fit-once) twins: fitted dictionaries persist as parquet
    // side artifacts, fitted scalars as STRING-encoded doubles (JSON
    // double rendering is round-trippable, but strings make it
    // self-evident) — the reference's export workflow is exactly
    // fit offline → save → serve the reload (workflow.py:24-116), so a
    // FITTED ensemble must round-trip, not only its unfitted recipe.
    case cb: graft.ops.CategorifyBound =>
      val dicts = cb.cols.map { c =>
        val p = artifactPath(dir, i, s"categorify_dict_$c")
        cb.dicts(c)._1.write.mode("overwrite").parquet(p)
        c -> (("path" -> p) ~ ("broadcast" -> cb.dicts(c)._2))
      }
      ("type" -> "CategorifyBound") ~ ("cols" -> cb.cols) ~
        ("suffix" -> cb.suffix) ~ ("dicts" -> JObject(dicts: _*))
    case te: graft.ops.TargetEncodingBound =>
      val dicts = te.catCols.map { c =>
        val p = artifactPath(dir, i, s"te_dict_$c")
        te.dicts(c)._1.write.mode("overwrite").parquet(p)
        c -> (("path" -> p) ~ ("broadcast" -> te.dicts(c)._2))
      }
      ("type" -> "TargetEncodingBound") ~ ("catCols" -> te.catCols) ~
        ("targetCol" -> te.targetCol) ~ ("smoothing" -> te.smoothing) ~
        ("leaveOneOut" -> te.leaveOneOut) ~ ("suffix" -> te.suffix) ~
        ("prior" -> te.prior.toString) ~ ("integral" -> te.integral) ~
        ("dicts" -> JObject(dicts: _*))
    case jg: graft.ops.JoinGroupbyBound =>
      val p = artifactPath(dir, i, "joingroupby_dict")
      jg.dict.write.mode("overwrite").parquet(p)
      ("type" -> "JoinGroupbyBound") ~ ("keyCol" -> jg.keyCol) ~
        ("outFieldsJson" -> StructType(jg.outFields).json) ~
        ("path" -> p) ~ ("broadcast" -> jg.broadcastIt)
    case fm: graft.ops.FillMissingBound =>
      val consts = fm.constants.map { case (c, v) =>
        val (tag, str) = v match {
          case s: String => ("string", s)
          case l: Long => ("long", l.toString)
          case x: Int => ("int", x.toString)
          case dd: Double => ("double", dd.toString)
          case b: Boolean => ("boolean", b.toString)
          case other => throw new IllegalArgumentException(
            s"FillMissingBound: unsupported constant type ${other.getClass.getName}")
        }
        c -> List(tag, str)
      }
      ("type" -> "FillMissingBound") ~ ("constants" -> consts) ~
        ("medians" -> fm.medians.map { case (c, m) => c -> m.toString }) ~
        ("medianCols" -> fm.medianCols) ~ ("suffix" -> fm.suffix)
    case sb: graft.ops.StandardScaleBound =>
      ("type" -> "StandardScaleBound") ~ ("cols" -> sb.cols) ~
        ("suffix" -> sb.suffix) ~
        ("moments" -> sb.moments.map { case (c, (m, sd)) =>
          c -> List(m.toString, sd.toString) })
    case q: QueryFeatureStore =>
      val p = artifactPath(dir, i, "feature_view")
      q.features.write.mode("overwrite").parquet(p)
      ("type" -> "QueryFeatureStore") ~ ("path" -> p) ~
        ("entityCol" -> q.entityCol) ~ ("featureCols" -> q.featureCols) ~
        ("includeId" -> q.includeId) ~ ("outputPrefix" -> q.outputPrefix) ~
        ("broadcastDim" -> q.broadcastDim)
    case ns: NegativeSampling =>
      val p = artifactPath(dir, i, "neg_catalog")
      ns.catalog.write.mode("overwrite").parquet(p)
      ("type" -> "NegativeSampling") ~ ("path" -> p) ~
        ("userCol" -> ns.userCol) ~ ("itemCol" -> ns.itemCol) ~
        ("catalogItemCol" -> ns.catalogItemCol) ~ ("k" -> ns.k) ~
        ("attempts" -> ns.attempts) ~ ("salt" -> ns.salt) ~
        ("outputCol" -> ns.outputCol) ~ ("rankCol" -> ns.rankCol) ~
        ("broadcastBudgetBytes" -> ns.broadcastBudgetBytes)
    case iv: IntervalJoin =>
      val pth = artifactPath(dir, i, "intervals")
      iv.intervals.write.mode("overwrite").parquet(pth)
      ("type" -> "IntervalJoin") ~ ("path" -> pth) ~
        ("keyCol" -> iv.keyCol) ~ ("startCol" -> iv.startCol) ~
        ("endCol" -> iv.endCol) ~ ("pointTsCol" -> iv.pointTsCol) ~
        ("bucketSize" -> iv.bucketSize) ~ ("outputPrefix" -> iv.outputPrefix)
    case p: PointInTimeJoin =>
      val pth = artifactPath(dir, i, "pit_features")
      p.features.write.mode("overwrite").parquet(pth)
      ("type" -> "PointInTimeJoin") ~ ("path" -> pth) ~
        ("entityCol" -> p.entityCol) ~ ("tsCol" -> p.tsCol) ~
        ("featureCols" -> p.featureCols) ~ ("outputPrefix" -> p.outputPrefix)
    case e: EmbeddingLookup =>
      val p = artifactPath(dir, i, "embeddings")
      e.embeddings.write.mode("overwrite").parquet(p)
      ("type" -> "EmbeddingLookup") ~ ("path" -> p) ~ ("idCol" -> e.idCol) ~
        ("embIdCol" -> e.embIdCol) ~ ("embCol" -> e.embCol) ~
        ("outputCol" -> e.outputCol)
    case u: UnrollFeatures =>
      val p = artifactPath(dir, i, "user_features")
      u.userFeatures.write.mode("overwrite").parquet(p)
      ("type" -> "UnrollFeatures") ~ ("path" -> p) ~
        ("unrollCols" -> u.unrollCols) ~ ("on" -> u.on) ~ ("prefix" -> u.prefix)
    case sj: SaltedJoin =>
      val p = artifactPath(dir, i, "salted_dim")
      sj.dim.write.mode("overwrite").parquet(p)
      ("type" -> "SaltedJoin") ~ ("path" -> p) ~ ("on" -> sj.on) ~
        ("saltBy" -> sj.saltBy) ~ ("saltBuckets" -> sj.saltBuckets) ~
        ("joinType" -> sj.joinType)
    case w: TransformWorkflow =>
      val p = artifactPath(dir, i, "pipeline_model")
      w.model.write.overwrite().save(p)
      ("type" -> "TransformWorkflow") ~ ("path" -> p)
    case c: ConcatColumns =>
      val p = artifactPath(dir, i, "concat_branch")
      c.other.write.mode("overwrite").parquet(p)
      ("type" -> "ConcatColumns") ~ ("path" -> p) ~ ("on" -> c.on)
    case FilterCandidatesWithScores(ids, sc, f, oi, os) =>
      ("type" -> "FilterCandidatesWithScores") ~ ("idsCol" -> ids) ~
        ("scoresCol" -> sc) ~ ("filterCol" -> f) ~
        ("outIdsCol" -> oi) ~ ("outScoresCol" -> os)
    // ---- retrieval ops: feature table as a parquet side artifact, the
    // analog of the reference copying the FAISS index dir (faiss.py:75-78)
    case t: TopKRetrieval =>
      val p = artifactPath(dir, i, "topk_items")
      t.items.write.mode("overwrite").parquet(p)
      ("type" -> "TopKRetrieval") ~ ("path" -> p) ~
        ("queryIdCol" -> t.queryIdCol) ~ ("queryVecCol" -> t.queryVecCol) ~
        ("itemIdCol" -> t.itemIdCol) ~ ("itemVecCol" -> t.itemVecCol) ~
        ("k" -> t.k) ~ ("metric" -> t.metric) ~ ("outputCol" -> t.outputCol)
    case a: AnnLsh =>
      val p = artifactPath(dir, i, "ann_items")
      a.items.write.mode("overwrite").parquet(p)
      // always persist the RESOLVED center: a reloaded op must bucket with
      // the exact fit-time hyperplanes, not a recomputed (order-sensitive)
      // mean
      ("type" -> "AnnLsh") ~ ("path" -> p) ~
        ("queryIdCol" -> a.queryIdCol) ~ ("queryVecCol" -> a.queryVecCol) ~
        ("itemIdCol" -> a.itemIdCol) ~ ("itemVecCol" -> a.itemVecCol) ~
        ("k" -> a.k) ~ ("numBits" -> a.numBits) ~ ("nprobe" -> a.nprobe) ~
        ("metric" -> a.metric) ~ ("center" -> a.resolvedCenter)
    case a: AnnIvf =>
      val p = artifactPath(dir, i, "ivf_items")
      a.items.write.mode("overwrite").parquet(p)
      ("type" -> "AnnIvf") ~ ("path" -> p) ~
        ("queryIdCol" -> a.queryIdCol) ~ ("queryVecCol" -> a.queryVecCol) ~
        ("itemIdCol" -> a.itemIdCol) ~ ("itemVecCol" -> a.itemVecCol) ~
        ("k" -> a.k) ~ ("nprobe" -> a.nprobe) ~ ("metric" -> a.metric) ~
        ("centers" -> a.centers.map(_.toList).toList)
    case a: AnnSq =>
      val p = artifactPath(dir, i, "sq_items")
      a.items.write.mode("overwrite").parquet(p)
      // fitted state is all plain doubles: coarse centroids + the per-dim
      // scalar range (steps derive from mins/maxs, never persisted)
      ("type" -> "AnnSq") ~ ("path" -> p) ~
        ("queryIdCol" -> a.queryIdCol) ~ ("queryVecCol" -> a.queryVecCol) ~
        ("itemIdCol" -> a.itemIdCol) ~ ("itemVecCol" -> a.itemVecCol) ~
        ("k" -> a.k) ~ ("nprobe" -> a.nprobe) ~
        ("centers" -> a.centers.map(_.toList).toList) ~
        ("mins" -> a.mins.toList) ~ ("maxs" -> a.maxs.toList)
    case a: AnnIvfPq =>
      val p = artifactPath(dir, i, "pq_items")
      a.items.write.mode("overwrite").parquet(p)
      ("type" -> "AnnIvfPq") ~ ("path" -> p) ~
        ("queryIdCol" -> a.queryIdCol) ~ ("queryVecCol" -> a.queryVecCol) ~
        ("itemIdCol" -> a.itemIdCol) ~ ("itemVecCol" -> a.itemVecCol) ~
        ("k" -> a.k) ~ ("nprobe" -> a.nprobe) ~ ("refine" -> a.refine) ~
        ("centers" -> a.centers.map(_.toList).toList) ~
        ("codebooks" -> a.codebooks.map(_.map(_.toList).toList).toList)
    case bi: Bm25Index =>
      // the inverted index IS the fitted state: postings + df table as
      // parquet side artifacts, the two corpus scalars inline (avgdl
      // round-trips bit-exact — shortest-repr double printing)
      val pp = artifactPath(dir, i, "bm25_postings")
      val pd = artifactPath(dir, i, "bm25_dfreq")
      bi.postings.write.mode("overwrite").parquet(pp)
      bi.dfreq.write.mode("overwrite").parquet(pd)
      ("type" -> "Bm25Index") ~ ("postingsPath" -> pp) ~ ("dfreqPath" -> pd) ~
        ("docCount" -> bi.docCount) ~ ("avgdl" -> bi.avgdl) ~
        ("queryIdCol" -> bi.queryIdCol) ~ ("queryTextCol" -> bi.queryTextCol) ~
        ("k" -> bi.k) ~ ("k1" -> bi.k1) ~ ("b" -> bi.b) ~
        ("outputCol" -> bi.outputCol)
    // ---- model ops: MLlib's own writers (reference pickles model
    // artifacts into the ensemble dir, ensemble.py:80-145 + implicit.py:58-71)
    case f: PredictForest[_] =>
      val p = artifactPath(dir, i, "forest_model")
      f.model.asInstanceOf[org.apache.spark.ml.util.MLWritable]
        .write.overwrite().save(p)
      ("type" -> "PredictForest") ~ ("path" -> p) ~
        ("modelClass" -> f.model.getClass.getName) ~
        ("featureCols" -> f.featureCols) ~ ("outputCol" -> f.outputCol)
    case f: PredictForestClassifier =>
      val p = artifactPath(dir, i, "forest_classifier")
      f.model.write.overwrite().save(p)
      ("type" -> "PredictForestClassifier") ~ ("path" -> p) ~
        ("featureCols" -> f.featureCols) ~ ("predictProba" -> f.predictProba) ~
        ("outputClass" -> f.outputClass) ~ ("threshold" -> f.threshold) ~
        ("outputCol" -> f.outputCol)
    case x: XgbForest =>
      // the parsed node arrays ARE the model — no side artifact; the
      // saved ensemble round-trips even without the original json file
      ("type" -> "XgbForest") ~
        ("trees" -> x.trees.map(t =>
          ("left" -> t.leftChildren.toList) ~ ("right" -> t.rightChildren.toList) ~
            ("idx" -> t.splitIndices.toList) ~ ("cond" -> t.splitConditions.toList) ~
            ("dflt" -> t.defaultLeft.toList)).toList) ~
        ("treeInfo" -> x.treeInfo.toList) ~ ("baseScore" -> x.baseScore) ~
        ("objective" -> x.objective) ~ ("numClass" -> x.numClass) ~
        ("featureCols" -> x.featureCols) ~ ("predictProba" -> x.predictProba) ~
        ("outputClass" -> x.outputClass) ~ ("threshold" -> x.threshold) ~
        ("outputMargin" -> x.outputMargin) ~ ("outputCol" -> x.outputCol)
    case x: SklForest =>
      // like XgbForest: the parsed per-class node arrays ARE the model
      ("type" -> "SklForest") ~
        ("trees" -> x.trees.map(_.map(t =>
          ("left" -> t.leftChildren.toList) ~ ("right" -> t.rightChildren.toList) ~
            ("idx" -> t.splitIndices.toList) ~ ("cond" -> t.splitConditions.toList) ~
            ("dflt" -> t.defaultLeft.toList)).toList).toList) ~
        ("classes" -> x.classes.toList) ~ ("featureCols" -> x.featureCols) ~
        ("predictProba" -> x.predictProba) ~ ("failOnNull" -> x.failOnNull) ~
        ("outputCol" -> x.outputCol)
    case m: PredictImplicit =>
      // pure-data artifact: the factor TABLES persist as parquet (the
      // reference's .npz discipline, implicit.py:58-71) — loading needs
      // no MLlib reader and carries no live model state
      val pu = artifactPath(dir, i, "user_factors")
      val pv = artifactPath(dir, i, "item_factors")
      m.userFactors.write.mode("overwrite").parquet(pu)
      m.itemFactors.write.mode("overwrite").parquet(pv)
      ("type" -> "PredictImplicit") ~ ("userPath" -> pu) ~ ("itemPath" -> pv) ~
        ("numToRecommend" -> m.numToRecommend) ~ ("userCol" -> m.userCol) ~
        ("broadcastBudgetBytes" -> m.broadcastBudgetBytes)
    case c: PredictClassifier =>
      val p = artifactPath(dir, i, "lr_model")
      c.model.write.overwrite().save(p)
      ("type" -> "PredictClassifier") ~ ("path" -> p) ~
        ("featuresArrayCol" -> c.featuresArrayCol) ~ ("outputCol" -> c.outputCol)
    // ---- dedup / multimodal ops are pure parameters
    case HashSplit(id, tr, va, salt, out) =>
      ("type" -> "HashSplit") ~ ("idCol" -> id) ~ ("trainBp" -> tr) ~
        ("validBp" -> va) ~ ("salt" -> salt) ~ ("outputCol" -> out)
    case TrailingWindowFeatures(entity, ts, value, horizons, suffix) =>
      ("type" -> "TrailingWindowFeatures") ~ ("entityCol" -> entity) ~
        ("tsCol" -> ts) ~ ("valueCol" -> value) ~
        ("horizons" -> horizons.toList) ~ ("suffix" -> suffix)
    case BpeTokenize(merges, text, out, maxExpr) =>
      ("type" -> "BpeTokenize") ~ ("textCol" -> text) ~
        ("outputCol" -> out) ~ ("maxExprMerges" -> maxExpr) ~
        ("merges" -> merges.map { case (a, b) => List(a, b) }.toList)
    case StratifiedSample(id, strata, fr, dflt, salt) =>
      ("type" -> "StratifiedSample") ~ ("idCol" -> id) ~
        ("strataCol" -> strata) ~ ("fractionsBp" -> fr) ~
        ("defaultBp" -> dflt) ~ ("salt" -> salt)
    case WeightedSampleByGroup(strata, wc, id, k, salt, rank) =>
      ("type" -> "WeightedSampleByGroup") ~ ("strataCol" -> strata) ~
        ("weightCol" -> wc) ~ ("idCol" -> id) ~ ("k" -> k) ~
        ("salt" -> salt) ~ ("rankCol" -> rank)
    case UpsampleMix(id, strata, w, dflt, salt, ep) =>
      ("type" -> "UpsampleMix") ~ ("idCol" -> id) ~
        ("strataCol" -> strata) ~ ("weightsBp" -> w) ~
        ("defaultBp" -> dflt) ~ ("salt" -> salt) ~ ("epochCol" -> ep)
    case ScrubSharedGrams(id, text, n, md, out) =>
      ("type" -> "ScrubSharedGrams") ~ ("idCol" -> id) ~ ("textCol" -> text) ~
        ("n" -> n) ~ ("minDocs" -> md) ~ ("outputCol" -> out)
    case TopFractionByGroup(strata, score, id, fr, dflt, approx, rank) =>
      ("type" -> "TopFractionByGroup") ~ ("strataCol" -> strata) ~
        ("scoreCol" -> score) ~ ("idCol" -> id) ~ ("fracsBp" -> fr) ~
        ("defaultBp" -> dflt) ~ ("approx" -> approx) ~ ("rankCol" -> rank)
    case DocumentChunks(id, text, cs, ov) =>
      ("type" -> "DocumentChunks") ~ ("idCol" -> id) ~ ("textCol" -> text) ~
        ("chunkSize" -> cs) ~ ("overlap" -> ov)
    case SkewReport(keys, topK) =>
      ("type" -> "SkewReport") ~ ("keyCols" -> keys) ~ ("topK" -> topK)
    case ResizeMedia(id, content, factor) =>
      ("type" -> "ResizeMedia") ~ ("idCol" -> id) ~
        ("contentCol" -> content) ~ ("factor" -> factor)
    case MediaEmbed(id, content, dim, norm, out) =>
      ("type" -> "MediaEmbed") ~ ("idCol" -> id) ~ ("contentCol" -> content) ~
        ("dim" -> dim) ~ ("normalized" -> norm) ~ ("outputCol" -> out)
    case MixturePlan(strata, toks, w, budget, dflt) =>
      ("type" -> "MixturePlan") ~ ("strataCol" -> strata) ~
        ("tokensCol" -> toks) ~ ("weightsBp" -> w) ~
        ("budgetTokens" -> budget) ~ ("defaultBp" -> dflt)
    case PcaProject(comps, id, vec, out) =>
      ("type" -> "PcaProject") ~ ("components" -> comps) ~ ("idCol" -> id) ~
        ("vecCol" -> vec) ~ ("outputCol" -> out)
    case QuantizeEmbeddings(id, vec, lv) =>
      ("type" -> "QuantizeEmbeddings") ~ ("idCol" -> id) ~ ("vecCol" -> vec) ~
        ("levels" -> lv)
    case m: MaterializeFeatureView =>
      val p = artifactPath(dir, i, "mv_updates")
      m.updates.write.mode("overwrite").parquet(p)
      ("type" -> "MaterializeFeatureView") ~ ("path" -> p) ~
        ("keyCols" -> m.keyCols) ~ ("orderCol" -> m.orderCol) ~
        ("tieCol" -> m.tieCol)
    case dc: Decontaminate =>
      val p = artifactPath(dir, i, "eval_corpus")
      dc.eval.select(dc.evalTextCol).write.mode("overwrite").parquet(p)
      ("type" -> "Decontaminate") ~ ("path" -> p) ~ ("idCol" -> dc.idCol) ~
        ("textCol" -> dc.textCol) ~ ("evalTextCol" -> dc.evalTextCol) ~
        ("n" -> dc.n)
    // the sketch is refit from the persisted eval corpus on load (it is
    // derived state, seed-free and cheap next to the parquet write)
    case bd: BloomDecontaminate =>
      val p = artifactPath(dir, i, "eval_corpus")
      bd.eval.select(bd.evalTextCol).write.mode("overwrite").parquet(p)
      ("type" -> "BloomDecontaminate") ~ ("path" -> p) ~ ("idCol" -> bd.idCol) ~
        ("textCol" -> bd.textCol) ~ ("evalTextCol" -> bd.evalTextCol) ~
        ("n" -> bd.n) ~ ("fpp" -> bd.fpp) ~
        ("sketchBudgetBytes" -> bd.sketchBudgetBytes)
    // the reference corpus is the fitted state (the frequency table is
    // derived from it deterministically on load, like the Bloom sketch)
    case lm: NgramLmScore =>
      val p = artifactPath(dir, i, "lm_reference")
      lm.reference.select(lm.refTextCol).write.mode("overwrite").parquet(p)
      ("type" -> "NgramLmScore") ~ ("path" -> p) ~ ("idCol" -> lm.idCol) ~
        ("textCol" -> lm.textCol) ~ ("refTextCol" -> lm.refTextCol) ~
        ("n" -> lm.n) ~ ("oovMaxCount" -> lm.oovMaxCount)
    case sh: ShardShuffle =>
      ("type" -> "ShardShuffle") ~ ("idCol" -> sh.idCol) ~
        ("shards" -> sh.shards) ~ ("salt" -> sh.salt) ~
        ("shardCol" -> sh.shardCol) ~ ("posCol" -> sh.posCol)
    // the baseline snapshot is the fitted state; only the monitored
    // columns persist (the report never reads anything else)
    case dr: DriftReport =>
      val p = artifactPath(dir, i, "drift_baseline")
      dr.baseline.select(dr.splits.keys.toSeq.sorted
          .map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").parquet(p)
      ("type" -> "DriftReport") ~ ("path" -> p) ~
        ("features" -> dr.splits.keys.toSeq.sorted) ~
        ("splits" -> dr.splits.keys.toSeq.sorted.map(dr.splits)) ~
        ("thresholdBp" -> dr.thresholdBp)
    case pg: Purge =>
      val p = artifactPath(dir, i, "tombstones")
      pg.tombstones.select(pg.idCol).distinct().write.mode("overwrite").parquet(p)
      ("type" -> "Purge") ~ ("path" -> p) ~ ("idCol" -> pg.idCol) ~
        ("textCol" -> pg.textCol) ~ ("normalized" -> pg.normalized)
    case fd: FuzzyDecontaminate =>
      val p = artifactPath(dir, i, "eval_corpus")
      fd.eval.select(fd.evalTextCol).write.mode("overwrite").parquet(p)
      ("type" -> "FuzzyDecontaminate") ~ ("path" -> p) ~ ("idCol" -> fd.idCol) ~
        ("textCol" -> fd.textCol) ~ ("evalTextCol" -> fd.evalTextCol) ~
        ("n" -> fd.n) ~ ("thresholdBp" -> fd.thresholdBp) ~
        ("banded" -> fd.banded) ~ ("numHashes" -> fd.numHashes) ~
        ("bands" -> fd.bands)
    // the eval embeddings are the fitted state; centroids (when probed)
    // persist as plain parameter doubles like SemanticNearDup's
    case sd: SemanticDecontaminate =>
      val p = artifactPath(dir, i, "eval_embeddings")
      sd.eval.select(sd.evalVecCol).write.mode("overwrite").parquet(p)
      ("type" -> "SemanticDecontaminate") ~ ("path" -> p) ~
        ("idCol" -> sd.idCol) ~ ("vecCol" -> sd.vecCol) ~
        ("evalVecCol" -> sd.evalVecCol) ~ ("threshold" -> sd.threshold) ~
        ("centers" -> sd.centers) ~ ("nprobe" -> sd.nprobe)
    // the old snapshot persists as its (id, text) projection — the op
    // re-derives digests on load, keeping `normalized` re-configurable
    case sn: SnapshotDiff =>
      val p = artifactPath(dir, i, "old_snapshot")
      sn.old.select(sn.idCol, sn.textCol).write.mode("overwrite").parquet(p)
      ("type" -> "SnapshotDiff") ~ ("path" -> p) ~ ("idCol" -> sn.idCol) ~
        ("textCol" -> sn.textCol) ~ ("normalized" -> sn.normalized)
    case PrefixDedup(id, text, n) =>
      ("type" -> "PrefixDedup") ~ ("idCol" -> id) ~ ("textCol" -> text) ~
        ("n" -> n)
    case MlpScorer(layers, vec, out) =>
      ("type" -> "MlpScorer") ~ ("vecCol" -> vec) ~ ("outputCol" -> out) ~
        ("layers" -> layers.map(l =>
          ("weights" -> l.weights.map(_.toList).toList) ~
            ("bias" -> l.bias.toList) ~ ("activation" -> l.activation)))
    // the two incremental-ingest ops persist their accepted-corpus index
    // (digests / signatures) as the parquet side artifact — the exact
    // state updatedIndex hands to the next batch
    case idd: IncrementalDedup =>
      val p = artifactPath(dir, i, "accepted_digests")
      idd.index.select(idd.indexDigestCol).write.mode("overwrite").parquet(p)
      ("type" -> "IncrementalDedup") ~ ("path" -> p) ~
        ("indexDigestCol" -> idd.indexDigestCol) ~ ("idCol" -> idd.idCol) ~
        ("textCol" -> idd.textCol) ~ ("normalized" -> idd.normalized)
    case im: IncrementalMinHashDedup =>
      val p = artifactPath(dir, i, "accepted_signatures")
      im.index.select(im.indexIdCol, im.indexSigCol)
        .write.mode("overwrite").parquet(p)
      ("type" -> "IncrementalMinHashDedup") ~ ("path" -> p) ~
        ("indexIdCol" -> im.indexIdCol) ~ ("indexSigCol" -> im.indexSigCol) ~
        ("idCol" -> im.idCol) ~ ("textCol" -> im.textCol) ~
        ("n" -> im.n) ~ ("numHashes" -> im.numHashes) ~
        ("bands" -> im.bands) ~ ("thresholdBp" -> im.thresholdBp)
    case PackChunks(id, ord, tok, budget, shards, salt) =>
      ("type" -> "PackChunks") ~ ("idCol" -> id) ~ ("orderCol" -> ord) ~
        ("tokensCol" -> tok) ~ ("budget" -> budget) ~ ("shards" -> shards) ~
        ("salt" -> salt)
    case ExactDedup(id, text, norm) =>
      ("type" -> "ExactDedup") ~ ("idCol" -> id) ~ ("textCol" -> text) ~
        ("normalized" -> norm)
    case NgramJaccardDedup(id, text, n, bp) =>
      ("type" -> "NgramJaccardDedup") ~ ("idCol" -> id) ~ ("textCol" -> text) ~
        ("n" -> n) ~ ("thresholdBp" -> bp)
    case MinHashDedup(id, text, n, h, b, bp) =>
      ("type" -> "MinHashDedup") ~ ("idCol" -> id) ~ ("textCol" -> text) ~
        ("n" -> n) ~ ("numHashes" -> h) ~ ("bands" -> b) ~ ("thresholdBp" -> bp)
    case SimHashDedup(id, text, n, mh, hc) =>
      ("type" -> "SimHashDedup") ~ ("idCol" -> id) ~ ("textCol" -> text) ~
        ("n" -> n) ~ ("maxHamming" -> mh) ~ ("hashCol" -> hc)
    case dc: DupClusters =>
      val base = ("type" -> "DupClusters") ~ ("docIdCol" -> dc.docIdCol) ~
        ("aCol" -> dc.aCol) ~ ("bCol" -> dc.bCol) ~ ("maxIters" -> dc.maxIters) ~
        ("edgeBudget" -> dc.edgeBudget)
      dc.allDocs match {
        case Some(d) =>
          val p = artifactPath(dir, i, "all_docs")
          d.select(dc.docIdCol).write.mode("overwrite").parquet(p)
          base ~ ("path" -> p)
        case None => base
      }
    case CosineNearDup(id, vec, th, exact, bits, tables, ctr) =>
      ("type" -> "CosineNearDup") ~ ("idCol" -> id) ~ ("vecCol" -> vec) ~
        ("threshold" -> th) ~ ("exact" -> exact) ~ ("numBits" -> bits) ~
        ("numTables" -> tables) ~ ("center" -> ctr.map(_.toList))
    case SemanticNearDup(cs, id, vec, th) =>
      ("type" -> "SemanticNearDup") ~ ("centers" -> cs.map(_.toList).toList) ~
        ("idCol" -> id) ~ ("vecCol" -> vec) ~ ("threshold" -> th)
    case ev: EvalRanking =>
      val p = artifactPath(dir, i, "relevance_set")
      ev.relevant.select(ev.queryCol, ev.itemCol).distinct()
        .write.mode("overwrite").parquet(p)
      ("type" -> "EvalRanking") ~ ("path" -> p) ~ ("k" -> ev.k) ~
        ("queryCol" -> ev.queryCol) ~ ("itemCol" -> ev.itemCol) ~
        ("rankCol" -> ev.rankCol)
    case CalibrateScores(bs, ps, sc, out) =>
      ("type" -> "CalibrateScores") ~ ("boundaries" -> bs.toList) ~
        ("predictions" -> ps.toList) ~ ("scoreCol" -> sc) ~ ("outputCol" -> out)
    case ResampleLocf(e, t, v, tie) =>
      ("type" -> "ResampleLocf") ~ ("entityCol" -> e) ~ ("tsCol" -> t) ~
        ("valueCol" -> v) ~ ("tieCol" -> tie)
    case BoilerplateReport(id, text, n, md, tk) =>
      ("type" -> "BoilerplateReport") ~ ("idCol" -> id) ~ ("textCol" -> text) ~
        ("n" -> n) ~ ("minDocs" -> md) ~ ("topK" -> tk)
    case q: QuantizerDrift =>
      // reference catalog as a parquet side artifact (the TopKRetrieval
      // convention); centers inline — fit-time literals, never refit
      val p = artifactPath(dir, i, "drift_reference")
      q.reference.write.mode("overwrite").parquet(p)
      ("type" -> "QuantizerDrift") ~
        ("centers" -> q.centers.map(_.toList).toList) ~
        ("path" -> p) ~ ("idCol" -> q.idCol) ~ ("vecCol" -> q.vecCol)
    case ClusterAssign(cs, id, vec, wd) =>
      ("type" -> "ClusterAssign") ~ ("centers" -> cs.map(_.toList).toList) ~
        ("idCol" -> id) ~ ("vecCol" -> vec) ~ ("withDistance" -> wd)
    case TextQualityClassifier(coef, b0, text, nb, salt) =>
      ("type" -> "TextQualityClassifier") ~ ("coefficients" -> coef.toList) ~
        ("intercept" -> b0) ~ ("textCol" -> text) ~ ("numBuckets" -> nb) ~
        ("salt" -> salt)
    case q: QualitySignals =>
      ("type" -> "QualitySignals") ~ ("textCol" -> q.textCol) ~
        ("keyCols" -> q.keyCols) ~ ("minTokens" -> q.minTokens) ~
        ("minTtrBp" -> q.minTtrBp)
    // the prior signal table persists whole (it IS the op's state);
    // the signal op nests recursively like Ensemble's sub-ops
    case sr: SignalReconcile =>
      val p = artifactPath(dir, i, "prior_signals")
      sr.prior.write.mode("overwrite").parquet(p)
      ("type" -> "SignalReconcile") ~ ("path" -> p) ~
        ("idCol" -> sr.idCol) ~ ("hashCol" -> sr.hashCol) ~
        ("signal" -> describe(sr.signal, s"${i}_sig", dir, spark))
    case r: RepetitionStats =>
      ("type" -> "RepetitionStats") ~ ("textCol" -> r.textCol) ~
        ("idCol" -> r.idCol) ~ ("topNs" -> r.topNs) ~ ("dupNs" -> r.dupNs) ~
        ("topBpMax" -> r.topBpMax.map { case (k, v) => k.toString -> v }) ~
        ("dupBpMax" -> r.dupBpMax.map { case (k, v) => k.toString -> v })
    case v: ValidateRequests =>
      ("type" -> "ValidateRequests") ~ ("nonNull" -> v.nonNull) ~
        ("errorCol" -> v.errorCol) ~
        ("ranges" -> v.ranges.map { case (c, (lo, hi)) => c -> List(lo, hi) })
    case MaskPii(text, out) =>
      ("type" -> "MaskPii") ~ ("textCol" -> text) ~ ("outCol" -> out)
    case b: Bucketize =>
      ("type" -> "Bucketize") ~ ("suffix" -> b.suffix) ~
        ("splits" -> b.splits.map { case (c, s) => c -> s.toList })
    case t: TrainingSequences =>
      ("type" -> "TrainingSequences") ~ ("entityCol" -> t.entityCol) ~
        ("orderCol" -> t.orderCol) ~ ("tieCol" -> t.tieCol) ~
        ("featureCol" -> t.featureCol) ~ ("contextLen" -> t.contextLen)
    case NormalizeEmbeddings(vec, out) =>
      ("type" -> "NormalizeEmbeddings") ~ ("vecCol" -> vec) ~ ("outCol" -> out)
    case MeanPoolEmbeddings(key, vec) =>
      ("type" -> "MeanPoolEmbeddings") ~ ("keyCol" -> key) ~ ("vecCol" -> vec)
    case DecodeMedia(id, content, prefix) =>
      ("type" -> "DecodeMedia") ~ ("idCol" -> id) ~ ("contentCol" -> content) ~
        ("outputPrefix" -> prefix)
    case SampleFrames(id, content, fb, st) =>
      ("type" -> "SampleFrames") ~ ("idCol" -> id) ~ ("contentCol" -> content) ~
        ("frameBytes" -> fb) ~ ("stride" -> st)
    case rrf: ReciprocalRankFusion =>
      val p = artifactPath(dir, i, "rrf_other")
      rrf.other.write.mode("overwrite").parquet(p)
      ("type" -> "ReciprocalRankFusion") ~ ("path" -> p) ~
        ("queryCol" -> rrf.queryCol) ~ ("itemCol" -> rrf.itemCol) ~
        ("rankCol" -> rrf.rankCol) ~ ("k0" -> rrf.k0) ~ ("topk" -> rrf.topk) ~
        ("outputCol" -> rrf.outputCol)
    case te: TargetEncoding =>
      ("type" -> "TargetEncoding") ~ ("catCols" -> te.catCols) ~
        ("targetCol" -> te.targetCol) ~ ("smoothing" -> te.smoothing) ~
        ("leaveOneOut" -> te.leaveOneOut) ~ ("suffix" -> te.suffix) ~
        ("broadcastBudgetBytes" -> te.broadcastBudgetBytes)
    case jg: JoinGroupby =>
      ("type" -> "JoinGroupby") ~ ("keyCol" -> jg.keyCol) ~
        ("valueCols" -> jg.valueCols) ~ ("stats" -> jg.stats) ~
        ("broadcastBudgetBytes" -> jg.broadcastBudgetBytes)
    case HashBucket(cols, n, salt, suffix) =>
      ("type" -> "HashBucket") ~ ("cols" -> cols) ~ ("numBuckets" -> n) ~
        ("salt" -> salt) ~ ("suffix" -> suffix)
    case fm: FillMissing =>
      // constants carry heterogeneous types: persist (value, tag) pairs so
      // the literal's dtype round-trips (json alone would widen ints)
      val consts = fm.constants.map { case (c, v) =>
        val (tag, str) = v match {
          case s: String => ("string", s)
          case l: Long => ("long", l.toString)
          case i: Int => ("int", i.toString)
          case d: Double => ("double", d.toString)
          case b: Boolean => ("boolean", b.toString)
          case other => throw new IllegalArgumentException(
            s"FillMissing: unsupported constant type ${other.getClass.getName}")
        }
        c -> List(tag, str)
      }
      ("type" -> "FillMissing") ~ ("constants" -> consts) ~
        ("medianCols" -> fm.medianCols) ~ ("approxMedian" -> fm.approxMedian) ~
        ("suffix" -> fm.suffix)
    case cl: Clip =>
      ("type" -> "Clip") ~ ("suffix" -> cl.suffix) ~
        ("bounds" -> cl.bounds.map { case (c, (lo, hi)) =>
          c -> List(lo.map(_.toString).getOrElse(""), hi.map(_.toString).getOrElse("")) })
    case LogTransform(cols, suffix) =>
      ("type" -> "LogTransform") ~ ("cols" -> cols) ~ ("suffix" -> suffix)
    case ls: ListSlice =>
      ("type" -> "ListSlice") ~ ("cols" -> ls.cols) ~ ("start" -> ls.start) ~
        ("end" -> ls.end) ~ ("suffix" -> ls.suffix)
    // ---- nested subgraphs recurse with a scoped artifact prefix
    case e: Ensemble =>
      ("type" -> "Ensemble") ~
        ("input_schema_json" -> e.inputSchema.json) ~
        ("ops" -> e.ops.zipWithIndex.map { case (sub, j) =>
          describe(sub, s"${i}_$j", dir, spark) })
    case other =>
      import scala.jdk.CollectionConverters._
      codecs.values.asScala.find(_.canHandle(other)) match {
        case Some(codec) =>
          ("type" -> codec.tpe) ~
            codec.describe(other, kind => artifactPath(dir, i, kind), spark)
        case None => throw new IllegalArgumentException(
          s"Ensemble.save: op '${other.name}' does not support persistence " +
            "(register an EnsemblePersistence.OpCodec for custom ops)")
      }
  }

  private def instantiate(o: JObject, spark: SparkSession): EnsembleOp = {
    implicit val fmts: Formats = DefaultFormats
    def s(f: String) = (o \ f).extract[String]
    def ss(f: String) = (o \ f).extract[List[String]]
    (o \ "type").extract[String] match {
      case "Selection" => Selection(ss("cols"))
      case "SelectByTag" => SelectByTag(ss("tags"), ss("keep"))
      case "Rename" => Rename((o \ "mapping").extract[Map[String, String]])
      case "FilterCandidates" =>
        FilterCandidates(s("inputCol"), s("filterCol"), s("outputCol"))
      case "SoftmaxSampling" =>
        SoftmaxSampling(s("idsCol"), s("relevanceCol"),
          (o \ "temperature").extract[Double], (o \ "topk").extract[Int],
          (o \ "seed").extract[Long], s("seedCol"))
      case "ExplodeCandidates" => ExplodeCandidates(s("inputCol"), s("outputCol"))
      case "Padding" =>
        Padding(s("inputCol"), (o \ "length").extract[Int],
          (o \ "padValue").extract[Double])
      case "Categorify" => Categorify(ss("cols"), s("suffix"),
        (o \ "broadcastBudgetBytes").extractOpt[Long].getOrElse(1L << 30))
      case "StandardScale" => StandardScale(ss("cols"), s("suffix"))
      case "CategorifyBound" =>
        val dicts = (o \ "dicts").extract[Map[String, JObject]].map {
          case (c, j) => c -> ((spark.read.parquet((j \ "path").extract[String]),
            (j \ "broadcast").extract[Boolean]))
        }
        graft.ops.CategorifyBound(ss("cols"), s("suffix"), dicts)
      case "TargetEncodingBound" =>
        val dicts = (o \ "dicts").extract[Map[String, JObject]].map {
          case (c, j) => c -> ((spark.read.parquet((j \ "path").extract[String]),
            (j \ "broadcast").extract[Boolean]))
        }
        graft.ops.TargetEncodingBound(ss("catCols"), s("targetCol"),
          (o \ "smoothing").extract[Double],
          (o \ "leaveOneOut").extract[Boolean], s("suffix"),
          s("prior").toDouble, (o \ "integral").extract[Boolean], dicts)
      case "JoinGroupbyBound" =>
        graft.ops.JoinGroupbyBound(s("keyCol"),
          org.apache.spark.sql.types.DataType.fromJson(s("outFieldsJson"))
            .asInstanceOf[StructType].fields.toSeq,
          spark.read.parquet(s("path")), (o \ "broadcast").extract[Boolean])
      case "FillMissingBound" =>
        val consts = (o \ "constants").extract[Map[String, List[String]]]
          .map { case (c, List(tag, str)) =>
            c -> (tag match {
              case "string" => str: Any
              case "long" => str.toLong
              case "int" => str.toInt
              case "double" => str.toDouble
              case "boolean" => str.toBoolean
            })
          }
        graft.ops.FillMissingBound(consts,
          (o \ "medians").extract[Map[String, String]]
            .map { case (c, m) => c -> m.toDouble },
          ss("medianCols"), s("suffix"))
      case "StandardScaleBound" =>
        graft.ops.StandardScaleBound(ss("cols"), s("suffix"),
          (o \ "moments").extract[Map[String, List[String]]]
            .map { case (c, List(m, sd)) => c -> ((m.toDouble, sd.toDouble)) })
      case "ReciprocalRankFusion" =>
        ReciprocalRankFusion(spark.read.parquet(s("path")), s("queryCol"),
          s("itemCol"), s("rankCol"), (o \ "k0").extract[Int],
          (o \ "topk").extract[Int], s("outputCol"))
      case "TargetEncoding" =>
        TargetEncoding(ss("catCols"), s("targetCol"),
          (o \ "smoothing").extract[Double], (o \ "leaveOneOut").extract[Boolean],
          s("suffix"), (o \ "broadcastBudgetBytes").extract[Long])
      case "JoinGroupby" =>
        JoinGroupby(s("keyCol"), ss("valueCols"), ss("stats"),
          (o \ "broadcastBudgetBytes").extract[Long])
      case "HashBucket" =>
        HashBucket(ss("cols"), (o \ "numBuckets").extract[Int], s("salt"), s("suffix"))
      case "FillMissing" =>
        val consts = (o \ "constants").extract[Map[String, List[String]]]
          .map { case (c, List(tag, str)) =>
            c -> (tag match {
              case "string" => str: Any
              case "long" => str.toLong
              case "int" => str.toInt
              case "double" => str.toDouble
              case "boolean" => str.toBoolean
            })
          }
        FillMissing(consts, ss("medianCols"),
          (o \ "approxMedian").extract[Boolean], s("suffix"))
      case "Clip" =>
        Clip((o \ "bounds").extract[Map[String, List[String]]]
          .map { case (c, List(lo, hi)) =>
            c -> (if (lo.isEmpty) None else Some(lo.toDouble),
              if (hi.isEmpty) None else Some(hi.toDouble))
          }, s("suffix"))
      case "LogTransform" => LogTransform(ss("cols"), s("suffix"))
      case "ListSlice" =>
        ListSlice(ss("cols"), (o \ "start").extract[Int],
          (o \ "end").toOption.flatMap(_.extractOpt[Int]), s("suffix"))
      case "QueryFeatureStore" =>
        QueryFeatureStore(spark.read.parquet(s("path")), s("entityCol"),
          ss("featureCols"), (o \ "includeId").extract[Boolean],
          s("outputPrefix"), (o \ "broadcastDim").extract[Boolean])
      case "NegativeSampling" =>
        NegativeSampling(spark.read.parquet(s("path")), s("userCol"),
          s("itemCol"), s("catalogItemCol"), (o \ "k").extract[Int],
          (o \ "attempts").extract[Int], s("salt"), s("outputCol"), s("rankCol"),
          // absent in pre-gate manifests → the default budget
          (o \ "broadcastBudgetBytes").toOption.map(_.extract[Long])
            .getOrElse(1L << 30))
      case "IntervalJoin" =>
        IntervalJoin(spark.read.parquet(s("path")), s("keyCol"), s("startCol"),
          s("endCol"), s("pointTsCol"), (o \ "bucketSize").extract[Long],
          s("outputPrefix"))
      case "PointInTimeJoin" =>
        PointInTimeJoin(spark.read.parquet(s("path")), s("entityCol"),
          s("tsCol"), ss("featureCols"), s("outputPrefix"))
      case "EmbeddingLookup" =>
        EmbeddingLookup(spark.read.parquet(s("path")), s("idCol"),
          s("embIdCol"), s("embCol"), s("outputCol"))
      case "UnrollFeatures" =>
        UnrollFeatures(spark.read.parquet(s("path")), ss("unrollCols"),
          s("on"), s("prefix"))
      case "SaltedJoin" =>
        SaltedJoin(spark.read.parquet(s("path")), s("on"), s("saltBy"),
          (o \ "saltBuckets").extract[Int], s("joinType"))
      case "TransformWorkflow" =>
        TransformWorkflow(org.apache.spark.ml.PipelineModel.load(s("path")))
      case "ConcatColumns" =>
        ConcatColumns(spark.read.parquet(s("path")), s("on"))
      case "FilterCandidatesWithScores" =>
        FilterCandidatesWithScores(s("idsCol"), s("scoresCol"), s("filterCol"),
          s("outIdsCol"), s("outScoresCol"))
      case "TopKRetrieval" =>
        TopKRetrieval(spark.read.parquet(s("path")), s("queryIdCol"),
          s("queryVecCol"), s("itemIdCol"), s("itemVecCol"),
          (o \ "k").extract[Int], s("metric"), s("outputCol"))
      case "AnnLsh" =>
        AnnLsh(spark.read.parquet(s("path")), s("queryIdCol"), s("queryVecCol"),
          s("itemIdCol"), s("itemVecCol"), (o \ "k").extract[Int],
          (o \ "numBits").extract[Int], (o \ "nprobe").extract[Int], s("metric"),
          center = Some((o \ "center").extract[List[Double]]))
      case "AnnIvf" =>
        AnnIvf(spark.read.parquet(s("path")),
          (o \ "centers").extract[List[List[Double]]],
          s("queryIdCol"), s("queryVecCol"), s("itemIdCol"), s("itemVecCol"),
          (o \ "k").extract[Int], (o \ "nprobe").extract[Int], s("metric"))
      case "AnnSq" =>
        AnnSq(spark.read.parquet(s("path")),
          (o \ "centers").extract[List[List[Double]]],
          (o \ "mins").extract[List[Double]],
          (o \ "maxs").extract[List[Double]],
          s("queryIdCol"), s("queryVecCol"), s("itemIdCol"), s("itemVecCol"),
          (o \ "k").extract[Int], (o \ "nprobe").extract[Int])
      case "PredictForest" =>
        val mc = s("modelClass")
        mc match {
          case "org.apache.spark.ml.regression.RandomForestRegressionModel" =>
            PredictForest(
              org.apache.spark.ml.regression.RandomForestRegressionModel.load(s("path")),
              ss("featureCols"), s("outputCol"))
          case "org.apache.spark.ml.regression.GBTRegressionModel" =>
            PredictForest(
              org.apache.spark.ml.regression.GBTRegressionModel.load(s("path")),
              ss("featureCols"), s("outputCol"))
          case _ => throw new IllegalArgumentException(
            s"Ensemble.load: unsupported forest model class '$mc'")
        }
      case "PredictForestClassifier" =>
        PredictForestClassifier(
          org.apache.spark.ml.classification.RandomForestClassificationModel.load(s("path")),
          ss("featureCols"), (o \ "predictProba").extract[Boolean],
          (o \ "outputClass").extract[Boolean], (o \ "threshold").extract[Double],
          s("outputCol"))
      case "XgbForest" =>
        XgbForest(
          (o \ "trees").extract[List[JObject]].map(t => graft.ops.XgbTree(
            (t \ "left").extract[Vector[Int]], (t \ "right").extract[Vector[Int]],
            (t \ "idx").extract[Vector[Int]], (t \ "cond").extract[Vector[Double]],
            (t \ "dflt").extract[Vector[Boolean]])).toVector,
          (o \ "treeInfo").extract[Vector[Int]], (o \ "baseScore").extract[Double],
          s("objective"), (o \ "numClass").extract[Int], ss("featureCols"),
          (o \ "predictProba").extract[Boolean], (o \ "outputClass").extract[Boolean],
          (o \ "threshold").extract[Double], (o \ "outputMargin").extract[Boolean],
          s("outputCol"))
      case "AnnIvfPq" =>
        AnnIvfPq(spark.read.parquet(s("path")),
          (o \ "centers").extract[Seq[Seq[Double]]],
          (o \ "codebooks").extract[Seq[Seq[Seq[Double]]]],
          s("queryIdCol"), s("queryVecCol"), s("itemIdCol"), s("itemVecCol"),
          (o \ "k").extract[Int], (o \ "nprobe").extract[Int],
          (o \ "refine").extract[Int])
      case "Bm25Index" =>
        Bm25Index(spark.read.parquet(s("postingsPath")),
          spark.read.parquet(s("dfreqPath")),
          (o \ "docCount").extract[Long], (o \ "avgdl").extract[Double],
          s("queryIdCol"), s("queryTextCol"), (o \ "k").extract[Int],
          (o \ "k1").extract[Double], (o \ "b").extract[Double],
          s("outputCol"))
      case "IncrementalDedup" =>
        IncrementalDedup(spark.read.parquet(s("path")), s("indexDigestCol"),
          s("idCol"), s("textCol"), (o \ "normalized").extract[Boolean])
      case "IncrementalMinHashDedup" =>
        IncrementalMinHashDedup(spark.read.parquet(s("path")),
          s("indexIdCol"), s("indexSigCol"), s("idCol"), s("textCol"),
          (o \ "n").extract[Int], (o \ "numHashes").extract[Int],
          (o \ "bands").extract[Int], (o \ "thresholdBp").extract[Int])
      case "SklForest" =>
        SklForest(
          (o \ "trees").extract[List[List[JObject]]].map(_.map(t => graft.ops.XgbTree(
            (t \ "left").extract[Vector[Int]], (t \ "right").extract[Vector[Int]],
            (t \ "idx").extract[Vector[Int]], (t \ "cond").extract[Vector[Double]],
            (t \ "dflt").extract[Vector[Boolean]])).toVector).toVector,
          (o \ "classes").extract[Vector[Double]], ss("featureCols"),
          (o \ "predictProba").extract[Boolean],
          (o \ "failOnNull").extract[Boolean], s("outputCol"))
      case "PredictImplicit" =>
        // legacy artifacts (pre factor-table layout) carried an MLlib
        // ALSModel under "path"; adapt them through fromModel
        (o \ "userPath").extractOpt[String] match {
          case Some(pu) =>
            PredictImplicit(
              spark.read.parquet(pu), spark.read.parquet(s("itemPath")),
              (o \ "numToRecommend").extract[Int], s("userCol"),
              (o \ "broadcastBudgetBytes").extractOpt[Long].getOrElse(1L << 30))
          case None =>
            PredictImplicit.fromModel(
              org.apache.spark.ml.recommendation.ALSModel.load(s("path")),
              (o \ "numToRecommend").extract[Int], s("userCol"),
              (o \ "broadcastBudgetBytes").extractOpt[Long].getOrElse(1L << 30))
        }
      case "PredictClassifier" =>
        PredictClassifier(
          org.apache.spark.ml.classification.LogisticRegressionModel.load(s("path")),
          s("featuresArrayCol"), s("outputCol"))
      case "HashSplit" =>
        HashSplit(s("idCol"), (o \ "trainBp").extract[Int],
          (o \ "validBp").extract[Int], s("salt"), s("outputCol"))
      case "TrailingWindowFeatures" =>
        TrailingWindowFeatures(s("entityCol"), s("tsCol"), s("valueCol"),
          (o \ "horizons").extract[Seq[Long]], s("suffix"))
      case "BpeTokenize" =>
        BpeTokenize(
          (o \ "merges").extract[Seq[Seq[String]]]
            .map { case Seq(a, b) => (a, b) },
          s("textCol"), s("outputCol"), (o \ "maxExprMerges").extract[Int])
      case "StratifiedSample" =>
        StratifiedSample(s("idCol"), s("strataCol"),
          (o \ "fractionsBp").extract[Map[String, Int]],
          (o \ "defaultBp").extract[Int], s("salt"))
      case "WeightedSampleByGroup" =>
        WeightedSampleByGroup(s("strataCol"), s("weightCol"), s("idCol"),
          (o \ "k").extract[Int], s("salt"), s("rankCol"))
      case "UpsampleMix" =>
        UpsampleMix(s("idCol"), s("strataCol"),
          (o \ "weightsBp").extract[Map[String, Int]],
          (o \ "defaultBp").extract[Int], s("salt"), s("epochCol"))
      case "ScrubSharedGrams" =>
        ScrubSharedGrams(s("idCol"), s("textCol"), (o \ "n").extract[Int],
          (o \ "minDocs").extract[Int], s("outputCol"))
      case "TopFractionByGroup" =>
        TopFractionByGroup(s("strataCol"), s("scoreCol"), s("idCol"),
          (o \ "fracsBp").extract[Map[String, Int]],
          (o \ "defaultBp").extract[Int],
          (o \ "approx").extract[Boolean], s("rankCol"))
      case "DocumentChunks" =>
        DocumentChunks(s("idCol"), s("textCol"),
          (o \ "chunkSize").extract[Int], (o \ "overlap").extract[Int])
      case "SkewReport" =>
        SkewReport(ss("keyCols"), (o \ "topK").extract[Int])
      case "ResizeMedia" =>
        ResizeMedia(s("idCol"), s("contentCol"), (o \ "factor").extract[Int])
      case "MediaEmbed" =>
        MediaEmbed(s("idCol"), s("contentCol"), (o \ "dim").extract[Int],
          (o \ "normalized").extract[Boolean], s("outputCol"))
      case "MixturePlan" =>
        MixturePlan(s("strataCol"), s("tokensCol"),
          (o \ "weightsBp").extract[Map[String, Int]],
          (o \ "budgetTokens").extract[Long], (o \ "defaultBp").extract[Int])
      case "PcaProject" =>
        PcaProject((o \ "components").extract[List[List[Double]]],
          s("idCol"), s("vecCol"), s("outputCol"))
      case "QuantizeEmbeddings" =>
        QuantizeEmbeddings(s("idCol"), s("vecCol"), (o \ "levels").extract[Int])
      case "MaterializeFeatureView" =>
        MaterializeFeatureView(spark.read.parquet(s("path")), ss("keyCols"),
          s("orderCol"), s("tieCol"))
      case "Decontaminate" =>
        Decontaminate(spark.read.parquet(s("path")), s("idCol"), s("textCol"),
          s("evalTextCol"), (o \ "n").extract[Int])
      case "BloomDecontaminate" =>
        BloomDecontaminate(spark.read.parquet(s("path")), s("idCol"),
          s("textCol"), s("evalTextCol"), (o \ "n").extract[Int],
          (o \ "fpp").extract[Double],
          (o \ "sketchBudgetBytes").extract[Long])
      case "NgramLmScore" =>
        NgramLmScore(spark.read.parquet(s("path")), s("idCol"), s("textCol"),
          s("refTextCol"), (o \ "n").extract[Int],
          (o \ "oovMaxCount").extract[Long])
      case "ShardShuffle" =>
        ShardShuffle(s("idCol"), (o \ "shards").extract[Int], s("salt"),
          s("shardCol"), s("posCol"))
      case "DriftReport" =>
        val features = ss("features")
        val sp = (o \ "splits").extract[Seq[Seq[Double]]]
        DriftReport(spark.read.parquet(s("path")),
          features.zip(sp).toMap, (o \ "thresholdBp").extract[Long])
      case "PackChunks" =>
        PackChunks(s("idCol"), s("orderCol"), s("tokensCol"),
          (o \ "budget").extract[Int], (o \ "shards").extract[Int], s("salt"))
      case "ExactDedup" =>
        ExactDedup(s("idCol"), s("textCol"), (o \ "normalized").extract[Boolean])
      case "Purge" =>
        Purge(spark.read.parquet(s("path")), s("idCol"), s("textCol"),
          (o \ "normalized").extract[Boolean])
      case "FuzzyDecontaminate" =>
        FuzzyDecontaminate(spark.read.parquet(s("path")), s("idCol"),
          s("textCol"), s("evalTextCol"), (o \ "n").extract[Int],
          (o \ "thresholdBp").extract[Int], (o \ "banded").extract[Boolean],
          (o \ "numHashes").extract[Int], (o \ "bands").extract[Int])
      case "SemanticDecontaminate" =>
        SemanticDecontaminate(spark.read.parquet(s("path")), s("idCol"),
          s("vecCol"), s("evalVecCol"), (o \ "threshold").extract[Double],
          (o \ "centers").extract[List[List[Double]]],
          (o \ "nprobe").extract[Int])
      case "SnapshotDiff" =>
        SnapshotDiff(spark.read.parquet(s("path")), s("idCol"), s("textCol"),
          (o \ "normalized").extract[Boolean])
      case "PrefixDedup" =>
        PrefixDedup(s("idCol"), s("textCol"), (o \ "n").extract[Int])
      case "MlpScorer" =>
        MlpScorer((o \ "layers").extract[List[JValue]].map(l =>
          MlpLayer((l \ "weights").extract[Seq[Seq[Double]]],
            (l \ "bias").extract[Seq[Double]],
            (l \ "activation").extract[String])),
          s("vecCol"), s("outputCol"))
      case "NgramJaccardDedup" =>
        NgramJaccardDedup(s("idCol"), s("textCol"), (o \ "n").extract[Int],
          (o \ "thresholdBp").extract[Int])
      case "MinHashDedup" =>
        MinHashDedup(s("idCol"), s("textCol"), (o \ "n").extract[Int],
          (o \ "numHashes").extract[Int], (o \ "bands").extract[Int],
          (o \ "thresholdBp").extract[Int])
      case "SimHashDedup" =>
        SimHashDedup(s("idCol"), s("textCol"), (o \ "n").extract[Int],
          (o \ "maxHamming").extract[Int], (o \ "hashCol").extractOpt[String])
      case "SemanticNearDup" =>
        SemanticNearDup((o \ "centers").extract[List[List[Double]]],
          s("idCol"), s("vecCol"), (o \ "threshold").extract[Double])
      case "EvalRanking" =>
        EvalRanking(spark.read.parquet(s("path")), (o \ "k").extract[Int],
          s("queryCol"), s("itemCol"), s("rankCol"))
      case "CalibrateScores" =>
        CalibrateScores((o \ "boundaries").extract[List[Double]],
          (o \ "predictions").extract[List[Double]], s("scoreCol"), s("outputCol"))
      case "ResampleLocf" =>
        ResampleLocf(s("entityCol"), s("tsCol"), s("valueCol"), s("tieCol"))
      case "BoilerplateReport" =>
        BoilerplateReport(s("idCol"), s("textCol"), (o \ "n").extract[Int],
          (o \ "minDocs").extract[Int], (o \ "topK").extract[Int])
      case "ClusterAssign" =>
        ClusterAssign((o \ "centers").extract[List[List[Double]]],
          s("idCol"), s("vecCol"), (o \ "withDistance").extract[Boolean])
      case "QuantizerDrift" =>
        QuantizerDrift((o \ "centers").extract[List[List[Double]]],
          spark.read.parquet(s("path")), s("idCol"), s("vecCol"))
      case "TextQualityClassifier" =>
        TextQualityClassifier((o \ "coefficients").extract[List[Double]],
          (o \ "intercept").extract[Double], s("textCol"),
          (o \ "numBuckets").extract[Int], s("salt"))
      case "DupClusters" =>
        DupClusters((o \ "path").extractOpt[String].map(spark.read.parquet(_)),
          s("docIdCol"), s("aCol"), s("bCol"), (o \ "maxIters").extract[Int],
          (o \ "edgeBudget").extractOpt[Long].getOrElse(4000000L))
      case "CosineNearDup" =>
        CosineNearDup(s("idCol"), s("vecCol"), (o \ "threshold").extract[Double],
          (o \ "exact").extract[Boolean], (o \ "numBits").extract[Int],
          (o \ "numTables").extract[Int],
          // JNothing/JNull extract to Some(empty) under extractOpt — an
          // absent center must come back as None, not Some(Nil)
          (o \ "center").extractOpt[Seq[Double]].filter(_.nonEmpty))
      case "QualitySignals" =>
        QualitySignals(s("textCol"), (o \ "keyCols").extract[Seq[String]],
          (o \ "minTokens").extract[Long], (o \ "minTtrBp").extract[Long])
      case "SignalReconcile" =>
        SignalReconcile(spark.read.parquet(s("path")),
          instantiate((o \ "signal").extract[JObject], spark),
          s("idCol"), s("hashCol"))
      case "RepetitionStats" =>
        RepetitionStats(s("textCol"), s("idCol"),
          (o \ "topNs").extract[Seq[Int]], (o \ "dupNs").extract[Seq[Int]],
          (o \ "topBpMax").extract[Map[String, Long]].map { case (k, v) => k.toInt -> v },
          (o \ "dupBpMax").extract[Map[String, Long]].map { case (k, v) => k.toInt -> v })
      case "ValidateRequests" =>
        ValidateRequests(ss("nonNull"),
          (o \ "ranges").extract[Map[String, List[Double]]]
            .map { case (c, List(lo, hi)) => c -> (lo, hi) },
          s("errorCol"))
      case "MaskPii" =>
        MaskPii(s("textCol"), s("outCol"))
      case "Bucketize" =>
        Bucketize((o \ "splits").extract[Map[String, Seq[Double]]], s("suffix"))
      case "TrainingSequences" =>
        TrainingSequences(s("entityCol"), s("orderCol"), s("tieCol"),
          s("featureCol"), (o \ "contextLen").extract[Int])
      case "NormalizeEmbeddings" =>
        NormalizeEmbeddings(s("vecCol"), s("outCol"))
      case "MeanPoolEmbeddings" =>
        MeanPoolEmbeddings(s("keyCol"), s("vecCol"))
      case "DecodeMedia" =>
        DecodeMedia(s("idCol"), s("contentCol"), s("outputPrefix"))
      case "SampleFrames" =>
        SampleFrames(s("idCol"), s("contentCol"), (o \ "frameBytes").extract[Int],
          (o \ "stride").extract[Int])
      case "Ensemble" =>
        val schema = org.apache.spark.sql.types.DataType.fromJson(
          s("input_schema_json")).asInstanceOf[StructType]
        val subOps = (o \ "ops").extract[List[JObject]].map(x => instantiate(x, spark))
        Ensemble(subOps, schema)
      case t => codecs.get(t) match {
        case null =>
          throw new IllegalArgumentException(s"Ensemble.load: unknown op type '$t'")
        case codec => codec.instantiate(o, spark)
      }
    }
  }
}

