package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.Model
import org.apache.spark.ml.util.{MLReadable, MLWritable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.charset.StandardCharsets.UTF_8
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.{universe => ru}
import scala.util.Try
import graft.ops._

/** Ensemble save/load — the analog of the reference's cloudpickle +
  * metadata.json persistence (/root/reference/merlin/systems/dag/
  * ensemble.py:80-145), done the JVM way: a `metadata.json` with version
  * stamps and every op's fields, plus side artifacts under `artifacts/`.
  * Both go through the directory's Hadoop filesystem, so a `file:`,
  * `hdfs://` or `s3a://` dir works like a local path.
  *
  * Like the reference's one pickling path, one codec persists every op:
  * it walks a top-level case class's primary-constructor fields (names
  * from `productElementNames`, declared types from Scala runtime
  * reflection) and writes each by its declared type, under the op's
  * class name as its `type` tag. The rules, one closed set:
  *  - `String`, `Int`, `Long`, `Double`, `Boolean` are JSON values; a
  *    non-finite `Double` is the string "NaN" / "Infinity" / "-Infinity";
  *  - `Option` is `null` or its value (so `None` and `Some(Nil)` differ),
  *    `Seq`/`Vector` an array, `Map` (string or int keys) an object,
  *    `Tuple2` a two-element array;
  *  - a nested case class (`XgbTree`, `MlpLayer`) is an object of its
  *    fields, a nested `EnsembleOp` a tagged op (`Ensemble.ops`,
  *    `SignalReconcile.signal`);
  *  - `StructType`/`StructField` are Spark's schema JSON, never DDL, so
  *    field metadata ([[Tags]]) survives;
  *  - a field declared `Any` is a typed literal (`{"int": 3}`), so an
  *    `Int` comes back an `Int`;
  *  - a `DataFrame`, wherever it sits, is parquet under
  *    `artifacts/<op path>_<field path>`, recorded relative to the dir;
  *  - an MLlib `Model` is saved by its own writer and loaded through its
  *    recorded class's `load`;
  *  - an `Option[Broadcast]` (a resident table) is not written: it loads
  *    as `None` and `load` rebuilds it.
  * Anything else fails `save` with an IllegalArgumentException. Ops whose
  * saved state is not their raw fields are rewritten first by
  * [[persistedForm]]. A version-stamp mismatch of Spark warns, like the
  * reference's python-minor check (ensemble.py:123-143); a foreign
  * format version is refused.
  */
object EnsemblePersistence {

  private val FormatVersion = "2"

  /** Extension point for persisting CUSTOM ops that are not top-level
    * case classes — the JVM answer to the reference cloudpickling
    * arbitrary user operators (ensemble.py:80-145): code can't be
    * serialized safely on the JVM, so such an op ships a codec that
    * writes its parameters/artifacts and re-instantiates it. Registered
    * codecs are consulted before the field codec. */
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

  /** The ops whose saved state is not their raw fields, one line each:
    * AnnLsh pins the resolved center (a reloaded op must bucket with the
    * exact fit-time hyperplanes, not a recomputed, order-sensitive mean);
    * the side-table ops keep only the columns they read (derived state —
    * sketches, n-gram tables, digests — is rebuilt from them on load). */
  private val persistedForm: PartialFunction[EnsembleOp, EnsembleOp] = {
    case a: AnnLsh => a.copy(center = Some(a.resolvedCenter))
    case d: Decontaminate => d.copy(eval = d.eval.select(d.evalTextCol))
    case d: BloomDecontaminate => d.copy(eval = d.eval.select(d.evalTextCol))
    case d: FuzzyDecontaminate => d.copy(eval = d.eval.select(d.evalTextCol))
    case d: SemanticDecontaminate => d.copy(eval = d.eval.select(d.evalVecCol))
    case l: NgramLmScore => l.copy(reference = l.reference.select(l.refTextCol))
    case s: SnapshotDiff => s.copy(old = s.old.select(s.idCol, s.textCol))
    case p: Purge => p.copy(tombstones = p.tombstones.select(p.idCol).distinct())
    case i: IncrementalDedup => i.copy(index = i.index.select(i.indexDigestCol))
    case i: IncrementalMinHashDedup => i.copy(index = i.index.select(i.indexIdCol, i.indexSigCol))
    case d: DriftReport => d.copy(baseline = d.baseline.select(d.splits.keys.toSeq.sorted.map(col): _*))
    case e: EvalRanking => e.copy(relevant = e.relevant.select(e.queryCol, e.itemCol).distinct())
    case d: DupClusters => d.copy(allDocs = d.allDocs.map(_.select(d.docIdCol)))
  }

  def save(ensemble: Ensemble, dir: String, spark: SparkSession): Unit = {
    val codec = new FieldCodec(dir, spark)
    val meta = JObject(
      "format_version" -> JString(FormatVersion),
      "engine_version" -> JString("0.1.0"),
      "spark_version" -> JString(spark.version),
      "input_schema" -> codec.encode(ensemble.inputSchema, ru.typeOf[StructType], ""),
      "ops" -> JArray(ensemble.ops.zipWithIndex.map { case (op, i) =>
        codec.encode(op, OpT, i.toString) }.toList))
    val out = fileSystem(dir, spark).create(new Path(dir, "metadata.json"), true)
    try out.write(JsonMethods.pretty(meta).getBytes(UTF_8)) finally out.close()
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
    * or centroids — one collect job each, here. A request (in-memory
    * or a parquet read) then runs as one narrow job (no join, no
    * exchange).
    * Each table is bounded by `spark.sql.autoBroadcastJoinThreshold`
    * (the size at which Spark stops broadcasting a join side); a larger
    * one, like every other side artifact, stays a lazy parquet read
    * served by the relational plan. Spark's ContextCleaner releases
    * the broadcasts once the graph is unreachable. */
  def load(dir: String, spark: SparkSession): Ensemble = {
    val manifest = new Path(dir, "metadata.json")
    val meta = try {
      val in = fileSystem(dir, spark).open(manifest)
      try JsonMethods.parse(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch {
      // the local filesystem checks the manifest against its checksum
      // sidecar, which an edit outside Hadoop leaves stale
      case e: org.apache.hadoop.fs.ChecksumException => throw new IllegalArgumentException(
        s"Ensemble.load: $manifest does not match its checksum file " +
          s"${new Path(dir, ".metadata.json.crc")}; if the manifest was edited by hand, " +
          "delete the checksum file and load again", e)
    }
    val fv = meta \ "format_version"
    if (fv != JString(FormatVersion)) throw new IllegalArgumentException(
      s"Ensemble.load: $dir has format version ${JsonMethods.compact(fv)}, this build " +
        s"reads format version $FormatVersion only; re-save the ensemble")
    val sv = meta \ "spark_version"
    if (sv != JString(spark.version))
      System.err.println(s"[ensemble] WARNING: saved under Spark ${JsonMethods.compact(sv)}, " +
        s"loading under ${spark.version}")
    val codec = new FieldCodec(dir, spark)
    val schema = codec.decode(meta \ "input_schema", ru.typeOf[StructType]).asInstanceOf[StructType]
    // ops load concurrently: each serving op's artifact read and
    // resident build (one collect job) overlaps the others'
    val specs = (meta \ "ops").children
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, specs.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val ops = try specs.map(o => Future(withResidentTable(codec.decode(o, OpT).asInstanceOf[EnsembleOp])))
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

  private def fileSystem(dir: String, spark: SparkSession) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  // ---- the field codec --------------------------------------------------

  private val mirror = ru.runtimeMirror(getClass.getClassLoader)
  private val StringT = ru.typeOf[String]
  private val IntT = ru.typeOf[Int]
  private val LongT = ru.typeOf[Long]
  private val DoubleT = ru.typeOf[Double]
  private val BooleanT = ru.typeOf[Boolean]
  private val OpT = ru.typeOf[EnsembleOp]
  private val AnyT = ru.typeOf[Any]
  private val OptionSym = ru.symbolOf[Option[_]]
  private val MapSym = ru.symbolOf[collection.Map[_, _]]
  private val SeqSym = ru.symbolOf[collection.Seq[_]]
  private val PairSym = ru.symbolOf[(_, _)]
  /** The typed literals a field declared `Any` may hold, by tag. */
  private val Literals: Map[String, (ru.Type, Class[_])] = Map(
    "string" -> (StringT, classOf[String]),
    "int" -> (IntT, classOf[java.lang.Integer]),
    "long" -> (LongT, classOf[java.lang.Long]),
    "double" -> (DoubleT, classOf[java.lang.Double]),
    "boolean" -> (BooleanT, classOf[java.lang.Boolean]))

  private def isCaseClass(t: ru.Type) =
    t.typeSymbol.isClass && t.typeSymbol.asClass.isCaseClass
  private def arg(t: ru.Type, of: ru.Symbol, i: Int) = t.baseType(of).typeArgs(i)

  /** A case class's primary-constructor fields, in order. */
  private def fields(cls: ru.ClassSymbol): List[(String, ru.Type)] =
    cls.primaryConstructor.asMethod.paramLists.head.map(p => p.name.toString -> p.typeSignature)

  /** The class of a persistable op: a top-level (static) case class. */
  private def opClass(op: EnsembleOp): Option[ru.ClassSymbol] =
    Try(mirror.classSymbol(op.getClass)).toOption.filter(c => c.isCaseClass && c.isStatic)

  /** Encodes and decodes values by declared type for the ensemble at
    * `dir`; artifact paths are recorded relative to it. */
  private final class FieldCodec(dir: String, spark: SparkSession) {
    private def under(rel: String) = new Path(dir, rel).toString

    def encode(v: Any, declared: ru.Type, path: String): JValue = {
      val t = declared.dealias
      def elem(i: Int) = s"$path.$i"
      if (t =:= StringT) JString(v.asInstanceOf[String])
      else if (t =:= IntT) JInt(v.asInstanceOf[Int])
      else if (t =:= LongT) JInt(v.asInstanceOf[Long])
      else if (t =:= BooleanT) JBool(v.asInstanceOf[Boolean])
      else if (t =:= DoubleT) {
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
      }
      // a StructType is a Seq[StructField]: its rule comes first
      else if (t <:< ru.typeOf[StructType]) JsonMethods.parse(v.asInstanceOf[StructType].json)
      else if (t <:< ru.typeOf[StructField])
        (JsonMethods.parse(StructType(Seq(v.asInstanceOf[StructField])).json) \ "fields")(0)
      else if (t <:< ru.typeOf[Option[Broadcast[_]]]) JNull
      else if (t <:< ru.typeOf[Option[_]])
        v.asInstanceOf[Option[Any]].fold[JValue](JNull)(encode(_, arg(t, OptionSym, 0), path))
      else if (t <:< ru.typeOf[(_, _)]) {
        val (a, b) = v.asInstanceOf[(Any, Any)]
        JArray(List(encode(a, arg(t, PairSym, 0), elem(1)), encode(b, arg(t, PairSym, 1), elem(2))))
      }
      else if (t <:< ru.typeOf[collection.Map[_, _]]) {
        val (kt, vt) = (arg(t, MapSym, 0), arg(t, MapSym, 1))
        require(kt =:= StringT || kt =:= IntT,
          s"Ensemble.save: cannot persist $path: map keys of type $kt")
        JObject(v.asInstanceOf[collection.Map[Any, Any]].toList.zipWithIndex.map {
          case ((k, x), i) => k.toString -> encode(x, vt, elem(i)) })
      }
      else if (t <:< ru.typeOf[collection.Seq[_]])
        JArray(v.asInstanceOf[collection.Seq[Any]].toList.zipWithIndex.map {
          case (x, i) => encode(x, arg(t, SeqSym, 0), elem(i)) })
      else if (t <:< ru.typeOf[DataFrame]) {
        val rel = s"artifacts/$path"
        v.asInstanceOf[DataFrame].write.mode("overwrite").parquet(under(rel))
        JString(rel)
      }
      else if (t <:< ru.typeOf[Model[_]]) {
        val rel = s"artifacts/$path"
        v.asInstanceOf[MLWritable].write.overwrite().save(under(rel))
        JObject("class" -> JString(v.getClass.getName), "path" -> JString(rel))
      }
      else if (t <:< OpT) encodeOp(v.asInstanceOf[EnsembleOp], path)
      else if (t =:= AnyT)
        Literals.collectFirst { case (tag, (lt, c)) if c.isInstance(v) =>
          JObject(tag -> encode(v, lt, path)) }
          .getOrElse(throw new IllegalArgumentException(
            s"Ensemble.save: cannot persist $path: a ${v.getClass.getName} literal"))
      else if (isCaseClass(t)) encodeFields(v.asInstanceOf[Product], t.typeSymbol.asClass, path)
      else throw new IllegalArgumentException(s"Ensemble.save: cannot persist $path of type $t")
    }

    private def encodeOp(op: EnsembleOp, path: String): JObject =
      codecs.values.asScala.find(_.canHandle(op)) match {
        case Some(c) => JObject(("type" -> JString(c.tpe)) ::
          c.describe(op, kind => under(s"artifacts/${path}_$kind"), spark).obj)
        case None =>
          val saved = persistedForm.applyOrElse(op, identity[EnsembleOp])
          val cls = opClass(saved).getOrElse(throw new IllegalArgumentException(
            s"Ensemble.save: op '${op.name}' does not support persistence (not a " +
              "top-level case class: register an EnsemblePersistence.OpCodec)"))
          JObject(("type" -> JString(saved.getClass.getName)) :: encodeFields(saved.asInstanceOf[Product], cls, path).obj)
      }

    private def encodeFields(p: Product, cls: ru.ClassSymbol, path: String): JObject = {
      val types = fields(cls).toMap
      JObject(p.productElementNames.zip(p.productIterator).map { case (name, v) =>
        name -> encode(v, types(name), s"${path}_$name") }.toList)
    }

    def decode(j: JValue, declared: ru.Type): Any = {
      val t = declared.dealias
      def fail() = throw new IllegalArgumentException(
        s"Ensemble.load: cannot read a $t from ${JsonMethods.compact(j)}")
      if (t =:= StringT) j match { case JString(s) => s; case _ => fail() }
      else if (t =:= IntT) j match { case JInt(n) if n.isValidInt => n.toInt; case _ => fail() }
      else if (t =:= LongT) j match { case JInt(n) if n.isValidLong => n.toLong; case _ => fail() }
      else if (t =:= BooleanT) j match { case JBool(b) => b; case _ => fail() }
      else if (t =:= DoubleT) j match {
        case JDouble(d) => d
        case JString(s) => s.toDouble // the non-finite values
        case _ => fail()
      }
      else if (t <:< ru.typeOf[StructType]) DataType.fromJson(JsonMethods.compact(j))
      else if (t <:< ru.typeOf[StructField])
        DataType.fromJson(JsonMethods.compact(JObject("type" -> JString("struct"),
          "fields" -> JArray(List(j))))).asInstanceOf[StructType].head
      else if (t <:< ru.typeOf[Option[_]]) j match {
        case JNull | JNothing => None
        case _ => Some(decode(j, arg(t, OptionSym, 0)))
      }
      else if (t <:< ru.typeOf[(_, _)]) j match {
        case JArray(List(a, b)) => (decode(a, arg(t, PairSym, 0)), decode(b, arg(t, PairSym, 1)))
        case _ => fail()
      }
      else if (t <:< ru.typeOf[collection.Map[_, _]]) j match {
        case JObject(kvs) =>
          val key: String => Any = if (arg(t, MapSym, 0) =:= IntT) _.toInt else identity
          kvs.map { case (k, v) => key(k) -> decode(v, arg(t, MapSym, 1)) }.toMap
        case _ => fail()
      }
      else if (t <:< ru.typeOf[collection.Seq[_]]) j match {
        case JArray(xs) =>
          val decoded = xs.map(decode(_, arg(t, SeqSym, 0)))
          if (t <:< ru.typeOf[Vector[_]]) decoded.toVector else decoded
        case _ => fail()
      }
      else if (t <:< ru.typeOf[DataFrame]) j match {
        case JString(rel) => spark.read.parquet(under(rel))
        case _ => fail()
      }
      else if (t <:< ru.typeOf[Model[_]]) (j \ "class", j \ "path") match {
        case (JString(cls), JString(rel)) =>
          Class.forName(cls + "$").getField("MODULE$").get(null)
            .asInstanceOf[MLReadable[_]].load(under(rel))
        case _ => fail()
      }
      else if (t <:< OpT) decodeOp(j)
      else if (t =:= AnyT) j match {
        case JObject(List((tag, v))) if Literals.contains(tag) => decode(v, Literals(tag)._1)
        case _ => fail()
      }
      else if (isCaseClass(t)) construct(t.typeSymbol.asClass, j)
      else fail()
    }

    private def decodeOp(j: JValue): EnsembleOp = j \ "type" match {
      case JString(tag) => Option(codecs.get(tag)) match {
        case Some(c) => c.instantiate(j.asInstanceOf[JObject], spark)
        case None =>
          val cls = Try(Class.forName(tag)).toOption.filter(classOf[EnsembleOp].isAssignableFrom)
            .map(mirror.classSymbol)
            .getOrElse(throw new IllegalArgumentException(s"Ensemble.load: unknown op type '$tag'"))
          construct(cls, j).asInstanceOf[EnsembleOp]
      }
      case _ => throw new IllegalArgumentException(
        s"Ensemble.load: op without a type tag: ${JsonMethods.compact(j)}")
    }

    private def construct(cls: ru.ClassSymbol, j: JValue): Any = {
      val args = fields(cls).map { case (name, t) => decode(j \ name, t) }
      mirror.reflectClass(cls).reflectConstructor(cls.primaryConstructor.asMethod)(args: _*)
    }
  }
}
