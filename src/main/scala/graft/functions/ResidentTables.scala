package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The side tables a loaded serving graph keeps resident: built once
  * from a collected side artifact, broadcast once, and read
  * by tasks only through [[KeyedLookup]] / [[AnnProbeTopK]] holding the
  * broadcast handle. Each table reports its materialized size (the sum
  * of its collected UnsafeRow bytes), which the residency rule checks
  * against Spark's broadcast threshold. */

/** key → feature row, the resident form of a broadcast left join.
  * `schema` is the collected view: field 0 is the key, the rest the
  * features, at the ordinals [[KeyedLookup]] reads. Null keys never
  * match an equi-join, so they are not stored. */
final class KeyedTable private (val schema: StructType,
    rows: java.util.HashMap[AnyRef, UnsafeRow], val sizeInBytes: Long)
    extends Serializable {

  /** The stored row for a key value normalized by [[KeyedTable.key]],
    * or null. */
  def row(key: AnyRef): InternalRow = rows.get(key)
}

object KeyedTable {
  /** Key types whose boxed internal values compare and hash exactly as
    * Spark's join equality does. Floating keys (NaN / -0.0
    * normalization), binary, decimal and collated strings stay
    * relational. */
  def supportsKey(t: DataType): Boolean = t match {
    case BooleanType | DateType | TimestampType => true
    case s: StringType => s == StringType
    case t => integral(t)
  }

  def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Whether a request key of type `request` finds the rows a join with
    * a table key of type `table` would match. Integral keys compare as
    * longs, like the join's widening casts; other types must agree. */
  def compatible(request: DataType, table: DataType): Boolean =
    supportsKey(request) && (request == table || integral(request) && integral(table))

  /** The lookup form of an internal key value: integral keys widen to
    * a boxed long. */
  def key(v: Any): AnyRef = v match {
    case b: Byte => java.lang.Long.valueOf(b.toLong)
    case s: Short => java.lang.Long.valueOf(s.toLong)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case l: Long => java.lang.Long.valueOf(l)
    case o => o.asInstanceOf[AnyRef]
  }

  /** None when a key repeats: a left join would then emit one row per
    * match, which a per-row lookup cannot reproduce. */
  def build(schema: StructType, collected: Array[InternalRow]): Option[KeyedTable] = {
    require(supportsKey(schema.head.dataType), s"unsupported key type ${schema.head.dataType}")
    val toUnsafe = UnsafeProjection.create(schema)
    val keyType = schema.head.dataType
    val rows = new java.util.HashMap[AnyRef, UnsafeRow](collected.length * 2)
    var bytes = 0L
    var i = 0
    while (i < collected.length) {
      val r = toUnsafe(collected(i)).copy()
      if (!r.isNullAt(0)) {
        if (rows.put(key(r.get(0, keyType)), r) != null) return None
        bytes += r.getSizeInBytes
      }
      i += 1
    }
    Some(new KeyedTable(schema, rows, bytes))
  }
}

/** How a query vector picks the lists it probes — the routing of the
  * relational plan, rebuilt around the same Catalyst kernels. */
sealed trait AnnRouting extends Serializable {
  /** Probed list ids for one query vector (null: nothing probed). */
  def router(vecType: DataType): ArrayData => Array[Int]
}

/** [[LshBucket]] home bucket plus `nprobe - 1` single-bit flips —
  * exactly AnnLsh's probe set. */
final case class LshRouting(center: Seq[Double], numBits: Int, nprobe: Int)
    extends AnnRouting {
  def router(vecType: DataType): ArrayData => Array[Int] = {
    val ctr = Literal.create(center.toArray, ArrayType(DoubleType, containsNull = false))
    val kernel = LshBucket(BoundReference(0, vecType, nullable = true), ctr, numBits)
    val ctrData = ctr.value.asInstanceOf[ArrayData]
    v => {
      val home = kernel.compute(v, ctrData)
      Array.tabulate(nprobe)(i => if (i == 0) home else home ^ (1 << (i - 1)))
    }
  }
}

/** The `nprobe` nearest centroids by [[NearestCids]] — AnnIvf's probe
  * set; null for a vector the quantizer rejects. */
final case class IvfRouting(centers: Seq[Seq[Double]], nprobe: Int) extends AnnRouting {
  def router(vecType: DataType): ArrayData => Array[Int] = {
    val kernel = NearestCids(BoundReference(0, vecType, nullable = true), centers, nprobe)
    v => kernel.compute(v) match {
      case null => null
      case a: ArrayData => a.toIntArray()
    }
  }
}

/** One inverted list: item ids with their vectors widened to double
  * (null for a vector holding a null element, which scores NULL against
  * every query) and, for cosine, their L2 norms. */
final class AnnList(val ids: Array[Long], val vecs: Array[Array[Double]],
    val norms: Array[Double]) extends Serializable

/** list id → items, the resident form of an ANN op's bucketed index. */
final class AnnTable private (val routing: AnnRouting, val metric: String,
    lists: java.util.HashMap[Integer, AnnList], val sizeInBytes: Long)
    extends Serializable {

  def list(id: Int): AnnList = lists.get(id)
}

object AnnTable {
  /** Numeric array → doubles, [[ArrayDotProduct]]'s element widening;
    * null when any element is null. */
  def doubles(a: ArrayData, elemType: DataType): Array[Double] = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      out(i) = elemType match {
        case DoubleType => a.getDouble(i)
        case FloatType => a.getFloat(i).toDouble
        case LongType => a.getLong(i).toDouble
        case _ => a.getInt(i).toDouble
      }
      i += 1
    }
    out
  }

  /** Sequential double-accumulated dot product: [[ArrayDotProduct]]'s
    * fold, NaN where that expression is NULL (length mismatch or a null
    * element). */
  def dot(a: Array[Double], b: Array[Double]): Double =
    if (a == null || b == null || a.length != b.length) Double.NaN
    else {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

  /** Built from a collected index of `(item id, item vector, list id)`
    * rows; None when an item with a list has a null id (the relational
    * top-k would coerce it, a per-row table cannot). Rows without a list
    * id never join a probe and are dropped. */
  def build(schema: StructType, collected: Array[InternalRow], routing: AnnRouting,
      metric: String): Option[AnnTable] = {
    require(metric == "dot" || metric == "cosine", s"unknown metric $metric")
    val elemType = schema(1).dataType match {
      case ArrayType(t, _) => t
      case t => throw new IllegalArgumentException(s"item vectors must be arrays, not $t")
    }
    val toUnsafe = UnsafeProjection.create(schema)
    val grouped = new java.util.HashMap[Integer, scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]]()
    var bytes = 0L
    var i = 0
    while (i < collected.length) {
      val r = collected(i)
      if (!r.isNullAt(2)) {
        if (r.isNullAt(0)) return None
        val vec = if (r.isNullAt(1)) null else doubles(r.getArray(1), elemType)
        grouped.computeIfAbsent(r.getInt(2), _ => scala.collection.mutable.ArrayBuffer.empty)
          .append((r.getLong(0), vec))
        bytes += toUnsafe(r).getSizeInBytes
      }
      i += 1
    }
    val lists = new java.util.HashMap[Integer, AnnList](grouped.size * 2)
    grouped.forEach { (id, items) =>
      val vecs = items.map(_._2).toArray
      lists.put(id, new AnnList(items.map(_._1).toArray, vecs,
        if (metric == "cosine") vecs.map(v => math.sqrt(dot(v, v))) else null))
    }
    Some(new AnnTable(routing, metric, lists, bytes))
  }
}
