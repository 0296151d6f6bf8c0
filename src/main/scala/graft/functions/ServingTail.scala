package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.graftshim.SqlErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The recommender's serving tail — seen-set filter, then weighted top-k
  * sampling — as two per-row kernels. Each replaces a chain of Spark
  * higher-order functions (`arrays_zip`/`filter`/`transform`/`array_sort`),
  * which are all CodegenFallback: every candidate of every user paid
  * interpreted lambda evaluation, a `concat_ws` string, an md5 hex→`conv`
  * round trip and an interpreted struct comparator. Both kernels are
  * value-identical to those chains (CodegenSpec pins them bit for bit
  * against the chains) and run as one `compute` call inside whole-stage
  * codegen. */
private[graft] object ServingTail {

  def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  def longAt(a: ArrayData, i: Int, t: DataType): Long = t match {
    case LongType => a.getLong(i)
    case IntegerType => a.getInt(i)
    case ShortType => a.getShort(i)
    case _ => a.getByte(i)
  }

  /** Null for a null array, a position past its end or a null element —
    * `arrays_zip`'s padding and `element_at`'s null in one test. */
  def isNull(a: ArrayData, i: Int): Boolean =
    a == null || i >= a.numElements() || a.isNullAt(i)

  /** Ascending, nulls first: one field of Spark's struct ordering
    * (`SQLOrderingUtil` for doubles: NaN last, −0.0 equal to 0.0). */
  def compareAt(a: ArrayData, t: DataType, ord: Ordering[Any], x: Int, y: Int): Int = {
    val xn = isNull(a, x); val yn = isNull(a, y)
    if (xn || yn) { if (xn == yn) 0 else if (xn) -1 else 1 }
    else t match {
      case LongType => java.lang.Long.compare(a.getLong(x), a.getLong(y))
      case IntegerType => Integer.compare(a.getInt(x), a.getInt(y))
      case DoubleType => SQLOrderingUtil.compareDoubles(a.getDouble(x), a.getDouble(y))
      case _ => ord.compare(a.get(x, t), a.get(y, t))
    }
  }

  /** `a` at positions `idx(0 until m)`, null where [[isNull]]. */
  def gather(a: ArrayData, t: DataType, idx: Array[Int], m: Int): ArrayData = {
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val i = idx(j)
      if (!isNull(a, i)) out(j) = a.get(i, t)
      j += 1
    }
    new GenericArrayData(out)
  }

  def elementType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  def pairType(ids: DataType, idsContainNull: Boolean, scores: DataType): StructType =
    StructType(Seq(
      StructField("ids", ArrayType(ids, idsContainNull), nullable = false),
      StructField("scores", ArrayType(scores, containsNull = true), nullable = false)))

  /** `$ref.compute(children...)` with a null argument for a null child,
    * null result ⇒ null — the AnnProbeTopK idiom for n-ary kernels. */
  def genCompute(ctx: CodegenContext, ev: ExprCode, self: Expression,
      name: String): ExprCode = {
    val ref = ctx.addReferenceObj(name, self)
    val cs = self.children.map(_.genCode(ctx))
    val args = cs.map(c => s"${c.isNull} ? null : ${c.value}").mkString(", ")
    val javaType = CodeGenerator.javaType(self.dataType)
    ev.copy(code = code"""
      |${Block.blocksToBlock(cs.map(_.code))}
      |$javaType ${ev.value} = ($javaType) $ref.compute($args);
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
}

/** Anti-filter of an id array by a filter array, keeping order and
  * duplicates: `ids[~np.isin(ids, filter)]` (the reference's
  * session_filter.py:142-162).
  * With `scores`, the aligned score array is filtered in step and the
  * result is the `(ids, scores)` pair.
  *
  * Semantics of the chain it replaces, `filter(ids, x ->
  * coalesce(!array_contains(filter, x), true))` and, with scores, the same
  * predicate over `arrays_zip(ids, scores)` re-split by two `transform`s:
  *   - an element is dropped only when its id is non-null, the filter
  *     array is non-null and holds that id (a null filter array keeps
  *     every candidate — the reference's empty `np.isin` set);
  *   - with scores, the shorter array is padded with nulls to the longer
  *     one's length, and both outputs may hold nulls;
  *   - a null ids (or scores) array gives a null result.
  * Integral ids meet integral filters as longs (`array_contains`'s
  * widening); any other pairing needs equal element types. */
case class AntiFilter(ids: Expression, filter: Expression, scores: Option[Expression])
    extends Expression {
  import ServingTail._

  override def children: Seq[Expression] = Seq(ids, filter) ++ scores
  override def nullable: Boolean = ids.nullable || scores.exists(_.nullable)
  override def prettyName: String = "anti_filter"

  override def dataType: DataType = scores match {
    case None => ids.dataType
    case Some(s) => pairType(elementType(ids), idsContainNull = true, elementType(s))
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (ids.dataType, filter.dataType, scores.map(_.dataType)) match {
      case (ArrayType(a, _), ArrayType(b, _), None | Some(_: ArrayType))
          if a == b || (integral(a) && integral(b)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, s) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs arrays with comparable element types, got $a / $b / $s")
    }

  @transient private lazy val idType = elementType(ids)
  @transient private lazy val filterType = elementType(filter)
  @transient private lazy val scoreType = scores.map(elementType).orNull
  @transient private lazy val asLongs = integral(idType) && integral(filterType)
  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(idType)

  /** Positions of `ids` (padded to `n`) that survive `f`. */
  private def kept(idArr: ArrayData, f: ArrayData, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var m = 0
    if (asLongs) {
      val seen = new Array[Long](f.numElements())
      var k = 0
      var j = 0
      while (j < seen.length) {
        if (!f.isNullAt(j)) { seen(k) = longAt(f, j, filterType); k += 1 }
        j += 1
      }
      java.util.Arrays.sort(seen, 0, k)
      var i = 0
      while (i < n) {
        if (isNull(idArr, i) ||
          java.util.Arrays.binarySearch(seen, 0, k, longAt(idArr, i, idType)) < 0) {
          out(m) = i; m += 1
        }
        i += 1
      }
    } else {
      val seen = (0 until f.numElements()).filterNot(f.isNullAt).map(f.get(_, filterType))
      var i = 0
      while (i < n) {
        if (isNull(idArr, i) || {
          val id = idArr.get(i, idType)
          !seen.exists(ordering.equiv(_, id))
        }) { out(m) = i; m += 1 }
        i += 1
      }
    }
    java.util.Arrays.copyOf(out, m)
  }

  def compute(idArr: ArrayData, f: ArrayData, scoreArr: ArrayData): Any = {
    if (idArr == null || (scores.isDefined && scoreArr == null)) return null
    val n = if (scoreArr == null) idArr.numElements()
      else math.max(idArr.numElements(), scoreArr.numElements())
    val keep = if (f == null) Array.range(0, n) else kept(idArr, f, n)
    // nothing dropped and nothing padded: the inputs are the answer
    val whole = keep.length == idArr.numElements() &&
      (scoreArr == null || keep.length == scoreArr.numElements())
    scores match {
      case None => if (whole) idArr else gather(idArr, idType, keep, keep.length)
      case Some(_) =>
        if (whole) InternalRow(idArr, scoreArr)
        else InternalRow(gather(idArr, idType, keep, keep.length),
          gather(scoreArr, scoreType, keep, keep.length))
    }
  }

  def compute(idArr: ArrayData, f: ArrayData): Any = compute(idArr, f, null)

  override def eval(input: InternalRow): Any =
    compute(ids.eval(input).asInstanceOf[ArrayData],
      filter.eval(input).asInstanceOf[ArrayData],
      scores.map(_.eval(input).asInstanceOf[ArrayData]).orNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genCompute(ctx, ev, this, "antiFilter")

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AntiFilter =
    copy(ids = c(0), filter = c(1), scores = c.lift(2))
}

/** Weighted top-k sampling without replacement by Efraimidis–Spirakis
  * keys (softmax_sampling.py:79-117): the `topk` smallest
  * `(key, id, score)` triples of one request, as the `(ids, scores)` pair.
  *
  * For position `i`, `u = (md5(concat_ws(":", seed, i, salt))[0..4) + 0.5)
  * / 2^32` — the first four digest bytes big-endian, so the DuckDB oracle
  * replays it from the hex digest; a null `seed` is skipped as
  * `concat_ws` skips it. `key = -ln(u) / exp(T·s)` in `StrictMath`, the
  * arithmetic of Spark's `Log`/`Exp`, with `s` read from `keyScores` (the
  * scores cast to double). A null score gives a null key. When `exp(T·s)`
  * underflows to 0 the key is +∞ (the reference's numpy division), so the
  * candidate ranks after every finite key.
  *
  * The order is `array_sort`'s over `struct(key, id, score)`: ascending
  * field by field, nulls first, NaN last, −0.0 equal to 0.0, and stable
  * on full ties (position breaks them). A heap keeps the best `topk` in
  * O(n log k). A null ids array gives a null result; a null scores array
  * gives null keys and scores. Past the end of `scores`, `element_at`'s
  * rule holds: an error under ANSI mode, a null score otherwise. */
case class SampleTopK(ids: Expression, scores: Expression, keyScores: Expression,
    seed: Expression, temperature: Double, topk: Int, salt: Long,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends Expression {
  import ServingTail._

  require(topk >= 0, "sample_topk: topk must be >= 0")

  override def children: Seq[Expression] = Seq(ids, scores, keyScores, seed)
  override def nullable: Boolean = ids.nullable
  override def prettyName: String = "sample_topk"

  override def dataType: DataType = ids.dataType match {
    case ArrayType(t, containsNull) => pairType(t, containsNull, elementType(scores))
    case t => pairType(t, idsContainNull = true, elementType(scores))
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (ids.dataType, scores.dataType, keyScores.dataType, seed.dataType) match {
      case (_: ArrayType, _: ArrayType, ArrayType(DoubleType, _), StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array, array, array<double>, string), got $t")
    }

  @transient private lazy val idType = elementType(ids)
  @transient private lazy val scoreType = elementType(scores)
  @transient private lazy val idOrd = TypeUtils.getInterpretedOrdering(idType)
  @transient private lazy val scoreOrd = TypeUtils.getInterpretedOrdering(scoreType)
  @transient private lazy val saltBytes = s":$salt".getBytes("UTF-8")

  def compute(idArr: ArrayData, scoreArr: ArrayData, keyArr: ArrayData,
      seedStr: UTF8String): InternalRow = {
    if (idArr == null) return null
    val n = idArr.numElements()
    if (failOnError && keyArr != null && n > keyArr.numElements())
      throw SqlErrors.elementAtIndex(keyArr.numElements() + 1, keyArr.numElements())
    // md5 input "<seed>:<i>:<salt>": the prefix once, the digits per i
    val pre = if (seedStr == null) 0 else seedStr.numBytes() + 1
    val buf = new Array[Byte](pre + 11 + saltBytes.length)
    if (seedStr != null) {
      seedStr.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
      buf(pre - 1) = ':'
    }
    val md = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    val keys = new Array[Double](n)
    val nullKey = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (isNull(keyArr, i)) nullKey(i) = true
      else {
        val digits = Integer.toString(i)
        var p = pre
        var d = 0
        while (d < digits.length) { buf(p) = digits.charAt(d).toByte; p += 1; d += 1 }
        System.arraycopy(saltBytes, 0, buf, p, saltBytes.length)
        md.update(buf, 0, p + saltBytes.length)
        md.digest(digest, 0, 16)
        val x = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
          ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
        val u = (x.toDouble + 0.5) / 4294967296.0
        keys(i) = -StrictMath.log(u) / StrictMath.exp(temperature * keyArr.getDouble(i))
      }
      i += 1
    }
    def cmp(x: Int, y: Int): Int = {
      var c =
        if (nullKey(x) || nullKey(y)) {
          if (nullKey(x) == nullKey(y)) 0 else if (nullKey(x)) -1 else 1
        } else SQLOrderingUtil.compareDoubles(keys(x), keys(y))
      if (c == 0) c = compareAt(idArr, idType, idOrd, x, y)
      if (c == 0) c = compareAt(scoreArr, scoreType, scoreOrd, x, y)
      if (c == 0) Integer.compare(x, y) else c
    }
    // max-heap of the best m positions: its root is the worst kept one
    val m = math.min(topk, n)
    val heap = Array.range(0, m)
    def siftDown(from: Int, size: Int): Unit = {
      var p = from
      var done = false
      while (!done) {
        val l = 2 * p + 1
        if (l >= size) done = true
        else {
          val c = if (l + 1 < size && cmp(heap(l + 1), heap(l)) > 0) l + 1 else l
          if (cmp(heap(c), heap(p)) > 0) {
            val t = heap(c); heap(c) = heap(p); heap(p) = t; p = c
          } else done = true
        }
      }
    }
    (m / 2 - 1 to 0 by -1).foreach(siftDown(_, m))
    i = m
    while (m > 0 && i < n) {
      if (cmp(i, heap(0)) < 0) { heap(0) = i; siftDown(0, m) }
      i += 1
    }
    // pop the root (the worst) into the back, best first at the end
    var size = m
    while (size > 1) {
      val t = heap(0); heap(0) = heap(size - 1); heap(size - 1) = t
      size -= 1
      siftDown(0, size)
    }
    InternalRow(gather(idArr, idType, heap, m), gather(scoreArr, scoreType, heap, m))
  }

  override def eval(input: InternalRow): Any =
    compute(ids.eval(input).asInstanceOf[ArrayData],
      scores.eval(input).asInstanceOf[ArrayData],
      keyScores.eval(input).asInstanceOf[ArrayData],
      seed.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genCompute(ctx, ev, this, "sampleTopK")

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SampleTopK =
    copy(ids = c(0), scores = c(1), keyScores = c(2), seed = c(3))
}
