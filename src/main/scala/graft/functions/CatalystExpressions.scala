package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the numeric hot paths (SURVEY.md §7.3).
  *
  * The built-in higher-order functions (`zip_with`+`aggregate`) are
  * interpreted per element — fine for per-document transforms, fatal for
  * per-PAIR math (millions of dot products in similarity joins). These
  * expressions evaluate as single tight JVM loops per row instead, and
  * all implement `doGenCode` (inline loop for the dot product, an
  * unboxed `compute` call for the hash loops) so they never break the
  * enclosing WholeStageCodegen span the way CodegenFallback's per-row
  * InternalRow boxing would.
  * ArrayDotProduct, SimHash64 and WordShingles are value-identical to the
  * equivalent built-in formulations (sequential fold, double accumulation,
  * Spark's own `lower()`); MinHashBandKeys defines its own band-key fold
  * (self-consistent — nothing else derives these keys).
  */

/** Dot product of two numeric array columns, accumulated sequentially in
  * double — `Σ a(i)·b(i)`. Matches `aggregate(zip_with(a,b,_*_),0.0,_+_)`
  * exactly, including the null semantics: unequal lengths or a null
  * element yield NULL (never a silently-truncated score).
  *
  * Fully codegen'd: `doGenCode` emits the tight loop inline, so the
  * similarity joins that evaluate this per PAIR stay inside one
  * WholeStageCodegen span (no CodegenFallback row boxing in the hot
  * path). */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  private def elemType(e: Expression) = e.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs numeric array inputs")
  }

  @inline private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case DoubleType => a.getDouble(i)
    case FloatType => a.getFloat(i).toDouble
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case _ => 0.0
  }

  // zip_with pads the shorter array with null and a null product nulls the
  // whole aggregate — so unequal lengths or null elements must return NULL
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val lt = elemType(left); val rt = elemType(right)
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += get(a, lt, i) * get(b, rt, i); i += 1
    }
    s
  }

  private def getterJava(v: String, t: DataType, i: String): String = t match {
    case DoubleType => s"$v.getDouble($i)"
    case FloatType => s"(double) $v.getFloat($i)"
    case LongType => s"(double) $v.getLong($i)"
    case _ => s"(double) $v.getInt($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lt = elemType(left); val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${getterJava(a, lt, i)} * ${getterJava(b, rt, i)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Count of positions where two long arrays hold equal non-null values —
  * the MinHash signature-agreement kernel. Semantics match
  * `size(filter(zip_with(a, b, (x, y) => x === y), m => m))`: the
  * shorter array's missing tail and null elements never count. The HOF
  * form allocates two intermediate arrays per comparison, which is the
  * whole cost of an all-pairs signature sweep (millions of pairs ×
  * 64-element allocs — measured 14.7 s at sf0.1); this is one fused,
  * allocation-free loop, and the 64-term `when` chain alternative blows
  * the generated method past JIT limits (measured 54 s). */
case class ArrayAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_agree_count"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs two array<bigint> inputs")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var c = 0; var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** 64-bit SimHash of a string-array column: per-bit ±1 votes of
  * xxhash64(element, seed=42) — same math as TextFunctions.simhash64 but
  * one loop per row instead of 64 interpreted lambda passes per element.
  * Codegen calls `compute` on unboxed ArrayData (no fallback row boxing),
  * keeping the enclosing WholeStageCodegen span intact. */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string>")
  }

  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L; var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** MinHash LSH band keys in one pass: k hashes per element (seed-chained
  * like the builtin `xxhash64(elem, i)`), min-reduced into a k-signature,
  * then each band of `rowsPerBand` signature values folded into one band
  * key. The fold starts from the band index (so bands never collide
  * across index) — this key derivation is this expression's own, not a
  * replica of any built-in; all consumers derive keys through it.
  */
case class MinHashBandKeys(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {

  require(numHashes % bands == 0, "numHashes must divide into bands")
  private val rowsPerBand = numHashes / bands

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string>")
  }

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // null elements carry no identity — skip them (getUTF8String's
      // null behavior is ArrayData-implementation-dependent; inputs from
      // shingleSet are null-free, which scopes the HOF-identity contract)
      val sv = arr.getUTF8String(i)
      if (sv != null) {
        val base = XxHash64Function.hash(sv, StringType, 42L)
      var k = 0
      while (k < numHashes) {
        // chain the hash-family index exactly like xxhash64(elem, k)
        val h = XxHash64Function.hash(k, IntegerType, base)
        if (h < sig(k)) sig(k) = h
        k += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var r = 0
      while (r < rowsPerBand) {
        acc = XxHash64Function.hash(sig(b * rowsPerBand + r), LongType, acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBands", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The raw k-slot MinHash signature of a shingle set — the SAME hash
  * family and min-reduction as [[MinHashBandKeys]], emitted before the
  * band fold. A signature is a FIXED 8·k bytes per document regardless of
  * document length, which is what makes it the right persistent artifact
  * for a fuzzy-dedup index at corpus scale: slot-agreement between two
  * signatures is an unbiased estimator of shingle-set Jaccard, so the
  * accepted corpus can answer "is this new doc a near-dup?" from
  * signatures alone, without retaining shingles or text.
  * Identity pinned in spec: [[SigBandKeys]]∘[[MinHashSignature]] ≡
  * [[MinHashBandKeys]]. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes >= 1, "numHashes must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string>")
  }

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // null elements carry no identity — skip them (getUTF8String's
      // null behavior is ArrayData-implementation-dependent; inputs from
      // shingleSet are null-free, which scopes the HOF-identity contract)
      val sv = arr.getUTF8String(i)
      if (sv != null) {
        val base = XxHash64Function.hash(sv, StringType, 42L)
      var k = 0
      while (k < numHashes) {
        val h = XxHash64Function.hash(k, IntegerType, base)
        if (h < sig(k)) sig(k) = h
        k += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Band keys from a STORED MinHash signature — [[MinHashBandKeys]]'
  * band fold applied to a persisted signature instead of recomputing
  * hashes from shingles. The fold is byte-identical (seeded from the band
  * index, chained with the same hash), so keys derived from a stored
  * index signature and keys derived live from text always collide
  * exactly when they should. */
case class SigBandKeys(child: Expression, bands: Int)
    extends UnaryExpression {

  require(bands >= 1, "bands must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sig_band_keys"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<bigint>")
  }

  def compute(arr: ArrayData): ArrayData = {
    val k = arr.numElements()
    require(k % bands == 0, s"$prettyName: signature length $k must divide into $bands bands")
    val rowsPerBand = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var r = 0
      while (r < rowsPerBand) {
        acc = XxHash64Function.hash(arr.getLong(b * rowsPerBand + r), LongType, acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sigBandKeys", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Sign-random-projection LSH bucket of a numeric vector in one pass:
  * bit p = sign of Σ_d s(p,d)·(x_d − c_d), where the ±1 hyperplane entry
  * s(p,d) is bit p of xxhash64(d, seed=42) — ONE hash per dimension
  * yields up to 32 independent hyperplanes, evaluated in a single tight
  * loop instead of numBits interpreted aggregate/zip_with passes per row
  * (and the query side derives its probe buckets from this value with
  * cheap XORs, so the projection runs once per row, not once per probe).
  *
  * `center` shifts the hyperplanes to pass through the data mean instead
  * of the origin: clustered vectors (e.g. ALS factors, which live in a
  * cone) would otherwise all land on the same side of most origin
  * hyperplanes, collapsing the index into a handful of giant buckets. An
  * empty center array means "no centering". */
case class LshBucket(child: Expression, center: Expression, numBits: Int,
    seed: Long = 42L)
    extends BinaryExpression {

  require(numBits >= 1 && numBits <= 32, "numBits in [1, 32]")

  override def left: Expression = child
  override def right: Expression = center
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lsh_bucket"

  private def elemType(e: Expression) = e.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(child, center).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs numeric array inputs")
  }

  @inline private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case DoubleType => a.getDouble(i)
    case FloatType => a.getFloat(i).toDouble
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case _ => 0.0
  }

  def compute(arr: ArrayData, ctr: ArrayData): Int = {
    val t = elemType(child); val ct = elemType(center)
    val nc = ctr.numElements()
    val acc = new Array[Double](numBits)
    val n = arr.numElements()
    var d = 0
    while (d < n) {
      if (!arr.isNullAt(d)) {
        val x = get(arr, t, d) -
          (if (d < nc && !ctr.isNullAt(d)) get(ctr, ct, d) else 0.0)
        val h = XxHash64Function.hash(d, IntegerType, seed)
        var p = 0
        while (p < numBits) {
          if (((h >>> p) & 1L) == 1L) acc(p) += x else acc(p) -= x
          p += 1
        }
      }
      d += 1
    }
    var bucket = 0
    var p = 0
    while (p < numBits) { if (acc(p) > 0) bucket |= (1 << p); p += 1 }
    bucket
  }

  override def nullSafeEval(v: Any, c: Any): Any =
    compute(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBucket", this)
    nullSafeCodeGen(ctx, ev, (a, c) => s"${ev.value} = $ref.compute($a, $c);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(child = l, center = r)
}

/** The shared normal form for all text expressions: mirror
  * `lower(trim(regexp_replace(s, "\s+", " ")))` exactly — collapse
  * whitespace runs, strip leading/trailing single space, then lower via
  * UTF8String (the same locale-independent lowering as Spark's `lower()`;
  * JVM-default-locale toLowerCase would diverge under e.g. a Turkish
  * locale: 'I' → dotless 'ı'). ONE implementation so shingling and
  * repetition signals can never drift apart — or away from the DuckDB
  * oracle's rendering of the same normal form. */
private[functions] object TextNormal {
  def normalizedWords(v: UTF8String): Array[String] = {
    var s = v.toString.replaceAll("\\s+", " ")
    if (s.startsWith(" ")) s = s.substring(1)
    if (s.endsWith(" ")) s = s.substring(0, s.length - 1)
    s = UTF8String.fromString(s).toLowerCase.toString
    s.split(" ", -1)
  }
}

/** Distinct word n-gram shingles of a string in one pass — value-identical
  * to TextFunctions.shingleSet (normalize → split on single space →
  * positional n-grams → first-occurrence-distinct) but a single JVM loop
  * instead of nested interpreted HOFs. Feeds every dedup operator. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {

  // n <= 0 would make `words.length < n` unreachable and the gram loop
  // emit [""] for EVERY document — identical shingle sets, identical
  // MinHash signatures, whole corpus flagged mutually near-duplicate
  require(n >= 1, s"word_shingles: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
  }

  def compute(v: UTF8String): ArrayData = {
    val words = TextNormal.normalizedWords(v)
    if (words.length < n) ArrayData.toArrayData(Array.empty[UTF8String])
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      val sb = new java.lang.StringBuilder()
      while (i <= words.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[AnyRef](seen.size())
      val it = seen.iterator(); var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      ArrayData.toArrayData(out)
    }
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** One-pass Gopher repetition signals over the normalized word sequence:
  * for each configured n-gram size, the characters covered by the single
  * most frequent n-gram (`count × gram chars`) and by all n-grams that
  * occur more than once. Output is a flat long array
  * `[n_chars_norm, top(ns0), dup(ns0), top(ns1), dup(ns1), …]`.
  *
  * Semantically identical to exploding positional
  * [[graft.functions.TextFunctions.wordShingles]] grams and aggregating
  * `max(cnt*length(g))` / `sum(cnt*length(g)) filter cnt>1` per doc — but
  * row-local: one normalize, one split, and one hash-count per n, instead
  * of shuffling every gram occurrence of the corpus (at 100 TB that
  * shuffle carries ~3× the corpus in gram strings; this carries nothing).
  * Gram char lengths count codepoints (Spark `length()` semantics, same
  * as the DuckDB oracle's `length()`).
  */
case class RepetitionSignals(child: Expression, ns: Seq[Int])
    extends UnaryExpression {

  require(ns.nonEmpty && ns.forall(_ >= 1), "need at least one n >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_signals"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
  }

  def compute(v: UTF8String): ArrayData = {
    val words = TextNormal.normalizedWords(v) // shared with WordShingles
    val wordChars = new Array[Long](words.length)
    var w = 0
    var totalChars = 0L
    while (w < words.length) {
      wordChars(w) = words(w).codePointCount(0, words(w).length)
      totalChars += wordChars(w)
      w += 1
    }
    val out = new Array[Long](1 + 2 * ns.length)
    // normalized string = words joined by single spaces
    out(0) = totalChars + (words.length - 1)
    var k = 0
    while (k < ns.length) {
      val n = ns(k)
      if (words.length >= n) {
        val counts = new java.util.HashMap[String, Array[Long]]()
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i <= words.length - n) {
          sb.setLength(0)
          var chars = (n - 1).toLong // separator spaces
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j))
            chars += wordChars(i + j)
            j += 1
          }
          val g = sb.toString // one materialization for get AND put
          val e = counts.get(g)
          if (e == null) counts.put(g, Array(1L, chars))
          else e(0) += 1L
          i += 1
        }
        var top = 0L; var dup = 0L
        val it = counts.values().iterator()
        while (it.hasNext) {
          val e = it.next()
          val covered = e(0) * e(1)
          if (covered > top) top = covered
          if (e(0) > 1L) dup += covered
        }
        out(1 + 2 * k) = top
        out(2 + 2 * k) = dup
      }
      k += 1
    }
    ArrayData.toArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repetitionSignals", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Fused hashing-trick featurizer — the hot path of
  * [[graft.ops.TextQualityClassifier]] as one loop: normalize + split,
  * md5-bucket each token (bit-identical to `TextFunctions.hashBucket`:
  * the UNSIGNED first four md5 bytes of `token + ":" + salt`, mod
  * `numBuckets`), and accumulate the fixed-order bucket-count array
  * directly. Value-identical to the `size(filter(bs, _ === b))`-per-
  * bucket HOF formulation (CodegenSpec pins the equality), but
  * O(tokens + buckets) per row instead of O(tokens × buckets), and
  * each token hashes ONCE instead of surviving numBuckets comparison
  * passes. Fixed bucket order is what keeps the downstream margin a
  * deterministic sequential fold. */
case class HashBucketCounts(child: Expression, salt: String, numBuckets: Int)
    extends UnaryExpression {

  require(numBuckets >= 1, "numBuckets must be >= 1")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "hash_bucket_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
  }

  // per-instance digest: reference objects deserialize per task and
  // tasks are single-threaded, so reuse across rows is safe — avoids a
  // provider lookup per row
  @transient private lazy val md =
    java.security.MessageDigest.getInstance("MD5")

  def compute(v: UTF8String): ArrayData = {
    val words = TextNormal.normalizedWords(v)
    val out = new Array[Double](numBuckets)
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest((words(i) + ":" + salt)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // conv(substring(md5hex, 1, 8), 16, 10): unsigned first 4 bytes
      val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      out((u % numBuckets).toInt) += 1.0
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashBucketCounts", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Fused span-merge scrub reconstruction — the hot path of
  * [[graft.ops.ScrubSharedGrams]] as one tight loop: given a token array
  * and the SORTED distinct 0-based start positions of shared n-gram
  * occurrences, emit the tokens outside every `[s, s+n)` window.
  * Value-identical to the HOF formulation (the two are pinned equal over
  * generated corpora in CodegenSpec, and PropertySpec pins both against
  * the brute-force covered filter): overlapping windows merge into
  * disjoint spans, each surviving gap is copied once — O(tokens + spans).
  *
  * Why a fused expression: the HOF chain (two filters + zip_with +
  * aggregate with nested slices/concats) allocates four intermediate
  * arrays per row AND compiles into one of the largest generated methods
  * in the engine — the method whose one-time JIT warm-up kept billing
  * text_scrub_spans 3-10x on first execution (SCALE.md round 6/7). Here
  * codegen is a single `compute` call (the SimHash64 pattern), so the
  * generated method stays small and the per-row work is one allocation
  * (the output). */
case class KeptTokens(ws: Expression, starts: Expression, n: Int)
    extends BinaryExpression {

  require(n >= 1, "kept_tokens: n must be >= 1")

  override def left: Expression = ws
  override def right: Expression = starts
  override def prettyName: String = "kept_tokens"

  override def dataType: DataType = ws.dataType match {
    case a: ArrayType => a
    case _ => ArrayType(StringType)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (ws.dataType, starts.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<string>, array<int>)")
    }

  def compute(wsArr: ArrayData, startArr: ArrayData): ArrayData = {
    val len = wsArr.numElements()
    val m = startArr.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](len)
    def copyRange(from: Int, until: Int): Unit = {
      var j = math.max(from, 0)
      val u = math.min(until, len)
      while (j < u) {
        out += (if (wsArr.isNullAt(j)) null else wsArr.getUTF8String(j))
        j += 1
      }
    }
    var p = 0
    var i = 0
    while (i < m) {
      val a = startArr.getInt(i)
      var b = a + n
      // merge while the current window reaches the next start
      while (i + 1 < m && startArr.getInt(i + 1) < b) {
        i += 1; b = startArr.getInt(i) + n
      }
      if (a > p) copyRange(p, a) // the surviving gap before this span
      p = b
      i += 1
    }
    copyRange(p, len) // tail after the last span
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override def nullSafeEval(w: Any, s: Any): Any =
    compute(w.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keptTokens", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(ws = l, starts = r)
}

/** Per-byte bin counts over a binary column — `counts[(b & 0xFF) % bins]`
  * for every byte from offset `skip` on: the multimodal decode/embed
  * byte loop ([[graft.ops.DecodeMedia]] / [[graft.ops.MediaEmbed]]) as
  * ONE fused codegen'd pass instead of a mapPartitions row-boxing
  * stage. A higher-order-function formulation
  * (`transform(sequence(...), i -> ...)` + per-bin `filter`) allocates
  * a byte-index array per row and walks it once per bin — this loop
  * touches each byte once. Exact integer counts; null binary → null. */
case class ByteHistogram(child: Expression, bins: Int, skip: Int)
    extends UnaryExpression {

  require(bins >= 1, "byte_histogram: bins must be >= 1")
  require(skip >= 0, "byte_histogram: skip must be >= 0")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "byte_histogram"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a binary input")

  def compute(c: Array[Byte]): ArrayData = {
    val counts = new Array[Int](bins)
    var i = skip
    while (i < c.length) { counts((c(i) & 0xFF) % bins) += 1; i += 1 }
    ArrayData.toArrayData(counts)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byteHist", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Every `step`-th byte of a binary column from offset `skip` on, as a
  * new binary — the multimodal resize payload selection
  * ([[graft.ops.ResizeMedia]]) as a codegen'd expression. The
  * hex-string alternative (`unhex` over a transformed `hex` split)
  * materializes a 2x string and an index array per row; this is one
  * allocation of exactly the output size. Null binary → null. */
case class ByteStride(child: Expression, skip: Int, step: Int)
    extends UnaryExpression {

  require(skip >= 0, "byte_stride: skip must be >= 0")
  require(step >= 1, "byte_stride: step must be >= 1")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "byte_stride"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a binary input")

  def compute(c: Array[Byte]): Array[Byte] = {
    if (c.length <= skip) return Array.emptyByteArray
    val out = new Array[Byte]((c.length - skip + step - 1) / step)
    var i = skip; var j = 0
    while (i < c.length) { out(j) = c(i); j += 1; i += step }
    out
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byteStride", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The whole IVF-PQ encode — coarse-assign, residual, per-subspace
  * codebook argmin — as ONE fused loop per row. Value-identical to the
  * literal-tree formulation in [[graft.ops.AnnIvfPq.index]] /
  * [[graft.ops.PqCodebookDrift]] (struct-min over
  * `|e|² − 2·r_j·e` with lowest-code tie-break, all dots sequential
  * double folds, `|e|²` pre-summed driver-side with the same Scala fold),
  * so the DuckDB oracle replay is unchanged bit for bit.
  *
  * Why it exists: the expression-tree form unrolls nlist + m·ksub
  * struct-min branches PER ROW into generated Java — for m=8, ksub=16
  * that is ~160 dot-product subtrees whose JIT time dominates the whole
  * query at rehearsal SFs (SCALE.md round-11 residual 2). This is the
  * simhash64 treatment: one `compute` call on unboxed ArrayData, no
  * CodegenFallback row boxing, WholeStageCodegen span intact.
  *
  * Returns struct<cid:int, codes:array<int>, d2:array<double>> — cid the
  * coarse list, codes the m sub-codes, d2 the EXACT per-subspace
  * quantization error `(|e|² − 2·r_j·e) + r_j·r_j` (what
  * [[graft.ops.PqCodebookDrift]] thresholds). NULL when the vector's
  * length disagrees with m·dsub or any element is null — the NULL-in/
  * NULL-out discipline, which is deliberately STRICTER than the old
  * struct-min tree (a null element there sorted first and yielded
  * cid=0 with all-zero codes): degenerate vectors are now EXCLUDED
  * from AnnIvfPq.index and PqCodebookDrift histograms rather than
  * polluting list 0. Note the tier asymmetry this buys: AnnIvf's
  * nearestCentroid path still assigns such a vector to a list, so the
  * Flat and PQ tiers intentionally disagree on null-element input —
  * valid catalogs (the ingest contract) carry none. */
case class PqEncode(
    child: Expression,
    centers: Seq[Seq[Double]],
    codebooks: Seq[Seq[Seq[Double]]]) extends UnaryExpression {

  private val m = codebooks.size
  private val ksub = codebooks.head.size
  private val dsub = codebooks.head.head.size
  require(centers.nonEmpty && centers.forall(_.size == m * dsub),
    s"pq_encode: centroid dim must equal m*dsub = ${m * dsub}")
  require(codebooks.forall(cb => cb.size == ksub && cb.forall(_.size == dsub)),
    "pq_encode: ragged codebooks")

  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("d2", ArrayType(DoubleType, containsNull = false), nullable = false)))
  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a float/double array")
  }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val centersArr: Array[Array[Double]] =
    centers.map(_.toArray).toArray
  // |c|² / |e|² via the SAME driver-side Scala fold the literal tree used
  @transient private lazy val c2: Array[Double] =
    centers.map(c => c.map(v => v * v).sum).toArray
  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val e2: Array[Array[Double]] =
    codebooks.map(_.map(e => e.map(v => v * v).sum).toArray).toArray

  // nanSafeCompareDoubles' "is a strictly better minimum" half: NaN ranks
  // greatest, equal keeps the earlier (lower) index — struct-min semantics
  @inline private def better(d: Double, best: Double): Boolean =
    d < best || (java.lang.Double.isNaN(best) && !java.lang.Double.isNaN(d))

  def compute(arr: ArrayData): InternalRow = {
    val dim = m * dsub
    if (arr.numElements() != dim) return null
    val x = new Array[Double](dim)
    var t = 0
    while (t < dim) {
      if (arr.isNullAt(t)) return null
      x(t) = if (isFloat) arr.getFloat(t).toDouble else arr.getDouble(t)
      t += 1
    }
    // coarse: argmin |c|² − 2·x·c (rank-invariant |x|² dropped)
    var cid = 0; var bestC = java.lang.Double.NaN
    var i = 0
    while (i < centersArr.length) {
      val c = centersArr(i)
      var s = 0.0; var u = 0
      while (u < dim) { s += x(u) * c(u); u += 1 }
      val d = c2(i) - 2.0 * s
      if (i == 0 || better(d, bestC)) { bestC = d; cid = i }
      i += 1
    }
    // residual against the assigned centroid
    val cc = centersArr(cid)
    val r = new Array[Double](dim)
    t = 0
    while (t < dim) { r(t) = x(t) - cc(t); t += 1 }
    // per-subspace argmin over the codebook; d2 adds back |r_j|²
    val codes = new Array[Int](m)
    val d2 = new Array[Double](m)
    var j = 0
    while (j < m) {
      val off = j * dsub
      val cb = cbArr(j); val es = e2(j)
      var bestK = 0; var bestD = java.lang.Double.NaN
      var k = 0
      while (k < ksub) {
        val e = cb(k)
        var s = 0.0; var u = 0
        while (u < dsub) { s += r(off + u) * e(u); u += 1 }
        val d = es(k) - 2.0 * s
        if (k == 0 || better(d, bestD)) { bestD = d; bestK = k }
        k += 1
      }
      var rr = 0.0; var u = 0
      while (u < dsub) { val v = r(off + u); rr += v * v; u += 1 }
      codes(j) = bestK
      d2(j) = bestD + rr
      j += 1
    }
    new GenericInternalRow(Array[Any](cid,
      ArrayData.toArrayData(codes), ArrayData.toArrayData(d2)))
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this)
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = $ref.compute($c);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The PQ ADC lookup-sum fused into one loop: Σ_j tab[j][codes[j]]
  * without the zip_with + aggregate HOF pair it replaces. Value-identical
  * to `aggregate(zip_with(codes, tab, (c, row) => element_at(row, c+1)),
  * 0.0, (acc, x) => acc + x)` — the same j-ascending `((0+t0)+t1)+…`
  * fold the DuckDB oracle replays — on every input PqEncode can emit
  * (codes in [0, ksub)). Null discipline for corrupt inputs: mismatched
  * lengths (zip_with padding) or an out-of-range code poison the sum to
  * NULL — for codes ≥ ksub that matches element_at, but element_at
  * THROWS on index 0 (a code of −1) and under ANSI mode on any
  * out-of-range index, where this expression stays NULL; since PqEncode
  * never emits negative codes, the divergence is unreachable from the
  * encode path and NULL is the deliberate non-throwing choice for a
  * corrupted code table. Why it exists: the probe
  * join evaluates ADC once per CANDIDATE, and higher-order functions are
  * CodegenFallback — each candidate paid interpreted lambda evaluation
  * plus an intermediate array; this is one compiled loop over unboxed
  * ArrayData. */
case class AdcLookupSum(
    left: Expression, // codes (array<int>, length m)
    right: Expression) // per-query LUT (array<array<double>>, m × ksub)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_lookup_sum"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (int array, double-array array)")
  }

  def compute(codes: ArrayData, tab: ArrayData): Any = {
    val m = codes.numElements()
    if (tab.numElements() != m) return null
    var s = 0.0; var j = 0
    while (j < m) {
      if (codes.isNullAt(j) || tab.isNullAt(j)) return null
      val row = tab.getArray(j)
      val c = codes.getInt(j)
      // element_at(row, c+1): out-of-range or null entry → NULL, which
      // poisons the whole fold in the composed form
      if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
      s += row.getDouble(c)
      j += 1
    }
    s
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcLookupSum", this)
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val res = ctx.freshName("adc")
      s"""
         |Object $res = $ref.compute($c, $t);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Double) $res).doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** SQ8 decode+dot fused into one loop: q · (lo + code·st) without
  * materializing the reconstructed vector. Value-identical to
  * `ArrayDotProduct(q, AnnSq.decodeExpr(codes, mins, steps))` — same
  * i-ascending fold, same per-term arithmetic `q_i · (lo_i + c_i·st_i)`
  * (each product/add is one correctly-rounded IEEE op, so eliminating
  * the intermediate array cannot change a bit), same null discipline
  * (NULL on length mismatch with the fitted dim or any null element —
  * the zip_with-padding + null-product-poisons-the-dot behavior of the
  * composed form). Why it exists: the probe join evaluates the score
  * once per CANDIDATE (nprobe·|list| rows per query) and the composed
  * form allocated one dim-length double array per candidate — the only
  * allocation left in the SQ8 hot loop after ArrayDotProduct fused the
  * dot itself. The DuckDB replay (`list_inner_product(qv, rv)` over the
  * reconstructed rv) is unchanged bit for bit. */
case class SqDecodeDot(
    left: Expression, // query vector (float/double array)
    right: Expression, // SQ8 codes (int array)
    mins: Seq[Double],
    steps: Seq[Double]) extends BinaryExpression {

  require(mins.nonEmpty && mins.size == steps.size,
    "sq_decode_dot: min/step tables disagree")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_decode_dot"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (float/double array, int array)")
  }

  @transient private lazy val isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val lo: Array[Double] = mins.toArray
  @transient private lazy val st: Array[Double] = steps.toArray

  def compute(q: ArrayData, codes: ArrayData): Any = {
    val dim = lo.length
    if (q.numElements() != dim || codes.numElements() != dim) return null
    var s = 0.0; var i = 0
    while (i < dim) {
      if (q.isNullAt(i) || codes.isNullAt(i)) return null
      val qd = if (isFloat) q.getFloat(i).toDouble else q.getDouble(i)
      s += qd * (lo(i) + codes.getInt(i).toDouble * st(i))
      i += 1
    }
    s
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sqDecodeDot", this)
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val res = ctx.freshName("sqdd")
      s"""
         |Object $res = $ref.compute($q, $c);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Double) $res).doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** The IVF coarse-assignment kernel — the `n` nearest centroid ids by
  * `(d, cid)` ascending with `d = |c|² − 2·v·c` — fused into ONE loop
  * over unboxed ArrayData. Value-identical on valid input to the
  * struct-tree formulation it replaces
  * (`slice(array_sort(VectorFunctions.centroidStructs(v, centers)), 1,
  * n)` projected to cids, and `array_min(...).getField("cid")` for
  * n = 1): `|c|²` is the same driver-side Scala fold inlined by the
  * struct tree, the dot is the same sequential double fold as
  * [[ArrayDotProduct]], `d = c2 − 2.0·dot` the same arithmetic, and
  * candidate comparison uses `java.lang.Double.compare` — Spark's own
  * double ordering (−0.0 < 0.0, NaN greatest), with the lowest-cid
  * tie-break falling out of ascending scan order.
  *
  * Why it exists: the struct-tree form emits one dot-product subtree
  * PER CENTROID into the generated Java — fine at the reference's
  * nlist = 32, but the serving-scale coarse quantizer sizes nlist to
  * ~catalog/64 (hundreds to thousands), where the generated method
  * blows past JIT limits and the whole projection (plus the per-row
  * array_sort of nlist structs) drops to interpreted eval — measured
  * as the sf1.0 recsys IVF fallback timing out where this loop costs
  * nlist·dim multiplies per row. The PqEncode treatment, applied to
  * the coarse stage.
  *
  * Null discipline (the [[PqEncode]] NULL-in/NULL-out precedent,
  * deliberately STRICTER than the struct tree): a null vector, null
  * element, or a length disagreeing with the centroid dim yields NULL —
  * the struct tree instead sorted null distances first and captured
  * degenerate vectors in list 0. Such rows now drop from index joins
  * instead of polluting the lowest list; valid catalogs (the ingest
  * contract) carry none. */
case class NearestCids(child: Expression, centers: Seq[Seq[Double]], n: Int)
    extends UnaryExpression {

  require(centers.nonEmpty, "nearest_cids: need at least one centroid")
  private val dim = centers.head.size
  require(centers.forall(_.size == dim), "nearest_cids: ragged centers")
  require(n >= 1 && n <= centers.size, "nearest_cids: n in [1, nlist]")

  @transient private lazy val cents: Array[Array[Double]] =
    centers.map(_.toArray).toArray
  @transient private lazy val c2: Array[Double] =
    centers.map(c => c.map(x => x * x).sum).toArray

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cids"
  override def nullable: Boolean = true

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a float/double array input")
  }

  def compute(v: ArrayData): Any = {
    if (v.numElements() != dim) return null
    val isFloat = elemType == FloatType
    val x = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      if (v.isNullAt(j)) return null
      x(j) = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
      j += 1
    }
    // bounded insertion by (d, cid): cids ascend through the scan, so a
    // strict d-compare alone realizes the lowest-cid tie-break
    val bestD = new Array[Double](n)
    val bestC = new Array[Int](n)
    var filled = 0
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      var s = 0.0
      var k = 0
      while (k < dim) { s += x(k) * c(k); k += 1 }
      val d = c2(i) - 2.0 * s
      if (filled < n || java.lang.Double.compare(d, bestD(filled - 1)) < 0) {
        var p = if (filled < n) filled else n - 1
        while (p > 0 && java.lang.Double.compare(d, bestD(p - 1)) < 0) {
          bestD(p) = bestD(p - 1); bestC(p) = bestC(p - 1); p -= 1
        }
        bestD(p) = d; bestC(p) = i
        if (filled < n) filled += 1
      }
      i += 1
    }
    ArrayData.toArrayData(bestC)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCids", this)
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Greedy BPE tokenization of a document in one fused loop — the
  * closure strategy of [[graft.ops.BpeTokenize]] (normalize → split →
  * per-word merge passes in learned order, word-type memoized) as a
  * codegen'd expression instead of a Scala UDF: no per-row
  * ScalaUDF encoder round-trip (UTF8String→String→Seq[String]→ArrayData
  * via CatalystTypeConverters), and the enclosing WholeStageCodegen span
  * stays intact on the `text_bpe_tokens` / chunk-packing hot path. The
  * word kernel is [[graft.ops.BpeTokenize.applyWord]] itself — one
  * definition, so the UDF it replaces cannot drift (CodegenSpec pins
  * bit-identity anyway). NULL propagates (the operator's null→[] guard
  * lives in the transform, exactly like the expression-fold strategy);
  * the per-task word-type memo is rebuilt per deserialized task, the
  * same lifecycle the UDF's transient memo had. */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  require(merges.nonEmpty, "bpe_tokens: empty merge list")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
  }

  @transient private lazy val memo =
    new java.util.HashMap[String, Array[UTF8String]]()

  private def wordTokens(w: String): Array[UTF8String] = {
    var r = memo.get(w)
    if (r == null) {
      r = graft.ops.BpeTokenize.applyWord(w, merges)
        .map(UTF8String.fromString).toArray
      memo.put(w, r)
    }
    r
  }

  def compute(v: UTF8String): ArrayData = {
    val words = graft.ops.BpeTokenize.normalizeLocal(v.toString).split(" ")
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) {
        val toks = wordTokens(words(i))
        var j = 0
        while (j < toks.length) { out += toks(j); j += 1 }
      }
      i += 1
    }
    ArrayData.toArrayData(out.toArray)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTokens", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Keyed lookup into a resident [[KeyedTable]]: field `ordinal` of the
  * row stored under `key`, NULL for a null key, a key with no row, or a
  * null field — a broadcast left join's per-row result, with no join in
  * the plan. Tasks reach the table only through the broadcast handle,
  * resolved once per deserialized expression. */
case class KeyedLookup(key: Expression, table: Broadcast[KeyedTable], ordinal: Int,
    dataType: DataType) extends UnaryExpression {

  override def child: Expression = key
  override def nullable: Boolean = true
  override def prettyName: String = "keyed_lookup"

  @transient private lazy val resident = table.value

  def row(k: AnyRef): InternalRow = resident.row(k)

  override def nullSafeEval(k: Any): Any = {
    val r = row(KeyedTable.key(k))
    if (r == null || r.isNullAt(ordinal)) null else r.get(ordinal, dataType)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keyedLookup", this)
    nullSafeCodeGen(ctx, ev, k => {
      val boxed =
        if (KeyedTable.integral(key.dataType)) s"java.lang.Long.valueOf((long) $k)"
        else if (CodeGenerator.isPrimitiveType(key.dataType))
          s"${CodeGenerator.boxedType(key.dataType)}.valueOf($k)"
        else k
      val r = ctx.freshName("row")
      s"""
         |InternalRow $r = $ref.row($boxed);
         |if ($r == null || $r.isNullAt($ordinal)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${CodeGenerator.getValue(r, dataType, ordinal.toString)};
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression) = copy(key = c)
}

/** Probe-and-top-k against a resident [[AnnTable]]: route the query
  * vector with the table's [[LshBucket]] / [[NearestCids]] kernel, score
  * every item of the probed lists with [[ArrayDotProduct]]'s arithmetic
  * (or cosine over it), and keep the best `k` through
  * [[TopKAggregator]]'s own `reduce` (score desc, id asc, NaN dropped):
  * the per-row equivalent of the relational probe join + top-k groupBy,
  * which also answers each request row for itself.
  *
  * Returns an array of zero or one `(candidate_ids, candidate_scores)`
  * structs, for `inline`: zero for a null vector, and — unless
  * `keepEmpty` — when the probed lists hold no item (the inner probe
  * join's dropped row); otherwise one, with empty arrays when nothing
  * scored. */
case class AnnProbeTopK(child: Expression, table: Broadcast[AnnTable], k: Int,
    keepEmpty: Boolean) extends UnaryExpression {

  require(k >= 1, "ann_probe_topk: k >= 1")

  override def dataType: DataType = AnnProbeTopK.dataType
  override def nullable: Boolean = false
  override def prettyName: String = "ann_probe_topk"

  @transient private lazy val resident = table.value
  @transient private lazy val route = resident.routing.router(child.dataType)
  @transient private lazy val topk = new TopKAggregator(k)
  @transient private lazy val elemType = child.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  def compute(v: ArrayData): ArrayData = {
    if (v == null) return AnnProbeTopK.noRow
    val probes = route(v)
    if (probes == null) return if (keepEmpty) AnnProbeTopK.emptyRow else AnnProbeTopK.noRow
    val q = AnnTable.doubles(v, elemType)
    val cosine = resident.metric == "cosine"
    val qn = if (cosine && q != null) math.sqrt(AnnTable.dot(q, q)) else 0.0
    var buf = topk.zero
    var joined = 0
    var p = 0
    while (p < probes.length) {
      val l = resident.list(probes(p))
      if (l != null) {
        joined += l.ids.length
        var j = 0
        while (q != null && j < l.ids.length) {
          val it = l.vecs(j)
          // VectorFunctions.cosine: 0 for a zero denominator, else dot/denom
          val s =
            if (!cosine) AnnTable.dot(q, it)
            else if (it == null) Double.NaN
            else {
              val denom = qn * l.norms(j)
              if (denom == 0.0) 0.0 else AnnTable.dot(q, it) / denom
            }
          buf = topk.reduce(buf, (l.ids(j), s))
          j += 1
        }
      }
      p += 1
    }
    if (joined == 0 && !keepEmpty) AnnProbeTopK.noRow
    else {
      val top = topk.finish(buf)
      AnnProbeTopK.oneRow(top.ids, top.scores)
    }
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("annProbe", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $ref.compute(${c.isNull} ? null : ${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object AnnProbeTopK {
  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("candidate_ids", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("candidate_scores", ArrayType(DoubleType, containsNull = false), nullable = false))),
    containsNull = false)

  private def oneRow(ids: Array[Long], scores: Array[Double]): ArrayData =
    new GenericArrayData(Array[Any](InternalRow(
      UnsafeArrayData.fromPrimitiveArray(ids), UnsafeArrayData.fromPrimitiveArray(scores))))

  private val noRow: ArrayData = new GenericArrayData(Array.empty[Any])
  private val emptyRow: ArrayData = oneRow(Array.empty, Array.empty)
}

/** Column wrappers (Spark 4: Column↔Expression bridge lives in
  * sql.classic.ExpressionUtils). */
object FastExpressions {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
  def arrayDot(a: Column, b: Column): Column =
    column(ArrayDotProduct(expression(a), expression(b)))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def minhashBandKeys(c: Column, numHashes: Int, bands: Int): Column =
    column(MinHashBandKeys(expression(c), numHashes, bands))
  def minhashSignature(c: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(c), numHashes))
  def sigBandKeys(c: Column, bands: Int): Column =
    column(SigBandKeys(expression(c), bands))
  def lshBucket(c: Column, numBits: Int): Column =
    column(LshBucket(expression(c),
      expression(org.apache.spark.sql.functions.array().cast("array<double>")), numBits))
  def lshBucket(c: Column, center: Column, numBits: Int, seed: Long = 42L): Column =
    column(LshBucket(expression(c), expression(center), numBits, seed))
  def arrayAgreeCount(a: Column, b: Column): Column =
    column(ArrayAgreeCount(expression(a), expression(b)))
  def wordShingles(c: Column, n: Int): Column = column(WordShingles(expression(c), n))
  def repetitionSignals(c: Column, ns: Seq[Int]): Column =
    column(RepetitionSignals(expression(c), ns))
  def keptTokens(ws: Column, starts: Column, n: Int): Column =
    column(KeptTokens(expression(ws), expression(starts), n))
  def hashBucketCounts(c: Column, salt: String, numBuckets: Int): Column =
    column(HashBucketCounts(expression(c), salt, numBuckets))
  def byteHistogram(c: Column, bins: Int, skip: Int): Column =
    column(ByteHistogram(expression(c), bins, skip))
  def byteStride(c: Column, skip: Int, step: Int): Column =
    column(ByteStride(expression(c), skip, step))
  def pqEncode(c: Column, centers: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]]): Column =
    column(PqEncode(expression(c), centers, codebooks))
  def sqDecodeDot(q: Column, codes: Column,
      mins: Seq[Double], steps: Seq[Double]): Column =
    column(SqDecodeDot(expression(q), expression(codes), mins, steps))
  def adcLookupSum(codes: Column, tab: Column): Column =
    column(AdcLookupSum(expression(codes), expression(tab)))
  def nearestCids(c: Column, centers: Seq[Seq[Double]], n: Int): Column =
    column(NearestCids(expression(c), centers, n))
  def bpeTokens(c: Column, merges: Seq[(String, String)]): Column =
    column(BpeTokens(expression(c), merges))
  def keyedLookup(key: Column, table: Broadcast[KeyedTable], ordinal: Int): Column =
    column(KeyedLookup(expression(key), table, ordinal,
      table.value.schema(ordinal).dataType))
  def annProbeTopK(vec: Column, table: Broadcast[AnnTable], k: Int,
      keepEmpty: Boolean): Column =
    column(AnnProbeTopK(expression(vec), table, k, keepEmpty))
  def antiFilter(ids: Column, filter: Column): Column =
    column(AntiFilter(expression(ids), expression(filter), None))
  def antiFilter(ids: Column, scores: Column, filter: Column): Column =
    column(AntiFilter(expression(ids), expression(filter), Some(expression(scores))))
  def sampleTopK(ids: Column, scores: Column, seed: Column, temperature: Double,
      topk: Int, salt: Long): Column =
    column(SampleTopK(expression(ids), expression(scores),
      expression(scores.cast("array<double>")), expression(seed.cast("string")),
      temperature, topk, salt))
}
