package graft.functions

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Proves the custom expressions really run inside whole-stage codegen:
  * the generated Java must contain their emitted calls (a Janino compile
  * failure would silently fall back to interpreted eval — this spec makes
  * that a test failure instead of a perf mystery). */
class CodegenSpec extends SparkSpec {
  import spark.implicits._

  private def generatedCode(df: org.apache.spark.sql.DataFrame): String = {
    val wsc = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }
    assert(wsc.nonEmpty, "expected a WholeStageCodegen span")
    wsc.map(w => w.doCodeGen()._2.body).mkString("\n")
  }

  test("ArrayDotProduct emits an inline loop in generated code") {
    // range-derived input: a literal LocalRelation would skip WSCG entirely
    val df = spark.range(4)
      .select(array($"id" * 1.0, $"id" * 2.0).as("a"), array(lit(3.0), lit(4.0)).as("b"))
      .select($"a", FastExpressions.arrayDot($"a", $"b").as("d"))
    val code = generatedCode(df)
    assert(code.contains("numElements()"), "inline dot loop must be generated")
    // and the result is still correct through the codegen path (id=1 → 3+8)
    assert(df.orderBy("d").collect()(1).getDouble(1) == 11.0)
  }

  test("ArrayAgreeCount matches the zip_with form and stays in codegen") {
    val df = spark.range(64)
      .select(array($"id", $"id" * 2, lit(7L)).as("a"),
        array($"id", $"id" + 1, lit(7L)).as("b"))
      .select(
        FastExpressions.arrayAgreeCount($"a", $"b").as("fast"),
        size(filter(zip_with($"a", $"b", (x, y) => x === y), m => m)).as("hof"))
    val code = generatedCode(df)
    assert(code.contains("getLong"), "inline agree loop must be generated")
    assert(df.filter($"fast" =!= $"hof").count() == 0,
      "fused agreement count must equal the zip_with+filter+size definition")
    // unequal lengths: zip_with pads with null, which never counts
    val uneven = Seq((Seq(1L, 2L, 3L), Seq(1L, 9L))).toDF("a", "b")
      .select(FastExpressions.arrayAgreeCount($"a", $"b").as("c"))
    assert(uneven.head().getInt(0) == 1)
  }

  test("KeptTokens equals the HOF span-merge form and stays in codegen") {
    // deterministic pseudo-random token/starts corpora (seeded) covering
    // empty starts, adjacent windows, overlapping chains and tail spans
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      val len = rnd.nextInt(40)
      val ws = (0 until len).map(i => s"t$i")
      val n = rnd.nextInt(4) + 1
      val starts = (0 until len).filter(_ => rnd.nextBoolean())
        .take(rnd.nextInt(10)).sorted
      (ws, starts, n)
    }
    for (n <- 1 to 4) {
      val df = rows.filter(_._3 == n).toDF("ws", "starts", "n")
      if (!df.isEmpty) {
        val both = df.select(
          FastExpressions.keptTokens($"ws", $"starts", n).as("fused"),
          graft.ops.ScrubSharedGrams.keptTokensHof($"ws", $"starts", n).as("hof"))
        assert(both.filter(
          concat_ws("", $"fused") =!= concat_ws("", $"hof")).count() == 0,
          s"fused reconstruction must equal the HOF form at n=$n")
      }
    }
    // codegen path: range-derived input, unboxed compute call
    val df = spark.range(8)
      .select(array(lit("a"), lit("b"), lit("c"), lit("d")).as("ws"),
        array(($"id" % 3).cast("int")).as("starts"))
      .select(FastExpressions.keptTokens($"ws", $"starts", 2).as("kept"))
    val code = generatedCode(df)
    assert(code.contains(".compute("), "expected unboxed compute call")
    // id=0 → start 0, window [0,2) → kept (c, d)
    assert(df.head().getSeq[String](0) == Seq("c", "d"))
  }

  test("HashBucketCounts equals the HOF featurizer and stays in codegen") {
    // seeded corpus: mixed case, messy whitespace, empties, punctuation —
    // everything the normalize + md5-bucket contract must agree on
    val rnd = new scala.util.Random(11)
    val vocab = Seq("Alpha", "beta", "GAMMA", "d-4", "e.mail@x", "", "  ", "über")
    val rows = (0 until 300).map { _ =>
      (0 until rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  ")
    }
    for (b <- Seq(1, 7, 64)) {
      val both = rows.toDF("t").select(
        FastExpressions.hashBucketCounts($"t", "graft-qc", b).as("fused"),
        graft.ops.TextQualityClassifier.featureExprHof($"t", b, "graft-qc").as("hof"))
      assert(both.filter(
        concat_ws(",", $"fused") =!= concat_ws(",", $"hof")).count() == 0,
        s"fused featurizer must equal the HOF form at numBuckets=$b")
    }
    val df = spark.range(3)
      .select(concat(lit("a b c "), $"id").as("t"))
      .select(FastExpressions.hashBucketCounts($"t", "s", 8).as("f"))
    val code = generatedCode(df)
    assert(code.contains(".compute("), "expected unboxed compute call")
    assert(df.head().getSeq[Double](0).sum == 4.0) // 4 tokens, one count each
  }

  test("hash expressions run via unboxed compute calls in generated code") {
    val df = spark.range(3)
      .select(concat(lit("a b c d e f w"), $"id").as("t"))
      .select(FastExpressions.simhash64(FastExpressions.wordShingles($"t", 3)).as("h"),
        FastExpressions.minhashBandKeys(
          FastExpressions.wordShingles($"t", 3), 16, 4).as("mh"))
    val code = generatedCode(df)
    assert(code.contains(".compute("), "expected unboxed compute call")
    val row = df.head()
    assert(row.getLong(0) != 0L && row.getSeq[Long](1).size == 4)
  }

  test("RepetitionSignals stays inside whole-stage codegen") {
    val df = spark.range(3)
      .select(concat(lit("a b a b c d e"), $"id").as("t"))
      .select(FastExpressions.repetitionSignals($"t", Seq(2, 3)).as("s"))
    val code = generatedCode(df)
    assert(code.contains(".compute("), "expected unboxed compute call")
    val sig = df.head().getSeq[Long](0)
    assert(sig.length == 5 && sig.head > 0) // [chars, top2, dup2, top3, dup3]
  }

  test("lsh bucket codegen result matches interpreted eval") {
    val vecs = Seq((1L, Seq(0.5, -0.25, 1.0)), (2L, Seq(-1.0, 0.75, 0.1)))
      .toDF("id", "v")
    val mu = typedLit(Array(0.1, 0.1, 0.1))
    val viaPlan = vecs.select($"id", FastExpressions.lshBucket($"v", mu, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // interpreted reference: evaluate the expression directly
    val expected = vecs.collect().map { r =>
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        r.getSeq[Double](1).toArray)
      val ctr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(0.1, 0.1, 0.1))
      val e = LshBucket(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          r.getSeq[Double](1), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          Seq(0.1, 0.1, 0.1), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        8)
      r.getLong(0) -> e.compute(arr, ctr)
    }.toMap
    assert(viaPlan == expected)
  }

  test("PqEncode is bit-identical to the literal-tree formulation and stays in codegen") {
    // the exact formulation PqEncode replaced in AnnIvfPq.index /
    // PqCodebookDrift.codeD2: coarse struct-min over |c|² − 2·x·c,
    // zip_with residual, per-subspace struct-min over |e|² − 2·r_j·e with
    // lowest-code tie-break, d2 = best_d + r_j·r_j. Random non-dyadic
    // floats make this a true floating-point fold-order identity check —
    // the DuckDB oracle replays these values, so bit-identity is the bar.
    val rnd = new scala.util.Random(19)
    val m = 3; val dsub = 4; val dim = m * dsub
    val centers: Seq[Seq[Double]] =
      Seq.fill(5)(Seq.fill(dim)(rnd.nextGaussian() * 2.0))
    val codebooks: Seq[Seq[Seq[Double]]] =
      Seq.fill(m)(Seq.fill(6)(Seq.fill(dsub)(rnd.nextGaussian())))
    // RDD-backed (not a literal LocalRelation, which would fold the
    // Project away and skip WSCG; repartitioning instead would wrap the
    // plan in AdaptiveSparkPlanExec and hide the codegen span)
    val vecs = spark.sparkContext.parallelize(
      (0 until 300).map(i =>
        (i.toLong, Seq.fill(dim)((rnd.nextGaussian() * 3).toFloat))), 4)
      .toDF("id", "v")

    val centersLit = array(centers.map(c => typedLit(c.toArray)): _*)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      FastExpressions.arrayDot(a, b)
    val cid = array_min(array(centers.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dot($"v", typedLit(c.toArray))).as("d"),
        lit(i).as("cid"))
    }: _*)).getField("cid")
    def subJ(j: Int) = slice($"__res", j * dsub + 1, dsub)
    val perSub = (0 until m).map { j =>
      val best = array_min(array(codebooks(j).zipWithIndex.map { case (e, kk) =>
        val e2 = e.map(v => v * v).sum
        struct((lit(e2) - lit(2.0) * dot(subJ(j), typedLit(e.toArray))).as("d"),
          lit(kk).as("code"))
      }: _*))
      (best.getField("code"), best.getField("d") + dot(subJ(j), subJ(j)))
    }
    val hof = vecs
      .withColumn("__cid", cid)
      .withColumn("__res", zip_with($"v".cast("array<double>"),
        element_at(centersLit, $"__cid" + 1), (a, b) => a - b))
      .select($"id", $"__cid".as("cid"),
        array(perSub.map(_._1): _*).as("codes"),
        array(perSub.map(_._2): _*).as("d2"))

    val fusedDf = vecs.select($"id",
      FastExpressions.pqEncode($"v", centers, codebooks).as("e"))
      .select($"id", $"e.cid".as("cid"), $"e.codes".as("codes"), $"e.d2".as("d2"))
    assert(generatedCode(fusedDf).contains(".compute("),
      "expected unboxed compute call")

    val got = fusedDf.as[(Long, Int, Seq[Int], Seq[Double])]
      .collect().sortBy(_._1)
    val want = hof.as[(Long, Int, Seq[Int], Seq[Double])]
      .collect().sortBy(_._1)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"fused/HOF divergence at id ${g._1}: $g vs $w")
    }
  }

  test("NearestCids is bit-identical to the sorted struct-tree formulation and stays in codegen") {
    // the exact formulation NearestCids replaced in AnnIvf (probe:
    // slice(array_sort(centroidStructs), 1, n) → cids; index: array_min
    // → cid): random non-dyadic floats make this a true floating-point
    // fold-order identity — the DuckDB oracle replays these values via
    // the same (d, cid) window ordering, so bit-identity is the bar.
    val rnd = new scala.util.Random(23)
    val dim = 6
    val centers: Seq[Seq[Double]] =
      Seq.fill(37)(Seq.fill(dim)(rnd.nextGaussian() * 2.0))
    val vecs = spark.sparkContext.parallelize(
      (0 until 400).map(i =>
        (i.toLong, Seq.fill(dim)((rnd.nextGaussian() * 3).toFloat))), 4)
      .toDF("id", "v")
    for (n <- Seq(1, 4, 37)) {
      val tree = org.apache.spark.sql.functions.transform(
        slice(array_sort(VectorFunctions.centroidStructs($"v", centers)), 1, n),
        s => s.getField("cid"))
      val fusedDf = vecs.select($"id",
        FastExpressions.nearestCids($"v", centers, n).as("c"))
      assert(generatedCode(fusedDf).contains(".compute("),
        "expected unboxed compute call")
      val got = fusedDf.as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
      val want = vecs.select($"id", tree.as("c"))
        .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
      assert(got == want, s"fused/tree divergence at n=$n")
    }
    // duplicate centroids → identical distances → lowest-cid-first order
    val dup = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0))
    val tied = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "v")
    assert(tied.select(FastExpressions.nearestCids($"v", dup, 3).as("c"))
      .as[Seq[Int]].head() == Seq(0, 2, 1))
    // null discipline (the PqEncode precedent, stricter than the struct
    // tree's list-0 capture): wrong length or null vector → NULL
    val bad = Seq((1L, Seq(1.0f)), (2L, null: Seq[Float])).toDF("id", "v")
    assert(bad.select(FastExpressions.nearestCids($"v", dup, 1).as("c"))
      .filter($"c".isNotNull).count() == 0)
  }

  test("SqDecodeDot is bit-identical to dot(q, decode(codes)) and stays in codegen") {
    // random non-dyadic floats + full-range codes: a true fold-order
    // identity check against the composed form the DuckDB oracle replays
    val rnd = new scala.util.Random(23)
    val dim = 16
    val mins = Seq.fill(dim)(rnd.nextGaussian() * 2.0)
    val steps = Seq.fill(dim)(rnd.nextDouble() * 0.1)
    val rows = spark.sparkContext.parallelize(
      (0 until 200).map(i => (i.toLong,
        Seq.fill(dim)((rnd.nextGaussian() * 3).toFloat),
        Seq.fill(dim)(rnd.nextInt(256)))), 4)
      .toDF("id", "q", "codes")
    // SEPARATE frames: the composed form's zip_with is CodegenFallback,
    // which evicts any operator containing it from WSCG — colocating the
    // two would mask exactly the regression this spec pins (that the
    // fused form KEEPS the probe stage inside whole-stage codegen)
    val fusedDf = rows.select($"id",
      FastExpressions.sqDecodeDot($"q", $"codes", mins, steps).as("fused"))
    val composedDf = rows.select($"id",
      FastExpressions.arrayDot($"q",
        graft.ops.AnnSq.decodeExpr($"codes", mins, steps)).as("composed"))
    assert(generatedCode(fusedDf).contains(".compute("),
      "expected unboxed compute call")
    val got = fusedDf.as[(Long, Double)].collect().sortBy(_._1)
    val want = composedDf.as[(Long, Double)].collect().sortBy(_._1)
    got.zip(want).foreach { case ((id, f), (_, c)) =>
      assert(f == c, s"fused/composed divergence at id $id: $f vs $c")
    }
    // null discipline: null element or length mismatch → NULL, like the
    // composed zip_with + null-product form
    val bad = Seq(
      (1L, Seq(1.0f, 2.0f), Seq(3, 4)),     // wrong dim (fitted dim = 16)
      (2L, Seq.fill(dim)(1.0f), Seq.fill(dim - 1)(0) :+ -1)) // fine (codes any int)
      .toDF("id", "q", "codes")
      .select($"id", FastExpressions.sqDecodeDot($"q", $"codes", mins, steps).as("d"))
    assert(bad.filter($"id" === 1L).head().isNullAt(1),
      "length mismatch must be NULL")
    assert(!bad.filter($"id" === 2L).head().isNullAt(1))
  }

  test("AdcLookupSum equals the zip_with+aggregate fold and stays in codegen") {
    val rnd = new scala.util.Random(29)
    val m = 8; val ksub = 16
    val rows = spark.sparkContext.parallelize(
      (0 until 200).map(i => (i.toLong,
        Seq.fill(m)(rnd.nextInt(ksub)),
        Seq.fill(m)(Seq.fill(ksub)(rnd.nextGaussian())))), 4)
      .toDF("id", "codes", "tab")
    // separate frames: the composed HOF pair is CodegenFallback and would
    // evict a shared Project from WSCG (the SqDecodeDot lesson)
    val fusedDf = rows.select($"id",
      FastExpressions.adcLookupSum($"codes", $"tab").as("s"))
    val composedDf = rows.select($"id",
      aggregate(zip_with($"codes", $"tab",
        (code, row) => element_at(row, code + 1)),
        lit(0.0), (acc, x) => acc + x).as("s"))
    assert(generatedCode(fusedDf).contains(".compute("),
      "expected unboxed compute call")
    val got = fusedDf.as[(Long, Double)].collect().sortBy(_._1)
    val want = composedDf.as[(Long, Double)].collect().sortBy(_._1)
    got.zip(want).foreach { case ((id, f), (_, c)) =>
      assert(f == c, s"fused/composed divergence at id $id: $f vs $c")
    }
    // null discipline: out-of-range code (element_at's null) and length
    // mismatch (zip_with padding) both poison the sum to NULL
    val bad = Seq(
      (1L, Seq(0, 99), Seq(Seq(1.0), Seq(2.0))),  // code 99 out of range
      (2L, Seq(0), Seq(Seq(1.0), Seq(2.0))),       // fewer codes than rows
      (3L, Seq(0, 0), Seq(Seq(1.0), Seq(2.0))))    // clean
      .toDF("id", "codes", "tab")
      .select($"id", FastExpressions.adcLookupSum($"codes", $"tab").as("s"))
    assert(bad.filter($"id" === 1L).head().isNullAt(1))
    assert(bad.filter($"id" === 2L).head().isNullAt(1))
    assert(bad.filter($"id" === 3L).head().getDouble(1) == 3.0)
  }

  test("PqEncode: lowest-code tie-break on duplicate entries; null on bad input") {
    // duplicate codebook entries → struct-min semantics pick the LOWEST code
    val centers = Seq(Seq(0.0, 0.0))
    val cbs = Seq(
      Seq(Seq(1.0), Seq(1.0), Seq(2.0)), // codes 0 and 1 tie exactly
      Seq(Seq(5.0), Seq(-1.0), Seq(9.0)))
    val df = Seq((1L, Seq(1.0f, -1.0f))).toDF("id", "v")
      .select($"id", FastExpressions.pqEncode($"v", centers, cbs).as("e"))
    val row = df.select($"e.cid", $"e.codes").head()
    assert(row.getInt(0) == 0)
    assert(row.getSeq[Int](1) == Seq(0, 1))
    // wrong-length vector → NULL (the zip_with null-poisoning contract)
    val bad = Seq((1L, Seq(1.0f))).toDF("id", "v")
      .select(FastExpressions.pqEncode($"v", centers, cbs).as("e"))
    assert(bad.filter($"e".isNull).count() == 1)
  }

  test("BpeTokens is bit-identical to the applyWord reference and stays in codegen") {
    import graft.ops.BpeTokenize
    val merges = Seq(("t", "h"), ("th", "e"), ("e", "</w>"), ("the", "</w>"),
      ("a", "n"), ("an", "d</w>"), ("d", "</w>"))
    // range-derived text so the projection lands inside a WSCG span;
    // mixed case, repeated word types (exercises the per-task memo),
    // multi-space and tab whitespace (normalize collapses), unicode
    val texts = Seq("The the THE and", "a  and\tthe", "θ the θ", "and", "")
    val df = spark.range(texts.length.toLong)
      .select($"id", element_at(typedlit(texts), ($"id" + 1).cast("int")).as("text"))
      .select($"id", FastExpressions.bpeTokens($"text", merges).as("toks"))
    val code = generatedCode(df)
    assert(code.contains("compute"), "BpeTokens must emit an unboxed compute call")
    val got = df.as[(Long, Seq[String])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = BpeTokenize.normalizeLocal(t).split(" ").filter(_.nonEmpty)
        .toSeq.flatMap(w => BpeTokenize.applyWord(w, merges))
      assert(got(i.toLong) == want, s"text '$t' diverged from applyWord")
    }
    // the operator-level guard: NULL text → [] (the retired UDF's
    // contract), via the fused path (maxExprMerges = 0)
    val opOut = BpeTokenize(merges, "text", maxExprMerges = 0)
      .transform(Seq((1L, null: String), (2L, "the and")).toDF("doc_id", "text"))
      .select("doc_id", "bpe_tokens").as[(Long, Seq[String])].collect().toMap
    assert(opOut(1L) == Seq.empty[String])
    assert(opOut(2L) == Seq("the and").flatMap(_.split(" ").toSeq
      .flatMap(w => BpeTokenize.applyWord(w, merges))))
    assert(opOut(2L).nonEmpty)
  }

  test("anti-filter / softmax top-k equal the HOF chain and stay in codegen") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    import graft.ops.{FilterCandidates, FilterCandidatesWithScores, SoftmaxSampling}
    // the chains the two kernels replaced, verbatim, as the reference
    def hofFilter(df: DataFrame): DataFrame =
      df.withColumn("filtered_ids", filter(col("candidate_ids"),
          x => coalesce(!array_contains(col("seen"), x), lit(true))))
        .drop("candidate_ids", "seen")
    def hofFilterWithScores(df: DataFrame): DataFrame =
      df.withColumn("__kept",
          filter(arrays_zip(col("candidate_ids"), col("candidate_scores")),
            p => coalesce(!array_contains(col("seen"), p.getField("candidate_ids")), lit(true))))
        .withColumn("filtered_ids", transform(col("__kept"), p => p.getField("candidate_ids")))
        .withColumn("filtered_scores",
          transform(col("__kept"), p => p.getField("candidate_scores")))
        .drop("candidate_ids", "candidate_scores", "seen", "__kept")
    def hofSoftmax(df: DataFrame, ids: String, scores: String, t: Double, k: Int,
        seed: Long, seedCol: String): DataFrame = {
      val keyed = transform(col(ids), (id, i) => {
        val u = TextFunctions.md5Uniform(concat_ws(":",
          col(seedCol).cast("string"), i.cast("string"), lit(seed.toString)))
        val s = element_at(col(scores), i + 1)
        val key = -log(u) / exp(lit(t) * s.cast("double"))
        struct(key.as("k"), id.as("id"), s.as("sc"))
      })
      df.withColumn("__top", slice(array_sort(keyed), 1, k))
        .withColumn("ordered_ids", transform(col("__top"), p => p.getField("id")))
        .withColumn("ordered_scores", transform(col("__top"), p => p.getField("sc")))
        .drop(ids, scores, "__top")
    }
    // raw bits for floating values, so -0.0 and 0.0 differ
    def canon(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case xs: scala.collection.Seq[_] => xs.map(canon).toList
      case r: Row => r.toSeq.map(canon).toList
      case x => x
    }
    def assertSame(native: DataFrame, hof: DataFrame, what: String): Unit = {
      assert(native.schema == hof.schema, s"$what: schema")
      val got = native.collect().map(canon).sortBy(_.toString).toSeq
      val want = hof.collect().map(canon).sortBy(_.toString).toSeq
      assert(got.length == want.length && got.length >= 1, s"$what: row count")
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$what diverged: $g vs $w") }
    }
    def assertCodegen(df: DataFrame, what: String): Unit =
      assert(generatedCode(df).contains(".compute("), s"$what: expected unboxed compute call")

    val rnd = new scala.util.Random(31)
    def maybe[T](p: Double)(v: => T): T = if (rnd.nextDouble() < p) null.asInstanceOf[T] else v
    // NaN, +Inf, huge (exp overflows: key 0, so ties go by id), ±0.0;
    // -Inf only where a temperature of 0 keeps exp(T*s) off 0
    val special = Seq(Double.NaN, Double.PositiveInfinity, 1e300, 1e300, 0.0, -0.0)
    def score(negInf: Boolean): java.lang.Double = maybe(0.05) {
      val r = rnd.nextInt(10)
      if (negInf && r == 0) Double.NegativeInfinity
      else if (r < 3) special(rnd.nextInt(special.size)) else rnd.nextGaussian() * 2
    }
    def longs(n: Int, pNull: Double): Seq[java.lang.Long] =
      Seq.fill(n)(maybe(pNull)(java.lang.Long.valueOf(rnd.nextInt(30).toLong)))
    val rows = (0 until 600).map { r =>
      val n = rnd.nextInt(25)
      val negInf = r % 5 == 0
      val ids = maybe(0.04)(longs(n, 0.05))
      // unequal lengths: arrays_zip pads the shorter one with nulls
      val m = if (rnd.nextDouble() < 0.15) rnd.nextInt(25) else n
      val scores = maybe(0.04)(Seq.fill(m)(score(negInf)))
      val seen = rnd.nextInt(10) match {
        case 0 => null
        case 1 => Seq.empty[java.lang.Long]
        case _ => longs(rnd.nextInt(15), 0.05)
      }
      Row(r.toLong, maybe(0.1)(s"u$r"), negInf, ids, scores, seen)
    }
    val schema = StructType(Seq(
      StructField("requestId", LongType), StructField("seed_s", StringType),
      StructField("neg_inf", BooleanType),
      StructField("candidate_ids", ArrayType(LongType)),
      StructField("candidate_scores", ArrayType(DoubleType)),
      StructField("seen", ArrayType(LongType))))
    // RDD-backed: a literal LocalRelation would fold the projection away
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

    val single = FilterCandidates("candidate_ids", "seen").transform(df.drop("candidate_scores"))
    assertCodegen(single, "FilterCandidates")
    assertSame(single, hofFilter(df.drop("candidate_scores")), "FilterCandidates")
    val filtered = FilterCandidatesWithScores("candidate_ids", "candidate_scores", "seen")
      .transform(df)
    assertCodegen(filtered, "FilterCandidatesWithScores")
    assertSame(filtered, hofFilterWithScores(df), "FilterCandidatesWithScores")

    // sampling runs on the filtered (aligned) arrays, as in the flagship;
    // ANSI `/` fails on exp(T*s) == 0, so -Inf rows meet the chain at T = 0
    val sampled = filtered.cache()
    val finite = sampled.filter(!col("neg_inf"))
    for ((t, in) <- Seq(20.0 -> finite, 0.0 -> sampled); k <- Seq(1, 3, 10, 1000);
         seedCol <- Seq("seed_s", "requestId")) {
      val op = SoftmaxSampling("filtered_ids", "filtered_scores", temperature = t,
        topk = k, seed = 7L, seedCol = seedCol)
      val native = op.transform(in)
      if (k == 3) assertCodegen(native, "SoftmaxSampling")
      assertSame(native,
        hofSoftmax(in, "filtered_ids", "filtered_scores", t, k, 7L, seedCol),
        s"SoftmaxSampling(T=$t, topk=$k, seedCol=$seedCol)")
    }
    sampled.unpersist()

    // duplicated int ids with float scores, and decimal scores
    // (op_softmax_sampling's relevance)
    val typed = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 200).map { r =>
        val n = rnd.nextInt(12)
        val ids = Seq.fill(n)(Integer.valueOf(rnd.nextInt(6)))
        val fs = Seq.fill(n)(maybe(0.05)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat)))
        val ds = Seq.fill(n)(maybe(0.05)(
          new java.math.BigDecimal(rnd.nextInt(2000) - 1000).movePointLeft(3)))
        Row(r.toLong, ids, fs, ds, ids.take(rnd.nextInt(3)))
      }, 4),
      StructType(Seq(StructField("requestId", LongType),
        StructField("ids", ArrayType(IntegerType)),
        StructField("fscores", ArrayType(FloatType)),
        StructField("dscores", ArrayType(DecimalType(12, 4))),
        StructField("seen", ArrayType(IntegerType)))))
    val intIds = typed.select(col("requestId"), col("ids").as("candidate_ids"), col("seen"))
    assertSame(FilterCandidates("candidate_ids", "seen").transform(intIds), hofFilter(intIds),
      "FilterCandidates over int ids")
    for (sc <- Seq("fscores", "dscores"); k <- Seq(1, 4, 100)) {
      val in = typed.select("requestId", "ids", sc)
      assertSame(
        SoftmaxSampling("ids", sc, temperature = 20.0, topk = k).transform(in),
        hofSoftmax(in, "ids", sc, 20.0, k, 42L, "requestId"),
        s"SoftmaxSampling over int ids / $sc, topk=$k")
    }

    // scores shorter than ids: both raise element_at's ANSI error
    val short = Seq((1L, Seq(1L, 2L, 3L), Seq(0.5, 0.25))).toDF("requestId", "ids", "scores")
    Seq(SoftmaxSampling("ids", "scores").transform(short),
      hofSoftmax(short, "ids", "scores", 20.0, 10, 42L, "requestId")).foreach { out =>
      val e = intercept[Exception](out.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT")), e.toString)
    }
  }
}
