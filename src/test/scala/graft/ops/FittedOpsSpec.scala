package graft.ops

import graft.SparkSpec
import graft.core.Ensemble
import graft.tools.JobMeter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fit-once / serve-many contract ([[FittableOp]]): every bound twin
  * must produce BIT-IDENTICAL output to its unfitted op (same double
  * math, same join semantics, same tags), and a bound ensemble's
  * transform must schedule ZERO eager jobs — the serving pass is one
  * lazy plan (the reference's TransformWorkflow serves pre-fitted
  * workflows; fitting is offline). */
class FittedOpsSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: DataFrame = Seq(
    ("a", "x", 10L, Some(3L), 1.5),
    ("b", "x", 20L, None, 2.5),
    ("a", "y", 30L, Some(7L), 3.5),
    ("c", "y", 40L, Some(1L), 4.5),
    ("a", "x", 50L, None, 5.5),
    ("b", "z", 60L, Some(9L), 6.5)
  ).toDF("cat", "grp", "qty", "qty_n", "price")

  private def assertSameOutput(op: FittableOp, df: DataFrame,
      sortCols: Seq[String]): Unit = {
    val plain = op.transform(df).orderBy(sortCols.map(col): _*).collect()
    val bound = op.fit(df).transform(df).orderBy(sortCols.map(col): _*).collect()
    assert(plain.toSeq == bound.toSeq,
      s"${op.name}: bound output differs\nplain: ${plain.mkString("\n")}\n" +
        s"bound: ${bound.mkString("\n")}")
  }

  test("Categorify bound twin is bit-identical") {
    assertSameOutput(Categorify(Seq("cat", "grp")), fixture, Seq("qty"))
  }

  test("TargetEncoding bound twin is bit-identical (plain and LOO)") {
    assertSameOutput(TargetEncoding(Seq("cat"), "qty"), fixture, Seq("qty"))
    assertSameOutput(TargetEncoding(Seq("cat"), "qty", leaveOneOut = true),
      fixture, Seq("qty"))
  }

  test("TargetEncoding LOO bound twin handles null targets and unseen keys") {
    val withNullY = fixture.withColumn("qty",
      when(col("cat") === "c", lit(null)).otherwise(col("qty")))
    assertSameOutput(TargetEncoding(Seq("cat"), "qty", leaveOneOut = true),
      withNullY, Seq("price"))
    // serve rows whose key the fit never saw → prior, both paths
    val op = TargetEncoding(Seq("cat"), "qty")
    val bound = op.fit(fixture)
    val unseen = Seq(("zz", 1L), (null, 2L)).toDF("cat", "qty")
    val enc = bound.transform(unseen).orderBy("qty")
      .select("cat_te").as[Double].collect()
    val prior = 210.0 / 6
    val expectedUnseen = (0.0 + prior * 20.0) / (0.0 + 20.0)
    assert(enc(0) == expectedUnseen && enc(1) == prior)
  }

  test("JoinGroupby bound twin is bit-identical") {
    assertSameOutput(
      JoinGroupby("grp", Seq("qty", "price"),
        Seq("count", "sum", "mean", "min", "max")),
      fixture, Seq("qty"))
  }

  test("FillMissing bound twin is bit-identical") {
    assertSameOutput(
      FillMissing(constants = Map("cat" -> "missing"),
        medianCols = Seq("qty_n")),
      fixture.withColumn("cat",
        when(col("grp") === "z", lit(null)).otherwise(col("cat"))),
      Seq("qty"))
  }

  test("StandardScale bound twin is bit-identical (integral and double)") {
    assertSameOutput(StandardScale(Seq("qty", "price")), fixture, Seq("qty"))
  }

  test("fitEnsemble: bound chain matches the unfitted chain end-to-end") {
    val ens = Ensemble(Seq(
      Categorify(Seq("cat")),
      TargetEncoding(Seq("grp"), "qty"),
      HashBucket(Seq("grp"), 8),
      Bucketize(Map("price" -> Seq(2.0, 4.0))),
      FillMissing(medianCols = Seq("qty_n")),
      Clip(Map("qty" -> (Some(15.0), Some(55.0)))),
      LogTransform(Seq("qty")),
      StandardScale(Seq("qty"))), fixture.schema)
    val plain = ens.transform(fixture).orderBy("qty").collect()
    val fitted = FittedOps.fitEnsemble(ens, fixture)
    val bound = fitted.transform(fixture).orderBy("qty").collect()
    assert(plain.toSeq == bound.toSeq)
    // the bound chain revalidates schemas like any ensemble
    assert(fitted.outputSchema == ens.outputSchema)
  }

  test("fitEnsemble with artifactDir: dictionaries serve from parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fitted_spec_")
    try {
      val ens = Ensemble(Seq(
        Categorify(Seq("cat")),
        TargetEncoding(Seq("grp"), "qty"),
        StandardScale(Seq("qty"))), fixture.schema)
      val fitted = FittedOps.fitEnsemble(ens, fixture, Some(dir.toString))
      val plain = ens.transform(fixture).orderBy("qty").collect()
      val bound = fitted.transform(fixture).orderBy("qty").collect()
      assert(plain.toSeq == bound.toSeq)
      // the fitted dictionaries landed as parquet artifacts
      val written = java.nio.file.Files.walk(dir).iterator()
      var sawParquet = false
      while (written.hasNext) {
        if (written.next().toString.endsWith(".parquet")) sawParquet = true
      }
      assert(sawParquet, "expected parquet dictionary artifacts under the dir")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a FITTED ensemble round-trips through EnsemblePersistence") {
    // the reference's export workflow is fit offline → save → serve the
    // RELOAD (workflow.py:24-116): the fitted dictionaries/scalars must
    // survive the save, not just the unfitted recipe
    val ens = Ensemble(Seq(
      Categorify(Seq("cat")),
      TargetEncoding(Seq("grp"), "qty", leaveOneOut = true),
      JoinGroupby("grp", Seq("price"), Seq("count", "sum", "mean")),
      FillMissing(constants = Map("qty_n" -> 0L), medianCols = Seq.empty),
      StandardScale(Seq("qty", "price"))), fixture.schema)
    val fitted = FittedOps.fitEnsemble(ens, fixture)
    val dir = java.nio.file.Files.createTempDirectory("graft_fitted_rt_")
    try {
      graft.core.EnsemblePersistence.save(fitted, dir.toString, spark)
      val loaded = graft.core.EnsemblePersistence.load(dir.toString, spark)
      val a = fitted.transform(fixture).orderBy("qty").collect()
      val b = loaded.transform(fixture).orderBy("qty").collect()
      assert(a.toSeq == b.toSeq, "reloaded fitted ensemble output differs")
      // and the reload serves UNSEEN rows with the SAVED statistics —
      // the fit is state, not a recipe re-run on the serving frame
      val unseen = Seq(("zz", "x", 999L, Some(1L), 9.9))
        .toDF("cat", "grp", "qty", "qty_n", "price")
      val au = fitted.transform(unseen).collect()
      val bu = loaded.transform(unseen).collect()
      assert(au.toSeq == bu.toSeq)
      // unseen category → -1 (Categorify) proves the dict came from disk
      assert(bu.head.getAs[Int]("cat_idx") == -1)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("bound serving schedules zero eager jobs") {
    val ens = Ensemble(Seq(
      Categorify(Seq("cat")),
      TargetEncoding(Seq("grp"), "qty", leaveOneOut = true),
      JoinGroupby("grp", Seq("price"), Seq("count", "mean")),
      FillMissing(medianCols = Seq("qty_n")),
      StandardScale(Seq("qty"))), fixture.schema)
    val fitted = FittedOps.fitEnsemble(ens, fixture)
    // building the serving plan must not run anything: the fit is done
    val (plan, c) = JobMeter.inGroup(spark.sparkContext)(fitted.transform(fixture))
    assert(c.jobs == 0, s"bound transform scheduled ${c.jobs} eager jobs; expected 0")
    // and the plan still evaluates
    assert(plan.count() == 6)
  }
}
