package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-curve rehearsal data generator (`runMain graft.tools.ScaleGen
  * <sf> <outDir>`): synthesizes the driver's ten tables at an arbitrary
  * scale factor so the bench can be run at sf0.3 / sf1.0 and the
  * per-family scaling exponents recorded in SCALE.md.
  *
  * SHAPE-faithful, not byte-faithful: the driver's generator is not in
  * this container, so this one reproduces the sf0.1 data's measured
  * schemas, row-count anchors, key ranges, value distributions and
  * cross-table cardinalities (lineitem rows are independent
  * (orderkey, linenumber in 1..7) draws; documents share one 31-word
  * vocabulary across langs with ~0.4% exact duplicates; embeddings are
  * L2-normalized 64-d gaussians whose count follows the observed
  * sublinear 500→2000 per-decade curve; events are ~66 per user over a
  * 30-day window with exponential values). Scaling timings, not
  * correctness, are the point — the DuckDB oracle never runs against
  * these dirs. Fully deterministic: every random column derives from
  * xxhash64(id, tag), so reruns are identical.
  */
object ScaleGen {
  // uniform [0,1) from a hashed id — deterministic, partition-agnostic
  private def u(id: org.apache.spark.sql.Column, tag: Int) =
    (pmod(xxhash64(id, lit(tag), lit(42)), lit(1L << 40)).cast("double")
      / lit((1L << 40).toDouble))

  def main(args: Array[String]): Unit = {
    val Array(sfStr, outDir) = args
    val sf = sfStr.toDouble
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.Bench.session(cpus)
    import spark.implicits._

    def n(anchorAtSf01: Long): Long =
      math.max(1L, math.round(anchorAtSf01 * sf / 0.1))
    def save(df: DataFrame, table: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[scalegen] $table done")
    }
    def ids(rows: Long) = spark.range(0, rows, 1,
      math.max(cpus.toInt, (rows / 500000L).toInt + 1))

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save(regions.zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("r_regionkey", "r_name")
      .select(col("r_regionkey").cast("int"), col("r_name")), "region")
    save(spark.range(0, 25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    val nCust = n(15000)
    save(ids(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(xxhash64(col("id"), lit(1)), lit(25)).cast("int").as("c_nationkey"),
      round(u(col("id"), 2) * 9999.99 - 999.99, 2).as("c_acctbal"),
      element_at(typedLit(Seq("AUTOMOBILE", "HOUSEHOLD", "BUILDING",
        "FURNITURE", "MACHINERY")),
        pmod(xxhash64(col("id"), lit(3)), lit(5)).cast("int") + 1)
        .as("c_mktsegment")), "customer")

    save(ids(n(1000)).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pmod(xxhash64(col("id"), lit(4)), lit(25)).cast("int").as("s_nationkey"),
      round(u(col("id"), 5) * 9999.99 - 999.99, 2).as("s_acctbal")), "supplier")

    val adjs = Seq("large", "hot", "blue", "old", "red", "small", "new", "dim")
    val nouns = Seq("ring", "bolt", "plate", "gear", "pipe", "cog", "rod", "cap")
    val nPart = n(20000)
    save(ids(nPart).select(col("id").as("p_partkey"),
      concat(
        element_at(typedLit(adjs), pmod(xxhash64(col("id"), lit(6)), lit(8)).cast("int") + 1),
        lit(" "),
        element_at(typedLit(nouns), pmod(xxhash64(col("id"), lit(7)), lit(8)).cast("int") + 1))
        .as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(col("id"), lit(8)), lit(25)) + 1)).as("p_brand"),
      element_at(typedLit(Seq("LARGE", "ECONOMY", "SMALL", "STANDARD",
        "MEDIUM", "PROMO")),
        pmod(xxhash64(col("id"), lit(9)), lit(6)).cast("int") + 1).as("p_type"),
      (pmod(xxhash64(col("id"), lit(10)), lit(50)) + 1).cast("int").as("p_size"),
      round(u(col("id"), 11) * 2000.0 + 900.0, 2).as("p_retailprice")), "part")

    // orders: keys 0..n-1, dates uniform over [1995-01-01, 2001-08-01]
    val nOrd = n(150000)
    val dateSpanDays = 2404 // days between the observed min/max
    save(ids(nOrd).select(col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(12)), lit(nCust)).as("o_custkey"),
      element_at(typedLit(Seq("O", "F", "P")),
        pmod(xxhash64(col("id"), lit(13)), lit(3)).cast("int") + 1).as("o_orderstatus"),
      round(u(col("id"), 14) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) +
        pmod(xxhash64(col("id"), lit(15)), lit(dateSpanDays)) * 86400L)
        .as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")),
        pmod(xxhash64(col("id"), lit(16)), lit(5)).cast("int") + 1)
        .as("o_orderpriority")), "orders")

    // lineitem: independent (orderkey, linenumber) draws — the observed
    // shape (max lines/order ~17, linenumber 1..7, ~2% orderkeys unhit)
    save(ids(n(600000)).select(
      pmod(xxhash64(col("id"), lit(17)), lit(nOrd)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(18)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit(19)), lit(n(1000))).as("l_suppkey"),
      (pmod(xxhash64(col("id"), lit(20)), lit(7)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(21)), lit(50)) + 1).cast("double").as("l_quantity"),
      round(u(col("id"), 22) * 104100.0 + 900.0, 2).as("l_extendedprice"),
      round(u(col("id"), 23) * 0.1, 2).as("l_discount"),
      round(u(col("id"), 24) * 0.08, 2).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")),
        pmod(xxhash64(col("id"), lit(25)), lit(3)).cast("int") + 1).as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")),
        pmod(xxhash64(col("id"), lit(26)), lit(2)).cast("int") + 1).as("l_linestatus"),
      timestamp_seconds(lit(789004800L) +
        pmod(xxhash64(col("id"), lit(27)), lit(dateSpanDays + 95)) * 86400L)
        .as("l_shipdate")), "lineitem")

    // events: ~66 per user over 30 days, exponential(50) values
    val nUsers = math.max(1L, n(1500))
    save(ids(n(100000)).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("id"), lit(28)), lit(30L * 86400L * 1000000L)))
        .as("ts"),
      pmod(xxhash64(col("id"), lit(29)), lit(nUsers)).as("user_id"),
      element_at(typedLit(Seq("purchase", "signup", "click", "error", "view")),
        pmod(xxhash64(col("id"), lit(30)), lit(5)).cast("int") + 1)
        .as("event_type"),
      round(-log(lit(1.0) - u(col("id"), 31)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "),
        pmod(xxhash64(col("id"), lit(32)), lit(100)), lit("}")).as("props")),
      "events")

    // documents: 31-word shared vocabulary, 8-95 words per doc, ~0.4%
    // exact duplicates (text seeded off a neighbor id), lang 41/15x4,
    // source uniform over 20
    val vocab = Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
      "group", "agg", "filter", "query", "big", "key", "window", "row",
      "table", "stream", "merge", "data", "vector", "join", "shuffle",
      "index", "cache")
    val nDocs = n(5000)
    val seedId = when(pmod(col("id"), lit(250)) === 249, col("id") - 1)
      .otherwise(col("id"))
    val nWords = (pmod(xxhash64(seedId, lit(33)), lit(88)) + 8).cast("int")
    val text = array_join(transform(sequence(lit(1), nWords),
      i => element_at(typedLit(vocab),
        pmod(xxhash64(seedId * 1000 + i.cast("long"), lit(34)),
          lit(vocab.size)).cast("int") + 1)), " ")
    save(ids(nDocs).select(col("id").as("doc_id"),
      text.as("text"),
      element_at(typedLit(Seq("en", "en", "en", "de", "zh", "es", "fr")),
        pmod(xxhash64(col("id"), lit(35)), lit(7)).cast("int") + 1).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"),
      length(text).as("n_chars")), "documents")

    // embeddings: sublinear count curve (500@sf0.01 → 2000@sf0.1),
    // L2-normalized 64-d gaussians, labels 0..9
    val nVecs = math.max(10L,
      math.round(2000.0 * math.pow(10.0 * sf, 0.60206)))
    val gauss = transform(sequence(lit(1), lit(64)), i => {
      // Box-Muller over two hashed uniforms
      val u1 = (pmod(xxhash64(col("id") * 64 + i.cast("long"), lit(36)),
        lit((1L << 40) - 1)).cast("double") + 1.0) / lit((1L << 40).toDouble)
      val u2 = pmod(xxhash64(col("id") * 64 + i.cast("long"), lit(37)),
        lit(1L << 40)).cast("double") / lit((1L << 40).toDouble)
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    })
    val norm = sqrt(aggregate(col("g"), lit(0.0), (acc, x) => acc + x * x))
    save(ids(nVecs).withColumn("g", gauss)
      .select(col("id").as("vec_id"),
        transform(col("g"), x => (x / norm).cast("float")).as("embedding"),
        pmod(xxhash64(col("id"), lit(38)), lit(10)).cast("int").as("label")),
      "embeddings")

    spark.stop()
  }
}
