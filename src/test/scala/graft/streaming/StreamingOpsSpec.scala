package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp
import graft.SparkSpec
import StreamingOps.{Event, SessionAgg}

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(3600_000L * 24 + min * 60_000L)

  test("windowedEventCounts aggregates a memory stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val agg = StreamingOps.windowedEventCounts(
      src.toDF(), windowLen = "10 minutes", slide = "10 minutes", watermark = "20 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("win_counts").start()
    src.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 11, "click", 2.5),
      Event(3, ts(12), 10, "view", 1.0))
    q.processAllAvailable()
    // advance the watermark in later micro-batches so early windows close
    src.addData(Event(4, ts(60), 12, "click", 0.5))
    q.processAllAvailable()
    src.addData(Event(5, ts(120), 12, "click", 0.5))
    q.processAllAvailable(); q.stop()
    val out = spark.table("win_counts")
      .select($"event_type", $"n_events", $"value_cents").as[(String, Long, Long)]
      .collect().toSet
    assert(out.contains(("click", 2L, 350L)), s"got $out")
    assert(out.contains(("view", 1L, 100L)))
  }

  test("a foreachBatch body runs with AQE on: its grouped aggregate plans adaptively") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    @volatile var seen: Option[(String, String)] = None
    val q = src.toDF().toDF("id", "s").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val agg = batch.groupBy("s").count()
        agg.write.format("noop").mode("overwrite").save()
        seen = Some((batch.sparkSession.conf.get("spark.sql.adaptive.enabled"),
          agg.queryExecution.executedPlan.getClass.getSimpleName))
    }.start()
    try {
      src.addData((1L, "a"), (2L, "b"), (3L, "a"))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen == Some(("true", "AdaptiveSparkPlanExec")), s"seen in the batch body: $seen")
  }

  test("scoreStream serves a per-row ensemble over a request stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.core.Ensemble
    import graft.ops._
    // stateless serving slice of the flagship graph: feature lookup →
    // seen-filter with aligned scores → seeded softmax — all per-row ops,
    // so the streaming plan needs no stateful aggregation
    val seen = Seq((10L, Seq(2L)), (11L, Seq.empty[Long])).toDF("user_id", "seen_ids")
    val src = MemoryStream[(Long, Seq[Long], Seq[Double])]
    val requests = src.toDF().toDF("user_id", "candidate_ids", "candidate_scores")
    val ens = Ensemble(Seq(
      QueryFeatureStore(seen, "user_id", Seq("seen_ids"), includeId = true),
      FilterCandidatesWithScores("candidate_ids", "candidate_scores", "seen_ids"),
      SoftmaxSampling("filtered_ids", "filtered_scores", topk = 2, seedCol = "user_id")
    ), requests.schema)
    val q = StreamingOps.scoreStream(requests)(ens.transform)
      .writeStream.outputMode("append").format("memory")
      .queryName("served").start()
    src.addData((10L, Seq(1L, 2L, 3L), Seq(0.5, 0.9, 0.1)),
      (11L, Seq(4L, 5L), Seq(0.2, 0.8)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("served")
      .select($"user_id", $"ordered_ids").as[(Long, Seq[Long])]
      .collect().toMap
    assert(out(10L).toSet == Set(1L, 3L), "seen item 2 must be filtered")
    assert(out(11L).toSet == Set(4L, 5L))
  }

  test("scoreStream serves a portable (xgboost.json) forest over a request stream") {
    implicit val sqlCtx = spark.sqlContext
    // stateless plan-side CASE trees: the portable model scores micro-batches
    // with zero state — the serving path for externally-trained forests
    val src = MemoryStream[(Long, Double, Double, Double)]
    val requests = src.toDF()
      .toDF("req_id", "l_quantity", "l_discount", "l_extendedprice")
    val op = graft.ops.XgbForest.fromJson(
      graft.queries.MlQueries.portableModelJson,
      graft.queries.MlQueries.portableFeatures,
      outputMargin = true, outputCol = "margin")
    val q = StreamingOps.scoreStream(requests)(op.transform)
      .writeStream.outputMode("append").format("memory")
      .queryName("forest_served").start()
    src.addData((1L, 20.0, 0.04, 20000.0), (2L, 30.0, 0.02, 40000.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("forest_served").select($"req_id", $"margin")
      .as[(Long, Double)].collect().toMap
    // same hand-walked margins as XgbScorerSpec's batch test
    assert(out(1L) == 0.125 + 0.0625 + 0.375)
    assert(out(2L) == -0.125 + 0.5 + 0.375)
  }

  test("scoreStream serves a portable MLP head over a request stream") {
    implicit val sqlCtx = spark.sqlContext
    // expression-only forward pass: zero state, exactly the batch logits
    val src = MemoryStream[(Long, Seq[Double])]
    val requests = src.toDF().toDF("req_id", "embedding")
    val op = graft.ops.MlpScorer(Seq(
      graft.ops.MlpLayer(Seq(Seq(0.5, -0.25), Seq(1.0, 0.5)),
        Seq(0.125, -2.0), "relu"),
      graft.ops.MlpLayer(Seq(Seq(2.0, 4.0)), Seq(0.0625), "linear")),
      "embedding")
    val q = StreamingOps.scoreStream(requests)(op.transform)
      .writeStream.outputMode("append").format("memory")
      .queryName("mlp_served").start()
    src.addData((1L, Seq(1.0, 2.0)), (2L, Seq(-4.0, 0.0)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("mlp_served").select($"req_id", $"output__0")
      .as[(Long, Double)].collect().toMap
    // same hand-walked logits as MlpScorerSpec's batch test
    assert(out(1L) == 0.3125 && out(2L) == 0.0625, s"got $out")
  }

  test("dedupStream emits only the first document per content hash") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp, String)]
    val deduped = StreamingOps.dedupStream(
      src.toDF().toDF("doc_id", "ts", "text"), watermark = "30 minutes")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    src.addData((1L, ts(0), "alpha"), (2L, ts(1), "beta"), (3L, ts(2), "alpha"))
    q.processAllAvailable()
    // later micro-batch: one more dup within the watermark + one new doc
    src.addData((4L, ts(5), "beta"), (5L, ts(6), "gamma"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_stream").select($"doc_id", $"text")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "alpha"), (2L, "beta"), (5L, "gamma")),
      s"dups 3 and 4 must be dropped, got $out")
  }

  test("incrementalDedupStream matches the batch op's keeper set") {
    implicit val sqlCtx = spark.sqlContext
    val index = Seq("known alpha content").toDF("text")
      .select(md5(graft.functions.TextFunctions.normalize($"text")).as("content_hash"))
    val rows = Seq(
      (1L, ts(0), "known alpha content"),   // in index → dropped
      (2L, ts(1), "fresh beta"),            // keeper
      (3L, ts(2), "fresh beta"),            // in-stream dup → dropped
      (4L, ts(3), "KNOWN  alpha content"),  // norm-dup of index → dropped
      (5L, ts(4), null.asInstanceOf[String]), // null text → passes
      (6L, ts(5), null.asInstanceOf[String]), // null text → passes too
      (7L, ts(6), "fresh gamma"))           // keeper
    val src = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.incrementalDedupStream(
      src.toDF().toDF("doc_id", "ts", "text"), index, watermark = "30 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("incr_dedup_stream").start()
    src.addData(rows.take(4): _*); q.processAllAvailable()
    src.addData(rows.drop(4): _*); q.processAllAvailable(); q.stop()
    val got = spark.table("incr_dedup_stream").select($"doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 5L, 6L, 7L), s"got $got")
    // batch-equivalence: the emitted set IS the batch op's keeper set
    val batch = rows.toDF("doc_id", "ts", "text")
    val keepers = graft.ops.IncrementalDedup(index).transform(batch)
      .filter($"dup_kind".isNull).select($"doc_id").as[Long].collect().toSet
    assert(got == keepers, "stream must equal batch keepers on the same data")
  }

  test("purgeStream matches the batch Purge keeper set with zero state") {
    implicit val sqlCtx = spark.sqlContext
    val tomb = Seq(2L, 4L, 99L).toDF("doc_id")
    val rows = Seq(
      (1L, ts(0), "keep one"), (2L, ts(1), "take down"),
      (3L, ts(2), "keep two"), (4L, ts(3), "take down too"))
    val src = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.purgeStream(
      src.toDF().toDF("doc_id", "ts", "text"), tomb)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("purge_stream").start()
    src.addData(rows.take(2): _*); q.processAllAvailable()
    src.addData(rows.drop(2): _*); q.processAllAvailable(); q.stop()
    val got = spark.table("purge_stream").select($"doc_id").as[Long].collect().toSet
    val batch = graft.ops.Purge(tomb)
      .transform(rows.toDF("doc_id", "ts", "text"))
      .select($"doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L) && got == batch,
      s"stream must equal batch Purge keepers: $got vs $batch")
  }

  test("decontaminateStream alerts once per contaminated document") {
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq((100L, "a quick brown fox jumps around")).toDF("doc_id", "text")
    val src = MemoryStream[(Long, Timestamp, String)]
    val alerts = StreamingOps.decontaminateStream(
      src.toDF().toDF("doc_id", "ts", "text"), eval, n = 4, watermark = "30 minutes")
    val q = alerts.writeStream.outputMode("append").format("memory")
      .queryName("contam_alerts").start()
    src.addData(
      (1L, ts(0), "the quick brown fox jumps over the lazy dog"), // 1 matching gram
      (2L, ts(1), "completely different content here entirely"),
      // 2 matching grams THROUGH case/space normalization — but one alert
      (3L, ts(2), "A  QUICK brown Fox jumps onward"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("contam_alerts").select($"doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L),
      s"one alert per contaminated doc, none for clean docs: $out")
  }

  test("lmScoreStream scores arriving docs identically to the batch op") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((10L, "a b a b"), (11L, "a b c")).toDF("doc_id", "text")
    val rows = Seq(
      (1L, ts(0), "a b a b"),  // familiar grams
      (2L, ts(1), "a b z"),    // one known, one unseen gram
      (3L, ts(2), "x"))        // shorter than n: zero grams, zero score
    val src = MemoryStream[(Long, Timestamp, String)]
    val scored = StreamingOps.lmScoreStream(
      src.toDF().toDF("doc_id", "ts", "text"), ref, watermark = "10 minutes")
    val q = scored.writeStream.outputMode("append").format("memory")
      .queryName("lm_stream").start()
    src.addData(rows: _*); q.processAllAvailable()
    // advance the watermark past the scored docs so the agg emits
    src.addData((99L, ts(120), "flush")); q.processAllAvailable(); q.stop()
    val got = spark.table("lm_stream")
      .select($"doc_id", $"n_grams", $"oov_grams", $"sum_freq", $"mean_freq_micro")
      .as[(Long, Int, Long, Long, Long)].collect()
      .map { case (k, v2, v3, v4, v5) => k -> ((v2, v3, v4, v5)) }.toMap
    val batch = graft.ops.NgramLmScore(ref, n = 2)
      .transform(rows.toDF("doc_id", "ts", "text"))
      .select($"doc_id", $"n_grams", $"oov_grams", $"sum_freq", $"mean_freq_micro")
      .as[(Long, Int, Long, Long, Long)].collect()
      .map { case (k, v2, v3, v4, v5) => k -> ((v2, v3, v4, v5)) }.toMap
    assert(got == batch, s"stream must equal batch scores: $got vs $batch")
  }

  test("driftStream per-window drift equals the batch DriftReport formula") {
    implicit val sqlCtx = spark.sqlContext
    val splits = Seq(0.0, 5.0, 10.0)
    val baseline = (1 to 100).map(i => (i % 20).toDouble).toDF("value")
    val counts = graft.ops.DriftReport.fitCounts(baseline, "value", splits)
    def h(hh: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $hh%02d:$m%02d:00")
    // window 1 mirrors the baseline distribution; window 2 is all-high
    val w1 = (1 to 100).map(i => (h(1, i % 50), (i % 20).toDouble))
    val w2 = (1 to 100).map(i => (h(2, i % 50), 15.0))
    val src = MemoryStream[(Timestamp, Double)]
    val q = StreamingOps.driftStream(
        src.toDF().toDF("ts", "value"), "value", splits, counts,
        windowLen = "1 hour", watermark = "0 seconds", thresholdBp = 1000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("drift_stream").start()
    src.addData(w1 ++ w2: _*); q.processAllAvailable()
    src.addData((h(9, 0), 1.0)); q.processAllAvailable() // close both windows
    q.stop()
    val got = spark.table("drift_stream")
      .filter($"w_start" < "2024-01-01 03:00:00")
      .select($"w_start".cast("string"), $"l1_bp", $"drifted")
      .as[(String, Long, Boolean)].collect()
      .map { case (k, v, d) => k -> ((v, d)) }.toMap
    // the batch op on each window slice must agree exactly
    def batchL1(rows: Seq[(Timestamp, Double)]): (Long, Boolean) = {
      val r = graft.ops.DriftReport(baseline, Map("value" -> splits), 1000L)
        .transform(rows.toDF("ts", "value")).head()
      (r.getAs[Long]("l1_bp"), r.getAs[Boolean]("drifted"))
    }
    assert(got("2024-01-01 01:00:00") == batchL1(w1))
    assert(got("2024-01-01 02:00:00") == batchL1(w2))
    assert(!got("2024-01-01 01:00:00")._2 && got("2024-01-01 02:00:00")._2,
      "the mirrored window must not drift; the skewed one must")
  }

  test("resampleStream ticks equal the batch LOCF grid on the shared day range") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.LocfEvent
    def dts(day: Int, h: Int) =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val rows = Seq(
      LocfEvent(1L, dts(1, 1), 100L, 10.0),
      LocfEvent(1L, dts(1, 2), 101L, 20.0),  // same day: later event wins
      LocfEvent(1L, dts(3, 0), 102L, 5.0),
      LocfEvent(2L, dts(2, 0), 200L, 7.5))
    def runStream(batches: Seq[Seq[LocfEvent]]): Map[(Long, String), (Long, Int)] = {
      val src = MemoryStream[LocfEvent]
      val name = s"locf_stream_${batches.size}"
      // 10-day watermark: wide enough that no replay ordering below makes
      // an event late (replay determinism is only promised INSIDE the
      // watermark — beyond it the drop is the documented contract)
      val q = StreamingOps.resampleStream(src.toDS(), watermark = "10 days")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      // two flush events: the first advances the watermark (Jan 25 − 10 d
      // = Jan 15, closing every day through Jan 14), the second triggers
      // the batch where the event-time timeouts actually fire
      src.addData(LocfEvent(99L, dts(25, 0), 999L, 1.0)); q.processAllAvailable()
      src.addData(LocfEvent(99L, dts(26, 0), 998L, 1.0)); q.processAllAvailable()
      q.stop()
      spark.table(name)
        .filter($"user_id" < 99 && $"day" <= "2024-01-03")
        .select($"user_id", $"day".cast("string"), $"value_cents", $"is_observed")
        .as[(Long, String, Long, Int)].collect()
        .map { case (u, d, v, o) => (u, d) -> ((v, o)) }.toMap
    }
    val batch = graft.ops.ResampleLocf()
      .transform(rows.map(e => (e.user_id, e.ts, e.event_id, e.value))
        .toDF("user_id", "ts", "event_id", "value"))
      .select($"user_id", $"day".cast("string"), $"value_cents", $"is_observed")
      .as[(Long, String, Long, Int)].collect()
      .map { case (u, d, v, o) => (u, d) -> ((v, o)) }.toMap
    val oneShot = runStream(Seq(rows))
    assert(oneShot == batch,
      s"stream ticks must equal the batch grid: $oneShot vs $batch")
    // replay determinism: different micro-batch boundaries, same ticks
    val split = runStream(Seq(Seq(rows(2)), Seq(rows(0), rows(3)), Seq(rows(1))))
    assert(split == batch,
      s"ticks must be batch-boundary-independent: $split vs $batch")
  }

  test("resampleStream retires state after maxFillDays of silence") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.LocfEvent
    def dts(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    val src = MemoryStream[LocfEvent]
    val q = StreamingOps.resampleStream(src.toDS(),
        watermark = "0 seconds", maxFillDays = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("locf_retire").start()
    src.addData(LocfEvent(1L, dts(1), 1L, 4.0)); q.processAllAvailable()
    // watermark far past the horizon; extra batches give retired state
    // every chance to (wrongly) keep ticking
    src.addData(LocfEvent(9L, dts(20), 9L, 1.0)); q.processAllAvailable()
    src.addData(LocfEvent(9L, dts(21), 10L, 1.0)); q.processAllAvailable()
    src.addData(LocfEvent(9L, dts(22), 11L, 1.0)); q.processAllAvailable()
    q.stop()
    val days = spark.table("locf_retire").filter($"user_id" === 1L)
      .select($"day".cast("string")).as[String].collect().toSet
    assert(days == Set("2024-01-01", "2024-01-02", "2024-01-03"),
      s"fill stops maxFillDays past the last observation: $days")
  }

  test("resampleStream resurrection after the fill horizon is " +
      "batch-boundary-independent (fresh regime, no gap backfill)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.LocfEvent
    def dts(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    val ev1 = LocfEvent(1L, dts(1), 1L, 4.0)
    val ev10 = LocfEvent(1L, dts(10), 2L, 8.0) // reappears past maxFillDays
    def run(name: String, batches: Seq[Seq[LocfEvent]]): Set[(String, Long, Int)] = {
      val src = MemoryStream[LocfEvent]
      val q = StreamingOps.resampleStream(src.toDS(),
          watermark = "0 seconds", maxFillDays = 2)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      src.addData(LocfEvent(9L, dts(25), 97L, 1.0)); q.processAllAvailable()
      src.addData(LocfEvent(9L, dts(26), 98L, 1.0)); q.processAllAvailable()
      q.stop()
      spark.table(name).filter($"user_id" === 1L)
        .select($"day".cast("string"), $"value_cents", $"is_observed")
        .as[(String, Long, Int)].collect().toSet
    }
    // live-state path: the reappearance folds while state is alive
    val alive = run("locf_res_alive", Seq(Seq(ev1, ev10)))
    // removed-state path: other-key traffic advances the watermark past
    // the retirement horizon FIRST (timeout fires, state removed), the
    // reappearance then re-creates state from scratch
    val removed = run("locf_res_removed", Seq(Seq(ev1),
      Seq(LocfEvent(8L, dts(8), 90L, 1.0)),
      Seq(LocfEvent(8L, dts(9), 91L, 1.0)), Seq(ev10)))
    val want = Set(
      ("2024-01-01", 400L, 1), ("2024-01-02", 400L, 0), ("2024-01-03", 400L, 0),
      ("2024-01-10", 800L, 1), ("2024-01-11", 800L, 0), ("2024-01-12", 800L, 0))
    assert(alive == want, s"live-state path must start fresh at the gap: $alive")
    assert(removed == want, s"removed-state path: $removed")
  }

  test("qualityFilterStream verdicts equal the batch classifier (stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val op = graft.ops.TextQualityClassifier(
      (1 to 8).map(i => if (i % 2 == 0) 1.0 else -1.0), 0.125, numBuckets = 8)
    val rows = Seq((1L, "good clean text"), (2L, "junk"), (3L, ""),
      (4L, "mixed bag of words"))
    val src = MemoryStream[(Long, String)]
    val q = StreamingOps.qualityFilterStream(
        src.toDF().toDF("doc_id", "text"), op)
      .writeStream.outputMode("append").format("memory")
      .queryName("qc_stream").start()
    src.addData(rows: _*); q.processAllAvailable(); q.stop()
    val got = spark.table("qc_stream")
      .select($"doc_id", $"margin", $"keep_quality")
      .as[(Long, Double, Boolean)].collect().toSet
    val batch = op.transform(rows.toDF("doc_id", "text"))
      .select($"doc_id", $"margin", $"keep_quality")
      .as[(Long, Double, Boolean)].collect().toSet
    assert(got == batch, s"stream must equal batch verdicts: $got vs $batch")
  }

  test("attributeStream joins purchases to their in-window clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    def frame(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("event_id", "ts", "user_id")
    val joined = StreamingOps.attributeStream(
      frame(clicks), frame(purchases), windowSec = 300, watermark = "10 minutes")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("attributed").start()
    // user 10: click at t0, purchases at +2 min (in window) and +9 min (out);
    // user 11: purchase with no prior click
    clicks.addData((100L, ts(0), 10L))
    purchases.addData((200L, ts(2), 10L), (201L, ts(9), 10L), (202L, ts(3), 11L))
    q.processAllAvailable(); q.stop()
    val out = spark.table("attributed").select($"event_id", $"click_id")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((200L, 100L)),
      s"only the +2min purchase of user 10 attributes, got $out")
  }

  test("sessionize closes sessions on gap and aggregates per user") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    // NoTimeout in the test: a processing-time timeout keeps the no-data
    // batch loop spinning, which processAllAvailable never drains
    val sessions = StreamingOps.sessionize(src.toDS(), gapMs = 10 * 60_000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sessions").start()
    // user 10: two events 5 min apart (one session), then 30 min gap → new session
    src.addData(
      Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(5), 10, "view", 2.0),
      Event(3, ts(35), 10, "click", 4.0))
    q.processAllAvailable()
    val closed = spark.table("sessions").as[SessionAgg].collect()
    assert(closed.length == 1, s"first session closed by the 30-min gap: ${closed.toSeq}")
    assert(closed.head.n_events == 2 && closed.head.total_value == 3.0)
    q.stop()
  }

  test("sessionizeByEventTime closes sessions on the watermark clock and replays deterministically") {
    implicit val sqlCtx = spark.sqlContext
    // user 10: t0,t5 (session A), t35 (session B); user 11: t2 (session C)
    val evs = Seq(
      Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(5), 10, "view", 2.0),
      Event(3, ts(35), 10, "click", 4.0),
      Event(4, ts(2), 11, "view", 7.0))
    val sentinel = Event(99, ts(300), 99, "click", 0.0) // advances the watermark
    def run(name: String, batches: Seq[Seq[Event]]): Set[(Long, Long, Long, Int, Double)] = {
      val src = MemoryStream[Event]
      val q = StreamingOps.sessionizeByEventTime(src.toDS(),
        gapMs = 10 * 60_000L, watermark = "5 minutes")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      src.addData(sentinel); q.processAllAvailable()
      // one extra empty-ish trigger so timeouts scheduled against the
      // sentinel-advanced watermark actually fire
      src.addData(Event(100, ts(301), 99, "click", 0.0)); q.processAllAvailable()
      q.stop()
      spark.table(name).as[SessionAgg].collect()
        .filter(_.user_id != 99) // the sentinel user's own session is noise
        .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime,
          s.n_events, s.total_value)).toSet
    }
    val oneBatch = run("sess_et_a", Seq(evs))
    assert(oneBatch == Set(
      (10L, ts(0).getTime, ts(5).getTime, 2, 3.0),
      (10L, ts(35).getTime, ts(35).getTime, 1, 4.0),
      (11L, ts(2).getTime, ts(2).getTime, 1, 7.0)), s"got $oneBatch")
    // replay with completely different micro-batch boundaries — the
    // event-time clock must reproduce the identical session set
    val replayed = run("sess_et_b",
      Seq(Seq(evs(3), evs(0)), Seq(evs(1)), Seq(evs(2))))
    assert(replayed == oneBatch, s"replay drift: $replayed vs $oneBatch")
  }

  test("sessionizeByEventTime widens the session for in-watermark late events") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = StreamingOps.sessionizeByEventTime(src.toDS(),
      gapMs = 10 * 60_000L, watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_late").start()
    src.addData(Event(1, ts(5), 10, "a", 1.0)); q.processAllAvailable()
    // late but strictly inside the watermark (wm = t5 − 5min = t0 < t2):
    // must EXTEND the session backwards, never regress last (a bug here
    // emits session_end < session_start)
    src.addData(Event(2, ts(2), 10, "b", 2.0)); q.processAllAvailable()
    src.addData(Event(98, ts(300), 99, "x", 0.0)); q.processAllAvailable()
    src.addData(Event(99, ts(301), 99, "x", 0.0)); q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_late").as[SessionAgg].collect()
      .filter(_.user_id == 10L)
    assert(out.length == 1, out.toSeq.toString)
    assert(out.head.session_start.getTime == ts(2).getTime &&
      out.head.session_end.getTime == ts(5).getTime &&
      out.head.n_events == 2 && out.head.total_value == 3.0,
      out.head.toString)
  }

  test("sessionizeByEventTime: a late event more than a gap BEFORE the open session is its own session") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    // gap (2 min) < allowed lateness (10 min): the config where
    // single-interval state used to merge an in-watermark late event
    // into a session it is more than a gap away from
    val q = StreamingOps.sessionizeByEventTime(src.toDS(),
      gapMs = 2 * 60_000L, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_late_split").start()
    src.addData(Event(1, ts(720), 10, "a", 1.0),
      Event(2, ts(721), 10, "b", 1.0)) // session [12:00, 12:01]
    q.processAllAvailable()
    // 5 minutes BEFORE the open session's start, inside the watermark
    // (wm = 12:01 - 10 min = 11:51 <= 11:55): replay yields TWO sessions
    src.addData(Event(3, ts(715), 10, "c", 5.0))
    q.processAllAvailable()
    // push the watermark far past everything so both sessions close
    src.addData(Event(99, ts(5000), 99, "x", 0.0))
    q.processAllAvailable()
    src.addData(Event(100, ts(5001), 99, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_late_split").as[SessionAgg].collect()
      .filter(_.user_id == 10L).sortBy(_.session_start.getTime)
    assert(out.length == 2, s"two sessions expected: ${out.toSeq}")
    assert(out(0).session_start.getTime == ts(715).getTime &&
      out(0).session_end.getTime == ts(715).getTime && out(0).n_events == 1)
    assert(out(1).session_start.getTime == ts(720).getTime &&
      out(1).session_end.getTime == ts(721).getTime && out(1).n_events == 2)
    // and a bridging arrival fuses the two intervals it lands between
    val src2 = MemoryStream[Event]
    val q2 = StreamingOps.sessionizeByEventTime(src2.toDS(),
      gapMs = 2 * 60_000L, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_bridge").start()
    src2.addData(Event(1, ts(720), 10, "a", 1.0)); q2.processAllAvailable()
    src2.addData(Event(2, ts(716), 10, "b", 1.0)); q2.processAllAvailable()
    src2.addData(Event(3, ts(718), 10, "c", 1.0)) // within a gap of BOTH
    q2.processAllAvailable()
    src2.addData(Event(99, ts(5000), 99, "x", 0.0)); q2.processAllAvailable()
    src2.addData(Event(100, ts(5001), 99, "x", 0.0)); q2.processAllAvailable()
    q2.stop()
    val fused = spark.table("sess_bridge").as[SessionAgg].collect()
      .filter(_.user_id == 10L)
    assert(fused.length == 1 && fused.head.n_events == 3 &&
      fused.head.session_start.getTime == ts(716).getTime &&
      fused.head.session_end.getTime == ts(720).getTime,
      s"the bridging event must fuse both intervals: ${fused.toSeq}")
  }

  test("sequenceStream matches the batch TrainingSequences output") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val seqs = StreamingOps.sequenceStream(src.toDS(), contextLen = 3)
    val q = seqs.writeStream.outputMode("append").format("memory")
      .queryName("seq_examples").start()
    val evs = Seq(
      Event(1, ts(0), 10, "a", 0), Event(2, ts(1), 10, "b", 0),
      Event(3, ts(2), 10, "c", 0), Event(4, ts(3), 10, "d", 0),
      Event(5, ts(4), 11, "x", 0))
    // split across two micro-batches: state must carry the context over
    src.addData(evs.take(3): _*)
    q.processAllAvailable()
    src.addData(evs.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("seq_examples")
      .select($"user_id", $"label_event_id", $"context_str", $"label")
      .as[(Long, Long, String, String)].collect().toSet
    val batch = graft.ops.TrainingSequences(contextLen = 3)
      .transform(evs.toDF())
      .select($"user_id", $"label_event_id", $"context_str", $"label")
      .as[(Long, Long, String, String)].collect().toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed == Set((10L, 4L, "a|b|c", "d")))
  }

  test("trailingFeatureStream matches the batch TrailingWindowFeatures output") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val feats = StreamingOps.trailingFeatureStream(src.toDS(),
      horizons = Seq(300L, 1200L)) // 5 min, 20 min
    val q = feats.writeStream.outputMode("append").format("memory")
      .queryName("trailing_feats").start()
    val evs = Seq(
      Event(1, ts(0), 10, "a", 1.0), Event(2, ts(4), 10, "a", 2.0),
      Event(3, ts(4), 10, "a", 4.0), // same-second peer of event 2
      Event(4, ts(21), 10, "a", 8.0), // 5-min frame empty, 20-min sees 0
      Event(5, ts(18), 11, "x", 16.0))
    // split across micro-batches: state must carry the trailing events
    src.addData(evs.take(3): _*)
    q.processAllAvailable()
    src.addData(evs.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("trailing_feats")
      .select($"event_id", $"user_id", $"ns", $"sums")
      .as[(Long, Long, Seq[Long], Seq[Long])].collect().toSet
    val batch = graft.ops.TrailingWindowFeatures(
      "user_id", "ts_sec", "value_cents", Seq(300L, 1200L))
      .transform(evs.toDF()
        .withColumn("ts_sec", col("ts").cast("long"))
        .withColumn("value_cents", round(col("value") * 100).cast("long")))
      .select($"event_id", $"user_id",
        array($"n_300s", $"n_1200s").as("ns"),
        array(coalesce($"sum_300s", lit(0L)),
          coalesce($"sum_1200s", lit(0L))).as("sums"))
      .as[(Long, Long, Seq[Long], Seq[Long])].collect().toSet
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    // spot-check the leak rules: event 3 must NOT see its same-second
    // peer (event 2); event 4's 5-min frame is empty, 20-min sees all
    val byId = streamed.map(t => t._1 -> ((t._3, t._4))).toMap
    assert(byId(3L) == ((Seq(1L, 1L), Seq(100L, 100L))))
    // 20-min frame is [60, 1259]: events 2+3 (t=240) in, event 1 (t=0) out
    assert(byId(4L) == ((Seq(0L, 2L), Seq(0L, 600L))))
    assert(byId(5L) == ((Seq(0L, 0L), Seq(0L, 0L))))
  }

  test("scrubStream scrubs exactly the spans the batch op finds in the corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "aa bb cc dd tail one"),
      (2L, "head aa bb cc dd tail2"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val src = MemoryStream[(Long, Timestamp, String)]
    val stream = StreamingOps.scrubStream(
      src.toDF().toDF("doc_id", "ts", "text"), corpus, n = 4)
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("scrub_stream").start()
    // replay the corpus through the stream, then advance the watermark
    src.addData(
      (1L, ts(1), "aa bb cc dd tail one"),
      (2L, ts(2), "head aa bb cc dd tail2"),
      (3L, ts(3), "totally different words here"))
    q.processAllAvailable()
    src.addData((9L, ts(600), "aa bb cc dd fresh arrival"))
    q.processAllAvailable()
    src.addData((10L, ts(1200), "watermark advancer entirely novel"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scrub_stream")
      .select($"doc_id", $"n_tokens", $"n_removed", $"cleaned_text")
      .as[(Long, Int, Int, String)].collect().toSet
    val batch = graft.ops.ScrubSharedGrams(n = 4).transform(corpus)
      .as[(Long, Int, Int, String)].collect().toSet
    assert(batch.subsetOf(streamed),
      s"stream twin must equal the batch op on the corpus docs: $streamed vs $batch")
    // a NEW doc carrying a known-shared span is scrubbed on arrival
    assert(streamed.contains((9L, 6, 4, "fresh arrival")), s"got $streamed")
  }

  test("stateless mixing ops apply unchanged to a document stream") {
    implicit val sqlCtx = spark.sqlContext
    // UpsampleMix/StratifiedSample are pure per-row expressions, so the
    // SAME op instance drives batch backfill and streaming ingest — and,
    // because the coin is content hash, the two paths emit identical rows
    val src = MemoryStream[(Long, String)]
    val op = graft.ops.UpsampleMix("doc_id", "lang", Map("en" -> 20000, "zh" -> 0))
    val q = op.transform(src.toDF().toDF("doc_id", "lang"))
      .writeStream.outputMode("append").format("memory")
      .queryName("mix_stream").start()
    src.addData((1L, "en"), (2L, "zh"), (3L, "fr"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("mix_stream")
      .as[(Long, String, Int)].collect().toSet
    val batch = op.transform(
        Seq((1L, "en"), (2L, "zh"), (3L, "fr")).toDF("doc_id", "lang"))
      .as[(Long, String, Int)].collect().toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed == Set((1L, "en", 0), (1L, "en", 1), (3L, "fr", 0)),
      s"en ×2, zh dropped, fr default ×1: $streamed")
  }

  test("semanticDecontaminateStream alerts exactly the batch-contaminated ids") {
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq((100L, Seq(1.0f, 0.0f)), (101L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val rows = Seq(
      (1L, ts(0), Seq(0.9f, 0.1f)),   // near (1,0) -> alert
      (2L, ts(1), Seq(-1.0f, 0.0f)),  // max cosine 0 -> clean
      (3L, ts(2), Seq(1.0f, 1.0f)),   // hits BOTH eval vectors -> one alert
      (4L, ts(3), Seq(0.0f, 0.0f)))   // zero norm -> clean
    val src = MemoryStream[(Long, Timestamp, Seq[Float])]
    val alerts = StreamingOps.semanticDecontaminateStream(
      src.toDF().toDF("vec_id", "ts", "embedding"), eval,
      threshold = 0.7, watermark = "30 minutes")
    val q = alerts.writeStream.outputMode("append").format("memory")
      .queryName("sem_alerts").start()
    src.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("sem_alerts").select($"vec_id").as[Long].collect().toSet
    val batch = graft.ops.SemanticDecontaminate(eval, threshold = 0.7)
      .transform(rows.toDF("vec_id", "ts", "embedding"))
      .filter($"contaminated").select($"vec_id").as[Long].collect().toSet
    assert(got == batch && got == Set(1L, 3L),
      s"stream alerts must equal batch contaminated ids: stream=$got batch=$batch")
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("bm25IndexSink: any micro-batch boundaries yield the identical " +
      "persisted index, equal to a from-scratch fit") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the lazy dog sleeps"),
      (3L, "quick dog quick fox"), (4L, "brown bears eat fish"),
      (5L, "fish swim upstream"), (6L, "the fox eats the fish"),
      (7L, "dogs and foxes"), (8L, "upstream data pipelines"),
      (9L, "lazy pipelines sleep"))
    // two streams over the same docs with DIFFERENT batch boundaries
    def run(splits: Seq[Seq[(Long, String)]]): String = {
      val dir = tmpDir("bm25_sink_")
      val src = MemoryStream[(Long, String)]
      val q = src.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(StreamingOps.bm25IndexSink(dir)).start()
      splits.foreach { s => src.addData(s: _*); q.processAllAvailable() }
      q.stop(); dir
    }
    val dirA = run(Seq(docs.take(3), docs.slice(3, 4), docs.drop(4)))
    val dirB = run(Seq(docs.take(7), docs.drop(7)))
    val idxA = StreamingOps.loadBm25Index(spark, dirA).get
    val idxB = StreamingOps.loadBm25Index(spark, dirB).get
    val full = graft.ops.Bm25Index.fit(docs.toDF("doc_id", "text"),
      "doc_id", "text")
    def postings(i: graft.ops.Bm25Index) =
      i.postings.as[(Long, Int, String, Long)].collect().toSet
    def dfreq(i: graft.ops.Bm25Index) =
      i.dfreq.as[(String, Long)].collect().toSet
    for ((label, i) <- Seq("splitA" -> idxA, "splitB" -> idxB)) {
      assert(postings(i) == postings(full), s"$label postings != rebuild")
      assert(dfreq(i) == dfreq(full), s"$label dfreq != rebuild")
      assert(i.docCount == full.docCount && i.avgdl == full.avgdl,
        s"$label scalars != rebuild (${i.docCount}, ${i.avgdl})")
    }
    // and the probe answers identically through the maintained index
    val qs = Seq((1L, "quick fox"), (2L, "lazy fish"))
      .toDF("query_id", "query_text")
    val a = idxA.asRows(qs).as[(Long, Int, Long, Long)].collect().toSet
    val f = full.asRows(qs).as[(Long, Int, Long, Long)].collect().toSet
    assert(a == f, s"maintained-index probe != rebuild probe: $a vs $f")
  }

  test("bm25IndexSink stamps per-version occupancy (term buckets, df-additive), " +
      "compaction-preserved") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the lazy dog sleeps"),
      (3L, "quick dog quick fox"), (4L, "brown bears eat fish"),
      (5L, "fish swim upstream"), (6L, "the fox eats the fish"))
    val dir = tmpDir("bm25_occ_")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.bm25IndexSink(dir)).start()
    Seq(docs.take(2), docs.slice(2, 4), docs.drop(4)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val log = StreamingOps.occupancyLog(spark, dir)
    assert(log.map(_._1) == Seq("v0", "v1", "v2"),
      s"every sink commit must stamp a line: ${log.map(_._1)}")
    // independent reference: per-term document frequency over each prefix
    def ref(prefix: Seq[(Long, String)]): (Long, Long, Long) = {
      val dfs = prefix.flatMap { case (_, t) =>
        t.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct }
        .groupBy(identity).map(_._2.size)
      (dfs.sum.toLong, dfs.size.toLong, dfs.max.toLong)
    }
    Seq(2, 4, 6).zip(log).foreach { case (n, (v, o)) =>
      val (items, occ, mx) = ref(docs.take(n))
      assert(o.nItems == items && o.nBuckets == occ &&
        o.nOccupied == occ && o.maxCount == mx,
        s"$v stamped line != per-term df histogram: $o vs ($items, $occ, $mx)")
    }
    // compaction rewrites files, never rows — the line carries forward
    assert(StreamingOps.compactIndexState(spark, dir).contains("v3"))
    val after = StreamingOps.occupancyLog(spark, dir)
    assert(after.map(_._1) == Seq("v0", "v1", "v2", "v3"))
    assert(after.last._2 == log.last._2,
      "compaction must preserve the stamped occupancy verbatim")
  }

  test("pruneBm25HeadTermsIfSkewed: in-log trigger, stopword-pruned commit, " +
      "surviving scores bit-identical, healthy index untouched") {
    implicit val sqlCtx = spark.sqlContext
    // 'common' rides every doc (the head term); everything else spreads:
    // n_items = 48 postings over 18 terms → uniform 3, max df 12 →
    // skew 40000 bp; the prune rule (df·10⁴/3 > 30000 ⇔ df > 9) names
    // exactly {common}
    val docs = (1L to 12L).map(i =>
      (i, s"common token$i word${i % 3} tail${i % 2}"))
    val dir = tmpDir("bm25_prune_")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.bm25IndexSink(dir)).start()
    Seq(docs.take(5), docs.drop(5)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val pre = StreamingOps.loadBm25Index(spark, dir).get
    val preOcc = StreamingOps.occupancyLog(spark, dir).last._2
    assert(preOcc.skewBp == 40000L, s"fixture arithmetic drifted: $preOcc")
    // a healthy bound: the decision reads the line and declines in-log
    assert(StreamingOps.pruneBm25HeadTermsIfSkewed(spark, dir, 50000L).isEmpty)
    assert(StreamingOps.occupancyLog(spark, dir).map(_._1) == Seq("v0", "v1"),
      "a declined prune must not commit anything")
    // tripped: the action commits the pruned v2
    val act = StreamingOps.pruneBm25HeadTermsIfSkewed(spark, dir, 30000L)
    assert(act.nonEmpty)
    val (skew, head, v) = act.get
    assert(skew == 40000L && head == Seq("common") && v == "v2", s"$act")
    val post = StreamingOps.loadBm25Index(spark, dir).get
    // doc-level constants carry VERBATIM — that is the score contract
    assert(post.docCount == pre.docCount && post.avgdl == pre.avgdl)
    // surviving-term queries score bit-identically through the pruned index
    val qs = Seq((1L, "token3 word0 tail1"), (2L, "token7 word1"))
      .toDF("query_id", "query_text")
    assert(post.asRows(qs).collect().toSeq == pre.asRows(qs).collect().toSeq,
      "non-pruned terms must score bit-identically after the prune")
    // the pruned term stops contributing — exactly a fitted stopword
    val stopQ = Seq((9L, "common")).toDF("query_id", "query_text")
    assert(post.asRows(stopQ).count() == 0 && pre.asRows(stopQ).count() > 0)
    // the restamped line shows the head term gone
    val occ2 = StreamingOps.readIndexOccupancy(spark, dir, v).get
    assert(occ2.nItems == preOcc.nItems - 12 &&
      occ2.nOccupied == preOcc.nOccupied - 1 &&
      occ2.maxCount < preOcc.maxCount, s"restamp wrong: $occ2")
    // pre-prune versions stay time-travelable with the term findable
    val old = StreamingOps.loadBm25IndexAt(spark, dir, "v1").get
    assert(old.asRows(stopQ).count() > 0)
  }

  test("annIvfIndexSink: streamed assignment equals the full index build") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val items = (1L to 60L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat)))
    val itemsDf = items.toDF("item_id", "embedding")
    val op = graft.ops.AnnIvf.fit(itemsDf, "query_id", "query_vec",
      nlist = 4, nprobe = 2)
    def run(splits: Seq[Seq[(Long, Seq[Float])]]): String = {
      val dir = tmpDir("ivf_sink_")
      val src = MemoryStream[(Long, Seq[Float])]
      val q = src.toDF().toDF("item_id", "embedding").writeStream
        .foreachBatch(StreamingOps.annIndexSink(dir, op)).start()
      splits.foreach { s => src.addData(s: _*); q.processAllAvailable() }
      q.stop(); dir
    }
    val dir = run(Seq(items.take(20), items.slice(20, 21), items.drop(21)))
    val streamed = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    val rebuilt = graft.ops.AnnIvf.index(itemsDf, op.centers)
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    assert(streamed == rebuilt,
      "frozen-quantizer streamed assignments must be id-identical to a rebuild")
  }

  test("annSqIndexSink: streamed encode+assign equals the full coded-index build") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(19)
    val items = (1L to 60L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat)))
    val itemsDf = items.toDF("item_id", "embedding")
    val op = graft.ops.AnnSq.fit(itemsDf, "query_id", "query_vec",
      nlist = 4, nprobe = 2)
    val dir = tmpDir("sq_sink_")
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDF().toDF("item_id", "embedding").writeStream
      .foreachBatch(StreamingOps.annIndexSink(dir, op)).start()
    Seq(items.take(20), items.slice(20, 21), items.drop(21)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid", "__codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    val rebuilt = graft.ops.AnnSq.index(itemsDf, op.centers, op.mins, op.maxs)
      .select("__item_id", "__cid", "__codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(streamed == rebuilt,
      "frozen-quantizer streamed codes must be id-identical to a rebuild")
  }

  test("annPqIndexSink: streamed encode equals the full code-table build; probe identical") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val items = (1L to 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val itemsDf = items.toDF("item_id", "embedding")
    val op = graft.ops.AnnIvfPq.fit(itemsDf, "query_id", "query_vec",
      nlist = 4, m = 2, ksub = 4, nprobe = 2, refine = 0, k = 3)
    val dir = tmpDir("pq_sink_")
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDF().toDF("item_id", "embedding").writeStream
      .foreachBatch(StreamingOps.annIndexSink(dir, op)).start()
    Seq(items.take(20), items.slice(20, 21), items.drop(21)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = StreamingOps.loadIndexLog(spark, dir).get
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("__item_id", "__cid", "__codes")
        .as[(Long, Int, Seq[Int])].collect().toSet
    val rebuilt = graft.ops.AnnIvfPq.index(itemsDf, op.centers, op.codebooks)
    assert(codeSet(streamed) == codeSet(rebuilt),
      "frozen-quantizer streamed codes must be id-identical to a rebuild")
    // incremental append through the op shares the same ONE definition
    val viaUpdate = op.updatedIndex(
      graft.ops.AnnIvfPq.index(itemsDf.filter($"item_id" <= 30), op.centers, op.codebooks),
      itemsDf.filter($"item_id" > 30))
    assert(codeSet(viaUpdate) == codeSet(rebuilt),
      "updatedIndex must be id-identical to a full re-encode")
    // and the ADC probe answers identically through the maintained table
    val qs = (101L to 105L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("query_id", "query_vec")
    val a = op.asRowsIndexed(qs, streamed)
      .as[(Long, Int, Long, Double)].collect().toSet
    val f = op.asRows(qs).as[(Long, Int, Long, Double)].collect().toSet
    assert(a == f, "maintained-index probe != batch-encode probe")
  }

  test("annLshIndexSink: streamed bucketing equals the full build under the frozen center") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(37)
    val items = (1L to 60L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat)))
    val itemsDf = items.toDF("item_id", "embedding")
    val mu = graft.functions.VectorFunctions
      .meanVector(itemsDf, "embedding").toSeq
    val op = graft.ops.AnnLsh(itemsDf, "query_id", "query_vec",
      k = 3, numBits = 4, nprobe = 2, metric = "cosine", center = Some(mu))
    val dir = tmpDir("lsh_sink_")
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDF().toDF("item_id", "embedding").writeStream
      .foreachBatch(StreamingOps.annIndexSink(dir, op)).start()
    Seq(items.take(20), items.slice(20, 21), items.drop(21)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = StreamingOps.loadIndexLog(spark, dir).get
    def bucketSet(df: org.apache.spark.sql.DataFrame) =
      df.select("__item_id", "__bucket").as[(Long, Int)].collect().toSet
    val rebuilt = graft.ops.AnnLsh.index(itemsDf, mu, op.numBits)
    assert(bucketSet(streamed) == bucketSet(rebuilt),
      "frozen-center streamed buckets must be id-identical to a rebuild")
    // incremental append through the op shares the same ONE definition
    val viaUpdate = op.updatedIndex(
      graft.ops.AnnLsh.index(itemsDf.filter($"item_id" <= 30), mu, op.numBits),
      itemsDf.filter($"item_id" > 30))
    assert(bucketSet(viaUpdate) == bucketSet(rebuilt),
      "updatedIndex must be id-identical to a full rebuild")
    // and the probe answers identically through the maintained table
    val qs = (101L to 105L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat))).toDF("query_id", "query_vec")
    val a = op.asRowsIndexed(qs, streamed)
      .as[(Long, Int, Long, Double)].collect().toSet
    val f = op.asRows(qs).as[(Long, Int, Long, Double)].collect().toSet
    assert(a == f, "maintained-index probe != batch-build probe")
  }

  test("vacuumIndexVersions: retires superseded versions, never the pointed one") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val items = (1L to 30L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat)))
    val itemsDf = items.toDF("item_id", "embedding")
    val op = graft.ops.AnnSq.fit(itemsDf, "query_id", "query_vec",
      nlist = 2, nprobe = 2)
    val dir = tmpDir("sq_vacuum_")
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDF().toDF("item_id", "embedding").writeStream
      .foreachBatch(StreamingOps.annIndexSink(dir, op)).start()
    Seq(items.take(10), items.slice(10, 20), items.drop(20)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable()
    }
    q.stop()
    def versionDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).toSet
    assert(versionDirs == Set("v0", "v1", "v2"), s"expected 3 versions: $versionDirs")
    // keep=1 retires the two superseded versions; the live index still probes
    val deleted = StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    assert(deleted.toSet == Set("v0", "v1") && versionDirs == Set("v2"))
    val live = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id").as[Long].collect().toSet
    assert(live == (1L to 30L).toSet, "vacuum must not touch the live version")
    // keep=0 force-keeps the _LATEST-pointed version
    assert(StreamingOps.vacuumIndexVersions(spark, dir, keep = 0).isEmpty
      && versionDirs == Set("v2"))
    // idempotent on an already-clean or missing dir
    assert(StreamingOps.vacuumIndexVersions(spark, dir + "_missing").isEmpty)
  }

  test("evalRankingSink: streamed per-query metrics equal the batch op under any query-atomic batching") {
    implicit val sqlCtx = spark.sqlContext
    val rel = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L))
      .toDF("query_id", "item_id")
    val op = graft.ops.EvalRanking(rel, k = 3)
    // three served queries: full hit list, partial, total miss
    val served = Seq(
      (1L, 10L, 1), (1L, 99L, 2), (1L, 11L, 3),
      (2L, 98L, 1), (2L, 20L, 2), (2L, 97L, 3),
      (3L, 96L, 1), (3L, 95L, 2), (3L, 94L, 3))
    def run(splits: Seq[Seq[(Long, Long, Int)]]): Set[Seq[Any]] = {
      val dir = tmpDir("eval_sink_")
      val src = MemoryStream[(Long, Long, Int)]
      val q = src.toDF().toDF("query_id", "item_id", "rank").writeStream
        .foreachBatch(StreamingOps.evalRankingSink(dir, op)).start()
      splits.foreach { s => src.addData(s: _*); q.processAllAvailable() }
      q.stop()
      StreamingOps.loadIndexLog(spark, dir).get.drop("batch_id")
        .collect().map(_.toSeq).toSet
    }
    val oneShot = run(Seq(served))
    val perQuery = run(Seq(served.take(3), served.slice(3, 6), served.drop(6)))
    val batchRows = op.transform(served.toDF("query_id", "item_id", "rank"))
      .collect().map(_.toSeq).toSet
    assert(oneShot == batchRows, "one-batch stream != batch op")
    assert(perQuery == batchRows, "query-atomic split stream != batch op")
  }

  test("sink retainVersions auto-vacuums superseded versions after each pointer swap") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("bm25_retain_")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.bm25IndexSink(dir, retainVersions = Some(1))).start()
    src.addData((1L, "alpha beta")); q.processAllAvailable()
    src.addData((2L, "gamma delta")); q.processAllAvailable()
    src.addData((3L, "epsilon zeta")); q.processAllAvailable()
    q.stop()
    val versions = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).toSet
    assert(versions == Set("v2"), s"retention must leave only the live version: $versions")
    assert(StreamingOps.loadBm25Index(spark, dir).get.docCount == 3L,
      "the retained index must still hold the full maintained state")
  }

  test("index sinks share the corpus log's txn protocol: retries no-op, new appId commits") {
    val dir = tmpDir("bm25_txn_")
    val sink = StreamingOps.bm25IndexSink(dir)
    sink(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
    // committed-batch retry: must not publish a second (duplicating) version
    sink(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
    assert(graft.core.VersionedDir.versions(spark, dir) == Seq("v0"),
      "a committed-batch retry must be a no-op")
    assert(StreamingOps.loadBm25Index(spark, dir).get.docCount == 1L)
    // fresh-checkpoint restart (new appId, batchIds restart at 0):
    // log-ordered naming keeps its commit collision-free
    StreamingOps.bm25IndexSink(dir, appId = "bm25-ingest-2")(
      Seq((2L, "gamma delta")).toDF("doc_id", "text"), 0L)
    assert(graft.core.VersionedDir.versions(spark, dir) == Seq("v1", "v0"))
    assert(StreamingOps.loadBm25Index(spark, dir).get.docCount == 2L)
  }

  test("index sinks persist O(batch) deltas — version dirs hold only metadata; " +
      "compactIndexState collapses the chain probe-neutrally") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the lazy dog sleeps"),
      (3L, "quick dog quick fox"), (4L, "brown bears eat fish"),
      (5L, "fish swim upstream"), (6L, "the fox eats the fish"),
      (7L, "dogs and foxes"), (8L, "upstream data pipelines"),
      (9L, "lazy pipelines sleep"))
    val dir = tmpDir("bm25_compact_")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.bm25IndexSink(dir)).start()
    Seq(docs.take(3), docs.slice(3, 6), docs.drop(6)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable()
    }
    q.stop()
    // THE write-amplification pin: a commit persists the batch's OWN
    // postings as a delta — the v<n> dirs carry manifest/meta/txn only,
    // never an index copy
    val root = new java.io.File(dir)
    for (v <- root.listFiles().filter(f =>
        f.isDirectory && f.getName.startsWith("v"))) {
      val sub = v.listFiles().map(_.getName).toSet
        .filterNot(_.contains("_RESERVED")) // OCC marker + crc sidecar
        .filterNot(_.startsWith(".")) // FS checksum sidecars of the files
      // occupancy = the stamped one-line postings histogram summary
      // (round-13: BM25 joined the occupancy protocol) — metadata, like
      // the ANN sinks' stamped line
      assert(sub.subsetOf(Set("manifest", "meta", "txn", "occupancy")),
        s"${v.getName} holds index payload, not metadata: $sub")
    }
    assert(new java.io.File(root, "deltas").listFiles().map(_.getName).toSet
      == Set("d0", "d1", "d2"), "one immutable delta per committed batch")
    val qs = Seq((1L, "quick fox"), (2L, "lazy fish"))
      .toDF("query_id", "query_text")
    val before = StreamingOps.loadBm25Index(spark, dir).get
      .asRows(qs).collect().map(_.toSeq).toSet
    // OPTIMIZE: same index, chain length 1, dfreq pre-rolled
    assert(StreamingOps.compactIndexState(spark, dir).contains("v3"))
    val idx = StreamingOps.loadBm25Index(spark, dir).get
    assert(idx.docCount == 9L)
    assert(graft.core.DeltaLog.readManifest(spark, dir, "v3").size == 1,
      "compaction must republish the corpus as one delta")
    assert(idx.asRows(qs).collect().map(_.toSeq).toSet == before,
      "compaction must be probe-neutral")
    // reclamation: version vacuum retires metadata history, then the
    // orphaned pre-compaction deltas physically reclaim
    StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    assert(StreamingOps.vacuumCorpusDeltas(spark, dir).toSet
      == Set("d0", "d1", "d2"))
    assert(StreamingOps.loadBm25Index(spark, dir).get
      .asRows(qs).collect().map(_.toSeq).toSet == before,
      "probes must survive compaction + vacuum")
  }

  test("compactIndexState on an ANN index log keeps assignments identical") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val items = (1L to 60L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat)))
    val itemsDf = items.toDF("item_id", "embedding")
    val op = graft.ops.AnnIvf.fit(itemsDf, "query_id", "query_vec",
      nlist = 4, nprobe = 2)
    val dir = tmpDir("ivf_compact_")
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDF().toDF("item_id", "embedding").writeStream
      .foreachBatch(StreamingOps.annIndexSink(dir, op)).start()
    Seq(items.take(20), items.slice(20, 40), items.drop(40)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable()
    }
    q.stop()
    val before = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    assert(StreamingOps.compactIndexState(spark, dir).contains("v3"))
    StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    StreamingOps.vacuumCorpusDeltas(spark, dir)
    val after = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    assert(after == before && after.size == 60,
      "ANN compaction + vacuum must be content-neutral")
  }

  test("a committed-batch retry is a no-op even after retention vacuumed its txn version") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("bm25_retry_vacuum_")
    val b0 = Seq((1L, "quick brown fox"), (2L, "lazy dog"))
    val b1 = Seq((3L, "seven eight nine"))
    // keep=1: after batch 1 commits, the version holding batch 0's txn
    // marker is vacuumed — the retry dedup must NOT depend on retained
    // metadata history (an orchestrator can replay an old batch long
    // after retention aged its version out; BM25 postings have no
    // content-dedup safety net, so a recommit double-counts documents)
    val sink = StreamingOps.bm25IndexSink(dir, retainVersions = Some(1))
    sink(b0.toDF("doc_id", "text"), 0L)
    sink(b1.toDF("doc_id", "text"), 1L)
    assert(StreamingOps.loadBm25Index(spark, dir).get.docCount == 3L)
    // late replay of committed batch 0
    sink(b0.toDF("doc_id", "text"), 0L)
    val idx = StreamingOps.loadBm25Index(spark, dir).get
    assert(idx.docCount == 3L,
      s"retried batch must not recommit: docCount ${idx.docCount}")
    // the harder interleaving: an OPTIMIZE (different appId) commits on
    // top, then retention vacuums the version holding the ingest app's
    // last txn — the app's commit memory must survive other writers'
    // commits aging its version out, or a late replay double-counts
    StreamingOps.compactIndexState(spark, dir)
    StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    sink(b1.toDF("doc_id", "text"), 1L)
    val after = StreamingOps.loadBm25Index(spark, dir).get
    assert(after.docCount == 3L,
      s"replay after optimize+vacuum must be a no-op: ${after.docCount}")
  }

  test("txn memory swaps atomically with the pointer: no post-swap write to crash between") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("bm25_txn_atomic_")
    val sink = StreamingOps.bm25IndexSink(dir)
    sink(Seq((1L, "quick brown fox"), (2L, "lazy dog")).toDF("doc_id", "text"), 0L)
    sink(Seq((3L, "seven eight nine")).toDF("doc_id", "text"), 1L)
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, dir)
    // the commit and its retry-dedup memory are ONE file, swapped by ONE
    // rename — the historical residual (crash between the pointer swap
    // and a separate post-swap txn write, then retention churning past
    // the version before the retry) cannot exist: there is no state in
    // which the version is live but the app's batch is not remembered
    def ptrLines = graft.core.VersionedDir.pointerLines(spark, dir)
    assert(ptrLines.head == "v1" && ptrLines.contains("txn:bm25-ingest,1"),
      s"pointer must embed the committing app's txn: $ptrLines")
    assert(!fs.listStatus(p).exists(_.getPath.getName.startsWith("_TXN_")),
      "no separate root txn pointer may exist in the protocol")
    // an OPTIMIZE commit (different app, no batch identity) must CARRY
    // the ingest app's memory forward, not erase it
    StreamingOps.compactIndexState(spark, dir)
    assert(ptrLines.head == "v2" && ptrLines.contains("txn:bm25-ingest,1"),
      s"other writers' commits must carry the txn map forward: $ptrLines")
    // crash-injection equivalent: the state right after any pointer swap
    // IS the fully-committed state — erase every OTHER trace of the txn
    // (vacuum all history metadata, as retention would) and replay both
    // batches; the pointer alone must dedup them
    StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    graft.core.VersionedDir.versions(spark, dir).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(p, s"$v/txn"), false)
    }
    sink(Seq((1L, "quick brown fox"), (2L, "lazy dog")).toDF("doc_id", "text"), 0L)
    sink(Seq((3L, "seven eight nine")).toDF("doc_id", "text"), 1L)
    val idx = StreamingOps.loadBm25Index(spark, dir).get
    assert(idx.docCount == 3L,
      s"replay after vacuum must be a no-op on the pointer's memory alone: ${idx.docCount}")
    // even a trailer-IGNORANT writer (batch publish knows nothing of txn
    // maps) must preserve the memory when it swaps the pointer
    graft.core.VersionedDir.publish(Seq((1L, "x")).toDF("id", "v"), dir)
    assert(ptrLines.contains("txn:bm25-ingest,1"),
      s"a plain publish must carry the trailer forward: $ptrLines")
  }

  test("two writer apps interleaving on one log keep independent replay memories") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("bm25_twoapp_")
    // the fresh-checkpoint contract: a restarted stream is a NEW app on
    // the SAME log; its batch numbering restarts at 0 without colliding
    // with the old app's memory
    val a = StreamingOps.bm25IndexSink(dir, appId = "app-a")
    val b = StreamingOps.bm25IndexSink(dir, appId = "app-b")
    a(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
    b(Seq((2L, "gamma delta")).toDF("doc_id", "text"), 0L)
    a(Seq((3L, "epsilon zeta")).toDF("doc_id", "text"), 1L)
    val lines = graft.core.VersionedDir.pointerLines(spark, dir)
    assert(lines.contains("txn:app-a,1") && lines.contains("txn:app-b,0"),
      s"both apps' memories must ride the live pointer: $lines")
    // each app's replay is judged against ITS OWN entry — b's batch 1 is
    // new work even though a already committed a batch 1
    a(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L) // replay: no-op
    b(Seq((4L, "eta theta")).toDF("doc_id", "text"), 1L)  // fresh: commits
    assert(StreamingOps.loadBm25Index(spark, dir).get.docCount == 4L)
  }

  test("legacy parquet-directory commit metadata fails with a diagnosis, not an opaque IO error") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("bm25_legacy_")
    val sink = StreamingOps.bm25IndexSink(dir)
    sink(Seq((1L, "quick brown fox")).toDF("doc_id", "text"), 0L)
    // simulate a state dir written by the pre-text-file revision: the
    // txn marker is a parquet DIRECTORY, not a one-line file
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(p, "v0/txn"), false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p, "v0/txn/part-0"))
    val e = intercept[IllegalStateException] {
      sink(Seq((2L, "lazy dog")).toDF("doc_id", "text"), 1L)
    }
    assert(e.getMessage.contains("legacy"),
      s"must name the legacy layout, got: ${e.getMessage}")
  }

  test("index time travel: a retained version probes as the index that served it") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 9L).map(i => (i, s"doc $i quick brown fox " + ("w" + i)))
    val dir = tmpDir("bm25_tt_")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.bm25IndexSink(dir)).start()
    docs.grouped(3).foreach { s => src.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val qs = Seq((1L, "quick fox")).toDF("query_id", "query_text")
    // v1 = the index after the first TWO batches: byte-identical probes
    // to a from-scratch fit over those six docs — an eval run against
    // "the index as of v1" is reproducible after later commits
    val at = StreamingOps.loadBm25IndexAt(spark, dir, "v1").get
    assert(at.docCount == 6L)
    val scratch = graft.ops.Bm25Index.fit(
      docs.take(6).toDF("doc_id", "text"), "doc_id", "text")
    assert(at.asRows(qs).collect().map(_.toSeq).toSet ==
      scratch.asRows(qs).collect().map(_.toSeq).toSet)
    // the live load is unchanged by time travel; a vacuumed or never-
    // committed version reads as None, never a partial index
    assert(StreamingOps.loadBm25Index(spark, dir).get.docCount == 9L)
    assert(StreamingOps.loadBm25IndexAt(spark, dir, "v9").isEmpty)
    // a reserved-but-never-committed version can CARRY a manifest (a
    // crashed writer, or a lineage-conflict loser) — but its snapshot
    // never went live, so time travel must refuse it, not serve it
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, dir)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(p, "v2/manifest"),
      fs, new org.apache.hadoop.fs.Path(p, "v9/manifest"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(StreamingOps.loadBm25IndexAt(spark, dir, "v9").isEmpty,
      "an uncommitted version's manifest must not time-travel")
    StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    assert(StreamingOps.loadBm25IndexAt(spark, dir, "v1").isEmpty,
      "vacuumed history must read as None")
  }

  test("ANN index time travel: a pinned version is the exact index that served it") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(37)
    val items = (1L to 30L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat)))
    val itemsDf = items.toDF("item_id", "embedding")
    val op = graft.ops.AnnIvf.fit(itemsDf, "query_id", "query_vec",
      nlist = 2, nprobe = 2)
    val dir = tmpDir("ivf_tt_")
    val src = MemoryStream[(Long, Seq[Float])]
    val q = src.toDF().toDF("item_id", "embedding").writeStream
      .foreachBatch(StreamingOps.annIndexSink(dir, op)).start()
    Seq(items.take(10), items.slice(10, 20), items.drop(20)).foreach { s =>
      src.addData(s: _*); q.processAllAvailable()
    }
    q.stop()
    // v1 = the catalog after two batches: identical rows to a fresh
    // index over those 20 items, regardless of the later commit
    val at = StreamingOps.loadAnnIndexAt(spark, dir, "v1").get
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    val scratch = graft.ops.AnnIvf.index(
      items.take(20).toDF("item_id", "embedding"), op.centers)
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    assert(at == scratch, "pinned ANN snapshot must equal the fresh index")
    assert(StreamingOps.loadIndexLog(spark, dir).get.count() == 30L)
    assert(StreamingOps.loadAnnIndexAt(spark, dir, "v9").isEmpty)
    StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    assert(StreamingOps.loadAnnIndexAt(spark, dir, "v1").isEmpty,
      "vacuumed history must read as None")
  }

  test("refitAnnIvfIndex: drift trigger's action republishes refit assignments atomically in-log") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    // quantizer fitted on a cluster near the origin...
    val early = (1L to 20L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat * 0.1f)))
    // ...then the catalog drifts to a far-away mode the frozen centers
    // cannot cover — the QuantizerDrift scenario
    val late = (21L to 40L).map(i =>
      (i, Seq.fill(4)(10f + rnd.nextGaussian().toFloat * 0.1f)))
    val op = graft.ops.AnnIvf.fit(early.toDF("item_id", "embedding"),
      "query_id", "query_vec", nlist = 2, nprobe = 2)
    val dir = tmpDir("ivf_refit_")
    val sink = StreamingOps.annIndexSink(dir, op)
    sink(early.toDF("item_id", "embedding"), 0L)
    sink(late.toDF("item_id", "embedding"), 1L)
    val stale = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    val (centers, v) = StreamingOps.refitAnnIvfIndex(spark, dir,
      nlist = 2, maxIter = 5, seed = 7L).get
    assert(v == "v2")
    // the republished index IS a fresh index over the same items under
    // the refit quantizer — and it actually separates the two modes
    val refit = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    val scratch = graft.ops.AnnIvf.index(
      (early ++ late).toDF("item_id", "embedding"), centers)
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet
    assert(refit == scratch, "refit index must equal a fresh index")
    val byCluster = refit.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byCluster.size == 2 &&
      byCluster.values.toSet == Set((1L to 20L).toSet, (21L to 40L).toSet),
      s"refit centers must separate the drifted mode: $byCluster")
    // the pre-refit snapshot stays time-travelable (reproduce an eval
    // against the index that served it), and the ingest app's commit
    // memory survives the refit commit: the batch replay is a no-op
    assert(StreamingOps.loadAnnIndexAt(spark, dir, "v1").get
      .select("__item_id", "__cid").as[(Long, Int)].collect().toSet == stale)
    sink(late.toDF("item_id", "embedding"), 1L)
    assert(StreamingOps.loadIndexLog(spark, dir).get.count() == 40L,
      "a committed batch replayed after the refit must not recommit")
  }

  test("index sinks stamp per-version occupancy; a tripped skew bound drives the in-log IVF refit") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(53)
    // quantizer fitted on a tight origin cluster; the catalog then
    // drifts to a far mode that collapses into ONE frozen list — the
    // occupancy-skew scenario the stamped lines exist to make visible
    val early = (1L to 20L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat * 0.1f)))
    val late = (21L to 100L).map(i =>
      (i, Seq.fill(4)(8f + rnd.nextGaussian().toFloat * 0.1f)))
    val op = graft.ops.AnnIvf.fit(early.toDF("item_id", "embedding"),
      "query_id", "query_vec", nlist = 4, nprobe = 2)
    val dir = tmpDir("ivf_occ_")
    val sink = StreamingOps.annIndexSink(dir, op)
    sink(early.toDF("item_id", "embedding"), 0L)
    // the stamped summary equals the direct batch report over the same
    // catalog + centroids — one occupancy definition, two surfaces
    val o0 = StreamingOps.readIndexOccupancy(spark, dir, "v0").get
    val r0 = graft.ops.IvfSkewReport(op.centers)
      .transform(early.toDF("item_id", "embedding")).head()
    assert((o0.nItems, o0.nBuckets, o0.nOccupied, o0.maxCount) ==
      ((r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3))))
    assert(o0.uniformCount == r0.getLong(4) && o0.skewBp == r0.getLong(5))

    sink(late.toDF("item_id", "embedding"), 1L)
    val o1 = StreamingOps.readIndexOccupancy(spark, dir, "v1").get
    val r1 = graft.ops.IvfSkewReport(op.centers)
      .transform((early ++ late).toDF("item_id", "embedding")).head()
    assert(o1.skewBp == r1.getLong(5) && o1.nItems == 100L)
    assert(o1.skewBp > o0.skewBp,
      s"drifted ingest must raise the stamped skew: ${o0.skewBp} -> ${o1.skewBp}")
    // the log is the drift record, oldest first
    assert(StreamingOps.occupancyLog(spark, dir).map(_._1) == Seq("v0", "v1"))

    // healthy bound → no action fires
    assert(StreamingOps.refitAnnIvfIndexIfSkewed(spark, dir,
      boundBp = o1.skewBp + 1, nlist = 4, maxIter = 5, seed = 7L).isEmpty)
    // tripped bound → the refit commits and stamps its rebalanced line
    val (obs, centers, v2) = StreamingOps.refitAnnIvfIndexIfSkewed(spark, dir,
      boundBp = o1.skewBp - 1, nlist = 4, maxIter = 5, seed = 7L).get
    assert(obs == o1.skewBp && centers.size == 4)
    val o2 = StreamingOps.readIndexOccupancy(spark, dir, v2).get
    assert(o2.nItems == 100L)
    assert(o2.skewBp < o1.skewBp,
      s"refit centers must rebalance the lists: ${o1.skewBp} -> ${o2.skewBp}")

    // compaction rewrites files, never rows: the stamped line carries
    // forward verbatim, and the merged delta's pre-rolled bcounts keep
    // the NEXT commit's roll-up exact
    sink((101L to 110L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat * 0.1f)))
      .toDF("item_id", "embedding"), 2L)
    val preCompact = StreamingOps.readIndexOccupancy(spark, dir,
      graft.core.VersionedDir.latest(spark, dir).get).get
    assert(StreamingOps.compactIndexState(spark, dir).isDefined)
    val lv = graft.core.VersionedDir.latest(spark, dir).get
    assert(StreamingOps.readIndexOccupancy(spark, dir, lv).contains(preCompact))
    sink((111L to 115L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat * 0.1f)))
      .toDF("item_id", "embedding"), 3L)
    val oAfter = StreamingOps.readIndexOccupancy(spark, dir,
      graft.core.VersionedDir.latest(spark, dir).get).get
    assert(oAfter.nItems == 115L,
      s"post-compaction roll-up must count every row: $oAfter")
  }

  test("annLshIndexSink stamps 2^bits-bucket occupancy per committed version") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(59)
    val items = (1L to 80L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat)))
    val itemsDf = items.toDF("item_id", "embedding")
    val op = graft.ops.AnnLsh(itemsDf, "query_id", "query_vec",
      numBits = 4, nprobe = 2,
      center = Some(graft.functions.VectorFunctions
        .meanVector(itemsDf, "embedding").toSeq))
    val dir = tmpDir("lsh_occ_")
    val sink = StreamingOps.annIndexSink(dir, op)
    sink(items.take(30).toDF("item_id", "embedding"), 0L)
    sink(items.drop(30).toDF("item_id", "embedding"), 1L)
    val o = StreamingOps.readIndexOccupancy(spark, dir, "v1").get
    val r = graft.ops.LshSkewReport(op.resolvedCenter, 4)
      .transform(itemsDf).head()
    assert((o.nItems, o.nBuckets, o.nOccupied, o.maxCount) ==
      ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(o.nBuckets == 16L && o.skewBp == r.getLong(5))
  }

  test("rebuildAnnSqIndex: re-fit + re-encode from the source catalog, committed in-log") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(43)
    val early = (1L to 15L).map(i => (i, Seq.fill(4)(rnd.nextFloat())))
    // drifted values saturate the OLD fitted [0,1] range
    val late = (16L to 30L).map(i => (i, Seq.fill(4)(100f + rnd.nextFloat())))
    val op0 = graft.ops.AnnSq.fit(early.toDF("item_id", "embedding"),
      "query_id", "query_vec", nlist = 2, maxIter = 5)
    val dir = tmpDir("sq_rebuild_")
    val sink = StreamingOps.annIndexSink(dir, op0)
    sink(early.toDF("item_id", "embedding"), 0L)
    sink(late.toDF("item_id", "embedding"), 1L)
    // under the stale range every drifted value encodes to the 255 cap
    val staleCodes = StreamingOps.loadIndexLog(spark, dir).get
      .filter($"__item_id" > 15L).select("__codes")
      .as[Seq[Int]].collect()
    assert(staleCodes.forall(_.forall(_ == 255)),
      "drifted values must saturate the stale range (the failure mode)")
    val all = (early ++ late).toDF("item_id", "embedding")
    val (op1, v) = StreamingOps.rebuildAnnSqIndex(spark, dir, all,
      nlist = 2, maxIter = 5).get
    assert(v == "v2")
    val rebuilt = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid", "__codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    val scratch = graft.ops.AnnSq.index(all, op1.centers, op1.mins, op1.maxs)
      .select("__item_id", "__cid", "__codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(rebuilt == scratch, "rebuilt index must equal a fresh encode")
    assert(!rebuilt.filter(_._1 > 15L).forall(_._3.forall(_ == 255)),
      "the refit range must stop saturating the drifted values")
    // pinned history + commit memory survive the rebuild
    assert(StreamingOps.loadAnnIndexAt(spark, dir, "v1").get.count() == 30L)
    sink(late.toDF("item_id", "embedding"), 1L)
    assert(StreamingOps.loadIndexLog(spark, dir).get.count() == 30L,
      "a committed batch replayed after the rebuild must not recommit")
  }

  test("rebuildAnnPqIndex: codebook-only refit re-encodes in-log; coarse routing frozen") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(47)
    // two stable coarse modes at ±5; early residuals are tight gaussians
    def vec(i: Long, off: Double) = {
      val s = if (i % 2 == 0) 1.0 else -1.0
      Seq.fill(8)((s * 5.0 + off + rnd.nextGaussian() * 0.05).toFloat)
    }
    val early = (1L to 20L).map(i => (i, vec(i, 0.0)))
    // ...then residuals drift WITHIN the same lists (offset +0.5 — far
    // closer to the home mode than to the other): the PqCodebookDrift
    // scenario, invisible at coarse granularity
    val late = (21L to 40L).map(i => (i, vec(i, 0.5)))
    val op0 = graft.ops.AnnIvfPq.fit(early.toDF("item_id", "embedding"),
      "query_id", "query_vec", nlist = 2, m = 2, ksub = 2, maxIter = 5,
      refine = 0, k = 3)
    val dir = tmpDir("pq_rebuild_")
    val sink = StreamingOps.annIndexSink(dir, op0)
    sink(early.toDF("item_id", "embedding"), 0L)
    sink(late.toDF("item_id", "embedding"), 1L)
    val stale = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid").as[(Long, Int)].collect().toMap
    val all = (early ++ late).toDF("item_id", "embedding")
    val (op1, v) = StreamingOps.rebuildAnnPqIndex(spark, dir, op0, all,
      maxIter = 5).get
    assert(v == "v2")
    assert(op1.centers == op0.centers,
      "the codebook-only refit must not touch the coarse quantizer")
    val rebuilt = StreamingOps.loadIndexLog(spark, dir).get
      .select("__item_id", "__cid", "__codes")
      .as[(Long, Int, Seq[Int])].collect()
    val scratch = graft.ops.AnnIvfPq.index(all, op1.centers, op1.codebooks)
      .select("__item_id", "__cid", "__codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(rebuilt.toSet == scratch, "rebuilt table must equal a fresh encode")
    assert(rebuilt.map(r => r._1 -> r._2).toMap == stale,
      "coarse routing (list membership) must be IDENTICAL pre/post refit")
    // the refit codebooks quantize the drifted residuals strictly better:
    // total exact quantization error (PqEncode's d2) drops
    def totalD2(cbs: Seq[Seq[Seq[Double]]]) =
      late.toDF("item_id", "embedding").select(
        graft.functions.FastExpressions
          .pqEncode($"embedding", op0.centers, cbs).as("e"))
        .select(explode($"e.d2").as("d"))
        .agg(sum($"d")).head().getDouble(0)
    assert(totalD2(op1.codebooks) < totalD2(op0.codebooks),
      "refit sub-codebooks must reduce quantization error on the drifted batch")
    // pinned history + commit memory survive the rebuild
    assert(StreamingOps.loadAnnIndexAt(spark, dir, "v1").get.count() == 40L)
    sink(late.toDF("item_id", "embedding"), 1L)
    assert(StreamingOps.loadIndexLog(spark, dir).get.count() == 40L,
      "a committed batch replayed after the rebuild must not recommit")
  }

  test("bm25IndexSink auto-compaction bounds the delta chain; probes stay exact") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 10L).map(i => (i, s"doc number $i quick brown fox ${"word " * i.toInt}"))
    val dir = tmpDir("bm25_autocompact_")
    val src = MemoryStream[(Long, String)]
    // threshold 2: the 3rd/5th commits trip the post-commit OPTIMIZE, so
    // the chain length a reader unions is bounded regardless of how many
    // batches ever landed; retention 1 lets the orphaned pre-compaction
    // deltas physically reclaim inside the same hook
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.bm25IndexSink(dir,
        retainVersions = Some(1), autoCompactDeltas = Some(2))).start()
    docs.grouped(2).foreach { s => src.addData(s: _*); q.processAllAvailable() }
    q.stop()
    val lv = graft.core.VersionedDir.latest(spark, dir).get
    assert(graft.core.DeltaLog.readManifest(spark, dir, lv).size <= 2,
      "auto-compaction must keep the live chain at or under the threshold")
    // the deltas dir holds only what retained manifests reference — the
    // pre-compaction chain reclaimed without a manual OPTIMIZE/vacuum
    val referenced = graft.core.DeltaLog.readManifest(spark, dir, lv)
      .map(_.delta).toSet
    val onDisk = new java.io.File(dir, "deltas").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(onDisk == referenced,
      s"orphaned deltas must reclaim: disk=$onDisk referenced=$referenced")
    // probe-neutral vs a from-scratch fit over the same corpus
    val qs = Seq((1L, "quick fox"), (2L, "word number"))
      .toDF("query_id", "query_text")
    val maintained = StreamingOps.loadBm25Index(spark, dir).get
    assert(maintained.docCount == 10L)
    val scratch = graft.ops.Bm25Index.fit(
      docs.toDF("doc_id", "text"), "doc_id", "text")
    assert(maintained.asRows(qs).collect().map(_.toSeq).toSet ==
      scratch.asRows(qs).collect().map(_.toSeq).toSet,
      "auto-compacted index must probe like a from-scratch fit")
  }

  test("tiered auto-compaction merges the tiny tail but never rewrites the large base") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("bm25_tiered_")
    val big = (1L to 400L).map(i => (i, s"base document $i " + ("lorem ipsum " * 20)))
    val tiny = (401L to 404L).map(i => (i, s"late doc $i"))
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.bm25IndexSink(dir,
        retainVersions = Some(1), autoCompactDeltas = Some(2))).start()
    src.addData(big: _*); q.processAllAvailable()
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, dir)
    def fileTimes(d: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(p, s"deltas/$d/postings"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val baseBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(p, "deltas/d0")).getLength
    val baseTimes = fileTimes("d0")
    // four tiny late batches: each 3rd commit trips the auto-OPTIMIZE —
    // a mature index must merge the megabytes of tail, NEVER rewrite the
    // base for them (the LSM tiering exemption)
    tiny.foreach { t => src.addData(t); q.processAllAvailable() }
    q.stop()
    val lv = graft.core.VersionedDir.latest(spark, dir).get
    val chain = graft.core.DeltaLog.readManifest(spark, dir, lv)
      .map(_.delta)
    assert(chain.contains("d0"),
      s"the large base delta must survive compaction untouched: $chain")
    assert(chain.size <= 3,
      s"the read fan-in bound must hold: $chain")
    assert(fileTimes("d0") == baseTimes,
      "the base delta's files must be byte-identical (no rewrite)")
    chain.filterNot(_ == "d0").foreach { d =>
      val b = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(p, s"deltas/$d")).getLength
      assert(b < baseBytes / 4,
        s"merged tail deltas must stay tail-sized: $d has $b vs base $baseBytes")
    }
    // probe-neutral vs a from-scratch fit over everything
    val qs = Seq((1L, "lorem ipsum"), (2L, "late doc")).toDF("query_id", "query_text")
    val maintained = StreamingOps.loadBm25Index(spark, dir).get
    assert(maintained.docCount == 404L)
    val scratch = graft.ops.Bm25Index.fit(
      (big ++ tiny).toDF("doc_id", "text"), "doc_id", "text")
    assert(maintained.asRows(qs).collect().map(_.toSeq).toSet ==
      scratch.asRows(qs).collect().map(_.toSeq).toSet)
    // an all-keepers chain (nothing dominated) is NOT a useful merge:
    // tiered compaction declines rather than rewriting large deltas
    val before = graft.core.VersionedDir.latest(spark, dir)
    assert(StreamingOps.compactIndexState(spark, dir,
      tierFraction = Some(0.001)).isEmpty,
      "a chain of all-keeper deltas must decline to compact")
    assert(graft.core.VersionedDir.latest(spark, dir) == before)
  }

  test("bm25IndexSink: an empty micro-batch leaves the index version untouched") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("bm25_empty_")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.bm25IndexSink(dir)).start()
    src.addData((1L, "only doc")); q.processAllAvailable()
    val v1 = StreamingOps.loadBm25Index(spark, dir).get.docCount
    // a no-data trigger must not write a new (identical) version
    q.processAllAvailable(); q.stop()
    assert(v1 == 1L &&
      StreamingOps.loadBm25Index(spark, dir).get.docCount == 1L)
  }

  private def runCorpusIngest(dir: String,
      splits: Seq[Seq[(Long, String)]],
      initialIndex: Option[org.apache.spark.sql.DataFrame] = None,
      retainVersions: Option[Int] = None): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val q = src.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.corpusIngestSink(dir,
        initialIndex = initialIndex, retainVersions = retainVersions))
      .start()
    splits.foreach { s => src.addData(s: _*); q.processAllAvailable() }
    q.stop()
  }

  test("stream-static small sides are broadcast-pinned: the stream side never shuffles") {
    implicit val sqlCtx = spark.sqlContext
    // semanticDecontaminateStream: the eval probe set is small BY
    // CONTRACT — the executed micro-batch plan must broadcast it
    // (BroadcastNestedLoopJoin) with no Exchange on the stream side,
    // not rely on the planner's size estimate of a persisted frame
    val eval = Seq(Seq(1f, 0f), Seq(0f, 1f)).toDF("embedding")
    val src = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    val out = StreamingOps.semanticDecontaminateStream(
      src.toDF().toDF("vec_id", "ts", "embedding"), eval)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sdp_plan").start()
    src.addData((1L, ts(1), Seq(1f, 0f)), (2L, ts(2), Seq(0.6f, -0.8f)))
    q.processAllAvailable()
    val plan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    q.stop()
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"probe set must broadcast:\n$plan")
    // the only exchange in the batch plan may be the broadcast itself
    // and the dedup state-store hash partitioning — never a shuffle
    // FEEDING the join (the join's stream-side child must be exchange-free)
    val joinIdx = plan.indexOf("BroadcastNestedLoopJoin")
    assert(!plan.substring(joinIdx).contains("ShuffleExchange"),
      s"stream side of the probe join must not shuffle:\n$plan")
    assert(spark.table("sdp_plan").collect().map(_.getLong(0)).toSet == Set(1L),
      "hint must not change results (cos(v1,e1)=1 >= 0.9; v2 misses)")
  }

  test("evalRankingSink compaction bounds the monitoring log's listing forever") {
    val rel = (1L to 30L).map(i => (i, i * 10)).toDF("query_id", "item_id")
    val op = graft.ops.EvalRanking(rel, k = 3)
    val dir = tmpDir("eval_compact_")
    val sink = StreamingOps.evalRankingSink(dir, op,
      retainVersions = Some(1), autoCompactDeltas = Some(2))
    // 3x the threshold in batches: an append-forever log would list one
    // delta per batch; the auto-OPTIMIZE must keep what a reader lists
    // bounded by the threshold, not by the batch count
    val served = (0 until 6).map(b => (b + 1L, (b + 1) * 10L, 1))
    served.zipWithIndex.foreach { case (row, b) =>
      sink(Seq(row).toDF("query_id", "item_id", "rank"), b.toLong)
    }
    val lv = graft.core.VersionedDir.latest(spark, dir).get
    val referenced = graft.core.DeltaLog.readManifest(spark, dir, lv)
      .map(_.delta).toSet
    assert(referenced.size <= 3,
      s"live chain must stay bounded by the threshold: $referenced")
    val onDisk = new java.io.File(dir, "deltas").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(onDisk == referenced,
      s"orphaned eval deltas must reclaim: disk=$onDisk refs=$referenced")
    // a committed batch's retry is a no-op (the shared txn protocol)
    sink(Seq(served.head).toDF("query_id", "item_id", "rank"), 0L)
    // content equals the batch op over the concatenated stream
    val log = StreamingOps.loadIndexLog(spark, dir).get
    assert(log.count() == 6L)
    val batchRows = op.transform(
      served.toDF("query_id", "item_id", "rank")).collect().map(_.toSeq).toSet
    assert(log.drop("batch_id").collect().map(_.toSeq).toSet == batchRows,
      "compacted monitoring log must equal the batch op's rows")
  }

  test("evalRankingSink: an empty micro-batch appends no metric rows") {
    implicit val sqlCtx = spark.sqlContext
    val rel = Seq((1L, 10L)).toDF("query_id", "item_id")
    val dir = tmpDir("eval_empty_")
    val sink = StreamingOps.evalRankingSink(dir, graft.ops.EvalRanking(rel, k = 3))
    sink(spark.emptyDataFrame
      .sparkSession.createDataFrame(Seq.empty[(Long, Long, Int)])
      .toDF("query_id", "item_id", "rank"), 0L)
    // no parquet dir at all — the log stays append-only and gap-free
    assert(StreamingOps.loadIndexLog(spark, dir).isEmpty)
    sink(Seq((1L, 10L, 1)).toDF("query_id", "item_id", "rank"), 1L)
    assert(StreamingOps.loadIndexLog(spark, dir).get.count() == 1L)
  }

  test("corpusIngestSink: streamed corpus equals the sequential batch ingest loop") {
    val dir = tmpDir("corpus_ingest_")
    val prior = Seq("seed doc").toDF("text")
      .select(md5(graft.functions.TextFunctions.normalize($"text"))
        .as("content_hash"))
    val batches = Seq(
      // 2 is a normalized within-batch dup of 1; 3 is new
      Seq((1L, "alpha"), (2L, " Alpha "), (3L, "beta")),
      // 4 duplicates the seeded prior corpus; 5 is new
      Seq((4L, "seed doc"), (5L, "gamma")),
      // 6 duplicates batch 0's keeper; 7/8 are within-batch dups
      Seq((6L, "beta"), (7L, "delta"), (8L, "delta")))
    runCorpusIngest(dir, batches, initialIndex = Some(prior))
    // the reference: the batch ingest loop deployments run by hand
    var idx = prior
    val expected = scala.collection.mutable.Set.empty[(Long, String, Long)]
    batches.zipWithIndex.foreach { case (b, m) =>
      val df = b.toDF("doc_id", "text")
      val op = graft.ops.IncrementalDedup(idx)
      op.transform(df).filter($"dup_kind".isNull)
        .select("doc_id", "content_hash").collect()
        .foreach(r => expected += ((r.getLong(0), r.getString(1), m.toLong)))
      idx = op.updatedIndex(df)
    }
    val got = StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id", "content_hash", "ingest_batch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected.toSet, s"stream corpus != batch loop: $got")
    val gotIdx = StreamingOps.loadCorpusIndex(spark, dir).get
      .as[String].collect().toSet
    assert(gotIdx == idx.as[String].collect().toSet,
      "stream digest index != batch loop index")
  }

  test("corpusIngestSink: bloom gate engaged — labels identical, sidecars present") {
    // force the gate on (threshold 0): every batch pays the bloom probe
    // and clean batches label against an EMPTY index; cross-batch and
    // seeded-prior duplicates must STILL be caught (bloom positives fall
    // back to the exact join), and every digest delta must carry its
    // observed `_bloom` sidecar
    spark.conf.set("spark.graft.ingest.bloomGateBytes", "0")
    try {
      val dir = tmpDir("corpus_bloomgate_")
      val prior = Seq("seed doc").toDF("text")
        .select(md5(graft.functions.TextFunctions.normalize($"text"))
          .as("content_hash"))
      val batches = Seq(
        Seq((1L, "alpha"), (2L, " Alpha "), (3L, "beta")), // clean batch
        Seq((4L, "seed doc"), (5L, "gamma")),              // prior dup
        Seq((6L, "beta"), (7L, "delta"), (8L, "delta")))   // cross-batch dup
      runCorpusIngest(dir, batches, initialIndex = Some(prior))
      val got = StreamingOps.loadCorpus(spark, dir).get
        .select("doc_id", "ingest_batch")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 0L), (3L, 0L), (5L, 1L), (7L, 2L)),
        s"bloom-gated labels differ from the exact loop: $got")
      // sidecars are LAZY: the gate's first engagement backfills every
      // delta it probes, so all chain deltas except the newest (which no
      // later batch has probed yet) must carry `_bloom`
      val xdirs = new java.io.File(dir, "idxdeltas").listFiles()
        .filter(_.isDirectory).sortBy(_.getName)
      assert(xdirs.length >= 2, "fixture must commit multiple digest deltas")
      assert(xdirs.dropRight(1)
        .forall(d => new java.io.File(d, "_bloom").isFile),
        "every probed digest delta must carry its backfilled _bloom sidecar")
    } finally spark.conf.unset("spark.graft.ingest.bloomGateBytes")
  }

  test("corpusIngestSink: bloom gate — a clean batch never scans sidecar'd chain deltas") {
    // the gate's I/O contract: once a chain delta carries its `_bloom`
    // sidecar, a batch with no possible hit labels against an EMPTY
    // index — that delta's digest files must never appear in any plan
    // the clean batch's commit executes (the whole point of the gate:
    // O(bloom probe) instead of O(chain) reads per clean batch)
    spark.conf.set("spark.graft.ingest.bloomGateBytes", "0")
    try {
      implicit val sqlCtx = spark.sqlContext
      val dir = tmpDir("corpus_bloomio_")
      // three distinct-content batches: x1..x3 committed; each gated
      // probe backfills the PRIOR deltas' sidecars, so after this every
      // delta except the newest carries `_bloom`
      runCorpusIngest(dir, Seq(
        Seq((1L, "alpha")), Seq((2L, "beta")), Seq((3L, "gamma"))))
      val pre = new java.io.File(dir, "idxdeltas").listFiles()
        .filter(d => d.isDirectory && new java.io.File(d, "_bloom").isFile)
        .map(_.getName).toSet
      assert(pre.nonEmpty, "fixture must have sidecar'd deltas to protect")
      // record every file-scan root executed during the clean batch's
      // commit (AQE hides stages under AdaptiveSparkPlanExec/QueryStageExec
      // — recurse through both)
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val scanned = scala.collection.concurrent.TrieMap.empty[String, Unit]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          scans(qe.executedPlan).foreach(
            _.relation.location.rootPaths.foreach(p =>
              scanned.put(p.toString, ())))
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ex: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        // fresh appId: the txn log dedups (appId, batchId), and this
        // stream restarts batch ids at 0 over the existing state dir
        val src = MemoryStream[(Long, String)]
        val q = src.toDS().toDF("doc_id", "text").writeStream
          .foreachBatch(StreamingOps.corpusIngestSink(dir,
            appId = "bloomio-probe"))
          .start()
        src.addData((9L, "omega")) // content no prior batch carries
        q.processAllAvailable()
        q.stop()
        // the execution listener rides the async listener bus: drain it
        org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      // positive control: the commit DID execute observed file scans
      // (the written-delta read-back at minimum), so the collector works
      assert(scanned.keys.exists(_.contains("/deltas/")),
        s"collector saw no commit scans at all: ${scanned.keys.toSeq}")
      val chainScans = scanned.keys.filter(p =>
        pre.exists(n => p.contains(s"idxdeltas/$n")))
      assert(chainScans.isEmpty,
        s"clean gated batch re-read sidecar'd chain deltas: $chainScans")
    } finally spark.conf.unset("spark.graft.ingest.bloomGateBytes")
  }

  test("corpusIngestSink: accepted digest set is boundary-independent") {
    val rows = Seq((1L, "a a"), (2L, " A  A "), (3L, "b"), (4L, "c"),
      (5L, "b"), (6L, "d"))
    def digests(splits: Seq[Seq[(Long, String)]]): Set[String] = {
      val dir = tmpDir("corpus_bnd_")
      runCorpusIngest(dir, splits)
      StreamingOps.loadCorpusIndex(spark, dir).get.as[String].collect().toSet
    }
    val oneShot = digests(Seq(rows))
    val split = digests(Seq(rows.take(2), rows.slice(2, 4), rows.drop(4)))
    assert(oneShot == split && oneShot.size == 4,
      s"digest set must not depend on batch boundaries: $oneShot vs $split")
  }

  test("corpusIngestSink: digest set invariant across seeded random batchings") {
    // 40 docs over 12 distinct contents — heavy cross-batch duplication
    val rows = (1L to 40L).map(i => (i, s"content ${i % 12}"))
    def digests(splits: Seq[Seq[(Long, String)]]): Set[String] = {
      val dir = tmpDir("corpus_rand_")
      runCorpusIngest(dir, splits)
      StreamingOps.loadCorpusIndex(spark, dir).get.as[String].collect().toSet
    }
    val expected = digests(Seq(rows))
    assert(expected.size == 12)
    Seq(7, 21, 404).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // random cut points -> 4 contiguous batches (empty slices allowed)
      val cuts = Seq.fill(3)(rnd.nextInt(rows.size + 1)).sorted
      val splits = (0 +: cuts :+ rows.size).sliding(2)
        .map { case Seq(a, b) => rows.slice(a, b) }.toSeq
        .filter(_.nonEmpty)
      assert(digests(splits) == expected,
        s"seed $seed batching changed the accepted digest set")
    }
  }

  test("corpusIngestSink: a batch with no keepers publishes nothing") {
    val dir = tmpDir("corpus_nokeep_")
    runCorpusIngest(dir, Seq(Seq((1L, "x")), Seq((2L, "x"))))
    assert(graft.core.VersionedDir.versions(spark, dir) == Seq("v0"),
      "an all-duplicate batch must not publish a version")
    assert(StreamingOps.loadCorpus(spark, dir).get.count() == 1L)
  }

  test("corpusIngestSink: digest-index deltas are O(batch), never cumulative") {
    val dir = tmpDir("corpus_idxdelta_")
    runCorpusIngest(dir, Seq(
      Seq((1L, "a"), (2L, "b"), (3L, "c")),
      Seq((4L, "d"), (5L, "a")), // 5 is an index dup -> 1 new digest
      Seq((6L, "e"), (7L, "f"))))
    // THE write-amplification pin for the digest index: each x<n> holds
    // exactly batch n's NEWLY-accepted digests — a cumulative rewrite
    // (the pre-round-10 layout) would show 3,4,6 instead of 3,1,2
    val sizes = Seq("x0", "x1", "x2").map(x =>
      spark.read.parquet(s"$dir/idxdeltas/$x").count())
    assert(sizes == Seq(3L, 1L, 2L), s"per-batch digest deltas: $sizes")
    // and the union IS the live index the next ingest labels against
    assert(StreamingOps.loadCorpusIndex(spark, dir).get
      .distinct().count() == 6L)
  }

  test("corpusIngestSink: version retention reclaims manifests, deltas survive") {
    val dir = tmpDir("corpus_retain_")
    runCorpusIngest(dir,
      Seq(Seq((1L, "a"), (2L, "b")), Seq((3L, "c")), Seq((4L, "d"))),
      retainVersions = Some(1))
    assert(graft.core.VersionedDir.versions(spark, dir) == Seq("v2"))
    // vacuum removed superseded manifest+index copies only — the live
    // manifest still references every delta, so the corpus stays whole
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("corpusIngestSink: a reader pinned before later commits keeps its snapshot") {
    val dir = tmpDir("corpus_snap_")
    runCorpusIngest(dir, Seq(Seq((1L, "a"), (2L, "b"))))
    val pinned = StreamingOps.loadCorpus(spark, dir).get // resolves v0 NOW
    StreamingOps.corpusIngestSink(dir)(
      Seq((3L, "c")).toDF("doc_id", "text"), 1L)
    // the pinned frame still reads v0's manifest-resolved deltas even
    // though the pointer has moved — corpus-level snapshot isolation
    assert(pinned.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("zoneFromFooters == the aggregate zone map for integral ids; " +
      "string ids fall back") {
    // the commit protocol now reads zone bounds from the delta's parquet
    // footers (no Spark job per commit) — the footer path must replicate
    // the aggregate's long-cast min/max EXACTLY, nulls skipped, and must
    // DECLINE (None → caller falls back to the job) for string id
    // columns whose footer stats order lexicographically ("100" < "99")
    val dir = tmpDir("zone_footer_")
    val longs = Seq(Some(100L), Some(7L), None, Some(4213L))
      .toDF("doc_id").coalesce(2)
    longs.write.mode("overwrite").parquet(s"$dir/longs")
    assert(graft.core.DeltaLog.zoneFromFooters(spark, s"$dir/longs", "doc_id")
      .contains((Some(7L), Some(4213L))))
    val ints = Seq(3, 99, 12).toDF("doc_id")
    ints.write.mode("overwrite").parquet(s"$dir/ints")
    assert(graft.core.DeltaLog.zoneFromFooters(spark, s"$dir/ints", "doc_id")
      .contains((Some(3L), Some(99L))))
    val strs = Seq("100", "99").toDF("doc_id")
    strs.write.mode("overwrite").parquet(s"$dir/strs")
    assert(graft.core.DeltaLog.zoneFromFooters(spark, s"$dir/strs", "doc_id").isEmpty,
      "string footer stats are lexicographic and must decline")
    // all-null id column: stats carry no values → conservative (None, None)
    val nulls = Seq[Option[Long]](None, None).toDF("doc_id")
    nulls.write.mode("overwrite").parquet(s"$dir/nulls")
    assert(graft.core.DeltaLog.zoneFromFooters(spark, s"$dir/nulls", "doc_id")
      .contains((None, None)))
  }

  test("loadCorpusPruned skips non-overlapping deltas at the manifest level") {
    val dir = tmpDir("corpus_prune_")
    runCorpusIngest(dir, Seq(
      Seq((1L, "a"), (2L, "b")),
      Seq((100L, "c"), (101L, "d")),
      Seq((200L, "e"))))
    val pruned = StreamingOps.loadCorpusPruned(spark, dir, 90L, 150L).get
    // only delta d1 (ids 100-101) can overlap [90, 150]: the scan's
    // input files must all live under it — d0/d2 never open
    val files = pruned.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/deltas/d1/")),
      s"zone maps must prune d0/d2, scanned: ${files.mkString(", ")}")
    // pruning is an optimization only: result == full read + filter
    assert(pruned.select("doc_id").as[Long].collect().toSet == Set(100L, 101L))
    assert(StreamingOps.loadCorpus(spark, dir).get
      .filter($"doc_id".between(90L, 150L))
      .select("doc_id").as[Long].collect().toSet == Set(100L, 101L))
    // a range overlapping nothing still returns an empty, well-typed frame
    assert(StreamingOps.loadCorpusPruned(spark, dir, 500L, 600L).get.count() == 0L)
    // zone maps survive compaction (single delta spanning everything)
    StreamingOps.compactCorpusState(spark, dir)
    assert(StreamingOps.loadCorpusPruned(spark, dir, 90L, 150L).get
      .select("doc_id").as[Long].collect().toSet == Set(100L, 101L))
  }

  test("curatedCorpusSink: signals track the corpus batch over batch; retries publish nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("curated_corpus_")
    val sigDir = tmpDir("curated_signals_")
    val sig = graft.ops.QualitySignals(keyCols = Seq("doc_id", "content_hash"))
    val sink = StreamingOps.curatedCorpusSink(dir, sigDir, sig)
    val src = MemoryStream[(Long, String)]
    val q = src.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(sink).start()
    val splits = Seq(
      Seq((1L, "alpha beta gamma words"), (2L, "delta epsilon zeta text")),
      Seq((3L, "eta theta iota body"), (4L, "alpha beta gamma words")), // 4 dups 1
      Seq((5L, "kappa lambda mu tail")))
    splits.foreach { s => src.addData(s: _*); q.processAllAvailable() }
    q.stop()
    // the signal table always equals a flat recompute over the live corpus
    val corpus = StreamingOps.loadCorpus(spark, dir).get
    val flat = sig.transform(corpus).orderBy("doc_id").collect()
    val live = graft.core.VersionedDir.readLatest(spark, sigDir).get
      .orderBy("doc_id").collect()
    assert(live.map(_.getLong(0)).toSeq == flat.map(_.getLong(0)).toSeq &&
      live.map(_.getAs[Long]("quality_score")).toSeq ==
        flat.map(_.getAs[Long]("quality_score")).toSeq,
      "streamed signal state must equal the flat recompute")
    // lineage: the last batch's keeper is fresh, everything earlier carried
    assert(live.map(r => r.getLong(0) -> r.getAs[Boolean]("carried")).toMap ==
      Map(1L -> true, 2L -> true, 3L -> true, 5L -> false))
    // one signal version per corpus commit (batch 1's dup still keeps doc 3)
    val sigVersions = graft.core.VersionedDir.versions(spark, sigDir).size
    assert(sigVersions == 3, s"3 accepting batches -> 3 signal versions: $sigVersions")
    // a foreachBatch RETRY of a committed batch publishes on NEITHER log
    val corpusVersions = graft.core.VersionedDir.versions(spark, dir).size
    sink(Seq((5L, "kappa lambda mu tail")).toDF("doc_id", "text"), 2L)
    assert(graft.core.VersionedDir.versions(spark, dir).size == corpusVersions &&
      graft.core.VersionedDir.versions(spark, sigDir).size == sigVersions,
      "retry of a committed batchId must be a no-op end to end")
    // takedown composes: purge, re-publish, signals retire with their docs
    StreamingOps.purgeCorpusState(spark, dir,
      Seq(1L).toDF("doc_id"))
    StreamingOps.publishSignalsFor(spark, dir, sigDir, sig)
    val after = graft.core.VersionedDir.readLatest(spark, sigDir).get
    assert(after.select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 5L),
      "purged doc 1's signal row retires with its document")
  }

  test("publishSignalsFor: append commits serve prior signals verbatim; purge falls back and retires") {
    val dir = tmpDir("psf_corpus_")
    val sigDir = tmpDir("psf_signals_")
    val sig = graft.ops.QualitySignals(keyCols = Seq("doc_id", "content_hash"))
    val ingest = StreamingOps.corpusIngestSink(dir)
    ingest(Seq((1L, "first document body text"),
      (7L, "doomed document body text")).toDF("doc_id", "text"), 0L)
    StreamingOps.publishSignalsFor(spark, dir, sigDir, sig)
    // poison the published signal data in place: any later re-score of
    // these rows would erase the poison
    val sv = graft.core.VersionedDir.latest(spark, sigDir).get
    val poisoned = graft.core.VersionedDir.readAt(spark, sigDir, sv).get
      .withColumn("quality_score", col("quality_score") + 1000000L)
      .collect()
    val schema = graft.core.VersionedDir.readAt(spark, sigDir, sv).get.schema
    spark.createDataFrame(java.util.Arrays.asList(poisoned: _*), schema)
      .write.mode("overwrite").parquet(s"$sigDir/$sv/data")
    // APPEND: the fast path must carry the poisoned rows untouched and
    // score only the new delta
    ingest(Seq((2L, "second document body text")).toDF("doc_id", "text"), 1L)
    StreamingOps.publishSignalsFor(spark, dir, sigDir, sig)
    val t = graft.core.VersionedDir.readLatest(spark, sigDir).get
      .orderBy("doc_id").collect()
    assert(t.map(_.getLong(0)).toSeq == Seq(1L, 2L, 7L))
    assert(t.filter(r => Set(1L, 7L)(r.getLong(0)))
      .forall(_.getAs[Long]("quality_score") > 1000000L),
      "append fast path must serve prior rows verbatim (no re-score)")
    assert(t.find(_.getLong(0) == 2L).get.getAs[Long]("quality_score") < 1000000L)
    // PURGE rewrites deltas -> manifest inclusion fails -> content-keyed
    // fallback: retired row gone, surviving prior rows still verbatim
    StreamingOps.purgeCorpusState(spark, dir, Seq(7L).toDF("doc_id"))
    StreamingOps.publishSignalsFor(spark, dir, sigDir, sig)
    val after = graft.core.VersionedDir.readLatest(spark, sigDir).get
      .orderBy("doc_id").collect()
    assert(after.map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "purged doc 7's signal row must retire")
    assert(after.head.getAs[Long]("quality_score") > 1000000L,
      "the fallback reconcile also carries surviving rows verbatim")
  }

  test("a crash between txn write and pointer move does not lose the batch on retry") {
    val dir = tmpDir("corpus_crash_")
    val sink = StreamingOps.corpusIngestSink(dir)
    sink(Seq((1L, "first doc body")).toDF("doc_id", "text"), 0L)
    // simulate batch 1 crashing AFTER its txn marker landed but BEFORE
    // the pointer moved: the marker sits in an unreferenced version dir
    val ghost = graft.core.VersionedDir.nextVersion(spark, dir)
    Seq(("corpus-ingest", 1L)).toDF("appId", "batchId")
      .write.parquet(s"$dir/$ghost/txn")
    // the foreachBatch retry of batch 1 must RECOMMIT (honoring the
    // ghost marker would skip it and silently lose the batch forever)
    sink(Seq((2L, "second doc body")).toDF("doc_id", "text"), 1L)
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "the retried batch's rows must reach the live corpus")
    // and a retry of the now-committed batch 1 is a no-op
    val n = graft.core.VersionedDir.versions(spark, dir).size
    sink(Seq((2L, "second doc body")).toDF("doc_id", "text"), 1L)
    assert(graft.core.VersionedDir.versions(spark, dir).size == n)
  }

  test("corpusDeltasSince reads only the new delta files (append-only fast path)") {
    val dir = tmpDir("corpus_since_")
    runCorpusIngest(dir, Seq(
      Seq((1L, "a"), (2L, "b")),
      Seq((3L, "c")),
      Seq((4L, "d"), (5L, "e"))))
    val since = StreamingOps.corpusDeltasSince(spark, dir, "v0").get
    assert(since.select("doc_id").as[Long].collect().toSet == Set(3L, 4L, 5L))
    // the scan touches ONLY the post-v0 delta files — cost ∝ new data
    val files = since.inputFiles
    assert(files.nonEmpty && files.forall(f =>
      f.contains("/deltas/d1/") || f.contains("/deltas/d2/")),
      s"must not reopen v0's delta: ${files.mkString(", ")}")
    // nothing landed since the live version: empty, well-typed frame
    val lv = graft.core.VersionedDir.latest(spark, dir).get
    assert(StreamingOps.corpusDeltasSince(spark, dir, lv).get.count() == 0L)
    // a vacuumed/unknown version cannot anchor a diff
    assert(StreamingOps.corpusDeltasSince(spark, dir, "v9").isEmpty)
    // a purge REWRITES deltas: "new files" would mislabel the whole
    // rewritten corpus as added rows, so the diff refuses with None
    StreamingOps.purgeCorpusState(spark, dir, Seq(3L).toDF("doc_id"))
    assert(StreamingOps.corpusDeltasSince(spark, dir, "v0").isEmpty,
      "a non-append-only chain must not be answered")
  }

  test("curatedCorpusSink under retention keeps the fast path alive") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("curated_retain_")
    val sigDir = tmpDir("curated_retain_sig_")
    val sig = graft.ops.QualitySignals(keyCols = Seq("doc_id", "content_hash"))
    val sink = StreamingOps.curatedCorpusSink(dir, sigDir, sig,
      retainVersions = Some(1))
    sink(Seq((1L, "first document text body")).toDF("doc_id", "text"), 0L)
    // poison v0 signals: if retention broke the fast path, batch 1's
    // publish would fall back to a full reconcile — which ALSO carries
    // verbatim, so additionally pin that the corpus side retained the
    // previous version's manifest (the fast path's precondition)
    val sv = graft.core.VersionedDir.latest(spark, sigDir).get
    val rows = graft.core.VersionedDir.readAt(spark, sigDir, sv).get
      .withColumn("quality_score", col("quality_score") + 1000000L).collect()
    val sch = graft.core.VersionedDir.readAt(spark, sigDir, sv).get.schema
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
      .write.mode("overwrite").parquet(s"$sigDir/$sv/data")
    sink(Seq((2L, "second document text body")).toDF("doc_id", "text"), 1L)
    assert(graft.core.VersionedDir.versions(spark, dir).size >= 2,
      "corpus retention is clamped to 2 so the fast path's prior manifest survives")
    val t = graft.core.VersionedDir.readLatest(spark, sigDir).get
      .orderBy("doc_id").collect()
    assert(t.head.getAs[Long]("quality_score") > 1000000L,
      "prior signals served verbatim under retention")
  }

  test("loadCorpusAt time-travels the corpus log; SnapshotDiff audits two versions") {
    val dir = tmpDir("corpus_tt_")
    runCorpusIngest(dir, Seq(Seq((1L, "a"), (2L, "b")), Seq((3L, "c"))))
    val v0 = StreamingOps.loadCorpusAt(spark, dir, "v0").get
    val v1 = StreamingOps.loadCorpusAt(spark, dir, "v1").get
    assert(v0.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(StreamingOps.loadCorpusAt(spark, dir, "v9").isEmpty)
    // the between-versions audit over live sink state: batch 1's keeper
    // is exactly the 'added' row
    val diff = graft.ops.SnapshotDiff(v0.select("doc_id", "text"))
      .transform(v1.select("doc_id", "text"))
    assert(diff.filter($"status" === "added")
      .select("doc_id").as[Long].collect().toSeq == Seq(3L))
    assert(diff.filter($"status" === "unchanged").count() == 2L)
  }

  test("corpusIngestSink: txn marker makes committed-batch retries no-ops; a new appId commits") {
    val dir = tmpDir("corpus_txn_")
    val sink = StreamingOps.corpusIngestSink(dir)
    sink(Seq((1L, "a")).toDF("doc_id", "text"), 0L)
    // foreachBatch retry of the already-committed batch: must not
    // publish a second version (same appId, batchId not newer)
    sink(Seq((1L, "a")).toDF("doc_id", "text"), 0L)
    assert(graft.core.VersionedDir.versions(spark, dir) == Seq("v0"),
      "a committed-batch retry must be a no-op")
    // a fresh-checkpoint stream (new appId) restarts batchIds at 0 and
    // MUST commit — log-ordered naming keeps its version collision-free
    StreamingOps.corpusIngestSink(dir, appId = "corpus-ingest-2")(
      Seq((2L, "b")).toDF("doc_id", "text"), 0L)
    assert(graft.core.VersionedDir.versions(spark, dir) == Seq("v1", "v0"))
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("corpusIngestSink: a batch retry arriving after a purge commit is still a no-op") {
    val dir = tmpDir("corpus_txn2_")
    val sink = StreamingOps.corpusIngestSink(dir)
    sink(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), 0L)
    // intervening takedown commit — a DIFFERENT appId now owns the live
    // version's txn, so a live-version-only check would miss batch 0
    StreamingOps.purgeCorpusState(spark, dir, Seq(2L).toDF("doc_id"))
    sink(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), 0L) // crash-replay
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().toSeq.sorted == Seq(1L),
      "the replayed batch must not recommit (and must not resurrect the purged doc)")
    assert(graft.core.VersionedDir.versions(spark, dir) == Seq("v1", "v0"))
  }

  test("purgeCorpusState retires only sole-carrier digests; seeded prior digests survive") {
    val dir = tmpDir("corpus_purge2_")
    val prior = Seq("prior doc").toDF("text")
      .select(md5(graft.functions.TextFunctions.normalize($"text"))
        .as("content_hash"))
    runCorpusIngest(dir, Seq(Seq((1L, "a"), (2L, "b"))),
      initialIndex = Some(prior))
    StreamingOps.purgeCorpusState(spark, dir, Seq(2L).toDF("doc_id"))
    val idx = StreamingOps.loadCorpusIndex(spark, dir).get
      .as[String].collect().toSet
    val priorDigest = prior.as[String].head()
    // the seeded prior-corpus digest must SURVIVE the purge (retire,
    // don't rebuild): a later ingest of prior-corpus content stays a dup
    assert(idx.contains(priorDigest), "seeded digest lost by purge")
    StreamingOps.corpusIngestSink(dir)(
      Seq((9L, "prior doc")).toDF("doc_id", "text"), 1L)
    assert(!StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().contains(9L),
      "prior-corpus content must not be re-accepted after a purge")
  }

  test("corpus tiered auto-compaction: tiny late batches merge, the big base never rewrites") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("corpus_tiered_")
    val big = (1L to 300L).map(i => (i, s"base doc $i " + ("corpus words " * 10)))
    val tiny = (301L to 304L).map(i => (i, s"late $i"))
    val src = MemoryStream[(Long, String)]
    val q = src.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.corpusIngestSink(dir,
        retainVersions = Some(1), autoCompactDeltas = Some(2))).start()
    src.addData(big: _*); q.processAllAvailable()
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, dir)
    def times(sub: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(p, sub))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val baseTimes = times("deltas/d0")
    tiny.foreach { t => src.addData(t); q.processAllAvailable() }
    q.stop()
    val lv = graft.core.VersionedDir.latest(spark, dir).get
    val chain = graft.core.DeltaLog.readManifest(spark, dir, lv).map(_.delta)
    assert(chain.contains("d0") && chain.size <= 3,
      s"base kept, fan-in bounded: $chain")
    assert(times("deltas/d0") == baseTimes,
      "the base corpus delta's files must be byte-identical (no rewrite)")
    // BOTH chains tier: the digest index merges its tiny tail too and
    // stays complete — the next ingest labels against all 304 digests
    assert(StreamingOps.loadCorpusIndex(spark, dir).get.count() == 304L,
      "digest index must stay complete across tiered merges")
    // content-neutral end to end: the corpus equals all accepted docs
    assert(StreamingOps.loadCorpus(spark, dir).get.count() == 304L)
    // reclaim leaves only referenced deltas on disk (both chains)
    val onDisk = new java.io.File(dir, "deltas").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(onDisk == chain.toSet,
      s"orphaned corpus deltas must reclaim: $onDisk vs $chain")
  }

  test("compactCorpusState: optimize collapses the delta chain content-neutrally") {
    val dir = tmpDir("corpus_opt_")
    runCorpusIngest(dir,
      Seq(Seq((1L, "a"), (2L, "b")), Seq((3L, "c")), Seq((4L, "d"))))
    val before = StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id", "content_hash", "ingest_batch")
      .collect().map(_.toSeq).toSet
    val idxBefore = StreamingOps.loadCorpusIndex(spark, dir).get
      .as[String].collect().toSet
    val v = StreamingOps.compactCorpusState(spark, dir)
    assert(v.contains("v3"))
    // content-neutral: rows, lineage and digest index unchanged
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id", "content_hash", "ingest_batch")
      .collect().map(_.toSeq).toSet == before)
    assert(StreamingOps.loadCorpusIndex(spark, dir).get
      .as[String].collect().toSet == idxBefore)
    // the live manifest now lists ONE delta; vacuums reclaim the chain
    assert(graft.core.DeltaLog.readManifest(spark, dir, "v3").size == 1)
    StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    // BOTH physical chains reclaim: the corpus deltas and the digest-
    // index deltas the compaction collapsed
    assert(StreamingOps.vacuumCorpusDeltas(spark, dir).toSet ==
      Set("d0", "d1", "d2", "x0", "x1", "x2"))
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id", "content_hash", "ingest_batch")
      .collect().map(_.toSeq).toSet == before)
    // the resumed sink keeps committing into the same log
    StreamingOps.corpusIngestSink(dir)(
      Seq((5L, "e")).toDF("doc_id", "text"), 3L)
    assert(StreamingOps.loadCorpus(spark, dir).get.count() == 5L)
  }

  test("purgeCorpusState: takedown republishes, retires digests, and delta vacuum makes it physical") {
    val dir = tmpDir("corpus_purge_")
    runCorpusIngest(dir,
      Seq(Seq((1L, "keep me"), (2L, "purge me")), Seq((3L, "also kept"))))
    val purgedDigest = StreamingOps.loadCorpus(spark, dir).get
      .filter($"doc_id" === 2L).select("content_hash").as[String].head()
    val v = StreamingOps.purgeCorpusState(spark, dir,
      Seq(2L).toDF("doc_id"))
    assert(v.contains("v2"), s"purge commits the next log version, got $v")
    // logical removal: live corpus and digest index no longer carry doc 2
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(!StreamingOps.loadCorpusIndex(spark, dir).get
      .as[String].collect().contains(purgedDigest))
    // lineage survives the compaction
    assert(StreamingOps.loadCorpus(spark, dir).get
      .filter($"doc_id" === 3L).select("ingest_batch").as[Long].head() == 1L)
    // physical removal: vacuum superseded versions, then unreferenced deltas
    StreamingOps.vacuumIndexVersions(spark, dir, keep = 1)
    val deleted = StreamingOps.vacuumCorpusDeltas(spark, dir)
    assert(deleted.toSet == Set("d0", "d1", "x0", "x1"),
      s"pre-purge corpus AND digest deltas must be reclaimed, got $deleted")
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    // the resumed ingest sink is just another writer in the same log
    StreamingOps.corpusIngestSink(dir)(
      Seq((4L, "new doc")).toDF("doc_id", "text"), 2L)
    assert(StreamingOps.loadCorpus(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }
}
