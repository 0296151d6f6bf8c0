package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured-Streaming layer. The reference serves request/response only
  * (SURVEY.md §2.6: no streams); this is the Spark-native serving analog —
  * a request topic consumed as micro-batches (≈ Triton dynamic batching,
  * fil.py:128 max_batch_size) plus the event-analytics ops a production
  * recsys needs around it. All transforms below accept either a static or
  * a streaming DataFrame: the plan is identical, only the source differs.
  */
object StreamingOps {

  // ——— fixed side-table schemas ————————————————————————————————————————
  // Schemas of the commit protocol's own side tables, exactly as the
  // writers in this file produce them. Supplying them at read time skips
  // parquet schema INFERENCE, which in Spark 4 schedules a ~30 ms
  // footer-reading job per `spark.read.parquet` call — the commit paths
  // made 2-4 such calls per streaming commit, on rows whose wall time IS
  // jobs × the per-job scheduling floor (JobTraceProbe r15; guide §1.2).
  // Data tables with caller-defined schemas (corpus deltas, ANN index
  // deltas) keep inference — only protocol-owned layouts are pinned.
  import org.apache.spark.sql.types.{StructType, StructField, StringType, LongType, IntegerType}
  private val bcountsSchema = StructType(Seq(
    StructField("__b", LongType), StructField("__c", LongType)))
  private val dfreqSchema = StructType(Seq(
    StructField("__term", StringType), StructField("__df", LongType)))
  private val postingsSchema = StructType(Seq(
    StructField("__doc_id", LongType), StructField("__dl", IntegerType),
    StructField("__term", StringType), StructField("__tf", LongType)))
  private val digestIndexSchema = StructType(Seq(
    StructField("content_hash", StringType)))

  // ——— digest-index bloom sidecars (round-14 VERDICT item 3) ———————————
  // Each digest-index delta (`idxdeltas/x<n>`) can carry a `_bloom` side
  // file: a bloom filter over xxhash64(content_hash) of that delta's
  // digests. At labeling time, once the chain's digest bytes exceed
  // `spark.graft.ingest.bloomGateBytes`, the sink probes the batch's
  // digests against the chain's blooms FIRST — one batch-only job — and
  // a batch with no possible hit is labeled against an EMPTY index: the
  // O(chain) digest files are never opened (guide §3.2/§6). False
  // positives only fall back to the exact join; false negatives are
  // impossible, so labels are identical by construction.
  //
  // Sidecars are built LAZILY, on the gate's first engagement, one
  // bounded catch-up aggregate per sidecar-less delta (the same
  // discipline as chainBucketCounts' missing-bcounts fallback): building
  // them eagerly at commit was measured at +0.5-1.3 s per lifecycle row
  // — the observe's bloom buffer is numBits-sized PER TASK, so the
  // "free" observed aggregate shipped ~1 MB per partition of every
  // digest write for a gate that small chains never engage.
  // The '_' prefix keeps parquet readers away from the side file.
  private val BloomSidecarFile = "_bloom"
  private val BloomFpp = 0.01

  private def bloomGateBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.ingest.bloomGateBytes",
      (256L << 20).toString).toLong

  /** BloomFilterAggregate over xxhash64(`hashCol`) as a Column — the one
    * put/probe convention every sidecar shares (put and probe must hash
    * identically or the filter silently rejects everything). `items`
    * only sizes the filter: an undercount raises the false-positive rate
    * (more fallback joins), never correctness. */
  private def bloomAgg(hashCol: org.apache.spark.sql.Column,
      items: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(items, BloomFpp)
    column(org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(
        expression(xxhash64(hashCol)),
        org.apache.spark.sql.catalyst.expressions.Literal(items),
        org.apache.spark.sql.catalyst.expressions.Literal(bits), 0, 0)
      .toAggregateExpression())
  }

  private def writeBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      deltaDir: String, bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$deltaDir/$BloomSidecarFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def readBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      deltaDir: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = new org.apache.hadoop.fs.Path(s"$deltaDir/$BloomSidecarFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  /** The chain's bloom sidecars, iff the gate should engage (the chain's
    * digest bytes exceed the gate threshold). A delta missing its
    * sidecar gets one built here — a bounded one-time catch-up aggregate,
    * after which the file serves every later batch. Below the threshold
    * the per-batch probe job costs more than the chain read it avoids,
    * so small chains skip the whole machinery. */
  private def chainBloomsIfLarge(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, version: String)
      : Option[Seq[org.apache.spark.util.sketch.BloomFilter]] = {
    val names = readIndexManifest(spark, s"$stateDir/$version/index_manifest")
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, stateDir)
    val bytes = names.map(n => fs.getContentSummary(
      new org.apache.hadoop.fs.Path(p, s"idxdeltas/$n")).getLength).sum
    if (bytes < bloomGateBytes(spark)) None
    else {
      val all = names.map { n =>
        val d = s"$stateDir/idxdeltas/$n"
        readBloomSidecar(spark, d).orElse {
          rebuildBloomSidecar(spark, d)
          readBloomSidecar(spark, d)
        }
      }
      if (all.forall(_.isDefined)) Some(all.flatten) else None
    }
  }

  /** Exact row count from a parquet dir's footers (driver-side, no job)
    * — sizes the rebuild-time blooms of purge/compact, whose delta row
    * counts are not known before their write. */
  private def parquetFooterRowCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var n = 0L
      fs.listStatus(p).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet")).foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f.getPath, spark.sparkContext.hadoopConfiguration))
        try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.foreach(b => n += b.getRowCount)
        } finally reader.close()
      }
      Some(n)
    } catch { case _: Throwable => None }

  /** Rebuild a digest delta's bloom sidecar from its parquet (one small
    * aggregate job) — the purge/compact path, where the delta's size is
    * only known after the rewrite. */
  private def rebuildBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      xdeltaDir: String): Unit =
    parquetFooterRowCount(spark, xdeltaDir).filter(_ > 0).foreach { n =>
      val row = spark.read.schema(digestIndexSchema).parquet(xdeltaDir)
        .filter(col("content_hash").isNotNull)
        .agg(bloomAgg(col("content_hash"), n)).collect()(0)
      if (!row.isNullAt(0))
        writeBloomSidecar(spark, xdeltaDir, row.getAs[Array[Byte]](0))
    }

  /** Watermarked sliding-window event aggregation: counts and value sums
    * per (window, event_type); late data beyond the watermark is dropped. */
  def windowedEventCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      slide: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("value_cents"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionAgg(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, total_value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  /** Per-user state: ALL open session intervals, not just the newest.
    * One carried interval cannot express an in-watermark late event that
    * lands more than `gap` BEFORE the open session — a sorted replay
    * yields two sessions there, so single-interval state made output
    * depend on batch boundaries whenever gap < allowed lateness. */
  case class SessionsState(open: Seq[SessionState])

  /** Insert one event into the open-interval set: it extends every
    * interval within `gapMs` of its bounds (possibly BRIDGING two — a
    * late arrival can fuse the sessions on either side of it) or opens
    * its own. Insert-merge is ORDER-INDEPENDENT: the final interval set
    * is the gap-split of the sorted event multiset, whatever order the
    * stream delivered it in — which is exactly the replay-determinism
    * contract. */
  private def insertEvent(open: List[SessionState], t: Long, v: Double,
      gapMs: Long): List[SessionState] = {
    val (touch, rest) = open.partition(s =>
      t >= s.start - gapMs && t <= s.last + gapMs)
    touch.foldLeft(SessionState(t, t, 1, v)) { (a, s) =>
      SessionState(math.min(a.start, s.start), math.max(a.last, s.last),
        a.n + s.n, a.total + s.total)
    } :: rest
  }

  /** The shared per-group session fold: merge the batch's events into
    * the carried open-interval set. Returns the intervals sorted by
    * start; the caller decides which are closable (watermark-expired
    * for the event-time twin, all-but-newest for processing time). */
  private def foldSessions(rows: Iterator[Event],
      prior: Seq[SessionState], gapMs: Long): List[SessionState] = {
    var open = prior.toList
    rows.foreach(e => open = insertEvent(open, e.ts.getTime, e.value, gapMs))
    open.sortBy(_.start)
  }

  /** Gap-based sessionization with explicit state (the reference's
    * per-session candidate tracking, done properly with
    * flatMapGroupsWithState + processing-time timeout): a session closes
    * when `gapMs` of WALL CLOCK passes without events for that user —
    * low-latency serving behavior, but replay-dependent (see
    * [[sessionizeByEventTime]] for the deterministic twin). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionsState, SessionAgg](OutputMode.Append, timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionsState]) =>
          if (state.hasTimedOut) {
            val done = state.get.open.sortBy(_.start)
            state.remove()
            done.iterator.map(s => SessionAgg(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total))
          } else {
            val open = foldSessions(rows,
              state.getOption.map(_.open).getOrElse(Nil), gapMs)
            // processing-time semantics: everything but the newest
            // interval is already separated by more than the gap in
            // event time — close it now; the newest waits on the clock
            val (closed, cur) = (open.dropRight(1), open.lastOption)
            cur match {
              case Some(s) =>
                state.update(SessionsState(Seq(s)))
                if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
                  state.setTimeoutDuration(gapMs)
              case None => if (state.exists) state.remove()
            }
            closed.iterator.map(s => SessionAgg(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total))
          }
      }
  }

  /** Event-time sessionization — the REPLAY-DETERMINISTIC twin of
    * [[sessionize]]: the session-closing clock is the stream's own
    * watermark, not the machine's. State times out when the event-time
    * watermark passes `last + gapMs`, so replaying the same events — at
    * any speed, with any micro-batch boundaries — closes exactly the same
    * sessions with the same bounds (StreamingOpsSpec pins replay
    * equivalence across different batchings). Late events inside the
    * watermark extend their session as usual; state is evicted the moment
    * the watermark clears the gap, so memory stays O(active users). */
  def sessionizeByEventTime(events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "10 minutes"): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionsState, SessionAgg](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionsState]) =>
          // shared close rule, timeout and data triggers alike: an
          // interval is DONE once the watermark passes last + gap — no
          // admissible event can extend or bridge it anymore; everything
          // else stays open (state holds ALL open intervals, so a late
          // event landing more than a gap before the newest session
          // still finds — or founds — its own interval)
          val open = foldSessions(rows,
            state.getOption.map(_.open).getOrElse(Nil), gapMs)
          val wm = state.getCurrentWatermarkMs()
          val (done, alive) = open.partition(_.last + gapMs <= wm)
          if (alive.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(SessionsState(alive))
            // the earliest open interval drives the next timeout; it
            // must sit beyond the current watermark — heavily-late
            // intervals time out on the very next trigger
            state.setTimeoutTimestamp(
              math.max(alive.map(_.last + gapMs).min, wm + 1))
          }
          done.sortBy(_.start).iterator.map(s => SessionAgg(userId,
            new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
      }
  }

  /** Streaming batch scorer: the §3.3 serving loop as a micro-batch flow —
    * requests arrive on a stream, the fitted ensemble scores each batch.
    * `scorer` is any DataFrame→DataFrame ensemble (static plan). */
  def scoreStream(requests: DataFrame)(scorer: DataFrame => DataFrame): DataFrame =
    scorer(requests)

  /** Watermarked stream-stream attribution join — the streaming twin of
    * [[graft.ops.IntervalJoin]]: each click opens a `[ts, ts+windowSec)`
    * attribution window; purchases by the same user inside the window
    * attribute to that click. Both inputs carry event-time watermarks and
    * the join condition time-bounds the purchase against the click, so
    * Spark evicts click state once the purchase watermark passes
    * `click_ts + windowSec` — finite state on unbounded streams (the
    * batch op instead bounds work via bucket-expansion equi-join; same
    * semantics, each engine's native shape). */
  def attributeStream(
      clicks: DataFrame,
      purchases: DataFrame,
      windowSec: Int = 300,
      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
    p.join(c, col("user_id") === col("click_user") &&
        col("ts") >= col("click_ts") &&
        col("ts") < col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .drop("click_user")
  }

  case class SeqExample(user_id: Long, label_event_id: Long,
      context: Seq[String], context_str: String, label: String)
  case class SeqState(lastFeats: Seq[String])

  /** Streaming twin of [[graft.ops.TrainingSequences]]: as events arrive
    * per user, emit a (context, label) training example for every event
    * with `contextLen` predecessors — online training-set construction
    * (the continuous version of the batch lag-window op; same output
    * shape). State per user is exactly the last `contextLen` feature
    * values — O(users × contextLen), independent of stream length.
    * Within a micro-batch events are ordered by (ts, event_id),
    * matching the batch op's total order; cross-batch ordering follows
    * arrival, as in any online builder. */
  def sequenceStream(events: Dataset[Event], contextLen: Int = 3)
      : Dataset[SeqExample] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqState, SeqExample](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SeqState]) =>
          // Timestamp.compareTo includes sub-millisecond precision —
          // getTime truncates to millis and would diverge from the batch
          // op's (ts, event_id) total order on same-millisecond events
          val sorted = rows.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && a.event_id < b.event_id)
          }
          var feats = state.getOption.map(_.lastFeats).getOrElse(Seq.empty)
          val out = Seq.newBuilder[SeqExample]
          sorted.foreach { e =>
            if (feats.length == contextLen)
              out += SeqExample(userId, e.event_id, feats,
                feats.mkString("|"), e.event_type)
            feats = (feats :+ e.event_type).takeRight(contextLen)
          }
          state.update(SeqState(feats))
          out.result().iterator
      }
  }

  /** Streaming feature-drift monitor — the online twin of
    * [[graft.ops.DriftReport]]: per event-time window, compare the
    * window's bucket distribution for one monitored feature against the
    * FITTED baseline counts (metadata scale — fit once offline with
    * `DriftReport.fitCounts`) and emit the integer-bp L1 drift + verdict
    * when the watermark closes the window.
    *
    * Shape discipline: Spark streaming allows ONE stateful aggregation,
    * so the histogram is built as conditional counts inside a single
    * windowed agg (buckets are FIXED: splits+2 columns — the same reason
    * the batch op's shuffles are bucket-count-sized), and the drift
    * arithmetic is row-local over literal baseline counts — the batch
    * op's exact integer formula (share = n·10000 DIV total, L1 of
    * shares), pinned stream ≡ batch by spec. */
  def driftStream(
      events: DataFrame,
      feature: String,
      splits: Seq[Double],
      baselineCounts: Map[Int, Long],
      windowLen: String = "1 hour",
      watermark: String = "2 hours",
      thresholdBp: Long = 1000L,
      tsCol: String = "ts"): DataFrame = {
    import graft.ops.DriftReport
    val buckets = (-1 to splits.size).toSeq
    // the null bucket is −1: spell it "__bn" (a raw "__b-1" would parse
    // as subtraction inside expr)
    def bn(k: Int) = if (k < 0) "__bn" else s"__b$k"
    val tb = baselineCounts.values.sum
    val b = DriftReport.bucketOf(col(feature), splits)
    val counted = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_cur"),
        buckets.map(k =>
          sum(when(b === k, 1L).otherwise(0L)).as(bn(k))): _*)
    val l1 = buckets.map { k =>
      val nb = baselineCounts.getOrElse(k, 0L)
      val shareB = if (tb > 0) nb * 10000 / tb else 0L
      val shareC = when(col("n_cur") > 0,
        expr(s"${bn(k)} * 10000 DIV n_cur")).otherwise(lit(0L))
      abs(lit(shareB) - shareC)
    }.reduce(_ + _)
    counted.select(
      col("window.start").as("w_start"), col("window.end").as("w_end"),
      lit(feature).as("feature"), lit(tb).as("n_base"), col("n_cur"),
      l1.as("l1_bp"), (l1 >= thresholdBp).as("drifted"))
  }

  case class LocfEvent(user_id: Long, ts: Timestamp, event_id: Long,
      value: Double)
  case class LocfTick(user_id: Long, day: java.sql.Date, value_cents: Long,
      is_observed: Int)
  /** `nextDay` = next epoch-day to emit (−1 before the first
    * observation); `carry` = last emitted day's cents; `lastObsDay` = the
    * latest day with an actual observation (the fill-horizon anchor);
    * `pending` = buffered per-day winning observations for days the
    * watermark has not closed: day → (tsMillis, eventId, cents) under
    * the (ts, tie) max order. */
  case class LocfState(nextDay: Long, carry: Option[Long],
      lastObsDay: Long, pending: Map[Long, (Long, Long, Long)])

  private val DayMs = 86400000L

  /** Streaming LOCF materialization — the online twin of
    * [[graft.ops.ResampleLocf]]: as events arrive, emit one filled tick
    * per (user, completed day), where "completed" is decided by the
    * EVENT-TIME watermark (replay-deterministic: same events, any speed,
    * any batch boundaries, same ticks — the sessionizeByEventTime
    * discipline). Late events inside the watermark still win their day
    * under the batch op's exact (ts, tie) total order because a day's
    * winning observation is only frozen when the watermark closes the
    * day. State per user = the carry value plus the buffered days inside
    * the watermark horizon — O(users × watermark-days), independent of
    * stream length.
    *
    * Contract difference from batch, by design: the batch grid ends at
    * the corpus max day (a bounded input has a last day); the stream has
    * no corpus end, so ticks keep flowing as the watermark advances —
    * which is the point of online feature materialization. The spec pins
    * stream ≡ batch on the shared day range. */
  def resampleStream(events: Dataset[LocfEvent],
      watermark: String = "1 day",
      maxFillDays: Int = 365): Dataset[LocfTick] = {
    require(maxFillDays >= 1, "resampleStream: maxFillDays must be >= 1")
    import events.sparkSession.implicits._
    def cents(v: Double): Long =
      // BigDecimal.valueOf (the shortest-string route) is what Spark's
      // Round expression uses — construct identically so stream cents
      // can never diverge from the batch op's round(value*100)
      BigDecimal(java.math.BigDecimal.valueOf(v * 100))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def emitUpTo(uid: Long, st: LocfState, completeUpTo: Long)
        : (List[LocfTick], LocfState) = {
      var s = st
      val out = List.newBuilder[LocfTick]
      // filler ticks stop maxFillDays past the last real observation —
      // the state-retirement horizon for users who go silent (without
      // it a dead user's timeout would keep emitting carries forever).
      // lastObsDay advances ONLY here, when an observed day is emitted:
      // folding a far-future event must not extend a dying regime's fill
      // horizon, or output would depend on whether the watermark crossed
      // the retirement point before the event arrived (the resurrection
      // edge) — instead the cursor jumps past the gap below, exactly the
      // removed-state restart.
      var loop = s.nextDay >= 0
      while (loop && s.nextDay <= completeUpTo &&
          (s.pending.nonEmpty || s.carry.nonEmpty)) {
        val d = s.nextDay
        s.pending.get(d) match {
          case Some((_, _, c)) =>
            out += LocfTick(uid,
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)), c, 1)
            s = s.copy(nextDay = d + 1, carry = Some(c),
              pending = s.pending - d, lastObsDay = d)
          case None if s.carry.isDefined && d <= s.lastObsDay + maxFillDays =>
            out += LocfTick(uid,
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)),
              s.carry.get, 0)
            s = s.copy(nextDay = d + 1)
          case None =>
            // fill horizon exhausted at d (or no carry yet): the old
            // regime is over. A buffered future observation starts a
            // FRESH regime at its own day — carry cleared, no backfill
            // across the gap — identical to the path where retirement
            // removed the state and the event re-created it.
            if (s.pending.nonEmpty)
              s = s.copy(nextDay = s.pending.keys.min, carry = None)
            else loop = false
        }
      }
      (out.result(), s)
    }
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LocfState, LocfTick](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[LocfEvent], state: GroupState[LocfState]) =>
          val wm = state.getCurrentWatermarkMs()
          val completeUpTo = Math.floorDiv(wm, DayMs) - 1
          var s = state.getOption.getOrElse(
            LocfState(-1L, None, -1L, Map.empty))
          // fold the batch's events into the per-day winners. Before the
          // first emission (carry empty) nextDay tracks the MINIMUM
          // pending day — batch iterators are unordered; once emission
          // has begun, nextDay is the cursor and an earlier-day event is
          // genuinely sub-watermark-late: drop (the watermark contract)
          rows.foreach { e =>
            val d = Math.floorDiv(e.ts.getTime, DayMs)
            if (s.carry.isEmpty || d >= s.nextDay) {
              val cand = (e.ts.getTime, e.event_id, cents(e.value))
              val win = s.pending.get(d) match {
                case Some(cur) if (cur._1 > cand._1) ||
                  (cur._1 == cand._1 && cur._2 > cand._2) => cur
                case _ => cand
              }
              val nd = if (s.nextDay < 0) d
                else if (s.carry.isEmpty) math.min(s.nextDay, d)
                else s.nextDay
              // lastObsDay is NOT advanced here — only emission of the
              // observed tick moves it (see emitUpTo), so a post-horizon
              // event cannot resurrect a dying regime's fill
              s = s.copy(pending = s.pending.updated(d, win), nextDay = nd)
            }
          }
          val (ticks, s2) = emitUpTo(uid, s, completeUpTo)
          // retirement: nothing buffered and the fill horizon exhausted —
          // remove the state so a silent user costs nothing forever after
          if (s2.pending.isEmpty &&
              s2.nextDay > s2.lastObsDay + maxFillDays) {
            state.remove()
          } else {
            state.update(s2)
            // wake when the watermark can close the next day
            if (s2.pending.nonEmpty || s2.carry.nonEmpty)
              state.setTimeoutTimestamp(
                math.max((s2.nextDay + 1) * DayMs, wm + 1))
          }
          ticks.iterator
      }
  }

  /** Streaming decontamination — the ingest-time twin of
    * [[graft.ops.Decontaminate]]: as documents arrive, emit the id of
    * every doc sharing an n-gram with the STATIC eval-set inventory (a
    * contamination alert stream / quarantine feed). Stream side explodes
    * to gram digests (row-local); the semi-join against the static
    * inventory is stateless; the only state is the watermark-bounded
    * doc-id dedup that collapses multiple matching grams to one alert.
    * Same 128-bit digest discipline as the batch op. The persisted
    * inventory lives until released (`spark.catalog.clearCache()`) —
    * same lifecycle note as [[scrubStream]]. */
  def decontaminateStream(
      docs: DataFrame,
      eval: DataFrame,
      tsCol: String = "ts",
      idCol: String = "doc_id",
      textCol: String = "text",
      evalTextCol: String = "text",
      n: Int = 13,
      watermark: String = "1 hour"): DataFrame = {
    import graft.ops.Decontaminate.gramDigests
    // persist: Spark re-evaluates the static side of a stream-static join
    // every micro-batch — without this the explode+distinct over the
    // whole eval corpus would re-run per batch for the query's lifetime
    val inventory = eval
      .select(explode(gramDigests(col(evalTextCol), n)).as("__gram")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), explode(gramDigests(col(textCol), n)).as("__gram"))
      // eval-benchmark grams are small-side by contract — pin the
      // broadcast so the planner never shuffles the unbounded stream side
      .join(broadcast(inventory), Seq("__gram"), "left_semi")
      .dropDuplicatesWithinWatermark(idCol)
      .select(idCol, tsCol)
  }

  /** Streaming semantic decontamination — the ingest-time twin of
    * [[graft.ops.SemanticDecontaminate]]: as embedded items arrive, emit
    * the id of every item whose cosine to ANY static eval embedding
    * reaches the threshold (a quarantine feed for paraphrased benchmark
    * leakage). The eval side is MB-scale and static — persisted once so
    * the norm prep doesn't re-run per micro-batch; the scan itself is
    * stateless (broadcast non-equi join per batch, the batch op's exact
    * cosine expression so verdicts are bit-identical); the only state is
    * the watermark-bounded id dedup collapsing multiple matching eval
    * vectors into one alert. Zero-norm vectors score cosine 0 and never
    * alert at a positive threshold, exactly as in batch. */
  def semanticDecontaminateStream(
      items: DataFrame,
      eval: DataFrame,
      tsCol: String = "ts",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      evalVecCol: String = "embedding",
      threshold: Double = 0.9,
      watermark: String = "1 hour"): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    val evalP = eval.select(col(evalVecCol).as("__ev"),
        sqrt(V.dot(col(evalVecCol), col(evalVecCol))).as("__en"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    items
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), col(vecCol).as("__v"),
        sqrt(V.dot(col(vecCol), col(vecCol))).as("__n"))
      // the probe set is small-side BY CONTRACT (an eval benchmark, not
      // a corpus) — pin BroadcastNestedLoopJoin so the planner can never
      // decide to shuffle the unbounded STREAM side instead [spec-pinned]
      .crossJoin(broadcast(evalP))
      .filter(graft.ops.SemanticDecontaminate.cosine(
        col("__v"), col("__n"), col("__ev"), col("__en")) >= threshold)
      .dropDuplicatesWithinWatermark(idCol)
      .select(idCol, tsCol)
  }

  /** Streaming corpus-familiarity scoring — the ingest-time twin of
    * [[graft.ops.NgramLmScore]] against a STATIC fitted frequency table
    * (fit on a reference corpus once, score documents as they arrive —
    * the CCNet quality gate as an ingest filter). Stream side explodes
    * to gram digests row-locally (explode_outer, so gram-less short docs
    * still score 0 exactly like the batch op); the frequency join is
    * stream-static and stateless; the only state is the per-document
    * aggregation, keyed by (event-time, id) and evicted by the
    * watermark. Same 128-bit digest discipline and the same BIGINT-only
    * scoring arithmetic as the batch op, so stream output rows equal
    * batch op rows on the same data (pinned by spec). */
  def lmScoreStream(
      docs: DataFrame,
      reference: DataFrame,
      tsCol: String = "ts",
      idCol: String = "doc_id",
      textCol: String = "text",
      refTextCol: String = "text",
      n: Int = 2,
      oovMaxCount: Long = 1L,
      watermark: String = "1 hour"): DataFrame = {
    import graft.ops.Decontaminate.gramDigests
    // persist: the static side would otherwise refit per micro-batch
    val freq = reference
      .select(explode(gramDigests(col(refTextCol), n)).as("__gram"))
      .groupBy("__gram").agg(count(lit(1)).as("__freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode_outer(gramDigests(col(textCol), n)).as("__gram"))
      .join(freq, Seq("__gram"), "left")
      .groupBy(col(tsCol), col(idCol))
      .agg(
        sum(when(col("__gram").isNotNull, 1L).otherwise(0L)).as("__n"),
        sum(when(col("__gram").isNotNull &&
          coalesce(col("__freq"), lit(0L)) <= oovMaxCount, 1L)
          .otherwise(0L)).as("__oov"),
        sum(when(col("__gram").isNotNull, coalesce(col("__freq"), lit(0L)))
          .otherwise(0L)).as("__sum"))
      .select(col(idCol), col(tsCol),
        col("__n").cast("int").as("n_grams"),
        col("__oov").as("oov_grams"),
        col("__sum").as("sum_freq"),
        when(col("__n") > 0, graft.ops.NgramLmScore.microMean("__sum", "__n"))
          .otherwise(0L).as("mean_freq_micro"))
  }

  /** Streaming model-based quality gate — the ingest-time twin of
    * [[graft.ops.TextQualityClassifier]]: score each arriving document
    * with the fitted linear model (trained offline on curated-vs-crawl
    * supervision) and emit the margin + keep verdict. Completely
    * STATELESS — the hashed featurization and the coefficient dot are
    * row-local expressions, so there is no watermark, no state store,
    * and per-batch cost is exactly the batch op's per-row cost. The
    * margin column is THE SAME expression the batch op builds
    * ([[graft.ops.TextQualityClassifier.marginExpr]]), so stream verdicts
    * equal batch verdicts on the same rows (pinned by spec). */
  def qualityFilterStream(
      docs: DataFrame,
      op: graft.ops.TextQualityClassifier): DataFrame = {
    val margin = graft.ops.TextQualityClassifier.marginExpr(
      col(op.textCol), op.coefficients, op.intercept, op.numBuckets, op.salt)
    docs.withColumn("margin", margin)
      .withColumn("keep_quality", col("margin") > 0.0)
  }

  /** Streaming repeated-span scrub — the ingest-time twin of
    * [[graft.ops.ScrubSharedGrams]] against a STATIC shared-gram
    * inventory (mined by the batch op over the historical corpus;
    * cross-document sharedness is a corpus property, so the stream
    * consults it rather than recomputing it). One pass, no join-back:
    * the stream explodes to positioned gram digests (`posexplode_outer`
    * so sub-n and NULL-text docs survive with no grams), left-joins the
    * static inventory (stateless stream-static join), and re-assembles
    * per (id, ts, text) under the watermark — the document text rides
    * the group key, so reconstruction is the batch op's row-local HOF
    * filter on the aggregate output. State = in-watermark documents.
    * Emits (id, ts, n_tokens, n_removed, cleaned) on window close.
    *
    * Contract notes. (1) Exact duplicate (id, ts, text) records in one
    * stream collapse to ONE output row — idempotence under producer
    * retries, where the batch op emits per input row. (2) The exploded
    * gram rows carry the text only through PIPELINED operators: grams of
    * a doc stay in their input partition, the inventory join is
    * broadcast, and the map-side partial aggregate collapses back to one
    * row per document before anything shuffles — so the network carries
    * each text once, and the per-gram text copies are transient CPU cost
    * (the price of staying UDF-free). (3) The persisted inventory lives
    * for the application's lifetime; after stopping a long-lived scrub
    * query, release it (`spark.catalog.clearCache()`) before starting a
    * replacement with a refreshed corpus. */
  def scrubStream(
      docs: DataFrame,
      corpus: DataFrame,
      tsCol: String = "ts",
      idCol: String = "doc_id",
      textCol: String = "text",
      corpusIdCol: String = "doc_id",
      corpusTextCol: String = "text",
      n: Int = 8,
      minDocs: Int = 2,
      watermark: String = "1 hour",
      outputCol: String = "cleaned_text"): DataFrame = {
    import graft.ops.Decontaminate.gramDigests
    import graft.functions.{TextFunctions => T}
    // same parameter contract as the batch op — fail here, not as a
    // silently-degenerate query
    require(n >= 1, s"scrubStream: n must be >= 1")
    require(minDocs >= 2,
      "scrubStream: minDocs must be >= 2 (a gram always occurs in its own doc)")
    // shared-gram inventory from the static corpus — the same digest
    // definition and sharedness rule (distinct DOC count) as the batch
    // op; persisted because Spark re-evaluates the static side per
    // micro-batch
    val inventory = corpus
      .select(col(corpusIdCol).as("__cid"),
        explode(gramDigests(col(corpusTextCol), n)).as("gd"))
      .groupBy(col("gd.h1").as("g1"), col("gd.h2").as("g2"))
      .agg(countDistinct(col("__cid")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("g1"), col("g2"), lit(1).as("__hit"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ws = when(col(textCol).isNotNull, T.words(col(textCol)))
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), col(textCol),
        posexplode_outer(gramDigests(col(textCol), n)).as(Seq("pos", "gd")))
      .select(col(idCol), col(tsCol), col(textCol), col("pos"),
        col("gd.h1").as("g1"), col("gd.h2").as("g2"))
      .join(inventory, Seq("g1", "g2"), "left")
      .groupBy(col(idCol), col(tsCol), col(textCol))
      .agg(sort_array(collect_set(when(col("__hit") === 1, col("pos")))).as("__starts"))
      .withColumn("__ws", ws)
      // the one shared reconstruction (span-merge + gap slicing) — see
      // ScrubSharedGrams.keptTokens
      .withColumn("__kept",
        graft.ops.ScrubSharedGrams.keptTokens(col("__ws"), col("__starts"), n))
      .select(col(idCol), col(tsCol),
        coalesce(size(col("__ws")), lit(0)).cast("int").as("n_tokens"),
        coalesce(size(col("__ws")) - size(col("__kept")), lit(0)).cast("int").as("n_removed"),
        array_join(col("__kept"), " ").as(outputCol))
  }

  /** Streaming exact dedup — the ingest-time twin of
    * [[graft.ops.ExactDedup]]: emit only the FIRST document per content
    * digest. State is the digest set, bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark`), so the query runs forever on an
    * unbounded corpus with finite state: a duplicate arriving within the
    * watermark of its original is dropped, and state older than the
    * watermark is evicted. The dedup key is the 32-byte md5 digest, never
    * the text — same shuffle-key discipline as the batch op. */
  def dedupStream(
      docs: DataFrame,
      tsCol: String = "ts",
      textCol: String = "text",
      watermark: String = "1 hour",
      normalized: Boolean = false): DataFrame = {
    val key =
      if (normalized) graft.functions.TextFunctions.normalize(col(textCol))
      else col(textCol)
    docs.withColumn("content_hash", md5(key))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** Streaming twin of [[graft.ops.IncrementalDedup]]: an unbounded
    * ingest stream labeled against the STATIC accepted-corpus digest
    * index, emitting only newly-accepted documents. Rows whose digest is
    * already in the index drop via a stream-static LEFT ANTI equi-join
    * (the static side never holds state); within-stream duplicates drop
    * via the watermarked digest set, exactly [[dedupStream]]'s state
    * bound. Null-text rows have no content identity and pass through
    * (the batch op's keeper contract) on a separate unioned branch, so
    * they never alias each other through the null digest.
    *
    * The emitted set equals the batch op's `dup_kind IS NULL` keepers on
    * the same data (StreamingOpsSpec pins the equivalence); feeding the
    * emitted digests back via `IncrementalDedup.updatedIndex` between
    * deployments closes the same ingest loop batch-over-batch. */
  def incrementalDedupStream(
      docs: DataFrame,
      index: DataFrame,
      indexDigestCol: String = "content_hash",
      tsCol: String = "ts",
      textCol: String = "text",
      watermark: String = "1 hour",
      normalized: Boolean = true): DataFrame = {
    val key =
      if (normalized) graft.functions.TextFunctions.normalize(col(textCol))
      else col(textCol)
    val idx = index.select(col(indexDigestCol).as("__ih")).distinct()
    val fresh = docs.withColumn("content_hash", md5(key))
      .withWatermark(tsCol, watermark)
      .join(idx, col("content_hash") === col("__ih"), "left_anti")
    fresh.filter(col("content_hash").isNotNull)
      .dropDuplicatesWithinWatermark("content_hash")
      .unionByName(fresh.filter(col("content_hash").isNull))
  }

  /** Streaming takedown enforcement — the ingest-time twin of
    * [[graft.ops.Purge]]: a document whose id is tombstoned never enters
    * the corpus stream. Retroactive removal from already-written output
    * is the batch op's job (an append stream cannot retract emitted
    * rows); this half guarantees the corpus never RE-ACCEPTS a purged id
    * at ingest — together the two close the takedown loop the same way
    * [[incrementalDedupStream]] + `IncrementalDedup.updatedIndex` close
    * the dedup loop (and `Purge.updatedIndex` / `updatedSignatureIndex`
    * keep the dedup state consistent with the removal). Stream-static
    * LEFT ANTI equi-join on the id: the static side holds no stream
    * state, so the query runs forever with ZERO state — at 100 TB/day
    * ingest the tombstone list is metadata-scale and broadcast. */
  def purgeStream(docs: DataFrame, tombstones: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(broadcast(tombstones.select(idCol).distinct()),
      Seq(idCol), "left_anti")

  case class TrailingFeat(event_id: Long, user_id: Long,
      ns: Seq[Long], sums: Seq[Long])
  case class TrailingState(events: Seq[(Long, Long)]) // (tsSec, valueCents)

  /** Streaming twin of [[graft.ops.TrailingWindowFeatures]]: per-user
    * trailing-horizon event counts and value sums attached to every
    * arriving event — the ONLINE rolling-feature refresh (what a feature
    * store recomputes between batch materializations; the batch op is
    * the backfill). Frame semantics are the batch op's exactly:
    * `[t-h, t-1]` in whole seconds, same-second peers excluded — so a
    * model served on these features trains leak-free on the batch
    * backfill of the same definition. Sums are 0 on empty frames (the
    * batch op's NULL; streaming Datasets prefer total columns — callers
    * needing the NULL distinction have `ns == 0`).
    *
    * State per user is the event list inside the LARGEST horizon —
    * O(users × events-per-horizon), pruned every batch, independent of
    * stream length. Within a micro-batch, events process in the batch
    * op's (ts, event_id) total order; cross-batch ordering follows
    * arrival, as in any online builder (same caveat as
    * [[sequenceStream]]), and StreamingOpsSpec pins stream ≡ batch on
    * in-order feeds. */
  def trailingFeatureStream(events: Dataset[Event], horizons: Seq[Long])
      : Dataset[TrailingFeat] = {
    require(horizons.nonEmpty && horizons.forall(_ > 0),
      "trailingFeatureStream: horizons must be positive seconds")
    val maxH = horizons.max
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrailingState, TrailingFeat](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TrailingState]) =>
          val sorted = rows.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && a.event_id < b.event_id)
          }
          var held = state.getOption.map(_.events).getOrElse(Seq.empty)
          val out = Seq.newBuilder[TrailingFeat]
          sorted.foreach { e =>
            val t = e.ts.getTime / 1000L
            // same [t-h, t-1] frame as the batch op: same-second entries
            // (earlier-id peers already appended) are excluded by <= t-1
            val feats = horizons.map { h =>
              val in = held.filter { case (ts, _) => ts >= t - h && ts <= t - 1 }
              (in.length.toLong, in.map(_._2).sum)
            }
            out += TrailingFeat(e.event_id, userId,
              feats.map(_._1), feats.map(_._2))
            // prune KEEPS ts == t-maxH: a same-second successor's frame
            // [t-maxH, t-1] still reaches it; anything older is dead for
            // every future event (t' >= t → t'-maxH >= t-maxH).
            // Cents via HALF_UP like Spark's round() — math.round rounds
            // -12.5 UP to -12 where the batch twin's round gives -13
            held = (held :+ ((t, java.math.BigDecimal.valueOf(e.value * 100)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue)))
              .filter { case (ts, _) => ts >= t - maxH }
          }
          state.update(TrailingState(held))
          out.result().iterator
      }
  }

  // ---- streaming index maintenance -----------------------------------
  //
  // The online half of the index lifecycle: a document/item stream keeps
  // the PERSISTED retrieval index current via foreachBatch, the same way
  // incrementalDedupStream keeps the dedup index current. State lives in
  // versioned parquet (never inside the stream), so serving reads the
  // index with plain batch scans while ingest appends to it. The layout
  // is the corpus log's delta+manifest shape (corpusIngestSink below):
  //
  //   <indexDir>/deltas/d<n>/...  ONE immutable per-batch delta — the
  //                               batch's OWN postings / assigned rows
  //                               only, O(batch) bytes
  //   <indexDir>/v<n>/manifest    the live delta list (metadata-scale,
  //                               one row per commit)
  //   <indexDir>/v<n>/meta        cumulative additive scalars (BM25:
  //                               docCount, sumDl) — one tiny file
  //   <indexDir>/_LATEST          pointer file naming the live version;
  //                               trailer lines carry the per-app
  //                               committed-batch map (txn:<app>,<batch>)
  //                               so the swap and the retry-dedup memory
  //                               are ONE atomic rename
  //
  // Each batch computes its own delta (never re-reading the index —
  // every per-batch statistic is additive over disjoint batches), writes
  // it under `deltas/`, publishes the next version's manifest+meta+txn
  // in a NEW `v<n>` dir (n = max existing + 1, so other writers over the
  // same log never collide), and moves the pointer last — a crashed
  // batch leaves the pointer on the old consistent version, and a
  // foreachBatch RETRY of a batchId whose txn marker is visible in
  // POINTER-COMMITTED history is skipped as a no-op (a marker in an
  // unreferenced dir is a crash-before-pointer: that batch never went
  // live, so the retry recommits it). BOTH the per-batch compute AND the
  // per-batch persist are O(batch): at 100 TB with minute-level
  // micro-batches a commit writes megabytes of delta, not a terabyte of
  // index copy — version dirs hold only metadata, so retention vacuum is
  // cheap, and compactIndexState is the OPTIMIZE that collapses the
  // delta chain when read amplification grows. Loaders recover the
  // union index exactly: postings/index rows union (plan-neutral — BM25
  // probes group by term, ANN probes group by list), dfreq sums per
  // term, the scalars are stored pre-summed; the result is identical to
  // a from-scratch fit under ANY micro-batch boundaries
  // (Bm25Index.stats additivity, AnnIvf/AnnSq frozen-quantizer row-local
  // assignment — all spec-pinned), so the stream twin inherits the
  // batch ops' determinism.

  // Versioned-state plumbing (log-ordered v<n> dirs, atomically-renamed
  // _LATEST pointer, explicit retention) is the shared commit protocol
  // in graft.core.VersionedDir — the same object serves batch corpus
  // republication (VersionedDir.publish/readLatest).
  private def latestVersion(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[String] = graft.core.VersionedDir.latest(spark, dir)

  // Pointer swaps go through the optimistic-concurrency LINEAGE check:
  // every commit here derives its content (manifest chain, cumulative
  // meta, retired index) from the base snapshot it read, so the base
  // must still be live at swap time. The sinks' foreachBatch is
  // single-writer per checkpoint, but the LOG is shared with
  // purge/optimize jobs and fresh-checkpoint restarts — a double-fired
  // one must lose loudly, never regress the pointer NOR silently drop
  // an interleaved commit's delta from the manifest it republishes.
  /** The one pointer swap every commit here goes through: lineage-checked
    * ([[graft.core.VersionedDir.commitPointerFrom]]) AND carrying the
    * retention-proof per-app transaction map as the pointer's trailer
    * lines — `txn` upserts the committing app's latest batchId; a commit
    * with no batch identity (purge, OPTIMIZE) carries the map forward
    * UNCHANGED, so another writer's commit can never erase an ingest
    * app's replay memory. One file, one rename: the version swap and the
    * txn update are a single atomic operation, so no crash can separate
    * "the batch's data went live" from "the batch is remembered as
    * committed" — the residual double-commit window of a separate
    * post-swap txn write (crash between the two + retention churning
    * past the version before the retry) is closed by construction
    * [spec-pinned]. */
  /** Most app entries the pointer trailer retains, evicting the least
    * recently COMMITTING app beyond it. A replay can only come from a
    * checkpoint that carries its appId, and every live checkpointed app
    * re-upserts its entry (moving to the recent end) each commit — so an
    * evicted entry belongs to an app that has not committed across 256
    * other apps' turnover: a retired fresh-checkpoint identity whose
    * checkpoint (the only thing that could replay under that appId) is
    * operationally gone. Bounds the pointer at ~KB forever even under
    * nightly fresh-checkpoint restarts for years. */
  private val MaxTxnTrailerApps = 256

  private def writePointer(spark: org.apache.spark.sql.SparkSession,
      dir: String, version: String, basedOn: Option[String],
      txn: Option[(String, Long)] = None): Unit = {
    // trailer lines keep COMMIT order (oldest first); an upsert moves
    // the app to the recent end, the cap evicts from the stale end
    val prev = txnEntries(spark, dir)
    val merged = txn.fold(prev) { case (app, b) =>
      val kept = prev.filterNot(_._1 == app)
      val hi = prev.collectFirst { case (a, x) if a == app => x }
        .fold(b)(math.max(b, _))
      val next = (kept :+ (app -> hi)).takeRight(MaxTxnTrailerApps)
      // eviction must be OBSERVABLE: it closes the evicted app's replay
      // window, which is only safe if that app's checkpoint is truly
      // retired — an operator should see it happen, not discover it
      (kept :+ (app -> hi)).dropRight(MaxTxnTrailerApps).foreach { case (a, _) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"txn trailer cap ($MaxTxnTrailerApps apps) evicted '$a' from " +
          s"$dir — its replay-dedup window is closed; if that app's " +
          "checkpoint still exists, a replayed batch would recommit")
      }
      next
    }
    val trailer = merged.map { case (a, b) => s"txn:$a,$b" }
    graft.core.VersionedDir.commitPointerFrom(
      spark, dir, version, basedOn, Some(trailer))
  }

  /** The per-app committed-batch entries carried in the live pointer's
    * trailer, in stored (commit) order — empty before the first commit.
    * Split on the LAST comma so appIds containing commas cannot shift
    * the batch field. */
  private def txnEntries(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, Long)] =
    graft.core.VersionedDir.pointerLines(spark, dir).drop(1)
      .filter(_.startsWith("txn:"))
      .map { line =>
        val body = line.drop(4)
        val i = body.lastIndexOf(',')
        body.take(i) -> body.drop(i + 1).trim.toLong
      }

  private def txnMap(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, Long] = txnEntries(spark, dir).toMap

  /** The latest batchId this `appId` committed into `dir`'s log, scanning
    * POINTER-COMMITTED versions newest-first (lazy — the common case
    * reads ONE txn parquet: the app's own previous commit). Only
    * versions at or below the live pointer count: a txn marker in a
    * higher-numbered unreferenced dir is a crash between writeTxn and
    * writePointer — that batch never went live, and honoring its marker
    * would skip the retry and silently lose the batch forever. Versions
    * without a txn marker (pre-protocol dirs) are skipped; any OTHER
    * failure reading a txn propagates — swallowing a transient IO error
    * would read as "no txn" and recommit a committed batch, duplicating
    * its rows. Shared by every versioned sink: checking only the live
    * version would let a batch retry that arrives AFTER another writer's
    * commit (purge, optimize, a second app) recommit an already-committed
    * batch. Retention caveat: vacuuming ALL of an app's txns re-opens
    * its retry window — keep must cover the crash-recovery horizon. */
  private def latestTxn(spark: org.apache.spark.sql.SparkSession,
      dir: String, appId: String): Option[Long] = {
    val liveN = graft.core.VersionedDir.latest(spark, dir)
      .flatMap(v => scala.util.Try(v.drop(1).toLong).toOption)
    val scanned = graft.core.VersionedDir.versions(spark, dir).iterator
      .filter(v => liveN.exists(v.drop(1).toLong <= _))
      .flatMap { v =>
        readSmallFile(spark, s"$dir/$v/txn").map { t =>
          val i = t.lastIndexOf(',')
          (t.take(i), t.drop(i + 1).trim.toLong)
        }
      }
      .collectFirst { case (a, b) if a == appId => b }
    // the pointer-trailer txn map remembers commits whose version dirs
    // other writers' churn has vacuumed — retention-proof (the pointer
    // itself is never vacuumed) and crash-proof (it swaps in the SAME
    // rename as the version, see writePointer); within retention the
    // version scan is redundant with it but kept as the auditable,
    // time-travelable record
    (scanned ++ txnMap(spark, dir).get(appId)).reduceOption(_ max _)
  }

  // `appId,batchId` one-liner; split on the LAST comma so appIds with
  // commas cannot shift the batch field
  private def writeTxn(spark: org.apache.spark.sql.SparkSession,
      dir: String, version: String, appId: String, batchId: Long): Unit =
    writeSmallFile(spark, s"$dir/$version/txn", s"$appId,$batchId")

  /** Load the live BM25 index from a sink-maintained directory (None
    * before the first non-empty batch): union the manifest's postings
    * deltas (a multi-path scan, no shuffle — BM25 probes group by term,
    * so the union is plan-neutral), roll the per-delta document
    * frequencies up per term (vocab-scale — far below postings-scale;
    * [[compactIndexState]] pre-rolls it when the chain grows), and
    * derive avgdl from the stored exact long sums — the identical ONE
    * double division a from-scratch fit performs. Serving-side entry:
    * probe with `loadBm25Index(...).get.asRows(queries)`. */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queryIdCol: String = "query_id", queryTextCol: String = "query_text",
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75)
      : Option[graft.ops.Bm25Index] =
    latestVersion(spark, indexDir).flatMap(loadBm25IndexAt(
      spark, indexDir, _, queryIdCol, queryTextCol, k, k1, b))

  /** A specific RETAINED version's BM25 index (time travel over the
    * index log — reproduce an evaluation against the exact snapshot
    * that served it, or A/B two index states; the index-side analog of
    * [[loadCorpusAt]]). None if the version was never committed or its
    * metadata has been vacuumed; retention bounds the window. */
  def loadBm25IndexAt(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, version: String,
      queryIdCol: String = "query_id", queryTextCol: String = "query_text",
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75)
      : Option[graft.ops.Bm25Index] = {
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, indexDir)
    if (!isCommitted(spark, indexDir, version) ||
        !fs.exists(new org.apache.hadoop.fs.Path(p, s"$version/manifest")))
      None
    else Some {
      val deltas = readManifest(spark, s"$indexDir/$version/manifest")
        .map(_.delta)
      val postings = spark.read.schema(postingsSchema).parquet(
        deltas.map(d => s"$indexDir/deltas/$d/postings"): _*)
      val dfreq = spark.read.schema(dfreqSchema).parquet(
        deltas.map(d => s"$indexDir/deltas/$d/dfreq"): _*)
        .groupBy(col("__term")).agg(sum(col("__df")).as("__df"))
      val (n, sumDl) = readMeta(spark, s"$indexDir/$version/meta")
      graft.ops.Bm25Index(postings, dfreq,
        n, sumDl.toDouble / n,
        queryIdCol, queryTextCol, k, k1, b)
    }
  }

  // `docCount,sumDl` one-liner — the cumulative BM25 scale stats
  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long) = {
    val t = readSmallFile(spark, path).getOrElse(
      throw new IllegalStateException(s"missing meta: $path"))
    val f = t.trim.split(",")
    (f(0).toLong, f(1).toLong)
  }

  private def writeMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, docCount: Long, sumDl: Long): Unit =
    writeSmallFile(spark, path, s"$docCount,$sumDl")

  /** foreachBatch sink maintaining a persisted BM25 inverted index from a
    * document stream in the delta+manifest layout: each batch tokenizes
    * ONLY itself ([[graft.ops.Bm25Index.stats]] — the corpus is never
    * re-read or re-tokenized), lands its postings+dfreq as an immutable
    * `deltas/d<n>` dir, and publishes manifest + cumulative (docCount,
    * sumDl) meta as the next version — per-batch compute AND persist
    * both O(batch). Batches must carry DISJOINT doc ids (the ingest
    * contract; run [[incrementalDedupStream]] upstream). `retainVersions`
    * auto-vacuums superseded version dirs (metadata only — deltas stay
    * referenced; [[vacuumIndexVersions]]; None keeps every version).
    * Commit identity is the corpus log's: LOG-ordered version names + a
    * per-version (appId, batchId) txn marker, so committed-batch
    * retries are no-ops and a fresh-checkpoint restart (new `appId`)
    * shares the log collision-free. Usage:
    * `docs.writeStream.foreachBatch(bm25IndexSink(dir)).start()`. */
  def bm25IndexSink(indexDir: String, docIdCol: String = "doc_id",
      textCol: String = "text",
      appId: String = "bm25-ingest",
      retainVersions: Option[Int] = None,
      autoCompactDeltas: Option[Int] = None): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      // txn dedup first (driver-side file reads, no Spark job), THEN the
      // batch stats aggregate, whose n doubles as the emptiness gate — a
      // separate batch.isEmpty probe was one more scheduled job per
      // commit for information the stats pass already computes
      if (!latestTxn(batch.sparkSession, indexDir, appId).exists(_ >= batchId)) {
        val spark = batch.sparkSession
        import spark.implicits._
        // ONE tokenize pass serves the whole commit: the postings land
        // in a tmp delta with the scale stats (n, Σdl) OBSERVED on the
        // tokenize stage — the previous separate stats job re-tokenized
        // the batch just to learn two scalars (guide §1.2: remove
        // passes). The dir renames into the reserved version only when
        // docs exist, so the emptiness gate and version/batch mapping
        // are unchanged; a crashed tmp dir is unreferenced garbage.
        val (bPostings, obs) =
          graft.ops.Bm25Index.statsObserved(batch, docIdCol, textCol)
        val tmp = s"$indexDir/deltas/_tmp-$appId-$batchId"
        bPostings.write.mode("overwrite").parquet(s"$tmp/postings")
        val bN = obs.get("n").asInstanceOf[Long]
        val bSumDl = obs.get("sdl") match {
          case null => 0L
          case s => s.asInstanceOf[Long]
        }
        val (fs, _) = graft.core.VersionedDir.fsOf(spark, indexDir)
        if (bN == 0L)
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        else {
        val live = latestVersion(spark, indexDir)
        val (n0, s0) = live.map(lv => readMeta(spark, s"$indexDir/$lv/meta"))
          .getOrElse((0L, 0L))
        val v = graft.core.VersionedDir.reserveNextVersion(spark, indexDir)
        val delta = "d" + v.drop(1)
        // delta + metadata all materialize BEFORE the pointer moves;
        // deltas are write-once, so the write never overlaps any reader
        graft.core.VersionedDir.renameOrFail(fs, new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(s"$indexDir/deltas/$delta"))
        // the dfreq delta derives from the postings JUST WRITTEN — a
        // per-term count over the small on-disk delta — instead of the
        // lazy bDfreq plan, which would re-tokenize and re-aggregate the
        // whole batch a second time (same rows by construction: bDfreq
        // is defined as bPostings grouped by term)
        spark.read.schema(postingsSchema)
          .parquet(s"$indexDir/deltas/$delta/postings")
          .groupBy(col("__term")).agg(count(lit(1)).as("__df"))
          .write.mode("overwrite")
          .parquet(s"$indexDir/deltas/$delta/dfreq")
        writeMeta(spark, s"$indexDir/$v/meta", n0 + bN, s0 + bSumDl)
        val prevManifest = live
          .map(lv => readManifest(spark, s"$indexDir/$lv/manifest"))
          .getOrElse(Seq.empty)
        // zone map from the delta just written (cheap footer-stats scan)
        writeManifest(spark, s"$indexDir/$v/manifest", prevManifest :+
          manifestEntryAt(spark, s"$indexDir/deltas/$delta/postings", delta,
            "__doc_id",
            spark.read.schema(postingsSchema)
              .parquet(s"$indexDir/deltas/$delta/postings")))
        writeBm25Occupancy(spark, indexDir, v,
          prevManifest.map(_.delta) :+ delta)
        writeTxn(spark, indexDir, v, appId, batchId)
        writePointer(spark, indexDir, v, live, Some(appId -> batchId))
        retainVersions.foreach(vacuumIndexVersions(spark, indexDir, _))
        maybeCompact(spark, indexDir, autoCompactDeltas, retainVersions,
          () => compactIndexState(spark, indexDir,
            tierFraction = Some(AutoCompactTierFraction),
            maxKeepers = autoCompactDeltas.get - 1))
        }
      }
  }

  /** BM25's stamp for the shared occupancy protocol ([[occupancyLog]]),
    * with the TERM as the bucket: per-term postings skew has exactly the
    * ANN sinks' "drift between compactions is invisible" shape (a head
    * term's inverted list silently grows while every query touching it
    * pays the scan), and the per-delta `dfreq` table IS the delta's
    * bucket histogram (term → postings rows contributed), so the roll-up
    * is a vocab-scale grouped sum over the chain's dfreq files — the
    * postings themselves are never re-read. Open vocabulary has no fixed
    * bucket count, so the stamped line records n_buckets = n_occupied
    * and `skew_bp` reads max-df against the MEAN postings-per-occupied-
    * term — trip it and [[pruneBm25HeadTermsIfSkewed]] commits the
    * stopword-pruned version, the way the ANN line triggers
    * [[refitAnnIvfIndexIfSkewed]]'s quantizer refit. Compaction carries
    * the line forward verbatim like every sink ([[compactIndexState]]). */
  private def writeBm25Occupancy(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, version: String, deltas: Seq[String]): Unit = {
    val s = deltas.map(d => spark.read.schema(dfreqSchema)
        .parquet(s"$indexDir/deltas/$d/dfreq"))
      .reduce(_ unionByName _)
      .groupBy(col("__term")).agg(sum(col("__df")).as("__c"))
      .agg(coalesce(sum(col("__c")), lit(0L)),
        count(lit(1)), coalesce(max(col("__c")), lit(0L)))
      // collect, not head: executeTake's incremental partition scans
      // scheduled up to 3 jobs for this single-row aggregate per commit
      // (JobTraceProbe r15); collect is one job over the one partition
      .collect()(0)
    writeSmallFile(spark, s"$indexDir/$version/occupancy",
      s"${s.getLong(0)},${s.getLong(1)},${s.getLong(1)},${s.getLong(2)}")
  }

  /** The ACTION half of the BM25 occupancy stamp ([[writeBm25Occupancy]]
    * is the trigger) — the lexical-index twin of
    * [[refitAnnIvfIndexIfSkewed]], completing the trigger→action symmetry
    * for every sink-maintained index family: when the LIVE version's
    * stamped line reads `skew_bp > boundBp`, commit a STOPWORD-PRUNED
    * version. The decision is in-log (one 4-integer line; postings are
    * never scanned to decide). Acting rolls the chain's vocab-scale
    * `dfreq` once to NAME the head terms — every term whose chain-wide
    * postings count alone exceeds the stamped bound at the line's own
    * uniform base (`df·10⁴/uniform > boundBp`, the same arithmetic that
    * tripped) — then rewrites postings/dfreq minus those terms as one
    * delta. Doc-level constants (N, Σdl → avgdl) carry VERBATIM: pruning
    * removes postings, not documents, so every surviving term's BM25
    * score is bit-identical by construction — head terms simply stop
    * contributing, exactly a fitted stopword list. The head set is
    * stopword-scale by the qualifying rule (a term must carry boundBp/10⁴
    * × the mean per-term postings load), so the isInCollection filter
    * stays a literal-set predicate at any corpus size; the rewrite is one
    * bounded full pass over postings — the same cost class as
    * [[compactIndexState]], which a tripped head term forces anyway.
    * Single-writer contract as refit/compaction: pause the ingest sink.
    * Returns None when healthy/untracked/absent;
    * Some((tripped skew_bp, pruned terms, new version)) after acting —
    * pre-prune versions stay time-travelable like every commit. */
  def pruneBm25HeadTermsIfSkewed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, boundBp: Long,
      appId: String = "bm25-prune"): Option[(Long, Seq[String], String)] =
    for {
      lv <- latestVersion(spark, indexDir)
      occ <- readIndexOccupancy(spark, indexDir, lv)
      if occ.skewBp > boundBp
    } yield {
      val deltas = readManifest(spark, s"$indexDir/$lv/manifest").map(_.delta)
      // persisted: the vocab-scale roll names the head terms AND becomes
      // the pruned dfreq delta — unpersisted, the chain's dfreq files
      // were re-read and re-aggregated once per use
      val dfAll = spark.read.schema(dfreqSchema).parquet(
        deltas.map(d => s"$indexDir/deltas/$d/dfreq"): _*)
        .groupBy(col("__term")).agg(sum(col("__df")).as("__df"))
        .persist()
      try {
      val head = dfAll
        .filter(col("__df") * lit(10000L) / lit(occ.uniformCount) > lit(boundBp))
        .select("__term").collect().map(_.getString(0)).sorted.toSeq
      val pruned = dfAll.filter(!col("__term").isInCollection(head))
      val postings = spark.read.schema(postingsSchema).parquet(
        deltas.map(d => s"$indexDir/deltas/$d/postings"): _*)
        .filter(!col("__term").isInCollection(head))
      val v = graft.core.VersionedDir.reserveNextVersion(spark, indexDir)
      val delta = "d" + v.drop(1)
      postings.write.mode("overwrite")
        .parquet(s"$indexDir/deltas/$delta/postings")
      pruned.write.mode("overwrite")
        .parquet(s"$indexDir/deltas/$delta/dfreq")
      val (n0, s0) = readMeta(spark, s"$indexDir/$lv/meta")
      writeMeta(spark, s"$indexDir/$v/meta", n0, s0)
      writeManifest(spark, s"$indexDir/$v/manifest", Seq(manifestEntryAt(
        spark, s"$indexDir/deltas/$delta/postings", delta, "__doc_id",
        spark.read.schema(postingsSchema)
          .parquet(s"$indexDir/deltas/$delta/postings"))))
      writeBm25Occupancy(spark, indexDir, v, Seq(delta))
      writeTxn(spark, indexDir, v, appId, -1L)
      writePointer(spark, indexDir, v, Some(lv))
      (occ.skewBp, head, v)
      } finally dfAll.unpersist()
    }

  /** The union of a versioned index log's `index` deltas — the live
    * coded/assigned item table as one multi-path parquet scan (no
    * shuffle; ANN probes group by list id, so the union is plan-neutral). */
  private def loadIndexDeltas(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, version: String): DataFrame = {
    val deltas = readManifest(spark, s"$indexDir/$version/manifest")
      .map(_.delta)
    spark.read.parquet(deltas.map(d => s"$indexDir/deltas/$d/index"): _*)
  }

  /** One delta-layout index commit: land the batch's own assigned rows
    * as `deltas/d<n>/index`, publish manifest+txn as `v<n>`, move the
    * pointer — the shared body of [[annIvfIndexSink]] /
    * [[annSqIndexSink]] (both per-item row-local assignments against
    * frozen quantizer literals, so a batch's rows ARE its delta). */
  private def commitIndexDelta(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batchIndex: DataFrame, idCol: String,
      appId: String, batchId: Long, retainVersions: Option[Int],
      occupancy: Option[(String, Long)] = None): Unit = {
    // ONE action serves assignment AND the emptiness gate: the batch's
    // index rows land in a tmp delta with an OBSERVED row count, and the
    // dir is renamed into the reserved version only when rows exist —
    // the previous separate `batch.isEmpty` probe was up to two extra
    // scheduled take-jobs per commit (JobTraceProbe r15), on rows whose
    // wall time is jobs × the per-job floor. A crashed tmp dir is
    // unreferenced garbage no manifest lists; the next vacuum reclaims
    // it. Version reservation still happens only for non-empty batches,
    // so the log's version/batch mapping is unchanged.
    val tmp = s"$indexDir/deltas/_tmp-$appId-$batchId"
    val obs = org.apache.spark.sql.Observation()
    batchIndex.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$tmp/index")
    val n = obs.get("n").asInstanceOf[Long]
    val (fs, _) = graft.core.VersionedDir.fsOf(spark, indexDir)
    if (n == 0L) {
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      return
    }
    val live = latestVersion(spark, indexDir)
    val v = graft.core.VersionedDir.reserveNextVersion(spark, indexDir)
    val delta = "d" + v.drop(1)
    graft.core.VersionedDir.renameOrFail(fs, new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$indexDir/deltas/$delta"))
    // per-delta bucket histogram (O(min(batch, buckets)) rows — counted
    // from the batch alone, never the accumulated index)
    occupancy.foreach { case (bucketCol, _) =>
      writeDeltaBucketCounts(spark, s"$indexDir/deltas/$delta", bucketCol,
        Some(batchIndex.schema))
    }
    val prevManifest = live
      .map(lv => readManifest(spark, s"$indexDir/$lv/manifest"))
      .getOrElse(Seq.empty)
    val manifest = prevManifest :+
      manifestEntryAt(spark, s"$indexDir/deltas/$delta/index", delta, idCol,
        spark.read.parquet(s"$indexDir/deltas/$delta/index"))
    writeManifest(spark, s"$indexDir/$v/manifest", manifest)
    occupancy.foreach { case (bucketCol, nBuckets) =>
      writeOccupancy(spark, indexDir, v, manifest.map(_.delta),
        bucketCol, nBuckets)
    }
    writeTxn(spark, indexDir, v, appId, batchId)
    writePointer(spark, indexDir, v, live, Some(appId -> batchId))
    retainVersions.foreach(vacuumIndexVersions(spark, indexDir, _))
  }

  // ——— per-version occupancy monitoring (the drift-visibility record
  // between refit decisions — round-11 VERDICT item 3) ———————————————
  //
  // Design: each delta dir carries a `bcounts` parquet — that DELTA's
  // per-bucket row counts, computed from the batch alone (O(batch); the
  // accumulated index is never re-read at commit). The committed
  // version's occupancy summary rolls the manifest chain's bcounts up
  // (counts are additive across deltas) into the 4-integer line
  // `$v/occupancy` = "n_items,n_buckets,n_occupied,max_count" — the
  // [[graft.ops.LshSkewReport]]/[[graft.ops.IvfSkewReport]] summary
  // riding the one-line metadata protocol, stamped per commit, so
  // occupancy drift between refit decisions is visible IN the log
  // ([[occupancyLog]]) instead of requiring an ad-hoc full-index scan.
  // Roll-up cost per commit: ≤ chain-deltas × occupied-buckets tiny
  // rows — bucket-scale (items/~64), bounded further by auto-compaction
  // collapsing the chain; strictly below re-scanning the index.

  private def writeDeltaBucketCounts(
      spark: org.apache.spark.sql.SparkSession,
      deltaDir: String, bucketCol: String,
      indexSchema: Option[StructType] = None): Unit = {
    // the caller just WROTE the delta, so its schema is in hand —
    // supplying it skips the per-read schema-inference job
    val reader = indexSchema.fold(spark.read)(spark.read.schema)
    reader.parquet(s"$deltaDir/index")
      .groupBy(col(bucketCol).cast("long").as("__b"))
      .agg(count(lit(1)).as("__c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$deltaDir/bcounts")
  }

  /** The chain's per-bucket counts: sum of the deltas' `bcounts`
    * histograms; a delta missing its side file (written by a
    * pre-occupancy revision, or a merged delta from an older OPTIMIZE)
    * is derived from its index rows on the fly — one bounded catch-up
    * scan, after which compaction folds it into a counted delta. */
  private def chainBucketCounts(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, deltas: Seq[String], bucketCol: String): DataFrame = {
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, indexDir)
    val per = deltas.map { d =>
      if (fs.exists(new org.apache.hadoop.fs.Path(p, s"deltas/$d/bcounts")))
        spark.read.schema(bcountsSchema)
          .parquet(s"$indexDir/deltas/$d/bcounts")
      else
        spark.read.parquet(s"$indexDir/deltas/$d/index")
          .groupBy(col(bucketCol).cast("long").as("__b"))
          .agg(count(lit(1)).as("__c"))
    }
    per.reduce(_ unionByName _)
      .groupBy("__b").agg(sum(col("__c")).as("__c"))
  }

  private def writeOccupancy(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, version: String, deltas: Seq[String],
      bucketCol: String, nBuckets: Long): Unit = {
    val s = chainBucketCounts(spark, indexDir, deltas, bucketCol)
      .agg(coalesce(sum(col("__c")), lit(0L)),
        count(lit(1)), coalesce(max(col("__c")), lit(0L)))
      // collect, not head — see writeBm25Occupancy
      .collect()(0)
    writeSmallFile(spark, s"$indexDir/$version/occupancy",
      s"${s.getLong(0)},$nBuckets,${s.getLong(1)},${s.getLong(2)}")
  }

  /** One committed version's occupancy summary — the same integer
    * arithmetic as [[graft.ops.LshSkewReport]]'s row (ceil-division
    * uniform target, basis-point skew). */
  case class IndexOccupancy(nItems: Long, nBuckets: Long,
      nOccupied: Long, maxCount: Long) {
    def uniformCount: Long =
      if (nBuckets == 0) 0L else (nItems + nBuckets - 1) / nBuckets
    def skewBp: Long =
      if (uniformCount == 0L) 0L else maxCount * 10000L / uniformCount
  }

  /** The occupancy summary stamped when `version` committed; None for
    * versions written without occupancy tracking (eval logs,
    * pre-occupancy revisions) or vacuumed metadata. BM25 versions stamp
    * the line too ([[writeBm25Occupancy]]: term = bucket, n_buckets =
    * n_occupied under open vocabulary). */
  def readIndexOccupancy(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, version: String): Option[IndexOccupancy] =
    readSmallFile(spark, s"$indexDir/$version/occupancy").map { t =>
      val f = t.trim.split(",")
      IndexOccupancy(f(0).toLong, f(1).toLong, f(2).toLong, f(3).toLong)
    }

  /** The retained occupancy history of a sink-maintained index, oldest
    * first — bucket-skew drift between refit decisions as data, read
    * from the one-line version metadata (no index scan). */
  def occupancyLog(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Seq[(String, IndexOccupancy)] =
    graft.core.VersionedDir.versions(spark, indexDir)
      .filter(isCommitted(spark, indexDir, _))
      .flatMap(v => readIndexOccupancy(spark, indexDir, v).map(v -> _))
      .sortBy(_._1.drop(1).toLong)

  /** Load the live IVF index frame from a sink-maintained directory —
    * probe via `op.asRowsIndexed(queries, loadAnnIvfIndex(...).get)`. */
  def loadAnnIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[DataFrame] =
    latestVersion(spark, indexDir).map(loadIndexDeltas(spark, indexDir, _))

  /** A specific RETAINED version's ANN index frame (time travel over
    * the index log, IVF and SQ8 alike — the index-side analog of
    * [[loadCorpusAt]]: reproduce an evaluation against the snapshot
    * that served it). None once the version's manifest is vacuumed. */
  def loadAnnIndexAt(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, version: String): Option[DataFrame] = {
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, indexDir)
    if (!isCommitted(spark, indexDir, version) ||
        !fs.exists(new org.apache.hadoop.fs.Path(p, s"$version/manifest")))
      None
    else Some(loadIndexDeltas(spark, indexDir, version))
  }

  /** True iff `version` is POINTER-COMMITTED history (its number is at
    * or below the live `_LATEST`'s). A reserved-but-never-committed dir
    * — a crashed writer, or a lineage-conflict loser whose manifest
    * silently omits the interleaved winner's delta — also carries a
    * manifest, but its snapshot never went live; time travel must not
    * serve it ("None if never committed" is the contract). */
  private def isCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, version: String): Boolean = {
    val mine = scala.util.Try(version.drop(1).toLong).toOption
    val liveN = latestVersion(spark, dir)
      .flatMap(v => scala.util.Try(v.drop(1).toLong).toOption)
    mine.exists(m => liveN.exists(m <= _))
  }

  /** foreachBatch sink maintaining a persisted IVF index from an item
    * stream under `op`'s FROZEN coarse quantizer: each batch is assigned
    * to its inverted lists map-side (per-item assignment against
    * centroid literals, no shuffle, the existing index never re-read)
    * and lands as an immutable `deltas/d<n>` dir — per-batch compute
    * AND persist both O(batch). Centroid staleness is the documented
    * trade: monitor recall, refit + rebuild when the catalog's
    * distribution drifts. Batches must carry disjoint item ids. */
  def annIvfIndexSink(indexDir: String, op: graft.ops.AnnIvf,
      appId: String = "ivf-ingest",
      retainVersions: Option[Int] = None,
      autoCompactDeltas: Option[Int] = None): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      if (!latestTxn(batch.sparkSession, indexDir, appId).exists(_ >= batchId)) {
        commitIndexDelta(batch.sparkSession, indexDir,
          graft.ops.AnnIvf.index(batch, op.centers,
            op.itemIdCol, op.itemVecCol),
          "__item_id", appId, batchId, retainVersions,
          occupancy = Some(("__cid", op.centers.size.toLong)))
        maybeCompact(batch.sparkSession, indexDir, autoCompactDeltas,
          retainVersions,
          () => compactIndexState(batch.sparkSession, indexDir,
            tierFraction = Some(AutoCompactTierFraction),
            maxKeepers = autoCompactDeltas.get - 1))
      }
  }

  /** Close the quantizer-staleness loop for a sink-maintained IVF index:
    * refit the coarse quantizer over the CURRENTLY INDEXED catalog and
    * republish the re-assigned index as the next committed version of
    * the SAME log — the rebuild that [[graft.ops.QuantizerDrift]] (and
    * [[graft.ops.PqCodebookDrift]] for the PQ stage) reports exist to
    * trigger, executed under the commit protocol: live readers keep the
    * snapshot they pinned, the swap is one pointer rename, and the old
    * quantizer's versions stay time-travelable until vacuumed (an eval
    * run against "the index that served last week" still reproduces).
    * Works in-log because IVF,Flat deltas carry the RAW vectors; the
    * SQ8/PQ logs store lossy codes, so their rebuilds re-encode from the
    * source catalog and then commit through the same protocol. Full pass
    * by design — a refit invalidates every assignment (the purge/OPTIMIZE
    * cost class); single-writer contract: pause the ingest sink around
    * the call. Returns (refitted centers, committed version); None if no
    * live index. */
  def refitAnnIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, nlist: Int = 32, maxIter: Int = 10,
      seed: Long = 42L, targetBytes: Long = 128L << 20)
      : Option[(Seq[Seq[Double]], String)] =
    latestVersion(spark, indexDir).map { lv =>
      val items = loadIndexDeltas(spark, indexDir, lv)
        .select(col("__item_id").as("item_id"),
          col("__item_vec").as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val centers = graft.functions.VectorFunctions.fitCenters(
          items, "embedding", nlist, maxIter, seed)
        val assigned = graft.ops.AnnIvf.index(items, centers)
        val (fs, p) = graft.core.VersionedDir.fsOf(spark, indexDir)
        val oldBytes = readManifest(spark, s"$indexDir/$lv/manifest")
          .map(e => fs.getContentSummary(
            new org.apache.hadoop.fs.Path(p, s"deltas/${e.delta}")).getLength)
          .sum
        val nFiles =
          math.max(1L, (oldBytes + targetBytes - 1) / targetBytes).toInt
        val v = graft.core.VersionedDir.reserveNextVersion(spark, indexDir)
        val delta = "d" + v.drop(1)
        assigned.repartition(nFiles).write.mode("overwrite")
          .parquet(s"$indexDir/deltas/$delta/index")
        writeDeltaBucketCounts(spark, s"$indexDir/deltas/$delta", "__cid")
        writeManifest(spark, s"$indexDir/$v/manifest", Seq(manifestEntryAt(
          spark, s"$indexDir/deltas/$delta/index", delta, "__item_id",
          spark.read.parquet(s"$indexDir/deltas/$delta/index"))))
        writeOccupancy(spark, indexDir, v, Seq(delta), "__cid",
          centers.size.toLong)
        writeTxn(spark, indexDir, v, "ivf-refit", -1L)
        writePointer(spark, indexDir, v, Some(lv))
        (centers, v)
      } finally items.unpersist()
    }

  /** The trigger→action composition for inverted-list skew — the
    * k-means twin of [[graft.Flagship.chooseRetriever]]'s LSH remedy:
    * read the LIVE version's stamped occupancy summary (the
    * [[occupancyLog]] line the sinks commit — no index scan), and when
    * its basis-point skew exceeds `boundBp` run [[refitAnnIvfIndex]] —
    * a fresh k-means over the currently indexed catalog re-adapts the
    * cells to whatever geometry the frozen quantizer drifted away from,
    * and the refitted version stamps its own (now-balanced) occupancy
    * line, closing the loop in the log itself. Returns Some((observed
    * skew, refit centers, committed version)) when the action fired;
    * None when the index is healthy, untracked, or absent.
    * Single-writer contract as refit: pause the ingest sink. */
  def refitAnnIvfIndexIfSkewed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, boundBp: Long, nlist: Int = 32, maxIter: Int = 10,
      seed: Long = 42L, targetBytes: Long = 128L << 20)
      : Option[(Long, Seq[Seq[Double]], String)] =
    for {
      lv <- latestVersion(spark, indexDir)
      occ <- readIndexOccupancy(spark, indexDir, lv)
      if occ.skewBp > boundBp
      (centers, v) <- refitAnnIvfIndex(spark, indexDir, nlist, maxIter,
        seed, targetBytes)
    } yield (occ.skewBp, centers, v)

  /** The SQ8 twin of [[refitAnnIvfIndex]] — here the log stores LOSSY
    * byte codes, so the rebuild re-fits quantizers (coarse centers +
    * per-dim range) and re-encodes from the SOURCE catalog the caller
    * supplies, then commits through the same protocol: one pointer
    * rename, pinned readers unaffected, pre-rebuild versions
    * time-travelable, ingest commit memory carried. Values drifted
    * outside the old fitted range stop saturating the moment the new
    * range lands. Full pass by design; single-writer contract: pause
    * the ingest sink. Returns (refitted op template, version). */
  def rebuildAnnSqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, items: DataFrame,
      itemIdCol: String = "item_id", itemVecCol: String = "embedding",
      nlist: Int = 32, maxIter: Int = 10, seed: Long = 42L,
      targetBytes: Long = 128L << 20): Option[(graft.ops.AnnSq, String)] =
    latestVersion(spark, indexDir).map { lv =>
      val op = graft.ops.AnnSq.fit(items, "query_id", "query_vec",
        itemIdCol, itemVecCol, nlist = nlist, maxIter = maxIter, seed = seed)
      val coded = graft.ops.AnnSq.index(items, op.centers, op.mins, op.maxs,
        itemIdCol, itemVecCol)
      val (fs, p) = graft.core.VersionedDir.fsOf(spark, indexDir)
      val oldBytes = readManifest(spark, s"$indexDir/$lv/manifest")
        .map(e => fs.getContentSummary(
          new org.apache.hadoop.fs.Path(p, s"deltas/${e.delta}")).getLength)
        .sum
      val nFiles =
        math.max(1L, (oldBytes + targetBytes - 1) / targetBytes).toInt
      val v = graft.core.VersionedDir.reserveNextVersion(spark, indexDir)
      val delta = "d" + v.drop(1)
      coded.repartition(nFiles).write.mode("overwrite")
        .parquet(s"$indexDir/deltas/$delta/index")
      writeDeltaBucketCounts(spark, s"$indexDir/deltas/$delta", "__cid")
      writeManifest(spark, s"$indexDir/$v/manifest", Seq(manifestEntryAt(
        spark, s"$indexDir/deltas/$delta/index", delta, "__item_id",
        spark.read.parquet(s"$indexDir/deltas/$delta/index"))))
      writeOccupancy(spark, indexDir, v, Seq(delta), "__cid",
        op.centers.size.toLong)
      writeTxn(spark, indexDir, v, "sq-rebuild", -1L)
      writePointer(spark, indexDir, v, Some(lv))
      (op, v)
    }

  /** The PQ action of the drift→action table
    * ([[graft.ops.PqCodebookDrift]] is the trigger): re-fit ONLY the
    * residual sub-codebooks against `op`'s FROZEN coarse quantizer
    * ([[graft.ops.AnnIvfPq.refitCodebooks]] — the cheap rebuild for
    * residual distributions drifting WITHIN stable lists: coarse
    * assignment, probe routing and list layout are untouched by
    * construction), re-encode from the SOURCE catalog the caller
    * supplies (codes are lossy — the log cannot re-derive residuals),
    * and commit the new code table as the next version through the same
    * one-rename protocol: pinned readers unaffected, pre-rebuild
    * versions time-travelable, ingest commit memory carried. When the
    * COARSE report also fires, re-fit both stages
    * ([[graft.ops.AnnIvfPq.fit]]) instead. Full pass by design;
    * single-writer contract: pause the ingest sink. Returns
    * (refit op, version). */
  def rebuildAnnPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, op: graft.ops.AnnIvfPq, items: DataFrame,
      maxIter: Int = 10, seed: Long = 42L,
      targetBytes: Long = 128L << 20): Option[(graft.ops.AnnIvfPq, String)] =
    latestVersion(spark, indexDir).map { lv =>
      val refit = graft.ops.AnnIvfPq.refitCodebooks(op, items, maxIter, seed)
      val coded = graft.ops.AnnIvfPq.index(items, refit.centers,
        refit.codebooks, op.itemIdCol, op.itemVecCol)
      val (fs, p) = graft.core.VersionedDir.fsOf(spark, indexDir)
      val oldBytes = readManifest(spark, s"$indexDir/$lv/manifest")
        .map(e => fs.getContentSummary(
          new org.apache.hadoop.fs.Path(p, s"deltas/${e.delta}")).getLength)
        .sum
      val nFiles =
        math.max(1L, (oldBytes + targetBytes - 1) / targetBytes).toInt
      val v = graft.core.VersionedDir.reserveNextVersion(spark, indexDir)
      val delta = "d" + v.drop(1)
      coded.repartition(nFiles).write.mode("overwrite")
        .parquet(s"$indexDir/deltas/$delta/index")
      writeDeltaBucketCounts(spark, s"$indexDir/deltas/$delta", "__cid")
      writeManifest(spark, s"$indexDir/$v/manifest", Seq(manifestEntryAt(
        spark, s"$indexDir/deltas/$delta/index", delta, "__item_id",
        spark.read.parquet(s"$indexDir/deltas/$delta/index"))))
      writeOccupancy(spark, indexDir, v, Seq(delta), "__cid",
        refit.centers.size.toLong)
      writeTxn(spark, indexDir, v, "pq-rebuild", -1L)
      writePointer(spark, indexDir, v, Some(lv))
      (refit, v)
    }

  /** Load the live SQ8 coded index from a sink-maintained directory —
    * probe via `op.transformIndexed(queries, loadAnnSqIndex(...).get)`. */
  def loadAnnSqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[DataFrame] =
    latestVersion(spark, indexDir).map(loadIndexDeltas(spark, indexDir, _))

  /** Online ranking-quality monitoring — the streaming twin of
    * [[graft.ops.EvalRanking]]: a served-candidates stream (query id,
    * item id, rank) appends one integer-exact metric row per evaluated
    * query (MRR / recall@k / NDCG@k vs the op's static relevance set) to
    * a parquet monitoring log, stamped with the micro-batch id.
    *
    * Contract: a query's FULL ranked list arrives within one micro-batch
    * (request-atomic — the natural serving shape: a ranker emits its
    * top-k as one response). Under that contract the metric rows are
    * IDENTICAL to the batch op over the concatenated stream for any
    * batch boundaries, because EvalRanking is per-query independent
    * [spec-pinned]. A list split across batches would score as two
    * partial lists — the same disjointness discipline every ingest sink
    * here documents. Cost per batch: one bounded equi-join + one
    * per-query groupBy over the batch only.
    *
    * The log is a versioned delta chain like every other sink here
    * (each batch's metric rows land as one immutable `deltas/d<n>`
    * stamped `batch_id`, O(batch) bytes), read back via
    * [[loadEvalLog]]. That buys the full commit protocol for free:
    * retries of committed batches are no-ops (txn markers), retention
    * vacuum bounds version metadata, and `autoCompactDeltas` runs the
    * size-tiered OPTIMIZE so a monitoring log that accumulates one tiny
    * delta per micro-batch FOREVER keeps a bounded file count for
    * readers — an append-forever log whose listing grows without bound
    * is itself a scale bug [spec-pinned]. */
  def evalRankingSink(outDir: String, op: graft.ops.EvalRanking,
      appId: String = "eval-monitor",
      retainVersions: Option[Int] = None,
      autoCompactDeltas: Option[Int] = None): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      if (!latestTxn(batch.sparkSession, outDir, appId).exists(_ >= batchId)) {
        val spark = batch.sparkSession
        // metric rows are QUERY-scale (one per evaluated query in the
        // batch) — coalesce to one file per delta so the log's physical
        // listing tracks the delta count, not the shuffle partitioning
        commitIndexDelta(spark, outDir,
          op.transform(batch).withColumn("batch_id", lit(batchId)).coalesce(1),
          "query_id", appId, batchId, retainVersions)
        maybeCompact(spark, outDir, autoCompactDeltas, retainVersions,
          () => compactIndexState(spark, outDir,
            tierFraction = Some(AutoCompactTierFraction),
            maxKeepers = autoCompactDeltas.get - 1))
      }
  }

  /** The accumulated monitoring log maintained by [[evalRankingSink]]
    * (None before the first non-empty batch): the union of the live
    * manifest's deltas — one multi-path scan over a BOUNDED file set
    * when the sink compacts. */
  def loadEvalLog(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Option[DataFrame] =
    latestVersion(spark, outDir).map(loadIndexDeltas(spark, outDir, _))

  /** Retention vacuum for a sink-maintained versioned index directory
    * (BM25 / IVF / SQ8, and the corpus log — same layout): deletes all
    * but the `keep` most-recent `v<n>` dirs, NEVER the `_LATEST`-pointed
    * one (it is force-kept even when `keep = 0`). Returns the deleted
    * version names. Version dirs hold only manifest/meta/txn metadata in
    * the delta layout, so this reclaims history bookkeeping; the
    * payload deltas stay referenced by the live manifest — deltas no
    * RETAINED manifest references (post-compaction chains) reclaim via
    * [[vacuumCorpusDeltas]].
    *
    * Retention contract: a reader pins a version by reading `_LATEST`
    * once at load; `keep` must cover the longest in-flight read (keep = 2
    * tolerates one full probe spanning a pointer swap). Safe to run
    * concurrently with the sink — the sink only ever writes NEW version
    * dirs and the pointer, and the pointed version is never deleted. */
  def vacuumIndexVersions(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, keep: Int = 2): Seq[String] =
    graft.core.VersionedDir.vacuum(spark, indexDir, keep)

  /** OPTIMIZE for a sink-maintained index log (BM25 / IVF / SQ8): after
    * N ingest batches the live manifest lists N small deltas and every
    * probe pays N-way read amplification (plus, for BM25, the per-term
    * dfreq roll-up at load); this republishes the SAME index as one
    * delta sized toward `targetBytes` per file, as the next committed
    * version in the log — content-neutral, probes identical
    * [spec-pinned]. BM25's dfreq is pre-rolled per term here, so the
    * loader's roll-up becomes a no-op-shaped aggregate over already-
    * unique terms; cumulative meta copies forward unchanged. Superseded
    * versions and the orphaned pre-compaction deltas reclaim via
    * [[vacuumIndexVersions]] + [[vacuumCorpusDeltas]]. Single-writer
    * contract: pause the ingest sink around the call, exactly like
    * [[compactCorpusState]]. Returns the committed version (None if no
    * live index).
    *
    * When `tierFraction` is set the rewrite is TIERED instead of full —
    * the LSM size-tiering rule: a delta holding at least that fraction
    * of the chain's bytes is a KEEPER (its files untouched, its zone map
    * carried forward from the old manifest), and only the small tail
    * merges into one new delta. A mature 1 TB index that accumulated
    * many tiny late batches therefore rewrites megabytes, never the
    * terabyte base; small merged runs grow geometrically until they
    * graduate to keepers, so amortized write amplification per row is
    * O(log(index/batch)) rewrites, the LSM bound. Returns None when
    * fewer than two deltas qualify for the merge (nothing useful to
    * compact — all-keeper chains stay as they are). */
  def compactIndexState(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetBytes: Long = 128L << 20,
      tierFraction: Option[Double] = None,
      maxKeepers: Int = Int.MaxValue): Option[String] =
    latestVersion(spark, indexDir).flatMap { lv =>
      val (fs, p) = graft.core.VersionedDir.fsOf(spark, indexDir)
      val entries = readManifest(spark, s"$indexDir/$lv/manifest")
      val (keepers, merge) = tierSplit(
        fs, p, "deltas", entries.map(_.delta), tierFraction, maxKeepers)
      if (merge.size < 2) None
      else Some {
        val kept = entries.filter(e => keepers.contains(e.delta))
        // delta table names (postings+dfreq for BM25, index for ANN) from
        // the layout itself — one compaction serves every index family
        val tables = fs.listStatus(
          new org.apache.hadoop.fs.Path(p, s"deltas/${merge.head}"))
          .filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
        val v = graft.core.VersionedDir.reserveNextVersion(spark, indexDir)
        val delta = "d" + v.drop(1)
        tables.foreach { t =>
          val paths = merge.map(d => s"$indexDir/deltas/$d/$t")
          // a delta written before occupancy tracking may lack the
          // `bcounts` side histogram: merging a PARTIAL set would
          // undercount, so bcounts only merges when every member has it
          // (otherwise the occupancy roll-up derives the merged delta's
          // counts from its index rows on the fly — exact, bounded)
          val allPresent = paths.forall(pp =>
            fs.exists(new org.apache.hadoop.fs.Path(pp)))
          if (t != "bcounts" || allPresent) {
            val bytes = paths.map(pp => fs.getContentSummary(
              new org.apache.hadoop.fs.Path(pp)).getLength).sum
            val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
            // protocol-owned tables read with their fixed schemas (no
            // inference job); data tables (index) keep inference
            val unioned = (t match {
              case "dfreq" => spark.read.schema(dfreqSchema)
              case "bcounts" => spark.read.schema(bcountsSchema)
              case "postings" => spark.read.schema(postingsSchema)
              case _ => spark.read
            }).parquet(paths: _*)
            // partial pre-roll is exact: the loader still sums per
            // term/bucket across deltas, so rolling up WITHIN the merged
            // set commutes
            val df =
              if (t == "dfreq")
                unioned.groupBy(col("__term")).agg(sum(col("__df")).as("__df"))
              else if (t == "bcounts")
                unioned.groupBy(col("__b")).agg(sum(col("__c")).as("__c"))
              else unioned
            df.repartition(nFiles).write.mode("overwrite")
              .parquet(s"$indexDir/deltas/$delta/$t")
          }
        }
        if (fs.exists(new org.apache.hadoop.fs.Path(p, s"$lv/meta"))) {
          val (n0, s0) = readMeta(spark, s"$indexDir/$lv/meta")
          writeMeta(spark, s"$indexDir/$v/meta", n0, s0)
        }
        // merged zone map from the OLD entries — no scan: min of mins /
        // max of maxs, conservative None if any member had no stats
        val mergedOld = entries.filter(e => merge.contains(e.delta))
        val entry = ManifestEntry(delta,
          if (mergedOld.forall(_.min_id.isDefined))
            mergedOld.flatMap(_.min_id).minOption else None,
          if (mergedOld.forall(_.max_id.isDefined))
            mergedOld.flatMap(_.max_id).maxOption else None)
        writeManifest(spark, s"$indexDir/$v/manifest", kept :+ entry)
        // compaction rewrites files, never rows — the occupancy summary
        // is invariant, so the stamped line carries forward verbatim
        readSmallFile(spark, s"$indexDir/$lv/occupancy").foreach(
          writeSmallFile(spark, s"$indexDir/$v/occupancy", _))
        writeTxn(spark, indexDir, v, "index-optimize", -1L)
        writePointer(spark, indexDir, v, Some(lv))
        v
      }
    }

  /** The size-tiered keeper/merge split over a delta chain: a delta is
    * a KEEPER iff its bytes are at least `fraction` of the chain's total
    * AND it ranks among the `maxKeepers` largest (the cap restores the
    * read fan-in bound even over equal-sized deltas, where the fraction
    * rule alone would exempt everything); fraction None = full rewrite,
    * nothing kept. Returns (keepers, mergeSet) in chain order. */
  private def tierSplit(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, sub: String, names: Seq[String],
      fraction: Option[Double], maxKeepers: Int): (Seq[String], Seq[String]) =
    fraction match {
      case None => (Seq.empty, names)
      case Some(f) =>
        val sizes = names.map(n => n -> fs.getContentSummary(
          new org.apache.hadoop.fs.Path(root, s"$sub/$n")).getLength).toMap
        val total = sizes.valuesIterator.sum
        val keep = names.sortBy(n => -sizes(n)).take(math.max(0, maxKeepers))
          .takeWhile(n => sizes(n) >= f * total).toSet
        names.partition(keep)
    }

  /** Post-commit auto-OPTIMIZE for a delta+manifest log (the sinks'
    * `autoCompactDeltas` hook): when the LIVE manifest chain exceeds
    * `maxDeltas` entries, run the matching compaction as the next
    * commit, then reclaim deltas no retained version references. Runs
    * on the sink's own thread right after its commit (the table-format
    * auto-OPTIMIZE shape), so the single-writer discipline holds and
    * the lineage check never fires against ourselves. The cost model is
    * the LSM one: each row is rewritten every ~maxDeltas commits —
    * amortized write amplification 1/maxDeltas of the index per commit,
    * bounding the read-side union fan-in at maxDeltas in exchange.
    * The rewrite itself is SIZE-TIERED ([[compactIndexState]]'s
    * `tierFraction` = [[AutoCompactTierFraction]]): deltas holding ≥ 1/8
    * of the chain's bytes are kept untouched and only the small tail
    * merges — so a mature index that accumulated many tiny late batches
    * merges the megabytes of tail, never rewrites the base [spec-pinned];
    * merged runs grow geometrically until they graduate to keepers (the
    * LSM amortized O(log) bound). Pick maxDeltas ≈ tolerable read
    * fan-in; probe plans are unchanged either way [lifecycle-spec
    * pinned]. */
  private def maybeCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxDeltas: Option[Int], retainVersions: Option[Int],
      compact: () => Option[String]): Unit =
    maxDeltas.foreach { t =>
      require(t >= 1, s"autoCompactDeltas must be >= 1, got $t")
      latestVersion(spark, dir).foreach { lv =>
        if (readManifest(spark, s"$dir/$lv/manifest").size > t &&
            compact().isDefined) {
          // retention ran at the data commit, BEFORE the compaction
          // commit existed — re-run it so the pre-compaction version
          // (whose manifest still references the collapsed chain) ages
          // out under the same keep budget, letting the delta reclaim
          // actually delete; without this the old chain lingers until
          // the next unrelated commit's vacuum
          retainVersions.foreach(vacuumIndexVersions(spark, dir, _))
          vacuumCorpusDeltas(spark, dir)
        }
      }
    }

  /** A delta is exempt from auto-compaction rewrites while it holds at
    * least this fraction of its chain's bytes (1/8 — large enough that
    * at most 8 keepers exist, small enough that merged runs graduate
    * quickly). */
  val AutoCompactTierFraction: Double = 0.125

  /** foreachBatch sink maintaining a persisted SQ8 coded index
    * ([[graft.ops.AnnSq]]) from an item stream under `op`'s FROZEN
    * quantizers (coarse centroids + scalar range): each batch is
    * assigned and byte-encoded map-side (per-item work against quantizer
    * literals, the existing index never re-read) and lands as an
    * immutable `deltas/d<n>` dir — per-batch compute AND persist both
    * O(batch). Staleness is the documented trade — values drifting
    * outside the fitted range saturate; monitor recall, refit + rebuild
    * on drift. Batches must carry disjoint item ids. */
  def annSqIndexSink(indexDir: String, op: graft.ops.AnnSq,
      appId: String = "sq-ingest",
      retainVersions: Option[Int] = None,
      autoCompactDeltas: Option[Int] = None): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      if (!latestTxn(batch.sparkSession, indexDir, appId).exists(_ >= batchId)) {
        commitIndexDelta(batch.sparkSession, indexDir,
          graft.ops.AnnSq.index(batch, op.centers, op.mins, op.maxs,
            op.itemIdCol, op.itemVecCol),
          "__item_id", appId, batchId, retainVersions,
          occupancy = Some(("__cid", op.centers.size.toLong)))
        maybeCompact(batch.sparkSession, indexDir, autoCompactDeltas,
          retainVersions,
          () => compactIndexState(batch.sparkSession, indexDir,
            tierFraction = Some(AutoCompactTierFraction),
            maxKeepers = autoCompactDeltas.get - 1))
      }
  }

  /** foreachBatch sink maintaining a persisted IVF-PQ code index
    * ([[graft.ops.AnnIvfPq]]) from an item stream under `op`'s FROZEN
    * quantizers (coarse centroids + residual sub-codebooks): each batch
    * is encoded map-side through the one shared
    * [[graft.ops.AnnIvfPq.index]] definition (per-item fused PqEncode
    * against quantizer literals, the existing index never re-read) and
    * lands as an immutable `deltas/d<n>` dir — per-batch compute AND
    * persist both O(batch). The probe store is the ~m-bytes-per-item
    * code table this log maintains; the refine store stays the raw
    * catalog, fetched by id. Staleness is the documented trade —
    * [[graft.ops.PqCodebookDrift]] is the monitor,
    * [[graft.ops.AnnIvfPq.refitCodebooks]] + a from-log re-encode the
    * cheap action. Batches must carry disjoint item ids. */
  def annPqIndexSink(indexDir: String, op: graft.ops.AnnIvfPq,
      appId: String = "pq-ingest",
      retainVersions: Option[Int] = None,
      autoCompactDeltas: Option[Int] = None): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      if (!latestTxn(batch.sparkSession, indexDir, appId).exists(_ >= batchId)) {
        commitIndexDelta(batch.sparkSession, indexDir,
          graft.ops.AnnIvfPq.index(batch, op.centers, op.codebooks,
            op.itemIdCol, op.itemVecCol),
          "__item_id", appId, batchId, retainVersions,
          occupancy = Some(("__cid", op.centers.size.toLong)))
        maybeCompact(batch.sparkSession, indexDir, autoCompactDeltas,
          retainVersions,
          () => compactIndexState(batch.sparkSession, indexDir,
            tierFraction = Some(AutoCompactTierFraction),
            maxKeepers = autoCompactDeltas.get - 1))
      }
  }

  /** Load the live PQ code table from a sink-maintained directory —
    * probe via `op.asRowsIndexed(queries, loadAnnPqIndex(...).get)`. */
  def loadAnnPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[DataFrame] =
    latestVersion(spark, indexDir).map(loadIndexDeltas(spark, indexDir, _))

  /** foreachBatch sink maintaining a persisted LSH bucket index
    * ([[graft.ops.AnnLsh]]) from an item stream under the op's FROZEN
    * hyperplane center (resolved ONCE at sink construction — a
    * per-batch recomputed mean would drift in the last bits and flip
    * borderline bucket signs): each batch buckets map-side through the
    * one shared [[graft.ops.AnnLsh.index]] definition and lands as an
    * immutable `deltas/d<n>` dir — per-batch compute AND persist both
    * O(batch). Center staleness is the documented trade: a drifting
    * catalog mean skews bucket occupancy; monitor the recall rows,
    * re-center + rebuild on drift. Batches must carry disjoint item ids. */
  def annLshIndexSink(indexDir: String, op: graft.ops.AnnLsh,
      appId: String = "lsh-ingest",
      retainVersions: Option[Int] = None,
      autoCompactDeltas: Option[Int] = None): (DataFrame, Long) => Unit = {
    val mu = op.resolvedCenter
    (batch: DataFrame, batchId: Long) =>
      if (!latestTxn(batch.sparkSession, indexDir, appId).exists(_ >= batchId)) {
        commitIndexDelta(batch.sparkSession, indexDir,
          graft.ops.AnnLsh.index(batch, mu, op.numBits,
            op.itemIdCol, op.itemVecCol),
          "__item_id", appId, batchId, retainVersions,
          occupancy = Some(("__bucket", 1L << op.numBits)))
        maybeCompact(batch.sparkSession, indexDir, autoCompactDeltas,
          retainVersions,
          () => compactIndexState(batch.sparkSession, indexDir,
            tierFraction = Some(AutoCompactTierFraction),
            maxKeepers = autoCompactDeltas.get - 1))
      }
  }

  /** Load the live LSH bucket table from a sink-maintained directory —
    * probe via `op.asRowsIndexed(queries, loadAnnLshIndex(...).get)`. */
  def loadAnnLshIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[DataFrame] =
    latestVersion(spark, indexDir).map(loadIndexDeltas(spark, indexDir, _))

  /** One manifest row: a delta name plus its id ZONE MAP (min/max of
    * the id column over the delta's rows, null for an empty delta) —
    * the listing-level data-skipping stats [[loadCorpusPruned]] uses to
    * drop whole deltas before any parquet footer is opened. */
  case class ManifestEntry(delta: String,
      min_id: Option[Long], max_id: Option[Long])

  /** Zone-map bounds from the delta's own parquet FOOTERS — the write
    * already computed exact per-row-group min/max for integral columns,
    * so the commit protocol reads a few KB of footer metadata instead of
    * scheduling a Spark aggregate job per commit (the Delta/Iceberg
    * manifest discipline; at 3 micro-batches × several sinks per
    * lifecycle row, the per-commit job was a measurable slice of the
    * whole streaming family's latency). Returns None — caller falls back
    * to the aggregate — when the id column is not INT32/INT64 (string
    * footer stats order lexicographically, NOT the numeric zone order
    * the pruned reader compares in) or any file's stats are absent
    * (conservative: the job recovers full pruning effectiveness).
    * All-null blocks contribute nothing, matching the aggregate's
    * null-skipping min/max. */
  private[streaming] def zoneFromFooters(
      spark: org.apache.spark.sql.SparkSession,
      deltaPath: String, idCol: String): Option[(Option[Long], Option[Long])] =
    try {
      val p = new org.apache.hadoop.fs.Path(deltaPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(p)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var any = false
      val ok = files.forall { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f.getPath, spark.sparkContext.hadoopConfiguration))
        try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.forall { block =>
            block.getColumns.asScala.find(
              _.getPath.toDotString == idCol) match {
              // id column absent from the file: decline — the aggregate
              // fallback preserves the loud missing-column error
              case None => false
              case Some(cc) =>
                import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
                val tn = cc.getPrimitiveType.getPrimitiveTypeName
                if (tn != INT64 && tn != INT32) false
                else {
                  val st = cc.getStatistics
                  if (st == null || st.isEmpty) false
                  else {
                    if (st.hasNonNullValue) {
                      mn = math.min(mn,
                        st.genericGetMin.asInstanceOf[Number].longValue())
                      mx = math.max(mx,
                        st.genericGetMax.asInstanceOf[Number].longValue())
                      any = true
                    }
                    true
                  }
                }
            }
          }
        } finally reader.close()
      }
      if (!ok) None
      else if (!any) Some((None, None))
      else Some((Some(mn), Some(mx)))
    } catch { case _: Throwable => None }

  /** [[manifestEntry]] for a delta already ON DISK at `deltaPath`:
    * footer-stats zone map when replicable, the aggregate job otherwise. */
  private def manifestEntryAt(spark: org.apache.spark.sql.SparkSession,
      deltaPath: String, delta: String, idCol: String,
      fallback: => DataFrame): ManifestEntry =
    zoneFromFooters(spark, deltaPath, idCol)
      .map { case (mn, mx) => ManifestEntry(delta, mn, mx) }
      .getOrElse(manifestEntry(delta, fallback, idCol))

  private def manifestEntry(delta: String,
      rows: DataFrame, idCol: String): ManifestEntry = {
    // cast BEFORE min/max: a string id column's native min/max is
    // lexicographic ("100" < "99"), which would build an inverted zone
    // map and make the pruned read silently drop matching deltas —
    // casting first keeps the aggregate in the comparison's own (long)
    // ordering, and non-numeric ids become null = conservatively kept
    val s = rows.agg(min(col(idCol).cast("long")),
      max(col(idCol).cast("long"))).head()
    ManifestEntry(delta,
      if (s.isNullAt(0)) None else Some(s.getLong(0)),
      if (s.isNullAt(1)) None else Some(s.getLong(1)))
  }

  // Commit-protocol metadata (manifest / meta / txn / source markers) is
  // DRIVER-KNOWN and metadata-scale — a handful of values per commit.
  // Persisting it through Spark parquet jobs cost 3+ jobs per commit and
  // as many more per load (scheduler overhead dominated the whole
  // lifecycle family's latency at small batch sizes). It is now written
  // and read directly through the Hadoop FS as one-line-per-record text,
  // like the `_LATEST` pointer — zero Spark jobs. The files live inside
  // not-yet-published v<n> dirs until the pointer swap, so no reader
  // ever observes a partial write; the DATA (deltas, digest index)
  // stays parquet.
  private def writeSmallFile(spark: org.apache.spark.sql.SparkSession,
      path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readSmallFile(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    // a DIRECTORY here is a state dir written by the pre-text-file
    // revision (commit metadata as parquet directories) — fail with the
    // diagnosis instead of an opaque can't-open-a-directory IOException
    else if (fs.getFileStatus(p).isDirectory)
      throw new IllegalStateException(
        s"$path is a directory — legacy parquet-layout commit metadata " +
        "from an older revision of this log; rebuild the state dir " +
        "(re-run the stream from its source) before reading it here")
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  // one `delta,min,max` line per entry (empty field = no stat); delta
  // names are log-generated (`d<n>`), so the separator is collision-free
  private[graft] def readManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[ManifestEntry] =
    readSmallFile(spark, path).getOrElse(
      throw new IllegalStateException(s"missing manifest: $path"))
      .split("\n").iterator.filter(_.nonEmpty).map { line =>
        val f = line.split(",", -1)
        ManifestEntry(f(0),
          if (f(1).isEmpty) None else Some(f(1).toLong),
          if (f(2).isEmpty) None else Some(f(2).toLong))
      }.toIndexedSeq

  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, entries: Seq[ManifestEntry]): Unit =
    writeSmallFile(spark, path, entries.map(e =>
      s"${e.delta},${e.min_id.getOrElse("")},${e.max_id.getOrElse("")}")
      .mkString("\n"))

  /** The live accepted corpus maintained by [[corpusIngestSink]] (None
    * before the first accepting batch): resolve the pointed version's
    * manifest, union the delta files it references. The manifest is
    * metadata-scale (one row per ingest batch), so the collect is
    * bounded; the union is a multi-path parquet scan — no shuffle. */
  def loadCorpus(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] =
    latestVersion(spark, stateDir).map { v =>
      val deltas = readManifest(spark, s"$stateDir/$v/manifest").map(_.delta)
      spark.read.parquet(deltas.map(d => s"$stateDir/deltas/$d"): _*)
    }

  /** Id-range read over the live corpus with MANIFEST-LEVEL data
    * skipping: deltas whose [min_id, max_id] zone map cannot overlap
    * `[minId, maxId]` are dropped before any parquet footer is opened —
    * the listing-level complement to parquet's own row-group stats. At
    * 100 TB with millions of deltas that is the difference between a
    * metadata read and a million footer opens for a point-range query.
    * Pruning is an optimization only: the residual `between` filter
    * (itself pushed into the surviving scans) keeps the result exactly
    * `loadCorpus.filter(idCol between ...)` [spec-pinned]. Deltas with
    * null stats (empty) are kept conservatively. */
  def loadCorpusPruned(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, minId: Long, maxId: Long,
      idCol: String = "doc_id"): Option[DataFrame] =
    latestVersion(spark, stateDir).map { v =>
      val entries = readManifest(spark, s"$stateDir/$v/manifest")
      val chosen = entries.filter(e =>
        e.min_id.isEmpty || e.max_id.isEmpty ||
          (e.min_id.get <= maxId && e.max_id.get >= minId))
      // nothing overlaps: ONE delta carries the schema (the residual
      // filter still yields zero rows) — listing every delta here would
      // pay the full-footer cost the zone maps exist to avoid
      val paths = (if (chosen.nonEmpty) chosen else entries.take(1))
        .map(e => s"$stateDir/deltas/${e.delta}")
      spark.read.parquet(paths: _*)
        .filter(col(idCol).between(minId, maxId))
    }

  /** A specific RETAINED version's corpus (time travel over the commit
    * log — audit an older snapshot, or feed two versions to
    * [[graft.ops.SnapshotDiff]]: the `snapshot_diff_versions` workload
    * over live sink state). None if the version was never committed or
    * its manifest has been vacuumed; retention bounds the history
    * window, exactly like [[graft.core.VersionedDir.readAt]]. */
  def loadCorpusAt(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, version: String): Option[DataFrame] = {
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, stateDir)
    val m = new org.apache.hadoop.fs.Path(p, s"$version/manifest")
    if (!isCommitted(spark, stateDir, version) || !fs.exists(m)) None
    else Some {
      val deltas = readManifest(spark, m.toString).map(_.delta)
      spark.read.parquet(
        deltas.map(d => s"$stateDir/deltas/$d"): _*)
    }
  }

  /** Rows added to the corpus SINCE a retained version — the append-only
    * incremental-read fast path: a manifest-level set difference picks
    * the delta files the old version does not reference, and ONLY those
    * files are scanned (cost ∝ new data, metadata-scale diff; at 100 TB
    * this is how a downstream signal/index recompute reads a day's drop
    * instead of the corpus). Correct only while the log is append-only
    * between the two versions: [[purgeCorpusState]] /
    * [[compactCorpusState]] REWRITE deltas, making "new delta files" ≠
    * "new rows" — across such commits use the content-keyed reconcile
    * ([[graft.ops.SignalReconcile]]) instead, which this fast path
    * complements — a rewrite is DETECTED here (the old manifest is no
    * longer a subset of the live one) and answered with None rather
    * than mislabeling the rewritten corpus as "added rows". None also
    * if `sinceVersion`'s manifest is vacuumed or no version is live;
    * empty frame when nothing landed since. */
  def corpusDeltasSince(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, sinceVersion: String): Option[DataFrame] = {
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, stateDir)
    val old = new org.apache.hadoop.fs.Path(p, s"$sinceVersion/manifest")
    if (!fs.exists(old)) None
    else latestVersion(spark, stateDir).flatMap { lv =>
      val seen = readManifest(spark, old.toString).map(_.delta).toSet
      val liveM = readManifest(spark, s"$stateDir/$lv/manifest").map(_.delta)
      if (!seen.subsetOf(liveM.toSet)) None // purge/compact rewrote deltas
      else Some {
        val fresh = liveM.filterNot(seen)
        if (fresh.isEmpty) // one delta carries the schema at O(1) cost
          spark.read.parquet(s"$stateDir/deltas/${liveM.head}").limit(0)
        else spark.read.parquet(
          fresh.map(d => s"$stateDir/deltas/$d"): _*)
      }
    }
  }

  /** Bring the derived signal table up to the LIVE corpus, published as
    * the next version of the signal table's own commit log — IFF the
    * corpus moved since the last signal publication. Append-only corpus
    * moves take the manifest fast path (score ONLY the new delta files,
    * carry the prior table wholesale — cost ∝ new data); takedown /
    * compaction commits fall back to the content-keyed reconcile
    * ([[graft.ops.SignalReconcile]], always correct). Each signal
    * version records the corpus version it was derived from (a `source`
    * marker alongside the data); when the live corpus version equals
    * the latest marker the call is a no-op returning None, which is
    * what makes a foreachBatch RETRY of a committed ingest batch
    * publish nothing instead of stacking content-identical signal
    * versions. A missing marker (crash between data write and marker
    * write, pre-marker versions) re-publishes conservatively —
    * idempotent in content, the same at-least-once stance as every
    * sink here. None too when no corpus version is live yet. */
  def publishSignalsFor(spark: org.apache.spark.sql.SparkSession,
      corpusDir: String, signalDir: String,
      signal: graft.core.EnsembleOp,
      idCol: String = "doc_id",
      retainVersions: Option[Int] = None): Option[String] =
    latestVersion(spark, corpusDir).flatMap { cv =>
      val lastSv = latestVersion(spark, signalDir)
      val lastSrc = lastSv.flatMap(sv =>
        readSmallFile(spark, s"$signalDir/$sv/source").map(_.trim))
      if (lastSrc.contains(cv)) None
      else {
        // APPEND FAST PATH: when the commit chain from the version the
        // prior signals were derived against is append-only (its
        // manifest is a subset of the live one — purge/optimize rewrite
        // deltas and fail this check), the fresh rows are exactly the
        // new deltas: score those files alone and carry the prior table
        // wholesale — per-commit cost ∝ new data, no corpus scan, no
        // reconcile joins. Anything else (takedown, compaction, vacuumed
        // history, no prior) falls back to the content-keyed reconcile,
        // which is always correct.
        val live = readManifest(spark, s"$corpusDir/$cv/manifest")
          .map(_.delta).toSet
        val out = (for {
          pv <- lastSrc
          sv <- lastSv
          oldM <- scala.util.Try(
            readManifest(spark, s"$corpusDir/$pv/manifest")
              .map(_.delta).toSet).toOption
          if oldM.subsetOf(live)
          prior <- graft.core.VersionedDir.readAt(spark, signalDir, sv)
        } yield {
          val freshDeltas = (live -- oldM).toSeq.sorted
          val carried = prior.drop("carried").withColumn("carried", lit(true))
          if (freshDeltas.isEmpty) carried
          else carried.unionByName(
            signal.transform(spark.read.parquet(
              freshDeltas.map(n => s"$corpusDir/deltas/$n"): _*))
              .withColumn("carried", lit(false)))
        }).getOrElse(graft.ops.SignalReconcile.reconciled(
          graft.core.VersionedDir.readLatest(spark, signalDir),
          loadCorpus(spark, corpusDir).get, signal, idCol))
        val v = graft.core.VersionedDir.publish(out, signalDir, retainVersions)
        writeSmallFile(spark, s"$signalDir/$v/source", cv)
        Some(v)
      }
    }

  /** The ingest loop WITH derived-state maintenance — the streaming
    * twin of the whole incremental-curation discipline
    * (`pipeline_incremental_curation`): every micro-batch first commits
    * to the corpus log exactly as [[corpusIngestSink]] does, then
    * [[publishSignalsFor]] reconciles the signal table to the corpus
    * that batch produced. Per-batch signal cost ∝ the batch's keepers:
    * an ingest commit is append-only, so the reconcile takes the
    * manifest fast path — the new delta alone is scored, and the prior
    * signal version carries wholesale, never re-read, never re-scored
    * [poison-pinned]. The table always equals a flat recompute over the
    * live corpus [spec-pinned]. Retries of
    * committed batches publish NOTHING on either log (corpus txn
    * markers + signal source markers). Takedown composes: run
    * [[purgeCorpusState]] then [[publishSignalsFor]] and the purged
    * docs' signals retire with their documents. */
  def curatedCorpusSink(stateDir: String, signalDir: String,
      signal: graft.core.EnsembleOp,
      initialIndex: Option[DataFrame] = None,
      idCol: String = "doc_id", textCol: String = "text",
      normalized: Boolean = true,
      appId: String = "corpus-ingest",
      retainVersions: Option[Int] = None): (DataFrame, Long) => Unit = {
    // the corpus side keeps >= 2 versions: the ingest commit's vacuum
    // runs BEFORE the signal publish reads the previous version's
    // manifest for the append fast path — keep = 1 would delete it
    // every batch and silently demote each reconcile to a full corpus
    // scan (signal retention stays as requested; its versions are not
    // read across batches except the latest)
    val ingest = corpusIngestSink(stateDir, initialIndex, idCol, textCol,
      normalized, appId, retainVersions.map(_.max(2)))
    (batch: DataFrame, batchId: Long) => {
      ingest(batch, batchId)
      publishSignalsFor(batch.sparkSession, stateDir, signalDir, signal,
        idCol, retainVersions)
      ()
    }
  }

  /** The live accepted-corpus digest index maintained by
    * [[corpusIngestSink]] — the state the next ingest labels against.
    * Delta-layout like the corpus itself: `v<n>/index_manifest` lists
    * the live `idxdeltas/x<m>` dirs (each one batch's NEW digests), and
    * the index is their union — so a batch commit writes O(batch)
    * digest bytes, never the cumulative index (the same
    * write-amplification fix the postings sinks got; purge/compact
    * collapse the chain to one delta as their full pass already pays). */
  def loadCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] =
    latestVersion(spark, stateDir).map(v =>
      loadIndexChain(spark, stateDir, v))

  private def loadIndexChain(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, version: String): DataFrame = {
    val names = readIndexManifest(spark, s"$stateDir/$version/index_manifest")
    // fixed protocol schema — skips the per-read schema-inference job
    spark.read.schema(digestIndexSchema)
      .parquet(names.map(n => s"$stateDir/idxdeltas/$n"): _*)
  }

  private def readIndexManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] =
    readSmallFile(spark, path).getOrElse(
      throw new IllegalStateException(s"missing index manifest: $path"))
      .split("\n").iterator.filter(_.nonEmpty).toIndexedSeq

  private def writeIndexManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, names: Seq[String]): Unit =
    writeSmallFile(spark, path, names.mkString("\n"))

  /** foreachBatch sink maintaining the ACCEPTED CORPUS itself as
    * versioned state — the live closure of the ingest loop
    * ([[graft.ops.IncrementalDedup]] + `updatedIndex`, which batch
    * deployments run by hand between drops): every micro-batch is
    * labeled against the LIVE digest index, its keepers land as an
    * immutable delta, and the (manifest, index) pair publishes as ONE
    * new version — co-versioned in a single `v<batchId>` dir, so a
    * reader can never observe a corpus whose digest index lags it.
    *
    * Layout: `deltas/d<n>` holds batch n's keepers (append-only,
    * stamped `ingest_batch = n` for drop-level lineage); `v<n>/manifest`
    * lists the live delta names; the digest index is its own delta
    * chain (`v<n>/index_manifest` over `idxdeltas/x<m>` dirs — each one
    * batch's NEW digests). Per-batch cost: the labeling joins ∝ the
    * batch, one corpus-delta write ∝ the batch's keepers, one
    * digest-delta write ∝ the batch's accepted digests — NOTHING
    * cumulative is rewritten per commit; purge/compact collapse both
    * chains as part of the full pass they already pay. Version vacuum
    * ([[vacuumIndexVersions]] / `retainVersions`) reclaims superseded
    * manifest+index copies only — deltas stay, every live manifest
    * references them all. Retroactive removal (takedown) is
    * [[graft.ops.Purge]]'s batch job, as everywhere in this family.
    *
    * Determinism: the accepted digest SET equals the batch loop's under
    * ANY micro-batch boundaries (first-accepted-wins is content-keyed);
    * WHICH doc id keeps a digest follows the op's rule — min id within a
    * batch, first arrival across batches — so the full corpus equals the
    * sequential batch loop over the same batches [spec-pinned, both].
    * A batch with no keepers publishes nothing (the empty-batch
    * identity). `initialIndex` seeds the first version's labeling when a
    * prior corpus exists (its docs are not replayed into the stream
    * corpus — the stream owns only its own deltas).
    *
    * Commit identity: version names are LOG-ordered (max existing + 1),
    * not batchId-named, so other writers — [[purgeCorpusState]], a
    * restarted stream on a fresh checkpoint — share the same log without
    * collisions. Retry idempotence comes from a per-version txn marker
    * (`appId`, `batchId`): a retry of a batch whose commit already moved
    * the pointer is a no-op; a NEW stream over the same directory must
    * carry a new `appId` (the fresh-checkpoint contract, exactly the
    * table-format transactional-writer discipline). */
  def corpusIngestSink(stateDir: String,
      initialIndex: Option[DataFrame] = None,
      idCol: String = "doc_id", textCol: String = "text",
      normalized: Boolean = true,
      appId: String = "corpus-ingest",
      retainVersions: Option[Int] = None,
      autoCompactDeltas: Option[Int] = None): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      {
        val spark = batch.sparkSession
        import spark.implicits._
        // per-app txn dedup across retained history (see latestTxn):
        // a batch retry after an intervening purge/optimize commit must
        // not recommit and duplicate its keepers. No separate
        // batch.isEmpty probe — keepers.isEmpty below gates the commit
        // (an empty batch has no keepers), so the pre-check was one more
        // scheduled job per commit for a fact the labeling pass proves
        if (!latestTxn(spark, stateDir, appId).exists(_ >= batchId)) {
          val live = latestVersion(spark, stateDir)
          val chainIndex = live.map(v => loadIndexChain(spark, stateDir, v))
            .orElse(initialIndex.map(_.select(col("content_hash"))))
          // bloom gate (engages only past the chain-size threshold): a
          // batch none of whose digests can be in the chain labels
          // against an EMPTY index — the chain's digest files are never
          // opened. One batch-only probe job; exact-join fallback on any
          // possible hit, so labels are identical by construction.
          val blooms = live.flatMap(chainBloomsIfLarge(spark, stateDir, _))
          val index = chainIndex match {
            case Some(idx) if blooms.isDefined =>
              val bc = spark.sparkContext.broadcast(blooms.get)
              val might = udf((h: Long) =>
                bc.value.exists(_.mightContainLong(h)))
              val anyHit = !batch.select(xxhash64(graft.ops.IncrementalDedup
                  .contentHash(textCol, normalized)).as("__h"))
                .where(might(col("__h"))).isEmpty
              if (anyHit) idx else Seq.empty[String].toDF("content_hash")
            case Some(idx) => idx
            case None => Seq.empty[String].toDF("content_hash")
          }
          val op = graft.ops.IncrementalDedup(index, "content_hash",
            idCol, textCol, normalized)
          val keepers = op.transform(batch).filter(col("dup_kind").isNull)
            .drop("dup_kind").withColumn("ingest_batch", lit(batchId))
          // ONE labeling pass serves the whole commit: the keepers land
          // in a tmp delta with an OBSERVED row count (the emptiness
          // gate — the previous persist + isEmpty pair cost one more
          // scheduled job and a payload-sized cache entry per commit),
          // the dir is renamed into the reserved version only when
          // keepers exist, and the digest delta derives from the parquet
          // JUST WRITTEN instead of re-reading the labeling plan's cache
          // (same rows by construction — the delta IS the keepers).
          // A crashed tmp dir is unreferenced garbage no manifest lists;
          // vacuumCorpusDeltas reclaims it.
          val tmp = s"$stateDir/deltas/_tmp-$appId-$batchId"
          val obs = org.apache.spark.sql.Observation()
          keepers.observe(obs, count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(tmp)
          val nKeep = obs.get("n").asInstanceOf[Long]
          val (fs, _) = graft.core.VersionedDir.fsOf(spark, stateDir)
          if (nKeep == 0L)
            fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
          else {
            val v = graft.core.VersionedDir.reserveNextVersion(spark, stateDir)
            val delta = "d" + v.drop(1)
            graft.core.VersionedDir.renameOrFail(fs, new org.apache.hadoop.fs.Path(tmp),
              new org.apache.hadoop.fs.Path(s"$stateDir/deltas/$delta"))
            val written = spark.read.schema(keepers.schema)
              .parquet(s"$stateDir/deltas/$delta")
            // the index DELTA is the batch's own accepted digests —
            // O(batch) bytes, never the cumulative index; distinct by
            // construction across deltas (a digest already in the
            // chain labels its carrier an index-dup, never a keeper).
            // A seeded first commit folds initialIndex in — one-time.
            val xdelta = "x" + v.drop(1)
            val newDigests =
              written.filter(col("content_hash").isNotNull)
                .select(col("content_hash")).distinct()
            // (bloom sidecars are built lazily on the gate's first
            // engagement — see chainBloomsIfLarge — so the commit path
            // pays nothing for them)
            (if (live.isEmpty && initialIndex.isDefined)
               chainIndex.get.select(col("content_hash"))
                 .union(newDigests).distinct()
             else newDigests)
              .write.mode("overwrite")
              .parquet(s"$stateDir/idxdeltas/$xdelta")
            val prevIdxM = live
              .map(pv => readIndexManifest(spark,
                s"$stateDir/$pv/index_manifest"))
              .getOrElse(Seq.empty)
            writeIndexManifest(spark, s"$stateDir/$v/index_manifest",
              prevIdxM :+ xdelta)
            val prevManifest = live
              .map(pv => readManifest(spark, s"$stateDir/$pv/manifest"))
              .getOrElse(Seq.empty)
            writeManifest(spark, s"$stateDir/$v/manifest",
              prevManifest :+ manifestEntryAt(spark,
                s"$stateDir/deltas/$delta", delta, idCol, written))
            writeTxn(spark, stateDir, v, appId, batchId)
            writePointer(spark, stateDir, v, live, Some(appId -> batchId))
            retainVersions.foreach(vacuumIndexVersions(spark, stateDir, _))
            maybeCompact(spark, stateDir, autoCompactDeltas,
              retainVersions,
              () => compactCorpusState(spark, stateDir, idCol = idCol,
                tierFraction = Some(AutoCompactTierFraction),
                maxKeepers = autoCompactDeltas.get - 1))
          }
        }
      }
  }

  /** In-place takedown for the sink-maintained corpus state — the
    * retroactive half of the takedown loop ([[purgeStream]] prevents
    * re-acceptance at ingest; this removes what was already accepted,
    * [[graft.ops.Purge]]'s job everywhere in the family): republish the
    * live corpus minus the tombstoned ids as ONE compacted delta plus
    * the retired digest index, as the next version in the same commit
    * log. Single-writer contract: pause the ingest sink around the call.
    * Cost ∝ corpus — the full-rewrite every takedown pass costs, and the
    * compaction also collapses the delta chain to length 1.
    *
    * The purged content remains physically present in OLD deltas until
    * superseded versions are vacuumed ([[vacuumIndexVersions]]) AND
    * unreferenced deltas are reclaimed ([[vacuumCorpusDeltas]]) — run
    * both right after when the removal must be physical, not just
    * logical. Returns the published version (None if no live corpus). */
  def purgeCorpusState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, tombstones: DataFrame,
      idCol: String = "doc_id"): Option[String] = {
    import spark.implicits._
    latestVersion(spark, stateDir).map { lv =>
      val corpus = loadCorpus(spark, stateDir).get
      val tombIds = tombstones.select(col(idCol)).distinct()
      // ONE pass over the corpus serves both outputs: the left join's
      // null-__tomb rows ARE the anti-join's keepers (tombIds is
      // distinct, so the join never duplicates a corpus row), and the
      // flagged projection below reads the same persisted frame — the
      // previous two independent branches each re-read the delta chain
      // and re-ran the tombstone join
      val labeled = corpus
        .join(tombIds.withColumn("__tomb", lit(true)), Seq(idCol), "left")
        .persist()
      val kept = labeled.filter(col("__tomb").isNull).drop("__tomb")
      try {
        val v = graft.core.VersionedDir.reserveNextVersion(spark, stateDir)
        val delta = "d" + v.drop(1)
        kept.write.mode("overwrite").parquet(s"$stateDir/deltas/$delta")
        // RETIRE from the live index, never rebuild from survivors: the
        // live index may hold digests the stream corpus does not carry
        // (the seeded initialIndex of a prior corpus) — a rebuild would
        // drop them and let later ingests re-accept prior-corpus
        // content. A digest retires iff every carrier is tombstoned
        // (graft.ops.Purge.updatedIndex semantics; here the corpus rows
        // already carry their digest, so no re-hashing of text).
        val flagged = labeled
          .filter(col("content_hash").isNotNull)
          .select(col("content_hash"),
            coalesce(col("__tomb"), lit(false)).as("__tomb"))
        val retired = flagged.groupBy("content_hash")
          .agg(min(when(col("__tomb"), 1).otherwise(0)).as("__allTomb"))
          .filter(col("__allTomb") === 1).select("content_hash")
        // the purge pays a full index pass anyway — collapse the digest
        // chain to one delta (and a singleton index manifest), mirroring
        // the corpus-delta collapse above
        val xdelta = "x" + v.drop(1)
        loadCorpusIndex(spark, stateDir).get
          .join(retired, Seq("content_hash"), "left_anti")
          .write.mode("overwrite").parquet(s"$stateDir/idxdeltas/$xdelta")
        writeIndexManifest(spark, s"$stateDir/$v/index_manifest", Seq(xdelta))
        writeManifest(spark, s"$stateDir/$v/manifest",
          Seq(manifestEntryAt(spark, s"$stateDir/deltas/$delta", delta,
            idCol, kept)))
        writeTxn(spark, stateDir, v, "corpus-purge", -1L)
        writePointer(spark, stateDir, v, Some(lv))
        v
      } finally labeled.unpersist()
    }
  }

  /** OPTIMIZE for the corpus state — delta-chain compaction WITHOUT
    * tombstones: after N small ingest batches the live manifest lists N
    * small deltas and every corpus scan pays N-way read amplification;
    * this republishes the SAME corpus as one delta sized toward
    * `targetBytes` per file, as the next committed version in the log.
    * Content-neutral — rows, `ingest_batch` lineage and the digest
    * index are unchanged; only the physical chains collapse (the digest
    * chain to one `idxdeltas` delta alongside the corpus chain, so the
    * (manifest, index_manifest) pair stays self-contained). Sizing is
    * recursive over the
    * REFERENCED deltas' actual bytes (the [[graft.ops.StorageOps]]
    * compact lesson). Superseded versions and orphaned deltas reclaim
    * via [[vacuumIndexVersions]] + [[vacuumCorpusDeltas]]; single-writer
    * contract as everywhere. Returns the committed version (None if no
    * live corpus, or nothing useful to merge).
    *
    * `tierFraction` switches to the size-tiered PARTIAL rewrite (see
    * [[compactIndexState]]): deltas holding at least that fraction of
    * their chain's bytes are keepers — files untouched, manifest entries
    * carried forward — and only the small tail merges; the rule applies
    * to the corpus chain and the digest chain INDEPENDENTLY (each side
    * is a pure union, so merging any subset is content-neutral). A
    * mature corpus accumulating tiny late batches merges megabytes per
    * trigger instead of rewriting terabytes. */
  def compactCorpusState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, targetBytes: Long = 128L << 20,
      idCol: String = "doc_id",
      tierFraction: Option[Double] = None,
      maxKeepers: Int = Int.MaxValue): Option[String] = {
    latestVersion(spark, stateDir).flatMap { lv =>
      val (fs, p) = graft.core.VersionedDir.fsOf(spark, stateDir)
      val entries = readManifest(spark, s"$stateDir/$lv/manifest")
      val idxNames = readIndexManifest(spark, s"$stateDir/$lv/index_manifest")
      val (dKeep, dMerge) = tierSplit(
        fs, p, "deltas", entries.map(_.delta), tierFraction, maxKeepers)
      val (xKeep, xMerge) =
        tierSplit(fs, p, "idxdeltas", idxNames, tierFraction, maxKeepers)
      if (dMerge.size < 2 && xMerge.size < 2) None
      else Some {
        val v = graft.core.VersionedDir.reserveNextVersion(spark, stateDir)
        val newManifest =
          if (dMerge.size < 2) entries
          else {
            val delta = "d" + v.drop(1)
            val paths = dMerge.map(d => s"$stateDir/deltas/$d")
            val bytes = paths.map(pp => fs.getContentSummary(
              new org.apache.hadoop.fs.Path(pp)).getLength).sum
            val nFiles =
              math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
            spark.read.parquet(paths: _*).repartition(nFiles)
              .write.mode("overwrite").parquet(s"$stateDir/deltas/$delta")
            // merged zone map from the OLD entries — min of mins / max of
            // maxs over a union is exact; None if any member had no stats
            val mergedOld = entries.filter(e => dMerge.contains(e.delta))
            entries.filter(e => dKeep.contains(e.delta)) :+ ManifestEntry(
              delta,
              if (mergedOld.forall(_.min_id.isDefined))
                mergedOld.flatMap(_.min_id).minOption else None,
              if (mergedOld.forall(_.max_id.isDefined))
                mergedOld.flatMap(_.max_id).maxOption else None)
          }
        val newIdx =
          if (xMerge.size < 2) idxNames
          else {
            val xdelta = "x" + v.drop(1)
            spark.read.schema(digestIndexSchema).parquet(
                xMerge.map(x => s"$stateDir/idxdeltas/$x"): _*)
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$stateDir/idxdeltas/$xdelta")
            xKeep :+ xdelta
          }
        writeIndexManifest(spark, s"$stateDir/$v/index_manifest", newIdx)
        writeManifest(spark, s"$stateDir/$v/manifest", newManifest)
        writeTxn(spark, stateDir, v, "corpus-optimize", -1L)
        writePointer(spark, stateDir, v, Some(lv))
        v
      }
    }
  }

  /** Physical reclamation of corpus deltas no RETAINED version's
    * manifest references (after [[purgeCorpusState]] + version vacuum,
    * the pre-purge deltas). Returns the deleted delta names. Safe under
    * the single-writer contract: a delta referenced by ANY existing
    * version survives, so pinned readers of retained versions are
    * unaffected. */
  def vacuumCorpusDeltas(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Seq[String] = {
    val (fs, p) = graft.core.VersionedDir.fsOf(spark, stateDir)
    val versions = graft.core.VersionedDir.versions(spark, stateDir)
    def reclaim(root: String, refs: Set[String]): Seq[String] = {
      val rootPath = new org.apache.hadoop.fs.Path(p, root)
      if (!fs.exists(rootPath)) Seq.empty
      else {
        val doomed = fs.listStatus(rootPath).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).filterNot(refs)
        doomed.foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(rootPath, d), true))
        doomed
      }
    }
    val dataRefs = versions.flatMap { v =>
      val m = new org.apache.hadoop.fs.Path(p, s"$v/manifest")
      if (fs.exists(m)) readManifest(spark, m.toString).map(_.delta)
      else Seq.empty
    }.toSet
    // digest-index deltas reclaim by the same rule over their own chain
    val idxRefs = versions.flatMap { v =>
      val m = new org.apache.hadoop.fs.Path(p, s"$v/index_manifest")
      if (fs.exists(m)) readIndexManifest(spark, m.toString)
      else Seq.empty
    }.toSet
    reclaim("deltas", dataRefs) ++ reclaim("idxdeltas", idxRefs)
  }
}
