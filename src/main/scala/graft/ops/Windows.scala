package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Qh

/** Time-window aggregations over the `events` stream table.
  *
  * Batch/streaming unification (SURVEY.md §7 module 6): each function is a
  * plain DataFrame transform built only from streaming-compatible operators
  * (`window`, `session_window`, grouped aggregation), so the same code runs
  * under `spark.readStream` — see [[streamingTumbling]] and
  * StreamingWindowSpec. The reference has no streaming surface; this is the
  * mandated extension for the `events` table (TESTDATA.md).
  *
  * At scale: one shuffle keyed on (window, key); partial aggregation is
  * map-side combined; in streaming mode state is bounded by the watermark.
  */
object Windows {

  /** Fixed tumbling windows: each event in exactly one bucket. */
  def tumbling(events: DataFrame, every: String = "10 minutes"): DataFrame =
    events.groupBy(window(col("ts"), every), col("event_type"))
      .agg(count(lit(1)).as("n"), Qh.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  /** Overlapping sliding windows (length `every`, step `slide`). */
  def sliding(events: DataFrame, every: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame =
    events.groupBy(window(col("ts"), every, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), Qh.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  /** Gap-based session windows per user. Spark `session_window` merge is
    * inclusive at the boundary: an event arriving at exactly `gap` after
    * the previous one still extends the session (StreamingWindowSpec
    * pins this down) — the DuckDB oracle mirrors it with a strict-`>`
    * new-session test in the lag/cumsum idiom.
    */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("last_ts"), col("n"))

  /** Frame width of the declared `window_time_range` query — the oracle
    * SQL derives its microsecond bound from THIS value (single source of
    * truth, like Rag's chunk constants).
    */
  val TrailingWindowSeconds: Long = 3600

  /** Attribution lookback of the declared `stream_join_attribution` query
    * and [[clickAttribution]]'s default — shared with the generated
    * oracle SQL and the batch QueryDef so the three cannot drift.
    */
  val AttributionLookback: String = "30 minutes"

  /** Trailing time-RANGE window: per-user sum of `value` over the last
    * `seconds` (inclusive of the current row and its timestamp peers) —
    * the time-decay-feature shape (rolling spend, rate limiting, fraud
    * scores). A ROWS frame cannot express this: the frame width varies
    * with event density. Ordering key is exact MICROSECONDS
    * (`unix_micros`) so the frame boundary is integer-exact — the DuckDB
    * mirror orders by `epoch_us`; a seconds-granularity key would
    * truncate and shift boundary events. One shuffle on user_id; the
    * frame scan is per-partition and the sum is exact DECIMAL.
    */
  def trailingSum(events: DataFrame, seconds: Long = TrailingWindowSeconds): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("__us"))
      .rangeBetween(-seconds * 1000000L, 0)
    events.withColumn("__us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        sum(col("value").cast(DecimalType(18, 6))).over(w)
          .cast("double").as("trailing_sum"))
  }

  /** Forward fill (LOCF — last observation carried forward): per user,
    * replace a missing reading with the most recent prior non-null one,
    * the time-series gap-repair primitive every sensor/metrics pipeline
    * runs before feature extraction. "Missing" here is modeled
    * deterministically ('view' events carry no reading); the fill is
    * `last(value, ignoreNulls)` over an UNBOUNDED PRECEDING row frame
    * ordered by (ts, event_id) — the unique tiebreaker makes the carried
    * value well-defined when timestamps collide. One shuffle on user_id,
    * per-partition frame scan; the carried value is an INPUT double
    * (never recomputed), so cross-engine hashing is exact.
    */
  def gapFill(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    events
      .withColumn("reading",
        when(col("event_type") === "view", lit(null).cast("double"))
          .otherwise(col("value")))
      .select(col("event_id"), col("user_id"), col("ts"), col("reading"),
        last(col("reading"), ignoreNulls = true).over(w).as("filled"))
  }

  /** Streaming twin of [[gapFill]] — the batch-incremental LOCF view
    * (foreachBatch fold, the [[graft.ops.llm.Dedup]] `NearDedupView`
    * pattern): state is ONE row per user (the latest non-null reading and
    * its (ts, event_id) order key — bounded by |users|, not history, the
    * property that lets the stream run forever), each micro-batch fills
    * within-batch gaps with the same window [[gapFill]] uses and falls
    * back to the state reading for rows with no prior non-null in the
    * batch.
    *
    * Parity contract: for batches that arrive in (ts, event_id) order
    * (batch k's rows all order-after batch k−1's — the watermark
    * discipline of a time-ordered source), the concatenated outputs are
    * IDENTICAL to running [[gapFill]] over the whole prefix
    * (LocfStreamSpec proves this per prefix). Unlike NearDedupView this
    * twin genuinely requires ordered arrival — LOCF is order-defined.
    *
    * Scale shape: per batch, one within-batch window + one user-keyed
    * join against the |users|-row state + one combinable struct-max to
    * advance the state. At 100 TB the state table lives partitioned on
    * user_id; nothing here scans history.
    */
  final class LocfView(spark: org.apache.spark.sql.SparkSession) {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    private var state: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("user_id", LongType),
        StructField("__k", StructType(Seq(
          StructField("ts", TimestampType),
          StructField("event_id", LongType),
          StructField("reading", DoubleType)))))))

    /** foreachBatch sink: fold one micro-batch, discarding the output
      * frame (monitoring sinks use the return of [[processBatch]]). */
    def sink(batch: DataFrame, batchId: Long): Unit = { processBatch(batch); () }

    /** Fold one time-ordered micro-batch; returns the filled batch rows
      * (same columns as [[gapFill]]). */
    def processBatch(batch: DataFrame): DataFrame = {
      val local = gapFill(batch).localCheckpoint()
      val out = local
        .join(state.select(col("user_id"), col("__k.reading").as("__prev")),
          Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"), col("ts"), col("reading"),
          coalesce(col("filled"), col("__prev")).as("filled"))
        .localCheckpoint()
      // advance state: latest non-null reading per user over state ∪ batch
      // — lexicographic struct-max on the unique (ts, event_id) key, an
      // argmax with no per-key sort (reading rides along, never compared)
      state = state
        .unionByName(local.filter(col("reading").isNotNull)
          .select(col("user_id"),
            struct(col("ts"), col("event_id"), col("reading")).as("__k")))
        .groupBy("user_id").agg(max("__k").as("__k"))
        .localCheckpoint()
      out
    }

    /** Current state size (one row per user seen with a reading). */
    def stateSize: Long = state.count()
  }

  /** Streaming twin of [[sessions]] — incremental gap-sessionization
    * (the LocfView/NearDedupView foreachBatch-fold pattern). State is ONE
    * open session per user (start, last_ts, n) — bounded by |users|, not
    * history. The structural fact that makes the fold this small: with
    * time-ordered batch arrival (every batch-k row orders after every
    * batch-(k−1) row — the watermark discipline), the ONLY merge a new
    * batch can cause is open-state session ↔ the user's FIRST batch
    * session; distinct within-batch sessions are already gap-separated by
    * construction. So the fold is: sessionize the batch with the same
    * [[sessions]] the batch query uses, union the |users|-row open-state
    * frame, and run ONE lag/cumsum merge pass over SESSION rows (never
    * events — per user this frame holds ≤ 1 + batch sessions rows). The
    * last session per user stays open; everything before it is emitted
    * closed.
    *
    * Parity contract (SessionStreamSpec): after every batch,
    * closed ∪ open == batch [[sessions]] over the whole prefix, including
    * the boundary-inclusive merge (an event at exactly `gap` after the
    * open session's last_ts still extends it — the Spark
    * `session_window` semantics the batch oracle pins).
    *
    * Scale shape: per batch one event shuffle (the batch sessionize) plus
    * session-row work keyed on user_id; the closed stream is emitted, not
    * retained, in production — this view accumulates it only for the
    * parity check.
    */
  final class SessionView(spark: org.apache.spark.sql.SparkSession,
      gap: String = "30 minutes") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    private val sessionSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("session_start", TimestampType),
      StructField("last_ts", TimestampType),
      StructField("n", LongType)))
    private def empty: DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sessionSchema)
    private var open: DataFrame = empty
    private var closedAcc: DataFrame = empty

    /** foreachBatch sink: fold one micro-batch, ignoring the emitted
      * closed sessions (monitoring sinks use [[processBatch]]'s return). */
    def sink(batch: DataFrame, batchId: Long): Unit = { processBatch(batch); () }

    /** Fold one time-ordered micro-batch; returns the sessions CLOSED by
      * this batch (same columns as [[sessions]]). */
    def processBatch(batch: DataFrame): DataFrame = {
      val b = sessions(batch, gap)
        .select("user_id", "session_start", "last_ts", "n")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("session_start"), col("last_ts"))
      // one merge pass over session rows: new session unless it starts
      // within `gap` of the previous session's end (boundary-inclusive)
      val merged = open.unionByName(b)
        .withColumn("__ns",
          when(lag(col("last_ts"), 1).over(w).isNull
            .or(col("session_start") >
              lag(col("last_ts"), 1).over(w) + expr(s"INTERVAL $gap")), 1L)
            .otherwise(0L))
        .withColumn("__sid", sum(col("__ns")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "__sid")
        .agg(min(col("session_start")).as("session_start"),
          max(col("last_ts")).as("last_ts"), sum(col("n")).as("n"))
      val wLast = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("session_start").desc)
      val ranked = merged
        .withColumn("__rk", row_number().over(wLast))
        .localCheckpoint()
      val closed = ranked.filter(col("__rk") > 1)
        .select("user_id", "session_start", "last_ts", "n")
        .localCheckpoint()
      open = ranked.filter(col("__rk") === 1)
        .select("user_id", "session_start", "last_ts", "n")
        .localCheckpoint()
      closedAcc = closedAcc.unionByName(closed).localCheckpoint()
      closed
    }

    /** closed ∪ open — what the batch [[sessions]] over the full prefix
      * must equal (the parity check's left-hand side). */
    def currentSessions: DataFrame = closedAcc.unionByName(open)

    /** Open-session state size (one row per user with an open session). */
    def stateSize: Long = open.count()
  }

  /** Sequential conversion funnel (view → click → purchase by default):
    * per user, the earliest qualifying timestamp of each step, where a
    * step qualifies only if it lands strictly after the previous step and
    * (optionally) within `within` of it — the classic product-analytics
    * query. Computed without self-joining the event log: one
    * map-side-combinable min per step, chained by user-keyed joins (one
    * hash partitioning serves the whole chain; AQE reuses it). No window
    * over the raw events, no per-user event-list collection — at 100 TB
    * the event log only ever flows through combinable mins.
    *
    * Returns one row per user: `stage` (how many steps completed, 0 =
    * never did step 1) plus one `t_<step>` timestamp column per step
    * (NULL from the first uncompleted step on).
    */
  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      within: Option[String] = Some("2 hours")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    def stepTimes(step: String, prev: Option[DataFrame]): DataFrame = {
      val cand = events.filter(col("event_type") === step)
      val qualified = prev match {
        case None => cand
        case Some(p) =>
          val after = cand.join(p.select(col("user_id"), col("__t").as("__prev")), "user_id")
            .filter(col("ts") > col("__prev"))
          within.fold(after)(w =>
            after.filter(col("ts") <= col("__prev") + expr(s"INTERVAL $w")))
      }
      qualified.groupBy("user_id").agg(min(col("ts")).as("__t"))
    }
    val times = steps.scanLeft(Option.empty[DataFrame]) {
      (prev, step) => Some(stepTimes(step, prev))
    }.flatten
    val joined = times.zip(steps).foldLeft(events.select(col("user_id")).distinct()) {
      case (acc, (tdf, step)) =>
        acc.join(tdf.select(col("user_id"), col("__t").as(s"t_$step")), Seq("user_id"), "left")
    }
    // fold so the LAST step's test lands outermost: deepest-completed wins
    val stage = steps.zipWithIndex.foldLeft(lit(0L)) { case (els, (step, i)) =>
      when(col(s"t_$step").isNotNull, lit(i + 1L)).otherwise(els)
    }
    joined.withColumn("stage", stage)
      .select(col("user_id") +: col("stage") +: steps.map(s => col(s"t_$s")): _*)
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * event (the cohort), counted per whole-week offset at which they came
    * back. The standard growth-analytics matrix. Two combinable
    * aggregations (first-seen per user, then distinct users per cell) and
    * one user-keyed join — event rows never carry more than (user, week).
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    // collapse to DISTINCT (user, week) FIRST (r14: the former shape ran
    // three event-scale shuffles — first-seen groupBy, the join back, and
    // countDistinct's expand — 16×/decade at sf10): repeat events inside a
    // week are redundant for retention, the distinct is map-side
    // combinable, and every later stage rides the |user × active-week|
    // frame. min(trunc(week)) over the distinct weeks equals
    // trunc(week, min(ts)); and since each user contributes at most one
    // row per week — hence at most one per (cohort, offset) — a plain
    // count over the joined frame IS the distinct user count.
    val uw = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("__w"))
      .distinct()
    val firstSeen = uw.groupBy("user_id").agg(min(col("__w")).as("__cohort"))
    uw.join(firstSeen, "user_id")
      .groupBy(col("__cohort").cast("date").as("cohort_week"),
        (datediff(col("__w"), col("__cohort")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** The same tumbling aggregation under Structured Streaming with a
    * watermark — demonstrates the batch transform runs unchanged on a
    * stream (state eviction bounded by the watermark).
    */
  def streamingTumbling(streamingEvents: DataFrame, every: String = "10 minutes",
      watermark: String = "1 hour"): DataFrame =
    tumbling(streamingEvents.withWatermark("ts", watermark), every)

  /** Stream-STREAM interval join: each purchase joined to the same user's
    * clicks in the preceding `lookback` — attribution, the canonical
    * stream-stream join. Both sides carry watermarks and the join
    * condition bounds event time in BOTH directions, so the state store
    * can evict: click state is held only `lookback` past its watermark,
    * purchase state only to the watermark. Unbounded-state joins are
    * exactly what Structured Streaming rejects without these bounds —
    * this shape is the one that runs forever. Works identically on batch
    * DataFrames (the batch twin is an interval self-join).
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
      lookback: String = AttributionLookback, watermark: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    p.join(c, p("user_id") === c("user_id")
        && col("click_ts") < col("purchase_ts")
        && col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $lookback"))
      .select(p("user_id"), col("purchase_ts"), col("purchase_value"), col("click_ts"))
  }

  /** [[sessions]] under Structured Streaming: the watermark both bounds
    * session state and decides when a gap-closed session becomes final
    * (append mode emits a session only once the watermark passes its
    * close — the streaming-correct semantics for merging session windows).
    */
  def streamingSessions(streamingEvents: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    sessions(streamingEvents.withWatermark("ts", watermark), gap)

  /** Per-minute event-rate series `(b, cnt)` — the shared input of the
    * two time-series queries (`ts_autocorr`, `ts_changepoint`) and the
    * [[RateView]] streaming state. One combinable groupBy; at any event
    * volume the output is one row per minute of history.
    */
  def minuteCounts(events: DataFrame): DataFrame =
    events.groupBy(expr("unix_micros(ts) div 60000000").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Order-preserving range bucketing of a distinct LONG order column
    * into ≤ `buckets`+1 buckets: one combinable min/max scan, then
    * `__bk = (key − lo) div step`. The companion of
    * `Shuffle.globalRowNumber` for order keys that are not pre-bounded
    * (minute indices, epoch days): the running-aggregate helpers below
    * keep their per-row windows partition-parallel on `__bk`, and the
    * only unpartitioned window touches the bucket-totals table — a frame
    * whose size is the FIXED bucket count, not the series length.
    */
  private def withRangeBucket(df: DataFrame, orderCol: String,
      buckets: Int): DataFrame = {
    val mm = df.agg(min(col(orderCol)).as("__lo"), max(col(orderCol)).as("__hi"))
    df.crossJoin(broadcast(mm))
      // a NULL order key would get a NULL __bk and be SILENTLY dropped by
      // the downstream equi-join on __bk (the replaced single-window form
      // kept such rows NULLS FIRST) — the helpers' call sites can't
      // produce one today, but they are general-purpose, so enforce the
      // precondition loudly (ADVICE r13): assert_true is NULL on success
      // and raises before any row could vanish.
      .withColumn("__bk", coalesce(
        expr(s"($orderCol - __lo) div (((__hi - __lo) div $buckets) + 1)"),
        assert_true(col(orderCol).isNotNull,
          lit(s"twoLevelPrefix*: NULL order key in '$orderCol' — " +
            "the two-level prefix helpers require non-null distinct order keys"))
          .cast("long")))
      .drop("__lo", "__hi")
  }

  /** Global running SUM of `valueCol` in `orderCol` order (ROWS UNBOUNDED
    * PRECEDING..CURRENT) WITHOUT an unpartitioned per-row window — the
    * two-level prefix-sum discipline (Shuffle.globalRowNumber lifted from
    * counts to sums): per-bucket partial sums, a running offset over the
    * tiny bucket table, broadcast back, per-bucket windows. `orderCol`
    * must be a distinct long per row (both call sites are groupBy keys).
    */
  def twoLevelPrefixSum(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, buckets: Int = 1024): DataFrame = {
    val b = withRangeBucket(df, orderCol, buckets)
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy("__bk").rowsBetween(Long.MinValue, -1)
    val offs = b.groupBy("__bk").agg(sum(col(valueCol)).as("__ps"))
      .withColumn("__off", coalesce(sum(col("__ps")).over(wB), lit(0L)))
      .select("__bk", "__off")
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("__bk").orderBy(orderCol).rowsBetween(Long.MinValue, 0)
    b.join(broadcast(offs), "__bk")
      .withColumn(outCol, col("__off") + sum(col(valueCol)).over(wIn))
      .drop("__bk", "__off")
  }

  /** Global running MAX of `valueCol` in `orderCol` order, same two-level
    * discipline (max is associative exactly like sum): per-bucket maxima,
    * an EXCLUSIVE prefix-max over the tiny bucket table, then
    * greatest(previous-bucket max, within-bucket running max) — Spark's
    * `greatest` skips the null the first bucket's missing predecessor
    * yields.
    */
  def twoLevelPrefixMax(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, buckets: Int = 1024): DataFrame = {
    val b = withRangeBucket(df, orderCol, buckets)
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy("__bk").rowsBetween(Long.MinValue, -1)
    val offs = b.groupBy("__bk").agg(max(col(valueCol)).as("__pm"))
      .withColumn("__prev", max(col("__pm")).over(wB))
      .select("__bk", "__prev")
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("__bk").orderBy(orderCol).rowsBetween(Long.MinValue, 0)
    b.join(broadcast(offs), "__bk")
      .withColumn(outCol, greatest(max(col(valueCol)).over(wIn), col("__prev")))
      .drop("__bk", "__prev")
  }

  /** Fused running SUM + running MAX-OF-THAT-SUM in one two-level pass —
    * `outSum` = prefix sum of `valueCol`, `outPeak` = prefix max of that
    * prefix sum, both in `orderCol` order. Exactly equivalent to
    * `twoLevelPrefixMax(twoLevelPrefixSum(df, …, "cum"), …, "cum", "peak")`
    * but at HALF the fixed cost: the chained form pays two min/max scans,
    * two full-data exchanges and two broadcast joins (the r13
    * ts_max_drawdown 0.6→2.1 s regression was exactly this overhead at a
    * 2400-row input); here the within-bucket running sum and running max
    * share ONE window exchange, the bucket table carries (sum, max) pairs
    * through one tiny global window, and one broadcast join restores both.
    * Identity used: peak_i = max(prevBucketsPeak, off_b + runmax_b(i))
    * where runmax_b is the within-bucket running max of the within-bucket
    * running sum — max distributes over the constant bucket offset.
    */
  def twoLevelPrefixSumMax(df: DataFrame, orderCol: String, valueCol: String,
      outSum: String, outPeak: String, buckets: Int = 1024): DataFrame = {
    val b = withRangeBucket(df, orderCol, buckets)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("__bk").orderBy(orderCol).rowsBetween(Long.MinValue, 0)
    // both running aggregates ride the SAME window spec → one exchange,
    // one sort, one window operator evaluating two frames
    val run = b.withColumn("__run", sum(col(valueCol)).over(wIn))
      .withColumn("__runmax", max(col("__run")).over(wIn))
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy("__bk").rowsBetween(Long.MinValue, -1)
    // per-bucket totals off the already-windowed rows: the bucket SUM is
    // the max row's __run only when values are non-negative — use a real
    // re-aggregate (combinable, input already partitioned by __bk) for
    // sign-safe totals; the bucket MAX of __run is max(__runmax).
    val offs = run.groupBy("__bk")
      .agg(sum(col(valueCol)).as("__ps"), max(col("__run")).as("__pm"))
      .withColumn("__off", coalesce(sum(col("__ps")).over(wB), lit(0L)))
      // __pm + __off = this bucket's max of the GLOBAL running sum; its
      // exclusive prefix max is the peak carried into later buckets
      .withColumn("__prev", max(col("__pm") + col("__off")).over(wB))
      .select("__bk", "__off", "__prev")
    run.join(broadcast(offs), "__bk")
      .withColumn(outSum, col("__off") + col("__run"))
      .withColumn(outPeak,
        greatest(col("__off") + col("__runmax"), col("__prev")))
      .drop("__bk", "__off", "__prev", "__run", "__runmax")
  }

  /** CUSUM changepoint over a `(b, cnt)` rate series (Page 1954), exact
    * integer arithmetic (dev·T = T·cnt − S so the mean never divides):
    * the single row where |cusum| peaks, min-b tie-break. One source of
    * truth for the batch query AND the streaming view — the
    * batch/streaming unification discipline. The running sum rides
    * [[twoLevelPrefixSum]] (VERDICT r12 #4): the minute table is bounded
    * by the time span, not the data size, so a multi-year corpus must not
    * serialize it through one window task — the only global window here
    * is the ≤1025-row bucket-offset frame.
    */
  def cusumChangepoint(bk: DataFrame): DataFrame = {
    val st = bk.agg(count(lit(1)).as("t"), sum(col("cnt")).as("s"))
    val dev = bk.crossJoin(broadcast(st))
      .withColumn("dev_t", col("t") * col("cnt") - col("s"))
    twoLevelPrefixSum(dev, "b", "dev_t", "cusum_t")
      .select(col("b").as("cp_bucket"), col("t").as("n_buckets"),
        col("s").as("total_events"), abs(col("cusum_t")).as("max_abs_cusum_t"))
      .orderBy(abs(col("cusum_t")).desc, col("b")).limit(1)
  }

  /** Incrementally-maintained minute-rate state + CUSUM changepoint —
    * the streaming twin of `ts_changepoint` (the LocfView/NearDedupView
    * foreachBatch-fold pattern) with a STRONGER contract than the other
    * twins: minute counts merge as an abelian group (groupBy(b).sum), so
    * the fold is ORDER-INDEPENDENT — late or out-of-order events land in
    * their bucket whatever batch they arrive in; no watermark discipline
    * is needed and parity with the batch query holds under ANY split of
    * the prefix into batches (ChangepointStreamSpec proves both the
    * time-ordered and the shuffled split). State = one row per minute of
    * history (~526k rows/year at ANY event volume), localCheckpointed so
    * lineage never grows with batch count.
    */
  final class RateView(spark: org.apache.spark.sql.SparkSession) {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    private var state: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("b", LongType), StructField("cnt", LongType))))

    /** foreachBatch sink: `stream.writeStream.foreachBatch(view.sink)`. */
    def sink(batch: DataFrame, batchId: Long): Unit = { processBatch(batch); () }

    /** Fold one micro-batch of raw events into the rate state. */
    def processBatch(batch: DataFrame): Unit =
      state = state.unionByName(minuteCounts(batch))
        .groupBy("b").agg(sum(col("cnt")).as("cnt"))
        .localCheckpoint()

    /** The changepoint over everything folded so far — identical to the
      * batch query on the union of all batches, by construction.
      */
    def changepoint: DataFrame = cusumChangepoint(state)

    /** Current state size (one row per minute seen). */
    def stateSize: Long = state.count()
  }

  /** Exact two-sample Kolmogorov–Smirnov drift test between the `value`
    * distributions of two event types (the distribution-level companion
    * to the per-column profile_drift report): D = max over the combined
    * sample of |F̂₁(v) − F̂₂(v)|, with the large-sample 5% rejection rule
    * D > 1.358·√((n₁+n₂)/(n₁·n₂)) (Smirnov 1948 asymptotic critical
    * value).
    *
    * Exactness discipline: the ECDF difference is compared in INTEGER
    * units — at each distinct value, d_units = |cum₁·n₂ − cum₂·n₁| with
    * the products in DECIMAL(38,0) so the arithmetic stays exact past
    * 10⁹-row samples — and only the one displayed statistic divides.
    * Shape: (1) distinct-value collapse (combinable groupBy — the window
    * never sees raw events); (2) two-level prefix sum — the within-bucket
    * running sums partition by the integer part of `value` (partition-
    * parallel), the bucket-offset table is one row per unit of value
    * range (bounded, broadcast-joined); (3) a global max. No global
    * window at any scale.
    */
  def ksDrift(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase"): DataFrame =
    ksDriftFromCounts(ksValueCounts(events, typeA, typeB))

  /** The distinct-value count table `(value, c1, c2)` [[ksDrift]] runs
    * on — split out because it merges as an ABELIAN GROUP (per-value
    * sums), which is what lets [[DriftView]] maintain it incrementally
    * under any batch split / arrival order.
    */
  def ksValueCounts(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase"): DataFrame =
    events
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("c2"))

  /** [[ksDrift]]'s statistic over a prepared `(value, c1, c2)` count
    * table — one source of truth for the batch query and the streaming
    * view.
    */
  def ksDriftFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val pts = counts.withColumn("b", floor(col("value")).cast("long"))
    val wIn = Window.partitionBy("b").orderBy("value")
      .rowsBetween(Long.MinValue, 0)
    val inBucket = pts
      .withColumn("r1", sum(col("c1")).over(wIn))
      .withColumn("r2", sum(col("c2")).over(wIn))
    val bucketTotals = pts.groupBy("b")
      .agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
    // offsets: strictly-preceding bucket totals. The unpartitioned window
    // runs on the bucket table only — one row per unit of value range.
    val wOff = Window.orderBy("b").rowsBetween(Long.MinValue, -1)
    val offsets = bucketTotals
      .withColumn("o1", coalesce(sum(col("t1")).over(wOff), lit(0L)))
      .withColumn("o2", coalesce(sum(col("t2")).over(wOff), lit(0L)))
      .select("b", "o1", "o2")
    val ns = bucketTotals.agg(sum(col("t1")).as("n1"), sum(col("t2")).as("n2"))
    val units = inBucket.join(broadcast(offsets), "b")
      .crossJoin(broadcast(ns))
      .select(abs((col("o1") + col("r1")).cast(DecimalType(38, 0)) * col("n2") -
        (col("o2") + col("r2")).cast(DecimalType(38, 0)) * col("n1")).as("du"),
        col("n1"), col("n2"))
    units.groupBy("n1", "n2")
      .agg(max(col("du")).cast("long").as("ks_units"))
      .withColumn("ks", round(col("ks_units").cast("double") /
        (col("n1").cast("double") * col("n2").cast("double")), 6))
      .withColumn("crit_05", round(lit(1.358) * sqrt(
        (col("n1") + col("n2")).cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))), 6))
      .withColumn("reject_05", col("ks") > col("crit_05"))
      .select("n1", "n2", "ks_units", "ks", "crit_05", "reject_05")
  }

  /** Incrementally-maintained two-sample KS drift — the streaming twin
    * of `ks_drift` with the [[RateView]] contract: the per-value count
    * table merges as an abelian group (per-value sums), so the fold is
    * ORDER-INDEPENDENT — late or out-of-order events land in their
    * value row whatever batch they arrive in, no watermark discipline
    * needed, and parity with the batch query holds under ANY split of
    * the input into batches (DriftStreamSpec proves the shuffled split).
    * State = one row per distinct value seen, localCheckpointed so
    * lineage never grows with batch count.
    */
  final class DriftView(spark: org.apache.spark.sql.SparkSession,
      typeA: String = "click", typeB: String = "purchase") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    private var state: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("value", DoubleType), StructField("c1", LongType),
        StructField("c2", LongType))))

    /** foreachBatch sink: `stream.writeStream.foreachBatch(view.sink)`. */
    def sink(batch: DataFrame, batchId: Long): Unit = { processBatch(batch); () }

    /** Fold one micro-batch of raw events into the count state. */
    def processBatch(batch: DataFrame): Unit =
      state = state.unionByName(ksValueCounts(batch, typeA, typeB))
        .groupBy("value")
        .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
        .localCheckpoint()

    /** The KS statistic over everything folded so far — identical to the
      * batch query on the union of all batches, by construction.
      */
    def drift: DataFrame = ksDriftFromCounts(state)

    /** Current state size (one row per distinct value seen). */
    def stateSize: Long = state.count()
  }

  /** Per-user event-type trigram counts in event-time order — the
    * path-mining primitive shared by the `path_mining` batch query and
    * [[PathView]] (one source of truth for what a "journey step" is).
    * The lead window partitions by user (partition-parallel); the count
    * table is ≤ |types|³ rows.
    */
  def pathTrigrams(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("e1", lead(col("event_type"), 1).over(w))
      .withColumn("e2", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull)
      .groupBy(col("event_type").as("e0"), col("e1"), col("e2"))
      .agg(count(lit(1)).as("n"))
  }

  /** Top-k journeys with the deterministic (n desc, path) cut. */
  def pathTopk(events: DataFrame, k: Int = 20): DataFrame =
    pathTrigrams(events)
      .orderBy(col("n").desc, col("e0"), col("e1"), col("e2")).limit(k)

  /** Incrementally-maintained journey trigram counts — the streaming
    * twin of `path_mining` (NINTH streaming twin). A trigram is counted
    * exactly ONCE: in the batch where its THIRD event arrives. Each fold
    * sessionizes nothing and retains nothing event-sized — state is the
    * per-user 2-event TAIL (the context the next batch's first trigrams
    * need) plus the ≤|types|³ count table. The fold runs the SAME
    * [[pathTrigrams]] window over (tail ∪ batch) and keeps only trigrams
    * whose third element is new, so parity with the batch query over the
    * folded prefix holds by construction under the [[SessionView]]
    * contract (micro-batches split the stream in event-time order per
    * user — the order Structured Streaming delivers under a watermark).
    * PathStreamSpec proves per-prefix equality including splits that cut
    * a user's trigram across batches.
    */
  final class PathView(spark: org.apache.spark.sql.SparkSession) {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    private val tailSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("event_type", StringType)))
    private val accSchema = StructType(Seq(
      StructField("e0", StringType), StructField("e1", StringType),
      StructField("e2", StringType), StructField("n", LongType)))
    private def empty(s: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    private var tail: DataFrame = empty(tailSchema)
    private var acc: DataFrame = empty(accSchema)

    /** foreachBatch sink: `stream.writeStream.foreachBatch(view.sink)`. */
    def sink(batch: DataFrame, batchId: Long): Unit = { processBatch(batch); () }

    /** Fold one time-ordered micro-batch into the count state. */
    def processBatch(batch: DataFrame): Unit = {
      val b = batch.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__new", lit(true))
      val comb = tail.withColumn("__new", lit(false)).unionByName(b)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tri = comb
        .withColumn("e1", lead(col("event_type"), 1).over(w))
        .withColumn("e2", lead(col("event_type"), 2).over(w))
        .withColumn("__f2", lead(col("__new"), 2).over(w))
        .filter(col("e2").isNotNull && col("__f2"))
        .groupBy(col("event_type").as("e0"), col("e1"), col("e2"))
        .agg(count(lit(1)).as("n"))
      acc = acc.unionByName(tri).groupBy("e0", "e1", "e2")
        .agg(sum(col("n")).as("n")).localCheckpoint()
      val wLast = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      tail = comb.withColumn("__rk", row_number().over(wLast))
        .filter(col("__rk") <= 2)
        .select("user_id", "ts", "event_id", "event_type").localCheckpoint()
    }

    /** The maintained trigram counts — must equal [[pathTrigrams]] over
      * the folded prefix (the parity check's left-hand side). */
    def trigrams: DataFrame = acc

    /** State size: ≤ 2 rows per user seen. */
    def stateSize: Long = tail.count()
  }

  /** Exact two-sample Mann–Whitney U rank-sum test (Mann & Whitney 1947)
    * between the `typeA` and `typeB` value distributions — the rank-based
    * companion to [[ksDrift]] (location shift rather than max-ECDF gap).
    *
    * All rank arithmetic is INTEGER-EXACT: ranks are kept in 2× units so
    * tie-group average ranks (midranks) never leave BIGINT — for a tie
    * group of size g starting after `cb` pooled observations the doubled
    * midrank is `2·cb + g + 1`. The statistic runs over the SAME collapsed
    * per-value count table as [[ksDrift]] ([[ksValueCounts]]), so the
    * pooled sort is over the bounded value DOMAIN, not the events; the
    * strict prefix count uses the same two-level bucket discipline (in-
    * bucket windows partition by floor(value), the offset table is one
    * row per unit of range). Rank-sum products are accumulated as
    * DECIMAL(38,0) (n² ladder) before the final BIGINT cast. Only the
    * z-score leaves integers — one IEEE expression spelled identically in
    * the DuckDB oracle, with the standard tie-corrected variance.
    */
  def mannWhitney(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val pts = ksValueCounts(events, typeA, typeB)
      .withColumn("g", col("c1") + col("c2"))
      .withColumn("b", floor(col("value")).cast("long"))
    val wIn = Window.partitionBy("b").orderBy("value")
      .rowsBetween(Long.MinValue, -1)
    val inBucket = pts.withColumn("rg", coalesce(sum(col("g")).over(wIn), lit(0L)))
    val bucketTotals = pts.groupBy("b").agg(sum(col("g")).as("tg"))
    val wOff = Window.orderBy("b").rowsBetween(Long.MinValue, -1)
    val offsets = bucketTotals
      .withColumn("og", coalesce(sum(col("tg")).over(wOff), lit(0L)))
      .select("b", "og")
    val ranked = inBucket.join(broadcast(offsets), "b")
      .withColumn("ar2", lit(2L) * (col("og") + col("rg")) + col("g") + lit(1L))
    val agg = ranked.agg(
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum(col("c1").cast(DecimalType(38, 0)) * col("ar2")).cast("long").as("r1_2"),
      sum(col("g") * col("g") * col("g") - col("g")).as("tie_units"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    agg
      .withColumn("u1_2", col("r1_2") - col("n1") * (col("n1") + lit(1L)))
      .withColumn("u2_2", lit(2L) * col("n1") * col("n2") - col("u1_2"))
      .withColumn("z", round(
        (d(col("u1_2")) - d(col("n1")) * d(col("n2"))) /
          (lit(2.0) * sqrt(d(col("n1")) * d(col("n2")) / lit(12.0) *
            (d(col("n1") + col("n2") + lit(1L)) -
              d(col("tie_units")) / (d(col("n1") + col("n2")) *
                d(col("n1") + col("n2") - lit(1L)))))), 6))
      .withColumn("reject_05", abs(col("z")) > lit(1.96))
      .select("n1", "n2", "u1_2", "u2_2", "tie_units", "z", "reject_05")
  }
}
