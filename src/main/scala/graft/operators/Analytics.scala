package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Behavioral-analytics operators over the events stream: ordered
  * funnels, retention cohorts, and event-to-interval joins — the query
  * shapes a health/product ETL warehouse answers daily.
  *
  * Scale posture: every operator is grouped-aggregation-shaped on
  * user_id (or an equi key + range residual for the interval join) —
  * partial aggregation runs map-side, the shuffle carries one row per
  * user (or per matched pair), never raw events twice.
  */
object Analytics {

  /** q_funnel — ordered view → click → purchase conversion. A user
    * counts for a stage only if the stage event happens strictly AFTER
    * their entry into the previous stage (min-ts semantics). */
  def funnelQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_after_click")))
  }

  /** q_retention — classic cohort grid: users by first-seen day,
    * re-activity by day offset. */
  def retentionQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val active = ev.distinct()
    active.join(firstDay, "user_id")
      .groupBy(col("cohort_day"),
        datediff(to_date(col("day")), to_date(col("cohort_day"))).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** q_interval_join — events landing inside a per-purchase window
    * [purchase_ts, purchase_ts + 2h) of the same user. Planned as an
    * equi join on the user key with the range term as residual —
    * shuffles once on user_id, never builds a time cross product. */
  def intervalJoinQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"), col("value"))
    val win = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id").as("win_id"), col("user_id").as("w_user"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
    ev.join(win,
        col("user_id") === col("w_user") &&
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("win_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("window_value"))
      .orderBy(col("win_id"))
  }

  /** Frequent-path mining (SURVEY.md §2 row 184) — the top event-type
    * n-grams along each user's timeline: what funnels (row 55, a FIXED
    * pattern checked) and CEP (row 151, a single pattern matched)
    * cannot answer — "which paths actually happen?" The clickstream
    * discovery query product analytics runs before it knows what
    * funnel to define.
    *
    * Scale shape: ONE per-user window (lead ×(n−1) share the frame,
    * partitions bounded by a user's events) ordered by (ts, event_id)
    * — the event_id tiebreaker makes the sequence a pure function of
    * the data at any SF, not of sort stability; then one map-side-
    * combined count on the path string whose domain is
    * |event types|ⁿ — value-bounded, so the final top-k sort is a
    * bounded frame, never the event stream. */
  def frequentPaths(events: DataFrame, userCol: Column, tsCol: Column,
                    idCol: Column, typeCol: Column,
                    n: Int, k: Int): DataFrame = {
    require(n >= 2 && k >= 1, s"need n >= 2 and k >= 1, got n=$n k=$k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(tsCol, idCol)
    val steps = (0 until n).map { i =>
      if (i == 0) typeCol else lead(typeCol, i).over(w) }
    val paths = events
      .select(concat_ws(">", steps: _*).as("path"),
        steps.last.isNotNull.as("complete"))
      .filter(col("complete"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(k)
  }

  /** §2 row 184 — top-10 3-step paths over the events stream. */
  def pathsQ(s: SparkSession, d: String): DataFrame =
    frequentPaths(Tables.events(s, d), col("user_id"), col("ts"),
      col("event_id"), col("event_type"), n = 3, k = 10)

  /** §2 row 304 — GAPPED sequential-pattern support (the PrefixSpan
    * family): how many users contain X … Y (… Z) as a SUBSEQUENCE,
    * arbitrary gaps allowed — the pattern view rows 184/209 cannot
    * express: frequentPaths counts CONTIGUOUS n-grams (a single
    * intervening event breaks the path) and the transition matrix is
    * memory-1. "Browsed, eventually purchased, later errored" is a
    * gapped pattern.
    *
    * Exactness by greedy matching, made RELATIONAL: a subsequence
    * X→Y exists iff first_pos(X) < last_pos(Y); X→Y→Z exists iff
    * some Z follows the EARLIEST Y after the EARLIEST X (greedy
    * earliest-match is exact for subsequence containment — standard,
    * and spec-pinned against brute force). Positions are the per-user
    * (ts, event_id) ranks, a pure function of the data.
    *
    * Scale shape: one per-user rank window (user-bounded), one
    * per-(user, type) min/max aggregate — O(users × |types|) rows,
    * |types| is a small value domain — then joins KEYED ON USER with
    * per-user fan-out bounded by |types|² for the greedy step frame.
    * Pattern support is a map-side-combined count over a
    * |types|³-bounded domain. Nothing is per-event quadratic. */
  def gappedSeqSupport(events: DataFrame, userCol: Column, tsCol: Column,
                       idCol: Column, typeCol: Column,
                       minSupport: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(userCol).orderBy(tsCol, idCol)
    val tp = events.select(userCol.as("u"), typeCol.as("t"),
      row_number().over(w).cast(LongType).as("pos"))
    val firstLast = tp.groupBy(col("u"), col("t"))
      .agg(min(col("pos")).as("fp"), max(col("pos")).as("lp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pairs: exists X at i < Y at j  <=>  first(X) < last(Y)
    val p2 = firstLast.select(col("u"), col("t").as("x"), col("fp"))
      .join(firstLast.select(col("u"), col("t").as("y"), col("lp")), Seq("u"))
      .filter(col("fp") < col("lp"))
      .groupBy(col("x"), col("y"))
      .agg(countDistinct(col("u")).as("support"))
      .select(concat_ws(" > ", col("x"), col("y")).as("pattern"),
        lit(2L).as("len"), col("support"))
    // greedy middle step: earliest Y strictly after earliest X
    val b = tp.select(col("u"), col("t").as("y"), col("pos"))
      .join(firstLast.select(col("u"), col("t").as("x"), col("fp")), Seq("u"))
      .filter(col("pos") > col("fp"))
      .groupBy(col("u"), col("x"), col("y"))
      .agg(min(col("pos")).as("bp"))
    val p3 = b
      .join(firstLast.select(col("u"), col("t").as("z"), col("lp")), Seq("u"))
      .filter(col("lp") > col("bp"))
      .groupBy(col("x"), col("y"), col("z"))
      .agg(countDistinct(col("u")).as("support"))
      .select(concat_ws(" > ", col("x"), col("y"), col("z")).as("pattern"),
        lit(3L).as("len"), col("support"))
    p2.unionByName(p3).filter(col("support") >= minSupport)
  }

  /** §2 row 304 registered query — all 2- and 3-step gapped patterns
    * over the event stream with their exact user support. */
  def seqPatternsQ(s: SparkSession, d: String): DataFrame =
    gappedSeqSupport(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("event_type"), minSupport = 1L)
      .orderBy(col("len"), col("pattern"))

  /** First-order Markov transition audit (SURVEY.md §2 row 209) —
    * the GENERATIVE view row 184's path mining is not: frequent-path
    * counts answer "which 3-step sequences happen?"; the transition
    * matrix answers "given a user just did X, what happens next and
    * with what exact probability?" — the model behind next-event
    * prediction baselines, funnel design, and anomaly scoring
    * (row-out-of-distribution transitions). Per (from, to): the exact
    * transition count, the from-state total, the probability as the
    * integer pair (n, n_from) + ONE pinned division, and is_top
    * marking each state's modal successor (count ties → smallest
    * successor, struct-order deterministic). Transitions never cross
    * users; the terminal event of each user has no successor and
    * contributes nothing (documented — row counts are transitions,
    * not events).
    *
    * Scale shape: ONE per-user (ts, event_id)-ordered lead window
    * (user-bounded partitions — the row-184 frame, shared shape), one
    * map-side-combined (from, to) count whose key space is |types|²,
    * and from-totals + the modal argmax as aggregations of that
    * bounded frame. No corpus-sized joins. */
  def transitionMatrix(events: DataFrame, userCol: Column, tsCol: Column,
                       idCol: Column, typeCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(tsCol, idCol)
    val pairs = events
      .select(typeCol.as("from_type"), lead(typeCol, 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val froms = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"),
        min(struct((-col("n")).as("nc"), col("to_type").as("t"))).as("top"))
    counts.join(broadcast(froms), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast(DoubleType) / col("n_from").cast(DoubleType)).as("p"),
        (col("to_type") === col("top.t")).as("is_top"))
  }

  /** Timing-regularity bot audit (SURVEY.md §2 row 210) — the
    * behavioral counterpart to content-level spam filters: scripted
    * traffic fires on a CLOCK, so the variance of a user's inter-event
    * gaps separates bots (near-zero variance at high volume) from
    * humans (bursty, heavy-tailed gaps) — the standard first-pass bot
    * screen on clickstream corpora before their text enters training.
    * Exact integer core per user: gaps in whole SECONDS (floor of the
    * micros difference — consecutive by (ts, event_id), so gaps are
    * nonnegative), n, Σg, Σg², min/max gap, and the variance as the
    * integer pair (n·Σg² − (Σg)², n²) + ONE pinned division; the bot
    * flag is the integer cross-multiplication var_num < n²·4 AND
    * n ≥ 20 (variance below 4 s² at volume — thresholds are part of
    * the operator contract, spec-pinned). Σg² accumulates in
    * DECIMAL(38,0) (the row-167 posture) with the BIGINT output
    * contract Σg² < 2^63 — gaps are session-scale seconds, not epochs.
    *
    * Scale shape: ONE per-user lag window (user-bounded partitions,
    * the row-47 sessionize frame) + ONE map-side-combined per-user
    * aggregate. No joins, no corpus-wide state. */
  def timingRegularity(events: DataFrame, userCol: Column, tsCol: Column,
                       idCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(tsCol, idCol)
    val gaps = events
      .withColumn("__us", unix_micros(tsCol))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(userCol.as("user_id"),
        GraphOps.fdiv(col("__us") - col("__prev"), lit(1000000L)).as("g"))
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sum_g"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).cast(LongType).as("sum_g2"),
        min(col("g")).as("min_g"), max(col("g")).as("max_g"))
      .select(col("user_id"), col("n_gaps"), col("sum_g"), col("sum_g2"),
        col("min_g"), col("max_g"),
        (col("n_gaps") * col("sum_g2") - col("sum_g") * col("sum_g"))
          .as("var_num"),
        (col("n_gaps") * col("n_gaps")).as("var_den"),
        ((col("n_gaps") * col("sum_g2") - col("sum_g") * col("sum_g")) <
          col("n_gaps") * col("n_gaps") * 4L && col("n_gaps") >= 20L)
          .as("bot_flag"))
  }

  /** Interval union / coverage (SURVEY.md §2 row 224) — merge each
    * user's overlapping activity intervals and report covered time:
    * the attention/engagement measure raw event counts inflate (100
    * events in one minute is one minute of activity) and the generic
    * interval-algebra primitive behind uptime, SLA windows and
    * double-booking checks. Each event opens a fixed activity window
    * [ts, ts+w); a NEW merged interval starts where an event's start
    * exceeds the RUNNING MAX of all previous ends (the sweep-line
    * rule — plain lag is wrong when an earlier long interval swallows
    * a later short one); merged-interval ids are the running sum of
    * those breaks. Per user: merged count, covered micros (Σ per
    * merged interval of max end − min start), and the largest gap
    * between consecutive merged intervals (0 when none).
    *
    * Scale shape: two windows over the same per-user (ts, event_id)
    * frame (running max + break cumsum — user-bounded partitions, the
    * sessionize posture), one merged-interval aggregate, one per-user
    * aggregate with a lag over the per-user merged-interval frame. */
  def intervalCoverage(events: DataFrame, userCol: Column, tsCol: Column,
                       idCol: Column, windowMicros: Long): DataFrame = {
    require(windowMicros > 0, s"window must be positive, got $windowMicros")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("u")).orderBy(col("s"), col("id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val base = events.select(userCol.as("u"), idCol.as("id"),
        unix_micros(tsCol).as("s"))
      .withColumn("e", col("s") + windowMicros)
    val marked = base
      .withColumn("max_prev_end", max(col("e")).over(wPrev))
      .withColumn("brk",
        when(col("max_prev_end").isNull || col("s") > col("max_prev_end"), 1L)
          .otherwise(0L))
      .withColumn("iid", sum(col("brk")).over(w))
    val merged = marked.groupBy(col("u"), col("iid"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
    val wi = Window.partitionBy(col("u")).orderBy(col("iid"))
    merged
      .withColumn("gap", col("ms") - lag(col("me"), 1).over(wi))
      .groupBy(col("u").as("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("me") - col("ms")).as("covered_us"),
        coalesce(max(col("gap")), lit(0L)).as("max_gap_us"))
  }

  /** RFM scoring (SURVEY.md §2 row 225) — the canonical behavioral
    * feature block (recency / frequency / monetary) with EXACT
    * equi-depth quintiles: per user the last-event micros, event
    * count, and exact cents total (DECIMAL(12,2)·100 — no float
    * money), each mapped to a 1-5 score by the row-201 lower-quantile
    * bucket rule over the USER-level distinct-value frame (NOT NTILE:
    * NTILE splits equal-rank runs of TIED values across buckets —
    * two users with identical totals could score differently, which
    * is indefensible for a feature; the value-rule gives ties the
    * same score by construction, the distortion visible in bucket
    * sizes). Higher = more recent / more active / more spend.
    *
    * Scale shape: one per-user aggregate off the event stream; each
    * score runs over the distinct-metric-value frame, which for
    * `last_us` and `monetary_cents` is ≈ the USER frame — data-scaled,
    * so the cumulative-count prefix runs on the bucketed decomposition
    * ([[Prefix.cumSumBucketed]]: ≤64 range cells, exclusive cell
    * prefix over the bounded cut frame, within-cell cumsum partitioned
    * by cell — bit-identical to the single-window form), then the
    * value→score map joins back on the metric value. The score-map
    * join is NOT broadcast (the map is data-scaled too); it's a plain
    * shuffle equi-join on the metric value. */
  def rfmScores(events: DataFrame, userCol: Column, tsCol: Column,
                valCol: Column, buckets: Int = 5): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // persisted: the event stream collapses ONCE — the three metric
    // passes (each a quantile probe + counts + join-back) and the
    // final chain all ride the user frame, never events again
    val users = events.groupBy(userCol.as("user_id"))
      .agg(max(unix_micros(tsCol)).as("last_us"),
        count(lit(1)).as("freq"),
        (sum(valCol.cast(DecimalType(12, 2))) * 100).cast(LongType)
          .as("monetary_cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Each value→score map is built from the PERSISTED user frame, not
    // from the progressively-joined result: the map depends only on its
    // own metric column, and folding scoreOf over the joined frame made
    // pass k's groupBy re-plan AND re-execute passes 1..k-1's join
    // trees (the counts aggregation scanned the join output — an 11k-
    // line formatted plan and two redundant score-join executions).
    // Building all three maps off `users` and then chaining the three
    // value-keyed joins is row-identical (each user matches exactly one
    // map row per metric) with a linear plan.
    def mapOf(metric: String, out: String): DataFrame = {
      val counts = users.groupBy(col(metric).as("__v")).agg(count(lit(1)).as("__c"))
      val cum = Prefix.cumSumBucketed(counts, "__v", descending = false,
        tieCols = Nil, valueCol = "__c", out = "__cum")
      val tot = counts.agg(coalesce(sum(col("__c")), lit(0L)).as("__n"))
      cum.crossJoin(broadcast(tot))
        .select(col("__v").as(metric),
          (GraphOps.fdiv((col("__cum") - 1L) * buckets, col("__n")) + 1L).as(out))
    }
    // The three maps are independent and each STARTS with an eager
    // driver action (cumSumBucketed's approxQuantile probe), so built
    // serially the construction pays three probe cascades back to
    // back while most cores idle — overlap them ([[Concurrently]],
    // guide §2.6, the bootstrapState wave pattern). users fills ONCE
    // first so the concurrent probes ride the cache instead of racing
    // to compute the same blocks.
    users.count()
    val metrics = Seq(("last_us", "r_score"), ("freq", "f_score"),
      ("monetary_cents", "m_score"))
    val maps = metrics.map(_._1).zip(
      Concurrently.all(metrics.map { case (m, o) => () => mapOf(m, o) }))
    val scored = maps.foldLeft(users) { case (df, (m, mp)) => df.join(mp, Seq(m)) }
    scored.select(col("user_id"), col("last_us"), col("freq"),
      col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"))
  }

  /** Diurnal concentration audit (SURVEY.md §2 row 229) — per event
    * type, the hour-of-day activity shape folded to three exact
    * numbers: peak and trough hours with their counts, and the
    * concentration pair (Σc_h², n²) whose inverse is the
    * "effective active hours" (the row-198 inverse-Simpson applied to
    * the 24-hour fold): organic human traffic spreads over ~12-16
    * effective hours, a cron job concentrates in 1-2 — the diurnal
    * companion to row 210's gap-variance bot screen (which sees
    * REGULARITY; this sees SCHEDULE). Peak ties break to the LATER
    * hour, trough ties to the EARLIER (max/min struct order,
    * deterministic); the trough is the lightest OBSERVED hour —
    * completely silent hours show up in the concentration (effective
    * hours < 24), not as a zero-count trough row. Hours in the
    * session timezone (UTC both engines).
    *
    * Scale shape: one map-side (type, hour) count on a 24·|types|-
    * bounded space; one per-type aggregate with struct argmax/argmin;
    * no windows, no joins. */
  def diurnalConcentration(events: DataFrame, typeCol: Column,
                           tsCol: Column): DataFrame =
    events.select(typeCol.as("event_type"), hour(tsCol).cast(LongType).as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        max(struct(col("c"), col("h"))).as("pk"),
        min(struct(col("c"), col("h"))).as("tr"),
        sum(col("c") * col("c")).as("sq"))
      .select(col("event_type"), col("n"),
        col("pk.h").as("peak_hour"), col("pk.c").as("peak_n"),
        col("tr.h").as("trough_hour"), col("tr.c").as("trough_n"),
        col("sq").as("conc_num"), (col("n") * col("n")).as("conc_den"))

  /** Daily OHLC bars (SURVEY.md §2 row 230) — the time-series
    * compaction every metrics store ships: per (series, day) the
    * open/high/low/close of the value stream, the lossy-but-
    * sufficient summary that replaces N events with 4 numbers for
    * charting, alerting bands and day-over-day diffs. Exact: values
    * in cents (DECIMAL(12,2)·100), open/close as struct-argmin/argmax
    * over the (ts_us, event_id) total order (the id tiebreak makes
    * same-instant opens deterministic — financial tick data has
    * those), high/low plain min/max. NO window: open and close come
    * from min/max(struct) inside the same aggregate as high/low —
    * one map-side-combined pass, the day key bounds nothing by the
    * stream.
    *
    * Scale shape: one groupBy on (series, day); no sort, no window,
    * no self-join — the pattern a naive "first_value/last_value OVER"
    * formulation turns into a per-day sort for no reason. */
  def dailyOhlc(events: DataFrame, seriesCol: Column, tsCol: Column,
                idCol: Column, valCol: Column): DataFrame = {
    val cents = (valCol.cast(DecimalType(12, 2)) * 100).cast(LongType)
    events
      .select(seriesCol.as("series"), to_date(tsCol).as("day"),
        unix_micros(tsCol).as("tu"), idCol.as("id"), cents.as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("series"), col("day"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("tu"), col("id"), col("v"))).as("o"),
        max(struct(col("tu"), col("id"), col("v"))).as("c"),
        max(col("v")).as("high_cents"), min(col("v")).as("low_cents"))
      .select(col("series"), col("day").cast(StringType).as("day"), col("n"),
        col("o.v").as("open_cents"), col("high_cents"), col("low_cents"),
        col("c.v").as("close_cents"))
  }

  /** Per-event out-of-orderness (SURVEY.md §2 row 237): lateness_us =
    * max(0, max event-time among earlier ARRIVALS − own event time),
    * arrival order = the id sequence, one logical stream per
    * `typeCol`. THE measurement behind choosing a Structured
    * Streaming watermark delay: `withWatermark` is a blind guess
    * until the stream's actual p95/p99 disorder is known.
    *
    * Scale shape: the running max NEVER rides a per-type corpus-wide
    * window — ids cut into 2^bucketShift-wide range cells (order-
    * compatible by construction): per-cell max from one map-side
    * aggregation, an exclusive cell prefix over the id-domain/2^shift
    * cut frame, a within-cell window partitioned by (type, cell).
    * Bit-identical to the single-window form (max reassociates). */
  def eventLateness(events: DataFrame, typeCol: Column, tsCol: Column,
                    idCol: Column, bucketShift: Int = 12): DataFrame = {
    require(bucketShift >= 4 && bucketShift <= 30,
      s"bucketShift must be in [4, 30], got $bucketShift")
    val e = events.select(typeCol.as("event_type"), idCol.as("id"),
      unix_micros(tsCol).as("us"),
      shiftright(idCol.cast(LongType), bucketShift).as("__b"))
    val cells = e.groupBy(col("event_type"), col("__b"))
      .agg(max(col("us")).as("__cm"))
    val wb = Window.partitionBy(col("event_type")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = cells.withColumn("__pre", max(col("__cm")).over(wb))
      .drop("__cm")
    val wi = Window.partitionBy(col("event_type"), col("__b")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.join(broadcast(pre), Seq("event_type", "__b"))
      .withColumn("__prior", greatest(max(col("us")).over(wi), col("__pre")))
      .select(col("event_type"), col("id"), col("us"),
        greatest(lit(0L), coalesce(col("__prior"), col("us")) - col("us"))
          .as("late_us"))
  }

  /** The per-stream watermark profile: event counts, how many arrive
    * late, the worst case, and exact p50/p95/p99 lateness in whole
    * seconds (smallest value v with 100·cum ≥ q·n — the row-146
    * integer percentile rule over the VALUE-bounded seconds frame).
    * p99_s is the number `withWatermark` wants. */
  def latenessAudit(events: DataFrame, typeCol: Column, tsCol: Column,
                    idCol: Column, bucketShift: Int = 12): DataFrame = {
    val late = eventLateness(events, typeCol, tsCol, idCol, bucketShift)
      .select(col("event_type"), col("late_us"),
        GraphOps.fdiv(col("late_us"), lit(1000000L)).as("late_s"))
    val stats = late.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
    val byVal = late.groupBy(col("event_type"), col("late_s"))
      .agg(count(lit(1)).as("__c"))
    val wv = Window.partitionBy(col("event_type")).orderBy(col("late_s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = byVal.withColumn("__cum", sum(col("__c")).over(wv))
    val pct = cum.join(broadcast(stats.select(col("event_type"), col("n_events"))),
        Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        min(when(col("__cum") * 100 >= col("n_events") * 50, col("late_s"))).as("p50_s"),
        min(when(col("__cum") * 100 >= col("n_events") * 95, col("late_s"))).as("p95_s"),
        min(when(col("__cum") * 100 >= col("n_events") * 99, col("late_s"))).as("p99_s"))
    stats.join(pct, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("n_late"),
        col("max_late_us"), col("p50_s"), col("p95_s"), col("p99_s"))
  }

  /** §2 row 237 — the watermark-delay audit over events. */
  def latenessQ(s: SparkSession, d: String): DataFrame =
    latenessAudit(Tables.events(s, d), col("event_type"), col("ts"),
        col("event_id"))
      .orderBy(col("event_type"))

  /** §2 row 230 — daily bars per event type. */
  def ohlcQ(s: SparkSession, d: String): DataFrame =
    dailyOhlc(Tables.events(s, d), col("event_type"), col("ts"),
        col("event_id"), col("value"))
      .orderBy(col("series"), col("day"))

  /** §2 row 229 — the diurnal shape of each event type. */
  def diurnalQ(s: SparkSession, d: String): DataFrame =
    diurnalConcentration(Tables.events(s, d), col("event_type"), col("ts"))
      .orderBy(col("event_type"))

  /** §2 row 225 — RFM quintiles over events. */
  def rfmQ(s: SparkSession, d: String): DataFrame =
    rfmScores(Tables.events(s, d), col("user_id"), col("ts"), col("value"))
      .orderBy(col("user_id"))

  /** §2 row 224 — 5-minute activity windows over events. */
  def coverageQ(s: SparkSession, d: String): DataFrame =
    intervalCoverage(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_id"), windowMicros = 5L * 60 * 1000000)
      .orderBy(col("user_id"))

  /** §2 row 210 — per-user timing regularity over events. */
  def timingQ(s: SparkSession, d: String): DataFrame =
    timingRegularity(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_id"))
      .orderBy(col("user_id"))

  /** §2 row 209 — the event-type transition matrix. */
  def transitionsQ(s: SparkSession, d: String): DataFrame =
    transitionMatrix(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      .orderBy(col("from_type"), col("to_type"))

  /** Linear multi-touch attribution (SURVEY.md §2 row 273) — the
    * classic marketing-warehouse op the row-39 as-of join only solves
    * for LAST-touch: every conversion's credit splits across the
    * touches in its lookback window. Integer image: each of a
    * conversion's k touches gets floor(10⁶/k) ppm and the LAST touch
    * (max (ts, event_id)) absorbs the remainder, so per-conversion
    * credit sums to EXACTLY 10⁶ (spec-pinned invariant). A touch can
    * serve several conversions (standard semantics — each conversion
    * attributes independently).
    *
    * Scale shape: one user-keyed equi-join with the window predicate
    * as a post-join filter (the row-57 interval-join shape; per-user
    * event counts bound the fan-out), one conversion-keyed aggregate
    * for (k, last), one co-partitioned join back. No window function,
    * no global sort before the sink. */
  def linearAttribution(events: DataFrame, convType: String,
                        touchTypes: Seq[String], lookbackUs: Long): DataFrame = {
    val conv = events.filter(col("event_type") === convType)
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("conv_ts"))
    val touch = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("event_id").as("touch_id"), col("user_id"),
        col("ts").as("touch_ts"))
    val joined = conv.join(touch, Seq("user_id"))
      .filter(col("touch_ts") <= col("conv_ts") &&
        unix_micros(col("touch_ts")) > unix_micros(col("conv_ts")) - lookbackUs)
    val per = joined.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_touches"),
        max(struct(col("touch_ts"), col("touch_id"))).as("__last"))
    joined.join(per, Seq("conv_id"))
      .select(col("conv_id"), col("touch_id"), col("n_touches"),
        when(struct(col("touch_ts"), col("touch_id")) === col("__last"),
          lit(1000000L) - (col("n_touches") - 1L) *
            GraphOps.fdiv(lit(1000000L), col("n_touches")))
          .otherwise(GraphOps.fdiv(lit(1000000L), col("n_touches")))
          .as("credit_ppm"))
  }

  /** §2 row 273 — purchases attributed linearly across the click/view
    * touches of the preceding 48 hours. */
  def attributionQ(s: SparkSession, d: String): DataFrame =
    linearAttribution(Tables.events(s, d), "purchase",
        Seq("click", "view"), lookbackUs = 48L * 3600 * 1000000)
      .orderBy(col("conv_id"), col("touch_id"))

  /** Dyadic EWMA (SURVEY.md §2 row 287) — the exponentially weighted
    * moving average at α = 1/2 over a bounded W-step window, in the
    * repo's EXACT-integer discipline: weights are powers of two
    * (2^(W−1) for the newest sample, halving backwards), so
    * ewma_num = Σ_j x_{t−j}·2^(W−1−j) and ewma_den = Σ_j 2^(W−1−j)
    * = 2^W − 2^(W−m) are BIGINTs and the short-history head (m < W)
    * normalizes itself — no NULL warm-up period, no double drift ever
    * accumulating across a 100 TB history (the classic streaming-EWMA
    * failure). The smoother a telemetry/quality monitor runs next to
    * the row-137 CUSUM (CUSUM detects level shifts, EWMA tracks the
    * level).
    *
    * Scale shape: one key-partitioned bounded window (rowsBetween
    * −(W−1)..0 — per-key history, never corpus-wide) carrying a
    * ≤W-element list, then a per-row O(W) integer fold. OVERFLOW
    * CONTRACT: max|x|·2^W < 2^63/W — at W = 16, |x| up to ~3.5e13.
    *
    * The fold runs newest-first with a (num, den, pw) struct
    * accumulator so the power-of-two weights stay in integer halvings
    * — no variable-amount shiftleft exists in the Column DSL. */
  def ewmaDyadic(df: DataFrame, keyCol: Column, orderCols: Seq[Column],
                 valueCol: Column, w: Int = 16): DataFrame = {
    require(w >= 1 && w <= 32, s"window must be in [1, 32], got $w")
    val win = Window.partitionBy(keyCol).orderBy(orderCols: _*)
      .rowsBetween(-(w - 1), 0)
    val lags = collect_list(valueCol).over(win) // frame order: oldest..newest
    val folded = aggregate(reverse(lags),
      struct(lit(0L).as("num"), lit(0L).as("den"),
        lit(1L << (w - 1)).as("pw")),
      (acc, x) => struct(
        (acc.getField("num") + x * acc.getField("pw")).as("num"),
        (acc.getField("den") + acc.getField("pw")).as("den"),
        GraphOps.fdiv(acc.getField("pw"), lit(2L)).as("pw")))
    df.filter(valueCol.isNotNull)
      .withColumn("__f", folded)
      .withColumn("ewma_num", col("__f.num"))
      .withColumn("ewma_den", col("__f.den"))
      .withColumn("ewma", col("ewma_num").cast(DoubleType) /
        col("ewma_den").cast(DoubleType))
      .drop("__f")
  }

  /** §2 row 287 — per-user EWMA of event values (in exact cents) in
    * (ts, event_id) order: per-user histories bound every partition.
    * Cents via an EXPLICIT floor(x·100 + 0.5) — NOT round() (the
    * engines' round() disagrees at representation boundaries) and NOT
    * a bare cast (Spark's double→long cast truncates, DuckDB's
    * ROUNDS); floor is the same IEEE op in both. */
  def ewmaQ(s: SparkSession, d: String): DataFrame =
    ewmaDyadic(
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100.0 + 0.5).cast(LongType).as("cents")),
      col("user_id"), Seq(col("ts"), col("event_id")), col("cents"), w = 16)
      .select(col("event_id"), col("user_id"), col("cents"),
        col("ewma_num"), col("ewma_den"), col("ewma"))
      .orderBy(col("event_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_attribution"   -> (attributionQ _),
    "q_funnel"        -> (funnelQ _),
    "q_retention"     -> (retentionQ _),
    "q_interval_join" -> (intervalJoinQ _),
    "q_event_paths"   -> (pathsQ _),
    "q_transitions"   -> (transitionsQ _),
    "q_bot_timing"    -> (timingQ _),
    "q_interval_cover" -> (coverageQ _),
    "q_rfm" -> (rfmQ _),
    "q_diurnal" -> (diurnalQ _),
    "q_ohlc" -> (ohlcQ _),
    "q_lateness" -> (latenessQ _),
    "q_ewma" -> (ewmaQ _),
    "q_seq_patterns" -> (seqPatternsQ _),
  )

  val oracles: Map[String, String] = Map(
    // the oracle keeps the plain single-window running max (the
    // same join + window predicate; the last touch via ROW_NUMBER
    // (ts DESC, id DESC) == the engine's max(struct); floor-div ppm
    // with the remainder on the last touch
    "q_attribution" ->
      """WITH conv AS (
        |  SELECT event_id AS conv_id, user_id, ts AS conv_ts
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT event_id AS touch_id, user_id, ts AS touch_ts
        |  FROM events WHERE event_type IN ('click', 'view')),
        |j AS (
        |  SELECT c.conv_id, t.touch_id, t.touch_ts
        |  FROM conv c JOIN touch t ON c.user_id = t.user_id
        |  WHERE t.touch_ts <= c.conv_ts
        |    AND epoch_us(t.touch_ts) > epoch_us(c.conv_ts) - 172800000000),
        |per AS (
        |  SELECT conv_id, COUNT(*) AS n_touches FROM j GROUP BY conv_id),
        |r AS (
        |  SELECT conv_id, touch_id,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id
        |      ORDER BY touch_ts DESC, touch_id DESC) AS rn
        |  FROM j)
        |SELECT j.conv_id, j.touch_id, CAST(p.n_touches AS BIGINT) AS n_touches,
        |  CAST(CASE WHEN r.rn = 1
        |       THEN 1000000 - (p.n_touches - 1) * (1000000 // p.n_touches)
        |       ELSE 1000000 // p.n_touches END AS BIGINT) AS credit_ppm
        |FROM j JOIN per p ON j.conv_id = p.conv_id
        |JOIN r ON j.conv_id = r.conv_id AND j.touch_id = r.touch_id
        |ORDER BY j.conv_id, j.touch_id""".stripMargin,

    // bucketed engine decomposition is bit-identical by max
    // reassociation); integer floor-div seconds, the row-146
    // percentile rule replayed verbatim
    "q_lateness" ->
      """WITH e AS (
        |  SELECT event_type, event_id AS id, epoch_us(ts) AS us FROM events),
        |r AS (
        |  SELECT event_type, id, us,
        |    GREATEST(CAST(0 AS BIGINT),
        |      COALESCE(MAX(us) OVER (PARTITION BY event_type ORDER BY id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), us) - us)
        |      AS late_us
        |  FROM e),
        |l AS (SELECT event_type, late_us, late_us // 1000000 AS late_s FROM r),
        |st AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |    MAX(late_us) AS max_late_us
        |  FROM l GROUP BY 1),
        |c AS (SELECT event_type, late_s, COUNT(*) AS c FROM l GROUP BY 1, 2),
        |cc AS (
        |  SELECT event_type, late_s,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY late_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM c),
        |p AS (
        |  SELECT cc.event_type,
        |    MIN(CASE WHEN cum * 100 >= st.n_events * 50 THEN late_s END) AS p50_s,
        |    MIN(CASE WHEN cum * 100 >= st.n_events * 95 THEN late_s END) AS p95_s,
        |    MIN(CASE WHEN cum * 100 >= st.n_events * 99 THEN late_s END) AS p99_s
        |  FROM cc JOIN st ON cc.event_type = st.event_type
        |  GROUP BY 1)
        |SELECT st.event_type, st.n_events, st.n_late, st.max_late_us,
        |  p.p50_s, p.p95_s, p.p99_s
        |FROM st JOIN p ON st.event_type = p.event_type
        |ORDER BY st.event_type""".stripMargin,

    // gapped-subsequence replay: per-user (ts, event_id) ranks, the
    // first/last frame, the greedy earliest-Y-after-first-X step --
    // the same relational decomposition, user-keyed
    "q_seq_patterns" ->
      """WITH tp AS (
        |  SELECT user_id AS u, event_type AS t,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS pos
        |  FROM events),
        |fl AS (SELECT u, t, MIN(pos) AS fp, MAX(pos) AS lp FROM tp GROUP BY 1, 2),
        |p2 AS (
        |  SELECT a.t AS x, bb.t AS y, COUNT(DISTINCT a.u) AS support
        |  FROM fl a JOIN fl bb ON a.u = bb.u AND a.fp < bb.lp
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT tp.u, fx.t AS x, tp.t AS y, MIN(tp.pos) AS bp
        |  FROM tp JOIN fl fx ON fx.u = tp.u AND tp.pos > fx.fp
        |  GROUP BY 1, 2, 3),
        |p3 AS (
        |  SELECT b.x, b.y, fz.t AS z, COUNT(DISTINCT b.u) AS support
        |  FROM b JOIN fl fz ON fz.u = b.u AND fz.lp > b.bp
        |  GROUP BY 1, 2, 3)
        |SELECT pattern, len, support FROM (
        |  SELECT x || ' > ' || y AS pattern, CAST(2 AS BIGINT) AS len, support FROM p2
        |  UNION ALL
        |  SELECT x || ' > ' || y || ' > ' || z, 3, support FROM p3) u
        |WHERE support >= 1
        |ORDER BY len, pattern""".stripMargin,

    // exact cents, (ts_us, event_id) struct argmin/argmax replayed as
    // ROW_NUMBER picks, ISO day strings (the repo day convention)
    // the same bounded window list; weights by 1-based index i over a
    // length-m list (newest i=m gets 2^15) equal the engine's
    // newest-first halving fold; all-integer, division only on display
    "q_ewma" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |l AS (
        |  SELECT event_id, user_id, cents,
        |    list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lags
        |  FROM e),
        |s AS (
        |  SELECT event_id, user_id, cents,
        |    CAST(list_sum(list_transform(lags,
        |      (x, i) -> x * (CAST(1 AS BIGINT) << (15 - len(lags) + i)))) AS BIGINT)
        |      AS ewma_num,
        |    CAST(list_sum(list_transform(lags,
        |      (x, i) -> (CAST(1 AS BIGINT) << (15 - len(lags) + i)))) AS BIGINT)
        |      AS ewma_den
        |  FROM l)
        |SELECT event_id, user_id, cents, ewma_num, ewma_den,
        |  CAST(ewma_num AS DOUBLE) / CAST(ewma_den AS DOUBLE) AS ewma
        |FROM s
        |ORDER BY event_id""".stripMargin,

    "q_ohlc" ->
      """WITH b AS (
        |  SELECT event_type AS series, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    epoch_us(ts) AS tu, event_id AS id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |oc AS (
        |  SELECT series, day, v,
        |    ROW_NUMBER() OVER (PARTITION BY series, day ORDER BY tu, id) AS ro,
        |    ROW_NUMBER() OVER (PARTITION BY series, day ORDER BY tu DESC, id DESC) AS rc
        |  FROM b),
        |ag AS (
        |  SELECT series, day, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(MAX(v) AS BIGINT) AS high_cents, CAST(MIN(v) AS BIGINT) AS low_cents
        |  FROM b GROUP BY series, day)
        |SELECT ag.series, ag.day, ag.n,
        |  o.v AS open_cents, ag.high_cents, ag.low_cents, c.v AS close_cents
        |FROM ag
        |JOIN oc o ON o.series = ag.series AND o.day = ag.day AND o.ro = 1
        |JOIN oc c ON c.series = ag.series AND c.day = ag.day AND c.rc = 1
        |ORDER BY ag.series, ag.day""".stripMargin,

    // the same (type, hour) count with UTC hour(), (c, h) struct
    // argmax/argmin replayed as (c DESC, h DESC) / (c ASC, h ASC)
    // ROW_NUMBER picks, HUGEINT sums → BIGINT
    "q_diurnal" ->
      """WITH hc AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |pk AS (
        |  SELECT event_type, h AS peak_hour, c AS peak_n FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY c DESC, h DESC) AS rn FROM hc) t WHERE rn = 1),
        |tr AS (
        |  SELECT event_type, h AS trough_hour, c AS trough_n FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY c ASC, h ASC) AS rn FROM hc) t WHERE rn = 1),
        |ag AS (
        |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(c * c) AS BIGINT) AS conc_num
        |  FROM hc GROUP BY event_type)
        |SELECT ag.event_type, ag.n, pk.peak_hour, pk.peak_n,
        |  tr.trough_hour, tr.trough_n, ag.conc_num,
        |  CAST(ag.n * ag.n AS BIGINT) AS conc_den
        |FROM ag
        |JOIN pk ON ag.event_type = pk.event_type
        |JOIN tr ON ag.event_type = tr.event_type
        |ORDER BY ag.event_type""".stripMargin,

    // per-user RFM aggregates (exact cents via DECIMAL*100), then per
    // metric the distinct-value inclusive cumsum and the +1'd
    // lower-quantile bucket joined back — ties share a score by
    // construction (NOT NTILE)
    "q_rfm" -> {
      def scoreCte(name: String, metric: String) =
        s"""$name AS (
           |  SELECT __v AS $metric, CAST((__cum - 1) * 5 // __n AS BIGINT) + 1 AS s
           |  FROM (
           |    SELECT $metric AS __v,
           |      CAST(SUM(COUNT(*)) OVER (ORDER BY $metric
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS __cum
           |    FROM users GROUP BY $metric) _c
           |  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS __n FROM users) _t)"""
          .stripMargin
      s"""WITH users AS (
         |  SELECT user_id, CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
         |    CAST(COUNT(*) AS BIGINT) AS freq,
         |    CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS monetary_cents
         |  FROM events GROUP BY user_id),
         |${scoreCte("rs", "last_us")},
         |${scoreCte("fs", "freq")},
         |${scoreCte("ms", "monetary_cents")}
         |SELECT u.user_id, u.last_us, u.freq, u.monetary_cents,
         |  rs.s AS r_score, fs.s AS f_score, ms.s AS m_score
         |FROM users u
         |JOIN rs ON u.last_us = rs.last_us
         |JOIN fs ON u.freq = fs.freq
         |JOIN ms ON u.monetary_cents = ms.monetary_cents
         |ORDER BY u.user_id""".stripMargin
    },

    // the same sweep-line: running MAX of previous ends (plain lag is
    // wrong under swallowed intervals), break cumsum, merged-interval
    // agg, per-user rollup with the merged-frame lag
    "q_interval_cover" ->
      """WITH base AS (
        |  SELECT user_id AS u, event_id AS id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 300000000 AS e
        |  FROM events),
        |marked AS (
        |  SELECT u, id, s, e,
        |    MAX(e) OVER (PARTITION BY u ORDER BY s, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mpe
        |  FROM base),
        |brk AS (
        |  SELECT u, s, e,
        |    CASE WHEN mpe IS NULL OR s > mpe THEN 1 ELSE 0 END AS brk,
        |    id
        |  FROM marked),
        |iid AS (
        |  SELECT u, s, e,
        |    CAST(SUM(brk) OVER (PARTITION BY u ORDER BY s, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS iid
        |  FROM brk),
        |merged AS (
        |  SELECT u, iid, MIN(s) AS ms, MAX(e) AS me
        |  FROM iid GROUP BY u, iid),
        |gaps AS (
        |  SELECT u, ms, me,
        |    ms - LAG(me) OVER (PARTITION BY u ORDER BY iid) AS gap
        |  FROM merged)
        |SELECT u AS user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(me - ms) AS BIGINT) AS covered_us,
        |  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_us
        |FROM gaps GROUP BY u
        |ORDER BY user_id""".stripMargin,

    // the same per-user lag window in whole seconds (epoch_us diff //
    // 1e6, nonneg), HUGEINT sums → BIGINT, the integer variance pair
    // and the cross-multiplied flag
    "q_bot_timing" ->
      """WITH g AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
        |  FROM events),
        |a AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    CAST(SUM(g) AS BIGINT) AS sum_g,
        |    CAST(SUM(g * g) AS BIGINT) AS sum_g2,
        |    CAST(MIN(g) AS BIGINT) AS min_g, CAST(MAX(g) AS BIGINT) AS max_g
        |  FROM g WHERE g IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_gaps, sum_g, sum_g2, min_g, max_g,
        |  CAST(n_gaps * sum_g2 - sum_g * sum_g AS BIGINT) AS var_num,
        |  CAST(n_gaps * n_gaps AS BIGINT) AS var_den,
        |  (n_gaps * sum_g2 - sum_g * sum_g) < n_gaps * n_gaps * 4
        |    AND n_gaps >= 20 AS bot_flag
        |FROM a ORDER BY user_id""".stripMargin,

    // the same per-user lead window, (from, to) counts, from-totals,
    // the (n DESC, to ASC) modal argmax and one pinned division
    "q_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |counts AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |froms AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM counts GROUP BY 1),
        |tops AS (
        |  SELECT from_type, to_type AS top_to FROM (
        |    SELECT from_type, to_type,
        |      ROW_NUMBER() OVER (PARTITION BY from_type ORDER BY n DESC, to_type ASC) AS rn
        |    FROM counts) t WHERE rn = 1)
        |SELECT c.from_type, c.to_type, c.n, f.n_from,
        |  CAST(c.n AS DOUBLE) / CAST(f.n_from AS DOUBLE) AS p,
        |  c.to_type = t.top_to AS is_top
        |FROM counts c
        |JOIN froms f ON c.from_type = f.from_type
        |JOIN tops t ON c.from_type = t.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin,

    // same (ts, event_id)-ordered lead window; complete trigrams only;
    // top-10 by (count DESC, path ASC)
    "q_event_paths" ->
      """WITH seq AS (
        |  SELECT event_type AS t0,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2
        |  FROM events)
        |SELECT t0 || '>' || t1 || '>' || t2 AS path,
        |  CAST(COUNT(*) AS BIGINT) AS n_paths
        |FROM seq
        |WHERE t2 IS NOT NULL
        |GROUP BY 1
        |ORDER BY n_paths DESC, path
        |LIMIT 10""".stripMargin,

    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |  GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |  (SELECT COUNT(*) FROM c) AS n_click_after_view,
        |  (SELECT COUNT(*) FROM p) AS n_purchase_after_click""".stripMargin,

    "q_retention" ->
      """WITH f AS (
        |  SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS cohort_day
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events)
        |SELECT cohort_day,
        |  CAST(datediff('day', CAST(cohort_day AS DATE), CAST(day AS DATE)) AS INT) AS day_offset,
        |  COUNT(*) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q_interval_join" ->
      """SELECT win_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS window_value
        |FROM events e JOIN (
        |  SELECT event_id AS win_id, user_id AS w_user, ts AS w_start,
        |    ts + INTERVAL 2 HOUR AS w_end
        |  FROM events WHERE event_type = 'purchase') w
        |  ON e.user_id = w.w_user
        | AND e.ts >= w.w_start
        | AND e.ts < w.w_end
        |GROUP BY win_id
        |ORDER BY win_id""".stripMargin,
  )
}
