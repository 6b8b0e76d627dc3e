package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, T}

/** User-behavior analytics over the `events` stream table: funnel
  * conversion, cohort retention, and Markov transition counts — the
  * product-analytics battery a warehouse engine is expected to run over
  * event logs (north-star operators per SURVEY §7.4; the reference's
  * pandas pipeline has no event analytics).
  *
  * Scale notes (the whole module is one-pass-per-shape):
  *  - Every per-user computation is a window over ONE
  *    `hashpartitioning(user_id)` exchange — funnel stages chain three
  *    window expressions over the same partitioning, so Catalyst plans a
  *    single shuffle however many stages the funnel has.
  *  - All compared arithmetic is exact: counts, timestamps, and single
  *    integer→double divisions (IEEE correctly-rounded in any engine).
  *    No transcendental functions, no accumulated floating point.
  */
object BehaviorQueries {

  /** One consecutive-event-pair rollup per (session, corpus) — the
    * sharing set for the three Markov-matrix gates (event_transitions,
    * behavior_markov_transitions, behavior_markov_stationary): each ran
    * the IDENTICAL (ts, event_id)-ordered per-user lag window and
    * (src, dst) count rollup; only the normalization downstream differs.
    * Same operator-OUTPUT memo discipline as
    * [[TextQueries.sharedCooccPairs]]: [[GraphQueries.clearSweepMemos]]
    * drops it between bench passes, so best-of-3 repeats measure the
    * window pass (charged to whichever gate runs first).
    *
    * @return pinned (`src_state`, `dst_state`, `cnt`) — the exact
    *         integer transition-count matrix (domain² rows). */
  private val eventPairCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String),
    org.apache.spark.sql.DataFrame]()
  private[queries] def sharedEventPairs(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    eventPairCache.computeIfAbsent((s, d), { case (s2, d2) =>
      graft.ops.Staging.pin(eventPairs(s2, d2))
    })
  private[queries] def clearEventPairCache(): Unit = eventPairCache.clear()

  /** The unpinned build [[sharedEventPairs]] pins: one (ts, event_id)-
    * ordered lag window over ONE user_id exchange, then the (src, dst)
    * count rollup. */
  private[graft] def eventPairs(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    T(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("src_state", lag("event_type", 1).over(w))
      .filter(col("src_state").isNotNull)
      .groupBy(col("src_state"), col("event_type").as("dst_state"))
      .agg(count(lit(1)).as("cnt"))
  }

  val all: Seq[Q] = Seq(

    // Ordered conversion funnel view → click → purchase. Stage N's
    // timestamp is min(ts | type_N ∧ ts > stage_{N-1}), so each user
    // must pass the stages IN ORDER (a click before the first view does
    // not count). All three stage windows ride one user_id exchange;
    // the rollup is a two-row-group aggregate. Conversion ratios are
    // single long→double divisions — bit-exact cross-engine.
    Q(
      "funnel_conversion",
      (s, d) => {
        val w = Window.partitionBy("user_id")
        val tA = min(when(col("event_type") === "view", col("ts"))).over(w)
        val staged = T(s, d, "events")
          .select("user_id", "ts", "event_type")
          .withColumn("t_view", tA)
        val tB = min(when(col("event_type") === "click" &&
          col("ts") > col("t_view"), col("ts"))).over(w)
        val staged2 = staged.withColumn("t_click", tB)
        val tC = min(when(col("event_type") === "purchase" &&
          col("ts") > col("t_click"), col("ts"))).over(w)
        staged2.withColumn("t_purchase", tC)
          .groupBy("user_id")
          .agg(min("t_view").as("tv"), min("t_click").as("tc"),
            min("t_purchase").as("tp"))
          .agg(
            count(col("tv")).as("n_view"),
            count(col("tc")).as("n_click"),
            count(col("tp")).as("n_purchase"))
          .select(col("n_view"), col("n_click"), col("n_purchase"),
            (col("n_click").cast("double") / col("n_view"))
              .as("view_to_click"),
            (col("n_purchase").cast("double") / col("n_click"))
              .as("click_to_purchase"))
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, ts, event_type,
             |    min(CASE WHEN event_type = 'view' THEN ts END)
             |      OVER (PARTITION BY user_id) AS t_view
             |  FROM events),
             |s2 AS (
             |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
             |                     THEN ts END)
             |    OVER (PARTITION BY user_id) AS t_click
             |  FROM s1),
             |s3 AS (
             |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
             |                     THEN ts END)
             |    OVER (PARTITION BY user_id) AS t_purchase
             |  FROM s2),
             |u AS (SELECT user_id, min(t_view) AS tv, min(t_click) AS tc,
             |        min(t_purchase) AS tp
             |      FROM s3 GROUP BY user_id)
             |SELECT count(tv) AS n_view, count(tc) AS n_click,
             |  count(tp) AS n_purchase,
             |  CAST(count(tc) AS DOUBLE) / count(tv) AS view_to_click,
             |  CAST(count(tp) AS DOUBLE) / count(tc) AS click_to_purchase
             |FROM u""".stripMargin),
      "ordered view→click→purchase funnel: chained stage windows on one " +
        "user shuffle, exact-arithmetic conversion ratios"),

    // Weekly cohort retention: users bucketed by first-seen ISO week,
    // counted once per (cohort_week, week_offset) they were active in.
    // Week offsets are exact (both timestamps truncate to Monday, so the
    // day diff is always a multiple of 7). The plan is: one user_id
    // window for the cohort week, a distinct on the tiny
    // (user, cohort, week) triple, one final group-by — all keyed,
    // all linear.
    Q(
      "cohort_retention",
      (s, d) => {
        val w = Window.partitionBy("user_id")
        T(s, d, "events")
          .select(col("user_id"), col("ts"))
          .withColumn("cohort_week",
            date_trunc("week", min(col("ts")).over(w)).cast("date"))
          .withColumn("active_week",
            date_trunc("week", col("ts")).cast("date"))
          .select("user_id", "cohort_week", "active_week")
          .distinct()
          .withColumn("week_offset",
            expr("datediff(active_week, cohort_week) DIV 7").cast("int"))
          .groupBy("cohort_week", "week_offset")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH c AS (
             |  SELECT user_id,
             |    CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id))
             |      AS DATE) AS cohort_week,
             |    CAST(date_trunc('week', ts) AS DATE) AS active_week
             |  FROM events),
             |u AS (SELECT DISTINCT user_id, cohort_week, active_week FROM c)
             |SELECT cohort_week,
             |  CAST(date_diff('day', cohort_week, active_week) // 7 AS INTEGER)
             |    AS week_offset,
             |  count(*) AS n_users
             |FROM u GROUP BY cohort_week, week_offset
             |ORDER BY cohort_week, week_offset""".stripMargin),
      "weekly cohort retention matrix: first-seen week × active-week " +
        "offset, one user window + one distinct + one rollup"),

    // Dense hourly resample per event type: aggregate to the hour, then
    // fill every missing hour in each type's [min, max] span with an
    // explicit zero row — the gap-filling step every downstream
    // time-series consumer (forecasting, anomaly windows, charting)
    // needs before it can difference or roll. The spine is generated
    // per-group from that group's OWN bounds (groups × span hours rows —
    // bounded by calendar time, never by event volume) and left-joins
    // the hourly rollup; no scalar subquery, no global min/max. Value
    // sums DECIMAL-accumulate (order-independent, cross-engine exact)
    // and gap rows coalesce to exact literals.
    Q(
      "timeseries_gapfill",
      (s, d) => {
        val hourly = T(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
        val spine = hourly.groupBy("event_type")
          .agg(min("hour").as("h0"), max("hour").as("h1"))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"),
              expr("INTERVAL 1 HOUR"))).as("hour"))
        spine.join(hourly, Seq("event_type", "hour"), "left")
          .select(col("event_type"), col("hour"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
          .orderBy("event_type", "hour")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |    count(*) AS n,
             |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
             |  FROM events GROUP BY 1, 2),
             |spine AS (
             |  SELECT event_type,
             |    unnest(generate_series(min(hour), max(hour),
             |                           INTERVAL 1 HOUR)) AS hour
             |  FROM hourly GROUP BY event_type)
             |SELECT s.event_type, s.hour,
             |  coalesce(h.n, 0) AS n,
             |  coalesce(h.sum_value, CAST(0.0 AS DOUBLE)) AS sum_value
             |FROM spine s LEFT JOIN hourly h
             |  ON s.event_type = h.event_type AND s.hour = h.hour
             |ORDER BY s.event_type, s.hour""".stripMargin),
      "hourly resample with zero-filled gaps: per-group spine from own " +
        "bounds, calendar-bounded — no scalar subquery"),

    // Rolling 7-day distinct users per day (WAU) — the sliding-window
    // DISTINCT no window function can express (count distinct over a
    // moving frame needs per-frame state). The scale pattern instead:
    // reduce events to distinct (user, day) FIRST (the only data-sized
    // shuffle), then each active day contributes to the 7 calendar days
    // it covers via a bounded ×7 explode of the much smaller distinct
    // frame, and one count-distinct rollup per day. Output restricted to
    // days observed in the data (broadcast semi join with the day set),
    // so trailing partial windows past the data's edge don't appear.
    Q(
      "rolling_distinct_users",
      (s, d) => {
        val ud = T(s, d, "events")
          .select(col("user_id"),
            date_trunc("day", col("ts")).cast("date").as("d"))
          .distinct()
        val days = ud.select(col("d").as("day")).distinct()
        ud.withColumn("day",
            explode(sequence(col("d"), date_add(col("d"), 6))))
          .join(days, "day")
          .groupBy("day")
          .agg(countDistinct("user_id").as("wau_users"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_trunc('day', ts) AS DATE) AS d
             |  FROM events),
             |days AS (SELECT DISTINCT d FROM ud),
             |c AS (SELECT user_id,
             |        CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
             |                                    INTERVAL 1 DAY)) AS DATE) AS day
             |      FROM ud)
             |SELECT c.day, count(DISTINCT c.user_id) AS wau_users
             |FROM c JOIN days ON c.day = days.d
             |GROUP BY c.day ORDER BY c.day""".stripMargin),
      "7-day rolling distinct users per day: distinct-first + bounded " +
        "x7 expansion — the sliding-distinct no window frame can run"),

    // Most frequent event type per user with a deterministic tie-break
    // (count desc, then type asc) — grouped mode. One (user, type)
    // rollup, one WindowGroupLimit-prunable rank. The exact-mode shape:
    // state is group x distinct-value counts, resolved by rank, never a
    // value histogram on the driver.
    Q(
      "agg_mode_per_key",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("n").desc, col("event_type"))
        T(s, d, "events")
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"),
            col("n"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (
             |  SELECT user_id, event_type, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT user_id, event_type, n,
             |        ROW_NUMBER() OVER (PARTITION BY user_id
             |          ORDER BY n DESC, event_type) AS rnk
             |      FROM c)
             |SELECT user_id, event_type AS mode_type, n
             |FROM r WHERE rnk = 1 ORDER BY user_id""".stripMargin),
      "grouped mode with deterministic tie-break: rollup + rank, no " +
        "driver-side histogram"),

    // First-order Markov transition matrix over each user's ordered
    // event stream: lag(event_type) on the (ts, event_id)-ordered user
    // partition, then count per (prev, next) with the per-prev row
    // probability as a single count/count division. The one user_id
    // window exchange runs in the pinned [[sharedEventPairs]] build; the
    // gate itself only normalizes the 25-row matrix.
    Q(
      "event_transitions",
      (s, d) =>
        sharedEventPairs(s, d)
          .select(col("src_state").as("prev_type"),
            col("dst_state").as("next_type"), col("cnt").as("n"))
          .withColumn("p_next",
            col("n").cast("double") /
              sum(col("n")).over(Window.partitionBy("prev_type")))
          .select("prev_type", "next_type", "n", "p_next")
          .orderBy("prev_type", "next_type"),
      Some("""WITH t AS (
             |  SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |                          ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |m AS (SELECT prev_type, event_type AS next_type, count(*) AS n
             |      FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
             |SELECT prev_type, next_type, n,
             |  CAST(n AS DOUBLE) /
             |    (CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)) AS p_next
             |FROM m ORDER BY prev_type, next_type""".stripMargin),
      "per-user Markov transition counts + row-normalized probabilities"),

    // Gaps-and-islands: each event projects a 5-minute activity interval
    // [ts, ts+5min]; overlapping/touching intervals per user merge into
    // maximal islands ([[graft.ops.IntervalOps.mergeIntervals]] — the
    // running-max formulation, since a long interval can swallow several
    // later short ones, which a lag-based gap test gets wrong). ONE
    // shuffle+sort per key serves the running max, the island counter and
    // the rollup. Complements `sessionize` (gap between POINTS) with true
    // interval-overlap semantics.
    Q(
      "interval_merge_islands",
      (s, d) => {
        val iv = T(s, d, "events")
          .select(col("user_id"), col("event_id"),
            col("ts").as("s"),
            (col("ts") + expr("INTERVAL 5 MINUTES")).as("e"))
        graft.ops.IntervalOps
          .mergeIntervals(iv, "user_id", "s", "e", tieCols = Seq("event_id"))
          .orderBy("user_id", "island")
      },
      Some("""WITH iv AS (
             |  SELECT user_id, event_id, ts AS s,
             |         ts + INTERVAL 5 MINUTE AS e
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, s, e,
             |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS pm
             |  FROM iv),
             |f AS (
             |  SELECT user_id, event_id, s, e,
             |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
             |  FROM m),
             |i AS (
             |  SELECT user_id, s, e,
             |    SUM(nw) OVER (PARTITION BY user_id ORDER BY s, event_id
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS island
             |  FROM f)
             |SELECT user_id, CAST(island AS BIGINT) AS island,
             |  min(s) AS island_start, max(e) AS island_end,
             |  count(*) AS n_rows
             |FROM i GROUP BY user_id, island
             |ORDER BY user_id, island""".stripMargin),
      "merge overlapping per-user activity intervals into maximal islands (one sort)"),

    // Interval COVERAGE per user off the same islands — the uptime/SLA
    // rollup: covered time = Σ island durations (exact µs integers),
    // span = last end − first start, utilization = covered/span, one
    // IEEE division. "How much of this user's active window was actually
    // active" — the number a capacity or engagement readout wants, and
    // the composition mergeIntervals exists to feed.
    Q(
      "interval_coverage",
      (s, d) => {
        val iv = T(s, d, "events")
          .select(col("user_id"), col("event_id"),
            col("ts").as("s"),
            (col("ts") + expr("INTERVAL 5 MINUTES")).as("e"))
        graft.ops.IntervalOps
          .mergeIntervals(iv, "user_id", "s", "e", tieCols = Seq("event_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            sum(unix_micros(col("island_end")) -
              unix_micros(col("island_start"))).as("covered_us"),
            (max(unix_micros(col("island_end"))) -
              min(unix_micros(col("island_start")))).as("span_us"))
          .withColumn("utilization",
            col("covered_us").cast("double") / col("span_us").cast("double"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (
             |  SELECT user_id, event_id, ts AS s,
             |         ts + INTERVAL 5 MINUTE AS e
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, s, e,
             |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS pm
             |  FROM iv),
             |f AS (
             |  SELECT user_id, event_id, s, e,
             |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
             |  FROM m),
             |i AS (
             |  SELECT user_id, s, e,
             |    SUM(nw) OVER (PARTITION BY user_id ORDER BY s, event_id
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS island
             |  FROM f),
             |isl AS (SELECT user_id, island,
             |    min(s) AS island_start, max(e) AS island_end
             |  FROM i GROUP BY user_id, island)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
             |  CAST(sum(epoch_us(island_end) - epoch_us(island_start))
             |    AS BIGINT) AS covered_us,
             |  CAST(max(epoch_us(island_end)) - min(epoch_us(island_start))
             |    AS BIGINT) AS span_us,
             |  CAST(sum(epoch_us(island_end) - epoch_us(island_start))
             |      AS DOUBLE) /
             |    CAST(max(epoch_us(island_end)) - min(epoch_us(island_start))
             |      AS DOUBLE) AS utilization
             |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin),
      "per-user interval coverage: exact covered/span microseconds off the merged islands"),

    // PEAK CONCURRENCY across all activity windows — the capacity
    // question ("how many sessions were live at the worst instant"):
    // classic ±1 sweep, ends sorting before starts at the same instant
    // ([s, e) semantics ride the (t, d) order with d = −1 < +1), the
    // running sum via the range-staged [[graft.ops.StatOps.globalRunningSums]]
    // — never a single-partition window — and ONE struct-max aggregate
    // picks (peak, earliest instant) deterministically.
    Q(
      "interval_max_overlap",
      (s, d) => {
        val ev = T(s, d, "events")
        val pts = ev.select(col("ts").as("t"), lit(1L).as("d"),
            col("event_id"))
          .unionByName(ev.select(
            (col("ts") + expr("INTERVAL 5 MINUTES")).as("t"),
            lit(-1L).as("d"), col("event_id")))
        graft.ops.StatOps.globalRunningSums(pts,
            Seq(col("t"), col("d"), col("event_id")), Seq("d" -> "c"))
          .agg(max(struct(col("c"),
            (-unix_micros(col("t"))).as("negt"))).as("_b"))
          .select(col("_b.c").as("peak_concurrency"),
            timestamp_micros(-col("_b.negt")).as("peak_at"))
      },
      Some("""WITH pts AS (
             |  SELECT ts AS t, CAST(1 AS BIGINT) AS d, event_id FROM events
             |  UNION ALL
             |  SELECT ts + INTERVAL 5 MINUTE, CAST(-1 AS BIGINT), event_id
             |  FROM events),
             |cum AS (SELECT t, d,
             |    SUM(d) OVER (ORDER BY t, d, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
             |  FROM pts)
             |SELECT CAST(c AS BIGINT) AS peak_concurrency, t AS peak_at
             |FROM cum ORDER BY c DESC, t ASC LIMIT 1""".stripMargin),
      "peak concurrent activity: +/-1 sweep on the range-staged global running sum"),

    // WINDOWED funnel: view → click → purchase where every later step
    // must land within 7 days of the anchor view — the product-real
    // funnel (an unbounded funnel credits a purchase months after the
    // exposure; attribution teams cap it). Same two-stage window
    // derivation as `funnel_conversion` with the deadline folded into
    // each step's eligibility; conversion lag rides as exact µs sums
    // into one final division. (Probed at sf0.01: the 7-day cap binds —
    // 150/144/126 users vs 150/150/150 uncapped.)
    Q(
      "funnel_windowed",
      (s, d) => {
        val w = Window.partitionBy("user_id")
        val staged = T(s, d, "events")
          .select("user_id", "ts", "event_type")
          .withColumn("tv",
            min(when(col("event_type") === "view", col("ts"))).over(w))
        val staged2 = staged.withColumn("tc",
          min(when(col("event_type") === "click" && col("ts") > col("tv") &&
            col("ts") <= col("tv") + expr("INTERVAL 7 DAYS"), col("ts")))
            .over(w))
        staged2
          .withColumn("tp",
            min(when(col("event_type") === "purchase" &&
              col("ts") > col("tc") &&
              col("ts") <= col("tv") + expr("INTERVAL 7 DAYS"), col("ts")))
              .over(w))
          .groupBy("user_id")
          .agg(min("tv").as("tv"), min("tc").as("tc"), min("tp").as("tp"))
          .agg(
            count(col("tv")).as("n_view"),
            count(col("tc")).as("n_click_7d"),
            count(col("tp")).as("n_purchase_7d"),
            sum(when(col("tp").isNotNull,
              unix_micros(col("tp")) - unix_micros(col("tv"))))
              .as("sum_convert_us"))
          .select(col("n_view"), col("n_click_7d"), col("n_purchase_7d"),
            col("sum_convert_us"),
            (col("n_click_7d").cast("double") / col("n_view").cast("double"))
              .as("view_to_click"),
            (col("n_purchase_7d").cast("double") /
              col("n_click_7d").cast("double")).as("click_to_purchase"),
            (col("sum_convert_us").cast("double") /
              col("n_purchase_7d").cast("double")).as("mean_convert_us"))
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, ts, event_type,
             |    min(CASE WHEN event_type = 'view' THEN ts END)
             |      OVER (PARTITION BY user_id) AS tv
             |  FROM events),
             |s2 AS (
             |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > tv
             |                       AND ts <= tv + INTERVAL 7 DAY
             |                     THEN ts END)
             |    OVER (PARTITION BY user_id) AS tc
             |  FROM s1),
             |s3 AS (
             |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > tc
             |                       AND ts <= tv + INTERVAL 7 DAY
             |                     THEN ts END)
             |    OVER (PARTITION BY user_id) AS tp
             |  FROM s2),
             |u AS (SELECT user_id, min(tv) AS tv, min(tc) AS tc,
             |    min(tp) AS tp
             |  FROM s3 GROUP BY user_id),
             |f AS (SELECT
             |    CAST(count(tv) AS BIGINT) AS n_view,
             |    CAST(count(tc) AS BIGINT) AS n_click_7d,
             |    CAST(count(tp) AS BIGINT) AS n_purchase_7d,
             |    CAST(sum(CASE WHEN tp IS NOT NULL
             |      THEN epoch_us(tp) - epoch_us(tv) END) AS BIGINT)
             |      AS sum_convert_us
             |  FROM u)
             |SELECT n_view, n_click_7d, n_purchase_7d, sum_convert_us,
             |  CAST(n_click_7d AS DOUBLE) / CAST(n_view AS DOUBLE)
             |    AS view_to_click,
             |  CAST(n_purchase_7d AS DOUBLE) / CAST(n_click_7d AS DOUBLE)
             |    AS click_to_purchase,
             |  CAST(sum_convert_us AS DOUBLE) / CAST(n_purchase_7d AS DOUBLE)
             |    AS mean_convert_us
             |FROM f""".stripMargin),
      "7-day windowed funnel with exact-microsecond conversion lag"),

    // Two-proportion z-test for an A/B experiment: users are assigned to
    // arms by the same salted-md5 machinery as corpus splits
    // ([[graft.ops.CorpusOps.saltedHash]] — reproducible, independent of
    // any other hash decision), conversion = "has a purchase event". All
    // counts are exact integers; the z statistic is a fixed chain of
    // IEEE-double ops + one correctly-rounded sqrt over those integers,
    // so even the statistic hash-matches. One user shuffle + one scalar
    // rollup, however many events.
    Q(
      "stats_ab_ztest",
      (s, d) => {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        val u = T(s, d, "events")
          .groupBy("user_id")
          // conversion = "made a purchase over 100" — a rate strictly
          // inside (0,1) at every test SF; a saturated rate (pooled p of
          // 0 or 1) would make the z denominator 0, and ANSI mode
          // correctly refuses to divide by it
          .agg(max((col("event_type") === "purchase" && col("value") > 100)
            .cast("long")).as("conv"))
          .withColumn("arm",
            when(graft.ops.CorpusOps.saltedHash(col("user_id"), "ab") < lit(t50),
              "A").otherwise("B"))
        val a = u.agg(
          sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === "A", col("conv")).otherwise(0L)).as("conv_a"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === "B", col("conv")).otherwise(0L)).as("conv_b"))
        val pA = col("conv_a").cast("double") / col("n_a")
        val pB = col("conv_b").cast("double") / col("n_b")
        val pp = (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b"))
        a.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          pA.as("p_a"), pB.as("p_b"),
          ((pA - pB) /
            sqrt(pp * (lit(1.0) - pp) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))).as("z"))
      },
      Some {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        s"""WITH u AS (
           |  SELECT user_id,
           |    CASE WHEN md5('ab:' || CAST(user_id AS VARCHAR)) < '$t50'
           |         THEN 'A' ELSE 'B' END AS arm,
           |    max(CASE WHEN event_type = 'purchase' AND value > 100
           |             THEN 1 ELSE 0 END) AS conv
           |  FROM events GROUP BY user_id),
           |a AS (SELECT
           |  CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |  CAST(SUM(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
           |  CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           |  CAST(SUM(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
           |  FROM u)
           |SELECT n_a, conv_a, n_b, conv_b,
           |  CAST(conv_a AS DOUBLE) / n_a AS p_a,
           |  CAST(conv_b AS DOUBLE) / n_b AS p_b,
           |  (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
           |  sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
           |       (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
           |       (1.0 / n_a + 1.0 / n_b)) AS z
           |FROM a""".stripMargin
      },
      "A/B two-proportion z-test from hash-assigned arms: exact counts, bit-stable statistic"),

    // Time-weighted average value per user (TWAP): each observation
    // holds until the next one (LOCF weighting); weights are exact
    // microsecond durations, values are quantized to integer cents
    // (floor(v·100) — one exact-rounded multiply + floor, identical on
    // any engine), so both sums are exact BIGINTs and only the final
    // ratio is floating point. Why not SUM(value*dur) directly: double
    // accumulation is scan-order-dependent and could never hash-gate.
    // ONE user shuffle: the lead() window and the rollup share it.
    Q(
      "timeseries_twap",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        T(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            floor(col("value") * 100).cast("long").as("vq"))
          .withColumn("dur",
            lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
          .filter(col("dur").isNotNull)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_segments"),
            sum("dur").as("total_dur_us"),
            sum(col("vq") * col("dur")).as("wsum"))
          // a user whose whole history shares one timestamp has no span
          // to average over — exclude BEFORE dividing (ANSI-safe)
          .filter(col("total_dur_us") > 0)
          .select(col("user_id"), col("n_segments"), col("total_dur_us"),
            (col("wsum").cast("double") / col("total_dur_us").cast("double") /
              lit(100.0)).as("twap"))
          .orderBy("user_id")
      },
      Some("""WITH sgm AS (
             |  SELECT user_id,
             |    CAST(floor(value * 100) AS BIGINT) AS vq,
             |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
             |                             ORDER BY ts, event_id)
             |      - epoch_us(ts) AS dur
             |  FROM events)
             |SELECT user_id, count(*) AS n_segments,
             |  CAST(SUM(dur) AS BIGINT) AS total_dur_us,
             |  CAST(SUM(vq * dur) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE)
             |    / 100.0 AS twap
             |FROM sgm WHERE dur IS NOT NULL
             |GROUP BY user_id HAVING SUM(dur) > 0
             |ORDER BY user_id""".stripMargin),
      "last-observation-carried-forward time-weighted average: exact integer weights, one shuffle"),

    // Last-touch attribution with a 1-hour lookback: every purchase is
    // attributed to the user's most recent click at most an hour older,
    // else labeled organic. Composes [[graft.ops.AsOfJoin.asOf]] (one
    // shuffle+sort union window, never a range cross join) with a
    // tolerance post-filter — the marketing-attribution shape, and a
    // demonstration that the as-of operator composes instead of needing
    // a bespoke "attribution join". Oracle: DuckDB ASOF + the same CASE.
    Q(
      "attribution_last_touch",
      (s, d) => {
        val ev = T(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("click_id"))
          .withColumnRenamed("ts", "click_ts")
        val within = col("click_ts").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("click_ts")) <=
            lit(3600L * 1000000L)
        graft.ops.AsOfJoin
          .asOf(purchases, clicks, "user_id",
            leftTime = "ts", rightTime = "click_ts",
            payload = Seq("click_id" -> "click_id", "click_ts" -> "click_ts"))
          .select(col("event_id"), col("user_id"), col("ts"),
            when(within, col("click_id")).as("attributed_click_id"),
            when(within, col("click_ts")).as("attributed_click_ts"),
            when(within, lit("attributed")).otherwise(lit("organic"))
              .as("attribution"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
             |           WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id
             |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             |j AS (SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_ts
             |      FROM p ASOF LEFT JOIN c
             |        ON p.user_id = c.user_id AND p.ts >= c.click_ts)
             |SELECT event_id, user_id, ts,
             |  CASE WHEN click_ts IS NOT NULL
             |        AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
             |       THEN click_id END AS attributed_click_id,
             |  CASE WHEN click_ts IS NOT NULL
             |        AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
             |       THEN click_ts END AS attributed_click_ts,
             |  CASE WHEN click_ts IS NOT NULL
             |        AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
             |       THEN 'attributed' ELSE 'organic' END AS attribution
             |FROM j ORDER BY event_id""".stripMargin),
      "last-touch purchase attribution: as-of join + 1h tolerance, organic fallback"),

    // CUPED variance reduction (Deng et al., WSDM'13): adjust each
    // user's experiment-period metric by their pre-period covariate,
    // adjusted = y − θ·(x − x̄) with θ = cov(x,y)/var(x). Both metrics
    // are exact integer cent sums per user (floor(v·100), the
    // quantized-moments discipline of `stat_regression_per_key`); θ and
    // x̄ come from one scalar moment rollup, broadcast back, and the
    // adjustment is a fixed IEEE chain — every adjusted value
    // hash-matches. Two keyed aggregations + one broadcast join.
    Q(
      "stats_cuped_adjust",
      (s, d) => {
        val cut = lit("2024-01-16").cast("timestamp")
        val u = T(s, d, "events")
          .groupBy("user_id")
          .agg(
            sum(when(col("ts") < cut, floor(col("value") * 100).cast("long"))
              .otherwise(0L)).as("x"),
            sum(when(col("ts") >= cut, floor(col("value") * 100).cast("long"))
              .otherwise(0L)).as("y"))
        val m = u.agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        val nd = col("n").cast("double")
        val theta = (nd * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (nd * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))
        val stats = m.select(theta.as("theta"),
          (col("sx").cast("double") / col("n")).as("xbar"))
        u.join(broadcast(stats))
          .select(col("user_id"), col("x"), col("y"),
            (col("y").cast("double") -
              col("theta") * (col("x").cast("double") - col("xbar")))
              .as("adjusted"))
          .orderBy("user_id")
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
             |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
             |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
             |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
             |  FROM events GROUP BY user_id),
             |m AS (SELECT
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx
             |  FROM u),
             |st AS (SELECT
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
             |    CAST(sx AS DOUBLE) / n AS xbar
             |  FROM m)
             |SELECT u.user_id, u.x, u.y,
             |  CAST(u.y AS DOUBLE) - st.theta * (CAST(u.x AS DOUBLE) - st.xbar)
             |    AS adjusted
             |FROM u, st ORDER BY u.user_id""".stripMargin),
      "CUPED pre-period adjustment: quantized integer moments, bit-stable adjusted metrics"),

    // Rolling z-score anomaly detection: each event scored against the
    // trailing 20-observation window of its own user's history. The
    // rolling count/sum/sum-of-squares are exact integer (cent-quantized)
    // frame aggregates — float accumulation over sliding frames is the
    // classic nondeterminism trap — and mean/var/z are one fixed IEEE
    // chain per row. Degenerate frames (n < 2 or zero variance) yield
    // NULL. ONE user shuffle serves all three frame aggregates.
    Q(
      "timeseries_rolling_z",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-19, Window.currentRow)
        val nd = col("n").cast("double")
        val mean = col("s1").cast("double") / nd
        val variance = (col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / nd) /
          (nd - lit(1.0))
        T(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            floor(col("value") * 100).cast("long").as("vq"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("s1", sum("vq").over(w))
          .withColumn("s2", sum(col("vq") * col("vq")).over(w))
          .select(col("user_id"), col("event_id"), col("vq"), col("n"),
            when(col("n") >= 2 && variance > 0.0,
              (col("vq").cast("double") - mean) / sqrt(variance))
              .as("z"))
          .orderBy("event_id")
      },
      Some("""WITH r AS (
             |  SELECT user_id, event_id,
             |    CAST(floor(value * 100) AS BIGINT) AS vq,
             |    count(*) OVER w AS n,
             |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) OVER w
             |         AS BIGINT) AS s1,
             |    CAST(SUM(CAST(floor(value * 100) AS BIGINT) *
             |             CAST(floor(value * 100) AS BIGINT)) OVER w
             |         AS BIGINT) AS s2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id, vq, n,
             |  CASE WHEN n >= 2 AND
             |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
             |       / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0.0
             |  THEN (CAST(vq AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
             |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
             |       / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
             |  END AS z
             |FROM r ORDER BY event_id""".stripMargin),
      "trailing-window anomaly z-scores: exact integer frame sums, one user shuffle"),

    // Chi-square test of independence over the event_type × arm
    // contingency table — the >2-group sibling of the z-test. Every cell
    // term (oN − rc)²/(rcN) is exact-integer numerator/denominator with
    // ONE double division, and the terms are summed by an ORDERED fold
    // (sorted cell structs → left fold) — an unordered SUM of doubles is
    // partition-order-dependent and could never hash-gate. Two keyed
    // rollups + a scalar fold.
    Q(
      "stats_chi2_independence",
      (s, d) => {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        val cells = T(s, d, "events")
          .withColumn("arm",
            when(graft.ops.CorpusOps.saltedHash(col("user_id"), "ab") < lit(t50),
              "A").otherwise("B"))
          .groupBy("event_type", "arm")
          .agg(count(lit(1)).as("o"))
        val withTotals = cells
          .withColumn("r", sum("o").over(Window.partitionBy("event_type")))
          .withColumn("c", sum("o").over(Window.partitionBy("arm")))
          .withColumn("nn", sum("o").over(Window.partitionBy()))
          .withColumn("num", col("o") * col("nn") - col("r") * col("c"))
          .withColumn("term",
            (col("num") * col("num")).cast("double") /
              (col("r") * col("c") * col("nn")).cast("double"))
        withTotals
          .agg(
            aggregate(
              transform(
                array_sort(collect_list(struct(col("event_type"), col("arm"),
                  col("term")))),
                s0 => s0.getField("term")),
              lit(0.0), (acc, x) => acc + x).as("chi2"),
            ((countDistinct("event_type") - 1) *
              (countDistinct("arm") - 1)).as("dof"),
            max("nn").as("n"))
      },
      Some {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        s"""WITH cells AS (
           |  SELECT event_type,
           |    CASE WHEN md5('ab:' || CAST(user_id AS VARCHAR)) < '$t50'
           |         THEN 'A' ELSE 'B' END AS arm,
           |    count(*) AS o
           |  FROM events GROUP BY 1, 2),
           |t AS (SELECT event_type, arm, o,
           |    CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
           |    CAST(SUM(o) OVER (PARTITION BY arm) AS BIGINT) AS c,
           |    CAST(SUM(o) OVER () AS BIGINT) AS nn
           |  FROM cells),
           |terms AS (SELECT event_type, arm, nn,
           |    CAST((o * nn - r * c) * (o * nn - r * c) AS DOUBLE) /
           |    CAST(r * c * nn AS DOUBLE) AS term
           |  FROM t)
           |SELECT
           |  list_reduce(
           |    list_prepend(CAST(0.0 AS DOUBLE),
           |      list(CAST(term AS DOUBLE) ORDER BY event_type, arm)),
           |    (acc, x) -> acc + x) AS chi2,
           |  CAST((count(DISTINCT event_type) - 1) *
           |       (count(DISTINCT arm) - 1) AS BIGINT) AS dof,
           |  CAST(max(nn) AS BIGINT) AS n
           |FROM terms""".stripMargin
      },
      "chi-square independence over type×arm: exact integer cell terms, order-fixed fold"),

    // Frequent behavior sequences: top-20 event-type trigrams over
    // per-user ordered histories — the sequential-pattern tier above
    // the Markov transition gate (pairs). Two lags on ONE user window,
    // a trigram rollup, and a deterministic (count desc, trigram asc)
    // top-k via TakeOrdered — no global sort.
    Q(
      "behavior_top_sequences",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        T(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("p1", lag("event_type", 1).over(w))
          .withColumn("p2", lag("event_type", 2).over(w))
          .filter(col("p2").isNotNull)
          .select(concat_ws(">", col("p2"), col("p1"), col("event_type"))
            .as("trigram"))
          .groupBy("trigram").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("trigram").asc)
          .limit(20)
      },
      Some("""WITH t AS (
             |  SELECT user_id, event_type,
             |    lag(event_type, 1) OVER w AS p1,
             |    lag(event_type, 2) OVER w AS p2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT p2 || '>' || p1 || '>' || event_type AS trigram,
             |  count(*) AS cnt
             |FROM t WHERE p2 IS NOT NULL
             |GROUP BY 1 ORDER BY cnt DESC, trigram ASC
             |LIMIT 20""".stripMargin),
      "top-20 behavior trigrams: sequential patterns above the Markov pair tier"),

    // First-order Markov transition matrix: per-user consecutive event
    // pairs rolled up to (src → dst) counts, row-normalized into
    // transition probabilities — the model behind next-action
    // prediction and anomalous-flow detection. Integer counts; each
    // probability is one division of them. The per-src totals are
    // derived FROM the pair rollup (no second corpus scan).
    Q(
      "behavior_markov_transitions",
      (s, d) => {
        val pairs = sharedEventPairs(s, d)
        val totals = pairs.groupBy("src_state")
          .agg(sum("cnt").as("src_total"))
        pairs.join(totals, Seq("src_state"))
          .withColumn("prob",
            col("cnt").cast("double") / col("src_total").cast("double"))
          .select("src_state", "dst_state", "cnt", "src_total", "prob")
          .orderBy("src_state", "dst_state")
      },
      Some("""WITH t AS (
             |  SELECT event_type AS dst_state,
             |    lag(event_type, 1) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id) AS src_state
             |  FROM events),
             |p AS (SELECT src_state, dst_state,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM t WHERE src_state IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT src_state, CAST(sum(cnt) AS BIGINT) AS src_total
             |        FROM p GROUP BY 1)
             |SELECT p.src_state, p.dst_state, p.cnt, tot.src_total,
             |  CAST(p.cnt AS DOUBLE) / CAST(tot.src_total AS DOUBLE) AS prob
             |FROM p JOIN tot USING (src_state)
             |ORDER BY src_state, dst_state""".stripMargin),
      "Markov transition matrix: consecutive-pair counts, row-normalized probabilities"),

    // Stationary distribution of the same transition matrix
    // ([[graft.ops.StatOps.markovStationaryUnits]], 3 iterations): where
    // does the session process SETTLE — the long-run state mix beside
    // the one-step matrix. π ← π·P in integer units with the PageRank
    // muldiv discipline ((π·c) div r per cell, truncation documented);
    // the state space is the 5-value event-type domain, so every frame
    // is domain-sized and the oracle unrolls all three iterates.
    Q(
      "behavior_markov_stationary",
      (s, d) => {
        val pairs = sharedEventPairs(s, d)
        graft.ops.StatOps
          .markovStationaryUnits(pairs, "src_state", "dst_state", "cnt",
            iters = 3)
          .orderBy("s")
      },
      Some {
        val rounds = (1 to 3).map { i =>
          s"""it$i AS (SELECT tr.d AS s,
             |    CAST(sum((pi${i - 1}.pv * tr.c) // tr.r) AS BIGINT) AS pv
             |  FROM tr JOIN pi${i - 1} ON pi${i - 1}.s = tr.f GROUP BY 1),
             |pi$i AS (SELECT st.s, coalesce(it$i.pv, 0) AS pv
             |  FROM states st LEFT JOIN it$i ON it$i.s = st.s)""".stripMargin
        }.mkString(",\n")
        s"""WITH t AS (
           |  SELECT event_type AS dst_state,
           |    lag(event_type, 1) OVER
           |      (PARTITION BY user_id ORDER BY ts, event_id) AS src_state
           |  FROM events),
           |p AS (SELECT src_state, dst_state,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM t WHERE src_state IS NOT NULL GROUP BY 1, 2),
           |tot AS (SELECT src_state, CAST(sum(cnt) AS BIGINT) AS src_total
           |        FROM p GROUP BY 1),
           |tr AS (SELECT p.src_state AS f, p.dst_state AS d, p.cnt AS c,
           |    tot.src_total AS r
           |  FROM p JOIN tot USING (src_state)),
           |states AS (SELECT src_state AS s FROM p
           |           UNION SELECT dst_state FROM p),
           |pi0 AS (SELECT s, CAST(1000000 AS BIGINT) AS pv FROM states),
           |$rounds
           |SELECT s, CAST(pv AS BIGINT) AS pi_units
           |FROM pi3 ORDER BY s""".stripMargin
      },
      "Markov stationary mix: 3 integer-unit power iterations, oracle-unrolled"),

    // DAU/MAU stickiness — the product-health scalar: average daily
    // distinct users over monthly distinct users. Exact distinct counts,
    // one integer-sum-over-days, two double divisions; the daily
    // distinct rollup is the only data-sized aggregation.
    Q(
      "behavior_dau_mau",
      (s, d) => {
        val daily = T(s, d, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(countDistinct("user_id").as("dau"))
        val mau = T(s, d, "events")
          .agg(countDistinct("user_id").as("mau"))
        daily
          .agg(count(lit(1)).as("n_days"), sum("dau").as("dau_sum"))
          .join(broadcast(mau))
          .select(col("n_days"), col("dau_sum"), col("mau"),
            (col("dau_sum").cast("double") / col("n_days") / col("mau"))
              .as("stickiness"))
      },
      Some("""WITH daily AS (
             |  SELECT date_trunc('day', ts) AS day,
             |    count(DISTINCT user_id) AS dau
             |  FROM events GROUP BY 1),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
             |        CAST(SUM(dau) AS BIGINT) AS dau_sum FROM daily),
             |m AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS mau
             |      FROM events)
             |SELECT n_days, dau_sum, mau,
             |  CAST(dau_sum AS DOUBLE) / n_days / mau AS stickiness
             |FROM a, m""".stripMargin),
      "DAU/MAU stickiness scalar: exact distincts, one daily rollup"),

    // Rolling exact median (trailing 10 observations per user) — the
    // robust sibling of the rolling z-score: frame values are collected,
    // sorted, and the lower-median ELEMENT selected, so the result is a
    // stored cent-quantized integer — no interpolation, no float
    // accumulation, nothing engine-specific. Frame state is 10 values
    // per row by construction (the bounded-frame contract); one user
    // shuffle serves both frame aggregates.
    Q(
      "timeseries_rolling_median",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-9, Window.currentRow)
        T(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            floor(col("value") * 100).cast("long").as("vq"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("med_q",
            element_at(sort_array(collect_list(col("vq")).over(w)),
              expr("CAST((n + 1) div 2 AS INT)")))
          .select(col("user_id"), col("event_id"), col("vq"), col("n"),
            (col("med_q").cast("double") / 100.0).as("rolling_median"))
          .orderBy("event_id")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(floor(value * 100) AS BIGINT) AS vq,
             |  count(*) OVER w AS n,
             |  CAST(list_sort(list(CAST(floor(value * 100) AS BIGINT)) OVER w)
             |         [(count(*) OVER w + 1) // 2] AS DOUBLE) / 100.0
             |    AS rolling_median
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin),
      "trailing-10 exact rolling median: sorted frame element selection, zero interpolation"),

    // Two-sample Kolmogorov–Smirnov over the A/B arms' VALUE
    // distributions — the nonparametric companion of the z-test (which
    // only compares a conversion proportion): D = max |F_A − F_B| as a
    // pure-integer numerator max over one range-staged pass
    // ([[graft.ops.StatOps.ksStatistic]]), bit-exact on any engine.
    Q(
      "stats_ks_test",
      (s, d) => {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        val flagged = T(s, d, "events")
          .select(col("value"), col("event_id"),
            when(graft.ops.CorpusOps.saltedHash(col("user_id"), "ab") < lit(t50),
              1L).otherwise(0L).as("fa"))
        graft.ops.StatOps.ksStatistic(flagged, "fa", "value", "event_id")
      },
      Some {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        s"""WITH t AS (
           |  SELECT value, event_id,
           |    CASE WHEN md5('ab:' || CAST(user_id AS VARCHAR)) < '$t50'
           |         THEN 1 ELSE 0 END AS fa
           |  FROM events),
           |c0 AS (SELECT value, event_id, fa,
           |    SUM(fa) OVER w AS c_a,
           |    SUM(1 - fa) OVER w AS c_b
           |  FROM t WINDOW w AS (ORDER BY value, event_id
           |                      ROWS UNBOUNDED PRECEDING)),
           |c AS (SELECT value, max(c_a) AS c_a, max(c_b) AS c_b
           |  FROM c0 GROUP BY value),
           |n AS (SELECT CAST(max(c_a) AS BIGINT) AS n_a,
           |        CAST(max(c_b) AS BIGINT) AS n_b FROM c)
           |SELECT n_a, n_b,
           |  CAST(max(abs(c_a * n_b - c_b * n_a)) AS BIGINT) AS d_num,
           |  CAST(max(abs(c_a * n_b - c_b * n_a)) AS DOUBLE) /
           |    CAST(n_a * n_b AS DOUBLE) AS d
           |FROM c, n GROUP BY n_a, n_b""".stripMargin
      },
      "exact two-sample KS statistic between A/B value distributions: integer-numerator max"),

    // Wasserstein-1 (earth mover's) distance between the arms' value
    // distributions — the drift metric that weighs how FAR the mass
    // moved, not just whether it did (KS is the sup norm; PSI/JS are
    // bin divergences). Values ride cents-quantized, every term is the
    // exact integer |c_a·n_b − c_b·n_a|·gap, one final division
    // ([[graft.ops.StatOps.wasserstein1]]); `w1` is in cent units,
    // `w1_value` in value units.
    Q(
      "stats_wasserstein1",
      (s, d) => {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        val flagged = T(s, d, "events")
          .select(floor(col("value") * 100).cast("long").as("vq"),
            col("event_id"),
            when(graft.ops.CorpusOps.saltedHash(col("user_id"), "ab") < lit(t50),
              1L).otherwise(0L).as("fa"))
        graft.ops.StatOps.wasserstein1(flagged, "fa", "vq", "event_id")
          .withColumn("w1_value", col("w1") / 100.0)
      },
      Some {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        s"""WITH t AS (
           |  SELECT CAST(floor(value * 100) AS BIGINT) AS vq, event_id,
           |    CASE WHEN md5('ab:' || CAST(user_id AS VARCHAR)) < '$t50'
           |         THEN 1 ELSE 0 END AS fa
           |  FROM events),
           |c0 AS (SELECT vq, fa,
           |    SUM(fa) OVER w AS c_a,
           |    SUM(1 - fa) OVER w AS c_b
           |  FROM t WINDOW w AS (ORDER BY vq, event_id
           |                      ROWS UNBOUNDED PRECEDING)),
           |c AS (SELECT vq, max(c_a) AS c_a, max(c_b) AS c_b
           |  FROM c0 GROUP BY vq),
           |g AS (SELECT vq, c_a, c_b,
           |    lead(vq) OVER (ORDER BY vq) - vq AS gap FROM c),
           |n AS (SELECT CAST(max(c_a) AS BIGINT) AS n_a,
           |        CAST(max(c_b) AS BIGINT) AS n_b FROM c),
           |s AS (SELECT n_a, n_b,
           |    CAST(SUM(CASE WHEN gap IS NOT NULL
           |      THEN abs(c_a * n_b - c_b * n_a) * gap ELSE 0 END)
           |      AS BIGINT) AS w1_num
           |  FROM g, n GROUP BY n_a, n_b)
           |SELECT n_a, n_b, w1_num,
           |  CAST(w1_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS w1,
           |  CAST(w1_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) / 100.0
           |    AS w1_value
           |FROM s""".stripMargin
      },
      "exact 1-D Wasserstein (EMD) between A/B value distributions: integer CDF-gap terms"),

    // Mann–Whitney U between the arms' value distributions — the
    // rank-sum nonparametric test beside KS. Tie-averaged ranks ride as
    // DOUBLED integers (always integral) until one final halving, so
    // the statistic is exact ([[graft.ops.StatOps.mannWhitneyU]]).
    Q(
      "stats_mannwhitney_u",
      (s, d) => {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        val flagged = T(s, d, "events")
          .select(col("value"), col("event_id"),
            when(graft.ops.CorpusOps.saltedHash(col("user_id"), "ab") < lit(t50),
              1L).otherwise(0L).as("fa"))
        graft.ops.StatOps.mannWhitneyU(flagged, "fa", "value", "event_id")
      },
      Some {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        s"""WITH t AS (
           |  SELECT value, event_id,
           |    CASE WHEN md5('ab:' || CAST(user_id AS VARCHAR)) < '$t50'
           |         THEN 1 ELSE 0 END AS fa
           |  FROM events),
           |r AS (SELECT value, fa,
           |    row_number() OVER (ORDER BY value, event_id) AS i
           |  FROM t),
           |tie AS (SELECT value, min(i) + max(i) AS avg2 FROM r GROUP BY value),
           |j AS (SELECT r.fa, tie.avg2 FROM r JOIN tie ON tie.value = r.value)
           |SELECT
           |  CAST(SUM(fa) AS BIGINT) AS n_a,
           |  CAST(count(*) - SUM(fa) AS BIGINT) AS n_b,
           |  CAST(SUM(CASE WHEN fa = 1 THEN avg2 ELSE 0 END) AS BIGINT) AS r2_a,
           |  CAST(CAST(SUM(CASE WHEN fa = 1 THEN avg2 ELSE 0 END) AS BIGINT)
           |       - SUM(fa) * (SUM(fa) + 1) AS DOUBLE) / 2.0 AS u_a
           |FROM j""".stripMargin
      },
      "Mann-Whitney U with exact doubled tie-averaged ranks: the rank-sum A/B test"),

    // Cramér–von Mises two-sample statistic between the arms — the L2
    // complement of KS's sup-norm: integrates EVERY CDF gap, so broad
    // low-amplitude shifts register where KS under-weighs them. Anderson's
    // rank form with doubled tie-averaged ranks; within-sample ranks come
    // from the same single running-sums pass (c_a doubles as A's
    // within-sample position), u4 = 4U accumulates in DECIMAL(38,0)
    // because 4N⁴ clears 2⁵³ long before real corpus sizes
    // ([[graft.ops.StatOps.cramerVonMises]]). The gate EMITS u4 as
    // DOUBLE: raw DECIMAL output is banned from gate queries (the
    // driver hasher diverges on Spark-vs-DuckDB decimals), and
    // decimal→double rounding is the same correctly-rounded IEEE
    // operation on both engines, so the cast is hash-stable even past
    // 2⁵³ — the library op keeps the exact decimal for callers.
    Q(
      "stats_cramer_vonmises",
      (s, d) => {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        val flagged = T(s, d, "events")
          .select(floor(col("value") * 100).cast("long").as("vq"),
            col("event_id"),
            when(graft.ops.CorpusOps.saltedHash(col("user_id"), "ab") < lit(t50),
              1L).otherwise(0L).as("fa"))
        graft.ops.StatOps.cramerVonMises(flagged, "fa", "vq", "event_id")
          .withColumn("u4", col("u4").cast("double"))
      },
      Some {
        val t50 = graft.ops.CorpusOps.md5Threshold(0.5)
        s"""WITH t AS (
           |  SELECT CAST(floor(value * 100) AS BIGINT) AS vq, event_id,
           |    CASE WHEN md5('ab:' || CAST(user_id AS VARCHAR)) < '$t50'
           |         THEN 1 ELSE 0 END AS fa
           |  FROM events),
           |c AS (SELECT vq, fa,
           |    SUM(fa) OVER w AS ca,
           |    SUM(1 - fa) OVER w AS cb
           |  FROM t WINDOW w AS (ORDER BY vq, event_id
           |                      ROWS UNBOUNDED PRECEDING)),
           |tie AS (SELECT vq, min(ca + cb) + max(ca + cb) AS r2
           |  FROM c GROUP BY vq),
           |j AS (SELECT c.fa,
           |    CAST(CASE WHEN c.fa = 1 THEN tie.r2 - 2 * c.ca
           |              ELSE tie.r2 - 2 * c.cb END AS HUGEINT) AS d
           |  FROM c JOIN tie ON tie.vq = c.vq),
           |s AS (SELECT CAST(SUM(fa) AS BIGINT) AS n_a,
           |    CAST(count(*) - SUM(fa) AS BIGINT) AS n_b,
           |    SUM(CASE WHEN fa = 1 THEN d * d ELSE 0 END) AS sa,
           |    SUM(CASE WHEN fa = 0 THEN d * d ELSE 0 END) AS sb
           |  FROM j)
           |SELECT n_a, n_b,
           |  CAST(CAST(n_a * sa + n_b * sb AS DECIMAL(38,0)) AS DOUBLE) AS u4,
           |  CAST(CAST(n_a * sa + n_b * sb AS DECIMAL(38,0)) AS DOUBLE) /
           |    (4.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
           |     CAST(n_a + n_b AS DOUBLE)) -
           |  (4.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - 1.0) /
           |    (6.0 * CAST(n_a + n_b AS DOUBLE)) AS t_stat
           |FROM s""".stripMargin
      },
      "Cramer-von Mises two-sample: L2 CDF distance, doubled ranks, DECIMAL u4"),

    // Spearman's rank correlation ([[graft.ops.StatOps.spearmanRho]]):
    // does line-item price rise with quantity, judged scale-free on
    // tie-averaged midranks. Doubled-integer ranks + DECIMAL(38)
    // moments stay exact until one num/(√·√) expression; the oracle
    // replays it with HUGEINT moments (the oracle's per-row RANK
    // formulation and the engine's per-distinct-value prefix sum are
    // the same midrank identity).
    Q(
      "stats_spearman_rho",
      (s, d) =>
        graft.ops.StatOps.spearmanRho(
          T(s, d, "lineitem")
            .select(col("l_quantity").as("x"),
              col("l_extendedprice").as("y")),
          "x", "y"),
      Some("""WITH b AS (
             |  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
             |r AS (SELECT
             |    2 * RANK() OVER (ORDER BY x) +
             |      count(*) OVER (PARTITION BY x) - 1 AS rx2,
             |    2 * RANK() OVER (ORDER BY y) +
             |      count(*) OVER (PARTITION BY y) - 1 AS ry2
             |  FROM b),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    sum(CAST(rx2 AS HUGEINT)) AS sx,
             |    sum(CAST(ry2 AS HUGEINT)) AS sy,
             |    sum(CAST(rx2 AS HUGEINT) * CAST(ry2 AS HUGEINT)) AS sxy,
             |    sum(CAST(rx2 AS HUGEINT) * CAST(rx2 AS HUGEINT)) AS sxx,
             |    sum(CAST(ry2 AS HUGEINT) * CAST(ry2 AS HUGEINT)) AS syy
             |  FROM r)
             |SELECT n,
             |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             |    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
             |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
             |       sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             |  END AS rho
             |FROM m""".stripMargin),
      "Spearman rank correlation: doubled midranks, exact DECIMAL moments, one IEEE step"),

    // Kendall's τ-b ([[graft.ops.StatOps.kendallTauB]]) beside Spearman:
    // concordance over the QUANTIZED (quantity, price-bucket) joint
    // histogram — corpus collapses to ≤5k distinct cells in one rollup,
    // and the quadratic pair comparison runs on the CELL domain (a
    // broadcast join two orders of magnitude under the row count,
    // corpus-independent by construction). Doubled tie masses avoid
    // decimal division; one IEEE division over two sqrts.
    Q(
      "stats_kendall_tau",
      (s, d) =>
        graft.ops.StatOps.kendallTauB(
          T(s, d, "lineitem").select(
            col("l_quantity").cast("long").as("x"),
            floor(col("l_extendedprice") / 1000.0).cast("long").as("y")),
          "x", "y"),
      Some("""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
             |    CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS y
             |  FROM lineitem),
             |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
             |  FROM b GROUP BY 1, 2),
             |conc AS (SELECT
             |    coalesce(sum(CAST(a.c AS HUGEINT) * b2.c), 0) AS concordant
             |  FROM cells a JOIN cells b2 ON a.x < b2.x AND a.y < b2.y),
             |disc AS (SELECT
             |    coalesce(sum(CAST(a.c AS HUGEINT) * b2.c), 0) AS discordant
             |  FROM cells a JOIN cells b2 ON a.x < b2.x AND a.y > b2.y),
             |tx AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS t1
             |  FROM (SELECT sum(c) AS t FROM cells GROUP BY x)),
             |ty AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS t2
             |  FROM (SELECT sum(c) AS t FROM cells GROUP BY y)),
             |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
             |    CAST(sum(c) AS BIGINT) AS n FROM cells),
             |f AS (SELECT n, n_cells, concordant, discordant,
             |    CAST(n AS HUGEINT) * (n - 1) AS t0, t1, t2
             |  FROM nc, conc, disc, tx, ty)
             |SELECT n, n_cells,
             |  CAST(concordant AS BIGINT) AS concordant,
             |  CAST(discordant AS BIGINT) AS discordant,
             |  CASE WHEN t0 > t1 AND t0 > t2 THEN
             |    CAST(2 * (concordant - discordant) AS DOUBLE) /
             |    (sqrt(CAST(t0 - t1 AS DOUBLE)) *
             |     sqrt(CAST(t0 - t2 AS DOUBLE)))
             |  END AS tau_b
             |FROM f""".stripMargin),
      "Kendall tau-b on the distinct-cell histogram: domain-sized pair join, exact masses"),

    // Per-user EWMA level ([[graft.ops.StatOps.ewmaLevel]]) at α = ¼:
    // the smoothed activity level monitoring keeps per entity. The
    // recurrence is sequential by definition; both engines fold the
    // same (ts, event_id)-ordered series with the same exact-binary
    // constants — engine: sorted collect + left fold; oracle:
    // `list_reduce` (seedless: its first element IS s₁).
    Q(
      "timeseries_ewma_level",
      (s, d) =>
        graft.ops.StatOps.ewmaLevel(T(s, d, "events"), "user_id", "ts",
            "event_id", "value", alpha = 0.25)
          .orderBy("user_id"),
      Some("""WITH s AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |    list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
             |  FROM events GROUP BY user_id)
             |SELECT user_id, n, vals[len(vals)] AS last_value,
             |  list_reduce(vals,
             |    (acc, x) -> CAST(0.25 AS DOUBLE) * x +
             |                CAST(0.75 AS DOUBLE) * acc) AS ewma
             |FROM s ORDER BY user_id""".stripMargin),
      "per-user EWMA level (alpha=1/4): order-pinned sequential fold, both engines"),

    // Per-user autocorrelation at lags 1..3
    // ([[graft.ops.StatOps.acfByKey]]): the memory/seasonality probe of
    // each entity's value series. Mean-centering is eliminated
    // algebraically (multiply through by n²) so every moment is an
    // exact DECIMAL(38)/HUGEINT integer and the ONLY float step is the
    // final num/den division — identical IEEE op both engines.
    Q(
      "timeseries_acf",
      (s, d) =>
        graft.ops.StatOps.acfByKey(T(s, d, "events"), "user_id", "ts",
            "event_id", "value", maxLag = 3, scale = 100.0)
          .orderBy("user_id", "lag"),
      Some("""WITH b AS (
             |  SELECT user_id,
             |    CAST(floor(value * 100) AS BIGINT) AS x,
             |    lead(CAST(floor(value * 100) AS BIGINT), 1) OVER w AS x1,
             |    lead(CAST(floor(value * 100) AS BIGINT), 2) OVER w AS x2,
             |    lead(CAST(floor(value * 100) AS BIGINT), 3) OVER w AS x3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |m AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |    sum(CAST(x AS HUGEINT)) AS s,
             |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q,
             |    sum(CAST(x AS HUGEINT) * CAST(x1 AS HUGEINT)) AS p1,
             |    sum(CASE WHEN x1 IS NOT NULL THEN CAST(x AS HUGEINT)
             |        ELSE 0 END) AS a1,
             |    sum(CAST(x1 AS HUGEINT)) AS b1,
             |    sum(CAST(x AS HUGEINT) * CAST(x2 AS HUGEINT)) AS p2,
             |    sum(CASE WHEN x2 IS NOT NULL THEN CAST(x AS HUGEINT)
             |        ELSE 0 END) AS a2,
             |    sum(CAST(x2 AS HUGEINT)) AS b2,
             |    sum(CAST(x AS HUGEINT) * CAST(x3 AS HUGEINT)) AS p3,
             |    sum(CASE WHEN x3 IS NOT NULL THEN CAST(x AS HUGEINT)
             |        ELSE 0 END) AS a3,
             |    sum(CAST(x3 AS HUGEINT)) AS b3
             |  FROM b GROUP BY user_id),
             |l AS (
             |  SELECT user_id, n, 1 AS lag,
             |    n*n*p1 - n*s*(a1+b1) + (n-1)*s*s AS num,
             |    n*(n*q - s*s) AS den FROM m
             |  UNION ALL
             |  SELECT user_id, n, 2,
             |    n*n*p2 - n*s*(a2+b2) + (n-2)*s*s, n*(n*q - s*s) FROM m
             |  UNION ALL
             |  SELECT user_id, n, 3,
             |    n*n*p3 - n*s*(a3+b3) + (n-3)*s*s, n*(n*q - s*s) FROM m)
             |SELECT user_id, lag, n,
             |  CASE WHEN n > lag AND den > 0
             |    THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS r
             |FROM l ORDER BY user_id, lag""".stripMargin),
      "per-user ACF lags 1-3: exact integer moments, one final IEEE division"),

    // Ljung–Box portmanteau over the same exact ACF
    // ([[graft.ops.StatOps.ljungBox]], h = 3): the one-number
    // white-noise test — Q = n(n+2)·Σ ρ_k²/(n−k), terms folded in lag
    // order, n(n+2) integral until its single cast. No p-value (the χ²
    // CDF is not engine-reproducible); consumers bring their critical
    // value at h dof.
    Q(
      "timeseries_ljung_box",
      (s, d) =>
        graft.ops.StatOps.ljungBox(T(s, d, "events"), "user_id", "ts",
            "event_id", "value", maxLag = 3, scale = 100.0)
          .orderBy("user_id"),
      Some("""WITH b AS (
             |  SELECT user_id,
             |    CAST(floor(value * 100) AS BIGINT) AS x,
             |    lead(CAST(floor(value * 100) AS BIGINT), 1) OVER w AS x1,
             |    lead(CAST(floor(value * 100) AS BIGINT), 2) OVER w AS x2,
             |    lead(CAST(floor(value * 100) AS BIGINT), 3) OVER w AS x3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |m AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |    sum(CAST(x AS HUGEINT)) AS s,
             |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q,
             |    sum(CAST(x AS HUGEINT) * CAST(x1 AS HUGEINT)) AS p1,
             |    sum(CASE WHEN x1 IS NOT NULL THEN CAST(x AS HUGEINT)
             |        ELSE 0 END) AS a1,
             |    sum(CAST(x1 AS HUGEINT)) AS b1,
             |    sum(CAST(x AS HUGEINT) * CAST(x2 AS HUGEINT)) AS p2,
             |    sum(CASE WHEN x2 IS NOT NULL THEN CAST(x AS HUGEINT)
             |        ELSE 0 END) AS a2,
             |    sum(CAST(x2 AS HUGEINT)) AS b2,
             |    sum(CAST(x AS HUGEINT) * CAST(x3 AS HUGEINT)) AS p3,
             |    sum(CASE WHEN x3 IS NOT NULL THEN CAST(x AS HUGEINT)
             |        ELSE 0 END) AS a3,
             |    sum(CAST(x3 AS HUGEINT)) AS b3
             |  FROM b GROUP BY user_id),
             |l AS (
             |  SELECT user_id, n, 1 AS lag,
             |    n*n*p1 - n*s*(a1+b1) + (n-1)*s*s AS num,
             |    n*(n*q - s*s) AS den FROM m
             |  UNION ALL
             |  SELECT user_id, n, 2,
             |    n*n*p2 - n*s*(a2+b2) + (n-2)*s*s, n*(n*q - s*s) FROM m
             |  UNION ALL
             |  SELECT user_id, n, 3,
             |    n*n*p3 - n*s*(a3+b3) + (n-3)*s*s, n*(n*q - s*s) FROM m),
             |acf AS (
             |  SELECT user_id, lag, n,
             |    CASE WHEN n > lag AND den > 0
             |      THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS r
             |  FROM l),
             |t AS (
             |  SELECT user_id, max(n) AS n,
             |    CAST(count(*) AS BIGINT) AS h,
             |    CAST(count(r) AS BIGINT) AS valid,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list(r * r / CAST(n - lag AS DOUBLE) ORDER BY lag)),
             |      (a, x) -> a + x) AS srt
             |  FROM acf GROUP BY user_id)
             |SELECT user_id, n, h,
             |  CASE WHEN valid = h
             |    THEN CAST(n * (n + 2) AS DOUBLE) * srt END AS q_stat
             |FROM t ORDER BY user_id""".stripMargin),
      "Ljung-Box Q over the exact ACF: lag-ordered term folds, no libm"),

    // Per-user inter-arrival gap stats + Goh–Barabási burstiness
    // ([[graft.ops.StatOps.interarrivalStats]]): steady-heartbeat vs
    // bursty-human classification from exact integer micro-second
    // moments (Σg telescopes to last−first; Σg² rides DECIMAL/HUGEINT);
    // B = (√V−S)/(√V+S) is two casts + sqrt + three IEEE ops.
    Q(
      "timeseries_interarrival",
      (s, d) =>
        graft.ops.StatOps.interarrivalStats(T(s, d, "events"), "user_id",
            "ts", "event_id")
          .orderBy("user_id"),
      Some("""WITH g AS (
             |  SELECT user_id,
             |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) - epoch_us(ts) AS gap
             |  FROM events),
             |m AS (SELECT user_id,
             |    CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(count(gap) AS BIGINT) AS n_gaps,
             |    CAST(coalesce(sum(gap), 0) AS BIGINT) AS s,
             |    sum(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS q
             |  FROM g GROUP BY user_id)
             |SELECT user_id, n_events, n_gaps, s AS sum_gap_us,
             |  CASE WHEN n_gaps > 0
             |    THEN CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)
             |  END AS mean_gap_us,
             |  CASE WHEN n_gaps > 0 AND s > 0 THEN
             |    (sqrt(CAST(n_gaps * q - CAST(s AS HUGEINT) * s AS DOUBLE))
             |      - CAST(s AS DOUBLE)) /
             |    (sqrt(CAST(n_gaps * q - CAST(s AS HUGEINT) * s AS DOUBLE))
             |      + CAST(s AS DOUBLE))
             |  END AS burstiness
             |FROM m ORDER BY user_id""".stripMargin),
      "per-user inter-arrival mean + burstiness: exact micro-second moments"),

    // Per-user CUSUM changepoint ([[graft.ops.StatOps.cusumChangepoint]]):
    // argmax_k |n·S_k − k·S_n| under the (ts, event_id) order — where
    // each user's value level shifted. Entirely integer (cent-quantized
    // prefix sums, n-scaled instead of divided), ties to smallest k, so
    // the gate is float-free end to end.
    Q(
      "timeseries_cusum",
      (s, d) =>
        graft.ops.StatOps.cusumChangepoint(T(s, d, "events"), "user_id",
            "ts", "event_id", "value", scale = 100.0)
          .orderBy("user_id"),
      Some("""WITH b AS (
             |  SELECT user_id, ts,
             |    row_number() OVER w AS i,
             |    sum(CAST(floor(value * 100) AS BIGINT)) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id
             |       ROWS UNBOUNDED PRECEDING) AS sk,
             |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             |    sum(CAST(floor(value * 100) AS BIGINT))
             |      OVER (PARTITION BY user_id) AS sn
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (
             |  SELECT user_id, n, i, ts, abs(n * sk - i * sn) AS g,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY abs(n * sk - i * sn) DESC, i ASC) AS r
             |  FROM b)
             |SELECT user_id, n, CAST(i AS INTEGER) AS k_star,
             |  ts AS ts_star, CAST(g AS BIGINT) AS g_max
             |FROM g WHERE r = 1 ORDER BY user_id""".stripMargin),
      "per-user CUSUM changepoint: integer n-scaled prefix deviations, exact argmax"),

    // Per-user one-sided CUSUM CONTROL CHART
    // ([[graft.ops.StatOps.cusumControl]]): the ONLINE monitor beside the
    // retrospective changepoint above. The Page recurrence
    // g_i = max(0, g_{i-1} + x_i) unrolls to g_i = S_i - min(0, min_j S_j)
    // — prefix sum + running min, two window passes, float-free on cent
    // integers, so the oracle is plain window SQL (no recursive CTE).
    // target 50.00, slack 5.00, alarm at 300.00 of accumulated drift.
    Q(
      "timeseries_cusum_control",
      (s, d) =>
        graft.ops.StatOps.cusumControl(T(s, d, "events"), "user_id",
            "ts", "event_id", "value", targetCents = 5000L,
            slackCents = 500L, thresholdCents = 30000L, scale = 100.0)
          .orderBy("user_id"),
      Some("""WITH b AS (
             |  SELECT user_id,
             |    row_number() OVER w AS i,
             |    sum(CAST(floor(value * 100) AS BIGINT) - 5500) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id
             |       ROWS UNBOUNDED PRECEDING) AS s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (
             |  SELECT user_id, i,
             |    s - least(min(s) OVER (PARTITION BY user_id ORDER BY i
             |          ROWS UNBOUNDED PRECEDING),
             |        CAST(0 AS HUGEINT)) AS g
             |  FROM b)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |  CAST(arg_max(g, i) AS BIGINT) AS g_final,
             |  CAST(max(g) AS BIGINT) AS g_max,
             |  CAST(min(CASE WHEN g >= 30000 THEN i END) AS INTEGER)
             |    AS first_alarm
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
      "per-user one-sided CUSUM chart: prefix-min identity, integer end to end"),

    // Per-user Theil–Sen trend ([[graft.ops.StatOps.theilSenSlope]]):
    // the robust slope beside the OLS gate — median of all pairwise
    // (cent, µs) slopes, picked by exact order statistics so a sort
    // tie cannot change the reported value. The pair stage is per-key
    // C(n,2), joined on the key (panel shape, never corpus²).
    Q(
      "stats_theil_sen",
      (s, d) =>
        graft.ops.StatOps.theilSenSlope(T(s, d, "events"), "user_id",
            "ts", "event_id", "value", scale = 100.0)
          .orderBy("user_id"),
      Some("""WITH v AS (
             |  SELECT user_id AS k, epoch_us(ts) AS x,
             |    CAST(floor(value * 100) AS BIGINT) AS y,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS i
             |  FROM events),
             |p AS (SELECT a.k,
             |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
             |  FROM v a JOIN v b
             |    ON a.k = b.k AND a.i < b.i AND b.x > a.x),
             |r AS (SELECT k, s,
             |    row_number() OVER (PARTITION BY k ORDER BY s) AS r,
             |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS c
             |  FROM p),
             |m AS (SELECT k, max(c) AS n_pairs,
             |    (min(CASE WHEN r = (c + 1) // 2 THEN s END) +
             |     min(CASE WHEN r = (c + 2) // 2 THEN s END)) / 2.0
             |      * 86400000000.0 AS slope_per_day
             |  FROM r GROUP BY k),
             |n AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n
             |      FROM events GROUP BY 1)
             |SELECT m.k AS user_id, n.n, m.n_pairs, m.slope_per_day
             |FROM m JOIN n USING (k) ORDER BY user_id""".stripMargin),
      "per-user Theil-Sen slope: exact-order-statistic median of pairwise slopes"),

    // Per-user Mann–Kendall trend test ([[graft.ops.StatOps
    // .mannKendall]]): the significance screen beside the Theil–Sen
    // slope — S and the tie-corrected 18·Var(S) are exact integers over
    // the same quantized series, and Z's only non-integer ops are one
    // division, one IEEE sqrt (correctly rounded by spec) and one more
    // division, so the STATISTIC hash-gates with no portable-ln
    // machinery at all.
    Q(
      "stats_mann_kendall",
      (s, d) =>
        graft.ops.StatOps.mannKendall(T(s, d, "events"), "user_id",
            "ts", "event_id", "value", scale = 100.0)
          .orderBy("user_id"),
      Some("""WITH v AS (
             |  SELECT user_id AS k,
             |    CAST(floor(value * 100) AS BIGINT) AS y,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS i
             |  FROM events),
             |s AS (SELECT a.k, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
             |  FROM v a JOIN v b ON a.k = b.k AND a.i < b.i GROUP BY a.k),
             |t AS (SELECT k,
             |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
             |  FROM (SELECT k, y, CAST(count(*) AS BIGINT) AS t
             |        FROM v GROUP BY 1, 2) GROUP BY k),
             |n AS (SELECT k, CAST(count(*) AS BIGINT) AS n
             |      FROM v GROUP BY 1)
             |SELECT n.k AS user_id, n.n, coalesce(s.s, 0) AS s,
             |  n.n * (n.n - 1) * (2 * n.n + 5) - t.tie18 AS var18,
             |  CASE WHEN n.n * (n.n - 1) * (2 * n.n + 5) - t.tie18 = 0
             |         THEN NULL
             |       WHEN coalesce(s.s, 0) = 0 THEN 0.0
             |       ELSE CAST(coalesce(s.s, 0) - sign(coalesce(s.s, 0))
             |              AS DOUBLE) /
             |            sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie18
             |              AS DOUBLE) / 18.0)
             |  END AS z
             |FROM n LEFT JOIN s USING (k) JOIN t USING (k)
             |ORDER BY user_id""".stripMargin),
      "per-user Mann-Kendall trend: exact-integer S and variance, portable Z"),

    // Per-user Pettitt changepoint ([[graft.ops.StatOps.pettittChangepoint]]):
    // the rank-based single-changepoint detector — where did this user's
    // value distribution SHIFT, asked distribution-free (CUSUM answers it
    // for the mean and is fooled by the heavy tails event values have).
    // The O(n²) double sum rides the exact recurrence U_t = U_{t−1} +
    // (n − eq − 2·rank + 2): three within-key windows, integers end to
    // end, which the oracle replays verbatim.
    Q(
      "stats_pettitt_changepoint",
      (s, d) =>
        graft.ops.StatOps.pettittChangepoint(T(s, d, "events"), "user_id",
            "ts", "event_id", "value", scale = 100.0)
          .orderBy("user_id"),
      Some("""WITH v AS (
             |  SELECT user_id AS k,
             |    CAST(floor(value * 100) AS BIGINT) AS y, ts, event_id
             |  FROM events),
             |w AS (SELECT k,
             |    row_number() OVER (PARTITION BY k ORDER BY ts, event_id) AS i,
             |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
             |    CAST(rank() OVER (PARTITION BY k ORDER BY y) AS BIGINT) AS r,
             |    CAST(count(*) OVER (PARTITION BY k, y) AS BIGINT) AS eq,
             |    ts, event_id
             |  FROM v),
             |u AS (SELECT k, i, n,
             |    sum(n - eq - 2 * r + 2) OVER (PARTITION BY k
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
             |  FROM w),
             |f AS (SELECT k, i, n, abs(u) AS au,
             |    max(abs(u)) OVER (PARTITION BY k) AS mx
             |  FROM u WHERE i < n)
             |SELECT k AS user_id, CAST(max(n) AS BIGINT) AS n,
             |  CAST(max(au) AS BIGINT) AS k_stat,
             |  CAST(min(CASE WHEN au = mx THEN i END) AS BIGINT) AS cp_idx
             |FROM f GROUP BY k ORDER BY user_id""".stripMargin),
      "per-user Pettitt changepoint: rank recurrence, exact-integer max |U_t|"),

    // SEASONAL Mann–Kendall ([[graft.ops.StatOps.seasonalMannKendall]],
    // weekly phase): the trend test summed over day-of-week seasons —
    // S = Σ_p S_p, Var = Σ_p Var_p — so the weekly cycle in event values
    // can neither fake nor mask a monotone trend the way it can in the
    // plain per-user test above. Season = engine-neutral
    // `unix_micros div day mod 7`; the oracle reruns the per-(user,
    // phase) pair sums and rolls them up with the same continuity-
    // corrected Z.
    Q(
      "timeseries_seasonal_mk",
      (s, d) =>
        graft.ops.StatOps.seasonalMannKendall(T(s, d, "events"), "user_id",
            "ts", "event_id", "value", scale = 100.0, period = 7)
          .orderBy("user_id"),
      Some("""WITH v AS (
             |  SELECT user_id AS k,
             |    epoch_us(ts) // 86400000000 % 7 AS p,
             |    CAST(floor(value * 100) AS BIGINT) AS y,
             |    row_number() OVER (
             |      PARTITION BY user_id, epoch_us(ts) // 86400000000 % 7
             |      ORDER BY ts, event_id) AS i
             |  FROM events),
             |s AS (SELECT a.k, a.p, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
             |  FROM v a JOIN v b ON a.k = b.k AND a.p = b.p AND a.i < b.i
             |  GROUP BY 1, 2),
             |t AS (SELECT k, p,
             |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
             |  FROM (SELECT k, p, y, CAST(count(*) AS BIGINT) AS t
             |        FROM v GROUP BY 1, 2, 3) GROUP BY 1, 2),
             |n AS (SELECT k, p, CAST(count(*) AS BIGINT) AS n
             |      FROM v GROUP BY 1, 2),
             |per AS (SELECT n.k, n.p, n.n, coalesce(s.s, 0) AS s,
             |    n.n * (n.n - 1) * (2 * n.n + 5) - t.tie18 AS var18
             |  FROM n LEFT JOIN s ON s.k = n.k AND s.p = n.p
             |  JOIN t ON t.k = n.k AND t.p = n.p),
             |r AS (SELECT k, CAST(sum(n) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_seasons,
             |    CAST(sum(s) AS BIGINT) AS s,
             |    CAST(sum(var18) AS BIGINT) AS var18
             |  FROM per GROUP BY k)
             |SELECT k AS user_id, n, n_seasons, s, var18,
             |  CASE WHEN var18 = 0 THEN NULL
             |       WHEN s = 0 THEN 0.0
             |       ELSE CAST(s - sign(s) AS DOUBLE) /
             |            sqrt(CAST(var18 AS DOUBLE) / 18.0)
             |  END AS z
             |FROM r ORDER BY user_id""".stripMargin),
      "seasonal Mann-Kendall: per-phase exact S/variance summed, weekly season"),

    // Per-user classical additive decomposition of the daily cent
    // series ([[graft.ops.StatOps.seasonalDecompose]], period 7):
    // centered-MA trend on the zero-filled dense grid, per-phase
    // seasonal indices re-centered to sum 0. Integer daily/window sums;
    // the only doubles are y − W/7 and two ordered-fold means.
    Q(
      "timeseries_decompose",
      (s, d) =>
        graft.ops.StatOps.seasonalDecompose(T(s, d, "events"), "user_id",
            "ts", "value", period = 7, scale = 100.0)
          .orderBy("user_id", "phase"),
      Some("""WITH base AS (
             |  SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day,
             |    CAST(floor(value * 100) AS BIGINT) AS c
             |  FROM events),
             |daily AS (SELECT u, day, sum(c) AS y FROM base GROUP BY 1, 2),
             |span AS (SELECT u, min(day) AS d0, max(day) AS d1
             |         FROM daily GROUP BY 1),
             |grid AS (SELECT u, unnest(generate_series(d0, d1)) AS day
             |         FROM span),
             |filled AS (SELECT g.u, g.day, coalesce(d.y, 0) AS y
             |           FROM grid g LEFT JOIN daily d
             |             ON d.u = g.u AND d.day = g.day),
             |tr AS (SELECT u, day, y,
             |    sum(y) OVER (PARTITION BY u ORDER BY day
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w,
             |    count(*) OVER (PARTITION BY u ORDER BY day
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wc
             |  FROM filled),
             |det AS (SELECT u, day, ((day % 7) + 7) % 7 AS phase,
             |    CAST(y AS DOUBLE) - CAST(w AS DOUBLE) / 7.0 AS d
             |  FROM tr WHERE wc = 7),
             |sr AS (SELECT u, phase, CAST(count(*) AS BIGINT) AS n_days,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list(d ORDER BY day)), (a, x) -> a + x) /
             |      CAST(count(*) AS DOUBLE) AS sraw
             |  FROM det GROUP BY 1, 2),
             |ms AS (SELECT u,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list(sraw ORDER BY phase)), (a, x) -> a + x) /
             |      CAST(count(*) AS DOUBLE) AS m
             |  FROM sr GROUP BY 1)
             |SELECT sr.u AS user_id, sr.phase, sr.n_days,
             |  sr.sraw - ms.m AS seasonal
             |FROM sr JOIN ms ON ms.u = sr.u
             |ORDER BY user_id, phase""".stripMargin),
      "classical additive decomposition: centered-MA trend, re-centered phase indices"),

    // Per-user Holt linear smoothing at (α, β) = (¼, ½)
    // ([[graft.ops.StatOps.holtLinear]]): level + trend + one-step
    // forecast. Sequential like EWMA, but the oracle CANNOT use a
    // list_reduce struct fold — DuckDB v1.0.0 mis-binds struct
    // accumulator fields (the trend expression observes the freshly
    // computed level: measured, list_reduce([{1,100},{2,200},{3,300}],
    // b := acc.l + x.b) returns 423, not 312) — so the oracle replays
    // the recurrence as a positional recursive CTE, one step per row,
    // with the identical IEEE expression order.
    Q(
      "timeseries_holt_linear",
      (s, d) =>
        graft.ops.StatOps.holtLinear(T(s, d, "events"), "user_id", "ts",
            "event_id", "value", alpha = 0.25, beta = 0.5)
          .orderBy("user_id"),
      Some("""WITH RECURSIVE v AS (
             |  SELECT user_id, CAST(value AS DOUBLE) AS x,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS i,
             |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
             |  FROM events),
             |st AS (
             |  SELECT user_id, i, n, x AS l, CAST(0 AS DOUBLE) AS b
             |  FROM v WHERE i = 1
             |  UNION ALL
             |  SELECT s.user_id, s.i + 1, s.n,
             |    CAST(0.25 AS DOUBLE) * v.x
             |      + CAST(0.75 AS DOUBLE) * (s.l + s.b),
             |    CAST(0.5 AS DOUBLE) * ((CAST(0.25 AS DOUBLE) * v.x
             |      + CAST(0.75 AS DOUBLE) * (s.l + s.b)) - s.l)
             |      + CAST(0.5 AS DOUBLE) * s.b
             |  FROM st s JOIN v ON v.user_id = s.user_id AND v.i = s.i + 1)
             |SELECT user_id, n, l AS level, b AS trend, l + b AS forecast1
             |FROM st WHERE i = n ORDER BY user_id""".stripMargin),
      "per-user Holt linear (1/4, 1/2): order-pinned fold vs recursive-CTE replay"),

    // Wilcoxon signed-rank over per-user pre/post cent differences (the
    // CUPED gate's periods) — the PAIRED nonparametric test completing
    // the trio beside KS and Mann–Whitney. Zero diffs dropped per the
    // standard convention; |d| tie-ranks ride doubled
    // ([[graft.ops.StatOps.wilcoxonSignedRank]]).
    Q(
      "stats_wilcoxon_signed",
      (s, d) => {
        val cut = lit("2024-01-16").cast("timestamp")
        val u = T(s, d, "events")
          .groupBy("user_id")
          .agg(
            (sum(when(col("ts") >= cut, floor(col("value") * 100).cast("long"))
              .otherwise(0L)) -
              sum(when(col("ts") < cut, floor(col("value") * 100).cast("long"))
                .otherwise(0L))).as("diff"))
        graft.ops.StatOps.wilcoxonSignedRank(u, "diff", "user_id")
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
             |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
             |      - SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
             |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
             |      AS diff
             |  FROM events GROUP BY user_id),
             |nz AS (SELECT user_id, diff, abs(diff) AS ad FROM u WHERE diff <> 0),
             |r AS (SELECT user_id, diff, ad,
             |    row_number() OVER (ORDER BY ad, user_id) AS i
             |  FROM nz),
             |tie AS (SELECT ad, min(i) + max(i) AS avg2 FROM r GROUP BY ad),
             |z AS (SELECT CAST(count(*) AS BIGINT) AS n_zero FROM u WHERE diff = 0)
             |SELECT
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  (SELECT n_zero FROM z) AS n_zero,
             |  CAST(SUM(CASE WHEN r.diff > 0 THEN tie.avg2 ELSE 0 END) AS BIGINT)
             |    AS w2_plus,
             |  CAST(CAST(SUM(CASE WHEN r.diff > 0 THEN tie.avg2 ELSE 0 END)
             |       AS BIGINT) AS DOUBLE) / 2.0 AS w_plus
             |FROM r JOIN tie ON tie.ad = r.ad""".stripMargin),
      "Wilcoxon signed-rank on pre/post pairs: exact doubled tie ranks, zero-diff drop")
  )
}
