package graft.ops

import graft.{Q, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics surface over `events`: ordered conversion funnel,
  * weekly cohort retention, and a bin-bucketed interval join. These are
  * the standard product-analytics shapes a general engine must express;
  * all three are pure DataFrame compositions whose shuffles stay keyed
  * on `user_id` (funnel, cohort) or a coarse time bin (interval join).
  */
object Analytics {

  private def ev(s: SparkSession, d: String): DataFrame =
    T.events(s, d).select(col("user_id"), col("event_type"), col("ts"))

  /** Ordered conversion funnel view -> click -> purchase: a user counts
    * at stage N only with an event strictly after their stage-N-1 entry
    * time. Three min-aggregations chained by joins, every shuffle keyed
    * on user_id — at cluster scale all stages reuse one hash
    * partitioning, and each stage's frame is one row per surviving user
    * (monotonically shrinking). */
  val qEventsFunnel = Q(
    "q_events_funnel",
    (s, d) => {
      val e = ev(s, d)
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_buy"))
      v.select(lit(1).as("stage"), col("user_id"))
        .union(c.select(lit(2).as("stage"), col("user_id")))
        .union(p.select(lit(3).as("stage"), col("user_id")))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    },
    Some("""WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                      WHERE event_type = 'view' GROUP BY 1),
            c AS (SELECT e.user_id, min(e.ts) AS t_click
                  FROM events e JOIN v ON e.user_id = v.user_id
                  WHERE e.event_type = 'click' AND e.ts > v.t_view
                  GROUP BY 1),
            p AS (SELECT e.user_id, min(e.ts) AS t_buy
                  FROM events e JOIN c ON e.user_id = c.user_id
                  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
                  GROUP BY 1)
           SELECT stage, count(*) AS n_users FROM (
             SELECT CAST(1 AS INT) AS stage, user_id FROM v
             UNION ALL SELECT CAST(2 AS INT), user_id FROM c
             UNION ALL SELECT CAST(3 AS INT), user_id FROM p)
           GROUP BY stage ORDER BY stage"""))

  /** Weekly cohort retention: users grouped by first-activity week, and
    * for each (cohort, weeks-since-cohort) the count of users active
    * that week. Both `date_trunc('week', …)` dialects are Monday-start,
    * and the week offset is an exact integer (day diff of two week
    * starts / 7), so the output is dialect-stable. Two aggregations and
    * a join, all keyed on user_id. */
  val qEventsCohort = Q(
    "q_events_cohort",
    (s, d) => {
      val wk = date_trunc("week", col("ts")).cast("date")
      val e = ev(s, d)
      val first = e.groupBy("user_id").agg(min(wk).as("cohort"))
      val active = e.select(col("user_id"), wk.as("wk")).distinct()
      active.join(first, "user_id")
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / 7).cast("int").as("week_n"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "week_n")
    },
    Some("""WITH f AS (SELECT user_id,
                         min(CAST(date_trunc('week', ts) AS DATE)) AS cohort
                       FROM events GROUP BY 1),
            a AS (SELECT DISTINCT user_id,
                         CAST(date_trunc('week', ts) AS DATE) AS wk
                  FROM events)
           SELECT cohort,
                  CAST(datediff('day', cohort, wk) / 7 AS INT) AS week_n,
                  count(DISTINCT user_id) AS n_users
           FROM a JOIN f USING (user_id)
           GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Point-in-interval join, bin-bucketed: count lineitems shipped in
    * each of 24 overlapping 45-day promo windows. The naive plan for
    * point-BETWEEN-interval is a nested-loop over every (point,
    * interval) pair; bucketing by a 30-day bin turns it into an
    * EQUI-join — intervals explode into the (<=2, width/bin+1) bins they
    * overlap, points land in exactly one bin, the join keys on the bin,
    * and a residual BETWEEN filter keeps exact semantics. Each matching
    * pair meets in exactly one bin (the point's), so no post-join dedup
    * is needed. That shape survives BOTH sides growing — the classic
    * spatial/temporal binning trick — while the oracle states the plain
    * range predicate. */
  val qJoinIntervalBinned = Q(
    "q_join_interval_binned",
    (s, d) => {
      val binDays = 30
      val binOf: Column => Column =
        c => floor(unix_date(c) / binDays).cast("long")
      val w0 = to_date(lit("1994-01-01"))
      val wins = s.range(24).select(
          col("id").as("w_id"),
          date_add(w0, (col("id") * 30).cast("int")).as("ws"),
          date_add(w0, (col("id") * 30 + 44).cast("int")).as("we"))
        .withColumn("bin", explode(sequence(binOf(col("ws")), binOf(col("we")))))
      val pts = T.lineitem(s, d)
        .select(to_date(col("l_shipdate")).as("sd"))
        .withColumn("bin", binOf(col("sd")))
      pts.join(wins, "bin")
        .filter(col("sd").between(col("ws"), col("we")))
        .groupBy("w_id").agg(count(lit(1)).as("n_items"))
        .orderBy("w_id")
    },
    Some("""WITH w AS (SELECT range AS w_id,
                              DATE '1994-01-01' + CAST(range * 30 AS INT) AS ws,
                              DATE '1994-01-01' + CAST(range * 30 + 44 AS INT) AS we
                       FROM range(24))
           SELECT w_id, count(*) AS n_items
           FROM lineitem JOIN w
             ON CAST(l_shipdate AS DATE) BETWEEN ws AND we
           GROUP BY w_id ORDER BY w_id"""))

  /** First-order transition matrix over per-user event sequences:
    * counts of (event_type → next event_type) adjacent pairs, ordered
    * by (ts, event_id) within user — the Markov-chain view of the
    * clickstream. One window exchange on user_id; the aggregated matrix
    * is |types|² rows regardless of input size. */
  val qEventsTransitions = Q(
    "q_events_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "next_type")
    },
    Some("""SELECT event_type, next_type, count(*) AS n FROM (
             SELECT event_type,
                    lead(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS next_type
             FROM events)
           WHERE next_type IS NOT NULL
           GROUP BY event_type, next_type
           ORDER BY event_type, next_type"""))

  /** Time-series gap fill core (df-in/df-out, exposed via
    * [[graft.Graft.gapfillDaily]]): one row per (key, day) across each
    * key's observed span of `tsCol`, zero-filled where nothing
    * occurred — the resample step every downstream time-series model
    * needs (missing days must be explicit zeros, not absent rows). The
    * day grid generates map-side from each key's (min, max) aggregate
    * via `sequence`; grid size is span-bounded, never data-bounded. */
  def gapfillDaily(df: DataFrame, key: String, tsCol: String): DataFrame = {
    val e = df.select(col(key), to_date(col(tsCol)).as("day"))
    val perDay = e.groupBy(key, "day").agg(count(lit(1)).as("n"))
    val grid = e.groupBy(key)
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col(key), explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(perDay, Seq(key, "day"), "left")
      .select(col(key), col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  val qEventsGapfill = Q(
    "q_events_gapfill",
    (s, d) =>
      gapfillDaily(T.events(s, d), "user_id", "ts")
        .orderBy("user_id", "day"),
    Some("""WITH perday AS (SELECT user_id, CAST(ts AS DATE) AS day,
                     count(*) AS n
                   FROM events GROUP BY 1, 2),
            span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                     FROM perday GROUP BY 1),
            grid AS (SELECT user_id,
                     CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                       CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
                       AS day
                     FROM span)
           SELECT user_id, day, coalesce(n, 0) AS n
           FROM grid LEFT JOIN perday USING (user_id, day)
           ORDER BY user_id, day"""))

  /** OHLC core (see [[qEventsOhlc]] for the full rationale): one bar
    * per (keyCol, `bucket`-truncated tsCol) — open/close at the
    * first/last (ms, idCol), high/low extremes, all in one two-phase
    * aggregation. `idCol` must make the event order total. */
  def ohlcBars(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, bucket: String): DataFrame =
    events
      .select(col(keyCol),
        unix_millis(date_trunc(bucket, col(tsCol))).as("bucket_ms"),
        unix_millis(col(tsCol)).as("ms"), col(idCol).as("oid"),
        col(valueCol).as("v"))
      .groupBy(keyCol, "bucket_ms")
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("ms").as("m"), col("oid").as("e"),
          col("v"))).as("fo"),
        max(struct(col("ms").as("m"), col("oid").as("e"),
          col("v"))).as("fc"),
        max(col("v")).as("hi"), min(col("v")).as("lo"))
      .select(col(keyCol), col("bucket_ms"), col("n_events"),
        graft.util.Det.r2(col("fo.v")).as("open"),
        graft.util.Det.r2(col("hi")).as("high"),
        graft.util.Det.r2(col("lo")).as("low"),
        graft.util.Det.r2(col("fc.v")).as("close"))

  /** Daily OHLC bars per user — the time-series downsample every
    * monitoring/market pipeline runs: open/close are the values at the
    * day's first/last event, high/low the extremes. First/last are
    * argmin/argmax by (ms, event_id), expressed with the same
    * lexicographic struct min/max as [[Relational.qAggArgmax]] so the
    * tie-break lives in the VALUE and the whole bar is ONE two-phase
    * aggregation — no window, no self-join; the oracle replays the
    * order with ranked windows. event_id makes the order total, so the
    * result is partition-invariant. */
  val qEventsOhlc = Q(
    "q_events_ohlc",
    (s, d) =>
      ohlcBars(T.events(s, d), "user_id", "ts", "event_id", "value", "day")
        .withColumnRenamed("bucket_ms", "day_ms")
        .orderBy("user_id", "day_ms"),
    Some(s"""WITH e AS (SELECT user_id,
               epoch_ms(date_trunc('day', ts)) AS day_ms,
               epoch_ms(ts) AS ms, event_id, value FROM events),
             rk AS (SELECT *,
               row_number() OVER (PARTITION BY user_id, day_ms
                 ORDER BY ms, event_id) AS ra,
               row_number() OVER (PARTITION BY user_id, day_ms
                 ORDER BY ms DESC, event_id DESC) AS rb
               FROM e),
             agg AS (SELECT user_id, day_ms, count(*) AS n_events,
               max(value) AS hi, min(value) AS lo
               FROM e GROUP BY 1, 2)
           SELECT a.user_id, a.day_ms, a.n_events,
             ${graft.util.Det.sqlR2("o.value")} AS open,
             ${graft.util.Det.sqlR2("a.hi")} AS high,
             ${graft.util.Det.sqlR2("a.lo")} AS low,
             ${graft.util.Det.sqlR2("c.value")} AS close
           FROM agg a
           JOIN (SELECT * FROM rk WHERE ra = 1) o
             USING (user_id, day_ms)
           JOIN (SELECT * FROM rk WHERE rb = 1) c
             USING (user_id, day_ms)
           ORDER BY a.user_id, a.day_ms"""))

  /** Statistical outlier scan over the event stream — the anomaly filter
    * a telemetry (or training-data) pipeline runs before trusting a
    * value column: per event_type, the 3-sigma outlier census plus the
    * single worst offender. Moments come from EXACT scaled-integer sums
    * ([[graft.util.Det.dsumRaw]] — the q_agg_stats_moments discipline),
    * so mean/variance are bit-identical in both engines; the per-row
    * test compares (v-mean)² against 9·var entirely in doubles derived
    * through the same IEEE-754 op sequence, so the outlier verdict and
    * the argmax boundary can't flip across engines. Scale shape: one
    * corpus aggregation to a |types|-row stats frame, stats broadcast
    * BACK onto the stream (the corpus never shuffles to be scored), one
    * final two-phase aggregation — the mixWeights small-frame
    * discipline; the worst offender rides the same lexicographic
    * struct-max as [[Relational.qAggArgmax]], so there is no window and
    * no corpus sort anywhere.
    *
    * Degenerate groups (constant values, singletons) are well-defined,
    * not NaN: var_v clamps at 0 before any sqrt (catching the slight
    * negative that `m2 - mean²` cancellation can produce), and the
    * outlier count is gated on var_v > 0 OUTRIGHT (ADVICE r9: under the
    * old clamp-only spelling, a near-constant large-magnitude group
    * whose cancellation left var_v ≤ 0 counted every row with any
    * floating-point dev2 as an outlier while top_z stayed NULL —
    * internally inconsistent degenerate semantics, even though both
    * engines agreed). So a zero-variance group reports sd_v = 0,
    * n_outliers = 0 by definition, and top_z = NULL (z is undefined at
    * zero variance) — one consistent story. The
    * driver fixture always has variance, but this is a public facade
    * entry where constant groups are realistic, and NaN propagation
    * diverges across engines where a NULL does not (ADVICE r8). */
  def anomalyScan(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    import graft.util.Det.{dsumRaw, r2}
    val e = df.select(col(groupCol), col(idCol), col(valueCol).as("v"))
    val n = count(lit(1))
    val stats = e.groupBy(groupCol)
      .agg(n.as("n"),
        (dsumRaw(col("v")) / n.cast("double")).as("mean_v"),
        (dsumRaw(col("v") * col("v")) / n.cast("double")).as("m2"))
      .withColumn("var_v", col("m2") - col("mean_v") * col("mean_v"))
      .drop("m2")
    val scored = e.join(broadcast(stats), Seq(groupCol))
      .withColumn("dev2",
        (col("v") - col("mean_v")) * (col("v") - col("mean_v")))
    scored.groupBy(groupCol)
      .agg(min("n").as("n"), min("mean_v").as("mean_v"),
        min("var_v").as("var_v"),
        count(when(col("var_v") > 0 &&
            col("dev2") > lit(9) * col("var_v"), 1))
          .as("n_outliers"),
        max(struct(col("dev2").as("d2"),
          (-col(idCol)).as("nid"))).as("top"))
      .select(col(groupCol), col("n"),
        r2(col("mean_v")).as("mean_v"),
        r2(sqrt(greatest(col("var_v"), lit(0.0)))).as("sd_v"),
        col("n_outliers"),
        (-col("top.nid")).as("top_id"),
        when(col("var_v") > 0,
          r2(sqrt(col("top.d2") / col("var_v")))).as("top_z"))
  }

  val qEventsAnomaly = Q(
    "q_events_anomaly",
    (s, d) =>
      anomalyScan(T.events(s, d), "event_type", "event_id", "value")
        .withColumnRenamed("top_id", "top_event_id")
        .orderBy("event_type"),
    Some {
      import graft.util.Det.{sqlDsumRaw, sqlR2}
      val n = "CAST(count(*) AS DOUBLE)"
      s"""WITH stats AS (
            SELECT event_type, count(*) AS n,
              ${sqlDsumRaw("value")} / $n AS mean_v,
              ${sqlDsumRaw("value * value")} / $n
                - (${sqlDsumRaw("value")} / $n) * (${sqlDsumRaw("value")} / $n)
                AS var_v
            FROM events GROUP BY event_type),
          scored AS (
            SELECT e.event_type, e.event_id, s.n, s.mean_v, s.var_v,
              (e.value - s.mean_v) * (e.value - s.mean_v) AS dev2
            FROM events e JOIN stats s USING (event_type)),
          agg AS (
            SELECT event_type, min(n) AS n, min(mean_v) AS mean_v,
              min(var_v) AS var_v,
              count(*) FILTER (WHERE var_v > 0 AND dev2 > 9 * var_v)
                AS n_outliers
            FROM scored GROUP BY event_type),
          top AS (
            SELECT event_type, event_id AS top_event_id, dev2 FROM (
              SELECT event_type, event_id, dev2,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY dev2 DESC, event_id) AS rk
              FROM scored) WHERE rk = 1)
          SELECT a.event_type, a.n, ${sqlR2("a.mean_v")} AS mean_v,
            ${sqlR2("sqrt(greatest(a.var_v, 0))")} AS sd_v, a.n_outliers,
            t.top_event_id,
            CASE WHEN a.var_v > 0
                 THEN ${sqlR2("sqrt(t.dev2 / a.var_v)")} END AS top_z
          FROM agg a JOIN top t USING (event_type)
          ORDER BY a.event_type"""
    })

  /** Generic binned interval-overlap join core: rows of `left` and
    * `right` pair whenever `[lStart, lEnd]` overlaps `[rStart, rEnd]`
    * (inclusive ends, integer columns). Both sides explode to the
    * `binWidth`-sized bins they cover, join on the bin, and a residual
    * filter applies the exact predicate; multi-bin matches collapse via
    * one distinct over the output columns (callers with duplicate input
    * rows should carry a row id). Per-task pair work is bounded by
    * intervals co-resident per bin — pick binWidth near the typical
    * interval length. */
  def overlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Long): DataFrame = {
    val lb = left.withColumn("graft_bin",
      explode(sequence(expr(s"$lStart div $binWidth"),
        expr(s"$lEnd div $binWidth"))))
    val rb = right.withColumn("graft_bin",
      explode(sequence(expr(s"$rStart div $binWidth"),
        expr(s"$rEnd div $binWidth"))))
    lb.join(rb, "graft_bin")
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .drop("graft_bin").distinct()
  }

  /** Interval×interval OVERLAP join — the two-sided generalization of
    * [[qJoinIntervalBinned]] (point-in-interval): per-user daily activity
    * spans [first event, last event] joined against a derived grid of
    * 90-minute windows every 6 hours, keeping pairs that overlap
    * (`a_start ≤ w_end AND w_start ≤ a_end`). The scale spelling is the
    * standard bin expansion applied to BOTH sides: each interval
    * explodes to the 6-hour bins it covers (≤ 5 for a daily span, ≤ 2
    * for a window), the join is an equi-join on the bin, duplicates
    * from multi-bin overlaps collapse with one distinct on the pair
    * key, and the exact overlap predicate runs as a residual filter —
    * per-task pair work is bounded by co-resident intervals per 6 h, and
    * the plan has no nested loop regardless of either side's size. All
    * arithmetic is epoch-millisecond integers, so the overlap verdict
    * is dialect-exact; the oracle spells the same semantics as the
    * direct theta join DuckDB can afford at gate scale. */
  val qJoinIntervalOverlap = Q(
    "q_join_interval_overlap",
    (s, d) => {
      val W = 21600000L // 6 h bin = window spacing
      val ms = unix_millis(col("ts"))
      val ui = T.events(s, d)
        .groupBy(col("user_id"),
          unix_millis(date_trunc("day", col("ts"))).as("day_ms"))
        .agg(min(ms).as("a_start"), max(ms).as("a_end"))
      val wins = ui.select("day_ms").distinct()
        .select(col("day_ms"), explode(typedLit(Seq(0L, 1L, 2L, 3L))).as("k"))
        .select((col("day_ms") + col("k") * W).as("w_start"),
          (col("day_ms") + col("k") * W + 5400000L).as("w_end"))
      overlapJoin(ui, wins, "a_start", "a_end", "w_start", "w_end", W)
        .groupBy("w_start", "w_end")
        .agg(countDistinct(col("user_id")).as("n_users"),
          min("user_id").as("min_user"), max("user_id").as("max_user"))
        .orderBy("w_start")
    },
    Some("""WITH ui AS (SELECT user_id,
               epoch_ms(date_trunc('day', ts)) AS day_ms,
               min(epoch_ms(ts)) AS a_start, max(epoch_ms(ts)) AS a_end
             FROM events GROUP BY user_id, epoch_ms(date_trunc('day', ts))),
           wins AS (SELECT day_ms + k * 21600000 AS w_start,
                      day_ms + k * 21600000 + 5400000 AS w_end
                    FROM (SELECT DISTINCT day_ms FROM ui),
                      (VALUES (0), (1), (2), (3)) t(k))
           SELECT w_start, w_end, count(DISTINCT user_id) AS n_users,
             min(user_id) AS min_user, max(user_id) AS max_user
           FROM wins w JOIN ui u
             ON u.a_start <= w.w_end AND w.w_start <= u.a_end
           GROUP BY w_start, w_end ORDER BY w_start"""))

  /** DAU / WAU / MAU with stickiness — the engagement triple every
    * product-analytics stack reports, and a ROLLING DISTINCT count,
    * which no window frame can express (distinct doesn't decompose over
    * sliding frames). The scale spelling: the corpus first collapses to
    * the distinct (day, user) activity frame — the only corpus-sized
    * shuffle — then each activity row fans out to the ≤28 future days
    * it keeps a user "active" for (an explicit bounded explode, NOT a
    * range self-join), and one (day)-keyed aggregation takes both
    * trailing-7 and trailing-28 distinct counts via a conditional
    * distinct. Work is |activity|·28 rows of (day, user_id) longs
    * regardless of event volume; no window ever total-orders anything.
    * Early days legitimately report truncated trailing windows (both
    * engines identically). Stickiness = DAU/WAU on the Det 2dp grid. */
  def activeUsers(df: DataFrame, tsCol: String, userCol: String): DataFrame = {
    // midnight-UTC epoch-ms is an exact multiple of 86400000, so the
    // double division is integer-valued and the cast is exact
    val day = (unix_millis(date_trunc("day", col(tsCol))) / 86400000L)
      .cast("long")
    // NULL users are excluded up front (ADVICE r18): the r17
    // countDistinct spelling and the oracle's count(DISTINCT CASE ...)
    // both ignore NULLs, but the min-offset rewrite's groupBy(tday, u)
    // keeps a NULL-user group and its plain counts would tally it — a
    // divergence the moment a fixture ships a NULL user_id.
    val du = df.select(day.as("day"), col(userCol).as("u"))
      .filter(col("u").isNotNull).distinct()
    // DAU rides the SAME fan-out aggregation as WAU/MAU (the k=0 slice
    // of the explode), so the distinct activity frame — and the corpus
    // scan feeding it — is consumed exactly once; a separate dau
    // aggregation would re-execute the shared subtree (a second full
    // corpus scan at cluster scale). Ghost days (fan-out targets past
    // the last active day) report dau=0 and are dropped, which is
    // exactly the days the corpus has no activity on.
    // Two-level spelling of the three distinct counts (r18, guide §2.3
    // "aggregate before you shuffle"): the direct 3-way countDistinct
    // plans an Expand that triples the exploded frame before its
    // distinct aggregation. Instead, collapse to one row per (tday,
    // user) carrying the MINIMUM day-offset — a user counts toward dau
    // iff their nearest activity is 0 days back, toward wau iff <= 6 —
    // then one tiny per-day aggregation counts the offset buckets.
    // Distinct-counts become plain counts because the first aggregation
    // already made (tday, u) unique; rows shuffled fall from 3x to 1x
    // the fan-out (and the min() partial-aggregates map-side).
    // Measured sf3: executor run 101 -> 45 s, CPU 87 -> 35 s, shuffle
    // bytes 0.23 -> 0.14 GB.
    du.withColumn("tday", explode(sequence(col("day"), col("day") + 27)))
      .groupBy("tday", "u")
      .agg(min(col("tday") - col("day")).as("md"))
      .groupBy("tday")
      .agg(
        count(when(col("md") === 0, 1)).as("dau"),
        count(when(col("md") <= 6, 1)).as("wau"),
        count(lit(1)).as("mau"))
      .filter(col("dau") > 0)
      .select(col("tday").as("day"), col("dau"), col("wau"), col("mau"),
        graft.util.Det.r2(col("dau").cast("double") /
          col("wau").cast("double")).as("stickiness"))
  }

  val qEventsActiveUsers = Q(
    "q_events_active_users",
    (s, d) => activeUsers(T.events(s, d), "ts", "user_id").orderBy("day"),
    Some(s"""WITH du AS (SELECT DISTINCT
               epoch_ms(date_trunc('day', ts)) // 86400000 AS day, user_id
             FROM events),
           roll AS (SELECT day + k AS day,
               count(DISTINCT CASE WHEN k = 0 THEN user_id END) AS dau,
               count(DISTINCT CASE WHEN k <= 6 THEN user_id END) AS wau,
               count(DISTINCT user_id) AS mau
             FROM du, (VALUES (0), (1), (2), (3), (4), (5), (6), (7),
               (8), (9), (10), (11), (12), (13), (14), (15), (16), (17),
               (18), (19), (20), (21), (22), (23), (24), (25), (26), (27))
               t(k)
             GROUP BY day + k)
           SELECT day, dau, wau, mau,
             ${graft.util.Det.sqlR2(
                "CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)")}
               AS stickiness
           FROM roll WHERE dau > 0
           ORDER BY day"""))

  /** Seasonal-naive forecast BACKTEST — the baseline every time-series
    * model must beat, and the eval-harness shape (forecast → score
    * against actuals) run as a query: per (event_type, day), the
    * prediction is the same weekday's count one week earlier (`lag 7`
    * over the aggregated day frame — rows, which equals days on a
    * gapless frame; compose with [[qEventsGapfill]]'s grid when days
    * can be missing), scored as absolute error; per type
    * the report gives scored-day count, total actuals, total absolute
    * error, and MAE in half-up integer ppm of the mean daily volume.
    * Everything is integer arithmetic — counts, |a−p|, ppm — so the
    * gate pins the whole backtest. Scale shape: the corpus collapses to
    * the (type, day) count frame FIRST (one shuffle); the lag window
    * and the final rollup run on that bounded frame (|types|·|days|
    * rows), so nothing corpus-sized is ever sorted.
    *
    * i64 envelope (the q_text_oov_rate discipline): the half-up ppm
    * numerator is `2e6·total_abs_err + total_actual`, so it stays in
    * i64 while total_abs_err < ~4.6e12 — ~4.6 trillion mis-predicted
    * events per type, far past any real backtest (100 TB of events is
    * ~1e12 rows TOTAL, and |a−p| is bounded by the larger daily count).
    * DuckDB widens the same product to HUGEINT earlier, so the engines
    * agree exactly until Spark's bound, and the bound is documented
    * here rather than silent. */
  val qEventsForecastNaive = Q(
    "q_events_forecast_naive",
    (s, d) => {
      val day = (unix_millis(date_trunc("day", col("ts"))) / 86400000L)
        .cast("long")
      val daily = T.events(s, d).select(col("event_type"), day.as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("pred", lag("n", 7).over(w))
        .filter(col("pred").isNotNull)
        .withColumn("abs_err", abs(col("n") - col("pred")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum("n").as("total_actual"),
          sum("abs_err").as("total_abs_err"))
        .withColumn("mae_ppm", expr(
          "(2000000 * total_abs_err + total_actual) div (2 * total_actual)"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type,
               epoch_ms(date_trunc('day', ts)) // 86400000 AS day,
               count(*) AS n
             FROM events GROUP BY event_type, day),
           scored AS (SELECT event_type, n,
               lag(n, 7) OVER (PARTITION BY event_type ORDER BY day)
                 AS pred
             FROM daily)
           SELECT event_type, count(*) AS n_days,
             CAST(sum(n) AS BIGINT) AS total_actual,
             CAST(sum(abs(n - pred)) AS BIGINT) AS total_abs_err,
             CAST((2000000 * CAST(sum(abs(n - pred)) AS BIGINT)
                   + CAST(sum(n) AS BIGINT))
                  // (2 * CAST(sum(n) AS BIGINT)) AS BIGINT) AS mae_ppm
           FROM scored WHERE pred IS NOT NULL
           GROUP BY event_type ORDER BY event_type"""))

  val all: Seq[Q] = Seq(
    qEventsFunnel, qEventsCohort, qJoinIntervalBinned, qEventsTransitions,
    qEventsGapfill, qEventsOhlc, qEventsAnomaly, qJoinIntervalOverlap,
    qEventsActiveUsers, qEventsForecastNaive)
}
