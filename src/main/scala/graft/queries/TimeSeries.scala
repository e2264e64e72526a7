package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** Time-series operator queries over `events` — the reference's core
  * competency transposed to the driver tables (SURVEY §2.4/§2.5):
  * tumbling buckets (W1), strided row windows (W2), moving average (W3),
  * downsample kernels (W4), interval→grid (W5), upsample (W6), horizon
  * range frames (W7), RLE/gaps-and-islands (W9), linear interpolation (P10),
  * diff-mean (A5), boundary-sum diff (A6), deterministic mode (A12),
  * top-1-by (O4), range fetch (J2) and padded fetch (J3), exact quantiles
  * (A11).
  *
  * Every query partitions by `user_id` — the natural shard key a 100 TB
  * event log would be bucketed on — so each is exactly one shuffle wide.
  */
object TimeSeries {
  import Q._

  private val H = usPerHour
  private val D = usPerDay

  /** Oracle CTE for the hourly per-user count series used by w7/j3. */
  private val hourlySql =
    s"""SELECT user_id, epoch_us(ts) - epoch_us(ts) % $H AS bucket_us,
        CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2"""

  val defs: Seq[QDef] = Seq(
    QDef(
      "w1_tumble_agg",
      (s, d) =>
        events(s, d)
          .withColumn("bucket_us", Windows.tumbleMs(col("ts_us"), H))
          .groupBy("user_id", "bucket_us")
          .agg(
            count(lit(1)).as("n"),
            Exact.dmean(col("value")).as("mean_value"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value")),
      Some(s"""SELECT user_id, epoch_us(ts) - epoch_us(ts) % $H AS bucket_us,
               CAST(count(*) AS BIGINT) AS n,
               ${Exact.sqlDmean("value")} AS mean_value,
               min(value) AS min_value, max(value) AS max_value
               FROM events GROUP BY 1, 2""")),

    QDef(
      "w2_strided_window",
      (s, d) => {
        val b = Windows.stridedWindowId(events(s, d), Seq("user_id"), Seq(col("ts_us")), 20)
        b.groupBy("user_id", "win_id")
          .agg(count(lit(1)).as("n"), Exact.dmean(col("value")).as("mean_value"))
      },
      Some(s"""WITH b AS (SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) - 1 AS rn0
               FROM events)
               SELECT user_id, CAST((rn0 - rn0 % 20) / 20 AS BIGINT) AS win_id,
               CAST(count(*) AS BIGINT) AS n, ${Exact.sqlDmean("value")} AS mean_value
               FROM b GROUP BY 1, 2""")),

    QDef(
      "w2_overlap_window",
      // the reference's general get_windows config: overlapping windows
      // (shift=10 < win_size=20) with the cut=1 ragged-tail trim — each row
      // lands in up to 2 windows (membership explode, no self-join)
      (s, d) => {
        val b = Windows.stridedWindows(
          events(s, d), Seq("user_id"), Seq(col("ts_us"), col("event_id")), 20, 10, 1)
        b.groupBy("user_id", "win_id")
          .agg(count(lit(1)).as("n"), Exact.dmean(col("value")).as("mean_value"))
      },
      Some(s"""WITH b AS (SELECT user_id, value,
                 CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - 1 AS BIGINT) AS rn0,
                 CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS cnt
               FROM events),
               e AS (SELECT user_id, value, u.w AS win_id
                     FROM b, unnest(generate_series(
                         (greatest(CAST(0 AS BIGINT), rn0 - 19) + 9) // 10,
                         least(rn0 // 10, (cnt + 9) // 10 - 2))) AS u(w))
               SELECT user_id, CAST(win_id AS BIGINT) AS win_id,
                 CAST(count(*) AS BIGINT) AS n, ${Exact.sqlDmean("value")} AS mean_value
               FROM e GROUP BY 1, 2""")),

    QDef(
      "w3_moving_avg_full",
      // reference moving_average emits ONLY complete windows (ret[n-1:]) —
      // the full=true flag drops each partition's first n−1 rows
      (s, d) =>
        Windows.movingAvg(
          events(s, d), Seq("user_id"), Seq(col("ts_us"), col("event_id")), "value", 5,
          full = true)
          .select("user_id", "ts_us", "moving_avg"),
      Some("""SELECT user_id, ts_us, moving_avg FROM (
              SELECT user_id, epoch_us(ts) AS ts_us,
                CAST(sum(CAST(value AS DECIMAL(30,4))) OVER w AS DOUBLE) / count(value) OVER w AS moving_avg,
                row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
              WHERE rn >= 5""")),

    QDef(
      "w3_moving_avg",
      (s, d) =>
        Windows.movingAvg(events(s, d), Seq("user_id"), Seq(col("ts_us")), "value", 5)
          .select("user_id", "ts_us", "moving_avg"),
      Some("""SELECT user_id, epoch_us(ts) AS ts_us,
              CAST(sum(CAST(value AS DECIMAL(30,4))) OVER w AS DOUBLE) / count(value) OVER w AS moving_avg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""")),

    QDef(
      "w16_rolling_median",
      // outlier-robust trailing smoother; odd n + complete windows only, so
      // the median is the sorted frame's middle ELEMENT (no interpolation
      // arithmetic to diverge between engines). Oracle is the structural
      // twin: list() over the same frame, list_sort, 1-indexed middle.
      (s, d) =>
        Windows.rollingMedian(
          events(s, d), Seq("user_id"), Seq(col("ts_us"), col("event_id")), "value", 5)
          .select("user_id", "ts_us", "rolling_median"),
      Some("""SELECT user_id, ts_us, rolling_median FROM (
              SELECT user_id, epoch_us(ts) AS ts_us,
                list_sort(list(value) OVER w)[3] AS rolling_median,
                row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
              WHERE rn >= 5""")),

    QDef(
      "w17_rolling_z",
      // trailing-frame anomaly scoring: each event vs its own last-20-row
      // mean/sd (decimal frame sums, identical double combination both
      // engines, sqrt correctly rounded -> z hash-matches). Complete
      // windows only; z NULL on constant frames.
      (s, d) =>
        Windows.rollingZScore(
          events(s, d), Seq("user_id"), Seq(col("ts_us"), col("event_id")), "value", 20)
          .select("user_id", "ts_us", "value", "rolling_mu", "rolling_sd", "z"),
      Some("""SELECT user_id, ts_us, value, rolling_mu, rolling_sd,
                CASE WHEN rolling_sd > 0 THEN (value - rolling_mu) / rolling_sd END AS z
              FROM (
                SELECT user_id, ts_us, value, rn, s / nd AS rolling_mu,
                  CASE WHEN nd > 1 THEN
                    sqrt(greatest((s2 - s*s/nd) / (nd - CAST(1.0 AS DOUBLE)),
                                  CAST(0.0 AS DOUBLE))) END AS rolling_sd
                FROM (
                  SELECT user_id, epoch_us(ts) AS ts_us, value,
                    row_number() OVER o AS rn,
                    CAST(count(value) OVER w AS DOUBLE) AS nd,
                    CAST(sum(CAST(value AS DECIMAL(30,4))) OVER w AS DOUBLE) AS s,
                    CAST(sum(CAST(value*value AS DECIMAL(38,4))) OVER w AS DOUBLE) AS s2
                  FROM events
                  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                         o AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)))
              WHERE rn >= 20""")),

    QDef(
      "w4_downsample",
      // centered value so the signed-abs-max kernel actually sees signs
      (s, d) => {
        val v = events(s, d).withColumn("v", col("value") - lit(245.0))
        val b = v.withColumn("bucket_us", Windows.tumbleMs(col("ts_us"), 10 * 60 * 1000000L))
        b.groupBy("user_id", "bucket_us")
          .agg(
            Exact.dmean(col("v")).as("mean_v"),
            Exact.dmean(abs(col("v"))).as("abs_mean_v"),
            max(abs(col("v"))).as("abs_max_v"),
            Stats.signedAbsMax(col("v")).as("signed_abs_max_v"))
      },
      Some(s"""WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us,
                 value - CAST(245.0 AS DOUBLE) AS v FROM events)
               SELECT user_id, ts_us - ts_us % ${10 * 60 * 1000000L} AS bucket_us,
               ${Exact.sqlDmean("v")} AS mean_v,
               ${Exact.sqlDmean("abs(v)")} AS abs_mean_v,
               max(abs(v)) AS abs_max_v,
               CASE WHEN -min(v) > max(v) THEN min(v) ELSE max(v) END AS signed_abs_max_v
               FROM b GROUP BY 1, 2""")),

    QDef(
      "w5_interval_grid",
      (s, d) => {
        val bounds = events(s, d)
          .groupBy("user_id", "event_type")
          .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
        Segments.intervalToGrid(bounds, "start_us", "end_us", D, "grid_us")
          .select("user_id", "event_type", "grid_us")
      },
      // DuckDB CAST(DOUBLE AS BIGINT) rounds; Spark's cast truncates — the
      // floor() below keeps the two aligned (values are positive).
      Some(s"""WITH b AS (SELECT user_id, event_type, min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
                 FROM events GROUP BY 1, 2)
               SELECT user_id, event_type,
               unnest(generate_series(CAST(ceil(s / CAST($D AS DOUBLE)) AS BIGINT) * $D,
                                      CAST(floor(e / CAST($D AS DOUBLE)) AS BIGINT) * $D,
                                      $D)) AS grid_us
               FROM b""")),

    QDef(
      "w6_upsample",
      (s, d) =>
        Windows.upsampleRepeat(t(s, d, "nation"), 3)
          .select(col("n_nationkey"), col("n_name"), col("rep_idx").cast("long").as("rep_idx")),
      Some("""SELECT n_nationkey, n_name, u.rep_idx
              FROM nation, unnest(generate_series(0, 2)) AS u(rep_idx)""")),

    QDef(
      "w7_horizon_stats",
      // hourly count series per user, then lookback/lookahead range frames —
      // the reference's 8-block feature windows on integer counts (exact
      // sums; mean division guarded and identical both engines).
      (s, d) => {
        val hourly = events(s, d)
          .withColumn("bucket_us", Windows.tumbleMs(col("ts_us"), H))
          .groupBy("user_id", "bucket_us")
          .agg(count(lit(1)).as("n"))
        val base = Window.partitionBy(col("user_id")).orderBy(col("bucket_us"))
        Seq(6 * H, 24 * H).foldLeft(hourly) { (df, h) =>
          val back = base.rangeBetween(-h, -1)
          val fwd = base.rangeBetween(0, h - 1)
          df.withColumn(s"sum_back_${h / H}h", sum(col("n")).over(back))
            .withColumn(
              s"mean_back_${h / H}h",
              sum(col("n")).over(back).cast("double") / nullif(count(col("n")).over(back), lit(0L)).cast("double"))
            .withColumn(s"max_back_${h / H}h", max(col("n")).over(back))
            .withColumn(s"sum_fwd_${h / H}h", sum(col("n")).over(fwd))
            .withColumn(
              s"mean_fwd_${h / H}h",
              sum(col("n")).over(fwd).cast("double") / nullif(count(col("n")).over(fwd), lit(0L)).cast("double"))
            .withColumn(s"max_fwd_${h / H}h", max(col("n")).over(fwd))
        }
      },
      Some(s"""WITH h AS ($hourlySql)
               SELECT user_id, bucket_us, n,
               CAST(sum(n) OVER b6 AS BIGINT) AS sum_back_6h,
               CAST(sum(n) OVER b6 AS DOUBLE) / CAST(nullif(count(n) OVER b6, 0) AS DOUBLE) AS mean_back_6h,
               max(n) OVER b6 AS max_back_6h,
               CAST(sum(n) OVER f6 AS BIGINT) AS sum_fwd_6h,
               CAST(sum(n) OVER f6 AS DOUBLE) / CAST(nullif(count(n) OVER f6, 0) AS DOUBLE) AS mean_fwd_6h,
               max(n) OVER f6 AS max_fwd_6h,
               CAST(sum(n) OVER b24 AS BIGINT) AS sum_back_24h,
               CAST(sum(n) OVER b24 AS DOUBLE) / CAST(nullif(count(n) OVER b24, 0) AS DOUBLE) AS mean_back_24h,
               max(n) OVER b24 AS max_back_24h,
               CAST(sum(n) OVER f24 AS BIGINT) AS sum_fwd_24h,
               CAST(sum(n) OVER f24 AS DOUBLE) / CAST(nullif(count(n) OVER f24, 0) AS DOUBLE) AS mean_fwd_24h,
               max(n) OVER f24 AS max_fwd_24h
               FROM h
               WINDOW b6 AS (PARTITION BY user_id ORDER BY bucket_us RANGE BETWEEN ${6 * H} PRECEDING AND 1 PRECEDING),
                      f6 AS (PARTITION BY user_id ORDER BY bucket_us RANGE BETWEEN CURRENT ROW AND ${6 * H - 1} FOLLOWING),
                      b24 AS (PARTITION BY user_id ORDER BY bucket_us RANGE BETWEEN ${24 * H} PRECEDING AND 1 PRECEDING),
                      f24 AS (PARTITION BY user_id ORDER BY bucket_us RANGE BETWEEN CURRENT ROW AND ${24 * H - 1} FOLLOWING)""")),

    QDef(
      "w9_rle",
      (s, d) =>
        Segments.runLengthEncode(events(s, d), Seq("user_id"), "ts_us", "event_type"),
      Some("""WITH f AS (SELECT user_id, epoch_us(ts) AS o, event_type,
                CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
              g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY o ROWS UNBOUNDED PRECEDING) AS seg,
                      lead(o) OVER (PARTITION BY user_id ORDER BY o) AS nxt,
                      max(o) OVER (PARTITION BY user_id) AS lst
                    FROM f)
              SELECT user_id, event_type, min(o) AS seg_start,
                     max(coalesce(nxt, lst)) AS seg_end, CAST(count(*) AS BIGINT) AS seg_len
              FROM g GROUP BY user_id, seg, event_type""")),

    QDef(
      "w11_gap_sessions",
      // events -> sessions: a 30-minute silence per user opens a new
      // session; emit session grain (count + start/end in µs). Pure
      // integer window arithmetic — engine- and partition-independent.
      (s, d) =>
        Segments.gapSessions(
          events(s, d), Seq("user_id"), "ts_us", 30L * 60L * 1000000L,
          order = Seq(col("ts_us"), col("event_id")))
          .groupBy("user_id", "session_idx")
          .agg(
            count(lit(1)).as("n_events"),
            min("ts_us").as("start_us"),
            max("ts_us").as("end_us")),
      Some(s"""WITH ev AS ($evSql),
               ${Segments.gapSessionsSql("ev", Seq("user_id"), 30L * 60L * 1000000L)}
               SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
                 min(ts_us) AS start_us, max(ts_us) AS end_us
               FROM sx GROUP BY 1, 2""")),

    QDef(
      "p10_interpolate",
      // every 'click' row's value is masked to NULL, then linearly
      // interpolated per user over the µs axis; leading NULLs → 0 (the
      // reference's interpolate().fillna(0) chain).
      (s, d) => {
        val masked = events(s, d).withColumn(
          "v",
          when(col("event_type") === "click", lit(null).cast("double")).otherwise(col("value")))
        Cleaning.interpolateThenZero(masked, Seq("user_id"), "ts_us", Seq("v"))
          .select("user_id", "ts_us", "v")
      },
      Some("""WITH m AS (SELECT user_id, epoch_us(ts) AS ts_us,
                CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v FROM events),
              w AS (SELECT user_id, ts_us, v,
                last_value(v IGNORE NULLS) OVER wb AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN CAST(ts_us AS DOUBLE) END IGNORE NULLS) OVER wb AS px,
                first_value(v IGNORE NULLS) OVER wf AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN CAST(ts_us AS DOUBLE) END IGNORE NULLS) OVER wf AS nx
                FROM m
                WINDOW wb AS (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wf AS (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
              SELECT user_id, ts_us,
                coalesce(CASE WHEN v IS NOT NULL THEN v
                              WHEN pv IS NULL THEN NULL
                              WHEN nv IS NULL THEN pv
                              ELSE pv + (nv - pv) * (CAST(ts_us AS DOUBLE) - px) / (nx - px) END,
                         CAST(0.0 AS DOUBLE)) AS v
              FROM w""")),

    QDef(
      "a5_diffmean",
      (s, d) =>
        events(s, d).groupBy("user_id")
          .agg(Stats.diffMean(col("ts_us"), col("value")).as("diff_mean")),
      Some("""SELECT user_id,
              CASE WHEN count(value) > 1 THEN
                (arg_max(value, epoch_us(ts)) - arg_min(value, epoch_us(ts)))
                  / CAST(count(value) - 1 AS DOUBLE) END AS diff_mean
              FROM events GROUP BY 1""")),

    QDef(
      "a6_boundary_diff",
      (s, d) => {
        val ranked = Stats.withEndRanks(events(s, d), Seq("user_id"), Seq(col("ts_us")))
        ranked.groupBy("user_id")
          .agg(Stats.boundarySumDiff(col("value"), col("rn_asc"), col("rn_desc"), 7).as("boundary_diff"))
      },
      Some("""WITH r AS (SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn_asc,
                row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC) AS rn_desc
                FROM events)
              SELECT user_id,
                CAST(sum(CASE WHEN rn_desc <= 7 THEN CAST(value AS DECIMAL(30,4)) END) AS DOUBLE)
                - CAST(sum(CASE WHEN rn_asc <= 7 THEN CAST(value AS DECIMAL(30,4)) END) AS DOUBLE)
                  AS boundary_diff
              FROM r GROUP BY 1""")),

    QDef(
      "skew_salted_stats",
      // salted two-phase aggregation over a deliberately hot key
      // (event_type: 5 keys x 20k rows) — bit-identical to the direct
      // groupBy because the partial sums are exact decimals
      (s, d) =>
        Skew.saltedStats(events(s, d), Seq("event_type"), "value", 32),
      Some(s"""SELECT event_type, CAST(count(value) AS BIGINT) AS n,
               ${Exact.sqlDmean("value")} AS mean_value,
               min(value) AS min_value, max(value) AS max_value
               FROM events GROUP BY 1""")),

    QDef(
      "a9_feature_block",
      // the fused one-pass stat block (ref generate_submission.py:29-36):
      // all stat families in ONE hash aggregate — partial map-side combine,
      // single shuffle, no per-family passes
      (s, d) =>
        events(s, d)
          .withColumn("v", col("value") - lit(245.0))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n"),
            Exact.dmean(col("value")).as("mean_value"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"),
            Exact.dstddev(col("value")).as("stddev_value"),
            Exact.dmean(abs(col("v"))).as("abs_mean_centered"),
            Stats.signedAbsMax(col("v")).as("signed_abs_max_centered"),
            Stats.diffMean(col("ts_us"), col("value")).as("diff_mean")),
      Some(s"""WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us, value,
                 value - CAST(245.0 AS DOUBLE) AS v FROM events)
               SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               ${Exact.sqlDmean("value")} AS mean_value,
               min(value) AS min_value, max(value) AS max_value,
               ${Exact.sqlDstddev("value")} AS stddev_value,
               ${Exact.sqlDmean("abs(v)")} AS abs_mean_centered,
               CASE WHEN -min(v) > max(v) THEN min(v) ELSE max(v) END AS signed_abs_max_centered,
               CASE WHEN count(value) > 1 THEN
                 (arg_max(value, ts_us) - arg_min(value, ts_us)) / CAST(count(value) - 1 AS DOUBLE)
               END AS diff_mean
               FROM b GROUP BY 1""")),

    QDef(
      "a12_mode",
      (s, d) =>
        Stats.modeDeterministic(events(s, d), Seq("user_id"), "event_type", "mode_event")
          .select("user_id", "mode_event"),
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2),
              m AS (SELECT *, max(cnt) OVER (PARTITION BY user_id) AS mx FROM c)
              SELECT user_id, min(event_type) AS mode_event FROM m WHERE cnt = mx GROUP BY 1""")),

    QDef(
      "o4_top1_by",
      (s, d) =>
        events(s, d)
          .withColumn(
            "rn",
            row_number().over(
              Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))))
          .filter(col("rn") === 1)
          .select("event_type", "event_id", "value"),
      Some("""SELECT event_type, event_id, value FROM
              (SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
               FROM events) WHERE rn = 1""")),

    QDef(
      "j2_range_fetch",
      // daily anchors per user; count + exact-sum all events in
      // [anchor - 6h, anchor + 18h) — the reference's get_data_around_time_step
      // as a real range join (shuffled equi-join on user_id + range filter).
      (s, d) => {
        val ev = events(s, d)
        val anchors = ev
          .select(col("user_id"), Windows.tumbleMs(col("ts_us"), D).as("anchor_us"))
          .distinct()
        Joins.rangeFetch(anchors, ev, Seq("user_id"), "anchor_us", "ts_us", 6 * H, 18 * H)
          .groupBy(col("a.user_id").as("user_id"), col("a.anchor_us").as("anchor_us"))
          .agg(
            count(col("s.event_id")).as("n_samples"),
            coalesce(Exact.dsum(col("s.value")), lit(0.0)).as("sum_value"))
      },
      Some(s"""WITH a AS (SELECT DISTINCT user_id,
                 epoch_us(ts) - epoch_us(ts) % $D AS anchor_us FROM events)
               SELECT a.user_id, a.anchor_us,
               CAST(count(e.event_id) AS BIGINT) AS n_samples,
               coalesce(${Exact.sqlDsum("e.value")}, CAST(0.0 AS DOUBLE)) AS sum_value
               FROM a LEFT JOIN events e ON e.user_id = a.user_id
                 AND epoch_us(e.ts) >= a.anchor_us - ${6 * H}
                 AND epoch_us(e.ts) < a.anchor_us + ${18 * H}
               GROUP BY 1, 2""")),

    QDef(
      "j3_padded_fetch",
      // 6 hourly buckets from each user's first bucket, padded with -1 where
      // the series has no bucket — the generated-lattice padding of J3.
      (s, d) => {
        val hourly = events(s, d)
          .withColumn("bucket_us", Windows.tumbleMs(col("ts_us"), H))
          .groupBy("user_id", "bucket_us")
          .agg(count(lit(1)).as("n"))
        val anchors = hourly.groupBy("user_id").agg(min(col("bucket_us")).as("anchor_us"))
        Joins.rangeFetchPadded(anchors, hourly, Seq("user_id"), "anchor_us", "bucket_us", 0, 6 * H, H)
          .select(col("user_id"), col("fetch_bucket"), coalesce(col("n"), lit(-1L)).as("n_padded"))
      },
      Some(s"""WITH h AS ($hourlySql),
               a AS (SELECT user_id, min(bucket_us) AS anchor_us FROM h GROUP BY 1),
               l AS (SELECT user_id, anchor_us,
                       unnest(generate_series(anchor_us, anchor_us + ${5 * H}, $H)) AS fetch_bucket
                     FROM a)
               SELECT l.user_id, l.fetch_bucket, coalesce(h.n, -1) AS n_padded
               FROM l LEFT JOIN h ON h.user_id = l.user_id AND h.bucket_us = l.fetch_bucket""")),

    QDef(
      "j5_asof",
      // latest event value at or before each daily anchor, per user — the
      // join-free union+window as-of (oracle: DuckDB's native ASOF JOIN)
      (s, d) => {
        val ev = events(s, d)
        val anchors = ev
          .select(col("user_id"), Windows.tumbleMs(col("ts_us"), D).as("anchor_us"))
          .distinct()
        Joins.asOf(anchors, ev, Seq("user_id"), "anchor_us", "ts_us", Seq("value"))
      },
      Some(s"""WITH a AS (SELECT DISTINCT user_id,
                 epoch_us(ts) - epoch_us(ts) % $D AS anchor_us FROM events),
               e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events)
               SELECT a.user_id, a.anchor_us, e.ts_us AS asof_ts, e.value AS asof_value
               FROM a ASOF LEFT JOIN e ON a.user_id = e.user_id AND e.ts_us <= a.anchor_us""")),

    QDef(
      "j7_interval_overlap",
      // purchases landed inside view/click gap-sessions — a true
      // variable-length interval-overlap join, executed as the bucketed
      // scatter (Joins.intervalOverlap): sessions explode into 30-min time
      // buckets, purchases equi-join on (user, bucket), residual containment
      // filter. The oracle is the plain inequality join DuckDB runs
      // natively. Session end is inclusive -> pass end+1 as the half-open
      // bound. Counts integral, money sum exact-decimal.
      (s, d) => {
        val ev = events(s, d)
        val sess = graft.ops.Segments.gapSessions(
            ev.filter(col("event_type").isin("view", "click")),
            Seq("user_id"), "ts_us", 30L * 60L * 1000000L,
            order = Seq(col("ts_us"), col("event_id")))
          .groupBy("user_id", "session_idx")
          .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"))
          .withColumn("__end_x", col("end_us") + 1)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("value"))
        Joins.intervalOverlap(
            sess, purchases, Seq("user_id"), "start_us", "__end_x", "ts_us",
            30L * 60L * 1000000L)
          .groupBy("user_id", "session_idx", "start_us", "end_us")
          .agg(
            count(lit(1)).as("n_purchases"),
            Exact.dsum(col("value")).as("sum_value"))
      },
      Some(s"""WITH ev AS ($evSql),
               f AS (SELECT * FROM ev WHERE event_type IN ('view', 'click')),
               ${Segments.gapSessionsSql("f", Seq("user_id"), 30L * 60L * 1000000L)},
               sess AS (SELECT user_id, session_idx, min(ts_us) AS start_us, max(ts_us) AS end_us
                        FROM sx GROUP BY 1, 2),
               p AS (SELECT user_id, ts_us, value FROM ev WHERE event_type = 'purchase')
               SELECT s.user_id, s.session_idx, s.start_us, s.end_us,
                 CAST(count(*) AS BIGINT) AS n_purchases,
                 ${Exact.sqlDsum("p.value")} AS sum_value
               FROM sess s JOIN p ON p.user_id = s.user_id
                 AND p.ts_us >= s.start_us AND p.ts_us <= s.end_us
               GROUP BY 1, 2, 3, 4""")),

    QDef(
      "a14_align_truncate",
      // count-based length alignment, truncate side (ref
      // generate_submission.py:182-191): cap each user's series at its
      // first 20 rows by ts; padding side is j3_padded_fetch
      (s, d) =>
        events(s, d)
          .withColumn(
            "rn",
            row_number().over(Window.partitionBy(col("user_id")).orderBy(col("ts_us"))).cast("long"))
          .filter(col("rn") <= 20)
          .select("user_id", "ts_us", "rn"),
      Some("""SELECT user_id, ts_us, rn FROM
              (SELECT user_id, epoch_us(ts) AS ts_us,
                 row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn
               FROM events) WHERE rn <= 20""")),

    QDef(
      "a15_argmax_array",
      // 0-based argmax over an array column, first occurrence on ties
      // (numpy argmax; ref generate_submission.py:487,491)
      (s, d) =>
        t(s, d, "embeddings").select(
          col("vec_id"),
          Stats.argmaxArray(col("embedding")).cast("long").as("argmax_dim")),
      Some("""SELECT vec_id,
              CAST(list_position(embedding, list_aggregate(embedding, 'max')) - 1 AS BIGINT) AS argmax_dim
              FROM embeddings""")),

    QDef(
      "a11_quantiles",
      (s, d) =>
        Stats.exactQuantiles(events(s, d), Seq("event_type"), "value", Seq(0.25, 0.5, 0.75)),
      Some(s"""WITH ${Stats.exactQuantilesSql("events", "event_type", "value", Seq(0.25, 0.5, 0.75))}
               SELECT event_type, q, q_value FROM quant""")),

    QDef(
      "p17_winsorize",
      // robust-preprocessing REPAIR: clamp each event's value into its
      // type's [p05, p95] band (the screens flag, this fixes). Band via
      // the two-phase exact quantiles, clamp = two comparisons
      (s, d) =>
        Cleaning.winsorize(
          events(s, d).select("event_type", "event_id", "value"),
          Seq("event_type"), "value", 0.05, 0.95, "winsorized"),
      Some(s"""WITH ${Stats.exactQuantilesSql("events", "event_type", "value", Seq(0.05, 0.95))},
              b AS (SELECT event_type,
                     min(CASE WHEN q = CAST(0.05 AS DOUBLE) THEN q_value END) AS lo,
                     min(CASE WHEN q = CAST(0.95 AS DOUBLE) THEN q_value END) AS hi
                    FROM quant GROUP BY 1)
              SELECT e.event_type, e.event_id, e.value,
                CASE WHEN e.value IS NULL THEN NULL
                     ELSE least(greatest(e.value, b.lo), b.hi) END AS winsorized
              FROM events e JOIN b USING (event_type)""")),

    QDef(
      "w13_hopping_window",
      // event-time HOPPING windows (1 h window sliding every 30 min) via
      // Spark's native window(col, win, slide) — each event lands in
      // exactly win/slide = 2 windows through one in-stage Expand
      // projection (no self-join, no explode shuffle); the oracle
      // scatters the same two window starts arithmetically. Counts are
      // integers, the mean is an exact decimal quotient
      (s, d) => {
        val slideUs = 30L * 60L * 1000000L
        val ev = events(s, d)
          .withColumn("__tsx", timestamp_micros(col("ts_us")))
        ev.groupBy(
            window(col("__tsx"), "1 hour", "30 minutes").as("__w"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"), Exact.dmean(col("value")).as("mean_value"))
          .select(
            unix_micros(col("__w.start")).as("w_start_us"),
            unix_micros(col("__w.end")).as("w_end_us"),
            col("event_type"), col("n_events"), col("mean_value"))
      },
      Some(s"""WITH ev AS ($evSql),
               sc AS (SELECT event_type, value,
                        (ts_us // 1800000000) * 1800000000 - i.i * 1800000000 AS w_start_us
                      FROM ev, (SELECT unnest([0, 1]) AS i) i)
               SELECT w_start_us, w_start_us + 3600000000 AS w_end_us, event_type,
                 CAST(count(*) AS BIGINT) AS n_events,
                 ${Exact.sqlDmean("value")} AS mean_value
               FROM sc GROUP BY 1, 2, 3""")),

    QDef(
      "w14_session_window",
      // gap sessionization via Spark's native session_window operator —
      // dynamic merge of [ts, ts+gap] spans: an event landing EXACTLY on
      // the previous session's end still merges (pinned by
      // PipelineOpsSpec), so a new session opens only when the gap
      // strictly exceeds 30 min — the same boundary as w11's lag/cumsum
      // form. start/end are taken from the data (min/max event time) so
      // the output stays pure integers
      (s, d) =>
        events(s, d)
          .withColumn("__tsx", timestamp_micros(col("ts_us")))
          .groupBy(col("user_id"), session_window(col("__tsx"), "30 minutes").as("__w"))
          .agg(
            count(lit(1)).as("n_events"),
            min("ts_us").as("start_us"),
            max("ts_us").as("end_us"))
          .select("user_id", "start_us", "end_us", "n_events"),
      Some(s"""WITH ev AS ($evSql),
               ${Segments.gapSessionsSql("ev", Seq("user_id"), 30L * 60L * 1000000L)}
               SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
                 CAST(count(*) AS BIGINT) AS n_events
               FROM sx GROUP BY user_id, session_idx""")),

    QDef(
      "w15_calendar_agg",
      // calendar-grain rollup: activity by day-of-week x event type.
      // The day-of-week comes from pure epoch-µs integer arithmetic
      // (1970-01-01 was a Thursday; dow 0 = Monday), NOT from engine
      // date functions — Spark's dayofweek is 1=Sunday..7, DuckDB's is
      // 0=Sunday..6, and time-zone rules never enter an integer DIV
      (s, d) =>
        events(s, d)
          .withColumn("dow", (expr(s"ts_us DIV $usPerDay") + 3) % 7)
          .groupBy("dow", "event_type")
          .agg(
            count(lit(1)).as("n"),
            Exact.dmean(col("value")).as("mean_value")),
      Some(s"""WITH ev AS ($evSql)
               SELECT (ts_us // $usPerDay + 3) % 7 AS dow, event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 ${Exact.sqlDmean("value")} AS mean_value
               FROM ev GROUP BY 1, 2""")),

    QDef(
      "w19_seasonal_anomaly",
      // seasonal-profile anomaly screening: a16's z-score against the
      // (event_type × hour-of-day) seasonal cell instead of the whole-series
      // mean — the diurnal-baseline monitor that catches "3am traffic at
      // 3pm levels" which a global z never sees. Hour-of-day is pure
      // epoch-µs integer arithmetic (w15's convention: no engine date
      // functions, no timezone rules); the fitted cell grid is bounded
      // (types × 24), so the stats side broadcasts and the probe never
      // shuffles the event stream.
      (s, d) =>
        Stats.zOutliers(
          events(s, d)
            .withColumn("hod", expr(s"(ts_us % $usPerDay) DIV $usPerHour"))
            .select("event_type", "hod", "event_id", "value"),
          Seq("event_type", "hod"), "value", 3.0, broadcastStats = true)
          .select("event_type", "hod", "event_id", "value", "z"),
      Some(s"""WITH ev AS ($evSql),
               h AS (SELECT event_type, (ts_us % $usPerDay) // $usPerHour AS hod,
                       event_id, value FROM ev),
               st AS (SELECT event_type, hod, ${Exact.sqlDmean("value")} AS mu,
                        ${Exact.sqlDstddev("value")} AS sd
                      FROM h GROUP BY 1, 2)
               SELECT h.event_type, h.hod, event_id, value, (value - mu) / sd AS z
               FROM h JOIN st USING (event_type, hod)
               WHERE sd > 0 AND abs((value - mu) / sd) > CAST(3.0 AS DOUBLE)""")),

    QDef(
      "w20_seasonal_forecast",
      // forecast-skill readout for w19's seasonal profile: fit per-
      // (event_type x hour-of-day) means on EVEN epoch-days, forecast the
      // ODD-day rows from their cell, score vs the per-type climatology —
      // skill > 0 means the diurnal structure actually predicts. The
      // day-parity split is deterministic integer arithmetic (never
      // rand()); both fitted tables are bounded and broadcast; exact
      // decimal means, trunc-9 |err| sums, one fixed closing dag
      // (Stats.seasonalSkill). The synthetic events value is hour-
      // independent, so the registered run reads skill ~ -4e-4 per type —
      // the metric's honest null case (profile ~ climatology), which is
      // exactly what the readout is for.
      (s, d) =>
        Stats.seasonalSkill(
          events(s, d)
            .withColumn("hod", expr(s"(ts_us % $usPerDay) DIV $usPerHour"))
            .withColumn("is_train", expr(s"(ts_us DIV $usPerDay) % 2 = 0"))
            .select("event_type", "hod", "value", "is_train"),
          "event_type", "hod", "value", "is_train"),
      Some(s"""WITH ev AS ($evSql),
               h AS (SELECT event_type, (ts_us % $usPerDay) // $usPerHour AS hod,
                       value, (ts_us // $usPerDay) % 2 = 0 AS is_train FROM ev),
               cells AS (SELECT event_type, hod, ${Exact.sqlDmean("value")} AS cm
                         FROM h WHERE is_train GROUP BY 1, 2),
               clim AS (SELECT event_type, ${Exact.sqlDmean("value")} AS km
                        FROM h WHERE is_train GROUP BY 1),
               j AS (SELECT h.event_type, h.value, cells.cm, clim.km
                     FROM h JOIN cells ON cells.event_type = h.event_type
                       AND cells.hod = h.hod
                     JOIN clim ON clim.event_type = h.event_type
                     WHERE NOT is_train),
               a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_test,
                       ${Exact.sqlDsumTrunc9("abs(value - cm)")} AS saes,
                       ${Exact.sqlDsumTrunc9("abs(value - km)")} AS saec
                     FROM j GROUP BY 1)
               SELECT event_type, n_test,
                 saes / CAST(n_test AS DOUBLE) AS mae_seasonal,
                 saec / CAST(n_test AS DOUBLE) AS mae_climatology,
                 CASE WHEN saec > CAST(0.0 AS DOUBLE) THEN
                   CAST(1.0 AS DOUBLE) - (saes / CAST(n_test AS DOUBLE))
                     / (saec / CAST(n_test AS DOUBLE)) END AS skill
               FROM a"""))
  )
}
