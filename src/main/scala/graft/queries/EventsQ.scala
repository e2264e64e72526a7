package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** Event-log pipeline queries over `events` — the operational layer a
  * continuously ingested 100 TB event store needs on top of the §2.4/2.5
  * analytics: CDC maintenance (latest-wins merge, I/U/D apply, SCD2
  * history), behavioral analytics (funnels, transition matrices, top
  * paths, cohort retention, RFM segments, peak concurrency,
  * inter-arrival quantiles, OHLC candles ± incremental maintenance),
  * monitoring (EWMA, z/MAD outliers, PSI drift, CUSUM changepoints,
  * seasonal anomalies, Benford audits) and experimentation (Welch A/B,
  * CUPED, difference-in-differences).
  *
  * Event-grain work shuffles on `user_id` or `event_type` (the natural
  * shard keys) and global ordered scans ride the chunked two-phase form;
  * see each op's scaladoc for its scale shape.
  */
object EventsQ {
  import Q._

  /** 2024-01-16 00:00:00 UTC in epoch µs — mid-range of the 30-day event
    * window at every sf, so both the base snapshot and the update batch
    * are non-trivial.
    */
  private val cutoffUs = 1705363200000000L

  /** The OHLC candle per (event_type, day) — the oracle of `w22_ohlc`
    * and of its incremental twin `ivm_ohlc_merge`: open/close are the
    * first/last values in (ts, event_id) order, high/low the max/min.
    */
  private val ohlcSql =
    s"""WITH ev AS ($evSql),
        q AS (SELECT event_type, ts_us - ts_us % $usPerDay AS bucket_us,
                ts_us, event_id, value
              FROM ev WHERE value IS NOT NULL),
        r AS (SELECT *,
                row_number() OVER (PARTITION BY event_type, bucket_us
                  ORDER BY ts_us, event_id) AS rna,
                row_number() OVER (PARTITION BY event_type, bucket_us
                  ORDER BY ts_us DESC, event_id DESC) AS rnd
              FROM q)
        SELECT event_type, bucket_us, CAST(count(*) AS BIGINT) AS n,
          max(CASE WHEN rna = 1 THEN value END) AS open,
          max(value) AS high, min(value) AS low,
          max(CASE WHEN rnd = 1 THEN value END) AS close
        FROM r GROUP BY 1, 2"""

  val defs: Seq[QDef] = Seq(
    QDef(
      "merge_upsert",
      // CDC maintenance: base = per-user snapshot as of the cutoff,
      // updates = the raw post-cutoff event batch; latest (ts, event_id)
      // wins. Result = the current state table.
      (s, d) => {
        val ev = events(s, d)
          .select("user_id", "ts_us", "event_id", "event_type", "value")
        val pre = ev.filter(col("ts_us") < cutoffUs)
        val post = ev.filter(col("ts_us") >= cutoffUs)
        val wSnap = Window.partitionBy("user_id")
          .orderBy(col("ts_us").desc, col("event_id").desc)
        val base = pre.withColumn("__rn", row_number().over(wSnap))
          .filter(col("__rn") === 1).drop("__rn")
        Cdc.upsert(base, post, Seq("user_id"), Seq(col("ts_us"), col("event_id")))
          .select("user_id", "ts_us", "event_id", "event_type", "value")
      },
      Some(s"""WITH ev AS ($evSql)
               SELECT user_id, ts_us, event_id, event_type, value FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY ts_us DESC, event_id DESC) AS rn FROM ev)
               WHERE rn = 1""")),

    QDef(
      "cdc_apply_ops",
      // full CDC apply with DELETES: base = the pre-cutoff per-user
      // snapshot, ops = the post-cutoff event log where a 'purchase'
      // closes the account (op = D) and everything else updates it —
      // users whose LATEST change is a D vanish from the state table
      // entirely (the retraction path merge_upsert cannot express).
      // Same single-window shape (Cdc.applyCdc scaladoc)
      (s, d) => {
        val ev = events(s, d)
          .select("user_id", "ts_us", "event_id", "event_type", "value")
        val wSnap = Window.partitionBy("user_id")
          .orderBy(col("ts_us").desc, col("event_id").desc)
        val base = ev.filter(col("ts_us") < cutoffUs)
          .withColumn("__rn", row_number().over(wSnap))
          .filter(col("__rn") === 1).drop("__rn")
        val ops = ev.filter(col("ts_us") >= cutoffUs)
          .withColumn("op", when(col("event_type") === "purchase", "D").otherwise("U"))
        Cdc.applyCdc(base, ops, Seq("user_id"), Seq(col("ts_us"), col("event_id")))
          .select("user_id", "ts_us", "event_id", "event_type", "value")
      },
      Some(s"""WITH ev AS ($evSql),
               pre AS (SELECT user_id, ts_us, event_id, event_type, value,
                         0 AS pri, 'U' AS op
                       FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                           ORDER BY ts_us DESC, event_id DESC) AS rn
                         FROM ev WHERE ts_us < $cutoffUs) WHERE rn = 1),
               post AS (SELECT user_id, ts_us, event_id, event_type, value,
                          1 AS pri,
                          CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
                        FROM ev WHERE ts_us >= $cutoffUs),
               u AS (SELECT * FROM pre UNION ALL SELECT * FROM post),
               r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY ts_us DESC, event_id DESC, pri DESC) AS rn FROM u)
               SELECT user_id, ts_us, event_id, event_type, value
               FROM r WHERE rn = 1 AND op <> 'D'""")),

    QDef(
      "funnel_steps",
      // conversion funnel view -> click -> purchase: earliest strictly
      // in-order match per step, NULL once the funnel stalls
      (s, d) =>
        Funnel.steps(events(s, d), "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase")),
      Some(s"""WITH ev AS ($evSql),
               u AS (SELECT DISTINCT user_id FROM ev),
               s1 AS (SELECT user_id, min(ts_us) AS t1_us FROM ev
                      WHERE event_type = 'view' GROUP BY 1),
               s2 AS (SELECT ev.user_id, min(ts_us) AS t2_us FROM ev
                      JOIN s1 USING (user_id)
                      WHERE event_type = 'click' AND ts_us > t1_us GROUP BY 1),
               s3 AS (SELECT ev.user_id, min(ts_us) AS t3_us FROM ev
                      JOIN s2 USING (user_id)
                      WHERE event_type = 'purchase' AND ts_us > t2_us GROUP BY 1)
               SELECT u.user_id, t1_us, t2_us, t3_us,
                 CAST(t1_us IS NOT NULL AS BIGINT) + CAST(t2_us IS NOT NULL AS BIGINT)
                   + CAST(t3_us IS NOT NULL AS BIGINT) AS steps_completed
               FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
               LEFT JOIN s3 USING (user_id)""")),

    QDef(
      "w12_ewma",
      // dyadic EWMA (alpha = 1/2, 32-lag truncation): exact integer
      // numerator/denominator, closing division in doubles — see
      // Windows.ewmaDyadic for the determinism argument
      (s, d) =>
        Windows.ewmaDyadic(
          events(s, d).select("user_id", "ts_us", "event_id", "value"),
          Seq("user_id"), Seq(col("ts_us"), col("event_id")), "value",
          carry = Seq("ts_us", "event_id"))
          .select("user_id", "ts_us", "event_id", "value", "ewma"),
      Some(s"""WITH ev AS ($evSql),
               q AS (SELECT user_id, ts_us, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) AS rn,
                       CAST(floor(value * 1e6) AS BIGINT) AS vq FROM ev),
               j AS (SELECT a.user_id, a.ts_us, a.event_id, a.value,
                       sum(b.vq * (CAST(1 AS BIGINT) << CAST(31 - (a.rn - b.rn) AS INT))) AS num,
                       sum(CAST(1 AS BIGINT) << CAST(31 - (a.rn - b.rn) AS INT)) AS den
                     FROM q a JOIN q b ON a.user_id = b.user_id
                       AND b.rn <= a.rn AND b.rn > a.rn - 32
                     GROUP BY 1, 2, 3, 4)
               SELECT user_id, ts_us, event_id, value,
                 CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1e6 AS ewma FROM j""")),

    QDef(
      "a16_outliers",
      // per-user z-score screening at |z| > 2.5; sd = 0 / n <= 1 groups
      // are excluded before the division (NaN never reaches a comparison)
      (s, d) =>
        Stats.zOutliers(
          events(s, d).select("user_id", "event_id", "value"),
          Seq("user_id"), "value", 2.5)
          .select("user_id", "event_id", "value", "z"),
      Some(s"""WITH ev AS ($evSql),
               st AS (SELECT user_id, ${Exact.sqlDmean("value")} AS mu,
                        ${Exact.sqlDstddev("value")} AS sd FROM ev GROUP BY 1)
               SELECT ev.user_id, event_id, value, (value - mu) / sd AS z
               FROM ev JOIN st USING (user_id)
               WHERE sd > 0 AND abs((value - mu) / sd) > CAST(2.5 AS DOUBLE)""")),

    QDef(
      "a18_mad_outliers",
      // robust (median/MAD) screening at dev/MAD > 3.5 — the flavor that
      // survives contaminated columns where a16's mean/sd chase the
      // outliers. Both medians via the two-phase exactQuantiles; MAD = 0
      // groups excluded before the division (a16's sd = 0 guard)
      (s, d) =>
        Stats.madOutliers(
          events(s, d).select("user_id", "event_id", "value"),
          Seq("user_id"), "value", 3.5)
          .select("user_id", "event_id", "value", "med", "mad", "rz"),
      Some {
        def medianSql(src: String, v: String, out: String) =
          s"""${Stats.exactQuantilesSql(src, "user_id", v, Seq(0.5), s"_$out")},
              $out AS (SELECT user_id, q_value AS $out FROM quant_$out)"""
        s"""WITH ev AS ($evSql),
            ${medianSql("ev", "value", "med")},
            d AS (SELECT ev.user_id, event_id, value, med.med,
                    abs(value - med.med) AS dev
                  FROM ev JOIN med USING (user_id) WHERE value IS NOT NULL),
            ${medianSql("d", "dev", "mad")}
            SELECT d.user_id, event_id, value, d.med, mad.mad, dev / mad.mad AS rz
            FROM d JOIN mad USING (user_id)
            WHERE mad.mad > 0 AND dev / mad.mad > CAST(3.5 AS DOUBLE)"""
      }),

    QDef(
      "ivm_merge_agg",
      // incremental view maintenance: per-(user, day) partial states from
      // the historical side and the new batch, merged and finalized —
      // bit-identical to the oracle's from-scratch aggregation because the
      // (count, decimal sum) state is a commutative monoid
      (s, d) => {
        val ev = events(s, d)
          .withColumn("bucket_us", Windows.tumbleMs(col("ts_us"), usPerDay))
        val keys = Seq("user_id", "bucket_us")
        val merged = Incremental.mergePartials(
          Incremental.partials(ev.filter(col("ts_us") < cutoffUs), keys, "value"),
          Incremental.partials(ev.filter(col("ts_us") >= cutoffUs), keys, "value"),
          keys)
        Incremental.finalizeMean(merged)
          .select("user_id", "bucket_us", "n", "mean_value")
      },
      Some(s"""WITH ev AS ($evSql)
               SELECT user_id, ts_us - ts_us % $usPerDay AS bucket_us,
                 CAST(count(*) AS BIGINT) AS n,
                 ${Exact.sqlDmean("value")} AS mean_value
               FROM ev GROUP BY 1, 2"""),
    ),

    QDef(
      "ivm_hist_quantile",
      // incremental quantile maintenance: fixed-bin histogram partials per
      // (event_type) from the historical side and the new batch, merged and
      // closed into p50/p90/p99 — the mergeable-quantile companion of
      // ivm_merge_agg (bin config is data-independent, so the merged state
      // is batch-split invariant; the oracle is the same binned quantile
      // from scratch). Bins: [0, 600) at width 1 — events.value's range
      (s, d) => {
        val ev = events(s, d)
        val keys = Seq("event_type")
        val merged = Incremental.histMerge(
          Incremental.histPartials(ev.filter(col("ts_us") < cutoffUs), keys, "value", 0.0, 1.0, 600),
          Incremental.histPartials(ev.filter(col("ts_us") >= cutoffUs), keys, "value", 0.0, 1.0, 600),
          keys)
        Incremental.histQuantile(merged, keys, Seq(0.5, 0.9, 0.99), 0.0, 1.0)
          .select("event_type", "q", "q_value")
      },
      Some(s"""WITH ev AS ($evSql),
               h AS (SELECT event_type,
                       least(greatest(CAST(floor((value - CAST(0.0 AS DOUBLE))
                           / CAST(1.0 AS DOUBLE)) AS BIGINT), 0), 599) AS bin,
                       CAST(count(*) AS BIGINT) AS cnt
                     FROM ev WHERE value IS NOT NULL GROUP BY 1, 2),
               c AS (SELECT event_type, bin, cnt,
                       CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
                       CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
                     FROM h),
               qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) t(q))
               SELECT event_type, q,
                 CAST(0.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) * (CAST(bin AS DOUBLE)
                   + (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
                     / CAST(cnt AS DOUBLE)) AS q_value
               FROM c CROSS JOIN qs
               WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
                 AND CAST(cum - cnt AS DOUBLE) < q * CAST(n AS DOUBLE)""")),

    QDef(
      "m17_psi",
      // drift monitoring: population stability index of the value
      // distribution, new batch vs historical snapshot, per event_type —
      // 20 fixed bins of width 30 over value's [0, 600) range (the
      // ivm_hist_quantile binning, coarsened to PSI convention)
      (s, d) => {
        val ev = events(s, d)
        Stats.psi(
          ev.filter(col("ts_us") < cutoffUs),
          ev.filter(col("ts_us") >= cutoffUs),
          Seq("event_type"), "value", 0.0, 30.0, 20)
      },
      Some {
        val smoothP = "CAST(cb + 1 AS DOUBLE) / CAST(n_base + 20 AS DOUBLE)"
        val smoothQ = "CAST(cc + 1 AS DOUBLE) / CAST(n_cur + 20 AS DOUBLE)"
        s"""WITH ev AS ($evSql),
            binned AS (SELECT event_type, ts_us,
                least(greatest(CAST(floor((value - CAST(0.0 AS DOUBLE))
                    / CAST(30.0 AS DOUBLE)) AS BIGINT), 0), 19) AS bin
              FROM ev WHERE value IS NOT NULL),
            bb AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cb
                   FROM binned WHERE ts_us < $cutoffUs GROUP BY 1, 2),
            cc AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cc
                   FROM binned WHERE ts_us >= $cutoffUs GROUP BY 1, 2),
            tb AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_base
                   FROM binned WHERE ts_us < $cutoffUs GROUP BY 1),
            tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cur
                   FROM binned WHERE ts_us >= $cutoffUs GROUP BY 1),
            grid AS (SELECT event_type, CAST(b.b AS BIGINT) AS bin
                     FROM (SELECT DISTINCT event_type FROM ev),
                          unnest(generate_series(0, 19)) AS b(b)),
            j AS (SELECT g.event_type, g.bin,
                    coalesce(bb.cb, 0) AS cb, coalesce(cc.cc, 0) AS cc,
                    coalesce(tb.n_base, 0) AS n_base, coalesce(tc.n_cur, 0) AS n_cur
                  FROM grid g
                  LEFT JOIN bb ON bb.event_type = g.event_type AND bb.bin = g.bin
                  LEFT JOIN cc ON cc.event_type = g.event_type AND cc.bin = g.bin
                  LEFT JOIN tb ON tb.event_type = g.event_type
                  LEFT JOIN tc ON tc.event_type = g.event_type),
            t AS (SELECT event_type, n_base, n_cur,
                    ($smoothP - $smoothQ) * ln(($smoothP) / ($smoothQ)) AS term
                  FROM j)
            SELECT event_type, CAST(max(n_base) AS BIGINT) AS n_base,
              CAST(max(n_cur) AS BIGINT) AS n_cur,
              ${graft.ops.Exact.sqlDsumTrunc9("term")} AS psi
            FROM t GROUP BY 1"""
      }),

    QDef(
      "ivm_hll_merge",
      // incremental DISTINCT-COUNT maintenance: per-event_type HLL sketch
      // partials from the historical side and the new batch, unioned and
      // closed into an estimate — the mergeable-sketch companion of
      // ivm_merge_agg/ivm_hist_quantile and the batch shape of the
      // foreachBatch streaming IVM loop. Registered WITHOUT an oracle by
      // the documented sketch contract (Incremental.hllPartials scaladoc):
      // Spark unions per-partition partial sketches, so the estimate can
      // wobble ±ε under different partitioning — the driver records the
      // weaker rows-only check, and the spec pins estimate-vs-exact error
      // bounds instead
      (s, d) => {
        val ev = events(s, d)
        val keys = Seq("event_type")
        val merged = Incremental.hllMerge(
          Incremental.hllPartials(ev.filter(col("ts_us") < cutoffUs), keys, "user_id"),
          Incremental.hllPartials(ev.filter(col("ts_us") >= cutoffUs), keys, "user_id"),
          keys)
        Incremental.hllFinalize(merged)
          .select("event_type", "approx_distinct")
      },
      None),

    QDef(
      "ivm_batch_replay",
      // the foreachBatch streaming-IVM loop, registered as a batch REPLAY
      // and oracle-checked end-to-end: the event log is split into K=6
      // deterministic ingest batches, each contributes its (count, exact
      // decimal sum) partial state, and the state folds forward ONE MERGE
      // PER BATCH — exactly the accumulation the foreachBatch callback
      // runs per micro-batch (`StreamingSpec` drives the identical fold
      // through a live MemoryStream; this query drives it over the
      // driver's parquet and lets the oracle hash-check the result).
      // Because (count, sum) is a commutative monoid, the 6-fold replay
      // is BIT-identical to the oracle's one-shot aggregation no matter
      // how rows land in batches — here a day-index mod-6 split, the
      // adversarial (non-contiguous) batching that makes the invariance
      // claim strongest. Per-(event_type, hour) means. Cost model (probed
      // at K=3: 10 HashAggregates / 3 Exchanges / 3 scans — Catalyst does
      // NOT collapse the merge chain into one union+groupBy): the replay
      // pays one events scan + one partial-state shuffle PER BATCH. That
      // is the price of exercising the foreachBatch fold shape itself;
      // the production incremental path touches only each NEW batch, and
      // the one-shot equivalent is `ivm_merge_agg`'s 2-partial form.
      (s, d) => {
        val ev = events(s, d)
          .withColumn("bucket_us", Windows.tumbleMs(col("ts_us"), usPerHour))
          .withColumn("__batch", pmod(expr(s"ts_us DIV $usPerDay"), lit(6L)))
        val keys = Seq("event_type", "bucket_us")
        val folded = (0 until 6)
          .map(i => Incremental.partials(ev.filter(col("__batch") === i), keys, "value"))
          .reduceLeft((state, p) => Incremental.mergePartials(state, p, keys))
        Incremental.finalizeMean(folded)
          .select("event_type", "bucket_us", "n", "mean_value")
      },
      Some(s"""WITH ev AS ($evSql)
               SELECT event_type, ts_us - ts_us % $usPerHour AS bucket_us,
                 CAST(count(*) AS BIGINT) AS n,
                 ${Exact.sqlDmean("value")} AS mean_value
               FROM ev GROUP BY 1, 2""")),

    QDef(
      "p16_json_extract",
      // semi-structured payloads: parse the props JSON column with an
      // explicit schema (from_json — typed, codegen'd, PERMISSIVE nulls
      // on malformed rows; never schema inference on a 100 TB stream)
      // and aggregate the extracted field. Integer sums — exact
      (s, d) =>
        t(s, d, "events")
          .withColumn("k", from_json(
            col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            count(col("k")).as("n_parsed"),
            sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(count(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS n_parsed,
                CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                max(CAST(props->>'k' AS BIGINT)) AS max_k
              FROM events GROUP BY 1""")),

    QDef(
      "cdc_scd2",
      // SCD type-2 history: every per-user event becomes a version row with
      // a half-open [valid_from, valid_to) interval, version counter, and
      // is_current flag — the point-in-time reconstruction table an as-of
      // join or a training-snapshot rebuild filters on. One window shuffle
      // on user_id (lead + row_number share the frame; see Cdc.scd2)
      (s, d) =>
        Cdc.scd2(
          events(s, d).select("user_id", "ts_us", "event_id", "value"),
          Seq("user_id"), "ts_us", Seq(col("ts_us"), col("event_id")))
          .select(
            col("user_id"), col("event_id"), col("value"),
            col("valid_from").as("valid_from_us"),
            col("valid_to").as("valid_to_us"),
            col("version"), col("is_current")),
      Some(s"""WITH ev AS ($evSql)
               SELECT user_id, event_id, value,
                 ts_us AS valid_from_us,
                 lead(ts_us) OVER w AS valid_to_us,
                 CAST(row_number() OVER w AS BIGINT) AS version,
                 CAST(lead(ts_us) OVER w IS NULL AS BIGINT) AS is_current
               FROM ev
               WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""")),

    QDef(
      "cdc_snapshot_diff",
      // dataset versioning — the inverse CDC direction: diff two corpus
      // snapshots (crawl A missed every 5th doc, crawl B misses every 7th
      // and re-extracted every 11th with changed bytes) into the implied
      // I/U/D change log, comparing md5 fingerprints so the full-outer
      // join shuffles one narrow hash per doc, never the text payload.
      // Output is sized by the CHURN; feeding it to Cdc.applyCdc rebuilds
      // crawl B from crawl A exactly (round-trip pinned in OperatorProps).
      // One key-shuffle join — zero bytes once snapshots are stored
      // bucketed by doc_id (Cdc.snapshotDiff scaladoc)
      (s, d) => {
        val docs = t(s, d, "documents")
        val oldSnap = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        val newSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
          .select(
            col("doc_id"),
            md5(when(pmod(col("doc_id"), lit(11)) === 0, concat(col("text"), lit(" ")))
              .otherwise(col("text")).cast("binary")).as("fp"))
        Cdc.snapshotDiff(oldSnap, newSnap, Seq("doc_id"), Seq("fp"))
      },
      Some("""WITH o AS (SELECT doc_id, md5(text) AS fp FROM documents
                         WHERE doc_id % 5 <> 0),
              n AS (SELECT doc_id,
                      md5(CASE WHEN doc_id % 11 = 0 THEN text || ' '
                          ELSE text END) AS fp
                    FROM documents WHERE doc_id % 7 <> 0)
              SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'I'
                     WHEN n.doc_id IS NULL THEN 'D'
                     ELSE 'U' END AS op,
                CASE WHEN n.doc_id IS NULL THEN o.fp ELSE n.fp END AS fp,
                o.fp AS fp_old
              FROM o FULL JOIN n ON n.doc_id = o.doc_id
              WHERE o.doc_id IS NULL OR n.doc_id IS NULL
                 OR o.fp IS DISTINCT FROM n.fp""")),

    QDef(
      "lc_retention_diff",
      // lifecycle demo, end-to-end and oracle-visible (r10 verdict item 4):
      // write events hive-partitioned by day to a scratch dir, run the
      // catalog-level retention sweep (Sources.retentionSweep drops every
      // day=* partition below the cutoff as a DIRECTORY delete — no
      // rewrite of surviving data), then snapshot-diff the per-partition
      // profile before vs after: the dropped partition set surfaces as
      // op='D' change-log rows (day, n_rows, n_users), which DuckDB can
      // derive straight from the raw events table — the DDL side effect
      // becomes a hash-checkable query. The BEFORE profile is collected at
      // build time (30-ish day rows — a plan-time scalar table; reading it
      // lazily would race the sweep), the AFTER side re-reads the swept
      // directory. Scale shape: the write is one day-repartitioned pass
      // (one file per partition here; on a cluster the day key is the
      // shard key), the sweep is O(#partitions) filesystem metadata, the
      // profiles are count/count-distinct per day — churn-sized output
      // like every snapshot diff
      (s, d) => {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft_lc_retention")
          .toFile.getAbsolutePath
        val path = tmp + "/events_by_day"
        events(s, d)
          .select(
            col("user_id"),
            date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd").as("day"))
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(path)
        def profile() = s.read.parquet(path)
          .groupBy(col("day").cast("string").as("day"))
          .agg(count(lit(1)).as("n_rows"), countDistinct(col("user_id")).as("n_users"))
        val before = profile()
          .as[(String, Long, Long)].collect().toSeq
          .toDF("day", "n_rows", "n_users")
        Sources.retentionSweep(s, path, "day", keepFrom = "2024-01-08")
        Cdc.snapshotDiff(before, profile(), Seq("day"), Seq("n_rows", "n_users"))
      },
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, 'D' AS op,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(count(*) AS BIGINT) AS n_rows_old,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_old
              FROM events WHERE strftime(ts, '%Y-%m-%d') < '2024-01-08'
              GROUP BY 1""")),

    QDef(
      "w21_cusum",
      // changepoint localization: per event_type, the event index where the
      // centered CUSUM deviation peaks — WHEN the value stream's mean
      // shifted (m17_psi's drift verdict, localized in time). Division-free
      // integer/decimal form throughout, one closing double division; see
      // Stats.cusumChangepoint for the determinism argument
      (s, d) =>
        Stats.cusumChangepoint(
          events(s, d).select("event_type", "ts_us", "event_id", "value"),
          Seq("event_type"), Seq(col("ts_us"), col("event_id")), "value",
          chunk = expr(s"ts_us DIV $usPerDay"),
          carry = Seq("ts_us"))
          .select(
            col("event_type"), col("n"),
            col("ts_us").as("cp_ts_us"), col("cp_idx"), col("cusum_stat")),
      Some(s"""WITH ev AS ($evSql),
               q AS (SELECT event_type, ts_us, event_id,
                       CAST(CASE WHEN value < 0
                         THEN -floor(abs(value) * CAST(10000 AS DOUBLE))
                         ELSE floor(abs(value) * CAST(10000 AS DOUBLE)) END
                         AS BIGINT) AS vq
                     FROM ev WHERE value IS NOT NULL),
               r AS (SELECT event_type, ts_us, vq,
                       CAST(row_number() OVER w AS BIGINT) AS i,
                       sum(vq) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
                       sum(vq) OVER (PARTITION BY event_type) AS sn,
                       CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
                     FROM q
                     WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
               dd AS (SELECT event_type, ts_us, i, n,
                        CAST(n AS HUGEINT) * CAST(s AS HUGEINT)
                          - CAST(i AS HUGEINT) * CAST(sn AS HUGEINT) AS d
                      FROM r),
               top AS (SELECT *, row_number() OVER (PARTITION BY event_type
                         ORDER BY abs(d) DESC, i) AS rn FROM dd)
               SELECT event_type, n, ts_us AS cp_ts_us, i AS cp_idx,
                 CAST(abs(d) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE)) AS cusum_stat
               FROM top WHERE rn = 1""")),

    QDef(
      "w22_ohlc",
      // OHLC candlestick downsampling per (event_type, day): open/close =
      // the exact first/last values in (ts, event_id) order, high/low =
      // max/min — the financial-series bucketing every tick store ships
      // (InfluxDB/Timescale first+last+min+max). Two row_number directions
      // share one (type, day) exchange, then a single hash agg closes all
      // five measures; open/close/high/low are row VALUES (no arithmetic),
      // so the result is engine-exact by construction
      (s, d) => {
        val ev = events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"), col("ts_us"), col("event_id"), col("value"))
          .withColumn("bucket_us", Windows.tumbleMs(col("ts_us"), usPerDay))
        val wp = Window.partitionBy("event_type", "bucket_us")
        val asc = wp.orderBy(col("ts_us"), col("event_id"))
        val desc = wp.orderBy(col("ts_us").desc, col("event_id").desc)
        ev.withColumn("rna", row_number().over(asc))
          .withColumn("rnd", row_number().over(desc))
          .groupBy("event_type", "bucket_us")
          .agg(
            count(lit(1)).as("n"),
            max(when(col("rna") === 1, col("value"))).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(when(col("rnd") === 1, col("value"))).as("close"))
      },
      Some(ohlcSql)),

    QDef(
      "w24_concurrency",
      // sweep-line peak concurrency: per event_type, the most sessions of
      // that type alive at once and the first instant it happens ("peak
      // concurrent viewers") — intervals are w11's 30-min gap sessions per
      // (user, type), the +1/−1 scatter replaces a quadratic
      // overlap-self-join, and the running sum/argmax are the chunked
      // two-phase scan (Segments.peakConcurrency — no per-key single-task
      // sort; day-bucket chunks). Touching intervals count as concurrent
      (s, d) => {
        // NOTE (r15 bench): persisting this interval frame (it feeds the
        // +1/−1 scatter's two union branches and chunkedScan's three
        // consumers) was tried and LOST — wall 2.07 → 3.98 s, cpu 4.4 →
        // 14.1 at sf0.1: the recompute is one cheap window+groupBy chain
        // while the persist added a blocking materialization and degraded
        // the scan joins' broadcast planning (the never-persist-cheap-aggs
        // rule, re-measured here)
        val sess = Segments.gapSessions(
          events(s, d), Seq("user_id", "event_type"), "ts_us", 30L * 60L * 1000000L,
          order = Seq(col("ts_us"), col("event_id")))
          .groupBy("user_id", "event_type", "session_idx")
          .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"))
        Segments.peakConcurrency(sess, Seq("event_type"), "start_us", "end_us",
          chunkWidth = usPerDay,
          tiebreak = Seq(col("user_id"), col("session_idx")))
      },
      Some(s"""WITH ev AS ($evSql),
               ${Segments.gapSessionsSql("ev", Seq("user_id", "event_type"), 30L * 60L * 1000000L)},
               sess AS (SELECT user_id, event_type, session_idx,
                          min(ts_us) AS start_us, max(ts_us) AS end_us
                        FROM sx GROUP BY 1, 2, 3),
               d AS (SELECT event_type, user_id, session_idx, start_us AS ts,
                       CAST(1 AS BIGINT) AS delta FROM sess
                     UNION ALL
                     SELECT event_type, user_id, session_idx, end_us AS ts,
                       CAST(-1 AS BIGINT) AS delta FROM sess),
               r AS (SELECT event_type, ts,
                       CAST(sum(delta) OVER (PARTITION BY event_type
                         ORDER BY ts, delta DESC, user_id, session_idx
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY ts, delta DESC, user_id, session_idx) AS i
                     FROM d)
               SELECT event_type, s AS peak, ts AS peak_ts FROM (
                 SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY s DESC, i) AS rn FROM r)
               WHERE rn = 1""")),

    QDef(
      "w25_interarrival",
      // arrival-rate profiling: p50/p90/p99 of the per-(user, type)
      // inter-event gap, rolled up per event_type — the hazard/SLA readout
      // (is traffic bursty? are gaps heavy-tailed?) every event pipeline
      // capacity-plans from. Gaps are exact µs integers widened to double
      // (≤ 2^53, lossless); quantiles via the two-phase exactQuantiles
      // (distinct-value pre-agg, so the ordered window never sees raw rows)
      (s, d) => {
        val ev = events(s, d).select("user_id", "event_type", "ts_us", "event_id")
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts_us"), col("event_id"))
        val gaps = ev
          .withColumn("gap_us", (col("ts_us") - lag("ts_us", 1).over(w)).cast("double"))
          .filter(col("gap_us").isNotNull)
        Stats.exactQuantiles(gaps, Seq("event_type"), "gap_us", Seq(0.5, 0.9, 0.99))
      },
      Some(s"""WITH ev AS ($evSql),
               g AS (SELECT event_type,
                       CAST(ts_us - lag(ts_us) OVER (PARTITION BY user_id, event_type
                         ORDER BY ts_us, event_id) AS DOUBLE) AS gap_us
                     FROM ev),
               ${Stats.exactQuantilesSql("g", "event_type", "gap_us", Seq(0.5, 0.9, 0.99))}
               SELECT event_type, q, q_value FROM quant""")),

    QDef(
      "m18_ab_ztest",
      // experimentation evaluation: Welch two-sample z of the value mean,
      // arm = user_id parity (a deterministic hash-bucket assignment —
      // never rand()), per event_type. Both arms in ONE conditional-agg
      // pass; exact moment sums close through a fixed IEEE dag (see
      // Stats.abWelchZ). The parity split carries no real treatment, so
      // the registered z's are a calibration check (|z| small) as well
      (s, d) =>
        Stats.abWelchZ(
          events(s, d).select("event_type", "user_id", "value"),
          Seq("event_type"), pmod(col("user_id"), lit(2L)) === 0, "value")
          .select("event_type", "n_a", "n_b", "mean_a", "mean_b", "z"),
      Some {
        val ca = "CASE WHEN user_id % 2 = 0 THEN value END"
        val cb = "CASE WHEN user_id % 2 <> 0 THEN value END"
        val sa2 = Exact.sqlDsumTrunc4(s"CASE WHEN user_id % 2 = 0 THEN value * value END")
        val sb2 = Exact.sqlDsumTrunc4(s"CASE WHEN user_id % 2 <> 0 THEN value * value END")
        val na = "CAST(n_a AS DOUBLE)"; val nb = "CAST(n_b AS DOUBLE)"
        val ma = s"(sa / $na)"; val mb = s"(sb / $nb)"
        val va = s"(($na * sa2 - sa * sa) / ($na * ($na - 1.0)))"
        val vb = s"(($nb * sb2 - sb * sb) / ($nb * ($nb - 1.0)))"
        val se2 = s"($va / $na + $vb / $nb)"
        s"""WITH ev AS ($evSql),
            g AS (SELECT event_type,
                    CAST(count($ca) AS BIGINT) AS n_a,
                    CAST(count($cb) AS BIGINT) AS n_b,
                    ${Exact.sqlDsum(ca)} AS sa,
                    ${Exact.sqlDsum(cb)} AS sb,
                    $sa2 AS sa2,
                    $sb2 AS sb2
                  FROM ev GROUP BY 1)
            SELECT event_type, n_a, n_b, $ma AS mean_a, $mb AS mean_b,
              CASE WHEN n_a > 1 AND n_b > 1 AND $se2 > 0
                THEN ($ma - $mb) / sqrt($se2) END AS z
            FROM g"""
      }),

    QDef(
      "dq_freshness",
      // feed-health audit: per event_type, how stale is the stream
      // (minutes from the last event to the fixed post-window anchor) and
      // is the final day's volume in line with the feed's own daily
      // average (ratio = n_last_day · span_days / n_total ≈ 1 for a
      // steady feed; ≪ 1 flags a dying feed even before it goes silent).
      // All integers off one groupBy + one closing division
      (s, d) => {
        val anchorUs = 1706745600000000L // 2024-02-01T00:00Z
        events(s, d)
          .groupBy("event_type")
          .agg(
            max("ts_us").as("last_ts_us"),
            min("ts_us").as("__first_ts"),
            count(lit(1)).as("n_total"),
            sum(when(col("ts_us") >= anchorUs - usPerDay, 1L).otherwise(0L))
              .as("n_last_day"))
          .withColumn("staleness_min",
            expr(s"($anchorUs - last_ts_us) DIV 60000000"))
          .withColumn("span_days",
            expr("(last_ts_us - __first_ts) DIV 86400000000 + 1"))
          .withColumn("volume_ratio",
            (col("n_last_day") * col("span_days")).cast("double")
              / col("n_total").cast("double"))
          .select("event_type", "last_ts_us", "staleness_min", "n_total",
            "n_last_day", "span_days", "volume_ratio")
      },
      Some(s"""WITH ev AS ($evSql),
               g AS (SELECT event_type, max(ts_us) AS last_ts_us,
                       min(ts_us) AS first_ts,
                       CAST(count(*) AS BIGINT) AS n_total,
                       CAST(sum(CASE WHEN ts_us >= ${1706745600000000L - usPerDay}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_last_day
                     FROM ev GROUP BY 1)
               SELECT event_type, last_ts_us,
                 (1706745600000000 - last_ts_us) // 60000000 AS staleness_min,
                 n_total, n_last_day,
                 (last_ts_us - first_ts) // 86400000000 + 1 AS span_days,
                 CAST(n_last_day * ((last_ts_us - first_ts) // 86400000000 + 1) AS DOUBLE)
                   / CAST(n_total AS DOUBLE) AS volume_ratio
               FROM g""")),

    QDef(
      "dq_benford",
      // fraud/data-quality audit: first-significant-digit distribution of
      // value per event_type vs Benford's law, closed into a chi-squared
      // distance — fabricated or truncated numeric feeds flag here before
      // any model sees them. The first digit comes from the INTEGER
      // scale-4 fixed point's decimal string (long→string renders
      // identically in both engines — never stringify a raw double);
      // expected shares are MathLn integer-ratio dags, the digit grid is
      // scaffolded so absent digits still contribute their full expected
      // term, and the 9-term sum goes through tie-free trunc-9 fixed point
      (s, d) => {
        val ev = events(s, d)
          .filter(col("value").isNotNull && col("value") > 0)
          .withColumn("v4", floor(col("value") * lit(1.0e4d)).cast("long"))
          .filter(col("v4") > 0)
          .withColumn("digit",
            expr("CAST(substring(CAST(v4 AS STRING), 1, 1) AS BIGINT)"))
        val o = ev.groupBy("event_type", "digit").agg(count(lit(1)).as("o"))
        val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        val grid = n.select(col("event_type"), col("n"),
          explode(sequence(lit(1L), lit(9L))).as("digit"))
        val ln10 = graft.functions.MathLn(lit(10.0d))
        val e = col("n").cast("double") *
          (graft.functions.MathLn(
            (col("digit") + 1).cast("double") / col("digit").cast("double")) / ln10)
        val od = coalesce(col("o"), lit(0L)).cast("double")
        grid.join(o, Seq("event_type", "digit"), "left")
          .withColumn("__term", (od - e) * (od - e) / e)
          .groupBy("event_type")
          .agg(max(col("n")).as("n"), Exact.dsumTrunc9(col("__term")).as("chi2"))
      },
      Some {
        val e = "(CAST(g.n AS DOUBLE) * (ln(CAST(g.digit + 1 AS DOUBLE) / CAST(g.digit AS DOUBLE)) / ln(CAST(10.0 AS DOUBLE))))"
        val od = "CAST(coalesce(o.o, 0) AS DOUBLE)"
        s"""WITH ev AS ($evSql),
            q AS (SELECT event_type,
                    CAST(substr(CAST(CAST(floor(value * CAST(10000 AS DOUBLE)) AS BIGINT)
                      AS VARCHAR), 1, 1) AS BIGINT) AS digit
                  FROM ev
                  WHERE value IS NOT NULL AND value > 0
                    AND CAST(floor(value * CAST(10000 AS DOUBLE)) AS BIGINT) > 0),
            o AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS o
                  FROM q GROUP BY 1, 2),
            n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
            grid AS (SELECT n.event_type, n.n, CAST(dd.d AS BIGINT) AS digit
                     FROM n, unnest(generate_series(1, 9)) AS dd(d)),
            t AS (SELECT g.event_type, g.n,
                    ($od - $e) * ($od - $e) / $e AS term
                  FROM grid g LEFT JOIN o
                    ON o.event_type = g.event_type AND o.digit = g.digit)
            SELECT event_type, max(n) AS n, ${Exact.sqlDsumTrunc9("term")} AS chi2
            FROM t GROUP BY 1"""
      }),

    QDef(
      "m22_did",
      // difference-in-differences: the 2×2 (arm × pre/post-cutoff) design
      // — did = (ȳ_A,post − ȳ_A,pre) − (ȳ_B,post − ȳ_B,pre) per
      // event_type, with an event-level Welch-style z from the four group
      // variances (the parallel-trends causal readout; CUPED adjusts a
      // randomized experiment, DiD handles the arm-differs-at-baseline
      // case). ONE conditional-aggregate pass builds all four groups'
      // exact moments — raw-column dsum / tie-free trunc-4 squares —
      // and the estimate/SE close through a fixed IEEE dag. Degenerate
      // groups (any n ≤ 1 or zero pooled variance) give NULL z
      (s, d) => {
        val ev = events(s, d)
          .filter(col("value").isNotNull)
          .withColumn("__arm", pmod(col("user_id"), lit(2L)) === 0)
          .withColumn("__post", col("ts_us") >= cutoffUs)
        val v = col("value")
        def grp(a: Boolean, p: Boolean) = col("__arm") === a && col("__post") === p
        def cnt(a: Boolean, p: Boolean) = count(when(grp(a, p), v))
        def s1(a: Boolean, p: Boolean) = Exact.dsum(when(grp(a, p), v))
        def s2(a: Boolean, p: Boolean) = Exact.dsumTrunc4(when(grp(a, p), v * v))
        val agg = ev.groupBy("event_type").agg(
          cnt(true, false).as("n_a_pre"), cnt(true, true).as("n_a_post"),
          cnt(false, false).as("n_b_pre"), cnt(false, true).as("n_b_post"),
          s1(true, false).as("__s_a_pre"), s1(true, true).as("__s_a_post"),
          s1(false, false).as("__s_b_pre"), s1(false, true).as("__s_b_post"),
          s2(true, false).as("__q_a_pre"), s2(true, true).as("__q_a_post"),
          s2(false, false).as("__q_b_pre"), s2(false, true).as("__q_b_post"))
        def m(g: String) = col(s"__s_$g") / col(s"n_$g").cast("double")
        def va(g: String) = {
          val n = col(s"n_$g").cast("double")
          (n * col(s"__q_$g") - col(s"__s_$g") * col(s"__s_$g")) / (n * (n - lit(1.0d)))
        }
        def vn(g: String) = va(g) / col(s"n_$g").cast("double")
        val did = (m("a_post") - m("a_pre")) - (m("b_post") - m("b_pre"))
        val se2 = vn("a_post") + vn("a_pre") + vn("b_post") + vn("b_pre")
        val allBig = Seq("a_pre", "a_post", "b_pre", "b_post")
          .map(g => col(s"n_$g") > 1).reduce(_ && _)
        agg
          .withColumn("did", did)
          .withColumn("z", when(allBig && se2 > 0, did / sqrt(se2)))
          .select("event_type", "n_a_pre", "n_a_post", "n_b_pre", "n_b_post", "did", "z")
      },
      Some {
        def cse(a: Boolean, p: Boolean) =
          (if (a) "user_id % 2 = 0" else "user_id % 2 <> 0") + " AND " +
            (if (p) s"ts_us >= $cutoffUs" else s"ts_us < $cutoffUs")
        def cnt(g: String, a: Boolean, p: Boolean) =
          s"CAST(count(CASE WHEN ${cse(a, p)} THEN value END) AS BIGINT) AS n_$g"
        def s1(g: String, a: Boolean, p: Boolean) =
          s"${Exact.sqlDsum(s"CASE WHEN ${cse(a, p)} THEN value END")} AS s_$g"
        def s2(g: String, a: Boolean, p: Boolean) =
          s"${Exact.sqlDsumTrunc4(s"CASE WHEN ${cse(a, p)} THEN value * value END")} AS q_$g"
        def m(g: String) = s"(s_$g / CAST(n_$g AS DOUBLE))"
        def vn(g: String) = {
          val n = s"CAST(n_$g AS DOUBLE)"
          s"((($n * q_$g - s_$g * s_$g) / ($n * ($n - 1.0))) / $n)"
        }
        val did = s"((${m("a_post")} - ${m("a_pre")}) - (${m("b_post")} - ${m("b_pre")}))"
        val se2 = s"(${vn("a_post")} + ${vn("a_pre")} + ${vn("b_post")} + ${vn("b_pre")})"
        val groups = Seq(("a_pre", true, false), ("a_post", true, true),
          ("b_pre", false, false), ("b_post", false, true))
        val aggCols = (groups.map { case (g, a, p) => cnt(g, a, p) } ++
          groups.map { case (g, a, p) => s1(g, a, p) } ++
          groups.map { case (g, a, p) => s2(g, a, p) }).mkString(",\n  ")
        val allBig = groups.map { case (g, _, _) => s"n_$g > 1" }.mkString(" AND ")
        s"""WITH ev AS ($evSql),
            g AS (SELECT event_type, $aggCols
                  FROM ev WHERE value IS NOT NULL GROUP BY 1)
            SELECT event_type, n_a_pre, n_a_post, n_b_pre, n_b_post,
              $did AS did,
              CASE WHEN $allBig AND $se2 > 0 THEN $did / sqrt($se2) END AS z
            FROM g"""
      }),

    QDef(
      "m20_cuped",
      // variance-reduced experimentation: CUPED over the cutoff split —
      // covariate x = each user's PRE-period mean value, metric y = the
      // POST-period mean, arms by user parity; θ = cov/var pooled, and the
      // report carries both the plain Welch z and the adjusted z so the
      // variance reduction is the visible delta (Stats.cuped scaladoc:
      // derived-double moments all through tie-free trunc-9 sums)
      (s, d) => {
        val ev = events(s, d).select("event_type", "user_id", "ts_us", "value")
        def side(pred: org.apache.spark.sql.Column, out: String) =
          ev.filter(pred && col("value").isNotNull)
            .groupBy("event_type", "user_id")
            .agg(Exact.dmean(col("value")).as(out))
        val units = side(col("ts_us") < cutoffUs, "x")
          .join(side(col("ts_us") >= cutoffUs, "y"), Seq("event_type", "user_id"))
        Stats.cuped(units, Seq("event_type"), "x", "y",
          pmod(col("user_id"), lit(2L)) === 0)
      },
      Some {
        val t9 = (x: String) => Exact.sqlDsumTrunc9(x)
        def welch(na: String, nb: String, sa: String, sb: String, s2a: String, s2b: String) = {
          val nad = s"CAST($na AS DOUBLE)"; val nbd = s"CAST($nb AS DOUBLE)"
          val ma = s"($sa / $nad)"; val mb = s"($sb / $nbd)"
          val va = s"(($nad * $s2a - $sa * $sa) / ($nad * ($nad - 1.0)))"
          val vb = s"(($nbd * $s2b - $sb * $sb) / ($nbd * ($nbd - 1.0)))"
          val se2 = s"($va / $nad + $vb / $nbd)"
          s"CASE WHEN $na > 1 AND $nb > 1 AND $se2 > 0 THEN ($ma - $mb) / sqrt($se2) END"
        }
        val nud = "CAST(n_units AS DOUBLE)"
        s"""WITH ev AS ($evSql),
            px AS (SELECT event_type, user_id, ${Exact.sqlDmean("value")} AS x
                   FROM ev WHERE ts_us < $cutoffUs AND value IS NOT NULL GROUP BY 1, 2),
            py AS (SELECT event_type, user_id, ${Exact.sqlDmean("value")} AS y
                   FROM ev WHERE ts_us >= $cutoffUs AND value IS NOT NULL GROUP BY 1, 2),
            u AS (SELECT px.event_type, px.user_id, px.x, py.y,
                    (px.user_id % 2 = 0) AS arm
                  FROM px JOIN py ON py.event_type = px.event_type
                    AND py.user_id = px.user_id),
            a AS (SELECT event_type,
                    CAST(count(*) AS BIGINT) AS n_units,
                    CAST(count(CASE WHEN arm THEN y END) AS BIGINT) AS n_a,
                    CAST(count(CASE WHEN NOT arm THEN y END) AS BIGINT) AS n_b,
                    ${t9("x")} AS sx, ${t9("y")} AS sy,
                    ${t9("x * y")} AS sxy, ${t9("x * x")} AS sxx,
                    ${t9("CASE WHEN arm THEN y END")} AS sya,
                    ${t9("CASE WHEN NOT arm THEN y END")} AS syb,
                    ${t9("CASE WHEN arm THEN y * y END")} AS sy2a,
                    ${t9("CASE WHEN NOT arm THEN y * y END")} AS sy2b
                  FROM u GROUP BY 1),
            t AS (SELECT event_type, n_a, n_b,
                    CASE WHEN $nud * sxx - sx * sx > 0
                      THEN ($nud * sxy - sx * sy) / ($nud * sxx - sx * sx) END AS theta,
                    sx / $nud AS xbar,
                    ${welch("n_a", "n_b", "sya", "syb", "sy2a", "sy2b")} AS z_raw
                  FROM a),
            adj AS (SELECT u.event_type, u.arm,
                      u.y - t.theta * (u.x - t.xbar) AS yadj
                    FROM u JOIN t USING (event_type)),
            b AS (SELECT event_type,
                    ${t9("CASE WHEN arm THEN yadj END")} AS saa,
                    ${t9("CASE WHEN NOT arm THEN yadj END")} AS sab,
                    ${t9("CASE WHEN arm THEN yadj * yadj END")} AS s2a,
                    ${t9("CASE WHEN NOT arm THEN yadj * yadj END")} AS s2b
                  FROM adj GROUP BY 1)
            SELECT t.event_type, t.n_a, t.n_b, t.theta, t.z_raw,
              ${welch("t.n_a", "t.n_b", "b.saa", "b.sab", "b.s2a", "b.s2b")} AS z_cuped
            FROM t JOIN b USING (event_type)"""
      }),

    QDef(
      "ivm_ohlc_merge",
      // incremental candlestick maintenance: per-(event_type, day) OHLC
      // state from the historical side and the new batch, merged and
      // closed — w22_ohlc as a mergeable monoid (Incremental.ohlcPartials
      // scaladoc), bit-identical to the from-scratch candlestick because
      // open/close ride total-ordered (ts, id, value) structs and every
      // output is a raw row value. The oracle IS the direct w22 form
      (s, d) => {
        val ev = events(s, d)
          .select("event_type", "ts_us", "event_id", "value")
          .withColumn("bucket_us", Windows.tumbleMs(col("ts_us"), usPerDay))
        val keys = Seq("event_type", "bucket_us")
        val merged = Incremental.ohlcMerge(
          Incremental.ohlcPartials(
            ev.filter(col("ts_us") < cutoffUs), keys, "ts_us", "event_id", "value"),
          Incremental.ohlcPartials(
            ev.filter(col("ts_us") >= cutoffUs), keys, "ts_us", "event_id", "value"),
          keys)
        Incremental.ohlcFinalize(merged)
          .select("event_type", "bucket_us", "n", "open", "high", "low", "close")
      },
      Some(ohlcSql)),

    QDef(
      "w23_transitions",
      // first-order Markov transition matrix over per-user event streams:
      // lag(event_type) in (ts, event_id) order, transition counts, and
      // row-normalized probabilities — the behavioral model behind
      // next-action prediction and funnel-drop diagnosis (funnel_steps
      // checks ONE prescribed path; this measures all of them). Counts are
      // integers; p is one BIGINT/BIGINT double division per output row.
      // One user_id window shuffle + a (prev, next)-bounded agg — the
      // output is |event_type|², independent of the event count
      (s, d) => {
        val ev = events(s, d).select("user_id", "ts_us", "event_id", "event_type")
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        val tr = ev.withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
        tr.groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            col("n").cast("double") /
              sum(col("n")).over(Window.partitionBy("prev_type")).cast("double"))
      },
      Some(s"""WITH ev AS ($evSql),
               t AS (SELECT event_type, lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id) AS prev_type FROM ev),
               c AS (SELECT prev_type, event_type AS next_type,
                       CAST(count(*) AS BIGINT) AS n
                     FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
               SELECT prev_type, next_type, n,
                 CAST(n AS DOUBLE)
                   / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
               FROM c""")),

    QDef(
      "w27_rfm",
      // RFM customer segmentation: per user, Recency (days from the
      // fixed post-window anchor to the last event), Frequency (30-min
      // gap-session count) and Monetary (exact-decimal value sum), each
      // scored into quintiles by comparison against the corpus's exact
      // 20/40/60/80% quantile THRESHOLDS — not a global ntile, which
      // would rank every user through one window task; the thresholds
      // come from the two-phase exactQuantiles over the user-grain frame
      // and broadcast back, so scoring is a per-row comparison chain.
      // Every axis is SUB-LINEAR-DISTINCT by construction (exactQuantiles'
      // distinct-cardinality contract): recency/frequency are small
      // integers (day counts, session counts), and MONETARY — a per-user
      // decimal sum that would otherwise be ~all-distinct at billions of
      // users, the probed degraded regime — is quantized to CENTS at the
      // aggregate (floor(sum·100)/100, the binaryAuc.scoreScale move:
      // floor is engine-exact on identical doubles), so its threshold
      // window sees at most range/0.01 distinct values; cent-grain money
      // and cent-grain quintile edges are the product semantics anyway.
      // 5 = best on every axis (recent/frequent/big); rfm_code packs the
      // three digits
      (s, d) => {
        val anchorUs = 1706745600000000L // 2024-02-01T00:00Z, past the data window
        val sess = Segments.gapSessions(
          events(s, d), Seq("user_id"), "ts_us", 30L * 60L * 1000000L,
          order = Seq(col("ts_us"), col("event_id")))
        val users = sess.groupBy("user_id")
          .agg(
            max("ts_us").as("last_ts"),
            countDistinct("session_idx").as("n_sessions"),
            (floor(Exact.dsum(col("value")) * lit(100.0d)).cast("double")
              / lit(100.0d)).as("monetary"))
          .withColumn("recency_days", expr(s"($anchorUs - last_ts) DIV $usPerDay"))
          // quantile/scoring inputs pre-cast to double so the interpolation
          // and comparisons run in ONE type in both engines
          .withColumn("__rd", col("recency_days").cast("double"))
          .withColumn("__fd", col("n_sessions").cast("double"))
          .withColumn("__g", lit(0))
        val qs = Seq(0.2, 0.4, 0.6, 0.8)
        def thresholds(metric: String, pfx: String) = {
          val piv = qs.map(q =>
            max(when(col("q") === q, col("q_value"))).as(s"$pfx${(q * 10).toInt}"))
          Stats.exactQuantiles(users, Seq("__g"), metric, qs)
            .groupBy("__g").agg(piv.head, piv.tail: _*)
        }
        val th = thresholds("__rd", "r")
          .join(thresholds("__fd", "f"), "__g")
          .join(thresholds("monetary", "m"), "__g")
        def scoreUp(m: org.apache.spark.sql.Column, pfx: String) = qs.map(q =>
          when(m > col(s"$pfx${(q * 10).toInt}"), 1L).otherwise(0L))
          .foldLeft(lit(1L))(_ + _)
        def scoreDown(m: org.apache.spark.sql.Column, pfx: String) = qs.map(q =>
          when(m < col(s"$pfx${(q * 10).toInt}"), 1L).otherwise(0L))
          .foldLeft(lit(1L))(_ + _)
        users.join(broadcast(th), "__g")
          .withColumn("r_score", scoreDown(col("recency_days").cast("double"), "r"))
          .withColumn("f_score", scoreUp(col("n_sessions").cast("double"), "f"))
          .withColumn("m_score", scoreUp(col("monetary"), "m"))
          .withColumn("rfm_code",
            col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
          .select("user_id", "recency_days", "n_sessions", "monetary",
            "r_score", "f_score", "m_score", "rfm_code")
      },
      Some {
        val anchorUs = 1706745600000000L
        def qcte(metric: String, pfx: String) =
          s"""${Stats.exactQuantilesSql("u2", "g", metric, Seq(0.2, 0.4, 0.6, 0.8), s"_$pfx")},
              t_$pfx AS (SELECT
                max(CASE WHEN q = 0.2 THEN q_value END) AS ${pfx}2,
                max(CASE WHEN q = 0.4 THEN q_value END) AS ${pfx}4,
                max(CASE WHEN q = 0.6 THEN q_value END) AS ${pfx}6,
                max(CASE WHEN q = 0.8 THEN q_value END) AS ${pfx}8
              FROM quant_$pfx)"""
        def up(m: String, pfx: String) =
          s"""(CAST(1 AS BIGINT)
              + (CASE WHEN $m > ${pfx}2 THEN 1 ELSE 0 END)
              + (CASE WHEN $m > ${pfx}4 THEN 1 ELSE 0 END)
              + (CASE WHEN $m > ${pfx}6 THEN 1 ELSE 0 END)
              + (CASE WHEN $m > ${pfx}8 THEN 1 ELSE 0 END))"""
        def down(m: String, pfx: String) =
          s"""(CAST(1 AS BIGINT)
              + (CASE WHEN $m < ${pfx}2 THEN 1 ELSE 0 END)
              + (CASE WHEN $m < ${pfx}4 THEN 1 ELSE 0 END)
              + (CASE WHEN $m < ${pfx}6 THEN 1 ELSE 0 END)
              + (CASE WHEN $m < ${pfx}8 THEN 1 ELSE 0 END))"""
        s"""WITH ev AS ($evSql),
            ${Segments.gapSessionsSql("ev", Seq("user_id"), 30L * 60L * 1000000L, Seq("value"))},
            u AS (SELECT user_id, max(ts_us) AS last_ts,
                    CAST(count(DISTINCT session_idx) AS BIGINT) AS n_sessions,
                    floor(${Exact.sqlDsum("value")} * CAST(100 AS DOUBLE))
                      / CAST(100 AS DOUBLE) AS monetary
                  FROM sx GROUP BY 1),
            u2 AS (SELECT user_id, ($anchorUs - last_ts) // $usPerDay AS recency_days,
                     n_sessions, monetary, 0 AS g FROM u),
            ${qcte("CAST(recency_days AS DOUBLE)", "r")},
            ${qcte("CAST(n_sessions AS DOUBLE)", "f")},
            ${qcte("monetary", "m")}
            SELECT u2.user_id, u2.recency_days, u2.n_sessions, u2.monetary,
              ${down("CAST(u2.recency_days AS DOUBLE)", "r")} AS r_score,
              ${up("CAST(u2.n_sessions AS DOUBLE)", "f")} AS f_score,
              ${up("u2.monetary", "m")} AS m_score,
              ${down("CAST(u2.recency_days AS DOUBLE)", "r")} * 100
                + ${up("CAST(u2.n_sessions AS DOUBLE)", "f")} * 10
                + ${up("u2.monetary", "m")} AS rfm_code
            FROM u2, t_r, t_f, t_m"""
      }),

    QDef(
      "w26_top_paths",
      // sequential pattern mining, the product-analytics "common paths"
      // readout (Sankey feed): every consecutive 3-step event-type path
      // per user stream, counted globally, top-10 with a path tiebreak —
      // w23's transition matrix generalized one order up, where loops and
      // funnels become visible as strings. Two lags share one user window;
      // the path table is bounded at |event_type|³; top-k plans as
      // TakeOrderedAndProject (no global sort)
      (s, d) => {
        val ev = events(s, d).select("user_id", "ts_us", "event_id", "event_type")
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        ev.withColumn("t1", lag("event_type", 2).over(w))
          .withColumn("t2", lag("event_type", 1).over(w))
          .filter(col("t1").isNotNull)
          .select(concat_ws(">", col("t1"), col("t2"), col("event_type")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path")).limit(10)
      },
      Some(s"""WITH ev AS ($evSql),
               t AS (SELECT user_id, event_type,
                       lag(event_type, 2) OVER w AS t1,
                       lag(event_type, 1) OVER w AS t2
                     FROM ev
                     WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
               p AS (SELECT t1 || '>' || t2 || '>' || event_type AS path
                     FROM t WHERE t1 IS NOT NULL),
               c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1)
               SELECT path, n FROM c ORDER BY n DESC, path LIMIT 10""")),

    QDef(
      "w18_cohort_retention",
      // cohort retention: users grouped by first-activity day; cell
      // (cohort_day, offset_days) counts distinct users still active that
      // many days later — the engagement decay table. Both the first-seen
      // aggregation and the events-to-cohort equi-join shuffle on user_id
      // (one exchange, reused), then the cell rollup is bounded by
      // days x offsets, not by events
      (s, d) => {
        val e2 = events(s, d)
          .select(col("user_id"), expr(s"ts_us DIV $usPerDay").as("day"))
        val cohort = e2.groupBy("user_id").agg(min("day").as("cohort_day"))
        e2.join(cohort, "user_id")
          .groupBy(
            col("cohort_day"),
            (col("day") - col("cohort_day")).as("offset_days"))
          .agg(countDistinct("user_id").as("n_users"))
      },
      Some(s"""WITH ev AS ($evSql),
               e2 AS (SELECT user_id, ts_us // $usPerDay AS day FROM ev),
               c AS (SELECT user_id, min(day) AS cohort_day FROM e2 GROUP BY 1)
               SELECT cohort_day, day - cohort_day AS offset_days,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
               FROM e2 JOIN c USING (user_id) GROUP BY 1, 2""")),

    QDef(
      "dq_skew_audit",
      // partition-key skew audit — the measurement that decides whether a
      // feed's join/groupBy key needs salting or AQE skew handling BEFORE
      // the 10-hour stage happens: per event_type, the per-user row-count
      // distribution summarized as key count, total rows, hottest key
      // (absolute + ppm share) and the Gini coefficient (0 = even, → 1 =
      // one key owns the stream). Skew.keySkewAudit: one combined groupBy
      // to the (type, user) count table, rank via chunkedScan keyed on
      // the count value, all-BIGINT until the single closing division
      (s, d) => Skew.keySkewAudit(
        events(s, d).select("event_type", "user_id"), "event_type", "user_id"),
      Some(s"""WITH ev AS ($evSql),
               c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
                     FROM ev GROUP BY 1, 2),
               r AS (SELECT event_type, c,
                       CAST(row_number() OVER (PARTITION BY event_type
                         ORDER BY c, user_id) AS BIGINT) AS i
                     FROM c),
               g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys,
                       CAST(sum(c) AS BIGINT) AS n_rows,
                       CAST(max(c) AS BIGINT) AS max_key_rows,
                       CAST(sum(i * c) AS BIGINT) AS siw
                     FROM r GROUP BY 1)
               SELECT event_type, n_keys, n_rows, max_key_rows,
                 (1000000 * max_key_rows) // n_rows AS top_share_ppm,
                 CAST(2 * siw - (n_keys + 1) * n_rows AS DOUBLE)
                   / CAST(n_keys * n_rows AS DOUBLE) AS gini
               FROM g"""))
  )
}
