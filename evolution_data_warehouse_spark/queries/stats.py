"""Statistics, time series, feature engineering and data-quality
checks as registry queries.

Covers the ``stats_*`` (hypothesis tests, effect sizes, bootstrap and
permutation intervals, power analysis), ``ts_*`` (autocorrelation,
seasonality, smoothing, anomaly and change detection, forecasting),
``fe_*`` (encodings, hashing, binning), ``drift_*``/``surv_*`` and
``quality_*`` (key integrity, privacy models, drift and reconciliation
gates) families.

Determinism: sums go through decimal casts (``dsum``), interpolated or
irrational outputs through fixed-point quantization (``fpq``), and no
oracle-checked query uses native ``round()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    t,
)


# ---------------------------------------------------------------------------
# Finite-horizon EWMA (exact rational weights)
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH lagged AS (
    SELECT user_id, event_id, ts, value,
           lag(value, 1) OVER w AS v1,
           lag(value, 2) OVER w AS v2,
           lag(value, 3) OVER w AS v3,
           row_number() OVER w AS rn
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(CAST(CAST(value AS DECIMAL(28,6)) * 8
                 + CAST(v1 AS DECIMAL(28,6)) * 4
                 + CAST(v2 AS DECIMAL(28,6)) * 2
                 + CAST(v3 AS DECIMAL(28,6)) AS DOUBLE) / 15.0
            AS DOUBLE) AS ewma4
FROM lagged WHERE rn >= 4
"""


@register(
    "ts_ewma_window",
    _EWMA_ORACLE,
    doc="Finite-horizon EWMA (half-life 1 step, 4-tap): weights "
    "8/15, 4/15, 2/15, 1/15 — powers of two over a common denominator, "
    "so the weighted numerator is EXACT in decimal and the single "
    "final double division is engine-identical. The infinite-memory "
    "recursive EWMA is deliberately truncated: a windowed 4-tap runs "
    "as one lag() pass (per-user state = 4 rows) where the recursive "
    "form needs sequential per-key iteration; rows with under 4 "
    "periods of history are excluded rather than renormalized.",
)
def ts_ewma_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
        F.lag("value", 3).over(w).alias("v3"),
        F.row_number().over(w).alias("rn"),
    )
    num = (
        dec(F.col("value")) * 8
        + dec(F.col("v1")) * 4
        + dec(F.col("v2")) * 2
        + dec(F.col("v3"))
    )
    return ev.filter(F.col("rn") >= 4).select(
        "user_id", "event_id",
        (num.cast("double") / F.lit(15.0)).cast("double").alias("ewma4"),
    )


# ---------------------------------------------------------------------------
# Time-series gap detection (SLA / outage audit)
# ---------------------------------------------------------------------------

_GAP_MINUTES = 360  # 6 hours


_GAP_ORACLE = f"""
WITH seq AS (
    SELECT user_id, ts, event_id,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_ts
    FROM events
)
SELECT user_id,
       ts AS gap_start,
       next_ts AS gap_end,
       (epoch_us(next_ts) - epoch_us(ts)) // 60000000 AS gap_minutes
FROM seq
WHERE next_ts IS NOT NULL
  AND epoch_us(next_ts) - epoch_us(ts) > CAST({_GAP_MINUTES} AS BIGINT) * 60000000
"""


@register(
    "ts_gap_detection",
    _GAP_ORACLE,
    doc="Silence/outage detection: per-user gaps longer than 6 hours "
    "between consecutive events, as (start, end, minutes) intervals — "
    "the monitoring primitive for feeds that should never go quiet. "
    "One lead() pass over the user partitioning; gap length in exact "
    "integer epoch-µs arithmetic (floor minutes).",
)
def ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.lead("ts").over(w).alias("next_ts"),
    )
    span_us = F.unix_micros("next_ts") - F.unix_micros("ts")
    return (
        seq.filter(
            F.col("next_ts").isNotNull()
            & (span_us > _GAP_MINUTES * 60_000_000)
        )
        .select(
            "user_id",
            F.col("ts").alias("gap_start"),
            F.col("next_ts").alias("gap_end"),
            F.expr(
                "(unix_micros(next_ts) - unix_micros(ts)) div 60000000"
            ).alias("gap_minutes"),
        )
    )


# ---------------------------------------------------------------------------
# Concurrency sweep-line (max concurrent sessions)
# ---------------------------------------------------------------------------

_SWEEP_ORACLE = """
WITH intervals AS (
    -- CAST(ts AS TIMESTAMP): pin to µs precision so the sweep ordering is
    -- identical whether the driver's DuckDB reads parquet TIMESTAMP(NANOS)
    -- as TIMESTAMP_NS (>=1.1) or truncates like Spark does.
    SELECT event_id, CAST(ts AS TIMESTAMP) AS start_ts,
           -- floor, not CAST: CAST rounds half-even while Spark floors
           CAST(ts AS TIMESTAMP) + CAST(floor(greatest(value, 1.0) * 60) AS BIGINT)
               * INTERVAL 1 SECOND AS end_ts
    FROM events WHERE event_type = 'view'
),
pts AS (
    SELECT start_ts AS at_ts, 1 AS delta, event_id FROM intervals
    UNION ALL
    SELECT end_ts, -1, event_id FROM intervals
),
swept AS (
    SELECT at_ts, delta,
           SUM(delta) OVER (
               ORDER BY at_ts, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS concurrent
    FROM pts
)
SELECT CAST(date_trunc('hour', at_ts) AS TIMESTAMP) AS hour,
       CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY 1
"""


@register(
    "ts_concurrency_sweep",
    _SWEEP_ORACLE,
    doc="Peak concurrency via sweep-line: every interval contributes "
    "+1 at start and −1 at end, a running sum over the merged event "
    "points gives instantaneous concurrency, max per hour gives the "
    "capacity-planning curve. O(n log n) in ONE window pass — the "
    "naive per-timestamp interval-containment join is O(n²) and the "
    "classic scale killer. Ends tie-break BEFORE starts at the same "
    "instant (delta asc) so touching intervals don't double-count; "
    "interval length derived deterministically from the value column.",
)
def ts_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    iv = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            "event_id",
            F.col("ts").alias("start_ts"),
            (
                F.col("ts")
                + F.make_dt_interval(
                    secs=F.floor(F.greatest("value", F.lit(1.0)) * 60).cast(
                        "bigint"
                    )
                )
            ).alias("end_ts"),
        )
    )
    pts = iv.select(
        F.col("start_ts").alias("at_ts"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select(
            F.col("end_ts").alias("at_ts"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    w = W.orderBy("at_ts", "delta", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    swept = pts.select(
        "at_ts", F.sum("delta").over(w).alias("concurrent")
    )
    return swept.groupBy(
        F.date_trunc("hour", "at_ts").alias("hour")
    ).agg(F.max("concurrent").cast("long").alias("peak_concurrent"))


# ---------------------------------------------------------------------------
# Lag-7 autocorrelation of the daily event count series
# ---------------------------------------------------------------------------

_AUTOCORR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
pairs AS (
    SELECT cur.x AS x, prev.x AS y
    FROM daily cur JOIN daily prev ON prev.day = cur.day - 7
),
s AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs
)
SELECT n,
       CAST(floor(
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           * 1e9 + 0.5) / 1e9 AS DOUBLE) AS autocorr_lag7
FROM s
"""


@register(
    "ts_autocorr_daily",
    _AUTOCORR_ORACLE,
    doc="Lag-7 Pearson autocorrelation of the daily event-count series "
    "— the weekly-seasonality detector that decides whether a forecast "
    "needs a 7-day term. All moment sums are exact BIGINTs over "
    "integer counts (calendar join day = day-7, not a positional "
    "lag); the correlation is assembled from those exact operands in "
    "one closed-form expression (IEEE sqrt is correctly rounded, so "
    "both engines produce the same double), then fixed-point "
    "quantized. Day-cardinality data — trivially small forever.",
)
def ts_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
    )
    cur, prev = daily.alias("cur"), daily.alias("prev")
    pairs = cur.join(
        F.broadcast(prev),
        F.col("prev.day") == F.date_sub(F.col("cur.day"), 7),
    ).select(F.col("cur.x").alias("x"), F.col("prev.x").alias("y"))
    s = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return s.select("n", fpq(num / den, 9).alias("autocorr_lag7"))


# ---------------------------------------------------------------------------
# Weekday seasonality profile
# ---------------------------------------------------------------------------

_WEEKDAY_ORACLE = """
WITH d AS (
    SELECT isodow(CAST(ts AS DATE)) AS dw FROM events
),
c AS (SELECT dw, COUNT(*) AS n_events FROM d GROUP BY dw),
tot AS (SELECT SUM(n_events) AS total FROM c)
SELECT dw, n_events,
       CAST(7 * n_events AS DOUBLE) / total AS seasonality_idx
FROM c CROSS JOIN tot
"""


@register(
    "ts_weekday_seasonality",
    _WEEKDAY_ORACLE,
    doc="Weekday seasonality index: events per ISO weekday relative to "
    "a flat week (1.0 = no seasonality) — the companion readout to "
    "ts_autocorr_daily's lag-7 correlation. Integer counts, one final "
    "division; Spark's Sunday=1 dayofweek normalized to ISO Monday=1 "
    "with (dow+5)%7+1. 7-row output forever.",
)
def ts_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "events")
        .select(((F.dayofweek(F.to_date("ts")) + 5) % 7 + 1).alias("dw"))
        .groupBy("dw")
        .agg(F.count("*").alias("n_events"))
    )
    tot = c.agg(F.sum("n_events").alias("total"))
    return c.crossJoin(F.broadcast(tot)).select(
        "dw",
        "n_events",
        ((F.lit(7) * F.col("n_events")).cast("double") / F.col("total")).alias(
            "seasonality_idx"
        ),
    )


# ---------------------------------------------------------------------------
# Monthly revenue anomaly screen (z-scores from exact moments)
# ---------------------------------------------------------------------------

_REV_ANOM_ORACLE = """
WITH m AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY date_trunc('month', o_orderdate)
),
s AS (
    SELECT COUNT(*) AS n, SUM(cents) AS s1,
           SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
    FROM m
)
SELECT month, cents,
       CAST(floor(
           (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
           / sqrt(CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
           * 1e9 + 0.5) / 1e9 AS DOUBLE) AS zscore
FROM m CROSS JOIN s
WHERE abs((CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
          / sqrt(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) > 1.5
"""


@register(
    "ts_revenue_anomaly_months",
    _REV_ANOM_ORACLE,
    doc="Monthly revenue anomaly screen: months whose exact-cents "
    "revenue sits more than 1.5 population-sigma from the mean. "
    "Moments are exact (BIGINT linear sum, DECIMAL(38,0) square sum — "
    "cents² overflows int64 at warehouse scale), the z-score is one "
    "closed-form expression over identical operands on both engines, "
    "fixed-point quantized; the 1-row moment aggregate broadcasts "
    "into the month-cardinality scan. The pattern generalizes to any "
    "per-key anomaly screen where approximate sigma is not "
    "acceptable evidence.",
)
def ts_revenue_anomaly_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    s = m.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "s2"
        ),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = (F.col("cents").cast("double") - mean) / F.sqrt(var)
    return (
        m.crossJoin(F.broadcast(s))
        .filter(F.abs(z) > 1.5)
        .select(
            "month",
            "cents",
            (F.floor(z * 1e9 + F.lit(0.5)) / 1e9)
            .cast("double")
            .alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Surrogate-key gap detection (sequence integrity audit)
# ---------------------------------------------------------------------------

_KEYGAP_ORACLE = """
WITH keys AS (
    SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 97 <> 0
),
r AS (
    SELECT k, k - ROW_NUMBER() OVER (ORDER BY k) AS grp FROM keys
),
islands AS (
    SELECT MIN(k) AS island_start, MAX(k) AS island_end, COUNT(*) AS n_keys
    FROM r GROUP BY grp
)
SELECT island_end + 1 AS gap_start,
       lead_start - 1 AS gap_end,
       lead_start - island_end - 1 AS n_missing
FROM (
    SELECT island_start, island_end, n_keys,
           LEAD(island_start) OVER (ORDER BY island_start) AS lead_start
    FROM islands
)
WHERE lead_start IS NOT NULL
ORDER BY gap_start
LIMIT 25
"""


@register(
    "quality_key_gaps",
    _KEYGAP_ORACLE,
    doc="Surrogate-key gap audit: contiguous-run islands via the "
    "classic k - row_number() grouping, then each island's successor "
    "start bounds the missing range — the sequence-integrity check "
    "that catches dropped loads and broken id generators. Run on a "
    "deterministic fixture (keys % 97 removed) so gaps exist to find; "
    "first 25 gaps, ordered. The ranking window is a single global "
    "sort of key-cardinality data — at 100 TB run it per id-range "
    "partition and stitch the boundaries (the plan shape per "
    "partition is identical).",
)
def quality_key_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 != 0)
        .select(F.col("o_orderkey").alias("k"))
    )
    w = Window.orderBy("k")
    r = keys.withColumn("grp", F.col("k") - F.row_number().over(w))
    islands = r.groupBy("grp").agg(
        F.min("k").alias("island_start"),
        F.max("k").alias("island_end"),
        F.count("*").alias("n_keys"),
    )
    w2 = Window.orderBy("island_start")
    gaps = islands.withColumn(
        "lead_start", F.lead("island_start").over(w2)
    ).filter(F.col("lead_start").isNotNull())
    return (
        gaps.select(
            (F.col("island_end") + 1).alias("gap_start"),
            (F.col("lead_start") - 1).alias("gap_end"),
            (F.col("lead_start") - F.col("island_end") - 1).alias("n_missing"),
        )
        .orderBy("gap_start")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Financial reconciliation: order header vs line-item detail
# ---------------------------------------------------------------------------

_RECON_ORACLE = """
WITH li AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 100 + 0.5) AS BIGINT)) AS BIGINT) AS detail_cents
    FROM lineitem GROUP BY l_orderkey
),
j AS (
    SELECT o.o_orderkey,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents,
           li.detail_cents
    FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT o_orderkey, header_cents, detail_cents,
       CAST(abs(header_cents - detail_cents) AS BIGINT) AS diff_cents
FROM j
ORDER BY diff_cents DESC, o_orderkey
LIMIT 20
"""


@register(
    "quality_financial_reconcile",
    _RECON_ORACLE,
    doc="Header-vs-detail financial reconciliation: each order's "
    "o_totalprice against the decimal-exact sum of its line items "
    "(extended x (1-disc) x (1+tax)), reported as the top-20 largest "
    "absolute discrepancies in exact integer cents (per-row "
    "fixed-point BEFORE the sum, so the aggregation is order-"
    "independent) — the audit query every finance warehouse runs "
    "after a load. One shuffle on the join key, tie-broken top-N via "
    "TakeOrderedAndProject.",
)
def quality_financial_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("detail_cents")
        )
    )
    j = t(spark, sf_dir, "orders").join(
        li, F.col("l_orderkey") == F.col("o_orderkey")
    )
    return (
        j.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("header_cents"),
            "detail_cents",
        )
        .withColumn(
            "diff_cents", F.abs(F.col("header_cents") - F.col("detail_cents"))
        )
        .orderBy(F.col("diff_cents").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# CUSUM drift: maximum cumulative excursion of daily revenue
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
    SELECT o_orderdate AS day,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_orderdate
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total, COUNT(*) AS d FROM daily),
c AS (
    SELECT day,
           CAST(SUM(CAST(cents AS BIGINT) * d - total) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cusum
    FROM daily CROSS JOIN tot
)
SELECT day, cusum
FROM c ORDER BY abs(cusum) DESC, day LIMIT 1
"""


@register(
    "ts_cusum_drift",
    _CUSUM_ORACLE,
    doc="CUSUM drift detection: the day of maximum cumulative "
    "deviation from the period-mean revenue — the classic "
    "change-point locator (the excursion peak marks where the level "
    "shifted). Computed scale-free in EXACT integers by "
    "cross-multiplying the mean away (sum of cents·D - total per "
    "day), so the running sum is a BIGINT with no float anywhere; "
    "tie-broken top-1. Day-cardinality window, 1-row totals "
    "broadcast.",
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    tot = daily.agg(
        F.sum("cents").alias("total"), F.count("*").alias("d")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = daily.crossJoin(F.broadcast(tot)).withColumn(
        "cusum",
        F.sum(F.col("cents") * F.col("d") - F.col("total")).over(w),
    )
    return (
        c.select("day", "cusum")
        .orderBy(F.abs(F.col("cusum")).desc(), "day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test (A/B experiment readout)
# ---------------------------------------------------------------------------

_ABTEST_CONV_MIN = 95  # "converted" = made a purchase of at least this value


                       # (a bare any-purchase definition saturates: every
                       # synthetic user buys eventually, making p=1 and the
                       # pooled variance 0)

_ABTEST_ORACLE = f"""
WITH assign AS (
    SELECT user_id,
           user_id % 2 AS variant,
           MAX(CASE WHEN event_type = 'purchase'
                     AND value >= {_ABTEST_CONV_MIN} THEN 1 ELSE 0 END)
               AS converted
    FROM events GROUP BY user_id
),
arms AS (
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(converted) AS BIGINT) AS x
    FROM assign GROUP BY variant
),
wide AS (
    SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
        MAX(CASE WHEN variant = 0 THEN x END) AS x_a,
        MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
        MAX(CASE WHEN variant = 1 THEN x END) AS x_b
    FROM arms
)
SELECT n_a, x_a, n_b, x_b,
       {fpq_sql('CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b', 9)}
           AS lift,
       CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL
       ELSE {fpq_sql(
        '(CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)'
        ' / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))'
        '        * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))'
        '        * (1.0 / n_a + 1.0 / n_b))', 9)}
       END AS zscore
FROM wide
"""


@register(
    "stats_ab_test",
    _ABTEST_ORACLE,
    doc="Two-proportion z-test on a deterministic 50/50 user split "
    "(user_id parity = the variant assignment a real experiment would "
    "hash): per-arm users and converters are exact integer aggregates, "
    "the pooled-variance z statistic is ONE closed-form double "
    "expression over those four integers (IEEE ops on identical "
    "operands are engine-identical; sqrt is correctly rounded), "
    "fixed-point quantized for the hash. The inferential-statistics "
    "readout every experimentation warehouse serves; user-cardinality "
    "aggregate then a 4-integer reduction — nothing scales with event "
    "volume past the first map-side combine.",
)
def stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= _ABTEST_CONV_MIN),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select((F.col("user_id") % 2).alias("variant"), "converted")
    )
    arms = assign.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").cast("long").alias("x")
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pp * (1 - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    x_tot = F.col("x_a") + F.col("x_b")
    n_tot = F.col("n_a") + F.col("n_b")
    # guard the degenerate arms (p in {0,1} makes the pooled variance 0);
    # the ANSI session would otherwise raise DIVIDE_BY_ZERO
    zscore = F.when(
        (x_tot == 0) | (x_tot == n_tot), F.lit(None).cast("double")
    ).otherwise(fpq((pa - pb) / se, 9))
    return wide.select(
        "n_a", "x_a", "n_b", "x_b",
        fpq(pa - pb, 9).alias("lift"),
        zscore.alias("zscore"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy risk on quasi-identifiers)
# ---------------------------------------------------------------------------

_K_ANON_K = 5


_K_ANON_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
    FROM customer
),
g AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket, COUNT(*) AS k
    FROM q GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT c_nationkey, c_mktsegment, bal_bucket, CAST(k AS BIGINT) AS k
FROM g WHERE k < {_K_ANON_K}
"""


@register(
    "quality_k_anonymity",
    _K_ANON_ORACLE,
    doc="k-anonymity audit over the quasi-identifier tuple (nation, "
    "market segment, account-balance bucket): every equivalence class "
    "smaller than k=5 is a re-identification risk the privacy review "
    "must see before the table ships. One hash aggregate at "
    "quasi-identifier cardinality, map-side combinable; the filter "
    "keeps only the risky classes, so output is small even when the "
    "input is not. The audit the PII scan suite (pii_scan_report, "
    "text_redact) does not cover: PII you created by grouping, not "
    "PII in the values.",
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count("*").alias("k")
    )
    return g.filter(F.col("k") < _K_ANON_K)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (user retention with censoring)
# ---------------------------------------------------------------------------

_KM_ORACLE = f"""
WITH spans AS (
    SELECT user_id,
           MIN(CAST(ts AS DATE)) AS first_day,
           MAX(CAST(ts AS DATE)) AS last_day
    FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(last_day) AS obs_end FROM spans),
lives AS (
    SELECT user_id,
           CAST(last_day - first_day AS BIGINT) AS t,
           CASE WHEN last_day < obs_end - 7 THEN 1 ELSE 0 END AS died
    FROM spans CROSS JOIN horizon
),
by_t AS (
    SELECT t,
           CAST(SUM(died) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS ending
    FROM lives GROUP BY t
),
risk AS (
    SELECT t, d,
           CAST(SUM(ending) OVER (
               ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW
           ) AS BIGINT) AS n_risk
    FROM by_t
),
terms AS (
    SELECT t, d, n_risk,
           CASE WHEN d > 0 AND d < n_risk THEN
               CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                          * 1e12 + 0.5) AS BIGINT)
           ELSE 0 END AS logterm_fp,
           CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS extinct
    FROM risk
),
curve AS (
    SELECT t, d, n_risk,
           CAST(SUM(logterm_fp) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumlog_fp,
           CAST(SUM(extinct) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_extinct
    FROM terms
)
SELECT t, d, n_risk,
       CASE WHEN n_extinct > 0 THEN CAST(0.0 AS DOUBLE)
       ELSE {fpq_sql('exp(CAST(cumlog_fp AS DOUBLE) / 1e12)', 9)}
       END AS survival
FROM curve WHERE d > 0
"""


@register(
    "surv_kaplan_meier",
    _KM_ORACLE,
    doc="Kaplan-Meier survival estimate of user lifetime (days between "
    "first and last event), right-censored at the observation horizon "
    "minus 7 days — the retention curve with the statistics done "
    "properly (censored users leave the risk set without counting as "
    "churn). The product-limit estimator is computed in log space with "
    "each ln(1 - d/n) term fixed-point quantized BEFORE the running "
    "sum (the agg_entropy rule), so the float product is order-"
    "independent; the risk set is a reverse cumulative count, one "
    "window over day-cardinality data. If the risk set ever dies out "
    "entirely the curve pins to exactly 0 from that point on.",
)
def surv_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(F.to_date("ts")).alias("last_day"),
        )
    )
    horizon = spans.agg(F.max("last_day").alias("obs_end"))
    lives = spans.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").cast("long").alias("t"),
        F.when(
            F.col("last_day") < F.date_sub(F.col("obs_end"), 7), 1
        ).otherwise(0).alias("died"),
    )
    by_t = lives.groupBy("t").agg(
        F.sum("died").cast("long").alias("d"),
        F.count("*").alias("ending"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_t.select(
        "t", "d", F.sum("ending").over(w_desc).cast("long").alias("n_risk")
    )
    logterm = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk")
            )
            * F.lit(1e12)
            + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    extinct = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    terms = risk.select(
        "t", "d", "n_risk",
        logterm.alias("logterm_fp"), extinct.alias("extinct"),
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = terms.select(
        "t", "d", "n_risk",
        F.sum("logterm_fp").over(w_asc).cast("long").alias("cumlog_fp"),
        F.sum("extinct").over(w_asc).cast("long").alias("n_extinct"),
    )
    survival = F.when(
        F.col("n_extinct") > 0, F.lit(0.0).cast("double")
    ).otherwise(fpq(F.exp(F.col("cumlog_fp").cast("double") / F.lit(1e12)), 9))
    return curve.filter(F.col("d") > 0).select(
        "t", "d", "n_risk", survival.alias("survival")
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U test (rank-based two-sample inference)
# ---------------------------------------------------------------------------
#
# Compares the `value` distribution of click vs view events without any
# normality assumption. Values quantize to exact integer cents, ranks
# come from ONE window pass over the distinct-cents aggregate (average
# ranks for ties, carried in doubled integer space so nothing is ever
# fractional until the final closed-form), and the z statistic uses the
# tie-corrected variance — every input to the double math is an exact
# BIGINT both engines agree on. Rank-sum products accumulate in
# DECIMAL(38,0) (exact; int64 would overflow near 1e19 at extreme
# scale, and ANSI Spark would error loudly rather than wrap).

_MWU_ORACLE = f"""
WITH g AS (
    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
    FROM events WHERE event_type IN ('click', 'view')
),
byv AS (
    SELECT cents, CAST(SUM(is1) AS BIGINT) AS c1, COUNT(*) AS ct
    FROM g GROUP BY cents
),
w AS (
    SELECT cents, c1, ct,
           COALESCE(SUM(ct) OVER (
               ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING
           ), 0) AS cb
    FROM byv
),
a AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1,
           CAST(SUM(ct - c1) AS BIGINT) AS n2,
           CAST(SUM(CAST(c1 AS DECIMAL(38,0)) * (2 * cb + ct + 1))
                AS BIGINT) AS r1_x2,
           CAST(SUM(CAST(ct AS DECIMAL(38,0)) * ct * ct - ct)
                AS BIGINT) AS tie_term
    FROM w
)
SELECT n1, n2,
       CAST((r1_x2 - n1 * (n1 + 1)) AS DOUBLE) / 2 AS u1,
       {fpq_sql(
        '(CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2'
        ' - CAST(n1 AS DOUBLE) * n2 / 2)'
        ' / sqrt(CAST(n1 AS DOUBLE) * n2 / 12'
        '        * (n1 + n2 + 1'
        '           - CAST(tie_term AS DOUBLE)'
        '             / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))', 9)}
           AS zscore
FROM a
"""


@register(
    "stats_mannwhitney_u",
    _MWU_ORACLE,
    doc="Mann-Whitney U test of click vs view purchase values: the "
    "nonparametric location test (no normality assumed) every "
    "experimentation readout needs when the metric is skewed. Ranks "
    "with average-tie handling are computed over the DISTINCT-cents "
    "aggregate (one window at distinct-value cardinality, not row "
    "cardinality — at 100 TB the row count never enters a window), "
    "doubled so tie-averages stay integers; U and the tie-corrected "
    "z are closed-form doubles over four exact BIGINTs.",
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "is1"
            ),
        )
    )
    byv = g.groupBy("cents").agg(
        F.sum("is1").cast("long").alias("c1"), F.count("*").alias("ct")
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w = byv.select(
        "cents", "c1", "ct",
        F.coalesce(F.sum("ct").over(w_cum), F.lit(0)).alias("cb"),
    )
    a = w.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("ct") - F.col("c1")).cast("long").alias("n2"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("cb") + F.col("ct") + 1)
        )
        .cast("long")
        .alias("r1_x2"),
        F.sum(
            F.col("ct").cast("decimal(38,0)") * F.col("ct") * F.col("ct")
            - F.col("ct")
        )
        .cast("long")
        .alias("tie_term"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    n = F.col("n1") + F.col("n2")
    u1 = (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).cast(
        "double"
    ) / 2
    sigma = F.sqrt(
        n1d * n2d / 12
        * (
            (n + 1).cast("double")
            - F.col("tie_term").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    return a.select(
        "n1", "n2",
        u1.alias("u1"),
        fpq((u1 - n1d * n2d / 2) / sigma, 9).alias("zscore"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance (distribution drift test)
# ---------------------------------------------------------------------------

_KS_ORACLE = f"""
WITH g AS (
    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
    FROM events WHERE event_type IN ('click', 'view')
),
byv AS (
    SELECT cents, CAST(SUM(is1) AS BIGINT) AS c1, COUNT(*) AS ct
    FROM g GROUP BY cents
),
tot AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1,
           CAST(SUM(ct - c1) AS BIGINT) AS n2
    FROM byv
),
cum AS (
    SELECT CAST(SUM(c1) OVER (
               ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS f1,
           CAST(SUM(ct - c1) OVER (
               ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS f2
    FROM byv
)
SELECT n1, n2,
       CAST(MAX(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num,
       {fpq_sql(
        'CAST(MAX(abs(f1 * n2 - f2 * n1)) AS DOUBLE)'
        ' / (CAST(n1 AS DOUBLE) * n2)', 9)} AS d_stat
FROM cum CROSS JOIN tot
GROUP BY n1, n2
"""


@register(
    "stats_ks_two_sample",
    _KS_ORACLE,
    doc="Two-sample Kolmogorov-Smirnov statistic between click and "
    "view value distributions: D = max |F1 - F2| over the empirical "
    "CDFs. The maximized quantity is the EXACT integer "
    "|F1*n2 - F2*n1| (cross-multiplied to avoid comparing derived "
    "doubles), so the argmax is engine-identical; only the final "
    "normalization is floating point. CDFs come from one cumulative "
    "window over the distinct-cents aggregate — distribution drift "
    "testing at scan cost, the continuous-valued complement to the "
    "token-level L1 drift of corpus_token_drift.",
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "is1"
            ),
        )
    )
    byv = g.groupBy("cents").agg(
        F.sum("is1").cast("long").alias("c1"), F.count("*").alias("ct")
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = byv.select(
        F.sum("c1").over(w_cum).cast("long").alias("f1"),
        F.sum(F.col("ct") - F.col("c1")).over(w_cum).cast("long").alias(
            "f2"
        ),
    )
    tot = byv.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("ct") - F.col("c1")).cast("long").alias("n2"),
    )
    d_abs = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return (
        cum.join(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(d_abs).cast("long").alias("d_num"),
            fpq(
                F.max(d_abs).cast("double")
                / (F.col("n1").cast("double") * F.col("n2")),
                9,
            ).alias("d_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Population Stability Index (ML feature-drift monitoring)
# ---------------------------------------------------------------------------

_PSI_BIN_W = 40000  # order-price bin width; LEAST caps into 10 bins


_PSI_CUT = "DATE '1995-01-01'"  # baseline = orders before, current = after


_PSI_ORACLE = f"""
WITH b AS (
    SELECT CASE WHEN o_orderdate < {_PSI_CUT} THEN 0 ELSE 1 END AS half,
           LEAST(CAST(floor(o_totalprice / {_PSI_BIN_W}) AS BIGINT), 9)
               AS bin
    FROM orders
),
c AS (
    SELECT bin,
           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur
    FROM b GROUP BY bin
),
tot AS (
    SELECT bin, n_base, n_cur,
           CAST(SUM(n_base + 1) OVER () AS BIGINT) AS nb_tot,
           CAST(SUM(n_cur + 1) OVER () AS BIGINT) AS nc_tot
    FROM c
),
terms AS (
    SELECT bin, n_base, n_cur,
           CAST(floor(
               (CAST(n_base + 1 AS DOUBLE) / nb_tot
                - CAST(n_cur + 1 AS DOUBLE) / nc_tot)
               * ln(CAST(n_base + 1 AS DOUBLE) * nc_tot
                    / (CAST(n_cur + 1 AS DOUBLE) * nb_tot))
               * 1e12 + 0.5) AS BIGINT) AS term_fp
    FROM tot
)
SELECT bin, n_base, n_cur,
       {fpq_sql('CAST(term_fp AS DOUBLE) / 1e12', 9)} AS psi_term,
       {fpq_sql('CAST(SUM(term_fp) OVER () AS DOUBLE) / 1e12', 9)}
           AS psi_total
FROM terms
"""


@register(
    "drift_psi",
    _PSI_ORACLE,
    doc="Population Stability Index of the order-price distribution, "
    "pre-1995 baseline vs current — the standard production-ML gate "
    "for 'has this feature drifted enough to retrain' (PSI > 0.2 = "
    "act). Ten fixed price bins, add-one smoothing so empty bins "
    "stay finite, each (p-q)*ln(p/q) term fixed-point quantized "
    "BEFORE the total (the agg_entropy rule: float sums only over "
    "already-quantized integers, so summation order cannot matter). "
    "One hash aggregate at bin cardinality plus a 10-row window — "
    "scan-bound at any scale.",
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderdate") < F.lit("1995-01-01").cast("date"), 0)
        .otherwise(1)
        .alias("half"),
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_BIN_W).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
    )
    c = b.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_base"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = c.select(
        "bin", "n_base", "n_cur",
        F.sum(F.col("n_base") + 1).over(w_all).cast("long").alias("nb_tot"),
        F.sum(F.col("n_cur") + 1).over(w_all).cast("long").alias("nc_tot"),
    )
    pb = (F.col("n_base") + 1).cast("double") / F.col("nb_tot")
    pc = (F.col("n_cur") + 1).cast("double") / F.col("nc_tot")
    lr = F.log(
        (F.col("n_base") + 1).cast("double") * F.col("nc_tot")
        / ((F.col("n_cur") + 1).cast("double") * F.col("nb_tot"))
    )
    terms = tot.select(
        "bin", "n_base", "n_cur",
        F.floor((pb - pc) * lr * F.lit(1e12) + F.lit(0.5))
        .cast("long")
        .alias("term_fp"),
    )
    return terms.select(
        "bin", "n_base", "n_cur",
        fpq(F.col("term_fp").cast("double") / F.lit(1e12), 9).alias(
            "psi_term"
        ),
        fpq(
            F.sum("term_fp").over(w_all).cast("double") / F.lit(1e12), 9
        ).alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# blocklist phrase screening (safety-filter stage)
# ---------------------------------------------------------------------------

_BLOCKLIST: list[tuple[str, int]] = [
    ("vector", 1),
    ("stream", 1),
    ("slow filter", 2),
    ("big table", 2),
    ("fast merge batch", 3),
]


_BL_LENGTHS = sorted({len(p.split(" ")) for p, _ in _BLOCKLIST})


_BL_VALUES = ", ".join(
    "('" + p.replace("'", "''") + "', " + str(s) + ")" for p, s in _BLOCKLIST
)


_BLOCKLIST_ORACLE = f"""
WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS tk FROM documents),
bl(phrase, severity) AS (VALUES {_BL_VALUES}),
g AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           array_to_string(tk[i:i+k-1], ' ') AS phrase
    FROM toks, (SELECT unnest({_BL_LENGTHS}) AS k) ks,
         LATERAL unnest(range(1, len(tk) - k + 2)) t(i)
    WHERE len(tk) >= k
),
m AS (SELECT g.doc_id, g.pos, g.phrase, severity FROM g JOIN bl USING (phrase))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(COUNT(DISTINCT phrase) AS BIGINT) AS n_phrases,
       CAST(MAX(severity) AS INT) AS max_severity,
       CAST(MIN(pos) AS BIGINT) AS first_pos,
       CASE WHEN MAX(severity) >= 3 THEN 'drop'
            WHEN MAX(severity) = 2 THEN 'flag'
            ELSE 'note' END AS verdict
FROM m GROUP BY doc_id
"""


@register(
    "quality_blocklist_phrases",
    _BLOCKLIST_ORACLE,
    doc="Blocklist phrase screening (operators/quality.py::"
    "blocklist_matches) — the safety-filter stage every production "
    "training-corpus pipeline runs: a severity-weighted phrase "
    "dictionary of MIXED token lengths matched in one corpus pass, "
    "with token positions, aggregated into a per-document "
    "drop/flag/note verdict. Aho-Corasick output via a scale-shaped "
    "plan: per phrase-length k, the corpus explodes into k-token "
    "windows broadcast-joined against that length's (model-sized) "
    "dictionary — linear in corpus tokens x distinct lengths, the "
    "corpus itself is never shuffled, and the scan is pruned to the "
    "text column. The reference has no content-screening operator "
    "(its nettoyage is row-level DISTINCT + type casts).",
)
def quality_blocklist_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.quality import (
        blocklist_matches,
    )

    m = blocklist_matches(t(spark, sf_dir, "documents"), _BLOCKLIST)
    sev = F.max("severity")
    return m.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.countDistinct("phrase").cast("long").alias("n_phrases"),
        sev.cast("int").alias("max_severity"),
        F.min("pos").cast("long").alias("first_pos"),
        F.when(sev >= 3, "drop")
        .when(sev == 2, "flag")
        .otherwise("note")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Column profiler — the ANALYZE-style table report
# ---------------------------------------------------------------------------

# (column, string-rendering expression) pairs: min/max render through
# type-stable casts (BIGINT / DATE / VARCHAR / DECIMAL(18,2)) so the
# two engines print identical strings — raw DOUBLE->string formatting
# differs between JVM and DuckDB and is deliberately avoided.
_PROFILE_COLS = (
    ("o_orderkey", "CAST({v} AS BIGINT)"),
    ("o_custkey", "CAST({v} AS BIGINT)"),
    ("o_orderstatus", "{v}"),
    ("o_totalprice", "CAST({v} AS DECIMAL(18,2))"),
    ("o_orderdate", "CAST({v} AS DATE)"),
)


def _profile_oracle() -> str:
    legs = []
    for name, cast in _PROFILE_COLS:
        v = cast.format(v=name)
        legs.append(f"""
SELECT '{name}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,
       CAST(MIN({v}) AS VARCHAR) AS min_value,
       CAST(MAX({v}) AS VARCHAR) AS max_value
FROM orders""")
    return " UNION ALL ".join(legs)


@register(
    "quality_profile_table",
    _profile_oracle(),
    doc="Column profiler — the ANALYZE/data-profiling report every "
    "warehouse hands its operators (null counts, distinct "
    "cardinality, min/max per column), complementing "
    "proc_refresh_stats' optimizer-stats leg with a user-facing "
    "one: five orders columns profile in ONE scan (per-column "
    "conditional aggregates, unpivoted to a row per column "
    "JVM-side), exact distincts, and min/max rendered through "
    "type-stable casts so both engines print identical strings. At "
    "100 TB this is the same single-pass multi-aggregate shape as "
    "quality_expectations (count-distinct partials merge map-side); "
    "swap exact distinct for approx_count_distinct when estimates "
    "suffice.",
)
def quality_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    aggs = []
    for name, cast in _PROFILE_COLS:
        v = cast.format(v=name)
        aggs += [
            F.count("*").cast("bigint").alias(f"{name}__n"),
            (F.count("*") - F.count(name))
            .cast("bigint")
            .alias(f"{name}__nn"),
            F.countDistinct(name).cast("bigint").alias(f"{name}__nd"),
            F.min(F.expr(v)).cast("string").alias(f"{name}__min"),
            F.max(F.expr(v)).cast("string").alias(f"{name}__max"),
        ]
    one = orders.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col(f"{name}__n").alias("n_rows"),
            F.col(f"{name}__nn").alias("n_null"),
            F.col(f"{name}__nd").alias("n_distinct"),
            F.col(f"{name}__min").alias("min_value"),
            F.col(f"{name}__max").alias("max_value"),
        )
        for name, _ in _PROFILE_COLS
    ]
    return one.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# Hash-Poisson bootstrap — deterministic resampling confidence interval
# ---------------------------------------------------------------------------

_BOOT_B = 100


#: nearest-rank 2.5% / 97.5% order statistics, derived from B so a
#: replicate-count change can never silently keep stale ranks
_BOOT_LO_RANK = -(-25 * _BOOT_B // 1000)  # ceil(0.025 * B)


_BOOT_HI_RANK = -(-975 * _BOOT_B // 1000)  # ceil(0.975 * B)


#: Poisson(1) CDF in millionths — integer thresholds so the per-row
#: resample weight is a pure integer comparison chain, no float RNG.
_POISSON_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406)


def _boot_weight_sql(hexpr: str) -> str:
    case = " ".join(
        f"WHEN {hexpr} < {thr} THEN {k}"
        for k, thr in enumerate(_POISSON_CDF_PPM)
    )
    return f"CASE {case} ELSE {len(_POISSON_CDF_PPM)} END"


def _bootstrap_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )
    from evolution_data_warehouse_spark.queries.common import davg_sql

    h = (
        content_hash64_sql(
            "CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
        )
        + " % 1000000"
    )
    return f"""
WITH rep AS (
    SELECT e.event_id, e.value, bs.b
    FROM events e, (SELECT unnest(range(0, {_BOOT_B})) AS b) bs
),
w AS (
    SELECT b, value, {_boot_weight_sql(f'({h})')} AS k FROM rep
),
means AS (
    SELECT b,
           CAST(SUM(CAST(value AS DECIMAL(28,6)) * k) AS DOUBLE)
               / CAST(SUM(k) AS DOUBLE) AS mean_b
    FROM w GROUP BY b
),
ranked AS (
    SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS r
    FROM means
),
ci AS (
    SELECT MIN(CASE WHEN r = {_BOOT_LO_RANK} THEN mean_b END) AS ci_lo,
           MIN(CASE WHEN r = {_BOOT_HI_RANK} THEN mean_b END) AS ci_hi
    FROM ranked
),
pt AS (
    SELECT {davg_sql('value', 6)} AS point_mean,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
)
SELECT pt.point_mean, pt.n_rows, ci.ci_lo, ci.ci_hi,
       CAST({_BOOT_B} AS BIGINT) AS n_replicates
FROM pt, ci
"""


@register(
    "stats_bootstrap_ci",
    _bootstrap_oracle(),
    doc="Poisson-bootstrap confidence interval for the event-value "
    "mean — the resampling member of the inferential-stats family "
    "(beside the closed-form z/U/KS tests): each (row, replicate) "
    "pair draws its resample multiplicity from Poisson(1) via "
    "md5-hash uniforms against INTEGER CDF thresholds (the standard "
    "streaming bootstrap — no RNG state, reproducible on any "
    "partitioning/engine), replicate means use the exact decimal-"
    "weighted sum, and the 95% CI is the nearest-rank 2.5/97.5 order "
    "statistic of the 100 replicate means (integer ranks, no "
    "interpolation, ties broken by replicate id). Scale: the explode "
    "is x100 but each replicate reduces map-side to one partial per "
    "partition — the bootstrap costs ~B aggregates over one scan, "
    "never B scans; the rank step sorts B rows.",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )
    from evolution_data_warehouse_spark.queries.common import davg

    ev = t(spark, sf_dir, "events").select("event_id", "value")
    rep = ev.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    h = (
        content_hash64(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            )
        )
        % 1000000
    )
    k = None
    for kk, thr in enumerate(_POISSON_CDF_PPM):
        k = (
            F.when(h < thr, kk)
            if k is None
            else k.when(h < thr, kk)
        )
    k = k.otherwise(len(_POISSON_CDF_PPM))
    means = (
        rep.select(
            "b",
            (F.col("value").cast("decimal(28,6)") * k).alias("wv"),
            k.alias("k"),
        )
        .groupBy("b")
        .agg(
            (
                F.sum("wv").cast("double")
                / F.sum("k").cast("double")
            ).alias("mean_b")
        )
    )
    ranked = means.select(
        "mean_b",
        F.row_number().over(W.orderBy("mean_b", "b")).alias("r"),
    )
    ci = ranked.agg(
        F.min(
            F.when(F.col("r") == _BOOT_LO_RANK, F.col("mean_b"))
        ).alias("ci_lo"),
        F.min(
            F.when(F.col("r") == _BOOT_HI_RANK, F.col("mean_b"))
        ).alias("ci_hi"),
    )
    pt = ev.agg(
        davg("value", 6).alias("point_mean"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    return pt.crossJoin(ci).select(
        "point_mean", "n_rows", "ci_lo", "ci_hi",
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
    )


# ---------------------------------------------------------------------------
# Robust outliers — median / MAD (no moments, no float aggregation)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH ranked AS (
    SELECT event_type, value, event_id,
           row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
med AS (
    SELECT event_type, value AS median_value
    FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
    SELECT e.event_type, e.value, e.event_id,
           ABS(e.value - m.median_value) AS adev,
           m.median_value
    FROM events e JOIN med m ON e.event_type = m.event_type
),
dranked AS (
    SELECT event_type, adev, median_value,
           row_number() OVER (
               PARTITION BY event_type ORDER BY adev, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
),
mad AS (
    SELECT event_type, median_value, adev AS mad_value
    FROM dranked WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
       m.median_value,
       m.mad_value,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN d.adev > 3 * m.mad_value THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.median_value, m.mad_value
"""


@register(
    "stats_mad_outliers",
    _MAD_ORACLE,
    doc="Robust outlier detection by median / MAD (median absolute "
    "deviation) — the moment-free member of the stats family (mean/"
    "stddev z-scores break under the heavy tails they are meant to "
    "find; median/MAD have a 50% breakdown point): per event type, "
    "the nearest-rank median (a VALUE from the data, tie-broken by "
    "event_id — no interpolation, no float aggregation anywhere), "
    "the nearest-rank median of absolute deviations, and the count "
    "beyond the classic 3xMAD fence. Deviations are single IEEE "
    "subtractions of data values, so every number is bit-identical "
    "across engines and partitionings. Scale: two rank passes "
    "partitioned by type + one broadcast-sized (k-row) median join — "
    "the exact-percentile shape, paid twice.",
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    wt = W.partitionBy("event_type")
    ranked = ev.select(
        "*",
        F.row_number().over(wt.orderBy("value", "event_id")).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("value").alias("median_value"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "median_value",
        F.abs(F.col("value") - F.col("median_value")).alias("adev"),
    )
    dranked = dev.select(
        "*",
        F.row_number().over(wt.orderBy("adev", "event_id")).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    mad = dranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("adev").alias("mad_value"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "median_value", "mad_value")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad_value")).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type", "median_value", "mad_value", "n_rows",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation — time-series dependence, fixed-point exact
# ---------------------------------------------------------------------------

#: fixed-point quantizer: terms DIVIDE by 1e6 before flooring — the
#: day count is calendar-bounded (~2400) while deviation products grow
#: with SF^2, so quantizing DOWN keeps every per-row value and both
#: sums inside int64 at ANY scale (1000x up-scaling overflowed at
#: sf0.1 — caught loudly by ANSI mode); the ~1e6 absolute quantization
#: error is ~1e-8 relative on sf0.1 terms and identical on both
#: engines, so the ratio stays bit-deterministic.
_ACF_DOWNSCALE = 1_000_000


def _acf_oracle() -> str:

    return f"""
WITH daily AS (
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS x
    FROM orders GROUP BY o_orderdate
),
mu AS (
    SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily
),
paired AS (
    SELECT d.x, mu.mu, mu.n_days,
           lead(d.x) OVER (ORDER BY d.day) AS x_next
    FROM daily d, mu
),
terms AS (
    SELECT n_days,
           CAST(floor((x - mu) * (x_next - mu) / {_ACF_DOWNSCALE})
                AS BIGINT) AS num_q,
           CAST(floor((x - mu) * (x - mu) / {_ACF_DOWNSCALE})
                AS BIGINT) AS den_q
    FROM paired
)
SELECT MAX(n_days) AS n_days,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS BIGINT)
           AS num_sum,
       CAST(SUM(den_q) AS BIGINT) AS den_sum,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS DOUBLE)
           / CAST(SUM(den_q) AS DOUBLE) AS acf_lag1
FROM terms
"""


@register(
    "ts_acf_lag1",
    _acf_oracle(),
    doc="Lag-1 autocorrelation of the daily revenue series — the "
    "time-series dependence statistic beside CUSUM/seasonality: "
    "daily sums are exact decimal aggregates, the series mean is one "
    "decimal sum + one division, and each (x_t - mu)(x_t+1 - mu) "
    "product quantizes to fixed point BEFORE summation (the "
    "elementwise-means discipline — double product sums are "
    "summation-order-dependent, floor(term*1000) BIGINT sums are "
    "not), so the statistic is bit-identical on any partitioning. "
    "The lead() pairing is one day-ordered window over the "
    "day-cardinality frame; everything after the daily aggregate is "
    "model-sized regardless of corpus scale.",
)
def ts_acf_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("x"))
    )
    mu = daily.agg(
        (
            F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    paired = daily.crossJoin(F.broadcast(mu)).select(
        "x",
        "mu",
        "n_days",
        F.lead("x").over(W.orderBy("day")).alias("x_next"),
    )
    num_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x_next") - F.col("mu"))
        / _ACF_DOWNSCALE
    ).cast("bigint")
    den_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x") - F.col("mu"))
        / _ACF_DOWNSCALE
    ).cast("bigint")
    terms = paired.select(
        "n_days", num_q.alias("num_q"), den_q.alias("den_q")
    )
    return terms.agg(
        F.max("n_days").alias("n_days"),
        F.sum("num_q").cast("bigint").alias("num_sum"),
        F.sum("den_q").cast("bigint").alias("den_sum"),
        (
            F.sum("num_q").cast("double") / F.sum("den_q").cast("double")
        ).alias("acf_lag1"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit — the companion privacy check to quality_k_anonymity
# ---------------------------------------------------------------------------

_L_DIVERSITY_L = 3


_L_DIV_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
           c_mktsegment
    FROM customer
),
g AS (
    SELECT c_nationkey, bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
    FROM q GROUP BY c_nationkey, bal_bucket
)
SELECT c_nationkey, bal_bucket, k, l_distinct
FROM g WHERE l_distinct < {_L_DIVERSITY_L}
"""


@register(
    "quality_l_diversity",
    _L_DIV_ORACLE,
    doc="l-diversity audit (Machanavajjhala et al. 2007) — the "
    "companion check quality_k_anonymity needs: a class can be "
    "k-anonymous yet still leak if every member shares the SAME "
    "sensitive value, so each quasi-identifier class (nation, "
    "balance bucket) must contain >= l = 3 distinct sensitive values "
    "(market segment). One hash aggregate at quasi-identifier "
    "cardinality with a distinct-count; the filter keeps only the "
    "leaking classes, so output stays small at any input scale.",
)
def quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0)
        .cast("long")
        .alias("bal_bucket"),
        "c_mktsegment",
    )
    g = q.groupBy("c_nationkey", "bal_bucket").agg(
        F.count("*").cast("bigint").alias("k"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l_distinct"),
    )
    return g.filter(F.col("l_distinct") < _L_DIVERSITY_L)


# ---------------------------------------------------------------------------
# stats_spearman_corr — rank correlation per group
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = f"""
WITH r AS (
    SELECT o_orderpriority,
           CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
           ) AS BIGINT) AS rx,
           CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey
           ) AS BIGINT) AS ry
    FROM orders
),
s AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((rx - ry) * (rx - ry)) AS DOUBLE) AS sd2
    FROM r GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       {fpq_sql(
           "1.0 - (6.0 * sd2) / (CAST(n AS DOUBLE)"
           " * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))", 9
       )} AS rho
FROM s
"""


@register(
    "stats_spearman_corr",
    _SPEARMAN_ORACLE,
    doc="Spearman rank correlation between order value and order "
    "recency per priority class (do later orders run larger?) — the "
    "monotonic-association twin of the Pearson correlation in "
    "agg_stats_suite. Ranks are row_number() tie-broken by the UNIQUE "
    "o_orderkey (a non-unique tie-break would make rank assignment "
    "engine-dependent — measured: lineitem's duplicate keys shifted "
    "rho by ~4e-8), so each rank column is a deterministic "
    "permutation 1..n and the classic rho = 1 - 6*sum(d^2)/(n(n^2-1)) "
    "closed form applies exactly; sum(d^2) is summed wide (decimal on "
    "Spark, HUGEINT on DuckDB) before one double division quantized "
    "at 1e-9. Scale note: exact Spearman fundamentally needs a "
    "per-group global rank (two sorts sharing one exchange here); at "
    "100 TB the same statistic is approximated by binned ranks "
    "(agg_equidepth_histogram's machinery) — this entry is the exact "
    "form.",
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderdate", "o_orderkey"
    )
    wx = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wy = Window.partitionBy("o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    r = o.select(
        "o_orderpriority",
        F.row_number().over(wx).cast("bigint").alias("rx"),
        F.row_number().over(wy).cast("bigint").alias("ry"),
    )
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    s = r.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d2.cast("decimal(38,0)")).cast("double").alias("sd2"),
    )
    n_d = F.col("n").cast("double")
    rho = F.lit(1.0) - (F.lit(6.0) * F.col("sd2")) / (
        n_d * (n_d * n_d - F.lit(1.0))
    )
    return s.select("o_orderpriority", "n", fpq(rho, 9).alias("rho"))


# ---------------------------------------------------------------------------
# quality_fk_orphans — referential-integrity audit across the star schema
# ---------------------------------------------------------------------------

_FK_RELATIONS = (
    # (relation label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
)


def _fk_oracle() -> str:
    legs = []
    for label, child, ck, parent, pk in _FK_RELATIONS:
        legs.append(f"""
SELECT '{label}' AS relation,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
FROM {child} c
LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON p.{pk} = c.{ck}""")
    return "\nUNION ALL\n".join(legs)


@register(
    "quality_fk_orphans",
    _fk_oracle(),
    doc="Referential-integrity audit across the whole star schema: for "
    "each of the 7 FK relations (lineitem->orders/part/supplier, "
    "orders->customer, customer/supplier->nation, nation->region), "
    "the child row count and the count of orphans (child keys with no "
    "parent; NULL child keys join to nothing on both engines, so they "
    "count as orphans). The completeness leg of the quality_* suite "
    "that key-gap and expectation checks don't cover. Plan: each leg "
    "is ONE left join + ONE aggregate — the orphan count is the "
    "null-parent sum of the same join, never a second anti-join pass; "
    "parent keys are deduped defensively (they are PKs, but a dirty "
    "parent must surface as orphan counts, not row inflation). Dims "
    "broadcast; the one big-parent leg (lineitem->orders) is a "
    "two-column shuffle join — linear at 100 TB. All 7 legs are "
    "independent and union into a 7-row audit.",
)
def quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    out: DataFrame | None = None
    for label, child, ck, parent, pk in _FK_RELATIONS:
        c = t(spark, sf_dir, child).select(ck)
        p = t(spark, sf_dir, parent).select(pk).distinct()
        joined = c.join(p, c[ck] == p[pk], "left")
        leg = joined.agg(
            F.count("*").cast("bigint").alias("n_child"),
            F.sum(F.when(p[pk].isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        ).select(F.lit(label).alias("relation"), "n_child", "n_orphans")
        out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# ts_ohlc_bars — open/high/low/close candle aggregation
# ---------------------------------------------------------------------------

_OHLC_ORACLE = f"""
SELECT event_type, CAST(ts AS DATE) AS day,
       (min(struct_pack(ts := ts, eid := event_id, v := value))).v AS open,
       max(value) AS high,
       min(value) AS low,
       (max(struct_pack(ts := ts, eid := event_id, v := value))).v AS close,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       {dsum_sql('value', 6)} AS vol
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


@register(
    "ts_ohlc_bars",
    _OHLC_ORACLE,
    doc="OHLC candle bars: per (event_type, day), the first/max/min/"
    "last event value plus count and decimal-exact volume — the "
    "market-data resampling primitive beside ts_resample_daily. "
    "Open/close use MIN/MAX over a (ts, event_id, value) struct — "
    "lexicographic struct ordering IS the tie-broken argmin/argmax "
    "(event_id is unique, so the value field never decides), one "
    "hash aggregate with full map-side combine, NO window pass and "
    "NO per-group sort: at 100 TB this is a single linear shuffle "
    "on the bar key, the plan a first/last window formulation would "
    "not give.",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    s = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("eid"),
        F.col("value").alias("v"),
    )
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.min(s).getField("v").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(s).getField("v").alias("close"),
        F.count("*").cast("bigint").alias("n_trades"),
        dsum("value", 6).alias("vol"),
    )


# ---------------------------------------------------------------------------
# stats_cohens_d — effect size between two customer segments
# ---------------------------------------------------------------------------

_COHEN_A = "BUILDING"


_COHEN_B = "MACHINERY"


_COHEN_ORACLE = f"""
WITH s AS (
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('c_acctbal', 6)} AS s1,
           {dsum_sql('c_acctbal * c_acctbal', 6)} AS s2
    FROM customer
    WHERE c_mktsegment IN ('{_COHEN_A}', '{_COHEN_B}')
    GROUP BY c_mktsegment
),
ab AS (
    SELECT
        (SELECT n FROM s WHERE c_mktsegment = '{_COHEN_A}') AS na,
        (SELECT s1 FROM s WHERE c_mktsegment = '{_COHEN_A}') AS sa1,
        (SELECT s2 FROM s WHERE c_mktsegment = '{_COHEN_A}') AS sa2,
        (SELECT n FROM s WHERE c_mktsegment = '{_COHEN_B}') AS nb,
        (SELECT s1 FROM s WHERE c_mktsegment = '{_COHEN_B}') AS sb1,
        (SELECT s2 FROM s WHERE c_mktsegment = '{_COHEN_B}') AS sb2
),
d AS (
    SELECT na, nb,
           sa1 / CAST(na AS DOUBLE) AS ma,
           sb1 / CAST(nb AS DOUBLE) AS mb,
           (sa2 - (sa1 / CAST(na AS DOUBLE)) * sa1)
               / (CAST(na AS DOUBLE) - 1.0) AS va,
           (sb2 - (sb1 / CAST(nb AS DOUBLE)) * sb1)
               / (CAST(nb AS DOUBLE) - 1.0) AS vb
    FROM ab
)
SELECT na, nb,
       {fpq_sql('ma', 6)} AS mean_a,
       {fpq_sql('mb', 6)} AS mean_b,
       {fpq_sql(
           "(ma - mb) / sqrt(((CAST(na AS DOUBLE) - 1.0) * va"
           " + (CAST(nb AS DOUBLE) - 1.0) * vb)"
           " / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0))", 8
       )} AS cohens_d
FROM d
"""


@register(
    "stats_cohens_d",
    _COHEN_ORACLE,
    doc="Cohen's d effect size between two customer segments' account "
    "balances — the practical-significance companion to "
    "stats_ab_test's hypothesis test (a significant difference with "
    "d ~ 0 is noise you can't act on). Per-segment moments are "
    "decimal-exact sums reshaped into sample variances with an "
    "identical double expression on both engines; d = (mean_a - "
    "mean_b) / pooled_sigma, quantized at 1e-8. Spark plan: one "
    "2-group aggregate pivoted into a single row — no join, no "
    "window; the heavy lifting is the same one-pass scan any mean "
    "takes.",
)
def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = F.col("c_acctbal")
    s = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin(_COHEN_A, _COHEN_B))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            dsum(bal, 6).alias("s1"),
            dsum(bal * bal, 6).alias("s2"),
        )
    )
    seg = F.col("c_mktsegment")
    ab = s.agg(
        F.max(F.when(seg == _COHEN_A, F.col("n"))).alias("na"),
        F.max(F.when(seg == _COHEN_A, F.col("s1"))).alias("sa1"),
        F.max(F.when(seg == _COHEN_A, F.col("s2"))).alias("sa2"),
        F.max(F.when(seg == _COHEN_B, F.col("n"))).alias("nb"),
        F.max(F.when(seg == _COHEN_B, F.col("s1"))).alias("sb1"),
        F.max(F.when(seg == _COHEN_B, F.col("s2"))).alias("sb2"),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    ma = F.col("sa1") / na_d
    mb = F.col("sb1") / nb_d
    va = (F.col("sa2") - (F.col("sa1") / na_d) * F.col("sa1")) / (
        na_d - F.lit(1.0)
    )
    vb = (F.col("sb2") - (F.col("sb1") / nb_d) * F.col("sb1")) / (
        nb_d - F.lit(1.0)
    )
    d = ab.select(
        "na", "nb",
        ma.alias("ma"), mb.alias("mb"), va.alias("va"), vb.alias("vb"),
    )
    na_d2 = F.col("na").cast("double")
    nb_d2 = F.col("nb").cast("double")
    pooled = F.sqrt(
        ((na_d2 - F.lit(1.0)) * F.col("va")
         + (nb_d2 - F.lit(1.0)) * F.col("vb"))
        / (na_d2 + nb_d2 - F.lit(2.0))
    )
    return d.select(
        "na", "nb",
        fpq(F.col("ma"), 6).alias("mean_a"),
        fpq(F.col("mb"), 6).alias("mean_b"),
        fpq((F.col("ma") - F.col("mb")) / pooled, 8).alias("cohens_d"),
    )


# ---------------------------------------------------------------------------
# quality_pk_uniqueness — primary-key uniqueness audit
# ---------------------------------------------------------------------------

_PK_DECLS = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def _pk_oracle() -> str:
    legs = []
    for table, keys in _PK_DECLS:
        key_expr = ", ".join(keys)
        # NULL-key rows are excluded from the distinct count on BOTH
        # engines (Spark's COUNT(DISTINCT a, b) skips any-NULL rows;
        # the WHERE mirrors that) — a NULL key is a different defect
        # class, reported by filter_dropna_keys/quality_expectations.
        not_null = " AND ".join(f"{k} IS NOT NULL" for k in keys)
        legs.append(f"""
SELECT '{table}' AS tbl, '{",".join(keys)}' AS pk,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST((SELECT COUNT(*) FROM (
           SELECT DISTINCT {key_expr} FROM {table} WHERE {not_null}
       )) AS BIGINT) AS n_distinct
FROM {table}""")
    return "\nUNION ALL\n".join(legs)


@register(
    "quality_pk_uniqueness",
    _pk_oracle(),
    doc="Primary-key uniqueness audit across every table in the "
    "warehouse: declared key vs row count vs exact distinct count — "
    "the constraint-validation twin of quality_fk_orphans (files "
    "enforce nothing; the audit is how a lakehouse notices). "
    "Deliberately includes lineitem's composite (l_orderkey, "
    "l_linenumber), which this fixture genuinely violates — the "
    "audit REPORTS it (n_distinct < n_rows) rather than assuming "
    "cleanliness, exactly the finding that forced "
    "stats_spearman_corr onto a unique key during development. "
    "Each leg is one scan + one exact-distinct aggregate (map-side "
    "partial on the key); legs are independent and union into a "
    "10-row report.",
)
def quality_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    out: DataFrame | None = None
    for table, keys in _PK_DECLS:
        df = t(spark, sf_dir, table)
        leg = df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct(*[F.col(k) for k in keys])
            .cast("bigint")
            .alias("n_distinct"),
        ).select(
            F.lit(table).alias("tbl"),
            F.lit(",".join(keys)).alias("pk"),
            "n_rows",
            "n_distinct",
        )
        out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# stats_cuped_adjust — CUPED variance reduction for experiment metrics
# ---------------------------------------------------------------------------

_CUPED_SPLIT_DATE = "1999-01-01"


_CUPED_ORACLE = f"""
WITH per_cust AS (
    SELECT o_custkey AS cust,
           {dsum_sql(
               "CASE WHEN CAST(o_orderdate AS DATE)"
               f" < DATE '{_CUPED_SPLIT_DATE}'"
               " THEN o_totalprice ELSE 0 END", 2
           )} AS x,
           {dsum_sql(
               "CASE WHEN CAST(o_orderdate AS DATE)"
               f" >= DATE '{_CUPED_SPLIT_DATE}'"
               " THEN o_totalprice ELSE 0 END", 2
           )} AS y
    FROM orders GROUP BY o_custkey
),
armd AS (
    SELECT cust, x, y, CAST(cust % 2 AS INT) AS arm FROM per_cust
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('x', 6)} AS sx, {dsum_sql('y', 6)} AS sy,
           {dsum_sql('x * x', 6)} AS sxx, {dsum_sql('x * y', 6)} AS sxy,
           CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           {dsum_sql('CASE WHEN arm = 0 THEN y ELSE 0 END', 6)} AS sy0,
           {dsum_sql('CASE WHEN arm = 0 THEN x ELSE 0 END', 6)} AS sx0,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           {dsum_sql('CASE WHEN arm = 1 THEN y ELSE 0 END', 6)} AS sy1,
           {dsum_sql('CASE WHEN arm = 1 THEN x ELSE 0 END', 6)} AS sx1
    FROM armd
),
d AS (
    SELECT n, n0, n1,
           CASE WHEN sxx - sx * sx / CAST(n AS DOUBLE) <= 0.0 THEN 0.0
                ELSE (sxy - sx * sy / CAST(n AS DOUBLE))
                     / (sxx - sx * sx / CAST(n AS DOUBLE)) END AS theta,
           sx / CAST(n AS DOUBLE) AS mx,
           sy0 / CAST(n0 AS DOUBLE) AS my0,
           sx0 / CAST(n0 AS DOUBLE) AS mx0,
           sy1 / CAST(n1 AS DOUBLE) AS my1,
           sx1 / CAST(n1 AS DOUBLE) AS mx1
    FROM s
)
SELECT n0, n1,
       {fpq_sql('theta', 8)} AS theta,
       {fpq_sql('my1 - my0', 4)} AS lift_raw,
       {fpq_sql(
           '(my1 - theta * (mx1 - mx)) - (my0 - theta * (mx0 - mx))', 4
       )} AS lift_cuped
FROM d
"""


@register(
    "stats_cuped_adjust",
    _CUPED_ORACLE,
    doc="CUPED-adjusted experiment lift (Deng et al. 2013, WSDM: "
    "Improving the Sensitivity of Online Controlled Experiments): "
    "pre-period spend is the covariate, theta = cov(x,y)/var(x) "
    "pooled over all units, and each arm's metric mean is adjusted "
    "by -theta*(mean_x_arm - mean_x) — the variance-reduction "
    "preprocessing every experimentation platform applies before "
    "stats_ab_test-style inference. Arms are custkey parity (the "
    "same deterministic assignment convention as stats_ab_test). "
    "Everything reduces in ONE aggregate row: per-unit pre/post "
    "sums via one group-by on customer, then conditional "
    "decimal-exact moment sums — no scalar broadcast, no second "
    "pass; theta and both lifts are identical double expression "
    "shapes quantized fixed-point. Two linear shuffles total "
    "(customer rollup, then the 1-row reduce).",
)
def stats_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.to_date("o_orderdate")
    split = F.lit(_CUPED_SPLIT_DATE).cast("date")
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            dsum(
                F.when(d < split, F.col("o_totalprice")).otherwise(0.0), 2
            ).alias("x"),
            dsum(
                F.when(d >= split, F.col("o_totalprice")).otherwise(0.0), 2
            ).alias("y"),
        )
    )
    armd = per_cust.withColumn("arm", (F.col("cust") % 2).cast("int"))
    x, y, arm = F.col("x"), F.col("y"), F.col("arm")
    s = armd.agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(x, 6).alias("sx"),
        dsum(y, 6).alias("sy"),
        dsum(x * x, 6).alias("sxx"),
        dsum(x * y, 6).alias("sxy"),
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        dsum(F.when(arm == 0, y).otherwise(0.0), 6).alias("sy0"),
        dsum(F.when(arm == 0, x).otherwise(0.0), 6).alias("sx0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        dsum(F.when(arm == 1, y).otherwise(0.0), 6).alias("sy1"),
        dsum(F.when(arm == 1, x).otherwise(0.0), 6).alias("sx1"),
    )
    n_d = F.col("n").cast("double")
    # degenerate-covariate guard: zero pre-period variance would make
    # theta NaN/inf with engine-dependent fixed-point behavior — CUPED
    # with a constant covariate is a no-op, so theta = 0 is the right
    # answer, not an error
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / n_d
    theta = F.when(var_x <= 0.0, F.lit(0.0)).otherwise(
        (F.col("sxy") - F.col("sx") * F.col("sy") / n_d) / var_x
    )
    dd = s.select(
        "n", "n0", "n1",
        theta.alias("theta"),
        (F.col("sx") / n_d).alias("mx"),
        (F.col("sy0") / F.col("n0").cast("double")).alias("my0"),
        (F.col("sx0") / F.col("n0").cast("double")).alias("mx0"),
        (F.col("sy1") / F.col("n1").cast("double")).alias("my1"),
        (F.col("sx1") / F.col("n1").cast("double")).alias("mx1"),
    )
    lift_raw = F.col("my1") - F.col("my0")
    lift_cuped = (
        F.col("my1") - F.col("theta") * (F.col("mx1") - F.col("mx"))
    ) - (F.col("my0") - F.col("theta") * (F.col("mx0") - F.col("mx")))
    return dd.select(
        "n0", "n1",
        fpq(F.col("theta"), 8).alias("theta"),
        fpq(lift_raw, 4).alias("lift_raw"),
        fpq(lift_cuped, 4).alias("lift_cuped"),
    )


# ---------------------------------------------------------------------------
# ts_interpolate_linear — gap-filling by linear interpolation
# ---------------------------------------------------------------------------

_INTERP_ORACLE = f"""
WITH daily AS (
    SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
           {dsum_sql('o_totalprice', 2)} AS v
    FROM orders GROUP BY 1, 2
),
bounds AS (
    SELECT o_orderpriority, MIN(day) AS d0, MAX(day) AS d1
    FROM daily GROUP BY o_orderpriority
),
spine AS (
    SELECT b.o_orderpriority,
           unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
    FROM bounds b
),
joined AS (
    SELECT s.o_orderpriority, s.day, d.v FROM spine s
    LEFT JOIN daily d
      ON d.o_orderpriority = s.o_orderpriority AND d.day = s.day
),
bracketed AS (
    SELECT o_orderpriority, day, v,
           last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_prev AS prev_day,
           last_value(v IGNORE NULLS) OVER w_prev AS prev_v,
           first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_next AS next_day,
           first_value(v IGNORE NULLS) OVER w_next AS next_v
    FROM joined
    WINDOW w_prev AS (
        PARTITION BY o_orderpriority ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ),
    w_next AS (
        PARTITION BY o_orderpriority ORDER BY day
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
    )
)
SELECT o_orderpriority, day,
       CAST(CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS INT) AS filled,
       {fpq_sql(
           "CASE WHEN v IS NOT NULL THEN v"
           " ELSE prev_v + (next_v - prev_v)"
           " * (CAST(day - prev_day AS DOUBLE)"
           "    / CAST(next_day - prev_day AS DOUBLE)) END", 4
       )} AS v_interp
FROM bracketed
"""


@register(
    "ts_interpolate_linear",
    _INTERP_ORACLE,
    doc="Gap-filling by LINEAR interpolation over the per-priority "
    "date spine — the upgrade over win_fill_forward's LOCF when the "
    "series is a level, not an event count (a 3-day gap fills with "
    "the trend line, not a plateau). Spine rows missing a value take "
    "prev + (next - prev) * elapsed/gap_span from the bracketing "
    "observations (last_value/first_value IGNORE NULLS over "
    "mirror-image frames); day arithmetic is exact integer date "
    "subtraction, the one division is an identical double shape "
    "quantized at 1e-4, and edge rows (first/last days are always "
    "observed per bounds construction) need no extrapolation branch. "
    "Scale: the spine is O(days x priorities) — built by generator, "
    "joined once against the pre-aggregated daily frame.",
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(dsum("o_totalprice", 2).alias("v"))
    )
    bounds = daily.groupBy("o_orderpriority").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "o_orderpriority",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = spine.join(daily, ["o_orderpriority", "day"], "left")
    w_prev = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    b = joined.select(
        "o_orderpriority",
        "day",
        "v",
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("prev_day"),
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("next_day"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.datediff(F.col("day"), F.col("prev_day")).cast("double")
        / F.datediff(F.col("next_day"), F.col("prev_day")).cast("double")
    )
    return b.select(
        "o_orderpriority",
        "day",
        F.when(F.col("v").isNotNull(), 0)
        .otherwise(1)
        .cast("int")
        .alias("filled"),
        fpq(
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 4
        ).alias("v_interp"),
    )


# ---------------------------------------------------------------------------
# ts_forecast_snaive_error — seasonal-naive backtest error profile
# ---------------------------------------------------------------------------

_SNAIVE_LAG = 7


_SNAIVE_FP = 1_000_000


_SNAIVE_ORACLE = f"""
WITH daily AS (
    SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
           {dsum_sql('o_totalprice', 2)} AS v
    FROM orders GROUP BY 1, 2
),
f AS (
    SELECT cur.o_orderpriority, cur.day, cur.v, prev.v AS yhat
    FROM daily cur
    JOIN daily prev
      ON prev.o_orderpriority = cur.o_orderpriority
     AND prev.day = cur.day - {_SNAIVE_LAG}
),
e AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           {dsum_sql('abs(v - yhat)', 4)} AS sum_abs_err,
           {dsum_sql('v', 4)} AS sum_actual
    FROM f GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_points,
       {fpq_sql('sum_abs_err', 4)} AS sum_abs_err,
       CAST(CASE WHEN sum_actual <= 0.0 THEN 0
            ELSE CAST(floor(sum_abs_err * {_SNAIVE_FP} / sum_actual)
                 AS BIGINT) END AS BIGINT) AS wape_fp
FROM e
"""


@register(
    "ts_forecast_snaive_error",
    _SNAIVE_ORACLE,
    doc="Seasonal-naive forecast backtest: yhat(t) = v(t-7) (the "
    "same-weekday-last-week baseline every demand forecast must "
    "beat), scored as WAPE = sum|err|/sum(actual) per priority — the "
    "error yardstick that tells a team whether their model earns its "
    "complexity. The join is an exact calendar self-join on (key, "
    "day-7) over the pre-aggregated daily frame (the ts_autocorr "
    "shape); error sums are decimal-exact; WAPE is floor fixed-point "
    "with the degenerate zero-actual case pinned to 0. Days with no "
    "week-ago observation drop out of the backtest on both engines "
    "identically (inner join).",
)
def ts_forecast_snaive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(dsum("o_totalprice", 2).alias("v"))
    )
    cur, prev = daily.alias("cur"), daily.alias("prev")
    f = cur.join(
        prev,
        (F.col("prev.o_orderpriority") == F.col("cur.o_orderpriority"))
        & (
            F.col("prev.day")
            == F.date_sub(F.col("cur.day"), _SNAIVE_LAG)
        ),
    ).select(
        F.col("cur.o_orderpriority").alias("o_orderpriority"),
        F.col("cur.v").alias("v"),
        F.col("prev.v").alias("yhat"),
    )
    e = f.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_points"),
        dsum(F.abs(F.col("v") - F.col("yhat")), 4).alias("sum_abs_err"),
        dsum("v", 4).alias("sum_actual"),
    )
    wape = F.when(F.col("sum_actual") <= 0.0, F.lit(0)).otherwise(
        F.floor(
            F.col("sum_abs_err") * F.lit(float(_SNAIVE_FP))
            / F.col("sum_actual")
        ).cast("bigint")
    )
    return e.select(
        "o_orderpriority",
        "n_points",
        fpq(F.col("sum_abs_err"), 4).alias("sum_abs_err"),
        wape.cast("bigint").alias("wape_fp"),
    )


# ---------------------------------------------------------------------------
# fe_target_encoding_loo — leave-one-out mean target encoding
# ---------------------------------------------------------------------------

_TE_ORACLE = f"""
WITH base AS (
    SELECT o_custkey, o_orderpriority AS cat, o_totalprice AS y
    FROM orders
),
g AS (
    SELECT cat,
           CAST(COUNT(*) AS BIGINT) AS n_cat,
           {dsum_sql('y', 2)} AS sum_y
    FROM base GROUP BY cat
),
enc AS (
    SELECT b.o_custkey, b.cat, b.y, g.n_cat,
           CASE WHEN g.n_cat <= 1 THEN NULL
                ELSE (g.sum_y - b.y) / (CAST(g.n_cat AS DOUBLE) - 1.0)
           END AS te_loo
    FROM base b JOIN g ON g.cat = b.cat
)
SELECT cat, n_cat,
       CAST(COUNT(te_loo) AS BIGINT) AS n_encoded,
       {fpq_sql(dsum_sql('te_loo', 6) + ' / CAST(COUNT(te_loo) AS DOUBLE)', 6)}
           AS mean_encoding,
       {fpq_sql('MIN(te_loo)', 6)} AS min_encoding,
       {fpq_sql('MAX(te_loo)', 6)} AS max_encoding
FROM enc GROUP BY cat, n_cat
"""


@register(
    "fe_target_encoding_loo",
    _TE_ORACLE,
    doc="Leave-one-out mean target encoding — the feature-engineering "
    "primitive for high-cardinality categoricals (each row's encoding "
    "is its category's target mean EXCLUDING the row itself, the "
    "standard leak-free form: encoding with the row included lets "
    "the feature memorize its own label). te = (sum_y - y)/(n-1) "
    "from ONE decimal-exact per-category aggregate broadcast back — "
    "no per-row window, no second scan shape; singleton categories "
    "encode NULL (no leave-one-out mean exists) and are excluded "
    "from the roll-up on both engines identically. Emitted as "
    "per-category encoding profiles (count/mean/min/max) so the "
    "oracle pins the whole distribution.",
)
def fe_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        F.col("o_totalprice").alias("y"),
    )
    g = base.groupBy("cat").agg(
        F.count("*").cast("bigint").alias("n_cat"),
        dsum("y", 2).alias("sum_y"),
    )
    enc = base.join(F.broadcast(g), "cat").select(
        "cat",
        "n_cat",
        F.when(F.col("n_cat") <= 1, F.lit(None).cast("double")).otherwise(
            (F.col("sum_y") - F.col("y"))
            / (F.col("n_cat").cast("double") - F.lit(1.0))
        ).alias("te_loo"),
    )
    return enc.groupBy("cat", "n_cat").agg(
        F.count("te_loo").cast("bigint").alias("n_encoded"),
        fpq(
            dsum("te_loo", 6) / F.count("te_loo").cast("double"), 6
        ).alias("mean_encoding"),
        fpq(F.min("te_loo"), 6).alias("min_encoding"),
        fpq(F.max("te_loo"), 6).alias("max_encoding"),
    )


# ---------------------------------------------------------------------------
# ts_peak_detection — local maxima with a prominence fence
# ---------------------------------------------------------------------------

# A day is a reported peak when it exceeds BOTH neighbors and clears
# the trailing 7-day minimum by the fixed-point prominence fence
# (peak/base >= 1.25, integer cross-multiplied: 4*peak >= 5*base).
_PEAK_NUM, _PEAK_DEN = 5, 4


_PEAK_ORACLE = f"""
WITH daily AS (
    SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
           {dsum_sql('o_totalprice', 2)} AS v
    FROM orders GROUP BY 1, 2
),
w AS (
    SELECT o_orderpriority, day, v,
           lag(v) OVER win AS prev_v,
           lead(v) OVER win AS next_v,
           MIN(v) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
           ) AS base
    FROM daily
    WINDOW win AS (PARTITION BY o_orderpriority ORDER BY day)
)
SELECT o_orderpriority, day,
       {fpq_sql('v', 4)} AS v,
       {fpq_sql('base', 4)} AS base
FROM w
WHERE prev_v IS NOT NULL AND next_v IS NOT NULL AND base IS NOT NULL
  AND v > prev_v AND v > next_v
  AND {_PEAK_DEN} * v >= {_PEAK_NUM} * base
"""


@register(
    "ts_peak_detection",
    _PEAK_ORACLE,
    doc="Local-maximum peak detection with a prominence fence: a day "
    "is a peak when it beats both neighbors AND clears the trailing "
    "7-day minimum by >= 25% (integer cross-multiplication 4v >= "
    "5*base — a float ratio at the fence would be engine-dependent "
    "for borderline days) — the spike-mining primitive between "
    "event_error_spike's z-score and win_drawdown_max's trough view. "
    "Edge days without both neighbors or a full base window are "
    "excluded identically on both engines (NULL predicates). One "
    "window pass over the pre-aggregated daily frame; the lag/lead/"
    "rolling-min trio shares a single sort.",
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(dsum("o_totalprice", 2).alias("v"))
    )
    win = Window.partitionBy("o_orderpriority").orderBy("day")
    base_w = win.rowsBetween(-7, -1)
    w = daily.select(
        "o_orderpriority",
        "day",
        "v",
        F.lag("v").over(win).alias("prev_v"),
        F.lead("v").over(win).alias("next_v"),
        F.min("v").over(base_w).alias("base"),
    )
    return w.filter(
        F.col("prev_v").isNotNull()
        & F.col("next_v").isNotNull()
        & F.col("base").isNotNull()
        & (F.col("v") > F.col("prev_v"))
        & (F.col("v") > F.col("next_v"))
        & (
            F.lit(_PEAK_DEN) * F.col("v")
            >= F.lit(_PEAK_NUM) * F.col("base")
        )
    ).select(
        "o_orderpriority",
        "day",
        fpq(F.col("v"), 4).alias("v"),
        fpq(F.col("base"), 4).alias("base"),
    )


# ---------------------------------------------------------------------------
# stats_chi2_independence — lang x source contingency test
# ---------------------------------------------------------------------------

_CHI2_ORACLE = f"""
WITH c AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nr FROM c GROUP BY lang),
ct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nc FROM c GROUP BY source),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c)
SELECT c.lang, c.source, c.n,
       {fpq_sql(
           'CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE)'
           ' / CAST(g.nt AS DOUBLE)', 6)} AS expected,
       {fpq_sql(
           '(CAST(c.n AS DOUBLE) - CAST(rt.nr AS DOUBLE)'
           ' * CAST(ct.nc AS DOUBLE) / CAST(g.nt AS DOUBLE))'
           ' * (CAST(c.n AS DOUBLE) - CAST(rt.nr AS DOUBLE)'
           ' * CAST(ct.nc AS DOUBLE) / CAST(g.nt AS DOUBLE))'
           ' / (CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE)'
           ' / CAST(g.nt AS DOUBLE))', 6)} AS chi2_contrib
FROM c
JOIN rt ON rt.lang = c.lang
JOIN ct ON ct.source = c.source
CROSS JOIN g
"""


@register(
    "stats_chi2_independence",
    _CHI2_ORACLE,
    doc="Chi-squared independence decomposition over the lang x source "
    "contingency table: per cell, observed count, expected count under "
    "independence (row_total x col_total / grand_total), and the "
    "cell's chi-squared contribution — the corpus-composition "
    "diagnostic that detects when a source's language mix shifted "
    "between crawls (total chi2 = SUM(chi2_contrib), dof = "
    "(R-1)(C-1), both derivable from the rows). All inputs are exact "
    "integer counts; the expected/contribution values are single "
    "identical IEEE expression chains on both engines, fixed-point "
    "quantized. Scale: one hash aggregate to R x C cells, then "
    "broadcast-sized margin joins — the margins are dimension-sized "
    "whatever the corpus is. Extends the experiment-statistics family "
    "(stats_cohens_d, stats_cuped_adjust, stats_ks_two_sample).",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rt = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nr"))
    ct = c.groupBy("source").agg(F.sum("n").cast("bigint").alias("nc"))
    g = c.agg(F.sum("n").cast("bigint").alias("nt"))
    e = (
        F.col("nr").cast("double")
        * F.col("nc").cast("double")
        / F.col("nt").cast("double")
    )
    diff = F.col("n").cast("double") - e
    return (
        c.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(g))
        .select(
            "lang",
            "source",
            "n",
            fpq(e, 6).alias("expected"),
            fpq(diff * diff / e, 6).alias("chi2_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# fe_woe_encoding — weight-of-evidence categorical encoding
# ---------------------------------------------------------------------------

# Laplace-smoothed WOE with rational half-counts kept as INTEGER
# doubled counts (2n+1 over 2N+K) until the single ln() at the end —
# the ln/fpq pairing the fn_math_suite canary licenses.
_WOE_ORACLE = f"""
WITH c AS (
    SELECT o_orderpriority AS category,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_pos,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT)
               AS n_neg
    FROM orders GROUP BY 1
),
g AS (
    SELECT CAST(SUM(n_pos) AS BIGINT) AS t_pos,
           CAST(SUM(n_neg) AS BIGINT) AS t_neg,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM c
)
SELECT c.category, c.n_pos, c.n_neg,
       {fpq_sql(
           'ln((CAST(2 * c.n_pos + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_pos + g.k AS DOUBLE))'
           ' / (CAST(2 * c.n_neg + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_neg + g.k AS DOUBLE)))', 6)} AS woe,
       {fpq_sql(
           '(CAST(2 * c.n_pos + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_pos + g.k AS DOUBLE)'
           ' - CAST(2 * c.n_neg + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_neg + g.k AS DOUBLE))'
           ' * ln((CAST(2 * c.n_pos + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_pos + g.k AS DOUBLE))'
           ' / (CAST(2 * c.n_neg + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_neg + g.k AS DOUBLE)))', 6)} AS iv_contrib
FROM c CROSS JOIN g
"""


@register(
    "fe_woe_encoding",
    _WOE_ORACLE,
    doc="Weight-of-evidence categorical encoding (credit-scoring "
    "classic, the supervised cousin of fe_target_encoding_loo): per "
    "order priority, WOE = ln(P(cat|pos)/P(cat|neg)) against the "
    "target o_orderstatus='F', with Laplace half-count smoothing kept "
    "as exact INTEGER doubled counts (2n+1 / 2N+K) so both engines "
    "feed bit-identical rationals into the one ln() call (the "
    "transcendental-determinism contract fn_math_suite pins); "
    "iv_contrib sums to the information value that ranks features. "
    "Scale: one hash aggregate to K category rows + a 1-row broadcast "
    "of the totals — dimension-sized whatever the fact table is.",
)
def fe_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("category"))
        .agg(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pos"),
            F.sum(
                F.when(F.col("o_orderstatus") != "F", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_neg"),
        )
    )
    g = c.agg(
        F.sum("n_pos").cast("bigint").alias("t_pos"),
        F.sum("n_neg").cast("bigint").alias("t_neg"),
        F.count("*").cast("bigint").alias("k"),
    )
    p_pos = (2 * F.col("n_pos") + 1).cast("double") / (
        2 * F.col("t_pos") + F.col("k")
    ).cast("double")
    p_neg = (2 * F.col("n_neg") + 1).cast("double") / (
        2 * F.col("t_neg") + F.col("k")
    ).cast("double")
    woe = F.log(p_pos / p_neg)
    return c.crossJoin(F.broadcast(g)).select(
        "category",
        "n_pos",
        "n_neg",
        fpq(woe, 6).alias("woe"),
        fpq((p_pos - p_neg) * woe, 6).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# quality_psi_drift — population stability index between time halves
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10


_PSI_VMAX = 100.0  # events.value is uniform-ish [0,100); pinned bucket


# width keeps bucket ids exact integers on both engines


def _psi_oracle() -> str:
    return f"""
WITH span AS (
    SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events
),
b AS (
    SELECT event_type,
           CASE WHEN epoch_us(ts) * 2 <= epoch_us(t0) + epoch_us(t1)
                THEN 0 ELSE 1 END AS half,
           LEAST(CAST(FLOOR(CAST(value AS DOUBLE)
                 * {_PSI_BUCKETS} / {_PSI_VMAX}) AS INT),
                 {_PSI_BUCKETS - 1}) AS bucket
    FROM events CROSS JOIN span
),
c AS (
    SELECT event_type, bucket,
           CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS n_ref,
           CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS n_cur
    FROM b GROUP BY event_type, bucket
),
g AS (
    SELECT event_type,
           CAST(SUM(n_ref) AS BIGINT) AS t_ref,
           CAST(SUM(n_cur) AS BIGINT) AS t_cur,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM c GROUP BY event_type
)
SELECT c.event_type, c.bucket, c.n_ref, c.n_cur,
       {fpq_sql(
           '(CAST(2 * c.n_cur + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_cur + g.k AS DOUBLE)'
           ' - CAST(2 * c.n_ref + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_ref + g.k AS DOUBLE))'
           ' * ln((CAST(2 * c.n_cur + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_cur + g.k AS DOUBLE))'
           ' / (CAST(2 * c.n_ref + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_ref + g.k AS DOUBLE)))', 6)} AS psi_contrib
FROM c JOIN g ON g.event_type = c.event_type
"""


@register(
    "quality_psi_drift",
    _psi_oracle(),
    doc="Population stability index between the first and second time "
    "halves of the event stream, per event type: value distributions "
    "bucket into 10 pinned-width bins (integer floor arithmetic — no "
    "data-dependent quantile edges, so bucketing is bit-exact), and "
    "each bucket contributes (p_cur - p_ref) * ln(p_cur/p_ref) with "
    "Laplace half-count smoothing kept as integer doubled counts (the "
    "fe_woe_encoding rational discipline) — total PSI per type = "
    "SUM(psi_contrib); > 0.2 is the classic retrain/investigate "
    "threshold. The ML-ops drift monitor that catches a feature "
    "distribution shifting between snapshots. Scale: one scan, one "
    "hash aggregate to (type x 10) cells + dimension-sized margins "
    "(the stats_chi2_independence shape); the time split rides in as "
    "a 1-row broadcast.",
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "ts", "value")
    span = ev.agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    half = F.when(
        F.unix_micros(F.col("ts")) * 2
        <= F.unix_micros(F.col("t0")) + F.unix_micros(F.col("t1")),
        0,
    ).otherwise(1)
    bucket = F.least(
        F.floor(
            F.col("value").cast("double") * _PSI_BUCKETS / _PSI_VMAX
        ).cast("int"),
        F.lit(_PSI_BUCKETS - 1),
    )
    c = (
        ev.crossJoin(F.broadcast(span))
        .select("event_type", half.alias("half"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ref"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cur"),
        )
    )
    g = c.groupBy("event_type").agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
        F.count("*").cast("bigint").alias("k"),
    )
    p_cur = (2 * F.col("n_cur") + 1).cast("double") / (
        2 * F.col("t_cur") + F.col("k")
    ).cast("double")
    p_ref = (2 * F.col("n_ref") + 1).cast("double") / (
        2 * F.col("t_ref") + F.col("k")
    ).cast("double")
    return c.join(F.broadcast(g), "event_type").select(
        "event_type",
        "bucket",
        "n_ref",
        "n_cur",
        fpq((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
            "psi_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# stats_permutation_test — hash-deterministic label-permutation inference
# ---------------------------------------------------------------------------


_PERM_N = 16  # pinned permutation count (Monte Carlo resolution 1/16)


_PERM_FP = 1_000_000


_PERM_GROUP = "1-URGENT"


def _perm_test_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    rk = content_hash64_sql(
        "'perm' || CAST(i AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)"
    )
    diff = (
        f"CAST(floor((sa / CAST(na AS DOUBLE)"
        f" - sb / CAST(nb AS DOUBLE)) * {_PERM_FP}) AS BIGINT)"
    )
    return f"""
WITH base AS (
    SELECT o_orderkey, o_totalprice AS y,
           (o_orderpriority = '{_PERM_GROUP}') AS grp
    FROM orders
),
sizes AS (
    SELECT CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN grp THEN 0 ELSE 1 END) AS BIGINT) AS nb
    FROM base
),
obs AS (
    SELECT {diff.replace('sa', "s_a").replace('sb', 's_b')} AS obs_fp
    FROM (
        SELECT {dsum_sql('CASE WHEN grp THEN y END', 2)} AS s_a,
               {dsum_sql('CASE WHEN NOT grp THEN y END', 2)} AS s_b
        FROM base
    ), sizes
),
ranked AS (
    SELECT i, grp AS true_grp, y,
           ROW_NUMBER() OVER (
               PARTITION BY i ORDER BY {rk}, o_orderkey) AS rnk
    FROM base, range(0, {_PERM_N}) t(i)
),
perm AS (
    SELECT i,
           {dsum_sql('CASE WHEN rnk <= sizes.na THEN y END', 2)} AS s_a,
           {dsum_sql('CASE WHEN rnk > sizes.na THEN y END', 2)} AS s_b
    FROM ranked, sizes GROUP BY i, sizes.na
),
pd AS (
    SELECT i, {diff.replace('sa', 's_a').replace('sb', 's_b')} AS diff_fp
    FROM perm, sizes
)
SELECT sizes.na AS n_a, sizes.nb AS n_b,
       obs.obs_fp AS obs_diff_fp,
       CAST({_PERM_N} AS BIGINT) AS n_perms,
       CAST(SUM(CASE WHEN abs(pd.diff_fp) >= abs(obs.obs_fp)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       CAST(SUM(CASE WHEN abs(pd.diff_fp) >= abs(obs.obs_fp)
                THEN 1 ELSE 0 END) * {_PERM_FP} // {_PERM_N} AS BIGINT)
           AS p_value_fp
FROM pd, obs, sizes
GROUP BY sizes.na, sizes.nb, obs.obs_fp
"""


@register(
    "stats_permutation_test",
    _perm_test_oracle(),
    doc="Exact-arithmetic permutation test (two-sided, difference of "
    "group means): does the urgent-priority group's mean order value "
    "differ from the rest beyond chance? The null distribution comes "
    "from 16 pinned label permutations — each permutation i re-ranks "
    "rows by the md5 key 'perm i:orderkey' and assigns the first n_a "
    "ranks to the treatment group, preserving EXACT group sizes (true "
    "permutation semantics, not Bernoulli relabeling; md5 ranking is "
    "the repo's zero-state determinism rule, so any engine reproduces "
    "the identical 16 permutations with no RNG). Group sums are "
    "decimal-exact; each mean difference floor-quantizes to 1e6 "
    "fixed-point BEFORE the |diff_i| >= |obs| comparison, so the "
    "p-value is pure integer arithmetic (resolution 1/16 — a "
    "calibration-grade Monte Carlo, the bootstrap_ci sibling for "
    "hypothesis testing). Scale: one explode x 16 + a per-permutation "
    "rank (16 bounded sorts) + hash aggregates — run on an analysis "
    "sample, like every resampling eval.",
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("y"),
        (F.col("o_orderpriority") == _PERM_GROUP).alias("grp"),
    )
    sizes = base.agg(
        F.sum(F.when(F.col("grp"), 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("grp"), 0).otherwise(1))
        .cast("bigint")
        .alias("nb"),
    )

    def diff_fp(sa, sb, na, nb):
        return F.floor(
            (sa / na.cast("double") - sb / nb.cast("double"))
            * F.lit(_PERM_FP)
        ).cast("bigint")

    obs = (
        base.agg(
            dsum(F.when(F.col("grp"), F.col("y")), 2).alias("s_a"),
            dsum(F.when(~F.col("grp"), F.col("y")), 2).alias("s_b"),
        )
        .crossJoin(F.broadcast(sizes))
        .select(
            "na",
            "nb",
            diff_fp(
                F.col("s_a"), F.col("s_b"), F.col("na"), F.col("nb")
            ).alias("obs_fp"),
        )
    )
    ranked = (
        base.select(
            "o_orderkey",
            "y",
            F.explode(
                F.array(*[F.lit(i) for i in range(_PERM_N)])
            ).alias("i"),
        )
        .withColumn(
            "rk",
            content_hash64(
                F.concat(
                    F.lit("perm"),
                    F.col("i").cast("string"),
                    F.lit(":"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("i").orderBy("rk", "o_orderkey")
            ),
        )
    )
    perm = (
        ranked.crossJoin(F.broadcast(sizes.select("na")))
        .groupBy("i")
        .agg(
            dsum(
                F.when(F.col("rnk") <= F.col("na"), F.col("y")), 2
            ).alias("s_a"),
            dsum(
                F.when(F.col("rnk") > F.col("na"), F.col("y")), 2
            ).alias("s_b"),
        )
        .crossJoin(F.broadcast(sizes))
        .select(
            "i",
            diff_fp(
                F.col("s_a"), F.col("s_b"), F.col("na"), F.col("nb")
            ).alias("diff_fp"),
        )
    )
    return (
        perm.crossJoin(F.broadcast(obs))
        .agg(
            F.first("na").alias("n_a"),
            F.first("nb").alias("n_b"),
            F.first("obs_fp").alias("obs_diff_fp"),
            F.lit(_PERM_N).cast("bigint").alias("n_perms"),
            F.sum(
                F.when(
                    F.abs(F.col("diff_fp")) >= F.abs(F.col("obs_fp")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
        .select(
            "n_a",
            "n_b",
            "obs_diff_fp",
            "n_perms",
            "n_extreme",
            F.expr(f"n_extreme * {_PERM_FP} DIV {_PERM_N}")
            .cast("bigint")
            .alias("p_value_fp"),
        )
    )


# ---------------------------------------------------------------------------
# quality_t_closeness — the third leg of the k/l/t privacy triad
# ---------------------------------------------------------------------------

_TCL_FP = 1_000_000


_TCL_T_FP = 350_000  # pinned t = 0.35 (total-variation distance)


_TCL_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
           c_mktsegment
    FROM customer
),
gv AS (
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS gcnt FROM q GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
cls AS (
    SELECT c_nationkey, bal_bucket, CAST(COUNT(*) AS BIGINT) AS k
    FROM q GROUP BY 1, 2
),
cv AS (
    SELECT c_nationkey, bal_bucket, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM q GROUP BY 1, 2, 3
),
grid AS (
    SELECT cls.c_nationkey, cls.bal_bucket, cls.k, gv.c_mktsegment,
           gv.gcnt, COALESCE(cv.cnt, 0) AS cnt
    FROM cls CROSS JOIN gv
    LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
               AND cv.bal_bucket = cls.bal_bucket
               AND cv.c_mktsegment = gv.c_mktsegment
)
SELECT c_nationkey, bal_bucket, k,
       CAST(SUM(abs(cnt * n.n - gcnt * k)) * {_TCL_FP}
            // (2 * k * n.n) AS BIGINT) AS tvd_fp,
       (CAST(SUM(abs(cnt * n.n - gcnt * k)) * {_TCL_FP}
            // (2 * k * n.n) AS BIGINT) > {_TCL_T_FP}) AS leaking
FROM grid, n
GROUP BY c_nationkey, bal_bucket, k, n.n
"""


@register(
    "quality_t_closeness",
    _TCL_ORACLE,
    doc="t-closeness audit (Li et al. 2007) — completes the privacy "
    "triad with quality_k_anonymity / quality_l_diversity on the SAME "
    "quasi-identifier classes (nation x balance bucket) and sensitive "
    "attribute (market segment): a class can be k-anonymous AND "
    "l-diverse yet still leak when its sensitive-value DISTRIBUTION "
    "diverges from the corpus (e.g. 90/10 where the population is "
    "50/50). Per class, the total-variation distance between the "
    "class and global segment distributions, cross-multiplied to pure "
    "integers (sum |cnt*n - gcnt*k| * 1e6 // (2*k*n) — no float ever "
    "compares) with the pinned t = 0.35 verdict column. The class x "
    "value grid comes from CROSS JOIN against the (sensitive-"
    "cardinality, ~5-row) global value table so absent values count "
    "their full global mass — the term a naive inner join silently "
    "drops. One hash aggregate per grain; output is class-cardinality.",
)
def quality_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0)
        .cast("long")
        .alias("bal_bucket"),
        "c_mktsegment",
    )
    from pyspark.sql import Window as W

    # n rides WITH the segment table (unpartitioned window over the
    # ~5-row aggregate) so the grid needs ONE bounded broadcast, not a
    # second scalar one
    gv = (
        q.groupBy("c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("gcnt"))
        .withColumn(
            "n", F.sum("gcnt").over(W.partitionBy()).cast("bigint")
        )
    )
    cls = q.groupBy("c_nationkey", "bal_bucket").agg(
        F.count("*").cast("bigint").alias("k")
    )
    cv = q.groupBy("c_nationkey", "bal_bucket", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    grid = (
        cls.crossJoin(F.broadcast(gv))
        .join(cv, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left")
        .select(
            "c_nationkey",
            "bal_bucket",
            "k",
            "n",
            "gcnt",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    tvd = F.expr(
        f"sum(abs(cnt * n - gcnt * k)) * {_TCL_FP} DIV (2 * k * n)"
    ).cast("bigint")
    return (
        grid.groupBy("c_nationkey", "bal_bucket", "k", "n")
        .agg(tvd.alias("tvd_fp"))
        .select(
            "c_nationkey",
            "bal_bucket",
            "k",
            "tvd_fp",
            (F.col("tvd_fp") > _TCL_T_FP).alias("leaking"),
        )
    )


# ---------------------------------------------------------------------------
# fe_feature_hashing — the hashing trick, collision-audited
# ---------------------------------------------------------------------------

_FH_BUCKETS = 32


def _feature_hashing_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    h = content_hash64_sql("'fh:' || name || '=' || val")
    return f"""
WITH feats AS (
    SELECT 'seg' AS name, c_mktsegment AS val FROM customer
    UNION ALL
    SELECT 'nat' AS name, CAST(c_nationkey AS VARCHAR) AS val FROM customer
),
hashed AS (
    SELECT name, val, {h} AS h FROM feats
),
b AS (
    SELECT h % {_FH_BUCKETS} AS bucket,
           CASE WHEN (h // {_FH_BUCKETS}) % 2 = 0 THEN 1 ELSE -1 END
               AS sign,
           name, val
    FROM hashed
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT name || '=' || val) AS BIGINT)
           AS n_distinct_features,
       CAST(SUM(sign) AS BIGINT) AS signed_mass
FROM b GROUP BY bucket
"""


@register(
    "fe_feature_hashing",
    _feature_hashing_oracle(),
    doc="Feature hashing (the hashing trick, Weinberger et al. 2009) "
    "with a collision audit: categorical features (market segment; "
    "nation key) map to a fixed 32-bucket space via the repo's md5 "
    "content hash, with the next hash bit supplying the +/-1 sign "
    "that makes collisions cancel in expectation. Output per bucket: "
    "row mass, DISTINCT original features mapped (the collision "
    "count — >1 means two features share a slot, the quantity that "
    "sizes the bucket space), and the signed mass. Zero vocabulary "
    "state — the property that lets a 100 TB pipeline featurize "
    "unbounded-cardinality categoricals in one stateless projection "
    "(fe_target_encoding_loo/fe_woe_encoding need a model table; "
    "this needs nothing). All-integer; one explode x 2 features + "
    "one hash aggregate at bucket cardinality.",
)
def fe_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    c = t(spark, sf_dir, "customer")
    feats = c.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("seg").alias("name"),
                    F.col("c_mktsegment").alias("val"),
                ),
                F.struct(
                    F.lit("nat").alias("name"),
                    F.col("c_nationkey").cast("string").alias("val"),
                ),
            )
        ).alias("f")
    ).select(F.col("f.name").alias("name"), F.col("f.val").alias("val"))
    hashed = feats.select(
        "name",
        "val",
        content_hash64(
            F.concat(F.lit("fh:"), F.col("name"), F.lit("="), F.col("val"))
        ).alias("h"),
    )
    b = hashed.select(
        "name",
        "val",
        (F.col("h") % _FH_BUCKETS).cast("bigint").alias("bucket"),
        F.when((F.expr(f"h DIV {_FH_BUCKETS}") % 2) == 0, 1)
        .otherwise(-1)
        .alias("sign"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct(
            F.concat(F.col("name"), F.lit("="), F.col("val"))
        )
        .cast("bigint")
        .alias("n_distinct_features"),
        F.sum("sign").cast("bigint").alias("signed_mass"),
    )


# ---------------------------------------------------------------------------
# ts_acf_multi_lag — the correlogram (ACF at lags 1, 2, 3, 7)
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 7)


# same downscale rationale as ts_acf_lag1: deviation
# products grow with SF^2 while day count is calendar-bounded, so
# quantizing DOWN keeps sums inside int64 at any scale
_ACFM_DOWNSCALE = 1_000_000


def _acf_multi_oracle() -> str:

    lag_rows = ", ".join(f"({L})" for L in _ACF_LAGS)
    return f"""
WITH daily AS (
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS x
    FROM orders GROUP BY o_orderdate
),
mu AS (
    SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily
),
lags(lag) AS (VALUES {lag_rows}),
paired AS (
    SELECT l.lag, d.x, mu.mu, mu.n_days,
           lead(d.x, l.lag) OVER (PARTITION BY l.lag ORDER BY d.day)
               AS x_lead
    FROM daily d CROSS JOIN lags l, mu
),
terms AS (
    SELECT lag, n_days,
           CAST(floor((x - mu) * (x_lead - mu) / {_ACFM_DOWNSCALE})
                AS BIGINT) AS num_q,
           CAST(floor((x - mu) * (x - mu) / {_ACFM_DOWNSCALE})
                AS BIGINT) AS den_q
    FROM paired
)
SELECT CAST(lag AS INT) AS lag,
       MAX(n_days) AS n_days,
       CAST(COUNT(num_q) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS BIGINT)
           AS num_sum,
       CAST(SUM(den_q) AS BIGINT) AS den_sum,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS DOUBLE)
           / CAST(SUM(den_q) AS DOUBLE) AS acf
FROM terms GROUP BY lag
"""


@register(
    "ts_acf_multi_lag",
    _acf_multi_oracle(),
    doc="The correlogram: autocorrelation of the daily revenue series "
    "at lags 1, 2, 3 and 7 in ONE pass — ts_acf_lag1 generalized to "
    "the lag set an analyst actually reads (lag-7 is the weekly-"
    "seasonality detector; the 1-2-3 decay profile separates AR-like "
    "persistence from noise). Identical determinism discipline as the "
    "lag-1 parent: exact decimal daily sums, one broadcast mean, "
    "deviation products floor-quantized to fixed point BEFORE "
    "summation, the classical common denominator sum((x-mu)^2) shared "
    "by every lag. The lag dimension is a 4-row VALUES/literal-array "
    "cross over the DAY-cardinality frame (calendar-bounded, never "
    "corpus-sized), so one window pass per lag partition computes all "
    "four leads.",
)
def ts_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("x"))
    )
    mu = daily.agg(
        (
            F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    lagged = daily.select(
        "day",
        "x",
        F.explode(F.array(*[F.lit(L) for L in _ACF_LAGS])).alias("lag"),
    )
    paired = lagged.crossJoin(F.broadcast(mu))
    # one ordered window per lag partition; lead distance is the lag
    # value — expressed via a join-free when() ladder over the pinned
    # lag literals (lead() needs a literal offset)
    w = W.partitionBy("lag").orderBy("day")
    x_lead = None
    for L in _ACF_LAGS:
        expr = F.lead("x", L).over(w)
        x_lead = (
            F.when(F.col("lag") == L, expr)
            if x_lead is None
            else x_lead.when(F.col("lag") == L, expr)
        )
    paired = paired.select(
        "lag", "x", "mu", "n_days", x_lead.alias("x_lead")
    )
    num_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x_lead") - F.col("mu"))
        / _ACFM_DOWNSCALE
    ).cast("bigint")
    den_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x") - F.col("mu"))
        / _ACFM_DOWNSCALE
    ).cast("bigint")
    terms = paired.select(
        F.col("lag").cast("int").alias("lag"),
        "n_days",
        num_q.alias("num_q"),
        den_q.alias("den_q"),
    )
    return terms.groupBy("lag").agg(
        F.max("n_days").alias("n_days"),
        F.count("num_q").cast("bigint").alias("n_pairs"),
        F.sum("num_q").cast("bigint").alias("num_sum"),
        F.sum("den_q").cast("bigint").alias("den_sum"),
        (
            F.sum("num_q").cast("double") / F.sum("den_q").cast("double")
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# ts_seasonal_residual_anomaly — deseasonalized spike detection
# ---------------------------------------------------------------------------


_SRA_Z = 3  # |residual| > 3 sigma flags the day


def _seasonal_resid_oracle() -> str:
    return f"""
WITH daily AS (
    SELECT o_orderdate AS day,
           -- DuckDB dayofweek is 0-6 (Sunday=0); Spark's is 1-7
           -- (Sunday=1) — align on Spark's convention
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           {dsum_sql('o_totalprice')} AS v
    FROM orders GROUP BY 1, 2
),
season AS (
    SELECT dow,
           CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS expected
    FROM daily GROUP BY dow
),
resid AS (
    SELECT d.day, d.dow, d.v, s.expected, d.v - s.expected AS r
    FROM daily d JOIN season s ON s.dow = d.dow
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('r', 6)} AS s1,
           {dsum_sql('r * r / 1000000.0', 6)} AS s2m
    FROM resid
),
z AS (
    SELECT r.day, r.dow, r.v, r.expected, r.r,
           sqrt(greatest(
               s2m * 1000000.0 / CAST(n AS DOUBLE)
               - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)),
               1e-9)) AS sigma
    FROM resid r, mom
)
SELECT day, dow,
       {fpq_sql('v', 4)} AS v,
       {fpq_sql('expected', 4)} AS expected,
       {fpq_sql('r / sigma', 4)} AS z
FROM z WHERE abs(r) > {_SRA_Z} * sigma
"""


@register(
    "ts_seasonal_residual_anomaly",
    _seasonal_resid_oracle(),
    doc="Deseasonalized anomaly detection: remove the weekday seasonal "
    "index (per-weekday mean of the daily revenue series — the "
    "ts_weekday_seasonality model) and flag days whose RESIDUAL "
    "exceeds 3 residual-sigmas — the spike detector that does not "
    "false-alarm on 'every Saturday is high' the way a raw z-score "
    "does (event_error_spike) and does not need a trailing window "
    "(ts_peak_detection). Decimal-exact daily sums and residual "
    "moments (the r^2 sum pre-divides by 1e6 inside the decimal cast "
    "— deviation squares grow with SF^2), one identical IEEE "
    "sigma/ratio expression chain on both engines, epsilon-guarded "
    "variance, fpq-quantized output. Everything after the daily "
    "aggregate is calendar-bounded (7-row season model broadcast, "
    "1-row moments).",
)
def ts_seasonal_residual_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").alias("day"),
            F.dayofweek("o_orderdate").cast("int").alias("dow"),
        )
        .agg(dsum("o_totalprice").alias("v"))
    )
    season = daily.groupBy("dow").agg(
        (
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("expected")
    )
    resid = daily.join(F.broadcast(season), "dow").select(
        "day", "dow", "v", "expected",
        (F.col("v") - F.col("expected")).alias("r"),
    )
    mom = resid.agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("r", 6).alias("s1"),
        dsum(F.col("r") * F.col("r") / F.lit(1000000.0), 6).alias("s2m"),
    )
    z = resid.crossJoin(F.broadcast(mom)).select(
        "day", "dow", "v", "expected", "r",
        F.sqrt(
            F.greatest(
                F.col("s2m") * F.lit(1000000.0) / F.col("n").cast("double")
                - (F.col("s1") / F.col("n").cast("double"))
                * (F.col("s1") / F.col("n").cast("double")),
                F.lit(1e-9),
            )
        ).alias("sigma"),
    )
    return z.filter(
        F.abs(F.col("r")) > F.lit(_SRA_Z) * F.col("sigma")
    ).select(
        "day",
        "dow",
        fpq("v", 4).alias("v"),
        fpq("expected", 4).alias("expected"),
        fpq(F.col("r") / F.col("sigma"), 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_power_analysis — experiment sample-size design
# ---------------------------------------------------------------------------

# Pinned design constants: two-sided alpha = 0.05 (z = 1.96), power =
# 0.80 (z = 0.8416), minimum detectable effect = 2% of the segment
# mean. Exact decimal literals so both engines fold the same doubles.
_PWR_Z_ALPHA = "1.96"


_PWR_Z_BETA = "0.8416"


_PWR_MDE_NUM, _PWR_MDE_DEN = 2, 100  # MDE = 2% of mean


def _power_oracle() -> str:
    za, zb = _PWR_Z_ALPHA, _PWR_Z_BETA
    return f"""
WITH base AS (
    SELECT c_mktsegment AS segment, c_acctbal AS y FROM customer
),
mom AS (
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {dsum_sql('y', 2)} AS s1,
           {dsum_sql('y * y / 1000.0', 6)} AS s2m
    FROM base GROUP BY segment
),
st AS (
    SELECT segment, n_obs,
           s1 / CAST(n_obs AS DOUBLE) AS mean,
           greatest(s2m * 1000.0 / CAST(n_obs AS DOUBLE)
                    - (s1 / CAST(n_obs AS DOUBLE))
                    * (s1 / CAST(n_obs AS DOUBLE)), 0.0) AS variance
    FROM mom
)
SELECT segment, n_obs,
       {fpq_sql('mean', 4)} AS mean,
       {fpq_sql('variance', 2)} AS variance,
       CAST(ceil(2.0 * ({za} + {zb}) * ({za} + {zb}) * variance
                 / ((mean * {_PWR_MDE_NUM} / {_PWR_MDE_DEN})
                    * (mean * {_PWR_MDE_NUM} / {_PWR_MDE_DEN})))
            AS BIGINT) AS required_n_per_arm
FROM st
"""


@register(
    "stats_power_analysis",
    _power_oracle(),
    doc="Experiment sample-size design — the missing PRE-experiment "
    "half of the A/B family (stats_ab_test/cuped/mannwhitney analyze "
    "results; this sizes the experiment first): per customer segment, "
    "the two-arm n needed to detect a 2% lift in mean balance at "
    "alpha = 0.05 / power = 0.80 — n = 2(z_a+z_b)^2 sigma^2 / MDE^2, "
    "the standard normal-approximation formula. Variance from "
    "decimal-exact moments (the y^2 sum pre-divides by 1e3 inside "
    "the decimal cast), pinned z constants as exact double literals, "
    "ONE identical IEEE expression chain ending in an integer ceil "
    "(ceil at a representable boundary cannot diverge because both "
    "engines evaluate the same double). One hash aggregate at "
    "segment cardinality; output is segment-sized at any scale.",
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:

    base = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("y"),
    )
    mom = base.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        dsum("y", 2).alias("s1"),
        dsum(F.col("y") * F.col("y") / F.lit(1000.0), 6).alias("s2m"),
    )
    n_d = F.col("n_obs").cast("double")
    mean = F.col("s1") / n_d
    variance = F.greatest(
        F.col("s2m") * F.lit(1000.0) / n_d - mean * mean, F.lit(0.0)
    )
    za_zb = F.lit(float(_PWR_Z_ALPHA)) + F.lit(float(_PWR_Z_BETA))
    mde = mean * F.lit(_PWR_MDE_NUM) / F.lit(_PWR_MDE_DEN)
    return mom.select(
        "segment",
        "n_obs",
        fpq(mean, 4).alias("mean"),
        fpq(variance, 2).alias("variance"),
        F.ceil(F.lit(2.0) * za_zb * za_zb * variance / (mde * mde))
        .cast("bigint")
        .alias("required_n_per_arm"),
    )


# ---------------------------------------------------------------------------
# quality_dp_count_release — deterministic differential-privacy release
# ---------------------------------------------------------------------------

_DP_EPS_NUM, _DP_EPS_DEN = 1, 2  # epsilon = 0.5 -> Laplace scale b = 2


_DP_U_DEN = 1 << 52  # dyadic uniform: (h % 2^52) / 2^52 is exact


def _dp_release_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    h = content_hash64_sql("'dp:' || CAST(c_nationkey AS VARCHAR)")
    b = f"({_DP_EPS_DEN}.0 / {_DP_EPS_NUM}.0)"
    u = f"(CAST({h} % {_DP_U_DEN} AS DOUBLE) / {_DP_U_DEN}.0)"
    v = f"({u} - 0.5)"
    noise = (
        f"(-{b} * (CASE WHEN {v} >= 0 THEN 1.0 ELSE -1.0 END)"
        f" * ln(greatest(1.0 - 2.0 * abs({v}), 1e-12)))"
    )
    return f"""
WITH c AS (
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_true
    FROM customer GROUP BY 1
)
SELECT c_nationkey, n_true,
       {fpq_sql(noise, 6)} AS noise,
       {fpq_sql(f'CAST(n_true AS DOUBLE) + {noise}', 6)} AS n_noisy
FROM c
"""


@register(
    "quality_dp_count_release",
    _dp_release_oracle(),
    doc="Differentially-private count release (epsilon = 0.5 Laplace "
    "mechanism, sensitivity-1 counting query) — the RELEASE side of "
    "the privacy family (k/l/t audit what a table leaks; this is how "
    "an engine publishes aggregate counts with a formal guarantee). "
    "The Laplace draw is DETERMINISTIC with zero RNG state: the "
    "uniform is the dyadic (md5 % 2^52)/2^52 of the group key (exact "
    "in double — numerator < 2^52, denominator a power of two) pushed "
    "through the inverse CDF -b*sign(v)*ln(1-2|v|), the repo's "
    "hash-not-rng rule applied to noise (NOTE: a production DP "
    "deployment must key the hash with a SECRET salt and fresh "
    "release id — a public deterministic draw is auditable, which is "
    "what an ORACLE needs and a privacy release must avoid; the "
    "mechanism and calibration are what this entry verifies). ln is "
    "the fn_math_suite-licensed transcendental, epsilon-guarded at "
    "the u->0 pole, fpq-quantized. One hash aggregate + pure "
    "projection.",
)
def quality_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    c = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_true"))
    )
    h = content_hash64(
        F.concat(F.lit("dp:"), F.col("c_nationkey").cast("string"))
    )
    u = (h % F.lit(_DP_U_DEN)).cast("double") / F.lit(float(_DP_U_DEN))
    v = u - F.lit(0.5)
    b = F.lit(float(_DP_EPS_DEN) / float(_DP_EPS_NUM))
    noise = (
        -b
        * F.when(v >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(
            F.greatest(
                F.lit(1.0) - F.lit(2.0) * F.abs(v), F.lit(1e-12)
            )
        )
    )
    return c.select(
        "c_nationkey",
        "n_true",
        fpq(noise, 6).alias("noise"),
        fpq(F.col("n_true").cast("double") + noise, 6).alias("n_noisy"),
    )


# ---------------------------------------------------------------------------
# ts_theil_sen_trend — robust trend slope of the daily series
# ---------------------------------------------------------------------------

_TS_FP = 1_000_000


def _theil_sen_oracle() -> str:
    return f"""
WITH daily AS (
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS x
    FROM orders GROUP BY o_orderdate
),
pairs AS (
    SELECT CAST(floor((b.x - a.x)
                / CAST(datediff('day', a.day, b.day) AS DOUBLE)
                * {_TS_FP}) AS BIGINT) AS slope_fp
    FROM daily a JOIN daily b ON b.day > a.day
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
ranked AS (
    SELECT slope_fp,
           ROW_NUMBER() OVER (ORDER BY slope_fp) AS rn
    FROM pairs
)
SELECT n.n_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       r.slope_fp AS theil_sen_slope_fp,
       (SELECT MIN(slope_fp) FROM pairs) AS min_slope_fp,
       (SELECT MAX(slope_fp) FROM pairs) AS max_slope_fp
FROM ranked r, n
WHERE r.rn = (n.n_pairs + 1) // 2
"""


@register(
    "ts_theil_sen_trend",
    _theil_sen_oracle(),
    doc="Theil-Sen robust trend estimator over the daily revenue "
    "series: the LOWER MEDIAN of all pairwise slopes (x_j - x_i) / "
    "(day_j - day_i), i < j — the outlier-resistant alternative to "
    "agg_linreg_slope's least squares (a single anomalous day moves "
    "OLS, not the slope median; breakdown point 29%). Determinism: "
    "each pairwise slope floor-quantizes to 1e6 fixed point, the "
    "median is the exact (n+1)//2-th order statistic (LOWER median — "
    "never the engine-dependent average of two middles), day "
    "differences are integer datediffs. Scale: the pair relation is "
    "CALENDAR-bounded (~2.4k days -> ~2.9M pairs at ANY corpus "
    "size), so the one global sort it takes is a fixed-size job "
    "regardless of SF — the same bounded-frame argument as every "
    "daily-series query.",
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("x"))
        .localCheckpoint(eager=True)
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, F.col("db") > F.col("da"))
        .select(
            F.floor(
                (F.col("xb") - F.col("xa"))
                / F.datediff("db", "da").cast("double")
                * F.lit(_TS_FP)
            )
            .cast("bigint")
            .alias("slope_fp")
        )
        .localCheckpoint(eager=True)
    )
    stats = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.min("slope_fp").alias("min_slope_fp"),
        F.max("slope_fp").alias("max_slope_fp"),
    )
    n_days = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    ranked = pairs.withColumn(
        "rn", F.row_number().over(W.orderBy("slope_fp"))
    )
    med = (
        ranked.crossJoin(F.broadcast(stats.select("n_pairs")))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
        .select(F.col("slope_fp").alias("theil_sen_slope_fp"))
    )
    return (
        stats.crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(med))
        .select(
            "n_pairs",
            "n_days",
            "theil_sen_slope_fp",
            "min_slope_fp",
            "max_slope_fp",
        )
    )


# ---------------------------------------------------------------------------
# fe_quantile_binning — equal-frequency feature binning, grid-bounded
# ---------------------------------------------------------------------------

_QBIN_N = 10


def _qbin_oracle() -> str:
    return f"""
WITH v AS (
    SELECT CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents FROM customer
),
per_val AS (
    SELECT cents, CAST(COUNT(*) AS BIGINT) AS n_v FROM v GROUP BY cents
),
cum AS (
    SELECT cents, n_v,
           SUM(n_v) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
    FROM per_val
),
tot AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n FROM per_val),
fences AS (
    SELECT d.d AS bin, MIN(c.cents) AS fence_cents
    FROM (SELECT unnest(range(1, {_QBIN_N} + 1)) AS d) d
    CROSS JOIN tot
    JOIN cum c ON c.cum_n >= (tot.n * (d.d - 1)) // {_QBIN_N} + 1
    GROUP BY d.d
),
fc AS (
    SELECT f.bin, f.fence_cents, c.cum_n
    FROM fences f JOIN cum c ON c.cents = f.fence_cents
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(fence_cents AS BIGINT) AS fence_cents,
       CAST(COALESCE(LEAD(cum_n) OVER (ORDER BY bin), tot.n)
            - (cum_n - (SELECT n_v FROM per_val p
                        WHERE p.cents = fc.fence_cents))
            AS BIGINT) AS n_in_bin
FROM fc CROSS JOIN tot
ORDER BY bin
"""


@register(
    "fe_quantile_binning",
    _qbin_oracle(),
    doc="Equal-frequency (quantile) feature binning — the "
    "feature-engineering workhorse beside fe_woe_encoding / "
    "fe_feature_hashing: 10 bins over account balance, each bin's "
    "fence being the smallest value whose cumulative count reaches "
    "the bin's rank threshold (exact, fully deterministic — no "
    "approx-percentile sketch variance). The value is pre-quantized "
    "to a fixed cents grid, so the ordered cumulative pass runs over "
    "GRID-cardinality rows (bounded by the value range, independent "
    "of corpus size) — the text_quality_calibration discipline; the "
    "raw table is touched by one hash aggregate only. Bin counts "
    "derive from consecutive fence cumulative counts via a 10-row "
    "window (lead), never a per-row range join.",
)
def fe_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    v = t(spark, sf_dir, "customer").select(
        F.expr("CAST(FLOOR(c_acctbal * 100) AS BIGINT)").alias("cents")
    )
    per_val = v.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("n_v")
    )
    cum = per_val.select(
        "cents",
        "n_v",
        F.sum("n_v")
        .over(
            W.orderBy("cents").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .alias("cum_n"),
    )
    tot = per_val.agg(F.sum("n_v").cast("bigint").alias("n"))
    bins = spark.range(1, _QBIN_N + 1).select(
        F.col("id").cast("bigint").alias("bin")
    )
    fences = (
        bins.crossJoin(F.broadcast(tot))
        .join(
            cum.select("cents", "cum_n"),
            F.col("cum_n") >= F.expr(f"(n * (bin - 1)) DIV {_QBIN_N} + 1"),
        )
        .groupBy("bin")
        .agg(F.min("cents").alias("fence_cents"))
    )
    fc = fences.join(
        cum, F.col("fence_cents") == cum["cents"]
    ).select("bin", "fence_cents", "cum_n", "n_v")
    wl = W.orderBy("bin")
    return (
        fc.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.col("fence_cents").cast("bigint").alias("fence_cents"),
            (
                F.coalesce(F.lead("cum_n").over(wl), F.col("n"))
                - (F.col("cum_n") - F.col("n_v"))
            )
            .cast("bigint")
            .alias("n_in_bin"),
        )
        .orderBy("bin")
    )
