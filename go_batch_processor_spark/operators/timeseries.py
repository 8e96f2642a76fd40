"""Time-series utility operators: gap filling, value histograms, and
latest-record-per-key compaction — the everyday patterns a warehouse user
reaches for between the headline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_batch_processor_spark.catalog import load_table
from go_batch_processor_spark.registry import register

HIST_BIN = 25.0


@register(
    "timeseries_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT s.hour, t.event_type, coalesce(a.n, 0) AS n
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN actual a ON a.hour = s.hour AND a.event_type = t.event_type
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type with zero-filled gaps: an hour
    spine (sequence over the min..max range) cross-joined with the type
    dim, left-joined to actual counts.

    At scale the spine is tiny (hours x types) and broadcast; the only
    big-data pass is the groupBy on the facts.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(actual), ["hour", "event_type"], "left")
        .select("hour", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )


@register(
    "agg_value_histogram",
    oracle=f"""
    SELECT CAST(floor(value / {HIST_BIN}) AS BIGINT) AS bin,
           count(*) AS n,
           round(min(value), 2) AS bin_min,
           round(max(value), 2) AS bin_max
    FROM events
    GROUP BY 1
    """,
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (floor-division binning) — one hash aggregate,
    O(bins) output regardless of input size."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / HIST_BIN).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("bin_min"),
        F.round(F.max("value"), 2).alias("bin_max"),
    )


@register(
    "window_dedup_latest",
    oracle="""
    SELECT user_id, event_id, ts, value
    FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def window_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key (CDC compaction / SCD type-1 read): rank by
    event time descending, keep rank 1. The deterministic tiebreak matters:
    without it, equal-timestamp keys flap between runs."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("user_id", "event_id", "ts", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "timeseries_resample_ohlc",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           arg_min(value, ts) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def timeseries_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to hourly OHLC bars per type — the
    canonical time-series compaction (tick data -> bars).

    open/close are min_by/max_by on the event time; the fixture's
    nanosecond timestamps are unique within every (hour, type) group
    (asserted against the data), so the pick is deterministic and the
    oracle bit-exact — values are picked, not summed, hence no rounding.
    One hash aggregate, O(hours x types) output; min_by/max_by carry
    constant state per group (no sort, no window) — this is the shape that
    holds at 100 TB of ticks. For tie-prone sources, extend the ordering
    key to a (ts, id) struct on the Spark side.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "timeseries_weighted_ma",
    oracle="""
    SELECT user_id, event_id, ts, value,
           round((3 * value
                  + coalesce(2 * lag(value, 1) OVER w, 0)
                  + coalesce(lag(value, 2) OVER w, 0))
                 / (3 + CASE WHEN lag(value, 1) OVER w IS NULL THEN 0 ELSE 2 END
                      + CASE WHEN lag(value, 2) OVER w IS NULL THEN 0 ELSE 1 END),
                 4) AS wma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def timeseries_weighted_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted moving average (weights 3/2/1 over the last three
    observations per user), with edge rows renormalized to the weights of
    the observations that actually exist — the standard WMA smoother.

    Scale: two lags over ONE keyed window = a single shuffle on user_id and
    one sort per partition; no self-join, no range explosion. Per-row
    arithmetic is IEEE-exact, but the quotient is rounded to 4 decimals on
    both sides per the parity rules (division of independently-derived
    doubles).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l1 = F.lag("value", 1).over(w)
    l2 = F.lag("value", 2).over(w)
    num = (
        3 * F.col("value")
        + F.coalesce(2 * l1, F.lit(0))
        + F.coalesce(l2, F.lit(0))
    )
    den = (
        F.lit(3)
        + F.when(l1.isNull(), 0).otherwise(2)
        + F.when(l2.isNull(), 0).otherwise(1)
    )
    return ev.select(
        "user_id", "event_id", "ts", "value", F.round(num / den, 4).alias("wma")
    )


@register(
    "timeseries_interpolate_linear",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / count(*) / 100.0, 6) AS val
      FROM events GROUP BY 1, 2
    ),
    dense AS (
      SELECT s.hour, t.event_type, a.val
      FROM spine s CROSS JOIN types t
      LEFT JOIN actual a ON a.hour = s.hour AND a.event_type = t.event_type
    ),
    ctx AS (
      SELECT hour, event_type, val,
        last_value(val IGNORE NULLS) OVER wb AS pv,
        last_value(CASE WHEN val IS NOT NULL THEN hour END IGNORE NULLS) OVER wb AS pt,
        first_value(val IGNORE NULLS) OVER wf AS nv,
        first_value(CASE WHEN val IS NOT NULL THEN hour END IGNORE NULLS) OVER wf AS nt
      FROM dense
      WINDOW
        wb AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT hour, event_type,
      round(CASE
        WHEN val IS NOT NULL THEN val
        WHEN pv IS NULL THEN nv
        WHEN nv IS NULL THEN pv
        ELSE pv + (nv - pv) * ((epoch(hour) - epoch(pt)) / (epoch(nt) - epoch(pt)))
      END, 6) AS val_interp
    FROM ctx
    """,
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over gaps in the hourly mean-value series per
    event type (the numeric sibling of timeseries_gapfill's zero-fill):
    missing hours take the time-weighted blend of the nearest non-missing
    neighbors; leading/trailing gaps extend the nearest edge value.

    Scale shape: the dense spine is (hours x types) — broadcast-sized —
    and the neighbor context is two PARTITIONED windows (forward pass
    carries last-seen, backward pass next-seen, both ignorenulls); the
    only corpus-sized op is the hourly aggregate. The hourly mean is
    computed over EXACT integer cents (a BIGINT sum is order-independent
    where a double sum is not — a plain round(avg, 6) straddled a
    half-point at sf0.1), so both engines see bit-identical series and
    the per-row IEEE interpolation arithmetic matches exactly; the SQL
    mirrors the Spark expression tree's association.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    # Exact-integer mean: sum 2-decimal values as cents (a BIGINT sum is
    # order-independent, unlike a double sum), divide once — identical
    # IEEE result in both engines regardless of shuffle order.
    actual = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 100.0,
            6,
        ).alias("val")
    )
    dense = (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(actual), ["hour", "event_type"], "left")
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    hour_if_val = F.when(F.col("val").isNotNull(), F.col("hour"))
    ctx = dense.select(
        "hour",
        "event_type",
        "val",
        F.last("val", ignorenulls=True).over(wb).alias("pv"),
        F.last(hour_if_val, ignorenulls=True).over(wb).alias("pt"),
        F.first("val", ignorenulls=True).over(wf).alias("nv"),
        F.first(hour_if_val, ignorenulls=True).over(wf).alias("nt"),
    )
    frac = (
        (F.unix_timestamp("hour") - F.unix_timestamp("pt")).cast("double")
        / (F.unix_timestamp("nt") - F.unix_timestamp("pt")).cast("double")
    )
    interp = (
        F.when(F.col("val").isNotNull(), F.col("val"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return ctx.select(
        "hour", "event_type", F.round(interp, 6).alias("val_interp")
    )


EWMA_ALPHA = 0.3


def _spread_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit hash-repartition on the group key ahead of an
    applyInPandas kernel (r9, measured): AQE's byte-based partition
    coalescing undercounts Python-kernel cost per row — at sf0.1 the
    600k-row events shuffle coalesces to 2 partitions, so the kernel
    stage runs at parallelism 2 regardless of cores. An explicit
    repartition(N, key) pins the exchange (AQE does not coalesce
    user-specified partition counts) and the downstream
    groupBy(key).applyInPandas REUSES it — hashpartitioning(key, N)
    satisfies the kernel's distribution requirement, so there is no
    second shuffle and no extra cost at any scale.
    timeseries_kalman_filter: 3.2 s -> 0.9 s at sf0.1, local[32].
    Per-group results are unchanged (same rows per group, kernel sorts
    within the group), so oracle parity is unaffected."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *keys)


def _ewma_kernel(pdf):
    """Per-user EWMA over the time-ordered value series: the classic
    recursive y_t = a*x_t + (1-a)*y_{t-1} (pandas ewm adjust=False).
    Runs inside applyInPandas — per-group sequential state is the one
    shape Spark's built-in window/agg surface cannot express without an
    exploding (1-a)^-t weight rewrite (numerically unbounded), making
    this the documented legitimate Pandas-UDF use.

    Sort carries event_id as tiebreak: rows with tied timestamps would
    otherwise keep shuffle-dependent order and make the recursion
    nondeterministic across runs (repo-wide ts-order rule,
    tests/test_ts_ties.py)."""
    pdf = pdf.sort_values(["ts", "event_id"])
    # Unrounded: the operator grains JVM-side with the shared
    # scaled-floor expression (determinism-ledger class 11) — pandas
    # .round is banker's and neither engine's round() is a shared
    # primitive at exact half-points.
    pdf["ewma"] = pdf["value"].ewm(alpha=EWMA_ALPHA, adjust=False).mean()
    return pdf[["user_id", "event_id", "ts", "ewma"]]


_EWMA_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, event_id, ts, rn, value, value AS y
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.ts, s.rn, s.value,
             0.3 * s.value + 0.7 * r.y AS y
      FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts,
           floor(y * 1000000.0 + 0.5) / 1000000.0 AS ewma FROM rec
    """


@register("timeseries_ewma", oracle=_EWMA_ORACLE)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user over event time.

    Scale shape: ONE shuffle on user_id, then each group runs its
    sequential recursion inside an Arrow batch; state is O(1) per group.
    FULLY ORACLED, bit-exactly: the DuckDB twin is a RECURSIVE CTE
    running the identical y_t = a*x_t + (1-a)*y_{t-1} recursion in the
    identical (ts, event_id) order, so the doubles agree to the last
    ulp (measured: pandas ewm(adjust=False) == the naive recursion
    bit-for-bit; a banded closed-form twin was tried first and FAILED —
    early-sequence EWMA values sit exactly on decimal half-points where
    a 1-ulp order-of-summation difference flips the 6-decimal round).
    The grain is the shared SCALED-FLOOR floor(y*1e6 + 0.5)/1e6 on both
    engines, not round(y, 6): early-sequence EWMA values are finite
    decimals (2-decimal data, decimal alpha), and at an exact half the
    engines disagree on rounding the same double (Spark BigDecimal-
    exact HALF_UP vs DuckDB scaled-multiply — determinism-ledger class
    11, caught by the r13 sf0.1 strict sweep: 5+ landings at 600k
    rows). floor/multiply are IEEE-exact, so the scaled-floor grain is
    bit-identical cross-engine at every scale.
    tests/test_timeseries_ewma.py additionally pins exact equality
    against a pandas groupby twin.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    raw = _spread_groups(ev, "user_id").groupBy("user_id").applyInPandas(
        _ewma_kernel, "user_id long, event_id long, ts timestamp, ewma double"
    )
    return raw.withColumn(
        "ewma",
        F.floor(F.col("ewma") * F.lit(1000000.0) + F.lit(0.5)).cast("double")
        / F.lit(1000000.0),
    )


HOLT_ALPHA = 0.4  # level smoothing
HOLT_BETA = 0.2  # trend smoothing


def _holt_kernel(pdf):
    """Holt's linear-trend double exponential smoothing per user
    (Holt 1957 / Hyndman & Athanasopoulos FPP3 §8.2):

        l_t = a * x_t + (1 - a) * (l_{t-1} + b_{t-1})
        b_t = g * (l_t - l_{t-1}) + (1 - g) * b_{t-1}

    initialized l_1 = x_1, b_1 = 0 (a 1-point group has no trend
    information; the first step then reduces to simple EWMA, and the
    recursion takes over). Same applyInPandas rationale as the EWMA
    kernel — per-group sequential state — and the same (ts, event_id)
    sort so tied timestamps stay deterministic."""
    pdf = pdf.sort_values(["ts", "event_id"])
    x = pdf["value"].to_numpy(dtype="float64")
    n = len(x)
    level = [0.0] * n
    trend = [0.0] * n
    l_p, b_p = x[0], 0.0
    level[0], trend[0] = l_p, b_p
    for i in range(1, n):
        l_c = HOLT_ALPHA * x[i] + (1 - HOLT_ALPHA) * (l_p + b_p)
        b_c = HOLT_BETA * (l_c - l_p) + (1 - HOLT_BETA) * b_p
        level[i], trend[i] = l_c, b_c
        l_p, b_p = l_c, b_c
    out = pdf[["user_id", "event_id", "ts"]].copy()
    # Unrounded: the operator rounds JVM-side (decimal-aware, agrees
    # with DuckDB at exact half-points; Python round() is banker's).
    out["level"] = level
    out["trend"] = trend
    return out


_HOLT_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, event_id, ts, rn,
             CAST(value AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.ts, s.rn,
             0.4 * s.value + 0.6 * (r.l + r.b) AS l,
             0.2 * ((0.4 * s.value + 0.6 * (r.l + r.b)) - r.l)
               + 0.8 * r.b AS b
      FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts,
           round(l, 6) AS level, round(b, 6) AS trend
    FROM rec
    """


@register("timeseries_holt_winters", oracle=_HOLT_ORACLE)
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend) per user
    over event time — the forecasting-grade smoother one step past EWMA.

    Scale shape: identical to timeseries_ewma — ONE shuffle on user_id,
    per-group sequential recursion inside an Arrow batch, O(1) state per
    group. FULLY ORACLED bit-exactly via a RECURSIVE CTE running the
    identical two-state recursion in the identical (ts, event_id) order
    (1−α and 1−β round to the literal doubles 0.6/0.8, so the literals
    ARE the kernel's coefficients); rounding is JVM-side for the same
    half-point reason as timeseries_ewma. tests/test_timeseries_ewma.py
    additionally pins a pandas twin plus the closed-form second step."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    raw = _spread_groups(ev, "user_id").groupBy("user_id").applyInPandas(
        _holt_kernel,
        "user_id long, event_id long, ts timestamp, level double, trend double",
    )
    return raw.withColumn("level", F.round("level", 6)).withColumn(
        "trend", F.round("trend", 6)
    )


STL_HALF = 12  # centered moving-average half-width (25-point trend window)


@register(
    "timeseries_seasonal_decompose",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             sum(CAST(round(value * 100) AS BIGINT)) / count(*) / 100.0 AS v
      FROM events
      GROUP BY 1
    ),
    trended AS (
      SELECT hour, v,
             CASE WHEN count(*) OVER w = {2 * STL_HALF + 1}
                  THEN avg(v) OVER w END AS trend
      FROM hourly
      WINDOW w AS (ORDER BY hour
                   ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
    ),
    seasonal AS (
      SELECT extract(hour FROM hour) AS hod, avg(v) AS s
      FROM hourly GROUP BY 1
    ),
    overall AS (SELECT avg(v) AS mu FROM hourly)
    SELECT t.hour, round(t.v, 4) AS v, round(t.trend, 4) AS trend,
           round(s.s - o.mu, 4) AS seasonal,
           round(t.v - t.trend - (s.s - o.mu), 4) AS resid
    FROM trended t
    JOIN seasonal s ON s.hod = extract(hour FROM t.hour)
    CROSS JOIN overall o
    """,
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event-value
    series: trend = 25-point centered moving average, seasonal =
    mean-centered hour-of-day profile, residual = series - trend -
    seasonal — the moving-average decomposition underlying STL, usable
    for anomaly detection once residuals are isolated.

    Determinism: the hourly mean is computed as an EXACT integer-cents
    sum divided once (order-dependent double summation of 2-decimal money
    is the registry's #1 parity trap), so every downstream window sees
    bit-identical doubles; trend/seasonal averages run over that small
    deterministic series and are rounded to 4 dp.

    Scale: the fact table compresses to one row per hour FIRST (partial
    agg), so every window below orders/partitions an aggregate-sized
    series (hours, not events) — the documented exception to the
    no-global-window rule. Seasonal profile and grand mean are WINDOWS
    over that same aggregate output (not separate aggregates of the same
    frame), so the fact table is scanned exactly once — a second
    aggregate branch would re-scan it per branch (HANDOFF lesson: derive
    scalars as windows over agg output; ReuseExchange does not fire
    across broadcast-subquery boundaries).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long"))
            / F.count(F.lit(1))
            / 100.0
        ).alias("v")
    )
    w = Window.orderBy("hour").rowsBetween(-STL_HALF, STL_HALF)
    w_hod = Window.partitionBy(F.hour("hour"))
    w_all = Window.partitionBy()
    trend = F.when(
        F.count(F.lit(1)).over(w) == 2 * STL_HALF + 1, F.avg("v").over(w)
    )
    seasonal = F.avg("v").over(w_hod) - F.avg("v").over(w_all)
    return hourly.select(
        "hour",
        F.round("v", 4).alias("v"),
        F.round(trend, 4).alias("trend"),
        F.round(seasonal, 4).alias("seasonal"),
        F.round(F.col("v") - trend - seasonal, 4).alias("resid"),
    )


@register(
    "timeseries_cusum_changepoint",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS mu FROM events GROUP BY event_type
    ),
    cusum AS (
      SELECT e.event_type, e.ts, e.event_id,
             sum(e.value - s.mu) OVER (
               PARTITION BY e.event_type
               ORDER BY e.ts, e.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS s
      FROM events e JOIN stats s ON e.event_type = s.event_type
    ),
    ranked AS (
      SELECT event_type, ts AS cp_ts,
             round(abs(s), 4) AS cusum_stat,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(s) DESC, ts ASC, event_id ASC
             ) AS rn
      FROM cusum
    )
    SELECT event_type, cp_ts, cusum_stat FROM ranked WHERE rn = 1
    """,
)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per metric series (Page 1954): the
    running sum of deviations from the series mean, S_i = Σ_{j<=i}(x_j−μ),
    peaks in |S| exactly where the series' level shifts — the argmax is
    the classic single-changepoint estimate used in drift monitors.

    Plan shape: one tiny per-type mean aggregate broadcast back onto the
    stream (|types| rows), ONE ordered window per type for the running
    sum, and a row_number top-1 with a deterministic (|S| DESC, ts, id)
    tiebreak. Cost at 100 TB = one shuffle on event_type + a sort — the
    same as any per-key sessionization; the CUSUM state carried through
    the window is a single double, so no skew amplification beyond the
    key histogram. The running sum is evaluated in the deterministic
    (ts, event_id) order on both engines, so the doubles are bit-exact
    and only the final statistic needs display rounding."""
    e = load_table(spark, sf_dir, "events")
    mu = e.groupBy("event_type").agg(F.avg("value").alias("mu"))
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        e.join(F.broadcast(mu), "event_type")
        .withColumn("s", F.sum(F.col("value") - F.col("mu")).over(w_run))
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("ts").alias("cp_ts"),
            F.round(F.abs(F.col("s")), 4).alias("cusum_stat"),
        )
    )


@register(
    "timeseries_acf",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, sum(value) AS v
      FROM events GROUP BY 1
    ),
    x1 AS (SELECT h, v, avg(v) OVER () AS mu FROM hourly),
    x2 AS (
      SELECT h, v, mu,
             sum((v - mu) * (v - mu)) OVER () AS den,
             row_number() OVER (ORDER BY h)   AS rn
      FROM x1
    )
    SELECT CAST(a.rn - b.rn AS BIGINT)                          AS lag_h,
           round(sum((a.v - a.mu) * (b.v - b.mu)) / any_value(a.den), 6)
             AS acf,
           CAST(count(*) AS BIGINT)                             AS n_pairs
    FROM x2 a JOIN x2 b ON a.rn - b.rn BETWEEN 1 AND 12
    GROUP BY a.rn - b.rn
    """,
)
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly metric series at lags
    1..12 — the standard seasonality/persistence diagnostic (Box-Jenkins
    identification step): acf(k) = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)².

    Plan: the 100 TB event stream reduces to |hours| rows in ONE
    partial-combinable aggregate; everything after — grand mean and
    denominator as windows over the agg output (lesson: windows, not a
    second aggregate, so the scan isn't repeated), then a banded
    self-join on row_number — runs on that tiny series frame. Lag is
    defined positionally (k-th preceding PRESENT bucket); run
    timeseries_gapfill first for strict calendar lags on sparse series.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    w_all = Window.partitionBy()
    x1 = hourly.select("h", "v", F.avg("v").over(w_all).alias("mu"))
    x2 = x1.select(
        "h",
        "v",
        "mu",
        F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu")))
        .over(w_all)
        .alias("den"),
        F.row_number().over(Window.partitionBy().orderBy("h")).alias("rn"),
    )
    a, b = x2.alias("a"), x2.alias("b")
    pairs = a.join(
        b,
        (F.col("a.rn") - F.col("b.rn") >= 1) & (F.col("a.rn") - F.col("b.rn") <= 12),
    )
    return pairs.groupBy((F.col("a.rn") - F.col("b.rn")).alias("lag_h")).agg(
        F.round(
            F.sum((F.col("a.v") - F.col("a.mu")) * (F.col("b.v") - F.col("b.mu")))
            / F.first(F.col("a.den")),
            6,
        ).alias("acf"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


@register(
    "timeseries_theil_sen",
    oracle="""
    WITH hourly AS (
      SELECT CAST(epoch_us(date_trunc('hour', ts)) AS DOUBLE) / 3600000000.0
               AS h,
             avg(value) AS v
      FROM events GROUP BY 1
    )
    SELECT round(quantile_cont((b.v - a.v) / (b.h - a.h), 0.5), 6)
             AS slope_per_hour,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM hourly a JOIN hourly b ON b.h > a.h
    """,
)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator: the MEDIAN of all pairwise
    slopes of the hourly series — 29.3% breakdown point vs OLS's zero
    (one wild hour cannot move it).

    Plan: the 100 TB stream first collapses to |hours| rows (one
    partial-combinable aggregate — the pair stage is over the SERIES,
    never the raw events), then an O(|hours|²) triangular self-join
    feeds an exact median. |hours| is calendar-bounded (~720/month), so
    the quadratic stage is constant-sized no matter the data volume;
    for year-scale series switch to the repeated-median variant or
    sample pairs (noted, not needed at fixture scale)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_micros(F.date_trunc("hour", "ts")).cast("double") / 3600000000.0)
        .alias("h")
    ).agg(F.avg("value").alias("v"))
    a, b = hourly.alias("a"), hourly.alias("b")
    slopes = a.join(b, F.col("b.h") > F.col("a.h")).select(
        ((F.col("b.v") - F.col("a.v")) / (F.col("b.h") - F.col("a.h"))).alias("s")
    )
    return slopes.agg(
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("slope_per_hour"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


@register(
    "timeseries_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d, sum(value) AS v
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, d,
             sum(v) OVER (PARTITION BY event_type ORDER BY d) AS cum
      FROM daily
    ),
    r AS (
      SELECT event_type, d, cum,
             max(cum) OVER (PARTITION BY event_type ORDER BY d) AS peak
      FROM c
    ),
    dd AS (
      SELECT event_type, d, peak - cum AS dd,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY peak - cum DESC, d) AS rn
      FROM r
    )
    SELECT event_type, round(dd, 4) AS max_drawdown, d AS trough_day
    FROM dd WHERE rn = 1
    """,
)
def timeseries_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily metric per series (the
    finance risk primitive): running peak of the cumulative sum minus
    current level; emits the deepest drawdown and its (earliest) trough
    day.

    Determinism note: ordered running sums evaluate SEQUENTIALLY along
    the frame, so unlike shuffled aggregates the cumulative values are
    bit-exact across engines — no rounding needed before the argmax,
    and the rn tie-break by day pins equal drawdowns.

    Plan: corpus -> |series|×|days| daily aggregate (one
    partial-combinable shuffle), then three windows sharing ONE
    exchange on the series key; the day-count per series is
    calendar-bounded so per-partition window state stays tiny at any
    corpus size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum("value").alias("v"))
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = daily.withColumn("cum", F.sum("v").over(w_run))
    r = c.withColumn("peak", F.max("cum").over(w_run))
    dd = r.withColumn("dd", F.col("peak") - F.col("cum")).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.col("dd").desc(), "d")
        ),
    )
    return dd.filter(F.col("rn") == 1).select(
        "event_type",
        F.round("dd", 4).alias("max_drawdown"),
        F.col("d").alias("trough_day"),
    )


@register(
    "window_rolling_percentile",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d, sum(value) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, d,
           round(quantile_cont(v, 0.5) OVER (PARTITION BY event_type
             ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
             AS p50_7d
    FROM daily
    """,
)
def window_rolling_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day exact median of the daily metric per series — the
    robust moving-average twin (timeseries_weighted_ma is the linear
    one): median-of-window shrugs off single-day spikes.

    Plan: the corpus collapses to |series|x|days| rows first (one
    partial-combinable aggregate), then ONE sort-window per series
    computes the frame percentile — the expensive-looking exact median
    runs over <= 7 values per frame on a calendar-bounded series, so
    cost is independent of raw volume. Spark evaluates percentile()
    per frame (no sliding state), fine at these frame sizes; for wide
    frames the t-digest window is the sketch path."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "event_type",
        "d",
        F.round(F.expr("percentile(v, 0.5)").over(w), 4).alias("p50_7d"),
    )


@register(
    "timeseries_rolling_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d, sum(value) AS v
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, d, v,
             avg(v) OVER w         AS mu,
             stddev_samp(v) OVER w AS sd,
             count(*) OVER w       AS nw
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, d, round((v - mu) / sd, 4) AS rolling_z
    FROM stats
    WHERE nw >= 4 AND sd > 0 AND abs((v - mu) / sd) > 2.0
    """,
)
def timeseries_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-baseline anomaly flag: each day scored against the mean
    and stddev of the PRECEDING 7 days only (the trailing-exclusive
    frame prevents the anomaly from polluting its own baseline — the
    subtle bug in naive rolling z-scores), flag |z| > 2 once at least
    4 baseline days exist.

    Complements the global screens (analytics_anomaly_zscore: all-time
    mean; analytics_robust_zscore_mad: all-time median) with the
    level-shift-tolerant local baseline. Plan: one daily aggregate,
    then ONE frame window per series carrying mean/sd/count — all
    decomposable over the frame, calendar-bounded state."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    z = (F.col("v") - F.col("mu")) / F.col("sd")
    stats = daily.select(
        "event_type",
        "d",
        "v",
        F.avg("v").over(w).alias("mu"),
        F.stddev_samp("v").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("nw"),
    )
    return stats.filter(
        (F.col("nw") >= 4) & (F.col("sd") > 0) & (F.abs(z) > 2.0)
    ).select("event_type", "d", F.round(z, 4).alias("rolling_z"))


@register(
    "timeseries_backtest_naive",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d, sum(value) AS v
      FROM events GROUP BY 1, 2
    ),
    f AS (
      SELECT event_type, d, v,
             lag(v, 1) OVER w AS naive_fc,
             (lag(v, 1) OVER w + lag(v, 2) OVER w + lag(v, 3) OVER w) / 3.0
               AS sma3_fc
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)                          AS n_days,
           round(avg(abs(v - naive_fc)), 4)                  AS mae_naive,
           round(avg(abs(v - sma3_fc)), 4)                   AS mae_sma3,
           round(avg(abs(v - naive_fc) / abs(v)) * 100, 4)   AS mape_naive,
           round(avg(abs(v - sma3_fc) / abs(v)) * 100, 4)    AS mape_sma3
    FROM f
    WHERE naive_fc IS NOT NULL AND sma3_fc IS NOT NULL AND v <> 0
    GROUP BY event_type
    """,
)
def timeseries_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the two baseline forecasters every
    real forecast must beat — persistence (tomorrow = today) and SMA-3 —
    scored by MAE and MAPE per series. Publishing a model without this
    baseline table is the classic forecasting sin; Holt-Winters
    (timeseries_holt_winters) is this table's challenger entry.

    Plan: daily aggregate, then ONE lag window per series produces both
    forecasts (three lags share the sort), and the error metrics are a
    partial-combinable per-series aggregate. Strictly out-of-sample by
    construction — lag() can only see the past."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("d")
    f = daily.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("naive_fc"),
        (
            (F.lag("v", 1).over(w) + F.lag("v", 2).over(w) + F.lag("v", 3).over(w))
            / 3.0
        ).alias("sma3_fc"),
    )
    f = f.filter(
        F.col("naive_fc").isNotNull()
        & F.col("sma3_fc").isNotNull()
        & (F.col("v") != 0)
    )
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg(F.abs(F.col("v") - F.col("naive_fc"))), 4).alias("mae_naive"),
        F.round(F.avg(F.abs(F.col("v") - F.col("sma3_fc"))), 4).alias("mae_sma3"),
        F.round(
            F.avg(F.abs(F.col("v") - F.col("naive_fc")) / F.abs(F.col("v"))) * 100, 4
        ).alias("mape_naive"),
        F.round(
            F.avg(F.abs(F.col("v") - F.col("sma3_fc")) / F.abs(F.col("v"))) * 100, 4
        ).alias("mape_sma3"),
    )


@register(
    "timeseries_ljung_box",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, sum(value) AS v
      FROM events GROUP BY 1
    ),
    x1 AS (SELECT h, v, avg(v) OVER () AS mu FROM hourly),
    x2 AS (
      SELECT h, v, mu,
             sum((v - mu) * (v - mu)) OVER () AS den,
             row_number() OVER (ORDER BY h)   AS rn,
             count(*) OVER ()                 AS n
      FROM x1
    ),
    acf AS (
      SELECT CAST(a.rn - b.rn AS BIGINT) AS lag_h,
             sum((a.v - a.mu) * (b.v - b.mu)) / any_value(a.den) AS r,
             any_value(a.n) AS n
      FROM x2 a JOIN x2 b ON a.rn - b.rn BETWEEN 1 AND 12
      GROUP BY a.rn - b.rn
    )
    SELECT round(any_value(n) * (any_value(n) + 2)
                 * sum(r * r / (n - lag_h)), 4) AS q_stat,
           CAST(count(*) AS BIGINT)             AS dof,
           CAST(any_value(n) AS BIGINT)         AS n_obs
    FROM acf
    """,
)
def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test, Q = n(n+2)·Σ_k r_k²/(n−k) over lags
    1..12 — the 'is there ANY autocorrelation left' diagnostic that
    closes the Box-Jenkins loop timeseries_acf opens (run it on model
    residuals; a small Q certifies the model captured the dynamics).

    Plan: identical skeleton to timeseries_acf (one corpus aggregate to
    the hourly series, windows-over-agg for mean/denominator, banded
    rn-self-join for the lag products) with one extra 12-row aggregate
    on top — the corpus is still touched exactly once."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    w_all = Window.partitionBy()
    x1 = hourly.select("h", "v", F.avg("v").over(w_all).alias("mu"))
    x2 = x1.select(
        "h",
        "v",
        "mu",
        F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu")))
        .over(w_all)
        .alias("den"),
        F.row_number().over(Window.partitionBy().orderBy("h")).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    a, b = x2.alias("a"), x2.alias("b")
    acf = (
        a.join(
            b,
            (F.col("a.rn") - F.col("b.rn") >= 1)
            & (F.col("a.rn") - F.col("b.rn") <= 12),
        )
        .groupBy((F.col("a.rn") - F.col("b.rn")).alias("lag_h"))
        .agg(
            (
                F.sum(
                    (F.col("a.v") - F.col("a.mu")) * (F.col("b.v") - F.col("b.mu"))
                )
                / F.first(F.col("a.den"))
            ).alias("r"),
            F.first(F.col("a.n")).alias("n"),
        )
    )
    return acf.agg(
        F.round(
            F.first("n")
            * (F.first("n") + 2)
            * F.sum(F.col("r") * F.col("r") / (F.col("n") - F.col("lag_h"))),
            4,
        ).alias("q_stat"),
        F.count(F.lit(1)).alias("dof"),
        F.first("n").cast("bigint").alias("n_obs"),
    )


@register(
    "timeseries_pacf",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, sum(value) AS v
      FROM events GROUP BY 1
    ),
    x1 AS (SELECT h, v, avg(v) OVER () AS mu FROM hourly),
    x2 AS (
      SELECT v, mu,
             sum((v - mu) * (v - mu)) OVER () AS den,
             lag(v, 1) OVER (ORDER BY h) AS v1,
             lag(v, 2) OVER (ORDER BY h) AS v2,
             lag(v, 3) OVER (ORDER BY h) AS v3,
             lag(v, 4) OVER (ORDER BY h) AS v4,
             lag(v, 5) OVER (ORDER BY h) AS v5
      FROM x1
    ),
    r AS (
      SELECT sum((v - mu) * (v1 - mu)) / any_value(den) AS r1,
             sum((v - mu) * (v2 - mu)) / any_value(den) AS r2,
             sum((v - mu) * (v3 - mu)) / any_value(den) AS r3,
             sum((v - mu) * (v4 - mu)) / any_value(den) AS r4,
             sum((v - mu) * (v5 - mu)) / any_value(den) AS r5
      FROM x2
    ),
    d1 AS (SELECT *, r1 AS p1 FROM r),
    d2 AS (SELECT *, (r2 - p1 * r1) / (1 - p1 * r1) AS p2 FROM d1),
    d2b AS (SELECT *, p1 - p2 * p1 AS phi21 FROM d2),
    d3 AS (SELECT *, (r3 - (phi21 * r2 + p2 * r1))
                       / (1 - (phi21 * r1 + p2 * r2)) AS p3 FROM d2b),
    d3b AS (SELECT *, phi21 - p3 * p2 AS phi31,
                      p2 - p3 * phi21 AS phi32 FROM d3),
    d4 AS (SELECT *, (r4 - (phi31 * r3 + phi32 * r2 + p3 * r1))
                       / (1 - (phi31 * r1 + phi32 * r2 + p3 * r3)) AS p4
           FROM d3b),
    d4b AS (SELECT *, phi31 - p4 * p3   AS phi41,
                      phi32 - p4 * phi32 AS phi42,
                      p3 - p4 * phi31   AS phi43 FROM d4),
    d5 AS (SELECT *, (r5 - (phi41 * r4 + phi42 * r3 + phi43 * r2 + p4 * r1))
                       / (1 - (phi41 * r1 + phi42 * r2 + phi43 * r3 + p4 * r4))
                     AS p5 FROM d4b)
    SELECT round(p1, 6) AS pacf_1,
           round(p2, 6) AS pacf_2,
           round(p3, 6) AS pacf_3,
           round(p4, 6) AS pacf_4,
           round(p5, 6) AS pacf_5
    FROM d5
    """,
)
def timeseries_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function at lags 1..5 via the
    Durbin–Levinson recursion — the Box-Jenkins AR-order identification
    companion to timeseries_acf (pacf(k) = the lag-k coefficient of the
    best length-k linear predictor; it cuts off after p for an AR(p)).
    Same series convention as timeseries_acf: the hourly sum of the
    event metric, positional lags, full-length normalization
    r_k = Σ(x_t−μ)(x_{t−k}−μ)/Σ(x_t−μ)².

    Scale shape: the 100 TB stream reduces to |hours| rows in ONE
    partial-combinable aggregate; μ, the denominator, and the five lag
    columns are windows over that bounded agg output (|hours| ≈ 90k for
    a decade — single-task-safe by construction); the five r_k collapse
    in one global aggregate and the recursion itself is five chained
    projections over a 1-ROW frame (unrolled Durbin–Levinson — no
    driver collect, no iteration: the entire solve is column
    arithmetic Catalyst constant-folds around). Both engines evaluate
    the identical expression tree, so parity holds to the 6-decimal
    round despite the recursion's division chain.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("h")
    x1 = hourly.select("h", "v", F.avg("v").over(w_all).alias("mu"))
    dev = F.col("v") - F.col("mu")
    x2 = x1.select(
        "v",
        "mu",
        F.sum(dev * dev).over(w_all).alias("den"),
        *[F.lag("v", k).over(w_ord).alias(f"v{k}") for k in range(1, 6)],
    )
    r = x2.agg(
        *[
            (
                F.sum((F.col("v") - F.col("mu")) * (F.col(f"v{k}") - F.col("mu")))
                / F.first("den")
            ).alias(f"r{k}")
            for k in range(1, 6)
        ]
    )
    c = F.col
    d1 = r.withColumn("p1", c("r1"))
    d2 = d1.withColumn("p2", (c("r2") - c("p1") * c("r1")) / (1 - c("p1") * c("r1")))
    d2b = d2.withColumn("phi21", c("p1") - c("p2") * c("p1"))
    d3 = d2b.withColumn(
        "p3",
        (c("r3") - (c("phi21") * c("r2") + c("p2") * c("r1")))
        / (1 - (c("phi21") * c("r1") + c("p2") * c("r2"))),
    )
    d3b = d3.withColumn("phi31", c("phi21") - c("p3") * c("p2")).withColumn(
        "phi32", c("p2") - c("p3") * c("phi21")
    )
    d4 = d3b.withColumn(
        "p4",
        (c("r4") - (c("phi31") * c("r3") + c("phi32") * c("r2") + c("p3") * c("r1")))
        / (1 - (c("phi31") * c("r1") + c("phi32") * c("r2") + c("p3") * c("r3"))),
    )
    d4b = (
        d4.withColumn("phi41", c("phi31") - c("p4") * c("p3"))
        .withColumn("phi42", c("phi32") - c("p4") * c("phi32"))
        .withColumn("phi43", c("p3") - c("p4") * c("phi31"))
    )
    d5 = d4b.withColumn(
        "p5",
        (
            c("r5")
            - (
                c("phi41") * c("r4")
                + c("phi42") * c("r3")
                + c("phi43") * c("r2")
                + c("p4") * c("r1")
            )
        )
        / (
            1
            - (
                c("phi41") * c("r1")
                + c("phi42") * c("r2")
                + c("phi43") * c("r3")
                + c("p4") * c("r4")
            )
        ),
    )
    return d5.select(
        *[F.round(f"p{k}", 6).alias(f"pacf_{k}") for k in range(1, 6)]
    )


@register(
    "stats_dickey_fuller",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, sum(value) AS v
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT v - lag(v) OVER (ORDER BY h) AS dy,
             lag(v) OVER (ORDER BY h)     AS x
      FROM hourly
    ),
    suff AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x)      AS sx,  sum(dy)     AS sy,
             sum(x * x)  AS sxx, sum(dy * dy) AS syy,
             sum(x * dy) AS sxy
      FROM lagged WHERE dy IS NOT NULL
    ),
    fit AS (
      SELECT n,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS beta,
             sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n
               AS alpha,
             (syy - sy * sy / n)
               - (sxy - sx * sy / n) / (sxx - sx * sx / n)
                 * (sxy - sx * sy / n) AS sse,
             sxx - sx * sx / n AS sxx_c
      FROM suff
    )
    SELECT n,
           round(beta, 6)  AS beta,
           round(alpha, 6) AS alpha,
           round(beta / sqrt(sse / (n - 2) / sxx_c), 6) AS df_stat
    FROM fit
    """,
)
def stats_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root test (constant, no trend) on the hourly
    metric series: regress Δx_t on x_{t−1}; the t-statistic of the slope
    is the DF statistic (strongly negative ⇒ mean-reverting/stationary;
    near 0 ⇒ random walk — compare against the DF critical values, not
    Student-t). The stationarity gate that should precede any ARMA-style
    modelling of the series (companions: timeseries_acf/pacf/ljung_box).

    Scale shape: the fact stream reduces to |hours| rows in ONE
    partial-combinable aggregate; the lag is a window over that bounded
    agg output; the regression needs only SIX sufficient statistics
    (n, Σx, Σy, Σx², Σy², Σxy) from one further aggregate, and the
    slope/intercept/SSE/t-stat are closed-form arithmetic on that single
    row (SSE via Syy − β̂·Sxy — no residual second pass). Identical
    expression trees on both engines; rounded once at the edge.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    w_ord = Window.partitionBy().orderBy("h")
    lagged = hourly.select(
        (F.col("v") - F.lag("v").over(w_ord)).alias("dy"),
        F.lag("v").over(w_ord).alias("x"),
    ).filter(F.col("dy").isNotNull())
    suff = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("x") * F.col("dy")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    beta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    alpha = sy / n - beta * sx / n
    sse = (syy - sy * sy / n) - beta * (sxy - sx * sy / n)
    sxx_c = sxx - sx * sx / n
    return suff.select(
        "n",
        F.round(beta, 6).alias("beta"),
        F.round(alpha, 6).alias("alpha"),
        F.round(beta / F.sqrt(sse / (n - 2) / sxx_c), 6).alias("df_stat"),
    )


HURST_SIZES = [16, 32, 64, 128]  # R/S block sizes (powers of two)


@register(
    "stats_hurst_exponent",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, sum(value) AS v
      FROM events GROUP BY 1
    ),
    seq AS (
      SELECT v, row_number() OVER (ORDER BY h) AS rn,
             count(*) OVER () AS n
      FROM hourly
    ),
    sized AS (
      SELECT s.s, (rn - 1) // s.s AS blk, rn, v
      FROM seq, (SELECT unnest([{", ".join(map(str, HURST_SIZES))}]) AS s) s
      WHERE (rn - 1) // s.s < n // s.s
    ),
    centered AS (
      SELECT s, blk, rn, v,
             avg(v) OVER (PARTITION BY s, blk) AS m
      FROM sized
    ),
    cum AS (
      SELECT s, blk, v, m,
             sum(v - m) OVER (PARTITION BY s, blk ORDER BY rn
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS z
      FROM centered
    ),
    per_block AS (
      SELECT s, blk,
             max(z) - min(z)  AS r,
             stddev_pop(v)    AS sd
      FROM cum GROUP BY s, blk
    ),
    per_size AS (
      SELECT s, avg(r / sd) AS rs
      FROM per_block WHERE sd > 0 AND r > 0
      GROUP BY s
    ),
    suff AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             sum(ln(CAST(s AS DOUBLE)))           AS sx,
             sum(ln(rs))                          AS sy,
             sum(ln(CAST(s AS DOUBLE)) * ln(CAST(s AS DOUBLE))) AS sxx,
             sum(ln(CAST(s AS DOUBLE)) * ln(rs))  AS sxy
      FROM per_size
    )
    SELECT k AS n_sizes,
           round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) AS hurst,
           round(exp((sy - (sxy - sx * sy / k) / (sxx - sx * sx / k) * sx)
                     / k), 6) AS rs_scale
    FROM suff
    """,
)
def stats_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via classical rescaled-range (R/S) analysis
    (Hurst 1951 / Mandelbrot–Wallis): for block sizes
    {HURST_SIZES}, split the hourly series into complete blocks,
    compute each block's range of cumulative mean-deviations over its
    population std, average R/S per size, and fit
    log(R/S) = H·log(n) + c. H≈0.5 ⇒ independent increments, H>0.5 ⇒
    long-range persistence — the long-memory diagnostic that decides
    whether naive confidence intervals on the series are trustworthy.

    Scale shape: the stream collapses to |hours| rows in one aggregate;
    the size fan-out is a {len(HURST_SIZES)}× explode of that bounded
    frame; block means and cumulative deviations are windows PARTITIONED
    BY (size, block) — genuinely parallel, no global window over raw
    data (the only global pass is row_number over the agg output, the
    documented small-frame exception). The final fit consumes
    {len(HURST_SIZES)} points via the same sufficient-stats closed form
    as stats_dickey_fuller. Degenerate blocks (zero variance or zero
    range) are excluded on both sides before the log.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    w_all = Window.partitionBy()
    seq = hourly.select(
        "v",
        F.row_number().over(Window.partitionBy().orderBy("h")).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    sized = (
        seq.withColumn(
            "s", F.explode(F.array(*[F.lit(s) for s in HURST_SIZES]))
        )
        .withColumn("blk", ((F.col("rn") - 1) / F.col("s")).cast("bigint"))
        .filter(F.col("blk") < (F.col("n") / F.col("s")).cast("bigint"))
        .select("s", "blk", "rn", "v")
    )
    w_blk = Window.partitionBy("s", "blk")
    centered = sized.withColumn("m", F.avg("v").over(w_blk))
    cum = centered.withColumn(
        "z",
        F.sum(F.col("v") - F.col("m")).over(
            Window.partitionBy("s", "blk")
            .orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_block = cum.groupBy("s", "blk").agg(
        (F.max("z") - F.min("z")).alias("r"),
        F.stddev_pop("v").alias("sd"),
    )
    per_size = (
        per_block.filter((F.col("sd") > 0) & (F.col("r") > 0))
        .groupBy("s")
        .agg(F.avg(F.col("r") / F.col("sd")).alias("rs"))
    )
    lx = F.log(F.col("s").cast("double"))
    ly = F.log("rs")
    suff = per_size.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (sxy - sx * sy / k) / (sxx - sx * sx / k)
    return suff.select(
        k.alias("n_sizes"),
        F.round(slope, 6).alias("hurst"),
        F.round(F.exp((sy - slope * sx) / k), 6).alias("rs_scale"),
    )


EVT_GAMMA = 0.5772156649015329  # Euler-Mascheroni
EVT_PI = 3.141592653589793
EVT_RETURN_T = 100  # return period in blocks (days)


@register(
    "stats_extreme_value_gumbel",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, sum(value) AS v
      FROM events GROUP BY 1
    ),
    maxima AS (
      SELECT date_trunc('day', h) AS d, max(v) AS mx
      FROM hourly GROUP BY 1
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             avg(mx)          AS m,
             stddev_samp(mx)  AS sd
      FROM maxima
    )
    SELECT n_blocks,
           round(sd * sqrt(6.0) / {EVT_PI}, 6)                    AS beta,
           round(m - {EVT_GAMMA} * (sd * sqrt(6.0) / {EVT_PI}), 6) AS mu,
           round((m - {EVT_GAMMA} * (sd * sqrt(6.0) / {EVT_PI}))
                 - (sd * sqrt(6.0) / {EVT_PI})
                   * ln(-ln(1.0 - 1.0 / {EVT_RETURN_T})), 6)
             AS return_level_{EVT_RETURN_T}
    FROM mom
    """,
)
def stats_extreme_value_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV-I) extreme-value fit on daily block maxima of the
    hourly metric, by the method of moments: β̂ = s·√6/π,
    μ̂ = x̄ − γβ̂ (γ = Euler–Mascheroni), plus the {EVT_RETURN_T}-day
    return level μ̂ − β̂·ln(−ln(1−1/T)) — "the hourly load exceeded once
    per {EVT_RETURN_T} days", the capacity-planning number a P99 cannot
    give you (quantiles interpolate inside the sample; EVT extrapolates
    the tail law beyond it).

    Scale shape: two nested partial-combinable aggregates (hour, then
    day-max) collapse 100 TB to |days| rows; the moment fit is one
    1-row aggregate and closed-form arithmetic — every constant (π, γ)
    is a shared literal so both engines evaluate the identical tree.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    maxima = hourly.groupBy(F.date_trunc("day", "h").alias("d")).agg(
        F.max("v").alias("mx")
    )
    mom = maxima.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.avg("mx").alias("m"),
        F.stddev_samp("mx").alias("sd"),
    )
    beta = F.col("sd") * F.sqrt(F.lit(6.0)) / EVT_PI
    mu = F.col("m") - EVT_GAMMA * beta
    rl = mu - beta * F.log(-F.log(1.0 - 1.0 / F.lit(EVT_RETURN_T)))
    return mom.select(
        "n_blocks",
        F.round(beta, 6).alias("beta"),
        F.round(mu, 6).alias("mu"),
        F.round(rl, 6).alias(f"return_level_{EVT_RETURN_T}"),
    )


@register(
    "stats_granger_causality",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             coalesce(sum(CASE WHEN event_type = 'click'
                               THEN value END), 0.0)    AS x,
             coalesce(sum(CASE WHEN event_type = 'purchase'
                               THEN value END), 0.0)    AS y
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT y,
             lag(y) OVER (ORDER BY h) AS z1,
             lag(x) OVER (ORDER BY h) AS z2
      FROM hourly
    ),
    suff AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(z1) AS s1, sum(z2) AS s2, sum(y) AS sy,
             sum(z1 * z1) AS s11, sum(z2 * z2) AS s22,
             sum(z1 * z2) AS s12,
             sum(z1 * y)  AS s1y, sum(z2 * y) AS s2y,
             sum(y * y)   AS syy
      FROM lagged WHERE z1 IS NOT NULL
    ),
    cent AS (
      SELECT n,
             s11 - s1 * s1 / n AS c11,
             s22 - s2 * s2 / n AS c22,
             s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y,
             syy - sy * sy / n AS cyy
      FROM suff
    ),
    fit AS (
      SELECT n,
             (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b,
             (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS c,
             cyy - (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) * c1y
                 - (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) * c2y
               AS sse_u,
             cyy - c1y * c1y / c11 AS sse_r
      FROM cent
    )
    SELECT n,
           round(b, 6) AS beta_y_lag,
           round(c, 6) AS beta_x_lag,
           round((sse_r - sse_u) * (n - 3) / sse_u, 6) AS f_stat
    FROM fit
    """,
)
def stats_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (lag-1) of the hourly click-value series on the
    hourly purchase-value series: does adding x_{t−1} (clicks) to an
    AR(1) model of y_t (purchases) reduce SSE more than chance?
    F = (SSE_r − SSE_u)/(SSE_u/(n−3)) — the standard
    does-this-leading-indicator-help test before wiring a feature into
    a forecasting model. (Predictive precedence, not true causation.)

    Scale shape: both series come from ONE conditional aggregate over
    the fact scan (no second pass per series); the lags are windows
    over the bounded |hours| frame; the bivariate OLS needs TEN
    sufficient statistics from one aggregate, and both the restricted
    and unrestricted fits are Cramer's-rule arithmetic on that single
    row — no iteration, no matrix library, identical expression trees
    on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", F.col("value"))),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("y"),
    )
    w_ord = Window.partitionBy().orderBy("h")
    lagged = hourly.select(
        "y",
        F.lag("y").over(w_ord).alias("z1"),
        F.lag("x").over(w_ord).alias("z2"),
    ).filter(F.col("z1").isNotNull())
    suff = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z1").alias("s1"),
        F.sum("z2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("z1") * F.col("z1")).alias("s11"),
        F.sum(F.col("z2") * F.col("z2")).alias("s22"),
        F.sum(F.col("z1") * F.col("z2")).alias("s12"),
        F.sum(F.col("z1") * F.col("y")).alias("s1y"),
        F.sum(F.col("z2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    cent = suff.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b = (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")) / det
    c = (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")) / det
    sse_u = F.col("cyy") - b * F.col("c1y") - c * F.col("c2y")
    sse_r = F.col("cyy") - F.col("c1y") * F.col("c1y") / F.col("c11")
    return cent.select(
        "n",
        F.round(b, 6).alias("beta_y_lag"),
        F.round(c, 6).alias("beta_x_lag"),
        F.round((sse_r - sse_u) * (F.col("n") - 3) / sse_u, 6).alias("f_stat"),
    )


@register(
    "stats_durbin_watson",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, sum(value) AS v
      FROM events GROUP BY 1
    ),
    seq AS (
      SELECT v, CAST(row_number() OVER (ORDER BY h) AS DOUBLE) AS t
      FROM hourly
    ),
    suff AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(t) AS st, sum(v) AS sv,
             sum(t * t) AS stt, sum(t * v) AS stv
      FROM seq
    ),
    fit AS (
      SELECT n,
             (stv - st * sv / n) / (stt - st * st / n) AS b,
             sv / n - (stv - st * sv / n) / (stt - st * st / n) * st / n
               AS a
      FROM suff
    ),
    resid AS (
      SELECT s.v - f.a - f.b * s.t AS e,
             lag(s.v - f.a - f.b * s.t) OVER (ORDER BY s.t) AS e_prev,
             f.n AS n
      FROM seq s, fit f
    )
    SELECT any_value(n) AS n,
           round(sum(CASE WHEN e_prev IS NOT NULL
                          THEN (e - e_prev) * (e - e_prev) END)
                 / sum(e * e), 6) AS dw,
           round(1.0 - (sum(CASE WHEN e_prev IS NOT NULL
                                 THEN (e - e_prev) * (e - e_prev) END)
                        / sum(e * e)) / 2.0, 6) AS rho_approx
    FROM resid
    """,
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson statistic of the hourly series' linear-trend
    residuals: DW = Σ(e_t−e_{t−1})²/Σe² — the classic did-my-regression
    miss-serial-correlation diagnostic (≈2 = independent residuals,
    →0 = positive autocorrelation ⇒ the trend fit's standard errors are
    fiction). Completes the regression-diagnostics suite alongside
    stats_dickey_fuller (unit root) and timeseries_ljung_box
    (portmanteau): DW asks the question OF a fit, not of the raw series.

    Scale shape: hourly reduction → 4 sufficient statistics in one
    aggregate → closed-form slope/intercept broadcast as a 1-row cross
    → stateless per-row residuals → one lag window over the bounded
    |hours| frame → one final aggregate. Identical expression trees on
    both engines; rounded once.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    seq = hourly.select(
        "v",
        F.row_number()
        .over(Window.partitionBy().orderBy("h"))
        .cast("double")
        .alias("t"),
    )
    suff = seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").alias("st"),
        F.sum("v").alias("sv"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("v")).alias("stv"),
    )
    n = F.col("n")
    b = (F.col("stv") - F.col("st") * F.col("sv") / n) / (
        F.col("stt") - F.col("st") * F.col("st") / n
    )
    fit = suff.select(n.alias("n"), b.alias("b"), (F.col("sv") / n - b * F.col("st") / n).alias("a"))
    e = F.col("v") - F.col("a") - F.col("b") * F.col("t")
    resid = seq.crossJoin(F.broadcast(fit)).select(
        e.alias("e"),
        F.lag(e).over(Window.partitionBy().orderBy("t")).alias("e_prev"),
        "n",
    )
    de2 = F.sum(
        F.when(
            F.col("e_prev").isNotNull(),
            (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev")),
        )
    )
    se2 = F.sum(F.col("e") * F.col("e"))
    return resid.agg(
        F.first("n").alias("n"),
        F.round(de2 / se2, 6).alias("dw"),
        F.round(1.0 - (de2 / se2) / 2.0, 6).alias("rho_approx"),
    )


@register(
    "analytics_seasonality_strength",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             sum(CAST(round(value * 100) AS BIGINT)) / count(*) / 100.0 AS v
      FROM events
      GROUP BY 1
    ),
    trended AS (
      SELECT hour, v,
             CASE WHEN count(*) OVER w = {2 * STL_HALF + 1}
                  THEN avg(v) OVER w END AS trend
      FROM hourly
      WINDOW w AS (ORDER BY hour
                   ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
    ),
    seasonal AS (
      SELECT extract(hour FROM hour) AS hod, avg(v) AS s
      FROM hourly GROUP BY 1
    ),
    overall AS (SELECT avg(v) AS mu FROM hourly),
    comps AS (
      SELECT t.v - t.trend - (s.s - o.mu) AS r,
             t.v - t.trend                AS detrended,
             t.v - (s.s - o.mu)           AS deseasoned
      FROM trended t
      JOIN seasonal s ON s.hod = extract(hour FROM t.hour)
      CROSS JOIN overall o
      WHERE t.trend IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(greatest(0.0, 1.0 - var_samp(r) / var_samp(detrended)), 6)
             AS seasonal_strength,
           round(greatest(0.0, 1.0 - var_samp(r) / var_samp(deseasoned)), 6)
             AS trend_strength
    FROM comps
    """,
)
def analytics_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend strength (Hyndman & Athanasopoulos, FPP3
    §4.3) of the hourly metric: F_s = max(0, 1 − Var(R)/Var(S+R)) and
    F_t = max(0, 1 − Var(R)/Var(T+R)) over the SAME classical additive
    decomposition as timeseries_seasonal_decompose — one number per
    component answering "is this series worth a seasonal model", the
    triage step before fitting Holt-Winters or a seasonal ARIMA across
    thousands of series.

    Scale shape: identical to the decompose op (one fact scan, windows
    over the hourly agg output, identical exact-integer-cents hourly
    mean so the doubles are bit-identical) plus one final variance
    aggregate over the component frame. Edge rows without a full
    25-point trend window are excluded on both sides.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            / F.count(F.lit(1))
            / 100.0
        ).alias("v")
    )
    w_ma = (
        Window.partitionBy()
        .orderBy("hour")
        .rowsBetween(-STL_HALF, STL_HALF)
    )
    trended = hourly.select(
        "hour",
        "v",
        F.when(
            F.count(F.lit(1)).over(w_ma) == 2 * STL_HALF + 1,
            F.avg("v").over(w_ma),
        ).alias("trend"),
    )
    w_hod = Window.partitionBy(F.hour("hour"))
    w_all = Window.partitionBy()
    comps = (
        trended.withColumn("s", F.avg("v").over(w_hod))
        .withColumn("mu", F.avg("v").over(w_all))
        .filter(F.col("trend").isNotNull())
        .select(
            (
                F.col("v") - F.col("trend") - (F.col("s") - F.col("mu"))
            ).alias("r"),
            (F.col("v") - F.col("trend")).alias("detrended"),
            (F.col("v") - (F.col("s") - F.col("mu"))).alias("deseasoned"),
        )
    )
    return comps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0 - F.var_samp("r") / F.var_samp("detrended"),
            ),
            6,
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0 - F.var_samp("r") / F.var_samp("deseasoned"),
            ),
            6,
        ).alias("trend_strength"),
    )


ROLL_CORR_H = 72  # trailing window width in present hourly buckets


@register(
    "timeseries_rolling_corr",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             coalesce(sum(CASE WHEN event_type = 'click'
                               THEN value END), 0.0)    AS x,
             coalesce(sum(CASE WHEN event_type = 'purchase'
                               THEN value END), 0.0)    AS y
      FROM events GROUP BY 1
    )
    , winsums AS (
      SELECT h,
             count(*) OVER w        AS cnt,
             sum(x) OVER w          AS sx,
             sum(y) OVER w          AS sy,
             sum(x * x) OVER w      AS sxx,
             sum(y * y) OVER w      AS syy,
             sum(x * y) OVER w      AS sxy
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN {ROLL_CORR_H - 1} PRECEDING
                   AND CURRENT ROW)
    )
    SELECT h,
           round(CASE WHEN cnt >= 2
                       AND sxx - sx * sx / cnt > 0
                       AND syy - sy * sy / cnt > 0
                      THEN (sxy - sx * sy / cnt)
                           / sqrt((sxx - sx * sx / cnt)
                                  * (syy - sy * sy / cnt)) END, 6)
             AS roll_corr,
           CAST(cnt AS BIGINT) AS n_win
    FROM winsums
    ORDER BY h
    """,
)
def timeseries_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {ROLL_CORR_H}-hour correlation between the click-value
    and purchase-value hourly series — the relationship-drift monitor
    (a stable lead indicator whose rolling correlation decays is the
    canonical sign a model's feature has gone stale; pairs with
    stats_granger_causality, which tests the relationship ONCE,
    globally).

    Scale shape: both series come from ONE conditional aggregate; the
    rolling Pearson runs as a FRAME window (corr is a built-in window
    aggregate in both engines) over the bounded |hours| frame — the
    documented small-window exception. Positional window (last
    {ROLL_CORR_H} PRESENT buckets); run timeseries_gapfill first for
    strict calendar windows on sparse series.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", F.col("value"))),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("y"),
    )
    w = (
        Window.partitionBy()
        .orderBy("h")
        .rowsBetween(-(ROLL_CORR_H - 1), 0)
    )
    # Explicit sufficient-stats Pearson instead of corr() OVER: the
    # built-in window corr divides by zero on 1-row frames under ANSI
    # mode, and the explicit guard keeps both engines' NULL semantics
    # identical (n < 2 or zero variance -> NULL).
    sums = hourly.select(
        "h",
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    cnt = F.col("cnt")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / cnt
    vy = F.col("syy") - F.col("sy") * F.col("sy") / cnt
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / cnt
    return sums.select(
        "h",
        F.round(
            F.when((cnt >= 2) & (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)),
            6,
        ).alias("roll_corr"),
        cnt.cast("bigint").alias("n_win"),
    ).orderBy("h")


LOESS_HALF = 12  # loess window half-width: 25-point local linear fits
_L3 = (LOESS_HALF + 1) ** 3  # 2197: tricube denominator base, cubed


def _loess_wn_sql(d: str) -> str:
    """INTEGER tricube weight numerator (2197 - |d|^3)^3 — the exact
    tricube weight times 2197^3, as explicit multiplications (no pow).
    The 2197^3 scale cancels between numerator and denominator of the
    weighted-least-squares ratio, so weights never need to be floats."""
    # CAST to BIGINT: Spark's row_number is INT and c^3 ~ 1.06e10
    # overflows int32 under ANSI mode; DuckDB is indifferent.
    c = f"CAST({_L3} - abs(({d})*({d})*({d})) AS BIGINT)"
    return f"({c}*{c}*{c})"


_WN_R = _loess_wn_sql("r - rn")
_WN_S = _loess_wn_sql("s[1] - rn")


def _rhu_s_duck(p: str, q: str) -> str:
    """Signed round-half-up integer division for DuckDB: rhu(P/Q) =
    floor((2P+Q)/(2Q)) for P>=0, mirrored for P<0. Both branches divide
    NONNEGATIVE operands, where // (floor) and truncation agree, so the
    idiom is engine-portable; the (2P+Q)/(2Q) form (instead of
    (P + Q//2)/Q) keeps every intermediate QUOTIENT small — Spark's DIV
    silently corrupts quotients that exceed int64, see _rhu_s_spark."""
    return (
        f"CASE WHEN ({p}) >= 0"
        f" THEN CAST((2 * ({p}) + ({q})) // (2 * ({q})) AS BIGINT)"
        f" ELSE -CAST((2 * (-({p})) + ({q})) // (2 * ({q})) AS BIGINT) END"
    )


# The STL CTE chain (hourly series -> loess trend -> hour-of-day
# seasonal) is shared by timeseries_stl_loess and the S-H-ESD anomaly
# screen built on its residuals. r8 rewrite (KM integer doctrine): the
# series is integer micro-dollars, tricube weights are exact integers
# (2197^3-scaled), the five WLS sums are INTEGER sums (order-independent
# — the previous double folds were the construct behind the
# stats_kaplan_meier driver reds), and trend/seasonal come from signed
# round-half-up integer divisions mirrored exactly on the Spark side.
_STL_CTES = f"""
    hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             {_rhu_s_duck(
                 "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT)"
                 " * 10000",
                 "count(*)",
             )} AS vu
      FROM events
      GROUP BY 1
    ),
    idx AS (
      SELECT hour, vu, row_number() OVER (ORDER BY hour) AS rn FROM hourly
    ),
    frames AS (
      SELECT hour, vu, rn,
             list(rn) OVER w AS rns,
             list(vu) OVER w AS vus
      FROM idx
      WINDOW w AS (ORDER BY hour ROWS BETWEEN {LOESS_HALF} PRECEDING
                   AND {LOESS_HALF} FOLLOWING)
    ),
    fit AS (
      SELECT hour, vu,
        list_reduce(list_transform(rns, r -> {_WN_R}),
                    (a, b) -> a + b) AS s0,
        list_reduce(list_transform(rns, r -> {_WN_R} * (r - rn)),
                    (a, b) -> a + b) AS s1,
        list_reduce(list_transform(rns, r -> {_WN_R} * (r - rn) * (r - rn)),
                    (a, b) -> a + b) AS s2,
        list_reduce(list_transform(list_zip(rns, vus),
                                   s -> CAST({_WN_S} AS HUGEINT) * s[2]),
                    (a, b) -> a + b) AS t0,
        list_reduce(list_transform(list_zip(rns, vus),
                                   s -> CAST({_WN_S} AS HUGEINT)
                                        * (s[1] - rn) * s[2]),
                    (a, b) -> a + b) AS t1
      FROM frames
    ),
    trended AS (
      SELECT hour, vu,
             {_rhu_s_duck(
                 "CAST(s2 AS HUGEINT) * t0 - CAST(s1 AS HUGEINT) * t1",
                 "CAST(s0 AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1",
             )} AS trend_u
      FROM fit
    ),
    seas AS (
      SELECT hour, vu, trend_u,
             {_rhu_s_duck(
                 "CAST(sum(vu - trend_u) OVER hod AS HUGEINT)"
                 " * (count(*) OVER ())"
                 " - CAST(sum(vu - trend_u) OVER () AS HUGEINT)"
                 " * (count(*) OVER hod)",
                 "CAST(count(*) OVER hod AS HUGEINT)"
                 " * (count(*) OVER ())",
             )} AS seasonal_u
      FROM trended
      WINDOW hod AS (PARTITION BY extract(hour FROM hour))
    )"""


def _rhu_s_spark(p: str, q: str) -> str:
    """Signed round-half-up integer division for Spark SQL (DECIMAL
    operands). Mirrors _rhu_s_duck exactly. CRITICAL: Spark's DIV
    always casts its result to LONG and silently corrupts it when the
    true quotient exceeds int64 (measured: DECIMAL(38,0) 3.2e24 DIV 2
    returns 2.55e18, no error even under ANSI) — so rhu must be the
    (2P+Q) DIV (2Q) form, whose only quotient is the small final
    result, NEVER (P + Q DIV 2) DIV Q, whose inner Q DIV 2 overflows
    for wide-decimal Q. Both branches divide nonnegative operands, so
    DIV (truncation) equals DuckDB's // (floor)."""
    return (
        f"CASE WHEN ({p}) >= 0"
        f" THEN CAST((2 * ({p}) + ({q})) DIV (2 * ({q})) AS BIGINT)"
        f" ELSE -CAST((2 * (-({p})) + ({q})) DIV (2 * ({q})) AS BIGINT) END"
    )


def _stl_decomposed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared STL machinery: hourly integer micro-dollar mean series
    with a 25-point tricube loess trend and a mean-centered hour-of-day
    seasonal — ALL columns exact integers (see timeseries_stl_loess for
    the determinism contract)."""
    ev = load_table(spark, sf_dir, "events")
    # Signed rhu (r8 ADVICE): fixture event values are positive today, but
    # nothing enforces that; an unsigned (P + Q DIV 2) DIV Q would split
    # Spark DIV (truncate) from DuckDB // (floor) on a negative hour-sum.
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.expr(
            _rhu_s_spark(
                "CAST(sum(CAST(round(value * 100) AS BIGINT))"
                " AS DECIMAL(38,0)) * 10000",
                "count(1)",
            )
        ).alias("vu")
    )
    w_ord = Window.orderBy("hour")
    idx = hourly.withColumn("rn", F.row_number().over(w_ord))
    w = Window.orderBy("hour").rowsBetween(-LOESS_HALF, LOESS_HALF)
    frames = idx.select(
        "hour",
        "vu",
        "rn",
        F.collect_list("rn").over(w).alias("rns"),
        F.collect_list("vu").over(w).alias("vus"),
    )
    wn = _loess_wn_sql("r - rn")
    wn_s = _loess_wn_sql("s.rn_a - rn")
    # Integer WLS sums. s0/s1/s2 fit BIGINT (<= ~4e13); t0/t1 carry the
    # micro-dollar series and accumulate in DECIMAL(38,0).
    fit = frames.select(
        "hour",
        "vu",
        F.expr(
            f"aggregate(rns, CAST(0 AS BIGINT), (a, r) -> a + {wn})"
        ).alias("s0"),
        F.expr(
            f"aggregate(rns, CAST(0 AS BIGINT),"
            f" (a, r) -> a + {wn} * (r - rn))"
        ).alias("s1"),
        F.expr(
            f"aggregate(rns, CAST(0 AS BIGINT),"
            f" (a, r) -> a + {wn} * (r - rn) * (r - rn))"
        ).alias("s2"),
        F.expr(
            "aggregate(zip_with(rns, vus,"
            " (rn_a, vu_a) -> struct(rn_a, vu_a)),"
            " CAST(0 AS DECIMAL(38,0)),"
            f" (a, s) -> a + CAST({wn_s} AS DECIMAL(38,0)) * s.vu_a)"
        ).alias("t0"),
        F.expr(
            "aggregate(zip_with(rns, vus,"
            " (rn_a, vu_a) -> struct(rn_a, vu_a)),"
            " CAST(0 AS DECIMAL(38,0)),"
            f" (a, s) -> a + CAST({wn_s} AS DECIMAL(38,0))"
            " * (s.rn_a - rn) * s.vu_a)"
        ).alias("t1"),
    )
    trended = fit.select(
        "hour",
        "vu",
        F.expr(
            _rhu_s_spark(
                "CAST(s2 AS DECIMAL(38,0)) * t0"
                " - CAST(s1 AS DECIMAL(38,0)) * t1",
                "CAST(s0 AS DECIMAL(38,0)) * s2"
                " - CAST(s1 AS DECIMAL(38,0)) * s1",
            )
        ).alias("trend_u"),
    )
    w_hod = Window.partitionBy(F.hour("hour"))
    w_all = Window.partitionBy()
    det = F.col("vu") - F.col("trend_u")
    seas = trended.select(
        "hour",
        "vu",
        "trend_u",
        F.sum(det).over(w_hod).alias("a_hod"),
        F.count(F.lit(1)).over(w_hod).alias("n_hod"),
        F.sum(det).over(w_all).alias("b_all"),
        F.count(F.lit(1)).over(w_all).alias("n_all"),
    )
    return seas.select(
        "hour",
        "vu",
        "trend_u",
        F.expr(
            _rhu_s_spark(
                "CAST(a_hod AS DECIMAL(38,0)) * n_all"
                " - CAST(b_all AS DECIMAL(38,0)) * n_hod",
                "CAST(n_hod AS DECIMAL(38,0)) * n_all",
            )
        ).alias("seasonal_u"),
    )


@register(
    "timeseries_stl_loess",
    oracle=f"""
    WITH {_STL_CTES}
    SELECT hour,
           vu                            AS v_micros,
           trend_u                       AS trend_micros,
           seasonal_u                    AS seasonal_micros,
           vu - trend_u - seasonal_u     AS resid_micros
    FROM seas
    ORDER BY hour
    """,
)
def timeseries_stl_loess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style decomposition with a genuine LOESS trend (Cleveland et
    al. 1990): per-hour series -> 25-point tricube-weighted LOCAL LINEAR
    regression for the trend (not a moving average — loess follows
    curvature and, unlike `timeseries_seasonal_decompose`'s centered MA,
    is defined at the series EDGES because the asymmetric-window
    weighted fit stays well-posed), then a mean-centered hour-of-day
    seasonal profile of the DETRENDED series, residual = v - T - S.
    One loess pass + one seasonal pass = the first STL inner-loop
    iteration; full STL iterates these, changing no data-flow shape.

    Per point i the fitted value is the d=0 evaluation of the weighted
    least-squares line: (S2*T0 - S1*T1)/(S0*S2 - S1^2) with
    S_m = sum(w_j d_j^m), T_m = sum(w_j d_j^m y_j), d_j = j - i,
    w_j = tricube(|d_j|/(h+1)).

    Plan/determinism shape (r8 integer rewrite — the KM doctrine): the
    fact table compresses to one row per hour FIRST, to the INTEGER
    micro-dollar mean vu = rhu(cents·10^4/count); the tricube weight is
    the exact integer (2197−|d|³)³ (its 2197³ scale cancels in the WLS
    ratio, so weights are never floats); the five weighted sums are
    plain INTEGER sums over the 25-element neighborhood arrays —
    order-independent, immune to fold-implementation differences (the
    construct behind the kaplan_meier driver reds); trend_u is one
    signed round-half-up integer division of exact DECIMAL38/HUGEINT
    products, seasonal_u likewise from the two integer window sums, and
    resid_micros = vu − trend_u − seasonal_u EXACTLY (the additive
    identity holds bit-for-bit, not to rounding tolerance). All four
    emitted series are BIGINT micros. Scale: |hours| rows, 25-element
    arrays, O(h) per row, embarrassingly parallel after the per-hour
    agg — at 100 TB the hourly agg is the only full-data shuffle.
    """
    dec = _stl_decomposed(spark, sf_dir)
    return dec.select(
        "hour",
        F.col("vu").alias("v_micros"),
        F.col("trend_u").alias("trend_micros"),
        F.col("seasonal_u").alias("seasonal_micros"),
        (F.col("vu") - F.col("trend_u") - F.col("seasonal_u")).alias(
            "resid_micros"
        ),
    ).orderBy("hour")


SHESD_Z = 3.0  # robust-z flag threshold (the fixed-alpha S-H-ESD variant)


@register(
    "timeseries_anomaly_shesd",
    oracle=f"""
    WITH {_STL_CTES},
    resid AS (
      SELECT hour, vu - trend_u - seasonal_u AS ru FROM seas
    ),
    r1 AS (
      SELECT quantile_cont(CAST(ru AS DOUBLE), 0.5) AS med1 FROM resid
    ),
    d1 AS (
      SELECT hour, ru, abs(ru - med1) AS adev1 FROM resid CROSS JOIN r1
    ),
    m1 AS (SELECT quantile_cont(adev1, 0.5) AS mad1 FROM d1),
    z1 AS (
      SELECT hour, ru, adev1 / (1.4826 * mad1) AS z1
      FROM d1 CROSS JOIN m1
    ),
    r2 AS (
      SELECT quantile_cont(CAST(ru AS DOUBLE), 0.5)
               FILTER (z1 <= {SHESD_Z}) AS med2
      FROM z1
    ),
    d2 AS (
      SELECT hour, ru, z1, abs(ru - med2) AS adev2 FROM z1 CROSS JOIN r2
    ),
    m2 AS (
      SELECT quantile_cont(adev2, 0.5) FILTER (z1 <= {SHESD_Z}) AS mad2
      FROM d2
    ),
    fin AS (
      SELECT hour, ru, z1, adev2 / (1.4826 * mad2) AS z2
      FROM d2 CROSS JOIN m2
    )
    SELECT hour, ru / 1e6 AS resid,
           CAST(CASE WHEN z1 > {SHESD_Z} THEN 1 ELSE 2 END AS BIGINT)
             AS esd_round,
           round(CASE WHEN z1 > {SHESD_Z} THEN z1 ELSE z2 END, 4)
             AS robust_z
    FROM fin
    WHERE z1 > {SHESD_Z} OR z2 > {SHESD_Z}
    ORDER BY hour
    """,
)
def timeseries_anomaly_shesd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-Hybrid ESD anomaly screen (Hochenbaum, Vallis & Kejariwal
    2017) on the STL residuals: decompose the hourly series with the
    shared loess+seasonal machinery, then run a two-round generalized-ESD
    pass with MEDIAN/MAD in place of mean/stdev — round 1 flags residuals
    with robust z > {SHESD_Z}, round 2 recomputes median/MAD over the
    survivors only (the re-estimation step that lets ESD find anomalies
    masked by bigger ones) and flags again. Fixed threshold instead of
    the per-k t-quantile (the t inverse needs an incomplete-beta inverse
    — driver-side scipy territory); with the robust scale the fixed-z
    variant is the form production monitors actually deploy.

    Parity: residuals are fixed to integer micro-units with
    floor(x*1e6+0.5) (pure IEEE — the round-7 determinism doctrine), so
    every median/MAD interpolates dyadic values at the dyadic fraction
    0.5: lo + 0.5*(hi-lo) is EXACT in doubles on both engines regardless
    of each engine's interpolation formula. The z expressions then run
    on bit-identical inputs. Scale: after the hourly aggregate the frame
    is calendar-bounded (|hours|); two exact-median aggregates and two
    broadcast cross joins — nothing data-sized shuffles twice. At 100 TB
    the hourly agg is the only full scan; swap exact percentile for
    approx_percentile if the series itself outgrows a sort.
    """
    dec = _stl_decomposed(spark, sf_dir)
    resid = dec.select(
        "hour",
        (F.col("vu") - F.col("trend_u") - F.col("seasonal_u")).alias("ru"),
    )
    r1 = resid.agg(
        F.expr("percentile(CAST(ru AS DOUBLE), 0.5)").alias("med1")
    )
    d1 = resid.crossJoin(F.broadcast(r1)).withColumn(
        "adev1", F.abs(F.col("ru") - F.col("med1"))
    )
    m1 = d1.agg(F.expr("percentile(adev1, 0.5)").alias("mad1"))
    z1 = (
        d1.crossJoin(F.broadcast(m1))
        .withColumn("z1", F.col("adev1") / (1.4826 * F.col("mad1")))
        .select("hour", "ru", "z1")
    )
    r2 = z1.agg(
        F.expr(
            f"percentile(CAST(CASE WHEN z1 <= {SHESD_Z} THEN ru END"
            " AS DOUBLE), 0.5)"
        ).alias("med2")
    )
    d2 = z1.crossJoin(F.broadcast(r2)).withColumn(
        "adev2", F.abs(F.col("ru") - F.col("med2"))
    )
    m2 = d2.agg(
        F.expr(
            f"percentile(CASE WHEN z1 <= {SHESD_Z} THEN adev2 END, 0.5)"
        ).alias("mad2")
    )
    fin = d2.crossJoin(F.broadcast(m2)).withColumn(
        "z2", F.col("adev2") / (1.4826 * F.col("mad2"))
    )
    return (
        fin.where((F.col("z1") > SHESD_Z) | (F.col("z2") > SHESD_Z))
        .select(
            "hour",
            (F.col("ru") / 1e6).alias("resid"),
            F.when(F.col("z1") > SHESD_Z, F.lit(1))
            .otherwise(F.lit(2))
            .cast("bigint")
            .alias("esd_round"),
            F.round(
                F.when(F.col("z1") > SHESD_Z, F.col("z1")).otherwise(
                    F.col("z2")
                ),
                4,
            ).alias("robust_z"),
        )
        .orderBy("hour")
    )


KALMAN_Q = 0.05  # process (level random-walk) variance
KALMAN_R = 0.5  # observation noise variance

# The local-level variance/gain recursion is DATA-INDEPENDENT — P_t and
# K_t depend only on the step index — so the ladder is computed once per
# max group length and shared across every user's kernel invocation
# (r8 verdict item 5; the per-group list-append recomputation was the
# dominant constant in the 5.7 s bench entry). The memo grows in place:
# the recursion is prefix-stable, so shorter groups slice the front.
# Same IEEE ops in the same order as the original per-group loop —
# bit-exactness vs the RECURSIVE-CTE oracle is unchanged and re-pinned
# by the sf0.001/sf0.01 parity suites.
_KF_PV: list = [KALMAN_R]  # posterior variance P_t
_KF_KG: list = [0.0]  # Kalman gain K_t
_KF_C: list = []  # RTS smoother weight C_t = P_t / (P_t + q)


def _kalman_ladders(n: int):
    pv, kg, c = _KF_PV, _KF_KG, _KF_C
    while len(pv) < n:
        pp = pv[-1] + KALMAN_Q
        k = pp / (pp + KALMAN_R)
        kg.append(k)
        pv.append((1 - k) * pp)
    while len(c) < n:
        i = len(c)
        c.append(pv[i] / (pv[i] + KALMAN_Q))
    return pv, kg, c


def _kalman_kernel(pdf):
    """Local-level (random-walk + noise) Kalman filter per user
    (Harvey 1989 structural time series; Durbin & Koopman 2012 ch. 2):

        P'_t = P_{t-1} + q
        K_t  = P'_t / (P'_t + r)
        l_t  = l_{t-1} + K_t (x_t - l_{t-1})
        P_t  = (1 - K_t) P'_t

    initialized l_1 = x_1, P_1 = r, K_1 = 0. The steady-state gain this
    converges to makes the filter an EWMA with a PRINCIPLED alpha chosen
    by the q/r signal-to-noise ratio — the upgrade over the fixed-alpha
    timeseries_ewma. Same applyInPandas rationale as the EWMA/Holt
    kernels: per-group sequential state, one Arrow batch per user, and
    the same (ts, event_id) sort so tied timestamps stay deterministic."""
    # numpy lexsort + direct frame construction instead of
    # pdf.sort_values + .copy(): with thousands of ~100-row groups the
    # per-group pandas overhead, not the recursion, is the constant that
    # shows up in bench (r8 verdict item 5). lexsort is stable and
    # (ts, event_id) is a total order, so the row order is identical.
    import numpy as np
    import pandas as pd

    order = np.lexsort(
        (pdf["event_id"].to_numpy(), pdf["ts"].to_numpy())
    )
    x = pdf["value"].to_numpy(dtype="float64")[order].tolist()
    n = len(x)
    pv, kg, _ = _kalman_ladders(n)
    lev = [0.0] * n
    l_p = x[0]
    lev[0] = l_p
    for i in range(1, n):
        l_p = l_p + kg[i] * (x[i] - l_p)
        lev[i] = l_p
    # Unrounded: the operator rounds JVM-side (decimal-aware; Python
    # round() is banker's) — the Holt/EWMA discipline.
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"].to_numpy()[order],
            "event_id": pdf["event_id"].to_numpy()[order],
            "ts": pdf["ts"].to_numpy()[order],
            "level": lev,
            "p_var": pv[:n],
            "gain": kg[:n],
        }
    )


_KALMAN_ORACLE = f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, event_id, ts, rn,
             CAST(value AS DOUBLE) AS l,
             CAST({KALMAN_R} AS DOUBLE) AS p,
             CAST(0.0 AS DOUBLE) AS k
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.ts, s.rn,
             r.l + ((r.p + {KALMAN_Q}) / ((r.p + {KALMAN_Q}) + {KALMAN_R}))
                 * (s.value - r.l) AS l,
             (1 - (r.p + {KALMAN_Q}) / ((r.p + {KALMAN_Q}) + {KALMAN_R}))
                 * (r.p + {KALMAN_Q}) AS p,
             (r.p + {KALMAN_Q}) / ((r.p + {KALMAN_Q}) + {KALMAN_R}) AS k
      FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts,
           round(l, 6) AS level, round(p, 6) AS p_var, round(k, 6) AS gain
    FROM rec
    """


@register("timeseries_kalman_filter", oracle=_KALMAN_ORACLE)
def timeseries_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user local-level Kalman filter over event values — filtered
    level, posterior variance, and Kalman gain per observation. FULLY
    ORACLED bit-exactly: the DuckDB RECURSIVE CTE runs the identical
    (+, *, /) recursion in the identical (ts, event_id) order — every
    operation is IEEE multiply/add/divide (no libm), so the doubles
    match to the last bit and rounding happens once, JVM-side.

    Scale shape: identical to timeseries_ewma/holt — ONE shuffle on
    user_id, per-group sequential recursion inside an Arrow batch
    (mapInPandas-class kernel, no per-row Python), O(1) state per
    group, embarrassingly parallel across users. The variance/gain
    recursion is data-independent (depends only on step count), which
    is why the gain column converging to its steady state is pinned in
    tests as a closed-form invariant."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    raw = _spread_groups(ev, "user_id").groupBy("user_id").applyInPandas(
        _kalman_kernel,
        "user_id long, event_id long, ts timestamp, level double,"
        " p_var double, gain double",
    )
    return (
        raw.withColumn("level", F.round("level", 6))
        .withColumn("p_var", F.round("p_var", 6))
        .withColumn("gain", F.round("gain", 6))
    )


def _kalman_smooth_kernel(pdf):
    """Rauch-Tung-Striebel smoother on top of the local-level forward
    filter (_kalman_kernel's recursion): backward pass

        C_t = P_t / (P_t + q)          (P'_{t+1} = P_t + q)
        s_t = l_t + C_t (s_{t+1} - l_t)

    initialized s_n = l_n. The smoothed level conditions every estimate
    on the FULL series (filter: past only) — the retrospective
    trend-extraction an offline batch pipeline wants, vs the filter's
    online estimate."""
    # Same numpy-lexsort/direct-construction shape as _kalman_kernel —
    # see the comment there.
    import numpy as np
    import pandas as pd

    order = np.lexsort(
        (pdf["event_id"].to_numpy(), pdf["ts"].to_numpy())
    )
    x = pdf["value"].to_numpy(dtype="float64")[order].tolist()
    n = len(x)
    _, kg, c = _kalman_ladders(n)
    lev = [0.0] * n
    l_p = x[0]
    lev[0] = l_p
    for i in range(1, n):
        l_p = l_p + kg[i] * (x[i] - l_p)
        lev[i] = l_p
    sm = [0.0] * n
    s_n = lev[n - 1]
    sm[n - 1] = s_n
    for i in range(n - 2, -1, -1):
        s_n = lev[i] + c[i] * (s_n - lev[i])
        sm[i] = s_n
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"].to_numpy()[order],
            "event_id": pdf["event_id"].to_numpy()[order],
            "ts": pdf["ts"].to_numpy()[order],
            "level": lev,
            "smoothed": sm,
        }
    )


_KALMAN_SMOOTH_ORACLE = f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    fwd AS (
      SELECT user_id, event_id, ts, rn,
             CAST(value AS DOUBLE) AS l,
             CAST({KALMAN_R} AS DOUBLE) AS p
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.ts, s.rn,
             r.l + ((r.p + {KALMAN_Q}) / ((r.p + {KALMAN_Q}) + {KALMAN_R}))
                 * (s.value - r.l) AS l,
             (1 - (r.p + {KALMAN_Q}) / ((r.p + {KALMAN_Q}) + {KALMAN_R}))
                 * (r.p + {KALMAN_Q}) AS p
      FROM fwd r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    ),
    mx AS (SELECT user_id, max(rn) AS mrn FROM fwd GROUP BY user_id),
    back AS (
      SELECT f.user_id, f.event_id, f.ts, f.rn, f.l, f.l AS s
      FROM fwd f JOIN mx ON f.user_id = mx.user_id AND f.rn = mx.mrn
      UNION ALL
      SELECT f.user_id, f.event_id, f.ts, f.rn, f.l,
             f.l + (f.p / (f.p + {KALMAN_Q})) * (b.s - f.l) AS s
      FROM back b JOIN fwd f
        ON f.user_id = b.user_id AND f.rn = b.rn - 1
    )
    SELECT user_id, event_id, ts,
           round(l, 6) AS level, round(s, 6) AS smoothed
    FROM back
    """


@register("timeseries_kalman_smoother", oracle=_KALMAN_SMOOTH_ORACLE)
def timeseries_kalman_smoother(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rauch-Tung-Striebel smoothed level per user on the local-level
    model — the OFFLINE companion to timeseries_kalman_filter: the
    forward Kalman pass then the backward C_t-weighted correction, so
    every estimate conditions on the whole series. FULLY ORACLED
    bit-exactly: the DuckDB oracle chains TWO recursive CTEs (forward
    from rn=1, backward from each user's max rn) replaying the
    identical IEEE recursions in the identical order.

    Scale shape: still ONE shuffle on user_id and one Arrow batch per
    user — the backward pass is the same O(n) in-kernel loop, no extra
    distributed stage. The smoother's fixed-interval structure is why
    it belongs in a BATCH engine (the filter alone is the streaming
    variant)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    raw = _spread_groups(ev, "user_id").groupBy("user_id").applyInPandas(
        _kalman_smooth_kernel,
        "user_id long, event_id long, ts timestamp, level double,"
        " smoothed double",
    )
    return raw.withColumn("level", F.round("level", 6)).withColumn(
        "smoothed", F.round("smoothed", 6)
    )


PW_CHANGEPOINTS = (11, 21)  # hinge knots (day index) for the trend


_PW_D = 2 + len(PW_CHANGEPOINTS) + 6  # intercept, t, hinges, dow dummies


def _pw_stages() -> list[tuple[str, str]]:
    """Cholesky-solved normal equations + moment-form RMSE over doubles
    m_i_j (i<=j, exact-int design moments), v_i (X'y), yy, nd — shared
    verbatim between the driver eval and the oracle CTE chain."""
    from go_batch_processor_spark.operators.ml import _chol_solve_stages

    def m(i, j):
        return f"m_{min(i, j)}_{max(i, j)}"

    stages = _chol_solve_stages(_PW_D, m, lambda i: f"v_{i}")
    bty = " + ".join(f"b{i}*v_{i}" for i in range(_PW_D))
    btmb = " + ".join(
        f"b{i}*b{j}*{m(i, j)}" for i in range(_PW_D) for j in range(_PW_D)
    )
    stages += [
        ("bty", f"({bty})"),
        ("btmb", f"({btmb})"),
        ("ss_res", "yy - 2*bty + btmb"),
        # moment-form SSE can float a hair negative on a near-perfect
        # fit; clamp before the sqrt on BOTH engines
        ("rmse", "sqrt(greatest(ss_res/nd, 0))"),
    ]
    return stages


def _pw_design_sql() -> list[str]:
    cols = ["1 AS x0", "rn AS x1"]
    for c in PW_CHANGEPOINTS:
        cols.append(f"greatest(0, rn - {c}) AS x{len(cols)}")
    for k in range(1, 7):
        cols.append(f"CASE WHEN wd = {k} THEN 1 ELSE 0 END AS x{len(cols)}")
    return cols


def _pw_oracle() -> str:
    from go_batch_processor_spark.operators.ml import _stage_ctes

    sums = ["CAST(count(*) AS BIGINT) AS n",
            "sum(CAST(yc AS HUGEINT) * yc) AS yyi"]
    prep = ["CAST(n AS DOUBLE) AS nd",
            "CAST(yyi AS DOUBLE) / CAST(10000 AS DOUBLE) AS yy"]
    for i in range(_PW_D):
        sums.append(f"sum(CAST(x{i} AS HUGEINT) * yc) AS vi_{i}")
        prep.append(f"CAST(vi_{i} AS DOUBLE) / CAST(100 AS DOUBLE) AS v_{i}")
        for j in range(i, _PW_D):
            sums.append(f"sum(CAST(x{i} AS HUGEINT) * x{j}) AS mi_{i}_{j}")
            prep.append(f"CAST(mi_{i}_{j} AS DOUBLE) AS m_{i}_{j}")
    ctes, last = _stage_ctes(_pw_stages(), "vals", prefix="pw")
    from go_batch_processor_spark.operators.ml import _round_sql

    r6 = _round_sql(6)
    r4 = _round_sql(4)
    terms = (
        ["intercept", "slope"]
        + [f"hinge_d{c}" for c in PW_CHANGEPOINTS]
        + [f"dow_{k}" for k in range(1, 7)]
    )
    outs = [
        f"SELECT '{t}' AS term, {r6.format(x=f'b{k}')} AS value FROM {last}"
        for k, t in enumerate(terms)
    ] + [
        f"SELECT 'rmse', {r4.format(x='rmse')} FROM {last}",
        f"SELECT 'n_days', nd FROM {last}",
    ]
    body = "\n    UNION ALL\n    ".join(outs)
    return f"""
    WITH daily AS MATERIALIZED (
      SELECT date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
      FROM events GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             CAST(isodow(d) - 1 AS BIGINT) AS wd,
             yc
      FROM daily
    ),
    design AS MATERIALIZED (
      SELECT {", ".join(_pw_design_sql())}, yc FROM idx
    ),
    vals_i AS MATERIALIZED (
      SELECT {", ".join(sums)}
      FROM design
    ),
    vals AS MATERIALIZED (
      SELECT {", ".join(prep)}
      FROM vals_i
    ),
    {ctes}
    {body}
    """


@register("timeseries_piecewise_trend", oracle=_pw_oracle())
def timeseries_piecewise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prophet-style structural trend fit (Taylor & Letham 2018, "Fore-
    casting at scale"): daily totals regressed on a piecewise-linear
    trend (hinge features max(0, t - c) at fixed changepoints) plus
    day-of-week dummies, by ordinary least squares. The decomposable
    "trend + seasonality via regression" shape is Prophet's core idea,
    minus the MCMC (fixed knots, no priors) — deterministic and exactly
    reproducible.

    Scale shape: 100 TB of events compress to ONE row per calendar day
    (exact integer-cents sums — partial-combinable, the money rule), and
    the regression runs driver-side on that CALENDAR-BOUNDED frame (a
    30-row collect at any corpus size — the documented bounded
    sufficient-stats idiom, same class as ml_ols' X'X collect). Nothing
    about the fit depends on corpus size; only the daily agg does.

    ORACLED (r11, upgraded from rows-only — the OLS shared-expression
    precedent at d=10): lstsq (SVD, no SQL twin) is replaced by the
    normal equations with EXACT integer design moments (t, hinges, and
    dummies are integers; X'y in cents) solved through generated
    CHOLESKY stages (_chol_solve_stages — Cramer at d=10 would be 10!
    terms) shared verbatim with the oracle's CTE chain; RMSE comes from
    the same moments in quadratic form with a greatest(.,0) clamp
    before the sqrt on both engines. Bit-exact across engines; the
    numpy lstsq twin (1e-5) still pins the math.
    """
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
        .orderBy("d")
    )
    rows = daily.collect()  # calendar-bounded: one row per day
    n = len(rows)
    xs = []
    ycs = []
    for t_idx, r in enumerate(rows, start=1):
        wd = r.d.weekday()  # Mon=0..Sun=6 == DuckDB isodow(d) - 1
        x = [1, t_idx]
        for c in PW_CHANGEPOINTS:
            x.append(max(0, t_idx - c))
        for k in range(1, 7):
            x.append(1 if wd == k else 0)
        xs.append(x)
        ycs.append(int(r.yc))
    ns = {"nd": float(n),
          "yy": sum(c * c for c in ycs) / 10000.0,
          "sqrt": math.sqrt,
          "greatest": max}
    for i in range(_PW_D):
        ns[f"v_{i}"] = sum(x[i] * c for x, c in zip(xs, ycs)) / 100.0
        for j in range(i, _PW_D):
            ns[f"m_{i}_{j}"] = float(sum(x[i] * x[j] for x in xs))
    from go_batch_processor_spark.operators.ml import (
        _eval_stages,
        _round6_floor,
    )

    ns = _eval_stages(_pw_stages(), ns)
    terms = (
        ["intercept", "slope"]
        + [f"hinge_d{c}" for c in PW_CHANGEPOINTS]
        + [f"dow_{k}" for k in range(1, 7)]
    )
    out = [(t_, _round6_floor(ns[f"b{k}"])) for k, t_ in enumerate(terms)] + [
        ("rmse", math.floor(ns["rmse"] * 10000.0 + 0.5) / 10000.0),
        ("n_days", float(n)),
    ]
    return spark.createDataFrame(out, "term string, value double")


@register(
    "timeseries_ar2_yule_walker",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, sum(value) AS v
      FROM events GROUP BY 1
    ),
    x1 AS (SELECT h, v, avg(v) OVER () AS mu FROM hourly),
    x2 AS (
      SELECT h, v, mu,
             sum((v - mu) * (v - mu)) OVER () AS den,
             row_number() OVER (ORDER BY h)   AS rn
      FROM x1
    ),
    r AS (
      SELECT sum(CASE WHEN a.rn - b.rn = 1
                      THEN (a.v - a.mu) * (b.v - b.mu) END)
               / any_value(a.den) AS r1,
             sum(CASE WHEN a.rn - b.rn = 2
                      THEN (a.v - a.mu) * (b.v - b.mu) END)
               / any_value(a.den) AS r2
      FROM x2 a JOIN x2 b ON a.rn - b.rn BETWEEN 1 AND 2
    )
    SELECT round(r1, 6) AS r1, round(r2, 6) AS r2,
           round(r1 * (1 - r2) / (1 - r1 * r1), 6)  AS phi1,
           round((r2 - r1 * r1) / (1 - r1 * r1), 6) AS phi2,
           round(1 - (r1 * (1 - r2) / (1 - r1 * r1)) * r1
                   - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2, 6)
             AS innovation_var_ratio
    FROM r
    """,
)
def timeseries_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit by the Yule-Walker closed form — the Box-Jenkins
    ESTIMATION step after the identification diagnostics this suite
    already carries (timeseries_acf, timeseries_pacf, ljung_box,
    dickey_fuller): with sample autocorrelations r1, r2, the
    Toeplitz system solves in closed form to
    phi1 = r1(1 - r2)/(1 - r1^2), phi2 = (r2 - r1^2)/(1 - r1^2),
    innovation variance ratio = 1 - phi1 r1 - phi2 r2 (share of the
    series variance the AR(2) structure does NOT explain).

    Plan shape: identical to timeseries_acf's — one partial-combinable
    per-hour aggregate, grand mean and denominator as windows over the
    agg output (never a second scan), a lag<=2 banded self-join on the
    |hours| frame, then pure closed-form arithmetic (no solver, no
    libm) on a 1-row frame. FULLY ORACLED: the DuckDB twin runs the
    identical dataflow, and the Cramer-style closed form follows the
    stats_granger_causality precedent for oracled model fits.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    w_all = Window.partitionBy()
    x1 = hourly.select("h", "v", F.avg("v").over(w_all).alias("mu"))
    x2 = x1.select(
        "h",
        "v",
        "mu",
        F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu")))
        .over(w_all)
        .alias("den"),
        F.row_number().over(Window.partitionBy().orderBy("h")).alias("rn"),
    )
    a, b = x2.alias("a"), x2.alias("b")
    lag = F.col("a.rn") - F.col("b.rn")
    prod = (F.col("a.v") - F.col("a.mu")) * (F.col("b.v") - F.col("b.mu"))
    r = (
        a.join(b, (lag >= 1) & (lag <= 2))
        .agg(
            (F.sum(F.when(lag == 1, prod)) / F.first(F.col("a.den"))).alias(
                "r1"
            ),
            (F.sum(F.when(lag == 2, prod)) / F.first(F.col("a.den"))).alias(
                "r2"
            ),
        )
    )
    r1, r2 = F.col("r1"), F.col("r2")
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    return r.select(
        F.round(r1, 6).alias("r1"),
        F.round(r2, 6).alias("r2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(1 - phi1 * r1 - phi2 * r2, 6).alias("innovation_var_ratio"),
    )

SAX_SEGMENTS = 6
SAX_BP_LO = -0.6745  # N(0,1) quartile breakpoints, alphabet size 4
SAX_BP_HI = 0.6745


@register(
    "timeseries_sax_symbolic",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1
    ),
    numbered AS (
      SELECT d, x,
             row_number() OVER (ORDER BY d) - 1 AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(x) OVER () AS BIGINT) AS sx,
             CAST(sum(CAST(x AS HUGEINT) * x) OVER () AS DOUBLE) AS qx
      FROM daily
    ),
    seg AS (
      SELECT CAST(floor(rn * {SAX_SEGMENTS} / n) AS BIGINT) AS segment,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS seg_sum,
             any_value(n) AS n, any_value(sx) AS sx, any_value(qx) AS qx
      FROM numbered GROUP BY 1
    ),
    z AS (
      SELECT segment, n_days,
             (CAST(seg_sum AS DOUBLE) / n_days - CAST(sx AS DOUBLE) / n)
               / sqrt((qx - CAST(sx AS DOUBLE) * sx / n) / (n - 1)) AS paa_z
      FROM seg
    )
    SELECT segment, n_days, round(paa_z, 6) AS paa_z,
           CASE WHEN paa_z < {SAX_BP_LO} THEN 'a'
                WHEN paa_z < 0 THEN 'b'
                WHEN paa_z < {SAX_BP_HI} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    ORDER BY segment
    """,
)
def timeseries_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic discretization (Lin, Keogh et al. 2003) of the daily
    revenue series: z-normalize, Piecewise Aggregate Approximation into
    {SAX_SEGMENTS} near-equal segments (segment = floor(rn*w/n), sizes
    differ by at most one day), then map each segment mean to a 4-letter
    alphabet at the standard N(0,1) quartile breakpoints (+-0.6745, 0).
    The symbolic form is what motif discovery / sequence indexing / cheap
    distance bounds consume downstream.

    Parity: daily revenues are exact integer cents; mean/variance come
    from exact integer sufficient stats (DuckDB HUGEINT / Spark
    DECIMAL(38,0) for the square sum) so paa_z is a fixed IEEE
    expression; symbol thresholds compare that deterministic double to
    exact literals. round(6) guards only the displayed z. Scale: the
    series is a calendar-bounded daily aggregate (the documented
    small-window exception); everything before it is partial-combinable."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("x")
    )
    w_all = Window.partitionBy().orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rn = Window.partitionBy().orderBy("d")
    numbered = daily.select(
        "x",
        (F.row_number().over(w_rn) - 1).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
        F.sum("x").over(w_all).cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .over(w_all)
        .cast("double")
        .alias("qx"),
    )
    seg = numbered.groupBy(
        F.floor(F.col("rn") * SAX_SEGMENTS / F.col("n")).cast("bigint").alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("seg_sum"),
        F.any_value(F.col("n")).alias("n"),
        F.any_value(F.col("sx")).alias("sx"),
        F.any_value(F.col("qx")).alias("qx"),
    )
    n_d = F.col("n").cast("double")
    paa_z = (
        F.col("seg_sum").cast("double") / F.col("n_days")
        - F.col("sx").cast("double") / F.col("n")
    ) / F.sqrt(
        (F.col("qx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        seg.withColumn("paa_z_raw", paa_z)
        .select(
            "segment",
            "n_days",
            F.round(F.col("paa_z_raw"), 6).alias("paa_z"),
            F.when(F.col("paa_z_raw") < SAX_BP_LO, F.lit("a"))
            .when(F.col("paa_z_raw") < 0, F.lit("b"))
            .when(F.col("paa_z_raw") < SAX_BP_HI, F.lit("c"))
            .otherwise(F.lit("d"))
            .alias("symbol"),
        )
        .orderBy("segment")
    )


CROSTON_ALPHA = 0.2
CROSTON_PARTKEY = 1


@register(
    "timeseries_croston",
    oracle=f"""
    WITH RECURSIVE occ AS (
      SELECT l_shipdate AS d, CAST(sum(l_quantity) AS BIGINT) AS q
      FROM lineitem WHERE l_partkey = {CROSTON_PARTKEY}
      GROUP BY 1
    ),
    numbered AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             CAST(d AS TIMESTAMP) AS d, q,
             CAST(coalesce(date_diff('day', lag(d) OVER (ORDER BY d), d), 1)
                  AS BIGINT) AS gap_d
      FROM occ
    ),
    walk(rn, d, q, gap_d, z, p) AS (
      SELECT rn, d, q, gap_d, CAST(q AS DOUBLE), CAST(1 AS DOUBLE)
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.rn, n.d, n.q, n.gap_d,
             {CROSTON_ALPHA} * n.q + (1 - {CROSTON_ALPHA}) * w.z,
             {CROSTON_ALPHA} * n.gap_d + (1 - {CROSTON_ALPHA}) * w.p
      FROM walk w JOIN numbered n ON n.rn = w.rn + 1
    )
    SELECT rn, d, q, gap_d,
           round(z, 6) AS z_size,
           round(p, 6) AS p_interval,
           round(z / p, 6) AS forecast_per_day
    FROM walk
    ORDER BY rn
    """,
)
def timeseries_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (Croston 1972) for intermittent demand: part
    {CROSTON_PARTKEY}'s ship-date demand is zero on most days, so naive
    exponential smoothing collapses toward zero between orders. Croston
    smooths the nonzero demand SIZES (z) and the inter-arrival GAPS (p)
    separately — forecast per day = z/p. Init: z = first demand, p = 1;
    alpha = {CROSTON_ALPHA}.

    Parity: demand sizes and gaps are exact integers; the coupled
    recursion is the same fixed IEEE expression evaluated in the same
    order on both engines — Spark folds over the date-ordered occurrence
    array (aggregate(), the KM pattern), DuckDB runs the identical
    recursion as a sequential recursive CTE; round(6) displays the
    state. Scale: intermittent demand is per-sku SPARSE by definition —
    the occurrence list for one sku is tiny (here ~tens of rows), and the
    100 TB shape runs the identical fold inside groupBy(sku)
    (one shuffle of nonzero-demand rows only, no calendar densify)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") == CROSTON_PARTKEY
    )
    occ = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        F.sum("l_quantity").cast("bigint").alias("q")
    )
    w = Window.partitionBy().orderBy("d")
    numbered = occ.select(
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.col("d").cast("timestamp").alias("d"),
        "q",
        F.coalesce(F.datediff(F.col("d"), F.lag("d").over(w)), F.lit(1))
        .cast("bigint")
        .alias("gap_d"),
    )
    rows = numbered.agg(
        F.array_sort(
            F.collect_list(F.struct("rn", "d", "q", "gap_d"))
        ).alias("rows")
    )
    a = CROSTON_ALPHA
    # Left fold carrying (array of finished states, z, p); seeded so the
    # first element initializes z = q_1, p = 1.
    folded = rows.select(
        F.aggregate(
            F.col("rows"),
            F.struct(
                F.array().cast(
                    "array<struct<rn:bigint,d:timestamp,q:bigint,gap_d:bigint,"
                    "z:double,p:double>>"
                ).alias("acc"),
                F.lit(None).cast("double").alias("z"),
                F.lit(None).cast("double").alias("p"),
            ),
            lambda st, r: F.struct(
                F.concat(
                    st["acc"],
                    F.array(
                        F.struct(
                            r["rn"].alias("rn"),
                            r["d"].alias("d"),
                            r["q"].alias("q"),
                            r["gap_d"].alias("gap_d"),
                            F.when(st["z"].isNull(), r["q"].cast("double"))
                            .otherwise(a * r["q"] + (1 - a) * st["z"])
                            .alias("z"),
                            F.when(st["p"].isNull(), F.lit(1.0))
                            .otherwise(a * r["gap_d"] + (1 - a) * st["p"])
                            .alias("p"),
                        )
                    ),
                ).alias("acc"),
                F.when(st["z"].isNull(), r["q"].cast("double"))
                .otherwise(a * r["q"] + (1 - a) * st["z"])
                .alias("z"),
                F.when(st["p"].isNull(), F.lit(1.0))
                .otherwise(a * r["gap_d"] + (1 - a) * st["p"])
                .alias("p"),
            ),
        )["acc"].alias("states")
    )
    st = F.explode("states").alias("s")
    out = folded.select(st).select(
        F.col("s.rn").alias("rn"),
        F.col("s.d").alias("d"),
        F.col("s.q").alias("q"),
        F.col("s.gap_d").alias("gap_d"),
        F.round(F.col("s.z"), 6).alias("z_size"),
        F.round(F.col("s.p"), 6).alias("p_interval"),
        F.round(F.col("s.z") / F.col("s.p"), 6).alias("forecast_per_day"),
    )
    return out.orderBy("rn")


DTW_BAND = 10  # Sakoe-Chiba radius (days)


def _dtw_oracle() -> str:
    """DuckDB twin of timeseries_dtw_distance: the IDENTICAL banded DP
    replayed as a nested ordered list fold. The accumulator-with-init
    trick: list_reduce has no init argument in this build, so the init
    ROW rides as the PREPENDED first element of a list-of-lists (the
    seed of the fold), and scalar step inputs are single-element lists
    to share the accumulator's LIST type. Everything is IEEE-exact
    arithmetic over bit-identical z-scores (exact integer sufficient
    stats -> one cast each -> shared division/sqrt tree; sqrt is
    correctly rounded, no libm), and the fold replays the JVM
    aggregate()'s exact |.| + least() sequence — bit-identical DP
    cells, bit-identical distance."""
    return f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    gs AS (
      SELECT CAST(count(*) AS DOUBLE) AS nd,
             CAST(sum(rev) AS DOUBLE) AS sa,
             CAST(sum(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS qa,
             CAST(sum(cnt) AS DOUBLE) AS sb,
             CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS DOUBLE) AS qb
      FROM daily
    ),
    z AS (
      SELECT d,
             (rev - sa / nd)
               / sqrt((qa - sa * sa / nd) / (nd - CAST(1 AS DOUBLE))) AS za,
             (cnt - sb / nd)
               / sqrt((qb - sb * sb / nd) / (nd - CAST(1 AS DOUBLE))) AS zb
      FROM daily, gs
    ),
    arr AS (
      SELECT list(za ORDER BY d) AS av, list(zb ORDER BY d) AS bv,
             CAST(count(*) AS BIGINT) AS n
      FROM z
    ),
    dp AS (
      SELECT n AS n_a, n AS n_b,
        list_reduce(
          list_prepend(
            [CAST(0 AS DOUBLE)]
              || list_transform(generate_series(1, CAST(n AS INT)),
                                j -> CAST('infinity' AS DOUBLE)),
            list_transform(generate_series(1, CAST(n AS INT)),
                           i -> [CAST(i AS DOUBLE)])
          ),
          (prev, xi) -> list_reduce(
            list_prepend([CAST('infinity' AS DOUBLE)],
                         list_transform(generate_series(1, CAST(n AS INT)),
                                        j -> [CAST(j AS DOUBLE)])),
            (cur, xj) -> list_append(cur,
              CASE WHEN abs(xi[1] - xj[1]) > {DTW_BAND}
                   THEN CAST('infinity' AS DOUBLE)
                   ELSE abs(av[CAST(xi[1] AS INT)] - bv[CAST(xj[1] AS INT)])
                        + least(prev[CAST(xj[1] AS INT) + 1],
                                prev[CAST(xj[1] AS INT)],
                                cur[-1])
              END)
          )
        ) AS dprow
      FROM arr
    )
    SELECT n_a, n_b, CAST({DTW_BAND} AS BIGINT) AS band,
           round(dprow[CAST(n_a AS INT) + 1], 6) AS dtw_distance,
           round(dprow[CAST(n_a AS INT) + 1] / (n_a + n_b), 6)
             AS dtw_normalized
    FROM dp
    """


@register("timeseries_dtw_distance", oracle=_dtw_oracle())
def timeseries_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Time Warping distance (Sakoe & Chiba 1978) between the
    z-normalized daily revenue and daily event-count series — "do the
    two KPIs trace the same shape, allowing small phase shifts?", the
    alignment-tolerant alternative to timeseries_rolling_corr. L1 cost,
    Sakoe-Chiba band radius {DTW_BAND}.

    Implementation: both calendar-bounded series are assembled into one
    1-row frame of two ordered arrays (z-scores from exact integer
    sufficient stats, the SAX machinery); the classic O(n·m) DP runs as
    a nested JVM aggregate() fold — the outer fold carries the previous
    DP row, the inner fold builds each row left to right (the banded
    cells skipped as +inf). ~n·m = 10³ interpreted HOF steps on a 1-row
    frame — micro work; NO per-cell shuffle, no Python.

    ORACLED (r11, upgraded from rows-only): the DP is a fixed IEEE
    |·| + least() sequence over bit-identical z-scores (exact integer
    sufficient stats, one cast each, correctly-rounded sqrt — no libm
    anywhere), so the DuckDB twin replays the IDENTICAL fold as nested
    list_reduce with the init-row-as-first-element trick (this build's
    list_reduce has no init argument; the seed row rides prepended in
    a list-of-lists) — bit-identical DP cells, bit-identical distance.
    tests/test_round7b_invariants.py still pins the pure-Python DP twin.

    Scale: a single DTW is inherently small (two bounded series); the
    100 TB shape is millions of INDEPENDENT DTWs (per sku/user pair),
    which this fold already supports verbatim inside a groupBy — each
    group's DP is data-parallel across groups, which is where the scale
    lives (cf. the Croston per-sku note)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )

    def znorm(col: str) -> F.Column:
        w = Window.partitionBy().orderBy("d").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        n = F.count(F.lit(1)).over(w).cast("double")
        s = F.sum(col).over(w).cast("double")
        q = F.sum(F.col(col).cast("decimal(38,0)") * F.col(col)).over(w).cast(
            "double"
        )
        return (F.col(col) - s / n) / F.sqrt((q - s * s / n) / (n - 1.0))

    series = daily.select(
        "d", znorm("rev").alias("za"), znorm("cnt").alias("zb")
    )
    row = series.agg(
        F.array_sort(F.collect_list(F.struct("d", "za"))).alias("sa"),
        F.array_sort(F.collect_list(F.struct("d", "zb"))).alias("sb"),
    ).select(
        F.transform("sa", lambda s: s["za"]).alias("a"),
        F.transform("sb", lambda s: s["zb"]).alias("b"),
    )
    inf = F.lit(float("inf"))
    m = F.size(F.col("b"))

    def dp_fold(a_col, b_col):
        # padded row indices 0..m; row[0] of the virtual row -1 is 0.
        init = F.concat(
            F.array(F.lit(0.0)), F.array_repeat(inf, m)
        )  # dp[-1][*]
        return F.aggregate(
            F.sequence(F.lit(1), F.size(a_col)),
            init,
            lambda prev, i: F.aggregate(
                F.sequence(F.lit(1), m),
                F.array(inf),  # cur[0] = inf (j=0 pad)
                lambda cur, j: F.concat(
                    cur,
                    F.array(
                        F.when(
                            F.abs(i - j) > DTW_BAND, inf
                        ).otherwise(
                            F.abs(
                                F.element_at(a_col, i) - F.element_at(b_col, j)
                            )
                            + F.least(
                                F.element_at(prev, j + 1),
                                F.element_at(prev, j),
                                F.element_at(cur, F.size(cur)),
                            )
                        )
                    ),
                ),
            ),
        )

    dp = row.select(
        F.size("a").cast("bigint").alias("n_a"),
        F.size("b").cast("bigint").alias("n_b"),
        F.element_at(dp_fold(F.col("a"), F.col("b")), m + 1).alias("dtw_raw"),
    )
    return dp.select(
        "n_a",
        "n_b",
        F.lit(DTW_BAND).cast("bigint").alias("band"),
        F.round(F.col("dtw_raw"), 6).alias("dtw_distance"),
        F.round(F.col("dtw_raw") / (F.col("n_a") + F.col("n_b")), 6).alias(
            "dtw_normalized"
        ),
    )


PELT_MIN_SIZE = 3


def _pelt_oracle() -> str:
    """DuckDB twin of timeseries_changepoint_pelt: the IDENTICAL
    pruned DP replayed as a recursive-CTE state machine — one row per
    t carrying (fcost, last, cands) as LISTS, the per-t argmin as an
    ordered list fold (first-strict-min == the driver loop's `c <
    best` over cands in insertion order), pruning as list_filter over
    the same inequality, and the backtrack as a second recursive walk
    over the final `last` list. Costs are fixed IEEE expressions over
    prefix sums of exact integer cents (built by ordered list folds),
    beta's ln(n) is glibc-bit-equal, so every comparison the DP makes
    is over bit-identical doubles — the discrete choices (argmin,
    pruning set, changepoints) replay EXACTLY, the one regime where a
    data-dependent DP crosses engines (cf. SCALE.md round-11: discrete
    argmax is safe iff its operands are bit-identical)."""
    msz = PELT_MIN_SIZE
    inf = "CAST('infinity' AS DOUBLE)"
    tt = "(w.t + 1)"
    # sse(s, tt) with s = a double expression `{s}`; list indices 1-based
    def sse(s: str) -> str:
        return (
            f"((p.pq[CAST({tt} AS INT) + 1] - p.pq[CAST({s} AS INT) + 1])"
            f" - (p.ps[CAST({tt} AS INT) + 1] - p.ps[CAST({s} AS INT) + 1])"
            f" * (p.ps[CAST({tt} AS INT) + 1] - p.ps[CAST({s} AS INT) + 1])"
            f" / ({tt} - {s}))"
        )

    cost_e = f"(w.fcost[CAST(e[1] AS INT) + 1] + {sse('e[1]')} + p.beta)"
    fold = (
        "list_reduce(list_prepend("
        f"[{inf}, CAST(0 AS DOUBLE)],"
        " list_transform(w.cands, s -> [CAST(s AS DOUBLE),"
        " CAST(0 AS DOUBLE)])),"
        f" (acc, e) -> CASE WHEN {tt} - e[1] >= {msz}"
        f" AND {cost_e} < acc[1]"
        f" THEN [{cost_e}, e[1]] ELSE acc END)"
    )
    prune_keep = (
        f"w.fcost[CAST(s AS INT) + 1]"
        f" + ((p.pq[CAST({tt} AS INT) + 1] - p.pq[CAST(s AS INT) + 1])"
        f" - (p.ps[CAST({tt} AS INT) + 1] - p.ps[CAST(s AS INT) + 1])"
        f" * (p.ps[CAST({tt} AS INT) + 1] - p.ps[CAST(s AS INT) + 1])"
        f" / ({tt} - s)) <= bb[1]"
    )
    from go_batch_processor_spark.operators.ml import _round_sql

    r2 = _round_sql(2)
    return f"""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    arr AS (
      SELECT list(CAST(x AS DOUBLE) ORDER BY d) AS xs,
             list(d ORDER BY d) AS days,
             CAST(count(*) AS BIGINT) AS n
      FROM daily
    ),
    pre AS (
      SELECT n, days, xs,
        list_reduce(list_prepend([CAST(0 AS DOUBLE)],
                                 list_transform(xs, v -> [v])),
                    (acc, e) -> list_append(acc, acc[-1] + e[1])) AS ps,
        list_reduce(list_prepend([CAST(0 AS DOUBLE)],
                                 list_transform(xs, v -> [v])),
                    (acc, e) -> list_append(acc, acc[-1] + e[1] * e[1]))
          AS pq
      FROM arr
    ),
    prm AS (
      SELECT n, days, ps, pq,
             (CAST(2 AS DOUBLE)
              * ((pq[CAST(n AS INT) + 1]
                  - ps[CAST(n AS INT) + 1] * ps[CAST(n AS INT) + 1] / n)
                 / (n - 1)))
             * ln(n) AS beta
      FROM pre
    ),
    walk(t, fcost, lastv, cands) AS (
      SELECT CAST({msz - 1} AS BIGINT),
             [CAST(0 AS DOUBLE)]
               || list_transform(generate_series(1, CAST(n AS INT)),
                                 i -> {inf}),
             list_transform(generate_series(0, CAST(n AS INT)),
                            i -> CAST(0 AS BIGINT)),
             [CAST(0 AS BIGINT)]
      FROM prm
      UNION ALL
      SELECT {tt},
             CASE WHEN bb[1] < {inf}
                  THEN w.fcost[1:CAST({tt} AS INT)] || [bb[1]]
                       || w.fcost[CAST({tt} AS INT) + 2:CAST(p.n AS INT) + 1]
                  ELSE w.fcost END,
             CASE WHEN bb[1] < {inf}
                  THEN w.lastv[1:CAST({tt} AS INT)]
                       || [CAST(bb[2] AS BIGINT)]
                       || w.lastv[CAST({tt} AS INT) + 2:CAST(p.n AS INT) + 1]
                  ELSE w.lastv END,
             CASE WHEN bb[1] < {inf}
                  THEN list_filter(w.cands, s -> {prune_keep}) || [{tt}]
                  ELSE w.cands END
      FROM walk w, prm p, LATERAL (SELECT {fold} AS bb) f
      WHERE w.t < p.n
    ),
    fin AS (
      SELECT w.fcost, w.lastv FROM walk w, prm p WHERE w.t = p.n
    ),
    bt(t, s) AS (
      SELECT p.n, f.lastv[CAST(p.n AS INT) + 1] FROM fin f, prm p
      UNION ALL
      SELECT b.s, f.lastv[CAST(b.s AS INT) + 1]
      FROM bt b, fin f WHERE b.s > 0
    )
    SELECT CAST(row_number() OVER (ORDER BY s) - 1 AS BIGINT) AS segment,
           p.days[CAST(s AS INT) + 1] AS start_day,
           p.days[CAST(t AS INT)] AS end_day,
           t - s AS n_days,
           {r2.format(x='(((p.ps[CAST(t AS INT) + 1]'
                        ' - p.ps[CAST(s AS INT) + 1]) / (t - s))'
                        ' / CAST(100 AS DOUBLE))')} AS mean_revenue
    FROM bt, prm p
    """


@register("timeseries_changepoint_pelt", oracle=_pelt_oracle())
def timeseries_changepoint_pelt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal multiple-changepoint segmentation of the daily revenue
    series with PELT (Killick, Fearnhead & Eckley 2012): minimize
    Σ segment-SSE + β·(#changepoints) with the L2 (mean-shift) cost and
    the standard BIC-style penalty β = 2·σ̂²·ln n. Unlike
    timeseries_cusum_changepoint (single most-likely break), PELT finds
    the OPTIMAL set of breaks, with pruning that makes the scan linear
    in practice.

    Shape: the fact stream collapses to the calendar-bounded daily
    aggregate (exact integer cents) — the documented bounded-collect
    exception (same as every driver-solve ml_* op) — and the O(n)-ish
    DP runs driver-side over those ~tens of rows; segment stats are
    re-emitted as a small DataFrame. At 100 TB the daily frame is still
    calendar-bounded (3 650 rows a decade): the collect does not grow
    with the corpus, only with the calendar.

    ORACLED (r11, upgraded from rows-only): every cost the DP compares
    is a fixed IEEE expression over prefix sums of exact integer cents
    (order-pinned folds on both sides) and beta's ln(n) is
    glibc-bit-equal, so the argmin, the pruning set, and the
    changepoints replay EXACTLY in the oracle's recursive-CTE state
    machine — one row per t carrying (fcost, last, cands) as lists,
    first-strict-min fold over cands in insertion order, list_filter
    pruning, and a second recursive walk for the backtrack. The
    fixture yields one segment at every SF, so the multi-segment
    machinery is pinned by a synthetic two-shift parity test
    (tests/test_round11_property.py) plus the exact-DP (no pruning)
    twin — PELT's pruning is exactness-preserving, so all three must
    agree on the segmentation."""
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
        .orderBy("d")
        .collect()
    )
    days = [r["d"] for r in daily]
    xs = [float(r["x"]) for r in daily]
    n = len(xs)
    # prefix sums for O(1) segment SSE
    ps = [0.0] * (n + 1)
    pq = [0.0] * (n + 1)
    for i, v in enumerate(xs):
        ps[i + 1] = ps[i] + v
        pq[i + 1] = pq[i] + v * v

    def sse(i: int, j: int) -> float:  # cost of segment xs[i:j]
        m = j - i
        s = ps[j] - ps[i]
        return (pq[j] - pq[i]) - s * s / m

    mean = ps[n] / n
    var = (pq[n] - ps[n] * ps[n] / n) / (n - 1)
    beta = 2.0 * var * math.log(n)
    # PELT DP with pruning
    fcost = [0.0] + [math.inf] * n
    last = [0] * (n + 1)
    cands = [0]
    for t in range(PELT_MIN_SIZE, n + 1):
        best, arg = math.inf, 0
        for s in cands:
            if t - s < PELT_MIN_SIZE:
                continue
            c = fcost[s] + sse(s, t) + beta
            if c < best:
                best, arg = c, s
        if math.isinf(best):  # pragma: no cover — too few points
            continue
        fcost[t], last[t] = best, arg
        cands = [s for s in cands if fcost[s] + sse(s, t) <= best] + [t]
    # backtrack
    bounds = []
    t = n
    while t > 0:
        s = last[t]
        bounds.append((s, t))
        t = s
    bounds.reverse()
    out = []
    for k, (s, t) in enumerate(bounds):
        seg_mean = (ps[t] - ps[s]) / (t - s)
        out.append(
            (
                k,
                days[s],
                days[t - 1],
                t - s,
                # floor-round idiom shared with the oracle (a segment
                # mean can land exactly on a cent half-point)
                math.floor((seg_mean / 100.0) * 100.0 + 0.5) / 100.0,
            )
        )
    return spark.createDataFrame(
        out,
        "segment bigint, start_day timestamp, end_day timestamp, "
        "n_days bigint, mean_revenue double",
    )


@register(
    "timeseries_hierarchical_reconcile",
    oracle="""
    WITH nat AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(DISTINCT CAST(o.o_orderdate AS DATE)) AS BIGINT)
               AS n_days
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS tot_cents,
             CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
               AS tot_days
      FROM orders
    )
    SELECT nation, region,
           round(CAST(cents AS DOUBLE) / n_days / 100.0, 4) AS bottom_up,
           round(CAST(cents AS DOUBLE) / tot_cents, 6) AS share,
           round((CAST(tot_cents AS DOUBLE) / tot_days)
                 * (CAST(cents AS DOUBLE) / tot_cents) / 100.0, 4)
             AS top_down
    FROM nat CROSS JOIN tot
    """,
)
def timeseries_hierarchical_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation (Hyndman et al. 2011, the
    proportional top-down / bottom-up pair) over the orders hierarchy
    total -> region -> nation: each nation's naive daily-rate forecast
    (its mean daily revenue) is produced BOTTOM-UP, and the coherent
    TOP-DOWN alternative allocates the total series' daily rate by each
    nation's historical revenue share. Incoherent per-series forecasts
    (children not summing to the parent) are the classic hierarchical-
    reporting failure; the two columns here are the two standard fixes.

    Parity: revenue stays exact integer cents; per-nation day counts are
    integers; every output is a fixed IEEE expression over integers with
    display rounding. Scale: one fact aggregate keyed by nation (dims
    broadcast), one O(1) total aggregate, no window."""
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_nat = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum(cents).cast("bigint").alias("cents"),
            F.countDistinct(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("n_days"),
        )
    )
    tot = o.agg(
        F.sum(cents).cast("bigint").alias("tot_cents"),
        F.countDistinct(F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("tot_days"),
    )
    c_d = F.col("cents").cast("double")
    return per_nat.crossJoin(F.broadcast(tot)).select(
        "nation",
        "region",
        F.round(c_d / F.col("n_days") / 100.0, 4).alias("bottom_up"),
        F.round(c_d / F.col("tot_cents"), 6).alias("share"),
        F.round(
            (F.col("tot_cents").cast("double") / F.col("tot_days"))
            * (c_d / F.col("tot_cents"))
            / 100.0,
            4,
        ).alias("top_down"),
    )


LTTB_BUCKETS = 50  # downsampled series length


@register(
    "timeseries_lttb_downsample",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT hour, cents, cents / 100.0 AS v,
             row_number() OVER (ORDER BY hour) AS rn,
             count(*) OVER () AS n
      FROM hourly
    ),
    pts AS (
      SELECT hour, cents, v, rn, n,
             ((rn - 1) * {LTTB_BUCKETS}) // n AS b
      FROM idx
    ),
    centroids AS (
      SELECT b,
             CAST(sum(rn) AS DOUBLE) / count(*) AS cx,
             CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 AS cy
      FROM pts GROUP BY b
    ),
    anchors AS (
      SELECT b,
             lag(cx)  OVER (ORDER BY b) AS px,
             lag(cy)  OVER (ORDER BY b) AS py,
             lead(cx) OVER (ORDER BY b) AS nx,
             lead(cy) OVER (ORDER BY b) AS ny
      FROM centroids
    ),
    scored AS (
      SELECT p.hour, p.v, p.rn, p.n, p.b,
             CASE
               WHEN p.b = 0 THEN CAST(-p.rn AS DOUBLE)
               WHEN p.b = {LTTB_BUCKETS} - 1 THEN CAST(p.rn - p.n AS DOUBLE)
               ELSE abs((a.px - a.nx) * (p.v - a.py)
                        - (a.px - p.rn) * (a.ny - a.py))
             END AS skey
      FROM pts p JOIN anchors a ON a.b = p.b
    ),
    ranked AS (
      SELECT hour, v, b, skey,
             row_number() OVER (PARTITION BY b ORDER BY skey DESC, hour ASC)
               AS rk
      FROM scored
    )
    SELECT CAST(b AS BIGINT) AS bucket, hour, v
    FROM ranked WHERE rk = 1 ORDER BY bucket
    """,
)
def timeseries_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) of
    the hourly revenue series to {LTTB_BUCKETS} points — the standard
    perceptual downsampler for dashboards: within each bucket keep the
    point forming the largest triangle with its neighbor buckets, which
    preserves peaks/valleys a plain per-bucket mean would flatten. This
    is the MEAN-ANCHOR variant (both anchors are the adjacent buckets'
    centroids rather than the previously SELECTED point): the classic
    formulation is a sequential left-to-right scan, the mean-anchor form
    is embarrassingly parallel with near-identical output — the variant
    a distributed engine should run. First/last buckets pin the series
    endpoints (the LTTB contract).

    Parity: x-coordinates are integer ranks and y-values exact
    cents/100, so centroids (integer-sum ratios) and the triangle
    cross-product areas are identical IEEE expressions on both engines;
    the per-bucket argmax orders by (area DESC, hour ASC) — a total
    order on bit-identical doubles. Scale: one full-scan hourly
    aggregate, then everything runs on the calendar-bounded series;
    bucket centroids are a {LTTB_BUCKETS}-row frame joined back by
    bucket id. The global row_number on the hourly frame is the
    documented small-window exception; at extreme series lengths swap
    in dist_rank.distributed_row_number.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    w_ord = Window.orderBy("hour")
    w_all = Window.partitionBy()
    pts = hourly.select(
        "hour",
        "cents",
        (F.col("cents") / 100.0).alias("v"),
        F.row_number().over(w_ord).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    ).withColumn("b", F.expr(f"((rn - 1) * {LTTB_BUCKETS}) div n"))
    centroids = pts.groupBy("b").agg(
        (F.sum("rn").cast("double") / F.count(F.lit(1))).alias("cx"),
        (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias(
            "cy"
        ),
    )
    w_b = Window.orderBy("b")
    anchors = centroids.select(
        "b",
        F.lag("cx").over(w_b).alias("px"),
        F.lag("cy").over(w_b).alias("py"),
        F.lead("cx").over(w_b).alias("nx"),
        F.lead("cy").over(w_b).alias("ny"),
    )
    scored = pts.join(F.broadcast(anchors), "b").withColumn(
        "skey",
        F.when(F.col("b") == 0, (-F.col("rn")).cast("double"))
        .when(
            F.col("b") == LTTB_BUCKETS - 1,
            (F.col("rn") - F.col("n")).cast("double"),
        )
        .otherwise(
            F.abs(
                (F.col("px") - F.col("nx")) * (F.col("v") - F.col("py"))
                - (F.col("px") - F.col("rn"))
                * (F.col("ny") - F.col("py"))
            )
        ),
    )
    w_rk = Window.partitionBy("b").orderBy(
        F.col("skey").desc(), F.col("hour").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") == 1)
        .select(F.col("b").cast("bigint").alias("bucket"), "hour", "v")
        .orderBy("bucket")
    )


@register(
    "timeseries_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, value,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events
    ),
    seg AS (
      SELECT user_id, cents,
             CAST(date_diff('second', ts, nxt) AS BIGINT) AS dur_s
      FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(sum(dur_s) AS BIGINT) AS span_s,
           CAST(count(*) AS BIGINT) AS n_segments,
           round(CAST(sum(cents * dur_s) AS DOUBLE)
                 / sum(dur_s) / 100.0, 6) AS twap
    FROM seg
    GROUP BY user_id
    HAVING sum(dur_s) > 0
    ORDER BY user_id
    """,
)
def timeseries_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-WEIGHTED average of the event value over an
    irregularly-sampled series: each observation holds until the next
    one (zero-order hold), so its weight is the gap to the successor in
    seconds — the correct average for sampled gauges (price, queue
    depth, temperature) where a plain avg() over-weights bursts of
    closely-spaced samples. The classic streaming-systems TWAP/TWA
    operator.

    Parity: weights are integer seconds (epoch diffs), values integer
    cents, so sum(cents*dur) and sum(dur) are EXACT BIGINTs on both
    engines; one division + round at the end. Ties on ts are broken by
    event_id (the repo-wide determinism convention). Scale: one shuffle
    on user_id for the lag window, then a partial-combinable per-user
    aggregate on the already-partitioned frame — Catalyst collapses
    both into the same exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lead("ts").over(w).alias("nxt"),
    )
    seg = seq.where(F.col("nxt").isNotNull()).select(
        "user_id",
        "cents",
        (
            F.unix_timestamp("nxt") - F.unix_timestamp("ts")
        ).cast("bigint").alias("dur_s"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum("dur_s").cast("bigint").alias("span_s"),
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.round(
                F.sum(F.col("cents") * F.col("dur_s")).cast("double")
                / F.sum("dur_s")
                / 100.0,
                6,
            ).alias("twap"),
        )
        .where(F.col("span_s") > 0)
        .orderBy("user_id")
    )


PERIODOGRAM_PERIODS_H = [24, 12, 168, 8, 6]


def _periodogram_oracle() -> str:
    """DuckDB twin of timeseries_periodogram: per-term trig values are
    bit-identical to the driver fold's math.cos/sin (shared glibc libm,
    the r11 platt/cyclic precedent), and every sum is an ORDERED
    list_reduce left-fold over t — exactly the Python loop's addition
    sequence (the stats_kaplan_meier ordered-fold construct) — so the
    raw double outputs match bit-for-bit with NO rounding at the edge."""
    two_pi = "CAST(6.283185307179586 AS DOUBLE)"
    folds = [
        "CAST(count(*) AS BIGINT) AS n",
        "list_reduce(list(v ORDER BY t), (a, b) -> a + b) AS sv",
        "list_reduce(list(v * v ORDER BY t), (a, b) -> a + b) AS svv",
    ]
    outs = []
    for p in PERIODOGRAM_PERIODS_H:
        ang = f"((t * {two_pi}) / CAST({p} AS DOUBLE))"
        folds.append(
            f"list_reduce(list(v * cos({ang}) ORDER BY t),"
            f" (a, b) -> a + b) AS c{p}"
        )
        folds.append(
            f"list_reduce(list(v * sin({ang}) ORDER BY t),"
            f" (a, b) -> a + b) AS s{p}"
        )
        outs.append(
            f"SELECT CAST({p} AS BIGINT) AS period_h,"
            f" c{p} * c{p} + s{p} * s{p} AS power,"
            f" (c{p} * c{p} + s{p} * s{p})"
            " / nullif(n * (svv / n - (sv / n) * (sv / n)),"
            "          CAST(0 AS DOUBLE)) AS power_frac"
            " FROM sums"
        )
    body = "\n    UNION ALL\n    ".join(outs)
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    base AS (
      SELECT (epoch(h) - (SELECT epoch(min(h)) FROM hourly)) / 3600 AS t,
             cents / CAST(100 AS DOUBLE) AS v
      FROM hourly
    ),
    sums AS (
      SELECT {", ".join(folds)}
      FROM base
    )
    {body}
    """


@register("timeseries_periodogram", oracle=_periodogram_oracle())
def timeseries_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram power at candidate seasonal periods (24 h,
    12 h, weekly, 8 h, 6 h) over the hourly revenue series: P(T) =
    C(T)^2 + S(T)^2 with C = sum v_t cos(2*pi*t/T), S = sum v_t sin(...)
    — the spectral how-strong-is-this-cycle readout that picks the
    seasonal period for the decompose/Holt-Winters family, normalized by
    the series' total centered energy so the output is a [0,1]-ish
    fraction per period.

    ORACLED (r11, upgraded from rows-only): both former disqualifiers
    fall to this round's precedents — the hourly frame is
    CALENDAR-BOUNDED, so it collects driver-side (the platt bounded
    sufficient-statistic idiom) and the trig evaluates through Python's
    math.cos/sin, bit-identical to DuckDB's (shared glibc libm; the
    JVM's Math.cos, which differs, left the path), while every sum is a
    SEQUENTIAL fold in t order on the driver mirrored by list_reduce
    over list(... ORDER BY t) in the oracle (the stats_kaplan_meier
    ordered-fold construct) — raw double outputs, bit-exact, no
    rounding at the edge. The numpy twin in tests/test_round7e keeps
    checking power to 1e-9 relative and the dominant period exactly.

    Scale shape: the fact table compresses to one row per hour in ONE
    partial-combinable groupBy; the driver fold is O(periods x hours)
    on the calendar-bounded frame (720 rows/month — a multi-decade
    series is still <1e6). For series beyond driver comfort, shard the
    fold by period back into executors — documented, not needed here.
    """
    import math

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    import calendar

    # timegm, not .timestamp(): collected datetimes are session-TZ (UTC)
    # naive, and .timestamp() would reinterpret them in the OS zone.
    cells = sorted(
        (calendar.timegm(r.h.timetuple()), int(r.cents))
        for r in hourly.collect()
    )
    u0 = cells[0][0]
    base = [((u - u0) / 3600, c / 100.0) for u, c in cells]
    two_pi = 2.0 * 3.141592653589793
    n = len(base)
    sv = svv = 0.0
    for _t, v in base:
        sv = sv + v
        svv = svv + v * v
    energy = n * (svv / n - (sv / n) * (sv / n))
    out = []
    for p in PERIODOGRAM_PERIODS_H:
        c = s = 0.0
        for t, v in base:
            ang = (t * two_pi) / float(p)
            c = c + v * math.cos(ang)
            s = s + v * math.sin(ang)
        power = c * c + s * s
        frac = power / energy if energy != 0.0 else None
        out.append((p, power, frac))
    return spark.createDataFrame(
        out, "period_h bigint, power double, power_frac double"
    )


SES_ALPHA_GRID = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


@register(
    "timeseries_ses_grid_search",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             v
      FROM (
        SELECT date_trunc('day', ts) AS d,
               sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS v
        FROM events GROUP BY 1
      )
    ),
    grid AS (
      SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS alpha
    ),
    walk(alpha, rn, l, sse) AS (
      SELECT g.alpha, d.rn, d.v, CAST(0 AS DOUBLE)
      FROM daily d, grid g WHERE d.rn = 1
      UNION ALL
      SELECT w.alpha, n.rn,
             w.l + w.alpha * (n.v - w.l),
             w.sse + (n.v - w.l) * (n.v - w.l)
      FROM walk w JOIN daily n ON n.rn = w.rn + 1
    )
    SELECT CAST(alpha AS DOUBLE) AS alpha,
           (SELECT CAST(max(rn) AS BIGINT) FROM daily) AS n,
           round(sse, 6) AS sse,
           round(l, 4) AS level
    FROM walk
    WHERE rn = (SELECT max(rn) FROM daily)
    ORDER BY alpha
    """,
)
def timeseries_ses_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing alpha selection by one-step-ahead SSE
    over a literal grid (0.1..0.9) on the daily revenue series — the
    deterministic twin of statsmodels' SimpleExpSmoothing.fit(): for
    each alpha, l_1 = x_1 and then e_t = x_t - l_{t-1}, SSE += e_t^2,
    l_t = l_{t-1} + alpha*e_t; the caller picks argmin SSE (the full
    9-row profile is returned so the choice — and how flat the optimum
    is — is visible).

    Parity: the coupled recursion is a fixed IEEE +,-,* expression
    evaluated in the same order on both engines — Spark left-folds the
    date-ordered array once per alpha (aggregate(), the croston/KM
    pattern), DuckDB replays the identical recursion as a recursive CTE
    carrying alpha in the state. Grid alphas are shared decimal
    literals. NOTE: DuckDB list_reduce STRUCT-state lambdas are
    unreliable in v1.0 (same-step field visibility — probed this
    session); the recursive CTE is the proven oracle shape for
    struct-state recursions.

    Scale: the fact stream compresses to the calendar-bounded daily
    frame; 9 folds over one collected array are driver-negligible. At
    per-entity scale the same fold runs inside groupBy(entity) — model
    selection for millions of series in one shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
            "v"
        )
    )
    w = Window.partitionBy().orderBy("d")
    numbered = daily.select(
        F.row_number().over(w).cast("bigint").alias("rn"), "v"
    )
    rows = numbered.agg(
        F.array_sort(F.collect_list(F.struct("rn", "v"))).alias("rows"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    def ses_fold(a: float):
        # binary lambda (Spark checks arity); alpha bound by closure
        def step(st, r):
            return F.struct(
                F.when(st["l"].isNull(), r["v"])
                .otherwise(st["l"] + F.lit(a) * (r["v"] - st["l"]))
                .alias("l"),
                F.when(st["l"].isNull(), F.lit(0.0))
                .otherwise(
                    st["sse"] + (r["v"] - st["l"]) * (r["v"] - st["l"])
                )
                .alias("sse"),
            )

        return step

    per_alpha = []
    for a in SES_ALPHA_GRID:
        st = F.aggregate(
            F.col("rows"),
            F.struct(
                F.lit(None).cast("double").alias("l"),
                F.lit(0.0).alias("sse"),
            ),
            ses_fold(a),
        )
        per_alpha.append(
            F.struct(
                F.lit(a).alias("alpha"),
                F.round(st["sse"], 6).alias("sse"),
                F.round(st["l"], 4).alias("level"),
            )
        )
    return (
        rows.select("n", F.explode(F.array(*per_alpha)).alias("r"))
        .select("r.alpha", "n", "r.sse", "r.level")
    )


@register(
    "timeseries_sen_slope_ci",
    oracle="""
    WITH daily AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
             v
      FROM (
        SELECT date_trunc('day', ts) AS d,
               sum(CAST(round(value * 100) AS BIGINT)) AS v
        FROM events GROUP BY 1
      )
    ),
    slopes AS (
      SELECT (b.v - a.v) / ((b.i - a.i) * 1.0) AS s,
             row_number() OVER (ORDER BY (b.v - a.v) / ((b.i - a.i) * 1.0),
                                a.i, b.i) AS rn,
             count(*) OVER () AS t
      FROM daily a JOIN daily b ON b.i > a.i
    ),
    meta AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             count(*) * (count(*) - 1) // 2 AS t,
             sqrt((count(*) * (count(*) - 1.0) * (2 * count(*) + 5.0)
                   - coalesce((SELECT CAST(sum(tt * (tt - 1) * (2 * tt + 5))
                                           AS BIGINT)
                               FROM (SELECT CAST(count(*) AS BIGINT) AS tt
                                     FROM daily GROUP BY v
                                     HAVING count(*) > 1)), 0)) / 18.0)
               AS sd_s
      FROM daily
    ),
    ks AS (
      SELECT n, t, sd_s,
             greatest(CAST(1 AS BIGINT),
                      CAST(floor((t - 1.96 * sd_s) / 2.0) AS BIGINT) + 1)
               AS k_lo,
             least(t,
                   CAST(ceil((t + 1.96 * sd_s) / 2.0) AS BIGINT) + 1) AS k_hi
      FROM meta
    )
    SELECT k.n AS n_days, k.t AS n_pairs, k.k_lo, k.k_hi,
           round(((SELECT s FROM slopes WHERE rn = (k.t + 1) // 2)
                  + (SELECT s FROM slopes WHERE rn = (k.t + 2) // 2))
                 / 2.0 / 100.0, 6) AS sen_slope_per_day,
           round((SELECT s FROM slopes WHERE rn = k.k_lo) / 100.0, 6)
             AS ci_lo,
           round((SELECT s FROM slopes WHERE rn = k.k_hi) / 100.0, 6)
             AS ci_hi
    FROM ks k
    """,
)
def timeseries_sen_slope_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's slope with its distribution-free ~95% confidence interval
    (Sen 1968; Gilbert 1987) on the daily revenue series: the point
    estimate is the median pairwise slope (timeseries_theil_sen's robust
    trend), and the CI reads the order statistics at ranks
    (T -/+ 1.96*sqrt(Var_S))/2 (+1) where Var_S is the tie-corrected
    Mann-Kendall variance — slope inference with no normality, no OLS
    residual assumptions, no bootstrap.

    Exactness shape: daily totals are exact cents, slopes are single
    IEEE divisions of integer differences (bit-equal), the slope order
    is made total with the (i, j) tiebreak, Var_S reuses the exact
    integer MK tie machinery, and every reported quantity is an exact
    order statistic (floor/ceil of identical doubles pick identical
    ranks). Dollars via one final /100.0.

    Scale shape: the pair stage runs on the CALENDAR-bounded daily
    frame (30 days -> 435 pairs; the quadratic stage never sees raw
    events); the rank window is over that bounded pair frame. For
    decade-scale series, switch ranking to distributed_row_number —
    statistic unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    w_d = Window.partitionBy().orderBy("d")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
        .select(F.row_number().over(w_d).cast("bigint").alias("i"), "v")
    )
    a = daily.select(F.col("i").alias("ia"), F.col("v").alias("va"))
    b = daily.select(F.col("i").alias("ib"), F.col("v").alias("vb"))
    s = (F.col("vb") - F.col("va")) / ((F.col("ib") - F.col("ia")) * F.lit(1.0))
    w_s = Window.partitionBy().orderBy("s", "ia", "ib")
    slopes = (
        a.join(b, F.col("ib") > F.col("ia"))
        .select(s.alias("s"), "ia", "ib")
        .select("s", F.row_number().over(w_s).cast("bigint").alias("rn"))
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
        .filter(F.col("tt") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5))
                .cast("bigint"),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    n = F.col("n")
    meta = (
        daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(ties)
        .select(
            "n",
            F.expr("n * (n - 1) div 2").cast("bigint").alias("t"),
            F.sqrt(
                (
                    n * (n - F.lit(1.0)) * (2 * n + F.lit(5.0))
                    - F.col("tie_term")
                )
                / F.lit(18.0)
            ).alias("sd_s"),
        )
    )
    t, sd = F.col("t"), F.col("sd_s")
    ks = meta.select(
        "n",
        "t",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor((t - F.lit(1.96) * sd) / F.lit(2.0)).cast("bigint") + 1,
        ).alias("k_lo"),
        F.least(
            t, F.ceil((t + F.lit(1.96) * sd) / F.lit(2.0)).cast("bigint") + 1
        ).alias("k_hi"),
    )

    def sel(rank_expr, name):
        return (
            slopes.crossJoin(F.broadcast(ks))
            .filter(F.col("rn") == rank_expr)
            .agg(F.min("s").alias(name))
        )

    med_lo = sel(F.expr("(t + 1) div 2"), "mlo")
    med_hi = sel(F.expr("(t + 2) div 2"), "mhi")
    lo = sel(F.col("k_lo"), "slo")
    hi = sel(F.col("k_hi"), "shi")
    return (
        ks.crossJoin(med_lo)
        .crossJoin(med_hi)
        .crossJoin(lo)
        .crossJoin(hi)
        .select(
            F.col("n").alias("n_days"),
            F.col("t").alias("n_pairs"),
            "k_lo",
            "k_hi",
            F.round(
                (F.col("mlo") + F.col("mhi")) / F.lit(2.0) / F.lit(100.0), 6
            ).alias("sen_slope_per_day"),
            F.round(F.col("slo") / F.lit(100.0), 6).alias("ci_lo"),
            F.round(F.col("shi") / F.lit(100.0), 6).alias("ci_hi"),
        )
    )


MA_FAST_D, MA_SLOW_D = 7, 28


@register(
    "timeseries_ma_crossover_signals",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events GROUP BY 1
    ),
    ma AS (
      SELECT d, v,
             CAST(sum(v) OVER (ORDER BY d
                               ROWS BETWEEN {MA_FAST_D - 1} PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS sf,
             CAST(count(*) OVER (ORDER BY d
                                 ROWS BETWEEN {MA_FAST_D - 1} PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS nf,
             CAST(sum(v) OVER (ORDER BY d
                               ROWS BETWEEN {MA_SLOW_D - 1} PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS ss,
             CAST(count(*) OVER (ORDER BY d
                                 ROWS BETWEEN {MA_SLOW_D - 1} PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS ns
      FROM daily
    ),
    sgn AS (
      SELECT d,
             CASE WHEN sf * ns > ss * nf THEN 1
                  WHEN sf * ns < ss * nf THEN -1 ELSE 0 END AS s,
             sf, nf, ss, ns
      FROM ma
    ),
    sig AS (
      SELECT d, s, lag(s) OVER (ORDER BY d) AS prev,
             sf, nf, ss, ns
      FROM sgn
    )
    SELECT d AS signal_day,
           CASE WHEN s > prev THEN 'golden_cross'
                ELSE 'death_cross' END AS signal,
           round(sf / (nf * 100.0), 2) AS ma_fast,
           round(ss / (ns * 100.0), 2) AS ma_slow
    FROM sig
    WHERE prev IS NOT NULL AND s <> prev AND s <> 0
    ORDER BY d
    """,
)
def timeseries_ma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detection ({MA_FAST_D}d vs {MA_SLOW_D}d)
    on daily revenue: emit a signal on every day the fast MA crosses the
    slow MA (golden cross = fast rises above slow; death cross = the
    reverse) — the alerting primitive behind trend-following dashboards.

    Exactness shape: the fast/slow comparison cross-multiplies the
    exact integer window sums (sf*ns vs ss*nf — never a double MA
    subtraction near zero), so crossing days are bit-deterministic; the
    displayed MAs are single divisions. Warm-up is honest: each MA uses
    however many days exist in its trailing frame (count in the same
    window), so signals are well-defined from day 2.

    Scale shape: the fact stream compresses to the calendar-bounded
    daily frame first; the windows and lag ride that frame (the
    documented exception class — per-entity variants partition the
    window by entity).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("v")
    )
    w_f = Window.orderBy("d").rowsBetween(-(MA_FAST_D - 1), 0)
    w_s = Window.orderBy("d").rowsBetween(-(MA_SLOW_D - 1), 0)
    ma = daily.select(
        "d",
        F.sum("v").over(w_f).cast("bigint").alias("sf"),
        F.count(F.lit(1)).over(w_f).cast("bigint").alias("nf"),
        F.sum("v").over(w_s).cast("bigint").alias("ss"),
        F.count(F.lit(1)).over(w_s).cast("bigint").alias("ns"),
    )
    s = (
        F.when(F.col("sf") * F.col("ns") > F.col("ss") * F.col("nf"), 1)
        .when(F.col("sf") * F.col("ns") < F.col("ss") * F.col("nf"), -1)
        .otherwise(0)
    )
    w_d = Window.orderBy("d")
    sig = ma.select(
        "d", s.alias("s"), "sf", "nf", "ss", "ns"
    ).withColumn("prev", F.lag("s").over(w_d))
    return (
        sig.filter(
            F.col("prev").isNotNull()
            & (F.col("s") != F.col("prev"))
            & (F.col("s") != 0)
        )
        .select(
            F.col("d").alias("signal_day"),
            F.when(F.col("s") > F.col("prev"), F.lit("golden_cross"))
            .otherwise(F.lit("death_cross"))
            .alias("signal"),
            F.round(F.col("sf") / (F.col("nf") * F.lit(100.0)), 2).alias(
                "ma_fast"
            ),
            F.round(F.col("ss") / (F.col("ns") * F.lit(100.0)), 2).alias(
                "ma_slow"
            ),
        )
        .orderBy("signal_day")
    )


HOLT_GRID = [(a, b) for a in (0.2, 0.5, 0.8) for b in (0.1, 0.3, 0.5)]


@register(
    "timeseries_holt_grid_search",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             v
      FROM (
        SELECT date_trunc('day', ts) AS d,
               sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS v
        FROM events GROUP BY 1
      )
    ),
    grid AS (
      -- CAST to DOUBLE: DuckDB types these literals DECIMAL(2,1), under
      -- which (1 - alpha) is EXACT decimal 0.2 -> double(0.2), while
      -- Spark computes the IEEE subtraction 1.0 - 0.8 =
      -- 0.19999999999999996 (one ulp away) — a real sf0.1 hash split
      -- found by check_keys. Doubles on both sides share the same op.
      SELECT CAST(alpha AS DOUBLE) AS alpha, CAST(beta AS DOUBLE) AS beta
      FROM (VALUES (0.2, 0.1), (0.2, 0.3), (0.2, 0.5),
                   (0.5, 0.1), (0.5, 0.3), (0.5, 0.5),
                   (0.8, 0.1), (0.8, 0.3), (0.8, 0.5)) g(alpha, beta)
    ),
    walk(alpha, beta, rn, l, b, sse) AS (
      SELECT g.alpha, g.beta, CAST(2 AS BIGINT) AS rn,
             d2.v, d2.v - d1.v, CAST(0 AS DOUBLE)
      FROM grid g,
           (SELECT v FROM daily WHERE rn = 1) d1(v),
           (SELECT v FROM daily WHERE rn = 2) d2(v)
      UNION ALL
      SELECT w.alpha, w.beta, n.rn,
             w.alpha * n.v + (1 - w.alpha) * (w.l + w.b),
             w.beta * ((w.alpha * n.v + (1 - w.alpha) * (w.l + w.b)) - w.l)
               + (1 - w.beta) * w.b,
             w.sse + (n.v - (w.l + w.b)) * (n.v - (w.l + w.b))
      FROM walk w JOIN daily n ON n.rn = w.rn + 1
    )
    SELECT CAST(alpha AS DOUBLE) AS alpha,
           CAST(beta AS DOUBLE) AS beta,
           (SELECT CAST(max(rn) AS BIGINT) FROM daily) AS n,
           round(sse, 6) AS sse,
           round(l, 4) AS level,
           round(b, 4) AS trend
    FROM walk
    WHERE rn = (SELECT max(rn) FROM daily)
    ORDER BY alpha, beta
    """,
)
def timeseries_holt_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing parameter selection by one-step-ahead
    SSE over a literal (alpha, beta) grid on the daily revenue series —
    the 2-state extension of timeseries_ses_grid_search (the
    deterministic twin of statsmodels Holt().fit() model selection).
    Classic initialization l_1 = x_1, b_1 = x_2 - x_1 (so e_2 = 0 and
    the error sum effectively starts at t = 3), then the DIRECT
    recurrences l_t = alpha*x_t + (1-alpha)*(l+b),
    b_t = beta*(l_t - l) + (1-beta)*b, SSE += (x_t - (l+b))^2. The full
    9-row profile is returned so argmin AND the flatness of the optimum
    are visible.

    Parity: the coupled 2-state recursion is a fixed IEEE expression
    evaluated in the same order on both engines — Spark left-folds the
    date-ordered array once per grid point (aggregate(), the SES/KM
    pattern), DuckDB replays the identical recursion as a RECURSIVE CTE
    carrying (alpha, beta) in the state, seeded at rn = 2 with the same
    init. (1 - alpha)/(1 - beta) are computed IN-ENGINE from the shared
    grid literals on both sides (same IEEE subtraction). The l_t
    expression repeats textually inside b_t — identical ops, identical
    doubles.

    Scale: the fact stream compresses to the calendar-bounded daily
    frame; 9 folds over one collected array are driver-negligible. At
    per-entity scale the same fold runs inside groupBy(entity) — Holt
    model selection for millions of series in one shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
            "v"
        )
    )
    w = Window.partitionBy().orderBy("d")
    numbered = daily.select(
        F.row_number().over(w).cast("bigint").alias("rn"), "v"
    )
    rows = numbered.agg(
        F.array_sort(F.collect_list(F.struct("rn", "v"))).alias("rows"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    # a sub-2-point series has no (l1, b1) init: the oracle's recursive
    # seed (rn=1 x rn=2 cross join) is empty there, so the Spark side
    # must also emit 0 rows (r10 code-review find; unreachable on the
    # calendar fixtures, guarded for parity on degenerate input)
    ).filter(F.col("n") >= 2)

    def holt_fold(a: float, b: float):
        def step(st, r):
            l_new = F.lit(a) * r["v"] + (F.lit(1.0) - F.lit(a)) * (
                st["l"] + st["b"]
            )
            return F.struct(
                F.when(st["l"].isNull(), r["v"])
                .when(st["b"].isNull(), r["v"])
                .otherwise(l_new)
                .alias("l"),
                F.when(st["l"].isNull(), F.lit(None).cast("double"))
                .when(st["b"].isNull(), r["v"] - st["l"])
                .otherwise(
                    F.lit(b) * (l_new - st["l"])
                    + (F.lit(1.0) - F.lit(b)) * st["b"]
                )
                .alias("b"),
                F.when(st["l"].isNull() | st["b"].isNull(), F.lit(0.0))
                .otherwise(
                    st["sse"]
                    + (r["v"] - (st["l"] + st["b"]))
                    * (r["v"] - (st["l"] + st["b"]))
                )
                .alias("sse"),
            )

        return step

    per_combo = []
    for a, b in HOLT_GRID:
        st = F.aggregate(
            F.col("rows"),
            F.struct(
                F.lit(None).cast("double").alias("l"),
                F.lit(None).cast("double").alias("b"),
                F.lit(0.0).alias("sse"),
            ),
            holt_fold(a, b),
        )
        per_combo.append(
            F.struct(
                F.lit(a).alias("alpha"),
                F.lit(b).alias("beta"),
                F.round(st["sse"], 6).alias("sse"),
                F.round(st["l"], 4).alias("level"),
                F.round(st["b"], 4).alias("trend"),
            )
        )
    return (
        rows.select("n", F.explode(F.array(*per_combo)).alias("r"))
        .select("r.alpha", "r.beta", "n", "r.sse", "r.level", "r.trend")
        .orderBy("alpha", "beta")
    )


MP_WINDOW_H = 24  # subsequence length (one day of hours)
MP_EXCL_H = 12    # trivial-match exclusion half-zone (m/2)


# Shared WITH-prefix for the matrix-profile family oracles (the
# _STL_CTES precedent): hourly series -> rolling stats -> per-diagonal
# integer cross products -> pairwise z-normalized distances (i < j,
# d >= MP_EXCL_H). Both the self-profile and the AB-join append their
# own tail CTEs.
_MP_CTE_PREFIX = f"""
    WITH hourly AS (
      SELECT CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i,
             cents
      FROM (
        SELECT date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events GROUP BY 1
      )
    ),
    stats AS (
      SELECT i, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS s,
             sum(CAST(cents AS HUGEINT) * cents) OVER w AS q,
             count(*) OVER w AS cnt
      FROM hourly
      WINDOW w AS (ORDER BY i ROWS BETWEEN CURRENT ROW
                   AND {MP_WINDOW_H - 1} FOLLOWING)
    ),
    subs AS (SELECT i, s, q FROM stats WHERE cnt = {MP_WINDOW_H}),
    prods AS (
      SELECT a.i AS t, b.i - a.i AS d,
             CAST(a.cents AS HUGEINT) * b.cents AS w
      FROM hourly a JOIN hourly b ON b.i - a.i >= {MP_EXCL_H}
    ),
    pw AS (
      SELECT t AS i, d,
             sum(w) OVER (PARTITION BY d ORDER BY t
                          ROWS BETWEEN CURRENT ROW
                          AND {MP_WINDOW_H - 1} FOLLOWING) AS p,
             count(*) OVER (PARTITION BY d ORDER BY t
                            ROWS BETWEEN CURRENT ROW
                            AND {MP_WINDOW_H - 1} FOLLOWING) AS pcnt
      FROM prods
    ),
    dists AS (
      -- CASE guards zero-variance (constant) subsequences to NULL dist:
      -- z-normalized distance is undefined there, and greatest() would
      -- otherwise EAT the NULL (greatest ignores NULLs on BOTH engines,
      -- turning undefined into a spurious 0.0 — found by the
      -- random-series property test). NULL dist drops out of min(); an
      -- i with no defined neighbor drops out of the output entirely.
      SELECT si.i AS i, si.i + pw.d AS j,
             CASE WHEN {MP_WINDOW_H} * si.q
                       - CAST(si.s AS HUGEINT) * si.s > 0
                   AND {MP_WINDOW_H} * sj.q
                       - CAST(sj.s AS HUGEINT) * sj.s > 0
             THEN sqrt(greatest(CAST(0 AS DOUBLE),
               2.0 * {MP_WINDOW_H}
               * (1.0 - CAST({MP_WINDOW_H} * pw.p
                             - CAST(si.s AS HUGEINT) * sj.s AS DOUBLE)
                   / sqrt(CAST({MP_WINDOW_H} * si.q
                               - CAST(si.s AS HUGEINT) * si.s AS DOUBLE)
                          * CAST({MP_WINDOW_H} * sj.q
                                 - CAST(sj.s AS HUGEINT) * sj.s
                                 AS DOUBLE)))))
             END AS dist
      FROM pw
      JOIN subs si ON si.i = pw.i
      JOIN subs sj ON sj.i = pw.i + pw.d
      WHERE pw.pcnt = {MP_WINDOW_H}
    )"""


@register(
    "timeseries_matrix_profile",
    oracle=_MP_CTE_PREFIX
    + """,
    sym AS (
      SELECT i, j, dist FROM dists
      UNION ALL
      SELECT j AS i, i AS j, dist FROM dists
    ),
    mp AS (SELECT i, min(dist) AS mp FROM sym GROUP BY i)
    SELECT mp.i, round(mp.mp, 6) AS mp_dist,
           CAST(min(sym.j) AS BIGINT) AS nn_idx
    FROM mp JOIN sym ON sym.i = mp.i AND sym.dist = mp.mp
    GROUP BY mp.i, mp.mp
    ORDER BY mp.i
    """,

)
def timeseries_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT z-normalized matrix profile (Yeh et al., ICDM 2016) of the
    hourly revenue series, window m = {MP_WINDOW_H} h: for every
    daily-shaped subsequence, the distance to its nearest non-trivial
    neighbor (exclusion zone |i-j| >= {MP_EXCL_H} = m/2) plus that
    neighbor's index — THE modern primitive for motif discovery (low
    mp), anomaly/discord detection (high mp), and regime segmentation,
    fully oracled (z-normalized Euclidean distance is a fixed IEEE tree
    over exact integers — no FFT/MASS approximation needed at this
    series length).

    Exactness shape: hourly cents are exact BIGINTs, so the rolling
    S_i = sum(v), Q_i = sum(v^2) and every per-diagonal cross-product
    window P_ij = sum_t v_t*v_(t+d) are exact HUGEINT/DECIMAL(38,0)
    integers (v^2 sums are the ansari overflow class); the pairwise
    distance sqrt(max(0, 2m(1 - rho))) with
    rho = (m*P - S_i*S_j)/sqrt((m*Q_i - S_i^2)(m*Q_j - S_j^2)) takes
    one exact->double cast per factor — bit-identical across engines,
    so min() selects the identical neighbor (ties -> smallest index on
    both sides; greatest(0,..) clips the one-ulp negative 2m(1-rho)
    can reach when a subsequence meets a near-exact copy).

    Scale shape: the fact stream compresses to the CALENDAR-BOUNDED
    hourly frame first (partial-combinable). The O(n^2) pair space is
    organized by DIAGONAL d = j - i: cross products come from ONE
    banded self-join and one per-diagonal RUNNING sum (PARTITION BY d
    — n independent partitions, embarrassingly parallel, never a
    single-partition sort), the STOMP decomposition in relational
    form. The argmin is ONE aggregate, min(struct(dist, j)) per i.
    Cost scales with SERIES LENGTH squared, once, not with data volume
    or window length; for multi-year series at 100 TB, band d to a
    motif horizon or switch to the MASS/FFT kernel per partition —
    documented, not needed at a 720-point series.
    """
    return (
        _mp_self_profile(spark, sf_dir)
        .select("i", F.round("mp", 6).alias("mp_dist"), "nn_idx")
        .orderBy("i")
    )


def _mp_argmin(pairs: DataFrame, by: str, other: str, idx: str) -> DataFrame:
    """(by, mp, idx): per ``by``, mp = min(dist) and idx the smallest
    ``other`` at that distance, as ONE min(struct(dist, other)) — struct
    order is dist first, then ``other``: the oracles' min + join-back +
    min tie rule. NULL distances drop first, as from min()."""
    return (
        pairs.filter(F.col("dist").isNotNull())
        .groupBy(by)
        .agg(F.min(F.struct("dist", other)).alias("b"))
        .select(by, F.col("b.dist").alias("mp"),
                F.col(f"b.{other}").cast("bigint").alias(idx))
    )


def _mp_self_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, mp, nn_idx) over both directions of the i < j pair frame — the
    profile that timeseries_matrix_profile prints and discord_topk ranks."""
    dists, _hourly = _mp_dists(spark, sf_dir)
    sym = dists.unionByName(
        dists.select(F.col("j").alias("i"), F.col("i").alias("j"), "dist")
    )
    return _mp_argmin(sym, "i", "j", "nn_idx")


# Shared pairwise-distance frame for the matrix-profile family (r10):
# all four keys read the IDENTICAL (i, j, dist) frame (the AB-join's
# pairs are the subset with d >= m). Same (applicationId, fixture) cache
# discipline as graph's pivot frame; caveats in dfcache.
_MP_DISTS_CACHE: dict = {}


def _mp_dists(spark: SparkSession, sf_dir: str):
    """(dists, hourly): the one-directional (i < j) z-normalized distance
    frame over all subsequence pairs with diagonal d >= MP_EXCL_H, and
    the hourly (i, cents) series it was built from. Both
    localCheckpoint'd and lazy — a cold build runs no job until a
    consumer does. Pair-count-sized: cost scales with series length
    squared, once, not with data volume or the window length m."""
    import os

    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir))
    from go_batch_processor_spark.dfcache import evict_stale

    evict_stale(_MP_DISTS_CACHE, key[0])
    if key in _MP_DISTS_CACHE:
        return _MP_DISTS_CACHE[key]
    ev = load_table(spark, sf_dir, "events")
    cents = F.sum(F.round(F.col("value") * 100).cast("long")).cast("bigint")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(cents.alias("cents"))
        .select(
            F.row_number().over(Window.orderBy("h")).cast("bigint").alias("i"),
            "cents",
        )
        .localCheckpoint(eager=False)
    )
    m = MP_WINDOW_H
    w_roll = Window.orderBy("i").rowsBetween(0, m - 1)
    q = F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents"))
    subs = hourly.select(
        "i",
        F.sum("cents").over(w_roll).cast("bigint").alias("s"),
        q.over(w_roll).alias("q"),
        F.count(F.lit(1)).over(w_roll).alias("cnt"),
    ).filter(F.col("cnt") == m)
    a, b = hourly.alias("a"), hourly.alias("b")
    prods = a.join(b, F.col("b.i") - F.col("a.i") >= MP_EXCL_H).select(
        F.col("a.i").alias("t"),
        (F.col("b.i") - F.col("a.i")).alias("d"),
        F.expr("CAST(a.cents AS DECIMAL(38,0)) * b.cents").alias("w"),
    )
    # Window cross product P = sum(w[t .. t+m-1]) as a difference of one
    # RUNNING sum c: P = c[t+m-1] - c[t] + w[t] (a sliding ROWS frame
    # re-adds all m terms per row; exact integers, so the same P). A
    # window past the diagonal's end has no lead and drops (the oracle's
    # pcnt = m). All-NULL hours give NULL cents: c adds them as 0, and
    # the count k of non-NULL products keeps sum()'s NULL for a window
    # with none (greatest(0, ..) then yields 0.0 on both engines).
    w_diag = Window.partitionBy("d").orderBy("t")
    run = w_diag.rowsBetween(Window.unboundedPreceding, 0)
    w0 = F.coalesce("w", F.lit(0))
    pw = (
        prods.select(
            "t", "d", "w",
            F.sum(w0).over(run).alias("c"),
            F.count("w").over(run).alias("k"),
        )
        .select(
            F.col("t").alias("i"),
            "d",
            (F.lead("c", m - 1).over(w_diag) - F.col("c") + w0).alias("p"),
            (F.lead("k", m - 1).over(w_diag) - F.col("k")
             + F.col("w").isNotNull().cast("long")).alias("nw"),
        )
        .filter(F.col("p").isNotNull())
        .withColumn("p", F.when(F.col("nw") > 0, F.col("p")))
    )
    si, sj = (
        subs.select(*(F.col(c).alias(f"{side}_{c}") for c in ("i", "s", "q")))
        for side in ("si", "sj")
    )
    dist_expr = F.expr(
        f"CASE WHEN {m} * si_q - CAST(si_s AS DECIMAL(38,0)) * si_s > 0"
        f"      AND {m} * sj_q - CAST(sj_s AS DECIMAL(38,0)) * sj_s > 0"
        f" THEN sqrt(greatest(CAST(0 AS DOUBLE),"
        f" 2.0 * {m}"
        f" * (1.0 - CAST({m} * p"
        f"               - CAST(si_s AS DECIMAL(38,0)) * sj_s AS DOUBLE)"
        f"     / sqrt(CAST({m} * si_q"
        f"                 - CAST(si_s AS DECIMAL(38,0)) * si_s AS DOUBLE)"
        f"            * CAST({m} * sj_q"
        f"                   - CAST(sj_s AS DECIMAL(38,0)) * sj_s"
        f"                   AS DOUBLE))))) END"
    )
    dists = (
        pw.join(F.broadcast(si), F.col("si_i") == F.col("i"))
        .join(F.broadcast(sj), F.col("sj_i") == F.col("i") + F.col("d"))
        .select("i", (F.col("i") + F.col("d")).alias("j"), dist_expr.alias("dist"))
        .localCheckpoint(eager=False)
    )
    _MP_DISTS_CACHE[key] = (dists, hourly)
    return dists, hourly


@register(
    "timeseries_matrix_profile_join",
    oracle=_MP_CTE_PREFIX
    + f""",
    na AS (SELECT (SELECT max(i) FROM hourly) // 2 AS na),
    ab AS (
      SELECT d.j, d.i, d.dist
      FROM dists d, na
      WHERE d.i <= na.na - {MP_WINDOW_H} + 1 AND d.j >= na.na + 1
    ),
    mpj AS (SELECT j, min(dist) AS mp FROM ab GROUP BY j)
    SELECT mpj.j AS j, round(mpj.mp, 6) AS mpj_dist,
           CAST(min(ab.i) AS BIGINT) AS nn_i
    FROM mpj JOIN ab ON ab.j = mpj.j AND ab.dist = mpj.mp
    GROUP BY mpj.j, mpj.mp
    ORDER BY mpj.j
    """,
)
def timeseries_matrix_profile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-profile AB-JOIN (Yeh et al., ICDM 2016 §IV): for every
    subsequence of the SECOND half of the hourly series (the "current"
    regime B), the z-normalized distance to its nearest neighbor among
    FIRST-half subsequences (the "reference" regime A) — the novelty
    detector: a high mpj_dist marks a daily-shaped pattern that never
    occurred in the reference period, exactly what a drift monitor
    wants where the self-join profile would let B match itself. No
    exclusion zone applies (A and B never overlap: every valid pair has
    diagonal d >= m > the self-profile's m/2 band, so the pairs are a
    SUBSET of the shared distance frame).

    Exactness/scale shape: consumes the SAME cached pairwise distance
    frame as timeseries_matrix_profile (_mp_dists — running both pays
    the O(n^2) pass once), then one filter and one partial-combinable
    min(struct(dist, i)) per j (_mp_argmin). Split point is the series
    midpoint (max(i) DIV 2) — deterministic, calendar-derived. All
    determinism properties inherit from the base frame (exact integer
    sufficient statistics, one exact->double cast, zero-variance
    subsequences NULL out).
    """
    dists, hourly = _mp_dists(spark, sf_dir)
    na = hourly.count() // 2  # i is a row_number: count = max(i)
    ab = dists.filter(
        (F.col("i") <= na - MP_WINDOW_H + 1) & (F.col("j") >= na + 1)
    )
    return (
        _mp_argmin(ab, "j", "i", "nn_i")
        .select("j", F.round("mp", 6).alias("mpj_dist"), "nn_i")
        .orderBy("j")
    )


MOTIF_TOP_K = 10


@register(
    "timeseries_motif_topk",
    oracle=_MP_CTE_PREFIX
    + f"""
    SELECT i, j, round(dist, 6) AS dist
    FROM (
      -- top-k selected on the RAW distance in a subquery: a bare
      -- ORDER BY dist in the outer SELECT binds to the rounded output
      -- ALIAS in DuckDB while Spark orders the unrounded column —
      -- near-tie pairs at the LIMIT boundary could then differ
      -- (r10 code-review find, verified live)
      SELECT i, j, dist
      FROM dists
      WHERE dist IS NOT NULL
      ORDER BY dist, i, j
      LIMIT {MOTIF_TOP_K}
    ) t
    """,
)
def timeseries_motif_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{MOTIF_TOP_K} MOTIF pairs of the hourly series (Yeh et al.,
    ICDM 2016 — the matrix profile's primary use case): the closest
    non-trivial subsequence pairs under z-normalized Euclidean distance
    — "which two days behaved most alike?" drives template mining and
    seasonal-shape discovery. Exclusion zone and window inherit from
    the profile family.

    Exactness/scale shape: a pure integer top-k over the SAME cached
    pairwise-distance frame as timeseries_matrix_profile /
    _join (_mp_dists — the third consumer of one O(n^2) pass).
    Distances are bit-identical doubles on both engines (exact integer
    sufficient statistics, one cast each), so ORDER BY dist with the
    (i, j) tie-break selects the identical pair set; TakeOrderedAndProject
    keeps the top-k a partial-combinable aggregate, never a global sort.
    """
    dists, _hourly = _mp_dists(spark, sf_dir)
    return (
        dists.filter(F.col("dist").isNotNull())
        .orderBy("dist", "i", "j")
        .limit(MOTIF_TOP_K)
        .select("i", "j", F.round("dist", 6).alias("dist"))
    )


DISCORD_TOP_K = 10


@register(
    "timeseries_discord_topk",
    oracle=_MP_CTE_PREFIX
    + f""",
    sym AS (
      SELECT i, j, dist FROM dists
      UNION ALL
      SELECT j AS i, i AS j, dist FROM dists
    ),
    mp AS (SELECT i, min(dist) AS mp FROM sym GROUP BY i)
    SELECT i, round(mp, 6) AS mp_dist, nn_idx
    FROM (
      -- top-k on the RAW mp in a subquery (the motif_topk alias-binding
      -- trap: a bare ORDER BY in the outer SELECT would bind to the
      -- rounded alias in DuckDB while Spark orders the raw column)
      SELECT mp.i, mp.mp, CAST(min(sym.j) AS BIGINT) AS nn_idx
      FROM mp JOIN sym ON sym.i = mp.i AND sym.dist = mp.mp
      GROUP BY mp.i, mp.mp
      ORDER BY mp.mp DESC, mp.i
      LIMIT {DISCORD_TOP_K}
    ) t
    """,
)
def timeseries_discord_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{DISCORD_TOP_K} DISCORDS of the hourly series (Yeh et al.,
    ICDM 2016 — the matrix profile's anomaly end): the subsequences
    FARTHEST from their nearest non-trivial neighbor, i.e. the maxima
    of the matrix profile — "which days behaved like nothing else?" is
    the canonical profile-based anomaly surface (the complement of
    timeseries_motif_topk's minima). Window, exclusion zone, and the
    zero-variance NULL convention inherit from the profile family; a
    subsequence with no defined neighbor (constant, or all neighbors
    constant) has an undefined profile value and drops out before the
    top-k on both engines.

    Exactness/scale shape: the FOURTH consumer of the one cached
    O(n^2) pairwise pass (_mp_dists — profile, AB-join, motif top-k,
    discord top-k all ride the same frame); distances are bit-identical
    doubles (exact integer sufficient statistics, one cast each), so
    the shared argmin (_mp_self_profile: smallest j on ties) and ORDER
    BY mp DESC with the i tie-break select the identical rows; the top-k
    plans as TakeOrderedAndProject over the subsequence-sized mp frame.
    """
    return (
        _mp_self_profile(spark, sf_dir)
        .orderBy(F.col("mp").desc(), F.col("i"))
        .limit(DISCORD_TOP_K)
        .select("i", F.round("mp", 6).alias("mp_dist"), "nn_idx")
    )
