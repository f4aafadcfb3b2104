"""Time-series operators over the events table: gap-filled hourly
rollups with last-observation-carried-forward, windowed anomaly
detection, OHLC resampling, and session transition matrices.

These are the hypertable-style queries a metrics warehouse serves
(Timescale's ``time_bucket_gapfill``/``locf``, Flink's interval
anomaly jobs) re-expressed as single-shuffle Spark plans:

* gapfill: one hash aggregation to hourly grain, a per-key ``sequence``
  spine (no driver round-trip — bounds stay distributed), one window
  pass for LOCF. Scales as O(keys x hours), shuffled on the series key.
* anomaly z-score: one window pass with a ROWS frame; mean/variance
  come from exact DECIMAL frame sums so the flagged set is identical
  on any partitioning/engine (double co-moment aggregation would
  drift in the last ulp between engines and partition orders).
* OHLC: one aggregation; open/close via rank-1 conditional min/max
  (``row_number`` tiebroken on event_id), which both engines express
  identically — no ``min_by``/``arg_min`` dialect divergence.
* transitions: ``lead`` over (user, ts) then one count aggregation —
  the Markov-chain page-flow query, linear in events.

Reference parity note: the reference pipeline's analytics end at
curated parquet + Athena SQL (etl_aws_vini.py:522-543); these extend
the engine's event-analytics family per SURVEY.md §2.13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_spark.queries.registry import load_table, register
from aws_etl_spark.queries.sql_seams import duck_declared, spark_declared

_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         SUM(CAST(value AS DECIMAL(18,6))) AS v_dec,
         COUNT(*) AS n_events
  FROM events
  GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
  FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type,
         UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
)
SELECT s.event_type,
       s.hour,
       CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
       CAST(LAST_VALUE(h.v_dec IGNORE NULLS) OVER (
              PARTITION BY s.event_type ORDER BY s.hour
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS v_filled,
       CAST(CASE WHEN h.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_gap
FROM spine s
LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
"""


@register(
    "events_gapfill_locf",
    oracle=_GAPFILL_ORACLE,
    category="timeseries",
    tables=("events",),
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type rollup on a dense hour spine, empty hours
    filled by carrying the last observed hourly sum forward
    (``time_bucket_gapfill`` + ``locf`` semantics).

    The spine is generated per key from its own min/max hour with
    ``sequence`` — fully distributed, no driver collect; LOCF is one
    ordered window (``last ignorenulls``) per series."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v_dec"),
        F.count("*").alias("n_events"),
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias(
                "hour"
            ),
        )
    )
    joined = spine.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias(
            "n_events"
        ),
        F.last("v_dec", ignorenulls=True)
        .over(w)
        .cast("double")
        .alias("v_filled"),
        F.when(F.col("n_events").isNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_gap"),
    )


_INTERP_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         SUM(CAST(value AS DECIMAL(18,6))) AS v_dec,
         COUNT(*) AS n_events
  FROM events
  GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
  FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type,
         UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
),
ctx AS (
  SELECT s.event_type, s.hour,
         CAST(h.v_dec AS DOUBLE) AS v,
         CAST(epoch(s.hour) AS BIGINT) AS eh,
         CAST(LAST_VALUE(h.v_dec IGNORE NULLS) OVER wp AS DOUBLE) AS pv,
         CAST(epoch(LAST_VALUE(CASE WHEN h.v_dec IS NOT NULL THEN s.hour END
                               IGNORE NULLS) OVER wp) AS BIGINT) AS ph,
         CAST(FIRST_VALUE(h.v_dec IGNORE NULLS) OVER wn AS DOUBLE) AS nv,
         CAST(epoch(FIRST_VALUE(CASE WHEN h.v_dec IS NOT NULL THEN s.hour END
                                IGNORE NULLS) OVER wn) AS BIGINT) AS nh
  FROM spine s
  LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
  WINDOW wp AS (PARTITION BY s.event_type ORDER BY s.hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY s.event_type ORDER BY s.hour
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL
              THEN pv + (nv - pv) * (CAST(eh - ph AS DOUBLE)
                                     / CAST(nh - ph AS DOUBLE))
            ELSE COALESCE(pv, nv) END AS v_interp,
       CASE WHEN v IS NOT NULL THEN 'observed'
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
            ELSE 'edge' END AS fill_kind
FROM ctx
"""


@register(
    "events_gapfill_interpolate",
    oracle=_INTERP_ORACLE,
    category="timeseries",
    tables=("events",),
)
def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup with LINEAR interpolation between the
    neighboring observations (Timescale ``interpolate`` semantics);
    spine edges fall back to nearest-observation fill.

    Two ordered window passes (backward + forward neighbor) over the
    same per-key partitioning — one shuffle total. The interpolation
    fraction uses exact integer epoch-hour offsets and the neighbor
    values are exact decimals cast once, so the arithmetic is the
    same IEEE sequence on both engines."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v_dec"),
        F.count("*").alias("n_events"),
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias(
                "hour"
            ),
        )
    )
    joined = spine.join(hourly, ["event_type", "hour"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v_dec").isNotNull(), F.col("hour"))
    ctx = joined.select(
        "event_type",
        "hour",
        F.col("v_dec").cast("double").alias("v"),
        F.unix_timestamp("hour").alias("eh"),
        F.last("v_dec", ignorenulls=True).over(wp).cast("double").alias("pv"),
        F.unix_timestamp(
            F.last(obs_hour, ignorenulls=True).over(wp)
        ).alias("ph"),
        F.first("v_dec", ignorenulls=True).over(wn).cast("double").alias("nv"),
        F.unix_timestamp(
            F.first(obs_hour, ignorenulls=True).over(wn)
        ).alias("nh"),
    )
    frac = (F.col("eh") - F.col("ph")).cast("double") / (
        F.col("nh") - F.col("ph")
    ).cast("double")
    return ctx.select(
        "event_type",
        "hour",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .otherwise(F.coalesce(F.col("pv"), F.col("nv")))
        .alias("v_interp"),
        F.when(F.col("v").isNotNull(), F.lit("observed"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.lit("interpolated"),
        )
        .otherwise(F.lit("edge"))
        .alias("fill_kind"),
    )


# Trailing frame: the _Z_FRAME events before this one (never the
# current row — the tested value must not contaminate its own baseline).
_Z_FRAME = 30
_Z_MIN_N = 10
_Z_THRESHOLD = 3.0

_ANOMALY_ORACLE = f"""
WITH scored AS (
  SELECT event_id, event_type, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         COUNT(v) OVER w AS n,
         SUM(v) OVER w AS s1,
         SUM(v2) OVER w AS s2
  FROM (
    SELECT *,
           CAST(value AS DECIMAL(12,2)) AS v,
           CAST(CAST(value AS DECIMAL(12,2))
                * CAST(value AS DECIMAL(12,2)) AS DECIMAL(25,4)) AS v2
    FROM events
  )
  WINDOW w AS (PARTITION BY event_type, user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN {_Z_FRAME} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, user_id, ts, value, z
FROM (
  SELECT *,
         (value - CAST(s1 AS DOUBLE) / n)
         / sqrt((CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                / (n - 1)) AS z
  FROM scored WHERE n >= {_Z_MIN_N}
)
WHERE abs(z) > {_Z_THRESHOLD}
"""


@register(
    "events_anomaly_zscore",
    oracle=_ANOMALY_ORACLE,
    category="timeseries",
    tables=("events",),
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flagging: each event scored against the
    mean/stddev of that user's previous 30 same-type events.

    Mean and variance derive from exact DECIMAL frame sums, then one
    IEEE division/sqrt — so the flagged set is bit-stable across
    engines and partitionings (a double co-moment window would drift
    in the last ulp and flip borderline flags). One window pass,
    shuffled on (event_type, user_id) — the partition key carries the
    cardinality, so parallelism grows with the data (a per-type-only
    baseline would cap the job at #types tasks forever)."""
    events = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(12,2)")
    w = (
        Window.partitionBy("event_type", "user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_FRAME, -1)
    )
    scored = events.select(
        "event_id",
        "event_type",
        "user_id",
        "ts",
        "value",
        F.count(v).over(w).alias("n"),
        F.sum(v).over(w).alias("s1"),
        F.sum((v * v).cast("decimal(25,4)")).over(w).alias("s2"),
    ).filter(F.col("n") >= _Z_MIN_N)
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    n = F.col("n")
    z = (F.col("value") - s1d / n) / F.sqrt(
        (s2d - s1d * s1d / n) / (n - 1)
    )
    return (
        scored.withColumn("z", z)
        .filter(F.abs(F.col("z")) > _Z_THRESHOLD)
        .select("event_id", "event_type", "user_id", "ts", "value", "z")
    )


_OHLC_ORACLE = """
WITH ranked AS (
  SELECT event_type,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         value,
         CAST(value AS DECIMAL(18,6)) AS v_dec,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_first,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_last
  FROM events
)
SELECT event_type, hour,
       MAX(CASE WHEN rn_first = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_last = 1 THEN value END) AS close,
       CAST(SUM(v_dec) AS DOUBLE) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM ranked
GROUP BY event_type, hour
"""


@register(
    "events_ohlc_bars",
    oracle=_OHLC_ORACLE,
    category="timeseries",
    tables=("events",),
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC resampling per event type (the financial-bars /
    downsampling query): open/close via rank-1 conditional aggregates
    (row_number tiebroken on event_id), high/low/volume in the same
    single aggregation — one window pass + one groupBy, both shuffled
    on the same (type, hour) key so AQE coalesces them."""
    events = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    base = events.select(
        "event_type", hour, "value", "ts", "event_id",
        F.col("value").cast("decimal(18,6)").alias("v_dec"),
    )
    w_first = Window.partitionBy("event_type", "hour").orderBy(
        "ts", "event_id"
    )
    w_last = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = base.select(
        "event_type",
        "hour",
        "value",
        "v_dec",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    return ranked.groupBy("event_type", "hour").agg(
        F.max(F.when(F.col("rn_first") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias("close"),
        F.sum("v_dec").cast("double").alias("volume"),
        F.count("*").cast("bigint").alias("n_ticks"),
    )


_TRANSITION_ORACLE = """
WITH pairs AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
  FROM events
),
counts AS (
  SELECT src, dst, COUNT(*) AS n
  FROM pairs WHERE dst IS NOT NULL
  GROUP BY src, dst
)
SELECT src, dst, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
FROM counts
"""


@register(
    "events_transition_matrix",
    oracle=_TRANSITION_ORACLE,
    category="timeseries",
    tables=("events",),
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event flows:
    ``lead`` over (user, ts) pairs consecutive events, one count
    aggregation, row probabilities from exact BIGINT counts. Linear
    in events; shuffles once on user_id then once on (src, dst)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w_src = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(w_src).cast("double")
        ).alias("p"),
    )


_TWA_ORACLE = """
WITH stamped AS (
  SELECT user_id,
         CAST(value AS DECIMAL(12,2)) AS v,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
         LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt_us
  FROM events
),
held AS (
  SELECT user_id, v, (nxt_us - t_us) // 1000000 AS dt_s
  FROM stamped WHERE nxt_us IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dt_s) AS BIGINT) AS held_seconds,
       CAST(SUM(v * dt_s) AS DOUBLE) / CAST(SUM(dt_s) AS DOUBLE)
         AS time_weighted_avg
FROM held
GROUP BY user_id
HAVING SUM(dt_s) > 0
"""


@register(
    "events_time_weighted_avg",
    oracle=_TWA_ORACLE,
    category="timeseries",
    tables=("events",),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average (Timescale ``time_weight`` /
    'avg of a step function held between observations'): each value is
    weighted by how long it was the latest observation.

    One window pass (lead over the user partition) + one aggregation
    on the same key — AQE reuses the partitioning, so it costs a
    single shuffle. Hold durations are exact integer seconds (micros
    diff, floor-divided identically on both engines); the weighted sum
    is exact DECIMAL — the division at the end is the only float op."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stamped = events.select(
        "user_id",
        F.col("value").cast("decimal(12,2)").alias("v"),
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("nxt_us"),
    ).filter(F.col("nxt_us").isNotNull())
    held = stamped.withColumn(
        "dt_s", F.expr("(nxt_us - t_us) DIV 1000000")
    )
    return (
        held.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            F.sum("dt_s").cast("bigint").alias("held_seconds"),
            (
                F.sum(F.col("v") * F.col("dt_s")).cast("double")
                / F.sum("dt_s").cast("double")
            ).alias("time_weighted_avg"),
        )
        .filter(F.col("held_seconds") > 0)
    )


_SES_SPARK = """
WITH h AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, DATE_TRUNC('hour', ts)
),
a AS (
  SELECT event_type, COUNT(*) AS n_hours,
         TRANSFORM(ARRAY_SORT(COLLECT_LIST(STRUCT(hr, total))),
                   x -> x.total) AS vals
  FROM h GROUP BY event_type
)
SELECT event_type, n_hours,
       AGGREGATE(SLICE(vals, 2, CAST(SIZE(vals) - 1 AS INT)),
                 ELEMENT_AT(vals, 1),
                 (acc, x) -> 0.5D * x + 0.5D * acc) AS smoothed
FROM a
"""

_SES_ORACLE = """
WITH h AS (
  SELECT event_type, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP))
)
SELECT event_type, COUNT(*) AS n_hours,
       LIST_REDUCE(LIST(total ORDER BY hr),
                   (acc, x) -> 0.5 * x + 0.5 * acc) AS smoothed
FROM h GROUP BY event_type
"""


def _register_ses() -> None:
    from aws_etl_spark.queries.registry import sql_query

    sql_query(
        "events_exp_smoothing",
        _SES_SPARK,
        oracle=_SES_ORACLE,
        category="timeseries",
        doc=(
            "Simple exponential smoothing (alpha=0.5) over each type's "
            "hourly series — the inherently-SEQUENTIAL per-key "
            "recursion s' = alpha*x + (1-alpha)*s expressed as a "
            "left fold: hourly totals (exact decimal -> double) are "
            "sorted into a per-key array and folded with AGGREGATE "
            "(init = first element, matching DuckDB's LIST_REDUCE). "
            "Both engines execute the identical IEEE op sequence -> "
            "bit-equal. Scale: per-key state is the BOUNDED hourly "
            "series (~10^4 doubles/year), keys fold in parallel; "
            "unbounded-series smoothing belongs to the stateful "
            "streaming path (applyInPandasWithState), not a batch "
            "collect."
        ),
        tables=("events",),
    )


_register_ses()


# --------------------------------------------------------------------------
# DAU / MAU stickiness: the engagement-ratio KPI. Distinct (day, user)
# pairs reduce the raw event stream once; DAU is a count over that
# reduced set, MAU a COUNT(DISTINCT) at month grain — three map-side-
# combinable aggregations over one scan, shuffled on the day/user key
# only. The ratio is a single IEEE division of exact integers,
# floor-quantized to micros (raw double ratios would still be exact
# here, but the quantized-BIGINT convention keeps the output schema
# hash-stable).
# --------------------------------------------------------------------------

_DAU_MAU_SQL = """
WITH d AS (
  SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS activity_day, user_id
  FROM events
  GROUP BY DATE_TRUNC('day', CAST(ts AS TIMESTAMP)), user_id
),
dau AS (
  SELECT activity_day, CAST(COUNT(*) AS BIGINT) AS dau
  FROM d GROUP BY activity_day
),
mau AS (
  SELECT DATE_TRUNC('month', activity_day) AS activity_month,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM d GROUP BY DATE_TRUNC('month', activity_day)
)
SELECT dau.activity_day, dau.dau, mau.mau,
       CAST(FLOOR(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE)
                  * 1000000) AS BIGINT) AS stickiness_micros
FROM dau JOIN mau
  ON DATE_TRUNC('month', dau.activity_day) = mau.activity_month
"""


def _register_dau_mau() -> None:
    from aws_etl_spark.queries.registry import sql_query

    sql_query(
        "events_dau_mau",
        _DAU_MAU_SQL,
        category="timeseries",
        doc=(
            "Daily-active / monthly-active stickiness ratio per day "
            "(the DAU/MAU engagement KPI). One distinct-reduce of "
            "(day, user), then two grain aggregations and a "
            "broadcast-size month join; the ratio is one exact-int "
            "IEEE division quantized to micros."
        ),
        tables=("events",),
    )


_register_dau_mau()


# --------------------------------------------------------------------------
# Day-of-week seasonal-mean decomposition of daily event volume:
# x_day = grand_mean + seasonal(dow) + residual. All components carry
# exact integer numerator/denominator pairs (multiplied through by the
# day counts) next to the convenience doubles, so the decomposition is
# hash-exact; the doubles are single divisions of those same integers.
# --------------------------------------------------------------------------

def _seasonal_sql(dow_expr: str) -> str:
    return f"""
WITH daily AS (
  SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events
  GROUP BY DATE_TRUNC('day', CAST(ts AS TIMESTAMP))
),
d2 AS (
  SELECT day, x, CAST({dow_expr} AS BIGINT) AS dow FROM daily
),
tot AS (
  SELECT CAST(SUM(x) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS days
  FROM d2
),
s AS (
  SELECT dow, CAST(SUM(x) AS BIGINT) AS sum_dow,
         CAST(COUNT(*) AS BIGINT) AS cnt_dow
  FROM d2 GROUP BY dow
)
SELECT d2.day, d2.x, d2.dow, s.sum_dow, s.cnt_dow, t.total, t.days,
       s.sum_dow * t.days - t.total * s.cnt_dow AS seasonal_num,
       s.cnt_dow * t.days AS seasonal_den,
       d2.x * s.cnt_dow - s.sum_dow AS resid_num,
       CAST(s.sum_dow AS DOUBLE) / CAST(s.cnt_dow AS DOUBLE) AS dow_mean,
       CAST(d2.x * s.cnt_dow - s.sum_dow AS DOUBLE) /
       CAST(s.cnt_dow AS DOUBLE) AS residual
FROM d2 JOIN s ON s.dow = d2.dow CROSS JOIN tot t
ORDER BY d2.day
"""


def _register_seasonal() -> None:
    from aws_etl_spark.queries.registry import sql_query

    sql_query(
        "events_seasonal_decompose",
        _seasonal_sql("weekday(CAST(day AS DATE)) + 1"),
        oracle=_seasonal_sql("isodow(CAST(day AS DATE))"),
        category="timeseries",
        doc=(
            "Day-of-week seasonal-mean decomposition of daily event "
            "volume: x = grand_mean + seasonal(dow) + residual, with "
            "every component as an exact integer numerator/denominator "
            "pair (multiplied through by day counts — no fractional "
            "mean ever subtracted) beside the convenience doubles. "
            "ISO dow comes from weekday()+1 on Spark / isodow() on "
            "DuckDB (dayofweek() disagrees between engines). Plan: one "
            "grouped count reduces the corpus, then 30-row/7-row/1-row "
            "joins — the calendar-bounded monitor shape."
        ),
        tables=("events",),
    )


_register_seasonal()


# --------------------------------------------------------------------------
# Markov stationary distribution of the event-type chain (round 9,
# queued for the r10 window) — "where does a user's session settle":
# the long-run occupancy the transition matrix only implies. Twelve
# unrolled quantized power-iteration steps, exact integer algebra in
# micro-units: step k is pi_k(j) = Σ_src (pi_{k-1}(src) · n(src,j))
# DIV rowsum(src) — per-term floor division spelled identically on
# both engines, so every intermediate is a bit-pinned BIGINT (the
# pagerank/PCA quantized-iteration convention; floor mass loss is
# deterministic and identical). The Spark side scans events ONCE into
# a checkpointed ≤(types)² count table and iterates driver-side over
# broadcast-tiny frames; the oracle unrolls the same twelve steps as
# MATERIALIZED CTEs (DuckDB would otherwise re-inline the count CTE
# once per step — the exponential-CTE trap).
# --------------------------------------------------------------------------

_STATIONARY_STEPS = 12


def _stationary_oracle() -> str:
    steps = []
    for k in range(1, _STATIONARY_STEPS + 1):
        steps.append(f"""
p{k} AS MATERIALIZED (
  SELECT counts.dst AS s,
         CAST(SUM((p{k-1}.pi * counts.n) // ns.tot) AS BIGINT) AS pi
  FROM p{k-1}
  JOIN counts ON counts.src = p{k-1}.s
  JOIN ns ON ns.src = p{k-1}.s
  GROUP BY counts.dst
)""")
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT event_type AS src,
         LEAD(event_type) OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
  FROM events
),
counts AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE dst IS NOT NULL
  GROUP BY src, dst
),
ns AS MATERIALIZED (
  SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM counts GROUP BY src
),
states AS MATERIALIZED (SELECT src AS s FROM counts GROUP BY src),
p0 AS MATERIALIZED (
  SELECT s, CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT) AS pi
  FROM states
),{",".join(steps)}
SELECT s AS event_type, pi AS pi_micro,
       CAST(pi AS DOUBLE) / CAST(1000000 AS DOUBLE) AS pi
FROM p{_STATIONARY_STEPS}
"""


@register(
    "events_markov_stationary",
    oracle=_stationary_oracle(),
    category="timeseries",
    tables=("events",),
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution by quantized power iteration: one scan
    of events into a checkpointed count table, then twelve driver-side
    steps over broadcast-tiny frames (exact per-term floor division,
    bit-pinned to the oracle's unrolled MATERIALIZED CTEs)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        events.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    ns = counts.groupBy("src").agg(F.sum("n").cast("bigint").alias("tot"))
    states = counts.select(F.col("src").alias("s")).distinct()
    n_states = states.count()
    if n_states == 0:
        # no transitions anywhere (≤1 event per user): the chain is
        # empty — mirror the oracle's zero-row result with the schema
        return spark.createDataFrame(
            [], "event_type string, pi_micro bigint, pi double"
        )
    from aws_etl_spark.ops import lanes

    driver_cap = lanes.cap("markov_states")
    if n_states <= driver_cap:
        # Bounded-state fast path (round-13): the iteration state is
        # one integer per STATE and the transition table ≤ states²
        # rows — at ≤512 states that is ≤256k tiny rows regardless of
        # corpus size, so the twelve steps run as exact Python-int
        # arithmetic on the collected count table (the PCA/MMR
        # bounded-collect pattern) instead of 12 join+agg Spark jobs.
        # Bit-identical: (pi*n) DIV tot on non-negative BIGINTs ==
        # Python //, and the sum per dst is integer. Above the cap
        # (a corpus with more event types than the dial) the
        # distributed loop below runs unchanged.
        rows = counts.collect()
        tot: dict = {}
        trans: dict = {}
        for r in rows:
            trans.setdefault(r["src"], []).append((r["dst"], r["n"]))
            tot[r["src"]] = tot.get(r["src"], 0) + r["n"]
        pi_d = {s: 1000000 // n_states for s in trans}
        for _ in range(_STATIONARY_STEPS):
            new: dict = {}
            for src, edges in trans.items():
                p = pi_d.get(src)
                if p is None:
                    continue
                t = tot[src]
                for dst, n in edges:
                    new[dst] = new.get(dst, 0) + (p * n) // t
            pi_d = new
        from aws_etl_spark.ops.scale import bounded_rows_df

        return bounded_rows_df(
            spark,
            [(s, v, float(v) / 1000000.0) for s, v in pi_d.items()],
            "event_type string, pi_micro bigint, pi double",
        )
    pi = states.withColumn(
        "pi", F.lit(1000000 // n_states).cast("bigint")
    )
    for _ in range(_STATIONARY_STEPS):
        pi = (
            pi.join(counts, pi["s"] == counts["src"])
            .join(ns, "src")
            .select(
                F.col("dst").alias("s"),
                F.expr("(pi * n) DIV tot").alias("term"),
            )
            .groupBy("s")
            .agg(F.sum("term").cast("bigint").alias("pi"))
        )
    return pi.select(
        F.col("s").alias("event_type"),
        F.col("pi").alias("pi_micro"),
        (F.col("pi").cast("double") / F.lit(1000000).cast("double")).alias("pi"),
    )


# --------------------------------------------------------------------------
# Lag-k autocorrelation of the daily event-volume series (round 10,
# queued for the r11 window): the seasonality/persistence readout a
# volume monitor runs next to CUSUM (level shifts) and the seasonal
# decomposition (known-period means) — "how strongly does today
# predict k days out, and at which k does the weekly cycle show".
# Deviations are multiplied through by the day count (the CUSUM
# idiom: e_t = days*x_t - total, never a fractional mean), so lag
# products and both sums are exact BIGINTs; pairing is an integer
# epoch-day equi-join (d2.dn = d1.dn + lag), which stays correct
# across calendar gaps rather than silently shifting like a LEAD
# over observed rows would. acf_k is one IEEE division of exact
# integers. Overflow contract: (days * max_x)^2 * days < 2^63 —
# beyond ~3e5 days*x, pre-scale the counts. The corpus spine is ≤31
# days; at 100 TB the grouped daily count reduces the corpus first
# and everything after is calendar-bounded.
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7


def _acf_daily_sql(epoch_expr: str, intdiv) -> str:
    # ts IS NOT NULL (r11 ADVICE 1): a NULL ts would otherwise yield a
    # NULL dn day-group whose position under ORDER BY dn differs
    # across engines (Spark NULLS FIRST vs DuckDB NULLS LAST) — fatal
    # for the order-sensitive spine consumers (stat_runs_test,
    # stat_pettitt_change); a daily spine has no NULL day by contract.
    dn = intdiv(f"CAST(FLOOR({epoch_expr}) AS BIGINT)", "86400")
    return f"""
SELECT CAST({dn} AS BIGINT) AS dn,
       CAST(COUNT(*) AS BIGINT) AS x
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
"""


def _acf_tail(daily: str) -> str:
    lags = " UNION ALL ".join(
        f"SELECT {k} AS lag" for k in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
WITH tot AS (
  SELECT CAST(SUM(x) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS days
  FROM {daily}
),
e AS (
  SELECT d.dn, d.x * t.days - t.total AS e_q
  FROM {daily} d CROSS JOIN tot t
),
den AS (
  SELECT CAST(SUM(e_q * e_q) AS BIGINT) AS den_q FROM e
),
lags AS ({lags}),
num AS (
  SELECT l.lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(a.e_q * b.e_q) AS BIGINT) AS num_q
  FROM lags l
  JOIN e a ON 1 = 1
  JOIN e b ON b.dn = a.dn + l.lag
  GROUP BY l.lag
)
SELECT n.lag, n.n_pairs, n.num_q, d.den_q,
       -- constant-series degenerate decided in exact integer space
       CASE WHEN d.den_q = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(n.num_q AS DOUBLE) / CAST(d.den_q AS DOUBLE)
       END AS acf
FROM num n CROSS JOIN den d
ORDER BY n.lag
"""


def _register_acf() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _acf_tail("daily")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "events_acf_daily",
        ops=(
            (
                "view",
                "acf_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_acf_tail("acf_daily"),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="timeseries",
        doc=(
            "Lag 1..7 autocorrelation of daily event volume: exact "
            "integer deviations via the CUSUM multiply-through idiom "
            "(days*x - total), calendar-correct pairing by integer "
            "epoch-day equi-join, numerator/denominator exact BIGINTs "
            "and acf as one IEEE division; constant-series degenerate "
            "pinned to 0 in integer space. One grouped count reduces "
            "the corpus; all later stages are calendar-bounded."
        ),
        tables=("events",),
    )


_register_acf()


# --------------------------------------------------------------------------
# Conditional entropy of the event-type chain (round 10, queued for
# the r11 window): H(next | current) in nats — "how predictable is
# the next user action given the current one", the single-number
# journey-predictability monitor next to the transition matrix (the
# full P_ij) and the stationary distribution (the long-run mix).
# Machinery is the text_word_entropy identity applied per row of the
# chain: H_s = ln(n_s) − (Σ_d n_sd·ln n_sd)/n_s, with every
# n·ln(n) term floor-quantized to micro-units BEFORE the order-free
# integer sum; the corpus-level H(dst|src) = Σ_s (n_s/N)·H_s folds
# the same way from two integer sums, so no double is ever summed in
# partition order. One staged events scan (the window pairs + count
# agg); everything after is (event types)² ≤ 25 rows.
# --------------------------------------------------------------------------

_ER_COUNTS = """
SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT event_type AS src,
         LEAD(event_type) OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
  FROM events
) p
WHERE dst IS NOT NULL
GROUP BY src, dst
"""

_ER_Q = "CAST(FLOOR({x} * LN(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


def _entropy_rate_tail(counts: str) -> str:
    qn = _ER_Q.format(x="n")
    qns = _ER_Q.format(x="n_s")
    return f"""
WITH s AS (
  SELECT src, CAST(SUM(n) AS BIGINT) AS n_s,
         CAST(SUM({qn}) AS BIGINT) AS q2
  FROM {counts} GROUP BY src
),
t AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS total,
         CAST(SUM({qns}) AS BIGINT) AS q1,
         CAST(SUM(q2) AS BIGINT) AS q2all
  FROM s
)
SELECT s.src, s.n_s,
       CAST(s.n_s AS DOUBLE) / CAST(t.total AS DOUBLE) AS p_src,
       LN(CAST(s.n_s AS DOUBLE))
         - (CAST(s.q2 AS DOUBLE) / CAST(1000000 AS DOUBLE))
           / CAST(s.n_s AS DOUBLE) AS h_next,
       (CAST(t.q1 - t.q2all AS DOUBLE) / CAST(1000000 AS DOUBLE))
         / CAST(t.total AS DOUBLE) AS h_cond
FROM s CROSS JOIN t
"""


def _register_entropy_rate() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_tail = _entropy_rate_tail("counts")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "events_entropy_rate",
        ops=(("view", "er_counts", _ER_COUNTS),),
        final=_entropy_rate_tail("er_counts"),
        oracle=(
            f"WITH counts AS ({_ER_COUNTS}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="timeseries",
        doc=(
            "Conditional entropy of the event-type chain, H(next | "
            "current) in nats: per-source next-event entropy via the "
            "word-entropy identity with micro-quantized n*ln(n) terms "
            "(order-free integer sums), and the corpus-level "
            "H(dst|src) folded from the same two integer sums. One "
            "staged events scan; all downstream stages are "
            "(types)^2-bounded."
        ),
        tables=("events",),
    )


_register_entropy_rate()


# --------------------------------------------------------------------------
# Burstiness coefficient of inter-event gaps (round 10, queued for
# the r11 window): Goh-Barabási B = (σ−μ)/(σ+μ) over the per-user
# inter-event gap distribution, one row per event_type — periodic
# traffic → −1, Poisson → 0, bursty → +1; the single-number
# complement to the gap histogram. Gaps are exact integer seconds
# (LEAD within (user, type)); with n·Σg² and (Σg)² carried in
# DECIMAL(38,0), the n in σ = √(n·Σg²−(Σg)²)/n and μ = Σg/n cancels:
# B = (√(nΣg²−Sg²) − Sg)/(√(nΣg²−Sg²) + Sg) — ONE correctly-rounded
# SQRT and one division over exact decimals. Degenerate guards in
# exact decimal space: n ≤ 1, or zero variance with zero mean, pin
# B to 0. Contract: n·Σg² < 1e38 (gaps in seconds ⇒ fine past 1e15
# rows per type).
# --------------------------------------------------------------------------

_BURST_SQL = """
WITH g AS (
  SELECT event_type,
         CAST(nxt - sec AS BIGINT) AS gap
  FROM (
    SELECT event_type,
           {SEC} AS sec,
           LEAD({SEC}) OVER (
             PARTITION BY user_id, event_type
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
    FROM events
  ) p
  WHERE nxt IS NOT NULL
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(gap AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS sg,
         CAST(SUM(CAST(gap AS DECIMAL(28,0)) * CAST(gap AS DECIMAL(28,0)))
              AS DECIMAL(38,0)) AS ssq
  FROM g GROUP BY event_type
)
SELECT event_type, n,
       CAST(sg AS BIGINT) AS sum_gap_sec,
       CASE WHEN n <= 1 OR (n * ssq - sg * sg = 0 AND sg = 0)
            THEN CAST(0 AS DOUBLE)
            ELSE (SQRT(CAST(n * ssq - sg * sg AS DOUBLE))
                  - CAST(sg AS DOUBLE))
                 / (SQRT(CAST(n * ssq - sg * sg AS DOUBLE))
                    + CAST(sg AS DOUBLE))
       END AS burstiness
FROM m
"""


def _register_burstiness() -> None:
    from aws_etl_spark.queries.registry import sql_query

    sql_query(
        "events_burstiness",
        _BURST_SQL.replace(
            "{SEC}", "unix_timestamp(CAST(ts AS TIMESTAMP))"
        ),
        oracle=_BURST_SQL.replace(
            "{SEC}", "CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)"
        ),
        category="timeseries",
        doc=(
            "Goh-Barabasi burstiness B = (sigma-mu)/(sigma+mu) of "
            "per-user inter-event gaps, one row per event_type: exact "
            "integer gap seconds, DECIMAL(38,0) moments, the shared n "
            "cancelled so B is one correctly-rounded SQRT and one "
            "division; n<=1 and zero-variance-zero-mean degenerates "
            "pinned to 0 in exact decimal space. Linear: one "
            "(user,type)-partitioned window + one moment agg."
        ),
        tables=("events",),
    )


_register_burstiness()


# --------------------------------------------------------------------------
# Seasonality-adjusted volume anomaly (round 10, queued for the r11
# window): flag days whose residual from the day-of-week seasonal
# mean is an outlier by the robust MAD rule — the monitor composition
# of events_seasonal_decompose (what is normal for a Tuesday) and
# stat_mad_robust (what is an outlier), catching the Tuesday that
# looks normal against the whole month but is wildly off FOR A
# TUESDAY. Residuals come from the decomposition's exact integer
# pair ((x·cnt_dow − sum_dow)/cnt_dow) micro-quantized once; the
# median and the MAD are exact order statistics over the ≤31-day
# spine carried as DOUBLED sums of the two middle elements (the
# Theil-Sen even-count idiom), so the flag decision 4·|2r−med2| >
# 7·mad2 is a pure integer comparison (k = 3.5 MADs). One staged
# daily-count scan; everything after is calendar-bounded.
# --------------------------------------------------------------------------

_SA_DAILY = """
SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
       CAST(COUNT(*) AS BIGINT) AS x
FROM events
GROUP BY DATE_TRUNC('day', CAST(ts AS TIMESTAMP))
"""


def _sa_tail(daily: str, dow_expr: str, declared, intdiv) -> str:
    p1 = intdiv("n.n + 1", "2")
    p2 = intdiv("n.n", "2") + " + 1"
    return f"""
WITH d2 AS (
  SELECT day, x, CAST({dow_expr} AS BIGINT) AS dow FROM {daily}
),
dw AS (
  SELECT dow, CAST(SUM(x) AS BIGINT) AS sum_dow,
         CAST(COUNT(*) AS BIGINT) AS cnt_dow
  FROM d2 GROUP BY dow
),
r AS (
  SELECT d2.day, d2.x, d2.dow,
         CAST(FLOOR(CAST(d2.x * w.cnt_dow - w.sum_dow AS DOUBLE)
                    / CAST(w.cnt_dow AS DOUBLE) * 1000000) AS BIGINT) AS r_q
  FROM d2 JOIN dw w ON w.dow = d2.dow
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
rk AS (
  SELECT day, x, dow, r_q,
         ROW_NUMBER() OVER (PARTITION BY __g ORDER BY r_q, day) AS rn
  FROM {declared("r")}
),
med AS (
  SELECT CAST(SUM(CASE WHEN rk.rn = {p1} THEN rk.r_q ELSE 0 END)
              + SUM(CASE WHEN rk.rn = {p2} THEN rk.r_q ELSE 0 END)
              AS BIGINT) AS med2
  FROM rk CROSS JOIN n
),
dev AS (
  SELECT rk.day, rk.x, rk.dow, rk.r_q,
         ABS(2 * rk.r_q - m.med2) AS d_q
  FROM rk CROSS JOIN med m
),
drk AS (
  SELECT day, x, dow, r_q, d_q,
         ROW_NUMBER() OVER (PARTITION BY __g ORDER BY d_q, day) AS rn
  FROM {declared("dev")}
),
mad AS (
  SELECT CAST(SUM(CASE WHEN drk.rn = {p1} THEN drk.d_q ELSE 0 END)
              + SUM(CASE WHEN drk.rn = {p2} THEN drk.d_q ELSE 0 END)
              AS BIGINT) AS mad2
  FROM drk CROSS JOIN n
)
SELECT d.day, d.x, d.dow, d.r_q, d.d_q, m2.med2, md.mad2,
       -- |r - med| > 3.5 * MAD decided in integer space; an all-equal
       -- residual month (mad2 = 0) flags nothing
       CAST(CASE WHEN md.mad2 > 0 AND 4 * d.d_q > 7 * md.mad2
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM dev d CROSS JOIN med m2 CROSS JOIN mad md
ORDER BY d.day
"""


def _sa_resid_view(daily: str, dow_expr: str) -> str:
    """Spark stage: the micro-quantized residual table (no windows)."""
    return f"""
SELECT d2.day, d2.x, d2.dow,
       CAST(FLOOR(CAST(d2.x * w.cnt_dow - w.sum_dow AS DOUBLE)
                  / CAST(w.cnt_dow AS DOUBLE) * 1000000) AS BIGINT) AS r_q
FROM (SELECT day, x, CAST({dow_expr} AS BIGINT) AS dow FROM {daily}) d2
JOIN (
  SELECT dow, CAST(SUM(x) AS BIGINT) AS sum_dow,
         CAST(COUNT(*) AS BIGINT) AS cnt_dow
  FROM (SELECT day, x, CAST({dow_expr} AS BIGINT) AS dow FROM {daily}) dd
  GROUP BY dow
) w ON w.dow = d2.dow
"""


def _sa_doubled_pick(expr: str, order: str, src: str, n: str,
                     declared, intdiv) -> str:
    """Scalar stage: sum of the two middle elements of ``expr`` over
    ``src`` ordered by ``order`` — the doubled order-statistic
    median, with positions derived from the ``n`` literal."""
    p1 = intdiv(f"({n}) + 1", "2")
    p2 = intdiv(f"({n})", "2") + " + 1"
    return f"""
SELECT CAST(SUM(CASE WHEN rn = {p1} THEN v ELSE 0 END)
            + SUM(CASE WHEN rn = {p2} THEN v ELSE 0 END) AS BIGINT)
FROM (
  SELECT {expr} AS v,
         ROW_NUMBER() OVER (PARTITION BY __g ORDER BY {order}) AS rn
  FROM {declared(src)}
) t
"""


def _register_seasonal_anomaly() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query
    from aws_etl_spark.queries.sql_seams import duck_declared, spark_declared

    duck_tail = _sa_tail(
        "daily", "isodow(CAST(day AS DATE))", duck_declared,
        lambda a, b: f"({a}) // ({b})",
    )
    assert duck_tail.startswith("\nWITH ")
    sdiv = lambda a, b: f"({a}) DIV ({b})"  # noqa: E731
    staged_sql_query(
        "events_seasonal_anomaly",
        ops=(
            ("view", "sa_daily", _SA_DAILY),
            (
                "view",
                "sa_r",
                _sa_resid_view("sa_daily", "weekday(CAST(day AS DATE)) + 1"),
            ),
            ("scalar", "SAN", "SELECT CAST(COUNT(*) AS BIGINT) FROM sa_r"),
            (
                "scalar",
                "SAMED2",
                _sa_doubled_pick(
                    "r_q", "r_q, day", "sa_r", "{SAN}", spark_declared, sdiv
                ),
            ),
            (
                "scalar",
                "SAMAD2",
                _sa_doubled_pick(
                    "ABS(2 * r_q - {SAMED2})",
                    "ABS(2 * r_q - {SAMED2}), day",
                    "sa_r", "{SAN}", spark_declared, sdiv,
                ),
            ),
        ),
        final="""
SELECT day, x, dow, r_q,
       ABS(2 * r_q - {SAMED2}) AS d_q,
       {SAMED2} AS med2, {SAMAD2} AS mad2,
       -- |r - med| > 3.5 * MAD decided in integer space; an all-equal
       -- residual month (mad2 = 0) flags nothing
       CAST(CASE WHEN {SAMAD2} > 0
                      AND 4 * ABS(2 * r_q - {SAMED2}) > 7 * {SAMAD2}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM sa_r
ORDER BY day
""",
        oracle=f"WITH daily AS ({_SA_DAILY}),\n" + duck_tail[len("\nWITH ") :],
        category="timeseries",
        doc=(
            "Seasonality-adjusted anomaly flags on daily volume: "
            "exact day-of-week residuals (the decomposition's integer "
            "pair, micro-quantized once), median and MAD as exact "
            "doubled order statistics over the calendar spine (staged "
            "scalars, so the spine windows run once each instead of "
            "once per CTE consumer), and the 3.5-MAD flag decided in "
            "pure integer space (4|2r-med2| > 7 mad2); a zero-MAD "
            "month flags nothing. One staged daily-count scan."
        ),
        tables=("events",),
    )


_register_seasonal_anomaly()


# --------------------------------------------------------------------------
# Ljung-Box portmanteau test statistic (round 11, queued for the r12
# window): the "is there ANY autocorrelation left" readout on top of
# events_acf_daily — a monitor reads 7 acf values and still has to
# decide; Q = n(n+2) Σ_{k=1..h} ρ̂_k²/(n−k) folds them into the one
# number compared against χ²_h. Same staged daily-count view and the
# same exact machinery: ρ_k's numerator/denominator are exact
# BIGINTs via the multiply-through deviations and the epoch-day
# equi-join. Each lag term ρ_k²/(n−k) is one fixed IEEE chain
# pico-quantized (FLOOR ×1e12; terms ≤ 1, the spine is ≤ h rows)
# before the order-free sum, then Q = n(n+2)·Σ/1e12 as one final
# chain. Lags with no pairs (n ≤ k) or a zero denominator contribute
# exactly 0 via the integer-space guard; the LEFT JOIN keeps the lag
# spine complete so h is constant. Overflow contract inherits
# events_acf_daily's (days·max_x)²·days < 2^63.
# --------------------------------------------------------------------------


def _ljung_box_tail(daily: str) -> str:
    lags = " UNION ALL ".join(
        f"SELECT {k} AS lag" for k in range(1, _ACF_MAX_LAG + 1)
    )
    rho = "(CAST(n.num_q AS DOUBLE) / CAST(d.den_q AS DOUBLE))"
    term = f"{rho} * {rho} / CAST(t.days - l.lag AS DOUBLE)"
    return f"""
WITH tot AS (
  SELECT CAST(SUM(x) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS days
  FROM {daily}
),
e AS (
  SELECT d.dn, d.x * t.days - t.total AS e_q
  FROM {daily} d CROSS JOIN tot t
),
den AS (
  SELECT CAST(SUM(e_q * e_q) AS BIGINT) AS den_q FROM e
),
lags AS ({lags}),
num AS (
  SELECT l.lag, CAST(SUM(a.e_q * b.e_q) AS BIGINT) AS num_q
  FROM lags l
  JOIN e a ON 1 = 1
  JOIN e b ON b.dn = a.dn + l.lag
  GROUP BY l.lag
),
terms AS (
  SELECT l.lag,
         CASE WHEN d.den_q = 0 OR n.num_q IS NULL OR t.days <= l.lag
              THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(({term}) * 1000000000000) AS BIGINT)
         END AS term_q
  FROM lags l
  LEFT JOIN num n ON n.lag = l.lag
  CROSS JOIN den d CROSS JOIN tot t
),
q AS (SELECT CAST(SUM(term_q) AS BIGINT) AS sum_q FROM terms)
SELECT t.days AS n_days,
       CAST({_ACF_MAX_LAG} AS BIGINT) AS h,
       CAST(t.days AS DOUBLE) * CAST(t.days + 2 AS DOUBLE)
         * (CAST(q.sum_q AS DOUBLE) / CAST(1000000000000 AS DOUBLE))
         AS q_stat
FROM q CROSS JOIN tot t
"""


def _register_ljung_box() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _ljung_box_tail("daily")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "stat_ljung_box",
        ops=(
            (
                "view",
                "lb_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_ljung_box_tail("lb_daily"),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="stats",
        doc=(
            "Ljung-Box Q over lags 1..7 of daily event volume: exact "
            "BIGINT acf numerators/denominators from the staged daily "
            "view (multiply-through deviations, epoch-day equi-join), "
            "per-lag terms rho^2/(n-k) pico-quantized before the "
            "order-free sum over the complete lag spine, missing-pair "
            "and zero-variance lags contributing exactly 0 in integer "
            "space, Q = n(n+2)*sum as one final IEEE chain."
        ),
        tables=("events",),
    )


_register_ljung_box()


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test (round 11 late batch, queued for the r12
# window): the monitors above read autocorrelation magnitude (ACF,
# Ljung-Box); the runs test asks the coarser question a health check
# wants first — "is daily volume even RANDOM around its median, or
# does it drift/oscillate". Same staged daily-count view. The doubled
# median (x_lo + x_hi at the two middle order statistics) is exact
# integer; days at exactly the median are excluded (the standard
# treatment), signs are integers, runs count via one LAG over the day
# order, and z = (R - mu)/sigma is one fixed IEEE chain whose
# degenerate guard (2*n1*n2*(2*n1*n2 - n) <= 0, i.e. one-sided or
# variance-zero sequences) is decided in exact BIGINT space.
# Scale: the spine is bounded (one row per day); every window runs on
# it, never on raw events.
# --------------------------------------------------------------------------


def _runs_tail(daily: str, intdiv, declared) -> str:
    lo = intdiv("t.nd + 1", "2")
    hi = intdiv("t.nd + 2", "2")
    return f"""
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM {daily}),
r AS (
  SELECT x, ROW_NUMBER() OVER (PARTITION BY __g ORDER BY x, dn) AS rn
  FROM {declared(daily)} d0
),
med AS (
  SELECT CAST(SUM(CASE WHEN r.rn = {lo} THEN r.x ELSE 0 END)
              + SUM(CASE WHEN r.rn = {hi} THEN r.x ELSE 0 END) AS BIGINT)
           AS med2
  FROM r CROSS JOIN t
),
s AS (
  SELECT d.dn,
         CASE WHEN 2 * d.x > m.med2 THEN 1 ELSE 0 END AS sgn
  FROM {daily} d CROSS JOIN med m
  WHERE 2 * d.x <> m.med2
),
runs AS (
  SELECT sgn,
         CASE WHEN LAG(sgn) OVER (PARTITION BY __g ORDER BY dn) IS NULL
                   OR LAG(sgn) OVER (PARTITION BY __g ORDER BY dn) <> sgn
              THEN 1 ELSE 0 END AS run_start
  FROM {declared("s")} s0
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
         CAST(COALESCE(SUM(sgn), 0) AS BIGINT) AS n1,
         CAST(COUNT(*) - COALESCE(SUM(sgn), 0) AS BIGINT) AS n2,
         CAST(COALESCE(SUM(run_start), 0) AS BIGINT) AS r
  FROM runs
)
SELECT t.nd AS n_days, a.n_used, a.n1 AS n_above, a.n2 AS n_below,
       a.r AS n_runs,
       CASE WHEN 2 * a.n1 * a.n2 * (2 * a.n1 * a.n2 - a.n_used) <= 0
            THEN CAST(0 AS DOUBLE)
            ELSE (CAST(a.r AS DOUBLE)
                  - (CAST(2 * a.n1 * a.n2 AS DOUBLE)
                     / CAST(a.n_used AS DOUBLE) + CAST(1 AS DOUBLE)))
                 / SQRT(CAST(2 * a.n1 * a.n2 AS DOUBLE)
                        * (CAST(2 * a.n1 * a.n2 AS DOUBLE)
                           - CAST(a.n_used AS DOUBLE))
                        / (CAST(a.n_used AS DOUBLE)
                           * CAST(a.n_used AS DOUBLE)
                           * CAST(a.n_used - 1 AS DOUBLE)))
       END AS z_stat
FROM agg a CROSS JOIN t
"""


def _register_runs_test() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _runs_tail(
        "daily", lambda a, b: f"({a}) // ({b})", duck_declared
    )
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "stat_runs_test",
        ops=(
            (
                "view",
                "rt_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_runs_tail(
            "rt_daily", lambda a, b: f"({a}) DIV ({b})", spark_declared
        ),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="stats",
        doc=(
            "Wald-Wolfowitz runs test on daily event volume: exact "
            "doubled median over the staged daily spine, exact-median "
            "days excluded, runs counted via one LAG over day order, "
            "z = (R - mu)/sigma as one fixed IEEE chain with the "
            "one-sided / zero-variance degenerate decided in exact "
            "BIGINT space."
        ),
        tables=("events",),
    )


_register_runs_test()


# --------------------------------------------------------------------------
# Pettitt changepoint test (round 11 late batch, queued for the r12
# window): CUSUM above flags mean shifts against a KNOWN baseline
# segment; Pettitt is the rank-based single-changepoint test with no
# baseline — "did the daily-volume level shift, and on which day".
# With doubled midranks r2 = 2*RANK() + ties - 1 (exact integers under
# ties), the classic identity U_t = 2*W_t - t(n+1) becomes
# U_t = W2_t - t(n+1) where W2_t is the running sum of r2 — every U_t
# is an exact BIGINT from one rank window and one prefix-sum window
# over the bounded daily spine. K = max|U_t| over t < n; the reported
# change day is the EARLIEST argmax (deterministic under ties). The
# 5%-significance flag replaces the usual p ~ 2 exp(-6K^2/(n^3+n^2))
# readout with its exact inversion 6K^2 > -ln(0.025)(n^3+n^2) against
# a pinned double literal — EXP differs in the last ulp across
# engines, the comparison of exact integers against one literal chain
# does not. Scale: both windows run on the daily spine, never on raw
# events.
# --------------------------------------------------------------------------


def _pettitt_tail(daily: str, declared) -> str:
    return f"""
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM {daily}),
rk AS (
  SELECT dn,
         CAST(2 * RANK() OVER (PARTITION BY __g ORDER BY x)
              + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2
  FROM {declared(daily)} d0
),
w AS (
  SELECT dn,
         CAST(SUM(r2) OVER (PARTITION BY __g ORDER BY dn
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS w2,
         CAST(ROW_NUMBER() OVER (PARTITION BY __g ORDER BY dn) AS BIGINT)
           AS tpos
  FROM {declared("rk")} r0
),
u AS (
  SELECT w.dn, w.w2 - w.tpos * (t.nd + 1) AS u_t
  FROM w CROSS JOIN t WHERE w.tpos < t.nd
),
k AS (SELECT CAST(MAX(ABS(u_t)) AS BIGINT) AS k_stat FROM u)
SELECT t.nd AS n_days, k.k_stat,
       (SELECT MIN(u.dn) FROM u WHERE ABS(u.u_t) = k.k_stat)
         AS change_dn,
       CAST(CASE WHEN CAST(6 AS DOUBLE) * CAST(k.k_stat AS DOUBLE)
                      * CAST(k.k_stat AS DOUBLE)
                      > CAST('3.6888794541139363' AS DOUBLE)
                        * (CAST(t.nd AS DOUBLE) * CAST(t.nd AS DOUBLE)
                           * CAST(t.nd AS DOUBLE)
                           + CAST(t.nd AS DOUBLE) * CAST(t.nd AS DOUBLE))
                 THEN 1 ELSE 0 END AS BIGINT) AS significant_05
FROM t CROSS JOIN k
WHERE t.nd >= 2
"""


def _register_pettitt() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _pettitt_tail("daily", duck_declared)
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "stat_pettitt_change",
        ops=(
            (
                "view",
                "pt_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_pettitt_tail("pt_daily", spark_declared),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="stats",
        doc=(
            "Pettitt rank-based changepoint on daily event volume: "
            "doubled midranks make U_t = W2_t - t(n+1) an exact BIGINT "
            "per day, K = max|U_t| with the earliest argmax day, and "
            "the 5% significance flag decided by the exact inversion "
            "6K^2 > -ln(0.025)(n^3+n^2) against a pinned literal "
            "(never a cross-engine EXP). Two windows over the staged "
            "daily spine."
        ),
        tables=("events",),
    )


_register_pettitt()


# --------------------------------------------------------------------------
# Kendall tau-b between daily order count and daily revenue (round 11
# late batch, queued for the r12 window): Spearman above reads the
# rank correlation of two columns row-by-row; tau-b is the
# concordance readout analysts quote for SERIES — "do busier days
# bring more revenue, monotonically" — and its tie corrections matter
# on integer counts. The pair join runs over the AGGREGATED daily
# spine (bounded: one row per day — ~n^2/2 comparisons over years of
# days stays tiny next to any raw-event shuffle; the raw table never
# self-joins). Concordant/discordant are decided by exact BIGINT
# comparisons (never a product, which overflows at count*cents
# scale), tie counts tc(tc-1)/2 stay integers via DIV, and
# tau_b = (C-D)/(sqrt(n0-tx) sqrt(n0-ty)) is one fixed IEEE chain
# with the all-tied degenerate pinned to 0 in integer space.
# --------------------------------------------------------------------------


# The pair join below is licensed only on a calendar-bounded spine;
# the staged guard fails loudly past this many spine rows (~27x the
# ten-year daily calendar, still only ~5e9 pair comparisons — the
# last size where "quadratic on the spine" is defensibly cheap).
KENDALL_MAX_SPINE_ROWS = 100_000


def _kt_daily_sql(epoch_expr: str, intdiv) -> str:
    dn = intdiv(f"CAST(FLOOR({epoch_expr}) AS BIGINT)", "86400")
    return f"""
SELECT CAST({dn} AS BIGINT) AS dn_raw,
       CAST(COUNT(*) AS BIGINT) AS c,
       CAST(SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
            AS BIGINT) AS v
FROM orders WHERE o_orderdate IS NOT NULL
GROUP BY 1
"""


def _kendall_tail(daily: str, intdiv) -> str:
    half = lambda x: intdiv(x, "2")  # noqa: E731
    return f"""
WITH d AS (SELECT CAST(dn_raw AS BIGINT) AS dn, c, v FROM {daily}),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM d),
p AS (
  SELECT CAST(SUM(CASE WHEN (a.c > b.c AND a.v > b.v)
                         OR (a.c < b.c AND a.v < b.v)
                  THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN (a.c > b.c AND a.v < b.v)
                         OR (a.c < b.c AND a.v > b.v)
                  THEN 1 ELSE 0 END) AS BIGINT) AS disc
  FROM d a JOIN d b ON a.dn < b.dn
),
tx AS (
  SELECT CAST(COALESCE(SUM({half("tc * (tc - 1)")}), 0) AS BIGINT) AS tx
  FROM (SELECT COUNT(*) AS tc FROM d GROUP BY c) g
),
ty AS (
  SELECT CAST(COALESCE(SUM({half("tc * (tc - 1)")}), 0) AS BIGINT) AS ty
  FROM (SELECT COUNT(*) AS tc FROM d GROUP BY v) g
),
n0 AS (SELECT CAST({half("t.nd * (t.nd - 1)")} AS BIGINT) AS n0 FROM t)
SELECT t.nd AS n_days,
       COALESCE(p.conc, 0) AS concordant, COALESCE(p.disc, 0) AS discordant,
       tx.tx AS ties_x, ty.ty AS ties_y,
       CASE WHEN n0.n0 - tx.tx <= 0 OR n0.n0 - ty.ty <= 0
            THEN CAST(0 AS DOUBLE)
            ELSE CAST(COALESCE(p.conc, 0) - COALESCE(p.disc, 0) AS DOUBLE)
                 / (SQRT(CAST(n0.n0 - tx.tx AS DOUBLE))
                    * SQRT(CAST(n0.n0 - ty.ty AS DOUBLE)))
       END AS tau_b
FROM t CROSS JOIN p CROSS JOIN tx CROSS JOIN ty CROSS JOIN n0
"""


def _register_kendall() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _kt_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(o_orderdate AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _kendall_tail("daily", lambda a, b: f"({a}) // ({b})")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "stat_kendall_tau_daily",
        ops=(
            (
                "view",
                "kt_daily",
                _kt_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day',"
                    " CAST(o_orderdate AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
            # fail-loud rail (r11 verdict item 4): the spine^2 pair
            # join is licensed ONLY on the calendar-bounded daily
            # spine (~10 years of days ~ 3.7e3 rows, 6.7e6 pairs); a
            # caller pointing this shape at a high-cardinality key
            # spine would silently go quadratic — past 1e5 spine rows
            # (5e9 pairs) the guard raises instead.
            ("guard", "kt_spine_rows", "SELECT COUNT(*) FROM kt_daily",
             KENDALL_MAX_SPINE_ROWS),
        ),
        final=_kendall_tail("kt_daily", lambda a, b: f"({a}) DIV ({b})"),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="stats",
        doc=(
            "Kendall tau-b between daily order count and daily revenue "
            "cents: pair comparisons over the bounded staged daily "
            "spine (never the raw table), concordance decided by exact "
            "BIGINT comparisons (no overflow-prone products), integer "
            "tie corrections, tau-b as one fixed IEEE chain with "
            "all-tied margins pinned to 0 in integer space. A staged "
            "guard fails loudly past 100k spine rows — the pair join "
            "is licensed only on a calendar-bounded spine."
        ),
        tables=("orders",),
    )


_register_kendall()


# --------------------------------------------------------------------------
# Forecast backtest evaluation (round 11 late batch, queued for the
# r12 window): the smoothing/decomposition operators above PRODUCE
# forecasts; this is the eval harness that scores the two standard
# baselines every forecasting pipeline must beat — naive (yesterday)
# and seasonal-naive (same weekday last week) — on the daily-volume
# series. Per-day errors are exact integers off the staged daily
# spine (both the actual and the forecast are daily counts); MAE and
# WAPE finish as one IEEE division each over exact BIGINT sums, and
# sMAPE's per-day term 2|x-f|/(x+f) is nano-quantized before the
# order-free BIGINT sum (x, f >= 1 on the grouped spine — the
# denominator cannot be 0). Days whose lagged partner is missing are
# excluded per model (inner join on the spine), so each model reports
# its own coverage. Scale: a 2-row model spine joined to the bounded
# daily view — no raw-event shuffle.
# --------------------------------------------------------------------------


def _forecast_eval_tail(daily: str) -> str:
    term = (
        "CAST(2 AS DOUBLE) * CAST(ABS(a.x - b.x) AS DOUBLE)"
        " / CAST(a.x + b.x AS DOUBLE) * CAST(1000000000 AS DOUBLE)"
    )
    return f"""
WITH m AS (
  SELECT 1 AS lag_d, 'naive_1' AS model
  UNION ALL
  SELECT 7 AS lag_d, 'snaive_7' AS model
),
j AS (
  SELECT m.model, a.dn, a.x, b.x AS f,
         CAST(ABS(a.x - b.x) AS BIGINT) AS ae,
         CAST(FLOOR({term}) AS BIGINT) AS smape_q
  FROM m JOIN {daily} a ON 1 = 1
  JOIN {daily} b ON b.dn = a.dn - m.lag_d
)
SELECT model,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ae) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
       CAST(SUM(ae) AS DOUBLE) / CAST(SUM(x) AS DOUBLE) AS wape,
       (CAST(SUM(smape_q) AS DOUBLE) / CAST(1000000000 AS DOUBLE))
         / CAST(COUNT(*) AS DOUBLE) AS smape
FROM j
GROUP BY model
ORDER BY model
"""


def _register_forecast_eval() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _forecast_eval_tail("daily")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "events_forecast_eval",
        ops=(
            (
                "view",
                "fe_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_forecast_eval_tail("fe_daily"),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="timeseries",
        doc=(
            "Backtest scores for the naive (lag-1) and seasonal-naive "
            "(lag-7) daily-volume forecasts: exact integer per-day "
            "errors off the staged daily spine, MAE/WAPE as one IEEE "
            "division each over exact BIGINT sums, sMAPE terms "
            "nano-quantized before the order-free sum, per-model "
            "coverage from the inner spine join."
        ),
        tables=("events",),
    )


_register_forecast_eval()


# --------------------------------------------------------------------------
# Mann-Kendall trend test (round 12, queued for the r13 window): the
# Pettitt test above LOCATES a changepoint and Theil-Sen fits a slope;
# MK is the standard non-parametric "is there a monotonic trend at
# all" gate that precedes both (the WMO-recommended pairing is
# MK-for-detection + Sen-for-magnitude). S = sum over day pairs of
# sign(c_j - c_i) is decided by exact BIGINT comparisons over the
# AGGREGATED daily spine (never the raw table; the same 100k-row
# staged guard as Kendall licenses the spine^2 pair join). The
# tie-corrected variance rides integer space as var18 = 18*Var(S) =
# n(n-1)(2n+5) - sum_t t(t-1)(2t+5); z applies the +-1 continuity
# correction as one fixed IEEE chain, and the 5% two-sided trend flag
# is decided by the EXACT inversion (|S|-1)^2 * 180000 >= 38416 *
# var18 against the pinned 1.96 literal (the Pettitt discipline —
# never a cross-engine EXP/erf). Degenerates in integer space: n < 2
# or all-tied (var18 <= 0) or S = 0 pin z to 0 with flag 0.
# Overflow: S <= n(n-1)/2 = 5e9 at the guard bound, so (|S|-1)^2 and
# 38416*var18 (~7.7e19) ride DECIMAL(38,0), never BIGINT.
# --------------------------------------------------------------------------


def _mk_tail(daily: str) -> str:
    return f"""
WITH d AS (SELECT CAST(dn_raw AS BIGINT) AS dn, c FROM {daily}),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM d),
p AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN b.c > a.c THEN 1
                                WHEN b.c < a.c THEN -1 ELSE 0 END), 0)
              AS BIGINT) AS s
  FROM d a JOIN d b ON a.dn < b.dn
),
tg AS (
  SELECT CAST(COALESCE(SUM(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT)
           AS tie18
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tc FROM d GROUP BY c) g
),
v AS (
  SELECT t.nd,
         CAST(t.nd * (t.nd - 1) * (2 * t.nd + 5) - tg.tie18 AS BIGINT)
           AS var18
  FROM t CROSS JOIN tg
)
SELECT v.nd AS n_days, p.s AS s_stat, v.var18 AS var_s_x18,
       CASE WHEN v.var18 <= 0 OR p.s = 0 THEN CAST(0 AS DOUBLE)
            WHEN p.s > 0 THEN CAST(p.s - 1 AS DOUBLE)
                 / SQRT(CAST(v.var18 AS DOUBLE) / CAST(18 AS DOUBLE))
            ELSE CAST(p.s + 1 AS DOUBLE)
                 / SQRT(CAST(v.var18 AS DOUBLE) / CAST(18 AS DOUBLE))
       END AS z_stat,
       CAST(CASE WHEN v.var18 > 0 AND p.s <> 0
                      AND CAST(ABS(p.s) - 1 AS DECIMAL(19,0))
                          * CAST(ABS(p.s) - 1 AS DECIMAL(19,0))
                          * CAST(180000 AS DECIMAL(19,0))
                          >= CAST(38416 AS DECIMAL(19,0))
                             * CAST(v.var18 AS DECIMAL(19,0))
                 THEN 1 ELSE 0 END AS BIGINT) AS trend_5pct
FROM v CROSS JOIN p
"""


def _register_mann_kendall() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _kt_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(o_orderdate AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _mk_tail("daily")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "stat_mann_kendall",
        ops=(
            (
                "view",
                "mk_daily",
                _kt_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day',"
                    " CAST(o_orderdate AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
            # the same spine^2 license as stat_kendall_tau_daily
            ("guard", "mk_spine_rows", "SELECT COUNT(*) FROM mk_daily",
             KENDALL_MAX_SPINE_ROWS),
        ),
        final=_mk_tail("mk_daily"),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="stats",
        doc=(
            "Mann-Kendall monotonic-trend test on daily order counts: "
            "pair signs by exact BIGINT comparisons over the bounded "
            "staged daily spine (guarded at 100k rows), tie-corrected "
            "variance in integer space (var18 = 18*Var(S)), z with the "
            "continuity correction as one fixed IEEE chain, the 5% "
            "two-sided trend flag decided by the exact inversion "
            "against the pinned 1.96 literal; n<2 / all-tied / S=0 "
            "degenerates pinned to 0 in integer space."
        ),
        tables=("orders",),
    )


_register_mann_kendall()


# --------------------------------------------------------------------------
# Durbin-Watson statistic (round 12, queued for the r13 window): the
# ACF above reads correlation at each lag; DW is the single-number
# lag-1 serial-correlation monitor every regression-residual audit
# reports (DW ~ 2 means none, toward 0 positive, toward 4 negative).
# Run on the daily-volume deviations e_t = days*x_t - total (the
# CUSUM multiply-through idiom — exact BIGINTs, never a fractional
# mean; same overflow contract as the ACF: (days*max_x)^2 * days <
# 2^63). Successive differences pair each observed day with the
# PREVIOUS OBSERVED day in dn order (calendar gaps are treated as
# adjacent observations — documented; the spine is the observed daily
# rollup, not a gapfilled calendar), via LAG over the
# declared-single-partition seam on the bounded spine. num and den
# are exact DECIMAL(38,0) sums; DW is one IEEE division with the
# constant-series degenerate pinned to 2.0 (the no-autocorrelation
# null value) in integer space.
# --------------------------------------------------------------------------


def _dw_tail(daily: str, declared) -> str:
    return f"""
WITH tot AS (
  SELECT CAST(SUM(x) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS days
  FROM {daily}
),
e AS (
  SELECT d.dn, CAST(d.x * t.days - t.total AS DECIMAL(19,0)) AS e_q
  FROM {daily} d CROSS JOIN tot t
),
l AS (
  SELECT e_q,
         LAG(e_q) OVER (PARTITION BY __g ORDER BY dn) AS e_prev
  FROM {declared("e")}
),
s AS (
  SELECT CAST(SUM(e_q * e_q) AS DECIMAL(38,0)) AS den_q,
         CAST(SUM(CASE WHEN e_prev IS NULL THEN CAST(0 AS DECIMAL(19,0))
                       ELSE (e_q - e_prev) * (e_q - e_prev)
                  END) AS DECIMAL(38,0)) AS num_q
  FROM l
)
SELECT t.days AS n_days,
       CASE WHEN t.days < 2 OR s.den_q = 0 THEN CAST(2 AS DOUBLE)
            ELSE CAST(s.num_q AS DOUBLE) / CAST(s.den_q AS DOUBLE)
       END AS dw_stat
FROM s CROSS JOIN tot t
"""


def _register_durbin_watson() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query
    from aws_etl_spark.queries.sql_seams import duck_declared, spark_declared

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _dw_tail("daily", duck_declared)
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "stat_durbin_watson",
        ops=(
            (
                "view",
                "dw_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_dw_tail("dw_daily", spark_declared),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="timeseries",
        doc=(
            "Durbin-Watson lag-1 serial-correlation statistic of daily "
            "event volume: exact integer deviations via the CUSUM "
            "multiply-through idiom off one staged daily scan, "
            "successive observed-day differences via LAG over the "
            "declared-partition seam on the bounded spine, num/den as "
            "exact DECIMAL sums and DW one IEEE division; the "
            "constant-series degenerate pins to 2.0 (the "
            "no-autocorrelation null) in integer space."
        ),
        tables=("events",),
    )


_register_durbin_watson()


# --------------------------------------------------------------------------
# Dispersion index / Fano factor of daily volume (round 12, queued for
# the r13 window): the burstiness monitor above reads per-user gap
# irregularity; the Fano factor Var/Mean of the DAILY COUNT series is
# the fleet-level overdispersion gate — a Poisson arrival stream reads
# 1.0, and the "is traffic clumping beyond Poisson" question decides
# whether rate alerts can use sqrt(n) bands. Fully exact: with the
# integer identities num = n*sum(x^2) - (sum x)^2 and Var/Mean =
# num / ((n-1) * total), the statistic is ONE IEEE division of exact
# DECIMAL(38,0) integers, and the overdispersed flag is the exact
# integer comparison num > (n-1)*total — no quantization anywhere.
# Degenerates: n < 2 or total = 0 pin Fano to 0 with flag 0 in
# integer space. One grouped daily count reduces the corpus; the
# moment aggregation runs on the calendar-bounded spine.
# --------------------------------------------------------------------------


def _fano_sql(epoch_expr: str, intdiv) -> str:
    daily = _acf_daily_sql(epoch_expr, intdiv)
    num = (
        "CAST(n AS DECIMAL(19,0)) * ss"
        " - CAST(total AS DECIMAL(19,0)) * CAST(total AS DECIMAL(19,0))"
    )
    return f"""
WITH daily AS ({daily}),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(x), 0) AS BIGINT) AS total,
         CAST(COALESCE(SUM(CAST(x AS DECIMAL(19,0))
                           * CAST(x AS DECIMAL(19,0))), 0)
              AS DECIMAL(38,0)) AS ss
  FROM daily
)
SELECT n AS n_days,
       CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(total AS DOUBLE) / CAST(n AS DOUBLE)
       END AS mean_daily,
       CASE WHEN n < 2 OR total = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST({num} AS DOUBLE)
                 / (CAST(n - 1 AS DOUBLE) * CAST(total AS DOUBLE))
       END AS fano_factor,
       CAST(CASE WHEN n >= 2 AND total > 0
                      AND {num}
                          > CAST(n - 1 AS DECIMAL(19,0))
                            * CAST(total AS DECIMAL(19,0))
                 THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
FROM m
"""


from aws_etl_spark.queries.registry import sql_query  # noqa: E402

sql_query(
    "events_dispersion_index",
    _fano_sql(
        "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) DIV ({b})",
    ),
    oracle=_fano_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    ),
    category="timeseries",
    doc=(
        "Fano factor (dispersion index) of daily event volume: "
        "Var/Mean as ONE IEEE division of the exact integers "
        "num = n*sum(x^2) - (sum x)^2 and (n-1)*total, with the "
        "overdispersed flag decided by the exact integer comparison "
        "num > (n-1)*total (Poisson reads 1.0); n<2 / empty "
        "degenerates pinned to 0 in integer space. One grouped daily "
        "count reduces the corpus."
    ),
    tables=("events",),
)


# --------------------------------------------------------------------------
# Wilcoxon signed-rank test of week-over-week daily volume (round 12,
# queued for the r13 window): the forecast backtest above scores the
# seasonal-naive lag-7 baseline; this is the PAIRED significance test
# on the same pairing — "did this week's volume genuinely shift vs
# the same weekday last week" — the non-parametric twin of a paired
# t-test, immune to the heavy-tailed daily counts. Pairs d_t =
# x_t - x_{t-7} come from the staged daily spine's integer equi-join
# (missing lag partners drop per pair, zero differences drop per the
# standard Wilcoxon practice — both documented); |d| takes exact
# DOUBLED midranks D = 2*RANK + ties - 1 via the declared-partition
# seam on the bounded spine (the friedman/kruskal discipline). With
# W2 = sum of D over positive d (so W+ = W2/2), num2 = 2*W2 - n(n+1)
# and var48 = 2n(n+1)(2n+1) - sum_t(t^3 - t) are exact BIGINTs;
# z = (num2/4)/sqrt(var48/48) is one fixed IEEE chain (no continuity
# correction — documented), and the 5% two-sided flag is decided by
# the EXACT inversion: z^2 = (num2^2/16)/(var48/48) = 3*num2^2/var48,
# so |z| >= 1.96 <=> 3 * num2^2 * 10^4 >= 38416 * var48 (1.96^2 =
# 38416/10000) — all integers, DECIMAL(38,0) since num2 <= n^2.
# Degenerates in integer space: n = 0 pairs or var48 <= 0 pin z to 0
# with flag 0.
# --------------------------------------------------------------------------


def _wilcoxon_tail(daily: str, declared) -> str:
    return f"""
WITH d AS (
  SELECT a.dn, CAST(a.x - b.x AS BIGINT) AS diff
  FROM {daily} a JOIN {daily} b ON b.dn = a.dn - 7
  WHERE a.x <> b.x
),
r AS (
  SELECT diff,
         2 * RANK() OVER (PARTITION BY __g ORDER BY ABS(diff))
           + COUNT(*) OVER (PARTITION BY __g, ABS(diff)) - 1 AS dr
  FROM {declared("d")}
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN diff > 0 THEN dr ELSE 0 END), 0)
              AS BIGINT) AS w2
  FROM r
),
ties AS (
  SELECT CAST(COALESCE(SUM(tc * tc * tc - tc), 0) AS BIGINT) AS t3
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tc
        FROM d GROUP BY ABS(diff)) g
),
sp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_spine FROM {daily}),
v AS (
  SELECT t.n, t.w2, sp.n_spine,
         CAST(2 * t.n * (t.n + 1) * (2 * t.n + 1) - ties.t3 AS BIGINT)
           AS var48,
         CAST(2 * t.w2 - t.n * (t.n + 1) AS BIGINT) AS num2
  FROM t CROSS JOIN ties CROSS JOIN sp
)
SELECT n_spine AS n_spine_days, n AS n_pairs,
       CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE)
       END AS w_plus,
       CASE WHEN n = 0 OR var48 <= 0 THEN CAST(0 AS DOUBLE)
            ELSE (CAST(num2 AS DOUBLE) / CAST(4 AS DOUBLE))
                 / SQRT(CAST(var48 AS DOUBLE) / CAST(48 AS DOUBLE))
       END AS z_stat,
       CAST(CASE WHEN n > 0 AND var48 > 0
                      AND CAST(num2 AS DECIMAL(19,0))
                          * CAST(num2 AS DECIMAL(19,0))
                          * CAST(30000 AS DECIMAL(19,0))
                          >= CAST(38416 AS DECIMAL(19,0))
                             * CAST(var48 AS DECIMAL(19,0))
                 THEN 1 ELSE 0 END AS BIGINT) AS shift_5pct
FROM v
"""


def _register_wilcoxon() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query
    from aws_etl_spark.queries.sql_seams import duck_declared, spark_declared

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _wilcoxon_tail("daily", duck_declared)
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "stat_wilcoxon_signed_rank",
        ops=(
            (
                "view",
                "wx_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_wilcoxon_tail("wx_daily", spark_declared),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="stats",
        doc=(
            "Wilcoxon signed-rank test of week-over-week daily volume "
            "(lag-7 pairing off the staged daily spine, zero diffs "
            "dropped): exact doubled midranks of |d| via the "
            "declared-partition seam, num2/var48 exact BIGINTs, z one "
            "fixed IEEE chain (no continuity correction), the 5% flag "
            "by exact inversion (3*num2^2*1e4 >= 38416*var48); no "
            "pairs / all-tied degenerates pinned to 0 in integer "
            "space. n_spine_days rides along so sparse-calendar "
            "coverage loss (missing lag partners drop pairs) is "
            "visible in the output."
        ),
        tables=("events",),
    )


_register_wilcoxon()


# --------------------------------------------------------------------------
# Peaks-over-threshold tail profile (round 12, queued for the r13
# window): the seasonal-anomaly monitor flags per-day outliers; POT
# is the EVT-style aggregate readout capacity planning wants — "how
# often does daily volume exceed the P90, and by how much" (the mean
# excess is the empirical input to a GPD tail fit). The threshold u
# is the EXACT lower P90 order statistic of the daily counts — rank
# ceil(0.9 n) via the two-window rank spine (no percentile_cont
# float interpolation, which differs across engines) — and the
# exceedance set, mean excess, and max excess are exact integers off
# the same bounded spine, finished by single IEEE divisions.
# Degenerates: an EMPTY spine yields an EMPTY result on both engines
# (the rank-k threshold is undefined — the u leg has no row and the
# cross join collapses); a constant series reads u = x with 0
# exceedances (x > u strictly).
# --------------------------------------------------------------------------


def _pot_tail(daily: str, declared, intdiv) -> str:
    k = f"(({intdiv('9 * n', '10')}) + CASE WHEN (9 * n) % 10 = 0 THEN 0 ELSE 1 END)"
    return f"""
WITH rk AS (
  SELECT x, ROW_NUMBER() OVER (PARTITION BY __g ORDER BY x, dn) AS r
  FROM {declared(daily)}
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {daily}),
u AS (
  SELECT rk.x AS u FROM rk CROSS JOIN nn WHERE rk.r = {k}
),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exceed,
         CAST(COALESCE(SUM(d.x - u.u), 0) AS BIGINT) AS sum_excess,
         CAST(COALESCE(MAX(d.x - u.u), 0) AS BIGINT) AS max_excess
  FROM {daily} d CROSS JOIN u WHERE d.x > u.u
)
SELECT nn.n AS n_days, u.u AS threshold_p90,
       ex.n_exceed, ex.max_excess,
       CASE WHEN nn.n = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(ex.n_exceed AS DOUBLE) / CAST(nn.n AS DOUBLE)
       END AS exceed_rate,
       CASE WHEN ex.n_exceed = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(ex.sum_excess AS DOUBLE)
                 / CAST(ex.n_exceed AS DOUBLE)
       END AS mean_excess
FROM nn CROSS JOIN u CROSS JOIN ex
"""


def _register_pot() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query
    from aws_etl_spark.queries.sql_seams import duck_declared, spark_declared

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _pot_tail("daily", duck_declared, lambda a, b: f"({a}) // ({b})")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "events_pot_tail",
        ops=(
            (
                "view",
                "pot_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_pot_tail("pot_daily", spark_declared,
                        lambda a, b: f"({a}) DIV ({b})"),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="timeseries",
        doc=(
            "Peaks-over-threshold tail profile of daily volume: the "
            "threshold is the EXACT lower P90 order statistic (rank "
            "ceil(0.9 n) by (x, dn) — no cross-engine percentile "
            "interpolation), exceedance count / mean excess / max "
            "excess as exact integers off the bounded staged spine "
            "with single IEEE divisions; an empty spine reads an "
            "empty result (rank-k threshold undefined), a constant "
            "series 0 exceedances."
        ),
        tables=("events",),
    )


_register_pot()


# --------------------------------------------------------------------------
# Partial autocorrelation, lags 1-3 (round 12 late batch, queued for
# the r13 window): the ACF above confounds direct and propagated
# correlation (an AR(1) series shows acf at EVERY lag); the PACF is
# what an AR-order selection actually reads — pacf_k ~ 0 for k > p
# identifies the order. Levinson-Durbin unrolled for orders 1..3 as
# fixed IEEE chains over the three ACF ratios, which are themselves
# exact-integer quotients off the staged daily spine (the
# events_acf_daily machinery verbatim: CUSUM multiply-through
# deviations, calendar-correct integer equi-join pairing,
# missing-lag-k pairs read r_k = 0 — the ljung_box convention).
# Degenerates in exact space: a constant series (den_q = 0) pins all
# three; a zero Levinson denominator (|r1| = 1 etc.) pins that order
# and deeper to 0.
# --------------------------------------------------------------------------


def _pacf_tail(daily: str) -> str:
    lags = " UNION ALL ".join(f"SELECT {k} AS lag" for k in (1, 2, 3))
    return f"""
WITH tot AS (
  SELECT CAST(SUM(x) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS days
  FROM {daily}
),
e AS (
  SELECT d.dn, d.x * t.days - t.total AS e_q
  FROM {daily} d CROSS JOIN tot t
),
den AS (SELECT CAST(SUM(e_q * e_q) AS BIGINT) AS den_q FROM e),
lags AS ({lags}),
num AS (
  SELECT l.lag, CAST(COALESCE(SUM(a.e_q * b.e_q), 0) AS BIGINT) AS num_q
  FROM lags l
  LEFT JOIN e a ON 1 = 1
  LEFT JOIN e b ON b.dn = a.dn + l.lag
  GROUP BY l.lag
),
r AS (
  -- SUM, not MAX: a MAX(CASE ... ELSE 0) pivot silently clobbers a
  -- NEGATIVE lag sum with the 0 filler (caught by the lag-2 replay)
  SELECT
    CAST(SUM(CASE WHEN lag = 1 THEN num_q ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN lag = 2 THEN num_q ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN lag = 3 THEN num_q ELSE 0 END) AS BIGINT) AS n3
  FROM num
),
rv AS (
  SELECT t.days,
         CASE WHEN d.den_q = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(r.n1 AS DOUBLE) / CAST(d.den_q AS DOUBLE) END AS r1,
         CASE WHEN d.den_q = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(r.n2 AS DOUBLE) / CAST(d.den_q AS DOUBLE) END AS r2,
         CASE WHEN d.den_q = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(r.n3 AS DOUBLE) / CAST(d.den_q AS DOUBLE) END AS r3
  FROM r CROSS JOIN den d CROSS JOIN tot t
),
lv AS (
  -- Levinson-Durbin order 2: a22 = (r2 - r1^2)/(1 - r1^2),
  -- a21 = r1 - a22*r1; order-3 denominator 1 - a21*r1 - a22*r2
  SELECT days, r1, r2, r3,
         CAST(1 AS DOUBLE) - r1 * r1 AS den2
  FROM rv
),
lv2 AS (
  SELECT days, r1, r2, r3, den2,
         CASE WHEN den2 = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
              ELSE (r2 - r1 * r1) / den2 END AS a22
  FROM lv
),
lv3 AS (
  SELECT days, r1, r2, r3, den2, a22,
         r1 - a22 * r1 AS a21
  FROM lv2
)
SELECT days AS n_days,
       r1 AS pacf_1,
       CASE WHEN den2 = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
            ELSE a22 END AS pacf_2,
       CASE WHEN den2 = CAST(0 AS DOUBLE)
                 OR CAST(1 AS DOUBLE) - a21 * r1 - a22 * r2
                    = CAST(0 AS DOUBLE)
            THEN CAST(0 AS DOUBLE)
            ELSE (r3 - a21 * r2 - a22 * r1)
                 / (CAST(1 AS DOUBLE) - a21 * r1 - a22 * r2)
       END AS pacf_3
FROM lv3
"""


def _register_pacf() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _pacf_tail("daily")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "events_pacf_daily",
        ops=(
            (
                "view",
                "pacf_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_pacf_tail("pacf_daily"),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="timeseries",
        doc=(
            "Partial autocorrelation of daily volume at lags 1-3: "
            "Levinson-Durbin unrolled as fixed IEEE chains over the "
            "three exact-integer ACF ratios (the events_acf_daily "
            "machinery — CUSUM deviations, calendar-correct integer "
            "pairing, missing lags read 0); constant-series and "
            "zero-denominator degenerates pinned to 0 in exact space."
        ),
        tables=("events",),
    )


_register_pacf()


# --------------------------------------------------------------------------
# Day-of-week seasonal strength (round 12 late batch, queued for the
# r13 window): the decomposition query OUTPUTS the weekly component
# and the anomaly monitor flags residual outliers; this is the
# single-number "how much of daily-volume variance does the weekly
# cycle explain" gate — eta-squared of the ISO weekday factor — that
# decides whether seasonal-naive baselines and dow-adjusted alerts
# are worth running at all. The ISO weekday comes from PURE integer
# arithmetic on the epoch day ((dn + 3) % 7 + 1 — epoch day 0 is a
# Thursday), eliminating the WEEKDAY/ISODOW dialect seam entirely.
# The sums-of-squares ride the anova_f milli-quantization: per-dow
# b_q = FLOOR(1000*S_g^2/n_g) and the grand t_q = FLOOR(1000*S^2/n)
# quantize the only fractional terms before order-free integer sums;
# eta2 = GREATEST(SSB,0)/SST is one IEEE division of exact
# milli-unit integers with SST <= 0 pinned to 0.
# --------------------------------------------------------------------------


def _seasonal_strength_tail(daily: str) -> str:
    return f"""
WITH d AS (SELECT dn, ((dn + 3) % 7) + 1 AS dow, x FROM {daily}),
g AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(x) AS BIGINT) AS s_g
  FROM d GROUP BY dow
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(x), 0) AS BIGINT) AS s,
         CAST(COALESCE(SUM(x * x * 1000), 0) AS BIGINT) AS ssq_milli
  FROM d
),
b AS (
  SELECT CAST(COALESCE(SUM(CAST(FLOOR(CAST(s_g AS DOUBLE)
                                      * CAST(s_g AS DOUBLE)
                                      / CAST(n_g AS DOUBLE) * 1000)
                                AS BIGINT)), 0) AS BIGINT) AS bq_milli,
         CAST(COUNT(*) AS BIGINT) AS n_dows
  FROM g
),
f AS (
  SELECT t.n, b.n_dows,
         GREATEST(b.bq_milli
                  - CAST(FLOOR(CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
                               / CAST(t.n AS DOUBLE) * 1000) AS BIGINT),
                  CAST(0 AS BIGINT)) AS ssb_milli,
         t.ssq_milli
           - CAST(FLOOR(CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
                        / CAST(t.n AS DOUBLE) * 1000) AS BIGINT) AS sst_milli
  FROM t CROSS JOIN b
  WHERE t.n > 0
)
SELECT n AS n_days, n_dows,
       CASE WHEN sst_milli <= 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(ssb_milli AS DOUBLE) / CAST(sst_milli AS DOUBLE)
       END AS eta2_dow
FROM f
"""


def _register_seasonal_strength() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    duck_daily = _acf_daily_sql(
        "epoch(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
        lambda a, b: f"({a}) // ({b})",
    )
    duck_tail = _seasonal_strength_tail("daily")
    assert duck_tail.startswith("\nWITH ")
    staged_sql_query(
        "events_seasonal_strength",
        ops=(
            (
                "view",
                "sstr_daily",
                _acf_daily_sql(
                    "unix_timestamp(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)))",
                    lambda a, b: f"({a}) DIV ({b})",
                ),
            ),
        ),
        final=_seasonal_strength_tail("sstr_daily"),
        oracle=(
            f"WITH daily AS ({duck_daily}),\n" + duck_tail[len("\nWITH ") :]
        ),
        category="timeseries",
        doc=(
            "Day-of-week seasonal strength (eta-squared of the ISO "
            "weekday factor on daily volume): the weekday from pure "
            "integer epoch-day arithmetic ((dn+3)%7+1 — no "
            "WEEKDAY/ISODOW dialect seam), sums-of-squares "
            "milli-quantized per the anova_f idiom before order-free "
            "integer sums, eta2 = GREATEST(SSB,0)/SST one IEEE "
            "division; SST <= 0 pinned to 0."
        ),
        tables=("events",),
    )


_register_seasonal_strength()


# --------------------------------------------------------------------------
# First-order Markov transition entropy of the event-type stream
# (round 13, window slot 47): how predictable is the NEXT action
# given the current one, per current action — the sequence-level
# mix-shift monitor complementing the marginal-mix monitors
# (events_dispersion_index watches volume, this watches order).
# Per-user transitions via LAG over (user_id) partitions ordered by
# (ts, event_id) — millions of small partitions at scale, never a
# global window; the transition matrix is k x k <= ~36 cells for the
# corpus's event-type alphabet. H(next | prev=p) = sum_n (c_pn/c_p)
# * ln(c_p/c_pn), computed exactly: each ln of a count ratio is one
# fixed IEEE chain FLOOR-quantized to micro-nats (the surprisal
# idiom), multiplied by the exact BIGINT count in DECIMAL(38,0)
# (c * 1.4e7 quantized-nats overflows BIGINT past ~6e11 transitions
# per cell), summed order-free, ONE IEEE division at the end.
# Self-loop-only rows (every transition p->p) read ln(1) = 0 exactly.
# --------------------------------------------------------------------------

_MARKOV_ENTROPY_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
tr AS (
  SELECT prev, event_type AS nxt
  FROM (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM e
  ) s
  WHERE prev IS NOT NULL
),
c AS (
  SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM tr GROUP BY prev, nxt
),
w AS (
  -- row totals via prev-partitioned windows on the k x k cell table
  -- (a join back onto cp would let Catalyst re-derive the whole
  -- events chain once per consumer — measured events x3 before this
  -- single-chain form; the window keeps it ONE scan)
  SELECT prev, c,
         CAST(SUM(c) OVER (PARTITION BY prev) AS BIGINT) AS cp,
         CAST(COUNT(*) OVER (PARTITION BY prev) AS BIGINT) AS n_next
  FROM c
)
SELECT prev AS prev_type,
       MAX(cp) AS n_out, MAX(n_next) AS n_next_types,
       CAST(CAST(SUM(CAST(c AS DECIMAL(19,0))
                     * CAST(CAST(FLOOR(LN(CAST(cp AS DOUBLE)
                                          / CAST(c AS DOUBLE))
                                       * 1000000) AS BIGINT)
                            AS DECIMAL(19,0)))
                 AS DECIMAL(38,0)) AS DOUBLE)
         / CAST(MAX(cp) AS DOUBLE) / CAST(1000000 AS DOUBLE)
         AS entropy_nats
FROM w GROUP BY prev
"""

def _register_markov_entropy() -> None:
    # Registered with an explicit body instead of the plain sql_query
    # helper so the round-14 skew probe (r13 verdict item 9) can pick
    # the form at call time: a corpus whose hottest user holds >=
    # skew_probe.CHUNK_SHARE of events routes to the chunked twin
    # (oracle shared verbatim — hash-identical by the driver's own
    # proof); uniform corpora run the historical single-window text
    # unchanged. PLAIN_SQL still carries the text for the rescan lint.
    from aws_etl_spark.queries.registry import (
        PLAIN_SQL,
        register,
        register_views,
    )

    PLAIN_SQL["events_markov_entropy"] = _MARKOV_ENTROPY_SQL

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from aws_etl_spark.ops.skew_probe import pick_chunked
        from aws_etl_spark.queries.registry import REGISTRY, load_table

        events = load_table(spark, sf_dir, "events")
        if pick_chunked(events, "user_id"):
            return REGISTRY["events_markov_entropy_chunked"].fn(
                spark, sf_dir
            )
        register_views(spark, sf_dir, ("events",))
        return spark.sql(_MARKOV_ENTROPY_SQL)

    fn.__name__ = "q_events_markov_entropy"
    register(
        "events_markov_entropy",
        oracle=_MARKOV_ENTROPY_SQL,
        category="timeseries",
        doc=(
            "Per-source-type conditional entropy of the event-type "
            "transition stream: per-user LAG transitions "
            "(user-partitioned windows, no global sort), k x k bounded "
            "transition counts, H(next|prev) from micro-nat "
            "FLOOR-quantized ln ratios accumulated in DECIMAL(38,0) "
            "with one IEEE division per row; deterministic-sequence "
            "rows read exactly 0. The skew probe routes hot-key "
            "corpora to the chunked twin (shared oracle)."
        ),
        tables=("events",),
    )(fn)


_register_markov_entropy()


# --------------------------------------------------------------------------
# Chunked Markov transition entropy (round 13 late batch, queued for
# the r14 window): the skew probe measured events_markov_entropy at
# 1.5x under a 30%-hot user — AQE cannot split a WINDOW partition, so
# one user's whole history serializes on one task. This twin is the
# documented two-level-decomposition dial MADE REAL: transitions are
# recovered from (user, epoch-day) CHUNKS — LAG inside each chunk
# gives the within-day transitions, and consecutive chunks of one
# user stitch at the boundary (last event of chunk i -> first event
# of chunk i+1, chunk order via a per-user window over the BOUNDED
# chunk list, <= days rows per user, never raw events). The
# transition multiset is IDENTICAL by construction, so the query
# shares events_markov_entropy's ORACLE verbatim — the driver
# hash-proves that the skew-immune plan computes the same answer.
# The hot user's rows now split across as many tasks as active days;
# chunk granularity (day here) is the dial: hour for hotter keys.
# --------------------------------------------------------------------------

# the bounded per-user chunk list (one row per (user, active-day)) —
# STAGED as a checkpoint: the boundary stitch self-joins it, and a
# plain CTE would let Catalyst re-derive the events chain once per
# join side (registration census measured events x3; staged: x1)
_MARKOV_CHUNK_SEQ_SQL = """
SELECT user_id, first_type, last_type,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
FROM (
  SELECT user_id,
         CAST(FLOOR(CAST(ts AS DOUBLE) / 86400) AS BIGINT) AS day,
         MIN_BY(event_type, (ts, event_id)) AS first_type,
         MAX_BY(event_type, (ts, event_id)) AS last_type
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
) chunk_ends
"""

_MARKOV_CHUNKED_SQL = """
WITH within AS (
  SELECT prev, event_type AS nxt
  FROM (
    SELECT event_type,
           LAG(event_type) OVER (
             PARTITION BY user_id,
                          CAST(FLOOR(CAST(ts AS DOUBLE) / 86400) AS BIGINT)
             ORDER BY ts, event_id) AS prev
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  ) s
  WHERE prev IS NOT NULL
),
boundary AS (
  SELECT a.last_type AS prev, b.first_type AS nxt
  FROM mkc_chunk_seq a
  JOIN mkc_chunk_seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
),
tr AS (
  SELECT prev, nxt FROM within
  UNION ALL
  SELECT prev, nxt FROM boundary
),
c AS (
  SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM tr GROUP BY prev, nxt
),
w AS (
  SELECT prev, c,
         CAST(SUM(c) OVER (PARTITION BY prev) AS BIGINT) AS cp,
         CAST(COUNT(*) OVER (PARTITION BY prev) AS BIGINT) AS n_next
  FROM c
)
SELECT prev AS prev_type,
       MAX(cp) AS n_out, MAX(n_next) AS n_next_types,
       CAST(CAST(SUM(CAST(c AS DECIMAL(19,0))
                     * CAST(CAST(FLOOR(LN(CAST(cp AS DOUBLE)
                                          / CAST(c AS DOUBLE))
                                       * 1000000) AS BIGINT)
                            AS DECIMAL(19,0)))
                 AS DECIMAL(38,0)) AS DOUBLE)
         / CAST(MAX(cp) AS DOUBLE) / CAST(1000000 AS DOUBLE)
         AS entropy_nats
FROM w GROUP BY prev
"""

def _register_markov_chunked() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    staged_sql_query(
        "events_markov_entropy_chunked",
        ops=(("view", "mkc_chunk_seq", _MARKOV_CHUNK_SEQ_SQL),),
        final=_MARKOV_CHUNKED_SQL,
        # SAME oracle as events_markov_entropy: the chunked plan must
        # hash-prove it computes the identical conditional entropies
        oracle=_MARKOV_ENTROPY_SQL,
        category="timeseries",
        doc=(
            "Skew-immune twin of events_markov_entropy: transitions "
            "from (user, epoch-day) chunks — within-chunk LAG + "
            "boundary stitching over the staged bounded per-user "
            "chunk list — proven hash-identical to the "
            "single-partition form (shared oracle). The hot user's "
            "rows split across active days; chunk granularity is the "
            "skew dial."
        ),
        tables=("events",),
    )


_register_markov_chunked()
