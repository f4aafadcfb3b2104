"""Event-time queries over the events table (SURVEY.md §2.10).

Each registered query runs the BATCH formulation of a streaming
transformation (the functions in aws_etl_spark.streaming are
input-agnostic); the genuinely-streaming execution (readStream +
watermark + AvailableNow) of the same functions is exercised in
tests/test_streaming.py, where the streaming result is asserted equal
to the batch result — a stronger check than an oracle can express.

Oracle notes: events.ts is TIMESTAMP(NANOS) in parquet; Spark reads
micros (DIV 1000), so oracles CAST(ts AS TIMESTAMP) to truncate to
micros identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_spark.ops.asof import asof_join
from aws_etl_spark.queries.registry import (
    load_table,
    normalize_timestamps,
    register,
)
from aws_etl_spark.streaming.sessions import session_rollup
from aws_etl_spark.streaming.windows import sliding_window_avg, tumbling_counts

_TUMBLING_ORACLE = """
SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register(
    "events_tumbling_hourly",
    oracle=_TUMBLING_ORACLE,
    category="streaming",
    tables=("events",),
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time window: count + exact value sum."""
    return tumbling_counts(load_table(spark, sf_dir, "events"), window="1 hour")


_SLIDING_ORACLE = """
WITH e AS (
  SELECT event_type,
         DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h
  FROM events
),
w AS (
  SELECT event_type, UNNEST([h, h - INTERVAL 1 HOUR]) AS window_start FROM e
)
SELECT window_start, event_type, COUNT(*) AS n
FROM w GROUP BY 1, 2
"""


@register(
    "events_sliding_window",
    oracle=_SLIDING_ORACLE,
    category="streaming",
    tables=("events",),
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h windows (each event lands in two windows)."""
    return sliding_window_avg(
        load_table(spark, sf_dir, "events"), window="2 hours", slide="1 hour"
    )


_SESSION_ORACLE = """
WITH s AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) >
                   LAG(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
g AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM s
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM g GROUP BY user_id, session_seq
"""


@register(
    "events_sessionization",
    oracle=_SESSION_ORACLE,
    category="streaming",
    tables=("events",),
)
def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (30 min) sessionization + per-session rollup.

    Round-14 (r13 verdict item 9): the skew probe picks the form —
    a corpus whose hottest user holds >= ``skew_probe.CHUNK_SHARE``
    (20%) of events routes to the chunked twin
    (events_sessionization_chunked — shares this query's oracle
    verbatim, so the result is hash-identical by the driver's own
    proof); uniform corpora keep the historical single-window plan.
    AQE splits skewed JOIN partitions but never WINDOW partitions,
    so this call-time dial is the only seam that fixes the hot-user
    straggler (measured 2.7x under a 90%-hot key in the r13 study).
    """
    from aws_etl_spark.ops.skew_probe import pick_chunked

    events = load_table(spark, sf_dir, "events")
    if pick_chunked(events, "user_id"):
        from aws_etl_spark.queries.registry import REGISTRY

        return REGISTRY["events_sessionization_chunked"].fn(spark, sf_dir)
    return session_rollup(events, gap_minutes=30)


_ASOF_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'purchase'
),
signups AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS signup_event
  FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       s.ts AS asof_ts, s.signup_event AS asof_signup_event
FROM purchases p
ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND s.ts <= p.ts
"""


@register(
    "events_asof_join",
    oracle=_ASOF_ORACLE,
    category="streaming",
    tables=("events",),
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase ↔ latest prior signup of the user
    (union-sort implementation; DuckDB native ASOF JOIN as oracle)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = ev.filter("event_type = 'signup'").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    return asof_join(
        purchases, signups, on=["user_id"], ts_col="ts",
        right_value_cols=["signup_event"],
    )


@register(
    "events_stream_live_tumbling",
    oracle=None,  # executes a REAL readStream (AvailableNow) — batch
    # equivalence is oracle-checked via events_tumbling_hourly and
    # asserted directly in tests/test_streaming.py
    category="streaming",
    tables=("events",),
    bench=False,  # timing a stream spin-up is not comparable to a query
)
def q_stream_live_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine Structured Streaming execution: file-source readStream
    over the events parquet, watermarked tumbling counts, AvailableNow
    trigger into a memory sink; returns the sink table."""
    import uuid

    from aws_etl_spark.streaming.windows import tumbling_counts

    # the stream must use the RAW file schema; normalize ts to
    # TimestampType stream-side the same way load_table does batch-side
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file streams need a DIRECTORY source; glob-filter the single
    # events parquet out of the sf dir
    stream = normalize_timestamps(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = tumbling_counts(stream, window="1 hour", watermark="2 hours")
    name = f"live_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "events_stream_closed_sessions",
    oracle=None,  # real readStream + applyInPandasWithState; batch
    # equivalence (sessions emitted exactly once, on close) is
    # asserted in tests/test_streaming.py against session_rollup
    category="streaming",
    tables=("events",),
    bench=False,  # stream spin-up timing is not comparable to a query
)
def q_stream_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine stateful streaming: gap-sessionizer with EVENT-TIME
    timeout (applyInPandasWithState) over a file-source readStream —
    sessions emit exactly once when the watermark closes them."""
    import uuid

    from aws_etl_spark.streaming.stateful import closed_sessions

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_timestamps(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    out = closed_sessions(
        stream.select("user_id", "event_id", "ts", "value")
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "docs_stream_neardup_filter",
    oracle=None,  # real readStream + foreachBatch incremental SimHash
    # filter; the emitted-set invariant (pairwise Hamming > d, store
    # consistency, cross-batch drops) is asserted in tests/test_corpus.py
    category="streaming",
    tables=("documents",),
    bench=False,  # stream spin-up timing is not comparable to a query
)
def q_stream_neardup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate filter: file-source readStream over the
    documents parquet through the incremental SimHash dedup
    (foreachBatch + persistent signature store); returns the surviving
    documents. The reference appends blindly every daily run
    (etl_aws_vini.py); this is the §2.13 streaming-ingest dedup path."""
    import shutil
    import tempfile

    from aws_etl_spark.streaming.neardup_stream import near_dup_filter_stream

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    work = tempfile.mkdtemp(prefix="neardup_stream_")
    try:
        q = near_dup_filter_stream(
            stream,
            store_path=f"{work}/store",
            out_path=f"{work}/out",
            checkpoint_path=f"{work}/ckpt",
        )
        q.awaitTermination()
        out = spark.read.parquet(f"{work}/out").orderBy("doc_id")
        # materialize before the workdir disappears
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "events_stream_heavy_hitters",
    oracle=None,  # Misra-Gries sketch state: not SQL-expressible; the
    # under-estimate + error-bound contract vs exact batch counts is
    # pinned in tests/test_streaming.py
    category="streaming",
    tables=("events",),
    bench=False,  # stream spin-up timing is not comparable to a query
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequent-items: sharded Misra-Gries summaries held in
    applyInPandasWithState state (bounded counters per shard — NOT
    O(distinct keys)), merged associatively and top-k'd at read time."""
    import uuid

    from aws_etl_spark.streaming.heavy_hitters import (
        merge_shard_summaries,
        streaming_heavy_hitters,
    )

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_timestamps(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    summaries = streaming_heavy_hitters(
        stream.select("event_type", "user_id")
    )
    name = f"hh_{uuid.uuid4().hex[:8]}"
    q = (
        summaries.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return merge_shard_summaries(spark.table(name))


_HH_EXACT_ORACLE = """
SELECT event_type, CAST(rank AS BIGINT) AS rank, user_id, est_count
FROM (
  SELECT event_type, user_id, COUNT(*) AS est_count,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY COUNT(*) DESC, user_id) AS rank
  FROM events GROUP BY event_type, user_id
) t
WHERE rank <= 5
"""


@register(
    "events_stream_heavy_hitters_exact",
    oracle=_HH_EXACT_ORACLE,
    category="streaming",
    tables=("events",),
    bench=False,  # stream spin-up timing is not comparable to a query
)
def q_stream_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through the SAME applyInPandasWithState machinery
    as ``events_stream_heavy_hitters``, run in the exact regime:
    ``capacity`` is DERIVED from the data — max distinct users over
    any (event_type, shard) plus a margin, computed by a cheap batch
    pre-pass using the same pmod shard key — so Misra-Gries never
    decrements at ANY scale factor the sweep runs, every counter
    equals the true count, and the merged top-k is plain SQL. (A fixed
    capacity held only while per-shard distincts stayed under it —
    188 < 256 at sf0.1 — and a bigger sweep scale would have broken
    the gate even though the code was correct; advice item.)

    This is the pagerank_exact trick applied to streaming state: the
    approximation's error dial is parked at zero so a DuckDB oracle can
    hash-verify the full streaming path (readStream → sharded state fn
    → snapshot dedup → associative merge → top-k). The error-bounded
    regime of the very same code is pinned separately by the
    tests/test_streaming.py error-contract test."""
    import uuid

    from aws_etl_spark.streaming.heavy_hitters import (
        merge_shard_summaries,
        streaming_heavy_hitters,
    )

    n_shards = 8
    batch = load_table(spark, sf_dir, "events")
    max_distinct = (
        batch.groupBy(
            "event_type", F.pmod(F.col("user_id"), F.lit(n_shards)).alias("shard")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .agg(F.max("n"))
        .first()[0]
        or 0
    )
    capacity = int(max_distinct) + 32  # margin: exact regime guaranteed

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_timestamps(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    summaries = streaming_heavy_hitters(
        stream.select("event_type", "user_id"), n_shards=n_shards, capacity=capacity
    )
    name = f"hhx_{uuid.uuid4().hex[:8]}"
    q = (
        summaries.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = merge_shard_summaries(spark.table(name))
    return merged.withColumn("rank", F.col("rank").cast("bigint"))


_ATTRIBUTION_ORACLE = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
),
a AS (
  SELECT p.purchase_id,
         COUNT(*) AS n_clicks,
         MIN(c.click_ts) AS first_click_ts,
         MAX(c.click_ts) AS last_click_ts
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.click_ts <= p.ts
   AND c.click_ts >= p.ts - INTERVAL 15 MINUTE
  GROUP BY p.purchase_id
)
SELECT p.purchase_id, p.user_id, p.ts,
       CAST(COALESCE(a.n_clicks, 0) AS BIGINT) AS n_clicks,
       a.first_click_ts, a.last_click_ts
FROM p LEFT JOIN a USING (purchase_id)
"""


@register(
    "events_click_attribution",
    oracle=_ATTRIBUTION_ORACLE,
    category="streaming",
    tables=("events",),
)
def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: for every purchase, all of the
    user's clicks in the preceding 15 minutes (count + first/last) —
    the batch twin of streaming/windows.py's
    ``stream_stream_interval_join`` (click-joins-impression shape;
    the streaming path is exercised in tests/test_streaming.py, this
    entry hash-proves the interval semantics).

    Unlike the as-of join (latest single match), attribution needs
    EVERY click in the interval, so the plan is a (user, time-bin)
    bucketed equi-join (shared scaffolding:
    :func:`_attributed_click_pairs`). Cost is linear in events per
    (user, bin) — never the quadratic per-user cross product, and AQE
    skew-split covers hot users."""
    p, matched_pairs = _attributed_click_pairs(spark, sf_dir)
    matched = matched_pairs.groupBy("purchase_id").agg(
        F.count("*").alias("n_clicks"),
        F.min("click_ts").alias("first_click_ts"),
        F.max("click_ts").alias("last_click_ts"),
    )
    return p.join(matched, "purchase_id", "left").select(
        "purchase_id",
        "user_id",
        F.col("purchase_ts").alias("ts"),
        F.coalesce(F.col("n_clicks"), F.lit(0)).cast("bigint").alias("n_clicks"),
        "first_click_ts",
        "last_click_ts",
    )


def _attributed_click_pairs(spark: SparkSession, sf_dir: str):
    """Shared scaffolding for the attribution family: (purchases,
    matched (purchase, click) pairs within the 15-minute window).

    (user, time-bin) bucketed equi-join: a purchase's interval
    [ts − 900 s, ts] spans exactly 2 consecutive 900 s bins of the
    TRUNCATED epochs (floor is monotone and the width integral:
    ct ≥ pt − 900 ⇒ floor(ct) ≥ floor(pt) − 900 ⇒ the click's bin is
    ≥ floor((⌊pt⌋ − 900)/900) — no extra margin bin needed); each
    click lands in one bin, so no pair dedup. The exact timestamp
    predicate prunes bin-superset matches."""
    _W = 900  # 15 min, in seconds
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").cast("decimal(18,2)").alias("value"),
        F.unix_timestamp("ts").alias("__pe"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.floor(F.unix_timestamp("ts") / _W).alias("bin"),
    )
    pb = p.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor((F.col("__pe") - _W) / _W).cast("long"),
                F.floor(F.col("__pe") / _W).cast("long"),
            )
        ),
    )
    matched = pb.join(c, (pb.user_id == c.c_user) & (pb.bin == c.bin)).filter(
        (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 15 MINUTES")
        )
    )
    return p, matched


@register(
    "events_stream_click_attribution_live",
    oracle=None,  # executes a REAL watermarked stream-stream join —
    # interval semantics are hash-proven by the batch twin
    # events_click_attribution; stream/batch equivalence asserted in
    # tests/test_streaming.py::test_stream_stream_interval_join
    category="streaming",
    tables=("events",),
    bench=False,  # stream spin-up timing is not comparable to a query
)
def q_stream_click_attribution_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine stream-stream join execution: clicks and purchases as
    two watermarked file-source readStreams, interval inner join
    (click in [purchase.ts − 15 min, purchase.ts] per user) with
    bounded state (both sides GC'd past the watermark+interval bound),
    AvailableNow into a memory sink. The only join shape that is safe
    on two unbounded streams — the 100 TB streaming path for the
    batch attribution query."""
    import uuid

    from aws_etl_spark.streaming.windows import stream_stream_interval_join

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def tstream():
        return normalize_timestamps(
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    clicks = tstream().filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = tstream().filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    joined = stream_stream_interval_join(
        clicks,
        purchases,
        key="user_id",
        ts_col="ts",
        watermark="30 minutes",
        max_lag="15 minutes",
    )
    name = f"attr_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_MULTITOUCH_ORACLE = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
         CAST(value AS DECIMAL(18,2)) AS value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
),
m AS (
  SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_ts, c.click_ts,
         p.value,
         COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_clicks
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts >= p.purchase_ts - INTERVAL 15 MINUTE
)
SELECT purchase_id, click_id, user_id, purchase_ts, click_ts,
       CAST(n_clicks AS BIGINT) AS n_clicks,
       CAST(value AS DOUBLE) / n_clicks AS credit
FROM m
"""


@register(
    "events_attribution_multitouch",
    oracle=_MULTITOUCH_ORACLE,
    category="streaming",
    tables=("events",),
)
def q_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across its in-window clicks — one credited row per
    (purchase, click). Determinism note: the credit is a PER-ROW
    double division (decimal-exact value ÷ bigint count, IEEE-
    identical across engines); the query deliberately does NOT sum
    credits (summing doubles is partition-order-dependent — a
    downstream consumer sums the decimal value and credit fractions
    instead). Shares :func:`_attributed_click_pairs`'s (user,
    time-bin) bucketed equi-join with events_click_attribution; the
    per-purchase click count is a window over the matched pairs,
    partitioned by purchase — parallelism grows with purchases."""
    from pyspark.sql import Window

    _, matched = _attributed_click_pairs(spark, sf_dir)
    w = Window.partitionBy("purchase_id")
    return matched.select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        F.count("*").over(w).cast("bigint").alias("n_clicks"),
        (
            F.col("value").cast("double") / F.count("*").over(w)
        ).alias("credit"),
    )


# ---------------------------------------------------------------------------
# Chunked sessionization (round 13 late batch, queued for the r14
# window): the skew probe's SECOND exposed operator —
# events_sessionization's per-user window serializes a hot user's
# whole history on one task. Same cure as the chunked Markov twin,
# harder stitch: sessions can SPAN chunk boundaries (and chain across
# many chunks), so per-(user, epoch-day)-chunk local sessionization
# is followed by a prefix-sum RENUMBERING over the bounded per-user
# chunk list — chunk i connects to chunk i-1 iff its first event is
# within the gap of chunk i-1's last event; global session id =
# (sessions in earlier chunks) - (connections up to and including
# this chunk) + local id, which gives connected fragments the SAME
# id (inductively, across arbitrary chains); a final
# (user, global id) rollup merges fragments with MIN/MAX/SUM. The
# per-chunk-session rollup is STAGED (the summary pass and the
# renumbering join would otherwise re-derive the events chain).
# Shares events_sessionization's ORACLE verbatim: the driver
# hash-proves the splittable plan computes identical sessions.
# ---------------------------------------------------------------------------

_SESS_CS_SQL = """
SELECT user_id, day, s,
       MIN(ts) AS fstart, MAX(ts) AS fend,
       CAST(COUNT(*) AS BIGINT) AS fn,
       SUM(CAST(value AS DECIMAL(18,2))) AS fval
FROM (
  SELECT user_id, day, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS s
  FROM (
    SELECT user_id, event_id, value,
           CAST(ts AS TIMESTAMP) AS ts,
           CAST(FLOOR(CAST(ts AS DOUBLE) / 86400) AS BIGINT) AS day,
           CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                  OR CAST(ts AS TIMESTAMP) >
                     LAG(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (
      PARTITION BY user_id,
                   CAST(FLOOR(CAST(ts AS DOUBLE) / 86400) AS BIGINT)
      ORDER BY CAST(ts AS TIMESTAMP), event_id)
  ) flags
) numbered
GROUP BY user_id, day, s
"""

_SESS_CHUNKED_FINAL = """
WITH chunk AS (
  SELECT user_id, day,
         CAST(MAX(s) AS BIGINT) AS k,
         MIN(fstart) AS first_ts, MAX(fend) AS last_ts
  FROM sess_cs GROUP BY user_id, day
),
seq AS (
  SELECT user_id, day,
         COALESCE(SUM(k) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prefix_k,
         SUM(CASE WHEN LAG(last_ts) OVER (PARTITION BY user_id
                                          ORDER BY day) IS NOT NULL
                   AND first_ts <= LAG(last_ts) OVER (PARTITION BY user_id
                                                      ORDER BY day)
                       + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS pc_incl
  FROM chunk
)
SELECT cs.user_id,
       CAST(seq.prefix_k - seq.pc_incl + cs.s AS BIGINT) AS session_seq,
       MIN(cs.fstart) AS session_start,
       MAX(cs.fend) AS session_end,
       CAST(SUM(cs.fn) AS BIGINT) AS n_events,
       CAST(SUM(cs.fval) AS DOUBLE) AS session_value
FROM sess_cs cs
JOIN seq ON seq.user_id = cs.user_id AND seq.day = cs.day
GROUP BY cs.user_id, seq.prefix_k - seq.pc_incl + cs.s
"""


def _register_sessionization_chunked() -> None:
    from aws_etl_spark.queries.registry import staged_sql_query

    staged_sql_query(
        "events_sessionization_chunked",
        ops=(("view", "sess_cs", _SESS_CS_SQL),),
        final=_SESS_CHUNKED_FINAL,
        # SAME oracle as events_sessionization — the hash gate proves
        # plan equivalence of the skew-splittable form
        oracle=_SESSION_ORACLE,
        category="streaming",
        doc=(
            "Skew-immune twin of events_sessionization: per-(user, "
            "epoch-day)-chunk local sessions + a prefix-sum "
            "renumbering over the staged bounded chunk list (chained "
            "cross-chunk sessions merge inductively), fragments "
            "rolled up by global id — proven hash-identical to the "
            "single-partition form (shared oracle). Chunk "
            "granularity is the skew dial."
        ),
        tables=("events",),
    )


_register_sessionization_chunked()
