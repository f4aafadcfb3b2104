"""Key-skew probe: choose between a window-partitioned form and its
chunked (skew-splittable) twin at call time.

The round-13 skew study (tools/skew_study.py, SKEW_PCT=90) measured
the two exposed window operators — sessionization and Markov
transitions — at 1.5-2.7x under a hot key (AQE splits skewed JOIN
partitions, never WINDOW partitions: one user's whole history
serializes on one task), while their chunked twins
(events_*_chunked, oracle-shared so hash-proven identical) win 2.7x
there but cost ~1.8x on uniform data (the extra chunk-stitch pass).
Neither form dominates, so the right form is a DATA property — this
probe measures it: one map-side-combined count of the hottest key's
row share (the ``ops/scale.py::hot_keys`` survey reduced to a single
scalar), held in the process memo (``ops/artifacts.py::memo``) so
one bench/driver session pays it once per corpus however many
queries consult it.

``CHUNK_SHARE`` (0.20) is the dial: a single key holding at least
that share of rows routes the query to its chunked twin. 1.0
disables chunking outright; 0 forces it (the equivalence tests patch
both ends). ``MIN_ROWS`` (1,000,000) is the engagement floor: below
it the historical plan always runs — a "hot" key over a few thousand
rows is not a straggler (one task finishes it in milliseconds), and
tiny crafted corpora are trivially share-skewed (any 6-row fixture
has a >=50% key), so a share test alone would silently reroute every
edge-fixture differential. ``MIN_BYTES`` (64 MB) skips the probe job
itself on small inputs. On the uniform bench corpus the probe always
picks the historical plan, so declared results AND plans are
unchanged there; the probe's own cost is the one counted aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHUNK_SHARE = 0.20
MIN_ROWS = 1_000_000
# ≈ 2M event rows: below it the probe job itself is skipped — a pure
# os.stat decision, so small corpora (every local bench/test scale)
# pay nothing. A corpus this small cannot clear MIN_ROWS either.
MIN_BYTES = 64 << 20


def hot_key_share(df: DataFrame, key: str) -> tuple[float, int]:
    """(row share of the single hottest ``key`` value, total rows).

    One groupBy count + one tiny agg — map-side combined, linear in
    the input, no join. Memoized on the artifact-store input key
    (canonicalized plan + file stats), so it re-runs when the data
    changes and is free for the second consumer in a session.
    """
    from aws_etl_spark.ops.artifacts import memo

    def build() -> tuple[float, int]:
        row = (
            df.groupBy(key)
            .count()
            .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
            .collect()[0]
        )
        tot = int(row.tot or 0)
        return (float(row.mx) / tot, tot) if tot else (0.0, 0)

    return memo(f"hot_key_share:{key}", df, {}, build)


def _input_bytes(df: DataFrame) -> int | None:
    """Total size of the local input files, or None when unknowable
    (remote schemes, in-memory relations) — unknown means 'probe'."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        local = f
        if local.startswith("file:"):
            local = unquote(urlparse(local).path)
        try:
            total += os.stat(local).st_size
        except OSError:
            return None  # non-local scheme — let the probe run
    return total


def pick_chunked(df: DataFrame, key: str) -> bool:
    """True when the chunked (skew-splittable) twin should run."""
    if CHUNK_SHARE <= 0.0:
        return True
    if CHUNK_SHARE >= 1.0:
        return False
    size = _input_bytes(df)
    if size is not None and size < MIN_BYTES:
        return False  # no Spark job spent: nothing this small straggles
    share, tot = hot_key_share(df, key)
    return tot >= MIN_ROWS and share >= CHUNK_SHARE
