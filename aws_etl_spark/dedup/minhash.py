"""MinHash + LSH near-duplicate detection, pure DataFrame ops.

Pipeline (one linear pass + one bucket-grouped shuffle — the 100 TB
path, cf. Broder's resemblance sketches and the MinHashLSH design in
pyspark.ml, re-implemented here over SQL arrays so it works on plain
string columns without the ml Vector detour):

1. shingle each doc (word k-grams), hash each shingle to int64
   (xxhash64), fold into [0, p) with p = 2^31 − 1;
2. n_hashes universal-hash permutations h_i(x) = (a_i·x + b_i) mod p
   (a, b fixed by seed → results reproducible across runs/engines);
   signature_i = min over shingles — one grouped pass of n_hashes
   codegen'd min() partial aggregates (map-side combine ⇒ the doc
   shuffle carries one row per doc regardless of shingle count);
3. split the signature into b bands of r rows; band key =
   (band_idx, xxhash64(band slice)); explode → capped self-join on the
   band key: docs sharing any band key are candidates
   (p(collide) = 1−(1−J^r)^b). The banded rows carry ONLY
   (doc, band, bucket) — at 100 TB, carrying each doc's shingle set
   ×bands ×2 sides through this shuffle would dominate the job;
4. verify candidates with exact shingle Jaccard: join the surviving
   (id_a, id_b) pairs — typically a tiny fraction of the corpus —
   back to the cached (doc → shingles) map, once per side, and keep
   pairs ≥ threshold.

Skew note: identical boilerplate docs create hot buckets; the group
size is capped (``max_bucket``) before pair expansion, which bounds
the quadratic blowup the same way document-frequency caps do.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_etl_spark.dedup.jaccard import jaccard_of_shingle_arrays, shingle_rows

_P = (1 << 31) - 1  # Mersenne prime; a·h stays within int64


def _perm_coeffs(n_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    rng = random.Random(seed)
    a = [rng.randrange(1, _P) for _ in range(n_hashes)]
    b = [rng.randrange(0, _P) for _ in range(n_hashes)]
    return a, b


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    return shingle_rows(df, id_col, text_col, k).select(
        "doc", "shingle", F.pmod(F.xxhash64("shingle"), F.lit(_P)).alias("h")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(doc, shingles, sig: array<bigint>[n_hashes]) per document.

    One grouped pass: n_hashes codegen'd min() partial aggregates +
    collect_set of the shingles (carried for exact verification) —
    map-side combine keeps the doc shuffle at one row per doc
    regardless of shingle count. The generated aggregate class costs
    ~2 s of one-off compile per fresh plan; an applyInPandas numpy
    variant was measured 2× slower end-to-end (the shingle strings pay
    Arrow serialization in BOTH directions), so the JVM shape stays.
    """
    a, b = _perm_coeffs(n_hashes, seed)
    hashed = _hashed_shingles(df, id_col, text_col, k)
    mins = hashed.groupBy("doc").agg(
        *[
            F.min(F.pmod(F.col("h") * F.lit(a[i]) + F.lit(b[i]), F.lit(_P))).alias(
                f"m{i}"
            )
            for i in range(n_hashes)
        ],
        F.collect_set("shingle").alias("shingles"),
    )
    sig = F.array(*[F.col(f"m{i}") for i in range(n_hashes)])
    return mins.select("doc", "shingles", sig.alias("sig"))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, exact jaccard ≥ threshold) found
    via LSH banding and verified exactly.

    The verified pair table is materialized once per process per
    (params, input) and reused by later consumers — see
    ``ops/artifacts.py`` (a fresh process computes it as before).
    NOTE this makes the first call EAGER for file-backed inputs: it
    runs the full job and writes scratch parquet, and the returned
    frame is a scan of that parquet, not the lazy pipeline.
    Plan-inspection or ``limit()``-style callers that need the lazy
    plan must set ``SPARK_GRAFT_NO_CACHE=1`` (the in-repo plan
    tests do).
    """
    if n_hashes % bands != 0:
        raise ValueError(f"n_hashes={n_hashes} not divisible by bands={bands}")
    from aws_etl_spark.ops.artifacts import materialized

    params = {"id_col": id_col, "text_col": text_col, "k": k,
              "n_hashes": n_hashes, "bands": bands, "seed": seed,
              "threshold": threshold, "max_bucket": max_bucket}
    return materialized(
        "minhash_near_dup", df, params,
        lambda: _minhash_near_dup_pairs_build(
            df, id_col, text_col, k, n_hashes, bands, seed, threshold,
            max_bucket,
        ),
    )


def _minhash_near_dup_pairs_build(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
    bands: int,
    seed: int,
    threshold: float,
    max_bucket: int,
) -> DataFrame:
    r = n_hashes // bands

    # signatures (shingle scan + 64 min-aggs) feed the banded join AND
    # the verification re-join — cache so the scan runs once
    # (multi-consumer caching policy, SURVEY.md §4)
    sigs = minhash_signatures(df, id_col, text_col, k, n_hashes, seed).cache()

    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.struct(
            i.alias("band"),
            F.xxhash64(F.concat_ws(",", F.slice(F.col("sig"), i * r + 1, r))).alias(
                "bucket"
            ),
        ),
    )
    # slim banded rows: (doc, band, bucket) ONLY — the shingle sets
    # stay out of the explode/shuffle/self-join entirely (round-1
    # scale review: carrying them ×bands ×2 sides was the one
    # shuffle that would not survive 100 TB)
    banded = (
        sigs.withColumn("bk", F.explode(band_keys))
        .select("doc", F.col("bk.band").alias("band"),
                F.col("bk.bucket").alias("bucket"))
    )

    # candidate pairs via group-and-expand (round-13 session 5 — the
    # join_fuzzy_blocked / shingle-kernel restructure): ONE hash
    # exchange groups each bucket's member set; the pathological-
    # bucket bound (boilerplate-heavy corpora) is the slice of the
    # ascending-sorted set — identical retention to the historical
    # row_number().over(bucket ORDER BY doc) <= max_bucket cap (each
    # doc appears once per band, so the set IS the bucket) — and
    # pairs expand in-bucket with id_a < id_b structural. The
    # previous shape shuffled the banded rows for the window cap,
    # then self-joined (a second shuffle + the join) for the same
    # pair set.
    pairs = (
        banded.groupBy("band", "bucket")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("doc")), 1, max_bucket
            ).alias("ks")
        )
        .filter(F.size("ks") >= 2)
        .select(F.posexplode("ks").alias("i", "id_a"), "ks")
        .select(
            "id_a",
            F.explode(F.expr("slice(ks, i + 2, size(ks))")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])  # same pair from multiple bands
    )

    # exact verification: re-join the surviving pairs (a tiny fraction
    # of the corpus) to the cached doc→shingles map, once per side
    shingle_map = sigs.select("doc", "shingles")
    verified = (
        pairs.join(shingle_map.withColumnRenamed("doc", "id_a")
                   .withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(shingle_map.withColumnRenamed("doc", "id_b")
              .withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn(
            "jaccard", jaccard_of_shingle_arrays(F.col("sh_a"), F.col("sh_b"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified
