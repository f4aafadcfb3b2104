"""Cross-validation of the sketch-based dedup paths against the exact
path (the sketches have no SQL oracle — this is their correctness
gate, per queries/dedup_queries.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_etl_spark.dedup import (
    dedup_exact,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from aws_etl_spark.queries.registry import load_table


def test_minhash_pairs_subset_of_exact_with_high_recall(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    assert lsh <= exact  # verify stage guarantees no false positives
    assert len(exact) > 0
    # Corpus-specific pin: the synthetic near-dup pairs are high-Jaccard
    # enough that 16×4 banding catches every one (verified by hand at
    # sf0.01 and sf0.1 too). dedup_clusters_cc's exact-SQL oracle
    # RELIES on this — it feeds the CC from LSH candidates while the
    # oracle recomputes pairs exactly. If this ever fails on new test
    # data, raise bands (recall) before touching the oracle.
    assert lsh == exact, (
        f"LSH recall {len(lsh)}/{len(exact)} < 1.0 on the test corpus; "
        "dedup_clusters_cc's oracle depends on full recall here"
    )


def test_minhash_deterministic_across_runs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(
        map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect())
    )
    b = sorted(
        map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect())
    )
    assert a == b


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_distance=3).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in pairs} == {(1, 2, 0)}


def test_dedup_exact_survivor_is_min(spark):
    df = spark.createDataFrame(
        [(5, "x", "a"), (2, "x", "a"), (9, "y", "b")], ["id", "c1", "c2"]
    )
    out = dedup_exact(df, ["c1", "c2"], "id")
    assert {r.id for r in out.collect()} == {2, 9}
    out_max = dedup_exact(df, ["c1", "c2"], "id", keep="max")
    assert {r.id for r in out_max.collect()} == {5, 9}


def test_dedup_exact_no_separator_ambiguity(spark):
    # ("a b", "c") must not collide with ("a", "b c")
    df = spark.createDataFrame([(1, "a b", "c"), (2, "a", "b c")], ["id", "c1", "c2"])
    assert dedup_exact(df, ["c1", "c2"], "id").count() == 2


def test_minhash_plan_has_no_python_udf(spark, sf_dir, monkeypatch):
    # disable the pair cache: this pins the PIPELINE's plan, not a
    # parquet read-back of a memoized result
    monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", "1")
    docs = load_table(spark, sf_dir, "documents")
    plan = minhash_near_dup_pairs(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan



def test_minhash_band_join_carries_no_shingles_measured(spark, sf_dir, monkeypatch):
    """Quantitative pin of the round-2 restructure: total shuffle
    volume of the full LSH pipeline stays within a small multiple of
    ONE doc→shingles aggregation (the unavoidable linear cost). The
    pre-restructure plan carried each doc's shingle set through the
    band self-join ×bands ×2 sides — an order of magnitude more."""
    # disable the pair cache so the measurement sees the pipeline,
    # not a parquet read-back of a memoized result
    monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", "1")
    from aws_etl_spark.dedup.minhash import (
        minhash_near_dup_pairs,
        minhash_signatures,
    )
    from aws_etl_spark.plans import executed_shuffle_bytes
    from aws_etl_spark.queries.registry import load_table

    # earlier tests cache the identical signatures plan; a cache hit
    # would read zero shuffle bytes and void the measurement
    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    base = executed_shuffle_bytes(
        minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=64)
    )
    full = executed_shuffle_bytes(
        minhash_near_dup_pairs(
            docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5
        )
    )
    assert base > 0
    assert full < 3 * base, (full, base)


def test_pagerank_matches_exact_power_iteration(spark, sf_dir):
    """Distributed PageRank must agree with an exact driver-side power
    iteration (same damping/iterations) to float tolerance, and ranks
    must sum to ~1."""
    from aws_etl_spark.dedup.minhash import minhash_near_dup_pairs
    from aws_etl_spark.dedup.pagerank import DAMPING, N_ITER, pagerank
    from aws_etl_spark.queries.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    got = {r.node: r.rank for r in pagerank(pairs).collect()}
    assert got, "empty dup graph in fixture"
    assert abs(sum(got.values()) - 1.0) < 1e-9

    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    n = len(adj)
    ranks = {u: 1.0 / n for u in adj}
    for _ in range(N_ITER):
        contrib = {u: 0.0 for u in adj}
        for u, nbrs in adj.items():
            share = ranks[u] / len(nbrs)
            for v in nbrs:
                contrib[v] += share
        ranks = {u: (1 - DAMPING) / n + DAMPING * contrib[u] for u in adj}
    assert set(got) == set(ranks)
    for u in ranks:
        assert abs(got[u] - ranks[u]) <= 1e-9 + 1e-6 * abs(ranks[u]), u


def test_quantized_pagerank_tracks_float(spark, sf_dir):
    """The oracle-able integer-unit PageRank must agree with the float
    variant to quantization tolerance (1e-9 of rank mass per node)."""
    from aws_etl_spark.dedup.minhash import minhash_near_dup_pairs
    from aws_etl_spark.dedup.pagerank import Q_SCALE, pagerank, pagerank_quantized
    from aws_etl_spark.queries.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    fl = {r.node: r.rank for r in pagerank(pairs).collect()}
    qz = {r.node: r.rank_q / Q_SCALE for r in pagerank_quantized(pairs).collect()}
    assert set(fl) == set(qz)
    for n in fl:
        assert abs(fl[n] - qz[n]) < 1e-7, (n, fl[n], qz[n])


def test_oversize_bucket_count_detects_truncation(spark):
    """The banded Hamming join's max_bucket cap silently truncates
    degenerate buckets; oversize_bucket_count is the audit that lets
    exact-parity callers detect it (advice item). 0 oversize buckets
    ⇒ banded result is exact; an oversize bucket ⇒ pairs were
    dropped."""
    from pyspark.sql import functions as F

    from aws_etl_spark.dedup.simhash import (
        hamming_near_dup_pairs,
        oversize_bucket_count,
    )

    # 12 identical signatures: every bucket holds 12 members
    sigs = spark.range(12).select(
        F.col("id").alias("doc"), F.lit(0).cast("long").alias("simhash")
    )
    assert oversize_bucket_count(sigs, max_bucket=1000) == 0
    assert oversize_bucket_count(sigs, max_bucket=5) == 4  # all 4 chunks

    # with the cap at 5, only the 5 lowest ids survive per bucket:
    # C(5,2)=10 pairs instead of C(12,2)=66 — truncation is real, and
    # the audit flagged it
    n_capped = hamming_near_dup_pairs(sigs, max_bucket=5).count()
    n_full = hamming_near_dup_pairs(sigs, max_bucket=1000).count()
    assert (n_capped, n_full) == (10, 66)


def test_simhash_banded_equals_bruteforce(spark, sf_dir):
    """SimHash text near-dup: the banded Hamming join over real
    document signatures finds EXACTLY the pairs a brute-force
    all-pairs scan finds — with the exactness precondition (zero
    truncated buckets) ASSERTED via oversize_bucket_count rather than
    assumed (advice item: the pin silently relied on test-scale
    buckets staying under the cap)."""
    from itertools import combinations

    from aws_etl_spark.dedup.simhash import (
        hamming_near_dup_pairs,
        oversize_bucket_count,
        simhash_signature,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = simhash_signature(docs, "doc_id", "text").cache()
    assert oversize_bucket_count(sigs) == 0, (
        "banded==brute precondition violated: oversize bucket(s) truncated"
    )
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_dup_pairs(sigs, max_distance=3).collect()
    }
    local = {r.doc: r.simhash for r in sigs.collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    brute = {
        (a, b): ham(local[a], local[b])
        for a, b in combinations(sorted(local), 2)
        if ham(local[a], local[b]) <= 3
    }
    assert banded == brute


def test_shingle_words_short_docs(spark):
    """The shingle index stream must be EMPTY for docs shorter than k
    tokens — sequence(1, greatest(n-k+1, 0)) steps DOWN to [1, 0] on
    short docs and slice(words, 0, k) raises
    INVALID_PARAMETER_VALUE.START (advice item, verified live before
    the guard)."""
    from pyspark.sql import functions as F

    from aws_etl_spark.dedup.jaccard import shingle_words

    rows = [("", ), ("one",), ("one two",), ("one two three",),
            ("a b c d",)]
    df = spark.createDataFrame(rows, ["text"])
    out = [r.sh for r in df.select(shingle_words(F.col("text")).alias("sh")).collect()]
    assert out == [[], [], [], ["one two three"], ["a b c", "b c d"]]


def test_pair_explain_and_novelty_sql_survive_short_docs(spark):
    """The registry SQL for dedup_pair_explain / text_ngram_novelty
    shares the guarded shingle idiom: short/empty documents must yield
    zero shingles, not an INVALID_PARAMETER_VALUE.START abort, and the
    guarded Spark side must still match the DuckDB oracle on a corpus
    that CONTAINS short docs (the synthetic tables never do — this is
    the latent-hazard pin)."""
    import duckdb
    import pandas as pd

    from aws_etl_spark.oracle import canonical_rows
    from aws_etl_spark.queries.dedup_queries import (
        _PAIR_EXPLAIN_DUCK,
        _PAIR_EXPLAIN_FINAL,
        _PAIR_EXPLAIN_TOK,
    )

    # the staged registry form, recomposed as the equivalent single
    # statement (same expressions; the stage split is a plan-shape
    # optimization, not a semantic change)
    _PAIR_EXPLAIN_SPARK = (
        f"WITH pair_tok AS ({_PAIR_EXPLAIN_TOK}),\n"
        + _PAIR_EXPLAIN_FINAL.lstrip()[len("WITH ") :]
    )
    from aws_etl_spark.queries.llm_text import _NOVELTY_DUCK, _NOVELTY_SPARK

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [
                "",                       # 0 tokens
                "lone",                   # 1 token
                "two words",              # 2 tokens — the [1, 0] hazard
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon zeta eta",
                "totally different content here now",
            ],
        }
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    try:
        for sp_sql, du_sql in (
            (_PAIR_EXPLAIN_SPARK, _PAIR_EXPLAIN_DUCK),
            (_NOVELTY_SPARK, _NOVELTY_DUCK),
        ):
            got = spark.sql(sp_sql).toPandas()
            want = con.execute(du_sql).df()
            assert canonical_rows(got) == canonical_rows(want)
    finally:
        con.close()
        spark.catalog.dropTempView("documents")


def test_shingle_cap_exact_when_not_fired(spark, sf_dir):
    """Capped == uncapped on the test corpus, with the precondition
    ASSERTED: dropped_shingle_count must be 0 at the default cap (500
    docs ⇒ df <= 500 < 1000), so the df-capped discovery join is
    provably identical to the exact one the oracles hash (verdict
    item: assert the cap does not fire, don't assume it)."""
    from aws_etl_spark.dedup.jaccard import (
        containment_pairs,
        dropped_shingle_count,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert dropped_shingle_count(docs, "doc_id", "text", k=3, max_df=1000) == 0

    jac_cap = {
        (r.id_a, r.id_b): r.n_common
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    jac_exact = {
        (r.id_a, r.id_b): r.n_common
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", max_df=None).collect()
    }
    assert jac_cap == jac_exact and jac_cap

    con_cap = {
        (r.id_a, r.id_b): r.n_common
        for r in containment_pairs(docs, "doc_id", "text").collect()
    }
    con_exact = {
        (r.id_a, r.id_b): r.n_common
        for r in containment_pairs(docs, "doc_id", "text", max_df=None).collect()
    }
    assert con_cap == con_exact and con_cap


def test_shingle_cap_truncates_hot_shingles(spark):
    """When a stop-shingle's document frequency exceeds max_df the cap
    must actually fire: the audit reports the hot shingles, the capped
    pair set is a strict subset, and per-doc set sizes (similarity
    denominators) stay UNCAPPED so capped scores are lower bounds."""
    from aws_etl_spark.dedup.jaccard import (
        dropped_shingle_count,
        ngram_jaccard_pairs,
    )

    # every doc shares the hot 3-gram "of the and"; only docs 0/1
    # share discriminative content beyond it
    rows = [(i, f"of the and unique{i} token{i} filler{i}") for i in range(8)]
    rows[1] = (1, "of the and unique0 token0 filler1")
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    assert dropped_shingle_count(df, "doc_id", "text", k=3, max_df=4) >= 1
    capped = {
        (r.id_a, r.id_b) for r in
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_df=4).collect()
    }
    uncapped = {
        (r.id_a, r.id_b) for r in
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_df=None).collect()
    }
    assert capped < uncapped  # strict subset: hot-shingle pairs dropped
    assert (0, 1) in capped   # discriminative overlap survives the cap


def test_shingle_cap_precondition_no_drops_at_graded_sfs(spark):
    """The oracled shingle-pair queries run with the max_df=1000 cap
    ON while their DuckDB oracles are uncapped — hash parity therefore
    REQUIRES that no 3-gram shingle exceeds df=1000 in any corpus the
    oracle is graded or benched on. Assert the precondition at every
    shipped sf (driver grades at sf0.01, vanilla sweep at sf0.001,
    bench at sf0.1) so a hot shingle in a future corpus fails HERE
    with a named cause instead of as an opaque driver hash mismatch."""
    import glob

    from aws_etl_spark.dedup.jaccard import dropped_shingle_count
    from aws_etl_spark.queries.registry import load_table

    sf_dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert sf_dirs, "no test corpora found"
    for sf in sf_dirs:
        docs = load_table(spark, sf, "documents")
        dropped = dropped_shingle_count(docs, "doc_id", "text", k=3, max_df=1000)
        assert dropped == 0, (
            f"{sf}: {dropped} shingles exceed df=1000 — the capped "
            "Spark pair set diverges from the uncapped oracle; raise "
            "max_df in the oracled queries or re-examine the corpus"
        )


def test_prefix_filter_equals_uncapped_full_join(spark, sf_dir):
    """Prefix filtering is EXACT: its pair set and intersection counts
    equal the uncapped full posting self-join on the real corpus (the
    AllPairs guarantee — a Jaccard >= t pair cannot avoid both
    prefixes)."""
    from aws_etl_spark.dedup.jaccard import ngram_jaccard_pairs
    from aws_etl_spark.dedup.prefix_filter import prefix_filter_jaccard_pairs
    from aws_etl_spark.queries.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    for t_num, t_den, thr in ((1, 2, 0.5), (7, 10, 0.7)):
        got = {
            (r.id_a, r.id_b): r.n_common
            for r in prefix_filter_jaccard_pairs(
                docs, "doc_id", "text", k=3, t_num=t_num, t_den=t_den
            ).collect()
        }
        want = {
            (r.id_a, r.id_b): r.n_common
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", k=3, threshold=thr, max_df=None
            ).collect()
        }
        assert got == want and got, (t_num, t_den)


def test_incremental_pairs_exclude_index_x_index(spark):
    """The incremental join owes exactly (arrival, index) and
    (arrival, earlier-arrival) comparisons: two index docs that are
    near-identical must NOT pair (the structural exclusion that makes
    the plan linear in the batch), while an arrival pairs with both
    sides and a batch-internal dup credits only the earlier arrival."""
    from aws_etl_spark.dedup.jaccard import incremental_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (10, base),          # index dup A
        (20, base),          # index dup B  -> (10,20) must NOT appear
        (7, base),           # arrival: dup of index 10 and 20
        (17, base + " iota"),  # arrival: near-dup, pairs w/ index + 7
        (27, "one two three four five six seven eight nine"),  # new
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["match_id"]): r["match_is_index"]
        for r in incremental_jaccard_pairs(
            df, "doc_id", "text", lambda c: c % 10 == 7, threshold=0.5
        ).collect()
    }
    assert (10, 20) not in got and (20, 10) not in got
    assert got[(7, 10)] is True and got[(7, 20)] is True
    assert got[(17, 7)] is False          # earlier arrival credited
    assert (7, 17) not in got             # never the reverse direction
    assert not any(d == 27 for d, _ in got)


# -- pair cache (ops/artifacts.py disk tier, round 8) -----------------------


def test_pair_cache_hit_is_bit_identical_to_direct(spark, sf_dir, monkeypatch):
    """A cached read-back must equal the uncached pipeline exactly
    (same rows, including the double jaccard bits), and a second call
    must actually hit the cache (same materialized file set)."""
    import aws_etl_spark.ops.artifacts as pc

    docs = load_table(spark, sf_dir, "documents")
    monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", "1")
    direct = sorted(
        map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect())
    )
    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE")
    first = sorted(
        map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect())
    )
    import os

    entries = set(os.listdir(pc._cache_dir()))
    second = sorted(
        map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect())
    )
    assert direct == first == second
    assert set(os.listdir(pc._cache_dir())) == entries  # reused, not rebuilt


def test_pair_cache_keys_separate_params_and_inputs(spark, sf_dir):
    """Different thresholds/inputs must key separately — a collision
    would silently serve one query's pairs to another."""
    from aws_etl_spark.dedup.jaccard import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    loose = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3)
    tight = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    n_loose, n_tight = loose.count(), tight.count()
    assert n_loose >= n_tight
    assert all(r.jaccard >= 0.5 for r in tight.collect())
    # a FILTERED input is a different fingerprint, not the cached corpus
    half = docs.filter("doc_id % 2 = 0")
    n_half = ngram_jaccard_pairs(half, "doc_id", "text", k=3, threshold=0.3).count()
    assert n_half <= n_loose
    ids = {
        x
        for r in ngram_jaccard_pairs(half, "doc_id", "text", k=3, threshold=0.3)
        .select("id_a", "id_b")
        .collect()
        for x in (r.id_a, r.id_b)
    }
    assert all(i % 2 == 0 for i in ids)


def test_pair_cache_bypasses_inmemory_inputs(spark):
    """LocalRelation/LogicalRDD plan text prints schema but NOT data:
    two different in-memory corpora with the same schema must never
    share a cache entry. The fingerprint must refuse them (bypass),
    and the computed results must differ accordingly."""
    from aws_etl_spark.dedup.jaccard import ngram_jaccard_pairs
    from aws_etl_spark.ops.artifacts import _fingerprint

    d1 = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], ["doc_id", "text"]
    )
    d2 = spark.createDataFrame(
        [(1, "x y z w q r"), (2, "totally different thing here now")],
        ["doc_id", "text"],
    )
    assert _fingerprint("t", d1, {}) is None
    assert _fingerprint("t", d2, {}) is None
    assert ngram_jaccard_pairs(d1, "doc_id", "text", k=3, threshold=0.5).count() == 1
    assert ngram_jaccard_pairs(d2, "doc_id", "text", k=3, threshold=0.5).count() == 0
    # file-backed lineage stays cacheable (paths identify the input)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert _fingerprint("t", docs, {}) is not None


def test_pair_cache_invalidates_inplace_single_file_rewrite(spark, tmp_path):
    """An in-place rewrite of a single-file parquet at the SAME
    filename (the pandas/arrow pattern used throughout the edge tests)
    keeps the path list and the canonicalized plan identical — only
    (size, mtime) change. The fingerprint must change with them, or a
    long-lived process serves stale pairs (round-9 advisory)."""
    import os
    import time

    import pandas as pd

    from aws_etl_spark.ops.artifacts import _fingerprint

    p = str(tmp_path / "docs.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "a b c"]}).to_parquet(p)
    f1 = _fingerprint("t", spark.read.parquet(p), {})
    # same row count / schema, different content; nudge mtime so the
    # stamp moves even on coarse-mtime filesystems
    pd.DataFrame({"doc_id": [1, 2], "text": ["x y z", "q r s"]}).to_parquet(p)
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    f2 = _fingerprint("t", spark.read.parquet(p), {})
    assert f1 is not None and f2 is not None and f1 != f2
    # unchanged file keeps its key (cache still hits across calls)
    f3 = _fingerprint("t", spark.read.parquet(p), {})
    assert f3 == f2


def test_pair_cache_stats_percent_encoded_paths(spark, tmp_path):
    """inputFiles() returns percent-encoded file URIs; a path with a
    space must still be stat'able so the (size, mtime_ns) staleness
    stamp applies — prefix slicing left such files on path-only
    keying (round-9 advice item 2)."""
    import os

    import pandas as pd

    from aws_etl_spark.ops.artifacts import _fingerprint

    d = tmp_path / "dir with space"
    d.mkdir()
    p = str(d / "docs.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "a b c"]}).to_parquet(p)
    df = spark.read.parquet(p)
    assert any("%20" in f for f in df.inputFiles()), df.inputFiles()
    f1 = _fingerprint("t", df, {})
    pd.DataFrame({"doc_id": [1, 2], "text": ["x y z", "q r s"]}).to_parquet(p)
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    f2 = _fingerprint("t", spark.read.parquet(p), {})
    assert f1 is not None and f2 is not None and f1 != f2


@pytest.mark.parametrize("flag, serves", [("0", True), ("1", False)])
def test_pair_cache_switch_governs_memo_and_materialized(
    spark, tmp_path, monkeypatch, flag, serves
):
    """One off switch for both process caches: only
    SPARK_GRAFT_NO_CACHE=1 disables; any other value (here 0)
    leaves memo() and materialized() serving repeat calls."""
    import pandas as pd

    import aws_etl_spark.ops.artifacts as pc

    p = str(tmp_path / "docs.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d"]}).to_parquet(p)
    df = spark.read.parquet(p)
    monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", flag)
    assert pc.disabled() is not serves

    first = pc.memo("switch", df, {}, object)
    second = pc.memo("switch", df, {}, object)
    assert (first is second) is serves

    builds = []

    def build():
        builds.append(1)
        return df

    for _ in range(2):
        got = pc.materialized("switch", df, {}, build)
        assert sorted(map(tuple, got.collect())) == [(1, "a b"), (2, "c d")]
    assert len(builds) == (1 if serves else 2)


def test_memo_rewritten_input_supersedes_entry(spark, tmp_path, monkeypatch):
    """Rewriting a memoized kernel's input rebuilds it AND evicts the
    previous result: the tag keeps exactly one live entry instead of
    pinning one trained state per input generation."""
    import pandas as pd

    import aws_etl_spark.ops.artifacts as art

    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    p = str(tmp_path / "docs.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d"]}).to_parquet(p)
    builds = []

    def kernel():
        df = spark.read.parquet(p)

        def build():
            builds.append(1)
            return df.count()

        return art.memo("supersede", df, {}, build)

    assert kernel() == 2 and kernel() == 2
    assert len(builds) == 1
    pd.DataFrame({"doc_id": [1, 2, 3], "text": ["x", "y", "z"]}).to_parquet(p)
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert kernel() == 3
    assert len(builds) == 2
    assert sum(1 for k in art._STORE if k[0] == "supersede") == 1
    assert art.stats("supersede")["evictions"] == 1


def test_memo_eviction_releases_jvm_objects(spark, tmp_path, monkeypatch):
    """A superseded DataFrame-valued result lets go of its JVM object
    at eviction: its py4j proxy sits in a reference cycle, so without
    a collection it would stay bound in the gateway (with whatever
    blocks or broadcasts its plan holds) until Python's cyclic
    collector happens to run."""
    import gc
    import weakref

    import pandas as pd

    import aws_etl_spark.ops.artifacts as art

    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    p = str(tmp_path / "docs.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d"]}).to_parquet(p)

    def kernel():
        df = spark.read.parquet(p)

        def build():
            out = df.select("doc_id")
            out._jdf.toString()  # a proxy method call closes the cycle
            return out

        return art.memo("release", df, {}, build)

    proxy = weakref.ref(kernel()._jdf)
    pd.DataFrame({"doc_id": [3], "text": ["x"]}).to_parquet(p)
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    gc.disable()  # only the store may collect here
    try:
        kernel()
        assert proxy() is None
    finally:
        gc.enable()


@pytest.mark.parametrize("race", [False, True])
def test_pair_cache_scratch_rename_failure(monkeypatch, race):
    """Scratch-URI lane: a failed rename with no artifact at the
    destination raises naming both paths and keeps the tmp output; a
    rename lost to a concurrent writer (destination now exists) drops
    the tmp dir and serves the winner. Fake FileSystem, no cluster."""
    import aws_etl_spark.ops.artifacts as pc

    class FakeFS:
        def __init__(self):
            self.present: set[str] = set()
            self.deleted: list[str] = []

        def exists(self, path):
            return path in self.present

        def rename(self, src, dst):
            if race:
                self.present.add(dst)  # another process won the key
            return False

        def delete(self, path, recursive):
            self.deleted.append(path)

    class FakeWriter:
        def mode(self, _):
            return self

        def parquet(self, path):
            fs.present.add(path)

    class FakeBuilt:
        write = FakeWriter()

    class FakeSpark:
        class read:  # noqa: N801 — mirrors spark.read.parquet
            @staticmethod
            def parquet(path):
                return ("read", path)

    class FakeDF:
        sparkSession = FakeSpark()

    fs = FakeFS()
    root = "fake://scratch/root"
    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_URI", "fake://scratch")
    monkeypatch.setattr(pc, "_REMOTE_ROOT", root)
    monkeypatch.setattr(pc, "_fingerprint", lambda *a: "k")
    monkeypatch.setattr(pc, "_hadoop_fs", lambda spark, uri: (fs, uri))

    final = f"{root}/k"
    tmp = f"{final}.tmp-{os.getpid()}"
    if race:
        assert pc.materialized("t", FakeDF(), {}, FakeBuilt) == ("read", final)
        assert fs.deleted == [tmp]
    else:
        with pytest.raises(RuntimeError) as err:
            pc.materialized("t", FakeDF(), {}, FakeBuilt)
        assert tmp in str(err.value) and final in str(err.value)
        assert fs.deleted == []


def test_pair_cache_per_key_locks_are_independent():
    """Distinct cache keys get distinct build locks (an unrelated
    multi-second build must not serialize other keys); the same key
    returns the same lock object so same-key callers do wait."""
    import aws_etl_spark.ops.artifacts as pc

    a1 = pc._key_lock("key-a")
    a2 = pc._key_lock("key-a")
    b = pc._key_lock("key-b")
    assert a1 is a2
    assert a1 is not b
    # holding key-a must not block key-b acquisition
    with a1:
        assert b.acquire(timeout=1)
        b.release()


def test_artifact_store_concurrent_callers_build_once(monkeypatch):
    """Many threads asking for a few keys: each key builds exactly once
    and every call is counted as a hit or a miss (a lost update on the
    store or its counters breaks one of the two)."""
    import sys
    import threading

    import aws_etl_spark.ops.artifacts as art

    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    builds: dict[int, int] = {}
    guard = threading.Lock()

    def build_for(k):
        def build():
            with guard:
                builds[k] = builds.get(k, 0) + 1
            return k

        return build

    wrong = []

    def worker():
        for i in range(200):
            k = i % 4
            if art.cached("stress", None, k, (), build_for(k)) != k:
                wrong.append(k)

    before = dict(art.stats("stress"))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
        for k in range(4):
            art._STORE.pop(("stress", None, k), None)
    after = art.stats("stress")
    assert not wrong
    assert builds == {0: 1, 1: 1, 2: 1, 3: 1}
    assert after["misses"] - before["misses"] == 4
    assert after["hits"] - before["hits"] == 16 * 200 - 4
