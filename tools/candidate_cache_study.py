"""Shared-candidate materialization study (round-8 VERDICT item 8).

The dedup/graph family re-derived the same near-dup candidate-pair
table in every query until round 8 shipped the process-scoped
materialization, now the disk tier of ``ops/artifacts.py``. This
script measures that decision: variant ``baseline`` runs the family
with the artifact store DISABLED (``SPARK_GRAFT_NO_CACHE=1`` — the
pre-r8 behavior, every query re-derives; it also turns off the
store's memory tier), variant ``memo`` runs with the store active.
Run each variant in its own process and compare the printed JSON
lines (per-query row counts must match across variants; the original
adoption measurement — 68.2 s baseline vs 39.0 s memo at
sf0.1 — is recorded in BASELINE.md).

Usage:
    PYTHONPATH=/root/repo python tools/candidate_cache_study.py baseline
    PYTHONPATH=/root/repo python tools/candidate_cache_study.py memo
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

FAMILY = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters_cc",
    "dedup_graph_degrees",
    "dedup_graph_triangles",
    "dedup_graph_nbr_jaccard",
    "dedup_graph_label_propagation",
    "dedup_graph_kcore",
    "dedup_graph_pagerank",
    "dedup_graph_pagerank_exact",
    "dedup_canonical_distance",
    "dedup_source_crossdup",
    "corpus_cluster_safe_split",
]


def main() -> None:
    variant = sys.argv[1] if len(sys.argv) > 1 else "baseline"
    if variant == "baseline":
        # must happen BEFORE any query runs: the artifact store
        # checks this env var per call
        os.environ["SPARK_GRAFT_NO_CACHE"] = "1"
    from aws_etl_spark.queries.registry import REGISTRY, _ensure_loaded
    from aws_etl_spark.session import get_session

    spark = get_session(f"cand-study-{variant}")
    _ensure_loaded()
    out: dict[str, tuple[float, int]] = {}
    for name in FAMILY:
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, SF_DIR)
        n = df.count()
        out[name] = (round(time.perf_counter() - t0, 2), n)
        spark.catalog.clearCache()
    total = round(sum(t for t, _ in out.values()), 2)
    print(json.dumps({"variant": variant, "total_sec": total,
                      "queries": {k: {"sec": t, "rows": n}
                                  for k, (t, n) in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
