"""One lane policy for the driver-vs-distributed size dials.

Eleven iterative operators carry a bounded-state driver fast path:
below a measured size (distinct words, sampled rows, exploded cells,
edges, Markov states, node-state rows) the loop replays on the
collected relation or broadcasts its state; above it the distributed
plan runs unchanged. ``CAPS`` holds each dial's default in one table
and :func:`cap` is the only reader. Every call site keeps its own
comparison against the returned cap, so a cap of 0 selects the
distributed lane. A 2M edge or cell cap is ~50 MB collected, far
under the driver headroom; a relation that outgrows its cap keeps
the scale-out plan.

``SPARK_GRAFT_LANE=distributed`` zeroes every cap at once — the
forced-distributed run that stands in for the 100 TB plans (see
SCALING.md). It also zeroes ``state_bcast_rows``, so iterative state
joins keep their shuffle form unless the state is empty. Any other
non-empty value raises: a misspelled lane must not silently run the
default one. Tests that need one operator's boundary patch ``CAPS``.
"""

from __future__ import annotations

import os

CAPS: dict[str, int] = {
    "bpe_words": 200_000,  # text/bpe.py merge training
    "kmeans_train_rows": 200_000,  # similarity/topk.py spherical k-means
    "pq_cells": 2_000_000,  # similarity/pq.py codebook training
    "kcenter_cells": 2_000_000,  # similarity/kcenter.py greedy rounds
    "kmeans_cells": 2_000_000,  # similarity/kmeans.py quantized Lloyd
    "lpa_edges": 2_000_000,  # dedup/graph_metrics.py label propagation
    "kcore_edges": 2_000_000,  # dedup/graph_metrics.py k-core peeling
    "pagerank_edges": 2_000_000,  # dedup/pagerank.py both variants
    "canon_edges": 2_000_000,  # dedup_canonical_distance min propagation
    "markov_states": 512,  # events_markov_stationary power iteration
    "state_bcast_rows": 2_000_000,  # ops/scale.py::broadcast_if_bounded
}


def cap(name: str) -> int:
    """The size cap for dial ``name`` under the selected lane."""
    default = CAPS[name]
    lane = os.environ.get("SPARK_GRAFT_LANE", "")
    if not lane:
        return default
    if lane == "distributed":
        return 0
    raise ValueError(
        f"SPARK_GRAFT_LANE={lane!r}: expected unset or 'distributed'"
    )
