"""Lane policy guard (ops/lanes.py) — no Spark session needed.

The engine reads a fixed set of ``SPARK_GRAFT_*`` names; every
driver-vs-distributed size dial lives in ``lanes.CAPS`` behind one
``SPARK_GRAFT_LANE`` override. The scan below fails when a new env
dial grows back anywhere in the package. A second scan fails when a
process-level cache or memo store grows back outside the artifact store
(ops/artifacts.py).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from aws_etl_spark.ops import lanes

PACKAGE = Path(__file__).resolve().parent.parent / "aws_etl_spark"
ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SCRATCH_URI",
    "SPARK_GRAFT_NO_CACHE",
    "SPARK_GRAFT_LANE",
}
ENV_NAME = re.compile(r"^SPARK_GRAFT_[A-Z_]+$")
STORE_NAME = re.compile(r"CACHE|MEMO")
STORE_EXEMPT = {
    # never serves a hit: bounds .cache() to one live copy per consumer
    # on the lane that runs when the artifact store is off or the input
    # has no fingerprint (see the ops/artifacts.py module doc)
    ("dedup/jaccard.py", "_ACTIVE_SHINGLE_CACHE"),
}


def test_package_reads_only_allowed_env_names():
    found: dict[str, str] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and ENV_NAME.match(node.value)
            ):
                found.setdefault(node.value, f"{path}:{node.lineno}")
    extra = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not extra, f"env names outside the allow-list: {extra}"
    assert "SPARK_GRAFT_LANE" in found


def test_unknown_lane_raises(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LANE", "bogus")
    with pytest.raises(ValueError, match="bogus"):
        lanes.cap("bpe_words")


def test_distributed_lane_zeroes_every_cap(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    assert {k: lanes.cap(k) for k in lanes.CAPS} == lanes.CAPS
    assert all(v > 0 for v in lanes.CAPS.values())
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    assert {k: lanes.cap(k) for k in lanes.CAPS} == dict.fromkeys(lanes.CAPS, 0)


def _module_level(stmts):
    """Statements executed at import time: module body, including the
    bodies of top-level if/try/with blocks, never function or class
    bodies."""
    for st in stmts:
        yield st
        if isinstance(st, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody"):
                yield from _module_level(getattr(st, field, []))
            for h in getattr(st, "handlers", []):
                yield from _module_level(h.body)


def _is_store(value) -> bool:
    if isinstance(value, (ast.Dict, ast.Set, ast.DictComp, ast.SetComp)):
        return True
    if isinstance(value, ast.Call):
        f = value.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        return name in {"dict", "OrderedDict", "defaultdict", "set"}
    return False


def test_no_process_store_outside_artifacts():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "ops/artifacts.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        for st in _module_level(tree.body):
            if isinstance(st, ast.Assign):
                targets, value = st.targets, st.value
            elif isinstance(st, ast.AnnAssign) and st.value is not None:
                targets, value = [st.target], st.value
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and STORE_NAME.search(t.id)
                    and _is_store(value)
                    and (rel, t.id) not in STORE_EXEMPT
                ):
                    found.append(f"{rel}:{st.lineno} {t.id}")
    assert not found, f"process stores outside ops/artifacts.py: {found}"
