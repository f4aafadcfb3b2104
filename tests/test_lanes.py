"""Lane policy guard (ops/lanes.py) — no Spark session needed.

The engine reads a fixed set of ``SPARK_GRAFT_*`` names; every
driver-vs-distributed size dial lives in ``lanes.CAPS`` behind one
``SPARK_GRAFT_LANE`` override. The scan below fails when a new env
dial grows back anywhere in the package.
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
    "SPARK_GRAFT_NO_PAIR_CACHE",
    "SPARK_GRAFT_NO_STAGE_CACHE",
    "SPARK_GRAFT_LANE",
}
ENV_NAME = re.compile(r"^SPARK_GRAFT_[A-Z_]+$")


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
