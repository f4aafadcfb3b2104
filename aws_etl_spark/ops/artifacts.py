"""Process-scoped artifact store: results a session reuses across queries.

Many registry queries derive the SAME intermediate from the same input
(the candidate-pair table behind ten-plus dedup/graph consumers, the
events daily spine behind ten staged monitors, trained BPE/k-means/PQ
state, the scratch lakehouse tables). This module derives each once
per process and input version. A fresh process starts cold, so a query
called alone (the driver contract) is bit-identical with or without it.

Two tiers:

* **Memory** (:func:`cached`, and :func:`memo` for DataFrame inputs):
  one LRU bounded at :data:`CAP` entries across all tags. The key is
  ``(tag, session id or None, identity)`` plus the :func:`snapshot` of
  the input files. The session id is ``(applicationId, id(spark))``,
  because ``spark.newSession()`` siblings share the applicationId but
  not their temp-view catalogs; a session that cannot be identified
  (Connect, a stopped context) builds uncached and stores nothing, and
  session-independent artifacts (files on disk) key on None. A new
  snapshot for the same ``(tag, session, identity)`` supersedes the old
  entry, so a rewritten input never pins the previous build. Eviction
  (supersession or capacity) frees the value, see :func:`_release`.
  Hits, misses and evictions are counted per tag (:func:`stats`).
* **Disk** (:func:`materialized`): DataFrames written once to scratch
  parquet and read back. Round-8 measurement
  (tools/candidate_cache_study.py, sf0.1, warm session): the 13-query
  dedup/graph family went 68.2 s -> 39.0 s.

DataFrame inputs key on the CANONICALIZED analyzed plan (exprId-free,
literals preserved), the input-file list and its snapshot, so other
datasets, filters, parameters or an in-place rewrite never collide.
The kernels are deterministic, and every consumer of a disk artifact
is order-insensitive, so a parquet round-trip changes nothing.

One switch: ``SPARK_GRAFT_NO_CACHE=1`` turns both tiers off (checked
per call; plan-structure tests set it to see the pipeline itself).

Out of scope: ``dedup/jaccard.py::_ACTIVE_SHINGLE_CACHE`` never serves
a hit. It only bounds ``.cache()`` to one live copy per consumer on the
lane that runs when this store is off or the input has no fingerprint.

Scratch location: the local tmpdir only works when executors share the
driver's filesystem. On a multi-node cluster set
``SPARK_GRAFT_SCRATCH_URI`` to a Hadoop-resolvable shared location
(``hdfs://…``, ``s3a://bucket/…``): artifacts then live in a
per-process subdirectory of it (so no run sees another's), committed
through the Hadoop FileSystem API (write ``.tmp-<pid>``, rename) and
deleted best-effort at exit.
"""

from __future__ import annotations

import atexit
import gc
import hashlib
import os
import re
import shutil
import tempfile
import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable, Iterable
from typing import TypeVar
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_T = TypeVar("_T")

CAP = 64  # memory-tier entries across all tags

_DIR: str | None = None
# guards _DIR init, the key-lock map, the memory tier and its counters
_LOCK = threading.Lock()
_KEY_LOCKS: dict[Hashable, threading.Lock] = {}
_REMOTE_ROOT: str | None = None
_REMOTE_SPARK = None  # session used for exit-time cleanup
# (tag, session id, identity) -> (snapshot, value, release)
_STORE: OrderedDict = OrderedDict()
_STATS: dict[str, dict[str, int]] = {}


def disabled() -> bool:
    """True when ``SPARK_GRAFT_NO_CACHE=1`` turns the store off."""
    return os.environ.get("SPARK_GRAFT_NO_CACHE", "") == "1"


def stats(tag: str) -> dict[str, int]:
    """The live hit/miss/eviction counters of one tag."""
    return _STATS.setdefault(tag, {"hits": 0, "misses": 0, "evictions": 0})


def snapshot(paths: Iterable[str]) -> tuple[tuple[str, int, int], ...]:
    """``(path, size, mtime_ns)`` of each input file, ``(path, -1, -1)``
    when it cannot be stat'ed (missing, or a remote scheme). ``file:``
    URIs are parsed and unquoted: Spark percent-encodes them, and a
    %-escaped path would fail os.stat and silently drop the stamp."""
    out = []
    for p in paths:
        local = unquote(urlparse(p).path) if p.startswith("file:") else p
        try:
            st = os.stat(local)
            out.append((p, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((p, -1, -1))
    return tuple(out)


def cached(
    tag: str,
    spark,
    identity: Hashable,
    snap: tuple,
    build: Callable[[], _T],
    *,
    release: Callable[[_T], None] | None = None,
    valid: Callable[[_T], bool] | None = None,
) -> _T:
    """Return ``build()``'s result, held in the memory tier under
    ``(tag, session id of spark, identity)`` for input snapshot
    ``snap``.

    ``spark=None`` marks a session-independent artifact. ``release``
    runs on the value when the entry is evicted; ``valid`` (optional)
    rejects a stored value whose external state is gone, which then
    rebuilds like a miss. Same-key callers wait on one build."""
    if disabled():
        return build()
    sid = None
    if spark is not None:
        try:
            sid = (spark.sparkContext.applicationId, id(spark))
        except Exception:  # Connect or stopped context — never cache on it
            return build()
    key = (tag, sid, identity)
    with _key_lock(key):
        with _LOCK:
            entry = _STORE.get(key)
            if (
                entry is not None
                and entry[0] == snap
                and (valid is None or valid(entry[1]))
            ):
                stats(tag)["hits"] += 1
                _STORE.move_to_end(key)
                return entry[1]
            stats(tag)["misses"] += 1
        del entry  # a superseded value must not outlive its eviction
        value = build()
        with _LOCK:
            gone = []
            if key in _STORE:  # superseded snapshot
                stats(tag)["evictions"] += 1
                gone.append(_STORE.pop(key))
            _STORE[key] = (snap, value, release)
            while len(_STORE) > CAP:
                old_key = next(iter(_STORE))
                stats(old_key[0])["evictions"] += 1
                gone.append(_STORE.pop(old_key))
        _release(gone)
        return value


def _release(gone: list) -> None:
    """Run each evicted entry's ``release`` hook; without one, collect
    Python garbage: py4j proxies sit in reference cycles (a JavaObject
    caches JavaMembers pointing back at it), so dropping the reference
    alone frees nothing in the JVM until the cyclic collector runs."""
    collect = False
    while gone:
        _, value, release = gone.pop()
        if release is None:
            collect = True
        else:
            release(value)
        del value
    if collect:
        gc.collect()


def _cache_dir() -> str:
    # caller holds _LOCK; the guard matters on a cold process with
    # concurrent first calls — a check-then-set race would orphan one
    # dir and its entries
    global _DIR
    if _DIR is None:
        _DIR = tempfile.mkdtemp(prefix="aws_etl_spark_paircache_")
        atexit.register(shutil.rmtree, _DIR, ignore_errors=True)
    return _DIR


def _scratch_uri() -> str | None:
    """Shared-storage root for cluster deployments (see module doc);
    None (the default) keeps the driver-local tmpdir path."""
    return os.environ.get("SPARK_GRAFT_SCRATCH_URI") or None


def _remote_cleanup() -> None:
    # best-effort: the session may already be stopped at interpreter
    # exit; shared-storage operators should also run a TTL sweep on
    # the scratch prefix (same discipline as any Spark staging dir)
    if _REMOTE_ROOT is None or _REMOTE_SPARK is None:
        return
    try:
        fs, path = _hadoop_fs(_REMOTE_SPARK, _REMOTE_ROOT)
        fs.delete(path, True)
    except Exception:
        pass


def _remote_root(spark, uri: str) -> str:
    # caller holds _LOCK (same init-race guard as _cache_dir)
    global _REMOTE_ROOT, _REMOTE_SPARK
    if _REMOTE_ROOT is None:
        import uuid

        token = f"aws_etl_spark_paircache_{os.getpid()}_{uuid.uuid4().hex[:8]}"
        _REMOTE_ROOT = f"{uri.rstrip('/')}/{token}"
        _REMOTE_SPARK = spark
        atexit.register(_remote_cleanup)
    return _REMOTE_ROOT


def _hadoop_fs(spark, uri: str):
    """(FileSystem, Path) for a Hadoop-resolvable URI via the session
    JVM — the only portable existence/rename surface across file://,
    hdfs:// and object-store schemes."""
    jvm = spark._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(uri)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def _key_lock(key: Hashable) -> threading.Lock:
    # per-key build locks: a multi-threaded driver building two
    # DIFFERENT artifacts must not serialize one multi-second Spark
    # job behind the other; only same-key callers wait on each other
    with _LOCK:
        lock = _KEY_LOCKS.get(key)
        if lock is None:
            lock = _KEY_LOCKS[key] = threading.Lock()
        return lock


def _input_key(df: DataFrame, params: dict) -> tuple[str, tuple] | None:
    """(identity, snapshot) of a (params, input) pair, or None when the
    input cannot be identified: Connect-only sessions (no _jdf) and
    in-memory inputs (LocalRelation/LogicalRDD print schema but NOT
    data, so two in-memory corpora would collide). The identity hashes
    the params, the canonicalized analyzed plan (engine-normalized
    exprIds; a text-level ``#\\d+`` strip would also eat literals like
    ``Customer#000000001``) and the input-file list; the snapshot
    catches new part files and in-place rewrites of one file."""
    try:
        plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files or re.search(r"LocalRelation|LogicalRDD|ExistingRDD", plan):
        return None
    raw = f"{sorted(params.items())}|{plan}|{files}"
    return hashlib.md5(raw.encode()).hexdigest(), snapshot(files)


def _fingerprint(tag: str, df: DataFrame, params: dict) -> str | None:
    """Disk-tier key for (kernel, params, input snapshot), or None
    when the input cannot be identified (see :func:`_input_key`)."""
    key = _input_key(df, params)
    if key is None:
        return None
    return hashlib.md5(f"{tag}|{key}".encode()).hexdigest()


def materialized(
    tag: str,
    df: DataFrame,
    params: dict,
    build: Callable[[], DataFrame],
    fallback: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """Return ``build()``'s result, materialized once per process for
    this (tag, params, input) and read back on later calls.

    ``fallback`` (optional) is used INSTEAD of ``build`` when the
    cache cannot serve — disabled via env, or the input has no stable
    fingerprint (in-memory relations). It lets a caller keep a
    different lazy shape for the uncached path (e.g. the historical
    single-consumer pipeline a plan test pins) while the cached path
    builds a shareable artifact."""
    if disabled():
        return (fallback or build)()
    key = _fingerprint(tag, df, params)
    if key is None:
        return (fallback or build)()
    spark = df.sparkSession
    uri = _scratch_uri()
    if uri is not None:
        # shared-storage lane (multi-node clusters): existence/commit
        # through the Hadoop FileSystem of the configured scheme
        with _LOCK:
            path = f"{_remote_root(spark, uri)}/{key}"
        with _key_lock(key):
            fs, jfinal = _hadoop_fs(spark, path)
            if not fs.exists(jfinal):
                tmp = f"{path}.tmp-{os.getpid()}"
                build().write.mode("overwrite").parquet(tmp)
                _, jtmp = _hadoop_fs(spark, tmp)
                if not fs.rename(jtmp, jfinal):
                    # a lost cross-process race for the same key leaves
                    # the winner's equivalent artifact in place; any
                    # other failure must not pass as a cache hit
                    if not fs.exists(jfinal):
                        raise RuntimeError(
                            f"artifacts: rename {tmp} -> {path} failed "
                            f"and {path} does not exist"
                        )
                    fs.delete(jtmp, True)
        return spark.read.parquet(path)
    with _LOCK:
        path = os.path.join(_cache_dir(), key)
    with _key_lock(key):
        if not os.path.isdir(path):
            tmp = f"{path}.tmp-{os.getpid()}"
            build().write.mode("overwrite").parquet(tmp)
            os.replace(tmp, path)
    return spark.read.parquet(path)


def memo(
    tag: str, df: DataFrame, params: dict, build: Callable[[], _T]
) -> _T:
    """Return ``build()``'s result, held in the memory tier for this
    (tag, session, params, input) and served to later calls.

    The session identity is part of the key because results may be
    session-owned checkpointed DataFrames. ``build()`` runs uncached
    when the store is off, the input has no stable fingerprint, or the
    session cannot be identified; a rewritten input supersedes the
    previous result instead of pinning it."""
    key = _input_key(df, params)
    if key is None:
        return build()
    identity, snap = key
    return cached(tag, df.sparkSession, identity, snap, build)


def cache_active(df: DataFrame) -> bool:
    """True when :func:`materialized` would actually serve from the
    store for this input (enabled via env AND the input has a stable
    fingerprint). Round-13: lets a caller pick between a shared-
    artifact derivation (cached) and its historical single-consumer
    pipeline (uncached — the shape plan tests pin) without a
    fallback thunk."""
    return not disabled() and _input_key(df, {}) is not None
