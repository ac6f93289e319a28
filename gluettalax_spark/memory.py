"""Lineage cuts and their lifetime: ``cut``, ``scope`` and ``memo``.

**Cut.** Every iterative or multi-consumer operator cuts lineage with
:func:`cut`, naming the style at the call site:

* ``persist``    — lazy columnar cache: no job at the call; the
  CacheManager substitutes the cached data when a consumer is planned,
  but the logical plan is not truncated;
* ``lazy_ckpt``  — ``localCheckpoint(eager=False)``: truncates the plan;
  under AQE the upstream stages still run at the call;
* ``eager_ckpt`` — ``localCheckpoint(eager=True)``: truncates the plan and
  materializes the blocks in one blocking job.

Every style stores SERIALIZED blocks (``CKPT_LEVEL``, pyspark's
``StorageLevel.MEMORY_AND_DISK``, which unlike the Scala constant of the
same name is the serialized variant): compact Tungsten bytes, accounted
by the unified memory manager and evictable to disk. PySpark's default
checkpoint level keeps deserialized row objects, 5-8x larger, and at the
100x rehearsal (sf10) that OOM'd the default 8 GiB heap twice: the
``graph_hits_bipartite`` edge cache, and ``connected_components`` over a
27M-pair near-dup graph. No module but this one calls ``persist`` or
``localCheckpoint`` (tests/test_plans.py pins this).

**Scope.** A cut belongs to the query that made it. :func:`cut` registers
its frame with the innermost open :func:`scope`, a list held in a
contextvar, so each thread (each job-runner worker) has its own. Leaving
the scope releases exactly the frames it registered, newest first:
persist frames through the cache manager, checkpoints by the id of the
RDD under their ``LogicalRDD``. A scope is opened wherever a query runs
to completion: the job runner around a job's function and its count,
``bench.py`` around each key's timed runs, ``tools/validate_contract.py``,
``tools/profile_bench.py`` and the CLI ``runq`` command.

With no scope open, a cut is a bare ``persist``/``localCheckpoint``:
checkpoint blocks live until Spark's ContextCleaner collects the RDD, and
cached plans until the session ends. That is the case for the frames
``__spark_entry__.queries()`` returns lazily, because their action runs
in the caller, outside this repo, and for streaming micro-batch threads.

**Memo.** :func:`memo` keeps a value holding cut frames across queries
(classifier logits, the trained BPE dictionary, IVF assignments). It
builds the value in a scope of its own, which outlives the caller's,
keeps only the latest key per name, and releases the replaced entry's
frames — so a value must not be used after a call with a different key
has replaced it.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from typing import TypeVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK

_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("gluettalax_cut_scope", default=None)

# name -> (key, value, frames cut while building value)
_MEMOS: dict[str, tuple[Hashable, object, list[DataFrame]]] = {}
_MEMO_LOCK = threading.RLock()

T = TypeVar("T")


def cut(df: DataFrame, style: str) -> DataFrame:
    """Cut ``df``'s lineage in ``style`` (``persist``, ``lazy_ckpt`` or
    ``eager_ckpt``) and register the result with the open scope."""
    if style == "persist":
        out = df.persist(CKPT_LEVEL)
    elif style in ("lazy_ckpt", "eager_ckpt"):
        out = df.localCheckpoint(eager=style == "eager_ckpt", storageLevel=CKPT_LEVEL)
    else:
        raise ValueError(f"unknown cut style {style!r}")
    held = _SCOPE.get()
    if held is not None:
        held.append(out)
    return out


def release(frames: list[DataFrame]) -> None:
    """Free the blocks of ``frames`` (results of :func:`cut`), newest first
    so no cached plan is re-planned over a dependency already dropped. A
    released checkpoint cannot be recomputed: release it after its last
    read."""
    if not frames:
        return
    sc = frames[0].sparkSession.sparkContext
    if sc._jsc is None:  # the session stopped, and its blocks with it
        return
    rdds = sc._jsc.getPersistentRDDs()
    for df in reversed(frames):
        if df.is_cached:
            df.unpersist(False)
            continue
        jrdd = rdds.get(df._jdf.queryExecution().analyzed().rdd().id())
        if jrdd is not None:
            jrdd.unpersist(False)


@contextmanager
def scope() -> Iterator[None]:
    """Release, on exit, every frame cut inside the block on this thread."""
    frames: list[DataFrame] = []
    token = _SCOPE.set(frames)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        release(frames)


def memo(name: str, key: Hashable, build: Callable[[], T]) -> T:
    """``build()``, kept as the one entry of ``name`` until a call with a
    different ``key`` replaces it and releases its frames."""
    with _MEMO_LOCK:
        old = _MEMOS.get(name)
        if old is not None and old[0] == key:
            return old[1]
        frames: list[DataFrame] = []
        token = _SCOPE.set(frames)
        try:
            value = build()
        except BaseException:
            release(frames)
            raise
        finally:
            _SCOPE.reset(token)
        _MEMOS[name] = (key, value, frames)
        if old is not None:
            release(old[2])
    return value
