"""Cache lifetime for operators that reuse a frame across Spark jobs.

An operator that reads one frame from several jobs (kNN ring rounds, the
LSH/simhash band self-joins, the coverage candidate gate) calls
`persist(df)`. Every handle persisted beneath the OUTERMOST `scoped` call
is owned by that call: it is released when the frame the call returns is
garbage-collected, or at once if the call raises. Callers therefore keep
one rule: hold the returned frame until its last action. A query wrapper's
`.select(...)` on an operator's result is safe, because the registry entry
is itself scoped and so owns the operator's caches.

Two Spark rules shape the mechanism:

1. The CacheManager keys entries by canonicalized LOGICAL PLAN. Two calls
   over identical inputs would persist identical plans, so the second call
   would read the first call's cache, and the first call's release would
   drop the second call's data mid-flight (measured on back-to-back
   identical 4M-point kNN runs: 6 s vs 106 s final actions). Each `persist`
   adds a unique literal column, projected away at once: plans never alias
   across calls, and a constant column compresses to nothing in the cache.
2. Cache invalidation is non-cascading (SPARK-24596): unpersisting a plan
   that other live cache entries were built on re-caches those dependents
   UNMATERIALIZED, so the next action silently recomputes them (an eager
   release of kNN's points cache re-ran the whole round-1 join). Handles
   are therefore released together, in reverse creation order (leaves
   before the roots they read), and never while the result is in use.
"""

from __future__ import annotations

import functools
import itertools
import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = itertools.count()
_open = threading.local()  # .handles: the outermost scope's list, or None


def persist(df: DataFrame) -> DataFrame:
    """Persist `df` under a plan unique to this call and register it with
    the open scope. Returns the usable (salt-free) frame."""
    handles = getattr(_open, "handles", None)
    if handles is None:
        raise RuntimeError("cache.persist called outside a cache.scoped call")
    salted = df.withColumn("_salt", F.lit(next(_SALT))).persist()
    handles.append(salted)
    return salted.drop("_salt")


def _release(handles: list[DataFrame]) -> None:
    for h in reversed(handles):
        try:
            h.unpersist(False)
        except Exception:
            pass  # session already stopped; release the rest


def scoped(fn):
    """Run `fn` as a cache scope. Only the outermost scoped call owns the
    handles; nested scoped calls add theirs to it."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        if getattr(_open, "handles", None) is not None:
            return fn(*args, **kwargs)
        _open.handles = handles = []
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            _release(handles)
            raise
        finally:
            _open.handles = None
        if handles:
            weakref.finalize(out, _release, handles)
        return out

    return run
