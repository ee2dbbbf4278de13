"""Per-SparkContext cache of constructed Column-expression fragments.

Building a Column expression costs a py4j round-trip per function/operator
call; the validation DAG's expression trees were measured at ~10,500 py4j
commands ≈ 1.5 s of pure driver latency rebuilt on EVERY run (bench
samples, runner invocations, each scaling-level sample). Unresolved Column
objects are immutable and input-independent, so they are safe to reuse
across DataFrames within one SparkContext; keying on the context identity
drops them when the JVM goes away (a Column built on a stopped context
holds dead JVM references). The pair-kernel UDF in operators/pairs.py is
cached here too, under the same rule.

This caches EXPRESSIONS (unresolved query-plan fragments), never data,
results, or resolved plans — every run still computes from its inputs.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

_CACHE: dict[tuple, Any] = {}
# the context the cached entries were built on; held (not just its id) so
# a stopped context's id cannot be reused by a new one and match
_CTX = None
_LOCK = threading.RLock()  # builders may nest; sinks build on worker threads


def cached_exprs(key: tuple, builder: Callable[[], Any]) -> Any:
    """Return ``builder()`` memoized per (live SparkContext, key).

    ``key`` must capture every input that changes the built expressions
    (thresholds, field tuples, model weights, ...); the builder must be
    pure expression construction. The context is the process-wide one,
    so every thread shares the entries (a per-thread active session is
    None off the main thread); any other context empties the cache.
    """
    from pyspark import SparkContext

    global _CTX
    ctx = SparkContext._active_spark_context
    with _LOCK:
        if _CTX is not ctx:
            _CACHE.clear()  # drop expressions bound to a stopped context
            _CTX = ctx
        out = _CACHE.get(key)
        if out is None:
            out = builder()
            _CACHE[key] = out
        return out
