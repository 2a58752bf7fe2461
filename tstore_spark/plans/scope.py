"""Per-thread cache lifetime for operator intermediates.

The pair, search and training operators cache doc-proportional
intermediates (signatures, banded rows, hashed shingles) because each is
consumed 2-3 times within one call. A long-lived session calling the
operators repeatedly (bench loops, corpus pipelines) must not accumulate
one cached copy per call, so entering a thread's OUTERMOST :func:`op_scope`
first unpersists that thread's caches from its previous outermost scope.
Nested scopes share the enclosing scope's caches: compose operators over a
shared cached frame inside one ``with op_scope():``. Exiting releases
nothing, so a DataFrame RETURNED by a call stays warm until the same
thread's next top-level call; evaluated later it is still correct (lineage
recomputes), it just loses the warm cache. Two threads on one session never
evict each other's caches.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


class _ThreadScope(threading.local):
    def __init__(self) -> None:
        self.depth = 0
        self.live: list[DataFrame] = []


_state = _ThreadScope()


@contextmanager
def op_scope() -> Iterator[None]:
    """Cache scope of one operator call; also usable as ``@op_scope()``."""
    if _state.depth == 0:
        while _state.live:
            try:
                _state.live.pop().unpersist(False)
            except Exception:  # session gone / already unpersisted — nothing to free
                pass
    _state.depth += 1
    try:
        yield
    finally:
        _state.depth -= 1


def scoped_cache(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` (``cache()`` when ``storage_level`` is None) and register
    it with the current thread's scope. Pass ``StorageLevel.DISK_ONLY`` for
    corpus-proportional intermediates (the duplicate_spans posting table
    OOMed an 8 GiB heap at 10^6 docs under the default level)."""
    df = df.cache() if storage_level is None else df.persist(storage_level)
    _state.live.append(df)
    return df
