"""Session-owned caches: the one place the package keeps state bound to
a SparkSession between calls.

Every cache lives in a dict stored on the SparkSession object itself,
so its entries are freed with the session: the session → cache →
frame → session cycle is ordinary garbage once nothing else holds the
session.  A module-level dict keyed by the session's ``id()`` would
keep every dropped session alive through the frames it caches, and
CPython reuses the id of a collected object, so a new session could be
handed a dead session's plain-value entry.  Weak session keys would
not help: a cached DataFrame holds its session strongly, so the weak
key never dies.

Per-session isolation also keeps sibling sessions apart:
``spark.newSession()`` shares the SparkContext and applicationId, but
a frame analyzed under one session's confs must never be served to
another.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable
from typing import Any

_ATTR = "_graft_session_cache"
# guards the dict operations only; builds run Spark jobs and stay outside
# it (a streaming foreachBatch body runs on another thread than the
# caller that started the query)
_LOCK = threading.Lock()


def session_cached(
    spark,
    cache: str,
    key: Hashable | None,
    build: Callable[[], Any],
    max_entries: int | None = None,
) -> Any:
    """Return the value cached under ``key`` in the session's ``cache``,
    building and storing it on a miss.  A hit marks the entry most
    recently used; with ``max_entries`` the least recently used entries
    are evicted before an insert.  Two callers that miss the same key at
    once both build, and both get the value stored first.  ``key=None``
    means the value cannot be checked for freshness (e.g. a non-local
    path): it is built and not cached."""
    if key is None:
        return build()
    with _LOCK:
        entries = spark.__dict__.setdefault(_ATTR, {}).setdefault(cache, OrderedDict())
        if key in entries:
            entries.move_to_end(key)
            return entries[key]
    value = build()
    with _LOCK:
        if key in entries:
            entries.move_to_end(key)
            return entries[key]
        if max_entries is not None:
            while len(entries) >= max_entries:
                entries.popitem(last=False)
        entries[key] = value
    return value


def session_evict(spark, cache: str, stale: Callable[[Hashable], bool]) -> list[Any]:
    """Remove the entries of the session's ``cache`` whose key ``stale``
    accepts, and return their values for the caller to release."""
    with _LOCK:
        entries = spark.__dict__.get(_ATTR, {}).get(cache, {})
        return [entries.pop(k) for k in [k for k in entries if stale(k)]]
