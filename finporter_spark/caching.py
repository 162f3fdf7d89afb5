"""Cache-lifetime helpers.

Several operators materialize a mid-plan table (``.cache()``) because the
downstream plan consumes it twice (LSH self-joins) or because Spark
refuses corrupt-column-only queries over a raw scan (quarantine_split).
DataFrame caches live in the session's CacheManager until explicitly
unpersisted — they are NOT garbage-collected with the Python object — so
a long-lived session decoding many files would otherwise accumulate
them in executor storage memory.

The producing operator tags its result with the cache it created
(:func:`owns_cache`); whoever materializes the result calls
:func:`release_caches` when done. Call sites inside this package
(handlers, tests) do so; external callers holding results long-term
should too.

State that outlives a session (staged input drops, ANN quantizers,
codebooks and codes, MinHash signatures, BPE merges, bucketed tables)
is reused from disk by one rule, :func:`load_or_build`.
"""

from __future__ import annotations

import logging
import os
import shutil
from typing import Callable, TypeVar

from pyspark.sql import DataFrame

_ATTR = "_finporter_owned_caches"
_log = logging.getLogger("finporter_spark")

# written into a state directory after its build returns; its content is
# the key the state was built for (underscore-prefixed: Spark's file
# readers skip it)
MARKER = "_staged_fingerprint"

_T = TypeVar("_T")


def owns_cache(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tag ``result`` with cached upstream frames it depends on."""
    # vars(), not getattr(): a DataFrame answers a missing attribute by
    # fetching its schema from the JVM to look for a column of that name
    existing = list(vars(result).get(_ATTR, []))
    setattr(result, _ATTR, existing + list(cached))
    return result


def release_caches(*dfs: DataFrame, blocking: bool = False) -> None:
    """Unpersist every cache tagged on the given frames (idempotent).

    Safe after the frames are materialized; if one is re-executed later
    the cached subplan simply recomputes uncached. A cache that fails to
    unpersist is logged as a warning on the ``finporter_spark`` logger and
    the rest are still released.
    """
    for df in dfs:
        for c in vars(df).get(_ATTR, []):
            try:
                c.unpersist(blocking)
            except Exception as e:
                _log.warning(
                    "release_caches: unpersist failed: %r", e, exc_info=True
                )
        setattr(df, _ATTR, [])


def load_or_build(
    path: str | None,
    key: str | None,
    build: Callable[[str | None], _T],
    read: Callable[[], _T | None],
) -> _T:
    """Serve the dataset state at ``path`` if it was built for ``key``,
    else rebuild it. Every staged drop and dataset-state cache of the
    package reuses state through this one rule.

    Hit: ``path/_staged_fingerprint`` exists and holds ``key`` (None
    counts as ""), and ``read()`` serves the state. A ``read()`` that
    returns None (the cached shape does not match the caller's
    parameters) rebuilds; any error it raises propagates, so a cache
    that cannot be read never retrains silently inside a timed query.

    Rebuild: ``path`` is removed, ``build(path)`` writes the state into
    a new directory at ``path``, and the marker is written only after
    ``build`` returns. A build that raises halfway leaves no marker, so
    its partial output is rebuilt by the next call, never served.
    Returns what ``build`` returns.

    Each call logs ``staging hit: <path>`` or ``staging rebuild: <path>
    (<reason>)`` at INFO on the ``finporter_spark`` logger. ``path``
    None returns ``build(None)`` with no cache and no log.
    """
    if path is None:
        return build(None)
    key = key or ""
    marker = os.path.join(path, MARKER)
    try:
        with open(marker) as fh:
            staged = fh.read()
    except FileNotFoundError:
        staged = None
    if staged is None:
        reason = f"no {MARKER} marker"
    elif staged != key:
        reason = "fingerprint changed"
    else:
        value = read()
        if value is not None:
            _log.info("staging hit: %s", path)
            return value
        reason = "cached shape does not match"
    _log.info("staging rebuild: %s (%s)", path, reason)
    try:
        shutil.rmtree(path)
    except FileNotFoundError:
        pass
    value = build(path)
    with open(marker, "w") as fh:
        fh.write(key)
    return value
