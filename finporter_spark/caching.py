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
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_ATTR = "_finporter_owned_caches"
_log = logging.getLogger("finporter_spark")


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
