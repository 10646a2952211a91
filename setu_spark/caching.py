"""Scoped caching: bounded lifecycle for within-query .cache() stages.

Several operators cache an intermediate that feeds multiple branches of
their returned plan (MinHash signatures feeding bands + verify, the
margin miners' candidate stage, k-means' corpus projection). A bare
``.cache()`` is correct but never unpersisted — the blocks stay pinned
in executor storage until the session ends, so a long-lived session
composing queries (outside bench.py's per-query ``clearCache``) leaks
storage memory across calls.

``scoped_cache(key, df)`` keeps AT MOST ONE live cached stage per key:
re-entering the same operator evicts its previous call's cache first.
Keys are the enclosing function's name, so composed plans that use
*different* operators keep all their caches until materialization,
while repeated calls of the same operator stay bounded. The trade: if
a caller holds an OLD returned plan across a newer call of the same
operator and re-materializes it, the old plan silently recomputes its
stage — correct, just uncached, which is the right default for an
engine whose queries are one-shot DAGs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: dict[str, DataFrame] = {}


def scoped_cache(key: str, df: DataFrame) -> DataFrame:
    prev = _LIVE.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:  # session already stopped — nothing to free
            pass
    _LIVE[key] = df
    return df.cache()
