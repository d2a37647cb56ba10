"""Query-scoped DataFrame cache registry.

Several registry queries persist a multi-consumer intermediate (token
stream, shingle set, posting list, ...) that the RETURNED lazy DataFrame
still references — so the building function cannot unpersist it before the
caller collects.  But Spark's CacheManager holds a strong reference to every
InMemoryRelation until an explicit unpersist()/clearCache(): in a long-lived
session that replays the registry (the external driver's
correctness gate, bench.py, pytest) those corpus-sized caches would
accumulate for the session lifetime, and any LIVE cache whose logical plan
matches a later query's sub-plan gets silently substituted into it
(CacheManager plan substitution — observed: bm25's tf posting list swapped
into inverted_index's plan).

The registry bounds both hazards to a single query's lifetime:

* ``cache(df)``     — persist *df* and register it.
* ``release_all()`` — unpersist every registered cache.  Called by the
  ``queries()`` wrappers in ``__spark_entry__`` when the NEXT top-level
  query is built — by which point the previous query's result has been
  collected — so at most one query's caches are ever live.  Unpersisting a
  DataFrame whose plan is later re-executed is never a correctness issue
  (Spark just recomputes), only a perf one; sequential replay never
  re-executes a released plan.

Internal cross-query calls (e.g. ``classify_relational`` building its vocab
via ``vocab_build``) go through the UNwrapped module functions, so a nested
call never releases its caller's fresh caches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def cache(df: DataFrame) -> DataFrame:
    """persist() *df* and register it for the next release_all()."""
    df.persist()
    _LIVE.append(df)
    return df


def release_all() -> int:
    """Unpersist every registered cache; returns how many were released."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # session already stopped: nothing to free
            pass
    return n


def live_count() -> int:
    return len(_LIVE)
