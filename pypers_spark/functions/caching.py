"""Keyed persist tracking.

Operators that persist an intermediate (signature tables, gram tables,
norm projections) re-create a fresh persisted DataFrame on every
invocation; without bookkeeping each one stays registered with the
session's cache manager for the session lifetime. ``tracked_persist``
unpersists the previous DataFrame held under the same key, so repeated
invocations (test suites, benchmark loops, per-round driver sweeps)
hold at most one live cache entry per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: dict = {}


def tracked_persist(df: DataFrame, key: str) -> DataFrame:
    """Persist ``df`` (memory+disk), releasing the previous holder of ``key``.

    If the previous holder is semantically the SAME plan (same session,
    ``sameSemantics``), it is returned instead of rebuilt: shared
    curation artifacts (shingle-signature tables, gram tables) are
    consumed by several operators, and the first consumer's
    materialization serves the rest — keyed memoization, the in-memory
    analogue of the parquet checkpoint Stage. A call with a different
    plan under the same key (other scale factor, other source dir)
    releases the old cache and persists the new plan.
    """
    prev = _LIVE.get(key)
    if prev is not None:
        try:
            if prev.sparkSession is df.sparkSession and df.sameSemantics(prev):
                return prev
        except Exception:
            pass  # stopped session / plan comparison failure → rebuild
        try:
            prev.unpersist()
        except Exception:
            pass  # session may be gone; nothing to release
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE[key] = df
    return df


def cached_relation(df: DataFrame):
    """The cache manager's ``InMemoryRelation`` serving ``df``'s plan, or
    None when the plan is not cached."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    hit = cm.lookupCachedData(df._jdf)
    return hit.get().cachedRepresentation() if hit.isDefined() else None


def reads_cache(df: DataFrame, relation) -> bool:
    """Whether the cache manager answers part of ``df``'s plan from the
    cached ``relation`` (as returned by ``cached_relation``), judged on
    the current cache state, not on a plan ``df`` may have already
    planned."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    plan = cm.useCachedData(df._jdf.queryExecution().normalized())
    builder = relation.cacheBuilder()
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if (
            leaf.getClass().getSimpleName() == "InMemoryRelation"
            and leaf.cacheBuilder().equals(builder)
        ):
            return True
    return False
