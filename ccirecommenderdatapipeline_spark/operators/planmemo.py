"""Shared views: ``@shared_view`` declares a ``(spark, sf_dir) -> DataFrame``
builder whose built plan every query of the session shares.

About 40 registered queries embed the same prices -> CCI chain (and the
simulator, covariance, recommender, graph and dedup views on top of shared
inputs), and every embedding would rebuild the identical DataFrame: a few
hundred py4j round-trips plus a Catalyst re-analysis of the growing tree per
op (Dataset creation analyzes eagerly, so an n-op chain costs O(n^2)
analysis). That is driver latency inside every query.

A shared view's built DataFrame is memoized on the session, keyed on the
builder and ``sf_dir``. A DataFrame is an immutable lazy plan (no data, no
persisted partitions, nothing keyed on input contents), so handing the same
object to every consumer changes neither results nor execution: the
CacheManager already matched these subtrees by analyzed plan, and the memo
only skips rebuilding the identical tree. The memo dict lives on the session
object, so it dies with the session and cannot leak across engines, tests or
processes. ``literal_table`` shares the same memo under a content key.

``persist=<StorageLevel>`` re-applies ``.persist(level)`` on every return,
not only on build: ``spark.catalog.clearCache()`` between queries
(check_oracle, bench --full) unregisters the cache entry, and the re-persist
restores the declarative marker for the next consumer, as a rebuild would.

Plan audits call ``reset_plan_memos`` before each query: a memo-hit plan
shares exprIds with earlier embeddings and skips the inner views' persist
re-application, so without the reset a query's fingerprint would depend on
which queries the session built before it.
"""

from __future__ import annotations

import functools
from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_MEMO = "_shared_view_plan_cache"  # the session attribute holding the memo


def session_memo(spark: SparkSession, key: Hashable, build: Callable[[], DataFrame]) -> DataFrame:
    """The session's one plan memo: ``build()`` once per ``key``."""
    memo = vars(spark).setdefault(_MEMO, {})
    if key not in memo:
        memo[key] = build()
    return memo[key]


def shared_view(persist: StorageLevel | None = None):
    """Declare a shared view (see the module docstring); ``persist`` is
    the storage level re-applied on every return, None for a lazy view."""

    def declare(build: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(build)
        def view(spark: SparkSession, sf_dir: str) -> DataFrame:
            df = session_memo(spark, (build, sf_dir), lambda: build(spark, sf_dir))
            return df if persist is None else df.persist(persist)

        return view

    return declare


def reset_plan_memos(spark: SparkSession) -> None:
    """Drop the session's plan memo (views and literal tables alike), so
    the next build is the fresh-session one the fingerprint baseline was
    taken in. Plan audits only: execution paths (bench, check_oracle,
    time_queries) keep the memo, the engine behaviour they measure."""
    vars(spark).pop(_MEMO, None)
