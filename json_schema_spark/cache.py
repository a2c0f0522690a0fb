"""Shared registry for operator-internal persisted intermediates.

Operators that feed one derived table into SEVERAL plan branches
(self-joins, window + aggregate stitches) persist it — Spark otherwise
recomputes the full upstream pipeline per branch. The returned
DataFrames are lazy, so the cache cannot be dropped inside the
operator; it registers here and the CALLER releases after the
consuming action via release_caches() (or spark.catalog.clearCache(),
which bench.py issues per rep). Without cleanup, repeated pipeline
invocations accumulate executor storage until eviction pressure hurts
unrelated jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ACTIVE_CACHES: list[DataFrame] = []


def register_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` (unless it already is) and hold it for
    release_caches()."""
    if not df.is_cached:
        df.persist()
    _ACTIVE_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every registered operator-internal cache since the
    last release. Safe to call anytime after the consuming action;
    returns the number of tables released."""
    n = 0
    while _ACTIVE_CACHES:
        df = _ACTIVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
