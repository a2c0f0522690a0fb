"""Salted skew joins (north_rule: "partitioning / shuffle / skew handled
explicitly").

SALTED JOIN spreads one hot key over ``salt`` sub-keys when the right
side is small enough to replicate per salt but too big to broadcast —
the classic web-corpus case: a dimension keyed by host where a few
hosts own 10% of traffic. (For aggregation skew see
checks/uniqueness.py's two-phase form; AQE skew-join handles the
in-between cases automatically.)

Repeated equi-joins on a stable key (fact-to-fact url joins, snapshot
diffs) need no helper: write both sides with Spark's own
``bucketBy(n, key).sortBy(key).saveAsTable`` and the join compiles to a
zipped bucket scan with no Exchange (tests/test_bucketing.py asserts
this for ``textops.dedup.snapshot_diff``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(left: DataFrame, right: DataFrame, on: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Skew-defusing equi-join: the left (large, skewed) side gets a
    random-but-deterministic salt in [0, salt); the right side is
    replicated once per salt value. The shuffle key becomes (on, salt),
    splitting each hot key's rows across ``salt`` reducers.

    Only inner/left joins are supported: the right side is REPLICATED
    per salt, so right/full outer joins would emit each unmatched right
    row ``salt`` times. Right-side columns must not collide with left's
    except ``on``.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left only, got {how!r} — the "
            "replicated right side would duplicate unmatched right rows")
    salt_col = "__jss_salt__"
    if salt_col in left.columns or salt_col in right.columns:
        raise ValueError(f"column {salt_col} already exists on an input")
    left_s = left.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]),
                         F.lit(salt)).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias(salt_col)
    right_r = right.select("*", salts)
    out = left_s.join(right_r, [on, salt_col], how)
    return out.drop(salt_col)
