"""Join operators (SURVEY.md §2.3 J1-J3 + semi/anti extensions).

Scale rules baked in:
  - Small dimension sides get an explicit ``broadcast()`` hint so a
    100-TB fact never shuffles for a kB-sized dim (the reference relied
    on the auto-broadcast threshold, which silently degrades to
    sort-merge when stats are missing).
  - FK checks are LEFT ANTI joins (count of violations), not the
    reference's inner-join "some overlap exists" probe
    (``qhi.py:53-69``) whose combined return value was also inverted
    (``qhi.py:91``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi join with optional broadcast hint on the (small) right side."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of ``left`` with a match in ``right`` (no right columns).
    One shuffle; right side deduplicated by Spark automatically."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of ``left`` with NO match in ``right``."""
    return left.join(right, on=on, how="left_anti")


def fk_orphans(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Referential-integrity violations: fact rows whose key has no match
    in the dimension (corrected semantics of reference ``qhi.py:39-91``).

    Returns one row per distinct non-null orphan key (column ``fk``);
    empty ⇒ FK holds.

    Broadcast path: anti-join every non-null fact key against the dim
    key column as-is (duplicate build keys cannot change a left-anti
    result), then dedupe only the orphans — the one shuffle carries
    orphans, not the whole distinct key set, and the dim is never
    deduped by a job of its own. Sort-merge path: both sides shuffle
    for the join anyway, so deduping each first shrinks that shuffle.
    """
    keys = fact.select(F.col(fact_key).alias("fk")).where(F.col("fk").isNotNull())
    d = dim.select(F.col(dim_key).alias("fk"))
    if broadcast_dim:
        return keys.join(F.broadcast(d), on="fk", how="left_anti").distinct()
    return keys.distinct().join(d.distinct(), on="fk", how="left_anti")
