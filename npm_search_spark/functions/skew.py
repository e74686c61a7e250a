"""Explicit skew handling: deterministic salting + two-phase aggregation
and hot-key split joins.

The north rule requires "explicit salting of hot registry/scope
partitions to control shuffle skew at 10^10-frontier scale". The engine
has three structurally hot key families:

- **hosts** (3 hot of ~6): handled by the politeness scheduler's
  histogram threshold top-k (frontier.politeness_schedule) — per-host
  bins computed driver-side, so pending is filtered, never shuffled; the
  right tool for exact per-key top-k.
- **scopes** (@types, @babel, ... own a huge share of packages): the
  right tool for per-scope aggregation is salting, implemented here.
  Spark's hash aggregation already two-phases *algebraic* aggregates
  (sum/count/min/max: partial map-side, merge reduce-side), so salting
  those is a no-op. The aggregates that DO funnel a hot key's entire
  group through one reduce task are the non-algebraic, holistic ones —
  collect_set/collect_list (state grows with the group). Those get an
  explicit salted two-phase here.
- **hot join keys**: when both join sides are large but only a few keys
  are hot, `skew_split_join` routes the hot keys through a broadcast
  plan and the long tail through the normal shuffle join — the static,
  plan-visible version of what AQE's skew-join split does at runtime
  (kept explicit because AQE only splits sort-merge partitions; a
  replicated-broadcast hot path also removes the shuffle of the hot
  rows entirely).

Salts are deterministic (xxhash64 of a value column, never rand()) so
replays and resume produce identical partitioning — the same discipline
as the rest of the engine (no Date.now / Math.random).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_col(src: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts) from any expression."""
    return F.pmod(F.xxhash64(src), F.lit(n_salts)).cast("int")


def salted_collect_set(
    df: DataFrame,
    keys: list[str],
    val: str | Column,
    n_salts: int = 32,
    out: str = "values",
    sort: bool = True,
) -> DataFrame:
    """collect_set(val) per key without funneling a hot key's whole group
    through one reduce task.

    Phase 1 groups by (keys, salt(val)) — a hot key's rows spread over
    ``n_salts`` reduce tasks, each building a partial set. Phase 2 merges
    the ≤ n_salts partial arrays per key (O(n_salts) rows per key however
    hot it is). Because the salt is derived from the value, equal values
    land in the same partial set and the merge needs no re-dedup across
    salts — flatten alone is exact; array_distinct is kept for safety on
    caller-supplied expressions. Output is sorted for deterministic
    downstream hashing."""
    val_col = F.col(val) if isinstance(val, str) else val
    p1 = (
        df.withColumn("_sval", val_col)
        .withColumn("_salt", salt_col(F.col("_sval"), n_salts))
        .groupBy(*keys, "_salt")
        .agg(F.collect_set("_sval").alias("_part"))
    )
    merged = F.array_distinct(F.flatten(F.collect_list("_part")))
    if sort:
        merged = F.array_sort(merged)
    return p1.groupBy(*keys).agg(merged.alias(out))


def salted_count_distinct(
    df: DataFrame,
    keys: list[str],
    val: str | Column,
    n_salts: int = 32,
    out: str = "n_distinct",
) -> DataFrame:
    """count(distinct val) per key, salted: phase 1 counts distinct values
    within (key, salt) groups; equal values share a salt, so phase 2 just
    sums the partial counts."""
    val_col = F.col(val) if isinstance(val, str) else val
    p1 = (
        df.withColumn("_sval", val_col)
        .withColumn("_salt", salt_col(F.col("_sval"), n_salts))
        .groupBy(*keys, "_salt")
        .agg(F.count_distinct("_sval").alias("_part"))
    )
    return p1.groupBy(*keys).agg(F.sum("_part").cast("long").alias(out))


def skew_split_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    hot_keys: list,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where a known-hot key list takes the broadcast path.

    Cold keys join normally (shuffle both sides by key). Hot keys — the
    ones that would each flood a single shuffle partition — join with the
    hot slice of ``right`` broadcast, so their rows never shuffle at all.
    ``hot_keys`` is expected to be tiny (the structurally hot scopes /
    hosts); the broadcast side is right's hot-key slice, which must fit
    in executor memory (same contract as any broadcast dim)."""
    # NULL keys route to the cold branch (isin is NULL for NULL keys, which
    # would silently drop them from BOTH branches — wrong for outer joins,
    # where a NULL-key left row must survive with NULL right columns)
    is_hot = F.coalesce(F.col(key).isin(hot_keys), F.lit(False))
    cold = left.where(~is_hot).join(right.where(~is_hot), key, how)
    hot = left.where(is_hot).join(F.broadcast(right.where(is_hot)), key, how)
    return cold.unionByName(hot)
