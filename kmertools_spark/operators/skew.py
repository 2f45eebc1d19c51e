"""Explicit skew handling: salted two-phase aggregation and the
hot-key split the skew routers share.

The engine-side analog of the reference's `min_mer % n_parts` explicit
sharding (X2, counter/src/lib.rs:127, 243-247). AQE's skew mitigation
only covers joins; skewed groupBy-heavy aggregations (collect_list
buckets, applyInPandas groups) need explicit salting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

SALT = "__salt"


def hot_keys(df: DataFrame, key: str, threshold: int, **extra: Column) -> list[Row]:
    """The sizing pass both skew routers share: one row per hot ``key``
    (more than ``threshold`` rows of ``df``), holding the key and each
    ``extra`` per-key aggregate under its keyword name, computed in the
    same map-side-combined groupBy as the count.

    The rows are collected to the driver, so memory there is bounded by
    one row per hot key (a short list by construction). NULL keys are
    never hot.
    """
    aggs = [F.count(F.lit(1)).alias("__n")] + [c.alias(n) for n, c in extra.items()]
    return [
        r
        for r in df.groupBy(key)
        .agg(*aggs)
        .where(F.col("__n") > threshold)
        .select(key, *extra)
        .collect()
        if r[0] is not None
    ]


def hot_key_split(df: DataFrame, key: str, threshold: int) -> Column | None:
    """Predicate that is True on the rows of every hot ``key`` (see
    ``hot_keys``), or None when no key is hot. NULL keys route cold: the
    coalesce turns isin()'s NULL into False, because both where(pred)
    and where(~pred) drop rows whose predicate is NULL.
    """
    hot = [r[0] for r in hot_keys(df, key, threshold)]
    if not hot:
        return None
    return F.coalesce(F.col(key).isin(hot), F.lit(False))


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Load-spreading salt in [0, n_salts) from
    monotonically_increasing_id's partition-local counter. NOT
    deterministic across partitionings or re-evaluations and NOT a
    hash — never use it as a semantic or reproducibility key; it only
    spreads a hot group's rows across reducers, and the two-phase
    aggregations below erase it again (code-review r5 corrected the
    docstring, which claimed a deterministic hash).
    """
    return df.withColumn(
        SALT, F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int")
    )


def salted_sum(
    df: DataFrame, keys: list[str], value: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase sum: groupBy(keys + salt) partial, then groupBy(keys)."""
    phase1 = (
        with_salt(df, n_salts)
        .groupBy(*keys, SALT)
        .agg(F.sum(value).alias(value))
    )
    return phase1.groupBy(*keys).agg(F.sum(value).alias(value))


def salted_collect_list(
    df: DataFrame, keys: list[str], col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase collect_list: per-salt partial lists, then flatten.

    Order within the result list is non-deterministic (as is plain
    collect_list); sort downstream when determinism matters.
    """
    phase1 = (
        with_salt(df, n_salts)
        .groupBy(*keys, SALT)
        .agg(F.collect_list(col).alias("__part"))
    )
    return phase1.groupBy(*keys).agg(
        F.flatten(F.collect_list("__part")).alias(f"{col}s")
    )
