"""Explicit skew handling: salting + two-phase aggregation + hot-key
splitting for joins (north_rule: "skew from hot domains and head
entities is handled with key salting and adaptive repartitioning").

AQE's skew-join splitting covers sort-merge joins at runtime; these
helpers cover the cases AQE can't see: hash aggregations with a hot
group, and broadcast-side replication for hot probe keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_spread_salt(n_salt: int):
    """Salt that spreads EVERY row — including byte-identical duplicate
    rows, the common shape of a hot key in web corpora — by HASHING the
    per-row ordinal: ``pmod(xxhash64(monotonically_increasing_id()),
    n_salt)``. The hash matters: a bare ``pmod(id, n_salt)`` round-robin
    aliases with periodic row layouts (measured: a 50%-hot dataset whose
    hot rows sat at even positions used only half the salt values at
    n_salt=16). Placement-dependent (stable for scans + narrow plans,
    not across arbitrary reshuffles), which is safe exactly where a salt
    is safe: wherever the RESULT is salt-invariant (partial aggregation
    re-combined on the key; a join whose small side is replicated for
    every salt value)."""
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salt)).cast("int")


def two_phase_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    n_salt: int = 16,
) -> DataFrame:
    """Salted two-phase aggregation: groupBy (key, salt) -> partial, then
    groupBy key -> final. The salt is row-spreading (``row_spread_salt``
    — NOT a function of the group key, which would put every row of a hot
    key in one group and mitigate nothing), so any single reducer's input
    for the partial stage is bounded to ~1/n_salt of the hottest key.
    ``aggs``: output name -> 'count' | 'sum:col' | 'min:col' | 'max:col'
    | 'avg:col' (algebraic aggregates only — avg decomposes into a
    (sum, count) pair that re-combines)."""
    salted = df.withColumn("__salt", row_spread_salt(n_salt))
    partial_exprs = []
    final_exprs = []
    for name, spec in aggs.items():
        if spec == "count":
            partial_exprs.append(F.count("*").alias(f"__p_{name}"))
            final_exprs.append(F.sum(f"__p_{name}").alias(name))
        else:
            op, _, col = spec.partition(":")
            if op == "avg":
                partial_exprs.append(F.sum(col).alias(f"__ps_{name}"))
                partial_exprs.append(F.count(col).alias(f"__pc_{name}"))
                final_exprs.append((F.sum(f"__ps_{name}") / F.sum(f"__pc_{name}")).alias(name))
                continue
            fn = {"sum": F.sum, "min": F.min, "max": F.max}[op]
            partial_exprs.append(fn(col).alias(f"__p_{name}"))
            final_exprs.append(fn(f"__p_{name}").alias(name))
    partial = salted.groupBy(*key_cols, "__salt").agg(*partial_exprs)
    return partial.groupBy(*key_cols).agg(*final_exprs)


def split_hot_keys(
    big: DataFrame,
    small: DataFrame,
    key: str,
    hot_threshold: int = 100_000,
    n_salt: int = 8,
    keep_salt: bool = False,
) -> DataFrame:
    """Skewed equi-join: detect hot keys on the big side (one cheap
    count), replicate the small side n_salt times for hot keys, salt the
    big side — each hot key spreads over n_salt reducers. Cold keys join
    normally. Returns big ⋈ small with all columns of both."""
    counts = big.groupBy(key).agg(F.count("*").alias("__n"))
    hot = counts.filter(F.col("__n") >= hot_threshold).select(key)

    big_flag = big.join(F.broadcast(hot.withColumn("__hot", F.lit(True))), key, "left")
    # salt from row content MIXED with a per-row ordinal: content alone
    # degenerates when a hot key's rows are byte-identical duplicates
    # (they all hash to one salt value — the common web-corpus shape);
    # the ordinal (monotonically_increasing_id) spreads even identical
    # rows. The joined RESULT is salt-invariant — the small side is
    # replicated for every salt value — so placement-dependence of the
    # ordinal cannot change output (SURVEY.md §7 determinism rule holds
    # on results, which is what the rule protects).
    big_hot = big_flag.filter(F.col("__hot").isNotNull()).drop("__hot").withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in big.columns], F.monotonically_increasing_id(), F.lit("salt")),
            F.lit(n_salt),
        ).cast("int"),
    )
    big_cold = big_flag.filter(F.col("__hot").isNull()).drop("__hot")

    salt_values = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("__salt")
    small_hot = small.join(F.broadcast(hot), key, "left_semi").select("*", salt_values)
    small_cold = small.join(F.broadcast(hot), key, "left_anti")

    joined_hot = big_hot.join(small_hot, [key, "__salt"], "inner")
    joined_cold = big_cold.join(small_cold, key, "inner")
    if keep_salt:
        # exposes the (deterministic) partition assignment for tests/audit
        return joined_hot.unionByName(joined_cold.withColumn("__salt", F.lit(None).cast("int")))
    return joined_hot.drop("__salt").unionByName(joined_cold)
