"""Relational operator library — SURVEY.md §2.2-§2.7.

Composable DataFrame -> DataFrame functions. Everything is lazy and
declarative: Catalyst chooses physical strategies (broadcast vs
sort-merge, pushdown, pruning) and AQE re-plans at runtime. The
reference hand-rolls each of these as pandas/dict loops (citations
inline); none of them needs custom physical code in Spark.

Scale notes per operator are in the docstrings — the design target is
a 1000-executor cluster over ~100 TB, not the local[32] test harness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(18,9)"  # exact-arithmetic staging type; products stay <= 38 digits


def coerce_numeric(df: DataFrame, cols: list[str], typ: str = "double") -> DataFrame:
    """P1: `pd.to_numeric(errors='coerce')` parity — invalid -> NULL.

    Reference: backend/main.py:196-197. ``try_cast`` keeps the whole
    projection inside codegen.
    """
    return df.withColumns({c: F.col(c).try_cast(typ) for c in cols})


def drop_null_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """P2: dropna(subset=keys) (backend/main.py:201)."""
    return df.na.drop(subset=keys)


def sum_by_normalized_key(
    df: DataFrame, key: Column, qty: Column, key_name: str, out_name: str
) -> DataFrame:
    """A2/A3: Σ qty per lower(key), 9-dp exact decimal arithmetic.

    Reference builds a Python dict accumulator (backend/main.py:459-476);
    here it is a hash aggregate with map-side partial aggregation — the
    shuffle moves one row per distinct key per task, not the fact table.
    Decimal staging keeps the sum exact (and thus deterministic across
    partition orders, which float sums are not).
    """
    return df.groupBy(F.lower(key).alias(key_name)).agg(
        F.sum(qty.cast(DEC)).cast("decimal(38,2)").cast("double").alias(out_name)
    )


def first_match_join(
    left: DataFrame,
    right: DataFrame,
    left_key: Column,
    right_key: Column,
    order_col: str,
    right_cols: list[str],
) -> DataFrame:
    """J4 + W2: left join taking the *first* right-side match.

    The reference's ``.iloc[0]`` after a name filter
    (backend/main.py:485-503) is source-order-dependent; we impose a
    deterministic tie-break (min ``order_col``) via row_number() before
    the join, as SURVEY §7 requires. The deduped right side is small
    (one row per key) so AQE typically broadcasts it.
    """
    w = Window.partitionBy(F.lower(right_key)).orderBy(F.col(order_col))
    right_first = (
        right.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.lower(right_key).alias("__jk"), *right_cols)
    )
    return left.join(
        right_first, F.lower(left_key) == F.col("__jk"), "left"
    ).drop("__jk")


def exists_flag_join(
    left: DataFrame, right: DataFrame, left_key: Column, right_key: Column,
    flag_name: str = "exists_in_right",
) -> DataFrame:
    """J5: existence map -> boolean flag column.

    Reference probes a dict (backend/main.py:810-819,846-867); here a
    left join against the distinct key set + isNotNull flag. Pure
    membership filters should use left_semi/left_anti instead (no
    payload moves across the shuffle).
    """
    keys = right.select(F.lower(right_key).alias("__jk")).distinct()
    return (
        left.join(keys, F.lower(left_key) == F.col("__jk"), "left")
        .withColumn(flag_name, F.col("__jk").isNotNull())
        .drop("__jk")
    )


def argmax_per_group(
    df: DataFrame, group: Column, order: Column, group_name: str
) -> DataFrame:
    """A5/W1: keep the max-`order` row per group, deterministic.

    Reference: client-side loop (ui CompareData.js:26-43). row_number
    over (group, order desc) — a single shuffle on the group key; at
    scale prefer this over sort-based top-k since the window frame is
    row_number-only (no full-frame buffering).
    """
    w = Window.partitionBy(group).orderBy(order.desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def conditional_counts(df: DataFrame, conds: dict[str, Column]) -> DataFrame:
    """A4: matches/mismatches/... counters in ONE pass.

    Reference and UI each re-scan per counter (LiveDataComparison.js:
    432-456); one aggregate with count_if avoids N scans of 100 TB.
    """
    aggs = [F.count(F.lit(1)).alias("total_records")]
    aggs += [F.count_if(c).alias(name) for name, c in conds.items()]
    return df.agg(*aggs)


def running_inventory_batch(
    movements: DataFrame,
    product_key: str,
    qty: Column,
    is_usage: Column,
    clamp: bool = True,
) -> DataFrame:
    """A10 (batch form): signed-sum of movements per product, clamped >= 0.

    Reference mutates ``onHand.amount`` row-by-row with a clamp at each
    step (backend/main.py:1770-1789) — order-dependent. The batch
    signed-sum below is the associative (scale-friendly) semantics; the
    faithful order-dependent version lives in streaming/stateful.py.
    """
    signed = F.when(is_usage, -qty).otherwise(qty).cast(DEC)
    out = movements.groupBy(product_key).agg(
        F.sum(signed).cast("decimal(38,2)").cast("double").alias("on_hand")
    )
    if clamp:
        out = out.withColumn("on_hand", F.greatest(F.lit(0.0), F.col("on_hand")))
    return out


def distinct_keys(df: DataFrame, key: Column, name: str) -> DataFrame:
    """A11: distinct-set aggregation (backend/bakery_helper.py:430-438)."""
    return df.select(key.alias(name)).distinct()


def dedup_by_key(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """A12 (read-side): one row per key, deterministic keeper (min order_col).

    ``dropDuplicates`` keeps an arbitrary row; for oracle-comparable
    results we keep the row_number()==1 row under an explicit ordering.
    Write-side idempotency (ON CONFLICT upsert) is plans/ledger.py.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def paginate(df: DataFrame, order: list[Column], offset: int, size: int) -> DataFrame:
    """O6: deterministic OFFSET+LIMIT pagination (backend/main.py:1695-1696).

    Requires a total order (callers must include a unique key in
    ``order``). Spark >= 3.4 supports offset() natively.
    """
    return df.orderBy(*order).offset(offset).limit(size)


def collect_group_array(
    df: DataFrame, group: list[str], item: Column, out_name: str
) -> DataFrame:
    """A8: per-group array collect, deterministically sorted.

    Reference appends to a list per product (backend/main.py:1780-1788).
    ``sort_array(collect_list(...))`` makes the result order-insensitive
    to partitioning — required both for oracle parity and for stable
    results under AQE.
    """
    return df.groupBy(*group).agg(F.sort_array(F.collect_list(item)).alias(out_name))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-mitigated equi-join: salt the skewed (left) side.

    For hot keys (one key = a large fraction of rows), a plain shuffle
    join lands the whole key on one task. Salting splits each left key
    into ``salt_buckets`` sub-partitions via a DETERMINISTIC per-row
    hash (xxhash64 of the whole row — stable under retries/speculation,
    unlike rand()), and replicates the right side once per salt value,
    so the hot key spreads over ``salt_buckets`` tasks.

    AQE's skew-join splitting (on in session.py) handles moderate skew
    automatically; this operator is the explicit fix for extreme cases
    (and for non-sort-merge plans AQE won't rewrite). Replication
    multiplies the right side x salt_buckets — use with a small-ish
    right side, or prefer broadcast when it fits.

    Supports how='inner'/'left': every left row keeps exactly one salt,
    so no duplicates/losses; right rows replicate to all salts.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    salted_l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])),
               F.lit(salt_buckets)).cast("int"),
    )
    salted_r = right.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    return salted_l.join(salted_r, [key, "__salt"], how).drop("__salt")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """As-of (last-value-before) join — a SQL ASOF JOIN composition.

    For each left row, attach the most recent right row with
    right_ts <= left_ts per key. Spark has no native ASOF operator;
    this is the standard union+window composition: tag both sides,
    sort (key, ts, side) with right-before-left at equal ts
    (inclusive semantics), and carry values forward with
    last(ignorenulls) over an unbounded-preceding frame.

    Requires right to be UNIQUE per (on, right_ts) — pre-aggregate
    ties away, or the carried value is nondeterministic (same
    constraint DuckDB's ASOF JOIN resolves arbitrarily).

    Scale: ONE shuffle on the key; the window sorts within each key
    partition. Cost is the per-key row count (left+right) — the same
    partitioning a merge-based native asof would need. Skewed keys
    split via AQE; there is no cross-key data movement.
    """
    value_cols = value_cols or [c for c in right.columns if c not in (on, right_ts)]
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c) for c in value_cols],
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(c) for c in value_cols],
    )
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r.unionByName(l)
    for c in value_cols:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return (
        filled.filter(F.col("__side") == 1)
        .select(F.col(on), F.col("__ts").alias(left_ts), *value_cols)
    )


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
) -> DataFrame:
    """Point-in-interval join via day-bin equi-join + exact filter.

    A plain `p.ts BETWEEN i.start AND i.end` predicate gives Spark a
    broadcast-nested-loop plan — O(|points| x |intervals|) and only
    viable when one side broadcasts. The scale form bins time: each
    interval explodes into its covered day bins, points map to one
    bin, and the join becomes an EQUI-join on the bin key (shuffle
    co-location, AQE-eligible) with the exact containment check as a
    post-filter. Work is O(points + interval-days + true-ish matches):
    candidates are only pairs sharing a day, never the cross product.

    Bin width trades replication (long intervals -> many bins) against
    candidate precision; day bins fit the reference's date-granular
    windows (F14's days_back).
    """
    p = points.withColumn("__bin", F.to_date(F.col(point_ts)))
    i = intervals.withColumn(
        "__bin",
        F.explode(F.sequence(F.to_date(F.col(start_ts)), F.to_date(F.col(end_ts)))),
    )
    return (
        p.join(i, "__bin")
        .filter(
            (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) <= F.col(end_ts))
        )
        .drop("__bin")
    )
