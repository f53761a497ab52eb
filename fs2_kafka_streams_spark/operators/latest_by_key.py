"""Latest-value-per-key (KTable materialization) — the reference's core op.

Reference semantics (``streams/Tables.scala:46-70``, ``streams/Table.scala:52-56``):
fold a keyed changelog into ``Map[K, V]`` where the last write wins; "last" is
changelog order, i.e. highest (offset) — here generalized to any ordering
column tuple.

Spark-first design: ``max_by(struct(payload), struct(order_cols))`` — a single
hash aggregation with map-side partial aggregation (each task keeps one
candidate row per key before the shuffle), so shuffle volume is
O(distinct keys), not O(rows). At 100 TB this is the right primitive: no
window function (which would sort entire partitions), no self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str] | None = None,
    unique_order: bool = False,
) -> DataFrame:
    """Return one row per key: the row with the greatest ``order_cols`` tuple.

    Ties on the full ``order_cols`` tuple are broken by the greatest value
    tuple so the result is deterministic (the reference never ties: Kafka
    offsets are unique per partition). When the caller KNOWS ``order_cols``
    is unique per key (an offset, a (ts, event_id) pair), pass
    ``unique_order=True``: the comparator struct then carries only the
    order columns, halving per-key aggregation state and map-side shuffle
    bytes for wide payloads — the tie-break columns are dead weight when
    no tie can occur.
    """
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in key_cols]
    tiebreak = (
        [] if unique_order
        else [F.col(c) for c in value_cols if c not in order_cols]
    )
    ordering: Column = F.struct(
        *[F.col(c) for c in order_cols], *tiebreak
    )
    picked = F.max_by(
        F.struct(*[F.col(c) for c in value_cols]), ordering
    ).alias("_latest")
    out = df.groupBy(*[F.col(k) for k in key_cols]).agg(picked)
    return out.select(
        *[F.col(k) for k in key_cols],
        *[F.col(f"_latest.{c}").alias(c) for c in value_cols],
    )


def latest_by_key_salted(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str] | None = None,
    salt: int = 8,
    unique_order: bool = False,
    hot_keys: Sequence | None = None,
) -> DataFrame:
    """Two-level salted form of :func:`latest_by_key` for hot-key skew:
    level 1 folds per ``(key, salt)`` sub-group, level 2 merges the at
    most ``salt`` partials per key. The fold is associative and
    commutative (max by an ordering tuple), so the result is EXACTLY
    :func:`latest_by_key` — equivalence-tested on hot-key corpora in
    tests/test_salted_fold.py.

    When to use: the built-in hash aggregation already absorbs batch skew
    via map-side partial aggregation (each task keeps one candidate per
    key before the shuffle), so for the PLAIN aggregation this helper
    mostly documents the shape. It matters where no partial aggregation
    exists — a grouped-map fold (``applyInPandas``: ALL rows of a key land
    in one task) — and as the batch oracle for the two-level STREAMING
    fold (``streaming/stateful.py::latest_by_key_streaming_salted``). That
    fold is this same aggregation with the ``_salt`` key, so it too
    partially aggregates before its state shuffle; SCALE.md "Skew axis"
    carries per-trigger numbers measured on an earlier Python fold.

    The salt is a deterministic row hash (``operators/joins.py::
    deterministic_salt``) — retry-safe; never ``spark_partition_id``.
    Ties on ``order_cols`` resolve identically to the unsalted form: each
    level breaks ties by greatest value tuple, and max-of-maxes equals the
    global max.

    ``hot_keys`` (single-column keys only) restricts the salting to the
    listed hot key values — everything else keeps ``_salt = 0``, so the
    level-1 group count stays O(keys) + salt × |hot_keys| instead of
    multiplying EVERY key's group by ``salt`` (measured on the streaming
    twin: full salting is a per-group-overhead regression, SCALE.md
    "Skew axis").
    """
    from fs2_kafka_streams_spark.operators.joins import (
        deterministic_salt,
        hot_key_condition,
    )

    if value_cols is None:
        value_cols = [c for c in df.columns if c not in key_cols]
    if "_salt" in df.columns:
        raise ValueError(
            "latest_by_key_salted reserves column name '_salt'; rename "
            "the conflicting input column"
        )
    salt_expr = deterministic_salt(df, salt, op_name="latest_by_key_salted")
    if hot_keys is not None:
        if len(key_cols) != 1:
            raise ValueError(
                "hot_keys targeting requires a single key column; salt "
                "everything (hot_keys=None) for composite keys"
            )
        # shared predicate (operators/joins.py): None in the list targets
        # the NULL-key group, which plain isin() can never match
        salt_expr = (
            F.when(hot_key_condition(key_cols[0], hot_keys), salt_expr)
            .otherwise(F.lit(0))
            .cast("int")
        )
    salted = df.withColumn("_salt", salt_expr)
    # the partials must CARRY the order columns for the second level to
    # re-order on, even when the caller's value_cols excludes them
    carry = list(value_cols) + [c for c in order_cols if c not in value_cols]
    partials = latest_by_key(
        salted,
        list(key_cols) + ["_salt"],
        order_cols,
        carry,
        unique_order=unique_order,
    )
    # at most `salt` rows per key reach the second level, so its shuffle
    # is O(keys·salt) regardless of how hot any one key is
    merged = latest_by_key(
        partials, key_cols, order_cols, carry, unique_order=unique_order
    )
    return merged.select(*key_cols, *value_cols)
