"""Join operators (SURVEY §2.3, J1-J8).

Design rules (scale-first):

- **Prune before joining.** Select only needed columns on both sides so
  shuffle/broadcast payloads stay minimal and name collisions cannot
  arise (replaces the reference's pandas ``_x``/``_y`` + fillna
  machinery, etl_cid10.py:59-67,342-348).
- **Broadcast small dims explicitly.** All the reference's dims
  (chapters=22, blocks≈275, categories≈2k) are far under any broadcast
  threshold; at 100 TB the fact side never re-shuffles for these joins.
- **Range joins are broadcast theta joins**, replacing the reference's
  O(N·M) driver-side nested loops (etl_cid10.py:296-325).  Spark plans a
  BroadcastNestedLoopJoin: each fact partition scans the tiny broadcast
  interval table — embarrassingly parallel, no shuffle of the big side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def left_broadcast_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | Column,
    how: str = "left",
) -> DataFrame:
    """J1-J5 — equi join with an explicit broadcast hint on the dim side
    (etl_cid10.py:55,57,70,136,175,340)."""
    return left.join(F.broadcast(right), on, how)


def range_join(
    facts: DataFrame,
    intervals: DataFrame,
    key: str,
    start: str,
    end: str,
    how: str = "left",
    first_match_order: Sequence[str] | None = None,
    fact_key: str | Sequence[str] | None = None,
) -> DataFrame:
    """J6/J7 — interval-membership join: ``start <= key <= end``
    (etl_cid10.py:266-325).

    *intervals* is broadcast; comparison is lexicographic when the
    columns are strings (correct for fixed-width ICD codes, SURVEY
    §4.2.4).  ``first_match_order`` reproduces the reference's
    first-match-wins ``break`` (etl_cid10.py:306,310,323) for
    potentially-overlapping intervals: keep one match per fact row,
    choosing the interval with the smallest values of those columns.
    For disjoint intervals (real DataSUS data) pass ``None`` and skip
    the window entirely — no shuffle at all.  ``fact_key`` (default:
    *key*) identifies a fact row for the tie-break window; pass the
    fact table's unique key when *key* is not unique.
    """
    pred = F.col(key).between(F.col(start), F.col(end))
    joined = facts.join(F.broadcast(intervals), pred, how)
    if first_match_order is None:
        return joined
    part = [fact_key] if isinstance(fact_key, str) else list(fact_key or [key])
    order = [F.col(c).asc_nulls_last() for c in first_match_order]
    w = Window.partitionBy(*[F.col(c) for c in part]).orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def range_join_bucketed(
    facts: DataFrame,
    value: str,
    intervals: DataFrame,
    lo: str,
    hi: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Scalable interval-membership join: ``lo <= value <= hi`` as an
    EQUI join on a derived bucket key plus a residual range filter.

    :func:`range_join` broadcasts the interval table and lets Catalyst
    plan a BroadcastNestedLoopJoin — right for dim-sized intervals
    (etl_cid10.py:266-325 has ~275 blocks), but a nested loop over two
    big inputs is O(N*M) and a non-broadcastable interval table leaves
    Spark only a cartesian plan.  Bucketing restores a shuffle-hash
    path: each interval row is replicated to every width-*bucket_width*
    bucket it overlaps (``sequence(floor(lo/w), floor(hi/w))`` +
    explode), each fact row computes its single bucket, and the join
    becomes ``fact.bucket == interval.bucket AND value BETWEEN lo AND
    hi``.  A fact's bucket is unique, so a qualifying (fact, interval)
    pair meets in exactly one bucket — no dedup pass needed.  Pick
    *bucket_width* near the median interval width: replication factor
    is ``1 + width/bucket_width`` while bucket selectivity stays high.
    Both sides shuffle by bucket (or the interval side broadcasts if it
    fits) — either way, never a nested loop.
    """
    w = float(bucket_width)
    b_fact = F.floor(F.col(value) / w).alias("__bucket")
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / w).cast("long"),
                F.floor(F.col(hi) / w).cast("long"),
            )
        ),
    )
    pred = (
        (F.col("__fb") == F.col("__bucket"))
        & (F.col(value) >= F.col(lo))
        & (F.col(value) <= F.col(hi))
    )
    out = facts.withColumn("__fb", b_fact).join(iv, pred, how)
    return out.drop("__fb", "__bucket")


def interval_overlap_join_bucketed(
    left: DataFrame,
    l_lo: str,
    l_hi: str,
    right: DataFrame,
    r_lo: str,
    r_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Interval × interval OVERLAP join (``l_lo <= r_hi AND r_lo <=
    l_hi``) as an equi join on a derived bucket key — the big-big
    companion to :func:`range_join_bucketed`, which handles only
    point-in-interval.

    Both sides replicate each interval to every width-*bucket_width*
    bucket it touches (explode of a small ``sequence``), the join
    becomes ``bucket == bucket AND overlap``, and Catalyst gets a
    shuffle-hash/broadcast path instead of the nested loop a raw theta
    join forces.  Two overlapping intervals share every bucket of
    their intersection, so each qualifying pair would match once per
    shared bucket; the pair is emitted only in the FIRST shared bucket
    (``max(first_bucket(l), first_bucket(r))``), which exists exactly
    when they overlap — no dedup shuffle.

    Pick *bucket_width* near the median interval width: replication is
    ``1 + width/bucket_width`` per side.  Interval bound columns must
    be numeric (cast dates to epoch days first).
    """
    w = float(bucket_width)

    def replicate(df: DataFrame, lo: str, hi: str, bucket: str) -> DataFrame:
        return df.withColumn(
            bucket,
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / w).cast("long"),
                    F.floor(F.col(hi) / w).cast("long"),
                )
            ),
        )

    lrep = replicate(left, l_lo, l_hi, "__bl")
    rrep = replicate(right, r_lo, r_hi, "__br")
    first_shared = F.greatest(
        F.floor(F.col(l_lo) / w).cast("long"),
        F.floor(F.col(r_lo) / w).cast("long"),
    )
    pred = (
        (F.col("__bl") == F.col("__br"))
        & (F.col(l_lo) <= F.col(r_hi))
        & (F.col(r_lo) <= F.col(l_hi))
        & (F.col("__bl") == first_shared)
    )
    return lrep.join(rrep, pred, "inner").drop("__bl", "__br")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str | Sequence[str],
    left_ts: str,
    right_ts: str | None = None,
    allow_exact: bool = True,
) -> DataFrame:
    """Backward as-of join: for every left row, attach the right row
    with the greatest ``right_ts <= left_ts`` (``<`` when
    *allow_exact* is false) within the same *by* key — the standard
    time-series "latest observation" join (DuckDB/Polars/pandas
    ``ASOF JOIN``; absent from the reference and from Spark built-ins).

    Scale design: NOT a range join (no interval explosion) and NOT a
    per-key ``groupBy().applyInPandas`` (no Python path).  Both sides
    are tagged and unioned, then one window pass per key fills the
    latest right payload forward — a single hash shuffle on *by* plus a
    per-partition sort, the same cost profile as the priority-dedup
    window (A3).  Survives 100 TB as long as single keys fit a
    partition; for hot keys pre-aggregate the right side or split by
    time range.

    Right rows must be unique per ``(by, right_ts)`` for a
    deterministic result (pre-aggregate otherwise).  Right payload
    column names must not collide with left column names.  Unmatched
    left rows keep NULL right columns (left-outer semantics).
    """
    keys = [by] if isinstance(by, str) else list(by)
    right_ts = right_ts or left_ts
    left_payload = [c for c in left.columns if c not in keys]
    right_payload = [c for c in right.columns if c not in keys and c != right_ts]
    clash = set(right_payload) & set(left.columns)
    if clash:
        raise ValueError(f"right payload collides with left columns: {sorted(clash)}")

    # side ordering at equal ts decides whether an exact-ts right row
    # is visible to the left row's window frame
    l_side, r_side = (1, 0) if allow_exact else (0, 1)
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(r_side).alias("__side"),
        F.struct(*right_payload).alias("__r"),
    )
    r_struct_t = r_tagged.schema["__r"].dataType
    l_tagged = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(l_side).alias("__side"),
        F.lit(None).cast(r_struct_t).alias("__r"),
        F.struct(*left_payload).alias("__l"),
    )
    l_struct_t = l_tagged.schema["__l"].dataType
    u = l_tagged.unionByName(
        r_tagged.withColumn("__l", F.lit(None).cast(l_struct_t))
    )
    # right rows first at equal (ts, allow_exact): asc puts __side=0 first
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    return matched.filter(F.col("__side") == l_side).select(
        *keys,
        *[F.col(f"__l.{c}").alias(c) for c in left_payload],
        *[F.col(f"__m.{c}").alias(c) for c in right_payload],
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-splitting equi join: the left (skewed) side's hot keys are
    spread across *salt_buckets* sub-keys; the right side is replicated
    once per bucket, so a single hot key's rows land on many tasks
    instead of one straggler.

    When to use: AQE's skew-join handling
    (``spark.sql.adaptive.skewJoin``) already splits oversized
    SortMergeJoin partitions at runtime and should be the FIRST answer
    to join skew.  Reach for explicit salting when AQE can't help —
    broadcast-ineligible joins feeding a window over the same hot key,
    skew in the build side, or engines/paths where AQE is off.  Cost:
    the right side is materialized ``salt_buckets``× (keep it the
    smaller input), and the join keys widen by one int column.

    Salt is derived deterministically from a hash of the left row's
    full key tuple plus its partition-local position — no RNG, stable
    under retries.  Results are row-identical to the unsalted join
    (asserted in tests); only the physical distribution changes.
    """
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns], F.spark_partition_id()),
        F.lit(salt_buckets),
    ).cast("int")
    salted_left = left.withColumn("__salt", salt)
    replicated_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return salted_left.join(replicated_right, keys + ["__salt"], how).drop("__salt")
