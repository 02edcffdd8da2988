"""Aggregation helpers (SURVEY §2.4) + deterministic-output utilities.

The reference's only aggregates are a row count and a conditional count
(etl_cid10.py:190-193,365-368); the engine exposes them plus the
general grouped-aggregation surface as thin declarative wrappers.

Determinism note for oracle parity: floating-point SUM order is not
associative, so cross-engine hash comparison of raw double sums can
flip in the last ulp.  :func:`decimal_sum` aggregates money-like
doubles as exact decimals (deterministic in any partition order), then
the caller rounds/casts once at the end — the pattern every oracle
query in ``__spark_entry__`` uses.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def decimal_sum(c: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Exact (order-independent) sum of a money-like double column:
    cast each value to DECIMAL first, sum in decimal arithmetic."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(f"decimal({precision},{scale})"))


def money(c: Column) -> Column:
    """Render an exact decimal aggregate as a stable double for output
    (round to cents then cast — deterministic both here and in DuckDB)."""
    return F.round(c, 2).cast("double")


def count_if(cond: Column) -> Column:
    """A2 — conditional count (etl_cid10.py:191,366)."""
    return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")


def quality_counts(df: DataFrame, *null_cols: str) -> dict[str, int]:
    """A1/A2 — the reference's end-of-run quality metrics as a dict
    instead of prints (etl_cid10.py:190-193,365-368): total rows and
    rows where ANY of *null_cols* is NULL.  One job, one pass."""
    missing_pred = None
    for c in null_cols:
        p = F.col(c).isNull()
        missing_pred = p if missing_pred is None else (missing_pred | p)
    agg = [F.count(F.lit(1)).alias("total")]
    if missing_pred is not None:
        agg.append(count_if(missing_pred).alias("missing"))
    row = df.agg(*agg).collect()[0]
    out = {"total": row["total"]}
    if missing_pred is not None:
        out["missing_hierarchy"] = row["missing"]
    return out


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    salt_buckets: int = 16,
    salt_on: Column | str | None = None,
) -> DataFrame:
    """Two-stage (salted) aggregation for skewed group keys.

    A single ``groupBy(keys)`` sends every row of a hot key to one
    reducer; at 100 TB one executor drags the stage.  Here rows first
    aggregate on ``keys + salt`` (the salt spreads each hot key over
    *salt_buckets* reducers), then the partials merge in a second,
    tiny aggregation on ``keys`` alone.  Results are exactly equal to
    the direct form for decomposable aggregates.

    *aggs* maps output column name → partial-stage aggregate expression;
    the merge stage re-aggregates the partials by name: SUM for sums
    and counts, MIN/MAX for min/max (pass ``merge_`` prefixed names —
    ``sum_x``/``cnt_x``/``min_x``/``max_x`` — so the merge function is
    inferred from the prefix).

    *salt_on* defaults to a deterministic hash of all non-key columns'
    first key — pass an id column for a stable spread.  AQE's skew-join
    handling covers joins; this covers aggregations, where AQE cannot
    split a hot reduce key.
    """
    salt_src = F.col(salt_on) if isinstance(salt_on, str) else salt_on
    if salt_src is None:
        salt_src = F.spark_partition_id()
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_buckets)))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )
    merges = []
    for name in aggs:
        if name.startswith(("sum_", "cnt_", "n_")):
            merges.append(F.sum(name).alias(name))
        elif name.startswith("min_"):
            merges.append(F.min(name).alias(name))
        elif name.startswith("max_"):
            merges.append(F.max(name).alias(name))
        else:
            raise ValueError(
                f"salted_agg cannot infer merge for {name!r}; "
                "use a sum_/cnt_/n_/min_/max_ prefix"
            )
    return partial.groupBy(*keys).agg(*merges)


def observed_quality(df: DataFrame, name: str, *null_cols: str):
    """A1/A2 quality counters via ``DataFrame.observe`` — the
    zero-extra-pass form of :func:`quality_counts`: metrics accumulate
    AS the main action runs instead of costing a second scan (the
    reference recomputes its counts with dedicated passes,
    etl_cid10.py:190-193,365-368; at 100 TB a metrics-only rescan is
    real money).  Returns the observed DataFrame; read the metrics
    from ``Observation.get`` after the action, or via a
    ``QueryExecutionListener`` in production.
    """
    from pyspark.sql import Observation

    missing_pred = None
    for c in null_cols:
        p = F.col(c).isNull()
        missing_pred = p if missing_pred is None else (missing_pred | p)
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("total")]
    if missing_pred is not None:
        metrics.append(count_if(missing_pred).alias("missing"))
    return df.observe(obs, *metrics), obs


#: Max edges evaluated as one flat when-chain in :func:`_range_bucketed`
#: — wider bucket counts split into the two-level hybrid instead.  Two
#: measured ceilings set this: janino's 64 KB method limit (a
#: 1023-branch chain, flat or nested, fails to compile and drops the
#: whole stage to interpreted eval) and percentile_approx extraction
#: cost, which scales with the QUANTILE COUNT (63 quantiles
#: A/B-measured ~2× the wall of 31 on every dependent query) — so no
#: path ever computes more than 31 quantiles.
_FLAT_MAX_EDGES = 32

#: Adaptive ``n_buckets`` tiers (round 8, VERDICT r7 #1).  The helpers'
#: default bucket count is resolved per input from Catalyst's
#: plan-size estimate: SMALL = one flat percentile level (the widest
#: chain that still codegens), LARGE = the two-level hybrid.  The
#: binary split mirrors the cost structure — the second level's
#: min/max rollup + broadcast join is a FIXED extra cost
#: (A/B-measured 2.5×: 5.80 s vs 2.32 s on a representative sf0.1
#: helper call) that only pays off when single-level per-task sorts
#: (≈ rows/32) would out-grow an executor's sort budget.
_ADAPTIVE_TINY_BUCKETS = 8
_ADAPTIVE_SMALL_BUCKETS = _FLAT_MAX_EDGES
_ADAPTIVE_LARGE_BUCKETS = 1024
#: Tier edges on the plan-size estimate.  TINY (8 buckets, 7
#: quantiles) exists because percentile_approx cost scales with the
#: QUANTILE COUNT (the r7 finding that capped the flat chain at 31):
#: interleaved A/B at sf0.1 measured 8 buckets beating 32 on every
#: dependent query (rfm 4.22→3.48 s, weighted_median 3.77→3.12 s).
#: 32 MiB of plan-estimated bytes is ≲ ~2-8M narrow rows, so the
#: TINY tier's rows/8 per-task sort stays ≤ ~1M rows.  SMALL (one
#: flat 32-bucket level) carries to 256 MiB — ~5-50M rows, where a
#: rows/32 sort still fits an executor comfortably — and LARGE (the
#: two-level 1024 hybrid) takes everything beyond.  The estimate errs
#: small for compressed leaf scans (parquet bytes < in-memory bytes),
#: which errs toward a cheaper tier only within each threshold's ~10×
#: safety margin; callers at known extreme scale can always pass
#: ``n_buckets`` explicitly.  Round-9 crossover sweep (table in
#: BASELINE.md; the sweep script is in commit 9bd0d2c): the measured
#: 8↔32 crossover lies between 12 and 37 MiB of plan estimate — the
#: 32 MiB TINY edge sits inside the band — and n=32 still beats
#: n=1024 at 105 MiB (the largest local slice), so 256 MiB stays the
#: conservative extrapolated hybrid edge.
_ADAPTIVE_TINY_THRESHOLD = 32 << 20
_ADAPTIVE_SIZE_THRESHOLD = 256 << 20


#: Estimate head-room multiplier applied when the plan contains a
#: ``Generate`` (explode) node — ADVICE r8 #3: Catalyst's no-CBO
#: stats do not grow past the child through a Generate, and the leaf
#: bound reads COMPRESSED parquet bytes, so an explode-fed input can
#: undershoot far past the thresholds' documented ~10× safety margin
#: and land a genuinely large input in the TINY tier (recreating the
#: per-task sorts the helpers exist to avoid).  16× covers typical
#: token-per-row fan-outs at the compressed-to-exploded boundary;
#: callers exploding far wider than that at known scale should pin
#: ``n_buckets`` explicitly (speed-only either way — tier choice never
#: affects values).  Applied PER LIVE Generate node (ADVICE r9 #4: a
#: flat one-shot 16× still undershot stacked explodes — e.g. tokens
#: then character n-grams multiply fan-outs), so k nested live
#: explodes scale the estimate by 16^k.  "Live" means no Aggregate
#: sits between the Generate and the plan root: an aggregation above
#: an explode collapses the fan-out back to group grain (the
#: shingle→distinct→semi-join subtrees of the dedup family are the
#: canonical case — their output is DOCUMENT-grain however wide the
#: explode), so counting buried Generates only inflates the estimate
#: of an input that never sees the exploded rows.  Measured: the
#: naive per-node form flipped ``pretraining_data_pipeline``'s
#: quota-bounded pack input (8 Generates, ALL under Aggregates) to the
#: 1024-bucket hybrid and cost 1.7× at sf0.1.  Sibling live Generates
#: in different branches still each count, over-scaling only toward
#: the safe (bigger-sort) tier; the residual known undershoot is an
#: Aggregate whose grouping keys keep exploded grain (e.g. distinct
#: tokens), which the thresholds' ~10× margin absorbs — callers at
#: known extreme scale pin ``n_buckets`` explicitly.
_GENERATE_FANOUT_ALLOWANCE = 16


def _generate_allowance(plan, est: int) -> int:
    """Fan-out multiplier for the LIVE Generate nodes in the JVM
    logical *plan*: ``_GENERATE_FANOUT_ALLOWANCE ** n_live``, where a
    Generate is live when no Aggregate lies on its path to the root
    (see :data:`_GENERATE_FANOUT_ALLOWANCE`).  Two short-circuits keep
    the py4j plan walk off the hot path (ADVICE r9 #4 — the traversal
    is a driver-side JVM round-trip per node, paid on every estimate
    call): plans whose base estimate is already past the LARGE-tier
    threshold skip the walk entirely (the allowance can only push the
    tier UP, and it is already maximal), and the walk stops as soon as
    the accumulated multiplier pushes *est* past that same threshold —
    further Generate nodes cannot change the chosen tier."""
    if est > _ADAPTIVE_SIZE_THRESHOLD:
        return 1
    mult = 1
    stack = [(plan, False)]
    while stack:
        node, under_agg = stack.pop()
        name = node.nodeName()
        if name == "Generate" and not under_agg:
            mult *= _GENERATE_FANOUT_ALLOWANCE
            if est * mult > _ADAPTIVE_SIZE_THRESHOLD:
                return mult
        under_agg = under_agg or name == "Aggregate"
        children = node.children()
        for i in range(children.size()):
            stack.append((children.apply(i), under_agg))
    return mult


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Size estimate for *df*'s optimized logical plan — pure plan
    analysis (file-listing stats for leaves, width-scaled propagation
    above), no job.  Returns ``min(top-level estimate, Σ leaf-scan
    estimates)``: without CBO stats Catalyst's default join estimate
    MULTIPLIES child sizes, so any helper input containing a join
    inflates past every threshold (measured: spearman's rank input
    estimated > 256 MiB over a 2.7 MB scan); the leaf sum bounds what
    the plan actually READS, which is the quantity that grows 100× at
    100×, while the top estimate keeps credit for aggregate shrinkage
    in join-free plans.  Explode-fed plans scale the bound up by
    :data:`_GENERATE_FANOUT_ALLOWANCE` per Generate node — see
    :func:`_generate_allowance` (neither component sees generator
    fan-out, so both undershoot — the error direction that lands big
    inputs in the small-sort tiers).  None when the estimate is
    unavailable (the caller then assumes BIG: the safe tier at
    scale)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        top = int(plan.stats().sizeInBytes())
        leaves = plan.collectLeaves()
        leaf_sum = sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
        est = min(top, leaf_sum)
        return est * _generate_allowance(plan, est)
    except Exception:
        return None


def _adaptive_n_buckets(df: DataFrame) -> int:
    """Resolve the helpers' default bucket count from the input's
    estimated size (VERDICT r7 #1, generalizing the pack-stage
    precedent): small inputs take ONE flat percentile level — the
    whole second-level rollup+join was most of the r7 bucket-family
    bench premium — while large inputs keep the 1024-bucket hybrid.
    The choice never affects VALUES (bucket edges are internal; every
    helper's output is bit-identical for any ``n_buckets ≥ 1`` by the
    monotone-bucket composition argument in :func:`_range_bucketed`),
    only task granularity, so an estimate miss costs speed, not
    correctness."""
    size = _plan_size_bytes(df)
    if size is None or size > _ADAPTIVE_SIZE_THRESHOLD:
        return _ADAPTIVE_LARGE_BUCKETS
    if size > _ADAPTIVE_TINY_THRESHOLD:
        return _ADAPTIVE_SMALL_BUCKETS
    return _ADAPTIVE_TINY_BUCKETS


#: adaptive_group_buckets fallback when the plan-size estimate is
#: unavailable (exception reading stats — never observed in practice):
#: assume BIG, the safe tier at scale, without exploding local task
#: counts if it ever fires on a small input.
_UNKNOWN_GROUP_BUCKETS = 65536

#: Deliberately LOW per-row byte assumption for adaptive_group_buckets'
#: rows-from-bytes conversion: underestimating bytes/row OVERestimates
#: rows, which overshoots the bucket count — the safe direction (more,
#: smaller Arrow frames; placement-only).  The grouped-map consumers
#: feed narrow (key, ts, value)-shaped projections whose in-memory rows
#: run 30-60 bytes.
_ASSUMED_ROW_BYTES = 16

#: adaptive_group_buckets ceiling: bounds the shuffle-key cardinality.
_GROUP_BUCKETS_CAP = 1 << 20


def adaptive_group_buckets(
    df: DataFrame,
    max_group_rows: int,
    floor: int,
) -> int:
    """Bucket count for hash-bucketed grouped-map operators
    (``ewma_by_key``, the cogroup alignment), sized from the input's
    plan-size estimate so ``rows / n_buckets`` stays under
    *max_group_rows* at ANY input size (VERDICT r13 #1 / ADVICE r13 #5:
    the r13 fixed constants were a 100 TB cliff — a fact-scale input
    always tripped the loud per-frame guard, and the fixed count capped
    stage parallelism at 64/256 tasks).

    Placement-only by construction: the bucket key only decides which
    Arrow frame a key's rows land in; every consumer separates keys
    inside the frame, so the count never affects values.  Sizing:
    estimated rows (bytes / :data:`_ASSUMED_ROW_BYTES`, biased to
    overshoot) divided by ``max_group_rows / 4`` — 4× headroom because
    hash buckets are uneven and one hot key's whole series shares a
    bucket.  *floor* keeps small inputs at the measured local sweet
    spot (the per-bucket Arrow/Python fixed cost dominates when frames
    are tiny); :data:`_GROUP_BUCKETS_CAP` bounds the shuffle-key
    cardinality.  The per-frame ``max_group_rows`` guard in the
    consumers stays as the loud backstop for estimate misses."""
    size = _plan_size_bytes(df)
    if size is None:
        return max(floor, _UNKNOWN_GROUP_BUCKETS)
    rows_est = size // _ASSUMED_ROW_BYTES + 1
    target = max(max_group_rows // 4, 1)
    n = -(-rows_est // target)
    return max(floor, min(int(n), _GROUP_BUCKETS_CAP))


def _null_safe_broadcast_join(
    df: DataFrame, small: DataFrame, on_cols: list[str]
) -> DataFrame:
    """Broadcast equi-join matching NULL keys to NULL.  The helpers
    below must reproduce ``Window.partitionBy`` semantics, where a NULL
    group key forms its own partition — a name-list equi-join would
    silently drop those rows (null != null in Spark joins)."""
    if not on_cols:
        return df.join(F.broadcast(small))
    renamed = small.select(
        *[F.col(c).alias(f"__g_{c}") for c in on_cols],
        *[c for c in small.columns if c not in on_cols],
    )
    cond = None
    for c in on_cols:
        e = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
        cond = e if cond is None else cond & e
    return df.join(F.broadcast(renamed), cond).drop(
        *[f"__g_{c}" for c in on_cols]
    )


def _range_bucketed(
    df: DataFrame,
    bucket_value: Column,
    n_buckets: int,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """Tag each row with ``__bucket`` ∈ [0, n_buckets): an EQUI-DEPTH
    range bucket of *bucket_value* — per *partition_by* group when
    given (a low-cardinality grouping like lang/region/segment: the
    edges rollup stays a |groups|-row broadcast, one sorted
    ``n_buckets-1``-double array per group).

    Edges come from one ``percentile_approx`` pass (quantiles
    ``i/n_buckets``), so per-bucket row counts stay ≈ ``rows/n_buckets``
    under ANY key distribution — Zipf token counts or log-normal
    revenue with an outlier max no longer collapse most rows into a
    few buckets the way the previous min/max equi-width edges did
    (VERDICT r6 #1).  Rows with a hot duplicate key still share one
    bucket (equal keys MUST share a bucket for the offset composition
    to be exact), so the per-task bound is
    ``max(rows/n_buckets + ε, max_key_frequency)`` — the best any
    order-preserving bucketing can do.

    Per-row assignment is a flat JVM ``when``-chain over the broadcast
    edges array (``__bucket = #{edges ≤ value}``) — no per-element
    higher-order-function lambda (interpreted path) and no Python
    worker.  Wide bucket counts split into TWO levels — equi-depth
    percentile edges for ``fan = _FLAT_MAX_EDGES`` coarse slices, then
    cheap equi-width refinement inside each slice — so every generated
    chain stays ≤ :data:`_FLAT_MAX_EDGES` branches: measured on this
    Spark, a 1023-branch chain — flat, nested, or iteratively
    projected — either blows janino's 64 KB method limit (whole-stage
    falls back to interpreted) or, for chained projections, explodes
    2^steps under CollapseProject into a minutes-long optimizer pass.
    The skew bound is set by the coarse level (≤ ~rows/fan + the
    hottest duplicate key, any distribution); the fine level refines
    benign interiors toward rows/n_buckets at min/max-aggregate cost
    (a second percentile level A/B-measured +25-70% per query).

    The bucket is a pure monotone non-decreasing function of the value
    within each group (the fine pass is keyed by the coarse bucket, so
    equal values always share a bucket), which means per-bucket sorts
    plus cross-bucket offsets reproduce any per-group order exactly —
    bit-identical outputs whatever the edges — the two-pass trick every
    helper below shares.  When ``n_buckets`` has no integer square
    factorization the recursion may emit up to ``fan·ceil(n/fan)``
    (< 2·n_buckets) bucket values; callers only rely on the rollup
    staying literal-bounded, which holds.  NULL keys get bucket -1:
    ASC window order puts NULLS FIRST, so they must sort before every
    non-null bucket.  NULL *group* keys are preserved as their own
    group (null-safe join), matching ``Window.partitionBy``.
    """
    v = bucket_value.cast("double")
    null_branch = F.when(bucket_value.isNull(), F.lit(-1))
    if n_buckets <= 1:
        return df.withColumn("__bucket", null_branch.otherwise(F.lit(0)))
    if n_buckets - 1 > _FLAT_MAX_EDGES:
        # two-level hybrid: coarse EQUI-DEPTH (percentile edges, fan =
        # _FLAT_MAX_EDGES buckets — the widest single flat chain that
        # still codegens) + EQUI-WIDTH within each coarse slice.  The
        # hard skew bound comes from the coarse level alone: no bucket
        # exceeds ~rows/fan + the hottest duplicate key, whatever the
        # distribution; the fine level refines benign interiors toward
        # rows/n_buckets for near-free (min/max is a cheap codegen
        # aggregate, while a second percentile pass A/B-measured
        # +25-70% on every dependent query — the QuantileSummaries
        # ObjectHashAggregate dominates, not the quantile count).
        fan = _FLAT_MAX_EDGES
        inner = math.ceil(n_buckets / fan)
        coarse = _range_bucketed(df, bucket_value, fan, partition_by)
        coarse = coarse.withColumnRenamed("__bucket", "__cb")
        pb = partition_by + ("__cb",)
        fine_bounds = coarse.groupBy(*pb).agg(
            F.min(v).alias("__lo"), F.max(v).alias("__hi")
        )
        # batch-shared like the percentile rollup below: inside a
        # concurrent materialize-mode batch the min/max refinement
        # rollup also writes once and both consumer branches scan it
        from cid_etl_spark.plans.fragments import shared_scan

        shared_fine = shared_scan(fine_bounds, "bucket_fine_bounds")
        if shared_fine is not None:
            fine_bounds = shared_fine
        fine = _null_safe_broadcast_join(coarse, fine_bounds, list(pb))
        fine_bucket = F.when(
            F.col("__hi") > F.col("__lo"),
            F.least(
                F.lit(inner - 1),
                F.floor(
                    (v - F.col("__lo"))
                    / ((F.col("__hi") - F.col("__lo")) / inner)
                ).cast("int"),
            ),
        ).otherwise(F.lit(0))
        return fine.select(
            *df.columns,
            null_branch.otherwise(
                F.col("__cb") * inner + fine_bucket
            ).alias("__bucket"),
        )
    m = n_buckets - 1  # number of edges, 1-based e[1..m] in __edges
    edges_agg = F.percentile_approx(
        v, [i / n_buckets for i in range(1, n_buckets)], 10000
    ).alias("__edges")
    bounds = (
        df.groupBy(*partition_by).agg(edges_agg)
        if partition_by
        else df.agg(edges_agg)
    )
    # The rollup stays LAZY on purpose: the helpers consume the tagged
    # frame twice (counts rollup + final window join), so the
    # percentile pass is re-derived per consumer — but those
    # recomputes run CONCURRENTLY inside one job, while an eager
    # collect-and-embed of the edges is a SERIAL job per level at
    # plan-build time (A/B-measured ~2.5× slower than lazy on every
    # dependent query — the localCheckpoint-vs-lazy precedent from r5
    # applies to collect too).  EXCEPT inside a run_batch (VERDICT
    # r7 #1): there the batch context materializes
    # the rollup ONCE to scratch parquet and both consumer branches —
    # and any other member with the identical rollup — scan the copy;
    # the serial build-time job overlaps other members' stages, so the
    # standalone A/B penalty does not apply.
    from cid_etl_spark.plans.fragments import shared_scan

    shared = shared_scan(bounds, "bucket_edges")
    if shared is not None:
        bounds = shared
    b = _null_safe_broadcast_join(df, bounds, list(partition_by))
    # flat search for #{edges ≤ v}: v < e[1] → 0, else v < e[2] → 1,
    # ... (F.get is 0-indexed and OOB-safe under ANSI).  A NULL
    # comparison (null v, or an all-null group ⇒ null edges array)
    # never fires a branch, falls through to the `otherwise`, and is
    # overridden by null_branch.
    chain = None
    for i in range(m):
        branch = (~(F.get("__edges", i) <= v), F.lit(i))
        chain = F.when(*branch) if chain is None else chain.when(*branch)
    bucket = chain.otherwise(F.lit(m))
    return b.select(*df.columns, null_branch.otherwise(bucket).alias("__bucket"))


def materialize_once(df: DataFrame) -> DataFrame:
    """Materialize a multiply-consumed intermediate once (guide §5).

    The helpers consume their input three times (the percentile edges
    pass, the per-bucket counts/sums rollup, and the final tagged-row
    join), and all three re-derive it concurrently inside one job when
    left lazy.  For a CHEAP input (a pruned scan, a small rollup —
    rfm's 15k-row customer table) lazy wins: stage floors dominate and
    an eager checkpoint serializes a job at plan-build time (the r5/r8
    A/B precedent recorded in rfm_segmentation_customers).  For an
    input that is itself an expensive derivation at near-fact grain
    (weighted_median's 550k-row (flag, cents) rollup, ccnet's scored
    corpus behind a token explode+join), one localCheckpoint beats
    three recomputes — measured per call site, opt-in via
    ``materialize_input=True``.

    Skipped under a plan-only signal (plan_report/PLANS.md must see
    the full tree, and plan-only consumers must not execute jobs — the
    adamic_adar precedent; thread-local since r14 so a concurrent
    batch's builds are unaffected, ADVICE r13 #4) and inside a
    run_batch context (the batch materializes shared fragments itself;
    a per-member checkpoint would break canonical-key sharing)."""
    from cid_etl_spark.plans.fragments import current_context, plan_only_active

    if plan_only_active():
        return df
    if current_context() is not None:
        return df
    return df.localCheckpoint(eager=True)


def bucketed_row_number(
    df: DataFrame,
    key: str,
    tiebreaks: tuple[str, ...] = (),
    n_buckets: int | None = None,
    id_col: str = "row_id",
    bucket_value: Column | None = None,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """1-based ``row_number() OVER ([PARTITION BY *partition_by*]
    ORDER BY key, *tiebreaks)`` without the single-partition sort (or,
    with *partition_by*, without one sort partition per group — a
    5-value lang/region/segment key gives only 5 sort tasks however
    big the fact, the same scale killer divided by five): range-bucket
    on *key* (pass *bucket_value* when the key isn't directly castable
    to double, e.g. a DATE — it must be monotone in the key), rank
    within each (group, bucket), and add per-bucket offsets from a
    |groups|·*n_buckets*-row rollup whose own window sorts ≤
    *n_buckets* rows per group.  Equal keys always share a bucket, so
    in-bucket tiebreak ordering composes into the exact per-group
    order.

    ORDER SEMANTICS: reproduces ``ASC NULLS FIRST`` on *key* exactly
    (null keys → bucket -1, ranked before every non-null key).  To
    emulate DESC, negate the key — but ONLY when the key is non-null:
    a window's ``F.desc()`` is DESC NULLS LAST, while a negated null
    is still null and would rank FIRST here.  NULL *group* keys in
    *partition_by* are preserved as their own group, exactly like
    ``Window.partitionBy``.

    ``n_buckets=None`` (the default) resolves adaptively from the
    input's plan-size estimate (:func:`_adaptive_n_buckets`) — one
    flat level for small inputs, the 1024-bucket hybrid above
    :data:`_ADAPTIVE_SIZE_THRESHOLD`; pass an int to pin it."""
    if n_buckets is None:
        n_buckets = _adaptive_n_buckets(df)
    b = _range_bucketed(
        df,
        F.col(key) if bucket_value is None else bucket_value,
        n_buckets,
        partition_by,
    )
    gcols = list(partition_by)
    counts = b.groupBy(*gcols, "__bucket").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_off = (
        Window.partitionBy(*gcols)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *gcols,
        "__bucket",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset"),
    )
    w_in = Window.partitionBy(*gcols, "__bucket").orderBy(key, *tiebreaks)
    return (
        _null_safe_broadcast_join(b, offsets, gcols + ["__bucket"])
        .withColumn(id_col, F.col("__offset") + F.row_number().over(w_in))
        .drop("__bucket", "__offset")
    )


def bucketed_cumsum(
    df: DataFrame,
    key: str,
    sum_cols: tuple[str, ...],
    n_buckets: int | None = None,
    inclusive: bool = True,
    prefix: str = "cum_",
    partition_by: tuple[str, ...] = (),
    materialize_input: bool = False,
) -> DataFrame:
    """Cumulative sums ``SUM(c) OVER ([PARTITION BY *partition_by*]
    ORDER BY key ROWS UNBOUNDED PRECEDING [AND CURRENT ROW / AND 1
    PRECEDING])`` without the single-partition sort that a global
    ``Window.orderBy`` plans — the classic 100×-scale killer when the
    frame's grain is fact-sized (exact ECDFs, rank sums,
    distinct-value cumulative counts); with *partition_by*, without
    one fact-sized sort task per low-cardinality group.

    Requires *key* unique per row within its group (a distinct-value
    grain, i.e. the output of ``groupBy(*partition_by, key)``), so the
    frame order is total and the ROWS/RANGE distinction is moot.
    Two-pass shape: per-bucket window sums after one range-bucket
    shuffle, plus cross-bucket offsets from a |groups|·*n_buckets*-row
    rollup (its window sorts ≤ *n_buckets* rows per group — bounded by
    a literal, not by data volume).  ``n_buckets=None`` resolves
    adaptively from the input's plan-size estimate, exactly as in
    :func:`bucketed_row_number`, and ``materialize_input=True``
    checkpoints *df* once instead of re-deriving it per consumer pass
    (see :func:`materialize_once`; values are identical either way)."""
    if materialize_input:
        df = materialize_once(df)
    if n_buckets is None:
        n_buckets = _adaptive_n_buckets(df)
    b = _range_bucketed(df, F.col(key), n_buckets, partition_by)
    gcols = list(partition_by)
    per_bucket = b.groupBy(*gcols, "__bucket").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    w_off = (
        Window.partitionBy(*gcols)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        *gcols,
        "__bucket",
        *[
            F.coalesce(F.sum(f"__t_{c}").over(w_off), F.lit(0)).alias(f"__o_{c}")
            for c in sum_cols
        ],
    )
    upper = 0 if inclusive else -1
    w_in = (
        Window.partitionBy(*gcols, "__bucket")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    out = _null_safe_broadcast_join(b, offsets, gcols + ["__bucket"])
    for c in sum_cols:
        out = out.withColumn(
            f"{prefix}{c}",
            F.coalesce(F.sum(c).over(w_in), F.lit(0)) + F.col(f"__o_{c}"),
        )
    return out.drop("__bucket", *[f"__o_{c}" for c in sum_cols])


def exact_ntile(rank: Column, n: Column, k: int) -> Column:
    """``ntile(k)`` computed arithmetically from a 1-based gap-free
    *rank* over *n* rows — the piece that turns
    :func:`bucketed_row_number` output into window-exact ntile buckets
    without any single-partition stage.  With ``n = k·q + rem``, the
    first ``rem`` buckets take ``q+1`` rows each:
    ``rank ≤ rem·(q+1)`` → ``ceil(rank/(q+1))``, else
    ``rem + ceil((rank − rem·(q+1))/q)``.  Ceils of exact integer
    ratios (doubles are exact below 2^53); when ``q = 0`` (n < k)
    every rank lands in the when-arm because the threshold is n, and
    the ``greatest(q, 1)`` guard keeps the dead branch's division
    non-null so the CaseWhen stays total.  Bit-identical to
    ``F.ntile(k)`` over the same total order."""
    q = F.floor(n / k)
    rem = n - k * q
    thr = rem * (q + 1)
    return (
        F.when(rank <= thr, F.ceil(rank / (q + 1)))
        .otherwise(rem + F.ceil((rank - thr) / F.greatest(q, F.lit(1))))
        .cast("int")
    )


def assign_contiguous_ids(
    df: DataFrame, key: str, n_buckets: int | None = None, id_col: str = "row_id"
) -> DataFrame:
    """Assign dense 0..N-1 ids in *key* order — the scalable
    ``zipWithIndex``: ``monotonically_increasing_id`` leaves gaps and a
    global ``row_number()`` window funnels every row through ONE
    partition.  Here the fact shuffles once on a range bucket of the
    key: per-bucket counts (a *n_buckets*-row aggregate) turn into
    cumulative offsets with a window over that tiny table, broadcast
    back, and each row's id is its bucket offset plus its rank within
    the bucket.  Bucket boundaries are monotone in *key*, so the result
    equals the single-partition global row_number exactly.
    """
    ranked = bucketed_row_number(
        df, key, n_buckets=n_buckets, id_col=id_col
    )
    return ranked.withColumn(id_col, F.col(id_col) - 1)
