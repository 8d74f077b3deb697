"""Scalable global ordering primitives: dense rank and running sum
over a TOTAL order, without a single-partition window.

A ``Window.orderBy(...)`` with no ``partitionBy`` plans as
``Exchange SinglePartition`` → one task sorts and scans EVERY row —
fine for metadata-sized inputs, a serialization cliff on anything
corpus-proportional (a 100M-token vocabulary, a per-slot size table
with one row per document of the largest language).  These helpers
replace it with the standard two-phase shape:

1. ``repartitionByRange`` on the sort key — a parallel range exchange;
   partition *i*'s keys all precede partition *i+1*'s in the total
   order, so a per-partition rank plus a per-partition offset IS the
   global rank.
2. One tiny aggregate (one row per partition) computes the offsets;
   its own running sum is the only unpartitioned window left, over a
   few-hundred-row input bounded by the partition count — metadata,
   never data.
3. In-partition positions: :func:`global_row_number` reads them off
   ``monotonically_increasing_id`` on the partition-sorted rows (no
   second exchange at all); :func:`global_running_sum` needs an
   ordered accumulation, so it windows partitioned BY the
   range-partition id — one further fixed-width-row exchange, applied
   only to inputs that are already aggregates (per-slot sizes), never
   to the raw corpus.

Correctness requires the sort key to be a TOTAL order (unique per
row): ranks are then identical for ANY boundary placement the range
partitioner picks, so the output is deterministic even though the
partitioner samples.  Callers pass keys made unique by construction
(vocab tokens; slot numbers from a groupBy).

Cites: reference has no ranking surface at all (its one global sort is
the top-10 ``orderBy().limit()``, `App.java:99-100`, which is
``TakeOrderedAndProject`` — already scalable); this generalizes the
[EXT] vocabulary/curriculum operators to 100 TB inputs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.cachectl import persist_tracked


def _range_tagged(df: DataFrame, order_by: list[Column | str]) -> DataFrame:
    """Range-partition ``df`` on the (total-order) sort key and tag each
    row with its partition id.  Persisted: both the offset aggregate and
    the ranked output read it, and the tag must be pinned before the
    window's own hash exchange re-clusters the rows."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return persist_tracked(
        df.repartitionByRange(parallelism, *order_by).withColumn(
            "__pid", F.spark_partition_id()
        )
    )


def _pid_offsets(per_pid: DataFrame, agg: Column) -> DataFrame:
    """(__pid, __off): exclusive running total of ``agg`` in partition-id
    order.  One row per range partition — the single unpartitioned
    window in the plan, bounded by the partition count."""
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    return (
        per_pid.groupBy("__pid")
        .agg(agg.alias("__n"))
        .withColumn("__off", F.coalesce(F.sum("__n").over(w), F.lit(0)))
        .select("__pid", "__off")
    )


def global_row_number(
    df: DataFrame,
    order_by: list[Column | str],
    out_col: str = "rn",
    start: int = 1,
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_by)`` (1-based unless
    ``start`` says otherwise), computed with full parallelism and ONE
    corpus exchange.

    In-partition positions come from ``monotonically_increasing_id``
    over the range-partitioned, partition-sorted rows — the DataFrame
    ``zipWithIndex`` pattern: ``mid - min(mid per partition)`` is the
    local index, so no ``Window.partitionBy(__pid)`` (whose required
    clustering would re-shuffle the corpus a second time) and no
    second sort.  This leans on mid being CONSECUTIVE within a
    partition (a per-partition counter in Spark's implementation since
    1.6; the API contract only promises monotonicity), so the contract
    is ENFORCED in the plan itself: the per-partition offset aggregate
    also computes ``max(__mid)`` and an ``assert_true(max - min + 1 ==
    count)`` folded into the offset arithmetic (one row per partition —
    metadata cost) makes any engine that batches/strides mids fail
    loudly at first execution, everywhere, not only in the pinned
    skewed-input differential in ``tests/test_scalable_rank.py``.

    ``order_by`` must be a total order (unique per row) — see module
    docstring.  Output: ``df``'s columns plus ``out_col`` (long).
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    tagged = persist_tracked(
        df.repartitionByRange(parallelism, *order_by)
        .sortWithinPartitions(*order_by)
        .select(
            "*",
            F.spark_partition_id().alias("__pid"),
            F.monotonically_increasing_id().alias("__mid"),
        )
    )
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    # __off carries a zero-valued assert_true term so Catalyst cannot
    # prune it: mids must be consecutive within each partition
    # (max - min + 1 == count) or the local index below is wrong — fail
    # the job, never emit wrong ranks.
    consecutive = F.assert_true(
        F.col("__max") - F.col("__base") + F.lit(1) == F.col("__n"),
        F.lit(
            "global_row_number: monotonically_increasing_id is not "
            "consecutive within a partition; engine broke the "
            "per-partition-counter behavior this operator leans on"
        ),
    )
    offs = (
        tagged.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("__mid").alias("__base"),
            F.max("__mid").alias("__max"),
        )
        .withColumn(
            "__off",
            F.coalesce(F.sum("__n").over(w), F.lit(0))
            + F.coalesce(consecutive.cast("long"), F.lit(0)),
        )
        .select("__pid", "__base", "__off")
    )
    return (
        tagged.join(F.broadcast(offs), "__pid")
        .withColumn(
            out_col,
            (
                F.col("__mid") - F.col("__base") + F.col("__off") + F.lit(start)
            ).cast("long"),
        )
        .drop("__pid", "__mid", "__base", "__off")
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    order_by: list[Column | str],
    quantiles: list[float],
    out_prefix: str = "e",
) -> DataFrame:
    """One row of EXACT interpolated quantiles of ``value_col``
    (columns ``{out_prefix}0..{out_prefix}{k-1}``, one per entry of
    ``quantiles``), computed with full parallelism — the distributed
    replacement for the builtin ``percentile``, which buffers the
    ENTIRE column inside a single aggregation buffer (3-task partials
    + a one-task merge holding every value at once: a memory cliff on
    anything corpus-proportional, and the exact shape guide §5 bans).

    Execution: one range exchange + per-partition sort assigns global
    ranks (:func:`global_row_number`), a broadcast of the <=2k probe
    rows picks the two order statistics around each quantile position,
    and a metadata-sized aggregate interpolates.  The interpolation
    REPLAYS Spark's ``percentile`` arithmetic bit-for-bit —
    ``pos = q * (n-1)``;
    ``(ceil(pos) - pos) * v[floor(pos)] + (pos - floor(pos)) * v[ceil(pos)]``
    over the 0-based sorted values — so swapping this in for the
    builtin changes NOTHING about emitted doubles (r16: verified
    bit-identical on lineitem at sf0.001/0.01/0.1), only the plan.

    ``order_by`` must start with ``value_col`` and be a total order
    (unique per row — the :func:`global_row_number` contract); ties in
    ``value_col`` are fine because the value AT a rank is invariant to
    how a run of equal values is ordered internally.
    """
    ranked = global_row_number(
        df.select(value_col, *[c for c in order_by if c != value_col]),
        order_by,
        "__rn",
        start=0,
    )
    n1 = df.agg((F.count(value_col) - 1).cast("double").alias("__n1"))
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    probes = (
        n1.select(F.explode(qarr).alias("__q"), "__n1")
        .select("__q", (F.col("__q") * F.col("__n1")).alias("__pos"))
        .select(
            "__q",
            "__pos",
            F.floor("__pos").cast("long").alias("__lo"),
            F.ceil("__pos").cast("long").alias("__hi"),
        )
        .select(
            "__q", "__pos", "__lo", "__hi",
            F.explode(F.array("__lo", "__hi")).alias("__idx"),
        )
    )
    hit = ranked.join(F.broadcast(probes), ranked["__rn"] == probes["__idx"])
    v = F.col(value_col)
    per_q = hit.groupBy("__q", "__pos", "__lo", "__hi").agg(
        F.min(F.when(F.col("__rn") == F.col("__lo"), v)).alias("__vlo"),
        F.min(F.when(F.col("__rn") == F.col("__hi"), v)).alias("__vhi"),
    )
    interp = F.when(F.col("__lo") == F.col("__hi"), F.col("__vlo")).otherwise(
        (F.col("__hi").cast("double") - F.col("__pos")) * F.col("__vlo")
        + (F.col("__pos") - F.col("__lo").cast("double")) * F.col("__vhi")
    )
    return per_q.groupBy().agg(
        *[
            F.min(F.when(F.col("__q") == float(q), interp)).alias(
                f"{out_prefix}{i}"
            )
            for i, q in enumerate(quantiles)
        ]
    )


def grouped_exact_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float],
    out_prefix: str = "e",
) -> DataFrame:
    """Per-group EXACT interpolated quantiles of ``value_col`` — one row
    per distinct ``group_cols`` value with columns
    ``{out_prefix}0..{out_prefix}{k-1}`` — the grouped twin of
    :func:`exact_quantiles` (r17, VERDICT item 2).  The builtin grouped
    ``percentile`` holds each group's ENTIRE value column inside one
    aggregation buffer (N/|groups| doubles per buffer at 100 TB — the
    guide §5 single-buffer cliff :func:`exact_quantiles` already removed
    from the global case); this keeps per-task state at
    O(corpus / parallelism) regardless of group sizes.

    Execution: ONE corpus range exchange on ``(group_cols, value_col)``
    + per-partition sort assigns per-group global ranks (the
    ``monotonically_increasing_id`` zipWithIndex pattern of
    :func:`global_row_number`, with offsets per (partition, group) —
    group runs are contiguous within a range partition, which the same
    folded ``assert_true`` enforces); a broadcast of the
    |groups| x |quantiles| x 2 probe rows picks the order statistics,
    and metadata-sized aggregates interpolate and pivot.  The
    interpolation REPLAYS Spark's ``percentile`` arithmetic
    bit-for-bit — ``pos = q * (n_g - 1)``;
    ``(ceil(pos) - pos) * v[floor(pos)] + (pos - floor(pos)) * v[ceil(pos)]``
    over each group's 0-based sorted values — so swapping it in for the
    builtin changes nothing about emitted doubles, only the plan.

    Ties in ``value_col`` are fine for the same reason as in
    :func:`exact_quantiles`: the value AT a rank is invariant to how a
    run of equal values is ordered or split across range partitions.
    Nulls in ``value_col`` must be absent (the builtin skips them; this
    operator would rank them) — callers pass non-null measure columns.
    """
    return grouped_exact_quantiles_multi(
        df,
        group_cols,
        [(value_col, [(q, f"{out_prefix}{i}") for i, q in enumerate(quantiles)])],
    )


def grouped_exact_quantiles_multi(
    df: DataFrame,
    group_cols: list[str],
    specs: list[tuple[str, list[tuple[float, str]]]],
) -> DataFrame:
    """Per-group exact quantiles over SEVERAL measure columns in ONE
    corpus pass — ``specs`` is ``[(value_col, [(q, out_name), ...]),
    ...]`` and the output is one row per group with every named
    quantile column.

    Why multi: each measure column needs its own range order, but the
    fixed costs — the scan, the range-partitioner sampling pass, the
    persist, the offset/probe aggregate chain — do NOT need to be paid
    per column.  The measures are exploded into ``(tag, value)`` rows
    (tag = spec index) and ``(group, tag)`` becomes the effective group
    key, so one exchange carries len(specs) x N narrow rows — the SAME
    total bytes the per-column form shuffles across its separate
    exchanges, at one set of fixed costs (measured on
    quantity_percentiles at sf0.1: 3.3 s as two single-measure calls vs
    ~builtin-parity fused; the builtin itself is 1.5 s).  All quantiles
    are probed for every tag (wasted probes are metadata) and the final
    pivot keeps only the requested (tag, q) pairs.

    The range-partitioned, id-stamped intermediate is always persisted.
    ``repartitionByRange`` samples its bounds and
    ``monotonically_increasing_id`` numbers rows by physical position,
    so neither is deterministic across recomputations: without the
    persist, the extents aggregate and the final rank probe could each
    recompute it under a DIFFERENT range-partition layout and rank
    against mismatched partition offsets — a silently wrong quantile,
    not an error.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    pre = df.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("__tag"),
                        F.col(vc).cast("double").alias("__val"),
                    )
                    for i, (vc, _) in enumerate(specs)
                ]
            )
        ).alias("__e"),
    ).select(
        *group_cols,
        F.col("__e.__tag").alias("__tag"),
        F.col("__e.__val").alias("__val"),
    )
    base_cols = list(group_cols)
    group_cols = [*group_cols, "__tag"]
    value_col = "__val"
    tagged = persist_tracked(
        pre.repartitionByRange(parallelism, *group_cols, value_col)
        .sortWithinPartitions(*group_cols, value_col)
        .select(
            "*",
            F.spark_partition_id().alias("__pid"),
            F.monotonically_increasing_id().alias("__mid"),
        )
    )
    # per-(partition, group) extents: one row per (pid, group) —
    # metadata-sized (#partitions x #groups).  Consecutive-mid contract
    # enforced per (pid, group): rows of a group are contiguous within a
    # range partition (partition = contiguous key range, sorted), so
    # max - base + 1 == n or the local index below is wrong.
    consecutive = F.assert_true(
        F.col("__max") - F.col("__base") + F.lit(1) == F.col("__n"),
        F.lit(
            "grouped_exact_quantiles: monotonically_increasing_id is not "
            "consecutive within a (partition, group) run; engine broke "
            "the per-partition-counter behavior this operator leans on"
        ),
    )
    # per_pg is metadata-sized but its INPUT is the corpus cache, and it
    # feeds two independent broadcast builds (offs, probes) — without
    # its own persist each build re-runs the corpus aggregate
    # (measured: two back-to-back 0.8 s 35-task jobs at sf0.1).
    per_pg = persist_tracked(
        tagged.groupBy("__pid", *group_cols).agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("__mid").alias("__base"),
            F.max("__mid").alias("__max"),
        )
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per_pg.withColumn(
        "__off",
        F.coalesce(F.sum("__n").over(w), F.lit(0))
        + F.coalesce(consecutive.cast("long"), F.lit(0)),
    ).select("__pid", *group_cols, "__n", "__base", "__off")
    ng = per_pg.groupBy(*group_cols).agg(F.sum("__n").alias("__ng"))
    # probe the UNION of all requested quantiles for every tag: the
    # superfluous probes are metadata-sized, and one shared array keeps
    # the probe plan free of per-tag branching.
    all_qs = sorted({float(q) for _, qlist in specs for q, _ in qlist})
    qarr = F.array(*[F.lit(q) for q in all_qs])
    # probe-side group columns renamed __g_<c>: probes and ranked share
    # the `tagged` lineage, and same-name attributes across a self-join
    # are ambiguous — distinct names sidestep resolution entirely.
    probes = (
        ng.select(
            *[F.col(c).alias(f"__g_{c}") for c in group_cols],
            F.explode(qarr).alias("__q"),
            "__ng",
        )
        .select(
            *[f"__g_{c}" for c in group_cols],
            "__q",
            (F.col("__q") * (F.col("__ng") - 1).cast("double")).alias("__pos"),
        )
        .select(
            *[f"__g_{c}" for c in group_cols],
            "__q",
            "__pos",
            F.floor("__pos").cast("long").alias("__lo"),
            F.ceil("__pos").cast("long").alias("__hi"),
        )
        .select(
            *[f"__g_{c}" for c in group_cols],
            "__q",
            "__pos",
            "__lo",
            "__hi",
            F.explode(F.array("__lo", "__hi")).alias("__idx"),
        )
    )
    # Pre-resolve each probe index to the ONE (partition, mid) holding
    # it — a metadata x metadata join (offs x probes) — so the corpus is
    # touched by a single broadcast equi-join below instead of a
    # rank-assignment join (tagged x offs) followed by a probe join.
    # Three corpus passes total: cache build, per_pg, hit.
    gmatch = reduce(
        lambda a, b: a & b,
        [F.col(c) == F.col(f"__g_{c}") for c in group_cols],
    )
    targets = offs.join(
        probes,
        gmatch
        & (F.col("__idx") >= F.col("__off"))
        & (F.col("__idx") < F.col("__off") + F.col("__n")),
    ).select(
        F.col("__pid").alias("__tpid"),
        *[f"__g_{c}" for c in group_cols],
        "__q",
        "__pos",
        "__lo",
        "__hi",
        "__idx",
        (F.col("__base") + F.col("__idx") - F.col("__off")).alias("__tmid"),
    )
    hit = tagged.join(
        F.broadcast(targets),
        gmatch
        & (F.col("__pid") == F.col("__tpid"))
        & (F.col("__mid") == F.col("__tmid")),
    )
    v = F.col(value_col)
    per_q = hit.groupBy(
        *[F.col(f"__g_{c}").alias(c) for c in group_cols],
        "__q",
        "__pos",
        "__lo",
        "__hi",
    ).agg(
        F.min(F.when(F.col("__idx") == F.col("__lo"), v)).alias("__vlo"),
        F.min(F.when(F.col("__idx") == F.col("__hi"), v)).alias("__vhi"),
    )
    interp = F.when(F.col("__lo") == F.col("__hi"), F.col("__vlo")).otherwise(
        (F.col("__hi").cast("double") - F.col("__pos")) * F.col("__vlo")
        + (F.col("__pos") - F.col("__lo").cast("double")) * F.col("__vhi")
    )
    return per_q.groupBy(*base_cols).agg(
        *[
            F.min(
                F.when(
                    (F.col("__tag") == i) & (F.col("__q") == float(q)), interp
                )
            ).alias(name)
            for i, (_, qlist) in enumerate(specs)
            for q, name in qlist
        ]
    )


def global_running_sum(
    df: DataFrame,
    order_by: list[Column | str],
    value_col: str,
    out_col: str = "running",
    exclusive: bool = True,
) -> DataFrame:
    """Prefix sum of ``value_col`` in ``order_by`` order (exclusive by
    default: the row's own value is not included), with full
    parallelism.  Same total-order contract as
    :func:`global_row_number`."""
    tagged = _range_tagged(df, order_by)
    offs = _pid_offsets(tagged, F.sum(value_col))
    hi = -1 if exclusive else 0
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    return (
        tagged.join(F.broadcast(offs), "__pid")
        .withColumn(
            out_col,
            F.coalesce(F.sum(value_col).over(w_in), F.lit(0)) + F.col("__off"),
        )
        .drop("__pid", "__off")
    )
