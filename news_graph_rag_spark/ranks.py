"""Scalable global ordering operators.

``row_number() OVER (ORDER BY ...)`` with no partition key is the
classic Spark scale cliff: every row moves to ONE partition to get its
rank. These helpers compute the exact same ranks with fully-parallel
plans:

- ``global_row_number``: two-phase ranking — range-repartition on the
  sort key (sampled boundaries, balanced partitions), rank locally per
  partition, then add broadcast per-partition offsets. Two distributed
  shuffles, no single-partition stage, exact for any total order (use a
  unique tiebreaker column, same rule as every oracle query).
- ``top_k_ranked``: when only the best k rows are needed, skip global
  ranking entirely — ``orderBy().limit(k)`` runs as distributed
  TakeOrdered (per-partition heaps + driver merge), and the rank column
  is assigned among the k survivors, where a window costs nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _pin(parted: DataFrame, pin: bool) -> DataFrame:
    """Materialize the range-partitioned frame ONCE (round-11 fix for a
    latent correctness bug): the two-phase helpers read `parted` from
    MULTIPLE subtrees (the per-partition window, the per-partition
    totals, and the broadcast offsets build), and Spark re-executes the
    RangeExchange for each — each execution re-SAMPLES the boundaries,
    and when the upstream row order is nondeterministic (any hash
    aggregation upstream), different executions get different
    boundaries, so `spark_partition_id()` means different things in
    different subtrees and the offsets join associates wrong partition
    sums (observed: chained cumsum over a groupBy upstream returned a
    different, WRONG prefix sum on every run; file-scan upstreams were
    immune because their sampling is deterministic, which is why six
    rounds of value-verified entries never tripped it).
    localCheckpoint pins one boundary assignment for every consumer.
    ``pin=False`` exists for plan inspection only (tests assert the
    RangeExchange shape, which the checkpoint would otherwise hide).

    Retention tradeoff: these pins are the one documented exception to
    ``pins.release``. The helpers return frames DERIVED from the pin,
    so no caller holds the checkpoint frame itself and the blocks stay
    in block-manager storage until the ContextCleaner collects the
    checkpointed RDD (ROADMAP direction 6 removes the range helpers
    and this pin with them). Note localCheckpoint is a
    NON-RELIABLE checkpoint: it truncates lineage, so a lost block
    (executor loss, dynamic-allocation decommission, eviction under
    memory pressure) fails every derived DataFrame with a
    missing-block error rather than recomputing — the failure mode is
    "re-run the query", never a wrong answer. Long-lived drivers that
    cannot tolerate that should substitute a reliable
    ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` (same
    pinning effect, durable storage) at the call site.
    """
    return parted.localCheckpoint(eager=True) if pin else parted


def exclusive_sum_offsets(
    per_key: DataFrame, key_col: str, sum_cols: dict[str, str]
) -> DataFrame:
    """Exclusive prefix sums over a SMALL per-key table via an
    inequality self-join: for each key, the sum of every STRICTLY
    smaller key's values — the offsets step shared by the two-phase
    rank helpers (and by callers that fan a cumsum out per group,
    e.g. the round-12 tree-level split). ``sum_cols`` maps input
    column → output offset column; absent predecessors yield 0.

    The per-key table must be broadcast-sized (≤ partitions, or ≤
    groups): the join is quadratic in its rows by design — that is
    what keeps the BIG table's plan free of empty-partition windows.
    """
    c1, c2 = per_key.alias("c1"), per_key.alias("c2")
    return (
        c1.join(c2, F.col(f"c2.{key_col}") < F.col(f"c1.{key_col}"), "left")
        .groupBy(F.col(f"c1.{key_col}").alias(key_col))
        .agg(
            *[
                F.coalesce(F.sum(f"c2.{src}"), F.lit(0)).alias(dst)
                for src, dst in sum_cols.items()
            ]
        )
    )


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rnk",
    num_partitions: int | None = None,
    pin: bool = True,
    rank_type: str = "int",
) -> DataFrame:
    """Exact global ``row_number`` over ``order_by`` without a
    single-partition sort.

    ``order_by`` must define a total order (include a unique tiebreaker)
    or ranks of tied rows are partition-placement-dependent.

    ``rank_type`` defaults to ``int`` (the schema every existing
    driver-graded consumer pins); pass ``"long"`` when downstream
    arithmetic multiplies the rank (round-12 review: an int rank times
    a shard count overflows at 2^31/N rows — Spark 4's ANSI default
    raises, legacy mode silently wraps) or the input can exceed 2^31
    rows. Per-partition counts are summed as longs either way.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = _pin(
        df.repartitionByRange(n, *order_by).withColumn(
            "_pid", F.spark_partition_id()
        ),
        pin,
    )
    # rank within each range partition; the hash-exchange on _pid keeps
    # the data distributed (≤ n keys, each one range-partition's rows)
    local = parted.withColumn(
        "_lrn", F.row_number().over(Window.partitionBy("_pid").orderBy(*order_by))
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    # prefix-sum over the (≤ n)-row counts table — no empty-partition
    # window anywhere in the plan
    offsets = exclusive_sum_offsets(counts, "_pid", {"_cnt": "_off"})
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_lrn") + F.col("_off")).cast(rank_type))
        .drop("_pid", "_lrn", "_off")
    )


def global_cumsums(
    df: DataFrame,
    order_by: list[Column],
    values: "dict[str, Column]",
    num_partitions: int | None = None,
    inclusive: bool = True,
    pin: bool = True,
) -> DataFrame:
    """Exact global running sums of SEVERAL value columns in one
    two-phase pass (range-repartition, local running sums, broadcast
    per-partition offsets): every output shares ONE range exchange,
    ONE pin, and ONE _pid window spec — a caller chaining
    ``global_cumsum`` per value column pays all three per call
    (round-12 review: the tree-level split did exactly that).
    ``values`` maps output column → value Column; ``inclusive=False``
    gives exclusive prefix sums (all STRICTLY earlier rows).

    ``order_by`` must define a total order (include a unique
    tiebreaker), else tied rows' sums are placement-dependent.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    vals = list(values.items())
    staged = df
    for i, (_, col) in enumerate(vals):
        staged = staged.withColumn(f"_val{i}", col.cast("long"))
    parted = _pin(
        staged.repartitionByRange(n, *order_by).withColumn(
            "_pid", F.spark_partition_id()
        ),
        pin,
    )
    w = Window.partitionBy("_pid").orderBy(*order_by)
    local = parted
    for i in range(len(vals)):
        local = local.withColumn(f"_lcum{i}", F.sum(f"_val{i}").over(w))
    totals = parted.groupBy("_pid").agg(
        *[F.sum(f"_val{i}").alias(f"_tot{i}") for i in range(len(vals))]
    )
    offsets = exclusive_sum_offsets(
        totals, "_pid", {f"_tot{i}": f"_off{i}" for i in range(len(vals))}
    )
    out = local.join(F.broadcast(offsets), "_pid")
    drop = ["_pid"]
    for i, (name, _) in enumerate(vals):
        out = out.withColumn(
            name,
            (F.col(f"_lcum{i}") + F.col(f"_off{i}"))
            - (F.lit(0) if inclusive else F.col(f"_val{i}")),
        )
        drop += [f"_lcum{i}", f"_off{i}", f"_val{i}"]
    return out.drop(*drop)


def grouped_cumsums(
    df: DataFrame,
    group_cols: "list[str]",
    order_col: str,
    values: "dict[str, Column]",
    shift: int = 16,
    inclusive: bool = True,
    order_bits: int = 64,
    totals: "dict[str, str] | None" = None,
):
    """Exact per-group running sums of several value columns over an
    INTEGRAL order column using only DETERMINISTIC hash partitioning —
    no range-boundary sampling, no checkpoint, safe to leave lazy
    inside a larger plan with multiple consumers (the range-based
    helpers must pin their exchange because boundary sampling is
    nondeterministic over nondeterministically-ordered input; see
    ``_pin``). Round-17: built for the tree-trainer level pass, where
    the two blocking jobs the range helper costs (sample + pin)
    dominated each level at bench scale.

    Requirements: ``(group, order)`` pairs are UNIQUE (the
    histogram/distinct-value shape) and ``order_col`` is an integral
    column (bucketing uses arithmetic shifts, so negatives order
    correctly).

    Shape: every window partition is bounded by 2^shift rows BY
    CONSTRUCTION — level 0 ranks rows within (group, x >> shift);
    each bucket level ranks bucket totals within the next coarser
    bucket; the top level ranks the ≤ 2^shift coarsest buckets per
    group. The input pays ONE hash exchange on (group, x >> shift),
    which the level-0 window, the bucket aggregation, and the final
    offsets join all share; bucket tables shrink 2^shift-fold per
    level, so the pyramid's shuffles are asymptotically free.

    ``order_bits`` (round-17): a caller that KNOWS its order domain is
    narrower than 64 bits (e.g. integer feature values < 2^31) may
    declare it and get a correspondingly shallower pyramid — the
    level count exists only to cap the top window at 2^shift rows, so
    ceil(order_bits/shift)-1 levels suffice for a 2^order_bits
    domain. At the tree-trainer's 32-bit features this collapses the
    pyramid to ONE bucket level, and — the measured point — shrinks
    the logical plan the optimizer has to chew per level pass (the
    3-level pyramid cost ~0.65s of pure driver planning per level at
    bench scale). The 2^shift-row window bound is UNCHANGED: a value
    outside the signed domain [-2^(order_bits-1), 2^(order_bits-1))
    fails the query (``raise_error`` in the bucketing projection)
    rather than silently growing the top window past it.

    ``totals`` (round-17): optional {total_name: value_name} — also
    return per-group TOTALS of the named value columns, computed from
    the first bucket-total frame (≤ 2^(order_bits-shift) rows per
    group), never by re-aggregating the full input; callers that used
    to groupBy the whole histogram for totals read them off the
    pyramid instead. With ``totals`` the return is (cumsums, totals_df).
    """
    assert group_cols, "grouped_cumsums needs >=1 group column"
    vals = list(values.items())
    nv = len(vals)
    x = F.col(order_col)
    # bucket levels to cover a 2^order_bits domain; the top level's
    # per-group window then holds <= 2^shift rows for ANY input
    n_lev = max(1, -(-order_bits // shift) - 1)
    cur = df
    for i, (_, col) in enumerate(vals):
        cur = cur.withColumn(f"_gcv{i}", col.cast("long"))
    b1 = F.shiftright(x, shift)
    if order_bits < 64:
        # checked in the bucketing projection itself: no extra job
        b1 = F.when(
            ~F.shiftright(x.cast("long"), order_bits - 1).isin(0, -1),
            F.raise_error(
                F.concat(
                    F.lit(f"grouped_cumsums: {order_col} outside order_bits={order_bits}: "),
                    x.cast("string"),
                )
            ),
        ).otherwise(b1)
    cur = cur.withColumn("_gb1", b1)
    w0 = (
        Window.partitionBy(*group_cols, "_gb1")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for i in range(nv):
        cur = cur.withColumn(f"_gcl{i}", F.sum(f"_gcv{i}").over(w0))
    # bucket-total pyramid: frames[l] holds one row per (group, b_l)
    # with that bucket's sums, its parent bucket id, and the EXCLUSIVE
    # prefix of sibling buckets under the same parent
    t = cur.groupBy(*group_cols, "_gb1").agg(
        *[F.sum(f"_gcv{i}").alias(f"_gcs{i}") for i in range(nv)]
    )
    totals_df = None
    if totals:
        idx_of = {name: i for i, (name, _) in enumerate(vals)}
        totals_df = t.groupBy(*group_cols).agg(
            *[
                F.sum(f"_gcs{idx_of[vname]}").alias(tname)
                for tname, vname in totals.items()
            ]
        )
    frames: "list[DataFrame]" = []
    for lev in range(1, n_lev + 1):
        top = lev == n_lev
        bcol, parent = f"_gb{lev}", f"_gb{lev + 1}"
        if not top:
            t = t.withColumn(parent, F.shiftright(F.col(bcol), shift))
        w = (
            Window.partitionBy(*(group_cols if top else [*group_cols, parent]))
            .orderBy(bcol)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        for i in range(nv):
            t = t.withColumn(
                f"_gco{i}", F.coalesce(F.sum(f"_gcs{i}").over(w), F.lit(0))
            )
        frames.append(t)
        if not top:
            t = t.groupBy(*group_cols, parent).agg(
                *[F.sum(f"_gcs{i}").alias(f"_gcs{i}") for i in range(nv)]
            )
    # merge the pyramid down to ONE offsets row per (group, b_1):
    # off(b_1) = excl-prefix within parent + parent's own merged offset
    acc = frames[-1].select(
        *group_cols,
        f"_gb{n_lev}",
        *[F.col(f"_gco{i}").alias(f"_gcm{i}") for i in range(nv)],
    )
    for lev in range(n_lev - 1, 0, -1):
        fr = frames[lev - 1]
        acc = fr.join(acc, [*group_cols, f"_gb{lev + 1}"]).select(
            *group_cols,
            f"_gb{lev}",
            *[
                (F.col(f"_gco{i}") + F.col(f"_gcm{i}")).alias(f"_gcm{i}")
                for i in range(nv)
            ],
        )
    out = cur.join(acc, [*group_cols, "_gb1"])
    drop = ["_gb1"]
    for i, (name, _) in enumerate(vals):
        out = out.withColumn(
            name,
            (F.col(f"_gcl{i}") + F.col(f"_gcm{i}"))
            - (F.lit(0) if inclusive else F.col(f"_gcv{i}")),
        )
        drop += [f"_gcl{i}", f"_gcm{i}", f"_gcv{i}"]
    out = out.drop(*drop)
    return (out, totals_df) if totals else out


def global_cumsum(
    df: DataFrame,
    order_by: list[Column],
    value: Column,
    cumsum_col: str = "cum",
    num_partitions: int | None = None,
    inclusive: bool = True,
    pin: bool = True,
) -> DataFrame:
    """Exact global running sum of ``value`` in ``order_by`` order
    without a single-partition sort — ``global_cumsums`` with one
    value column (see there for the shape).
    """
    return global_cumsums(
        df,
        order_by,
        {cumsum_col: value},
        num_partitions=num_partitions,
        inclusive=inclusive,
        pin=pin,
    )


def top_k_ranked(
    df: DataFrame, order_by: list[Column], k: int, rank_col: str = "rnk"
) -> DataFrame:
    """Top-k rows by ``order_by`` with a 1..k rank column.

    The heavy lifting is TakeOrdered; the rank window only ever sees k
    rows (the plan's un-partitioned Window sits ABOVE the global limit).

    Executors log ``WindowExec: No Partition Defined for Window
    operation`` for this helper (and its ≤k·cand_mult readout
    variants): EXPECTED and bounded — the single-partition stage holds
    exactly the k limit survivors, never input-sized data, so the
    warning is informational here. Anything else emitting it is a real
    scale bug; keep the warning channel meaningful by routing all
    intentional tiny-frame ranks through this helper."""
    top = df.orderBy(*order_by).limit(k)
    w = Window.orderBy(*order_by)
    return top.withColumn(rank_col, F.row_number().over(w).cast("int"))


def global_running_max(
    df: DataFrame,
    order_by: list[Column],
    value: Column,
    out_col: str = "run_max",
    num_partitions: int | None = None,
    inclusive: bool = True,
    pin: bool = True,
) -> DataFrame:
    """Exact global running max of ``value`` (long) in ``order_by``
    order without a single-partition sort — the two-phase shape of
    ``global_cumsum`` with max in place of sum. ``inclusive=False``
    gives the strict-predecessor max (NULL for the global first row).

    ``order_by`` must define a total order (include a unique
    tiebreaker), else tied rows' maxes are placement-dependent.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = _pin(
        df.withColumn("_val", value.cast("long"))
        .repartitionByRange(n, *order_by)
        .withColumn("_pid", F.spark_partition_id()),
        pin,
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = parted.withColumn("_lmax", F.max("_val").over(w))
    totals = parted.groupBy("_pid").agg(F.max("_val").alias("_tot"))
    c1, c2 = totals.alias("c1"), totals.alias("c2")
    offsets = (
        c1.join(c2, F.col("c2._pid") < F.col("c1._pid"), "left")
        .groupBy(F.col("c1._pid").alias("_pid"))
        .agg(F.max("c2._tot").alias("_off"))
    )
    # greatest() skips NULLs: exclusive first-in-partition rows fall
    # back to the earlier-partition max, and the global first row
    # (both NULL) stays NULL — "no predecessor"
    out = local.join(F.broadcast(offsets), "_pid").withColumn(
        out_col, F.greatest("_lmax", "_off")
    )
    return out.drop("_pid", "_lmax", "_off", "_val")
