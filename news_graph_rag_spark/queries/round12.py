"""Round-12 catalog extensions.

ML training: multi-feature split finding (``tree_level_split_orders``
— the decision stump generalized to D features in one pass, proving
the "a full tree level fans out trivially" claim). Training-data
curation: deterministic epoch shuffle + shard manifest
(``epoch_shuffle_shards`` — the step between pack_sequences and a
trainer). Multimodal: integer bilinear image resize after a real BMP
decode (``multimodal_image_resize_stats`` — the vision twin of the
round-11 audio resample).

Appended as the LAST module in queries/__init__.py's pinned
``_ROUND_MODULES`` order (first-50 driver prefix + full-order
manifest both test-frozen).

Determinism per catalog.py's rules: integer outputs everywhere; the
one hash in the epoch shuffle is a two-round LCG mix in plain integer
arithmetic (portable to DuckDB, no overflow within BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import release
from .catalog import load, register, spread


# ---------------------------------------------------------------------------
# Split finding, shared machinery: one level = melt -> per-value counts
# -> shared two-phase cumsum -> both polarities; used by the tree-level
# entry (per-feature best) and the depth-2 entry (per-leaf best) —
# round-12 review: two hand-maintained ~110-line copies had appeared in
# the same round that factored synth_rgb24 for exactly this hazard.
# ---------------------------------------------------------------------------

_N_FEATURES = 3

#: ONE feature pipeline for both tree entries (integer features from
#: orders + the urgent/high label; NULL rows filtered symmetrically).
_SPLIT_PTS_SQL = """
      SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS f0,
             CAST(o_custkey % 97 AS BIGINT) AS f1,
             CAST(datediff('month', DATE '1992-01-01', o_orderdate)
                  AS BIGINT) AS f2,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL
        AND o_orderdate IS NOT NULL
"""


def _split_pts(spark: SparkSession, sf: str) -> DataFrame:
    """Spark twin of _SPLIT_PTS_SQL — (f0, f1, f2, y) integer rows."""
    return (
        load(spark, sf, "orders")
        .filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_custkey").isNotNull()
            & F.col("o_orderdate").isNotNull()
        )
        .select(
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("f0"),
            (F.col("o_custkey") % 97).cast("bigint").alias("f1"),
            F.expr(
                "CAST(months_between(date_trunc('MONTH', o_orderdate), "
                "DATE '1992-01-01') AS BIGINT)"
            ).alias("f2"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("y"),
        )
    )


def _level_sql(pts: str, key: str, prefix: str) -> str:
    """One split-search level as a CTE chain: melt -> per-value counts
    -> per-group totals -> rank-window prefix sums -> both polarities,
    with ``key`` the extra grouping column ('' for a root level).
    Multiply-referenced CTEs are AS MATERIALIZED (the repo's oracle
    discipline — round-12 review: without it DuckDB's inlining
    re-expands the whole lower level inside every reference, ~100+
    replays of the orders scan for the depth-2 oracle)."""
    k = f"{key}, " if key else ""
    return f"""{prefix}m AS (
      SELECT {k}CAST(0 AS BIGINT) AS fid, f0 AS x, y FROM {pts}
      UNION ALL SELECT {k}CAST(1 AS BIGINT), f1, y FROM {pts}
      UNION ALL SELECT {k}CAST(2 AS BIGINT), f2, y FROM {pts}
    ),
    {prefix}g AS MATERIALIZED (
      SELECT {k}fid, x, CAST(SUM(y) AS BIGINT) AS np,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
      FROM {prefix}m GROUP BY {k}fid, x
    ),
    {prefix}tot AS MATERIALIZED (
      SELECT {k}fid, CAST(SUM(np) AS BIGINT) AS p,
             CAST(SUM(nn) AS BIGINT) AS n
      FROM {prefix}g GROUP BY {k}fid
    ),
    {prefix}c AS MATERIALIZED (
      SELECT {k}fid, x,
             SUM(np) OVER (PARTITION BY {k}fid ORDER BY x) AS cp,
             SUM(nn) OVER (PARTITION BY {k}fid ORDER BY x) AS cn
      FROM {prefix}g
    ),
    {prefix}cand AS (
      SELECT c.*, t.p, t.n, CAST(0 AS BIGINT) AS polarity,
             CAST(c.cp + (t.n - c.cn) AS BIGINT) AS n_correct
      FROM {prefix}c c JOIN {prefix}tot t
        ON t.fid = c.fid{f" AND t.{key} = c.{key}" if key else ""}
      UNION ALL
      SELECT c.*, t.p, t.n, CAST(1 AS BIGINT),
             CAST((t.p - c.cp) + c.cn AS BIGINT)
      FROM {prefix}c c JOIN {prefix}tot t
        ON t.fid = c.fid{f" AND t.{key} = c.{key}" if key else ""}
    )"""


def _split_counts(
    rows: DataFrame,
    leaf_col,
    pin: bool = True,
    pins: "list[DataFrame] | None" = None,
) -> DataFrame:
    """One split-search level over ``rows`` (f0..f{D-1}, y), returning
    per candidate threshold the raw prefix counts
    (leaf, fid, thr, cp, cn, p, n) — cp/cn = positives/negatives at
    values <= thr, p/n = the (leaf, fid) totals. Every split criterion
    (accuracy, Gini gain, entropy) is a pure function of these four
    counts, so this is the ONE level pass both the accuracy entries
    (via _split_candidates) and the round-13 Gini tree share.
    ``leaf_col`` is a Column (lit(0) for a root level); leaf folds
    into the group key kf = leaf·D + fid, so a whole level — however
    many leaves — costs ONE map-side melt, one (kf, x) groupBy pinned
    ONCE (round-12 review: checkpointing only the totals left the
    scan+melt running twice per level), and one per-kf bucketed
    cumsum (ranks.grouped_cumsums — round-17: the former two-phase
    range cumsum paid a boundary-sampling job plus a second eager
    checkpoint PER LEVEL, the dominant cost of a level at bench
    scale; the bucketed form is one lazy plan over the pinned
    histogram with every window partition ≤ 2^16 rows by
    construction, deterministic hash partitioning only, and it
    already works per-kf so the per-kf exclusive-offsets
    broadcast machinery disappears entirely).

    ``pin=False`` exists for PLAN INSPECTION ONLY (the ranks._pin
    convention): round-17 measured the unpinned shape end to end and
    the duplicated histogram subtrees are NOT deduplicated by
    exchange reuse (independent executions of the melt+groupBy per
    consumer, plus a slowdown). Every value-producing caller must
    keep the default pin=True."""
    from ..ranks import grouped_cumsums

    m = rows.select(
        leaf_col.cast("bigint").alias("leaf"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("bigint").alias("fid"),
                        F.col(f"f{i}").alias("x"),
                    )
                    for i in range(_N_FEATURES)
                ]
            )
        ).alias("fx"),
        "y",
    ).select(
        (F.col("leaf") * _N_FEATURES + F.col("fx.fid")).alias("kf"),
        F.col("fx.x").alias("x"),
        "y",
    )
    # pin the per-value histogram ONCE: totals and the cumsum both
    # derive from it, and it is distinct-values-sized. ``pins``
    # collects the pinned frame so multi-level callers can release
    # its blocks once a downstream collect (the level's best splits,
    # _best_local) has cut every dependency on it (round-16 advice:
    # the per-level pins leaked block-manager storage per cold
    # training).
    g = m.groupBy("kf", "x").agg(
        F.sum("y").cast("bigint").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("nn"),
    )
    if pin:
        # eager localCheckpoint, NOT a lazy persist: round-18 A/B'd
        # `g.persist()` (one job per level instead of checkpoint +
        # collect) and it REGRESSED ~40% (gbt_2round 4.5→6.6 s solo,
        # jobs 56→68) — under AQE the InMemoryRelation's consumers
        # each spawned their own materialization sub-jobs and the
        # columnar cache encode/decode cost more than the saved job
        # boundary. The blocking checkpoint job stays.
        g = g.localCheckpoint(eager=True)
        if pins is not None:
            pins.append(g)
    # per-kf running counts directly (grouped_cumsums partitions by
    # kf), so cp/cn need no concatenated-order offset subtraction.
    # order_bits=32: every catalog feature is an integer < 2^31
    # (price cents ≤ ~5e7, key residues, month indexes, micro-scaled
    # values ≤ ~1e9), so the bucket pyramid collapses to ONE level —
    # round-17 measured the 3-level pyramid costing ~0.65s of pure
    # driver PLANNING per level pass. The per-kf totals (p, n) come
    # off the pyramid's bucket frame (≤ 2^16 rows per kf), not a
    # second aggregation over the full histogram.
    c, tot = grouped_cumsums(
        g,
        ["kf"],
        "x",
        {"cp": F.col("np"), "cn": F.col("nn")},
        order_bits=32,
        totals={"p": "cp", "n": "cn"},
    )
    return c.join(F.broadcast(tot), "kf").select(
        F.expr(f"kf div {_N_FEATURES}").alias("leaf"),
        (F.col("kf") % _N_FEATURES).alias("fid"),
        F.col("x").alias("thr"),
        "cp",
        "cn",
        "p",
        "n",
    )


def _split_candidates(
    rows: DataFrame, leaf_col, pins: "list[DataFrame] | None" = None
) -> DataFrame:
    """Accuracy candidates (leaf, fid, thr, polarity, n_correct,
    n_node) derived from _split_counts' prefix counts — both
    polarities from ONE pass (a unionByName of two selects would
    duplicate the whole cumsum subtree)."""
    c = _split_counts(rows, leaf_col, pins=pins)
    return c.select(
        "leaf",
        "fid",
        "thr",
        (F.col("p") + F.col("n")).cast("bigint").alias("n_node"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).cast("bigint").alias("polarity"),
                    (F.col("cp") + (F.col("n") - F.col("cn")))
                    .cast("bigint")
                    .alias("n_correct"),
                ),
                F.struct(
                    F.lit(1).cast("bigint").alias("polarity"),
                    ((F.col("p") - F.col("cp")) + F.col("cn"))
                    .cast("bigint")
                    .alias("n_correct"),
                ),
            )
        ).alias("cd"),
    ).select(
        "leaf",
        "fid",
        "thr",
        F.col("cd.polarity").alias("polarity"),
        F.col("cd.n_correct").alias("n_correct"),
        "n_node",
    )


def _split_best(cand: DataFrame, per_feature: bool) -> DataFrame:
    """Deterministic argmax WITHOUT a window: min over lexicographic
    structs. ``per_feature=True`` -> best per (leaf, fid), tie-break
    (n_correct DESC, polarity, thr); ``per_feature=False`` -> best per
    leaf across features, fid joining the tie-break after accuracy —
    both matching the oracles' row_number orderings."""
    neg = (-F.col("n_correct")).alias("neg")
    tail = [
        F.col("polarity").alias("polarity"),
        F.col("thr").alias("thr"),
        F.col("n_correct").alias("nc"),
        F.col("n_node").alias("nn"),
    ]
    if per_feature:
        group, fields = ["leaf", "fid"], [neg, *tail]
    else:
        group, fields = ["leaf"], [neg, F.col("fid").alias("fid"), *tail]
    return cand.groupBy(*group).agg(F.min(F.struct(*fields)).alias("b"))


@register(
    "tree_level_split_orders",
    oracle=f"""
    WITH pts AS MATERIALIZED ({_SPLIT_PTS_SQL}),
    {_level_sql("pts", "", "r")},
    best AS (
      SELECT fid, x AS thr, polarity, n_correct,
             CAST(p + n AS BIGINT) AS n_total,
             row_number() OVER (
               PARTITION BY fid
               ORDER BY n_correct DESC, polarity ASC, x ASC
             ) AS rn
      FROM rcand
    )
    SELECT CAST(fid AS BIGINT) AS fid, thr, polarity, n_correct, n_total
    FROM best WHERE rn = 1
    """,
    doc="ML training: MULTI-FEATURE SPLIT FINDING — the round-11 "
    "decision stump generalized to D features in ONE pass (the "
    "split-search a distributed tree trainer runs per tree level; "
    "this entry proves the stump doc's 'a full tree level fans out "
    "trivially' claim with D=3 integer features: price cents, "
    "customer-key residue, order-month index). One map-side melt "
    "(explode of (fid, x) structs — D× the rows, zero joins), one "
    "(fid, x) groupBy for per-value label counts — pinned ONCE so "
    "totals, offsets, and prefix sums all read one materialization — "
    "per-feature prefix sums from a SINGLE two-phase "
    "ranks.global_cumsums pass over the concatenated (fid, x) order "
    "(per-feature offsets subtracted via a D-row broadcast — one "
    "cumsum machine for the whole level, NOT one per feature, and "
    "never a single-partition window: plan-asserted), and the "
    "per-feature argmax is a min-over-structs aggregation "
    "((-n_correct, polarity, thr) lexicographic — map-side "
    "combinable, ties broken exactly like the oracle's row_number). "
    "The level machinery (_split_candidates) is SHARED VERBATIM with "
    "tree_depth2_orders, which recurses it. All counts "
    "integer-exact; the oracle replays the same melt + rank windows "
    "(multiply-referenced CTEs MATERIALIZED per the repo's oracle "
    "discipline). At 100 TB: melt scales linearly in D·rows, "
    "distinct-value tables shrink per feature, and the cumsum/argmax "
    "never concentrate on one executor — the classic histogram-based "
    "split finding (XGBoost/LightGBM's approx mode quantizes first; "
    "this is the exact-threshold variant).",
)
def tree_level_split_orders(spark: SparkSession, sf: str) -> DataFrame:
    best = _split_best(
        _split_candidates(_split_pts(spark, sf), F.lit(0)),
        per_feature=True,
    )
    return best.select(
        F.col("fid").cast("bigint").alias("fid"),
        F.col("b.thr").alias("thr"),
        F.col("b.polarity").alias("polarity"),
        F.col("b.nc").alias("n_correct"),
        F.col("b.nn").alias("n_total"),
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle + shard manifest
# ---------------------------------------------------------------------------

_EPOCH = 1  # salt; a trainer varies this per epoch
_N_SHARDS = 8
_CHECKSUM_MOD = 1_000_000_007


def _lcg_mix(col: F.Column) -> F.Column:
    """THE keyed two-round LCG permutation mix (epoch-salted,
    overflow-guarded mod-2³¹ reduction before the first multiply) —
    one implementation shared by epoch_shuffle_shards and round-13's
    tokenize_pack_export (round-13 review: two inline copies had
    appeared; an edit to one would silently desync the export chain
    from the shuffle entry)."""
    return (
        (
            ((col % 2147483648) * 1103515245 + 12345 + _EPOCH * 7919)
            % 2147483648
        )
        * 69069
        + 1
    ) % 2147483648


def _lcg_mix_sql(col: str) -> str:
    """DuckDB twin of _lcg_mix — the ONE SQL form of the permutation
    mix, shared by the epoch-shuffle and tokenize-pack-export oracles
    (round-13 review pass 2: the Spark-side dedup had left two inline
    SQL copies that could still drift)."""
    return (
        f"(((({col} % 2147483648) * 1103515245 + 12345 + {_EPOCH} * 7919) "
        f"% 2147483648) * 69069 + 1) % 2147483648"
    )


@register(
    "epoch_shuffle_shards",
    oracle=f"""
    WITH hh AS (
      SELECT doc_id, {_lcg_mix_sql("doc_id")} AS h2
      FROM documents WHERE doc_id IS NOT NULL
    ),
    r AS (
      SELECT doc_id, h2,
             row_number() OVER (ORDER BY h2, doc_id) AS rnk,
             count(*) OVER () AS t
      FROM hh
    )
    SELECT CAST(((rnk - 1) * {_N_SHARDS}) // t AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(rnk) AS BIGINT) AS min_rank,
           CAST(max(rnk) AS BIGINT) AS max_rank,
           CAST(SUM((h2 + doc_id) % {_CHECKSUM_MOD}) AS BIGINT) AS checksum
    FROM r GROUP BY 1
    """,
    doc="training-data curation: DETERMINISTIC EPOCH SHUFFLE + SHARD "
    "MANIFEST — the step between pack_sequences and a trainer: give "
    "every document a pseudorandom but REPLAYABLE position (keyed "
    "two-round LCG mix of doc_id with the epoch as salt — integer "
    "arithmetic only, no engine hash functions; doc_id is reduced mod "
    "2^31 before the first multiply so every product is bounded far "
    "inside BIGINT at any corpus size, and NULL doc_ids are filtered "
    "symmetrically, since a NULL mix key would sort NULLS-FIRST in "
    "Spark but NULLS-LAST in DuckDB), "
    "split the permuted order into N equal-width "
    "shards, and emit the per-shard manifest (row count, rank range, "
    "additive checksum mod 1e9+7 — the table_checksums discipline) "
    "that lets a training job verify every shard it reads. Positions "
    "come from ranks.global_row_number's two-phase range-partition + "
    "offset-broadcast — NO single-partition global sort "
    "(plan-asserted); shard_id = (rank-1)·N div total needs only the "
    "1-row total broadcast. A different epoch salt yields a different "
    "permutation with the same machinery; the oracle replays the mix "
    "and a rank window bit-for-bit. At 100 TB: the shuffle is one "
    "range exchange on the mix key (balanced by construction — the "
    "LCG output is uniform over 2^31) + one N-group aggregation; "
    "writing the shards is `partitionBy(shard_id)` on the same frame. "
    "Beyond-reference: the reference has no training-export surface.",
)
def epoch_shuffle_shards(spark: SparkSession, sf: str) -> DataFrame:
    from ..ranks import global_row_number

    # NULL doc_ids are excluded SYMMETRICALLY (a NULL mix key would
    # rank first in Spark's NULLS-FIRST order but last in DuckDB's —
    # the known engine-parity trap) and doc_id is reduced mod 2^31
    # BEFORE the first multiply so every product stays far inside
    # BIGINT at any corpus size (round-12 review: doc_id ≥ ~8.4e9
    # would overflow — Spark wraps silently, DuckDB raises)
    docs = (
        load(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id")
    )
    hh = docs.select("doc_id", _lcg_mix(F.col("doc_id")).alias("h2"))
    # rank_type="long": shard_id multiplies the rank by N — an int rank
    # overflows at 2^31/N rows (ANSI raises, legacy wraps negative),
    # exactly the class of bound the mix reduction above guards
    r = global_row_number(
        hh, [F.col("h2"), F.col("doc_id")], rank_col="rnk", rank_type="long"
    )
    tot = r.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    return (
        r.crossJoin(F.broadcast(tot))
        .select(
            F.expr(f"((rnk - 1) * {_N_SHARDS}) div t").alias("shard_id"),
            F.col("rnk").cast("bigint").alias("rnk"),
            ((F.col("h2") + F.col("doc_id")) % _CHECKSUM_MOD).alias("ck"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("rnk").cast("bigint").alias("min_rank"),
            F.max("rnk").cast("bigint").alias("max_rank"),
            F.sum("ck").cast("bigint").alias("checksum"),
        )
        .select(
            F.col("shard_id").cast("bigint").alias("shard_id"),
            "n_rows",
            "min_rank",
            "max_rank",
            "checksum",
        )
    )


# ---------------------------------------------------------------------------
# Image resize: vision normalization after a real BMP decode
# ---------------------------------------------------------------------------


def _rs_src(x: str, y: str, c: str) -> str:
    """SQL for the shared synthetic-pixel formula s(x,y,c) =
    (media_id + 3x + 7y + 11c) % 256 — pipeline/multimodal.py:
    synth_rgb24, the one generator every RGB image entry draws from
    (this entry uses smaller dims than the BMP-decode entry; the
    formula, not the image, is what is shared)."""
    return f"((media_id + 3 * ({x}) + 7 * ({y}) + 11 * ({c})) % 256)"


def _rs_hpass(k: str, y: str, c: str) -> str:
    """SQL for the horizontal 3/2 lerp: output column k reads source
    columns i=(2k) div 3 and min(i+1, w-1) with remainder r=(2k) mod 3;
    all operands are 0..255 so // floors identically in both engines."""
    i = f"((2 * ({k})) // 3)"
    r = f"((2 * ({k})) % 3)"
    a = _rs_src(i, y, c)
    b = _rs_src(f"least({i} + 1, w - 1)", y, c)
    return f"((({a}) * (3 - {r}) + ({b}) * ({r})) // 3)"


def _rs_out(k: str, k2: str, c: str) -> str:
    """SQL for the vertical pass over the ALREADY-FLOORED horizontal
    values (floor-of-floor — exactly what the two-pass Python kernel
    computes)."""
    j = f"((2 * ({k2})) // 3)"
    r2 = f"((2 * ({k2})) % 3)"
    a = _rs_hpass(k, j, c)
    b = _rs_hpass(k, f"least({j} + 1, h - 1)", c)
    return f"((({a}) * (3 - {r2}) + ({b}) * ({r2})) // 3)"


@register(
    "multimodal_image_resize_stats",
    oracle=f"""
    WITH imgs AS (
      SELECT doc_id AS media_id,
             n_chars % 12 + 4 AS w,
             doc_id % 10 + 4 AS h,
             ((n_chars % 12 + 4 - 1) * 3) // 2 + 1 AS wo,
             ((doc_id % 10 + 4 - 1) * 3) // 2 + 1 AS ho
      FROM documents WHERE n_chars IS NOT NULL
    ),
    px AS (
      SELECT media_id, w, h, wo, ho,
             u.idx % 3 AS c,
             (u.idx % (3 * wo)) // 3 AS xo,
             u.idx // (3 * wo) AS yo
      FROM imgs, unnest(range(0, wo * ho * 3)) AS u(idx)
    ),
    v AS (
      SELECT media_id, wo, ho, c, xo, yo,
             {_rs_out("xo", "yo", "c")} AS v
      FROM px
    )
    SELECT media_id,
           CAST(max(wo) AS INT) AS width_out,
           CAST(max(ho) AS INT) AS height_out,
           CAST(SUM(v) AS BIGINT) AS sum_all,
           CAST(MIN(v) AS BIGINT) AS min_v,
           CAST(MAX(v) AS BIGINT) AS max_v,
           CAST(SUM(CASE WHEN c = 0 THEN (yo * wo + xo + 1) * v ELSE 0 END)
                AS BIGINT) AS pos_weighted_r
    FROM v GROUP BY media_id
    """,
    doc="multimodal: IMAGE RESIZE (vision normalization) — the 2-D "
    "twin of the round-11 audio resample, run right after decode in "
    "every vision training pipeline: per document, synthesize a "
    "deterministic 24-bit image with the SAME shared generator "
    "formula as multimodal_bmp_decode_stats "
    "(pipeline/multimodal.py:synth_rgb24 — smaller dims here, since "
    "the 3/2 upscale grows the oracle's replay grid), "
    "round-trip it through the real BMP encode+parse (the decode is "
    "exercised, not assumed), then upscale 3/2 in both dimensions "
    "with the integer SEPARABLE bilinear kernel "
    "(pipeline/multimodal.py:resize_bilinear_rgb — horizontal then "
    "vertical 1-D lerp, floor-of-floor; channel values are 0..255 so "
    "every division has a non-negative numerator and Python // equals "
    "DuckDB //) and emit exact integer stats of the RESIZED pixels, "
    "including a position-weighted red sum that any kernel with wrong "
    "row order, transposed axes, or edge-clamp confusion cannot "
    "reproduce. The oracle replays synth → h-pass → v-pass "
    "expression-for-expression on the output grid, so the gate "
    "certifies decode → resize end to end. Map-only Arrow pass; "
    "image bytes never shuffle (the multimodal prime directive).",
)
def multimodal_image_resize_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.multimodal import (
        decode_bmp24,
        encode_bmp24,
        resize_bilinear_rgb,
        synth_rgb24,
    )

    imgs = spread(
        load(spark, sf, "documents").filter(F.col("n_chars").isNotNull())
    ).select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 12 + 4).cast("int").alias("w"),
        (F.col("doc_id") % 10 + 4).cast("int").alias("h"),
    )

    def run(batches):
        import pandas as pd

        cols = (
            "media_id",
            "width_out",
            "height_out",
            "sum_all",
            "min_v",
            "max_v",
            "pos_weighted_r",
        )
        for pdf in batches:
            out: dict = {k: [] for k in cols}
            for media_id, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                src = synth_rgb24(int(media_id), int(w), int(h))
                bmp = encode_bmp24(int(w), int(h), src)
                dw, dh, pixels = decode_bmp24(bmp)
                wo, ho, rs = resize_bilinear_rgb(dw, dh, pixels)
                vals = [v for p in rs for v in p]
                out["media_id"].append(media_id)
                out["width_out"].append(wo)
                out["height_out"].append(ho)
                out["sum_all"].append(sum(vals))
                out["min_v"].append(min(vals))
                out["max_v"].append(max(vals))
                out["pos_weighted_r"].append(
                    sum(
                        (y * wo + x + 1) * rs[y * wo + x][0]
                        for y in range(ho)
                        for x in range(wo)
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "width_out": pd.Series(out["width_out"], dtype="int32"),
                    "height_out": pd.Series(out["height_out"], dtype="int32"),
                    **{
                        k: pd.Series(out[k], dtype="int64")
                        for k in cols[3:]
                    },
                }
            )

    return imgs.mapInPandas(
        run,
        "media_id long, width_out int, height_out int, sum_all long, "
        "min_v long, max_v long, pos_weighted_r long",
    )



# ---------------------------------------------------------------------------
# Depth-2 tree induction: root split, partition, per-leaf split search
# ---------------------------------------------------------------------------


@register(
    "tree_depth2_orders",
    oracle=f"""
    WITH pts AS MATERIALIZED ({_SPLIT_PTS_SQL}),
    {_level_sql("pts", "", "r")},
    root AS MATERIALIZED (
      SELECT fid, x AS thr, polarity, n_correct, CAST(p + n AS BIGINT) AS nn
      FROM rcand
      ORDER BY n_correct DESC, fid ASC, polarity ASC, x ASC LIMIT 1
    ),
    pts2 AS MATERIALIZED (
      SELECT pts.*,
             CASE WHEN (CASE root.fid WHEN 0 THEN f0 WHEN 1 THEN f1
                        ELSE f2 END) <= root.thr
                  THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS leaf
      FROM pts, root
    ),
    {_level_sql("pts2", "leaf", "l")},
    leafbest AS (
      SELECT leaf, fid, x AS thr, polarity, n_correct,
             CAST(p + n AS BIGINT) AS nn,
             row_number() OVER (
               PARTITION BY leaf
               ORDER BY n_correct DESC, fid ASC, polarity ASC, x ASC
             ) AS rn
      FROM lcand
    )
    SELECT CAST(0 AS BIGINT) AS node, CAST(fid AS BIGINT) AS fid, thr,
           polarity, n_correct, nn AS n_node
    FROM root
    UNION ALL
    SELECT leaf, CAST(fid AS BIGINT), thr, polarity, n_correct, nn
    FROM leafbest WHERE rn = 1
    """,
    doc="ML training: DEPTH-2 TREE INDUCTION — the recursion the "
    "tree-level entry exists to enable, run end to end: find the best "
    "root split across D=3 integer features (accuracy argmax over "
    "every threshold and polarity, tie-break n_correct DESC, fid, "
    "polarity, thr), PARTITION the rows by that split (leaf 1 = "
    "feature <= thr, leaf 2 = above; the 1-row root broadcasts, the "
    "assignment is one map-side CASE), then run the SAME shared level "
    "machinery (_split_candidates — one function, not a copy) once "
    "more with leaf folded into the group key (leaf·D + fid), proving "
    "a full tree level per recursion step costs ONE shared two-phase "
    "cumsum regardless of leaf count (the distributed analog of "
    "XGBoost's per-level histogram pass; depth d = d sequential "
    "passes, never d·leaves jobs). Emits the root and both leaf "
    "splits with their accuracies and node sizes, all integer-exact; "
    "the oracle replays both levels with rank windows, "
    "multiply-referenced CTEs MATERIALIZED (without it DuckDB's "
    "inlining re-expands the lower level inside every reference). At "
    "100 TB: one scan+melt per level (the per-value histogram is "
    "pinned once per level), one D-row and one 2D-row broadcast, no "
    "single-partition window anywhere (plan-asserted).",
)
def tree_depth2_orders(spark: SparkSession, sf: str) -> DataFrame:
    pts = _split_pts(spark, sf)
    # level 0: global best across features (1 row, pinned so the leaf
    # assignment and the output row read ONE materialization)
    root_pins: "list[DataFrame]" = []
    root = _split_best(
        _split_candidates(pts, F.lit(0), pins=root_pins),
        per_feature=False,
    ).select(
        F.lit(0).cast("bigint").alias("node"),
        F.col("b.fid").alias("fid"),
        F.col("b.thr").alias("thr"),
        F.col("b.polarity").alias("polarity"),
        F.col("b.nc").alias("n_correct"),
        F.col("b.nn").alias("n_node"),
    )
    # driver-literal root (round-18, the _best_local treatment): the
    # collect is the job the former eager localCheckpoint ran, but the
    # 1-row root now broadcasts into the leaf assignment with no build
    # job and the output row is a LocalTableScan (all-bigint, exact)
    from ..localrel import local_rel

    root = local_rel(
        spark,
        [tuple(r) for r in root.collect()],
        "node bigint, fid bigint, thr bigint, polarity bigint, "
        "n_correct bigint, n_node bigint",
    )
    # the root collect cut every dependency on level 0's pinned
    # histogram — release its blocks (level 1 stays lazy in the
    # returned plan, so ITS histogram pin must live)
    release(*root_pins)
    # partition by the root split: map-side CASE against the broadcast
    # 1-row root — leaf 1 = split-feature value <= thr, leaf 2 = above
    root_b = F.broadcast(
        root.select(
            F.col("fid").alias("r_fid"), F.col("thr").alias("r_thr")
        )
    )
    pts2 = pts.crossJoin(root_b).withColumn(
        "leaf",
        F.when(
            F.expr(
                "CASE r_fid WHEN 0 THEN f0 WHEN 1 THEN f1 ELSE f2 END"
            )
            <= F.col("r_thr"),
            F.lit(1),
        ).otherwise(F.lit(2)),
    )
    # level 1: the SAME machinery, leaf folded into the group key
    leaves = _split_best(
        _split_candidates(pts2, F.col("leaf")), per_feature=False
    ).select(
        F.col("leaf").cast("bigint").alias("node"),
        F.col("b.fid").alias("fid"),
        F.col("b.thr").alias("thr"),
        F.col("b.polarity").alias("polarity"),
        F.col("b.nc").alias("n_correct"),
        F.col("b.nn").alias("n_node"),
    )
    return root.unionByName(leaves)
