"""Round-13 catalog extensions.

ML training: depth-3 histogram-tree induction with an exact-integer
weighted-Gini criterion (``tree_depth3_orders`` — the round-12 level
machinery recursed with a REAL split criterion). Training-data export:
the end-to-end tokenize → pack → shuffle → shard-manifest chain
(``tokenize_pack_export`` — certifies the per-piece-verified stages
compose). ANN serving: IVF-PQ asymmetric-distance search over the
persistent index (``ann_ivfpq_search_topk`` — the memory-budget path
for 10^9-vector serving, value-verified like the other ivf entries).

Appended as the LAST module in queries/__init__.py's pinned
``_ROUND_MODULES`` order (first-50 driver prefix + full-order manifest
both test-frozen).

Determinism per catalog.py's rules: every OUTPUT column is an exact
integer. The one non-integer comparison — the Gini-gain ordering — is
an IEEE double computed by the identical expression tree on exact
integers in both engines (int64→double conversions and one multiply +
one divide, each correctly rounded, hence bit-identical), with total
integer tie-breaks (fid, thr) behind it; see tree_depth3_orders' doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import release
from .catalog import load, register, spread
from .round12 import (
    _CHECKSUM_MOD,
    _lcg_mix,
    _lcg_mix_sql,
    _level_sql,
    _split_counts,
    _split_pts,
    _SPLIT_PTS_SQL,
)

# ---------------------------------------------------------------------------
# Depth-3 tree induction with weighted-Gini gain
# ---------------------------------------------------------------------------

_TREE_DEPTH = 3

# For binary labels the weighted-Gini GAIN of a split with prefix
# counts (cp, cn) of a node with totals (p, n) reduces to
#   gain = 2 · S² / (node · lt · rt),   S = cp·n − cn·p,
#   lt = cp + cn,  rt = node − lt
# (expand parent impurity 2pn/node minus the children's 2ab/s terms
# over the common denominator node·lt·rt; the numerator factors into
# the squared cross-product). node is constant per leaf, so the argmax
# ranks by S²/(lt·rt): S, lt, rt are exact BIGINTs straight from the
# shared level pass's prefix sums.


def _gini_best(counts: DataFrame) -> DataFrame:
    """Per-leaf argmax of Gini gain over every (fid, thr) candidate.

    Candidates with rt = 0 (threshold at the feature max — splits
    nothing) are excluded symmetrically on both engines. The ordering
    key is gain = double(S)·double(S) / double(lt·rt): S and lt·rt are
    exact integers (< 2^53 at any tested scale, and int64→double is
    the same round-to-nearest in Spark, DuckDB, and numpy), so both
    engines evaluate the identical two-op IEEE expression and order
    identically; (fid, thr) break exact ties. min-over-structs, no
    window (map-side combinable, like round-12's accuracy argmax)."""
    c = counts.select(
        "leaf",
        "fid",
        "thr",
        (F.col("cp") + F.col("cn")).cast("bigint").alias("lt"),
        ((F.col("p") + F.col("n")) - (F.col("cp") + F.col("cn")))
        .cast("bigint")
        .alias("rt"),
        (F.col("cp") * F.col("n") - F.col("cn") * F.col("p"))
        .cast("bigint")
        .alias("s"),
    ).filter(F.col("rt") > 0)
    gain = (F.col("s").cast("double") * F.col("s").cast("double")) / (
        F.col("lt") * F.col("rt")
    ).cast("double")
    return c.groupBy("leaf").agg(
        F.min(
            F.struct(
                (-gain).alias("ng"),
                F.col("fid").alias("fid"),
                F.col("thr").alias("thr"),
                F.col("lt").alias("lt"),
                F.col("rt").alias("rt"),
                F.col("s").alias("s"),
            )
        ).alias("b")
    )


def _gini_rows(best: DataFrame) -> DataFrame:
    return best.select(
        F.col("leaf").cast("bigint").alias("node"),
        F.col("b.fid").cast("bigint").alias("fid"),
        F.col("b.thr").alias("thr"),
        F.col("b.lt").alias("n_left"),
        F.col("b.rt").alias("n_right"),
        F.col("b.s").alias("s_cross"),
    )


def _best_local(best: DataFrame, pins: "list[DataFrame] | None" = None) -> DataFrame:
    """Materialize a level's per-leaf best splits (≤ 2^level rows —
    one row per leaf, driver-bounded BY CONSTRUCTION) as a
    driver-literal relation. The collect() is the SAME job the former
    eager ``localCheckpoint`` ran, but every downstream consumer
    (_tree_assign's broadcast, _gini_rows readouts, the staged-model
    writers) now reads a ``LocalTableScan``: broadcasts build
    driver-side with NO job — the former checkpointed-RDD bests
    rebuilt a small broadcast job inside EVERY subsequent level pass
    and readout that referenced them (round-18; guide §2.4 remove
    jobs outright, §5 driver-memory discipline — the same budget tier
    as localrel's serving relations). Values are exactly the computed
    ones (integers verbatim; the double gain round-trips via repr).
    ``pins`` are released here: the collect cut every dependency on
    the level's pinned histogram (round-16 advice)."""
    from ..localrel import local_rel

    spark = best.sparkSession
    flat = [
        (
            r["leaf"],
            r["b"]["ng"],
            r["b"]["fid"],
            r["b"]["thr"],
            r["b"]["lt"],
            r["b"]["rt"],
            r["b"]["s"],
        )
        for r in best.collect()
    ]
    release(*(pins or ()))
    rel = local_rel(
        spark,
        flat,
        "leaf bigint, ng double, fid bigint, thr bigint, "
        "lt bigint, rt bigint, s bigint",
    )
    # same (leaf, b-struct) shape _gini_best returns — consumers are
    # unchanged; the Project over a LocalRelation constant-folds back
    # into a LocalRelation (ConvertToLocalRelation)
    return rel.select(
        "leaf", F.struct("ng", "fid", "thr", "lt", "rt", "s").alias("b")
    )


def _gini_cand_sql(key: str, prefix: str) -> str:
    """Gini candidates + per-leaf best over _level_sql's ``{prefix}c``
    prefix sums and ``{prefix}tot`` totals (the accuracy ``cand`` CTE
    in _level_sql goes unreferenced and is never evaluated)."""
    k = f"c.{key}, " if key else ""
    on_key = f" AND t.{key} = c.{key}" if key else ""
    part = f"PARTITION BY {key} " if key else ""
    s = "(c.cp * t.n - c.cn * t.p)"
    lt = "(c.cp + c.cn)"
    rt = "((t.p + t.n) - (c.cp + c.cn))"
    return f"""{prefix}gc AS MATERIALIZED (
      SELECT {k}c.fid, c.x AS thr,
             CAST({lt} AS BIGINT) AS lt, CAST({rt} AS BIGINT) AS rt,
             CAST({s} AS BIGINT) AS s,
             CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE)
               / CAST({lt} * {rt} AS DOUBLE) AS gain
      FROM {prefix}c c JOIN {prefix}tot t
        ON t.fid = c.fid{on_key}
      WHERE {rt} > 0
    ),
    {prefix}gb AS MATERIALIZED (
      SELECT *, row_number() OVER (
               {part}ORDER BY gain DESC, fid ASC, thr ASC) AS rn
      FROM {prefix}gc
    )"""


def _node_case(fid: str, thr: str, tbl: str = "") -> str:
    t = f"{tbl}." if tbl else ""
    return (
        f"CASE WHEN (CASE {fid} WHEN 0 THEN {t}f0 WHEN 1 THEN {t}f1 "
        f"ELSE {t}f2 END) <= {thr} THEN 0 ELSE 1 END"
    )


_TREE3_ORACLE = f"""
    WITH pts AS MATERIALIZED ({_SPLIT_PTS_SQL}),
    {_level_sql("pts", "", "a")},
    {_gini_cand_sql("", "a")},
    pts2 AS MATERIALIZED (
      SELECT pts.*,
             CAST(2 + {_node_case("b.fid", "b.thr", "pts")} AS BIGINT) AS node
      FROM pts, (SELECT fid, thr FROM agb WHERE rn = 1) b
    ),
    {_level_sql("pts2", "node", "b")},
    {_gini_cand_sql("node", "b")},
    pts3 AS MATERIALIZED (
      SELECT p.f0, p.f1, p.f2, p.y,
             CAST(p.node * 2 + {_node_case("b.fid", "b.thr", "p")} AS BIGINT)
               AS node
      FROM pts2 p
      JOIN (SELECT node, fid, thr FROM bgb WHERE rn = 1) b
        ON b.node = p.node
    ),
    {_level_sql("pts3", "node", "d")},
    {_gini_cand_sql("node", "d")}
    SELECT CAST(1 AS BIGINT) AS node, CAST(fid AS BIGINT) AS fid, thr,
           lt AS n_left, rt AS n_right, s AS s_cross
    FROM agb WHERE rn = 1
    UNION ALL
    SELECT CAST(node AS BIGINT), CAST(fid AS BIGINT), thr, lt, rt, s
    FROM bgb WHERE rn = 1
    UNION ALL
    SELECT CAST(node AS BIGINT), CAST(fid AS BIGINT), thr, lt, rt, s
    FROM dgb WHERE rn = 1
    """


@register(
    "tree_depth3_orders",
    oracle=_TREE3_ORACLE,
    doc="ML training: DEPTH-3 TREE INDUCTION with a REAL split "
    "criterion — weighted-Gini gain instead of round-12's raw "
    "accuracy, turning the demo recursion into the histogram-tree "
    "trainer the level machinery exists for. For binary labels the "
    "gain reduces to S²/(lt·rt) with S = cp·n − cn·p — S, lt, rt "
    "exact BIGINTs straight from the SAME (cp, cn, p, n) prefix sums "
    "the accuracy entries read (_split_counts, one function for all "
    "tree entries), so the only non-integer step is the final "
    "ordering, an IEEE double produced by the identical 2-op "
    "expression tree on exact ints in both engines (bit-identical; "
    "fid/thr break exact ties). Heap node ids (root 1, children "
    "2k/2k+1): each of the 3 levels costs ONE shared melt + one "
    "pinned per-value histogram + one two-phase cumsum REGARDLESS of "
    "leaf count (leaf folds into the group key), then a 2^level-row "
    "broadcast partitions the rows for the next level — depth d = d "
    "sequential passes, never d·leaves jobs (the XGBoost level-pass "
    "shape). Zero-split candidates (rt = 0) are excluded "
    "symmetrically; pure leaves emit their zero-gain best (gain 0 for "
    "every candidate) rather than a dynamic stop, keeping the output "
    "shape engine-independent — a production trainer prunes those "
    "rows. Outputs per node: split feature, threshold, child sizes, "
    "and the exact cross-product S. Overflow bound: S ≤ node²/4 — "
    "exact to ~3·10⁹ rows per node in BIGINT; past that the level "
    "pass swaps S to DECIMAL(38,0) unchanged. Differential-tested vs "
    "a brute-force 3-level Python trainer; windows plan-asserted "
    "_pid-only.",
)
def tree_depth3_orders(spark: SparkSession, sf: str) -> DataFrame:
    cur = _split_pts(spark, sf).withColumn("node", F.lit(1).cast("bigint"))
    outs: list[DataFrame] = []
    for level in range(_TREE_DEPTH):
        # ONE shared level pass, however many leaves
        pins: "list[DataFrame]" = []
        best = _gini_best(_split_counts(cur, F.col("node"), pins=pins))
        if level < _TREE_DEPTH - 1:
            # driver-literal bests (round-18, _best_local): the next
            # level's assignment and the output row read one
            # LocalRelation (tiny: ≤ 2^level rows) and broadcast with
            # no build job; the LAST level has a single consumer and
            # stays live in the plan (its histogram pin must live too,
            # so the scale-shape plan tests keep seeing the bucketed
            # per-kf cumsum windows)
            best = _best_local(best, pins)
        outs.append(_gini_rows(best))
        if level < _TREE_DEPTH - 1:
            cur = _tree_assign(cur, best)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# End-to-end training export: tokenize -> pack -> shuffle -> manifest
# ---------------------------------------------------------------------------

#: BPE merge rules for the export chain — model parameters, pinned like
#: the embedder weights (trained ONCE offline with pipeline/bpe.py:
#: train_bpe(documents@sf0.01, num_merges=8); training itself is
#: determinism-tested in tests/test_pipeline.py). All symbols are
#: regex-free lowercase letters or the </w> sentinel, which the oracle
#: replay relies on (plain `replace`, no escaping).
_EXPORT_MERGES: "list[tuple[str, str]]" = [
    ("e", "r"),
    ("e", "</w>"),
    ("n", "</w>"),
    ("er", "</w>"),
    ("o", "w"),
    ("ow", "</w>"),
    ("o", "r"),
    ("s", "t"),
]

_TPE_BUDGET = 512
_TPE_SHARDS = 8

# symbol delimiters for the oracle's string-rewrite replay: ASCII
# unit/record separators, chosen because the documents corpus is
# printable ASCII (asserted nowhere needed: a delimiter occurring in
# text could only make the ORACLE wrong, and the driver gate would
# catch the mismatch loudly)
_D1, _D2 = "\x1f", "\x1e"


def _bpe_len_sql(word: str) -> str:
    """DuckDB expression: BPE token count of ``word`` under
    _EXPORT_MERGES. Each symbol is wrapped ␟sym␞ so a plain `replace`
    of ␟a␞␟b␞ → ␟ab␞ is exactly one greedy left-to-right
    non-overlapping merge pass — bit-for-bit apply_bpe's inner loop
    (pipeline/bpe.py), rule by rule in training order."""
    s = f"regexp_replace({word}, '(.)', '{_D1}\\1{_D2}', 'g') || '{_D1}</w>{_D2}'"
    for a, b in _EXPORT_MERGES:
        s = f"replace({s}, '{_D1}{a}{_D2}{_D1}{b}{_D2}', '{_D1}{a}{b}{_D2}')"
    return s


def _wsq() -> str:
    from ..pipeline.bpe import WHITESPACE

    return WHITESPACE


def _tpe_words_enc_sql() -> str:
    """The tokenizer trunk shared by every export oracle (this one,
    round-14's readback and vocab oracles — round-14 review #4: the
    words/enc scaffolding is the piece most likely to change — the
    whitespace class, the delimiter scheme — and must change in ONE
    place): per-word rows + the delimiter-wrapped BPE rewrite."""
    return f"""words AS (
      SELECT doc_id, u.w AS w
      FROM documents, unnest(regexp_split_to_array(lower(text), '{_wsq()}'))
             AS u(w)
      WHERE doc_id IS NOT NULL AND u.w <> ''
    ),
    enc AS (SELECT doc_id, {_bpe_len_sql("w")} AS e FROM words)"""


def _tpe_shard_sql(rnk: str = "rnk", t: str = "t") -> str:
    """The equal-width shard id formula — one definition for every
    export oracle (and mirrored by the Spark frames)."""
    return f"CAST((({rnk} - 1) * {_TPE_SHARDS}) // {t} AS BIGINT)"


def _tpe_oracle() -> str:
    return f"""
    WITH {_tpe_words_enc_sql()},
    wt AS (
      SELECT doc_id,
             CAST(SUM(len(e) - len(replace(e, '{_D2}', ''))) AS BIGINT)
               AS n_tokens
      FROM enc GROUP BY doc_id
    ),
    dt AS (
      SELECT d.doc_id, CAST(COALESCE(w.n_tokens, 0) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
      LEFT JOIN wt w ON w.doc_id = d.doc_id
    ),
    pk AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // {_TPE_BUDGET} AS BIGINT) AS bin_id
      FROM dt
    ),
    bins AS (
      SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      FROM pk GROUP BY bin_id
    ),
    hh AS (
      SELECT *, {_lcg_mix_sql("bin_id")} AS h2
      FROM bins
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY h2, bin_id) AS rnk,
             count(*) OVER () AS t
      FROM hh
    )
    SELECT {_tpe_shard_sql()} AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_sequences,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(bin_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM((h2 + bin_id) % {_CHECKSUM_MOD}) AS BIGINT) AS checksum
    FROM r GROUP BY 1
    """


@register(
    "tokenize_pack_export",
    oracle=_tpe_oracle(),
    doc="training-data export, END TO END: the whole chain a trainer "
    "actually consumes — real BPE tokenization (pipeline/bpe.py:"
    "apply_bpe with pinned trained merges, one Arrow pass) → "
    "concat-and-chunk sequence packing at a 512-token budget (the "
    "pack_sequences machinery: exclusive two-phase global_cumsum in "
    "doc_id order, no single-partition window) → deterministic epoch "
    "shuffle of the packed SEQUENCES (the round-12 keyed LCG mix on "
    "bin_id, shared helper) → equal-width sharding with a per-shard "
    "manifest (sequence count, doc count, token count, additive "
    "checksum mod 1e9+7). Round-12 verified each stage in isolation; "
    "this entry certifies they COMPOSE — the oracle replays tokenize → "
    "pack → shuffle → manifest in one SQL chain, including a "
    "string-rewrite replay of greedy BPE application (each merge rule "
    "= one non-overlapping left-to-right `replace` over "
    "delimiter-wrapped symbols, provably the same pass apply_bpe "
    "runs). All outputs exact integers. At 100 TB: tokenization is "
    "map-only (the corpus never shuffles with its text — only (doc_id, "
    "n_tokens) pairs move), the pack cumsum is one range exchange on "
    "16-byte rows, the shuffle permutes BINS (corpus/512 rows), and "
    "writing real shards is partitionBy(shard_id) on the same frame. "
    "Beyond-reference: the reference has no training-export surface.",
)
def tokenize_pack_export(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.bpe import apply_bpe
    from ..ranks import global_cumsum, global_row_number

    docs = (
        load(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    tok = apply_bpe(spread(docs), _EXPORT_MERGES).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
    cum = global_cumsum(
        tok,
        [F.asc("doc_id")],
        F.col("n_tokens"),
        cumsum_col="_excl",
        inclusive=False,
    )
    pk = cum.select(
        "doc_id",
        "n_tokens",
        F.expr(f"CAST(_excl DIV {_TPE_BUDGET} AS BIGINT)").alias("bin_id"),
    )
    bins = pk.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
    )
    hh = bins.withColumn("h2", _lcg_mix(F.col("bin_id")))
    # rank_type="long": rank·N_SHARDS would overflow int at 2^31/N rows
    r = global_row_number(
        hh, [F.col("h2"), F.col("bin_id")], rank_col="rnk", rank_type="long"
    )
    tot = r.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    return (
        r.crossJoin(F.broadcast(tot))
        .select(
            F.expr(f"((rnk - 1) * {_TPE_SHARDS}) div t").alias("shard_id"),
            "n_docs",
            "bin_tokens",
            ((F.col("h2") + F.col("bin_id")) % _CHECKSUM_MOD).alias("ck"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sequences"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("bin_tokens").cast("bigint").alias("n_tokens"),
            F.sum("ck").cast("bigint").alias("checksum"),
        )
        .select(
            F.col("shard_id").cast("bigint").alias("shard_id"),
            "n_sequences",
            "n_docs",
            "n_tokens",
            "checksum",
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ asymmetric-distance search over the persistent index
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (d=64 -> 8 dims each)
_PQ_KS = 16  # codes per subspace
_PQ_SUBD = 8


def _l2_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        f"FOR i IN range(1, len({a}) + 1)]) AS BIGINT)"
    )


def _ivfpq_train_cte(
    base_where: str = "TRUE", pq_dead_where: "str | None" = None
) -> str:
    """The PROBE-INDEPENDENT half of the IVF-PQ replay: coarse build
    (``_ivf_int8_build_cte``) + residual subvectors + deterministic PQ
    seed selection + one integer Lloyd round + final encode, ending at
    ``pcb`` (the trained residual codebooks) and ``penc`` (the codes
    table). Shared by the single-probe tail below and the round-14
    batch tail (many probes, one codes relation). ``pq_dead_where``
    (round 15) replays retrain_pq: the COARSE quantizer still builds
    over all vectors (deletes never retrain it), but the PQ seeds,
    Lloyd round, and encode see only the LIVE rows — the tombstone
    mask applied to training input, not just to serving."""
    from .retrieval_queries import _ivf_int8_build_cte

    m, ks, subd = _PQ_M, _PQ_KS, _PQ_SUBD
    bsrc = "b1"
    pqb = ""
    if pq_dead_where is not None:
        bsrc = "pqb"
        pqb = f"""
    pqb AS MATERIALIZED (
      SELECT * FROM b1 WHERE NOT ({pq_dead_where.format(v="vec_id")})
    ),"""
    return f"""
    {_ivf_int8_build_cte(8, base_where=base_where)},{pqb}
    res AS MATERIALIZED (
      SELECT b.vec_id, b.cid, b.nrm,
             [b.q8[i] - c.c8[i] FOR i IN range(1, len(b.q8) + 1)] AS r
      FROM {bsrc} b JOIN c1n c ON b.cid = c.cid
    ),
    rsub AS MATERIALIZED (
      SELECT vec_id, cid, nrm, s.s AS sub,
             list_slice(r, s.s * {subd} + 1, (s.s + 1) * {subd}) AS rs
      FROM res, unnest(range(0, {m})) AS s(s)
    ),
    pseed_ids AS (
      SELECT vec_id, cid,
             CAST(row_number() OVER (PARTITION BY cid ORDER BY vec_id) - 1
                  AS INT) AS code
      FROM {bsrc}
      QUALIFY row_number() OVER (PARTITION BY cid ORDER BY vec_id) <= {ks}
    ),
    pb0 AS MATERIALIZED (
      SELECT vec_id, cid, sub, code, rs FROM (
        SELECT r.vec_id, r.cid, r.sub, s.code, r.rs,
               {_l2_sql("r.rs", "s.e")} AS d
        FROM rsub r
        JOIN (SELECT i.cid, i.code, r2.sub, r2.rs AS e
              FROM pseed_ids i JOIN rsub r2 ON r2.vec_id = i.vec_id) s
          ON r.cid = s.cid AND r.sub = s.sub
      ) QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY d ASC, code ASC) = 1
    ),
    pel AS (
      SELECT cid, sub, code, u.i AS i, rs[u.i] AS v
      FROM pb0, unnest(range(1, {subd} + 1)) AS u(i)
    ),
    psums AS (
      SELECT cid, sub, code, i, CAST(SUM(v) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pel GROUP BY cid, sub, code, i
    ),
    pcb AS MATERIALIZED (
      SELECT cid, sub, code,
             list(CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS INT)
                  ORDER BY i) AS e
      FROM psums GROUP BY cid, sub, code
    ),
    penc AS MATERIALIZED (
      SELECT vec_id, cid, sub, code FROM (
        SELECT r.vec_id, r.cid, r.sub, c.code,
               {_l2_sql("r.rs", "c.e")} AS d
        FROM rsub r JOIN pcb c ON r.cid = c.cid AND r.sub = c.sub
      ) QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY d ASC, code ASC) = 1
    )"""


def _ivfpq_cte(
    nprobe: int = 4,
    probe_id: int = 0,
    dead_where: str = "FALSE",
    allow_where: str = "TRUE",
    exclude_probe: bool = True,
    pq_dead_where: "str | None" = None,
) -> str:
    """The full IVF-PQ replay chain through ``scored`` (per-candidate
    exact-integer asymmetric dot + stored norm) — shared by the plain
    PQ readout and the rerank entry's two-tier tail. ``dead_where``
    recomputes a TOMBSTONE mask over the CANDIDATE set only (the PQ
    train, like the coarse build, runs over ALL vectors — deletes
    never retrain the quantizer or the codebooks; they mask serving,
    exactly the broadcast anti-join in search_pq_by_id); ``allow_where``
    recomputes a FILTERED-search eligible set (the broadcast semi-join
    pre-filter), mirroring the int8 oracle's parameters;
    ``exclude_probe=False`` matches the by-vector serving path, which
    never id-excludes (the probe is an external query vector whose
    quantization coincides with the stored row's)."""
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE

    dot, score = _IVF_DOT, _IVF_SCORE
    m, ks, subd = _PQ_M, _PQ_KS, _PQ_SUBD
    probe_excl = f"e.vec_id <> {probe_id}" if exclude_probe else "TRUE"
    return f"""{_ivfpq_train_cte(pq_dead_where=pq_dead_where)},
    probe AS (SELECT q8, nrm FROM live WHERE vec_id = {probe_id}),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid, {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c1n c CROSS JOIN probe p
      ) ORDER BY score DESC, cid LIMIT {nprobe}
    ),
    qsub AS (
      SELECT s.s AS sub,
             list_slice(p.q8, s.s * {subd} + 1, (s.s + 1) * {subd}) AS qs
      FROM probe p, unnest(range(0, {m})) AS s(s)
    ),
    adc AS (
      SELECT c.cid, c.sub, c.code, {dot.format(a="q.qs", b="c.e")} AS t
      FROM pcb c JOIN pc ON c.cid = pc.cid JOIN qsub q ON q.sub = c.sub
    ),
    bdot AS (
      SELECT c.cid, {dot.format(a="p.q8", b="c.c8")} AS bd
      FROM c1n c JOIN pc ON c.cid = pc.cid CROSS JOIN probe p
    ),
    scored AS MATERIALIZED (
      SELECT e.vec_id, CAST(MIN(bd.bd) + SUM(a.t) AS BIGINT) AS adot,
             CAST(MIN(b.nrm) AS BIGINT) AS nrm
      FROM penc e
      JOIN adc a ON a.cid = e.cid AND a.sub = e.sub AND a.code = e.code
      JOIN b1 b ON b.vec_id = e.vec_id
      JOIN bdot bd ON bd.cid = e.cid
      WHERE {probe_excl}
        AND NOT ({dead_where.format(v="e.vec_id")})
        AND ({allow_where.format(v="e.vec_id")})
      GROUP BY e.vec_id
    )"""


def _ivfpq_oracle(
    k: int = 10,
    nprobe: int = 4,
    probe_id: int = 0,
    dead_where: str = "FALSE",
    allow_where: str = "TRUE",
    exclude_probe: bool = True,
    pq_dead_where: "str | None" = None,
) -> str:
    return f"""
    {_ivfpq_cte(nprobe, probe_id, dead_where, allow_where, exclude_probe,
                pq_dead_where=pq_dead_where)}
    SELECT CAST(row_number() OVER (
             ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC,
                      vec_id) AS INT) AS rnk,
           vec_id, adot
    FROM scored
    ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC, vec_id
    LIMIT {k}
    """


@register(
    "ann_ivfpq_search_topk",
    oracle=_ivfpq_oracle(k=10, nprobe=4, probe_id=0),
    doc="ANN serving at real memory budgets: IVF-PQ "
    "ASYMMETRIC-DISTANCE search over the persistent index "
    "(pipeline/ann_index.py:train_pq/search_pq_by_id — VERDICT r12 "
    "#3). The int8 index stores d bytes/vector; the PQ layer rides "
    "the SAME coarse structure and stores m=8 codes/vector "
    "(4 bits each at ks=16 — 16× smaller; see SCALE.md's budget "
    "table). Residuals r = q8 − c8[list] split into m subspaces, "
    "each trained with the family's deterministic discipline (seeds "
    "= ks smallest vec_ids per list, ONE integer Lloyd round with "
    "the same double-division floor, encode = argmin exact-integer "
    "L2, ties to the smallest code). Search: probe lists ranked by "
    "the shared cosine rule, per-list ADC tables built driver-side "
    "(nprobe·m·ks exact-integer dots), candidates scanned "
    "partition-pruned from the CODES table — the stored vectors are "
    "never read — and scored adot/sqrt(nrm) where adot = dot(q, c8) "
    "+ Σ_sub ADC[code] is an exact BIGINT and nrm the stored exact "
    "norm. Every stored/emitted quantity is an exact integer, so the "
    "DuckDB oracle replays BUILD + PQ TRAIN + ENCODE + ADC READOUT "
    "end to end and the result hash-verifies — value-verified "
    "approximate search, like the other ivf entries and unlike any "
    "float PQ. Recall@k vs the exact scan is floor-tested in "
    "tests/test_pipeline.py (PQ on near-random synthetic vectors is "
    "the worst case; clustered fixtures recover it).",
)
def ann_ivfpq_search_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, search_pq_by_id

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    return search_pq_by_id(
        spark, path, probe_vec_id=0, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


_PQ_RERANK_MULT = 4


def _ivfpq_rerank_oracle(
    k: int = 10, nprobe: int = 4, probe_id: int = 0, cand_mult: int = 4
) -> str:
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE

    dot, score = _IVF_DOT, _IVF_SCORE
    return f"""
    {_ivfpq_cte(nprobe, probe_id)},
    shortlist AS (
      SELECT vec_id FROM scored
      ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC, vec_id
      LIMIT {k * cand_mult}
    ),
    rr AS (
      SELECT b.vec_id,
             {dot.format(a="b.q8", b="p.q8")} AS dot,
             {score.format(a="b.q8", b="p.q8", n="b.nrm")} AS score
      FROM b1 b
      JOIN shortlist sl ON b.vec_id = sl.vec_id
      CROSS JOIN probe p
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INT)
             AS rnk,
           vec_id, dot
    FROM rr ORDER BY score DESC, vec_id LIMIT {k}
    """


@register(
    "ann_ivfpq_rerank_topk",
    oracle=_ivfpq_rerank_oracle(
        k=10, nprobe=4, probe_id=0, cand_mult=_PQ_RERANK_MULT
    ),
    doc="ANN serving, the TWO-TIER pattern every production IVF-PQ "
    "deployment runs: the PQ layer (codes only, m bytes/vector) "
    "produces a k·4 SHORTLIST, then ONLY those rows are re-scored "
    "exactly against the int8 lists (partition-pruned scan + a "
    "broadcast semi-join on the shortlist ids — the exact tier does "
    "point lookups, never a scan) and the top k re-ranked by the "
    "family's exact dot/sqrt(nrm). This is how PQ's memory budget and "
    "the exact tier's precision compose: at 10^9 vectors the heavy "
    "pass reads m·nprobe/n_centroids bytes per vector and the exact "
    "pass touches k·cand_mult rows. Output (rnk, vec_id, dot) is the "
    "same exact-integer shape as ann_ivf_search_topk, and equals it "
    "outright whenever the true top-k survives the shortlist "
    "(recall-floor tested); the DuckDB oracle replays build + PQ "
    "train + encode + ADC shortlist + exact rerank end to end, so the "
    "two-tier result is HASH-verified like the rest of the family.",
)
def ann_ivfpq_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, search_pq_rerank_by_id

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    return search_pq_rerank_by_id(
        spark,
        path,
        probe_vec_id=0,
        k=10,
        nprobe=4,
        cand_mult=_PQ_RERANK_MULT,
        m=_PQ_M,
        ks=_PQ_KS,
    )


def _tree_assign(cur: DataFrame, best: DataFrame) -> DataFrame:
    """Heap-numbered child assignment against a level's (pinned) best
    splits: child = 2·node + (split-feature > thr). Inner join drops
    rows of nodes with no candidates, symmetric with the oracles."""
    b = F.broadcast(
        best.select(
            F.col("leaf").alias("node"),
            F.col("b.fid").alias("b_fid"),
            F.col("b.thr").alias("b_thr"),
        )
    )
    return (
        cur.join(b, "node")
        .withColumn(
            "node",
            F.col("node") * 2
            + F.when(
                F.expr("CASE b_fid WHEN 0 THEN f0 WHEN 1 THEN f1 ELSE f2 END")
                <= F.col("b_thr"),
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        .drop("b_fid", "b_thr")
    )


def _staged_tree3_splits(spark: SparkSession, sf: str) -> DataFrame:
    """The trained depth-3 Gini tree (node, fid, thr — 7 rows), staged
    once per dataset fingerprint via catalog.stage_parquet (the
    graph-closure discipline): a tree is a TRAINED ARTIFACT — serving
    must load it, not retrain it per query. The leaf-stats entry's
    oracle still replays the FULL training in SQL, so staging can
    never mask a wrong split (the r12 SCC-staging precedent)."""
    import os

    from .catalog import stage_parquet

    def build(tmp: str) -> None:
        cur = _split_pts(spark, sf).withColumn(
            "node", F.lit(1).cast("bigint")
        )
        levels: list[DataFrame] = []
        for _ in range(_TREE_DEPTH):
            pins: "list[DataFrame]" = []
            # driver-literal bests (round-18, _best_local): collect is
            # the same job the eager checkpoint ran, assignments read
            # LocalRelations, and nothing is left pinned after the
            # write (the former bests.unpersist() bookkeeping goes)
            best = _best_local(
                _gini_best(_split_counts(cur, F.col("node"), pins=pins)),
                pins,
            )
            levels.append(
                best.select(
                    F.col("leaf").cast("bigint").alias("node"),
                    F.col("b.fid").cast("bigint").alias("fid"),
                    F.col("b.thr").alias("thr"),
                )
            )
            cur = _tree_assign(cur, best)
        out = levels[0]
        for lv in levels[1:]:
            out = out.unionByName(lv)
        out.coalesce(1).write.mode("overwrite").parquet(tmp)

    stage = stage_parquet(
        os.path.join(sf, "orders.parquet"), "tree3gini_v1", build
    )
    return spark.read.parquet(stage)


_TREE3_LEAF_ORACLE = f"""
    WITH pts AS MATERIALIZED ({_SPLIT_PTS_SQL}),
    {_level_sql("pts", "", "a")},
    {_gini_cand_sql("", "a")},
    pts2 AS MATERIALIZED (
      SELECT pts.*,
             CAST(2 + {_node_case("b.fid", "b.thr", "pts")} AS BIGINT) AS node
      FROM pts, (SELECT fid, thr FROM agb WHERE rn = 1) b
    ),
    {_level_sql("pts2", "node", "b")},
    {_gini_cand_sql("node", "b")},
    pts3 AS MATERIALIZED (
      SELECT p.f0, p.f1, p.f2, p.y,
             CAST(p.node * 2 + {_node_case("b.fid", "b.thr", "p")} AS BIGINT)
               AS node
      FROM pts2 p
      JOIN (SELECT node, fid, thr FROM bgb WHERE rn = 1) b
        ON b.node = p.node
    ),
    {_level_sql("pts3", "node", "d")},
    {_gini_cand_sql("node", "d")},
    pts4 AS (
      SELECT p.y,
             CAST(p.node * 2 + {_node_case("b.fid", "b.thr", "p")} AS BIGINT)
               AS node
      FROM pts3 p
      JOIN (SELECT node, fid, thr FROM dgb WHERE rn = 1) b
        ON b.node = p.node
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(CASE WHEN 2 * SUM(y) > COUNT(*) THEN 1 ELSE 0 END AS BIGINT)
             AS predict,
           CAST(CASE WHEN 2 * SUM(y) > COUNT(*) THEN SUM(y)
                ELSE COUNT(*) - SUM(y) END AS BIGINT) AS n_correct
    FROM pts4 GROUP BY node
    """


@register(
    "tree_depth3_leaf_stats",
    oracle=_TREE3_LEAF_ORACLE,
    doc="ML training, the INFERENCE half: apply the depth-3 Gini tree "
    "to the training rows and read out the 8 leaves — per leaf its "
    "size, positive count, majority-label PREDICTION (ties to 0, "
    "deterministic), and training accuracy numerator. This is what a "
    "trained tree is FOR, and the readout a trainer logs per "
    "iteration; with tree_depth3_orders (the split table) the pair is "
    "a complete train→predict loop. The tree is a TRAINED ARTIFACT: "
    "the splits are staged once per dataset fingerprint "
    "(_staged_tree3_splits — the graph-closure staging discipline) "
    "and scoring is 3 broadcast-CASE hops against the 7-row model — "
    "at serving time a depth-d tree costs d map-side comparisons per "
    "row against a 2^d-row broadcast, no shuffle and NO retraining at "
    "any corpus size; the leaf readout is one map-side-combinable "
    "aggregation over ≤2^d groups. The oracle replays ALL THREE "
    "training levels plus the final assignment and aggregation, so "
    "staging can never mask a wrong split; nodes emptied by the inner "
    "assignment joins drop symmetrically. All outputs exact "
    "integers.",
)
def tree_depth3_leaf_stats(spark: SparkSession, sf: str) -> DataFrame:
    # serving path: load the STAGED trained splits (7 rows, built once
    # per dataset fingerprint) and score with d broadcast-CASE hops —
    # inference never retrains (the staged-artifact discipline; the
    # oracle replays the full training so the gate is unweakened)
    splits = F.broadcast(_staged_tree3_splits(spark, sf))
    cur = _split_pts(spark, sf).withColumn("node", F.lit(1).cast("bigint"))
    for _ in range(_TREE_DEPTH):
        cur = (
            cur.join(splits, "node")  # matches this level's nodes only
            .withColumn(
                "node",
                F.col("node") * 2
                + F.when(
                    F.expr(
                        "CASE fid WHEN 0 THEN f0 WHEN 1 THEN f1 ELSE f2 END"
                    )
                    <= F.col("thr"),
                    F.lit(0),
                ).otherwise(F.lit(1)),
            )
            .drop("fid", "thr")
        )
    return (
        cur.groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
        .select(
            F.col("node").cast("bigint").alias("node"),
            "n_rows",
            "n_pos",
            F.when(2 * F.col("n_pos") > F.col("n_rows"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("predict"),
            F.when(
                2 * F.col("n_pos") > F.col("n_rows"), F.col("n_pos")
            )
            .otherwise(F.col("n_rows") - F.col("n_pos"))
            .cast("bigint")
            .alias("n_correct"),
        )
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT SEMI interval join (completes the join family)
# ---------------------------------------------------------------------------


@register(
    "streaming_interval_join_semi",
    oracle="""
    SELECT p.user_id, p.ts AS purchase_ts
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    WHERE EXISTS (
      SELECT 1 FROM (SELECT user_id, ts FROM events
                     WHERE event_type = 'click') c
      WHERE c.user_id = p.user_id
        AND c.ts > p.ts - INTERVAL 5 MINUTE AND c.ts <= p.ts
    )
    """,
    doc="Structured Streaming: stream-stream LEFT SEMI interval join — "
    "completes the inner (r2) / left-outer (r10) / full-outer (r11) "
    "family with the EXISTENCE shape: a purchase emits EXACTLY ONCE "
    "when its first in-window click arrives, never again (no match "
    "fan-out — the streaming twin of the batch semi_join_exists "
    "entry), and unmatched purchases never emit at all, so no "
    "eviction flush is needed for the RESULT (state still expires on "
    "the watermark like the inner variant). Shares the verified "
    "replay harness (_interval_join_replay: one staged source for "
    "the whole family, sentinel drop at the sink, import-time flush "
    "contract); the oracle is the batch EXISTS. At 100 TB state is "
    "the inner join's envelope minus the match fan-out on the "
    "output side.",
)
def streaming_interval_join_semi(spark: SparkSession, sf: str) -> DataFrame:
    from .python_ops import _interval_join_replay

    return _interval_join_replay(
        spark, sf, how="leftSemi", kind="ssjx", name="ssjs_catalog_out"
    )
