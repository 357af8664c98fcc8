"""Round-14 catalog extensions.

ANN serving: batched multi-probe IVF-PQ search (``ann_ivfpq_batch_topk``
— Q query vectors against ONE pruned codes scan, the production RAG
serving shape; VERDICT r13 #1) and PQ-tier tombstone parity
(``ann_ivfpq_search_tombstoned`` — the GDPR delete path locked across
BOTH index tiers; VERDICT r13 #5). Training-data export: REAL token-id
shards written partitionBy(shard_id) and read back for verification
(``tokenize_export_readback`` — closes the asserted-but-unexercised
"writing real shards" claim; VERDICT r13 #2). ML training: one gradient-
boosting round on the tree machinery (``gbt_2round_orders`` — depth-2
Gini tree, exact-integer residual classes, second depth-2 tree, combined
readout; VERDICT r13 #3). Streaming: stream-stream LEFT ANTI interval
join (``streaming_interval_join_anti`` — the decontamination shape whose
every output row is an eviction-flush row; VERDICT r13 #4).

Appended as the LAST module in queries/__init__.py's pinned
``_ROUND_MODULES`` order (first-50 driver prefix + full-order manifest
both test-frozen).

Determinism per catalog.py's rules: every output column is an exact
integer; the two non-integer comparisons (ADC rank score, Gini-gain
ordering) are IEEE doubles produced by identical expression trees on
exact integers in both engines, with total integer tie-breaks behind
them — the round-13 arguments, unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load, register, spread, stage_parquet
from .. import publish
from ..localrel import local_rel
from .retrieval_queries import _TOMB_PRED
from .round12 import (
    _CHECKSUM_MOD,
    _lcg_mix,
    _lcg_mix_sql,
    _level_sql,
    _split_counts,
    _split_pts,
    _SPLIT_PTS_SQL,
)
from .round13 import (
    _best_local,
    _D2,
    _EXPORT_MERGES,
    _gini_best,
    _gini_cand_sql,
    _ivfpq_oracle,
    _ivfpq_train_cte,
    _node_case,
    _PQ_KS,
    _PQ_M,
    _PQ_SUBD,
    _tpe_shard_sql,
    _tpe_words_enc_sql,
    _tree_assign,
    _TPE_BUDGET,
    _TPE_SHARDS,
)

# ---------------------------------------------------------------------------
# Batched multi-probe IVF-PQ search (VERDICT r13 #1)
# ---------------------------------------------------------------------------

#: three fixed probes, disjoint from the int8 batch entry's (0..4) so
#: the two batch exhibits exercise different probed-list unions
_PQ_BATCH_PROBE_IDS = (0, 7, 19)
_PQ_BATCH_K = 5
_PQ_BATCH_NPROBE = 4


def _ivfpq_batch_cte(
    probe_ids: "tuple[int, ...]",
    nprobe: int,
    exclude_probe: bool = True,
    by_position: bool = False,
    allow_where: str = "TRUE",
) -> str:
    """Batch replay over the shared PQ train chain, through ``scored``
    (per (probe_id, vec_id): exact-integer asymmetric dot + stored
    norm): per-probe centroid ranking, per-(probe, list) ADC tables,
    ONE candidate relation — shared by the plain batch readout, the
    batch two-tier rerank tail, and (round 15) the batch BY-VECTOR
    readout. ``by_position=True`` numbers the probes by their BATCH
    POSITION instead of their vec_id (an external query batch has no
    stored ids — the oracle uses the stored q8 of each source row per
    the by-vector quantization-equality property) and
    ``exclude_probe=False`` keeps each source row in its own candidate
    set (the rank-1 self-hit doubles as the consistency check), both
    mirroring search_pq_batch_by_vectors."""
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE

    dot, score = _IVF_DOT, _IVF_SCORE
    m, subd = _PQ_M, _PQ_SUBD
    ids = ", ".join(str(int(p)) for p in probe_ids)
    if by_position:
        pid = "CASE vec_id " + " ".join(
            f"WHEN {int(v)} THEN {i}" for i, v in enumerate(probe_ids)
        ) + " END"
    else:
        pid = "vec_id"
    probe_excl = "e.vec_id <> a.probe_id" if exclude_probe else "TRUE"
    # appended only when an allow-set is given, so the default text
    # stays byte-identical to the frozen round-14 oracles
    allow_line = (
        ""
        if allow_where == "TRUE"
        else f"\n        AND ({allow_where.format(v='e.vec_id')})"
    )
    return f"""
    {_ivfpq_train_cte()},
    probes AS (
      SELECT {pid} AS probe_id, q8 FROM live WHERE vec_id IN ({ids})
    ),
    ppc AS (
      SELECT probe_id, cid FROM (
        SELECT p.probe_id, c.cid,
               {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c1n c CROSS JOIN probes p
      ) QUALIFY row_number() OVER (PARTITION BY probe_id
                                   ORDER BY score DESC, cid) <= {nprobe}
    ),
    qsub AS (
      SELECT p.probe_id, s.s AS sub,
             list_slice(p.q8, s.s * {subd} + 1, (s.s + 1) * {subd}) AS qs
      FROM probes p, unnest(range(0, {m})) AS s(s)
    ),
    adc AS (
      SELECT pp.probe_id, c.cid, c.sub, c.code,
             {dot.format(a="q.qs", b="c.e")} AS t
      FROM pcb c
      JOIN ppc pp ON c.cid = pp.cid
      JOIN qsub q ON q.sub = c.sub AND q.probe_id = pp.probe_id
    ),
    bdot AS (
      SELECT pp.probe_id, c.cid, {dot.format(a="p.q8", b="c.c8")} AS bd
      FROM c1n c
      JOIN ppc pp ON c.cid = pp.cid
      JOIN probes p ON p.probe_id = pp.probe_id
    ),
    scored AS MATERIALIZED (
      SELECT a.probe_id, e.vec_id,
             CAST(MIN(bd.bd) + SUM(a.t) AS BIGINT) AS adot,
             CAST(MIN(b.nrm) AS BIGINT) AS nrm
      FROM penc e
      JOIN adc a ON a.cid = e.cid AND a.sub = e.sub AND a.code = e.code
      JOIN b1 b ON b.vec_id = e.vec_id
      JOIN bdot bd ON bd.cid = e.cid AND bd.probe_id = a.probe_id
      WHERE {probe_excl}{allow_line}
      GROUP BY a.probe_id, e.vec_id
    )"""


def _ivfpq_batch_oracle(
    probe_ids: "tuple[int, ...]",
    k: int,
    nprobe: int,
    exclude_probe: bool = True,
    by_position: bool = False,
    allow_where: str = "TRUE",
) -> str:
    return f"""
    {_ivfpq_batch_cte(probe_ids, nprobe, exclude_probe=exclude_probe,
                      by_position=by_position, allow_where=allow_where)}
    SELECT probe_id,
           CAST(row_number() OVER (
             PARTITION BY probe_id
             ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC,
                      vec_id) AS INT) AS rnk,
           vec_id, adot
    FROM scored
    QUALIFY rnk <= {k}
    """


@register(
    "ann_ivfpq_batch_topk",
    oracle=_ivfpq_batch_oracle(
        _PQ_BATCH_PROBE_IDS, k=_PQ_BATCH_K, nprobe=_PQ_BATCH_NPROBE
    ),
    doc="batched multi-probe IVF-PQ serving (VERDICT r13 #1): a BATCH "
    "of query vectors scored in ONE job — the shape every production "
    "RAG retrieval tier runs (vector_index.ipynb raw 65's "
    "similarity_search issued many-at-once), and the PQ twin of "
    "ann_ivf_batch_search_topk. Per probe the driver ranks the "
    "resident centroids and builds its per-list ADC tables "
    "(Q·nprobe·m·ks exact-integer dots, the shared _adc_rows kernel); "
    "the UNION of all probed lists is ONE partition-pruned scan of the "
    "CODES table (plan-asserted: a single codes.parquet scan for all "
    "probes, stored d-dim vectors never read); a broadcast "
    "(probe, list, bd, adc) relation fans each candidate only to the "
    "probes that probed its list; ranking is a PROBE-partitioned "
    "window, never global. At 10^9 vectors the cost is one m-bytes/"
    "vector scan of the distinct probed lists REGARDLESS of batch "
    "size. Exact-integer adot output, hash-verified against a DuckDB "
    "replay of build + PQ train + encode + per-probe ADC readout.",
)
def ann_ivfpq_batch_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, search_pq_batch

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    return search_pq_batch(
        spark,
        path,
        list(_PQ_BATCH_PROBE_IDS),
        k=_PQ_BATCH_K,
        nprobe=_PQ_BATCH_NPROBE,
        m=_PQ_M,
        ks=_PQ_KS,
    )


# ---------------------------------------------------------------------------
# PQ-tier tombstone parity (VERDICT r13 #5)
# ---------------------------------------------------------------------------


@register(
    "ann_ivfpq_search_tombstoned",
    oracle=_ivfpq_oracle(k=10, nprobe=4, probe_id=0, dead_where=_TOMB_PRED),
    doc="the DELETE half of PQ-tier maintenance (VERDICT r13 #5): "
    "the SAME deterministic forget-set as the int8 twin "
    "(vec_id % 7 = 3) is tombstoned into the SHARED "
    "tombstone-demo-v1 variant index — deliberately shared: one "
    "index, two serving layers (int8 lists + PQ codes), ONE "
    "tombstone table masking both, which is exactly the "
    "production GDPR shape (a delete must stop being servable "
    "from EVERY tier at once, not tier-by-tier). search_pq_by_id "
    "anti-joins the broadcast tombstones over the pruned codes "
    "scan; the PQ train, like the coarse build, runs over ALL "
    "vectors (deletes never retrain quantizers or codebooks — "
    "compaction, which does rewrite, invalidates the PQ layer by "
    "format contract, da004c4). VALUE-VERIFIED: the oracle "
    "replays build + PQ train + encode over all vectors and "
    "applies the same mask to the candidate set only.",
)
def ann_ivfpq_search_tombstoned(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import (
        _CENTROID_CACHE,
        _has_tombstones,
        delete_vectors,
        ensure_pq,
        load_index,
        search_pq_by_id,
    )

    path = ensure_pq(
        spark, sf, m=_PQ_M, ks=_PQ_KS, variant="tombstone-demo-v1"
    )
    # SELF-HEAL (round-14 review #2): if compact_tombstones ever ran on
    # this shared variant, the forget-set rows were PHYSICALLY removed
    # and ensure_pq retrained the PQ codebooks from the compacted
    # lists (seeds = ks smallest vec_ids, which now exclude the dead
    # ids) — while the oracle replays training over ALL vectors, so a
    # compacted variant can never hash-match again (the int8 twin
    # survives compaction because its centroids are never retrained;
    # the PQ tier's residual codebooks are). Detect the compacted
    # state and rebuild the variant from source: atomic retire, then
    # one fresh ensure_pq over the full vector set. The trigger is
    # "the raw assignments lost forget-set rows the SOURCE has"
    # (round-14 advice): raw emptiness alone would re-fire on every
    # call against a dataset that simply contains no forget-set ids —
    # a wasted full rebuild per invocation — so the (equally cheap)
    # source probe runs only in the raw-empty case and distinguishes
    # compacted-index from degenerate-dataset.
    raw = spark.read.parquet(os.path.join(path, "assignments.parquet"))
    if (
        raw.filter(F.expr(_TOMB_PRED.format(v="vec_id"))).limit(1).count()
        == 0
        and load(spark, sf, "embeddings")
        .filter(F.expr(_TOMB_PRED.format(v="vec_id")))
        .limit(1)
        .count()
        > 0
    ):
        publish.retire(path)
        _CENTROID_CACHE.pop(path, None)
        path = ensure_pq(
            spark, sf, m=_PQ_M, ks=_PQ_KS, variant="tombstone-demo-v1"
        )
    if not _has_tombstones(path):
        dead = (
            load_index(spark, path)[0]
            .filter(F.expr(_TOMB_PRED.format(v="vec_id")))
            .select("vec_id")
        )
        delete_vectors(spark, path, dead)
    return search_pq_by_id(
        spark, path, probe_vec_id=0, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


# ---------------------------------------------------------------------------
# Real token-id shard export + read-back (VERDICT r13 #2)
# ---------------------------------------------------------------------------


def _tpe_vocab(tok: DataFrame) -> DataFrame:
    """(token, tid): the export vocab — distinct BPE symbols of the
    tokenized corpus, ids by sorted symbol order via the two-phase
    rank (Zipf-bounded table, no single-partition sort). This is the
    vocab file a trainer ships alongside the shards; deterministic,
    so DuckDB replays it as DISTINCT + row_number."""
    from ..ranks import global_row_number

    # column order (tid, token) matches the oracle's SELECT exactly —
    # the local gates sort columns by name before hashing, but the
    # external driver's schema check need not (round-14 review #1)
    return global_row_number(
        tok.select(F.explode("tokens").alias("token")).distinct(),
        [F.asc("token")],
        rank_col="rn",
        rank_type="long",
    ).select((F.col("rn") - 1).cast("bigint").alias("tid"), "token")


def _tpe_ids(spark: SparkSession, sf: str) -> DataFrame:
    """The PRE-WRITE export frame: (shard_id, bin_id, n_docs, n_tokens,
    seq) where ``seq`` is the REAL packed token-id sequence — the
    round-13 tokenize→pack→shuffle chain carried through to ids
    instead of stopping at counts.

    Vocab: symbol → id by sorted symbol order over the corpus's
    distinct BPE symbols (Zipf-bounded like every vocabulary table;
    deterministic and exactly replayable — a trainer's vocab file).
    Id assignment rides the two-phase rank helper; the id lookup is a
    broadcast map + JVM `transform`, no Python in the hot path and no
    shuffle of the token text. Packing: each 512-token bin's docs
    concatenate in doc_id order (array_sort over a budget-bounded
    collect_list). At 100 TB the only shuffle carrying token ids is
    the pack's range exchange — ids must reach their bins, which is
    the export's irreducible data movement."""
    from ..pipeline.bpe import apply_bpe
    from ..ranks import global_cumsum, global_row_number

    docs = (
        load(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    # pinned: the tokenized corpus feeds BOTH the vocab build and the
    # id encoding — without the checkpoint apply_bpe's Arrow pass runs
    # twice (a real trainer writes the tokenized corpus once, too)
    tok = apply_bpe(spread(docs), _EXPORT_MERGES).localCheckpoint(eager=True)
    vocab = _tpe_vocab(tok)
    vmap = vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("token", "tid"))).alias("vm")
    )
    ids = tok.crossJoin(F.broadcast(vmap)).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.transform("tokens", lambda t: F.element_at(F.col("vm"), t)).alias(
            "ids"
        ),
    )
    cum = global_cumsum(
        ids,
        [F.asc("doc_id")],
        F.col("n_tokens"),
        cumsum_col="_excl",
        inclusive=False,
    )
    pk = cum.select(
        "doc_id",
        "n_tokens",
        "ids",
        F.expr(f"CAST(_excl DIV {_TPE_BUDGET} AS BIGINT)").alias("bin_id"),
    )
    # ONE budget-bounded collect per bin feeds both the packed id
    # sequence and the per-doc length vector (round 15: doc_lens — in
    # the same doc_id pack order — is the sequence-boundary metadata a
    # packed-sequence trainer needs for attention-mask resets)
    packed = F.array_sort(F.collect_list(F.struct("doc_id", "ids")))
    bins = pk.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.flatten(F.transform(packed, lambda s: s["ids"])).alias("seq"),
        F.transform(packed, lambda s: F.size(s["ids"]).cast("bigint")).alias(
            "doc_lens"
        ),
    )
    hh = bins.withColumn("h2", _lcg_mix(F.col("bin_id")))
    r = global_row_number(
        hh, [F.col("h2"), F.col("bin_id")], rank_col="rnk", rank_type="long"
    )
    tot = r.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    return r.crossJoin(F.broadcast(tot)).select(
        F.expr(f"((rnk - 1) * {_TPE_SHARDS}) div t")
        .cast("bigint")
        .alias("shard_id"),
        "bin_id",
        "n_docs",
        "n_tokens",
        "seq",
        "doc_lens",
    )


def _staged_token_shards(spark: SparkSession, sf: str) -> str:
    """Write the token-id shards ONCE per dataset fingerprint —
    ``partitionBy(shard_id)`` on the export frame, exactly the write
    the round-13 entry asserted and this round exercises. The staged
    dir IS the deliverable a trainer consumes (one directory per
    shard, each holding its packed int-array sequences).

    The staging fingerprint covers documents.parquet only, so the
    constants that also shape shard content are FOLDED INTO THE KIND
    string (budget, shard count, merge-rule count — round-14 advice);
    an EDIT to an existing _EXPORT_MERGES rule is the one change the
    kind cannot see — bump the version suffix when touching rule
    content (the same caveat the EWMA and interval-join staging
    document)."""

    def build(tmp: str) -> None:
        _tpe_ids(spark, sf).repartition(_TPE_SHARDS, "shard_id").write.partitionBy(
            "shard_id"
        ).mode("overwrite").parquet(tmp)

    # v2: round 15 added the doc_lens column (the documented
    # bump-on-content-change discipline in action)
    kind = f"tpe_shards_v2_b{_TPE_BUDGET}_s{_TPE_SHARDS}_m{len(_EXPORT_MERGES)}"
    return stage_parquet(os.path.join(sf, "documents.parquet"), kind, build)


def _tpe_toks_sql() -> str:
    """Tokenizer trunk + per-token rows: round13's shared words/enc
    CTEs plus the delimiter-split token extraction — shared by the
    readback and vocab oracles (one definition of how a token is
    recovered from the string rewrite)."""
    return f"""{_tpe_words_enc_sql()},
    toks AS (  -- token extraction: split the delimiter-wrapped rewrite
      SELECT doc_id, substr(u.t, 2) AS token
      FROM enc, unnest(regexp_split_to_array(e, '{_D2}')) AS u(t)
      WHERE u.t <> ''
    )"""


def _tpe_readback_oracle() -> str:
    return f"""
    WITH {_tpe_toks_sql()},
    vocab AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS tid
      FROM (SELECT DISTINCT token FROM toks)
    ),
    dsum AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(v.tid) AS BIGINT) AS id_sum
      FROM toks t JOIN vocab v USING (token) GROUP BY t.doc_id
    ),
    dt AS (
      SELECT d.doc_id, CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(s.id_sum, 0) AS BIGINT) AS id_sum
      FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
      LEFT JOIN dsum s ON s.doc_id = d.doc_id
    ),
    pk AS (
      SELECT doc_id, n_tokens, id_sum,
             CAST(COALESCE(SUM(n_tokens) OVER (
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // {_TPE_BUDGET} AS BIGINT) AS bin_id
      FROM dt
    ),
    bins AS (
      SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
             CAST(SUM(id_sum) % {_CHECKSUM_MOD} AS BIGINT) AS ck
      FROM pk GROUP BY bin_id
    ),
    hh AS (SELECT *, {_lcg_mix_sql("bin_id")} AS h2 FROM bins),
    r AS (
      SELECT *, row_number() OVER (ORDER BY h2, bin_id) AS rnk,
             count(*) OVER () AS t
      FROM hh
    )
    SELECT {_tpe_shard_sql()} AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_sequences,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(bin_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(ck) AS BIGINT) AS id_checksum
    FROM r GROUP BY 1
    """


@register(
    "tokenize_export_readback",
    oracle=_tpe_readback_oracle(),
    doc="training-data export CLOSED END TO END (VERDICT r13 #2): the "
    "round-13 chain verified counts; a trainer consumes IDS. This "
    "round adds the vocab table (symbol → id by sorted symbol order — "
    "deterministic, replayable, Zipf-bounded), encodes every packed "
    "512-token sequence as a real int array (broadcast-map lookup, "
    "JVM transform, token text never shuffles), WRITES the shards "
    "with partitionBy(shard_id) through the fingerprint-staged atomic "
    "publish, then READS THE WRITTEN FILES BACK and recomputes the "
    "manifest from the stored arrays themselves: n_tokens = "
    "sum(size(seq)) and an id-sum checksum folded from the actual "
    "stored ids — so a torn write, a wrong vocab, or a mis-packed "
    "sequence all surface as a value mismatch, not just a count "
    "drift. The DuckDB oracle replays tokenize → vocab → encode → "
    "pack → shuffle → shard → manifest with NO access to the written "
    "files (string-rewrite BPE replay + token split + vocab join), "
    "so Spark's written artifact is verified against an independent "
    "recomputation. tests also assert readback == the pre-write "
    "frame's manifest directly. All outputs exact integers.",
)
def tokenize_export_readback(spark: SparkSession, sf: str) -> DataFrame:
    path = _staged_token_shards(spark, sf)
    df = spark.read.parquet(path)
    seq_sum = F.aggregate(
        "seq", F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return (
        df.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sequences"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum(F.size("seq")).cast("bigint").alias("n_tokens"),
            F.sum(seq_sum % _CHECKSUM_MOD).cast("bigint").alias("id_checksum"),
        )
        .select(
            F.col("shard_id").cast("bigint").alias("shard_id"),
            "n_sequences",
            "n_docs",
            "n_tokens",
            "id_checksum",
        )
    )


# ---------------------------------------------------------------------------
# One gradient-boosting round on the tree machinery (VERDICT r13 #3)
# ---------------------------------------------------------------------------

_GBT_DEPTH = 2


def _gbt_cte() -> str:
    """Replay BOTH trainings through ``ptsb3`` (per-row: tree-A leaf,
    tree-B leaf, label, exact residual numerator, residual class) with
    ``leafa`` (tree A's per-leaf n/positives) alive — the shared trunk
    of the training readout below and round15's staged-inference
    oracle. Prefixes a/b = tree A's two levels, e/f = tree B's (each
    _level_sql/_gini_cand_sql expansion owns its prefix namespace)."""
    return f"""
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
    leafa AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_a,
             CAST(SUM(y) AS BIGINT) AS p_a
      FROM pts3 GROUP BY node
    ),
    ptsb AS MATERIALIZED (
      SELECT p.f0, p.f1, p.f2, p.node AS node_a, p.y AS y0,
             CAST(p.y * l.n_a - l.p_a AS BIGINT) AS ra,
             CAST(CASE WHEN p.y * l.n_a - l.p_a > 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS y
      FROM pts3 p JOIN leafa l ON l.node = p.node
    ),
    {_level_sql("ptsb", "", "e")},
    {_gini_cand_sql("", "e")},
    ptsb2 AS MATERIALIZED (
      SELECT ptsb.*,
             CAST(2 + {_node_case("b.fid", "b.thr", "ptsb")} AS BIGINT)
               AS node
      FROM ptsb, (SELECT fid, thr FROM egb WHERE rn = 1) b
    ),
    {_level_sql("ptsb2", "node", "f")},
    {_gini_cand_sql("node", "f")},
    ptsb3 AS (
      SELECT p.node_a, p.y0, p.ra, p.y AS yb,
             CAST(p.node * 2 + {_node_case("b.fid", "b.thr", "p")} AS BIGINT)
               AS node_b
      FROM ptsb2 p
      JOIN (SELECT node, fid, thr FROM fgb WHERE rn = 1) b
        ON b.node = p.node
    )"""


def _gbt_oracle() -> str:
    """The training-telemetry readout over the shared two-tree replay
    trunk (``_gbt_cte``)."""
    return f"""{_gbt_cte()}
    SELECT CAST(node_a AS BIGINT) AS node_a,
           CAST(node_b AS BIGINT) AS node_b,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(y0) AS BIGINT) AS n_pos,
           CAST(SUM(ra) AS BIGINT) AS resid_num,
           CAST(SUM(yb) AS BIGINT) AS n_resid_pos
    FROM ptsb3 GROUP BY node_a, node_b
    """


_GBT_REG_DOC = (
    "ML training, ONE GRADIENT-BOOSTING ROUND on the level-pass "
    "machinery (VERDICT r13 #3 — this is the loop the tree entries' "
    "docstrings invoke): tree A = depth-2 Gini induction on y (the "
    "shared _split_counts/_gini_best kernels); its leaf SCORES are "
    "the squared-loss leaf means pA/nA kept EXACT as integer pairs; "
    "the per-row residual is the nA-scaled numerator "
    "rA = y·nA − pA (exact BIGINT — within a tree-A leaf nA is "
    "constant, so rA/(n·nA) recovers the mean residual exactly); "
    "tree B = depth-2 Gini induction on the residual SIGN class "
    "(yB = rA > 0, i.e. the positives tree A's leaf could not purely "
    "capture — the sign/residual class VERDICT names). Combined "
    "readout per (leaf_a, leaf_b) composite cell: size, positive "
    "count, exact residual mass isolated by tree B, residual-class "
    "count — the per-iteration telemetry a GBDT trainer logs. "
    "Between rounds the scored frame is pinned ONCE "
    "(localCheckpoint — exactly the cached prediction vector every "
    "distributed GBDT maintains between boosting iterations); each "
    "tree level stays ONE shared melt + histogram + two-phase cumsum "
    "regardless of leaf count. The oracle replays BOTH trainings and "
    "the residual construction end to end; differential-tested vs a "
    "brute-force two-tree Python trainer. All outputs exact "
    "integers."
)


def _gbt_train(
    spark: SparkSession, sf: str
) -> "tuple[list[DataFrame], list[DataFrame], DataFrame, DataFrame]":
    """Run the full two-tree boosting round ONCE and hand back every
    trained piece: per-level best splits of tree A and tree B (each a
    pinned (leaf, b{fid, thr}) frame), tree A's leaf table (node, n_a,
    p_a), and the final scored frame (node_a, node=node_b, y0, ra, y).
    Shared by the training-telemetry entry below and round15's staged
    model build — ONE training implementation, two readouts."""
    # ----- boosting round 1: depth-2 Gini tree on y -----
    cur = _split_pts(spark, sf).withColumn("node", F.lit(1).cast("bigint"))
    splits_a: "list[DataFrame]" = []
    for _ in range(_GBT_DEPTH):
        pins: "list[DataFrame]" = []
        # driver-literal bests (round-18, _best_local): the collect is
        # the job the eager checkpoint ran, but the ≤4-row bests now
        # broadcast with NO build job inside every later level pass,
        # the scored-frame checkpoint, and the readout — the former
        # checkpointed-RDD bests rebuilt those broadcasts per job
        best = _best_local(
            _gini_best(_split_counts(cur, F.col("node"), pins=pins)), pins
        )
        splits_a.append(best)
        cur = _tree_assign(cur, best)
    # pin the scored frame ONCE: the leaf-stats agg and the residual
    # join both read it (the inter-round prediction cache every
    # distributed GBDT keeps; without it the whole tree-A training
    # lineage re-executes for each consumer)
    cur = cur.localCheckpoint(eager=True)
    # the ≤4-row leaf table as a driver-literal relation (round-18):
    # it broadcast-joins into the residual frame, which every tree-B
    # level pass re-executes — as a lazy aggregate it re-ran (and
    # re-broadcast) once per consuming job; collected, it is exact
    # integers and broadcasts driver-side with no job
    leaf = cur.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum("y").cast("bigint").alias("p_a"),
    )
    leaf = local_rel(
        spark,
        [(r["node"], r["n_a"], r["p_a"]) for r in leaf.collect()],
        "node bigint, n_a bigint, p_a bigint",
    )
    # ----- exact-integer residuals -> sign classes -----
    ptsb = (
        cur.join(F.broadcast(leaf), "node")
        .select(
            "f0",
            "f1",
            "f2",
            F.col("node").alias("node_a"),
            F.col("y").alias("y0"),
            (F.col("y") * F.col("n_a") - F.col("p_a"))
            .cast("bigint")
            .alias("ra"),
        )
        .withColumn(
            "y",
            F.when(F.col("ra") > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
        )
    )
    # ----- boosting round 2: depth-2 Gini tree on the residual class -----
    curb = ptsb.withColumn("node", F.lit(1).cast("bigint"))
    splits_b: "list[DataFrame]" = []
    for _ in range(_GBT_DEPTH):
        pins_b: "list[DataFrame]" = []
        bestb = _best_local(
            _gini_best(_split_counts(curb, F.col("node"), pins=pins_b)),
            pins_b,
        )
        splits_b.append(bestb)
        curb = _tree_assign(curb, bestb)
    return splits_a, splits_b, leaf, curb


@register("gbt_2round_orders", oracle=_gbt_oracle(), doc=_GBT_REG_DOC)
def gbt_2round_orders(spark: SparkSession, sf: str) -> DataFrame:
    *_, curb = _gbt_train(spark, sf)
    return (
        curb.withColumnRenamed("node", "node_b")
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("y0").cast("bigint").alias("n_pos"),
            F.sum("ra").cast("bigint").alias("resid_num"),
            F.sum("y").cast("bigint").alias("n_resid_pos"),
        )
        .select(
            F.col("node_a").cast("bigint").alias("node_a"),
            F.col("node_b").cast("bigint").alias("node_b"),
            "n_rows",
            "n_pos",
            "resid_num",
            "n_resid_pos",
        )
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT ANTI interval join (VERDICT r13 #4)
# ---------------------------------------------------------------------------


@register(
    "streaming_interval_join_anti",
    oracle="""
    SELECT p.user_id, p.ts AS purchase_ts
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    WHERE NOT EXISTS (
      SELECT 1 FROM (SELECT user_id, ts FROM events
                     WHERE event_type = 'click') c
      WHERE c.user_id = p.user_id
        AND c.ts > p.ts - INTERVAL 5 MINUTE AND c.ts <= p.ts
    )
    """,
    doc="Structured Streaming: stream-stream LEFT ANTI interval join — "
    "completes the family (inner r2 / leftOuter r10 / fullOuter r11 / "
    "leftSemi r13) with the DECONTAMINATION shape: purchases with NO "
    "click in their window, each emitted EXACTLY ONCE and only at "
    "WATERMARK EVICTION (a match is proof of absence-failure, so "
    "nothing can emit until the watermark closes the window) — the "
    "streaming twin of the batch anti_join_new_keys / NOT EXISTS "
    "entries, and the one family member whose EVERY output row is an "
    "eviction-flush row, exercising the end-of-stream flush contract "
    "alone. Spark has no native stream-stream leftAnti, so it "
    "composes as leftOuter + a NULL-click filter ABOVE the join "
    "(not null-rejecting, so Catalyst cannot push it below the join "
    "and starve the watermark — see stream_stream_interval_join). "
    "Shares the verified replay harness (one staged source for the "
    "whole family); oracle = batch NOT EXISTS. At 100 TB state is "
    "the leftOuter envelope; output is usually much smaller (only "
    "unmatched keys).",
)
def streaming_interval_join_anti(spark: SparkSession, sf: str) -> DataFrame:
    from .python_ops import _interval_join_replay

    return _interval_join_replay(
        spark, sf, how="leftAnti", kind="ssjx", name="ssja_catalog_out"
    )


# ---------------------------------------------------------------------------
# Batched two-tier rerank + the vocab artifact (round-14 second pass)
# ---------------------------------------------------------------------------

_PQ_BATCH_RERANK_MULT = 4


def _ivfpq_batch_rerank_oracle(
    probe_ids: "tuple[int, ...]",
    k: int,
    nprobe: int,
    cand_mult: int,
    exclude_probe: bool = True,
    by_position: bool = False,
) -> str:
    """Batch two-tier replay: the shared batch CTE's shortlist plus
    the exact-rerank tail. ``by_position``/``exclude_probe`` thread
    through to ``_ivfpq_batch_cte`` for the round-16 by-vector rerank
    (external queries numbered by batch position, nothing to exclude);
    defaults keep the frozen round-14 oracle text byte-identical."""
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE

    dot, score = _IVF_DOT, _IVF_SCORE
    return f"""
    {_ivfpq_batch_cte(probe_ids, nprobe,
                      exclude_probe=exclude_probe, by_position=by_position)},
    shortlist AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (
                 PARTITION BY probe_id
                 ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE))
                            DESC,
                          vec_id) AS srn
        FROM scored
      ) WHERE srn <= {k * cand_mult}
    ),
    rr AS (
      SELECT sl.probe_id, b.vec_id,
             {dot.format(a="b.q8", b="p.q8")} AS dot,
             {score.format(a="b.q8", b="p.q8", n="b.nrm")} AS score
      FROM shortlist sl
      JOIN b1 b ON b.vec_id = sl.vec_id
      JOIN probes p ON p.probe_id = sl.probe_id
    )
    SELECT probe_id,
           CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY score DESC, vec_id) AS INT)
             AS rnk,
           vec_id, dot
    FROM rr
    QUALIFY rnk <= {k}
    """


@register(
    "ann_ivfpq_batch_rerank_topk",
    oracle=_ivfpq_batch_rerank_oracle(
        _PQ_BATCH_PROBE_IDS,
        k=_PQ_BATCH_K,
        nprobe=_PQ_BATCH_NPROBE,
        cand_mult=_PQ_BATCH_RERANK_MULT,
    ),
    doc="the FULL production retrieval plan in one job — batched "
    "two-tier serving, completing the {single, batch} × {PQ, "
    "PQ→exact rerank} matrix: search_pq_batch produces every probe's "
    "k·4 PQ shortlist off ONE pruned codes scan, then ONE pruned scan "
    "of the int8 lists re-scores exactly ONLY the shortlisted "
    "(probe, vec) PAIRS (a vector shortlisted for probe A but not B "
    "is re-scored only for A — the pair join, not an id set) and "
    "re-ranks per probe. Plan-asserted: one codes scan + one "
    "assignments scan total, both partition-pruned, broadcast-only "
    "joins, probe-partitioned windows. At 10^9 vectors the exact tier "
    "touches Q·k·4 rows; everything heavier ran against m-byte codes. "
    "Exact-integer dot output, hash-verified against a DuckDB replay "
    "of build + PQ train + encode + batch ADC shortlist + exact "
    "rerank.",
)
def ann_ivfpq_batch_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, search_pq_rerank_batch

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    return search_pq_rerank_batch(
        spark,
        path,
        list(_PQ_BATCH_PROBE_IDS),
        k=_PQ_BATCH_K,
        nprobe=_PQ_BATCH_NPROBE,
        cand_mult=_PQ_BATCH_RERANK_MULT,
        m=_PQ_M,
        ks=_PQ_KS,
    )


@register(
    "bpe_vocab_table",
    oracle=f"""
    WITH {_tpe_toks_sql()}
    SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS tid,
           token
    FROM (SELECT DISTINCT token FROM toks)
    """,
    doc="the export VOCAB as a first-class verified artifact — the "
    "vocab.json every trainer ships next to its shards: distinct BPE "
    "symbols of the tokenized corpus with ids by sorted symbol order "
    "(deterministic; Zipf-bounded like every vocabulary table; ranked "
    "with the two-phase helper, no single-partition sort). This is "
    "the table tokenize_export_readback's id encoding broadcasts; "
    "publishing it as its own entry means a vocab drift (a tokenizer "
    "change, a collation difference) surfaces HERE as a value "
    "mismatch, pinpointed, rather than only as a checksum mismatch "
    "deep in the shard manifest. Oracle replays tokenize (string-"
    "rewrite BPE) → token split → DISTINCT → rank.",
)
def bpe_vocab_table(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.bpe import apply_bpe

    docs = (
        load(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    return _tpe_vocab(apply_bpe(spread(docs), _EXPORT_MERGES))


# ---------------------------------------------------------------------------
# PQ-tier feature parity: filtered search + recall telemetry
# ---------------------------------------------------------------------------

_PQ_ALLOW_PRED = "{v} % 3 = 0"


@register(
    "ann_ivfpq_filtered_search_topk",
    oracle=_ivfpq_oracle(
        k=10, nprobe=4, probe_id=1, allow_where=_PQ_ALLOW_PRED
    ),
    doc="FILTERED vector search on the PQ tier — the metadata-"
    "constrained serving shape ('nearest chunks WITHIN this tenant/"
    "source/date range') at the memory budget where it actually runs "
    "in production: an eligible-id set (vec_id % 3 = 0, a "
    "deterministic stand-in for any attribute predicate) applies as a "
    "BROADCAST semi-join PRE-filter on the partition-pruned CODES "
    "scan, BEFORE ranking — top-k exact over the allowed subset "
    "inside the probed lists, never the post-filter trap that "
    "under-fills k on selective predicates; same position and "
    "semantics as the int8 tier's ann_ivf_filtered_search_topk, so "
    "the two tiers' filtered results are comparable. Probe is vec 1 "
    "(1 % 3 ≠ 0: the probe itself is outside the allowed set — the "
    "cross-tenant-query shape). VALUE-VERIFIED: the oracle replays "
    "build + PQ train + encode and applies the same eligibility mask "
    "to the candidate set only.",
)
def ann_ivfpq_filtered_search_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, load_index, search_pq_by_id

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    allowed = (
        load_index(spark, path)[0]
        .filter(F.expr(_PQ_ALLOW_PRED.format(v="vec_id")))
        .select("vec_id")
    )
    return search_pq_by_id(
        spark,
        path,
        probe_vec_id=1,
        k=10,
        nprobe=4,
        m=_PQ_M,
        ks=_PQ_KS,
        allowed=allowed,
    )


def _ivfpq_recall_oracle(
    probe_ids: "tuple[int, ...]", k: int, nprobe: int
) -> str:
    from .retrieval_queries import _IVF_SCORE

    score = _IVF_SCORE
    return f"""
    {_ivfpq_batch_cte(probe_ids, nprobe)},
    approx AS (  -- the PQ tier's pruned ADC top-k per probe
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (
                 PARTITION BY probe_id
                 ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE))
                            DESC,
                          vec_id) AS rn
        FROM scored
      ) WHERE rn <= {k}
    ),
    exact AS (  -- ground truth: exhaustive exact-int8 scan per probe
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, b.vec_id,
               {score.format(a="b.q8", b="p.q8", n="b.nrm")} AS score
        FROM probes p CROSS JOIN b1 b
        WHERE b.vec_id <> p.probe_id
      ) QUALIFY row_number() OVER (PARTITION BY probe_id
                                   ORDER BY score DESC, vec_id) <= {k}
    )
    SELECT e.probe_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hits,
           CAST({k} AS BIGINT) AS k
    FROM exact e LEFT JOIN approx a
      ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
    GROUP BY e.probe_id
    """


@register(
    "ann_ivfpq_recall_at_k",
    oracle=_ivfpq_recall_oracle(
        _PQ_BATCH_PROBE_IDS, k=10, nprobe=_PQ_BATCH_NPROBE
    ),
    doc="PQ QUALITY TELEMETRY — recall@10 of the IVF-PQ ADC search vs "
    "the index's own exact-int8 exhaustive ranking, as a driver-"
    "visible catalog entry (the PQ twin of ann_ivf_recall_at_k): PQ "
    "is doubly approximate (pruned lists + quantized residuals), so "
    "its recall is the number a serving tier must monitor to size "
    "nprobe/m/ks — this entry makes it a VALUE-VERIFIED integer "
    "readout instead of a buried pytest floor. Per probe (the 3 batch "
    "probes): the batch ADC top-10 off one pruned codes scan, the "
    "exact top-10 from an every-list batch_search (nprobe = "
    "n_centroids — exhaustive under the index's integer scoring, the "
    "same value-verified machinery), and the per-probe HIT COUNT of "
    "the PQ set inside the exact set. Integers, not float ratios, so "
    "the oracle replays both rankings and the counts hash-verify.",
)
def ann_ivfpq_recall_at_k(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import (
        _centroid_rows,
        batch_search,
        ensure_pq,
        search_pq_batch,
    )

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    probes = list(_PQ_BATCH_PROBE_IDS)
    approx = search_pq_batch(
        spark, path, probes, k=10, nprobe=_PQ_BATCH_NPROBE, m=_PQ_M, ks=_PQ_KS
    ).select("probe_id", "vec_id", F.lit(1).alias("hit"))
    # the ground truth must stay EXHAUSTIVE: derive nprobe from the
    # index's own centroid count instead of hard-coding the build
    # default (round-14 advice — a changed default would silently turn
    # the baseline approximate and surface only as an oracle mismatch)
    exact = batch_search(
        spark, path, probes, k=10, nprobe=len(_centroid_rows(spark, path))
    ).select("probe_id", "vec_id")
    return (
        exact.join(approx, ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(F.count("hit").alias("n_hits"))
        .withColumn("k", F.lit(10).cast("long"))
    )


@register(
    "ann_ivfpq_search_by_vector_topk",
    oracle=_ivfpq_oracle(k=10, nprobe=4, probe_id=1, exclude_probe=False),
    doc="IVF-PQ search for an EXTERNAL float query vector — the "
    "serving reality (a RAG query embedding is not a stored id), and "
    "the PQ twin of the int8 tier's by-vector entries: the probe is "
    "vec 1's RAW embedding served through search_pq_by_vector, which "
    "quantizes driver-side with the index's own scheme "
    "(quantize_query — float32 promotion, the same floor rule, widen "
    "from meta), so the external query scores in the identical "
    "exact-integer domain as the stored codes; no self-exclusion (the "
    "external path has no id). The shared _search_pq_core then runs "
    "the pruned-ADC readout unchanged. VALUE-VERIFIED: the oracle "
    "uses the STORED q8 of vec 1 — equal by construction to "
    "quantize_query(raw vec 1), the property the int8 by-vector "
    "entries already pin — with the probe row kept in the candidate "
    "set (exclude_probe=False), so its rank-1 self-hit doubles as a "
    "quantization-consistency check.",
)
def ann_ivfpq_search_by_vector_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, search_pq_by_vector

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    emb = load(spark, sf, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    return search_pq_by_vector(
        spark, path, qv, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


def _ivfpq_incr_cte() -> str:
    """The base-subset build + frozen assign + frozen encode replay,
    through ``nenc`` (the incoming rows' codes) — shared by the
    incremental-encode histogram readout below and round15's
    insert-search oracle (which serves over penc ∪ nenc)."""
    from .retrieval_queries import _IVF_SCORE, _IVF_INCR_BASE
    from .round13 import _l2_sql

    score = _IVF_SCORE
    base = _IVF_INCR_BASE.format(t="VARCHAR")
    m, subd = _PQ_M, _PQ_SUBD
    return f"""
    {_ivfpq_train_cte(base_where=base)},
    incoming AS (
      SELECT * FROM live WHERE NOT ({base})
    ),
    new_assign AS (
      SELECT vec_id, cid, q8 FROM (
        SELECT l.vec_id, c.cid, l.q8,
               {score.format(a="l.q8", b="c.c8", n="c.cnrm")} AS score
        FROM incoming l CROSS JOIN c1n c
      ) QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY score DESC, cid) = 1
    ),
    nres AS MATERIALIZED (
      SELECT n.vec_id, n.cid,
             [n.q8[i] - c.c8[i] FOR i IN range(1, len(n.q8) + 1)] AS r
      FROM new_assign n JOIN c1n c ON c.cid = n.cid
    ),
    nrsub AS MATERIALIZED (
      SELECT vec_id, cid, s.s AS sub,
             list_slice(r, s.s * {subd} + 1, (s.s + 1) * {subd}) AS rs
      FROM nres, unnest(range(0, {m})) AS s(s)
    ),
    nenc AS (
      SELECT vec_id, cid, sub, code FROM (
        SELECT r.vec_id, r.cid, r.sub, c.code,
               {_l2_sql("r.rs", "c.e")} AS d
        FROM nrsub r JOIN pcb c ON r.cid = c.cid AND r.sub = c.sub
      ) QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY d ASC, code ASC) = 1
    )"""


def _ivfpq_incr_oracle() -> str:
    return f"""{_ivfpq_incr_cte()}
    SELECT cid AS centroid_id, CAST(sub AS BIGINT) AS sub,
           CAST(code AS BIGINT) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_new
    FROM nenc GROUP BY cid, sub, code
    """


@register(
    "ann_ivfpq_incremental_encode",
    oracle=_ivfpq_incr_oracle(),
    doc="incremental PQ maintenance — the INSERT path at the memory-"
    "budget tier (the PQ twin of ann_ivf_incremental_assign, same "
    "md5-bucket base/incoming split, SAME base index): the coarse "
    "quantizer AND the residual codebooks stay FROZEN while new "
    "vectors are assigned (assign_new, map-side argmax) and then "
    "ENCODED against the frozen per-list codebooks (encode_new: "
    "residual vs assigned centroid, per-subspace exact-integer L2 "
    "argmin, ties to the smallest code — bit-identical to train_pq's "
    "final encode), producing codes ready to append under their "
    "partitions. At 100 TB this is how streaming ingest keeps the PQ "
    "serving tier fresh between slow-cadence retrains. Output is the "
    "per-(list, subspace, code) histogram of the NEW codes — the "
    "drift signal a maintenance job monitors to decide a codebook "
    "retrain (a hot code = residual distribution shifting away from "
    "the trained centroids). VALUE-VERIFIED: the oracle replays the "
    "base-subset build + PQ train + frozen assignment + frozen "
    "encode, all exact integers.",
)
def ann_ivfpq_incremental_encode(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import assign_new, encode_new, ensure_pq
    from .retrieval_queries import _IVF_INCR_BASE

    pred = _IVF_INCR_BASE.format(t="string")
    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS, subset_pred=pred)
    incoming = load(spark, sf, "embeddings").filter(~F.expr(pred))
    assigned = assign_new(spark, path, incoming)
    codes = encode_new(spark, path, assigned, m=_PQ_M, ks=_PQ_KS)
    return (
        codes.select(
            "centroid_id",
            F.posexplode("codes").alias("sub", "code"),
        )
        .groupBy("centroid_id", "sub", "code")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
        .select(
            "centroid_id",
            F.col("sub").cast("bigint").alias("sub"),
            F.col("code").cast("bigint").alias("code"),
            "n_new",
        )
    )
