"""Round-16 catalog extensions.

ANN serving: the LAST open cells of the serving surface — two-tier
rerank for EXTERNAL query vectors (``ann_ivfpq_rerank_by_vector_topk``
— batch of query embeddings → PQ shortlist → exact int8 rerank through
the shared cores; VERDICT r15 #1) — plus the coarse tier's first
MAINTENANCE ACTION (``ann_ivf_split_list_roundtrip`` — split a hot
inverted list with a deterministic 2-means, the action the skew
telemetry exists to trigger; VERDICT r15 #2), the streaming → ANN
integration (``streaming_ann_ingest_search`` — foreachBatch micro-
batches quantize+assign+append into BOTH serving tiers, a last-batch
embedding servable immediately; VERDICT r15 #3), and BATCH hybrid
retrieval (``hybrid_batch_indexed_topk`` — Q concurrent queries, one
token-index scan + one assignments scan; VERDICT r15 #4). ML: the GBT
generalized over R rounds with a train/holdout split and a
holdout-accuracy readout (``gbt_3round_holdout_stats``; VERDICT r15
#6). Governance: the GDPR purge composed END TO END across subsystems
(``gdpr_purge_cascade_ann`` — one forget-set cascading through the
relational chain AND tombstoning its vectors with a model-level PQ
retrain; VERDICT r15 #7).

Appended as the LAST module in queries/__init__.py's pinned
``_ROUND_MODULES`` order (first-50 driver prefix + full-order manifest
both test-frozen).

Determinism per catalog.py's rules: every output column is an exact
integer; the non-integer comparisons (ADC/cosine rank scores) are IEEE
doubles produced by identical expression trees on exact integers in
both engines with total integer tie-breaks; the holdout prediction is
the same CROSS-MULTIPLIED integer comparison as the round-15 staged
model.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import publish
from ..localrel import local_rel
from ..pins import release
from .catalog import load, register, stage_parquet
from .round13 import _PQ_KS, _PQ_M
from .round14 import _ivfpq_batch_rerank_oracle, _ivfpq_incr_cte

# ---------------------------------------------------------------------------
# Two-tier rerank for EXTERNAL query vectors (VERDICT r15 #1)
# ---------------------------------------------------------------------------

#: source rows whose RAW float embeddings form the external query
#: batch — disjoint from every other ANN exhibit's probe set (by-id PQ
#: batch 0/7/19, PQ by-vec batch 2/11/23, int8 by-vec 5/12/31, int8
#: by-id 0..4) so the rerank exercises its own probed-list union
_PQ_RRBV_SRC_IDS = (3, 14, 27)
_PQ_RRBV_K = 5
_PQ_RRBV_NPROBE = 4
_PQ_RRBV_MULT = 4


@register(
    "ann_ivfpq_rerank_by_vector_topk",
    oracle=_ivfpq_batch_rerank_oracle(
        _PQ_RRBV_SRC_IDS,
        k=_PQ_RRBV_K,
        nprobe=_PQ_RRBV_NPROBE,
        cand_mult=_PQ_RRBV_MULT,
        exclude_probe=False,
        by_position=True,
    ),
    doc="the SERVING SURFACE CLOSED (VERDICT r15 #1 — the {by-vector} "
    "× {rerank} cells were the last open part): the literal production "
    "RAG request end to end — a BATCH of EXTERNAL query embeddings → "
    "PQ shortlist → exact int8 rerank, in ONE job "
    "(vector_index.ipynb raw 65: similarity_search always serves an "
    "external embedding, and the rerank tier is what production "
    "serves it from). Each query quantizes driver-side with the "
    "index's own scheme (_quantize_query_batch — batch positions as "
    "synthetic probe_ids, loud zero guard); the SHARED "
    "_search_pq_batch_core produces every query's k·4 shortlist off "
    "ONE partition-pruned codes scan with NO self-exclusion; the "
    "SHARED _rerank_exact_core re-scores ONLY the shortlisted "
    "(probe, vec) pairs off ONE pruned assignments scan (broadcast "
    "pair join — point lookups) and re-ranks per probe. Composition "
    "of two already-verified cores, no forked readout; each probe's "
    "rank-1 hit is its own source row (the quantization-consistency "
    "property riding the result). VALUE-VERIFIED: the oracle uses the "
    "stored q8 of each source row (equal by construction to "
    "quantize_query of the raw embedding) numbered by batch position, "
    "keeps probe rows in their candidate sets, and replays build + PQ "
    "train + encode + batch ADC shortlist + exact rerank end to end.",
)
def ann_ivfpq_rerank_by_vector_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, search_pq_rerank_by_vectors

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    emb = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in load(spark, sf, "embeddings")
        .filter(F.col("vec_id").isin(list(_PQ_RRBV_SRC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    }
    qvs = [emb[i] for i in _PQ_RRBV_SRC_IDS]
    return search_pq_rerank_by_vectors(
        spark,
        path,
        qvs,
        k=_PQ_RRBV_K,
        nprobe=_PQ_RRBV_NPROBE,
        cand_mult=_PQ_RRBV_MULT,
        m=_PQ_M,
        ks=_PQ_KS,
    )


# ---------------------------------------------------------------------------
# Coarse-tier rebalance: split the hot list (VERDICT r15 #2)
# ---------------------------------------------------------------------------

_SPLIT_VARIANT = "splitdemo-v1"


def _split_trunk_cte() -> str:
    """The SHARED 2-means-split replay trunk (append → hot-list pick →
    seeds → one integer Lloyd round → child assignment → post-split
    centroid table), composed by the int8 roundtrip oracle and the
    PQ-tier split oracle — ONE definition of the split semantics, the
    same reuse rule as the batch CTEs. Expects the build CTEs (live,
    c1n, b1) already in scope; defines newa, ball, hot, sl, sseed,
    sb0, sel, ssums, sc1, sc1n, sb1, c2."""
    from .retrieval_queries import _IVF_DOT, _IVF_INCR_BASE, _IVF_SCORE

    dot, score = _IVF_DOT, _IVF_SCORE
    base = _IVF_INCR_BASE.format(t="VARCHAR")
    return f"""
    newa AS (  -- frozen-quantizer assignment of the incoming batch
      SELECT vec_id, q8, nrm, cid FROM (
        SELECT l.vec_id, l.q8, l.nrm, c.cid,
               {score.format(a="l.q8", b="c.c8", n="c.cnrm")} AS score
        FROM (SELECT * FROM live WHERE NOT ({base})) l CROSS JOIN c1n c
      ) QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY score DESC, cid) = 1
    ),
    ball AS MATERIALIZED (  -- the appended index: base ∪ incoming
      SELECT vec_id, q8, nrm, cid FROM b1
      UNION ALL
      SELECT vec_id, q8, nrm, cid FROM newa
    ),
    hot AS (  -- the hot list: max occupancy, ties to the smallest cid
      SELECT cid FROM (SELECT cid, COUNT(*) AS n FROM ball GROUP BY cid)
      ORDER BY n DESC, cid LIMIT 1
    ),
    sl AS MATERIALIZED (
      SELECT * FROM ball WHERE cid = (SELECT cid FROM hot)
    ),
    sseed AS (  -- 2-means seeds: the list's 2 smallest vec_ids
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS scid,
             q8 AS c8, nrm AS cnrm
      FROM sl ORDER BY vec_id LIMIT 2
    ),
    sb0 AS (  -- seed assignment: the family's shared cosine rule
      SELECT vec_id, q8, scid FROM (
        SELECT l.vec_id, l.q8, s.scid,
               {score.format(a="l.q8", b="s.c8", n="s.cnrm")} AS score
        FROM sl l CROSS JOIN sseed s
      ) QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY score DESC, scid) = 1
    ),
    sel AS (  -- one INTEGER Lloyd round over the list's own rows
      SELECT scid, u.i AS i, q8[u.i] AS v
      FROM sb0, unnest(range(1, len(q8) + 1)) AS u(i)
    ),
    ssums AS (
      SELECT scid, i, CAST(SUM(v) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM sel GROUP BY scid, i
    ),
    sc1 AS (
      SELECT scid,
             list(CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS INT)
                  ORDER BY i) AS c8
      FROM ssums GROUP BY scid
    ),
    sc1n AS (
      SELECT * FROM (
        SELECT scid, c8, {dot.format(a="c8", b="c8")} AS cnrm FROM sc1
      ) WHERE cnrm > 0
    ),
    sb1 AS (  -- final child assignment; A keeps the cid, B = max+1
      SELECT vec_id, q8, nrm,
             CASE WHEN scid = 1 THEN (SELECT cid FROM hot)
                  ELSE (SELECT MAX(cid) FROM c1n) + 1 END AS cid
      FROM (
        SELECT l.vec_id, l.q8, l.nrm, s.scid,
               {score.format(a="l.q8", b="s.c8", n="s.cnrm")} AS score
        FROM sl l CROSS JOIN sc1n s
      ) QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY score DESC, scid) = 1
    ),
    c2 AS (  -- post-split centroid table
      SELECT cid, c8, cnrm FROM c1n WHERE cid <> (SELECT cid FROM hot)
      UNION ALL
      SELECT CASE WHEN scid = 1 THEN (SELECT cid FROM hot)
                  ELSE (SELECT MAX(cid) FROM c1n) + 1 END AS cid, c8, cnrm
      FROM sc1n
    )
    """


def _ivf_split_oracle(k: int, nprobe: int, probe_id: int) -> str:
    """Replay the WHOLE lifecycle the entry runs: base-subset build
    (the shared ``_ivf_int8_build_cte``), frozen-quantizer assign of
    the md5-bucket incoming batch, union append, hot-list pick (max
    count, ties to the smallest cid), the deterministic 2-means SPLIT
    of that list (seeds = its 2 smallest vec_ids, the shared cosine
    assignment rule, ONE integer Lloyd round with the same
    double-division floor, final child assignment; child A keeps the
    parent's cid, child B = max(cid) + 1), and a search over the
    post-split centroid table + assignments."""
    from .retrieval_queries import (
        _ivf_int8_build_cte,
        _IVF_DOT,
        _IVF_INCR_BASE,
        _IVF_SCORE,
    )

    dot, score = _IVF_DOT, _IVF_SCORE
    base = _IVF_INCR_BASE.format(t="VARCHAR")
    return f"""
    {_ivf_int8_build_cte(8, base_where=base)},
    {_split_trunk_cte()},
    b2 AS (  -- post-split assignments
      SELECT vec_id, q8, nrm, cid FROM ball
      WHERE cid <> (SELECT cid FROM hot)
      UNION ALL
      SELECT vec_id, q8, nrm, cid FROM sb1
    ),
    probe AS (SELECT q8 FROM ball WHERE vec_id = {probe_id}),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid, {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c2 c CROSS JOIN probe p
      ) ORDER BY score DESC, cid LIMIT {nprobe}
    ),
    cand AS (
      SELECT b.vec_id, b.q8, b.nrm FROM b2 b JOIN pc ON b.cid = pc.cid
      WHERE b.vec_id <> {probe_id}
    ),
    sscored AS (
      SELECT c.vec_id,
             {dot.format(a="c.q8", b="p.q8")} AS dot,
             {score.format(a="c.q8", b="p.q8", n="c.nrm")} AS score
      FROM cand c CROSS JOIN probe p
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INT)
             AS rnk,
           vec_id, dot
    FROM sscored ORDER BY score DESC, vec_id LIMIT {k}
    """


@register(
    "ann_ivf_split_list_roundtrip",
    oracle=_ivf_split_oracle(k=10, nprobe=4, probe_id=0),
    doc="the COARSE tier's first MAINTENANCE ACTION (VERDICT r15 #2 — "
    "the skew telemetry finally gets its lever): after heavy appends "
    "a frozen quantizer keeps routing new rows to the same hot lists "
    "and probe cost grows with the largest probed list forever; "
    "split_list rebalances. The full lifecycle in one entry: a "
    "PRIVATE variant index builds over the md5-bucket base subset, "
    "the incoming bucket APPENDS against the frozen quantizer "
    "(append_vectors, claim-gated like every non-idempotent append), "
    "the HOT list (max occupancy, ties to the smallest cid — read "
    "from the same counts ann_ivf_index_stats serves) SPLITS via the "
    "family's own deterministic discipline (seeds = the list's 2 "
    "smallest vec_ids, shared cosine assignment, ONE integer Lloyd "
    "round, child A keeps the parent cid, child B = max+1), and the "
    "search serves from the post-split 9-centroid table. The publish "
    "is retrain_pq's staging + atomic-swap lifted to the whole index "
    "dir, with untouched lists carried as HARDLINKS — at 100 TB the "
    "split costs IO proportional to ONE list, never the index; a PQ "
    "layer, when trained, moves in the same swap (split rows "
    "re-encoded against their child centroid with the parent's "
    "inherited codebook — pytest-pinned). VALUE-VERIFIED: the oracle "
    "replays base build + frozen assign + append + hot-list pick + "
    "2-means split + post-split search end to end; pytest also pins "
    "that probes whose probed lists avoid the split are bit-unchanged.",
)
def ann_ivf_split_list_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import json

    from ..pipeline.ann_index import (
        _CENTROID_CACHE,
        _claimed,
        append_vectors,
        ensure_index,
        search_by_id,
        split_list,
    )
    from .retrieval_queries import _IVF_INCR_BASE
    from .round15 import _expected_incoming

    pred = _IVF_INCR_BASE.format(t="string")
    not_base = ~F.expr(pred)

    def ensure():
        return ensure_index(
            spark, sf, n_centroids=8, iters=1,
            variant=_SPLIT_VARIANT, subset_pred=pred,
        )

    path = ensure()
    incoming = load(spark, sf, "embeddings").filter(not_base)
    expected = _expected_incoming(path, incoming)
    assign_dir = os.path.join(path, "assignments.parquet")
    n_appended = spark.read.parquet(assign_dir).filter(not_base).count()
    if n_appended not in (0, expected):
        # torn append (crash inside the multi-file write): retire +
        # rebuild — the round-15 insert entry's heal, same append path
        publish.retire(path)
        _CENTROID_CACHE.pop(path, None)
        path = ensure()
        assign_dir = os.path.join(path, "assignments.parquet")
        n_appended = 0
    if n_appended == 0:
        if not _claimed(
            path, "_append_claim", lambda: append_vectors(spark, path, incoming)
        ):
            import time

            deadline = time.time() + 180.0
            while time.time() < deadline:
                if (
                    spark.read.parquet(assign_dir).filter(not_base).count()
                    == expected
                ):
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent append_vectors holder did not commit in 180s"
                )

    def already_split() -> bool:
        with open(os.path.join(path, "meta.json")) as f:
            return bool(json.load(f).get("split_history"))

    def do_split() -> None:
        if already_split():  # re-check under the claim
            return
        counts = (
            spark.read.parquet(assign_dir)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        hot = min(
            int(r["centroid_id"])
            for r in counts
            if int(r["n"]) == max(int(x["n"]) for x in counts)
        )
        split_list(spark, path, hot)

    if not already_split():
        if not _claimed(path, "_split_claim", do_split):
            import time

            deadline = time.time() + 180.0
            while time.time() < deadline:
                if already_split():
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent split_list holder did not commit in 180s"
                )
    return search_by_id(spark, path, probe_vec_id=0, k=10, nprobe=4)


# ---------------------------------------------------------------------------
# Streaming → ANN: continuously crawled embeddings become servable
# (VERDICT r15 #3)
# ---------------------------------------------------------------------------

_STREAMINS_VARIANT = "streamins-demo-v1"
_STREAMINS_N_BATCHES = 3
#: the last micro-batch's membership predicate — batch b carries the
#: incoming rows with vec_id % N == b, so "an embedding from the LAST
#: batch" is replayable in SQL with no file access
_STREAMINS_LAST_PRED = f"vec_id % {_STREAMINS_N_BATCHES} = {_STREAMINS_N_BATCHES - 1}"


def _streamins_oracle() -> str:
    from .round15 import _ivfpq_insert_oracle

    return _ivfpq_insert_oracle(
        k=10,
        nprobe=4,
        probe_sel=(
            "(SELECT MIN(vec_id) FROM incoming "
            f"WHERE {_STREAMINS_LAST_PRED})"
        ),
    )


@register(
    "streaming_ann_ingest_search",
    oracle=_streamins_oracle(),
    doc="STREAMING → ANN integration closed (VERDICT r15 #3 — both "
    "halves existed, nothing connected them): the md5-bucket incoming "
    "embeddings replay as THREE ordered micro-batches (batch b = "
    "vec_id % 3 == b, staged files with increasing mtimes — the "
    "family's deterministic replay harness) through a real "
    "foreachBatch sink (streaming_codes_append: per micro-batch, "
    "frozen-quantizer assign_new + append_codes lands the rows in "
    "BOTH serving tiers as new partition files), into a PRIVATE "
    "variant PQ index built over the base subset — continuous "
    "crawling feeding the vector index (reference crawler.py:21-23 → "
    "graph.py:211-219), the config-change-not-rearchitecture claim "
    "made real. The search then probes with the smallest vector of "
    "the LAST micro-batch: an embedding crawled moments ago is "
    "servable the moment its batch commits, ranking against base and "
    "all streamed rows alike. Idempotent across invocations (counts "
    "equal the incoming batch = committed → serve directly); the "
    "append is claim-gated and a torn/duplicated state heals by "
    "retire + rebuild (the insert entry's machinery — the stream "
    "checkpoint lives INSIDE the index dir, so the heal clears it "
    "too). VALUE-VERIFIED: micro-batching cannot change the final "
    "state (the union is order-free), so the oracle replays base "
    "build + PQ train + frozen assign + frozen encode over ALL "
    "incoming rows and serves probing the last batch's smallest "
    "vector — a lost or duplicated micro-batch surfaces as a value "
    "mismatch.",
)
def streaming_ann_ingest_search(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import (
        _CENTROID_CACHE,
        _claimed,
        ensure_pq,
        search_pq_by_id,
    )
    from ..streaming.ingest_stream import streaming_codes_append
    from .python_ops import _replay_shuffle_partitions, _stage_ordered_batches
    from .retrieval_queries import _IVF_INCR_BASE
    from .round15 import _expected_incoming, _tier_counts_one_job

    pred = _IVF_INCR_BASE.format(t="string")
    not_base = ~F.expr(pred)

    def ensure():
        return ensure_pq(
            spark,
            sf,
            m=_PQ_M,
            ks=_PQ_KS,
            variant=_STREAMINS_VARIANT,
            subset_pred=pred,
        )

    path = ensure()
    incoming = load(spark, sf, "embeddings").filter(not_base)
    expected = _expected_incoming(path, incoming)
    tier_counts = _tier_counts_one_job(spark, not_base, m=_PQ_M, ks=_PQ_KS)

    n_codes, n_assign = tier_counts(path)
    if n_assign != n_codes or n_assign not in (0, expected):
        # torn or duplicated stream (crash inside a micro-batch commit,
        # or a replayed epoch re-appending): retire + rebuild — the
        # checkpoint dir lives inside the index dir, so it goes too
        publish.retire(path)
        _CENTROID_CACHE.pop(path, None)
        path = ensure()
        n_assign = 0
    def do_stream() -> None:
        n = _STREAMINS_N_BATCHES
        src = _stage_ordered_batches(
            lambda: [
                incoming.filter(F.pmod(F.col("vec_id"), F.lit(n)) == b)
                for b in range(n)
            ],
            sf,
            kind=f"annstream_b{n}",
            src_table="embeddings.parquet",
        )
        stream = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with _replay_shuffle_partitions(spark):
            q = streaming_codes_append(
                stream,
                path,
                os.path.join(path, "_stream_ckpt"),
                m=_PQ_M,
                ks=_PQ_KS,
            )
            # the boolean return matters (round-16 advice, medium): on
            # timeout the availableNow query is still APPENDING in the
            # background — releasing the claim and reading the index
            # here would serve a torn read that only the NEXT
            # invocation's count-heal repairs. Stop it and fail loudly.
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "streaming append did not drain in 300s; index left "
                    "for the next invocation's torn-state heal"
                )

    if n_assign == 0:
        if not _claimed(path, "_stream_append_claim", do_stream):
            import time

            deadline = time.time() + 300.0
            while time.time() < deadline:
                n_codes, n_assign = tier_counts(path)
                if n_codes == n_assign == expected:
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent streaming append holder did not commit in 300s"
                )
    probe_id = int(
        spark.read.parquet(os.path.join(path, "assignments.parquet"))
        .filter(not_base & F.expr(_STREAMINS_LAST_PRED))
        .agg(F.min("vec_id"))
        .first()[0]
    )
    return search_pq_by_id(
        spark, path, probe_vec_id=probe_id, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


# ---------------------------------------------------------------------------
# Batch hybrid retrieval: Q concurrent queries, one job (VERDICT r15 #4)
# ---------------------------------------------------------------------------

#: the concurrent request batch: (query-embedding source row, its
#: keyword tokens). Tokens are real corpus vocabulary; each query's
#: own source doc is excluded from its candidates (the single indexed
#: entry's rule, per probe).
_BH_QUERIES = (
    (4, ("spark", "scan")),
    (9, ("join", "window")),
    (21, ("stream", "dup")),
)
_BH_K = 10
_BH_CANDS = 40  # k(10) x cand_mult(4) vector candidates per query
_BH_NPROBE = 4


def _hybrid_batch_oracle() -> str:
    """Per-probe replay of the indexed hybrid chain: by-position int8
    batch probes (stored q8 — the by-vector equality property), each
    probe's top-CANDS pruned vector candidates, per-query posting-list
    candidates off the same token/df model as the single oracle, the
    per-query union (own source doc excluded), candidate-only kw_hits
    and float cosine, PER-QUERY max-norm fusion, per-query rank."""
    from .retrieval_queries import (
        _HYBRID_MAX_DF,
        _ivf_int8_build_cte,
        _IVF_SCORE,
    )

    src_vals = ", ".join(
        f"({i}, {vid})" for i, (vid, _) in enumerate(_BH_QUERIES)
    )
    qtok_vals = ", ".join(
        f"({i}, '{t}')"
        for i, (_, toks) in enumerate(_BH_QUERIES)
        for t in toks
    )
    pid_case = "CASE vec_id " + " ".join(
        f"WHEN {vid} THEN {i}" for i, (vid, _) in enumerate(_BH_QUERIES)
    ) + " END"
    tok_case = "CASE c.probe_id " + " ".join(
        "WHEN {i} THEN [{lst}]".format(
            i=i, lst=", ".join(f"'{t}'" for t in toks)
        )
        for i, (_, toks) in enumerate(_BH_QUERIES)
    ) + " END"
    return f"""
    {_ivf_int8_build_cte(8)},
    probes AS (
      SELECT {pid_case} AS probe_id, q8 AS pq8
      FROM live WHERE vec_id IN ({", ".join(str(v) for v, _ in _BH_QUERIES)})
    ),
    ppc AS (  -- per-probe nprobe nearest centroids
      SELECT probe_id, cid FROM (
        SELECT p.probe_id, c.cid,
               {_IVF_SCORE.format(a="p.pq8", b="c.c8", n="c.cnrm")} AS score
        FROM probes p CROSS JOIN c1n c
      ) QUALIFY row_number() OVER (PARTITION BY probe_id
                                   ORDER BY score DESC, cid) <= {_BH_NPROBE}
    ),
    vcand AS (  -- each probe's top-CANDS pruned vector candidates
      SELECT probe_id, vec_id AS doc_id FROM (
        SELECT pp.probe_id, b.vec_id,
               {_IVF_SCORE.format(a="b.q8", b="p.pq8", n="b.nrm")} AS score
        FROM ppc pp
        JOIN b1 b ON b.cid = pp.cid
        JOIN probes p ON p.probe_id = pp.probe_id
      ) QUALIFY row_number() OVER (PARTITION BY probe_id
                                   ORDER BY score DESC, vec_id) <= {_BH_CANDS}
    ),
    tok AS (  -- the inverted token index's (token, doc_id) postings
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    tdf AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY token),
    qtok AS (SELECT * FROM (VALUES {qtok_vals}) AS q(probe_id, token)),
    kwcand AS (  -- per-query posting-list candidates with the df cap
      SELECT DISTINCT q.probe_id, t.doc_id
      FROM tok t JOIN tdf USING (token) JOIN qtok q ON q.token = t.token
      WHERE tdf.df <= {_HYBRID_MAX_DF}
    ),
    src AS (SELECT * FROM (VALUES {src_vals}) AS s(probe_id, src_id)),
    candx AS (  -- per-query union, own source doc excluded
      SELECT DISTINCT c.probe_id, c.doc_id FROM (
        SELECT probe_id, doc_id FROM vcand
        UNION ALL
        SELECT probe_id, doc_id FROM kwcand
      ) c JOIN src s ON s.probe_id = c.probe_id
      WHERE c.doc_id <> s.src_id
    ),
    kwq AS (  -- candidate-only keyword hits, per query's token set
      SELECT c.probe_id, c.doc_id,
             CAST(len(list_filter(string_split(d.text, ' '),
                  t -> list_contains({tok_case}, t))) AS BIGINT) AS kw_hits
      FROM candx c JOIN documents d USING (doc_id)
    ),
    vec AS (  -- candidate-only float cosine vs each query's embedding
      SELECT c.probe_id, c.doc_id,
             list_cosine_similarity(e.embedding, qe.embedding) AS vec_score
      FROM candx c
      JOIN embeddings e ON e.vec_id = c.doc_id
      JOIN src s ON s.probe_id = c.probe_id
      JOIN embeddings qe ON qe.vec_id = s.src_id
    ),
    joined AS (
      SELECT k.probe_id, k.doc_id, k.kw_hits, v.vec_score
      FROM kwq k JOIN vec v ON v.probe_id = k.probe_id AND v.doc_id = k.doc_id
    ),
    m AS (  -- PER-QUERY normalization maxima from its own candidates
      SELECT probe_id, max(kw_hits) AS kmax, max(vec_score) AS vmax
      FROM joined GROUP BY probe_id
    ),
    fused AS (
      SELECT j.probe_id, j.doc_id, j.kw_hits,
             greatest(
               CASE WHEN m.vmax > 0 THEN j.vec_score / m.vmax ELSE 0 END,
               CASE WHEN m.kmax > 0
                    THEN CAST(j.kw_hits AS DOUBLE) / m.kmax ELSE 0 END
             ) AS score
      FROM joined j JOIN m USING (probe_id)
    )
    SELECT probe_id, doc_id, kw_hits,
           CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY score DESC, doc_id) AS INT) AS rnk
    FROM fused
    QUALIFY rnk <= {_BH_K}
    """


@register(
    "hybrid_batch_indexed_topk",
    oracle=_hybrid_batch_oracle(),
    doc="BATCH hybrid retrieval (VERDICT r15 #4): Q concurrent hybrid "
    "queries served in ONE job — the request shape that motivated "
    "batch ANN serving, applied to the fused path "
    "(vector_index.ipynb raw 88-97 under concurrency). Vector "
    "candidates: one batch_search_by_vectors call — ALL queries ride "
    "ONE partition-pruned assignments scan (the shared int8 batch "
    "core). Keyword candidates: ALL queries' tokens broadcast as one "
    "(probe, token) relation against ONE partition-pruned scan of the "
    "staged inverted token index (bucket IN-list from driver-side "
    "crc32, df cap per posting list) — the token-index join happens "
    "once regardless of Q. Fusion: per-query candidate union (own "
    "source doc excluded), kw_hits and float cosine computed ONLY on "
    "broadcast-joined candidates, PER-QUERY max-norm (each query "
    "normalizes within its own candidate set — queries never leak "
    "into each other's scales), per-query rank window. Plan-asserted: "
    "one token-index scan + one assignments scan regardless of batch "
    "size. VALUE-VERIFIED: the oracle replays build + per-probe "
    "pruning + posting-list generation + per-query fusion end to end.",
)
def hybrid_batch_indexed_topk(spark: SparkSession, sf: str) -> DataFrame:
    return _hybrid_batch_fused(spark, sf)


def _hybrid_batch_fused(spark: SparkSession, sf: str) -> DataFrame:
    """The batch-hybrid fusion chain as a reusable kernel — the entry
    above serves it directly; round-17's batched E3 entry composes it
    with the expansion map projection (VERDICT r16 #4). Extracted
    body, byte-identical semantics; the @register block stays on the
    entry (registration position is load-bearing)."""
    import zlib

    from pyspark.sql.window import Window

    from ..pipeline.ann_index import batch_search_by_vectors, ensure_index
    from .retrieval_queries import (
        _HYBRID_MAX_DF,
        _staged_token_index,
        _TOK_BUCKETS,
        cosine_col,
    )

    path = ensure_index(spark, sf, widen_reps=None, n_centroids=8, iters=1)
    emb = load(spark, sf, "embeddings")
    src_ids = [vid for vid, _ in _BH_QUERIES]
    raw = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(src_ids))
        .select("vec_id", "embedding")
        .collect()
    }
    # ONE pruned assignments scan for all queries' vector candidates
    vec_cand = batch_search_by_vectors(
        spark, path, [raw[v] for v in src_ids], k=_BH_CANDS, nprobe=_BH_NPROBE
    ).select("probe_id", F.col("vec_id").alias("doc_id"))

    # ONE pruned token-index scan for all queries' keyword candidates
    toki = spark.read.parquet(_staged_token_index(spark, sf))
    all_toks = sorted({t for _, toks in _BH_QUERIES for t in toks})
    buckets = sorted({zlib.crc32(t.encode()) % _TOK_BUCKETS for t in all_toks})
    qtok = local_rel(
        spark,
        [(i, t) for i, (_, toks) in enumerate(_BH_QUERIES) for t in toks],
        "probe_id long, token string",
    )
    kw_cand = (
        toki.filter(
            F.col("tok_bucket").isin(buckets)
            & F.col("token").isin(all_toks)
            & (F.col("df") <= _HYBRID_MAX_DF)
        )
        .join(F.broadcast(qtok), "token")
        .select("probe_id", "doc_id")
        .distinct()
    )
    src_rel = F.broadcast(
        local_rel(
            spark,
            [(i, v) for i, (v, _) in enumerate(_BH_QUERIES)],
            "probe_id long, src_id long",
        )
    )
    cands = (
        vec_cand.unionByName(kw_cand)
        .join(src_rel, "probe_id")
        .filter(F.col("doc_id") != F.col("src_id"))
        .select("probe_id", "doc_id")
        .distinct()
    )
    # candidate-only scoring: kw_hits against each query's token set...
    qtok_arr = F.broadcast(
        local_rel(
            spark,
            [(i, list(toks)) for i, (_, toks) in enumerate(_BH_QUERIES)],
            "probe_id long, qtoks array<string>",
        )
    )
    docs = load(spark, sf, "documents")
    kw = (
        docs.select("doc_id", "text")
        .join(F.broadcast(cands), "doc_id")
        .join(qtok_arr, "probe_id")
        .select(
            "probe_id",
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.col("text"), " "),
                    lambda t: F.array_contains(F.col("qtoks"), t),
                )
            )
            .cast("bigint")
            .alias("kw_hits"),
        )
    )
    # ...and float cosine vs each query's raw embedding (broadcast)
    qv_rel = F.broadcast(
        local_rel(
            spark,
            [(i, raw[v]) for i, (v, _) in enumerate(_BH_QUERIES)],
            "probe_id long, qv array<float>",
        )
    )
    joined = (
        kw.join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
        )
        .join(qv_rel, "probe_id")
        .select(
            "probe_id",
            "doc_id",
            "kw_hits",
            cosine_col(F.col("embedding"), F.col("qv")).alias("vec_score"),
        )
    )
    # PER-QUERY maxima as probe-partitioned window maxes, NOT a
    # groupBy-and-rejoin: re-joining would reference `joined` twice and
    # duplicate the whole candidate subtree (token-index scan included)
    # in the plan — the single-query entry reads its corpus-wide maxima
    # off a 1-row broadcast agg, but a batch partitions naturally by
    # probe_id (bounded candidate-sized partitions), so one pass and
    # ONE exchange serve the maxima AND the final rank below
    wmax = Window.partitionBy("probe_id")
    fused = (
        joined.withColumn("kmax", F.max("kw_hits").over(wmax))
        .withColumn("vmax", F.max("vec_score").over(wmax))
        .withColumn(
            "score",
            F.greatest(
                F.when(
                    F.col("vmax") > 0, F.col("vec_score") / F.col("vmax")
                ).otherwise(F.lit(0.0)),
                F.when(
                    F.col("kmax") > 0,
                    F.col("kw_hits").cast("double") / F.col("kmax"),
                ).otherwise(F.lit(0.0)),
            ),
        )
        .select("probe_id", "doc_id", "kw_hits", "score")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _BH_K)
        .select("probe_id", "doc_id", "kw_hits", "rnk")
    )


# ---------------------------------------------------------------------------
# GBT generalized: R boosting rounds + train/holdout eval (VERDICT r15 #6)
# ---------------------------------------------------------------------------

_GBT3_ROUNDS = 3
#: the deterministic split rule of train_val_test_split, applied to the
#: orders key: first md5 hex digit <= 'b' = the 12/16 TRAIN bucket;
#: everything else (val+test, 4/16) is the held-out eval set
_GBT3_TRAIN_PRED = "substr(md5(CAST(o_orderkey AS {t})), 1, 1) <= 'b'"


def _split_pts_h(spark: SparkSession, sf: str) -> DataFrame:
    """_split_pts plus the deterministic md5 train flag (the orders key
    carried just long enough to derive it — the feature frame itself
    stays (f0, f1, f2, y, is_train))."""
    from .round12 import _split_pts  # noqa: F401  (doc cross-ref)

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
            (
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
                <= "b"
            ).alias("is_train"),
        )
    )


_SPLIT_PTS_H_SQL = f"""
      SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS f0,
             CAST(o_custkey % 97 AS BIGINT) AS f1,
             CAST(datediff('month', DATE '1992-01-01', o_orderdate)
                  AS BIGINT) AS f2,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN {_GBT3_TRAIN_PRED.format(t="VARCHAR")}
                  THEN 1 ELSE 0 END AS is_train
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL
        AND o_orderdate IS NOT NULL
"""


def _gbt_train_r(
    spark: SparkSession, sf: str, rounds: int = _GBT3_ROUNDS
) -> "tuple[list[list[DataFrame]], DataFrame]":
    """R-round stump-forest boosting on the level-pass machinery —
    round-14's two-round recursion parameterized over rounds (VERDICT
    r15 #6), trained on the md5 TRAIN bucket only: round 1 fits a
    depth-2 Gini tree to y; round t+1 fits one to the SIGN of the
    exact composite-cell residual (y·n_cell − p_cell over the
    (node_1..node_t) cell — within a composite cell n_cell is
    constant, so the sign is exact in BIGINT; the additive-correction
    algebra of gbt_2round_leaf_stats telescopes to exactly this cell
    mean, see that entry's cross-multiplication). Each round's scored
    frame pins once (localCheckpoint — the inter-round prediction
    cache every distributed GBDT keeps); each level stays ONE shared
    melt + histogram + two-phase cumsum regardless of leaf count, so
    training costs R·depth level passes at any corpus size. Returns
    (per-round per-level best splits, the final frame with n0..n{R-1}
    and y0)."""
    from .round12 import _split_counts
    from .round13 import _best_local, _gini_best, _tree_assign
    from .round14 import _GBT_DEPTH

    tr = (
        _split_pts_h(spark, sf)
        .filter(F.col("is_train"))
        .select("f0", "f1", "f2", "y")
        .withColumn("y0", F.col("y"))
    )
    splits_all: "list[list[DataFrame]]" = []
    state = tr
    prev_cur: "DataFrame | None" = None
    cell_cols: "list[str]" = []
    for r in range(rounds):
        cur = state.withColumn("node", F.lit(1).cast("bigint"))
        splits: "list[DataFrame]" = []
        for _ in range(_GBT_DEPTH):
            pins: "list[DataFrame]" = []
            # driver-literal bests (round-18, _best_local): broadcasts
            # build with no job inside every later level pass and the
            # per-round scored-frame checkpoint
            best = _best_local(
                _gini_best(_split_counts(cur, F.col("node"), pins=pins)),
                pins,
            )
            splits.append(best)
            cur = _tree_assign(cur, best)
        splits_all.append(splits)
        cur = cur.withColumnRenamed("node", f"n{r}").localCheckpoint(
            eager=True
        )
        # the previous round's pinned frame fed this eager checkpoint
        # and nothing else — free its blocks now (round-16 advice:
        # the per-round pins leaked block-manager storage for the
        # session lifetime on every cold training)
        release(prev_cur)
        prev_cur = cur
        cell_cols.append(f"n{r}")
        if r < rounds - 1:
            cell = cur.groupBy(*cell_cols).agg(
                F.count(F.lit(1)).cast("bigint").alias("_nc"),
                F.sum("y0").cast("bigint").alias("_pc"),
            )
            state = (
                cur.join(F.broadcast(cell), cell_cols)
                .withColumn(
                    "y",
                    F.when(
                        F.col("y0") * F.col("_nc") - F.col("_pc") > 0,
                        F.lit(1),
                    )
                    .otherwise(F.lit(0))
                    .cast("bigint"),
                )
                .drop("_nc", "_pc")
            )
        else:
            state = cur
    return splits_all, state


def _staged_gbt3h_model(spark: SparkSession, sf: str) -> str:
    """The trained R-round boosted model as a STAGED ARTIFACT (the
    gbt2/tree3 discipline — train once per dataset fingerprint, load
    at serving time): one dir holding `splits` ((rnd, node, fid, thr)
    for every round and level) and `cells` (per final composite cell:
    TRAIN size and TRAIN positives — the exact integers the majority
    threshold 2·p_cell > n_cell needs). The holdout entry's oracle
    replays ALL R trainings in SQL, so staging can never mask a wrong
    split."""

    def build(tmp: str) -> None:
        splits_all, final = _gbt_train_r(spark, sf)
        try:
            out = None
            for r, levels in enumerate(splits_all):
                for lv in levels:
                    flat = lv.select(
                        F.lit(r).cast("bigint").alias("rnd"),
                        F.col("leaf").cast("bigint").alias("node"),
                        F.col("b.fid").cast("bigint").alias("fid"),
                        F.col("b.thr").alias("thr"),
                    )
                    out = flat if out is None else out.unionByName(flat)
            out.coalesce(1).write.parquet(os.path.join(tmp, "splits"))
            cols = [f"n{r}" for r in range(_GBT3_ROUNDS)]
            final.groupBy(*cols).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_cell"),
                F.sum("y0").cast("bigint").alias("p_cell"),
            ).coalesce(1).write.parquet(os.path.join(tmp, "cells"))
            open(os.path.join(tmp, "_SUCCESS"), "w").close()
        finally:
            # the staged parquet IS the model from here on — release
            # the last round's pin (the per-level splits are
            # driver-literal relations and hold no blocks)
            release(final)

    return stage_parquet(
        os.path.join(sf, "orders.parquet"),
        f"gbt3h_model_v1_r{_GBT3_ROUNDS}",
        build,
    )


def _gbt3h_oracle() -> str:
    """Replay split + ALL THREE trainings + holdout scoring: the md5
    train bucket trains round 1 on y and rounds 2..R on the exact
    composite-cell residual sign; the holdout rows walk all R·depth
    hops and score against the TRAIN cell majorities."""
    from .round12 import _level_sql
    from .round13 import _gini_cand_sql, _node_case

    def hop_root(src: str, gb: str, out_node: str = "node") -> str:
        return (
            f"SELECT {src}.*, CAST(2 + "
            f"{_node_case('b.fid', 'b.thr', src)} AS BIGINT) AS {out_node} "
            f"FROM {src}, (SELECT fid, thr FROM {gb} WHERE rn = 1) b"
        )

    return f"""
    WITH apts AS MATERIALIZED ({_SPLIT_PTS_H_SQL}),
    tr AS MATERIALIZED (
      SELECT f0, f1, f2, y FROM apts WHERE is_train = 1
    ),
    {_level_sql("tr", "", "ha")},
    {_gini_cand_sql("", "ha")},
    tr2 AS MATERIALIZED ({hop_root("tr", "hagb")}),
    {_level_sql("tr2", "node", "hb")},
    {_gini_cand_sql("node", "hb")},
    tr3 AS MATERIALIZED (
      SELECT p.f0, p.f1, p.f2, p.y,
             CAST(p.node * 2 + {_node_case("b.fid", "b.thr", "p")} AS BIGINT)
               AS n0
      FROM tr2 p
      JOIN (SELECT node, fid, thr FROM hbgb WHERE rn = 1) b ON b.node = p.node
    ),
    cell1 AS MATERIALIZED (
      SELECT n0, CAST(COUNT(*) AS BIGINT) AS nc, CAST(SUM(y) AS BIGINT) AS pc
      FROM tr3 GROUP BY n0
    ),
    trb AS MATERIALIZED (
      SELECT p.f0, p.f1, p.f2, p.n0, p.y AS y0,
             CAST(CASE WHEN p.y * c.nc - c.pc > 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS y
      FROM tr3 p JOIN cell1 c USING (n0)
    ),
    {_level_sql("trb", "", "hc")},
    {_gini_cand_sql("", "hc")},
    trb2 AS MATERIALIZED ({hop_root("trb", "hcgb")}),
    {_level_sql("trb2", "node", "hd")},
    {_gini_cand_sql("node", "hd")},
    trb3 AS MATERIALIZED (
      SELECT p.f0, p.f1, p.f2, p.n0, p.y0,
             CAST(p.node * 2 + {_node_case("b.fid", "b.thr", "p")} AS BIGINT)
               AS n1
      FROM trb2 p
      JOIN (SELECT node, fid, thr FROM hdgb WHERE rn = 1) b ON b.node = p.node
    ),
    cell2 AS MATERIALIZED (
      SELECT n0, n1, CAST(COUNT(*) AS BIGINT) AS nc,
             CAST(SUM(y0) AS BIGINT) AS pc
      FROM trb3 GROUP BY n0, n1
    ),
    trc AS MATERIALIZED (
      SELECT p.f0, p.f1, p.f2, p.n0, p.n1, p.y0,
             CAST(CASE WHEN p.y0 * c.nc - c.pc > 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS y
      FROM trb3 p JOIN cell2 c ON c.n0 = p.n0 AND c.n1 = p.n1
    ),
    {_level_sql("trc", "", "he")},
    {_gini_cand_sql("", "he")},
    trc2 AS MATERIALIZED ({hop_root("trc", "hegb")}),
    {_level_sql("trc2", "node", "hf")},
    {_gini_cand_sql("node", "hf")},
    trc3 AS MATERIALIZED (
      SELECT p.n0, p.n1, p.y0,
             CAST(p.node * 2 + {_node_case("b.fid", "b.thr", "p")} AS BIGINT)
               AS n2
      FROM trc2 p
      JOIN (SELECT node, fid, thr FROM hfgb WHERE rn = 1) b ON b.node = p.node
    ),
    cells AS MATERIALIZED (
      SELECT n0, n1, n2, CAST(COUNT(*) AS BIGINT) AS n_cell,
             CAST(SUM(y0) AS BIGINT) AS p_cell
      FROM trc3 GROUP BY n0, n1, n2
    ),
    hpts AS MATERIALIZED (
      SELECT f0, f1, f2, y FROM apts WHERE is_train = 0
    ),
    hh1 AS ({hop_root("hpts", "hagb")}),
    hh2 AS (
      SELECT h.f0, h.f1, h.f2, h.y,
             CAST(h.node * 2 + {_node_case("b.fid", "b.thr", "h")} AS BIGINT)
               AS n0
      FROM hh1 h
      JOIN (SELECT node, fid, thr FROM hbgb WHERE rn = 1) b ON b.node = h.node
    ),
    hh3 AS ({hop_root("hh2", "hcgb")}),
    hh4 AS (
      SELECT h.f0, h.f1, h.f2, h.y, h.n0,
             CAST(h.node * 2 + {_node_case("b.fid", "b.thr", "h")} AS BIGINT)
               AS n1
      FROM hh3 h
      JOIN (SELECT node, fid, thr FROM hdgb WHERE rn = 1) b ON b.node = h.node
    ),
    hh5 AS ({hop_root("hh4", "hegb")}),
    hh6 AS (
      SELECT h.y, h.n0, h.n1,
             CAST(h.node * 2 + {_node_case("b.fid", "b.thr", "h")} AS BIGINT)
               AS n2
      FROM hh5 h
      JOIN (SELECT node, fid, thr FROM hfgb WHERE rn = 1) b ON b.node = h.node
    )
    SELECT h.n0, h.n1, h.n2,
           CAST(COUNT(*) AS BIGINT) AS n_hold,
           CAST(SUM(h.y) AS BIGINT) AS n_hold_pos,
           CAST(CASE WHEN 2 * MIN(c.p_cell) > MIN(c.n_cell)
                THEN 1 ELSE 0 END AS BIGINT) AS predict,
           CAST(CASE WHEN 2 * MIN(c.p_cell) > MIN(c.n_cell)
                THEN SUM(h.y) ELSE COUNT(*) - SUM(h.y) END AS BIGINT)
             AS n_correct
    FROM hh6 h JOIN cells c ON c.n0 = h.n0 AND c.n1 = h.n1 AND c.n2 = h.n2
    GROUP BY h.n0, h.n1, h.n2
    """


@register(
    "gbt_3round_holdout_stats",
    oracle=_gbt3h_oracle(),
    doc="the GBT loop GENERALIZED and EVALUATED (VERDICT r15 #6): R=3 "
    "boosting rounds on the level-pass machinery — round 1 a depth-2 "
    "Gini tree on y over the md5 TRAIN bucket (the SAME deterministic "
    "12/16 split rule as train_val_test_split, keyed on o_orderkey), "
    "rounds 2-3 on the SIGN of the exact composite-cell residual "
    "(y·n_cell − p_cell over the cells of all prior trees — the "
    "additive-correction algebra of gbt_2round_leaf_stats telescopes "
    "to exactly the cell mean, so the R-round prediction is the final "
    "cell's TRAIN majority, cross-multiplied to the all-integer "
    "2·p_cell > n_cell). The trained model is a STAGED ARTIFACT "
    "(splits of all R·2 levels + final cell stats); serving walks "
    "each HOLDOUT row through R·2 broadcast-CASE hops (no shuffle, no "
    "retraining) and reads out PER CELL what training accuracy alone "
    "cannot show — the held-out eval: holdout size, holdout "
    "positives, the model's prediction, and the holdout-accuracy "
    "numerator. Cells no holdout row reaches (or that training never "
    "populated) drop symmetrically in both engines. VALUE-VERIFIED: "
    "the oracle replays split + ALL THREE trainings + the holdout "
    "walk end to end, so a wrong split in ANY round, a leaked train "
    "row, or a drifted residual class surfaces as a value mismatch; "
    "the brute-force differential (test_properties.py) runs on a "
    "fixture where the rounds genuinely DIVERGE (cells purify, the "
    "masked target moves the later trees), while on the catalog "
    "dataset no cell purifies, so rounds 2-3 reselect round 1's tree "
    "— the residual-sign fixed point documented in round 15, now "
    "VISIBLE as telemetry instead of a reason not to ship the "
    "machinery. All outputs exact integers.",
)
def gbt_3round_holdout_stats(spark: SparkSession, sf: str) -> DataFrame:
    from .round14 import _GBT_DEPTH

    model = _staged_gbt3h_model(spark, sf)
    splits = spark.read.parquet(os.path.join(model, "splits"))
    cells = F.broadcast(spark.read.parquet(os.path.join(model, "cells")))

    rows = (
        _split_pts_h(spark, sf)
        .filter(~F.col("is_train"))
        .select("f0", "f1", "f2", "y")
    )
    cur = rows
    for r in range(_GBT3_ROUNDS):
        rnd = F.broadcast(splits.filter(F.col("rnd") == r).drop("rnd"))
        cur = cur.withColumn("node", F.lit(1).cast("bigint"))
        for _ in range(_GBT_DEPTH):
            cur = (
                cur.join(rnd, "node")
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
        cur = cur.withColumnRenamed("node", f"n{r}")
    agg = cur.groupBy("n0", "n1", "n2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hold"),
        F.sum("y").cast("bigint").alias("n_hold_pos"),
    )
    pred = 2 * F.col("p_cell") > F.col("n_cell")
    return agg.join(cells, ["n0", "n1", "n2"]).select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        "n_hold",
        "n_hold_pos",
        F.when(pred, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("predict"),
        F.when(pred, F.col("n_hold_pos"))
        .otherwise(F.col("n_hold") - F.col("n_hold_pos"))
        .cast("bigint")
        .alias("n_correct"),
    )


# ---------------------------------------------------------------------------
# GDPR purge composed end to end across subsystems (VERDICT r15 #7)
# ---------------------------------------------------------------------------

_GDPR_VARIANT = "gdprdemo-v1"
#: the forget-set: purge_user_cascade's own predicate (negative-balance
#: AUTOMOBILE customers), reused verbatim so the relational and vector
#: halves cascade from ONE key set; customers whose c_custkey indexes a
#: profile embedding ({v} is the vec_id column) lose that vector too
_GDPR_FORGET_VEC = (
    "{v} IN (SELECT c_custkey FROM customer "
    "WHERE c_acctbal < 0 AND c_mktsegment = 'AUTOMOBILE')"
)


def _gdpr_oracle() -> str:
    """Replay BOTH halves: the relational cascade counts (the
    purge_user_cascade chain) and the vector store's post-purge state —
    physical rows after compaction (live minus forget) and the top-10
    ADC dot sum of a post-retrain search, via the shared IVF-PQ chain
    with the forget predicate applied BOTH as the serving mask and as
    the PQ TRAINING mask (pq_dead_where = the retrain_pq replay;
    retrain-after-compaction ≡ retrain-after-tombstone, test-pinned)."""
    from .round13 import _ivfpq_cte

    return f"""
    {_ivfpq_cte(nprobe=4, probe_id=0, dead_where=_GDPR_FORGET_VEC,
                pq_dead_where=_GDPR_FORGET_VEC)},
    top10 AS (
      SELECT adot FROM scored
      ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC, vec_id
      LIMIT 10
    ),
    forget AS (
      SELECT c_custkey FROM customer
      WHERE c_acctbal < 0 AND c_mktsegment = 'AUTOMOBILE'
    ),
    kept_orders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM forget)
    )
    SELECT 'customer_remaining' AS subsystem,
           (SELECT CAST(count(*) AS BIGINT) FROM customer
            WHERE c_custkey NOT IN (SELECT c_custkey FROM forget)) AS n
    UNION ALL
    SELECT 'orders_remaining',
           (SELECT CAST(count(*) AS BIGINT) FROM kept_orders)
    UNION ALL
    SELECT 'lineitem_remaining',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM kept_orders))
    UNION ALL
    SELECT 'ann_rows_physical',
           (SELECT CAST(count(*) AS BIGINT) FROM live
            WHERE NOT ({_GDPR_FORGET_VEC.format(v="vec_id")}))
    UNION ALL
    SELECT 'ann_top10_adot_sum',
           (SELECT CAST(SUM(adot) AS BIGINT) FROM top10)
    """


@register(
    "gdpr_purge_cascade_ann",
    oracle=_gdpr_oracle(),
    doc="the GDPR purge END TO END across subsystems (VERDICT r15 #7 — "
    "the audit story a 100 TB pipeline must tell): ONE forget-set "
    "(purge_user_cascade's negative-balance AUTOMOBILE customers) "
    "cascades through the relational chain customer → orders → "
    "lineitem (broadcast anti-joins, per-table surviving counts) AND "
    "through the vector store: the forget customers' profile "
    "embeddings (vec_id = c_custkey — the deterministic stand-in for "
    "the owner column a real corpus carries) are TOMBSTONED "
    "(delete_vectors — unservable immediately), physically removed "
    "(compact_tombstones — the data-level half; only affected list "
    "partitions rewrite), and the PQ codebooks RETRAINED from the "
    "compacted lists (the model-level half — the forget residuals "
    "stop shaping the model; compaction retires the stale PQ layer by "
    "format contract and ensure/train rebuilds it live-only, the "
    "retrain_pq ≡ retrain-after-compaction equivalence). Idempotent: "
    "the purged state is detected from the index itself (raw "
    "assignments hold no forget vector the source still has); the "
    "non-idempotent mutation is claim-gated. Readout: the per-table "
    "surviving counts, the index's physical row count, and the top-10 "
    "exact ADC dot sum of a post-purge search — the model-level "
    "values pinned into the audit row. VALUE-VERIFIED: the oracle "
    "replays the cascade AND the full build + live-only PQ train + "
    "masked search; a resurrected vector, an over-deleted list, or a "
    "codebook still shaped by forgotten residuals all surface as "
    "value mismatches.",
)
def gdpr_purge_cascade_ann(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import (
        _claimed,
        compact_tombstones,
        delete_vectors,
        ensure_pq,
        search_pq_by_id,
        train_pq,
    )

    def ensure():
        # also (re)trains the PQ layer from the CURRENT lists when the
        # previous layer was retired by compaction's format contract
        return ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS, variant=_GDPR_VARIANT)

    path = ensure()
    cust = load(spark, sf, "customer")
    forget = cust.filter(
        (F.col("c_acctbal") < 0) & (F.col("c_mktsegment") == "AUTOMOBILE")
    ).select("c_custkey")
    forget_vec = forget.select(F.col("c_custkey").cast("long").alias("vec_id"))
    apath = os.path.join(path, "assignments.parquet")
    to_purge = (
        spark.read.parquet(apath)
        .join(F.broadcast(forget_vec), "vec_id", "left_semi")
        .count()
    )
    def do_purge() -> None:
        delete_vectors(spark, path, forget_vec)
        compact_tombstones(spark, path)
        train_pq(spark, path, m=_PQ_M, ks=_PQ_KS)

    if to_purge:
        if not _claimed(path, "_gdpr_claim", do_purge):
            import time

            deadline = time.time() + 180.0
            while time.time() < deadline:
                if (
                    spark.read.parquet(apath)
                    .join(F.broadcast(forget_vec), "vec_id", "left_semi")
                    .count()
                    == 0
                ):
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent GDPR purge holder did not commit in 180s"
                )
        path = ensure()  # restore the PQ layer if a racer saw it retired

    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    kept_cust = cust.join(F.broadcast(forget), "c_custkey", "left_anti")
    kept_orders = orders.join(
        F.broadcast(forget),
        orders.o_custkey == forget.c_custkey,
        "left_anti",
    )
    purged_orders = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey")
    kept_li = li.join(
        F.broadcast(purged_orders),
        li.l_orderkey == purged_orders.o_orderkey,
        "left_anti",
    )
    ann_rows = spark.read.parquet(apath)
    top10_sum = search_pq_by_id(
        spark, path, probe_vec_id=0, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    ).agg(
        F.lit("ann_top10_adot_sum").alias("subsystem"),
        F.sum("adot").cast("bigint").alias("n"),
    )

    def counted(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("subsystem"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )

    return (
        counted(kept_cust, "customer_remaining")
        .unionByName(counted(kept_orders, "orders_remaining"))
        .unionByName(counted(kept_li, "lineitem_remaining"))
        .unionByName(counted(ann_rows, "ann_rows_physical"))
        .unionByName(top10_sum)
    )


# ---------------------------------------------------------------------------
# PQ-tier split readout: the inherited-codebook re-encode, value-verified
# ---------------------------------------------------------------------------

_PQSPLIT_VARIANT = "pqsplit-demo-v1"


def _ivfpq_split_oracle(k: int, nprobe: int) -> str:
    """Replay the FULL both-tiers split lifecycle: base build + PQ
    train + frozen assign/encode of the incoming batch (the shared
    ``_ivfpq_incr_cte``), the 2-means split trunk over the appended
    union (the shared ``_split_trunk_cte``), then the PQ tier's OWN
    post-split state — untouched lists keep their codes, the split
    list's rows RE-ENCODE against their child centroid with the
    parent's INHERITED codebook (duplicated under child B's id) — and
    an ADC search over the post-split centroid table, effective
    codebook, and code union."""
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE
    from .round13 import _l2_sql, _PQ_SUBD

    dot, score = _IVF_DOT, _IVF_SCORE
    m, subd = _PQ_M, _PQ_SUBD
    return f"""
    {_ivfpq_incr_cte()},
    {_split_trunk_cte()},
    allc AS (  -- pre-split code union: base codes + appended codes
      SELECT vec_id, cid, sub, code FROM penc
      UNION ALL
      SELECT vec_id, cid, sub, code FROM nenc
    ),
    childc AS (  -- the two children with their REAL ids
      SELECT CASE WHEN scid = 1 THEN (SELECT cid FROM hot)
                  ELSE (SELECT MAX(cid) FROM c1n) + 1 END AS cid, c8
      FROM sc1n
    ),
    sres AS MATERIALIZED (  -- split rows: residual vs CHILD centroid
      SELECT s.vec_id, s.cid,
             [s.q8[i] - c.c8[i] FOR i IN range(1, len(s.q8) + 1)] AS r
      FROM sb1 s JOIN childc c ON c.cid = s.cid
    ),
    srsub AS MATERIALIZED (
      SELECT vec_id, cid, s.s AS sub,
             list_slice(r, s.s * {subd} + 1, (s.s + 1) * {subd}) AS rs
      FROM sres, unnest(range(0, {m})) AS s(s)
    ),
    senc AS (  -- re-encode against the parent's INHERITED codebook
      SELECT vec_id, cid, sub, code FROM (
        SELECT r.vec_id, r.cid, r.sub, c.code,
               {_l2_sql("r.rs", "c.e")} AS d
        FROM srsub r
        JOIN pcb c ON c.cid = (SELECT cid FROM hot) AND c.sub = r.sub
      ) QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY d ASC, code ASC) = 1
    ),
    codes2 AS (  -- post-split codes: untouched lists + re-encoded split
      SELECT vec_id, cid, sub, code FROM allc
      WHERE cid <> (SELECT cid FROM hot)
      UNION ALL
      SELECT vec_id, cid, sub, code FROM senc
    ),
    cb2 AS (  -- post-split effective codebook (children inherit)
      SELECT cid, sub, code, e FROM pcb
      WHERE cid <> (SELECT cid FROM hot)
      UNION ALL
      SELECT ch.cid, c.sub, c.code, c.e
      FROM pcb c CROSS JOIN (SELECT cid FROM childc) ch
      WHERE c.cid = (SELECT cid FROM hot)
    ),
    sprobe AS (  -- probe: the split list's own smallest vector, so
      -- the readout runs THROUGH the re-encoded children
      SELECT vec_id, q8 FROM sl WHERE vec_id = (SELECT MIN(vec_id) FROM sl)
    ),
    spc AS (  -- probe ranking over the post-split centroid table
      SELECT cid FROM (
        SELECT c.cid, {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c2 c CROSS JOIN sprobe p
      ) ORDER BY score DESC, cid LIMIT {nprobe}
    ),
    sqsub AS (
      SELECT s.s AS sub,
             list_slice(p.q8, s.s * {subd} + 1, (s.s + 1) * {subd}) AS qs
      FROM sprobe p, unnest(range(0, {m})) AS s(s)
    ),
    sadc AS (
      SELECT c.cid, c.sub, c.code, {dot.format(a="q.qs", b="c.e")} AS t
      FROM cb2 c JOIN spc ON c.cid = spc.cid JOIN sqsub q ON q.sub = c.sub
    ),
    sbdot AS (
      SELECT c.cid, {dot.format(a="p.q8", b="c.c8")} AS bd
      FROM c2 c JOIN spc ON c.cid = spc.cid CROSS JOIN sprobe p
    ),
    pscored AS (
      SELECT e.vec_id, CAST(MIN(bd.bd) + SUM(a.t) AS BIGINT) AS adot,
             CAST(MIN(l.nrm) AS BIGINT) AS nrm
      FROM codes2 e
      JOIN sadc a ON a.cid = e.cid AND a.sub = e.sub AND a.code = e.code
      JOIN live l ON l.vec_id = e.vec_id
      JOIN sbdot bd ON bd.cid = e.cid
      CROSS JOIN sprobe p
      WHERE e.vec_id <> p.vec_id
      GROUP BY e.vec_id
    )
    SELECT CAST(row_number() OVER (
             ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC,
                      vec_id) AS INT) AS rnk,
           vec_id, adot
    FROM pscored
    ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC, vec_id
    LIMIT {k}
    """


@register(
    "ann_ivfpq_split_search_topk",
    oracle=_ivfpq_split_oracle(k=10, nprobe=4),
    doc="the PQ HALF of the list split, VALUE-VERIFIED (the int8 "
    "roundtrip pins the coarse tier; this pins 'both tiers move "
    "together'): a PRIVATE variant builds base + PQ layer, the "
    "incoming bucket appends into BOTH tiers (append_codes — the "
    "claim-gated insert-entry machinery), split_list splits the hot "
    "list, and the search serves from the POST-SPLIT PQ tier — probing "
    "with the split list's OWN smallest vector (its probed lists "
    "include a child — pytest-pinned), so the result depends on the "
    "children's INHERITED codebook (child A keeps the parent's id, "
    "child B duplicates it) and on the split rows' RE-ENCODED codes "
    "(residual vs their NEW child centroid, argmin over the inherited "
    "entries — the 'children inherit until the next retrain_pq' move "
    "that keeps the memory-budget tier servable with zero retraining "
    "at split time). VALUE-VERIFIED end to end: the oracle replays "
    "base build + PQ train + frozen assign/encode of the append + the "
    "2-means split trunk + the inherited-codebook re-encode + the ADC "
    "search over the post-split centroid table, effective codebook, "
    "and code union — a wrong child centroid, a non-inherited "
    "codebook, or a stale un-re-encoded code all surface as value "
    "mismatches.",
)
def ann_ivfpq_split_search_topk(spark: SparkSession, sf: str) -> DataFrame:
    import json

    from ..pipeline.ann_index import (
        _CENTROID_CACHE,
        _claimed,
        append_codes,
        assign_new,
        ensure_pq,
        search_pq_by_id,
        split_list,
    )
    from .retrieval_queries import _IVF_INCR_BASE
    from .round15 import _expected_incoming, _tier_counts_one_job

    pred = _IVF_INCR_BASE.format(t="string")
    not_base = ~F.expr(pred)

    def ensure():
        return ensure_pq(
            spark,
            sf,
            m=_PQ_M,
            ks=_PQ_KS,
            variant=_PQSPLIT_VARIANT,
            subset_pred=pred,
        )

    path = ensure()
    incoming = load(spark, sf, "embeddings").filter(not_base)
    expected = _expected_incoming(path, incoming)
    tier_counts = _tier_counts_one_job(spark, not_base, m=_PQ_M, ks=_PQ_KS)

    n_codes, n_assign = tier_counts(path)
    if n_assign != n_codes or n_assign not in (0, expected):
        publish.retire(path)
        _CENTROID_CACHE.pop(path, None)
        path = ensure()
        n_assign = 0
    if n_assign == 0:
        if not _claimed(
            path,
            "_pq_append_claim",
            lambda: append_codes(
                spark,
                path,
                assign_new(spark, path, incoming),
                m=_PQ_M,
                ks=_PQ_KS,
            ),
        ):
            import time

            deadline = time.time() + 180.0
            while time.time() < deadline:
                n_codes, n_assign = tier_counts(path)
                if n_codes == n_assign == expected:
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent append_codes holder did not commit in 180s"
                )

    def already_split() -> bool:
        with open(os.path.join(path, "meta.json")) as f:
            return bool(json.load(f).get("split_history"))

    def do_split() -> None:
        if already_split():
            return
        counts = (
            spark.read.parquet(os.path.join(path, "assignments.parquet"))
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        hot = min(
            int(r["centroid_id"])
            for r in counts
            if int(r["n"]) == max(int(x["n"]) for x in counts)
        )
        split_list(spark, path, hot)

    if not already_split():
        if not _claimed(path, "_split_claim", do_split):
            import time

            deadline = time.time() + 180.0
            while time.time() < deadline:
                if already_split():
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent split_list holder did not commit in 180s"
                )
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    hot = int(meta["split_history"][-1])
    new_cid = max(
        int(r["centroid_id"])
        for r in spark.read.parquet(os.path.join(path, "centroids.parquet"))
        .select("centroid_id")
        .collect()
    )
    # the pre-split hot list's rows are exactly those now under the two
    # children — its smallest vec_id is the oracle's MIN(vec_id) of sl
    probe_id = int(
        spark.read.parquet(os.path.join(path, "assignments.parquet"))
        .filter(F.col("centroid_id").isin([hot, new_cid]))
        .agg(F.min("vec_id"))
        .first()[0]
    )
    return search_pq_by_id(
        spark, path, probe_vec_id=probe_id, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


# ---------------------------------------------------------------------------
# Coarse-tier rebalance, the other direction: merge two cold lists
# ---------------------------------------------------------------------------

_MERGE_VARIANT = "mergedemo-v1"


def _merge_trunk_cte() -> str:
    """The SHARED merge replay trunk (coldest-two pick → merged
    centroid as one integer Lloyd update over the union → post-merge
    centroid table), composed by the int8 roundtrip oracle and the PQ
    merge oracle. Expects the build CTEs (live, c1n, b1) in scope;
    defines cold, keepd, ml, mel, msum, mc, mcn, c2."""
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE

    dot, score = _IVF_DOT, _IVF_SCORE
    return f"""
    cold AS (  -- the two coldest lists: min occupancy, ties to min cid
      SELECT cid FROM (SELECT cid, COUNT(*) AS n FROM b1 GROUP BY cid)
      ORDER BY n ASC, cid ASC LIMIT 2
    ),
    keepd AS (SELECT MIN(cid) AS keep FROM cold),
    ml AS MATERIALIZED (
      SELECT * FROM b1 WHERE cid IN (SELECT cid FROM cold)
    ),
    mel AS (  -- merged centroid: ONE integer Lloyd update over the union
      SELECT u.i AS i, q8[u.i] AS v
      FROM ml, unnest(range(1, len(q8) + 1)) AS u(i)
    ),
    msum AS (
      SELECT i, CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM mel GROUP BY i
    ),
    mc AS (
      SELECT list(CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS INT)
                  ORDER BY i) AS c8
      FROM msum
    ),
    mcn AS (
      SELECT c8, {dot.format(a="c8", b="c8")} AS cnrm FROM mc
    ),
    c2 AS (  -- post-merge centroid table
      SELECT cid, c8, cnrm FROM c1n WHERE cid NOT IN (SELECT cid FROM cold)
      UNION ALL
      SELECT (SELECT keep FROM keepd) AS cid, c8, cnrm FROM mcn
    )
    """


def _ivf_merge_oracle(k: int, nprobe: int, probe_id: int) -> str:
    """Replay the merge lifecycle: full build, coldest-two pick (min
    occupancy, ties to the smaller cid), the merged centroid as ONE
    integer Lloyd update over the union (floor(sum/count), the
    family's exact rule) under the surviving id min(a, b), and a
    search over the post-merge centroid table + assignments."""
    from .retrieval_queries import _ivf_int8_build_cte, _IVF_DOT, _IVF_SCORE

    dot, score = _IVF_DOT, _IVF_SCORE
    return f"""
    {_ivf_int8_build_cte(8)},
    {_merge_trunk_cte()},
    b2 AS (  -- post-merge assignments: the union under the survivor
      SELECT vec_id, q8, nrm, cid FROM b1
      WHERE cid NOT IN (SELECT cid FROM cold)
      UNION ALL
      SELECT vec_id, q8, nrm, (SELECT keep FROM keepd) AS cid FROM ml
    ),
    probe AS (SELECT q8 FROM live WHERE vec_id = {probe_id}),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid, {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c2 c CROSS JOIN probe p
      ) ORDER BY score DESC, cid LIMIT {nprobe}
    ),
    cand AS (
      SELECT b.vec_id, b.q8, b.nrm FROM b2 b JOIN pc ON b.cid = pc.cid
      WHERE b.vec_id <> {probe_id}
    ),
    mscored AS (
      SELECT c.vec_id,
             {dot.format(a="c.q8", b="p.q8")} AS dot,
             {score.format(a="c.q8", b="p.q8", n="c.nrm")} AS score
      FROM cand c CROSS JOIN probe p
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INT)
             AS rnk,
           vec_id, dot
    FROM mscored ORDER BY score DESC, vec_id LIMIT {k}
    """


@register(
    "ann_ivf_merge_lists_roundtrip",
    oracle=_ivf_merge_oracle(k=10, nprobe=4, probe_id=0),
    doc="the INVERSE rebalance, completing the coarse tier's "
    "maintenance pair (split_list handles append-driven hot lists; "
    "merge_lists handles the cold near-empty lists heavy deletes + "
    "compaction leave behind, whose per-probe fixed costs no longer "
    "buy recall): the two COLDEST lists of a private variant (min "
    "occupancy, ties to the smaller cid — the same occupancy table "
    "ann_ivf_index_stats serves) MERGE under the surviving id "
    "min(a, b), with the merged centroid computed as ONE integer "
    "Lloyd update over the union (floor(sum/count) — the family's "
    "exact, SQL-replayable rule) and membership the union BY "
    "CONSTRUCTION (a merge forces it; no assignment decision exists). "
    "A trained PQ layer re-encodes the union against the merged "
    "centroid with the SURVIVING list's codebook (pytest-pinned; the "
    "absorbed codebook retires with its id). Publish is split_list's "
    "hardlink-staged whole-index atomic swap — IO proportional to the "
    "two merged lists. The merge is claim-gated and idempotent "
    "(merge_history in meta). VALUE-VERIFIED: the oracle replays "
    "build + coldest-two pick + merged-centroid Lloyd update + the "
    "post-merge 7-centroid search end to end.",
)
def ann_ivf_merge_lists_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import json

    from ..pipeline.ann_index import (
        _claimed,
        ensure_index,
        merge_lists,
        search_by_id,
    )

    path = ensure_index(
        spark, sf, n_centroids=8, iters=1, variant=_MERGE_VARIANT
    )

    def already_merged() -> bool:
        with open(os.path.join(path, "meta.json")) as f:
            return bool(json.load(f).get("merge_history"))

    def do_merge() -> None:
        if already_merged():
            return
        counts = sorted(
            (int(r["n"]), int(r["centroid_id"]))
            for r in spark.read.parquet(
                os.path.join(path, "assignments.parquet")
            )
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        merge_lists(spark, path, counts[0][1], counts[1][1])

    if not already_merged():
        if not _claimed(path, "_merge_claim", do_merge):
            import time

            deadline = time.time() + 180.0
            while time.time() < deadline:
                if already_merged():
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent merge_lists holder did not commit in 180s"
                )
    return search_by_id(spark, path, probe_vec_id=0, k=10, nprobe=4)


# ---------------------------------------------------------------------------
# PQ-tier merge readout: the survivor-codebook re-encode, value-verified
# ---------------------------------------------------------------------------

_PQMERGE_VARIANT = "pqmerge-demo-v1"


def _ivfpq_merge_oracle(k: int, nprobe: int) -> str:
    """Replay the both-tiers merge: full build + PQ train (the shared
    ``_ivfpq_train_cte``), the coldest-two merge trunk, then the PQ
    tier's post-merge state — untouched lists keep their codes, the
    union's rows RE-ENCODE against the merged centroid with the
    SURVIVING list's codebook (the absorbed codebook retires with its
    id) — and an ADC search probing the merged list's own smallest
    vector over the post-merge centroid table, effective codebook, and
    code union."""
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE
    from .round13 import _ivfpq_train_cte, _l2_sql, _PQ_SUBD

    dot, score = _IVF_DOT, _IVF_SCORE
    m, subd = _PQ_M, _PQ_SUBD
    return f"""
    {_ivfpq_train_cte()},
    {_merge_trunk_cte()},
    mc8 AS (SELECT c8 FROM mcn),
    mres AS MATERIALIZED (  -- union rows: residual vs the MERGED centroid
      SELECT l.vec_id,
             [l.q8[i] - c.c8[i] FOR i IN range(1, len(l.q8) + 1)] AS r
      FROM ml l CROSS JOIN mc8 c
    ),
    mrsub AS MATERIALIZED (
      SELECT vec_id, s.s AS sub,
             list_slice(r, s.s * {subd} + 1, (s.s + 1) * {subd}) AS rs
      FROM mres, unnest(range(0, {m})) AS s(s)
    ),
    menc AS (  -- re-encode against the SURVIVOR's codebook
      SELECT vec_id, sub, code FROM (
        SELECT r.vec_id, r.sub, c.code, {_l2_sql("r.rs", "c.e")} AS d
        FROM mrsub r
        JOIN pcb c ON c.cid = (SELECT keep FROM keepd) AND c.sub = r.sub
      ) QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY d ASC, code ASC) = 1
    ),
    mcodes2 AS (  -- post-merge codes
      SELECT vec_id, cid, sub, code FROM penc
      WHERE cid NOT IN (SELECT cid FROM cold)
      UNION ALL
      SELECT vec_id, (SELECT keep FROM keepd) AS cid, sub, code FROM menc
    ),
    mcb2 AS (  -- post-merge codebook: the absorbed id's entries retire
      SELECT cid, sub, code, e FROM pcb
      WHERE cid NOT IN (SELECT cid FROM cold) OR cid = (SELECT keep FROM keepd)
    ),
    mprobe AS (  -- the merged list's own smallest vector
      SELECT vec_id, q8 FROM ml WHERE vec_id = (SELECT MIN(vec_id) FROM ml)
    ),
    mpc AS (
      SELECT cid FROM (
        SELECT c.cid, {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c2 c CROSS JOIN mprobe p
      ) ORDER BY score DESC, cid LIMIT {nprobe}
    ),
    mqsub AS (
      SELECT s.s AS sub,
             list_slice(p.q8, s.s * {subd} + 1, (s.s + 1) * {subd}) AS qs
      FROM mprobe p, unnest(range(0, {m})) AS s(s)
    ),
    madc AS (
      SELECT c.cid, c.sub, c.code, {dot.format(a="q.qs", b="c.e")} AS t
      FROM mcb2 c JOIN mpc ON c.cid = mpc.cid JOIN mqsub q ON q.sub = c.sub
    ),
    mbdot AS (
      SELECT c.cid, {dot.format(a="p.q8", b="c.c8")} AS bd
      FROM c2 c JOIN mpc ON c.cid = mpc.cid CROSS JOIN mprobe p
    ),
    mpscored AS (
      SELECT e.vec_id, CAST(MIN(bd.bd) + SUM(a.t) AS BIGINT) AS adot,
             CAST(MIN(l.nrm) AS BIGINT) AS nrm
      FROM mcodes2 e
      JOIN madc a ON a.cid = e.cid AND a.sub = e.sub AND a.code = e.code
      JOIN live l ON l.vec_id = e.vec_id
      JOIN mbdot bd ON bd.cid = e.cid
      CROSS JOIN mprobe p
      WHERE e.vec_id <> p.vec_id
      GROUP BY e.vec_id
    )
    SELECT CAST(row_number() OVER (
             ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC,
                      vec_id) AS INT) AS rnk,
           vec_id, adot
    FROM mpscored
    ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC, vec_id
    LIMIT {k}
    """


@register(
    "ann_ivfpq_merge_search_topk",
    oracle=_ivfpq_merge_oracle(k=10, nprobe=4),
    doc="the PQ HALF of the list merge, VALUE-VERIFIED — the merge "
    "twin of ann_ivfpq_split_search_topk, so BOTH coarse-tier "
    "maintenance actions are hash-verified on BOTH tiers: a PRIVATE "
    "variant builds the full index + PQ layer, the two COLDEST lists "
    "merge under the surviving id (merge_lists — the union's rows "
    "re-encode against the MERGED centroid with the SURVIVING list's "
    "codebook; the absorbed codebook retires with its id), and the "
    "search probes the merged list's OWN smallest vector, so the "
    "result depends on the survivor codebook and the re-encoded "
    "codes. VALUE-VERIFIED end to end: the oracle replays build + PQ "
    "train + coldest-two pick + merged-centroid Lloyd update + the "
    "survivor-codebook re-encode + the post-merge ADC readout — a "
    "wrong merged centroid, a surviving absorbed codebook, or a stale "
    "un-re-encoded code all surface as value mismatches.",
)
def ann_ivfpq_merge_search_topk(spark: SparkSession, sf: str) -> DataFrame:
    import json

    from ..pipeline.ann_index import (
        _claimed,
        ensure_pq,
        merge_lists,
        search_pq_by_id,
    )

    path = ensure_pq(
        spark, sf, m=_PQ_M, ks=_PQ_KS, variant=_PQMERGE_VARIANT
    )

    def merge_hist():
        with open(os.path.join(path, "meta.json")) as f:
            return json.load(f).get("merge_history")

    def do_merge() -> None:
        if merge_hist():
            return
        counts = sorted(
            (int(r["n"]), int(r["centroid_id"]))
            for r in spark.read.parquet(
                os.path.join(path, "assignments.parquet")
            )
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        merge_lists(spark, path, counts[0][1], counts[1][1])

    if not merge_hist():
        if not _claimed(path, "_merge_claim", do_merge):
            import time

            deadline = time.time() + 180.0
            while time.time() < deadline:
                if merge_hist():
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent merge_lists holder did not commit in 180s"
                )
    keep = int(merge_hist()[-1][0])
    probe_id = int(
        spark.read.parquet(os.path.join(path, "assignments.parquet"))
        .filter(F.col("centroid_id") == keep)
        .agg(F.min("vec_id"))
        .first()[0]
    )
    return search_pq_by_id(
        spark, path, probe_vec_id=probe_id, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )
