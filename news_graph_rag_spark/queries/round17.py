"""Round-17 catalog extensions.

Index lifecycle COMPLETED on both subsystems: the coarse quantizer's
GLOBAL RETRAIN (``ann_ivf_retrain_quantizer_roundtrip`` /
``ann_ivfpq_retrain_quantizer_search_topk`` — the slow-cadence action
``split_list``'s degenerate-case error promises, k-means over live
rows + full re-assign + PQ retrain in one atomic swap; VERDICT r16
#1), small-file COMPACTION for appended lists
(``ann_ivfpq_compact_files_search_topk`` — the first janitor a
streaming deployment runs; VERDICT r16 #3), and the TOKEN INDEX grown
into a long-lived object (VERDICT r16 #2): incremental posting
appends make a STREAMED document keyword-servable with no rebuild
(``streaming_fulltext_ingest_search``) and the GDPR purge finally
reaches the posting lists (``gdpr_purge_postings_cascade``).
Retrieval: the batched E3 lifecycle composed END TO END
(``hybrid_batch_expand_topk`` — fusion + graph expansion + map
projection, Q queries in one job; VERDICT r16 #4). Telemetry: the
recall-driven serving-parameter sweep
(``ann_ivfpq_nprobe_recall_sweep`` — recall@10 for nprobe ∈ {2,4,8}
off ONE pruned codes scan; VERDICT r16 #6) and the same sweep read
where it operationally matters, off the retrained geometry
(``ann_ivfpq_recall_sweep_post_retrain``). Capstone:
``streaming_hybrid_ingest_search`` — ONE streamed write lands in BOTH
lifecycle indexes through a single foreachBatch sink and is
immediately servable by the FUSED hybrid request, the reference's
actual serving shape. The janitor symmetry is complete too:
``retrieval.token_index.compact_bucket_files`` is the posting-bucket
twin of ``compact_list_files``, and the ops CLI gained
``index retrain`` / ``index compact-files``.

Appended as the LAST module in queries/__init__.py's pinned
``_ROUND_MODULES`` order (first-50 driver prefix + full-order manifest
both test-frozen).

Determinism per catalog.py's rules: every output column is an exact
integer; rank comparisons are IEEE doubles produced by identical
expression trees on exact integers in both engines with total integer
tie-breaks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import publish
from ..localrel import local_rel
from .catalog import load, register
from .round13 import _PQ_KS, _PQ_M

# ---------------------------------------------------------------------------
# Coarse-quantizer GLOBAL RETRAIN (VERDICT r16 #1)
# ---------------------------------------------------------------------------

_RTQ_VARIANT = "retrainq-demo-v1"


def _ensure_retrained(spark: SparkSession, sf: str) -> str:
    """Shared state machine for the two retrain entries: a PRIVATE
    variant PQ index built over the md5 base subset, the remaining
    embeddings appended under the frozen quantizer (the drift), then
    ``retrain_quantizer`` — full re-cluster + re-assign + PQ retrain,
    one atomic swap. Idempotent: the retrained state is detected from
    meta.json's retrain_history plus a both-tiers total-count check
    (a torn predecessor heals by retire + rebuild); the non-idempotent
    append+retrain section is claim-gated with the family's verified
    release, and a loser waits for the winner's commit."""
    import json as _json

    from ..pipeline.ann_index import (
        _CENTROID_CACHE,
        _claimed,
        append_codes,
        assign_new,
        ensure_pq,
        retrain_quantizer,
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
            variant=_RTQ_VARIANT,
            subset_pred=pred,
        )

    path = ensure()
    emb = load(spark, sf, "embeddings")
    incoming = emb.filter(not_base)
    exp_inc = _expected_incoming(path, incoming)
    exp_total = _expected_incoming(path, emb, salt="total")
    inc_counts = _tier_counts_one_job(spark, not_base, m=_PQ_M, ks=_PQ_KS)
    all_counts = _tier_counts_one_job(spark, F.lit(True), m=_PQ_M, ks=_PQ_KS)

    def retrained() -> bool:
        with open(os.path.join(path, "meta.json")) as f:
            return bool(_json.load(f).get("retrain_history"))

    if retrained():
        nc, na = all_counts(path)
        if nc == na == exp_total:
            return path  # warm: serve directly
        # a torn retrain publish can't exist (atomic swap), so this is
        # a post-retrain append gone wrong — rebuild from scratch
        publish.retire(path)
        _CENTROID_CACHE.pop(path, None)
        path = ensure()
    n_codes, n_assign = inc_counts(path)
    if n_assign != n_codes or n_assign not in (0, exp_inc):
        publish.retire(path)
        _CENTROID_CACHE.pop(path, None)
        path = ensure()

    def do_all() -> None:
        if retrained():
            return  # the previous owner committed between check+claim
        nc, na = inc_counts(path)
        if na == nc == 0:
            append_codes(
                spark,
                path,
                assign_new(spark, path, incoming),
                m=_PQ_M,
                ks=_PQ_KS,
            )
        elif not (na == nc == exp_inc):
            raise RuntimeError(
                "torn append observed under the retrain claim; rerun to "
                "heal (pre-claim count check repairs it)"
            )
        retrain_quantizer(spark, path, n_centroids=8, iters=1)

    if not retrained():
        if not _claimed(path, "_retrain_claim", do_all):
            import time

            deadline = time.time() + 300.0
            while time.time() < deadline:
                if retrained():
                    nc, na = all_counts(path)
                    if nc == na == exp_total:
                        break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent retrain holder did not commit in 300s"
                )
    return path


def _rtq_int8_oracle() -> str:
    from .retrieval_queries import _ivf_int8_oracle

    # retrain_quantizer(appended variant) ≡ build_and_save over the
    # FULL table (differential-pinned in tests/test_pipeline.py): the
    # retrain re-runs the build's seed rule, integer Lloyd round and
    # final assignment on the index's own stored q8/nrm rows, which
    # equal quantize(embeddings) by construction — so the oracle IS
    # the existing full-build replay, no new SQL surface to drift.
    return _ivf_int8_oracle(n_centroids=8, nprobe=4, k=10, probe_id=13)


@register(
    "ann_ivf_retrain_quantizer_roundtrip",
    oracle=_rtq_int8_oracle(),
    doc="coarse-quantizer GLOBAL RETRAIN closed (VERDICT r16 #1 — the "
    "slow-cadence action split_list's own degenerate-case error "
    "message promises, and the last missing verb of the index-as-"
    "long-lived-object story; reference graph.py:211-219 under a "
    "changing corpus): a PRIVATE variant builds over the md5 base "
    "subset, the remaining embeddings APPEND under the frozen "
    "quantizer (sustained drift — the state accumulated local "
    "splits only approximate), then retrain_quantizer re-clusters "
    "from scratch over the LIVE rows (k-means with the family's "
    "exact seed/Lloyd discipline on the index's own stored int8 "
    "rows), re-assigns every vector, retrains every PQ layer "
    "against the new residuals, and publishes ONE hardlink-staged "
    "atomic whole-index swap; meta records retrain_history. The "
    "entry then serves an int8 search from the retrained index. "
    "VALUE-VERIFIED via the retrain ≡ rebuild equivalence: the "
    "retrain operates on stored quantities equal to "
    "quantize(embeddings), so the retrained index is bit-for-bit "
    "the from-scratch full build (differential-pinned in pytest, "
    "including both tiers), and the oracle replays the EXISTING "
    "full-build CTE + search — a stale centroid, a skipped "
    "re-assign, or a PQ layer still trained on pre-drift residuals "
    "all surface as value mismatches.",
)
def ann_ivf_retrain_quantizer_roundtrip(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..pipeline.ann_index import search_by_id

    path = _ensure_retrained(spark, sf)
    return search_by_id(spark, path, probe_vec_id=13, k=10, nprobe=4)


def _rtq_pq_oracle() -> str:
    from .round13 import _ivfpq_oracle

    return _ivfpq_oracle(k=10, nprobe=4, probe_id=6)


@register(
    "ann_ivfpq_retrain_quantizer_search_topk",
    oracle=_rtq_pq_oracle(),
    doc="the PQ HALF of the quantizer retrain, VALUE-VERIFIED — "
    "retrain_quantizer retrains every trained PQ layer against the "
    "NEW coarse residuals inside the same staged build (codebooks "
    "re-seeded from the new lists' ks smallest vec_ids, one integer "
    "Lloyd round, full re-encode), so the memory-budget tier serves "
    "the post-retrain geometry immediately — no separate retrain_pq "
    "pass, no window where codes score against centroids that no "
    "longer exist. Same variant and state machine as the int8 "
    "roundtrip (one retrain serves both entries). The oracle is the "
    "EXISTING full-table IVF-PQ replay (build + PQ train + ADC "
    "search) via the retrain ≡ rebuild equivalence — an inherited "
    "pre-drift codebook or a stale un-re-encoded code surfaces as a "
    "value mismatch.",
)
def ann_ivfpq_retrain_quantizer_search_topk(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..pipeline.ann_index import search_pq_by_id

    path = _ensure_retrained(spark, sf)
    return search_pq_by_id(
        spark, path, probe_vec_id=6, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


# ---------------------------------------------------------------------------
# Small-file compaction for appended lists (VERDICT r16 #3)
# ---------------------------------------------------------------------------

_FCOMP_VARIANT = "filecompact-demo-v1"
_FCOMP_DONE = "_fcompact_done"


def _fcomp_oracle() -> str:
    from .round15 import _ivfpq_insert_oracle

    # file compaction is VALUE-NEUTRAL by contract: the oracle is the
    # insert-search replay (base build + frozen assign/encode of the
    # appended rows, served over the union) probing the LARGEST
    # inserted vector — compaction that dropped, duplicated, or
    # altered any row surfaces as a value mismatch here.
    return _ivfpq_insert_oracle(
        k=10, nprobe=4, probe_sel="(SELECT MAX(vec_id) FROM incoming)"
    )


@register(
    "ann_ivfpq_compact_files_search_topk",
    oracle=_fcomp_oracle(),
    doc="small-file COMPACTION for appended inverted lists (VERDICT "
    "r16 #3 — append_codes/streaming_codes_append land every "
    "(micro-)batch as NEW partition files in both tiers by design, "
    "so at streaming cadence file count grows linearly and listing + "
    "task-scheduling overhead grows with it at 100 TB): a PRIVATE "
    "variant builds over the md5 base subset, the remaining "
    "embeddings append in THREE sub-batches (vec_id % 3 — the "
    "fragmentation a micro-batch cadence produces), then "
    "compact_list_files bin-packs every over-fragmented list back to "
    "ceil(bytes/target) files in BOTH tiers — untouched lists carry "
    "as hardlinks (IO ∝ the fragmented lists, never the index), "
    "publish is the staged atomic whole-index swap, and the file "
    "count provably drops (pytest-pinned, alongside bit-equal "
    "before/after searches). The entry then serves probing the "
    "LARGEST inserted vector. VALUE-VERIFIED: compaction is value-"
    "neutral by contract, so the oracle replays base build + frozen "
    "assign + frozen encode + union serving — a row dropped, "
    "duplicated, or altered by the rewrite surfaces as a mismatch.",
)
def ann_ivfpq_compact_files_search_topk(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..pipeline.ann_index import (
        _CENTROID_CACHE,
        _claimed,
        append_codes,
        assign_new,
        compact_list_files,
        ensure_pq,
        search_pq_by_id,
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
            variant=_FCOMP_VARIANT,
            subset_pred=pred,
        )

    path = ensure()
    incoming = load(spark, sf, "embeddings").filter(not_base)
    expected = _expected_incoming(path, incoming)
    tier_counts = _tier_counts_one_job(spark, not_base, m=_PQ_M, ks=_PQ_KS)

    def done() -> bool:
        return os.path.exists(os.path.join(path, _FCOMP_DONE))

    n_codes, n_assign = tier_counts(path)
    if n_assign != n_codes or n_assign not in (0, expected):
        publish.retire(path)
        _CENTROID_CACHE.pop(path, None)
        path = ensure()
        n_assign = n_codes = 0

    def do_all() -> None:
        if done():
            return
        nc, na = tier_counts(path)
        if na == nc == 0:
            # three micro-batch-shaped appends: each lands new files
            # inside its inverted-list/code partitions — the
            # fragmentation pattern the janitor exists for
            for b in range(3):
                append_codes(
                    spark,
                    path,
                    assign_new(
                        spark,
                        path,
                        incoming.filter(
                            F.pmod(F.col("vec_id"), F.lit(3)) == b
                        ),
                    ),
                    m=_PQ_M,
                    ks=_PQ_KS,
                )
        elif not (na == nc == expected):
            raise RuntimeError(
                "torn append observed under the compaction claim; rerun "
                "to heal"
            )
        compact_list_files(spark, path, target_file_mb=32.0)
        # the done-sentinel (carried across future swaps like every
        # non-table file) marks compaction rather than re-deriving it
        # from file counts, which a already-compact list set can't
        open(os.path.join(path, _FCOMP_DONE), "w").close()

    if not (done() and n_assign == expected):
        if not _claimed(path, "_fcompact_claim", do_all):
            import time

            deadline = time.time() + 300.0
            while time.time() < deadline:
                nc, na = tier_counts(path)
                if done() and nc == na == expected:
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent compaction holder did not commit in 300s"
                )
    probe_id = int(
        spark.read.parquet(os.path.join(path, "assignments.parquet"))
        .filter(not_base)
        .agg(F.max("vec_id"))
        .first()[0]
    )
    return search_pq_by_id(
        spark, path, probe_vec_id=probe_id, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


# ---------------------------------------------------------------------------
# Streaming → keyword index: a streamed document is hybrid-servable
# (VERDICT r16 #2a)
# ---------------------------------------------------------------------------

_STREAMTOK_VARIANT = "streamtok-demo-v1"
_STREAMTOK_N_BATCHES = 3
#: the base/incoming split on DOCUMENTS — the doc-side twin of
#: _IVF_INCR_BASE: ~3/4 of documents index offline, the md5-bucket
#: remainder arrives as a stream
_TOK_INCR_BASE = (
    "substr(md5(CAST(doc_id AS {t})), 1, 1) NOT IN ('0', '1', '2', '3')"
)

_EXPECTED_POSTINGS_CACHE: "dict[str, int]" = {}


def _expected_postings(path: str, docs: DataFrame, buckets: int) -> int:
    """Committed-append posting count (distinct (doc, token) pairs of
    the incoming documents), cached per variant path like
    _expected_incoming."""
    from ..retrieval.token_index import _postings_of

    n = _EXPECTED_POSTINGS_CACHE.get(path)
    if n is None:
        n = _postings_of(docs, buckets).count()
        _EXPECTED_POSTINGS_CACHE[path] = n
    return int(n)


def _streamtok_oracle() -> str:
    from .retrieval_queries import _HYBRID_MAX_DF, _KEYWORDS

    kw = ", ".join(f"'{k}'" for k in _KEYWORDS)
    base = _TOK_INCR_BASE.format(t="VARCHAR")
    return f"""
    WITH tok AS (
      SELECT doc_id, t.token AS token, CAST(count(*) AS BIGINT) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      WHERE t.token <> ''
      GROUP BY doc_id, t.token
    ),
    tdf AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
    cand AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS kw_score
      FROM tok JOIN tdf USING (token)
      WHERE token IN ({kw}) AND tdf.df <= {_HYBRID_MAX_DF}
      GROUP BY doc_id
    )
    SELECT doc_id, kw_score,
           CAST(row_number() OVER (ORDER BY kw_score DESC, doc_id) AS INT)
             AS rnk,
           CAST(CASE WHEN {base} THEN 0 ELSE 1 END AS BIGINT) AS is_streamed
    FROM cand
    QUALIFY rnk <= 15
    """


@register(
    "streaming_fulltext_ingest_search",
    oracle=_streamtok_oracle(),
    doc="STREAMING → KEYWORD-INDEX integration (VERDICT r16 #2a — "
    "round 16 made a streamed document ANN-servable immediately, but "
    "it stayed invisible to keyword/hybrid retrieval until a full "
    "token-index rebuild; reference graph.py:197-209: Neo4j maintains "
    "fulltext indexes continuously on every write): a PRIVATE "
    "lifecycle token index (retrieval/token_index.py — postings "
    "partitioned by crc32 bucket, df derived at query time so appends "
    "never invalidate a materialized column) builds over the md5 base "
    "documents; the remaining documents replay as THREE ordered "
    "micro-batches through streaming_postings_append (foreachBatch → "
    "append_postings: each batch tokenizes map-side and lands its "
    "(token, doc_id, tf) rows as NEW files inside their bucket "
    "partitions — nothing rewrites). The entry then serves a keyword "
    "top-15 ENTIRELY from the index (bucket-pruned scan, window df "
    "cap, exact tf-sum scores) with an is_streamed marker — streamed "
    "documents rank in the same readout as base ones the moment their "
    "batch commits. Claim-gated + posting-count torn/duplicate "
    "detection (the append_codes discipline applied to postings; the "
    "stream checkpoint lives inside the index dir so a heal clears "
    "it). VALUE-VERIFIED: micro-batching cannot change the final "
    "posting set (the union is order-free), so the oracle tokenizes "
    "ALL documents and replays df cap + tf-sum ranking — a lost or "
    "duplicated micro-batch surfaces as a value mismatch.",
)
def streaming_fulltext_ingest_search(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..pipeline.ann_index import _claimed
    from ..retrieval.token_index import (
        ensure_postings,
        postings,
        search_keywords,
    )
    from ..streaming.ingest_stream import streaming_postings_append
    from .python_ops import _replay_shuffle_partitions, _stage_ordered_batches
    from .retrieval_queries import _HYBRID_MAX_DF, _KEYWORDS

    pred = _TOK_INCR_BASE.format(t="string")
    not_base = ~F.expr(pred)

    def ensure():
        return ensure_postings(
            spark, sf, variant=_STREAMTOK_VARIANT, subset_pred=pred
        )

    path = ensure()
    docs = load(spark, sf, "documents")
    incoming = docs.filter(not_base)
    expected = _expected_postings(path, incoming, buckets=16)

    def n_streamed(p: str) -> int:
        return postings(spark, p).filter(not_base).count()

    n_in = n_streamed(path)
    if n_in not in (0, expected):
        publish.retire(path)  # torn or replayed epoch: rebuild
        path = ensure()
        n_in = 0

    def do_stream() -> None:
        if n_streamed(path) == expected:
            return
        n = _STREAMTOK_N_BATCHES
        src = _stage_ordered_batches(
            lambda: [
                incoming.filter(F.pmod(F.col("doc_id"), F.lit(n)) == b)
                for b in range(n)
            ],
            sf,
            kind=f"tokstream_b{n}",
            src_table="documents.parquet",
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with _replay_shuffle_partitions(spark):
            q = streaming_postings_append(
                stream, path, os.path.join(path, "_stream_ckpt")
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "posting stream did not drain in 300s; index left for "
                    "the next invocation's torn-state heal"
                )

    if n_in == 0:
        if not _claimed(path, "_stream_tok_claim", do_stream):
            import time

            deadline = time.time() + 300.0
            while time.time() < deadline:
                if n_streamed(path) == expected:
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent posting-stream holder did not commit in 300s"
                )
    hits = search_keywords(
        spark, path, list(_KEYWORDS), k=15, max_df=_HYBRID_MAX_DF
    )
    return hits.select(
        "doc_id",
        "kw_score",
        "rnk",
        F.when(F.expr(pred), F.lit(0))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("is_streamed"),
    )


# ---------------------------------------------------------------------------
# GDPR purge reaches the posting lists (VERDICT r16 #2b)
# ---------------------------------------------------------------------------

#: the variant holds the SAME forget-set as gdpr_purge_cascade_ann
#: (purge_user_cascade's negative-balance AUTOMOBILE customers), linked
#: to documents by doc_id = c_custkey (the family's deterministic
#: stand-in for the owner column a real corpus carries)
_GDPRTOK_VARIANT = "gdprtok-demo-v1"


def _gdprtok_oracle() -> str:
    from .retrieval_queries import _HYBRID_MAX_DF, _KEYWORDS

    kw = ", ".join(f"'{k}'" for k in _KEYWORDS)
    return f"""
    WITH forget AS (
      SELECT c_custkey FROM customer
      WHERE c_acctbal < 0 AND c_mktsegment = 'AUTOMOBILE'
    ),
    tok AS (
      SELECT doc_id, t.token AS token, CAST(count(*) AS BIGINT) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      WHERE t.token <> ''
        AND doc_id NOT IN (SELECT c_custkey FROM forget)
      GROUP BY doc_id, t.token
    ),
    tdf AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
    cand AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS kw_score
      FROM tok JOIN tdf USING (token)
      WHERE token IN ({kw}) AND tdf.df <= {_HYBRID_MAX_DF}
      GROUP BY doc_id
    ),
    top10 AS (
      SELECT kw_score FROM cand ORDER BY kw_score DESC, doc_id LIMIT 10
    )
    SELECT 'postings_rows_physical' AS subsystem,
           (SELECT CAST(count(*) AS BIGINT) FROM tok) AS n
    UNION ALL
    SELECT 'docs_servable',
           (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM tok)
    UNION ALL
    SELECT 'kw_top10_score_sum',
           (SELECT CAST(SUM(kw_score) AS BIGINT) FROM top10)
    """


@register(
    "gdpr_purge_postings_cascade",
    oracle=_gdprtok_oracle(),
    doc="the GDPR purge reaches the POSTING LISTS (VERDICT r16 #2b — "
    "gdpr_purge_cascade_ann purged the relational chain and the "
    "vector store, but a forgotten document's tokens stayed servable "
    "from the keyword index; reference graph.py:197-209: Neo4j's "
    "fulltext indexes forget a deleted node automatically): the SAME "
    "forget-set (negative-balance AUTOMOBILE customers, doc_id = "
    "c_custkey linkage) is TOMBSTONED out of keyword serving "
    "immediately (delete_doc_postings — broadcast anti-join at serve "
    "time) and physically removed by compact_doc_tombstones, which "
    "rewrites ONLY the crc32 buckets actually holding a forgotten "
    "doc's postings (hardlink carry for the rest, staged atomic "
    "whole-index swap, purge_history in meta). Idempotent: the purged "
    "state is detected from the index itself; the mutation is "
    "claim-gated. Readout: physical posting rows, servable distinct "
    "docs, and the top-10 keyword score sum post-purge — the audit "
    "numbers pinned as exact integers. VALUE-VERIFIED: the oracle "
    "tokenizes documents MINUS the forget-set and replays the "
    "readout — a resurrected posting, an over-deleted bucket, or a "
    "stale df cap all surface as value mismatches.",
)
def gdpr_purge_postings_cascade(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import _claimed
    from ..retrieval.token_index import (
        compact_doc_tombstones,
        delete_doc_postings,
        ensure_postings,
        postings,
        search_keywords,
    )
    from .retrieval_queries import _HYBRID_MAX_DF, _KEYWORDS

    path = ensure_postings(spark, sf, variant=_GDPRTOK_VARIANT)
    cust = load(spark, sf, "customer")
    forget = cust.filter(
        (F.col("c_acctbal") < 0) & (F.col("c_mktsegment") == "AUTOMOBILE")
    ).select(F.col("c_custkey").cast("long").alias("doc_id"))

    to_purge = (
        postings(spark, path)
        .join(F.broadcast(forget), "doc_id", "left_semi")
        .count()
    )

    def do_purge() -> None:
        delete_doc_postings(spark, path, forget)
        compact_doc_tombstones(spark, path)

    if to_purge:
        if not _claimed(path, "_gdpr_tok_claim", do_purge):
            import time

            deadline = time.time() + 180.0
            while time.time() < deadline:
                if (
                    postings(spark, path)
                    .join(F.broadcast(forget), "doc_id", "left_semi")
                    .count()
                    == 0
                ):
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent posting purge holder did not commit in 180s"
                )

    rows = postings(spark, path)
    top10 = search_keywords(
        spark, path, list(_KEYWORDS), k=10, max_df=_HYBRID_MAX_DF
    )
    return (
        rows.agg(
            F.lit("postings_rows_physical").alias("subsystem"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .unionByName(
            rows.agg(
                F.lit("docs_servable").alias("subsystem"),
                F.count_distinct("doc_id").cast("bigint").alias("n"),
            )
        )
        .unionByName(
            top10.agg(
                F.lit("kw_top10_score_sum").alias("subsystem"),
                F.sum("kw_score").cast("bigint").alias("n"),
            )
        )
    )


# ---------------------------------------------------------------------------
# Batched E3 end-to-end: fusion + expansion + map projection
# (VERDICT r16 #4)
# ---------------------------------------------------------------------------


def _hbe_oracle() -> str:
    from .round16 import _hybrid_batch_oracle

    # the fused batch replay IS the round-16 oracle — wrap it as a CTE
    # and append the expansion join + map projection
    # (vector_index.ipynb raw 121-138), exactly what the Spark side
    # composes on the helper's output
    return f"""
    WITH hb AS ({_hybrid_batch_oracle()})
    SELECT hb.probe_id, hb.doc_id, hb.rnk,
           'Source: ' || d.source || ' | Text: ' || substr(d.text, 1, 80)
             AS context,
           d.source, d.lang
    FROM hb JOIN documents d ON d.doc_id = hb.doc_id
    """


@register(
    "hybrid_batch_expand_topk",
    oracle=_hbe_oracle(),
    doc="the production RAG request composed END TO END, batched "
    "(VERDICT r16 #4 — hybrid_batch_indexed_topk stopped at fusion; "
    "the reference lifecycle continues through graph expansion and "
    "the text+metadata map projection, vector_index.ipynb raw "
    "121-138): Q concurrent queries ride the round-16 fused chain "
    "UNCHANGED (one partition-pruned assignments scan + one "
    "partition-pruned token-index scan regardless of Q, per-query "
    "max-norm fusion, probe_id-partitioned windows), then the "
    "per-query top-k hit set — Q·k rows, tiny by construction — "
    "BROADCASTS into the expansion join back to documents (J4) and "
    "projects the composed context string plus source/lang metadata "
    "(P5/P6), so the corpus-side cost of expansion is one broadcast "
    "hash join probe, never a shuffle. VALUE-VERIFIED: the oracle "
    "wraps the round-16 batch replay as a CTE and appends the same "
    "expansion join + projection — shared fused trunk, no forked "
    "replay to drift.",
)
def hybrid_batch_expand_topk(spark: SparkSession, sf: str) -> DataFrame:
    from .round16 import _hybrid_batch_fused

    hits = _hybrid_batch_fused(spark, sf).select("probe_id", "doc_id", "rnk")
    docs = load(spark, sf, "documents")
    expanded = F.broadcast(hits).join(docs, "doc_id")
    meta = F.struct(
        F.col("source").alias("source"),
        F.col("lang").alias("lang"),
        F.concat(
            F.lit("Source: "),
            F.col("source"),
            F.lit(" | Text: "),
            F.substring(F.col("text"), 1, 80),
        ).alias("context"),
    )
    return expanded.withColumn("m", meta).select(
        "probe_id",
        "doc_id",
        "rnk",
        F.col("m.context").alias("context"),
        F.col("m.source").alias("source"),
        F.col("m.lang").alias("lang"),
    )


# ---------------------------------------------------------------------------
# Recall-driven serving-parameter telemetry (VERDICT r16 #6)
# ---------------------------------------------------------------------------

_SWEEP_PROBE_ID = 22
_SWEEP_LEVELS = (2, 4, 8)
_SWEEP_K = 10


def _nprobe_sweep_oracle(pid: int = _SWEEP_PROBE_ID) -> str:
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE
    from .round13 import _ivfpq_train_cte, _PQ_SUBD

    dot, score = _IVF_DOT, _IVF_SCORE
    m, subd, k = _PQ_M, _PQ_SUBD, _SWEEP_K
    levels = ", ".join(f"({v})" for v in _SWEEP_LEVELS)
    return f"""
    {_ivfpq_train_cte()},
    probe AS (SELECT vec_id, q8 FROM live WHERE vec_id = {pid}),
    pcr AS (  -- every list ranked once; crank <= nprobe selects a level
      SELECT cid, CAST(row_number() OVER (ORDER BY score DESC, cid) AS INT)
               AS crank
      FROM (
        SELECT c.cid, {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c1n c CROSS JOIN probe p
      )
    ),
    qsub AS (
      SELECT s.s AS sub,
             list_slice(p.q8, s.s * {subd} + 1, (s.s + 1) * {subd}) AS qs
      FROM probe p, unnest(range(0, {m})) AS s(s)
    ),
    adc AS (
      SELECT c.cid, c.sub, c.code, {dot.format(a="q.qs", b="c.e")} AS t
      FROM pcb c JOIN qsub q ON q.sub = c.sub
    ),
    bdot AS (
      SELECT c.cid, {dot.format(a="p.q8", b="c.c8")} AS bd
      FROM c1n c CROSS JOIN probe p
    ),
    sweep_scored AS MATERIALIZED (  -- scored ONCE across the union
      SELECT e.vec_id, MIN(pcr.crank) AS crank,
             CAST(MIN(bd.bd) + SUM(a.t) AS BIGINT) AS adot,
             CAST(MIN(b.nrm) AS BIGINT) AS nrm
      FROM penc e
      JOIN adc a ON a.cid = e.cid AND a.sub = e.sub AND a.code = e.code
      JOIN b1 b ON b.vec_id = e.vec_id
      JOIN bdot bd ON bd.cid = e.cid
      JOIN pcr ON pcr.cid = e.cid
      CROSS JOIN probe p
      WHERE e.vec_id <> p.vec_id
      GROUP BY e.vec_id
    ),
    levels AS (SELECT * FROM (VALUES {levels}) AS l(nprobe)),
    approx AS (
      SELECT nprobe, vec_id FROM (
        SELECT l.nprobe, s.vec_id,
               row_number() OVER (
                 PARTITION BY l.nprobe
                 ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE))
                            DESC,
                          vec_id) AS rn
        FROM sweep_scored s JOIN levels l ON s.crank <= l.nprobe
      ) WHERE rn <= {k}
    ),
    exact AS (  -- ground truth: exhaustive exact-int8 ranking
      SELECT vec_id FROM (
        SELECT b.vec_id, {score.format(a="b.q8", b="p.q8", n="b.nrm")} AS score
        FROM b1 b CROSS JOIN probe p
        WHERE b.vec_id <> p.vec_id
      ) ORDER BY score DESC, vec_id LIMIT {k}
    )
    SELECT CAST(l.nprobe AS BIGINT) AS nprobe,
           CAST(count(a.vec_id) AS BIGINT) AS n_hits,
           CAST({k} AS BIGINT) AS k
    FROM levels l
    CROSS JOIN exact e
    LEFT JOIN approx a ON a.nprobe = l.nprobe AND a.vec_id = e.vec_id
    GROUP BY l.nprobe
    """


@register(
    "ann_ivfpq_nprobe_recall_sweep",
    oracle=_nprobe_sweep_oracle(),
    doc="recall-driven serving-parameter telemetry (VERDICT r16 #6 — "
    "the table an operator reads to SIZE nprobe after a split/merge/"
    "retrain changes list geometry, because probe cost scales with "
    "nprobe while recall saturates): recall@10 of the IVF-PQ ADC "
    "search at nprobe ∈ {2, 4, 8}, all levels served off ONE "
    "partition-pruned codes scan — the probed-list sets are nested by "
    "construction (rank-prefix property of the shared centroid "
    "ranking), so every candidate is ADC-scored ONCE across the "
    "widest union, tagged with its list's probe rank, and each sweep "
    "level is a crank <= nprobe filter + per-level rank window over "
    "the same scored rows (a 3-row broadcast levels relation — no "
    "per-level rescans, no per-level jobs). Ground truth is the "
    "index's own exhaustive exact-int8 ranking (the recall_at_k "
    "convention). Integers, not float ratios, so the oracle replays "
    "build + PQ train + the single-scan sweep + the exact baseline "
    "and the per-level HIT COUNTS hash-verify.",
)
def ann_ivfpq_nprobe_recall_sweep(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    return _nprobe_sweep_over(spark, path, _SWEEP_PROBE_ID)


def _nprobe_sweep_over(
    spark: SparkSession, path: str, probe_id: int
) -> DataFrame:
    """The single-scan nprobe sweep over a GIVEN index — shared by the
    shared-index telemetry entry above and the post-retrain sweep (the
    read an operator actually performs after a maintenance action
    changes list geometry)."""
    import numpy as np

    from ..pipeline.ann_index import (
        _adc_rows,
        _centroid_arrays,
        _centroid_rows,
        _pq_dir,
        _pq_tables,
        _rank_probe_lists,
        search_by_id,
        tombstones,
    )

    pq = _pq_dir(path, _PQ_M, _PQ_KS)
    meta, cb = _pq_tables(spark, pq)
    m, ks, subd = int(meta["m"]), int(meta["ks"]), int(meta["subd"])
    cent_rows = _centroid_rows(spark, path)
    max_np = max(_SWEEP_LEVELS)

    probe_row = (
        spark.read.parquet(os.path.join(path, "assignments.parquet"))
        .filter(F.col("vec_id") == probe_id)
        .select("q8")
        .first()
    )
    p = np.asarray(probe_row["q8"], dtype=np.int64)
    ranked = _rank_probe_lists(p, _centroid_arrays(cent_rows), max_np)
    cmap = {cid: np.asarray(c8, dtype=np.int64) for cid, c8, _ in cent_rows}
    # one ADC relation for the widest union, carrying each list's rank
    adc_df = local_rel(
        spark,
        [
            (cid, rank + 1, bd, adc)
            for rank, (cid, bd, adc) in enumerate(
                _adc_rows(p, ranked, cmap, cb, m, ks, subd)
            )
        ],
        "centroid_id int, crank int, bd bigint, adc array<array<bigint>>",
    )
    cand = (
        spark.read.parquet(os.path.join(pq, "codes.parquet"))
        .filter(F.col("centroid_id").isin(ranked))
        .filter(F.col("vec_id") != probe_id)
    )
    ts = tombstones(spark, path)
    if ts is not None:
        cand = cand.join(F.broadcast(ts), "vec_id", "left_anti")
    adot = F.col("bd") + F.expr(
        f"aggregate(sequence(0, {m - 1}), CAST(0 AS BIGINT), "
        "(acc, s) -> acc + adc[s][codes[s]])"
    )
    scored = cand.join(F.broadcast(adc_df), "centroid_id").select(
        "vec_id",
        "crank",
        adot.cast("bigint").alias("adot"),
        (F.col("nrm").cast("double")).alias("nrmd"),
    )
    levels = F.broadcast(
        local_rel(spark, [(v,) for v in _SWEEP_LEVELS], "nprobe long")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("nprobe").orderBy(
        F.desc(F.col("adot").cast("double") / F.sqrt(F.col("nrmd"))),
        F.asc("vec_id"),
    )
    approx = (
        scored.join(levels, F.col("crank") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SWEEP_K)
        .select("nprobe", "vec_id")
    )
    exact = search_by_id(
        spark,
        path,
        probe_vec_id=probe_id,
        k=_SWEEP_K,
        nprobe=len(cent_rows),
    ).select("vec_id")
    # hit counting as a broadcast SEMI-join of the per-level top-k
    # against the k-row exact set (a levels×exact left-outer would
    # plan a SortMergeJoin); levels with zero hits re-enter via the
    # broadcast left join below
    counts = (
        approx.join(F.broadcast(exact), "vec_id", "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return levels.join(F.broadcast(counts), "nprobe", "left").select(
        "nprobe",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.lit(_SWEEP_K).cast("bigint").alias("k"),
    )


# ---------------------------------------------------------------------------
# Streaming → HYBRID: one write lands in BOTH indexes (capstone — the
# round-16 #2 framing completed: streamed docs were ANN-servable in
# round 16, keyword-servable above; this entry makes them servable by
# the FUSED hybrid request, the reference's actual serving shape)
# ---------------------------------------------------------------------------

_HYBSTREAM_TOK_VARIANT = "hybstreamtok-demo-v1"
_HYBSTREAM_ANN_VARIANT = "hybstreamann-demo-v1"
_HYBSTREAM_N_BATCHES = 3
_HYBSTREAM_K = 15


def _hybstream_oracle() -> str:
    from .retrieval_queries import (
        _HYBRID_IDX_CANDS,
        _HYBRID_MAX_DF,
        _IVF_INCR_BASE,
        _IVF_SCORE,
        _KEYWORDS,
        _ivf_int8_build_cte,
    )

    kw = ", ".join(f"'{k}'" for k in _KEYWORDS)
    base_v = _IVF_INCR_BASE.format(t="VARCHAR")
    base_d = _TOK_INCR_BASE.format(t="VARCHAR")
    score = _IVF_SCORE
    return f"""
    {_ivf_int8_build_cte(8, base_where=base_v)},
    incoming AS (SELECT * FROM live WHERE NOT ({base_v})),
    nassign AS (  -- frozen-quantizer assignment of the streamed rows
      SELECT vec_id, q8, nrm, cid FROM (
        SELECT l.vec_id, l.q8, l.nrm, c.cid,
               {score.format(a="l.q8", b="c.c8", n="c.cnrm")} AS score
        FROM incoming l CROSS JOIN c1n c
      ) QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY score DESC, cid) = 1
    ),
    ball AS (  -- the int8 tier the entry serves: base ∪ streamed
      SELECT vec_id, q8, nrm, cid FROM b1
      UNION ALL
      SELECT vec_id, q8, nrm, cid FROM nassign
    ),
    probe AS (SELECT q8, nrm FROM live WHERE vec_id = 0),
    pc AS (
      SELECT cid FROM (
        SELECT c.cid, {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c1n c CROSS JOIN probe p
      ) ORDER BY score DESC, cid LIMIT 4
    ),
    vcand AS (
      SELECT vec_id FROM (
        SELECT b.vec_id, {score.format(a="b.q8", b="p.q8", n="b.nrm")} AS score
        FROM ball b JOIN pc ON b.cid = pc.cid CROSS JOIN probe p
      ) ORDER BY score DESC, vec_id LIMIT {_HYBRID_IDX_CANDS}
    ),
    tok AS (  -- the lifecycle posting table: (doc, token) tf over ALL
      SELECT doc_id, t.token AS token, CAST(count(*) AS BIGINT) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      WHERE t.token <> ''
      GROUP BY doc_id, t.token
    ),
    tdf AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
    kws AS (  -- capped tf-sum keyword signal (search_keywords' score)
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS kw_score
      FROM tok JOIN tdf USING (token)
      WHERE token IN ({kw}) AND tdf.df <= {_HYBRID_MAX_DF}
      GROUP BY doc_id
    ),
    candx AS (
      SELECT DISTINCT doc_id FROM (
        SELECT vec_id AS doc_id FROM vcand
        UNION ALL
        SELECT doc_id FROM kws
      ) WHERE doc_id <> 0
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (
      SELECT vec_id AS doc_id,
             list_cosine_similarity(embedding, qv) AS vec_score
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0
    ),
    joined AS (
      SELECT c.doc_id, COALESCE(k.kw_score, 0) AS kw_score, v.vec_score
      FROM candx c LEFT JOIN kws k USING (doc_id) JOIN vec v USING (doc_id)
    ),
    m AS (SELECT max(kw_score) AS kmax, max(vec_score) AS vmax FROM joined),
    fused AS (
      SELECT doc_id, kw_score,
             greatest(
               CASE WHEN vmax > 0 THEN vec_score / vmax ELSE 0 END,
               CASE WHEN kmax > 0 THEN CAST(kw_score AS DOUBLE) / kmax
                    ELSE 0 END
             ) AS score
      FROM joined CROSS JOIN m
    )
    SELECT doc_id, kw_score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
             AS rnk,
           CAST(CASE WHEN {base_d} THEN 0 ELSE 1 END AS BIGINT) AS is_streamed
    FROM fused
    QUALIFY rnk <= {_HYBSTREAM_K}
    """


@register(
    "streaming_hybrid_ingest_search",
    oracle=_hybstream_oracle(),
    doc="STREAMING → HYBRID integration, the write path composed "
    "(capstone of VERDICT r16 #2: round 16 made a streamed document "
    "ANN-servable, streaming_fulltext_ingest_search made it keyword-"
    "servable — this entry makes ONE streamed write servable by the "
    "FUSED hybrid request, the reference's actual serving shape: a "
    "single Neo4j CREATE maintains the fulltext index graph.py:197-209 "
    "AND the vector index graph.py:211-219 together). Private variants "
    "of BOTH indexes build over the md5 base split (doc_id = vec_id "
    "linkage); the remaining (document, embedding) pairs replay as "
    "THREE ordered micro-batches through streaming_hybrid_append — "
    "one foreachBatch sink landing each batch's postings in their "
    "crc32 bucket partitions AND its frozen-assigned int8 rows in "
    "their inverted-list partitions, nothing rewritten. Serving is "
    "hybrid_search_indexed's fusion with BOTH signals read from the "
    "lifecycle indexes: vector candidates from the partition-pruned "
    "nprobe probe over base ∪ streamed, keyword candidates + capped "
    "tf-sum scores from the bucket-pruned posting scan (kw_hits "
    "recomputation from text replaced by the index's stored tf — the "
    "fully index-served keyword signal), candidate-set max-norm "
    "fusion, top-15 with an is_streamed marker. Claim-gated with "
    "BOTH-subsystem count comparison; a torn or duplicated epoch on "
    "EITHER side retires the PAIR (checkpoint lives inside the index "
    "dir). VALUE-VERIFIED: the union is order-free, so the oracle "
    "replays subset build + frozen assign + full tokenize + df cap + "
    "fusion — a lost or doubled micro-batch in either subsystem "
    "surfaces as a value mismatch.",
)
def streaming_hybrid_ingest_search(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..pipeline.ann_index import (
        _CENTROID_CACHE,
        _claimed,
        ensure_index,
        search_by_vector,
    )
    from ..ranks import top_k_ranked
    from ..retrieval.token_index import (
        ensure_postings,
        keyword_scores,
        postings,
    )
    from ..streaming.ingest_stream import streaming_hybrid_append
    from .python_ops import _replay_shuffle_partitions, _stage_ordered_batches
    from .retrieval_queries import (
        _HYBRID_IDX_CANDS,
        _HYBRID_MAX_DF,
        _IVF_INCR_BASE,
        _KEYWORDS,
        cosine_col,
    )
    from .round15 import _expected_incoming

    pred_v = _IVF_INCR_BASE.format(t="string")
    pred_d = _TOK_INCR_BASE.format(t="string")
    not_base_v, not_base_d = ~F.expr(pred_v), ~F.expr(pred_d)

    def ensure_pair() -> "tuple[str, str]":
        tok = ensure_postings(
            spark, sf, variant=_HYBSTREAM_TOK_VARIANT, subset_pred=pred_d
        )
        ann = ensure_index(
            spark,
            sf,
            widen_reps=None,
            n_centroids=8,
            iters=1,
            variant=_HYBSTREAM_ANN_VARIANT,
            subset_pred=pred_v,
        )
        return tok, ann

    tok_path, ann_path = ensure_pair()
    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    inc_docs = docs.filter(not_base_d)
    inc_emb = emb.filter(not_base_v)
    # the stream carries (document, embedding) PAIRS — a document
    # without an embedding can never be a hybrid candidate (serving
    # and oracle both inner-join the vector side), so it never
    # streams. BOTH expected counts must derive from the same joined
    # source the sink consumes: an expectation over all incoming
    # documents reads the committed state as permanently torn and
    # heals (rebuild + restream) on EVERY invocation — the 13.5s →
    # ~4s warm fix of BENCH_NOTES round 17.
    inc_pairs = inc_docs.select("doc_id", "text").join(
        inc_emb.select("vec_id", "embedding"),
        F.col("doc_id") == F.col("vec_id"),
    )
    exp_tok = _expected_postings(
        tok_path, inc_pairs.select("doc_id", "text"), buckets=16
    )
    exp_ann = _expected_incoming(
        ann_path, inc_pairs.select("vec_id", "embedding")
    )

    def streamed_counts() -> "tuple[int, int]":
        n_tok = postings(spark, tok_path).filter(not_base_d).count()
        n_ann = (
            spark.read.parquet(os.path.join(ann_path, "assignments.parquet"))
            .filter(not_base_v)
            .count()
        )
        return n_tok, n_ann

    state = streamed_counts()
    if state not in ((0, 0), (exp_tok, exp_ann)):
        # torn/duplicated epoch in EITHER subsystem: retire the PAIR —
        # a half-streamed hybrid index serves fused rankings missing
        # (or double-counting) one signal's rows, which no single-
        # subsystem heal can see
        publish.retire(tok_path)
        publish.retire(ann_path)
        _CENTROID_CACHE.pop(ann_path, None)
        tok_path, ann_path = ensure_pair()
        state = (0, 0)

    def do_stream() -> None:
        if streamed_counts() == (exp_tok, exp_ann):
            return  # previous owner committed between check and claim
        n = _HYBSTREAM_N_BATCHES
        src = _stage_ordered_batches(
            lambda: [
                inc_pairs.filter(F.pmod(F.col("doc_id"), F.lit(n)) == b)
                for b in range(n)
            ],
            sf,
            kind=f"hybstream_b{n}",
            src_table="documents.parquet",
        )
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with _replay_shuffle_partitions(spark):
            q = streaming_hybrid_append(
                stream,
                tok_path,
                ann_path,
                os.path.join(ann_path, "_stream_ckpt"),
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "hybrid stream did not drain in 300s; index pair left "
                    "for the next invocation's torn-state heal"
                )

    if state == (0, 0):
        if not _claimed(ann_path, "_hybstream_claim", do_stream):
            import time

            deadline = time.time() + 300.0
            while time.time() < deadline:
                if streamed_counts() == (exp_tok, exp_ann):
                    break
                time.sleep(1.0)
            else:
                raise RuntimeError(
                    "concurrent hybrid-stream holder did not commit in 300s"
                )

    # ---- serving: hybrid_search_indexed's fusion, both signals from
    # the lifecycle indexes ----
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    vec_cand = search_by_vector(
        spark, ann_path, qv, k=_HYBRID_IDX_CANDS, nprobe=4
    ).select(F.col("vec_id").alias("doc_id"))
    kws = keyword_scores(
        spark, tok_path, list(_KEYWORDS), max_df=_HYBRID_MAX_DF
    )
    cands = (
        vec_cand.unionByName(kws.select("doc_id"))
        .filter(F.col("doc_id") != 0)
        .distinct()
    )
    cand_kw = cands.join(F.broadcast(kws), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("kw_score"), F.lit(0)).cast("bigint").alias(
            "kw_score"
        ),
    )
    vec_rows = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    joined = (
        vec_rows.join(F.broadcast(cand_kw), "doc_id")
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "kw_score",
            cosine_col(F.col("embedding"), F.col("qv")).alias("vec_score"),
        )
    )
    # candidate-set maxima as GLOBAL WINDOW aggregates, not an agg +
    # crossJoin-back: the agg form references the candidate subtree
    # TWICE (maxima pass + ranking pass), and each reference recomputes
    # the index probes and the keyword df-window — measured 13.5s →
    # ~5s warm at sf0.1 (BENCH_NOTES round 17). The window runs over
    # the BOUNDED candidate relation (≤ k·cand_mult + |keywords|·max_df
    # rows by construction — SCALE.md's adjudicated bounded-window
    # shape), so the single partition is the cheap, correct plan.
    from pyspark.sql import Window

    wall = Window.partitionBy()
    vmax = F.max("vec_score").over(wall)
    kmax = F.max("kw_score").over(wall)
    fused = joined.select(
        "doc_id",
        "kw_score",
        F.greatest(
            F.when(vmax > 0, F.col("vec_score") / vmax).otherwise(
                F.lit(0.0)
            ),
            F.when(
                kmax > 0, F.col("kw_score").cast("double") / kmax
            ).otherwise(F.lit(0.0)),
        ).alias("score"),
    )
    out = top_k_ranked(
        fused, [F.desc("score"), F.asc("doc_id")], _HYBSTREAM_K
    )
    return out.select(
        "doc_id",
        "kw_score",
        "rnk",
        F.when(F.expr(pred_d), F.lit(0))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("is_streamed"),
    )


# ---------------------------------------------------------------------------
# The telemetry loop CLOSED over a maintenance action: the sweep an
# operator actually reads AFTER a retrain changes list geometry
# ---------------------------------------------------------------------------

_SWEEP_RTQ_PROBE_ID = 7


@register(
    "ann_ivfpq_recall_sweep_post_retrain",
    oracle=_nprobe_sweep_oracle(pid=_SWEEP_RTQ_PROBE_ID),
    doc="the recall sweep read where it operationally matters: OFF the "
    "RETRAINED index (the round's two telemetry-and-maintenance "
    "threads composed — ann_ivfpq_nprobe_recall_sweep is the table an "
    "operator reads to size nprobe after geometry changes, and "
    "retrain_quantizer is the geometry change). Shares "
    "_ensure_retrained's variant and state machine with the two "
    "retrain entries (one retrain serves all three), then runs the "
    "SAME single-scan sweep: every candidate of the widest union "
    "ADC-scored once off one partition-pruned codes scan of the "
    "POST-RETRAIN lists, crank-filtered per level, recall@10 against "
    "the retrained index's own exhaustive exact-int8 ranking. "
    "VALUE-VERIFIED via the retrain ≡ rebuild equivalence: the "
    "oracle is the existing full-build sweep replay at a distinct "
    "probe — if the retrain left ANY stale artifact (old centroid "
    "geometry, un-re-encoded code, pre-drift codebook), the "
    "per-level hit counts diverge.",
)
def ann_ivfpq_recall_sweep_post_retrain(
    spark: SparkSession, sf: str
) -> DataFrame:
    path = _ensure_retrained(spark, sf)
    return _nprobe_sweep_over(spark, path, _SWEEP_RTQ_PROBE_ID)
