"""Round-15 catalog extensions.

ANN serving: the LAST cell of the PQ serving matrix — a BATCH of
EXTERNAL float query vectors (``ann_ivfpq_batch_by_vector_topk`` — the
literal production RAG request shape, VERDICT r14 #1) — and the PQ
MAINTENANCE loop closed (``ann_ivfpq_retrain_roundtrip`` — retrain_pq,
the codebook rebuild the incremental-encode drift histogram triggers,
VERDICT r14 #2). ML serving: the boosted model's INFERENCE half
(``gbt_2round_leaf_stats`` — staged two-tree model, broadcast-CASE
scoring, leaf-mean + exact residual correction, accuracy readout;
VERDICT r14 #6). Second pass: the int8 tier's own by-vector batch
(``ann_ivf_batch_by_vector_topk`` — closing the FULL {int8, PQ} ×
{single, batch} × {by-id, by-vector} serving matrix), the filtered
batch (``ann_ivfpq_batch_filtered_topk`` — one broadcast pre-filter on
the shared pruned scan), and the packed-sequence doc-boundary artifact
(``tokenize_shard_doc_offsets`` — per-doc offsets/lengths inside each
packed bin, served from the written v2 shards).

Appended as the LAST module in queries/__init__.py's pinned
``_ROUND_MODULES`` order (first-50 driver prefix + full-order manifest
both test-frozen).

Determinism per catalog.py's rules: every output column is an exact
integer; the one non-integer comparison (the ADC rank score) is the
IEEE double the whole PQ family uses, produced by identical expression
trees on exact integers in both engines with total integer tie-breaks;
the boosted-model prediction avoids floats entirely — the leaf-mean +
residual-mean threshold comparison is CROSS-MULTIPLIED to integers
(2·(p_a·n + Σra) vs n_a·n), the catalog's ratio discipline.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import publish
from .catalog import load, register, stage_parquet
from .round12 import _split_pts
from .round13 import _ivfpq_oracle, _PQ_KS, _PQ_M
from .round14 import (
    _gbt_cte,
    _gbt_train,
    _GBT_DEPTH,
    _ivfpq_batch_oracle,
    _ivfpq_incr_cte,
)

# ---------------------------------------------------------------------------
# Batched by-vector IVF-PQ serving (VERDICT r14 #1)
# ---------------------------------------------------------------------------

#: source rows whose RAW float embeddings form the external query
#: batch — disjoint from the by-id batch probes (0, 7, 19) so the two
#: batch exhibits exercise different probed-list unions; each returns
#: its own stored row at rank 1 (the quantization-consistency property
#: the single-probe by-vector entry pins)
_PQ_BYVEC_SRC_IDS = (2, 11, 23)
_PQ_BYVEC_K = 5
_PQ_BYVEC_NPROBE = 4


@register(
    "ann_ivfpq_batch_by_vector_topk",
    oracle=_ivfpq_batch_oracle(
        _PQ_BYVEC_SRC_IDS,
        k=_PQ_BYVEC_K,
        nprobe=_PQ_BYVEC_NPROBE,
        exclude_probe=False,
        by_position=True,
    ),
    doc="the LAST cell of the PQ serving matrix (VERDICT r14 #1): a "
    "BATCH of EXTERNAL float query vectors — the literal production "
    "RAG request (vector_index.ipynb raw 65 under concurrency: many "
    "query embeddings at once, none of them stored ids). Each raw "
    "vector is quantized DRIVER-side with the index's own scheme "
    "(quantize_query, widen from meta), given its batch POSITION as a "
    "synthetic probe_id, and served through the SHARED "
    "_search_pq_batch_core — the same ONE partition-pruned codes scan, "
    "broadcast (probe, list, bd, adc) relation, and probe-partitioned "
    "rank as the by-id batch entry (no forked readout), with NO "
    "self-exclusion (an external query has no id). The query batch is "
    "the raw embeddings of rows 2/11/23, so each probe's rank-1 hit "
    "is its own source row — three quantization-consistency checks "
    "riding the result. VALUE-VERIFIED: the oracle uses the stored q8 "
    "of each source row (equal by construction to quantize_query of "
    "the raw vector — the by-vector equality property) numbered by "
    "batch position, keeps the probe rows in their candidate sets, "
    "and replays build + PQ train + encode + batch ADC end to end.",
)
def ann_ivfpq_batch_by_vector_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, search_pq_batch_by_vectors

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    emb = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in load(spark, sf, "embeddings")
        .filter(F.col("vec_id").isin(list(_PQ_BYVEC_SRC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    }
    qvs = [emb[i] for i in _PQ_BYVEC_SRC_IDS]
    return search_pq_batch_by_vectors(
        spark,
        path,
        qvs,
        k=_PQ_BYVEC_K,
        nprobe=_PQ_BYVEC_NPROBE,
        m=_PQ_M,
        ks=_PQ_KS,
    )


# ---------------------------------------------------------------------------
# PQ codebook retrain — the maintenance loop closed (VERDICT r14 #2)
# ---------------------------------------------------------------------------

#: the retrain demo's forget-set — disjoint from the tombstone twin's
#: (vec_id % 7 = 3) and the filtered entry's allow-set (% 3 = 0), and
#: keeping probe 0 live (0 % 5 = 0)
_RETRAIN_DEAD = "{v} % 5 = 2"


@register(
    "ann_ivfpq_retrain_roundtrip",
    oracle=_ivfpq_oracle(
        k=10,
        nprobe=4,
        probe_id=0,
        dead_where=_RETRAIN_DEAD,
        pq_dead_where=_RETRAIN_DEAD,
    ),
    doc="the PQ MAINTENANCE LOOP CLOSED (VERDICT r14 #2): retrain_pq — "
    "the codebook rebuild the incremental-encode entry's drift "
    "histogram exists to trigger. A deterministic forget-set "
    "(vec_id % 5 = 2) is tombstoned into a PRIVATE variant index "
    "(retrain-demo-v1 — retraining mutates the layer, so it can never "
    "share the fingerprint path, the tombstone-entry rule), then "
    "retrain_pq rebuilds the residual codebooks from the CURRENT LIVE "
    "rows only — seeds, the integer Lloyd round, and the final encode "
    "all behind the tombstone mask, so the forget-set's residuals "
    "stop shaping the model (the model-level half of a GDPR purge; "
    "compaction is the data-level half, and a compacted index "
    "retrains identically — test-pinned). The new layer publishes by "
    "the format-bump contract: built complete in staging, old layer "
    "retired by atomic swap-out, (mtime, ino) validation drops every "
    "process's cached codebooks; meta records trained_over=live so "
    "repeat invocations serve without re-training (idempotent, like "
    "ensure_pq). The COARSE quantizer never retrains (deletes don't "
    "move centroids — the int8-tier contract). VALUE-VERIFIED: the "
    "oracle replays the full build over ALL vectors, then PQ seed "
    "selection + Lloyd + encode over the LIVE subset only "
    "(pq_dead_where — the tombstone mask applied to TRAINING input, "
    "not just serving), then the pruned ADC readout.",
)
def ann_ivfpq_retrain_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import (
        _has_tombstones,
        _pq_dir,
        delete_vectors,
        ensure_index,
        load_index,
        PQ_FORMAT_VERSION,
        retrain_pq,
        search_pq_by_id,
    )

    path = ensure_index(
        spark, sf, n_centroids=8, iters=1, variant="retrain-demo-v1"
    )
    if not _has_tombstones(path):
        dead = (
            load_index(spark, path)[0]
            .filter(F.expr(_RETRAIN_DEAD.format(v="vec_id")))
            .select("vec_id")
        )
        delete_vectors(spark, path, dead)
    # train the layer DIRECTLY via retrain_pq (live rows only) — no
    # initial all-rows train_pq to immediately throw away; meta's
    # trained_over=live marker makes repeat invocations serve-only
    pqd = _pq_dir(path, _PQ_M, _PQ_KS)
    mp = os.path.join(pqd, "meta.json")
    need = not os.path.exists(mp)
    if not need:
        with open(mp) as f:
            got = json.load(f)
        need = (
            got.get("format") != PQ_FORMAT_VERSION
            or got.get("trained_over") != "live"
        )
    if need:
        retrain_pq(spark, path, m=_PQ_M, ks=_PQ_KS)
    return search_pq_by_id(
        spark, path, probe_vec_id=0, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


# ---------------------------------------------------------------------------
# Boosted-model inference: staged two-tree scoring (VERDICT r14 #6)
# ---------------------------------------------------------------------------


def _staged_gbt2_model(spark: SparkSession, sf: str) -> str:
    """The trained boosted model as a STAGED ARTIFACT (the
    tree3-splits discipline — a model is trained once and loaded at
    serving time, never retrained per query): one fingerprint-keyed
    dir holding three broadcast-sized tables — splits_a / splits_b
    (the two depth-2 trees' (node, fid, thr) rows) and cells (the
    per-(leaf_a, leaf_b) model stats: cell size, exact residual mass,
    tree-A leaf totals). The leaf-stats entry's oracle still replays
    BOTH trainings in SQL, so staging can never mask a wrong split."""

    def build(tmp: str) -> None:
        splits_a, splits_b, leaf, curb = _gbt_train(spark, sf)

        def _splits_frame(levels: "list[DataFrame]") -> DataFrame:
            out = None
            for lv in levels:
                flat = lv.select(
                    F.col("leaf").cast("bigint").alias("node"),
                    F.col("b.fid").cast("bigint").alias("fid"),
                    F.col("b.thr").alias("thr"),
                )
                out = flat if out is None else out.unionByName(flat)
            return out

        _splits_frame(splits_a).coalesce(1).write.parquet(
            os.path.join(tmp, "splits_a")
        )
        _splits_frame(splits_b).coalesce(1).write.parquet(
            os.path.join(tmp, "splits_b")
        )
        cells = (
            curb.withColumnRenamed("node", "node_b")
            .groupBy("node_a", "node_b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_cell"),
                F.sum("ra").cast("bigint").alias("sum_ra"),
            )
            .join(
                F.broadcast(leaf.withColumnRenamed("node", "node_a")),
                "node_a",
            )
        )
        cells.coalesce(1).write.parquet(os.path.join(tmp, "cells"))
        # multi-table staging: the publish gate checks _SUCCESS at the
        # dir ROOT (single-table stages get it from the parquet write)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return stage_parquet(os.path.join(sf, "orders.parquet"), "gbt2_model_v1", build)


def _gbt_leaf_oracle() -> str:
    """Replay BOTH trainings (the shared _gbt_cte trunk), then the
    boosted readout per (leaf_a, leaf_b) cell: prediction = tree-A
    leaf mean + the cell's exact mean residual, thresholded at 1/2 by
    CROSS-MULTIPLICATION (p_a/n_a + Σra/(n·n_a) > 1/2 ⟺
    2·(p_a·n + Σra) > n_a·n — exact integers end to end, n_a and n
    both positive)."""
    return f"""{_gbt_cte()},
    cells AS (
      SELECT p.node_a, p.node_b,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(p.y0) AS BIGINT) AS n_pos,
             CAST(SUM(p.ra) AS BIGINT) AS sum_ra,
             CAST(MIN(l.n_a) AS BIGINT) AS n_a,
             CAST(MIN(l.p_a) AS BIGINT) AS p_a
      FROM ptsb3 p JOIN leafa l ON l.node = p.node_a
      GROUP BY p.node_a, p.node_b
    )
    SELECT CAST(node_a AS BIGINT) AS node_a,
           CAST(node_b AS BIGINT) AS node_b,
           n_rows, n_pos,
           CAST(CASE WHEN 2 * (p_a * n_rows + sum_ra) > n_a * n_rows
                THEN 1 ELSE 0 END AS BIGINT) AS predict,
           CAST(CASE WHEN 2 * (p_a * n_rows + sum_ra) > n_a * n_rows
                THEN n_pos ELSE n_rows - n_pos END AS BIGINT) AS n_correct
    FROM cells
    """


@register(
    "gbt_2round_leaf_stats",
    oracle=_gbt_leaf_oracle(),
    doc="the boosted model's INFERENCE half (VERDICT r14 #6), "
    "completing train→predict for the GBT pair the way "
    "tree_depth3_leaf_stats completed it for the single tree: the "
    "trained two-tree model is a STAGED ARTIFACT (_staged_gbt2_model, "
    "built once per dataset fingerprint — both trees' split tables "
    "plus the per-(leaf_a, leaf_b) cell stats), and serving scores "
    "every row through BOTH trees with 2·depth broadcast-CASE hops "
    "(no shuffle, no retraining at any corpus size), joins the "
    "broadcast cell table, and predicts per cell as tree-A LEAF MEAN "
    "+ EXACT RESIDUAL CORRECTION: p_a/n_a + Σra/(n·n_a) > 1/2, "
    "cross-multiplied to the all-integer comparison "
    "2·(p_a·n + Σra) > n_a·n (the catalog's ratio discipline — no "
    "float ever materializes). Readout per composite cell: size, "
    "positives, the boosted prediction, and the training-accuracy "
    "numerator — the post-iteration eval a GBDT trainer logs next to "
    "gbt_2round_orders' telemetry. The oracle replays BOTH trainings "
    "and the boosted threshold end to end, so staging can never mask "
    "a wrong split; rows of nodes emptied by the inner assignment "
    "joins drop symmetrically. All outputs exact integers.",
)
def gbt_2round_leaf_stats(spark: SparkSession, sf: str) -> DataFrame:
    model = _staged_gbt2_model(spark, sf)
    sa = F.broadcast(spark.read.parquet(os.path.join(model, "splits_a")))
    sb = F.broadcast(spark.read.parquet(os.path.join(model, "splits_b")))
    cells = F.broadcast(spark.read.parquet(os.path.join(model, "cells")))

    def hops(cur: DataFrame, splits: DataFrame) -> DataFrame:
        for _ in range(_GBT_DEPTH):
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
        return cur

    rows = _split_pts(spark, sf).withColumn("node", F.lit(1).cast("bigint"))
    a = hops(rows, sa).withColumnRenamed("node", "node_a")
    b = hops(
        a.withColumn("node", F.lit(1).cast("bigint")), sb
    ).withColumnRenamed("node", "node_b")
    agg = b.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    # the prediction is a function of the MODEL alone (n_cell, not the
    # serving count — equal on training data, but the model is what a
    # deployment would apply to unseen rows)
    pred = (
        2 * (F.col("p_a") * F.col("n_cell") + F.col("sum_ra"))
        > F.col("n_a") * F.col("n_cell")
    )
    return agg.join(cells, ["node_a", "node_b"]).select(
        F.col("node_a").cast("bigint").alias("node_a"),
        F.col("node_b").cast("bigint").alias("node_b"),
        "n_rows",
        "n_pos",
        F.when(pred, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("predict"),
        F.when(pred, F.col("n_pos"))
        .otherwise(F.col("n_rows") - F.col("n_pos"))
        .cast("bigint")
        .alias("n_correct"),
    )


# ---------------------------------------------------------------------------
# Round-15 second pass: int8 batch by-vector, filtered PQ batch, and the
# packed-sequence doc-boundary artifact
# ---------------------------------------------------------------------------

#: raw-embedding sources for the int8 by-vector batch — disjoint from
#: the int8 by-id batch's (0..4)
_IVF_BYVEC_SRC_IDS = (5, 12, 31)

#: the filtered-batch entry composes the round-14 batch probes with the
#: round-14 allow predicate — SAME constants (imported, not copied), so
#: the three entries stay comparable
from .retrieval_queries import _ivf_batch_oracle  # noqa: E402
from .round14 import (  # noqa: E402
    _PQ_ALLOW_PRED as _PQ_ALLOW_PRED_R15,
    _PQ_BATCH_PROBE_IDS as _PQ_FB_PROBE_IDS,
    _staged_token_shards,
    _tpe_toks_sql,
)


@register(
    "ann_ivf_batch_by_vector_topk",
    oracle=_ivf_batch_oracle(
        _IVF_BYVEC_SRC_IDS, k=3, nprobe=2, exclude_probe=False, by_position=True
    ),
    doc="the int8 tier's OWN {batch} × {by-vector} cell, symmetric "
    "with the PQ twin added this round: a batch of EXTERNAL float "
    "query embeddings quantizes driver-side (quantize_query, widen "
    "from meta), takes batch positions as synthetic probe_ids, and "
    "rides the SAME _batch_search_core as the by-id batch entry — one "
    "partition-pruned assignments scan for the whole batch, broadcast "
    "(probe, list, q8) fan-out, probe-partitioned rank, no "
    "self-exclusion (each probe's rank-1 hit is its own source row — "
    "the quantization-consistency property). With this the FULL "
    "serving matrix {int8, PQ} × {single, batch} × {by-id, by-vector} "
    "is closed. VALUE-VERIFIED: the oracle uses the stored q8 of the "
    "source rows numbered by batch position and replays build + "
    "per-probe pruning + exact scoring end to end.",
)
def ann_ivf_batch_by_vector_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import batch_search_by_vectors, ensure_index

    path = ensure_index(spark, sf, widen_reps=None, n_centroids=8, iters=1)
    emb = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in load(spark, sf, "embeddings")
        .filter(F.col("vec_id").isin(list(_IVF_BYVEC_SRC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    }
    qvs = [emb[i] for i in _IVF_BYVEC_SRC_IDS]
    return batch_search_by_vectors(spark, path, qvs, k=3, nprobe=2)


@register(
    "ann_ivfpq_batch_filtered_topk",
    oracle=_ivfpq_batch_oracle(
        _PQ_FB_PROBE_IDS,
        k=5,
        nprobe=4,
        allow_where=_PQ_ALLOW_PRED_R15,
    ),
    doc="FILTERED batch PQ serving — the metadata-constrained request "
    "BATCH ('nearest chunks within this tenant, for all Q queries at "
    "once'), composing the two serving dimensions the tier already "
    "pins separately (ann_ivfpq_batch_topk × "
    "ann_ivfpq_filtered_search_topk): the eligible-id set "
    "(vec_id % 3 = 0) applies as ONE broadcast semi-join PRE-filter "
    "on the single partition-pruned codes scan shared by the whole "
    "batch, BEFORE the per-probe ranks — top-k exact over the allowed "
    "subset inside each probe's lists, never the post-filter trap, "
    "and the filter is applied once regardless of batch size. "
    "VALUE-VERIFIED: the oracle replays the batch ADC chain with the "
    "same eligibility mask on the candidate set only.",
)
def ann_ivfpq_batch_filtered_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import ensure_pq, load_index, search_pq_batch

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    allowed = (
        load_index(spark, path)[0]
        .filter(F.expr(_PQ_ALLOW_PRED_R15.format(v="vec_id")))
        .select("vec_id")
    )
    return search_pq_batch(
        spark,
        path,
        list(_PQ_FB_PROBE_IDS),
        k=5,
        nprobe=4,
        m=_PQ_M,
        ks=_PQ_KS,
        allowed=allowed,
    )


def _tpe_offsets_oracle() -> str:
    """Replay tokenize → pack → shuffle → shard with NO access to the
    written shards, down to PER-DOC rows: each doc's bin, its position
    in the bin's doc_id pack order, its exclusive token offset, and
    its length."""
    from .round12 import _lcg_mix_sql
    from .round13 import _tpe_shard_sql, _TPE_BUDGET as _B

    return f"""
    WITH {_tpe_toks_sql()},
    dsum AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY doc_id
    ),
    dt AS (
      SELECT d.doc_id, CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
      LEFT JOIN dsum s ON s.doc_id = d.doc_id
    ),
    pk AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // {_B} AS BIGINT) AS bin_id
      FROM dt
    ),
    bins AS (SELECT bin_id FROM pk GROUP BY bin_id),
    hh AS (SELECT *, {_lcg_mix_sql("bin_id")} AS h2 FROM bins),
    r AS (
      SELECT *, row_number() OVER (ORDER BY h2, bin_id) AS rnk,
             count(*) OVER () AS t
      FROM hh
    ),
    sh AS (SELECT bin_id, {_tpe_shard_sql()} AS shard_id FROM r)
    SELECT s.shard_id, p.bin_id,
           CAST(row_number() OVER (PARTITION BY p.bin_id
                                   ORDER BY p.doc_id) - 1 AS BIGINT) AS pos,
           CAST(COALESCE(SUM(p.n_tokens) OVER (
                  PARTITION BY p.bin_id ORDER BY p.doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS doc_off,
           p.n_tokens AS doc_len
    FROM pk p JOIN sh s ON s.bin_id = p.bin_id
    """


@register(
    "tokenize_shard_doc_offsets",
    oracle=_tpe_offsets_oracle(),
    doc="the SEQUENCE-BOUNDARY table of the token-id export — the "
    "third artifact a packed-sequence trainer ships next to the "
    "shards and the vocab: per packed 512-token bin, every document's "
    "position, exclusive token OFFSET, and length (what the data "
    "loader uses to reset attention masks / position ids at document "
    "boundaries inside a packed row). Served from the WRITTEN shards: "
    "the staged export (v2) stores each bin's per-doc length vector "
    "in pack order next to its id sequence, so the entry is one "
    "posexplode + a BIN-partitioned running sum over the read-back "
    "files — bins are budget-bounded (≤512 tokens), so every window "
    "partition is tiny and the table streams out of the shard scan "
    "with one hash exchange on bin_id. VALUE-VERIFIED with no access "
    "to the files: the oracle replays tokenize → pack → shuffle → "
    "shard down to per-doc rows, so a mis-packed bin, a wrong length "
    "vector, or an order drift between seq and doc_lens surfaces as a "
    "value mismatch. All outputs exact integers.",
)
def tokenize_shard_doc_offsets(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    df = spark.read.parquet(_staged_token_shards(spark, sf))
    ex = df.select(
        "shard_id",
        "bin_id",
        F.posexplode("doc_lens").alias("pos", "doc_len"),
    )
    w = (
        Window.partitionBy("bin_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ex.select(
        # partitionBy directory columns read back as int32 — cast to
        # match the oracle's BIGINT (the round-14 readback-entry rule)
        F.col("shard_id").cast("bigint").alias("shard_id"),
        "bin_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.coalesce(F.sum("doc_len").over(w), F.lit(0))
        .cast("bigint")
        .alias("doc_off"),
        F.col("doc_len").cast("bigint").alias("doc_len"),
    )


# ---------------------------------------------------------------------------
# The PQ INSERT path closed end to end: append + immediately servable
# ---------------------------------------------------------------------------

_PQINSERT_VARIANT = "pqinsert-demo-v1"


_EXPECTED_INCOMING_CACHE: "dict[str, int]" = {}


def _expected_incoming(path: str, incoming: DataFrame, salt: str = "") -> int:
    """The committed-append row count the torn/duplicate detection
    compares against, cached per VARIANT PATH (VERDICT r16 #5: this
    count job re-ran on every invocation, but it depends only on the
    source table, and ensure_index's path already fingerprints the
    source's (path, mtime, size) — a testdata regen changes the path
    and misses the cache by construction). ``salt`` separates distinct
    frames counted against the same path (round 17: the retrain entry
    needs both the incoming and the total expected counts)."""
    key = f"{path}|{salt}"
    n = _EXPECTED_INCOMING_CACHE.get(key)
    if n is None:
        n = incoming.filter(F.exists("embedding", lambda x: x != 0)).count()
        _EXPECTED_INCOMING_CACHE[key] = n
    return n


def _tier_counts_one_job(spark: SparkSession, not_base, m: int, ks: int):
    """Both serving tiers' non-base row counts in ONE Spark job
    (VERDICT r16 #5: the claim-gate's guard paid two separate count
    jobs per invocation — a tagged union of the two scans folds them
    into one job; each side is still its own pruned parquet scan).
    Returns a callable so the heal path and the loser-wait loop both
    read FRESH counts."""
    from ..pipeline.ann_index import _pq_dir

    def counts(p: str) -> "tuple[int, int]":
        codes = (
            spark.read.parquet(
                os.path.join(_pq_dir(p, m, ks), "codes.parquet")
            )
            .filter(not_base)
            .select(F.lit("c").alias("t"))
        )
        assigns = (
            spark.read.parquet(os.path.join(p, "assignments.parquet"))
            .filter(not_base)
            .select(F.lit("a").alias("t"))
        )
        d = {
            r["t"]: int(r["n"])
            for r in codes.unionByName(assigns)
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return d.get("c", 0), d.get("a", 0)

    return counts


def _ivfpq_insert_oracle(
    k: int,
    nprobe: int,
    probe_sel: str = "(SELECT MIN(vec_id) FROM incoming)",
) -> str:
    """Replay base-subset build + PQ train + frozen assign + frozen
    encode of the incoming rows (the shared ``_ivfpq_incr_cte``), then
    serve a single-probe ADC search over the UNION of base codes and
    freshly appended codes, probing with the smallest INSERTED vector
    — the value the write path exists to produce. ``probe_sel`` (round
    16) selects a different inserted probe (the streaming entry probes
    the LAST micro-batch); the default keeps the frozen round-15 text
    byte-identical."""
    from .retrieval_queries import _IVF_DOT, _IVF_SCORE
    from .round13 import _PQ_SUBD

    dot, score = _IVF_DOT, _IVF_SCORE
    m, subd = _PQ_M, _PQ_SUBD
    return f"""
    {_ivfpq_incr_cte()},
    allc AS (
      SELECT vec_id, cid, sub, code FROM penc
      UNION ALL
      SELECT vec_id, cid, sub, code FROM nenc
    ),
    iprobe AS (
      SELECT vec_id, q8 FROM live
      WHERE vec_id = {probe_sel}
    ),
    ipc AS (
      SELECT cid FROM (
        SELECT c.cid, {score.format(a="p.q8", b="c.c8", n="c.cnrm")} AS score
        FROM c1n c CROSS JOIN iprobe p
      ) ORDER BY score DESC, cid LIMIT {nprobe}
    ),
    iqsub AS (
      SELECT s.s AS sub,
             list_slice(p.q8, s.s * {subd} + 1, (s.s + 1) * {subd}) AS qs
      FROM iprobe p, unnest(range(0, {m})) AS s(s)
    ),
    iadc AS (
      SELECT c.cid, c.sub, c.code, {dot.format(a="q.qs", b="c.e")} AS t
      FROM pcb c JOIN ipc ON c.cid = ipc.cid JOIN iqsub q ON q.sub = c.sub
    ),
    ibdot AS (
      SELECT c.cid, {dot.format(a="p.q8", b="c.c8")} AS bd
      FROM c1n c JOIN ipc ON c.cid = ipc.cid CROSS JOIN iprobe p
    ),
    iscored AS (
      SELECT e.vec_id, CAST(MIN(bd.bd) + SUM(a.t) AS BIGINT) AS adot,
             CAST(MIN(l.nrm) AS BIGINT) AS nrm
      FROM allc e
      JOIN iadc a ON a.cid = e.cid AND a.sub = e.sub AND a.code = e.code
      JOIN live l ON l.vec_id = e.vec_id
      JOIN ibdot bd ON bd.cid = e.cid
      CROSS JOIN iprobe p
      WHERE e.vec_id <> p.vec_id
      GROUP BY e.vec_id
    )
    SELECT CAST(row_number() OVER (
             ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC,
                      vec_id) AS INT) AS rnk,
           vec_id, adot
    FROM iscored
    ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) DESC, vec_id
    LIMIT {k}
    """


@register(
    "ann_ivfpq_insert_search_topk",
    oracle=_ivfpq_insert_oracle(k=10, nprobe=4),
    doc="the PQ INSERT path closed END TO END — the data half that "
    "round-14's incremental encode (compute only) left open: the "
    "md5-bucket incoming rows are coarse-assigned against the frozen "
    "quantizer and APPENDED into BOTH serving tiers in one call "
    "(append_codes: new files inside the inverted-list partitions AND "
    "inside the PQ code partitions — nothing rewritten, the int8 tier "
    "and the memory-budget tier see the union immediately), then the "
    "entry searches probing with the smallest INSERTED vector: a "
    "freshly ingested embedding is servable the moment the append "
    "lands, ranking against base and incoming rows alike. Runs on a "
    "PRIVATE variant (appends mutate the index — the tombstone-entry "
    "rule) built over the base subset; repeat invocations detect the "
    "already-appended state from the codes table and serve directly; "
    "a TORN append (int8 rows landed, codes missing — the one "
    "crash-window shape append_codes' write order makes detectable) "
    "heals by atomic retire + rebuild. VALUE-VERIFIED: the oracle "
    "replays base build + PQ train + frozen assign + frozen encode, "
    "then serves over penc ∪ nenc with norms from the full vector "
    "set — the same union the appended index stores.",
)
def ann_ivfpq_insert_search_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import (
        _CENTROID_CACHE,
        _claimed,
        _pq_dir,
        append_codes,
        assign_new,
        ensure_pq,
        search_pq_by_id,
    )
    from .retrieval_queries import _IVF_INCR_BASE

    pred = _IVF_INCR_BASE.format(t="string")
    not_base = ~F.expr(pred)

    def ensure():
        return ensure_pq(
            spark,
            sf,
            m=_PQ_M,
            ks=_PQ_KS,
            variant=_PQINSERT_VARIANT,
            subset_pred=pred,
        )

    path = ensure()
    incoming = load(spark, sf, "embeddings").filter(not_base)
    # what a fully-committed append must have landed: one row per
    # non-base source vector with a nonzero embedding (assign_new's
    # nrm > 0 filter — amax > 0 always yields a ±127 component, so
    # "any nonzero element" ⟺ "nrm > 0" without quantizing here).
    # CACHED per variant path (VERDICT r16 watch item: the claim-gate
    # era added two tier-count jobs + this expected-count job per
    # invocation — the expected count depends only on the SOURCE
    # table, and the variant path already fingerprints the source's
    # (path, mtime, size), so repeat invocations can skip the job).
    expected = _expected_incoming(path, incoming)

    tier_counts = _tier_counts_one_job(spark, not_base, m=_PQ_M, ks=_PQ_KS)

    # COUNT comparison, not an existence probe (round-15 review): a
    # crash mid-commit of either multi-file append can leave a strict
    # SUBSET of the incoming rows visible, which limit(1) would read as
    # "already appended" and then serve rankings missing part of the
    # batch. Fully committed = non-base counts EQUAL on both tiers AND
    # equal to the incoming batch size (round-15 advice: equal counts
    # alone cannot see a cross-process DUPLICATE append — two racers
    # each landing the batch leave 2·N == 2·N, servable-looking
    # forever while every search returns duplicated candidates).
    # Anything else is torn → retire + rebuild.
    n_codes, n_assign = tier_counts(path)
    if n_assign != n_codes or n_assign not in (0, expected):
        publish.retire(path)
        _CENTROID_CACHE.pop(path, None)
        path = ensure()
        n_codes = n_assign = 0
    if n_assign == 0:
        # the append is NON-idempotent — claim it atomically so two
        # concurrent invocations (bench + pytest sharing the tempdir-
        # keyed variant) can never both run it (round-15 advice). The
        # loser waits for the winner's commit instead of appending.
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
                    "concurrent append_codes holder did not commit within "
                    "180s; variant index left for the next invocation's "
                    "torn-state heal"
                )
    probe_id = int(
        spark.read.parquet(os.path.join(path, "assignments.parquet"))
        .filter(not_base)
        .agg(F.min("vec_id"))
        .first()[0]
    )
    return search_pq_by_id(
        spark, path, probe_vec_id=probe_id, k=10, nprobe=4, m=_PQ_M, ks=_PQ_KS
    )


# ---------------------------------------------------------------------------
# Fourth pass: PQ code-utilization telemetry (the second retrain signal)
# ---------------------------------------------------------------------------


def _ivfpq_util_oracle() -> str:
    from .round13 import _ivfpq_train_cte

    return f"""
    {_ivfpq_train_cte()}
    SELECT cid AS centroid_id, CAST(sub AS BIGINT) AS sub,
           CAST(COUNT(*) AS BIGINT) AS n_codes,
           CAST(COUNT(DISTINCT code) AS BIGINT) AS n_used
    FROM penc GROUP BY cid, sub
    """


@register(
    "ann_ivfpq_code_utilization",
    oracle=_ivfpq_util_oracle(),
    doc="PQ-tier observability, the telemetry twin of "
    "ann_ivf_index_stats: per (inverted list, subspace) the stored "
    "code count and the number of DISTINCT codebook entries actually "
    "used — the second retrain signal next to the incremental-encode "
    "drift histogram (a subspace assigning most residuals to a few of "
    "its ks codes means the codebook no longer spans the residual "
    "distribution; utilization collapsing after heavy encode_new "
    "traffic is the slow-cadence retrain_pq trigger). Served from the "
    "materialized CODES table alone — one pruned-column scan + "
    "posexplode + an exact distinct over ≤ks values per group; the "
    "raw embeddings and the d-dim assignments are never read. "
    "VALUE-VERIFIED: the oracle replays build + PQ train + encode and "
    "aggregates the same per-(list, subspace) histogram.",
)
def ann_ivfpq_code_utilization(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline.ann_index import _pq_dir, ensure_pq

    path = ensure_pq(spark, sf, m=_PQ_M, ks=_PQ_KS)
    codes = spark.read.parquet(
        os.path.join(_pq_dir(path, _PQ_M, _PQ_KS), "codes.parquet")
    )
    return (
        codes.select("centroid_id", F.posexplode("codes").alias("sub", "code"))
        .groupBy("centroid_id", "sub")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_codes"),
            F.countDistinct("code").cast("bigint").alias("n_used"),
        )
        .select(
            "centroid_id",
            F.col("sub").cast("bigint").alias("sub"),
            "n_codes",
            "n_used",
        )
    )
