"""Retrieval tests (R1-R4): fuzzy typo tolerance, vector top-k
metamorphic invariants, hybrid fusion, graph expansion projection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_graph_rag_spark.graph_store import GraphStore
from news_graph_rag_spark.ingest.embedder import HashEmbedder
from news_graph_rag_spark.ingest.ner import GazetteerModel
from news_graph_rag_spark.ingest.upserts import ingest_articles
from news_graph_rag_spark.retrieval import (
    expand_chunk_hits,
    hybrid_top_k,
    lookup_entities,
    vector_top_k,
)

from fixtures import GAZETTEER, raw_articles_df

EMBED_DIM = 32


@pytest.fixture(scope="module")
def store(spark):
    s = ingest_articles(
        GraphStore.empty(spark),
        raw_articles_df(spark),
        ner_model_factory=lambda: GazetteerModel(GAZETTEER),
        encoder_factory=lambda: HashEmbedder(dim=EMBED_DIM),
    )
    s.tables = {k: v.cache() for k, v in s.tables.items()}
    return s


# ---- R1: fuzzy entity linking ------------------------------------------


def test_fuzzy_exact_name_links_first(store):
    out = lookup_entities(store, ["Emmanuel Macron"]).collect()
    assert out and out[0]["name"] == "Emmanuel Macron"
    assert out[0]["label"] == "Person"
    assert out[0]["rnk"] == 1


def test_fuzzy_one_typo_still_links(store):
    # 'Emmanuel Macrons' / 'Ursula von der Leyn' — within ~0.8 budget
    out = {r["probe"]: r for r in lookup_entities(
        store, ["Emmanuel Macrons", "Ursula von der Leyn"]
    ).filter(F.col("rnk") == 1).collect()}
    assert out["Emmanuel Macrons"]["name"] == "Emmanuel Macron"
    assert out["Ursula von der Leyn"]["name"] == "Ursula von der Leyen"


def test_fuzzy_and_semantics_rejects_partial(store):
    # one token matches nothing → AND semantics → no candidate
    out = lookup_entities(store, ["Emmanuel Zzzzzzz"]).collect()
    assert out == []


def test_fuzzy_respects_limit(store):
    out = lookup_entities(store, ["France"], per_entity_limit=1).collect()
    assert len(out) == 1


# ---- R2: vector top-k ---------------------------------------------------


def test_vector_self_similarity_ranks_first(store):
    chunk = store["chunk"].filter(F.col("embedding").isNotNull()).first()
    hits = vector_top_k(store["chunk"], list(chunk["embedding"]), k=5).collect()
    assert hits[0]["uid"] == chunk["uid"]
    assert hits[0]["score"] == pytest.approx(1.0, abs=1e-5)


def test_vector_k_monotonic(store):
    chunk = store["chunk"].filter(F.col("embedding").isNotNull()).first()
    qv = list(chunk["embedding"])
    top3 = [r["uid"] for r in vector_top_k(store["chunk"], qv, k=3).collect()]
    top5 = [r["uid"] for r in vector_top_k(store["chunk"], qv, k=5).collect()]
    assert top5[:3] == top3


# ---- R3/R4: hybrid + expansion ------------------------------------------


def test_hybrid_includes_keyword_and_vector_signal(store):
    chunk = store["chunk"].filter(F.col("embedding").isNotNull()).first()
    qv = list(chunk["embedding"])
    hits = hybrid_top_k(store["chunk"], qv, "BRICS Ankara", k=5).collect()
    assert len(hits) == 5
    # the vector-identical chunk scores 1.0 (max-normalized)
    assert any(h["uid"] == chunk["uid"] and h["score"] == pytest.approx(1.0) for h in hits)
    # a chunk containing both keywords also scores 1.0 via keyword signal
    kw_hit = [h for h in hits if "BRICS" in h["text"] and "Ankara" in h["text"]]
    assert kw_hit and kw_hit[0]["score"] == pytest.approx(1.0)


def test_expand_chunk_hits_projection(store):
    chunk = store["chunk"].filter(F.col("embedding").isNotNull()).first()
    hits = vector_top_k(store["chunk"], list(chunk["embedding"]), k=3)
    out = expand_chunk_hits(store, hits).collect()
    assert len(out) == 3
    for r in out:
        assert r["text"].startswith("Title: ")
        assert "\nText: " in r["text"]
        md = r["metadata"].asDict()
        assert set(md) == {"position", "section", "category", "date", "url", "source"}
        assert md["source"] in {"Example News", "World Wire"}


# ---- R4+: personalized-PageRank expansion -------------------------------


def test_ppr_expand_finds_entity_linked_chunks(store, spark):
    from news_graph_rag_spark.retrieval import ppr_expand, vector_top_k

    chunks = store["chunk"]
    # deterministic seed that provably shares an entity with another
    # chunk: smallest src_uid among mentions of entities mentioned >= 2x
    men_all = store["mentions"].select("src_uid", "dst_uid")
    shared_ents = (
        men_all.groupBy("dst_uid")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("dst_uid")
    )
    seed_uid = (
        men_all.join(shared_ents, "dst_uid")
        .agg(F.min("src_uid").alias("u"))
        .first()["u"]
    )
    probe = chunks.filter(F.col("uid") == seed_uid).collect()[0]
    seed_vec = list(probe["embedding"])
    hits = vector_top_k(chunks, seed_vec, k=1)
    out = ppr_expand(store, hits, k=5).collect()
    # seeds are excluded
    assert all(r["uid"] != probe["uid"] for r in out)
    # every returned chunk is within 2 hops of the seed via MENTIONS
    men = store["mentions"].select("src_uid", "dst_uid")
    seed_ents = {
        r["dst_uid"]
        for r in men.filter(F.col("src_uid") == probe["uid"]).collect()
    }
    two_hop = {
        r["src_uid"]
        for r in men.filter(F.col("dst_uid").isin(list(seed_ents))).collect()
    }
    assert out, "expansion should find neighbors in the fixture graph"
    for r in out:
        assert r["uid"] in two_hop
        assert r["rank"] > 0


def test_ppr_expand_is_deterministic(store):
    from news_graph_rag_spark.retrieval import ppr_expand, vector_top_k

    chunks = store["chunk"]
    probe = chunks.limit(1).collect()[0]
    hits = vector_top_k(chunks, list(probe["embedding"]), k=2)
    a = [(r["uid"], round(r["rank"], 12)) for r in ppr_expand(store, hits).collect()]
    b = [(r["uid"], round(r["rank"], 12)) for r in ppr_expand(store, hits).collect()]
    assert a == b


# ---------------------------------------------------------------------------
# Persistent-index retrieval over the CHUNK table (the reference's
# vector-index surface: graph.py:211-219 + vector_index.ipynb)
# ---------------------------------------------------------------------------


def test_chunk_uid_index_search_by_vector(spark, tmp_path):
    """Index Chunk.embedding under string uids, then search with a raw
    float query vector (the serving call shape): the chunk whose
    embedding IS the query must come back at rank 1, translated back
    to its uid."""
    from news_graph_rag_spark.graph_store import GraphStore
    from news_graph_rag_spark.ingest.embedder import HashEmbedder
    from news_graph_rag_spark.ingest.upserts import ingest_articles
    from news_graph_rag_spark.pipeline.ann_index import (
        build_uid_index,
        search_uids_by_vector,
    )

    from fixtures import raw_articles_df

    store = ingest_articles(
        GraphStore.empty(spark),
        raw_articles_df(spark),
        encoder_factory=lambda: HashEmbedder(dim=32),
    )
    chunks = store["chunk"].select("uid", "embedding").cache()
    n = chunks.count()
    assert n > 5
    path = str(tmp_path / "chunk_idx")
    build_uid_index(chunks, path, n_centroids=4, iters=1)

    probe = chunks.orderBy("uid").first()
    hits = search_uids_by_vector(
        spark, path, [float(x) for x in probe["embedding"]], k=3, nprobe=4
    ).collect()
    assert hits[0]["rnk"] == 1 and hits[0]["uid"] == probe["uid"]
    assert len(hits) == 3 and all(h["uid"].startswith("Chunk:") for h in hits)
    chunks.unpersist()


def test_search_by_vector_matches_search_by_id(spark, sf_dir):
    """For a query vector taken verbatim from an indexed row, the
    by-vector search must rank the same neighbors as the by-id search
    (the only difference is the probe row itself, which by-id
    excludes)."""
    from pyspark.sql import functions as SF

    from news_graph_rag_spark.pipeline.ann_index import (
        ensure_index,
        search_by_id,
        search_by_vector,
    )

    path = ensure_index(spark, sf_dir, n_centroids=8, iters=1)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(SF.col("vec_id") == 0).first()["embedding"]
    by_vec = [
        (r["vec_id"], r["dot"])
        for r in search_by_vector(spark, path, [float(x) for x in q], k=11).collect()
        if r["vec_id"] != 0
    ][:10]
    by_id = [
        (r["vec_id"], r["dot"])
        for r in search_by_id(spark, path, probe_vec_id=0, k=10).collect()
    ]
    assert by_vec == by_id


def test_hybrid_indexed_matches_exact_on_fixtures(spark, tmp_path):
    """The candidate-generation hybrid (persistent ANN index + inverted
    token index) must reproduce the exact full-scan hybrid's top-k on
    the fixtures corpus when nprobe covers the quantizer (adequate
    recall) — same uids, same order."""
    from news_graph_rag_spark.graph_store import GraphStore
    from news_graph_rag_spark.ingest.embedder import HashEmbedder
    from news_graph_rag_spark.ingest.upserts import ingest_articles
    from news_graph_rag_spark.pipeline.ann_index import build_uid_index
    from news_graph_rag_spark.retrieval.hybrid import (
        build_chunk_token_index,
        hybrid_top_k,
        hybrid_top_k_indexed,
    )

    from fixtures import raw_articles_df

    store = ingest_articles(
        GraphStore.empty(spark),
        raw_articles_df(spark),
        encoder_factory=lambda: HashEmbedder(dim=32),
    )
    chunks = store["chunk"].select("uid", "text", "embedding").cache()
    chunks.count()

    path = str(tmp_path / "hybrid_idx")
    build_uid_index(chunks, path, n_centroids=4, iters=1)
    tok_idx = build_chunk_token_index(chunks).cache()

    probe = chunks.orderBy("uid").first()
    qv = [float(x) for x in probe["embedding"]]
    qt = "European Union budget"

    exact = [
        r["uid"] for r in hybrid_top_k(chunks, qv, qt, k=3).collect()
    ]
    indexed = [
        r["uid"]
        for r in hybrid_top_k_indexed(
            chunks, tok_idx, path, qv, qt, k=3, nprobe=4
        ).collect()
    ]
    assert indexed == exact
    chunks.unpersist()
    tok_idx.unpersist()


def test_uid_filtered_search_scopes_results(spark, tmp_path):
    """Scoped retrieval (round 8): searching a uid-keyed index with an
    allowed-uid set returns only those uids, fills k from the scope,
    and exactly matches an unscoped search over a scope-only index."""
    import random

    from pyspark.sql import functions as F

    from news_graph_rag_spark.pipeline import ann_index

    rng = random.Random(21)
    rows = [
        (f"Chunk:{i:04d}", [rng.gauss(0, 1) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "uid string, embedding array<float>")
    idx = str(tmp_path / "uid_idx")
    ann_index.build_uid_index(df, idx, n_centroids=2, iters=1)
    probe = rows[0][1]
    scope = [u for u, _ in rows if int(u.split(":")[1]) % 4 == 1]
    scope_df = spark.createDataFrame([(u,) for u in scope], "uid string")

    got = ann_index.search_uids_by_vector_filtered(
        spark, idx, probe, scope_df, k=5, nprobe=2
    ).collect()
    assert len(got) == 5
    assert all(r["uid"] in set(scope) for r in got)
    # parity vs an index built over ONLY the scope (same quantizer
    # seeds may differ, so compare via exact dot products instead):
    # every returned dot must equal the brute-force int8 dot
    q = {r["uid"]: (r["q8"], r["nrm"]) for r in ann_index.quantized_vectors(
        df.select(F.xxhash64("uid").alias("vec_id"), "embedding"),
    ).join(
        df.select(F.xxhash64("uid").alias("vec_id"), "uid"), "vec_id"
    ).select("uid", "q8", "nrm").collect()}
    import numpy as np

    p = np.asarray(ann_index.quantize_query(probe), dtype=np.int64)
    for r in got:
        expect = int(np.asarray(q[r["uid"]][0], dtype=np.int64) @ p)
        assert r["dot"] == expect


# ---------------------------------------------------------------------------
# Round 17: the lifecycle token index (I3 as a long-lived object)
# ---------------------------------------------------------------------------


def test_token_index_append_equals_full_build(spark, tmp_path):
    """Incremental posting appends must be value-equal to one full
    build over the union (the order-free property the streaming entry's
    oracle leans on), and serving must mask nothing extra."""
    import os

    from news_graph_rag_spark.retrieval import token_index as ti

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    pred = "substr(md5(CAST(doc_id AS string)), 1, 1) NOT IN ('0','1','2','3')"
    a, b = str(tmp_path / "tok_a"), str(tmp_path / "tok_b")
    ti.build_postings(docs.filter(F.expr(pred)), a)
    n = ti.append_postings(spark, a, docs.filter(~F.expr(pred)))
    assert n > 0
    ti.build_postings(docs, b)
    ra = sorted(
        tuple(r)
        for r in ti.search_keywords(
            spark, a, ["spark", "join", "stream"], k=15
        ).collect()
    )
    rb = sorted(
        tuple(r)
        for r in ti.search_keywords(
            spark, b, ["spark", "join", "stream"], k=15
        ).collect()
    )
    assert ra == rb and len(ra) == 15
    # the full posting sets agree row-for-row, not just the readout
    ca = sorted(tuple(r) for r in ti.postings(spark, a).collect())
    cb = sorted(tuple(r) for r in ti.postings(spark, b).collect())
    assert ca == cb


def test_token_index_purge_is_bucket_local_and_complete(spark, tmp_path):
    """delete_doc_postings masks immediately; compact_doc_tombstones
    removes the rows physically, rewrites ONLY the affected buckets
    (untouched buckets keep their inodes — hardlink carry), retires the
    tombstone table, and leaves serving unchanged vs the mask."""
    import os

    from news_graph_rag_spark.retrieval import token_index as ti

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    p = str(tmp_path / "tok_purge")
    ti.build_postings(docs, p)
    top = ti.search_keywords(spark, p, ["spark", "join", "stream"], k=1).first()
    victim = int(top["doc_id"])
    ti.delete_doc_postings(spark, p, [victim])
    masked = sorted(
        tuple(r)
        for r in ti.search_keywords(
            spark, p, ["spark", "join", "stream"], k=15
        ).collect()
    )
    assert victim not in {r[0] for r in masked}
    pdir = os.path.join(p, "postings.parquet")
    victim_buckets = {
        int(r["tok_bucket"])
        for r in ti.postings(spark, p)
        .filter(F.col("doc_id") == victim)
        .select("tok_bucket")
        .distinct()
        .collect()
    }
    untouched_inodes = {}
    for d in os.listdir(pdir):
        if not d.startswith("tok_bucket="):
            continue
        if int(d.split("=", 1)[1]) in victim_buckets:
            continue
        for f in os.listdir(os.path.join(pdir, d)):
            if not f.startswith(("_", ".")):
                untouched_inodes[(d, f)] = os.stat(
                    os.path.join(pdir, d, f)
                ).st_ino
    removed = ti.compact_doc_tombstones(spark, p)
    assert removed > 0
    assert ti.postings(spark, p).filter(F.col("doc_id") == victim).count() == 0
    assert ti.doc_tombstones(spark, p) is None
    for (d, f), ino in untouched_inodes.items():
        assert os.stat(os.path.join(pdir, d, f)).st_ino == ino, (d, f)
    post = sorted(
        tuple(r)
        for r in ti.search_keywords(
            spark, p, ["spark", "join", "stream"], k=15
        ).collect()
    )
    assert post == masked
    meta = ti._meta(p)
    assert meta["purge_history"][-1]["rows_removed"] == removed


def test_hybstream_pair_heals_torn_epoch(spark, tmp_path):
    """The hybrid streaming entry's BOTH-subsystem guard: corrupting
    one side's streamed rows (delete a streamed posting file) must
    retire the PAIR on the next invocation and serve values identical
    to the healthy run — no half-streamed fused ranking can survive."""
    import os

    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.round17 import _TOK_INCR_BASE
    from news_graph_rag_spark.retrieval import token_index as ti

    sf = "/root/testdata/sf0.001"
    reg = registry()
    fn = reg["streaming_hybrid_ingest_search"].fn
    healthy = sorted(tuple(r) for r in fn(spark, sf).collect())
    assert len(healthy) == 15
    assert any(r[3] == 1 for r in healthy)  # a streamed doc ranked

    # find the pair's token index and delete ONE streamed posting file
    from news_graph_rag_spark.queries.round17 import _HYBSTREAM_TOK_VARIANT
    from news_graph_rag_spark.retrieval.token_index import ensure_postings

    pred = _TOK_INCR_BASE.format(t="string")
    tok_path = ensure_postings(
        spark, sf, variant=_HYBSTREAM_TOK_VARIANT, subset_pred=pred
    )
    pdir = os.path.join(tok_path, "postings.parquet")
    victim = None
    for d in sorted(os.listdir(pdir)):
        if not d.startswith("tok_bucket="):
            continue
        for f in sorted(os.listdir(os.path.join(pdir, d))):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(pdir, d, f)
            # pick a file that actually holds STREAMED postings, so
            # the delete makes the streamed count torn (a base-only
            # file would leave the streamed-count guard blind)
            if (
                spark.read.parquet(p).filter(~F.expr(pred)).limit(1).count()
                > 0
            ):
                victim = p
                break
        if victim:
            break
    assert victim is not None
    os.remove(victim)
    healed = sorted(tuple(r) for r in fn(spark, sf).collect())
    assert healed == healthy


def test_token_index_compact_bucket_files(spark, tmp_path):
    """Round-17 janitor symmetry: after fragmented posting appends,
    compact_bucket_files reduces the data-file count, leaves every
    search value bit-unchanged, hardlink-carries untouched buckets,
    records meta history, and is a no-op when re-run."""
    import os

    from news_graph_rag_spark.retrieval import token_index as ti

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    pred = "substr(md5(CAST(doc_id AS string)), 1, 1) NOT IN ('0','1','2','3')"
    p = str(tmp_path / "tok_fc")
    ti.build_postings(docs.filter(F.expr(pred)), p)
    inc = docs.filter(~F.expr(pred))
    for b in range(3):
        ti.append_postings(spark, p, inc.filter(F.col("doc_id") % 3 == b))

    def count_files():
        pdir = os.path.join(p, "postings.parquet")
        return sum(
            1
            for d in os.listdir(pdir)
            if d.startswith("tok_bucket=")
            for f in os.listdir(os.path.join(pdir, d))
            if not f.startswith(("_", "."))
        )

    before = sorted(
        tuple(r)
        for r in ti.search_keywords(
            spark, p, ["spark", "join", "stream"], k=15
        ).collect()
    )
    rows_before = sorted(tuple(r) for r in ti.postings(spark, p).collect())
    f0 = count_files()
    removed = ti.compact_bucket_files(spark, p, target_file_mb=64.0)
    f1 = count_files()
    assert removed > 0 and f1 == f0 - removed and f1 < f0
    meta = ti._meta(p)
    assert meta["file_compactions"][-1]["files_removed"] == removed
    after = sorted(
        tuple(r)
        for r in ti.search_keywords(
            spark, p, ["spark", "join", "stream"], k=15
        ).collect()
    )
    assert after == before
    # full posting set bit-unchanged, not just the readout
    rows_after = sorted(tuple(r) for r in ti.postings(spark, p).collect())
    assert rows_after == rows_before
    # idempotent
    assert ti.compact_bucket_files(spark, p, target_file_mb=64.0) == 0
    assert count_files() == f1


def test_token_index_compact_single_bucket_hardlinks_rest(spark, tmp_path):
    """compact_bucket_files(tok_bucket=X) rewrites only X's files;
    every other bucket's files carry as hardlinks (same inodes)."""
    import os

    from news_graph_rag_spark.retrieval import token_index as ti

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    pred = "substr(md5(CAST(doc_id AS string)), 1, 1) NOT IN ('0','1','2','3')"
    p = str(tmp_path / "tok_fc1")
    ti.build_postings(docs.filter(F.expr(pred)), p)
    inc = docs.filter(~F.expr(pred))
    for b in range(3):
        ti.append_postings(spark, p, inc.filter(F.col("doc_id") % 3 == b))
    pdir = os.path.join(p, "postings.parquet")
    fragmented = [
        int(d.split("=", 1)[1])
        for d in sorted(os.listdir(pdir))
        if d.startswith("tok_bucket=")
        and sum(
            1
            for f in os.listdir(os.path.join(pdir, d))
            if not f.startswith(("_", "."))
        )
        > 1
    ]
    assert fragmented
    target = fragmented[0]
    others = {}
    for d in os.listdir(pdir):
        if not d.startswith("tok_bucket="):
            continue
        if int(d.split("=", 1)[1]) == target:
            continue
        for f in os.listdir(os.path.join(pdir, d)):
            if not f.startswith(("_", ".")):
                others[(d, f)] = os.stat(os.path.join(pdir, d, f)).st_ino
    removed = ti.compact_bucket_files(
        spark, p, tok_bucket=target, target_file_mb=64.0
    )
    assert removed > 0
    for (d, f), ino in others.items():
        assert os.stat(os.path.join(pdir, d, f)).st_ino == ino, (d, f)


def test_hybstream_concurrent_invocations_stream_once(spark):
    """The capstone's claim protocol at the entry level: two
    CONCURRENT invocations on a fresh variant pair must both return
    the same 15 rows, and the stream must have run exactly once —
    the streamed posting and assignment counts equal the expectation
    EXACTLY (a lost race would double-append: 2·N counts)."""
    import os
    import threading

    from news_graph_rag_spark.publish import retire
    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.catalog import load
    from news_graph_rag_spark.queries.round17 import (
        _HYBSTREAM_ANN_VARIANT,
        _HYBSTREAM_TOK_VARIANT,
        _TOK_INCR_BASE,
        _expected_postings,
    )
    from news_graph_rag_spark.queries.retrieval_queries import _IVF_INCR_BASE
    from news_graph_rag_spark.queries.round15 import _expected_incoming
    from news_graph_rag_spark.retrieval import token_index as ti
    from news_graph_rag_spark.pipeline.ann_index import ensure_index

    sf = "/root/testdata/sf0.001"
    pred_v = _IVF_INCR_BASE.format(t="string")
    pred_d = _TOK_INCR_BASE.format(t="string")
    tok = ti.ensure_postings(
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
    # fresh pair: force the next invocations to run the stream
    retire(tok)
    retire(ann)

    fn = registry()["streaming_hybrid_ingest_search"].fn
    results: "dict[int, list]" = {}
    errors: "dict[int, Exception]" = {}

    def run(i: int) -> None:
        try:
            results[i] = sorted(tuple(r) for r in fn(spark, sf).collect())
        except Exception as exc:  # pragma: no cover - diagnostic
            errors[i] = exc

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not errors, errors
    assert results[0] == results[1] and len(results[0]) == 15

    # exactly-once: streamed counts equal the expectation exactly
    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    inc_pairs = (
        docs.filter(~F.expr(pred_d))
        .select("doc_id", "text")
        .join(
            emb.filter(~F.expr(pred_v)).select("vec_id", "embedding"),
            F.col("doc_id") == F.col("vec_id"),
        )
    )
    tok2 = ti.ensure_postings(
        spark, sf, variant=_HYBSTREAM_TOK_VARIANT, subset_pred=pred_d
    )
    ann2 = ensure_index(
        spark,
        sf,
        widen_reps=None,
        n_centroids=8,
        iters=1,
        variant=_HYBSTREAM_ANN_VARIANT,
        subset_pred=pred_v,
    )
    n_tok = ti.postings(spark, tok2).filter(~F.expr(pred_d)).count()
    n_ann = (
        spark.read.parquet(os.path.join(ann2, "assignments.parquet"))
        .filter(~F.expr(pred_v))
        .count()
    )
    assert n_tok == _expected_postings(
        tok2, inc_pairs.select("doc_id", "text"), buckets=16
    )
    assert n_ann == _expected_incoming(
        ann2, inc_pairs.select("vec_id", "embedding"), salt="racecheck"
    )
