"""Training-data pipeline operator tests: dedup families on planted
duplicates, similarity-search tiers, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_graph_rag_spark.pipeline import (
    brute_force_top_k,
    decode_images,
    exact_dedup_keys,
    extract_image_features,
    fingerprints,
    ivf_build,
    ivf_search,
    language_id,
    lsh_bucket_top_k,
    quality_signals,
    sample_video_frames,
    token_counts,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = BASE.replace("today", "tonight")  # 1-token change → high Jaccard
FAR = "completely different words about spark dataframes and shuffles here"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),          # exact dup of 0
        (2, NEAR),          # near dup of 0
        (3, FAR),
        (4, "tiny"),
        (5, BASE + " extra trailing words to pad things out"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    out = {r["canonical_id"]: r["n_copies"] for r in exact_dedup_keys(docs).collect()}
    assert out[0] == 2  # docs 0+1 collapse
    assert sum(out.values()) == 6


def test_vector_zero_norm_not_ranked_first(spark):
    """Zero-norm embeddings must not pollute top-k: 0/0 = NaN sorts
    above every double in Spark, so an unguarded cosine ranks zero
    vectors first."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero-norm
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = [r["vec_id"] for r in brute_force_top_k(df, [1.0, 0.0, 0.0], k=3).collect()]
    assert top == [0, 1, 3]  # 2 excluded despite NaN ordering trap


def test_brute_force_vs_ivf_and_lsh(spark):
    import random

    rng = random.Random(42)
    dim = 16
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    q = rows[7][1]

    exact = [r["vec_id"] for r in brute_force_top_k(df, q, k=10).collect()]
    assert exact[0] == 7  # self-similarity first

    assignments, centroids = ivf_build(df, n_centroids=8, iters=1)
    assert centroids.count() == 8
    approx = [r["vec_id"] for r in
              ivf_search(assignments, centroids, q, k=10, nprobe=4).collect()]
    assert approx[0] == 7
    assert len(set(exact[:5]) & set(approx)) >= 2  # decent recall

    lsh = [r["vec_id"] for r in lsh_bucket_top_k(df, q, k=10, n_planes=6).collect()]
    assert 7 in lsh  # query's own bucket always probed


def test_language_id(spark):
    rows = [
        (0, "the cat sat on the mat and the dog barked at the moon", "en"),
        (1, "der hund und die katze liefen zu dem haus von dem mann", "de"),
        (2, "le chat et la souris sont dans les jardins de la ville", "fr"),
        (3, "el perro y el gato corren por los campos de la granja", "es"),
    ]
    df = spark.createDataFrame(rows, "id long, text string, lang string")
    out = language_id(df).collect()
    assert all(r["pred_lang"] == r["lang"] for r in out)


def test_quality_and_tokens_and_fingerprint(docs):
    q = quality_signals(docs).filter(F.col("doc_id") == 0).first()
    assert q["n_tokens"] == len(BASE.split())
    assert 0.0 <= q["quality_score"] <= 1.0
    t = token_counts(docs).filter(F.col("doc_id") == 4).first()
    assert t["n_tokens"] == 1
    f = fingerprints(docs).select("doc_id", "fingerprint").collect()
    fps = {r["doc_id"]: r["fingerprint"] for r in f}
    assert fps[0] == fps[1] and fps[0] != fps[3]


# ---- multimodal plumbing -------------------------------------------------


@pytest.fixture(scope="module")
def images(spark):
    rows = [
        (0, b"\x89PNGfakebytes0", "png", 64, 48),
        (1, b"\xff\xd8JPEGfakebytes1", "jpeg", 128, 96),
        (2, None, "png", 0, 0),
    ]
    return spark.createDataFrame(
        rows, "media_id long, data binary, format string, width int, height int"
    )


def test_decode_images_stub(images):
    out = decode_images(images).collect()
    stats = {r["media_id"]: (r["pixel_mean"], r["pixel_std"]) for r in out}
    assert stats[2] == (0.0, 0.0)  # null bytes → zero stats
    assert stats[0] != stats[1]  # deterministic per content
    again = {r["media_id"]: (r["pixel_mean"], r["pixel_std"])
             for r in decode_images(images).collect()}
    assert stats == again


def test_decode_images_executes_supplied_decoder(images):
    """A provided decode_fn is executed by the operator (the stub era
    raised NotImplementedError here; the real-decode branch now runs
    whatever decoder `load_image_decoder()` or the caller supplies)."""
    got = {
        r["media_id"]: (r["pixel_mean"], r["pixel_std"])
        for r in decode_images(
            images,
            decode_fn=lambda b: (float(len(b or b"")), 1.0),
        ).collect()
    }
    assert got[0] == (14.0, 1.0)
    assert got[2] == (0.0, 1.0)


def test_extract_image_features_shape(images):
    out = extract_image_features(images, dim=16).collect()
    by_id = {r["media_id"]: r["features"] for r in out}
    assert len(by_id[0]) == 16
    assert by_id[2] is None


def test_sample_video_frames(spark):
    vids = spark.createDataFrame(
        [(0, 25), (1, 3)], "media_id long, n_frames int"
    )
    out = sample_video_frames(vids, every_n=10).collect()
    got = sorted((r["media_id"], r["frame_index"]) for r in out)
    assert got == [(0, 0), (0, 10), (0, 20), (1, 0)]


def test_ivf_assign_is_map_side(spark):
    """Lloyd-round assignment must not shuffle the vectors: the centroid
    set is packed/broadcast and argmax-folded per row (regression: the
    old crossJoin + per-id window hash-shuffled all n×k scored rows
    every round)."""
    import contextlib
    import io

    from news_graph_rag_spark.pipeline.similarity import _assign

    df = spark.createDataFrame(
        [(i, [float(i % 4), 1.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    centers = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [3.0, 1.0])], "centroid_id int, centroid array<float>"
    )
    out = _assign(df, centers, "embedding", "vec_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    assert "Window" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            # only the 1-row centroid packing may exchange
            assert "SinglePartition" in line, line
    # assignments correct with smallest-cid tiebreak
    got = {r["vec_id"]: r["centroid_id"] for r in out.collect()}
    assert got[0] == 1 and got[3] == 2


# ---- sketches + bucketed join -------------------------------------------


def test_approx_distinct_within_error_bound(spark, sf_dir):
    from news_graph_rag_spark.queries import registry

    rows = registry()["approx_distinct_users"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # rsd=0.02 → generous 5× cushion, deterministic sketch
        assert abs(r["approx_users"] - r["exact_users"]) <= max(
            2, 0.10 * r["exact_users"]
        )


def test_approx_quantiles_rank_error(spark, sf_dir):
    """The sketch guarantee is on RANK, not value: the returned point's
    empirical rank must be within the accuracy bound of the target
    quantile (value distance is unbounded in sparse tails)."""
    import bisect

    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.catalog import load

    got = {
        r["event_type"]: (r["p50"], r["p95"], r["p99"])
        for r in registry()["approx_quantiles_value"].fn(spark, sf_dir).collect()
    }
    values: dict[str, list[float]] = {}
    for r in load(spark, sf_dir, "events").select("event_type", "value").collect():
        values.setdefault(r["event_type"], []).append(r["value"])
    for et, approx in got.items():
        vs = sorted(values[et])
        n = len(vs)
        for q, a in zip((0.50, 0.95, 0.99), approx):
            rank = bisect.bisect_right(vs, a) / n
            assert abs(rank - q) <= 0.02 + 1.5 / n, (et, q, a, rank)


def test_bucketed_join_has_no_shuffle_below_join(spark, sf_dir):
    import contextlib
    import io

    from news_graph_rag_spark.queries import registry

    df = registry()["bucketed_join_revenue"].fn(spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue().split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    join_at = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
    below = "\n".join(lines[join_at:])
    assert "Bucketed: true" in below
    assert "Exchange" not in below  # co-located: no shuffle on either side


def test_chunk_audio_windows_shapes(spark):
    from news_graph_rag_spark.pipeline.multimodal import chunk_audio_windows

    df = spark.createDataFrame(
        [(1, 800), (2, 400), (3, 399), (4, 0)],
        "media_id: long, n_samples: long",
    )
    rows = sorted(
        (r["media_id"], r["start_sample"], r["end_sample"])
        for r in chunk_audio_windows(df).collect()
    )
    # media 1: starts 0,160,320 (<=400); media 2: one exact window;
    # media 3 and 4: too short, dropped
    assert rows == [(1, 0, 400), (1, 160, 560), (1, 320, 720), (2, 0, 400)]


def test_ivf_wide_dim_768(spark):
    """VERDICT r2 #3: at the reference's real dimensionality (768,
    config.py:6) the per-dim-column Lloyd update would emit 768
    aggregate expressions — past the wholestage-codegen field limit.
    The wide path computes Arrow-batch partial sums in numpy and merges
    them with one array fold; verify it agrees with a brute-force
    centroid mean and searches sanely, in bounded time."""
    import random
    import time

    rng = random.Random(7)
    dim = 768
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    df.count()

    t0 = time.monotonic()
    assignments, centroids = ivf_build(df, n_centroids=8, iters=2)
    got = {r["centroid_id"]: r["centroid"] for r in centroids.collect()}
    elapsed = time.monotonic() - t0
    assert len(got) == 8
    assert all(len(c) == dim for c in got.values())
    assert elapsed < 120, f"wide-dim ivf_build took {elapsed:.0f}s"

    # centroid = mean of its members (recompute brute-force in python)
    members: dict[int, list[list[float]]] = {}
    for r in assignments.select("centroid_id", "embedding").collect():
        members.setdefault(r["centroid_id"], []).append(r["embedding"])
    # assignments were produced from the FINAL centers, which came from
    # the PREVIOUS round's members — so check the update equation on one
    # more explicit round instead: re-run the update on the assignments
    from news_graph_rag_spark.pipeline.similarity import _lloyd_update

    upd = {
        r["centroid_id"]: r["centroid"]
        for r in _lloyd_update(assignments, dim, "embedding").collect()
    }
    for cid, vecs in members.items():
        n = len(vecs)
        want = [sum(v[j] for v in vecs) / n for j in range(dim)]
        gotc = upd[cid]
        for j in range(0, dim, 97):  # spot-check dimensions
            assert abs(gotc[j] - want[j]) < 1e-4

    q = rows[3][1]
    hits = [
        r["vec_id"]
        for r in ivf_search(assignments, centroids, q, k=5, nprobe=3).collect()
    ]
    assert hits[0] == 3  # self-similarity first


# ---------------------------------------------------------------------------
# Persistent ivf-int8 index lifecycle (pipeline/ann_index.py, VERDICT r6 #1)
# ---------------------------------------------------------------------------


def test_ann_index_build_save_search_recall(spark, tmp_path):
    """Build→save→load→search roundtrip on a synthetic clustered table:
    the persisted index answers searches without touching the source,
    and recall vs the exact int8-domain scan is high on separable data."""
    import random

    import numpy as np

    from news_graph_rag_spark.pipeline.ann_index import (
        build_and_save,
        load_index,
        search_by_id,
    )

    rng = random.Random(11)
    dim, per = 32, 60
    rows = []
    for c in range(4):  # 4 well-separated clusters
        center = [rng.gauss(0, 1) * 4 for _ in range(dim)]
        for i in range(per):
            rows.append(
                (
                    c * per + i,
                    [center[j] + rng.gauss(0, 0.05) for j in range(dim)],
                )
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "idx")
    build_and_save(df, path, n_centroids=4, iters=1)

    assignments, centroids, meta = load_index(spark, path)
    assert meta["format"].startswith("ivf-int8") and meta["n_centroids"] == 4
    assert assignments.count() == 4 * per
    k_cent = centroids.count()
    assert 1 <= k_cent <= 4

    got = search_by_id(spark, path, probe_vec_id=0, k=10, nprobe=1)
    hits = [r["vec_id"] for r in got.collect()]
    assert len(hits) == 10 and 0 not in hits
    # exact int8-domain scan (same quantization) for ground truth
    from news_graph_rag_spark.pipeline.ann_index import quantized_vectors

    q = {
        r["vec_id"]: (np.asarray(r["q8"], dtype=np.int64), r["nrm"])
        for r in quantized_vectors(df).collect()
    }
    p, _ = q[0]
    exact = sorted(
        ((int((v @ p)) / np.sqrt(n), -vid) for vid, (v, n) in q.items() if vid != 0),
        reverse=True,
    )[:10]
    exact_ids = {-t[1] for t in exact}
    assert len(exact_ids & set(hits)) >= 9  # same-cluster probe: near-total recall


def test_ann_ensure_index_is_idempotent_and_fingerprinted(spark, sf_dir):
    """ensure_index is DDL-once: the second call returns the same path
    without rebuilding (meta.json mtime unchanged); different params
    produce a different index directory."""
    import os

    from news_graph_rag_spark.pipeline.ann_index import ensure_index

    p1 = ensure_index(spark, sf_dir, n_centroids=8, iters=1)
    m1 = os.stat(os.path.join(p1, "meta.json")).st_mtime_ns
    p2 = ensure_index(spark, sf_dir, n_centroids=8, iters=1)
    assert p2 == p1
    assert os.stat(os.path.join(p1, "meta.json")).st_mtime_ns == m1
    p3 = ensure_index(spark, sf_dir, n_centroids=4, iters=1)
    assert p3 != p1


def test_ann_search_is_fast_warm(spark, sf_dir):
    """The search-only path against a warm (already-built) index must
    be a sub-second operation — the whole point of splitting build from
    search (VERDICT r6 #1: warm search < 0.5s at sf0.1; allow slack for
    the shared test JVM at smoke SF)."""
    import time

    from news_graph_rag_spark.pipeline.ann_index import ensure_index, search_by_id

    path = ensure_index(spark, sf_dir, n_centroids=8, iters=1)  # warm
    search_by_id(spark, path, probe_vec_id=0, k=10, nprobe=4).count()  # JIT
    t0 = time.monotonic()
    n = search_by_id(spark, path, probe_vec_id=0, k=10, nprobe=4).count()
    elapsed = time.monotonic() - t0
    assert n == 10
    assert elapsed < 2.0, f"warm search took {elapsed:.2f}s"


def test_ann_search_jvm_and_arrow_paths_agree(spark, sf_dir):
    """Both scoring paths (JVM fold default, Arrow matmul scale path)
    are exact-integer arithmetic — their results must be identical,
    ranks included."""
    from news_graph_rag_spark.pipeline.ann_index import ensure_index, search_by_id

    path = ensure_index(spark, sf_dir, widen_reps=12, n_centroids=8, iters=1)
    jvm = [tuple(r) for r in search_by_id(spark, path, 0, 10, 4).collect()]
    arrow = [
        tuple(r)
        for r in search_by_id(spark, path, 0, 10, 4, use_arrow=True).collect()
    ]
    assert jvm == arrow and len(jvm) == 10


def test_ann_index_publish_is_atomic(spark, tmp_path, monkeypatch):
    """A build that dies before the atomic rename leaves NOTHING at the
    index path (readers see index-or-nothing, never a torn directory),
    and a retry succeeds."""
    import os

    from news_graph_rag_spark.pipeline import ann_index

    df = spark.createDataFrame(
        [(i, [float(i + 1), float(2 * i + 1)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "idx2")
    real_rename = os.rename

    def exploding_rename(src, dst):
        if dst == path:
            raise RuntimeError("simulated crash before publish")
        return real_rename(src, dst)

    monkeypatch.setattr(ann_index.os, "rename", exploding_rename)
    try:
        ann_index.build_and_save(df, path, n_centroids=2, iters=1)
    except RuntimeError:
        pass
    assert not os.path.exists(path)  # nothing published
    monkeypatch.setattr(ann_index.os, "rename", real_rename)
    ann_index.build_and_save(df, path, n_centroids=2, iters=1)
    assert os.path.exists(os.path.join(path, "meta.json"))


def _clustered_vec_table(spark, dim=16, per=30, clusters=3, seed=7):
    import random

    rng = random.Random(seed)
    rows = []
    for c in range(clusters):
        center = [rng.gauss(0, 1) * 4 for _ in range(dim)]
        for i in range(per):
            rows.append(
                (
                    c * per + i,
                    [center[j] + rng.gauss(0, 0.05) for j in range(dim)],
                )
            )
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_delete_vectors_masks_search_then_compaction_folds(spark, tmp_path):
    """The DELETE half (VERDICT r7 #3): tombstoned ids vanish from
    search results immediately (broadcast anti-join at serve time), the
    per-list compaction physically removes them and retires the
    tombstone table, and results are IDENTICAL before and after
    compaction."""
    from news_graph_rag_spark.pipeline import ann_index

    df = _clustered_vec_table(spark)
    path = str(tmp_path / "idx_del")
    ann_index.build_and_save(df, path, n_centroids=3, iters=1)

    before = [tuple(r) for r in ann_index.search_by_id(spark, path, 0, 5, 1).collect()]
    victims = [before[0][1], before[1][1]]  # top-2 neighbors of probe 0
    n = ann_index.delete_vectors(spark, path, victims)
    assert n == 2

    masked = [tuple(r) for r in ann_index.search_by_id(spark, path, 0, 5, 1).collect()]
    got_ids = {t[1] for t in masked}
    assert not (got_ids & set(victims))  # purged ids never surface
    assert len(masked) == 5  # k still filled from surviving rows

    total_before = ann_index.load_index(spark, path)[0].count()
    removed = ann_index.compact_tombstones(spark, path)
    assert removed == 2
    assert not ann_index._has_tombstones(path)  # table retired
    assert ann_index.load_index(spark, path)[0].count() == total_before - 2

    after = [tuple(r) for r in ann_index.search_by_id(spark, path, 0, 5, 1).collect()]
    assert after == masked  # serve-time mask == physical rewrite
    # a tombstoned PROBE is "not in index" by design
    ann_index.delete_vectors(spark, path, [0])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in index"):
        ann_index.search_by_id(spark, path, probe_vec_id=0, k=5, nprobe=1)
    assert ann_index.compact_tombstones(spark, path) == 1
    # idempotent: compacting with no tombstones is a no-op
    assert ann_index.compact_tombstones(spark, path) == 0


def test_ann_purge_uids_never_searchable(spark, tmp_path):
    """GDPR wiring: a forget-set of uids (the purge-cascade shape)
    reaches the persistent uid-keyed ANN index — the purged uids never
    appear in search_uids_by_vector results, BEFORE and AFTER
    compaction (VERDICT r7 #3's done-criterion)."""
    from news_graph_rag_spark.pipeline import ann_index

    df = _clustered_vec_table(spark).selectExpr(
        "concat('Chunk:', vec_id) AS uid", "embedding"
    )
    path = str(tmp_path / "idx_uid")
    ann_index.build_uid_index(df, path, n_centroids=3, iters=1)

    # probe with cluster-0's center direction: a float query vector
    probe = [r["embedding"] for r in df.filter("uid = 'Chunk:0'").collect()][0]
    hits = ann_index.search_uids_by_vector(spark, path, probe, k=6, nprobe=1)
    top = [r["uid"] for r in hits.collect()]
    forget = top[:3]

    forget_df = spark.createDataFrame([(u,) for u in forget], "uid string")
    assert ann_index.delete_uids(spark, path, forget_df) == 3

    served = [
        r["uid"]
        for r in ann_index.search_uids_by_vector(
            spark, path, probe, k=6, nprobe=1
        ).collect()
    ]
    assert not (set(served) & set(forget))
    ann_index.compact_tombstones(spark, path)
    compacted = [
        r["uid"]
        for r in ann_index.search_uids_by_vector(
            spark, path, probe, k=6, nprobe=1
        ).collect()
    ]
    assert compacted == served  # identical results post-fold
    assert not (set(compacted) & set(forget))


def test_ann_sharded_lists_search_parity(spark, tmp_path):
    """VERDICT r7 #7: long inverted lists shard across multiple files
    (salted writer buckets) and search results are UNCHANGED — pruning
    reads whole list directories, however many files they hold."""
    import os

    from news_graph_rag_spark.pipeline import ann_index

    df = _clustered_vec_table(spark)
    p_one = str(tmp_path / "idx_one")
    p_shard = str(tmp_path / "idx_shard")
    ann_index.build_and_save(df, p_one, n_centroids=3, iters=1)
    ann_index.build_and_save(
        df, p_shard, n_centroids=3, iters=1, max_rows_per_file=10
    )

    # at least one list directory actually holds multiple data files
    adir = os.path.join(p_shard, "assignments.parquet")
    multi = [
        d
        for d in os.listdir(adir)
        if d.startswith("centroid_id=")
        and sum(
            1
            for f in os.listdir(os.path.join(adir, d))
            if f.endswith(".parquet")
        )
        > 1
    ]
    assert multi, "forced sharding produced no multi-file list"

    for probe in (0, 35, 70):
        a = [
            tuple(r)
            for r in ann_index.search_by_id(spark, p_one, probe, 8, 2).collect()
        ]
        b = [
            tuple(r)
            for r in ann_index.search_by_id(spark, p_shard, probe, 8, 2).collect()
        ]
        assert a == b, f"probe {probe}: sharded index diverged"


def test_ann_recover_stranded_retired(spark, tmp_path):
    """Round-7 advice #1: a hard kill between a rebuild's two renames
    leaves the old index stranded as '*.retired-*' with NOTHING live.
    The next build restores it; stale staging/retired leftovers get
    age-swept."""
    import os

    from news_graph_rag_spark import publish
    from news_graph_rag_spark.pipeline import ann_index

    df = _clustered_vec_table(spark, per=10, clusters=2)
    path = str(tmp_path / "idx_crash")
    ann_index.build_and_save(df, path, n_centroids=2, iters=1)
    want = [tuple(r) for r in ann_index.search_by_id(spark, path, 0, 3, 1).collect()]

    # simulate the SIGKILL window: old copy retired, no live path
    stranded = f"{path}.retired-deadbeef"
    os.rename(path, stranded)
    ann_index._CENTROID_CACHE.pop(path, None)
    # plus a stale staging dir from another killed build
    stale = f"{path}.staging-cafe0000"
    os.makedirs(stale)
    old = 1.0  # epoch — way past the sweep age
    os.utime(stale, (old, old))
    os.utime(stranded, (old, old))

    publish.recover(path, "meta.json")
    assert os.path.exists(os.path.join(path, "meta.json"))  # restored
    assert not os.path.exists(stale)  # stale staging swept
    got = [tuple(r) for r in ann_index.search_by_id(spark, path, 0, 3, 1).collect()]
    assert got == want


def test_index_build_refuses_a_foreign_dir(spark, tmp_path):
    """An index path is caller-chosen (``index build <graph_root>
    <index_path>``): building onto a non-empty directory that holds no
    meta.json — an output folder, a graph store root — raises before
    any work and leaves that directory intact, for the ANN and the
    token index alike. An empty directory is simply published into."""
    import os

    from news_graph_rag_spark.pipeline import ann_index
    from news_graph_rag_spark.retrieval import token_index

    df = _clustered_vec_table(spark, per=4, clusters=1)
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    for i, build in enumerate(
        (
            lambda p: ann_index.build_and_save(df, p, n_centroids=1, iters=0),
            lambda p: token_index.build_postings(docs, p),
        )
    ):
        root = tmp_path / f"case{i}"
        foreign = root / "foreign"
        (foreign / "sub").mkdir(parents=True)
        (foreign / "notes.txt").write_text("keep me")
        (foreign / "sub" / "data").write_text("and me")
        with pytest.raises(FileExistsError):
            build(str(foreign))
        assert (foreign / "notes.txt").read_text() == "keep me"
        assert (foreign / "sub" / "data").read_text() == "and me"
        assert os.listdir(root) == ["foreign"]  # no staging left either
        empty = root / "empty"
        empty.mkdir()
        build(str(empty))
        assert (empty / "meta.json").exists()


# ---------------------------------------------------------------------------
# BMP codec (pipeline/multimodal.py, VERDICT r6 #4 — real image decode)
# ---------------------------------------------------------------------------


def test_bmp24_roundtrip_with_row_padding():
    """3-wide rows need 3 pad bytes (stride 12); the decode must undo
    bottom-up row order, BGR channel order, and padding exactly."""
    from news_graph_rag_spark.pipeline.multimodal import decode_bmp24, encode_bmp24

    w, h = 3, 2
    px = [
        (255, 0, 0), (0, 255, 0), (0, 0, 255),       # top row: R G B
        (10, 20, 30), (40, 50, 60), (70, 80, 90),    # bottom row
    ]
    data = encode_bmp24(w, h, px)
    assert data[:2] == b"BM"
    stride = 12  # 3*3 rounded up to 4
    assert len(data) == 54 + stride * h
    dw, dh, out = decode_bmp24(data)
    assert (dw, dh) == (w, h)
    assert out == px  # row-major top-down, (r,g,b)


def test_bmp24_decode_top_down_negative_height():
    """Negative biHeight means top-down row order in the container —
    the decoder must honor it (same pixels, no re-flip)."""
    import struct

    from news_graph_rag_spark.pipeline.multimodal import decode_bmp24, encode_bmp24

    w, h = 2, 2
    px = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    data = bytearray(encode_bmp24(w, h, px))
    # rewrite height to -h and reorder the two rows to top-down
    struct.pack_into("<i", data, 22, -h)
    stride = 8
    row0 = bytes(data[54 : 54 + stride])
    row1 = bytes(data[54 + stride : 54 + 2 * stride])
    data[54 : 54 + 2 * stride] = row1 + row0
    dw, dh, out = decode_bmp24(bytes(data))
    assert (dw, dh) == (w, h) and out == px


def test_bmp24_decode_rejects_unsupported():
    import struct

    import pytest as _pytest

    from news_graph_rag_spark.pipeline.multimodal import decode_bmp24, encode_bmp24

    with _pytest.raises(ValueError, match="not a BMP"):
        decode_bmp24(b"GIF89a" + b"\x00" * 60)
    good = bytearray(encode_bmp24(1, 1, [(9, 9, 9)]))
    bad_bits = bytearray(good)
    struct.pack_into("<H", bad_bits, 28, 8)  # 8-bit palette image
    with _pytest.raises(ValueError, match="unsupported BMP"):
        decode_bmp24(bytes(bad_bits))
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp24(bytes(good[:-2]))


def test_ann_assign_new_matches_index_assignment(spark, tmp_path):
    """Incremental insert (frozen coarse quantizer): a new vector
    identical to an indexed one must land in the same inverted list —
    assign_new reuses the index's own quantization (widen_reps from
    meta) and centroid argmax."""
    from news_graph_rag_spark.pipeline.ann_index import (
        assign_new,
        build_and_save,
        load_index,
    )

    rows = [(i, [float((i % 7) + 1), float((i * 3) % 5 + 1)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "incr_idx")
    build_and_save(df, path, n_centroids=3, iters=1, widen_reps=2)

    assignments, _, meta = load_index(spark, path)
    assert meta["widen_reps"] == 2
    indexed = {r["vec_id"]: r["centroid_id"] for r in assignments.collect()}

    clones = spark.createDataFrame(
        [(1000 + i, emb) for i, emb in rows[:10]],
        "vec_id long, embedding array<float>",
    )
    newly = {
        r["vec_id"]: r["centroid_id"] for r in assign_new(spark, path, clones).collect()
    }
    assert newly == {1000 + i: indexed[i] for i in range(10)}


# ---------------------------------------------------------------------------
# PNG + AVI codecs (round 7: compressed-image + video-frame decode)
# ---------------------------------------------------------------------------


def test_png_rgb8_roundtrip_exercises_all_filters():
    """Height >= 5 makes the encoder cycle scanline filters 0..4, so a
    round trip proves every unfilter path (None/Sub/Up/Average/Paeth)
    is spec-exact."""
    import random

    from news_graph_rag_spark.pipeline.multimodal import (
        decode_png_rgb8,
        encode_png_rgb8,
    )

    rng = random.Random(5)
    for w, h in ((1, 6), (7, 5), (13, 11)):
        px = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(w * h)
        ]
        data = encode_png_rgb8(w, h, px)
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        assert decode_png_rgb8(data) == (w, h, px)


def test_png_decode_rejects_corruption_and_unsupported():
    import struct

    import pytest as _pytest

    from news_graph_rag_spark.pipeline.multimodal import (
        decode_png_rgb8,
        encode_png_rgb8,
    )

    good = bytearray(encode_png_rgb8(2, 2, [(1, 2, 3)] * 4))
    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png_rgb8(b"GIF89a" + bytes(good[6:]))
    flipped = bytearray(good)
    flipped[20] ^= 0xFF  # corrupt IHDR body -> CRC mismatch
    with _pytest.raises(ValueError, match="bad CRC"):
        decode_png_rgb8(bytes(flipped))
    # rewrite colortype to 6 (RGBA) WITH a fixed-up CRC -> unsupported
    import zlib

    ihdr_body = bytearray(good[16:29])
    ihdr_body[9] = 6
    patched = (
        bytes(good[:16])
        + bytes(ihdr_body)
        + struct.pack(">I", zlib.crc32(b"IHDR" + bytes(ihdr_body)) & 0xFFFFFFFF)
        + bytes(good[33:])
    )
    with _pytest.raises(ValueError, match="unsupported PNG"):
        decode_png_rgb8(patched)
    # round-7 advice: a stream cut INSIDE a chunk's 4-byte CRC field
    # must raise the contract ValueError, never escape as struct.error
    cut_in_crc = bytes(good[:31])  # IHDR CRC is bytes 29..33
    with _pytest.raises(ValueError, match="truncated chunk"):
        decode_png_rgb8(cut_in_crc)


def test_avi_dib_roundtrip_and_rejects():
    import struct

    import pytest as _pytest

    from news_graph_rag_spark.pipeline.multimodal import (
        decode_avi_dib,
        encode_avi_dib,
    )

    w, h = 3, 2  # stride padding path (9 -> 12 bytes/row)
    frames = [
        [(fi * 10 + i, fi * 20 + i, fi * 30 + i) for i in range(w * h)]
        for fi in range(3)
    ]
    avi = encode_avi_dib(w, h, frames, fps=5)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    assert decode_avi_dib(avi) == (w, h, frames)

    with _pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi_dib(b"RIFF\x04\x00\x00\x00WAVE")
    # rewrite the strf bit depth to 8 -> unsupported
    i = avi.find(b"strf")
    bad = bytearray(avi)
    struct.pack_into("<H", bad, i + 8 + 14, 8)
    with _pytest.raises(ValueError, match="unsupported AVI"):
        decode_avi_dib(bytes(bad))


def test_ann_index_rebuild_replaces_and_restores(spark, tmp_path, monkeypatch):
    """A rebuild at an existing path must actually REPLACE the index
    (not silently keep the stale one), must invalidate the resident
    centroid cache, and a rebuild that crashes must restore the old
    index intact."""
    import os

    from news_graph_rag_spark.pipeline import ann_index

    def table(vals):
        return spark.createDataFrame(
            [(i, [float(v), float(v + 1)]) for i, v in enumerate(vals)],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "re_idx")
    ann_index.build_and_save(table([1, 2, 3, 4]), path, n_centroids=2, iters=1)
    first = {r["vec_id"] for r in ann_index.load_index(spark, path)[0].collect()}
    ann_index._centroid_rows(spark, path)  # populate the resident cache

    # rebuild with MORE vectors: the new index must be served
    ann_index.build_and_save(
        table([1, 2, 3, 4, 5, 6]), path, n_centroids=2, iters=1
    )
    second = {r["vec_id"] for r in ann_index.load_index(spark, path)[0].collect()}
    assert first < second and len(second) == 6
    assert path not in ann_index._CENTROID_CACHE  # cache invalidated

    # crashing rebuild: old index restored, no leftovers
    real_rename = os.rename

    def exploding_rename(src, dst):
        if dst == path and src.startswith(path + ".staging"):
            raise RuntimeError("simulated crash at publish")
        return real_rename(src, dst)

    monkeypatch.setattr(ann_index.os, "rename", exploding_rename)
    try:
        ann_index.build_and_save(table([9]), path, n_centroids=1, iters=1)
    except RuntimeError:
        pass
    monkeypatch.setattr(ann_index.os, "rename", real_rename)
    restored = {r["vec_id"] for r in ann_index.load_index(spark, path)[0].collect()}
    assert restored == second
    assert [d for d in os.listdir(str(tmp_path)) if ".retired" in d] == []


def test_ann_append_vectors_searchable_without_rebuild(spark, tmp_path):
    """Incremental WRITE path: appended vectors land inside their
    inverted-list partitions and are immediately searchable — no
    rebuild, centroids untouched."""
    from news_graph_rag_spark.pipeline.ann_index import (
        append_vectors,
        build_and_save,
        load_index,
        search_by_id,
    )

    rows = [(i, [float((i % 5) + 1), float((i * 7) % 11 + 1)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "appendable")
    build_and_save(df, path, n_centroids=3, iters=1)
    before_cents = sorted(
        tuple(r) for r in load_index(spark, path)[1].collect()
    )

    # append exact clones of the first 5 vectors under new ids
    clones = spark.createDataFrame(
        [(500 + i, emb) for i, emb in rows[:5]],
        "vec_id long, embedding array<float>",
    )
    n = append_vectors(spark, path, clones)
    assert n == 5
    assignments, centroids, _ = load_index(spark, path)
    assert assignments.count() == 35
    # centroids byte-identical (frozen quantizer)
    assert sorted(tuple(r) for r in centroids.collect()) == before_cents

    # the clone of vector 0 ties its original exactly -> must appear in
    # a search probing vector 0 (same quantized vector, same dot)
    hits = search_by_id(spark, path, probe_vec_id=0, k=35, nprobe=3).collect()
    by_id = {r["vec_id"]: r["dot"] for r in hits}
    assert 500 in by_id
    top = max(hits, key=lambda r: (r["dot"], -r["vec_id"]))
    assert by_id[500] == top["dot"]  # clone scores exactly the max

    # round 8: the full maintenance cycle on one index — DELETE an
    # APPENDED vector, serve-time mask hides it, compaction folds it in
    from news_graph_rag_spark.pipeline.ann_index import (
        compact_tombstones,
        delete_vectors,
    )

    assert delete_vectors(spark, path, [500]) == 1
    masked = {r["vec_id"] for r in
              search_by_id(spark, path, 0, 35, 3).collect()}
    assert 500 not in masked
    assert compact_tombstones(spark, path) == 1
    assignments2, centroids2, _ = load_index(spark, path)
    assert assignments2.count() == 34
    assert sorted(tuple(r) for r in centroids2.collect()) == before_cents
    after = {r["vec_id"] for r in search_by_id(spark, path, 0, 35, 3).collect()}
    assert after == masked  # physical fold == serve-time mask


def test_avi_decode_ignores_non_video_streams():
    """A second stream (audio strl with a WAVEFORMATEX-sized strf)
    after the video stream must not shadow the video format —
    first-vids-strf wins (round-7 review)."""
    import struct

    from news_graph_rag_spark.pipeline.multimodal import (
        decode_avi_dib,
        encode_avi_dib,
    )

    w, h = 2, 2
    frames = [[(i, i + 1, i + 2) for i in range(w * h)]]
    avi = bytearray(encode_avi_dib(w, h, frames))

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    audio_strl = chunk(
        b"LIST",
        b"strl"
        + chunk(b"strh", b"auds" + b"\x00" * 52)
        + chunk(b"strf", struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)),
    )
    # splice the audio strl right before LIST movi and fix the RIFF size
    i = avi.find(b"LIST" + struct.pack("<I", 0), 0)  # not present; find movi
    i = avi.find(b"movi") - 8
    patched = bytes(avi[:i]) + audio_strl + bytes(avi[i:])
    patched = (
        b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    )
    assert decode_avi_dib(patched) == (w, h, frames)


def test_avi_decode_video_as_second_stream():
    """Audio stream FIRST (legal ordering): the video stream is ordinal
    1, so its frames are tagged '01db' — the decoder must follow the
    strh ordinal to the right frame ids instead of hardcoding stream 00
    (round-7 review: hardcoding returned zero frames silently)."""
    import struct

    from news_graph_rag_spark.pipeline.multimodal import (
        _dib_body,
        decode_avi_dib,
    )

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    w, h = 2, 2
    frames = [[(9, 8, 7), (6, 5, 4), (3, 2, 1), (0, 1, 2)]]
    strf_vid = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 2835, 2835, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", b"\x00" * 56)
        + lst(  # stream 0: audio
            b"strl",
            chunk(b"strh", b"auds" + b"\x00" * 52)
            + chunk(b"strf", struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)),
        )
        + lst(  # stream 1: video
            b"strl",
            chunk(b"strh", b"vids" + b"DIB " + b"\x00" * 48)
            + chunk(b"strf", strf_vid),
        ),
    )
    movi = lst(b"movi", chunk(b"01db", _dib_body(w, h, frames[0])))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    assert decode_avi_dib(avi) == (w, h, frames)


def test_fingerprint_stage_dir_age_gated_sweep(tmp_path, monkeypatch):
    """Round-7 advice #5: superseded staged generations must survive
    the 300 s reference window (a lazy DataFrame from before a testdata
    regen still reads the old copy at execution time) and only then be
    swept."""
    import os
    import tempfile

    from news_graph_rag_spark.queries.catalog import fingerprint_stage_dir

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1")
    base1 = fingerprint_stage_dir(str(src), "agegate")
    os.makedirs(base1)

    # regen the source -> new fingerprint; the old generation is YOUNG
    src.write_bytes(b"v2-longer")
    base2 = fingerprint_stage_dir(str(src), "agegate")
    assert base2 != base1
    assert os.path.isdir(base1), "young superseded generation was swept"

    # age the old generation past the gate -> the next call sweeps it
    os.utime(base1, (1.0, 1.0))
    fingerprint_stage_dir(str(src), "agegate")
    assert not os.path.exists(base1)


# ---------------------------------------------------------------------------
# Baseline JPEG codec (pipeline/jpeg_codec.py, VERDICT r7 #8)
# ---------------------------------------------------------------------------


def test_jpeg_flat_blocks_decode_exactly():
    """Flat 8x8 blocks keep only their DC coefficient (magnitude-paired
    cosine table), so decode equals the closed-form integer chain the
    DuckDB oracle recomputes — pixel-exact, padding included."""
    import random

    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_rgb8,
        flat_block_roundtrip_rgb,
    )

    rng = random.Random(5)
    W, H = 20, 13  # non-multiples of 8: MCU padding + crop exercised
    colors = {
        (bx, by): (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for bx in range(3)
        for by in range(2)
    }
    px = [colors[(x // 8, y // 8)] for y in range(H) for x in range(W)]
    w, h, out = decode_jpeg_rgb8(encode_jpeg_rgb8(W, H, px))
    assert (w, h) == (W, H)
    for y in range(H):
        for x in range(W):
            want = flat_block_roundtrip_rgb(*colors[(x // 8, y // 8)])
            assert out[y * W + x] == want, (x, y)


def test_jpeg_general_roundtrip_tolerance():
    """General (non-flat) images exercise the AC path end-to-end:
    nonzero AC coefficients, run-lengths, ZRL/EOB symbols. JPEG is
    lossy, so the bound is a tolerance: smooth gradients at the
    Annex-K 'quality 50' tables stay within a few levels."""
    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_rgb8,
    )

    W, H = 24, 16
    px = [
        ((x * 7) % 256, (y * 11) % 256, (x * 3 + y * 5) % 256)
        for y in range(H)
        for x in range(W)
    ]
    data = encode_jpeg_rgb8(W, H, px)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    w, h, out = decode_jpeg_rgb8(data)
    assert (w, h) == (W, H)
    errs = [abs(a - b) for p, q in zip(px, out) for a, b in zip(p, q)]
    assert max(errs) <= 16, f"max channel error {max(errs)}"
    assert sum(errs) / len(errs) <= 4.0


def test_jpeg_sharp_edges_and_gray_behave():
    """A checkerboard forces high-frequency content — worst case for
    the entropy coder (ZRL runs, several AC symbols per block); JPEG
    famously rings on it, so the assertion is parse + bounded MEAN
    error + exactness on a co-encoded flat gray region."""
    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_rgb8,
        flat_block_roundtrip_rgb,
    )

    W, H = 16, 8  # left block: checkerboard; right block: flat gray
    px = []
    for y in range(H):
        for x in range(W):
            if x < 8:
                v = 255 if (x + y) % 2 == 0 else 0
                px.append((v, v, v))
            else:
                px.append((128, 128, 128))
    w, h, out = decode_jpeg_rgb8(encode_jpeg_rgb8(W, H, px))
    assert (w, h) == (W, H)
    # flat gray block decodes exactly per the closed form
    want_gray = flat_block_roundtrip_rgb(128, 128, 128)
    for y in range(H):
        for x in range(8, 16):
            assert out[y * W + x] == want_gray
    # checkerboard: lossy but sane on average
    errs = [
        abs(a - b)
        for y in range(H)
        for x in range(8)
        for a, b in zip(px[y * W + x], out[y * W + x])
    ]
    assert sum(errs) / len(errs) < 96  # far better than decoding noise


def test_jpeg_decode_rejects_malformed_and_unsupported():
    import struct

    import pytest as _pytest

    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_rgb8,
    )

    good = encode_jpeg_rgb8(8, 8, [(10, 200, 30)] * 64)
    with _pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg_rgb8(b"\x89PNG" + good[4:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_jpeg_rgb8(good[:20])
    # SOF2 (progressive) must be rejected, not mis-decoded
    prog = bytearray(good)
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with _pytest.raises(ValueError, match="not baseline"):
        decode_jpeg_rgb8(bytes(prog))
    # an unsupported sampling combination (4x4 luma) in the SOF
    sub = bytearray(good)
    i = sub.find(b"\xff\xc0")
    sub[i + 4 + 7] = 0x33  # Y sampling factor byte -> 3x3
    with _pytest.raises(ValueError, match="subsampling"):
        decode_jpeg_rgb8(bytes(sub))
    # entropy segment cut mid-scan (drop EOI + the last scan byte)
    with _pytest.raises(ValueError, match="truncated entropy"):
        decode_jpeg_rgb8(good[:-3])
    assert struct.unpack(">H", good[2:4])[0] == 0xFFE0  # JFIF APP0 present


def test_jpeg_decoder_reads_tables_from_the_stream():
    """The decoder must honor DHT/DQT as declared by the STREAM, not
    assume the encoder's tables: re-order the DHT segments and swap
    table ids consistently — the stream still decodes identically."""
    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_rgb8,
    )

    px = [((x * 31 + y * 7) % 256,) * 3 for y in range(8) for x in range(8)]
    good = encode_jpeg_rgb8(8, 8, px)
    base = decode_jpeg_rgb8(good)

    # split the single 4-table DHT into four separate DHT segments,
    # emitted in reverse order — content identical
    import struct

    i = good.find(b"\xff\xc4")
    (ln,) = struct.unpack_from(">H", good, i + 2)
    body = good[i + 4 : i + 2 + ln]
    segs, o = [], 0
    while o < len(body):
        n = sum(body[o + 1 : o + 17])
        segs.append(body[o : o + 17 + n])
        o += 17 + n
    assert len(segs) == 4
    rebuilt = b"".join(
        b"\xff\xc4" + struct.pack(">H", len(s) + 2) + s for s in reversed(segs)
    )
    patched = good[:i] + rebuilt + good[i + 2 + ln :]
    assert decode_jpeg_rgb8(patched) == base


def test_hll_registers_estimate_error_bound(spark, sf_dir):
    """The portable HLL's register state is hash-verified by the driver
    gate; this test closes the loop on the READOUT: the driver-side
    estimate over those registers lands within the sketch's standard
    error envelope (m=256 -> ~6.5% std error; assert 3 sigma) of the
    exact per-event_type distinct user count."""
    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.catalog import load
    from news_graph_rag_spark.queries.python_ops import hll_estimate

    rows = registry()["hll_registers_users"].fn(spark, sf_dir).collect()
    regs: dict[str, dict[int, int]] = {}
    for r in rows:
        regs.setdefault(r["event_type"], {})[r["register_idx"]] = r["max_rho"]

    from pyspark.sql import functions as F

    exact = {
        r["event_type"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(regs) == set(exact)
    for et, n in exact.items():
        est = hll_estimate(regs[et])
        rel = abs(est - n) / max(n, 1)
        assert rel < 0.20, f"{et}: exact {n}, est {est:.0f} ({rel:.1%})"


def test_cmsketch_overestimate_guarantee(spark, sf_dir):
    """Count-min's one-sided error: every estimate >= the exact count
    (collisions only ADD), and with d=4 x w=512 over this key space
    most probes should be collision-free (est == exact for some)."""
    from news_graph_rag_spark.queries import registry

    rows = registry()["cmsketch_user_counts"].fn(spark, sf_dir).collect()
    assert rows, "no probe users under id 20"
    assert all(r["est_count"] >= r["exact_count"] for r in rows)
    assert any(r["est_count"] == r["exact_count"] for r in rows)


def test_ann_apply_changelog_upsert_delete(spark, tmp_path):
    """CDC -> index maintenance: a keyed changelog with out-of-order
    ops applies last-op-per-key — updates re-embed (merge-on-write:
    tombstone + compact + append), deletes vanish, untouched keys keep
    their exact rows, and the quantizer stays frozen."""
    from news_graph_rag_spark.pipeline import ann_index

    df = _clustered_vec_table(spark, dim=8, per=10, clusters=2)
    path = str(tmp_path / "idx_cdc")
    ann_index.build_and_save(df, path, n_centroids=2, iters=1)
    cents_before = sorted(
        tuple(r) for r in ann_index.load_index(spark, path)[1].collect()
    )
    vec_of = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}

    # key 3: stale update at t=1, delete at t=2 -> net DELETE
    # key 5: delete at t=1, update at t=2 (cluster-1 vector) -> net UPDATE
    # key 999: brand-new insert
    changes = spark.createDataFrame(
        [
            (3, "U", vec_of[3], 1),
            (3, "D", None, 2),
            (5, "D", None, 1),
            (5, "U", vec_of[15], 2),  # move key 5 onto cluster 1
            (999, "U", vec_of[12], 1),
        ],
        "vec_id long, op string, embedding array<float>, ts int",
    )
    out = ann_index.apply_changelog(spark, path, changes, order_col="ts")
    assert out == {"deleted": 1, "upserted": 2}
    assert not ann_index._has_tombstones(path)  # folded in

    assignments, centroids, _ = ann_index.load_index(spark, path)
    assert sorted(tuple(r) for r in centroids.collect()) == cents_before
    ids = {r["vec_id"] for r in assignments.select("vec_id").collect()}
    assert 3 not in ids and 5 in ids and 999 in ids
    assert len(ids) == 20  # 20 originals - deleted key 3 + new key 999

    # key 5 now scores exactly like vector 15 (same embedding, frozen
    # quantizer): probe 12 (cluster 1) must rank both together
    hits = {r["vec_id"]: r["dot"] for r in
            ann_index.search_by_id(spark, path, 12, 21, 2).collect()}
    assert 5 in hits and 999 in hits and 3 not in hits
    assert hits[5] == hits[15]  # re-embedded onto 15's exact vector


def test_jpeg_restart_markers_roundtrip_and_reject():
    """DRI/RSTn support: restart-coded streams decode IDENTICALLY to
    the plain scan (DC predictors reset at each marker on both sides),
    every interval produces real RST bytes, and a marker out of
    sequence raises the contract ValueError."""
    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_rgb8,
    )

    import pytest as _pytest

    W, H = 40, 24  # 5x3 = 15 MCUs
    px = [
        ((x * 7) % 256, (y * 11) % 256, (x * 3 + y * 5) % 256)
        for y in range(H)
        for x in range(W)
    ]
    plain = decode_jpeg_rgb8(encode_jpeg_rgb8(W, H, px))
    for ri in (1, 2, 7):
        data = encode_jpeg_rgb8(W, H, px, restart_interval=ri)
        assert b"\xff\xdd" in data  # DRI segment present
        assert any(bytes([0xFF, 0xD0 + m]) in data for m in range(8))
        assert decode_jpeg_rgb8(data) == plain, f"ri={ri} diverged"

    bad = bytearray(encode_jpeg_rgb8(W, H, px, restart_interval=2))
    i = max(bad.find(b"\xff\xd0"), bad.find(b"\xff\xd1"))
    bad[i + 1] = 0xD7  # out-of-sequence restart number
    with _pytest.raises(ValueError, match="expected RST"):
        decode_jpeg_rgb8(bytes(bad))


def test_jpeg_420_subsampling_roundtrips():
    """4:2:0 — the dominant real-world JPEG mode: 16x16 MCUs of four Y
    blocks plus box-downsampled chroma. Flat MACROBLOCKS stay exact
    (flat chroma downsamples to flat, same closed form), general images
    land in tolerance, restarts compose, and 4:2:2 is rejected."""
    import random

    import pytest as _pytest

    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_rgb8,
        flat_block_roundtrip_rgb,
    )

    rng = random.Random(9)
    W, H = 36, 20  # pads to 48x32 (3x2 MCUs), crops back
    colors = {
        (mx, my): (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for mx in range(3)
        for my in range(2)
    }
    px = [colors[(x // 16, y // 16)] for y in range(H) for x in range(W)]
    w, h, out = decode_jpeg_rgb8(encode_jpeg_rgb8(W, H, px, subsampling="420"))
    assert (w, h) == (W, H)
    for y in range(H):
        for x in range(W):
            assert out[y * W + x] == flat_block_roundtrip_rgb(
                *colors[(x // 16, y // 16)]
            )

    W2, H2 = 32, 32
    px2 = [
        ((x * 5) % 256, (y * 9) % 256, (x * 2 + y * 3) % 256)
        for y in range(H2)
        for x in range(W2)
    ]
    d420 = encode_jpeg_rgb8(W2, H2, px2, subsampling="420")
    d444 = encode_jpeg_rgb8(W2, H2, px2)
    assert len(d420) < len(d444)  # subsampling actually saves bytes
    w2, h2, o2 = decode_jpeg_rgb8(d420)
    errs = [abs(a - b) for p, q in zip(px2, o2) for a, b in zip(p, q)]
    assert sum(errs) / len(errs) < 16

    d3 = encode_jpeg_rgb8(W2, H2, px2, subsampling="420", restart_interval=2)
    assert decode_jpeg_rgb8(d3) == (w2, h2, o2)

    bad = bytearray(d420)
    i = bad.find(b"\xff\xc0")
    bad[i + 4 + 7] = 0x12  # 1x2 vertical-only sampling: not in the trio
    with _pytest.raises(ValueError, match="subsampling"):
        decode_jpeg_rgb8(bytes(bad))
    with _pytest.raises(ValueError, match="subsampling"):
        encode_jpeg_rgb8(4, 4, [(0, 0, 0)] * 16, subsampling="411")


def test_histogram_quantiles_bracket_exact(spark, sf_dir):
    """The histogram quantile readout is hash-verified by the gate;
    this closes the loop on ACCURACY: for each (priority, pct) the
    estimate's bucket must CONTAIN the exact sort-based percentile
    (est_max_cents >= exact >= bucket lower edge)."""
    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.catalog import load

    est = {
        (r["o_orderpriority"], r["pct"]): (r["est_bucket"], r["est_max_cents"])
        for r in registry()["histogram_quantiles_priority"]
        .fn(spark, sf_dir)
        .collect()
    }
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    rows = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("prio"), cents.alias("cents"))
        .collect()
    )
    by_prio: dict[str, list[int]] = {}
    for r in rows:
        by_prio.setdefault(r["prio"], []).append(r["cents"])
    for prio, vals in by_prio.items():
        vals.sort()
        for pct in (50, 95, 99):
            k = -(-len(vals) * pct // 100)  # ceil rank
            exact = vals[k - 1]
            bucket, bmax = est[(prio, pct)]
            assert bucket * 5_000_000 <= exact <= bmax, (prio, pct)


def test_bpe_train_matches_reference_and_applies(spark):
    """Distributed BPE (round 8): merge rules learned from the
    word-frequency table must match the classic single-machine
    algorithm (Sennrich-style, ties lexicographic) EXACTLY, training
    must be deterministic under repartitioning, and application must
    reproduce training's own segmentation on the training corpus."""
    from collections import Counter

    from news_graph_rag_spark.pipeline.bpe import EOW, apply_bpe, train_bpe

    corpus = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new new new"),
        (2, "wide wider widest low new"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    merges = train_bpe(docs, num_merges=12)

    # naive reference on the same word-frequency table
    wc = Counter(w for _, t in corpus for w in t.lower().split())
    vocab = {tuple(w) + (EOW,): n for w, n in wc.items()}
    ref = []
    for _ in range(12):
        pc = Counter()
        for syms, n in vocab.items():
            for p in zip(syms, syms[1:]):
                pc[p] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        ref.append(best)
        a, b = best
        new: dict = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + n
        vocab = new
    assert merges == ref

    # deterministic under physical partitioning
    assert train_bpe(docs.repartition(7), num_merges=12) == merges

    # application: every token is a learned symbol; frequent whole
    # words collapse to single tokens; NULL text tokenizes to empty
    out = {r["doc_id"]: r for r in apply_bpe(docs, merges).collect()}
    assert "low" + EOW in out[0]["tokens"]
    assert "new" + EOW in out[1]["tokens"]
    assert all(r["n_tokens"] == len(r["tokens"]) for r in out.values())
    with_null = spark.createDataFrame(
        [(9, None)], "doc_id long, text string"
    )
    nr = apply_bpe(with_null, merges).collect()[0]
    assert nr["n_tokens"] == 0 and nr["tokens"] == []


def test_bpe_training_releases_checkpoint_blocks(spark):
    """train_bpe's per-round localCheckpoints must not accumulate for
    the life of the session (the round-7 crawl-loop leak class): after
    training, the persistent-RDD count returns to its baseline."""
    from news_graph_rag_spark.pipeline.bpe import train_bpe

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * (i % 3 + 1)) for i in range(10)],
        "doc_id long, text string",
    )
    train_bpe(docs, num_merges=20, checkpoint_every=4)
    after = jsc.getPersistentRDDs().size()
    assert after <= before, f"leaked {after - before} checkpoint RDDs"


def test_ann_filtered_search_prefilters_not_postfilters(spark, tmp_path):
    """search_by_vector_filtered must fill k from the ALLOWED subset
    (pre-filter before ranking): with a selective predicate, a
    post-filter of the unfiltered top-k would under-fill, but the
    pre-filter returns exactly k allowed ids — and every returned id
    is allowed."""
    from news_graph_rag_spark.pipeline import ann_index

    df = _clustered_vec_table(spark, dim=8, per=40, clusters=2)
    path = str(tmp_path / "idx_filter")
    ann_index.build_and_save(df, path, n_centroids=2, iters=1)
    qv = [r["embedding"] for r in df.filter("vec_id = 0").collect()][0]

    allowed = df.filter("vec_id % 10 = 7").select("vec_id")  # 8 of 80
    got = ann_index.search_by_vector_filtered(
        spark, path, qv, allowed, k=5, nprobe=2
    ).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == 5
    assert all(v % 10 == 7 for v in ids)
    # the unfiltered top-5 shares ~nothing with the allowed set — a
    # post-filter would have returned far fewer than k
    unfiltered = {
        r["vec_id"]
        for r in ann_index.search_by_vector(spark, path, qv, k=5, nprobe=2).collect()
    }
    assert len(unfiltered & set(ids)) < 5
    # tombstones compose: delete an allowed winner, it vanishes
    ann_index.delete_vectors(spark, path, [ids[0]])
    again = [
        r["vec_id"]
        for r in ann_index.search_by_vector_filtered(
            spark, path, qv, allowed, k=5, nprobe=2
        ).collect()
    ]
    assert ids[0] not in again and len(again) == 5


def test_jpeg_grayscale_roundtrips():
    """Single-component baseline JPEG: flat blocks decode exactly per
    the luma closed form (replicated to RGB), gradients land in
    tolerance, restarts compose, and the scan must cover every frame
    component (a 3-component SOS over a 1-component SOF rejects)."""
    import random

    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_gray8,
        flat_block_roundtrip_gray,
    )

    rng = random.Random(4)
    W, H = 20, 13
    blocks = {(bx, by): rng.randrange(256) for bx in range(3) for by in range(2)}
    vals = [blocks[(x // 8, y // 8)] for y in range(H) for x in range(W)]
    w, h, out = decode_jpeg_rgb8(encode_jpeg_gray8(W, H, vals))
    assert (w, h) == (W, H)
    for y in range(H):
        for x in range(W):
            g = flat_block_roundtrip_gray(blocks[(x // 8, y // 8)])
            assert out[y * W + x] == (g, g, g)

    vals2 = [(x * 9 + y * 5) % 256 for y in range(16) for x in range(24)]
    w2, h2, o2 = decode_jpeg_rgb8(encode_jpeg_gray8(24, 16, vals2))
    errs = [abs(o2[i][0] - vals2[i]) for i in range(len(vals2))]
    assert sum(errs) / len(errs) < 8
    assert all(p[0] == p[1] == p[2] for p in o2)
    d3 = encode_jpeg_gray8(24, 16, vals2, restart_interval=2)
    assert decode_jpeg_rgb8(d3) == (w2, h2, o2)


def test_png_grayscale_roundtrip_all_filters():
    """Colortype-0 PNG (round 8): lossless round-trip with the filter
    types cycling by row in the 1-byte-pixel geometry (Sub/Average/
    Paeth reference the previous BYTE = previous PIXEL at bpp=1 —
    a different predictor topology than RGB's bpp=3), luma replicated
    to RGB on decode; >= 5 rows so every filter executes."""
    from news_graph_rag_spark.pipeline.multimodal import (
        decode_png_rgb8,
        encode_png_gray8,
    )

    for w, h in ((6, 11), (1, 7), (16, 5)):
        vals = [(x * 13 + y * 29 + w) % 256 for y in range(h) for x in range(w)]
        got = decode_png_rgb8(encode_png_gray8(w, h, vals))
        assert got == (w, h, [(v, v, v) for v in vals])


def test_jpeg_422_subsampling_roundtrips():
    """4:2:2 (2x1 sampling — the broadcast-video mode) completes the
    sampling trio: 16x8 MCUs of two Y blocks plus horizontally
    box-downsampled chroma. Flat 16x8 macroblocks decode exactly per
    the closed form, sizes order 444 > 422 > 420 on the same image,
    and restarts compose."""
    import random

    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_rgb8,
        flat_block_roundtrip_rgb,
    )

    rng = random.Random(12)
    W, H = 36, 12  # pads to 48x16 (3x2 MCUs of 16x8), crops back
    colors = {
        (mx, my): (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for mx in range(3)
        for my in range(2)
    }
    px = [colors[(x // 16, y // 8)] for y in range(H) for x in range(W)]
    w, h, out = decode_jpeg_rgb8(encode_jpeg_rgb8(W, H, px, subsampling="422"))
    assert (w, h) == (W, H)
    for y in range(H):
        for x in range(W):
            assert out[y * W + x] == flat_block_roundtrip_rgb(
                *colors[(x // 16, y // 8)]
            )

    W2, H2 = 32, 16
    px2 = [
        ((x * 5) % 256, (y * 9) % 256, (x * 2 + y * 3) % 256)
        for y in range(H2)
        for x in range(W2)
    ]
    d444 = encode_jpeg_rgb8(W2, H2, px2)
    d422 = encode_jpeg_rgb8(W2, H2, px2, subsampling="422")
    d420 = encode_jpeg_rgb8(W2, H2, px2, subsampling="420")
    assert len(d444) > len(d422) > len(d420)
    w2, h2, o2 = decode_jpeg_rgb8(d422)
    errs = [abs(a - b) for p, q in zip(px2, o2) for a, b in zip(p, q)]
    assert sum(errs) / len(errs) < 8
    d3 = encode_jpeg_rgb8(W2, H2, px2, subsampling="422", restart_interval=3)
    assert decode_jpeg_rgb8(d3) == (w2, h2, o2)


def test_bpe_train_apply_agree_on_unicode_whitespace(spark):
    """Train and apply must share ONE whitespace definition (ASCII):
    U+00A0 (non-breaking space, ubiquitous in scraped news) is NOT a
    separator on either side, so 'a\\u00a0b' is one word in both the
    learned vocabulary and the applied tokenization."""
    from news_graph_rag_spark.pipeline.bpe import (
        EOW,
        apply_bpe,
        train_bpe,
        word_counts,
    )

    docs = spark.createDataFrame(
        [(0, "aa bb aa bb aa bb cc")],
        "doc_id long, text string",
    )
    words = {r["word"]: r["n"] for r in word_counts(docs).collect()}
    assert words == {"aa bb": 3, "cc": 1}  # NBSP kept inside the word
    merges = train_bpe(docs, num_merges=8)
    out = apply_bpe(docs, merges).collect()[0]
    # the frequent NBSP word collapses to one learned token on APPLY
    # too — divergent splitting would break it into two words and the
    # merged symbol (containing the NBSP) could never be produced
    assert "aa bb" + EOW in out["tokens"]


def test_jpeg_decoder_spec_edge_cases():
    """Round-8 review fixes: (a) optional 0xFF fill bytes before a
    marker are spec-legal and must be skipped; (b) malformed DQT/DHT/
    SOF/SOS segments raise the contract ValueError, never struct.error
    or IndexError; (c) a single-component scan decodes whatever
    sampling factor the SOF declares (jpegtran -grayscale keeps 0x22)."""
    import struct

    import pytest as _pytest

    from news_graph_rag_spark.pipeline.jpeg_codec import (
        decode_jpeg_rgb8,
        encode_jpeg_gray8,
        encode_jpeg_rgb8,
    )

    good = encode_jpeg_rgb8(8, 8, [(10, 200, 30)] * 64)
    base = decode_jpeg_rgb8(good)

    # (a) insert fill bytes before the SOF marker
    i = good.find(b"\xff\xc0")
    padded = good[:i] + b"\xff\xff\xff" + good[i:]
    assert decode_jpeg_rgb8(padded) == base

    # (b) malformed segments -> ValueError (not struct.error/IndexError)
    short_sof = bytearray(good)
    i = short_sof.find(b"\xff\xc0")
    struct.pack_into(">H", short_sof, i + 2, 4)  # declared length 4
    with _pytest.raises(ValueError):
        decode_jpeg_rgb8(bytes(short_sof))
    short_dqt = bytearray(good)
    i = short_dqt.find(b"\xff\xdb")
    struct.pack_into(">H", short_dqt, i + 2, 10)  # body < 65 bytes
    with _pytest.raises(ValueError, match="malformed DQT"):
        decode_jpeg_rgb8(bytes(short_dqt))
    short_dht = bytearray(good)
    i = short_dht.find(b"\xff\xc4")
    struct.pack_into(">H", short_dht, i + 2, 8)  # body < 17 bytes
    with _pytest.raises(ValueError, match="malformed DHT"):
        decode_jpeg_rgb8(bytes(short_dht))

    # (c) grayscale with a declared 2x2 sampling factor still decodes
    gray = bytearray(encode_jpeg_gray8(8, 8, list(range(64))))
    want = decode_jpeg_rgb8(bytes(gray))
    i = gray.find(b"\xff\xc0")
    gray[i + 4 + 7] = 0x22
    assert decode_jpeg_rgb8(bytes(gray)) == want


def test_ann_compaction_crash_recovery(spark, tmp_path, monkeypatch):
    """Round-8 review: a hard kill at any rename of a tombstone
    compaction must be healable. The compaction swaps a staged copy of
    the whole index in, so no list is ever missing from a live index
    and nothing stray lands inside the partitioned root (where Spark
    would read it as a bogus partition value). When the kill lands
    between the two renames — with the in-process restore dead too —
    the next compaction restores the retired copy before anything
    else; afterwards every list is readable and searches equal the
    masked results from before the crash."""
    import os

    import pytest as _pytest

    from news_graph_rag_spark.pipeline import ann_index

    def listed(apath):
        return sorted(d for d in os.listdir(apath) if d.startswith("centroid_id="))

    df = _clustered_vec_table(spark, dim=8, per=12, clusters=2)
    real_rename = os.rename
    for crash_at in (1, 2):  # the retire rename, the publish rename
        path = str(tmp_path / f"idx_crashc{crash_at}")
        apath = os.path.join(path, "assignments.parquet")
        ann_index.build_and_save(df, path, n_centroids=2, iters=1)
        before = [
            tuple(r) for r in ann_index.search_by_id(spark, path, 0, 5, 2).collect()
        ]
        victim = before[0][1]
        ann_index.delete_vectors(spark, path, [victim])
        masked = [
            tuple(r) for r in ann_index.search_by_id(spark, path, 0, 5, 2).collect()
        ]
        assert victim not in {t[1] for t in masked}
        lists = listed(apath)
        calls = []

        def crash(srcp, dstp):
            # the crash_at-th rename and EVERY later one fail —
            # including the in-process restore, like a real SIGKILL
            calls.append(srcp)
            if len(calls) >= crash_at:
                raise RuntimeError("simulated SIGKILL at a rename")
            real_rename(srcp, dstp)

        monkeypatch.setattr(ann_index.os, "rename", crash)
        with _pytest.raises(RuntimeError):
            ann_index.compact_tombstones(spark, path)
        monkeypatch.setattr(ann_index.os, "rename", real_rename)
        # a kill at the retire leaves the live index whole, with nothing
        # stray inside its partitioned root; a kill at the publish
        # leaves no live index, only the retired copy
        if crash_at == 1:
            assert listed(apath) == lists
            assert all(
                d.startswith(("centroid_id=", "_", ".")) for d in os.listdir(apath)
            )
        else:
            assert not os.path.exists(path)

        # next compaction heals the index and folds the tombstone
        assert ann_index.compact_tombstones(spark, path) == 1
        assert listed(apath) == lists
        assert sum(
            spark.read.parquet(os.path.join(apath, d)).count() for d in lists
        ) == df.count() - 1
        after = [
            tuple(r) for r in ann_index.search_by_id(spark, path, 0, 5, 2).collect()
        ]
        assert after == masked, crash_at
        assert not [
            d for d in os.listdir(str(tmp_path)) if ".retired-" in d or ".staging-" in d
        ]


def test_avi_mjpeg_roundtrip_gating_and_closed_form():
    """MJPEG-in-AVI (round 9): frames decode through the real JPEG
    codec, flat blocks match the closed form, and codec gating is
    strict in both directions (DIB decoder rejects MJPG and vice
    versa; a frame whose SOF0 dims disagree with the container
    raises)."""
    import pytest as _pytest

    from news_graph_rag_spark.pipeline.jpeg_codec import (
        encode_jpeg_rgb8,
        flat_block_roundtrip_rgb,
    )
    from news_graph_rag_spark.pipeline.multimodal import (
        decode_avi_dib,
        decode_avi_mjpeg,
        encode_avi_dib,
        encode_avi_mjpeg,
    )

    W, H = 16, 8  # 2x1 flat 8x8 blocks per frame

    def flat_frame(colors):
        return [colors[x // 8] for _y in range(H) for x in range(W)]

    src = [
        flat_frame([(10, 200, 30), (250, 5, 120)]),
        flat_frame([(0, 0, 0), (255, 255, 255)]),
        flat_frame([(128, 64, 192), (33, 99, 166)]),
    ]
    jpegs = [encode_jpeg_rgb8(W, H, f) for f in src]
    avi = encode_avi_mjpeg(W, H, jpegs, fps=5)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    dw, dh, frames = decode_avi_mjpeg(avi)
    assert (dw, dh) == (W, H) and len(frames) == len(src)
    for f_in, f_out in zip(src, frames):
        for blk in range(2):
            assert f_out[blk * 8] == flat_block_roundtrip_rgb(*f_in[blk * 8])
        # flatness survives the roundtrip across the whole block
        assert all(
            f_out[y * W + x] == f_out[(y % 8) // 8 * W + blk * 8]
            for blk in range(2)
            for y in range(H)
            for x in range(blk * 8, blk * 8 + 8)
        )

    dib = encode_avi_dib(3, 2, [[(1, 2, 3)] * 6])
    with _pytest.raises(ValueError, match="not an MJPG AVI"):
        decode_avi_mjpeg(dib)
    with _pytest.raises(ValueError, match="unsupported AVI"):
        decode_avi_dib(avi)
    # container/codec dimension mismatch must surface
    with _pytest.raises(ValueError, match="container says"):
        decode_avi_mjpeg(encode_avi_mjpeg(W + 8, H, jpegs))


def test_ann_ivf_recall_floor(spark, sf_dir):
    """The documented recall floor for the pruned ivf-int8 search
    (SCALE.md): probing 2 of 8 lists must keep mean recall@10 >= 0.8
    over the telemetry probes, and no probe below 0.5. The catalog
    entry ann_ivf_recall_at_k emits the same hit counts
    (value-verified); this pins the quality bar so a quantizer or
    assignment regression fails loudly instead of shipping a worse
    index."""
    from news_graph_rag_spark.queries.catalog import registry

    rows = registry()["ann_ivf_recall_at_k"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    recalls = {int(r["probe_id"]): r["n_hits"] / r["k"] for r in rows}
    assert sum(recalls.values()) / len(recalls) >= 0.8, recalls
    assert min(recalls.values()) >= 0.5, recalls


# ---- H.264 I_PCM baseline subset (round 10, VERDICT r9 #8) ---------------


def test_h264_ipcm_roundtrip_bit_exact():
    """I_PCM is lossless: encode -> decode must reproduce every plane
    byte-for-byte, across frame counts and MB grids, including all-zero
    planes (the emulation-prevention worst case)."""
    import random

    from news_graph_rag_spark.pipeline.h264_codec import (
        decode_h264_ipcm,
        encode_h264_ipcm,
    )

    rng = random.Random(7)
    for W, H, nf in [(16, 16, 1), (32, 16, 2), (48, 32, 3)]:
        frames = []
        for f in range(nf):
            n, c = W * H, (W // 2) * (H // 2)
            y = [0] * n if f == 0 else [rng.randrange(256) for _ in range(n)]
            cb = [0] * c if f == 0 else [rng.randrange(256) for _ in range(c)]
            cr = [rng.randrange(256) for _ in range(c)]
            frames.append((y, cb, cr))
        dw, dh, dec = decode_h264_ipcm(encode_h264_ipcm(W, H, frames))
        assert (dw, dh, len(dec)) == (W, H, nf)
        for (y, cb, cr), (y2, cb2, cr2) in zip(frames, dec):
            assert y == list(y2) and cb == list(cb2) and cr == list(cr2)


def test_h264_escape_matches_sequential_reference():
    """The regex emulation-prevention escape must equal the spec's
    sequential zero-run-counter algorithm on adversarial zero runs
    (property promised in h264_codec._escape_rbsp's docstring)."""
    import random

    from news_graph_rag_spark.pipeline.h264_codec import (
        _escape_rbsp,
        _unescape_rbsp,
    )

    def esc_ref(rbsp):
        out = bytearray()
        zeros = 0
        for b in rbsp:
            if zeros >= 2 and b <= 3:
                out.append(3)
                zeros = 0
            out.append(b)
            zeros = zeros + 1 if b == 0 else 0
        return bytes(out)

    rng = random.Random(11)
    for _ in range(2000):
        raw = bytes(
            rng.choice([0, 0, 0, 1, 2, 3, 255])
            for _ in range(rng.randint(0, 50))
        )
        e = _escape_rbsp(raw)
        assert e == esc_ref(raw)
        assert _unescape_rbsp(e) == raw
    # the escape actually fires on PCM payloads with zero runs
    assert _escape_rbsp(b"\x00\x00\x00\x00") == b"\x00\x00\x03\x00\x00"


def test_h264_stream_structure_and_seam():
    """Structural conformance of the written stream (start codes, NAL
    types, baseline SPS) and the documented seam: CAVLC macroblocks,
    CABAC PPS, and non-I slices must raise NotImplementedError — never
    misdecode."""
    import pytest as _pytest

    from news_graph_rag_spark.pipeline.h264_codec import (
        _BitWriter,
        _nal,
        _parse_sps,
        _write_pps,
        _write_sps,
        decode_h264_ipcm,
        encode_h264_ipcm,
    )

    enc = encode_h264_ipcm(16, 16, [([1] * 256, [2] * 64, [3] * 64)])
    assert enc.startswith(b"\x00\x00\x00\x01\x67")  # ref_idc 3, SPS (7)
    assert b"\x00\x00\x00\x01\x68" in enc  # PPS (8)
    assert b"\x00\x00\x00\x01\x65" in enc  # IDR slice (5)
    sps_rbsp = _write_sps(2, 3)
    assert sps_rbsp[0] == 66  # baseline profile_idc
    parsed = _parse_sps(sps_rbsp)
    assert (parsed["width_mbs"], parsed["height_mbs"]) == (2, 3)
    # dimensions must be whole macroblocks
    with _pytest.raises(ValueError, match="whole macroblocks"):
        encode_h264_ipcm(20, 16, [([0] * 320, [0] * 80, [0] * 80)])
    # seam: a CAVLC-coded macroblock (mb_type != I_PCM) raises
    w = _BitWriter()
    for v in (0, 7, 0):  # first_mb, slice_type I, pps_id
        w.ue(v)
    w.u(4, 0)  # frame_num
    w.ue(0)  # idr_pic_id
    w.u(2, 0)  # dec_ref_pic_marking
    w.se(0)  # slice_qp_delta
    w.ue(0)  # mb_type 0 = I_4x4 -> CAVLC territory
    w.trailing_bits()
    bad = _nal(7, _write_sps(1, 1)) + _nal(8, _write_pps()) + _nal(5, w.rbsp())
    with _pytest.raises(NotImplementedError, match="library seam"):
        decode_h264_ipcm(bad)
    # seam: CABAC PPS raises
    wp = _BitWriter()
    wp.ue(0)
    wp.ue(0)
    wp.u(1, 1)  # entropy_coding_mode_flag = CABAC
    wp.trailing_bits()
    with _pytest.raises(NotImplementedError, match="CABAC"):
        decode_h264_ipcm(_nal(7, _write_sps(1, 1)) + _nal(8, wp.rbsp()))


def test_h264_foreign_header_variants():
    """Conformant variants our encoder never writes must either decode
    correctly or raise — never land the bit cursor in the wrong field
    (round-10 review finding): non-IDR slices carry dec_ref_pic_marking
    when nal_ref_idc != 0, poc_type-0 SPS adds pic_order_cnt_lsb to the
    slice header, and frame cropping / MMCO are refused."""
    import pytest as _pytest

    from news_graph_rag_spark.pipeline.h264_codec import (
        _BitWriter,
        _nal,
        _parse_sps,
        _write_pps,
        _write_sps,
        decode_h264_ipcm,
    )

    def slice_rbsp(idr, poc_bits=0, adaptive=None, pcm=True):
        w = _BitWriter()
        w.ue(0)  # first_mb_in_slice
        w.ue(7 if idr else 2)  # I slice
        w.ue(0)  # pps id
        w.u(4, 0)  # frame_num
        if idr:
            w.ue(0)  # idr_pic_id
        if poc_bits:
            w.u(poc_bits, 0)  # pic_order_cnt_lsb
        if idr:
            w.u(2, 0)  # dec_ref_pic_marking (IDR)
        elif adaptive is not None:
            w.u(1, adaptive)  # adaptive_ref_pic_marking_mode_flag
        w.se(0)  # slice_qp_delta
        if pcm:
            w.ue(25)  # I_PCM
            w.align_zero()
            w.raw_bytes(bytes(range(200)) + bytes(56) + b"\x55" * 128)
        w.trailing_bits()
        return w.rbsp()

    base = _nal(7, _write_sps(1, 1)) + _nal(8, _write_pps())
    # non-IDR I_PCM slice, ref_idc=0 -> NO dec_ref_pic_marking: decodes
    _, _, frames = decode_h264_ipcm(
        base + _nal(1, slice_rbsp(idr=False), ref_idc=0)
    )
    assert len(frames) == 1 and frames[0][0][:3] == [0, 1, 2]
    # non-IDR, ref_idc=2, adaptive flag 0 -> marker read, still decodes
    _, _, frames = decode_h264_ipcm(
        base + _nal(1, slice_rbsp(idr=False, adaptive=0), ref_idc=2)
    )
    assert len(frames) == 1 and frames[0][2] == [0x55] * 64
    # non-IDR, adaptive flag 1 (MMCO ops follow) -> refuse, not misparse
    with _pytest.raises(NotImplementedError, match="MMCO"):
        decode_h264_ipcm(
            base + _nal(1, slice_rbsp(idr=False, adaptive=1), ref_idc=2)
        )
    # poc_type-0 SPS: slice header gains pic_order_cnt_lsb -> decodes
    wsps = _BitWriter()
    wsps.u(8, 66)
    wsps.u(8, 0)
    wsps.u(8, 10)
    wsps.ue(0)  # sps id
    wsps.ue(0)  # log2_max_frame_num_minus4
    wsps.ue(0)  # poc_type 0
    wsps.ue(0)  # log2_max_pic_order_cnt_lsb_minus4 -> 4 bits
    wsps.ue(0)  # max_num_ref_frames
    wsps.u(1, 0)
    wsps.ue(0)  # width_mbs-1
    wsps.ue(0)  # height_mbs-1
    wsps.u(1, 1)  # frame_mbs_only
    wsps.u(1, 1)  # direct_8x8
    wsps.u(1, 0)  # no cropping
    wsps.u(1, 0)  # no vui
    wsps.trailing_bits()
    poc0 = _nal(7, wsps.rbsp()) + _nal(8, _write_pps()) + _nal(
        5, slice_rbsp(idr=True, poc_bits=4)
    )
    _, _, frames = decode_h264_ipcm(poc0)
    assert len(frames) == 1 and frames[0][0][:3] == [0, 1, 2]
    # cropped SPS -> refuse (dimensions would not be whole MBs)
    wc = _BitWriter()
    wc.u(8, 66)
    wc.u(8, 0)
    wc.u(8, 10)
    for v in (0, 0, 2, 0):  # sps id, log2_mfn, poc_type 2, max_ref
        wc.ue(v)
    wc.u(1, 0)
    wc.ue(0)
    wc.ue(0)
    wc.u(1, 1)
    wc.u(1, 1)
    wc.u(1, 1)  # frame_cropping_flag = 1
    for _ in range(4):
        wc.ue(0)
    wc.u(1, 0)
    wc.trailing_bits()
    with _pytest.raises(NotImplementedError, match="cropping"):
        _parse_sps(wc.rbsp())


def test_semantic_dedup_anchor_invariants(spark, sf_dir):
    """SemDeDup entry invariants: the smallest vec_id in every cluster
    is always kept (it has no smaller-id neighbor to drop against),
    results are deterministic across invocations, and the drop path is
    actually exercised on this corpus (non-degenerate threshold)."""
    from collections import defaultdict

    from news_graph_rag_spark.queries.catalog import registry

    fn = registry()["semantic_dedup_clustered"].fn
    rows = fn(spark, sf_dir).collect()
    again = fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r["centroid_id"]].append((r["vec_id"], r["kept"]))
    for cid, vs in by_cluster.items():
        vs.sort()
        assert vs[0][1] == 1, f"cluster {cid}: smallest id was dropped"
    assert any(k == 0 for _, k in sum(by_cluster.values(), []))


def test_resize_bilinear_rgb_identity_and_known_values():
    """Round-12 kernel: up == down is the identity; a hand-computed
    2x2 -> 3/2 upscale pins the separable floor-of-floor arithmetic
    and the edge clamp."""
    from news_graph_rag_spark.pipeline.multimodal import resize_bilinear_rgb

    px = [(0, 10, 20), (30, 40, 50), (60, 70, 80), (90, 100, 110)]
    assert resize_bilinear_rgb(2, 2, px, up=1, down=1) == (2, 2, px)

    wo, ho, out = resize_bilinear_rgb(2, 2, px, up=3, down=2)
    assert (wo, ho) == (2, 2)  # ((2-1)*3)//2 + 1 = 2
    # horizontal pass k=1: pos=2 -> i=0, r=2 -> (a*1 + b*2)//3
    hrow0 = [(0, 10, 20), ((0 + 60) // 3, (10 + 80) // 3, (20 + 100) // 3)]
    assert out[0] == hrow0[0] and out[1] == hrow0[1]
    # vertical pass k2=1: pos=2 -> j=0, r2=2 over the h-passed rows
    hrow1 = [(60, 70, 80), ((60 + 180) // 3, (70 + 200) // 3, (80 + 220) // 3)]
    exp = tuple((a + 2 * b) // 3 for a, b in zip(hrow0[1], hrow1[1]))
    assert out[3] == exp

    with pytest.raises(ValueError):
        resize_bilinear_rgb(2, 2, px[:3])


def test_resize_bilinear_rgb_matches_float_reference():
    """Round-12 differential: the integer kernel equals a float
    separable bilinear (same sample-position convention) within 2
    counts per channel — one floor per pass is the only divergence —
    on a deterministic pseudo-random image."""
    from news_graph_rag_spark.pipeline.multimodal import resize_bilinear_rgb

    w, h = 7, 5
    px = [
        tuple((11 + 3 * x + 7 * y + 5 * c) % 256 for c in range(3))
        for y in range(h)
        for x in range(w)
    ]
    wo, ho, out = resize_bilinear_rgb(w, h, px, up=3, down=2)
    assert (wo, ho) == (((w - 1) * 3) // 2 + 1, ((h - 1) * 3) // 2 + 1)

    def fsample(k):  # 1-D float positions
        return k * 2 / 3

    for k2 in range(ho):
        sy = fsample(k2)
        j = min(int(sy), h - 1)
        ry = sy - j
        for k in range(wo):
            sx = fsample(k)
            i = min(int(sx), w - 1)
            rx = sx - i
            for c in range(3):
                s = lambda xx, yy: px[  # noqa: E731
                    min(yy, h - 1) * w + min(xx, w - 1)
                ][c]
                top = s(i, j) * (1 - rx) + s(i + 1, j) * rx
                bot = s(i, j + 1) * (1 - rx) + s(i + 1, j + 1) * rx
                ref = top * (1 - ry) + bot * ry
                got = out[k2 * wo + k][c]
                assert abs(got - ref) <= 2, (k, k2, c, got, ref)


def test_resize_bilinear_rgb_degenerate_1px_dims():
    """Round-13 edge (VERDICT r12 #7): w=1 / h=1 inputs exercise the
    min(i+1, w-1) edge clamp on EVERY sample — a 1×1 image must pass
    through unchanged, and 1×H / W×1 strips must equal the pure 1-D
    lerp along their long axis."""
    from news_graph_rag_spark.pipeline.multimodal import resize_bilinear_rgb

    assert resize_bilinear_rgb(1, 1, [(9, 8, 7)]) == (1, 1, [(9, 8, 7)])

    def lerp1d(samples, up=3, down=2):
        n = len(samples)
        no = ((n - 1) * up) // down + 1
        out = []
        for k in range(no):
            i, r = (k * down) // up, (k * down) % up
            j = min(i + 1, n - 1)
            out.append(
                tuple(
                    (samples[i][c] * (up - r) + samples[j][c] * r) // up
                    for c in range(3)
                )
            )
        return out

    col = [(10, 0, 200), (20, 5, 100), (200, 255, 0), (7, 7, 7)]
    wo, ho, out = resize_bilinear_rgb(1, 4, col)
    assert (wo, ho) == (1, 5) and out == lerp1d(col)
    row = [(0, 1, 2), (100, 101, 102), (255, 0, 128)]
    wo, ho, out = resize_bilinear_rgb(3, 1, row)
    assert (wo, ho) == (4, 1) and out == lerp1d(row)


def _write_embeddings(tmp_path, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": list(range(len(vecs))),
                "embedding": [[float(x) for x in v] for v in vecs],
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )


def test_ivfpq_recall_floor_clustered(spark, tmp_path):
    """Round-13 (VERDICT r12 #3): recall@10 of the IVF-PQ path vs the
    exact int8 scan on CODEBOOK-RECOVERABLE data — 8 well-separated
    clusters whose residuals are drawn from ≤4 fixed patterns per
    subspace (every vector pins the same amax, so int8 quantization is
    per-component deterministic and same-(cluster, pattern) vectors
    share exact residual subvectors). The trained codebooks then
    capture the residuals exactly, ADC distances are exact, and the PQ
    ranking must match the exact scan — the machinery end to end, with
    the approximation error engineered to zero. Asserted ≥ 0.9."""
    import numpy as np

    from news_graph_rag_spark.pipeline.ann_index import (
        build_and_save,
        search_by_id,
        search_pq_by_id,
        train_pq,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(-80, 81, size=(8, 64))
    base[:, 0] = 100  # every vector's abs-max component → constant amax
    pats = rng.randint(-10, 11, size=(8, 4, 8))  # per (subspace, pattern)
    pats[0, :, 0] = 0  # keep component 0 at exactly 100
    vecs = []
    for i in range(320):
        v = base[i % 8].copy()
        for s in range(8):
            v[s * 8 : (s + 1) * 8] += pats[s, rng.randint(0, 4)]
        vecs.append(v)
    _write_embeddings(tmp_path, vecs)
    path = str(tmp_path / "idx")
    build_and_save(
        spark.read.parquet(str(tmp_path / "embeddings.parquet")),
        path,
        n_centroids=8,
        iters=1,
    )
    train_pq(spark, path, m=8, ks=16)
    exact = {
        r["vec_id"]
        for r in search_by_id(spark, path, probe_vec_id=0, k=10, nprobe=8).collect()
    }
    got = {
        r["vec_id"]
        for r in search_pq_by_id(
            spark, path, probe_vec_id=0, k=10, nprobe=8
        ).collect()
    }
    assert len(got & exact) / 10 >= 0.9


def test_ivfpq_recall_floor_testdata(spark, sf_dir):
    """Recall floor on the driver's near-random synthetic embeddings —
    PQ's worst case (incompressible vectors). Deterministic fixture ⇒
    deterministic recall; the floor documents the regime honestly
    rather than hiding it (the catalog entry's correctness is
    hash-verified separately — approximation quality and result
    determinism are independent axes here)."""
    from news_graph_rag_spark.pipeline.ann_index import (
        ensure_pq,
        search_by_id,
        search_pq_by_id,
    )
    from news_graph_rag_spark.queries.round13 import _PQ_KS, _PQ_M

    path = ensure_pq(spark, sf_dir, m=_PQ_M, ks=_PQ_KS)
    exact = {
        r["vec_id"]
        for r in search_by_id(spark, path, probe_vec_id=0, k=10, nprobe=8).collect()
    }
    got = {
        r["vec_id"]
        for r in search_pq_by_id(
            spark, path, probe_vec_id=0, k=10, nprobe=8
        ).collect()
    }
    assert len(got & exact) / 10 >= 0.4


def test_ivfpq_ensure_pq_param_isolation_and_format_retrain(spark, sf_dir):
    """ensure_pq itself (round-13 review pass 2: the first version
    replayed its logic by hand, leaving the real entrypoint's decision
    branch uncovered): (a) distinct (m, ks) get PARAM-KEYED layer dirs
    that coexist — a param change never rewrites another caller's live
    layer; (b) a FORMAT-version mismatch retrains via atomic swap-out;
    (c) a warm call is a no-op (same meta inode survives)."""
    import json
    import os

    from news_graph_rag_spark.pipeline.ann_index import _pq_dir, ensure_pq

    path = ensure_pq(spark, sf_dir, m=4, ks=4)
    d44 = _pq_dir(path, 4, 4)
    with open(os.path.join(d44, "meta.json")) as f:
        assert json.load(f)["m"] == 4
    ino44 = os.stat(os.path.join(d44, "meta.json")).st_ino
    # (a) another param set builds NEXT TO it, not over it
    assert ensure_pq(spark, sf_dir, m=8, ks=16) == path
    d816 = _pq_dir(path, 8, 16)
    assert d44 != d816
    with open(os.path.join(d816, "meta.json")) as f:
        got = json.load(f)
    assert (got["m"], got["ks"]) == (8, 16)
    assert os.stat(os.path.join(d44, "meta.json")).st_ino == ino44
    # (c) warm call: no republish
    ensure_pq(spark, sf_dir, m=4, ks=4)
    assert os.stat(os.path.join(d44, "meta.json")).st_ino == ino44
    # (b) a format bump retrains through the REAL branch
    meta_p = os.path.join(d44, "meta.json")
    with open(meta_p) as f:
        doc = json.load(f)
    doc["format"] = "ivfpq-v0-obsolete"
    with open(meta_p, "w") as f:
        json.dump(doc, f)
    ensure_pq(spark, sf_dir, m=4, ks=4)
    with open(meta_p) as f:
        assert json.load(f)["format"] != "ivfpq-v0-obsolete"


def test_ivfpq_invalidated_by_tombstone_compaction(spark, tmp_path):
    """Round-13 review: compact_tombstones folds the delete mask into
    the inverted lists and RETIRES the tombstone table — the PQ layer
    (which still holds the purged vectors' codes and is masked only by
    that table) must be invalidated in the same operation, or a PQ
    search would resurrect deleted vectors and their codes would
    survive a GDPR purge on disk."""
    import os

    import numpy as np

    from news_graph_rag_spark.pipeline.ann_index import (
        _pq_dir,
        build_and_save,
        compact_tombstones,
        delete_vectors,
        search_pq_by_id,
        train_pq,
    )

    rng = np.random.RandomState(11)
    _write_embeddings(tmp_path, rng.randint(-60, 61, size=(96, 64)))
    path = str(tmp_path / "idx")
    build_and_save(
        spark.read.parquet(str(tmp_path / "embeddings.parquet")),
        path,
        n_centroids=4,
        iters=1,
    )
    train_pq(spark, path, m=4, ks=4)
    victim = int(
        search_pq_by_id(spark, path, probe_vec_id=0, k=3, nprobe=4, m=4, ks=4)
        .collect()[0]["vec_id"]
    )
    delete_vectors(spark, path, [victim])
    # masked while the tombstone table lives
    live = {
        r["vec_id"]
        for r in search_pq_by_id(
            spark, path, probe_vec_id=0, k=10, nprobe=4, m=4, ks=4
        ).collect()
    }
    assert victim not in live
    assert compact_tombstones(spark, path) >= 1
    # the PQ layer is gone with the tombstones it depended on
    assert not os.path.exists(os.path.join(_pq_dir(path, 4, 4), "meta.json"))
    # a retrained layer (from the compacted lists) cannot resurrect it
    train_pq(spark, path, m=4, ks=4)
    live = {
        r["vec_id"]
        for r in search_pq_by_id(
            spark, path, probe_vec_id=0, k=10, nprobe=4, m=4, ks=4
        ).collect()
    }
    assert victim not in live


def test_ivfpq_rerank_recall_vs_exact(spark, sf_dir):
    """Two-tier rerank: the exact tier can only fix ranking WITHIN the
    shortlist, so rerank recall@10 vs the exact scan >= plain PQ
    recall@10, and every rerank hit carries the EXACT dot (equal to
    the exact scan's for the same vec_id)."""
    from news_graph_rag_spark.pipeline.ann_index import (
        ensure_pq,
        search_by_id,
        search_pq_by_id,
        search_pq_rerank_by_id,
    )
    from news_graph_rag_spark.queries.round13 import _PQ_KS, _PQ_M

    path = ensure_pq(spark, sf_dir, m=_PQ_M, ks=_PQ_KS)
    exact = {
        r["vec_id"]: r["dot"]
        for r in search_by_id(spark, path, probe_vec_id=0, k=10, nprobe=8).collect()
    }
    pq = {
        r["vec_id"]
        for r in search_pq_by_id(
            spark, path, probe_vec_id=0, k=10, nprobe=8
        ).collect()
    }
    rr = {
        r["vec_id"]: r["dot"]
        for r in search_pq_rerank_by_id(
            spark, path, probe_vec_id=0, k=10, nprobe=8, cand_mult=4
        ).collect()
    }
    assert len(set(rr) & set(exact)) >= len(pq & set(exact))
    for vid, dot in rr.items():
        if vid in exact:
            assert dot == exact[vid]


def test_pq_tombstone_entry_self_heals_after_compaction(spark, tmp_path):
    """Round-14 review #2: compact_tombstones on the shared tombstone
    variant physically removes the forget-set rows and retires the PQ
    layer; a naive re-ensure would retrain the PQ codebooks from the
    COMPACTED lists (seeds = ks smallest vec_ids, now excluding the
    dead ids) and desync the entry's all-vectors oracle forever. The
    entry must detect the compacted state and rebuild the variant from
    source, returning bit-identical results before and after."""
    import random

    from news_graph_rag_spark.pipeline import ann_index
    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.round13 import _PQ_KS, _PQ_M

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(40)]
    _write_embeddings(tmp_path, vecs)

    fn = registry()["ann_ivfpq_search_tombstoned"].fn
    first = [tuple(r) for r in fn(spark, str(tmp_path)).collect()]
    assert first  # non-trivial fixture

    path = ann_index.ensure_pq(
        spark, str(tmp_path), m=_PQ_M, ks=_PQ_KS, variant="tombstone-demo-v1"
    )
    assert ann_index.compact_tombstones(spark, path) >= 1
    # post-compaction: the forget-set is physically gone from the lists
    from pyspark.sql import functions as F

    raw = spark.read.parquet(f"{path}/assignments.parquet")
    assert raw.filter(F.expr("vec_id % 7 = 3")).count() == 0

    second = [tuple(r) for r in fn(spark, str(tmp_path)).collect()]
    assert second == first


def _recoverable_vec_rows(n=320, seed=7):
    """8 separated clusters whose residuals come from ≤4 fixed patterns
    per subspace (the codebook-recoverable construction of
    test_ivfpq_recall_floor_clustered) — PQ approximation error
    engineered to zero, so PQ rankings equal exact rankings."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.randint(-80, 81, size=(8, 64))
    base[:, 0] = 100
    pats = rng.randint(-10, 11, size=(8, 4, 8))
    pats[0, :, 0] = 0
    vecs = []
    for i in range(n):
        v = base[i % 8].copy()
        for s in range(8):
            v[s * 8 : (s + 1) * 8] += pats[s, rng.randint(0, 4)]
        vecs.append(v)
    return vecs


def test_retrain_pq_tombstoned_equals_compacted(spark, tmp_path):
    """Round-15 (VERDICT r14 #2): retrain_pq trains from the LIVE rows
    — so retraining a TOMBSTONED index and retraining the same index
    AFTER COMPACTION (rows physically gone) must produce identical
    layers and identical search results; the retrained codes table
    must not contain a single forget-set row (the model-level purge
    precedes the data-level one); meta records trained_over=live; and
    on codebook-recoverable data the retrained PQ ranking still equals
    the exact int8 ranking over the survivors (the recall-floor
    re-check)."""
    import json as _json
    import os as _os

    from news_graph_rag_spark.pipeline import ann_index

    vecs = _recoverable_vec_rows()
    _write_embeddings(tmp_path, vecs)
    df = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    victims = [i for i in range(len(vecs)) if i % 5 == 2]

    results = {}
    for tag, compact_first in (("tomb", False), ("compacted", True)):
        path = str(tmp_path / f"idx_{tag}")
        ann_index.build_and_save(df, path, n_centroids=8, iters=1)
        ann_index.delete_vectors(spark, path, victims)
        if compact_first:
            assert ann_index.compact_tombstones(spark, path) == len(victims)
        ann_index.retrain_pq(spark, path, m=8, ks=16)
        with open(_os.path.join(ann_index._pq_dir(path, 8, 16), "meta.json")) as f:
            assert _json.load(f).get("trained_over") == "live"
        got = [
            tuple(r)
            for r in ann_index.search_pq_by_id(
                spark, path, probe_vec_id=0, k=10, nprobe=8
            ).collect()
        ]
        results[tag] = got
        # the retrained codes table holds live rows only
        codes_ids = {
            int(r["vec_id"])
            for r in spark.read.parquet(
                _os.path.join(ann_index._pq_dir(path, 8, 16), "codes.parquet")
            )
            .select("vec_id")
            .collect()
        }
        assert not (codes_ids & set(victims)), tag
    assert results["tomb"] == results["compacted"]
    assert len(results["tomb"]) == 10
    assert not ({t[1] for t in results["tomb"]} & set(victims))
    # recall re-check: the retrained PQ top-10 vs the exact int8 top-10
    # over the survivors. The fixture is codebook-recoverable BEFORE
    # the purge; deleting 20% of rows can thin a (cluster, pattern)
    # below the live seed set's reach, so the post-retrain floor is
    # pinned at 0.8 (observed exactly 0.8 — deterministic fixture)
    path = str(tmp_path / "idx_tomb")
    exact = {
        r["vec_id"]
        for r in ann_index.search_by_id(
            spark, path, probe_vec_id=0, k=10, nprobe=8
        ).collect()
    }
    assert len({t[1] for t in results["tomb"]} & exact) / 10 >= 0.8


def test_retrain_pq_swaps_atomically_and_invalidates_cache(spark, tmp_path):
    """retrain_pq over an EXISTING layer: the old dir is swapped out
    (never mutated in place), the meta inode changes so _pq_tables'
    (mtime, ino) validation drops every cached codebook, and a search
    through the public entrypoints immediately serves the retrained
    model."""
    import os as _os

    from news_graph_rag_spark.pipeline import ann_index

    _write_embeddings(tmp_path, _recoverable_vec_rows(n=160))
    df = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    path = str(tmp_path / "idx_swap")
    ann_index.build_and_save(df, path, n_centroids=8, iters=1)
    ann_index.train_pq(spark, path, m=8, ks=16)
    pqd = ann_index._pq_dir(path, 8, 16)
    st0 = _os.stat(_os.path.join(pqd, "meta.json"))
    ann_index._pq_tables(spark, pqd)  # warm the cache on the OLD layer
    ann_index.delete_vectors(spark, path, [3, 8, 13])
    ann_index.retrain_pq(spark, path, m=8, ks=16)
    st1 = _os.stat(_os.path.join(pqd, "meta.json"))
    assert (st0.st_mtime_ns, st0.st_ino) != (st1.st_mtime_ns, st1.st_ino)
    got = {
        r["vec_id"]
        for r in ann_index.search_pq_by_id(
            spark, path, probe_vec_id=0, k=10, nprobe=8
        ).collect()
    }
    assert not (got & {3, 8, 13})


def test_encode_new_raises_on_missing_codebook(spark, tmp_path):
    """Round-14 advice #1: an incoming vector whose assigned centroid
    has no trained PQ codebook must fail LOUDLY at encode time (the
    _collect_probes convention), never silently vanish from the
    insert path."""
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    from news_graph_rag_spark.pipeline import ann_index

    df = _clustered_vec_table(spark)  # dim 16
    path = str(tmp_path / "idx_enc")
    ann_index.build_and_save(df, path, n_centroids=3, iters=1)
    ann_index.train_pq(spark, path, m=4, ks=8)
    pqd = ann_index._pq_dir(path, 4, 8)
    assignments = spark.read.parquet(_os.path.join(path, "assignments.parquet"))
    victim_cid = int(assignments.select("centroid_id").first()["centroid_id"])
    # simulate a list that was empty at train time: drop its codebooks
    cb_dir = _os.path.join(pqd, "codebook.parquet")
    kept = spark.read.parquet(cb_dir).filter(
        F.col("centroid_id") != victim_cid
    )
    tmp_cb = _os.path.join(str(tmp_path), "cb_rewrite")
    kept.coalesce(1).write.parquet(tmp_cb)
    _shutil.rmtree(cb_dir)
    _os.rename(tmp_cb, cb_dir)
    ann_index._PQ_CACHE.clear()

    incoming = assignments.filter(
        F.col("centroid_id") == victim_cid
    ).select("vec_id", "centroid_id", "nrm", "q8").limit(1)
    with _pytest.raises(Exception, match="no trained PQ codebook"):
        ann_index.encode_new(spark, path, incoming, m=4, ks=8).collect()


def test_append_codes_serves_both_tiers_immediately(spark, tmp_path):
    """Round-15 PQ insert write half: append_codes lands new vectors
    in BOTH serving tiers at once — the int8 inverted lists AND the PQ
    code partitions — and each tier's search returns the inserted
    rows immediately, with base rows untouched (file append, no
    rewrite). The inserted vector itself is a servable probe on both
    tiers."""
    import os as _os

    from news_graph_rag_spark.pipeline import ann_index

    vecs = _recoverable_vec_rows(n=200)
    _write_embeddings(tmp_path, vecs)
    df = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    path = str(tmp_path / "idx_append")
    # base = first 160 rows; 40 arrive later
    ann_index.build_and_save(
        df.filter(F.col("vec_id") < 160), path, n_centroids=8, iters=1
    )
    ann_index.train_pq(spark, path, m=8, ks=16)
    codes_dir = _os.path.join(ann_index._pq_dir(path, 8, 16), "codes.parquet")
    n_codes0 = spark.read.parquet(codes_dir).count()
    n_assign0 = ann_index.load_index(spark, path)[0].count()

    incoming = df.filter(F.col("vec_id") >= 160)
    assigned = ann_index.assign_new(spark, path, incoming)
    n = ann_index.append_codes(spark, path, assigned, m=8, ks=16)
    assert n == 40

    assert spark.read.parquet(codes_dir).count() == n_codes0 + 40
    assert ann_index.load_index(spark, path)[0].count() == n_assign0 + 40
    # an inserted vector is immediately a servable probe on BOTH tiers,
    # and (recoverable clustered fixture: vec 160 belongs to cluster
    # 160 % 8 = 0, whose base members are nearest) both searches return
    # same-cluster neighbors that include other INSERTED rows
    int8_hits = {
        r["vec_id"]
        for r in ann_index.search_by_id(
            spark, path, probe_vec_id=160, k=10, nprobe=8
        ).collect()
    }
    pq_hits = {
        r["vec_id"]
        for r in ann_index.search_pq_by_id(
            spark, path, probe_vec_id=160, k=10, nprobe=8
        ).collect()
    }
    assert len(int8_hits) == 10 and len(pq_hits) == 10
    inserted = set(range(160, 200))
    assert int8_hits & inserted  # appended rows rank among neighbors
    assert pq_hits & inserted


def test_batch_by_vectors_zero_query_raises(spark, sf_dir):
    """Round-15 review: a degenerate (all-zeros-quantizing) query
    inside a BATCH must fail loudly with its position named — the
    single by-vector paths' convention — on both tiers, never silently
    rank every list by cid."""
    import pytest as _pytest

    from news_graph_rag_spark.pipeline.ann_index import (
        batch_search_by_vectors,
        ensure_index,
        ensure_pq,
        search_pq_batch_by_vectors,
    )
    from news_graph_rag_spark.queries.round13 import _PQ_KS, _PQ_M

    path = ensure_pq(spark, sf_dir, m=_PQ_M, ks=_PQ_KS)
    ensure_index(spark, sf_dir, n_centroids=8, iters=1)
    good = [1.0] + [0.0] * 63
    zero = [0.0] * 64
    with _pytest.raises(ValueError, match="position 1"):
        batch_search_by_vectors(spark, path, [good, zero], k=3, nprobe=2)
    with _pytest.raises(ValueError, match="position 1"):
        search_pq_batch_by_vectors(
            spark, path, [good, zero], k=3, nprobe=2, m=_PQ_M, ks=_PQ_KS
        )


def test_try_claim_one_winner_and_stale_sweep(tmp_path):
    """Round-16 (ADVICE r15 #1): _try_claim is the one-winner primitive
    gating non-idempotent appends — exactly one concurrent claimer
    wins, release reopens the claim, and a crashed owner's stale claim
    (mtime past the staleness gate) is swept and re-won. Round 17
    (ADVICE r16 #2): the winner gets an OWNER TOKEN and the release
    verifies it — a previous owner whose claim was swept and re-won
    can no longer unlink the new owner's claim."""
    import os

    from news_graph_rag_spark.pipeline.ann_index import (
        _release_claim,
        _try_claim,
    )

    d = str(tmp_path)
    tok1 = _try_claim(d, "_pq_append_claim")
    assert tok1
    # a second claimer loses while the first holds it
    assert _try_claim(d, "_pq_append_claim") is None
    # release → claimable again
    _release_claim(d, "_pq_append_claim", tok1)
    tok2 = _try_claim(d, "_pq_append_claim")
    assert tok2 and tok2 != tok1
    # crashed owner: age the claim past the staleness gate — the next
    # claimer sweeps it and wins
    old = os.path.join(d, "_pq_append_claim")
    past = 1_000_000.0
    os.utime(old, (past, past))
    tok3 = _try_claim(d, "_pq_append_claim")
    assert tok3
    # the swept owner's release is a NO-OP on the new owner's claim
    _release_claim(d, "_pq_append_claim", tok2)
    assert os.path.exists(old)
    _release_claim(d, "_pq_append_claim", tok3)
    assert not os.path.exists(old)


def test_claimed_runs_under_heartbeat_and_releases(tmp_path):
    """Round 17 (ADVICE r16 #2): _claimed = claim + heartbeat + verified
    release in one shape; the heartbeat keeps a slow owner's claim
    fresh against the stale sweep."""
    import os
    import time

    from news_graph_rag_spark.pipeline.ann_index import (
        _claim_heartbeat,
        _claimed,
        _try_claim,
    )

    d = str(tmp_path)
    ran = []
    assert _claimed(d, "_c", lambda: ran.append(1)) is True
    assert ran == [1]
    assert not os.path.exists(os.path.join(d, "_c"))
    # a held claim blocks _claimed without running fn
    tok = _try_claim(d, "_c")
    assert tok
    assert _claimed(d, "_c", lambda: ran.append(2)) is False
    assert ran == [1]
    # heartbeat refreshes an aged mtime
    p = os.path.join(d, "_c")
    past = time.time() - 10_000.0
    os.utime(p, (past, past))
    with _claim_heartbeat(d, "_c", interval=0.05):
        time.sleep(0.3)
    assert time.time() - os.path.getmtime(p) < 60.0


def test_split_list_outside_probes_unchanged_and_tiers_consistent(
    spark, sf_dir
):
    """Round-16 (VERDICT r15 #2): splitting one hot list must leave
    every search whose probed lists avoid the split BIT-UNCHANGED
    (both tiers), conserve every row exactly once across lists in
    BOTH tiers, and keep the PQ layer servable through the inherited
    codebook (child lists own a codebook equal to the parent's; split
    rows re-encode against their child centroid)."""
    import json
    import os

    from pyspark.sql import functions as F

    from news_graph_rag_spark.pipeline import ann_index as ai

    path = ai.ensure_pq(spark, sf_dir, m=8, ks=16, variant="split-pytest-v1")
    apath = os.path.join(path, "assignments.parquet")
    counts = {
        int(r["centroid_id"]): int(r["n"])
        for r in spark.read.parquet(apath)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    hot = min(c for c, n in counts.items() if n == max(counts.values()))
    pre_ids = sorted(
        int(r["vec_id"]) for r in spark.read.parquet(apath).select("vec_id").collect()
    )
    arrays_pre = ai._centroid_arrays(ai._centroid_rows(spark, path))
    probes = ai._collect_probes(spark.read.parquet(apath), list(range(6)))
    pre_lists = {
        pid: ai._rank_probe_lists(p, arrays_pre, 2) for pid, p in probes.items()
    }
    pre_int8 = {
        pid: [tuple(r) for r in ai.search_by_id(spark, path, pid, k=5, nprobe=2).collect()]
        for pid in probes
    }
    pre_pq = {
        pid: [tuple(r) for r in ai.search_pq_by_id(spark, path, pid, k=5, nprobe=2).collect()]
        for pid in probes
    }

    hist = json.load(open(os.path.join(path, "meta.json"))).get(
        "split_history"
    )
    if not hist:
        new_cid = ai.split_list(spark, path, hot)
    else:  # warm re-run against a kept variant: the hot list recomputed
        # from POST-split occupancy is some other list — read the cid
        # that actually split from the recorded history
        hot = int(hist[-1])
        new_cid = max(c for c, *_ in ai._centroid_rows(spark, path))

    # conservation in BOTH tiers: same vec_ids, exactly once
    post_ids = sorted(
        int(r["vec_id"]) for r in spark.read.parquet(apath).select("vec_id").collect()
    )
    assert post_ids == pre_ids
    codes = spark.read.parquet(
        os.path.join(ai._pq_dir(path, 8, 16), "codes.parquet")
    )
    assert sorted(int(r["vec_id"]) for r in codes.select("vec_id").collect()) == pre_ids
    # the two tiers agree on every row's list (the append invariant)
    mismatch = (
        spark.read.parquet(apath)
        .select("vec_id", F.col("centroid_id").alias("ca"))
        .join(codes.select("vec_id", F.col("centroid_id").alias("cc")), "vec_id")
        .filter(F.col("ca") != F.col("cc"))
        .count()
    )
    assert mismatch == 0
    # inherited codebook: child B's table equals the parent's
    cb = spark.read.parquet(
        os.path.join(ai._pq_dir(path, 8, 16), "codebook.parquet")
    )
    child_b = {
        (int(r["sub"]), int(r["code"])): list(r["e"])
        for r in cb.filter(F.col("centroid_id") == new_cid).collect()
    }
    child_a = {
        (int(r["sub"]), int(r["code"])): list(r["e"])
        for r in cb.filter(F.col("centroid_id") == hot).collect()
    }
    assert child_b == child_a and len(child_b) > 0

    # probes whose probed lists avoid the split entirely (pre == post
    # list sets, none of them the parent or the child) are bit-unchanged
    arrays_post = ai._centroid_arrays(ai._centroid_rows(spark, path))
    tested = 0
    for pid, p in probes.items():
        post_lists = ai._rank_probe_lists(p, arrays_post, 2)
        if post_lists != pre_lists[pid] or {hot, new_cid} & set(post_lists):
            continue
        tested += 1
        assert [
            tuple(r) for r in ai.search_by_id(spark, path, pid, k=5, nprobe=2).collect()
        ] == pre_int8[pid]
        assert [
            tuple(r) for r in ai.search_pq_by_id(spark, path, pid, k=5, nprobe=2).collect()
        ] == pre_pq[pid]
    assert tested > 0, "fixture data left no probe outside the split"


def test_pqsplit_probe_touches_split_region(spark, sf_dir):
    """Round-16: ann_ivfpq_split_search_topk's doc claims the probe
    (the split list's own smallest vector) serves THROUGH the split —
    pin that its probed lists include a child, so the entry's value
    verification really covers the inherited-codebook re-encode."""
    import json
    import os

    from news_graph_rag_spark.pipeline import ann_index as ai
    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.retrieval_queries import _IVF_INCR_BASE
    from news_graph_rag_spark.queries.round16 import _PQSPLIT_VARIANT

    # run (or reuse) the entry so the variant is appended + split
    assert len(registry()["ann_ivfpq_split_search_topk"].fn(spark, sf_dir).collect()) == 10
    path = ai.ensure_pq(
        spark, sf_dir, m=8, ks=16, variant=_PQSPLIT_VARIANT,
        subset_pred=_IVF_INCR_BASE.format(t="string"),
    )
    meta = json.load(open(os.path.join(path, "meta.json")))
    hot = int(meta["split_history"][-1])
    rows = ai._centroid_rows(spark, path)
    new_cid = max(c for c, *_ in rows)
    assignments = spark.read.parquet(os.path.join(path, "assignments.parquet"))
    from pyspark.sql import functions as F

    probe_id = int(
        assignments.filter(F.col("centroid_id").isin([hot, new_cid]))
        .agg(F.min("vec_id"))
        .first()[0]
    )
    probes = ai._collect_probes(assignments, [probe_id])
    lists = ai._rank_probe_lists(probes[probe_id], ai._centroid_arrays(rows), 4)
    assert {hot, new_cid} & set(lists), (lists, hot, new_cid)


def test_split_if_skewed_trigger(spark, sf_dir, tmp_path):
    """Round-16: the imbalance trigger acts only past the threshold —
    a balanced index is left alone (None); a skewed one (threshold
    lowered below its natural max/mean) splits its hottest list and a
    re-check at the same threshold shows the imbalance reduced."""
    import shutil

    from pyspark.sql import functions as F

    from news_graph_rag_spark.pipeline import ann_index as ai

    src = ai.ensure_index(spark, sf_dir, n_centroids=8, iters=1)
    idx = str(tmp_path / "trigger_idx")
    shutil.copytree(src, idx)

    def occupancy() -> dict:
        return {
            int(r["centroid_id"]): int(r["n"])
            for r in spark.read.parquet(idx + "/assignments.parquet")
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    pre = occupancy()
    r0 = max(pre.values()) / (sum(pre.values()) / len(pre))
    hot = min(c for c, n in pre.items() if n == max(pre.values()))
    # far above the natural imbalance: balanced -> no action
    assert ai.split_if_skewed(spark, idx, max_over_mean=r0 + 1.0) is None
    # just below it: the trigger fires, the hottest list splits
    new_cid = ai.split_if_skewed(spark, idx, max_over_mean=r0 - 0.01)
    assert new_cid is not None
    post = occupancy()
    # the hot list shrank into two children, one more list exists, the
    # largest probed list (what probe cost scales with) did not grow,
    # and rows are conserved (note max/MEAN can rise on a near-uniform
    # index since the mean also shrinks — the SLO quantity is the max)
    assert len(post) == len(pre) + 1
    assert post[hot] < pre[hot] and post[new_cid] > 0
    assert post[hot] + post[new_cid] == pre[hot]
    assert max(post.values()) <= max(pre.values())
    assert sum(post.values()) == sum(pre.values())
    shutil.rmtree(idx, ignore_errors=True)


def test_merge_lists_both_tiers_and_outside_probes(spark, sf_dir):
    """Round-16 merge_lists: rows conserved exactly once across BOTH
    tiers under the surviving id, the surviving list's codebook
    carries (absorbed id's entries gone), tiers agree on every row's
    list, and probes whose probed lists avoid the merge region are
    bit-unchanged on both tiers."""
    import json
    import os

    from pyspark.sql import functions as F

    from news_graph_rag_spark.pipeline import ann_index as ai

    path = ai.ensure_pq(spark, sf_dir, m=8, ks=16, variant="merge-pytest-v1")
    apath = os.path.join(path, "assignments.parquet")
    pre_ids = sorted(
        int(r["vec_id"])
        for r in spark.read.parquet(apath).select("vec_id").collect()
    )
    counts = sorted(
        (int(r["n"]), int(r["centroid_id"]))
        for r in spark.read.parquet(apath)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    hist = json.load(open(os.path.join(path, "meta.json"))).get("merge_history")
    if not hist:
        keep, drop = counts[0][1], counts[1][1]
        if keep > drop:
            keep, drop = drop, keep
        cb_pre = spark.read.parquet(
            os.path.join(ai._pq_dir(path, 8, 16), "codebook.parquet")
        )
        keep_cb_pre = {
            (int(r["sub"]), int(r["code"])): list(r["e"])
            for r in cb_pre.filter(F.col("centroid_id") == keep).collect()
        }
        arrays_pre = ai._centroid_arrays(ai._centroid_rows(spark, path))
        probes = ai._collect_probes(spark.read.parquet(apath), list(range(6)))
        pre_lists = {
            pid: ai._rank_probe_lists(p, arrays_pre, 2)
            for pid, p in probes.items()
        }
        pre_int8 = {
            pid: [tuple(r) for r in ai.search_by_id(spark, path, pid, k=5, nprobe=2).collect()]
            for pid in probes
        }
        pre_pq = {
            pid: [tuple(r) for r in ai.search_pq_by_id(spark, path, pid, k=5, nprobe=2).collect()]
            for pid in probes
        }
        assert ai.merge_lists(spark, path, keep, drop) == keep
    else:  # warm re-run against a kept variant
        keep, drop = (int(x) for x in hist[-1])
        keep_cb_pre = None
        probes, pre_lists, pre_int8, pre_pq = {}, {}, {}, {}

    post_ids = sorted(
        int(r["vec_id"])
        for r in spark.read.parquet(apath).select("vec_id").collect()
    )
    assert post_ids == pre_ids
    codes = spark.read.parquet(
        os.path.join(ai._pq_dir(path, 8, 16), "codes.parquet")
    )
    assert sorted(int(r["vec_id"]) for r in codes.select("vec_id").collect()) == pre_ids
    mismatch = (
        spark.read.parquet(apath)
        .select("vec_id", F.col("centroid_id").alias("ca"))
        .join(codes.select("vec_id", F.col("centroid_id").alias("cc")), "vec_id")
        .filter(F.col("ca") != F.col("cc"))
        .count()
    )
    assert mismatch == 0
    # the absorbed id is gone from centroids, codes, and codebook
    cids = {c for c, *_ in ai._centroid_rows(spark, path)}
    assert drop not in cids and keep in cids
    cb = spark.read.parquet(
        os.path.join(ai._pq_dir(path, 8, 16), "codebook.parquet")
    )
    assert cb.filter(F.col("centroid_id") == drop).count() == 0
    if keep_cb_pre is not None:
        keep_cb_post = {
            (int(r["sub"]), int(r["code"])): list(r["e"])
            for r in cb.filter(F.col("centroid_id") == keep).collect()
        }
        assert keep_cb_post == keep_cb_pre and keep_cb_post
        # outside probes bit-unchanged on both tiers
        arrays_post = ai._centroid_arrays(ai._centroid_rows(spark, path))
        tested = 0
        for pid, p in probes.items():
            post_lists = ai._rank_probe_lists(p, arrays_post, 2)
            if post_lists != pre_lists[pid] or {keep, drop} & set(post_lists):
                continue
            tested += 1
            assert [
                tuple(r) for r in ai.search_by_id(spark, path, pid, k=5, nprobe=2).collect()
            ] == pre_int8[pid]
            assert [
                tuple(r) for r in ai.search_pq_by_id(spark, path, pid, k=5, nprobe=2).collect()
            ] == pre_pq[pid]
        assert tested > 0, "fixture data left no probe outside the merge"


def test_pqmerge_probe_touches_merged_list(spark, sf_dir):
    """Round-16: ann_ivfpq_merge_search_topk's probe (the merged
    list's own smallest vector) must probe THROUGH the merged list, so
    the entry's value verification really covers the survivor-codebook
    re-encode."""
    import json
    import os

    from pyspark.sql import functions as F

    from news_graph_rag_spark.pipeline import ann_index as ai
    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.round16 import _PQMERGE_VARIANT

    assert len(
        registry()["ann_ivfpq_merge_search_topk"].fn(spark, sf_dir).collect()
    ) == 10
    path = ai.ensure_pq(spark, sf_dir, m=8, ks=16, variant=_PQMERGE_VARIANT)
    keep = int(
        json.load(open(os.path.join(path, "meta.json")))["merge_history"][-1][0]
    )
    assignments = spark.read.parquet(os.path.join(path, "assignments.parquet"))
    probe_id = int(
        assignments.filter(F.col("centroid_id") == keep)
        .agg(F.min("vec_id"))
        .first()[0]
    )
    probes = ai._collect_probes(assignments, [probe_id])
    rows = ai._centroid_rows(spark, path)
    lists = ai._rank_probe_lists(probes[probe_id], ai._centroid_arrays(rows), 4)
    assert keep in lists, (lists, keep)


# ---------------------------------------------------------------------------
# Round 17: coarse-quantizer global retrain + list-file compaction
# ---------------------------------------------------------------------------

import json
import os



def test_retrain_quantizer_equals_fresh_build_both_tiers(spark, sf_dir, tmp_path):
    """Round-17 (VERDICT r16 #1): the retrain ≡ rebuild equivalence the
    catalog oracles lean on — subset build + PQ + frozen append +
    retrain_quantizer must equal the from-scratch full build on BOTH
    tiers bit-for-bit (assignments, centroids, codes, codebooks) and
    serve identical searches."""
    import news_graph_rag_spark.pipeline.ann_index as ai

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pred = "substr(md5(CAST(vec_id AS string)), 1, 1) NOT IN ('0','1','2','3')"
    a, b = str(tmp_path / "rtq_a"), str(tmp_path / "rtq_b")
    ai.build_and_save(emb.filter(F.expr(pred)), a, n_centroids=8, iters=1)
    ai.train_pq(spark, a, m=8, ks=16)
    ai.append_codes(
        spark, a, ai.assign_new(spark, a, emb.filter(~F.expr(pred))), m=8, ks=16
    )
    n = ai.retrain_quantizer(spark, a, n_centroids=8, iters=1)
    assert n == 8
    hist = json.load(open(os.path.join(a, "meta.json")))["retrain_history"]
    assert hist and hist[-1]["n_centroids"] == 8

    ai.build_and_save(emb, b, n_centroids=8, iters=1)
    ai.train_pq(spark, b, m=8, ks=16)

    def canon(p, tbl):
        return sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(p, tbl)).collect()
        )

    for t in ("assignments.parquet", "centroids.parquet"):
        assert canon(a, t) == canon(b, t), t
    pqa, pqb = ai._pq_dir(a, 8, 16), ai._pq_dir(b, 8, 16)
    for t in ("codes.parquet", "codebook.parquet"):
        assert canon(pqa, t) == canon(pqb, t), t
    ra = [tuple(r) for r in ai.search_pq_by_id(spark, a, 1, k=10, nprobe=4).collect()]
    rb = [tuple(r) for r in ai.search_pq_by_id(spark, b, 1, k=10, nprobe=4).collect()]
    assert ra == rb and len(ra) == 10


def test_retrain_quantizer_after_delete_excludes_tombstoned(spark, sf_dir, tmp_path):
    """Round-17 done-criterion: retrain-after-delete excludes
    tombstoned rows from the new centroids AND drops them physically —
    the retrained index equals the fresh build over the LIVE subset,
    and the tombstone table retires with the old generation."""
    import news_graph_rag_spark.pipeline.ann_index as ai

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dead = [0, 1, 2, 3, 4]
    a, b = str(tmp_path / "rtd_a"), str(tmp_path / "rtd_b")
    ai.build_and_save(emb, a, n_centroids=6, iters=1)
    ai.train_pq(spark, a, m=8, ks=16)
    ai.delete_vectors(spark, a, dead)
    ai.retrain_quantizer(spark, a)
    asg = spark.read.parquet(os.path.join(a, "assignments.parquet"))
    assert asg.filter(F.col("vec_id").isin(dead)).count() == 0
    assert not os.path.exists(os.path.join(a, "tombstones.parquet"))
    # equivalence: fresh build over the live subset
    ai.build_and_save(
        emb.filter(~F.col("vec_id").isin(dead)), b, n_centroids=6, iters=1
    )
    ai.train_pq(spark, b, m=8, ks=16)

    def canon(p, tbl):
        return sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(p, tbl)).collect()
        )

    assert canon(a, "centroids.parquet") == canon(b, "centroids.parquet")
    assert canon(a, "assignments.parquet") == canon(b, "assignments.parquet")
    pqa, pqb = ai._pq_dir(a, 8, 16), ai._pq_dir(b, 8, 16)
    assert canon(pqa, "codebook.parquet") == canon(pqb, "codebook.parquet")


def _count_list_files(root):
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        if os.path.basename(dirpath).startswith("centroid_id="):
            n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def test_compact_list_files_reduces_count_values_unchanged(
    spark, sf_dir, tmp_path
):
    """Round-17 (VERDICT r16 #3): after fragmented appends,
    compact_list_files must reduce the data-file count in BOTH tiers,
    leave every search value bit-unchanged, record meta history, and
    be a no-op when re-run."""
    import news_graph_rag_spark.pipeline.ann_index as ai

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    p = str(tmp_path / "fc_idx")
    pred = "substr(md5(CAST(vec_id AS string)), 1, 1) NOT IN ('0','1','2','3')"
    ai.build_and_save(emb.filter(F.expr(pred)), p, n_centroids=6, iters=1)
    ai.train_pq(spark, p, m=8, ks=16)
    inc = emb.filter(~F.expr(pred))
    for b in range(3):
        ai.append_codes(
            spark,
            p,
            ai.assign_new(spark, p, inc.filter(F.col("vec_id") % 3 == b)),
            m=8,
            ks=16,
        )
    before = [
        tuple(r)
        for r in ai.search_pq_by_id(spark, p, 1, k=10, nprobe=6).collect()
    ]
    before_int8 = [
        tuple(r) for r in ai.search_by_id(spark, p, 1, k=10, nprobe=6).collect()
    ]
    f0 = _count_list_files(p)
    removed = ai.compact_list_files(spark, p, target_file_mb=64.0)
    f1 = _count_list_files(p)
    assert removed > 0 and f1 == f0 - removed and f1 < f0
    meta = json.load(open(os.path.join(p, "meta.json")))
    assert meta["file_compactions"][-1]["files_removed"] == removed
    after = [
        tuple(r)
        for r in ai.search_pq_by_id(spark, p, 1, k=10, nprobe=6).collect()
    ]
    after_int8 = [
        tuple(r) for r in ai.search_by_id(spark, p, 1, k=10, nprobe=6).collect()
    ]
    assert before == after and before_int8 == after_int8
    # idempotent: already-compact lists are left alone
    assert ai.compact_list_files(spark, p, target_file_mb=64.0) == 0
    assert _count_list_files(p) == f1


def test_compact_list_files_single_list_hardlinks_rest(spark, sf_dir, tmp_path):
    """compact_list_files(centroid_id=X) must rewrite only X's
    partitions; every other list's files carry as HARDLINKS (same
    inodes — the metadata-only IO discipline of split/merge)."""
    import news_graph_rag_spark.pipeline.ann_index as ai

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    p = str(tmp_path / "fc_one")
    pred = "substr(md5(CAST(vec_id AS string)), 1, 1) NOT IN ('0','1','2','3')"
    ai.build_and_save(emb.filter(F.expr(pred)), p, n_centroids=4, iters=1)
    inc = emb.filter(~F.expr(pred))
    for b in range(3):
        ai.append_vectors(spark, p, inc.filter(F.col("vec_id") % 3 == b))
    apath = os.path.join(p, "assignments.parquet")
    lists = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(apath)
        if d.startswith("centroid_id=")
    )
    target = lists[0]
    others_inodes = {}
    for d in os.listdir(apath):
        if d.startswith("centroid_id=") and d != f"centroid_id={target}":
            for f in os.listdir(os.path.join(apath, d)):
                if not f.startswith(("_", ".")):
                    others_inodes[(d, f)] = os.stat(
                        os.path.join(apath, d, f)
                    ).st_ino
    removed = ai.compact_list_files(
        spark, p, centroid_id=target, target_file_mb=64.0
    )
    assert removed > 0
    for (d, f), ino in others_inodes.items():
        assert os.stat(os.path.join(apath, d, f)).st_ino == ino, (d, f)
