"""Segment commits of the graph store (graph_store module doc): a commit
on a committed store writes only the appended rows and hard-links the
rest, reads use the schema recorded in the version marker, and every
fallback (segment limit, detach_delete) is a full rewrite with the same
contents. Readers see one complete committed version at every stage."""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from news_graph_rag_spark import graph_store as gs
from news_graph_rag_spark.graph_store import ALL_TABLES, GraphStore
from news_graph_rag_spark.ingest.crawler import crawl_and_ingest

from test_crawler_app import make_article


def _articles(spark, lo, hi):
    return spark.createDataFrame(
        [(f"Article:{i:012x}", f"t{i}", None, "en", f"u{i}") for i in range(lo, hi)],
        ALL_TABLES["article"],
    )


def _published(spark, lo, hi):
    return spark.createDataFrame(
        [("Source:s", f"Article:{i:012x}") for i in range(lo, hi)],
        ALL_TABLES["published"],
    )


def _committed(spark, root, n):
    """A store of ``n`` articles (+ one PUBLISHED edge each) committed
    at ``root`` and loaded back, so its tables extend committed files."""
    s = GraphStore.empty(spark)
    s["article"] = _articles(spark, 0, n)
    s["published"] = _published(spark, 0, n)
    s.save_atomic(root)
    return GraphStore.load(spark, root)


def _grow(store, lo, hi):
    out = store.copy()
    out.append("article", _articles(store.spark, lo, hi))
    out.append("published", _published(store.spark, lo, hi))
    return out


def _data_files(vdir, table):
    d = os.path.join(vdir, f"{table}.parquet")
    return [os.path.join(d, f) for f in os.listdir(d) if f.startswith("part-")]


def _marker(vdir):
    with open(os.path.join(vdir, GraphStore._COMPLETE)) as f:
        return json.load(f)


def _vdir(root):
    return os.path.join(root, GraphStore._current_version(root))


def test_segment_commit_writes_only_new_rows_and_links_the_rest(spark, tmp_path):
    root = str(tmp_path / "store")
    store = _committed(spark, root, 3)
    v1 = _vdir(root)
    old_files = _data_files(v1, "article")
    _grow(store, 3, 5).save_atomic(root)
    v2 = _vdir(root)
    new_files = _data_files(v2, "article")
    fresh = [f for f in new_files if os.stat(f).st_nlink == 1]
    assert len(fresh) == 1  # one segment file per table per commit
    carried = [f for f in new_files if f not in fresh]
    assert sorted(os.path.basename(f) for f in carried) == sorted(
        os.path.basename(f) for f in old_files
    )
    for f in carried:
        assert os.path.samefile(f, os.path.join(v1, "article.parquet", os.path.basename(f)))
    # an untouched table carries its files and writes none
    assert all(os.stat(f).st_nlink == 2 for f in _data_files(v2, "chunk"))
    tables = _marker(v2)["tables"]
    assert tables["article"]["segments"] == 2 and tables["chunk"]["segments"] == 1
    loaded = GraphStore.load(spark, root)
    assert sorted(r["title"] for r in loaded["article"].collect()) == [f"t{i}" for i in range(5)]
    # the recorded schema is exactly what inference would read
    for name in ALL_TABLES:
        path = os.path.join(v2, f"{name}.parquet")
        assert loaded[name].schema == spark.read.parquet(path).schema, name


def test_pre_schema_marker_version_still_loads_by_inference(spark, tmp_path):
    root = str(tmp_path / "store")
    _committed(spark, root, 2)
    vdir = _vdir(root)
    with open(os.path.join(vdir, GraphStore._COMPLETE), "w") as f:
        f.write(os.path.basename(vdir))  # the marker before schemas
    loaded = GraphStore.load(spark, root)
    assert loaded["article"].count() == 2
    # no recorded base: the next commit rewrites every table in full
    _grow(loaded, 2, 3).save_atomic(root)
    assert all(os.stat(f).st_nlink == 1 for f in _data_files(_vdir(root), "article"))
    assert GraphStore.load(spark, root)["article"].count() == 3


def test_reader_sees_one_complete_version_through_every_commit_stage(spark, tmp_path, monkeypatch):
    """A reader thread loads and counts the store at every stage of
    three segment commits — after each table write, between a new
    segment and its links, around the marker, the pointer replace and
    each GC removal — and always gets exactly the committed version."""
    root = str(tmp_path / "store")
    store = _committed(spark, root, 2)
    expected = [f"t{i}" for i in range(2)]
    seen = []
    pool = ThreadPoolExecutor(max_workers=1)

    def read():
        s = GraphStore.load(spark, root)
        return sorted(r["title"] for r in s["article"].collect()), s["published"].count()

    def stage():
        titles, n_published = pool.submit(read).result()
        assert titles == expected and n_published == len(expected)
        seen.append(len(titles))

    def wrap(fn, before=True):
        def staged(*args, **kwargs):
            if before:
                stage()
            out = fn(*args, **kwargs)
            stage()
            return out

        return staged

    real_replace, real_link = gs.os.replace, gs.os.link
    linked = set()

    def link(src, dst):
        # between a new segment and its carried files, once per table
        # that got one
        table = os.path.dirname(dst)
        if table.endswith(("article.parquet", "published.parquet")) and table not in linked:
            linked.add(table)
            stage()
        return real_link(src, dst)

    def replace(src, dst):
        stage()
        real_replace(src, dst)
        if dst.endswith(GraphStore._POINTER):
            expected[:] = pending
        stage()

    monkeypatch.setattr(GraphStore, "_write_table", wrap(GraphStore._write_table, before=False))
    monkeypatch.setattr(gs.json, "dump", wrap(json.dump))
    monkeypatch.setattr(gs.shutil, "rmtree", wrap(gs.shutil.rmtree))
    monkeypatch.setattr(gs.os, "link", link)
    monkeypatch.setattr(gs.os, "replace", replace)
    try:
        for step in range(3):
            lo = 2 + 2 * step
            pending = [f"t{i}" for i in range(lo + 2)]
            store = _grow(store, lo, lo + 2)
            store.save_atomic(root)
    finally:
        pool.shutdown()
    assert len(GraphStore.list_versions(root)) == 2  # GC ran
    assert seen[0] == 2 and seen[-1] == 8 and len(seen) >= 50


def test_crawl_commit_rounds_return_storage_to_baseline(spark, tmp_path):
    """crawl_and_ingest → save_atomic → release_checkpoints on a
    committed store leaves no RDD blocks behind, round after round."""
    root = str(tmp_path / "store")
    store, _, _ = crawl_and_ingest(GraphStore.empty(spark), [make_article(i) for i in range(2)])
    store.save_atomic(root)
    store.release_checkpoints()
    store = GraphStore.load(spark, root)
    jsc = spark.sparkContext._jsc.sc()

    def stored():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    baseline = stored()
    for r in range(2):
        store, nv, _ = crawl_and_ingest(store, [make_article(10 * r + 10 + i) for i in range(2)])
        assert nv == 2
        store.save_atomic(root)
        store.release_checkpoints()
        assert stored() <= baseline, f"round {r} left blocks behind"
    assert GraphStore.load(spark, root)["article"].count() == 6
    # the crawl rounds committed segments, not rewrites
    assert _marker(_vdir(root))["tables"]["chunk"]["segments"] == 3


def test_segment_limit_compacts_with_identical_contents(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(gs, "_MAX_SEGMENTS", 2)
    root = str(tmp_path / "store")
    store = _committed(spark, root, 2)
    store = _grow(store, 2, 3)
    store.save_atomic(root)  # second segment: carries
    assert _marker(_vdir(root))["tables"]["article"]["segments"] == 2
    store = _grow(store, 3, 5)
    want = sorted(map(tuple, store["article"].collect()))
    store.save_atomic(root)  # at the limit: full rewrite
    vdir = _vdir(root)
    assert _marker(vdir)["tables"]["article"]["segments"] == 1
    assert all(os.stat(f).st_nlink == 1 for f in _data_files(vdir, "article"))
    assert sorted(map(tuple, GraphStore.load(spark, root)["article"].collect())) == want


def test_detach_delete_commit_rewrites_in_full_without_deleted_rows(spark, tmp_path):
    root = str(tmp_path / "store")
    store = _committed(spark, root, 4)
    victim = "Article:000000000001"
    store.detach_delete([victim]).save_atomic(root)
    vdir = _vdir(root)
    for name in ("article", "published"):
        assert all(os.stat(f).st_nlink == 1 for f in _data_files(vdir, name)), name
        assert _marker(vdir)["tables"][name]["segments"] == 1
    loaded = GraphStore.load(spark, root)
    assert victim not in {r["uid"] for r in loaded["article"].collect()}
    assert victim not in {r["dst_uid"] for r in loaded["published"].collect()}
    assert loaded["article"].count() == 3 and loaded["published"].count() == 3


def test_predecessor_reader_survives_linked_commit(spark, tmp_path):
    root = str(tmp_path / "store")
    store = _committed(spark, root, 3)
    held = GraphStore.load(spark, root)  # a reader on the predecessor
    _grow(store, 3, 6).save_atomic(root)
    assert sorted(r["title"] for r in held["article"].collect()) == ["t0", "t1", "t2"]
    assert GraphStore.load(spark, root)["article"].count() == 6
    old = GraphStore.load_version(spark, root, GraphStore.list_versions(root)[0])
    assert old["published"].count() == 3


@pytest.mark.parametrize("replace", ["setitem", "foreign_commit"])
def test_replaced_table_or_moved_pointer_rewrites_in_full(spark, tmp_path, replace):
    root = str(tmp_path / "store")
    store = _committed(spark, root, 2)
    grown = _grow(store, 2, 3)
    if replace == "setitem":
        grown["article"] = _articles(spark, 0, 3)
    else:
        _grow(store, 5, 6).save_atomic(root)  # another writer commits first
    grown.save_atomic(root)
    vdir = _vdir(root)
    assert all(os.stat(f).st_nlink == 1 for f in _data_files(vdir, "article"))
    assert sorted(r["title"] for r in GraphStore.load(spark, root)["article"].collect()) == [
        "t0",
        "t1",
        "t2",
    ]
