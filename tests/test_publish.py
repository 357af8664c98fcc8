"""publish: staged directory swaps, write-once publishes, hard-link
carries and stale sweeps — and the guard that keeps every rename and
link of a published directory inside that one module."""

import ast
import os
import threading
import time
from pathlib import Path

import pytest

from news_graph_rag_spark import publish

PACKAGE = Path(__file__).resolve().parent.parent / "news_graph_rag_spark"


def _dir(path, files):
    os.makedirs(path)
    for name, text in files.items():
        Path(path, name).write_text(text)


def _contents(path):
    return {p.name: p.read_text() for p in Path(path).iterdir()}


def test_failed_replace_keeps_old_contents_and_leaves_nothing(tmp_path, monkeypatch):
    live = str(tmp_path / "idx")
    _dir(live, {"meta.json": "old", "data": "1"})
    real_rename = os.rename

    def fail_publish(src, dst):
        if ".staging-" in src:
            raise OSError("simulated failed publish")
        real_rename(src, dst)

    with publish.staged(live) as staging:
        _dir(staging, {"meta.json": "new", "data": "2"})
        monkeypatch.setattr(publish.os, "rename", fail_publish)
        with pytest.raises(OSError, match="simulated"):
            publish.replace(live, staging)
        monkeypatch.setattr(publish.os, "rename", real_rename)
    assert _contents(live) == {"meta.json": "old", "data": "1"}
    assert os.listdir(tmp_path) == ["idx"]


def test_publish_once_racers_end_with_one_complete_winner(tmp_path):
    for trial in range(20):
        dest = str(tmp_path / f"stage{trial}")
        barrier = threading.Barrier(2)
        errors = []

        def racer(who):
            try:
                with publish.staged(dest) as staging:
                    _dir(staging, {"part": who, "_SUCCESS": ""})
                    barrier.wait(timeout=30)
                    publish.publish_once(staging, dest, "_SUCCESS")
            except BaseException as e:  # noqa: BLE001 — reported below
                errors.append(e)

        threads = [threading.Thread(target=racer, args=(w,)) for w in "ab"]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads) and errors == []
        got = _contents(dest)
        assert got in ({"part": "a", "_SUCCESS": ""}, {"part": "b", "_SUCCESS": ""})
    assert sorted(os.listdir(tmp_path)) == sorted(f"stage{t}" for t in range(20))


def test_publish_once_repairs_a_torn_dest(tmp_path):
    dest = str(tmp_path / "stage")
    _dir(dest, {"part": "torn"})  # no marker: a kill mid-write or mid-delete
    with publish.staged(dest) as staging:
        _dir(staging, {"part": "whole", "_STAGED": "ok"})
        publish.publish_once(staging, dest, "_STAGED")
    assert _contents(dest) == {"part": "whole", "_STAGED": "ok"}
    # a complete dest wins over a later publish
    with publish.staged(dest) as staging:
        _dir(staging, {"part": "late", "_STAGED": "ok"})
        publish.publish_once(staging, dest, "_STAGED")
    assert _contents(dest) == {"part": "whole", "_STAGED": "ok"}
    assert os.listdir(tmp_path) == ["stage"]


def test_carry_links_and_copies_when_link_fails(tmp_path, monkeypatch):
    src = str(tmp_path / "src")
    _dir(src, {"a": "1", "skip": "x"})
    _dir(os.path.join(src, "sub"), {"b": "2"})
    linked = str(tmp_path / "linked")
    publish.carry(src, linked, skip={"skip"})
    assert os.stat(os.path.join(linked, "sub", "b")).st_nlink == 2
    assert not os.path.exists(os.path.join(linked, "skip"))

    def no_link(src, dst):
        raise OSError("no hard links here")

    monkeypatch.setattr(publish.os, "link", no_link)
    copied = str(tmp_path / "copied")
    _dir(copied, {"a": "kept"})  # a name already present is kept
    publish.carry(src, copied)
    assert Path(copied, "a").read_text() == "kept"
    assert Path(copied, "sub", "b").read_text() == "2"
    assert os.stat(os.path.join(copied, "sub", "b")).st_nlink == 1
    with pytest.raises(OSError):
        publish.carry(str(tmp_path / "missing"), str(tmp_path / "out"))


def test_sweep_spares_a_dir_with_a_fresh_inner_file(tmp_path):
    old = time.time() - 2 * publish.SWEEP_AGE_S
    busy, stale = str(tmp_path / "busy"), str(tmp_path / "stale")
    for d in (busy, stale):
        _dir(os.path.join(d, "table.parquet"), {"part-0": "x"})
        for p in (os.path.join(d, "table.parquet", "part-0"), os.path.join(d, "table.parquet"), d):
            os.utime(p, (old, old))
    # a writer still adding part files deep inside: the root looks old
    Path(busy, "table.parquet", "part-1").write_text("y")
    os.utime(os.path.join(busy, "table.parquet"), (old, old))
    publish.sweep([busy, stale])
    assert os.path.exists(busy)
    assert not os.path.exists(stale)


def test_recover_restores_only_a_complete_retired_copy(tmp_path):
    live = str(tmp_path / "idx")
    whole, torn = f"{live}.retired-aaaa0000", f"{live}.retired-bbbb0000"
    _dir(whole, {"meta.json": "old", "data": "1"})
    # replace's cleanup killed mid-rmtree: newer, and without the marker
    _dir(torn, {"data": "half"})
    os.utime(whole, (time.time() - 60, time.time() - 60))
    publish.recover(live, "meta.json")
    assert _contents(live) == {"meta.json": "old", "data": "1"}
    assert sorted(os.listdir(tmp_path)) == ["idx", "idx.retired-bbbb0000"]
    # with only the torn copy left, nothing goes live
    lone = str(tmp_path / "lone")
    _dir(f"{lone}.retired-cccc0000", {"data": "half"})
    publish.recover(lone, "meta.json")
    assert not os.path.exists(lone)


def test_check_dest_refuses_a_foreign_dir(tmp_path):
    foreign = str(tmp_path / "out")
    _dir(foreign, {"notes.txt": "keep me"})
    with pytest.raises(FileExistsError):
        publish.check_dest(foreign, "meta.json")
    assert _contents(foreign) == {"notes.txt": "keep me"}
    os.makedirs(tmp_path / "empty")
    _dir(str(tmp_path / "ours"), {"meta.json": "{}"})
    for ok in ("empty", "ours", "absent"):
        publish.check_dest(str(tmp_path / ok), "meta.json")


#: calls that rename, replace or link a path; ``.rename(`` and
#: ``.hardlink_to(`` catch ``pathlib.Path`` too. ``Path.replace`` is not
#: told apart from ``str.replace`` and stays uncaught.
_OS_CALLS = {"rename", "renames", "replace", "link"}
_METHOD_CALLS = {"rename", "hardlink_to", "link_to"}


def _publish_calls(tree):
    """(line, text) of every rename/link call in a module's AST,
    following ``import os as x`` / ``from os import rename`` aliases."""
    mods = {"os": "os", "shutil": "shutil"}
    funcs = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in ("os", "shutil"):
                    mods[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module in ("os", "shutil"):
            for a in node.names:
                funcs[a.asname or a.name] = f"{node.module}.{a.name}"
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and funcs.get(f.id) in (
            {f"os.{n}" for n in _OS_CALLS} | {"shutil.move"}
        ):
            yield node.lineno, funcs[f.id]
        elif isinstance(f, ast.Attribute):
            owner = mods.get(f.value.id) if isinstance(f.value, ast.Name) else None
            if (owner == "os" and f.attr in _OS_CALLS) or (
                owner == "shutil" and f.attr == "move"
            ):
                yield node.lineno, f"{owner}.{f.attr}"
            elif owner is None and f.attr in _METHOD_CALLS:
                yield node.lineno, f".{f.attr}"


def test_only_publish_renames_or_links():
    """The publish decision lives in one module: no other package
    module renames, replaces, moves or hard-links a path. The one
    exception is the graph store's ``os.replace`` of its ``_CURRENT``
    pointer, a file commit rather than a directory publish."""
    offenders = []
    for p in sorted(PACKAGE.rglob("*.py")):
        if p.name == "publish.py":
            continue
        lines = p.read_text().splitlines()
        for lineno, call in _publish_calls(ast.parse("\n".join(lines))):
            line = lines[lineno - 1]
            if p.name == "graph_store.py" and call == "os.replace" and "_POINTER" in line:
                continue
            offenders.append(f"{p.relative_to(PACKAGE)}:{lineno}: {call}")
    assert offenders == []


def test_publish_guard_sees_aliases_and_pathlib():
    src = """
import os as o
import shutil
from os import link as ln
from pathlib import Path
o.rename("a", "b")
shutil.move("a", "b")
ln("a", "b")
Path("a").rename("b")
"a-b".replace("-", "_")
"""
    assert [c for _, c in _publish_calls(ast.parse(src))] == [
        "os.rename", "shutil.move", "os.link", ".rename"
    ]
