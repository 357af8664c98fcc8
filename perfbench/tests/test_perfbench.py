"""The benchmark's own tests: seeded inputs are deterministic, and a smoke
run (sf0.001) prints every named metric with its unit.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import inputs  # noqa: E402
from chatkit import QuestionNER  # noqa: E402
from run import DATA_ROOT  # noqa: E402

SMOKE_DIR = os.path.join(DATA_ROOT, "sf0.001")

REPORT_METRICS = {
    "chat": {"setup_s": "s", "latency_p50_s": "s", "latency_p95_s": "s", "storage_mb": "MB"},
    "ingest": {"setup_s": "s", "articles_per_s": "1/s", "commit_p50_s": "s", "read_p50_s": "s", "storage_mb": "MB"},
    "catalog": {"setup_s": "s", "pass_p50_s": "s"},
}

pytestmark = pytest.mark.skipif(
    not os.path.isfile(os.path.join(SMOKE_DIR, "documents.parquet")), reason="no sf0.001 tables"
)


@pytest.fixture(scope="module")
def docs():
    return inputs.read_documents(SMOKE_DIR)


def _snapshot(corpus, batches, questions):
    return (
        [a.row() for a in corpus.base],
        [d.doc_id for d in corpus.holdout],
        [[a.row() for a in b.articles] for b in batches],
        [q.text for q in questions],
    )


def test_generator_is_deterministic_per_seed(docs):
    def make(seed):
        corpus = inputs.make_corpus(docs, seed, 0.3)
        return _snapshot(corpus, inputs.ingest_batches(corpus, 6), inputs.chat_questions(corpus, 50))

    assert make(7) == make(7)
    assert make(7) != make(8)


def test_generated_properties(docs):
    corpus = inputs.make_corpus(docs, 3, 0.3)
    batches = inputs.ingest_batches(corpus, 10)
    arts = [a for b in batches for a in b.articles]
    assert all(len(b.articles) == inputs.BATCH_SIZE for b in batches)
    assert sum(b.redelivered for b in batches) / len(arts) == pytest.approx(0.2)
    assert sum(not a.valid for a in arts) / len(arts) == pytest.approx(0.1)
    # re-deliveries repeat articles already delivered, unchanged
    delivered = {a.url: a.row() for a in corpus.base}
    for b in batches:
        for a in b.articles[: b.redelivered]:
            assert delivered[a.url] == a.row()
        delivered.update((a.url, a.row()) for a in b.new_valid)
    long_paras = [p for a in corpus.base for p in a.paragraphs() if len(p) >= inputs.MAX_SHORT_PARAGRAPH]
    assert long_paras, "some paragraphs must take the chunker's split path"
    names = [n for n, _ in inputs.entity_list(corpus.gazetteer)]
    assert not any(n in p for p in long_paras for n in names)


def test_typos_link_to_their_own_entity_only(docs):
    import random

    gaz = inputs.make_gazetteer(docs)
    tokens = [t.lower() for n, _ in inputs.entity_list(gaz) for t in n.split()]
    rng = random.Random(0)
    for name, _ in inputs.entity_list(gaz):
        wrong = inputs.typo(name, rng)
        assert inputs.levenshtein(wrong.lower(), name.lower()) == 1
        # the linker allows one edit per token of this length
        for tok in wrong.lower().split():
            near = [t for t in tokens if inputs.levenshtein(tok, t) <= 1]
            assert len(near) == 1 and near[0] in name.lower().split()


def test_question_ner_finds_names_but_not_titles():
    ner = QuestionNER()
    spans = ner("List 5 article titles about Vantor Kilopa", ["person"], 0.5)
    assert [s["text"] for s in spans] == ["Vantor Kilopa"]
    assert ner('When was the article with the title "report 3: A b" published?', ["person"], 0.5) == []


def _run(*args: str) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), *args, "--smoke", "--data-root", DATA_ROOT],
        cwd=REPO_ROOT,
        stdout=subprocess.PIPE,
        text=True,
        timeout=900,
        check=False,
    )
    assert proc.returncode == 0
    return proc.stdout.strip().splitlines()


def _benchmark_json() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["chat", "ingest", "catalog"])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    lines = _run("--workload", workload, "--seed", "1", "--seconds", "2", "--trace", str(trace))
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    bench = _benchmark_json()
    named = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in named}
    for m in named:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    for name, unit in REPORT_METRICS[workload].items():
        assert report["metrics"][name]["unit"] == unit
        assert report["metrics"][name]["samples"] >= 1
    if trace:
        assert report["layers"]
        with open(os.path.join(BENCH_DIR, ".out", f"trace-{workload}-sf0.001-seed1.json")) as f:
            doc = json.load(f)
        assert {"name", "start", "end", "parent", "op"} <= set(doc["spans"][0])
        assert doc["self_time_s"]


def test_supervisor_stops_and_reaps_what_the_run_leaves(tmp_path):
    """A process that outlives its parent, as the JVM outlives the run
    process, is stopped and reaped before the command returns, and the
    child's exit code is passed on."""
    pidfile = tmp_path / "orphan.pid"
    script = (
        f"import sys; sys.path.insert(0, {BENCH_DIR!r}); import harness; "
        f"sys.exit(harness.run_supervised(['sh', '-c', 'sleep 300 & echo $! > {pidfile}; exit 3']))"
    )
    proc = subprocess.run([sys.executable, "-c", script], timeout=60, check=False)
    assert proc.returncode == 3
    assert not os.path.exists(f"/proc/{int(pidfile.read_text())}")
