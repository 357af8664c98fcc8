"""The three workloads. Each runs one client in a closed loop: the next
operation starts when the previous one has returned.

- ``chat``: one GraphChat turn per operation over a resident graph store.
- ``ingest``: one operation is a 25-article crawl micro-batch, a store
  commit and one read-after-write chat turn over the reloaded store.
- ``catalog``: one operation is one pass over a fixed list of registry
  entries, each materialized through a ``noop`` sink.

Every workload does its set-up, an untimed warm-up, then timed operations
until their summed time reaches the requested seconds. Checks of the
outputs run between or after operations, outside their timing; an
operation that raises or fails a check counts as failed.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from types import SimpleNamespace

import harness
import inputs
import oracle
from chatkit import QuestionNER, StubLLM

CATALOG_ENTRIES = (
    "label_propagation_parts",  # iterative graph loop with pinned intermediates
    "pagerank_nations",  # iterative graph loop
    "pack_sequences",  # range-partitioned prefix sum
    "decision_stump_orders",  # bucketed prefix sum and tree split search
    "bm25_keyword_topk",  # text scoring
    "dedup_minhash_signature",  # dedup signatures
    "graph_3hop_count_distinct",  # control: plain joins and aggregates
)
# share of documents.parquet that becomes the base corpus of the graph store
BASE_SHARE = 0.3
# A traced run does this many operations, whatever --seconds says, so its
# job and block counts repeat exactly between runs of one seed; few enough
# that a traced ingest or catalog run stays under two minutes.
TRACED_OPS = {"chat": 20, "ingest": 2, "catalog": 2}
SMOKE_CATALOG_ENTRIES = ("pagerank_nations", "pack_sequences", "graph_3hop_count_distinct")


@dataclass
class Config:
    workload: str
    seed: int
    seconds: float
    trace: bool
    sf_dir: str
    work_dir: str
    smoke: bool = False
    setup_reps: int = 3


@dataclass
class Outcome:
    """What a workload measured. ``report`` holds the workload's own named
    metrics as name -> (value, unit, samples)."""

    setup_s: float
    op_s: list[float]
    items: int
    attempted: int
    failed: int
    report: dict
    inputs: dict
    failures: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # traced runs only
    get_spark_s: float = 0.0
    build_s: float = 0.0
    op_stats: list = field(default_factory=list)  # JobStats per timed op
    op_windows: list = field(default_factory=list)  # (start, end) epoch s
    storage: tuple[float, int] = (0.0, 0)


class Context:
    def __init__(self, cfg: Config, spark, get_spark_s: float):
        self.cfg = cfg
        self.spark = spark
        self.get_spark_s = get_spark_s
        self.counters = harness.SparkCounters(spark)
        self.tracer = harness.Tracer(self.counters if cfg.trace else None)
        if cfg.trace:
            _patch_modules(self.tracer)
        self.t_start = time.time() - get_spark_s

    def more_ops(self, done: list[float]) -> bool:
        """Whether the closed loop should start another operation."""
        if self.cfg.trace:
            return len(done) < TRACED_OPS[self.cfg.workload]
        return sum(done) < self.cfg.seconds

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.cfg.workload} +{time.time() - self.t_start:.1f}s] {msg}", file=sys.stderr, flush=True)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# shared graph set-up
# ---------------------------------------------------------------------------


def _model_factories(gazetteer):
    from news_graph_rag_spark.ingest.embedder import HashEmbedder
    from news_graph_rag_spark.ingest.ner import GazetteerModel

    return (lambda: GazetteerModel(gazetteer)), (lambda: HashEmbedder())


def build_base_store(ctx: Context, corpus: inputs.Corpus):
    """Ingest the base corpus ``setup_reps`` times; keeps the last store.
    Returns (store, median build seconds)."""
    from news_graph_rag_spark.graph_store import GraphStore
    from news_graph_rag_spark.ingest.quarantine import _raw_schema
    from news_graph_rag_spark.ingest.upserts import ingest_articles

    ner, enc = _model_factories(corpus.gazetteer)
    rows = [a.row() for a in corpus.base]
    times, store = [], None
    for _ in range(ctx.cfg.setup_reps):
        if store is not None:
            store.release_checkpoints()
        t0 = time.perf_counter()
        with ctx.tracer.span("ingest.upserts.base_ingest"):
            raw = ctx.spark.createDataFrame(rows, schema=_raw_schema())
            lazy = ingest_articles(
                GraphStore.empty(ctx.spark), raw, ner_model_factory=ner, encoder_factory=enc
            )
            store = lazy.localized()
        times.append(time.perf_counter() - t0)
    ctx.log(f"base store builds {[round(t, 3) for t in times]}")
    return store, harness.median(times)


class _TracedFrame:
    """A lazy DataFrame whose ``collect`` runs inside a span."""

    def __init__(self, df, tracer: harness.Tracer, name: str):
        self._df, self._tracer, self._name = df, tracer, name

    def limit(self, n: int) -> "_TracedFrame":
        return _TracedFrame(self._df.limit(n), self._tracer, self._name)

    def collect(self):
        with self._tracer.span(self._name) as sp:
            rows = self._df.collect()
            sp.attrs["rows"] = len(rows)
        return rows


def _traced_call(tracer: harness.Tracer, name: str, fn):
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call


def _patch_modules(tracer: harness.Tracer) -> None:
    """Traced runs only: route the package's module-level calls that a
    chat turn or a crawl makes internally through spans. A run is one
    process, so the patches last for the process."""
    import news_graph_rag_spark.llm as llm_mod
    from news_graph_rag_spark.graph_store import GraphStore

    real_lookup = llm_mod.lookup_entities

    def lookup(store, names, *args, **kwargs):
        with tracer.span("retrieval.fulltext.lookup_entities"):
            df = real_lookup(store, names, *args, **kwargs)
        return _TracedFrame(df, tracer, "retrieval.fulltext.lookup_entities.collect")

    llm_mod.lookup_entities = lookup
    real_localized = GraphStore.localized

    def localized(self):
        with tracer.span("graph_store.localized"):
            return real_localized(self)

    GraphStore.localized = localized


def make_chat(ctx: Context, store):
    from news_graph_rag_spark.ingest.ner import EntityFinder
    from news_graph_rag_spark.llm import GraphChat

    chat = GraphChat(store=store, llm=StubLLM(), entity_finder=EntityFinder(QuestionNER()))
    tr = ctx.tracer
    if tr.enabled:
        finder = chat.entity_finder
        chat.entity_finder = SimpleNamespace(find=_traced_call(tr, "ingest.ner.find", finder.find))
        store.schema_string = _traced_call(tr, "graph_store.schema_string", store.schema_string)
        chat.llm = _traced_call(tr, "llm.stub", chat.llm)
        chat.generate_sql = _traced_call(tr, "llm.generate_sql", chat.generate_sql)
        real_execute = chat.execute

        def execute(sql):
            with tr.span("llm.execute"):
                df = real_execute(sql)
            return _TracedFrame(df, tr, "llm.execute.collect")

        chat.execute = execute
    return chat


CHAT_LAYER_SPANS = {
    "ingest.ner.find_s": ("ingest.ner.find",),
    "retrieval.fulltext.lookup_entities_s": (
        "retrieval.fulltext.lookup_entities",
        "retrieval.fulltext.lookup_entities.collect",
    ),
    "graph_store.schema_string_s": ("graph_store.schema_string",),
    "llm.execute_s": ("llm.execute", "llm.execute.collect"),
}


def chat_layers(tracer: harness.Tracer, ops: list[int], prefix: str = "") -> dict:
    """Median per turn of each chat layer's time and counts."""
    per: dict[str, list[float]] = {k: [] for k in CHAT_LAYER_SPANS}
    gen_self, cands, rows = [], [], []
    for op in ops:
        spans = tracer.op_spans(op)
        for metric, names in CHAT_LAYER_SPANS.items():
            per[metric].append(sum(s.end - s.start for s in spans if s.name in names))
        for s in spans:
            if s.name == "llm.generate_sql":
                kids = [c for c in spans if c.parent == s.sid]
                gen_self.append((s.end - s.start) - sum(c.end - c.start for c in kids))
        cands.append(sum(s.attrs.get("rows", 0) for s in spans if s.name.startswith("retrieval.fulltext")))
        rows.append(sum(s.attrs.get("rows", 0) for s in spans if s.name == "llm.execute.collect"))
    out = {prefix + k: (harness.median(v), "s") for k, v in per.items()}
    out[prefix + "llm.generate_sql_s"] = (harness.median(gen_self), "s")
    out[prefix + "retrieval.fulltext.candidates"] = (harness.median(cands), "count")
    out[prefix + "llm.rows"] = (harness.median(rows), "count")
    return out


def spark_op_layers(stats: list, windows: list) -> dict:
    """Median per operation of the Spark work its jobs did."""
    gaps = [1 - s.busy_seconds(a, b) / max(b - a, 1e-9) for s, (a, b) in zip(stats, windows)]
    med = harness.median
    return {
        "spark.jobs_per_op": (med([s.jobs for s in stats]), "count"),
        "spark.stages_per_op": (med([s.stages for s in stats]), "count"),
        "spark.tasks_per_op": (med([s.tasks for s in stats]), "count"),
        "spark.shuffle_mb_per_op": (med([s.shuffle_bytes / 1e6 for s in stats]), "MB"),
        "spark.executor_s_per_op": (med([s.executor_run_ms / 1e3 for s in stats]), "s"),
        "spark.driver_gap_share": (med(gaps), "ratio"),
    }


# ---------------------------------------------------------------------------
# chat
# ---------------------------------------------------------------------------


def run_chat(ctx: Context) -> Outcome:
    cfg = ctx.cfg
    docs = inputs.read_documents(cfg.sf_dir)
    corpus = inputs.make_corpus(docs, cfg.seed, base_share=BASE_SHARE)
    parquet = os.path.join(cfg.work_dir, "articles.parquet")
    oracle.write_articles(corpus.base, parquet)
    chat_oracle = oracle.ChatOracle(parquet)

    store, build_s = build_base_store(ctx, corpus)
    setup_s = ctx.get_spark_s + build_s
    chat = make_chat(ctx, store)

    _warm_up_chat(ctx, chat, inputs.chat_questions(corpus, 40, seed_offset=1))
    ctx.log("timed turns start")

    questions = inputs.chat_questions(corpus, 5000)
    out = Outcome(setup_s, [], 0, 0, 0, {}, {}, get_spark_s=ctx.get_spark_s, build_s=build_s)
    asked: list[inputs.Question] = []
    tr = ctx.tracer
    for i, q in enumerate(questions):
        if not ctx.more_ops(out.op_s):
            break
        tr.op = i
        start = time.time()
        t0 = time.perf_counter()
        try:
            with tr.span("chat.turn"):
                chat.answer(q.text)
            ok = True
        except Exception:
            ok = False
            out.failures.append(f"turn {i}: {traceback.format_exc(limit=2)}")
        dt_ = time.perf_counter() - t0
        tr.op = None
        out.op_s.append(dt_)
        out.op_windows.append((start, start + dt_))
        out.attempted += 1
        asked.append(q)
        if ok and oracle.rows_of(chat.last.get("records", [])) != chat_oracle.expected(q):
            ok = False
            out.failures.append(f"turn {i}: wrong answer to {q.text!r}: {chat.last.get('records')}")
        out.failed += not ok
        out.items += ok
        if tr.enabled:
            out.op_stats.append(tr.op_stats(i))
    chat_oracle.close()
    ctx.log(f"timed turns done, {out.attempted} turns checked")
    out.storage = ctx.counters.storage()
    ent = [q for q in asked if q.label is not None]
    out.inputs = {
        "base_articles": len(corpus.base),
        "repeat_share": round(inputs.repeat_share([q.text for q in asked]), 4),
        "typo_share_of_entity_questions": round(sum(q.typo for q in ent) / max(len(ent), 1), 4),
    }
    out.report = {
        "setup_s": (setup_s, "s", cfg.setup_reps),
        "latency_p50_s": (harness.median(out.op_s), "s", len(out.op_s)),
        "latency_p95_s": (harness.percentile(out.op_s, 95), "s", len(out.op_s)),
        "storage_mb": (out.storage[0], "MB", 1),
    }
    if tr.enabled:
        out.layers = {"ingest.upserts.base_ingest_s": (build_s, "s")}
        out.layers.update(chat_layers(tr, list(range(len(asked)))))
        out.layers.update(spark_op_layers(out.op_stats, out.op_windows))
    return out


def _warm_up_chat(ctx: Context, chat, questions: list[inputs.Question]) -> None:
    """Untimed turns in cycles of the four shapes, until a cycle's time is
    within 10% of the previous one (at least two, at most ten cycles)."""
    n = len(inputs.QUESTION_SHAPES)
    prev = None
    cycles = []
    for c in range(10):
        t0 = time.perf_counter()
        for q in questions[(c * n) % len(questions) :][:n]:
            chat.answer(q.text)
        cur = time.perf_counter() - t0
        cycles.append(round(cur, 3))
        if prev is not None and abs(cur - prev) <= 0.1 * prev:
            break
        prev = cur
    ctx.log(f"warm-up cycles {cycles}")


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def _crawled(a: inputs.Article) -> SimpleNamespace:
    """The attribute shape of a crawled article (what the crawler's
    ``article_to_row`` reads)."""
    return SimpleNamespace(
        html=SimpleNamespace(
            requested_url=a.url,
            source_info=SimpleNamespace(publisher=a.source_name, type=a.source_type, url=a.source_url),
        ),
        title=a.title,
        body=SimpleNamespace(
            summary=list(a.summary),
            sections=[SimpleNamespace(headline=list(s["headline"]), paragraphs=list(s["paragraphs"])) for s in a.sections],
        ),
        lang=a.language,
        publishing_date=a.publishing_date,
        topics=list(a.topics),
        authors=list(a.authors),
    )


class _Expected:
    """Graph table counts implied by the articles delivered so far."""

    def __init__(self, base: list[inputs.Article], gazetteer):
        self.label_of = {n: lb for n, lb in inputs.entity_list(gazetteer)}
        self.urls: set[str] = set()
        self.sources: set[str] = set()
        self.topics: set[str] = set()
        self.entities: set[str] = set()
        self.rejected = 0
        for a in base:
            self.add(a)

    def add(self, a: inputs.Article) -> None:
        if not a.valid:
            self.rejected += 1
            return
        self.urls.add(a.url)
        self.sources.add(a.source_name)
        self.topics.update(a.topics)
        self.entities.update(a.mentions)

    def counts(self) -> dict[str, int]:
        by_label = {lb: 0 for lb in inputs.LABELS}
        for n in self.entities:
            by_label[self.label_of[n]] += 1
        return {
            "article": len(self.urls),
            "source": len(self.sources),
            "topic": len(self.topics),
            # authors are empty, so each source is also a person (the
            # publisher fallback)
            "person": by_label["person"] + len(self.sources),
            "organization": by_label["organization"],
            "location": by_label["location"],
        }


def run_ingest(ctx: Context) -> Outcome:
    from news_graph_rag_spark.graph_store import GraphStore
    from news_graph_rag_spark.ingest.crawler import crawl_and_ingest

    cfg = ctx.cfg
    tr = ctx.tracer
    docs = inputs.read_documents(cfg.sf_dir)
    corpus = inputs.make_corpus(docs, cfg.seed, base_share=BASE_SHARE)
    batches = inputs.ingest_batches(corpus, 200)
    root = os.path.join(cfg.work_dir, "store")
    quarantine = os.path.join(cfg.work_dir, "quarantine")
    parquet = os.path.join(cfg.work_dir, "articles.parquet")
    oracle.write_articles(corpus.base, parquet)
    chat_oracle = oracle.ChatOracle(parquet)
    ner, enc = _model_factories(corpus.gazetteer)

    store, build_s = build_base_store(ctx, corpus)
    t0 = time.perf_counter()
    store.save_atomic(root)
    store.release_checkpoints()
    setup_s = ctx.get_spark_s + build_s + (time.perf_counter() - t0)
    expected = _Expected(corpus.base, corpus.gazetteer)
    n_articles = 0
    out = Outcome(setup_s, [], 0, 0, 0, {}, {}, get_spark_s=ctx.get_spark_s, build_s=build_s)
    commit_s, read_s, added, offered = [], [], [], []
    decomposed: dict[str, list[float]] = {}
    written_ratio: list[float] = []
    timed_ops: list[int] = []
    asked: list[inputs.Question] = []

    def one_op(i: int, batch: inputs.Batch) -> None:
        nonlocal store, n_articles
        arts = [_crawled(a) for a in batch.articles]
        q = inputs.read_question(batch, i, cfg.seed)
        tr.op = i
        start = time.time()
        t0 = time.perf_counter()
        ok, chat, fresh = True, None, None
        try:
            with tr.span("ingest.op"):
                with tr.span("ingest.crawler.crawl_and_ingest"):
                    store, nv, nr = crawl_and_ingest(
                        store,
                        arts,
                        batch_size=inputs.BATCH_SIZE,
                        rejected_root=quarantine,
                        ner_model_factory=ner,
                        encoder_factory=enc,
                    )
                with tr.span("graph_store.save_atomic"):
                    store.save_atomic(root)
                store.release_checkpoints()
                t1 = time.perf_counter()
                with tr.span("graph_store.load"):
                    fresh = GraphStore.load(ctx.spark, root)
                chat = make_chat(ctx, fresh)
                with tr.span("chat.turn"):
                    chat.answer(q.text)
            t2 = time.perf_counter()
        except Exception:
            ok = False
            out.failures.append(f"op {i}: {traceback.format_exc(limit=3)}")
            t1 = t2 = time.perf_counter()
        tr.op = None
        for a in batch.articles:
            expected.add(a)
        chat_oracle.add(batch.articles)
        if ok:
            # read-after-write: the turn sees the batch just written, the
            # article count is base plus distinct valid articles (the
            # re-delivered ones add nothing), and the crawl split valid
            # from malformed rows as generated
            got = oracle.rows_of(chat.last.get("records", []))
            want = chat_oracle.expected(q)
            n_now = fresh.tables["article"].count()
            if got != want:
                ok = False
                out.failures.append(f"op {i}: {q.text!r} answered {got}, expected {want}")
            if n_now != len(expected.urls) or (nv, nr) != (batch.n_valid, len(batch.articles) - batch.n_valid):
                ok = False
                out.failures.append(
                    f"op {i}: {n_now} articles (expected {len(expected.urls)}), valid/rejected {nv}/{nr}"
                )
            added.append(n_now - n_articles)
            offered.append(batch.n_valid)
            n_articles = n_now
        timed_ops.append(i)
        asked.append(q)
        out.op_s.append(t2 - t0)
        out.op_windows.append((start, start + (t2 - t0)))
        out.attempted += 1
        commit_s.append(t1 - t0)
        read_s.append(t2 - t1)
        out.failed += not ok
        out.items += len(batch.new_valid) if ok else 0
        if tr.enabled:
            out.op_stats.append(tr.op_stats(i))
            written_ratio.append(_store_bytes(root) / _user_bytes(batch))
            _decompose(ctx, batch, ner, enc, decomposed)

    # warm-up, untimed: one crawl batch of a separate stream through the
    # whole write path (validation, quarantine, MERGE into the committed
    # store, commit), then one turn of each shape over the reloaded store;
    # its articles join the expected counts and the oracle
    t0 = time.perf_counter()
    warm = inputs.ingest_batches(corpus, 1, stream=1)[0]
    store, _, _ = crawl_and_ingest(
        store,
        [_crawled(a) for a in warm.articles],
        batch_size=inputs.BATCH_SIZE,
        rejected_root=quarantine,
        ner_model_factory=ner,
        encoder_factory=enc,
    )
    store.save_atomic(root)
    store.release_checkpoints()
    ctx.log(f"warm-up batch {time.perf_counter() - t0:.3f}")
    for a in warm.articles:
        expected.add(a)
    chat_oracle.add(warm.articles)
    base_chat = make_chat(ctx, GraphStore.load(ctx.spark, root))
    for q in inputs.chat_questions(corpus, len(inputs.QUESTION_SHAPES), seed_offset=1):
        base_chat.answer(q.text)
    n_articles = store.tables["article"].count()
    ctx.log(f"warm-up batch and turns {time.perf_counter() - t0:.3f}")
    for i, batch in enumerate(batches):
        if not ctx.more_ops(out.op_s):
            break
        one_op(i, batch)
    ctx.log(f"timed ops {[round(x, 3) for x in out.op_s]} commit {[round(x, 3) for x in commit_s]}")

    # final counts, outside the timed window
    final = GraphStore.load(ctx.spark, root)
    got = {t: final.tables[t].count() for t in expected.counts()}
    got_rejected = oracle.parquet_rows(os.path.join(quarantine, "_rejected"))
    if got != expected.counts() or got_rejected != expected.rejected:
        out.failed += 1
        out.attempted += 1
        out.failures.append(
            f"final counts {got} / rejected {got_rejected}, expected {expected.counts()} / {expected.rejected}"
        )
    chat_oracle.close()
    out.storage = ctx.counters.storage()
    run_batches = [batches[i] for i in timed_ops]
    n_arts = sum(len(b.articles) for b in run_batches)
    ent = [q for q in asked if q.shape != "date_of_title"]
    out.inputs = {
        "base_articles": len(corpus.base),
        "redelivery_share": round(sum(b.redelivered for b in run_batches) / max(n_arts, 1), 4),
        "malformed_share": round(sum(len(b.articles) - b.n_valid for b in run_batches) / max(n_arts, 1), 4),
        "read_typo_share": round(sum(q.typo for q in ent) / max(len(ent), 1), 4),
    }
    window = sum(out.op_s)
    out.report = {
        "setup_s": (setup_s, "s", cfg.setup_reps),
        "articles_per_s": (out.items / window if window else 0.0, "1/s", len(out.op_s)),
        "commit_p50_s": (harness.median(commit_s), "s", len(commit_s)),
        "read_p50_s": (harness.median(read_s), "s", len(read_s)),
        "storage_mb": (out.storage[0], "MB", 1),
    }
    if tr.enabled:
        lay = {"ingest.upserts.base_ingest_s": (build_s, "s")}
        for name in ("ingest.crawler.crawl_and_ingest", "graph_store.localized", "graph_store.save_atomic", "graph_store.load"):
            per_op = [sum(s.end - s.start for s in tr.op_spans(op) if s.name == name) for op in timed_ops]
            lay[name + "_s"] = (harness.median(per_op), "s")
        for name, vals in decomposed.items():
            lay[name + "_s"] = (harness.median(vals), "s")
        n_rej = sum(len(b.articles) - b.n_valid for b in run_batches)
        lay["ingest.quarantine.rejected_ratio"] = (n_rej / max(n_arts, 1), "ratio")
        lay["ingest.upserts.new_row_ratio"] = (sum(added) / max(sum(offered), 1), "ratio")
        lay["graph_store.bytes_written_per_user_byte"] = (harness.median(written_ratio), "ratio")
        lay.update(chat_layers(tr, timed_ops, prefix="read."))
        lay.update(spark_op_layers(out.op_stats, out.op_windows))
        out.layers = lay
    return out


def _store_bytes(root: str) -> int:
    from news_graph_rag_spark.graph_store import GraphStore

    version = GraphStore._current_version(root)
    total = 0
    for d, _, files in os.walk(os.path.join(root, version)):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _user_bytes(batch: inputs.Batch) -> int:
    return sum(len(json.dumps(a.row(), default=str)) for a in batch.articles)


def _decompose(ctx: Context, batch: inputs.Batch, ner, enc, acc: dict) -> None:
    """Call the chunker, embedder and NER operators on the batch's valid
    articles, each materialized on its own (traced runs only)."""
    from pyspark.sql import functions as F

    from news_graph_rag_spark.ingest.chunker import chunk_articles
    from news_graph_rag_spark.ingest.embedder import embed_texts
    from news_graph_rag_spark.ingest.ner import find_entities
    from news_graph_rag_spark.ingest.quarantine import _raw_schema

    tr = ctx.tracer
    raw = ctx.spark.createDataFrame([a.row() for a in batch.articles if a.valid], schema=_raw_schema())
    chunks = chunk_articles(raw)
    steps = {
        "ingest.chunker.chunk_articles": chunks,
        "ingest.embedder.embed_texts": embed_texts(chunks, enc),
        "ingest.ner.find_entities": find_entities(chunks.withColumn("uid", F.col("article_url")), ner),
    }
    for name, df in steps.items():
        with tr.span(name):
            noop(df)
        acc.setdefault(name, []).append(tr.durations(name)[-1])


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------


def run_catalog(ctx: Context) -> Outcome:
    from news_graph_rag_spark.queries import registry
    from news_graph_rag_spark.queries.catalog import TABLES, load

    cfg = ctx.cfg
    tr = ctx.tracer
    reg = registry()
    entries = list(SMOKE_CATALOG_ENTRIES if cfg.smoke else CATALOG_ENTRIES)

    # set-up: open and scan every input table (file listing, footers,
    # first scans), repeated; the median is reported
    loads = []
    for _ in range(cfg.setup_reps):
        t0 = time.perf_counter()
        for t in TABLES:
            noop(load(ctx.spark, cfg.sf_dir, t))
        loads.append(time.perf_counter() - t0)
    build_s = harness.median(loads)
    ctx.log(f"table loads {[round(x, 3) for x in loads]}")
    setup_s = ctx.get_spark_s + build_s
    out = Outcome(setup_s, [], 0, 0, 0, {}, {}, get_spark_s=ctx.get_spark_s, build_s=build_s)

    def one_pass(op: int | None) -> tuple[float, list[str]]:
        tr.op = op
        errors = []
        t0 = time.perf_counter()
        with tr.span("catalog.pass"):
            for name in entries:
                try:
                    with tr.span(f"queries.{name}.build"):
                        df = reg[name].fn(ctx.spark, cfg.sf_dir)
                    with tr.span(f"queries.{name}.materialize"):
                        noop(df)
                except Exception:
                    errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        tr.op = None
        return time.perf_counter() - t0, errors

    def retained_blocks() -> dict[str, int]:
        """One more pass, untimed and after the timed ones: the cached
        partitions held after each entry (storage reads force garbage
        collection, so they stay out of the timed passes)."""
        held = {}
        for name in entries:
            noop(reg[name].fn(ctx.spark, cfg.sf_dir))
            held[name] = ctx.counters.storage()[1]
        return held

    # untimed warm-up: one pass that collects every entry and checks it
    # against its oracle, then one pass as timed (the first pass after the
    # oracle pass is still 10-20% slower than the next)
    cat_oracle = oracle.CatalogOracle(cfg.sf_dir, TABLES)
    bad: set[str] = set()
    for name in entries:
        try:
            df = reg[name].fn(ctx.spark, cfg.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            got = oracle.rows_hash(df.columns, rows)
            want, n_want = cat_oracle.result_hash(reg[name].oracle)
            if got != want:
                bad.add(name)
                out.failures.append(f"{name}: {len(rows)} rows, hash differs from oracle ({n_want} rows)")
        except Exception:
            bad.add(name)
            out.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
    cat_oracle.close()
    ctx.log("oracle pass done")
    warm, _ = one_pass(None)
    ctx.log(f"warm-up pass {warm:.3f}")

    p = 0
    while ctx.more_ops(out.op_s):
        start = time.time()
        dt_, errors = one_pass(p)
        out.op_s.append(dt_)
        out.op_windows.append((start, time.time()))
        out.attempted += 1
        failed = bool(errors) or bool(bad)
        out.failures.extend(errors)
        out.failed += failed
        out.items += 0 if failed else len(entries)
        if tr.enabled:
            out.op_stats.append(tr.op_stats(p))
        p += 1
    ctx.log(f"timed passes {[round(x, 3) for x in out.op_s]}")
    out.storage = ctx.counters.storage()
    out.inputs = {"entries": entries, "sf_dir": cfg.sf_dir}
    out.report = {
        "setup_s": (setup_s, "s", cfg.setup_reps),
        "pass_p50_s": (harness.median(out.op_s), "s", len(out.op_s)),
    }
    if tr.enabled:
        held = retained_blocks()
        lay = {}
        for name in entries:
            builds, mats, jobs, shuffle, gaps = [], [], [], [], []
            for op in range(p):
                spans = [s for s in tr.op_spans(op) if s.name.startswith(f"queries.{name}.")]
                tr.resolve(spans)
                b = next(s for s in spans if s.name.endswith(".build"))
                m = next(s for s in spans if s.name.endswith(".materialize"))
                builds.append(b.end - b.start)
                mats.append(m.end - m.start)
                st = harness.JobStats()
                st.add(b.stats)
                st.add(m.stats)
                jobs.append(st.jobs)
                shuffle.append(st.shuffle_bytes)
                gaps.append((m.end - b.start) - st.busy_seconds(b.start, m.end))
            q = f"queries.{name}."
            lay[q + "build_s"] = (harness.median(builds), "s")
            lay[q + "materialize_s"] = (harness.median(mats), "s")
            lay[q + "jobs"] = (harness.median(jobs), "count")
            lay[q + "shuffle_bytes"] = (harness.median(shuffle), "bytes")
            lay[q + "driver_gap_s"] = (harness.median(gaps), "s")
            lay[q + "blocks_retained"] = (held[name], "count")
        lay.update(spark_op_layers(out.op_stats, out.op_windows))
        out.layers = lay
    return out


WORKLOADS = {"chat": run_chat, "ingest": run_ingest, "catalog": run_catalog}
