"""pins: the one release path for localCheckpoint blocks — leak tests
for the iterative kernels that pin per round, and the guard that keeps
every checkpoint release inside ``pins.release``.

The leak tests read the block manager (``getRDDStorageInfo``) without
forcing a GC, so a generation counts as freed only when something
released it, not when the ContextCleaner happened to run."""

import ast
from pathlib import Path

import pytest
from pyspark.sql import DataFrame

from news_graph_rag_spark.graph_algos import connected_components, k_core, pagerank
from news_graph_rag_spark.pins import release

PACKAGE = Path(__file__).resolve().parent.parent / "news_graph_rag_spark"


@pytest.fixture
def stored(spark):
    jsc = spark.sparkContext._jsc.sc()
    return lambda: {info.id() for info in jsc.getRDDStorageInfo()}


def _checkpoints_read_by(df):
    """One frame per LogicalRDD leaf of ``df``'s analyzed plan: the
    checkpoint frames ``df`` reads."""
    spark = df.sparkSession
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    return [
        DataFrame(of_rows(spark._jsparkSession, leaf), spark)
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    ]


def _rdd_ids(frames):
    return {f._jdf.queryExecution().analyzed().rdd().id() for f in frames}


def _assert_holds_only_what_it_reads(out, base, stored):
    """After materializing ``out``, the blocks held beyond ``base`` are
    exactly the checkpoints ``out`` reads; releasing those returns the
    block manager to ``base``. Returns how many there were."""
    reads = _checkpoints_read_by(out)
    assert stored() - base == _rdd_ids(reads)
    release(*reads)
    assert stored() - base == set()
    return len(reads)


def _path(spark, n):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")


def test_connected_components_holds_one_generation(spark, stored):
    held = []
    # 4 and 5 pointer-halving rounds; max_iter=0 runs none, and its
    # initial parents read the symmetric edge pin instead
    for n, max_iter in ((8, 50), (16, 50), (4, 0)):
        base = stored()
        out = connected_components(_path(spark, n), max_iter=max_iter)
        assert out.count() == n + 1
        held.append(_assert_holds_only_what_it_reads(out, base, stored))
    assert held == [1, 1, 1]


def test_pagerank_holds_one_generation(spark, stored):
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)] + [(0, 3), (2, 5)], "src long, dst long"
    )
    base = stored()
    out = pagerank(edges, iters=10)  # pins at rounds 5 and 10
    assert out.count() == 6
    assert _assert_holds_only_what_it_reads(out, base, stored) == 1


def test_k_core_holds_only_the_final_degree_pin(spark, stored):
    # a 4-clique with a 5-edge tail: the 2-core peel drops one tail
    # node per round, so the loop runs six rounds
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tail = [(i, i + 1) for i in range(3, 8)]
    edges = spark.createDataFrame(clique + tail, "src long, dst long")
    base = stored()
    out = k_core(edges, k=2)
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3]
    assert _assert_holds_only_what_it_reads(out, base, stored) == 1


def test_train_bpe_holds_nothing(spark, stored):
    from news_graph_rag_spark.pipeline import train_bpe

    docs = spark.createDataFrame(
        [("low lower lowest",), ("newer newest wider",), ("low new wide",)], "text string"
    )
    base = stored()
    merges = train_bpe(docs, num_merges=9, checkpoint_every=4)  # pins after 4 and 8
    assert len(merges) == 9
    assert stored() - base == set()


def test_ppr_expand_hands_its_pins_to_the_store(spark, stored):
    from news_graph_rag_spark.graph_store import GraphStore
    from news_graph_rag_spark.retrieval import ppr_expand

    chunk = spark.createDataFrame([(f"Chunk:{i}",) for i in range(6)], "uid string")
    men = spark.createDataFrame(
        [(f"Chunk:{i}", f"Entity:{i % 2}") for i in range(6)], "src_uid string, dst_uid string"
    )
    store = GraphStore(spark, {"chunk": chunk, "mentions": men})
    seeds = spark.createDataFrame([("Chunk:0", 2.0), ("Chunk:1", 1.0)], "uid string, score double")
    base = stored()
    out = ppr_expand(store, seeds, k=3, iters=3)
    assert out.count() == 3
    # only the k-row result stays pinned, and the store holds it
    assert stored() - base == _rdd_ids([out]) == _rdd_ids(store.checkpoints)
    store.release_checkpoints()
    assert stored() - base == set() and store.checkpoints == []
    # the plan-inspection form leaves the seed and round pins with
    # the store
    ppr_expand(store, seeds, k=3, finalize=False).collect()
    assert len(store.checkpoints) == 2
    assert stored() - base == _rdd_ids(store.checkpoints)
    store.release_checkpoints()
    assert stored() - base == set()


def test_release_refuses_a_derived_frame(spark, stored):
    pin = spark.range(4).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="not a checkpoint frame"):
        release(pin, pin.select("id"))
    assert _rdd_ids([pin]) <= stored()  # nothing was freed
    release(None, pin)
    assert not _rdd_ids([pin]) & stored()


# -- guard ------------------------------------------------------------------


def _is_call_of(node, attr):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def _own_nodes(fn):
    """The nodes of ``fn``'s body, not descending into nested
    functions (their bindings are their own)."""
    todo = list(fn.body)
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(node))


def _release_calls(tree):
    """(line, call) for each ``unpersistRDD`` call and each
    ``.analyzed().rdd()`` read — the two halves of a checkpoint
    release."""
    out = []
    for node in ast.walk(tree):
        if _is_call_of(node, "unpersistRDD"):
            out.append((node.lineno, "unpersistRDD"))
        elif _is_call_of(node, "rdd") and _is_call_of(node.func.value, "analyzed"):
            out.append((node.lineno, ".analyzed().rdd()"))
    return sorted(out)


def _unpersisted_checkpoints(tree):
    """(line, name) for each ``name.unpersist()`` where the same
    function bound ``name`` from a ``.localCheckpoint(`` call, directly
    or through a plain ``a = b`` alias. Such an unpersist frees
    nothing."""
    out = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        nodes = list(_own_nodes(fn))
        binds = [
            (t.id, a.value)
            for a in nodes
            if isinstance(a, ast.Assign)
            for t in a.targets
            if isinstance(t, ast.Name)
        ]
        pinned: set = set()
        while True:
            new = {
                name
                for name, value in binds
                if _is_call_of(value, "localCheckpoint")
                or (isinstance(value, ast.Name) and value.id in pinned)
            }
            if new <= pinned:
                break
            pinned |= new
        out |= {
            (n.lineno, n.func.value.id)
            for n in nodes
            if _is_call_of(n, "unpersist")
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id in pinned
        }
    return sorted(out)


def test_only_pins_releases_checkpoints():
    """Checkpoint blocks have one release path: no package module
    other than ``pins.py`` unpersists an RDD by id or reads a plan's
    RDD, and no function calls ``.unpersist()`` on a frame it bound
    from ``localCheckpoint`` (a no-op that looks like a release)."""
    offenders = []
    for p in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(p.read_text())
        found = _unpersisted_checkpoints(tree)
        if p.name != "pins.py":
            found += _release_calls(tree)
        offenders += [f"{p.relative_to(PACKAGE)}:{line}: {what}" for line, what in found]
    assert offenders == []


def test_pins_guard_sees_both_patterns():
    src = """
def kernel(df, sc):
    pin = df.localCheckpoint(eager=True)
    prev = pin
    prev.unpersist()
    sc.unpersistRDD(df._jdf.queryExecution().analyzed().rdd().id(), False)
    cached = df.cache()
    cached.unpersist()

    def inner(other):
        pin = other.cache()
        pin.unpersist()
"""
    tree = ast.parse(src)
    assert _unpersisted_checkpoints(tree) == [(5, "prev")]
    assert _release_calls(tree) == [(6, ".analyzed().rdd()"), (6, "unpersistRDD")]
