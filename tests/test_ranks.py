"""Unit tests for the two-phase global ordering helpers (ranks.py).

These helpers replace the classic single-partition ``OVER (ORDER BY)``
scale cliff; the tests check exactness against the naive window on
small data, across partition counts and skewed layouts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from news_graph_rag_spark.ranks import global_cumsum, global_row_number


def _naive(df, order_by):
    w = Window.orderBy(*order_by)
    return df.withColumn("exp_rnk", F.row_number().over(w)).withColumn(
        "exp_cum", F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def test_global_row_number_matches_naive(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("v")
    )
    order = [F.desc("v"), F.asc("id")]
    got = {
        r["id"]: r["rnk"]
        for r in global_row_number(df, order, num_partitions=7).collect()
    }
    exp = {r["id"]: r["exp_rnk"] for r in _naive(df, order).collect()}
    assert got == exp


def test_global_cumsum_inclusive_and_exclusive(spark):
    df = spark.range(0, 500).select(F.col("id"), (F.col("id") % 13).alias("v"))
    order = [F.asc("id")]
    exp = {r["id"]: r["exp_cum"] for r in _naive(df, order).collect()}
    inc = {
        r["id"]: r["cum"]
        for r in global_cumsum(
            df, order, F.col("v"), num_partitions=5
        ).collect()
    }
    exc = {
        r["id"]: r["cum"]
        for r in global_cumsum(
            df, order, F.col("v"), num_partitions=5, inclusive=False
        ).collect()
    }
    assert inc == exp
    vals = {r["id"]: r["v"] for r in df.collect()}
    assert exc == {i: exp[i] - vals[i] for i in exp}


def test_global_cumsum_single_row_and_empty(spark):
    one = spark.createDataFrame([(1, 10)], "id long, v long")
    rows = global_cumsum(one, [F.asc("id")], F.col("v")).collect()
    assert [(r["id"], r["cum"]) for r in rows] == [(1, 10)]
    empty = one.filter(F.lit(False))
    assert global_cumsum(empty, [F.asc("id")], F.col("v")).count() == 0


# -- property tests: the two-phase helpers must equal the naive global
# window for ANY values and ANY partition count ----------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    vals=st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=60),
    nparts=st.integers(min_value=1, max_value=9),
)
@settings(max_examples=12, deadline=None)
def test_two_phase_helpers_match_naive_for_any_input(spark, vals, nparts):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    ).repartition(3)
    order = [F.desc("v"), F.asc("id")]
    exp = _naive(df, order).collect()
    exp_rnk = {r["id"]: r["exp_rnk"] for r in exp}
    exp_cum = {r["id"]: r["exp_cum"] for r in exp}
    got_rnk = {
        r["id"]: r["rnk"]
        for r in global_row_number(df, order, num_partitions=nparts).collect()
    }
    got_cum = {
        r["id"]: r["cum"]
        for r in global_cumsum(df, order, F.col("v"), num_partitions=nparts).collect()
    }
    assert got_rnk == exp_rnk
    assert got_cum == exp_cum


def test_chained_cumsum_over_hash_agg_upstream_is_deterministic(spark):
    """Round-11 correctness regression: the two-phase helpers read
    their range-partitioned frame from multiple subtrees, and before
    ranks._pin each subtree re-executed the RangeExchange with freshly
    SAMPLED boundaries — deterministic for scan-ordered upstreams (six
    rounds of green entries), but a hash-aggregation upstream has
    nondeterministic row order, so boundaries diverged between the
    window and the offsets build and the prefix sums came out wrong
    AND different on every run (caught by the decision-stump mimic).
    This pins the fixed behavior: chained cumsums over a groupBy
    upstream must give the exact closed-form prefix totals, repeatedly."""
    from pyspark.sql import functions as F

    from news_graph_rag_spark.ranks import global_cumsum

    base = spark.range(20000).select(
        (F.col("id") % 4999).alias("x"),
        (F.col("id") % 3 == 0).cast("long").alias("y"),
    )
    g = base.groupBy("x").agg(
        F.sum("y").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).alias("nn"),
    )
    p, n = g.agg(F.sum("np"), F.sum("nn")).first()
    for _ in range(3):
        c = global_cumsum(g, [F.col("x")], F.col("np"), cumsum_col="cp")
        c = global_cumsum(c, [F.col("x")], F.col("nn"), cumsum_col="cn")
        last = c.orderBy(F.desc("x")).limit(1).first()
        assert (last["cp"], last["cn"]) == (p, n)


def test_grouped_cumsums_matches_naive_windows(spark):
    """Round-17 bucketed per-group cumsum: exact vs the naive per-group
    window on negative/large/small order values, both frames, and
    multi-column values — plus determinism across repeated runs over a
    hash-aggregated upstream (the hazard that forces the range-based
    helpers to pin; grouped_cumsums must not need a pin)."""
    import random

    from news_graph_rag_spark.ranks import grouped_cumsums

    random.seed(41)
    seen, rows = set(), []
    for _ in range(3000):
        g = random.randint(0, 4)
        x = random.choice(
            [
                random.randint(-(10**6), 10**6),
                random.randint(-(2**40), 2**40),
                random.randint(0, 70000),
            ]
        )
        if (g, x) in seen:
            continue
        seen.add((g, x))
        rows.append((g, x, random.randint(-5, 50), random.randint(0, 3)))
    df = spark.createDataFrame(rows, "g long, x long, a long, b long")
    w = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = {
        (r["g"], r["x"]): (r["ca"], r["cb"])
        for r in df.withColumn("ca", F.sum("a").over(w))
        .withColumn("cb", F.sum("b").over(w))
        .collect()
    }
    out = grouped_cumsums(
        df, ["g"], "x", {"ca": F.col("a"), "cb": F.col("b")}
    )
    got = {(r["g"], r["x"]): (r["ca"], r["cb"]) for r in out.collect()}
    assert got == exp
    # exclusive frame
    exc = grouped_cumsums(
        df, ["g"], "x", {"ca": F.col("a")}, inclusive=False
    )
    vals = {(r["g"], r["x"]): r["a"] for r in df.collect()}
    got_exc = {(r["g"], r["x"]): r["ca"] for r in exc.collect()}
    assert got_exc == {k: exp[k][0] - vals[k] for k in exp}
    # determinism over a nondeterministically-ordered (hash-agg)
    # upstream, WITHOUT any checkpoint: three runs must agree
    agg = df.groupBy("g", "x").agg(F.sum("a").alias("a"))
    runs = [
        {
            (r["g"], r["x"]): r["ca"]
            for r in grouped_cumsums(
                agg, ["g"], "x", {"ca": F.col("a")}
            ).collect()
        }
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]


def test_grouped_cumsums_order_bits_and_totals(spark):
    """Round-17 options: a declared 32-bit order domain (shallow
    pyramid) must give the SAME cumsums as the 64-bit default, and the
    pyramid-derived per-group totals must equal a direct groupBy."""
    import random

    from news_graph_rag_spark.ranks import grouped_cumsums

    random.seed(43)
    seen, rows = set(), []
    for _ in range(2000):
        g = random.randint(0, 3)
        x = random.choice(
            [
                random.randint(-(2**31), 2**31 - 1),
                random.randint(0, 70000),
            ]
        )
        if (g, x) in seen:
            continue
        seen.add((g, x))
        rows.append((g, x, random.randint(-5, 50), random.randint(0, 3)))
    df = spark.createDataFrame(rows, "g long, x long, a long, b long")
    base = {
        (r["g"], r["x"]): (r["ca"], r["cb"])
        for r in grouped_cumsums(
            df, ["g"], "x", {"ca": F.col("a"), "cb": F.col("b")}
        ).collect()
    }
    out, tot = grouped_cumsums(
        df,
        ["g"],
        "x",
        {"ca": F.col("a"), "cb": F.col("b")},
        order_bits=32,
        totals={"ta": "ca", "tb": "cb"},
    )
    got = {(r["g"], r["x"]): (r["ca"], r["cb"]) for r in out.collect()}
    assert got == base
    exp_tot = {
        r["g"]: (r["ta"], r["tb"])
        for r in df.groupBy("g")
        .agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
        .collect()
    }
    assert {r["g"]: (r["ta"], r["tb"]) for r in tot.collect()} == exp_tot


def test_grouped_cumsums_order_bits_is_enforced(spark):
    """A declared order domain is a contract: a value >= 2^31 under
    order_bits=32 fails the query instead of widening the top window;
    the domain's signed edges pass."""
    import pytest

    from news_graph_rag_spark.ranks import grouped_cumsums

    def run(xs):
        df = spark.createDataFrame(
            [(0, x, 1) for x in xs], "g long, x long, a long"
        )
        out = grouped_cumsums(df, ["g"], "x", {"c": F.col("a")}, order_bits=32)
        return sorted(r["c"] for r in out.collect())

    assert run([-(2**31), 0, 2**31 - 1]) == [1, 2, 3]
    with pytest.raises(Exception, match="outside order_bits=32: 2147483648"):
        run([0, 2**31])
