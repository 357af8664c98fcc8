"""Deduplication operators over any (id, text) DataFrame.

- exact: content-hash groupBy (shuffle carries a 32-byte hash + id)
- n-word shingle arrays (map-side, no explode)
- fuzzy self-join: levenshtein within symmetric-delete blocks
- embedding cosine: see ``similarity`` module

MinHash-LSH (the Arrow kernel ``_minhash_kernel``) and SimHash
(``dedup_simhash``) live in ``queries.pipeline_queries``, oracle-checked
through the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _norm_text(col: F.Column) -> F.Column:
    return F.regexp_replace(F.lower(col), r"\s+", " ")


def exact_dedup_keys(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(content_hash, canonical_id, n_copies); canonical = min id."""
    return (
        df.select(F.md5(_norm_text(F.col(text_col))).alias("content_hash"), id_col)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_array(text_col: F.Column, n: int = 3) -> F.Column:
    """n-word shingle array (map-side; no explode)."""
    toks = F.split(text_col, " ")
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array(text_col))


def edit_distance_join(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "text",
    max_distance: int = 1,
) -> DataFrame:
    """Fuzzy self-join: all pairs with levenshtein <= max_distance, via
    symmetric-delete (SymSpell-style) blocking.

    Candidate generation is PROVABLY complete for max_distance=1: two
    strings within edit distance 1 (one substitution, insertion, or
    deletion) always share a key in {s} ∪ {s minus one char} — e.g.
    "cat"/"cot" share "ct" — so the equi-join on deletion keys finds
    every qualifying pair and the exact ``levenshtein`` filter removes
    the false candidates. Analog of the reference's fuzzy entity lookup
    (utils.py:51 ``~0.8`` Lucene fuzziness) turned into a scalable JOIN:
    per-row fan-out is len+1 keys (map-side explode), the only shuffle
    is the hash join on short string keys, and there is never an
    all-pairs comparison. Only max_distance=1 is supported (deeper
    deletion neighborhoods grow combinatorially; chain or use
    MinHash/ngram Jaccard for looser matching).
    """
    if max_distance != 1:
        raise ValueError("edit_distance_join supports max_distance=1 only")
    keys = F.array_union(
        F.array(F.col(str_col)),
        F.expr(
            f"transform(sequence(1, length({str_col})), "
            f"i -> concat(substr({str_col}, 1, i - 1), substr({str_col}, i + 1)))"
        ),
    )
    keyed = df.select(
        F.col(id_col), F.col(str_col), F.explode(keys).alias("_delkey")
    )
    a = keyed.select(
        F.col(id_col).alias("_id_a"),
        F.col(str_col).alias("_s_a"),
        "_delkey",
    )
    b = keyed.select(
        F.col(id_col).alias("_id_b"),
        F.col(str_col).alias("_s_b"),
        "_delkey",
    )
    # verify BEFORE the dedup shuffle: the banded 3-arg levenshtein
    # (O(len*d) with early exit, -1 when above threshold) is a map-side
    # filter, so the distinct() only shuffles true pairs as three
    # narrow columns instead of every candidate with both strings
    return (
        a.join(b, "_delkey")
        .filter(F.col("_id_a") < F.col("_id_b"))
        .select(
            F.col("_id_a").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            F.levenshtein("_s_a", "_s_b", max_distance).alias("distance"),
        )
        .filter(F.col("distance") >= 0)
        .distinct()
    )
