"""Distributed byte-pair-encoding: train merge rules on a corpus,
apply them to tokenize — the real-subword upgrade of the BPE-ish regex
count in ``text_analysis.token_counts``.

Spark-first shape (classic BPE trains on the WORD-FREQUENCY table, not
the corpus — Sennrich et al. 2016, public algorithm):

- ONE corpus pass builds ``(word, count)`` — Zipf-sublinear in corpus
  size, the same scale argument as ``doc_rarity_score``'s frequency
  table. Everything after runs on that bounded table.
- each merge round: an Arrow kernel emits weighted adjacent-pair
  counts per word (map-side), one ``groupBy(pair).sum`` finds the
  global argmax (ties broken lexicographically, so training is
  DETERMINISTIC across partitionings and retries), and a map-only
  transform rewrites the word table with the merge applied.
  ``localCheckpoint`` every few rounds bounds the growing lineage
  (the graph_algos iterative discipline).
- ``apply_bpe`` tokenizes any corpus with the learned rules in one
  Arrow pass: per word, replay the merges in training order (the
  standard greedy application, identical to the reference
  implementation tested against it).

At 100 TB: the corpus is touched ONCE (word counts); training cost is
``num_merges`` tiny jobs over the vocabulary table; application is one
map-only pass. No shuffle ever carries the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pins import release

# end-of-word sentinel: keeps "low" in "lowest" distinct from final
# "low" (the standard BPE trick); chosen outside the split alphabet
EOW = "</w>"


# the ONE whitespace definition, shared verbatim by training (JVM
# regex) and application (Python re): ASCII whitespace only — the JVM's
# \s is ASCII while Python's str.split() is Unicode-aware, and a
# divergence would train merges on word shapes application never sees
# (e.g. U+00A0 in scraped news text).
WHITESPACE = "[ \t\n\x0b\f\r]+"


def word_counts(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """The ONE corpus pass: whitespace-split word frequencies. The
    empty-token filter runs as a plain row predicate AFTER explode
    (whole-stage codegen) rather than an interpreted array HOF —
    this is the pass that touches the full corpus."""
    col = F.col(text_col)
    if lowercase:
        col = F.lower(col)
    toks = F.explode(F.split(col, WHITESPACE)).alias("word")
    return (
        docs.select(toks)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _pair_counts_kernel(batches):
    import pandas as pd

    for pdf in batches:
        agg: dict[tuple, int] = {}
        for syms, n in zip(pdf["syms"], pdf["n"]):
            for a, b in zip(syms, syms[1:]):
                agg[(a, b)] = agg.get((a, b), 0) + int(n)
        if agg:
            yield pd.DataFrame(
                {
                    "a": [k[0] for k in agg],
                    "b": [k[1] for k in agg],
                    "cnt": list(agg.values()),
                }
            )


def _merge_kernel(a: str, b: str):
    merged = a + b

    def run(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                i, res = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf

    return run


def train_bpe(
    docs: DataFrame,
    num_merges: int = 50,
    text_col: str = "text",
    checkpoint_every: int = 8,
    lowercase: bool = True,
) -> "list[tuple[str, str]]":
    """Learn ``num_merges`` merge rules. Deterministic: the merged pair
    each round is the (count DESC, a ASC, b ASC) argmax. Stops early
    when no adjacent pair remains."""
    wc = word_counts(docs, text_col=text_col, lowercase=lowercase)
    syms = wc.select(
        F.concat(
            F.filter(F.split(F.col("word"), ""), lambda c: c != ""),
            F.array(F.lit(EOW)),
        ).alias("syms"),
        "n",
    )
    syms = syms.localCheckpoint()  # cut the corpus out of the lineage
    merges: list[tuple[str, str]] = []
    pin = prev = syms
    for round_no in range(num_merges):
        pairs = prev.mapInPandas(
            _pair_counts_kernel, "a string, b string, cnt bigint"
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        nxt = prev.mapInPandas(
            _merge_kernel(a, b), "syms array<string>, n bigint"
        )
        if (round_no + 1) % checkpoint_every == 0 and round_no + 1 < num_merges:
            nxt = nxt.localCheckpoint(eager=True)
            # the new generation is materialized: nothing lazy reads
            # the superseded one anymore
            release(pin)
            pin = nxt
        prev = nxt
    # training is done and the merges are collected — nothing lazy
    # references the final checkpoint either
    release(pin)
    return merges


def apply_bpe(
    docs: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize with learned rules in ONE Arrow pass: per word, replay
    merges in training order (greedy, the standard application).
    Returns (id, n_tokens, tokens array<string>)."""
    rules = list(merges)
    import re as _re_outer  # noqa: F401 — documents the kernel import below

    id_type = docs.schema[id_col].dataType.simpleString()

    def run(batches):
        import re as _re

        import pandas as pd

        cache: dict[str, list] = {}

        def encode(word: str) -> list:
            got = cache.get(word)
            if got is not None:
                return got
            syms = list(word) + [EOW]
            for a, b in rules:
                i, res = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
                if len(syms) == 1:
                    break
            cache[word] = syms
            return syms

        for pdf in batches:
            ids, counts, toks = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(text, str):
                    ids.append(did)
                    counts.append(0)
                    toks.append([])
                    continue
                words = [
                    w
                    for w in _re.split(
                        WHITESPACE, text.lower() if lowercase else text
                    )
                    if w
                ]
                doc_toks: list = []
                for w in words:
                    doc_toks.extend(encode(w))
                ids.append(did)
                counts.append(len(doc_toks))
                toks.append(doc_toks)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_tokens": pd.Series(counts, dtype="int64"),
                    "tokens": toks,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        run, f"{id_col} {id_type}, n_tokens long, tokens array<string>"
    )
