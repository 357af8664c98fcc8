"""I3 lifecycle: the inverted token index as a LONG-LIVED object.

The staged token index the hybrid entries serve from
(queries/retrieval_queries._staged_token_index) is fingerprint-keyed
FULL-REBUILD only — correct for the read-only fingerprint path, but it
left two lifecycle gaps (VERDICT r16 #2): a STREAMED document was
ANN-servable the moment its batch committed yet not keyword/hybrid-
servable until a full index rebuild, and the GDPR purge reached every
subsystem except the posting lists. Reference anchor: graph.py:197-209
— Neo4j maintains its fulltext indexes continuously on every write and
delete; this module is the Spark-native equivalent for the
materialized posting table.

Index layout (``tokidx-life-v1``), mirroring the vector index's
discipline one-for-one:

- ``postings.parquet`` partitioned by ``tok_bucket`` =
  crc32(token) % buckets: rows (token, doc_id, tf). A query's tokens
  map to buckets DRIVER-SIDE (zlib.crc32 == Spark's crc32), so serving
  is a partition-pruned scan of a few buckets, never the corpus.
  df (document frequency) is NOT stored: it's derived at query time
  from the same pruned scan (a window count per token), so appends and
  purges never invalidate a materialized df column — the design that
  makes the incremental lifecycle possible at all.
- ``append_postings`` lands a new batch of documents' postings as NEW
  FILES inside their bucket partitions — nothing rewrites, and the
  union is servable immediately (partition pruning reads whole bucket
  directories). At-least-once callers gate on posting counts exactly
  like append_codes' torn/duplicate detection.
- ``delete_doc_postings`` tombstones doc_ids (broadcast anti-join at
  serve time — forgotten immediately); ``compact_doc_tombstones``
  folds them in physically, rewriting ONLY the buckets that actually
  hold a tombstoned doc's postings (hardlink carry for the rest) with
  the staged atomic whole-index swap.

Scale: tf/df shuffles carry (token, doc_id, tf) triples, never text;
serving scans |query tokens'| buckets; the purge rewrite is
proportional to the affected buckets. tf is stored (not recomputed
from text at query time) so keyword scoring is fully index-served.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import publish
from ..localrel import local_rel
from ..pins import release

TOKIDX_FORMAT_VERSION = "tokidx-life-v1"
DEFAULT_BUCKETS = 16  # == retrieval_queries._TOK_BUCKETS


def _postings_of(docs: DataFrame, buckets: int) -> DataFrame:
    """(token, doc_id, tf, tok_bucket) for a batch of documents —
    the ONE tokenize → tf transform, shared by build, append, and the
    streaming sink so every write path lands identical rows. The token
    model is the corpus's (split on single space), matching the hybrid
    entries and their oracles."""
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .select(
            "token",
            "doc_id",
            "tf",
            F.pmod(F.crc32(F.col("token").cast("binary")), F.lit(buckets))
            .cast("int")
            .alias("tok_bucket"),
        )
    )


def build_postings(
    docs: DataFrame, path: str, buckets: int = DEFAULT_BUCKETS
) -> str:
    """Offline build: postings partitioned by tok_bucket, committed by
    one atomic directory rename (the build_and_save discipline)."""
    publish.check_dest(path, "meta.json")  # never publish over a foreign dir
    publish.recover(path, "meta.json")
    with publish.staged(path) as staging:
        (
            _postings_of(docs, buckets)
            .repartition(buckets, "tok_bucket")
            .write.partitionBy("tok_bucket")
            .parquet(os.path.join(staging, "postings.parquet"))
        )
        with open(os.path.join(staging, "meta.json"), "w") as f:
            json.dump(
                {"format": TOKIDX_FORMAT_VERSION, "buckets": buckets}, f
            )
        publish.publish_once(staging, path, "meta.json")
    return path


def _meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def postings(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "postings.parquet"))


def append_postings(spark: SparkSession, path: str, docs: DataFrame) -> int:
    """The WRITE half of incremental keyword maintenance — the token
    twin of ``append_codes``: the batch's (token, doc_id, tf) rows
    land as new files inside their bucket partitions; nothing
    rewrites, and keyword serving sees the union immediately. NOT
    idempotent (a replayed batch doubles its tf rows) — callers gate
    with the family's claim + posting-count comparison. Returns the
    number of posting rows appended."""
    meta = _meta(path)
    rows = _postings_of(docs, int(meta["buckets"])).localCheckpoint(
        eager=True  # count + write off one tokenize pass
    )
    try:
        n = rows.count()
        rows.write.mode("append").partitionBy("tok_bucket").parquet(
            os.path.join(path, "postings.parquet")
        )
    finally:
        release(rows)
    return int(n)


def _doc_tombstone_dir(path: str) -> str:
    return os.path.join(path, "doc_tombstones.parquet")


def doc_tombstones(spark: SparkSession, path: str) -> "DataFrame | None":
    d = _doc_tombstone_dir(path)
    if not (
        os.path.isdir(d)
        and any(f.endswith(".parquet") for f in os.listdir(d))
    ):
        return None
    return spark.read.parquet(d).select("doc_id").distinct()


def delete_doc_postings(spark: SparkSession, path: str, doc_ids) -> int:
    """Tombstone documents out of keyword serving immediately (the
    delete_vectors twin): the forget-set is bounded, the serve-time
    mask is a broadcast anti-join, and ``compact_doc_tombstones``
    removes the rows physically. Idempotent."""
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        ids = local_rel(
            spark, [(int(v),) for v in doc_ids], "doc_id long"
        ).distinct()
    n = ids.count()
    if n:
        ids.coalesce(1).write.mode("append").parquet(_doc_tombstone_dir(path))
    return int(n)


def compact_doc_tombstones(spark: SparkSession, path: str) -> int:
    """Fold doc tombstones into the posting table physically — the
    data-level half of a keyword-side GDPR purge. Only buckets that
    actually hold a tombstoned doc's postings rewrite (anti-join);
    every other bucket carries as hardlinks; publish is the staged
    atomic whole-index swap and the tombstone table retires with the
    old generation. Returns the number of posting rows removed."""
    publish.recover(path, "meta.json")
    ts = doc_tombstones(spark, path)
    if ts is None:
        return 0
    pdir = os.path.join(path, "postings.parquet")
    scan = spark.read.parquet(pdir)
    # the affected buckets + the removed-row count in ONE small job
    # over (doc_id, tok_bucket) columns only
    hit = (
        scan.join(F.broadcast(ts), "doc_id", "left_semi")
        .groupBy("tok_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not hit:
        # nothing to fold — but the tombstone table still retires so
        # serving stops paying the anti-join
        removed = 0
        affected: "dict[int, int]" = {}
    else:
        affected = {int(r["tok_bucket"]): int(r["n"]) for r in hit}
        removed = sum(affected.values())
    meta = _meta(path)
    with publish.staged(path) as staging:
        sp = os.path.join(staging, "postings.parquet")
        os.makedirs(sp)
        gone = {f"tok_bucket={b}" for b in affected}
        # bucket dirs only: the append below writes its own _SUCCESS,
        # which must not write through a link into the live index
        for entry in os.listdir(pdir):
            if entry.startswith("tok_bucket=") and entry not in gone:
                publish.carry(os.path.join(pdir, entry), os.path.join(sp, entry))
        if affected:
            (
                scan.filter(
                    F.col("tok_bucket").isin(sorted(affected))
                )
                .join(F.broadcast(ts), "doc_id", "left_anti")
                .repartition(len(affected), "tok_bucket")
                .write.mode("append")
                .partitionBy("tok_bucket")
                .parquet(sp)
            )
        # carry everything else EXCEPT the tombstone table (applied)
        publish.carry(
            path,
            staging,
            skip={"postings.parquet", "meta.json", "doc_tombstones.parquet"},
        )
        new_meta = dict(meta)
        new_meta.setdefault("purge_history", []).append(
            {"rows_removed": int(removed)}
        )
        with open(os.path.join(staging, "meta.json"), "w") as f:
            json.dump(new_meta, f)
        publish.replace(path, staging)
    return int(removed)


def compact_bucket_files(
    spark: SparkSession,
    path: str,
    tok_bucket: int | None = None,
    target_file_mb: float = 32.0,
) -> int:
    """Small-file COMPACTION for appended posting buckets — the token
    index's twin of ``pipeline.ann_index.compact_list_files`` (round
    17): ``append_postings`` / ``streaming_postings_append`` land
    every (micro-)batch as NEW files inside their bucket partitions by
    design, so at streaming cadence a bucket's file count grows
    linearly. This bin-packs each selected bucket's accumulated files
    back down to ``ceil(bucket_bytes / target_file_mb)`` files —
    values bit-unchanged (rows rewritten verbatim), only the layout
    changes. ``tok_bucket=None`` compacts every bucket; an int
    compacts one. Already-compact buckets carry as HARDLINKS
    (metadata-only IO), publish is the staged atomic whole-index swap,
    and meta records the action under ``file_compactions``. Composes
    with ``compact_doc_tombstones`` in either order (this janitor
    never changes row content). Returns the number of files removed."""
    import math

    publish.recover(path, "meta.json")
    target_bytes = max(1, int(target_file_mb * (1 << 20)))
    pdir = os.path.join(path, "postings.parquet")
    todo: "dict[str, int]" = {}
    removed = 0
    for entry in sorted(os.listdir(pdir)):
        if not entry.startswith("tok_bucket="):
            continue
        if tok_bucket is not None and entry != f"tok_bucket={tok_bucket}":
            continue
        bdir = os.path.join(pdir, entry)
        files = [
            os.path.join(bdir, f)
            for f in os.listdir(bdir)
            if not f.startswith(("_", "."))
        ]
        if not files:
            continue
        n_target = max(
            1,
            math.ceil(sum(os.path.getsize(f) for f in files) / target_bytes),
        )
        if len(files) > n_target:
            todo[entry] = n_target
            removed += len(files) - n_target
    if not todo:
        return 0

    meta = _meta(path)
    with publish.staged(path) as staging:
        # everything carries as links; then each over-fragmented
        # bucket's links are dropped and the bucket rewritten coalesced
        publish.carry(path, staging, skip={"meta.json"})
        sp = os.path.join(staging, "postings.parquet")
        for entry, n_files in todo.items():
            shutil.rmtree(os.path.join(sp, entry))
            spark.read.parquet(os.path.join(pdir, entry)).coalesce(
                n_files
            ).write.parquet(os.path.join(sp, entry))
        new_meta = dict(meta)
        new_meta.setdefault("file_compactions", []).append(
            {
                "buckets": sorted(
                    int(e.split("=", 1)[1]) for e in todo
                ),
                "files_removed": int(removed),
            }
        )
        with open(os.path.join(staging, "meta.json"), "w") as f:
            json.dump(new_meta, f)
        publish.replace(path, staging)
    return int(removed)


def search_keywords(
    spark: SparkSession,
    path: str,
    tokens: "list[str]",
    k: int = 15,
    max_df: int = 1000,
) -> DataFrame:
    """Keyword top-k served ENTIRELY from the index: bucket IN-list
    from driver-side crc32 prunes partitions, the token IN predicate
    pushes inside them, df per token is a window count over the SAME
    pruned rows (always current — appends and purges need no df
    maintenance), stopword-grade lists (df > max_df) drop, and the
    score is the exact integer sum of stored tf over the query's
    surviving tokens. Tombstoned docs mask via broadcast anti-join.
    Returns (doc_id, kw_score, rnk) — integers + a totally-ordered
    rank, the family's value-verifiable readout."""
    from ..ranks import top_k_ranked

    scored = keyword_scores(spark, path, tokens, max_df=max_df)
    return top_k_ranked(
        scored, [F.desc("kw_score"), F.asc("doc_id")], k
    ).select("doc_id", "kw_score", "rnk")


def keyword_scores(
    spark: SparkSession,
    path: str,
    tokens: "list[str]",
    max_df: int = 1000,
) -> DataFrame:
    """The UN-RANKED keyword signal ``search_keywords`` ranks: every
    matching doc's capped tf-sum, (doc_id, kw_score). Split out so the
    hybrid fusion path can consume the full candidate relation (its
    top-k happens AFTER fusion with the vector signal, not per
    signal)."""
    import zlib

    from pyspark.sql import Window

    meta = _meta(path)
    buckets = int(meta["buckets"])
    toks = sorted(set(tokens))
    bucket_ids = sorted({zlib.crc32(t.encode()) % buckets for t in toks})
    cand = postings(spark, path).filter(
        F.col("tok_bucket").isin(bucket_ids) & F.col("token").isin(toks)
    )
    ts = doc_tombstones(spark, path)
    if ts is not None:
        cand = cand.join(F.broadcast(ts), "doc_id", "left_anti")
    w = Window.partitionBy("token")
    return (
        cand.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= max_df)
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("bigint").alias("kw_score"))
    )


def ensure_postings(
    spark: SparkSession,
    sf_dir: str,
    variant: "str | None" = None,
    subset_pred: "str | None" = None,
    buckets: int = DEFAULT_BUCKETS,
) -> str:
    """Idempotent DDL analog for the lifecycle token index — the
    ensure_index twin: fingerprint-keyed on the documents source +
    params + format version, built at most once, atomically published.
    ``variant`` gives mutating entries a private copy; ``subset_pred``
    is the incremental-maintenance base split."""
    import hashlib
    import tempfile

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = (
        f"{TOKIDX_FORMAT_VERSION}|{src}|{st.st_mtime_ns}|{st.st_size}"
        f"|{buckets}|{subset_pred}"
    )
    if variant is not None:
        key += f"|variant={variant}"
    digest = hashlib.sha1(key.encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"ngr_tokidx_{digest}")
    if not os.path.exists(os.path.join(path, "meta.json")):
        docs = spark.read.parquet(src)
        if subset_pred is not None:
            docs = docs.filter(F.expr(subset_pred))
        build_postings(docs, path, buckets=buckets)
    return path
