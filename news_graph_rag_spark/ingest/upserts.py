"""MERGE-style idempotent upserts (D1-D8, SURVEY §2.d) and the
set-oriented ingestion pipeline (the reference's per-article driver loop
crawler.py:23-50, inverted into one batch job per table, SURVEY §3 E2).

Cypher ``MERGE`` = upsert keyed on the pattern's property map. With
immutable parquet the equivalent is: dedupe the incoming batch on its
natural key, left-anti-join against the existing table to find new
keys, and union-append. All upserts here are idempotent: re-ingesting
the same batch leaves every table unchanged (the property Cypher MERGE
guarantees; tested in tests/test_ingest.py).

Scale notes:
- One job per table instead of one transaction per article: the
  reference's N round-trips become ~10 set-oriented jobs.
- The anti-join's existing side is read key-only (column pruning) —
  at 100 TB the join carries uids, not documents.
- Entity upserts (D6) are a single pass with a ``label`` column; the
  reference executes three label-substituted queries (graph.py:112-113).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph_store import GraphStore, content_uid
from .chunker import chunk_articles
from .embedder import EncoderFn, embed_texts
from .ner import ModelFn, find_entities

ENTITY_TABLE_FOR_LABEL = {
    "person": "person",
    "organization": "organization",
    "location": "location",
}


def merge_into(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """D8 generic: MERGE ``updates`` into ``existing`` on natural key.

    Matched rows keep the EXISTING version (Cypher MERGE ... ON CREATE
    SET only sets on insert; reference graph.py:221-236), new rows are
    appended. Updates are deduped on the key first (UNWIND batches can
    repeat keys).
    """
    return existing.unionByName(new_rows_of(existing, updates, keys))


def new_rows_of(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """The rows MERGE inserts: ``updates`` deduped on ``keys`` (in
    ``existing``'s column order), minus the keys ``existing`` holds."""
    updates = updates.select(*existing.columns).dropDuplicates(keys)
    return updates.join(existing.select(*keys), keys, "left_anti")


# ---------------------------------------------------------------------------
# The full ingest pipeline (E2): raw articles DataFrame → graph tables
# ---------------------------------------------------------------------------


def ingest_articles(
    store: GraphStore,
    raw_articles: DataFrame,
    ner_model_factory: Callable[[], ModelFn] | None = None,
    encoder_factory: Callable[[], EncoderFn] | None = None,
) -> GraphStore:
    """Batch-ingest raw articles (FIXTURES.md raw_articles schema) into
    the graph store. Returns a new GraphStore; input store unchanged.

    Stages (all set-oriented):
      D1 articles · L1-L4 chunking · L7 embeddings · D2 chunks+CONTAINS
      D5 sources+PUBLISHED · D3 authors+AUTHORED · D4 topics+HAS_TOPIC
      L5-L6 NER · D6 entities+MENTIONS
    """
    # the copy carries forward the input store's unreleased caches
    # (chained ingests discard intermediate store objects) and collects
    # this batch's own; unpersisted by GraphStore.localized()/save_atomic()
    out = store.copy()
    pending_caches = out.pending_caches

    def merge(table: str, updates: DataFrame, keys: list[str]) -> None:
        # append only the anti-joined new rows: on a committed table
        # they are all save_atomic writes (graph_store module doc)
        out.append(table, new_rows_of(out.tables[table], updates, keys))

    # NOTE (round-17): a blanket fan-out (repartition to
    # defaultParallelism when the batch arrives under-partitioned) was
    # tried here and MEASURED AS A REGRESSION at bench scale
    # (graph_ingest_roundtrip 5.1s -> 7.2s, sf0.1 local[32]): the
    # shuffle plus 32-task overhead across every downstream stage and
    # the 32-file table writes cost more than the single-task Python
    # stages save on a small batch. A size-proportional fan-out needs
    # input bytes, which an opaque in-memory batch does not expose
    # without running a job; under-partitioned FILE sources are
    # handled where the width is knowable (catalog.spread on scans).
    raw = raw_articles.cache()
    pending_caches.append(raw)

    # ---- D1: articles (uid = content hash of url; utils.py:10-11 analog)
    articles_new = raw.select(
        content_uid("Article", F.col("url")).alias("uid"),
        "title",
        "publishing_date",
        "language",
        "url",
    )
    merge("article", articles_new, ["uid"])

    # ---- L1-L4: chunking, then L7 embeddings, then D2 upsert
    chunks_flat = chunk_articles(raw).withColumn(
        "article_uid", content_uid("Article", F.col("article_url"))
    )
    chunks_flat = chunks_flat.withColumn(
        "uid",
        content_uid(
            "Chunk", F.col("article_url"), F.col("position").cast("string"), F.col("text")
        ),
    )
    if encoder_factory is not None:
        chunks_flat = embed_texts(chunks_flat, encoder_factory)
    else:
        chunks_flat = chunks_flat.withColumn(
            "embedding", F.lit(None).cast("array<float>")
        )
    chunks_flat = chunks_flat.cache()
    pending_caches.append(chunks_flat)

    chunk_rows = chunks_flat.select(
        "uid", "text", "category", "section", "position", "embedding"
    )
    merge("chunk", chunk_rows, ["uid"])
    contains = chunks_flat.select(
        F.col("article_uid").alias("src_uid"), F.col("uid").alias("dst_uid")
    )
    merge("contains", contains, ["src_uid", "dst_uid"])

    # ---- D5: sources + PUBLISHED (MERGE by (name,type,url), graph.py:70-80)
    sources = raw.select(
        content_uid(
            "Source", F.col("source_name"), F.col("source_type"), F.col("source_url")
        ).alias("uid"),
        F.col("source_name").alias("name"),
        F.col("source_type").alias("type"),
        F.col("source_url").alias("url"),
    )
    merge("source", sources, ["name", "type", "url"])
    published = raw.select(
        content_uid(
            "Source", F.col("source_name"), F.col("source_type"), F.col("source_url")
        ).alias("src_uid"),
        content_uid("Article", F.col("url")).alias("dst_uid"),
    )
    merge("published", published, ["src_uid", "dst_uid"])

    # ---- D3: authors + AUTHORED (fallback: publisher name, crawler.py:44)
    authors = raw.select(
        F.explode(
            F.when(
                (F.col("authors").isNull()) | (F.size("authors") == 0),
                F.array(F.col("source_name")),
            ).otherwise(F.col("authors"))
        ).alias("name"),
        F.col("url").alias("article_url"),
    )
    person_rows = authors.select(
        content_uid("Person", F.col("name")).alias("uid"), "name"
    )
    merge("person", person_rows, ["name"])
    authored = authors.select(
        content_uid("Person", F.col("name")).alias("src_uid"),
        content_uid("Article", F.col("article_url")).alias("dst_uid"),
    )
    merge("authored", authored, ["src_uid", "dst_uid"])

    # ---- D4: topics + HAS_TOPIC (graph.py:66-68; call site commented out
    # in the reference crawler.py:39 but part of the surface)
    topics = raw.select(
        F.col("url").alias("article_url"), F.explode_outer("topics").alias("name")
    ).filter(F.col("name").isNotNull())
    topic_rows = topics.select(content_uid("Topic", F.col("name")).alias("uid"), "name")
    merge("topic", topic_rows, ["name"])
    has_topic = topics.select(
        content_uid("Article", F.col("article_url")).alias("src_uid"),
        content_uid("Topic", F.col("name")).alias("dst_uid"),
    )
    merge("has_topic", has_topic, ["src_uid", "dst_uid"])

    # ---- L5-L6 + D6: NER → entity nodes + MENTIONS edges
    if ner_model_factory is not None:
        found = find_entities(chunks_flat, ner_model_factory).cache()
        pending_caches.append(found)
        for label, table in ENTITY_TABLE_FOR_LABEL.items():
            ents = found.filter(F.col("label") == label).select(
                content_uid(label.title(), F.col("name")).alias("uid"), "name"
            )
            merge(table, ents, ["name"])
        mentions = found.select(
            F.col("chunk_uid").alias("src_uid"),
            content_uid(F.initcap(F.col("label")), F.col("name")).alias("dst_uid"),
            F.initcap(F.col("label")).alias("entity_label"),
        )
        merge("mentions", mentions, ["src_uid", "dst_uid"])

    # the intermediates cached above (raw, chunks_flat, NER hits) feed
    # the returned LAZY tables; the consumer that materializes the
    # store releases them (GraphStore.localized() does, and so does
    # crawl_and_ingest's periodic flush) — without this hand-off every
    # ingested batch would leak three cached DataFrames for the life of
    # the session (round-7 review finding)
    return out


def upsert_into(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """SCD1 (last-writer-wins) upsert: matched rows take the UPDATE
    version, new rows are appended — the complement of ``merge_into``
    (which keeps the existing version, the reference's Cypher
    MERGE ... ON CREATE SET semantics, graph.py:221-236). Same scale
    shape: the survivors of the existing side come from an anti-join
    that carries keys only, and updates are deduped on the key first.

    "Last writer" within the UPDATE batch: pass ``order_col`` (e.g. a
    version/event timestamp) and the max-``order_col`` row per key wins
    deterministically (row_number over desc, keyed ties broken by the
    remaining columns' hash so reruns agree). Without ``order_col`` the
    batch MUST already be unique per key — ``dropDuplicates(keys)``
    keeps an arbitrary row otherwise, which is nondeterministic across
    retries/partitionings.
    """
    if order_col is not None:
        from pyspark.sql.window import Window

        # pick winners BEFORE projecting to the stored schema: the
        # ordering column may live only on the update batch (an event
        # timestamp not persisted in the table) — projecting first
        # would drop it and crash the window (round-7 review). The
        # hash tiebreaker uses the batch's non-key columns; when there
        # are none, tied rows are identical and any winner is fine.
        # Each column hashes with an explicit NULL marker (round-7
        # advice): Spark's xxhash64 SKIPS null inputs, so distinct rows
        # like (a=NULL, b='x') and (a='x', b=NULL) would hash equal and
        # leave the winner partition-order dependent across retries.
        # coalesce(cast-to-string, sentinel) makes NULL hash as a value
        # (the sentinel starts with \x00 — unreachable for real data).
        non_key = [c for c in updates.columns if c not in keys]
        tiebreak = (
            [
                F.xxhash64(
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                        for c in non_key
                    ]
                )
            ]
            if non_key
            else []
        )
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col), *tiebreak)
        updates = (
            updates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .select(*existing.columns)
        )
    else:
        updates = updates.select(*existing.columns).dropDuplicates(keys)
    kept = existing.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates)
