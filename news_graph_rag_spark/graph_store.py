"""Property-graph-on-DataFrames store.

Replaces the reference's Neo4j ``GraphDatabase`` wrapper (graph.py:16-240)
with typed node/edge DataFrames backed by parquet, registered as temp
views so LLM-generated Spark SQL (the analog of LLM-generated Cypher,
chat.py:47-66) runs directly against the graph.

Scale notes
-----------
- Node/edge tables are plain parquet directories → predicate pushdown and
  column pruning replace Neo4j's uid/name point-lookup indexes
  (graph.py:173-195). At 100 TB, partition ``chunk`` by a date or
  category column and let partition pruning take over (I2).
- Edge tables are (src_uid, dst_uid) pairs; multi-hop traversals are
  equi-join chains (SURVEY §2.c). Entity/source/topic dimension tables
  are small relative to chunks → broadcast them in joins.

Segment commits
---------------
A committed table is the parquet files of one version directory plus
the rows appended since (``GraphStore.append``, which ``ingest_articles``
calls with each MERGE's anti-joined new rows). The store keeps that
split per table as a ``_Tail``:

- ``localized()`` checkpoints only the appends and serves
  ``committed scan ∪ checkpointed appends``; the committed parquet is
  already the durable copy of the rest.
- ``save_atomic`` writes the appends as ONE new segment file into
  ``v_<n+1>/<table>.parquet/`` and hard-links the current version's
  files of that table into the same directory (the carry). Old and new
  version share the carried inodes, so collecting the old directory
  frees nothing the new one reads.
- A table is rewritten in full — the same write with nothing carried —
  when it has no committed base in this root's current version (fresh
  and hand-built stores, ``__setitem__`` replacements,
  ``detach_delete``, a foreign commit that moved the pointer), when
  hard links fail, and once it holds ``_MAX_SEGMENTS`` segments
  (compaction: reads stay at a bounded number of files per table).
- The ``_COMPLETE`` marker records each table's written schema and
  segment count as JSON. Reads of a version with such a marker pass
  that schema (``spark.read.schema``) and skip parquet schema
  inference, one Spark job per table; pre-marker versions and the flat
  layout keep inference.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .localrel import local_rel
from .schemas import EDGE_SCHEMAS, NATURAL_KEYS, NODE_SCHEMAS

ALL_TABLES = {**NODE_SCHEMAS, **EDGE_SCHEMAS}

# commits a table takes as appended segments before save_atomic
# rewrites it in full: bounds the files a read of one table lists
_MAX_SEGMENTS = 16

# Node-label rendering for the LLM schema prompt (S6, chat.py:64
# ``db.graph.schema``): table name -> Cypher-style label.
_LABELS = {
    "article": "Article",
    "chunk": "Chunk",
    "person": "Person",
    "organization": "Organization",
    "location": "Location",
    "source": "Source",
    "topic": "Topic",
}
_EDGE_ENDPOINTS = {
    "contains": ("Article", "CONTAINS", "Chunk"),
    "mentions": ("Chunk", "MENTIONS", "Person|Organization|Location"),
    "authored": ("Person", "AUTHORED", "Article"),
    "has_topic": ("Article", "HAS_TOPIC", "Topic"),
    "published": ("Source", "PUBLISHED", "Article"),
}


def content_uid(label: str, *cols) -> F.Column:
    """Deterministic content-hash uid: ``'<Label>:' + sha2(...)[:12]``.

    The reference generates ``'<Label>:' + urlsafe_b64(uuid4())[:12]``
    (utils.py:10-11, config.py:5); we use a content hash of the natural
    key instead so ingestion is idempotent and goldens are stable
    (SURVEY §7 risks). Same shape: label prefix + 12 chars.

    Each key column hashes with an explicit NULL marker (round-8
    review): ``concat_ws`` SKIPS null inputs, so distinct natural keys
    differing only in NULL placement — ('X', NULL, 'Y') vs
    ('X', 'Y', NULL) — would collide to one uid and the content-hash
    MERGE would silently fuse two entities. The sentinel starts with
    \\x00, unreachable for real column data; uids of fully non-NULL
    keys are unchanged.
    """
    marked = [F.coalesce(c.cast("string"), F.lit("\x00NULL")) for c in cols]
    return F.concat(
        F.lit(label),
        F.lit(":"),
        F.substring(F.sha2(F.concat_ws("\x1f", *marked), 256), 1, 12),
    )


def random_uid(label: str) -> F.Column:
    """The reference's ORIGINAL uid scheme, behind its own function
    (SURVEY §7 "keep uuid mode behind a flag"): ``'<Label>:' +
    urlsafe_b64(uuid4())[:12]`` (reference utils.py:10-11). Per-row
    random via a uuid() expression re-encoded to the urlsafe-b64
    alphabet shape. NON-IDEMPOTENT by construction — re-ingesting the
    same article mints new nodes, which is why ``content_uid`` is the
    default; use this only to byte-match the reference's id format on
    a fresh one-shot load."""
    # uuid() yields hex-with-dashes; re-encode the 16 uuid bytes to
    # base64 and swap '+/' for '-_' — the urlsafe-b64 alphabet the
    # reference's token_urlsafe-style uid uses (A-Za-z0-9-_), so the 12
    # kept chars carry ~72 bits of entropy, matching the reference's
    # character set, not just its 'Label:12char' shape
    raw = F.expr("translate(base64(unhex(replace(uuid(), '-', ''))), '+/', '-_')")
    return F.concat(F.lit(label), F.lit(":"), F.substring(raw, 1, 12))


def _union(frames) -> DataFrame | None:
    return functools.reduce(DataFrame.unionByName, frames) if frames else None


class _Tail(NamedTuple):
    """A table that is its committed files plus the rows appended since.

    ``base`` scans the table's directory in ``root/version``, which
    holds ``segments`` commits' segments; ``table`` is the store frame
    equal to ``base ∪ appends``. The tail only describes the frame it
    names: a different frame in the table's slot was put there by
    something else and is rewritten in full."""

    root: str
    version: str
    segments: int
    base: DataFrame
    appends: tuple
    table: DataFrame


class GraphStore:
    """Typed node/edge DataFrames + view registration + schema rendering."""

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame] | None = None):
        self.spark = spark
        self.tables: dict[str, DataFrame] = dict(tables or {})
        # cached intermediates still feeding this store's lazy tables
        # (set by ingest_articles); released once the tables
        # materialize — see localized()
        self.pending_caches: list[DataFrame] = []
        # committed-files-plus-appends split per table (module doc)
        self._tails: dict[str, _Tail] = {}

    def _tail(self, name: str) -> _Tail | None:
        tail = self._tails.get(name)
        return tail if tail is not None and tail.table is self.tables.get(name) else None

    def copy(self) -> "GraphStore":
        """A new store over the same frames, tails and pending caches;
        ``append`` on it leaves this store unchanged."""
        out = GraphStore(self.spark, self.tables)
        out._tails = dict(self._tails)
        out.pending_caches = list(self.pending_caches)
        return out

    def append(self, name: str, new_rows: DataFrame) -> None:
        """Union ``new_rows`` onto table ``name`` (the insert half of a
        MERGE). On a table that extends committed files the rows are
        also recorded as pending, so ``localized`` checkpoints and
        ``save_atomic`` writes only them."""
        table = self.tables[name].unionByName(new_rows)
        tail = self._tail(name)
        if tail is not None:
            self._tails[name] = tail._replace(
                appends=tail.appends + (new_rows,), table=table
            )
        self.tables[name] = table

    # -- construction -----------------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession) -> "GraphStore":
        # empty LocalRelations, NOT createDataFrame([]): the RDD path
        # gives every empty table defaultParallelism EMPTY partitions,
        # and since merge_into unions each batch onto these, every
        # store table's plan carried a 32-empty-task scan per core for
        # the life of the store (round-17: five of graph_ingest's
        # broadcast-build jobs were scans of empty tables)
        tables = {
            name: local_rel(spark, [], schema)
            for name, schema in ALL_TABLES.items()
        }
        return cls(spark, tables)

    _POINTER = "_CURRENT"

    @classmethod
    def _current_version(cls, root: str) -> str | None:
        """Read the committed version name from the pointer file, or
        None when the store uses the legacy flat layout (plain
        ``save``) or doesn't exist yet."""
        ptr = os.path.join(root, cls._POINTER)
        try:
            with open(ptr) as f:
                name = f.read().strip()
        except OSError:
            return None
        return name or None

    _COMPLETE = "_COMPLETE"  # per-version completeness marker

    @staticmethod
    def _parse_seq(name: str) -> int | None:
        """Sequence number of a ``v_<seq>_<nonce>`` version dir name,
        or None for anything else. The ONE place the naming scheme is
        parsed — list_versions, save_atomic, and GC all go through it."""
        if not name.startswith("v_"):
            return None
        try:
            return int(name.split("_")[1])
        except (IndexError, ValueError):
            return None

    @classmethod
    def _load_dir(cls, spark: SparkSession, base: str, versioned: bool) -> "GraphStore":
        """Shared per-table directory loader. A versioned dir must
        carry the completeness marker OR (for commits written before
        the marker existed) every table directory — a torn dir (e.g. a
        multi-writer violation partially collected by GC) must fail
        loudly, never be served as silently-empty tables, while a
        healthy pre-marker commit keeps loading."""
        if versioned and not os.path.exists(os.path.join(base, cls._COMPLETE)):
            missing = [
                name
                for name in ALL_TABLES
                if not os.path.exists(os.path.join(base, f"{name}.parquet"))
            ]
            if missing:
                raise ValueError(
                    f"version dir {base} has no completeness marker and is "
                    f"missing tables {missing} — torn or still being "
                    "written; refusing to serve them as empty"
                )
        written = cls._written_tables(base) if versioned else {}
        store = cls(spark)
        for name, schema in ALL_TABLES.items():
            path = os.path.join(base, f"{name}.parquet")
            if name in written:
                store._read_committed(base, name, written[name])
            elif os.path.exists(path):
                store.tables[name] = spark.read.parquet(path)
            else:
                store.tables[name] = local_rel(spark, [], schema)
        return store

    @classmethod
    def _written_tables(cls, vdir: str) -> dict:
        """Per-table ``{"schema", "segments"}`` recorded in a version's
        marker; empty for a marker-less version or a marker written
        before schemas were recorded (it held only the version name)."""
        try:
            with open(os.path.join(vdir, cls._COMPLETE)) as f:
                marker = json.load(f)
        except (OSError, ValueError):
            return {}
        return marker.get("tables", {}) if isinstance(marker, dict) else {}

    def _read_committed(self, vdir: str, name: str, written: dict) -> None:
        """Serve table ``name`` from version dir ``vdir`` with the
        schema its marker recorded (no inference job), as a tail that
        the next ``save_atomic`` to this root can extend."""
        schema = T.StructType.fromJson(written["schema"])
        df = self.spark.read.schema(schema).parquet(
            os.path.join(vdir, f"{name}.parquet")
        )
        root, version = os.path.split(os.path.realpath(vdir))
        self.tables[name] = df
        self._tails[name] = _Tail(root, version, written["segments"], df, (), df)

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "GraphStore":
        """Load the committed store state.

        Versioned layout (written by ``save_atomic``): the ``_CURRENT``
        pointer names the committed version directory — readers NEVER
        see an uncommitted or partially-swapped version. Falls back to
        the legacy flat ``root/<name>.parquet`` layout (plain ``save``)
        when no pointer exists."""
        version = cls._current_version(root)
        base = root if version is None else os.path.join(root, version)
        return cls._load_dir(spark, base, versioned=version is not None)

    @classmethod
    def list_versions(cls, root: str) -> "list[str]":
        """Version directories currently on disk, oldest first, with
        the committed one last-resolvable via ``_CURRENT``. Under the
        default retention that is at most {predecessor, current}; a
        longer retention window (skip GC externally) makes every kept
        commit time-travelable."""
        try:
            entries = os.listdir(root)
        except OSError:
            return []
        out = [
            (seq, e)
            for e in entries
            if (seq := cls._parse_seq(e)) is not None
        ]
        return [e for _, e in sorted(out)]

    @classmethod
    def load_version(cls, spark: SparkSession, root: str, version: str) -> "GraphStore":
        """Time-travel read: load a specific retained version directory
        (from ``list_versions``) instead of the committed pointer."""
        base = os.path.join(root, version)
        if not os.path.isdir(base):
            raise FileNotFoundError(f"version {version!r} not present under {root}")
        return cls._load_dir(spark, base, versioned=True)

    def save(self, root: str, mode: str = "overwrite") -> None:
        """Plain flat-layout writer (``root/<name>.parquet``). Refuses a
        root already committed by ``save_atomic``: flat files written
        next to a ``_CURRENT`` pointer would be invisible to ``load``
        (which resolves the pointer) — silent staleness; fail loudly
        instead."""
        if self._current_version(root) is not None:
            raise ValueError(
                f"{root} uses the versioned layout (_CURRENT pointer); "
                "use save_atomic — a flat save here would be invisible "
                "to load()"
            )
        for name, df in self.tables.items():
            df.write.mode(mode).parquet(os.path.join(root, f"{name}.parquet"))

    def save_atomic(self, root: str) -> None:
        """Exactly-once multi-table commit: write a NEW version
        directory, then publish it with ONE atomic pointer replace.

        Protocol (closes SURVEY §7's MERGE-concurrency risk with
        machinery, not a doc note — tested by interrupting every stage
        in tests/test_ingest.py):

        1. All tables write to ``root/v_<n+1>/<name>.parquet``. The
           store's DataFrames may still lazily read the CURRENT version
           (load → MERGE → save in a streaming micro-batch) — versions
           are distinct directories, so there is no
           read-path/overwrite conflict and the unexecuted plan's
           source files are never touched. A table that extends the
           current version's files (its tail, see the module doc)
           writes only its appended rows, coalesced to one segment
           file, and hard-links the current version's files of that
           table beside it; Spark writes the fresh directory first and
           the links only add names, so no carried file is ever opened
           for writing. Every other table, and any table at
           ``_MAX_SEGMENTS`` segments or whose links fail, is rewritten
           in full. The ``_COMPLETE`` marker records each table's
           written schema and segment count.
        2. The version name is written to ``_CURRENT.tmp`` +
           fsync'd, then ``os.replace``d onto ``_CURRENT`` — the ONLY
           mutation readers can observe, and it is atomic (POSIX
           rename). A crash anywhere before it leaves the old pointer
           → readers see the complete OLD store; after it, the
           complete NEW store. No mixed/torn multi-table state is
           reachable, and a replayed micro-batch (idempotent
           content-hash MERGE) converges on retry.
        3. One nominal WRITER owns a store root (the streaming
           foreachBatch query, or one ingest job) — the multi-writer
           coordination a lakehouse table format does with a lock/CAS
           service is out of scope here. The GC is still
           sequence-AGE-based (delete only versions two or more behind
           the new commit, i.e. seq <= n-1 when committing n+1) so the
           common accidental overlap — ONE concurrent committer that
           read the same predecessor — is never collected mid-write.
           Defense in depth for deeper violations (a writer stalled
           across several foreign commits): every version carries a
           ``_COMPLETE`` marker written after all tables and verified
           together with the table dirs immediately before the pointer
           replace, and readers REFUSE a marker-less version — a torn
           directory fails loudly instead of being served as empty
           tables.
        4. After the commit, this store object's tables re-point at
           the COMMITTED files (read with the recorded schemas, no
           inference job), so the load → merge → save loop can
           reuse one store object across many commits without its lazy
           plans dangling on a version that GC later collects. GC of
           an older version only drops link counts of files the
           newer versions carry.
        """
        current = self._current_version(root)
        n = (self._parse_seq(current) or 0) if current is not None else 0
        version = f"v_{n + 1:012d}_{uuid.uuid4().hex[:8]}"
        vdir = os.path.join(root, version)
        tmp = None
        try:
            written = {
                name: self._write_table(name, vdir, current)
                for name in self.tables
            }
            with open(os.path.join(vdir, self._COMPLETE), "w") as f:
                json.dump({"version": version, "tables": written}, f)
            # pre-publish verification: if a GC (or anything else)
            # removed part of this version while we wrote it, abort the
            # commit instead of publishing a torn directory
            missing = [
                name
                for name in self.tables
                if not os.path.exists(os.path.join(vdir, f"{name}.parquet"))
            ]
            if missing:
                raise RuntimeError(
                    f"version {version} lost table dirs {missing} before "
                    "publish (concurrent GC? multiple writers on one root?)"
                )
            os.makedirs(root, exist_ok=True)
            tmp = os.path.join(root, self._POINTER + f".tmp_{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                f.write(version)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(root, self._POINTER))  # THE commit
        except BaseException:
            shutil.rmtree(vdir, ignore_errors=True)
            if tmp is not None and os.path.exists(tmp):
                os.remove(tmp)  # never litter failed pointer stages
            raise
        # step 4: serve the committed files from this object, and
        # release the ingest intermediates the committed write just
        # materialized
        for name in list(self.tables):
            self._read_committed(vdir, name, written[name])
        for df in self.pending_caches:
            df.unpersist()
        self.pending_caches = []
        # step 3 GC: sequence-age based (see docstring); also sweep
        # pointer-staging files orphaned by CRASHED committers — but
        # only stale ones (age-gated), never a live concurrent
        # committer's in-flight tmp
        import time as _time

        for entry in os.listdir(root):
            if entry.startswith(self._POINTER + ".tmp_"):
                p = os.path.join(root, entry)
                try:
                    if _time.time() - os.path.getmtime(p) > 300:
                        os.remove(p)
                except OSError:
                    pass
            seq = self._parse_seq(entry)
            if seq is None:
                continue
            if seq <= n - 1:  # new commit is n+1; keep n+1, n, in-flight >= n+1
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)

    def _write_table(self, name: str, vdir: str, current: str | None) -> dict:
        """Write table ``name`` into version dir ``vdir``; returns what
        the marker records for it. A tail on ``current`` writes its
        appends as one segment file and hard-links the committed files
        beside it; anything else is a full rewrite, i.e. the same write
        of the whole table with nothing carried."""
        df = self.tables[name]
        path = os.path.join(vdir, f"{name}.parquet")
        tail = self._tail(name)
        root = os.path.realpath(os.path.dirname(vdir))
        rows = _union(tail.appends) if tail is not None else None
        if (
            tail is not None
            and (tail.root, tail.version) == (root, current)
            and tail.segments < _MAX_SEGMENTS
            # every segment file must hold the schema the marker records
            and (rows is None or rows.schema.simpleString() == df.schema.simpleString())
        ):
            if rows is None:
                os.makedirs(path)
            else:
                rows.coalesce(1).write.mode("overwrite").parquet(path)
            segments = tail.segments + (rows is not None)
            try:
                carried = os.path.join(root, current, f"{name}.parquet")
                for entry in os.listdir(carried):
                    # the new segment's own _SUCCESS stays; part files
                    # carry a per-write uuid and never collide
                    if not os.path.exists(os.path.join(path, entry)):
                        os.link(os.path.join(carried, entry), os.path.join(path, entry))
            except OSError:  # no hard links here, or the base is gone
                shutil.rmtree(path, ignore_errors=True)
            else:
                return {"schema": df.schema.jsonValue(), "segments": segments}
        df.write.mode("overwrite").parquet(path)
        return {"schema": df.schema.jsonValue(), "segments": 1}

    def localized(self) -> "GraphStore":
        """Return a new store whose tables are eagerly localCheckpointed.

        Cuts lineage and materializes every table NOW, then releases
        the ingest pipeline's cached intermediates (``pending_caches``
        from ingest_articles — raw batch, chunked text, NER hits) plus
        any caller caches, since nothing lazy reads them anymore. Long
        ingest loops call this every N batches; production crawls
        interleave ``save_atomic()`` instead (parquet is the durable
        checkpoint — the foreachBatch streaming path already does).

        A table that extends committed files checkpoints only its
        appends and is served as ``committed scan ∪ checkpointed
        appends`` — the committed parquet already holds the rest — and
        keeps its tail, so the next ``save_atomic`` still writes only
        those rows.
        """
        ids = []

        def pin(df: DataFrame) -> DataFrame:
            df = df.localCheckpoint(eager=True)
            # record EXACTLY this generation's block-manager RDD ids so
            # a later caller can release them once superseded
            # (DataFrame.unpersist does NOT free localCheckpoint blocks
            # — they belong to the checkpointed RDD, not the plan
            # cache). The id is read off the checkpoint's own
            # LogicalRDD plan node, never off a served union (no
            # LogicalRDD root) and never a global persistent-RDD diff,
            # which under a concurrent cache on the shared session
            # would capture (and later free) someone else's only copy
            # of their data.
            try:
                ids.append(int(df._jdf.queryExecution().analyzed().rdd().id()))
            except Exception:
                pass  # non-LogicalRDD plan: nothing to release later
            return df

        out = GraphStore(self.spark)
        for name, df in self.tables.items():
            tail = self._tail(name)
            if tail is None:
                out.tables[name] = pin(df)
                continue
            rows = _union(tail.appends)
            appends = () if rows is None else (pin(rows),)
            table = _union((tail.base, *appends))
            out.tables[name] = table
            out._tails[name] = tail._replace(appends=appends, table=table)
        out.checkpoint_rdd_ids = sorted(ids)
        for df in self.pending_caches:
            df.unpersist()
        self.pending_caches = []
        return out

    def release_checkpoints(self) -> None:
        """Free this store's localCheckpoint blocks (recorded by
        ``localized()``). Call ONLY when a newer generation has been
        materialized — the blocks ARE this store's table data."""
        jsc = self.spark.sparkContext._jsc.sc()
        for rid in getattr(self, "checkpoint_rdd_ids", []):
            try:
                jsc.unpersistRDD(rid, False)
            except Exception:
                pass
        self.checkpoint_rdd_ids = []

    # -- access -----------------------------------------------------------

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]

    def __setitem__(self, name: str, df: DataFrame) -> None:
        if name not in ALL_TABLES:
            raise KeyError(f"unknown graph table: {name}")
        self.tables[name] = df

    def find(self, pattern: str) -> DataFrame:
        """GraphFrames-style motif finding (SURVEY §1.3 ``g.find``,
        round 9): compile a pattern like
        ``"(a:Article)-[:CONTAINS]->(c:Chunk)"`` to the same join
        chains the catalog writes by hand — see ``motif.py``. Parity
        with the explicit chains is hash-tested in
        tests/test_motif.py."""
        from .motif import store_motif_graph

        return store_motif_graph(self).find(pattern)

    def register_views(self, prefix: str = "") -> None:
        """Register every table as a temp view — the SQL query surface."""
        for name, df in self.tables.items():
            df.createOrReplaceTempView(prefix + name)

    def detach_delete(
        self, uids, index_path: str | None = None
    ) -> "GraphStore":
        """Cypher ``DETACH DELETE`` semantics (the reference's Neo4j
        store: deleting a node removes it and every relationship
        touching it, and the vector index tracks the delete
        automatically — graph.py:211-219): drop ``uids`` from every
        node table and every edge whose src_uid OR dst_uid is in the
        set, via BROADCAST anti-joins (a forget-set is always small
        relative to the graph — the purge-cascade discipline). With
        ``index_path``, the uids are tombstoned in the persistent ANN
        index too (pipeline/ann_index.delete_uids), so purged chunks
        stop being vector-searchable immediately. Returns a NEW lazy
        GraphStore; persist with ``save_atomic``."""
        if isinstance(uids, DataFrame):
            forget = uids.select(
                F.col("uid").cast("string").alias("_fuid")
            ).distinct()
        else:
            forget = local_rel(
                self.spark, [(str(u),) for u in uids], "_fuid string"
            ).distinct()
        out: dict[str, DataFrame] = {}
        for name, df in self.tables.items():
            if name in NODE_SCHEMAS:
                out[name] = df.join(
                    F.broadcast(forget), df["uid"] == forget["_fuid"], "left_anti"
                )
            else:
                kept = df.join(
                    F.broadcast(forget),
                    df["src_uid"] == forget["_fuid"],
                    "left_anti",
                )
                out[name] = kept.join(
                    F.broadcast(forget),
                    kept["dst_uid"] == forget["_fuid"],
                    "left_anti",
                )
        if index_path is not None:
            from .pipeline.ann_index import delete_uids

            delete_uids(
                self.spark,
                index_path,
                forget.select(F.col("_fuid").alias("uid")),
            )
        return GraphStore(self.spark, out)

    # -- S6: schema introspection (chat.py:64) ----------------------------

    def schema_string(self) -> str:
        """Render the graph schema for an LLM prompt.

        Analog of Neo4j's ``db.graph.schema`` used at chat.py:64: node
        labels with properties + relationship triples, but with Spark SQL
        types since generated queries target ``spark.sql``.
        """
        lines = ["Node tables:"]
        for name, label in _LABELS.items():
            df = self.tables.get(name)
            if df is None:
                continue
            cols = ", ".join(f"{f.name}: {f.dataType.simpleString()}" for f in df.schema)
            lines.append(f"  {name} (:{label}) {{{cols}}}")
        lines.append("Relationship tables (src_uid, dst_uid):")
        for name, (src, rel, dst) in _EDGE_ENDPOINTS.items():
            lines.append(f"  {name}: (:{src})-[:{rel}]->(:{dst})")
        return "\n".join(lines)

    # -- I1: uniqueness enforcement (graph.py:173-195) --------------------

    def assert_unique(self, table: str, keys: tuple[str, ...] | None = None) -> None:
        """Ingest-time stand-in for Neo4j uniqueness constraints."""
        keys = keys or NATURAL_KEYS[table]
        df = self.tables[table]
        # count distinct over a STRUCT of the keys: count_distinct over
        # bare columns DROPS tuples containing any NULL, which both
        # false-flags a unique row with a NULL key column and misses
        # genuinely duplicated all-NULL tuples (round-8 review)
        total, distinct = df.select(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct(*[F.col(k) for k in keys])).alias("d"),
        ).first()
        if total != distinct:
            raise ValueError(
                f"uniqueness violated on {table}{keys}: {total} rows, {distinct} distinct"
            )
