"""Registry for the correctness-gate query catalog.

Each entry pairs a Spark DataFrame program with an equivalent ANSI-SQL
string that DuckDB runs on the same parquet tables (the driver's oracle).
Determinism rules (so order-insensitive value hashes match bit-for-bit):

- Every floating-point SUM goes through a per-row ``CAST(x AS
  DECIMAL(p,s))`` first: the double→decimal cast rounds the shortest
  decimal repr identically in Spark (BigDecimal.valueOf + HALF_UP) and
  DuckDB, and decimal addition is exact, so aggregation order cannot
  change the result. The final value is cast back to DOUBLE so schemas
  agree.
- Integer aggregates are cast to BIGINT on the oracle side (DuckDB
  ``sum(int)`` is HUGEINT).
- Every LIMIT / top-k carries a total ORDER BY (unique tiebreaker).
- Threshold comparisons on ratios use cross-multiplied integer
  comparisons, never float thresholds.
- Cosine-similarity queries output ranks, not raw scores.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    doc: str = ""


_REGISTRY: dict[str, CatalogQuery] = {}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a catalog query by name."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = CatalogQuery(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def registry() -> dict[str, CatalogQuery]:
    return dict(_REGISTRY)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin UTC even under a driver-owned session: epoch math
    # (unix_timestamp/unix_micros) must agree with DuckDB's
    # UTC-interpreted naive timestamps bit-for-bit
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # events.ts is TIMESTAMP(NANOS) in parquet → read as long nanos
    # (legacy conf above), convert to µs timestamps to match DuckDB
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division — ns values ~1.7e18 overflow double precision
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet timestamps without isAdjustedToUTC arrive as TIMESTAMP_NTZ.
    # Normalize to TIMESTAMP: wall-clock values round-trip unchanged
    # through cast+collect for any session tz, DuckDB reads the same
    # naive values, and downstream epoch math / streaming watermarks
    # (both TIMESTAMP-only) work uniformly.
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128MB', '4m')."""
    s = v.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(float(s) * mult)


def _estimated_splits(df: DataFrame) -> int | None:
    """Estimate how many scan splits Spark will make for a file-backed
    plan, using the same bin-packing formula as FilePartition.maxSplitBytes
    (files padded by openCostInBytes, packed into maxSplitBytes bins,
    shrunk toward bytesPerCore). Returns None for non-file-backed plans
    or when file sizes aren't locally readable.
    """
    import os
    from urllib.parse import urlparse

    files = df.inputFiles()  # driver-side file-index metadata, no job
    if not files:
        return None
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        try:
            sizes.append(os.path.getsize(u.path))
        except OSError:
            return None
    spark = df.sparkSession
    conf = spark.conf
    max_split = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4MB"))
    parallelism = spark.sparkContext.defaultParallelism
    total = sum(sizes) + open_cost * len(sizes)
    bytes_per_core = total / max(parallelism, 1)
    split = min(max_split, max(open_cost, int(bytes_per_core)))
    return max(1, -(-total // max(split, 1)))


def spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow file scan up to full parallelism for
    CPU-heavy map stages.

    Spark bin-packs small files into few splits (maxPartitionBytes /
    openCostInBytes), which would serialize per-row compute (hashing,
    shingling) on a handful of cores. The shuffle this adds is tiny (it
    carries the raw rows once); when the estimated split count already
    reaches default parallelism — or the plan isn't a local file scan we
    can size — it's a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = _estimated_splits(df)
    if splits is None or splits >= target:
        # Unknown width (non-file plan, remote FS) or already parallel:
        # don't force a shuffle.
        return df
    return df.repartition(target)


def fingerprint_stage_dir(src_path: str, kind: str) -> str:
    """ONE implementation of the fingerprint-keyed /tmp staging-dir
    discipline (mirrors ann_index.ensure_index): the dir name covers
    the source file's path, mtime, and size — a testdata regen can
    never be served from a stale staged copy — and superseded
    fingerprints of the SAME source are swept so regens don't
    accumulate table copies. Shared by partitioned_scan_pruning and
    maintenance_compaction_roundtrip (round-7 review: two drifting
    copies of this logic)."""
    import glob
    import hashlib
    import os
    import tempfile

    st = os.stat(src_path)
    # key on a HASH of the full source path, not a flattened path
    # string: 'a/b' and 'a/b_v2' flatten ambiguously, so a prefix glob
    # on the flattened form could sweep a DIFFERENT source's live
    # staging dir (round-7 review). The hash makes the sweep glob
    # match only this exact source's generations.
    src_key = hashlib.sha1(os.path.abspath(src_path).encode()).hexdigest()[:12]
    base = os.path.join(
        tempfile.gettempdir(),
        f"ngr_{kind}_{src_key}_{st.st_mtime_ns}_{st.st_size}",
    )
    # AGE-GATED sweep of superseded generations (round-7 advice): a
    # lazy DataFrame returned before a mid-session testdata regen still
    # reads the PREVIOUS staged copy at execution time, so deleting it
    # the instant a new fingerprint appears can fail (or torn-read) an
    # in-flight plan. publish.sweep's age gate retires old generations
    # once no plan from this session window can still reference them.
    from .. import publish

    publish.sweep(
        stale
        for stale in glob.glob(
            os.path.join(tempfile.gettempdir(), f"ngr_{kind}_{src_key}_*")
        )
        if stale != base
    )
    return base


def stage_parquet(src_path: str, kind: str, write_to) -> str:
    """Write-once fingerprint staging with an atomic publish: the
    build-tmp-then-rename discipline for fingerprint-keyed tables
    (round-12 review: the older helpers wrote ``mode("overwrite")``
    straight into the final dir after a _SUCCESS check — two
    concurrent cold builders, e.g. bench.py and a pytest run hitting
    the same sf dir, could interleave part-files and bless a torn
    directory with the survivor's _SUCCESS). The rename and its race
    and torn-dir handling are ``publish.publish_once``.

    ``write_to(tmp_dir)`` must write a complete parquet directory at
    ``tmp_dir`` (Spark ``df.write.mode("overwrite").parquet(tmp)``).
    The tmp dir is created NEXT TO the final dir (same filesystem, so
    the rename is atomic) under an ``ngrtmp_`` name, OUTSIDE
    fingerprint_stage_dir's ``ngr_{kind}_*`` sweep glob. Readers only
    ever see a fully-built dir or none.
    """
    import glob
    import os
    import tempfile

    from .. import publish

    # Age-gated sweep of ngrtmp_* orphans (round-12 advice): a builder
    # killed mid-write_to (SIGKILL/OOM) leaks a full tmp parquet copy
    # that fingerprint_stage_dir's ngr_{kind}_* glob never matches. The
    # gate reads the NEWEST mtime inside a dir, not the root's: a long
    # Spark write adds part files under tmp/_temporary/ without
    # touching the root mtime (round-13 review).
    publish.sweep(glob.glob(os.path.join(tempfile.gettempdir(), "ngrtmp_*")))

    dest = fingerprint_stage_dir(src_path, kind)
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        with publish.staged(
            os.path.join(os.path.dirname(dest), f"ngrtmp_{kind}")
        ) as tmp:
            os.makedirs(tmp)
            write_to(tmp)
            publish.publish_once(tmp, dest, "_SUCCESS")
    return dest
