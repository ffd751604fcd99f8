"""Table catalog: sf_dir of parquet files -> named DataFrames.

Mirrors the reference's entity registry (containers + entity paths in
dwh_lab/dwh/general_lib.py:118-174) as a thin declarative loader; the
parquet scans stay lazy so Catalyst prunes columns and pushes filters
into the file source.

Every table read goes through ``read_parquet``, which caches each
path's schema. A plain ``spark.read.parquet`` launches one Spark job
to infer the schema from the parquet footers before it returns, about
0.1 s per read, paid again on every query. The first read of a path
still infers; later reads hand the stored ``StructType`` to
``spark.read.schema(...)``, which plans the same scan with no job.

- **Version key.** A file's ``(st_ino, st_size, st_mtime_ns)``; a
  directory's sorted ``(relpath, size, mtime_ns)`` of every file under
  it. An ingest or maintenance rewrite changes the key, so the next read
  infers again and never sees a stale schema.
- **One entry per path.** A new version replaces the old entry, so the
  cache is bounded by the number of distinct paths read.
- **Uncached fallback.** A path ``os.stat`` cannot see (object stores,
  globs) is read with plain inference every time.
- **Spark infers, always.** The stored schema is the one Spark itself
  inferred, under the confs ``_ensure_session_confs`` pins before every
  read. It is never derived with pyarrow, whose type mapping differs
  from Spark's (nanosecond timestamps as long, NTZ vs LTZ).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any scale factor we target.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong) and we convert to microsecond
# timestamps here — truncation matches DuckDB's nanos→micros behavior.
NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make any caller-provided session (e.g. the driver's) behave like
    ours: nano-timestamp parquet readable, UTC event-time semantics, and
    untagged (isAdjustedToUTC=false) parquet timestamps read as the
    classic TIMESTAMP type rather than TIMESTAMP_NTZ — with the session
    pinned to UTC the wall-clock values are identical, and the LTZ type
    keeps epoch functions (unix_micros & friends) available. All are
    runtime-settable SQL confs; idempotent and cheap."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# path -> (version, schema Spark inferred at that version)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _version(path: str) -> tuple | None:
    """What a rewrite of ``path`` must change; None when unstat-able."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        files = []
        for root, _, names in os.walk(path):
            for f in names:
                full = os.path.join(root, f)
                fst = os.stat(full)
                files.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema cached per path
    version (module docstring): no inference job on a repeat read."""
    _ensure_session_confs(spark)
    version = _version(path)
    hit = _SCHEMAS.get(path)
    if version is not None and hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if version is not None:
        _SCHEMAS[path] = (version, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, table_path(sf_dir, name))
    for col in NANO_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype == "timestamp_ntz":
            # Scan resolved before our conf took effect (cached relation):
            # same normalization, as a cast. Session tz is UTC, so values
            # are preserved exactly.
            df = df.withColumn(col, F.col(col).cast("timestamp_ltz"))
    return df


def _scan_partitions(spark: SparkSession, path: str) -> int:
    """Estimated #input partitions for a parquet path: bytes on disk /
    maxPartitionBytes (how Spark splits files). Pure os.stat — no plan
    analysis. Unstat-able paths (object stores) estimate wide, which
    correctly disables widening."""
    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:
            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
    except OSError:
        return 1 << 30
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    mpb = int("".join(c for c in str(raw) if c.isdigit()) or "134217728")
    return max(1, (size + mpb - 1) // mpb)


def widen(spark: SparkSession, df: DataFrame, sf_dir: str, name: str, *cols: str) -> DataFrame:
    """Repartition ONLY if the table scans into fewer partitions than
    cores. A single small parquet file is one input partition on
    local[*], serializing any downstream fan-out (explode, cross
    product); at cluster scale the table spans ≥ cores split-points
    already and this is a no-op — the full-data shuffle is only ever
    paid where it buys parallelism. With ``cols`` the widening shuffle
    hash-partitions on those columns (instead of round-robin), so a
    downstream groupBy on a superset of them reuses the clustering
    and plans no second exchange — and the partition COUNT is left to
    AQE (no explicit N): pinning it forces REPARTITION_BY_NUM, which
    AQE cannot coalesce, and the extra near-empty tasks measurably
    slow small-input queries (~1.5× on the sf0.1 IR family) while
    buying nothing at scale."""
    p = spark.sparkContext.defaultParallelism
    if _scan_partitions(spark, table_path(sf_dir, name)) < p:
        return df.repartition(*cols) if cols else df.repartition(p)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load every table lazily; optionally register temp views for spark.sql."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
