"""The benchmark's workloads: what one pass runs and how its outputs are checked.

Query lists hold registry names only; ``check_registry`` validates them against
``etl_jlp_spark.registry`` at start-up, so the registry stays the only list of
queries. Every op is timed by its caller; the functions here do the work and
return what the caller needs to check it.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")
SCALES = ("sf0.01", "sf0.001")

# Short registered queries: the fixed per-query cost (schema discovery in
# the builder, planning, codegen) dominates their wall.
QUERY_FLOOR = (
    "q1_pricing_summary",
    "q6_revenue_change",
    "q8_market_share",
    "q14_promo_revenue",
    "ingest_incremental_watermark",
    "dedup_exact",
    "sessionize",
    "quality_report",
)

# A builder-bound query (eager builder jobs, wide codegen) and an
# execution-bound one (Python-worker scoring); the catalog floor is a small
# share of their wall.
QUERY_HEAVY = (
    "hits_top_hubs",
    "knn_loo_accuracy",
)

QUERY_WORKLOADS = {"query_floor": QUERY_FLOOR, "query_heavy": QUERY_HEAVY}

# etl_medallion sizes per scale: batch rows, rows per increment, increments
# per pass.
ETL_SIZES = {"sf0.01": (50_000, 5_000, 4), "sf0.001": (5_000, 500, 4)}
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
BATCH_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
BATCH_SPAN_US = 30 * 86_400_000_000
HOUR_US = 3_600_000_000


def data_dir(scale: str) -> str:
    return os.path.join(HERE, "data", scale)


def check_registry(registry, names) -> None:
    """Fail loudly on a name the registry does not know or has no oracle for."""
    unknown = [n for n in names if n not in registry.QUERIES]
    no_oracle = [n for n in names if n in registry.QUERIES and n not in registry.ORACLES]
    if unknown or no_oracle:
        raise SystemExit(
            f"workload names not in the registry: {unknown}; without an oracle: {no_oracle}"
        )


def load_expected(path: str, scale: str, names) -> dict:
    with open(path, encoding="utf-8") as f:
        pinned = json.load(f).get(scale, {})
    missing = [n for n in names if n not in pinned]
    if missing:
        raise SystemExit(f"no pinned oracle hash at {scale} for {missing}; run pin_hashes.py")
    return {n: pinned[n] for n in names}


def query_order(names, seed: int) -> list[str]:
    """The seed fixes the query order of the timed passes: a rotation of the
    list, the same in every pass. The passes repeat one cycle, so each query
    always follows the same query, whatever the seed. A query's wall depends
    on the one before it (JIT and cache state), and a new shuffle per pass
    would make that a lottery over seeds. The warm-up pass runs the list in
    its own order, so the cold start is the same on every run."""
    k = random.Random(seed).randrange(len(names))
    return list(names[k:]) + list(names[:k])


def result_signature(parity, df) -> list:
    """[rows, order-insensitive value hash, sorted columns] of a Spark result,
    canonicalized exactly as the parity gate does (strict floats, pandas path)."""
    cols, rows = parity.fetch_spark_pandas(df)
    n, digest = parity.table_hash(cols, rows)
    return [n, digest, sorted(cols)]


# ---------------------------------------------------------------------------
# etl_medallion inputs
# ---------------------------------------------------------------------------

EVENTS_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def make_events(rng: np.random.Generator, n: int, id0: int, t0_us: int, span_us: int) -> pa.Table:
    """``n`` events with the testdata ``events`` schema and value ranges:
    1500 users, five event types, exponential values rounded to cents,
    ``{"k": 0..99}`` props, timestamps uniform over the span and ids in
    timestamp order."""
    ts = np.sort(rng.integers(t0_us, t0_us + span_us, n, dtype=np.int64))
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table(
        [
            pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
            pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            pa.array(np.round(rng.exponential(50.0, n), 2)),
            pa.array(props),
        ],
        schema=EVENTS_ARROW_SCHEMA,
    )


class EtlInputs:
    """Seeded batch input (an sf dir holding ``events.parquet``) and the
    hourly increment files that land after it, one at a time."""

    def __init__(self, run_dir: str, scale: str, seed: int):
        self.n_batch, self.n_inc, self.incs_per_pass = ETL_SIZES[scale]
        self.seed = seed
        self.sf_dir = os.path.join(run_dir, "input")
        self.staging = os.path.join(run_dir, "staging")
        self.landing = os.path.join(run_dir, "lake", "landing", "events")
        for d in (self.sf_dir, self.staging, self.landing):
            os.makedirs(d, exist_ok=True)
        self.batch_path = os.path.join(self.sf_dir, "events.parquet")
        batch = make_events(
            np.random.default_rng([seed, 0]), self.n_batch, 0, BATCH_START_US, BATCH_SPAN_US
        )
        pq.write_table(batch, self.batch_path)
        self.landed = 0

    def expected_bronze_rows(self, threads: int) -> int:
        """DuckDB's count of the batch after the pipeline's dedup key."""
        import duckdb

        con = duckdb.connect(config={"threads": threads})
        try:
            return con.execute(
                "SELECT count(*) FROM (SELECT DISTINCT user_id, event_type, props "
                "FROM read_parquet(?))",
                [self.batch_path],
            ).fetchone()[0]
        finally:
            con.close()

    def stage_increment(self) -> tuple[int, str, str]:
        """Write the next increment outside the watched dir; returns its index
        and the staged and landing paths."""
        j = self.landed
        t0 = BATCH_START_US + BATCH_SPAN_US + j * HOUR_US
        table = make_events(
            np.random.default_rng([self.seed, 1, j]),
            self.n_inc,
            self.n_batch + j * self.n_inc,
            t0,
            HOUR_US,
        )
        name = f"inc-{j:05d}.parquet"
        staged = os.path.join(self.staging, name)
        pq.write_table(table, staged)
        self.landed += 1
        return j, staged, os.path.join(self.landing, name)
