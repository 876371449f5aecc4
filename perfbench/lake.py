"""The two lake workloads: ``lake_pipeline`` (the write path, with one
freshness read per round) and ``lake_serve`` (served reads only).

Both drive the system only through ``Lake`` and ``LakeServer``. Inputs
are generated here from the seed; the program receives only the
generated records and SQL. Correctness is checked outside the timed
region against a DuckDB replay of the generated records.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import random
import statistics
import time
import urllib.parse
from datetime import date, datetime, timedelta
from decimal import Decimal

import duckdb
import pandas as pd
import pyarrow as pa

DOMAIN, TABLE, STRICT = "sales", "orders", "orders_strict"
BATCH = 25  # records per POST: the reference REST connector's batch size
POSTS_PER_ROUND = 40
STATUSES = ("pending", "paid", "shipped", "cancelled")
CHANNELS = ("web", "app", "store")
KEYS_PER_DAY = 2000
BASE_DAY = date(2024, 1, 1)

F1_COLUMNS = [
    {"name": "order_id", "type": "integer", "required": True, "primary_key": True},
    {"name": "customer_id", "type": "integer", "required": True},
    {"name": "total_amount", "type": "float", "required": True},
    {"name": "status", "type": "string"},
    {"name": "created_at", "type": "timestamp"},
]

GOLD_JOBS = [
    {
        "domain": DOMAIN,
        "name": "daily_revenue",
        "query": (
            "SELECT CAST(created_at AS DATE) AS day, status, "
            "ROUND(SUM(total_amount), 2) AS revenue, COUNT(*) AS orders "
            "FROM sales.silver.orders GROUP BY CAST(created_at AS DATE), status"
        ),
        "write_mode": "append",
        "unique_key": ["day", "status"],
        "schedule_type": "cron",
        "cron_schedule": "day",
    },
    {
        "domain": DOMAIN,
        "name": "status_summary",
        "query": (
            "SELECT status, ROUND(SUM(revenue), 2) AS revenue, "
            "SUM(orders) AS orders FROM sales.gold.daily_revenue GROUP BY status"
        ),
        "write_mode": "overwrite",
        "schedule_type": "dependency",
        "dependencies": ["daily_revenue"],
    },
]

FRESHNESS_SQL = (
    "SELECT (SELECT MAX(order_id) FROM sales.silver.orders) AS silver_max, "
    "(SELECT SUM(orders) FROM sales.gold.status_summary) AS gold_orders"
)


# ----------------------------------------------------------------------
# Inputs
# ----------------------------------------------------------------------
class Orders:
    """Seeded F1 ``sales.orders`` record source. ``created_at`` is a
    function of the key, so recent keys are recent days."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.max_key = 0

    def record(self, key: int, channel: bool) -> dict:
        rng = self.rng
        ts = datetime.combine(BASE_DAY, datetime.min.time()) + timedelta(
            days=key // KEYS_PER_DAY, seconds=(key * 7919) % 86400
        )
        rec = {
            "order_id": key,
            "customer_id": rng.randrange(1, 5001),
            "total_amount": rng.randrange(100, 50000) / 100,
            "status": rng.choice(STATUSES),
            "created_at": ts.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        if channel:
            rec["channel"] = rng.choice(CHANNELS)
        return rec

    def fresh(self, n: int, channel: bool = False) -> list[dict]:
        out = [self.record(self.max_key + 1 + i, channel) for i in range(n)]
        self.max_key += n
        return out

    def recent_key(self) -> int:
        """An existing key, skewed toward the most recent ones."""
        back = int(self.rng.expovariate(1 / 3000))
        return max(1, self.max_key - back)

    def post(self, channel: bool, update_share: float = 0.3) -> list[dict]:
        """One POST of ``BATCH`` records: ~``update_share`` updates of
        existing keys, the rest new keys; one POST in five repeats a key
        with a different payload (the F2 duplicate shape)."""
        rng = self.rng
        recs: list[dict] = []
        n_dup = 1 if rng.random() < 0.2 else 0
        for _ in range(BATCH - n_dup):
            if self.max_key and rng.random() < update_share:
                recs.append(self.record(self.recent_key(), channel))
            else:
                recs.extend(self.fresh(1, channel))
        for _ in range(n_dup):
            recs.append(self.record(rng.choice(recs)["order_id"], channel))
        return recs

    def invalid(self, n: int) -> list[dict]:
        """Records a strict endpoint must refuse."""
        rng = self.rng
        bad = []
        for i in range(n):
            rec = self.record(self.recent_key(), False)
            if i % 2:
                rec["total_amount"] = "n/a"
            else:
                del rec["customer_id"]
            bad.append(rec)
        rng.shuffle(bad)
        return bad


def inputs_digest(*parts) -> str:
    """Hash of everything generated from the seed: two generations from
    one seed must agree byte for byte."""
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()


def json_bytes(records: list[dict]) -> int:
    return sum(len(json.dumps(r).encode()) for r in records)


# ----------------------------------------------------------------------
# Oracle: DuckDB replay of the accepted records
# ----------------------------------------------------------------------
class Replay:
    """Every accepted bronze object in arrival order. The reference
    rule: within one object the earliest record of a key wins; a later
    object's upsert overwrites."""

    def __init__(self) -> None:
        self.objects: list[list[dict]] = []

    def add(self, records: list[dict]) -> None:
        self.objects.append(records)

    def connect(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        cols: dict[str, list] = {
            "obj": [], "pos": [], "order_id": [], "customer_id": [],
            "total_amount": [], "status": [], "created_at": [], "channel": [],
        }
        for o, recs in enumerate(self.objects):
            for p, r in enumerate(recs):
                cols["obj"].append(o)
                cols["pos"].append(p)
                for c in ("order_id", "customer_id", "total_amount", "status",
                          "created_at", "channel"):
                    cols[c].append(r.get(c))
        con.register("src", pa.table(cols))
        con.execute(
            "CREATE TABLE bronze AS SELECT obj, pos, order_id, customer_id, "
            "total_amount, status, CAST(created_at AS TIMESTAMP) AS created_at, "
            "channel FROM src"
        )
        if not any(cols["channel"]):
            con.execute("ALTER TABLE bronze DROP COLUMN channel")
        con.execute(
            "CREATE TABLE silver AS SELECT order_id, customer_id, total_amount, "
            f"status, created_at{', channel' if any(cols['channel']) else ''} "
            "FROM bronze QUALIFY row_number() OVER "
            "(PARTITION BY order_id ORDER BY obj DESC, pos ASC) = 1"
        )
        con.execute(
            "CREATE TABLE daily_revenue AS SELECT CAST(created_at AS DATE) AS day, "
            "status, ROUND(SUM(total_amount), 2) AS revenue, COUNT(*) AS orders "
            "FROM silver GROUP BY 1, 2"
        )
        con.execute(
            "CREATE TABLE status_summary AS SELECT status, "
            "ROUND(SUM(revenue), 2) AS revenue, SUM(orders) AS orders "
            "FROM daily_revenue GROUP BY status"
        )
        return con


def canon(v) -> str:
    """One value in the form both engines agree on: numbers to two
    decimals (every generated amount has two), times to the second."""
    if v is None or (isinstance(v, float) and v != v):
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, Decimal)):
        return f"{float(v):.2f}"
    if isinstance(v, (datetime, date)):
        return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def rowset(columns: list[str], rows) -> list[str]:
    """Order-insensitive canonical form of a result: columns by name,
    values canonicalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon(row[i]) for i in order) for row in rows)


def frame_digest(pdf: pd.DataFrame) -> str:
    """``rowset`` of a whole table, hashed; vectorized per column."""
    cols = sorted(pdf.columns)
    parts = []
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            parts.append(s.dt.strftime("%Y-%m-%d %H:%M:%S").fillna("None"))
        elif pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            parts.append(s.astype("float64").map("{:.2f}".format).where(s.notna(), "None"))
        else:
            parts.append(s.map(canon))
    lines = parts[0].str.cat(parts[1:], sep="|")
    h = hashlib.sha256("|".join(cols).encode())
    for line in sorted(lines):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def end_state_checks(lake, con) -> dict[str, bool]:
    """Silver and gold end state, hash-compared with the replay."""
    out = {}
    for ref, oracle in (
        ("sales.silver.orders", "silver"),
        ("sales.gold.daily_revenue", "daily_revenue"),
        ("sales.gold.status_summary", "status_summary"),
    ):
        got = lake.sql(f"SELECT * FROM {ref}").toPandas()
        want = con.execute(f"SELECT * FROM {oracle}").df()
        out[oracle] = frame_digest(got) == frame_digest(want)
    return out


# ----------------------------------------------------------------------
# Lake, server and HTTP client
# ----------------------------------------------------------------------
def open_lake(root: str, spark, ops):
    """Create the lake, its endpoints and gold jobs, wrap the public
    component methods for spans (traced runs only) and route every
    served query through a job group."""
    from serverless_data_lake_spark.engine import Lake
    from serverless_data_lake_spark.plans import query as plans_query
    from serverless_data_lake_spark.schema.registry import GoldJobConfig
    from serverless_data_lake_spark.schema.types import EndpointSchema
    from serverless_data_lake_spark.sources import bronze as bronze_mod

    lake = Lake.local(root, spark)
    for name, strict in ((TABLE, False), (STRICT, True)):
        lake.create_endpoint(
            EndpointSchema.from_dict(
                {
                    "domain": DOMAIN,
                    "name": name,
                    "schema_mode": "manual",
                    "strict_validation": strict,
                    "columns": F1_COLUMNS,
                }
            )
        )
    for job in GOLD_JOBS:
        lake.create_gold_job(GoldJobConfig.from_dict(job).validate())

    for owner, attr, name in (
        (lake.bronze, "ingest_batch", "bronze.ingest_batch"),
        (lake.bronze, "list_objects", "bronze.list_objects"),
        (lake.silver.bronze, "list_objects", "bronze.list_objects"),
        (bronze_mod, "validate_batch", "schema.validate_batch"),
        (lake.silver, "process_endpoint", "silver.process_endpoint"),
        (lake.silver, "process_batch", "silver.process_batch"),
        (lake.store, "merge", "catalog.merge"),
        (lake.store, "delete_insert", "catalog.delete_insert"),
        (lake.store, "create_or_replace", "catalog.create_or_replace"),
        (lake.store, "register_all", "catalog.register_all"),
        (lake.store, "read", "catalog.read"),
        (lake.gold, "run_job", "gold.run_job"),
        (lake.queries, "dataframe", "plans.dataframe"),
        (lake.queries, "query", "plans.query"),
        (plans_query, "validate_query", "plans.validate"),
        (plans_query, "rewrite_query", "plans.rewrite"),
        (plans_query, "transpile", "plans.transpile"),
    ):
        ops.wrap(owner, attr, name)

    served = lake.query
    query_walls: list[float] = []

    def query(sql: str):
        t0 = time.perf_counter()
        try:
            with ops.op("query") as root:
                if root is not None:
                    root["sql"] = sql  # traced: lets spans be grouped by class
                return served(sql)
        finally:
            query_walls.append(time.perf_counter() - t0)

    lake.query = query
    lake.query_walls = query_walls
    return lake


class Client:
    """One closed-loop HTTP client: each request waits for the reply."""

    def __init__(self, port: int) -> None:
        self.port = port

    def request(self, method: str, path: str, body: dict | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            data = json.dumps(body).encode() if body is not None else None
            headers = {"Content-Type": "application/json"} if data else {}
            t0 = time.perf_counter()
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            raw = resp.read()
            wall = time.perf_counter() - t0
        finally:
            conn.close()
        return resp.status, json.loads(raw or b"{}"), wall, len(raw)

    def post_batch(self, table: str, records: list[dict]):
        return self.request(
            "POST", f"/ingest/{DOMAIN}/{table}/batch", {"records": records}
        )

    def query(self, sql: str):
        return self.request(
            "GET", "/consumption/query?sql=" + urllib.parse.quote(sql)
        )


def storage(root: str) -> dict[str, int]:
    """Bytes of data and metadata files under bronze and the warehouse
    (silver and gold), without Hadoop ``.crc`` sidecars or directory
    entries."""
    out = {"bronze": 0, "silver": 0, "gold": 0, "bronze_objects": 0}
    for zone, sub in (("bronze", "bronze"), ("warehouse", "warehouse")):
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            for f in files:
                if f.endswith(".crc"):
                    continue
                size = os.path.getsize(os.path.join(dirpath, f))
                if zone == "bronze":
                    out["bronze"] += size
                    out["bronze_objects"] += f.endswith(".jsonl")
                elif f"{os.sep}{DOMAIN}_gold" in dirpath:
                    out["gold"] += size
                else:
                    out["silver"] += size
    return out


def table_files(root: str, database: str, table: str) -> dict[str, int]:
    """Data files of one table and their sizes."""
    base = os.path.join(root, "warehouse", database, table)
    out = {}
    for dirpath, _, files in os.walk(base):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def pct(values: list[float], q: float) -> float:
    """Percentile ``q`` (0..100), linear between closest ranks."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def serving_layers(replies: list[tuple[float, int, bool]], server_walls) -> dict:
    """``serving.*`` from the measured replies (client wall, response
    bytes, truncated) and the ``Lake.query`` walls behind them."""
    n = max(1, len(replies))
    return {
        "serving.overhead_ms": 1e3 * (sum(r[0] for r in replies) - sum(server_walls)) / n,
        "serving.response_bytes": sum(r[1] for r in replies) / n,
        "serving.truncated_ratio": sum(1 for r in replies if r[2]) / n,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ----------------------------------------------------------------------
# Backfill / lake building (set-up, same API)
# ----------------------------------------------------------------------
def backfill(ctx, lake, orders: Orders, replay: Replay, n_records: int,
             n_objects: int, update_share: float) -> int:
    """Land ``n_records`` through ``ingest_batch`` in ``n_objects``
    objects, then one silver commit and one gold run. Returns the
    accepted user-JSON bytes."""
    per = n_records // n_objects
    user_bytes = 0
    with ctx.phase("backfill_ingest"):
        for _ in range(n_objects):
            n_upd = int(per * update_share) if orders.max_key else 0
            recs = orders.fresh(per - n_upd) + [
                orders.record(orders.recent_key(), False) for _ in range(n_upd)
            ]
            res = lake.ingest_batch(DOMAIN, TABLE, recs)
            if res.failed or res.accepted != len(recs):
                raise RuntimeError(f"backfill refused records: {res.errors[:3]}")
            replay.add(recs)
            user_bytes += json_bytes(recs)
    with ctx.phase("backfill_silver"), ctx.ops.op("silver"):
        lake.process_silver(DOMAIN, TABLE)
    with ctx.phase("backfill_gold"), ctx.ops.op("gold"):
        lake.run_gold_by_tag("day")
    return user_bytes
