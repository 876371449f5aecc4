"""``lake_serve``: served reads only, nothing written while measuring.

Set-up builds a lake through the same API (~200k silver rows from
~400 bronze JSONL objects, two gold tables), re-registers the
warehouse as a serving process would on start, checks the end state
against the DuckDB replay and computes every expected query result
once. Two closed-loop HTTP clients in this process then send a seeded
query mix to ``/consumption/query``.
"""

from __future__ import annotations

import http.client
import random
import threading
import time

from perfbench import lake as L

BUILD_OBJECTS = 100
BUILD_RECORDS_PER_OBJECT = 600
BUILD_UPDATE_SHARE = 0.1
CLIENTS = 2
QUERIES_PER_S = 6  # nominal, sizes the query count from --seconds

# class -> share of the mix
MIX = (
    ("point", 0.40),
    ("aggregate", 0.20),
    ("gold", 0.15),
    ("bronze", 0.10),
    ("dialect", 0.05),
    ("capped", 0.05),
    ("rejected", 0.05),
)

# three-part lake names -> the replay's DuckDB tables
ORACLE_TABLES = (
    ("sales.silver.orders", "silver"),
    ("sales.bronze.orders", "bronze"),
    ("sales.gold.daily_revenue", "daily_revenue"),
    ("sales.gold.status_summary", "status_summary"),
)


def make_query(rng: random.Random, cls: str, max_key: int, days: int) -> str:
    if cls == "point":
        return f"SELECT * FROM sales.silver.orders WHERE order_id = {rng.randint(1, max_key)}"
    if cls == "aggregate":
        a = rng.randint(1, 4950)
        return (
            "SELECT status, COUNT(*) AS n, ROUND(SUM(total_amount), 2) AS revenue "
            f"FROM sales.silver.orders WHERE customer_id BETWEEN {a} AND {a + 49} "
            "GROUP BY status"
        )
    if cls == "gold":
        if rng.random() < 0.5:
            return "SELECT status, revenue, orders FROM sales.gold.status_summary"
        d = L.BASE_DAY.toordinal() + rng.randrange(days)
        day = L.date.fromordinal(d).isoformat()
        return (
            "SELECT CAST(day AS STRING) AS day, status, revenue, orders "
            f"FROM sales.gold.daily_revenue WHERE day = DATE '{day}'"
        )
    if cls == "bronze":
        a = rng.randint(1, max_key - 999)
        return (
            "SELECT COUNT(*) AS n, COUNT(DISTINCT order_id) AS keys "
            f"FROM sales.bronze.orders WHERE order_id BETWEEN {a} AND {a + 999}"
        )
    if cls == "dialect":
        a = rng.randint(1, max_key - 4)
        return (
            "SELECT * EXCLUDE (customer_id, created_at), strpos(status, 'a') AS p, "
            "array_length(string_split(status, 'e')) AS parts "
            f"FROM sales.silver.orders WHERE order_id BETWEEN {a} AND {a + 4}"
        )
    if cls == "capped":
        return "SELECT * FROM sales.silver.orders"
    if rng.random() < 0.5:
        return f"DELETE FROM sales.silver.orders WHERE order_id = {rng.randint(1, max_key)}"
    keys = ",".join(str(rng.randint(1, max_key)) for _ in range(2000))
    return f"SELECT order_id FROM sales.silver.orders WHERE order_id IN ({keys})"


def queries_for(seconds: int) -> int:
    return max(60, round(QUERIES_PER_S * seconds))


def expected(con, cls: str, sql: str):
    """What a correct reply holds: a rowset, or for the capped and
    rejected classes the reply's shape."""
    if cls == "rejected":
        return None
    if cls == "capped":
        return con.execute("SELECT * FROM silver LIMIT 0").description
    for ref, table in ORACLE_TABLES:
        sql = sql.replace(ref, table)
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return L.rowset(cols, res.fetchall()), sorted(cols)


def verify(cls: str, want, code: int, body: dict, cap: int) -> bool:
    if cls == "rejected":
        return code == 400
    if code != 200:
        return False
    if cls == "capped":
        return (
            body.get("truncated") is True
            and body.get("row_count") == cap
            and sorted(body.get("columns", [])) == sorted(d[0] for d in want)
        )
    cols = body.get("columns", [])
    rows = [tuple(r[c] for c in cols) for r in body.get("rows", [])]
    return (L.rowset(cols, rows), sorted(cols)) == want


def run(ctx) -> dict:
    from serverless_data_lake_spark.serving.api import LakeServer

    spark, ops = ctx.spark, ctx.ops
    orders, replay = L.Orders(ctx.seed), L.Replay()
    lake = L.open_lake(ctx.lake_root, spark, ops)
    user_bytes = L.backfill(
        ctx, lake, orders, replay, BUILD_OBJECTS * BUILD_RECORDS_PER_OBJECT,
        BUILD_OBJECTS, BUILD_UPDATE_SHARE,
    )
    with ctx.phase("register_all"):
        lake.store.register_all()
    with ctx.phase("end_state_checks"):
        con = replay.connect()
        checks = L.end_state_checks(lake, con)
    days = orders.max_key // L.KEYS_PER_DAY + 1
    n = queries_for(ctx.seconds)
    rng = random.Random(ctx.seed + 1)
    names = [c for c, _ in MIX]
    # exact class counts, seeded order: the mix is the same every run
    classes = [c for c, w in MIX for _ in range(round(w * n))]
    rng.shuffle(classes)
    plan = []
    with ctx.phase("expected_results"):
        for cls in classes:
            sql = make_query(rng, cls, orders.max_key, days)
            plan.append((cls, sql, expected(con, cls, sql)))
    # one unmeasured query per class: plan compilation, bronze view
    warm = [(cls, make_query(rng, cls, orders.max_key, days)) for cls in names]

    server = LakeServer(lake)
    port = server.start()
    results: list[tuple] = []
    lock = threading.Lock()
    try:
        warm_client = L.Client(port)
        with ctx.phase("warm_queries"):
            for cls, sql in warm:
                warm_client.query(sql)

        def loop(share):
            client = L.Client(port)
            for cls, sql, want in share:
                t = time.perf_counter()
                try:
                    code, body, wall, size = client.query(sql)
                except (OSError, http.client.HTTPException, ValueError):
                    # no reply, or not JSON: a failed query
                    code, body, wall, size = 0, {}, time.perf_counter() - t, 0
                with lock:
                    results.append((cls, want, code, body, wall, size))

        lake.query_walls.clear()
        ctx.mark_setup()
        t0 = time.perf_counter()
        threads = [
            threading.Thread(target=loop, args=(plan[i::CLIENTS],))
            for i in range(CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        window = time.perf_counter() - t0
        ctx.phases["window"] = window
    finally:
        server.stop()

    cap = lake.config.max_result_rows
    ok = [verify(cls, want, code, body, cap) for cls, want, code, body, _, _ in results]
    by_class: dict[str, list[float]] = {}
    for cls, _, _, _, wall, _ in results:
        by_class.setdefault(cls, []).append(wall)
    served = [w for cls, _, _, _, w, _ in results if cls != "rejected"]
    store = L.storage(ctx.lake_root)
    e2e = {
        "queries_per_s": len(results) / window,
        "query_ms_p50": 1e3 * L.median(served),
        "query_ms_p95": 1e3 * L.pct(served, 95),
        "storage_amplification": (store["bronze"] + store["silver"] + store["gold"])
        / user_bytes,
    }
    sizes = {
        "silver_rows": orders.max_key,
        "records_accepted_total": sum(len(o) for o in replay.objects),
        "bronze_objects": store["bronze_objects"],
        "gold_tables": 2,
        "queries": len(plan),
        "clients": CLIENTS,
        "class_counts": {c: len(v) for c, v in sorted(by_class.items())},
        "storage_bytes": store,
        "user_json_bytes": user_bytes,
        "inputs_sha256": L.inputs_digest(
            replay.objects, [sql for _, sql, _ in plan], warm
        ),
    }
    record = {
        "query_ms_p50_by_class": {
            c: 1e3 * L.median(v) for c, v in sorted(by_class.items())
        },
        "failed_by_class": {
            c: sum(1 for (cl, *_), good in zip(results, ok) if cl == c and not good)
            for c in names
        },
    }
    layers = {}
    if ctx.traced:
        layers = ctx.common_layers()
        record["plans_by_class"] = ctx.plans_by_class(
            {sql: cls for cls, sql, _ in plan}
        )
        layers.update(L.serving_layers(
            [(w, size, bool(body.get("truncated"))) for _, _, _, body, w, size in results],
            lake.query_walls,
        ))
    return {
        "gate": {
            "throughput_per_s": e2e["queries_per_s"],
            "latency_ms_p50": e2e["query_ms_p50"],
            "storage_amplification": e2e["storage_amplification"],
        },
        "e2e": e2e,
        "layers": layers,
        "sizes": sizes,
        "record": record,
        "checks": checks,
        "attempted": len(plan) + len(checks),
        # a query that never came back counts as failed
        "failed": len(plan) - ok.count(True) + sum(not v for v in checks.values()),
    }
