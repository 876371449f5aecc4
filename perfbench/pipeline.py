"""``lake_pipeline``: the write path, one sequential client (the store's
single-writer model).

Set-up backfills 50k records into silver and gold through the same
API. Each measured round then:
40 POSTs of 25 records through ``/ingest/.../batch``, one POST of
invalid records to a strict endpoint (refused with 207), one
``process_silver``, one ``run_gold_by_tag("day")`` over a two-job DAG,
and one freshness read through ``LakeServer`` that must return the
round's rows from silver and gold.
"""

from __future__ import annotations

import time

from perfbench import lake as L

BACKFILL_RECORDS = 50_000
BACKFILL_OBJECTS = 2
ROUND_S = 10.0  # nominal seconds per round, sizes the round count
INVALID_PER_ROUND = 10  # ~1% of the round's 1,000 records


def rounds_for(seconds: int) -> int:
    return max(3, round(seconds / ROUND_S))


def run(ctx) -> dict:
    from serverless_data_lake_spark.serving.api import LakeServer

    spark, ops = ctx.spark, ctx.ops
    orders, replay = L.Orders(ctx.seed), L.Replay()
    lake = L.open_lake(ctx.lake_root, spark, ops)
    server = LakeServer(lake)
    client = L.Client(server.start())
    try:
        user_bytes = L.backfill(
            ctx, lake, orders, replay, BACKFILL_RECORDS, BACKFILL_OBJECTS, 0.0
        )
        n_rounds = rounds_for(ctx.seconds)
        stats = {k: [] for k in ("post", "silver", "gold", "fresh", "round")}
        layer = {k: [] for k in ("rewritten", "untouched", "amp", "rows_ratio")}
        accepted = attempted = failed = 0
        refused = []
        ctx.mark_setup()
        lake.query_walls.clear()
        for r in range(n_rounds):
            channel = r >= n_rounds // 2
            posts = [orders.post(channel) for _ in range(L.POSTS_PER_ROUND)]
            invalid = orders.invalid(INVALID_PER_ROUND)
            refused.append(invalid)
            round_bytes = sum(L.json_bytes(p) for p in posts)
            before = L.table_files(ctx.lake_root, "sales_silver", L.TABLE) if ctx.traced else None

            t0 = time.perf_counter()
            ok = []
            for recs in posts:
                code, body, wall, _ = client.post_batch(L.TABLE, recs)
                ok.append(code == 200 and body.get("accepted") == len(recs))
                stats["post"].append(wall)
                replay.add(recs)
            code, body, _, _ = client.post_batch(L.STRICT, invalid)
            ok.append(code == 207 and body.get("accepted") == 0
                      and body.get("failed") == len(invalid))

            t = time.perf_counter()
            with ops.op("silver"):
                res = lake.process_silver(L.DOMAIN, L.TABLE)
            silver_s = time.perf_counter() - t
            ok.append(res.rows_in == sum(len(p) for p in posts))

            t = time.perf_counter()
            with ops.op("gold"):
                golds = lake.run_gold_by_tag("day")
            gold_s = time.perf_counter() - t
            ok.append([g.name for g in golds] == ["daily_revenue", "status_summary"])

            code, body, wall, size = client.query(L.FRESHNESS_SQL)
            row = (body.get("rows") or [{}])[0]
            # keys are dense, so silver holds exactly max_key rows
            ok.append(
                code == 200
                and row.get("silver_max") == orders.max_key
                and row.get("gold_orders") == orders.max_key
            )
            fresh_s = time.perf_counter() - t0

            user_bytes += round_bytes
            attempted += len(ok)
            failed += ok.count(False)
            accepted += sum(len(p) for p in posts)
            stats["silver"].append(silver_s)
            stats["gold"].append(gold_s)
            stats["fresh"].append((wall, size, bool(body.get("truncated"))))
            stats["round"].append(fresh_s)
            layer["rows_ratio"].append(res.rows_written / max(1, res.rows_in))
            if ctx.traced:
                after = L.table_files(ctx.lake_root, "sales_silver", L.TABLE)
                layer["rewritten"].append(len(set(before) - set(after)))
                layer["untouched"].append(len(set(before) & set(after)))
                written = sum(v for k, v in after.items() if k not in before)
                layer["amp"].append(written / round_bytes)
    finally:
        server.stop()

    with ctx.phase("end_state_checks"):
        con = replay.connect()
        checks = L.end_state_checks(lake, con)
    attempted += len(checks)
    failed += sum(not v for v in checks.values())
    store = L.storage(ctx.lake_root)
    lake_bytes = store["bronze"] + store["silver"] + store["gold"]
    records_total = sum(len(o) for o in replay.objects)

    e2e = {
        "records_per_s": accepted / sum(stats["round"]),
        "freshness_s_p50": L.median(stats["round"]),
        "ingest_ms_p50": 1e3 * L.median(stats["post"]),
        "ingest_ms_p95": 1e3 * L.pct(stats["post"], 95),
        "silver_s_p50": L.median(stats["silver"]),
        "gold_s_p50": L.median(stats["gold"]),
        "storage_amplification": lake_bytes / user_bytes,
    }
    record = {
        "round_s": stats["round"],
        "silver_s": stats["silver"],
        "gold_s": stats["gold"],
    }
    sizes = {
        "backfill_records": BACKFILL_RECORDS,
        "rounds_measured": n_rounds,
        "posts_per_round": L.POSTS_PER_ROUND,
        "records_per_post": L.BATCH,
        "invalid_per_round": INVALID_PER_ROUND,
        "records_accepted_total": records_total,
        "silver_rows": orders.max_key,
        "bronze_objects": store["bronze_objects"],
        "storage_bytes": store,
        "user_json_bytes": user_bytes,
        "inputs_sha256": L.inputs_digest(replay.objects, refused),
    }
    layers = pipeline_layers(ctx, stats, layer, store, records_total)
    if ctx.traced:
        layers.update(L.serving_layers(stats["fresh"], lake.query_walls))
    return {
        "gate": {
            "throughput_per_s": e2e["records_per_s"],
            "latency_ms_p50": 1e3 * e2e["freshness_s_p50"],
            "storage_amplification": e2e["storage_amplification"],
        },
        "e2e": e2e,
        "layers": layers,
        "sizes": sizes,
        "record": record,
        "checks": checks,
        "attempted": attempted,
        "failed": failed,
    }


def pipeline_layers(ctx, stats, layer, store, records_total) -> dict:
    if not ctx.traced:
        return {}
    measured = ctx.spans
    n_silver = max(1, len(stats["silver"]))
    out = ctx.common_layers()
    out.update(
        {
            "bronze.ingest_ms": 1e3 * L.median(measured("bronze.ingest_batch")),
            "schema.validate_ms": 1e3 * L.median(measured("schema.validate_batch")),
            "bronze.list_objects_s": sum(measured("bronze.list_objects", kind="silver"))
            / n_silver,
            "bronze.bytes_per_record": store["bronze"] / max(1, records_total),
            "silver.self_s": (
                sum(measured("silver.process_endpoint", self_time=True))
                + sum(measured("silver.process_batch", self_time=True))
            )
            / n_silver,
            "silver.rows_written_per_row_in": L.median(layer["rows_ratio"]),
            "catalog.merge_s": sum(measured("catalog.merge", kind="silver")) / n_silver,
            "catalog.files_rewritten": L.median(layer["rewritten"]),
            "catalog.files_untouched": L.median(layer["untouched"]),
            "catalog.write_amplification": L.median(layer["amp"]),
            "catalog.delete_insert_s": L.median(measured("catalog.delete_insert")),
            "gold.run_job_s": L.median(measured("gold.run_job")),
        }
    )
    return out
