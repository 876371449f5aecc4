"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_pipeline --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Everything the run writes goes under
``.bench_work/`` in that checkout. The last stdout line is the result
object (``correct``, ``attempted``, ``failed``, ``metrics``); the line
before it is the full record: host stamp, sizes, every named
end-to-end metric of the workload and, for traced runs, the trace
file. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "serverless_data_lake_spark")
WORKLOADS = ("lake_pipeline", "lake_serve")

GATE = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_ms_p50": "ms",
    "storage_amplification": "B/B",
}
UNITS = {
    "bronze.bytes_per_record": "B",
    "catalog.write_amplification": "B/B",
    "records_per_s": "1/s",
    "queries_per_s": "1/s",
    "storage_amplification": "B/B",
    "failed_op_ratio": "ratio",
}
SPARK_KINDS = ("silver", "gold", "query")
LAYER_NAMES = (
    "session.start_s",
    "bronze.ingest_ms",
    "schema.validate_ms",
    "bronze.list_objects_s",
    "bronze.bytes_per_record",
    "silver.self_s",
    "silver.rows_written_per_row_in",
    "catalog.merge_s",
    "catalog.files_rewritten",
    "catalog.files_untouched",
    "catalog.write_amplification",
    "catalog.delete_insert_s",
    "catalog.register_all_s",
    "catalog.read_s",
    "gold.run_job_s",
    "plans.validate_us",
    "plans.rewrite_us",
    "plans.transpile_us",
    "plans.analyze_ms",
    "plans.execute_ms",
    "serving.overhead_ms",
    "serving.response_bytes",
    "serving.truncated_ratio",
)


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for part, unit in (("_ms", "ms"), ("_us", "us"), ("_s", "s"), ("_bytes", "B")):
        if name.endswith(part) or f"{part}_p" in name:
            return unit
    return "count" if name.rsplit(".", 1)[-1] in (
        "jobs", "tasks", "failed_tasks", "files_rewritten", "files_untouched"
    ) else "ratio"


def layer_names() -> list[str]:
    from perfbench.trace import SPARK_COUNTERS

    return list(LAYER_NAMES) + [
        f"spark.{k}.{c}" for k in SPARK_KINDS for c in SPARK_COUNTERS
    ]


class Ctx:
    """What a workload gets: session, job groups/spans, seed, sizes."""

    def __init__(self, spark, ops, seed, seconds, traced, lake_root, start_s):
        self.spark, self.ops = spark, ops
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.lake_root = lake_root
        self.setup_s = None
        self.measure_t0 = None
        self.phases = {"session_start": start_s}

    @contextmanager
    def phase(self, name: str):
        """Time one step of set-up or checking, for the record."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t

    def mark_setup(self) -> None:
        """Set-up ends here: the next operation is measured."""
        self.setup_s = time.perf_counter() - T_START
        self.measure_t0 = time.time()

    def _root_kinds(self) -> dict[int, str]:
        return {
            s["id"]: s["name"][3:]
            for s in self.ops.spans
            if s["parent"] is None and s["name"].startswith("op.")
        }

    def spans(self, name: str, kind: str | None = None, self_time: bool = False,
              ops: set[int] | None = None):
        """Durations (or self times) of the measured spans ``name``,
        optionally only those inside operations of type ``kind`` or
        inside the operations ``ops`` (root span ids)."""
        kinds = self._root_kinds()
        selfs = self.ops.self_times() if self_time else None
        return [
            selfs[s["id"]] if self_time else s["end"] - s["start"]
            for s in self.ops.spans
            if s["name"] == name
            and s["start"] >= self.measure_t0
            and (kind is None or kinds.get(s["op"]) == kind)
            and (ops is None or s["op"] in ops)
        ]

    def plans_layers(self, ops: set[int] | None = None) -> dict:
        """``plans.*`` per served query, over all measured queries or
        the operations ``ops``."""
        q = max(1, len(self.spans("op.query", ops=ops)))

        def per_query(name, scale, self_time=False):
            return scale * sum(self.spans(name, "query", self_time, ops)) / q

        return {
            "plans.validate_us": per_query("plans.validate", 1e6),
            "plans.rewrite_us": per_query("plans.rewrite", 1e6),
            "plans.transpile_us": per_query("plans.transpile", 1e6),
            "plans.analyze_ms": per_query("plans.dataframe", 1e3, True),
            "plans.execute_ms": per_query("plans.query", 1e3, True),
        }

    def plans_by_class(self, sql_class: dict[str, str]) -> dict:
        """``plans.*`` per query class, from the SQL each served query
        ran (recorded on its root span)."""
        ids: dict[str, set[int]] = {}
        for s in self.ops.spans:
            if s["name"] == "op.query" and s.get("sql") in sql_class:
                ids.setdefault(sql_class[s["sql"]], set()).add(s["id"])
        return {c: self.plans_layers(v) for c, v in sorted(ids.items())}

    def common_layers(self) -> dict:
        q = max(1, len(self.spans("op.query")))
        out = {
            "catalog.register_all_s": sum(self.ops.by_name("catalog.register_all")),
            "catalog.read_s": sum(self.spans("catalog.read")) / q,
            **self.plans_layers(),
        }
        for kind in SPARK_KINDS:
            for k, v in self.ops.spark_per_op(kind, self.measure_t0).items():
                out[f"spark.{kind}.{k}"] = v
        return out


def cpu_ticks() -> list[int]:
    """Whole-machine CPU ticks from ``/proc/stat`` (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def host_stamp(cpus: str) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cpus,
        "launch_load_1m": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"no serverless_data_lake_spark package beside {HERE}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
            # the launcher JVM that spark-submit starts first: no
            # hsperfdata file under the system /tmp either
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    time.tzset()
    sys.path.insert(0, ROOT)
    stamp = host_stamp(cpus)
    ticks0 = cpu_ticks()

    from perfbench import pipeline, serve
    from perfbench.trace import Ops
    from serverless_data_lake_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    ops = Ops(spark, traced=bool(args.trace))
    ctx = Ctx(spark, ops, args.seed, args.seconds, bool(args.trace),
              os.path.join(work, "lake"), start_s)
    try:
        out = {"lake_pipeline": pipeline, "lake_serve": serve}[args.workload].run(ctx)
        span_check = ops.check_spans() if args.trace else None
    finally:
        ops.unwrap_all()
        stop_spark(spark)

    ctx.phases["total"] = time.perf_counter() - T_START
    attempted, failed = out["attempted"], out["failed"]
    e2e = {"setup_s": ctx.setup_s, **out["e2e"], "failed_op_ratio": failed / attempted}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "SF": None,
        "host": {
            **stamp,
            "end_load_1m": os.getloadavg()[0],
            # share of CPU time the hypervisor gave to other guests
            "steal_share": steal_share(ticks0, cpu_ticks()),
        },
        "sizes": out["sizes"],
        "end_to_end": {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()},
        "checks": out["checks"],
        "phases_s": ctx.phases,
        **out.get("record", {}),
    }
    if args.trace:
        layers = dict.fromkeys(layer_names(), 0.0)
        layers["session.start_s"] = start_s
        layers.update(out["layers"])
        traces = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        record["span_check"] = span_check
        ops.dump(path, {"record": record, "layers": layers})
        record["trace_file"] = os.path.relpath(path, ROOT)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        gate = {"setup_s": ctx.setup_s, **out["gate"]}
        metrics = {k: {"value": gate[k], "unit": u} for k, u in GATE.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
