"""One scheduled dawis job, run in a fresh process by ``run.py``.

The process starts, builds a SparkSession and registers its inputs
(set-up), then runs its workload once cold and again warm, checks the
outputs and writes a JSON result. Timing is taken only around calls into
the program's public functions:

- query workloads: ``QUERIES[name](spark, sf_dir)`` (build), forcing
  ``executedPlan()`` (plan) and a run into the ``noop`` sink (execute);
- the operation workload: ``runner.run_operation`` per module and tick.

Usage (normally via run.py): python3 cronjob.py <spec.json>
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

# warm re-executions per query, at least; the median of three is not moved
# by one slow run
MIN_WARM = 3
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInArrow",
)
# a pandas dtype of each of check_correctness.dtype_class's families, to
# rebuild an empty frame with the oracle result's column types
ORACLE_DTYPES = {
    "bool": "bool", "int": "int64", "float": "float64",
    "datetime": "datetime64[ns]", "object": "object",
}


class Tracer:
    """Spans (name, start, end, parent) kept in memory. ``on`` marks the
    traced run, which also collects plan and cache figures."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, start: float) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": start, "end": None,
            "parent": self._stack[-1] if self._stack else None,
        })
        self._stack.append(sid)
        return sid

    def close(self, sid: int, end: float) -> None:
        self.spans[sid]["end"] = end
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        """Yields a one-item list that holds the block's seconds afterwards."""
        out = [0.0]
        t0 = time.time()
        sid = self.open(name, t0)
        try:
            yield out
        finally:
            t1 = time.time()
            self.close(sid, t1)
            out[0] = t1 - t0


def plan_stats(plan_text: str) -> dict:
    lines = [ln.strip(" :+-*") for ln in plan_text.splitlines() if ln.strip()]
    nodes = [ln for ln in lines if ln and ln[0].isalpha()]
    return {
        "nodes": len(nodes),
        "exchanges": sum("Exchange" in ln.split("(")[0] for ln in nodes),
        "python_nodes": sum(ln.startswith(PYTHON_NODES) for ln in nodes),
        "cached_scans": sum(ln.startswith("InMemoryTableScan") for ln in nodes),
    }


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the session's JVM, from /proc (Linux)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def finish(spark, tr: Tracer, out: dict) -> None:
    if tr.on:
        out["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    spark.stop()


def set_group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_queries(spec: dict, w, tr: Tracer, out: dict) -> None:
    with tr.span("setup.import"):
        from dawis_spark.catalog import register_testdata
        from dawis_spark.queries import QUERIES
        from dawis_spark.session import get_spark
    with tr.span("session.get_spark") as t:
        spark = get_spark("perfbench", extra_conf=spec["spark_conf"])
    out["get_spark_s"] = t[0]
    set_group(spark, "setup.register_testdata")
    with tr.span("catalog.register_testdata") as t:
        register_testdata(spark, spec["data_dir"])
    out["register_testdata_s"] = t[0]
    out["setup_s"] = time.time() - spec["t_spawn"]
    tr.close(spec["setup_span"], time.time())
    with tr.span("check.import"):
        # the checker is no part of the job; after dawis_spark, because the
        # gate module puts its own repository path first on sys.path
        import pandas as pd

        sys.path.insert(0, os.path.join(spec["root"], "tools"))
        from check_correctness import dtype_splits, normalize

    budget = spec["seconds"] / len(w.queries)
    per_query = out["queries"] = {}
    with tr.span("workload"):
        for name in w.queries:
            q = per_query[name] = {"warm": []}
            with tr.span(name):
                set_group(spark, f"{name}.build")
                with tr.span("build") as t:
                    df = QUERIES[name](spark, spec["data_dir"])
                q["build_s"] = t[0]
                set_group(spark, f"{name}.plan")
                with tr.span("plan") as t:
                    plan = df._jdf.queryExecution().executedPlan()
                q["plan_s"] = t[0]
                set_group(spark, f"{name}.exec_cold")
                with tr.span("exec_cold") as t:
                    noop(df)
                q["exec_cold_s"] = t[0]
                q["cold_s"] = q["build_s"] + q["plan_s"] + q["exec_cold_s"]
                if tr.on:
                    q["plan"] = plan_stats(plan.toString())
                    q["cache_bytes"] = cached_bytes(spark)
                set_group(spark, f"{name}.exec_warm")
                started = time.time()
                while len(q["warm"]) < MIN_WARM or time.time() - started < budget:
                    with tr.span("exec_warm") as t:
                        noop(df)
                    q["warm"].append(t[0])
                set_group(spark, f"{name}.check")
                with tr.span("check"):
                    oracle = spec["oracles"][name]
                    raw = df.toPandas()
                    # an int-vs-float split reads equal once normalized
                    q["dtype_splits"] = dtype_splits(raw, pd.DataFrame({
                        c: pd.Series(dtype=ORACLE_DTYPES[k]) for c, k in oracle["dtypes"].items()
                    }))
                    got = normalize(raw)
                    want = pd.read_parquet(oracle["result"])
                    q["rows"] = len(got)
                    q["correct"] = bool(
                        not q["dtype_splits"]
                        and list(got.columns) == list(want.columns)
                        and len(got) == len(want)
                        and got.reset_index(drop=True).equals(want.reset_index(drop=True))
                    )
                # release this query's persisted relations so the next
                # query's cold run neither reuses nor competes with them
                spark.catalog.clearCache()
    out["cold_s"] = sum(q["cold_s"] for q in per_query.values())
    out["warm_s"] = sum(statistics.median(q["warm"]) for q in per_query.values())
    out["attempted"] = sum(1 + len(q["warm"]) for q in per_query.values())
    out["correct"] = all(q["correct"] for q in per_query.values())
    finish(spark, tr, out)


def run_operations(spec: dict, w, tr: Tracer, out: dict) -> None:
    with tr.span("setup.import"):
        from pyspark.sql import functions as F

        from dawis_spark.catalog import Warehouse
        from dawis_spark.config import load_configuration
        from dawis_spark.runner import run_operation
        from dawis_spark.session import get_spark
    with tr.span("session.get_spark") as t:
        spark = get_spark("perfbench", extra_conf=spec["spark_conf"])
    out["get_spark_s"] = t[0]
    with tr.span("catalog.warehouse"):
        if tr.on:
            class TracedWarehouse(Warehouse):
                def write(self, *args, **kwargs):
                    with tr.span("catalog.warehouse_write"):
                        super().write(*args, **kwargs)

            wh = TracedWarehouse(spark, spec["warehouse"])
        else:
            wh = Warehouse(spark, spec["warehouse"])
        with open(spec["config"]) as fh:
            cfg = load_configuration(fh.read())
    out["setup_s"] = time.time() - spec["t_spawn"]
    tr.close(spec["setup_span"], time.time())

    ticks = out["ticks"] = []

    def tick(t: int) -> None:
        for src, dst in spec["pending"].get(str(t), []):
            os.replace(src, dst)
        rec = {"tick": t, "modules": {}, "appended": {}}
        with tr.span(f"tick{t}"):
            for module in w.modules:
                set_group(spark, f"{module}.tick{t}")
                with tr.span(f"run_operation.{module}") as s:
                    rec["appended"][module] = run_operation(spark, wh, cfg, module)
                rec["modules"][module] = s[0]
        rec["s"] = sum(rec["modules"].values())
        ticks.append(rec)

    with tr.span("workload"):
        tick(0)
        started = time.time()
        while len(ticks) - 1 < w.min_new_ticks or (
            time.time() - started < spec["seconds"] and len(ticks) - 1 < w.max_new_ticks
        ):
            tick(len(ticks))
        set_group(spark, "check")
        with tr.span("check"):
            checks = wh.read("checks").select(
                "urlset", "check", "valid",
                F.regexp_extract("url.path", r"^/t(\d+)/", 1).cast("int").alias("tick"),
            )
            out["check_counts"] = [
                list(r) for r in checks.groupBy("tick", "urlset", "check", "valid").count().collect()
            ]
    out["cold_s"] = ticks[0]["s"]
    out["warm_s"] = statistics.median(t["s"] for t in ticks[1:])
    out["attempted"] = len(w.modules) * len(ticks)
    finish(spark, tr, out)


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    w = WORKLOADS[spec["workload"]]
    tr = Tracer(spec["trace"])
    run_span = tr.open("run", spec["t_spawn"])
    spec["setup_span"] = tr.open("setup", spec["t_spawn"])
    out: dict = {"failed": 0}
    if w.kind == "queries":
        run_queries(spec, w, tr, out)
    else:
        run_operations(spec, w, tr, out)
    tr.close(run_span, time.time())
    out["spans"] = tr.spans
    tmp = spec["result"] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, spec["result"])


if __name__ == "__main__":
    main(sys.argv[1])
