"""Cron-job benchmark for dawis_spark: set-up, cold and warm time of one
workload, with outputs checked against an oracle.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The command generates the workload's inputs
from the seed, starts one fresh Python process that runs the workload the
way a scheduled dawis job would (``cronjob.py``), checks its outputs and
prints one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end times (``setup_s``,
``cold_s``, ``warm_s``); with ``--trace 1`` Spark's event log is on and the
metrics are the per-layer figures, and a per-query breakdown goes to
stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170
MB = 1e6

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import fold  # noqa: E402
from workloads import HTML_MODULES, WORKLOADS, operation_settings, urlsets  # noqa: E402


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """name -> unit of the end-to-end and of the per-layer metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def query_inputs(w, seed: int) -> str:
    """Directory of the workload's ten input tables for ``seed``; made once
    per (sizes, seed) and reused."""
    d = os.path.join(HERE, ".cache", "data", f"sf{w.sf}-d{w.documents}-e{w.embeddings}-s{seed}")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        datagen.write_tables(d, seed, datagen.table_sizes(w.sf, w.documents, w.embeddings))
        open(os.path.join(d, "_COMPLETE"), "w").close()
    return d


def operation_inputs(w, seed: int, run_dir: str, settings: dict) -> tuple[str, dict, list]:
    """Warehouse with the first tick's staging documents for every urlset
    the modules are configured for; later ticks' files wait under pending/
    and are moved in tick by tick."""
    import pyarrow.parquet as pq

    html_urlsets = urlsets(settings, HTML_MODULES)
    robots_urlsets = urlsets(settings, ("robotstxt",))
    wh = os.path.join(run_dir, "warehouse")
    pending: dict[str, list] = {}
    records: list[dict] = []
    for t in range(w.max_new_ticks + 1):
        target = wh if t == 0 else os.path.join(run_dir, "pending", f"tick{t}")
        batches = [("staging_html", u, datagen.html_documents(
            seed, u, t, w.html_docs if t == 0 else w.html_docs_new)) for u in html_urlsets]
        batches += [("staging_robotstxt", u, datagen.robots_documents(
            seed, u, t, w.robots_docs if t == 0 else w.robots_docs_new)) for u in robots_urlsets]
        for table, urlset, (arrow, recs) in batches:
            fname = f"tick{t}-{urlset}.parquet"
            os.makedirs(os.path.join(target, table), exist_ok=True)
            pq.write_table(arrow, os.path.join(target, table, fname))
            if t:
                pending.setdefault(str(t), []).append(
                    (os.path.join(target, table, fname), os.path.join(wh, table, fname))
                )
            records.extend(recs)
    return wh, pending, records


def stop_group(proc: subprocess.Popen) -> None:
    """End the child's process group (the JVM and Python workers it
    started) and wait until no member is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_child(spec: dict, run_dir: str) -> dict:
    spec_path = os.path.join(run_dir, "spec.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    log_path = os.path.join(run_dir, "child.log")
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "cronjob.py"), spec_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
            proc.wait()
    if code != 0 or not os.path.exists(spec["result"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"cron job {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(spec["result"]) as fh:
        return json.load(fh)


def check_operations(res: dict, records: list, settings: dict) -> bool:
    """Every tick appended exactly the checks its own new documents
    call for, and nothing for documents of earlier ticks."""
    ticks = len(res["ticks"])
    got: dict = {}
    for tick, urlset, check, valid, n in res["check_counts"]:
        got.setdefault(tick, {}).setdefault((urlset, check), [0, 0])[0 if valid else 1] += n
    for t in range(ticks):
        want = datagen.expected_checks([r for r in records if r["tick"] == t], settings)
        if got.pop(t, {}) != want:
            return False
        if sum(res["ticks"][t]["appended"].values()) != sum(map(sum, want.values())):
            return False
    return not got


def layer_metrics(w, res: dict, groups: dict, names) -> dict:
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    m = dict.fromkeys(names, 0.0)
    m["session.get_spark_s"] = res["get_spark_s"]

    def named(name, parent_name=None):
        return [s for s in spans if s["name"] == name and (
            parent_name is None or by_id[s["parent"]]["name"] == parent_name)]

    def per_run(name: str, runs: int) -> fold.GroupStats:
        s = groups.get(name, fold.GroupStats())
        scaled = fold.GroupStats()
        for k in fold.GroupStats.SUMMED:
            setattr(scaled, k, getattr(s, k) / runs)
        return scaled

    if w.kind == "queries":
        m["catalog.register_testdata_s"] = res["register_testdata_s"]
        execs, python_sent = fold.GroupStats(), 0
        for q, r in res["queries"].items():
            (build,) = named("build", q)
            g = groups.get(f"{q}.build", fold.GroupStats())
            m["queries.build_s"] += r["build_s"]
            m["queries.build_jobs"] += g.jobs
            m["queries.build_executor_cpu_ms"] += g.cpu_ms
            m["queries.build_self_s"] += fold.self_time(build, g.job_intervals)
            m["plan.s"] += r["plan_s"]
            for k, v in r["plan"].items():
                m[f"plan.{k}"] += v
            m["exec.cache_mb"] += r["cache_bytes"] / MB
            m["exec.cold_s"] += r["exec_cold_s"]
            execs.add(per_run(f"{q}.exec_warm", len(r["warm"])))
            # warm runs read persisted relations; Python work happens cold
            python_sent += g.python_sent_bytes + groups.get(
                f"{q}.exec_cold", fold.GroupStats()).python_sent_bytes
        m["exec.warm_s"] = res["warm_s"]
    else:
        cold = res["ticks"][0]
        for mod, secs in cold["modules"].items():
            m[f"runner.run_operation_s.{mod}"] = secs
        execs = fold.total(groups, lambda n: n.endswith(".tick0"))
        m["runner.jobs"] = execs.jobs
        m["runner.checks_appended"] = sum(cold["appended"].values())
        tick0 = named("tick0")[0]
        m["catalog.warehouse_write_s"] = sum(
            s["end"] - s["start"] for s in named("catalog.warehouse_write")
            if tick0["start"] <= s["start"] <= tick0["end"]
        )
        m["catalog.bytes_written_mb"] = execs.output_bytes / MB
        m["exec.cold_s"] = res["cold_s"]
        m["exec.warm_s"] = res["warm_s"]
        python_sent = execs.python_sent_bytes
    m["exec.python_sent_mb"] = python_sent / MB
    m["exec.stages"] = execs.stages
    m["exec.tasks"] = execs.tasks
    m["exec.task_wait_ms"] = execs.task_wait_ms
    m["exec.executor_run_ms"] = execs.run_ms
    m["exec.executor_cpu_ms"] = execs.cpu_ms
    m["exec.gc_ms"] = execs.gc_ms
    m["exec.shuffle_write_mb"] = execs.shuffle_write_bytes / MB
    m["exec.shuffle_read_mb"] = execs.shuffle_read_bytes / MB
    m["exec.spill_mb"] = execs.spill_bytes / MB
    m["exec.input_rows"] = execs.input_rows
    if set(m) != set(names):
        raise KeyError(f"per-layer metrics not in BENCHMARK.json: {sorted(set(m) - set(names))}")
    return m


def breakdown(res: dict, groups: dict) -> dict:
    """The traced run's end-to-end times (for the tracing overhead), JVM
    peak RSS and per-query (or per-tick) layer split, for stderr."""
    out = {k: res[k] for k in ("setup_s", "cold_s", "warm_s", "jvm_peak_rss_mb")}
    if "queries" in res:
        out["queries"] = {
            q: {k: r[k] for k in ("build_s", "plan_s", "exec_cold_s", "cold_s", "rows")}
            | {"warm_median_s": statistics.median(r["warm"]),
               "build_jobs": groups.get(f"{q}.build", fold.GroupStats()).jobs}
            for q, r in res["queries"].items()}
    else:
        out["ticks"] = {f"tick{t['tick']}": t["modules"] for t in res["ticks"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="dawis_spark cron-job benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "dawis_spark")):
        print(f"no dawis_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    w = WORKLOADS[args.workload]
    end_to_end, per_layer = declared_metrics()
    units = per_layer if args.trace else end_to_end
    run_dir = os.path.join(HERE, ".runs", f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = {
        "workload": w.name, "root": ROOT, "seconds": args.seconds,
        "trace": bool(args.trace),
        "result": os.path.join(run_dir, "result.json"), "spark_conf": {},
    }
    if args.trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        spec["spark_conf"] = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    try:
        if w.kind == "queries":
            from oracles import oracle_results

            spec["data_dir"] = query_inputs(w, args.seed)
            spec["oracles"] = oracle_results(w.queries, spec["data_dir"])
        else:
            settings = operation_settings(ROOT, w)
            spec["config"] = os.path.join(ROOT, w.config)
            spec["warehouse"], spec["pending"], records = operation_inputs(
                w, args.seed, run_dir, settings)
        res = run_child(spec, run_dir)
        correct = res["correct"] if w.kind == "queries" else check_operations(res, records, settings)
        if args.trace:
            (log,) = os.listdir(events)
            groups = fold.fold_events(fold.read_event_log(os.path.join(events, log)))
            values = layer_metrics(w, res, groups, per_layer)
            print(json.dumps(breakdown(res, groups)), file=sys.stderr)
        else:
            values = {k: res[k] for k in end_to_end}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
