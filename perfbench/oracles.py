"""DuckDB oracle results, memoized on disk.

Each query's oracle SQL (``dawis_spark.queries.ORACLES``) runs on DuckDB
over the same parquet files the query reads. The result is normalized with
``tools/check_correctness.normalize`` (the repository's correctness gate)
and stored under ``perfbench/.cache/oracles/<key>.parquet``, with the
column dtype families of the raw result in ``<key>.dtypes.json``; the key
hashes the SQL text and the bytes of every input file. A changed oracle or
changed input misses the memo and is recomputed on its own.

Rebuild the memo from scratch for the query workloads and seeds 1-10:

    python3 perfbench/oracles.py [--seeds 1-10]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
MEMO = os.path.join(CACHE, "oracles")


def _file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def oracle_results(names, data_dir: str) -> dict[str, dict]:
    """Per query: ``result``, the path of its memoized, normalized oracle
    result, and ``dtypes``, the ``check_correctness.dtype_class`` of each
    column before normalizing."""
    import duckdb

    from dawis_spark.queries import ORACLES

    # imported after dawis_spark: the gate module puts its own repository
    # path first on sys.path
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import dtype_class, normalize

    tables = sorted(f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet"))
    inputs = "".join(f"{t}:{_file_digest(os.path.join(data_dir, t + '.parquet'))}\n" for t in tables)
    os.makedirs(MEMO, exist_ok=True)
    out, con = {}, None
    for name in names:
        sql = ORACLES[name]
        key = hashlib.sha256((sql + "\n" + inputs).encode()).hexdigest()
        path = os.path.join(MEMO, f"{key}.parquet")
        types_path = os.path.join(MEMO, f"{key}.dtypes.json")
        if not (os.path.exists(path) and os.path.exists(types_path)):
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            raw = con.execute(sql).fetchdf()
            tmp = f"{path}.{os.getpid()}.tmp"
            normalize(raw).to_parquet(tmp, index=False)
            os.replace(tmp, path)
            with open(tmp, "w") as fh:
                json.dump({c: dtype_class(raw[c]) for c in raw.columns}, fh)
            os.replace(tmp, types_path)
        with open(types_path) as fh:
            out[name] = {"result": path, "dtypes": json.load(fh)}
    if con is not None:
        con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10", help="a-b range of seeds")
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from run import query_inputs
    from workloads import WORKLOADS

    shutil.rmtree(MEMO, ignore_errors=True)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    for w in WORKLOADS.values():
        if w.kind != "queries":
            continue
        for seed in range(lo, hi + 1):
            oracle_results(w.queries, query_inputs(w, seed))
            print(f"{w.name} seed {seed}: {len(w.queries)} oracles", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
