"""Inputs and expected answers for one seed, made before any timing.

Query answers come from DuckDB running each query's registry oracle
SQL over the generated parquet files. They are written next to the
inputs as ``expected-<workload>.json``, once per seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import checks
import gen
from workloads import QUERIES, REGISTRY_TABLES


def _sql_expected(data_dir: str, names: list[str]) -> dict:
    import duckdb

    from hadoop_2_10_0_src_mapreduce_spark.plans.registry import all_oracle_sql

    oracles = all_oracle_sql()
    con = duckdb.connect()
    try:
        for t in REGISTRY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t + '.parquet')}'")
        out = {}
        for name in names:
            rel = con.sql(oracles[name])
            out[name] = checks.signature(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def _sources_digest() -> str:
    """Changes whenever the code that makes inputs or answers changes."""
    h = hashlib.sha1()
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("gen.py", "prepare.py", "checks.py", "workloads.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def prepare(state_dir: str, seed: int, workload: str) -> str:
    """Directory holding the inputs and ``expected-<workload>.json``."""
    data_dir = os.path.join(state_dir, "inputs", _sources_digest(),
                            f"seed-{seed}-{workload}")
    if os.path.exists(os.path.join(data_dir, f"expected-{workload}.json")):
        return data_dir
    tmp = f"{data_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.tables(seed, tmp)
    expected = _sql_expected(tmp, QUERIES[workload])
    with open(os.path.join(tmp, f"expected-{workload}.json"), "w") as f:
        json.dump(expected, f)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.replace(tmp, data_dir)
    return data_dir
