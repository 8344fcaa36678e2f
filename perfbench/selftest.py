"""Shows that the benchmark's output checks can fail.

Feeds the worker's round loop with operations whose outputs are the
independent answers themselves (DuckDB rows) and with corrupted copies
of them: one dropped row, one perturbed value. The correct output must
pass; each corrupted one must be counted as a failed operation in every
round. Starts no Spark session.

    python3 perfbench/selftest.py [--seed N]     (from the repository root)

Exits 0 when every case behaves as described.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.getcwd())

import duckdb  # noqa: E402

from prepare import prepare  # noqa: E402
from workloads import REGISTRY_TABLES  # noqa: E402
from worker import Op, _query_op, run_rounds  # noqa: E402

QUERY = "flagship_pricing_join"


class Frame:
    """Stands in for a DataFrame: fixed columns and rows."""

    def __init__(self, cols, rows):
        self.columns, self._rows = list(cols), rows

    def collect(self):
        return self._rows


def _perturb(row: tuple) -> tuple:
    for i, v in enumerate(row):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return row[:i] + (v + 1,) + row[i + 1:]
    raise ValueError("row has no numeric cell")


def sql_cases(data_dir: str, want: dict) -> list[tuple[Op, bool]]:
    from hadoop_2_10_0_src_mapreduce_spark.plans.registry import all_oracle_sql

    con = duckdb.connect()
    for t in REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    rel = con.sql(all_oracle_sql()[QUERY])
    cols, rows = list(rel.columns), rel.fetchall()
    con.close()
    variants = {
        "correct": (rows, True),
        "dropped_row": (rows[1:], False),
        "perturbed_value": ([_perturb(rows[0])] + rows[1:], False),
    }
    return [
        (_query_op(None, f"{QUERY}:{name}",
                   lambda _s, _d, r=r: Frame(cols, r), data_dir, want[QUERY]), ok)
        for name, (r, ok) in variants.items()
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    state = os.path.join(os.getcwd(), ".perfbench")
    sql_dir = prepare(state, args.seed, "sql_batch")
    with open(os.path.join(sql_dir, "expected-sql_batch.json")) as f:
        sql_want = json.load(f)

    ok = True
    for op, should_pass in sql_cases(sql_dir, sql_want):
        res = run_rounds([op], lambda _l: None, lambda *_a: {})
        passed = res["failed"] == 0
        counted = res["failed"] == res["attempted"] == res["wrong"]
        good = passed if should_pass else counted
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {op.name}: attempted {res['attempted']}, "
              f"failed {res['failed']} (expected {'none' if should_pass else 'all'})")
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
