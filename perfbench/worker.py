"""The measured process: one Spark session, one workload, whole rounds.

Started by ``run.py`` with the inputs and expected answers already on
disk. Times set-up from the process start handed over in
``PERFBENCH_T0``, then runs the workload's operations in rounds: the
first round in the fresh session is the cold round, the WARM_ROUNDS
after it are warm. Every operation's output is checked after its timer
stops; the cache is cleared between operations, outside the timer.
Writes one JSON result file; ``run.py`` prints the benchmark's result
line from it.

Usage: worker.py WORKLOAD DATA_DIR SECONDS TRACE RESULT_JSON
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))

from pyspark.sql import SparkSession  # noqa: E402

import checks  # noqa: E402

from hadoop_2_10_0_src_mapreduce_spark.plans.registry import all_queries  # noqa: E402
from hadoop_2_10_0_src_mapreduce_spark.session import get_spark  # noqa: E402

from workloads import QUERIES, WARM_ROUNDS  # noqa: E402

perf = time.perf_counter


@dataclass
class Op:
    name: str
    # returns (plan build seconds, action seconds, output)
    run: Callable[[], tuple[float, float, object]]
    check: Callable[[object], str | None]


def _query_op(spark: SparkSession, name: str, fn, data_dir: str, want: dict) -> Op:
    def run():
        t0 = perf()
        df = fn(spark, data_dir)
        t1 = perf()
        rows = df.collect()
        return t1 - t0, perf() - t1, (df.columns, rows)

    return Op(name, run, lambda out: checks.check_frame(out[0], out[1], want))


def run_rounds(ops: list[Op], before_op, after_op) -> dict:
    """One cold round of ``ops``, then WARM_ROUNDS warm rounds.

    An operation that raises or whose output fails its check counts as
    failed; a wrong output also counts in ``wrong``. ``cold_s`` sums the
    cold round's operation times, ``warm_s`` each operation's minimum
    over the warm rounds, so that one operation's spike in one round
    does not show."""
    times: dict[str, list[float]] = {op.name: [] for op in ops}
    round_walls: list[float] = []
    round_layers: list[dict] = []
    attempted = failed = wrong = 0
    for r in range(1 + WARM_ROUNDS):
        r0 = perf()
        layers: dict = {}
        for op in ops:
            attempted += 1
            label = f"r{r}:{op.name}"
            before_op(label)
            w0 = time.time()
            try:
                build_s, action_s, out = op.run()
            except Exception:  # noqa: BLE001 - counted as a failed operation
                failed += 1
                print(f"[perfbench] {label} raised:\n{traceback.format_exc()}",
                      file=sys.stderr)
                after_op(label, op, None)
                continue
            times[op.name].append(build_s + action_s)
            reason = op.check(out)
            if reason:
                failed += 1
                wrong += 1
                print(f"[perfbench] {label} wrong output: {reason}", file=sys.stderr)
            for key, v in after_op(label, op, (w0, build_s, action_s)).items():
                layers[key] = layers.get(key, 0.0) + v
        round_walls.append(perf() - r0)
        round_layers.append(layers)
    return {
        "cold_s": sum(ts[0] for ts in times.values() if ts),
        "warm_s": sum(min(ts[1:]) for ts in times.values() if len(ts) > 1),
        "attempted": attempted, "failed": failed, "wrong": wrong,
        "rounds": len(round_walls), "round_walls": round_walls, "op_times": times,
        "round_layers": round_layers,
    }


def main() -> int:
    workload, data_dir, seconds, trace, result_path = sys.argv[1:6]
    seconds, trace = float(seconds), trace == "1"
    with open(os.path.join(data_dir, f"expected-{workload}.json")) as f:
        want = json.load(f)

    t = time.time()
    spark = get_spark(f"perfbench-{workload}",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    t_ready = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    setup_s = time.time() - T0
    print(f"[perfbench] set-up {setup_s:.2f}s: get_spark {t_ready - t:.2f}, "
          f"first job {time.time() - t_ready:.2f}", file=sys.stderr)

    tracer = None
    if trace:
        from spans import Tracer
        tracer = Tracer(spark)
        tracer.span("session", T0, T0 + setup_s, None)
        tracer.span("session.get_spark", t, t_ready, "session")

    fns = all_queries()
    ops = [_query_op(spark, n, fns[n], data_dir, want[n]) for n in QUERIES[workload]]

    def after_op(label: str, op: Op, timing) -> dict:
        """Counters of one operation (traced runs); clears the cache."""
        if not tracer:
            spark.catalog.clearCache()
            return {}
        c = tracer.end(label)
        if timing:
            w0, build_s, action_s = timing
            tracer.span(label, w0, w0 + build_s + action_s, None)
            tracer.span(f"{label}:plan", w0, w0 + build_s, label)
            tracer.span(f"{label}:action", w0 + build_s, w0 + build_s + action_s, label)
            c.update(build_s=build_s, action_s=action_s)
            c[f"op.{op.name}.s"] = build_s + action_s
        return c

    def before_op(label: str) -> None:
        if tracer:
            tracer.begin(label)

    t_meas = perf()
    result = run_rounds(ops, before_op, after_op)
    if perf() - t_meas > seconds:
        print(f"[perfbench] the rounds took {perf() - t_meas:.1f}s, "
              f"more than --seconds {seconds:g}", file=sys.stderr)
    result["setup_s"] = setup_s
    round_layers = result.pop("round_layers")
    if tracer:
        warm_layers = round_layers[1:]
        keys = sorted({k for lay in warm_layers for k in lay})
        per_layer = {k: statistics.median(lay.get(k, 0.0) for lay in warm_layers)
                     for k in keys}
        per_layer["get_spark_s"] = t_ready - t
        result["per_layer"] = per_layer
        tracer.write(result_path.replace(".json", ".trace.json"),
                     {"workload": workload, "result": result,
                      "rounds": round_layers})
    spark.stop()
    with open(result_path, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
