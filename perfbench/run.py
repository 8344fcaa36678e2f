"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_batch|corpus_ops
                             --seed N --seconds S --trace 0|1

Run from the repository root. Generates the seed's inputs and expected
answers (untimed, cached under .perfbench/inputs), starts
``worker.py`` in a fresh process with the run's environment, waits
until every process of its tree has ended, removes the run's scratch
directories and
prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from workloads import WORKLOADS

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "hadoop_2_10_0_src_mapreduce_spark"
DEADLINE_S = 150  # the worker is killed after this, counted from START
DRIVER_MEM = "2g"

# per-layer metric name -> (key in the worker's per_layer dict, unit)
PER_LAYER = {
    "session.get_spark_s": ("get_spark_s", "s"),
    "plans.build_s": ("build_s", "s"),
    "operators.action_s": ("action_s", "s"),
    "operators.jobs": ("jobs", "count"),
    "operators.stages": ("stages", "count"),
    "operators.tasks": ("tasks", "count"),
    "operators.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "operators.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "operators.task_run_s": ("task_run_s", "s"),
    "operators.task_cpu_s": ("task_cpu_s", "s"),
    "operators.gc_s": ("gc_s", "s"),
    "operators.cache_entries_left": ("cache_entries_left", "count"),
    "operators.persistent_rdds_left": ("persistent_rdds_left", "count"),
    "functions.python_rows": ("python_rows", "count"),
    "functions.python_bytes_out": ("python_bytes_out", "bytes"),
    "functions.python_bytes_in": ("python_bytes_in", "bytes"),
    "sources.input_bytes": ("input_bytes", "bytes"),
    "sources.input_records": ("input_records", "count"),
    "sources.output_bytes": ("output_bytes", "bytes"),
    "sources.files_written": ("files_written", "count"),
}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, start time) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(fields[1]), int(fields[19]))
    return out


class ProcessTree:
    """Remembers every descendant of a process (the PySpark daemon moves
    to its own process group), so that none outlives the run."""

    INTERVAL = 1.0  # seconds between scans of /proc

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.seen: dict[int, int] = {}  # pid -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        # descendants of the root, plus ones seen before whose parent
        # has already exited
        todo = [self.root] + [p for p, st in self.seen.items()
                              if p in table and table[p][1] == st]
        tree: set[int] = set()
        while todo:
            pid = todo.pop()
            if pid in tree or pid not in table:
                continue
            tree.add(pid)
            todo.extend(children.get(pid, ()))
        for pid in tree:
            self.seen.setdefault(pid, table[pid][1])

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def alive(self) -> list[int]:
        table = _proc_table()
        return [p for p, st in self.seen.items()
                if p in table and table[p][1] == st]

    def end_all(self, grace: float = 5.0) -> None:
        """Wait for every process seen to exit; signal the stragglers."""
        t = time.time()
        sig = None
        while True:
            left = self.alive()
            if not left:
                return
            waited = time.time() - t
            if waited > grace and sig is None:
                sig = signal.SIGTERM
            if waited > 2 * grace:
                sig = signal.SIGKILL
            if waited > 3 * grace:
                raise RuntimeError(f"processes {left} did not exit")
            for pid in left if sig else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def _run_worker(args, data_dir, run_dir, result_path, traces, env) -> dict | None:
    """Runs the worker, waits for its whole process tree, returns its result."""
    t_start = time.time()
    steal0, total0 = _cpu_ticks()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
         data_dir, str(args.seconds), str(args.trace), result_path],
        cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    tree = ProcessTree(proc.pid)
    try:
        proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - START)))
    except subprocess.TimeoutExpired:
        print("perfbench: worker overran its deadline; stopping it", file=sys.stderr)
    finally:
        tree.sample()
        tree.stop()
        if proc.poll() is None:
            for pid in tree.alive():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            proc.wait()
        t_exit = time.time()
        tree.end_all()
    steal1, total1 = _cpu_ticks()
    print(f"[perfbench] inputs {t_start - START:.2f}s, worker {t_exit - t_start:.2f}s, "
          f"process exit {time.time() - t_exit:.2f}s, host steal "
          f"{100 * (steal1 - steal0) / max(1, total1 - total0):.0f}% of CPU time",
          file=sys.stderr)

    result = None
    if proc.returncode == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
        trace_file = result_path.replace(".json", ".trace.json")
        if os.path.exists(trace_file):
            shutil.move(trace_file, os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops the processes it started (finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from prepare import prepare

    state_dir = os.path.join(ROOT, ".perfbench")
    data_dir = prepare(state_dir, args.seed, args.workload)
    run_dir = os.path.join(state_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(run_dir, sub))
    result_path = os.path.join(run_dir, "result.json")
    traces = os.path.join(state_dir, "traces")
    os.makedirs(traces, exist_ok=True)

    ncpu = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        # no hsperfdata file under /tmp: the run writes only in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                             "-XX:-UsePerfData",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PERFBENCH_T0": repr(time.time()),
    })
    try:
        result = _run_worker(args, data_dir, run_dir, result_path, traces, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print("perfbench: the worker ended without a result", file=sys.stderr)
        return 1

    if args.trace:
        layers = result["per_layer"]
        metrics = {name: {"value": float(layers.get(key, 0.0)), "unit": unit}
                   for name, (key, unit) in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": result["setup_s"], "unit": "s"},
            "cold_s": {"value": result["cold_s"], "unit": "s"},
            "warm_s": {"value": result["warm_s"], "unit": "s"},
        }
    print(f"perfbench: {args.workload} seed {args.seed}: {result['rounds']} rounds, "
          f"walls {[round(w, 2) for w in result['round_walls']]}, "
          f"run {time.time() - START:.1f}s", file=sys.stderr)
    for name, ts in result["op_times"].items():
        print(f"  {name:28s} {' '.join(f'{x:6.2f}' for x in ts)}", file=sys.stderr)
    print(json.dumps({
        "correct": result["wrong"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
