"""External host-weather probe — a SEPARATE OS process from the bench,
and bench.py's only weather estimator.

Why out of process: an estimator that shares the Spark session with
the queries it normalizes is inflated by a CODE-caused slowdown that
taxes the whole JVM — GC pressure from a leaked cache, a bloated cache
manager, python worker churn — exactly like host contention, and would
normalize it away. This probe runs with its own interpreter and NO
JVM: nothing the engine's code does to the bench session can touch it,
so such a slowdown stays visible in the raw query numbers.

What it measures, honestly stated: a single-threaded, deterministic
CPU + memory-bandwidth workload (sha256 over a fixed buffer + a fixed
numpy sort). Sampling design (measured): a first cut sampled on a
fixed cadence for the whole window and read weather 3.4-9x where
the between-queries samples read 1.17, because during query
execution the bench's own wide stages saturate the box and the probe
cannot tell legitimate bench CPU from host contention. So the probe is TRIGGERED
instead (``--serve`` mode): bench.py asks for a short burst in the
idle gaps between timed queries (every 10 queries per pass, every 4
branch timings). Burst cost ~1.2 s per point, outside every timed
query.

Calibration (2026-08-16, on the host that set the r12 bench
windows): EXT_REF_SEC is the MEDIAN of the quietest standalone batch
(``--calibrate``), not the single lowest sample. Re-freezing requires
a judge-visible note; the constant is part of the metric.

Usage:
    python tools/weather_probe.py --serve [--burst 3]   # triggered mode
    python tools/weather_probe.py --calibrate [N]       # floor calibration
Serve protocol (bench.py is the client): one line "go" on stdin runs
a burst of ``--burst`` back-to-back samples and answers with ONE JSON
line {"samples": [...]} on stdout; "quit" (or EOF) exits. The warmup
sample is paid once at serve start, never reported.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import sys
import time

import numpy as np

# Frozen quiet-floor for one probe sample (see module docstring).
# Calibrated 2026-08-16: three standalone 16-sample batches, medians
# 0.398 / 0.389 / 0.403 — the quietest batch's median is frozen (a
# median, because the bench's per-phase weather is a median too).
# Every batch ALSO showed periodic ~1.1-3.9 s spikes on ~every 6th
# sample (a recurring host burst a 1-thread probe resolves cleanly);
# the median is the right center for exactly that reason.
EXT_REF_SEC = 0.389

_HASH_MB = 256  # sha256 over this many MB per sample (~0.2 s quiet)
_SORT_N = 12_000_000  # float64 elements sorted per sample (~0.25 s quiet)


def _make_work() -> tuple[bytes, np.ndarray]:
    buf = (b"\xa5" * (1 << 20))
    rng = np.random.default_rng(12345)
    arr = rng.random(_SORT_N)
    return buf, arr


def probe_once(buf: bytes, arr: np.ndarray) -> float:
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(_HASH_MB):
        h.update(buf)  # releases the GIL for MB-sized buffers
    a = arr.copy()
    a.sort()  # releases the GIL
    # consume results so nothing is dead-code-eliminated
    if h.digest()[0] == 256 or a[0] > a[-1]:  # pragma: no cover
        raise AssertionError("impossible")
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    buf, arr = _make_work()
    if "--calibrate" in sys.argv:
        i = sys.argv.index("--calibrate")
        n = int(sys.argv[i + 1]) if (
            i + 1 < len(sys.argv) and sys.argv[i + 1].isdigit()
        ) else 24
        probe_once(buf, arr)  # warmup (allocator / cache settle)
        ts = []
        for _ in range(n):
            ts.append(probe_once(buf, arr))
            print(ts[-1], flush=True)
            time.sleep(0.5)
        print(json.dumps({
            "samples": ts, "min": min(ts),
            "median": round(statistics.median(ts), 4),
            "ref": EXT_REF_SEC,
        }))
        return

    # --serve (default): triggered bursts over stdin/stdout
    burst = 3
    if "--burst" in sys.argv:
        burst = int(sys.argv[sys.argv.index("--burst") + 1])
    probe_once(buf, arr)  # warmup sample, never reported
    for line in sys.stdin:
        if line.strip() in ("quit", ""):
            break
        samples = [probe_once(buf, arr) for _ in range(burst)]
        print(json.dumps({"samples": samples}), flush=True)


if __name__ == "__main__":
    main()
