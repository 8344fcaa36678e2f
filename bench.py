"""Benchmark harness (driver-run per round → BENCH_r{N}.json).

Runs the registered headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end through the 'noop' sink (full compute,
no driver collect — the honest way to time a distributed plan). Session
startup and a one-query JVM warmup are excluded from the metric.

Host weather is estimated OUTSIDE the bench JVM: tools/weather_probe.py
runs as its own OS process (no JVM, own interpreter) executing a
deterministic 1-thread CPU+memory workload. The bench triggers a short
burst from it in the idle gaps between timed queries — every 10
queries in each pass, every 4 re-timed queries, every 4 branch timings
— so it samples the moments the queries ran in without competing with
any timed execution. (A probe free-running through the window read
3.4-9x while queries ran: the bench's own wide stages saturate the box,
and a probe cannot tell legitimate bench CPU from host contention.)
Because the probe shares nothing with the session, a slowdown caused by
the code — GC or cache pressure building up inside the JVM — shows in
the query numbers and not in the weather, so it is never normalized
away. The JSON carries ``external_control`` (legs, per-phase medians,
the min-across-passes weather), ``external_weather_ratio`` and
``r3_equivalent_normalized_ext`` = r3_equivalent_total with each slice
divided by the weather of the phase that measured it. If the probe
cannot start, or a burst fails, those fields are simply absent and the
raw numbers stand. Known bias: a 1-wide probe can read box-wide
contention somewhat differently than wide Spark stages, so the ratio is
evidence for adjudicating a stormy window, not a verdict by itself.

The cache is cleared at every query-slot boundary (see the pass loop),
so each timed execution computes from the parquet inputs with a clean
cache; OPTIMIZATION_r13.md §2 records a window under each semantics.
THE GATE IS THE RAW NUMBER: ``r3_equivalent_total`` is what gets diffed
against the frozen 40.32 bar (``sf1_equivalent_total`` against 192.18
at sf1); the normalized figure is secondary evidence.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Per-branch attribution (round-5 measurement fix): query slots that
# accumulated new hash-checked strategies after round 3 are unionByName
# legs tagged by a literal column, so filtering on that literal lets
# Catalyst prune the other legs (constant-false filters eliminate union
# children) and time each strategy separately. Map: query -> (tag
# column, {branch: existed_at_r3}). Branch timings share the main
# passes' steady-state cache semantics (persisted intermediates are
# warm — exactly how the r3 full-slot numbers were measured), so the
# r3-branch subset sums are directly comparable to BENCH_r03 values.
BRANCHED: dict[str, tuple[str, dict[str, bool]]] = {
    "dedup_exact": ("branch", {
        "exact": True, "winnow": False, "incr": False,
        "xgram": False, "xspan": False, "xcut": False, "lines": False,
    }),
    "dedup_ngram_jaccard": ("branch", {"plain": True, "prefix": False}),
    "dedup_minhash_lsh": ("branch", {"pairs": True, "clusters": False}),
    "dedup_simhash": ("branch", {"pairs": True, "lpairs": False}),
    "sim_near_dup_embeddings": ("branch", {"pairs": True, "semdedup": False}),
    "sim_ann_ivf": ("branch", {"ivf": True, "ivfpq": False}),
    "text_fingerprint_rollup": ("branch", {
        "rollup": True, "decontam": False, "split": False,
        "gsplit": False, "chunk": False,
    }),
    "sessionize_reduce": ("branch", {
        "session": True, "cogroup": False, "funnel": False,
        "afunnel": False,
    }),
    "join_asof": ("mode", {"asof": True, "range": False, "overlap": False}),
    # (sim_ann_ivf's 'ivf' is the r3-era strategy; 'ivfpq' is new in r7)
    "window_tumbling_sliding": ("mode", {
        "tumbling": True, "sliding": True,
        "lag1": False, "mavg3": False, "cume": False, "prank": False,
    }),
}

# The FROZEN sf1 bar (round 6): SCALING_r6.json measured 192.18 s for
# the full 50-query registry at fixtures/sf1 (min-of-3, quiet window).
# Query slots that grew branches AFTER that freeze are excluded from
# sf1_equivalent_total via this set, so a bench run at sf1 emits a
# number directly diffable against the frozen bar — the same
# like-for-like discipline as r3_equivalent_total at sf0.1.
SF1_FROZEN_BAR = 192.18
NEW_SINCE_SF1_FREEZE: set[tuple[str, str]] = {
    ("sim_ann_ivf", "ivfpq"),
    ("sessionize_reduce", "afunnel"),
    ("dedup_simhash", "lpairs"),
}


class ExternalProbe:
    """Client for the out-of-process weather sampler
    (tools/weather_probe.py --serve; see the module docstring).
    burst(phase) is called in the idle gaps between timed queries.
    Failure-proof by design: if a burst fails the probe retires itself
    and finish() summarizes the bursts taken before; if none were taken
    (the probe could not start) finish() returns None, the JSON lacks
    the external fields and the raw numbers stand. The bench never
    breaks on account of its instrumentation."""

    def __init__(self):
        #: phase -> list of per-burst medians (one entry per leg)
        self.legs: dict[str, list[float]] = {}
        self.proc = None
        try:
            import subprocess

            self.proc = subprocess.Popen(
                [
                    sys.executable,
                    os.path.join(
                        os.path.dirname(os.path.abspath(__file__)),
                        "tools", "weather_probe.py",
                    ),
                    "--serve",
                ],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL,
                text=True,
            )
        except Exception:
            self.proc = None
        if self.proc is not None:
            import atexit

            atexit.register(self._kill)  # no orphan if the bench dies

    def _kill(self) -> None:
        try:
            if self.proc is not None and self.proc.poll() is None:
                self.proc.terminate()
        except Exception:
            pass

    def burst(self, phase: str) -> None:
        """One external leg: trigger a burst, record its median under
        ``phase``. Blocking by design (~1.2 s) — the session is idle
        and no timed query is running."""
        if self.proc is None:
            return
        try:
            self.proc.stdin.write("go\n")
            self.proc.stdin.flush()
            line = self.proc.stdout.readline()
            samples = json.loads(line)["samples"]
            self.legs.setdefault(phase, []).append(
                round(statistics.median(samples), 4)
            )
        except Exception:
            self._kill()
            self.proc = None  # a broken probe must not stall the bench

    def finish(self) -> dict | None:
        if self.proc is not None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=10)
            except Exception:
                self._kill()
        if not self.legs:
            return None
        from tools.weather_probe import EXT_REF_SEC

        # per-phase MEDIAN of the leg medians (a phase is stormy if its
        # typical leg moment is — a lone lucky burst must not whitewash
        # it), MIN across the main passes (each query's number comes
        # from its luckiest pass); the branch phase runs last and keeps
        # its own factor. Ratios < 1 are clamped: a window luckier than
        # the calibration floor must not deflate the reported number.
        phase_medians = {
            p: round(statistics.median(ls), 4) for p, ls in self.legs.items()
        }
        main_meds = [
            v for p, v in phase_medians.items() if p.startswith("pass")
        ]
        branch_meds = [
            v for p, v in phase_medians.items() if p.startswith("branch")
        ]
        if not main_meds:
            main_meds = branch_meds
        ext_weather = max(1.0, min(main_meds) / EXT_REF_SEC)
        ext_branch = (
            max(1.0, min(branch_meds) / EXT_REF_SEC) if branch_meds
            else ext_weather
        )
        return {
            "n_legs": sum(len(ls) for ls in self.legs.values()),
            "ref_sec": EXT_REF_SEC,
            "legs": self.legs,
            "phase_medians": phase_medians,
            "weather_ratio": round(ext_weather, 3),
            "branch_weather_ratio": round(ext_branch, 3),
        }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from hadoop_2_10_0_src_mapreduce_spark.plans.registry import all_queries
    from hadoop_2_10_0_src_mapreduce_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()
    probe = ExternalProbe()

    # Warmup: run the flagship once to pay JVM/codegen startup.
    warm = qs.get("flagship_pricing_join") or next(iter(qs.values()))
    warm(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Three full passes, min per query: this box shows sporadic
    # host-level contention spikes on random queries; min-of-N is the
    # standard noise-robust point estimate and every reported number is
    # still a real end-to-end execution. Rounds 1–3
    # used two passes; round 4 measured that pass 2 still carries
    # warm-up for several queries (python-worker spin-up, JIT) — e.g.
    # scan_text_roundtrips passes [3.5, 1.8, 1.7] — so a third pass
    # tightens the estimate of the SAME steady-state quantity the
    # earlier rounds were estimating; per-query minima stay comparable
    # across rounds (Appendix: SURVEY §8 r4 variance note).
    #
    # Cold-slot semantics (r13; OPTIMIZATION_r13.md records a window
    # under each): through r12, queries that persist() intermediates
    # left them in the cache manager and Spark substituted matching
    # plan fragments on the NEXT pass — so the min was a warm-cache
    # number that (a) undersold the query's real cost, (b) accumulated
    # ~50 queries' cached partitions as ambient session state, and (c)
    # let one query's cache subsidize another's timing. Now the cache
    # is CLEARED at every query-slot boundary (below, OUTSIDE the timed
    # region): every timed execution computes from the parquet inputs,
    # and the min-of-3 estimates the cold-cache cost of the query in an
    # otherwise-clean session. Within one timed execution persists
    # still work exactly as the operators intend.
    def _clear_query_state() -> None:
        spark.catalog.clearCache()

    _clear_query_state()  # warmup's leftovers must not subsidize pass 0
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for _pass in range(3):
        for qi, (name, fn) in enumerate(qs.items(), 1):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            el = round(time.time() - t0, 3)
            _clear_query_state()  # untimed: after the clock stops
            if name not in timings or el < timings[name]:
                timings[name] = el
            spreads[name] = max(spreads.get(name, el), el)
            if qi % 10 == 0:  # idle gap: sample the weather
                probe.burst(f"pass{_pass}")
        if len(qs) < 10:
            probe.burst(f"pass{_pass}")

    # Adaptive extra pass: a >30% max/min spread across the three
    # passes means contention hit at least one — those queries (only)
    # get one more real execution. Bounded extra cost, and a spike that
    # lands on every pass of a query no longer defines its number. Its
    # executions can land minima, so its weather is sampled too.
    n_retimed = 0
    for name, fn in qs.items():
        if spreads[name] > 1.3 * timings[name] and timings[name] > 0.5:
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = min(timings[name], round(time.time() - t0, 3))
            _clear_query_state()  # same cold-slot semantics as the passes
            n_retimed += 1
            if n_retimed % 4 == 0:
                probe.burst("pass_adaptive")
    if 0 < n_retimed < 4:
        probe.burst("pass_adaptive")

    # Per-branch pass: two timed executions per branch, min. The tag
    # filter prunes the other union legs, so each number is the
    # marginal steady-state cost of ONE strategy inside its slot.
    from pyspark.sql import functions as F

    branches: dict[str, dict[str, float]] = {}
    n_timed = 0
    for name, (tag_col, branch_map) in BRANCHED.items():
        if name not in qs:
            continue
        # query-slot boundary — one query's cache must not subsidize
        # another's branch timings. WITHIN the slot the branches still
        # share the slot's persisted intermediates: a branch number is
        # defined as the marginal steady-state cost of ONE strategy
        # inside its slot (above), and that definition needs the
        # shared index warm.
        _clear_query_state()
        branches[name] = {}
        for b in branch_map:
            best, worst = None, 0.0
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).where(
                    F.col(tag_col) == b
                ).write.format("noop").mode("overwrite").save()
                el = round(time.time() - t0, 3)
                best = el if best is None or el < best else best
                worst = max(worst, el)
            # same adaptive rule as the whole-slot passes: a >30%
            # spread means contention hit at least one execution
            if worst > 1.3 * best and best > 0.5:
                t0 = time.time()
                qs[name](spark, sf_dir).where(
                    F.col(tag_col) == b
                ).write.format("noop").mode("overwrite").save()
                best = min(best, round(time.time() - t0, 3))
            branches[name][b] = best
            n_timed += 1
            # the branch phase runs at the END of the window — window 6
            # measured a storm that hit ONLY this phase, so it gets its
            # own bursts and its own weather factor (≥8 per phase)
            if n_timed % 4 == 0:
                probe.burst("branch")
    if n_timed < 4:
        probe.burst("branch")

    # The like-for-like round gate: the total over exactly the work
    # that existed at round 3 — whole-slot minima for unbranched
    # queries (conservative for slots that grew non-separable columns,
    # e.g. text_token_quality) plus the r3-era branch subset for
    # branched ones. Diff THIS against BENCH_r03's 40.32 to detect
    # real regressions; `value` keeps tracking the full current
    # surface.
    r3_equiv = 0.0
    r3_equiv_branch_part = 0.0  # the slice measured in the branch phase
    for name, t in timings.items():
        if name in branches:
            _, branch_map = BRANCHED[name]
            part = sum(
                branches[name][b] for b, at_r3 in branch_map.items() if at_r3
            )
            r3_equiv += part
            r3_equiv_branch_part += part
        else:
            r3_equiv += t

    out = {
        "metric": "total_wall_sec_all_queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "branches": branches,
        "r3_equivalent_total": round(r3_equiv, 3),
        "sf": sf,
        "n_queries": len(timings),
    }
    ext = probe.finish()
    if ext is not None:
        out["external_control"] = ext
        out["external_weather_ratio"] = ext["weather_ratio"]
        # each slice divided by the weather where it was measured
        out["r3_equivalent_normalized_ext"] = round(
            (r3_equiv - r3_equiv_branch_part) / ext["weather_ratio"]
            + r3_equiv_branch_part / ext["branch_weather_ratio"],
            3,
        )
    if sf == 1:
        # like-for-like vs the frozen r6 sf1 bar: whole-slot timings,
        # except slots that grew post-freeze branches contribute only
        # their frozen branches' marginal timings
        sf1_equiv = 0.0
        for name, t in timings.items():
            new_bs = {b for (q, b) in NEW_SINCE_SF1_FREEZE if q == name}
            if new_bs and name in branches:
                sf1_equiv += sum(
                    v for b, v in branches[name].items() if b not in new_bs
                )
            else:
                sf1_equiv += t
        out["sf1_equivalent_total"] = round(sf1_equiv, 3)
        out["sf1_frozen_bar"] = SF1_FROZEN_BAR
    print(json.dumps(out))


if __name__ == "__main__":
    main()
