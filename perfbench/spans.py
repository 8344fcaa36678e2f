"""Per-operation counters for a traced run, read from Spark's status store.

Each operation runs under its own job group. After it returns, the
listener bus is drained and the local UI's REST API is read for the
jobs of that group, their stages and the SQL executions that started
during the operation. Spans (session, plan build, action, index call)
are kept in memory and written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

# counters every operation reports (summed over its jobs / executions)
COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
    "input_records", "output_bytes", "files_written", "python_rows",
    "python_bytes_out", "python_bytes_in", "cache_entries_left",
    "persistent_rdds_left",
)

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL metric as the status store formats it: '1,234',
    '2.3 KiB', or 'total (min, med, max ...)\\n2.3 KiB (...)'."""
    line = text.split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{self.sc.applicationId}")
        self.spans: list[dict] = []
        self._exec_offset = 0
        self._skip_executions()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _skip_executions(self) -> None:
        self._drain()
        self._exec_offset += len(self._new_executions())

    def _new_executions(self) -> list:
        return self._get(f"/sql?details=true&planDescription=false"
                         f"&offset={self._exec_offset}&length=100000")

    def span(self, name: str, start: float, end: float, parent: str | None) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent})

    def _gc_ms(self) -> int:
        """Collection time so far of the driver JVM, which in local mode
        also runs every task."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def _persistent_rdds(self) -> set[int]:
        return {int(i) for i in self.sc._jsc.getPersistentRDDs().keySet()}

    def begin(self, label: str) -> None:
        self._gc_at_begin = self._gc_ms()
        self._rdds_at_begin = self._persistent_rdds()
        self.sc.setJobGroup(label, label)

    def end(self, label: str) -> dict:
        """Counters of the operation that ran under ``label``; also
        clears the cache, recording what the operation left behind:
        cache entries before ``clearCache()``, and persistent RDDs that
        the operation created and ``clearCache()`` did not release."""
        self._drain()
        c = dict.fromkeys(COUNTERS, 0.0)
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == label]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        c["jobs"] = len(jobs)
        for st in self._get("/stages?details=false"):
            if st["stageId"] not in stage_ids or st["status"] != "COMPLETE":
                continue
            c["stages"] += 1
            c["tasks"] += st["numCompleteTasks"]
            c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            c["shuffle_read_bytes"] += st["shuffleReadBytes"]
            c["task_run_s"] += st["executorRunTime"] / 1e3
            c["task_cpu_s"] += st["executorCpuTime"] / 1e9
            c["input_bytes"] += st["inputBytes"]
            c["input_records"] += st["inputRecords"]
            c["output_bytes"] += st["outputBytes"]
        c["gc_s"] = (self._gc_ms() - self._gc_at_begin) / 1e3
        execs = self._new_executions()
        self._exec_offset += len(execs)
        for ex in execs:
            for node in ex.get("nodes", []):
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                if "number of written files" in m:
                    c["files_written"] += metric_value(m["number of written files"])
                if "data sent to Python workers" in m:
                    c["python_bytes_out"] += metric_value(m["data sent to Python workers"])
                    c["python_bytes_in"] += metric_value(
                        m.get("data returned from Python workers", "0"))
                    c["python_rows"] += metric_value(m.get("number of output rows", "0"))
        c["cache_entries_left"] = self.cache_entries()
        self.spark.catalog.clearCache()
        c["persistent_rdds_left"] = len(self._persistent_rdds() - self._rdds_at_begin)
        self.sc._jsc.clearJobGroup()
        return c

    def cache_entries(self) -> int:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return field.get(cm).size()

    def write(self, path: str, payload: dict) -> None:
        payload = dict(payload, spans=self.spans, written=time.time())
        with open(path, "w") as f:
            json.dump(payload, f, indent=1)
