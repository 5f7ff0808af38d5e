"""Traced-run support: spans kept in memory, Spark event-log parsing, and
the kernel phase that times the engine's numpy kernels on the workload's
own geometries.

Spans nest operation -> plan/exec (and timed sub-calls) -> Spark job ->
stage. Operation, plan and exec spans are recorded by the benchmark
around public calls; job and stage spans come from Spark's own event log,
matched to their operation through the job group the benchmark sets
before each operation.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np


class Spans:
    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._next = 0

    def add(self, name: str, start: float, end: float, parent: int | None, op_id: str, **attrs) -> int:
        sid = self._next
        self._next += 1
        self.rows.append(
            {"id": sid, "parent": parent, "op_id": op_id, "name": name, "start": start, "end": end, **attrs}
        )
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


# ------------------------------------------------------------ event log

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _acc(task_info: dict, name: str) -> float:
    return sum(float(a.get("Update", 0) or 0) for a in task_info.get("Accumulables", []) if a.get("Name") == name)


def read_event_log(log_dir: str) -> tuple[dict, dict, dict]:
    """-> (jobs, stages, tasks_by_stage) from every event file under log_dir."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    for fn in sorted(glob.glob(os.path.join(log_dir, "*", "events_*")) + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0,
                        "stages": e.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "start": si.get("Submission Time", 0) / 1000.0,
                        "end": si.get("Completion Time", 0) / 1000.0,
                        "tasks": si.get("Number of Tasks", 0),
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    sr, sw = tm.get("Shuffle Read Metrics") or {}, tm.get("Shuffle Write Metrics") or {}
                    tasks[e["Stage ID"]].append(
                        {
                            "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                            "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                            "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                            "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                            "sh_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "sh_write": sw.get("Shuffle Bytes Written", 0),
                            "records_in": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                            "py_s": _acc(ti, _PY_TIME) / 1000.0,
                            "py_sent": _acc(ti, _PY_SENT),
                            "py_recv": _acc(ti, _PY_RECV),
                        }
                    )
    return jobs, stages, tasks


def op_engine_metrics(job_ids: list[int], jobs: dict, stages: dict, tasks: dict, cores: int, wall: float) -> dict:
    """Spark-side totals for one operation's jobs."""
    st_ids = sorted({s for j in job_ids for s in jobs[j]["stages"] if s in stages})
    ts = [t for s in st_ids for t in tasks.get(s, [])]
    run_s = sum(t["run_s"] for t in ts)
    skew = 1.0
    if st_ids:
        longest = max(st_ids, key=lambda s: stages[s]["end"] - stages[s]["start"])
        durs = [t["dur"] for t in tasks.get(longest, [])]
        if durs and statistics.median(durs) > 0:
            skew = max(durs) / statistics.median(durs)
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": len(st_ids),
        "spark.tasks": len(ts),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "spark.gc_s": sum(t["gc_s"] for t in ts),
        "spark.shuffle_write_bytes": sum(t["sh_write"] for t in ts),
        "spark.shuffle_read_bytes": sum(t["sh_read"] for t in ts),
        "spark.spill_bytes": sum(t["spill"] for t in ts),
        "spark.python_worker_s": sum(t["py_s"] for t in ts),
        "spark.arrow_bytes_to_python": sum(t["py_sent"] for t in ts),
        "spark.arrow_bytes_from_python": sum(t["py_recv"] for t in ts),
        "spark.task_skew": skew,
        "spark.core_busy_frac": run_s / (cores * wall) if wall > 0 else 0.0,
        "records_in": sum(t["records_in"] for t in ts),
    }


def attach_engine_spans(spans: Spans, records: list[dict], jobs: dict, stages: dict, tasks: dict, cores: int) -> None:
    """Add job and stage spans under each operation's plan/exec span and
    store the operation's engine totals on its record."""
    by_group: dict[str, list[int]] = defaultdict(list)
    for jid, j in jobs.items():
        if j["group"]:
            by_group[j["group"]].append(jid)
    for rec in records:
        jids = sorted(by_group.get(rec["op_id"], []))
        rec["engine"] = op_engine_metrics(jids, jobs, stages, tasks, cores, rec["wall_s"])
        spans.rows[rec["op_span"]]["engine"] = rec["engine"]
        for jid in jids:
            j = jobs[jid]
            parent = rec["exec_span"] if j["start"] >= rec["exec_start"] else rec["plan_span"]
            js = spans.add(f"job {jid}", j["start"], j.get("end", j["start"]), parent, rec["op_id"])
            for sid in j["stages"]:
                if sid in stages:
                    s = stages[sid]
                    spans.add(f"stage {sid}", s["start"], s["end"], js, rec["op_id"], tasks=len(tasks.get(sid, [])))


# --------------------------------------------------------------- kernels


def _per_item(fn, n_items: int, min_s: float = 0.2) -> float:
    """Median seconds per item over repeated calls of ``fn`` (>= 3 calls
    and >= min_s in total)."""
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / max(n_items, 1)


def kernel_phase(lon: np.ndarray, lat: np.ndarray, wkbs: list[bytes], polygons: list[bytes], res: int) -> dict:
    """Time the public geometry and index kernels on the workload's own
    coordinates, WKB and polygons."""
    from pyogrio_spark.geometry.predicates import PreparedPolygon, batch_intersects
    from pyogrio_spark.geometry.wkb import bounds_many, decode_points, encode_points, parse_wkb
    from pyogrio_spark.index.cover import cover_polygon
    from pyogrio_spark.index.grid import cell_of

    pts = encode_points(lon, lat)
    preps = [PreparedPolygon(p) for p in polygons]
    sample = wkbs[:2000]
    return {
        "geometry.wkb.encode_points.ns": 1e9 * _per_item(lambda: encode_points(lon, lat), lon.size),
        "geometry.wkb.parse_wkb.ns": 1e9 * _per_item(lambda: [parse_wkb(b) for b in sample], len(sample)),
        "geometry.wkb.bounds_many.ns": 1e9 * _per_item(lambda: bounds_many(wkbs), len(wkbs)),
        "geometry.wkb.decode_points.ns": 1e9 * _per_item(lambda: decode_points(pts), lon.size),
        "geometry.predicates.contains_points.ns": 1e9
        * _per_item(lambda: [p.contains_points(lon, lat) for p in preps], lon.size * len(preps)),
        "geometry.predicates.batch_intersects.ns": 1e9
        * _per_item(lambda: [batch_intersects(p, sample) for p in preps], len(sample) * len(preps)),
        "index.cover.cover_polygon.us": 1e6 * _per_item(lambda: [cover_polygon(p, res) for p in polygons], len(polygons)),
        "index.grid.cell_of.ns": 1e9 * _per_item(lambda: cell_of(lon, lat, res), lon.size),
    }
