"""spark-geo benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its inputs from the seed
(numpy/pyarrow only), computes every expected result independently,
starts Spark on ``local[<cores>]``, sets up (session start + an untimed
warm pass of the operation sequence), then repeats the workload's fixed
operation sequence in whole passes for at least ``--seconds``, each call
waiting for the previous one. Every operation's output is checked
against its expected checksum. The last stdout line is
the result JSON: end-to-end metrics with ``--trace 0``; per-layer metrics
with ``--trace 1``, which also writes a spans file next to the Spark
event log under ``.perfbench_out/``. The bounded time metrics are CPU
seconds of the whole process tree; wall-clock figures are per-layer
metrics, because on a shared virtual machine they move with the
hypervisor's steal (README.md).
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# op_tail_s quantile. A pass holds 16-20 operations, so fewer than ten
# lie beyond it; see README.md.
TAIL_Q = 0.9

UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "ok_frac": "ratio"}

FORMAT_LAYERS = ["io.geopackage", "io.flatgeobuf", "io.shapefile", "io.geojson"]
PER_LAYER = (
    [f"loop.{m}" for m in ("read_cpu_s", "write_cpu_s", "setup_wall_s", "wall_s", "read_s", "write_s", "op_p50_s",
                           "op_tail_s")]
    + ["host.steal_frac", "session.get_spark_s", "session.warm_s"]
    + [f"io.reader.{m}" for m in ("read_table.plan_s", "read_table.exec_s", "mask.exec_s", "skip_max.exec_s",
                                   "read_bounds.exec_s", "read_info.s", "rows_scanned", "rows_returned", "useful_ratio")]
    + ["cache.pins_live", "cache.storage_bytes"]
    + [f"io.writer.{m}" for m in ("write_table.exec_s", "read_committed.exec_s", "bytes_per_user_byte", "files_written")]
    + [f"{f}.{m}" for f in FORMAT_LAYERS for m in ("write_s", "read_s", "read_dist_s", "bytes_per_feature")]
    + ["io.dispatch.convert_dataset.s"]
    + [f"geometry.wkb.{m}.ns" for m in ("encode_points", "parse_wkb", "bounds_many", "decode_points")]
    + ["geometry.predicates.contains_points.ns", "geometry.predicates.batch_intersects.ns",
       "index.cover.cover_polygon.us", "index.grid.cell_of.ns"]
    + [f"operators.spatial_join.{m}" for m in ("zones_cell_cover.plan_s", "point_in_polygon_join.exec_s",
                                                "point_in_polygon_join.salted.exec_s", "plan_salt_factors.s",
                                                "cover_cells", "full_cover_frac", "candidates", "pairs_out",
                                                "useful_ratio")]
    + ["operators.knn.knn_join.s", "operators.knn.rounds", "operators.knn.carried_rows"]
    + ["operators.zonal.zonal_stats.exec_s", "operators.intersects_join.intersects_join.exec_s"]
    + ["operators.dedup.minhash_lsh_pairs.exec_s", "operators.dedup.line_dedup_global.exec_s",
       "operators.dedup.pairs_out"]
    + ["operators.similarity.semantic_dedup.exec_s", "operators.chunking.pack_chunks_global.exec_s",
       "operators.tokenizer.tokenize_greedy.exec_s", "functions.text.tfidf_top_terms.exec_s"]
    + [f"spark.{m}" for m in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "python_worker_s",
                               "arrow_bytes_to_python", "arrow_bytes_from_python", "task_skew", "core_busy_frac")]
    + ["trace.overhead_frac"]
)


def _unit(name: str) -> str:
    if name.endswith(("_frac", "_ratio", "task_skew", "bytes_per_user_byte")):
        return "ratio"
    for suffix, unit in ((".ns", "ns"), (".us", "us"), ("_s", "s"), (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "B" if "bytes" in name else "count"


CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant
    (the JVM and Spark's Python workers), reaped children included."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(v) for v in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / CLK_TCK


def cores() -> int:
    return len(os.sched_getaffinity(0))


def reset_hwm(pid: int) -> None:
    """Reset the process's peak resident set size to its current one."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# ----------------------------------------------------------------- session


def start_spark(workload: str, out: Path, event_log: bool):
    from pyogrio_spark import get_spark

    n = cores()
    (out / "eventlog").mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        # a fixed-size heap: adaptive heap resizing otherwise makes peak RSS
        # and GC time differ from run to run (the engine's own JVM options,
        # spark.driver.extraJavaOptions, still apply)
        "spark.driver.defaultJavaOptions": "-Xms2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(out / "spark-local"),
        "spark.sql.warehouse.dir": str(out / "warehouse"),
        "spark.executorEnv.PYTHONPATH": str(ROOT),
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": (out / "eventlog").as_uri(),
        "spark.eventLog.compress": "false",
    }
    spark = get_spark(f"perfbench-{workload}", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyogrio_spark import release_pins

    release_pins()
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# ---------------------------------------------------------------- the loop


class Runner:
    def __init__(self, ops, out: Path, spans=None):
        self.ops, self.out, self.spans = ops, out, spans
        self.n_op = 0
        self.warm: list[dict] = []

    def run_op(self, spark, op, ctx, phase: str) -> dict:
        from pyogrio_spark.cache import pinned_count, release_pins

        self.n_op += 1
        op_id = f"{phase}:{self.n_op:05d}:{op.name}"
        traced = self.spans is not None
        if traced:
            spark.sparkContext.setJobGroup(op_id, op.name)
        ctx.calls.clear()
        rec = {"op_id": op_id, "name": op.name, "tags": op.tags, "kind": op.kind, "rows": None}
        c0 = tree_cpu_s()
        w0 = time.time()
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            obj = op.plan(ctx)
            t1 = time.perf_counter()
            got = op.run(obj)
            t2 = time.perf_counter()
            if op.after is not None:
                op.after(ctx, got)
            if traced:
                rec["pins"] = pinned_count()
                rec["storage_bytes"] = storage_bytes(spark)
            release_pins()
            t3, c3 = time.perf_counter(), tree_cpu_s()
            reason = op.verdict(got)
            if isinstance(got, dict):
                rec["rows"] = got.get("_rows")
        except Exception as e:  # a failing operation is counted, the loop goes on
            release_pins()
            t3, c3 = time.perf_counter(), tree_cpu_s()
            reason = f"{type(e).__name__}: {e}"[:500]
        t1 = t1 or t3
        t2 = t2 or t3
        rec.update(plan_s=t1 - t0, exec_s=t2 - t1, wall_s=t3 - t0, cpu_s=c3 - c0, ok=reason is None, reason=reason)
        rec["calls"] = [(n, b - a) for n, a, b in ctx.calls]
        if reason is not None:
            print(f"FAILED {op_id}: {reason}", file=sys.stderr)
        if traced:
            sid = rec["op_span"] = self.spans.add(op.name, w0, w0 + rec["wall_s"], None, op_id, kind=op.kind, ok=rec["ok"])
            rec["plan_span"] = self.spans.add("plan", w0, w0 + rec["plan_s"], sid, op_id)
            for n, a, b in ctx.calls:
                self.spans.add(n, w0 + (a - t0), w0 + (b - t0), rec["plan_span"], op_id)
            rec["exec_start"] = w0 + rec["plan_s"]
            rec["exec_span"] = self.spans.add("exec", rec["exec_start"], rec["exec_start"] + rec["exec_s"], sid, op_id)
        return rec

    def run_pass(self, spark, phase: str) -> tuple[float, list[dict]]:
        import ops as O

        work = self.out / "work"
        O.cleanup(str(work))
        ctx = O.Ctx(spark, str(work))
        t0, st0 = time.perf_counter(), steal_s()
        recs = [self.run_op(spark, op, ctx, phase) for op in self.ops]
        wall = time.perf_counter() - t0
        steal = steal_s() - st0
        print(f"pass {phase}: wall {wall:.3f} s, cpu {sum(r['cpu_s'] for r in recs):.2f} s, host steal {steal:.2f} cpu-s",
              file=sys.stderr)
        for r in recs:
            r["layer"] = dict(ctx.layer)
            r["pass_steal_frac"] = steal / (cores() * wall)
        O.cleanup(str(work))
        return wall, recs

    def timed(self, spark, seconds: float, phase: str) -> tuple[list[float], list[list[dict]]]:
        walls, passes = [], []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            w, recs = self.run_pass(spark, phase)
            walls.append(w)
            passes.append(recs)
        return walls, passes


def report_ops(warm: list[dict], passes: list[list[dict]]) -> None:
    """Per-operation warm-pass latency and median timed latency and CPU on stderr."""
    for i, r in enumerate(passes[0]):
        wall = statistics.median(p[i]["wall_s"] for p in passes)
        cpu = statistics.median(p[i]["cpu_s"] for p in passes)
        print(f"  {i:2d} {r['name']:<53} {r['kind']:<5} warm {warm[i]['wall_s']:6.3f} s  timed {wall:6.3f} s  cpu {cpu:6.2f} s",
              file=sys.stderr)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    weighted mean of all order statistics. A pass mixes operations of very
    different latency, and a plain sample quantile jumps between them when
    two neighbours swap; this estimate moves smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = x.size
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = np.linspace(0.0, 1.0, 20_001)[1:-1]
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t) - log_beta)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2 * np.diff(t))])
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


def per_pass(passes: list[list[dict]], field: str, kinds=("read", "write", "other")) -> float:
    """Median over passes of ``field`` summed over the pass's operations of ``kinds``."""
    return statistics.median(sum(r[field] for r in p if r["kind"] in kinds) for p in passes)


def end_to_end(setup_cpu_s: float, passes: list[list[dict]], rss_mb: float) -> dict:
    recs = [r for p in passes for r in p]
    return {
        "setup_s": setup_cpu_s,
        "cpu_s": per_pass(passes, "cpu_s"),
        "peak_rss_mb": rss_mb,
        "ok_frac": sum(r["ok"] for r in recs) / len(recs),
    }


def loop_layer(setup: dict, walls: list[float], passes: list[list[dict]]) -> dict:
    """The closed loop's wall-clock figures and the read/write split of its
    CPU time. Per-layer metrics: on a shared host wall time moves with
    the hypervisor's steal, and the split sums few operations (README.md)."""
    lat = [r["wall_s"] for p in passes for r in p]
    return {
        "loop.read_cpu_s": per_pass(passes, "cpu_s", ("read",)),
        "loop.write_cpu_s": per_pass(passes, "cpu_s", ("write",)),
        "loop.setup_wall_s": setup["session_s"] + setup["warm_s"],
        "loop.wall_s": statistics.median(walls),
        "loop.read_s": per_pass(passes, "wall_s", ("read",)),
        "loop.write_s": per_pass(passes, "wall_s", ("write",)),
        "loop.op_p50_s": hd_quantile(lat, 0.5),
        "loop.op_tail_s": hd_quantile(lat, TAIL_Q),
        "host.steal_frac": statistics.median(p[0]["pass_steal_frac"] for p in passes),
    }


def per_layer(passes: list[list[dict]], walls: list[float], n_cores: int, extra: dict) -> dict:
    recs = [r for p in passes for r in p]
    n_pass = len(passes)
    series: dict[str, list[float]] = {}

    def add(key, v):
        series.setdefault(key, []).append(v)

    for r in recs:
        if not r["ok"]:
            continue
        for key in (r["name"], *r["tags"]):
            add(f"{key}.plan_s", r["plan_s"])
            add(f"{key}.exec_s", r["exec_s"])
            add(f"{key}.s", r["wall_s"])
        for name, dur in r["calls"]:
            add(f"{name}.s", dur)
    med = {k: statistics.median(v) for k, v in series.items()}
    m = {k: med.get(k, 0.0) for k in PER_LAYER}
    m["operators.spatial_join.zones_cell_cover.plan_s"] = med.get("operators.spatial_join.zones_cell_cover.s", 0.0)
    m["operators.spatial_join.plan_salt_factors.s"] = med.get("operators.spatial_join.plan_salt_factors.s", 0.0)
    for f in FORMAT_LAYERS:
        for kind in ("write", "read", "read_dist"):
            m[f"{f}.{kind}_s"] = med.get(f"{f}.{kind}.s", 0.0)

    reader = [r for r in recs if r["name"].startswith("io.reader.")]
    scanned = sum(r["engine"]["records_in"] for r in reader) / n_pass
    returned = sum(r["rows"] or 0 for r in reader) / n_pass
    m["io.reader.rows_scanned"] = scanned
    m["io.reader.rows_returned"] = returned
    m["io.reader.useful_ratio"] = returned / scanned if scanned else 0.0
    m["cache.pins_live"] = max((r.get("pins", 0) for r in recs), default=0)
    m["cache.storage_bytes"] = max((r.get("storage_bytes", 0) for r in recs), default=0)
    m["operators.dedup.pairs_out"] = sum(r["rows"] or 0 for r in recs if r["name"] == "operators.dedup.minhash_lsh_pairs") / n_pass
    for r in recs:
        for k, v in r.get("layer", {}).items():
            if k in m:
                m[k] = v

    eng = [r["engine"] for r in recs]
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "python_worker_s", "arrow_bytes_to_python", "arrow_bytes_from_python"):
        m[f"spark.{k}"] = sum(e[f"spark.{k}"] for e in eng) / n_pass
    m["spark.task_skew"] = max((e["spark.task_skew"] for e in eng), default=1.0)
    m["spark.core_busy_frac"] = sum(e["spark.executor_run_s"] for e in eng) / (n_cores * sum(walls))
    m.update({k: v for k, v in extra.items() if k in m})
    return m


def kernel_inputs(workload: str, inp):
    """(lon, lat, wkbs, polygons, res) drawn from the workload's own data."""
    import gen as G

    d = inp.data
    if workload == "scan_format":
        polys = [G.wkb_of(d["mask_poly"]), G.wkb_of(d["mask_multi"])]
        return d["lon"][:20_000], d["lat"][:20_000], d["pdf"]["geometry"].tolist(), polys, G.SCAN_RES
    wkbs = [G.wkb_of(g) for g in d["roads"]] + [G.wkb_of(g) for g in d["parcels"]]
    return d["lon"][:20_000], d["lat"][:20_000], wkbs, [G.wkb_of(g) for g in d["zones"][:8]], G.JOIN_RES


# -------------------------------------------------------------------- main


def prepare(out: Path) -> bool:
    """Keep every file the run writes under ``out`` (temp files of Python
    and the JVM included) and make the engine importable here and in
    Spark's Python workers. False if the engine cannot be imported."""
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    # no hsperfdata file in the system temp directory either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import pyogrio_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out = ROOT / ".perfbench_out" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    if not prepare(out):
        return 2

    import gen as G
    import ops as O

    if args.workload not in G.GENERATORS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(G.GENERATORS)}", file=sys.stderr)
        return 2
    try:
        t0 = time.perf_counter()
        inp = G.GENERATORS[args.workload](args.seed, str(out / "inputs"))
        print("inputs " + json.dumps({"workload": args.workload, "seed": args.seed, **inp.props}))
        t1 = time.perf_counter()
        ops = O.OPS[args.workload](inp)
        print(f"generated in {t1 - t0:.1f} s, expected results in {time.perf_counter() - t1:.1f} s", file=sys.stderr)
        # the inputs and expected results live for the whole run: keep the
        # cyclic collector from rescanning them inside timed operations
        gc.collect()
        gc.freeze()
        result = run_trace(args, inp, ops, out) if args.trace else run_plain(args, ops, out)
    finally:
        shutdown_jvm()
        for sub in ("inputs", "work", "spark-local", "warehouse", "tmp"):
            shutil.rmtree(out / sub, ignore_errors=True)
        if not args.trace:
            shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(result))
    return 0


def setup(runner: Runner, workload: str, out: Path, event_log: bool):
    """Session start plus the untimed warm pass -> (spark, figures): wall
    seconds of each part and CPU seconds of the whole process tree."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    spark = start_spark(workload, out, event_log)
    t1 = time.perf_counter()
    runner.warm = runner.run_pass(spark, "warm")[1]
    t2 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "warm_s": t2 - t1, "cpu_s": tree_cpu_s() - c0}


def _result(passes: list[list[dict]], metrics: dict) -> dict:
    recs = [r for p in passes for r in p]
    failed = sum(not r["ok"] for r in recs)
    units = {k: UNITS.get(k) or _unit(k) for k in metrics}
    return {
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def run_plain(args, ops, out: Path) -> dict:
    runner = Runner(ops, out)
    spark, fig = setup(runner, args.workload, out, False)
    pids = [os.getpid(), jvm_pid()]
    for pid in pids:
        reset_hwm(pid)
    walls, passes = runner.timed(spark, args.seconds, "timed")
    report_ops(runner.warm, passes)
    rss_mb = sum(map(vm_hwm_kb, pids)) / 1024.0
    stop_spark(spark)
    print("loop " + json.dumps(loop_layer(fig, walls, passes)), file=sys.stderr)
    return _result(passes, end_to_end(fig["cpu_s"], passes, rss_mb))


def run_trace(args, inp, ops, out: Path) -> dict:
    """Untraced baseline phase, then a fresh session with the event log
    on, job groups set, and spans recorded; then the kernel phase."""
    import ops as O
    import tracing as T

    runner = Runner(ops, out)
    spark, fig = setup(runner, args.workload, out, False)
    base_walls, base_passes = runner.timed(spark, args.seconds, "base")
    stop_spark(spark)

    spans = T.Spans()
    runner.spans = spans
    spark, _ = setup(runner, args.workload, out, True)
    walls, passes = runner.timed(spark, args.seconds, "timed")
    stop_spark(spark)

    jobs, stages, tasks = T.read_event_log(str(out / "eventlog"))
    recs = [r for p in passes for r in p]
    T.attach_engine_spans(spans, recs, jobs, stages, tasks, cores())
    spans_path = out / "spans.jsonl"
    spans.write(str(spans_path))
    print(f"spans: {spans_path}", file=sys.stderr)

    extra = {
        "session.get_spark_s": fig["session_s"],
        "session.warm_s": fig["warm_s"],
        **loop_layer(fig, base_walls, base_passes),
        "trace.overhead_frac": statistics.median(walls) / statistics.median(base_walls) - 1.0,
    }
    extra.update(T.kernel_phase(*kernel_inputs(args.workload, inp)))
    if args.workload == "join_dedup":
        extra.update(O.pair_count(inp))
    return _result(passes, per_layer(passes, walls, cores(), extra))


if __name__ == "__main__":
    sys.exit(main())
