"""Benchmark of the geotrellis_spark engine: one workload per run, in a
fresh JVM, sized to this machine.

    python3 perfbench/run.py --workload ingest|query_mix \
        --seed N --seconds S --trace 0|1

Workloads (closed loop, one client; see README.md):
  ingest     the jobs/ingest.py call sequence over seeded synthetic
             images: the tiling, checkpoint and iceberg_shape layers.
  query_mix  registered engine queries over the tables in perfbench/data
             and dense spatial.pip_join requests, in a seed-permuted
             order: the similarity, dedup, text and spatial layers.

Set-up (timed as ``setup_s``) is session start, plus the median of
three builds of the seeded inputs and their expected outputs, plus one
warm-up execution of every plan shape. The run then repeats whole
cycles of operations until ``--seconds`` have passed (at least one)
and checks every operation's output. With ``--trace 1`` it alternates
untraced and traced cycles: traced cycles run each call under its own
Spark job group with the event log on, and the per-layer numbers come
from them.

Stdout: one ``name value unit`` line per metric, then, as the last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. Diagnostics go to stderr. Exits 2 without a result when
the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "query_mix")
SETUP_REPS = 3
SETTLE_S = 1.5

END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}
# Per-layer metrics; a layer a workload does not touch reads 0.
LAYER_UNITS = {
    "tiling.cut_s": "s", "tiling.pieces_per_image": "count",
    "tiling.merge_s": "s", "tiling.shuffle_write_mb": "MB",
    "tiling.pyramid_s": "s",
    "checkpoint.stage_s": "s", "checkpoint.spark_jobs": "count",
    "iceberg_shape.write_s": "s", "iceberg_shape.files_written": "count",
    "iceberg_shape.rows_rescanned": "count",
    "iceberg_shape.collect_metadata_s": "s",
    "iceberg_shape.stored_bytes_ratio": "ratio",
    "spatial.assign_cells_s": "s", "spatial.pip_join_s": "s",
    "spatial.refine_rows_in": "count", "spatial.refine_hit_ratio": "ratio",
    "similarity.ann_multiprobe_s": "s", "dedup.minhash_capped_s": "s",
    "text.bm25_s": "s",
    **{
        f"{w}.{m}": u
        for w in WORKLOADS
        for m, u in (
            ("executor_cpu_s", "s"), ("python_worker_s", "s"),
            ("gc_s", "s"), ("spill_mb", "MB"), ("driver_only_s", "s"),
            ("peak_rss_mb", "MB"),
        )
    },
    "trace.overhead_s": "s",
    "trace.uncovered_share": "ratio",
}


def _box() -> dict:
    """Session sizing for this machine: every core, and a heap of a
    quarter of RAM (at most 4g) so the Python workers keep room."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / (1 << 20)
    heap = max(1, min(4, round(mem_gb / 4)))
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}g",
        "SPARK_GRAFT_DIRECT_MEM": f"{max(1, heap // 2)}g",
    }


class RssSampler(threading.Thread):
    """Peak resident memory of this process's descendants (the JVM and
    its Python workers), sampled from /proc every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            rss[int(d)] = pages * self._page
        me, total = os.getpid(), 0
        for pid in rss:
            p = parent.get(pid)
            while p and p != me:
                p = parent.get(p)
            if p == me:
                total += rss[pid]
        return total

    def reset(self) -> None:
        self.peak = 0

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, self._sample())

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def error_text(exc: BaseException) -> str:
    """Exception class and first message line, never a stack tail."""
    java = getattr(exc, "java_exception", None)
    if java is not None:
        text = str(java.toString())
    else:
        text = f"{type(exc).__name__}: {exc}"
    first = text.strip().splitlines()[0] if text.strip() else type(exc).__name__
    return first[:400]


class Bench:
    """Run-wide state handed to a workload."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def gc_barrier(spark) -> None:
    """Collect the JVM heap before an operation, so no operation pays
    for the previous one's garbage (the order is seed-dependent)."""
    spark.sparkContext._jvm.System.gc()


def measure(wl, spark, tracer, seconds: float, trace: bool, failures: list):
    """Whole cycles until ``seconds`` have passed. With tracing, cycles
    alternate untraced / traced and at least one of each runs."""
    ops = []
    # let the JIT compile queue from the warm-up drain
    gc_barrier(spark)
    time.sleep(SETTLE_S)
    t_start = time.perf_counter()
    k = 0
    while True:
        traced = trace and k % 2 == 1
        tracer.enabled = traced
        for name, fn in wl.cycle(k):
            tracer.failed_call = None
            gc_barrier(spark)
            t0 = time.perf_counter()
            try:
                with tracer.span("bench.op"):
                    outcome = fn()
                wall = time.perf_counter() - t0
                ok, units = False, outcome.units
                try:
                    ok = bool(outcome.check())
                    if not ok:
                        failures.append({
                            "workload": wl.NAME, "call": name,
                            "error": "output check failed",
                        })
                except Exception as exc:  # noqa: BLE001 - recorded, run goes on
                    failures.append({
                        "workload": wl.NAME, "call": f"{name} check",
                        "error": error_text(exc),
                    })
            except Exception as exc:  # noqa: BLE001 - recorded, run goes on
                wall = time.perf_counter() - t0
                ok, units = False, 0.0
                failures.append({
                    "workload": wl.NAME,
                    "call": tracer.failed_call or name,
                    "error": error_text(exc),
                })
            tracer.release()
            ops.append({"cycle": k, "traced": traced, "name": name,
                        "wall": wall, "units": units, "ok": ok})
            print(f"# {wl.NAME} cycle {k} {name}: {wall:.3f}s "
                  f"units={units} ok={ok} traced={traced}", file=sys.stderr)
        k += 1
        if time.perf_counter() - t_start >= seconds and (not trace or k >= 2):
            break
    tracer.enabled = False
    return ops


def end_to_end(ops: list, setup_s: float) -> dict:
    walls = [o["wall"] for o in ops]
    return {
        "setup_s": setup_s,
        "work_per_s": sum(o["units"] for o in ops) / sum(walls),
        "op_p50_s": percentile(walls, 0.5),
        "op_p90_s": percentile(walls, 0.9),
    }


def per_layer(wl, ops: list, spans: list, log_path: str,
              peak_rss: int) -> tuple[dict, list]:
    from tracer import read_event_log, span_table, task_busy

    log = read_event_log(log_path)
    rows = span_table(spans, log)
    n_cycles = len({o["cycle"] for o in ops if o["traced"]})
    out = {name: 0.0 for name in LAYER_UNITS}
    out.update(wl.layer_metrics(rows, ops, n_cycles))

    roots = [r for r in rows if r["parent"] is None]
    traced_ids = [r["id"] for r in rows]
    totals = {"cpu_s": 0.0, "python_worker_s": 0.0, "gc_s": 0.0,
              "spill_mb": 0.0}
    for r in rows:
        for key in totals:
            totals[key] += r.get(key, 0.0)
    busy = sum(task_busy(log, traced_ids, r["start"], r["end"]) for r in roots)
    wall = sum(r["wall_s"] for r in roots)
    w = wl.NAME
    out[f"{w}.executor_cpu_s"] = totals["cpu_s"] / n_cycles
    out[f"{w}.python_worker_s"] = totals["python_worker_s"] / n_cycles
    out[f"{w}.gc_s"] = totals["gc_s"] / n_cycles
    out[f"{w}.spill_mb"] = totals["spill_mb"] / n_cycles
    out[f"{w}.driver_only_s"] = (wall - busy) / n_cycles
    out[f"{w}.peak_rss_mb"] = peak_rss / 1e6
    out["trace.uncovered_share"] = sum(r["self_s"] for r in roots) / wall

    def cycle_walls(traced: bool) -> list[float]:
        per = {}
        for o in ops:
            if o["traced"] == traced:
                per[o["cycle"]] = per.get(o["cycle"], 0.0) + o["wall"]
        return list(per.values())

    out["trace.overhead_s"] = statistics.median(
        cycle_walls(True)
    ) - statistics.median(cycle_walls(False))
    return out, rows


def _stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def write_trace(args, settings, ops, rows, log_path) -> None:
    """Keep a traced run's spans and event log under _work/traces."""
    trace_dir = os.path.join(HERE, "_work", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(
        trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}"
    )
    with open(stem + ".json", "w") as f:
        json.dump({"settings": settings, "ops": ops, "spans": rows}, f,
                  default=str)
    shutil.move(log_path, stem + ".eventlog")
    print(f"# spans written to {stem}.json", file=sys.stderr)


def run(args, work: str) -> int:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    box = _box()
    sys.path.insert(0, ROOT)
    wl_mod = importlib.import_module(f"wl_{args.workload}")
    os.environ.update(box)
    os.environ["SPARK_GRAFT_ARROW_BATCH"] = str(wl_mod.ARROW_BATCH)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # executors' Python workers import the workload modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, os.environ.get("PYTHONPATH")) if p
    )
    settings = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cores": int(box["SPARK_GRAFT_CPUS"]),
        "driver_mem": box["SPARK_GRAFT_DRIVER_MEM"],
        "direct_mem": box["SPARK_GRAFT_DIRECT_MEM"],
        "arrow_batch": wl_mod.ARROW_BATCH,
    }
    print(f"# settings {json.dumps(settings)}", file=sys.stderr)

    from geotrellis_spark.session import get_spark
    from tracer import Tracer

    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    sampler = RssSampler()
    failures: list[dict] = []
    spark = None
    phase = "get_spark"
    sampler.start()
    try:
        t0 = time.perf_counter()
        cores = int(box["SPARK_GRAFT_CPUS"])
        spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                          shuffle_partitions=cores, extra_conf=extra)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=False)
        wl = wl_mod.Workload(Bench(spark, tracer, work, args.seed))
        phase = "prepare"
        prep = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        phase = "warm_up"
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + warm_s
        print(f"# setup session={session_s:.3f}s inputs={prep} "
              f"warm_up={warm_s:.3f}s", file=sys.stderr)

        phase = "measure"
        setup_peak = sampler.peak
        sampler.reset()
        ops = measure(wl, spark, tracer, args.seconds, bool(args.trace),
                      failures)
        peak = sampler.peak
        print(f"# rss peak setup={setup_peak / 1e6:.0f}MB "
              f"measure={peak / 1e6:.0f}MB", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001 - no result without a set-up
        print("# FAILED " + json.dumps({
            "workload": args.workload, "call": phase,
            "error": error_text(exc),
        }), file=sys.stderr)
        return 1
    finally:
        sampler.stop()
        if spark is not None:
            _stop_jvm(spark)

    # with tracing, the end-to-end figures come from the untraced cycles
    metrics = end_to_end([o for o in ops if not o["traced"]], setup_s)
    named = {
        "setup_s": (setup_s, "s"),
        wl.WORK_NAME: (metrics["work_per_s"], "1/s"),
        wl.P50_NAME: (metrics["op_p50_s"], "s"),
        wl.P90_NAME: (metrics["op_p90_s"], "s"),
        "peak_rss_mb": (peak / 1e6, "MB"),
        **wl.named_metrics(ops),
        "fail_ratio": (len(failures) / len(ops), "ratio"),
    }
    if args.trace:
        log_path = os.path.join(log_dir, os.listdir(log_dir)[0])
        layer, rows = per_layer(wl, ops, tracer.spans, log_path, peak)
        write_trace(args, settings, ops, rows, log_path)
        out_metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in layer.items()}
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u}
                       for k, u in END_TO_END.items()}

    for f in failures:
        print(f"# FAILED {json.dumps(f)}", file=sys.stderr)
    print(f"settings {json.dumps(settings)}")
    for name, (value, unit) in named.items():
        print(f"{name} {value:.6g} {unit}")
    if args.trace:
        for name, m in out_metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": out_metrics,
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "geotrellis_spark", "session.py")):
        print("geotrellis_spark not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
