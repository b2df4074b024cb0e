"""Seeded end-to-end benchmark of the osm_lib_spark engine.

    python3 perfbench/run.py --workload osm_s --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client sends the
workload's seeded requests for ``--seconds`` of op time (whole cycles of
the workload's request kinds), checks every op's output, and prints:

- a detail line: every end-to-end figure that applies to the workload,
  with units (op_p50_s, op_tail_s, bboxes_per_s, encode_entities_per_s, error_rate, ...);
- with ``--trace 1``, a per-layer line (call/action split, JVM and
  Python-worker CPU, records read) and the span coverage of op time;
- last, one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
  the BENCHMARK.json end-to-end metrics, or with ``--trace 1`` its
  per-layer metrics.

The session is sized from the host (``local[nproc]``, driver memory 60%
of MemTotal). Every file the run writes (the corpus, Spark scratch,
event log, codec output) stays under ``perfbench/.cache``. End-to-end figures
come only from ``--trace 0`` runs; a traced run differs in the event log
and the job descriptions, and its ``bench.ops_per_s`` against the
untraced ``ops_per_s`` is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_conf(scratch: str, event_dir: str | None) -> tuple[str, dict]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    conf = {
        "spark.driver.memory": f"{int(total_kb * 0.6) // 1024}m",
        "spark.local.dir": scratch,
        # no /tmp/hsperfdata file: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # fixture parquet files are single files: split scans finer so
        # scan stages have at least one task per core
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return f"local[{cpus}]", conf


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of the JVM and its Python workers."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop_event = threading.Event()

    def run(self) -> None:
        from spans import tree_rss_mb

        while not self._stop_event.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def tail(times: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with >= 10 samples
    beyond it; the maximum (percentile 100) when that percentile would
    fall below the median, i.e. with fewer than 20 samples."""
    s = sorted(times)
    if len(s) < 20:
        return 100.0, s[-1]
    return 100.0 * (len(s) - 10) / len(s), s[len(s) - 11]


def gmean(values: list[float]) -> float:
    return math.exp(sum(map(math.log, values)) / len(values))


# engine modules whose functions the workloads run in Python workers
WORKER_MODULES = (
    "osm_lib_spark.operators.knn",
    "osm_lib_spark.operators.pip",
    "osm_lib_spark.sources.pbf",
    "osm_lib_spark.sources.vex",
    "osm_lib_spark.operators.multimodal",
    "osm_lib_spark.operators.dedup",
    "osm_lib_spark.operators.similarity",
)


def start_python_workers(spark, n: int) -> None:
    """Fork ``n`` Python workers and import the engine in each, as a
    serving process has done before its first request. Without it the
    first op that runs Python pays 2-3 s of worker start-up."""

    def touch(batches):
        import importlib

        for name in WORKER_MODULES:
            importlib.import_module(name)
        yield from batches

    spark.range(n, numPartitions=n).mapInArrow(touch, "id long").count()


def measure(wl, tracer, seconds: float) -> dict:
    """Closed loop: run ops until ``seconds`` of op time have passed and
    the cycle of request kinds is complete; check each op untimed."""
    from spans import tree_cpu_s

    times, cpu, kinds, failed = [], [], [], 0
    rows = items = 0
    coverage = []
    i = 0
    while sum(times) < seconds or i % len(wl.cycle):
        kind = wl.kind(i)
        span_before = sum(tracer.wall.values())
        cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            n, check = wl.op(kind)
        except Exception:  # a failed op is counted, the loop goes on
            traceback.print_exc()
            n, check = 0, lambda: False
        dt = time.perf_counter() - t0
        cpu.append(tree_cpu_s(os.getpid()) - cpu0)
        coverage.append((sum(tracer.wall.values()) - span_before) / dt)
        with tracer.paused():
            try:
                ok = bool(check())
            except Exception:
                traceback.print_exc()
                ok = False
        if not ok:
            print(f"check failed: op {i} ({kind})", file=sys.stderr)
        times.append(dt)
        kinds.append(kind)
        failed += not ok
        rows += n
        items += wl.items(kind)
        i += 1
    return {
        "times": times, "cpu": cpu, "kinds": kinds, "failed": failed,
        "rows": rows, "items": items, "coverage": coverage,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "osm_lib_spark")) or not os.path.exists(
        os.path.join(ROOT, "fixtures", "sf-s", "docs.parquet")
    ):
        print("error: run from a checkout of the repo (osm_lib_spark/ and fixtures/sf-s/ missing)", file=sys.stderr)
        return 2
    import world
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = world.run_dir()
    event_dir = os.path.join(scratch, "events") if args.trace else None
    os.makedirs(event_dir or scratch, exist_ok=True)
    try:
        return bench(args, scratch, event_dir)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def bench(args, scratch: str, event_dir: str | None) -> int:
    import spans
    from workloads import WORKLOADS

    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    master, conf = host_conf(scratch, event_dir)

    from osm_lib_spark.session import get_spark, stop_spark
    from spans import tree_cpu_s

    t_start = time.perf_counter()
    phases = {}
    gateway = None
    sampler = RssSampler()
    sampler.start()
    try:
        cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        spark = get_spark("perfbench", master=master, extra_conf=conf)
        session_s = time.perf_counter() - t0
        session_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        gateway = spark.sparkContext._gateway
        tracer = spans.Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, args.seed)

        setup_times, setup_cpu = [], []
        for rep in range(wl.setup_reps):
            if rep:
                wl.teardown()
            cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
            setup_cpu.append(tree_cpu_s(os.getpid()) - cpu0)
        with tracer.paused():
            t0 = time.perf_counter()
            wl.after_setup()
            start_python_workers(spark, wl.width)
            phases["after_setup_s"] = time.perf_counter() - t0
        tracer.counters.clear()
        t0, steal0 = time.perf_counter(), host_steal_s()
        run = measure(wl, tracer, args.seconds)
        phases["measure_s"] = time.perf_counter() - t0
        steal_s = host_steal_s() - steal0
        wl.teardown()
    finally:
        stop_spark()
        sampler.stop()
        if gateway is not None:
            # the JVM exits when its stdin closes; wait for it to end
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    phases["run_s"] = time.perf_counter() - t_start

    times = run["times"]
    attempted, failed = len(times), run["failed"]
    op_s = sum(times)
    pct, tail_s = tail(times)
    by_kind = {k: [t for t, k2 in zip(times, run["kinds"]) if k2 == k] for k in wl.kinds}
    cpu_by_kind = {k: [c for c, k2 in zip(run["cpu"], run["kinds"]) if k2 == k] for k in wl.kinds}
    end_to_end = {
        "setup_s": (session_cpu_s + statistics.median(setup_cpu), "s"),
        "cpu_s_per_op": (sum(run["cpu"]) / len(times), "s"),
    }
    detail = dict(end_to_end)
    detail["setup_wall_s"] = (session_s + statistics.median(setup_times), "s")
    detail["op_p50_gmean_s"] = (gmean([statistics.median(ts) for ts in by_kind.values()]), "s")
    detail["ops_per_s"] = (len(times) / op_s, "1/s")
    detail["op_p50_s"] = (statistics.median(times), "s")
    detail["op_tail_s"] = (tail_s, "s")
    detail["peak_rss_mb"] = (sampler.peak_mb, "MB")
    detail["error_rate"] = (failed / attempted, "ratio")
    detail["result_rows_per_s"] = (run["rows"] / op_s, "1/s")
    detail.update(wl.detail(run, op_s))
    for kind, ts in by_kind.items():
        detail[f"op_p50_s.{kind}"] = (statistics.median(ts), "s")
        detail[f"op_cpu_s.{kind}"] = (statistics.median(cpu_by_kind[kind]), "s")
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "ops": len(times),
                "op_times_s": [round(t, 3) for t in times],
                "op_cpu_times_s": [round(c, 2) for c in run["cpu"]],
                "host_steal_s": steal_s,
                "op_tail_percentile": round(pct, 1),
                "session_start_s": session_s,
                "setup_reps_s": setup_times,
                "phases_s": phases,
                "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
            }
        )
    )

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    if args.trace:
        log = spans.parse_event_log(event_dir)
        metrics, layers = spans.layer_metrics(tracer, log, len(times) / op_s)
        cov = run["coverage"]
        print(json.dumps({"span_coverage_min": min(cov), "span_coverage_mean": sum(cov) / len(cov), "layers": layers}))

    for name, m in metrics.items():
        if not math.isfinite(m["value"]):
            raise SystemExit(f"metric {name} is not finite")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
