"""Per-layer tracing: spans from the benchmark's own calls, Spark jobs
attributed to them through the job description, and the event-log parser.

Every public engine call the benchmark makes runs inside
``Tracer.span(layer, phase)``. ``phase`` is ``call`` for the function
call itself (eager work such as checkpoints, driver loops and file
writes) and ``action`` for the action that consumes its result. With
tracing on, each span sets ``spark.job.description`` to
``<layer>#<phase>``, so every Spark job, stage and task in the event log
names the span that caused it. Python-worker CPU is read from ``/proc``
at each span edge, because Spark's task metrics only see JVM threads.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

# layer = <module>.<function> of the engine; every metric below is per call
LAYERS = (
    "sources.span_codec.parse_nodes",
    "sources.span_codec.parse_ways",
    "sources.span_codec.parse_relations",
    "operators.indexes.build_way_tiles",
    "operators.knn.tiled_node_store",
    "operators.extract.prepare_extract_context",
    "operators.extract.bbox_extract_batch",
    "operators.extract.bbox_extract",
    "operators.knn.knn_kring",
    "operators.pip.points_in_polygons_bucketed",
    "sources.pbf.write_pbf",
    "sources.pbf.read_pbf",
    "sources.vex.write_vex",
    "sources.vex.read_vex",
    "operators.multimodal.decode_media_features",
    "operators.multimodal.sample_frames",
    "operators.dedup.dup_components",
    "operators.similarity.ivf_pq_topk",
)
LAYER_METRICS = (
    ("busy_s", "s"),
    ("n_jobs", "count"),
    ("cpu_s", "s"),
    ("shuffle_bytes", "B"),
    ("wait_s", "s"),
    ("task_skew", "ratio"),
)
RATIOS = (
    ("operators.knn.knn_kring.rows_scanned_per_result", "ratio"),
    ("operators.pip.points_in_polygons_bucketed.candidates_per_match", "ratio"),
    ("operators.extract.bbox_extract_batch.shuffle_bytes_per_row", "B/row"),
    ("sources.pbf.write_pbf.bytes_written", "B"),
    ("sources.vex.write_vex.bytes_written", "B"),
)
ENGINE = (("spark.gc_s", "s"), ("spark.spill_bytes", "B"), ("bench.ops_per_s", "1/s"))
SEP = "#"


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(pid))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def tree_rss_mb(root: int) -> float:
    """Resident memory of every process below ``root`` (the JVM and its
    Python workers), in MB."""
    pages = 0
    for pid in _descendants(root):
        fields = _read(f"/proc/{pid}/statm").split()
        if len(fields) > 1:
            pages += int(fields[1])
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds used so far by the Python workers below ``root``
    (reaped children included)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root):
        if "pyspark.daemon" not in _read(f"/proc/{pid}/cmdline"):
            continue
        stat = _read(f"/proc/{pid}/stat")
        if stat:
            total += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15])
    return total / tick


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it (the
    JVM and its Python workers), reaped children included. Time the
    hypervisor gives to other guests (steal) is not in it."""
    total = 0
    for pid in [root, *_descendants(root)]:
        stat = _read(f"/proc/{pid}/stat")
        if stat:
            total += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Span recorder. Wall time is always recorded (two clock reads per
    span); job descriptions and Python-worker CPU only when ``enabled``."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.recording = True
        self.calls: dict[str, int] = defaultdict(int)
        self.wall: dict[tuple[str, str], float] = defaultdict(float)
        self.py_cpu: dict[str, float] = defaultdict(float)
        self.counters: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, layer: str, phase: str = "call"):
        if not self.recording:
            yield
            return
        if phase == "call":
            self.calls[layer] += 1
        if self.enabled:
            self.sc.setJobDescription(f"{layer}{SEP}{phase}")
            cpu0 = python_worker_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[(layer, phase)] += time.perf_counter() - t0
            if self.enabled:
                self.py_cpu[layer] += python_worker_cpu_s(os.getpid()) - cpu0
                self.sc.setJobDescription(None)

    @contextlib.contextmanager
    def paused(self):
        """Run untraced work (reference answers, correctness checks)."""
        was, self.recording = self.recording, False
        try:
            yield
        finally:
            self.recording = was

    def busy_s(self, layer: str) -> float:
        return self.wall[(layer, "call")] + self.wall[(layer, "action")]


def _events(event_dir: str):
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _plan_metric_ids(plan: dict, node_prefix: str, metric: str, out: set) -> None:
    if plan["nodeName"].startswith(node_prefix):
        out.update(m["accumulatorId"] for m in plan["metrics"] if m["name"] == metric)
    for child in plan["children"]:
        _plan_metric_ids(child, node_prefix, metric, out)


def parse_event_log(event_dir: str) -> dict:
    """Fold an event log into ``{layer: totals}`` keyed by job description.

    Stages carry the description of the job that submitted them; jobs
    that Spark starts on its own threads (broadcasts) fall back to the
    description of their SQL execution. ``eval_rows`` counts rows that
    entered a Python UDF (``ArrowEvalPython``), i.e. PIP candidates.
    """
    exec_desc: dict[str, str] = {}
    stage_layer: dict[int, str] = {}
    eval_ids: set[int] = set()
    totals: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    tasks: dict[int, list[float]] = defaultdict(list)
    engine = defaultdict(float)

    def layer_of(props: dict) -> str | None:
        desc = props.get("spark.job.description") or ""
        if SEP not in desc:
            desc = exec_desc.get(props.get("spark.sql.execution.id", ""), "")
        return desc.split(SEP)[0] if SEP in desc else None

    for e in _events(event_dir):
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            if kind.endswith("Start"):
                exec_desc[str(e["executionId"])] = e.get("description", "")
            _plan_metric_ids(e["sparkPlanInfo"], "ArrowEvalPython", "number of output rows", eval_ids)
        elif kind == "SparkListenerJobStart":
            layer = layer_of(e.get("Properties") or {})
            if layer:
                totals[layer]["n_jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            layer = layer_of(e.get("Properties") or {})
            if layer:
                stage_layer[e["Stage Info"]["Stage ID"]] = layer
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            engine["gc_ms"] += m["JVM GC Time"]
            engine["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            layer = stage_layer.get(e["Stage ID"])
            if layer is None:
                continue
            info = e["Task Info"]
            t = totals[layer]
            run_ms = m["Executor Run Time"]
            t["cpu_ns"] += m["Executor CPU Time"] + m["Executor Deserialize CPU Time"]
            t["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            t["fetch_wait_ms"] += m["Shuffle Read Metrics"]["Fetch Wait Time"]
            t["sched_delay_ms"] += max(
                0,
                info["Finish Time"]
                - info["Launch Time"]
                - m["Executor Deserialize Time"]
                - run_ms
                - m["Result Serialization Time"]
                - info.get("Getting Result Time", 0),
            )
            t["records_read"] += (
                m["Input Metrics"]["Records Read"] + m["Shuffle Read Metrics"]["Total Records Read"]
            )
            t["eval_rows"] += sum(
                int(a.get("Update", 0))
                for a in info.get("Accumulables", [])
                if a["ID"] in eval_ids
            )
            tasks[e["Stage ID"]].append(run_ms)

    # task_skew of a layer = max/median task time of its heaviest stage
    heaviest: dict[str, tuple[float, float]] = {}
    for stage, runs in tasks.items():
        layer = stage_layer[stage]
        med = statistics.median(runs)
        skew = max(runs) / med if len(runs) > 1 and med > 0 else 1.0
        if sum(runs) > heaviest.get(layer, (-1.0, 0.0))[0]:
            heaviest[layer] = (sum(runs), skew)
    for layer, (_, skew) in heaviest.items():
        totals[layer]["task_skew"] = skew
    return {"layers": {k: dict(v) for k, v in totals.items()}, "engine": dict(engine)}


def layer_metrics(tracer: Tracer, log: dict, ops_per_s: float) -> tuple[dict, dict]:
    """→ (metrics for the result line, full per-layer detail)."""
    metrics, detail = {}, {}
    for layer in LAYERS:
        n = tracer.calls.get(layer, 0)
        t = log["layers"].get(layer, {})
        per = 1.0 / n if n else 0.0
        py_cpu = tracer.py_cpu.get(layer, 0.0)
        row = {
            "busy_s": tracer.busy_s(layer) * per,
            "n_jobs": t.get("n_jobs", 0.0) * per,
            "cpu_s": (t.get("cpu_ns", 0.0) / 1e9 + py_cpu) * per,
            "shuffle_bytes": t.get("shuffle_bytes", 0.0) * per,
            "wait_s": (t.get("fetch_wait_ms", 0.0) + t.get("sched_delay_ms", 0.0)) / 1e3 * per,
            "task_skew": t.get("task_skew", 0.0) if n else 0.0,
        }
        for name, unit in LAYER_METRICS:
            metrics[f"{layer}.{name}"] = {"value": row[name], "unit": unit}
        if n:
            detail[layer] = dict(
                row,
                calls=n,
                call_s=tracer.wall[(layer, "call")] * per,
                action_s=tracer.wall[(layer, "action")] * per,
                jvm_cpu_s=t.get("cpu_ns", 0.0) / 1e9 * per,
                python_cpu_s=py_cpu * per,
                records_read=t.get("records_read", 0.0) * per,
            )

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    knn = log["layers"].get("operators.knn.knn_kring", {})
    pip = log["layers"].get("operators.pip.points_in_polygons_bucketed", {})
    batch = log["layers"].get("operators.extract.bbox_extract_batch", {})
    values = {
        "operators.knn.knn_kring.rows_scanned_per_result": ratio(
            knn.get("records_read", 0.0), tracer.counters["knn_results"]
        ),
        "operators.pip.points_in_polygons_bucketed.candidates_per_match": ratio(
            pip.get("eval_rows", 0.0), tracer.counters["pip_matches"]
        ),
        "operators.extract.bbox_extract_batch.shuffle_bytes_per_row": ratio(
            batch.get("shuffle_bytes", 0.0), tracer.counters["batch_rows"]
        ),
        "sources.pbf.write_pbf.bytes_written": ratio(
            tracer.counters["pbf_bytes"], tracer.calls.get("sources.pbf.write_pbf", 0)
        ),
        "sources.vex.write_vex.bytes_written": ratio(
            tracer.counters["vex_bytes"], tracer.calls.get("sources.vex.write_vex", 0)
        ),
        "spark.gc_s": log["engine"].get("gc_ms", 0.0) / 1e3,
        "spark.spill_bytes": log["engine"].get("spill", 0.0),
        "bench.ops_per_s": ops_per_s,
    }
    for name, unit in RATIOS + ENGINE:
        metrics[name] = {"value": values[name], "unit": unit}
    return metrics, detail
