"""Traced run of ``cli.main`` and the per-layer metrics it yields.

``traced_main`` calls ``cli.main`` itself, with the layer calls it makes

    cli.read_inputs -> pyramid.build_pyramid
    -> sinks.bounds_from_features -> sinks.export_mbtiles_streaming

wrapped for the length of the call.  Each call runs inside a span (name, start, end, parent, run id, kept in
memory) whose name is also the Spark job group, so the event log splits
jobs, tasks, shuffle and GC by layer.  Python UDF time and Arrow bytes
come from the plan nodes' SQL metrics ("time to run Python workers",
"data sent to / returned from Python workers", "time to initialize /
start Python workers"), attributed to a layer by the UDF named in the
node.  ``StatsObserver.observe`` is timed from here by wrapping it the
same way.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time

# (metric, unit) printed by a traced run, in BENCHMARK.json order
PER_LAYER = [
    ("sources.wall_s", "s"),
    ("sources.parses", "count"),
    ("sources.py_run_s", "s"),
    ("sources.features", "count"),
    ("sources.input_bytes", "bytes"),
    ("sources.scan_tasks", "count"),
    ("sources.max_task_s", "s"),
    ("minzoom.py_run_s", "s"),
    ("minzoom.features", "count"),
    ("tile.assign_rows", "count"),
    ("tile.fanout", "ratio"),
    ("tile.kernel_py_run_s", "s"),
    ("tile.py_bytes_sent", "bytes"),
    ("tile.py_bytes_returned", "bytes"),
    ("tile.py_init_s", "s"),
    ("tile.keep_ratio", "ratio"),
    ("tile.max_passes", "count"),
    ("tile.hot_tiles_split", "count"),
    ("pyramid.wall_s", "s"),
    ("pyramid.jobs", "count"),
    ("pyramid.stages", "count"),
    ("pyramid.tasks", "count"),
    ("pyramid.task_s", "s"),
    ("pyramid.busy_ratio", "ratio"),
    ("pyramid.tiles", "count"),
    ("pyramid.checkpoint_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"),
    ("shuffle.spill_bytes", "bytes"),
    ("shuffle.task_skew", "ratio"),
    ("jvm.gc_s", "s"),
    ("sinks.bounds_s", "s"),
    ("sinks.export_s", "s"),
    ("sinks.tilestats_s", "s"),
    ("sinks.tiles", "count"),
    ("sinks.bytes", "bytes"),
    ("trace.overhead_s", "s"),
    ("trace.span_coverage", "ratio"),
]


class Tracer:
    """Nested spans kept in memory; each span's name is the Spark job
    group of the jobs started inside it."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._group(parent)
            self.spans.append({
                "name": name, "start": start, "end": end,
                "parent": parent, "run_id": self.run_id,
            })


def traced_main(argv: list[str], tracer: Tracer) -> tuple[int, dict]:
    """``cli.main(argv)`` under a root span ``build``, with its layer calls
    wrapped in spans for the length of the call:

        cli.read_inputs -> sources
        pyramid.build_pyramid -> pyramid
        sinks.bounds_from_features -> sinks.bounds
        sinks.export_mbtiles_streaming / export_dirtiles_streaming -> sinks.export

    ``cli.main`` imports ``pyramid`` and ``sinks`` when called, so patching
    the module attributes reaches it.  ``StatsObserver.observe`` is timed
    the same way.  Returns (exit code, {"sinks.tiles", "sinks.tilestats_s"}).
    """
    from tippecanoe_spark import cli, pyramid, sinks

    layer = {"sinks.tiles": 0, "sinks.tilestats_s": 0.0}

    def spanned(name: str, fn, tiles: bool = False):
        def call(*a, **kw):
            with tracer.span(name):
                out = fn(*a, **kw)
            if tiles:
                layer["sinks.tiles"] = out
            return out
        return call

    observe = sinks.StatsObserver.observe

    def timed_observe(self, row):
        t = time.perf_counter()
        try:
            observe(self, row)
        finally:
            layer["sinks.tilestats_s"] += time.perf_counter() - t

    wraps = [
        (cli, "read_inputs", spanned("sources", cli.read_inputs)),
        (pyramid, "build_pyramid", spanned("pyramid", pyramid.build_pyramid)),
        (sinks, "bounds_from_features",
         spanned("sinks.bounds", sinks.bounds_from_features)),
        (sinks, "export_mbtiles_streaming",
         spanned("sinks.export", sinks.export_mbtiles_streaming, tiles=True)),
        (sinks, "export_dirtiles_streaming",
         spanned("sinks.export", sinks.export_dirtiles_streaming, tiles=True)),
        (sinks.StatsObserver, "observe", timed_observe),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in wraps]
    for obj, attr, fn in wraps:
        setattr(obj, attr, fn)
    try:
        with tracer.span("build"):
            rc = cli.main(argv)
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)
    return rc, layer


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_PY_NODE = re.compile(r"^(\w+)\s+([^\s(]+)\((.*?)\)#\d+, \[(.*)$")


def _udf_layer(simple: str) -> tuple[str, str] | None:
    """(layer, udf name) of a Python plan node, from its simpleString
    ``MapInPandas <udf>(<inputs>)#id, [<outputs>] ...``."""
    m = _PY_NODE.match(simple)
    if not m:
        return None
    node, udf, inputs, outputs = m.groups()
    if "Pandas" not in node and "Python" not in node:
        return None
    if udf == "gen_lines" or (udf == "gen" and inputs.startswith("value#")):
        return "sources", udf
    if udf == "gen" and "feature_minzoom#" in outputs:
        return "minzoom", udf
    return "tile", udf  # stream kernel, line walk, hot-tile group UDFs


_UDF_METRICS = {
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
    "time to initialize Python workers": "init_ms",
    "time to start Python workers": "init_ms",
    "number of output rows": "rows",
}


def _load_events(events_dir: str) -> list[dict]:
    logs = [f for f in os.listdir(events_dir) if not f.startswith(".")]
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {events_dir}: {logs}")
    with open(os.path.join(events_dir, logs[0])) as fh:
        return [json.loads(line) for line in fh]


def aggregate_event_log(events_dir: str) -> dict:
    """Per job group and per UDF layer totals from one application's
    uncompressed event log."""
    events = _load_events(events_dir)

    acc: dict[int, tuple[str, str, str, float]] = {}  # id -> layer, udf, key, scale

    def walk(node: dict) -> None:
        hit = _udf_layer(node.get("simpleString", ""))
        if hit:
            for m in node.get("metrics", []):
                key = _UDF_METRICS.get(m["name"])
                if key:
                    scale = 1e-6 if m.get("metricType") == "nsTiming" else 1.0
                    acc[m["accumulatorId"]] = (*hit, key, scale)
        for c in node.get("children", []):
            walk(c)

    job_group: dict[int, str | None] = {}
    job_exec: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_wall: dict[int, float] = {}
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            job_group[jid] = props.get("spark.jobGroup.id")
            job_exec[jid] = props.get("spark.sql.execution.id")
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" in si and "Completion Time" in si:
                stage_wall[si["Stage ID"]] = (
                    si["Completion Time"] - si["Submission Time"]
                ) / 1000

    groups: dict[str, dict] = {}
    udf: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_udfs: dict[int, set] = {}
    for jid, g in job_group.items():
        grp = groups.setdefault(g or "", _zero_group())
        grp["jobs"] += 1
    for sid, jid in stage_job.items():
        if sid in stage_wall:
            groups.setdefault(job_group.get(jid) or "", _zero_group())["stages"] += 1
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        jid = stage_job.get(sid)
        grp = groups.setdefault(job_group.get(jid) or "", _zero_group())
        ti = e["Task Info"]
        tm = e.get("Task Metrics") or {}
        dur = (ti["Finish Time"] - ti["Launch Time"]) / 1000
        stage_tasks.setdefault(sid, []).append(dur)
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        grp["tasks"] += 1
        grp["task_s"] += tm.get("Executor Run Time", 0) / 1000
        grp["gc_s"] += tm.get("JVM GC Time", 0) / 1000
        grp["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        grp["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        grp["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000
        grp["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        for a in ti.get("Accumulables", []):
            hit = acc.get(a.get("ID"))
            if hit is None or a.get("Update") is None:
                continue
            layer, name, key, scale = hit
            u = udf.setdefault(layer, {"run_ms": 0.0, "sent": 0.0, "returned": 0.0,
                                       "init_ms": 0.0, "rows": 0.0, "execs": set()})
            u[key] += float(a["Update"]) * scale
            u["execs"].add(job_exec.get(jid))
            stage_udfs.setdefault(sid, set()).add((layer, name))

    def stages_of(pred) -> list[int]:
        return [s for s, names in stage_udfs.items() if any(pred(*n) for n in names)]

    src = stages_of(lambda layer, name: layer == "sources")
    kern = stages_of(lambda layer, name: name == "kernel")
    skews = [
        max(stage_tasks[s]) / statistics.median(stage_tasks[s])
        for s in kern if stage_tasks.get(s) and statistics.median(stage_tasks[s]) > 0
    ]
    return {
        "groups": groups,
        "udf": {k: {**v, "execs": len(v["execs"])} for k, v in udf.items()},
        "sources_wall_s": sum(stage_wall.get(s, 0.0) for s in src),
        "sources_scan_tasks": max((len(stage_tasks.get(s, [])) for s in src), default=0),
        "sources_max_task_s": max((max(stage_tasks.get(s, [0.0])) for s in src), default=0.0),
        "kernel_task_skew": max(skews, default=1.0),
    }


def _zero_group() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_write": 0, "shuffle_read": 0, "fetch_wait_s": 0.0, "spill": 0}


def span_coverage(spans: list[dict]) -> float:
    """Share of the root span's wall covered by its direct children."""
    root = next(s for s in spans if s["parent"] is None)
    kids = sorted((s["start"], s["end"]) for s in spans if s["parent"] == root["name"])
    covered, cur = 0.0, root["start"]
    for a, b in kids:
        a = max(a, cur)
        if b > a:
            covered += b - a
            cur = b
    return covered / max(root["end"] - root["start"], 1e-9)


def layer_metrics(res: dict, features: int, input_bytes: int, output_bytes: int,
                  plain_build_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced worker result (see PER_LAYER);
    ``plain_build_s`` is the median untraced build of the same workload."""
    ev, mans = res["events"], res["manifests"]
    spans = {s["name"]: s["end"] - s["start"] for s in res["spans"]}
    pyr = ev["groups"].get("pyramid") or _zero_group()
    zero = {"run_ms": 0.0, "sent": 0.0, "returned": 0.0, "init_ms": 0.0,
            "rows": 0.0, "execs": 0}
    src = ev["udf"].get("sources", zero)
    mz = ev["udf"].get("minzoom", zero)
    tl = ev["udf"].get("tile", zero)
    n_in = sum(m["n_features_in"] for m in mans)
    n_out = sum(m["n_features_out"] for m in mans)
    build = [g for n, g in ev["groups"].items() if n]  # every span's jobs
    return {
        "sources.wall_s": ev["sources_wall_s"],
        "sources.parses": src["execs"],
        "sources.py_run_s": src["run_ms"] / 1000,
        "sources.features": features,
        "sources.input_bytes": input_bytes,
        "sources.scan_tasks": ev["sources_scan_tasks"],
        "sources.max_task_s": ev["sources_max_task_s"],
        "minzoom.py_run_s": mz["run_ms"] / 1000,
        "minzoom.features": mz["rows"],
        "tile.assign_rows": n_in,
        "tile.fanout": n_in / max(features, 1),
        "tile.kernel_py_run_s": tl["run_ms"] / 1000,
        "tile.py_bytes_sent": tl["sent"],
        "tile.py_bytes_returned": tl["returned"],
        "tile.py_init_s": tl["init_ms"] / 1000,
        "tile.keep_ratio": n_out / max(n_in, 1),
        "tile.max_passes": max((m["max_passes"] for m in mans), default=0),
        "tile.hot_tiles_split": sum(m["hot_tiles_split"] for m in mans),
        "pyramid.wall_s": spans["pyramid"],
        "pyramid.jobs": pyr["jobs"],
        "pyramid.stages": pyr["stages"],
        "pyramid.tasks": pyr["tasks"],
        "pyramid.task_s": pyr["task_s"],
        "pyramid.busy_ratio": pyr["task_s"] / (spans["pyramid"] * cores),
        "pyramid.tiles": sum(m["n_tiles"] for m in mans),
        "pyramid.checkpoint_bytes": res["checkpoint_bytes"],
        "shuffle.write_bytes": sum(g["shuffle_write"] for g in build),
        "shuffle.read_bytes": sum(g["shuffle_read"] for g in build),
        "shuffle.fetch_wait_s": sum(g["fetch_wait_s"] for g in build),
        "shuffle.spill_bytes": sum(g["spill"] for g in build),
        "shuffle.task_skew": ev["kernel_task_skew"],
        "jvm.gc_s": sum(g["gc_s"] for g in build),
        "sinks.bounds_s": spans["sinks.bounds"],
        "sinks.export_s": spans["sinks.export"],
        "sinks.tilestats_s": res["layer"]["sinks.tilestats_s"],
        "sinks.tiles": res["layer"]["sinks.tiles"],
        "sinks.bytes": output_bytes,
        "trace.overhead_s": res["build_s"] - plain_build_s,
        "trace.span_coverage": span_coverage(res["spans"]),
    }
