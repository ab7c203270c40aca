"""CLI end-to-end tileset benchmark.

Generates a workload's GeoJSON input from a seed, then builds a tileset
from it with ``tippecanoe_spark.cli.main`` in fresh driver processes
(``worker.py``), checks every written tileset and prints one JSON line of
metrics.  See README.md in this directory for the workloads and metrics.

    python3 clibench/run.py --workload points --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics: build processes (each sets
up a SparkSession and builds once) until ``--seconds`` of build time is
measured.  ``--trace 1`` prints the per-layer metrics of one traced
build.  The exit code is 0 only if every build ran and passed its
output check.
"""

from __future__ import annotations

import argparse
import compileall
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # a run must end within 180 s
CPUS = min(2, len(os.sched_getaffinity(0)))  # --cpus and SPARK_GRAFT_CPUS

# -l fixes the layer name; -Z/-z keep each build to a few zooms (see README)
WORKLOADS = {
    "points": {
        "flags": ["-l", "points", "-Z", "9", "-z", "10",
                  "--drop-densest-as-needed", "-M", "5000"],
        "zooms": (9, 10),
        "min_passes": 2,
    },
    "shapes": {
        "flags": ["-l", "shapes", "-Z", "9", "-z", "9"],
        "zooms": (9, 9),
        "min_passes": 1,
    },
}

END_TO_END = [
    ("build_s", "s"),
    ("setup_s", "s"),
    ("features_per_s", "1/s"),
    ("tiles_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("driver_peak_rss_mb", "MB"),
    ("output_bytes", "bytes"),
]


def program_digest() -> str:
    """sha256 over the engine's sources: "the same commit" for the
    tileset_sha history."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "tippecanoe_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def driver_mem() -> str:
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{min(2048, total_kb // 4096)}m"  # 2 GiB, or a quarter of RAM if less


def machine_state() -> dict:
    """Load average and cumulative steal time of the machine, and the time
    of a fixed pure-Python loop: a record of how busy and how fast the
    machine was, printed beside the metrics."""
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc ^= i * 7
    return {"loadavg": load, "steal_s": steal, "loop_s": time.perf_counter() - t}


def stop_orphans(deadline: float) -> None:
    """Terminate and reap every process left under this one (the JVM and
    the Python worker daemon re-parent here when a worker exits)."""
    from worker import tree_pids

    sig = signal.SIGTERM
    while True:
        left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if not left:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def run_worker(mode: str, wdir: str, cpus: int, deadline: float,
               input_path: str, out: str, flags: list) -> dict | None:
    """Start one fresh worker process; returns its result, or None if it
    failed or ran past the deadline."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(wdir, sub), exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,  # the Python workers import tippecanoe_spark
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cpus),  # shuffle partitions = --cpus
        SPARK_DRIVER_MEM=driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(wdir, "local"),
        TMPDIR=os.path.join(wdir, "tmp"),
        # the launcher JVM spark-submit runs before the driver JVM
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={wdir}/tmp",
    )
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    result = os.path.join(wdir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
        "--work", wdir, "--cpus", str(cpus), "--result", result,
        "--input", input_path, "--out", out, "--flags", json.dumps(flags),
    ]
    with open(os.path.join(wdir, "worker.log"), "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], env=env, cwd=wdir,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            from worker import tree_pids

            for p in tree_pids(proc.pid):
                os.kill(p, signal.SIGKILL)
            proc.wait()
            rc = None
    stop_orphans(time.time() + 10)
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(wdir, "worker.log")) as fh:
            tail = fh.read()[-3000:]
        print(f"{mode} worker failed (exit {rc}):\n{tail}", file=sys.stderr)
        return None
    with open(result) as fh:
        return json.load(fh)


def load_history(name: str) -> dict:
    path = os.path.join(WORK, name)
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return {}


def save_history(name: str, hist: dict) -> None:
    path = os.path.join(WORK, name)
    with open(path + ".tmp", "w") as fh:
        json.dump(hist, fh, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    start = time.time()
    deadline = start + RUN_LIMIT_S

    if not os.path.exists(os.path.join(ROOT, "tippecanoe_spark", "cli.py")):
        print(f"no tippecanoe_spark package under {ROOT}", file=sys.stderr)
        return 2
    # byte-compile the engine once per checkout, as an install would, so a
    # checkout's first build does not also pay for compiling it
    compileall.compile_dir(os.path.join(ROOT, "tippecanoe_spark"), quiet=1)
    sys.path.insert(0, ROOT)
    import check
    import gen
    import tracing

    # orphaned JVMs / Python daemons re-parent to this process, which
    # stops them after each worker (PR_SET_CHILD_SUBREAPER = 36)
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)

    machine = {"start": machine_state()}
    wl = WORKLOADS[args.workload]
    # the engine as built: workload, size, sources and flags (not the seed)
    engine = "/".join([args.workload, args.size, program_digest()[:16],
                       " ".join(wl["flags"]), str(CPUS)])
    plain_hist = load_history("plain_build_s.json")
    info = gen.generate(args.workload, args.size, args.seed, os.path.join(WORK, "inputs"))
    minzoom, maxzoom = wl["zooms"]
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(WORK, "runs"))
    attempted = failed = 0
    builds: list[dict] = []
    trace_res = None
    shas: set[str] = set()

    def build(mode: str) -> dict | None:
        nonlocal attempted, failed
        attempted += 1
        wdir = os.path.join(run_dir, f"w{attempted}")
        out = os.path.join(wdir, f"{args.workload}.mbtiles")
        t = time.time()
        res = run_worker(mode, wdir, CPUS, deadline, info["path"], out, wl["flags"])
        if res is not None:
            res["wall_s"] = time.time() - t
            try:
                got = check.check_tileset(out, minzoom, maxzoom, args.workload,
                                          (gen.LON0, gen.LAT0, gen.LON1, gen.LAT1))
                passes = max(m["max_passes"] for m in res["manifests"])
                if passes < wl["min_passes"]:
                    raise check.CheckFailed(f"max_passes {passes} < {wl['min_passes']}")
                res.update(got, output_bytes=os.path.getsize(out), max_passes=passes)
                shas.add(got["tileset_sha"])
            except (check.CheckFailed, OSError, KeyError, ValueError) as exc:
                print(f"{mode} output check failed: {exc!r}", file=sys.stderr)
                res = None
        if res is None:
            failed += 1
        return res

    try:
        if args.trace:
            # one traced build; a plain one too only while no plain build of
            # this workload and engine is on record to set trace.overhead_s by
            trace_res = build("trace")
            if (trace_res and not plain_hist.get(engine)
                    and deadline - time.time() > 1.5 * trace_res["wall_s"]):
                res = build("build")
                if res:
                    builds.append(res)
        else:
            measured = 0.0
            while True:
                res = build("build")
                if res is None:
                    break
                builds.append(res)
                measured += res["build_s"]
                if (measured >= args.seconds
                        or deadline - time.time() < 1.5 * res["wall_s"]):
                    break
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    machine["end"] = machine_state()

    key = "/".join([engine, str(args.seed), info["sha256"][:16]])
    hist = load_history("tileset_shas.json")
    if hist.get(key) is not None:
        shas.add(hist[key])
    if len(shas) > 1:
        print(f"tileset_sha differs between builds of one input: {sorted(shas)}",
              file=sys.stderr)
        failed = max(failed, 1)
    elif shas and key not in hist:
        hist[key] = next(iter(shas))
        save_history("tileset_shas.json", hist)
    if builds:  # the last 50 plain builds of this workload on this engine
        plain_hist[engine] = (plain_hist.get(engine, []) + [b["build_s"] for b in builds])[-50:]
        save_history("plain_build_s.json", plain_hist)

    metrics: dict[str, dict] = {}
    if args.trace and trace_res and not plain_hist.get(engine):
        print("no plain build on record and no time left for one: "
              "trace.overhead_s is unknown", file=sys.stderr)
        failed += 1
    elif args.trace and trace_res:
        vals = tracing.layer_metrics(trace_res, info["features"], info["bytes"],
                                     trace_res["output_bytes"],
                                     statistics.median(plain_hist[engine]), CPUS)
        for name, unit in tracing.PER_LAYER:
            metrics[name] = {"value": vals[name], "unit": unit}
        span_dir = os.path.join(WORK, "spans")
        os.makedirs(span_dir, exist_ok=True)
        with open(os.path.join(span_dir, os.path.basename(run_dir) + ".json"), "w") as fh:
            json.dump(trace_res["spans"], fh, indent=1)
    elif builds:
        med = {k: statistics.median(b[k] for b in builds)
               for k in ("build_s", "cpu_s", "peak_rss_mb", "driver_peak_rss_mb",
                         "output_bytes", "tiles")}
        vals = {
            "build_s": med["build_s"],
            "setup_s": statistics.median(b["setup_s"] for b in builds),
            "features_per_s": info["features"] / med["build_s"],
            "tiles_per_s": med["tiles"] / med["build_s"],
            "cpu_s": med["cpu_s"],
            "peak_rss_mb": med["peak_rss_mb"],
            "driver_peak_rss_mb": med["driver_peak_rss_mb"],
            "output_bytes": med["output_bytes"],
        }
        for name, unit in END_TO_END:
            metrics[name] = {"value": vals[name], "unit": unit}

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cpus": CPUS, "flags": wl["flags"],
        "input": {k: info[k] for k in ("features", "sha256", "bytes")},
        "tileset_sha": sorted(shas),
        "build_s": [b["build_s"] for b in builds],
        "traced_build_s": trace_res["build_s"] if trace_res else None,
        "setup_s": [b["setup_s"] for b in builds],
        "tiles": [b["tiles"] for b in builds],
        "peak_rss_roles": [b["peak_rss_roles"] for b in builds], "machine": machine,
    }))
    ok = failed == 0 and bool(metrics)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
