"""One benchmark driver process.

``run.py`` starts this file as a fresh process for every sample, the way
a user starts ``python -m tippecanoe_spark.cli``.  It creates the
SparkSession through ``session.get_spark`` (timed from the moment the
parent launched the process: ``setup_s``), then in ``build`` mode calls
``cli.main`` once, and in ``trace`` mode calls it with its layer calls
wrapped in spans and a Spark event log (see ``tracing.py``).  While the
build runs, a sampler thread reads ``/proc`` for the process tree this
process heads (Python driver, JVM, Python workers) to give CPU seconds
and peak RSS.
The result is one JSON file named by ``--result``.

    python3 clibench/worker.py --mode build --t0 <epoch s> --input in.ndjson \
        --out out.mbtiles --work <run dir> --cpus 4 --flags '["-z","10"]' \
        --result res.json
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name; index 0 is
    field 3 (state) of proc(5)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU of the processes, including their reaped
    children (cutime/cstime), in seconds."""
    total = 0
    for p in pids:
        st = _stat(p)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / CLK_TCK


def tree_rss_bytes(pids: list[int]) -> dict[int, int]:
    """RSS of each live process among ``pids``, leaving out a child that
    still shares its parent's address space: the JVM starts processes
    with posix_spawn, whose vfork'd child reads the JVM's whole RSS until
    it execs, and counting it would double the JVM.  A Python worker just
    forked from the daemon, whose pages are all still the daemon's, is
    left out the same way."""
    st = {p: _stat(p) for p in pids}
    out = {}
    for p, s in st.items():
        if s is None:
            continue
        parent = st.get(int(s[1]))
        if parent is not None and parent[20] == s[20]:  # same vsize
            continue
        out[p] = int(s[21]) * PAGE
    return out


def _role(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().split(b"\0")
    except OSError:
        return "gone"
    if pid == os.getpid():
        return "driver"
    if argv and argv[0].endswith(b"java"):
        return "jvm"
    return "python_worker" if b"pyspark.daemon" in argv else "other"


def vm_hwm_bytes() -> int:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


class TreeMonitor:
    """CPU seconds and peak RSS of this process's tree over a window.
    Peak RSS is sampled every ``interval`` seconds; the driver's own peak
    comes from the kernel's high-water mark, reset at the window start."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _take(self) -> None:
        rss = tree_rss_bytes(tree_pids(self.root))
        total = sum(rss.values())
        if total > self.peak_rss:
            self.peak_rss = total
            roles: dict[str, list[int]] = {}
            for p, b in rss.items():
                roles.setdefault(_role(p), []).append(b)
            self.peak_roles = {k: [len(v), sum(v) / 2**20] for k, v in roles.items()}

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self._take()

    def __enter__(self) -> "TreeMonitor":
        try:  # "5" resets VmHWM (proc(5), clear_refs)
            with open("/proc/self/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass
        self.cpu0 = tree_cpu_s(tree_pids(self.root))
        self.peak_rss = 0
        self._take()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._take()
        self.cpu_s = tree_cpu_s(tree_pids(self.root)) - self.cpu0
        self.driver_peak_rss = vm_hwm_bytes()


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Keeps every file the JVM writes inside the run directory and gives
    the driver JVM a fixed, pre-touched heap (initial = maximum =
    ``SPARK_DRIVER_MEM``), so the JVM's share of the tree's RSS does not
    follow G1's timing-driven heap growth; the traced run adds an
    uncompressed, non-rolling event log."""
    tmp = os.path.join(work, "tmp")
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def read_manifests(ckpt: str) -> list[dict]:
    out = []
    for f in sorted(os.listdir(ckpt)):
        if f.startswith("_zoom_") and f.endswith(".json"):
            with open(os.path.join(ckpt, f)) as fh:
                out.append(json.load(fh))
    return sorted(out, key=lambda m: m["z"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("build", "trace"), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--input")
    ap.add_argument("--out")
    ap.add_argument("--flags", default="[]")
    args = ap.parse_args()

    from tippecanoe_spark.session import get_spark

    spark = get_spark(
        app="clibench", master=f"local[{args.cpus}]",
        extra=session_conf(args.work, args.mode == "trace"),
    )
    res: dict = {"setup_s": time.time() - args.t0}
    spark.sparkContext.setLogLevel("ERROR")
    ckpt = os.path.join(args.work, "ckpt")
    argv = [
        "-o", args.out, "--checkpoint-dir", ckpt, "--cpus", str(args.cpus),
        *json.loads(args.flags), args.input,
    ]
    from tippecanoe_spark import cli

    if args.mode == "trace":
        import tracing

        tracer = tracing.Tracer(spark, run_id=os.path.basename(args.work))
    with TreeMonitor() as mon:
        t = time.time()
        if args.mode == "build":
            rc = cli.main(argv)
        else:
            rc, layer = tracing.traced_main(argv, tracer)
        res["build_s"] = time.time() - t
    res.update(
        rc=rc,
        cpu_s=mon.cpu_s,
        peak_rss_mb=mon.peak_rss / 2**20,
        peak_rss_roles=mon.peak_roles,
        driver_peak_rss_mb=mon.driver_peak_rss / 2**20,
        manifests=read_manifests(ckpt),
        checkpoint_bytes=sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(ckpt) for f in fs
        ),
    )
    spark.stop()
    if res["rc"]:
        raise SystemExit(f"cli.main returned {res['rc']}")
    if args.mode == "trace":
        res["spans"] = tracer.spans
        res["events"] = tracing.aggregate_event_log(os.path.join(args.work, "events"))
        res["layer"] = layer
    with open(args.result, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
