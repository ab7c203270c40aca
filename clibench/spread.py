"""Median and quartile spread of benchmark results.

Reads result lines (the last stdout line of ``run.py``, one per run) from
the files given, or stdin, and prints for each metric the median, the
quartiles and (Q3 - Q1) / median, as ``statistics.quantiles(n=4)`` gives
them, next to the metric's bound from BENCHMARK.json.

    for s in 1 2 3 4 5; do python3 clibench/run.py --workload points \
        --seed $s --seconds 20 --trace 0 | tail -1; done | python3 clibench/spread.py
"""

from __future__ import annotations

import fileinput
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    values: dict[str, list[float]] = {}
    runs = failed = 0
    for line in fileinput.input():
        if not line.startswith("{"):
            continue
        res = json.loads(line)
        if "metrics" not in res:  # the record line before a result
            continue
        runs += 1
        failed += res["failed"] > 0 or not res["correct"]
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{runs} runs, {failed} failed")
    for name, vals in values.items():
        med = statistics.median(vals)
        if len(vals) < 2:
            print(f"{name:24s} median {med:.6g} (one run)")
            continue
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        flag = "" if bound is None else f" bound {bound} {'ok' if spread <= bound / 3 else 'WIDE'}"
        print(f"{name:24s} median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {spread:.3f}{flag}")


if __name__ == "__main__":
    main()
