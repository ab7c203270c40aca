"""Seeded input generators for the CLI benchmark workloads.

Each generator writes one GeoJSON file whose content depends only on
(workload, size, seed).  Feature counts and vertex counts depend on the
size alone, so different seeds give inputs of the same shape at other
places on the map.  Files are cached by (workload, size, seed); the
cache entry carries the file's feature count and sha256.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

# Per-size knobs.  "full" is what the benchmark measures; "tiny" is for the
# smoke test and keeps every code path (multi-pass drop, sweep clean,
# whole-file read) while finishing in seconds.
SIZES = {
    "points": {
        "full": {"n": 8000, "centres": 30},
        "tiny": {"n": 3000, "centres": 8},
    },
    "shapes": {
        "full": {"polys": 40, "big": 1, "lines": 20},
        "tiny": {"polys": 12, "big": 1, "lines": 6},
    },
}

# Region the features fall in: Europe-sized, away from the antimeridian
# and the poles, so no dateline twins or latitude clamping are involved.
LON0, LON1, LAT0, LAT1 = -10.0, 30.0, 36.0, 60.0

CATS = ("cafe", "school", "park", "shop", "bank", "clinic", "hotel", "bar")


def _r6(v: float) -> float:
    return round(v, 6)


def _points(rng: random.Random, n: int, centres: int):
    """``n`` points around ``centres`` Zipf-weighted cluster centres.
    Cluster k holds a 1/(k+1) share of the points and spreads with a
    radius fixed by its rank, so only the centres move with the seed."""
    weights = [1.0 / (k + 1) for k in range(centres)]
    total = sum(weights)
    counts = [int(n * w / total) for w in weights]
    counts[0] += n - sum(counts)
    fid = 0
    for k, cnt in enumerate(counts):
        cx = rng.uniform(LON0 + 2, LON1 - 2)
        cy = rng.uniform(LAT0 + 2, LAT1 - 2)
        sigma = 0.02 + 0.3 * k / centres
        for _ in range(cnt):
            x = min(max(rng.gauss(cx, sigma), LON0), LON1)
            y = min(max(rng.gauss(cy, sigma), LAT0), LAT1)
            yield {
                "type": "Feature",
                "properties": {
                    "id": fid,
                    "cat": CATS[rng.randrange(len(CATS))],
                    "val": round(rng.uniform(0, 1000), 2),
                },
                "geometry": {"type": "Point", "coordinates": [_r6(x), _r6(y)]},
            }
            fid += 1


def _star_ring(rng: random.Random, cx: float, cy: float, r: float,
               nv: int, ccw: bool) -> list[list[float]]:
    """Closed star-shaped ring of ``nv`` distinct vertices: the radius
    wobbles between 0.8r and r, so the ring is simple by construction."""
    pts = []
    for i in range(nv):
        a = 2 * math.pi * i / nv
        rr = r * (0.8 + 0.2 * rng.random())
        pts.append([_r6(cx + rr * math.cos(a)), _r6(cy + rr * math.sin(a) * 0.7)])
    if not ccw:
        pts.reverse()
    pts.append(list(pts[0]))
    return pts


def _walk(rng: random.Random, nv: int, step: float) -> list[list[float]]:
    """Random walk of ``nv`` vertices with a slowly turning heading."""
    x = rng.uniform(LON0 + 3, LON1 - 3)
    y = rng.uniform(LAT0 + 3, LAT1 - 3)
    h = rng.uniform(0, 2 * math.pi)
    pts = []
    for _ in range(nv):
        pts.append([_r6(x), _r6(y)])
        h += rng.gauss(0, 0.25)
        x = min(max(x + step * math.cos(h), LON0), LON1)
        y = min(max(y + step * math.sin(h), LAT0), LAT1)
    return pts


def _shapes(rng: random.Random, polys: int, big: int, lines: int):
    fid = 0
    for i in range(polys):
        cx = rng.uniform(LON0 + 1, LON1 - 1)
        cy = rng.uniform(LAT0 + 1, LAT1 - 1)
        r = 0.15 + 0.35 * (i % 7) / 6
        rings = [_star_ring(rng, cx, cy, r, 256, True)]
        for j in range(1 + i % 2):  # one or two holes, inside 0.8r
            off = (-0.3 if j == 0 else 0.3) * r
            rings.append(_star_ring(rng, cx + off, cy, 0.2 * r, 48, False))
        yield {
            "type": "Feature",
            "properties": {"id": fid, "kind": "area", "rank": i % 5},
            "geometry": {"type": "Polygon", "coordinates": rings},
        }
        fid += 1
    for i in range(big):
        # over 4096 vertices: rings_need_cleaning sends these to the sweep
        cx = rng.uniform(LON0 + 4, LON1 - 4)
        cy = rng.uniform(LAT0 + 4, LAT1 - 4)
        yield {
            "type": "Feature",
            "properties": {"id": fid, "kind": "coast", "rank": i},
            "geometry": {
                "type": "Polygon",
                "coordinates": [_star_ring(rng, cx, cy, 2.5, 4500, True)],
            },
        }
        fid += 1
    for i in range(lines):
        yield {
            "type": "Feature",
            "properties": {"id": fid, "kind": "road", "rank": i % 3},
            "geometry": {"type": "LineString", "coordinates": _walk(rng, 500, 0.01)},
        }
        fid += 1


def _write_ndjson(path: str, feats) -> int:
    n = 0
    with open(path, "w") as fh:
        for f in feats:
            fh.write(json.dumps(f, separators=(",", ":")) + "\n")
            n += 1
    return n


def _write_collection(path: str, feats) -> int:
    """One FeatureCollection spread over many lines (one feature a line,
    the wrapper on lines of its own), so the line reader rejects it and
    the whole-file reader parses it."""
    n = 0
    with open(path, "w") as fh:
        fh.write('{"type": "FeatureCollection",\n"features": [\n')
        for f in feats:
            if n:
                fh.write(",\n")
            fh.write(json.dumps(f, separators=(",", ":")))
            n += 1
        fh.write("\n]}\n")
    return n


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def generate(workload: str, size: str, seed: int, cache_dir: str) -> dict:
    """Write (or reuse) the input for one workload; returns
    ``{"path", "features", "sha256", "bytes"}``."""
    knobs = SIZES[workload][size]
    ext = ".geojson" if workload == "shapes" else ".ndjson"
    os.makedirs(cache_dir, exist_ok=True)
    tag = hashlib.sha256(json.dumps(knobs, sort_keys=True).encode()).hexdigest()
    stem = os.path.join(cache_dir, f"{workload}-{size}-{seed}-{tag[:10]}")
    path, info_path = stem + ext, stem + ".json"
    if os.path.exists(info_path) and os.path.exists(path):
        with open(info_path) as fh:
            info = json.load(fh)
        if info.get("sha256") == _sha256(path):
            return info
    rng = random.Random(f"{workload}/{size}/{seed}")
    if workload == "points":
        n = _write_ndjson(path, _points(rng, **knobs))
    else:
        n = _write_collection(path, _shapes(rng, **knobs))
    info = {
        "path": path,
        "features": n,
        "sha256": _sha256(path),
        "bytes": os.path.getsize(path),
    }
    tmp = info_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(info, fh)
    os.replace(tmp, info_path)
    return info
