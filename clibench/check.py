"""Output checks for one written tileset.

Every tile is gunzipped and decoded with ``mvt.decode_tile``; the zoom
range, tile coordinates, metadata and bounds are checked against what
the build was asked for.  ``tileset_sha`` rolls (z, x, y, sha256(tile))
over the sorted tiles, so two builds agree on it exactly when they wrote
the same tiles.
"""

from __future__ import annotations

import hashlib
import json
import sqlite3

from tippecanoe_spark import mvt


class CheckFailed(Exception):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _mbtiles(path: str):
    try:
        con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            meta = dict(con.execute("SELECT name, value FROM metadata"))
            rows = [
                (z, x, (1 << z) - 1 - row, bytes(data))
                for z, x, row, data in con.execute(
                    "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
                )
            ]
        finally:
            con.close()
    except sqlite3.Error as exc:
        raise CheckFailed(f"unreadable mbtiles: {exc}") from exc
    return meta, rows


def check_tileset(path: str, minzoom: int, maxzoom: int, layer: str,
                  region: tuple[float, float, float, float]) -> dict:
    """Raise CheckFailed unless ``path`` is a complete .mbtiles for
    z``minzoom``..z``maxzoom`` with one layer named ``layer`` whose
    bounds lie inside ``region`` (w, s, e, n).  Returns the tile count,
    decoded feature count and ``tileset_sha``."""
    meta, rows = _mbtiles(path)
    _require(rows, "no tiles")
    _require(int(meta["minzoom"]) == minzoom and int(meta["maxzoom"]) == maxzoom,
             f"metadata zooms {meta['minzoom']}-{meta['maxzoom']}")
    w, s, e, n = (float(v) for v in meta["bounds"].split(","))
    rw, rs, re_, rn = region
    eps = 1e-6
    _require(rw - eps <= w < e <= re_ + eps and rs - eps <= s < n <= rn + eps,
             f"bounds {meta['bounds']} outside {region}")
    layers = [v["id"] for v in json.loads(meta["json"])["vector_layers"]]
    _require(layers == [layer], f"vector_layers {layers}")
    zooms = set()
    feats = 0
    lines = []
    for z, x, y, data in sorted(rows):
        _require(0 <= x < (1 << z) and 0 <= y < (1 << z), f"tile {z}/{x}/{y} off the grid")
        decoded = mvt.decode_tile(mvt.gunzip_tile(data))
        _require([t["name"] for t in decoded] == [layer], f"tile {z}/{x}/{y} layers")
        nf = sum(len(t["features"]) for t in decoded)
        _require(nf > 0, f"tile {z}/{x}/{y} is empty")
        feats += nf
        zooms.add(z)
        lines.append(f"{z}/{x}/{y}/{hashlib.sha256(data).hexdigest()}\n")
    _require(zooms == set(range(minzoom, maxzoom + 1)), f"zooms {sorted(zooms)}")
    return {
        "tiles": len(rows),
        "features": feats,
        "tileset_sha": hashlib.sha256("".join(lines).encode()).hexdigest(),
    }
