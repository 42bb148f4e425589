"""Reference answers computed in numpy, sharing no code with the engine.

* ``pip_pairs``: brute point-in-polygon by envelope scan (points pre-sorted
  by longitude) plus an even-odd ray cast per candidate pair.
* ``tiles``: slippy-map tile of each point at a zoom level.
* ``knn``: brute haversine distances of every query to every candidate,
  ranked by (distance, candidate id).

Join outputs are compared through an order-free ``checksum`` (row count and
two modular sums), which the engine computes inside the same Spark action
that produces its output, so the check collects four numbers, not the rows.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8
MAX_MERC_LAT = 85.05112878
KEY_MOD = 2147483647
PAIR_MUL = 1000003
TILE_MUL = 4099


def pip_pairs(lon, lat, rings):
    """(point_index, polygon_index) of every point strictly inside a ring."""
    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    pts_out, polys_out = [], []
    for j, (vx, vy) in enumerate(rings):
        lo, hi = np.searchsorted(slon, [vx.min(), vx.max()], side="left")
        cand = np.nonzero((slat[lo:hi] >= vy.min()) & (slat[lo:hi] <= vy.max()))[0] + lo
        if not len(cand):
            continue
        px, py = slon[cand][:, None], slat[cand][:, None]
        wx, wy = np.roll(vx, -1)[None, :], np.roll(vy, -1)[None, :]
        ax, ay = vx[None, :], vy[None, :]
        straddles = (ay > py) != (wy > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = (wx - ax) * (py - ay) / (wy - ay) + ax
        inside = ((straddles & (px < x_at)).sum(axis=1) % 2) == 1
        pts_out.append(order[cand[inside]])
        polys_out.append(np.full(int(inside.sum()), j, dtype=np.int64))
    if not pts_out:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(pts_out), np.concatenate(polys_out)


def tiles(lon, lat, zoom: int):
    n = 1 << zoom
    xn = (lon + 180.0) / 360.0
    latc = np.clip(lat, -MAX_MERC_LAT, MAX_MERC_LAT)
    yn = 0.5 - np.arcsinh(np.tan(np.radians(latc))) / (2.0 * np.pi)
    tx = np.clip(np.floor(xn * n), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor(yn * n), 0, n - 1).astype(np.int64)
    return tx, ty


def checksum(ids, keys, tx, ty) -> tuple[int, int, int]:
    """(rows, sum((id*PAIR_MUL + key) mod KEY_MOD), sum(tx*TILE_MUL + ty))."""
    ids = np.asarray(ids, np.int64)
    keys = np.asarray(keys, np.int64)
    pair = (ids * PAIR_MUL + keys) % KEY_MOD
    tile = np.asarray(tx, np.int64) * TILE_MUL + np.asarray(ty, np.int64)
    return int(len(ids)), int(pair.sum()), int(tile.sum())


def join_tiles_checksum(ids, lon, lat, rings, keys, zoom: int):
    """Checksum of spatial join (point x containing polygon) + tiles."""
    pi, gj = pip_pairs(lon, lat, rings)
    tx, ty = tiles(lon[pi], lat[pi], zoom)
    return checksum(ids[pi], keys[gj], tx, ty)


def haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((p2 - p1) * 0.5) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(
        (np.radians(lon2) - np.radians(lon1)) * 0.5) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def knn(qlon, qlat, clon, clat, cids, k: int):
    """(Q, k) candidate ids and their distances, ranked by (distance, id)."""
    ids_out = np.empty((len(qlon), k), np.int64)
    dist_out = np.empty((len(qlon), k))
    for i in range(len(qlon)):
        d = haversine_m(qlon[i], qlat[i], clon, clat)
        top = np.lexsort((cids, d))[:k]
        ids_out[i] = cids[top]
        dist_out[i] = d[top]
    return ids_out, dist_out
