"""Seeded input generation for the benchmark workloads.

Everything is drawn with numpy from one ``numpy.random.Generator`` built from
the ``--seed`` argument, so the same seed gives bit-identical inputs.  Tables
are written with pyarrow as parquet (the stand-in for the lake tables the
engine reads); the engine under test only ever sees these files.

Skew model (shared by every workload): ``N_HOT`` city-like cluster centres;
``HOT_SHARE`` of the points sit within +-``HOT_HALF_DEG`` of a centre, the
rest are uniform over lon [-179.9, 179.9], lat [-85, 85].
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_HOT = 8
HOT_SHARE = 0.8
HOT_HALF_DEG = 0.5


def hot_centers(rng: np.random.Generator) -> np.ndarray:
    """(N_HOT, 2) cluster centres, kept away from the poles and the anti-meridian."""
    return np.column_stack([rng.uniform(-150.0, 150.0, N_HOT),
                            rng.uniform(-55.0, 55.0, N_HOT)])


def skewed_points(rng, centers, n: int, hot_share: float = HOT_SHARE,
                  half: float = HOT_HALF_DEG):
    """(lon, lat) float64 arrays: exactly ``round(hot_share * n)`` points in
    clusters, spread evenly over the centres, the rest uniform.  Exact shares
    keep the work per operation nearly the same from seed to seed."""
    hot = rng.permutation(n) < round(hot_share * n)
    c = rng.permutation(n) % len(centers)
    lon = np.where(hot, centers[c, 0] + rng.uniform(-half, half, n),
                   rng.uniform(-179.9, 179.9, n))
    lat = np.where(hot, centers[c, 1] + rng.uniform(-half, half, n),
                   rng.uniform(-85.0, 85.0, n))
    return lon, lat


def _star(rng, cx, cy, r, nv):
    """Star-convex simple ring: sorted angles, radius jittered in [0.6r, r]."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, nv))
    rk = r * rng.uniform(0.6, 1.0, nv)
    return cx + rk * np.cos(ang), cy + rk * np.sin(ang)


def star_polygons(rng, centers, n: int, hot_share: float = 0.75):
    """Overlapping star polygons, radius 0.4-2.2 deg and 5-16 vertices;
    ``round(hot_share * n)`` of them are centred within +-0.3 deg of a hot
    cluster (round-robin over the centres), so a hot point falls inside
    dozens.  The radii keep the median polygon width near 4 deg, mid-way
    between the spatial join's resolution steps (powers of two of 360 deg),
    so no seed tips the operator into another cell resolution."""
    out = []
    for i in range(n):
        if i < round(hot_share * n):
            cx, cy = centers[i % len(centers)] + rng.uniform(-0.3, 0.3, 2)
        else:
            cx, cy = rng.uniform(-170.0, 170.0), rng.uniform(-80.0, 80.0)
        out.append(_star(rng, cx, cy, rng.uniform(0.4, 2.2), int(rng.integers(5, 17))))
    return out


def image_table(rng, ids, lon, lat, payload_bytes: int) -> pa.Table:
    """Image-caption rows: the join needs only (id, lon, lat); ``caption``
    and ``bytes`` are on disk so the scan's column pruning is real."""
    n = len(ids)
    words = np.array(["harbour", "street", "field", "roof", "river", "market",
                      "bridge", "tower", "park", "coast", "station", "forest"])
    w = rng.integers(0, len(words), (n, 6))
    captions = [" ".join(words[row]) for row in w]
    blob = rng.integers(0, 256, n * payload_bytes, dtype=np.uint8).tobytes()
    payload = [blob[i * payload_bytes:(i + 1) * payload_bytes] for i in range(n)]
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "lon": pa.array(lon, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
        "caption": pa.array(captions, pa.string()),
        "bytes": pa.array(payload, pa.binary()),
    })


def polygon_wkb(vx, vy) -> bytes:
    """Little-endian WKB Polygon with one closed ring (ISO 19125)."""
    xy = np.column_stack([np.append(vx, vx[0]), np.append(vy, vy[0])])
    return struct.pack("<BIII", 1, 3, 1, len(xy)) + xy.astype("<f8").tobytes()


def polygon_table(keys, rings) -> pa.Table:
    """The (key, wkb) polygon dimension as stored in the lake."""
    return pa.table({"key": pa.array(keys, pa.int64()),
                     "wkb": pa.array([polygon_wkb(vx, vy) for vx, vy in rings],
                                     pa.binary())})


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``, so
    the scan has several splits (as a lake table would)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:03d}.parquet"))
