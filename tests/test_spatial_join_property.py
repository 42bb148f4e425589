"""Operator-level property test for the point-in-polygon join.

Every spatial_join / spatial_join_dist code path claims the same output:
one row per (point, containing polygon key).  Random polygon sets (holes,
rings written in continuous longitudes past ±180, degenerate parts) and
random points (including points exactly on cell edges, and an empty point
side) are joined through each path and compared with a plain numpy
even-odd oracle evaluated on the ORIGINAL, unsplit rings."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from sis_spark.functions import geometry as geo
from sis_spark.operators.spatial_join import spatial_join, spatial_join_dist

_PATHS_LIST = {
    "broadcast": {},
    "shuffle": {"strategy": "shuffle"},
    "salt3": {"strategy": "shuffle", "salt": 3},
    "salt_auto": {"strategy": "shuffle", "salt": "auto"},
    "no_interior_skip": {"interior_skip": False},
}
_PATHS_DIST = {
    "dist": {},
    "dist_no_interior_skip": {"interior_skip": False},
    "dist_compact2": {"compact_levels": 2},
    "dist_broadcast_threshold": {"broadcast_threshold": 1000},
}


def _even_odd(px, py, rings) -> np.ndarray:
    """Half-open ray-crossing parity over all rings; a ring of fewer than 3
    vertices has no interior and is skipped."""
    inside = np.zeros(len(px), dtype=bool)
    for vx, vy in rings:
        if len(vx) < 3:
            continue
        for j in range(len(vx)):
            x0, y0 = vx[j], vy[j]
            x1, y1 = vx[(j + 1) % len(vx)], vy[(j + 1) % len(vx)]
            cross = (y0 > py) != (y1 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x1 - x0) * (py - y0) / (y1 - y0) + x0
            inside ^= cross & (px < xint)
    return inside


def _oracle(ids, px, py, polys) -> list[tuple[int, int]]:
    """A point lies in a polygon when it does at its longitude or at the
    same meridian one turn east or west (rings may run past ±180)."""
    out = []
    for p in polys:
        rings = [(p["vx"], p["vy"])] + list(p["holes"])
        hit = np.zeros(len(px), dtype=bool)
        for shift in (0.0, 360.0, -360.0):
            hit |= _even_odd(px + shift, py, rings)
        out += [(int(i), p["key"]) for i in ids[hit]]
    return sorted(out)


def _star(draw, cx, cy, radius, n):
    ang = np.sort(np.array(draw(st.lists(
        st.floats(0.0, 2 * np.pi, exclude_max=True), min_size=n, max_size=n, unique=True))))
    rad = np.array(draw(st.lists(st.floats(0.3, 1.0), min_size=n, max_size=n)))
    return cx + radius * rad * np.cos(ang), cy + radius * rad * np.sin(ang)


@st.composite
def _polygon(draw, key):
    kind = draw(st.sampled_from(["star", "star", "holed", "box_on_edge", "collinear"]))
    cy = draw(st.floats(-55.0, 55.0))
    if kind == "box_on_edge":
        # one side exactly on ±180, the rest beyond it: after the split at
        # the meridian, one part collapses to a zero-area sliver
        w = draw(st.floats(0.5, 20.0))
        h = draw(st.floats(0.5, 20.0))
        sign = draw(st.sampled_from([1.0, -1.0]))
        vx = np.array([180.0, 180.0 + w, 180.0 + w, 180.0]) * sign
        vy = np.array([cy, cy, cy + h, cy + h])
        return {"key": key, "vx": vx, "vy": vy, "holes": []}
    cx = draw(st.floats(-200.0, 200.0))
    radius = draw(st.floats(0.5, 30.0))
    if kind == "collinear":
        t = np.array(draw(st.lists(st.floats(-1.0, 1.0), min_size=3, max_size=5)))
        return {"key": key, "vx": cx + radius * t, "vy": cy + 0.5 * radius * t, "holes": []}
    vx, vy = _star(draw, cx, cy, radius, draw(st.integers(3, 9)))
    holes = []
    if kind == "holed":
        hvx, hvy = _star(draw, cx, cy, 0.25 * radius, draw(st.integers(3, 6)))
        holes.append((hvx, hvy))
    return {"key": key, "vx": vx, "vy": vy, "holes": holes}


@st.composite
def _case(draw):
    n_poly = draw(st.integers(1, 5))
    polys = [draw(_polygon(1000 + k)) for k in range(n_poly)]
    if draw(st.booleans()) and draw(st.booleans()):
        return polys, np.zeros(0), np.zeros(0)
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    xs, ys = [], []
    for p in polys:
        # uniform points over each envelope, wrapped into [-180, 180)
        x0, x1 = p["vx"].min() - 1.0, p["vx"].max() + 1.0
        y0, y1 = p["vy"].min() - 1.0, p["vy"].max() + 1.0
        xs.append(rng.uniform(x0, x1, 30))
        ys.append(rng.uniform(y0, y1, 30))
        # points exactly on cell edges (x, y or both) at every resolution
        # a path may pick, near this polygon
        for res in range(1, 15):
            cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
            ex = -180.0 + cw * np.floor((rng.uniform(x0, x1, 2) + 180.0) / cw)
            ey = -90.0 + ch * np.floor((rng.uniform(y0, y1, 2) + 90.0) / ch)
            xs += [ex, rng.uniform(x0, x1, 1), ex[:1]]
            ys += [rng.uniform(y0, y1, 2), ey[:1], ey[1:]]
    px = (np.concatenate(xs) + 180.0) % 360.0 - 180.0
    py = np.clip(np.concatenate(ys), -90.0, 89.999)
    return polys, px, py


def _run(df) -> list[tuple[int, int]]:
    return sorted((int(r[0]), int(r[1])) for r in df.select("id", "poly_key").collect())


@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_case())
def test_every_point_join_path_matches_even_odd_oracle(spark, case):
    polys, px, py = case
    ids = np.arange(len(px), dtype=np.int64)
    pts = spark.createDataFrame(
        pd.DataFrame({"id": ids, "lon": px, "lat": py}), "id long, lon double, lat double"
    ).repartition(4)
    want = _oracle(ids, px, py, polys)
    for name, kw in _PATHS_LIST.items():
        assert _run(spatial_join(pts, polys, "lon", "lat", **kw)) == want, name
    wkb_df = spark.createDataFrame(
        pd.DataFrame({
            "key": [p["key"] for p in polys],
            "wkb": [geo.wkb_polygon([(p["vx"], p["vy"])] + list(p["holes"])) for p in polys],
        }),
        "key long, wkb binary",
    )
    for name, kw in _PATHS_DIST.items():
        assert _run(spatial_join_dist(pts, wkb_df, "lon", "lat", **kw)) == want, name
