"""Spatial joins as one two-phase core: cell-key candidates, exact refine.

The reference has spatial *filters* only (F/filter/BinarySpatialFilter.java) —
a spatial join must be phrased as a per-row filter (nested loop,
S/aggregate/JoinFeatureSet.java:485-512).  Every join here is instead:

Phase 1 (candidates): each polygon part is covered by grid cells at a
resolution picked from the median part width (``_res_for_width``; the
GridDerivation-style pruning of F/coverage/grid/GridDerivation.java:332 done
as plan construction), and a covering cell is marked ``sure`` when it is
provably interior to its part (``_interior_cells``).  Features equi-join the
covering on cell, then a codegen envelope prune (``_boxes_meet``) drops the
candidates no refine could accept.

Phase 2 (refine): an Arrow-vectorized numpy kernel on the surviving
candidates only.

Point-in-polygon entry points share ``_point_join`` (partition-spread guard,
JVM cell encode, sure/unsure split, envelope prune, refine, column cleanup);
each supplies only its covering and its refine:

* ``spatial_join`` — polygon list on the driver: covering built in driver
  pandas (``polygon_cells``) and joined broadcast, or shuffled with hot
  cells salted (``_cell_join``); the refine reads ring arrays packed once
  and broadcast to executors (``_pack_polygons``).
* ``spatial_join_dist`` — polygon DataFrame end to end: covering built on
  executors in Arrow (``polygon_cells_df``, optionally compacted by
  ``compact_cover``); the refine reads each candidate's own part WKB.

Part-pair entry points (``polygon_pair_join``, ``polygon_pair_join_multi``,
``line_polygon_join``, ``line_clip_join``, ``geometry_distance_join``) make
key pairs from their coverings (``_self_pairs`` or ``_cover_pairs``) and share
``_pair_candidates`` (WKB re-attach, envelope prune, spread) before their own
Arrow refine.  ``nearest_line_join``, ``nearest_line_join_dist`` and
``spacetime_join`` are distance joins of their own shape.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as _cells
from ..functions import geometry as _geo
from ..functions.spark_exprs import cell_col
from .partitioning import spread_partitions


def _res_for_width(med: float) -> int:
    """Cell resolution whose cell width is about ``med`` degrees: 1-4
    covering cells per typical part, fine enough to prune the other side.
    Widths below one res-14 cell all give 14 (a subnormal width would
    overflow 360 / med)."""
    med = max(float(med or 1.0), 360.0 / (1 << 14))
    return max(1, min(int(math.floor(math.log2(360.0 / med))), 14))


def choose_resolution(polygons: list[dict]) -> int:
    """Cell res whose cell size ~ median polygon diameter."""
    if not polygons:
        return 7
    widths = [max(p["xmax"] - p["xmin"], (p["ymax"] - p["ymin"]) * 2.0) for p in polygons]
    return _res_for_width(np.median(widths))


def _interior_cells(cells: np.ndarray, rings: list, res: int) -> np.ndarray:
    """``sure`` flag per covering cell: True when the cell is PROVABLY
    interior to the part — all 4 cell corners inside (even-odd over all
    rings) and no ring edge meeting the closed cell rectangle (Liang–Barsky;
    a hole fully inside the cell shows up as edges inside the rect, so holes
    are handled).  Points in a sure cell are matches by construction."""
    x0, y0, x1, y1 = _cells.cell_to_envelope(cells, res)
    sure = np.ones(len(cells), dtype=bool)
    for cx, cy in ((x0, y0), (x1, y0), (x0, y1), (x1, y1)):
        sure &= _geo.points_in_polygon_with_holes(cx, cy, rings)
    for vx, vy in rings:
        wx, wy = np.roll(vx, -1), np.roll(vy, -1)
        sure &= ~_geo.segments_intersect_rects(vx, vy, wx, wy, x0, y0, x1, y1)
    return sure


def polygon_cells(polygons: list[dict], res: int, classify: bool = False) -> pd.DataFrame:
    """(cell, poly_idx, envelope[, sure]) covering table — plan-time, driver.

    Carrying the part envelope per row lets the candidate join apply a
    JVM-side envelope filter BEFORE the Arrow PIP refine: cells only
    approximate the envelope, so 30-60% of cell-matched candidates fail the
    exact envelope test — pruning them in codegen keeps those rows from ever
    crossing the Python boundary.

    ``classify=True`` adds ``sure`` (``_interior_cells``): points in a sure
    cell skip the PIP refine entirely — at the engine's skewed workloads
    ~70% of candidate pairs fall in sure cells at res+3."""
    covs = [
        _cells.covering_cells(p["xmin"], p["ymin"], p["xmax"], p["ymax"], res) for p in polygons
    ]
    idx = np.repeat(np.arange(len(polygons), dtype=np.int64), [len(c) for c in covs])
    env = np.array([[p["xmin"], p["ymin"], p["xmax"], p["ymax"]] for p in polygons]).reshape(-1, 4)[idx]
    out = {
        "cell": np.concatenate(covs) if covs else np.zeros(0, dtype=np.int64),
        "poly_idx": idx,
        "e_xmin": env[:, 0],
        "e_ymin": env[:, 1],
        "e_xmax": env[:, 2],
        "e_ymax": env[:, 3],
    }
    if classify:
        out["sure"] = np.concatenate(
            [_interior_cells(c, p["rings"], res) for c, p in zip(covs, polygons)]
        ) if covs else np.zeros(0, dtype=bool)
    return pd.DataFrame(out)


def normalize_polygons(polygons: list[dict]) -> list[dict]:
    """Canonical polygon parts: each output dict has key, rings (outer +
    holes), and envelope.  Polygons given in *continuous* longitudes beyond
    ±180 (the natural way to write an anti-meridian-crossing ring) are SPLIT
    at the meridian into two parts with the same key
    (R/geometry/WraparoundMethod.java:55 SPLIT applied to polygon geometry).
    """
    out = []
    for p in polygons:
        rings = [(np.asarray(p["vx"], dtype=np.float64), np.asarray(p["vy"], dtype=np.float64))]
        for hvx, hvy in p.get("holes", []):
            rings.append((np.asarray(hvx, dtype=np.float64), np.asarray(hvy, dtype=np.float64)))
        all_x = np.concatenate([r[0] for r in rings])
        parts: list[list] = []
        if all_x.max() > 180.0:
            lo = [_geo.clip_polygon_x(vx, vy, 180.0, keep_leq=True) for vx, vy in rings]
            hi = [
                (cvx - 360.0, cvy)
                for cvx, cvy in (_geo.clip_polygon_x(vx, vy, 180.0, keep_leq=False) for vx, vy in rings)
            ]
            parts = [lo, hi]
        elif all_x.min() < -180.0:
            hi = [_geo.clip_polygon_x(vx, vy, -180.0, keep_leq=False) for vx, vy in rings]
            lo = [
                (cvx + 360.0, cvy)
                for cvx, cvy in (_geo.clip_polygon_x(vx, vy, -180.0, keep_leq=True) for vx, vy in rings)
            ]
            parts = [hi, lo]
        else:
            parts = [rings]
        for part in parts:
            part = [(vx, vy) for vx, vy in part if len(vx) >= 3]
            if not part:
                continue
            ox = np.concatenate([r[0] for r in part])
            oy = np.concatenate([r[1] for r in part])
            out.append({
                "key": int(p["key"]),
                "rings": part,
                "xmin": float(ox.min()),
                "ymin": float(oy.min()),
                "xmax": float(ox.max()),
                "ymax": float(oy.max()),
            })
    return out


def _pack_polygons(parts: list[dict]):
    """Dense padded ring arrays for the vectorized refine kernel
    (geometry.pad_polygons: duplicate-vertex padding is exact for even-odd).
    ``parts`` must be normalize_polygons output."""
    rings_vx: list = []
    rings_vy: list = []
    ring_start = np.zeros(len(parts) + 1, dtype=np.int64)
    for i, p in enumerate(parts):
        for vx, vy in p["rings"]:
            rings_vx.append(vx)
            rings_vy.append(vy)
        ring_start[i + 1] = ring_start[i] + len(p["rings"])
    RVX, RVY = _geo.pad_polygons(rings_vx, rings_vy)
    env = np.array(
        [[p["xmin"], p["ymin"], p["xmax"], p["ymax"]] for p in parts]
    ) if parts else np.zeros((0, 4))
    keys = np.array([p["key"] for p in parts], dtype=np.int64)
    return {"RVX": RVX, "RVY": RVY, "ring_start": ring_start, "env": env, "keys": keys}


# covering-side and scratch columns the point join drops from its output
_ENV = ("e_xmin", "e_ymin", "e_xmax", "e_ymax")
_JOIN_COLS = ("cell", "__cell", "__jcell", "cres", *_ENV, "sure", "pwkb")


def _boxes_meet(a, b, pad: float = 0.0) -> Column:
    """Codegen test that closed boxes ``a`` and ``b`` — (xmin, ymin, xmax,
    ymax) Columns — intersect once ``a`` is widened by ``pad`` on every side.
    A point is the box (x, y, x, y).  This is the envelope prune every join
    runs before its Arrow refine, so rows the refine could never accept
    don't pay the Arrow transfer."""
    if pad:
        a = (a[0] - pad, a[1] - pad, a[2] + pad, a[3] + pad)
    return (b[2] >= a[0]) & (b[0] <= a[2]) & (b[3] >= a[1]) & (b[1] <= a[3])


def _point_join(points: DataFrame, lon_col: str, lat_col: str, res: int, join,
                refine: Column, interior_skip: bool) -> DataFrame:
    """The point-join core: ``join(pts)`` equi-joins the points, cell-encoded
    at ``res`` as ``__cell``, with a covering table carrying the part
    envelope (``e_*``) and, under ``interior_skip``, ``sure``.  Candidates in
    sure cells ARE matches (no envelope test, no PIP); the rest pass the
    codegen envelope prune, then ``refine`` (a boolean Arrow UDF column).
    Two pipelines over the same map-side join — the join is cheap next to
    the Arrow refine it avoids."""
    pts = spread_partitions(points).withColumn(
        "__cell", cell_col(F.col(lon_col), F.col(lat_col), res)
    )
    cand = join(pts)
    point = (F.col(lon_col), F.col(lat_col), F.col(lon_col), F.col(lat_col))
    unsure = cand.filter(~F.col("sure")) if interior_skip else cand
    refined = unsure.filter(_boxes_meet(tuple(map(F.col, _ENV)), point)).filter(refine)
    refined = refined.drop(*_JOIN_COLS)
    if interior_skip:
        refined = cand.filter(F.col("sure")).drop(*_JOIN_COLS).unionByName(refined)
    return refined


def _cell_join(pts: DataFrame, pc: pd.DataFrame, lon_col: str, lat_col: str, res: int,
               strategy: str, salt: int | str | None) -> DataFrame:
    """Cell equi-join of cell-encoded points with the driver covering ``pc``.

    ``strategy="broadcast"``: one broadcast hash join, so the skewed hot
    cells never shuffle.  Otherwise a shuffle join where HOT covering cells
    are salted: a point picks salt pmod(hash(lon, lat), n) and each hot
    covering row is repeated once per salt, so one hot cell's points spread
    over n shuffle partitions; the other cells join plain.  ``salt=None``
    salts no cell; ``salt=N`` salts every cell with n = N; ``salt="auto"``
    measures instead of guessing — a sampled cell histogram gives the hot
    set, and n is sized so a hot cell puts ~TARGET_ROWS_PER_SALT rows in
    each shuffle partition."""
    spark = pts.sparkSession
    hot, n = np.zeros(len(pc), dtype=bool), 1
    if strategy != "broadcast" and salt == "auto":
        counts = hot_cells_with_counts(pts, lon_col, lat_col, res)
        hot = pc["cell"].isin(list(counts)).to_numpy()
        n = int(min(64, max(2, max(counts.values(), default=0) // TARGET_ROWS_PER_SALT + 1)))
    elif strategy != "broadcast" and salt:
        hot, n = np.ones(len(pc), dtype=bool), int(salt)
    parts = []
    # the hot/cold split is made on the DIMENSION side only (tiny, driver
    # pandas): an isin over the cell expression on the point side blows
    # whole-stage codegen past the 64 KB method limit
    if not hot.all():
        cold = spark.createDataFrame(pc[~hot])
        dim = F.broadcast(cold) if strategy == "broadcast" else cold
        parts.append(pts.join(dim, pts["__cell"] == cold["cell"], "inner"))
    if hot.any():
        salted = pts.withColumn(
            "__salt", F.pmod(F.hash(F.col(lon_col), F.col(lat_col)), F.lit(n))
        )
        dim = spark.createDataFrame(pc[hot]).withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        on = (salted["__cell"] == dim["cell"]) & (salted["__salt"] == dim["__salt"])
        parts.append(salted.join(dim, on, "inner").drop("__salt"))
    return functools.reduce(DataFrame.unionByName, parts)


def spatial_join(
    points: DataFrame,
    polygons: list[dict],
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    poly_key_col: str = "poly_key",
    strategy: str = "broadcast",
    salt: int | str | None = None,
    interior_skip: bool = True,
) -> DataFrame:
    """Inner join: one output row per (point row, containing polygon).

    ``polygons``: list of dicts with key/vx/vy/xmin..ymax (synth.polygon_table_np
    shape, or built from WKB via sources.polygons_from_wkb).

    ``strategy``/``salt``: how the covering joins the points (``_cell_join``).

    ``interior_skip``: run the prefilter 3 resolutions finer and classify
    covering cells at plan time; candidates in provably-interior cells are
    emitted as matches WITHOUT the Arrow PIP refine (~70% of pairs under the
    engine's skewed workloads).  Exact — a sure cell admits no false
    positives by construction.
    """
    spark = points.sparkSession
    polygons = normalize_polygons(polygons)  # holes + anti-meridian SPLIT
    if not polygons:
        return points.limit(0).withColumn(poly_key_col, F.lit(None).cast("long"))
    if res is None:
        res = choose_resolution(polygons)
        if interior_skip:
            res = min(res + 3, 14)
    packed = _pack_polygons(polygons)
    bc = spark.sparkContext.broadcast(packed)

    pc = polygon_cells(polygons, res, classify=interior_skip)
    # covering-table guardrail: if the finer resolution explodes the
    # broadcast side (huge polygons), back off to the coarse plan
    if interior_skip and len(pc) > 2_000_000:
        res = choose_resolution(polygons)
        interior_skip = False
        pc = polygon_cells(polygons, res)
    pc = pc.astype({"cell": "int64", "poly_idx": "int64"})

    # Refine as a SCALAR Arrow UDF used in a filter: only (lon, lat,
    # poly_idx) cross the Python boundary; every other column stays JVM-side
    # (ArrowEvalPython is a projection, not a row pipe).
    @F.pandas_udf(T.BooleanType())
    def pip_ok(lon_s: pd.Series, lat_s: pd.Series, gi_s: pd.Series) -> pd.Series:
        p = bc.value
        # dense (N, K) crossing passes, one per ring ordinal (1 for hole-free)
        return pd.Series(_geo.points_in_padded_rings(
            lon_s.to_numpy(dtype=np.float64), lat_s.to_numpy(dtype=np.float64),
            gi_s.to_numpy(dtype=np.int64), p["RVX"], p["RVY"], p["ring_start"],
        ))

    refined = _point_join(
        points, lon_col, lat_col, res,
        lambda pts: _cell_join(pts, pc, lon_col, lat_col, res, strategy, salt),
        pip_ok(F.col(lon_col), F.col(lat_col), F.col("poly_idx")),
        interior_skip,
    )
    keys_arr = packed["keys"]
    key_map = spark.createDataFrame(
        pd.DataFrame({"poly_idx": np.arange(len(keys_arr)), poly_key_col: keys_arr})
    )
    return refined.join(F.broadcast(key_map), "poly_idx").drop("poly_idx")


def cell_histogram(points: DataFrame, lon_col: str, lat_col: str, res: int) -> DataFrame:
    """groupBy(cell).count() — the cell-frequency sampling input for salting
    decisions (map-side partial aggregation makes skew harmless here)."""
    return (
        points.withColumn("cell", cell_col(F.col(lon_col), F.col(lat_col), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hot_cells(points: DataFrame, lon_col: str, lat_col: str, res: int,
              sample_fraction: float = 0.01, threshold: int = 1000) -> list[int]:
    """Sampled cell-frequency scan -> list of hot cell ids (driver-side plan
    input for salting; the sampling-over-joins idea from PAPERS.md)."""
    return list(hot_cells_with_counts(points, lon_col, lat_col, res, sample_fraction, threshold))


# rows of one hot cell that should land in a single shuffle partition before
# another salt bucket is added (sized for the Arrow-refine throughput)
TARGET_ROWS_PER_SALT = 250_000


def hot_cells_with_counts(points: DataFrame, lon_col: str, lat_col: str, res: int,
                          sample_fraction: float = 0.01, threshold: int = 1000) -> dict[int, int]:
    """Like hot_cells but returns {cell: estimated_total_rows} so the caller
    can size the salt factor from the worst cell (spatial_join salt='auto')."""
    hist = cell_histogram(points.sample(sample_fraction, seed=42), lon_col, lat_col, res)
    rows = hist.filter(F.col("n") >= threshold * sample_fraction).collect()
    return {int(r["cell"]): int(r["n"] / sample_fraction) for r in rows}


# ----------------------------------------------- distributed polygon dimension
#
# spatial_join() holds the polygon set on the driver (fine for broadcastable
# dims).  spatial_join_dist keeps the polygon side a DataFrame END TO END:
# normalize, covering-cell generation, and classification all run as Arrow
# stages on executors, so millions of polygons never materialize driver-side
# (JoinFeatureSet's set-vs-set contract, S/aggregate/JoinFeatureSet.java:74).
# Boundary ("unsure") covering cells carry their part's WKB through the cell
# equi-join; interior cells carry NULL and skip the refine entirely.

def _choose_res_dist(parts: DataFrame) -> int:
    """choose_resolution over a distributed parts table: approximate median
    part diameter via one tiny percentile_approx aggregate."""
    row = parts.select(
        F.percentile_approx(
            F.greatest(F.col("xmax") - F.col("xmin"), (F.col("ymax") - F.col("ymin")) * 2.0),
            F.lit(0.5),
        ).alias("med")
    ).first()
    return _res_for_width(row["med"])


def polygon_parts_df(polygons_df: DataFrame, key_col: str = "key", wkb_col: str = "wkb") -> DataFrame:
    """(key, wkb) polygon table -> normalized parts table
    (key, wkb, xmin, ymin, xmax, ymax): anti-meridian SPLIT, MultiPolygon
    member expansion, holes preserved — the distributed analog of
    normalize_polygons (BinaryGeometryFilter.optimize plan normalization)."""
    from ..sources import polygons_from_wkb

    def norm(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            parts = normalize_polygons(
                polygons_from_wkb(zip(pdf[key_col].tolist(), pdf[wkb_col].tolist()))
            )
            yield pd.DataFrame({
                "key": np.array([p["key"] for p in parts], dtype=np.int64),
                "wkb": [bytes(_geo.wkb_polygon(p["rings"])) for p in parts],
                "xmin": np.array([p["xmin"] for p in parts]),
                "ymin": np.array([p["ymin"] for p in parts]),
                "xmax": np.array([p["xmax"] for p in parts]),
                "ymax": np.array([p["ymax"] for p in parts]),
            })

    return polygons_df.select(F.col(key_col), F.col(wkb_col)).mapInPandas(
        norm, schema="key long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    )


def polygon_cells_df(parts: DataFrame, res: int, classify: bool = True) -> DataFrame:
    """Distributed covering table: one row per (covering cell, part), with the
    part envelope for the codegen prune, ``sure`` for provably-interior cells,
    and the part WKB on NON-sure rows only (interior matches never pay the
    geometry transfer).  Same classification as polygon_cells."""
    from ..sources import polygons_from_wkb

    def cover(batches):
        for pdf in batches:
            for key, wkb, xmin, ymin, xmax, ymax in zip(
                pdf["key"], pdf["wkb"], pdf["xmin"], pdf["ymin"], pdf["xmax"], pdf["ymax"]
            ):
                cov = _cells.covering_cells(xmin, ymin, xmax, ymax, res)
                m = len(cov)
                if classify:
                    (part,) = polygons_from_wkb([(key, wkb)])
                    sure = _interior_cells(cov, [(part["vx"], part["vy"])] + part["holes"], res)
                else:
                    sure = np.zeros(m, dtype=bool)
                yield pd.DataFrame({
                    "cell": cov,
                    "pkey": np.full(m, key, dtype=np.int64),
                    "e_xmin": np.full(m, xmin),
                    "e_ymin": np.full(m, ymin),
                    "e_xmax": np.full(m, xmax),
                    "e_ymax": np.full(m, ymax),
                    "sure": sure,
                    "pwkb": [None if s else bytes(wkb) for s in sure],
                })

    return parts.mapInPandas(
        cover,
        schema="cell long, pkey long, e_xmin double, e_ymin double, "
               "e_xmax double, e_ymax double, sure boolean, pwkb binary",
    )


def compact_cover(cov: DataFrame, res: int, levels: int) -> DataFrame:
    """Mixed-resolution covering table: the ``sure`` (provably-interior) rows
    of a ``polygon_cells_df(res)`` output are compacted per polygon part —
    wherever all four Morton siblings are interior they are replaced by the
    parent, up to ``levels`` times (operators/tiling.compact_cells per key).
    Boundary (non-sure) rows pass through untouched at ``res``.

    Output = input columns + ``cres`` (the resolution each row now lives at).
    The result is still a disjoint cover per part: a promoted parent's
    descendants were all sure, so no surviving row is its ancestor or
    descendant — a point therefore still matches at most one covering row
    per part, no candidate dedup needed.

    Scale rationale: interior cell count grows ~4^levels with covering
    resolution while the boundary ring grows ~2^levels; compaction caps the
    interior at its coarse-resolution size, often pulling a
    continental-polygon covering table back under the broadcast threshold.
    The fact side pays an ancestor-chain explode of (levels+1) rows per
    point (pure codegen) — see spatial_join_dist(compact_levels=...)."""
    levels = max(0, min(levels, res - 1))  # never promote above res 1
    env_cols = ["e_xmin", "e_ymin", "e_xmax", "e_ymax"]
    unsure = cov.filter(~F.col("sure")).withColumn("cres", F.lit(res))
    level = cov.filter(F.col("sure")).localCheckpoint()
    out = []
    for d in range(levels):
        parents = (
            level.groupBy(F.col("pkey"), F.shiftright("cell", 2).alias("pcell"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.first(c).alias(c) for c in env_cols],
            )
        )
        full = parents.filter(F.col("n") == 4)
        fsel = full.select(F.col("pkey").alias("fpkey"), F.col("pcell").alias("fpcell"))
        kept = level.join(
            fsel,
            (level["pkey"] == fsel["fpkey"])
            & (F.shiftright(level["cell"], 2) == fsel["fpcell"]),
            "left_anti",
        )
        out.append(kept.withColumn("cres", F.lit(res - d)))
        level = (
            full.select(
                F.col("pcell").alias("cell"), "pkey", *env_cols,
                F.lit(True).alias("sure"),
                F.lit(None).cast("binary").alias("pwkb"),
            )
            .localCheckpoint()  # truncate round-over-round lineage
        )
    res_out = level.withColumn("cres", F.lit(res - levels))
    for part in out:
        res_out = res_out.unionByName(part)
    return res_out.unionByName(unsure)


def spatial_join_dist(
    points: DataFrame,
    polygons_df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    poly_key_col: str = "poly_key",
    key_col: str = "key",
    wkb_col: str = "wkb",
    interior_skip: bool = True,
    broadcast_threshold: int = 0,
    compact_levels: int = 0,
) -> DataFrame:
    """Point-in-polygon join with a DataFrame polygon side (never collected
    on the pure-distributed path).

    Same two-phase semantics and output as spatial_join: one row per
    (point row, containing polygon key).  The covering table joins on cell
    as a plain equi-join (AQE broadcasts it when small, shuffles + skew-splits
    it when not); the PIP refine parses each candidate's own part WKB inside
    the Arrow batch, grouped by geometry so each part is decoded once per
    batch.

    ``broadcast_threshold``: ADAPTIVE strategy pick (the AQE-style decision
    the reference leaves to its store, SQLStore pushdown analog) — when the
    normalized parts table is at most this many rows, the dimension is
    collected and the proven broadcast plan of ``spatial_join`` runs
    instead (faster: packed-array refine, no per-candidate WKB transfer).
    0 (default) forces the fully distributed plan.

    ``compact_levels``: mixed-resolution covering (requires interior_skip).
    The interior of each polygon's cover is compacted up to this many
    Morton levels (compact_cover), shrinking the dimension table ~4^levels
    on the interior; the point side joins through an ancestor-cell chain
    explode of (compact_levels+1) rows per point (pure codegen shiftright).
    Value-identical output to every other strategy.  ``"auto"`` picks the
    level from one measured aggregate over the parts table (the
    measure-then-plan discipline of the salting path): estimated interior
    cell count (Σ area / cell area) over estimated boundary cell count
    (Σ perimeter / cell edge) — compaction beyond the point where the
    boundary ring dominates buys nothing, and each extra level costs a
    fact-side explode row, so levels = ceil(log4(interior/boundary)),
    capped at 6.
    """
    from ..sources import polygons_from_wkb

    parts = polygon_parts_df(polygons_df, key_col, wkb_col).persist()
    if broadcast_threshold:
        n_parts = parts.limit(broadcast_threshold + 1).count()
        if n_parts <= broadcast_threshold:
            rows = [(r["key"], bytes(r["wkb"])) for r in parts.collect()]
            return spatial_join(
                points, polygons_from_wkb(rows), lon_col, lat_col,
                res=res, poly_key_col=poly_key_col, interior_skip=interior_skip,
            )
    if res is None:
        res = _choose_res_dist(parts)
        if interior_skip:
            res = min(res + 3, 14)
    cov = polygon_cells_df(parts, res, classify=interior_skip)

    if compact_levels and not interior_skip:
        raise ValueError("compact_levels requires interior_skip=True")
    if compact_levels == "auto":
        st = parts.agg(
            F.sum((F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin"))).alias("area"),
            F.sum(2.0 * ((F.col("xmax") - F.col("xmin")) + (F.col("ymax") - F.col("ymin")))).alias("perim"),
        ).first()
        cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
        interior = max(float(st["area"] or 0.0) / (cw * ch), 1.0)
        boundary = max(float(st["perim"] or 0.0) / min(cw, ch), 1.0)
        compact_levels = max(0, min(
            6, res - 1, int(math.ceil(math.log(interior / boundary, 4.0)))
        ))
    if compact_levels:
        compact_levels = max(0, min(compact_levels, res - 1))
        cov = compact_cover(cov, res, compact_levels)

    def join(pts):
        on = pts["__cell"]
        if compact_levels:
            # ancestor chain: the point's cell at res, res-1, ..., res-levels —
            # exactly one of them can hit each part's (disjoint) mixed-res cover
            pts = pts.withColumn("__jcell", F.explode(F.array(*[
                F.shiftright("__cell", 2 * d) for d in range(compact_levels + 1)
            ])))
            on = pts["__jcell"]
        return pts.join(cov, on == cov["cell"], "inner")

    @F.pandas_udf(T.BooleanType())
    def pip_ok_wkb(lon_s: pd.Series, lat_s: pd.Series, wkb_s: pd.Series) -> pd.Series:
        px = lon_s.to_numpy(dtype=np.float64)
        py = lat_s.to_numpy(dtype=np.float64)
        out = np.zeros(len(px), dtype=bool)
        # group rows by geometry: each part decoded once per Arrow batch
        grp: dict[bytes, list[int]] = {}
        for i, b in enumerate(wkb_s):
            grp.setdefault(bytes(b), []).append(i)
        for buf, idxs in grp.items():
            (part,) = polygons_from_wkb([(0, buf)])
            ii = np.asarray(idxs, dtype=np.int64)
            out[ii] = _geo.points_in_polygon_with_holes(
                px[ii], py[ii], [(part["vx"], part["vy"])] + part["holes"]
            )
        return pd.Series(out)

    refined = _point_join(
        points, lon_col, lat_col, res, join,
        pip_ok_wkb(F.col(lon_col), F.col(lat_col), F.col("pwkb")), interior_skip,
    )
    return refined.withColumnRenamed("pkey", poly_key_col)


# ------------------------------------------------------------ part-pair joins
#
# Arbitrary-pair spatial predicates (BinarySpatialFilter.java:43 dispatching
# to GeometryWrapper.predicate:287) need a part-pair JOIN at engine level.
# Same covering-cell bucket shape as the point join: candidates are key
# pairs sharing a covering cell (complete: two intersecting envelopes share
# the cell containing any common point), envelope-pruned in codegen, then
# refined by an Arrow kernel over WKB pairs (functions/relate.py etc.).

def _cover_keys(parts: DataFrame, res: int, pad: float = 0.0) -> DataFrame:
    """(cell, key) covering of each part's envelope widened by ``pad``."""
    if pad:
        parts = parts.select(
            "key", "wkb",
            (F.col("xmin") - pad).alias("xmin"), (F.col("ymin") - pad).alias("ymin"),
            (F.col("xmax") + pad).alias("xmax"), (F.col("ymax") + pad).alias("ymax"),
        )
    cov = polygon_cells_df(parts, res, classify=False)
    return cov.select("cell", F.col("pkey").alias("key"))


def _self_pairs(cov: DataFrame) -> DataFrame:
    """Distinct key pairs (a, b), a < b, sharing a cell of one covering."""
    return (
        cov.groupBy("cell")
        .agg(F.collect_set("key").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


def _cover_pairs(a_cov: DataFrame, b_cov: DataFrame) -> DataFrame:
    """Distinct key pairs (a, b) sharing a cell of two coverings."""
    return (
        a_cov.withColumnRenamed("key", "a")
        .join(b_cov.withColumnRenamed("key", "b"), "cell")
        .select("a", "b")
        .distinct()
    )


def _pair_candidates(pairs: DataFrame, a_parts: DataFrame, b_parts: DataFrame,
                     pad: float = 0.0) -> DataFrame:
    """The part-pair candidate tail: attach each side's part columns to the
    (a, b) key pairs — ``key`` becomes ``a``/``b``, every other column gets
    an ``_a``/``_b`` suffix (``wkb_a``, ``wkb_b``, ...) — keep the pairs
    whose envelopes meet once side a is widened by ``pad`` (codegen, before
    any Python), drop the envelopes, and spread the rows over the executor
    cores: AQE coalesces the small candidate shuffle to ~1 partition, which
    would serialize the refine, whose cost is per-ROW CPU, not bytes."""
    def side(parts, s):
        return parts.select(*[F.col(c).alias(s if c == "key" else f"{c}_{s}") for c in parts.columns])

    def env(s):
        return tuple(F.col(f"{c}_{s}") for c in ("xmin", "ymin", "xmax", "ymax"))

    cand = (
        pairs.join(side(a_parts, "a"), "a").join(side(b_parts, "b"), "b")
        .filter(_boxes_meet(env("a"), env("b"), pad))
        .drop(*env("a"), *env("b"))
    )
    return cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)


def polygon_pair_join(
    polygons_df: DataFrame,
    res: int | None = None,
    key_col: str = "key",
    wkb_col: str = "wkb",
) -> DataFrame:
    """Self-join of a polygon table on spatial intersection.

    Output: (a, b, contains_ab, contains_ba) for every pair a < b whose
    polygons intersect (general-position model, functions/relate.py).
    Assumes one part per key (no MultiPolygon / anti-meridian operands —
    those need union-level predicate semantics the general-position model
    does not define)."""
    from ..functions.relate import relate_polygons_pred_batch

    parts = polygon_parts_df(polygons_df, key_col, wkb_col).persist()
    if res is None:
        res = _choose_res_dist(parts)
    cand = _pair_candidates(_self_pairs(_cover_keys(parts, res)), parts, parts)

    @F.pandas_udf(
        T.StructType([
            T.StructField("intersects", T.BooleanType()),
            T.StructField("contains_ab", T.BooleanType()),
            T.StructField("contains_ba", T.BooleanType()),
        ])
    )
    def rel(a_s: pd.Series, b_s: pd.Series) -> pd.DataFrame:
        # one padded-grid evaluation for the whole Arrow batch (identical
        # FP expressions to the scalar kernel — oracle-exact)
        p = relate_polygons_pred_batch(a_s, b_s)
        return pd.DataFrame({
            "intersects": p["intersects"],
            "contains_ab": p["contains"],
            "contains_ba": p["within"],
        })

    # asNondeterministic: stop Catalyst from re-evaluating the struct UDF
    # once per referenced field / pushed filter (measured 2-3x refine cost)
    out = cand.withColumn("r", rel.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b")))
    return (
        out.filter(F.col("r.intersects"))
        .select(
            "a", "b",
            F.col("r.contains_ab").alias("contains_ab"),
            F.col("r.contains_ba").alias("contains_ba"),
        )
    )


def polygon_pair_join_multi(
    polygons_df: DataFrame,
    res: int | None = None,
    key_col: str = "key",
    wkb_col: str = "wkb",
) -> DataFrame:
    """polygon_pair_join for MULTI-PART keys (MultiPolygon members,
    anti-meridian split parts): part-level covering-cell candidates, DE-9IM
    on part pairs, then UNION-LEVEL aggregation per key pair:

    * intersects  = any part pair intersects;
    * contains(A,B) = EVERY part of B is contained in some part of A —
      sound under the valid-multipolygon model (disjoint member interiors):
      a connected B part strictly inside one A member cannot reach any
      other member, so per-part containment composes to union containment.

    Output (a, b, contains_ab, contains_ba) for intersecting key pairs."""
    from ..functions.relate import relate_polygons_pred_batch

    parts = (
        polygon_parts_df(polygons_df, key_col, wkb_col)
        .withColumn("uid", F.monotonically_increasing_id())
        .localCheckpoint()  # pin uids (monotonic ids are plan-dependent)
    )
    if res is None:
        res = _choose_res_dist(parts)
    # candidate pairs of PART uids (a, b); each keeps its polygon key as pk
    uparts = parts.select(
        F.col("uid").alias("key"), F.col("key").alias("pk"), "wkb", "xmin", "ymin", "xmax", "ymax"
    )
    cand = _pair_candidates(_self_pairs(_cover_keys(uparts, res)), uparts, uparts).filter(
        F.col("pk_a") != F.col("pk_b")
    )

    @F.pandas_udf(
        T.StructType([
            T.StructField("intersects", T.BooleanType()),
            T.StructField("a_contains_b", T.BooleanType()),
            T.StructField("b_contains_a", T.BooleanType()),
        ])
    )
    def rel(a_s: pd.Series, b_s: pd.Series) -> pd.DataFrame:
        # padded-grid batch evaluation (relate_polygons_pred_batch), not a
        # per-pair Python loop
        p = relate_polygons_pred_batch(a_s, b_s)
        return pd.DataFrame({
            "intersects": p["intersects"],
            "a_contains_b": p["contains"],
            "b_contains_a": p["within"],
        })

    # canonical key orientation: output a = lesser key; swap flags where
    # pk_a > pk_b
    in_order = F.col("pk_a") <= F.col("pk_b")
    flagged = cand.withColumn("r", rel.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b"))).select(
        F.least("pk_a", "pk_b").alias("a"),
        F.greatest("pk_a", "pk_b").alias("b"),
        F.when(in_order, F.col("a")).otherwise(F.col("b")).alias("pa_uid"),
        F.when(in_order, F.col("b")).otherwise(F.col("a")).alias("pb_uid"),
        F.col("r.intersects").alias("inter"),
        F.when(in_order, F.col("r.a_contains_b")).otherwise(F.col("r.b_contains_a")).alias("cab"),
        F.when(in_order, F.col("r.b_contains_a")).otherwise(F.col("r.a_contains_b")).alias("cba"),
    )
    agg = flagged.groupBy("a", "b").agg(
        F.max("inter").alias("intersects"),
        F.count_distinct(F.when(F.col("cab"), F.col("pb_uid"))).alias("b_parts_contained"),
        F.count_distinct(F.when(F.col("cba"), F.col("pa_uid"))).alias("a_parts_contained"),
    )
    nparts = parts.groupBy("key").agg(F.count(F.lit(1)).alias("np"))
    return (
        agg.join(nparts.select(F.col("key").alias("a"), F.col("np").alias("np_a")), "a")
        .join(nparts.select(F.col("key").alias("b"), F.col("np").alias("np_b")), "b")
        .filter(F.col("intersects"))
        .select(
            "a", "b",
            (F.col("b_parts_contained") == F.col("np_b")).alias("contains_ab"),
            (F.col("a_parts_contained") == F.col("np_a")).alias("contains_ba"),
        )
    )


# ---------------------------------------------------------------- line joins

def _envelope_parts(df: DataFrame, key_col: str, wkb_col: str, vertices) -> DataFrame:
    """(key, wkb) table -> (key, wkb, xmin, ymin, xmax, ymax): one row per
    geometry, the envelope taken over ``vertices(wkb) -> (x, y)``; a
    geometry without vertices drops out."""
    def norm(batches):
        for pdf in batches:
            rows = []
            for k, b in zip(pdf[key_col].tolist(), pdf[wkb_col].tolist()):
                x, y = vertices(bytes(b))
                if len(x):
                    rows.append((int(k), bytes(b), float(np.min(x)), float(np.min(y)),
                                 float(np.max(x)), float(np.max(y))))
            if rows:
                yield pd.DataFrame(rows, columns=["key", "wkb", "xmin", "ymin", "xmax", "ymax"])

    return df.select(F.col(key_col), F.col(wkb_col)).mapInPandas(
        norm, schema="key long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    )


def line_parts_df(lines_df: DataFrame, key_col: str = "key", wkb_col: str = "wkb") -> DataFrame:
    """(key, wkb) LineString table -> (key, wkb, xmin, ymin, xmax, ymax).

    The line analog of polygon_parts_df.  No anti-meridian SPLIT for lines
    (out of the general-position model; callers with wrapping tracks split
    upstream, as the GPX store does per segment)."""
    def vertices(buf):
        typ, xy = _geo.wkb_parse(buf)
        if typ != "linestring":
            raise ValueError(f"line_parts_df expects LineStrings, got {typ}")
        return xy

    return _envelope_parts(lines_df, key_col, wkb_col, vertices)


def _line_poly_candidates(
    lines_df: DataFrame, polygons_df: DataFrame, res: int | None
) -> DataFrame:
    """Shared candidate stage for mixed-dimension joins: covering-cell
    bucket candidates for BOTH distributed sides through _pair_candidates.
    Columns: a (line key), b (polygon key), wkb_a, wkb_b.

    Lifecycle: lparts/pparts are persisted because each feeds both its
    covering-cell branch and the WKB re-attach join (a consumed-twice plan
    is computed twice unpersisted); they stay cached until session end —
    callers running MANY joins per session should spark.catalog.clearCache()
    between batches."""
    lparts = line_parts_df(lines_df).persist()
    pparts = polygon_parts_df(polygons_df).persist()
    if res is None:
        res = _choose_res_dist(pparts)
    pairs = _cover_pairs(_cover_keys(lparts, res), _cover_keys(pparts, res))
    return _pair_candidates(pairs, lparts, pparts)


def line_polygon_join(
    lines_df: DataFrame,
    polygons_df: DataFrame,
    res: int | None = None,
) -> DataFrame:
    """Distributed line-vs-polygon spatial join: covering-cell bucket
    candidates for BOTH sides (neither operand table ever lands on the
    driver), codegen envelope prune, then a single Arrow refine evaluating
    the mixed-dimension DE-9IM kernel (functions/relate.py line operands).

    Output: (lkey, pkey, within, crosses) for every intersecting pair —
    the dispatch surface of BinarySpatialFilter.java:43 for dim-1 x dim-2
    operands.  Scale shape mirrors polygon_pair_join: the cell equi-join is
    the only shuffle and the refine sees candidate pairs only."""
    from ..functions.relate import line_polygon_relate_batch

    cand = _line_poly_candidates(lines_df, polygons_df, res)

    @F.pandas_udf(
        T.StructType([
            T.StructField("intersects", T.BooleanType()),
            T.StructField("within", T.BooleanType()),
            T.StructField("crosses", T.BooleanType()),
        ])
    )
    def rel(l_s: pd.Series, p_s: pd.Series) -> pd.DataFrame:
        # one broadcasted evaluation for the whole Arrow batch (identical
        # FP expressions to the scalar kernel — oracle-exact)
        inter, within, crosses = line_polygon_relate_batch(l_s, p_s)
        return pd.DataFrame(
            {"intersects": inter, "within": within, "crosses": crosses}
        )

    out = cand.withColumn("r", rel.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b")))
    return (
        out.filter(F.col("r.intersects"))
        .select(
            F.col("a").alias("lkey"), F.col("b").alias("pkey"),
            F.col("r.within").alias("within"),
            F.col("r.crosses").alias("crosses"),
        )
    )


def line_clip_join(
    lines_df: DataFrame,
    polygons_df: DataFrame,
    res: int | None = None,
) -> DataFrame:
    """Distributed ST_Intersection(line, polygon) length join: the same
    candidate machinery as line_polygon_join, refined by the parametric
    clip kernel (functions/overlay.clip_line_polygon).  Output: one row per
    pair with a non-empty clip — (lkey, pkey, qclip) where qclip is the
    int64 quantized clipped length (per-interval floor at 1e7, sum —
    aggregation-order-independent, hence oracle-exact)."""
    from ..functions.overlay import clip_qlen_batch

    cand = _line_poly_candidates(lines_df, polygons_df, res)

    @F.pandas_udf(T.LongType())
    def qclip(l_s: pd.Series, p_s: pd.Series) -> pd.Series:
        # polygon-grouped flat-grid batch kernel (bit-identical to
        # clip_line_polygon's qlen), not a per-pair Python loop
        return pd.Series(clip_qlen_batch(l_s, p_s))

    out = cand.withColumn("qclip", qclip.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b")))
    return out.filter(F.col("qclip") > 0).select(
        F.col("a").alias("lkey"), F.col("b").alias("pkey"), "qclip"
    )


def nearest_line_join(
    points_df: DataFrame,
    lines_df: DataFrame,
    lon_col: str,
    lat_col: str,
    radius: float,
    id_col: str = "event_id",
    key_col: str = "key",
    wkb_col: str = "wkb",
) -> DataFrame:
    """Nearest-polyline join (map-matching): for each point, the single
    nearest line feature within ``radius`` degrees — JoinFeatureSet.java:74's
    set-vs-set contract specialized to a top-1 distance join, the dim-0 ×
    dim-1 counterpart of the kNN join.  Broadcast-dim shape (the line table
    packs into flat segment arrays shipped in the UDF closure, the pattern of
    the ST_Distance gate): points stream through ONE vectorized Arrow stage
    computing an (n_points, n_segments) distance matrix, reduced per line by
    ``minimum.reduceat`` over key-sorted contiguous segment runs.  Ties →
    lowest line key (argmin first-hit over ascending keys).  For line
    dimensions too big to broadcast, generate candidates with the
    cell-bucket machinery of line_polygon_join instead.

    Output (id, key, qdist) with qdist = floor(1e7 · distance); points with
    no line inside the radius drop out (inner-join semantics)."""

    rows = sorted(
        ((int(r[key_col]), bytes(r[wkb_col])) for r in lines_df.collect()),
        key=lambda t: t[0],
    )
    vx: list[float] = []
    vy: list[float] = []
    wx: list[float] = []
    wy: list[float] = []
    keys: list[int] = []
    offsets: list[int] = []
    for k, wkb in rows:
        _typ, (lx, ly) = _geo.wkb_parse(wkb)
        if len(lx) < 2:
            continue
        keys.append(k)
        offsets.append(len(vx))
        vx.extend(lx[:-1].tolist())
        vy.extend(ly[:-1].tolist())
        wx.extend(lx[1:].tolist())
        wy.extend(ly[1:].tolist())
    schema = "id long, key long, qdist long"
    if not keys:
        return points_df.sparkSession.createDataFrame([], schema)
    sa = tuple(np.asarray(a, np.float64) for a in (vx, vy, wx, wy))
    karr = np.asarray(keys, np.int64)
    offs = np.asarray(offsets, np.int64)
    rq = int(np.floor(radius * 1e7))

    pts = points_df.select(F.col(id_col).alias("id"), lon_col, lat_col)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            d2 = _geo.point_segments_dist2(
                pdf[lon_col].to_numpy(), pdf[lat_col].to_numpy(), *sa)
            per_line = np.minimum.reduceat(d2, offs, axis=1)
            qd = np.floor(np.sqrt(per_line) * 1e7).astype(np.int64)
            j = qd.argmin(axis=1)
            best = qd[np.arange(len(qd)), j]
            m = best <= rq
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy()[m],
                "key": karr[j[m]],
                "qdist": best[m],
            })

    return pts.mapInPandas(fn, schema=schema)


def geometry_parts_df(gdf: DataFrame, key_col: str = "key",
                      wkb_col: str = "wkb") -> DataFrame:
    """(key, wkb) table of ANY WKB geometry type -> (key, wkb, envelope).

    The fully-generic analog of polygon_parts_df/line_parts_df (no SPLIT or
    member expansion — distance semantics need the whole geometry): envelope
    from the decomposed vertex set, any of the 7 geometry types."""
    from ..functions.sqlmm import geom_decompose

    def vertices(buf):
        D = geom_decompose(*_geo.wkb_parse(buf))
        return (np.concatenate([D["px"], D["svx"], D["swx"]]),
                np.concatenate([D["py"], D["svy"], D["swy"]]))

    return _envelope_parts(gdf, key_col, wkb_col, vertices)


def _radius_res(parts: DataFrame, radius: float) -> int:
    """Covering resolution for distance-bounded joins: the usual median-part
    heuristic, capped so one cell is never (much) smaller than the radius —
    otherwise the radius-expanded covers grow as (r/cell)^2 per feature."""
    res = _choose_res_dist(parts)
    return min(res, _res_for_width(radius)) if radius > 0 else res


def geometry_distance_join(
    a_df: DataFrame,
    b_df: DataFrame,
    radius: float,
    res: int | None = None,
) -> DataFrame:
    """Distance-bounded spatial join for ANY geometry-type pair — the
    DistanceFilter.java:48 join shape (ST_Distance(a, b) <= d as a join
    predicate), with BOTH sides distributed (no crossJoin, no driver-resident
    dimension, no broadcast-nested-loop).

    Plan: generic envelope parts for each side; the A covers are computed
    over radius-EXPANDED envelopes so any pair within ``radius`` shares a
    covering cell (two intersecting rectangles on one grid always share a
    cell); the cell equi-join is the only shuffle; a codegen envelope prune
    with radius slack runs before the Arrow refine evaluates the exact
    geom_distance kernel (same FP expressions as the ST_Distance gate) on
    candidate pairs only.

    Output: (akey, bkey, qdist) with qdist = floor(1e7 * distance), for
    pairs with qdist <= floor(1e7 * radius)."""
    from ..functions.sqlmm import geom_distance_batch

    r = float(radius)
    # qdist <= floor(r*1e7) admits distances up to r + 1e-7; pad the
    # geometric prunes so the quantization granularity can't drop a pair
    rp = r + 1e-6
    # eager localCheckpoint, not persist: each side feeds both its cover
    # branch and the WKB re-attach join, and checkpoint blocks are
    # GC-reclaimed instead of pinned in the CacheManager until session end
    aparts = geometry_parts_df(a_df).localCheckpoint()
    bparts = geometry_parts_df(b_df).localCheckpoint()
    if res is None:
        res = _radius_res(bparts, r)
    pairs = _cover_pairs(_cover_keys(aparts, res, rp), _cover_keys(bparts, res))
    cand = _pair_candidates(pairs, aparts, bparts, rp)
    rq = int(np.floor(r * 1e7))

    @F.pandas_udf("long")
    def qdist(a_s: pd.Series, b_s: pd.Series) -> pd.Series:
        # grouped-flat batch kernel, not a per-pair loop (bit-identical to
        # the scalar geom_distance — min/any reductions are value-exact)
        d = geom_distance_batch(a_s, b_s)
        return pd.Series(np.floor(d * 1e7).astype(np.int64))

    out = cand.withColumn(
        "qdist", qdist.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b")))
    return out.filter(F.col("qdist") <= F.lit(rq)).select(
        F.col("a").alias("akey"), F.col("b").alias("bkey"), "qdist"
    )


def nearest_line_join_dist(
    points_df: DataFrame,
    lines_df: DataFrame,
    lon_col: str,
    lat_col: str,
    radius: float,
    id_col: str = "event_id",
    key_col: str = "key",
    wkb_col: str = "wkb",
    res: int | None = None,
) -> DataFrame:
    """nearest_line_join with a fully-DISTRIBUTED line dimension (the
    polygon_parts_df treatment): line envelopes expanded by ``radius`` are
    cell-covered, points bucket to their single cell, the cell equi-join is
    the only shuffle, and an Arrow refine computes per-candidate point-line
    distances (one wkb parse per line per batch, vectorized over its
    points).  Top-1 per point = min(struct(qdist, key)) — identical
    tie-break (lowest key) and quantization to the broadcast path, so both
    satisfy the same oracle.

    Use this when the line table is continental-scale; the broadcast
    variant stays the low-latency path for road-network-sized dims."""

    r = float(radius)
    rp = r + 1e-6  # quantization-granularity pad (see geometry_distance_join)
    # eager localCheckpoint, not persist (GC-reclaimed; see geometry_distance_join)
    lparts = line_parts_df(lines_df, key_col, wkb_col).localCheckpoint()
    if res is None:
        res = _radius_res(lparts, r)
    lcov = _cover_keys(lparts, res, rp).withColumnRenamed("key", "lkey")
    pts = points_df.select(
        F.col(id_col).alias("id"), F.col(lon_col).alias("px"), F.col(lat_col).alias("py"),
    ).withColumn("cell", cell_col(F.col("px"), F.col("py"), res))
    line_env = tuple(F.col(c) for c in ("xmin", "ymin", "xmax", "ymax"))
    point = (F.col("px"), F.col("py"), F.col("px"), F.col("py"))
    cand = (
        pts.join(lcov, "cell")
        .join(
            lparts.select(
                F.col("key").alias("lkey"), F.col("wkb").alias("lwkb"),
                "xmin", "ymin", "xmax", "ymax"),
            "lkey",
        )
        .filter(_boxes_meet(line_env, point, rp))
        .select("id", "px", "py", "lkey", "lwkb")
    )
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    rq = int(np.floor(r * 1e7))

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, keys, qds = [], [], []
            for lkey, grp in pdf.groupby("lkey", sort=False):
                wkb = bytes(grp["lwkb"].iloc[0])
                _typ, (lx, ly) = _geo.wkb_parse(wkb)
                if len(lx) < 2:
                    continue
                d2 = _geo.point_segments_dist2(
                    grp["px"].to_numpy(), grp["py"].to_numpy(),
                    lx[:-1], ly[:-1], lx[1:], ly[1:])
                qd = np.floor(np.sqrt(d2.min(axis=1)) * 1e7).astype(np.int64)
                m = qd <= rq
                ids.append(grp["id"].to_numpy()[m])
                keys.append(np.full(int(m.sum()), int(lkey), np.int64))
                qds.append(qd[m])
            if not ids:
                continue
            yield pd.DataFrame({
                "id": np.concatenate(ids),
                "key": np.concatenate(keys),
                "qdist": np.concatenate(qds),
            })

    hits = cand.mapInPandas(fn, schema="id long, key long, qdist long")
    best = hits.groupBy("id").agg(F.min(F.struct("qdist", "key")).alias("b"))
    return best.select("id", F.col("b.key").alias("key"), F.col("b.qdist").alias("qdist"))


def spacetime_join(
    a: DataFrame,
    b: DataFrame,
    grid_n: int,
    r_q: int,
    tau_us: int,
) -> DataFrame:
    """Spatio-temporal pair join -> (a_id, b_id): b-events within BOTH
    ``r_q`` quantized-coordinate units (planar int64 distance on the
    quantized grid) AND ``tau_us`` microseconds of an a-event.

    Inputs: (id, lon, lat, qx, qy, ts_us) each; ``grid_n`` is the
    per-axis cell count and the cell side must be >= r_q in quantized
    units (the 3x3 neighbor ring then covers every possible match).

    Scale shape: the a-side explodes its 3x3 cell ring (codegen), the
    b-side keys on its exact cell — ONE equi-join on the cell, exact
    integer distance + time predicates after; each pair emitted once
    (b's cell is unique).  Compose with time bucketing (range_join's
    bins) when a cell's population is time-dominated."""
    from .density import grid_expr

    def with_cell(df, prefix):
        return df.select(
            F.col("id").alias(f"{prefix}_id"),
            F.col("qx").alias(f"{prefix}_qx"),
            F.col("qy").alias(f"{prefix}_qy"),
            F.col("ts_us").alias(f"{prefix}_ts"),
            F.expr(grid_expr("x", grid_n)).alias(f"{prefix}_ix"),
            F.expr(grid_expr("y", grid_n)).alias(f"{prefix}_iy"),
        )

    aa = with_cell(a, "a")
    bb = with_cell(b, "b")
    offs = a.sparkSession.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx long, dy long",
    )
    ae = aa.join(F.broadcast(offs)).select(
        "a_id", "a_qx", "a_qy", "a_ts",
        (F.col("a_ix") + F.col("dx")).alias("cx"),
        (F.col("a_iy") + F.col("dy")).alias("cy"),
    )
    j = ae.join(
        bb,
        (F.col("cx") == F.col("b_ix")) & (F.col("cy") == F.col("b_iy")),
    )
    dx = F.col("a_qx") - F.col("b_qx")
    dy = F.col("a_qy") - F.col("b_qy")
    dt = F.col("a_ts") - F.col("b_ts")
    r2 = F.lit(int(r_q)).cast("long") * F.lit(int(r_q)).cast("long")
    return j.filter(
        (dx * dx + dy * dy <= r2)
        & (F.abs(dt) <= F.lit(int(tau_us)).cast("long"))
    ).select("a_id", "b_id")
