"""The benchmark workloads: seeded inputs, one operation, its correctness check.

Each workload is driven as a closed loop with one client: ``op(i)`` runs one
operation to completion, checks it against the oracle answer computed in
``prepare`` and returns an ``OpResult``.  Engine functions are always called
through their module (``sj.spatial_join``), so the tracer's hooks see them.

In traced ops (``probe=True``) the join workload also materialises the
layer prefixes as separate actions -- cell encode only, the cell-join
candidate counts, the spatial join, then join plus tiles -- each under its
own span, so executor time can be split by layer from outside the engine.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import inputs
import oracle
import sparkstats

import sis_spark.functions.spark_exprs as exprs
import sis_spark.operators.knn as knn
import sis_spark.operators.spatial_join as sj
import sis_spark.operators.tiling as tiling
import sis_spark.plans.checkpoint as checkpoint
import sis_spark.sources as sources

ZOOM = 12
KNN_K = 5
# Ring rounds per kNN call.  The default (8) lets the round count follow the
# seed's single worst query (41 to 109 Spark jobs per call across seeds);
# two rounds hold it at ~41, and queries still pending then take the
# operator's exact brute-force path.
KNN_ROUNDS = 2

# Input sizes, per workload: one operation takes a few seconds on a 4-core
# host, so a run holds several after the fixed Spark start-up and warm-up.
SIZES = {
    "ingest_batches": {"batches": 4, "rows": 20_000, "polygons": 250, "payload_bytes": 128,
                       "files": 4},
    "knn_rings": {"candidates": 30_000, "queries": 60, "files": 4},
}


@dataclass
class OpResult:
    seconds: float           # the operation itself; checks are excluded
    units: int               # input points joined, or kNN queries answered
    ok: bool
    spark: dict = field(default_factory=dict)   # job/stage/task counts


def _checksum(df, tiles: bool = True):
    """Order-free checksum action over a join output (see oracle.checksum)."""
    cols = [F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("id") * oracle.PAIR_MUL + F.col("poly_key")) % oracle.KEY_MOD)
            .alias("pair")]
    if tiles:
        cols.append(F.sum(F.col("tx") * oracle.TILE_MUL + F.col("ty")).alias("tile"))
    return df.agg(*cols)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    # Checked operations run before timing.  Operation times keep falling
    # for a few operations after the first (JIT, Python workers); without
    # enough warm-up a run's median depended on how many operations fitted.
    warmup_ops: int

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.size = SIZES[self.name]

    def prepare(self, d: str) -> None:
        """Generate the inputs under ``d`` and the oracle answers."""
        raise NotImplementedError

    def op(self, i: int, probe: bool) -> OpResult:
        raise NotImplementedError

    def _group(self, group: str) -> None:
        self.sc.setJobGroup(group, f"{self.name} {group}")

    def _counts(self, *groups: str) -> dict:
        total: dict = {}
        for g in groups:
            for k, v in sparkstats.group_counts(self.sc, g).items():
                total[k] = total.get(k, 0) + v
        return total


class IngestBatches(Workload):
    """Sequential image batches: each is joined with the star-polygon table
    (read as (key, wkb) parquet per batch), tiled at z12 and written as one
    checkpointed stage with its manifest to a fresh directory."""

    name = "ingest_batches"
    warmup_ops = 4   # the ~2.5 s operations were still getting faster at the 4th

    def prepare(self, d):
        s = self.size
        rng = np.random.default_rng(self.seed)
        centers = inputs.hot_centers(rng)
        rings = inputs.star_polygons(rng, centers, s["polygons"])
        keys = rng.permutation(len(rings)).astype(np.int64) + 1
        self.wkb_dir = os.path.join(d, "polygons")
        inputs.write_parquet(inputs.polygon_table(keys, rings), self.wkb_dir, 1)
        self.batch_dirs, self.expected = [], []
        for b in range(s["batches"]):
            lon, lat = inputs.skewed_points(rng, centers, s["rows"])
            ids = np.arange(b * s["rows"], (b + 1) * s["rows"], dtype=np.int64)
            path = os.path.join(d, f"batch-{b:03d}")
            inputs.write_parquet(inputs.image_table(rng, ids, lon, lat, s["payload_bytes"]),
                                 path, s["files"])
            self.batch_dirs.append(path)
            self.expected.append(oracle.join_tiles_checksum(ids, lon, lat, rings, keys, ZOOM))
        self.cover = None

    def _load_polygons(self):
        with self.tracer.span("sources.polygons_load"):
            return sources.polygons_from_wkb(self.spark.read.parquet(self.wkb_dir))

    def _covering(self, polys):
        """Resolution and covering table the operator builds for ``polys``,
        recomputed from its public functions; cached, as the polygon table
        is fixed for a run."""
        if self.cover is None:
            norm = sj.normalize_polygons(polys)
            res = min(sj.choose_resolution(norm) + 3, 14)
            pc = sj.polygon_cells(norm, res, classify=True)
            if len(pc) > 2_000_000:   # the operator's covering guardrail
                res = sj.choose_resolution(norm)
                pc = sj.polygon_cells(norm, res).assign(sure=False)
            cells = self.spark.createDataFrame(
                pc[["cell", "sure"]].astype({"cell": "int64", "sure": "bool"}))
            self.cover = (res, cells)
        return self.cover

    def _probe_layers(self, pts, polys, group: str) -> None:
        """Layer prefixes as separate actions, each in its own span: cell
        encode only, the cell-join candidates, the spatial join, then join
        plus tiles.  The last two alternate twice and keep the faster of
        each, so their difference is not just the order they ran in."""
        self.tracer.op_id = group
        res, cells = self._covering(polys)
        self._group(group)
        cell = exprs.cell_col(F.col("lon"), F.col("lat"), res)
        with self.tracer.span("probe.encode") as c:
            r = pts.select(cell.alias("cell")).agg(
                F.count(F.lit(1)), F.sum(F.col("cell") % oracle.KEY_MOD)).collect()[0]
            c["rows"] = r[0]
        with self.tracer.span("probe.candidates") as c:
            r = (pts.select(cell.alias("cell")).join(F.broadcast(cells), "cell")
                 .agg(F.count(F.lit(1)), F.sum(F.col("sure").cast("long"))).collect()[0])
            c["rows"], c["sure"] = r[0], r[1] or 0
        for _ in range(2):   # fresh plans: a re-run plan reuses its finished stages
            join = _checksum(sj.spatial_join(pts, polys, "lon", "lat"), tiles=False)
            with self.tracer.span("probe.join") as c:
                c["rows"] = join.collect()[0][0]
            join_tiles = _checksum(tiling.assign_tiles(
                sj.spatial_join(pts, polys, "lon", "lat"), "lon", "lat", ZOOM))
            with self.tracer.span("probe.join_tiles"):
                join_tiles.collect()

    def op(self, i, probe):
        b = i % len(self.batch_dirs)
        root = os.path.join(self.work, "stages", f"op-{i}")
        built, polys = [], []

        def build(spark, _upstream):
            pts = spark.read.parquet(self.batch_dirs[b])
            polys.append(self._load_polygons())
            built.append(tiling.assign_tiles(sj.spatial_join(pts, polys[-1], "lon", "lat"),
                                             "lon", "lat", ZOOM))
            return built[-1]

        group = f"op-{i}"
        self._group(group)
        t0 = time.perf_counter()
        with self.tracer.span("op") as c:
            stage = checkpoint.CheckpointedPipeline(self.spark, root).stage(
                "join_tiles", build, params={"batch": b})
        seconds = time.perf_counter() - t0
        self._group(f"check-{i}")
        row = tuple(_checksum(self.spark.read.parquet(stage.path)).collect()[0])
        ok = row == self.expected[b] and stage.manifest["row_count"] == row[0]
        c["bytes_written"] = _dir_bytes(stage.path)
        c["rows_written"] = stage.manifest["row_count"]
        c["point_scans"] = sparkstats.point_scans(built[-1], self.batch_dirs[b])
        if probe:
            self._probe_layers(self.spark.read.parquet(self.batch_dirs[b]), polys[-1],
                               f"probe-{i}")
        shutil.rmtree(root)
        return OpResult(seconds, self.size["rows"], ok, self._counts(group))


class KnnRings(Workload):
    """kNN (k=5) by ring expansion; bypasses the spatial join entirely."""

    name = "knn_rings"
    # The first call takes ~15-20 s on 4 cores, the 3rd ~5 s; later ones
    # creep down by ~15% over the next five.  The run time goes to timed
    # calls instead: the host's load varies more than that.
    warmup_ops = 3

    def prepare(self, d):
        s = self.size
        rng = np.random.default_rng(self.seed)
        centers = inputs.hot_centers(rng)
        clon, clat = inputs.skewed_points(rng, centers, s["candidates"])
        self.cids = rng.permutation(s["candidates"]).astype(np.int64)
        qlon, qlat = inputs.skewed_points(rng, centers, s["queries"], half=2.0)
        self.cand_dir = os.path.join(d, "candidates")
        self.query_dir = os.path.join(d, "queries")
        inputs.write_parquet(pa.table({"cand_id": self.cids, "lon": clon, "lat": clat}),
                             self.cand_dir, s["files"])
        inputs.write_parquet(pa.table({"query_id": np.arange(s["queries"], dtype=np.int64),
                                       "qlon": qlon, "qlat": qlat}), self.query_dir, 1)
        self.clon, self.clat, self.qlon, self.qlat = clon, clat, qlon, qlat
        self.expected_ids, self.expected_d = oracle.knn(qlon, qlat, clon, clat, self.cids, KNN_K)

    def _check(self, rows) -> bool:
        """The oracle's ids in rank order for every query; where they differ,
        the engine's k distances must equal the oracle's within 1e-6 m (a tie
        broken differently in the last bit)."""
        got = np.full(self.expected_ids.shape, -1, np.int64)
        for qid, rank, cid in rows:
            if not (0 <= qid < len(got) and 1 <= rank <= KNN_K):
                return False
            got[qid, rank - 1] = cid
        if (got == self.expected_ids).all():
            return True
        where = {int(c): j for j, c in enumerate(self.cids)}
        for q in np.nonzero((got != self.expected_ids).any(axis=1))[0]:
            if -1 in got[q] or len(set(got[q])) != KNN_K:
                return False
            idx = [where[int(c)] for c in got[q]]
            d = np.sort(oracle.haversine_m(self.qlon[q], self.qlat[q],
                                           self.clon[idx], self.clat[idx]))
            if not np.allclose(d, self.expected_d[q], rtol=0.0, atol=1e-6):
                return False
        return True

    def op(self, i, probe):
        call, collect = f"op-{i}", f"op-{i}.collect"
        self._group(call)
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            out = knn.knn_join_cells(self.spark.read.parquet(self.cand_dir),
                                     self.spark.read.parquet(self.query_dir), KNN_K,
                                     max_iterations=KNN_ROUNDS)
            self._group(collect)
            rows = [tuple(r) for r in out.select("query_id", "rank", "cand_id").collect()]
        seconds = time.perf_counter() - t0
        counts = self._counts(call, collect)
        counts["call_jobs"] = self._counts(call)["jobs"]
        return OpResult(seconds, len(self.qlon), self._check(rows), counts)


WORKLOADS = {w.name: w for w in (IngestBatches, KnnRings)}
