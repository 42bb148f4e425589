"""Spans around calls into the engine's public functions, recorded from the
benchmark's own files (nothing under ``sis_spark/`` is touched).

``Tracer.install`` replaces each hooked function with a wrapper that records
a span (name, start, end, parent span, operation id, counts) and restores the
originals on ``uninstall``.  Hooks patch every module attribute a caller
resolves at call time: ``spatial_join.py`` imports ``cell_col`` by name, so
the name is patched there as well as in ``spark_exprs``.  Spans stay in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager

# (span name, [(module, attribute), ...], count extractor or None)
HOOKS = [
    ("session.get_spark", [("sis_spark.session", "get_spark")], None),
    ("sources.polygons_from_wkb", [("sis_spark.sources", "polygons_from_wkb")],
     lambda out: {"polygons": len(out)}),
    ("cells.cell_col", [("sis_spark.functions.spark_exprs", "cell_col"),
                        ("sis_spark.operators.spatial_join", "cell_col")], None),
    ("cells.tile_cols", [("sis_spark.functions.spark_exprs", "tile_cols"),
                         ("sis_spark.operators.tiling", "tile_cols")], None),
    ("spatial_join.spatial_join", [("sis_spark.operators.spatial_join", "spatial_join")], None),
    ("spatial_join.normalize_polygons",
     [("sis_spark.operators.spatial_join", "normalize_polygons")], None),
    ("spatial_join.choose_resolution",
     [("sis_spark.operators.spatial_join", "choose_resolution")], None),
    ("spatial_join.polygon_cells", [("sis_spark.operators.spatial_join", "polygon_cells")],
     lambda out: {"rows": len(out)}),
    ("tiling.assign_tiles", [("sis_spark.operators.tiling", "assign_tiles")], None),
    ("checkpoint.stage", [("sis_spark.plans.checkpoint", "CheckpointedPipeline.stage")],
     lambda out: {"rows": out.manifest["row_count"]}),
    ("knn.knn_join_cells", [("sis_spark.operators.knn", "knn_join_cells")], None),
    ("knn.knn_join", [("sis_spark.operators.knn", "knn_join")], None),
]


def _resolve(module: str, attr: str):
    owner = importlib.import_module(module)
    *path, name = attr.split(".")
    for part in path:
        owner = getattr(owner, part)
    return owner, name


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every method a
    no-op, so the untraced run pays nothing; ``active`` switches recording
    off for single operations of a traced run (the overhead baseline)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str, **counts):
        if not self.active:
            yield counts
            return
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": counts}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield counts
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, name, fn, count_fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as counts:
                out = fn(*args, **kwargs)
                if count_fn is not None:
                    counts.update(count_fn(out))
                return out
        return traced

    def install(self) -> None:
        if not self.enabled or self._saved:
            return
        for name, targets, count_fn in HOOKS:
            for module, attr in targets:
                owner, leaf = _resolve(module, attr)
                fn = getattr(owner, leaf)
                self._saved.append((owner, leaf, fn))
                setattr(owner, leaf, self._wrap(name, fn, count_fn))

    def uninstall(self) -> None:
        for owner, leaf, fn in reversed(self._saved):
            setattr(owner, leaf, fn)
        self._saved.clear()

    def per_op(self, name: str, prefix: str = "op-", agg=sum) -> dict[str, float]:
        """``agg`` (default: the total) of the durations of the outermost
        ``name`` spans (a re-entrant call counts once) in each operation
        whose id starts with ``prefix``."""
        out: dict[str, list] = {}
        for rec in self.spans:
            if rec["name"] != name or rec["end"] is None:
                continue
            if not str(rec["op"]).startswith(prefix):
                continue
            parent = rec["parent"]
            while parent is not None and self.spans[parent]["name"] != name:
                parent = self.spans[parent]["parent"]
            if parent is None:
                out.setdefault(rec["op"], []).append(rec["end"] - rec["start"])
        return {op: agg(ds) for op, ds in out.items()}

    def counts(self, name: str, key: str, prefix: str = "op-") -> list:
        return [r["counts"][key] for r in self.spans
                if r["name"] == name and key in r["counts"]
                and str(r["op"]).startswith(prefix)]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered by
        direct children."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = {}
        for i, rec in enumerate(self.spans):
            if rec["end"] is not None:
                out[rec["name"]] = out.get(rec["name"], 0.0) + rec["end"] - rec["start"] - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)
