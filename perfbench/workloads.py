"""The benchmark workloads: ``pipeline`` and ``lookup_roundtrip``.

Each workload builds its inputs from the seed on the driver
(``generate``, repeated during set-up to prove determinism), computes
its independent oracle once (``oracle``), hands the inputs to Spark
once (``materialize``), then runs one operation per
``operation`` call through the engine's public entry points and checks
every output (``check``).  ``probe`` and ``kernels`` run only in the
traced pass, outside the timed operations.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import oracles

TILE = 256


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        elif isinstance(p, pd.DataFrame):
            for c in p.columns:
                col = p[c]
                if col.dtype == object:
                    for v in col:
                        h.update(bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode())
                else:
                    h.update(np.ascontiguousarray(col.to_numpy()).tobytes())
        else:
            h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def star_polygon(rng, cx, cy, radius, n_vertices, hole: bool) -> list[np.ndarray]:
    """Concave star ring (radii jittered between 0.6 and 1.0 of
    ``radius``), closed, optionally with a reversed inner ring as a
    hole that always lies inside the exterior's inner radius."""
    th = np.sort(rng.uniform(0.0, 2 * np.pi, n_vertices))
    r = radius * (0.6 + 0.4 * rng.random(n_vertices))
    ext = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
    rings = [np.vstack([ext, ext[:1]])]
    if hole:
        t2 = np.linspace(0.0, 2 * np.pi, 16, endpoint=False)[::-1]
        h = np.column_stack([cx + 0.3 * radius * np.cos(t2), cy + 0.3 * radius * np.sin(t2)])
        rings.append(np.vstack([h, h[:1]]))
    return rings


def read_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class Workload:
    name = ""
    rows = 0  # input rows per operation, the rows_per_s numerator
    MIN_OPS = 1  # timed operations per untraced run, whatever --seconds says

    def __init__(self, spark, seed: int, scale: str, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.work = os.path.join(work, self.name)
        self.tr = tracer
        os.makedirs(self.work, exist_ok=True)
        self.expected_digest = None

    def rng(self):
        return np.random.default_rng([self.seed, sum(map(ord, self.name))])

    def generate(self) -> str: ...
    def materialize(self) -> None: ...
    def operation(self, op: str): ...

    def oracle(self) -> None:
        """Independent answers computed once from the generated inputs
        (the raster labelling needs the engine's raster, so it is made in
        the first timed operation's check)."""

    def check(self, out) -> list[str]:
        """Errors for one operation's output; the first call fixes the
        digest later operations must reproduce."""
        errors, d = self._check(out)
        if self.expected_digest is None:
            self.expected_digest = d
        elif d != self.expected_digest:
            errors.append(f"output digest {d} != {self.expected_digest}")
        return errors

    def warm_up(self) -> list[str]:
        """Untimed work before timing starts that leaves the first timed
        operation as fast as the next; returns its check errors."""
        return []

    def probe(self, op: str) -> dict:
        return {}

    def kernels(self) -> dict:
        return {}

    def cleanup(self, out) -> None:
        pass

    def describe(self, out) -> str:
        return ""


# --------------------------------------------------------------------------
# pipeline: the flagship, via plans.pipeline.run_pipeline
# --------------------------------------------------------------------------


class Pipeline(Workload):
    """geocode → zone join → z8 tiles → z7–z5 pyramid on seeded pages,
    with the pages presented as an already-completed manifest stage."""

    name = "pipeline"
    OP_SPAN = "pipeline.run"
    # one operation's wall spreads about 0.18 between runs (its z8 burn
    # is one long task); the median of two spreads about half as much
    MIN_OPS = 2
    STAGES = ("geocode", "zone_join", "tiles", "pyramid_z7", "pyramid_z6", "pyramid_z5")

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = 50_000 if self.scale == "full" else 5_000
        # run_pipeline runs with its shipped defaults; the pages stage's
        # manifest parameters must match them for the stage to resume
        from gdal_spark.plans.pipeline import run_pipeline

        self.partitions = inspect.signature(run_pipeline).parameters["partitions"].default
        self.n_ops = 0
        self.resume_times: list[float] = []

    def generate(self) -> str:
        from gdal_spark.sources.pages import synth_pages_pdf

        self.start = int(self.rng().integers(0, 2**40))
        return digest(synth_pages_pdf(self.start, 64)[["page_id", "url", "text"]])

    def materialize(self) -> None:
        """Write the seeded pages once as a completed ``pages`` stage
        (driver synthesis, then a Spark copy through Manifest.run_stage)
        and keep its manifest row: each operation's fresh manifest root
        starts from a copy of that row, so run_pipeline resumes it."""
        import pyarrow as pa

        from gdal_spark.plans.manifest import Manifest
        from gdal_spark.sources.pages import synth_pages_pdf

        staging = os.path.join(self.work, "staging")
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        per = -(-self.rows // self.partitions)
        for i, lo in enumerate(range(0, self.rows, per)):
            pdf = synth_pages_pdf(self.start + lo, min(per, self.rows - lo))
            pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           os.path.join(staging, f"part-{i:05d}.parquet"),
                           coerce_timestamps="us")
        template = os.path.join(self.work, "template")
        shutil.rmtree(template, ignore_errors=True)
        mf = Manifest(template)
        res = mf.run_stage(self.spark, "pages", [self.rows, self.partitions],
                           lambda: self.spark.read.parquet(staging))
        if res.resumed or res.rows != self.rows:
            raise RuntimeError(f"pages stage wrote {res.rows} rows, expected {self.rows}")
        with open(mf.path) as f:
            self.pages_row = f.read()

    def _fresh_root(self) -> str:
        self.n_ops += 1
        root = os.path.join(self.work, f"op{self.n_ops}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        with open(os.path.join(root, "manifest.jsonl"), "w") as f:
            f.write(self.pages_row)
        return root

    def warm_up(self) -> list[str]:
        """Every stage on the same pages, with the burn at z2 and one
        pyramid level (z1): it compiles and starts each code path of the
        timed run at full volume for less than the timed run costs."""
        from gdal_spark.plans.pipeline import run_pipeline

        root = self._fresh_root()
        res = run_pipeline(self.spark, self.rows, root, base_z=2, min_z=1)
        self.warm_join = self._join_digest(res["zone_join"].path)
        shutil.rmtree(root, ignore_errors=True)
        if not res["pages"].resumed or res["zone_join"].rows != self.rows:
            return [f"warm-up pipeline joined {res['zone_join'].rows} of {self.rows}"]
        return []

    @staticmethod
    def _join_digest(path: str) -> str:
        joined = read_dir(path).sort_values(["page_id", "zone_id"])
        return digest(joined["page_id"].to_numpy(), joined["zone_id"].to_numpy())

    def operation(self, op: str):
        from gdal_spark.plans.pipeline import run_pipeline

        root = self._fresh_root()
        t0 = time.perf_counter()
        with self.tr.span("pipeline.run", op=op):
            res = run_pipeline(self.spark, self.rows, root)
        return {"root": root, "results": res, "wall": time.perf_counter() - t0}

    def resume(self, out) -> list[str]:
        """Rerun on the same manifest root: every stage must resume
        with identical rows and bytes."""
        from gdal_spark.plans.pipeline import run_pipeline

        t0 = time.perf_counter()
        with self.tr.span("manifest.resume"):
            again = run_pipeline(self.spark, self.rows, out["root"])
        self.resume_times.append(time.perf_counter() - t0)
        errors = []
        for stage, r in out["results"].items():
            a = again[stage]
            if not a.resumed or (a.rows, a.bytes) != (r.rows, r.bytes):
                errors.append(f"resume recomputed or changed stage {stage}")
        return errors

    def _check(self, out):
        from gdal_spark.sources.pages import CITIES

        res = out["results"]
        errors = []
        if not res["pages"].resumed:
            errors.append("pages stage was not taken from the manifest")
        errors += self.resume(out)
        geo = res["geocode"]
        zones = [(lon - 0.6, lat - 0.6, lon + 0.6, lat + 0.6) for _, lon, lat in CITIES]
        n_pairs = oracles.zone_pairs(geo.path, zones)
        if geo.rows != self.rows:
            errors.append(f"geocode rows {geo.rows} != {self.rows}")
        if res["zone_join"].rows != n_pairs:
            errors.append(f"n_joined {res['zone_join'].rows} != range test {n_pairs}")
        # the warm-up ran the same geocode and zone join (only its zooms differ)
        parts = [self._join_digest(res["zone_join"].path)]
        if parts[0] != self.warm_join:
            errors.append("zone join pairs differ from the warm-up's")
        sums = []
        for stage in ("tiles", "pyramid_z7", "pyramid_z6", "pyramid_z5"):
            t = read_dir(res[stage].path).sort_values(["tx", "ty"]).reset_index(drop=True)
            sums.append(int(sum(np.frombuffer(b, dtype=dt).sum()
                                for b, dt in zip(t["data"], t["dtype"]))))
            parts.append(t[["z", "tx", "ty", "data"]])
        if len(set(sums)) != 1 or sums[0] != self.rows:
            errors.append(f"tile sums not conserved z8..z5: {sums} (pages {self.rows})")
        if self.expected_digest is None:  # keep the points for the kernel section
            geo_df = read_dir(geo.path)
            self.lonlat = (geo_df["lon"].to_numpy(), geo_df["lat"].to_numpy())
        return errors, digest(*parts)

    def cleanup(self, out) -> None:
        shutil.rmtree(out["root"], ignore_errors=True)

    def describe(self, out) -> str:
        return " ".join(f"{k}={r.wall_s:.2f}" for k, r in out["results"].items() if not r.resumed)

    def kernels(self) -> dict:
        from gdal_spark.kernels.burn import burn_points, world_to_pixel
        from gdal_spark.kernels.geodesy import lonlat_to_webmerc, tile_geotransform, tile_of_webmerc

        mx, my = lonlat_to_webmerc(*self.lonlat)
        tx, ty = tile_of_webmerc(mx, my, 8)
        keys, counts = np.unique(np.stack([tx, ty]), axis=1, return_counts=True)
        htx, hty = (int(k) for k in keys[:, counts.argmax()])
        sel = (tx == htx) & (ty == hty)
        px, py = world_to_pixel(mx[sel], my[sel], tile_geotransform(8, htx, hty, TILE))

        def run():
            arr = np.zeros((TILE, TILE), dtype=np.int32)
            burn_points(arr, px, py, 1, merge_add=True)

        n = int(sel.sum())
        return kernel_rate("burn.points", run, n, px.nbytes + py.nbytes + TILE * TILE * 4)


def kernel_rate(name: str, fn, n_ops: int, nbytes: int, min_s: float = 0.3) -> dict:
    """Repeat ``fn`` until ``min_s`` has passed; report the rate of
    ``name``'s unit, the operations per call and the bytes each call
    reads."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            break
    kernel, unit = name.split(".")
    return {
        f"kernels.{kernel}.{unit}_per_s": n_ops * reps / dt,
        f"kernels.{kernel}.{unit}_ops": n_ops,
        f"kernels.{kernel}.{unit}_bytes": nbytes,
    }


# --------------------------------------------------------------------------
# lookup_roundtrip: the vector lookup, then the raster round trip
# --------------------------------------------------------------------------


class LookupRoundtrip(Workload):
    """The non-pipeline layers in one operation: point-in-polygon joins
    that reject most candidates (broadcast and salted shuffle plans),
    both kNN plans, then ``rasterize_wkb_grid`` → ``polygonize_tiles``.
    Geocode, the manifest, the point burn and the pyramid are bypassed.

    The warm-up runs the same calls on a slice of the points and a
    2×2-tile corner of the grid: it starts the Python workers and
    compiles every plan for a fraction of a full operation's cost."""

    name = "lookup_roundtrip"
    OP_SPAN = "lookup_roundtrip.op"
    K = 4
    HOT_CELLS = 4  # cells the salted plan should split
    SALT_SAMPLE = 0.1
    VERTICES = 64
    SIZES = {  # points, polygons, knn_cells queries, knn_broadcast queries, grid, features
        "full": (600_000, 300, 1000, 4, 1024, 300),
        "tiny": (8_000, 20, 50, 4, 512, 30),
    }

    def __init__(self, *a):
        super().__init__(*a)
        (self.n_points, self.n_polys, self.n_cell_queries, self.n_bcast_queries,
         self.size, self.n_features) = self.SIZES[self.scale]
        self.rows = self.n_points + self.size * self.size  # points + pixels
        self.gt = (0.0, 1.0, 0.0, float(self.size), 0.0, -1.0)
        self.want_regions = None

    # -- inputs -------------------------------------------------------------

    def generate(self) -> str:
        from gdal_spark.kernels import wkb as W

        rng = self.rng()
        self.rings = []
        for i in range(self.n_polys):
            cx, cy = rng.uniform(-170, 170), rng.uniform(-55, 55)
            self.rings.append(star_polygon(rng, cx, cy, rng.uniform(0.5, 0.8),
                                           self.VERTICES, i % 4 == 0))
        self.polys = [(i, W.polygon_wkb(r)) for i, r in enumerate(self.rings)]
        # 70% of the points straddle polygon edges, 30% are uniform
        n = self.n_points
        n_edge = int(n * 0.7)
        pid = rng.integers(0, self.n_polys, n_edge)
        vid = rng.integers(0, self.VERTICES, n_edge)
        ext = np.stack([r[0] for r in self.rings])  # (polys, VERTICES + 1, 2)
        a, b = ext[pid, vid], ext[pid, vid + 1]
        near = a + (b - a) * rng.random(n_edge)[:, None] + rng.normal(0, 0.05, (n_edge, 2))
        far = np.column_stack([rng.uniform(-180, 180, n - n_edge), rng.uniform(-60, 60, n - n_edge)])
        xy = np.vstack([near, far])[rng.permutation(n)]
        self.points = pd.DataFrame({"id": np.arange(n, dtype=np.int64),
                                    "lon": xy[:, 0], "lat": xy[:, 1]})
        # salt target = the (HOT_CELLS+1)-th largest res-7 cell count, so
        # about HOT_CELLS cells split whatever the seed
        cx = np.floor((xy[:, 0] + 180.0) / 360.0 * 128).astype(np.int64)
        cy = np.floor((90.0 - xy[:, 1]) / 180.0 * 128).astype(np.int64)
        counts = np.sort(np.unique(cx * 128 + cy, return_counts=True)[1])
        self.salt_target = int(counts[-self.HOT_CELLS - 1])
        q = rng.integers(0, n, self.n_cell_queries + self.n_bcast_queries)
        jit = rng.normal(0, 0.02, (q.size, 2))
        queries = pd.DataFrame({"qid": np.arange(q.size, dtype=np.int64),
                                "qx": xy[q, 0] + jit[:, 0], "qy": xy[q, 1] + jit[:, 1]})
        self.cell_queries = queries.iloc[: self.n_cell_queries].reset_index(drop=True)
        self.bcast_queries = queries.iloc[self.n_cell_queries:].reset_index(drop=True)

        feats = []
        self.world_rings = []
        for i in range(self.n_features):
            cx, cy = rng.uniform(0, self.size), rng.uniform(0, self.size)
            rings = star_polygon(rng, cx, cy, rng.uniform(16, 40), 24, False)
            self.world_rings.append(rings)
            feats.append((i, W.polygon_wkb(rings), float(1 + rng.integers(0, 8))))
        self.features = pd.DataFrame(feats, columns=["fid", "geom", "burn"])
        return digest(self.points, queries, self.features, *[r for p in self.rings for r in p])

    def oracle(self) -> None:
        self.want_pairs = oracles.pip_pairs(self.points, self.rings)
        self.want_knn = oracles.knn_brute(self.points, self.bcast_queries, self.K)

    def materialize(self) -> None:
        """Points as 8 parquet files (each operation scans them), a
        sixteenth of them apart for the warm-up; the query sets and the
        features as small in-memory frames."""
        import pyarrow as pa

        def write(path, idx):
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            for i, part in enumerate(np.array_split(idx, 8)):
                pq.write_table(pa.Table.from_pandas(self.points.iloc[part], preserve_index=False),
                               os.path.join(path, f"part-{i:05d}.parquet"))

        self.points_path = os.path.join(self.work, "points")
        self.warm_path = os.path.join(self.work, "warm_points")
        write(self.points_path, np.arange(self.n_points))
        write(self.warm_path, np.arange(self.n_points // 16))
        self.cq = self.spark.createDataFrame(self.cell_queries)
        self.bq = self.spark.createDataFrame(self.bcast_queries)
        self.feats = self.spark.createDataFrame(self.features)

    # -- one operation --------------------------------------------------------

    def operation(self, op: str, points_path: str | None = None, size: int | None = None):
        with self.tr.span(self.OP_SPAN, op=op):
            return {"vector": self._vector(op, points_path or self.points_path),
                    "raster": self._raster(op, size or self.size)}

    def _vector(self, op: str, points_path: str) -> dict:
        from gdal_spark.operators.knn import knn_broadcast, knn_cells
        from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons

        pts = self.spark.read.parquet(points_path)
        out = {}
        with self.tr.span("spatial_join.broadcast"):
            out["broadcast"] = spatial_join_points_in_polygons(
                pts, self.polys).select("id", "poly_id").toPandas()
        with self.tr.span("spatial_join.salted"):
            out["salted"] = spatial_join_points_in_polygons(
                pts, self.polys, broadcast_cover=False, salt_factor="auto",
                salt_sample_fraction=self.SALT_SAMPLE,
                salt_target_rows_per_key=self.salt_target,
            ).select("id", "poly_id").toPandas()
        with self.tr.span("knn.cells"):
            out["knn_cells"] = knn_cells(pts, self.cq, k=self.K, res=9, max_ring=1).select(
                "qid", "id", "dist2", "knn_rank").toPandas()
        with self.tr.span("knn.broadcast"):
            out["knn_broadcast"] = knn_broadcast(pts, self.bq, k=self.K).select(
                "qid", "id", "dist2", "knn_rank").toPandas()
        return out

    def _raster(self, op: str, size: int) -> dict:
        from gdal_spark.operators.polygonize import polygonize_tiles
        from gdal_spark.operators.rasterize import rasterize_wkb_grid

        with self.tr.span("rasterize"):
            tiles = rasterize_wkb_grid(self.feats, self.gt, size, size, tile_size=TILE).persist()
            n_tiles = tiles.count()
        with self.tr.span("polygonize"):
            regions = polygonize_tiles(tiles, nodata=0.0, tile_size=TILE).toPandas()
        return {"tiles": tiles, "n_tiles": n_tiles, "size": size, "regions": regions}

    def warm_up(self) -> list[str]:
        out = self.operation("warmup", self.warm_path, 2 * TILE)
        v, arr = out["vector"], self.assemble(out["raster"])
        errors = self._raster_errors(out["raster"], arr, oracles.label_regions(arr))
        bc, salted = (v[k].sort_values(["id", "poly_id"]).reset_index(drop=True)
                      for k in ("broadcast", "salted"))
        if not len(bc) or not bc.equals(salted):
            errors.append(f"warm-up joins gave {len(v['broadcast'])} and {len(v['salted'])} pairs")
        self.cleanup(out)
        return errors

    # -- checks ---------------------------------------------------------------

    def _check(self, out):
        ev, dv = self._vector_check(out["vector"])
        arr = self.assemble(out["raster"])
        if self.want_regions is None:  # the first checked operation labels its raster
            self.raster = arr
            self.want_regions = oracles.label_regions(arr)
        er = self._raster_errors(out["raster"], arr, self.want_regions)
        return ev + er, digest(dv, arr)

    def _vector_check(self, out):
        errors = []
        bc = out["broadcast"].sort_values(["id", "poly_id"]).reset_index(drop=True)
        salted = out["salted"].sort_values(["id", "poly_id"]).reset_index(drop=True)
        want = self.want_pairs
        if not (bc["id"].to_numpy().tolist() == want["id"].tolist()
                and bc["poly_id"].to_numpy().tolist() == want["poly_id"].tolist()):
            errors.append(f"broadcast PIP pairs {len(bc)} != crossing-number oracle {len(want)}")
        if not bc.equals(salted):
            errors.append(f"salted pairs {len(salted)} != broadcast pairs {len(bc)}")
        kb = out["knn_broadcast"].sort_values(["qid", "knn_rank"]).reset_index(drop=True)
        wk = self.want_knn
        if not (kb["qid"].tolist() == wk["qid"].tolist() and kb["id"].tolist() == wk["id"].tolist()
                and np.array_equal(kb["dist2"].to_numpy(), wk["dist2"].to_numpy())):
            errors.append("knn_broadcast != brute-force top-k")
        kc = out["knn_cells"].sort_values(["qid", "knn_rank"]).reset_index(drop=True)
        if len(kc) == 0 or kc.groupby("qid").size().max() > self.K:
            errors.append(f"knn_cells returned {len(kc)} rows")
        return errors, digest(bc, kc, kb)

    @staticmethod
    def assemble(out) -> np.ndarray:
        size = out["size"]
        arr = np.zeros((size, size), dtype=np.float64)
        for r in out["tiles"].toPandas().itertuples():
            block = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(TILE, TILE)
            arr[r.ty * TILE:(r.ty + 1) * TILE, r.tx * TILE:(r.tx + 1) * TILE] = block
        return arr

    @staticmethod
    def _raster_errors(out, arr: np.ndarray, want: list) -> list[str]:
        """Regions against the NumPy labelling ``want`` of the assembled
        raster ``arr``, their pixel sum against the burned pixels, and
        the tile count."""
        errors = []
        regions = out["regions"]
        got = sorted(zip(regions["dn"].tolist(), regions["pixel_count"].tolist()))
        if len(got) != len(want):
            errors.append(f"{len(got)} regions != {len(want)} labelled")
        elif got != want:
            errors.append("region (dn, pixel_count) multiset != NumPy labelling")
        burned = int((arr != 0).sum())
        if int(regions["pixel_count"].sum()) != burned:
            errors.append(f"sum pixel_count {regions['pixel_count'].sum()} != burned {burned}")
        if out["n_tiles"] != (out["size"] // TILE) ** 2:
            errors.append(f"{out['n_tiles']} tiles")
        return errors

    def cleanup(self, out) -> None:
        self.spark.catalog.clearCache()

    # -- traced only ------------------------------------------------------------

    def probe(self, op: str) -> dict:
        """The cell-candidate join without PIP, and the salt map the
        salted plan would use."""
        from pyspark.sql import functions as F

        from gdal_spark.operators.spatial_join import auto_salt_map, polygon_cover, with_cell

        pts = self.spark.read.parquet(self.points_path)
        cover = polygon_cover(self.polys)
        with self.tr.span("spatial_join.candidate_join", op=op):
            cover_df = self.spark.createDataFrame(
                pd.DataFrame([(c, p) for c, p, _ in cover], columns=["cell", "poly_id"]))
            n = with_cell(pts).join(F.broadcast(cover_df), "cell").count()
        with self.tr.span("spatial_join.auto_salt_map", op=op):
            kmap = auto_salt_map(with_cell(pts), {c for c, _, _ in cover},
                                 sample_fraction=self.SALT_SAMPLE,
                                 target_rows_per_key=self.salt_target)
        return {"candidates": n, "salted_cells": len(kmap)}

    def kernels(self) -> dict:
        from gdal_spark.kernels import wkb as W
        from gdal_spark.kernels.burn import burn_polygon
        from gdal_spark.kernels.ccl import label_tile
        from gdal_spark.kernels.pip import points_in_polygon

        xs, ys = self.points["lon"].to_numpy(), self.points["lat"].to_numpy()
        cand = []
        for rings in self.rings:
            e = rings[0]
            m = ((xs >= e[:, 0].min()) & (xs <= e[:, 0].max())
                 & (ys >= e[:, 1].min()) & (ys <= e[:, 1].max()))
            cand.append((xs[m], ys[m], rings))
        n_pts = sum(c[0].size for c in cand)

        def pip():
            for px, py, rings in cand:
                points_in_polygon(px, py, rings)

        blobs = [b for _, b in self.polys]

        def wkb():
            for b in blobs:
                W.polygon_rings(b)

        pix = [[np.column_stack([r[:, 0], self.size - r[:, 1]]) for r in rings]
               for rings in self.world_rings]

        def burn():
            arr = np.zeros((self.size, self.size), dtype=np.float64)
            for rings in pix:
                burn_polygon(arr, rings, 1.0)

        blocks = [self.raster[y:y + TILE, x:x + TILE]
                  for y in range(0, self.size, TILE) for x in range(0, self.size, TILE)]

        def ccl():
            for b in blocks:
                label_tile(b, mask=b != 0)

        out = kernel_rate("pip.points", pip, n_pts, 16 * n_pts + sum(
            r.nbytes for c in cand for r in c[2]))
        out.update(kernel_rate("wkb.polygons", wkb, len(blobs), sum(len(b) for b in blobs)))
        out.update(kernel_rate("burn.polygons", burn, len(pix),
                               sum(r.nbytes for p in pix for r in p) + self.raster.nbytes))
        out.update(kernel_rate("ccl.pixels", ccl, self.size * self.size, self.raster.nbytes))
        return out


WORKLOADS = {w.name: w for w in (Pipeline, LookupRoundtrip)}
