"""Independent answers the benchmark checks the engine against.

None of these call into ``gdal_spark``: point-in-polygon is a
crossing-number count in DuckDB, kNN is a DuckDB brute-force top-k,
zone membership is a DuckDB range test, and region labelling is a
NumPy union-find over the assembled raster.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def _con(threads: int = 4):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


def pip_pairs(points: pd.DataFrame, rings: list[list[np.ndarray]]) -> pd.DataFrame:
    """(id, poly_id) for every point inside a polygon, by the even-odd
    crossing rule over all rings (exterior and holes)."""
    edges, boxes = [], []
    for pid, poly in enumerate(rings):
        ext = poly[0]
        boxes.append((pid, ext[:, 0].min(), ext[:, 1].min(), ext[:, 0].max(), ext[:, 1].max()))
        for ring in poly:
            a, b = ring[:-1], ring[1:]
            edges.append(pd.DataFrame({
                "pid": pid, "x1": a[:, 0], "y1": a[:, 1], "x2": b[:, 0], "y2": b[:, 1],
            }))
    con = _con()
    con.register("pts", points[["id", "lon", "lat"]])
    con.register("edges", pd.concat(edges, ignore_index=True))
    con.register("boxes", pd.DataFrame(boxes, columns=["pid", "xmin", "ymin", "xmax", "ymax"]))
    out = con.execute(
        """
        SELECT p.id, e.pid AS poly_id
        FROM pts p
        JOIN boxes b ON p.lon BETWEEN b.xmin AND b.xmax AND p.lat BETWEEN b.ymin AND b.ymax
        JOIN edges e ON e.pid = b.pid
        WHERE (e.y1 > p.lat) <> (e.y2 > p.lat)
          AND p.lon < e.x1 + (p.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)
        GROUP BY p.id, e.pid
        HAVING count(*) % 2 = 1
        ORDER BY 1, 2
        """
    ).df()
    con.close()
    return out


def knn_brute(points: pd.DataFrame, queries: pd.DataFrame, k: int) -> pd.DataFrame:
    """Exact top-k per query, ties broken by (dist2, id)."""
    con = _con()
    con.register("pts", points[["id", "lon", "lat"]])
    con.register("q", queries[["qid", "qx", "qy"]])
    out = con.execute(
        f"""
        SELECT qid, id, dist2, knn_rank FROM (
          SELECT q.qid, p.id,
                 (p.lon - q.qx) * (p.lon - q.qx) + (p.lat - q.qy) * (p.lat - q.qy) AS dist2,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   (p.lon - q.qx) * (p.lon - q.qx) + (p.lat - q.qy) * (p.lat - q.qy), p.id
                 ) AS knn_rank
          FROM q CROSS JOIN pts p)
        WHERE knn_rank <= {int(k)}
        ORDER BY qid, knn_rank
        """
    ).df()
    con.close()
    return out


def zone_pairs(geocode_dir: str, zones: list[tuple[float, float, float, float]]) -> int:
    """Number of (page, zone) pairs with the page inside the closed
    zone rectangle (xmin, ymin, xmax, ymax)."""
    con = _con()
    con.register("zones", pd.DataFrame(zones, columns=["xmin", "ymin", "xmax", "ymax"]))
    n = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{geocode_dir}/*.parquet') g
        JOIN zones z ON g.lon BETWEEN z.xmin AND z.xmax AND g.lat BETWEEN z.ymin AND z.ymax
        """
    ).fetchone()[0]
    con.close()
    return int(n)


def label_regions(arr: np.ndarray, nodata: float = 0.0) -> list[tuple[float, int]]:
    """Sorted (value, pixel_count) of the 4-connected equal-value
    regions of ``arr``, ignoring ``nodata`` pixels.  Union-find by
    min-label hooking plus pointer jumping, fully vectorized."""
    h, w = arr.shape
    valid = arr != nodata
    idx = np.arange(h * w).reshape(h, w)
    eh = valid[:, :-1] & valid[:, 1:] & (arr[:, :-1] == arr[:, 1:])
    ev = valid[:-1, :] & valid[1:, :] & (arr[:-1, :] == arr[1:, :])
    u = np.concatenate([idx[:, :-1][eh], idx[:-1, :][ev]])
    v = np.concatenate([idx[:, 1:][eh], idx[1:, :][ev]])
    lab = np.arange(h * w)
    while True:
        lu, lv = lab[u], lab[v]
        if np.array_equal(lu, lv):
            break
        m = np.minimum(lu, lv)
        np.minimum.at(lab, lu, m)
        np.minimum.at(lab, lv, m)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
    flat = arr.reshape(-1)
    roots, counts = np.unique(lab[valid.reshape(-1)], return_counts=True)
    return sorted(zip(flat[roots].tolist(), counts.tolist()))
