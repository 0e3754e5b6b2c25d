"""Expected outputs for the output checks, computed without Spark.

Conflation: a brute-force NumPy ladder over a sample of images (every
layer feature considered, no cells), using the program's own reference
pieces: numpy haversine with the engine's formula, ``kernels.point_polyline_dist``
for lines and ``fuzzy.indel_ratio_oracle`` for names.

Indexing: DuckDB running the repository's SQL twins
(``TileGrid.tile_id_sql``, ``geo.point_in_fixed_ring_sql``, ``s2.s2_sql_ctes``).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

from osm_merge_spark.functions import fuzzy, geo, kernels, s2
from osm_merge_spark.functions.cells import TileGrid
from osm_merge_spark.operators.conflate import ConflateParams

from . import gen

# a candidate this close to the threshold, or two candidates this close to
# each other, may rank differently under another libm; such images are skipped
_EPS_M = 1e-6


def _haversine(lon1, lat1, lon2, lat2):
    dlat = np.radians(lat2) - np.radians(lat1)
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2.0) ** 2 + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlon / 2.0) ** 2
    return 2.0 * geo.EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def _merc(lon, lat):
    r = geo.WEB_MERCATOR_R
    return r * np.radians(lon), r * np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0))


def conflate_expected(img: dict, lay: dict, sample: np.ndarray,
                      params: ConflateParams = ConflateParams()) -> tuple[dict, int]:
    """{image_id: (feature_id, hits) or None for new} for the sampled images,
    and the number of sampled images skipped as numerically ambiguous."""
    thr = params.threshold_m
    n_vert = np.array([len(x) for x in lay["xs"]])
    fid, fcap = lay["feature_id"], lay["caption"]
    row_of = {int(f): j for j, f in enumerate(fid)}
    pts = np.flatnonzero(n_vert == 1)
    p_lon = np.array([lay["xs"][k][0] for k in pts])
    p_lat = np.array([lay["ys"][k][0] for k in pts])
    order = np.argsort(p_lat)
    pts, p_lon, p_lat = pts[order], p_lon[order], p_lat[order]
    lines = np.flatnonzero(n_vert > 1)
    l_xs = [np.asarray(lay["xs"][k]) for k in lines]
    l_ys = [np.asarray(lay["ys"][k]) for k in lines]
    l_box = np.array([[x.min(), x.max(), y.min(), y.max()] for x, y in zip(l_xs, l_ys)]).reshape(-1, 4)
    deg = 2.0 * thr / 110_574.0  # wider than any candidate's latitude offset

    expected, ambiguous = {}, 0
    for k in np.flatnonzero(sample):
        lon, lat, cap = img["lon"][k], img["lat"][k], img["caption"][k]
        dlon = deg / math.cos(math.radians(lat))
        lo, hi = np.searchsorted(p_lat, [lat - deg, lat + deg])
        d_pts = _haversine(lon, lat, p_lon[lo:hi], p_lat[lo:hi])
        cand = [(float(d), int(fid[pts[lo + j]])) for j, d in enumerate(d_pts) if d <= thr + _EPS_M]
        near = np.flatnonzero((l_box[:, 0] - dlon <= lon) & (lon <= l_box[:, 1] + dlon)
                              & (l_box[:, 2] - deg <= lat) & (lat <= l_box[:, 3] + deg))
        if len(near):
            mx, my = _merc(lon, lat)
            mxs = pd.Series([_merc(l_xs[j], l_ys[j])[0] for j in near])
            mys = pd.Series([_merc(l_xs[j], l_ys[j])[1] for j in near])
            d_lines = kernels.point_polyline_dist.func(
                pd.Series([mx] * len(near)), pd.Series([my] * len(near)), mxs, mys
            ).to_numpy() * math.cos(math.radians(lat))
            cand += [(float(d), int(fid[lines[j]])) for j, d in zip(near, d_lines) if d <= thr + _EPS_M]
        cand.sort()
        dists = [d for d, _ in cand]
        if (any(abs(d - thr) <= _EPS_M for d in dists)
                or any(b - a <= _EPS_M for a, b in zip(dists, dists[1:]))):
            ambiguous += 1
            continue
        top = cand[: params.candidate_cap]
        if not top:
            expected[img["image_id"][k]] = None
            continue
        scored = []
        for d, f in top:
            scap = fcap[row_of[f]]
            ratio = fuzzy.indel_ratio_oracle(cap, scap)
            name_hit = int(ratio > params.fuzz_min and abs(len(cap) - len(scap)) <= params.len_diff_max)
            scored.append((-(name_hit + int(d == 0.0)), d, f))
        nh, _, f = min(scored)
        expected[img["image_id"][k]] = (f, -nh)
    return expected, ambiguous


def index_expected(images_dir: str, ring: list[tuple[float, float]], grid: TileGrid,
                   level: int, sample_mod: int, sample_rem: int) -> tuple[int, int, dict]:
    """(rows inside the AOI, sum of their row keys, {image_id: (s2, tile)} for
    the sampled rows inside the AOI) from DuckDB over the same parquet."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    src = (f"SELECT image_id, lon, lat, CAST(substr(image_id, 5) AS BIGINT) % {gen.SEED_STRIDE} AS k"
           f" FROM read_parquet('{os.path.join(images_dir, '*.parquet')}')")
    inside = geo.point_in_fixed_ring_sql("lon", "lat", ring)
    n, ksum = con.execute(f"SELECT count(*), sum(k) FROM ({src}) WHERE {inside}").fetchone()
    ctes, last = s2.s2_sql_ctes("samp", level=level, keep="image_id, lon, lat")
    rows = con.execute(
        f"WITH samp AS (SELECT * FROM ({src}) WHERE k % {sample_mod} = {sample_rem}), {ctes}"
        f" SELECT image_id, s2_cell, {grid.tile_id_sql('lon', 'lat')} AS tile_id"
        f" FROM {last} WHERE {inside}"
    ).fetchall()
    con.close()
    return int(n), int(ksum or 0), {r[0]: (int(r[1]), int(r[2])) for r in rows}
