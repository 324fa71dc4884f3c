"""Direct timings of the ``functions/*`` kernels, without Spark.

Inputs are fixed numpy arrays extracted from the geo workload's seeded
inputs: the points and the raster cell centres, their cells, the
boundary-cell candidates of each join's cover, and the clip boxes
``joins.parcel_covers`` cuts per boundary cell (every cell up to
CLIP_SAMPLE of them, evenly spaced past that). Each call is timed as the
median of three after one untimed call.

``functions.geo_pass_kernel_s`` is the per-unit figures times the units one
geo pass runs: both cover joins (``joins.spatial_join`` at GEO_RES,
``zonal.zonal_stats`` at ZONAL_RES: clip, cell_of and PIP refine) plus the
``hexbin`` resolutions. It is single-threaded CPU time, so its share of a
geo pass is read against the pass's CPU time.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from demeter_spark.functions import cellgrid, geom, hexgrid
from demeter_spark.operators import joins

REPS = 3
CLIP_SAMPLE = 2000


def _median_s(fn) -> float:
    fn()
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _join_calls(geo, lon, lat, res: int) -> dict:
    """{kernel: (closure, units it covers, units one join runs)} for the
    kernel calls one cover join at ``res`` makes."""
    cov = joins.parcel_covers(geo.parcels, res=res).toPandas()
    edge = cov[~cov["full"]]
    cells = cellgrid.cell_of(lon, lat, res)
    cand = pd.DataFrame({"i": np.arange(len(lon)), "cell": cells}).merge(
        edge[["parcel_id", "cell", "rings"]], on="cell"
    )
    i = cand["i"].to_numpy()
    px, py = lon[i], lat[i]
    pid = cand["parcel_id"].to_numpy()
    pcell = cand["cell"].to_numpy()
    rings = cand["rings"].to_numpy()

    # the per-boundary-cell clip parcel_covers runs, with its epsilon box
    wkt = dict(zip(geo.parcels_pdf["parcel_id"], geo.parcels_pdf["geom_wkt"]))
    parts = {p: geom.parse_wkt_polygons(w) for p, w in wkt.items()}
    bboxes = {p: geom.parts_bboxes(v) for p, v in parts.items()}
    sample = edge.iloc[::max(1, -(-len(edge) // CLIP_SAMPLE))]
    bx0, by0, bx1, by1 = cellgrid.cell_bounds(sample["cell"].to_numpy())
    ex = (bx1 - bx0) * 1e-9
    ey = (by1 - by0) * 1e-9
    clip_args = [
        (parts[p], bx0[j] - ex[j], by0[j] - ey[j], bx1[j] + ex[j], by1[j] + ey[j],
         bboxes[p])
        for j, p in enumerate(sample["parcel_id"].to_numpy())
    ]

    def clip_all():
        for pp, x0, y0, x1, y1, bb in clip_args:
            geom.clip_parts_to_box(pp, x0, y0, x1, y1, bboxes=bb)

    return {
        "pip": (lambda: geom.points_in_packed_grouped(px, py, pid, rings, pcell),
                len(i), len(i)),
        "clip": (clip_all, len(clip_args), len(edge)),
        "cell_of": (lambda: cellgrid.cell_of(lon, lat, res), len(lon), len(lon)),
    }


def _s_per_unit(calls: dict) -> dict[str, float]:
    return {k: _median_s(fn) / max(n, 1) for k, (fn, n, _) in calls.items()}


def kernel_metrics(geo, res: int, zonal_res: int, hex_res: list[int]) -> dict[str, float]:
    join = _join_calls(geo, geo.lon, geo.lat, res)
    zonal = _join_calls(geo, geo.cx, geo.cy, zonal_res)
    per = {"join": _s_per_unit(join), "zonal": _s_per_unit(zonal)}
    cells = cellgrid.cell_of(geo.lon, geo.lat, res)
    hex_s = {r: _median_s(lambda r=r: hexgrid.hex_of(geo.lon, geo.lat, r))
             for r in hex_res}
    pass_s = sum(hex_s.values()) + sum(
        per[j][k] * calls[k][2]
        for j, calls in (("join", join), ("zonal", zonal)) for k in calls)
    ns = 1e9
    return {
        "functions.geom.pip_ns_per_pair": per["join"]["pip"] * ns,
        "functions.geom.clip_ns_per_cell": per["join"]["clip"] * ns,
        "functions.cellgrid.cell_of_ns_per_pt": per["join"]["cell_of"] * ns,
        "functions.cellgrid.kring_ns_per_cell": _median_s(
            lambda: cellgrid.kring(cells, 1)) / len(cells) * ns,
        "functions.hexgrid.hex_of_ns_per_pt": hex_s[hex_res[len(hex_res) // 2]]
        / len(geo.lon) * ns,
        "functions.geo_pass_kernel_s": pass_s,
    }
