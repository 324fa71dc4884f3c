"""Vector tile cut: polygons -> per-tile clipped (and optionally
simplified) geometry at a zoom level.

Capability extension of the cover join (SURVEY.md §2.3 J1 / §2.9 R9): the
cover machinery already enumerates each polygon's cells and clips boundary
geometry per cell for the PIP refine (operators/joins.py:parcel_covers);
a tile SERVER needs the same decomposition with the clipped geometry
materialized as the payload — the standard vector-tile pipeline (public
slippy-map / MVT scheme: clip to tile, simplify per zoom).

Spark shape: one mapInPandas over the polygon DIMENSION (repartitioned to
cluster width — per-polygon numpy kernels parallelize embarrassingly; the
10^12-row fact table is never touched). Full-interior cells emit the cell
box itself without touching the polygon's vertices, so cost per tile is
O(local boundary), independent of total polygon size — the property that
makes the cut viable for continent-sized multipolygons.

Tile (ix, iy) here are the Morton cellgrid coordinates at ``res``
(equirectangular like the cover join); ``tilepyramid.quadkey`` converts
them to the public quadkey scheme when serving.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from demeter_spark.functions import cellgrid as cg
from demeter_spark.functions import geom

__all__ = ["tile_cut"]


def tile_cut(
    parcels: DataFrame,
    res: int,
    simplify_frac: float = 0.0,
    id_col: str = "parcel_id",
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """(parcel_id, geom_wkt) -> (parcel_id, cell, ix, iy, full, geom_wkt,
    area) with geometry clipped to each covered tile.

    - ``full`` tiles (strictly interior) carry the tile box as their
      geometry — emitted from cell bounds alone, zero vertex work;
    - boundary tiles carry the Sutherland-Hodgman clip of every ring
      whose bbox touches the tile (PIP parity preserved per cell — the
      cover join's own clip kernel);
    - ``simplify_frac`` > 0 applies Douglas-Peucker per clipped ring with
      eps = simplify_frac * tile_width (the per-zoom reduction a tile
      renderer applies; 0 disables, keeping the cut exact);
    - ``area`` is the even-odd area of the emitted geometry, so
      sum(area) per parcel equals the parcel's area when
      simplify_frac == 0 (the partition invariant, pytest-pinned).
    """

    def _cut(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for pid, wkt in zip(pdf[id_col], pdf[wkt_col]):
                parts = geom.parse_wkt_polygons(wkt)
                cs, full = cg.polyfill_parts(parts, res)
                bx0, by0, bx1, by1 = cg.cell_bounds(cs)
                ixs, iys, _ = cg.decode(cs)
                edge = ~full
                packed = iter(geom.clip_parts_to_boxes(
                    parts, bx0[edge], by0[edge], bx1[edge], by1[edge],
                    bboxes=geom.parts_bboxes(parts),
                ))
                for j in range(len(cs)):
                    if full[j]:
                        ring = (
                            np.array([bx0[j], bx1[j], bx1[j], bx0[j]]),
                            np.array([by0[j], by0[j], by1[j], by1[j]]),
                        )
                        clipped = [[ring]]
                    else:
                        clipped = geom.unpack_polygons(next(packed))
                        if simplify_frac > 0.0:
                            clipped = geom.simplify_parts(
                                clipped, simplify_frac * (bx1[j] - bx0[j])
                            )
                    if not clipped:
                        continue  # grazing cell: cover superset row with
                        # empty intersection (polyfill is conservative)
                    area = geom.parts_area(clipped)
                    if area <= 0.0 and not full[j]:
                        # e.g. a cover-superset cell wholly inside a hole:
                        # outer and hole both resolve to the cell box, even-
                        # odd interior is empty — nothing to serve
                        continue
                    rows.append(
                        (
                            int(pid),
                            int(cs[j]),
                            int(ixs[j]),
                            int(iys[j]),
                            bool(full[j]),
                            geom.multipolygon_wkt(clipped),
                            area,
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "parcel_id",
                        "cell",
                        "ix",
                        "iy",
                        "full",
                        "geom_wkt",
                        "area",
                    ],
                )

    spark = parcels.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 2)
    return (
        parcels.select(
            parcels[id_col].alias(id_col), parcels[wkt_col].alias(wkt_col)
        )
        .repartition(n_parts, id_col)
        .mapInPandas(
            _cut,
            "parcel_id BIGINT, cell BIGINT, ix BIGINT, iy BIGINT, "
            "full BOOLEAN, geom_wkt STRING, area DOUBLE",
        )
    )
