"""Hexagonal density binning — the hexbin-map aggregation over the H3-style
grid (functions/hexgrid.py).

Reference anchor: demeter's tile-cover enumeration + zonal masks
(demeter/raster/utils.py:33-57, demeter/raster/utils/mask.py) aggregate
points/pixels into axis-aligned grid cells; the hex analogue is the public
cartography standard for density surfaces (no axis-aligned aliasing,
uniform neighbor distance). 100 TB posture: the hex assignment is pure
Catalyst bit/float arithmetic inside whole-stage codegen, so the ONLY
shuffle is the final hash aggregate on hex id — partial (map-side) combine
reduces each executor's slice to <= one row per distinct hex before the
Exchange, and hex ids at res r are bounded by the domain (O(4^r) distinct
keys), so the reduce side is a dimension-sized table at any fact scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from demeter_spark.functions import spark_udfs as su


def hex_bin(
    points: DataFrame,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    values: dict[str, Column] | None = None,
) -> DataFrame:
    """points -> one row per occupied hexagon: (hex_id, n, hex_lon, hex_lat,
    **values).

    ``values``: extra aggregate expressions keyed by output column name
    (e.g. {"avg_score": F.avg("score")}). Center coordinates are decoded
    from the id with the same closed-form arithmetic hexgrid.hex_center
    uses — pure Catalyst, no second pass over the points.
    """
    from demeter_spark.functions import hexgrid as hx

    aggs = [F.count(F.lit(1)).alias("n")]
    for name, expr in (values or {}).items():
        aggs.append(expr.alias(name))
    binned = (
        points.withColumn(
            "hex_id", su.hex_of(F.col(lon_col), F.col(lat_col), res)
        )
        .groupBy("hex_id")
        .agg(*aggs)
    )
    # decode centers from the id (id -> axial -> planar), float arithmetic
    # identical to hexgrid.hex_center so tests can compare bit-for-bit
    s = F.lit(hx.hex_size(res))
    rem = F.col("hex_id").bitwiseAND(F.lit(hx._RES_SHIFT - 1))
    q = F.shiftright(rem, 26) - F.lit(hx._COORD_OFF)
    r = rem.bitwiseAND(F.lit(hx._COORD_SHIFT - 1)) - F.lit(hx._COORD_OFF)
    qf = q.cast("double")
    rf = r.cast("double")
    return binned.withColumn(
        "hex_lon", s * (F.lit(hx.SQRT3) * (qf + rf * F.lit(0.5)))
    ).withColumn("hex_lat", s * (F.lit(1.5) * rf))


def hex_bin_multi(
    points: DataFrame,
    resolutions: list[int],
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Exact multi-resolution hex density: (res, hex_id, n) for every
    resolution in one single-shuffle pass.

    Hexagons have no exact parent/child hierarchy (H3's aperture-7 rollup
    is approximate — public knowledge), so unlike the quad tile pyramid
    (operators/tilepyramid.py) coarser levels can NOT be re-aggregated
    from finer ones exactly. Instead each point's id at every requested
    resolution is computed once, side by side in one Project, where
    whole-stage codegen eliminates the subexpressions the levels share;
    ``stack`` then turns the ids into (res, hex_id) rows BEFORE the single
    hash aggregate: one Exchange total for all levels, map-side combined.
    (Inside the generator itself the id arithmetic would get no
    subexpression elimination.) The stack multiplies rows by
    len(resolutions) in the map stage only — post-combine reduce traffic
    is one row per occupied (res, hex), dimension-sized at any scale.
    """
    ids = [
        su.hex_of(F.col(lon_col), F.col(lat_col), r).alias(f"_h{i}")
        for i, r in enumerate(resolutions)
    ]
    pairs = ", ".join(f"{r}, _h{i}" for i, r in enumerate(resolutions))
    return (
        points.select(*ids)
        .selectExpr(f"stack({len(resolutions)}, {pairs}) AS (res, hex_id)")
        .groupBy("res", "hex_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
