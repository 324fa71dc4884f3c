"""Cross-CRS warp invariants mirroring the reference's reprojection tests
(/root/reference/tests/raster/utils/test_reprojection.py:19-101) plus the
R8 transform-offset alignment arithmetic (reprojection.py:251-272)."""

import math

import pytest
from pyspark.sql import functions as F

from demeter_spark.operators import reproject as rp
from demeter_spark.sources import synth

SRC = rp.Grid(0.0, 0.0, 0.25, 0.25, 144, 128)


def _elev(spark):
    return synth.raster_cells(spark).filter("dataset = 'elevation'")


def test_reproject_average_preserves_mean(spark):
    """test_reproject parity: warp to a coarser synthetic CRS with 'average'
    — the rounded mean is invariant (masked pixels drop out both sides)."""
    src = _elev(spark)
    dst_grid = rp.Grid(0.0, 0.0, 1.0, 1.0, 36, 32)
    out = rp.reproject_average(src, SRC, dst_grid)
    src_mean = src.agg(F.avg("value")).first()[0]
    dst_mean = out.agg(F.avg("value")).first()[0]
    assert round(src_mean) == round(dst_mean)
    assert out.count() == 36 * 32


def test_bilinear_identity_grid_is_identity(spark):
    """On the source grid itself (fx=fy=0) bilinear must return the source
    raster exactly, with masked pixels staying NULL (den=0)."""
    src = _elev(spark)
    out = rp.reproject_bilinear(src, SRC, SRC).withColumnRenamed("value", "got")
    joined = out.join(src.select("ix", "iy", "value"), ["ix", "iy"])
    n_bad = joined.filter(
        ~(
            (F.col("got").isNull() & F.col("value").isNull())
            | (F.col("got") == F.col("value"))
        )
    ).count()
    assert n_bad == 0
    assert out.count() == src.count()


def test_cubic_identity_grid_is_identity(spark):
    """On the source grid (fx=fy=0) the Keys kernel weights collapse to
    (0, 1, 0, 0): cubic returns the source exactly wherever the full 4x4
    stencil is valid, NULL elsewhere (masked neighbor or grid edge)."""
    src = _elev(spark)
    out = rp.reproject_cubic(src, SRC, SRC).withColumnRenamed("value", "got")
    joined = out.join(src.select("ix", "iy", "value"), ["ix", "iy"])
    # wherever cubic produced a value, it must equal the source bit-for-bit
    assert joined.filter(
        F.col("got").isNotNull() & (F.col("got") != F.col("value"))
    ).count() == 0
    # and values exist for most of the interior (only stencil-masked cells null)
    n_vals = out.filter("value IS NOT NULL").count()
    assert n_vals > src.count() * 0.5
    assert out.count() == src.count()


def test_cubic_partition_of_unity_and_linear_reproduction(spark):
    """Keys weights sum to 1 and reproduce linear ramps: warping a constant
    raster yields the constant (~1e-12), and a ramp v=ix yields the mapped
    fractional coordinate, on a half-cell-shifted destination grid
    (fx=fy=0.5 everywhere — all four weights engaged)."""
    cells = synth.raster_cells(spark).filter("dataset = 'elevation'").select(
        "ix", "iy", F.lit(1.0).alias("value")
    )
    shifted = rp.Grid(0.125, 0.125, 0.25, 0.25, 140, 124)
    const = rp.reproject_cubic(cells, SRC, shifted)
    bad = const.filter(
        "value IS NOT NULL AND abs(value - 1e0) > 1e-12"
    ).count()
    assert bad == 0
    assert const.filter("value IS NOT NULL").count() > 100

    ramp = synth.raster_cells(spark).filter("dataset = 'elevation'").select(
        "ix", "iy", F.col("ix").cast("double").alias("value")
    )
    out = rp.reproject_cubic(ramp, SRC, shifted)
    # destination center x = 0.125 + (ix+0.5)*0.25 -> source fractional
    # gx = (x - 0)/0.25 - 0.5 = ix + 0.5; cubic must reproduce gx exactly
    bad = out.filter(
        "value IS NOT NULL AND abs(value - (ix + 0.5e0)) > 1e-9"
    ).count()
    assert bad == 0


@pytest.mark.parametrize(
    "qname", ["reproject_kernels", "reproject_agg_stats"]
)
def test_warp_kernels_match_oracle(spark, ddb, qname):
    """Pre-check the driver's correctness-gate rows: shared combine text
    (cubic / B-spline) and the stat family must evaluate bit-identically in
    Spark and DuckDB."""
    import __spark_entry__ as entry

    key = lambda t: tuple((v is None, str(v)) for v in t)
    s = sorted([tuple(r) for r in entry.queries()[qname](spark, None).collect()], key=key)
    d = sorted(ddb.sql(entry.oracle_sql()[qname]).fetchall(), key=key)
    assert len(s) == len(d) > 0
    for a, b in zip(s, d):
        for va, vb in zip(a, b):
            assert (va is None) == (vb is None)
            if va is not None:
                assert float(va) == float(vb), (a, b)


def test_cubic_spline_smooths_but_preserves_constants(spark):
    """B-spline weights are a partition of unity: a constant raster maps to
    the constant (~1e-12) on interior stencils."""
    cells = synth.raster_cells(spark).filter("dataset = 'elevation'").select(
        "ix", "iy", F.lit(1.0).alias("value")
    )
    shifted = rp.Grid(0.125, 0.125, 0.25, 0.25, 140, 124)
    const = rp.reproject_cubic_spline(cells, SRC, shifted)
    assert const.filter("value IS NOT NULL AND abs(value - 1e0) > 1e-12").count() == 0
    assert const.filter("value IS NOT NULL").count() > 100


def test_nearest_roundtrip_refines(spark):
    """Warping to a 2x finer grid with nearest then averaging 2x2 blocks back
    reproduces the source exactly (each child carries the parent value)."""
    src = _elev(spark)
    fine = rp.Grid(0.0, 0.0, 0.125, 0.125, 288, 256)
    up = rp.reproject_nearest(src, SRC, fine)
    back = rp.reproject_average(up, fine, SRC)
    joined = back.join(src.select("ix", "iy", F.col("value").alias("want")),
                       ["ix", "iy"], "right")
    n_bad = joined.filter(
        ~(
            (F.col("value").isNull() & F.col("want").isNull())
            | (F.col("value") == F.col("want"))
        )
    ).count()
    assert n_bad == 0


def test_calculate_min_offset_matches_reference_arithmetic():
    """Mirror _calculate_min_offset (reprojection.py:266-272) numerically."""

    def ref(distance, resolution):
        if distance == 0.0:
            return 0.0
        offset = distance % math.copysign(resolution, distance)
        if abs(offset) > resolution / 2:
            offset -= math.copysign(resolution, offset)
        return offset

    for d in (0.0, 0.3, 0.7, 3.7, -0.3, -0.7, -3.7, 12.49, -12.51, 0.5, -0.5):
        for r in (1.0, 0.25, 10.0):
            got = rp.calculate_min_offset(d, r)
            want = ref(d, r)
            assert got == want, (d, r, got, want)
            assert abs(got) <= r / 2


def test_align_grid_snaps_origin(spark):
    g = rp.Grid(0.7, 10.1, 1.0, 1.0, 4, 4)
    to = rp.Grid(0.0, 10.0, 1.0, 1.0, 4, 4)
    snapped = rp.align_grid(g, to)
    assert snapped.ox == pytest.approx(1.0)
    assert snapped.oy == pytest.approx(10.0)
    # snapped origin sits on `to`'s lattice, shift <= res/2
    assert abs(snapped.ox - g.ox) <= 0.5 and abs(snapped.oy - g.oy) <= 0.5
    assert (snapped.ox - to.ox) % 1.0 == pytest.approx(0.0)
    with pytest.raises(ValueError):
        rp.align_grid(g, rp.Grid(0.0, 0.0, 2.0, 1.0, 4, 4))


def test_align_cells_then_merge_shape(spark):
    """R7 composition: a deliberately offset grid snaps onto the reference
    lattice and resamples; rounded mean preserved (align_and_merge parity)."""
    src = _elev(spark)
    # same resolution, origin off by (0.1, -0.07) — sub-pixel misalignment
    off = rp.Grid(0.1, -0.07, 0.25, 0.25, 144, 128)
    out, snapped = rp.align_cells(src, off, SRC, resampling="nearest")
    assert (snapped.ox - SRC.ox) % 0.25 == pytest.approx(0.0)
    assert (snapped.oy - SRC.oy) % 0.25 == pytest.approx(0.0, abs=1e-12)
    src_mean = src.agg(F.avg("value")).first()[0]
    out_mean = out.agg(F.avg("value")).first()[0]
    assert round(src_mean) == round(out_mean)


def test_utm_zone_closed_form(spark):
    df = spark.createDataFrame(
        [(-180.0,), (-174.001,), (0.0,), (3.0,), (35.9,), (179.9,)], "lon DOUBLE"
    )
    got = [r[0] for r in df.select(rp.utm_zone(F.col("lon"))).collect()]
    assert got == [1, 1, 31, 31, 36, 60]
    cm = [
        r[0]
        for r in df.select(
            rp.utm_central_meridian(rp.utm_zone(F.col("lon")))
        ).collect()
    ]
    assert cm == [-177.0, -177.0, 3.0, 3.0, 33.0, 177.0]


def test_tm_transform_roundtrip(spark):
    """Spherical transverse Mercator fwd/inv are mutual inverses to <1e-9 deg
    (~0.1 mm) across the zone — the vectorized lon/lat <-> meters path."""
    df = spark.range(200).selectExpr(
        "((id * 37) % 600) / 100e0 AS lon",  # 0..6 deg around lon0=3
        "((id * 53) % 7000) / 100e0 - 35e0 AS lat",  # -35..35
    )
    fwd = rp.lonlat_to_tm(3.0)
    inv = rp.tm_to_lonlat(3.0)
    x, y = fwd(F.col("lon"), F.col("lat"))
    lon2, lat2 = inv(x, y)
    bad = (
        df.select(
            (F.abs(lon2 - F.col("lon")) > 1e-9).alias("bx"),
            (F.abs(lat2 - F.col("lat")) > 1e-9).alias("by"),
        )
        .filter("bx OR by")
        .count()
    )
    assert bad == 0


def test_tm_warp_preserves_mean(spark):
    """Warp the degree raster into TM meters with nearest onto a fine metric
    grid: rounded mean invariant (reference test_reproject parity for the
    trig CRS path, where exact-hash oracles don't apply)."""
    src = _elev(spark)
    fwd = rp.lonlat_to_tm(18.0)  # central meridian mid-raster
    inv = rp.tm_to_lonlat(18.0)
    # raster spans [0,36)x[0,32) deg; TM meters extent ~ +-2.0e6 x 3.6e6
    dst = rp.Grid(-2.1e6, -0.1e6, 10_000.0, 10_000.0, 420, 370)
    out = rp.reproject_nearest(src, SRC, dst, to_src=inv).filter(
        "value IS NOT NULL"
    )
    src_mean = src.agg(F.avg("value")).first()[0]
    out_mean = out.agg(F.avg("value")).first()[0]
    # nearest resampling onto a uniform metric grid oversamples high-latitude
    # rows slightly; the fixture's value field is hash-noise (mean ~48), so
    # the rounded means stay within 1 unit
    assert abs(src_mean - out_mean) < 1.0


def test_windowed_read_with_pad_matches_full_bilinear(spark):
    """S3: a 1-px-padded window feeds bilinear resampling the neighbor
    pixels that edge cells need — results inside the window equal the
    full-raster warp; an UNpadded window would disagree at the edges."""
    src = _elev(spark)
    # dst = half-res grid over the window [32..63] x [16..47] of src, offset
    # so the first dst column/row interpolates across the window's lower
    # edge (i0 = 31 / j0 = 15 — exactly the pixels only the pad supplies)
    dst = rp.Grid(7.8125, 3.8125, 0.5, 0.5, 15, 15)
    full = rp.reproject_bilinear(src, SRC, dst)
    win_pad = rp.window_cells(src, 32, 16, 63, 47, pad=1)
    padded = rp.reproject_bilinear(win_pad, SRC, dst)
    joined = full.withColumnRenamed("value", "want").join(
        padded, ["ix", "iy"]
    )
    assert joined.filter(
        ~(
            (F.col("value").isNull() & F.col("want").isNull())
            | (F.col("value") == F.col("want"))
        )
    ).count() == 0
    # the pad is load-bearing: pad=0 diverges somewhere on the window edge
    win_nopad = rp.window_cells(src, 32, 16, 63, 47, pad=0)
    nopad = rp.reproject_bilinear(win_nopad, SRC, dst)
    diverged = (
        full.withColumnRenamed("value", "want")
        .join(nopad, ["ix", "iy"])
        .filter(
            ~(
                (F.col("value").isNull() & F.col("want").isNull())
                | (F.col("value") == F.col("want"))
            )
        )
        .count()
    )
    assert diverged > 0


def test_window_filter_pushes_down(spark, tmp_path):
    """The window predicate must reach the parquet scan (PushedFilters)."""
    path = str(tmp_path / "cells")
    _elev(spark).write.parquet(path)
    win = rp.window_cells(spark.read.parquet(path), 10, 10, 20, 20)
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(ix" in plan, plan


def test_reproject_and_merge_two_zones(spark):
    """test_reproject_and_merge parity: two 'zone' halves of the raster warp
    onto one grid and mosaic; the merged mean equals the source mean and
    overlap cells resolve by priority (first input wins)."""
    src = _elev(spark)
    left = src.filter("ix < 80")
    right = src.filter("ix >= 64")  # 16-column overlap band
    merged = rp.reproject_and_merge(
        [
            (left, SRC, rp.identity_transform),
            (right, SRC, rp.identity_transform),
        ],
        SRC,
        resampling="nearest",
    )
    assert merged.count() == 144 * 128
    src_mean = src.agg(F.avg("value")).first()[0]
    out_mean = merged.agg(F.avg("first_value")).first()[0]
    assert round(src_mean, 6) == round(out_mean, 6)
    # the overlap band agrees source-to-source here, so count==2 and
    # first==last inside it
    band = merged.filter("ix >= 64 AND ix < 80 AND first_value IS NOT NULL")
    n_bad = band.filter("count_value != 2 OR first_value != last_value").count()
    assert n_bad == 0


def _const_cells(spark, v=5.0):
    import demeter_spark.operators.reproject as rp

    return spark.range(SRC.nx * SRC.ny).selectExpr(
        f"CAST(id % {SRC.nx} AS BIGINT) AS ix",
        f"CAST(id div {SRC.nx} AS BIGINT) AS iy",
        f"CAST({v} AS DOUBLE) AS value",
    )


def test_gauss_preserves_constant_and_tracks_ramp(spark):
    """R6 Resampling.gauss (pytest-invariant kernel — exp weights are not
    cross-engine bit-stable; VERDICT r03 #7): constant fields survive to
    rounding; a linear ramp downsampled 2x stays within half a source cell
    (mirrors /root/reference/tests/raster/utils/test_reprojection.py)."""
    import demeter_spark.operators.reproject as rp

    dst = rp.Grid(0.0, 0.0, 0.5, 0.5, SRC.nx // 2, SRC.ny // 2)
    out = rp.reproject_gauss(_const_cells(spark), SRC, dst, broadcast_src=True)
    assert out.filter("value IS NULL").count() == 0
    assert out.filter("abs(value - 5.0) > 1e-9").count() == 0

    ramp = spark.range(SRC.nx * SRC.ny).selectExpr(
        f"CAST(id % {SRC.nx} AS BIGINT) AS ix",
        f"CAST(id div {SRC.nx} AS BIGINT) AS iy",
    ).selectExpr("ix", "iy", "(ix + 0.5e0) * 0.25e0 AS value")
    got = rp.reproject_gauss(ramp, SRC, dst, broadcast_src=True).filter(
        # interior only: edge stencils clip asymmetrically
        f"ix > 0 AND ix < {dst.nx - 1} AND iy > 0 AND iy < {dst.ny - 1}"
    )
    bad = got.filter(
        "abs(value - (0.0e0 + (ix + 0.5e0) * 0.5e0)) > 0.125e0"
    ).count()
    assert bad == 0


def test_lanczos_interpolates_lattice_exactly_and_masks(spark):
    """R6 Resampling.lanczos: at EXACT source-center positions the sinc
    kernel is the identity (w = [0,1,0,0]); off-lattice it must track a
    smooth ramp; any masked neighbor in the 4x4 stencil -> NULL (the signed
    -weight masking contract, same as cubic)."""
    import demeter_spark.operators.reproject as rp

    # identity warp: dst grid == src grid -> every center hits the lattice
    out = rp.reproject_lanczos(_const_cells(spark, 7.25), SRC, SRC,
                               broadcast_src=True)
    inner = out.filter(
        f"ix >= 1 AND ix < {SRC.nx - 2} AND iy >= 1 AND iy < {SRC.ny - 2}"
    )
    assert inner.filter("value IS NULL").count() == 0
    assert inner.filter("abs(value - 7.25) > 1e-9").count() == 0

    ramp = spark.range(SRC.nx * SRC.ny).selectExpr(
        f"CAST(id % {SRC.nx} AS BIGINT) AS ix",
        f"CAST(id div {SRC.nx} AS BIGINT) AS iy",
    ).selectExpr("ix", "iy", "(ix + 0.5e0) * 0.25e0 AS value")
    shifted = rp.Grid(0.0625, 0.0, 0.25, 0.25, SRC.nx, SRC.ny)
    got = rp.reproject_lanczos(ramp, SRC, shifted, broadcast_src=True).filter(
        f"ix >= 2 AND ix < {SRC.nx - 2} AND iy >= 2 AND iy < {SRC.ny - 2}"
    )
    assert got.filter("value IS NULL").count() == 0
    # lanczos overshoots slightly on ramps; 10% of a cell is ample
    bad = got.filter(
        "abs(value - (0.0625e0 + (ix + 0.5e0) * 0.25e0)) > 0.025e0"
    ).count()
    assert bad == 0

    # masking: one masked pixel nulls the 16 stencils that include it
    holed = ramp.selectExpr(
        "ix", "iy", "CASE WHEN ix = 50 AND iy = 50 THEN NULL ELSE value END AS value"
    )
    hole_out = rp.reproject_lanczos(holed, SRC, SRC, broadcast_src=True)
    # stencil of dst cell ix covers src ix-1..ix+2, so src pixel 50 sits in
    # the stencils of dst 48..51 (16 cells)
    n_null = hole_out.filter(
        "value IS NULL AND ix BETWEEN 48 AND 51 AND iy BETWEEN 48 AND 51"
    ).count()
    assert n_null == 16


def test_order_stats_single_shuffle_plan(spark):
    """reproject_order_stats must compile to ONE shuffle (the partial+final
    hash aggregate on destination keys) — same plan budget as
    reproject_aggregate; the order statistics ride the sorted collect_list
    arrays, not extra exchanges or windows."""
    import re

    # the elevation grid generated as the only dataset, so it spans the
    # whole cluster width: filtered out of the four-dataset table it is one
    # partition on hosts with fewer than 8 cores, and a one-partition input
    # needs no shuffle at all (the count would read 0, not 1)
    src = synth.raster_cells(spark, datasets=(("elevation", 0, 0),))
    assert src.rdd.getNumPartitions() > 1
    dst = rp.Grid(0.0, 0.0, 1.0, 1.0, 36, 32)
    out = rp.reproject_order_stats(src, SRC, dst, mode_quantize=8.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    n_shuffles = len(re.findall(r"(?<!Broadcast)Exchange", plan))
    assert n_shuffles == 1, plan


def test_gauss_exp_cross_engine_bit_stability(spark, ddb):
    """VERDICT r04 #9, the executable finding: gauss weights cannot be
    exact-oracle-backed. Identical expression text over identical dyadic
    inputs yields exp() doubles that differ between the JVM and DuckDB —
    every disagreement is exactly 1 ulp (both engines are within the
    standard 1-ulp envelope; they just round differently), which is enough
    to break a value-hash oracle. If a future environment makes this 0,
    promote reproject_gauss to an oracle row."""
    import struct as _struct

    inv = 1.0 / (2.0 * 0.5 * 0.5)  # dyadic sigma
    lit = format(inv, ".17e")
    expr = f"exp(-((f - o) * (f - o)) * {lit})"
    sdf = spark.range(64 * 5).selectExpr(
        "CAST(id % 64 AS DOUBLE) / 64e0 AS f",
        "CAST(id div 64 AS DOUBLE) - 1e0 AS o",
    ).selectExpr("f", "o", f"{expr} AS w").collect()
    ddf = ddb.sql(
        f"SELECT f, o, {expr} AS w FROM ("
        "SELECT CAST(x.i % 64 AS DOUBLE) / 64e0 AS f,"
        " CAST(x.i // 64 AS DOUBLE) - 1e0 AS o FROM range(320) x(i))"
    ).fetchall()
    smap = {(r["f"], r["o"]): r["w"] for r in sdf}
    ulps = []
    for f, o, w in ddf:
        a = _struct.unpack("<q", _struct.pack("<d", smap[(f, o)]))[0]
        b = _struct.unpack("<q", _struct.pack("<d", w))[0]
        if a != b:
            ulps.append(abs(a - b))
    # the engines never disagree by MORE than 1 ulp (sanity on both libms);
    # in this environment they DO disagree (measured ~8-11% of the lattice),
    # which is the documented reason gauss/lanczos are pytest-only
    assert all(u == 1 for u in ulps), max(ulps)
    assert ulps, (
        "exp() became cross-engine bit-stable here — reproject_gauss can "
        "now be promoted to an exact oracle row"
    )
