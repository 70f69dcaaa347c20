"""Unit tests for the WKB codec, ray-cast PIP, and grid-cell / tile math."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmi_water_spark.functions import cells as C
from osmi_water_spark.functions import wkb as W


def _wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BI", 1, W.POINT) + struct.pack("<dd", x, y)


def test_wkb_roundtrip():
    p = _wkb_point(8.5, 47.25)
    g, (x, y) = W.parse_wkb(p)
    assert g == W.POINT and (x, y) == (8.5, 47.25)

    ls = np.array([[0.0, 0.0], [1.0, 2.0], [3.0, 4.0]])
    g, a = W.parse_wkb(W.wkb_linestring(ls))
    assert g == W.LINESTRING
    np.testing.assert_array_equal(a, ls)

    g, parts = W.parse_wkb(W.wkb_multilinestring([ls, ls[::-1]]))
    assert g == W.MULTILINESTRING and len(parts) == 2

    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    g, rings = W.parse_wkb(W.wkb_polygon([ring, hole]))
    assert g == W.POLYGON and len(rings) == 2

    g, polys = W.parse_wkb(W.wkb_multipolygon([[ring, hole], [ring + 10]]))
    assert g == W.MULTIPOLYGON and len(polys) == 2 and len(polys[0]) == 2

    assert W.wkb_bbox(W.wkb_polygon([ring])) == (0.0, 0.0, 4.0, 4.0)


def test_pip_square_and_hole():
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    px = np.array([2.0, 1.5, 5.0, 0.0, 3.9, 2.0])
    py = np.array([3.0, 1.5, 5.0, 0.0, 0.1, 0.0])
    got = W.points_in_rings(px, py, [ring, hole])
    # (2,3) inside; (1.5,1.5) in hole; (5,5) out; (0,0) boundary -> False
    # (3.9,0.1) inside; (2,0) boundary -> False
    assert list(got) == [True, False, False, False, True, False]


def test_pip_concave():
    # L-shape: concavity handled by even-odd
    ring = np.array(
        [[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]], dtype=float
    )
    px = np.array([3.0, 3.0, 1.0])
    py = np.array([1.0, 3.0, 3.0])
    assert list(W.points_in_rings(px, py, [ring])) == [True, False, True]


def test_pip_multipolygon_wkb():
    r1 = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], dtype=float)
    r2 = np.array([[10, 10], [12, 10], [12, 12], [10, 12], [10, 10]], dtype=float)
    mp = W.wkb_multipolygon([[r1], [r2]])
    got = W.points_in_wkb_polygon(
        np.array([1.0, 11.0, 5.0]), np.array([1.0, 11.0, 5.0]), mp
    )
    assert list(got) == [True, True, False]


def test_cell_encode_decode(spark):
    df = spark.createDataFrame([(8.54, 47.37), (-179.99, -89.99), (179.99, 89.99)], "lon double, lat double")
    out = df.select(
        C.cell_of("lon", "lat", 7).alias("c")
    ).select(
        C.cell_res("c").alias("r"),
        C.cell_ix("c").alias("ix"),
        C.cell_iy("c").alias("iy"),
    ).collect()
    for row in out:
        assert row.r == 7 and 0 <= row.ix < 128 and 0 <= row.iy < 128
    # manual check for first point
    assert out[0].ix == math.floor((8.54 + 180) / 360 * 128)
    assert out[0].iy == math.floor((47.37 + 90) / 180 * 128)


def test_bbox_cover_and_adaptive(spark):
    df = spark.createDataFrame([(0.0, 0.0, 10.0, 5.0)], "minx double, miny double, maxx double, maxy double")
    cols = ["minx", "miny", "maxx", "maxy"]
    row = df.select(
        F.size(C.bbox_cover_cells(*cols, 7)).alias("n7"),
        C.adaptive_cover_res(*cols, 3, 7, 8).alias("ar"),
        F.size(C.adaptive_cover_cells(*cols, 3, 7, 8)).alias("an"),
    ).first()
    # res7 cells are 2.8125 x 1.40625 deg -> 10deg spans 4-5 cells x, 5deg 4-5 cells y
    assert row.n7 >= 12
    assert row.an <= 8  # adaptive cover respects the bound
    assert 3 <= row.ar < 7


def test_point_cell_matches_cover(spark):
    # a point inside a bbox must land in one of the cover cells (same res)
    df = spark.createDataFrame([(3.3, 2.2)], "lon double, lat double")
    row = df.select(
        C.cell_of("lon", "lat", 6).alias("pc"),
        C.bbox_cover_cells("0.0D", "0.0D", "10.0D", "5.0D", 6).alias("cov"),
    ).first()
    assert row.pc in row.cov


def test_k_ring(spark):
    df = spark.createDataFrame([(10.0, 10.0)], "lon double, lat double")
    row = df.select(C.cell_of("lon", "lat", 7).alias("c")).select(
        "c", C.k_ring("c", 1).alias("ring")
    ).first()
    assert len(row.ring) == 9 and len(set(row.ring)) == 9
    ix, iy = row.c % (1 << 29), (row.c >> 29) % (1 << 29)
    assert sorted(row.ring) == sorted(
        (7 << 58) + (y << 29) + x for y in (iy - 1, iy, iy + 1) for x in (ix - 1, ix, ix + 1)
    )


def test_tile_xy_reference_values(spark):
    # Zurich at z=10 -> x=536, y=358 (known slippy-map value)
    df = spark.createDataFrame([(8.54, 47.37)], "lon double, lat double")
    tx, ty = C.tile_xy("lon", "lat", 10)
    row = df.select(tx.alias("x"), ty.alias("y")).first()
    assert (row.x, row.y) == (536, 358)


def test_tile_bounds_roundtrip(spark):
    df = spark.createDataFrame([(536, 358)], "tx long, ty long")
    minx, miny, maxx, maxy = C.tile_bounds(10, "tx", "ty")
    row = df.select(minx.alias("a"), miny.alias("b"), maxx.alias("c"), maxy.alias("d")).first()
    assert row.a <= 8.54 <= row.c and row.b <= 47.37 <= row.d


def test_tile_to_cells(spark):
    df = spark.createDataFrame([(536, 358)], "tx long, ty long")
    row = df.select(C.tile_to_cells(10, "tx", "ty", 7).alias("cells")).first()
    # tile 536/358 at z10 (8.44-8.79E, 47.28-47.52N) lies inside one res-7 cell
    assert row.cells == [(7 << 58) + (math.floor(137.37 / 180 * 128) << 29)
                         + math.floor(188.54 / 360 * 128)]


def test_errors_switch_poss(spark):
    from osmi_water_spark.functions import errors as E

    df = spark.createDataFrame(
        [(E.POSS_RIVERMOUTH + E.RIVER,), (E.POSS_OUTFLOW + E.RIVER,),
         (E.POSS_RIVERMOUTH + E.STREAM,), (E.DIRECTION,)],
        "m int",
    )
    got = [r.v for r in df.select(E.switch_poss("m").alias("v")).collect()]
    assert got == [
        E.RIVER + E.END,
        E.RIVER + E.SPRING,
        E.POSS_RIVERMOUTH + E.STREAM,  # stream possibles never resolve (quirk)
        E.DIRECTION,
    ]


# (type, sum(xxhash64), count(distinct), null count) per expression over the
# seeded inputs below, captured from the Column-API builders that these
# SQL-text bodies replaced (k_ring, tile_xy, tile_bounds, tile_to_cells and
# cell_res/ix/iy had only a Column form before).
PINNED_CELLS = {
    "cell_of_7": ("bigint", 65273873184803490217, 298, 0),
    "cell_of_multi": ("array<bigint>", 49741147677237420799, 298, 0),
    "bbox_cover_cells_6": ("array<bigint>", 91755989149234625306, 300, 0),
    "adaptive_cover_res": ("int", 467568335430141148280, 2, 0),
    "adaptive_cover_cells": ("array<bigint>", 522374060091960578, 300, 0),
    "tile_id_8": ("bigint", -18046166707673501795, 298, 0),
    "cell_res": ("int", 836048464635343600500, 1, 0),
    "cell_ix": ("bigint", -64976964718177204518, 110, 0),
    "cell_iy": ("bigint", -76332280213838623223, 114, 0),
    "k_ring_7_1": ("array<bigint>", 124605976875513446383, 298, 0),
    "k_ring_7_2": ("array<bigint>", 1317692373916980613, 298, 0),
    "k_ring_3_1": ("array<bigint>", 254216717086271963683, 63, 0),
    "tile_x_8": ("bigint", 106841550217341147641, 168, 0),
    "tile_y_8": ("bigint", 110904723046796202592, 150, 0),
    "tile_x_12": ("bigint", 73588203709385743454, 283, 0),
    "tile_y_12": ("bigint", 128534104153736681649, 271, 0),
}
PINNED_TILES = {
    "tile_minx": ("double", 13119218694965983142, 172, 0),
    "tile_miny": ("double", 149233261165070382541, 169, 0),
    "tile_maxx": ("double", 31818308167280014393, 172, 0),
    "tile_maxy": ("double", 46711170846994030689, 169, 0),
    "tile_to_cells_7": ("array<bigint>", 241287131538371612677, 301, 0),
    "tile_to_cells_10": ("array<bigint>", -208788055845610778496, 302, 0),
}


def test_cell_and_tile_expressions_match_pinned_digests(spark, digest):
    """Every cells.py builder reproduces the pinned type and value digest
    over 300 random bboxes (seed 11, including out-of-range coordinates)
    and 304 z8 tiles (seed 12 plus the four corners)."""
    import random

    rng = random.Random(11)
    rows = [
        (rng.uniform(-185, 175), rng.uniform(-95, 85), rng.uniform(0, 40), rng.uniform(0, 20))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "minx double, miny double, w double, h double").select(
        "minx", "miny",
        (F.col("minx") + F.col("w")).alias("maxx"),
        (F.col("miny") + F.col("h")).alias("maxy"),
        F.col("minx").alias("lon"), F.col("miny").alias("lat"),
        C.cell_of("minx", "miny", 7).alias("c7"), C.cell_of("minx", "miny", 3).alias("c3"),
    )
    bbox = ("minx", "miny", "maxx", "maxy")
    tx8, ty8 = C.tile_xy("lon", "lat", 8)
    tx12, ty12 = C.tile_xy("lon", "lat", 12)
    exprs = {
        "cell_of_7": C.cell_of("lon", "lat", 7),
        "cell_of_multi": C.cell_of_multi("lon", "lat", [3, 5, 7]),
        "bbox_cover_cells_6": C.bbox_cover_cells(*bbox, 6),
        "adaptive_cover_res": C.adaptive_cover_res(*bbox, 3, 7, 64),
        "adaptive_cover_cells": C.adaptive_cover_cells(*bbox, 3, 7, 64),
        "tile_id_8": C.tile_id("lon", "lat", 8),
        "cell_res": C.cell_res("c7"), "cell_ix": C.cell_ix("c7"), "cell_iy": C.cell_iy("c7"),
        "k_ring_7_1": C.k_ring("c7", 1), "k_ring_7_2": C.k_ring("c7", 2),
        "k_ring_3_1": C.k_ring("c3", 1),
        "tile_x_8": tx8, "tile_y_8": ty8, "tile_x_12": tx12, "tile_y_12": ty12,
    }
    assert digest(df.select(*[v.alias(k) for k, v in exprs.items()])) == PINNED_CELLS

    rng = random.Random(12)
    tiles = [(rng.randrange(1 << 8), rng.randrange(1 << 8)) for _ in range(300)]
    tiles += [(0, 0), (255, 255), (0, 255), (255, 0)]
    tdf = spark.createDataFrame(tiles, "tx long, ty long")
    minx, miny, maxx, maxy = C.tile_bounds(8, "tx", "ty")
    exprs = {
        "tile_minx": minx, "tile_miny": miny, "tile_maxx": maxx, "tile_maxy": maxy,
        "tile_to_cells_7": C.tile_to_cells(8, "tx", "ty", 7),
        "tile_to_cells_10": C.tile_to_cells(8, "tx", "ty", 10),
    }
    assert digest(tdf.select(*[v.alias(k) for k, v in exprs.items()])) == PINNED_TILES


def test_lambda_variables_do_not_capture_input_columns(spark):
    """Input columns named like the cover/ring loop variables (iy, ix) must
    be read as columns, not as the lambda's loop variable."""
    vals = [(-10.0, 20.0, 30.0, 40.0), (100.5, -60.0, 105.0, -58.0)]
    named = spark.createDataFrame(vals, "iy double, miny double, ix double, maxy double")
    plain = spark.createDataFrame(vals, "a double, b double, c double, d double")
    for res in (3, 6):
        got = [r.v for r in named.select(C.bbox_cover_cells("iy", "miny", "ix", "maxy", res).alias("v")).collect()]
        want = [r.v for r in plain.select(C.bbox_cover_cells("a", "b", "c", "d", res).alias("v")).collect()]
        assert got == want
    got = named.select(C.adaptive_cover_cells("iy", "miny", "ix", "maxy", 3, 7, 16).alias("v")).collect()
    want = plain.select(C.adaptive_cover_cells("a", "b", "c", "d", 3, 7, 16).alias("v")).collect()
    assert [r.v for r in got] == [r.v for r in want]
    ring = named.select(C.cell_of("iy", "miny", 5).alias("ix")).select(C.k_ring("ix", 1).alias("v"))
    plain_ring = plain.select(C.cell_of("a", "b", 5).alias("c")).select(C.k_ring("c", 1).alias("v"))
    assert [r.v for r in ring.collect()] == [r.v for r in plain_ring.collect()]


def test_name_adapter_accepts_references_and_rejects_expressions(spark):
    """cell_of / tile_id accept F.col(name) references (the driver entry
    point passes them) and reject any other Column loudly."""
    df = spark.createDataFrame([(8.54, 47.37), (-179.99, -89.99)], "lon double, lat double")
    by_ref = df.select(C.cell_of(F.col("lon"), F.col("lat"), 7).alias("c"),
                       C.tile_id(F.col("lon"), F.col("lat"), 9).alias("t")).collect()
    by_name = df.select(C.cell_of("lon", "lat", 7).alias("c"),
                        C.tile_id("lon", "lat", 9).alias("t")).collect()
    assert by_ref == by_name
    for bad in (F.col("lon") + 1, F.lit("lon"), F.col("lon").alias("x")):
        with pytest.raises(TypeError, match="cell_of"):
            C.cell_of(bad, "lat", 7)
        with pytest.raises(TypeError, match="tile_id"):
            C.tile_id("lon", bad, 9)


def _scalar_linestring(pts):
    """Scalar spec of make_linestring (the pre-r6 pandas UDF body)."""
    import numpy as np

    from osmi_water_spark.functions import wkb as W

    if pts is None or len(pts) == 0:
        return (None, False, None, None, None, None)
    a = np.array([[p[0], p[1]] for p in pts], dtype=np.float64)
    if len(a) > 1:
        keep = np.ones(len(a), dtype=bool)
        keep[1:] = (a[1:] != a[:-1]).any(axis=1)
        a = a[keep]
    if len(a) < 2:
        return (None, False, None, None, None, None)
    return (W.wkb_linestring(a), True, float(a[:, 0].min()), float(a[:, 1].min()),
            float(a[:, 0].max()), float(a[:, 1].max()))


def _scalar_closed_way(pts):
    import numpy as np

    from osmi_water_spark.functions import wkb as W

    if pts is None or len(pts) < 4:
        return (None, None, None, None, None)
    a = np.array([[p[0], p[1]] for p in pts], dtype=np.float64)
    keep = np.ones(len(a), dtype=bool)
    keep[1:] = (a[1:] != a[:-1]).any(axis=1)
    a = a[keep]
    if len(a) < 4 or not (a[0] == a[-1]).all():
        return (None, None, None, None, None)
    return (W.wkb_multipolygon([[a]]), float(a[:, 0].min()), float(a[:, 1].min()),
            float(a[:, 0].max()), float(a[:, 1].max()))


def _coords_cases():
    import random

    rng = random.Random(3)
    cases = [None, [], [(1.0, 2.0)], [(1.0, 2.0), (1.0, 2.0)],
             [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)],
             [(0.0, 0.0), (0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)],
             [(5.0, 5.0), (6.0, 5.0), (5.0, 5.0), (6.0, 5.0)]]
    for _ in range(200):
        m = rng.randint(0, 9)
        pts = [(round(rng.uniform(-180, 180), 3), round(rng.uniform(-90, 90), 3))
               for _ in range(m)]
        if pts and rng.random() < 0.5:
            pts.append(pts[-1])  # consecutive dup
        if pts and rng.random() < 0.4:
            pts.append(pts[0])  # close the ring
        cases.append(pts)
    return cases


def test_arrow_linestring_matches_scalar_spec(spark):
    from osmi_water_spark.operators.assemble import make_linestring

    cases = _coords_cases()
    rows = [( [{"lon": x, "lat": y} for x, y in c] if c is not None else None,)
            for c in cases]
    df = spark.createDataFrame(rows, "coords array<struct<lon:double,lat:double>>")
    got = df.select(make_linestring("coords").alias("g")).select(
        "g.wkb", "g.ok", "g.minx", "g.miny", "g.maxx", "g.maxy").collect()
    for c, r in zip(cases, got):
        wkb, ok, minx, miny, maxx, maxy = _scalar_linestring(c)
        assert (bytes(r.wkb) if r.wkb is not None else None) == wkb, c
        assert r.ok == ok and r.minx == minx and r.miny == miny, c
        assert r.maxx == maxx and r.maxy == maxy, c


def test_arrow_closed_way_matches_scalar_spec(spark):
    from osmi_water_spark.operators.areas import _closed_way_polygon

    cases = _coords_cases()
    rows = [( [{"lon": x, "lat": y} for x, y in c] if c is not None else None,)
            for c in cases]
    df = spark.createDataFrame(rows, "coords array<struct<lon:double,lat:double>>")
    got = df.select(_closed_way_polygon("coords").alias("g")).select(
        "g.wkb", "g.minx", "g.miny", "g.maxx", "g.maxy").collect()
    for c, r in zip(cases, got):
        wkb, minx, miny, maxx, maxy = _scalar_closed_way(c)
        assert (bytes(r.wkb) if r.wkb is not None else None) == wkb, c
        assert r.minx == minx and r.miny == miny and r.maxx == maxx and r.maxy == maxy, c


def test_arrow_point_wkb_matches_scalar_spec(spark):
    import struct

    from osmi_water_spark.plans.pipeline import _point_wkb

    rows = [(1.5, 2.5), (None, 3.0), (float("nan"), 1.0), (-180.0, 90.0), (0.0, float("nan"))]
    df = spark.createDataFrame(rows, "lon double, lat double")
    got = [r.w for r in df.select(_point_wkb("lon", "lat").alias("w")).collect()]
    hdr = struct.pack("<BI", 1, 1)
    import math

    want = [None if x is None or (isinstance(x, float) and math.isnan(x))
            else hdr + struct.pack("<dd", x, y) for x, y in rows]
    assert [bytes(g) if g is not None else None for g in got] == want
