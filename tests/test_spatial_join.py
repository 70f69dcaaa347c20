"""J5 pip_join edge cases: multi-part areas under the broadcast path, the
byte-bounded broadcast decision, and the empty-polygon-side schema contract.

The reference indexes each polygon part separately in its STRtree
(/root/reference/src/areahandler.hpp:48-62), so an area whose MultiPolygon
has several outer rings must match points inside ANY ring — in both the
broadcast and the shuffled refine paths.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmi_water_spark.functions import wkb as W
from osmi_water_spark.operators.spatial_join import (
    MAX_BROADCAST_BYTES,
    MAX_BROADCAST_PARTS,
    pip_exists,
    pip_join,
    should_broadcast_parts,
)


def _rect_wkb(x0, y0, x1, y1):
    return W.wkb_polygon(
        [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64)]
    )


def _two_part_area(spark):
    """One area_key ('A') with two disjoint rectangle parts + a decoy area."""
    rows = [
        ("A", bytearray(_rect_wkb(0.0, 0.0, 1.0, 1.0)), 0.0, 0.0, 1.0, 1.0),
        ("A", bytearray(_rect_wkb(10.0, 10.0, 11.0, 11.0)), 10.0, 10.0, 11.0, 11.0),
        ("B", bytearray(_rect_wkb(20.0, 20.0, 21.0, 21.0)), 20.0, 20.0, 21.0, 21.0),
    ]
    return spark.createDataFrame(
        rows,
        "area_key string, part_wkb binary, minx double, miny double, "
        "maxx double, maxy double",
    )


def _points(spark):
    rows = [
        (1, 0.5, 0.5),    # inside part 1 of A
        (2, 10.5, 10.5),  # inside part 2 of A
        (3, 20.5, 20.5),  # inside B
        (4, 5.0, 5.0),    # outside everything
    ]
    return spark.createDataFrame(rows, "point_id long, lon double, lat double")


@pytest.mark.parametrize("broadcast", [True, False])
def test_multi_part_area_both_paths(spark, broadcast):
    parts = _two_part_area(spark)
    pts = _points(spark)
    got = {
        (r.point_id, r.area_key)
        for r in pip_join(pts, parts, broadcast_parts=broadcast).collect()
    }
    assert got == {(1, "A"), (2, "A"), (3, "B")}


def test_multi_part_area_pip_exists(spark):
    parts = _two_part_area(spark)
    pts = _points(spark)
    got = {r.point_id for r in pip_exists(pts, parts, broadcast_parts=True).collect()}
    assert got == {1, 2, 3}


def test_broadcast_decision_is_byte_bounded():
    assert should_broadcast_parts(10, 1000)
    assert should_broadcast_parts(MAX_BROADCAST_PARTS, MAX_BROADCAST_BYTES)
    # few rows of huge coastline WKB must NOT broadcast
    assert not should_broadcast_parts(100, MAX_BROADCAST_BYTES + 1)
    assert not should_broadcast_parts(MAX_BROADCAST_PARTS + 1, 1000)


def test_auto_decision_picks_nonbroadcast_for_fat_parts(spark, monkeypatch):
    """End-to-end: the auto decision consults total WKB bytes, not just the
    row count, and the non-broadcast fallback stays correct."""
    import osmi_water_spark.operators.spatial_join as SJ

    parts = _two_part_area(spark)
    pts = _points(spark)
    monkeypatch.setattr(SJ, "MAX_BROADCAST_BYTES", 8)  # everything is "fat"
    # should_broadcast_parts reads module globals via default args at call
    # time only if re-bound — pass through the public entry instead:
    got = {
        (r.point_id, r.area_key)
        for r in SJ.pip_join(pts, parts, broadcast_parts=None).collect()
    }
    assert got == {(1, "A"), (2, "A"), (3, "B")}


def test_empty_polygon_side_carries_lonlat_schema(spark):
    parts = _two_part_area(spark).limit(0)
    pts = _points(spark)
    out = pip_join(pts, parts, carry_lonlat=True)
    assert set(out.columns) == {"point_id", "area_key", "lon", "lat"}
    assert out.count() == 0
    # downstream select of lon/lat must not raise
    assert out.select("lon", "lat").count() == 0


# ---------------- pure-numpy unit tests (no Spark session) ----------------


def test_flat_index_chunk_invariance():
    """eval() must be chunking-invariant: the max_edge_instances bound is a
    cache budget, never a semantic knob."""
    import numpy as np

    from osmi_water_spark.functions import wkb as W

    rng = np.random.RandomState(7)
    items = []
    for i in range(50):
        cx, cy = rng.uniform(-10, 10, 2)
        n = rng.randint(3, 12)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.5, 2.0, n)
        ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        items.append((f"k{i % 20}", W.wkb_polygon([ring])))  # keys repeat
    idx = W.FlatPolygonIndex.build(items)
    px = rng.uniform(-12, 12, 5000)
    py = rng.uniform(-12, 12, 5000)
    keys = rng.randint(0, 20, 5000)
    ref = idx.eval(px, py, keys, max_edge_instances=10**9)
    for chunk in (17, 1000, 131_072):
        got = idx.eval(px, py, keys, max_edge_instances=chunk)
        assert (got == ref).all(), chunk


def test_cell_probe_candidates():
    """candidates() expands each cell to its (sorted, deduped) key list and
    emits (row, key) pairs already lexicographically sorted and unique when
    a single resolution is probed — the fast path in _probe_refine relies
    on this."""
    import numpy as np

    from osmi_water_spark.functions import wkb as W
    from osmi_water_spark.operators.spatial_join import CellProbeIndex

    ring = np.array([[0.0, 0.0], [1, 0], [1, 1], [0, 1], [0, 0]])
    index = W.FlatPolygonIndex.build([("a", W.wkb_polygon([ring]))])
    # cover: cell 10 -> keys {1,0} (dup 0), cell 20 -> {2}
    pairs = np.array([[10, 1], [10, 0], [10, 0], [20, 2]], dtype=np.int64)
    probe = CellProbeIndex(pairs, index, [7], ["a", "b", "c"])
    rows, kk = probe.candidates(np.array([20, 10, 99, 10], dtype=np.int64))
    got = list(zip(rows.tolist(), kk.tolist()))
    assert got == [(0, 2), (1, 0), (1, 1), (3, 0), (3, 1)]
    # sorted + unique as claimed
    assert got == sorted(set(got))


def test_np_cell_of_matches_formula():
    import numpy as np

    from osmi_water_spark.functions import cells as C

    lon = np.array([-180.0, -0.1, 0.0, 179.99, 180.0])
    lat = np.array([-90.0, 45.0, 0.0, -0.1, 90.0])
    res = 7
    n = float(1 << res)
    hi = (1 << res) - 1
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, hi).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, hi).astype(np.int64)
    want = (np.int64(res) << 58) + (iy << 29) + ix
    assert (C.np_cell_of(lon, lat, res) == want).all()


def _cover_edge_boxes(res_min: int, res_max: int, max_cells: int) -> list[tuple]:
    """Boxes on cell boundaries, at the domain limits, degenerate, and with
    a cover of exactly ``max_cells`` at every resolution."""
    boxes = [
        (-180.0, -90.0, 180.0, 90.0), (-180.0, -90.0, -180.0, -90.0),
        (180.0, 90.0, 180.0, 90.0), (179.9, 89.9, 180.0, 90.0),
        (-180.0, 0.0, -179.0, 1.0), (10.0, 20.0, 10.0, 25.0), (10.0, 20.0, 15.0, 20.0),
        (3.3, -4.4, 3.3, -4.4), (-200.0, -100.0, -190.0, -95.0), (190.0, 95.0, 200.0, 99.0),
    ]
    for r in range(res_min, res_max + 1):
        cw, ch = 360.0 / (1 << r), 180.0 / (1 << r)
        k = (1 << r) // 3
        x, y = -180.0 + k * cw, -90.0 + k * ch  # exact cell corner
        boxes += [(x, y, x, y), (x, y, x + cw, y + ch), (x, y, x + 2 * cw, y),
                  (x - 1e-12, y - 1e-12, x + 1e-12, y + 1e-12)]
        for w in (1, 2, 4, 8, 16, 32, 64):
            h = max_cells // w
            if w * h == max_cells and w <= (1 << r) and h <= (1 << r):
                # centres of the first and last covered cells
                boxes.append((x + 0.5 * cw, y + 0.5 * ch,
                              x + (w - 0.5) * cw, y + (h - 0.5) * ch))
    return boxes


@pytest.mark.parametrize("res_min,res_max,max_cells", [(3, 7, 64), (2, 9, 16)])
def test_np_cover_matches_jvm_cover(spark, res_min, res_max, max_cells):
    """The driver-side numpy cover (probe-mode PIP) must equal the JVM
    adaptive cover: resolution per box, cell ids, and cell order."""
    import random

    from osmi_water_spark.functions import cells as C

    rng = random.Random(21)
    boxes = _cover_edge_boxes(res_min, res_max, max_cells)
    for _ in range(400):
        x, y = rng.uniform(-185, 180), rng.uniform(-95, 90)
        w, h = rng.choice([0.0, 0.01, 0.5, 3.0, 30.0]) * rng.random(), rng.uniform(0, 25)
        boxes.append((x, y, x + w, y + h))
    df = spark.createDataFrame(
        [(i,) + b for i, b in enumerate(boxes)],
        "i int, minx double, miny double, maxx double, maxy double",
    )
    bbox = ("minx", "miny", "maxx", "maxy")
    rows = df.select(
        "i",
        C.adaptive_cover_res(*bbox, res_min, res_max, max_cells).alias("res"),
        C.adaptive_cover_cells(*bbox, res_min, res_max, max_cells).alias("cells"),
    ).orderBy("i").collect()
    a = np.array(boxes)
    res, cells, owner = C.np_cover(a[:, 0], a[:, 1], a[:, 2], a[:, 3], res_min, res_max, max_cells)
    assert res.tolist() == [r.res for r in rows]
    assert cells.tolist() == [c for r in rows for c in r.cells]
    assert owner.tolist() == [r.i for r in rows for _ in r.cells]
    counts = np.bincount(owner, minlength=len(boxes))
    assert counts.max() <= max_cells or (res[counts > max_cells] == res_min).all()


def test_cell_probe_index_at_cap_scale():
    """Driver-side stress: CellProbeIndex construction + a candidates()
    probe at MAX_PROBE_CELLS rows stays numpy-vectorized (seconds, not
    minutes) and correct on sampled cells."""
    import time

    from osmi_water_spark.operators.spatial_join import (
        MAX_PROBE_CELLS, CellProbeIndex,
    )

    n = MAX_PROBE_CELLS
    rng = np.random.RandomState(0)
    pairs = np.column_stack([
        rng.randint(0, n // 2, size=n).astype(np.int64),
        rng.randint(0, 1000, size=n).astype(np.int64),
    ])
    idx = W.FlatPolygonIndex.build(
        (str(i), bytes(W.wkb_polygon([np.array(
            [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
        )]))) for i in range(1)
    )
    t0 = time.time()
    probe = CellProbeIndex(pairs, idx, [7], [str(i) for i in range(1000)])
    build_s = time.time() - t0
    # regression bound: an interpreted per-row build takes MINUTES at 4M
    # rows; the vectorized build takes seconds. 120s keeps the guard while
    # tolerating this host's documented multi-x window noise (a 30s bound
    # flaked at 37s in a loaded round-5 window).
    assert build_s < 120.0, f"cap-scale probe build took {build_s:.1f}s"
    # sampled correctness: candidates for one cell == the deduped pair set
    cell = int(pairs[0, 0])
    want = np.unique(pairs[pairs[:, 0] == cell][:, 1])
    rows_idx, keys = probe.candidates(np.array([cell], dtype=np.int64))
    assert (np.sort(keys) == want).all() and (rows_idx == 0).all()


# ---------------- probe cover sized to the parts ----------------


def _star_rows(seed: int, n: int, box=(5.0, 35.0, 45.0, 65.0)) -> list[dict]:
    """``n`` seeded star-shaped parts of 0.02-0.12 deg radius in a 40 x 30
    deg box, as collected part rows (area_key, part_wkb, bbox)."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        cx, cy = rng.uniform(box[0], box[2]), rng.uniform(box[1], box[3])
        m = rng.randint(5, 12)
        ang = np.linspace(0.0, 2 * np.pi, 2 * m, endpoint=False)
        rad = rng.uniform(0.02, 0.12) * np.where(np.arange(2 * m) % 2 == 0, 1.0, 0.5)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        lo, hi = ring.min(axis=0), ring.max(axis=0)
        rows.append({"area_key": f"s{i}", "part_wkb": W.wkb_polygon([ring]),
                     "minx": float(lo[0]), "miny": float(lo[1]),
                     "maxx": float(hi[0]), "maxy": float(hi[1])})
    return rows


def _record_np_cover(monkeypatch) -> list:
    """Wrap ``cells.np_cover``; returns the list its results land in."""
    from osmi_water_spark.functions import cells as C

    seen, orig = [], C.np_cover

    def np_cover(*a, **kw):
        out = orig(*a, **kw)
        seen.append(out)
        return out

    monkeypatch.setattr(C, "np_cover", np_cover)
    return seen


def _probe_of(rows: list[dict]):
    """The probe pip_join builds over these part rows (res_min 3)."""
    import osmi_water_spark.operators.spatial_join as SJ

    keys = [r["area_key"] for r in rows]
    bbox = np.array([(r["minx"], r["miny"], r["maxx"], r["maxy"]) for r in rows])
    index = W.FlatPolygonIndex.build(zip(keys, (r["part_wkb"] for r in rows)))
    return SJ._probe_index(keys, bbox, index, 3)


def _parts_df(spark, rows):
    return spark.createDataFrame(
        [(r["area_key"], bytearray(r["part_wkb"]), r["minx"], r["miny"], r["maxx"], r["maxy"])
         for r in rows],
        "area_key string, part_wkb binary, minx double, miny double, "
        "maxx double, maxy double",
    )


def test_probe_cover_is_sized_to_parts(monkeypatch):
    """Each part's probe cover spans <= PROBE_CELLS_PER_PART cells unless
    it sits at res_min, so a uniform point meets a handful of candidate
    parts (a res-7 cover gives ~73 on this density)."""
    import osmi_water_spark.operators.spatial_join as SJ
    from osmi_water_spark.functions import cells as C

    rows = _star_rows(5, 20_000)
    seen = _record_np_cover(monkeypatch)
    probe = _probe_of(rows)
    (res, _, owner), = seen
    counts = np.bincount(owner, minlength=len(rows))
    assert ((counts <= SJ.PROBE_CELLS_PER_PART) | (res == 3)).all()
    assert probe.res_list == sorted(set(res.tolist()))

    rng = np.random.RandomState(6)
    lon, lat = rng.uniform(5.0, 45.0, 20_000), rng.uniform(35.0, 65.0, 20_000)
    pairs = set()
    for r in probe.res_list:
        rr, kk = probe.candidates(C.np_cell_of(lon, lat, r))
        pairs.update(zip(rr.tolist(), kk.tolist()))
    assert len(pairs) / len(lon) <= 4.0


@pytest.mark.parametrize("field,value", [("maxy", None), ("minx", float("nan")),
                                         ("maxx", float("inf"))])
def test_probe_rejects_non_finite_bbox(spark, field, value):
    """A null/NaN/inf bbox would become a plausible-looking cell; the probe
    names the offending area_key instead."""
    rows = _star_rows(7, 4)
    rows[2][field] = value
    with pytest.raises(ValueError, match="area_key 's2'"):
        pip_join(_points(spark), _parts_df(spark, rows), broadcast_parts=True)


def _ray_cast_pairs(rows, ids, lon, lat) -> set:
    out = set()
    for r in rows:
        hit = W.points_in_wkb_polygon(lon, lat, r["part_wkb"])
        out.update((int(i), r["area_key"]) for i in ids[hit])
    return out


def _star_points(spark, rows, n: int, seed: int):
    """Uniform points over the parts' extent plus each part's centre."""
    rng = np.random.RandomState(seed)
    lo = min(r["minx"] for r in rows), min(r["miny"] for r in rows)
    hi = max(r["maxx"] for r in rows), max(r["maxy"] for r in rows)
    lon = np.concatenate([rng.uniform(lo[0], hi[0], n),
                          [(r["minx"] + r["maxx"]) / 2 for r in rows]])
    lat = np.concatenate([rng.uniform(lo[1], hi[1], n),
                          [(r["miny"] + r["maxy"]) / 2 for r in rows]])
    ids = np.arange(len(lon), dtype=np.int64)
    df = spark.createDataFrame(
        list(zip(ids.tolist(), lon.tolist(), lat.tolist())),
        "point_id long, lon double, lat double",
    )
    return df, ids, lon, lat


def test_probe_ignores_caller_res_list(spark, monkeypatch):
    """The probe looks points up at its own cover's resolutions: a caller's
    coarse res_list (here 3..7, the cell-join default) must not drop pairs
    whose parts are covered at res >= 9."""
    rows = _star_rows(9, 300, box=(10.0, 40.0, 12.0, 41.5))
    parts = _parts_df(spark, rows)
    pts, ids, lon, lat = _star_points(spark, rows, 3000, 10)
    seen = _record_np_cover(monkeypatch)

    def run(res_list):
        out = pip_join(pts, parts, broadcast_parts=True, res_list=res_list)
        return {(r.point_id, r.area_key) for r in out.collect()}

    coarse = run(list(range(3, 8)))
    assert len(seen) == 1 and seen[0][0].min() >= 9
    want = _ray_cast_pairs(rows, ids, lon, lat)
    assert coarse == run(None) == want and len(want) > 300


def test_probe_cap_is_checked_before_allocation(spark, monkeypatch):
    """A probe cover of exactly MAX_PROBE_CELLS pairs takes the probe; one
    pair more takes the broadcast equi-join without ever building a
    CellProbeIndex. Both return the same pairs."""
    import osmi_water_spark.operators.spatial_join as SJ

    rows = _star_rows(11, 60, box=(-3.0, -2.0, 0.0, 0.0))
    parts = _parts_df(spark, rows)
    pts, ids, lon, lat = _star_points(spark, rows, 500, 12)
    seen = _record_np_cover(monkeypatch)
    built = []

    init = SJ.CellProbeIndex.__init__

    def spy_init(self, *a, **kw):
        built.append(1)
        init(self, *a, **kw)

    monkeypatch.setattr(SJ.CellProbeIndex, "__init__", spy_init)

    def run(cap):
        monkeypatch.setattr(SJ, "MAX_PROBE_CELLS", cap)
        built.clear()
        out = {(r.point_id, r.area_key)
               for r in pip_join(pts, parts, broadcast_parts=True).collect()}
        return out, len(built)

    _probe_of(rows)
    n = len(seen[-1][1])
    at_cap, probes_at_cap = run(n)
    over_cap, probes_over_cap = run(n - 1)
    assert (probes_at_cap, probes_over_cap) == (1, 0)
    want = _ray_cast_pairs(rows, ids, lon, lat)
    assert at_cap == over_cap == want and len(want) > 0
