"""Grid-cell spatial index + slippy (z/x/y) raster tile math, all as native
Spark column expressions (JVM-side, codegen-friendly — no UDFs).

This is the engine's replacement for the reference's GEOS ``STRtree``
envelope index (/root/reference/src/areahandler.hpp:57-59,
/root/reference/src/falsepositives.hpp:130): polygons are covered by the
grid cells of their bounding box, points map to one cell per resolution,
and the spatial join becomes a plain equi-join on cell id — the same plan
shape an H3/S2 polyfill would give (neither library is available in this
environment; the grid keeps identical semantics: cell-join = envelope
pre-filter, exact refine = prepared-polygon contains).

Cell id packing (64-bit long):  (res << 58) | (iy << 29) | ix
with a 2^res x 2^res grid over lon [-180,180] x lat [-90,90].
Resolution <= ``MAX_RES`` = 20 (cell ~34 m at the equator), ix/iy < 2^29.

Raster tiles use the standard web-mercator z/x/y scheme; ids share the same
packing. ``tile_id`` (vector->raster) and ``tile_bounds`` / ``tile_to_cells``
(raster->vector) give the assignment demanded by the graft
(BASELINE.json:6).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

RES_BITS_SHIFT = 58
IY_SHIFT = 29
DEFAULT_RES = 7  # ~312 km cells; fixtures are small worlds
MAX_RES = 20  # grid limit: the finest resolution any cover may use
MAX_COVER_CELLS = 64

# Every builder below takes column names (or parenthesised SQL fragments)
# and emits ONE SQL string parsed by a single F.expr round-trip: nested
# Column-API building cost dozens-to-hundreds of py4j round-trips PER CALL
# at DAG-construction time (~0.3 ms each; ~2.7 s of the pipeline's per-run
# wall was driver-side chatter while 32 cores idled — guide §7.3's
# "planning time is real time"). Literal suffixes are chosen for exact
# types: `180.0D` (double, NOT the default decimal), `0L` for longs.
# Values and types are pinned by
# tests/test_wkb_cells.py::test_cell_and_tile_expressions_match_pinned_digests.

# Lambda variables of the cover/ring expressions. Inside a lambda body a
# name resolves to a lambda variable before any input column, so these are
# quoted names that a plain column reference cannot spell.
_LX, _LY = "`cell ix`", "`cell iy`"


def _name(c: Column | str, fn: str) -> str:
    """Column-name adapter for callers still holding ``F.col(...)``
    references: a plain reference Column yields its name, any other Column
    raises, a name passes through."""
    if isinstance(c, Column):
        node = c._jc.node()
        if node.getClass().getSimpleName() != "UnresolvedAttribute":
            raise TypeError(f"{fn}() takes column names or F.col(name) references, got {c!r}")
        return node.sql()
    return c


def _cell_res_sql(cell: str) -> str:
    return f"cast(shiftright({cell}, {RES_BITS_SHIFT}) as int)"


def _cell_ix_sql(cell: str) -> str:
    return f"cast({cell} % {1 << IY_SHIFT} as long)"


def _cell_iy_sql(cell: str) -> str:
    return f"cast(shiftright({cell}, {IY_SHIFT}) % {1 << IY_SHIFT} as long)"


def cell_res(cell: str) -> Column:
    return F.expr(_cell_res_sql(cell))


def cell_ix(cell: str) -> Column:
    return F.expr(_cell_ix_sql(cell))


def cell_iy(cell: str) -> Column:
    return F.expr(_cell_iy_sql(cell))


def _ix_sql(lon: str, res: int) -> str:
    n = repr(float(1 << res))
    return (f"greatest(0L, least({(1 << res) - 1}L, "
            f"floor(({lon} + 180.0D) / 360.0D * {n}D)))")


def _iy_sql(lat: str, res: int) -> str:
    n = repr(float(1 << res))
    return (f"greatest(0L, least({(1 << res) - 1}L, "
            f"floor(({lat} + 90.0D) / 180.0D * {n}D)))")


def _encode_sql(res: str, ix: str, iy: str) -> str:
    return (f"(shiftleft(cast({res} as long), {RES_BITS_SHIFT}) + "
            f"shiftleft(cast({iy} as long), {IY_SHIFT}) + cast({ix} as long))")


def _cell_of_sql(lon: str, lat: str, res: int) -> str:
    return _encode_sql(str(res), _ix_sql(lon, res), _iy_sql(lat, res))


def cell_of(lon: Column | str, lat: Column | str, res: int = DEFAULT_RES) -> Column:
    """Point -> grid cell id at a fixed resolution."""
    return F.expr(_cell_of_sql(_name(lon, "cell_of"), _name(lat, "cell_of"), res))


def cell_of_multi(lon: str, lat: str, resolutions: list[int]) -> Column:
    """Point -> array of cell ids, one per resolution (for joining against a
    multi-resolution polygon cover — bounded fan-out: len(resolutions) rows)."""
    return F.expr(
        "array(" + ", ".join(_cell_of_sql(lon, lat, r) for r in resolutions) + ")"
    )


def _bbox_cover_cells_sql(minx: str, miny: str, maxx: str, maxy: str, res: int) -> str:
    ix0, ix1 = _ix_sql(minx, res), _ix_sql(maxx, res)
    iy0, iy1 = _iy_sql(miny, res), _iy_sql(maxy, res)
    enc = _encode_sql(str(res), _LX, _LY)
    return (f"flatten(transform(sequence({iy0}, {iy1}), "
            f"{_LY} -> transform(sequence({ix0}, {ix1}), {_LX} -> {enc})))")


def bbox_cover_cells(minx: str, miny: str, maxx: str, maxy: str, res: int) -> Column:
    """All cells at ``res`` intersecting the bbox (envelope cover), iy outer
    and ix inner. Built from sequence+transform+flatten so it stays inside
    codegen."""
    return F.expr(_bbox_cover_cells_sql(minx, miny, maxx, maxy, res))


def _bbox_cover_count_sql(minx: str, miny: str, maxx: str, maxy: str, res: int) -> str:
    return (f"(({_ix_sql(maxx, res)} - {_ix_sql(minx, res)} + 1L) * "
            f"({_iy_sql(maxy, res)} - {_iy_sql(miny, res)} + 1L))")


def _adaptive_cover_res_sql(minx: str, miny: str, maxx: str, maxy: str,
                            res_min: int, res_max: int, max_cells: int) -> str:
    # finest-last nesting: each finer resolution wraps the coarser fallback
    expr = str(res_min)
    for r in range(res_min + 1, res_max + 1):
        expr = (f"(CASE WHEN {_bbox_cover_count_sql(minx, miny, maxx, maxy, r)}"
                f" <= {max_cells}L THEN {r} ELSE {expr} END)")
    return expr


def adaptive_cover_res(
    minx: str,
    miny: str,
    maxx: str,
    maxy: str,
    res_min: int = 3,
    res_max: int = DEFAULT_RES,
    max_cells: int = MAX_COVER_CELLS,
) -> Column:
    """Finest resolution in [res_min, res_max] whose bbox cover stays within
    ``max_cells`` — bounds the explode fan-out per polygon regardless of
    polygon size (big lakes coarsen instead of exploding)."""
    return F.expr(
        _adaptive_cover_res_sql(minx, miny, maxx, maxy, res_min, res_max, max_cells)
    )


def adaptive_cover_cells(
    minx: str,
    miny: str,
    maxx: str,
    maxy: str,
    res_min: int = 3,
    res_max: int = DEFAULT_RES,
    max_cells: int = MAX_COVER_CELLS,
) -> Column:
    """Bbox cover at the adaptive resolution (array<long>)."""
    res = _adaptive_cover_res_sql(minx, miny, maxx, maxy, res_min, res_max, max_cells)
    out = _bbox_cover_cells_sql(minx, miny, maxx, maxy, res_min)
    for r in range(res_min + 1, res_max + 1):
        out = (f"(CASE WHEN {res} = {r} THEN "
               f"{_bbox_cover_cells_sql(minx, miny, maxx, maxy, r)} ELSE {out} END)")
    return F.expr(out)


def np_cell_of(lon, lat, res: int):
    """Numpy twin of :func:`cell_of` — identical IEEE op order
    ((lon+180.0)/360.0*n, floor, clamp) so a point gets the SAME cell id
    whether computed JVM-side or inside an Arrow batch (the map-side PIP
    probe relies on exact parity with the Spark-computed polygon cover)."""
    import numpy as np

    n = float(1 << res)
    hi = (1 << res) - 1
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, hi).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, hi).astype(np.int64)
    return (np.int64(res) << RES_BITS_SHIFT) + (iy << IY_SHIFT) + ix


def np_cover(minx, miny, maxx, maxy, res_min: int = 3, res_max: int = DEFAULT_RES,
             max_cells: int = MAX_COVER_CELLS):
    """Numpy twin of adaptive_cover_res + adaptive_cover_cells over ARRAYS
    of bboxes: returns (res_per_box int64, flat cell ids int64, owner box
    index int64). Identical IEEE op order to the JVM expressions
    ((x+180.0)/360.0*n, floor, clamp; finest res in [res_min, res_max]
    whose cover count stays <= max_cells, else res_min) and identical cell
    order (iy outer, ix inner) so a driver-side cover is byte-equal to the
    Spark-computed one. Used by the probe-mode PIP join to derive the
    whole cover from the ALREADY-COLLECTED parts instead of running a
    second Spark job over the polygon side (guide §8: decide with small
    rows). Parity (NaN/null bboxes aside) is pinned by
    tests/test_spatial_join.py::test_np_cover_matches_jvm_cover."""
    import numpy as np

    minx = np.asarray(minx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)

    def _ix(x, r):
        n = float(1 << r)
        return np.clip(np.floor((x + 180.0) / 360.0 * n), 0, (1 << r) - 1).astype(np.int64)

    def _iy(y, r):
        n = float(1 << r)
        return np.clip(np.floor((y + 90.0) / 180.0 * n), 0, (1 << r) - 1).astype(np.int64)

    res = np.full(minx.shape, res_min, dtype=np.int64)
    for r in range(res_min + 1, res_max + 1):
        cnt = (_ix(maxx, r) - _ix(minx, r) + 1) * (_iy(maxy, r) - _iy(miny, r) + 1)
        res = np.where(cnt <= max_cells, r, res)

    ix0 = np.empty_like(res)
    ix1 = np.empty_like(res)
    iy0 = np.empty_like(res)
    iy1 = np.empty_like(res)
    for r in np.unique(res):
        m = res == r
        ix0[m], ix1[m] = _ix(minx[m], int(r)), _ix(maxx[m], int(r))
        iy0[m], iy1[m] = _iy(miny[m], int(r)), _iy(maxy[m], int(r))
    w = ix1 - ix0 + 1
    counts = w * (iy1 - iy0 + 1)
    offs = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    total = int(offs[-1])
    owner = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    t = np.arange(total, dtype=np.int64) - offs[owner]
    iy = iy0[owner] + t // w[owner]
    ix = ix0[owner] + t % w[owner]
    cells = (res[owner] << RES_BITS_SHIFT) + (iy << IY_SHIFT) + ix
    return res, cells, owner


def k_ring(cell: str, k: int = 1) -> Column:
    """Cells within Chebyshev distance k of ``cell`` at the same resolution
    (the kNN candidate ring, J6). No antimeridian wrap (documented limit)."""
    res, ix, iy = _cell_res_sql(cell), _cell_ix_sql(cell), _cell_iy_sql(cell)
    # shiftleft needs a literal bit count; 2^res via pow (exact for res<=MAX_RES)
    hi = f"(cast(pow(2.0D, cast({res} as double)) as long) - 1)"

    def span(i: str) -> str:
        return f"sequence(greatest(0, least({hi}, {i} - {k})), greatest(0, least({hi}, {i} + {k})))"

    return F.expr(
        f"flatten(transform({span(iy)}, {_LY} -> "
        f"transform({span(ix)}, {_LX} -> {_encode_sql(res, _LX, _LY)})))"
    )


# ---------------- raster (slippy z/x/y) tiles ----------------


def _tile_xy_sql(lon: str, lat: str, z: int) -> tuple[str, str]:
    n = repr(float(1 << z))
    pi = repr(math.pi)
    lim = (1 << z) - 1
    tx = f"floor(({lon} + 180.0D) / 360.0D * {n}D)"
    lat_rad = f"({lat} * {pi}D / 180.0D)"
    ty = (f"floor((1.0D - ln(tan({lat_rad}) + 1.0D / cos({lat_rad})) / {pi}D)"
          f" / 2.0D * {n}D)")
    return (f"greatest(0L, least({lim}L, {tx}))",
            f"greatest(0L, least({lim}L, {ty}))")


def tile_xy(lon: str, lat: str, z: int) -> tuple[Column, Column]:
    """Web-mercator tile coordinates. Formula written identically to the
    DuckDB oracle (ln(tan + 1/cos)) so both engines run the same IEEE ops."""
    tx, ty = _tile_xy_sql(lon, lat, z)
    return F.expr(tx), F.expr(ty)


def tile_id(lon: Column | str, lat: Column | str, z: int) -> Column:
    tx, ty = _tile_xy_sql(_name(lon, "tile_id"), _name(lat, "tile_id"), z)
    return F.expr(_encode_sql(str(z), tx, ty))


def _tile_bounds_sql(z: int, tx: str, ty: str) -> tuple[str, str, str, str]:
    n = f"{float(1 << z)!r}D"

    def lat_of(yy: str) -> str:
        return f"degrees(atan(sinh({math.pi!r}D * (1.0D - 2.0D * {yy} / {n}))))"

    return (f"({tx} / {n} * 360.0D - 180.0D)",
            lat_of(f"cast(({ty} + 1) as double)"),
            f"(({tx} + 1) / {n} * 360.0D - 180.0D)",
            lat_of(f"cast({ty} as double)"))


def tile_bounds(z: int, tx: str, ty: str) -> tuple[Column, Column, Column, Column]:
    """Tile -> lon/lat bbox (minx, miny, maxx, maxy; inverse mercator), for
    raster->vector assignment."""
    return tuple(F.expr(b) for b in _tile_bounds_sql(z, tx, ty))


def tile_to_cells(z: int, tx: str, ty: str, res: int) -> Column:
    """Raster->vector: grid cells covering a z/x/y raster tile's bbox."""
    minx, miny, maxx, maxy = _tile_bounds_sql(z, tx, ty)
    # shrink by epsilon so a tile edge exactly on a cell boundary doesn't
    # pull in the neighbouring cell row/column
    eps = "1.0E-9D"
    return F.expr(_bbox_cover_cells_sql(
        f"({minx} + {eps})", f"({miny} + {eps})", f"({maxx} - {eps})", f"({maxy} - {eps})", res
    ))
