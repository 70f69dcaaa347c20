"""Seeded inputs for the benchmark workloads.

Pipeline workloads get a pages table built from chains. A chain is one
small, self-contained OSM pattern (rivers, relations, lakes) rendered into
pages with ``pages_gen``'s public entity/page helpers. Chain ``c`` sits in
its own 0.25-degree grid slot and owns the id range ``ID_BASE + 100*c`` ..
``+99``, so no two chains ever share a node, a way end, a relation member
or a polygon. The engine's outputs over a batch are therefore the sum of
what each chain produces on its own, which is what ``expected_counts``
predicts.

The ``pip_tile`` workload gets polygon parts (multi-vertex rings, some with
holes, some areas with two parts) built on the driver, and points drawn in
the JVM from ``rand(seed)``.

The seed picks each chain's template, its name variant and its jitter, and
every polygon; the same seed always gives the same inputs.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import lru_cache

import numpy as np

from osmi_water_spark.sources import pages_gen as PG

ID_BASE = 10_000_000
SLOT_DEG = 0.25
SLOT_COLS = 1360  # -170 .. 170 lon
SLOT_ROWS = 640   # -80 .. 80 lat
WORLD = "bench"

# template name -> share of chains. The shares are chosen for coverage, not
# measured from real pages (no sample of real pages is in the repository):
# plain rivers make most of the input, and each relation template gets the
# smallest round share that still leaves about three of its chains in every
# input partition of a 250-chain batch, so relation assembly and
# multipolygon area building do work in every task that runs them.
TEMPLATES = (("river", 0.7), ("waterway_rel", 0.1), ("lake_hole", 0.1), ("multipart", 0.1))
_MASK64 = (1 << 64) - 1


def _mix(x: int) -> int:
    """splitmix64 finaliser: a well-spread 64-bit hash of ``x``."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK64
    return x ^ (x >> 31)


def _unit(seed: int, c: int, salt: int) -> float:
    return _mix((seed * 0x1000003 + c) * 8 + salt) / 2.0**64


def chain_spec(seed: int, c: int) -> tuple[str, bool]:
    """(template, rename) for chain ``c`` under ``seed``."""
    u = _unit(seed, c, 0)
    acc = 0.0
    for name, share in TEMPLATES:
        acc += share
        if u < acc:
            break
    return name, _unit(seed, c, 1) < 0.25


def _origin(seed: int, c: int) -> tuple[float, float]:
    col, row = c % SLOT_COLS, (c // SLOT_COLS) % SLOT_ROWS
    jx, jy = 0.04 * _unit(seed, c, 2), 0.04 * _unit(seed, c, 3)
    return (-170.0 + SLOT_DEG * col + 0.07 + jx, -80.0 + SLOT_DEG * row + 0.05 + jy)


def template_entities(template: str, rename: bool, c: int,
                      lon0: float = 0.0, lat0: float = 0.0) -> list[dict]:
    """One chain's entities. Every coordinate lies within
    [lon0 - 0.06, lon0 + 0.13] x [lat0 - 0.04, lat0 + 0.11]."""
    base = ID_BASE + 100 * c
    E: list[dict] = []

    def n(k: int) -> int:
        return base + k

    def nd(k: int, dx: float, dy: float) -> None:
        E.append(PG.node(n(k), lon0 + dx, lat0 + dy))

    def square(k0: int, x0: float, y0: float, x1: float, y1: float) -> list[int]:
        nd(k0, x0, y0); nd(k0 + 1, x1, y0); nd(k0 + 2, x1, y1); nd(k0 + 3, x0, y1)  # noqa: E702
        return [n(k0), n(k0 + 1), n(k0 + 2), n(k0 + 3), n(k0)]

    nm = f"C{c}"
    if template == "river":
        # chain + confluence + name change (when renamed) + river mouth in a lake
        nd(1, 0.0, 0.0); nd(2, 0.01, 0.0); nd(3, 0.02, 0.0)  # noqa: E702
        nd(4, 0.03, 0.01); nd(6, 0.04, 0.0); nd(14, 0.06, 0.005)  # noqa: E702
        E.append(PG.way(n(50), [n(1), n(2), n(3)], {"waterway": "river", "name": nm}))
        E.append(PG.way(n(51), [n(3), n(6)],
                        {"waterway": "river", "name": nm + "x" if rename else nm}))
        E.append(PG.way(n(52), [n(4), n(3)], {"waterway": "stream", "name": nm}))
        lake = square(10, 0.05, -0.005, 0.07, 0.015)
        E.append(PG.way(n(53), lake, {"natural": "water"}))
        E.append(PG.way(n(54), [n(6), n(14)], {"waterway": "river", "name": nm}))
    elif template == "waterway_rel":
        # waterway relation: two river members, a member without a waterway
        # tag and a node member; plus a stream that is not a member
        for k in range(1, 7):
            nd(k, 0.02 * k, 0.004 * (k % 2))
        rn = nm + "x" if rename else nm
        E.append(PG.way(n(50), [n(1), n(2)], {"waterway": "river", "name": nm}))
        E.append(PG.way(n(51), [n(2), n(3), n(4)], {"waterway": "river", "name": rn}))
        E.append(PG.way(n(52), [n(4), n(5)], {"highway": "path"}))
        E.append(PG.way(n(53), [n(5), n(6)], {"waterway": "stream", "name": nm}))
        E.append(PG.relation(
            n(80),
            [("way", n(50), ""), ("way", n(51), ""), ("way", n(52), ""), ("node", n(1), "")],
            {"type": "waterway", "waterway": "river", "name": rn},
        ))
    elif template == "lake_hole":
        # multipolygon lake whose outer ring is split over two ways, with a
        # hole; one river ends in the solid part, one in the hole
        nd(10, 0.0, 0.0); nd(11, 0.1, 0.0); nd(12, 0.1, 0.1); nd(13, 0.0, 0.1)  # noqa: E702
        E.append(PG.way(n(50), [n(10), n(11), n(12)], {}))
        E.append(PG.way(n(51), [n(12), n(13), n(10)], {}))
        E.append(PG.way(n(52), square(20, 0.03, 0.03, 0.07, 0.07), {}))
        E.append(PG.relation(
            n(80),
            [("way", n(50), "outer"), ("way", n(51), "outer"), ("way", n(52), "inner")],
            {"type": "multipolygon", "natural": "water", "name": "L" + nm},
        ))
        nd(40, -0.05, 0.05); nd(41, 0.05, 0.05)  # noqa: E702  into the hole
        nd(42, -0.05, 0.01); nd(43, 0.015, 0.015)  # noqa: E702  into the solid part
        E.append(PG.way(n(53), [n(40), n(41)], {"waterway": "river", "name": nm}))
        E.append(PG.way(n(54), [n(42), n(43)],
                        {"waterway": "river", "name": nm + "x" if rename else nm}))
    elif template == "multipart":
        # multipolygon lake with two outer rings; a stream flows out of the
        # first part, a river ends in the second, a river ends between them
        E.append(PG.way(n(50), square(10, 0.0, 0.0, 0.04, 0.04), {}))
        E.append(PG.way(n(51), square(20, 0.08, 0.0, 0.12, 0.04), {}))
        E.append(PG.relation(
            n(80),
            [("way", n(50), "outer"), ("way", n(51), "outer")],
            {"type": "multipolygon", "natural": "water", "name": "M" + nm},
        ))
        nd(30, 0.10, -0.03); nd(31, 0.10, 0.02)  # noqa: E702
        nd(32, 0.06, -0.03); nd(33, 0.06, 0.02)  # noqa: E702
        nd(34, 0.02, 0.02); nd(35, 0.02, 0.08)  # noqa: E702
        E.append(PG.way(n(52), [n(30), n(31)], {"waterway": "river", "name": nm}))
        E.append(PG.way(n(53), [n(32), n(33)], {"waterway": "river", "name": nm}))
        E.append(PG.way(n(54), [n(34), n(35)],
                        {"waterway": "stream", "name": nm + "x" if rename else nm}))
    else:
        raise ValueError(f"unknown chain template {template!r}")
    return E


def chain_entities(seed: int, c: int) -> list[dict]:
    template, rename = chain_spec(seed, c)
    return template_entities(template, rename, c, *_origin(seed, c))


def batch_entities(seed: int, first: int, n_chains: int) -> list[dict]:
    return [e for c in range(first, first + n_chains) for e in chain_entities(seed, c)]


def render_chain(seed: int, c: int) -> list[dict]:
    return [PG.render_page(WORLD, e) for e in chain_entities(seed, c)]


def pages_df(spark, seed: int, first: int, n_chains: int, partitions: int):
    """Pages of chains ``first .. first+n_chains-1``, rendered on the
    executors (one ``mapInPandas`` over chain indices)."""
    import pandas as pd

    from osmi_water_spark.schemas import PAGES

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def gen(batches):
        for pdf in batches:
            rows = [r for c in pdf["id"] for r in render_chain(seed, int(c))]
            yield pd.DataFrame(rows, columns=cols)

    rng = spark.range(first, first + n_chains, 1, max(1, min(partitions, n_chains)))
    return rng.mapInPandas(gen, PAGES)


# ---------------- predictions ----------------

NODE_FLAGS = ("direction", "name", "type", "spring", "end", "way")  # the <flag>_error columns
NODE_CLASSES = ("rivermouth", "outflow") + NODE_FLAGS


def _oracle_counts(entities: list[dict]) -> Counter:
    """Row and error-class counts of the reference-semantics oracle."""
    from osmi_water_spark.plans.oracle import run_oracle

    o = run_oracle(entities)
    cnt: Counter = Counter({t: len(o[t]) for t in ("ways", "relations", "polygons", "nodes")})
    for row in o["nodes"]:
        specific, flags = row[1], row[2:8]
        classes = [specific] if specific else []
        classes += [k for k, f in zip(NODE_FLAGS, flags) if f == "true"]
        for k in classes:
            cnt["class." + k] += 1
        cnt["tile_validation_n"] += max(1, len(classes))
    cnt["tile_features"] = cnt["ways"] + cnt["relations"] + cnt["polygons"]
    return cnt


@lru_cache(maxsize=None)
def template_counts(template: str, rename: bool) -> Counter:
    """What one chain of this template produces. Chains never interact,
    so one instance (at the origin, chain 0) stands for all of them."""
    return _oracle_counts(template_entities(template, rename, 0))


def expected_counts(seed: int, first: int, n_chains: int) -> Counter:
    total: Counter = Counter()
    for c in range(first, first + n_chains):
        total.update(template_counts(*chain_spec(seed, c)))
    return total


def expected_pages(seed: int, first: int, n_chains: int) -> int:
    """One page per entity."""
    return sum(len(template_entities(*chain_spec(seed, c), c))
               for c in range(first, first + n_chains))


# ---------------- pip_tile inputs ----------------

PIP_BOX = (0.0, 0.0, 40.0, 30.0)  # minx, miny, maxx, maxy of points and areas


def pip_areas(seed: int, n_areas: int) -> list[tuple[int, list[list[np.ndarray]]]]:
    """``n_areas`` areas as (area_id, parts); a part is [outer, *holes],
    rings closed. About 20% of areas have a hole, 10% a second part.

    Like the chain mix, the sizes and shares are chosen so that the hole
    and multi-part paths of ``pip_join`` do work; they are not measured
    from real water areas."""
    rng = np.random.default_rng([seed, 7])
    x0, y0, x1, y1 = PIP_BOX
    out = []
    for a in range(n_areas):
        r = float(rng.uniform(0.02, 0.12))
        cx = float(rng.uniform(x0 + 0.5, x1 - 0.5))
        cy = float(rng.uniform(y0 + 0.5, y1 - 0.5))
        parts = [_star(rng, cx, cy, r, hole=rng.random() < 0.2)]
        if rng.random() < 0.1:
            parts.append(_star(rng, cx + 3 * r, cy, 0.6 * r, hole=False))
        out.append((a, parts))
    return out


def _star(rng, cx: float, cy: float, r: float, hole: bool) -> list[np.ndarray]:
    """A simple ring of 8-32 vertices around (cx, cy). One vertex per
    equal angular sector keeps every gap under a quarter turn, so the
    ring stays farther than 0.42 r from the centre and the 0.25 r square
    hole lies strictly inside it."""
    k = int(rng.integers(8, 33))
    ang = 2 * math.pi * (np.arange(k) + rng.uniform(0.0, 1.0, k)) / k
    rad = r * rng.uniform(0.6, 1.0, k)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    rings = [np.vstack([ring, ring[:1]])]
    if hole:
        h = 0.25 * r
        sq = np.array([[cx - h, cy - h], [cx - h, cy + h], [cx + h, cy + h],
                       [cx + h, cy - h], [cx - h, cy - h]])
        rings.append(sq)
    return rings


def pip_parts_pdf(areas):
    """Areas -> pandas frame of the ``pip_join`` polygon side."""
    import pandas as pd

    from osmi_water_spark.functions import wkb as W

    rows = []
    for a, parts in areas:
        for rings in parts:
            allc = np.vstack(rings)
            rows.append((str(a), W.wkb_polygon(rings), float(allc[:, 0].min()),
                         float(allc[:, 1].min()), float(allc[:, 0].max()),
                         float(allc[:, 1].max())))
    return pd.DataFrame(rows, columns=["area_key", "part_wkb", "minx", "miny", "maxx", "maxy"])


def pip_points_df(spark, seed: int, n_points: int, partitions: int):
    """points(point_id, lon, lat), uniform over ``PIP_BOX``, drawn in the JVM."""
    from pyspark.sql import functions as F

    x0, y0, x1, y1 = PIP_BOX
    return spark.range(0, n_points, 1, partitions).select(
        F.col("id").alias("point_id"),
        (F.lit(x0) + F.lit(x1 - x0) * F.rand(seed)).alias("lon"),
        (F.lit(y0) + F.lit(y1 - y0) * F.rand(seed + 1)).alias("lat"),
    )
