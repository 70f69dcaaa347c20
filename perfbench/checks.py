"""Output checks. Each returns a list of mismatch strings (empty = pass).

* ``count_queries`` + ``compare_counts``: per-table row counts and
  per-error-class node counts of a pipeline run, against
  ``gen.expected_counts``.
* ``oracle_parity``: the four output tables, row for row, against
  ``plans.oracle.run_oracle`` on the same entities (small batches only;
  the oracle is superlinear).
* ``pip_signature_aggs`` + ``pip_sample_expected``: the PIP + tile job's output restricted to a seeded
  sample of points, against an independent numpy ray cast.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import gen as G

def count_queries(out: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """One single-row aggregate per output table; their union of columns
    is what ``compare_counts`` reads."""
    nodes = out["nodes"]
    node_aggs = [F.count(F.lit(1)).alias("nodes")]
    node_aggs += [F.sum(F.when(F.col("specific") == k, 1).otherwise(0)).alias("class." + k)
                  for k in ("rivermouth", "outflow")]
    node_aggs += [F.sum(F.when(F.col(f + "_error") == "true", 1).otherwise(0)).alias("class." + f)
                  for f in G.NODE_FLAGS]
    return {
        "ways": out["ways"].agg(F.count(F.lit(1)).alias("ways")),
        "relations": out["relations"].agg(F.count(F.lit(1)).alias("relations")),
        "polygons": out["polygons"].agg(F.count(F.lit(1)).alias("polygons")),
        "nodes": nodes.agg(*node_aggs),
        "tile_validation": out["tile_validation"].agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("tile_validation_n")),
        "tile_assignment": out["tile_assignment"].agg(
            F.countDistinct("table", "feature_id").alias("tile_features")),
    }


def compare_counts(got: dict, expected) -> list[str]:
    keys = ["ways", "relations", "polygons", "nodes", "tile_validation_n", "tile_features"]
    keys += ["class." + k for k in G.NODE_CLASSES]
    return [f"{k}: got {got.get(k)} want {expected.get(k, 0)}"
            for k in keys if int(got.get(k) or 0) != expected.get(k, 0)]


# ---------------- oracle parity ----------------


def _r(x) -> float:
    # float() first: numpy's round (scale, rint, unscale) and Python's
    # correctly rounded one disagree on some last digits
    return round(float(x), 12)


def _coords(arr) -> tuple:
    return tuple((_r(p[0]), _r(p[1])) for p in arr)


def oracle_parity(out: dict[str, DataFrame], entities: list[dict]) -> list[str]:
    from osmi_water_spark.functions import wkb as W
    from osmi_water_spark.plans.oracle import run_oracle

    def rings(buf):
        _, payload = W.parse_wkb(bytes(buf))
        return tuple(sorted(_coords(r) for part in payload for r in part))

    got = {
        "ways": sorted(
            (r.way_id, r.type, r.name, r.firstnode, r.lastnode, r.relation_id, r.lastchange,
             r.construction, r.width_error, _coords(W.parse_wkb(bytes(r.geom_wkb))[1]))
            for r in out["ways"].collect()),
        "relations": sorted(
            (r.relation_id, r.type, r.name, r.lastchange, r.nowaterway_error,
             tuple(_coords(ls) for ls in W.parse_wkb(bytes(r.geom_wkb))[1]))
            for r in out["relations"].collect()),
        "polygons": sorted(
            (r.way_id, r.relation_id, r.type, r.name, r.lastchange, rings(r.geom_wkb))
            for r in out["polygons"].collect()),
        "nodes": sorted(
            (r.node_id, r.specific, r.direction_error, r.name_error, r.type_error,
             r.spring_error, r.end_error, r.way_error, _r(r.lon), _r(r.lat))
            for r in out["nodes"].collect()),
    }
    o = run_oracle(entities)
    want = {
        "ways": sorted(w[:9] + (_coords(w[9]),) for w in o["ways"]),
        "relations": sorted(r[:5] + (tuple(_coords(ls) for ls in r[5]),)
                            for r in o["relations"]),
        "polygons": sorted(p[:5] + (tuple(sorted(_coords(r) for r in p[5])),)
                           for p in o["polygons"]),
        "nodes": sorted(o["nodes"]),
    }
    bad = []
    for t in want:
        if got[t] != want[t]:
            g, w = set(got[t]), set(want[t])
            bad.append(f"{t}: {len(got[t])} rows vs oracle {len(want[t])}, {len(g ^ w)} differ, "
                       f"e.g. engine {str(min(g - w, default=None))[:300]} "
                       f"oracle {str(min(w - g, default=None))[:300]}")
    return bad


# ---------------- pip_tile sample ----------------

TILE_MOD = 1_000_003


def pip_signature_aggs(sample_mod: int) -> list:
    """Aggregates over the PIP + tile output: total pairs, plus a signature
    of the pairs whose point is in the sample (``point_id % sample_mod == 0``)."""
    s = (F.col("point_id") % sample_mod) == 0
    area = F.col("area_key").cast("long")
    terms = {
        "pairs": F.count(F.lit(1)),
        "tile_sum": F.sum(F.col("tile_id") % TILE_MOD),
        "s_pairs": F.sum(F.when(s, 1).otherwise(0)),
        "s_point": F.sum(F.when(s, F.col("point_id")).otherwise(0)),
        "s_area": F.sum(F.when(s, area).otherwise(0)),
        "s_mix": F.sum(F.when(s, (F.col("point_id") % 9973) * (area % 9967)).otherwise(0)),
        "s_tile": F.sum(F.when(s, F.col("tile_id") % TILE_MOD).otherwise(0)),
    }
    return [v.alias(k) for k, v in terms.items()]


def _in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray cast over all rings of one polygon."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        for a, b, c, d in zip(x0, y0, x1, y1):
            cross = (b > py) != (d > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = a + (py - b) * (c - a) / (d - b)
            inside ^= cross & (px < xint)
    return inside


def _tile_ids(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    n = float(1 << z)
    tx = np.floor((lon + 180.0) / 360.0 * n)
    lat_rad = lat * math.pi / 180.0
    ty = np.floor((1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / math.pi) / 2.0 * n)
    lim = (1 << z) - 1
    tx = np.clip(tx, 0, lim).astype(np.int64)
    ty = np.clip(ty, 0, lim).astype(np.int64)
    return (np.int64(z) << 58) + (ty << 29) + tx


def pip_sample_expected(areas, ids: np.ndarray, lon: np.ndarray, lat: np.ndarray,
                        z: int) -> dict[str, int]:
    """The sample signature computed without the engine."""
    order = np.argsort(lon)
    slon, slat, sids = lon[order], lat[order], ids[order]
    pts, ars = [], []
    for a, parts in areas:
        hit = np.zeros(0, dtype=np.int64)
        for rings in parts:
            allc = np.vstack(rings)
            lo, hi = np.searchsorted(slon, [allc[:, 0].min(), allc[:, 0].max()], side="right")
            cand = np.arange(lo, hi)
            cand = cand[(slat[cand] >= allc[:, 1].min()) & (slat[cand] <= allc[:, 1].max())]
            if cand.size:
                hit = np.union1d(hit, cand[_in_rings(slon[cand], slat[cand], rings)])
        pts.append(hit)
        ars.append(np.full(hit.size, a, dtype=np.int64))
    idx = np.concatenate(pts) if pts else np.empty(0, np.int64)
    area = np.concatenate(ars) if ars else np.empty(0, np.int64)
    pid = sids[idx]
    tiles = _tile_ids(slon[idx], slat[idx], z)
    return {
        "s_pairs": int(idx.size),
        "s_point": int(pid.sum()),
        "s_area": int(area.sum()),
        "s_mix": int(((pid % 9973) * (area % 9967)).sum()),
        "s_tile": int((tiles % TILE_MOD).sum()),
    }


def compare_signature(got: dict, want: dict) -> list[str]:
    return [f"{k}: got {got.get(k)} want {v}" for k, v in want.items()
            if int(got.get(k) or 0) != v]
