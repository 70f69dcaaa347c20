"""The workload generator: determinism, isolation of chains, and the
predictions the pipeline checks rely on. No Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import numpy as np

from osmi_water_spark.plans.oracle import run_oracle
from perfbench import checks as K
from perfbench import gen as G


def _bbox(entities):
    pts = [(e["lon"], e["lat"]) for e in entities if e["kind"] == "node"]
    xs, ys = zip(*pts)
    return min(xs), min(ys), max(xs), max(ys)


def test_same_seed_same_inputs():
    assert G.batch_entities(7, 100, 40) == G.batch_entities(7, 100, 40)
    assert G.render_chain(7, 3) == G.render_chain(7, 3)
    a, b = G.pip_areas(7, 50), G.pip_areas(7, 50)
    assert all(x[0] == y[0] and all(np.array_equal(r, s) for p, q in zip(x[1], y[1])
                                    for r, s in zip(p, q)) for x, y in zip(a, b))
    assert G.pip_parts_pdf(a).equals(G.pip_parts_pdf(b))


def test_seed_changes_inputs():
    assert G.batch_entities(1, 0, 40) != G.batch_entities(2, 0, 40)
    specs = {G.chain_spec(1, c) for c in range(400)}
    assert {t for t, _ in specs} == {t for t, _ in G.TEMPLATES}
    assert not np.array_equal(G.pip_areas(1, 5)[0][1][0][0], G.pip_areas(2, 5)[0][1][0][0])


def test_chains_own_disjoint_slots_and_ids():
    seen_ids: set[int] = set()
    for c in list(range(0, 60)) + [G.SLOT_COLS - 1, G.SLOT_COLS, 5 * G.SLOT_COLS + 3]:
        ents = G.chain_entities(11, c)
        ids = {(e["kind"], e["id"]) for e in ents}
        assert not ids & seen_ids
        seen_ids |= ids
        x0, y0, x1, y1 = _bbox(ents)
        col, row = c % G.SLOT_COLS, c // G.SLOT_COLS
        sx, sy = -170.0 + G.SLOT_DEG * col, -80.0 + G.SLOT_DEG * row
        assert sx < x0 and x1 < sx + G.SLOT_DEG and sy < y0 and y1 < sy + G.SLOT_DEG


def test_predictions_match_the_oracle_on_a_batch():
    """Chains do not interact, so the per-template predictions summed over
    a batch equal the oracle run on the whole batch at once."""
    seed, first, n = 3, 500, 120
    whole = G._oracle_counts(G.batch_entities(seed, first, n))
    assert whole == G.expected_counts(seed, first, n)
    assert whole["relations"] > 0 and whole["class.rivermouth"] > 0
    assert whole["class.outflow"] > 0 and whole["class.name"] > 0
    assert G.expected_pages(seed, first, n) == len(G.batch_entities(seed, first, n))


def test_every_template_exercises_its_operator():
    rel = run_oracle(G.template_entities("waterway_rel", False, 0))
    assert len(rel["relations"]) == 1 and len(rel["relations"][0][5]) == 3
    hole = run_oracle(G.template_entities("lake_hole", False, 0))
    assert len(hole["polygons"]) == 1 and len(hole["polygons"][0][5]) == 2
    multi = run_oracle(G.template_entities("multipart", False, 0))
    assert len(multi["polygons"]) == 1 and len(multi["polygons"][0][5]) == 2


def test_pip_holes_lie_inside_their_ring():
    for _, parts in G.pip_areas(24, 3000):
        for rings in parts:
            if len(rings) > 1:
                hx, hy = rings[1][:-1, 0], rings[1][:-1, 1]
                assert K._in_rings(hx, hy, rings[:1]).all()


def test_pip_sample_expected_matches_brute_force():
    areas = G.pip_areas(5, 2000)
    rng = np.random.default_rng(0)
    n = 3000
    ids = np.arange(n, dtype=np.int64) * 1000
    lon = rng.uniform(G.PIP_BOX[0], G.PIP_BOX[2], n)
    lat = rng.uniform(G.PIP_BOX[1], G.PIP_BOX[3], n)
    pairs = [(int(ids[i]), a) for a, parts in areas
             for i in np.flatnonzero(np.any([K._in_rings(lon, lat, r) for r in parts], axis=0))]
    want = K.pip_sample_expected(areas, ids, lon, lat, 8)
    assert want["s_pairs"] == len(pairs) > 0
    assert want["s_point"] == sum(p for p, _ in pairs)
    assert want["s_area"] == sum(a for _, a in pairs)


def test_oracle_rounding_is_the_same_for_numpy_and_python_floats():
    x = -163.6752472015875
    assert K._r(np.float64(x)) == K._r(x)
