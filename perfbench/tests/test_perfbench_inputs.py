"""Tests of the benchmark's seeded inputs and of the counts it reports.

    python3 -m pytest perfbench/tests -q

The same seed must give identical inputs and a different seed different
ones. The counts the traced run reports (method mix, cover cells,
broadcast bytes, validate pairs, live tile cells, ...) must repeat
exactly across runs of one seed.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402


def _crawl_like(seed: int) -> pd.DataFrame:
    lon, lat = gen.interior_points(seed, 300, salt=5)
    lon, lat = gen.with_none(seed, lon, lat, 0.10, salt=5)
    return gen.pages_pdf(seed, lon, lat, 21, 8, "t")


def _border_like(seed: int) -> pd.DataFrame:
    lon, lat = gen.border_points(seed, gen.zone_rings(seed), 300, salt=6)
    return gen.pages_pdf(seed, lon, lat, 21, 8, "t")


def _reference(seed: int) -> str:
    return json.dumps(gen.parta_reference(seed), sort_keys=True)


@pytest.mark.parametrize("make", [gen.zones_pdf, _crawl_like, _border_like])
def test_same_seed_same_tables(make):
    assert gen.digest(make(3)) == gen.digest(make(3))
    assert gen.digest(make(3)) != gen.digest(make(4))


def test_same_seed_same_reference_config():
    assert _reference(3) == _reference(3)
    assert _reference(3) != _reference(4)


def test_reference_config_has_the_real_shape():
    ref = gen.parta_reference(5)
    ops = [o["op"] for z in ref["timezones.json"].values() for o in z]
    assert len(ref["timezones.json"]) == gen.N_ZONES
    assert {k: ops.count(k) for k in set(ops)} == {
        "init": 419,
        "union": 12,
        "difference": 9,
        "intersect": 1,
    }
    assert len(ref["osmBoundarySources.json"]) == 411
    bounds = ref["expectedZoneOverlaps.json"]
    assert len(bounds) == 25 and sum(len(b) for b in bounds.values()) == 34


def test_pages_carry_parseable_coordinates():
    """Every generated coordinate is found again by the geocoder's
    pattern, in each of the four formats."""
    import re

    from timezone_boundary_builder_spark.operators.geocode import COORD_RE, PAIR_RE

    pdf = _crawl_like(7)
    pat = re.compile(COORD_RE.replace("(?i)", ""), re.IGNORECASE)
    hits = [pat.search(t) for t in pdf["text"]]
    lon, lat = gen.with_none(7, *gen.interior_points(7, 300, salt=5), 0.10, salt=5)
    for h, x, y in zip(hits, lon, lat):
        if np.isnan(x):
            assert h is None
        else:
            la, lo = re.search(PAIR_RE, h.group(0)).groups()
            assert (float(la), float(lo)) == (y, x)
    forms = ("geo:", "@(", "geo.position", "ICBM")
    seen = {f for h in hits if h for f in forms if f in h.group(0)}
    assert seen == set(forms)


def test_cover_and_method_counts_repeat():
    """Cover cells, broadcast bytes and the method mix are exact functions
    of the seed."""
    from timezone_boundary_builder_spark.operators.cover import (
        auto_cover_res,
        cellmap_from_zones_pdf,
    )
    from timezone_boundary_builder_spark.operators.spatial_join import (
        KNN_MAX_METERS,
        _band_edges,
        assign_codes,
    )
    from timezone_boundary_builder_spark.sources.real_config import real_ocean_bands_pdf

    bands = real_ocean_bands_pdf().to_dict("records")
    zones = gen.zones_pdf(2)
    lon, lat = gen.border_points(2, gen.zone_rings(2), 3000, salt=6)
    seen = []
    for _ in range(2):
        cm = cellmap_from_zones_pdf(zones, max_res=auto_cover_res(zones))
        cells = len(cm.full_cells) + len(cm.bnd_cells)
        nbytes = len(pickle.dumps(cm, protocol=pickle.HIGHEST_PROTOCOL))
        _, m = assign_codes(cm, _band_edges(bands), len(bands), lon, lat, KNN_MAX_METERS)
        seen.append((cells, nbytes, np.bincount(m, minlength=5).tolist()))
    assert seen[0] == seen[1]
    # border inputs exercise every stage-2 path
    assert all(c > 0 for c in seen[0][2][:4])


def test_sql_metric_totals_parse():
    """The SQL metric totals as the status store renders them."""
    from spans import metric_value

    assert metric_value("200,000") == 200_000
    assert metric_value("393.1 KiB") == 393.1 * 1024
    assert metric_value("30 ms") == 0.03
    header = "total (min, med, max (stageId: taskId))\n"
    assert metric_value(header + "10.6 s (2.4 s, 2.7 s, 2.8 s (stage 0.0: task 3))") == 10.6
    assert metric_value(header + "1.5 MiB (391.3 KiB, 391.3 KiB (stage 0.0: task 1))") == 1.5 * 2**20


COUNTS = {
    "crawl_interior": [
        "join.cell_frac",
        "join.pip_frac",
        "join.knn_frac",
        "join.ocean_frac",
        "join.none_frac",
        "geocode.hit_frac",
        "cover.res",
        "cover.cells",
        "cover.broadcast_bytes",
        "join.pip_candidates_per_pt",
        "join.pip_edges_per_pt",
        "join.knn_candidates_per_pt",
        "tiles.live_cells",
        "pages.commit_files",
    ],
    "parta_build": ["validate.pairs", "validate.overlaps", "oceans.land_rows"],
}


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-2000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_traced_counts_repeat(workload):
    """Two traced runs of one seed (each a fresh Spark session, one second
    of timed ops) report the same counts."""
    a, b = _traced(workload, 21), _traced(workload, 21)
    assert {k: a[k] for k in COUNTS[workload]} == {k: b[k] for k in COUNTS[workload]}
    assert all(a[k] > 0 for k in COUNTS[workload] if not k.endswith("_frac"))
