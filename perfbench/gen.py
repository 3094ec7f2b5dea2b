"""Seeded input generators for the benchmark.

Everything a workload reads is derived from its seed here: the detailed
zone world the assignment workloads serve, the pages snapshots, the
crawl segments of the append workload and the reference-shaped Part A
config. The same seed always yields byte-identical inputs; the program
under test only ever sees the generated tables.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- zones

N_ZONES = 419
RING_VERTICES = 320
# zone grid: one star-shaped zone per cell, ocean gaps between cells
GRID_COLS, GRID_ROWS = 24, 18
GRID_X = (-168.0, 168.0)
GRID_Y = (-58.0, 68.0)
# ring radius as a fraction of the half cell, before wiggle; the wiggle
# amplitudes below keep every ring between R_MIN and R_MAX
R_BASE, R_MIN, R_MAX = 0.78, 0.52, 0.97
# points inside this fraction of the half cell are deep in their zone
R_DEEP = 0.45
WIGGLE_FREQS = np.array([3, 5, 9, 17, 31])


def _cell_center(k: int) -> tuple[float, float, float, float]:
    cw = (GRID_X[1] - GRID_X[0]) / GRID_COLS
    ch = (GRID_Y[1] - GRID_Y[0]) / GRID_ROWS
    i, j = k % GRID_COLS, k // GRID_COLS
    return GRID_X[0] + (i + 0.5) * cw, GRID_Y[0] + (j + 0.5) * ch, cw / 2, ch / 2


def zone_rings(seed: int) -> list[np.ndarray]:
    """One open ring (first vertex not repeated) per zone,
    float64[RING_VERTICES, 2], snapped to the 1e-6 grid."""
    rng = np.random.default_rng([seed, 1])
    th = np.linspace(0.0, 2.0 * np.pi, RING_VERTICES, endpoint=False)
    rings = []
    for k in range(N_ZONES):
        cx, cy, hw, hh = _cell_center(k)
        amp = rng.uniform(0.02, 0.07, len(WIGGLE_FREQS))
        ph = rng.uniform(0.0, 2.0 * np.pi, len(WIGGLE_FREQS))
        r = R_BASE + (amp[:, None] * np.sin(WIGGLE_FREQS[:, None] * th + ph[:, None])).sum(0)
        r = np.clip(r, R_MIN, R_MAX)
        xs = np.round(cx + hw * r * np.cos(th), 6)
        ys = np.round(cy + hh * r * np.sin(th), 6)
        rings.append(np.column_stack([xs, ys]))
    return rings


def zones_pdf(seed: int) -> pd.DataFrame:
    """(tzid, geometry) — the served zone artifact."""
    rows = []
    for k, ring in enumerate(zone_rings(seed)):
        closed = np.vstack([ring, ring[:1]]).tolist()
        gj = json.dumps({"type": "Polygon", "coordinates": [closed]}, separators=(",", ":"))
        rows.append({"tzid": f"Bench/Z{k:03d}", "geometry": gj})
    return pd.DataFrame(rows)


# --------------------------------------------------------------- points


def _fmt(v: np.ndarray) -> np.ndarray:
    return np.char.mod("%.6f", v)


def interior_points(seed: int, n: int, salt: int) -> tuple[np.ndarray, np.ndarray]:
    """Points deep inside random zones (inside the R_DEEP ellipse)."""
    rng = np.random.default_rng([seed, salt])
    k = rng.integers(0, N_ZONES, n)
    cx, cy, hw, hh = np.array([_cell_center(int(i)) for i in range(N_ZONES)]).T
    a = rng.uniform(0.0, 2.0 * np.pi, n)
    r = R_DEEP * np.sqrt(rng.uniform(0.0, 1.0, n))
    lon = cx[k] + hw[k] * r * np.cos(a)
    lat = cy[k] + hh[k] * r * np.sin(a)
    return np.round(lon, 6), np.round(lat, 6)


def border_points(
    seed: int, rings: list[np.ndarray], n: int, salt: int
) -> tuple[np.ndarray, np.ndarray]:
    """Three kinds in equal thirds: near a zone boundary (within ~0.3 deg
    either side, i.e. inside one cover cell), offshore within 1852 m of a
    ring (kNN), and deep ocean far from every zone."""
    rng = np.random.default_rng([seed, salt])
    kind = rng.integers(0, 3, n)
    lon = np.empty(n)
    lat = np.empty(n)
    # a random ring vertex and the outward normal of its cell ellipse
    k = rng.integers(0, N_ZONES, n)
    v = rng.integers(0, RING_VERTICES, n)
    base = np.array([rings[int(z)][int(i)] for z, i in zip(k, v)])
    cxy = np.array([_cell_center(int(z))[:2] for z in k])
    d = base - cxy
    d /= np.linalg.norm(d, axis=1, keepdims=True)
    # boundary band: +-0.3 deg along the normal
    near = kind == 0
    off = rng.uniform(-0.3, 0.3, n)
    lon[near] = base[near, 0] + off[near] * d[near, 0]
    lat[near] = base[near, 1] + off[near] * d[near, 1]
    # offshore: 300-900 m outward from a vertex (vertex spacing keeps the
    # true distance to the ring well under the 1852 m rule)
    shore = kind == 1
    dist_deg = rng.uniform(300.0, 900.0, n) / 111_320.0
    lon[shore] = base[shore, 0] + dist_deg[shore] * d[shore, 0]
    lat[shore] = base[shore, 1] + dist_deg[shore] * d[shore, 1]
    # deep ocean: south of every zone, or the polar north
    deep = kind == 2
    south = rng.random(n) < 0.5
    lon[deep] = rng.uniform(-179.0, 179.0, n)[deep]
    lat[deep] = np.where(south, rng.uniform(-85.0, -62.0, n), rng.uniform(74.0, 88.0, n))[deep]
    return np.round(lon, 6), np.round(lat, 6)


# ---------------------------------------------------------------- pages

_WORDS = np.array(
    (
        "the of and to in is was for on that with as by at from his an were "
        "are which this be or has had not first one their its new after who "
        "they have her she two been other when there all during into school "
        "time may years more most only over city some world would where later "
        "up such used many can state about national out known university "
        "united then made between river harbor market council station"
    ).split()
)


def _paragraphs(rng, count: int, words: tuple[int, int]) -> list[str]:
    lens = rng.integers(words[0], words[1], count)
    picks = rng.integers(0, len(_WORDS), int(lens.sum()))
    out, s = [], 0
    for L in lens:
        out.append(" ".join(_WORDS[picks[s : s + L]]))
        s += L
    return out


def _coord_strings(rng, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Each coordinate in one of the four geocode formats."""
    fmt = rng.integers(0, 4, len(lon))
    la, lo = _fmt(lat), _fmt(lon)
    geo = np.char.add(np.char.add(np.char.add("geo:", la), ","), lo)
    at = np.char.add(np.char.add(np.char.add(np.char.add("@(", la), ", "), lo), ")")
    gp = np.char.add(
        np.char.add(np.char.add(np.char.add('<meta name="geo.position" content="', la), ";"), lo),
        '">',
    )
    icbm = np.char.add(
        np.char.add(np.char.add(np.char.add('<meta name="ICBM" content="', la), ", "), lo), '">'
    )
    return np.select([fmt == 0, fmt == 1, fmt == 2], [geo, at, gp], icbm)


def pages_pdf(
    seed: int, lon: np.ndarray, lat: np.ndarray, salt: int, n_days: int, url_prefix: str
) -> pd.DataFrame:
    """Common-Crawl-like pages around the given coordinates (NaN = the page
    carries none): ~2 KB of text each, the coordinate at a varied depth."""
    n = len(lon)
    rng = np.random.default_rng([seed, salt, 7])
    has = ~np.isnan(lon)
    coords = np.full(n, "", dtype=object)
    coords[has] = _coord_strings(rng, lon[has], lat[has]).astype(object)
    pool = _paragraphs(rng, 512, (30, 90))
    lens = np.array([len(p) for p in pool])
    text = []
    for i in range(n):
        # paragraphs until ~2 KB; the coordinate goes after a random one
        idx = rng.integers(0, len(pool), 10)
        keep = np.searchsorted(np.cumsum(lens[idx]), 2048) + 1
        parts = [pool[j] for j in idx[:keep]]
        if has[i]:
            parts.insert(int(rng.integers(0, len(parts) + 1)), coords[i])
        text.append("\n".join(parts))
    day = rng.integers(0, n_days, n)
    secs = rng.integers(0, 86_400, n)
    ts = pd.Timestamp("2026-03-01") + pd.to_timedelta(day * 86_400 + secs, unit="s")
    return pd.DataFrame(
        {
            "url": [f"https://{url_prefix}.example/{seed}/{i:08d}" for i in range(n)],
            "warc_ts": ts,
            "html": [None] * n,
            "text": text,
            "lang": np.asarray(["en", "de", "fr", "es", "ja"])[rng.integers(0, 5, n)],
        }
    )


def write_pages_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write generated pages as one parquet file in the pages table's
    schema (microsecond UTC timestamps, binary html)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    ts = pdf["warc_ts"].dt.tz_localize("UTC")
    table = pa.Table.from_pandas(pdf.assign(warc_ts=ts), schema=schema, preserve_index=False)
    pq.write_table(table, path)


def with_none(seed: int, lon, lat, frac: float, salt: int):
    """Blank out `frac` of the coordinates (pages that carry none)."""
    rng = np.random.default_rng([seed, salt, 3])
    none = rng.random(len(lon)) < frac
    lon = lon.astype(np.float64).copy()
    lat = lat.astype(np.float64).copy()
    lon[none] = np.nan
    lat[none] = np.nan
    return lon, lat


# ------------------------------------------------------ Part A config


def _box(x0, y0, x1, y1) -> list:
    return [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]


def parta_reference(seed: int) -> dict[str, dict]:
    """A synthetic reference config with the real one's shape, as the three
    JSON documents `sources.real_config` loads: 419 zones (419 init, 12
    union, 9 difference, 1 intersect ops), 411 overpass sources and 25
    allowed-overlap pairs carrying 34 bounds. Geometry placement is left
    to `real_config`, as for the real files; the layout here follows its
    grid (sources land on 10x6-degree cells in sorted-id order) so that
    each allowed pair is two grid neighbours with their bound in the gap
    between them, exclaves sit just above their zone, and the polar
    strips and the intersect triangle lie south of the grid."""
    from timezone_boundary_builder_spark.sources.real_config import (
        CELL_H,
        CELL_MARGIN,
        CELL_W,
        GRID_LAT,
        GRID_LON,
    )

    rng = np.random.default_rng([seed, 11])
    names = [f"Bench/P{k:03d}" for k in rng.permutation(N_ZONES)]
    name = iter(names)
    n_grid = N_ZONES - 10 - 9 - 1  # polar strips, diff children, intersect
    cols = int((GRID_LON[1] - GRID_LON[0]) // CELL_W)
    cell_zone = [next(name) for _ in range(n_grid)]
    src = {f"src-g{c:03d}": {"timezone": f"tz-g{c}"} for c in range(n_grid)}
    tz: dict[str, list] = {
        z: [{"op": "init", "source": "overpass", "id": f"src-g{c:03d}"}]
        for c, z in enumerate(cell_zone)
    }

    def cell_x0(c: int) -> float:
        return GRID_LON[0] + CELL_W * (c % cols)

    def cell_y0(c: int) -> float:
        return GRID_LAT[1] - CELL_H * (c // cols + 1)

    # 10 manual-polygon inits: polar strips with gaps between them
    for k in range(10):
        x0 = -180.0 + 36.0 * k + 0.25
        tz[next(name)] = [
            {
                "op": "init",
                "source": "manual-polygon",
                "data": _box(x0, -85.0, x0 + 35.5, -72.0),
                "description": f"polar strip {k}",
            }
        ]
    # 9 differences: a second-row parent subtracts a child zone's init
    # source (real_config nests the child inside the parent's box)
    for k, c in enumerate(sorted(rng.choice(cols, 9, replace=False))):
        child = next(name)
        src[f"src-h{k:03d}"] = {"timezone": f"tz-h{k}"}
        tz[child] = [{"op": "init", "source": "overpass", "id": f"src-h{k:03d}"}]
        tz[cell_zone[cols + int(c)]].append(
            {"op": "difference", "source": "overpass", "id": f"src-h{k:03d}"}
        )
    # 1 intersect with a manual triangle south of the grid
    tx = float(np.round(rng.uniform(60.0, 120.0), 3))
    src["src-i000"] = {"timezone": "tz-i"}
    tz[next(name)] = [
        {"op": "init", "source": "overpass", "id": "src-i000"},
        {
            "op": "intersect",
            "source": "manual-polygon",
            "data": [[[tx, -66.0], [tx + 10.0, -66.0], [tx + 5.0, -58.0], [tx, -66.0]]],
            "description": "intersect triangle",
        },
    ]
    # 8 manual-polygon unions: exclaves just above top-row zones
    for k, c in enumerate(sorted(rng.choice(cols, 8, replace=False))):
        x0 = cell_x0(int(c)) + 2.0
        tz[cell_zone[int(c)]].append(
            {
                "op": "union",
                "source": "manual-polygon",
                "data": _box(x0, 80.0, x0 + 6.0, 83.0),
                "description": f"exclave {k}",
            }
        )
    # 25 allowed-overlap pairs of horizontal neighbours (rows 2..), the
    # bound in the gap between their boxes (a box spans [x0+2, x0+8] of
    # its cell; the bound keeps 1 degree clear of both, more than
    # real_config's reserve pad); the first two pairs also share a
    # disputed source (4 more unions, 12 in all)
    rows = (n_grid // cols) - 2
    margin = CELL_H * CELL_MARGIN  # a grid box's inset from its cell
    slots = rng.choice(rows * (cols // 2), 25, replace=False)
    overlaps: dict[str, list] = {}
    for i, s in enumerate(slots):
        c = (2 + int(s) // (cols // 2)) * cols + 2 * (int(s) % (cols // 2))
        a, b = cell_zone[c], cell_zone[c + 1]
        x0, y0 = cell_x0(c), cell_y0(c)
        bounds = [
            {
                "bounds": [x0 + 9.0, y0 + margin, x0 + 11.0, y0 + CELL_H - margin],
                "description": f"allowed overlap {i}",
            }
        ]
        if i < 9:  # 34 bounds in all
            bx = -170.0 + 38.0 * i
            bounds.append(
                {
                    "bounds": [bx, 85.0, bx + 30.0, 88.0],
                    "description": f"second allowed bound {i}",
                }
            )
        overlaps[f"{a}-{b}"] = bounds
        if i < 2:
            src[f"src-s{i:03d}"] = {"boundary": f"disputed-{i}"}
            for z in (a, b):
                tz[z].append({"op": "union", "source": "overpass", "id": f"src-s{i:03d}"})
    return {
        "timezones.json": tz,
        "osmBoundarySources.json": src,
        "expectedZoneOverlaps.json": overlaps,
    }


def write_reference(seed: int, ref_dir: str) -> None:
    os.makedirs(ref_dir, exist_ok=True)
    for name, doc in parta_reference(seed).items():
        with open(os.path.join(ref_dir, name), "w") as f:
            json.dump(doc, f, sort_keys=True)


def digest(*frames: pd.DataFrame) -> str:
    """Content hash of generated tables (the generator tests compare it)."""
    h = hashlib.sha256()
    for df in frames:
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()
