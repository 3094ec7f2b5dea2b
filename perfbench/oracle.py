"""Brute-force reference assignment for sampled points.

Ray casting against every zone with `geom.kernels`, no cell index: the
smallest tzid wins among zones containing the point; a point inside none
takes the nearest zone within 1852 m (ties to the smallest tzid), else
the ocean band of its longitude. Each zone is tested only against the
points inside its bounding box padded by more than 1852 m, an exact
prefilter.
"""

from __future__ import annotations

import numpy as np

from timezone_boundary_builder_spark.geom.codec import from_geojson
from timezone_boundary_builder_spark.geom.kernels import (
    min_distance_to_boundary_m,
    points_in_packed,
)
from timezone_boundary_builder_spark.operators.spatial_join import KNN_MAX_METERS


def brute_force(zones_pdf, bands: list[dict], lon: np.ndarray, lat: np.ndarray) -> list:
    """-> (tzid, method) per point; method is pip, knn, ocean or none."""
    order = zones_pdf.sort_values("tzid")
    tzids = list(order["tzid"])
    geoms = [from_geojson(g) for g in order["geometry"]]
    pts = np.column_stack([lon, lat])
    has = ~(np.isnan(lon) | np.isnan(lat))
    inside = np.zeros((len(geoms), len(pts)), dtype=bool)
    dist = np.full((len(geoms), len(pts)), np.inf)
    # 0.05 deg of latitude is ~5.5 km; longitude degrees shrink by cos(lat)
    pad_y = 0.05
    pad_x = pad_y / np.maximum(np.cos(np.radians(np.nan_to_num(lat))), 0.01)
    for z, g in enumerate(geoms):
        if g.is_empty():
            continue
        x0, y0 = g.coords.min(axis=0)
        x1, y1 = g.coords.max(axis=0)
        near = has & (lon >= x0 - pad_x) & (lon <= x1 + pad_x) & (lat >= y0 - pad_y) & (lat <= y1 + pad_y)
        if near.any():
            inside[z, near] = points_in_packed(pts[near], g)
            dist[z, near] = min_distance_to_boundary_m(pts[near], g)
    edges = np.array([b["left"] for b in bands] + [bands[-1]["right"]])
    out = []
    for i in range(len(pts)):
        if not has[i]:
            out.append((None, "none"))
        elif inside[:, i].any():
            out.append((tzids[int(np.argmax(inside[:, i]))], "pip"))
        elif dist[:, i].min() <= KNN_MAX_METERS:
            out.append((tzids[int(np.argmin(dist[:, i]))], "knn"))
        else:
            b = int(np.clip(np.searchsorted(edges, lon[i], side="right") - 1, 0, len(bands) - 1))
            out.append((bands[b]["tzid"], "ocean"))
    return out


def mismatches(expected: list, got_tzid: list) -> int:
    """Rows whose engine tzid differs from the brute-force one."""
    return sum(1 for (tz, _), g in zip(expected, got_tzid) if tz != g)
