"""Seeded, vectorized input generators.

Every generator takes the seed as an argument and draws from its own
``numpy.random.Generator``; the same seed gives byte-identical inputs. Sizes
are exact (feature counts, total vertex counts, point counts), and the
heavy-tailed and skewed distributions are sampled at stratified quantiles,
so every seed gets the same multiset of feature sizes and radii; seeds
differ in where things are and which feature gets which size. Each
generator returns its inputs together with a ``params`` dict that the run
records in its report.
"""

from __future__ import annotations

import json

import numpy as np


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([int(seed), int(stream)]))


def _exact_total(weights: np.ndarray, total: int, floor: int) -> np.ndarray:
    """Integer counts >= floor, proportional to weights, summing to total."""
    spare = total - floor * len(weights)
    if spare < 0:
        raise ValueError("total too small for the per-item floor")
    raw = weights / weights.sum() * spare
    counts = np.floor(raw).astype(np.int64)
    short = spare - int(counts.sum())
    counts[np.argsort(raw - counts)[::-1][:short]] += 1
    return counts + floor


def _strata(rng, n: int) -> np.ndarray:
    """n stratified uniform quantiles in (0, 1), in a seeded random order."""
    return rng.permutation((np.arange(n) + 0.5) / n)


def _centers(rng, n: int, hotspots: int, hot_share: float, hot_sigma_deg: float):
    """Spatially skewed lon/lat centers: `hot_share` of them Gaussian around
    hotspots placed on a jittered lattice (so every seed spreads them over
    the globe alike), equally many per hotspot, the rest uniform. Latitudes
    stay in [-75, 75]."""
    lattice_lon = np.linspace(-150, 150, hotspots)
    lattice_lat = np.tile([-40.0, -15.0, 15.0, 40.0], hotspots // 4 + 1)[:hotspots]
    hot_lon = lattice_lon + rng.uniform(-3, 3, hotspots)
    hot_lat = lattice_lat + rng.uniform(-3, 3, hotspots)
    n_hot = int(round(n * hot_share))
    which = np.arange(n_hot) % hotspots
    lon = np.empty(n)
    lat = np.empty(n)
    lon[:n_hot] = hot_lon[which] + rng.normal(0, hot_sigma_deg, n_hot)
    lat[:n_hot] = hot_lat[which] + rng.normal(0, hot_sigma_deg, n_hot)
    lon[n_hot:] = rng.uniform(-179, 179, n - n_hot)
    lat[n_hot:] = rng.uniform(-70, 70, n - n_hot)
    perm = rng.permutation(n)
    return np.clip(lon[perm], -179.5, 179.5), np.clip(lat[perm], -75, 75)


def tiling_corpus(
    seed: int,
    n_features: int,
    total_vertices: int,
    line_share: float = 0.3,
    hole_share: float = 0.3,
    tail_alpha: float = 1.3,
    tail_cap: float = 60.0,
    hotspots: int = 16,
    hot_share: float = 0.7,
    hot_sigma_deg: float = 2.0,
    id_base: int = 0,
):
    """Polygons (some with a hole) and lines with a heavy-tailed (Pareto)
    vertex count, spatially skewed. Returns (list of GeoJSON Feature JSON
    strings, params). Feature ids are id_base + i; property `i` mirrors it.

    Polygons are star-shaped around their center with radii in [0.6r, r];
    a hole is the same construction scaled into [0.15r, 0.3r], so every
    ring is simple and every hole lies inside its shell."""
    rng = _rng(seed, 1)
    n = n_features
    kind = _strata(rng, n)
    is_line = kind < line_share
    has_hole = (kind >= line_share) & (kind < line_share + hole_share * (1 - line_share))
    # Pareto(alpha) quantiles, capped at tail_cap times the smallest
    weights = np.minimum((1.0 - _strata(rng, n)) ** (-1.0 / tail_alpha), tail_cap)
    # closed rings need >= 4 positions (3 distinct + closing), lines >= 2;
    # a hole costs 8 fixed positions on top of its shell
    counts = _exact_total(weights, total_vertices - 8 * int(has_hole.sum()), 4)
    lon, lat = _centers(rng, n, hotspots, hot_share, hot_sigma_deg)
    radius = np.exp(np.log(0.02) + _strata(rng, n) * np.log(0.6 / 0.02))
    feats = []
    for i in range(n):
        m = int(counts[i])
        if is_line[i]:
            steps = rng.normal(0, radius[i] / np.sqrt(m), (m, 2))
            xy = np.cumsum(steps, axis=0) + (lon[i], lat[i])
            xy[:, 1] = np.clip(xy[:, 1], -80, 80)
            geom = {"type": "LineString", "coordinates": np.round(xy, 6).tolist()}
        else:
            rings = [_star_ring(rng, lon[i], lat[i], radius[i], m - 1, 0.6, 1.0)]
            if has_hole[i]:
                rings.append(_star_ring(rng, lon[i], lat[i], radius[i], 7, 0.15, 0.3)[::-1])
            geom = {"type": "Polygon", "coordinates": rings}
        fid = id_base + i
        feats.append(json.dumps(
            {"type": "Feature", "id": fid, "properties": {"i": fid}, "geometry": geom}
        ))
    params = {
        "seed": seed, "n_features": n, "total_vertices": int(total_vertices),
        "lines": int(is_line.sum()), "polygons_with_hole": int(has_hole.sum()),
        "max_feature_vertices": int(counts.max()), "tail_alpha": tail_alpha, "tail_cap": tail_cap,
        "hotspots": hotspots, "hot_share": hot_share, "hot_sigma_deg": hot_sigma_deg,
    }
    return feats, params


def _star_ring(rng, cx, cy, r, m, lo, hi):
    """Closed star-shaped ring of m distinct vertices (+1 closing)."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, m))
    rad = r * rng.uniform(lo, hi, m)
    x = cx + rad * np.cos(ang)
    y = np.clip(cy + rad * np.sin(ang), -80, 80)
    ring = np.round(np.stack([x, y], axis=1), 6)
    return np.vstack([ring, ring[:1]]).tolist()


def edit_diff(seed: int, live_ids: list, per_kind: int, id_base: int):
    """One source diff for the live edit session: removes `per_kind` live
    ids, adds a property to `per_kind` other live ids, and adds `per_kind`
    new small polygons with ids from id_base. Returns (diff dict, params)."""
    rng = _rng(seed, 2)
    picks = rng.choice(len(live_ids), 2 * per_kind, replace=False)
    adds, _ = tiling_corpus(seed, per_kind, 24 * per_kind, line_share=0.0,
                            hole_share=0.0, id_base=id_base)
    diff = {
        "remove": [live_ids[j] for j in picks[:per_kind]],
        "update": [{"id": live_ids[j], "addOrUpdateProperties": [{"key": "edit", "value": 0}]}
                   for j in picks[per_kind:]],
        "add": [json.loads(a) for a in adds],
    }
    return diff, {"per_kind": per_kind}


def clustered_points(rng, n: int, clusters: int, sigma: float, background: float):
    """Points in the unit square: `1 - background` of them Gaussian around
    cluster centers, the rest uniform."""
    cx = rng.uniform(0.1, 0.9, clusters)
    cy = rng.uniform(0.1, 0.9, clusters)
    n_bg = int(round(n * background))
    which = rng.integers(0, clusters, n - n_bg)
    x = np.concatenate([cx[which] + rng.normal(0, sigma, n - n_bg), rng.random(n_bg)])
    y = np.concatenate([cy[which] + rng.normal(0, sigma, n - n_bg), rng.random(n_bg)])
    perm = rng.permutation(n)
    return np.clip(x[perm], 0.0, 1.0), np.clip(y[perm], 0.0, 1.0)


def point_suite(
    seed: int,
    n_a: int,
    n_b: int,
    n_boxes: int,
    n_polys: int,
    poly_vertices: int = 24,
    clusters: int = 12,
    sigma: float = 0.04,
    background: float = 0.3,
):
    """Inputs for the point-analytics suite, as pandas frames:
    a (a_id, x, y), b (b_id, x, y) — clustered points in the unit square;
    boxes (box_id, minx, miny, maxx, maxy); polygons (poly_id, xs, ys,
    minx, miny, maxx, maxy) — star-shaped, so simple; ga / gb (a_id|b_id,
    lat, lng) — the same points mapped to degrees for the geodesic kNN."""
    import pandas as pd

    rng = _rng(seed, 3)
    ax, ay = clustered_points(rng, n_a, clusters, sigma, background)
    bx, by = clustered_points(rng, n_b, clusters, sigma, background)
    a = pd.DataFrame({"a_id": np.arange(n_a, dtype=np.int64), "x": ax, "y": ay})
    b = pd.DataFrame({"b_id": np.arange(n_b, dtype=np.int64), "x": bx, "y": by})

    cx = rng.uniform(0.05, 0.95, n_boxes)
    cy = rng.uniform(0.05, 0.95, n_boxes)
    w = rng.uniform(0.01, 0.08, n_boxes)
    h = rng.uniform(0.01, 0.08, n_boxes)
    boxes = pd.DataFrame({
        "box_id": np.arange(n_boxes, dtype=np.int64),
        "minx": cx - w, "miny": cy - h, "maxx": cx + w, "maxy": cy + h,
    })

    pcx = rng.uniform(0.05, 0.95, n_polys)
    pcy = rng.uniform(0.05, 0.95, n_polys)
    pr = rng.uniform(0.01, 0.06, n_polys)
    ang = np.sort(rng.uniform(0, 2 * np.pi, (n_polys, poly_vertices)), axis=1)
    rad = pr[:, None] * rng.uniform(0.5, 1.0, (n_polys, poly_vertices))
    xs = pcx[:, None] + rad * np.cos(ang)
    ys = pcy[:, None] + rad * np.sin(ang)
    polys = pd.DataFrame({
        "poly_id": np.arange(n_polys, dtype=np.int64),
        "xs": list(xs), "ys": list(ys),
        "minx": xs.min(axis=1), "miny": ys.min(axis=1),
        "maxx": xs.max(axis=1), "maxy": ys.max(axis=1),
    })

    # unit square -> lng [-170, 170], lat [-60, 60]
    ga = pd.DataFrame({"a_id": a.a_id, "lat": ay * 120 - 60, "lng": ax * 340 - 170})
    gb = pd.DataFrame({"b_id": b.b_id, "lat": by * 120 - 60, "lng": bx * 340 - 170})
    params = {
        "seed": seed, "n_a": n_a, "n_b": n_b, "n_boxes": n_boxes,
        "n_polys": n_polys, "poly_vertices": poly_vertices,
        "clusters": clusters, "sigma": sigma, "background": background,
    }
    return {"a": a, "b": b, "boxes": boxes, "polys": polys, "ga": ga, "gb": gb}, params


def zipf_keys(seed: int, keys_by_zoom: dict, n: int, s: float = 1.2):
    """n tile keys, Zipf-skewed twice: the share of keys per zoom follows a
    Zipf law over the zooms present (shallow zooms hottest) and is fixed
    exactly, so every seed reads the same zoom mix; within a zoom, keys are
    drawn Zipf over a seeded shuffle of that zoom's keys — a few hot keys
    per zoom and a long tail. Returned in a seeded random order."""
    rng = _rng(seed, 4)
    zooms = sorted(keys_by_zoom)
    zw = 1.0 / np.arange(1, len(zooms) + 1) ** s
    per_zoom = _exact_total(zw, n, 0)
    out = []
    for z, count in zip(zooms, per_zoom):
        ks = keys_by_zoom[z]
        kw = 1.0 / np.arange(1, len(ks) + 1) ** s
        order = rng.permutation(len(ks))
        for j in rng.choice(len(ks), int(count), p=kw / kw.sum()):
            out.append(tuple(int(v) for v in ks[order[j]]))
    return [out[i] for i in rng.permutation(len(out))]
