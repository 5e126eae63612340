"""Output checks that do not trust the code under test.

Join counts and kNN answers are recomputed by DuckDB from the generated
inputs; tile-store reads are compared with the store's parquet files as
DuckDB reads them. Nothing here calls into the library.
"""

from __future__ import annotations

import json

import duckdb
import numpy as np


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def box_join_count(a, boxes) -> int:
    con = _con()
    con.register("a", a)
    con.register("boxes", boxes)
    return con.execute(
        "SELECT count(*) FROM a JOIN boxes b ON a.x BETWEEN b.minx AND b.maxx "
        "AND a.y BETWEEN b.miny AND b.maxy"
    ).fetchone()[0]


def pip_join_count(a, polys) -> int:
    """Even-odd ray casting with half-open edges (PNPOLY), over the
    polygons whose closed bbox holds the point."""
    edges = []
    for pid, xs, ys in zip(polys["poly_id"], polys["xs"], polys["ys"]):
        xs = np.asarray(xs)
        ys = np.asarray(ys)
        edges.append(np.stack([np.full(len(xs), pid), xs, ys, np.roll(xs, 1), np.roll(ys, 1)], 1))
    import pandas as pd

    e = pd.DataFrame(np.concatenate(edges), columns=["poly_id", "vx", "vy", "px", "py"])
    e["poly_id"] = e.poly_id.astype(np.int64)
    con = _con()
    con.register("a", a)
    con.register("p", polys[["poly_id", "minx", "miny", "maxx", "maxy"]])
    con.register("e", e)
    return con.execute(
        """
        SELECT count(*) FROM (
          SELECT a.a_id, p.poly_id
          FROM a JOIN p ON a.x BETWEEN p.minx AND p.maxx AND a.y BETWEEN p.miny AND p.maxy
          JOIN e ON e.poly_id = p.poly_id
          WHERE (e.vy > a.y) != (e.py > a.y)
            AND a.x < (e.px - e.vx) * (a.y - e.vy) / (e.py - e.vy) + e.vx
          GROUP BY a.a_id, p.poly_id
          HAVING count(*) % 2 = 1)
        """
    ).fetchone()[0]


def knn_top(a_sample, b, k: int) -> dict:
    """{a_id: [(dist, b_id), ...]} planar squared distance, (dist, b_id)
    order, for the sampled a-points."""
    con = _con()
    con.register("sa", a_sample)
    con.register("b", b)
    rows = con.execute(
        f"""
        SELECT a_id, b_id, d FROM (
          SELECT sa.a_id, b.b_id,
                 (sa.x - b.x) * (sa.x - b.x) + (sa.y - b.y) * (sa.y - b.y) AS d
          FROM sa CROSS JOIN b)
        QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY d, b_id) <= {k}
        ORDER BY a_id, d, b_id
        """
    ).fetchall()
    out: dict = {}
    for a_id, b_id, d in rows:
        out.setdefault(int(a_id), []).append((d, int(b_id)))
    return out


def geo_knn_top(ga_sample, gb, k: int) -> dict:
    """{a_id: [(dist_km, b_id), ...]} haversine on a 6371.0088 km sphere,
    rounded to 1e-6 km, (dist, b_id) order."""
    con = _con()
    con.register("sa", ga_sample)
    con.register("gb", gb)
    rows = con.execute(
        f"""
        SELECT a_id, b_id, d FROM (
          SELECT sa.a_id, gb.b_id,
            round(2 * 6371.0088 * asin(sqrt(
              pow(sin(radians(gb.lat - sa.lat) / 2), 2)
              + cos(radians(sa.lat)) * cos(radians(gb.lat))
                * pow(sin(radians(gb.lng - sa.lng) / 2), 2))), 6) AS d
          FROM sa CROSS JOIN gb)
        QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY d, b_id) <= {k}
        ORDER BY a_id, d, b_id
        """
    ).fetchall()
    out: dict = {}
    for a_id, b_id, d in rows:
        out.setdefault(int(a_id), []).append((d, int(b_id)))
    return out


def compare_knn(oracle: dict, got: dict, tol: float) -> list:
    """Mismatch messages. `got` is {a_id: [(dist, b_id), ...]} in rank
    order. Distances must agree within tol at every rank; ids must agree
    except among candidates tied (within tol) with the kth distance."""
    bad = []
    for a_id, want in oracle.items():
        have = got.get(a_id, [])
        if len(have) != len(want):
            bad.append(f"a_id {a_id}: {len(have)} neighbours, want {len(want)}")
            continue
        if any(abs(h[0] - w[0]) > tol for h, w in zip(have, want)):
            bad.append(f"a_id {a_id}: distances {have} != {want}")
            continue
        kth = want[-1][0]
        firm_want = {b for d, b in want if d < kth - tol}
        firm_have = {b for d, b in have if d < kth - tol}
        if firm_want != firm_have:
            bad.append(f"a_id {a_id}: ids {have} != {want}")
    return bad


class StoreOracle:
    """A written tile store as DuckDB reads its parquet files."""

    def __init__(self, path: str):
        con = _con()
        tiles = con.execute(
            f"SELECT z, x, y, okey, tf_type, tf_id, tf_tags, tf_geom "
            f"FROM read_parquet('{path}/tiles/*/*.parquet', hive_partitioning = true)"
        ).fetchall()
        reg = con.execute(
            f"SELECT z, x, y, num_points FROM read_parquet('{path}/registry/*/*.parquet', "
            f"hive_partitioning = true)"
        ).fetchall()
        # tile key -> source vertices in the tile
        self.registry = {(int(z), int(x), int(y)): int(n) for z, x, y, n in reg}
        by_key: dict = {}
        for z, x, y, okey, t, fid, tags, geom in tiles:
            by_key.setdefault((int(z), int(x), int(y)), []).append((list(okey), t, fid, tags, geom))
        self.tiles = {}
        for key, rows in by_key.items():
            rows.sort(key=lambda r: r[0])
            self.tiles[key] = [_canon_row(r) for r in rows]

    def heaviest(self, z: int, n: int) -> list:
        """The n keys of zoom z holding the most source vertices, each under
        a different parent tile."""
        keys = sorted((k for k in self.registry if k[0] == z),
                      key=lambda k: (-self.registry[k], k))
        out, parents = [], set()
        for k in keys:
            if (k[1] >> 1, k[2] >> 1) not in parents:
                parents.add((k[1] >> 1, k[2] >> 1))
                out.append(k)
        return out[:n]

    def keys_by_zoom(self) -> dict:
        out: dict = {}
        for z, x, y in sorted(self.registry):
            out.setdefault(z, []).append((z, x, y))
        return out

    def expected(self, key):
        if key in self.tiles:
            return self.tiles[key]
        return [] if key in self.registry else None


def _canon_row(r) -> str:
    _okey, t, fid, tags, geom = r
    return json.dumps(
        [int(t), json.loads(geom), None if tags is None else json.loads(tags),
         None if fid is None else json.loads(fid)],
        sort_keys=True,
    )


def canon_features(features):
    """Tile features as returned by a get_tile call, in the oracle's form."""
    if features is None:
        return None
    return [
        json.dumps([f["type"], f["geometry"], f["tags"], f.get("id")], sort_keys=True)
        for f in features
    ]
