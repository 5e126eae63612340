"""The workloads, built from three phases: pyramid_build, tile_serve and
point_analytics.

Each runs as one closed-loop client: the next call is made only after the
previous one returned. A phase has four steps:

  1. inputs   — generated from the seed, handed to Spark as DataFrames and
                materialized (untimed);
  2. set-up   — the program's own once-per-session work, made several
                times; the median counts;
  3. ops      — untimed warm-up ops, then the timed ops; the op counts are
                fixed per size, never set by the clock;
  4. checks   — output checks, after each op's timer stopped.

Library calls are made through module attributes (``pyramid.build_pyramid``
rather than an imported name) so that the traced run's wrappers see them.
"""

from __future__ import annotations

import gc
import json
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

import gen
import oracles

# Input sizes. `full` is what the benchmark measures; `tiny` is for the
# smoke test. The pyramid corpus is sized so the root tile holds more than
# the one-shot budget of 200k vertices (plans/pyramid.py,
# SPARK_GRAFT_ONE_SHOT_MAX_POINTS default), so bulk builds run the
# per-level loop, head fusion and the subtree kernels. Warm-up counts: the
# first build runs 30-50% and the second 5-20% slower than the third, and
# get_tile keeps speeding up over its first few dozen calls.
SIZES = {
    "full": {
        "pyramid": {"features": 1200, "vertices": 205_000, "warmup_builds": 2, "builds": 1,
                    "setup_reps": 3},
        "serve": {"features": 300, "vertices": 8_000, "reads": 100, "warmup_reads": 40,
                  "viewports": 8, "viewport_keys": 20, "edits": 5, "setup_reps": 3},
        "points": {"n_a": 3000, "n_b": 600, "boxes": 200, "polys": 100, "k": 3,
                   "cluster_zoom": 10, "knn_res": 4, "geo_radius_km": 800.0,
                   "passes": 1, "knn_sample": 100},
    },
    "tiny": {
        "pyramid": {"features": 60, "vertices": 2000, "warmup_builds": 1, "builds": 2,
                    "setup_reps": 2},
        "serve": {"features": 60, "vertices": 1500, "reads": 12, "warmup_reads": 2,
                  "viewports": 2, "viewport_keys": 6, "edits": 2, "setup_reps": 2},
        "points": {"n_a": 400, "n_b": 100, "boxes": 20, "polys": 10, "k": 3,
                   "cluster_zoom": 6, "knn_res": 3, "geo_radius_km": 2000.0,
                   "passes": 1, "knn_sample": 20},
    },
}

# bulk builds: every zoom down to z14 is indexed (the reference bench shape)
BULK = dict(max_zoom=14, index_max_zoom=14, index_max_points=128)
# live engine: indexed to z3, deeper tiles come from get_tile drill-downs
LIVE = dict(max_zoom=14, index_max_zoom=3, index_max_points=128, updateable=True)

PRIMARY = {"pyramid_build": "build", "serve_and_analytics": "read"}


class Session:
    """Per-run state: op records, set-up times, check results."""

    def __init__(self, spark, tracer, seed: int, size: str, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = size
        self.work_dir = work_dir
        self.n_cores = spark.sparkContext.defaultParallelism
        self.ops: list = []
        self.setup_s: dict = {}  # phase -> median set-up seconds
        self.setup_reps: dict = {}  # phase -> seconds of every set-up
        self.params: dict = {}
        self.extra: dict = {}
        self.on_first_timed = None  # called once, just before the first timed op

    # -- ops ------------------------------------------------------------

    def op(self, kind: str, key, fn, warmup: bool = False):
        """Run fn() as one op. An op that raises is recorded as failed and
        the run goes on."""
        rec = {"kind": kind, "key": key, "warmup": warmup, "ok": True}
        t0 = time.perf_counter()
        out = None
        try:
            if not warmup and self.on_first_timed is not None:
                self.on_first_timed()
                self.on_first_timed = None
            with self.tracer.span("op." + kind, key=key, warmup=warmup):
                out = fn()
        except Exception as e:  # noqa: BLE001 — op boundary: record and continue
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
            traceback.print_exc(file=sys.stderr)
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        self.ops.append(rec)
        return rec, out

    def check(self, rec, ok: bool, msg: str):
        if not ok:
            rec["ok"] = False
            rec.setdefault("check_failures", []).append(msg[:400])

    def setup(self, phase: str, fn, reps: int):
        """The set-up of a phase, made `reps` times from scratch; its time
        is the median. Returns the last set-up's output."""
        times = []
        for i in range(reps):
            out = None  # release the previous set-up before the next one
            self.settle()
            t0 = time.perf_counter()
            with self.tracer.span("setup." + phase, rep=i):
                out = fn()
            times.append(time.perf_counter() - t0)
        self.setup_reps[phase] = times
        self.setup_s[phase] = statistics.median(times)
        return out

    def settle(self):
        """Release references and collect garbage in Python and the JVM
        between ops, so state does not pile up from one op to the next."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def timed(self, kind=None):
        return [o for o in self.ops if not o["warmup"] and (kind is None or o["kind"] == kind)]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _digest(df, cols):
    """(rows, order-independent checksum) in one aggregate job: the sum of
    a 64-bit hash of every row, exact in decimal(38,0)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(r["n"]), str(r["h"])


TILE_COLS = ["z", "x", "y", "okey", "tf_type", "tf_id", "tf_tags", "tf_geom", "npoints", "nsimplified"]
REG_COLS = ["z", "x", "y", "num_features", "num_points", "num_simplified", "has_source"]


def _docs_df(s: Session, feats: list, per_doc: int = 32):
    """The corpus as an interleaved-documents table, one FeatureCollection
    span per document, materialized before anything is timed."""
    from geojson_vt_spark.sources.documents import DOCUMENTS_SCHEMA

    rows = []
    for d in range(0, len(feats), per_doc):
        payload = '{"type":"FeatureCollection","features":[' + ",".join(feats[d:d + per_doc]) + "]}"
        rows.append((f"doc-{d // per_doc:09d}",
                     [("geojson", payload, None, 0)]))
    rdd = s.spark.sparkContext.parallelize(rows, s.n_cores)
    return s.spark.createDataFrame(rdd, DOCUMENTS_SCHEMA).localCheckpoint(eager=True)


def _ingest(docs, opts):
    from geojson_vt_spark.sources import documents

    return documents.features_from_documents(docs, opts).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# pyramid_build
# ---------------------------------------------------------------------------

def pyramid_build(s: Session):
    from geojson_vt_spark.config import Options
    from geojson_vt_spark.plans import pyramid

    cfg = SIZES[s.size]["pyramid"]
    feats, s.params["corpus"] = gen.tiling_corpus(s.seed, cfg["features"], cfg["vertices"])
    docs = _docs_df(s, feats)
    opts = Options(**BULK)

    fdf = s.setup("ingest", lambda: _ingest(docs, opts), cfg["setup_reps"])
    s.settle()

    def build():
        store = pyramid.build_pyramid(fdf, opts)
        with s.tracer.span("plans.pyramid.output"):
            reg = _digest(store.registry_df(), REG_COLS)
            til = _digest(store.tiles_df(), TILE_COLS)
        return {"tiles": reg[0], "tile_features": til[0], "reg_hash": reg[1],
                "tile_hash": til[1], "one_shot": store.one_shot,
                "head_fused": list(store.head_fused)}

    first = None
    for i in range(cfg["warmup_builds"] + cfg["builds"]):
        rec, out = s.op("build", i, build, warmup=i < cfg["warmup_builds"])
        s.settle()
        if out is None:
            continue
        rec.update({k: out[k] for k in ("tiles", "tile_features", "one_shot")})
        if first is None:
            first = out
            if s.size == "full":
                s.check(rec, not out["one_shot"],
                        "root fits the one-shot budget: the per-level loop did not run")
            s.check(rec, out["tiles"] > 0 and out["tile_features"] > 0, "empty pyramid")
        else:
            same = all(out[k] == first[k] for k in ("tiles", "tile_features", "reg_hash", "tile_hash"))
            s.check(rec, same, f"build {i} differs from build 0: {out} vs {first}")
    timed = s.timed("build")
    ok = [o for o in timed if o["ok"]]
    if ok:
        s.extra["tile_features_per_s"] = ok[0]["tile_features"] / (_median([o["ms"] for o in ok]) / 1000.0)
    s.extra["tiles"] = first["tiles"] if first else 0
    s.extra["tile_features"] = first["tile_features"] if first else 0


# ---------------------------------------------------------------------------
# tile_serve
# ---------------------------------------------------------------------------

def tile_serve(s: Session):
    import os
    import shutil

    from geojson_vt_spark.config import Options
    from geojson_vt_spark.operators import engine
    from geojson_vt_spark.plans import pyramid
    from geojson_vt_spark.sources import tile_store

    cfg = SIZES[s.size]["serve"]
    feats, s.params["corpus"] = gen.tiling_corpus(s.seed, cfg["features"], cfg["vertices"])
    docs = _docs_df(s, feats)
    bulk = Options(**BULK)
    live = Options(**LIVE)
    path = os.path.join(s.work_dir, "tile_store")

    def build_all():
        shutil.rmtree(path, ignore_errors=True)
        fdf = _ingest(docs, bulk)
        store = pyramid.build_pyramid(fdf, bulk)
        tile_store.write_tile_store(store.tiles_df(), store.registry_df(), path)
        eng = engine.GeoJSONVTSpark(s.spark, features_df=fdf, options=live)
        return eng, tile_store.DiskTileServer(s.spark, path)

    eng, server = s.setup("serve", build_all, cfg["setup_reps"])

    # untimed: the store as DuckDB sees it, and the seeded key streams
    oracle = oracles.StoreOracle(path)
    by_zoom = oracle.keys_by_zoom()
    read_keys = gen.zipf_keys(s.seed, by_zoom, cfg["warmup_reads"] + cfg["reads"])
    view_centers = gen.zipf_keys(s.seed + 7919, by_zoom, 1 + cfg["viewports"])
    s.params["store"] = {"tiles": len(oracle.registry), "zooms": sorted(by_zoom),
                         "reads": cfg["reads"], "viewports": cfg["viewports"],
                         "viewport_keys": cfg["viewport_keys"]}

    def viewport(center, n_keys):
        """A renderer's viewport: up to n_keys adjacent tiles, 4 rows high,
        around the center key (x wraps, y is clipped)."""
        z, x, y = center
        side = 1 << z
        cols = -(-n_keys // 4)
        keys = [
            (z, (x + dx - cols // 2) % side, y + dy - 2)
            for dy in range(4) for dx in range(cols)
            if 0 <= y + dy - 2 < side
        ]
        return list(dict.fromkeys(keys))[:n_keys]

    for i, key in enumerate(read_keys):
        rec, got = s.op("read", key, lambda: server.get_tile(*key), warmup=i < cfg["warmup_reads"])
        if rec["ok"]:
            s.check(rec, oracles.canon_features(got) == oracle.expected(key),
                    f"get_tile{key} != store rows")
    for i, center in enumerate(view_centers):
        keys = viewport(center, cfg["viewport_keys"])
        rec, got = s.op("viewport", center, lambda: server.get_tiles(keys), warmup=i == 0)
        if not rec["ok"]:
            continue
        rec["keys"] = len(keys)
        for key in keys:
            want = oracle.expected(key)
            have = oracles.canon_features(got.get(f"z{key[0]}-{key[1]}-{key[2]}"))
            if want is None:
                s.check(rec, have is None, f"get_tiles returned unknown key {key}")
            else:
                s.check(rec, have == want, f"get_tiles {key} != store rows")

    edit_session(s, eng, oracle, feats, cfg)


def edit_session(s: Session, eng, oracle, feats: list, cfg: dict):
    """The fixed live edit session: drill below index_max_zoom, apply one
    diff mixing remove/update/add, re-read the invalidated root, then drill
    a second key at the same zoom (the two drills show any growth of
    per-lookup cost). The drill targets are the two heaviest tiles one zoom
    below the indexed zoom, so every seed drills comparable work."""
    a, c = oracle.heaviest(LIVE["index_max_zoom"] + 1, 2)
    live_ids = [json.loads(f)["id"] for f in feats]
    diff, s.params["edits"] = gen.edit_diff(s.seed, live_ids, cfg["edits"], 10**6)
    removed = set(diff["remove"])
    updated = {u["id"] for u in diff["update"]}
    s.params["edits"]["targets"] = [a, c]

    def frames():
        st = eng.store
        return len(st.tiles) + len(st.registry) + len(st.sources)

    def drill(kind, key):
        rec, got = s.op(kind, key, lambda: eng.get_tile(*key))
        rec["store_frames"] = frames()
        if rec["ok"]:
            s.check(rec, bool(got), f"{kind} {key} returned no features")
        return rec, got

    drill("drill", a)
    rec, _ = s.op("update", "diff0", lambda: eng.update_data(diff))
    rec["store_frames"] = frames()
    rec, root = drill("reread", (0, 0, 0))
    if root:
        ids = {f.get("id") for f in root}
        s.check(rec, not (ids & removed), f"removed ids still in root: {ids & removed}")
        for f in root:
            if f.get("id") in updated:
                s.check(rec, (f.get("tags") or {}).get("edit") == 0, f"update not applied to {f.get('id')}")
    drill("drill", c)
    s.extra["edit_session_s"] = sum(
        o["ms"] for o in s.timed() if o["kind"] in ("drill", "update", "reread")) / 1000.0


# ---------------------------------------------------------------------------
# point_analytics
# ---------------------------------------------------------------------------

def point_analytics(s: Session):
    from geojson_vt_spark.cluster import grid
    from geojson_vt_spark.config import ClusterOptions
    from geojson_vt_spark.operators import spatial_join as sj

    cfg = SIZES[s.size]["points"]
    frames, s.params["points"] = gen.point_suite(
        s.seed, cfg["n_a"], cfg["n_b"], cfg["boxes"], cfg["polys"])
    k = cfg["k"]
    copts = ClusterOptions(max_zoom=cfg["cluster_zoom"])
    s.params["points"].update({"k": k, "cluster_max_zoom": cfg["cluster_zoom"]})

    # the inputs handed to Spark and materialized, untimed: the joins and
    # the grid take DataFrames and have no set-up of their own
    dfs = {name: s.spark.createDataFrame(pdf).localCheckpoint(eager=True)
           for name, pdf in frames.items()}
    dfs["cluster"] = dfs["a"].select(
        F.col("a_id").alias("idx"), F.col("x").alias("px"), F.col("y").alias("py"),
        F.lit(None).cast("string").alias("id"), F.lit(None).cast("string").alias("tags"),
    ).localCheckpoint(eager=True)

    def suite():
        out = {}
        tr = s.tracer
        with tr.span("operators.spatial_join.point_in_box_join"):
            out["box"] = sj.point_in_box_join(dfs["a"], dfs["boxes"]).count()
        with tr.span("operators.spatial_join.point_in_polygon_join"):
            out["pip"] = sj.point_in_polygon_join(dfs["a"], dfs["polys"]).count()
        with tr.span("operators.spatial_join.knn_join"):
            knn = sj.knn_join(dfs["a"], dfs["b"], k, res=cfg["knn_res"])
            out["knn"] = knn.count()
        with tr.span("operators.spatial_join.geo_knn_join"):
            gknn = sj.geo_knn_join(dfs["ga"], dfs["gb"], k, init_radius_km=cfg["geo_radius_km"])
            out["geo_knn"] = gknn.count()
        with tr.span("cluster.grid.build_grid_trees"):
            trees = grid.build_grid_trees(dfs["cluster"], copts, cfg["n_a"])
            zoomed = [t.select(F.lit(z).alias("zoom"), "num") for z, t in sorted(trees.items())]
            union = zoomed[0]
            for t in zoomed[1:]:
                union = union.unionByName(t)
            rows = union.groupBy("zoom").agg(F.count(F.lit(1)).alias("n"), F.sum("num").alias("pts")).collect()
            out["cluster"] = {int(r["zoom"]): (int(r["n"]), int(r["pts"])) for r in rows}
        out["_knn"], out["_gknn"] = knn, gknn
        return out

    # untimed oracles, computed once from the generated inputs
    import numpy as np

    rng = np.random.Generator(np.random.PCG64([s.seed, 9]))
    sample = np.sort(rng.choice(cfg["n_a"], cfg["knn_sample"], replace=False))
    want = {
        "box": oracles.box_join_count(frames["a"], frames["boxes"]),
        "pip": oracles.pip_join_count(frames["a"], frames["polys"]),
        "knn": cfg["n_a"] * min(k, cfg["n_b"]),
        "geo_knn": cfg["n_a"] * min(k, cfg["n_b"]),
    }
    knn_want = oracles.knn_top(frames["a"][frames["a"].a_id.isin(sample)], frames["b"], k)
    gknn_want = oracles.geo_knn_top(frames["ga"][frames["ga"].a_id.isin(sample)], frames["gb"], k)
    sample_ids = [int(v) for v in sample]
    ax, ay = frames["a"].x.to_numpy(), frames["a"].y.to_numpy()
    bx, by = frames["b"].x.to_numpy(), frames["b"].y.to_numpy()

    first = None
    for i in range(1 + cfg["passes"]):  # pass 0 is the warm-up
        rec, out = s.op("suite", i, suite, warmup=i == 0)
        if out is not None:
            knn, gknn = out.pop("_knn"), out.pop("_gknn")
            for name in ("box", "pip", "knn", "geo_knn"):
                s.check(rec, out[name] == want[name], f"{name} rows {out[name]} != oracle {want[name]}")
            got = {}
            for r in knn.where(F.col("a_id").isin(sample_ids)).collect():
                got.setdefault(r["a_id"], []).append((r["rank"], r["b_id"]))
            have = {
                aid: [((ax[aid] - bx[bid]) * (ax[aid] - bx[bid])
                       + (ay[aid] - by[bid]) * (ay[aid] - by[bid]), bid)
                      for _r, bid in sorted(lst)]
                for aid, lst in got.items()
            }
            for msg in oracles.compare_knn(knn_want, have, 0.0)[:3]:
                s.check(rec, False, "knn_join: " + msg)
            ggot = {}
            for r in gknn.where(F.col("a_id").isin(sample_ids)).collect():
                ggot.setdefault(r["a_id"], []).append((r["rank"], r["dist_km"], r["b_id"]))
            ghave = {aid: [(d, bid) for _r, d, bid in sorted(lst)] for aid, lst in ggot.items()}
            for msg in oracles.compare_knn(gknn_want, ghave, 2e-6)[:3]:
                s.check(rec, False, "geo_knn_join: " + msg)
            for z, (_rows, pts) in out["cluster"].items():
                s.check(rec, pts == cfg["n_a"], f"cluster zoom {z} holds {pts} points, not {cfg['n_a']}")
            if first is None:
                first = out
            else:
                s.check(rec, out["cluster"] == first["cluster"], "cluster rows differ between passes")
            rec["rows"] = out["box"] + out["pip"] + out["knn"] + out["geo_knn"] + sum(
                r for r, _ in out["cluster"].values())
            del knn, gknn
        s.settle()
    ok = [o for o in s.timed("suite") if o["ok"]]
    if ok:
        s.extra["suite_rows_per_s"] = ok[0]["rows"] / (_median([o["ms"] for o in ok]) / 1000.0)
    if s.tracer.enabled:
        # refine ratio evidence: candidate rows of the polygon join's bbox pass
        s.extra["pip_candidates"] = sj.point_in_box_join(dfs["a"], dfs["polys"]).count()
        s.extra["pip_rows"] = want["pip"]


def serve_and_analytics(s: Session):
    """Query-side session: tile serving with a live edit session, then the
    point-analytics suite, in one process."""
    tile_serve(s)
    s.settle()
    point_analytics(s)


WORKLOADS = {
    "pyramid_build": pyramid_build,
    "serve_and_analytics": serve_and_analytics,
}
