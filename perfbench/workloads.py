"""The benchmark's workloads: set-up, one timed operation, answer checks.

Every workload is a class with three phases, called in order by `run.py`:
``setup()`` (session already started; make inputs, snapshot, warm up),
``op(i)`` (one timed operation, repeated for the run's duration) and
``check()`` (outside the timed region: compare every recorded answer with
the independent references in `reference.py`).

Inputs are a pure function of the seed: documents come from
`documents_from_ids` over a seed-shifted id range and query points are
sampled from the node ids with a seeded generator.  Any integer is a valid
seed: it is first reduced to one of `ID_SLOTS` id ranges (see `id_slot`).
"""

from __future__ import annotations

import math
import os
import time
import zlib
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osmspark.config import CITY_WEIGHTS, HOT_CITIES
from osmspark.datagen import documents_from_ids, gen_polygons
from osmspark.functions.hexgrid import with_hex_cell
from osmspark.functions.s2 import with_s2_cell
from osmspark.operators import audit
from osmspark.operators.knn import knn_kring, occupancy_res
from osmspark.operators.radius_join import within_distance_join
from osmspark.operators.spatial_join import spatial_join, spatial_join_adaptive
from osmspark.operators.tiles import render_density_tiles, tile_counts
from osmspark.plans.checkpoint import SnapshotStore
from osmspark.plans.layout import ensure_cell_bucketed
from osmspark.sources import parse_nodes

from . import reference as ref

# documents per workload input; "tiny" is the smoke-test size
SIZES = {
    "full": {"ingest_docs": 4000, "lookup_docs": 5000, "bulk_docs": 20000,
             "bulk_queries": 5000},
    "tiny": {"ingest_docs": 300, "lookup_docs": 600, "bulk_docs": 600,
             "bulk_queries": 200},
}
ZOOM, PX = 12, 64
LOOKUP_POINTS, KNN_K, LOOKUP_RADIUS_M, BULK_RADIUS_M = 50, 10, 500.0, 250.0
# `documents_from_ids` multiplies each id by about 10^6 in int64 (ANSI mode
# raises on overflow) and hashes it modulo 2^31 - 1.  Seed ranges of 10^6
# ids below that modulus stay distinct and overflow-free.
ID_SLOTS = 2147


def id_slot(seed: int) -> int:
    """The id range a seed owns: small non-negative seeds map to
    themselves, any other integer (huge or negative) is reduced modulo
    `ID_SLOTS`.  Also a valid numpy generator seed."""
    return seed % ID_SLOTS


def seed_docs(spark, seed: int, n: int, shift: int = 0):
    """Documents over the id range owned by `seed` (`shift` picks a
    disjoint sub-range, e.g. for the warm-up batch)."""
    base = seed * 1_000_000 + shift
    return documents_from_ids(
        spark.range(base, base + n, 1, 2 * spark.sparkContext.defaultParallelism),
        "id")


def strata(nodes: dict) -> list[np.ndarray]:
    """Node indices per generator region: each hot city's jitter box, then
    the sparse fringe.  Sampling a fixed quota per region keeps the mix of
    dense and sparse queries -- which sets kNN ring growth and radius pair
    counts -- the same for every seed."""
    region = np.full(len(nodes["lat"]), len(HOT_CITIES))
    for k, (la, lo) in enumerate(HOT_CITIES):
        near = ((np.abs(nodes["lat"] - la) <= 0.0101)
                & (np.abs(nodes["lon"] - lo) <= 0.0101))
        region[near & (region == len(HOT_CITIES))] = k
    return [np.flatnonzero(region == k) for k in range(len(HOT_CITIES) + 1)]


def quotas(n: int, weights: list[float]) -> list[int]:
    """Largest-remainder split of n by weights."""
    raw = [n * w / sum(weights) for w in weights]
    q = [int(r) for r in raw]
    for k in sorted(range(len(raw)), key=lambda k: q[k] - raw[k])[:n - sum(q)]:
        q[k] += 1
    return q


# share of nodes per region (datagen: 5% fringe, the rest split by city)
REGION_WEIGHTS = [0.95 * w / sum(CITY_WEIGHTS) for w in CITY_WEIGHTS] + [0.05]


def concurrently(*thunks) -> list:
    """Run set-up steps in parallel threads (Spark schedules their jobs
    side by side); re-raises the first failure."""
    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def mixed_dim_polygons(spark, polys):
    """The grid polygons plus a polar cap (holds no node) and a 150-degree
    wide box (holds every node): a dimension mixing polygon sizes."""
    cap = [(-65.0 + 4.0 * math.sin(math.radians(2.0 * lo)), float(lo))
           for lo in range(-180, 181, 10)][::-1]
    box = ([(-10.0, float(lo)) for lo in range(0, 151, 30)]
           + [(40.0, float(lo)) for lo in range(150, -1, -30)]
           + [(-10.0, 0.0)])
    extra = spark.createDataFrame(
        [("polar_cap", "admin", [{"lat": a, "lon": o} for a, o in cap], None),
         ("wide_box", "admin", [{"lat": a, "lon": o} for a, o in box], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string")
    return polys.unionByName(extra)


def poly_rows(polys) -> list[dict]:
    return [{"poly_id": r["poly_id"],
             "ring": [(p["lat"], p["lon"]) for p in r["ring"]]}
            for r in polys.select("poly_id", "ring").collect()]


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


class Workload:
    """Shared plumbing: the checks ledger and the span helpers."""

    def __init__(self, spark, tracer, work: str, seed: int, size: str):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.sz = id_slot(seed), SIZES[size]
        self.attempted = 0
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}  # set-up step -> wall seconds
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the set-up step that ends now."""
        t = time.perf_counter()
        self.phases[name] = t - self._t
        self._t = t

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def call(self, layer: str, fn: str, thunk):
        with self.tr.span(layer, fn):
            return thunk()

    def execute(self, layer: str, fn: str, thunk, rows=len):
        with self.tr.span(layer, fn, kind="exec") as sp:
            out = thunk()
            sp["rows_out"] = rows(out)
            return out

    def save(self, store, df, stage: str, layer: str):
        """SnapshotStore.save as the stage layer's materializing action."""
        with self.tr.span("plans.checkpoint", "save", kind="exec",
                          of=layer) as sp:
            m = store.save(df, stage)
            sp["rows_out"] = m["n_rows"]
            sp["bytes_written"] = sum(p["bytes"] for p in m["partitions"])
        return m

    def load(self, store, stage: str):
        return self.call("plans.checkpoint", "load",
                         lambda: store.load(self.spark, stage))

    def extra_metrics(self, op_p50_s: float) -> dict:
        """Workload-specific figures for the span log."""
        return {}


# --------------------------------------------------------------------------
# ingest: the write path
# --------------------------------------------------------------------------


class Ingest(Workload):
    """The spatial stages of the pipeline job over one docs batch, each
    saved through SnapshotStore under a fresh root per pass."""

    def setup(self):
        spark = self.spark
        self.docs_path = f"{self.work}/docs"
        self.polys = gen_polygons(spark)
        self.passes: list[dict] = []
        seed_docs(spark, self.seed, self.sz["ingest_docs"]).write.parquet(
            self.docs_path)
        self.input_bytes = parquet_bytes(self.docs_path)
        self.phase("inputs")
        self._pass(self.docs_path, f"{self.work}/warm")  # warm-up pass
        self.passes.clear()
        self.phase("warm_pass")

    def op(self, i: int):
        self._pass(self.docs_path, f"{self.work}/pass-{i}")

    def _pass(self, docs_path: str, root: str):
        spark, call = self.spark, self.call
        if os.path.exists(root):
            raise RuntimeError(f"ingest root {root} is not fresh")
        store = SnapshotStore(root)
        mans = {}
        docs = spark.read.parquet(docs_path)
        df = call("sources.spans", "parse_nodes", lambda: parse_nodes(docs))
        df = df.select("id", "lat", "lon",
                       F.col("tags")["addr:street"].alias("street"),
                       F.col("tags")["addr:postcode"].alias("postcode"),
                       F.col("tags")["amenity"].alias("amenity"),
                       "user", "uid")
        mans["extract"] = self.save(store, df, "extract", "sources.spans")
        nodes = self.load(store, "extract")

        df = call("functions.hexgrid", "with_hex_cell",
                  lambda: with_hex_cell(nodes, 8))
        df = call("functions.s2", "with_s2_cell", lambda: with_s2_cell(df, 12))
        mans["cells"] = self.save(store, df, "cells", "functions.s2")

        pts = nodes.select("id", "lat", "lon")
        res = call("operators.knn", "occupancy_res",
                   lambda: occupancy_res(pts, 8, k=KNN_K))
        layout = f"{root}/nodes_cell_bucketed"
        with self.tr.span("plans.layout", "ensure_cell_bucketed") as layout_span:
            ensure_cell_bucketed(pts, layout, res)

        df = call("operators.spatial_join", "spatial_join",
                  lambda: spatial_join(pts, self.polys, res=8))
        mans["pip"] = self.save(store, df, "pip", "operators.spatial_join")

        df = call("operators.tiles", "tile_counts",
                  lambda: tile_counts(nodes, zoom=ZOOM))
        mans["tiles"] = self.save(store, df, "tiles", "operators.tiles")
        df = call("operators.tiles", "render_density_tiles",
                  lambda: render_density_tiles(nodes.select("lat", "lon"),
                                               zoom=ZOOM, px=PX))
        mans["tile_rasters"] = self.save(store, df, "tile_rasters",
                                         "operators.tiles")

        def cleaned():
            return (audit.normalize_streets(
                        nodes.filter(F.col("street").isNotNull()))
                    .withColumn("postcode", audit.repair_postcode("postcode"))
                    .select("id", "lat", "lon", "user", "uid",
                            F.col("normalized_street").alias("street"),
                            "postcode"))

        df = call("operators.audit", "normalize_streets", cleaned)
        mans["cleaned_nodes"] = self.save(store, df, "cleaned_nodes",
                                          "operators.audit")
        streets = nodes.select("street").filter(F.col("street").isNotNull())
        df = call("operators.audit", "normalized_street_counts",
                  lambda: audit.normalized_street_counts(streets))
        mans["audit_street_norm"] = self.save(store, df, "audit_street_norm",
                                              "operators.audit")
        df = call("operators.audit", "postcode_class",
                  lambda: nodes.filter(F.col("postcode").isNotNull())
                  .select(audit.postcode_class("postcode").alias("pc_class"))
                  .groupBy("pc_class").agg(F.count("*").alias("cnt")))
        mans["audit_postcodes"] = self.save(store, df, "audit_postcodes",
                                            "operators.audit")
        self.passes.append({"root": root, "layout": f"{layout}_r{res}",
                            "layout_span": layout_span, "manifests": mans})

    def extra_metrics(self, op_p50_s: float) -> dict:
        if not self.passes:  # the first timed pass raised
            return {}
        return {"docs_per_s": self.sz["ingest_docs"] / op_p50_s,
                "stored_bytes_per_input_byte": (
                    sum(sum(p["bytes"] for p in m["partitions"])
                        for m in self.passes[0]["manifests"].values())
                    / self.input_bytes)}

    def check(self):
        want = ref.parse_doc_nodes(self.docs_path)
        n = len(want["id"])
        members = ref.polygon_members(want, poly_rows(self.polys))
        pip_lo = sum(ref.count_band(m)[0] for m in members.values())
        pip_hi = sum(ref.count_band(m)[1] for m in members.values())
        tiles_lo, tiles_hi = ref.distinct_tiles_band(want, ZOOM)
        has_street = [s is not None for s in want["street"]]
        streets = [s for s in want["street"] if s is not None]
        street_counts = ref.street_type_counts(streets)
        pc_counts = ref.postcode_class_counts(want["postcode"])
        pos = {i: k for k, i in enumerate(want["id"].tolist())}
        for p, rec in enumerate(self.passes):
            m, root = rec["manifests"], rec["root"]
            tag = f"ingest pass {p}"
            self.expect(m["extract"]["n_rows"] == n, f"{tag}: extract rows")
            self.expect(m["cells"]["n_rows"] == n, f"{tag}: cells rows")
            rec["layout_span"]["rows_out"] = parquet_rows(rec["layout"])
            self.expect(rec["layout_span"]["rows_out"] == n, f"{tag}: layout rows")
            self.expect(pip_lo <= m["pip"]["n_rows"] <= pip_hi,
                        f"{tag}: pip rows {m['pip']['n_rows']} "
                        f"not in [{pip_lo}, {pip_hi}]")
            t = pq.read_table(f"{root}/tiles").to_pydict()
            self.expect(tiles_lo <= m["tiles"]["n_rows"] <= tiles_hi
                        and sum(t["cnt"]) == n, f"{tag}: tile counts")
            r = pq.read_table(f"{root}/tile_rasters").to_pydict()
            self.expect(m["tile_rasters"]["n_rows"] == m["tiles"]["n_rows"]
                        and all(len(x) == PX * PX for x in r["raster"])
                        and sum(sum(x) for x in r["raster"]) == n,
                        f"{tag}: tile rasters")
            self.expect(m["cleaned_nodes"]["n_rows"] == sum(has_street),
                        f"{tag}: cleaned_nodes rows")
            s = pq.read_table(f"{root}/audit_street_norm").to_pydict()
            self.expect(Counter(dict(zip(s["normalized_type"], s["cnt"])))
                        == street_counts, f"{tag}: street normalization")
            c = pq.read_table(f"{root}/audit_postcodes").to_pydict()
            self.expect(Counter(dict(zip(c["pc_class"], c["cnt"])))
                        == pc_counts, f"{tag}: postcode classes")
            if p == 0:
                self._check_rows(root, want, members, pos)

    def _check_rows(self, root, want, members, pos):
        """Seeded sample of PIP memberships and cleaned rows, row by row."""
        rng = np.random.default_rng([self.seed, 7])
        sample = set(rng.choice(want["id"], size=min(500, len(want["id"])),
                                replace=False).tolist())
        pip = pq.read_table(f"{root}/pip", columns=["id", "poly_id"]).to_pydict()
        got: dict[str, set] = {i: set() for i in sample}
        for i, pid in zip(pip["id"], pip["poly_id"]):
            if i in got:
                got[i].add(pid)
        bad = 0
        for i in sample:
            k = pos[i]
            sure = {pid for pid, (ins, amb) in members.items()
                    if ins[k] and not amb[k]}
            maybe = {pid for pid, (ins, amb) in members.items() if amb[k]}
            bad += not (sure <= got[i] <= sure | maybe)
        self.expect(bad == 0, f"ingest: {bad} sampled PIP memberships differ")
        cl = pq.read_table(f"{root}/cleaned_nodes",
                           columns=["id", "street", "postcode"]).to_pydict()
        bad = 0
        for i, st, pc in zip(cl["id"], cl["street"], cl["postcode"]):
            if i not in sample:
                continue
            k = pos[i]
            bad += (st != ref.normalize_street(want["street"][k])[1]
                    or pc != ref.repair_postcode(want["postcode"][k]))
        self.expect(bad == 0, f"ingest: {bad} sampled cleaned rows differ")


# --------------------------------------------------------------------------
# lookup: small requests against the committed snapshot
# --------------------------------------------------------------------------


class Lookup(Workload):
    """Closed loop, one client: each round sends one request of each type;
    every request reads the committed node snapshot."""

    KINDS = ("pip", "knn", "radius", "tile")

    def setup(self):
        spark = self.spark
        self.store = SnapshotStore(f"{self.work}/snap")
        nodes = parse_nodes(seed_docs(spark, self.seed,
                                      self.sz["lookup_docs"])).select(
            "id", "lat", "lon")
        self.store.save(nodes, "nodes")
        self.nodes = ref.read_nodes(f"{self.work}/snap/nodes")
        self.strata = strata(self.nodes)
        self.polys = gen_polygons(spark)
        self.answers: list[tuple] = []
        self.phase("snapshot")
        # warm-up: one request of each type, side by side
        concurrently(*(lambda k=kind: self.request(k, ("warm", k))
                       for kind in self.KINDS))
        self.phase("warm_up")

    def op(self, i: int):
        for kind in self.KINDS:
            self.answers.append((kind,) + self.request(kind, (i, kind)))

    def _sample(self, key, n):
        """n node indices, a fixed quota from each region."""
        rng = np.random.default_rng([self.seed, zlib.crc32(repr(key).encode())])
        return np.concatenate([
            rng.choice(idx, size=q, replace=False)
            for idx, q in zip(self.strata, quotas(n, REGION_WEIGHTS)) if q])

    def request(self, kind: str, key):
        nodes = self.load(self.store, "nodes").select("id", "lat", "lon")
        if kind == "tile":
            k = int(self._sample(key, 1)[0])
            tx, ty, _ = ref.tile_xy(self.nodes["lat"][k:k + 1],
                                    self.nodes["lon"][k:k + 1], ZOOM)
            tx, ty = int(tx[0]), int(ty[0])
            la0, la1, lo0, lo1 = ref.tile_bbox(tx, ty, ZOOM)
            pts = nodes.filter(F.col("lat").between(la0 - 1e-7, la1 + 1e-7)
                               & F.col("lon").between(lo0 - 1e-7, lo1 + 1e-7))
            df = self.call("operators.tiles", "render_density_tiles",
                           lambda: render_density_tiles(
                               pts.select("lat", "lon"), zoom=ZOOM, px=PX))
            rows = self.execute("operators.tiles", "collect", lambda: df.filter(
                (F.col("tile_x") == tx) & (F.col("tile_y") == ty)).collect())
            return (tx, ty), [list(r["raster"]) for r in rows]
        idx = self._sample(key, LOOKUP_POINTS)
        ids = self.nodes["id"][idx].tolist()
        q = nodes.filter(F.col("id").isin(ids))
        if kind == "pip":
            df = self.call("operators.spatial_join", "spatial_join",
                           lambda: spatial_join(q, self.polys, res=8))
            rows = self.execute("operators.spatial_join", "collect",
                                lambda: df.select("id", "poly_id").collect())
            return idx, [(r["id"], r["poly_id"]) for r in rows]
        qs = q.select(F.col("id").alias("query_id"), "lat", "lon")
        if kind == "knn":
            df = self.call("operators.knn", "knn_kring",
                           lambda: knn_kring(nodes, qs, k=KNN_K, res=8))
            rows = self.execute("operators.knn", "collect",
                                lambda: df.select("query_id", "dist").collect())
            return idx, [(r["query_id"], r["dist"]) for r in rows]
        df = self.call("operators.radius_join", "within_distance_join",
                       lambda: within_distance_join(nodes, qs, LOOKUP_RADIUS_M))
        rows = self.execute(
            "operators.radius_join", "count_by_query",
            lambda: df.groupBy("query_id").count().collect(),
            rows=lambda rs: sum(r["count"] for r in rs))
        return idx, [(r["query_id"], r["count"]) for r in rows]

    def check(self):
        nodes, polys = self.nodes, poly_rows(self.polys)
        for kind, key, rows in self.answers:
            if kind == "tile":
                lo, hi = ref.tile_count_band(nodes, ZOOM, *key)
                ok = (len(rows) == 1 and len(rows[0]) == PX * PX
                      and lo <= sum(rows[0]) <= hi)
                self.expect(ok, f"tile {key}: raster does not match")
                continue
            qlat, qlon = nodes["lat"][key], nodes["lon"][key]
            qids = nodes["id"][key].tolist()
            if kind == "pip":
                members = ref.polygon_members({"lat": qlat, "lon": qlon}, polys)
                sure = {(i, pid) for pid, (ins, amb) in members.items()
                        for k, i in enumerate(qids) if ins[k] and not amb[k]}
                maybe = {(i, pid) for pid, (ins, amb) in members.items()
                         for k, i in enumerate(qids) if amb[k]}
                got = set(rows)
                self.expect(len(got) == len(rows) and sure <= got <= sure | maybe,
                            "pip: memberships differ")
            elif kind == "knn":
                by_q: dict[str, list] = {}
                for qid, d in rows:
                    by_q.setdefault(qid, []).append(d)
                ok = set(by_q) == set(qids) and all(
                    ref.same_dists(by_q[i], np.sort(ref.haversine(
                        qlat[k], qlon[k], nodes["lat"], nodes["lon"]))[:KNN_K])
                    for k, i in enumerate(qids))
                self.expect(ok, "knn: distance sets differ")
            else:
                got = dict(rows)
                ok = True
                for k, i in enumerate(qids):
                    d = ref.haversine(qlat[k], qlon[k], nodes["lat"], nodes["lon"])
                    lo = int((d <= LOOKUP_RADIUS_M * (1 - ref.DIST_REL_EPS)).sum())
                    hi = int((d <= LOOKUP_RADIUS_M * (1 + ref.DIST_REL_EPS)).sum())
                    ok &= lo <= got.get(i, 0) <= hi
                self.expect(ok and set(got) <= set(qids),
                            "radius: pair counts differ")


# --------------------------------------------------------------------------
# bulk: analytics over the whole node set
# --------------------------------------------------------------------------


class Bulk(Workload):
    """Four whole-table queries over nodes persisted in Spark memory."""

    def setup(self):
        spark = self.spark
        self.store = SnapshotStore(f"{self.work}/snap")
        nodes = parse_nodes(seed_docs(spark, self.seed,
                                      self.sz["bulk_docs"])).select(
            "id", "lat", "lon")
        self.store.save(nodes, "nodes")
        self.nodes = ref.read_nodes(f"{self.work}/snap/nodes")
        self.pn = self.store.load(spark, "nodes").persist()
        self.pn.count()
        self.polys = gen_polygons(spark)
        self.mixed = mixed_dim_polygons(spark, self.polys)
        rng = np.random.default_rng([self.seed, 11])
        n_q = min(self.sz["bulk_queries"], len(self.nodes["id"]))
        self.q_idx = np.sort(rng.choice(len(self.nodes["id"]), n_q,
                                        replace=False))
        self.qs = spark.createDataFrame(
            list(zip(self.nodes["id"][self.q_idx].tolist(),
                     self.nodes["lat"][self.q_idx].tolist(),
                     self.nodes["lon"][self.q_idx].tolist())),
            "query_id string, lat double, lon double")
        self.answers: list[dict] = []
        self.phase("snapshot")
        warm = self.pn.filter(F.pmod(F.xxhash64("id"), F.lit(20)) == 0)
        self._round(warm, self.qs.limit(50), record=False)
        self.phase("warm_up")

    def op(self, i: int):
        self._round(self.pn, self.qs, record=True)

    def _round(self, pts, qs, record: bool):
        call, ex = self.call, self.execute
        by_poly = (lambda df: df.groupBy("poly_id").count().collect())
        total = (lambda rs: sum(r["count"] for r in rs))
        df = call("operators.spatial_join", "spatial_join",
                  lambda: spatial_join(pts, self.polys, res=8))
        pip = ex("operators.spatial_join", "count_by_polygon",
                 lambda: by_poly(df), rows=total)
        df = call("operators.spatial_join", "spatial_join_adaptive",
                  lambda: spatial_join_adaptive(pts, self.mixed, max_res=8,
                                                min_res=3,
                                                max_cover_cells=8192))
        mixed = ex("operators.spatial_join", "count_by_polygon",
                   lambda: by_poly(df), rows=total)
        df = call("operators.knn", "knn_kring",
                  lambda: knn_kring(pts, qs, k=KNN_K, res=8))
        knn = ex("operators.knn", "collect",
                 lambda: df.select("query_id", "dist").collect())
        df = call("operators.radius_join", "within_distance_join",
                  lambda: within_distance_join(pts, qs, BULK_RADIUS_M))
        rad = ex("operators.radius_join", "count_by_query",
                 lambda: df.groupBy("query_id").count().collect(), rows=total)
        if record:
            self.answers.append({
                "pip": {r["poly_id"]: r["count"] for r in pip},
                "mixed": {r["poly_id"]: r["count"] for r in mixed},
                "knn": [(r["query_id"], r["dist"]) for r in knn],
                "radius": {r["query_id"]: r["count"] for r in rad}})

    def check(self):
        nodes = self.nodes
        n = len(nodes["id"])
        bands = {pid: ref.count_band(m) for pid, m in
                 ref.polygon_members(nodes, poly_rows(self.polys)).items()}
        grid = ref.GridIndex(nodes)
        qids = nodes["id"][self.q_idx].tolist()
        qlat, qlon = nodes["lat"][self.q_idx], nodes["lon"][self.q_idx]
        want_knn = [grid.knn_dists(a, o, KNN_K) for a, o in zip(qlat, qlon)]
        want_rad = [grid.radius_band(a, o, BULK_RADIUS_M)
                    for a, o in zip(qlat, qlon)]
        for a in self.answers:
            self.expect(all(lo <= a["pip"].get(pid, 0) <= hi
                            for pid, (lo, hi) in bands.items())
                        and set(a["pip"]) <= set(bands), "bulk: pip_all counts")
            mixed = dict(a["mixed"])
            ok = mixed.pop("wide_box", 0) == n and "polar_cap" not in mixed
            ok &= all(lo <= mixed.get(pid, 0) <= hi
                      for pid, (lo, hi) in bands.items())
            self.expect(ok and set(mixed) <= set(bands),
                        "bulk: mixed-dim pip counts")
            by_q: dict[str, list] = {}
            for qid, d in a["knn"]:
                by_q.setdefault(qid, []).append(d)
            self.expect(set(by_q) == set(qids) and all(
                ref.same_dists(by_q[i], w) for i, w in zip(qids, want_knn)),
                "bulk: knn distance sets")
            self.expect(all(lo <= a["radius"].get(i, 0) <= hi
                            for i, (lo, hi) in zip(qids, want_rad)),
                        "bulk: radius pair counts")


WORKLOADS = {"ingest": Ingest, "lookup": Lookup, "bulk": Bulk}
