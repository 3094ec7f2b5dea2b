"""The benchmark workloads.

`run.py` drives each through these phases:

- `prepare`: make (or reuse) the seeded inputs; not timed as set-up;
- `setup`: what a job does before its first op can start (zone world ->
  cover -> broadcast, or the Part A config load); timed as `setup_s`;
- `warmup`: untimed ops that bring the JVM and Python workers to speed;
- `op`: one closed-loop operation, repeated until the run's time is up;
- `after_ops`, `final_check`, `counts_after`: end-of-run work, checks
  and the counts the traced run reports.

A traced `op` forces each layer's output at its boundary (a `noop` write
computes every column; a bare count would let Catalyst prune the code
under test); `layers.per_layer` charges each layer the increment.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import oracle
from spans import Layers, NoLayers

from timezone_boundary_builder_spark.operators.cover import (
    auto_cover_res,
    cellmap_from_zones_pdf,
)
from timezone_boundary_builder_spark.operators.geocode import with_coordinates
from timezone_boundary_builder_spark.operators.spatial_join import (
    KNN_MAX_METERS,
    METHOD_NAMES,
    _band_edges,
    assign_codes,
    assign_tzid_udf_packed,
    pack_coords_col,
)
from timezone_boundary_builder_spark.operators.tiles import (
    merge_tile_counts,
    page_tile_counts,
)
from timezone_boundary_builder_spark.plans.lineage import lineage_table
from timezone_boundary_builder_spark.sources import pages as pages_table
from timezone_boundary_builder_spark.sources.real_config import real_ocean_bands_pdf

ORACLE_SAMPLE = 400  # brute-force checked assignments per run
KERNEL_SAMPLE = 12_000  # points for the single-core kernel split
TILE_RES = 6


def _invariant(df):
    """Order-insensitive text-invariant hash and row count (the same
    aggregate `jobs/assign_pages.py` compares)."""
    r = df.agg(
        F.bit_xor(F.xxhash64("url", "text")).alias("h"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return int(r["h"]), int(r["n"])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_methods(df) -> dict[str, int]:
    rows = df.groupBy("method").agg(F.count(F.lit(1)).alias("n")).collect()
    return {r["method"]: int(r["n"]) for r in rows}


class Workload:
    name = ""
    # set-up runs this many times per run; setup_s is the median
    setup_repeats = 3
    # the fewest timed ops per run
    min_ops = 3
    # the layers (per-layer metric prefixes) a traced run of this workload
    # reports; a metric of another layer is 0, one of these must be read
    layers: frozenset[str] = frozenset()

    def __init__(self, spark, seed: int, cache: str, work: str):
        self.spark = spark
        self.seed = seed
        self.cache = cache
        self.work = work

    def input_dir(self, tag: str) -> str:
        """Cached inputs live under one directory per (workload, seed);
        run.py evicts whole seeds, least recently used first."""
        seed_dir = os.path.join(self.cache, f"{self.name}-s{self.seed}")
        os.makedirs(seed_dir, exist_ok=True)
        os.utime(seed_dir)
        return os.path.join(seed_dir, tag)

    def warmup(self, traced: bool) -> None:
        """Run the op's code paths once, untimed: JVM warm-up, Python
        worker start, broadcast load."""

    def after_ops(self, layers, traced: bool) -> list[float]:
        """Work a run does after its timed ops; returns its op walls."""
        return []

    def named_metrics(self, op_s: float, n_ops: int) -> dict:
        """The workload's own name for the op time, for the report line."""
        return {}

    def reports(self, metric: str) -> bool:
        return metric.split(".", 1)[0] in self.layers


# ------------------------------------------------------------ assignment


class CrawlInterior(Workload):
    """Long pages, coordinates mostly deep inside zones, assigned as a full
    snapshot per op. After the timed ops, the traced run also drives the
    append path: commit crawl segments to a base table, assign each delta
    and fold its tile counts into the maintained tile table (the untraced
    run skips it to keep the benchmark's time budget; see README.md)."""

    name = "crawl_interior"
    url_host = "crawl-interior"
    n_pages = 6_000
    append_base = 4_000
    append_segment = 2_000
    append_cycles = 2
    warmup_ops = 1
    # the 419-zone cover build takes ~6 s on a 4-core VM: two set-ups
    # keep a run inside the benchmark's time budget (README.md)
    setup_repeats = 2
    layers = frozenset(
        ("pages", "scan", "geocode", "cover", "join", "kernel", "sink", "lineage", "commit",
         "increment", "tiles", "other", "trace", "jvm")
    )

    def coords(self):
        """90% deep interior; 10% from the border/coast mix, so every
        kernel path runs; then 10% of pages lose their coordinate."""
        n = self.n_pages
        lon, lat = gen.interior_points(self.seed, n, salt=5)
        blon, blat = gen.border_points(self.seed, gen.zone_rings(self.seed), n, salt=6)
        edge = np.random.default_rng([self.seed, 5, 1]).random(n) < 0.10
        lon, lat = np.where(edge, blon, lon), np.where(edge, blat, lat)
        return gen.with_none(self.seed, lon, lat, 0.10, salt=5)

    def prepare(self) -> None:
        self.zones = gen.zones_pdf(self.seed)
        self.bands = real_ocean_bands_pdf().to_dict("records")
        self.lon, self.lat = self.coords()
        self.pages_root = self._pages_table(
            self.input_dir(f"n{self.n_pages}"), self.lon, self.lat, 21, self.url_host
        )

    def _pages_table(self, d: str, lon, lat, salt: int, url_prefix: str) -> str:
        """A one-snapshot pages table, made once per (seed, size)."""
        root = os.path.join(d, "pages")
        if not os.path.exists(os.path.join(d, "_done")):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            staged = os.path.join(d, "generated.parquet")
            gen.write_pages_parquet(gen.pages_pdf(self.seed, lon, lat, salt, 8, url_prefix), staged)
            pages_table.commit_append(
                root, self.spark.read.schema(pages_table.PAGES_SCHEMA).parquet(staged)
            )
            os.remove(staged)
            with open(os.path.join(d, "_done"), "w") as f:
                f.write("ok")
        return root

    def setup(self, tracer) -> None:
        with tracer.span("cover.res"):
            res = auto_cover_res(self.zones)
        with tracer.span("cover.build"):
            cm = cellmap_from_zones_pdf(self.zones, max_res=res)
        with tracer.span("cover.broadcast"):
            if getattr(self, "bc", None) is not None:
                self.bc.destroy()
            self.bc = self.spark.sparkContext.broadcast(cm)
        self.cm, self.res = cm, res

    def assign_snapshot(self, layers, root: str, out: str, traced: bool):
        """The full-snapshot path of jobs/assign_pages.py: scan -> geocode
        -> packed join -> parquet sink -> text-invariant hash -> lineage."""
        spark = self.spark
        scan = pages_table.scan(spark, root)
        pts = with_coordinates(scan).select("url", "warc_ts", pack_coords_col())
        assigned = assign_tzid_udf_packed(pts, self.bc, self.bands)
        if traced:
            with layers.layer("force.scan"):
                _noop(scan)
            with layers.layer("force.geocode"):
                _noop(pts)
            with layers.layer("force.join"):
                _noop(assigned)
        stage = os.path.join(out, "assign")
        with layers.layer("sink.assign"):
            assigned.write.mode("overwrite").parquet(stage)
        assigned = spark.read.parquet(stage)
        with layers.layer("sink.invariant_in"):
            h_in = _invariant(scan)
        a = assigned.select(
            F.col("url").alias("a_url"), F.col("warc_ts").alias("a_ts"), "tzid", "method"
        )
        joined = scan.join(
            a, (scan["url"] == a["a_url"]) & scan["warc_ts"].eqNullSafe(a["a_ts"]), "inner"
        ).drop("a_url", "a_ts")
        with layers.layer("sink.joined"):
            joined.write.mode("overwrite").parquet(os.path.join(out, "assigned_pages"))
        with layers.layer("lineage"):
            lineage_table(assigned, "url").write.mode("overwrite").parquet(
                os.path.join(out, "lineage")
            )
        with layers.layer("sink.invariant_out"):
            h_out = _invariant(spark.read.parquet(os.path.join(out, "assigned_pages")))
        return assigned, h_in, h_out

    def op(self, layers: Layers, k: int, traced: bool) -> bool:
        out = os.path.join(self.work, f"op-{k % 2}")
        assigned, h_in, h_out = self.assign_snapshot(layers, self.pages_root, out, traced)
        self.last = assigned
        return h_in == h_out and h_in[1] == self.n_pages

    def warmup(self, traced: bool) -> None:
        # a fresh JVM's first op runs ~3x as long as a settled op and the
        # JIT keeps shortening the next few: the timed ops' median is only
        # comparable over a fixed count of them (min_ops; README.md)
        for _ in range(self.warmup_ops):
            self.assign_snapshot(
                NoLayers(), self.pages_root, os.path.join(self.work, "warm"), False
            )

    def _check_last_op(self) -> int:
        """The last op's method mix must cover every page, and a seeded
        sample of its assignments must match the brute-force oracle;
        returns the number of failures (mismatching rows count one each)."""
        self.methods = _count_methods(self.last)
        bad = int(sum(self.methods.values()) != self.n_pages)
        rng = np.random.default_rng([self.seed, 99])
        n = len(self.lon)
        idx = np.sort(rng.choice(n, min(ORACLE_SAMPLE, n), replace=False))
        urls = [f"https://{self.url_host}.example/{self.seed}/{int(i):08d}" for i in idx]
        got = {
            r["url"]: r["tzid"]
            for r in self.last.where(F.col("url").isin(urls)).select("url", "tzid").collect()
        }
        want = oracle.brute_force(self.zones, self.bands, self.lon[idx], self.lat[idx])
        return bad + oracle.mismatches(want, [got.get(u, "<missing>") for u in urls])

    def named_metrics(self, op_s: float, n_ops: int) -> dict:
        return {"pages_per_s": self.n_pages / op_s, "snapshot_pages": self.n_pages}

    def text_bytes(self) -> int:
        r = pages_table.scan(self.spark, self.pages_root).agg(
            F.sum(F.octet_length("text")).alias("b")
        ).collect()[0]
        return int(r["b"])

    def join_counts(self, lon, lat) -> dict[str, float]:
        """Operation counts of the two-stage join on these coordinates,
        from the CellMap's own probes: (point, zone) PIP candidates that
        can beat the full hit, the ring edges they test, and the kNN
        candidates of the points stage 2 leaves unassigned."""
        cm = self.cm
        has = ~(np.isnan(lon) | np.isnan(lat))
        hl, ha = lon[has], lat[has]
        big = np.iinfo(np.int32).max
        full_tz, seg = cm.probe(hl, ha)
        off, czs = cm.ivl_cand_off, cm.ivl_cand_tz
        cnt = off[seg + 1] - off[seg]
        pt = np.repeat(np.arange(len(hl)), cnt)
        starts = np.repeat(off[seg], cnt)
        intra = np.arange(len(pt)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        z = czs[starts + intra]
        assigned = np.where(full_tz == big, -1, full_tz)[pt]
        keep = (assigned < 0) | (z < assigned)
        edges = cm.zone_edge_counts()
        _, methods = assign_codes(
            cm, _band_edges(self.bands), len(self.bands), hl, ha, KNN_MAX_METERS
        )
        miss = (methods == METHOD_NAMES.index("knn")) | (methods == METHOD_NAMES.index("ocean"))
        k0, k1 = cm.knn_candidates(hl[miss], ha[miss])
        n = max(len(hl), 1)
        return {
            "join.pip_candidates_per_pt": float(keep.sum()) / n,
            "join.pip_edges_per_pt": float(edges[z[keep]].sum()) / n,
            "join.knn_candidates_per_pt": float((k1 - k0).sum()) / n,
        }

    def kernel_split(self, lon, lat) -> dict[str, float]:
        """Single-core `assign_codes` time per point on this workload's
        coordinates, grouped by the method each point resolves by."""
        has = ~(np.isnan(lon) | np.isnan(lat))
        hl, ha = lon[has][:KERNEL_SAMPLE], lat[has][:KERNEL_SAMPLE]
        be, nb = _band_edges(self.bands), len(self.bands)
        _, methods = assign_codes(self.cm, be, nb, hl, ha, KNN_MAX_METERS)
        out = {}
        for m in ("cell", "pip", "knn", "ocean"):
            sel = methods == METHOD_NAMES.index(m)
            if not sel.any():  # reported as missing: the mix lost a path
                continue
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                assign_codes(self.cm, be, nb, hl[sel], ha[sel], KNN_MAX_METERS)
                ts.append(time.perf_counter() - t0)
            out[f"kernel.{m}_us"] = float(np.median(ts)) / int(sel.sum()) * 1e6
        return out


    def _append_coords(self, salt: int, n: int):
        lon, lat = gen.interior_points(self.seed, n, salt=salt)
        return gen.with_none(self.seed, lon, lat, 0.10, salt=salt)

    def _append_inputs(self) -> None:
        d = self.input_dir(f"append{self.append_base}")
        base = self._pages_table(d, *self._append_coords(7, self.append_base), 7, self.url_host)
        self.segments = []
        for c in range(self.append_cycles):
            path = os.path.join(d, f"segment-{c}.parquet")
            if not os.path.exists(path):
                lon, lat = self._append_coords(1000 + c, self.append_segment)
                pdf = gen.pages_pdf(self.seed, lon, lat, 1000 + c, 8, f"seg{c}")
                gen.write_pages_parquet(pdf, path + ".tmp")
                os.rename(path + ".tmp", path)
            self.segments.append(path)
        # the cycles append to a copy: the cached base stays one snapshot
        self.append_root = os.path.join(self.work, "append-pages")
        shutil.copytree(base, self.append_root)

    def _assign_xy(self, scan):
        pts = with_coordinates(scan).select("url", "warc_ts", "lon", "lat", pack_coords_col())
        return assign_tzid_udf_packed(pts, self.bc, self.bands)

    def after_ops(self, layers, traced: bool) -> list[float]:
        if not traced:
            return []
        self._append_inputs()
        spark = self.spark
        cursor = pages_table.current_snapshot_id(self.append_root)
        base_tiles = os.path.join(self.work, "tiles-base")
        page_tile_counts(
            self._assign_xy(pages_table.scan(spark, self.append_root)), TILE_RES
        ).write.parquet(base_tiles)
        self.tiles = spark.read.parquet(base_tiles)
        self.inc_rows = 0
        walls = []
        for c, seg_path in enumerate(self.segments):
            t0 = time.perf_counter()
            cursor = self._cycle(layers, c, seg_path, cursor)
            walls.append(time.perf_counter() - t0)
        return walls

    def _cycle(self, layers, c: int, seg_path: str, cursor: str) -> str:
        """commit_append -> added_paths_since -> geocode -> packed join ->
        increment parquet -> page_tile_counts -> merge_tile_counts -> write."""
        spark = self.spark
        layers.tracer.op_id = f"cycle-{c}"
        seg = spark.read.schema(pages_table.PAGES_SCHEMA).parquet(seg_path)
        with layers.layer("pages.commit"):
            sid = pages_table.commit_append(self.append_root, seg)
        with layers.layer("pages.delta"):
            delta = pages_table.added_paths_since(self.append_root, sid, cursor)
        scan = spark.read.schema(pages_table.PAGES_SCHEMA).parquet(*[e["path"] for e in delta])
        inc_path = os.path.join(self.work, "increments", f"snap-{sid}")
        with layers.layer("increment"):
            self._assign_xy(scan).write.parquet(inc_path)
        got = spark.read.parquet(inc_path)
        counts = page_tile_counts(got, TILE_RES)
        with layers.layer("tiles.count"):
            _noop(counts)
        tiles_path = os.path.join(self.work, f"tiles-{c}")
        with layers.layer("tiles.merge"):
            merge_tile_counts(self.tiles, counts).write.parquet(tiles_path)
        self.tiles = spark.read.parquet(tiles_path)
        self.inc_rows += got.count()
        self.commit_files = sum(
            len([f for f in os.listdir(e["path"]) if f.endswith(".parquet")]) for e in delta
        )
        return sid

    def final_check(self) -> int:
        """The sampled brute-force check, plus: the maintained tiles equal
        a from-scratch rollup of the final append snapshot, and the
        increments hold every appended row."""
        bad = self._check_last_op()
        if not hasattr(self, "tiles"):  # untraced runs skip the append path
            return bad
        fresh = page_tile_counts(
            self._assign_xy(pages_table.scan(self.spark, self.append_root)), TILE_RES
        ).toPandas()
        kept = self.tiles.toPandas()
        key = ["cell_id", "res", "tzid"]
        a = fresh.sort_values(key).reset_index(drop=True)
        b = kept[a.columns].sort_values(key).reset_index(drop=True)
        bad += 0 if a.equals(b) else 1
        bad += int(self.inc_rows != self.append_segment * self.append_cycles)
        self.live_cells = len(kept)
        return bad

    def counts_after(self) -> dict[str, float]:
        m = self.methods
        probed = max(sum(v for k, v in m.items() if k != "none"), 1)
        out = {f"join.{k}_frac": m.get(k, 0) / probed for k in ("cell", "pip", "knn", "ocean")}
        out["join.none_frac"] = m.get("none", 0) / self.n_pages
        out["geocode.hit_frac"] = 1.0 - out["join.none_frac"]
        out["cover.res"] = float(self.res)
        out["cover.cells"] = float(len(self.cm.full_cells) + len(self.cm.bnd_cells))
        out["cover.broadcast_bytes"] = float(
            len(pickle.dumps(self.cm, protocol=pickle.HIGHEST_PROTOCOL))
        )
        out.update(self.join_counts(self.lon, self.lat))
        out.update(self.kernel_split(self.lon, self.lat))
        if hasattr(self, "live_cells"):  # traced runs: the append path
            out["tiles.live_cells"] = float(self.live_cells)
            out["pages.commit_files"] = float(self.commit_files)
        return out


# ---------------------------------------------------------------- Part A


class PartABuild(Workload):
    """lint -> build_zones -> validate_overlaps -> build_ocean_zones ->
    write_feature_collection_distributed on a reference-shaped config.
    A build is a batch job that runs once per process, so the one op of an
    untraced run is the cold build users see."""

    name = "parta_build"
    min_ops = 1
    layers = frozenset(
        ("lint", "zone_build", "validate", "oceans", "outputs", "other", "trace", "jvm")
    )

    def prepare(self) -> None:
        self.ref_dir = os.path.join(self.input_dir("config"), "reference")
        if not os.path.exists(os.path.join(self.ref_dir, "_done")):
            gen.write_reference(self.seed, self.ref_dir)
            with open(os.path.join(self.ref_dir, "_done"), "w") as f:
                f.write("ok")

    def setup(self, tracer) -> None:
        from timezone_boundary_builder_spark.sources import real_config as rc

        spark = self.spark
        with tracer.span("config.load"):
            rc._world.cache_clear()
            zc = rc.real_zones_config_pdf(self.ref_dir).drop(columns=["planted"])
            self.zc = spark.createDataFrame(zc)
            self.src = spark.createDataFrame(rc.real_sources_pdf(self.ref_dir))
            exp = rc.real_expected_overlaps_pdf(self.ref_dir)
            self.exp_pairs = {tuple(sorted(p)) for p in zip(exp.tz_a, exp.tz_b)}
            self.exp = spark.createDataFrame(exp)
            self.bands = spark.createDataFrame(real_ocean_bands_pdf())

    def warmup(self, traced: bool) -> None:
        """The traced run compares warm untraced and traced builds, so it
        first builds the package's 8-zone fixture config: the same plans
        and Python workers at a fraction of the data."""
        if not traced:
            return
        from timezone_boundary_builder_spark.sources import fixtures

        spark = self.spark
        self.build(
            NoLayers(),
            spark.createDataFrame(fixtures.zones_config_pdf()),
            spark.createDataFrame(fixtures.sources_pdf()),
            spark.createDataFrame(fixtures.expected_overlaps_pdf()),
            spark.createDataFrame(fixtures.ocean_bands_pdf()),
            os.path.join(self.work, "warm"),
        )

    def op(self, layers: Layers, k: int, traced: bool) -> bool:
        out = os.path.join(self.work, f"build-{k % 2}")
        errors, zones, v, oceans, n_out = self.build(
            layers, self.zc, self.src, self.exp, self.bands, out
        )
        self.zones, self.oceans, self.v = zones, oceans, v
        return self.check(errors, v, n_out)

    def build(self, layers, zc, src, exp, bands, out: str):
        from timezone_boundary_builder_spark.operators.lint import lint_config
        from timezone_boundary_builder_spark.operators.oceans import build_ocean_zones
        from timezone_boundary_builder_spark.operators.outputs import (
            write_feature_collection_distributed,
        )
        from timezone_boundary_builder_spark.operators.validate import validate_overlaps
        from timezone_boundary_builder_spark.operators.zone_build import build_zones

        spark = self.spark
        with layers.layer("lint"):
            errors = lint_config(zc, src, exp).collect()
        with layers.layer("zone_build"):
            build_zones(spark, zc, src).write.mode("overwrite").parquet(
                os.path.join(out, "zones")
            )
        zones = spark.read.parquet(os.path.join(out, "zones"))
        with layers.layer("validate"):
            v = validate_overlaps(spark, zones, exp).collect()
        with layers.layer("oceans"):
            build_ocean_zones(spark, bands, zones).write.mode("overwrite").parquet(
                os.path.join(out, "oceans")
            )
        oceans = spark.read.parquet(os.path.join(out, "oceans"))
        with layers.layer("outputs"):
            n_out = write_feature_collection_distributed(
                zones.unionByName(oceans), os.path.join(out, "collection")
            )
        return errors, zones, v, oceans, n_out

    def check(self, errors, v, n_out) -> bool:
        land = self.zones.agg(F.count(F.lit(1)), F.sum("area_deg2")).collect()[0]
        sea = self.oceans.agg(F.count(F.lit(1)), F.sum("area_deg2")).collect()[0]
        overlap = sum(r.overlap_area_deg2 for r in v)
        globe = land[1] - overlap + sea[1]
        return (
            not errors
            and land[0] == gen.N_ZONES
            and all(r.allowed for r in v)
            and {(r.tz_a, r.tz_b) for r in v} == self.exp_pairs
            and n_out == land[0] + sea[0]
            and abs(globe - 360.0 * 180.0) < 1e-3
        )

    def final_check(self) -> int:
        return 0

    def named_metrics(self, op_s: float, n_ops: int) -> dict:
        return {"build_s": op_s}

    def counts_after(self) -> dict[str, float]:
        zones = self.zones
        bands = self.bands
        pairs = (
            zones.alias("a")
            .join(
                zones.alias("b"),
                (F.col("a.tzid") < F.col("b.tzid"))
                & (F.col("a.min_x") <= F.col("b.max_x"))
                & (F.col("a.max_x") >= F.col("b.min_x"))
                & (F.col("a.min_y") <= F.col("b.max_y"))
                & (F.col("a.max_y") >= F.col("b.min_y")),
            )
            .count()
        )
        land_rows = bands.join(
            zones.select("min_x", "max_x"),
            (F.col("min_x") < F.col("right")) & (F.col("max_x") > F.col("left")),
        ).count()
        return {
            "validate.pairs": float(pairs),
            "validate.overlaps": float(len(self.v)),
            "oceans.land_rows": float(land_rows),
        }


WORKLOADS = {w.name: w for w in (CrawlInterior, PartABuild)}
