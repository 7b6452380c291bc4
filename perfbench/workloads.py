"""The benchmark's three workloads: seeded inputs, timed calls, output checks.

Each workload drives the package only through its public functions.  Its
``setup_inputs`` materializes the seeded inputs to parquet (timed as
``setup.inputs``), ``reference`` computes what every timed run is checked
against (untimed), ``run`` is the timed region, and ``check`` reads the
run's committed output back and compares it with the reference (untimed).
``layers`` adds the workload's own per-layer values for a traced run.

Spans: ``Tracer.span(name)`` sets the Spark job group ``name`` around one
call into the package and records its wall time.  Calls that run several
stages inside the package (``run_tiler``, ``incremental_update``) get one
group; ``Tracer.window`` then splits it by the program's own stage records.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import text as T
from freemap_tiler_spark.functions.mercator import ORIGIN, WORLD, np_lonlat_to_tile
from freemap_tiler_spark.operators import dedup, knn, pip_join, similarity
from freemap_tiler_spark.operators import pyramid as P
from freemap_tiler_spark.pipeline import run_tiler
from freemap_tiler_spark.plans import lineage as L
from freemap_tiler_spark.plans import store
from freemap_tiler_spark.sources.corpus import geotagged_corpus
from freemap_tiler_spark.sources.raster_blocks import raster_blocks
from freemap_tiler_spark.streaming import incremental_update

import checks

IDLE_GROUP = "bench.idle"


class Tracer:
    """Records the benchmark's spans; sets the job group Spark logs with
    every job, so the event-log fold can attribute jobs to spans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)
            self.spans.append({"name": name, "group": name, "wall": t1 - t0,
                               "start": t0, "end": t1})

    def window(self, name: str, group: str, start: float, end: float, wall: float) -> None:
        """A span inside a group's span: the group's jobs submitted in
        [start, end), with the program's own seconds for the stage."""
        self.spans.append({"name": name, "group": group, "wall": wall,
                           "start": start, "end": end})

    def last(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)


def _mix(seed: int, salt: int) -> int:
    """Deterministic 31-bit value from (seed, salt)."""
    x = (seed * 0x9E3779B1 + salt * 0x85EBCA77 + 0x165667B1) & 0xFFFFFFFF
    x ^= x >> 15
    x = (x * 0x2C1B3C6D) & 0xFFFFFFFF
    x ^= x >> 12
    return x & 0x7FFFFFFF


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(base, name))
    return total


# ---------------------------------------------------------------- corpus

def corpus_offset(seed: int) -> int:
    """Start of the seed's corpus id window.  A multiple of 60 keeps every
    residue the corpus law keys on (hot cell, geotag, language) aligned, so
    each window has the same mix of hot and spread rows."""
    return (_mix(seed, 1) % 2000) * 60


def write_corpus(spark, path: str, seed: int, rows: int, dup_every: int = 19) -> None:
    """(doc_id, url, text): a window of the geotagged corpus plus, for every
    ``dup_every``-th row from a seeded phase, a near-duplicate that differs
    in its last token.  ``dup_every`` is prime to 60, so the duplicates
    spread evenly over the corpus law's hot, geotag and language classes,
    and every seed gets the same number of them, give or take one."""
    off = corpus_offset(seed)
    base = geotagged_corpus(spark, off + rows).select(
        F.substring_index("url", "/", -1).cast("long").alias("doc_id"), "url", "text"
    ).where(F.col("doc_id") >= off)
    pick = (F.col("doc_id") - off) % dup_every == _mix(seed, 6) % dup_every
    dups = base.where(pick).select(
        (F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"),
        F.concat("url", F.lit("#dup")).alias("url"),
        F.regexp_replace("text", r" w(\d+)$", " v$1").alias("text"),
    )
    base.unionByName(dups).write.mode("overwrite").parquet(path)


def extract_points(corpus):
    """The geotag extract every corpus workload starts with."""
    return corpus.select(
        F.col("doc_id").alias("point_id"),
        T.geo_lon("text").alias("lon"),
        T.geo_lat("text").alias("lat"),
    ).dropna()


def collect_points(corpus):
    """(ids, lon, lat) numpy arrays of the extracted points, on the driver."""
    pdf = extract_points(corpus).toPandas()
    return (pdf["point_id"].to_numpy(np.int64), pdf["lon"].to_numpy(float),
            pdf["lat"].to_numpy(float))


def expected_level_counts(lon, lat, max_zoom: int, min_zoom: int) -> dict:
    """Distinct tiles per zoom that a point set lights, computed on the
    driver (numpy) independently of the Spark pyramid path."""
    tx, ty = np_lonlat_to_tile(lon, lat, max_zoom)
    keys = set(zip(tx.tolist(), ty.tolist()))
    out = {}
    for z in range(max_zoom, min_zoom - 1, -1):
        out[z] = len(keys)
        keys = {(x >> 1, y >> 1) for x, y in keys}
    return out


class StoreScan:
    """One pass over the encoded store: per-zoom (tile count, xor of
    xxhash64(x, tms_y, tile_data)), total encoded bytes, the tile keys
    {zoom: {(x, y)}} with y flipped back from TMS, and the encoded tiles
    {(zoom, x, tms_y): tile_data}."""

    def __init__(self, spark, root: str):
        rows = store.read_tiles(spark, root).select(
            "zoom", "x", "tms_y", "tile_data",
            F.xxhash64("x", "tms_y", "tile_data").alias("h"),
        ).collect()
        self.digest: dict[int, tuple[int, int]] = {}
        self.keys: dict[int, set] = {}
        self.tiles: dict[tuple, bytes] = {}
        self.bytes = 0
        for r in rows:
            z, x, tms_y = int(r["zoom"]), int(r["x"]), int(r["tms_y"])
            n, h = self.digest.get(z, (0, 0))
            self.digest[z] = (n + 1, h ^ int(r["h"]))
            self.keys.setdefault(z, set()).add((x, (1 << z) - 1 - tms_y))
            data = r["tile_data"]
            self.tiles[(z, x, tms_y)] = data
            self.bytes += len(data) if data is not None else 0


def pyramid_digest(spark, root: str) -> dict:
    """Per-zoom (tile count, xor of xxhash64(cell, payload)) of the
    committed raw pyramid."""
    rows = L.read_pyramid(spark, root).groupBy("zoom").agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("cell", "payload")).alias("h"),
    ).collect()
    return {int(r["zoom"]): (int(r["n"]), int(r["h"])) for r in rows}


def pyramid_payloads(spark, root: str) -> dict:
    """{(zoom, x, tms_y): payload} of the committed raw pyramid's non-empty
    tiles: the pixels the store encodes."""
    rows = P.with_tile_keys(L.read_pyramid(spark, root)).where(
        F.length("payload") > 0).select("zoom", "x", "tms_y", "payload").collect()
    return {(int(r["zoom"]), int(r["x"]), int(r["tms_y"])): r["payload"] for r in rows}


def _parquet_rows(path: str) -> list[dict]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        rows.extend(pq.read_table(f).to_pylist())
    return rows


# ---------------------------------------------------------------- workloads

class Workload:
    name = ""
    spans: tuple[str, ...] = ()

    def __init__(self, inputs: str, seed: int):
        self.inputs = inputs
        self.seed = seed

    def setup_inputs(self, spark) -> None:
        raise NotImplementedError

    def reference(self, spark, run_dir: str) -> None:
        raise NotImplementedError

    def run(self, spark, tracer: Tracer, run_dir: str) -> dict:
        raise NotImplementedError

    def check(self, spark, run_dir: str, out: dict) -> checks.Result:
        raise NotImplementedError

    def layers(self, fold, tracer: Tracer, run_dir: str, out: dict, cores: int) -> dict:
        """Workload-specific per-layer values of one traced run."""
        return {}


class RasterTiler(Workload):
    """``pipeline.run_tiler`` on synthetic RGBA raster blocks."""

    name = "raster_tiler"
    spans = ("tiler.rasterize", "tiler.compose", "tiler.encode_write", "tiler.metadata")
    GRID, MAX_ZOOM, MIN_ZOOM, TILE, BANDS = 4, 10, 8, 256, 4

    def _shift(self) -> tuple[float, float]:
        """The seed moves the raster by whole tiles of the coarsest level, so
        every seed places it on other tile keys while each level keeps the
        same tile count and the same pixels per tile."""
        span = WORLD / (1 << self.MIN_ZOOM)
        return (_mix(self.seed, 2) % 8) * span, (_mix(self.seed, 3) % 8) * span

    def setup_inputs(self, spark) -> None:
        dx, dy = self._shift()
        gt = F.col("geo_transform")
        blocks = raster_blocks(spark, grid=self.GRID).withColumn(
            "geo_transform",
            F.array(gt[0] + F.lit(dx), gt[1], gt[2], gt[3] - F.lit(dy), gt[4], gt[5]),
        )
        blocks.write.mode("overwrite").parquet(os.path.join(self.inputs, "blocks"))

    def expected_counts(self) -> dict:
        """Tiles per zoom: every leaf tile the raster's 3857 bounds touch,
        then their ancestors; from the blocks' geo-transform alone."""
        row = pq.read_table(os.path.join(self.inputs, "blocks"),
                            columns=["geo_transform", "width"]).slice(0, 1).to_pylist()[0]
        x0, px, y1 = row["geo_transform"][0], row["geo_transform"][1], row["geo_transform"][3]
        size = self.GRID * row["width"] * px
        span = WORLD / (1 << self.MAX_ZOOM)
        xs = range(int((x0 + ORIGIN) // span), int((x0 + size + ORIGIN - 1e-9) // span) + 1)
        ys = range(int((ORIGIN - y1) // span), int((ORIGIN - (y1 - size) - 1e-9) // span) + 1)
        keys = {(x, y) for x in xs for y in ys}
        out = {}
        for z in range(self.MAX_ZOOM, self.MIN_ZOOM - 1, -1):
            out[z] = len(keys)
            keys = {(x >> 1, y >> 1) for x, y in keys}
        return out

    def _tile(self, spark, root: str) -> dict:
        blocks = spark.read.parquet(os.path.join(self.inputs, "blocks"))
        return run_tiler(spark, blocks, root, max_zoom=self.MAX_ZOOM,
                         min_zoom=self.MIN_ZOOM, tile_size=self.TILE, resume=False)

    def reference(self, spark, run_dir: str) -> None:
        self.ref_counts = self.expected_counts()
        # tile content is pinned by a reference run, which also warms the
        # code paths the timed runs take
        self._tile(spark, run_dir)
        self.ref_digest = StoreScan(spark, run_dir).digest

    def run(self, spark, tracer, run_dir) -> dict:
        with tracer.span("tiler.run"):
            counts = self._tile(spark, run_dir)
        return {"counts": counts}

    def check(self, spark, run_dir, out) -> checks.Result:
        scan = StoreScan(spark, run_dir)
        tiles = sum(n for n, _h in scan.digest.values())
        failed = checks.tile_store(scan.digest, scan.keys, out["counts"], self.ref_counts,
                                   self.ref_digest)
        failed += checks.tile_pixels(scan.tiles, pyramid_payloads(spark, run_dir),
                                     self.TILE, self.BANDS)
        return checks.Result(tiles, scan.bytes / max(tiles, 1), failed)

    def layers(self, fold, tracer, run_dir, out, cores) -> dict:
        for r in pq.read_table(os.path.join(run_dir, "_metrics")).to_pylist():
            tracer.window(f"tiler.{r['stage']}", "tiler.run",
                          r["ts"] - r["seconds"], r["ts"], r["seconds"])
        jobs = fold.span_jobs(tracer.last("tiler.run"))
        written = dir_bytes(os.path.join(run_dir, "tiles"))
        read = fold.read_bytes(jobs, os.path.join(run_dir, "tiles"))
        return {"tiler.read_amp": read / written}


class CorpusRefresh(Workload):
    """The corpus path, then an incremental refresh of what it committed.

    Each run builds the pyramid and the encoded store from 98% of the
    corpus points (geotag extract -> leaf tiles -> committed pyramid ->
    encoded store -> metadata), then refreshes the committed pyramid with
    the remaining 2% through ``streaming.incremental_update``."""

    name = "corpus_refresh"
    spans = ("corpus.extract", "corpus.leaves", "corpus.write_pyramid",
             "corpus.write_tiles", "corpus.metadata", "incr.update")
    ROWS, NEW_EVERY, MAX_ZOOM, MIN_ZOOM, TILE, BANDS = 8000, 49, 12, 11, 64, 2

    def setup_inputs(self, spark) -> None:
        write_corpus(spark, os.path.join(self.inputs, "corpus"), self.seed, self.ROWS)

    def _corpus(self, spark):
        """(corpus, is_new): every ``NEW_EVERY``-th document, from a seeded
        phase, arrives after the build (prime to 60, like the duplicates)."""
        corpus = spark.read.parquet(os.path.join(self.inputs, "corpus"))
        is_new = F.col("doc_id") % self.NEW_EVERY == _mix(self.seed, 7) % self.NEW_EVERY
        return corpus, is_new

    def _build(self, spark, tracer, corpus, root: str) -> dict:
        with tracer.span("corpus.extract"):
            pts = extract_points(corpus).persist()
            pts.count()
        with tracer.span("corpus.leaves"):
            leaves = P.rasterize_level(
                P.assign_cells(pts, "lon", "lat", self.MAX_ZOOM), self.TILE
            ).persist()
            leaves.count()
        with tracer.span("corpus.write_pyramid"):
            counts = L.write_pyramid(spark, leaves, root, self.MAX_ZOOM, self.MIN_ZOOM,
                                     self.TILE, bands=self.BANDS, resume=False)
        with tracer.span("corpus.write_tiles"):
            store.write_tiles(spark, L.read_pyramid(spark, root), root, "png",
                              tile_size=self.TILE, bands=self.BANDS)
        with tracer.span("corpus.metadata"):
            L.write_metadata(spark, root, P.with_tile_keys(L.read_pyramid(spark, root)),
                             name="corpus", min_zoom=self.MIN_ZOOM, max_zoom=self.MAX_ZOOM)
        leaves.unpersist()
        pts.unpersist()
        return counts

    def _pyramid(self, spark, points, root: str) -> None:
        leaves = P.rasterize_level(
            P.assign_cells(extract_points(points), "lon", "lat", self.MAX_ZOOM), self.TILE)
        L.write_pyramid(spark, leaves, root, self.MAX_ZOOM, self.MIN_ZOOM, self.TILE,
                        bands=self.BANDS, resume=False)

    def reference(self, spark, run_dir) -> None:
        corpus, is_new = self._corpus(spark)
        # the store of the 98% build: expected tile counts per zoom from
        # numpy on the driver, and the pixels it must hold.  The refresh
        # rewrites the run's own pyramid, so those come from a reference
        # build of the same points.
        _ids, lon, lat = collect_points(corpus.where(~is_new))
        self.ref_counts = expected_level_counts(lon, lat, self.MAX_ZOOM, self.MIN_ZOOM)
        self._pyramid(spark, corpus.where(~is_new), os.path.join(run_dir, "build"))
        self.ref_payloads = pyramid_payloads(spark, os.path.join(run_dir, "build"))
        # the refreshed pyramid must equal a full rebuild over all points
        self._pyramid(spark, corpus, os.path.join(run_dir, "full"))
        self.ref_pyramid = pyramid_digest(spark, os.path.join(run_dir, "full"))

    def run(self, spark, tracer, run_dir) -> dict:
        corpus, is_new = self._corpus(spark)
        counts = self._build(spark, tracer, corpus.where(~is_new), run_dir)
        # what the build committed, before the refresh rewrites it
        built = {"tiles_bytes": dir_bytes(os.path.join(run_dir, "tiles")),
                 "lineage_before": set(os.listdir(os.path.join(run_dir, "_lineage")))}
        pts = extract_points(corpus)
        with tracer.span("incr.update"):
            dirty = incremental_update(spark, pts, extract_points(corpus.where(is_new)),
                                       run_dir, self.MAX_ZOOM, self.MIN_ZOOM, self.TILE)
        return {"counts": counts, "dirty": dirty, **built}

    def check(self, spark, run_dir, out) -> checks.Result:
        scan = StoreScan(spark, run_dir)
        stored = sum(n for n, _h in scan.digest.values())
        failed = checks.tile_store(scan.digest, scan.keys, out["counts"], self.ref_counts)
        failed += checks.tile_pixels(scan.tiles, self.ref_payloads, self.TILE, self.BANDS)
        failed += checks.refresh(pyramid_digest(spark, run_dir), self.ref_pyramid,
                                 out["dirty"])
        return checks.Result(stored + sum(out["dirty"].values()),
                             scan.bytes / max(stored, 1), failed)

    def layers(self, fold, tracer, run_dir, out, cores) -> dict:
        """Read amplification of the build, and per refreshed level the
        level's seconds from ``_lineage`` and its jobs by submission time
        between consecutive level commits (the modification time of the
        lineage file each commit appends)."""
        jobs = set()
        for name in ("corpus.write_pyramid", "corpus.write_tiles", "corpus.metadata"):
            jobs |= fold.span_jobs(tracer.last(name))
        tiles = os.path.join(run_dir, "tiles")
        vals = {"corpus.read_amp": fold.read_bytes(jobs, tiles) / out["tiles_bytes"]}
        ldir = os.path.join(run_dir, "_lineage")
        commits = {}
        for f in sorted(set(os.listdir(ldir)) - out["lineage_before"]):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(ldir, f)
            for r in pq.read_table(path).to_pylist():
                if r["status"] == "committed" and r["partition"] == -1:
                    commits[r["level"]] = (os.path.getmtime(path), r["seconds"], r["row_count"])
        start = tracer.last("incr.update")["start"]
        for z in sorted(commits, reverse=True):
            end, secs, _rows = commits[z]
            tracer.window(f"incr.level{z}", "incr.update", start, end, secs)
            start = end
        rewritten = sum(rows for _e, _s, rows in commits.values())
        vals["incr.write_amp"] = rewritten / sum(out["dirty"].values())
        return vals


POLYGONS = [
    ([17.0, 18.2, 18.0, 16.9], [48.0, 48.1, 49.2, 49.0]),
    ([19.0, 21.0, 21.0, 20.0, 20.0, 19.0], [48.0, 48.0, 48.5, 48.5, 49.5, 49.5]),
    ([16.9, 22.5, 22.5, 16.9], [47.8, 47.8, 48.2, 48.2]),
]


def seeded_polygons(seed: int) -> list[dict]:
    """The three Slovakia test polygons, each vertex jittered by up to
    +-0.02 degrees from the seed."""
    rng = np.random.default_rng(_mix(seed, 4))
    out = []
    for i, (xs, ys) in enumerate(POLYGONS):
        x = np.asarray(xs, float) + rng.uniform(-0.02, 0.02, len(xs))
        y = np.asarray(ys, float) + rng.uniform(-0.02, 0.02, len(ys))
        out.append({"poly_id": i + 1, "tag": f"p{i}", "rings": [(x, y)],
                    "bbox": (x.min(), y.min(), x.max(), y.max())})
    return out


class SpatialJoins(Workload):
    """PIP, kNN, MinHash-LSH and cosine top-k on the corpus; never touches
    the pyramid, lineage or store layers."""

    name = "spatial_joins"
    spans = ("joins.extract", "joins.pip", "joins.knn", "joins.dedup", "joins.similarity")
    ROWS, PROBES, K, ZOOM = 8000, 200, 5, 12
    RINGS = (1, 2, 4)   # knn_join's ring schedule at its default expand_rounds=2
    VECTORS, DIM, VEC_PROBE_EVERY, TOPK = 2000, 64, 20, 10

    def __init__(self, inputs: str, seed: int):
        super().__init__(inputs, seed)
        self.polygons = seeded_polygons(seed)

    def setup_inputs(self, spark) -> None:
        cpath = os.path.join(self.inputs, "corpus")
        write_corpus(spark, cpath, self.seed, self.ROWS)
        # the kNN probes: a fixed number of points, chosen by the seed
        extract_points(spark.read.parquet(cpath)).orderBy(
            F.xxhash64(F.lit(self.seed), "point_id")).limit(self.PROBES).select(
            F.col("point_id").alias("probe_id"), "lon", "lat").write.mode(
            "overwrite").parquet(os.path.join(self.inputs, "probes"))
        # the shape of the repo's embeddings fixture: unit vectors spread
        # uniformly over the sphere, with a label in 0..9
        rng = np.random.default_rng(_mix(self.seed, 5))
        emb = rng.standard_normal((self.VECTORS, self.DIM))
        emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(self.VECTORS, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, self.VECTORS, dtype=np.int32)),
        }), os.path.join(self.inputs, "embeddings.parquet"))

    def _frames(self, spark):
        corpus = spark.read.parquet(os.path.join(self.inputs, "corpus"))
        emb = spark.read.parquet(os.path.join(self.inputs, "embeddings.parquet"))
        return corpus, emb

    def _probes(self, spark):
        return spark.read.parquet(os.path.join(self.inputs, "probes"))

    def _vec_probes(self, emb):
        return emb.where(F.col("vec_id") % self.VEC_PROBE_EVERY == 0).select(
            F.col("vec_id").alias("probe_id"), "embedding")

    def _docs(self, corpus):
        return corpus.select("doc_id", "text")

    def reference(self, spark, run_dir) -> None:
        corpus, emb = self._frames(spark)
        ids, lon, lat = collect_points(corpus)
        pip = set()
        for p in self.polygons:
            inside = pip_join.points_in_polygon(lon, lat, p["rings"])
            pip |= {(int(i), p["poly_id"]) for i in ids[inside]}
        pts = extract_points(corpus)
        probes = self._probes(spark).toPandas()
        self.ref = {
            "pip": pip,
            "knn": {(r["probe_id"], r["rank"]): (r["point_id"], r["dist"])
                    for r in knn.knn_join_brute(self._probes(spark), pts, k=self.K).collect()},
            "knn_ring": checks.ring_knn(
                (probes["probe_id"], probes["lon"], probes["lat"]), (ids, lon, lat),
                self.K, self.ZOOM, self.RINGS),
            "dedup": dedup.minhash_lsh_pairs(self._docs(corpus), num_hashes=8,
                                             bands=4).count(),
            "similarity": similarity.brute_force_topk(self._vec_probes(emb), emb,
                                                      k=self.TOPK).count(),
        }

    def run(self, spark, tracer, run_dir) -> dict:
        corpus, emb = self._frames(spark)
        with tracer.span("joins.extract"):
            pts = extract_points(corpus).persist()
            pts.count()
        with tracer.span("joins.pip"):
            pip_join.pip_join_broadcast(pts, self.polygons).select(
                "point_id", "poly_id").write.parquet(os.path.join(run_dir, "pip"))
        with tracer.span("joins.knn"):
            knn.knn_join(self._probes(spark), pts, k=self.K, zoom=self.ZOOM).write.parquet(
                os.path.join(run_dir, "knn"))
        with tracer.span("joins.dedup"):
            dedup.minhash_lsh_pairs(self._docs(corpus), num_hashes=8, bands=4).write.parquet(
                os.path.join(run_dir, "dedup"))
        with tracer.span("joins.similarity"):
            similarity.brute_force_topk(self._vec_probes(emb), emb, k=self.TOPK).write.parquet(
                os.path.join(run_dir, "similarity"))
        pts.unpersist()
        return {}

    def check(self, spark, run_dir, out) -> checks.Result:
        parts = {k: _parquet_rows(os.path.join(run_dir, k))
                 for k in ("pip", "knn", "dedup", "similarity")}
        rows = sum(len(v) for v in parts.values())
        sink = sum(dir_bytes(os.path.join(run_dir, k)) for k in parts)
        failed, miss = checks.joins({
            "pip": {(r["point_id"], r["poly_id"]) for r in parts["pip"]},
            "knn": {(r["probe_id"], r["rank"]): (r["point_id"], r["dist"])
                    for r in parts["knn"]},
            "dedup": len(parts["dedup"]),
            "similarity": len(parts["similarity"]),
        }, self.ref)
        return checks.Result(rows, sink / max(rows, 1), failed,
                             {"joins.knn_miss_rows": float(miss)})


WORKLOADS = {w.name: w for w in (RasterTiler, CorpusRefresh, SpatialJoins)}


def level_spans(workload) -> tuple[str, ...]:
    if workload is CorpusRefresh:
        return tuple(f"incr.level{z}" for z in range(
            CorpusRefresh.MAX_ZOOM, CorpusRefresh.MIN_ZOOM - 1, -1))
    return ()

