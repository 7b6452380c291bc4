"""Tests for the benchmark itself: the event-log fold, the output checks
(the PNG pixel check among them), seeded inputs, and the metric list in
BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import struct
import sys
import zlib

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import checks  # noqa: E402
import eventlog  # noqa: E402

DATA = os.path.join(HERE, "data")


# ------------------------------------------------------------ event-log fold

@pytest.fixture(scope="module")
def tiny():
    """A trimmed event log captured from a local[4] session: span ``a.write``
    wrote 200 rows as two parquet files (1204 + 1208 bytes) under
    /bench/data/tiles, span ``b.read`` read them back through a pandas UDF
    and a groupBy; two warm-up jobs ran before any span."""
    fold = eventlog.Fold(eventlog.read_events(os.path.join(DATA, "eventlog")))
    with open(os.path.join(DATA, "tiny_spans.json")) as fh:
        spans = json.load(fh)
    return fold, spans


def test_fold_attributes_jobs_to_spans(tiny):
    fold, spans = tiny
    assert len(fold.jobs) == 6
    assert len(fold.jobs_in("a.write")) == 1
    assert len(fold.jobs_in("b.read")) == 3
    got = eventlog.fold_spans(fold, spans, cores=4)
    assert got["a.write.jobs"] == 1.0
    assert got["a.write.exec_cpu_s"] == pytest.approx(0.619256411)
    assert got["a.write.idle_core_s"] == pytest.approx(4 * spans[0]["wall"] - 1.215)
    assert got["a.write.python_s"] == 0.0
    assert got["b.read.jobs"] == 3.0
    assert got["b.read.wall_s"] == pytest.approx(spans[1]["wall"])
    assert got["b.read.exec_cpu_s"] == pytest.approx(0.250964214)
    assert got["b.read.idle_core_s"] == pytest.approx(4 * spans[1]["wall"] - 0.759)
    assert got["b.read.python_s"] == pytest.approx(0.613)
    assert got["b.read.shuffle_mb"] == pytest.approx(424 / eventlog.MB)


def test_fold_windows_split_a_group_by_submission_time(tiny):
    fold, spans = tiny
    read = spans[1]
    mid = (read["start"] + read["end"]) / 2
    first = fold.jobs_in("b.read", (read["start"], mid))
    second = fold.jobs_in("b.read", (mid, read["end"] + 1))
    assert first | second == fold.jobs_in("b.read")
    assert not first & second
    assert fold.jobs_in("b.read", (0.0, read["start"])) == set()


def test_fold_files_read_and_workload_counters(tiny):
    fold, _spans = tiny
    assert fold.read_bytes(fold.jobs_in("b.read"), "/bench/data/tiles") == 1204 + 1208
    assert fold.read_bytes(fold.jobs_in("a.write"), "/bench/data/tiles") == 0
    assert fold.read_bytes(fold.jobs_in("b.read"), "/elsewhere") == 0
    wl = fold.workload(fold.jobs_in("a.write") | fold.jobs_in("b.read"), cores=4)
    assert set(wl) == set(eventlog.WORKLOAD_COUNTERS)
    assert wl["spill_mb"] == 0.0
    assert wl["task_skew"] >= 1.0
    assert wl["peak_exec_mem_mb"] > 0


# ------------------------------------------------------------ output checks

def _pyramid():
    """A closed three-level pyramid: digest, keys and counts."""
    keys = {3: {(4, 4), (5, 4), (5, 5), (6, 7)}}
    keys[2] = {(x >> 1, y >> 1) for x, y in keys[3]}
    keys[1] = {(x >> 1, y >> 1) for x, y in keys[2]}
    digest = {z: (len(k), 1000 + z) for z, k in keys.items()}
    counts = {z: len(k) for z, k in keys.items()}
    return digest, keys, counts


def test_tile_store_passes_a_consistent_store():
    digest, keys, counts = _pyramid()
    assert checks.tile_store(digest, keys, dict(counts), counts, dict(digest)) == []


def test_tile_store_fails_on_a_corrupted_digest():
    digest, keys, counts = _pyramid()
    bad = dict(digest)
    bad[2] = (bad[2][0], bad[2][1] ^ 1)
    assert checks.tile_store(bad, keys, counts, counts, digest) == ["digest"]


def test_tile_store_fails_on_a_corrupted_count():
    digest, keys, counts = _pyramid()
    bad = dict(digest)
    bad[3] = (bad[3][0] + 1, bad[3][1])
    assert "counts" in checks.tile_store(bad, keys, counts, counts, digest)
    wrong = dict(counts)
    wrong[1] += 1
    assert checks.tile_store(digest, keys, wrong, counts, digest) == ["returned"]


def test_tile_store_fails_on_a_broken_closure():
    digest, keys, counts = _pyramid()
    orphan = {z: set(k) for z, k in keys.items()}
    orphan[2].add((0, 0))
    assert checks.tile_store(digest, orphan, counts, counts, digest) == ["closure"]
    gap = {3: keys[3], 1: keys[1]}
    assert not checks.closure(gap)


def test_refresh_fails_on_a_corrupted_digest_or_idle_level():
    full = {12: (90, 7), 11: (40, 9)}
    assert checks.refresh(dict(full), full, {12: 3, 11: 2}) == []
    assert checks.refresh({12: (90, 7), 11: (40, 8)}, full, {12: 3, 11: 2}) == ["refresh"]
    assert checks.refresh({12: (89, 7), 11: (40, 9)}, full, {12: 3, 11: 2}) == ["refresh"]
    assert checks.refresh(dict(full), full, {12: 3}) == ["dirty"]


def _png(img, filters) -> bytes:
    """A PNG of ``img`` (h, w, bands) u8 whose row r uses PNG filter
    ``filters[r % len(filters)]``; written here, apart from any codec."""
    h, w, b = img.shape
    x = img.reshape(h, w * b).astype(np.int32)
    lines = []
    for r in range(h):
        cur = x[r]
        up = x[r - 1] if r else np.zeros_like(cur)
        left = np.concatenate([np.zeros(b, np.int32), cur[:-b]])
        upleft = np.concatenate([np.zeros(b, np.int32), up[:-b]])
        f = filters[r % len(filters)]
        p = left + up - upleft
        pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
        pred = [0, left, up, (left + up) // 2,
                np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))][f]
        lines.append(bytes([f]) + ((cur - pred) & 0xFF).astype(np.uint8).tobytes())

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    colour = {1: 0, 2: 4, 3: 2, 4: 6}[b]
    return (checks.PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, colour, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + chunk(b"IEND", b""))


def _tiles(bands):
    """Six 8x8 tiles, each with its own filter schedule, and their pixels."""
    rng = np.random.default_rng(3)
    schedules = [[0], [1], [2], [3], [4], [4, 3, 2, 1, 0]]
    imgs = {(5, i, 0): rng.integers(0, 256, (8, 8, bands), dtype=np.uint8)
            for i in range(len(schedules))}
    tiles = {k: _png(img, schedules[k[1]]) for k, img in imgs.items()}
    return tiles, {k: img.tobytes() for k, img in imgs.items()}


@pytest.mark.parametrize("bands", [2, 4])
def test_tile_pixels_decodes_every_png_filter(bands):
    tiles, payloads = _tiles(bands)
    assert checks.tile_pixels(tiles, payloads, 8, bands) == []


@pytest.mark.parametrize("corrupt", [
    lambda t, p: p.__setitem__((5, 4, 0), bytes([p[(5, 4, 0)][0] ^ 1]) + p[(5, 4, 0)][1:]),
    lambda t, p: t.pop((5, 2, 0)),
    lambda t, p: t.__setitem__((5, 1, 0), b"not a png"),
    lambda t, p: t.__setitem__((5, 1, 0), None),
    lambda t, p: t.__setitem__((5, 1, 0), _png(np.zeros((4, 4, 2), np.uint8), [0])),
])
def test_tile_pixels_fails_on_a_corrupted_tile(corrupt):
    tiles, payloads = _tiles(2)
    corrupt(tiles, payloads)
    assert checks.tile_pixels(tiles, payloads, 8, 2) == ["pixels"]


def _joins_ref():
    knn = {(9, 1): (1, 0.1), (9, 2): (2, 0.2), (8, 1): (3, 0.05)}
    return {"pip": {(1, 1), (2, 1), (3, 2)}, "knn": knn, "knn_ring": dict(knn),
            "dedup": 4, "similarity": 20}


def test_ring_knn_misses_a_nearer_point_outside_the_ring():
    """zoom 3 cells are 45 degrees wide.  Five points sit one cell west of
    the probe (ring 1, 89 degrees away); one sits two cells east (ring 2,
    45 degrees away).  Ring 1 already holds k=5 points, so the documented
    answer never sees the nearer point."""
    ids = [10, 11, 12, 13, 14, 99]
    lons = [-89.0, -89.1, -89.2, -89.3, -89.4, 45.1]
    lats = [0.0] * 6
    ring = checks.ring_knn(([1], [-0.1], [0.0]), (ids, lons, lats), 5, 3, (1, 2, 4))
    assert [ring[(1, r)][0] for r in range(1, 6)] == [10, 11, 12, 13, 14]
    assert ring[(1, 1)][1] == pytest.approx(88.9)
    exact = {(1, 1): (99, 45.2), **{(1, r): ring[(1, r - 1)] for r in range(2, 6)}}
    # the join's answer is accepted either way; the gap to exact is counted
    assert checks.knn_rows(ring, exact, ring) == (True, 5)
    assert checks.knn_rows(exact, exact, ring) == (True, 0)


def test_joins_pass_and_count_inexact_knn_rows():
    ref = _joins_ref()
    assert checks.joins(_joins_ref(), ref) == ([], 0)
    # the documented ring answer differs from exact at rank 2
    ref["knn_ring"][(9, 2)] = (5, 0.25)
    got = _joins_ref()
    got["knn"][(9, 2)] = (5, 0.25)
    assert checks.joins(got, ref) == ([], 1)


@pytest.mark.parametrize("name, corrupt", [
    ("pip", lambda g: g["pip"].discard((3, 2))),
    ("knn", lambda g: g["knn"].pop((8, 1))),
    ("knn", lambda g: g["knn"].__setitem__((9, 1), (1, 0.01))),
    ("knn", lambda g: g["knn"].__setitem__((9, 2), (7, 0.2))),
    ("dedup", lambda g: g.__setitem__("dedup", 5)),
    ("similarity", lambda g: g.__setitem__("similarity", 19)),
])
def test_joins_fail_on_each_corruption(name, corrupt):
    got = _joins_ref()
    corrupt(got)
    failed, _miss = checks.joins(got, _joins_ref())
    assert failed == [name]


def test_result_needs_output():
    assert checks.Result(3, 10.0, []).ok
    assert not checks.Result(0, 0.0, []).ok
    assert not checks.Result(3, 10.0, ["digest"]).ok


# ------------------------------------------------------------ metric names

def test_benchmark_json_lists_every_metric_the_runner_prints():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)


# ------------------------------------------------------------ seeded inputs

def test_seed_helpers_are_deterministic():
    import workloads as wk

    assert wk.corpus_offset(11) == wk.corpus_offset(11)
    assert wk.corpus_offset(11) % 60 == 0
    assert {wk.corpus_offset(s) for s in range(20)} != {wk.corpus_offset(0)}
    a, b = wk.seeded_polygons(5), wk.seeded_polygons(5)
    for p, q in zip(a, b):
        for (x1, y1), (x2, y2) in zip(p["rings"], q["rings"]):
            assert (x1 == x2).all() and (y1 == y2).all()
    assert not (a[0]["rings"][0][0] == wk.seeded_polygons(6)[0]["rings"][0][0]).all()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run.pin_env(work)
    session = run.Session(work)
    yield session.start()
    session.shutdown()


def _table(path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return t.sort_by([(c, "ascending") for c in t.column_names
                      if c in ("doc_id", "probe_id", "vec_id", "block_x", "block_y")]).to_pylist()


@pytest.mark.parametrize("name, files", [
    ("raster_tiler", ["blocks"]),
    ("spatial_joins", ["corpus", "probes", "embeddings.parquet"]),
])
def test_same_seed_gives_identical_inputs(spark, tmp_path, name, files):
    import workloads as wk

    made = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        wl = wk.WORKLOADS[name](str(tmp_path / tag), seed)
        wl.setup_inputs(spark)
        made[tag] = [_table(str(tmp_path / tag / f)) for f in files]
    assert made["a"] == made["b"]
    assert made["a"] != made["c"]
