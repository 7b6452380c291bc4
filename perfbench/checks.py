"""Output checks for one timed run.

Pure Python over what the workload read back from the run's committed
output, so each check tests without Spark.  ``tile_store``, ``tile_pixels``,
``refresh`` and ``joins`` return the names of the checks that failed; an
empty list passes.
"""

from __future__ import annotations

import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
PNG_BANDS = {0: 1, 4: 2, 2: 3, 6: 4}    # colour type -> samples per pixel


class Result:
    """Outcome of checking one run: output rows, sink bytes per output row,
    the failed check names, and per-layer values found while checking."""

    def __init__(self, units: int, bytes_per_row: float, failed: list[str],
                 layers: dict | None = None):
        self.units = units
        self.bytes_per_row = bytes_per_row
        self.failed = failed
        self.layers = layers or {}

    @property
    def ok(self) -> bool:
        return not self.failed and self.units > 0


def closure(keys: dict) -> bool:
    """Pyramid closure: every zoom's key set {(x, y)} is exactly the parents
    of the next finer zoom's keys, over a contiguous zoom range."""
    zooms = sorted(keys)
    if not zooms or zooms != list(range(zooms[0], zooms[-1] + 1)):
        return False
    return all(keys[z] == {(x >> 1, y >> 1) for x, y in keys[z + 1]} for z in zooms[:-1])


def tile_store(digest: dict, keys: dict, returned: dict, expected: dict,
               ref_digest: dict | None = None) -> list[str]:
    """The encoded store of a pyramid build.

    ``digest``: {zoom: (tiles, content hash)} read back from the store;
    ``keys``: {zoom: {(x, y)}}; ``returned``: the per-level counts the call
    returned; ``expected``: tiles per zoom computed independently of the
    package; ``ref_digest``: the store of a reference run, when there is one.
    """
    failed = []
    if {z: n for z, (n, _h) in digest.items()} != expected:
        failed.append("counts")
    if returned != expected:
        failed.append("returned")
    if not closure(keys):
        failed.append("closure")
    if ref_digest is not None and digest != ref_digest:
        failed.append("digest")
    return failed


def png_scanlines(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """(height, width, bands, filtered scanlines) of an 8-bit,
    non-interlaced PNG; the scanlines are (height, 1 + width * bands) u8.
    Written for the checks, independently of the package's codecs."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, head = 8, [], None
    while pos + 8 <= len(data):
        length = int.from_bytes(data[pos:pos + 4], "big")
        tag, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            head = body
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if head is None:
        raise ValueError("no IHDR")
    w, h = int.from_bytes(head[0:4], "big"), int.from_bytes(head[4:8], "big")
    depth, colour, interlace = head[8], head[9], head[12]
    if depth != 8 or interlace or colour not in PNG_BANDS:
        raise ValueError("unsupported PNG layout")
    bands = PNG_BANDS[colour]
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    return h, w, bands, raw.reshape(h, 1 + w * bands)


def png_unfilter(raw: np.ndarray, bands: int) -> np.ndarray:
    """Undo the PNG scanline filters (None, Sub, Up, Average, Paeth) of a
    batch of same-shape images: (n, h, 1 + w * bands) -> (n, h, w, bands)."""
    n, h, stride = raw.shape
    w = (stride - 1) // bands
    out = np.empty((n, h, w, bands), np.uint8)
    prev = np.zeros((n, w, bands), np.int32)
    for r in range(h):
        ft = raw[:, r, 0]
        if (ft > 4).any():
            raise ValueError("unknown PNG filter")
        line = raw[:, r, 1:].reshape(n, w, bands).astype(np.int32)
        cur = np.where((ft == 2)[:, None, None], line + prev, line)
        sub = ft == 1
        if sub.any():
            cur[sub] = np.cumsum(line[sub], axis=1)
        seq = np.nonzero(ft >= 3)[0]
        if len(seq):
            # Average and Paeth predict from the decoded left pixel: one
            # pixel column at a time, over every image that uses them
            ln, up = line[seq], prev[seq]
            avg = (ft[seq] == 3)[:, None]
            left = np.zeros((len(seq), bands), np.int32)
            upleft = np.zeros_like(left)
            row = np.empty_like(ln)
            for i in range(w):
                above = up[:, i]
                p = left + above - upleft
                pa, pb, pc = np.abs(p - left), np.abs(p - above), np.abs(p - upleft)
                paeth = np.where((pa <= pb) & (pa <= pc), left,
                                 np.where(pb <= pc, above, upleft))
                left = (ln[:, i] + np.where(avg, (left + above) >> 1, paeth)) & 0xFF
                row[:, i] = left
                upleft = above
            cur[seq] = row
        prev = cur & 0xFF
        out[:, r] = prev
    return out


def tile_pixels(tiles: dict, payloads: dict, tile: int, bands: int) -> list[str]:
    """The encoded store holds the pyramid's pixels.

    ``tiles``: {key: PNG bytes} read back from the store; ``payloads``:
    {key: raw (tile, tile, bands) u8 bytes} of the committed pyramid the
    store was encoded from.  Fails when the key sets differ or any decoded
    tile differs from its payload in a single sample."""
    if tiles.keys() != payloads.keys():
        return ["pixels"]
    keys = sorted(tiles)
    if not keys:
        return []
    try:
        heads = [png_scanlines(tiles[k]) for k in keys]
        if any(hd[:3] != (tile, tile, bands) for hd in heads):
            return ["pixels"]
        got = png_unfilter(np.stack([hd[3] for hd in heads]), bands)
        want = np.stack([np.frombuffer(payloads[k], np.uint8).reshape(tile, tile, bands)
                         for k in keys])
    except (TypeError, ValueError, zlib.error):
        return ["pixels"]
    return [] if np.array_equal(got, want) else ["pixels"]


def refresh(pyramid: dict, full_rebuild: dict, dirty: dict) -> list[str]:
    """An incrementally refreshed pyramid ({zoom: (tiles, content hash)})
    equals a full rebuild over all points, and every level had dirty tiles."""
    failed = []
    if pyramid != full_rebuild:
        failed.append("refresh")
    if any(dirty.get(z, 0) <= 0 for z in full_rebuild):
        failed.append("dirty")
    return failed


def ring_knn(probes: tuple, points: tuple, k: int, zoom: int, rings: tuple) -> dict:
    """The answer ``knn.knn_join`` documents, computed with numpy: each probe
    takes the points of the smallest Chebyshev ring of zoom-``zoom`` cells
    around its own cell that holds at least ``k`` points (the widest ring
    when none does), and keeps the ``k`` nearest of them by the join's
    equirectangular distance, ties by point id.

    ``probes``/``points``: (ids, lon, lat) arrays.  Returns
    {(probe, rank): (point, dist)}."""
    def cells(lon, lat):
        n = float(1 << zoom)
        t = np.tan(np.radians(lat))
        tx = np.floor((lon + 180.0) / 360.0 * n)
        ty = np.floor((1.0 - np.log(t + np.sqrt(t * t + 1.0)) / np.pi) / 2.0 * n)
        return np.clip(tx, 0, n - 1), np.clip(ty, 0, n - 1)

    qid, qlon, qlat = (np.asarray(a) for a in points)
    qx, qy = cells(qlon, qlat)
    px, py = cells(np.asarray(probes[1]), np.asarray(probes[2]))
    out = {}
    for pid, plon, plat, cx, cy in zip(probes[0], probes[1], probes[2], px, py):
        ring = np.maximum(np.abs(qx - cx), np.abs(qy - cy))
        chosen = next((r for r in rings[:-1] if (ring <= r).sum() >= k), rings[-1])
        cand = np.nonzero(ring <= chosen)[0]
        coslat = np.cos(np.radians((plat + qlat[cand]) / 2.0))
        dist = np.sqrt(((plon - qlon[cand]) * coslat) ** 2 + (plat - qlat[cand]) ** 2)
        order = np.lexsort((qid[cand], dist))[:k]
        for rank, i in enumerate(order, start=1):
            out[(int(pid), rank)] = (int(qid[cand][i]), float(dist[i]))
    return out


def knn_rows(got: dict, exact: dict, ring: dict, tol: float = 1e-9) -> tuple[bool, int]:
    """kNN rows against two answers computed on the driver, each given as
    {(probe, rank): (point, dist)}: the exact one (brute force) and the one
    ``knn.knn_join`` documents (``ring_knn``).

    Passes when, probe by probe, the rows name the points of either answer
    rank for rank, at the same distances.  The documented answer can miss a
    nearer point just outside the chosen ring, so it may differ from the
    exact one; the second value counts the rows that differ from exact."""
    if got.keys() != exact.keys():
        return False, len(got.keys() ^ exact.keys())
    miss = sum(1 for key in exact if got[key][0] != exact[key][0])
    by_probe: dict = {}
    for key in got:
        by_probe.setdefault(key[0], []).append(key)

    def same(keys, ref):
        return all(key in ref and got[key][0] == ref[key][0]
                   and abs(got[key][1] - ref[key][1]) <= tol for key in keys)

    ok = all(same(keys, exact) or same(keys, ring) for keys in by_probe.values())
    return ok, miss


def joins(got: dict, ref: dict) -> tuple[list[str], int]:
    """The four join outputs against their references.

    ``got``/``ref`` keys: ``pip`` {(point, polygon)}, ``knn``
    {(probe, rank): (point, dist)}, ``dedup`` and ``similarity`` row counts;
    ``ref`` also holds ``knn_ring``, the answer ``knn.knn_join`` documents.
    Returns the failed names and the kNN rows that differ from exact."""
    failed = []
    if got["pip"] != ref["pip"]:
        failed.append("pip")
    knn_ok, miss = knn_rows(got["knn"], ref["knn"], ref["knn_ring"])
    if not knn_ok:
        failed.append("knn")
    for name in ("dedup", "similarity"):
        if got[name] != ref[name]:
            failed.append(name)
    return failed, miss
