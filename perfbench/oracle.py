"""Independent output checks: numpy/pyarrow recomputations of what each
benchmark request must return.  No code of the package under test is
used here; each check returns ``None`` when the output is right and a
one-line reason when it is not."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pyarrow.parquet as pq

from inputs import BANDS, DAY0, GRID

# published matplotlib "viridis" anchors (8-bit, evenly spaced) — the
# colormap a WMS client asks for with styles=viridis
VIRIDIS = np.array([(68, 1, 84), (71, 44, 122), (59, 81, 139),
                    (44, 113, 142), (33, 144, 141), (39, 173, 129),
                    (92, 200, 99), (170, 220, 50), (253, 231, 37)], float)


def load_cube(path):
    """The raster input as a ``(BANDS, GRID, GRID)`` array, NaN = no data."""
    t = pq.read_table(path)
    cube = np.full((BANDS, GRID, GRID), np.nan)
    band = ((t["time"].to_numpy().astype("datetime64[us]") - DAY0)
            // np.timedelta64(1, "D")).astype(int)
    cube[band, t["y"].to_numpy(), t["x"].to_numpy()] = (
        t["value"].to_numpy(zero_copy_only=False))
    return cube


def load_points(path):
    t = pq.read_table(path)
    cols = {c: t[c].to_numpy() for c in ("id", "x", "y", "category",
                                         "value")}
    cols["ts"] = t["ts"].to_numpy().astype("datetime64[us]").astype(
        "int64")
    return cols


# ------------------------------------------------------------------ PNG
def _unfilter(raw, width, height, bpp=4):
    stride = width * bpp
    out = np.zeros((height, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int32)
        pos += stride + 1
        if ftype == 0:
            cur = line
        elif ftype == 2:
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):
            cur = np.zeros(stride, np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c)
                cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError("bad PNG filter type {}".format(ftype))
        out[y] = cur
        prev = cur
    return out.reshape(height, width, bpp)


def decode_png_rgba(png):
    """(height, width, 4) uint8 array of an 8-bit RGBA PNG."""
    if png[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(png):
        (length,) = struct.unpack_from(">I", png, pos)
        typ = png[pos + 4:pos + 8]
        data = png[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack_from(">I", png, pos + 8 + length)
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError("bad CRC in {!r} chunk".format(typ))
        pos += 12 + length
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or ihdr[2:] != (8, 6, 0, 0, 0):
        raise ValueError("IHDR is not 8-bit RGBA non-interlaced: {}"
                         .format(ihdr))
    width, height = ihdr[0], ihdr[1]
    return _unfilter(zlib.decompress(b"".join(idat)), width, height)


# ----------------------------------------------------------------- checks
def expected_tile(cube, scale, bbox, size, start_band, vmin, vmax):
    """Nearest-sample of the latest non-null band per pixel, then the
    linear colormap: returns (alpha mask, rgb array)."""
    x1, y1, x2, y2 = bbox
    centers = (np.arange(size) + 0.5)
    sx = np.floor(np.round(x1 + centers * ((x2 - x1) / size), 6)).astype(int)
    sy = np.floor(np.round(y1 + centers * ((y2 - y1) / size), 6)).astype(int)
    inside_x = (sx >= 0) & (sx < GRID)
    inside_y = (sy >= 0) & (sy < GRID)
    window = cube[start_band:][:, np.clip(sy, 0, GRID - 1)][
        :, :, np.clip(sx, 0, GRID - 1)] * scale
    value = np.full((size, size), np.nan)
    for band in window:           # later bands overwrite earlier ones
        value = np.where(np.isnan(band), value, band)
    value[~inside_y, :] = np.nan
    value[:, ~inside_x] = np.nan
    alpha = ~np.isnan(value)
    t = np.clip((value - vmin) / (vmax - vmin), 0.0, 1.0)
    idx = np.nan_to_num(t) * (len(VIRIDIS) - 1)
    lo = np.floor(idx).astype(int)
    hi = np.minimum(lo + 1, len(VIRIDIS) - 1)
    frac = (idx - lo)[..., None]
    rgb = VIRIDIS[lo] * (1.0 - frac) + VIRIDIS[hi] * frac
    return alpha, rgb


def check_tile(png, expected):
    alpha, rgb = expected
    try:
        img = decode_png_rgba(png)
    except (ValueError, zlib.error, struct.error) as exc:
        return "tile PNG does not decode: {}".format(exc)
    if img.shape[:2] != alpha.shape:
        return "tile is {}x{}, expected {}x{}".format(
            img.shape[1], img.shape[0], alpha.shape[1], alpha.shape[0])
    got_alpha = img[..., 3]
    if not np.array_equal(got_alpha == 255, alpha) or \
            np.any((got_alpha != 0) & (got_alpha != 255)):
        return "tile alpha mask differs in {} pixels".format(
            int(np.sum((got_alpha == 255) != alpha)))
    diff = np.abs(img[..., :3].astype(float) - rgb)[alpha]
    if diff.size and diff.max() > 1.0:
        return "tile RGB off by up to {:.0f}".format(diff.max())
    return None


def id_hash(ids):
    return hashlib.sha1(np.sort(np.asarray(ids, "int64")).tobytes()
                        ).hexdigest()


def check_features(rows, points, req):
    x1, y1, x2, y2 = req["geometry"]
    lo = np.datetime64(req["start"], "us").astype("int64")
    hi = np.datetime64(req["stop"], "us").astype("int64")
    mask = ((points["x"] >= x1) & (points["x"] <= x2)
            & (points["y"] >= y1) & (points["y"] <= y2)
            & np.isin(points["category"], req["filters"]["category__in"])
            & (points["ts"] >= lo) & (points["ts"] <= hi))
    want = points["id"][mask]
    got = np.array([r["id"] for r in rows], "int64")
    if len(got) != len(want) or id_hash(got) != id_hash(want):
        return "features: {} rows, expected {}".format(len(got), len(want))
    by_id = dict(zip(want.tolist(), (points["value"][mask] * 2.0 + 1.0)
                     .tolist()))
    if any(r["scaled"] != by_id[r["id"]] for r in rows):
        return "features: scaled column differs"
    return None


def check_zonal(rows, cube, scale, zones, b0, b1):
    if len(rows) != len(zones):
        return "zonal: {} rows, expected {}".format(len(rows), len(zones))
    for r in rows:
        xmin, ymin, xmax, ymax = zones[r["id"]]
        cells = cube[b0:b1 + 1, ymin:ymax + 1, xmin:xmax + 1] * scale
        cells = cells[~np.isnan(cells)]
        if r["count"] != cells.size or r["max"] != cells.max():
            return "zonal: zone {} count/max differ".format(r["id"])
        mean = cells.mean()
        if abs(r["mean"] - mean) > 1e-9 * abs(mean):
            return "zonal: zone {} mean {} != {}".format(
                r["id"], r["mean"], mean)
    return None


def check_readback(rows, cube, scale, band, bbox):
    x1, y1, x2, y2 = bbox
    want = cube[band, y1:y2 + 1, x1:x2 + 1] * scale
    got = np.full_like(want, np.nan)
    for r in rows:
        if r["value"] is not None:
            got[r["y"] - y1, r["x"] - x1] = r["value"]
    if len(rows) != want.size or not np.array_equal(got, want,
                                                    equal_nan=True):
        return "readback: window differs ({} rows, expected {})".format(
            len(rows), want.size)
    return None


def shingles(text, n=3):
    words = text.lower().split()
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def check_dedup(pairs, texts, planted, rng, sample=300, recall_floor=0.95):
    """``pairs``: (id_a, id_b, jaccard) rows.  Every sampled jaccard must
    equal the exact word-3-gram set Jaccard ``i / u``.  The program
    hashes shingles to 31 bits, so one hash collision inside a pair is
    also accepted: it merges two shingles of the union, giving
    ``i / (u - 1)`` or ``(i + 1) / (u - 1)``."""
    if any(a >= b for a, b, _ in pairs):
        return "dedup: pair not ordered id_a < id_b"
    if len(set((a, b) for a, b, _ in pairs)) != len(pairs):
        return "dedup: duplicate pairs"
    pick = rng.choice(len(pairs), min(sample, len(pairs)), replace=False)
    for k in pick:
        a, b, jac = pairs[k]
        sa, sb = shingles(texts[a]), shingles(texts[b])
        i, u = len(sa & sb), len(sa | sb)
        allowed = [i / u] + ([i / (u - 1), (i + 1) / (u - 1)] if u > 1
                             else [])
        if all(abs(jac - v) > 1e-12 for v in allowed):
            return "dedup: jaccard({}, {}) = {} != {}".format(a, b, jac,
                                                              i / u)
    found = set((a, b) for a, b, _ in pairs)
    recall = sum(1 for p in planted if tuple(p) in found) / len(planted)
    if recall < recall_floor:
        return "dedup: planted near-duplicate recall {:.3f} < {}".format(
            recall, recall_floor)
    return None
