"""Seeded benchmark inputs, written with numpy/pyarrow only.

Nothing here imports the package under test: the program receives only
the files this module writes.  Each input kind is cached per seed under
``<cache>/inputs/seed-<n>/<kind>`` and reused, so every run and every
commit with the same seed reads identical bytes.  Only the most recent
few seeds stay cached, which bounds the disk the cache uses.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# raster cell table: BANDS daily bands of GRID x GRID cells
GRID = 512
BANDS = 8
NULL_SHARE = 0.05
DAY0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000

POINTS = 300_000
CATEGORIES = 16
ZONES = 2000
DOCS = 2_500
DOC_WORDS = 120
VOCAB = 5000
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EDITS = 3
SMALL_DOCS = 250        # warm-up corpus: same plan shape, little work

KEEP_SEEDS = 4


def _raster(rng, path):
    yy, xx = np.meshgrid(np.arange(GRID), np.arange(GRID), indexing="ij")
    cube = np.empty((BANDS, GRID, GRID))
    for b in range(BANDS):
        field = (np.sin(xx / rng.uniform(20, 60) + b)
                 + np.cos(yy / rng.uniform(20, 60)) * 2.0
                 + rng.normal(0.0, 0.25, (GRID, GRID))) * 10.0
        field[rng.random((GRID, GRID)) < NULL_SHARE] = np.nan
        cube[b] = field
    n = GRID * GRID
    times = np.repeat(DAY0 + np.arange(BANDS) * np.timedelta64(1, "D"), n)
    table = pa.table({
        "time": pa.array(times, pa.timestamp("us")),
        "y": np.tile(yy.ravel(), BANDS).astype("int64"),
        "x": np.tile(xx.ravel(), BANDS).astype("int64"),
        "value": pa.array(cube.ravel(), pa.float64(), from_pandas=True),
    })
    # sorted by (time, y, x): a row group holds a y-band of one day, so
    # bbox and time predicates prune row groups
    pq.write_table(table, path, row_group_size=GRID * 128)
    return {"cells": int(table.num_rows),
            "null_cells": int(np.isnan(cube).sum())}


def _points(rng, path):
    y = np.sort(rng.uniform(0, GRID, POINTS))   # clustered by y-band
    table = pa.table({
        "id": rng.permutation(POINTS).astype("int64"),
        "x": rng.uniform(0, GRID, POINTS),
        "y": y,
        "category": rng.integers(0, CATEGORIES, POINTS).astype("int64"),
        "value": rng.normal(0.0, 10.0, POINTS),
        "ts": pa.array(DAY0 + rng.integers(0, BANDS * DAY_US, POINTS)
                       .astype("timedelta64[us]"), pa.timestamp("us")),
    })
    pq.write_table(table, path, row_group_size=16_384)
    return {"rows": POINTS}


def _zones(rng, path):
    w = rng.integers(4, 40, ZONES)
    h = rng.integers(4, 40, ZONES)
    x0 = rng.integers(0, GRID - w)
    y0 = rng.integers(0, GRID - h)
    table = pa.table({
        "id": np.arange(ZONES, dtype="int64"),
        "xmin": x0.astype("float64"), "ymin": y0.astype("float64"),
        "xmax": (x0 + w - 1).astype("float64"),
        "ymax": (y0 + h - 1).astype("float64"),
    })
    pq.write_table(table, path)
    return {"rows": ZONES}


def _docs(rng, path, small_path, pairs_path):
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    words = rng.choice(VOCAB, size=(DOCS, DOC_WORDS), p=p / p.sum())
    # planted near-duplicates: a copy of an earlier original with a few
    # word substitutions; originals are never copies themselves
    planted = np.sort(rng.choice(np.arange(1, DOCS),
                                 int(DOCS * NEAR_DUP_SHARE), replace=False))
    is_copy = np.zeros(DOCS, bool)
    is_copy[planted] = True
    pairs = []
    for i in planted:
        originals = np.flatnonzero(~is_copy[:i])
        j = int(originals[rng.integers(0, len(originals))])
        row = words[j].copy()
        row[rng.integers(0, DOC_WORDS, NEAR_DUP_EDITS)] = rng.integers(
            0, VOCAB, NEAR_DUP_EDITS)
        words[i] = row
        pairs.append((j, int(i)))
    vocab = np.array(["w{}".format(k) for k in range(VOCAB)])
    text = [" ".join(vocab[r]) for r in words]
    ids = np.arange(DOCS, dtype="int64")
    pq.write_table(pa.table({"doc_id": ids, "text": text}), path)
    pq.write_table(pa.table({"doc_id": ids[:SMALL_DOCS],
                             "text": text[:SMALL_DOCS]}), small_path)
    with open(pairs_path, "w") as f:
        json.dump(pairs, f)
    return {"rows": DOCS, "planted_pairs": len(pairs),
            "words": DOCS * DOC_WORDS}


# kind -> (seed stream, generator, files it writes); every kind draws from
# its own seeded stream, so generating one kind never shifts another
_KINDS = {
    "raster": (1, _raster, ("raster.parquet",)),
    "points": (2, _points, ("points.parquet",)),
    "zones": (3, _zones, ("zones.parquet",)),
    "docs": (4, _docs, ("docs.parquet", "docs_small.parquet",
                        "planted_pairs.json")),
}


def _prune(root, keep):
    seeds = [os.path.join(root, d) for d in os.listdir(root)
             if d.startswith("seed-")]
    seeds.sort(key=os.path.getmtime, reverse=True)
    for old in seeds[KEEP_SEEDS:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def ensure(cache, seed, kinds):
    """Return ``{kind: {"paths": [...], "sizes": {...}}}`` for ``kinds``
    at ``seed``, generating missing kinds into the cache."""
    root = os.path.join(cache, "inputs")
    seed_dir = os.path.join(root, "seed-{}".format(seed))
    os.makedirs(seed_dir, exist_ok=True)
    out = {}
    for kind in kinds:
        stream, gen, files = _KINDS[kind]
        done = os.path.join(seed_dir, kind, "sizes.json")
        paths = [os.path.join(seed_dir, kind, f) for f in files]
        if not os.path.exists(done):
            tmp = os.path.join(seed_dir, kind + ".tmp{}".format(os.getpid()))
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            rng = np.random.default_rng([seed, stream])
            sizes = gen(rng, *[os.path.join(tmp, f) for f in files])
            sizes["bytes"] = sum(os.path.getsize(os.path.join(tmp, f))
                                 for f in files)
            with open(os.path.join(tmp, "sizes.json"), "w") as f:
                json.dump(sizes, f)
            shutil.rmtree(os.path.join(seed_dir, kind), ignore_errors=True)
            os.rename(tmp, os.path.join(seed_dir, kind))
        with open(done) as f:
            out[kind] = {"paths": paths, "sizes": json.load(f)}
    os.utime(seed_dir)
    _prune(root, seed_dir)
    return out
