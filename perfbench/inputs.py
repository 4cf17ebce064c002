"""Seeded benchmark inputs.

Every input row comes from the per-index fixture generators
(``fixtures.caption_of`` / ``fixtures.point_lonlat``); the seed only picks
which row-index window they are evaluated on, so the same seed always gives
the same rows and different seeds give statistically identical worlds (30 %
of points in the fixtures' hot disc). Inputs are written once per seed as
parquet into the cache directory; generating them is never timed.

Pixel payloads are left out (``bytes`` is absent): encoding one costs ~2.5 ms
per row in pure Python and no measured layer reads them.

Next to each program input sits a ``truth`` parquet with the geotag each
caption encodes (parsed back from the caption text, so exactly the value the
program sees). Only the output checks read it; the program never does.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pgosm_flex_spark import fixtures

# Disjoint index windows: kNN features live below FEATURE_END, the fixed
# append base in [BASE_START, BASE_START + 2^23), and seed s owns
# [(s mod 2^15 + 1)·2^24, … + 2^24). Ids stay below 10^12, so the fixtures'
# 12-digit image ids keep their width.
FEATURE_END = 1 << 20
BASE_START = 1 << 23
_SEED_STRIDE = 1 << 24
_SEED_MOD = 1 << 15

# part files per table: enough splits that a parquet scan keeps every core busy
_PARTS = 8


def window_start(seed: int) -> int:
    return (seed % _SEED_MOD + 1) * _SEED_STRIDE


def _image_rows(ids) -> dict[str, list]:
    cols: dict[str, list] = {k: [] for k in ("image_id", "w", "h", "fmt", "caption")}
    truth: dict[str, list] = {"image_id": [], "lon": [], "lat": []}
    for i in ids:
        image_id = f"img{i:012d}"
        caption = fixtures.caption_of(i)
        h, w = fixtures.image_dims(i)
        cols["image_id"].append(image_id)
        cols["w"].append(w)
        cols["h"].append(h)
        cols["fmt"].append(fixtures.image_fmt(i))
        cols["caption"].append(caption)
        lon, lat = caption.split(" ", 2)[:2]
        truth["image_id"].append(image_id)
        truth["lon"].append(float(lon[len("lon="):]))
        truth["lat"].append(float(lat[len("lat="):]))
    return {"images": cols, "truth": truth}


def _write_parts(table: pa.Table, out_dir: str, prefix: str, parts: int = _PARTS) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        chunk = table.slice(p * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(out_dir, f"{prefix}-{p:03d}.parquet"))


def _write_images(ids, out_dir: str, truth_path: str, prefix: str = "part") -> int:
    rows = _image_rows(ids)
    _write_parts(pa.table(rows["images"]), out_dir, prefix)
    pq.write_table(pa.table(rows["truth"]), truth_path)
    return len(rows["truth"]["image_id"])


def hot_share(lon: np.ndarray, lat: np.ndarray) -> float:
    """Share of points inside the fixtures' hot disc."""
    cx, cy = fixtures.HOT_CENTER
    r = np.hypot(np.asarray(lon) - cx, np.asarray(lat) - cy)
    return float(np.mean(r <= fixtures.HOT_RADIUS + 1e-7))


def _done(d: str) -> dict | None:
    meta = os.path.join(d, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    return None


def _finish(d: str, meta: dict) -> dict:
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def features(cache: str, n: int) -> dict:
    """kNN feature points (feat_id, lon, lat): a fixed window, all seeds."""
    d = os.path.join(cache, f"features-{n}")
    meta = _done(d)
    if meta:
        return meta
    ids = range(n)
    ll = np.array([fixtures.point_lonlat(i) for i in ids])
    table = pa.table({
        "feat_id": [f"feat{i:07d}" for i in ids],
        "lon": ll[:, 0], "lat": ll[:, 1],
    })
    _write_parts(table, os.path.join(d, "data"), "part", parts=1)
    return _finish(d, {"dir": os.path.join(d, "data"), "rows": n,
                       "hot_share": hot_share(ll[:, 0], ll[:, 1])})


def images(cache: str, seed: int, n: int) -> dict:
    """``n`` caption rows from the seed's index window."""
    d = os.path.join(cache, f"images-{n}-seed{seed}")
    meta = _done(d)
    if meta:
        return meta
    start = window_start(seed)
    truth = os.path.join(d, "truth.parquet")
    rows = _write_images(range(start, start + n), os.path.join(d, "data"), truth)
    t = pq.read_table(truth)
    return _finish(d, {
        "dir": os.path.join(d, "data"), "truth": truth, "rows": rows,
        "window_start": start,
        "hot_share": hot_share(t["lon"].to_numpy(), t["lat"].to_numpy()),
    })


def append_inputs(cache: str, seed: int, base_rows: int, diff_rows: int) -> dict:
    """A fixed base (all seeds) plus a seed-chosen diff of new images whose
    geotags all sit in the hot disc, so the diff touches few unit cells.

    ``input`` holds base ∪ diff (what the append job reads), ``diff`` the
    diff alone."""
    base_dir = os.path.join(cache, f"append-base-{base_rows}")
    base = _done(base_dir)
    if not base:
        truth = os.path.join(base_dir, "truth.parquet")
        _write_images(
            range(BASE_START, BASE_START + base_rows),
            os.path.join(base_dir, "data"), truth, prefix="base",
        )
        t = pq.read_table(truth)
        base = _finish(base_dir, {
            "dir": os.path.join(base_dir, "data"), "truth": truth,
            "rows": base_rows,
            "hot_share": hot_share(t["lon"].to_numpy(), t["lat"].to_numpy()),
        })
    d = os.path.join(cache, f"append-diff-{base_rows}-{diff_rows}-seed{seed}")
    meta = _done(d)
    if meta:
        return meta
    cx, cy = fixtures.HOT_CENTER
    ids, i = [], window_start(seed)
    while len(ids) < diff_rows:
        lon, lat = fixtures.point_lonlat(i)
        if np.hypot(lon - cx, lat - cy) <= fixtures.HOT_RADIUS:
            ids.append(i)
        i += 1
    diff_dir = os.path.join(d, "diff")
    truth = os.path.join(d, "truth.parquet")
    _write_images(ids, diff_dir, truth, prefix="diff")
    input_dir = os.path.join(d, "input")
    os.makedirs(input_dir, exist_ok=True)
    for src in (base["dir"], diff_dir):
        for name in sorted(os.listdir(src)):
            with open(os.path.join(src, name), "rb") as fi, open(
                os.path.join(input_dir, name), "wb"
            ) as fo:
                fo.write(fi.read())
    t = pq.read_table(truth)
    return _finish(d, {
        "base": base, "input": input_dir, "diff": diff_dir, "truth": truth,
        "rows": base_rows + diff_rows, "diff_rows": diff_rows,
        "window_start": window_start(seed),
        "hot_share": hot_share(t["lon"].to_numpy(), t["lat"].to_numpy()),
    })
